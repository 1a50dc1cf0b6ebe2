package graft

import java.sql.DriverManager

import graft.streaming.Sinks

/** JDBC sink flows against a real database — the embedded Derby that ships
  * with Spark. Append and overwrite go through Spark's JDBC writer; upsert
  * exercises the stage-then-merge flow (AnsiMerge dialect here; the
  * reference-parity PostgresOnConflict emits the same flow with ON CONFLICT
  * syntax). */
class JdbcSinkSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftdb;create=true"

  private def query[A](sql: String)(f: java.sql.ResultSet => A): A = {
    val conn = DriverManager.getConnection(url)
    try f(conn.createStatement().executeQuery(sql)) finally conn.close()
  }

  test("append sink accumulates batches; overwrite sink replaces") {
    val sink = Sinks.Jdbc(url, "", "")
    val b1 = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    val b2 = Seq((3L, 30.0)).toDF("id", "v")
    // Spark JDBC append requires the table to exist or creates it
    b1.limit(0).write.mode("overwrite").jdbc(url, "audit", new java.util.Properties())
    sink.append("audit")(b1, 0L)
    sink.append("audit")(b2, 1L)
    assert(query("SELECT count(*) FROM audit") { rs => rs.next(); rs.getLong(1) } == 3)

    sink.overwrite("dash")(b1, 0L)
    sink.overwrite("dash")(b2, 1L)
    assert(query("SELECT count(*) FROM dash") { rs => rs.next(); rs.getLong(1) } == 1)
  }

  test("upsert sink: replayed and updated batches converge by primary key") {
    val sink = Sinks.Jdbc(url, "", "", dialect = Sinks.AnsiMerge)
    val conn = DriverManager.getConnection(url)
    try conn.createStatement().execute(
      "CREATE TABLE sessions (id BIGINT PRIMARY KEY, v DOUBLE)")
    catch { case _: java.sql.SQLException => () } // exists from prior run
    finally conn.close()
    val b1 = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    sink.upsert("sessions", "id", Seq("v"))(b1, 0L)
    sink.upsert("sessions", "id", Seq("v"))(b1, 1L) // replay: idempotent
    val b2 = Seq((2L, 25.0), (3L, 30.0)).toDF("id", "v")
    sink.upsert("sessions", "id", Seq("v"))(b2, 2L)
    val rows = query("SELECT id, v FROM sessions ORDER BY id") { rs =>
      val b = Seq.newBuilder[(Long, Double)]
      while (rs.next()) b += (rs.getLong(1) -> rs.getDouble(2))
      b.result()
    }
    assert(rows == Seq(1L -> 10.0, 2L -> 25.0, 3L -> 30.0))
  }

  test("an empty batch writes nothing through any sink, and no sink leaves it cached") {
    val sink = Sinks.Jdbc(url, "", "", dialect = Sinks.AnsiMerge)
    val rows = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    val empty = rows.limit(0)
    def count(table: String) = query(s"SELECT count(*) FROM $table") { rs => rs.next(); rs.getLong(1) }
    def tableExists(name: String) = {
      val conn = DriverManager.getConnection(url)
      try conn.getMetaData.getTables(null, null, name.toUpperCase, null).next()
      finally conn.close()
    }
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet

    empty.write.mode("overwrite").jdbc(url, "empty_audit", new java.util.Properties())
    sink.append("empty_audit")(empty, 0L)
    assert(count("empty_audit") == 0)

    val conn = DriverManager.getConnection(url)
    try conn.createStatement().execute("CREATE TABLE empty_sessions (id BIGINT PRIMARY KEY, v DOUBLE)")
    finally conn.close()
    sink.upsert("empty_sessions", "id", Seq("v"))(empty, 5L)
    assert(count("empty_sessions") == 0)
    assert(!tableExists("empty_sessions_staging_5"), "an empty upsert must not stage")

    // an empty trigger neither creates nor wipes the dashboard
    sink.overwrite("empty_dash")(empty, 0L)
    assert(!tableExists("empty_dash"))
    sink.overwrite("empty_dash")(rows, 1L)
    sink.overwrite("empty_dash")(empty, 2L)
    assert(count("empty_dash") == 2)

    val dir = java.nio.file.Files.createTempDirectory("graft_empty").resolve("out")
    Sinks.parquetAppend(dir.toString)(empty, 0L)
    assert(!java.nio.file.Files.exists(dir), "an empty batch must not write parquet")

    // a write that throws still releases the batch's cache
    intercept[java.sql.SQLException] {
      sink.upsert("no_such_table", "id", Seq("v"))(rows, 9L)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore,
      "a sink left its batch cached")
  }

  test("Postgres dialect emits the reference's ON CONFLICT statement shape") {
    // Pins the untestable-offline dialect textually against the reference's
    // upsert (processor/streaming_processor.py:236-256): same column list,
    // same SELECT-from-staging shape, same ON CONFLICT (session_id) DO
    // UPDATE SET c = EXCLUDED.c list (all columns except the key/immutables).
    val cols = Seq("session_id", "user_id", "start_time", "end_time",
      "session_duration_seconds", "page_views", "add_to_cart_events",
      "purchases", "total_purchase_amount", "converted", "total_events",
      "created_at", "updated_at")
    val updateCols = Seq("end_time", "session_duration_seconds", "page_views",
      "add_to_cart_events", "purchases", "total_purchase_amount", "converted",
      "updated_at")
    val sql = Sinks.PostgresOnConflict.sql(
      "analytics.user_sessions", "user_sessions_staging_7", cols,
      "session_id", updateCols)
    val expected =
      """INSERT INTO analytics.user_sessions (session_id, user_id, start_time, end_time, session_duration_seconds, page_views, add_to_cart_events, purchases, total_purchase_amount, converted, total_events, created_at, updated_at)
        |SELECT "session_id", "user_id", "start_time", "end_time", "session_duration_seconds", "page_views", "add_to_cart_events", "purchases", "total_purchase_amount", "converted", "total_events", "created_at", "updated_at" FROM user_sessions_staging_7
        |ON CONFLICT (session_id) DO UPDATE SET end_time = EXCLUDED.end_time, session_duration_seconds = EXCLUDED.session_duration_seconds, page_views = EXCLUDED.page_views, add_to_cart_events = EXCLUDED.add_to_cart_events, purchases = EXCLUDED.purchases, total_purchase_amount = EXCLUDED.total_purchase_amount, converted = EXCLUDED.converted, updated_at = EXCLUDED.updated_at""".stripMargin
    assert(sql == expected, s"dialect drifted from the reference statement:\n$sql")
    assert(Sinks.PostgresOnConflict.dropTempSql("user_sessions_staging_7")
      == "DROP TABLE IF EXISTS user_sessions_staging_7")
  }
}
