package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.EventGenerator
import graft.streaming._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("watermark append-mode emits a window exactly when watermark reaches its end") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Long]
    val agg = mem.toDF().withColumn("event_time", timestamp_seconds(col("value")))
      .withWatermark("event_time", "600 seconds")
      .groupBy(window(col("event_time"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("n"))
    val q = agg.writeStream.format("memory").queryName("wm_probe").outputMode("append").start()
    try {
      mem.addData(4000L, 5000L) // window [3600, 7200)
      q.processAllAvailable()
      assert(spark.table("wm_probe").count() == 0) // watermark still below end
      mem.addData(7800L) // watermark -> 7800-600 = 7200 == window end
      q.processAllAvailable()
      val rows = spark.table("wm_probe").collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((3600L, 2L)))
    } finally q.stop()
  }

  test("chained join→agg: window emits only when the join-delayed watermark clears it") {
    // pins q_streaming_join_hourly's oracle boundary: after a stream-stream
    // interval join with a 1 h event-time range, the downstream window
    // aggregation sees an input watermark of global watermark − 3600, so a
    // purchase-hour window [w, w+3600) emits iff w + 3600 ≤ gw − 3600
    implicit val sq = spark.sqlContext
    val pm = MemoryStream[(Long, Long)] // (user, p_sec)
    val vm = MemoryStream[(Long, Long)] // (user, v_sec)
    val p = pm.toDF().toDF("p_user", "p_sec")
      .withColumn("p_time", timestamp_seconds(col("p_sec")))
      .withWatermark("p_time", "600 seconds")
    val v = vm.toDF().toDF("v_user", "v_sec")
      .withColumn("v_time", timestamp_seconds(col("v_sec")))
      .withWatermark("v_time", "600 seconds")
    val agg = p.join(v, expr(
        "v_user = p_user AND v_time >= p_time - INTERVAL 3600 SECONDS AND v_time <= p_time"))
      .groupBy(window(col("p_time"), "1 hour"))
      .agg(count(lit(1)).as("pairs"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("pairs"))
    val q = agg.writeStream.format("memory").queryName("chain_probe")
      .outputMode("append").start()
    try {
      pm.addData((1L, 5000L)); vm.addData((1L, 4900L)) // pair in [3600, 7200)
      q.processAllAvailable()
      assert(spark.table("chain_probe").count() == 0)
      // gw = 10700-600 = 10100 ≥ window end 7200, but the join's output
      // watermark is 10100-3600 = 6500 < 7200: must NOT emit yet (this is
      // the assertion that separates the −3600 rule from the naive one)
      pm.addData((2L, 10700L)); vm.addData((3L, 10700L))
      q.processAllAvailable()
      assert(spark.table("chain_probe").count() == 0,
        "window emitted before the join-delayed watermark cleared it")
      // gw = 11500-600 = 10900; 10900-3600 = 7300 ≥ 7200: emits now
      pm.addData((4L, 11500L)); vm.addData((5L, 11500L))
      q.processAllAvailable()
      val rows = spark.table("chain_probe").collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.toSet == Set((3600L, 1L)))
    } finally q.stop()
  }

  test("late event beyond the watermark does not change a closed window") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Long]
    val agg = mem.toDF().withColumn("event_time", timestamp_seconds(col("value")))
      .withWatermark("event_time", "600 seconds")
      .groupBy(window(col("event_time"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("ws"), col("n"))
    val q = agg.writeStream.format("memory").queryName("late_probe").outputMode("append").start()
    try {
      mem.addData(4000L); q.processAllAvailable()
      mem.addData(9000L); q.processAllAvailable() // closes [3600,7200)
      mem.addData(4100L); q.processAllAvailable() // late: below watermark, dropped
      val rows = spark.table("late_probe").where(col("ws") === 3600).collect()
      assert(rows.length == 1 && rows(0).getLong(1) == 1L)
    } finally q.stop()
  }

  test("parse repairs null/empty timestamps with the pinned clock") {
    val clock = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val wire = Seq(
      ("u1", """{"event_id":"e1","user_id":"u1","event_type":"page_view","timestamp":"2024-01-01T10:00:00Z"}"""),
      ("u2", """{"event_id":"e2","user_id":"u2","event_type":"purchase","purchase_amount":12.34,"timestamp":""}"""),
      ("u3", """{"event_id":"e3","user_id":"u3","event_type":"add_to_cart"}"""))
      .toDF("key", "value").withColumn("timestamp", lit(clock))
    val parsed = Parse.parse(wire, fixedClock = Some(clock)).collect()
      .map(r => r.getAs[String]("event_id") -> r.getAs[java.sql.Timestamp]("event_time")).toMap
    assert(parsed("e1") == java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T10:00:00Z")))
    assert(parsed("e2") == clock && parsed("e3") == clock)
  }

  test("4-query pipeline runs end-to-end on generated wire data") {
    implicit val sq = spark.sqlContext
    val gen  = new EventGenerator(seed = 7)
    val wire = gen.asWire(spark, 500).withColumn("timestamp", current_timestamp()).collect()
    val mem  = MemoryStream[(String, String, java.sql.Timestamp)]
    mem.addData(wire.map(r => (r.getString(0), r.getString(1),
      r.getAs[java.sql.Timestamp](2))).toSeq)
    val kafkaShaped = mem.toDF().toDF("key", "value", "timestamp")

    val results = scala.collection.concurrent.TrieMap[String, Long]()
    def sink(name: String): (DataFrame, Long) => Unit =
      (df, _) => results.updateWith(name) { prev => Some(prev.getOrElse(0L) + df.count()) }

    val ckpt = Files.createTempDirectory("graft_ckpt").toString
    val qs = ClickstreamPipeline.start(kafkaShaped,
      ClickstreamPipeline.SinkSet(sink("raw"), sink("sessions"), sink("hourly"), sink("dashboard")),
      ClickstreamPipeline.Config(ckpt,
        rawTrigger = Trigger.ProcessingTime(0), sessionTrigger = Trigger.ProcessingTime(0),
        hourlyTrigger = Trigger.ProcessingTime(0), dashboardTrigger = Trigger.ProcessingTime(0),
        fixedClock = Some(java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))))
    try {
      qs.foreach(_.processAllAvailable())
      assert(results("raw") > 400) // all generated events audited
      assert(results("sessions") > 0)
      assert(results("dashboard") == 4) // 4 KPI rows per batch
      // hourly is append-mode: windows may be open, so no row guarantee
    } finally qs.foreach(_.stop())
  }

  /** Polls `cond` until it holds or `timeoutMs` passes; returns whether
    * it held (micro-batch progress and no-data batches land
    * asynchronously to `processAllAvailable`). */
  private def await(timeoutMs: Long = 30000L)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
    cond
  }

  test("real sinks run each micro-batch once: session state rows equal the sessions offered") {
    // every sink skips empty batches; a probe that re-executed the batch
    // plan ran the stateful operator twice per batch and reported twice
    // the state rows (and read every source twice)
    implicit val sq = spark.sqlContext
    val clock = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val wire = new EventGenerator(seed = 5).asWire(spark, 600)
      .withColumn("timestamp", lit(clock)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[java.sql.Timestamp](2))).toSeq
    val offered = Parse.parse(wire.toDF("key", "value", "timestamp"))
    val sessionsOffered = offered.select("session_id").distinct().count()
    val mem = MemoryStream[(String, String, java.sql.Timestamp)]
    mem.addData(wire)

    val url = "jdbc:derby:memory:graft_pipeline;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      """CREATE TABLE sessions (
        |  session_id VARCHAR(64) PRIMARY KEY, user_id VARCHAR(64),
        |  start_time TIMESTAMP, end_time TIMESTAMP,
        |  total_events BIGINT, page_views BIGINT, add_to_cart_events BIGINT,
        |  purchases BIGINT, total_purchase_amount DECIMAL(10,2),
        |  session_duration_seconds INT, converted BOOLEAN)""".stripMargin)
    finally conn.close()
    val sessionCols = Seq("user_id", "start_time", "end_time", "total_events", "page_views",
      "add_to_cart_events", "purchases", "total_purchase_amount",
      "session_duration_seconds", "converted")
    val jdbc = Sinks.Jdbc(url, "", "", dialect = Sinks.AnsiMerge)
    val out = Files.createTempDirectory("graft_sinks").toString
    val t0 = Trigger.ProcessingTime(0)
    val qs = ClickstreamPipeline.start(mem.toDF().toDF("key", "value", "timestamp"),
      ClickstreamPipeline.SinkSet(
        Sinks.parquetAppend(s"$out/raw"),
        jdbc.upsert("sessions", "session_id", sessionCols,
          stagingColumnTypes = Some("session_id VARCHAR(64), user_id VARCHAR(64)")),
        Sinks.parquetAppend(s"$out/hourly"),
        jdbc.overwrite("dashboard")),
      ClickstreamPipeline.Config(s"$out/ckpt", rawTrigger = t0, sessionTrigger = t0,
        hourlyTrigger = t0, dashboardTrigger = t0, fixedClock = Some(clock)))
    try {
      qs.foreach(_.processAllAvailable())
      val sessionsQ = qs.find(_.name == "session_metrics").get
      def lastData = sessionsQ.recentProgress.filter(_.numInputRows > 0).lastOption
      assert(await()(lastData.nonEmpty), "no session progress reported")
      assert(lastData.get.stateOperators(0).numRowsTotal == sessionsOffered)
      val landed = java.sql.DriverManager.getConnection(url)
      try {
        val rs = landed.createStatement().executeQuery("SELECT count(*) FROM sessions")
        rs.next()
        assert(rs.getLong(1) == sessionsOffered, "every session must land in the upsert sink")
      } finally landed.close()
      assert(spark.read.parquet(s"$out/raw").count() == offered.count())
    } finally {
      qs.foreach(_.stop())
      try java.sql.DriverManager.getConnection("jdbc:derby:memory:graft_pipeline;drop=true")
      catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception
    }
  }

  test("an hourly batch with no output rows writes no parquet file") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, String, java.sql.Timestamp)]
    def ev(id: String, ts: String) = (id,
      s"""{"event_id":"$id","user_id":"u1","event_type":"page_view","timestamp":"$ts"}""",
      java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))
    val out = Files.createTempDirectory("graft_hourly").toString
    val sink: (DataFrame, Long) => Unit = Sinks.parquetAppend(s"$out/hourly")
    val q = Parse.hourlyAgg(Parse.parse(mem.toDF().toDF("key", "value", "timestamp")))
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$out/ckpt")
      .foreachBatch(sink)
      .start()
    try {
      // data batch 0 emits nothing (window open); the watermark moves to
      // 10:10, which runs no-data batch 1 — still no window closes
      mem.addData(ev("a", "2024-01-01T10:05:00Z"), ev("b", "2024-01-01T10:20:00Z"))
      q.processAllAvailable()
      assert(await()(q.recentProgress.exists(p => p.batchId == 1 && p.numInputRows == 0)),
        "the watermark move did not run a no-data batch")
      assert(!Files.exists(java.nio.file.Paths.get(out, "hourly")),
        "a batch without output rows must not write")
      // data batch 2 moves the watermark past 11:00: no-data batch 3
      // closes the 10:00 window and writes it
      mem.addData(ev("c", "2024-01-01T11:30:00Z"))
      q.processAllAvailable()
      assert(await()(q.recentProgress.exists(_.batchId == 3)),
        "the watermark move did not run the emitting no-data batch")
      val rows = spark.read.parquet(s"$out/hourly").select("total_events").as[Long].collect()
      assert(rows.toSeq == Seq(2L))
    } finally q.stop()
  }

  test("a file-source batch of more than 32 files lists them without a Spark job") {
    val src = Files.createTempDirectory("graft_listing")
    (0 until 40).foreach { i =>
      Files.writeString(src.resolve(f"part-$i%03d.json"),
        s"""{"key":"k$i","value":"v$i","timestamp":"2024-01-01T10:00:00Z"}\n""")
    }
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descriptions.add(String.valueOf(e.properties.getProperty("spark.job.description")))
    }
    val out = Files.createTempDirectory("graft_listing_out").toString
    val rows = new java.util.concurrent.atomic.AtomicLong()
    val sink: (DataFrame, Long) => Unit = (df, _) => { rows.addAndGet(df.count()); () }
    spark.sparkContext.addSparkListener(listener)
    try {
      val q = spark.readStream.schema("key STRING, value STRING, timestamp TIMESTAMP")
        .json(src.toString)
        .writeStream.option("checkpointLocation", s"$out/ckpt")
        .foreachBatch(sink)
        .start()
      try q.processAllAvailable() finally q.stop()
      assert(q.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows).toSeq == Seq(40L),
        "the 40 files must arrive as one micro-batch")
      // listener events arrive in order: once a marker job is seen, every
      // job the query started has been seen too
      spark.sparkContext.setJobDescription("listing-spec-marker")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.setJobDescription(null)
      assert(await()(descriptions.contains("listing-spec-marker")))
    } finally spark.sparkContext.removeSparkListener(listener)
    val listing = descriptions.asScala.filter(_.startsWith("Listing leaf files"))
    assert(listing.isEmpty, s"file listing ran as Spark jobs: ${listing.mkString("; ")}")
    assert(rows.get() == 40)
  }

  test("land-once mode lands raw exactly once and matches the fan-out's final session state") {
    implicit val sq = spark.sqlContext
    val clock = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    // run the SAME seeded wire data through both topologies; the final
    // per-session aggregates must be identical (update-mode row COUNTS may
    // differ with trigger timing — last-write-wins state may not)
    def run(landOnce: Boolean): (Long, Map[String, (Long, Long, Long, String)]) = {
      val gen  = new EventGenerator(seed = 7)
      val wire = gen.asWire(spark, 500).withColumn("timestamp", lit(clock)).collect()
      val mem  = MemoryStream[(String, String, java.sql.Timestamp)]
      mem.addData(wire.map(r => (r.getString(0), r.getString(1),
        r.getAs[java.sql.Timestamp](2))).toSeq)
      val kafkaShaped = mem.toDF().toDF("key", "value", "timestamp")
      val rawSink = new java.util.concurrent.atomic.AtomicLong()
      val sessionsFinal = scala.collection.concurrent.TrieMap[String, (Long, Long, Long, String)]()
      val ckpt = Files.createTempDirectory(if (landOnce) "graft_lo" else "graft_fo").toString
      val qs = ClickstreamPipeline.start(kafkaShaped,
        ClickstreamPipeline.SinkSet(
          (df, _) => { rawSink.addAndGet(df.count()); () },
          (df, _) => df.select("session_id", "total_events", "page_views", "purchases",
              "total_purchase_amount").collect().foreach(r =>
              sessionsFinal(r.getString(0)) = (r.getLong(1), r.getLong(2), r.getLong(3),
                String.valueOf(r.getDecimal(4)))),
          (df, _) => { df.count(); () },
          (df, _) => { df.count(); () }),
        ClickstreamPipeline.Config(ckpt,
          rawTrigger = Trigger.ProcessingTime(0), sessionTrigger = Trigger.ProcessingTime(0),
          hourlyTrigger = Trigger.ProcessingTime(0), dashboardTrigger = Trigger.ProcessingTime(0),
          fixedClock = Some(clock), landOnce = landOnce))
      try { (1 to 2).foreach(_ => qs.foreach(_.processAllAvailable())) }
      finally qs.foreach(_.stop())
      // in land-once mode the parquet landing table IS the raw audit
      val audited =
        if (landOnce) spark.read.parquet(s"$ckpt/landed").count() else rawSink.get()
      (audited, sessionsFinal.toMap)
    }
    val (fanAudited, fanSessions) = run(landOnce = false)
    val (loAudited, loSessions)   = run(landOnce = true)
    assert(fanAudited > 400 && loAudited == fanAudited,
      s"landed table must audit every event exactly once: $loAudited vs $fanAudited")
    assert(loSessions == fanSessions,
      "final per-session state must be identical across topologies")
    assert(loSessions.nonEmpty)
  }

  test("land-once crash recovery: kill mid-stream, landing stays exactly-once, derived sinks converge") {
    // The land-once exactly-once claim spans TWO hops: upstream → parquet
    // landing (file-sink commit log) and landing → derived readers
    // (file-stream over _spark_metadata). Crash between the hops — the
    // landing commits files the derived cursors have never seen — then
    // restart everything from the same checkpoints and require (a) every
    // upstream event lands exactly once and (b) the derived session state
    // converges to what an uninterrupted run produces.
    val clock = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val wire = new EventGenerator(seed = 11).asWire(spark, 400)
      .withColumn("timestamp", lit(clock)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[java.sql.Timestamp](2)))
    val (w1, w2) = wire.splitAt(250)

    def runScenario(interrupted: Boolean): (Long, Long, Map[String, (Long, Long, String)]) = {
      val upstream = Files.createTempDirectory("graft_lo_up").toString
      val ckpt = Files.createTempDirectory("graft_lo_ck").toString
      def push(rows: Seq[(String, String, java.sql.Timestamp)]): Unit =
        rows.toDF("key", "value", "timestamp").write.mode("append").parquet(upstream)
      def kafkaShaped = spark.readStream
        .schema("key STRING, value STRING, timestamp TIMESTAMP").parquet(upstream)
      val sessionsFinal = scala.collection.concurrent.TrieMap[String, (Long, Long, String)]()
      val sinks = ClickstreamPipeline.SinkSet(
        (df, _) => { df.count(); () },
        (df, _) => df.select("session_id", "total_events", "purchases",
            "total_purchase_amount").collect().foreach(r =>
            sessionsFinal(r.getString(0)) =
              (r.getLong(1), r.getLong(2), String.valueOf(r.getDecimal(3)))),
        (df, _) => { df.count(); () },
        (df, _) => { df.count(); () })
      val cfg = ClickstreamPipeline.Config(ckpt,
        rawTrigger = Trigger.ProcessingTime(0), sessionTrigger = Trigger.ProcessingTime(0),
        hourlyTrigger = Trigger.ProcessingTime(0), dashboardTrigger = Trigger.ProcessingTime(0),
        fixedClock = Some(clock), landOnce = true)

      if (interrupted) {
        push(w1)
        val qs1 = ClickstreamPipeline.start(kafkaShaped, sinks, cfg)
        try {
          (1 to 2).foreach(_ => qs1.foreach(_.processAllAvailable()))
          // crash the derived hop, then let the landing run ahead: these
          // files are committed to _spark_metadata but unseen downstream
          qs1.tail.foreach(_.stop())
          push(w2)
          qs1.head.processAllAvailable()
        } finally qs1.foreach(_.stop())
        // full restart from the same checkpoints
        val qs2 = ClickstreamPipeline.start(kafkaShaped, sinks, cfg)
        try (1 to 2).foreach(_ => qs2.foreach(_.processAllAvailable()))
        finally qs2.foreach(_.stop())
      } else {
        push(w1 ++ w2)
        val qs = ClickstreamPipeline.start(kafkaShaped, sinks, cfg)
        try (1 to 2).foreach(_ => qs.foreach(_.processAllAvailable()))
        finally qs.foreach(_.stop())
      }
      val landed = spark.read.parquet(s"$ckpt/landed")
      (landed.count(), landed.select("event_id").distinct().count(), sessionsFinal.toMap)
    }

    val (refCount, refDistinct, refSessions) = runScenario(interrupted = false)
    val (count, distinct, sessions) = runScenario(interrupted = true)
    // parse drops the generator's deliberately-malformed events, so the
    // bar is the uninterrupted run, not the raw wire count
    assert(refCount > 300 && refDistinct == refCount)
    assert(count == refCount,
      s"landing must audit every event exactly once, got $count vs $refCount")
    assert(distinct == count, "landing re-emitted an event after restart")
    assert(sessions == refSessions,
      "derived session state must converge to the uninterrupted run's")
    assert(sessions.nonEmpty)
  }

  test("streaming dedup within watermark drops redelivered events, keeps state bounded") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val stream = mem.toDF().toDF("event_id", "sec")
      .withColumn("event_time", timestamp_seconds(col("sec")))
    val deduped = StreamingDedup.byKeyWithinWatermark(stream, "event_time", "600 seconds")
    val q = deduped.writeStream.format("memory").queryName("dd_probe").outputMode("append").start()
    try {
      mem.addData(("a", 1000L), ("a", 1001L), ("b", 1000L)) // a redelivered in-batch
      q.processAllAvailable()
      assert(spark.table("dd_probe").select("event_id").as[String].collect().sorted.toSeq == Seq("a", "b"))
      mem.addData(("a", 1002L)) // redelivered across batches, still within watermark
      q.processAllAvailable()
      assert(spark.table("dd_probe").count() == 2)
      mem.addData(("c", 5000L)) // advances watermark beyond a/b state
      q.processAllAvailable()
      mem.addData(("a", 5001L)) // same key again AFTER eviction → passes through
      q.processAllAvailable()
      assert(spark.table("dd_probe").where(col("event_id") === "a").count() == 2)
    } finally q.stop()
  }

  test("watermarked session mode emits closed sessions with bounded state") {
    implicit val sq = spark.sqlContext
    val gen  = new EventGenerator(seed = 11)
    val wire = gen.asWire(spark, 400).withColumn("timestamp", current_timestamp()).collect()
    val mem  = MemoryStream[(String, String, java.sql.Timestamp)]
    mem.addData(wire.map(r => (r.getString(0), r.getString(1), r.getAs[java.sql.Timestamp](2))).toSeq)
    val kafkaShaped = mem.toDF().toDF("key", "value", "timestamp")
    val rows = new java.util.concurrent.atomic.AtomicLong()
    val ckpt = Files.createTempDirectory("graft_wm_ckpt").toString
    val qs = ClickstreamPipeline.start(kafkaShaped,
      ClickstreamPipeline.SinkSet( // foreachBatch must consume every partition
        (df, _) => { df.count(); () },
        (df, _) => { rows.addAndGet(df.count()); () },
        (df, _) => { df.count(); () },
        (df, _) => { df.count(); () }),
      ClickstreamPipeline.Config(ckpt,
        rawTrigger = Trigger.ProcessingTime(0), sessionTrigger = Trigger.ProcessingTime(0),
        hourlyTrigger = Trigger.ProcessingTime(0), dashboardTrigger = Trigger.ProcessingTime(0),
        watermarkSessions = true,
        fixedClock = Some(java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))))
    try {
      // event times span ~minutes; push late anchors far beyond every session
      // so the watermark closes them all. Two anchor batches: the first
      // advances the watermark, the second *carries* the emission (the async
      // no-data micro-batch isn't awaited by processAllAvailable).
      Seq("2024-01-02T00:00:00Z", "2024-01-03T00:00:00Z").foreach { ts =>
        mem.addData(Seq(("anchor",
          s"""{"event_id":"anchor-$ts","user_id":"anchor","event_type":"page_view","timestamp":"$ts"}""",
          java.sql.Timestamp.valueOf("2024-06-01 00:00:00"))))
        qs.foreach(_.processAllAvailable())
      }
      assert(rows.get() > 0, "no closed sessions emitted in watermarked append mode")
    } finally qs.foreach(_.stop())
  }

  test("checkpoint restart: recovered query re-reads nothing; upsert sink converges") {
    val dataDir = Files.createTempDirectory("graft_src").toString
    val ckpt    = Files.createTempDirectory("graft_ck").toString
    import spark.implicits._
    Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "k", "v")
      .write.mode("append").parquet(dataDir)

    val upserted = scala.collection.concurrent.TrieMap[Long, Double]()
    val appended = new java.util.concurrent.atomic.AtomicLong()
    def run(): Unit = {
      val stream = spark.readStream
        .schema("id LONG, k STRING, v DOUBLE").parquet(dataDir)
      val q = stream.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.collect().foreach { r => // upsert-by-pk: replays are idempotent
            upserted.put(r.getLong(0), r.getDouble(2))
            appended.incrementAndGet()
          }
          ()
        }.start()
      q.processAllAvailable(); q.stop()
    }
    run()
    assert(upserted.size == 2 && appended.get() == 2)
    // restart with NO new data: offsets recovered, nothing re-read
    run()
    assert(appended.get() == 2, "recovered query must not re-emit committed batches")
    // new file after restart is picked up exactly once
    Seq((2L, "b", 25.0), (3L, "c", 30.0)).toDF("id", "k", "v")
      .write.mode("append").parquet(dataDir)
    run()
    assert(appended.get() == 4)
    assert(upserted.toMap == Map(1L -> 10.0, 2L -> 25.0, 3L -> 30.0)) // pk upsert converged
  }

  test("stateful sessionizer closes on gap, duration cap, and watermark timeout") {
    implicit val sq = spark.sqlContext
    import graft.streaming.StatefulSessionizer._
    val mem = MemoryStream[(String, String, Long, Double)]
    val typed = mem.toDF().toDF("user_id", "event_type", "ts_sec", "purchase_amount")
      .withColumn("event_time", timestamp_seconds(col("ts_sec")))
      .as[Event]
    val out = sessionize(typed, gapSeconds = 600, maxDurationSeconds = 3000)
    val q = out.writeStream.format("memory").queryName("sess_state").outputMode("append").start()
    try {
      // u1: two bursts 1000-1100 and 2000-2100 (gap 900 > 600 → first closes)
      mem.addData(("u1", "view", 1000L, 0.0), ("u1", "purchase", 1100L, 9.99))
      q.processAllAvailable()
      mem.addData(("u1", "view", 2000L, 0.0), ("u1", "view", 2100L, 0.0))
      q.processAllAvailable()
      val afterGap = spark.table("sess_state").as[ClosedSession].collect()
      assert(afterGap.exists(s => s.user_id == "u1" && s.close_reason == "gap"
        && s.events == 2 && s.purchases == 1 && s.revenue == 9.99))
      // u2: dense events (gaps ≤ 500 < 600) whose total span exceeds the
      // 3000 s duration cap — only the cap can close this session
      mem.addData((1000L to 4100L by 500L).map(t => ("u2", "view", t, 0.0)): _*)
      mem.addData(("u2", "view", 4200L, 0.0))
      q.processAllAvailable()
      assert(spark.table("sess_state").as[ClosedSession].collect()
        .exists(s => s.user_id == "u2" && s.close_reason == "max_duration"))
      // u3 goes quiet; other-user traffic advances the watermark past
      // u3.last + gap → u3's open session flushes via event-time timeout
      // (two anchor batches: timeouts fire on the batch AFTER the watermark
      // advances, and processAllAvailable doesn't await no-data batches)
      mem.addData(("u3", "view", 100000L, 0.0)); q.processAllAvailable()
      mem.addData(("u4", "view", 300000L, 0.0)); q.processAllAvailable()
      mem.addData(("u4", "view", 300001L, 0.0)); q.processAllAvailable()
      val flushed = spark.table("sess_state").as[ClosedSession].collect()
      assert(flushed.exists(s => s.user_id == "u3" && s.close_reason == "timeout"))
    } finally q.stop()
  }

  test("transformWithState sessionizer matches flatMapGroupsWithState on the full scenario") {
    implicit val sq = spark.sqlContext
    import graft.streaming.StatefulSessionizer.{ClosedSession, Event}
    def typed(mem: MemoryStream[(String, String, Long, Double)]) =
      mem.toDF().toDF("user_id", "event_type", "ts_sec", "purchase_amount")
        .withColumn("event_time", timestamp_seconds(col("ts_sec")))
        .as[Event]
    val m1 = MemoryStream[(String, String, Long, Double)]
    val m2 = MemoryStream[(String, String, Long, Double)]
    val v1 = StatefulSessionizer.sessionize(typed(m1), 600, 3000)
    val v2 = TwsSessionizer.sessionize(typed(m2), 600, 3000)
    val q1 = v1.writeStream.format("memory").queryName("sess_v1").outputMode("append").start()
    // transformWithState requires the RocksDB provider; scope it to this start
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q2 =
      try v2.writeStream.format("memory").queryName("sess_v2").outputMode("append").start()
      finally prevProv match {
        case Some(p) => spark.conf.set(provKey, p)
        case None    => spark.conf.unset(provKey)
      }
    try {
      def step(batch: (String, String, Long, Double)*): Unit = {
        m1.addData(batch: _*); m2.addData(batch: _*)
        q1.processAllAvailable(); q2.processAllAvailable()
      }
      // gap close, duration-cap close, far-backward late, widen, timeout —
      // the union of both v1 scenario tests, replayed identically into both
      step(("u1", "view", 1000L, 0.0), ("u1", "purchase", 1100L, 9.99))
      step(("u1", "view", 2000L, 0.0), ("u1", "view", 2100L, 0.0))
      step((1000L to 4100L by 500L).map(t => ("u2", "view", t, 0.0)): _*)
      step(("u2", "view", 4200L, 0.0))
      step(("u5", "view", 10000L, 0.0), ("u5", "view", 10100L, 0.0))
      step(("u5", "purchase", 7000L, 5.0), ("u5", "view", 9800L, 0.0))
      step(("u3", "view", 100000L, 0.0))
      step(("u4", "view", 300000L, 0.0))
      step(("u4", "view", 300001L, 0.0))
      val s1 = spark.table("sess_v1").as[ClosedSession].collect().toSet
      val s2 = spark.table("sess_v2").as[ClosedSession].collect().toSet
      assert(s1 == s2, s"APIs diverged:\n  v1 only: ${s1 -- s2}\n  v2 only: ${s2 -- s1}")
      assert(s1.map(_.close_reason).intersect(Set("gap", "max_duration", "late", "timeout"))
        == Set("gap", "max_duration", "late", "timeout"),
        "scenario must exercise every close reason")
    } finally { q1.stop(); q2.stop() }
  }

  test("stateful sessionizer: in-watermark out-of-order events widen, detach, and cap correctly") {
    implicit val sq = spark.sqlContext
    import graft.streaming.StatefulSessionizer._
    val mem = MemoryStream[(String, String, Long, Double)]
    val typed = mem.toDF().toDF("user_id", "event_type", "ts_sec", "purchase_amount")
      .withColumn("event_time", timestamp_seconds(col("ts_sec")))
      .as[Event]
    val out = sessionize(typed, gapSeconds = 600, maxDurationSeconds = 3000)
    val q = out.writeStream.format("memory").queryName("sess_ooo").outputMode("append").start()
    try {
      mem.addData(("u5", "view", 10000L, 0.0), ("u5", "view", 10100L, 0.0))
      q.processAllAvailable() // watermark -> 10100 - 3600 = 6500
      // 9800 is within gap of the session start (widens); 7000 is beyond the
      // backward gap (own "late" session) but above the 6500 watermark
      mem.addData(("u5", "purchase", 7000L, 5.0), ("u5", "view", 9800L, 0.0))
      q.processAllAvailable()
      val late = spark.table("sess_ooo").as[ClosedSession].collect()
      assert(late.exists(s => s.user_id == "u5" && s.close_reason == "late"
        && s.start_sec == 7000 && s.events == 1 && s.revenue == 5.0))
      // u6: span 2900 (under the 3000 cap); a backward-late event widens the
      // span to 3001 → the post-merge cap check must close it
      mem.addData((12000L to 14500L by 500L).map(t => ("u6", "view", t, 0.0))
        :+ (("u6", "view", 14900L, 0.0)): _*)
      q.processAllAvailable() // watermark -> 14900 - 3600 = 11300
      mem.addData(("u6", "view", 11899L, 0.0))
      q.processAllAvailable()
      val capped = spark.table("sess_ooo").as[ClosedSession].collect()
      assert(capped.exists(s => s.user_id == "u6" && s.close_reason == "max_duration"
        && s.duration_seconds == 3001))
    } finally q.stop()
  }

  test("hourly result is independent of micro-batch slicing under time-ordered delivery") {
    // split the events table into 4 time-ordered parquet slices, force one
    // file per micro-batch, and require bit-identical output to the
    // single-batch run: append-mode emission depends only on the final
    // watermark when no slice delivers data older than a previous slice,
    // so any batching of an in-order feed must agree
    import scala.jdk.CollectionConverters._
    val events = graft.sources.Tables.events(spark, sf)
    val (lo, hi) = {
      val r = events.agg(min(col("ts_sec")), max(col("ts_sec"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val srcDir = Files.createTempDirectory("graft_slices")
    val k = 4
    val step = (hi - lo) / k + 1
    for (i <- 0 until k) {
      val slice = events.where(col("ts_sec") >= lo + i * step
        && col("ts_sec") < lo + (i + 1) * step)
      val tmp = Files.createTempDirectory(s"graft_slice_$i")
      slice.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      val dest = srcDir.resolve(f"slice_$i%02d.parquet")
      Files.move(part, dest)
      // file source processes oldest modification time first — pin the order
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val sliced = StreamingHourly.closedHourlyMetricsFrom(
      spark, srcDir.toString, Map("maxFilesPerTrigger" -> "1"))
    val whole = StreamingHourly.closedHourlyMetrics(spark, sf)
    assert(sliced.exceptAll(whole).count() == 0 && whole.exceptAll(sliced).count() == 0,
      "micro-batch slicing changed the append-mode result")
  }

  test("sliding windows: each event lands in exactly two windows; slicing-independent") {
    import scala.jdk.CollectionConverters._
    val events = graft.sources.Tables.events(spark, sf)
    // double-count conservation: summed window events = 2 × events whose
    // BOTH windows close under the final watermark, plus 1 × those with
    // only the earlier window closed — checked via the grid arithmetic
    val sliding = StreamingHourly.slidingHourCounts(spark, sf)
    val maxSec = events.agg(max(col("ts_sec"))).head().getLong(0)
    val expected = events
      .select((col("ts_sec") - col("ts_sec") % 1800).as("w1"))
      .select(((col("w1") + 3600 <= maxSec - 600).cast("long")
        + (col("w1") + 1800 <= maxSec - 600).cast("long")).as("n"))
      .agg(sum(col("n"))).head().getLong(0)
    assert(sliding.agg(sum(col("events"))).head().getLong(0) == expected,
      "summed sliding-window membership must equal per-event closed-window count")

    // slicing independence, same doctrine as the hourly/session tests
    val (lo, hi) = {
      val r = events.agg(min(col("ts_sec")), max(col("ts_sec"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val srcDir = Files.createTempDirectory("graft_slices_sliding")
    val k = 4
    val step = (hi - lo) / k + 1
    for (i <- 0 until k) {
      val slice = events.where(col("ts_sec") >= lo + i * step
        && col("ts_sec") < lo + (i + 1) * step)
      val tmp = Files.createTempDirectory(s"graft_slice_sl_$i")
      slice.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      val dest = srcDir.resolve(f"slice_$i%02d.parquet")
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val sliced = StreamingHourly.slidingHourCountsFrom(
      spark, srcDir.toString, Map("maxFilesPerTrigger" -> "1"))
    assert(sliced.exceptAll(sliding).count() == 0 && sliding.exceptAll(sliced).count() == 0,
      "micro-batch slicing changed the sliding-window result")
  }

  test("session merging is independent of micro-batch slicing under time-ordered delivery") {
    // sessions spanning a slice boundary must be stitched across
    // micro-batches by the session_window state store into exactly the
    // single-batch result — the strongest batching-independence property
    // (the hourly case only re-buckets counts; this one merges state)
    import scala.jdk.CollectionConverters._
    val events = graft.sources.Tables.events(spark, sf)
    val (lo, hi) = {
      val r = events.agg(min(col("ts_sec")), max(col("ts_sec"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val srcDir = Files.createTempDirectory("graft_sess_slices")
    val k = 3
    val step = (hi - lo) / k + 1
    for (i <- 0 until k) {
      val slice = events.where(col("ts_sec") >= lo + i * step
        && col("ts_sec") < lo + (i + 1) * step)
      val tmp = Files.createTempDirectory(s"graft_sess_slice_$i")
      slice.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      val dest = srcDir.resolve(f"slice_$i%02d.parquet")
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val sliced = StreamingSessions.closedSessionsFrom(spark, srcDir.toString,
      Map("maxFilesPerTrigger" -> "1"))
    val whole = StreamingSessions.closedSessions(spark, sf)
    assert(sliced.exceptAll(whole).count() == 0 && whole.exceptAll(sliced).count() == 0,
      "micro-batch slicing changed the closed-session result")
  }

  test("streaming hourly equals batch hourly restricted to closed windows") {
    val streamed = StreamingHourly.closedHourlyMetrics(spark, sf)
    val events   = graft.sources.Tables.events(spark, sf)
    val maxSec   = events.agg(max(col("ts_sec"))).head().getLong(0)
    val batch = graft.operators.EventAnalytics.hourlyMetrics(events)
      .where(col("hour_sec") + 3600 <= maxSec - StreamingHourly.WatermarkSeconds)
      .drop("unique_users")
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0)
  }

  test("foreachBatch maintains the aggregate view incrementally, equal to the batch recompute") {
    // the streaming face of Snapshot.incrementalRefresh's self-maintainable
    // class: each micro-batch contributes ONE delta aggregate, merged into
    // the stored view by summing count/cents lanes — the base is never
    // rescanned. After three batches the view must equal the one-shot
    // recompute over everything that streamed through.
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val view = scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]
    val q = mem.toDF().toDF("prio", "cents").writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val delta = batch.groupBy(col("prio"))
          .agg(count(lit(1)).as("o"), sum(col("cents")).as("c"))
          .collect()
        delta.foreach { r =>
          val k = r.getString(0)
          val (po, pc) = view.getOrElse(k, (0L, 0L))
          view.put(k, (po + r.getLong(1), pc + r.getLong(2)))
        }
      }
      .start()
    val all = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    for (b <- 1 to 3) {
      val rows = (1 to 20).map(i => (s"P${i % 3}", (b * 100 + i).toLong))
      all ++= rows
      mem.addData(rows: _*)
      q.processAllAvailable()
    }
    q.stop()
    val recompute = all.groupBy(_._1).map { case (k, g) =>
      k -> (g.size.toLong, g.map(_._2).sum)
    }
    assert(view.toMap == recompute, s"view=$view recompute=$recompute")
  }

  test("streaming near-dup: row-local signature equals the batch minhash") {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sf).limit(50)
    val batch = graft.operators.Dedup
      .signatures(docs, graft.operators.Dedup.PortableHash)
      .as[(Long, Seq[Long])].collect().toMap
    val local = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().map { case (id, t) => id -> StreamingNearDup.signature(t).toSeq }
    assert(local.nonEmpty)
    local.foreach { case (id, sig) =>
      assert(batch(id) == sig, s"doc $id: row-local signature diverged from batch")
    }
  }

  test("streaming near-dup: horizon rule on a hand fixture") {
    import spark.implicits._
    // identical 5-word texts shingle to identical sets -> 64/64 equal
    // components; distinct texts share nothing. t = BaseSec + doc_id, so:
    //   doc 10 (original)      -> never flagged
    //   doc 100 (dup, Δ=90)    -> flagged (within the 300 s horizon of 10)
    //   doc 2000 (dup, Δ=1900) -> NOT flagged (nearest dup predecessor is
    //                             100, 1900 s before — out of horizon)
    //   doc 2100 (dup, Δ=100)  -> flagged (2000 is in horizon)
    //   doc 50 (unrelated)     -> never flagged
    val dupText = "the quick brown fox jumps over the lazy dog today"
    val fixture = Seq(
      (10L, dupText), (100L, dupText), (2000L, dupText), (2100L, dupText),
      (50L, "completely different words that share no three gram at all ok"))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft_neardup_fix")
    fixture.coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("documents.parquet").toString)
    val got = StreamingNearDup.nearDupFlags(spark, dir.toString)
      .as[(Long, Long, Boolean)].collect()
      .map { case (id, b, d) => id -> ((b, d)) }.toMap
    val flags = got.view.mapValues(_._2).toMap
    assert(flags == Map(10L -> false, 100L -> true, 2000L -> false,
      2100L -> true, 50L -> false), s"got $got")
    // identical texts agree on every component, so every band flags
    assert(got(100L)._1 == 32L && got(2100L)._1 == 32L)
  }

  test("streaming near-dup is independent of micro-batch slicing under time-ordered delivery") {
    import scala.jdk.CollectionConverters._
    val docs = graft.sources.Tables.documents(spark, sf)
      .where(col("doc_id").isNotNull)
    val (lo, hi) = {
      val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val srcDir = Files.createTempDirectory("graft_neardup_slices")
    val k = 4
    val step = (hi - lo) / k + 1
    for (i <- 0 until k) {
      val slice = docs.where(col("doc_id") >= lo + i * step
        && col("doc_id") < lo + (i + 1) * step)
      val tmp = Files.createTempDirectory(s"graft_neardup_slice_$i")
      slice.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      val dest = srcDir.resolve(f"slice_$i%02d.parquet")
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val sliced = StreamingNearDup.nearDupFlagsFrom(
      spark, srcDir.toString, Map("maxFilesPerTrigger" -> "1"))
    val whole = StreamingNearDup.nearDupFlags(spark, sf)
    assert(sliced.exceptAll(whole).count() == 0 && whole.exceptAll(sliced).count() == 0,
      "micro-batch slicing changed the streaming near-dup result")
  }

  /** Stage a crafted events table for the streaming as-of fixture tests. */
  private def stageEvents(rows: Seq[(Long, Long, Long, String)]): String = {
    val dir = Files.createTempDirectory("graft_asof_fix")
    rows.toDF("event_id", "ts_sec", "user_id", "event_type")
      .select(col("event_id"), timestamp_seconds(col("ts_sec")).as("ts"),
        col("user_id"), col("event_type"), lit(1.0).as("value"),
        lit("{}").as("props"))
      .coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve("events.parquet").toString)
    dir.toString
  }

  test("streaming as-of: latest-view tie rule, horizon nulls, and watermark closure on a hand fixture") {
    val B = 1600000000L
    val rows = Seq(
      // user 1: views at 100 / 150 / 150 (same-sec dedup to max id 12)
      (10L, B + 100, 1L, "view"), (11L, B + 150, 1L, "view"),
      (12L, B + 150, 1L, "view"),
      (20L, B + 160, 1L, "purchase"), // -> view 12, lag 10
      (21L, B + 100, 1L, "purchase"), // equal-second view admissible -> 10, lag 0
      // user 2: latest view is 3601 s before the purchase -> out of horizon
      (30L, B + 200, 2L, "view"), (40L, B + 3801, 2L, "purchase"),
      // user 3: no views at all
      (50L, B + 300, 3L, "purchase"),
      // user 4: in-horizon match at distance 600
      (60L, B + 5000, 4L, "view"), (61L, B + 5600, 4L, "purchase"),
      // user 5: purchase too close to the stream end -> NOT closed
      (70L, B + 19500, 5L, "purchase"),
      // stream-end anchor: final watermark = B + 20000 - 600; closure
      // admits p_sec <= B + 19398
      (99L, B + 20000, 9L, "view"))
    val got = StreamingAsOf.purchaseAttribution(spark, stageEvents(rows))
      .collect().map(r => r.getAs[Long]("event_id") ->
        ((Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long]))))
      .toMap
    assert(got == Map(
      20L -> ((Some(12L), Some(10L))),
      21L -> ((Some(10L), Some(0L))),
      40L -> ((None, None)),
      50L -> ((None, None)),
      61L -> ((Some(60L), Some(600L)))), s"got $got")
  }

  test("streaming as-of equals the batch as-of rule under closure + horizon on the real corpus") {
    val streamed = StreamingAsOf.purchaseAttribution(spark, sf)
    val ev = graft.sources.Tables.events(spark, sf)
      .where(col("event_type").isin("view", "purchase") && col("user_id").isNotNull)
    val wmSec = ev.agg(max(col("ts_sec"))).head().getLong(0) - 600
    val batch = graft.operators.AsOfJoin.purchaseAttribution(
        graft.sources.Tables.events(spark, sf))
      .where(col("ts_sec") + 2 <= wmSec)
      .select(col("user_id"), col("event_id"), col("ts_sec"),
        when(col("lag_sec") <= 3600, col("attributed_view_id")).as("attributed_view_id"),
        when(col("lag_sec") <= 3600, col("lag_sec")).as("lag_sec"))
    assert(streamed.count() > 0, "closure must admit purchases on the test corpus")
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streaming as-of diverged from the closed batch rule")
  }

  test("streaming top-k leaderboard equals the closed-window batch recompute") {
    val got = StreamingTopK.hourlyTopUsers(spark, sf)
    val ev = graft.sources.Tables.events(spark, sf).where(col("user_id").isNotNull)
    val mx = ev.agg(max(col("ts_sec"))).head().getLong(0)
    val g = ev
      .withColumn("hour_sec", col("ts_sec") - pmod(col("ts_sec"), lit(3600L)))
      .groupBy(col("hour_sec"), col("user_id")).agg(count(lit(1)).as("events"))
      .where(col("hour_sec") + 3600 <= mx - 600)
    val rw = org.apache.spark.sql.expressions.Window.partitionBy(col("hour_sec"))
      .orderBy(col("events").desc, col("user_id").asc)
    val want = g.withColumn("rank", row_number().over(rw).cast("long"))
      .where(col("rank") <= 5)
      .select(col("hour_sec"), col("rank"), col("user_id"), col("events"))
    assert(got.count() > 0, "closure must admit windows on the test corpus")
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0,
      "streaming leaderboard diverged from the closed-window batch rank")
    // ranks are dense 1..k' per window
    val byWin = got.collect().groupBy(_.getAs[Long]("hour_sec"))
    byWin.values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq ==
        (1L to rs.length.toLong), "ranks must be dense per window")
    }
  }

  test("streaming as-of is independent of micro-batch slicing under time-ordered delivery") {
    import scala.jdk.CollectionConverters._
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .withColumn("__sec", graft.sources.Tables.tsSec(
        spark.read.parquet(s"$sf/events.parquet").schema))
    val (lo, hi) = {
      val r = ev.agg(min(col("__sec")), max(col("__sec"))).head()
      (r.getLong(0), r.getLong(1))
    }
    val srcDir = Files.createTempDirectory("graft_asof_slices")
    val k = 4
    val step = (hi - lo) / k + 1
    for (i <- 0 until k) {
      val slice = ev.where(col("__sec") >= lo + i * step
        && col("__sec") < lo + (i + 1) * step).drop("__sec")
      val tmp = Files.createTempDirectory(s"graft_asof_slice_$i")
      slice.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      val dest = srcDir.resolve(f"slice_$i%02d.parquet")
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val sliced = StreamingAsOf.purchaseAttributionFrom(
      spark, srcDir.toString, Map("maxFilesPerTrigger" -> "1"))
    val whole = StreamingAsOf.purchaseAttribution(spark, sf)
    assert(sliced.exceptAll(whole).count() == 0 && whole.exceptAll(sliced).count() == 0,
      "micro-batch slicing changed the streaming as-of result")
  }
}
