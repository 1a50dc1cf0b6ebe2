package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.DriverManager
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, struct, sum, to_json, xxhash64}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.sources.EventGenerator
import graft.streaming.{ClickstreamPipeline, Parse, Sinks}

/** The production four-query pipeline fed through a file source: events
  * are landed as JSON-lines files, a group of files at a time: the group is
  * written aside into a directory of its own, which is then atomically
  * renamed into the source directory, so that no micro-batch sees part of
  * a group. Each query reads the source with its own cursor (its own source
  * log), as it would a Kafka topic. Each wire row carries its file's
  * creation stamp as `timestamp`. */
object StreamBench {
  val SetupEvents = 100              // the file whose commit by all four queries ends set-up
  val RoundEvents = 25000            // one backlog round, landed at once
  val WarmRounds = 1                 // rounds not sampled: the first large batches' JIT and codegen
  val FileEvents = 250               // events per landed file: one latency sample
  /** Sampled rounds a run needs at least: three give a median over rounds,
    * and their 300 files give p95 the 10 samples beyond it that it needs. */
  val MinRounds = 3
  /** Event time of the first event: the generator's default start. */
  val EventEpochMs = 1704067200000L
  val QueryNames = Seq("raw_audit", "session_metrics", "hourly_metrics", "dashboard_metrics")
  private val ckptDir = Map("raw_audit" -> "raw", "session_metrics" -> "sessions",
    "hourly_metrics" -> "hourly", "dashboard_metrics" -> "dashboard")
  private val sessionCols = Seq("session_id", "user_id", "start_time", "end_time",
    "total_events", "page_views", "add_to_cart_events", "purchases",
    "total_purchase_amount", "session_duration_seconds", "converted")

  /** Exactly `n` wire rows (key, JSON value) from the seeded generator, its
    * event clock starting at `startMs`, serialised as
    * `EventGenerator.asWire` serialises them. Also returns the last event's
    * time, so that the next batch of events can start after it and the
    * event-time watermark does not make it late. */
  def wire(spark: SparkSession, seed: Long, n: Int, startMs: Long): (Array[(String, String)], Long) = {
    import spark.implicits._
    var iters = n + n / 16 + 100
    var events = new EventGenerator(seed).events(iters, startMs)
    while (events.length < n) {
      iters *= 2
      events = new EventGenerator(seed).events(iters, startMs)
    }
    val ds = spark.createDataset(events.take(n))
    val rows = ds.select(col("user_id").as("key"), to_json(struct(ds.columns.map(col): _*)).as("value"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    (rows, java.time.Instant.parse(events(n - 1).timestamp.get).toEpochMilli)
  }

  private val enc = JsonStringEncoder.getInstance()
  private def q(s: String) = new String(enc.quoteAsString(s))
  private val iso = java.time.format.DateTimeFormatter.ISO_INSTANT

  /** One file of events, each stamped with the file's creation time. */
  def eventFile(events: Seq[(String, String)], createdMs: Long): String = {
    val ts = iso.format(java.time.Instant.ofEpochMilli(createdMs))
    val sb = new StringBuilder
    events.foreach { case (k, v) =>
      sb ++= "{\"key\":\"" ++= q(k) ++= "\",\"value\":\"" ++= q(v) ++= "\",\"timestamp\":\"" ++= ts ++= "\"}\n"
    }
    sb.result()
  }

  final class ProgressLog extends StreamingQueryListener {
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val runIds = new ConcurrentHashMap[String, String]() // runId -> query name
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      runIds.put(e.runId.toString, e.name)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** One instance of the production pipeline with real sinks: parquet for
    * raw and hourly, embedded-Derby JDBC for sessions (MERGE upsert) and the
    * dashboard (overwrite). With `trace`, each sink call is timed. */
  final class Pipeline(spark: SparkSession, val dir: String, trace: Boolean) {
    val src: Path = Files.createDirectories(Paths.get(dir, "src"))
    private val staging = Files.createDirectories(Paths.get(dir, "staging"))
    private val db = "pb" + java.util.UUID.randomUUID().toString.replace("-", "")
    val url = s"jdbc:derby:memory:$db;create=true"
    locally {
      val c = DriverManager.getConnection(url)
      try c.createStatement().execute(
        """CREATE TABLE sessions (
          |  session_id VARCHAR(64) PRIMARY KEY, user_id VARCHAR(64),
          |  start_time TIMESTAMP, end_time TIMESTAMP,
          |  total_events BIGINT, page_views BIGINT, add_to_cart_events BIGINT,
          |  purchases BIGINT, total_purchase_amount DECIMAL(10,2),
          |  session_duration_seconds INT, converted BOOLEAN)""".stripMargin)
      finally c.close()
    }
    val sinkMs = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
    private def timed(name: String)(f: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
      if (!trace) f
      else (df, id) => {
        val t0 = System.nanoTime()
        f(df, id)
        sinkMs.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]())
          .add((System.nanoTime() - t0) / 1e6)
      }
    private val jdbc = Sinks.Jdbc(url, "", "", dialect = Sinks.AnsiMerge)
    val sinks = ClickstreamPipeline.SinkSet(
      raw = timed("raw_audit")(Sinks.parquetAppend(s"$dir/out/raw")),
      sessions = timed("session_metrics")(jdbc.upsert("sessions", "session_id",
        sessionCols.filterNot(_ == "session_id"),
        stagingColumnTypes = Some("session_id VARCHAR(64), user_id VARCHAR(64)"))),
      hourly = timed("hourly_metrics")(Sinks.parquetAppend(s"$dir/out/hourly")),
      dashboard = timed("dashboard_metrics")(jdbc.overwrite("dashboard")))
    var queries: Seq[StreamingQuery] = Nil

    private var groups = 0

    /** Atomically lands a group of (file index, content) files; returns the
      * landing time. */
    def land(files: Seq[(Int, String)]): Long = {
      val name = f"group-$groups%04d"
      groups += 1
      val tmp = Files.createDirectories(staging.resolve(name))
      files.foreach { case (i, content) => Files.writeString(tmp.resolve(f"file-$i%06d.json"), content) }
      val at = System.currentTimeMillis()
      Files.move(tmp, src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      at
    }

    def start(): Unit = {
      val t0 = Trigger.ProcessingTime(0L)
      val source = spark.readStream.schema("key STRING, value STRING, timestamp TIMESTAMP").json(s"$src/*")
      queries = ClickstreamPipeline.start(source, sinks,
        ClickstreamPipeline.Config(s"$dir/ckpt", rawTrigger = t0, sessionTrigger = t0,
          hourlyTrigger = t0, dashboardTrigger = t0))
    }

    /** Blocks until every query has committed everything landed so far;
      * returns the names of queries that failed. */
    def drain(): Seq[String] = queries.flatMap { q =>
      try { q.processAllAvailable(); None } catch {
        case e: Throwable =>
          Main.log(s"${q.name} failed: $e"); Some(q.name)
      }
    }

    def stop(): Unit = queries.foreach(q => try q.stop() catch { case _: Throwable => () })

    def close(): Unit = {
      stop()
      try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
      catch { case _: java.sql.SQLException => () } // Derby reports a drop as an exception
    }

    /** Log batch id -> file indices, from one query's file-source log. */
    def sourceLog(query: String): Map[Long, Seq[Int]] = {
      val logDir = Paths.get(dir, "ckpt", ckptDir(query), "sources", "0")
      if (!Files.isDirectory(logDir)) return Map.empty
      val entry = """"path":"[^"]*file-(\d+)\.json".*"batchId":(\d+)""".r
      val files = Files.list(logDir).iterator().asScala.filterNot(_.getFileName.toString.startsWith(".")).toSeq
      files.flatMap(f => Files.readAllLines(f).asScala).flatMap { line =>
        entry.findFirstMatchIn(line).map(m => m.group(2).toLong -> m.group(1).toInt)
      }.distinct.groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).sorted }
    }

    /** Output checks: the raw sink holds exactly the offered event ids, and
      * the sessions table equals a batch session aggregation of the same
      * events. Returns the number of failed checks (of two). */
    def check(offered: Array[(String, String)]): Int = {
      import spark.implicits._
      val wireDf = spark.sparkContext.parallelize(offered.toSeq, spark.sparkContext.defaultParallelism)
        .toDF("key", "value").withColumn("timestamp", org.apache.spark.sql.functions.current_timestamp())
      val parsed = Parse.parse(wireDf).persist()
      // multiset equality by order-insensitive fingerprint: rows, and the
      // sum and xor of their hashes
      def fp(df: DataFrame) = df.select(xxhash64(df.columns.map(col): _*).as("h"))
        .agg(count(lit(1)), sum(col("h").bitwiseAND(0xffffffffL)), bit_xor(col("h"))).head()
      def same(a: DataFrame, b: DataFrame): Boolean = fp(a) == fp(b)
      def ok(what: String)(f: => Boolean): Boolean = {
        val r = try f catch { case e: Throwable => Main.log(s"$what check: $e"); false }
        if (!r) Main.log(s"$what check failed")
        r
      }
      val rawOk = ok("raw sink holds exactly the offered events") {
        same(spark.read.parquet(s"$dir/out/raw").select("event_id"), parsed.select("event_id"))
      }
      val sessOk = ok("sessions table equals the batch session aggregation") {
        def canon(df: DataFrame) = df.select(sessionCols.map(c => col(c).cast("string")): _*)
        val got = spark.read.jdbc(url, "sessions", new java.util.Properties()).toDF(sessionCols: _*)
        same(canon(got), canon(Parse.sessionAgg(parsed)))
      }
      parsed.unpersist()
      Seq(rawOk, sessOk).count(!_)
    }
  }

  /** The backlog workload: set-up ends when all four queries have committed
    * a first small file. Then rounds of `RoundEvents` events are landed at
    * once and drained. The first `WarmRounds` rounds pay the first large
    * batches' JIT and codegen and are not sampled. Sampled rounds follow
    * while one as long as the last still fits in `seconds`, and at least
    * until `MinRounds` rounds have been sampled; figures per round are
    * medians over the sampled rounds. Each round's event clock starts where
    * the last one ended. */
  def measure(spark: SparkSession, seed: Long, seconds: Double, dir: String, trace: Boolean): Results = {
    val (first, firstEnd) = wire(spark, seed, SetupEvents, EventEpochMs)
    var clock = firstEnd
    val offered = mutable.ArrayBuffer.from(first)
    val log = new ProgressLog
    spark.streams.addListener(log)
    val jobs = new JobTrace
    if (trace) spark.sparkContext.addSparkListener(jobs)
    val p = new Pipeline(spark, dir, trace)
    val landed = mutable.ArrayBuffer[Long]() // per file
    val rounds = mutable.ArrayBuffer[(Long, Long)]() // (landed from, committed)
    val r = new Results
    var failedQueries = Seq.empty[String]
    /** Lands `events` as one group of files; returns the landing time. */
    def land(events: Seq[(String, String)]): Long = {
      val created = System.currentTimeMillis()
      val files = events.grouped(FileEvents).toSeq.zipWithIndex.map { case (es, j) =>
        (landed.size + j, eventFile(es, created))
      }
      val at = p.land(files)
      landed ++= files.map(_ => at)
      at
    }
    def round(i: Int): (Long, Long) = {
      val (events, end) = wire(spark, seed * 1000003L + i + 1, RoundEvents, clock)
      clock = end
      offered ++= events
      val from = land(events)
      failedQueries ++= p.drain()
      Main.log(f"backlog round $i: ${(System.currentTimeMillis() - from) / 1000.0}%.1f s")
      (from, System.currentTimeMillis())
    }
    try {
      val w0 = System.nanoTime()
      p.start()
      land(first.toSeq)
      failedQueries = p.drain()
      r.warmupS = (System.nanoTime() - w0) / 1e9
      Main.log("pipeline live")
      (0 until WarmRounds).foreach(round)
      val deadline = System.currentTimeMillis() + (seconds * 1000).toLong
      while (rounds.size < MinRounds ||
             System.currentTimeMillis() + (rounds.last._2 - rounds.last._1) <= deadline)
        rounds += round(WarmRounds + rounds.size)
    } finally p.stop()
    Main.log("stopped the pipeline")
    Trace.drain(spark)
    spark.streams.removeListener(log)
    val (sampleFrom, tDone) = (rounds.head._1, rounds.last._2)

    val progress = log.progress.asScala.toSeq.filter(_.durationMs.containsKey("addBatch"))
    val byQuery = QueryNames.map(n => n -> progress.filter(_.name == n).sortBy(_.batchId)).toMap
    def startMs(pr: StreamingQueryProgress) = java.time.Instant.parse(pr.timestamp).toEpochMilli
    def dur(pr: StreamingQueryProgress, keys: String*) =
      keys.map(k => Option(pr.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    val logOffset = """"logOffset"\s*:\s*(\d+)""".r
    def offset(s: String): Long = Option(s).flatMap(x => logOffset.findFirstMatchIn(x)).map(_.group(1).toLong).getOrElse(-1L)

    val checksFailed = p.check(offered.toArray)
    Main.log("checked outputs")
    p.close()
    val dataBatches = progress.count(_.numInputRows > 0)
    r.attempted = dataBatches + failedQueries.distinct.size + 2
    r.failed = failedQueries.distinct.size + checksFailed

    // end-to-end figures that do not need the file-to-batch mapping
    r.metric("suite_s", Stats.median(rounds.map(x => (x._2 - x._1) / 1000.0).toSeq))
    r.metric("drain_events_per_s", Stats.median(rounds.map(x => RoundEvents * 1000.0 / (x._2 - x._1)).toSeq))
    val measured = byQuery.map { case (n, ps) => n -> ps.filter(startMs(_) >= sampleFrom) }
    val batchMed = QueryNames.map(n => Stats.median(measured(n).map(dur(_, "triggerExecution"))))
      .filterNot(_.isNaN)
    r.metric("query_geomean_ms", math.exp(batchMed.map(x => math.log(math.max(x, 1.0))).sum / batchMed.size))

    // raw samples for run.py: landed files and each query's batches + source log
    r.details("sample_from_ms") = sampleFrom
    r.details("ticks") = landed.indices.map(i => Seq(i.toLong, landed(i), landed(i)))
    r.details("queries") = QueryNames.map { n =>
      n -> Map(
        "batches" -> byQuery(n).map(pr => Seq(offset(pr.sources.head.startOffset).toDouble,
          offset(pr.sources.head.endOffset).toDouble, startMs(pr).toDouble, dur(pr, "triggerExecution"))),
        "log" -> p.sourceLog(n).map { case (b, ts) => b.toString -> ts })
    }.toMap

    if (trace) {
      val cores = spark.sparkContext.defaultParallelism
      val runToName = log.runIds.asScala
      val events = offered.length.toDouble
      val window = jobs.jobsBetween(sampleFrom, tDone + 1)
      for (n <- QueryNames) {
        val ps = measured(n)
        val pre = s"stream.$n."
        def med(keys: String*) = if (ps.isEmpty) 0.0 else Stats.median(ps.map(dur(_, keys: _*)))
        r.metric(pre + "batches", ps.size)
        r.metric(pre + "batch_ms_p50", med("triggerExecution"))
        r.metric(pre + "plan_ms", med("queryPlanning"))
        r.metric(pre + "source_ms", med("latestOffset", "getBatch"))
        r.metric(pre + "log_commit_ms", med("walCommit", "commitOffsets"))
        val sink = Option(p.sinkMs.get(n)).map(_.asScala.toSeq).getOrElse(Nil)
        r.metric(pre + "sink_call_ms", if (sink.isEmpty) 0.0 else Stats.median(sink))
        val qJobs = window.count(j => runToName.get(j.group).contains(n))
        r.metric(pre + "jobs_per_batch", qJobs.toDouble / math.max(1, ps.size))
        r.metric(pre + "input_amplification", byQuery(n).map(_.numInputRows).sum / events)
        if (n == "session_metrics" || n == "hourly_metrics") {
          val st = byQuery(n).flatMap(_.stateOperators.headOption)
          val stm = ps.flatMap(_.stateOperators.headOption)
          r.metric(pre + "state_rows", st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0))
          r.metric(pre + "state_mem_bytes", st.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0))
          r.metric(pre + "state_update_ms", if (stm.isEmpty) 0.0 else Stats.median(stm.map(_.allUpdatesTimeMs.toDouble)))
          r.metric(pre + "state_commit_ms", if (stm.isEmpty) 0.0 else Stats.median(stm.map(_.commitTimeMs.toDouble)))
          r.metric(pre + "rows_dropped_late", stm.map(_.numRowsDroppedByWatermark).sum.toDouble)
          r.metric(pre + "rows_updated", stm.map(_.numRowsUpdated).sum.toDouble)
        }
      }
      r.metric("stream.core_busy_frac", window.map(_.runMs).sum / ((tDone - sampleFrom).toDouble * cores))
      r.metric("exec.jobs", window.size)
      r.metric("exec.tasks", window.map(_.tasks).sum.toDouble)
      r.metric("exec.task_run_ms", window.map(_.runMs).sum.toDouble)
      r.metric("exec.task_cpu_ms", window.map(_.cpuNs).sum / 1e6)
      r.metric("exec.gc_ms", window.map(_.gcMs).sum.toDouble)
    }
    r
  }
}
