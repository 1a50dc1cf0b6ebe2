package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
import org.apache.spark.sql.execution.SQLExecution

import graft.{Bench, SparkEntry}

/** Closed-loop passes over a fixed list of registry queries, one client.
  *
  * Each pass runs in a fresh `newSession()`, so the registry's
  * session-keyed shared caches are filled inside the pass exactly as a first
  * caller fills them. Each query is timed from the builder call (which may
  * run eager fixpoint jobs) through planning of the returned frame to full
  * execution of that plan, consumed as an order-insensitive fingerprint of
  * every output column. The fingerprint is compared with `expected.json`. */
object BatchBench {
  /** Six of the registry's iterative queries, one per kind of fixpoint
    * (BPE merges, HITS, connected components, PageRank) plus the dedup pair
    * that shares a session cache. */
  val Fixpoint: Seq[String] = Seq(
    "q_bpe_merges24", "q_hits_scores", "q_dedup_clusters", "q_cluster_survivors",
    "q_cc_altstar", "q_entity_pagerank")

  def queryNames(workload: String): Seq[String] = workload match {
    case "batch_baseline43" => Bench.Baseline43.toSeq.sorted
    case "batch_fixpoint"   => Fixpoint
  }

  /** (rows, xor of row hashes, sum of their low 32 bits). */
  type Fingerprint = (Long, Long, Long)

  final case class QueryRun(name: String, buildMs: Double, planMs: Double, execMs: Double,
                            fp: Option[Fingerprint], error: Option[String]) {
    def totalMs: Double = buildMs + planMs + execMs
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Build, plan and execute one query; errors are returned, not thrown. */
  def runQuery(s: SparkSession, name: String, dir: String): QueryRun = {
    val sc = s.sparkContext
    sc.setJobGroup(name, name)
    var (b, p, x) = (0.0, 0.0, 0.0)
    try {
      sc.setLocalProperty("perfbench.phase", "build")
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(s, dir)
      b = ms(t0)
      sc.setLocalProperty("perfbench.phase", "exec")
      val t1 = System.nanoTime()
      val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
      qe.executedPlan
      p = ms(t1)
      val t2 = System.nanoTime()
      val fp = fingerprint(qe)
      x = ms(t2)
      QueryRun(name, b, p, x, Some(fp), None)
    } catch {
      case e: Throwable =>
        QueryRun(name, b, p, x, None,
          Some(e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(300)))
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("perfbench.phase", null)
    }
  }

  /** Executes the planned query in full and hashes every output row. */
  def fingerprint(qe: org.apache.spark.sql.execution.QueryExecution): Fingerprint = {
    val out = qe.executedPlan.output
    val hash = XxHash64(out.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) }, 42L)
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench fingerprint")) {
      qe.toRdd.mapPartitions { it =>
        var (n, xor, sum) = (0L, 0L, 0L)
        it.foreach { r =>
          val h = hash.eval(r).asInstanceOf[Long]
          n += 1; xor ^= h; sum += h & 0xffffffffL
        }
        Iterator((n, xor, sum))
      }.collect()
    }
    parts.foldLeft((0L, 0L, 0L)) { case ((a, b, c), (n, x, s)) => (a + n, b ^ x, c + s) }
  }

  /** Set-up warm-up: one pass over the whole list on the small tables, in a
    * session of its own. These queries are bound by driver-side job count,
    * not by data size, so the warm-up costs about as much as a timed pass.
    * Without it the timed pass carries the cold JVM's JIT and codegen work:
    * after a warm-up of two queries, a pass was about 25% slower than a
    * warm one and varied more from run to run. */
  def warmUp(spark: SparkSession, names: Seq[String], warmDir: String): Unit = {
    val s = spark.newSession()
    names.foreach { n =>
      val q = runQuery(s, n, warmDir)
      Main.log(f"warm-up $n ${q.totalMs / 1000}%.1f s")
    }
  }

  /** Passes over `names` in list order: at least one, and another only
    * while a pass as long as the last one still fits in `seconds`. The
    * order is fixed because the first consumer of a shared cache pays for
    * filling it: a shuffled order moved that cost between queries and made
    * the per-query percentiles unsteady. */
  def measure(spark: SparkSession, names: Seq[String], dir: String, seconds: Double,
              expected: Map[String, Fingerprint], trace: Option[JobTrace]): Results = {
    val cores = spark.sparkContext.defaultParallelism
    val passes = mutable.ArrayBuffer[(Long, Long, Seq[QueryRun])]()
    val deadline = System.currentTimeMillis() + (seconds * 1000).toLong
    var i = 0
    while (passes.isEmpty || System.currentTimeMillis() + (passes.last._2 - passes.last._1) <= deadline) {
      val s = spark.newSession()
      val from = System.currentTimeMillis()
      val runs = names.map { n =>
        val q = runQuery(s, n, dir)
        Main.log(f"$n ${q.buildMs / 1000}%.1f + ${q.planMs / 1000}%.1f + ${q.execMs / 1000}%.1f s")
        q
      }
      passes += ((from, System.currentTimeMillis(), runs))
      Main.log(f"pass $i: ${(System.currentTimeMillis() - from) / 1000.0}%.1f s")
      i += 1
    }
    val r = new Results
    val all = passes.flatMap(_._3)
    r.attempted = all.size
    all.foreach { q =>
      val ok = q.error.isEmpty && expected.get(q.name).exists(e => q.fp.contains(e))
      if (!ok) {
        r.failed += 1
        Main.log(s"${q.name}: " +
          q.error.getOrElse(s"fingerprint ${q.fp} != expected ${expected.get(q.name)}"))
      }
    }
    val suite = passes.map(p => p._3.map(_.totalMs).sum / 1000.0)
    val geo = passes.map(p => math.exp(p._3.map(q => math.log(math.max(q.totalMs, 1e-3))).sum / p._3.size))
    val perQuery = all.map(_.totalMs)
    r.metric("suite_s", Stats.median(suite.toSeq))
    r.metric("query_geomean_ms", Stats.median(geo.toSeq))
    r.metric("latency_p50_ms", Stats.percentile(perQuery.toSeq, 50))
    r.metric("latency_p95_ms", Stats.percentile(perQuery.toSeq, 95))
    r.metric("drain_events_per_s", Stats.median(passes.map(p => p._3.size / (p._3.map(_.totalMs).sum / 1000.0)).toSeq))
    r.details("passes") = passes.size
    r.details("fingerprints") = passes.head._3.flatMap(q => q.fp.map(f => q.name -> Seq(f._1, f._2, f._3))).toMap
    trace.foreach { t =>
      Trace.drain(spark)
      // per-pass sums, reported as the median over passes
      val perPass = passes.map { case (from, to, runs) =>
        val js = t.jobsBetween(from, to + 1)
        def sum(f: JobTrace#Job => Long) = js.map(f).sum.toDouble
        val wall = (to - from).toDouble
        Map(
          "entry.build_ms" -> runs.map(_.buildMs).sum,
          "entry.build_jobs" -> js.count(_.phase == "build").toDouble,
          "catalyst.plan_ms" -> runs.map(_.planMs).sum,
          "exec.ms" -> runs.map(_.execMs).sum,
          "exec.jobs" -> js.size.toDouble,
          "exec.stages" -> js.map(_.stages.size).sum.toDouble,
          "exec.tasks" -> sum(_.tasks),
          "exec.task_run_ms" -> sum(_.runMs),
          "exec.task_cpu_ms" -> sum(_.cpuNs) / 1e6,
          "exec.gc_ms" -> sum(_.gcMs),
          "exec.core_busy_frac" -> sum(_.runMs) / (wall * cores),
          "exec.driver_gap_ms" -> Trace.idleMs(js, from, to).toDouble,
          "exec.shuffle_write_bytes" -> sum(_.shuffleWrite),
          "exec.shuffle_read_bytes" -> sum(_.shuffleRead),
          "exec.spill_bytes" -> sum(_.spill),
          "sources.input_bytes" -> sum(_.inBytes),
          "sources.input_rows" -> sum(_.inRows),
          "result.rows" -> runs.flatMap(_.fp).map(_._1).sum.toDouble)
      }
      perPass.head.keys.foreach(k => r.metric(k, Stats.median(perPass.map(_(k)).toSeq)))
    }
    r
  }
}
