package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What one run hands back to `run.py`: operation counts, metrics, and raw
  * samples that `run.py` reduces itself (stream latencies). */
final class Results {
  var attempted = 0L
  var failed = 0L
  /** Warm-up part of set-up, when the workload measures it itself. */
  var warmupS = 0.0
  val metrics = mutable.LinkedHashMap[String, Double]()
  val details = mutable.LinkedHashMap[String, Any]()
  def metric(k: String, v: Double): Unit = metrics(k) = v
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** `Main --workload W --seed N --seconds S --trace 0|1 --data D --warm D
  *  --work D --expected F --out F`: set up, measure one workload, write
  * the results as JSON to `--out`. */
object Main {
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val started = System.nanoTime()
  def log(msg: String): Unit = System.err.println(f"[perfbench ${secs(started)}%.1f] $msg")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    Files.createDirectories(Paths.get(work))

    val t0 = System.nanoTime()
    val spark = GraftSession.build("perfbench")
    val buildS = secs(t0)
    val r = workload match {
      case "batch_baseline43" | "batch_fixpoint" =>
        val names = BatchBench.queryNames(workload)
        val expected = loadExpected(a("expected"))
        val t1 = System.nanoTime()
        BatchBench.warmUp(spark, names, a("warm"))
        val warmS = secs(t1)
        val t = if (trace) Some(new JobTrace) else None
        t.foreach(spark.sparkContext.addSparkListener)
        val res = BatchBench.measure(spark, names, a("data"), seconds, expected, t)
        res.warmupS = warmS
        res
      case "stream_backlog" =>
        StreamBench.measure(spark, seed, seconds, s"$work/run", trace)
      case other =>
        log(s"unknown workload $other"); sys.exit(2)
    }
    log(f"set-up ${buildS}%.1f s session, ${r.warmupS}%.1f s warm-up")
    r.metric("setup_s", buildS + r.warmupS)
    r.metric("setup.session_build_ms", buildS * 1000)
    r.metric("setup.warmup_ms", r.warmupS * 1000)
    r.details("heap_max_bytes") = Runtime.getRuntime.maxMemory
    spark.stop()
    log("stopped")
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("attempted", r.attempted)
    out.put("failed", r.failed)
    out.put("metrics", r.metrics.map { case (k, v) => k -> Double.box(v) }.toMap.asJava)
    out.put("details", toJava(r.details))
    Files.writeString(Paths.get(a("out")), new ObjectMapper().writeValueAsString(out))
  }

  private def toJava(x: Any): Any = x match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, v) => j.put(k.toString, toJava(v)) }
      j
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case other => other
  }

  /** `{"query": [rows, xor, sum], ...}`; none when the file is absent. */
  def loadExpected(path: String): Map[String, BatchBench.Fingerprint] = {
    if (!new java.io.File(path).isFile) return Map.empty
    val root = new ObjectMapper().readTree(new java.io.File(path))
    root.properties().asScala.map { e =>
      val v = e.getValue
      e.getKey -> ((v.get(0).asLong, v.get(1).asLong, v.get(2).asLong))
    }.toMap
  }
}
