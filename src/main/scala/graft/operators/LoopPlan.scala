package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** Physical-planning helpers for the fixpoint-loop family (PageRank/HITS/
  * LPA/CC/Markov/power-iteration/k-core): operators that re-materialize a
  * bounded label/score frame every round with `localCheckpoint`.
  *
  * Why this exists (optimization round r16, guide §1.2/§2.4): with AQE on,
  * EVERY exchange inside every round materializes as its own query-stage
  * job — measured at sf0.1, the 8-round HITS loop ran 140 driver jobs for
  * 1.6 s of executor task time and ~3 s of driver scheduling/replanning
  * gaps; the loop is driver-latency-bound, not compute-bound. AQE's
  * per-stage replanning buys nothing inside these loops: the partition
  * counts are already derived from the measured frame size
  * (GraphRank.ckParts), the join strategy is decidable ONCE from the
  * measured |E| (the overflow-guard action every loop already pays), and
  * the frame shapes repeat identically round after round. So the loop body
  * runs under static planning, with the broadcast decision made from
  * measured row counts instead of AQE's per-stage estimates — the same
  * decision AQE would make every round, paid once.
  *
  * Posture at scale: everything OUTSIDE the loop (corpus-sized edge
  * builds, final output joins) still plans under the session's AQE
  * setting; the loop's own joins degrade to shuffle joins on
  * ckParts-sized partitions when the measured size exceeds the session's
  * `spark.sql.autoBroadcastJoinThreshold` — exactly the degradation AQE
  * provided, minus the per-round replanning latency. Results are
  * bit-identical either way (planning only, never arithmetic).
  */
private[operators] object LoopPlan {

  /** Run `body` (loop-round plan building + checkpoint materializations)
    * with adaptive execution off, restoring the previous setting even on
    * throw. Lazy frames the body RETURNS execute under the caller's
    * setting — scope eager materializations inside.
    *
    * Concurrency posture (r17, advisory): the toggle writes the
    * SESSION-GLOBAL conf, so two `statically` blocks interleaving on one
    * session could race the restore (A sets false, B reads prev=false, A
    * restores true, B restores false — AQE left off). A process-wide lock
    * serializes the blocks, making the save/restore pairing correct under
    * any number of looping threads. What the lock cannot fix: an UNRELATED
    * query planned concurrently on the same session while a loop holds the
    * lock still plans without AQE (correct results, possibly a worse
    * plan). The repo's drivers (Bench/Verify) run queries strictly
    * sequentially and streaming micro-batches run on their own query
    * plans, so that collision does not occur here; a future concurrent
    * query driver should scope loops to `spark.cloneSession()` sessions
    * instead (requires rebuilding the loop frames against the clone). */
  private val staticLock = new java.util.concurrent.locks.ReentrantLock()
  def statically[A](spark: SparkSession)(body: => A): A =
    statically(spark, None)(body)

  /** [[statically]] that additionally pins `spark.sql.shuffle.partitions`
    * for the body (restored with AQE). For tiny-input loop materializations
    * whose exchanges AQE was coalescing to ~1 partition: static planning
    * alone would leave them at the 32-way session default — the r16
    * counter-example — so the caller pins the coalesced count it measured.
    * Callers MUST gate on input size ([[Spread.isTiny]]) so the scale path
    * never sees a pinned partition count. */
  def statically[A](spark: SparkSession, shufflePartitions: Option[Int])
      (body: => A): A = {
    // GRAFT_LOOP_STATIC=0: dev-only A/B switch (leaves AQE on inside the
    // loops) — lets a single build measure both plans back-to-back
    if (sys.env.get("GRAFT_LOOP_STATIC").contains("0")) return body
    val key = "spark.sql.adaptive.enabled"
    val pKey = "spark.sql.shuffle.partitions"
    staticLock.lock()
    try {
      val prev = spark.conf.get(key)
      val prevParts = spark.conf.get(pKey)
      spark.conf.set(key, "false")
      shufflePartitions.foreach(p => spark.conf.set(pKey, p.toString))
      try body finally {
        spark.conf.set(key, prev)
        spark.conf.set(pKey, prevParts)
      }
    } finally staticLock.unlock()
  }

  /** Pin the loop body's shuffle-partition count to the MEASURED loop-frame
    * partition count when that is BELOW the session's setting — i.e. the
    * coalesced count AQE always picked for these tiny exchanges, decided
    * once instead of per stage per round (r17; the r16 counter-examples
    * all trace to static planning leaving loop exchanges at the 32-way
    * session default). None — session conf untouched — when the measured
    * count reaches the session's, so a cluster's deliberately higher
    * shuffle parallelism is never shrunk by a loop. */
  def pinnedParts(spark: SparkSession, parts: Int): Option[Int] = {
    val session = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toInt).getOrElse(Int.MaxValue)
    if (parts > 0 && parts < session) Some(parts) else None
  }

  /** [[pinnedParts]] from a measured row count at the checkpoint-part
    * granularity (64 Ki rows/partition — the GraphRank.ckParts rule).
    * None when that count reaches the core count: a frame that fills every
    * core keeps the session's partitioning, even where the session runs
    * more shuffle partitions than cores. */
  def pinnedPartsForRows(spark: SparkSession, rows: Long): Option[Int] = {
    val cores = spark.sparkContext.defaultParallelism.toLong
    val want = ((rows.max(0L) + 65535L) / 65536L).max(1L)
    if (want >= cores) None else pinnedParts(spark, want.toInt)
  }

  /** Broadcast-hint `df` iff the MEASURED size estimate fits the session's
    * `spark.sql.autoBroadcastJoinThreshold` (≤ 0 disables, Spark's own
    * convention) — the once-per-query, measured-stats version of the
    * decision AQE re-derives per stage per round. `estBytes` should come
    * from a row count the loop already pays (e.g. the overflow-guard |E|)
    * times a conservative bytes/row.
    *
    * Safety factor (r17, advisory): the in-memory HashedRelation built for
    * a forced `broadcast()` hint is typically several times the serialized
    * row footprint the ×24B/row estimate approximates, so frames NEAR the
    * threshold could force broadcasts AQE's measured-size check would have
    * rejected — executor memory pressure at the margin. The hint therefore
    * fires only when the estimate fits a QUARTER of the threshold;
    * between thr/4 and thr the frame keeps the unhinted join (exactly the
    * graceful degradation the AQE path provided). */
  def broadcastIfSmall(df: DataFrame, estBytes: Long): DataFrame = {
    val thr = df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
      .stripSuffix("b").stripSuffix("B") match {
      case s if s.isEmpty => -1L
      case s => scala.util.Try(
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s)).getOrElse(-1L)
    }
    if (thr > 0 && estBytes <= thr / 4) broadcast(df) else df
  }
}
