package graft.operators

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.sources.Tables

/** Optimization-helper contracts (r17 verdict items 7/8): the Spread gate
  * must stay a no-op at scale — judged from BASE RELATION size, immune to
  * post-filter CBO estimates — and LoopPlan's session-conf toggle must
  * restore AQE under concurrency and exceptions. In the operators package
  * because both helpers are private[graft]/private[operators]. */
class OptHelpersSpec extends SparkSpec {

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("Spread.byKey is a no-op when base relations exceed cores×maxPartitionBytes") {
    // threshold = cores × 1 byte: every parquet relation exceeds it, so the
    // gate must leave the frame untouched (the 100 TB posture)
    withConf("spark.sql.files.maxPartitionBytes", "1") {
      val docs = Tables.documents(spark, sf)
      assert(Spread.byKey(docs, col("doc_id")) eq docs,
        "byKey must return the frame unchanged above the size threshold")
      // CBO-robustness (verdict item 7): a selective filter must not
      // re-enable the spread — the gate reads LEAF sizes, not the
      // post-filter estimate
      val filtered = docs.where(col("doc_id") === 1L)
      assert(Spread.byKey(filtered, col("doc_id")) eq filtered,
        "a post-filter estimate must not re-enable the spread")
    }
  }

  test("Spread.byKey spreads a small relation to a pinned hash partitioning") {
    val docs = Tables.documents(spark, sf) // sf0.001 parquet ≪ 32 × 128 MB
    val spreadDf = Spread.byKey(docs, col("doc_id"))
    assert(!(spreadDf eq docs), "small input must be spread")
    val logical = spreadDf.queryExecution.logical.toString()
    assert(logical.contains("RepartitionByExpression"), logical)
  }

  test("LoopPlan.statically restores AQE under concurrent blocks and exceptions") {
    val key = "spark.sql.adaptive.enabled"
    assert(spark.conf.get(key) == "true", "precondition: session runs AQE on")
    // exception path: the finally must restore
    intercept[RuntimeException] {
      LoopPlan.statically(spark) { throw new RuntimeException("boom") }
    }
    assert(spark.conf.get(key) == "true", "AQE must be restored after a throw")
    // concurrency: N interleaved blocks must serialize (the lock) so the
    // save/restore pairing can never race prev=false back into the session
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 8).map { i =>
      new Thread(() => {
        try LoopPlan.statically(spark) {
          if (spark.conf.get(key) != "false")
            errs.add(s"thread $i: AQE not off inside statically")
          Thread.sleep(10)
        } catch { case e: Throwable => errs.add(s"thread $i: $e") }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, errs.toString)
    assert(spark.conf.get(key) == "true",
      "AQE must be restored after concurrent statically blocks")
  }

  test("pinnedPartsForRows never pins a frame that fills every core") {
    // a session running more shuffle partitions than cores: a loop frame
    // of at least one 64 Ki-row part per core keeps that parallelism
    // rather than being pinned down to the core count
    val cores = spark.sparkContext.defaultParallelism
    withConf("spark.sql.shuffle.partitions", (cores * 4).toString) {
      assert(LoopPlan.pinnedPartsForRows(spark, cores * 65536L).isEmpty)
      assert(LoopPlan.pinnedPartsForRows(spark, cores * 8 * 65536L).isEmpty)
      // below one part per core, the measured count is still pinned
      if (cores > 1) assert(LoopPlan.pinnedPartsForRows(spark, 65536L).contains(1))
    }
  }

  test("broadcastIfSmall applies the thr/4 safety factor") {
    val thr = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold").stripSuffix("b"))
    assume(thr > 0)
    val df = Tables.documents(spark, sf)
    // within thr/4: hinted (new frame); between thr/4 and thr: unhinted
    assert(!(LoopPlan.broadcastIfSmall(df, thr / 4) eq df),
      "estimate within thr/4 must hint broadcast")
    assert(LoopPlan.broadcastIfSmall(df, thr / 4 + 1) eq df,
      "estimate above thr/4 must keep the unhinted join (memory margin)")
  }
}
