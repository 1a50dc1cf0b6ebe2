package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Benchmark-owned job/stage/task accounting. Jobs are attributed to the
  * caller by job group (`spark.jobGroup.id`: the query name in batch, the
  * run id in streaming) and by the `perfbench.phase` local property the
  * batch harness sets around the builder call. */
final class JobTrace extends SparkListener {
  final class Job(val id: Int, val group: String, val phase: String, val start: Long) {
    @volatile var end: Long = -1L
    var tasks, runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, inBytes, inRows = 0L
    val stages = ConcurrentHashMap.newKeySet[Int]()
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val j = new Job(e.jobId, prop("spark.jobGroup.id"), prop("perfbench.phase"), e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach { s => stageJob.put(s, j); j.stages.add(s) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) j.synchronized {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      j.inBytes += m.inputMetrics.bytesRead
      j.inRows += m.inputMetrics.recordsRead
    }
  }

  /** Jobs that started in [from, to) (epoch ms), in start order. */
  def jobsBetween(from: Long, to: Long): Seq[Job] =
    jobs.values.asScala.filter(j => j.start >= from && j.start < to).toSeq.sortBy(_.start)
}

object Trace {
  /** Block until every listener has seen every event posted so far. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.perfbenchbus.Bus.drain(spark.sparkContext)

  /** Wall time inside [from, to) during which no job of `jobs` ran. */
  def idleMs(jobs: Seq[JobTrace#Job], from: Long, to: Long): Long = {
    var covered = 0L
    var reach = from
    for (j <- jobs.sortBy(_.start)) {
      val s = math.max(j.start, reach)
      val e = math.min(if (j.end < 0) to else j.end, to)
      if (e > s) { covered += e - s; reach = e }
    }
    (to - from) - covered
  }
}
