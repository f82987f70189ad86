package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** The one Spark listener of the measurement harnesses ([[graft.Bench]]'s
  * sf1 pair legs, [[ProfileQuery]]): it sums what Spark ran between two
  * [[snapshotAndReset]] calls — jobs, stages, tasks, task time, GC, spill
  * and shuffle bytes — so "many tiny driver-side jobs" and "one heavy
  * stage" are distinguishable.
  *
  * Task-time sum is wall-clock-noise-free: under a uniform external-load
  * storm, wall inflates while summed task time stays ~flat (tasks wait for
  * cores, they don't run longer); a genuine plan cliff (AQE flip, spill)
  * inflates task time and spill bytes themselves (round-16: the r15
  * artifact could not tell the two apart for dedup_containment's 9.0×
  * outlier).
  *
  * With `perJob`, each finished job also prints one line: its wall time and
  * its description (else its short call site).
  */
final class QueryMetrics(perJob: Boolean = false) extends SparkListener {
  import QueryMetrics.Counts
  private val jobs = new AtomicInteger
  private val stages = new AtomicInteger
  private val tasks = new AtomicInteger
  private val taskMs = new AtomicLong
  private val gcMs = new AtomicLong
  private val spillB = new AtomicLong
  private val shufB = new AtomicLong
  private val jobStartNs = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    if (perJob) jobStartNs.put(js.jobId,
      (System.nanoTime(), Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))
          .orElse(Option(p.getProperty("callSite.short"))))
        .getOrElse("")))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    jobStartNs.remove(je.jobId).foreach { case (t0, desc) =>
      println(f"    job ${je.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%7.3fs  $desc")
    }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = te.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      shufB.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** everything counted since the last snapshot. The listener bus is
    * asynchronous: callers leave it a settle window first.
    */
  def snapshotAndReset(): Counts =
    Counts(jobs.getAndSet(0), stages.getAndSet(0), tasks.getAndSet(0),
      taskMs.getAndSet(0), gcMs.getAndSet(0), spillB.getAndSet(0), shufB.getAndSet(0))
}

object QueryMetrics {
  final case class Counts(jobs: Int, stages: Int, tasks: Int, taskMs: Long,
                          gcMs: Long, spillBytes: Long, shuffleBytes: Long)
}
