package graft.streaming

import graft.SparkSpec
import graft.streaming.Streaming.DeltaState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** The run contract of [[Streaming.DeltaState]]: a run is a frozen frame
  * whose size is the count on its leaf, or a restored checkpoint scan. A
  * frozen leaf becomes a run with no second freeze, anything else is frozen
  * exactly once, a save freezes a restored scan once, and `replace` swaps in
  * the whole state in either shape. Jobs are counted per job group; the
  * freeze threads inherit the caller's group.
  */
class DeltaStateRunSpec extends SparkSpec {

  /** Spark jobs `body` launched under a fresh job group. The listener bus
    * delivers events in order, so once a later marker job is visible in the
    * status tracker, every job of the group is too.
    */
  private def jobsOf(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    def inGroup(g: String)(f: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    inGroup(group)(body)
    val marker = s"$group-marker"
    inGroup(marker)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty, "marker job never reported")
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  private def leaves(df: DataFrame): Seq[LogicalRDD] =
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l }

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def counts(from: Long, to: Long, n: Long): DataFrame =
    spark.range(from, to).select(col("id").as("k"), lit(n).as("n"))

  private val sumN = DeltaState.sumBy("k")("n")

  test("add of a frozen leaf launches no job, and merged reads that leaf") {
    Seq(1, 8).foreach { maxDeltas =>
      val frozen = Bridge.freeze(counts(0, 50, 1))
      val s = new DeltaState(sumN, maxDeltas)
      val jobs = jobsOf(s"ds-leaf-$maxDeltas") { s.add(frozen); s.settle() }
      assert(jobs == 0, s"maxDeltas=$maxDeltas: a frozen leaf must not be frozen again")
      val read = leaves(s.merged)
      assert(read.size == 1 && (read.head.rdd eq leaves(frozen).head.rdd),
        s"maxDeltas=$maxDeltas: merged must read the added leaf's RDD")
      assert(rows(s.merged) == rows(frozen))
    }
  }

  test("add of a projection of a frozen frame launches exactly one freeze") {
    val frozen = Bridge.freeze(counts(0, 50, 1))
    val s = new DeltaState(sumN, maxDeltas = 8)
    val projected = frozen.select(col("k"), (col("n") * 2).as("n"))
    val jobs = jobsOf("ds-projection") { s.add(projected); s.settle() }
    assert(jobs == 1)
    val read = leaves(s.merged)
    assert(read.size == 1 && !(read.head.rdd eq leaves(frozen).head.rdd),
      "the run must be its own frozen leaf, not a projection pinning its input")
    assert(Bridge.knownCount(s.merged).contains(50L))
    assert(rows(s.merged) == (0L until 50L).map(k => (k, 2L)).toSet)
  }

  test("a restored run is frozen by the first save only") {
    val dir = java.nio.file.Files.createTempDirectory("graft-deltastate-run")
    try {
      counts(0, 40, 3).write.mode("overwrite").parquet(s"$dir/state")
      val s = new DeltaState(sumN, maxDeltas = 8)
      s.restore(Some(spark.read.parquet(s"$dir/state")))
      var saved: Option[DataFrame] = None
      assert(jobsOf("ds-save-1") { saved = s.forSave } == 1)
      assert(saved.flatMap(Bridge.knownCount).contains(40L))
      assert(jobsOf("ds-save-2") { saved = s.forSave } == 0)
      assert(rows(saved.get) == (0L until 40L).map(k => (k, 3L)).toSet)
    } finally {
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
  }

  test("replace on the LSM shape leaves one run equal to the replacement") {
    val s = new DeltaState(sumN, maxDeltas = 8)
    (0 until 3).foreach(i => s.add(counts(0, 30, i + 1L)))
    assert(rows(s.merged) == (0L until 30L).map(k => (k, 6L)).toSet)
    val next = counts(10, 20, 7)
    s.replace(next)
    val read = leaves(s.merged)
    assert(read.size == 1, s"replace must leave one run, read ${read.size}")
    assert(rows(s.merged) == rows(next))
    s.add(counts(10, 12, 1))
    assert(rows(s.merged) == (10L until 20L).map(k => (k, if (k < 12) 8L else 7L)).toSet)
  }
}
