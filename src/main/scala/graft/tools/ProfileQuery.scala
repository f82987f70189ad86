package graft.tools

import org.apache.spark.sql.SparkSession

/** Measurement-only harness (guide §1): times each named gate query with a
  * job/stage/task breakdown ([[QueryMetrics]]) so "many tiny driver-side
  * jobs" and "one heavy stage" are distinguishable — the bench artifact only
  * records wall.
  *
  *   java -cp ... graft.tools.ProfileQuery SF_DIR name1 name2 ...
  *
  * Prints one line per query: wall s, #jobs, #stages, #tasks, summed task
  * time, GC, shuffle bytes — plus, with PROFILE_JOBS=1, one line per Spark
  * job (wall + description) to show where a multi-job query spends time.
  * Never run by the driver; purely a local profiling tool.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.referenceTracking.blocking.shuffle", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val metrics = new QueryMetrics(perJob = sys.env.get("PROFILE_JOBS").contains("1"))
    spark.sparkContext.addSparkListener(metrics)

    // same warmup as Bench so the first timed query is JIT-comparable;
    // dataset overridable off this machine (ADVICE r16: a hardcoded path
    // silently skipped the warmup elsewhere), and failures are reported
    // instead of swallowed
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", sfDir)
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    Seq("q1_agg", "dim_lookup").foreach { q =>
      try graft.SparkEntry.queries(q)(spark, warmDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[profile] warmup $q failed (timings may be cold): $e") }
    }
    Thread.sleep(500)

    names.foreach { name =>
      val keep = graft.SparkEntry.pinnedReplayRddIds
      spark.sparkContext.getPersistentRDDs.values
        .filterNot(r => keep.contains(r.id)).foreach(_.unpersist(blocking = false))
      System.gc(); Thread.sleep(250)
      metrics.snapshotAndReset() // drop the warm-up's and the previous query's stragglers
      spark.sparkContext.setJobDescription(name)
      val t0 = System.nanoTime()
      try graft.SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        println(s"  $name FAILED: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // drain listener bus
      val c = metrics.snapshotAndReset()
      println(f"$name%-28s wall=$wall%7.3fs jobs=${c.jobs}%3d stages=${c.stages}%4d " +
        f"tasks=${c.tasks}%5d taskSec=${c.taskMs / 1000.0}%8.2f gcSec=${c.gcMs / 1000.0}%6.2f " +
        f"shufMB=${c.shuffleBytes / 1048576.0}%8.1f")
    }
    spark.stop()
  }
}
