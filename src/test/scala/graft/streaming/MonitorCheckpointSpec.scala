package graft.streaming

import graft.SparkSpec
import graft.core.{EtlSession, KillFs}
import graft.streaming.Streaming.DeltaState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The publish contract of [[Streaming.Monitor]] checkpoints: a save writes
  * a new version and creates its marker last, through the Hadoop
  * FileSystem, so a save that fails at any step leaves the previous or the
  * new checkpoint restorable and a checkpoint URI resolves the same way as
  * a plain path.
  */
class MonitorCheckpointSpec extends SparkSpec {

  /** a one-run total and an LSM count table whose combine raises an error on
    * the key [[TwoStates.Poison]]: an add never runs that combine, so only a
    * read of the merged view (a save or a readout) evaluates the row
    */
  private class TwoStates extends Streaming.Monitor {
    private val total = state("total", DeltaState.sumAll)
    private val byKey = state("byKey", d => DeltaState.sumBy("k")("n")(d.withColumn("n",
      when(col("k") === TwoStates.Poison, raise_error(lit("poisoned row"))).otherwise(col("n")))),
      maxDeltas = 8)

    def update(batch: DataFrame): Unit = {
      total.add(batch.agg(sum(col("n")).as("n")))
      byKey.add(batch)
    }

    def isEmpty: Boolean = total.isEmpty && byKey.isEmpty

    def readout: (Long, Set[(Long, Long)]) =
      (total.merged.head().getLong(0), byKey.merged.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  private object TwoStates {
    val Poison = -1L
  }

  private def batch(from: Long, to: Long): DataFrame =
    spark.range(from, to).select(col("id").as("k"), lit(1L).as("n"))

  private def withTempDir(prefix: String)(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally {
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
  }

  private def versions(dir: String, state: String): Set[String] =
    Option(new java.io.File(dir, state).list()).map(_.toSet).getOrElse(Set.empty)

  test("a save that fails partway leaves the previous checkpoint restorable") {
    withTempDir("graft-ckpt-torn") { dir =>
      val m1 = new TwoStates
      m1.update(batch(0, 10))
      m1.saveState(dir)
      val first = m1.readout
      // the second save writes `total`, then fails inside `byKey`'s view
      m1.update(batch(TwoStates.Poison, 5))
      intercept[Exception](m1.saveState(dir))

      val m2 = new TwoStates
      m2.restoreState(spark, dir)
      assert(m2.readout == first, "the failed save must leave the first save restorable")
      assert(EtlSession.currentVersion(dir) == 1L)

      // a later clean save publishes over the torn attempt, and keeps one version
      m2.update(batch(5, 15))
      m2.saveState(dir)
      assert(EtlSession.currentVersion(dir) == 2L)
      assert(versions(dir, "total") == Set("v=2") && versions(dir, "byKey") == Set("v=2"))
      val m3 = new TwoStates
      m3.restoreState(spark, dir)
      assert(m3.readout == m2.readout)
      assert(m3.readout == (20L, ((0L until 15L).map(k => k -> (if (k >= 5 && k < 10) 2L else 1L))).toSet))
    }
  }

  test("a save that reuses a failed save's version publishes none of its leftovers") {
    withTempDir("graft-ckpt-stale") { dir =>
      val m1 = new TwoStates
      m1.saveState(dir) // version 1 holds no state
      m1.update(batch(0, 10))
      m1.update(batch(TwoStates.Poison, 5))
      intercept[Exception](m1.saveState(dir)) // leaves `total` under version 2
      val m2 = new TwoStates
      m2.restoreState(spark, dir)
      m2.saveState(dir) // version 2 again, still with no state
      assert(EtlSession.currentVersion(dir) == 2L)
      val m3 = new TwoStates
      m3.restoreState(spark, dir)
      assert(m3.isEmpty, "a table the failed save left under version 2 was published")
    }
  }

  test("a checkpoint saved under a file: URI restores from its plain path") {
    withTempDir("graft-ckpt-uri") { dir =>
      val inWorkingDir = new java.io.File(s"file:$dir")
      val m1 = new TwoStates
      m1.update(batch(0, 10))
      m1.saveState(s"file:$dir")
      val m2 = new TwoStates
      m2.restoreState(spark, dir)
      assert(m2.readout == m1.readout)
      assert(!inWorkingDir.exists(), s"a save under a file: URI created $inWorkingDir in the working directory")
    }
  }

  test("a save killed at any file-system step leaves the old or the new checkpoint restorable") {
    KillFs.withDir(spark, "graft-ckpt-kill") { (dir, _) =>
      val m1 = new TwoStates
      m1.update(batch(0, 10))
      m1.saveState(dir)
      var saved = m1.readout // what the published checkpoint holds
      var from = 10L
      var finished = false
      var k = 1
      while (!finished) {
        val before = EtlSession.currentVersion(dir)
        m1.update(batch(from, from + 5))
        from += 5
        finished = KillFs.killedAt(k)(m1.saveState(dir)).isRight
        val after = EtlSession.currentVersion(dir)
        assert(after == before || after == before + 1, s"killed at step $k: version $before became $after")
        if (after > before) saved = m1.readout
        val m2 = new TwoStates
        m2.restoreState(spark, dir)
        assert(m2.readout == saved, s"killed at step $k: version $after does not restore")

        m1.saveState(dir)
        assert(EtlSession.currentVersion(dir) == after + 1, s"the clean save after step $k")
        val m3 = new TwoStates
        m3.restoreState(spark, dir)
        saved = m1.readout
        assert(m3.readout == saved)
        k += 1
      }
      assert(k > 10, s"a save took only ${k - 1} file-system steps")
    }
  }

  test("restore from a directory with nothing published names it") {
    withTempDir("graft-ckpt-empty") { dir =>
      val e = intercept[IllegalArgumentException](new TwoStates().restoreState(spark, dir))
      assert(e.getMessage.contains(dir))
    }
  }
}
