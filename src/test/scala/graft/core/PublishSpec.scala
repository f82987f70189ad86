package graft.core

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The publish contract of [[EtlSession.publish]] for commits: a version
  * becomes visible whole, once its marker is created after its last table,
  * and no step of a publish ever leaves a reader without a published
  * version or takes an older version's tables away.
  */
class PublishSpec extends SparkSpec {

  /** a registered table whose content the test sets directly */
  private final class Table(val name: String) extends graft.tables.ManagedTable {
    var current: DataFrame = _
  }

  /** an EtlSession over two tables; `load(tag)` gives `a` the ids
    * tag..tag+2 and `b` the id tag, each in one partition
    */
  private final class TwoTables {
    val session = new EtlSession(spark)
    private val a = new Table("a")
    private val b = new Table("b")
    Seq(a, b).foreach(session.register)

    def load(tag: Long): Unit = {
      a.current = spark.range(tag, tag + 3, 1, 1).toDF("id")
      b.current = spark.range(tag, tag + 1, 1, 1).toDF("id")
    }
  }

  private def ids(df: DataFrame): Set[Long] = df.collect().map(_.getLong(0)).toSet

  /** what `TwoTables.load(tag)` publishes, read back from `dir` */
  private def holds(dir: String, tag: Long): Boolean =
    ids(EtlSession.open(spark, dir, "a")) == (tag until tag + 3).toSet &&
      ids(EtlSession.open(spark, dir, "b")) == Set(tag)

  test("a reader polling during 30 commits sees no error and no version going back") {
    val dir = java.nio.file.Files.createTempDirectory("graft-publish-read").toString
    val t = new TwoTables
    t.load(1)
    assert(t.session.commit(dir) == 1L)
    @volatile var done = false
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    var reads = 0
    val reader = new Thread(() => {
      var last = 0L
      while (!done) {
        reads += 1
        try {
          val v = EtlSession.currentVersion(dir)
          val n = EtlSession.open(spark, dir, "a").count() + EtlSession.open(spark, dir, "b").count()
          if (v < last) errors.add(s"version went back from $last to $v")
          if (n != 4) errors.add(s"version $v read $n rows, not 4")
          last = v
        } catch { case e: Exception => errors.add(e.toString) }
      }
    }, "publish-reader")
    reader.start()
    try (2L to 31L).foreach { v =>
      t.load(v)
      assert(t.session.commit(dir) == v)
    } finally {
      done = true
      reader.join()
    }
    assert(errors.isEmpty, s"${errors.size} of $reads reads failed, first: ${errors.peek()}")
    assert(reads > 0)
    assert(holds(dir, 31L))
  }

  test("a commit killed at any file-system step leaves the old or the new version published") {
    KillFs.withDir(spark, "graft-publish-kill") { (dir, plain) =>
      val t = new TwoTables
      t.load(0)
      assert(t.session.commit(dir) == 1L)
      var tag = 0L // the content of the published version
      var finished = false
      var k = 1
      while (!finished) {
        val before = EtlSession.currentVersion(dir)
        t.load(tag + 10)
        val attempt = KillFs.killedAt(k)(t.session.commit(dir))
        attempt.foreach(v => assert(v == before + 1))
        finished = attempt.isRight
        val after = EtlSession.currentVersion(dir)
        assert(after == before || after == before + 1, s"killed at step $k: version $before became $after")
        if (after > before) tag += 10
        assert(holds(dir, tag), s"killed at step $k: version $after does not hold its tables")

        tag += 10
        t.load(tag)
        assert(t.session.commit(dir) == after + 1, s"the clean commit after step $k")
        assert(holds(dir, tag))
        (1L to after + 1).foreach { v =>
          Seq("a", "b").foreach(n => assert(new java.io.File(plain, s"$n/v=$v").isDirectory,
            s"killed at step $k: $n/v=$v is gone"))
        }
        k += 1
      }
      assert(k > 10, s"a commit took only ${k - 1} file-system steps")
    }
  }

  test("a publish whose marker already exists fails, naming the directory and the version") {
    val dir = java.nio.file.Files.createTempDirectory("graft-publish-taken").toString
    assert(EtlSession.publish(spark, dir, Nil) == 1L)
    // another writer publishes version 2 while this one writes it
    val other: String => Unit = _ => assert(new java.io.File(dir, "_published/2").createNewFile())
    val e = intercept[IllegalStateException](EtlSession.publish(spark, dir, Seq("t" -> other)))
    assert(e.getMessage.contains(dir) && e.getMessage.contains("version 2"))
  }
}
