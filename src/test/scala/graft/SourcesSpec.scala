package graft

import org.apache.spark.sql.functions._
import graft.core.{Converters, DateSpan, Nm}
import graft.sources.Sources

class SourcesSpec extends SparkSpec {

  test("hashJoining: src2 columns overwrite src1 on collision") {
    import spark.implicits._
    val s1 = Seq((1, "left", "keepme")).toDF("k", "shared", "only1")
    val s2 = Seq((1, "right", "extra")).toDF("k", "shared", "only2")
    val out = Sources.hashJoining(s1, "k", s2, "k").head()
    assert(out.getAs[String]("shared") == "right")
    assert(out.getAs[String]("only1") == "keepme")
    assert(out.getAs[String]("only2") == "extra")
  }

  test("union aligns schemas with nulls") {
    import spark.implicits._
    val a = Seq((1, "x")).toDF("id", "a")
    val b = Seq((2, "y")).toDF("id", "b")
    val u = Sources.union(a, b)
    assert(u.columns.toSet == Set("id", "a", "b"))
    assert(u.count() == 2)
    assert(u.filter(col("a").isNull).count() == 1)
  }

  test("valueMapping translates with default") {
    import spark.implicits._
    val df = Seq("O", "F", "Z").toDF("st")
    val out = Sources.valueMapping(df, "name", "st", Map("O" -> "open", "F" -> "fin"), "other")
      .select("name").collect().map(_.getString(0)).toSet
    assert(out == Set("open", "fin", "other"))
  }

  test("crossTab pivots with explicit values (single-pass plan)") {
    val ct = Sources.crossTab(table("orders"), "o_orderpriority", "o_orderstatus",
      "o_totalprice", colValues = Seq("F", "O", "P"))
    assert(ct.columns.toSet == Set("o_orderpriority", "F", "O", "P"))
    assert(ct.count() == table("orders").select("o_orderpriority").distinct().count())
  }

  test("sqlTransforming stages a view and runs SQL") {
    val out = Sources.sqlTransforming(table("nation"), "nation_staged",
      "SELECT n_regionkey, count(*) AS n FROM nation_staged GROUP BY 1")
    assert(out.count() == table("nation").select("n_regionkey").distinct().count())
  }

  test("dynamicForEach unions one source per seed") {
    val out = Sources.dynamicForEach(Seq("nation", "region"),
      name => table(name).select(lit(name).as("src")))
    assert(out.groupBy("src").count().count() == 2)
  }

  test("converters: cast-or-default semantics") {
    import spark.implicits._
    val df = Seq(("12", "abc", "2024-03-01", "x")).toDF("num", "bad", "date", "flag")
    val r = df.select(
      Converters.getInt(col("num"), lit(-1)).as("a"),
      Converters.getInt(col("bad"), lit(-1)).as("b"),
      Converters.getDate(col("date")).as("c"),
      Converters.getBool(col("flag"), lit(false)).as("d")).head()
    assert(r.getInt(0) == 12 && r.getInt(1) == -1)
    assert(r.getDate(2).toString == "2024-03-01")
    assert(!r.getBoolean(3))
  }

  test("datespan generates one row per day with int key") {
    val ds = DateSpan(spark, "2024-02-01", "2024-03-01")
    assert(ds.count() == 30)
    val first = ds.orderBy(col("dateid")).head()
    assert(first.getInt(0) == 20240201)
  }

  test("namemapping applyMapping renames physical to logical") {
    import spark.implicits._
    val df = Seq((1, "a")).toDF("phys_id", "name")
    val out = Nm.applyMapping(df, Map("id" -> "phys_id"))
    assert(out.columns.toSet == Set("id", "name"))
  }

  test("EtlSession freezes now/today and commit orders dependencies") {
    val es = new graft.core.EtlSession(spark)
    val n1 = es.nowLit
    Thread.sleep(5)
    assert(es.nowLit == n1) // frozen per session
    val dim = new graft.tables.Dimension("dep_dim", "k", Seq("p_brand"), Seq("p_brand"))
    dim.init(table("part").select(lit(1L).as("k"), col("p_brand")).limit(0))
    dim.ensure(table("part").select(col("p_brand")))
    val fact = new graft.tables.FactTable("dep_fact", Seq("k"), Seq("m"),
      dependsOn = Seq("dep_dim"))
    fact.init(dim.current.select(col("k"), lit(1.0).as("m")))
    es.register(fact) // registered before its dependency on purpose
    es.register(dim)
    val tmp = java.nio.file.Files.createTempDirectory("etl").toString
    val v1 = es.commit(tmp)
    assert(v1 == 1L)
    assert(new java.io.File(s"$tmp/dep_dim/v=1").exists())
    assert(new java.io.File(s"$tmp/dep_fact/v=1").exists())
    assert(graft.core.EtlSession.open(spark, tmp, "dep_dim").count() == dim.current.count())
    // second commit publishes a new version; the old one stays readable
    dim.ensure(table("part").select(concat(col("p_brand"), lit("_x")).as("p_brand")))
    val v2 = es.commit(tmp)
    assert(v2 == 2L)
    assert(graft.core.EtlSession.currentVersion(tmp) == 2L)
    assert(new java.io.File(s"$tmp/dep_dim/v=1").exists(), "old version retained")
    assert(graft.core.EtlSession.open(spark, tmp, "dep_dim").count() == dim.current.count())
  }

  test("a failed commit publishes nothing, and the next commit reuses its version") {
    import graft.core.EtlSession
    // a table whose save writes a torn prefix of its rows and then fails
    final class Flaky(var current: org.apache.spark.sql.DataFrame) extends graft.tables.ManagedTable {
      val name = "flaky"
      var fail = false
      override def save(path: String): Unit =
        if (!fail) super.save(path)
        else {
          current.limit(1).write.mode("overwrite").parquet(path)
          throw new java.io.IOException("disk full")
        }
    }
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getLong(0)).toSet
    val es = new EtlSession(spark)
    val flaky = new Flaky(spark.range(0, 3).toDF("id"))
    es.register(flaky)
    val tmp = java.nio.file.Files.createTempDirectory("etl_atomic").toString
    assert(es.commit(tmp) == 1L)

    flaky.current = spark.range(10, 15).toDF("id")
    flaky.fail = true
    intercept[java.io.IOException](es.commit(tmp))
    assert(EtlSession.currentVersion(tmp) == 1L, "a failed commit must not move the pointer")
    assert(ids(EtlSession.open(spark, tmp, "flaky")) == Set(0L, 1L, 2L))

    flaky.fail = false
    assert(es.commit(tmp) == 2L, "the next commit reuses the failed one's version")
    assert(ids(EtlSession.open(spark, tmp, "flaky")) == (10L until 15L).toSet)
  }
}
