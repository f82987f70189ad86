package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.tables._

class DimensionSpec extends SparkSpec {

  private def freshDim() = {
    val dim = new Dimension("d", "k", Seq("p_brand"), Seq("p_brand"))
    dim.init(table("part").select(lit(0L).as("k"), col("p_brand")).limit(0))
    dim
  }

  test("ensure assigns dense keys to new members ordered by lookupatts") {
    val dim = freshDim()
    dim.ensure(table("part").select(col("p_brand")))
    val rows = dim.current.orderBy(col("k")).collect()
    val brands = rows.map(_.getString(1))
    assert(rows.map(_.getLong(0)).toSeq == (1L to rows.length).toSeq)
    assert(brands.sorted.toSeq == brands.toSeq) // keys follow brand order
  }

  test("ensure is idempotent: ensure . ensure == ensure") {
    val dim = freshDim()
    dim.ensure(table("part").select(col("p_brand")))
    val once = dim.current.collect().toSet
    dim.ensure(table("part").select(col("p_brand")))
    assert(dim.current.collect().toSet == once)
  }

  test("keys are unique and continue from existing max") {
    val dim = freshDim()
    dim.ensure(table("part").filter(col("p_size") < 20).select(col("p_brand")))
    val max1 = dim.current.agg(max(col("k"))).head().getLong(0)
    dim.ensure(table("part").select(col("p_brand")))
    val all = dim.current.select(col("k")).collect().map(_.getLong(0))
    assert(all.distinct.length == all.length)
    assert(dim.current.filter(col("k") > max1).count() ==
      dim.current.count() - max1)
  }

  test("lookup returns defaultIdValue on miss") {
    val dim = new Dimension("d2", "k", Seq("p_brand"), Seq("p_brand"), defaultIdValue = -99L)
    dim.init(table("part").filter(col("p_size") < 10)
      .select(col("p_partkey").as("k"), col("p_brand")).dropDuplicates("p_brand"))
    val out = dim.lookup(table("part").select(col("p_brand")))
    assert(out.filter(col("k") === -99L).count() > 0)
    assert(out.filter(col("k").isNull).count() == 0)
  }

  test("update overwrites only non-null update columns") {
    import spark.implicits._
    val dim = new Dimension("d3", "k", Seq("a", "b"), Seq("a"))
    dim.init(Seq((1L, "x", "old1"), (2L, "y", "old2")).toDF("k", "a", "b"))
    dim.update(Seq((1L, null.asInstanceOf[String])).toDF("k", "b")
      .withColumn("b", lit("new1")))
    val m = dim.current.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(m(1L) == "new1" && m(2L) == "old2")
  }

  test("update/merge with duplicate keys never multiplies state rows") {
    import spark.implicits._
    val dim = new Dimension("d3b", "k", Seq("a", "b"), Seq("a"))
    dim.init(Seq((1L, "x", "old1"), (2L, "y", "old2")).toDF("k", "a", "b"))
    dim.update(Seq((1L, "dup1"), (1L, "dup2")).toDF("k", "b"))
    assert(dim.current.count() == 2, "duplicate update keys must not fan out rows")

    val fact = new AccumulatingSnapshotFactTable("af", Seq("k"), Seq("r"), Seq("m"))
    fact.init(Seq((1L, 10L, 1.0)).toDF("k", "r", "m"))
    fact.merge(Seq((1L, 11L, 2.0), (1L, 12L, 3.0), (2L, 13L, 4.0)).toDF("k", "r", "m"))
    assert(fact.current.count() == 2, "duplicate merge keys must not fan out facts")
  }

  test("update/merge orderCol: deterministic last-write-wins for conflicting keys") {
    import spark.implicits._
    val dim = new Dimension("d3c", "k", Seq("a", "b"), Seq("a"))
    dim.init(Seq((1L, "x", "old")).toDF("k", "a", "b"))
    dim.update(Seq((1L, "w1", 1L), (1L, "w2", 2L)).toDF("k", "b", "seq"),
      orderCol = Some(col("seq")))
    assert(dim.current.filter(col("k") === 1L).head().getString(2) == "w2",
      "latest update by orderCol must win")

    val fact = new AccumulatingSnapshotFactTable("af2", Seq("k"), Seq("r"), Seq("m"))
    fact.init(Seq((1L, 10L, 1.0)).toDF("k", "r", "m"))
    fact.merge(Seq((1L, 11L, 2.0, 1L), (1L, 12L, 3.0, 2L)).toDF("k", "r", "m", "seq"),
      orderCol = Some(col("seq")))
    val r = fact.current.filter(col("k") === 1L).head()
    assert(r.getLong(1) == 12L && r.getDouble(2) == 3.0, "latest merge row by orderCol must win")
  }

  test("ensure orderCol: the earliest row per member supplies its non-lookup attributes") {
    import spark.implicits._
    val dim = new Dimension("d3d", "k", Seq("a", "b", "seq"), Seq("a"))
    dim.init(Seq((0L, "z", "old", 0L)).toDF("k", "a", "b", "seq"))
    dim.ensure(Seq(("x", "late", 3L), ("x", "early", 1L), ("x", "mid", 2L),
        ("y", "only", 5L), ("z", "ignored", 0L)).toDF("a", "b", "seq"),
      orderCol = Some(col("seq")))
    val m = dim.current.collect().map(r => r.getString(1) -> (r.getString(2), r.getLong(3))).toMap
    assert(m == Map("x" -> ("early", 1L), "y" -> ("only", 5L), "z" -> ("old", 0L)),
      "first occurrence by orderCol must supply attributes; existing members stay")
  }

  test("ensure orderCol may read a column that is not an attribute (a source row id)") {
    import spark.implicits._
    val dim = new Dimension("d3e", "k", Seq("a", "b"), Seq("a"))
    dim.init(Seq((0L, "z", "old")).toDF("k", "a", "b"))
    dim.ensure(Seq(("x", "late", 3L), ("x", "early", 1L), ("y", "only", 5L))
      .toDF("a", "b", "rowid"), orderCol = Some(col("rowid")))
    val m = dim.current.collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(m == Map("x" -> "early", "y" -> "only", "z" -> "old"))
  }

  test("merge with ignoreNone* = false: an all-NULL incoming row clobbers like a partly-NULL one") {
    import spark.implicits._
    val fact = new AccumulatingSnapshotFactTable("af3", Seq("k"), Seq("r"), Seq("m"),
      ignoreNoneRefs = false, ignoreNoneMeasures = false)
    fact.init(Seq((1L, "r1", 10.0), (2L, "r2", 20.0), (3L, "r3", 30.0)).toDF("k", "r", "m"))
    fact.merge(Seq[(Long, String, java.lang.Double)]((1L, null, null), (2L, null, 5.0))
      .toDF("k", "r", "m"))
    val got = fact.current.collect()
      .map(r => r.getLong(0) -> (Option(r.getString(1)), Option(r.get(2)))).toMap
    assert(got == Map(1L -> (None, None), 2L -> (None, Some(5.0)),
      3L -> (Some("r3"), Some(30.0))),
      "an incoming row is present whatever its values; absent keys keep theirs")
  }

  test("getByKey/getByVals accept namemapping") {
    import spark.implicits._
    val dim = new Dimension("d5nm", "k", Seq("a"), Seq("a"))
    dim.init(Seq((1L, "x"), (2L, "y")).toDF("k", "a"))
    val byKey = dim.getByKey(Seq(2L).toDF("kk"), Map("k" -> "kk"))
    assert(byKey.head().getString(1) == "y")
    val byVals = dim.getByVals(Map("aa" -> "x"), Map("a" -> "aa"))
    assert(byVals.head().getLong(0) == 1L)
  }

  test("namemapping resolves physical to logical columns") {
    val dim = freshDim()
    val renamed = table("part").select(col("p_brand").as("brand_physical"))
    dim.ensure(renamed, namemapping = Map("p_brand" -> "brand_physical"))
    assert(dim.current.count() > 0)
  }

  test("rowexpander runs only on new members") {
    val dim = new Dimension("d4", "k", Seq("p_brand", "expanded"), Seq("p_brand"))
    dim.init(table("part").select(lit(0L).as("k"), col("p_brand"), lit("seed").as("expanded")).limit(0))
    dim.ensure(table("part").select(col("p_brand")).withColumn("expanded", lit("batch1")),
      rowexpander = df => df.withColumn("expanded", lit("exp1")))
    assert(dim.current.filter(col("expanded") =!= "exp1").count() == 0)
    // second ensure: no new members -> expander output unchanged
    dim.ensure(table("part").select(col("p_brand")).withColumn("expanded", lit("batch2")),
      rowexpander = df => df.withColumn("expanded", lit("exp2")))
    assert(dim.current.filter(col("expanded") === "exp2").count() == 0)
  }

  test("snowflake ensure resolves keys bottom-up") {
    val input = table("customer")
      .join(table("nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_name"), col("n_name"))
    val nationDim = new Dimension("nd", "n_key", Seq("n_name"), Seq("n_name"))
    val custDim = new Dimension("cd", "cu_key", Seq("c_name", "n_key"), Seq("c_name"))
    nationDim.init(input.select(lit(0L).as("n_key"), col("n_name")).limit(0))
    custDim.init(input.select(lit(0L).as("cu_key"), col("c_name"), lit(0L).as("n_key")).limit(0))
    val flake = new SnowflakedDimension(Seq(custDim -> Seq(nationDim)))
    val out = flake.ensure(input)
    assert(out.filter(col("cu_key").isNull || col("n_key").isNull).count() == 0)
    // every customer has exactly one key, every nation key consistent
    assert(custDim.current.count() == input.select("c_name").distinct().count())
  }

  test("PartitionRangeAssigner produces unique keys above max") {
    val assigner = new PartitionRangeAssigner(1L << 20)
    val df = table("part").select(col("p_brand")).distinct()
    val keyed = assigner.assign(df, "k", 5000L, Seq(col("p_brand")))
    val keys = keyed.select("k").collect().map(_.getLong(0))
    assert(keys.distinct.length == keys.length)
    assert(keys.forall(_ > 5000L))
  }

  test("PartitionRangeAssigner in a Dimension: a second ensure keys above the first batch's max") {
    val dim = new Dimension("dp", "k", Seq("name"), Seq("name"),
      keyAssigner = new PartitionRangeAssigner(1L << 20))
    dim.init(spark.range(0).select(col("id").as("k"), lit("").as("name")).limit(0))
    def batch(from: Long, to: Long) =
      spark.range(from, to, 1, 3).select(concat(lit("n"), col("id")).as("name"))
    dim.ensure(batch(0, 300))
    val firstMax = dim.current.agg(max("k")).head().getLong(0)
    dim.ensure(batch(200, 500)) // 100 known members, 200 new ones
    val rows = dim.current.select("name", "k").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.length == 500)
    assert(rows.map(_._2).distinct.length == 500, "keys must be unique")
    val second = rows.filter(_._1.drop(1).toInt >= 300).map(_._2)
    assert(second.length == 200 && second.forall(_ > firstMax))
  }

  test("DistributedDenseAssigner gives MaxPlusRowNumberAssigner's keys on the small and range paths") {
    // Scd's key order: lookupatts :+ version, so a member's versions are
    // ranked by the second column
    val df = spark.range(0, 600, 1, 3).select(
      format_string("m%03d", col("id") % 200).as("member"),
      (col("id") / 200).cast("int").as("version"))
    val orderBy = Seq(col("member"), col("version"))
    def keyed(a: KeyAssigner) = {
      val (out, newMax) = a.assignWithMax(df, "k", 41L, orderBy)
      (out.collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet, newMax)
    }
    val ref = keyed(MaxPlusRowNumberAssigner)
    assert(ref._2 == 641L && ref._1.map(_._3) == (42L to 641L).toSet)
    assert(keyed(DistributedDenseAssigner) == ref, "small path")
    assert(keyed(new DistributedDenseAssigner(smallDeltaRows = 100)) == ref, "range path")
  }
}
