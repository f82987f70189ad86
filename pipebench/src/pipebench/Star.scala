package pipebench

import java.io.File

import graft.core.EtlSession
import graft.sources.Sources
import graft.tables.{Dimension, FactTable, ScdDimension, SnowflakedDimension}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import scala.collection.mutable

/** The star-schema load cut into daily batches: each day runs ensure,
  * scdensure, fact insert and commit, followed by one star query on the
  * live state.
  *
  * A day's new members and lineorders are TPC-H's scale-factor-1
  * cardinalities spread over its 2405 order dates (customer 150000,
  * part 200000, supplier 10000, lineitem 6000000). The change and
  * re-delivery rates have no such source.
  */
final class Star extends Workload {
  type In = Gen.StarData

  val size: Gen.StarSize = Gen.StarSize(days = 3, newCustomers = 62, changes = 25, newParts = 83,
    newSuppliers = 4, lineorders = 2495)
  val warm: Gen.StarSize = size.copy(days = 1, newCustomers = 20, newParts = 20, lineorders = 250)

  def generate(seed: Long, dir: File, warmup: Boolean): In =
    Gen.star(seed, if (warmup) warm else size, dir)

  private def s(n: String) = StructField(n, StringType)
  val CustomerSchema: StructType = StructType(Seq("c_custkey", "c_name", "c_city", "c_segment", "n_name", "r_name")
    .map(s) :+ StructField("change_ts", TimestampType))
  val PartSchema: StructType = StructType(Seq("p_partkey", "p_name", "p_mfgr", "p_category", "p_brand").map(s))
  val SupplierSchema: StructType = StructType(Seq("s_suppkey", "s_name", "s_city", "s_nation").map(s))
  val LineorderSchema: StructType = StructType(Seq(
    StructField("lo_orderkey", LongType), StructField("lo_linenumber", IntegerType),
    s("c_custkey"), s("p_partkey"), s("s_suppkey"), StructField("lo_orderts", TimestampType),
    StructField("lo_quantity", IntegerType), StructField("lo_extendedprice", DecimalType(12, 2)),
    StructField("lo_discount", IntegerType), StructField("lo_revenue", DecimalType(14, 2))))

  /** The warehouse: every table of the star, registered with one session. */
  final class Warehouse(spark: SparkSession) {
    private def empty(fields: (String, DataType)*): DataFrame =
      spark.createDataFrame(java.util.Collections.emptyList[Row](),
        StructType(fields.map { case (n, t) => StructField(n, t) }))

    val region = new Dimension("region", "regionkey", Seq("r_name"), Seq("r_name"))
    region.init(empty("regionkey" -> LongType, "r_name" -> StringType))
    val nation = new Dimension("nation", "nationkey", Seq("n_name", "regionkey"), Seq("n_name"))
    nation.init(empty("nationkey" -> LongType, "n_name" -> StringType, "regionkey" -> LongType))
    val customer: ScdDimension = Star.customerDim
    customer.init(empty("cust_key" -> LongType, "c_custkey" -> StringType, "c_name" -> StringType,
      "c_city" -> StringType, "c_segment" -> StringType, "nationkey" -> LongType, "version" -> IntegerType,
      "validfrom" -> TimestampType, "validto" -> TimestampType))
    val flake = new SnowflakedDimension(Seq(customer -> Seq(nation), nation -> Seq(region)))
    val part = new Dimension("part", "part_key", Seq("p_partkey", "p_name", "p_mfgr", "p_category", "p_brand"),
      Seq("p_partkey"))
    part.init(empty(("part_key" -> LongType) +: PartSchema.fields.map(f => f.name -> f.dataType).toSeq: _*))
    val supplier = new Dimension("supplier", "supp_key", Seq("s_suppkey", "s_name", "s_city", "s_nation"),
      Seq("s_suppkey"))
    supplier.init(empty(("supp_key" -> LongType) +: SupplierSchema.fields.map(f => f.name -> f.dataType).toSeq: _*))
    val date = new Dimension("date", "date_key", Seq("d_date", "d_year", "d_month", "d_weekday"), Seq("d_date"))
    date.init(empty("date_key" -> LongType, "d_date" -> DateType, "d_year" -> IntegerType,
      "d_month" -> IntegerType, "d_weekday" -> IntegerType))
    val fact = new FactTable("lineorder", Star.Keyrefs, Star.Measures,
      dependsOn = Seq("region", "nation", "customer", "part", "supplier", "date"))
    fact.init(empty(("lo_orderkey" -> LongType) +: ("lo_linenumber" -> IntegerType) +:
      Seq("cust_key", "part_key", "supp_key", "date_key").map(_ -> LongType) ++:
      Seq("lo_quantity" -> IntegerType, "lo_extendedprice" -> DecimalType(12, 2),
        "lo_discount" -> IntegerType, "lo_revenue" -> DecimalType(14, 2)): _*))
    val etl = new EtlSession(spark)
    Seq(region, nation, customer, part, supplier, date, fact).foreach(etl.register)
  }

  private def read(ctx: Ctx, f: File, schema: StructType): DataFrame =
    ctx.span("sources.read")(Bridge.freeze(Sources.typedCsv(ctx.spark, f.getPath, schema)))

  /** one batch through every ETL layer, up to (not including) the commit */
  private def load(ctx: Ctx, w: Warehouse, b: Gen.StarBatch): Unit = {
    val cust = read(ctx, b.customers, CustomerSchema)
    val parts = read(ctx, b.parts, PartSchema)
    val supp = read(ctx, b.suppliers, SupplierSchema)
    val lo = read(ctx, b.lineorders, LineorderSchema)
      .withColumn("d_date", to_date(col("lo_orderts")))
    ctx.span("tables.scdensure")(w.flake.scdensure(cust, col("change_ts")))
    ctx.span("tables.ensure")(w.part.ensure(parts))
    ctx.span("tables.ensure")(w.supplier.ensure(supp))
    ctx.span("tables.ensure")(w.date.ensure(lo.select(col("d_date"), year(col("d_date")).as("d_year"),
      month(col("d_date")).as("d_month"), dayofweek(col("d_date")).as("d_weekday"))))
    ctx.span("tables.fact_insert") {
      val keyed = w.date.lookup(w.supplier.lookup(w.part.lookup(
        w.customer.lookupAsOf(lo, col("lo_orderts")))))
      w.fact.insert(keyed)
    }
  }

  private def commit(ctx: Ctx, w: Warehouse, dir: File): Unit =
    ctx.span("core.commit")(w.etl.commit(dir.getPath))

  def pass(ctx: Ctx, in: In, work: File): PassOut = {
    val spark = ctx.spark
    val wh = ctx.dir(work, "warehouse")
    val out = new PassOut(in.rows, in.bytes, Seq(wh))
    val w = new Warehouse(spark)
    val results = mutable.ArrayBuffer[(String, Int, OpRec, Seq[Row])]()
    def readout(q: String, upto: Int)(df: => DataFrame): Unit = {
      val rows = ctx.op("readout")(ctx.span("core.readout")(df.collect().toSeq))
      results += ((q, upto, ctx.ops.last, rows))
    }
    in.batches.zipWithIndex.foreach { case (b, i) =>
      ctx.op("batch") {
        load(ctx, w, b)
        commit(ctx, w, wh)
      }
      // a commit writes a new version of every table and keeps the old
      // ones, so the warehouse holds every byte committed so far
      out.written("core.commit") = Main.dirBytes(wh)
      readout("region_year", i)(Star.regionYear(w.fact.current, w.customer.current, w.nation.current,
        w.region.current, w.date.current))
    }
    out.state = results.toSeq
    out.live = w
    out
  }

  // ------------------------------------------------------------------
  // checks: ground truth from the generator, and plain Spark SQL over the
  // raw generated inputs
  // ------------------------------------------------------------------

  def check(spark: SparkSession, in: In, outs: Seq[(Ctx, PassOut)]): Seq[Failure] = {
    def raw(schema: StructType, pick: Gen.StarBatch => File): DataFrame =
      in.batches.zipWithIndex.map { case (b, i) =>
        spark.read.option("header", "true").schema(schema).csv(pick(b).getPath).withColumn("batch", lit(i))
      }.reduce(_ unionByName _)
    raw(CustomerSchema, _.customers).createOrReplaceTempView("raw_customer")
    raw(PartSchema, _.parts).createOrReplaceTempView("raw_part")
    raw(SupplierSchema, _.suppliers).createOrReplaceTempView("raw_supplier")
    raw(LineorderSchema, _.lineorders).createOrReplaceTempView("raw_lineorder")
    spark.range(in.batches.size).selectExpr("cast(id as int) as upto").createOrReplaceTempView("raw_upto")
    spark.sql("""SELECT c_custkey, c_city, c_segment, n_name, change_ts AS vfrom,
      LEAD(change_ts) OVER (PARTITION BY c_custkey ORDER BY change_ts) AS vto FROM raw_customer""")
      .createOrReplaceTempView("raw_iv")
    val expected = Seq(
      "region_year" -> """
        SELECT u.upto, n.r_name, year(lo.lo_orderts) AS d_year, SUM(lo.lo_revenue) AS revenue, COUNT(*) AS n
        FROM raw_lineorder lo
        JOIN raw_iv iv ON lo.c_custkey = iv.c_custkey AND iv.vfrom <= lo.lo_orderts
          AND (iv.vto IS NULL OR lo.lo_orderts < iv.vto)
        JOIN (SELECT DISTINCT n_name, r_name FROM raw_customer) n ON iv.n_name = n.n_name
        JOIN raw_upto u ON lo.batch <= u.upto
        GROUP BY u.upto, n.r_name, year(lo.lo_orderts)""")
    val readouts = outs.flatMap(_._2.state.asInstanceOf[Seq[(String, Int, OpRec, Seq[Row])]])

    // the committed warehouse of the last pass
    val wh = outs.last._2.durable.head.getPath
    def open(t: String) = EtlSession.open(spark, wh, t)
    val members = Map("region" -> in.regions.toLong, "nation" -> in.nations.toLong, "part" -> in.parts.toLong,
      "supplier" -> in.suppliers.toLong, "customer" -> in.versions.values.map(_.toLong).sum)
    val keyChecks = Seq("region" -> "regionkey", "nation" -> "nationkey", "customer" -> "cust_key",
      "part" -> "part_key", "supplier" -> "supp_key", "date" -> "date_key").map { case (t, key) => () =>
      val r = open(t).agg(count(lit(1)), countDistinct(col(key)), min(col(key)), max(col(key))).head()
      val n = r.getLong(0)
      Check(s"$t.keys", n > 0 && r.getLong(1) == n && r.getLong(2) == 1L && r.getLong(3) == n &&
        members.get(t).forall(_ == n), s"$n rows, ${r.getLong(1)} distinct keys in [${r.get(2)}, ${r.get(3)}]")
    }
    val factChecks: Seq[() => Seq[Failure]] = Seq(
      () => {
        val f = open("lineorder")
        val unresolved = Seq("cust_key", "part_key", "supp_key", "date_key")
          .map(k => col(k).isNull || col(k) === -1L).reduce(_ || _)
        val agg = f.agg(count(lit(1)), sum(col("lo_extendedprice")), sum(col("lo_revenue")),
          count(when(unresolved, 1))).head()
        Check("fact_rows", agg.getLong(0) == in.factRows, s"${agg.getLong(0)} fact rows, generated ${in.factRows}") ++
          Check("fact_sums", agg.getDecimal(1) == java.math.BigDecimal.valueOf(in.extendedCents, 2) &&
            agg.getDecimal(2) == java.math.BigDecimal.valueOf(in.revenueCents, 2),
            s"sums ${agg.getDecimal(1)}, ${agg.getDecimal(2)}; generated ${in.extendedCents / 100.0}, " +
              s"${in.revenueCents / 100.0}") ++
          Check("keyrefs", agg.getLong(3) == 0, s"${agg.getLong(3)} facts carry an unresolved keyref")
      },
      () => {
        val got = open("customer").groupBy("c_custkey").count().collect()
          .map(r => r.getString(0) -> r.getLong(1).toInt).toMap
        val wrong = in.versions.count { case (c, v) => !got.get(c).contains(v) }
        Check("scd2.versions", wrong == 0 && got.size == in.versions.size,
          s"$wrong of ${in.versions.size} members have the wrong version count (${got.size} members loaded)")
      },
      () => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy("c_custkey").orderBy("version")
        val gaps = open("customer")
          .withColumn("rn", row_number().over(w)).withColumn("nextfrom", lead(col("validfrom"), 1).over(w))
          .filter(col("version") =!= col("rn") || !(col("validto") <=> col("nextfrom"))).count()
        Check("scd2.intervals", gaps == 0, s"$gaps versions break the gap-free validity chain")
      })

    // every readout of every pass equals the plain SQL answer
    val readoutChecks = expected.map { case (q, sql) => () =>
      val want = spark.sql(sql).collect().groupBy(_.getInt(0))
        .map { case (u, rs) => u -> Star.canon(rs.toSeq.map(r => Row.fromSeq(r.toSeq.tail))) }
      readouts.filter(_._1 == q).flatMap { case (_, upto, op, rows) =>
        val exp = want.getOrElse(upto, Nil)
        val got = Star.canon(rows)
        Check(s"$q@$upto", got == exp && exp.nonEmpty,
          s"readout differs from SQL over raw inputs: ${got.take(3)} vs ${exp.take(3)} " +
            s"(${got.size} vs ${exp.size} rows)", Some(op))
      }
    }
    Main.parallel(readoutChecks ++ factChecks ++ keyChecks).flatten
  }
}

object Star {
  val Keyrefs: Seq[String] = Seq("lo_orderkey", "lo_linenumber", "cust_key", "part_key", "supp_key", "date_key")
  val Measures: Seq[String] = Seq("lo_quantity", "lo_extendedprice", "lo_discount", "lo_revenue")

  def customerDim: ScdDimension = new ScdDimension("customer", "cust_key",
    Seq("c_custkey", "c_name", "c_city", "c_segment", "nationkey", "version", "validfrom", "validto"),
    Seq("c_custkey"), "version", "validfrom", "validto", maxTo = lit(null).cast(TimestampType))

  /** revenue by customer region (as of the order) and year; the star
    * query broadcasts its dimensions, as star queries do
    */
  def regionYear(f: DataFrame, c: DataFrame, n: DataFrame, r: DataFrame, d: DataFrame): DataFrame =
    f.join(broadcast(c.select("cust_key", "nationkey")), "cust_key")
      .join(broadcast(n.select("nationkey", "regionkey")), "nationkey")
      .join(broadcast(r), "regionkey")
      .join(broadcast(d.select("date_key", "d_year")), "date_key")
      .groupBy("r_name", "d_year")
      .agg(sum("lo_revenue").as("revenue"), count(lit(1)).as("n"))

  def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toSeq.mkString("|")).sorted
}
