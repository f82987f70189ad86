package pipebench

import java.io.File

import graft.functions.{Events, Stats}
import graft.sources.Sources
import graft.streaming.Streaming._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

import scala.collection.mutable

/** K event micro-batches through both kinds of monitor state: three
  * DeltaState monitors (retention, key count, Kruskal) and three eager
  * single-frame ones (cardinality, quantile, count-min). A batch is
  * `update` on every monitor and then `saveState` on every monitor. A
  * readout round (every monitor's readout, timed as one operation) follows
  * every `readoutEvery` batches; the pass ends with a restore into fresh
  * monitors. Bootstrap, survival, volume and transition monitors are left
  * out: with them a run costs more than the run budget allows.
  *
  * A batch is the fixture `events` table at sf0.01 (10000 events from 150
  * users over 30 days) cut into 20 batches: 500 events over 1.5 days. A
  * pass has K = 9 batches: a DeltaState merges only past 8 deltas, so the
  * ninth batch makes every DeltaState monitor compact.
  */
final class Monitors extends Workload {
  type In = Gen.EventData

  val size: Gen.EventSize = Gen.EventSize(batches = 9, events = 500, users = 150, batchSeconds = 129600)
  val warm: Gen.EventSize = size.copy(batches = 1, events = 100)
  val readoutEvery = 9
  val Qs: Seq[Double] = Seq(0.5, 0.9, 0.99)

  val Schema: StructType = StructType(Seq(StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("ts", TimestampType), StructField("value", DoubleType)))

  /** count-min point queries: the heaviest users and a spread of others */
  val ProbeKeys: Seq[Long] = (0L until 10L) ++ (1L to 10L).map(_ * 14L)

  def generate(seed: Long, dir: File, warmup: Boolean): In =
    Gen.events(seed, if (warmup) warm else size, dir)

  /** the monitors of one pass, each with its readout */
  final class Mons(probe: DataFrame) {
    val retention = new RetentionMonitor("user_id", "ts")
    val keys = new KeyCountMonitor("user_id")
    val kruskal = new KruskalMonitor(col("event_type"), col("value"))
    val card = new CardinalityMonitor("user_id", b = 8)
    val quant = new QuantileMonitor("value", width = 5.0)
    val cms = new CmsMonitor("user_id")

    /** (name, update, save, restore, readout) */
    val all: Seq[(String, DataFrame => Unit, String => Unit, String => Unit, () => DataFrame)] = {
      def spark = probe.sparkSession
      Seq(
        ("retention", retention.update, retention.saveState, retention.restoreState(spark, _), () => retention.retention),
        ("keycount", keys.update, keys.saveState, keys.restoreState(spark, _), () => keys.gini()),
        ("kruskal", kruskal.update, kruskal.saveState, kruskal.restoreState(spark, _), () => kruskal.readout),
        ("cardinality", card.update, card.saveState, card.restoreState(spark, _), () => card.estimate),
        ("quantile", quant.update, quant.saveState, quant.restoreState(spark, _), () => quant.quantiles(Qs)),
        ("cms", cms.update, cms.saveState, cms.restoreState(spark, _), () => cms.estimate(probe, "user_id")))
    }
  }

  /** each monitor's batch twin over the union of every batch */
  def twins(all: DataFrame, probe: DataFrame): Seq[(String, DataFrame)] = Seq(
    "retention" -> Events.retention(all, "user_id", "ts"),
    "keycount" -> Stats.giniConcentration(all, "user_id"),
    "kruskal" -> Stats.kruskalWallis(all, col("event_type"), col("value")),
    "cardinality" -> Stats.hllEstimate(Stats.hllRegisters(all, "user_id", 8), 8),
    "quantile" -> Stats.histogramQuantiles(all, "value", 5.0, Qs),
    "cms" -> Stats.countMinEstimate(Stats.countMinSketch(all, "user_id"), probe, "user_id"))

  private def probeFrame(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(ProbeKeys.map(k => Row(k)): _*),
      StructType(Seq(StructField("user_id", LongType))))

  def pass(ctx: Ctx, data: In, work: File): PassOut = {
    val spark = ctx.spark
    val stateDir = ctx.dir(work, "state")
    val out = new PassOut(data.rows, data.bytes, Seq(stateDir))
    val probe = probeFrame(spark)
    val live = new Mons(probe)
    def dirOf(m: String) = new File(stateDir, m).getPath
    // (after batch, monitor, its readout operation, rows)
    val readouts = mutable.ArrayBuffer[(Int, String, OpRec, Seq[Row])]()
    data.batches.zipWithIndex.foreach { case (f, b) =>
      ctx.op("batch") {
        val batch = ctx.span("sources.read")(Bridge.freeze(Sources.typedCsv(spark, f.getPath, Schema)))
        live.all.foreach { case (_, update, _, _, _) => ctx.span("streaming.update")(update(batch)) }
        live.all.foreach { case (m, _, save, _, _) => ctx.span("streaming.save")(save(dirOf(m))) }
      }
      out.written("streaming.save") += Main.dirBytes(stateDir)
      if ((b + 1) % readoutEvery == 0) {
        val rs = ctx.op("readout")(live.all.map { case (m, _, _, _, r) =>
          m -> ctx.span("streaming.readout")(r().collect().toSeq) })
        rs.foreach { case (m, rows) => readouts += ((b, m, ctx.ops.last, rows)) }
      }
    }
    val restored = new Mons(probe)
    ctx.op("restore")(restored.all.foreach { case (m, _, _, restore, _) =>
      ctx.span("streaming.restore")(restore(dirOf(m))) })
    out.state = readouts.toSeq
    out.live = restored
    out
  }

  def check(spark: SparkSession, data: In, outs: Seq[(Ctx, PassOut)]): Seq[Failure] = {
    // read the raw events once for all ten twins
    val all = data.batches.map(f => spark.read.option("header", "true").schema(Schema).csv(f.getPath))
      .reduce(_ unionByName _).localCheckpoint()
    val last = data.batches.size - 1
    val finals = outs.flatMap { case (ctx, o) =>
      o.state.asInstanceOf[Seq[(Int, String, OpRec, Seq[Row])]].filter(_._1 == last).map(r => (ctx, r._2, r._3, r._4))
    }
    // every pass's final readouts equal the batch twins over all events
    val twinChecks = twins(all, probeFrame(spark)).map { case (m, df) => () =>
      val want = Star.canon(df.collect().toSeq)
      finals.filter(_._2 == m).flatMap { case (_, _, op, rows) =>
        Check(s"$m.twin", Star.canon(rows) == want && want.nonEmpty,
          s"final readout ${Star.canon(rows).take(3)} differs from the batch twin ${want.take(3)}", Some(op))
      }
    }
    // the last pass's restored monitors read out the same as its live ones
    val (ctx, o) = outs.last
    val restoreChecks = o.live.asInstanceOf[Mons].all.map { case (m, _, _, _, r) => () =>
      val live = finals.filter(f => (f._1 eq ctx) && f._2 == m).head._4
      val got = r().collect().toSeq
      Check(s"$m.restore", Star.canon(got) == Star.canon(live),
        s"restored readout ${Star.canon(got).take(3)} differs from the live one ${Star.canon(live).take(3)}",
        ctx.ops.find(_.kind == "restore"))
    }
    Main.parallel(twinChecks ++ restoreChecks).flatten
  }
}
