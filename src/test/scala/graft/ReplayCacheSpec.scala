package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.streaming.Streaming

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The replayed-monitor cache (EntryShared.ReplayCache) against the two
  * ways its callers stress it: a bench harness that unpersists every block
  * the cache did not pin between timed queries, and concurrent readers of
  * one cached monitor.
  */
class ReplayCacheSpec extends SparkSpec {
  private def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  /** the cached families' replay: 3 micro-batches by event id */
  private def replay(update: DataFrame => Unit): Unit = {
    val ev = EntryShared.events(spark, sfDir)
    (0 until 3).foreach(b => update(ev.filter(col("event_id") % 3 === b)))
  }

  test("cached monitor states survive the harness's unpersist sweep") {
    val keys = EntryShared.keyCountState(spark, sfDir)
    val kw = EntryShared.kruskalState(spark, sfDir)
    // Bench.releaseTransients: drop every persisted RDD the cache did not pin
    val keep = SparkEntry.pinnedReplayRddIds
    spark.sparkContext.getPersistentRDDs.values
      .filterNot(r => keep.contains(r.id)).foreach(_.unpersist(blocking = true))
    val keys2 = new Streaming.KeyCountMonitor("user_id")
    replay(keys2.update)
    val kw2 = new Streaming.KruskalMonitor(col("event_type"), col("value"))
    replay(kw2.update)
    // a dropped state block fails these reads (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)
    assert(rows(keys.gini()) == rows(keys2.gini()))
    assert(rows(keys.skew(10)) == rows(keys2.skew(10)))
    assert(rows(kw.readout) == rows(kw2.readout))
    assert(rows(kw.spread) == rows(kw2.spread))
  }

  test("4 threads reading one freshly built cached monitor read identical rows") {
    val key = s"replaycachespec:${System.nanoTime()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val reads = Future.sequence((1 to 4).map(_ => Future {
        val m = EntryShared.ReplayCache.get(spark, key) {
          val m = new Streaming.RetentionMonitor("user_id", "ts")
          replay(m.update)
          m
        }
        rows(m.retention)
      }))
      val got = Await.result(reads, 10.minutes)
      val fresh = new Streaming.RetentionMonitor("user_id", "ts")
      replay(fresh.update)
      assert(got.distinct == Seq(rows(fresh.retention)))
      assert(got.head.nonEmpty)
    } finally pool.shutdown()
  }
}
