package graft

import org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit
import org.apache.spark.sql.functions._
import graft.core.Scans

/** [[graft.core.Scans.topPerGroup]] against a sort-within-group-and-take in
  * Scala collections.
  */
class TopPerGroupSpec extends SparkSpec {

  // (group, score, id): skewed group sizes, scores drawn from a small range
  // so ties are common, unique ids that break them, and a NULL group
  private val rows: Seq[(Option[Int], Int, Long)] = {
    val rnd = new scala.util.Random(23)
    (0 until 120).map { i =>
      val g = math.min(rnd.nextInt(7), rnd.nextInt(7)) // small groups are big
      (if (g == 6) None else Some(g), rnd.nextInt(4), i.toLong)
    }
  }
  private def frame = {
    import spark.implicits._
    rows.toDF("g", "score", "id")
  }
  private val sizes = rows.groupBy(_._1).map { case (g, rs) => g -> rs.size }

  /** each group's rows by score descending, then id ascending, with their
    * 1-based rank; the first k per group */
  private def brute(k: Int): Seq[(Option[Int], Int, Long, Int)] =
    rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      rs.sortBy(r => (-r._2, r._3)).take(k).zipWithIndex
        .map { case ((g, s, id), i) => (g, s, id, i + 1) }
    }.sorted

  private def kernel(k: Int): Seq[(Option[Int], Int, Long, Int)] =
    Scans.topPerGroup(frame, Seq(col("g")), Seq(col("score").desc, col("id").asc), k,
        Some("rank"))
      .collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0)), r.getInt(1), r.getLong(2),
        r.getInt(3)))
      .toSeq.sorted

  test("ties in the order are broken by the id column, as in the sorted take") {
    assert(rows.groupBy(r => (r._1, r._2)).values.exists(_.size > 1), "data must tie")
    assert(kernel(3) == brute(3))
  }

  test("k = 1 keeps exactly one row per group, the first in order") {
    val one = kernel(1)
    assert(one.size == sizes.size)
    assert(one == brute(1))
  }

  test("k equal to a group's size keeps that group whole; k above every size keeps all") {
    val mid = sizes.values.toSeq.sorted.apply(sizes.size / 2)
    assert(sizes.values.exists(_ > mid), "some group must be cut at k = mid")
    val atMid = kernel(mid)
    assert(atMid == brute(mid))
    assert(atMid.count(_._1 == sizes.find(_._2 == mid).get._1) == mid)
    val all = kernel(sizes.values.max + 5)
    assert(all.size == rows.size && all == brute(rows.size))
  }

  test("a NULL group key is one group of its own") {
    assert(sizes.contains(None), "data must hold a NULL group")
    val k = 2
    val kept = kernel(k).filter(_._1.isEmpty)
    assert(kept.size == math.min(k, sizes(None)))
    assert(kept == brute(k).filter(_._1.isEmpty))
  }

  test("without a rank name the numbering column is dropped") {
    val out = Scans.topPerGroup(frame, Seq(col("g")), Seq(col("score").desc, col("id").asc), 2)
    assert(out.columns.toSeq == Seq("g", "score", "id"))
    assert(out.collect().map(_.getLong(2)).toSet == brute(2).map(_._3).toSet)
  }

  test("the filter sits directly on the row_number: Spark plans a per-group limit") {
    val out = Scans.topPerGroup(frame, Seq(col("g")), Seq(col("score").desc, col("id").asc), 2)
    assert(out.queryExecution.optimizedPlan.collect { case l: WindowGroupLimit => l }.nonEmpty)
  }

  test("an empty group is rejected, naming the empty group") {
    val e = intercept[IllegalArgumentException] {
      Scans.topPerGroup(frame, Nil, Seq(col("id").asc), 1)
    }
    assert(e.getMessage.contains("empty group"))
  }
}
