package graft

import graft.core.Joins

/** [[graft.core.Joins.bucketPairs]] and [[graft.core.Joins.capBuckets]]
  * against a brute-force enumeration in Scala collections.
  */
class BucketPairsSpec extends SparkSpec {

  // (bucket, id, carried): skewed bucket sizes, one repeated (bucket, id)
  // row and one null id
  private val rows: Seq[(Int, Option[Long], String)] = {
    val rnd = new scala.util.Random(17)
    val drawn = (0 until 80).map { i =>
      val b = math.min(rnd.nextInt(6), rnd.nextInt(6)) // small buckets are big
      (b, Option(rnd.nextInt(1000).toLong), s"p$i")
    }
    drawn :+ drawn.head :+ ((drawn.head._1, None, "p-null"))
  }
  private def frame = {
    import spark.implicits._
    rows.toDF("bucket", "id", "p")
  }
  private val sizes = rows.groupBy(_._1).map { case (b, rs) => b -> rs.size }
  private val cap = sizes.values.toSeq.sorted.apply(sizes.size / 2)

  /** every i < j row pair of a bucket of at most `maxBucket` rows, ordered
    * so the smaller id comes first; pairs with a null or equal id drop */
  private def brute(maxBucket: Int): Seq[(Int, Long, Long, String, String)] =
    rows.groupBy(_._1).toSeq.filter(_._2.size <= maxBucket).flatMap { case (b, rs) =>
      for {
        i <- rs.indices; j <- rs.indices if i < j
        (x, y) = (rs(i), rs(j))
        if x._2.isDefined && y._2.isDefined && x._2 != y._2
        (lo, hi) = if (x._2.get < y._2.get) (x, y) else (y, x)
      } yield (b, lo._2.get, hi._2.get, lo._3, hi._3)
    }.sorted

  private def kernel(maxBucket: Int): Seq[(Int, Long, Long, String, String)] =
    Joins.bucketPairs(frame, Seq("bucket"), "id", Seq("p"), maxBucket)
      .select("bucket", "id_a", "id_b", "p_a", "p_b").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
      .toSeq.sorted

  test("bucketPairs equals the brute-force i < j enumeration as a multiset") {
    val all = brute(Int.MaxValue)
    assert(all.distinct.size < all.size, "the repeated row must repeat pairs")
    assert(kernel(Int.MaxValue) == all)
  }

  test("bucketPairs with a cap equals brute force over the kept buckets") {
    assert(sizes.values.exists(_ == cap) && sizes.values.exists(_ > cap))
    val capped = brute(cap)
    assert(capped.nonEmpty && capped.size < brute(Int.MaxValue).size)
    assert(kernel(cap) == capped)
  }

  test("capBuckets keeps exactly the buckets of at most maxBucket rows") {
    val kept = Joins.capBuckets(frame, Seq("bucket"), cap).collect()
      .map(r => (r.getInt(0), if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getString(2)))
      .toSeq.sorted
    assert(kept == rows.filter(r => sizes(r._1) <= cap).sorted)
  }
}
