package graft

import graft.functions.{Dedup, Events, Linkage}

/** The boundary of every bucket cap: a bucket of exactly `cap` rows is
  * kept and one of `cap + 1` rows is dropped. Each case builds group A
  * (3 identical rows) and group B (4 identical rows) with nothing in
  * common, then runs the operator at cap 3 (A kept, B dropped) and at
  * cap 4 (both kept, so B's absence at cap 3 is the cap's doing).
  */
class BucketCapSpec extends SparkSpec {

  private val textA = "quarterly revenue rose sharply across northern warehouse regions today"
  private val textB = "migrating birds follow coastal wetlands during autumn storms again"
  private val idsA = Seq(1L, 2L, 3L)
  private val idsB = Seq(11L, 12L, 13L, 14L)
  private def pairsOf(ids: Seq[Long]): Set[(Long, Long)] =
    ids.combinations(2).map(p => (p(0), p(1))).toSet
  private def docs = {
    import spark.implicits._
    (idsA.map(_ -> textA) ++ idsB.map(_ -> textB)).toDF("doc_id", "text")
  }
  private def probes = {
    import spark.implicits._
    Seq(21L -> textA, 22L -> textB).toDF("doc_id", "text")
  }
  private def longPairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  private def boundary(run: Int => Set[(Long, Long)],
                       a: Set[(Long, Long)], b: Set[(Long, Long)]): Unit = {
    assert(run(3) == a, "a bucket of exactly cap rows is kept, cap + 1 is dropped")
    assert(run(4) == a ++ b, "raising the cap by one keeps the larger bucket")
  }

  test("minhashPairs maxBucket: cap rows kept, cap + 1 dropped") {
    boundary(cap => longPairs(Dedup.minhashPairs(docs, "doc_id", "text",
        maxBucket = cap).select("id_a", "id_b")),
      pairsOf(idsA), pairsOf(idsB))
  }

  test("minhashAgainstIndex maxBucket: cap rows kept, cap + 1 dropped") {
    boundary(cap => longPairs(Dedup.minhashAgainstIndex(docs, probes, "doc_id",
        "text", maxBucket = cap).select("new_id", "match_id")),
      idsA.map(21L -> _).toSet, idsB.map(22L -> _).toSet)
  }

  test("winnowPairs maxDocsPerFp: cap rows kept, cap + 1 dropped") {
    boundary(cap => longPairs(Dedup.winnowPairs(docs, "doc_id", "text",
        minShared = 1, maxDocsPerFp = cap).select("id_a", "id_b")),
      pairsOf(idsA), pairsOf(idsB))
  }

  test("contamination maxDocsPerFp: cap rows kept, cap + 1 dropped") {
    boundary(cap => longPairs(Dedup.contamination(probes, "doc_id", "text",
        docs, "doc_id", "text", minShared = 1, maxDocsPerFp = cap)
        .select("train_id", "bench_id")),
      idsA.map(21L -> _).toSet, idsB.map(22L -> _).toSet)
  }

  test("basketPairs maxBasket: cap items kept, cap + 1 dropped") {
    import spark.implicits._
    val lines = (idsA.map(1L -> _) ++ idsB.map(2L -> _)).toDF("basket", "item")
    boundary(cap => longPairs(Events.basketPairs(lines, "basket", "item",
        minSupport = 1, topN = 100, maxBasket = cap).select("item_a", "item_b")),
      pairsOf(idsA), pairsOf(idsB))
  }

  test("blockedLink maxBlock: cap rows kept, cap + 1 dropped") {
    import spark.implicits._
    val left = (idsA.map((_, "acme corp", "x")) ++ idsB.map((_, "beta inc", "y")))
      .toDF("lid", "lname", "lcity")
    val right = Seq((21L, "acme corp", "x"), (22L, "beta inc", "y"))
      .toDF("rid", "rname", "rcity")
    boundary(cap => longPairs(Linkage.blockedLink(left, right, "lid", "rid",
        "lname", "rname", Seq("lcity" -> "rcity"), maxBlock = cap)
        .select("lid", "rid")),
      idsA.map(_ -> 21L).toSet, idsB.map(_ -> 22L).toSet)
  }

  test("containmentPairs maxDf: cap documents kept, cap + 1 dropped") {
    boundary(cap => longPairs(Dedup.containmentPairs(docs, "doc_id", "text",
        maxDf = cap).select("id_a", "id_b")),
      pairsOf(idsA), pairsOf(idsB))
  }
}
