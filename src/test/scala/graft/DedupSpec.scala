package graft

import org.apache.spark.sql.functions._
import graft.functions.{Dedup, TextAnalysis, Vectors}

class DedupSpec extends SparkSpec {

  private lazy val docs = table("documents").cache()

  test("exact dedup keeps lowest doc_id per duplicate group") {
    import spark.implicits._
    val df = Seq((1L, "Hello  World!"), (2L, "hello world"), (3L, "other text"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 3L)) // 2 is a normalized duplicate of 1
  }

  test("minhash pairs == exact jaccard pairs at threshold (high-recall bands)") {
    val mh = Dedup.minhashPairs(docs, "doc_id", "text",
      n = 3, k = 64, bands = 32, threshold = 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: brute-force 3-gram jaccard
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("s"))
    val exact = sh.select(col("doc_id").as("id_a"), col("s").as("sa"))
      .crossJoin(sh.select(col("doc_id").as("id_b"), col("s").as("sb")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("j", size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(array_union(col("sa"), col("sb"))).cast("double"))
      .filter(col("j") >= 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh == exact)
  }

  test("minhash band geometry: bands must be positive and divide k") {
    import spark.implicits._
    val df = Seq((1L, "one two three four five"), (2L, "one two three four six"))
      .toDF("doc_id", "text")
    // bands > k hashes empty slices (one corpus-wide bucket per band);
    // a remainder leaves trailing signature positions unused
    for ((k, bands) <- Seq(16 -> 32, 64 -> 24, 16 -> 0)) {
      intercept[IllegalArgumentException](
        Dedup.minhashPairs(df, "doc_id", "text", k = k, bands = bands))
      intercept[IllegalArgumentException](
        Dedup.minhashIndex(df, "doc_id", "text", k = k, bands = bands))
    }
  }

  test("repetition signals: degenerate text scores high, varied text low") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "eight entirely different tokens compose this varied sentence here")
    ).toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextAnalysis.topNgramFraction(col("text"), 2).as("t2"),
      TextAnalysis.dupTokenFraction(col("text")).as("dt"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L)._1 == 1.0 && out(1L)._2 > 0.8, s"degenerate doc must score high: ${out(1L)}")
    assert(out(2L)._1 < 0.2 && out(2L)._2 == 0.0, s"varied doc must score low: ${out(2L)}")
  }

  test("winnowed fingerprints detect partial overlap that whole-doc hashing misses") {
    import spark.implicits._
    val shared = (1 to 20).map(i => s"shared$i").mkString(" ")
    val df = Seq(
      (1L, s"alpha beta gamma delta epsilon zeta eta theta $shared"),
      (2L, s"$shared one two three four five six seven eight"),
      (3L, "unrelated content entirely about something else completely different")
    ).toDF("doc_id", "text")
    // docs 1 and 2 share a 20-token run but are NOT whole-document duplicates
    assert(Dedup.exact(df, "text", "doc_id").count() == 3)
    val pairs = Dedup.winnowPairs(df, "doc_id", "text", minShared = 3, maxDocsPerFp = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"expected the overlapping pair only, got $pairs")
    // guarantee: a shared run of >= window+k-1 tokens shares a fingerprint
    val fps = df.select(col("doc_id"),
      Dedup.winnowedFingerprints(col("text")).as("f")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fps(1L).intersect(fps(2L)).nonEmpty)
    assert(fps(1L).intersect(fps(3L)).isEmpty)
  }

  test("connected components: multi-hop chains collapse to one cluster") {
    import spark.implicits._
    // path 1-2-3-4 (diameter 3: needs >1 propagation round) + island 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.clusters(pairs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(out == Map(
      1L -> (1L, 1), 2L -> (1L, 0), 3L -> (1L, 0), 4L -> (1L, 0),
      10L -> (10L, 1), 11L -> (10L, 0)), s"got $out")
    // distributed loop (gate forced to 0) computes the identical fixpoint
    val dist = Dedup.connectedComponents(pairs, localEdgeGate = 0L).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dist == Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L), s"got $dist")
  }

  test("connected components: empty pair set yields empty labeling") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty).count() == 0)
  }

  test("chunk dedup finds shared 10-token runs and ignores short docs") {
    import spark.implicits._
    val run = (1 to 10).map(i => s"tok$i").mkString(" ")
    val df = Seq(
      (1L, s"$run alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, s"$run one two three"), // same leading chunk as doc 1
      (3L, "short doc")            // < 10 tokens: no chunks at all
    ).toDF("doc_id", "text")
    val out = Dedup.chunkDups(df, "doc_id", "text").collect()
    assert(out.length == 1, s"exactly the shared chunk: ${out.toSeq}")
    val r = out.head
    assert(r.getLong(1) == 2 && r.getLong(2) == 2 && r.getLong(3) == 1,
      s"n_occ=2 n_docs=2 min_doc=1, got $r")
  }

  test("pii: counts and redaction round-trip") {
    import spark.implicits._
    import graft.functions.Pii
    val df = Seq(
      (1L, "mail a@b.com and c.d+x@e.org, ip 10.1.2.3, call 555-123-4567"),
      (2L, "no pii here at all")).toDF("id", "text")
    val out = df.select(col("id"), Pii.emailCount(col("text")).as("e"),
      Pii.ipv4Count(col("text")).as("i"), Pii.phoneCount(col("text")).as("p"),
      Pii.redact(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 2 && out(1L).getLong(2) == 1 && out(1L).getLong(3) == 1)
    assert(out(1L).getString(4) ==
      "mail <EMAIL> and <EMAIL>, ip <IP>, call <PHONE>")
    assert(out(2L).getLong(1) == 0 && out(2L).getString(4) == "no pii here at all")
  }

  test("winnowing emits no fingerprint for documents shorter than k tokens") {
    import spark.implicits._
    val df = Seq(
      (1L, ""), (2L, "   "), (3L, "one two three"), // all < k=4 tokens
      (4L, "one two three four")                    // exactly k tokens -> 1 gram
    ).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"),
      Dedup.winnowedFingerprints(col("text")).as("f")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(fps(1L).isEmpty && fps(2L).isEmpty && fps(3L).isEmpty,
      s"degenerate docs must carry no fingerprint: $fps")
    assert(fps(4L).size == 1)
    // so two unrelated empty docs can never pair, even at minShared=1
    val pairs = Dedup.winnowPairs(df, "doc_id", "text",
      minShared = 1, maxDocsPerFp = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.isEmpty, s"empty docs must not pair: $pairs")
  }

  test("simhash: identical docs collide, near-identical docs are close") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content about database engines and queries"))
      .toDF("doc_id", "text")
    val fps = df.select(col("doc_id"), Dedup.simhash(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(java.lang.Long.bitCount(fps(1L) ^ fps(3L)) > 3)
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("simhash near-dup detection on the corpus approximates jaccard dups") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 10)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sh = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("s"))
    val strong = sh.select(col("doc_id").as("id_a"), col("s").as("sa"))
      .crossJoin(sh.select(col("doc_id").as("id_b"), col("s").as("sb")))
      .filter(col("id_a") < col("id_b"))
      .withColumn("j", size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(array_union(col("sa"), col("sb"))).cast("double"))
      .filter(col("j") >= 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // strong near-dups should mostly be caught (recall >= 0.7 on this corpus)
    if (strong.nonEmpty) {
      val recall = strong.count(pairs.contains).toDouble / strong.size
      assert(recall >= 0.7, s"simhash recall $recall too low")
    }
  }

  test("ngram jaccard: identical=1, disjoint=0") {
    import spark.implicits._
    val df = Seq(("a b c d e", "a b c d e", "v w x y z")).toDF("t1", "t2", "t3")
    val r = df.select(
      Dedup.ngramJaccard(col("t1"), col("t2")).as("same"),
      Dedup.ngramJaccard(col("t1"), col("t3")).as("diff")).head()
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
  }

  test("containmentPairs: doc-in-doc reads 1.0, common shingles capped out, rounding-gate filter") {
    import spark.implicits._
    val small = "p q r s t u"                    // 4 distinct 3-shingles
    val docs = Seq(
      (1L, small),                               // fully contained in 2
      (2L, s"a b c d e $small f g h i j"),       // the wrapper page
      (3L, "k l m n o k l m n o k l m n o"),     // self-repetitive, unrelated
      (4L, "z y x w v u t")                      // shares only low overlap
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, maxDf = 8, minShared = 2, minContain = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // doc 1's 4 shingles all appear inside doc 2 -> containment 1.0, while
    // jaccard is small (4 / (4 + 14 - 4)); no other pair clears 0.5
    assert(out.keySet == Set((1L, 2L)), s"got $out")
    val (shared, sa, _, cont) = out((1L, 2L))
    assert(sa == 4L && shared == 4L && cont == 1.0)
    // a shingle held by more docs than maxDf generates NO candidates:
    // with maxDf = 1 no shingle can pair two docs
    assert(Dedup.containmentPairs(docs, "doc_id", "text",
      n = 3, maxDf = 1, minShared = 1, minContain = 0.0).count() == 0)
  }

  test("cosine LSH near-dup pairs are a subset of brute-force pairs") {
    val e = table("embeddings")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val lsh = Dedup.cosineNearDupPairs(e, "vec_id", "v", threshold = 0.95, planes = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"))
    val brute = a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("c", Vectors.cosine(col("va"), col("vb")))
      .filter(col("c") >= 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(brute)) // LSH has exact verification -> perfect precision
    if (brute.nonEmpty) {
      val recall = brute.count(lsh.contains).toDouble / brute.size
      assert(recall >= 0.4, s"sign-LSH recall $recall too low for 4 planes")
    }
  }

  test("classifier: exact LONG margin, empty docs neutral, keep == margin>0") {
    import spark.implicits._
    import graft.functions.TextAnalysis
    val docs = table("documents")
    val out = docs.select(col("doc_id"),
      TextAnalysis.classifierMicroSum(col("text"), "clf-v1").as("ms"),
      TextAnalysis.classifierMargin(col("text"), "clf-v1").as("m")).cache()
    // margin bounded by construction (mean of weights in [-1, 1])
    assert(out.filter(col("m") > 1.0 || col("m") < -1.0).count() == 0)
    assert(out.filter((col("m") > 0) =!= (col("ms") > 0)).count() == 0)
    // the fold equals an explode-and-sum of per-token weights (order-free)
    val exploded = docs.select(col("doc_id"),
      explode(filter(TextAnalysis.tokens(col("text")), t => length(t) > 0)).as("tok"))
      .select(col("doc_id"), TextAnalysis.tokenMicroWeight(col("tok"), "clf-v1").as("w"))
      .groupBy("doc_id").agg(sum("w").as("ms2"))
    assert(out.join(exploded, Seq("doc_id"))
      .filter(col("ms") =!= col("ms2")).count() == 0)
    // empty/degenerate text scores a zero margin
    val z = Seq((1L, ""), (2L, "  !!  ")).toDF("doc_id", "text")
      .select(TextAnalysis.classifierMargin(col("text"), "clf-v1").as("m")).collect()
    assert(z.forall(_.getDouble(0) == 0.0))
    out.unpersist()
  }

  test("tokenPairs: adjacent pairs only, short docs yield none") {
    import spark.implicits._
    import graft.functions.TextAnalysis
    val df = Seq((1L, "a b c b c"), (2L, "solo"), (3L, ""), (4L, "x y"))
      .toDF("doc_id", "text")
    val pairs = df.select(col("doc_id"),
      TextAnalysis.tokenPairs(col("text")).as("p")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(pairs(1L) == Seq("a b", "b c", "c b", "b c"))
    assert(pairs(2L).isEmpty && pairs(3L).isEmpty)
    assert(pairs(4L) == Seq("x y"))
    // corpus-level merge scoring: the most frequent adjacent pair wins
    val top = df.select(explode(TextAnalysis.tokenPairs(col("text"))).as("pair"))
      .groupBy("pair").count().orderBy(col("count").desc, col("pair")).head()
    assert(top.getString(0) == "b c" && top.getLong(1) == 2)
  }

  test("incremental dedup: prebuilt index equals inline, pairs cross the split") {
    val docs = table("documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val incoming = docs.filter(col("doc_id") % 5 === 0)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    val inline = Dedup.minhashAgainstIndex(corpus, incoming, "doc_id", "text",
      n = 3, k = 64, bands = 32, threshold = 0.8).collect().map(key).toSet
    // steady state: the corpus index is built once and reused per batch
    val idx = Dedup.minhashIndex(corpus, "doc_id", "text", n = 3, k = 64, bands = 32)
    val viaIndex = Dedup.minhashAgainstIndex(corpus, incoming, "doc_id", "text",
      n = 3, k = 64, bands = 32, threshold = 0.8, index = Some(idx))
      .collect().map(key).toSet
    assert(inline == viaIndex, s"index path diverged: ${inline.size} vs ${viaIndex.size}")
    assert(inline.nonEmpty, "expected near-dup pairs across the corpus/batch split")
    // every new_id is from the batch, every match_id from the corpus
    assert(inline.forall { case (n, c) => n % 5 == 0 && c % 5 != 0 })
  }

  test("minhashAgainstIndex: probed-bucket cap equals the corpus-wide cap (round 16)") {
    import spark.implicits._
    // 4 identical boilerplate docs in the corpus form a degenerate band
    // bucket; with maxBucket = 3 that bucket must be dropped even though
    // the cap is now counted only over PROBED buckets — an incoming
    // identical doc probes it, the count (4 > 3) excludes it, and the doc
    // matches nothing. A 2-member near-dup bucket stays under the cap and
    // still matches.
    val boiler = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq(
      (1L, boiler), (2L, boiler), (3L, boiler), (4L, boiler),
      (5L, "entirely different content about distributed query engines at scale yes"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, boiler),
      (11L, "entirely different content about distributed query engines at scale no"))
      .toDF("doc_id", "text")
    def run(cap: Int) = Dedup.minhashAgainstIndex(corpus, incoming, "doc_id",
        "text", n = 3, k = 64, bands = 32, threshold = 0.5, maxBucket = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = run(3)
    assert(!capped.exists(_._1 == 10L),
      "the over-cap boilerplate bucket must generate no candidates")
    assert(capped.contains((11L, 5L)),
      "an under-cap bucket must still match across the split")
    // with the cap open, the boilerplate matches reappear — proving the
    // cap (not the probe restriction) is what excluded them
    val open = run(2000)
    assert(Set(1L, 2L, 3L, 4L).subsetOf(open.filter(_._1 == 10L).map(_._2)))
  }

  test("triangleCounts: cliques count, chains don't, each triangle once") {
    import spark.implicits._
    // K4 on 1-4 (4 triangles, each node in 3), a chain 5-6-7 (0 triangles)
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 6L), (6L, 7L)).toDF("id_a", "id_b")
    val out = Dedup.triangleCounts(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3, 2L -> 3, 3L -> 3, 4L -> 3, 5L -> 0, 6L -> 0, 7L -> 0))
    // orientation-insensitive: reversed and duplicated edges change nothing
    val noisy = pairs.union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    assert(Dedup.triangleCounts(noisy)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == out)
  }

  test("keepBest: longest member survives, ties break to smallest id, drop list complete") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta"),                 // cluster {1,2,3}: 3 is longest
      (2L, "alpha beta gamma"),
      (3L, "alpha beta gamma delta"),
      (4L, "same length text"),           // cluster {4,5}: tie -> keep 4
      (5L, "same length text"),
      (6L, "isolated document")           // no cluster: never appears
    ).toDF("doc_id", "text")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster")
    val out = Dedup.keepBest(labels, d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out == Map(
      1L -> (1L, 3L, 3L), 2L -> (1L, 3L, 3L),   // dropped, kept=3, 3 members
      5L -> (4L, 4L, 2L)))                      // tie broke to 4
    // the anti-join of the corpus against the drop list IS the dedup corpus
    val kept = d.join(Dedup.keepBest(labels, d, "doc_id", "text"),
      Seq("doc_id"), "left_anti").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(3L, 4L, 6L))
  }

  test("editVerify: exact Levenshtein on the pair set, identical docs score 1.0") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fox"),         // identical to 1
      (3L, "the quick brown fux"),         // 1 substitution from 1
      (4L, "entirely different content")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val out = Dedup.editVerify(pairs, "id_a", "id_b", d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out((1L, 2L)) == (0L, 1.0))
    assert(out((1L, 3L))._1 == 1L)
    assert(out((1L, 3L))._2 > 0.9 && out((1L, 4L))._2 < 0.5)
    // on the corpus: one verified row per candidate pair
    val cand = Dedup.minhashPairs(docs, "doc_id", "text", n = 3, k = 64,
      bands = 32, threshold = 0.8)
    val verified = Dedup.editVerify(cand, "id_a", "id_b", docs, "doc_id", "text")
    assert(verified.count() == cand.count())
  }

  test("thresholdCurve: hand-computed pair/doc counts per threshold, monotone down") {
    import spark.implicits._
    // shingle sets (n=3): docs 0,1 identical (j=1.0); doc 2 shares one of
    // two shingles with each (j = 1/3); doc 3 disjoint
    val docs = Seq((0L, "x y z w"), (1L, "x y z w"), (2L, "x y z q"),
      (3L, "p q r s")).toDF("doc_id", "text")
    val out = Dedup.thresholdCurve(docs, "doc_id", "text", Seq(0.3, 0.9))
      .collect().map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(
      0.3 -> (3L, 3L), // (0,1) (0,2) (1,2) over docs {0,1,2}
      0.9 -> (1L, 2L)), s"got $out") // only the identical pair survives
    // a threshold above every pair's jaccard yields an explicit zero row
    val zero = Dedup.thresholdCurve(docs, "doc_id", "text", Seq(1.1)).head()
    assert(zero.getLong(1) == 0L && zero.getLong(2) == 0L)
  }

  test("noveltyScores: duplicated docs read 0 novelty, unique read 1, short docs measurable-free") {
    import spark.implicits._
    val long = (1 to 12).map(i => s"w$i").mkString(" ")
    val unique = (1 to 12).map(i => s"u$i").mkString(" ")
    val docs = Seq((1L, long), (2L, long), (3L, unique), (4L, "too short"))
      .toDF("doc_id", "text")
    val out = Dedup.noveltyScores(docs, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    // 12 tokens, k=8 -> 5 gram positions per doc; docs 1/2 mirror each other
    assert(out(1L) == (5L, 5L, 1.0, 0.0) && out(2L) == (5L, 5L, 1.0, 0.0))
    assert(out(3L) == (5L, 0L, 0.0, 1.0))
    // under k tokens: no measurable grams, novelty defaults to 1
    assert(out(4L) == (0L, 0L, 0.0, 1.0))
  }

  test("minhashEval: identical pairs always caught, rollup invariants, S-curve high at j=1") {
    import spark.implicits._
    val docs = Seq((0L, "x y z w"), (1L, "x y z w"), (2L, "x y z q"),
      (3L, "p q r s"), (4L, "p q r s t")).toDF("doc_id", "text")
    val out = Dedup.minhashEval(docs, "doc_id", "text",
        thresholds = Seq(0.3, 0.99), k = 16, bands = 4)
      .collect().map(r => r.getDouble(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getDouble(5), r.getDouble(6))).toMap
    // j=1 pairs share every shingle, hence every signature value, hence
    // every band: recall at 0.99 is exactly 1 and the S-curve reads 1
    val (t99n, t99c, _, t99r, _, t99e) = out(0.99)
    assert(t99n == 1L && t99c == 1L && t99r == 1.0 && t99e == 1.0)
    // invariants at every threshold: caught <= true, caught <= candidates,
    // rates in [0,1], candidates constant across thresholds
    out.values.foreach { case (nt, nc, ncand, rec, prec, exp) =>
      assert(nc <= nt && nc <= ncand)
      assert(rec >= 0.0 && rec <= 1.0 && prec >= 0.0 && prec <= 1.0)
      assert(exp >= 0.0 && exp <= 1.0)
    }
    assert(out(0.3)._3 == out(0.99)._3, "candidate set is threshold-free")
    // a threshold above every pair yields explicit zeros, not NaN
    val zero = Dedup.minhashEval(docs, "doc_id", "text", Seq(1.1), k = 16, bands = 4).head()
    assert(zero.getLong(1) == 0L && zero.getDouble(4) == 0.0 && zero.getDouble(6) == 0.0)
  }

  test("cutSpans removes exactly the duplicated spans and keeps clean docs intact") {
    import spark.implicits._
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    val d = Seq(
      (1L, s"unique one two three $shared nine ten eleven twelve"),
      (2L, s"other opening words here $shared closing words differ four"),
      (3L, "completely original content with no repeated grams at all today")
    ).toDF("doc_id", "text")
    val out = Dedup.cutSpans(d, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // the shared 8-gram is cut from both carriers, untouched docs pass through
    assert(out(3)._1 == "completely original content with no repeated grams at all today")
    assert(out(3)._3 == 0)
    Seq(1L, 2L).foreach { id =>
      val (clean, kept, cut) = out(id)
      assert(cut == 8, s"doc $id should lose the 8 shared tokens, lost $cut")
      assert(!clean.contains("alpha") && !clean.contains("hotel"))
      assert(kept + cut == 16, s"doc $id kept+cut must equal its 16 tokens")
    }
    // survivors keep their original order
    assert(out(1L)._1 == "unique one two three nine ten eleven twelve")
    // accounting holds corpus-wide on real data
    val real = Dedup.cutSpans(docs, "doc_id", "text", k = 8)
    assert(real.count() == docs.count(), "every document appears in the output")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", k = 8)
    val cutDocs = spans.select("doc_id").distinct().count()
    assert(real.filter(col("n_cut") > 0).count() == cutDocs)
  }

  test("duplicateWeights: 1/n weights, singletons keep certainly, clusters keep ~once") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("doc_id", "cluster")
    val docs = (1L to 5L).toDF("doc_id")
    val out = Dedup.duplicateWeights(labels, docs, "doc_id", salt = "t")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getBoolean(5))).toMap
    assert(out.size == 5, "every doc appears")
    assert(out(1L)._2 == 2L && out(1L)._3 == 0.5 && out(1L)._4 == 5000L)
    assert(out(2L)._1 == 1L, "members carry their cluster label")
    // size-1 clusters and unclustered docs: weight 1, kept with certainty
    Seq(3L, 4L, 5L).foreach { d =>
      assert(out(d) == ((if (d == 3L) 3L else d, 1L, 1.0, 10000L, true)), s"doc $d: ${out(d)}")
    }
    // the kept flag is exactly the hash-threshold draw
    val h1 = graft.functions.Sampling.hashBucket(col("doc_id"), 10000, "t")
    val expect = docs.filter(col("doc_id") <= 2).select(col("doc_id"), (h1 < 5000L).as("k"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out(1L)._5 == expect(1L) && out(2L)._5 == expect(2L))
  }
}
