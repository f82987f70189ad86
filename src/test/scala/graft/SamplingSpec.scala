package graft

import org.apache.spark.sql.functions._
import graft.functions.Sampling

/** Deterministic sampling/split properties: stability across runs, quota
  * enforcement, weight accuracy, salt independence.
  */
class SamplingSpec extends SparkSpec {

  test("splitAssign: stable across evaluations, weights approximately honored") {
    val docs = table("documents")
    val split = Sampling.splitAssign(col("doc_id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s1")
    val counts = docs.select(split.as("s")).groupBy("s").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum.toDouble
    assert(counts.keySet == Set("train", "val", "test"))
    assert(math.abs(counts("train") / total - 0.8) < 0.1)
    // determinism: re-evaluating yields the identical assignment
    val a = docs.select(col("doc_id"), split.as("s")).collect().toSet
    val b = docs.select(col("doc_id"), split.as("s")).collect().toSet
    assert(a == b)
    // a different salt draws a different (independent) split
    val other = docs.select(col("doc_id"),
      Sampling.splitAssign(col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "s2").as("s")).collect().toSet
    assert(other != a)
  }

  test("sampleByHash keeps a stable ~fraction subset") {
    val docs = table("documents")
    val n = docs.count().toDouble
    val s1 = Sampling.sampleByHash(docs, "doc_id", 0.3, salt = "x")
    assert(math.abs(s1.count() / n - 0.3) < 0.1)
    // subset property: a smaller fraction is contained in a larger one
    val ids10 = Sampling.sampleByHash(docs, "doc_id", 0.1, salt = "x")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val ids30 = s1.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids10.subsetOf(ids30), "hash samples must be nested by fraction")
  }

  test("epochShuffle: deterministic, epoch-decorrelated, shards bounded and balanced-ish") {
    val docs = table("documents")
    val e3 = Sampling.epochShuffle(docs, "doc_id", epoch = 3, nShards = 8)
    val again = Sampling.epochShuffle(docs, "doc_id", epoch = 3, nShards = 8)
    assert(e3.collect().toSeq == again.collect().toSeq, "same epoch must re-deal identically")
    val rows = e3.collect().map(r => (r.getLong(0), r.getInt(2), r.getLong(3)))
    assert(rows.forall { case (_, s, _) => s >= 0 && s < 8 })
    // a different epoch re-deals: order keys must differ for nearly all docs
    val e4 = Sampling.epochShuffle(docs, "doc_id", epoch = 4, nShards = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val same = rows.count { case (id, _, k) => e4(id) == k }
    assert(same == 0, s"epoch 3 and 4 shared $same sort keys")
    // md5 sharding is roughly balanced (no empty shard on 500 docs)
    val perShard = rows.groupBy(_._2).view.mapValues(_.size)
    assert(perShard.size == 8 && perShard.values.min > 20, s"shards $perShard")
  }

  test("gumbelTopK: deterministic softmax draw, temperature controls concentration") {
    import spark.implicits._
    import graft.functions.Sampling
    // two score tiers: at high invTemp the draw concentrates on tier 1
    val df = ((0L until 50L).map(i => (i, 1.0)) ++
      (50L until 100L).map(i => (i, 0.0))).toDF("id", "s")
    val hot = Sampling.gumbelTopK(df, "id", col("s"), k = 20,
      invTemp = 12.0, salt = "t").collect().map(_.getLong(0))
    assert(hot.length == 20)
    assert(hot.count(_ < 50) >= 18,
      s"e^12 weight ratio must dominate: ${hot.count(_ < 50)}/20 from tier 1")
    // invTemp near 0 approaches a uniform draw: both tiers appear
    val cold = Sampling.gumbelTopK(df, "id", col("s"), k = 20,
      invTemp = 0.001, salt = "t").collect().map(_.getLong(0))
    assert(cold.count(_ < 50) > 0 && cold.count(_ >= 50) > 0)
    // deterministic across evaluations
    val again = Sampling.gumbelTopK(df, "id", col("s"), k = 20,
      invTemp = 12.0, salt = "t").collect().map(_.getLong(0))
    assert(hot.sameElements(again))
  }

  test("stratifiedSample enforces the per-group quota deterministically") {
    val docs = table("documents")
    val out = Sampling.stratifiedSample(docs, Seq("source"), "doc_id", 3, "q")
    val over = out.groupBy("source").count().filter(col("count") > 3).count()
    assert(over == 0)
    val again = Sampling.stratifiedSample(docs, Seq("source"), "doc_id", 3, "q")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == out.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("weightedSample and stratifiedSample reject an empty group instead of one global window") {
    val docs = table("documents")
    val ws = intercept[IllegalArgumentException] {
      Sampling.weightedSample(docs, Nil, "doc_id", lit(1.0), k = 3)
    }
    val ss = intercept[IllegalArgumentException] {
      Sampling.stratifiedSample(docs, Nil, "doc_id", 3)
    }
    assert(ws.getMessage.contains("empty group") && ss.getMessage.contains("empty group"))
  }

  test("leakageSafeSplit: near-dup pairs never straddle a split boundary") {
    import graft.functions.Dedup
    val docs = table("documents")
    val out = Sampling.leakageSafeSplit(docs, "doc_id", "text",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      n = 3, k = 64, bands = 32, threshold = 0.8, salt = "t").cache()
    assert(out.count() == docs.count())
    // the guard property: one split per cluster
    assert(out.groupBy("cluster").agg(countDistinct("split").as("s"))
      .filter(col("s") > 1).count() == 0)
    // and concretely: every near-dup pair shares a split
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", n = 3, k = 64,
      bands = 32, threshold = 0.8)
    val straddle = pairs
      .join(out.select(col("doc_id").as("id_a"), col("split").as("sa")), Seq("id_a"))
      .join(out.select(col("doc_id").as("id_b"), col("split").as("sb")), Seq("id_b"))
      .filter(col("sa") =!= col("sb")).count()
    assert(straddle == 0, s"$straddle near-dup pairs crossed splits")
    assert(pairs.count() > 0, "corpus must actually contain near-dup pairs")
    // split proportions still roughly honored
    val frac = out.filter(col("split") === "train").count().toDouble / out.count()
    assert(math.abs(frac - 0.8) < 0.1, s"train fraction $frac far from 0.8")
    out.unpersist()
  }

  test("temporalSplit: calendar cut, embargo band discards the boundary") {
    import spark.implicits._
    val day = 86400000000L
    // 10 active days (0..9): cut after day 7 (ceil(10*0.8)=8 days train),
    // day 8 is the embargo band, day 9 is test
    val ev = (0 until 10).flatMap(d => Seq((d * 10L, d * day), (d * 10L + 1, d * day + 1000L)))
      .toDF("event_id", "t").withColumn("ts", timestamp_micros(col("t"))).drop("t")
    val out = Sampling.temporalSplit(ev, "ts")
      .select(col("event_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(70L) == "train" && out(71L) == "train")
    assert(out(80L) == "embargo" && out(90L) == "test")
    assert((0 until 8).forall(d => out(d * 10L) == "train"))
    // no row is unclassified and the split is deterministic across runs
    val again = Sampling.temporalSplit(ev, "ts")
      .select(col("event_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == out)
  }

  test("weightedSample: quota, determinism, weight bias, zero-weight exclusion") {
    import graft.functions.TextAnalysis
    val docs = table("documents")
      .withColumn("w", TextAnalysis.tokenCount(col("text")).cast("long"))
    val out = Sampling.weightedSample(docs, Seq("lang"), "doc_id",
      col("w"), k = 10, salt = "t").cache()
    // quota: never more than k rows per group, ranks are 1..n
    assert(out.groupBy("lang").count().filter(col("count") > 10).count() == 0)
    assert(out.filter(col("sample_rank") < 1 || col("sample_rank") > 10).count() == 0)
    // determinism across evaluations
    val a = out.select("doc_id", "sample_rank").collect().toSet
    val b = Sampling.weightedSample(docs, Seq("lang"), "doc_id",
      col("w"), k = 10, salt = "t").select("doc_id", "sample_rank").collect().toSet
    assert(a == b)
    // weight bias: sampling by token mass must overrepresent long documents
    val corpusMean = docs.agg(avg(col("w"))).head().getDouble(0)
    val sampleMean = out.agg(avg(col("w"))).head().getDouble(0)
    assert(sampleMean > corpusMean,
      s"token-weighted sample mean $sampleMean must exceed corpus mean $corpusMean")
    // zero/negative weights can never be drawn
    val zw = Sampling.weightedSample(
      docs.withColumn("w", when(col("doc_id") % 2 === 0, 0L).otherwise(col("w"))),
      Seq("lang"), "doc_id", col("w"), k = 1000, salt = "t")
    assert(zw.filter(col("doc_id") % 2 === 0).count() == 0)
    out.unpersist()
  }

  test("packing: contiguous per-shard layout, bounded offsets, append-stable") {
    import graft.functions.{Packing, TextAnalysis}
    val docs = table("documents")
    val out = Packing.packPlan(docs, "doc_id",
      TextAnalysis.tokenCount(col("text")), shards = 8, ctxLen = 256).cache()
    assert(out.count() == docs.count())
    assert(out.filter(col("off") < 0 || col("off") >= 256).count() == 0)
    // per shard, in id order, each doc starts exactly where the previous ended
    val rows = out.collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .groupBy(_._1)
    rows.values.foreach { docsInShard =>
      var expectStart = 0L
      docsInShard.sortBy(_._2).foreach { case (_, id, nTok, pack, off) =>
        assert(pack * 256 + off == expectStart, s"doc $id must start at $expectStart")
        expectStart += nTok
      }
    }
    // append stability: packing a prefix (lower ids) gives identical addresses
    val prefix = Packing.packPlan(docs.filter(col("doc_id") < 100), "doc_id",
      TextAnalysis.tokenCount(col("text")), shards = 8, ctxLen = 256)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    val full = out.collect().filter(_.getLong(0) < 100)
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    assert(prefix == full, "adding later documents must not move earlier ones")
    out.unpersist()
  }

  test("mixtureSample: deterministic rates, budget honored, unknown groups dropped") {
    import graft.functions.TextAnalysis
    val docs = table("documents")
    val shares = Map("en" -> 0.5, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.1, "zh" -> 0.1)
    val out = Sampling.mixtureSample(docs, "lang", "doc_id",
      TextAnalysis.tokenCount(col("text")), shares, budgetFrac = 0.5, salt = "m1").cache()
    assert(out.count() == docs.count(), "every row appears with a kept flag")
    assert(out.filter(col("rate_bp") < 0 || col("rate_bp") > 10000).count() == 0)
    // kept token total is near (never wildly over) the budget: rates are
    // exact, membership is Bernoulli-by-hash, so allow sampling slack
    val total = out.agg(sum(col("n_tokens"))).head().getLong(0).toDouble
    val kept = out.filter(col("kept")).agg(sum(col("n_tokens"))).head().getLong(0).toDouble
    assert(kept <= total * 0.65 && kept >= total * 0.3,
      s"kept $kept of $total tokens vs budget 0.5")
    // rates follow target/actual ratio: zh sits above its 10% target
    // (~15% of tokens) so it is downsampled harder than en, which sits
    // below its 50% target (~44% of tokens)
    val rates = out.groupBy("lang").agg(max("rate_bp").as("r")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates("zh") < rates("en"),
      "a language above its target share must get a lower keep rate")
    // determinism across evaluations
    val a = out.select("doc_id", "kept").collect().toSet
    val b = Sampling.mixtureSample(docs, "lang", "doc_id",
      TextAnalysis.tokenCount(col("text")), shares, budgetFrac = 0.5, salt = "m1")
      .select("doc_id", "kept").collect().toSet
    assert(a == b)
    // a group absent from the share map keeps nothing
    val zero = Sampling.mixtureSample(docs, "lang", "doc_id",
      TextAnalysis.tokenCount(col("text")), Map("en" -> 1.0), budgetFrac = 0.5,
      salt = "m1")
    assert(zero.filter(col("lang") =!= "en" && col("kept")).count() == 0)
    out.unpersist()
  }

  test("temperatureSample: α=1 is the natural mix, α<1 lifts the tail, shares sum to 1") {
    import graft.functions.TextAnalysis
    val docs = table("documents")
    // α = 1: share = mass/Σmass, so rate = budgetFrac for EVERY group
    val nat = Sampling.temperatureSample(docs, "lang", "doc_id",
      TextAnalysis.tokenCount(col("text")), alpha = 1.0, budgetFrac = 0.5,
      salt = "t1")
    assert(nat.select("rate_bp").distinct().collect().map(_.getLong(0)).toSeq
      == Seq(5000L), "α=1 must keep the natural distribution: flat budget rate")
    // α < 1 boosts small groups relative to large ones
    val out = Sampling.temperatureSample(docs, "lang", "doc_id",
      TextAnalysis.tokenCount(col("text")), alpha = 0.5, budgetFrac = 0.5,
      salt = "t1").cache()
    val mass = out.groupBy("lang").agg(sum("n_tokens").as("m"),
      max("rate_bp").as("r")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val biggest = mass.maxBy(_._2._1)._1
    val smallest = mass.minBy(_._2._1)._1
    assert(mass(smallest)._2 > mass(biggest)._2,
      "sub-linear temperature must upweight the smallest group")
    // target shares sum to ~1 (bp rounding slack of |groups|)
    val shareSum = out.groupBy("lang").agg(max("share_bp").as("s"))
      .agg(sum("s")).head().getLong(0)
    assert(math.abs(shareSum - 10000L) <= mass.size,
      s"shares must sum to one, got $shareSum bp")
    // determinism
    assert(out.select("doc_id", "kept").collect().toSet ==
      Sampling.temperatureSample(docs, "lang", "doc_id",
        TextAnalysis.tokenCount(col("text")), alpha = 0.5, budgetFrac = 0.5,
        salt = "t1").select("doc_id", "kept").collect().toSet)
    out.unpersist()
  }
}
