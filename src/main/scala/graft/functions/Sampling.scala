package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Scans.topPerGroup

/** Deterministic sampling and split assignment for training-data pipelines.
  *
  * Everything derives from the md5 of the row id (the same engine-
  * reproducible derivation the LSH planes use), never from RNG state: the
  * same row lands in the same split/sample on every run, on every engine,
  * at every scale — the property training pipelines need so that re-running
  * a 100 TB job never silently reshuffles train/val/test membership.
  * All pure codegen'd column expressions; assignment is scan-speed, the
  * stratified sample is one shuffle on the group key.
  */
object Sampling {

  /** low 60 bits of md5(id || salt) — the deterministic per-row randomness */
  def hash60(idCol: Column, salt: String = ""): Column =
    conv(substring(md5(concat(idCol.cast("string"), lit(salt))), 1, 15), 16, 10).cast("long")

  /** deterministic bucket in [0, buckets) (hash60 is non-negative) */
  def hashBucket(idCol: Column, buckets: Int = 10000, salt: String = ""): Column =
    hash60(idCol, salt) % buckets

  /** Named split assignment by weight (e.g. train 0.8 / val 0.1 / test 0.1):
    * the id's hash bucket falls into cumulative-weight ranges. Change `salt`
    * to draw an independent split; weights are granular to 1/buckets.
    */
  def splitAssign(idCol: Column, splits: Seq[(String, Double)],
                  buckets: Int = 10000, salt: String = ""): Column = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split weights must sum to 1")
    val b = hashBucket(idCol, buckets, salt)
    val thresholds = splits.scanLeft(0.0)(_ + _._2).tail.map(w => (w * buckets).round)
    splits.map(_._1).zip(thresholds).init.foldRight(lit(splits.last._1)) {
      case ((name, upper), acc) => when(b < upper, lit(name)).otherwise(acc)
    }
  }

  /** deterministic Bernoulli sample: keep ~fraction of rows, stable per id */
  def sampleByHash(df: DataFrame, idCol: String, fraction: Double,
                   buckets: Int = 10000, salt: String = ""): DataFrame =
    df.filter(hashBucket(col(idCol), buckets, salt) < (fraction * buckets).round)

  /** Data-mixture sampling: given target mixture shares per group (e.g.
    * language rebalancing: en 50%, de 15%, …) and a token budget expressed as
    * a fraction of the corpus, compute one deterministic per-group keep rate
    * and hash-filter rows to it.
    *
    * `rate_g = min(1, budget·share_g·totalTokens / tokens_g)`, held as an
    * integer threshold in [0, buckets] (floor(x·buckets + 0.5) — the same
    * engine-identical bias rounding the int8 quantizer uses), so membership
    * is a pure integer compare against the row's hash bucket.
    *
    * Two jobs by construction: one tiny per-group aggregation (|groups| rows,
    * broadcast back), then a scan-speed filter — no shuffle of the data
    * itself, which is what lets the same plan re-mix 100 TB in place.
    * Deterministic: same doc set + same shares ⇒ same membership, on every
    * engine, at every scale.
    *
    * Returns the input plus (n_tokens, rate_bp, kept).
    */
  /** Deterministic per-epoch global shuffle — the dataloader primitive run
    * before every training epoch: each document gets an epoch-seeded
    * pseudo-random sort key and a shard assignment, so every epoch visits
    * the corpus in a different (but exactly reproducible) order and every
    * worker reads only its shard. Changing `epoch` re-deals both.
    *
    * Scale shape: pure scan-speed md5 expressions — NO shuffle, NO sort:
    * the global order is REPRESENTED by (shard, sort_key), and only the
    * per-shard write (corpus/nShards rows) ever sorts, exactly how a
    * 100 TB epoch shuffle must work (materializing a total order would be
    * one global sort of the corpus per epoch). Keys are md5-derived —
    * engine-reproducible, uncorrelated across epochs.
    *
    * Returns the input ids plus (epoch, shard, sort_key); a reader streams
    * shard s in sort_key order (ties impossible at 60 bits in practice;
    * the id itself is the documented final tie-break).
    */
  def epochShuffle(df: DataFrame, idCol: String, epoch: Int,
                   nShards: Int): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    df.select(col(idCol),
      lit(epoch).as("epoch"),
      (hash60(col(idCol), s"epoch$epoch-shard") % nShards).cast("int").as("shard"),
      hash60(col(idCol), s"epoch$epoch-order").as("sort_key"))
  }

  def mixtureSample(df: DataFrame, groupCol: String, idCol: String,
                    tokenCount: Column, shares: Map[String, Double],
                    budgetFrac: Double, buckets: Int = 10000,
                    salt: String = ""): DataFrame = {
    require(math.abs(shares.values.sum - 1.0) < 1e-9, "mixture shares must sum to 1")
    val withToks = df.withColumn("__nt", tokenCount.cast("long"))
    val groupTotals = withToks.groupBy(col(groupCol))
      .agg(sum(col("__nt")).as("__gt"))
    val totals = groupTotals.agg(sum(col("__gt")).as("__tt"))
    val shareExpr = shares.toSeq.sortBy(_._1).foldRight(lit(0.0)) {
      case ((g, w), acc) => when(col(groupCol) === g, lit(w)).otherwise(acc)
    }
    val rated = withToks
      .join(broadcast(groupTotals), Seq(groupCol))
      .crossJoin(broadcast(totals))
      .withColumn("__rate", least(lit(1.0),
        lit(budgetFrac) * shareExpr * col("__tt").cast("double") / col("__gt").cast("double")))
      .withColumn("rate_bp", floor(col("__rate") * buckets + lit(0.5)).cast("long"))
    rated
      .withColumn("kept", hashBucket(col(idCol), buckets, salt) < col("rate_bp"))
      .withColumnRenamed("__nt", "n_tokens")
      .drop("__gt", "__tt", "__rate")
  }

  /** Temperature-scaled mixture sampling — the multilingual τ-sampling of
    * mBERT / XLM-R (Conneau & Lample 2019 §3.1: `p_g ∝ mass_g^α`): where
    * [[mixtureSample]] takes caller-specified shares, here the target share
    * of each group is computed FROM the corpus itself as
    * `mass^α / Σ mass^α` — α = 1 keeps the natural distribution, α → 0
    * approaches uniform, 0.7 is the published default. The rebalance a
    * multilingual / multi-source corpus runs when head languages would
    * otherwise drown the tail, without anyone hand-writing a share table
    * that goes stale on the next crawl.
    *
    * Scale shape: identical to [[mixtureSample]] — ONE tiny per-group token
    * aggregation (frozen: the shares and the totals both read it), share
    * arithmetic on the |groups|-row table with the powered masses staged in
    * DECIMAL(28,8) so the denominator Σ mass^α is an order-independent
    * exact sum, broadcast back; membership is a pure integer compare on md5
    * buckets — the corpus itself never shuffles, so the same plan re-mixes
    * 100 TB in place. Deterministic on every engine.
    *
    * Returns the input plus (n_tokens, share_bp, rate_bp, kept), with
    * `rate_g = min(1, budget · share_g · totalTokens / tokens_g)` held as
    * an integer threshold exactly like [[mixtureSample]].
    */
  def temperatureSample(df: DataFrame, groupCol: String, idCol: String,
                        tokenCount: Column, alpha: Double,
                        budgetFrac: Double, buckets: Int = 10000,
                        salt: String = ""): DataFrame = {
    val withToks = df.withColumn("__nt", tokenCount.cast("long"))
    val masses = org.apache.spark.sql.graftbridge.Bridge.freeze(
      withToks.groupBy(col(groupCol)).agg(sum(col("__nt")).as("__gt")))
    val rates = temperatureRates(masses, groupCol, alpha, budgetFrac, buckets)
      .select(col(groupCol), col("share_bp"), col("rate_bp"))
    withToks
      .join(broadcast(rates), Seq(groupCol))
      .withColumn("kept", hashBucket(col(idCol), buckets, salt) < col("rate_bp"))
      .withColumnRenamed("__nt", "n_tokens")
  }

  /** The per-group rate table behind [[temperatureSample]], computed from
    * an additive mass table (`groupCol`, `__gt` token mass) — split out so
    * the streaming mixture monitor can fold batch masses and read the SAME
    * rates the batch sampler derives. Returns (groupCol, mass, share_bp,
    * rate_bp); the |groups|-row frame is the only thing this touches.
    */
  def temperatureRates(masses: DataFrame, groupCol: String, alpha: Double,
                       budgetFrac: Double, buckets: Int = 10000): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    require(budgetFrac > 0.0 && budgetFrac <= 1.0, "budgetFrac must be in (0, 1]")
    val dec = DecimalType(28, 8)
    val powed = masses.withColumn("__pw",
      pow(col("__gt").cast("double"), lit(alpha)).cast(dec))
    val totals = powed.agg(sum(col("__gt")).as("__tt"), sum(col("__pw")).as("__pt"))
    powed.crossJoin(broadcast(totals))
      .withColumn("__share", col("__pw").cast("double") / col("__pt").cast("double"))
      .withColumn("share_bp", floor(col("__share") * buckets + lit(0.5)).cast("long"))
      .withColumn("rate_bp", floor(least(lit(1.0),
        lit(budgetFrac) * col("__share") * col("__tt").cast("double")
          / col("__gt").cast("double")) * buckets + lit(0.5)).cast("long"))
      .select(col(groupCol), col("__gt").as("mass"), col("share_bp"), col("rate_bp"))
  }

  /** Weighted reservoir sampling without replacement (Efraimidis–Spirakis
    * A-ES, "Weighted random sampling with a reservoir", IPL 2006): each row
    * draws `u = (hash60(id)+1)/2^60 ∈ (0,1]` and ranks by `ln(u)/w` — the
    * top `k` per group is EXACTLY a weighted sample without replacement,
    * so e.g. `w = n_tokens` samples documents proportional to their token
    * mass (the long-document-aware draw a token-budgeted corpus cut wants).
    *
    * Deterministic: u is md5-derived, never RNG state, so membership is
    * stable across runs/engines/scales like every sampler here. The rank
    * key stages in DECIMAL(18,8) with id tiebreak — the [[graft.functions.
    * Retrieval.tfidfKeywords]] ranking discipline — so the cut is
    * engine-identical. One shuffle on the group key; rows with w <= 0 are
    * excluded (zero-weight rows can never be drawn).
    *
    * Returns the input plus (sample_rank); rows beyond `k` are dropped.
    */
  def weightedSample(df: DataFrame, groupCols: Seq[String], idCol: String,
                     weight: Column, k: Int, salt: String = ""): DataFrame = {
    val u = (hash60(col(idCol), salt) + lit(1L)).cast("double") /
      lit(math.pow(2.0, 60))
    val key = (log(u) / weight.cast("double")).cast(DecimalType(18, 8))
    topPerGroup(df.filter(weight.cast("double") > 0.0).withColumn("__wk", key),
        groupCols.map(col), Seq(col("__wk").desc, col(idCol).asc), k, Some("sample_rank"))
      .withColumn("sample_rank", col("sample_rank").cast("long"))
      .drop("__wk")
  }

  /** Deterministic Gumbel-top-k selection — the softmax/temperature
    * sampling step after scoring (DSIR weights, quality scores, reward
    * models): rank by `invTemp·score + g` with `g = −ln(−ln(u))`, take the
    * top k. By the Gumbel-max trick this is an EXACT without-replacement
    * draw from softmax(invTemp·score) — temperature-controlled stochastic
    * selection that still favors high scores, where a hard top-k would
    * collapse onto one mode and uniform sampling would ignore the scores.
    * `u` derives from md5 (the [[weightedSample]] discipline), so the
    * "random" draw is reproducible across runs, engines and scales.
    *
    * Scale shape: scan-speed key computation + TakeOrdered top-k
    * (per-partition heads, no global sort, no shuffle).
    *
    * Returns k rows (idCol, score, gumbel_key), highest keys first.
    */
  def gumbelTopK(df: DataFrame, idCol: String, score: Column, k: Int,
                 invTemp: Double = 1.0, salt: String = "gumbel"): DataFrame = {
    require(k > 0 && invTemp > 0, "k and invTemp must be positive")
    val dec = DecimalType(18, 8)
    val u = (hash60(col(idCol), salt) + lit(1L)).cast("double") /
      lit(math.pow(2.0, 60))
    val g = -log(-log(u))
    df.select(col(idCol), score.cast("double").as("score"))
      .withColumn("gumbel_key",
        round((lit(invTemp) * col("score") + g).cast(dec), 6).cast("double"))
      .orderBy(col("gumbel_key").desc, col(idCol).asc)
      .limit(k)
  }

  /** Leakage-safe train/val/test assignment: near-duplicate documents MUST
    * land in the same split (a benchmark answer's paraphrase in train
    * poisons the test set), so the split key is the near-dup CLUSTER label
    * — the connected component's smallest doc id from
    * [[Dedup.clusters]] — not the document id; singletons key by their own
    * id. Same md5-derived bucket ranges as [[splitAssign]], so membership
    * stays deterministic and engine-reproducible; whole clusters move
    * between splits atomically.
    *
    * Returns (idCol, cluster, split) — `cluster` is the split key used.
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
                       splits: Seq[(String, Double)],
                       n: Int = 3, k: Int = 64, bands: Int = 16,
                       threshold: Double = 0.7,
                       buckets: Int = 10000, salt: String = ""): DataFrame = {
    val labels = Dedup.clusters(
        Dedup.minhashPairs(df, idCol, textCol, n, k, bands, threshold))
      .select(col("doc_id").as(idCol), col("cluster"))
    df.select(col(idCol)).join(labels, Seq(idCol), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(idCol)).cast("long"))
      .withColumn("split", splitAssign(col("cluster"), splits, buckets, salt))
  }

  /** Temporal embargo split: train on the first `trainFrac` of active
    * CALENDAR DAYS, drop an `embargoDays`-day gap, test on the rest — the
    * time-leakage twin of [[leakageSafeSplit]]: near-boundary rows whose
    * signal bleeds across the cut (a document recrawled hours later, a
    * user session spanning midnight) land in the discarded embargo band
    * instead of straddling train/test.
    *
    * The cut is derived from the day-grain calendar, not the row stream:
    * distinct days collapse to a calendar-bounded frame, the cut day is a
    * distributed TakeOrdered + max over it (no corpus-wide window, no
    * driver-side sort), and the single-row cutoff broadcasts back onto the
    * scan — rows classify at scan speed. Deterministic by construction:
    * the same data always cuts on the same day.
    *
    * Returns the input with a `split` column: 'train' | 'embargo' | 'test'.
    */
  def temporalSplit(df: DataFrame, tsCol: String, trainFrac: Double = 0.8,
                    embargoDays: Int = 1): DataFrame = {
    val days = df.select(to_date(col(tsCol)).as("__day")).distinct()
    val k = math.ceil(days.count() * trainFrac).toLong
    val cut = days.orderBy(col("__day")).limit(k.toInt)
      .agg(max(col("__day")).as("__cut"))
    df.crossJoin(broadcast(cut))
      .withColumn("split",
        when(to_date(col(tsCol)) <= col("__cut"), lit("train"))
          .when(to_date(col(tsCol)) <= date_add(col("__cut"), embargoDays),
            lit("embargo"))
          .otherwise(lit("test")))
      .drop("__cut")
  }

  /** Stratified deterministic sample: at most `maxPerGroup` rows per group,
    * chosen in hash order (ties broken by id) — per-domain quota sampling
    * for data mixing, reproducible across runs. One shuffle on the group
    * key; groups are independent so skew is bounded by the largest group's
    * row count, not the table.
    */
  def stratifiedSample(df: DataFrame, groupCols: Seq[String], idCol: String,
                       maxPerGroup: Int, salt: String = ""): DataFrame =
    topPerGroup(df, groupCols.map(col), Seq(hash60(col(idCol), salt).asc, col(idCol).asc),
      maxPerGroup)
}
