package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Single-pass corpus statistics for curation-threshold selection: a
  * fixed-width histogram of a value column (quality score, token count,
  * event value) and quantile estimates read off its cumulative counts.
  *
  * The histogram is ONE map-side-combined aggregation over the raw data —
  * the only pass that touches 100 TB. Everything after runs on the bin
  * table, whose size is bounded by the value range over the bin width, not
  * by the data; the cumulative counts come from a bin×bin self-join on the
  * bounded table rather than an unpartitioned window (which would plan a
  * single-partition sort — the exact WindowExec scale defect this codebase
  * bans). Exact integer semantics throughout: a quantile answer is
  * "the first bin whose cumulative count reaches q·N", reproducible
  * bit-for-bit by any engine.
  */
object Stats {

  /** Histogram-quantile estimates of `valueCol` at each q in `qs`.
    * Returns one row per quantile: (q, bin, lo, hi, cum_count, total) where
    * [lo, hi) are the bin edges (`bin*width`, `(bin+1)*width`) and `hi` is
    * the conservative threshold estimate ("q of the data sits below hi").
    */
  def histogramQuantiles(df: DataFrame, valueCol: String, width: Double,
                         qs: Seq[Double]): DataFrame = {
    require(width > 0 && qs.nonEmpty, "width must be positive, qs non-empty")
    // materialize the bin table: every downstream branch (cumulative
    // self-join, total, one filter per quantile) reads it, and freezing it
    // here is what makes "one pass over the raw data" literally true
    val bins = org.apache.spark.sql.graftbridge.Bridge.freeze(
      df.select(floor(col(valueCol) / width).cast("long").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("cnt")))
    quantilesOfBins(bins, width, qs)
  }

  /** [[histogramQuantiles]]' quantile-pick stage over an already-built
    * (bin, cnt) table — exposed so the streaming
    * [[graft.streaming.Streaming.QuantileMonitor]] reads the identical
    * thresholds off its accreted (and additive, hence order-independent)
    * bin state.
    */
  def quantilesOfBins(bins: DataFrame, width: Double,
                      qs: Seq[Double]): DataFrame = {
    require(width > 0 && qs.nonEmpty, "width must be positive, qs non-empty")
    // cumulative count per bin without a global window: self-join on the
    // bounded bin table (B² pairs of a data-independent B)
    val a = bins.select(col("bin"))
    val b = bins.select(col("bin").as("__b2"), col("cnt").as("__c2"))
    val cum = a.join(b, col("__b2") <= col("bin"))
      .groupBy(col("bin")).agg(sum(col("__c2")).as("cum_count"))
    val total = bins.agg(sum(col("cnt")).as("total"))
    val edges = cum.crossJoin(broadcast(total))
    // per quantile: the first bin whose cumulative count reaches q·N
    qs.map { q =>
      edges.filter(col("cum_count").cast("double") >= lit(q) * col("total"))
        .orderBy(col("bin").asc).limit(1)
        .select(lit(q).as("q"), col("bin"),
          (col("bin") * width).as("lo"), ((col("bin") + 1) * width).as("hi"),
          col("cum_count"), col("total"))
    }.reduce(_.unionAll(_))
  }

  /** Per-group histogram quantiles — adaptive threshold selection (e.g. a
    * per-language quality floor: each language's p25 rather than one global
    * cut, the way multilingual curation avoids starving low-resource
    * slices). Same shape as [[histogramQuantiles]] with every step keyed by
    * the group: ONE raw-data aggregation to (group × bin) rows, cumulative
    * counts from a group-local bin self-join, and the per-quantile pick is
    * a window PARTITIONED BY GROUP (thousands of independent tiny windows —
    * parallel, unlike the unpartitioned global sort this codebase bans).
    *
    * Returns one row per (group, q): (groupCol, q, bin, lo, hi, cum_count,
    * total).
    */
  def groupedHistogramQuantiles(df: DataFrame, groupCol: String,
                                valueCol: String, width: Double,
                                qs: Seq[Double]): DataFrame = {
    require(width > 0 && qs.nonEmpty, "width must be positive, qs non-empty")
    val bins = org.apache.spark.sql.graftbridge.Bridge.freeze(
      df.select(col(groupCol), floor(col(valueCol) / width).cast("long").as("bin"))
        .groupBy(col(groupCol), col("bin")).agg(count(lit(1)).as("cnt")))
    val a = bins.select(col(groupCol), col("bin"))
    val b = bins.select(col(groupCol).as("__g2"), col("bin").as("__b2"), col("cnt").as("__c2"))
    val cum = a.join(b, col("__g2") === col(groupCol) && col("__b2") <= col("bin"))
      .groupBy(col(groupCol), col("bin")).agg(sum(col("__c2")).as("cum_count"))
    val totals = bins.groupBy(col(groupCol)).agg(sum(col("cnt")).as("total"))
    val edges = cum.join(graft.core.Joins.maybeBroadcast(totals), Seq(groupCol))
    qs.map { q =>
      graft.core.Scans.topPerGroup(
          edges.filter(col("cum_count").cast("double") >= lit(q) * col("total")),
          Seq(col(groupCol)), Seq(col("bin").asc), 1)
        .select(col(groupCol), lit(q).as("q"), col("bin"),
          (col("bin") * width).as("lo"), ((col("bin") + 1) * width).as("hi"),
          col("cum_count"), col("total"))
    }.reduce(_.unionAll(_))
  }

  /** Per-group winsorization — outlier clipping for feature preparation:
    * clamp `valueCol` into each group's [lowQ, highQ] histogram-quantile
    * band (lower bound = the low pick's bin floor, upper = the high pick's
    * bin ceiling — conservative outward, so at least lowQ..highQ of the
    * data is untouched). The action step of
    * [[groupedHistogramQuantiles]]: ONE raw aggregation for the bin table,
    * thresholds broadcast back, the clamp itself is a scan-speed
    * expression over the unshuffled input.
    *
    * Returns the input plus (value_clipped, clip_lo, clip_hi).
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
                width: Double, lowQ: Double, highQ: Double): DataFrame = {
    require(lowQ < highQ, "lowQ must be below highQ")
    val qs = groupedHistogramQuantiles(df, groupCol, valueCol, width, Seq(lowQ, highQ))
    val bounds = qs.groupBy(col(groupCol)).agg(
      min(when(col("q") === lowQ, col("lo"))).as("clip_lo"),
      min(when(col("q") === highQ, col("hi"))).as("clip_hi"))
    df.join(broadcast(bounds), Seq(groupCol))
      .withColumn("value_clipped",
        least(greatest(col(valueCol), col("clip_lo")), col("clip_hi")))
  }

  /** row-`j` counter position of `key` in a width-`width` Count-Min row:
    * low 60 bits of md5(key ‖ "cms" ‖ j) mod width — md5-derived like every
    * hash here, so the sketch is engine-reproducible.
    */
  private def cmsPos(key: Column, row: Column, width: Int): Column =
    conv(substring(md5(concat(key.cast("string"), lit("cms"), row.cast("string"))),
      1, 15), 16, 10).cast("long") % width

  /** Count-Min sketch build (Cormode & Muthukrishnan 2005): `depth`
    * independent hash rows of `width` counters each; every item occurrence
    * increments one counter per row. The sketch is `depth × width` rows —
    * data-independent, kilobytes — built by ONE aggregation over the
    * occurrence stream (map-side combined; the 100 TB pass shuffles bounded
    * partial sketches, not rows). Estimates from [[countMinEstimate]] are
    * upper bounds: est ≥ true count, with ε = e/width overcount bounds.
    *
    * Returns (row, pos, cnt).
    */
  def countMinSketch(items: DataFrame, keyCol: String,
                     depth: Int = 4, width: Int = 512): DataFrame = {
    require(depth > 0 && width > 0, "depth and width must be positive")
    items.select(col(keyCol).as("__k"),
        explode(sequence(lit(0), lit(depth - 1))).as("row"))
      .select(col("row"), cmsPos(col("__k"), col("row"), width).as("pos"))
      .groupBy(col("row"), col("pos")).agg(count(lit(1)).as("cnt"))
  }

  /** [[countMinSketch]] built from a pre-aggregated (key, count) table —
    * cells weighted by the counts give the IDENTICAL sketch with the
    * key-stream explode already collapsed. The one-corpus-pass composition:
    * a caller that needs both the sketch and exact counts (heavy-hitter
    * verification) aggregates the stream once and feeds the vocabulary-
    * sized count table to both consumers, instead of exploding the corpus
    * a second time just to hash it into cells.
    */
  def countMinSketchOfCounts(counts: DataFrame, keyCol: String, cntCol: String,
                             depth: Int = 4, width: Int = 512): DataFrame = {
    require(depth > 0 && width > 0, "depth and width must be positive")
    counts.select(col(keyCol).as("__k"), col(cntCol).as("__c"),
        explode(sequence(lit(0), lit(depth - 1))).as("row"))
      .select(col("row"), cmsPos(col("__k"), col("row"), width).as("pos"), col("__c"))
      .groupBy(col("row"), col("pos")).agg(sum(col("__c")).as("cnt"))
  }

  private def bloomPos(key: Column, j: Column, m: Int): Column =
    conv(substring(md5(concat(key.cast("string"), lit("bloom"),
      j.cast("string"))), 1, 15), 16, 10).cast("long") % m

  /** Deterministic Bloom filter as a relational bit table: `k` md5-derived
    * hash positions per key over `m` bits, materialized as the DISTINCT
    * set-bit positions — completing the reproducible sketch family next to
    * [[countMinSketch]] (counts), [[hllRegisters]] (cardinality) and the
    * Misra-Gries aggregate (heavy hitters). Unlike Spark's native
    * `BloomFilterAggregate` bytes (xxhash-based, engine-private — what
    * [[graft.core.Joins.bloomSemiJoin]] rightly uses for runtime
    * pruning), this bit table is engine-reproducible and oracle-checkable.
    *
    * Mergeable by plain union (bitwise OR = union of set-bit positions):
    * per-shard or per-day bloom tables combine without rescanning. ONE
    * map-side-combined aggregation of the key stream; the table is at most
    * `m` rows — kilobytes, broadcastable.
    */
  def bloomBits(items: DataFrame, keyCol: String, m: Int, k: Int): DataFrame = {
    require(m > 0 && k > 0, "m and k must be positive")
    items.select(col(keyCol).cast("string").as("__k"),
        explode(sequence(lit(0), lit(k - 1))).as("__j"))
      .select(bloomPos(col("__k"), col("__j"), m).as("pos"))
      .distinct()
  }

  /** Probe keys against a [[bloomBits]] table: a key "might be present"
    * iff ALL `k` of its positions are set — no false negatives, false
    * positives at the classic (1−e^(−kn/m))^k rate. The bit table joins
    * by broadcast; per-key work is `k` rows.
    *
    * Returns (keyCol, might_present).
    */
  def bloomProbe(bits: DataFrame, keys: DataFrame, keyCol: String,
                 m: Int, k: Int): DataFrame = {
    require(m > 0 && k > 0, "m and k must be positive")
    val probes = keys.select(col(keyCol)).distinct()
      .select(col(keyCol), explode(sequence(lit(0), lit(k - 1))).as("__j"))
      .select(col(keyCol), bloomPos(col(keyCol), col("__j"), m).as("pos"))
    probes
      .join(graft.core.Joins.maybeBroadcast(bits.withColumn("__set", lit(1))),
        Seq("pos"), "left")
      .groupBy(col(keyCol))
      .agg((sum(when(col("__set").isNull, 1).otherwise(0)) === 0)
        .as("might_present"))
  }

  /** Point-query the sketch: each key reads its `depth` counters (equi-join
    * on (row, pos) — the sketch side is broadcastable by construction) and
    * takes the min; counters never touched estimate 0.
    *
    * Returns (keyCol, cms_est).
    */
  def countMinEstimate(sketch: DataFrame, keys: DataFrame, keyCol: String,
                       depth: Int = 4, width: Int = 512): DataFrame = {
    val probes = keys.select(col(keyCol)).distinct()
      .select(col(keyCol), explode(sequence(lit(0), lit(depth - 1))).as("row"))
      .select(col(keyCol), col("row"), cmsPos(col(keyCol), col("row"), width).as("pos"))
    probes.join(graft.core.Joins.maybeBroadcast(sketch), Seq("row", "pos"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))
  }

  /** Hot-band detection: per-group value ranges whose fixed-width bins hold
    * at least `num/den` times the group's MEAN bin count, with adjacent hot
    * bins merged into maximal disjoint bands (gaps-and-islands) — the
    * "where does this metric concentrate" primitive that feeds
    * [[graft.core.Joins.intervalJoin]]-style tagging (hot price bands,
    * busy-hour windows, anomalous value ranges).
    *
    * The threshold compare is all-integer (`c·den·nbins ≥ num·total`), so
    * band membership is engine-exact. Islands are found WITHOUT an
    * unpartitioned window: band starts are hot bins whose predecessor is
    * absent (a self anti-join), each hot bin claims the nearest start at or
    * below it (one bounded self-join + max aggregation) — every step runs
    * on the (group × bin) table, whose size is data-INDEPENDENT, the
    * [[histogramQuantiles]] discipline.
    *
    * Returns (groupCol, band_lo_bin, band_hi_bin, n_bins): maximal hot
    * bands as inclusive bin ranges.
    */
  def hotBands(df: DataFrame, groupCol: String, valueCol: String,
               width: Double, num: Long = 12, den: Long = 10): DataFrame = {
    require(width > 0 && num > 0 && den > 0, "width/num/den must be positive")
    val bins = org.apache.spark.sql.graftbridge.Bridge.freeze(
      df.select(col(groupCol), floor(col(valueCol) / width).cast("long").as("bin"))
        .groupBy(col(groupCol), col("bin")).agg(count(lit(1)).as("cnt")))
    val tot = bins.groupBy(col(groupCol))
      .agg(sum(col("cnt")).as("total"), count(lit(1)).as("nb"))
    // both products staged through DECIMAL(38,0): a whale bin (cnt ~1e12)
    // times den and ~1e6 bins per group overflows a long product and would
    // flip band membership silently
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val hot = bins.join(graft.core.Joins.maybeBroadcast(tot), Seq(groupCol))
      .filter(col("cnt").cast(dec) * den * col("nb")
        >= lit(num).cast(dec) * col("total"))
      .select(col(groupCol), col("bin"))
    val starts = hot.join(
      hot.select(col(groupCol), (col("bin") + 1).as("bin")),
      Seq(groupCol, "bin"), "left_anti")
      .select(col(groupCol), col("bin").as("__start"))
    hot.join(starts, Seq(groupCol))
      .filter(col("__start") <= col("bin"))
      .groupBy(col(groupCol), col("bin")).agg(max(col("__start")).as("__s"))
      .groupBy(col(groupCol), col("__s"))
      .agg(max(col("bin")).as("band_hi_bin"), count(lit(1)).as("n_bins"))
      .select(col(groupCol), col("__s").as("band_lo_bin"),
        col("band_hi_bin"), col("n_bins"))
  }

  /** HyperLogLog register table (Flajolet et al. 2007) with md5-derived
    * hashing, so — unlike Spark's builtin `approx_count_distinct` — the
    * sketch is ENGINE-REPRODUCIBLE: an external system hashing the same keys
    * builds bit-identical registers. 60 hash bits split into a `b`-bit
    * register index (modulus) and a 60−b-bit sub-stream word `w`; the rank
    * is the trailing-zero count of `w` plus one (geometric with the same
    * 2^−k law as the classic leading-zero form, and closed-form in exact
    * integer SQL: `bit_count((w & −w) − 1)`), with `w = 0` mapped to the
    * 61−b sentinel maximum.
    *
    * 100 TB notes: ONE map-side-combined `max` aggregation over the key
    * stream down to 2^b rows — the sketch is data-independent kilobytes,
    * broadcastable, and register-wise `max`-MERGEABLE across partitions,
    * days, or corpora (the property that makes HLL the production
    * cardinality operator: per-shard sketches union without rescanning).
    * Empty registers materialize as 0 via the tiny `spark.range` frame.
    *
    * Returns (bucket, reg) — 2^b rows.
    */
  def hllRegisters(items: DataFrame, keyCol: String, b: Int = 8): DataFrame = {
    require(b >= 4 && b <= 16, "b must be in [4, 16]")
    val m = 1 << b
    val h = conv(substring(md5(concat(col(keyCol).cast("string"), lit("hll"))),
      1, 15), 16, 10).cast("long")
    val regs = items.select(h.as("__h"))
      .select((col("__h") % m).as("bucket"), expr(s"__h div $m").as("__w"))
      // trailing-zero count in EXACT integer arithmetic: (w & -w) isolates
      // the lowest set bit, minus 1 leaves that many trailing ones, and
      // bit_count counts them — branch-free and engine-exact, where a
      // float log2 of the power of two risks a 1-ulp truncation below the
      // integer on libm variants and would silently break bit-for-bit
      // sketch reproducibility
      .withColumn("__rho",
        when(col("__w") === 0, lit(61 - b))
          .otherwise(bit_count(col("__w").bitwiseAND(-col("__w")) - 1) + 1))
      .groupBy(col("bucket")).agg(max(col("__rho")).as("reg"))
    items.sparkSession.range(m).select(col("id").as("bucket"))
      .join(regs, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("reg"), lit(0)).as("reg"))
  }

  /** Key-skew audit — the pre-shuffle diagnostic that decides whether a
    * join/aggregation needs salting ([[graft.tables.Partitioners]]) or AQE
    * skew handling: the `topK` heaviest keys with their corpus share, plus
    * the whale factor `max_cnt · n_keys / total` (1.0 = perfectly uniform;
    * a key drawing 100× its fair share reads 100). Run it BEFORE keying a
    * 100 TB shuffle on a candidate column; a whale factor in the hundreds
    * means the biggest key's partition does that multiple of the average
    * partition's work.
    *
    * Scale shape: ONE map-side-combined aggregation to the |keys|-row count
    * table (frozen — the totals and the top-k cut both read it), a 1-row
    * broadcast of the totals, and a TakeOrdered top-k (per-partition heads,
    * no global sort). Shares stage in DECIMAL so the audit is
    * engine-reproducible.
    *
    * Returns topK rows (key, cnt, share, n_keys, skew), heaviest first.
    */
  def keySkew(df: DataFrame, keyCol: String, topK: Int = 20): DataFrame =
    keySkewOfCounts(
      org.apache.spark.sql.graftbridge.Bridge.freeze(
        df.groupBy(col(keyCol).cast("string").as("key"))
          .agg(count(lit(1)).as("cnt"))),
      topK)

  /** [[keySkew]]'s totals/top-k stage over an already-built (key, cnt)
    * count table — the [[graft.streaming.Streaming.KeyCountMonitor]]
    * readout (counts are additive, so the accreted state equals the
    * one-pass table). The caller freezes the counts frame (both the
    * totals and the top-k cut read it).
    */
  def keySkewOfCounts(counts: DataFrame, topK: Int = 20): DataFrame = {
    require(topK > 0, "topK must be positive")
    val totals = broadcast(counts.agg(sum(col("cnt")).as("__tot"),
      count(lit(1)).as("__keys"), max(col("cnt")).as("__max")))
    counts.orderBy(col("cnt").desc, col("key").asc).limit(topK)
      .crossJoin(totals)
      .select(col("key"), col("cnt"),
        round((col("cnt").cast("double") / col("__tot"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 6)
          .cast("double").as("share"),
        col("__keys").as("n_keys"),
        round((col("__max").cast("double") * col("__keys") / col("__tot"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 4)
          .cast("double").as("skew"))
  }

  /** Exact Gini concentration of per-key mass — the inequality companion to
    * [[keySkew]]'s whale factor: "what fraction of the corpus do the
    * heaviest users/domains own" summarized as the Lorenz-curve Gini
    * coefficient (0 = perfectly uniform, →1 = one key owns everything).
    * The pre-sharding audit for any per-key quota decision
    * ([[graft.functions.Curation.capPerDomain]], salting, per-user rate
    * limits): a Gini near 1 says caps change the corpus materially, near 0
    * says they're a no-op.
    *
    * EXACT, not bin-approximate: keys with identical counts are
    * interchangeable on the Lorenz curve, so the curve is piecewise linear
    * over the count-of-counts table and the trapezoid sum over those
    * segments is the exact Gini. That table is bounded by |distinct count
    * values| — O(√total) for any realistic tail — so after ONE
    * map-side-combined aggregation to the |keys|-row count table and ONE
    * more to count-of-counts, everything runs on a frame the driver could
    * hold. Cumulative masses come from the bounded self-join (the
    * [[histogramQuantiles]] discipline — no global window); every product
    * stages through DECIMAL(38,0) (k_i·(M_{i−1}+M_i) at 10¹² rows × 10⁹
    * keys overflows a long) with ONE double divide at the end, so the
    * coefficient is engine-reproducible.
    *
    * Returns one row: (n_keys, total, gini).
    */
  def giniConcentration(df: DataFrame, keyCol: String): DataFrame =
    giniOfCounts(
      df.groupBy(col(keyCol).cast("string").as("key")).agg(count(lit(1)).as("cnt")))

  /** [[giniConcentration]]'s trapezoid stage over an already-built
    * (key, cnt) count table — exposed so the streaming
    * [[graft.streaming.Streaming.KeyCountMonitor]] reads the identical
    * coefficient off its accreted (additive, hence batch-exact) count
    * state.
    */
  def giniOfCounts(counts: DataFrame): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val coc = bridge.freeze(
      counts.select(col("cnt").as("__c"))
        .groupBy(col("__c")).agg(count(lit(1)).as("__nk")))
    // cumulative mass owned by keys with count <= this count value
    val cum = coc.as("a").join(coc.as("b"), col("b.__c") <= col("a.__c"))
      .groupBy(col("a.__c").as("__c"), col("a.__nk").as("__nk"))
      .agg(sum(col("b.__c").cast(dec) * col("b.__nk")).as("__cm"))
    // trapezoid over the segment of k_i equal-count keys:
    // k_i · (M_{i−1} + M_i) = k_i · (2·M_i − c_i·k_i)
    val s = cum.agg(sum(col("__nk").cast(dec) *
      (col("__cm") * 2 - col("__c").cast(dec) * col("__nk"))).as("__t"))
    val tot = coc.agg(sum(col("__nk")).as("__keys"),
      sum(col("__c").cast(dec) * col("__nk")).as("__m"))
    broadcast(tot).crossJoin(broadcast(s))
      .select(col("__keys").as("n_keys"), col("__m").cast("long").as("total"),
        round((lit(1.0) - col("__t").cast("double") /
            (col("__keys").cast("double") * col("__m").cast("double")))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 6)
          .cast("double").as("gini"))
  }

  /** Simpson concentration index over per-key event mass — the
    * PROBABILITY view next to [[giniConcentration]]'s area and
    * [[keySkew]]'s whale factor: λ = Σc(c−1)/(N(N−1)) is exactly the
    * chance two random rows share a key, 1−λ the Gini–Simpson diversity,
    * and 1/λ the "effective number of keys" — the single number a
    * sampling or dedup plan sizes against ("this corpus behaves like
    * ~1 200 equal hosts, not 40 000").
    *
    * Scale shape: ONE map-side-combined aggregation to the per-key count
    * table (the additive [[graft.streaming.Streaming.KeyCountMonitor]]
    * state — its `concentration` readout IS this), then one more to three
    * exact DECIMAL(38,0) integers; the λ/diversity/effective divides run
    * in fixed double order.
    *
    * Returns one row (n_keys, n, simpson, diversity, effective_keys);
    * NULL simpson for n < 2, NULL effective_keys when λ = 0.
    */
  def simpsonConcentration(df: DataFrame, keyCol: String): DataFrame =
    simpsonOfCounts(df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("cnt")))

  /** [[simpsonConcentration]]'s readout from a (key, cnt) count table. */
  def simpsonOfCounts(counts: DataFrame): DataFrame = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val agg = counts.agg(count(lit(1)).as("n_keys"),
      sum(col("cnt")).as("n"),
      sum(col("cnt").cast(big) * (col("cnt") - 1L).cast(big)).as("__p2"))
    def r6(c: Column) = round(c.cast(dec8), 6).cast("double")
    val lam = col("__p2").cast("double") /
      (col("n").cast("double") * (col("n").cast("double") - lit(1.0)))
    agg.select(col("n_keys"), col("n").cast("long").as("n"),
      when(col("n") < 2L, lit(null).cast("double"))
        .otherwise(r6(lam)).as("simpson"),
      when(col("n") < 2L, lit(null).cast("double"))
        .otherwise(r6(lit(1.0) - lam)).as("diversity"),
      when(col("n") < 2L || col("__p2") === 0, lit(null).cast("double"))
        .otherwise(r6(lit(1.0) / lam)).as("effective_keys"))
  }

  /** Pearson correlation matrix over numeric columns — the feature-
    * engineering screen (collinear features, leaking proxies) and the
    * schema-drift companion (a correlation that moves between snapshots
    * means the JOINT distribution changed even if every marginal held).
    *
    * ONE map-side-combined aggregation computes every sum/product moment
    * for all column pairs in a single corpus pass — values staged to
    * DECIMAL(15,4) so the sums are EXACT (order-independent), then the
    * textbook formula evaluates in fixed double order from those exact
    * sums. Output is the bounded |cols|² upper triangle.
    *
    * Returns one row per pair i<j: (col_a, col_b, n, corr).
    */
  def correlationMatrix(df: DataFrame, cols: Seq[String]): DataFrame =
    corrOfMoments(org.apache.spark.sql.graftbridge.Bridge.freeze(
      corrMoments(df, cols)), cols)

  /** [[correlationMatrix]]'s single-pass moment aggregation — one wide
    * 1-row frame of count/sum/sum-square/cross-product moments, all in
    * EXACT decimal (hence ADDITIVE across micro-batches: the
    * [[graft.streaming.Streaming.CorrMonitor]] state).
    */
  def corrMoments(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val dec = org.apache.spark.sql.types.DecimalType(15, 4)
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j } yield (i, j)
    val aggs = Seq(count(lit(1)).as("__n")) ++
      cols.zipWithIndex.flatMap { case (c, i) => Seq(
        sum(col(c).cast(dec)).as(s"__s$i"),
        sum(col(c).cast(dec) * col(c).cast(dec)).as(s"__q$i")) } ++
      pairs.map { case (i, j) =>
        sum(col(cols(i)).cast(dec) * col(cols(j)).cast(dec)).as(s"__p${i}_$j") }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** [[correlationMatrix]]'s formula stage over an already-built moment
    * row — the caller freezes it ([[corrMoments]] is consumed once per
    * column pair).
    */
  def corrOfMoments(row: DataFrame, cols: Seq[String]): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j } yield (i, j)
    pairs.map { case (i, j) =>
      val n = col("__n").cast("double")
      def d(c: String) = col(c).cast("double")
      val num = n * d(s"__p${i}_$j") - d(s"__s$i") * d(s"__s$j")
      val va = n * d(s"__q$i") - d(s"__s$i") * d(s"__s$i")
      val vb = n * d(s"__q$j") - d(s"__s$j") * d(s"__s$j")
      row.select(lit(cols(i)).as("col_a"), lit(cols(j)).as("col_b"),
        col("__n").as("n"),
        round(when(va <= 0.0 || vb <= 0.0, lit(0.0))
          .otherwise(num / (sqrt(va) * sqrt(vb)))
          .cast(dec8), 6).cast("double").as("corr"))
    }.reduce(_.unionAll(_))
  }

  /** CUPED variance reduction (Deng et al., WSDM'13 — Controlled
    * experiments Using Pre-Experiment Data): the standard A/B
    * sensitivity lever — regress the experiment metric y on a
    * pre-experiment covariate x (same users, before exposure), replace y
    * with y − θ(x − x̄), and the metric's variance drops by exactly ρ²
    * while the treatment effect is untouched. θ and the achieved
    * reduction are what an experimentation platform reports next to
    * every sized test ([[powerTwoProp]]'s required n scales DOWN by
    * 1 − ρ²).
    *
    * Scale shape: ONE map-side-combined pass to the SAME exact-decimal
    * moment row as [[correlationMatrix]] (the
    * [[graft.streaming.Streaming.CorrMonitor]] state — its `cuped`
    * readout IS this), then fixed-double-order arithmetic on six
    * numbers.
    *
    * Returns one row (n, theta, rho2, var_y, var_y_cuped): θ =
    * cov(x,y)/var(x), ρ² the fraction of metric variance the covariate
    * removes, and the population variances before/after adjustment;
    * theta/rho2 NULL when var(x) is 0, var_y_cuped NULL when either
    * variance degenerates.
    */
  def cuped(df: DataFrame, xCol: String, yCol: String): DataFrame =
    cupedOfMoments(org.apache.spark.sql.graftbridge.Bridge.freeze(
      corrMoments(df, Seq(xCol, yCol))), Seq(xCol, yCol), xCol, yCol)

  /** [[cuped]]'s formula stage over a [[corrMoments]] row (the streaming
    * monitor's shared readout); `x`/`y` name two of the moment row's
    * `cols`.
    */
  def cupedOfMoments(row: DataFrame, cols: Seq[String],
                     x: String, y: String): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val xi = cols.indexOf(x)
    val yi = cols.indexOf(y)
    require(xi >= 0 && yi >= 0 && xi != yi,
      s"cuped needs two distinct moment columns; got x=$x y=$y of $cols")
    val (i, j) = if (xi < yi) (xi, yi) else (yi, xi)
    val n = col("__n").cast("double")
    def d(c: String) = col(c).cast("double")
    // n²-scaled moments: the shared factor cancels in θ and ρ², and the
    // variances divide it back out explicitly — no per-row doubles anywhere
    val cxy = n * d(s"__p${i}_$j") - d(s"__s$xi") * d(s"__s$yi")
    val vx = n * d(s"__q$xi") - d(s"__s$xi") * d(s"__s$xi")
    val vy = n * d(s"__q$yi") - d(s"__s$yi") * d(s"__s$yi")
    def r6(c: Column) = round(c.cast(dec8), 6).cast("double")
    row.select(col("__n").as("n"),
      when(vx <= 0.0, lit(null).cast("double"))
        .otherwise(r6(cxy / vx)).as("theta"),
      when(vx <= 0.0 || vy <= 0.0, lit(null).cast("double"))
        .otherwise(r6(cxy * cxy / (vx * vy))).as("rho2"),
      r6(vy / (n * n)).as("var_y"),
      when(vx <= 0.0 || vy <= 0.0, lit(null).cast("double"))
        .otherwise(r6(vy / (n * n) * (lit(1.0) - cxy * cxy / (vx * vy))))
        .as("var_y_cuped"))
  }

  /** Power-law (Pareto) exponent of per-key mass — the tail-shape number
    * next to [[giniConcentration]]'s area and [[keySkew]]'s whale factor:
    * the discrete MLE α̂ = 1 + m / Σ ln(xᵢ/(xmin−½)) over keys with
    * count ≥ xmin (Clauset-Shalizi-Newman 2009's continuous
    * approximation). α near 2 means a heavy tail where per-key caps
    * change everything; α above 3 means the tail is thin and they're a
    * no-op. ONE aggregation to the count table, ln terms decimal-staged
    * (order-independent sum), one divide.
    *
    * Returns one row: (xmin, n_tail, alpha).
    */
  def powerLawAlpha(df: DataFrame, keyCol: String, xmin: Long = 1): DataFrame = {
    require(xmin >= 1, "xmin must be >= 1")
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    df.groupBy(col(keyCol).as("__k")).agg(count(lit(1)).as("__c"))
      .filter(col("__c") >= xmin)
      .agg(count(lit(1)).as("n_tail"),
        sum(log(col("__c").cast("double") / (lit(xmin.toDouble) - 0.5))
          .cast(dec)).as("__s"))
      .select(lit(xmin).as("xmin"), col("n_tail"),
        round(when(col("__s").isNull || col("__s") === 0, lit(0.0))
          .otherwise(lit(1.0) + col("n_tail").cast("double") / col("__s").cast("double"))
          .cast(dec), 4).cast("double").as("alpha"))
  }

  /** Joint 2-D histogram of two numeric columns — the visual companion to
    * [[correlationMatrix]] (a correlation can hide two clusters; the
    * joint bins cannot) and the input for 2-D drift comparison. ONE
    * map-side-combined aggregation to the bounded bin×bin table with
    * broadcast-total shares.
    *
    * Returns (x_bin, y_bin, n, frac).
    */
  def histogram2d(df: DataFrame, xCol: String, yCol: String,
                  xWidth: Double, yWidth: Double): DataFrame = {
    require(xWidth > 0 && yWidth > 0, "widths must be positive")
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val bins = org.apache.spark.sql.graftbridge.Bridge.freeze(
      df.select(floor(col(xCol) / xWidth).cast("long").as("x_bin"),
          floor(col(yCol) / yWidth).cast("long").as("y_bin"))
        .filter(col("x_bin").isNotNull && col("y_bin").isNotNull)
        .groupBy(col("x_bin"), col("y_bin")).agg(count(lit(1)).as("n")))
    val tot = broadcast(bins.agg(sum(col("n")).as("__tot")))
    bins.crossJoin(tot)
      .select(col("x_bin"), col("y_bin"), col("n"),
        round((col("n").cast("double") / col("__tot")).cast(dec), 6)
          .cast("double").as("frac"))
  }

  /** Shannon entropy of a categorical column — the one-number balance
    * audit (a label column at normalized entropy 0.2 is dominated by one
    * class; a partition key near 1.0 spreads evenly): H = −Σ p·ln p over
    * the bounded value-count table, per-term decimal staging so the sum
    * is order-independent, normalized by ln(#values). ONE
    * map-side-combined aggregation touches the data.
    *
    * Returns one row: (n, n_values, entropy, norm_entropy).
    */
  def categoricalEntropy(df: DataFrame, colName: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val counts = org.apache.spark.sql.graftbridge.Bridge.freeze(
      df.select(col(colName).cast("string").as("__v"))
        .groupBy(col("__v")).agg(count(lit(1)).as("__c")))
    val tot = broadcast(counts.agg(sum(col("__c")).as("__n"),
      count(lit(1)).as("__k")))
    val terms = counts.crossJoin(tot)
      .select(col("__n"), col("__k"),
        ((col("__c").cast("double") / col("__n")) *
          log(col("__c").cast("double") / col("__n"))).cast(dec).as("__t"))
    terms.groupBy(col("__n"), col("__k"))
      .agg(sum(col("__t")).as("__h"))
      .select(col("__n").as("n"), col("__k").as("n_values"),
        round((-col("__h")).cast(dec), 6).cast("double").as("entropy"))
      .withColumn("norm_entropy",
        round(when(col("n_values") <= 1, lit(0.0))
          .otherwise(col("entropy") / log(col("n_values").cast("double")))
          .cast(dec), 6).cast("double"))
  }

  /** Mutual information between two categorical columns — the dependence
    * audit [[categoricalEntropy]] can't see (each column can be perfectly
    * balanced while being a function of the other): near-zero MI between a
    * label and a metadata column says the column is safe to drop from
    * stratification; high MI between `source` and `quality_band` says the
    * curation threshold encodes a source bias. Reported alongside the
    * marginal entropies and the normalized `nmi = MI / sqrt(Hx·Hy)`.
    *
    * Scale shape: ONE map-side-combined aggregation collapses the corpus to
    * the (x, y) joint-count table (frozen — marginals and totals all read
    * it; bounded by |X|·|Y|, not by rows); marginals are aggregations OF
    * that table; every ln term evaluates on exact-integer ratios
    * (`ln((c_xy·n)/(c_x·c_y))` — products of counts, one IEEE divide) and
    * stages in DECIMAL(18,8), so each sum is order-independent and
    * engine-reproducible.
    *
    * Returns one row: (n, n_x, n_y, h_x, h_y, mi, nmi), nats, 6dp.
    */
  def mutualInformation(df: DataFrame, xCol: String, yCol: String): DataFrame =
    miOfJoint(org.apache.spark.sql.graftbridge.Bridge.freeze(
      jointCounts(df, xCol, yCol)))

  /** The (x, y) joint-count table behind [[mutualInformation]]:
    * (__x, __y, __cxy). Counts are additive per key, so states from
    * disjoint row sets fold by union + re-sum — the property the
    * streaming MI monitor rides.
    */
  def jointCounts(df: DataFrame, xCol: String, yCol: String): DataFrame =
    df.select(col(xCol).cast("string").as("__x"), col(yCol).cast("string").as("__y"))
      .groupBy(col("__x"), col("__y")).agg(count(lit(1)).as("__cxy"))

  /** Cramér's V association between two CATEGORICAL columns — the
    * normalized EFFECT SIZE the chi-square family lacks: χ² grows with N
    * (everything is "significant" at corpus scale), V ∈ [0,1] answers
    * "how STRONGLY are these coupled" comparably across pairs and sizes
    * — the categorical sibling of Pearson/Spearman for (source × lang),
    * (event_type × weekday), (license × domain) audits.
    *
    * Scale shape: the same additive joint count table as
    * [[mutualInformation]] (the [[graft.streaming.Streaming.MiMonitor]]
    * state — its `association` readout IS this statistic); the full r×c
    * contingency materializes as margins-cross-join-left-join so ABSENT
    * cells contribute their expected count (a χ² over observed cells
    * only understates association); E stages as an exact integer product
    * with ONE divide, each (O−E)²/E term evaluates in fixed double order
    * and is staged to DECIMAL(28,10) before the bounded r×c sum.
    *
    * Returns one row (n, r, c, chi2, v); v is NULL when either side has
    * a single category.
    */
  def cramersV(df: DataFrame, xCol: String, yCol: String): DataFrame =
    cramersVOfJoint(jointCounts(df, xCol, yCol))

  /** [[cramersV]]'s readout from a [[jointCounts]] table — the stage the
    * streaming monitor shares with the batch operator.
    */
  def cramersVOfJoint(joint: DataFrame): DataFrame = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec = org.apache.spark.sql.types.DecimalType(28, 10)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val mx = joint.groupBy(col("__x")).agg(sum(col("__cxy")).as("__cx"))
    val my = joint.groupBy(col("__y")).agg(sum(col("__cxy")).as("__cy"))
    val tot = joint.agg(sum(col("__cxy")).as("__n"),
      countDistinct(col("__x")).as("__r"), countDistinct(col("__y")).as("__c"))
    val cells = mx.crossJoin(my)
      .join(joint, Seq("__x", "__y"), "left")
      .crossJoin(broadcast(tot))
    val e = (col("__cx").cast(big) * col("__cy").cast(big)).cast("double") /
      col("__n").cast("double")
    val o = coalesce(col("__cxy"), lit(0L)).cast("double")
    val terms = cells.select(col("__n"), col("__r"), col("__c"),
      ((o - e) * (o - e) / e).cast(dec).as("__t"))
    val agg = terms.groupBy(col("__n"), col("__r"), col("__c"))
      .agg(sum(col("__t")).as("__chi2"))
    val minDim = least(col("__r"), col("__c"))
    agg.select(col("__n").as("n"), col("__r").as("r"), col("__c").as("c"),
      round(col("__chi2").cast(dec8), 6).cast("double").as("chi2"),
      when(minDim <= 1L || col("__n") === 0L, lit(null).cast("double"))
        .otherwise(round(sqrt(col("__chi2").cast("double")
          / (col("__n").cast("double") * (minDim - lit(1L)).cast("double")))
          .cast(dec8), 6).cast("double")).as("v"))
  }

  /** [[mutualInformation]]'s readout from a [[jointCounts]] table. */
  def miOfJoint(joint: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val mx = joint.groupBy(col("__x")).agg(sum(col("__cxy")).as("__cx"))
    val my = joint.groupBy(col("__y")).agg(sum(col("__cxy")).as("__cy"))
    val tot = broadcast(joint.agg(sum(col("__cxy")).as("__n")))
    def entropyOf(m: DataFrame, cnt: String, hOut: String, kOut: String) =
      broadcast(m.crossJoin(tot)
        .select(col("__n"),
          ((col(cnt).cast("double") / col("__n")) *
            log(col(cnt).cast("double") / col("__n"))).cast(dec).as("__t"))
        .groupBy(col("__n")).agg((-sum(col("__t"))).as(hOut), count(lit(1)).as(kOut)))
    val hx = entropyOf(mx, "__cx", "__hx", "__kx")
    val hy = entropyOf(my, "__cy", "__hy", "__ky")
    val terms = joint
      .join(broadcast(mx), Seq("__x")).join(broadcast(my), Seq("__y"))
      .crossJoin(tot)
      .select(col("__n"),
        ((col("__cxy").cast("double") / col("__n")) *
          log((col("__cxy") * col("__n")).cast("double") /
            (col("__cx") * col("__cy")).cast("double"))).cast(dec).as("__t"))
    terms.groupBy(col("__n")).agg(sum(col("__t")).as("__mi"))
      .join(hx, Seq("__n")).join(hy, Seq("__n"))
      .select(col("__n").as("n"), col("__kx").as("n_x"), col("__ky").as("n_y"),
        round(col("__hx").cast(dec), 6).cast("double").as("h_x"),
        round(col("__hy").cast(dec), 6).cast("double").as("h_y"),
        round(col("__mi").cast(dec), 6).cast("double").as("mi"))
      .withColumn("nmi",
        round(when(col("h_x") * col("h_y") <= 0.0, lit(0.0))
          .otherwise(col("mi") / sqrt(col("h_x") * col("h_y")))
          .cast(dec), 6).cast("double"))
  }

  /** Theil's uncertainty coefficients between two categorical columns —
    * the DIRECTIONAL association [[mutualInformation]]'s symmetric nmi
    * hides: U(x|y) = MI/H(x) is the fraction of x's entropy that knowing
    * y removes, and it is NOT U(y|x) — `source` may fully determine
    * `quality_band` (U(band|source) ≈ 1, drop the band from
    * stratification) while the band says little about the source. The
    * "which way does the dependence run" audit.
    *
    * Scale shape: the IDENTICAL additive joint count table as
    * [[mutualInformation]] / [[cramersV]] (the
    * [[graft.streaming.Streaming.MiMonitor]] state, whose `uncertainty`
    * readout IS this table); both coefficients are one divide of the
    * 6dp-rounded MI and entropies, so every engine derives the same Us
    * from the same agreed pieces.
    *
    * Returns one row (n, n_x, n_y, h_x, h_y, mi, u_xy, u_yx), where
    * u_xy = U(x|y) = MI/H(x) and u_yx = U(y|x) = MI/H(y); a coefficient
    * reads 0 when its entropy is 0 (a constant column has nothing to
    * explain).
    */
  def theilU(df: DataFrame, xCol: String, yCol: String): DataFrame =
    uncertaintyOfJoint(org.apache.spark.sql.graftbridge.Bridge.freeze(
      jointCounts(df, xCol, yCol)))

  /** [[theilU]]'s readout from a [[jointCounts]] table — the stage the
    * streaming monitor shares with the batch operator.
    */
  def uncertaintyOfJoint(joint: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    miOfJoint(joint).drop("nmi")
      .withColumn("u_xy",
        round(when(col("h_x") <= 0.0, lit(0.0))
          .otherwise(col("mi") / col("h_x")).cast(dec), 6).cast("double"))
      .withColumn("u_yx",
        round(when(col("h_y") <= 0.0, lit(0.0))
          .otherwise(col("mi") / col("h_y")).cast(dec), 6).cast("double"))
  }

  /** Exact distributed ROC-AUC of a score against a boolean label — the
    * threshold-free evaluation of a curation filter (how well does the
    * classifier margin rank kept-worthy documents above the rest), via the
    * Mann–Whitney rank-sum identity with the standard tie correction:
    * `AUC = Σ_v p_v · (N_below(v) + n_v/2) / (P·N)`.
    *
    * Scale shape: ONE map-side-combined scan+reduce to the
    * (score, pos, neg) table — bounded by DISTINCT scores, never rows;
    * cumulative negatives run through the distributed two-pass prefix scan
    * ([[graft.core.Scans.cumulative]] — no unpartitioned window, no global
    * sort of the data); the U statistic is an exact-integer sum (doubled,
    * so the half-tie term stays integral) staged in DECIMAL(38,0), with
    * ONE IEEE divide at the end — engine-reproducible to the last bit.
    *
    * Returns one row: (n_pos, n_neg, auc) at 6dp; auc is NULL when either
    * class is empty (an AUC of a one-class sample is undefined, not 0.5).
    */
  def rocAuc(df: DataFrame, score: Column, label: Column): DataFrame =
    aucOfCounts(scoreCounts(df, score, label))

  /** The per-score count table behind [[rocAuc]]: (__s, __p, __n) —
    * additive per score key, so states from disjoint row sets fold by
    * union + re-sum (the streaming AUC monitor's property).
    */
  def scoreCounts(df: DataFrame, score: Column, label: Column): DataFrame =
    df.select(score.as("__s"), label.cast("boolean").as("__y"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
      .groupBy(col("__s"))
      .agg(sum(when(col("__y"), 1L).otherwise(0L)).as("__p"),
        sum(when(!col("__y"), 1L).otherwise(0L)).as("__n"))

  /** [[rocAuc]]'s readout from a [[scoreCounts]] table. */
  def aucOfCounts(counts: DataFrame): DataFrame = {
    // input frozen once (round 16): it feeds the prefix scan AND the
    // totals aggregation (no-op for an already-frozen monitor state)
    val __fc = org.apache.spark.sql.graftbridge.Bridge.ensureFrozen(counts)
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val cum = graft.core.Scans.cumulative(__fc, "__s", Seq("__n"))
    cum
      .select(col("__p"), col("__n"),
        (col("__p").cast(big) *
          (lit(2L) * (col("cum___n") - col("__n")) + col("__n")).cast(big))
          .as("__u2"))
      .agg(sum(col("__p")).as("n_pos"), sum(col("__n")).as("n_neg"),
        sum(col("__u2")).as("__u2s"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") === 0L || col("n_neg") === 0L,
          lit(null).cast("double"))
          .otherwise(round((col("__u2s").cast("double") /
            (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")))
            .cast(dec), 6).cast("double")).as("auc"))
  }

  /** Precision/recall/F1 of a score-thresholded filter at each candidate
    * threshold — the operating-point table read next to [[rocAuc]] when the
    * threshold actually has to be PICKED: AUC says the ranking is good,
    * this says what precision you buy at what recall for each concrete cut.
    *
    * Scale shape: the [[poissonBootstrap]] discipline — every threshold is
    * just three more conditional-sum columns in ONE map-side-combined
    * scan+reduce (no per-threshold passes, no join), and the single result
    * row unpivots via `stack`. F1 forms as `2·tp / (2·tp + fp + fn)` —
    * one IEEE divide of exact integers, no compounding through rounded
    * P/R. Empty denominators read NULL, not 0.
    *
    * Returns one row per threshold: (threshold, tp, fp, fn, prec, recall,
    * f1), 6dp; the filter keeps rows with `score >= threshold`. (`prec`,
    * not `precision` — a reserved word in half the SQL engines.)
    */
  def prCurve(df: DataFrame, score: Column, label: Column,
              thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val base = df.select(score.as("__s"), label.cast("boolean").as("__y"))
      .filter(col("__s").isNotNull && col("__y").isNotNull)
    val aggs = thresholds.zipWithIndex.flatMap { case (t, i) => Seq(
      sum(when(col("__y") && col("__s") >= t, 1L).otherwise(0L)).as(s"__tp$i"),
      sum(when(!col("__y") && col("__s") >= t, 1L).otherwise(0L)).as(s"__fp$i"),
      sum(when(col("__y") && col("__s") < t, 1L).otherwise(0L)).as(s"__fn$i"))
    }
    val row = base.agg(aggs.head, aggs.tail: _*)
    prFromConfusion(row, thresholds)
  }

  /** [[prCurve]] over a [[scoreCounts]] table instead of raw rows — the
    * streaming-monitor readout: tp/fp/fn at each threshold are conditional
    * sums OF THE COUNTS (bounded by distinct scores), so the same additive
    * state that feeds [[aucOfCounts]] also yields the operating points.
    */
  def prCurveOfCounts(counts: DataFrame, thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "need at least one threshold")
    val aggs = thresholds.zipWithIndex.flatMap { case (t, i) => Seq(
      sum(when(col("__s") >= t, col("__p")).otherwise(0L)).as(s"__tp$i"),
      sum(when(col("__s") >= t, col("__n")).otherwise(0L)).as(s"__fp$i"),
      sum(when(col("__s") < t, col("__p")).otherwise(0L)).as(s"__fn$i"))
    }
    prFromConfusion(counts.agg(aggs.head, aggs.tail: _*), thresholds)
  }

  private def prFromConfusion(row: DataFrame,
                              thresholds: Seq[Double]): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val stackArgs = thresholds.zipWithIndex.map { case (t, i) =>
      s"cast($t as double), __tp$i, __fp$i, __fn$i"
    }.mkString(", ")
    def ratio(num: Column, den: Column) =
      when(den === 0L, lit(null).cast("double"))
        .otherwise(round((num.cast("double") / den.cast("double")).cast(dec), 6)
          .cast("double"))
    row.selectExpr(
        s"stack(${thresholds.size}, $stackArgs) as (threshold, tp, fp, fn)")
      .select(col("threshold"), col("tp"), col("fp"), col("fn"),
        ratio(col("tp"), col("tp") + col("fp")).as("prec"),
        ratio(col("tp"), col("tp") + col("fn")).as("recall"),
        ratio(lit(2L) * col("tp"),
          lit(2L) * col("tp") + col("fp") + col("fn")).as("f1"))
  }

  /** Reliability (calibration) table of a score against a boolean label:
    * scores bin at fixed `width` and each bin reports its observed positive
    * rate — the diagram that says whether "margin 0.8" MEANS 80%: a
    * well-calibrated filter's rate tracks the bin midpoint, a miscalibrated
    * one's doesn't, and that decides whether the score can gate on a
    * probability threshold or only rank ([[rocAuc]]'s question).
    *
    * ONE map-side-combined aggregation to the bounded bin table; the bin is
    * `floor(score/width)` in IEEE (identical on every engine for identical
    * inputs), the rate ONE divide of exact counts.
    *
    * Returns (bin, lo, n, n_pos, rate) per non-empty bin, 6dp.
    */
  def reliability(df: DataFrame, score: Column, label: Column,
                  width: Double): DataFrame =
    reliabilityOfCounts(scoreCounts(df, score, label), width)

  /** [[reliability]] over a [[scoreCounts]] table — binning commutes with
    * counting, so the same additive state behind [[aucOfCounts]] and
    * [[prCurveOfCounts]] also yields the calibration table (the streaming
    * monitor's third readout).
    */
  def reliabilityOfCounts(counts: DataFrame, width: Double): DataFrame = {
    require(width > 0, "width must be positive")
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    counts
      .select(floor(col("__s").cast("double") / width).cast("long").as("bin"),
        col("__p"), col("__n"))
      .filter(col("bin").isNotNull)
      .groupBy(col("bin"))
      .agg(sum(col("__p") + col("__n")).as("n"), sum(col("__p")).as("n_pos"))
      .select(col("bin"), (col("bin") * width).as("lo"), col("n"), col("n_pos"),
        round((col("n_pos").cast("double") / col("n").cast("double")).cast(dec), 6)
          .cast("double").as("rate"))
  }

  /** Benford first-digit audit — the classic fabricated-numbers screen,
    * useful on ingested metrics columns: organically-grown magnitudes
    * follow log10(1+1/d) first-digit frequencies; synthetic, capped, or
    * tampered columns don't, and the per-digit deviation table says which
    * digits betray it. First digits extract through the BIGINT string
    * (identical across engines — float formatting is not), expected
    * frequencies evaluate as ln(1+1/d)/ln(10) in fixed order.
    *
    * Scale shape: scan-speed digit extraction, ONE map-side-combined
    * aggregation to ≤9 rows (frozen — totals and output read it),
    * broadcast total. Returns 9 rows: (digit, n, obs_frac, exp_frac,
    * dev).
    */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val counts = org.apache.spark.sql.graftbridge.Bridge.freeze(
      df.select(floor(col(valueCol)).cast("long").as("__n"))
        .filter(col("__n") >= 1)
        .select(substring(col("__n").cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n")))
    val tot = broadcast(counts.agg(sum(col("n")).as("__tot")))
    df.sparkSession.range(1, 10).select(col("id").cast("int").as("digit"))
      .join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"))
      .crossJoin(tot)
      .select(col("digit"), col("n"),
        round((col("n").cast("double") / col("__tot")).cast(dec), 6)
          .cast("double").as("obs_frac"),
        round((log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0))).cast(dec), 6)
          .cast("double").as("exp_frac"))
      .withColumn("dev",
        round((col("obs_frac") - col("exp_frac")).cast(dec), 6).cast("double"))
  }

  /** Per-column completeness profile — the Deequ-style data-quality
    * baseline every ingest ships with: row count, null count, empty-string
    * count and null fraction per audited column. A source whose null rate
    * jumps between snapshots broke upstream; catching it here is cheaper
    * than catching it in a trained model.
    *
    * Scale shape: ONE map-side-combined aggregation computes every
    * column's counters in a single corpus pass (one wide 1-row result,
    * frozen so the per-column stack does not rescan), then |cols| trivial
    * selects stack it into the bounded per-column table. Counters are
    * ADDITIVE, so [[graft.streaming.Streaming.NullProfileMonitor]] accretes
    * the identical table batch by batch.
    *
    * Returns one row per audited column: (col_name, n_rows, n_null,
    * n_empty, null_frac).
    */
  def nullProfile(df: DataFrame, colsToCheck: Seq[String]): DataFrame = {
    require(colsToCheck.nonEmpty, "nullProfile needs at least one column")
    val aggs = count(lit(1)).as("__n") +: colsToCheck.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nl_$c"),
      sum(when(col(c).cast("string") === "", 1L).otherwise(0L)).as(s"__em_$c")))
    val row = org.apache.spark.sql.graftbridge.Bridge.freeze(
      df.agg(aggs.head, aggs.tail: _*))
    colsToCheck.map(c => row.select(lit(c).as("col_name"),
        col("__n").as("n_rows"), col(s"__nl_$c").as("n_null"),
        col(s"__em_$c").as("n_empty")))
      .reduce(_.unionAll(_))
      .select(col("col_name"), col("n_rows"), col("n_null"), col("n_empty"),
        round(when(col("n_rows") === 0, lit(0.0))
          .otherwise(col("n_null").cast("double") / col("n_rows"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 4)
          .cast("double").as("null_frac"))
  }

  /** Two-sample Kolmogorov-Smirnov drift statistic between two corpora's
    * numeric distributions, at histogram (bin-edge) resolution:
    * `max |F_a(x) − F_b(x)|` over the shared bin edges — the numeric-drift
    * monitor next to [[graft.functions.Curation.tokenDrift]] (vocabulary
    * drift) and [[graft.functions.Vectors.profileDrift]] (embedding
    * drift): a re-scored snapshot whose quality distribution shifts reads
    * directly as a KS above threshold. Binning bounds the statistic's
    * resolution at one `width` — the histogram trade the quantile
    * machinery already makes.
    *
    * Scale shape: each side collapses to its bounded bin table in ONE
    * map-side-combined aggregation; the CDFs come from the
    * [[histogramQuantiles]] cumulative self-join (B² pairs of a
    * data-independent B — never a global window); totals broadcast as
    * one-row frames. Output is ONE row. The CDF difference evaluates as
    * `|cum_a·nb − cum_b·na|` in exact longs, divided once at the end, so
    * the statistic is engine-reproducible.
    *
    * Returns one row (ks, n_a, n_b).
    */
  def ksDrift(a: DataFrame, bDf: DataFrame, valueCol: String,
              width: Double): DataFrame = {
    require(width > 0, "width must be positive")
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    def binsOf(df: DataFrame) = bridge.freeze(
      df.select(floor(col(valueCol) / width).cast("long").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("cnt")))
    val ba = binsOf(a)
    val bb = binsOf(bDf)
    // shared edge set: every bin either side populates
    val edges = ba.select(col("bin")).unionAll(bb.select(col("bin"))).distinct()
    def cumOf(bins: DataFrame, out: String) =
      edges.join(bins.select(col("bin").as("__b2"), col("cnt").as("__c2")),
          col("__b2") <= col("bin"), "left")
        .groupBy(col("bin"))
        .agg(coalesce(sum(col("__c2")), lit(0L)).as(out))
    val na = broadcast(ba.agg(sum(col("cnt")).as("__na")))
    val nb = broadcast(bb.agg(sum(col("cnt")).as("__nb")))
    // counts stage as DECIMAL(18,0) so the cross products (≤ 10³⁶ for
    // corpora up to 10¹⁸ rows) stay exact longs-in-decimal, not overflowed
    val dec = org.apache.spark.sql.types.DecimalType(18, 0)
    cumOf(ba, "__ca").join(cumOf(bb, "__cb"), Seq("bin"))
      .crossJoin(na).crossJoin(nb)
      .select(abs(col("__ca").cast(dec) * col("__nb").cast(dec)
          - col("__cb").cast(dec) * col("__na").cast(dec)).as("__d"),
        col("__na"), col("__nb"))
      .groupBy(col("__na"), col("__nb")).agg(max(col("__d")).as("__dmax"))
      .select(
        round((col("__dmax").cast("double")
            / (col("__na").cast("double") * col("__nb")))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 6)
          .cast("double").as("ks"),
        col("__na").as("n_a"), col("__nb").as("n_b"))
  }

  /** Population Stability Index between two numeric samples at fixed-width
    * bin resolution — the industry-standard "did this feature's
    * distribution move enough to retrain" score (PSI < 0.1 stable, > 0.25
    * action), complementing [[ksDrift]] (max CDF gap — tail-sensitive)
    * with a mass-weighted symmetric divergence. Add-one smoothing on bin
    * counts keeps bins observed on only one side finite and the score
    * deterministic (no epsilon tuning).
    *
    * Scale shape: each side collapses to its bounded bin table in ONE
    * map-side-combined aggregation (the [[histogramQuantiles]] pass);
    * everything after is arithmetic on the joined bin frame. Proportions
    * are single IEEE divides of exact longs, each bin's
    * (pa−pb)·ln(pa/pb) term evaluates in fixed order and stages in
    * DECIMAL(28,10) before the order-independent sum.
    *
    * Returns one row (n_bins, n_a, n_b, psi).
    */
  def psiDrift(a: DataFrame, bDf: DataFrame, valueCol: String,
               width: Double): DataFrame = {
    require(width > 0, "width must be positive")
    psiOfBins(
      psiBins(a, valueCol, width, "ca")
        .join(psiBins(bDf, valueCol, width, "cb"), Seq("bin"), "full_outer")
        .select(col("bin"), coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb")))
  }

  /** one side's bounded fixed-width bin table — the ONLY pass that touches
    * the data; shared by [[psiDrift]] and the streaming PSI monitor (bin
    * counts are additive, so an accreted per-batch state equals this)
    */
  def psiBins(df: DataFrame, valueCol: String, width: Double,
              out: String): DataFrame =
    df.select(floor(col(valueCol) / width).cast("long").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as(out))

  /** [[psiDrift]] over a pre-joined (bin, ca, cb) bin table — the readout
    * path the streaming monitor shares with the batch operator
    */
  def psiOfBins(joined0: DataFrame): DataFrame = {
    // the joined bin table feeds totals AND per-bin terms — frozen so each
    // side's corpus aggregation runs once (the chisqDrift discipline)
    val joined = org.apache.spark.sql.graftbridge.Bridge.freeze(joined0)
    val totals = broadcast(joined.agg(sum(col("ca")).as("__na"),
      sum(col("cb")).as("__nb"), count(lit(1)).as("__k")))
    val pa = (col("ca") + lit(1)).cast("double") / (col("__na") + col("__k")).cast("double")
    val pb = (col("cb") + lit(1)).cast("double") / (col("__nb") + col("__k")).cast("double")
    joined.crossJoin(totals)
      .select(col("__na"), col("__nb"),
        ((pa - pb) * log(pa / pb))
          .cast(org.apache.spark.sql.types.DecimalType(28, 10)).as("__t"))
      .groupBy(col("__na"), col("__nb"))
      .agg(count(lit(1)).as("n_bins"), sum(col("__t")).as("__psi"))
      .select(col("n_bins"), col("__na").as("n_a"), col("__nb").as("n_b"),
        round(col("__psi"), 6).cast("double").as("psi"))
  }

  /** Welch's unequal-variance t-test between two numeric samples — the
    * A/B experiment readout next to the drift triangle ([[ksDrift]] /
    * [[psiDrift]] / [[chisqDrift]] ask "did the distribution move";
    * Welch asks "is the MEAN difference real given each arm's own
    * variance"), the default two-sample test when arms differ in size
    * and spread (treatment groups, curation-policy cohorts).
    *
    * Scale shape: each side collapses to its (n, Σx, Σx²) moment row in
    * ONE map-side-combined aggregation, values staged to DECIMAL(15,4)
    * so the sums are EXACT (order-independent and ADDITIVE across
    * micro-batches — the [[graft.streaming.Streaming.WelchMonitor]]
    * state); the t statistic and the Welch–Satterthwaite dof evaluate in
    * fixed double order from those exact sums. Zero data shuffle.
    *
    * Returns one row (n_a, n_b, mean_a, mean_b, t, df).
    */
  def welchTTest(a: DataFrame, bDf: DataFrame, valueCol: String): DataFrame =
    welchOfMoments(
      welchMoments(a, valueCol, "a").crossJoin(
        broadcast(welchMoments(bDf, valueCol, "b"))))

  /** one side's (n, Σx, Σx²) moment row — the ONLY pass that touches the
    * data; exact decimal sums, so additive across micro-batches
    */
  def welchMoments(df: DataFrame, valueCol: String, suffix: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(15, 4)
    df.agg(count(col(valueCol)).as(s"__n_$suffix"),
      sum(col(valueCol).cast(dec)).as(s"__s_$suffix"),
      sum(col(valueCol).cast(dec) * col(valueCol).cast(dec)).as(s"__q_$suffix"))
  }

  /** [[welchTTest]]'s formula stage over an already-built joint moment
    * row (__n_a,__s_a,__q_a,__n_b,__s_b,__q_b) — the readout path the
    * streaming monitor shares with the batch operator. Fixed-order IEEE
    * doubles from exact sums: mean = Σx/n, sample variance
    * (Σx² − (Σx)²/n)/(n−1), standard error of the mean v/n, then
    * t = (mā−m̄b)/√(sea+seb) and dof = (sea+seb)²/(sea²/(na−1)+seb²/(nb−1)).
    */
  def welchOfMoments(row: DataFrame): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    def n(s: String) = col(s"__n_$s").cast("double")
    def sm(s: String) = col(s"__s_$s").cast("double")
    def q(s: String) = col(s"__q_$s").cast("double")
    def se2(s: String) =
      ((q(s) - sm(s) * sm(s) / n(s)) / (n(s) - lit(1.0))) / n(s)
    val d = row.select(col("__n_a"), col("__n_b"),
      (sm("a") / n("a")).as("__ma"), (sm("b") / n("b")).as("__mb"),
      se2("a").as("__va"), se2("b").as("__vb"))
    d.select(col("__n_a").as("n_a"), col("__n_b").as("n_b"),
      round(col("__ma").cast(dec8), 6).cast("double").as("mean_a"),
      round(col("__mb").cast(dec8), 6).cast("double").as("mean_b"),
      round(((col("__ma") - col("__mb")) / sqrt(col("__va") + col("__vb")))
        .cast(dec8), 6).cast("double").as("t"),
      round((((col("__va") + col("__vb")) * (col("__va") + col("__vb")))
          / (col("__va") * col("__va") / (col("__n_a").cast("double") - lit(1.0))
            + col("__vb") * col("__vb") / (col("__n_b").cast("double") - lit(1.0))))
        .cast(dec8), 4).cast("double").as("df"))
  }

  /** Cohen's d (with the Hedges' g small-sample correction) between two
    * numeric samples — the EFFECT SIZE the t statistic refuses to be: at
    * corpus n, [[welchTTest]] flags a 0.1% mean shift as wildly
    * significant; d answers "how many pooled standard deviations apart
    * are the arms" — the number that stays comparable across metrics,
    * sample sizes, and rounds, and the one that belongs in the report
    * next to t. g multiplies in J = 1 − 3/(4(n_a+n_b)−9), the standard
    * bias correction that matters exactly when the arms are small.
    *
    * Scale shape: the IDENTICAL additive (n, Σx, Σx²) moment rows as
    * [[welchTTest]] (the [[graft.streaming.Streaming.WelchMonitor]]
    * state, whose `effectSize` readout IS this statistic); pooled
    * variance, d, and g evaluate in fixed double order from the exact
    * decimal sums. Zero data shuffle.
    *
    * Returns one row (n_a, n_b, mean_a, mean_b, d, g); NULL effect when
    * the pooled variance degenerates (n_a+n_b ≤ 2 or zero spread).
    */
  def cohensD(a: DataFrame, bDf: DataFrame, valueCol: String): DataFrame =
    cohensDOfMoments(
      welchMoments(a, valueCol, "a").crossJoin(
        broadcast(welchMoments(bDf, valueCol, "b"))))

  /** [[cohensD]]'s formula stage over an already-built joint moment row —
    * the readout path the streaming monitor shares with the batch
    * operator. Pooled variance ((SSa + SSb)/(na+nb−2)) from the exact
    * sums, d = (m̄a−m̄b)/s_p, g = d·J.
    */
  def cohensDOfMoments(row: DataFrame): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    def n(s: String) = col(s"__n_$s").cast("double")
    def sm(s: String) = col(s"__s_$s").cast("double")
    def q(s: String) = col(s"__q_$s").cast("double")
    def ss(s: String) = q(s) - sm(s) * sm(s) / n(s)
    val m = row.select(col("__n_a"), col("__n_b"),
      (sm("a") / n("a")).as("__ma"), (sm("b") / n("b")).as("__mb"),
      ((ss("a") + ss("b")) / (n("a") + n("b") - lit(2.0))).as("__sp2"),
      (lit(1.0) - lit(3.0) / (lit(4.0) * (n("a") + n("b")) - lit(9.0)))
        .as("__j"))
    val d = (col("__ma") - col("__mb")) / sqrt(col("__sp2"))
    m.select(col("__n_a").as("n_a"), col("__n_b").as("n_b"),
      round(col("__ma").cast(dec8), 6).cast("double").as("mean_a"),
      round(col("__mb").cast(dec8), 6).cast("double").as("mean_b"),
      when(col("__n_a") + col("__n_b") <= 2L || col("__sp2") <= 0.0,
        lit(null).cast("double"))
        .otherwise(round(d.cast(dec8), 6).cast("double")).as("d"),
      when(col("__n_a") + col("__n_b") <= 2L || col("__sp2") <= 0.0,
        lit(null).cast("double"))
        .otherwise(round((d * col("__j")).cast(dec8), 6).cast("double"))
        .as("g"))
  }

  /** OLS trend test of a numeric column against a numeric regressor —
    * "is this metric actually trending, and how fast": slope, intercept,
    * r² and the slope's t statistic of the least-squares line, the
    * monitoring companion the drift triangle can't give (drift says the
    * distribution moved; trend says it's moving WITH time and in which
    * direction).
    *
    * Scale shape: the whole regression collapses to ONE map-side-combined
    * (n, Σx, Σy, Σxy, Σx², Σy²) moment row, values staged to
    * DECIMAL(15,4) so the sums are EXACT (order-independent and ADDITIVE
    * across micro-batches — the
    * [[graft.streaming.Streaming.TrendMonitor]] state); the textbook
    * formulas evaluate in fixed double order from those exact sums.
    * Zero data shuffle.
    *
    * Returns one row (n, slope, intercept, r2, t); t is NULL when the
    * fit is exact (r²=1) or n<=2, r2 reads 0 when either variance is 0.
    */
  def trendTest(df: DataFrame, xCol: Column, yCol: Column): DataFrame =
    trendOfMoments(trendMoments(df, xCol, yCol))

  /** [[trendTest]]'s single-pass moment row — exact decimal sums, so
    * additive across micro-batches; expects non-null x and y.
    */
  def trendMoments(df: DataFrame, xCol: Column, yCol: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(15, 4)
    val (x, y) = (xCol.cast(dec), yCol.cast(dec))
    df.agg(count(lit(1)).as("__tn"),
      sum(x).as("__tsx"), sum(y).as("__tsy"), sum(x * y).as("__tsxy"),
      sum(x * x).as("__tsxx"), sum(y * y).as("__tsyy"))
  }

  /** [[trendTest]]'s formula stage over an already-built moment row —
    * the readout the streaming monitor shares with the batch operator.
    * Fixed-order IEEE doubles from exact sums: the centered cross terms
    * Sxy = nΣxy−ΣxΣy, Sxx = nΣx²−(Σx)², Syy = nΣy²−(Σy)², then
    * slope = Sxy/Sxx, intercept = (Σy−slope·Σx)/n, r² = Sxy²/(Sxx·Syy)
    * and t = sign(Sxy)·√(r²(n−2)/(1−r²)).
    */
  def trendOfMoments(row: DataFrame): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val nd = col("__tn").cast("double")
    def d(c: String) = col(c).cast("double")
    val m = row.select(col("__tn"),
      (nd * d("__tsxy") - d("__tsx") * d("__tsy")).as("__cxy"),
      (nd * d("__tsxx") - d("__tsx") * d("__tsx")).as("__cxx"),
      (nd * d("__tsyy") - d("__tsy") * d("__tsy")).as("__cyy"),
      d("__tsx").as("__sx"), d("__tsy").as("__sy"))
      .withColumn("__slope", col("__cxy") / col("__cxx"))
      .withColumn("__r2",
        when(col("__cxx") <= 0.0 || col("__cyy") <= 0.0, lit(0.0))
          .otherwise(col("__cxy") * col("__cxy") / (col("__cxx") * col("__cyy"))))
    m.select(col("__tn").as("n"),
      round(col("__slope").cast(dec8), 6).cast("double").as("slope"),
      round(((col("__sy") - col("__slope") * col("__sx"))
        / col("__tn").cast("double")).cast(dec8), 6).cast("double").as("intercept"),
      round(col("__r2").cast(dec8), 6).cast("double").as("r2"),
      when(col("__tn") <= 2L || col("__r2") >= 1.0, lit(null).cast("double"))
        .otherwise(round((signum(col("__cxy")) *
          sqrt(col("__r2") * (col("__tn").cast("double") - lit(2.0))
            / (lit(1.0) - col("__r2")))).cast(dec8), 6).cast("double")).as("t"))
  }

  /** One-way ANOVA F test of a numeric column across k groups — "do these
    * cohorts have the SAME mean": the k-sample generalization of
    * [[welchTTest]] (two arms), the first readout when a metric is
    * sliced by source / policy / variant and someone asks whether the
    * slices genuinely differ or just wobble.
    *
    * Scale shape: ONE map-side-combined groupBy collapses the data to a
    * k-row (group, n, Σx, Σx²) moment table — bounded by |groups|, never
    * rows, and additive per group across micro-batches (the
    * [[graft.streaming.Streaming.AnovaMonitor]] state). Each group's
    * within/between terms evaluate in fixed double order from those
    * exact sums and are staged to DECIMAL(28,10) BEFORE the k-row sum,
    * so the group-order-dependent double addition never happens. One
    * data shuffle (the groupBy), nothing else.
    *
    * Returns one row (k, n, df1, df2, f, eta2); f and eta2 are NULL when
    * undefined (k<2, n<=k, or zero within-variance).
    */
  def anovaF(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame =
    anovaOfGroupMoments(groupMoments(df, groupCol, valueCol))

  /** [[anovaF]]'s per-group moment table (one aggregation; exact decimal
    * sums, additive per group across micro-batches).
    */
  def groupMoments(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(15, 4)
    val x = valueCol.cast(dec)
    df.groupBy(groupCol.as("__g"))
      .agg(count(lit(1)).as("__gn"), sum(x).as("__gs"), sum(x * x).as("__gq"))
  }

  /** [[anovaF]]'s readout from an already-built per-group moment table —
    * the stage the streaming monitor shares with the batch operator.
    * Per-group within term q−s²/n and between term s²/n in fixed double
    * order, decimal-staged before the k-row sum; then
    * SSB = Σ(s²/n) − S²/N and F = (SSB/(k−1))/(SSW/(N−k)).
    */
  def anovaOfGroupMoments(tab: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 10)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    def d(c: String) = col(c).cast("double")
    val terms = tab.select(col("__gn"), col("__gs"),
      (d("__gq") - d("__gs") * d("__gs") / d("__gn")).cast(dec).as("__w"),
      (d("__gs") * d("__gs") / d("__gn")).cast(dec).as("__b"))
    val agg = terms.agg(count(lit(1)).as("k"), sum(col("__gn")).as("n"),
      sum(col("__gs")).as("__S"), sum(col("__w")).as("__ssw"),
      sum(col("__b")).as("__bp"))
    val m = agg.select(col("k"), col("n"), d("__ssw").as("__ssw"),
      (d("__bp") - d("__S") * d("__S") / col("n").cast("double")).as("__ssb"))
    m.select(col("k"), col("n"),
      (col("k") - 1L).as("df1"), (col("n") - col("k")).as("df2"),
      when(col("k") <= 1L || col("n") <= col("k") || col("__ssw") <= 0.0,
        lit(null).cast("double"))
        .otherwise(round((col("__ssb") / (col("k") - 1L).cast("double")
          / (col("__ssw") / (col("n") - col("k")).cast("double"))).cast(dec8), 6)
          .cast("double")).as("f"),
      when(col("__ssb") + col("__ssw") <= 0.0, lit(null).cast("double"))
        .otherwise(round((col("__ssb") / (col("__ssb") + col("__ssw")))
          .cast(dec8), 6).cast("double")).as("eta2"))
  }

  /** Bartlett's test of variance homogeneity across k groups — the
    * moment-based sibling of [[leveneTest]] on the ANOVA family's OWN
    * assumption: the F (and Tukey's pooled MSW) presume every group
    * shares one variance; Bartlett tests exactly that from the same
    * sufficient statistics, with more power than Levene when the data
    * are near-normal (and the classic sensitivity to heavy tails — read
    * the two together: Bartlett alarms alone on kurtosis, both alarm on
    * real heteroscedasticity).
    *
    * Scale shape: the IDENTICAL k-row additive moment state as
    * [[anovaF]]/[[tukeyHsd]] (the
    * [[graft.streaming.Streaming.AnovaMonitor]] state, whose
    * `varianceHomogeneity` readout IS this test); each group's
    * (nᵢ−1)·ln(s²ᵢ) and 1/(nᵢ−1) terms evaluate in fixed double order
    * from the exact decimal sums and stage in DECIMAL(28,10) BEFORE the
    * k-row sums (order-free), then the χ² and its Bartlett correction
    * form as fixed-order doubles.
    *
    * Returns one row (k, n, chi2) with df = k−1 implied; chi2 NULL when
    * k < 2, any group has n < 2, or any group variance is 0 (ln
    * undefined — a degenerate group, not evidence).
    */
  def bartlettTest(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame =
    bartlettOfGroupMoments(groupMoments(df, groupCol, valueCol))

  /** [[bartlettTest]]'s readout from an already-built per-group moment
    * table — the stage the streaming monitor shares with the batch
    * operator.
    */
  def bartlettOfGroupMoments(tab: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 10)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    def d(c: String) = col(c).cast("double")
    val vi = (d("__gq") - d("__gs") * d("__gs") / d("__gn")) /
      (col("__gn") - lit(1L)).cast("double")
    val terms = tab.select(col("__gn"),
      when(col("__gn") < 2L || vi <= 0.0, lit(null).cast(dec))
        .otherwise(((col("__gn") - lit(1L)).cast("double") * log(vi))
          .cast(dec)).as("__lv"),
      (lit(1.0) / (col("__gn") - lit(1L)).cast("double")).cast(dec)
        .as("__inv"),
      (d("__gq") - d("__gs") * d("__gs") / d("__gn")).cast(dec).as("__w"))
    val agg = terms.agg(count(lit(1)).as("k"), sum(col("__gn")).as("n"),
      sum(col("__lv")).as("__slv"), sum(col("__inv")).as("__sinv"),
      sum(col("__w")).as("__ssw"),
      sum(when(col("__lv").isNull, 1L).otherwise(0L)).as("__bad"))
    val nd = col("n").cast("double")
    val kd = col("k").cast("double")
    val sp2 = col("__ssw").cast("double") / (nd - kd)
    val stat = ((nd - kd) * log(sp2) - col("__slv").cast("double")) /
      (lit(1.0) + (col("__sinv").cast("double") -
        lit(1.0) / (nd - kd)) / (lit(3.0) * (kd - lit(1.0))))
    agg.select(col("k"), col("n"),
      when(col("k") < 2L || col("__bad") > 0L || sp2 <= 0.0,
        lit(null).cast("double"))
        .otherwise(round(stat.cast(dec8), 6).cast("double")).as("chi2"))
  }

  /** Tukey HSD pairwise comparisons after [[anovaF]] — the "WHICH groups
    * differ" readout the omnibus F deliberately doesn't give: one
    * significant F over k sources says at least one mean moved, this
    * table gives every pair's studentized-range statistic
    * q = |x̄_i − x̄_j| / √(MSW/2 · (1/n_i + 1/n_j)) (the Tukey–Kramer
    * unequal-n form), sharing ONE pooled error estimate across all pairs
    * instead of k² separate t-tests' inflated false-alarm rate.
    *
    * Scale shape: the identical k-row additive moment table as [[anovaF]]
    * (the [[graft.streaming.Streaming.AnovaMonitor]] state, whose
    * `pairwise` readout IS this table); MSW is one aggregation OF that
    * table, pairs come from the TRIANGULAR k×k join on it (groups², never
    * rows²), and every mean/SE/q evaluates in fixed double order from the
    * exact decimal sums.
    *
    * Returns one row per group pair (group_a < group_b lexicographically):
    * (group_a, group_b, n_a, n_b, mean_a, mean_b, diff, q) at 6dp; q is
    * NULL when the pooled within-variance degenerates (n ≤ k or zero
    * within-group spread).
    */
  def tukeyHsd(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame =
    tukeyOfGroupMoments(groupMoments(df, groupCol, valueCol))

  /** [[tukeyHsd]]'s readout from an already-built per-group moment table —
    * the stage the streaming monitor shares with the batch operator.
    */
  def tukeyOfGroupMoments(tab: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 10)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    def d(c: String) = col(c).cast("double")
    // the k-row moment table feeds the MSW aggregation and both sides of
    // the pair join — frozen, or the corpus groupBy (the only pass that
    // touches the data) runs three times
    val t = org.apache.spark.sql.graftbridge.Bridge.freeze(
      tab.select(col("__g").cast("string").as("__g"), col("__gn"),
        col("__gs"), col("__gq")))
    val terms = t.select(col("__gn"),
      (d("__gq") - d("__gs") * d("__gs") / d("__gn")).cast(dec).as("__w"))
    val agg = broadcast(terms.agg(count(lit(1)).as("__k"),
      sum(col("__gn")).as("__N"), sum(col("__w")).as("__ssw")))
    val a = t.select(col("__g").as("group_a"), col("__gn").as("__na"),
      col("__gs").as("__sa"))
    val b = t.select(col("__g").as("group_b"), col("__gn").as("__nb"),
      col("__gs").as("__sb"))
    // triangular group-pair join on the bounded k-row table
    val pairs = a.join(broadcast(b), col("group_a") < col("group_b"))
      .crossJoin(agg)
    val msw = d("__ssw") / (col("__N") - col("__k")).cast("double")
    val ma = d("__sa") / d("__na")
    val mb = d("__sb") / d("__nb")
    val se = sqrt(msw / lit(2.0) * (lit(1.0) / d("__na") + lit(1.0) / d("__nb")))
    pairs.select(col("group_a"), col("group_b"),
      col("__na").as("n_a"), col("__nb").as("n_b"),
      round(ma.cast(dec8), 6).cast("double").as("mean_a"),
      round(mb.cast(dec8), 6).cast("double").as("mean_b"),
      round((ma - mb).cast(dec8), 6).cast("double").as("diff"),
      when(col("__N") <= col("__k") || d("__ssw") <= 0.0,
        lit(null).cast("double"))
        .otherwise(round((abs(ma - mb) / se).cast(dec8), 6).cast("double"))
        .as("q"))
      .orderBy(col("group_a"), col("group_b"))
  }

  /** Mann–Whitney U test between two numeric samples — the NONPARAMETRIC
    * twin of [[welchTTest]]: "does one arm stochastically dominate the
    * other", the two-sample test to reach for when the metric is skewed
    * or heavy-tailed enough that a mean comparison misleads (latencies,
    * per-document token counts, order values).
    *
    * Scale shape: the same machinery as [[rocAuc]] (U and AUC are the
    * same statistic — AUC = U/(n_a·n_b)): ONE map-side-combined
    * scan+reduce to the per-value (cnt_a, cnt_b) table — bounded by
    * DISTINCT values, never rows, and additive per value (the
    * [[graft.streaming.Streaming.AucMonitor]] state, whose `rankTest`
    * readout IS this test); cumulative
    * b-counts via the distributed two-pass prefix scan
    * ([[graft.core.Scans.cumulative]]); the doubled U and the tie term
    * Σ(t³−t) are exact integers in DECIMAL(38,0); the normal-approximation
    * z (with the standard tie-corrected variance, no continuity
    * correction) evaluates in fixed double order.
    *
    * Returns one row (n_a, n_b, u, z); u is arm a's U statistic
    * (half-integer under ties, 4dp); z is NULL when either arm is empty
    * or every value is tied.
    */
  def mannWhitney(a: DataFrame, bDf: DataFrame, valueCol: String): DataFrame =
    mwuOfCounts(scoreCounts(
      a.select(col(valueCol).as("__v"), lit(true).as("__l"))
        .unionByName(bDf.select(col(valueCol).as("__v"), lit(false).as("__l"))),
      col("__v"), col("__l")))

  /** [[mannWhitney]]'s readout from a [[scoreCounts]] table (__s, __p =
    * arm-a count, __n = arm-b count) — the stage the streaming monitor
    * shares with the batch operator.
    */
  def mwuOfCounts(counts: DataFrame): DataFrame = {
    // input frozen once (round 16): it feeds the prefix scan AND the
    // totals aggregation (no-op for an already-frozen monitor state)
    val __fc = org.apache.spark.sql.graftbridge.Bridge.ensureFrozen(counts)
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val decU = org.apache.spark.sql.types.DecimalType(28, 8)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val cum = graft.core.Scans.cumulative(__fc, "__s", Seq("__n"))
    val tie = (col("__p") + col("__n")).cast(big)
    val agg = cum
      .select(col("__p"), col("__n"),
        (col("__p").cast(big) *
          (lit(2L) * (col("cum___n") - col("__n")) + col("__n")).cast(big))
          .as("__u2"),
        (tie * tie * tie - tie).as("__t3"))
      .agg(sum(col("__p")).as("n_a"), sum(col("__n")).as("n_b"),
        sum(col("__u2")).as("__u2s"), sum(col("__t3")).as("__ts"))
    val nad = col("n_a").cast("double")
    val nbd = col("n_b").cast("double")
    val nd = (col("n_a") + col("n_b")).cast("double")
    val inner = (nd + lit(1.0)) - col("__ts").cast("double") / (nd * (nd - lit(1.0)))
    agg.select(col("n_a"), col("n_b"),
      round((col("__u2s").cast("double") / lit(2.0)).cast(decU), 4)
        .cast("double").as("u"),
      when(col("n_a") === 0L || col("n_b") === 0L || inner <= 0.0,
        lit(null).cast("double"))
        .otherwise(round(((col("__u2s").cast("double") - nad * nbd)
          / (lit(2.0) * sqrt(nad * nbd / lit(12.0) * inner))).cast(dec8), 6)
          .cast("double")).as("z"))
  }

  /** Brunner–Munzel test between two numeric samples — the
    * generalized-Behrens-Fisher upgrade of [[mannWhitney]]: MWU's z
    * assumes the two arms share a distribution SHAPE under the null, so
    * unequal variances alone (arm A noisy, arm B tight — the normal state
    * of A/B metrics) inflate its false-positive rate; BM tests the
    * stochastic-superiority probability p = P(A < B) + ½P(A = B) = ½
    * directly, with separate per-arm rank variances and a
    * Welch–Satterthwaite df, the way Welch's t upgrades Student's t.
    * scipy.stats.brunnermunzel semantics.
    *
    * Scale shape: the IDENTICAL additive per-value count state as
    * [[rocAuc]]/[[mannWhitney]] (the
    * [[graft.streaming.Streaming.AucMonitor]] state, whose `superiority`
    * readout IS this test); combined and within-arm midranks come from
    * ONE prefix scan as doubled integers, each arm's placement variance
    * from exact Σc·D and Σc·D² integer moments (D = doubled
    * combined-minus-within rank gap), and the statistic/df evaluate in
    * fixed double order. Zero row-level joins.
    *
    * Returns one row (n_a, n_b, p_hat, w, df) at 6dp — p_hat estimates
    * P(A < B) + ½P(A = B), w is t-distributed at df under the null;
    * w/df NULL when either arm has < 2 rows or both placement variances
    * vanish (complete separation — the statistic is infinite).
    */
  def brunnerMunzel(a: DataFrame, bDf: DataFrame, valueCol: String): DataFrame =
    bmOfCounts(scoreCounts(
      a.select(col(valueCol).as("__v"), lit(true).as("__l"))
        .unionByName(bDf.select(col(valueCol).as("__v"), lit(false).as("__l"))),
      col("__v"), col("__l")))

  /** [[brunnerMunzel]]'s readout from a [[scoreCounts]] table (__s, __p =
    * arm-a count, __n = arm-b count) — the stage the streaming monitor
    * shares with the batch operator.
    */
  def bmOfCounts(counts: DataFrame): DataFrame = {
    // input frozen once (round 16): it feeds the prefix scan AND the
    // totals aggregation (no-op for an already-frozen monitor state)
    val __fc = org.apache.spark.sql.graftbridge.Bridge.ensureFrozen(counts)
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val cum = graft.core.Scans.cumulative(__fc, "__s", Seq("__p", "__n"))
    // doubled combined midrank 2R = 2·(below both arms) + t + 1, and the
    // doubled combined-minus-within gaps Dₐ = 2R − 2rₐ = 2·belowᵦ + cᵦ
    // (the other arm's mass at/under this value) — all exact integers
    val r2 = (lit(2L) * (col("cum___p") - col("__p") + col("cum___n") - col("__n"))
      + col("__p") + col("__n") + lit(1L)).cast(big)
    val da = (lit(2L) * (col("cum___n") - col("__n")) + col("__n")).cast(big)
    val db = (lit(2L) * (col("cum___p") - col("__p")) + col("__p")).cast(big)
    val agg = cum
      .select(col("__p"), col("__n"), r2.as("__r2"), da.as("__da"), db.as("__db"))
      .agg(sum(col("__p")).as("n_a"), sum(col("__n")).as("n_b"),
        sum(col("__p").cast(big) * col("__r2")).as("__ar2"),
        sum(col("__n").cast(big) * col("__r2")).as("__br2"),
        sum(col("__p").cast(big) * col("__da")).as("__ad1"),
        sum(col("__p").cast(big) * col("__da") * col("__da")).as("__ad2"),
        sum(col("__n").cast(big) * col("__db")).as("__bd1"),
        sum(col("__n").cast(big) * col("__db") * col("__db")).as("__bd2"))
    def d(c: String) = col(c).cast("double")
    val nad = d("n_a")
    val nbd = d("n_b")
    // per-arm placement variances from the exact integer moments; the /4
    // undoes the rank doubling
    val sx = (d("__ad2") - d("__ad1") * d("__ad1") / nad) /
      (lit(4.0) * (nad - lit(1.0)))
    val sy = (d("__bd2") - d("__bd1") * d("__bd1") / nbd) /
      (lit(4.0) * (nbd - lit(1.0)))
    val meanGap2 = d("__br2") / nbd - d("__ar2") / nad
    val denomV = nad * sx + nbd * sy
    val w = nad * nbd * (meanGap2 / lit(2.0)) /
      ((nad + nbd) * sqrt(denomV))
    val pHat = (d("__br2") / nbd - (nbd + lit(1.0))) / lit(2.0) / nad
    val dfHat = denomV * denomV /
      ((nad * sx) * (nad * sx) / (nad - lit(1.0)) +
        (nbd * sy) * (nbd * sy) / (nbd - lit(1.0)))
    def r6(c: Column) = round(c.cast(dec8), 6).cast("double")
    val bad = col("n_a") < 2L || col("n_b") < 2L || denomV <= 0.0
    agg.select(col("n_a"), col("n_b"),
      when(col("n_a") === 0L || col("n_b") === 0L, lit(null).cast("double"))
        .otherwise(r6(pHat)).as("p_hat"),
      when(bad, lit(null).cast("double")).otherwise(r6(w)).as("w"),
      when(bad, lit(null).cast("double")).otherwise(r6(dfHat)).as("df"))
  }

  /** Ansari–Bradley test between two numeric samples — the SCALE
    * (dispersion) member of the two-sample family: [[mannWhitney]] /
    * [[brunnerMunzel]] ask which arm sits HIGHER, [[cliffsDelta]] how
    * dominantly; this asks which arm is more SPREAD OUT around the common
    * center — variance drift at equal level (a metric whose mean held but
    * whose tails fattened), the nonparametric Siegel–Tukey/F-test
    * replacement. Scores run in from both ends (1, 2, …, …, 2, 1), tied
    * values share their block's average score (scipy.stats.ansari), and
    * the statistic is arm a's score sum with the generalized
    * (tie-correct) normal approximation E = n_a·s̄,
    * Var = n_a·n_b·(Σs² − N·s̄²)/(N(N−1)).
    *
    * Scale shape: the IDENTICAL additive per-value count state as
    * [[rocAuc]]/[[mannWhitney]] (the
    * [[graft.streaming.Streaming.AucMonitor]] `scaleTest` readout); each
    * value block's exact DOUBLED score sum comes in closed form from its
    * rank interval [l, r] against the end-in score ramp (three integer
    * terms off the prefix scan — handles blocks straddling the center,
    * where min(midrank, N+1−midrank) would be wrong), per-block fractions
    * stage in DECIMAL(28,10) for order-independent sums, and the z
    * evaluates in fixed double order.
    *
    * Returns one row (n_a, n_b, ab, z) at 6dp; z NULL when either arm is
    * empty, N < 3, or the score variance degenerates (all values tied).
    */
  def ansariBradley(a: DataFrame, bDf: DataFrame, valueCol: String): DataFrame =
    abOfCounts(scoreCounts(
      a.select(col(valueCol).as("__v"), lit(true).as("__l"))
        .unionByName(bDf.select(col(valueCol).as("__v"), lit(false).as("__l"))),
      col("__v"), col("__l")))

  /** [[ansariBradley]]'s readout from a [[scoreCounts]] table (__s, __p =
    * arm-a count, __n = arm-b count) — the stage the streaming monitor
    * shares with the batch operator.
    */
  def abOfCounts(counts: DataFrame): DataFrame = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec = org.apache.spark.sql.types.DecimalType(28, 10)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val c = org.apache.spark.sql.graftbridge.Bridge.freeze(counts)
    val cum = graft.core.Scans.cumulative(c, "__s", Seq("__p", "__n"))
    val tot = broadcast(c.agg(
      coalesce(sum(col("__p")), lit(0L)).as("n_a"),
      coalesce(sum(col("__n")), lit(0L)).as("n_b")))
    val t = (col("__p") + col("__n")).cast(big)
    val nn = (col("n_a") + col("n_b")).cast(big)
    // the block's combined-rank interval [l, r], exact
    val l = ((col("cum___p") - col("__p") + col("cum___n") - col("__n"))
      + lit(1L)).cast(big)
    val r = l + t - lit(1)
    // end-in score of position j is min(j, N+1−j); the block's DOUBLED
    // score sum in closed form: ascending part up to floor((N+1)/2),
    // descending part after — exact integers throughout
    // floor((N+1)/2) — explicit floor of the double ratio (exact for any
    // count below 2^53, and the same operation the oracle runs)
    val floorHalf = floor((col("n_a") + col("n_b") + lit(1L)).cast("double")
      / lit(2.0)).cast("long").cast(big)
    val b1 = least(r, floorHalf)
    val t1x2 = when(l <= b1, (l + b1) * (b1 - l + lit(1)))
      .otherwise(lit(0).cast(big))
    val cc = greatest(l, floorHalf + lit(1))
    val t2x2 = when(cc <= r,
      lit(2) * (nn + lit(1)) * (r - cc + lit(1)) - (cc + r) * (r - cc + lit(1)))
      .otherwise(lit(0).cast(big))
    val s2 = (t1x2 + t2x2).cast(big) // doubled block score sum, exact
    val staged = cum.crossJoin(tot).select(
      ((col("__p").cast(big) * s2).cast("double")
        / (lit(2.0) * t.cast("double"))).cast(dec).as("__abx"),
      s2.as("__s2"),
      ((s2 * s2).cast("double") / (lit(4.0) * t.cast("double")))
        .cast(dec).as("__sq"))
    val agg = staged.agg(sum(col("__abx")).as("__ab"),
      sum(col("__s2")).as("__ss2"), sum(col("__sq")).as("__ssq"))
      .crossJoin(tot)
    val nad = col("n_a").cast("double")
    val nbd = col("n_b").cast("double")
    val nd = nad + nbd
    val sbar = col("__ss2").cast("double") / lit(2.0) / nd
    val e = nad * sbar
    val v = nad * nbd * (col("__ssq").cast("double") - nd * sbar * sbar) /
      (nd * (nd - lit(1.0)))
    def r6(x: Column) = round(x.cast(dec8), 6).cast("double")
    val bad = col("n_a") === 0L || col("n_b") === 0L ||
      col("n_a") + col("n_b") < 3L || v <= 0.0
    agg.select(col("n_a"), col("n_b"),
      when(col("n_a") === 0L, lit(null).cast("double"))
        .otherwise(r6(col("__ab").cast("double"))).as("ab"),
      when(bad, lit(null).cast("double"))
        .otherwise(r6((col("__ab").cast("double") - e) / sqrt(v))).as("z"))
  }

  /** Cliff's delta between two numeric samples — [[mannWhitney]]'s
    * EFFECT SIZE: the z says the dominance is real, δ = P(a > b) −
    * P(b > a) ∈ [−1, 1] says how LARGE it is, unmoved by sample size —
    * the ordinal sibling of [[cohensD]] (no variance, no normality, ties
    * split evenly via the same half-tie U). Reported with Romano's
    * conventional magnitude band (negligible < .147 ≤ small < .33 ≤
    * medium < .474 ≤ large, on the rounded |δ| so the label is
    * engine-stable).
    *
    * Scale shape: the IDENTICAL additive per-value count state as
    * [[mannWhitney]]/[[rocAuc]] (the
    * [[graft.streaming.Streaming.AucMonitor]] state, whose `dominance`
    * readout IS this statistic); δ = U₂/(n_a·n_b) − 1 with the exact
    * doubled-integer U off the prefix scan, ONE IEEE divide.
    *
    * Returns one row (n_a, n_b, delta, magnitude); NULL when either arm
    * is empty.
    */
  def cliffsDelta(a: DataFrame, bDf: DataFrame, valueCol: String): DataFrame =
    cliffsOfCounts(scoreCounts(
      a.select(col(valueCol).as("__v"), lit(true).as("__l"))
        .unionByName(bDf.select(col(valueCol).as("__v"), lit(false).as("__l"))),
      col("__v"), col("__l")))

  /** Two-sample Kolmogorov–Smirnov test — the ANY-difference-in-shape
    * verdict the rest of the two-sample family only sees projections of:
    * [[mannWhitney]]/[[brunnerMunzel]] read location, [[ansariBradley]]
    * reads scale, but two arms can share both and still differ (bimodal
    * vs unimodal quality scores after a filter change); D = sup|F_a −
    * F_b| moves for ANY distributional gap. The standard
    * distribution-equality check between a metric's arms.
    *
    * Scale shape: the IDENTICAL additive per-value count state as
    * [[rocAuc]]/[[mannWhitney]] (the
    * [[graft.streaming.Streaming.AucMonitor]] state, whose
    * `distributionTest` readout IS this test); both arms' CDFs ride ONE
    * deterministic-bucket prefix scan, the sup evaluates EXACTLY as the
    * max over rows of the integer |cum_a·n_b − cum_b·n_a| (no per-row
    * doubles), and only the final D/z/p divide in fixed double order. The
    * two-sided p uses the standard asymptotic tail bound 2·e^{−2z²}
    * (clamped to 1), evaluated from the ROUNDED d so both engines
    * exponentiate the identical double.
    *
    * Returns one row (n_a, n_b, d, z, p_approx); NULL when either arm is
    * empty.
    */
  def ksTwoSample(a: DataFrame, bDf: DataFrame, valueCol: String): DataFrame =
    ksOfCounts(scoreCounts(
      a.select(col(valueCol).as("__v"), lit(true).as("__l"))
        .unionByName(bDf.select(col(valueCol).as("__v"), lit(false).as("__l"))),
      col("__v"), col("__l")))

  /** [[ksTwoSample]]'s readout from a [[scoreCounts]] table — the stage
    * the streaming monitor shares with the batch operator.
    */
  def ksOfCounts(counts: DataFrame): DataFrame = {
    // input frozen once (round 16): it feeds the prefix scan AND the
    // totals aggregation (no-op for an already-frozen monitor state)
    val __fc = org.apache.spark.sql.graftbridge.Bridge.ensureFrozen(counts)
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val cum = graft.core.Scans.cumulative(__fc, "__s", Seq("__p", "__n"))
    val tot = __fc.agg(sum(col("__p")).as("n_a"), sum(col("__n")).as("n_b"))
    val agg = cum.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        abs(col("cum___p").cast(big) * col("n_b").cast(big) -
          col("cum___n").cast(big) * col("n_a").cast(big)).as("__g"))
      .groupBy(col("n_a"), col("n_b")).agg(max(col("__g")).as("__gm"))
    def r6(x: Column) = round(x.cast(dec8), 6).cast("double")
    val nad = col("n_a").cast("double")
    val nbd = col("n_b").cast("double")
    val empty = col("n_a") === 0L || col("n_b") === 0L
    val d = when(empty, lit(null).cast("double"))
      .otherwise(r6(col("__gm").cast("double") / (nad * nbd)))
    val withD = agg.select(col("n_a"), col("n_b"), d.as("d"))
    val z = col("d") * sqrt(nad * nbd / (nad + nbd))
    withD.select(col("n_a"), col("n_b"), col("d"),
      r6(z).as("z"),
      r6(least(lit(2.0) * exp(lit(-2.0) * z * z), lit(1.0))).as("p_approx"))
  }

  /** [[cliffsDelta]]'s readout from a [[scoreCounts]] table — the stage
    * the streaming monitor shares with the batch operator.
    */
  def cliffsOfCounts(counts: DataFrame): DataFrame = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    // input frozen once (round 16): it feeds the prefix scan AND the
    // totals aggregation (no-op for an already-frozen monitor state)
    val __fc = org.apache.spark.sql.graftbridge.Bridge.ensureFrozen(counts)
    val cum = graft.core.Scans.cumulative(__fc, "__s", Seq("__n"))
    val agg = cum
      .select(col("__p"), col("__n"),
        (col("__p").cast(big) *
          (lit(2L) * (col("cum___n") - col("__n")) + col("__n")).cast(big))
          .as("__u2"))
      .agg(sum(col("__p")).as("n_a"), sum(col("__n")).as("n_b"),
        sum(col("__u2")).as("__u2s"))
    val delta = round((col("__u2s").cast("double") /
      (col("n_a").cast("double") * col("n_b").cast("double")) - lit(1.0))
      .cast(dec8), 6).cast("double")
    agg
      .select(col("n_a"), col("n_b"),
        when(col("n_a") === 0L || col("n_b") === 0L, lit(null).cast("double"))
          .otherwise(delta).as("delta"))
      .withColumn("magnitude",
        when(col("delta").isNull, lit(null).cast("string"))
          .when(abs(col("delta")) < 0.147, "negligible")
          .when(abs(col("delta")) < 0.33, "small")
          .when(abs(col("delta")) < 0.474, "medium")
          .otherwise("large"))
  }

  /** Two-sample Cramér–von Mises test — [[ksTwoSample]]'s INTEGRATED
    * sibling: where KS reads only the single largest CDF gap, T averages
    * the SQUARED gap over every observation, so many moderate departures
    * (a distribution that is slightly off everywhere — the classic
    * drift-after-requantization shape) move T long before any one point
    * gap grows large enough to move D. The standard companion check when
    * a KS verdict looks marginal.
    *
    * Scale shape: the IDENTICAL additive per-value count state as
    * [[rocAuc]]/[[mannWhitney]]/[[ksTwoSample]] (the
    * [[graft.streaming.Streaming.AucMonitor]] state, whose `shapeTest`
    * readout IS this test); both CDFs ride the ONE deterministic-bucket
    * prefix scan, each distinct value's gap `cum_a·n_b − cum_b·n_a` is an
    * exact DECIMAL(38,0) integer, the squared-gap term evaluates in fixed
    * double order and stages in DECIMAL(28,10) BEFORE the sum (exact,
    * order-free decimal addition — engine-reproducible), and only the
    * final T and its standardization run as fixed-order doubles. The z
    * uses Anderson's exact null moments E[T] = (1 + 1/N)/6 and
    * Var[T] = (N+1)/(45N²) · (4mnN − 3(m²+n²) − 2mn)/(4mn), evaluated
    * from the ROUNDED t so both engines standardize the identical double.
    *
    * Returns one row (n_a, n_b, t, z); NULL when either arm is empty (z
    * also NULL when the null variance is non-positive — degenerate N).
    */
  def cramerVonMises(a: DataFrame, bDf: DataFrame, valueCol: String): DataFrame =
    cvmOfCounts(scoreCounts(
      a.select(col(valueCol).as("__v"), lit(true).as("__l"))
        .unionByName(bDf.select(col(valueCol).as("__v"), lit(false).as("__l"))),
      col("__v"), col("__l")))

  /** [[cramerVonMises]]'s readout from a [[scoreCounts]] table — the
    * stage the streaming monitor shares with the batch operator.
    */
  def cvmOfCounts(counts: DataFrame): DataFrame = {
    // input frozen once (round 16): it feeds the prefix scan AND the
    // totals aggregation (no-op for an already-frozen monitor state)
    val __fc = org.apache.spark.sql.graftbridge.Bridge.ensureFrozen(counts)
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val dec10 = org.apache.spark.sql.types.DecimalType(28, 10)
    val cum = graft.core.Scans.cumulative(__fc, "__s", Seq("__p", "__n"))
    val tot = __fc.agg(sum(col("__p")).as("n_a"), sum(col("__n")).as("n_b"))
    val nad = col("n_a").cast("double")
    val nbd = col("n_b").cast("double")
    val gd = (col("cum___p").cast(big) * col("n_b").cast(big) -
      col("cum___n").cast(big) * col("n_a").cast(big)).cast("double")
    val fd = gd / (nad * nbd)
    val agg = cum.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        ((col("__p") + col("__n")).cast("double") * fd * fd)
          .cast(dec10).as("__t"))
      .groupBy(col("n_a"), col("n_b")).agg(sum(col("__t")).as("__ts"))
    def r6(x: Column) = round(x.cast(dec8), 6).cast("double")
    val nd = nad + nbd
    val empty = col("n_a") === 0L || col("n_b") === 0L
    val t = when(empty, lit(null).cast("double"))
      .otherwise(r6((nad * nbd / (nd * nd)) * col("__ts").cast("double")))
    val withT = agg.select(col("n_a"), col("n_b"), t.as("t"))
    val et = (lit(1.0) + lit(1.0) / nd) / lit(6.0)
    val vt = ((nd + lit(1.0)) / (lit(45.0) * nd * nd)) *
      ((lit(4.0) * nad * nbd * nd - lit(3.0) * (nad * nad + nbd * nbd) -
        lit(2.0) * nad * nbd) / (lit(4.0) * nad * nbd))
    withT.select(col("n_a"), col("n_b"), col("t"),
      when(col("t").isNull || vt <= 0.0, lit(null).cast("double"))
        .otherwise(r6((col("t") - et) / sqrt(vt))).as("z"))
  }

  /** Two-sample Anderson–Darling test — the TAIL-weighted member of the
    * distribution-equality family: [[ksTwoSample]] weights every CDF gap
    * equally and [[cramerVonMises]] integrates it uniformly, so both are
    * near-blind to gaps out in the tails where F(1−F) → 0; A² divides
    * each squared gap by exactly that factor, making it the test that
    * catches a contamination living only in the extreme quantiles (the
    * truncated-vs-heavy-tail quality-score case both siblings pass).
    *
    * Scale shape: the IDENTICAL additive per-value count state as its
    * siblings (the [[graft.streaming.Streaming.AucMonitor]] state, whose
    * `tailTest` readout IS this test); the per-value gap `N·cum_a − n_a·B`
    * is an exact DECIMAL(38,0) integer off the same ONE prefix scan, each
    * term evaluates as fixed-order doubles `w · (g/B) · (g/(N−B))`
    * (factored so every intermediate stays ≤ N — no double overflow at
    * any data scale) and stages in DECIMAL(28,10) BEFORE the sum; ONE
    * IEEE divide by n_a·n_b at the end. Pettitt's k=2 form with the
    * right-continuous tie convention (the B_i = N top value drops out
    * exactly, its gap being identically zero).
    *
    * Returns one row (n_a, n_b, a2); NULL when either arm is empty or
    * every row is one tied value (no interior CDF point).
    */
  def andersonDarling2(a: DataFrame, bDf: DataFrame, valueCol: String): DataFrame =
    ad2OfCounts(scoreCounts(
      a.select(col(valueCol).as("__v"), lit(true).as("__l"))
        .unionByName(bDf.select(col(valueCol).as("__v"), lit(false).as("__l"))),
      col("__v"), col("__l")))

  /** [[andersonDarling2]]'s readout from a [[scoreCounts]] table — the
    * stage the streaming monitor shares with the batch operator.
    */
  def ad2OfCounts(counts: DataFrame): DataFrame = {
    // input frozen once (round 16): it feeds the prefix scan AND the
    // totals aggregation (no-op for an already-frozen monitor state)
    val __fc = org.apache.spark.sql.graftbridge.Bridge.ensureFrozen(counts)
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val dec10 = org.apache.spark.sql.types.DecimalType(28, 10)
    val cum = graft.core.Scans.cumulative(__fc, "__s", Seq("__p", "__n"))
    val tot = __fc.agg(sum(col("__p")).as("n_a"), sum(col("__n")).as("n_b"))
    val nTot = (col("n_a") + col("n_b")).cast(big)
    val bTot = (col("cum___p") + col("cum___n")).cast(big)
    val gd = (nTot * col("cum___p").cast(big) -
      col("n_a").cast(big) * bTot).cast("double")
    val bd = bTot.cast("double")
    val nd = (col("n_a") + col("n_b")).cast("double")
    val agg = cum.crossJoin(broadcast(tot))
      .filter(col("cum___p") + col("cum___n") < col("n_a") + col("n_b"))
      .select(col("n_a"), col("n_b"),
        ((col("__p") + col("__n")).cast("double") * (gd / bd) *
          (gd / (nd - bd))).cast(dec10).as("__t"))
      .groupBy(col("n_a"), col("n_b")).agg(sum(col("__t")).as("__ts"))
    def r6(x: Column) = round(x.cast(dec8), 6).cast("double")
    val nad = col("n_a").cast("double")
    val nbd = col("n_b").cast("double")
    val empty = col("n_a") === 0L || col("n_b") === 0L
    agg.select(col("n_a"), col("n_b"),
      when(empty || col("__ts").isNull, lit(null).cast("double"))
        .otherwise(r6(col("__ts").cast("double") / (nad * nbd))).as("a2"))
  }

  /** Bucketed 1-D Wasserstein-1 (earth-mover's) distance between two
    * numeric samples — the family's DISTANCE, not test: KS/CvM/A² answer
    * "are these the same distribution", W₁ = ∫|F_a − F_b| answers "how
    * FAR apart are they, in the value's own units" — the number a drift
    * dashboard trends and alerts on (a 0.3-point mean shift reads as
    * W₁ ≈ 0.3), comparable across days because it has units, where a
    * p-value at 10⁹ rows is always ~0. Resolution is `width` — the same
    * fixed-bucket discipline as [[populationStability]]/the histogram
    * quantiles, so the post-scan table is bounded by value-range/width
    * (CONFIG), never by rows or distinct values.
    *
    * Scale shape: the per-value count state re-buckets in ONE extra
    * bounded aggregation (still additive — the
    * [[graft.streaming.Streaming.AucMonitor]] `transportDistance` readout
    * IS this distance); cumulative counts ride the deterministic-bucket
    * prefix scan; each present bucket's next-present neighbor comes from
    * a triangular join on the CONFIG-bounded bucket table (no window, no
    * single-partition sort); the per-gap contribution
    * `(next−b)·width · |cum_a·n_b − cum_b·n_a|/(n_a·n_b)` evaluates in
    * fixed double order off the exact DECIMAL(38,0) gap and stages in
    * DECIMAL(28,10) BEFORE the sum. The top bucket's CDF gap is
    * identically zero, so dropping the no-next row is exact, not an
    * approximation.
    *
    * Returns one row (n_a, n_b, w1); NULL when either arm is empty; 0.0
    * when all mass shares one bucket.
    */
  def wasserstein1(a: DataFrame, bDf: DataFrame, valueCol: String,
                   width: Double): DataFrame =
    w1OfCounts(scoreCounts(
      a.select(col(valueCol).as("__v"), lit(true).as("__l"))
        .unionByName(bDf.select(col(valueCol).as("__v"), lit(false).as("__l"))),
      col("__v"), col("__l")), width)

  /** [[wasserstein1]]'s readout from a [[scoreCounts]] table — the stage
    * the streaming monitor shares with the batch operator.
    */
  def w1OfCounts(counts: DataFrame, width: Double): DataFrame = {
    require(width > 0, "width must be positive")
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val dec10 = org.apache.spark.sql.types.DecimalType(28, 10)
    // re-bucket the per-value state to the config-bounded resolution;
    // frozen once (round 16): the bin table feeds the scan, the totals
    // AND the next-bucket triangular join
    val bins = org.apache.spark.sql.graftbridge.Bridge.freeze(counts
      .select(floor(col("__s") / width).cast("long").as("__b"),
        col("__p"), col("__n"))
      .groupBy(col("__b"))
      .agg(sum(col("__p")).as("__p"), sum(col("__n")).as("__n")))
    val cum = graft.core.Scans.cumulative(bins, "__b", Seq("__p", "__n"))
    val tot = bins.agg(sum(col("__p")).as("n_a"), sum(col("__n")).as("n_b"))
    // next present bucket via a triangular join on the bounded bin table
    val nxt = cum.as("a")
      .join(bins.select(col("__b").as("__b2")).as("b"),
        col("b.__b2") > col("a.__b"), "left")
      .groupBy(col("a.__b").as("__b"), col("a.cum___p").as("cum___p"),
        col("a.cum___n").as("cum___n"))
      .agg(min(col("b.__b2")).as("__nx"))
    val nad = col("n_a").cast("double")
    val nbd = col("n_b").cast("double")
    val absD = abs(col("cum___p").cast(big) * col("n_b").cast(big) -
      col("cum___n").cast(big) * col("n_a").cast(big)).cast("double")
    // aggregate without a groupBy so the one-bucket case still yields a
    // row (W₁ = 0.0), then attach the totals
    val agg = nxt.filter(col("__nx").isNotNull)
      .crossJoin(broadcast(tot))
      .select((((col("__nx") - col("__b")).cast("double") * lit(width)) *
        (absD / (nad * nbd))).cast(dec10).as("__t"))
      .agg(sum(col("__t")).as("__ts"))
      .crossJoin(broadcast(tot))
    def r6(x: Column) = round(x.cast(dec8), 6).cast("double")
    val empty = col("n_a") === 0L || col("n_b") === 0L
    agg.select(col("n_a"), col("n_b"),
      when(empty, lit(null).cast("double"))
        .otherwise(r6(coalesce(col("__ts"), lit(0).cast(dec10))
          .cast("double"))).as("w1"))
  }

  /** Kruskal–Wallis H test of a numeric column across k groups — the
    * NONPARAMETRIC twin of [[anovaF]] (and the k-group generalization of
    * [[mannWhitney]]): "do these cohorts draw from the same
    * distribution", rank-based, so heavy tails and outliers can't fake
    * or hide a group difference the way they can in a mean-based F.
    *
    * Scale shape: ONE groupBy to the per-(value, group) count table —
    * bounded by distinct (value, group) pairs, never rows, and additive
    * per pair (the [[graft.streaming.Streaming.KruskalMonitor]] state);
    * per-value totals feed the deterministic-bucket prefix scan
    * ([[graft.core.Scans.cumulative]]) for average ranks; doubled rank
    * sums and the tie term Σ(t³−t) are exact integers in DECIMAL(38,0);
    * each group's R²/n term evaluates in fixed double order and is
    * staged to DECIMAL(28,10) BEFORE the k-row sum (the [[anovaF]]
    * discipline), then H with the standard tie correction.
    *
    * Returns one row (k, n, h); h is NULL when k<2 or every value is
    * tied (zero rank variance).
    */
  def kruskalWallis(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame =
    kwOfCounts(groupValueCounts(df, groupCol, valueCol))

  /** [[kruskalWallis]]'s per-(value, group) count table (one aggregation;
    * additive per pair across micro-batches).
    */
  def groupValueCounts(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame =
    df.filter(valueCol.isNotNull && groupCol.isNotNull)
      .groupBy(valueCol.as("__v"), groupCol.as("__g"))
      .agg(count(lit(1)).as("__c"))

  /** [[kruskalWallis]]'s readout from an already-built (__v, __g, __c)
    * count table — the stage the streaming monitor shares with the batch
    * operator.
    */
  def kwOfCounts(counts0: DataFrame): DataFrame = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec = org.apache.spark.sql.types.DecimalType(28, 10)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    // input frozen once (round 16): it feeds the per-value rollup AND the
    // rank join; the rollup is frozen too — it feeds the scan and the tie
    // term (both no-ops for already-frozen frames)
    val counts = org.apache.spark.sql.graftbridge.Bridge.ensureFrozen(counts0)
    val t = org.apache.spark.sql.graftbridge.Bridge.freeze(
      counts.groupBy(col("__v")).agg(sum(col("__c")).as("__t")))
    // doubled average rank of each value: 2r = 2·(strictly below) + t + 1
    val r = graft.core.Scans.cumulative(t, "__v", Seq("__t"))
      .select(col("__v"),
        (lit(2L) * (col("cum___t") - col("__t")) + col("__t") + lit(1L))
          .cast(big).as("__r2"))
    val g = counts.join(r, Seq("__v"))
      .groupBy(col("__g"))
      .agg(sum(col("__c")).as("__n"),
        sum(col("__c").cast(big) * col("__r2")).as("__rr2"))
    val term = g.select(col("__n"),
      ((col("__rr2").cast("double") / lit(2.0))
        * (col("__rr2").cast("double") / lit(2.0))
        / col("__n").cast("double")).cast(dec).as("__tm"))
    val tot = term.agg(count(lit(1)).as("k"), sum(col("__n")).as("n"),
      sum(col("__tm")).as("__st"))
    val tie = t.agg(sum(col("__t").cast(big) * col("__t").cast(big)
      * col("__t").cast(big) - col("__t").cast(big)).as("__ts"))
    val nd = col("n").cast("double")
    val h = lit(12.0) / (nd * (nd + lit(1.0))) * col("__st").cast("double") -
      lit(3.0) * (nd + lit(1.0))
    val corr = lit(1.0) - col("__ts").cast("double") / (nd * nd * nd - nd)
    tot.crossJoin(broadcast(tie))
      .select(col("k"), col("n"),
        when(col("k") <= 1L || corr <= 0.0, lit(null).cast("double"))
          .otherwise(round((h / corr).cast(dec8), 6).cast("double")).as("h"))
  }

  /** Exact distributed quantiles of a numeric column — the
    * percentile-contract readout [[histogramQuantiles]]'s fixed-width
    * bins can only bracket: the exact linearly-interpolated order
    * statistic at each requested q (Spark `percentile` / DuckDB
    * `quantile_cont` semantics), computed WITHOUT a global sort and
    * WITHOUT an unpartitioned window.
    *
    * Scale shape: the corpus collapses ONCE to the per-value count
    * table — bounded by DISTINCT values, never rows (for continuous
    * doubles, pre-round to the precision the contract needs —
    * [[histogramQuantiles]] covers the truly-unbounded case); inclusive
    * cumulatives ride the deterministic-bucket prefix scan
    * ([[graft.core.Scans.cumulative]]), each quantile is two
    * conditional-min order statistics against a broadcast q table plus
    * one interpolation in fixed double order. The count table is the
    * summed [[graft.streaming.Streaming.KruskalMonitor]] state, whose
    * `quantiles` readout IS this table — live percentile contracts with
    * no extra state.
    *
    * Returns one row per q: (q, n, value) at 6dp, ordered by q; value is
    * NULL (and n = 0) when the input is empty. NULL values are excluded
    * before counting — the Spark `percentile` / SQL-aggregate convention
    * ([[scoreCounts]]' existing isNotNull discipline).
    */
  def exactQuantiles(df: DataFrame, valueCol: Column,
                     qs: Seq[Double]): DataFrame =
    quantilesOfCounts(
      df.filter(valueCol.isNotNull)
        .groupBy(valueCol.as("__v")).agg(count(lit(1)).as("__c")), qs)

  /** [[exactQuantiles]]'s readout from an already-built (__v, __c) count
    * table — the stage the streaming monitor shares with the batch
    * operator.
    */
  def quantilesOfCounts(counts: DataFrame, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q >= 0.0 && q <= 1.0),
      "quantiles must lie in [0, 1]")
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    // the bounded count table feeds the cumulative and the total —
    // frozen, or the corpus count aggregation runs twice
    val c = org.apache.spark.sql.graftbridge.Bridge.freeze(counts)
    val cum = graft.core.Scans.cumulative(c, "__v", Seq("__c"))
    val tot = broadcast(c.agg(sum(col("__c")).as("__n")))
    // two independent literal frames (fresh attribute ids), so the final
    // per-q left join is not a self-join on the shared q attribute
    def qframe() = broadcast(c.sparkSession.range(1)
      .select(explode(array(qs.map(lit): _*)).as("q")))
    val qdf = qframe()
    val pos = (col("__n").cast("double") - lit(1.0)) * col("q")
    val lo = floor(pos).cast("long") + lit(1L)
    val frac = pos - floor(pos)
    val r = cum.crossJoin(qdf).crossJoin(tot)
      .groupBy(col("q"), col("__n"), frac.as("__frac"))
      .agg(
        min(when(col("cum___c") >= lo, col("__v"))).cast("double").as("__xlo"),
        min(when(col("cum___c") >= least(lo + lit(1L), col("__n")), col("__v")))
          .cast("double").as("__xhi"))
      .select(col("q"),
        round((col("__xlo") + (col("__xhi") - col("__xlo")) * col("__frac"))
          .cast(dec8), 6).cast("double").as("value"))
    // empty input collapses the crossJoin chain to zero rows; the contract
    // is one row per q with a NULL value — the broadcast q table is the
    // left side, so every q survives (tot always yields its single row)
    qframe().crossJoin(tot)
      .select(col("q"), coalesce(col("__n"), lit(0L)).as("n"))
      .join(r, Seq("q"), "left")
      .select(col("q"), col("n"), col("value"))
      .orderBy(col("q"))
  }

  /** Trimmed mean — the robust location estimate between the mean (one
    * corrupt row moves it) and the median (throws away 98% of the data's
    * precision): cut the lowest and highest ⌊trim·n⌋ observations and
    * average the rest, scipy `trim_mean` semantics. The pair (mean,
    * trimmed_mean) IS the outlier-contamination readout — a gap between
    * them says the tails are doing the talking.
    *
    * Scale shape: the corpus collapses ONCE to the per-value count table
    * (the summed [[graft.streaming.Streaming.KruskalMonitor]] state,
    * whose `trimmed` readout IS this statistic); each value's kept
    * weight is interval arithmetic on the deterministic-bucket prefix
    * scan ([[graft.core.Scans.cumulative]]) — min/max clamps of exact
    * integers, value×weight products decimal-staged BEFORE the sum.
    * Zero row-level work after the count rollup.
    *
    * Returns one row (n, cut, kept, mean, trimmed_mean) at 6dp;
    * trimmed_mean NULL when the trim leaves nothing (kept ≤ 0); empty
    * input yields zero rows.
    */
  def trimmedMean(df: DataFrame, valueCol: Column,
                  trim: Double = 0.1): DataFrame =
    trimmedOfCounts(
      df.filter(valueCol.isNotNull)
        .groupBy(valueCol.as("__v")).agg(count(lit(1)).as("__c")), trim)

  /** [[trimmedMean]]'s readout from an already-built (__v, __c) count
    * table — the stage the streaming monitor shares with the batch
    * operator.
    */
  def trimmedOfCounts(counts: DataFrame, trim: Double = 0.1): DataFrame = {
    require(trim >= 0 && trim < 0.5, "0 <= trim < 0.5")
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val decS = org.apache.spark.sql.types.DecimalType(28, 10)
    val c = org.apache.spark.sql.graftbridge.Bridge.freeze(counts)
    val cum = graft.core.Scans.cumulative(c, "__v", Seq("__c"))
    val tot = broadcast(c.agg(sum(col("__c")).as("__n")))
    val g = floor(col("__n").cast("double") * lit(trim)).cast("long")
    val cumPrev = col("cum___c") - col("__c")
    val kept = greatest(
      least(col("cum___c"), col("__n") - g) - greatest(cumPrev, g), lit(0L))
    def d(s: String) = col(s).cast("double")
    cum.crossJoin(tot)
      .select(col("__n"), g.as("__g"),
        (col("__v").cast("double") * kept.cast("double")).cast(decS)
          .as("__sv"),
        kept.as("__kc"),
        (col("__v").cast("double") * col("__c").cast("double")).cast(decS)
          .as("__av"))
      .groupBy(col("__n"), col("__g"))
      .agg(sum(col("__sv")).as("__svs"), sum(col("__kc")).as("__ks"),
        sum(col("__av")).as("__avs"))
      .select(col("__n").as("n"), col("__g").as("cut"), col("__ks").as("kept"),
        round((d("__avs") / d("__n")).cast(dec8), 6).cast("double").as("mean"),
        when(col("__ks") <= 0L, lit(null).cast("double"))
          .otherwise(round((d("__svs") / d("__ks")).cast(dec8), 6)
            .cast("double")).as("trimmed_mean"))
  }

  /** Median absolute deviation — the robust SCALE estimate next to
    * [[trimmedMean]]'s robust location: mad = median(|x − median(x)|),
    * immune to the outliers that inflate a standard deviation, with the
    * normal-consistent form 1.4826·mad reading directly against σ (the
    * robust z-score denominator every data-quality screen wants).
    *
    * Scale shape: TWO median extractions, both on bounded count tables —
    * the per-value counts (the summed
    * [[graft.streaming.Streaming.KruskalMonitor]] state, whose `scale`
    * readout IS this statistic), then the |v − med| deviation counts
    * derived from that same frame (one broadcast join, regrouped at
    * deviation cardinality ≤ value cardinality). Each median is
    * [[quantilesOfCounts]]' two conditional order statistics on the
    * deterministic-bucket prefix scan. No row-level second pass.
    *
    * Returns one row (n, median, mad, mad_normal) at 6dp; empty input
    * yields zero rows.
    */
  def madScale(df: DataFrame, valueCol: Column): DataFrame =
    madOfCounts(
      df.filter(valueCol.isNotNull)
        .groupBy(valueCol.as("__v")).agg(count(lit(1)).as("__c")))

  /** [[madScale]]'s readout from an already-built (__v, __c) count table
    * — the stage the streaming monitor shares with the batch operator.
    */
  def madOfCounts(counts: DataFrame): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    // interpolated median of a (__v, __c) count table: (n, med) 1-row
    def medianOf(cc: DataFrame): DataFrame = {
      val cum = graft.core.Scans.cumulative(cc, "__v", Seq("__c"))
      val tot = broadcast(cc.agg(sum(col("__c")).as("__n")))
      val pos = (col("__n").cast("double") - lit(1.0)) * lit(0.5)
      val lo = floor(pos).cast("long") + lit(1L)
      val frac = pos - floor(pos)
      cum.crossJoin(tot)
        .groupBy(col("__n"), frac.as("__frac"))
        .agg(
          min(when(col("cum___c") >= lo, col("__v"))).cast("double")
            .as("__xlo"),
          min(when(col("cum___c") >= least(lo + lit(1L), col("__n")),
            col("__v"))).cast("double").as("__xhi"))
        .select(col("__n"),
          (col("__xlo") + (col("__xhi") - col("__xlo")) * col("__frac"))
            .as("__med"))
    }
    val c = org.apache.spark.sql.graftbridge.Bridge.freeze(counts)
    val m1 = org.apache.spark.sql.graftbridge.Bridge.freeze(medianOf(c))
    val devs = c.crossJoin(broadcast(m1))
      .groupBy(abs(col("__v").cast("double") - col("__med")).as("__v"))
      .agg(sum(col("__c")).as("__c"))
    def r6(cc: Column) = round(cc.cast(dec8), 6).cast("double")
    medianOf(devs).select(col("__n").as("n"), col("__med").as("__mad"))
      .crossJoin(broadcast(m1.select(col("__med"))))
      .select(col("n"), r6(col("__med")).as("median"),
        r6(col("__mad")).as("mad"),
        r6(col("__mad") * lit(1.4826022185056018)).as("mad_normal"))
  }

  /** Cumulative gains / lift table — "if I keep only the top k/10 of
    * documents by classifier score, what share of the true positives do
    * I capture, and how much better is that than random": the
    * budget-facing readout next to [[rocAuc]] (one number, no budget)
    * and [[prCurve]] (fixed cuts, no budget) — curation IS a budget
    * decision, and this is the curve it reads.
    *
    * Scale shape: the SAME additive per-score count state as
    * [[aucOfCounts]] (the [[graft.streaming.Streaming.AucMonitor]]
    * state, whose `gains` readout IS this table), cumulated top-first on
    * the deterministic-bucket prefix scan; each decile's row is two
    * conditional-min order statistics (both cumulatives are monotone
    * along the scan, so min-over-qualifying reads the boundary row)
    * against a broadcast decile frame. Zero row-level work.
    *
    * Returns one row per decile: (decile, n_cum, pos_cum, gain, lift) at
    * 6dp — gain = captured-positive share, lift = gain over the random
    * baseline n_cum/n; NULL gain/lift when no positives exist. Decile
    * cuts are ⌈k·n/deciles⌉ (exact below 2⁵³ rows). Empty input yields
    * zero rows.
    */
  def gainsCurve(df: DataFrame, score: Column, label: Column,
                 deciles: Int = 10): DataFrame =
    gainsOfCounts(scoreCounts(df, score, label), deciles)

  /** [[gainsCurve]]'s readout from a [[scoreCounts]] table — the stage
    * the streaming monitor shares with the batch operator.
    */
  def gainsOfCounts(counts: DataFrame, deciles: Int = 10): DataFrame = {
    require(deciles >= 2 && deciles <= 100, "2 <= deciles <= 100")
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    // negate the score so the ascending prefix scan cumulates TOP-first
    val c = org.apache.spark.sql.graftbridge.Bridge.freeze(
      counts.select((-col("__s").cast("double")).as("__k"),
        col("__p"), col("__n")))
    val cum = graft.core.Scans.cumulative(c, "__k", Seq("__p", "__n"))
    val tot = broadcast(c.agg(sum(col("__p")).as("__tp"),
      sum(col("__n")).as("__tn")))
    val dfr = broadcast(c.sparkSession.range(1, deciles + 1)
      .select(col("id").as("__dec")))
    val bigN = col("__tp") + col("__tn")
    val cut = floor(((bigN * col("__dec")).cast("double") +
      lit((deciles - 1).toDouble)) / lit(deciles.toDouble)).cast("long")
    val cumtot = col("cum___p") + col("cum___n")
    def d(s: String) = col(s).cast("double")
    cum.crossJoin(dfr).crossJoin(tot)
      .groupBy(col("__dec"), col("__tp"), col("__tn"))
      .agg(min(when(cumtot >= cut, cumtot)).as("n_cum"),
        min(when(cumtot >= cut, col("cum___p"))).as("pos_cum"))
      .select(col("__dec").as("decile"), col("n_cum"), col("pos_cum"),
        when(col("__tp") === 0L, lit(null).cast("double"))
          .otherwise(round((d("pos_cum") / d("__tp")).cast(dec8), 6)
            .cast("double")).as("gain"),
        when(col("__tp") === 0L, lit(null).cast("double"))
          .otherwise(round((d("pos_cum") / d("__tp") /
            (d("n_cum") / (d("__tp") + d("__tn")))).cast(dec8), 6)
            .cast("double")).as("lift"))
      .orderBy(col("decile"))
  }

  /** Full confusion-matrix metrics of a score cut — the numbers
    * [[prCurve]]'s P/R/F1 can't see because they ignore the true
    * negatives: MCC (the single correlation-grade summary that stays
    * honest under class imbalance, where accuracy and even F1 flatter),
    * balanced accuracy, and Youden's J (the cut-quality measure ROC
    * analysis optimizes). The classifier-admission readout before a
    * filter ships.
    *
    * Scale shape: four conditional sums over the SAME additive per-score
    * count state as [[aucOfCounts]] (the
    * [[graft.streaming.Streaming.AucMonitor]] state, whose `confusion`
    * readout IS this row); the MCC numerator forms exactly in
    * DECIMAL(38,0), the denominator and rates in fixed double order.
    * Zero data shuffle beyond the count rollup.
    *
    * Returns one row (threshold, tp, fp, fn, tn, acc, tpr, tnr,
    * balanced_acc, youden_j, mcc) at 6dp — rate-derived metrics NULL
    * when their class margin is empty; MCC NULL when any margin is
    * empty (the undefined-0/0 case, reported as unknown rather than a
    * fake 0).
    */
  def confusionMetrics(df: DataFrame, score: Column, label: Column,
                       threshold: Double): DataFrame =
    confusionOfCounts(scoreCounts(df, score, label), threshold)

  /** [[confusionMetrics]]' readout from a [[scoreCounts]] table — the
    * stage the streaming monitor shares with the batch operator.
    */
  def confusionOfCounts(counts: DataFrame, threshold: Double): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val row = counts.agg(
      sum(when(col("__s") >= threshold, col("__p")).otherwise(0L)).as("tp"),
      sum(when(col("__s") >= threshold, col("__n")).otherwise(0L)).as("fp"),
      sum(when(col("__s") < threshold, col("__p")).otherwise(0L)).as("fn"),
      sum(when(col("__s") < threshold, col("__n")).otherwise(0L)).as("tn"))
    def d(s: String) = col(s).cast("double")
    val tpr = d("tp") / (d("tp") + d("fn"))
    val tnr = d("tn") / (d("tn") + d("fp"))
    val acc = (d("tp") + d("tn")) /
      (d("tp") + d("fp") + d("fn") + d("tn"))
    val num = (col("tp").cast(dec38) * col("tn") -
      col("fp").cast(dec38) * col("fn")).cast("double")
    val den = sqrt((d("tp") + d("fp")) * (d("tp") + d("fn")) *
      (d("tn") + d("fp")) * (d("tn") + d("fn")))
    def r6(c: Column) = round(c.cast(dec8), 6).cast("double")
    val posEmpty = col("tp") + col("fn") === 0L
    val negEmpty = col("tn") + col("fp") === 0L
    val marginEmpty = posEmpty || negEmpty ||
      col("tp") + col("fp") === 0L || col("tn") + col("fn") === 0L
    def nn(bad: Column, c: Column) =
      when(bad, lit(null).cast("double")).otherwise(r6(c))
    row.select(lit(threshold).as("threshold"),
      col("tp"), col("fp"), col("fn"), col("tn"),
      nn(posEmpty && negEmpty, acc).as("acc"),
      nn(posEmpty, tpr).as("tpr"), nn(negEmpty, tnr).as("tnr"),
      nn(posEmpty || negEmpty, (tpr + tnr) / lit(2.0)).as("balanced_acc"),
      nn(posEmpty || negEmpty, tpr + tnr - lit(1.0)).as("youden_j"),
      nn(marginEmpty, num / den).as("mcc"))
  }

  /** Robust distribution shape off the quartiles — IQR (the robust
    * spread), Bowley's quartile skewness (sign and strength of asymmetry
    * without a 3rd moment for one outlier to own), and the quartile
    * coefficient of dispersion (scale-free spread, comparable across
    * metrics): the three-number shape fingerprint that stays meaningful
    * on exactly the heavy-tailed data where [[jarqueBera]]'s moments
    * saturate.
    *
    * Scale shape: ONE [[quantilesOfCounts]] pass at (0.25, 0.5, 0.75)
    * over the per-value count table (the summed
    * [[graft.streaming.Streaming.KruskalMonitor]] state, whose `shape`
    * readout IS this row), pivoted by conditional max; derived ratios
    * form from the already-rounded quartiles so engines agree at the
    * boundary.
    *
    * Returns one row (n, q1, median, q3, iqr, bowley, qcd) at 6dp —
    * bowley NULL when IQR is 0, qcd NULL when q1 + q3 is 0.
    */
  def robustShape(df: DataFrame, valueCol: Column): DataFrame =
    shapeOfCounts(
      df.filter(valueCol.isNotNull)
        .groupBy(valueCol.as("__v")).agg(count(lit(1)).as("__c")))

  /** [[robustShape]]'s readout from an already-built (__v, __c) count
    * table — the stage the streaming monitor shares with the batch
    * operator.
    */
  def shapeOfCounts(counts: DataFrame): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val row = quantilesOfCounts(counts, Seq(0.25, 0.5, 0.75)).agg(
      max(col("n")).as("n"),
      max(when(col("q") === 0.25, col("value"))).as("__q1"),
      max(when(col("q") === 0.5, col("value"))).as("__q2"),
      max(when(col("q") === 0.75, col("value"))).as("__q3"))
    val iqr = col("__q3") - col("__q1")
    val bowley = (col("__q3") + col("__q1") - lit(2.0) * col("__q2")) /
      (col("__q3") - col("__q1"))
    val qcd = (col("__q3") - col("__q1")) / (col("__q3") + col("__q1"))
    def r6(c: Column) = round(c.cast(dec8), 6).cast("double")
    row.select(col("n"), col("__q1").as("q1"), col("__q2").as("median"),
      col("__q3").as("q3"), r6(iqr).as("iqr"),
      when(col("__q3") - col("__q1") === 0.0, lit(null).cast("double"))
        .otherwise(r6(bowley)).as("bowley"),
      when(col("__q3") + col("__q1") === 0.0, lit(null).cast("double"))
        .otherwise(r6(qcd)).as("qcd"))
  }

  /** Jarque–Bera normality test — "is this metric even bell-shaped":
    * every z-score alarm ([[graft.functions.Events.anomaliesOfDaily]],
    * the EWMA chart) and every t/F test upstream quietly assumes rough
    * normality; JB is the moment-based check that assumption gets —
    * skewness and excess kurtosis jointly against the normal's (0, 0),
    * with the rare closed-form p: JB ~ χ²(2) and the χ²(2) survival
    * function IS exp(−x/2), no approximation needed.
    *
    * Scale shape: the corpus collapses to ONE additive moment row
    * (n, Σx, Σx², Σx³, Σx⁴, min, max) in a single map-side-combined
    * pass — values staged to DECIMAL(8,2) so the fourth power still fits
    * an EXACT decimal at (35,8) (wider inputs need a coarser staging;
    * the events `value` domain is exactly 2dp); skewness
    * m₃/m₂^{3/2}, excess kurtosis m₄/m₂²−3, and JB = n/6·(S² + K²/4)
    * evaluate in fixed double order from the exact sums. The row is the
    * [[graft.streaming.Streaming.NormalityMonitor]] state (sums add,
    * min/max merge); zero data shuffle.
    *
    * Returns one row (n, mean, sd, skewness, kurtosis, jb, p) — sd is
    * the population σ the moment ratios use; NULL statistics when the
    * spread degenerates (m₂ ≤ 0) or n < 2.
    */
  def jarqueBera(df: DataFrame, valueCol: Column): DataFrame =
    jbOfMoments(normalityMoments(df, valueCol))

  /** the ONE pass that touches the data: the additive exact-decimal
    * power-sum row (n, Σx, Σx², Σx³, Σx⁴, min, max) shared by
    * [[jarqueBera]] and [[grubbsTest]] — the
    * [[graft.streaming.Streaming.NormalityMonitor]] state
    */
  def normalityMoments(df: DataFrame, valueCol: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(8, 2)
    val v = valueCol.cast(dec)
    val v2 = v * v
    // n counts the STAGED values (count(v), not count(valueCol)): the
    // non-ANSI decimal cast nulls any |value| ≥ 10^6, and a count that
    // kept such a value while the power sums dropped it would corrupt
    // every moment silently — with count(v) an out-of-domain value is
    // excluded consistently from n and all sums, so the statistics stay
    // internally correct over the in-domain data
    df.agg(count(v).as("__jn"),
      sum(v).as("__j1"), sum(v2).as("__j2"),
      sum(v2 * v).as("__j3"), sum(v2 * v2).as("__j4"),
      min(v).as("__jlo"), max(v).as("__jhi"))
  }

  /** [[jarqueBera]]'s formula stage over an already-built moment row —
    * the readout path the streaming monitor shares with the batch
    * operator. Central moments from raw power sums in fixed double
    * order: m₂ = E[x²]−m², m₃ = E[x³]−3mE[x²]+2m³,
    * m₄ = E[x⁴]−4mE[x³]+6m²E[x²]−3m⁴.
    */
  def jbOfMoments(row: DataFrame): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    def d(c: String) = col(c).cast("double")
    val n = d("__jn")
    val m = d("__j1") / n
    val e2 = d("__j2") / n
    val e3 = d("__j3") / n
    val e4 = d("__j4") / n
    val m2 = e2 - m * m
    val m3 = e3 - lit(3.0) * m * e2 + lit(2.0) * m * m * m
    val m4 = e4 - lit(4.0) * m * e3 + lit(6.0) * m * m * e2 -
      lit(3.0) * m * m * m * m
    val skew = m3 / (m2 * sqrt(m2))
    val kurt = m4 / (m2 * m2) - lit(3.0)
    val jb = n / lit(6.0) * (skew * skew + kurt * kurt / lit(4.0))
    def r6(c: Column) = round(c.cast(dec8), 6).cast("double")
    val bad = col("__jn") < 2L || m2 <= 0.0
    row.select(col("__jn").as("n"), r6(m).as("mean"),
      when(m2 <= 0.0, lit(null).cast("double"))
        .otherwise(r6(sqrt(m2))).as("sd"),
      when(bad, lit(null).cast("double")).otherwise(r6(skew)).as("skewness"),
      when(bad, lit(null).cast("double")).otherwise(r6(kurt)).as("kurtosis"),
      when(bad, lit(null).cast("double")).otherwise(r6(jb)).as("jb"),
      when(bad, lit(null).cast("double"))
        .otherwise(r6(exp(-jb / lit(2.0)))).as("p"))
  }

  /** Grubbs' extreme-outlier statistic — "is the single most extreme
    * observation too far out to be chance": the data-quality twin of
    * [[jarqueBera]] (JB says the WHOLE shape is off; Grubbs points at
    * the one record — a corrupt sensor reading, a mispriced order —
    * whose studentized distance from the mean is the corpus maximum).
    *
    * Scale shape: the IDENTICAL additive moment row as [[jarqueBera]]
    * (min/max ride along, merging by min/max — the
    * [[graft.streaming.Streaming.NormalityMonitor]] state, whose
    * `extremes` readout IS this statistic); G = max(m̄−min, max−m̄)/s
    * with the SAMPLE s, evaluated in fixed double order. Zero data
    * shuffle.
    *
    * Returns one row (n, mean, sd, g, side) — side names the flagged
    * tail ('low' wins ties); NULLs when n < 3 or the spread degenerates.
    */
  def grubbsTest(df: DataFrame, valueCol: Column): DataFrame =
    grubbsOfMoments(normalityMoments(df, valueCol))

  /** [[grubbsTest]]'s formula stage over an already-built moment row —
    * the readout path the streaming monitor shares with the batch
    * operator.
    */
  def grubbsOfMoments(row: DataFrame): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    def d(c: String) = col(c).cast("double")
    val n = d("__jn")
    val m = d("__j1") / n
    val s = sqrt((d("__j2") - d("__j1") * d("__j1") / n) / (n - lit(1.0)))
    val gl = (m - d("__jlo")) / s
    val gh = (d("__jhi") - m) / s
    def r6(c: Column) = round(c.cast(dec8), 6).cast("double")
    val bad = col("__jn") < 3L || s <= 0.0 || isnull(s)
    row.select(col("__jn").as("n"), r6(m).as("mean"),
      when(bad, lit(null).cast("double")).otherwise(r6(s)).as("sd"),
      when(bad, lit(null).cast("double"))
        .otherwise(r6(greatest(gl, gh))).as("g"),
      when(bad, lit(null).cast("string"))
        .otherwise(when(gl >= gh, lit("low")).otherwise(lit("high")))
        .as("side"))
  }

  /** D'Agostino's K² omnibus normality test (D'Agostino, Belanger &
    * D'Agostino Jr 1990) — [[jarqueBera]]'s small-sample-honest sibling:
    * JB compares raw skewness/kurtosis against their ASYMPTOTIC normal
    * laws (accurate only for n in the thousands); K² first transforms
    * each moment to an exactly-studentized z (Johnson Su for skewness,
    * Anscombe–Glynn for kurtosis) whose null distribution is close to
    * N(0,1) at realistic n, then sums the squares — the normality verdict
    * scipy.stats.normaltest reports, and the two z's localize WHICH
    * moment broke (asymmetry vs tails) where JB only says "not normal".
    *
    * Scale shape: the IDENTICAL additive exact-decimal power-sum row as
    * [[jarqueBera]]/[[grubbsTest]] (the
    * [[graft.streaming.Streaming.NormalityMonitor]] state, whose
    * `omnibus` readout IS this test); everything after the one-row
    * reduce is fixed-order double arithmetic on seven numbers. Zero data
    * shuffle. Reference scope: pygrametl has no statistics surface —
    * beyond-reference, next to the JB/Grubbs data-quality family.
    *
    * Returns one row (n, skewness, kurtosis, z_skew, z_kurt, k2, p) —
    * kurtosis is the excess form (b₂−3) matching [[jarqueBera]]'s
    * output; p is the closed-form χ²(2) tail exp(−K²/2). NULL statistics
    * when n < 9 (the Anscombe–Glynn transform needs n ≥ 9 for A > 4) or
    * the spread degenerates.
    */
  def dagostinoK2(df: DataFrame, valueCol: Column): DataFrame =
    k2OfMoments(normalityMoments(df, valueCol))

  /** [[dagostinoK2]]'s formula stage over an already-built moment row —
    * the readout path the streaming monitor shares with the batch
    * operator. Central moments in [[jbOfMoments]]'s fixed double order;
    * then Y·√((n+1)(n+3)/(6(n−2))) through the Johnson Su asinh for
    * z_skew, and b₂ studentized through Anscombe–Glynn's Wilson–Hilferty
    * cube root for z_kurt.
    */
  def k2OfMoments(row: DataFrame): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    def d0(c: String) = col(c).cast("double")
    val n0 = d0("__jn")
    val m = d0("__j1") / n0
    val e2 = d0("__j2") / n0
    val e3 = d0("__j3") / n0
    val e4 = d0("__j4") / n0
    val m2e = e2 - m * m
    val m3e = e3 - lit(3.0) * m * e2 + lit(2.0) * m * m * m
    val m4e = e4 - lit(4.0) * m * e3 + lit(6.0) * m * m * e2 -
      lit(3.0) * m * m * m * m
    // the moment row collapses to four scalars BEFORE the z transforms:
    // Catalyst doesn't CSE the shared m₂/m₃/m₄ subtrees, and inlining
    // them into the six deep output expressions blows the codegen method
    // limit — freezing the 1-row intermediate keeps every stage compiled
    val mid = org.apache.spark.sql.graftbridge.Bridge.freeze(
      row.select(col("__jn"), m2e.as("__m2"),
        (m3e / (m2e * sqrt(m2e))).as("__g1"),
        (m4e / (m2e * m2e)).as("__b2")))
    val n = col("__jn").cast("double")
    val m2 = col("__m2")
    val g1 = col("__g1")
    val b2 = col("__b2")
    // skewness: Y studentized exactly, then the Johnson Su fit
    // (D'Agostino 1970) — z = δ·asinh(Y/α) with asinh spelled via ln so
    // the oracle's expression tree is operation-for-operation identical
    val y = g1 * sqrt((n + lit(1.0)) * (n + lit(3.0)) /
      (lit(6.0) * (n - lit(2.0))))
    val beta2 = lit(3.0) * (n * n + lit(27.0) * n - lit(70.0)) *
      (n + lit(1.0)) * (n + lit(3.0)) /
      ((n - lit(2.0)) * (n + lit(5.0)) * (n + lit(7.0)) * (n + lit(9.0)))
    val w2 = lit(-1.0) + sqrt(lit(2.0) * (beta2 - lit(1.0)))
    val dl = lit(1.0) / sqrt(log(sqrt(w2)))
    val alpha = sqrt(lit(2.0) / (w2 - lit(1.0)))
    val ya = y / alpha
    val zSkew = dl * log(ya + sqrt(ya * ya + lit(1.0)))
    // kurtosis: b₂ studentized against its exact mean/variance, then the
    // Anscombe–Glynn (1983) Wilson–Hilferty cube-root normalization
    val eb2 = lit(3.0) * (n - lit(1.0)) / (n + lit(1.0))
    val vb2 = lit(24.0) * n * (n - lit(2.0)) * (n - lit(3.0)) /
      ((n + lit(1.0)) * (n + lit(1.0)) * (n + lit(3.0)) * (n + lit(5.0)))
    val xk = (b2 - eb2) / sqrt(vb2)
    val sb1 = lit(6.0) * (n * n - lit(5.0) * n + lit(2.0)) /
      ((n + lit(7.0)) * (n + lit(9.0))) *
      sqrt(lit(6.0) * (n + lit(3.0)) * (n + lit(5.0)) /
        (n * (n - lit(2.0)) * (n - lit(3.0))))
    val a = lit(6.0) + lit(8.0) / sb1 *
      (lit(2.0) / sb1 + sqrt(lit(1.0) + lit(4.0) / (sb1 * sb1)))
    val zKurt = ((lit(1.0) - lit(2.0) / (lit(9.0) * a)) -
      cbrt((lit(1.0) - lit(2.0) / a) /
        (lit(1.0) + xk * sqrt(lit(2.0) / (a - lit(4.0)))))) /
      sqrt(lit(2.0) / (lit(9.0) * a))
    // second 1-row stage: k2 and p would each re-inline BOTH z trees
    // (Catalyst does not CSE across output columns), so the z's freeze
    // to plain columns before the final readout
    val mid2 = org.apache.spark.sql.graftbridge.Bridge.freeze(
      mid.select(col("__jn"), m2.as("__m2v"), g1.as("__g1v"),
        b2.as("__b2v"), zSkew.as("__zs"), zKurt.as("__zk")))
    val k2 = col("__zs") * col("__zs") + col("__zk") * col("__zk")
    def r6(c: Column) = round(c.cast(dec8), 6).cast("double")
    val bad = col("__jn") < 9L || col("__m2v") <= 0.0 || isnull(col("__m2v"))
    def nn(c: Column) = when(bad, lit(null).cast("double")).otherwise(r6(c))
    mid2.select(col("__jn").as("n"),
      nn(col("__g1v")).as("skewness"),
      nn(col("__b2v") - lit(3.0)).as("kurtosis"),
      nn(col("__zs")).as("z_skew"), nn(col("__zk")).as("z_kurt"),
      nn(k2).as("k2"), nn(exp(-k2 / lit(2.0))).as("p"))
  }

  /** Brown–Forsythe test of equal SPREAD across k groups (Levene's test
    * with median centers — the robust standard form): [[anovaF]] and
    * [[kruskalWallis]] ask whether the cohorts' LEVELS differ; this asks
    * whether their VARIABILITY does — a source whose quality scores
    * wander twice as wide as its siblings', a variant whose latency mean
    * held but whose tail fattened. Also the admission check for the
    * pooled-variance assumption classic ANOVA quietly makes. Median
    * centering (not mean) keeps one outlier from inflating its own
    * group's deviations.
    *
    * Scale shape: the corpus collapses ONCE to the (value, group) count
    * table — the SAME pair-additive state as [[kruskalWallis]] (the
    * [[graft.streaming.Streaming.KruskalMonitor]] state, whose `spread`
    * readout IS this test); per-group medians come from a PARTITIONED
    * cumulative over that bounded table (order stats as conditional mins
    * against the two middle positions, midpoint-interpolated like
    * scipy); |x − med| moments are per-cell products decimal-staged
    * before the group sum, and the F stage is byte-for-byte
    * [[anovaOfGroupMoments]] on those deviation moments.
    *
    * Returns one row (k, n, df1, df2, f, eta2) — [[anovaF]]'s shape over
    * the absolute deviations; same NULL conventions.
    */
  def leveneTest(df: DataFrame, groupCol: Column, valueCol: Column): DataFrame =
    bfOfCounts(groupValueCounts(df, groupCol, valueCol))

  /** [[leveneTest]]'s readout from an already-built (__v, __g, __c)
    * count table — the stage the streaming monitor shares with the batch
    * operator.
    */
  def bfOfCounts(counts: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(28, 10)
    // the bounded count table feeds the median derivation AND the moment
    // pass — frozen, or the corpus groupBy (the only pass that touches
    // the data) runs twice
    val c = org.apache.spark.sql.graftbridge.Bridge.freeze(counts)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g")).orderBy(col("__v"))
    val cum = c.withColumn("__cum", sum(col("__c")).over(w))
    val ng = c.groupBy(col("__g")).agg(sum(col("__c")).as("__ng"))
    // the two middle order statistics (1-indexed (n+1) div 2 and
    // n div 2 + 1), each the smallest value whose inclusive cumulative
    // reaches the position; midpoint-interpolated median
    val p1 = ((col("__ng") + lit(1L)) / lit(2L)).cast("long")
    val p2 = (col("__ng") / lit(2L)).cast("long") + lit(1L)
    val med = cum.join(broadcast(ng), Seq("__g"))
      .groupBy(col("__g"))
      .agg(((min(when(col("__cum") >= p1, col("__v"))).cast("double")
        + min(when(col("__cum") >= p2, col("__v"))).cast("double")) / lit(2.0))
        .as("__med"))
    val zc = c.join(broadcast(med), Seq("__g"))
      .select(col("__g"), col("__c"),
        abs(col("__v").cast("double") - col("__med")).as("__z"))
    val gm = zc.groupBy(col("__g")).agg(
      sum(col("__c")).as("__gn"),
      sum((col("__c").cast("double") * col("__z")).cast(dec)).as("__gs"),
      sum((col("__c").cast("double") * col("__z") * col("__z")).cast(dec))
        .as("__gq"))
    anovaOfGroupMoments(gm)
  }

  /** Two-proportion z-test between two samples of a boolean outcome —
    * "did the RATE move": conversion, keep-rate, refusal-rate, defect-rate
    * comparisons between cohorts or time windows; the binary-outcome
    * member of the test family ([[welchTTest]] compares means,
    * [[mannWhitney]] ranks, this compares proportions) using the pooled
    * standard error.
    *
    * Scale shape: each side collapses to its exact (n, successes) count
    * pair in ONE map-side-combined aggregation (ADDITIVE across
    * micro-batches — the [[graft.streaming.Streaming.ProportionMonitor]]
    * state); the z statistic evaluates in fixed double order from those
    * exact counts. Zero data shuffle.
    *
    * Returns one row (n_a, n_b, p_a, p_b, z); z is NULL when either side
    * is empty or the pooled rate is 0 or 1 (zero variance).
    */
  def twoProportionZ(a: DataFrame, bDf: DataFrame, successCol: Column): DataFrame =
    propOfCounts(propCounts(a, successCol, "a").crossJoin(
      broadcast(propCounts(bDf, successCol, "b"))))

  /** one side's exact (n, successes) count pair — the ONLY pass that
    * touches the data; additive across micro-batches
    */
  def propCounts(df: DataFrame, successCol: Column, suffix: String): DataFrame =
    df.agg(count(lit(1)).as(s"__pn_$suffix"),
      sum(when(successCol, 1L).otherwise(0L)).as(s"__px_$suffix"))

  /** [[twoProportionZ]]'s formula stage over an already-built joint count
    * row (__pn_a,__px_a,__pn_b,__px_b) — the readout the streaming
    * monitor shares with the batch operator. Fixed-order doubles from
    * exact counts: p = x/n per side, pooled p̂ = (xa+xb)/(na+nb), then
    * z = (pa−pb)/√(p̂(1−p̂)(1/na+1/nb)).
    */
  def propOfCounts(row: DataFrame): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    def n(s: String) = col(s"__pn_$s").cast("double")
    def x(s: String) = col(s"__px_$s").cast("double")
    val pooled = (col("__px_a") + col("__px_b")).cast("double") /
      (col("__pn_a") + col("__pn_b")).cast("double")
    val m = row.select(col("__pn_a"), col("__pn_b"),
      (x("a") / n("a")).as("__pa"), (x("b") / n("b")).as("__pb"),
      pooled.as("__pp"), n("a").as("__nad"), n("b").as("__nbd"))
    m.select(col("__pn_a").as("n_a"), col("__pn_b").as("n_b"),
      round(col("__pa").cast(dec8), 6).cast("double").as("p_a"),
      round(col("__pb").cast(dec8), 6).cast("double").as("p_b"),
      when(col("__pn_a") === 0L || col("__pn_b") === 0L ||
          col("__pp") <= 0.0 || col("__pp") >= 1.0, lit(null).cast("double"))
        .otherwise(round(((col("__pa") - col("__pb"))
          / sqrt(col("__pp") * (lit(1.0) - col("__pp"))
            * (lit(1.0) / col("__nad") + lit(1.0) / col("__nbd"))))
          .cast(dec8), 6).cast("double")).as("z"))
  }

  /** Cohen's h effect size for two proportions — the HOW-LARGE companion
    * of [[twoProportionZ]] exactly as [[cliffsDelta]] companions
    * [[mannWhitney]]: z says whether the share moved, h = 2·asin√p₁ −
    * 2·asin√p₂ says how much on the variance-stabilized arcsine scale
    * (where a 1-point move near 50% and near 99% read correctly as very
    * different effects), unmoved by sample size. Reported with Cohen's
    * conventional bands (small .2 / medium .5 / large .8) on the rounded
    * |h| so the label is engine-stable.
    *
    * Scale shape: the IDENTICAL additive per-arm count state as
    * [[twoProportionZ]]/[[powerTwoProp]] (the
    * [[graft.streaming.Streaming.ProportionMonitor]] state, whose
    * `effectSize` readout IS this); the formula runs on the 6dp-rounded
    * observed p's both engines share exactly.
    *
    * Returns one row (n_a, n_b, p_a, p_b, h, magnitude); h NULL when
    * either arm is empty.
    */
  def cohenH(a: DataFrame, bDf: DataFrame, successCol: Column): DataFrame =
    cohenHOfCounts(propCounts(a, successCol, "a").crossJoin(
      broadcast(propCounts(bDf, successCol, "b"))))

  /** [[cohenH]]'s formula stage over a joint [[propCounts]] row. */
  def cohenHOfCounts(row: DataFrame): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val pa = round((col("__px_a").cast("double") / col("__pn_a").cast("double"))
      .cast(dec8), 6).cast("double")
    val pb = round((col("__px_b").cast("double") / col("__pn_b").cast("double"))
      .cast(dec8), 6).cast("double")
    val m = row.select(col("__pn_a").as("n_a"), col("__pn_b").as("n_b"),
      pa.as("p_a"), pb.as("p_b"))
    val h = round((lit(2.0) * asin(sqrt(col("p_a"))) -
      lit(2.0) * asin(sqrt(col("p_b")))).cast(dec8), 6).cast("double")
    m.select(col("n_a"), col("n_b"), col("p_a"), col("p_b"),
        when(col("n_a") === 0L || col("n_b") === 0L,
          lit(null).cast("double")).otherwise(h).as("h"))
      .withColumn("magnitude",
        when(col("h").isNull, lit(null).cast("string"))
          .when(abs(col("h")) < 0.2, lit("negligible"))
          .when(abs(col("h")) < 0.5, lit("small"))
          .when(abs(col("h")) < 0.8, lit("medium"))
          .otherwise(lit("large")))
  }

  /** Relative risk and odds ratio with 95% log-scale confidence
    * intervals — the EPIDEMIOLOGY-grade effect readout of the two-arm
    * binary family: [[twoProportionZ]] says the rate moved, [[cohenH]]
    * says how far on the arcsine scale, this says how far as a RATIO
    * ("arm A converts 1.8× as often, CI [1.6, 2.1]") — the number a
    * launch review actually debates, with the interval that tells you
    * whether 1.8× could still be 1.0×. RR via the Katz log interval, OR
    * via Woolf's; both NULL (never a fake ∞/0) when a defining cell is
    * empty.
    *
    * Scale shape: the IDENTICAL additive per-arm count state as
    * [[twoProportionZ]]/[[cohenH]]/[[powerTwoProp]] (the
    * [[graft.streaming.Streaming.ProportionMonitor]] state, whose
    * `ratioEffect` readout IS this); every ratio/interval forms in fixed
    * double order from the four exact counts — zero data shuffle, and
    * ln/exp evaluate from identical doubles in any IEEE engine.
    *
    * Returns one row (n_a, n_b, p_a, p_b, rr, rr_lo, rr_hi, odds_ratio,
    * or_lo, or_hi) at 6dp; rr columns NULL when either arm is empty or
    * either success count is 0, odds columns NULL when any 2×2 cell
    * is 0.
    */
  def riskRatio(a: DataFrame, bDf: DataFrame, successCol: Column): DataFrame =
    rrOfCounts(propCounts(a, successCol, "a").crossJoin(
      broadcast(propCounts(bDf, successCol, "b"))))

  /** [[riskRatio]]'s formula stage over a joint [[propCounts]] row. */
  def rrOfCounts(row: DataFrame): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val z95 = lit(1.959964)
    def r6(x: Column) = round(x.cast(dec8), 6).cast("double")
    val na = col("__pn_a").cast("double")
    val nb = col("__pn_b").cast("double")
    val xa = col("__px_a").cast("double")
    val xb = col("__px_b").cast("double")
    val qa = (col("__pn_a") - col("__px_a")).cast("double")
    val qb = (col("__pn_b") - col("__px_b")).cast("double")
    val pa = r6(xa / na)
    val pb = r6(xb / nb)
    val rr = (xa / na) / (xb / nb)
    val seRr = sqrt(lit(1.0) / xa - lit(1.0) / na +
      lit(1.0) / xb - lit(1.0) / nb)
    val orr = (xa * qb) / (xb * qa)
    val seOr = sqrt(lit(1.0) / xa + lit(1.0) / qa +
      lit(1.0) / xb + lit(1.0) / qb)
    val rrBad = col("__pn_a") === 0L || col("__pn_b") === 0L ||
      col("__px_a") === 0L || col("__px_b") === 0L
    val orBad = rrBad || col("__px_a") === col("__pn_a") ||
      col("__px_b") === col("__pn_b")
    def guard(bad: Column, x: Column) =
      when(bad, lit(null).cast("double")).otherwise(r6(x))
    row.select(col("__pn_a").as("n_a"), col("__pn_b").as("n_b"),
      pa.as("p_a"), pb.as("p_b"),
      guard(rrBad, rr).as("rr"),
      guard(rrBad, exp(log(rr) - z95 * seRr)).as("rr_lo"),
      guard(rrBad, exp(log(rr) + z95 * seRr)).as("rr_hi"),
      guard(orBad, orr).as("odds_ratio"),
      guard(orBad, exp(log(orr) - z95 * seOr)).as("or_lo"),
      guard(orBad, exp(log(orr) + z95 * seOr)).as("or_hi"))
  }

  /** Cochran–Mantel–Haenszel stratified two-proportion test — the
    * confounder-proof upgrade of [[twoProportionZ]]: pooling arms across
    * strata whose baseline rates differ invites Simpson's paradox (a mix
    * shift between weekday and weekend traffic can flip the pooled
    * direction outright); CMH tests the arm effect WITHIN each stratum
    * and combines the evidence, plus the MH common odds ratio as the
    * pooled effect size. The standard guarded readout for any A/B whose
    * traffic composition moves.
    *
    * Scale shape: ONE map-side-combined aggregation to the per-stratum
    * 2×2 count table (bounded by |strata| — additive, the
    * [[graft.streaming.Streaming.MhMonitor]] state), every per-stratum
    * O−E / variance / odds term formed in fixed double order from exact
    * integers and staged to DECIMAL(28,10) BEFORE the bounded sum
    * (order-free), one final divide each.
    *
    * Returns one row (k_strata, n_a, n_b, chi2_mh, or_mh): chi2 NULL
    * when the pooled variance is 0 (no stratum with both arms and both
    * outcomes), or_mh NULL when no discordant-against pairs exist.
    */
  def mantelHaenszel(df: DataFrame, stratum: Column, armA: Column,
                     success: Column): DataFrame =
    mhOfCounts(stratumPropCounts(df, stratum, armA, success))

  /** per-stratum additive 2×2 counts — the only pass that touches data */
  def stratumPropCounts(df: DataFrame, stratum: Column, armA: Column,
                        success: Column): DataFrame =
    df.groupBy(stratum.as("__st")).agg(
      sum(when(armA, 1L).otherwise(0L)).as("__na"),
      sum(when(armA && success, 1L).otherwise(0L)).as("__xa"),
      sum(when(!armA, 1L).otherwise(0L)).as("__nb"),
      sum(when(!armA && success, 1L).otherwise(0L)).as("__xb"))

  /** [[mantelHaenszel]]'s formula stage over a [[stratumPropCounts]]
    * table — the readout the streaming monitor shares with the batch
    * operator. Strata with fewer than 2 rows carry no within-stratum
    * information and contribute 0 to every sum (the classic CMH
    * convention — their variance term divides by N−1 = 0 otherwise).
    */
  def mhOfCounts(counts: DataFrame): DataFrame = {
    val decT = org.apache.spark.sql.types.DecimalType(28, 10)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val nT = (col("__na") + col("__nb")).cast("double")
    val m1 = (col("__xa") + col("__xb")).cast("double")
    val nad = col("__na").cast("double")
    val nbd = col("__nb").cast("double")
    val xad = col("__xa").cast("double")
    val xbd = col("__xb").cast("double")
    val usable = col("__na") + col("__nb") >= 2L
    val agg = counts.select(col("__na"), col("__nb"),
        when(usable, (xad - nad * m1 / nT).cast(decT))
          .otherwise(lit(0.0).cast(decT)).as("__oe"),
        when(usable, (nad * nbd * m1 * (nT - m1) /
          (nT * nT * (nT - lit(1.0)))).cast(decT))
          .otherwise(lit(0.0).cast(decT)).as("__v"),
        when(usable, (xad * (nbd - xbd) / nT).cast(decT))
          .otherwise(lit(0.0).cast(decT)).as("__on"),
        when(usable, (xbd * (nad - xad) / nT).cast(decT))
          .otherwise(lit(0.0).cast(decT)).as("__od"))
      .agg(count(lit(1)).as("k_strata"),
        sum(col("__na")).as("n_a"), sum(col("__nb")).as("n_b"),
        sum(col("__oe")).as("__soe"), sum(col("__v")).as("__sv"),
        sum(col("__on")).as("__son"), sum(col("__od")).as("__sod"))
    def r6(c: Column) = round(c.cast(dec8), 6).cast("double")
    val soe = col("__soe").cast("double")
    agg.select(col("k_strata"), col("n_a"), col("n_b"),
      when(col("__sv").cast("double") <= 0.0, lit(null).cast("double"))
        .otherwise(r6(soe * soe / col("__sv").cast("double"))).as("chi2_mh"),
      when(col("__sod").cast("double") <= 0.0, lit(null).cast("double"))
        .otherwise(r6(col("__son").cast("double")
          / col("__sod").cast("double"))).as("or_mh"))
  }

  /** Breslow–Day homogeneity test — the admission check under
    * [[mantelHaenszel]]: CMH pools the strata ASSUMING one common odds
    * ratio; Breslow–Day tests that assumption ("does the effect itself
    * differ by segment" — the formal interaction readout). A large χ²_BD
    * says the pooled or_mh is averaging away a real per-segment story.
    *
    * Scale shape: the SAME bounded per-stratum 2×2 count state as
    * [[mhOfCounts]] (the [[graft.streaming.Streaming.MhMonitor]] state,
    * whose `homogeneity` readout IS this test); the common OR broadcasts
    * back, each stratum's expected cell is the admissible root of the
    * textbook quadratic (both roots formed in fixed double order, CASE
    * picks the one inside the margin box), and the χ² terms are
    * decimal-staged before the order-independent sum.
    *
    * Returns one row (k_strata, df, chi2_bd) at 6dp — NULL when fewer
    * than 2 strata or the common OR degenerates (a zero margin).
    */
  def breslowDay(df: DataFrame, stratum: Column, armA: Column,
                 success: Column): DataFrame =
    bdOfCounts(stratumPropCounts(df, stratum, armA, success))

  /** [[breslowDay]]'s readout from an already-built per-stratum
    * (__st, __na, __xa, __nb, __xb) count table — the stage the
    * streaming monitor shares with the batch operator.
    */
  def bdOfCounts(counts: DataFrame): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val decS = org.apache.spark.sql.types.DecimalType(28, 10)
    val dec15 = org.apache.spark.sql.types.DecimalType(15, 0)
    val c = org.apache.spark.sql.graftbridge.Bridge.freeze(counts)
    // common OR: the Mantel–Haenszel pooled estimate over the same table
    val dn = (col("__na") + col("__nb")).cast("double")
    val orRow = broadcast(org.apache.spark.sql.graftbridge.Bridge.freeze(c
      .select(
        (col("__xa").cast(dec15) * (col("__nb") - col("__xb")).cast(dec15))
          .cast("double").divide(dn).cast(decS).as("__on"),
        ((col("__na") - col("__xa")).cast(dec15) * col("__xb").cast(dec15))
          .cast("double").divide(dn).cast(decS).as("__od"))
      .agg(sum(col("__on")).as("__son"), sum(col("__od")).as("__sod"))
      .select((col("__son").cast("double") / col("__sod").cast("double"))
        .as("__psi"))))
    val a = col("__xa").cast("double")
    val n1 = col("__na").cast("double")
    val n2 = col("__nb").cast("double")
    val m1 = (col("__xa") + col("__xb")).cast("double")
    val psi = col("__psi")
    // (ψ−1)E² − [ψ(n1+m1) + (n2−m1)]E + ψ·n1·m1 = 0; E = a when the
    // stratum's own OR equals ψ, so a homogeneous table reads χ² = 0
    val qa = psi - lit(1.0)
    val qb = -(psi * (n1 + m1) + (n2 - m1))
    val qc = psi * n1 * m1
    val disc = sqrt(qb * qb - lit(4.0) * qa * qc)
    val r1 = (-qb - disc) / (lit(2.0) * qa)
    val r2 = (-qb + disc) / (lit(2.0) * qa)
    val eLo = greatest(lit(0.0), m1 - n2)
    val eHi = least(n1, m1)
    val e = when(qa === 0.0, -qc / qb)
      .when(r1 >= eLo && r1 <= eHi, r1)
      .otherwise(r2)
    val v = lit(1.0) / (lit(1.0) / e + lit(1.0) / (n1 - e) +
      lit(1.0) / (m1 - e) + lit(1.0) / (n2 - m1 + e))
    // a stratum with a degenerate margin (no successes, no failures, or a
    // single arm) pins E to the box boundary, so 1/e or 1/(m1-e) is
    // infinite and the term is 0/0 = NaN — which Spark's NaN→DECIMAL cast
    // turns into NULL (sum silently drops it) while DuckDB ERRORS on the
    // same cast. Such strata carry no homogeneity information: exclude
    // them from BOTH the χ² and k_strata, and report them as
    // dropped_strata so the exclusion is visible in the readout.
    val usable = m1 > 0.0 && m1 < n1 + n2 && n1 > 0.0 && n2 > 0.0
    val agg = c.crossJoin(orRow)
      .select(col("__st"),
        when(usable, ((a - e) * (a - e) / v).cast(decS))
          .otherwise(lit(null).cast(decS)).as("__t"),
        when(usable, 1L).otherwise(0L).as("__u"),
        col("__psi"))
      .groupBy(col("__psi"))
      .agg(sum(col("__u")).as("k_strata"),
        (count(lit(1)) - sum(col("__u"))).as("dropped_strata"),
        sum(col("__t")).as("__chi"))
    def r6(cc: Column) = round(cc.cast(dec8), 6).cast("double")
    val bad = col("k_strata") < 2L || isnull(col("__psi")) ||
      col("__psi") <= 0.0 || isnan(col("__psi"))
    agg.select(col("k_strata"), (col("k_strata") - 1L).as("df"),
      col("dropped_strata"),
      when(bad, lit(null).cast("double"))
        .otherwise(r6(col("__chi").cast("double"))).as("chi2_bd"))
  }

  /** Cochran–Armitage trend test — "does the success PROPORTION rise (or
    * fall) monotonically across ORDERED groups": the proportions sibling
    * of [[graft.functions.Events]]' Jonckheere/Page ordered-medians
    * tests, and the right test where a plain chi-square wastes power by
    * ignoring the ordering (conversion share by week, keep-rate by
    * quality decile). z > 0 reads "share rises with the score".
    *
    * Scale shape: the corpus collapses ONCE to the (score, n, successes)
    * count table — bounded by the number of ordered groups, additive —
    * then ONE tiny aggregation of exact-integer moments (Σwx, Σwn, Σnw²
    * DECIMAL(38,0)-staged so planetary-scale cells can't overflow) and
    * the z in fixed double order. Zero data shuffle beyond the group
    * rollup. Reference scope: pygrametl has no statistics surface —
    * beyond-reference, next to the two-proportion/CMH family.
    *
    * Returns one row (k, n, x, z) — z NULL when fewer than 2 groups or
    * the pooled share degenerates to 0 or 1 (no variance to test).
    *
    * Rows where the score or the success flag is NULL are dropped before
    * grouping (a NULL-key group would otherwise null its moment terms
    * out of Σwx/Σwn/Σnw² while still inflating n and x — a silent bias).
    * Scores are REQUIRED to be integer-valued: the cast to long is a
    * group-label normalization, not a binning rule — fractional scores
    * must be floored/bucketed explicitly by the caller.
    */
  def cochranArmitage(df: DataFrame, scoreCol: Column,
                      successCol: Column): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val counts = df.filter(scoreCol.isNotNull && successCol.isNotNull)
      .groupBy(scoreCol.cast("long").as("__w"))
      .agg(count(lit(1)).as("__n"),
        sum(when(successCol, 1L).otherwise(0L)).as("__x"))
    val agg = counts.agg(
      count(lit(1)).as("k"), sum(col("__n")).as("n"), sum(col("__x")).as("x"),
      sum(col("__w").cast(dec38) * col("__x")).as("__swx"),
      sum(col("__w").cast(dec38) * col("__n")).as("__swn"),
      sum(col("__w").cast(dec38) * col("__w") * col("__n")).as("__snww"))
    def d(c: String) = col(c).cast("double")
    val pbar = d("x") / d("n")
    val t = d("__swx") - pbar * d("__swn")
    val v = pbar * (lit(1.0) - pbar) *
      (d("__snww") - d("__swn") * d("__swn") / d("n"))
    def r6(c: Column) = round(c.cast(dec8), 6).cast("double")
    val bad = col("k") < 2L || col("x") === 0L || col("x") === col("n")
    agg.select(col("k"), col("n"), col("x"),
      when(bad, lit(null).cast("double"))
        .otherwise(r6(t / sqrt(v))).as("z"))
  }

  /** Capture–recapture population estimate (Lincoln–Petersen with
    * Chapman's bias correction) — "how many distinct keys EXIST, given
    * what two overlapping samples each saw": mark the keys of sample A,
    * count how many of sample B's keys were re-captured, and the overlap
    * rate scales up to the unseen total. The corpus-coverage readout a
    * crawl/user-base needs that [[graft.functions.Curation]]'s Chao1
    * (frequency-of-frequency) answers only for token-like data — here
    * the two samples can be any two time windows, crawls, or sources.
    *
    * Scale shape: both samples union with presence tags into ONE
    * key-cardinality aggregation (max per tag — the only shuffle), then
    * ONE reduce to the exact (n_a, n_b, m) triple; Chapman's estimate
    * and its SE are fixed-order arithmetic on those three integers with
    * DECIMAL(38,0)-staged products. Reference scope: pygrametl has no
    * estimators — beyond-reference, next to the dedup/coverage family.
    *
    * Returns one row (n_a, n_b, m, n_hat, se) — n̂ = (n_a+1)(n_b+1)/(m+1)
    * − 1 (finite even at zero overlap; Chapman's correction), SE from
    * the standard hypergeometric variance.
    */
  def captureRecapture(a: DataFrame, bDf: DataFrame,
                       keyCol: Column): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val dec28 = org.apache.spark.sql.types.DecimalType(28, 8)
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val tagged = a.select(keyCol.cast("string").as("__k"),
        lit(1L).as("__ina"), lit(0L).as("__inb"))
      .unionByName(bDf.select(keyCol.cast("string").as("__k"),
        lit(0L).as("__ina"), lit(1L).as("__inb")))
    val presence = tagged.groupBy(col("__k"))
      .agg(max(col("__ina")).as("__a"), max(col("__inb")).as("__b"))
    val agg = presence.agg(
      sum(col("__a")).as("n_a"), sum(col("__b")).as("n_b"),
      sum(col("__a") * col("__b")).as("m"))
    val va = ((col("n_a") + 1L).cast(dec38) * (col("n_b") + 1L).cast(dec38))
      .cast("double")
    val vb = ((col("n_a") - col("m")).cast(dec38) *
      (col("n_b") - col("m")).cast(dec38)).cast("double")
    val den = ((col("m") + 1L).cast(dec38) * (col("m") + 1L).cast(dec38) *
      (col("m") + 2L).cast(dec38)).cast("double")
    val nHat = va / (col("m") + 1L).cast("double") - lit(1.0)
    def r4(c: Column) = round(c.cast(dec28), 4).cast("double")
    agg.select(col("n_a"), col("n_b"), col("m"),
      r4(nHat).as("n_hat"), r4(sqrt(va * vb / den)).as("se"))
  }

  /** Spearman rank correlation between two numeric columns — the
    * MONOTONE-relationship readout next to the Pearson
    * [[correlationMatrix]]: Pearson asks "linear", Spearman asks "does y
    * rise when x rises at all", so a saturating or power-law coupling
    * that Pearson underreads still reads near ±1 here, and outliers
    * can't dominate (ranks are bounded).
    *
    * Scale shape: the data collapses ONCE to the per-(x, y) joint count
    * table — bounded by distinct pairs, never rows, and additive per
    * pair (the [[graft.streaming.Streaming.SpearmanMonitor]] state);
    * everything downstream runs on bounded tables: marginal counts
    * derive from the joint table, average ranks come from the
    * deterministic-bucket prefix scan ([[graft.core.Scans.cumulative]]),
    * doubled ranks keep every moment an exact integer in DECIMAL(38,0)
    * (Σc·2r, Σc·(2r)², Σc·2rx·2ry — the 2s cancel in the ratio), and the
    * Pearson formula over those exact rank moments evaluates in fixed
    * double order ([[corrOfMoments]]'s discipline). NO row-level join
    * anywhere.
    *
    * Returns one row (n, rho); rho reads 0 when either column has zero
    * rank variance (all values tied).
    */
  def spearman(df: DataFrame, xCol: Column, yCol: Column): DataFrame =
    spearmanOfCounts(df.filter(xCol.isNotNull && yCol.isNotNull)
      .groupBy(xCol.as("__x"), yCol.as("__y"))
      .agg(count(lit(1)).as("__c")))

  /** [[spearman]]'s readout from an already-built (__x, __y, __c) joint
    * count table — the stage the streaming monitor shares with the batch
    * operator.
    */
  def spearmanOfCounts(joint0: DataFrame): DataFrame = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    // the joint table feeds BOTH rank tables and the ranked join (round
    // 16): frozen once, or the aggregation that built it runs three times
    val joint = org.apache.spark.sql.graftbridge.Bridge.ensureFrozen(joint0)
    def rankTable(keyCol: String, out: String): DataFrame = {
      val t = joint.groupBy(col(keyCol)).agg(sum(col("__c")).as("__t"))
      graft.core.Scans.cumulative(t, keyCol, Seq("__t"))
        .select(col(keyCol),
          (lit(2L) * (col("cum___t") - col("__t")) + col("__t") + lit(1L))
            .cast(big).as(out))
    }
    val ranked = joint
      .join(rankTable("__x", "__rx2"), Seq("__x"))
      .join(rankTable("__y", "__ry2"), Seq("__y"))
    val m = ranked.agg(sum(col("__c")).as("n"),
      sum(col("__c").cast(big) * col("__rx2")).as("__sx"),
      sum(col("__c").cast(big) * col("__ry2")).as("__sy"),
      sum(col("__c").cast(big) * col("__rx2") * col("__rx2")).as("__sxx"),
      sum(col("__c").cast(big) * col("__ry2") * col("__ry2")).as("__syy"),
      sum(col("__c").cast(big) * col("__rx2") * col("__ry2")).as("__sxy"))
    val nd = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val num = nd * d("__sxy") - d("__sx") * d("__sy")
    val va = nd * d("__sxx") - d("__sx") * d("__sx")
    val vb = nd * d("__syy") - d("__sy") * d("__sy")
    m.select(col("n"),
      round(when(va <= 0.0 || vb <= 0.0, lit(0.0))
        .otherwise(num / (sqrt(va) * sqrt(vb)))
        .cast(dec8), 6).cast("double").as("rho"))
  }

  /** Kendall's tau-b rank correlation between two BOUNDED-domain numeric
    * columns — the concordance view next to [[spearman]]: Spearman asks
    * "how far apart do the ranks land", tau asks "what FRACTION of pairs
    * agree on direction" (a probability, directly interpretable as
    * P(agree) − P(disagree)), is even less outlier-movable, and its
    * normal approximation (the Mann–Kendall z) is the standard trend /
    * concordance significance test. The -b variant corrects BOTH tie
    * margins, so heavily-tied corpus columns (quantities, bucketed
    * scores, grades) don't deflate the statistic.
    *
    * Scale shape: the corpus collapses ONCE to the (x, y) joint count
    * table — bounded by |X|·|Y| distinct pairs, never rows, and additive
    * per pair (the SAME state as [[spearman]]'s, so
    * [[graft.streaming.Streaming.SpearmanMonitor]] reads this out as its
    * `kendall` view with no extra state); concordant/discordant mass is
    * the TRIANGULAR cell-pair join on that bounded table (cells², like
    * the EWMA day-pair join — never rows²), with every product of counts
    * an exact DECIMAL(38,0) integer. The tie terms Σt(t−1), Σt(t−1)(2t+5),
    * Σt(t−1)(t−2) are exact-integer aggregations of the marginal count
    * tables; tau's denominator stays exact under the one sqrt, and the
    * z variance evaluates in fixed double order from those exact
    * integers (scipy's tau-b variance with full tie correction) — the
    * readout is engine-reproducible.
    *
    * Returns one row (n, conc, disc, tau, z) at 6dp; tau reads 0 when
    * either margin is entirely tied (zero rank variance, [[spearman]]'s
    * convention), z is NULL when the variance term degenerates (n < 3 or
    * all-tied margins).
    */
  def kendallTau(df: DataFrame, xCol: Column, yCol: Column): DataFrame =
    kendallOfCounts(df.filter(xCol.isNotNull && yCol.isNotNull)
      .groupBy(xCol.as("__x"), yCol.as("__y"))
      .agg(count(lit(1)).as("__c")))

  /** [[kendallTau]]'s readout from an already-built (__x, __y, __c) joint
    * count table — the stage the streaming monitor shares with the batch
    * operator (and with [[spearmanOfCounts]], whose state is identical).
    */
  def kendallOfCounts(joint: DataFrame): DataFrame = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    // the bounded cell table feeds both sides of the pair join, both
    // marginal tie tables and the total — frozen, or the corpus count
    // aggregation (the only pass that touches the data) runs five times
    // (ensureFrozen: an already-frozen monitor state passes through)
    val j = org.apache.spark.sql.graftbridge.Bridge.ensureFrozen(joint)
    val a = j.select(col("__x").as("__xa"), col("__y").as("__ya"),
      col("__c").cast(big).as("__ca"))
    val b = j.select(col("__x").as("__xb"), col("__y").as("__yb"),
      col("__c").cast(big).as("__cb"))
    // triangular cell-pair join: strictly-increasing x, direction read
    // off y; bounded-table broadcast nested loop, never a row-level join
    val cd = a.join(broadcast(b), col("__xa") < col("__xb"))
      .agg(
        coalesce(sum(when(col("__ya") < col("__yb"),
          col("__ca") * col("__cb")).otherwise(lit(0).cast(big))),
          lit(0).cast(big)).as("__conc"),
        coalesce(sum(when(col("__ya") > col("__yb"),
          col("__ca") * col("__cb")).otherwise(lit(0).cast(big))),
          lit(0).cast(big)).as("__disc"))
    // per-margin tie terms, all exact integers of the marginal counts
    def tieTerms(keyCol: String, tag: String): DataFrame = {
      val t = col("__t").cast(big)
      j.groupBy(col(keyCol)).agg(sum(col("__c")).as("__t"))
        .agg(
          sum(t * (t - lit(1))).as(s"__tt_$tag"),
          sum(t * (t - lit(1)) * (lit(2) * t + lit(5))).as(s"__tv_$tag"),
          sum(t * (t - lit(1)) * (t - lit(2))).as(s"__t3_$tag"))
    }
    val tot = j.agg(sum(col("__c")).as("n"))
    val m = cd.crossJoin(broadcast(tieTerms("__x", "x")))
      .crossJoin(broadcast(tieTerms("__y", "y")))
      .crossJoin(broadcast(tot))
    val n = col("n").cast(big)
    // doubled pair counts keep everything integral: 2·n0 = n(n−1)
    val twoN0 = n * (n - lit(1))
    val denom2 = (twoN0 - col("__tt_x")) * (twoN0 - col("__tt_y"))
    val s = (col("__conc") - col("__disc")).cast("double")
    val nd = col("n").cast("double")
    // scipy tau-b variance with full tie correction, fixed double order
    // from exact-integer aggregates (the v1/v2 products overflow 38
    // digits at corpus n, so they evaluate as IEEE products of exact ints)
    val v0 = (n * (n - lit(1)) * (lit(2) * n + lit(5))).cast("double")
    val v1 = (col("__tt_x").cast("double") * col("__tt_y").cast("double")) /
      (lit(2.0) * nd * (nd - lit(1.0)))
    val v2 = (col("__t3_x").cast("double") * col("__t3_y").cast("double")) /
      (lit(9.0) * nd * (nd - lit(1.0)) * (nd - lit(2.0)))
    val varS = (v0 - col("__tv_x").cast("double") - col("__tv_y").cast("double")) /
      lit(18.0) + v1 + v2
    m.select(col("n"),
      col("__conc").cast("long").as("conc"),
      col("__disc").cast("long").as("disc"),
      round(when(col("n") < 2L || denom2 <= lit(0).cast(big), lit(0.0))
        .otherwise(lit(2.0) * s / sqrt(denom2.cast("double")))
        .cast(dec8), 6).cast("double").as("tau"),
      when(col("n") < 3L || varS <= 0.0, lit(null).cast("double"))
        .otherwise(round((s / sqrt(varS)).cast(dec8), 6).cast("double"))
        .as("z"))
  }

  /** Mood's median test across k groups — the coarsest, most
    * outlier-proof of the k-group location tests: [[anovaF]] needs
    * normal-ish tails, [[kruskalWallis]] needs comparable shapes; Mood's
    * only asks "does each group land above the POOLED median at the same
    * rate", so a single corrupted feed with a wild tail cannot move any
    * other group's contribution. The blunt instrument to confirm a KW
    * alarm isn't a shape artifact.
    *
    * Dichotomy: the grand median is the exact interpolated q=0.5 order
    * statistic ([[exactQuantiles]]' contract, engine-reproducible), each
    * group splits into above / not-above, and the 2×k contingency gets
    * the plain χ² at k−1 dof.
    *
    * Scale shape: the SAME additive (value, group) count state as
    * [[kruskalWallis]] (the [[graft.streaming.Streaming.KruskalMonitor]]
    * `medianTest` readout); the median is two conditional-min order
    * stats off the prefix scan, the contingency is one aggregation of
    * the count table against the broadcast median, expected counts stage
    * as exact integer products with ONE double division each, and the
    * (O−E)²/E terms sum order-independently in DECIMAL(28,10).
    *
    * Returns one row (n, k, grand_median, chi2) at 6dp; chi2 NULL when
    * k < 2 or either side of the dichotomy is empty (all mass on the
    * median — no information).
    */
  def moodMedianTest(df: DataFrame, groupCol: Column,
                     valueCol: Column): DataFrame =
    moodOfCounts(groupValueCounts(df, groupCol, valueCol))

  /** [[moodMedianTest]]'s readout from an already-built (__v, __g, __c)
    * count table — the stage the streaming monitor shares with the batch
    * operator (and with [[kwOfCounts]], whose state is identical).
    */
  def moodOfCounts(counts: DataFrame): DataFrame = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec = org.apache.spark.sql.types.DecimalType(28, 10)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val c = org.apache.spark.sql.graftbridge.Bridge.freeze(counts)
    val med = broadcast(quantilesOfCounts(
      c.groupBy(col("__v")).agg(sum(col("__c")).as("__c")), Seq(0.5))
      .select(col("value").as("__m")))
    val g = c.crossJoin(med)
      .groupBy(col("__g"))
      .agg(sum(when(col("__v") > col("__m"), col("__c")).otherwise(0L)).as("__a"),
        sum(when(col("__v") <= col("__m"), col("__c")).otherwise(0L)).as("__b"),
        min(col("__m")).as("__m"))
    val tot = broadcast(g.agg(count(lit(1)).as("k"),
      sum(col("__a")).as("__ta"), sum(col("__b")).as("__tb")))
    val n = (col("__ta") + col("__tb")).cast(big)
    val nd = n.cast("double")
    val ng = (col("__a") + col("__b")).cast(big)
    val e1 = (ng * col("__ta").cast(big)).cast("double") / nd
    val e2 = (ng * col("__tb").cast(big)).cast("double") / nd
    val ad = col("__a").cast("double")
    val bd = col("__b").cast("double")
    val term = (((ad - e1) * (ad - e1) / e1) +
      ((bd - e2) * (bd - e2) / e2)).cast(dec)
    val agg = g.crossJoin(tot)
      .agg(min(col("k")).as("k"), min(col("__ta") + col("__tb")).as("n"),
        min(col("__ta")).as("__A"), min(col("__tb")).as("__B"),
        min(col("__m")).as("__gm"), sum(term).as("__chi"))
    agg.select(col("n"), col("k"),
      round(col("__gm").cast(dec8), 6).cast("double").as("grand_median"),
      when(col("k") < 2L || col("__A") === 0L || col("__B") === 0L,
        lit(null).cast("double"))
        .otherwise(round(col("__chi").cast(dec8), 6).cast("double"))
        .as("chi2"))
  }

  /** Jonckheere–Terpstra ordered-alternative trend test across k groups —
    * the DIRECTED cousin of [[kruskalWallis]]: KW asks "do the groups
    * differ at all"; JT asks "do they INCREASE along a known ordering"
    * (model quality along checkpoint generations, latency along load
    * tiers, engagement along funnel stages) and buys large power when the
    * ordering is the hypothesis. Groups are ordered by their column's
    * natural sort order — the caller encodes the a-priori ordering in the
    * group values themselves.
    *
    * Statistic: J = Σ_{g<h} [#(a∈g, b∈h: vₐ<v_b) + ½·#(vₐ=v_b)] — the
    * pairwise Mann–Whitney mass summed over ordered group pairs. The
    * identity that makes it a free readout: with x = group, J − E[J] =
    * S/2 and Var(J) = Var(S)/4 where S = conc − disc of Kendall's tau-b,
    * so the JT z IS the tau-b z over the (group, value) joint counts —
    * the [[kendallOfCounts]] machinery verbatim, including the full
    * Hollander–Wolfe tie correction.
    *
    * Scale shape: identical to [[kendallTau]] — the corpus collapses ONCE
    * to the (group, value) joint count table (the SAME additive state as
    * [[kruskalWallis]], so [[graft.streaming.Streaming.KruskalMonitor]]
    * reads this out as its `trend` view with no extra state), concordant
    * mass from the triangular cell-pair join (cells², never rows²), every
    * product an exact DECIMAL(38,0), z in fixed double order.
    *
    * Returns one row (n, k, j, z); j is exact (its quadruple is an
    * integer), z NULL when n < 3 or the tie-corrected variance
    * degenerates.
    */
  def jonckheereTerpstra(df: DataFrame, groupCol: Column,
                         valueCol: Column): DataFrame =
    jtOfCounts(groupValueCounts(df, groupCol, valueCol))

  /** [[jonckheereTerpstra]]'s readout from an already-built (__v, __g,
    * __c) count table — the stage the streaming monitor shares with the
    * batch operator (and with [[kwOfCounts]], whose state is identical).
    *
    * Plan shape: a cell-pair join would be |cells|² — quadratic in the
    * VALUE domain even though only the k GROUPS are ordered (measured:
    * 168s on the 2dp events domain at sf0.1). Instead the count table
    * pivots to one row per value with k per-group count columns (k is
    * the bounded group count — the one k-row collect is bounded
    * metadata, the [[kruskalWallis]] k), cumulates all k columns in ONE
    * deterministic prefix scan, and conc/disc fall out per VALUE ROW as
    * the k²-term dominance sums Σ_h c_h·Σ_{g<h} below_g /
    * Σ_h c_h·Σ_{g<h} above_g — exact integers, one scan, one reduce.
    */
  def jtOfCounts(counts: DataFrame): DataFrame = {
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val j = org.apache.spark.sql.graftbridge.Bridge.freeze(
      counts.select(col("__g").as("__x"), col("__v").as("__y"), col("__c")))
    // the a-priori ordered group list — k rows, bounded metadata
    val groups = j.select(col("__x")).distinct().orderBy(col("__x"))
      .collect().map(_.get(0))
    val k = groups.length
    val spark0 = j.sparkSession
    if (k == 0) {
      return spark0.range(1).select(lit(0L).as("n"), lit(0L).as("k"),
        lit(null).cast("double").as("j"), lit(null).cast("double").as("z"))
    }
    val cCols = groups.indices.map(i => s"__c$i")
    val wideAggs = groups.zipWithIndex.map { case (g, i) =>
      coalesce(sum(when(col("__x") === lit(g), col("__c"))), lit(0L))
        .as(s"__c$i")
    }
    val wide = j.groupBy(col("__y")).agg(wideAggs.head, wideAggs.tail: _*)
    val cum = graft.core.Scans.cumulative(wide, "__y", cCols)
    val totals = broadcast(wide.agg(
      groups.indices.map(i => sum(col(s"__c$i")).as(s"__t$i")).head,
      groups.indices.drop(1).map(i => sum(col(s"__c$i")).as(s"__t$i")): _*))
    // per value row: below_g = cum_g − c_g (strictly-below mass of group
    // g), above_g = total_g − cum_g; the ordered-pair dominance sums run
    // over the k² generated terms — every product an exact integer
    def bigc(c: Column) = c.cast(big)
    val concRow = groups.indices.drop(1).map { h =>
      val lower = groups.indices.take(h).map(g =>
        bigc(col(s"cum___c$g")) - bigc(col(s"__c$g")))
        .reduce(_ + _)
      bigc(col(s"__c$h")) * lower
    }.reduceOption[Column](_ + _).getOrElse(lit(0).cast(big))
    val discRow = groups.indices.drop(1).map { h =>
      val upper = groups.indices.take(h).map(g =>
        bigc(col(s"__t$g")) - bigc(col(s"cum___c$g")))
        .reduce(_ + _)
      bigc(col(s"__c$h")) * upper
    }.reduceOption[Column](_ + _).getOrElse(lit(0).cast(big))
    val cd = cum.crossJoin(totals)
      .select(concRow.as("__cr"), discRow.as("__dr"),
        // per-value tie quantities ride the same rows: t = Σ_g c_g
        cCols.map(c => col(c).cast(big)).reduce(_ + _).as("__ty"))
      .agg(
        coalesce(sum(col("__cr")), lit(0).cast(big)).as("__conc"),
        coalesce(sum(col("__dr")), lit(0).cast(big)).as("__disc"),
        coalesce(sum(col("__ty") * (col("__ty") - lit(1))),
          lit(0).cast(big)).as("__tt_y"),
        coalesce(sum(col("__ty") * (col("__ty") - lit(1))
          * (lit(2) * col("__ty") + lit(5))), lit(0).cast(big)).as("__tv_y"),
        coalesce(sum(col("__ty") * (col("__ty") - lit(1))
          * (col("__ty") - lit(2))), lit(0).cast(big)).as("__t3_y"))
    // group-margin tie terms off the bounded k-column totals row
    val xTie = totals.select({
      val ts = groups.indices.map(i => bigc(col(s"__t$i")))
      Seq(lit(k.toLong).as("__k_x"),
        ts.map(t => t * (t - lit(1))).reduce(_ + _).as("__tt_x"),
        ts.map(t => t * (t - lit(1)) * (lit(2) * t + lit(5))).reduce(_ + _)
          .as("__tv_x"),
        ts.map(t => t * (t - lit(1)) * (t - lit(2))).reduce(_ + _)
          .as("__t3_x"),
        ts.reduce(_ + _).cast("long").as("n"))
    }: _*)
    val m = cd.crossJoin(broadcast(xTie))
    val n = col("n").cast(big)
    val twoN0 = n * (n - lit(1))
    // 2P = cross-group pair count doubled — exact; J = (2P/2 + S)/2
    val p2 = (twoN0 - col("__tt_x")).cast("double")
    val s = (col("__conc") - col("__disc")).cast("double")
    val nd = col("n").cast("double")
    val v0 = (n * (n - lit(1)) * (lit(2) * n + lit(5))).cast("double")
    val v1 = (col("__tt_x").cast("double") * col("__tt_y").cast("double")) /
      (lit(2.0) * nd * (nd - lit(1.0)))
    val v2 = (col("__t3_x").cast("double") * col("__t3_y").cast("double")) /
      (lit(9.0) * nd * (nd - lit(1.0)) * (nd - lit(2.0)))
    val varS = (v0 - col("__tv_x").cast("double") - col("__tv_y").cast("double")) /
      lit(18.0) + v1 + v2
    m.select(col("n"), col("__k_x").as("k"),
      round(((p2 / lit(2.0) + s) / lit(2.0)).cast(dec8), 6)
        .cast("double").as("j"),
      when(col("n") < 3L || varS <= 0.0, lit(null).cast("double"))
        .otherwise(round((s / sqrt(varS)).cast(dec8), 6).cast("double"))
        .as("z"))
  }

  /** Chi-square homogeneity drift between two CATEGORICAL samples — the
    * third leg of the drift triangle next to [[ksDrift]] (numeric CDFs)
    * and [[graft.functions.Curation.tokenDrift]] (token KL): did the
    * distribution over event types / languages / sources shift between
    * two snapshots, with a test statistic whose null distribution
    * (χ² at k−1 dof) gives a principled alert threshold.
    *
    * Scale shape: each side collapses to its |categories|-row count table
    * in ONE map-side-combined aggregation; every χ² term is arithmetic on
    * the joined tiny frame. Expected counts E = rowTotal·colTotal/N stage
    * as exact DECIMAL(38,0) long products with ONE double division each,
    * and the (O−E)²/E terms sum in DECIMAL(28,10) (order-independent) —
    * the verdict is engine-reproducible. Categories missing from one side
    * count as zero observed there (the drift case that matters most).
    *
    * Returns one row (n_categories, n_a, n_b, dof, chi2).
    */
  def chisqDrift(a: DataFrame, bDf: DataFrame, keyCol: String): DataFrame = {
    def countsOf(df: DataFrame, out: String) =
      df.groupBy(col(keyCol).as("cat")).agg(count(lit(1)).as(out))
    // the |categories|-row contingency table feeds BOTH the totals and the
    // per-cell terms — frozen, or each side's corpus count aggregation
    // (the only passes that touch the data) runs twice
    val joined = org.apache.spark.sql.graftbridge.Bridge.freeze(
      countsOf(a, "oa").join(countsOf(bDf, "ob"), Seq("cat"), "full_outer")
        .select(col("cat"), coalesce(col("oa"), lit(0L)).as("oa"),
          coalesce(col("ob"), lit(0L)).as("ob")))
    val totals = broadcast(joined.agg(
      sum(col("oa")).as("__na"), sum(col("ob")).as("__nb")))
    val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val grand = (col("__na") + col("__nb")).cast(dec38)
    // E stages as exact integer product / one double divide; the χ² term
    // evaluates in the fixed order (O−E)²/E with O−E an IEEE subtract
    def term(o: Column, rowTot: Column) = {
      val e = (rowTot.cast(dec38) * (col("oa") + col("ob")).cast(dec38))
        .cast("double") / grand.cast("double")
      (o.cast("double") - e) * (o.cast("double") - e) / e
    }
    joined.crossJoin(totals)
      .select(col("__na"), col("__nb"),
        (term(col("oa"), col("__na")) + term(col("ob"), col("__nb")))
          .cast(org.apache.spark.sql.types.DecimalType(28, 10)).as("__t"))
      .groupBy(col("__na"), col("__nb"))
      .agg(count(lit(1)).as("n_categories"), sum(col("__t")).as("__chi2"))
      .select(col("n_categories"), col("__na").as("n_a"), col("__nb").as("n_b"),
        (col("n_categories") - 1).cast("long").as("dof"),
        round(col("__chi2"), 6).cast("double").as("chi2"))
  }

  /** Cross-corpus overlap estimation from mergeable HLL sketches: estimate
    * |A|, |B|, |A∪B| and (by inclusion-exclusion) |A∩B| of two key sets
    * WITHOUT ever joining them — the 100 TB way to answer "how much does
    * this crawl overlap that one" from two 2^b-register sketches instead
    * of a corpus×corpus join. The union sketch is the register-wise max
    * ([[hllRegisters]] mergeability — the same property the streaming
    * CardinalityMonitor accretes on), so all three estimates carry the
    * standard 1.04/√m error; the intersection estimate inherits their
    * summed error and goes unreliable when |A∩B| is far below that — the
    * right tool for "mostly-overlapping or mostly-disjoint", not for tiny
    * intersections.
    *
    * Returns one row (est_a, est_b, est_union, est_intersection).
    */
  def hllOverlap(a: DataFrame, bDf: DataFrame, keyCol: String,
                 b: Int = 8): DataFrame = {
    val ra = hllRegisters(a, keyCol, b)
    val rb = hllRegisters(bDf, keyCol, b)
    val ru = ra.unionAll(rb).groupBy(col("bucket")).agg(max(col("reg")).as("reg"))
    val ea = hllEstimate(ra, b).select(col("est_distinct").as("est_a"))
    val eb = hllEstimate(rb, b).select(col("est_distinct").as("est_b"))
    val eu = hllEstimate(ru, b).select(col("est_distinct").as("est_union"))
    ea.crossJoin(eb).crossJoin(eu)
      .withColumn("est_intersection",
        round((col("est_a") + col("est_b") - col("est_union"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 6)), 2)
          .cast("double"))
  }

  /** HyperLogLog estimate from a [[hllRegisters]] table: the harmonic-mean
    * raw estimator with the standard small-range (linear-counting)
    * correction. The register sum Σ2^−reg stages as EXACT integers —
    * `2^(60−reg)` longs summed in DECIMAL(38,0) (reg ≤ 61−b keeps every
    * term integral), one double division at the end — so the estimate is
    * reproducible bit-for-bit; `ln` in the linear-counting branch is
    * IEEE-identical across engines. Expected error ≈ 1.04/√(2^b).
    *
    * Returns one row (m, zero_registers, est_distinct).
    */
  def hllEstimate(regs: DataFrame, b: Int = 8): DataFrame = {
    val m = 1 << b
    // alpha_m · m² · 2^60, folded to one driver-side double so the oracle
    // can inline the identical literal instead of replaying operation order
    val c = 0.7213 / (1.0 + 1.079 / m) * m * m * math.pow(2, 60)
    regs.agg(
        sum(expr("cast(shiftleft(1L, 60 - reg) as decimal(38,0))")).as("__s"),
        sum(when(col("reg") === 0, 1L).otherwise(0L)).as("zero_registers"))
      .withColumn("__raw", lit(c) / col("__s").cast("double"))
      .select(lit(m).as("m"), col("zero_registers"),
        round(when(col("__raw") <= 2.5 * m && col("zero_registers") > 0,
            lit(m.toDouble) * log(lit(m.toDouble) / col("zero_registers").cast("double")))
          .otherwise(col("__raw")).cast(org.apache.spark.sql.types.DecimalType(38, 6)), 2)
          .cast("double").as("est_distinct"))
  }

  /** Deterministic Poisson(1) resample weight for one bootstrap replicate:
    * the row's md5 bucket (in [0, 10⁹)) falls through the Poisson(1)
    * inverse CDF, with the tail capped at 7 (P(X>7) ≈ 1.02e-5 — the cap is
    * documented bias far below bootstrap noise). Hash-derived, so the same
    * row draws the same weight in every run and on every engine.
    */
  def poissonWeight(idCol: Column, salt: String): Column = {
    val b = Sampling.hash60(idCol, salt) % 1000000000L
    when(b < 367879441L, 0L).when(b < 735758882L, 1L)
      .when(b < 919698603L, 2L).when(b < 981011843L, 3L)
      .when(b < 996340153L, 4L).when(b < 999405815L, 5L)
      .when(b < 999916759L, 6L).otherwise(7L)
  }

  /** Poisson bootstrap of a column mean (Chamandy et al. 2012, "Estimating
    * uncertainty for massive data streams" — Google's bootstrap for data
    * too large to resample by index): replicate b reweights each row by an
    * independent Poisson(1) draw, which converges to the classical
    * multinomial bootstrap as n grows, but needs NO sampling with
    * replacement — the weight is a pure per-row function.
    *
    * Scale shape: ONE scan, ONE reduce — every replicate is just another
    * pair of aggregate columns (Σw, Σw·x) in the same map-side-combined
    * aggregation, so 100 TB is read once for any number of replicates and
    * nothing is exploded or shuffled; the B-column single row then unpivots
    * (`stack`) to a B-row frame driver-free. Weighted sums stage in
    * DECIMAL(38,4) (weights are small longs, values 2dp), so each
    * replicate's sum is exact and order-independent.
    *
    * Returns one row per replicate: (rep, n_eff, boot_sum) — callers derive
    * the replicate mean and read CI bounds off the B-row frame.
    */
  def poissonBootstrap(df: DataFrame, idCol: String, valueCol: String,
                       replicates: Int = 16, salt: String = "boot"): DataFrame =
    bootOfMoments(bootMoments(df, idCol, valueCol, replicates, salt), replicates)

  /** The one-row additive state behind [[poissonBootstrap]]: per-replicate
    * (Σw, Σw·v) pairs — exact decimal SUMS whose per-row weights are a pure
    * function of the row id, so states from disjoint row sets fold by
    * column-wise addition (the streaming bootstrap monitor's linear-sketch
    * property: per-batch CIs accrete into the corpus CI).
    */
  def bootMoments(df: DataFrame, idCol: String, valueCol: String,
                  replicates: Int = 16, salt: String = "boot"): DataFrame = {
    require(replicates > 0, "replicates must be positive")
    // weight is ≤ 7 → DECIMAL(2,0); product DECIMAL(21,4) stays exact and
    // far from the 38-digit cap even summed over 10¹⁵ rows
    val wDec = org.apache.spark.sql.types.DecimalType(2, 0)
    val vDec = org.apache.spark.sql.types.DecimalType(18, 4)
    val aggs = (0 until replicates).flatMap { r =>
      val w = poissonWeight(col(idCol), s"$salt$r")
      Seq(sum(w).as(s"__n$r"),
        sum(w.cast(wDec) * col(valueCol).cast(vDec)).as(s"__s$r"))
    }
    // `replicates` md5 draws per ROW are CPU, not I/O: a few-file local
    // scan would fold them on 1-2 tasks (measured: one 3.1 s task for
    // stats_bootstrap at sf0.1). Rebalance pre-fold — a no-op when the
    // scan already has ≥ cores partitions; decimal partial sums are
    // associative, so the fold is layout-independent (guide §2.6).
    graft.core.Scans.balancedForCompute(
        df.select(col(idCol), col(valueCol)), col(idCol))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** [[poissonBootstrap]]'s readout from a [[bootMoments]] state row. */
  def bootOfMoments(row: DataFrame, replicates: Int): DataFrame = {
    val stackArgs = (0 until replicates)
      .map(r => s"$r, __n$r, cast(__s$r as decimal(38,4))").mkString(", ")
    row.selectExpr(s"stack($replicates, $stackArgs) as (rep, n_eff, boot_sum)")
      .select(col("rep").cast("int").as("rep"),
        col("n_eff").cast("long").as("n_eff"), col("boot_sum"))
  }

  /** (z_{α/2} + z_β)² for the conventional α = 0.05 two-sided, 80% power
    * design — THE standard experiment-sizing constant (1.95996… +
    * 0.84162…)². Exposed so [[powerTwoProp]]'s oracle SQL embeds the
    * bit-identical double.
    */
  val zSumSq80At05: Double = {
    val z = 1.959963984540054 + 0.8416212335729143
    z * z
  }

  /** Two-proportion sample-size planning — the PROSPECTIVE companion of
    * [[twoProportionZ]]: that test says whether the observed share moved;
    * this says how many rows PER ARM the next experiment needs to detect
    * the observed difference again at α = 0.05 / 80% power,
    * n = (z_{α/2}+z_β)²·(p₁(1−p₁)+p₂(1−p₂))/(p₁−p₂)² — the number a
    * data-mix or filter A/B actually gets sized by.
    *
    * Scale shape: each arm collapses to its exact (n, successes) pair in
    * ONE reduce (the [[propCounts]] state — additive, so the streaming
    * [[graft.streaming.Streaming.ProportionMonitor]] reads the identical
    * plan); the formula runs on the 6dp-rounded observed p's (both
    * engines share those exactly — the [[fleissOfCounts]] discipline)
    * with the z-sum-squared constant shared with the oracle.
    *
    * Returns one row (n_a, n_b, p_a, p_b, effect, n_per_arm); effect and
    * n_per_arm NULL when either arm is empty or the observed shares tie
    * (nothing to size against).
    */
  def powerTwoProp(a: DataFrame, bDf: DataFrame, successCol: Column,
                   zSumSq: Double = zSumSq80At05): DataFrame =
    powerOfCounts(propCounts(a, successCol, "a").crossJoin(
      broadcast(propCounts(bDf, successCol, "b"))), zSumSq)

  /** [[powerTwoProp]]'s formula stage over a joint [[propCounts]] row. */
  def powerOfCounts(row: DataFrame, zSumSq: Double = zSumSq80At05): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    // the pre-ceil stage needs 20 integral digits: a 6dp-rounded effect can
    // be as small as 1e-6, putting n_per_arm near 4e12 — DECIMAL(18,8)'s 10
    // integral digits would overflow to NULL (and diverge from an ANSI
    // engine, which errors instead)
    val dec28 = org.apache.spark.sql.types.DecimalType(28, 8)
    val pa = round((col("__px_a").cast("double") / col("__pn_a").cast("double"))
      .cast(dec8), 6).cast("double")
    val pb = round((col("__px_b").cast("double") / col("__pn_b").cast("double"))
      .cast(dec8), 6).cast("double")
    val m = row.select(col("__pn_a").as("n_a"), col("__pn_b").as("n_b"),
      pa.as("p_a"), pb.as("p_b"))
    m.select(col("n_a"), col("n_b"), col("p_a"), col("p_b"),
      when(col("n_a") === 0L || col("n_b") === 0L, lit(null).cast("double"))
        .otherwise(round((col("p_a") - col("p_b")).cast(dec8), 6)
          .cast("double")).as("effect"),
      when(col("n_a") === 0L || col("n_b") === 0L ||
          col("p_a") === col("p_b"), lit(null).cast("long"))
        .otherwise(ceil((lit(zSumSq) *
          (col("p_a") * (lit(1.0) - col("p_a")) +
            col("p_b") * (lit(1.0) - col("p_b"))) /
          ((col("p_a") - col("p_b")) * (col("p_a") - col("p_b"))))
          .cast(dec28)).cast("long")).as("n_per_arm"))
  }

  /** Hill tail-index estimator over per-key volumes — "HOW heavy is the
    * heavy tail": [[giniConcentration]] and [[keySkew]] say the mass is
    * concentrated; the Hill α says what POWER LAW the tail follows
    * (α ≤ 1 reads "the mean is dominated by whales and doesn't converge"
    * — the number that decides whether per-key caps are a nicety or a
    * necessity). α̂ = [mean(ln xᵢ) over the top k − ln x₍ₖ₊₁₎]⁻¹, the
    * classic MLE on the k largest order statistics.
    *
    * Scale shape: the SAME per-key count state as [[giniOfCounts]] (the
    * [[graft.streaming.Streaming.KeyCountMonitor]] state, whose `tail`
    * readout IS this estimate) collapses to the count-of-counts frame
    * (bounded by distinct volumes); descending ranks come from the Gini
    * triangular join, the top-k overlap weights are [[trimmedOfCounts]]'
    * interval clamps, and the log moments are decimal-staged before the
    * order-independent sum.
    *
    * Returns one row (n_keys, k, threshold, alpha) at 6dp — NULL alpha
    * when fewer than k+1 keys exist or the top k all tie the threshold
    * (no spread to fit).
    */
  def hillTail(df: DataFrame, keyCol: String, k: Int = 100): DataFrame =
    hillOfCounts(
      df.groupBy(col(keyCol).cast("string").as("key"))
        .agg(count(lit(1)).as("cnt")), k)

  /** [[hillTail]]'s readout from an already-built (key, cnt) count table
    * — the stage the streaming monitor shares with the batch operator.
    */
  def hillOfCounts(counts: DataFrame, k: Int = 100): DataFrame = {
    require(k >= 2, "k must be at least 2")
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val decS = org.apache.spark.sql.types.DecimalType(28, 10)
    val coc = org.apache.spark.sql.graftbridge.Bridge.freeze(
      counts.select(col("cnt").as("__c"))
        .groupBy(col("__c")).agg(count(lit(1)).as("__nk")))
    val higher = coc.select(col("__c").as("__hc"), col("__nk").as("__hnk"))
    // descending ranks: keys with volume c occupy (before, before + nk]
    val ranked = coc.join(higher, col("__hc") > col("__c"), "left")
      .groupBy(col("__c"), col("__nk"))
      .agg(coalesce(sum(col("__hnk")), lit(0L)).as("__before"))
    val w = greatest(
      least(col("__before") + col("__nk"), lit(k.toLong)) - col("__before"),
      lit(0L))
    val agg = ranked.agg(
      sum(col("__nk")).as("n_keys"),
      sum((w.cast("double") * log(col("__c").cast("double"))).cast(decS))
        .as("__slog"),
      max(when(col("__before") + col("__nk") >= lit((k + 1).toLong),
        col("__c"))).as("__xk1"))
    val inv = col("__slog").cast("double") / lit(k.toDouble) -
      log(col("__xk1").cast("double"))
    def r6(c: Column) = round(c.cast(dec8), 6).cast("double")
    agg.select(col("n_keys"), lit(k).as("k"), col("__xk1").as("threshold"),
      when(col("n_keys") < (k + 1).toLong || isnull(col("__xk1")) ||
          inv <= 0.0, lit(null).cast("double"))
        .otherwise(r6(lit(1.0) / inv)).as("alpha"))
  }

  /** Effective sample size and design effect of a weighted sample —
    * "these n weighted rows carry the statistical information of how
    * many unweighted ones": the admission check on ANY importance-
    * weighted mixture (DSIR weights, dedup survivorship weights) before
    * its metrics are trusted — ESS = (Σw)²/Σw² (Kish), deff = n/ESS,
    * weight CV rides along as the why.
    *
    * Scale shape: ONE map-side-combined aggregation of decimal-staged
    * weight moments; fixed-order ratios on three numbers. Non-positive
    * and NULL weights drop (they carry no sampling information).
    *
    * Returns one row (n, ess, deff, weight_cv) at 6dp; zero rows
    * becomes (0, NULL, NULL, NULL).
    */
  def designEffect(df: DataFrame, weightCol: Column): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val decS = org.apache.spark.sql.types.DecimalType(28, 10)
    val wd = weightCol.cast("double")
    // explicit !isnan: Spark's `wd > 0.0` drops NaN but DuckDB's NaN
    // compares greater than any number and would keep it — spell the drop
    // out in BOTH engines so a NaN weight can't diverge them
    val agg = df.filter(wd.isNotNull && !isnan(wd) && wd > 0.0)
      .agg(count(lit(1)).as("n"),
        sum(wd.cast(decS)).as("__sw"),
        sum((wd * wd).cast(decS)).as("__sw2"))
    def d(s: String) = col(s).cast("double")
    val ess = d("__sw") * d("__sw") / d("__sw2")
    val deff = d("n") * d("__sw2") / (d("__sw") * d("__sw"))
    def r6(c: Column) = round(c.cast(dec8), 6).cast("double")
    val bad = col("n") === 0L
    agg.select(col("n"),
      when(bad, lit(null).cast("double")).otherwise(r6(ess)).as("ess"),
      when(bad, lit(null).cast("double")).otherwise(r6(deff)).as("deff"),
      when(bad, lit(null).cast("double"))
        .otherwise(r6(sqrt(greatest(deff - lit(1.0), lit(0.0)))))
        .as("weight_cv"))
  }

  /** Wald's sequential probability ratio test (SPRT, 1945) — the test
    * built for STREAMS: [[twoProportionZ]] answers "is the share moved,
    * on everything so far" but offers no stopping rule a peeking analyst
    * doesn't invalidate; the SPRT's log-likelihood ratio against two
    * explicit hypotheses (p = p0 vs p = p1) carries Wald boundaries that
    * hold the α/β error budget no matter how often the monitor is read —
    * the correct "can we stop the experiment yet" readout for a live
    * pipeline.
    *
    * Scale shape: the arm collapses to ONE exact (n, successes) pair
    * (the additive [[graft.streaming.Streaming.ProportionMonitor]]
    * state, whose `sequential` readout IS this test); the LLR and both
    * boundaries are fixed-order double arithmetic on two integers with
    * in-engine logs. Zero data shuffle. Reference scope: pygrametl has
    * no statistics surface — beyond-reference, next to the two-
    * proportion/power family.
    *
    * Returns one row (n, x, llr, upper, lower, decision) at 6dp —
    * decision compares the UNROUNDED llr against the UNROUNDED Wald
    * bounds: 'accept_h1' (the share IS p1-like), 'accept_h0', or
    * 'continue' (keep collecting).
    */
  def sprt(df: DataFrame, successCol: Column, p0: Double, p1: Double,
           alpha: Double = 0.05, beta: Double = 0.2): DataFrame =
    sprtOfCounts(propCounts(df, successCol, "b"), p0, p1, alpha, beta)

  /** [[sprt]]'s readout from an already-built 1-row (__pn_b, __px_b)
    * count pair — the stage the streaming monitor shares with the batch
    * operator (the monitor tests its SECOND arm, the live window).
    */
  def sprtOfCounts(row: DataFrame, p0: Double, p1: Double,
                   alpha: Double = 0.05, beta: Double = 0.2): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p1 != p0,
      "0 < p0, p1 < 1 and p0 != p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      "0 < alpha, beta < 1")
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val n = col("__pn_b").cast("double")
    val x = col("__px_b").cast("double")
    val llr = x * log(lit(p1) / lit(p0)) +
      (n - x) * log((lit(1.0) - lit(p1)) / (lit(1.0) - lit(p0)))
    val upper = log((lit(1.0) - lit(beta)) / lit(alpha))
    val lower = log(lit(beta) / (lit(1.0) - lit(alpha)))
    def r6(c: Column) = round(c.cast(dec8), 6).cast("double")
    row.select(col("__pn_b").as("n"), col("__px_b").as("x"),
      r6(llr).as("llr"), r6(upper).as("upper"), r6(lower).as("lower"),
      when(llr >= upper, lit("accept_h1"))
        .when(llr <= lower, lit("accept_h0"))
        .otherwise(lit("continue")).as("decision"))
  }

  /** Expected calibration error — "when the scorer says 0.8, is it right
    * 80% of the time": [[reliability]] prints the calibration TABLE;
    * this is the one-number summary (ECE, the bin-weighted |confidence −
    * accuracy| gap) plus the worst bin (MCE) — the quality-score
    * admission check before its thresholds are treated as probabilities
    * in a curation budget.
    *
    * Scale shape: ONE map-side-combined aggregation to ≤ `bins` rows
    * (count, positives, decimal-staged probability sum per bin — an
    * additive state), broadcast total, fixed-order gap arithmetic with
    * the bin terms decimal-staged before the order-independent ECE sum.
    *
    * Returns one row (bins, n, ece, mce) at 6dp; zero rows on empty
    * input. `probCol` must already live in [0, 1] — values are clamped
    * into the edge bins, not rejected.
    */
  def calibrationError(df: DataFrame, probCol: Column, labelCol: Column,
                       bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, "2 <= bins <= 1000")
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val decS = org.apache.spark.sql.types.DecimalType(28, 10)
    val base = df.select(probCol.cast("double").as("__p"),
        labelCol.cast("boolean").as("__y"))
      .filter(col("__p").isNotNull && col("__y").isNotNull)
    val binned = org.apache.spark.sql.graftbridge.Bridge.freeze(base
      .select(greatest(least(floor(col("__p") * lit(bins.toDouble))
        .cast("long"), lit((bins - 1).toLong)), lit(0L)).as("__b"),
        col("__p"), col("__y"))
      .groupBy(col("__b"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__x"),
        sum(col("__p").cast(decS)).as("__sp")))
    val gap = abs(col("__x").cast("double") / col("__n").cast("double") -
      col("__sp").cast("double") / col("__n").cast("double"))
    def r6(c: Column) = round(c.cast(dec8), 6).cast("double")
    // the bin terms n_b·gap_b never reference the grand total, so ECE
    // reduces in ONE aggregation over the bounded bin table — no join
    binned
      .select(col("__n"), (col("__n").cast("double") * gap).cast(decS)
        .as("__term"), gap.as("__gap"))
      .agg(sum(col("__n")).as("n"), sum(col("__term")).as("__es"),
        max(col("__gap")).as("__mce"))
      .select(lit(bins).as("bins"), col("n"),
        r6(col("__es").cast("double") / col("n").cast("double")).as("ece"),
        r6(col("__mce")).as("mce"))
  }

  /** Benjamini–Hochberg step-up FDR control over a panel of per-key
    * p-values — the multiple-testing closer for the suite's test
    * batteries: run one test per event type / per feature (Pettitt,
    * Mann–Kendall, two-prop, …) and 1 in 20 null keys false-alarms at
    * α = 0.05; BH caps the EXPECTED FALSE-DISCOVERY FRACTION of the
    * reported set at `q` instead, the standard correction for "which of
    * these k alarms are real" panels.
    *
    * Semantics: ordinal rank i over p ascending (ties broken by key, so
    * the rank — and therefore the output — is deterministic), BH-adjusted
    * value `p_bh(i) = min(1, min_{j ≥ i}(p(j)·m/j))` (the monotone
    * step-up envelope), reject ⇔ p_bh ≤ q — equivalent to the classic
    * "largest i with p(i) ≤ i·q/m" rule.
    *
    * Scale shape: the panel is one row per KEY (bounded by the test
    * battery, not the data — the corpus passes happened upstream in the
    * tests themselves), so both the rank and the step-up envelope come
    * from triangular self-joins on the frozen panel (m² pairs over
    * bounded m, the [[graft.functions.Events.mkOfDaily]] pattern) — no
    * unpartitioned window, nothing data-proportional. Boundedness is
    * ENFORCED: panels wider than `maxPanel` rows and panels with
    * duplicate keys fail loudly before the quadratic stages run. `p·m/rank` forms
    * in fixed double order from gate-canonical (already rounded) inputs,
    * so the min-envelope picks among identical doubles in any engine.
    *
    * Returns one row per key with a non-NULL p:
    * (key, p, rank, p_bh, reject) — p_bh at 6dp.
    */
  def bhAdjust(panel: DataFrame, keyCol: String, pCol: String,
               q: Double = 0.05, maxPanel: Int = 10000): DataFrame = {
    require(q > 0 && q < 1, "0 < q < 1")
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val base = org.apache.spark.sql.graftbridge.Bridge.freeze(
      panel.select(col(keyCol).cast("string").as("key"),
          col(pCol).cast("double").as("p"))
        .filter(col("p").isNotNull))
    // HARD guards before the m² triangular joins (ONE bounded collect off
    // the frozen panel). (1) The panel must be a TEST BATTERY — one p per
    // key, bounded by the number of tests, never per-document: feeding a
    // corpus-sized panel would silently go quadratic, so fail loudly and
    // point at the override. (2) Duplicate keys would double-count each
    // other in the ordinal rank (two equal-(key,p) rows both count the
    // other via __kj <= key: duplicate ranks, no rank 1, a skewed m) —
    // pre-aggregate to one p per key upstream instead.
    val sizes = base.agg(count(lit(1)), count_distinct(col("key"))).head()
    val (nRows, nKeys) = (sizes.getLong(0), sizes.getLong(1))
    require(nRows <= maxPanel,
      s"bhAdjust: panel has $nRows p-values (> maxPanel=$maxPanel); the " +
        "rank/envelope stages are quadratic in the panel — this is a " +
        "per-test-battery correction, not a per-document one. If the " +
        "panel really is that wide, raise maxPanel explicitly.")
    require(nKeys == nRows,
      s"bhAdjust: ${nRows - nKeys} duplicate key(s) in the panel — the " +
        "ordinal rank assumes one p per key; pre-aggregate duplicates " +
        "before adjusting.")
    val m = base.agg(count(lit(1)).as("__m"))
    val other = base.select(col("key").as("__kj"), col("p").as("__pj"))
    // ordinal rank with deterministic key tie-break (1-based)
    val ranked = base.join(other)
      .filter(col("__pj") < col("p") ||
        (col("__pj") === col("p") && col("__kj") <= col("key")))
      .groupBy(col("key"), col("p"))
      .agg(count(lit(1)).as("rank"))
    val rother = ranked.crossJoin(broadcast(m))
      .select(col("rank").as("__rj"),
        (col("p") * col("__m").cast("double") / col("rank").cast("double"))
          .as("__raw"))
    // step-up envelope: min of p·m/rank over ranks at or above mine
    ranked.join(rother, col("__rj") >= col("rank"))
      .groupBy(col("key"), col("p"), col("rank"))
      .agg(min(col("__raw")).as("__env"))
      .select(col("key"), col("p"), col("rank"),
        round(least(col("__env"), lit(1.0)).cast(dec8), 6)
          .cast("double").as("p_bh"),
        (least(col("__env"), lit(1.0)) <= q).as("reject"))
      .orderBy(col("key"))
  }

  /** The classical multiplicity-adjustment family over the same per-key
    * p-value panel as [[bhAdjust]] — the FWER side of the correction
    * menu: Bonferroni (`min(1, p·m)` — the blunt bound), Holm's step-down
    * (`max_{j≤i} min(1, (m−j+1)·p₍ⱼ₎)` — uniformly tighter than
    * Bonferroni at the SAME familywise guarantee, the default when any
    * false alarm is expensive), and Benjamini–Yekutieli (BH's envelope
    * inflated by the harmonic constant c(m) = Σ 1/k — FDR control that
    * stays valid under ARBITRARY dependence between the panel's tests,
    * the honest choice when the per-type statistics share a corpus).
    * Read next to [[bhAdjust]]: BH for "which alarms do I triage", Holm
    * for "which do I page on", BY when the tests are entangled.
    *
    * Scale shape and guards IDENTICAL to [[bhAdjust]] (one bounded
    * collect enforces panel width and key uniqueness before anything
    * quadratic): ordinal rank and both envelopes ride triangular joins
    * on the frozen ≤`maxPanel`-row panel (step-UP min for BY, step-DOWN
    * max for Holm); the harmonic c(m) sums DECIMAL(28,10)-staged 1/rank
    * terms over the bounded panel (order-free, engine-exact); every
    * adjusted value forms in fixed double order.
    *
    * Returns one row per key with a non-NULL p:
    * (key, p, rank, p_bonf, p_holm, p_by) — adjusted values at 6dp.
    */
  def padjust(panel: DataFrame, keyCol: String, pCol: String,
              maxPanel: Int = 10000): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val dec10 = org.apache.spark.sql.types.DecimalType(28, 10)
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val base = bridge.freeze(
      panel.select(col(keyCol).cast("string").as("key"),
          col(pCol).cast("double").as("p"))
        .filter(col("p").isNotNull))
    val sizes = base.agg(count(lit(1)), count_distinct(col("key"))).head()
    val (nRows, nKeys) = (sizes.getLong(0), sizes.getLong(1))
    require(nRows <= maxPanel,
      s"padjust: panel has $nRows p-values (> maxPanel=$maxPanel); the " +
        "rank/envelope stages are quadratic in the panel — this is a " +
        "per-test-battery correction, not a per-document one. If the " +
        "panel really is that wide, raise maxPanel explicitly.")
    require(nKeys == nRows,
      s"padjust: ${nRows - nKeys} duplicate key(s) in the panel — the " +
        "ordinal rank assumes one p per key; pre-aggregate duplicates " +
        "before adjusting.")
    val m = base.agg(count(lit(1)).as("__m"))
    val other = base.select(col("key").as("__kj"), col("p").as("__pj"))
    val ranked = bridge.freeze(base.join(other)
      .filter(col("__pj") < col("p") ||
        (col("__pj") === col("p") && col("__kj") <= col("key")))
      .groupBy(col("key"), col("p"))
      .agg(count(lit(1)).as("rank"))
      .crossJoin(broadcast(m)))
    // harmonic constant c(m) = Σ 1/k over the panel's ranks, staged in
    // decimal so the bounded sum is order-free
    val cm = broadcast(ranked.agg(
      sum((lit(1.0) / col("rank").cast("double")).cast(dec10)).as("__cm")))
    val md = col("__m").cast("double")
    val holmRaw = ranked.select(col("rank").as("__rj"),
      ((col("__m") - col("rank") + lit(1L)).cast("double") * col("p"))
        .as("__rawh"))
    val byRaw = ranked.crossJoin(cm)
      .select(col("rank").as("__rj"),
        (col("p") * (md * col("__cm").cast("double")) /
          col("rank").cast("double")).as("__rawby"))
    // Holm: step-DOWN max over ranks at or below mine
    val holmEnv = ranked.join(holmRaw, col("__rj") <= col("rank"))
      .groupBy(col("key")).agg(max(col("__rawh")).as("__envh"))
    // BY: step-UP min over ranks at or above mine
    val byEnv = ranked.join(byRaw, col("__rj") >= col("rank"))
      .groupBy(col("key")).agg(min(col("__rawby")).as("__envby"))
    def r6(x: Column) = round(x.cast(dec8), 6).cast("double")
    ranked.join(holmEnv, Seq("key")).join(byEnv, Seq("key"))
      .select(col("key"), col("p"), col("rank"),
        r6(least(col("p") * md, lit(1.0))).as("p_bonf"),
        r6(least(col("__envh"), lit(1.0))).as("p_holm"),
        r6(least(col("__envby"), lit(1.0))).as("p_by"))
      .orderBy(col("key"))
  }
}
