package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import graft.core.Scans

/** Domain-level curation: aggregate per-domain (per-source) trust signals and
  * curate documents BY their domain's statistics — the RefinedWeb / C4 /
  * Gopher pattern where a document is dropped not for its own content but
  * because its host domain is boilerplate-heavy, low-quality, or blocklisted.
  * (Reference scope: pygrametl has no corpus curation; this extends the
  * engine for training-data pipelines alongside graft.functions.Dedup.)
  *
  * Scale shape: the statistics table is ONE hash aggregation of the corpus
  * down to |domains| rows (map-side combined; domains are ~10^6 even for a
  * web-scale crawl, i.e. broadcastable), and the curation pass is a broadcast
  * equi-join of those rows back onto the scan — the document table itself is
  * never shuffled. Per-document quality stages in DECIMAL(18,8) before the
  * per-domain mean (exact, order-independent summation — the
  * [[Retrieval.unigramLogProb]] discipline), and the duplication rate is a
  * ratio of exact longs, so every domain verdict is engine-reproducible.
  */
object Curation {

  /** Per-domain document cap — the Common-Crawl "at most N pages per host"
    * rule: within each domain, keep the `cap` best documents by `score`
    * (ties to the smaller id) so no single host dominates the corpus
    * regardless of its crawl volume. The complement of [[curateByDomain]]'s
    * quality verdicts: that drops BAD domains, this bounds GOOD ones.
    *
    * Scale shape: ONE domain-keyed ranking window (millions of independent
    * per-domain partitions — the sessionization discipline; a whale domain
    * is exactly what the cap is for, and its partition holds only that
    * domain's rows). No joins, no second pass; the filter drops rows
    * before anything downstream sees them.
    *
    * Returns the kept rows as (idCol, domainCol, rank), rank 1 = best.
    */
  /** PII exposure rates by source — the compliance column of the
    * per-source trust table: email/IP/phone/card hits per thousand
    * documents, per source. A source at 40 emails/1k docs needs a
    * redaction pass (or exclusion) before its text trains anything; this
    * table is what that decision reads. Scan-speed [[Pii]] counting, ONE
    * map-side-combined rollup to |sources| rows, rates decimal-staged.
    *
    * Returns (sourceCol, n_docs, n_email, n_ip, n_phone, n_card,
    * pii_per_1k).
    */
  def piiBySource(df: DataFrame, sourceCol: String, text: Column): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    df.select(col(sourceCol),
        Pii.emailCount(text).as("__e"), Pii.ipv4Count(text).as("__i"),
        Pii.phoneCount(text).as("__p"), Pii.cardCount(text).as("__c"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__e")).as("n_email"), sum(col("__i")).as("n_ip"),
        sum(col("__p")).as("n_phone"), sum(col("__c")).as("n_card"))
      .withColumn("pii_per_1k",
        round(((col("n_email") + col("n_ip") + col("n_phone") + col("n_card"))
            .cast("double") * 1000.0 / col("n_docs"))
          .cast(dec), 4).cast("double"))
  }

  /** Greedy per-source token-budget trim — the selection step after
    * [[mixturePlan]] decides each source's token budget: within every
    * source, keep documents in quality order until the budget is spent
    * (a document is kept iff the tokens consumed BEFORE it are under
    * budget, so the first document always survives and the cut crosses
    * the boundary at most once). Rate-based mixture sampling keeps a
    * random slice; this keeps the BEST slice of each source.
    *
    * Scale shape: ONE source-keyed window (ordered by the ROUNDED score
    * so the order is engine-reproducible, ties to smaller id) computes
    * the running token total — the sessionization discipline, millions of
    * independent per-source partitions, no joins, no second pass.
    *
    * Returns every row as (idCol, sourceCol, n_tokens, score, cum_before,
    * kept).
    */
  def budgetTrim(df: DataFrame, sourceCol: String, idCol: String,
                 tokens: Column, score: Column, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val base = df.select(col(idCol), col(sourceCol),
      tokens.cast("long").as("n_tokens"),
      round(score.cast(dec), 4).cast("double").as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol)).orderBy(col("score").desc, col(idCol).asc)
    base
      .withColumn("cum_before", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("kept", col("cum_before") < budget)
  }

  /** Declared-vs-detected language agreement matrix — crawl metadata lies
    * (mislabeled Content-Language headers, template languages), and a
    * corpus mixed by DECLARED language inherits every lie; this audit
    * crosses the declared label with the n-gram detector
    * ([[TextAnalysis.langId]]) so systematic disagreement (a "French"
    * source detecting 80% English) surfaces before mixing. Languages the
    * heuristic cannot detect read as honest `und` rows rather than false
    * agreement.
    *
    * Scale shape: scan-speed detection, ONE aggregation to the bounded
    * |langs|²-row matrix (frozen — totals and output read it), broadcast
    * per-declared totals. Returns (declared, detected, n, frac, agree).
    */
  def langMismatch(df: DataFrame, declaredCol: String, textCol: String): DataFrame = {
    val pairs = org.apache.spark.sql.graftbridge.Bridge.freeze(
      df.select(col(declaredCol).as("declared"),
          TextAnalysis.langId(col(textCol)).as("detected"))
        .groupBy(col("declared"), col("detected")).agg(count(lit(1)).as("n")))
    val totals = pairs.groupBy(col("declared")).agg(sum(col("n")).as("__tot"))
    pairs.join(broadcast(totals), Seq("declared"))
      .select(col("declared"), col("detected"), col("n"),
        round((col("n").cast("double") / col("__tot"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 4)
          .cast("double").as("frac"),
        (col("declared") === col("detected")).as("agree"))
  }

  /** Cohen's kappa between two boolean document filters — the
    * filter-agreement audit run before swapping a curation rule for a
    * learned classifier (or comparing two annotators' labels): raw
    * agreement `po` flatters filters that both say "keep" to almost
    * everything, so kappa discounts the chance agreement `pe` implied by
    * the marginals — κ ≈ 0 means the expensive filter adds nothing beyond
    * its base rate; κ near 1 means the cheap rule can stand in for it.
    *
    * Scale shape: ONE map-side-combined scan+reduce to the 2×2 confusion
    * row; everything after is arithmetic on five longs. `po`/`pe` are
    * single fixed-order IEEE expressions of exact integer counts, rounded
    * to 6dp BEFORE κ is formed from them, so every engine derives the same
    * κ from the same agreed pieces. Rows where either flag is NULL are
    * excluded (an abstaining rater is not a disagreeing one).
    *
    * Returns one row: (n, n11, n10, n01, n00, po, pe, kappa); pe = 1
    * (both raters constant and equal) reads κ = 0 by convention.
    */
  def raterAgreement(df: DataFrame, flagA: Column, flagB: Column): DataFrame =
    kappaOfCounts(confusionCounts(df, flagA, flagB))

  /** The one-row additive confusion state behind [[raterAgreement]]:
    * (n, n11, n10, n01, n00) — plain count sums, so states from disjoint
    * row sets fold by column-wise addition (the streaming kappa monitor's
    * linear-sketch property).
    */
  def confusionCounts(df: DataFrame, flagA: Column, flagB: Column): DataFrame =
    df.select(flagA.cast("boolean").as("__a"), flagB.cast("boolean").as("__b"))
      .filter(col("__a").isNotNull && col("__b").isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(when(col("__a") && col("__b"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("__a") && !col("__b"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("__a") && col("__b"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("__a") && !col("__b"), 1L).otherwise(0L)).as("n00"))

  /** [[raterAgreement]]'s readout from a [[confusionCounts]] state row. */
  def kappaOfCounts(counts: DataFrame): DataFrame = {
    val dec = DecimalType(18, 8)
    val nD = col("n").cast(DoubleType)
    val po = round(((col("n11") + col("n00")).cast(DoubleType) / nD).cast(dec), 6)
      .cast(DoubleType)
    val pe = round((((col("n11") + col("n10")).cast(DoubleType)
        * (col("n11") + col("n01")).cast(DoubleType)
      + (col("n01") + col("n00")).cast(DoubleType)
        * (col("n10") + col("n00")).cast(DoubleType)) / (nD * nD)).cast(dec), 6)
      .cast(DoubleType)
    counts
      .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
        po.as("po"), pe.as("pe"))
      .withColumn("kappa",
        round(when(col("pe") >= 1.0, lit(0.0))
          .otherwise((col("po") - col("pe")) / (lit(1.0) - col("pe")))
          .cast(dec), 6).cast(DoubleType))
  }

  /** Scott's π and Gwet's AC1 on the same paired filters — the
    * PREVALENCE-robust agreement pair read next to [[raterAgreement]]'s
    * kappa: κ's chance term uses each rater's OWN marginal, so two
    * filters that both keep 95% of a clean corpus score a near-zero κ
    * from near-perfect agreement (the kappa paradox), exactly when a
    * curation pipeline is healthiest. π replaces the chance term with
    * the POOLED marginal (π̄² + (1−π̄)² — one shared trait prevalence),
    * AC1 with 2π̄(1−π̄) (chance-agreement only on the coin-flippable
    * mass), which stays calibrated at extreme keep rates. κ, π, and AC1
    * agreeing is the all-clear; κ low while AC1 is high is the paradox
    * signature, not a real disagreement.
    *
    * Scale shape: the IDENTICAL one-row additive confusion state as
    * kappa/McNemar ([[confusionCounts]] — the
    * [[graft.streaming.Streaming.KappaMonitor]] state, whose
    * `chanceRobustAgreement` readout IS this); everything after the one
    * scan+reduce is fixed-order arithmetic on four longs, with po and
    * both chance terms 6dp-rounded BEFORE the index forms so the labels
    * are engine-stable.
    *
    * Returns one row: (n, po, pe_scott, scott_pi, pe_gwet, gwet_ac1);
    * indexes read 0 when their chance term saturates at 1.
    */
  def chanceRobustAgreement(df: DataFrame, flagA: Column,
                            flagB: Column): DataFrame =
    gwetOfCounts(confusionCounts(df, flagA, flagB))

  /** [[chanceRobustAgreement]]'s readout from a [[confusionCounts]] state
    * row.
    */
  def gwetOfCounts(counts: DataFrame): DataFrame = {
    val dec = DecimalType(18, 8)
    val nD = col("n").cast(DoubleType)
    def r6(x: Column) = round(x.cast(dec), 6).cast(DoubleType)
    val po = r6((col("n11") + col("n00")).cast(DoubleType) / nD)
    // pooled trait prevalence: the mean of the two raters' true shares
    val piBar = ((col("n11") + col("n10")).cast(DoubleType) / nD +
      (col("n11") + col("n01")).cast(DoubleType) / nD) / lit(2.0)
    val peScott = r6(piBar * piBar + (lit(1.0) - piBar) * (lit(1.0) - piBar))
    val peGwet = r6(lit(2.0) * piBar * (lit(1.0) - piBar))
    counts
      .select(col("n"), po.as("po"), peScott.as("pe_scott"),
        peGwet.as("pe_gwet"))
      .select(col("n"), col("po"), col("pe_scott"),
        r6(when(col("pe_scott") >= 1.0, lit(0.0))
          .otherwise((col("po") - col("pe_scott")) /
            (lit(1.0) - col("pe_scott")))).as("scott_pi"),
        col("pe_gwet"),
        r6(when(col("pe_gwet") >= 1.0, lit(0.0))
          .otherwise((col("po") - col("pe_gwet")) /
            (lit(1.0) - col("pe_gwet")))).as("gwet_ac1"))
  }

  /** McNemar's test on the same paired filters — the DIRECTION audit
    * [[raterAgreement]] can't give: kappa says how much two filters
    * agree, McNemar asks whether the disagreement is SYMMETRIC — of the
    * documents the filters split on, does the new classifier
    * systematically keep what the rule drops (a threshold shift, not
    * noise)? z carries the sign (positive = filter A keeps more), the
    * Edwards continuity-corrected χ² (clamped at 0 so b = c can't read a
    * phantom effect) is the alarm statistic. The paired-sample test —
    * a two-proportion z over these columns would wrongly treat the two
    * verdicts on the SAME document as independent samples.
    *
    * Scale shape: the identical one-row additive confusion state as
    * kappa ([[confusionCounts]] — the
    * [[graft.streaming.Streaming.KappaMonitor]] state, whose
    * `disagreement` readout IS this test); everything after the one
    * scan+reduce is fixed-order arithmetic on two longs.
    *
    * Returns one row: (n, n10, n01, z, chi2); both NULL when the filters
    * never disagree (no information about asymmetry in zero discordant
    * pairs).
    */
  def mcnemar(df: DataFrame, flagA: Column, flagB: Column): DataFrame =
    mcnemarOfCounts(confusionCounts(df, flagA, flagB))

  /** Cochran's Q across k paired boolean filters — the k-way
    * generalization of [[mcnemar]] (and the binary sibling of the
    * repeated-measures ANOVA): given k filter verdicts on the SAME
    * documents (heuristic rule, learned classifier, new candidate,
    * license gate…), "do these filters keep at the same rate, accounting
    * for the documents' own keep-ability"? A significant Q (χ² at k−1
    * dof) says at least one filter's rate genuinely differs; run the
    * [[mcnemar]] pairs after it the way Tukey follows ANOVA.
    *
    * Scale shape: ONE map-side-combined scan+reduce to a 1-row additive
    * state (n, ΣR_i, ΣR_i², per-filter totals C_j — the
    * [[graft.streaming.Streaming.CochranMonitor]] state); Q's numerator
    * k·ΣC_j² − (ΣC_j)² and denominator k·ΣR_i − ΣR_i² are EXACT
    * integers, one IEEE divide. Rows where ANY flag is NULL are excluded
    * (Cochran requires complete blocks).
    *
    * Returns one row (k, n, df, q); q is NULL when the denominator
    * degenerates (every row unanimous — no information about rate
    * differences).
    */
  def cochranQ(df: DataFrame, flags: Seq[Column]): DataFrame =
    cochranOfCounts(cochranCounts(df, flags), flags.size)

  /** The 1-row additive state behind [[cochranQ]]:
    * (n, __sr, __sr2, __c0..__c{k−1}) — plain count sums, so states from
    * disjoint row sets fold by column-wise addition.
    */
  def cochranCounts(df: DataFrame, flags: Seq[Column]): DataFrame = {
    require(flags.size >= 2, "cochranQ needs at least two filters")
    val typed = df.select(flags.zipWithIndex.map {
      case (f, i) => f.cast("boolean").as(s"__f$i")
    }: _*).filter(flags.indices.map(i => col(s"__f$i").isNotNull)
      .reduce(_ && _))
    val ri = flags.indices.map(i => when(col(s"__f$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val aggs = Seq(count(lit(1)).as("n"), sum(ri).as("__sr"),
      sum(ri * ri).as("__sr2")) ++
      flags.indices.map(i =>
        sum(when(col(s"__f$i"), 1L).otherwise(0L)).as(s"__c$i"))
    typed.agg(aggs.head, aggs.tail: _*)
  }

  /** Fleiss' kappa across k paired boolean filters — the k-rater
    * AGREEMENT number next to [[cochranQ]]'s rate test: Q asks "do the
    * filters keep at different rates", Fleiss asks "beyond chance, do
    * they agree on WHICH documents to keep" — the k-way generalization
    * of [[raterAgreement]]'s Cohen κ (two raters), the one number that
    * says whether a filter panel is redundant (κ near 1: drop the
    * expensive ones) or genuinely diverse.
    *
    * Scale shape: the IDENTICAL 1-row additive state as [[cochranQ]]
    * ([[cochranCounts]] — the
    * [[graft.streaming.Streaming.CochranMonitor]] state, whose
    * `agreement` readout IS this statistic): for binary categories every
    * per-item agreement term collapses to ΣR_i and ΣR_i², so
    * P̄ = (2ΣR² − 2kΣR + Nk(k−1))/(Nk(k−1)) is one divide of exact
    * integers, P̄e = p̄₁² + p̄₀² in fixed double order, and κ forms from
    * the 6dp-rounded pieces ([[kappaOfCounts]]'s discipline).
    *
    * Returns one row (k, n, p_bar, p_e, kappa); κ reads 0 by convention
    * when P̄e = 1 (unanimous verdicts everywhere — chance explains all).
    */
  def fleissKappa(df: DataFrame, flags: Seq[Column]): DataFrame =
    fleissOfCounts(cochranCounts(df, flags), flags.size)

  /** [[fleissKappa]]'s readout from a [[cochranCounts]] state row. */
  def fleissOfCounts(counts: DataFrame, k: Int): DataFrame = {
    val dec = DecimalType(18, 8)
    val kl = k.toLong
    // P-bar numerator/denominator as exact integers; one IEEE divide
    val num = lit(2L) * col("__sr2") - lit(2L * kl) * col("__sr") +
      col("n") * lit(kl * (kl - 1))
    val den = col("n") * lit(kl * (kl - 1))
    val p1 = col("__sr").cast(DoubleType) /
      (col("n").cast(DoubleType) * lit(k.toDouble))
    val pBar = round((num.cast(DoubleType) / den.cast(DoubleType)).cast(dec), 6)
      .cast(DoubleType)
    val pe = round((p1 * p1 + (lit(1.0) - p1) * (lit(1.0) - p1)).cast(dec), 6)
      .cast(DoubleType)
    counts
      .select(lit(kl).as("k"), col("n"), pBar.as("p_bar"), pe.as("p_e"))
      .withColumn("kappa",
        round(when(col("p_e") >= 1.0, lit(0.0))
          .otherwise((col("p_bar") - col("p_e")) / (lit(1.0) - col("p_e")))
          .cast(dec), 6).cast(DoubleType))
  }

  /** Krippendorff's alpha across k paired boolean filters — the
    * RELIABILITY number that completes the inter-rater family next to
    * [[cochranQ]] (rates differ?) and [[fleissKappa]] (agree beyond
    * chance?): alpha = 1 − D_o/D_e compares observed pairwise
    * disagreement against the disagreement expected from the pooled
    * value distribution WITHOUT replacement — the finite-sample
    * correction kappa lacks, the standard "is this annotation panel
    * usable at all" gate (α ≥ .8 reliable, ≥ .667 tentative).
    *
    * Scale shape: the IDENTICAL 1-row additive state as [[cochranQ]] /
    * [[fleissKappa]] ([[cochranCounts]] — the
    * [[graft.streaming.Streaming.CochranMonitor]] state, whose
    * `alphaReliability` readout IS this statistic). For binary
    * categories: per-item disagreeing ordered pairs sum to
    * 2·(k·ΣR − ΣR²) — exact integers off the state row — so
    * D_o = 2(kΣR − ΣR²)/(n·k(k−1)); the expected coincidence uses ALL
    * n·k votes: D_e = 2·n₁·n₀/((nk)(nk−1)) with n₁ = ΣR (the products
    * staged to DECIMAL(38,0) so 10¹²-document panels cannot overflow a
    * long); alpha forms from the 6dp-rounded D_o/D_e pieces
    * ([[fleissOfCounts]]'s discipline).
    *
    * Returns one row (k, n, d_o, d_e, alpha); alpha NULL when D_e = 0
    * (unanimous votes everywhere, or fewer than two total votes — no
    * variance to be reliable about).
    */
  def krippendorffAlpha(df: DataFrame, flags: Seq[Column]): DataFrame =
    alphaOfCounts(cochranCounts(df, flags), flags.size)

  /** [[krippendorffAlpha]]'s readout from a [[cochranCounts]] state row. */
  def alphaOfCounts(counts: DataFrame, k: Int): DataFrame = {
    val dec = DecimalType(18, 8)
    val big = DecimalType(38, 0)
    val kl = k.toLong
    val doNum = lit(2L) * (lit(kl) * col("__sr") - col("__sr2"))
    val doDen = col("n").cast(big) * lit(kl * (kl - 1))
    val votes = col("n").cast(big) * lit(kl)
    val n1 = col("__sr").cast(big)
    val deNum = lit(2L).cast(big) * n1 * (votes - n1)
    val deDen = votes * (votes - lit(1L).cast(big))
    val dO = round((doNum.cast(DoubleType) / doDen.cast(DoubleType)).cast(dec), 6)
      .cast(DoubleType)
    val dE = round((deNum.cast(DoubleType) / deDen.cast(DoubleType)).cast(dec), 6)
      .cast(DoubleType)
    counts
      .select(lit(kl).as("k"), col("n"), dO.as("d_o"), dE.as("d_e"))
      .withColumn("alpha",
        when(col("d_e") <= 0.0, lit(null).cast(DoubleType))
          .otherwise(round((lit(1.0) - col("d_o") / col("d_e")).cast(dec), 6)
            .cast(DoubleType)))
  }

  /** Vocabulary richness of a text corpus — Chao1 total-vocabulary
    * estimate and the Good–Turing unseen-token mass, the two numbers a
    * tokenizer-training / corpus-sizing decision actually needs: Chao1
    * (bias-corrected, D + f₁(f₁−1)/(2(f₂+1))) estimates how many MORE
    * distinct tokens exist beyond the sample from the singleton/doubleton
    * ratio, and f₁/N estimates the probability the NEXT token drawn is
    * unseen — "is this corpus big enough that the vocabulary has
    * converged".
    *
    * Scale shape: explode → one map-side-combined token-count aggregation
    * (the only shuffle, at distinct-token cardinality, not corpus token
    * count) → a second tiny aggregation of the frequency-of-frequency
    * row; everything downstream is fixed-order arithmetic on five exact
    * integers.
    *
    * Returns one row (n_tokens, distinct_tokens, f1, f2, chao1,
    * gt_unseen) at 6dp.
    */
  def vocabRichness(df: DataFrame, textCol: Column): DataFrame = {
    val dec = DecimalType(18, 8)
    val tf = df
      .select(explode(TextAnalysis.tokens(textCol)).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .groupBy(col("__tok")).agg(count(lit(1)).as("__c"))
    tf.agg(sum(col("__c")).as("n_tokens"),
        count(lit(1)).as("distinct_tokens"),
        sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("f1"),
        sum(when(col("__c") === 2L, 1L).otherwise(0L)).as("f2"))
      .select(col("n_tokens"), col("distinct_tokens"), col("f1"), col("f2"),
        round((col("distinct_tokens").cast(DoubleType) +
          (col("f1") * (col("f1") - lit(1L))).cast(DoubleType) /
            (lit(2.0) * (col("f2") + lit(1L)).cast(DoubleType))).cast(dec), 6)
          .cast(DoubleType).as("chao1"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0L,
          lit(null).cast(DoubleType))
          .otherwise(round((col("f1").cast(DoubleType) /
            col("n_tokens").cast(DoubleType)).cast(dec), 6)
            .cast(DoubleType)).as("gt_unseen"))
  }

  /** Zipf's-law fit of the corpus token-frequency distribution — the
    * power-law companion of [[vocabRichness]]: weighted least squares of
    * ln(frequency) on ln(rank) gives the Zipf slope (natural text reads
    * ≈ −1; templated/boilerplate-heavy corpora flatten toward 0,
    * deduplication failures steepen it) and the fit r² says whether a
    * power law describes the corpus at all — the one-number fingerprint
    * that moves when scraped boilerplate floods a crawl snapshot.
    *
    * Scale shape: explode → ONE map-side-combined token-count
    * aggregation (the only corpus-proportional shuffle, at distinct-token
    * cardinality) → the frequency-of-frequency table (bounded by the
    * number of DISTINCT count values, ≲ √corpus even in theory). Tied
    * ranks collapse to each count-group's midpoint rank (the standard
    * tie treatment) computed by a triangular join on that tiny frozen
    * frame — the [[graft.functions.Stats]] Gini discipline, no
    * unpartitioned window — and the weighted OLS moments are
    * decimal-staged per group BEFORE the order-independent sums.
    *
    * Returns one row (n_tokens, vocab, groups, slope, intercept, r2) at
    * 6dp; slope/intercept/r2 NULL when fewer than 2 distinct frequency
    * values exist (a degenerate corpus has no line to fit).
    */
  def zipfFit(df: DataFrame, textCol: Column): DataFrame = {
    val dec = DecimalType(28, 10)
    val dec8 = DecimalType(18, 8)
    val dec38 = DecimalType(38, 0)
    val tf = df
      .select(explode(TextAnalysis.tokens(textCol)).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .groupBy(col("__tok")).agg(count(lit(1)).as("__c"))
    val coc = org.apache.spark.sql.graftbridge.Bridge.freeze(
      tf.groupBy(col("__c")).agg(count(lit(1)).as("__nk")))
    val higher = coc.select(col("__c").as("__hc"), col("__nk").as("__hnk"))
    // tokens with count c occupy ranks (before, before + nk]; the
    // group's OLS point is the midpoint rank before + (nk + 1)/2
    val ranked = coc.join(higher, col("__hc") > col("__c"), "left")
      .groupBy(col("__c"), col("__nk"))
      .agg(coalesce(sum(col("__hnk")), lit(0L)).as("__before"))
      .select(col("__c"), col("__nk"),
        (col("__before").cast(DoubleType) +
          (col("__nk").cast(DoubleType) + lit(1.0)) / lit(2.0)).as("__r"))
    val x = log(col("__r"))
    val y = log(col("__c").cast(DoubleType))
    val mo = ranked.agg(
      sum(col("__c").cast(dec38) * col("__nk")).cast("long").as("n_tokens"),
      sum(col("__nk")).as("vocab"),
      count(lit(1)).as("groups"),
      sum((col("__nk") * x).cast(dec)).as("__swx"),
      sum((col("__nk") * y).cast(dec)).as("__swy"),
      sum((col("__nk") * x * x).cast(dec)).as("__swxx"),
      sum((col("__nk") * y * y).cast(dec)).as("__swyy"),
      sum((col("__nk") * x * y).cast(dec)).as("__swxy"))
    def d(c: String) = col(c).cast(DoubleType)
    val w = col("vocab").cast(DoubleType)
    val sxx = d("__swxx") - d("__swx") * d("__swx") / w
    val syy = d("__swyy") - d("__swy") * d("__swy") / w
    val slope = (d("__swxy") - d("__swx") * d("__swy") / w) / sxx
    val intercept = d("__swy") / w - slope * d("__swx") / w
    val r2 = slope * slope * sxx / syy
    def r6(c: Column) = round(c.cast(dec8), 6).cast(DoubleType)
    val bad = col("groups") < 2L
    def nn(c: Column) = when(bad, lit(null).cast(DoubleType)).otherwise(r6(c))
    mo.select(col("n_tokens"), col("vocab"), col("groups"),
      nn(slope).as("slope"), nn(intercept).as("intercept"),
      nn(r2).as("r2"))
  }

  /** [[cochranQ]]'s readout from a [[cochranCounts]] state row. */
  def cochranOfCounts(counts: DataFrame, k: Int): DataFrame = {
    val dec = DecimalType(18, 8)
    val sc2 = (0 until k).map(i => col(s"__c$i") * col(s"__c$i"))
      .reduce(_ + _)
    val num = lit(k.toLong) * sc2 - col("__sr") * col("__sr")
    val den = lit(k.toLong) * col("__sr") - col("__sr2")
    counts.select(lit(k.toLong).as("k"), col("n"),
      lit((k - 1).toLong).as("df"),
      when(den <= 0L, lit(null).cast(DoubleType))
        .otherwise(round((lit((k - 1).toDouble) * num.cast(DoubleType)
          / den.cast(DoubleType)).cast(dec), 6).cast(DoubleType)).as("q"))
  }

  /** [[mcnemar]]'s readout from a [[confusionCounts]] state row. */
  def mcnemarOfCounts(counts: DataFrame): DataFrame = {
    val dec = DecimalType(18, 8)
    val disc = col("n10") + col("n01")
    val corr = greatest(abs(col("n10") - col("n01")).cast(DoubleType) - lit(1.0),
      lit(0.0))
    counts.select(col("n"), col("n10"), col("n01"),
      when(disc === 0L, lit(null).cast(DoubleType))
        .otherwise(round(((col("n10") - col("n01")).cast(DoubleType) /
          sqrt(disc.cast(DoubleType))).cast(dec), 6).cast(DoubleType)).as("z"),
      when(disc === 0L, lit(null).cast(DoubleType))
        .otherwise(round((corr * corr / disc.cast(DoubleType)).cast(dec), 6)
          .cast(DoubleType)).as("chi2"))
  }

  /** Per-slice data card — the release-notes table every corpus ships with
    * (datasheets-for-datasets distilled to the slice grain): for each
    * `groupCols` combination (source × language, typically) the document
    * count, token volume, mean quality, and exact-duplicate rate. The
    * one-stop "what am I actually training on" readout: a slice with a
    * 30% dup rate or a quality mean far off its siblings is mis-crawled
    * and shows up here before any model does.
    *
    * Scale shape: per-doc signals (token count, quality, fingerprint) are
    * scan-speed projections; duplicate flags come from ONE fingerprint-
    * keyed aggregation (uniform md5 digests — skew-free shuffle) joined
    * back; the rollup is ONE map-side-combined aggregation to the bounded
    * |slices|-row card. Quality means stage through DECIMAL so the card
    * is engine-reproducible.
    *
    * Returns one row per slice: (groupCols..., n_docs, total_tokens,
    * avg_tokens, mean_quality, dup_docs, dup_rate); a doc is a dup when
    * its normalized-content fingerprint appears more than once CORPUS-wide
    * (cross-slice mirrors count in every slice they touch).
    */
  def dataCard(df: DataFrame, idCol: String, textCol: String,
               groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "dataCard needs at least one group column")
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    // frozen: the narrow (groups, id, tok, q, fp) frame is read by BOTH the
    // fingerprint-count side and the rollup side — unfrozen, the quality
    // regexes and normalization would scan the text corpus twice
    val enriched = org.apache.spark.sql.graftbridge.Bridge.freeze(
      df.select(groupCols.map(col) ++ Seq(
        col(idCol),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("__tok"),
        round(TextAnalysis.qualityScoreRaw(col(textCol)).cast(dec), 4)
          .cast("double").as("__q"),
        TextAnalysis.fingerprint(col(textCol)).as("__fp")): _*))
    val fpCounts = enriched.groupBy(col("__fp")).agg(count(lit(1)).as("__fpc"))
    val dup = when(col("__fpc") > 1, 1L).otherwise(0L)
    enriched.join(fpCounts, Seq("__fp"))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("total_tokens"),
        round((sum(col("__tok")).cast("double") / count(lit(1))).cast(dec), 2)
          .cast("double").as("avg_tokens"),
        round((sum(col("__q").cast(dec)).cast("double") / count(lit(1))).cast(dec), 4)
          .cast("double").as("mean_quality"),
        sum(dup).as("dup_docs"),
        round((sum(dup).cast("double") / count(lit(1))).cast(dec), 4)
          .cast("double").as("dup_rate"))
  }

  /** URL canonicalization — the crawl-frontier dedup key: the same page
    * arrives as `HTTP://Host:80/a/?utm_source=feed&id=7#frag` and
    * `http://host/a?id=7`, and byte-level dedup misses the equivalence
    * entirely. Normalizations (each a plain-regex rewrite both Java and
    * RE2 engines evaluate identically): lowercase scheme+authority, strip
    * default ports (:80/:443), drop the fragment, strip trailing path
    * slashes, and keep only the content-identifying `id` query parameter
    * (tracking params — utm_* and friends — drop with everything else).
    *
    * 100 TB notes: a pure codegen'd `regexp_*` projection, scan speed, no
    * UDF — canonicalize at ingest and every downstream exact-dedup /
    * recrawl-diff stage keys on the result.
    */
  def canonicalUrl(u: Column): Column = {
    val t = trim(u)
    // scheme://authority, lowercased, default ports stripped
    val auth = regexp_replace(
      lower(regexp_extract(t, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)),
      ":(80|443)$", "")
    // path segment (before ? or #), trailing slashes stripped
    val tail = regexp_replace(t, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    val path = regexp_replace(regexp_extract(tail, "^([^?#]*)", 1), "/+$", "")
    // the one content-identifying query param survives, position-free
    val qid = regexp_extract(t, "[?&]id=([0-9]+)", 1)
    concat(auth, path,
      when(qid === "", lit("")).otherwise(concat(lit("?id="), qid)))
  }

  /** Canonical-URL duplicate groups: each distinct canonical form with its
    * variant count and the kept (smallest-id) representative — ONE
    * map-side-combined aggregation over the [[canonicalUrl]] projection.
    * Returns (canonical_url, n_variants, keep_id).
    */
  def urlDupGroups(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.select(col(idCol), canonicalUrl(col(urlCol)).as("canonical_url"))
      .groupBy(col("canonical_url"))
      .agg(count(lit(1)).as("n_variants"), min(col(idCol)).as("keep_id"))

  def capPerDomain(df: DataFrame, domainCol: String, idCol: String,
                   score: Column, cap: Int): DataFrame = {
    require(cap > 0, "cap must be positive")
    Scans.topPerGroup(df, Seq(col(domainCol)), Seq(score.desc, col(idCol).asc), cap, Some("rank"))
      .select(col(idCol), col(domainCol), col("rank"))
  }

  /** Boilerplate n-gram audit — the repeated-template detector behind
    * C4/RefinedWeb-style "remove lines seen on many pages" rules, adapted
    * to token n-grams: every n-gram occurring in at least `minDf` DISTINCT
    * documents, with its document frequency, total occurrence count and
    * corpus fraction. The output IS the boilerplate blocklist a curation
    * pass would subtract.
    *
    * Scale shape: ONE corpus explode feeds a two-level hash aggregation —
    * (ngram, doc) occurrence counts first (map-side combined; bounds any
    * single page's internal repetition to one row), then the (ngram) rollup
    * where `df` is a plain `count` because level one already made docs
    * distinct. No self-joins, no `countDistinct` over the raw explode
    * (which would carry a per-ngram doc-id set through the shuffle). The
    * `minDf` filter bounds the output to genuinely repeated templates; the
    * corpus-size scalar is a broadcast 1-row frame.
    *
    * Returns (ngram, df, occ, frac_docs), df ≥ minDf.
    */
  def boilerplateNgrams(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, minDf: Long = 5): DataFrame = {
    require(n > 0, "n must be positive")
    // tokens materialize into a column FIRST: referencing the tokenization
    // inside the position lambda would re-run the normalize regexes once
    // per gram position (O(len²) regex work per document)
    val toks = col("__t")
    val grams = when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => array_join(slice(toks, i + lit(1), lit(n)), " ")))
    val perDoc = df
      .select(col(idCol).as("__id"), TextAnalysis.tokens(col(textCol)).as("__t"))
      .select(col("__id"), explode(grams).as("ngram"))
      .groupBy(col("ngram"), col("__id")).agg(count(lit(1)).as("__occ"))
    val nDocs = df.select(countDistinct(col(idCol)).as("__n"))
    perDoc.groupBy(col("ngram"))
      .agg(count(lit(1)).as("df"), sum(col("__occ")).as("occ"))
      .filter(col("df") >= minDf)
      .crossJoin(broadcast(nDocs))
      .select(col("ngram"), col("df"), col("occ"),
        round((col("df").cast(DoubleType) / col("__n"))
          .cast(DecimalType(18, 8)), 4).cast(DoubleType).as("frac_docs"))
  }

  /** Cross-source content-overlap matrix: for every pair of sources, the
    * number of distinct word n-gram shingles they share and the Jaccard of
    * their shingle sets — the corpus-composition audit run before mixing
    * crawls/dumps into one training set (two sources with high shingle
    * Jaccard are near-mirrors; weighting both at full rate double-counts
    * their content even when no single document is an exact duplicate).
    *
    * Scale shape: the corpus is touched ONCE — explode (the native one-pass
    * [[Dedup.shingles]]) straight into `collect_set(source)` per shingle
    * (map-side combined, and the set is bounded by |sources| ~ hundreds).
    * That narrow (shingle, sources[]) frame is frozen — NO text, NO
    * per-document rows — and both the per-source sizes and the pair counts
    * derive from its materialized blocks: pairs expand at scan speed with an
    * index-bounded `transform` (each shingle contributes at most |sources|²
    * rows, never corpus-quadratic), replacing the earlier shingle-keyed
    * self-join that re-derived the corpus explode on both sides (~17× wall
    * at 10× data). Sizes for the Jaccard denominator are a |sources|-row
    * aggregation broadcast back. Output is at most |sources|² rows.
    *
    * Returns (source_a, source_b, shared_shingles, jaccard) for pairs with
    * at least one shared shingle, source_a < source_b.
    */
  def sourceOverlap(df: DataFrame, sourceCol: String, textCol: String,
                    n: Int = 3): DataFrame = {
    val grouped = org.apache.spark.sql.graftbridge.Bridge.freeze(
      df.select(col(sourceCol).as("__src"),
          explode(Dedup.shingles(col(textCol), n)).as("__sh"))
        .groupBy(col("__sh"))
        .agg(sort_array(collect_set(col("__src"))).as("__srcs")))
    // distinct shingles per source: each frozen row names each holder once
    val sizes = grouped.select(explode(col("__srcs")).as("__src"))
      .groupBy(col("__src")).agg(count(lit(1)).as("__n"))
    // sorted set -> ordered pairs (a < b) without a join: for element i, pair
    // with every element after it (slice is 1-based; i is the 0-based index)
    val pairs = grouped
      .filter(size(col("__srcs")) > 1)
      .select(explode(flatten(transform(col("__srcs"), (x, i) =>
        transform(
          slice(col("__srcs"), i + lit(2), size(col("__srcs")) - i - lit(1)),
          y => struct(x.as("a"), y.as("b")))))).as("__p"))
      .groupBy(col("__p.a").as("source_a"), col("__p.b").as("source_b"))
      .agg(count(lit(1)).as("shared_shingles"))
    pairs
      .join(broadcast(sizes.select(col("__src").as("source_a"), col("__n").as("__na"))), Seq("source_a"))
      .join(broadcast(sizes.select(col("__src").as("source_b"), col("__n").as("__nb"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared_shingles"),
        round((col("shared_shingles").cast("double") /
            (col("__na") + col("__nb") - col("shared_shingles")))
          .cast(DecimalType(18, 8)), 6).cast("double").as("jaccard"))
  }

  /** Token-budget mixture planning: given target mixture weights per source
    * and a global token budget, compute each source's available token mass,
    * its target share of the budget, what can actually be planned
    * (capped by availability — a low-resource source cannot over-deliver),
    * the keep rate to sample at, and the shortfall the caller must
    * redistribute or accept — the Llama/Gopher-style data-mixing step run
    * BEFORE training, at token grain (the doc-grain draw is
    * [[Sampling.mixtureSample]]; this plans the rates it runs at).
    *
    * Weights are normalized over the sources PRESENT in the corpus, so a
    * weight entry for an absent source redistributes proportionally.
    *
    * Scale shape: ONE corpus pass (map-side-combined sum of the codegen'd
    * token count) down to |sources| rows; everything after is arithmetic on
    * that tiny frame. Ratios stage in DECIMAL so the plan is
    * engine-reproducible.
    *
    * Returns (sourceCol, avail_tokens, target_tokens, planned_tokens,
    * keep_rate, shortfall) ordered by source.
    */
  def mixturePlan(df: DataFrame, sourceCol: String, textCol: String,
                  weights: Map[String, Double], budgetTokens: Long): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ >= 0) &&
      weights.values.sum > 0, "weights must be non-negative and sum > 0")
    val spark = df.sparkSession
    import scala.jdk.CollectionConverters._
    val wdf = spark.createDataFrame(
      weights.toSeq.map { case (s, w) => org.apache.spark.sql.Row(s, w) }.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__wsrc",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("__w",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
    val avail = df.groupBy(col(sourceCol))
      .agg(sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("avail_tokens"))
      .join(broadcast(wdf), col(sourceCol) === col("__wsrc"), "inner")
    // normalize over PRESENT sources: one tiny aggregation, broadcast back.
    // The total is summed in DECIMAL (exact, order-independent — a double
    // sum would vary with partition order) and the share itself is one
    // IEEE double divide+multiply, identical in any engine.
    val wTot = avail.agg(
      sum(col("__w").cast(DecimalType(28, 10))).cast(DoubleType).as("__wt"))
    avail.crossJoin(broadcast(wTot))
      .withColumn("target_tokens",
        floor(col("__w") / col("__wt") * lit(budgetTokens)).cast("long"))
      .withColumn("planned_tokens", least(col("target_tokens"), col("avail_tokens")))
      .withColumn("keep_rate",
        round((col("planned_tokens").cast("double") /
            greatest(col("avail_tokens"), lit(1L)).cast("double"))
          .cast(DecimalType(18, 8)), 6).cast("double"))
      .withColumn("shortfall", col("target_tokens") - col("planned_tokens"))
      .select(col(sourceCol), col("avail_tokens"), col("target_tokens"),
        col("planned_tokens"), col("keep_rate"), col("shortfall"))
  }

  /** Per-domain statistics: document count, mean quality score, exact-dup
    * fraction (1 − distinct content fingerprints / docs — boilerplate and
    * mirror detection), and mean token count.
    *
    * Returns (domainCol, n_docs, mean_quality, dup_frac, mean_tokens).
    */
  def domainStats(df: DataFrame, domainCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val perDoc = df.select(col(domainCol),
      TextAnalysis.qualityScoreRaw(t).cast(DecimalType(18, 8)).as("__q"),
      TextAnalysis.tokenCount(t).cast("long").as("__nt"),
      TextAnalysis.fingerprint(t).as("__fp"))
    def ratio(num: Column, den: Column): Column =
      round((num.cast("double") / den.cast("double")).cast(DecimalType(18, 8)), 4)
        .cast("double")
    perDoc.groupBy(col(domainCol)).agg(
        count(lit(1)).as("__n"),
        sum(col("__q")).as("__sq"),
        countDistinct(col("__fp")).as("__dfp"),
        sum(col("__nt")).as("__st"))
      .select(col(domainCol),
        col("__n").cast("long").as("n_docs"),
        ratio(col("__sq"), col("__n")).as("mean_quality"),
        ratio(col("__n") - col("__dfp"), col("__n")).as("dup_frac"),
        ratio(col("__st"), col("__n")).as("mean_tokens"))
  }

  /** Per-group score calibration: z-normalize a quality score within each
    * group (language, source) so one global threshold treats every slice
    * fairly — the multilingual-curation fix for quality models that score
    * high-resource languages systematically higher. Group moments come from
    * ONE aggregation with DECIMAL-staged sums (Σq and Σq² exact, so
    * mean/std are reproducible one-division doubles); the z-score itself is
    * a broadcast-joined scan-speed expression. Degenerate groups (std 0)
    * calibrate to 0.
    *
    * 100 TB notes: this is a stateless TWO-PASS plan — the score expression
    * evaluates once per corpus pass (moments, then output), and nothing
    * corpus-scale is persisted or shuffled (the moments table is |groups|
    * rows, map-side combined and broadcast back). The alternative — freezing
    * the scored frame so the score evaluates once total — pins the whole
    * corpus (text included) in executor storage and, because localCheckpoint
    * truncates lineage, turns an executor loss into a job failure; at corpus
    * scale, re-running a scan-speed expression is the cheaper and
    * fault-tolerant side of that trade. Callers whose INPUT frame carries
    * expensive lineage should freeze a narrow projection of it themselves
    * before calling.
    *
    * Returns the input plus (group_mean, group_std, z_score).
    */
  def calibrateScores(df: DataFrame, groupCol: String, score: Column): DataFrame = {
    val staged = df.withColumn("__q", score.cast(DecimalType(18, 8)))
    val moments = staged.groupBy(col(groupCol)).agg(
        count(lit(1)).as("__n"), sum(col("__q")).as("__s"),
        sum(col("__q") * col("__q")).as("__s2"))
      .withColumn("group_mean",
        round((col("__s").cast("double") / col("__n").cast("double"))
          .cast(DecimalType(18, 8)), 4).cast("double"))
      .withColumn("group_std",
        round(sqrt(greatest(
          col("__s2").cast("double") / col("__n").cast("double")
            - pow(col("__s").cast("double") / col("__n").cast("double"), 2),
          lit(0.0))).cast(DecimalType(18, 8)), 4).cast("double"))
      .select(col(groupCol), col("group_mean"), col("group_std"))
    staged.join(broadcast(moments), Seq(groupCol))
      .withColumn("z_score",
        round(when(col("group_std") === 0.0, lit(0.0))
          .otherwise((col("__q").cast("double") - col("group_mean")) / col("group_std"))
          .cast(DecimalType(18, 8)), 4).cast("double"))
      .drop("__q")
  }

  /** Corpus snapshot diff — recrawl/reingest change detection: classify
    * every document id across two corpus versions as `added` (new only),
    * `removed` (old only), `changed` (both, content fingerprint differs) or
    * `unchanged`. The document-level CDC a continuously-refreshed training
    * corpus runs before incremental dedup/curation of just the
    * added+changed slice — the same delta discipline the dimension tables
    * apply to rows, lifted to corpus content.
    *
    * Scale shape: each side reduces to (id, md5 fingerprint) at scan speed;
    * the diff is ONE full outer equi-join on the id. No text leaves the
    * scan stage — 100 TB diffs as two fingerprint columns.
    *
    * Returns (idCol, status, old_fp, new_fp).
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("__id"),
      TextAnalysis.fingerprint(col(textCol)).as("old_fp"))
    val n = newDf.select(col(idCol).as("__id"),
      TextAnalysis.fingerprint(col(textCol)).as("new_fp"))
    o.join(n, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("old_fp").isNull, lit("added"))
          .when(col("new_fp").isNull, lit("removed"))
          .when(col("old_fp") =!= col("new_fp"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        col("old_fp"), col("new_fp"))
  }

  /** Token-distribution drift between two corpus snapshots: the per-token
    * contributions `p·ln(p/q)` to KL(new ‖ old) under add-one smoothing
    * over the joint vocabulary — the drift monitor a continuously-refreshed
    * corpus runs after [[snapshotDiff]], surfacing WHICH tokens moved (new
    * boilerplate, a source gone rogue, language mix shifts). Top `k`
    * contributors by signed contribution (a positive contribution = the
    * token is over-represented in the new snapshot).
    *
    * Scale shape: both token streams union with a side tag so ONE
    * aggregation counts both distributions (the [[Retrieval.dsirScore]]
    * pass shape); the 1-row totals broadcast; contributions stage in
    * DECIMAL(18,8) and the cut is a TakeOrdered top-k, never a global sort.
    *
    * Returns (token, c_old, c_new, contrib), contrib rounded to 6.
    */
  def tokenDrift(oldDf: DataFrame, newDf: DataFrame, textCol: String,
                 k: Int = 15): DataFrame = {
    def toks(df: DataFrame, isNew: Boolean) =
      df.select(explode(TextAnalysis.tokens(col(textCol))).as("__tok"),
          lit(isNew).as("__new"))
        .filter(col("__tok") =!= "")
    val counts = toks(oldDf, isNew = false).unionByName(toks(newDf, isNew = true))
      .groupBy(col("__tok")).agg(
        sum(when(!col("__new"), 1L).otherwise(0L)).as("c_old"),
        sum(when(col("__new"), 1L).otherwise(0L)).as("c_new"))
    val stats = counts.agg(sum(col("c_old")).as("__to"),
      sum(col("c_new")).as("__tn"), count(lit(1)).as("__v"))
    counts.crossJoin(broadcast(stats))
      .withColumn("__p", (col("c_new").cast("double") + lit(1.0))
        / (col("__tn").cast("double") + col("__v")))
      .withColumn("__q", (col("c_old").cast("double") + lit(1.0))
        / (col("__to").cast("double") + col("__v")))
      .withColumn("__contrib",
        (col("__p") * log(col("__p") / col("__q"))).cast(DecimalType(18, 8)))
      .orderBy(col("__contrib").desc, col("__tok").asc).limit(k)
      .select(col("__tok").as("token"), col("c_old"), col("c_new"),
        round(col("__contrib"), 6).cast("double").as("contrib"))
  }

  /** Jensen–Shannon divergence between two corpora's token distributions —
    * the SYMMETRIC, bounded ([0, ln 2]) companion to [[tokenDrift]]'s
    * top-k KL contributors: KL answers "which tokens moved and which way";
    * JSD is the single comparable NUMBER for dashboards and gates (no
    * direction to argue about, never infinite, comparable across corpus
    * pairs). Same add-one smoothing over the union vocabulary.
    *
    * Scale shape: both corpora collapse to ONE shared per-token count
    * table (explode + one map-side-combined aggregation — bounded by
    * vocabulary, never tokens); each token's ½p·ln(p/m)+½q·ln(q/m) term
    * evaluates in fixed double order and is staged to DECIMAL(28,12)
    * BEFORE the vocabulary sum, so the token-order-dependent double
    * addition never happens.
    *
    * Returns one row (n_tok_a, n_tok_b, vocab, jsd) at 6dp.
    */
  def jsDivergence(aDf: DataFrame, bDf: DataFrame, textCol: String): DataFrame = {
    val dec = DecimalType(28, 12)
    def toks(df: DataFrame, isB: Boolean) =
      df.select(explode(TextAnalysis.tokens(col(textCol))).as("__tok"),
          lit(isB).as("__b"))
        .filter(col("__tok") =!= "")
    val counts = toks(aDf, isB = false).unionByName(toks(bDf, isB = true))
      .groupBy(col("__tok")).agg(
        sum(when(!col("__b"), 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("__cb"))
    val stats = counts.agg(sum(col("__ca")).as("__ta"),
      sum(col("__cb")).as("__tb"), count(lit(1)).as("__v"))
    counts.crossJoin(broadcast(stats))
      .withColumn("__p", (col("__ca").cast("double") + lit(1.0))
        / (col("__ta").cast("double") + col("__v")))
      .withColumn("__q", (col("__cb").cast("double") + lit(1.0))
        / (col("__tb").cast("double") + col("__v")))
      .withColumn("__m", (col("__p") + col("__q")) / lit(2.0))
      .withColumn("__t", (lit(0.5) * col("__p") * log(col("__p") / col("__m"))
        + lit(0.5) * col("__q") * log(col("__q") / col("__m"))).cast(dec))
      .groupBy(col("__ta"), col("__tb"), col("__v"))
      .agg(sum(col("__t")).as("__jsd"))
      .select(col("__ta").as("n_tok_a"), col("__tb").as("n_tok_b"),
        col("__v").as("vocab"),
        round(col("__jsd").cast(DecimalType(18, 8)), 6).cast("double").as("jsd"))
  }

  /** Total-variation, Hellinger, and Bhattacharyya distances between two
    * corpora's token distributions — the rest of the f-divergence menu
    * next to [[jsDivergence]], because each answers a different drift
    * question: TVD = ½Σ|p−q| is the OPERATIONAL bound ("no classifier
    * can tell the corpora apart more often than TVD above chance" — the
    * number to gate a swap on), Hellinger = √(1−Σ√(pq)) is the metric
    * that scales correctly for RARE tokens (|p−q| under-weights a token
    * going 1e-6 → 1e-4; √p−√q doesn't), and the Bhattacharyya distance
    * −ln Σ√(pq) is the additive-over-independent-slices form
    * classification-error bounds compose with. Same add-one smoothing
    * over the union vocabulary as JSD, so the four numbers share one
    * scale story.
    *
    * Scale shape: IDENTICAL to [[jsDivergence]] — both corpora collapse
    * to ONE shared per-token count table (bounded by vocabulary, never
    * tokens); each token's |p−q| and √(pq) terms evaluate in fixed
    * double order and stage in DECIMAL(28,12) BEFORE the vocabulary sums
    * (order-free); the three readouts are fixed-order arithmetic on the
    * two exact sums (Σ√(pq) ≤ 1 by Cauchy–Schwarz; the 12dp staging can
    * carry it a hair past 1, so both engines clamp identically).
    *
    * Returns one row (n_tok_a, n_tok_b, vocab, tvd, hellinger,
    * bhattacharyya) at 6dp.
    */
  def distributionDistances(aDf: DataFrame, bDf: DataFrame,
                            textCol: String): DataFrame = {
    val dec = DecimalType(28, 12)
    val dec8 = DecimalType(18, 8)
    def toks(df: DataFrame, isB: Boolean) =
      df.select(explode(TextAnalysis.tokens(col(textCol))).as("__tok"),
          lit(isB).as("__b"))
        .filter(col("__tok") =!= "")
    val counts = toks(aDf, isB = false).unionByName(toks(bDf, isB = true))
      .groupBy(col("__tok")).agg(
        sum(when(!col("__b"), 1L).otherwise(0L)).as("__ca"),
        sum(when(col("__b"), 1L).otherwise(0L)).as("__cb"))
    val stats = counts.agg(sum(col("__ca")).as("__ta"),
      sum(col("__cb")).as("__tb"), count(lit(1)).as("__v"))
    def r6(x: Column) = round(x.cast(dec8), 6).cast(DoubleType)
    counts.crossJoin(broadcast(stats))
      .withColumn("__p", (col("__ca").cast("double") + lit(1.0))
        / (col("__ta").cast("double") + col("__v")))
      .withColumn("__q", (col("__cb").cast("double") + lit(1.0))
        / (col("__tb").cast("double") + col("__v")))
      .select(col("__ta"), col("__tb"), col("__v"),
        abs(col("__p") - col("__q")).cast(dec).as("__tv"),
        sqrt(col("__p") * col("__q")).cast(dec).as("__bc"))
      .groupBy(col("__ta"), col("__tb"), col("__v"))
      .agg(sum(col("__tv")).as("__tvs"), sum(col("__bc")).as("__bcs"))
      .select(col("__ta").as("n_tok_a"), col("__tb").as("n_tok_b"),
        col("__v").as("vocab"),
        r6(lit(0.5) * col("__tvs").cast("double")).as("tvd"),
        r6(sqrt(greatest(lit(1.0) - col("__bcs").cast("double"),
          lit(0.0)))).as("hellinger"),
        when(col("__bcs").cast("double") <= 0.0, lit(null).cast("double"))
          .otherwise(r6(greatest(-log(col("__bcs").cast("double")),
            lit(0.0)))).as("bhattacharyya"))
  }

  /** Curate documents by their domain's statistics: a document is kept iff
    * its domain has at least `minDocs` documents, mean quality at least
    * `minMeanQuality`, duplication at most `maxDupFrac`, and is not on the
    * explicit `blocklist`. Rows are annotated, not dropped, so downstream
    * stages (and audits) see WHY each document was cut; filter on `kept` to
    * materialize the cut.
    *
    * Returns the input plus (mean_quality, dup_frac, kept).
    */
  def curateByDomain(df: DataFrame, domainCol: String, textCol: String,
                     minMeanQuality: Double, maxDupFrac: Double,
                     minDocs: Long = 1L,
                     blocklist: Seq[String] = Nil): DataFrame = {
    val stats = domainStats(df, domainCol, textCol)
      .select(col(domainCol), col("n_docs"), col("mean_quality"), col("dup_frac"))
    val blocked = if (blocklist.isEmpty) lit(false)
      else col(domainCol).isin(blocklist.map(lit(_)): _*)
    df.join(broadcast(stats), Seq(domainCol))
      .withColumn("kept",
        col("n_docs") >= minDocs && col("mean_quality") >= minMeanQuality &&
          col("dup_frac") <= maxDupFrac && !blocked)
      .drop("n_docs")
  }

  /** Declarative rule-based curation with a per-rule rejection audit — the
    * "why was each document dropped" report every production filter
    * pipeline ships next to its keep decision (C4's filter-ablation
    * tables): each named rule is a Column predicate (true = VIOLATES);
    * documents are annotated with the FIRST violated rule (rule order =
    * priority) and the kept flag, and the audit rolls up per-rule drop
    * counts plus the kept row.
    *
    * Scale shape: every rule evaluates in the same scan-speed projection
    * (one pass, zero shuffles for the annotation); the audit is ONE
    * map-side-combined aggregation to |rules|+1 rows. Rules compose from
    * the library's scan-speed signals ([[graft.functions.TextAnalysis]]
    * quality/repetition/langid) without materializing any of them.
    *
    * Returns (annotated, audit): `annotated` = input + (violated_rule
    * string-or-null, kept boolean); `audit` = (rule, n_docs) ordered by
    * rule with 'kept' as the final row.
    */
  def ruleCurate(df: DataFrame,
                 rules: Seq[(String, Column)]): (DataFrame, DataFrame) = {
    require(rules.nonEmpty, "ruleCurate needs at least one rule")
    val firstViolated = rules.reverse.foldLeft(lit(null).cast("string")) {
      case (acc, (name, pred)) => when(pred, lit(name)).otherwise(acc)
    }
    val annotated = df.withColumn("violated_rule", firstViolated)
      .withColumn("kept", col("violated_rule").isNull)
    val audit = annotated
      .groupBy(coalesce(col("violated_rule"), lit("kept")).as("rule"))
      .agg(count(lit(1)).as("n_docs"))
    (annotated, audit)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data"):
    * score every document with the unigram-LM log-probability proxy
    * ([[Retrieval.unigramLogProb]]), then split EACH language's own score
    * distribution into head / middle / tail at the `qLow` and `qHigh`
    * histogram quantiles — per-group thresholds, because a fluent
    * low-resource-language page scores worse in absolute log-prob than
    * mediocre English, and a global cut would discard whole languages
    * (the same fairness argument as [[calibrateScores]]).
    *
    * Thresholds come from [[Stats.groupedHistogramQuantiles]] (ONE bin
    * aggregation per group, never a per-group sort), and the bucket label
    * compares each document's own INTEGER bin against the two picked
    * threshold bins — integer compares, no float-boundary ambiguity, so
    * the labeling is engine-reproducible. Empty documents (no tokens) are
    * excluded before the distribution is formed — CCNet drops them
    * upstream, and their 0.0 sentinel score would otherwise top every
    * language's head.
    *
    * 100 TB notes: the LM scoring pass is the corpus-touching work (explode
    * + two keyed aggregations, the [[Retrieval.unigramLogProb]] shape); the
    * scored frame freezes once and is reused for thresholds AND labeling,
    * the per-group threshold table is |groups|×2 rows broadcast back, and
    * the label itself is a scan-speed expression — the corpus never
    * shuffles again after scoring.
    *
    * Returns (idCol, groupCol, n_tokens, avg_logprob, bucket) with bucket ∈
    * head | middle | tail.
    */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        groupCol: String, width: Double = 0.005,
                        qLow: Double = 0.33, qHigh: Double = 0.66): DataFrame = {
    require(width > 0 && qLow < qHigh, "width positive, qLow below qHigh")
    val scored = org.apache.spark.sql.graftbridge.Bridge.freeze(
      Retrieval.unigramLogProb(docs, idCol, textCol)
        .join(docs.select(col(idCol), col(groupCol)), Seq(idCol))
        .filter(col("n_tokens") > 0)
        .withColumn("__bin", floor(col("avg_logprob") / width).cast("long")))
    val picks = Stats.groupedHistogramQuantiles(scored, groupCol, "avg_logprob",
        width, Seq(qLow, qHigh))
      .groupBy(col(groupCol)).agg(
        min(when(col("q") === qLow, col("bin"))).as("__b_lo"),
        min(when(col("q") === qHigh, col("bin"))).as("__b_hi"))
    scored.join(broadcast(picks), Seq(groupCol))
      .select(col(idCol), col(groupCol), col("n_tokens"), col("avg_logprob"),
        when(col("__bin") <= col("__b_lo"), "tail")
          .when(col("__bin") <= col("__b_hi"), "middle")
          .otherwise("head").as("bucket"))
  }
}
