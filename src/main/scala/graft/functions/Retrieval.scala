package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Scans

/** Corpus-level text scoring for training-data curation and retrieval:
  * BM25 ranked search and unigram language-model log-probability (the
  * KenLM-style perplexity-proxy quality filter).
  *
  * Both are two-aggregation plans — a corpus-statistics pass (token df /
  * counts, map-side combined) and a per-document scoring pass — with the
  * statistics table equi-joined back on the token. Every transcendental
  * enters through `ln` of an exactly-reproducible double ratio, and per-term
  * contributions are staged in DECIMAL(18,8) before summation so the
  * per-document total is exact and order-independent — the same discipline
  * as the PQ asymmetric-distance sums, which is what lets an external SQL
  * engine reproduce the scores bit-for-bit.
  */
object Retrieval {

  /** BM25 top-k retrieval (Robertson–Spärck Jones; the Lucene-style
    * `ln(1 + (N-df+0.5)/(df+0.5))` idf that never goes negative):
    * rank documents for a bag of query terms.
    *
    * Scale shape: the token stream is filtered to the query terms BEFORE any
    * aggregation (predicate pushdown on the exploded tokens — candidate set
    * is query-proportional, not corpus-proportional); document lengths and
    * corpus totals come from one scan-speed aggregation each; df and the
    * 1-row stats are broadcast; the final top-k is `orderBy(...).limit(k)`
    * — Spark's TakeOrderedAndProject, a per-partition heap + driver merge,
    * never a global sort or an unpartitioned window.
    *
    * Returns (doc_id-named idCol, score, n_terms) — `score` rounded at 4dp
    * off the exact decimal sum, ordered by (exact score desc, id asc).
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val lens = docs.select(col(idCol).as("__did"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("__dl"))
    val stats = lens.agg(count(lit(1)).as("__n"), sum(col("__dl")).as("__sumdl"))
    val tf = docs.select(col(idCol).as("__did"),
        explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
      .filter(col("__tok").isin(queryTerms.map(lit(_)): _*))
      .groupBy(col("__did"), col("__tok")).agg(count(lit(1)).as("__tf"))
    val dfTab = tf.groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
    val perTerm = tf.join(lens, Seq("__did"))
      .join(broadcast(dfTab), Seq("__tok"))
      .crossJoin(broadcast(stats))
      .withColumn("__idf",
        log((col("__n").cast("double") - col("__df") + lit(0.5))
          / (col("__df") + lit(0.5)) + lit(1.0)))
      .withColumn("__s",
        (col("__idf") * (col("__tf") * lit(k1 + 1.0))
          / (col("__tf") + lit(k1) * (lit(1.0 - b)
            + lit(b) * (col("__dl").cast("double")
              / (col("__sumdl").cast("double") / col("__n")))))))
      .withColumn("__sd", col("__s").cast(DecimalType(18, 8)))
    perTerm.groupBy(col("__did"))
      .agg(sum(col("__sd")).as("__score"), count(lit(1)).as("n_terms"))
      .orderBy(col("__score").desc, col("__did").asc)
      .limit(k)
      .select(col("__did").as(idCol),
        round(col("__score"), 4).cast("double").as("score"), col("n_terms"))
  }

  /** Query-likelihood retrieval with Dirichlet smoothing — the
    * language-modeling ranker next to [[bm25TopK]] (Zhai & Lafferty's
    * standard form): score(q,d) = Σ_t ln((tf + μ·P(t|C)) / (|d| + μ)).
    * Where BM25's missing terms contribute nothing, Dirichlet smoothing
    * scores EVERY document on EVERY in-corpus query term (a missing term
    * costs the collection prior shrunk by the document's length), which is
    * what makes it the standard first-stage ranker for verbose queries.
    *
    * Scale shape: the decomposition
    * `score = Σ_{t∈q∩d} ln(1 + tf·T/(μ·cf_t)) + Σ_{t∈q} ln(μ·cf_t/T)
    *  − |q|·ln(|d| + μ)` makes the per-document work SPARSE again — the
    * first sum runs only over the query-term-filtered token stream (the
    * [[bm25TopK]] candidate discipline), the second is a broadcast 1-row
    * query constant, the third is scan-speed arithmetic on the doc-length
    * table — so every document gets its full smoothed score without a
    * dense |docs|×|q| pass. Query terms absent from the corpus drop (their
    * smoothed probability is 0 — standard). Per-term lns stage in
    * DECIMAL(18,8) so per-document totals are exact and order-independent;
    * top-k is TakeOrderedAndProject.
    *
    * Returns (idCol, score, n_hit) — score 4dp, n_hit = query terms
    * present in the document; ordered by (exact score desc, id asc).
    */
  def queryLikelihoodTopK(docs: DataFrame, idCol: String, textCol: String,
                          queryTerms: Seq[String], k: Int = 10,
                          mu: Double = 1000.0): DataFrame = {
    require(queryTerms.nonEmpty && mu > 0, "need query terms and mu > 0")
    val dec = DecimalType(18, 8)
    val lens = docs.select(col(idCol).as("__did"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("__dl"))
    val stats = broadcast(lens.agg(sum(col("__dl")).as("__T")))
    val qtoks = docs.select(col(idCol).as("__did"),
        explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
      .filter(col("__tok").isin(queryTerms.map(lit(_)): _*))
    val cf = qtoks.groupBy(col("__tok")).agg(count(lit(1)).as("__cf"))
    // 1-row query constant: Σ_t ln(μ·cf/T) and the in-corpus term count
    val qc = broadcast(cf.crossJoin(stats).agg(
      count(lit(1)).as("__nq"),
      coalesce(sum(log(lit(mu) * col("__cf").cast("double")
        / col("__T").cast("double")).cast(dec)), lit(0).cast(dec)).as("__qc")))
    val present = qtoks.groupBy(col("__did"), col("__tok"))
      .agg(count(lit(1)).as("__tf"))
      .join(broadcast(cf), Seq("__tok"))
      .crossJoin(stats)
      .select(col("__did"),
        log(col("__tf").cast("double") * col("__T").cast("double")
          / (lit(mu) * col("__cf").cast("double")) + lit(1.0))
          .cast(dec).as("__sd"))
      .groupBy(col("__did"))
      .agg(sum(col("__sd")).as("__m"), count(lit(1)).as("__nhit"))
    lens.join(present, Seq("__did"), "left").crossJoin(qc)
      .select(col("__did"),
        (coalesce(col("__m"), lit(0).cast(dec)) + col("__qc")
          - (col("__nq").cast("double")
            * log(col("__dl").cast("double") + lit(mu))).cast(dec))
          .as("__score"),
        coalesce(col("__nhit"), lit(0L)).as("n_hit"))
      .orderBy(col("__score").desc, col("__did").asc)
      .limit(k)
      .select(col("__did").as(idCol),
        round(col("__score"), 4).cast("double").as("score"), col("n_hit"))
  }

  /** Unigram LM log-probability scoring (the cheap KenLM-perplexity stand-in
    * curation filters cut on): train add-one-smoothed unigram counts over
    * the corpus itself, score each document by its mean token log-prob
    * `avg ln((C(w)+1)/(T+V))` — low (very negative) means rare/garbled
    * tokens, high means fluent in-distribution text.
    *
    * Scale shape: the count table is one map-side-combined token
    * aggregation; scoring equi-joins it back on the token (AQE picks
    * broadcast when the vocabulary is small). Per-token log-probs stage in
    * DECIMAL(18,8) so the per-document sum is exact; zero-token documents
    * score 0.0 by convention.
    *
    * Returns (idCol, n_tokens, avg_logprob).
    */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("__did"),
        explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
    val counts = toks.groupBy(col("__tok")).agg(count(lit(1)).as("__c"))
    val stats = counts.agg(sum(col("__c")).as("__t"), count(lit(1)).as("__v"))
    val scored = toks.join(counts, Seq("__tok"))
      .crossJoin(broadcast(stats))
      .withColumn("__lp",
        log((col("__c").cast("double") + lit(1.0))
          / (col("__t").cast("double") + col("__v"))).cast(DecimalType(18, 8)))
      .groupBy(col("__did"))
      .agg(count(lit(1)).as("n_tokens"),
        // exact decimal sum → one double division → decimal-staged rounding
        // (decimal/bigint division TYPES diverge across engines; double
        // division is IEEE-identical everywhere)
        round((sum(col("__lp")).cast("double") / count(lit(1)))
          .cast(DecimalType(18, 8)), 4).cast("double").as("avg_logprob"))
    docs.select(col(idCol).as("__did")).join(scored, Seq("__did"), "left")
      .select(col("__did").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("avg_logprob"), lit(0.0)).as("avg_logprob"))
  }

  /** Shannon entropy of each document's own token distribution,
    * `H = −Σ_t (c_t/n)·ln(c_t/n)` in nats — the information-density quality
    * signal: degenerate/boilerplate text scores near 0, varied prose near
    * ln(n); repetition loops that fool length/stopword filters collapse it.
    *
    * Scale shape: explode → (doc, token) count aggregation → per-document
    * sum, both shuffles keyed by the document id (the [[tfidfKeywords]]
    * pass shape), LINEAR in document length — never a per-row quadratic
    * array scan. Per-token terms stage in DECIMAL(18,8): exact,
    * order-independent summation, engine-reproducible. Empty docs score 0.
    *
    * Returns (idCol, n_tokens, entropy).
    */
  def tokenEntropyScores(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("__did"),
        explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
    val tf = toks.groupBy(col("__did"), col("__tok")).agg(count(lit(1)).as("__c"))
    val n = tf.groupBy(col("__did")).agg(sum(col("__c")).as("__n"))
    val scored = tf.join(n, Seq("__did"))
      .withColumn("__term",
        ((col("__c").cast("double") / col("__n").cast("double"))
          * log(col("__c").cast("double") / col("__n").cast("double")))
          .cast(DecimalType(18, 8)))
      .groupBy(col("__did"))
      .agg(max(col("__n")).as("n_tokens"),
        round((-sum(col("__term"))).cast(DecimalType(18, 8)), 4)
          .cast("double").as("entropy"))
    docs.select(col(idCol).as("__did")).join(scored, Seq("__did"), "left")
      .select(col("__did").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("entropy"), lit(0.0)).as("entropy"))
  }

  /** Bigram language-model scoring with stupid backoff (Brants et al. 2007,
    * "Large Language Models in Machine Translation"): train on the rows
    * where `isTrain` holds, score EVERY document by its mean per-transition
    * log-probability. A seen bigram scores `ln(c(a,b) / c(a·))` (exact
    * count ratio, c(a·) = times `a` starts a bigram); an unseen one backs
    * off to `ln(0.4 · (c(b)+1)/(T+V))` — the add-one unigram of
    * [[unigramLogProb]] scaled by the classic 0.4. Held-out docs (the
    * isTrain=false slice) exercise the backoff; self-scored corpora never
    * would. The stronger perplexity-proxy quality filter: boilerplate and
    * word-salad separate much harder under transition probabilities than
    * under unigrams.
    *
    * Scale shape: ONE bigram aggregation (+ its prefix re-aggregation, on
    * the already-tiny count table) and ONE unigram aggregation train the
    * model; scoring equi-joins the count tables back on the bigram/token.
    * Per-transition logs stage in DECIMAL(18,8) — exact, order-independent
    * summation. Docs with fewer than 2 tokens score 0.0.
    *
    * Returns (idCol, n_transitions, avg_logprob).
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                    isTrain: Column): DataFrame = {
    val pairs = docs.select(col(idCol).as("__did"), isTrain.as("__tr"),
        explode(TextAnalysis.tokenPairs(col(textCol))).as("__bg"))
      .withColumn("__a", substring_index(col("__bg"), " ", 1))
      .withColumn("__b", substring_index(col("__bg"), " ", -1))
    // the bigram count table is frozen (vocabulary-sized) and the PREFIX
    // counts re-aggregate from it (round 16): Σ_b count(a,b) = count(a·),
    // exactly the old per-row prefix aggregation — which re-tokenized the
    // whole corpus for a second time just to count prefixes
    val bgCounts = org.apache.spark.sql.graftbridge.Bridge.freeze(
      pairs.filter(col("__tr"))
        .groupBy(col("__bg")).agg(count(lit(1)).as("__cab")))
    val prefCounts = bgCounts
      .groupBy(substring_index(col("__bg"), " ", 1).as("__a"))
      .agg(sum(col("__cab")).as("__ca"))
    val uniCounts = docs.filter(isTrain)
      .select(explode(TextAnalysis.tokens(col(textCol))).as("__b"))
      .filter(col("__b") =!= "")
      .groupBy(col("__b")).agg(count(lit(1)).as("__cb"))
    val stats = uniCounts.agg(sum(col("__cb")).as("__t"), count(lit(1)).as("__v"))
    val scored = pairs
      .join(bgCounts, Seq("__bg"), "left")
      .join(prefCounts, Seq("__a"), "left")
      .join(uniCounts, Seq("__b"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("__lp",
        when(col("__cab").isNotNull && col("__ca").isNotNull,
          log(col("__cab").cast("double") / col("__ca").cast("double")))
          .otherwise(log(lit(0.4) * (coalesce(col("__cb"), lit(0L)).cast("double") + lit(1.0))
            / (col("__t").cast("double") + col("__v"))))
          .cast(DecimalType(18, 8)))
      .groupBy(col("__did"))
      .agg(count(lit(1)).as("n_transitions"),
        round((sum(col("__lp")).cast("double") / count(lit(1)))
          .cast(DecimalType(18, 8)), 4).cast("double").as("avg_logprob"))
    docs.select(col(idCol).as("__did")).join(scored, Seq("__did"), "left")
      .select(col("__did").as(idCol),
        coalesce(col("n_transitions"), lit(0L)).as("n_transitions"),
        coalesce(col("avg_logprob"), lit(0.0)).as("avg_logprob"))
  }

  /** DSIR-style importance scoring (Data Selection via Importance
    * Resampling, arXiv:2302.03169, reduced to hashed-unigram features over
    * the shared vocabulary): train two add-one-smoothed unigram models —
    * the TARGET distribution (rows where `isTarget` holds, e.g. the
    * wiki-like or in-domain slice) and the RAW distribution (the whole
    * corpus) — and score every document by its mean per-token
    * log-importance `ln p_t(w) − ln p_r(w)`. Positive means the document
    * looks more like the target than like the corpus average; `kept`
    * selects those, the deterministic stand-in for DSIR's importance
    * resampling draw.
    *
    * Scale shape: ONE token aggregation computes both models' counts
    * (the target count is a conditional sum in the same pass), the 1-row
    * totals broadcast, and scoring equi-joins the count table back on the
    * token. Per-token log-ratios stage in DECIMAL(18,8) — the
    * [[unigramLogProb]] discipline — so the per-document mean is exact and
    * engine-reproducible. Empty documents score 0.0 and are not kept.
    *
    * Returns (idCol, n_tokens, dsir_score, kept).
    */
  def dsirScore(docs: DataFrame, idCol: String, textCol: String,
                isTarget: Column): DataFrame = {
    val toks = docs.select(col(idCol).as("__did"), isTarget.as("__tgt"),
        explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
    val counts = toks.groupBy(col("__tok")).agg(
      count(lit(1)).as("__cr"),
      sum(when(col("__tgt"), 1L).otherwise(0L)).as("__ct"))
    val stats = counts.agg(sum(col("__cr")).as("__tr"), sum(col("__ct")).as("__tt"),
      count(lit(1)).as("__v"))
    val scored = toks.join(counts, Seq("__tok"))
      .crossJoin(broadcast(stats))
      .withColumn("__lr",
        (log((col("__ct").cast("double") + lit(1.0))
            / (col("__tt").cast("double") + col("__v")))
          - log((col("__cr").cast("double") + lit(1.0))
            / (col("__tr").cast("double") + col("__v"))))
          .cast(DecimalType(18, 8)))
      .groupBy(col("__did"))
      .agg(count(lit(1)).as("n_tokens"),
        round((sum(col("__lr")).cast("double") / count(lit(1)))
          .cast(DecimalType(18, 8)), 4).cast("double").as("dsir_score"))
    docs.select(col(idCol).as("__did")).join(scored, Seq("__did"), "left")
      .select(col("__did").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("dsir_score"), lit(0.0)).as("dsir_score"),
        (coalesce(col("dsir_score"), lit(0.0)) > 0.0).as("kept"))
  }

  /** TF-IDF keyword extraction: the `perDoc` highest-scoring terms of every
    * document, `tfidf = tf · ln((N+1)/(df+1))` with document frequency from
    * the corpus. The canonical per-document topical-term summary (salient
    * vocabulary for clustering labels, index keys, data cards).
    *
    * Scale shape: tf is one (doc, token) hash aggregation (map-side
    * combined); df derives from tf with a second token-keyed aggregation;
    * the top-`perDoc` cut is a window partitioned BY DOCUMENT — millions of
    * independent tiny windows, never an unpartitioned sort. Ranking order
    * is the decimal-staged score (desc) then the term (asc), so ties are
    * deterministic on every engine.
    *
    * Returns (idCol, term, tf, tfidf, rank).
    */
  /** PMI collocations: the corpus's top word pairs by pointwise mutual
    * information, `ln(P(ab) / (P(a)·P(b)))` — the collocation extractor
    * ("new york", "machine learning") that separates structural phrases
    * from frequency accidents; a `minCount` floor keeps the PMI estimate
    * out of its low-count noise regime.
    *
    * Scale shape: unigram and bigram counts are two explode-shaped
    * map-side-combined aggregations; the probability join is keyed on the
    * VOCABULARY (bigrams join their two unigram rows — vocab-sized frames,
    * not corpus-sized); totals are one-row broadcasts; the final cut is a
    * TakeOrdered top-k. The PMI evaluates in ONE fixed operation order —
    * `(cnt·Nu·Nu) / (Nbi·ca·cb)` staged through doubles, IEEE-identical
    * `ln` — so scores are engine-reproducible.
    *
    * Returns (pair, cnt, pmi) — top `topK` by PMI (desc), ties by pair.
    */
  def collocations(docs: DataFrame, textCol: String, minCount: Long = 5,
                   topK: Int = 50): DataFrame = {
    // the unigram count table feeds TWO probability joins plus the token
    // total; frozen so the tokens-explode corpus aggregation runs once, not
    // once per consumer (the table itself is only vocabulary-sized)
    val uni = org.apache.spark.sql.graftbridge.Bridge.freeze(
      docs.select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok")).agg(count(lit(1)).as("__cu")))
    val totals = broadcast(uni.agg(sum(col("__cu")).as("__nu")))
    // ONE bigram aggregation feeds both the minCount-filtered table and the
    // total (sum over the unfiltered counts equals the raw pair count) — a
    // second corpus explode just to count pairs would be a full wasted scan
    // at 100 TB. The vocabulary-sized count table is frozen (materialized)
    // because exchange reuse can't kick in here: the unigram join pushes
    // inferred split() constraints into only the filtered branch, so the two
    // subtrees never canonicalize equal.
    val biAll = org.apache.spark.sql.graftbridge.Bridge.freeze(
      docs.select(explode(TextAnalysis.tokenPairs(col(textCol))).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("cnt")))
    val bi = biAll.filter(col("cnt") >= minCount)
    val biTotals = broadcast(biAll.agg(sum(col("cnt")).as("__nb")))
    bi.withColumn("__a", split(col("pair"), " ").getItem(0))
      .withColumn("__b", split(col("pair"), " ").getItem(1))
      .join(uni.select(col("tok").as("__a"), col("__cu").as("__ca")), Seq("__a"))
      .join(uni.select(col("tok").as("__b"), col("__cu").as("__cb")), Seq("__b"))
      .crossJoin(totals).crossJoin(biTotals)
      .select(col("pair"), col("cnt"),
        round(log((col("cnt").cast("double") * col("__nu") * col("__nu"))
            / (col("__nb").cast("double") * col("__ca") * col("__cb")))
          .cast(DecimalType(18, 8)), 4).cast("double").as("pmi"))
      .orderBy(col("pmi").desc, col("pair").asc).limit(topK)
  }

  /** Vocabulary-growth (Heaps-law) curve: documents are bucketed by id into
    * ingestion-order slices of `bucketDocs`, and each bucket reports the
    * token occurrences it adds, the NEW distinct types it introduces (types
    * whose first occurrence falls in the bucket), and the running totals —
    * the vocabulary-saturation audit run before committing to a tokenizer
    * vocab size, and a dedup smell test (a corpus whose curve goes flat
    * early is template-heavy).
    *
    * Scale shape: ONE corpus explode aggregated per (type) to its first
    * bucket and per (bucket) to its occurrence mass — both map-side
    * combined; everything after runs on |buckets|- and vocabulary-sized
    * frames, and the running totals come from a window over the
    * |buckets|-row frame (never over tokens). Exact long arithmetic
    * throughout — engine-reproducible by construction.
    *
    * Returns (bucket, n_tokens, new_types, cum_tokens, cum_types)
    * ordered by bucket; `bucket` = floor(id / bucketDocs).
    */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
                  bucketDocs: Int = 50): DataFrame = {
    require(bucketDocs > 0, "bucketDocs must be positive")
    val toks = docs.select(
        floor(col(idCol).cast("long") / bucketDocs).cast("long").as("bucket"),
        explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
    // one shuffle to (type, first bucket); the per-bucket mass aggregation
    // reuses the same exploded child, which Spark's exchange reuse cannot
    // collapse here — but both are map-side-combined single aggregations of
    // one scan each, and the scan is the narrow (bucket, token) projection
    val firstSeen = toks.groupBy(col("__tok"))
      .agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("new_types"))
    val mass = toks.groupBy(col("bucket")).agg(count(lit(1)).as("n_tokens"))
    // buckets scale with |corpus|/bucketDocs — NOT config-bounded, so the
    // running totals go through the distributed two-pass scan, never an
    // unpartitioned window (exact: long sums are associative)
    graft.core.Scans.cumulative(
        mass.join(firstSeen, Seq("bucket"), "left")
          .select(col("bucket"), col("n_tokens"),
            coalesce(col("new_types"), lit(0L)).as("new_types")),
        "bucket", Seq("n_tokens", "new_types"))
      .select(col("bucket"), col("n_tokens"), col("new_types"),
        col("cum_n_tokens").as("cum_tokens"),
        col("cum_new_types").as("cum_types"))
  }

  /** Tokenizer-vocabulary coverage audit: per-group (e.g. per-language)
    * out-of-vocabulary rate against the corpus's own top-`vocabSize` token
    * vocabulary — the fairness check run before freezing a tokenizer vocab
    * (a vocab trained on the majority language starves the tail languages;
    * their OOV rate is the evidence).
    *
    * Scale shape: ONE corpus explode collapses to the frozen
    * (group, token, cnt) table; the vocabulary is a TakeOrdered top-k of
    * its token rollup (broadcast back — vocabularies are ≤ a few 100k
    * entries by construction), and the per-group rates are one aggregation
    * of the vocabulary-sized frame. The corpus is never re-scanned and
    * never shuffled beyond the count table.
    *
    * Returns (groupCol, n_tokens, n_oov, oov_rate).
    */
  def oovRate(docs: DataFrame, textCol: String, groupCol: String,
              vocabSize: Int): DataFrame = {
    require(vocabSize > 0, "vocabSize must be positive")
    val lt = org.apache.spark.sql.graftbridge.Bridge.freeze(
      docs.select(col(groupCol), explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
        .filter(col("__tok") =!= "")
        .groupBy(col(groupCol), col("__tok")).agg(count(lit(1)).as("__cnt")))
    val vocab = lt.groupBy(col("__tok")).agg(sum(col("__cnt")).as("__c"))
      .orderBy(col("__c").desc, col("__tok").asc).limit(vocabSize)
      .select(col("__tok"), lit(1).as("__in"))
    lt.join(broadcast(vocab), Seq("__tok"), "left")
      .groupBy(col(groupCol))
      .agg(sum(col("__cnt")).as("n_tokens"),
        sum(when(col("__in").isNull, col("__cnt")).otherwise(0L)).as("n_oov"))
      .select(col(groupCol), col("n_tokens"), col("n_oov"),
        round((col("n_oov").cast("double") / col("n_tokens"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 6)
          .cast("double").as("oov_rate"))
  }

  /** Log-odds-ratio keyness between a target slice of the corpus and the
    * rest — the corpus-comparison question TF-IDF can't answer ("which
    * tokens CHARACTERIZE the English docs / the kept set / this source,
    * against everything else"): per token, lo = ln((a+½)/(A−a+½)) −
    * ln((b+½)/(B−b+½)) with Haldane's ½ smoothing so zero counts stay
    * finite — the standard keyness statistic of corpus linguistics, and
    * the audit a mixture re-weighting or a filter change is judged by
    * (what vocabulary did the change promote).
    *
    * Scale shape: ONE token explode to the (token, target?) count table
    * (map-side combined), two broadcast totals, the formula per surviving
    * token, TakeOrdered top-k — no shuffle beyond the one count
    * aggregation. `minCount` drops the long tail whose smoothed odds are
    * noise.
    *
    * Returns topK rows (token, cnt_target, cnt_rest, log_odds) by
    * keyness-for-the-target descending (ties by token).
    */
  def keyness(docs: DataFrame, textCol: String, isTarget: Column,
              topK: Int = 20, minCount: Long = 5): DataFrame = {
    require(topK > 0 && minCount >= 0, "need topK > 0, minCount >= 0")
    val dec8 = DecimalType(18, 8)
    val counts = org.apache.spark.sql.graftbridge.Bridge.freeze(
      docs.select(isTarget.as("__t"),
          explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
        .filter(col("__tok") =!= "")
        .groupBy(col("__tok"))
        .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("cnt_target"),
          sum(when(!col("__t"), 1L).otherwise(0L)).as("cnt_rest")))
    val tot = counts.agg(sum(col("cnt_target")).as("__ta"),
      sum(col("cnt_rest")).as("__tb"))
    counts.filter(col("cnt_target") + col("cnt_rest") >= minCount)
      .crossJoin(broadcast(tot))
      .select(col("__tok").as("token"), col("cnt_target"), col("cnt_rest"),
        round((log((col("cnt_target").cast("double") + lit(0.5)) /
            ((col("__ta") - col("cnt_target")).cast("double") + lit(0.5))) -
          log((col("cnt_rest").cast("double") + lit(0.5)) /
            ((col("__tb") - col("cnt_rest")).cast("double") + lit(0.5))))
          .cast(dec8), 6).cast("double").as("log_odds"))
      .orderBy(col("log_odds").desc, col("token").asc)
      .limit(topK)
  }

  def tfidfKeywords(docs: DataFrame, idCol: String, textCol: String,
                    perDoc: Int = 3): DataFrame = {
    val tf = docs.select(col(idCol).as("__did"),
        explode(TextAnalysis.tokens(col(textCol))).as("__tok"))
      .filter(col("__tok") =!= "")
      .groupBy(col("__did"), col("__tok")).agg(count(lit(1)).as("tf"))
    // tf already holds one row per (doc, token): token-keyed row count IS df
    val dfTab = tf.groupBy(col("__tok")).agg(count(lit(1)).as("__df"))
    val nDocs = tf.select(col("__did")).distinct().agg(count(lit(1)).as("__n"))
    val scored = tf.join(dfTab, Seq("__tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("__sd",
        (col("tf").cast("double")
          * log((col("__n").cast("double") + lit(1.0))
            / (col("__df").cast("double") + lit(1.0))))
          .cast(DecimalType(18, 8)))
    Scans.topPerGroup(scored, Seq(col("__did")), Seq(col("__sd").desc, col("__tok").asc),
        perDoc, Some("rank"))
      .select(col("__did").as(idCol), col("__tok").as("term"), col("tf"),
        round(col("__sd"), 4).cast("double").as("tfidf"),
        col("rank").cast("long").as("rank"))
  }

  /** ROUGE-2 overlap scoring for a pair set (e.g. the decontamination
    * report: how strong is each flagged train/bench overlap, the evidence a
    * curation pipeline attaches before dropping a training document).
    * Clipped-bigram ROUGE: `clip = Σ_g min(c_a(g), c_b(g))`,
    * precision = clip/|A|, recall = clip/|B|, and F1 collapses to the exact
    * integer ratio `2·clip/(|A|+|B|)` — every score is ONE double division
    * of exact longs, IEEE-identical on every engine, no floating summation
    * anywhere.
    *
    * Scale shape: docs are semi-joined to the pair ids BEFORE bigrams are
    * built (gram work is pair-proportional, not corpus-proportional);
    * per-doc bigram counts aggregate once and both pair sides equi-join the
    * same table on (id, gram). Pairs with no shared bigram, or with a side
    * shorter than one bigram, score 0.0. The pair set is frozen up front
    * (eager localCheckpoint): it appears four times in the plan (id
    * collection, clip join, final join), and when it arrives as an
    * expensive subplan — e.g. [[graft.functions.Dedup.contamination]]'s
    * corpus-wide winnowing — freezing turns four recomputations of that
    * subplan into one.
    *
    * Returns (aId, bId, rouge2_p, rouge2_r, rouge2_f).
    */
  def rouge2(pairs: DataFrame, aId: String, bId: String,
             docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val p = org.apache.spark.sql.graftbridge.Bridge.freeze(
      pairs.select(col(aId).cast("long").as("__ida"),
        col(bId).cast("long").as("__idb")))
    val ids = p.select(col("__ida").as("__did"))
      .union(p.select(col("__idb"))).distinct()
    val cand = docs.select(col(idCol).cast("long").as("__did"),
        col(textCol).as("__t"))
      .join(ids, Seq("__did"), "left_semi")
    val bg = cand.select(col("__did"),
        explode(TextAnalysis.tokenPairs(col("__t"))).as("__g"))
      .groupBy(col("__did"), col("__g")).agg(count(lit(1)).as("__c"))
    val clip = p
      .join(bg.select(col("__did").as("__ida"), col("__g"), col("__c").as("__ca")),
        Seq("__ida"))
      .join(bg.select(col("__did").as("__idb"), col("__g"), col("__c").as("__cb")),
        Seq("__idb", "__g"))
      .groupBy(col("__ida"), col("__idb"))
      .agg(sum(least(col("__ca"), col("__cb"))).as("__clip"))
    val totals = bg.groupBy(col("__did")).agg(sum(col("__c")).as("__tot"))
    def ratio(num: Column, den: Column): Column =
      round(when(coalesce(den, lit(0L)) === 0L, lit(0.0))
        .otherwise(num.cast("double") / den.cast("double"))
        .cast(DecimalType(18, 8)), 4).cast("double")
    p.join(clip, Seq("__ida", "__idb"), "left")
      .join(totals.select(col("__did").as("__ida"), col("__tot").as("__ta")),
        Seq("__ida"), "left")
      .join(totals.select(col("__did").as("__idb"), col("__tot").as("__tb")),
        Seq("__idb"), "left")
      .withColumn("__cl", coalesce(col("__clip"), lit(0L)))
      .select(col("__ida").as(aId), col("__idb").as(bId),
        ratio(col("__cl"), col("__ta")).as("rouge2_p"),
        ratio(col("__cl"), col("__tb")).as("rouge2_r"),
        ratio(lit(2L) * col("__cl"),
          coalesce(col("__ta"), lit(0L)) + coalesce(col("__tb"), lit(0L)))
          .as("rouge2_f"))
  }

  /** 1-based dense ranks for a TOP-K result list, ordered by `scoreCol`
    * descending with ties broken by ascending id — via a count-better
    * self-join on the (≤ k-row, broadcast) list instead of an unpartitioned
    * `row_number` window, which would plan the single-partition sort this
    * codebase bans even for small frames (the operator contract shouldn't
    * depend on the caller's k staying small).
    *
    * Returns (idCol, rankName).
    */
  def rankByScore(df: DataFrame, idCol: String, scoreCol: String,
                  rankName: String = "rank"): DataFrame = {
    val l = df.select(col(idCol).cast("long").as("__rid"), col(scoreCol).as("__s"))
    val r = l.select(col("__rid").as("__rid2"), col("__s").as("__s2"))
    l.join(broadcast(r),
        col("__s2") > col("__s") ||
          (col("__s2") === col("__s") && col("__rid2") < col("__rid")), "left")
      .groupBy(col("__rid"))
      .agg((count(col("__rid2")) + 1).cast("int").as(rankName))
      .select(col("__rid").as(idCol), col(rankName))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) — the
    * standard hybrid-retrieval merge: combine a lexical ranking (BM25) and
    * a vector ranking (ANN cosine) into one list by summing `1/(k0+rank)`
    * per system, with documents missing from a list contributing 0. Rank
    * fusion needs no score calibration across systems — exactly why RRF is
    * the default fusion in production RAG stacks.
    *
    * Both inputs are top-k lists — bounded, broadcastable — so fusion costs
    * ONE full-outer equi-join of two tiny frames regardless of corpus size;
    * the corpus-scale work already happened inside the retrievers. The two
    * reciprocal terms are fixed-order double arithmetic staged through
    * decimal rounding: engine-reproducible.
    *
    * Returns (doc_id, rank_a, rank_b, rrf): the fused top `k`, rrf
    * descending with id tie-break.
    */
  def rrfFuse(a: DataFrame, aId: String, aRank: String,
              b: DataFrame, bId: String, bRank: String,
              k0: Int = 60, k: Int = 20): DataFrame = {
    val la = a.select(col(aId).cast("long").as("__id"), col(aRank).as("rank_a"))
    val lb = b.select(col(bId).cast("long").as("__id"), col(bRank).as("rank_b"))
    def term(r: Column): Column =
      when(r.isNotNull, lit(1.0) / (lit(k0.toDouble) + r.cast("double")))
        .otherwise(lit(0.0))
    la.join(lb, Seq("__id"), "full_outer")
      .select(col("__id").as("doc_id"), col("rank_a"), col("rank_b"),
        round((term(col("rank_a")) + term(col("rank_b")))
          .cast(DecimalType(18, 8)), 6).cast("double").as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc).limit(k)
  }
}
