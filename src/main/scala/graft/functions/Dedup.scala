package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Joins.{bucketPairs, capBuckets}
import graft.core.Scans.topPerGroup

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: every variant is shuffle-partitioned on a bucket key
  * (fingerprint / LSH band / simhash chunk), so candidate generation is a
  * hash-shuffle + within-bucket pair join — never an all-pairs cross join.
  * Hot-path hashing runs in native Catalyst expressions
  * (graft.plans.NativeExpressions); SimHash and sign-LSH derive from md5
  * prefixes so the external DuckDB oracle reproduces them exactly.
  */
object Dedup {

  /** word n-gram shingles of the normalized text (distinct; native one-pass
    * expression — see graft.plans.NgramShingles)
    */
  def shingles(text: Column, n: Int = 3): Column =
    graft.plans.NativeFunctions.ngramShingles(TextAnalysis.tokens(text), n)

  /** Exact dedup: keep the first document (min orderCol) per identical
    * normalized content; hash-groupBy on the md5 fingerprint — one shuffle
    * keyed by digest, no skew (digests are uniform). Deliberately a window,
    * not `min_by(struct(entire row))`: a struct-valued aggregation buffer is
    * immutable, which forces SortAggregate — the same per-partition sort as
    * the window plus per-update row copies (measured 2.4× slower on the
    * composed pipelines), while the narrow-buffer map-side-combine win never
    * materializes.
    */
  def exact(df: DataFrame, textCol: String, orderCol: String): DataFrame =
    topPerGroup(df.withColumn("__fp", TextAnalysis.fingerprint(col(textCol))),
      Seq(col("__fp")), Seq(col(orderCol).asc), 1).drop("__fp")

  /** MinHash signature: k permutations approximated by k seeded hashes;
    * sig[i] = min over shingles of xxhash64(shingle, i). One pass, pure
    * higher-order functions.
    */
  def minhashSignature(shingleCol: Column, k: Int = 64): Column =
    graft.plans.NativeFunctions.minhashSignature(shingleCol, k)

  /** LSH band keys: hash each of `bands` contiguous signature slices. Two
    * docs sharing any band key are candidates. b bands of r rows tune the
    * S-curve: p(candidate) = 1-(1-j^r)^b.
    */
  def lshBandKeys(sigCol: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(b, slice(sigCol, b * rows + 1, lit(rows))))

  /** rows per band; a remainder would leave signature positions unused,
    * and bands > k empty slices that put the whole corpus in one bucket */
  private def bandRows(k: Int, bands: Int): Int = {
    require(bands > 0 && k % bands == 0, s"bands ($bands) must be positive and divide k ($k)")
    k / bands
  }

  /** MinHash+LSH near-duplicate pairs with exact Jaccard verification.
    *
    * Pipeline: shingle → signature → explode band keys → shuffle on
    * (band, key) → within-bucket id-ordered pair join → distinct candidate
    * pairs → verify true Jaccard on the shingle sets.
    *
    * Returns (idA, idB, jaccard) with idA < idB and jaccard >= threshold.
    *
    * 100 TB notes: the bucket join is an equi shuffle join on the band key;
    * huge buckets (degenerate content) are capped by `maxBucket` to bound
    * the quadratic pair blow-up — the classic guard in web-scale dedup.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, k: Int = 64, bands: Int = 16,
                   threshold: Double = 0.7, maxBucket: Int = 2000): DataFrame = {
    val rows = bandRows(k, bands)
    // Signatures are consumed by three downstream plans (banding, and both
    // sides of the verification join): persist so the (HOF-interpreted,
    // non-codegen) signature computation runs exactly once per document.
    // The repartition also breaks single-file inputs into parallel tasks —
    // signature cost is per-row CPU, so spread it across all cores.
    val spark = df.sparkSession
    val parallelism = spark.sparkContext.defaultParallelism * 2
    // Materialize ONLY the compact signatures (id + k longs + band keys) —
    // localCheckpoint, not persist, so blocks release on GC. The shingle
    // sets (large string arrays) are NOT materialized: they are recomputed
    // later just for the few candidate pairs that survive the signature
    // prefilter — at scale, signatures are the thing worth shipping, raw
    // shingles are not.
    val sigs = org.apache.spark.sql.graftbridge.Bridge.freeze(
      df.select(col(idCol), shingles(col(textCol), n).as("__sh"))
        .repartition(parallelism, col(idCol))
        .select(col(idCol), minhashSignature(col("__sh"), k).as("__sig"))
        .withColumn("__bands", lshBandKeys(col("__sig"), bands, rows)))

    val exploded = sigs.select(col(idCol), posexplode(col("__bands")).as(Seq("__b", "__bk")))
    val candidates = bucketPairs(exploded, Seq("__b", "__bk"), idCol, maxBucket = maxBucket)
      .select(col("id_a"), col("id_b")).distinct()

    // Verification prefilter: the signature match fraction is an unbiased
    // estimate of Jaccard with sd <= 1/(2*sqrt(k)); cutting at threshold/2
    // keeps every true pair (>= 6 sigma at k=64) while skipping the exact
    // shingle-set intersection for the hopeless bulk of candidates.
    val sg = sigs.select(col(idCol), col("__sig"))
    val prefiltered = candidates
      .join(sg.select(col(idCol).as("id_a"), col("__sig").as("__siga")), Seq("id_a"))
      .join(sg.select(col(idCol).as("id_b"), col("__sig").as("__sigb")), Seq("id_b"))
      .filter(graft.plans.NativeFunctions.sigMatchFraction(col("__siga"), col("__sigb")) >= threshold / 2)
      .select(col("id_a"), col("id_b"))

    // exact Jaccard only for survivors: shingle the candidate docs on demand
    val candIds = prefiltered
      .select(explode(array(col("id_a"), col("id_b"))).as(idCol)).distinct()
    val candSh = df.join(candIds, Seq(idCol), "left_semi")
      .select(col(idCol), shingles(col(textCol), n).as("__sh"))
    val verified = prefiltered
      .join(candSh.select(col(idCol).as("id_a"), col("__sh").as("__sha")), Seq("id_a"))
      .join(candSh.select(col(idCol).as("id_b"), col("__sh").as("__shb")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("__sha"), col("__shb"))).cast("double") /
          size(array_union(col("__sha"), col("__shb"))).cast("double"))
      .filter(col("jaccard") >= threshold)

    verified.select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Persistable MinHash index of a corpus: (id, signature, band keys).
    * Build once, store as a table, and match every incoming batch against it
    * with [[minhashAgainstIndex]] — the signatures are the only state the
    * index carries (compact: id + k longs + band keys), never raw text.
    */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, k: Int = 64, bands: Int = 16): DataFrame = {
    val rows = bandRows(k, bands)
    df.select(col(idCol), shingles(col(textCol), n).as("__sh"))
      .select(col(idCol), minhashSignature(col("__sh"), k).as("__sig"))
      .withColumn("__bands", lshBandKeys(col("__sig"), bands, rows))
  }

  /** Incremental near-dup detection: match an INCOMING batch against an
    * existing corpus — the production shape for continuous ingestion, where
    * the corpus is 100 TB and the batch is small. Candidates come from an
    * equi-join of the batch's band keys against the corpus index (shuffle
    * proportional to the BATCH, with the corpus side pre-bucketable by band
    * key); the signature prefilter and exact-Jaccard verification then run
    * only on survivors, recomputing shingles for just those corpus docs.
    * Pass a pre-built [[minhashIndex]] of the corpus via `index` to skip
    * re-signing the corpus each batch (the steady-state path); omitted, the
    * index is derived from `corpus` inline.
    *
    * Returns (new_id, match_id, jaccard) with jaccard >= threshold.
    */
  def minhashAgainstIndex(corpus: DataFrame, incoming: DataFrame,
                          idCol: String, textCol: String,
                          n: Int = 3, k: Int = 64, bands: Int = 16,
                          threshold: Double = 0.7, maxBucket: Int = 2000,
                          index: Option[DataFrame] = None,
                          incomingIndex: Option[DataFrame] = None): DataFrame = {
    // A caller-supplied index/incomingIndex is used AS-IS — the steady-state
    // caller (MinHashIndexDedup) already materializes its state tables, and
    // re-freezing the accreted corpus index here would re-write O(corpus)
    // state on EVERY batch. An inline-derived side is still frozen because
    // both are consumed by two plans (banding + the signature prefilter)
    // and the HOF signature computation must run once per document.
    val idx = index.getOrElse(org.apache.spark.sql.graftbridge.Bridge.freeze(
      minhashIndex(corpus, idCol, textCol, n, k, bands)))
    val inc = incomingIndex.getOrElse(org.apache.spark.sql.graftbridge.Bridge.freeze(
      minhashIndex(incoming, idCol, textCol, n, k, bands)))

    val idxB = idx.select(col(idCol).as("__idc"),
      posexplode(col("__bands")).as(Seq("__b", "__bk")))
    val incB = inc.select(col(idCol).as("__idn"),
      posexplode(col("__bands")).as(Seq("__b", "__bk")))
    // cap degenerate corpus buckets (boilerplate content), counted ONLY
    // over the buckets this batch probes: the broadcast semi-join on the
    // batch's (band, key) set keeps the window's shuffle batch-proportional
    // instead of O(corpus) per micro-batch, and each probed bucket still
    // counts its FULL size, so every kept/dropped verdict is unchanged.
    val probed = broadcast(incB.select(col("__b"), col("__bk")).distinct())
    val idxCapped = capBuckets(idxB.join(probed, Seq("__b", "__bk"), "left_semi"),
      Seq("__b", "__bk"), maxBucket)

    val candidates = incB.join(idxCapped, Seq("__b", "__bk"))
      .filter(col("__idn") =!= col("__idc"))
      .select(col("__idn"), col("__idc")).distinct()

    val prefiltered = candidates
      .join(inc.select(col(idCol).as("__idn"), col("__sig").as("__sign")), Seq("__idn"))
      .join(idx.select(col(idCol).as("__idc"), col("__sig").as("__sigc")), Seq("__idc"))
      .filter(graft.plans.NativeFunctions.sigMatchFraction(col("__sign"), col("__sigc")) >= threshold / 2)
      .select(col("__idn"), col("__idc"))

    // exact Jaccard for survivors only: shingle just the implicated docs
    val newSh = incoming.join(prefiltered.select(col("__idn").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("__idn"), shingles(col(textCol), n).as("__shn"))
    val corpSh = corpus.join(prefiltered.select(col("__idc").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("__idc"), shingles(col(textCol), n).as("__shc"))
    prefiltered
      .join(newSh, Seq("__idn")).join(corpSh, Seq("__idc"))
      .withColumn("jaccard",
        size(array_intersect(col("__shn"), col("__shc"))).cast("double") /
          size(array_union(col("__shn"), col("__shc"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("__idn").as("new_id"), col("__idc").as("match_id"),
        round(col("jaccard"), 4).as("jaccard"))
  }

  /** SimHash: 60-bit locality-sensitive fingerprint. Each token votes ±1 on
    * every bit of its md5-derived 60-bit hash; the sign of each bit-sum is
    * the fingerprint bit. Native single-pass expression — no explode, no
    * shuffle — and md5-based, so the SQL oracle reproduces it.
    */
  def simhash(text: Column): Column =
    graft.plans.NativeFunctions.simhash64(TextAnalysis.tokens(text))

  /** Hamming distance between two simhashes via their bit expansion. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: band the 64 bits into 4×16-bit chunks — any
    * pair within `maxHamming` (< 4) must share at least one exact chunk
    * (pigeonhole), so bucketing on chunks finds all of them with an equi
    * shuffle join; verify with bit_count.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    val spark = df.sparkSession
    val withFp = org.apache.spark.sql.graftbridge.Bridge.freeze(
      df.select(col(idCol), simhash(col(textCol)).as("__fp"))
        .repartition(spark.sparkContext.defaultParallelism * 2, col(idCol)))
      // frozen clean leaf, GC-released — unlike persist (see minhashPairs)
    val chunks = withFp.select(col(idCol), col("__fp"),
      posexplode(transform(sequence(lit(0), lit(3)),
        i => call_function("shiftrightunsigned", col("__fp"), i * 16).bitwiseAND(0xFFFFL))).as(Seq("__c", "__ck")))
    bucketPairs(chunks, Seq("__c", "__ck"), idCol, Seq("__fp"))
      .select(col("id_a"), col("id_b"), hamming64(col("__fp_a"), col("__fp_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Winnowed rolling-hash document fingerprints (Schleimer/Wilkerson/Aiken
    * winnowing, the MOSS scheme): hash every positional token k-gram, slide a
    * `window` over the hash sequence and keep each window's minimum — a
    * sparse, position-robust fingerprint SET. Two documents sharing a run of
    * at least window+k-1 tokens are guaranteed to share a fingerprint, so
    * PARTIAL overlap (contained boilerplate, concatenated documents) is
    * detectable where whole-document hashing sees nothing.
    *
    * Hashes are md5-derived (low 60 bits), so the external SQL oracle
    * reproduces every fingerprint bit-for-bit. Native single-pass expression
    * (graft.plans.WinnowFingerprints): one digest per gram in a tight loop —
    * the HOF formulation interpreted every lambda per element and was the
    * bottleneck of the whole suite on long documents.
    */
  def winnowedFingerprints(text: Column, k: Int = 4, window: Int = 4): Column =
    graft.plans.NativeFunctions.winnowFingerprints(TextAnalysis.tokens(text), k, window)

  /** Partial-overlap near-dup pairs by shared winnowed fingerprints: explode
    * the fingerprint sets, cap degenerate fingerprints (boilerplate chunks
    * present in more than `maxDocsPerFp` documents, [[graft.core.Joins.capBuckets]]),
    * self-join on the fingerprint ([[graft.core.Joins.bucketPairs]]), and
    * keep pairs sharing at least `minShared`. One shuffle keyed by
    * fingerprint — the exact-dedup plan shape, never all-pairs.
    */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 4, window: Int = 4,
                  minShared: Int = 5, maxDocsPerFp: Int = 100): DataFrame = {
    // fingerprint cost is per-row CPU: spread single-file inputs across all
    // cores (same rationale as minhashPairs); the downstream window shuffle
    // is reused by both join sides, so hashing runs exactly once per doc
    val parallelism = df.sparkSession.sparkContext.defaultParallelism * 2
    val fps = df.select(col(idCol), col(textCol))
      .repartition(parallelism, col(idCol))
      .select(col(idCol),
        explode(winnowedFingerprints(col(textCol), k, window)).as("__fp"))
    bucketPairs(fps, Seq("__fp"), idCol, maxBucket = maxDocsPerFp)
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Benchmark decontamination: training documents sharing at least
    * `minShared` winnowed fingerprints with any benchmark document — the
    * cross-dataset containment check run before training (a benchmark answer
    * embedded in a longer training document is a PARTIAL overlap, invisible
    * to whole-document dedup). Same plan shape as [[winnowPairs]]: explode
    * fingerprints on both sides, cap degenerate fingerprints on the
    * benchmark side, one equi-shuffle join on the fingerprint.
    */
  def contamination(train: DataFrame, trainId: String, trainText: String,
                    bench: DataFrame, benchId: String, benchText: String,
                    k: Int = 4, window: Int = 4, minShared: Int = 5,
                    maxDocsPerFp: Int = 100): DataFrame =
    contaminationAgainstIndex(train, trainId, trainText,
      benchFingerprintIndex(bench, benchId, benchText, k, window, maxDocsPerFp),
      k, window, minShared)

  /** [[contamination]]'s benchmark side as a standalone capped fingerprint
    * index (bench_id, __fp) — build it ONCE and reuse across incoming
    * training batches (the streaming
    * [[graft.streaming.Streaming.ContaminationMonitor]] freezes it at
    * construction; the benchmark is fixed, so per-batch work never
    * re-fingerprints it).
    */
  def benchFingerprintIndex(bench: DataFrame, benchId: String, benchText: String,
                            k: Int = 4, window: Int = 4,
                            maxDocsPerFp: Int = 100): DataFrame = {
    val parallelism = bench.sparkSession.sparkContext.defaultParallelism * 2
    val fps = bench.select(col(benchId).as("bench_id"), col(benchText).as("__t"))
      .repartition(parallelism, col("bench_id"))
      .select(col("bench_id"), explode(winnowedFingerprints(col("__t"), k, window)).as("__fp"))
    capBuckets(fps, Seq("__fp"), maxDocsPerFp)
  }

  /** [[contamination]]'s match stage against a pre-built
    * [[benchFingerprintIndex]] — per-call work is proportional to the
    * TRAIN side (fingerprint explode + one equi-join on the fingerprint).
    */
  def contaminationAgainstIndex(train: DataFrame, trainId: String,
                                trainText: String, index: DataFrame,
                                k: Int = 4, window: Int = 4,
                                minShared: Int = 5): DataFrame = {
    val parallelism = train.sparkSession.sparkContext.defaultParallelism * 2
    val tf = train.select(col(trainId).as("train_id"), col(trainText).as("__t"))
      .repartition(parallelism, col("train_id"))
      .select(col("train_id"), explode(winnowedFingerprints(col("__t"), k, window)).as("__fp"))
    tf.join(index, Seq("__fp"))
      .groupBy(col("train_id"), col("bench_id")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Connected components over a near-duplicate pair set — the clustering
    * step that turns pairwise evidence (minhashPairs / simhashPairs /
    * winnowPairs output) into per-document keep/drop decisions.
    *
    * Size-gated, like Spark's own broadcast-join gate: `freezeCounted`
    * already reports the exact (deduplicated, symmetrized) edge count for
    * free, so when the pair set fits the `localEdgeGate` the components are
    * solved in one pass of path-compressed union-find on the driver — the
    * pair set of a near-dup pass is SMALL relative to the corpus (only
    * near-duplicates appear), so even a 100 TB corpus usually lands here.
    * Above the gate, iterative distributed min-label propagation: each node
    * adopts the smallest label among itself and its neighbors until
    * fixpoint, converging in O(component diameter) rounds.
    *
    * 100 TB notes: the distributed round is one equi-shuffle join (edges ×
    * labels on the node key) into one hash aggregation over the tagged
    * union — two shuffles, no all-pairs work. Label state is
    * re-materialized per round (Bridge.freeze) so lineage stays flat across
    * iterations, and the changed-flag rides the frozen blocks so fixpoint
    * detection is a block-read, not another shuffle. Min-label converges in
    * O(component diameter) rounds — near-dup graphs are shallow, so that is
    * usually 2-3 rounds; if a whale component (diameter in the hundreds) is
    * still moving after `starAfter` rounds, the loop contracts the graph by
    * its current labels and finishes with [[starComponents]]' alternating
    * large-star/small-star rewrite, which converges geometrically
    * (O(log diameter) rounds). All paths compute the identical fixpoint
    * (smallest id per component), so neither the gate nor the switch ever
    * changes results.
    *
    * Returns (node, label): every document that appears in a pair, labeled
    * by the smallest document id reachable from it.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 50,
                          localEdgeGate: Long = 4L << 20,
                          starAfter: Int = 8): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val fwd = pairs.select(col(idA).cast("long").as("src"), col(idB).cast("long").as("dst"))
    // symmetrize by exploding both orientations out of ONE pass — a
    // union of two branches would evaluate the (expensive) upstream pair
    // pipeline once per branch
    val (edges, eCount) = bridge.freezeCounted(
      fwd.select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst")).distinct())
    if (eCount <= localEdgeGate) return localComponents(edges)
    var labels = bridge.freeze(edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")))
    var iter = 0
    var converged = eCount == 0
    while (!converged && iter < maxIter && iter < starAfter) {
      // next(n) = min(label(n), min over incoming neighbors' labels): the
      // node's own tagged row and its neighbor rows meet in ONE hash
      // aggregation, so a round is join + agg (two shuffles), and the
      // changed flag is derived inside the same pass from the tagged min
      val own = labels.select(col("node"), col("label"), lit(true).as("__orig"))
      val nbr = edges.join(labels.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("label"), lit(false).as("__orig"))
      val next = bridge.freeze(own.unionByName(nbr).groupBy(col("node")).agg(
        min(col("label")).as("label"),
        min(when(col("__orig"), col("label"))).as("__own"))
        .select(col("node"), col("label"),
          when(col("label") < col("__own"), 1L).otherwise(0L).as("__chg")))
      // labels only ever decrease, so fixpoint == zero changed rows
      converged = next.agg(sum("__chg")).head.getLong(0) == 0
      labels = next.select(col("node"), col("label"))
      iter += 1
    }
    if (!converged && iter < maxIter) {
      // Still moving after `starAfter` rounds ⇒ a high-diameter component.
      // Contract the graph by the current labels (connectivity-preserving,
      // and every component's min is itself a label since its own label
      // never moves) and finish with the geometric star rewrite.
      val la = labels.select(col("node").as("src"), col("label").as("__la"))
      val lb = labels.select(col("node").as("dst"), col("label").as("__lb"))
      val contracted = edges.join(la, "src").join(lb, "dst")
        .select(col("__la").as("src"), col("__lb").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
      val (starLabels, _) = starComponents(contracted, maxIter - iter)
      labels = labels
        .join(starLabels.select(col("node").as("label"), col("label").as("__sl")),
          Seq("label"), "left")
        .select(col("node"), coalesce(col("__sl"), col("label")).as("label"))
    }
    labels
  }

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC 2014) — the
    * high-diameter finisher [[connectedComponents]] switches to when
    * min-label propagation is still moving after its opening rounds. Each
    * large-star hangs every node's larger neighbors onto its neighborhood
    * minimum; each small-star rewires the smaller neighbors the same way —
    * components contract geometrically, so a path of diameter d stars out
    * in O(log d) rounds where plain propagation needs d. Every step is one
    * min aggregation + one equi-join on the node key (the same shuffle
    * budget as a label round), edges re-materialize per round so lineage
    * stays flat, and the fixpoint (each node tied to its component's
    * smallest id) is checked by exact set equality — never a heuristic.
    *
    * Input: directed edge frame (src, dst), any orientation, self-loops
    * tolerated. Returns ((node, label) for every endpoint, rounds run).
    */
  def starComponents(edges0: DataFrame, maxIter: Int = 50): (DataFrame, Int) = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val allNodes = bridge.freeze(edges0.select(col("src").as("node"))
      .union(edges0.select(col("dst"))).distinct())
    // working invariant: every stored edge has a > b (no self-loops), so
    // "larger endpoint" is positional and each step is a plain aggregation
    var (cur, curCount) = bridge.freezeCounted(edges0
      .select(greatest(col("src"), col("dst")).as("a"),
        least(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct())
    var rounds = 0
    var converged = curCount == 0
    while (!converged && rounds < maxIter) {
      // large-star: for each node u, every strictly larger neighbor v is
      // rewired to m = min(N(u) ∪ {u}); output keeps the a > b invariant
      // because v > u >= m
      val sym = cur.select(explode(array(
          struct(col("a").as("u"), col("b").as("v")),
          struct(col("b").as("u"), col("a").as("v")))).as("__e"))
        .select(col("__e.u").as("u"), col("__e.v").as("v"))
      val mn = sym.groupBy(col("u")).agg(min(col("v")).as("__mn"))
      val large = sym.join(mn, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), least(col("u"), col("__mn")).as("b"))
        .distinct()
      // small-star at each larger endpoint a over its smaller neighbors
      // {b}: m = min(b's); every b ≠ m rewires to m and a itself ties to m
      // — the (a, m) edge is emitted by the group's single b == m row, so
      // the output maps 1:1 onto input rows (pure projection, no explode)
      val mn2 = large.groupBy(col("a")).agg(min(col("b")).as("__mn"))
      val small = large.join(mn2, Seq("a"))
        .select(when(col("b") === col("__mn"), col("a")).otherwise(col("b")).as("a"),
          col("__mn").as("b"))
        .distinct()
      val (next, nextCount) = bridge.freezeCounted(small)
      // sets are distinct by construction: equal count + empty one-sided
      // difference ⇔ identical edge sets ⇔ the star fixpoint
      converged = nextCount == curCount && next.except(cur).isEmpty
      cur = next; curCount = nextCount
      rounds += 1
    }
    // the fixpoint is a forest of stars: every leaf points at its
    // component's minimum; centers appear only on the right side. The min
    // aggregation is a no-op at fixpoint (one edge per leaf) and keeps the
    // output one-row-per-node even if maxIter cut the loop mid-convergence.
    val labels = allNodes
      .join(cur.select(col("a").as("node"), col("b").as("label")), Seq("node"), "left")
      .groupBy(col("node"))
      .agg(min(coalesce(col("label"), col("node"))).as("label"))
    (labels, rounds)
  }

  /** Driver-side path of [[connectedComponents]]: path-compressed,
    * rank-unioned union-find over a collected edge list, relabeled so every
    * component is named by its smallest node id — the same fixpoint the
    * distributed loop converges to. Guarded by the caller's edge-count gate.
    */
  private def localComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select(col("src"), col("dst")).as[(Long, Long)].collect()
    val parent = scala.collection.mutable.LongMap.empty[Long]
    val rank = scala.collection.mutable.LongMap.empty[Int]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x)
        parent(x) = parent.getOrElse(p, p) // path halving
        x = parent(x)
      }
      x
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (ka, kb) = (rank.getOrElse(ra, 0), rank.getOrElse(rb, 0))
        if (ka < kb) parent(ra) = rb
        else if (kb < ka) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) = ka + 1 }
      }
    }
    val minOfRoot = scala.collection.mutable.LongMap.empty[Long]
    parent.keys.foreach { n =>
      val r = find(n)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, Long.MaxValue), n)
    }
    parent.keys.toSeq.sorted.map(n => (n, minOfRoot(find(n))))
      .toDF("node", "label")
  }

  /** Triangle counts per node of the near-dup pair graph — the density
    * signal that separates a template FAMILY (mirrors of mirrors, dense
    * cliques: every pair also pairs with the third) from a chain of
    * incidental overlaps (path-shaped, triangle-free). High triangle count
    * ⇒ the component is one boilerplate family and can be collapsed
    * aggressively; [[clusters]] tells you WHAT is connected, this tells you
    * HOW tightly.
    *
    * Scale shape: the compact-forward trick — edges orient a<b, a triangle
    * (a<b<c) is found exactly once by joining wedge (a,b)+(a,c) on the
    * apex `a` and semi-joining the closing edge (b,c) — two equi-joins on
    * vertex keys over the (tiny, pair-proportional) edge set, never over
    * documents. The wedge join keys on the SMALLEST vertex, the classic
    * degree-bounding orientation for skewed graphs.
    *
    * Returns (node, n_triangles) for every node of the pair set.
    */
  def triangleCounts(pairs: DataFrame, idA: String = "id_a",
                     idB: String = "id_b"): DataFrame = {
    val e = org.apache.spark.sql.graftbridge.Bridge.freeze(
      pairs.select(least(col(idA), col(idB)).cast("long").as("u"),
          greatest(col(idA), col(idB)).cast("long").as("v"))
        .filter(col("u") =!= col("v")).distinct())
    val wedges = e.select(col("u").as("a"), col("v").as("b"))
      .join(e.select(col("u").as("a"), col("v").as("c")), Seq("a"))
      .filter(col("b") < col("c"))
    val tris = wedges.join(
      e.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"), "left_semi")
    val nodes = e.select(col("u").as("node")).union(e.select(col("v"))).distinct()
    val perNode = tris.select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    nodes.join(perNode, Seq("node"), "left")
      .select(col("node"), coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** [[connectedComponents]] shaped as a dedup decision: (doc_id, cluster,
    * keep) where `cluster` is the component's smallest doc id and `keep`
    * marks the one representative per cluster.
    */
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b"): DataFrame =
    connectedComponents(pairs, idA, idB)
      .select(col("node").as("doc_id"), col("label").as("cluster"),
        (col("node") === col("label")).cast("int").as("keep"))

  /** Content-aware cluster collapse — the apply step of near-dup clustering:
    * within each [[clusters]] component keep the member with the most
    * tokens (ties → smallest doc id) and emit the DROP LIST: one row per
    * discarded member, carrying its cluster and the surviving
    * representative. An `anti join` of the corpus against this frame IS the
    * deduplicated corpus. [[clusters]]' own `keep` flag picks the smallest
    * id — arbitrary; production pipelines keep the best copy (the longest
    * near-duplicate usually subsumes its truncated mirrors).
    *
    * 100 TB notes: token counts are fetched ONLY for cluster members (the
    * join against `docs` is keyed on the id and proportional to |members|,
    * the duplicated slice — the corpus itself never shuffles), the winner
    * per cluster is ONE `max_by` hash aggregation over a two-field ordering
    * struct (never a window sort, never a wide-struct buffer — see the
    * routing-fold note on [[minhashPairs]]), and the drop list re-joins the
    * (tiny, |clusters|-row) winners frame back to members. Keying the
    * ordering struct as (n_tokens, −doc_id) makes `max_by` resolve both the
    * maximum and its deterministic tie-break in one pass.
    *
    * Returns (doc_id, cluster, kept_doc, n_members) — discarded members only.
    */
  def keepBest(labels: DataFrame, docs: DataFrame,
               idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      TextAnalysis.tokenCount(col(textCol)).as("__ntok"))
    val m = labels.select(col("doc_id").cast("long").as("doc_id"), col("cluster"))
      .join(toks, Seq("doc_id"))
    val winners = m.groupBy(col("cluster")).agg(
      max_by(col("doc_id"), struct(col("__ntok"), (-col("doc_id")).as("__nid")))
        .as("kept_doc"),
      count(lit(1)).as("n_members"))
    m.join(winners, Seq("cluster"))
      .filter(col("doc_id") =!= col("kept_doc"))
      .select(col("doc_id"), col("cluster"), col("kept_doc"), col("n_members"))
  }

  /** Duplicate-aware sampling weights — soft dedup (the Gopher / FineWeb
    * alternative to hard removal): each document in a near-dup cluster of
    * size n gets loss/sampling weight 1/n, so every cluster contributes ONE
    * document's worth of mass in expectation while keeping all variants
    * available — and the deterministic `kept` flag realizes exactly that
    * draw (md5 buckets against `⌊buckets/n + ½⌋`, the mixture-sampler
    * threshold discipline). Documents in no cluster are their own size-1
    * cluster at weight 1.
    *
    * Scale shape: cluster sizes are ONE keyed aggregation of the label
    * table (pairs-proportional, never the corpus); the corpus takes one
    * LEFT equi-join against the membership table and scan-speed weight
    * arithmetic — at web scale near-dup members are a small fraction of
    * docs, so the join's build side stays far below the corpus.
    *
    * Returns (idCol, cluster, n_members, weight, rate_bp, kept).
    */
  def duplicateWeights(labels: DataFrame, docs: DataFrame, idCol: String,
                       buckets: Int = 10000, salt: String = ""): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val sizes = labels.groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
    val members = labels.select(col("doc_id").cast("long").as("__mid"), col("cluster"))
      .join(sizes, Seq("cluster"))
    val joined = docs.select(col(idCol))
      .join(members, col(idCol).cast("long") === col("__mid"), "left")
      .select(col(idCol),
        coalesce(col("cluster"), col(idCol).cast("long")).as("cluster"),
        coalesce(col("n_members"), lit(1L)).as("n_members"))
    val rate = floor(lit(buckets.toDouble) / col("n_members").cast("double")
      + lit(0.5)).cast("long")
    joined.select(col(idCol), col("cluster"), col("n_members"),
      round((lit(1.0) / col("n_members").cast("double")).cast(dec), 6)
        .cast("double").as("weight"),
      rate.as("rate_bp"),
      (Sampling.hashBucket(col(idCol), buckets, salt) < rate).as("kept"))
  }

  /** Chunk-level exact dedup: line/paragraph-granularity duplicate removal
    * generalized to fixed non-overlapping `chunkTokens`-token windows of the
    * normalized text (the testdata corpus has no newlines, so the fixed
    * window stands in for the paragraph boundary). Returns each duplicated
    * chunk with its occurrence count, distinct-document count, and smallest
    * containing doc id. Documents shorter than one chunk contribute nothing.
    *
    * 100 TB notes: explode → hash-groupBy on the chunk digest — one shuffle
    * keyed by md5, uniform by construction. The per-row chunk build is a few
    * array slices (bounded by tokens/chunkTokens per doc), then digesting
    * happens post-explode in codegen'd md5. Tokenization is staged as a
    * column so the slice lambda reads an attribute (O(1) per chunk);
    * embedding the tokens() expression in the lambda would re-run the
    * regexp split once per chunk — O(tokens²/chunkTokens) per doc.
    */
  def chunkDups(df: DataFrame, idCol: String, textCol: String,
                chunkTokens: Int = 10): DataFrame = {
    val toks = col("__toks")
    val chunks = when(size(toks) >= chunkTokens,
      transform(sequence(lit(0), (size(toks) / chunkTokens).cast("int") - 1),
        i => array_join(slice(toks, i * chunkTokens + 1, lit(chunkTokens)), " ")))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol).as("__id"), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .select(col("__id"), explode(chunks).as("__chunk"))
      .groupBy(md5(col("__chunk")).as("chunk_fp"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("__id")).as("n_docs"),
        min(col("__id")).as("min_doc"))
      .filter(col("n_occ") > 1)
  }

  /** Exact duplicated-SPAN extraction (the suffix-array substring dedup of
    * "Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499, re-expressed relationally): every maximal token span
    * covered by k-grams that occur more than once in the corpus. Rolling
    * k-token grams digest to md5; grams with global count > 1 mark their
    * start positions, and per-document gaps-and-islands (pos − row_number)
    * merges consecutive duplicated starts into maximal spans — a span
    * [p₀, p₁] of starts covers tokens p₀ … p₁+k−1, so `span_tokens =
    * p₁ − p₀ + k`, exactly the repeated substring a span-level dedup pass
    * would cut. Within-document repeats count as duplication, matching the
    * reference method.
    *
    * 100 TB notes: one hash aggregation on the gram digest (md5 — uniform
    * keys by construction), one equi-join of positions back to the
    * duplicated digests, and the island merge is a window partitioned BY
    * DOCUMENT — millions of independent tiny windows. Tokenization is
    * staged as a column so the per-gram lambda is an O(k) slice of an
    * attribute, the [[chunkDups]] discipline.
    *
    * Returns (idCol, span_start, span_tokens), span_start 0-based.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 8): DataFrame =
    duplicateSpansOnToks(
      df.select(col(idCol).as("__id"), TextAnalysis.tokens(col(textCol)).as("__toks")),
      idCol, k)

  /** [[duplicateSpans]] over a pre-tokenized (__id, __toks) frame — the
    * injection point that lets [[cutSpans]] tokenize the corpus ONCE and
    * share the frame between span detection and reassembly.
    */
  private def duplicateSpansOnToks(tokFrame: DataFrame, idCol: String,
                                   k: Int): DataFrame = {
    val toks = col("__toks")
    val grams = when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => md5(array_join(slice(toks, i + 1, lit(k)), " "))))
      .otherwise(array().cast("array<string>"))
    // the (doc, pos, gram) frame feeds BOTH the duplicated-digest
    // aggregation and the position join — frozen so the rolling-gram
    // digest explode (k md5s per token) computes once, not once per branch
    val pos = org.apache.spark.sql.graftbridge.Bridge.freeze(
      tokFrame.select(col("__id"), posexplode(grams).as(Seq("__pos", "__g"))))
    val dupFps = pos.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).select(col("__g"))
    val w = Window.partitionBy(col("__id")).orderBy(col("__pos").asc)
    pos.join(dupFps, Seq("__g"), "left_semi")
      .withColumn("__grp", col("__pos") - row_number().over(w))
      .groupBy(col("__id"), col("__grp"))
      .agg(min(col("__pos")).cast("long").as("span_start"),
        (max(col("__pos")) - min(col("__pos")) + lit(k)).cast("long").as("span_tokens"))
      .select(col("__id").as(idCol), col("span_start"), col("span_tokens"))
  }

  /** Per-document novelty score — the memorization-risk ranking
    * [[duplicateSpans]]'s span list summarizes to one number: the
    * fraction of a document's rolling k-gram positions whose digest
    * occurs anywhere else in the corpus (or again in the same document).
    * A doc at dup_frac 0.9 is boilerplate wearing a unique header; a
    * corpus whose high-dup_frac tail is growing is converging on
    * templates. Novelty = 1 − dup_frac.
    *
    * Scale shape: the same frozen (doc, pos, gram-digest) frame as the
    * span machinery (k md5s per token, computed once), ONE digest
    * aggregation for the duplicated set, per-doc rollups keyed by doc id.
    * Docs with fewer than k tokens have no measurable grams and read
    * novelty 1.0.
    *
    * Returns (idCol, n_grams, n_dup_grams, dup_frac, novelty).
    */
  def noveltyScores(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 8): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val grams = when(size(col("__toks")) >= k,
      transform(sequence(lit(0), size(col("__toks")) - k),
        i => md5(array_join(slice(col("__toks"), i + 1, lit(k)), " "))))
      .otherwise(array().cast("array<string>"))
    val pos = org.apache.spark.sql.graftbridge.Bridge.freeze(
      df.select(col(idCol).as("__id"), TextAnalysis.tokens(col(textCol)).as("__toks"))
        .select(col("__id"), posexplode(grams).as(Seq("__pos", "__g"))))
    val dupFps = pos.groupBy(col("__g")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > 1).select(col("__g"))
    val cnts = pos.groupBy(col("__id")).agg(count(lit(1)).as("n_grams"))
    val dups = pos.join(dupFps, Seq("__g"), "left_semi")
      .groupBy(col("__id")).agg(count(lit(1)).as("n_dup_grams"))
    df.select(col(idCol))
      .join(cnts.select(col("__id").as(idCol), col("n_grams")), Seq(idCol), "left")
      .join(dups.select(col("__id").as(idCol), col("n_dup_grams")), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"))
      .withColumn("dup_frac",
        round(when(col("n_grams") === 0, lit(0.0))
          .otherwise(col("n_dup_grams").cast("double") / col("n_grams"))
          .cast(dec), 4).cast("double"))
      .withColumn("novelty",
        round((lit(1.0) - col("dup_frac")).cast(dec), 4).cast("double"))
  }

  /** Apply the substring-dedup cut: remove every token covered by a
    * duplicated span (from [[duplicateSpans]]) and re-join the survivors —
    * the "delete one copy of each repeated substring" step of
    * arXiv:2107.06499, here deleting ALL covered positions (the
    * conservative cut a boilerplate-stripping pass wants; callers that need
    * first-copy-survives semantics can pre-filter the span set). Every
    * document of the input appears in the output, cleaned or untouched.
    *
    * Scale shape: spans explode to covered positions (output is
    * span-proportional, and spans are bounded by tokens/1), tokens explode
    * with positions, and the cut is ONE anti-join on (doc, pos) followed by
    * a per-document reassembly aggregation — `sort_array(collect_list(
    * struct(pos, tok)))` keeps the rebuild deterministic without a window.
    * Everything shuffles on the document id only.
    *
    * Returns (idCol, clean_text, n_kept, n_cut).
    */
  def cutSpans(df: DataFrame, idCol: String, textCol: String,
               k: Int = 8, spans: Option[DataFrame] = None): DataFrame = {
    // ONE tokenize pass over the corpus: the frozen (id, tokens) frame feeds
    // span detection, the reassembly posexplode AND the per-doc token count —
    // re-deriving tokens() per consumer would scan and re-tokenize the
    // corpus three times at 100 TB
    val tokFrame = org.apache.spark.sql.graftbridge.Bridge.freeze(
      df.select(col(idCol).as("__id"), TextAnalysis.tokens(col(textCol)).as("__toks")))
    val sp = spans.getOrElse(duplicateSpansOnToks(tokFrame, idCol, k))
    val covered = sp.select(col(idCol).as("__id"),
        explode(sequence(col("span_start"),
          col("span_start") + col("span_tokens") - 1)).as("__pos"))
      .distinct()
    val toks = tokFrame
      .select(col("__id"), posexplode(col("__toks")).as(Seq("__pos", "__tok")))
      .filter(col("__tok") =!= "")
    val kept = toks.join(covered, Seq("__id", "__pos"), "left_anti")
      .groupBy(col("__id"))
      .agg(array_join(transform(
          sort_array(collect_list(struct(col("__pos"), col("__tok")))),
          s => s("__tok")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    // tokenCount(text) ≡ count of non-empty tokens (normalize() of blank text
    // splits to [""]) — derived from the frozen frame, not a re-tokenize
    tokFrame.select(col("__id").as(idCol),
        size(filter(col("__toks"), t => length(t) > 0)).cast("long").as("__nt"))
      .join(kept.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (coalesce(col("__nt"), lit(0L)) - coalesce(col("n_kept"), lit(0L))).as("n_cut"))
  }

  /** Edit-distance verification of candidate near-dup pairs — the exact
    * final check a fuzzy-dedup pipeline runs on its (tiny) candidate set
    * before dropping documents: normalized Levenshtein similarity
    * `1 − lev(a,b)/max(|a|,|b|)` over the NORMALIZED text. Quadratic in
    * document length, so it must only ever run pair-proportionally — the
    * pair ids semi-join the corpus first ([[graft.functions.Retrieval.rouge2]]'s
    * fetch discipline), and the pair set is frozen so an expensive upstream
    * candidate generator computes once. Scoring is the codegen'd
    * affix-stripping [[graft.plans.LevenshteinStripped]] kernel bounded at
    * max(len) (exact — the bound can never truncate) — no UDF.
    *
    * Returns (aId, bId, edit_dist, edit_sim) with edit_sim in [0,1].
    */
  def editVerify(pairs: DataFrame, aId: String, bId: String,
                 docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val p = org.apache.spark.sql.graftbridge.Bridge.freeze(
      pairs.select(col(aId).cast("long").as("__ida"),
        col(bId).cast("long").as("__idb")))
    val ids = p.select(col("__ida").as("__id"))
      .union(p.select(col("__idb"))).distinct()
    val txt = docs.select(col(idCol).cast("long").as("__id"),
        TextAnalysis.normalize(col(textCol)).as("__t"))
      .join(ids, Seq("__id"), "left_semi")
    val scored = p
      .join(txt.select(col("__id").as("__ida"), col("__t").as("__ta")), Seq("__ida"))
      .join(txt.select(col("__id").as("__idb"), col("__t").as("__tb")), Seq("__idb"))
      .withColumn("__mx", greatest(length(col("__ta")), length(col("__tb"))))
      // exact distance via the affix-stripping kernel: lev <= max(len)
      // always, so bounding at __mx never truncates — near-dup pairs
      // share long prefixes/suffixes, which the strip removes before the
      // DP (round-14: the unbounded builtin ran the full len x len matrix
      // on every pair)
      .withColumn("edit_dist", graft.plans.NativeFunctions
        .levenshteinStripped(col("__ta"), col("__tb"), col("__mx"))
        .cast("long"))
    scored.select(col("__ida").as(aId), col("__idb").as(bId), col("edit_dist"),
      round(when(col("__mx") === 0, lit(1.0))
        .otherwise(lit(1.0) - col("edit_dist").cast("double") / col("__mx").cast("double"))
        .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 4)
        .cast("double").as("edit_sim"))
  }

  /** SemDeDup-style semantic near-duplicate pairs (public method: k-means
    * cluster the embedding space, then exact pairwise cosine WITHIN clusters
    * only — arXiv:2303.09540). The deterministic [[Vectors.kMeans]] quantizer
    * (id-seeded init, decimal-exact means) routes every vector to its
    * nearest centroid, so the all-pairs O(N²) collapses to Σ|cluster|² with
    * one equi-shuffle on the cluster id — the canonical embedding-space
    * dedup shape at 100 TB (more clusters → smaller quadratic terms).
    *
    * `maxCluster` is the whale guard, the semantic twin of
    * [[graft.core.Joins.capBuckets]]: one degenerate cluster of size n would
    * otherwise re-create the n² blow-up the clustering exists to avoid.
    * Oversized clusters sub-split into ceil(n/maxCluster) md5-derived
    * sub-buckets and only same-sub pairs are compared — candidate count is
    * bounded by ~n·maxCluster (linear in n), recall inside the whale
    * degrades gracefully instead of the job dying. The cluster-size table
    * is k rows by construction, so the size join is always a broadcast.
    *
    * Returns (id_a, id_b, cluster, cosine); compose with [[clusters]] for
    * connected-component keep/drop assignment, exactly like the text-space
    * pair ops.
    */
  def semanticPairs(df: DataFrame, idCol: String, vecCol: String,
                    k: Int = 8, iters: Int = 2,
                    threshold: Double = 0.4,
                    maxCluster: Int = 1 << 16): DataFrame = {
    val vecs = df.select(col(idCol).as("__vid"),
      col(vecCol).cast("array<double>").as("__v"))
    // centroid set is k rows by construction — always broadcastable; routing
    // is Vectors.assignClusters' shuffle-free argmin fold over the broadcast
    // centroid array. Materialize the assignment: both sides of the
    // within-cluster self-join read it.
    val assigned = org.apache.spark.sql.graftbridge.Bridge.freeze(
      Vectors.assignClusters(vecs, Vectors.kMeans(df, idCol, vecCol, k, iters))
        .select(col("cluster"), col("__vid"), col("__v")))
    val sizes = broadcast(assigned.groupBy(col("cluster")).agg(count(lit(1)).as("__cn")))
    val split = assigned.join(sizes, Seq("cluster"))
      .withColumn("__sub", when(col("__cn") <= maxCluster, lit(0L))
        .otherwise(Sampling.hash60(col("__vid"), "semsub")
          % ceil(col("__cn").cast("double") / maxCluster).cast("long")))
    bucketPairs(split, Seq("cluster", "__sub"), "__vid", Seq("__v"))
      .withColumn("cosine", Vectors.cosine(col("__v_a"), col("__v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cluster"),
        round(col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 8)), 4)
          .cast("double").as("cosine"))
  }

  /** n-gram Jaccard similarity of two text columns (exact, symmetric). */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    val (sa, sb) = (shingles(a, n), shingles(b, n))
    size(array_intersect(sa, sb)).cast("double") / size(array_union(sa, sb)).cast("double")
  }

  /** Doc-in-doc containment pairs: for candidate pairs sharing at least one
    * RARE shingle, the exact containment |Sa∩Sb| / min(|Sa|,|Sb|) — the
    * asymmetric near-dup measure Jaccard misses: a document quoted whole
    * inside a much larger page has tiny Jaccard but containment ≈ 1, the
    * shape of wrapper boilerplate, quote-farms, and partial mirrors.
    *
    * Scale shape: the corpus explodes ONCE into a distinct (id, shingle)
    * frame, frozen — per-doc sizes AND candidate generation both derive
    * from its materialized blocks. Candidates come only from shingles held
    * by ≤ `maxDf` documents (the rare-shingle cap: a shingle in half the
    * corpus generates quadratic pairs and zero signal, as in
    * [[graft.core.Joins.capBuckets]]), expanded ordered at scan speed by the
    * index-bounded `transform` (each shingle ≤ maxDf² pairs, never
    * corpus-quadratic). Shared-shingle counts under-count by the capped
    * common shingles, so the count filter `minShared` is a candidate gate,
    * not the verdict — the verdict recomputes NOTHING: containment uses the
    * capped-shared count as a LOWER bound numerator, which can only
    * under-report containment (safe direction for a dedup screen) and is
    * exact whenever the pair shares no ultra-common shingle.
    *
    * Returns (id_a, id_b, shared, size_a, size_b, containment, jaccard)
    * for pairs with containment ≥ `minContain`, id_a < id_b.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, maxDf: Int = 64, minShared: Int = 2,
                       minContain: Double = 0.5): DataFrame =
    containmentPairsOfShingles(distinctShingleFrame(df, idCol, textCol, n),
      maxDf, minShared, minContain)

  /** the frozen distinct (__id, __sh) frame [[containmentPairs]] and
    * [[minhashEval]] run on. Distinctness is per-document by construction
    * (`array_distinct` BEFORE the explode — duplicate shingles only ever
    * repeat within one document's array), so no global distinct shuffle of
    * the EXPLODED corpus is needed; the one shuffle moves the compact
    * pre-explode document rows (id + text), purely to balance the frozen
    * partitions — a few-file parquet scan would otherwise leave every
    * downstream aggregation's first map stage on a handful of tasks.
    */
  def distinctShingleFrame(df: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.freeze(
      df.select(col(idCol), col(textCol))
        .repartition(df.sparkSession.sparkContext.defaultParallelism * 2,
          col(idCol))
        .select(col(idCol).as("__id"),
          explode(array_distinct(shingles(col(textCol), n))).as("__sh")))

  /** [[containmentPairs]] over an already-frozen distinct (__id, __sh)
    * shingle frame — the stage split that lets [[minhashEval]] shingle the
    * corpus ONCE and reuse the frame for its signature pass.
    */
  def containmentPairsOfShingles(sh: DataFrame, maxDf: Int,
                                 minShared: Int,
                                 minContain: Double): DataFrame = {
    val sizes = sh.groupBy(col("__id")).agg(count(lit(1)).as("__sz"))
    // not Joins.bucketPairs: one groupBy shuffle caps by set size and expands the ordered pairs
    val pairs = sh.groupBy(col("__sh"))
      .agg(sort_array(collect_set(col("__id"))).as("__ids"))
      .filter(size(col("__ids")).between(2, maxDf))
      .select(explode(flatten(transform(col("__ids"), (x, i) =>
        transform(
          slice(col("__ids"), i + lit(2), size(col("__ids")) - i - lit(1)),
          y => struct(x.as("a"), y.as("b")))))).as("__p"))
      .groupBy(col("__p.a").as("id_a"), col("__p.b").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    pairs
      .join(sizes.select(col("__id").as("id_a"), col("__sz").as("size_a")), Seq("id_a"))
      .join(sizes.select(col("__id").as("id_b"), col("__sz").as("size_b")), Seq("id_b"))
      .withColumn("containment",
        round((col("shared").cast("double") / least(col("size_a"), col("size_b")))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 6).cast("double"))
      .withColumn("jaccard",
        round((col("shared").cast("double") /
            (col("size_a") + col("size_b") - col("shared")))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 6).cast("double"))
      .filter(col("containment") >= minContain)
      .select(col("id_a"), col("id_b"), col("shared"), col("size_a"),
        col("size_b"), col("containment"), col("jaccard"))
  }

  /** Jaccard-threshold tuning curve — the sweep run BEFORE committing a
    * near-dup threshold: for each candidate threshold, how many pairs and
    * how many distinct documents a dedup pass at that cut would touch. The
    * curve's knee is the argument for (say) 0.8 over 0.7 — guessing the
    * threshold and re-running corpus dedup per guess is the 100 TB
    * anti-pattern this one-pass audit replaces.
    *
    * Scale shape: candidate pairs + exact Jaccard come from ONE
    * [[containmentPairs]] pass (shingle-df-bounded candidate generation —
    * never a corpus self-join) with the filters opened (minShared=1,
    * minContain=0); the scored pair frame (bounded by the candidate count)
    * freezes and each threshold is a scan of that frame, not of the corpus.
    *
    * Returns one row per threshold: (threshold, n_pairs, n_docs).
    */
  def thresholdCurve(df: DataFrame, idCol: String, textCol: String,
                     thresholds: Seq[Double], n: Int = 3,
                     maxDf: Int = 64): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val pairs = org.apache.spark.sql.graftbridge.Bridge.freeze(
      containmentPairs(df, idCol, textCol, n, maxDf,
        minShared = 1, minContain = 0.0)
        .select(col("id_a"), col("id_b"), col("jaccard")))
    thresholds.map { t =>
      pairs.filter(col("jaccard") >= t)
        .select(explode(array(col("id_a"), col("id_b"))).as("__d"),
          col("id_a"), col("id_b"))
        .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
          countDistinct(col("__d")).as("n_docs"))
        .select(lit(t).as("threshold"), col("n_pairs"), col("n_docs"))
    }.reduce(_.unionAll(_))
  }

  /** Cluster-size distribution over a [[clusters]] labeling — the
    * decision-grade audit after near-dup clustering: a corpus whose dup
    * mass sits in two 10k-member template clusters needs a different cut
    * than one with a million pairs — and the size histogram is what says
    * which. ONE aggregation to |clusters| rows, one more to the bounded
    * count-of-counts. Returns (size, n_clusters, n_docs); singletons
    * never enter a pair graph and are absent by construction.
    */
  def clusterSizeStats(labels: DataFrame): DataFrame =
    labels.groupBy(col("cluster")).agg(count(lit(1)).as("__sz"))
      .groupBy(col("__sz").as("size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("size"), col("n_clusters"),
        (col("size") * col("n_clusters")).as("n_docs"))

  /** MinHash/LSH parameter evaluation — measured precision/recall of a
    * (k, bands) banding scheme against exact Jaccard, next to the S-curve
    * theory: [[thresholdCurve]] says how much a threshold TOUCHES; this
    * says how much a concrete LSH configuration at that threshold would
    * actually CATCH, before committing a 100 TB dedup run to it.
    *
    * Ground truth is the [[containmentPairs]] candidate universe (every
    * pair sharing ≥1 df-bounded shingle) with exact Jaccard. Each pair is
    * then tested against a real banding: md5-DERIVED minhash signatures —
    * deliberately not the production xxhash64 ([[minhashSignature]]), so
    * the whole audit is engine-reproducible and oracle-checkable —
    * banded into `bands` keys; a pair is "caught" iff some band key
    * matches (bucket equi-join over the exploded, index-prefixed keys —
    * the real LSH collision mechanics). Per threshold the
    * rollup reports measured recall (caught ∧ true / true), measured
    * precision within the universe (caught ∧ true / caught), and the
    * S-curve expectation E[1−(1−j^r)^b] over the true pairs — evaluated
    * as an explicit multiplication chain (no `pow`), so both engines
    * compute bit-identical doubles.
    *
    * Scale shape: ONE containmentPairs pass (df-bounded, never a corpus
    * self-join); signatures computed only for pair-involved documents
    * (pair-proportional, the [[editVerify]] discipline); the evaluated
    * pair frame freezes and each threshold is a scan of that bounded
    * frame. Run it on a representative sample, then configure
    * [[minhashPairs]] for the full corpus.
    *
    * Returns one row per threshold: (threshold, n_true, n_caught,
    * n_candidates, recall, precision, exp_recall).
    */
  def minhashEval(df: DataFrame, idCol: String, textCol: String,
                  thresholds: Seq[Double], n: Int = 3, k: Int = 16,
                  bands: Int = 4, maxDf: Int = 64,
                  minShared: Int = 2): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val r = bandRows(k, bands)
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    def powInt(c: Column, e: Int): Column = Seq.fill(e)(c).reduce(_ * _)
    // minShared=2 bounds the universe to pairs sharing >= 2 shingles — the
    // one-common-trigram tail is jaccard ~0 noise that would dominate the
    // pair frame (11M rows at 50k docs with minShared=1) without moving
    // recall or precision at any threshold a dedup run would use.
    // The corpus shingles ONCE into the frozen distinct (__id, __sh)
    // frame; the candidate universe AND the signature pass both read it —
    // the round-10 shape re-shingled the corpus for the signatures
    val sh = distinctShingleFrame(df, idCol, textCol, n)
    val pairs = bridge.freeze(
      containmentPairsOfShingles(sh, maxDf,
        minShared = minShared, minContain = 0.0)
        .select(col("id_a"), col("id_b"), col("jaccard")))
    val candIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("__id")).distinct()
    // md5-derived sig[i] = min over shingles of H(shingle # i); band key j
    // concatenates its r values, index-prefixed so band j only matches j.
    // The signature is ONE map-side-combined aggregation over the exploded
    // shingle frame — k min() columns, every expression (md5/conv/substring)
    // a codegen'd builtin, where the round-10 array-fold ran k·|shingles|
    // md5s through the INTERPRETED higher-order `transform` twice (the
    // corpus was re-shingled for it). Frozen: both pair sides of the
    // collision join read the narrow (id, bands) frame.
    def h(i: Int): Column =
      conv(substring(md5(concat_ws("#", col("__sh"), lit(i.toString))), 1, 15),
        16, 10).cast("long")
    val sig = sh.join(candIds, Seq("__id"), "left_semi")
      .groupBy(col("__id"))
      .agg(min(h(0)).as("__m0"),
        (1 until k).map(i => min(h(i)).as(s"__m$i")): _*)
    val bandKeys = bridge.freeze(sig.select(col("__id").as(idCol),
      array((0 until bands).map(j =>
        concat(lit(j.toString), lit(":"),
          concat_ws(",", (j * r until (j + 1) * r)
            .map(i => col(s"__m$i").cast("string")): _*))): _*).as("__bk")))
    // collisions the LSH way — explode band keys, bucket equi-join, distinct
    // pair set — then ONE left join flags each truth pair; shipping the band
    // arrays to every pair row (two wide joins) measured 2x slower
    val bkx = bandKeys.select(col(idCol), explode(col("__bk")).as("__k"))
    val hits = bucketPairs(bkx, Seq("__k"), idCol)
      .select(col("id_a"), col("id_b")).distinct()
    val evald = bridge.freeze(pairs
      .join(hits.withColumn("__c", lit(true)), Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("jaccard"),
        coalesce(col("__c"), lit(false)).as("__caught")))
    thresholds.map { t =>
      val isTrue = col("jaccard") >= t
      // S-curve 1−(1−j^r)^b as a fixed left-assoc multiplication chain:
      // engine-exact where pow() could differ in the last ulp
      val sCurve = lit(1.0) - powInt(lit(1.0) - powInt(col("jaccard"), r), bands)
      evald.agg(
          sum(when(isTrue, 1L).otherwise(0L)).as("n_true"),
          sum(when(isTrue && col("__caught"), 1L).otherwise(0L)).as("n_caught"),
          sum(when(col("__caught"), 1L).otherwise(0L)).as("n_candidates"),
          sum(when(isTrue, sCurve.cast(dec)).otherwise(lit(null))).as("__se"))
        .select(lit(t).as("threshold"), col("n_true"), col("n_caught"),
          col("n_candidates"),
          round(when(col("n_true") === 0, lit(0.0))
            .otherwise(col("n_caught").cast("double") / col("n_true"))
            .cast(dec), 4).cast("double").as("recall"),
          round(when(col("n_candidates") === 0, lit(0.0))
            .otherwise(col("n_caught").cast("double") / col("n_candidates"))
            .cast(dec), 4).cast("double").as("precision"),
          round(when(col("n_true") === 0, lit(0.0))
            .otherwise(col("__se").cast("double") / col("n_true"))
            .cast(dec), 4).cast("double").as("exp_recall"))
    }.reduce(_.unionAll(_))
  }

  /** Embedding-cosine near-duplicate pairs. Brute force within LSH buckets:
    * random-hyperplane signs (deterministic seeded planes) bucket the
    * vectors; pairs within a bucket are verified by exact cosine. At 100 TB
    * this is the standard sign-LSH: one shuffle on the bucket id.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double = 0.95, planes: Int = 8): DataFrame = {
    // No materialization: the bucket expression is a native cached-weight
    // dot product, so recomputing the scan for each join side is cheaper
    // than checkpointing (and leak-free) — column pruning keeps both scans
    // to (id, vec).
    val bucketed = df.select(col(idCol), col(vecCol).as("__v"))
      .withColumn("__bucket", Vectors.signLshBucket(col("__v"), planes))
    bucketPairs(bucketed, Seq("__bucket"), idCol, Seq("__v"))
      .withColumn("cosine", Vectors.cosine(col("__v_a"), col("__v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"),
        // decimal-staged rounding so external engines agree at the boundary
        round(col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 8)), 4)
          .cast("double").as("cosine"))
      .distinct()
  }
}
