package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Scans.topPerGroup

/** Vector similarity over embedding columns (`array<float>`/`array<double>`).
  *
  * Pure higher-order-function expressions (`zip_with` dot products,
  * `aggregate` reductions) — codegen'd, no UDF boxing — plus ANN via
  * deterministic sign-LSH bucketing. The brute-force path broadcasts the
  * smaller side and is the exactness baseline; the LSH path is the 100 TB
  * scale path (one shuffle keyed by bucket).
  */
object Vectors {

  /** Native codegen'd dot product (graft.plans.DotProduct) — identical
    * left-to-right accumulation to the HOF formulation it replaces.
    */
  def dot(a: Column, b: Column): Column = graft.plans.NativeFunctions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** cosine with precomputed norms: mathematically and bit-identically the
    * same as [[cosine]] (sqrt(dot(v,v)) is the same double whether computed
    * inline or staged in a column), but O(pairs) work drops to one dot.
    */
  def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column = dot(a, b) / (na * nb)

  def euclidean(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (s, v) => s + v))

  /** Brute-force cosine top-k: for each query vector, the k most similar
    * corpus vectors. The corpus side is broadcast (it is the small side in
    * the typical "probe a reference set" pattern); per-query top-k is a
    * window over the join result. Exact — the ANN baseline.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
                     qId: String, qVec: String, cId: String, cVec: String,
                     k: Int): DataFrame = {
    val q = queries.select(col(qId).as("__qid"), col(qVec).as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
    val c = corpus.select(col(cId).as("__cid"), col(cVec).as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
    val joined = q.crossJoin(broadcast(c))
      .filter(col("__qid") =!= col("__cid"))
      .withColumn("cosine", cosinePre(col("__qv"), col("__cv"), col("__qn"), col("__cn")))
    topPerGroup(joined, Seq(col("__qid")), Seq(col("cosine").desc, col("__cid").asc), k,
        Some("__rn"))
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        round(col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 8)), 4)
          .cast("double").as("cosine"),
        col("__rn").as("rank"))
  }

  /** Exact Hamming top-k over SIGN-PACKED embeddings — the 32×-compressed
    * binary serving path next to [[bruteForceTopK]]: each vector collapses
    * to its sign bits (64 dims per long, [[graft.plans.SignPack]]), and
    * distance is XOR+popcount per word ([[graft.plans.HammingDistance]],
    * codegen'd) — the standard first-stage filter when the float corpus
    * no longer fits the serving tier. Hamming on sign bits is a proven
    * angular-distance proxy (the sign-LSH collision bound): rerank the
    * top-m with [[hammingRerankTopK]] when exact cosine order matters.
    *
    * Scale shape: the packed corpus is 32× smaller than the floats (a
    * billion 64-dim vectors ≈ 8 GB packed), the query side broadcasts,
    * and the only shuffle is the |C|·|Q| (qid, cid, hamming) triple
    * stream into the per-query top-k.
    *
    * Returns (query_id, neighbor_id, hamming, rank), ties broken by
    * neighbor id.
    */
  def hammingTopK(queries: DataFrame, corpus: DataFrame,
                  qId: String, qVec: String, cId: String, cVec: String,
                  k: Int): DataFrame = {
    val np = graft.plans.NativeFunctions
    val q = queries.select(col(qId).as("__qid"), np.signPack(col(qVec)).as("__qb"))
    val c = corpus.select(col(cId).as("__cid"), np.signPack(col(cVec)).as("__cb"))
    val joined = c.crossJoin(broadcast(q))
      .filter(col("__qid") =!= col("__cid"))
      .withColumn("hamming", np.hammingDistance(col("__qb"), col("__cb")))
    topPerGroup(joined, Seq(col("__qid")), Seq(col("hamming").asc, col("__cid").asc), k,
        Some("__rn"))
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        col("hamming"), col("__rn").as("rank"))
  }

  /** Two-stage binary search: [[hammingTopK]]'s top-m as the cheap
    * candidate filter, exact cosine on ONLY those m·|Q| float pairs as
    * the reranker ([[annRerank]]'s discipline applied to the sign-packed
    * first stage). The float corpus is touched candidate-proportionally —
    * the serving shape that keeps exact-cosine quality at binary-scan
    * cost.
    *
    * Returns (query_id, neighbor_id, cosine, rank) — top-k by exact
    * cosine within the Hamming top-m.
    */
  def hammingRerankTopK(queries: DataFrame, corpus: DataFrame,
                        qId: String, qVec: String, cId: String, cVec: String,
                        m: Int, k: Int): DataFrame = {
    require(m >= k, "rerank pool m must be at least k")
    val cand = hammingTopK(queries, corpus, qId, qVec, cId, cVec, m)
      .select(col("query_id"), col("neighbor_id"))
    val q = queries.select(col(qId).as("query_id"), col(qVec).as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
    val c = corpus.select(col(cId).as("neighbor_id"), col(cVec).as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
    val scored = cand.join(broadcast(q), Seq("query_id"))
      .join(c, Seq("neighbor_id"))
      .withColumn("cosine",
        cosinePre(col("__qv"), col("__cv"), col("__qn"), col("__cn")))
    topPerGroup(scored, Seq(col("query_id")), Seq(col("cosine").desc, col("neighbor_id").asc),
        k, Some("__rn"))
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 8)), 4)
          .cast("double").as("cosine"),
        col("__rn").as("rank"))
  }

  /** Sign-LSH bucket id: the sign bits of `planes` pseudo-random-hyperplane
    * dot products, packed into a long. Similar vectors (small angle) collide
    * with high probability. Native expression with a cached md5-derived
    * weight matrix (graft.plans.SignLshBucket) — deterministic across
    * runs/engines without RNG state, and oracle-reproducible in DuckDB.
    */
  def signLshBucket(vec: Column, planes: Int, offset: Int = 0): Column =
    graft.plans.NativeFunctions.signLshBucket(vec, planes, offset)

  /** ANN top-k via IVF (inverted-file) coarse quantization: the corpus is
    * partitioned by nearest centroid (one shuffle keyed by cluster id);
    * queries probe their `nProbe` closest centroids' clusters only, then
    * exact cosine + top-k within the probed clusters. Centroids are the
    * `nCentroids` lowest-id corpus vectors — a deterministic sampled
    * quantizer (no iterative training), which keeps the whole pipeline
    * engine-reproducible; swap in trained centroids for better recall at the
    * same plan shape. The centroid set is bounded by construction, so its
    * broadcast is always legal.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
              qId: String, qVec: String, cId: String, cVec: String,
              k: Int, nCentroids: Int = 16, nProbe: Int = 4,
              trained: Option[DataFrame] = None): DataFrame = {
    // `trained`: (cluster, centroid) from [[kMeans]] — same plan shape,
    // better recall; default stays the deterministic sampled quantizer
    val centSrc = trained
      .map(_.select(col("cluster").as("__centid"), col("centroid").as("__centv")))
      .getOrElse(corpus.orderBy(col(cId)).limit(nCentroids)
        .select(col(cId).as("__centid"), col(cVec).as("__centv")))
    val cents = broadcast(centSrc.withColumn("__centn", norm(col("__centv"))))

    val cB = routeToCentroids(corpus, cId, cVec, cents)
    val qB = probeCentroids(queries, qId, qVec, cents, nProbe)
    probedTopK(qB, cB, k)
  }

  /** Cosine-argmax routing of every row onto its nearest centroid — the
    * IVF corpus side, shared with the streaming index ingest. An argmax
    * over a bounded set is a fold, not a top-N: array_max over the
    * broadcast centroid ARRAY on struct(cosine, -centid) realizes exactly
    * a window's (cosine desc, centid asc) order — Catalyst compares struct
    * fields with the same Double ordering sorting uses — at zero row
    * expansion and zero shuffle: rows are routed where they sit.
    * `cents`: (__centid, __centv, __centn). Returns
    * (__cluster, __cid, __cv, __cn).
    */
  private[graft] def routeToCentroids(df: DataFrame, id: String, vec: String,
                                      cents: DataFrame): DataFrame = {
    val centArr = broadcast(cents.agg(collect_list(
      struct(col("__centid"), col("__centv"), col("__centn"))).as("__cents")))
    df.select(col(id).as("__cid"), col(vec).cast("array<double>").as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
      .crossJoin(centArr)
      .withColumn("__best", array_max(transform(col("__cents"), c => struct(
        cosinePre(col("__cv"), c.getField("__centv"), col("__cn"), c.getField("__centn"))
          .as("__cs"),
        (-c.getField("__centid")).as("__negid")))))
      .select((-col("__best.__negid")).as("__cluster"),
        col("__cid"), col("__cv"), col("__cn"))
  }

  /** nProbe closest centroids per query (the small side — a per-query
    * window over |Q|·|cents| rows). Returns (__cluster, __qid, __qv, __qn).
    */
  private[graft] def probeCentroids(queries: DataFrame, qId: String, qVec: String,
                                    cents: DataFrame, nProbe: Int): DataFrame = {
    val scored = queries.select(col(qId).as("__qid"), col(qVec).cast("array<double>").as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
      .crossJoin(broadcast(cents))
      .withColumn("__cs", cosinePre(col("__qv"), col("__centv"), col("__qn"), col("__centn")))
    topPerGroup(scored, Seq(col("__qid")), Seq(col("__cs").desc, col("__centid").asc), nProbe)
      .select(col("__centid").as("__cluster"), col("__qid"), col("__qv"), col("__qn"))
  }

  /** exact cosine + per-query top-k over the probed clusters' candidates:
    * probes equi-join the routed index on the cluster id — the only
    * corpus-sized shuffle in the IVF serving path
    */
  private[graft] def probedTopK(qB: DataFrame, cB: DataFrame, k: Int): DataFrame = {
    val joined = qB.join(cB, Seq("__cluster"))
      .filter(col("__qid") =!= col("__cid"))
      .withColumn("cosine", cosinePre(col("__qv"), col("__cv"), col("__qn"), col("__cn")))
    topPerGroup(joined.select(col("__qid"), col("__cid"), col("cosine")).distinct(),
        Seq(col("__qid")), Seq(col("cosine").desc, col("__cid").asc), k, Some("__rn"))
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        round(col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 8)), 4)
          .cast("double").as("cosine"),
        col("__rn").as("rank"))
  }

  /** Deterministic k-means (Lloyd's) coarse-quantizer training — the
    * "trained centroids" upgrade the [[ivfTopK]] scaladoc promises, fully
    * engine-reproducible: init is the `k` lowest-id vectors (labels keep
    * their seed vector's id), assignment minimizes squared euclidean
    * distance expressed through dot products (`|x-c|² = x·x - 2x·c + c·c`,
    * each dot a left-to-right native reduction the SQL oracle reproduces
    * bit-for-bit), and the recomputed means sum each dimension in
    * DECIMAL(30,10) — exact, order-independent — before one double
    * division, so no floating summation order can flip a boundary
    * assignment across engines. Clusters that lose all members drop out
    * (standard Lloyd degeneracy; the oracle mirrors it).
    *
    * Returns (cluster, centroid: array<double>).
    *
    * 100 TB notes: per iteration one broadcast cross join (centroid set is
    * k rows by construction) + one (cluster, dim) hash aggregation — the
    * canonical distributed Lloyd step; centroids re-materialize per round
    * so lineage stays flat across iterations.
    */
  def kMeans(corpus: DataFrame, idCol: String, vecCol: String,
             k: Int = 8, iters: Int = 2): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    // materialized once (round 16): the seed probe and every Lloyd
    // iteration re-scanned the corpus otherwise. No pre-explode rebalance
    // here: measured at sf0.1, the extra exchange cost ~2× the query
    // (tiny frames, 64 near-empty tasks per downstream stage) while a
    // corpus-scale input is already split-parallel at the scan.
    val vecs = bridge.freeze(
      corpus.select(col(idCol).as("__vid"),
        col(vecCol).cast("array<double>").as("__v")))
    var centroids = bridge.freeze(vecs.orderBy(col("__vid")).limit(k)
      .select(col("__vid").as("cluster"), col("__v").as("centroid")))
    for (_ <- 1 to iters) {
      val assigned = assignClusters(vecs, centroids)
      centroids = bridge.freeze(assigned
        .select(col("cluster"), posexplode(col("__v")).as(Seq("__dim", "__x")))
        .groupBy(col("cluster"), col("__dim"))
        .agg((sum(col("__x").cast(org.apache.spark.sql.types.DecimalType(30, 10)))
          .cast("double") / count(lit(1))).as("__cx"))
        .groupBy(col("cluster"))
        .agg(transform(array_sort(collect_list(struct(col("__dim"), col("__cx")))),
          s => s.getField("__cx")).as("centroid")))
    }
    centroids
  }

  /** nearest-centroid assignment (ties broken by smallest cluster label):
    * (__vid, __v, cluster, __d2) — the IVF routing step, and the k-means
    * E-step. Argmin as a fold over the broadcast centroid array:
    * array_min on struct(d2, cluster) is exactly the window's
    * (__d2 asc, cluster asc) + row_number=1, with zero row expansion and
    * zero shuffle — each vector is routed where it sits.
    */
  private[functions] def assignClusters(vecs: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = broadcast(centroids.agg(collect_list(
      struct(col("cluster"), col("centroid").as("__cv"))).as("__cents")))
    vecs.crossJoin(cents)
      .withColumn("__xx", dot(col("__v"), col("__v")))
      .withColumn("__best", array_min(transform(col("__cents"), c => struct(
        (col("__xx") - lit(2.0) * dot(col("__v"), c.getField("__cv"))
          + dot(c.getField("__cv"), c.getField("__cv"))).as("__d2"),
        c.getField("cluster").as("cluster")))))
      .select(col("__vid"), col("__v"),
        col("__best.cluster").as("cluster"), col("__best.__d2").as("__d2"))
  }

  /** Cluster-quality audit of a trained centroid set: per cluster, its
    * population, mean within-cluster squared distance (cohesion) and the
    * squared distance to its nearest OTHER centroid (separation) — the
    * Davies-Bouldin-style readout run before SemDeDup or IVF routing
    * trusts a clustering (a cluster whose cohesion approaches its
    * separation is routing noise, not structure).
    *
    * Scale shape: cohesion is ONE aggregation of the corpus-wide
    * assignment (the [[kMeansAssign]] broadcast-fold — corpus never
    * shuffles on anything but the k-row cluster key); separation is a
    * k×k centroid self-join, k-row output — driver-free, all tiny-frame
    * broadcast work.
    *
    * Returns (cluster, n, mean_d2, nn_cluster, nn_d2) ordered by cluster.
    */
  def clusterQuality(corpus: DataFrame, idCol: String, vecCol: String,
                     centroids: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(18, 4)
    val assigned = kMeansAssign(corpus, idCol, vecCol, centroids)
    val coh = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        round((sum(col("d2").cast(dec)).cast("double") / count(lit(1)))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 4)
          .cast("double").as("mean_d2"))
    val a = centroids.select(col("cluster"), col("centroid").as("__ca"))
    val b = centroids.select(col("cluster").as("__nb"), col("centroid").as("__cb"))
    val pairs = a.join(broadcast(b), col("cluster") =!= col("__nb"))
      .withColumn("__d2", dot(col("__ca"), col("__ca"))
        - lit(2.0) * dot(col("__ca"), col("__cb"))
        + dot(col("__cb"), col("__cb")))
    val sep = topPerGroup(pairs, Seq(col("cluster")), Seq(col("__d2"), col("__nb")), 1)
      .select(col("cluster"), col("__nb").as("nn_cluster"),
        round(col("__d2").cast(org.apache.spark.sql.types.DecimalType(18, 8)), 4)
          .cast("double").as("nn_d2"))
    coh.join(sep, Seq("cluster"))
      .select(col("cluster"), col("n"), col("mean_d2"),
        col("nn_cluster"), col("nn_d2"))
  }

  /** Per-dimension embedding profile — the embedding-health monitor run
    * before any ANN/dedup pass trusts a new embedding snapshot: mean, std,
    * and range of every dimension. Dead dimensions (std ≈ 0), exploding
    * activations (|max| outliers), and mean drift against a prior snapshot
    * all read directly off this table; a model regression that re-scales
    * or zeroes a dimension is visible here before it silently degrades
    * every downstream cosine.
    *
    * ONE explode + map-side-combined aggregation to `dim` rows
    * (data-independent output size). Sums stage in DECIMAL(30,10) — the
    * k-means centroid discipline — so mean and std are exact,
    * order-independent, engine-reproducible; the variance is the
    * one-division E[x²]−E[x]² form with the same fixed operation order as
    * [[Curation.calibrateScores]].
    *
    * Returns (dim, n, mean, std, lo, hi) ordered by dimension index.
    */
  def dimensionProfile(corpus: DataFrame, vecCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(30, 10)
    val agg = corpus
      .select(posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "__x")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("__x").cast(dec)).as("__s"),
        sum((col("__x") * col("__x")).cast(dec)).as("__s2"),
        min(col("__x")).as("lo"), max(col("__x")).as("hi"))
    val m = agg("__s").cast("double") / agg("n")
    agg.select(col("dim"), col("n"),
        round(m.cast(org.apache.spark.sql.types.DecimalType(18, 8)), 6)
          .cast("double").as("mean"),
        round(sqrt(greatest(col("__s2").cast("double") / col("n") - m * m,
            lit(0.0))).cast(org.apache.spark.sql.types.DecimalType(18, 8)), 6)
          .cast("double").as("std"),
        col("lo"), col("hi"))
  }

  /** Embedding snapshot drift: per-dimension profile deltas between two
    * corpus snapshots — the embedding twin of
    * [[graft.functions.Curation.snapshotDiff]]: a re-embedding run that
    * re-scales, shifts, or deadens a dimension shows up as mean_shift /
    * std_ratio on a dim-count-sized table before any downstream cosine
    * quietly degrades.
    *
    * Two [[dimensionProfile]] passes (each ONE explode + map-side-combined
    * aggregation) joined on the dimension index — output and join are both
    * |dims| rows. Deltas are arithmetic on the profiles' already
    * decimal-staged 6dp values, so they are engine-reproducible.
    *
    * Returns (dim, old_mean, new_mean, mean_shift, old_std, new_std,
    * std_ratio) ordered by dim; std_ratio is NULL when old_std = 0.
    */
  def profileDrift(oldCorpus: DataFrame, newCorpus: DataFrame,
                   vecCol: String): DataFrame = {
    val po = dimensionProfile(oldCorpus, vecCol)
      .select(col("dim"), col("mean").as("old_mean"), col("std").as("old_std"))
    val pn = dimensionProfile(newCorpus, vecCol)
      .select(col("dim"), col("mean").as("new_mean"), col("std").as("new_std"))
    po.join(pn, Seq("dim"))
      .select(col("dim"), col("old_mean"), col("new_mean"),
        round((col("new_mean") - col("old_mean"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 6)
          .cast("double").as("mean_shift"),
        col("old_std"), col("new_std"),
        when(col("old_std") === 0.0, lit(null).cast("double"))
          .otherwise(round((col("new_std") / col("old_std"))
            .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 6)
            .cast("double")).as("std_ratio"))
  }

  /** Covariance submatrix over selected embedding dimensions — the
    * second-moment audit behind [[dimensionProfile]]: correlated dims mean
    * redundant capacity (a candidate for MRL truncation), near-zero rows
    * mean dead dims, and a covariance that drifts between snapshots is the
    * early warning [[profileDrift]]'s per-dim means can't see. Dims are
    * chosen by the caller (typically the ones dimensionProfile flagged) —
    * the full d×d matrix at corpus scale is d²·n products, so the audit is
    * explicitly a SUBMATRIX op.
    *
    * Scale shape: ONE scan, ONE reduce, ZERO row expansion — each of the
    * k per-dim sums and k(k+1)/2 pairwise product sums is just another
    * aggregate column in the same map-side-combined aggregation (the
    * poissonBootstrap discipline), and the single result row unpivots
    * (`stack`) to the pair table driver-free. Element products of
    * float-widened doubles are exact; each term stages in DECIMAL(30,10)
    * before the order-independent sum (the [[dimensionProfile]] staging),
    * so the matrix is engine-reproducible.
    *
    * Returns (dim_i, dim_j, n, mean_i, mean_j, cov) for i ≤ j over `dims`;
    * cov = E[xy] − E[x]E[y] with single IEEE divides of exact sums, 6dp.
    */
  def covarianceMatrix(corpus: DataFrame, vecCol: String,
                       dims: Seq[Int]): DataFrame =
    covOfMoments(covMoments(corpus, vecCol, dims), dims)

  /** The one-row additive moment state behind [[covarianceMatrix]]:
    * (__n, __s<d>…, __p<a>_<b>…) — every column is an exact decimal SUM,
    * so states from disjoint row sets fold by plain column-wise addition
    * (the linear-sketch property the streaming covariance monitor rides).
    */
  def covMoments(corpus: DataFrame, vecCol: String, dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty && dims.distinct.size == dims.size,
      "dims must be non-empty and distinct")
    val dec = org.apache.spark.sql.types.DecimalType(30, 10)
    def x(d: Int) = element_at(col(vecCol), d + 1).cast("double")
    val pairs = for (a <- dims; b <- dims if a <= b) yield (a, b)
    val aggs = (count(lit(1)).as("__n") +:
      dims.map(d => sum(x(d).cast(dec)).as(s"__s$d"))) ++
      pairs.map { case (a, b) => sum((x(a) * x(b)).cast(dec)).as(s"__p${a}_$b") }
    corpus.filter(col(vecCol).isNotNull).agg(aggs.head, aggs.tail: _*)
  }

  /** [[covarianceMatrix]]'s readout from a [[covMoments]] state row. */
  def covOfMoments(row: DataFrame, dims: Seq[Int]): DataFrame = {
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val pairs = for (a <- dims; b <- dims if a <= b) yield (a, b)
    val stackArgs = pairs.map { case (a, b) =>
      s"$a, $b, __n, cast(__s$a as decimal(30,10)), cast(__s$b as decimal(30,10)), cast(__p${a}_$b as decimal(30,10))"
    }.mkString(", ")
    val long = row.selectExpr(
      s"stack(${pairs.size}, $stackArgs) as (dim_i, dim_j, n, sx, sy, sxy)")
    val mi = col("sx").cast("double") / col("n")
    val mj = col("sy").cast("double") / col("n")
    long.select(col("dim_i").cast("int").as("dim_i"),
      col("dim_j").cast("int").as("dim_j"), col("n"),
      round(mi.cast(dec8), 6).cast("double").as("mean_i"),
      round(mj.cast(dec8), 6).cast("double").as("mean_j"),
      round((col("sxy").cast("double") / col("n") - mi * mj).cast(dec8), 6)
        .cast("double").as("cov"))
  }

  /** Cronbach's alpha over a set of embedding dimensions — the internal-
    * consistency readout of the covariance state: α = k/(k−1)·(1 −
    * Σvarᵢ/var(Σxᵢ)) reads how much the selected dims measure ONE latent
    * direction (α near 1: the dims are redundant — an MRL truncation or a
    * PCA fold loses little; α near 0: each dim carries independent
    * signal). The same number a labeling pipeline reads over k judge
    * scores per document ("do the judges agree enough to average").
    *
    * Scale shape: the corpus is touched ONLY by [[covMoments]]' one
    * scan+reduce (the additive [[graft.streaming.Streaming.CovMonitor]]
    * state — its `consistency` readout IS this); every variance and
    * covariance forms from the exact decimal sums in [[covOfMoments]]'
    * operation order, and the Σ chains fold left-to-right in dim order so
    * any engine replays the identical doubles.
    *
    * Returns one row (n, k, item_var, total_var, alpha); alpha NULL when
    * the total variance degenerates.
    */
  def cronbachAlpha(corpus: DataFrame, vecCol: String,
                    dims: Seq[Int]): DataFrame =
    cronbachOfMoments(covMoments(corpus, vecCol, dims), dims)

  /** [[cronbachAlpha]]'s formula stage over a [[covMoments]] state row. */
  def cronbachOfMoments(row: DataFrame, dims: Seq[Int]): DataFrame = {
    require(dims.size >= 2, "cronbach needs at least two dims")
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    val n = col("__n").cast("double")
    def s(d: Int) = col(s"__s$d").cast("double")
    def p(a: Int, b: Int) =
      col(s"__p${math.min(a, b)}_${math.max(a, b)}").cast("double")
    // covOfMoments' exact operation order: sxy/n − (sx/n)(sy/n)
    def cv(a: Int, b: Int): Column = p(a, b) / n - (s(a) / n) * (s(b) / n)
    val itemVar = dims.map(d => cv(d, d)).reduce(_ + _)
    val pairs = for (a <- dims; b <- dims if a <= b) yield (a, b)
    val totalVar = pairs.map { case (a, b) =>
      if (a == b) cv(a, b) else cv(a, b) * lit(2.0)
    }.reduce(_ + _)
    val k = dims.size.toDouble
    def r6(c: Column) = round(c.cast(dec8), 6).cast("double")
    row.select(col("__n").as("n"), lit(dims.size).as("k"),
      r6(itemVar).as("item_var"), r6(totalVar).as("total_var"),
      when(totalVar <= 0.0, lit(null).cast("double"))
        .otherwise(r6(lit(k / (k - 1.0)) * (lit(1.0) - itemVar / totalVar)))
        .as("alpha"))
  }

  /** Top principal component by power iteration over the
    * [[covarianceMatrix]] — the one-vector PCA an embedding audit wants:
    * the dominant direction's eigenvalue against the total variance says
    * how anisotropic the space is (a collapsed embedding model puts most
    * mass on one axis), and the loadings name the dims carrying it — the
    * evidence read before an MRL truncation or a whitening pass.
    *
    * Scale shape: the corpus is touched ONLY by covarianceMatrix's one
    * scan+reduce; the iteration runs on the k×k matrix — bounded by the
    * caller's dim selection, never by data — exactly like the k-means
    * codebook updates. Determinism: the matrix entries are the 6dp-rounded
    * covariances (engine-exact by covarianceMatrix's contract), and every
    * matvec/normalization is a FIXED-ORDER IEEE chain (first product, then
    * left-to-right adds — the minhashEval S-curve discipline), so `iters`
    * power steps are bit-reproducible by any engine replaying the same
    * chain. The sign is fixed by making the first dim's loading
    * non-negative. Degenerate all-zero covariance yields NaNs — callers
    * audit real corpora, not empty ones.
    *
    * Returns one row per dim: (dim, loading, eigenvalue) — the eigenvalue
    * (Rayleigh quotient at the final iterate) repeated per row, 6dp.
    */
  def topComponent(corpus: DataFrame, vecCol: String, dims: Seq[Int],
                   iters: Int = 10): DataFrame = {
    require(iters > 0, "iters must be positive")
    val k = dims.size
    val idx = dims.zipWithIndex.toMap
    val c = Array.ofDim[Double](k, k)
    covarianceMatrix(corpus, vecCol, dims).select("dim_i", "dim_j", "cov")
      .collect().foreach { r =>
        val (i, j, v) = (idx(r.getInt(0)), idx(r.getInt(1)), r.getDouble(2))
        c(i)(j) = v; c(j)(i) = v
      }
    def matvec(v: Array[Double]): Array[Double] = Array.tabulate(k) { i =>
      (1 until k).foldLeft(c(i)(0) * v(0))((acc, j) => acc + c(i)(j) * v(j))
    }
    def dot(a: Array[Double], b: Array[Double]): Double =
      (1 until k).foldLeft(a(0) * b(0))((acc, i) => acc + a(i) * b(i))
    var v = Array.fill(k)(1.0 / math.sqrt(k.toDouble))
    for (_ <- 0 until iters) {
      val w = matvec(v)
      val nrm = math.sqrt(dot(w, w))
      v = w.map(_ / nrm)
    }
    val lam = dot(v, matvec(v))
    val sign = if (v(0) < 0.0) -1.0 else 1.0
    val spark = corpus.sparkSession
    // rounding goes through the ENGINE's cast-to-decimal path (HALF_UP),
    // not driver-side math, so it is the same rounding every query uses
    val dec8 = org.apache.spark.sql.types.DecimalType(18, 8)
    import spark.implicits._
    dims.zipWithIndex.map { case (d, i) => (d, sign * v(i), lam) }
      .toDF("dim", "__l", "__e")
      .select(col("dim"),
        round(col("__l").cast(dec8), 6).cast("double").as("loading"),
        round(col("__e").cast(dec8), 6).cast("double").as("eigenvalue"))
  }

  /** Greedy k-center coreset selection (Gonzalez 1985, "Clustering to
    * minimize the maximum intercluster distance") — coverage-maximizing
    * data selection: start from the smallest id, then repeatedly pick the
    * vector FARTHEST from every center chosen so far (squared L2, ties to
    * the smallest id). The classic 2-approximation to the k-center
    * objective, and the shape behind coreset/active-learning selection of
    * training data: the selected rows cover the embedding space, not the
    * densest mode.
    *
    * 100 TB notes: a round is one corpus scan — the min-distance fold runs
    * over the BROADCAST selected-center array exactly like
    * [[assignClusters]] (zero row expansion, zero shuffle), and the argmax
    * is ONE map-side-combined `max_by` aggregation to a single row. k
    * rounds, k driver-held vectors, never a pairwise matrix. The corpus
    * frame freezes once and every round re-reads the materialized leaf.
    *
    * Returns (rank, vec_id, d2): selection order, chosen vector, and its
    * min-distance at selection (the covering-radius progression; the seed
    * reports 0.0).
    */
  /** Pairwise cosine-distance histogram over a deterministic sample — the
    * threshold-selection evidence for embedding dedup/ANN (the vector
    * twin of [[graft.functions.Dedup.thresholdCurve]]): where the
    * similarity mass sits decides whether 0.9 or 0.95 separates
    * near-dups from neighbors. An md5 id-sample of rate 1/`sampleMod`
    * bounds the all-pairs comparison to (n/sampleMod)² — the square-root
    * scaling that keeps a corpus-wide distribution estimate affordable
    * at any n — and the sampled pair set is reproducible across
    * runs/engines. ONE bounded self-join + bin rollup.
    *
    * Returns (bin, lo, n, frac) over cosine bins of `width`.
    */
  def cosineHistogram(corpus: DataFrame, idCol: String, vecCol: String,
                      width: Double = 0.1, sampleMod: Int = 20,
                      salt: String = "dh"): DataFrame = {
    require(width > 0 && sampleMod >= 1, "width > 0, sampleMod >= 1")
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val s = bridge.freeze(corpus
      .filter(graft.functions.Sampling.hashBucket(col(idCol), sampleMod, salt) === 0)
      .select(col(idCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__n", norm(col("__v"))))
    val a = s.select(col("__id").as("__ida"), col("__v").as("__va"), col("__n").as("__na"))
    val b = s.select(col("__id").as("__idb"), col("__v").as("__vb"), col("__n").as("__nb"))
    val bins = a.join(broadcast(b), col("__ida") < col("__idb"))
      .select(floor(round(cosinePre(col("__va"), col("__vb"), col("__na"), col("__nb"))
          .cast(dec), 6).cast("double") / width).cast("long").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
    val tot = broadcast(bins.agg(sum(col("n")).as("__tot")))
    bins.crossJoin(tot)
      .select(col("bin"), (col("bin") * width).as("lo"), col("n"),
        round((col("n").cast("double") / col("__tot")).cast(dec), 6)
          .cast("double").as("frac"))
  }

  /** k-NN label-vote evaluation — "do the embeddings encode the labels":
    * each query's top-k exact-cosine neighbors vote with their labels
    * (majority, ties to the smallest label), and the verdict compares
    * against the query's own label. The quick intrinsic-quality check run
    * before trusting an embedding snapshot for anything supervised —
    * accuracy collapsing between snapshots means the space moved.
    * Composes [[bruteForceTopK]] (corpus-scale work) with two bounded
    * aggregations over the |queries|·k candidate rows.
    *
    * Returns one row per query: (query_id, true_label, pred_label,
    * n_votes, correct).
    */
  def knnLabelEval(corpus: DataFrame, idCol: String, vecCol: String,
                   labelCol: String, queries: DataFrame, k: Int = 5): DataFrame = {
    require(k >= 1, "k must be positive")
    val labels = corpus.select(col(idCol).as("__lid"), col(labelCol).as("__lbl"))
    val top = bruteForceTopK(queries, corpus, idCol, vecCol, idCol, vecCol, k)
    val votes = top
      .join(labels.select(col("__lid").as("neighbor_id"), col("__lbl")), Seq("neighbor_id"))
      .groupBy(col("query_id"), col("__lbl")).agg(count(lit(1)).as("__v"))
      .groupBy(col("query_id"))
      .agg(max_by(struct(col("__lbl").as("__pl"), col("__v").as("__pv")),
        struct(col("__v"), (-col("__lbl").cast("long")).as("__nl"))).as("__b"))
      .select(col("query_id"), col("__b.__pl").as("pred_label"),
        col("__b.__pv").as("n_votes"))
    votes.join(labels.select(col("__lid").as("query_id"),
        col("__lbl").as("true_label")), Seq("query_id"))
      .select(col("query_id"), col("true_label"), col("pred_label"),
        col("n_votes"), (col("true_label") === col("pred_label")).as("correct"))
  }

  /** Position-weighted ranking-quality evaluation (nDCG@k with the
    * natural-log discount) — the companion to plain recall for grading an
    * approximate ranking (int8/PQ/LSH/IVF) against exact-cosine truth:
    * recall says WHETHER the true neighbors appear, nDCG says whether
    * they appear IN THE RIGHT ORDER, weighting rank-1 mistakes hardest.
    * The ln discount (`rel/ln(rank+1)`) replaces the conventional log2 —
    * same ordering weights up to a constant factor that cancels in the
    * dcg/idcg ratio, and `ln` is the one transcendental both engines
    * evaluate identically.
    *
    * `ranked` carries (query_id, neighbor_id, rank); `truth` carries
    * (query_id, neighbor_id, rel, rank) — its own rank already ideal
    * (rel-descending), so the ideal DCG needs no new window. Ranked items
    * outside the judged truth pool score rel 0 (the standard pooled-
    * judgment convention). Everything is |queries|·k rows after the
    * joins; decimal-staged sums, one double divide.
    *
    * Returns one row per query: (query_id, dcg, idcg, ndcg).
    */
  def ndcgOfRanking(ranked: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    def disc(r: Column) = log(r.cast("double") + 1.0)
    val dcg = ranked.filter(col("rank") <= k)
      .join(truth.select(col("query_id"), col("neighbor_id"), col("rel")),
        Seq("query_id", "neighbor_id"), "left")
      .withColumn("__rel", coalesce(col("rel"), lit(0.0)))
      .groupBy(col("query_id"))
      .agg(sum((col("__rel") / disc(col("rank"))).cast(dec)).as("__dcg"))
    val idcg = truth.filter(col("rank") <= k)
      .groupBy(col("query_id"))
      .agg(sum((col("rel") / disc(col("rank"))).cast(dec)).as("__idcg"))
    dcg.join(idcg, Seq("query_id"))
      .select(col("query_id"),
        round(col("__dcg"), 4).cast("double").as("dcg"),
        round(col("__idcg"), 4).cast("double").as("idcg"),
        round(when(col("__idcg") === 0, lit(0.0))
          .otherwise(col("__dcg").cast("double") / col("__idcg").cast("double"))
          .cast(dec), 4).cast("double").as("ndcg"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein 1998) —
    * the diversity stage of a RAG/retrieval stack: plain top-k returns
    * five near-copies of the best hit; MMR picks iteratively by
    * `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)`, trading relevance against
    * similarity to what is already selected.
    *
    * Scale shape: the corpus-scale work is ONE brute-cosine pass cut to
    * the `candK`-row candidate frame (TakeOrdered, frozen); each of the k
    * selection rounds is one aggregation over that bounded frame with the
    * selected vectors shipped as a single broadcast array (the
    * [[kCenterCoreset]] fold — k driver-held vectors, never a pairwise
    * matrix). Every cosine and score is decimal-staged at 6 places and
    * ties break to the smaller id, so the ranking is engine-reproducible.
    *
    * Returns k rows: (rank, vec_id, rel, score).
    */
  def mmrTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queryId: Long, candK: Int = 20, k: Int = 5,
              lambda: Double = 0.7): DataFrame = {
    require(candK >= k && k >= 1, "need candK >= k >= 1")
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val spark0 = corpus.sparkSession
    import spark0.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    def r6(c: Column): Column = round(c.cast(dec), 6).cast("double")
    val vecs = corpus.select(col(idCol).cast("long").as("__vid"),
      col(vecCol).cast("array<double>").as("__v"))
    val qRows = vecs.filter(col("__vid") === queryId).limit(1).collect()
    require(qRows.nonEmpty, s"mmrTopK: query id $queryId not in corpus")
    val qv = qRows(0).getSeq[Double](1)
    val qCol = broadcast(Seq(Tuple1(qv)).toDF("__q"))
    val cands = bridge.freeze(vecs.filter(col("__vid") =!= queryId)
      .crossJoin(qCol)
      .withColumn("rel", r6(cosine(col("__v"), col("__q"))))
      .orderBy(col("rel").desc, col("__vid").asc).limit(candK)
      .select(col("__vid"), col("__v"), col("rel")))
    var selected = Vector.empty[(Long, Seq[Double], Double, Double)]
    for (i <- 0 until k) {
      val scored =
        if (i == 0) cands.withColumn("__score", r6(lit(lambda) * col("rel")))
        else {
          val sel = broadcast(selected.map(_._2).toDF("__s")
            .agg(collect_list(col("__s")).as("__sels")))
          cands.filter(!col("__vid").isInCollection(selected.map(_._1)))
            .crossJoin(sel)
            .withColumn("__msim", array_max(transform(col("__sels"), s =>
              r6(cosine(col("__v"), s)))))
            .withColumn("__score",
              r6(lit(lambda) * col("rel") - lit(1.0 - lambda) * col("__msim")))
        }
      val p = scored
        .agg(max_by(struct(col("__vid"), col("__v"), col("rel"), col("__score")),
          struct(col("__score"), (-col("__vid")).as("__nid"))).as("__p"))
        .select(col("__p.*")).head()
      selected :+= ((p.getLong(0), p.getSeq[Double](1), p.getDouble(2), p.getDouble(3)))
    }
    selected.zipWithIndex.map { case ((id, _, rel, sc), i) => (i + 1, id, rel, sc) }
      .toDF("rank", "vec_id", "rel", "score")
  }

  def kCenterCoreset(corpus: DataFrame, idCol: String, vecCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val spark0 = corpus.sparkSession
    import spark0.implicits._
    val vecs = bridge.freeze(corpus.select(col(idCol).cast("long").as("__vid"),
      col(vecCol).cast("array<double>").as("__v")))
    val seedRows = vecs.orderBy(col("__vid")).limit(1).collect()
    require(seedRows.nonEmpty, "kCenterCoreset: corpus is empty — nothing to select")
    val seed = seedRows(0)
    var selected = Vector((seed.getLong(0), seed.getSeq[Double](1), 0.0))
    for (_ <- 1 until k) {
      // selected centers ship as ONE broadcast array column (the
      // assignClusters fold), not per-element lit() literals — k×dim
      // literal nodes blow up the expression tree/codegen at realistic
      // embedding dims (1536) long before k gets interesting
      val cents = broadcast(selected.map(_._2).toDF("__c")
        .agg(collect_list(col("__c")).as("__cents")))
      val far = vecs.crossJoin(cents)
        .withColumn("__xx", dot(col("__v"), col("__v")))
        .withColumn("__dmin", array_min(transform(col("__cents"), c =>
          col("__xx") - lit(2.0) * dot(col("__v"), c) + dot(c, c))))
        .agg(max_by(struct(col("__vid"), col("__v"), col("__dmin")),
          struct(col("__dmin"), (-col("__vid")).as("__nid"))).as("__far"))
        .select(col("__far.*")).head()
      selected :+= ((far.getLong(0), far.getSeq[Double](1), far.getDouble(2)))
    }
    selected.zipWithIndex
      .map { case ((id, _, d), i) => (i + 1, id, d) }
      .toDF("rank", "vec_id", "__d")
      .select(col("rank"), col("vec_id"),
        round(col("__d").cast(org.apache.spark.sql.types.DecimalType(18, 8)), 4)
          .cast("double").as("d2"))
  }

  /** final cluster assignment of every corpus vector against trained
    * centroids: (idCol, cluster, d2) with the distance decimal-staged so
    * external engines agree at the rounding boundary
    */
  def kMeansAssign(corpus: DataFrame, idCol: String, vecCol: String,
                   centroids: DataFrame): DataFrame = {
    val vecs = corpus.select(col(idCol).as("__vid"),
      col(vecCol).cast("array<double>").as("__v"))
    assignClusters(vecs, centroids)
      .select(col("__vid").as(idCol), col("cluster"),
        round(col("__d2").cast(org.apache.spark.sql.types.DecimalType(18, 8)), 4)
          .cast("double").as("d2"))
  }

  /** Per-vector symmetric int8 quantization (the embedding-compression step
    * of a large-scale vector pipeline): `scale = max|x| / 127`, each
    * component maps to `floor(x/scale + 0.5)` — bias rounding, chosen over
    * banker's/half-up because `floor` is the one rounding every engine
    * defines identically — giving values in [-127, 127] (the max-magnitude
    * component maps to exactly ±127, never a .5 case). Zero vectors
    * quantize to all-zero at scale 0.
    */
  def int8Scale(vec: Column): Column =
    array_max(transform(vec, x => abs(x))) / lit(127.0)

  /** quantize against a PRE-STAGED scale column. Referencing a staged
    * attribute keeps the per-element lambda O(1); embedding the
    * [[int8Scale]] expression directly would re-evaluate its O(dim)
    * array_max once per element — O(dim²) per row.
    */
  def int8QuantizeWith(vec: Column, scale: Column): Column =
    transform(vec, x =>
      when(scale === 0.0, lit(0)).otherwise(floor(x / scale + lit(0.5)).cast("int")))

  def int8Quantize(vec: Column): Column = int8QuantizeWith(vec, int8Scale(vec))

  /** squared reconstruction error |x - q*scale|² from pre-staged quantized
    * values and scale, as a left-to-right native dot product of the residual
    */
  def int8ErrorWith(vec: Column, quantized: Column, scale: Column): Column = {
    val r = zip_with(vec, quantized, (x, q) => x - q.cast("double") * scale)
    dot(r, r)
  }

  def int8Error(vec: Column): Column =
    int8ErrorWith(vec, int8Quantize(vec), int8Scale(vec))

  /** Product-quantization codebook training: the vector splits into `m`
    * contiguous subvectors of `dim/m` components, and each subspace trains
    * its own deterministic k-means codebook ([[kMeans]] — decimal-exact
    * means, id-seeded init, so the whole codebook is engine-reproducible).
    * Returns (sub, cluster, centroid).
    *
    * 100 TB notes: m independent small trainings, each the canonical
    * broadcast-assign + hash-agg Lloyd step; codebooks are k·m rows total —
    * always broadcastable.
    */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              dim: Int, m: Int = 8, k: Int = 16, iters: Int = 1): DataFrame =
    pqTrainOfSubs(frozenSubs(corpus, idCol, vecCol, dim, m),
      corpus, idCol, k, iters)

  /** [[pqTrain]] over an already-materialized subvector frame — the stage
    * split that lets [[pqTopK]]/[[ivfPqTopK]] explode the corpus ONCE and
    * reuse the frame for training AND encoding (round 16: the train
    * iterations, the init join and the encode each re-scanned and
    * re-exploded the corpus — 3-4 full passes per query).
    */
  private def pqTrainOfSubs(subs: DataFrame, seedSrc: DataFrame,
                            idCol: String, k: Int, iters: Int): DataFrame = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    // init: the k lowest-id vectors seed every subspace's codebook (labels
    // keep the seed id) — the same id-seeded init as [[kMeans]], per subspace
    val seedIds = seedSrc.select(col(idCol).as("__vid")).orderBy(col("__vid")).limit(k)
    var centroids = bridge.freeze(subs.join(broadcast(seedIds), Seq("__vid"))
      .select(col("sub"), col("__vid").as("cluster"), col("__sv").as("centroid")))
    // all m subspaces train in ONE fused plan per round: a single broadcast
    // join + a single (sub, cluster, dim) decimal-exact aggregation — job
    // count is constant in m, which is what keeps 16 codebooks as cheap as 1
    for (_ <- 1 to iters) {
      val assigned = assignSub(subs, centroids)
      centroids = bridge.freeze(assigned
        .select(col("sub"), col("cluster"), posexplode(col("__sv")).as(Seq("__dim", "__x")))
        .groupBy(col("sub"), col("cluster"), col("__dim"))
        .agg((sum(col("__x").cast(org.apache.spark.sql.types.DecimalType(30, 10)))
          .cast("double") / count(lit(1))).as("__cx"))
        .groupBy(col("sub"), col("cluster"))
        .agg(transform(array_sort(collect_list(struct(col("__dim"), col("__cx")))),
          s => s.getField("__cx")).as("centroid")))
    }
    centroids.select(col("sub"), col("cluster"), col("centroid"))
  }

  /** (id, sub, subvector) — one row per subspace, the PQ working shape */
  private def subspaceExplode(df: DataFrame, idCol: String, vecCol: String,
                              dim: Int, m: Int): DataFrame = {
    val subDim = dim / m
    val slices = array((0 until m).map(s =>
      slice(col(vecCol).cast("array<double>"), s * subDim + 1, subDim)): _*)
    df.select(col(idCol).as("__vid"), posexplode(slices).as(Seq("sub", "__sv")))
  }

  /** The materialized corpus subvector frame the PQ pipeline reuses:
    * compact (id, vec) rows rebalance BEFORE the explode (scale-adaptive,
    * [[graft.core.Scans.balancedForCompute]] — a no-op when the scan
    * already parallelizes), then the exploded (id, sub, subvector) frame
    * freezes so codebook training and encoding ride materialized blocks
    * instead of re-scanning the corpus per pass.
    */
  private def frozenSubs(corpus: DataFrame, idCol: String, vecCol: String,
                         dim: Int, m: Int): DataFrame = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    org.apache.spark.sql.graftbridge.Bridge.freeze(
      subspaceExplode(
        graft.core.Scans.balancedForCompute(
          corpus.select(col(idCol), col(vecCol)), col(idCol)),
        idCol, vecCol, dim, m))
  }

  /** [[pqEncode]] over an already-materialized subvector frame (keeps the
    * internal `__vid` id name; callers rename).
    */
  private def pqEncodeOfSubs(subs: DataFrame, codebook: DataFrame): DataFrame =
    assignSub(subs, codebook)
      .select(col("__vid"), col("sub"), col("cluster").as("code"))

  /** per-(sub, vector) nearest sub-centroid (ties → smallest cluster label):
    * the same argmin fold as [[assignClusters]], keyed per subspace — the
    * m-row per-sub codebook arrays broadcast-equi-join on `sub`, so the
    * encode is one broadcast join at scan speed (the window form shuffled
    * and sorted all m·|corpus| subvector rows)
    */
  private def assignSub(subs: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = broadcast(centroids.groupBy(col("sub")).agg(collect_list(
      struct(col("cluster"), col("centroid").as("__cv"))).as("__cents")))
    subs.join(cents, Seq("sub"))
      .withColumn("__xx", dot(col("__sv"), col("__sv")))
      .withColumn("__best", array_min(transform(col("__cents"), c => struct(
        (col("__xx") - lit(2.0) * dot(col("__sv"), c.getField("__cv"))
          + dot(c.getField("__cv"), c.getField("__cv"))).as("__d2"),
        c.getField("cluster").as("cluster")))))
      .select(col("sub"), col("__vid"), col("__sv"),
        col("__best.cluster").as("cluster"), col("__best.__d2").as("__d2"))
  }

  /** PQ encoding: each vector compresses to `m` sub-codebook ids —
    * dim doubles become m small ints (the bytes-per-vector memory shape
    * that makes 100 TB of embeddings fit an ANN serving tier). Returns
    * (idCol, sub, code) — one row per subspace; one broadcast join + one
    * partitioned window, constant in m.
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               dim: Int, m: Int, codebook: DataFrame): DataFrame =
    assignSub(subspaceExplode(corpus, idCol, vecCol, dim, m), codebook)
      .select(col("__vid").as(idCol), col("sub"), col("cluster").as("code"))

  /** ANN top-k via PQ asymmetric distance computation (ADC): queries stay
    * exact, corpus vectors are looked up by code — per-pair cost drops from
    * O(dim) multiplies to O(m) table lookups. The query's per-(sub, cluster)
    * distance table is tiny (|Q|·m·k rows) and broadcast; approximate
    * distance is the sum of per-subspace distances, staged in DECIMAL(18,8)
    * so the m-way sum is exact and order-independent across engines.
    *
    * ADC alone still scans every code row per query (that is its contract —
    * cheap distances, not candidate pruning); at 100 TB compose it with
    * [[ivfTopK]]'s coarse stage (IVFADC) so only probed clusters' codes are
    * scanned. Returns (query_id, neighbor_id, d2, rank).
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame,
             qId: String, qVec: String, cId: String, cVec: String,
             k: Int, dim: Int, m: Int = 8, kSub: Int = 16,
             iters: Int = 1): DataFrame = {
    // one corpus explode feeds training AND encoding (round 16)
    val subs = frozenSubs(corpus, cId, cVec, dim, m)
    val codebook = pqTrainOfSubs(subs, corpus, cId, kSub, iters)
    val codes = pqEncodeOfSubs(subs, codebook)
      .select(col("__vid").as("__cid"), col("sub"), col("code"))

    // per-query distance table to every sub-centroid: |Q|·m·kSub rows
    val dtab = subspaceExplode(queries, qId, qVec, dim, m)
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("__d2",
        (dot(col("__sv"), col("__sv")) - lit(2.0) * dot(col("__sv"), col("centroid"))
          + dot(col("centroid"), col("centroid")))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)))
      .select(col("__vid").as("__qid"), col("sub"), col("cluster").as("code"), col("__d2"))

    val joined = codes.join(broadcast(dtab), Seq("sub", "code"))
      .filter(col("__qid") =!= col("__cid"))
      .groupBy(col("__qid"), col("__cid"))
      .agg(sum(col("__d2")).as("__ad2"))
    topPerGroup(joined, Seq(col("__qid")), Seq(col("__ad2").asc, col("__cid").asc), k,
        Some("__rn"))
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        round(col("__ad2"), 4).cast("double").as("d2"), col("__rn").as("rank"))
  }

  /** ANN top-k via IVFADC — the composition [[pqTopK]]'s scaladoc promises
    * and the canonical 100 TB ANN shape: a deterministic sampled coarse
    * quantizer (euclidean routing, `nCoarse` lowest-id vectors) prunes each
    * query's candidates to its `nProbe` nearest clusters (one equi-join on
    * the cluster id — no all-pairs scan), then PQ asymmetric distances rank
    * only the pruned candidates. Candidate count drops by ~nProbe/nCoarse
    * and per-candidate cost is O(m) lookups — multiplicative savings.
    * Returns (query_id, neighbor_id, d2, rank); swap the sampled coarse
    * quantizer for [[kMeans]] centroids at the same plan shape.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                qId: String, qVec: String, cId: String, cVec: String,
                k: Int, dim: Int, m: Int = 8, kSub: Int = 16, iters: Int = 1,
                nCoarse: Int = 16, nProbe: Int = 4): DataFrame = {
    val coarseSrc = corpus.orderBy(col(cId)).limit(nCoarse)
      .select(col(cId).as("cluster"), col(cVec).cast("array<double>").as("centroid"))
    val coarse = broadcast(coarseSrc
      .select(col("cluster"), col("centroid").as("__cv")))
    def route(df: DataFrame, id: String, vec: String, out: String,
              probes: Int): DataFrame = {
      val scored = df.select(col(id).as(out), col(vec).cast("array<double>").as("__v"))
        .crossJoin(coarse)
        .withColumn("__d2",
          dot(col("__v"), col("__v")) - lit(2.0) * dot(col("__v"), col("__cv"))
            + dot(col("__cv"), col("__cv")))
      topPerGroup(scored, Seq(col(out)), Seq(col("__d2").asc, col("cluster").asc), probes)
        .select(col(out), col("cluster"))
    }
    // IVF pruning: query probes (windowed — the query side is small) against
    // the corpus assignment ([[assignClusters]]'s shuffle-free argmin fold —
    // the corpus is routed at scan speed), equi-joined on cluster
    val corpusRouted = assignClusters(
      graft.core.Scans.balancedForCompute(
        corpus.select(col(cId).as("__vid"), col(cVec).cast("array<double>").as("__v")),
        col("__vid")),
      coarseSrc)
      .select(col("__vid").as("__cid"), col("cluster"))
    val cand = route(queries, qId, qVec, "__qid", nProbe)
      .join(corpusRouted, Seq("cluster"))
      .select(col("__qid"), col("__cid"))

    // one corpus explode feeds training AND encoding (round 16)
    val subs = frozenSubs(corpus, cId, cVec, dim, m)
    val codebook = pqTrainOfSubs(subs, corpus, cId, kSub, iters)
    val codes = pqEncodeOfSubs(subs, codebook)
      .select(col("__vid").as("__cid"), col("sub"), col("code"))
    val dtab = subspaceExplode(queries, qId, qVec, dim, m)
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("__d2",
        (dot(col("__sv"), col("__sv")) - lit(2.0) * dot(col("__sv"), col("centroid"))
          + dot(col("centroid"), col("centroid")))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)))
      .select(col("__vid").as("__qid"), col("sub"), col("cluster").as("code"), col("__d2"))

    val joined = cand.join(codes, Seq("__cid"))
      .join(broadcast(dtab), Seq("__qid", "sub", "code"))
      .filter(col("__qid") =!= col("__cid"))
      .groupBy(col("__qid"), col("__cid"))
      .agg(sum(col("__d2")).as("__ad2"))
    topPerGroup(joined, Seq(col("__qid")), Seq(col("__ad2").asc, col("__cid").asc), k,
        Some("__rn"))
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        round(col("__ad2"), 4).cast("double").as("d2"), col("__rn").as("rank"))
  }

  /** Two-stage retrieval with exact rerank — the production ANN serving
    * shape: a cheap compressed-domain shortlist (PQ asymmetric distances,
    * `shortlist` candidates per query) followed by exact cosine over ONLY
    * the shortlisted vectors. Recall comes from the shortlist width, final
    * ordering from the exact metric; the full-precision vectors are fetched
    * candidate-proportionally (equi-join on the candidate id), never
    * corpus-wide — at 100 TB the rerank touches `|queries|·shortlist` rows
    * while the scan stays in 4-bit/8-byte PQ codes.
    *
    * The rerank key stages in DECIMAL(18,8) (id tiebreak) so the final
    * ranking is engine-identical. Returns (query_id, neighbor_id, cosine,
    * rank) with rank <= k.
    */
  def pqRerankTopK(queries: DataFrame, corpus: DataFrame,
                   qId: String, qVec: String, cId: String, cVec: String,
                   k: Int, shortlist: Int, dim: Int, m: Int = 8,
                   kSub: Int = 16, iters: Int = 1): DataFrame = {
    val cand = pqTopK(queries, corpus, qId, qVec, cId, cVec, shortlist, dim, m, kSub, iters)
      .select(col("query_id").as("__qid"), col("neighbor_id").as("__cid"))
    val q = queries.select(col(qId).as("__qid"), col(qVec).cast("array<double>").as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
    val c = corpus.select(col(cId).as("__cid"), col(cVec).cast("array<double>").as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
    val rer = cand.join(broadcast(q), Seq("__qid")).join(c, Seq("__cid"))
      .withColumn("__cos",
        cosinePre(col("__qv"), col("__cv"), col("__qn"), col("__cn"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)))
    topPerGroup(rer, Seq(col("__qid")), Seq(col("__cos").desc, col("__cid").asc), k,
        Some("__rn"))
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        round(col("__cos"), 4).cast("double").as("cosine"), col("__rn").as("rank"))
  }

  /** Deterministic negative sampling for contrastive training: for each
    * query, `k` corpus vectors drawn in md5-hash order of (query, candidate)
    * — the engine-reproducible stand-in for a uniform random draw, per the
    * [[graft.functions.Sampling]] discipline — excluding the query itself
    * and the `excludeK` hardest (highest exact cosine) candidates of the
    * drawn pool, the false-negative guard. In-batch/random negatives are
    * the standard counterpart to the positives a near-dup or retrieval
    * pipeline mines.
    *
    * Scale shape — no all-pairs anywhere: the corpus lands in `buckets`
    * md5-derived hash buckets (one bucket per candidate); each query
    * equi-joins its `probes` md5-selected buckets, so the candidate pool is
    * |queries|·probes/buckets·|corpus| rows — tune `buckets` up so the pool
    * stays constant per query as the corpus grows. Exclusion runs
    * POOL-LOCAL: only drawable candidates can be false negatives, so
    * corpus-wide exact kNN (itself an all-pairs scan) would spend a full
    * cross join excluding rows that were never drawable; and since a pool
    * member's pool rank never exceeds its corpus-wide rank (both rank by
    * the same (cosine desc, id asc) order over a subset), every corpus-wide
    * top-`excludeK` neighbor that is drawable IS excluded — the guard is
    * strictly stronger inside the pool, at zero scan cost.
    * Both per-query windows share the same partition key, so the second
    * reuses the first's exchange (one shuffle of the pool total).
    *
    * Returns (query_id, negative_id, neg_rank).
    */
  def negativeSample(queries: DataFrame, corpus: DataFrame,
                     qId: String, qVec: String, cId: String, cVec: String,
                     k: Int, excludeK: Int, salt: String = "",
                     buckets: Int = 16, probes: Int = 4): DataFrame = {
    require(probes >= 1 && probes <= buckets,
      s"probes=$probes must be in [1, buckets=$buckets]")
    val cand = corpus.select(col(cId).as("__cid"),
        col(cVec).cast("array<double>").as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
      .withColumn("__b", Sampling.hash60(col("__cid"), salt + "|b") % buckets)
    // probes consecutive buckets mod `buckets` starting at a per-query
    // md5 offset — distinct because probes <= buckets
    val qp = queries.select(col(qId).as("__qid"),
        col(qVec).cast("array<double>").as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
      .withColumn("__j", explode(sequence(lit(0L), lit(probes - 1L))))
      .withColumn("__b",
        (Sampling.hash60(col("__qid"), salt + "|q") % buckets + col("__j")) % buckets)
      .drop("__j")
    val pool = qp.join(cand, Seq("__b"))
      .filter(col("__qid") =!= col("__cid"))
      .withColumn("__cos", cosinePre(col("__qv"), col("__cv"), col("__qn"), col("__cn")))
      .withColumn("__h", Sampling.hash60(
        concat(col("__qid").cast("string"), lit("_"), col("__cid").cast("string")),
        salt))
      .select(col("__qid"), col("__cid"), col("__cos"), col("__h"))
    val wNear = Window.partitionBy(col("__qid")).orderBy(col("__cos").desc, col("__cid").asc)
    val rest = pool.withColumn("__nr", row_number().over(wNear)).filter(col("__nr") > excludeK)
    topPerGroup(rest, Seq(col("__qid")), Seq(col("__h").asc, col("__cid").asc), k, Some("__rn"))
      .select(col("__qid").as("query_id"), col("__cid").as("negative_id"),
        col("__rn").cast("long").as("neg_rank"))
  }

  /** ANN top-k via multi-table sign-LSH with multi-probe: `tables`
    * independent plane sets (offsets t·planes into the shared md5 plane
    * derivation) each bucket the corpus; queries probe their bucket per
    * table plus the `planes` 1-bit-flip neighbors, candidates union across
    * tables, then exact cosine + window top-k. Equi shuffle on
    * (table, bucket) instead of a cross join — the scale path; recall
    * compounds across tables: 1-(1-r₁)^L.
    */
  def annTopK(queries: DataFrame, corpus: DataFrame,
              qId: String, qVec: String, cId: String, cVec: String,
              k: Int, planes: Int = 8, multiProbe: Boolean = true,
              tables: Int = 2): DataFrame = {
    val ts = 0 until tables
    val cBuckets = array(ts.map(t => signLshBucket(col("__cv"), planes, t * planes)): _*)
    val cB = corpus.select(col(cId).as("__cid"), col(cVec).as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
      .select(col("__cid"), col("__cv"), col("__cn"),
        posexplode(cBuckets).as(Seq("__t", "__bucket")))

    // per table: the query's own bucket plus (optionally) its 1-bit flips
    def probesFor(t: Int): Column = {
      val b0 = signLshBucket(col("__qv"), planes, t * planes)
      val buckets =
        if (!multiProbe) array(b0)
        else array_union(array(b0),
          transform(sequence(lit(0), lit(planes - 1)),
            i => b0.bitwiseXOR(pow(lit(2.0), i).cast("long"))))
      transform(buckets, b => struct(lit(t).as("__t"), b.as("__bucket")))
    }
    val qB = queries.select(col(qId).as("__qid"), col(qVec).as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
      .withColumn("__probe", explode(flatten(array(ts.map(probesFor): _*))))
      .select(col("__qid"), col("__qv"), col("__qn"),
        col("__probe.__t").as("__t"), col("__probe.__bucket").as("__bucket"))

    val joined = qB.join(cB, Seq("__t", "__bucket"))
      .filter(col("__qid") =!= col("__cid"))
      .withColumn("cosine", cosinePre(col("__qv"), col("__cv"), col("__qn"), col("__cn")))
    topPerGroup(joined.select(col("__qid"), col("__cid"), col("cosine")).distinct(),
        Seq(col("__qid")), Seq(col("cosine").desc, col("__cid").asc), k, Some("__rn"))
      .select(col("__qid").as("query_id"), col("__cid").as("neighbor_id"),
        round(col("cosine").cast(org.apache.spark.sql.types.DecimalType(18, 8)), 4)
          .cast("double").as("cosine"),
        col("__rn").as("rank"))
  }
}
