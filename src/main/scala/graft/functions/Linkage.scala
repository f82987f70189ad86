package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Record linkage / entity resolution for dimensional ETL — the fuzzy
  * "is this incoming customer the same customer" match that exact
  * `Dimension.lookup` (pygrametl/tables.py:549-616 keys on equality)
  * cannot answer: source systems spell the same entity differently, and
  * a warehouse that inserts both gets a split dimension.
  *
  * The standard two-stage shape: BLOCK (a cheap equi-key that any true
  * match must share — here exact block columns plus a normalized-name
  * prefix) to kill the |A|×|B| cross product, then SCORE survivors with
  * normalized edit similarity. Blocking is a plain shuffled equi-join;
  * scoring is the codegen'd `levenshtein` builtin evaluated only on
  * pair-proportional candidates — the [[Dedup.editVerify]] discipline
  * applied to entity records instead of documents.
  */
object Linkage {

  /** lowercase, strip non-alphanumerics to single spaces, trim — the
    * [[TextAnalysis]] normalization applied to entity names
    */
  def normName(c: Column): Column =
    trim(regexp_replace(lower(c), "[^a-z0-9]+", " "))

  /** Blocked fuzzy link: candidates share every `blockCols` pair AND the
    * first `prefixLen` chars of the normalized name; each candidate is
    * scored `1 − lev/maxlen` (decimal-staged) and kept at `minSim`+.
    * `maxBlock` caps pathological blocks (an "UNKNOWN" name bucket would
    * otherwise go quadratic): rows in oversized blocks are dropped from
    * candidate generation — the [[graft.core.Joins.capBuckets]] guard;
    * a block that big is a data-quality problem, not a linkage
    * candidate set.
    *
    * Returns (leftId, rightId, name_sim), highest-similarity candidates
    * included only — downstream `ensure` merges decide survivorship.
    */
  def blockedLink(left: DataFrame, right: DataFrame,
                  leftId: String, rightId: String,
                  leftName: String, rightName: String,
                  blockCols: Seq[(String, String)],
                  prefixLen: Int = 3, minSim: Double = 0.8,
                  maxBlock: Int = 10000): DataFrame =
    linkAgainstIndex(
      linkIndex(left, leftId, leftName, blockCols.map(_._1), prefixLen, maxBlock),
      right, leftId, rightId, rightName, blockCols.map(_._2),
      prefixLen, minSim, maxBlock)

  /** normalize + prefix + block-cap ONE side; side-suffixed column names
    * keep the downstream join unambiguous
    */
  private def prepCapped(df: DataFrame, id: String, name: String,
                         blocks: Seq[String], side: String,
                         prefixLen: Int, maxBlock: Int): DataFrame = {
    val nn = normName(col(name))
    val prepped = df.select(col(id).as(s"__id$side") +: nn.as(s"__n$side") +:
      substring(nn, 1, prefixLen).as(s"__p$side") +:
      blocks.zipWithIndex.map { case (b, i) => col(b).as(s"__b$i$side") }: _*)
    // cap per-side block membership so a degenerate key cannot go
    // quadratic: block sizes come from ONE map-side-combined aggregation
    // to the bounded |blocks|-row table, and surviving keys semi-join
    // back (size-gated broadcast) — scan speed, where a count WINDOW
    // would sort the whole side per block key
    // not Joins.capBuckets: the index side is frozen, so no later join reuses a window's exchange
    val keyCols = s"__p$side" +: blocks.indices.map(i => s"__b$i$side")
    val ok = prepped.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") <= maxBlock).drop("__cnt")
    prepped.join(graft.core.Joins.maybeBroadcast(ok), keyCols, "left_semi")
  }

  /** The corpus-side prep of [[blockedLink]] — normalized name, prefix,
    * block columns, block cap — as a standalone frame: build it ONCE for a
    * static dimension (freeze/persist it), then match every incoming batch
    * with [[linkAgainstIndex]]. The [[Dedup.minhashIndex]] discipline
    * applied to entity resolution: at 100 TB the dimension side's
    * normalization and block-size aggregation are the dominant repeated
    * cost of a per-batch `blockedLink`, and they never change between
    * batches.
    */
  def linkIndex(left: DataFrame, leftId: String, leftName: String,
                leftBlocks: Seq[String], prefixLen: Int = 3,
                maxBlock: Int = 10000): DataFrame = {
    require(prefixLen > 0 && maxBlock > 1, "need prefixLen > 0, maxBlock > 1")
    prepCapped(left, leftId, leftName, leftBlocks, "L", prefixLen, maxBlock)
  }

  /** [[blockedLink]]'s match stage against a pre-built [[linkIndex]]: preps
    * and caps ONLY the incoming side, then blocks and scores as
    * [[blockedLink]] does — per-batch cost is batch-proportional (the
    * index never re-aggregates, never re-normalizes). `prefixLen` must
    * equal the index's.
    */
  def linkAgainstIndex(index: DataFrame, right: DataFrame,
                       leftId: String, rightId: String,
                       rightName: String, rightBlocks: Seq[String],
                       prefixLen: Int = 3, minSim: Double = 0.8,
                       maxBlock: Int = 10000): DataFrame = {
    require(prefixLen > 0 && minSim >= 0 && minSim <= 1 && maxBlock > 1,
      "need prefixLen > 0, minSim in [0,1], maxBlock > 1")
    val dec = org.apache.spark.sql.types.DecimalType(18, 8)
    val r = prepCapped(right, rightId, rightName, rightBlocks, "R",
      prefixLen, maxBlock)
    val cond = (col("__pL") === col("__pR")) +:
      rightBlocks.indices.map(i => col(s"__b${i}L") === col(s"__b${i}R"))
    val maxLen = greatest(length(col("__nL")), length(col("__nR")), lit(1))
    index.join(r, cond.reduce(_ && _))
      // exact prefilter: levenshtein >= |lenA - lenB|, so any pair whose
      // length gap alone puts it under minSim can skip the edit
      // computation without changing the result
      .filter(abs(length(col("__nL")) - length(col("__nR"))).cast("double")
        <= (lit(1.0) - minSim) * maxLen.cast("double"))
      // BANDED edit distance on the survivors: any pair whose 4dp-rounded
      // similarity can still reach minSim has lev ≤ (1−minSim+0.00005)·
      // maxlen, so the DP runs with a per-pair threshold k =
      // floor((1−minSim)·maxlen + 1 + maxlen/16384) — the +1 plus the
      // 1/16384 (> 0.00005) term strictly cover the half-up rounding
      // margin at every length — in O(k·len) instead of O(len²), and
      // returns −1 above k. −1 rows are EXACTLY the rows the similarity
      // filter drops, so the candidate set is unchanged while the hot
      // scoring loop (the dominant cost at sf1, where blocks hold the
      // full name cross-product) drops ~len/k×.
      .withColumn("__lev", levenshteinWithin(col("__nL"), col("__nR"),
        floor(maxLen.cast("double") * lit(1.0 - minSim) + lit(1.0) +
          maxLen.cast("double") / lit(16384.0)).cast("int")))
      .filter(col("__lev") >= 0)
      .withColumn("name_sim",
        round((lit(1.0) - col("__lev").cast("double") / maxLen.cast("double"))
          .cast(dec), 4).cast("double"))
      .filter(col("name_sim") >= minSim)
      .select(col("__idL").as(leftId), col("__idR").as(rightId), col("name_sim"))
  }

  /** Threshold levenshtein with a PER-PAIR threshold column — the native
    * [[graft.plans.LevenshteinStripped]]: value-identical to Spark's banded
    * `Levenshtein(a, b, Some(k))` (exact distance when ≤ k, −1 above), with
    * common prefix/suffix stripping first, so blocked candidates sharing
    * long name affixes (the dominant case inside an entity block) pay a
    * few DP cells instead of k·len.
    */
  private def levenshteinWithin(a: Column, b: Column, k: Column): Column =
    graft.plans.NativeFunctions.levenshteinStripped(a, b, k)

  /** Resolution step over a [[blockedLink]] candidate table: each incoming
    * row takes its best-scoring dimension match (ties to the smallest
    * dimension id — deterministic), rows with no candidate resolve as NEW.
    * This is the decision `ensure` needs: linked rows map to existing
    * surrogate keys, new rows insert. ONE map-side-combined `max_by`
    * aggregation over the candidate table plus a left join from the
    * incoming set — the corpus never re-shuffles.
    *
    * Returns one row per incoming id: (rightId, resolved_<leftId>,
    * best_sim, is_new).
    */
  def resolveBest(links: DataFrame, incoming: DataFrame,
                  leftId: String, rightId: String): DataFrame = {
    val best = links.groupBy(col(rightId))
      .agg(max_by(struct(col(leftId).as("__k"), col("name_sim").as("__s")),
        struct(col("name_sim"), (-col(leftId)).as("__nid"))).as("__b"))
      .select(col(rightId), col("__b.__k").as(s"resolved_$leftId"),
        col("__b.__s").as("best_sim"))
    incoming.select(col(rightId)).join(best, Seq(rightId), "left")
      .withColumn("is_new", col(s"resolved_$leftId").isNull)
  }
}
