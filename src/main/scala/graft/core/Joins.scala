package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{abs, array, broadcast, col, count, explode,
  floor, lit, raise_error, sequence, when, xxhash64}

/** Size-aware join-side policy.
  *
  * The reference caches whole dimensions in driver memory when told to
  * (pygrametl/tables.py:549-616 — unbounded dicts for `cachesize<0`); the
  * Spark analogue is a broadcast hash join, but broadcasting an *unbounded*
  * side is the classic 100 TB failure mode (a 500M-row dimension OOMs every
  * executor). Policy here: hint broadcast only when Catalyst's own size
  * estimate is under a threshold, otherwise leave the plan unhinted so
  * Catalyst/AQE picks a shuffle join (and can still convert to broadcast at
  * runtime if actual stats allow).
  */
object Joins {

  /** Default cap for an explicitly hinted broadcast side (64 MiB estimated). */
  val BroadcastThresholdBytes: Long = 64L << 20

  /** Catalyst's plan-time size estimate for `df` in bytes. Unknown sizes
    * (e.g. opaque RDD scans without origin stats) surface as Long.MaxValue
    * and are treated as "too big to hint".
    */
  def estimatedSize(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Hint broadcast iff the estimated size is under `threshold`; otherwise
    * return `df` unhinted (AQE decides).
    */
  def maybeBroadcast(df: DataFrame, threshold: Long = BroadcastThresholdBytes): DataFrame =
    if (estimatedSize(df) <= BigInt(threshold)) broadcast(df) else df

  /** Bloom-filter pre-pruned semi join — the 100 TB shuffle diet for
    * "big fact ⋉ selective key set": a bloom of the small side's keys is
    * built in ONE aggregation (bounded: `numBits/8` bytes regardless of
    * row count), folded into the big side's scan as a might_contain
    * predicate — so non-matching rows die AT THE SCAN, before the join
    * shuffle — and the survivors (matches + ≤fpp false positives) go
    * through the exact semi join. Result is EXACTLY the plain semi join;
    * the bloom only changes how many rows travel.
    *
    * This is the runtime-filter pattern Spark's optimizer injects for
    * qualifying shuffle joins, exposed as an explicit operator for the
    * shapes auto-injection misses (derived key sets, multi-step pipelines,
    * anti joins). The one-row bloom materializes through the driver like
    * Spark's own injected scalar subquery does — `maxBits` caps that at
    * 16 MiB by default (128M bits ≈ 1% fpp for ~13M keys).
    *
    * `how` = "left_semi" (default) or "left_anti"; for anti, the bloom
    * prunes nothing on the big side (every row must still be verified) so
    * the filter is skipped — the call degrades to the exact join.
    */
  def bloomSemiJoin(big: DataFrame, small: DataFrame,
                    bigKey: String, smallKey: String,
                    expectedItems: Long = 1L << 20, fpp: Double = 0.01,
                    how: String = "left_semi",
                    maxBits: Long = 128L << 20): DataFrame = {
    require(how == "left_semi" || how == "left_anti", s"unsupported how=$how")
    val cond = big(bigKey) === small(smallKey)
    if (how == "left_anti") return big.join(small, cond, how)
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.types.BinaryType
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    // optimal bits for the target fpp, capped so the driver-side fold stays
    // bounded (the cap degrades fpp, never correctness)
    val optimal = math.ceil(-expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val numBits = math.max(64L, math.min(optimal, maxBits))
    val agg = bridge.column(new BloomFilterAggregate(
      bridge.expression(xxhash64(small(smallKey))),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression())
    val bloom = small.agg(agg.as("__bloom")).head.getAs[Array[Byte]](0)
    // an empty small side yields a NULL bloom — nothing can match
    if (bloom == null) return big.join(small, cond, how)
    val might = bridge.column(BloomFilterMightContain(
      Literal(bloom, BinaryType), bridge.expression(xxhash64(col(bigKey)))))
    big.filter(might).join(small, cond, how)
  }

  private def isIntegral(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
  }

  /** floor(c / w) in EXACT integer arithmetic — the bucketing path for
    * integral axes with whole-number widths: `floor(col / width)` through a
    * double can misround beyond 2^53 (or for widths that don't divide
    * exactly) and assign a point and its interval/target to different
    * buckets, silently dropping true matches. `div` truncates toward zero,
    * so negative non-exact quotients step down one to floor semantics.
    */
  private def exactFloorDiv(c: Column, w: Long): Column = {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val cl = c.cast("long")
    val q = bridge.column(new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
      bridge.expression(cl), bridge.expression(lit(w))))
    when(cl % w =!= 0 && cl < 0, q - 1).otherwise(q).cast("long")
  }

  /** Bucketed point-in-interval join — the scale-safe plan for `p BETWEEN
    * lo AND hi` with no equi key (IP→CIDR lookup, value-in-hot-band
    * tagging, timestamp-in-window joins). Catalyst plans a bare interval
    * predicate as BroadcastNestedLoopJoin (or a cartesian) — |points|×
    * |intervals| comparisons, dead at scale. The standard decomposition:
    * quantize the axis into `width`-sized buckets, explode each interval
    * into the buckets it touches, and equi-join on the bucket key before
    * applying the exact predicate — a plain shuffled hash join whose row
    * expansion is span/width per interval, tunable to the data.
    *
    * Exactness: a point lies in exactly one bucket and an interval covers
    * each of its buckets exactly once, so the (bucket, exact-predicate)
    * pair finds every qualifying (point, interval) combination exactly
    * once — no dedup step. Pick `width` near the median interval span:
    * smaller widths expand the interval side, larger widths send more
    * non-matching pairs into the exact filter. `maxBucketsPerInterval`
    * guards the explode against a whale interval (a misconfigured width
    * on an open-ended range would otherwise materialize millions of rows
    * for ONE interval) — it raises, never truncates.
    *
    * Returns the inner join of the two frames (all columns from both) for
    * points with `lo <= p < hi` (half-open, the bin convention).
    */
  def intervalJoin(points: DataFrame, pCol: String,
                   intervals: DataFrame, loCol: String, hiCol: String,
                   width: Double, maxBucketsPerInterval: Int = 1 << 14): DataFrame = {
    require(width > 0, "width must be positive")
    // integral axes with a whole width bucket in exact integer arithmetic;
    // mixed/fractional axes keep the double floor (documented 2^53 bound)
    val useInt = width.isWhole && isIntegral(points.schema(pCol).dataType) &&
      isIntegral(intervals.schema(loCol).dataType) &&
      isIntegral(intervals.schema(hiCol).dataType)
    def bk(c: Column): Column =
      if (useInt) exactFloorDiv(c, width.toLong) else floor(c / width).cast("long")
    val p = points.filter(col(pCol).isNotNull)
      .withColumn("__bk", bk(col(pCol)))
    val nb = (bk(col(hiCol)) - bk(col(loCol))) + 1
    val iv = intervals
      .filter(col(loCol).isNotNull && col(hiCol).isNotNull && col(loCol) < col(hiCol))
      .filter(when(nb > maxBucketsPerInterval,
        raise_error(lit(s"interval exceeds $maxBucketsPerInterval buckets — raise width"))
          .isNotNull).otherwise(lit(true)))
      .withColumn("__bk", explode(sequence(bk(col(loCol)), bk(col(hiCol)))))
    p.join(iv, p("__bk") === iv("__bk")
        && col(pCol) >= col(loCol) && col(pCol) < col(hiCol))
      .drop("__bk")
  }

  /** Bucketed interval-overlap join — the scale-safe plan for
    * "`[aLo, aHi)` overlaps `[bLo, bHi)`" with no equi key beyond optional
    * partition keys (session-overlap detection, meeting/booking conflicts,
    * span-vs-span containment screens). The bare overlap predicate
    * `aLo < bHi AND bLo < aHi` has no equality Catalyst can hash on, so it
    * plans as a BroadcastNestedLoopJoin — |A|×|B| comparisons per key
    * group, dead at scale. Decomposition: quantize the axis into
    * `width`-sized buckets, explode EACH side's interval into the buckets
    * it touches, equi-join on (`keys`, bucket), and apply the exact
    * predicate — a plain shuffled hash join.
    *
    * Exactly-once without a distinct: two overlapping intervals share
    * every bucket their intersection touches, so the bucket join alone
    * would emit a pair once per shared bucket. The responsibility rule
    * keeps only the bucket containing `greatest(aLo, bLo)` — the
    * intersection's first point, which both intervals provably cover — so
    * each qualifying pair survives in EXACTLY one bucket and the
    * deduplicating shuffle a `distinct` would cost is never needed.
    *
    * Integral axes with whole-number widths bucket in exact integer
    * arithmetic (the [[intervalJoin]] 2^53 rationale); the same
    * `maxBucketsPerInterval` whale guard raises rather than materializing
    * a misconfigured explode. Returns the inner join (all columns from
    * both sides; `keys` columns once) for half-open overlap.
    */
  def overlapJoin(left: DataFrame, lLo: String, lHi: String,
                  right: DataFrame, rLo: String, rHi: String,
                  width: Double, keys: Seq[String] = Nil,
                  maxBucketsPerInterval: Int = 1 << 14): DataFrame = {
    require(width > 0, "width must be positive")
    import org.apache.spark.sql.functions.greatest
    val useInt = width.isWhole &&
      Seq(left.schema(lLo).dataType, left.schema(lHi).dataType,
        right.schema(rLo).dataType, right.schema(rHi).dataType).forall(isIntegral)
    def bk(c: Column): Column =
      if (useInt) exactFloorDiv(c, width.toLong) else floor(c / width).cast("long")
    def prep(df: DataFrame, lo: String, hi: String, bkName: String): DataFrame = {
      val nb = (bk(col(hi)) - bk(col(lo))) + 1
      df.filter(col(lo).isNotNull && col(hi).isNotNull && col(lo) < col(hi))
        .filter(when(nb > maxBucketsPerInterval,
          raise_error(lit(s"interval exceeds $maxBucketsPerInterval buckets — raise width"))
            .isNotNull).otherwise(lit(true)))
        .withColumn(bkName, explode(sequence(bk(col(lo)), bk(col(hi)))))
    }
    val l = prep(left, lLo, lHi, "__bka")
    val r = prep(right, rLo, rHi, "__bkb")
    val cond = (keys.map(k => l(k) === r(k)) ++ Seq(
      l("__bka") === r("__bkb"),
      l(lLo) < r(rHi), r(rLo) < l(lHi),
      l("__bka") === bk(greatest(l(lLo), r(rLo))))).reduce(_ && _)
    val joined = l.join(r, cond).drop("__bka", "__bkb")
    keys.foldLeft(joined)((df, k) => df.drop(r(k)))
  }

  /** Bounded-radius nearest join on a long axis — "align each probe to its
    * nearest target within `maxDistance`" (an event to the nearest snapshot
    * timestamp, a reading to the nearest calibration point). Catalyst has
    * no nearest-neighbor join; the naive form is a range self-join plus a
    * per-probe rank — quadratic per key group. The scale-safe decomposition:
    * quantize the axis at `maxDistance`, explode each probe into its own
    * and both adjacent buckets (any target within the radius must lie
    * there), equi-join on (`keys`, bucket), and resolve the nearest by ONE
    * `min(struct(distance, targetId))` aggregation — lexicographic struct
    * ordering gives the deterministic (distance, id) tie-break with a
    * narrow two-field buffer, never a per-probe sort.
    *
    * Exactness within the radius: a (probe, target) pair with
    * `|p−t| <= maxDistance` differs by at most one bucket index, and the
    * target's single bucket is among the probe's three, matched exactly
    * once. Probes with no target inside the radius drop out (inner-join
    * semantics). Row expansion is a fixed 3× on the probe side; the join
    * stays keyed, shuffles once per side, and the rollup is
    * map-side-combined.
    *
    * Returns one row per matched probe: (keys..., pIdCol, tIdCol,
    * distance).
    */
  def nearestJoin(probes: DataFrame, pAxis: String, pIdCol: String,
                  targets: DataFrame, tAxis: String, tIdCol: String,
                  maxDistance: Long, keys: Seq[String] = Nil): DataFrame = {
    require(maxDistance > 0, "maxDistance must be positive")
    import org.apache.spark.sql.functions.{abs, array, min, struct}
    // long axes bucket in exact integer arithmetic (same 2^53 rationale as
    // intervalJoin); fractional axes keep the double floor
    val useInt = isIntegral(probes.schema(pAxis).dataType) &&
      isIntegral(targets.schema(tAxis).dataType)
    def bk(c: Column): Column =
      if (useInt) exactFloorDiv(c, maxDistance) else floor(c / maxDistance).cast("long")
    val p = probes.filter(col(pAxis).isNotNull)
      .withColumn("__pb", bk(col(pAxis)))
      .withColumn("__bk", explode(array(col("__pb") - 1, col("__pb"), col("__pb") + 1)))
      .drop("__pb")
    val t = targets.filter(col(tAxis).isNotNull)
      .select((keys.map(col) :+ bk(col(tAxis)).as("__bk")) :+
        col(tIdCol).as("__tid") :+ col(tAxis).as("__tax"): _*)
    p.join(t, keys :+ "__bk")
      .withColumn("__d", abs(col(pAxis) - col("__tax")))
      .filter(col("__d") <= maxDistance)
      .groupBy((keys :+ pIdCol).map(col): _*)
      .agg(min(struct(col("__d"), col("__tid"))).as("__best"))
      .select((keys :+ pIdCol).map(col) :+ col("__best.__tid").as(tIdCol) :+
        col("__best.__d").as("distance"): _*)
  }

  /** Generic as-of join (the pandas `merge_asof` / kdb `aj` shape): each
    * probe row picks the single most recent quote row of the same key with
    * `quote.time <= probe.time` (inclusive on ties — a same-instant quote
    * is visible). The trades-and-quotes / feature-freshness join:
    * "which model version / price / config was in effect when this event
    * happened" — the reference's SCD `lookupasof`
    * (pygrametl/tables.py:1555-1711) generalized from dimension versions
    * to any two frames.
    *
    * Scale shape: NOT a range join (which Catalyst would plan as a
    * per-key BroadcastNestedLoop or an O(probes×quotes-per-key) range
    * scan). Both sides are union-tagged and shuffled ONCE on the key; one
    * per-key (ts, tag, id)-ordered window carries the latest quote payload
    * forward (`last(..., ignoreNulls)` — the [[graft.functions.Events]]
    * attribution discipline), so each probe reads its answer at sort
    * speed. Per-key data is calendar-bounded — no whale partitions; cost
    * is one shuffle + one sort of probes+quotes, independent of how stale
    * the nearest quote is. `toleranceSeconds` (optional) voids matches
    * older than the window — a row whose quote is too stale reports nulls,
    * not a wrong old value.
    *
    * Returns the probe id/key/time plus each `payload` column (null when
    * no quote precedes) and `quote_time` (the matched quote's timestamp).
    */
  def asofJoin(probes: DataFrame, pIdCol: String,
               quotes: DataFrame, qIdCol: String,
               keyCol: String, timeCol: String,
               payload: Seq[String],
               toleranceSeconds: Option[Long] = None): DataFrame = {
    require(payload.nonEmpty, "asofJoin needs at least one payload column")
    import org.apache.spark.sql.functions.{last, struct, unix_micros}
    // quotes sort BEFORE probes at the same timestamp (tag 0 < 1): a
    // same-instant quote is visible to the probe — lookupasof's inclusive
    // endpoint (tables.py:1604-1617, inclusive=(True, x)). Among equal-ts
    // quotes the LARGEST qIdCol wins (last in frame order) — deterministic.
    val q = quotes.select(col(keyCol), col(timeCol), lit(0).as("__tag"),
      col(qIdCol).as("__ord"),
      lit(null).cast(probes.schema(pIdCol).dataType).as("__pid"),
      struct((col(timeCol).as("__qt") +: payload.map(col)): _*).as("__quote"))
    val p = probes.select(col(keyCol), col(timeCol), lit(1).as("__tag"),
      lit(null).cast(quotes.schema(qIdCol).dataType).as("__ord"),
      col(pIdCol).as("__pid"),
      lit(null).cast(q.schema("__quote").dataType).as("__quote"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(timeCol), col("__tag"), col("__ord"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val carried = q.unionByName(p)
      .withColumn("__c", last(col("__quote"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
    val fresh = toleranceSeconds match {
      case None => carried.withColumn("__ok", col("__c").isNotNull)
      case Some(tol) => carried.withColumn("__ok", col("__c").isNotNull &&
        unix_micros(col(timeCol)) - unix_micros(col("__c.__qt")) <= tol * 1000000L)
    }
    fresh.select((col("__pid").as(pIdCol) +: col(keyCol) +: col(timeCol) +:
      payload.map(f => when(col("__ok"), col(s"__c.$f")).as(f))) :+
      when(col("__ok"), col("__c.__qt")).as("quote_time"): _*)
  }

  /** Bucketed band join — the scale-safe plan for `|a.x − b.x| ≤ tol` with
    * no equi key (price-proximity matching, sensor cross-validation,
    * numeric blocking for record linkage). The bare distance predicate has
    * no equality to hash on, so Catalyst plans BroadcastNestedLoopJoin —
    * |A|×|B| comparisons, dead at scale. Decomposition: quantize the axis
    * into `tol`-sized buckets; a right row lands in exactly ONE bucket and
    * any left partner within tol lies in the left row's bucket ±1, so the
    * left side explodes into its three probe buckets, equi-joins on
    * (`keys`, bucket), and the exact `abs(l − r) ≤ tol` predicate prunes
    * the candidates — a plain shuffled hash join with 3× expansion of the
    * LEFT side only (put the smaller side left).
    *
    * Exactly-once without dedup: the three probe buckets are distinct and
    * the right row occupies one bucket, so each qualifying pair meets in
    * exactly one bucket. Integral axes with whole-number tolerances bucket
    * in exact integer arithmetic (the [[intervalJoin]] 2^53 rationale).
    * `keys` are (leftCol, rightCol) equi-key pairs applied inside the same
    * hash join; name them distinctly (both frames' columns survive).
    * `lCol`/`rCol` MAY share a name — all references are side-qualified.
    *
    * Returns the inner join (all columns from both sides) for
    * `abs(lCol − rCol) ≤ tol` — the predicate evaluates as the single IEEE
    * `abs`/`−`/`≤` sequence, engine-reproducible.
    */
  def bandJoin(left: DataFrame, lCol: String, right: DataFrame, rCol: String,
               tol: Double, keys: Seq[(String, String)] = Nil): DataFrame = {
    require(tol > 0, "tol must be positive")
    val useInt = tol.isWhole && isIntegral(left.schema(lCol).dataType) &&
      isIntegral(right.schema(rCol).dataType)
    def bk(c: Column): Column =
      if (useInt) exactFloorDiv(c, tol.toLong) else floor(c / tol).cast("long")
    val l = left.filter(col(lCol).isNotNull)
      .withColumn("__bk", explode(array(bk(col(lCol)) - 1, bk(col(lCol)), bk(col(lCol)) + 1)))
    val r = right.filter(col(rCol).isNotNull).withColumn("__bkr", bk(col(rCol)))
    // side-qualified band columns: the natural call has lCol == rCol
    // (price vs price), and unqualified col(...)s would be AMBIGUOUS
    val cond = keys.foldLeft(
      l("__bk") === r("__bkr") && abs(l(lCol) - r(rCol)) <= tol) {
      case (c, (lk, rk)) => c && l(lk) === r(rk)
    }
    l.join(r, cond).drop("__bk", "__bkr")
  }

  /** The rows of `df` whose `bucket` holds at most `maxBucket` rows — the
    * degenerate-bucket guard of candidate generation (a boilerplate band
    * key yields quadratic pairs and no signal). The count is a window over
    * the bucket key, so a join on that key that follows reuses its exchange.
    */
  def capBuckets(df: DataFrame, bucket: Seq[String], maxBucket: Int): DataFrame =
    df.withColumn("__cnt", count(lit(1)).over(Window.partitionBy(bucket.map(col): _*)))
      .filter(col("__cnt") <= maxBucket).drop("__cnt")

  /** Within-bucket candidate pairs, the one self-join behind near-dup and
    * co-occurrence candidates: every pair of rows of `df` sharing a
    * `bucket`, as (bucket..., id_a, id_b, c_a, c_b per `carry` column c)
    * with `id_a < id_b` — one equi-shuffle, Σ|bucket|² work. Null buckets
    * and ids pair with nothing; no distinct, so a repeated row keeps its
    * multiplicity. `maxBucket` first applies [[capBuckets]].
    */
  def bucketPairs(df: DataFrame, bucket: Seq[String], id: String,
                  carry: Seq[String] = Nil,
                  maxBucket: Int = Int.MaxValue): DataFrame = {
    val src = if (maxBucket == Int.MaxValue) df else capBuckets(df, bucket, maxBucket)
    def side(s: String) = src.select(bucket.map(col) ++
      (col(id).as(s"id_$s") +: carry.map(c => col(c).as(s"${c}_$s"))): _*)
    side("a").join(side("b"), bucket).filter(col("id_a") < col("id_b"))
  }
}
