package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.tables.DistributedDenseAssigner

/** Physical-layout planning for large-scale training corpora: Z-order
  * (Morton-curve) clustering for multi-dimensional data skipping, and
  * size-balanced shard assignment for downstream loaders.
  *
  * Both are deterministic, set-oriented plans — no RNG state, no driver
  * loops — so a 100 TB relayout is reproducible and restartable.
  */
object Layout {

  /** Morton Z-value of two non-negative integer keys: the low `bits` bits of
    * `x` and `y` interleaved (x at even positions, y at odd). Rows sorted by
    * z-value cluster BOTH dimensions, so per-file min/max statistics are
    * tight on both columns and a scan with a predicate on either one prunes
    * files — the standard lakehouse Z-order layout, as a pure codegen'd
    * column expression (the bit positions are disjoint, so the per-bit
    * contributions sum without carries).
    */
  def zValue(x: Column, y: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 31, "bits must be in [1, 31]")
    val xs = x.cast("long")
    val ys = y.cast("long")
    (0 until bits).map { i =>
      shiftleft(shiftright(xs, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(ys, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** Assign each row a target file by fixed-width Z-range: file f covers
    * z-values [f·2^(2·bits)/files, (f+1)·2^(2·bits)/files). Scan-speed —
    * no sort, no shuffle: writing with `partitionBy(fileCol)` (or a
    * repartition on it) realizes the clustered layout. `files` must be a
    * power of two so the range boundary is a pure bit shift.
    */
  def zorderFile(x: Column, y: Column, bits: Int, files: Int): Column = {
    require(files > 0 && (files & (files - 1)) == 0, "files must be a power of two")
    val shift = 2 * bits - java.lang.Integer.numberOfTrailingZeros(files)
    require(shift >= 0, "files must be <= 4^bits")
    shiftright(zValue(x, y, bits), shift)
  }

  /** Per-file layout statistics after Z-order assignment: row count and
    * min/max of both source dimensions — the data-skipping bounds a reader
    * would consult. One partial-aggregated shuffle of `files` groups.
    */
  def zorderStats(df: DataFrame, x: Column, y: Column, bits: Int, files: Int): DataFrame =
    df.select(zorderFile(x, y, bits, files).as("file_id"), x.as("__x"), y.as("__y"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("__x")).as("x_min"), max(col("__x")).as("x_max"),
        min(col("__y")).as("y_min"), max(col("__y")).as("y_max"))

  /** Size-balanced shard assignment: rows ordered by descending `size`
    * (ties by `id`) are dealt serpentine-wise across `shards` bins —
    * ordinal 0,1,…,n-1 then n-1,…,1,0, repeating — the classic folded
    * round-robin that bounds any bin's total to within one max-element of
    * the optimum on sorted input. The global ordinal comes from the same
    * distributed dense assigner the surrogate-key path uses (partition-range
    * offsets over a frozen range-sorted delta — no single-partition window),
    * so the plan survives shard counts and corpus sizes the greedy
    * driver-side packer cannot.
    */
  def shardBalanced(df: DataFrame, idCol: String, sizeCol: String, shards: Int): DataFrame = {
    require(shards > 0, "shards must be positive")
    // maxExisting = -1 makes the dense keys 0-based ordinals; the assigner
    // sorts ascending, so order by the negated size for descending
    val (keyed, _) = DistributedDenseAssigner.assignWithMax(
      df, "__ord", -1L, Seq(negate(col(sizeCol)), col(idCol)))
    val cycle = lit(2L * shards)
    val pos = col("__ord") % cycle
    keyed.withColumn("shard",
        when(pos < shards, pos).otherwise(cycle - lit(1L) - pos).cast("int"))
      .drop("__ord")
  }

  /** Range-partition boundary planner — the RangePartitioner prep for a
    * globally-sorted layout: split points for `nParts` ranges over
    * `valueCol`, computed from a DETERMINISTIC hash sample (the
    * [[Sampling.sampleByHash]] md5 derivation, so the same rows sample on
    * every run and every engine — Spark's own RangePartitioner samples
    * nondeterministically, which is exactly what a reproducible 100 TB
    * layout job cannot tolerate). The boundary picks ride the bounded
    * [[Stats.histogramQuantiles]] bin machinery: ONE aggregation of the
    * sample to its bin table, cumulative counts from the bin self-join —
    * never a global sort, never a driver-side collect of sample rows.
    *
    * Returns one row per interior boundary k/nParts: (q, bin, lo, hi,
    * cum_count, total) — `hi` is the boundary value at bin resolution.
    */
  def rangeBounds(df: DataFrame, valueCol: String, idCol: String,
                  nParts: Int, width: Double, sampleFrac: Double = 0.05,
                  salt: String = "range-v1"): DataFrame = {
    require(nParts > 1, "nParts must be > 1")
    val sample = Sampling.sampleByHash(df, idCol, sampleFrac, salt = salt)
    Stats.histogramQuantiles(sample, valueCol, width,
      (1 until nParts).map(_.toDouble / nParts))
  }

  /** Small-files compaction planner — the OPTIMIZE/maintenance pass every
    * long-lived 100 TB table needs: streaming ingest and per-batch merges
    * leave thousands of undersized files whose open/seek overhead
    * eventually dominates scans. Files under `minBytes` are binned into
    * compaction groups targeting `targetBytes` each (group count =
    * ⌈small-total / target⌉); files already big enough are left alone
    * (group −1) — rewriting healthy data is the compaction anti-pattern.
    *
    * Grouping reuses [[shardBalanced]]'s serpentine deal over distributed
    * dense ordinals (descending size, ties to id): each group's total
    * lands within one max-small-file of the optimum, deterministic across
    * runs/engines. The single driver-side value is the 1-row small-bytes
    * total (the bounded-gate pattern — the group COUNT must be a plan
    * literal).
    *
    * Returns every input file as (idCol, bytes, group_id); group_id −1 =
    * keep as is.
    */
  def compactionPlan(files: DataFrame, idCol: String, bytesCol: String,
                     targetBytes: Long, minBytes: Long): DataFrame = {
    require(targetBytes > 0 && minBytes > 0 && minBytes <= targetBytes,
      "need 0 < minBytes <= targetBytes")
    val small = files.filter(col(bytesCol) < minBytes)
    val keep = files.filter(col(bytesCol) >= minBytes)
      .select(col(idCol), col(bytesCol).cast("long").as("bytes"),
        lit(-1).cast("int").as("group_id"))
    val totalRow = small.agg(sum(col(bytesCol)).cast("long")).head()
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    if (total == 0L) return keep
    val groups = math.max((total + targetBytes - 1) / targetBytes, 1L).toInt
    shardBalanced(small, idCol, bytesCol, groups)
      .select(col(idCol), col(bytesCol).cast("long").as("bytes"),
        col("shard").cast("int").as("group_id"))
      .unionByName(keep)
  }

  /** Shard-level summary of a [[shardBalanced]] assignment: per-shard row
    * count and total size — the balance evidence (max/min total size ratio
    * approaches 1 as rows-per-shard grows).
    */
  def shardStats(assigned: DataFrame, sizeCol: String): DataFrame =
    assigned.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"), sum(col(sizeCol)).as("total_size"))
}
