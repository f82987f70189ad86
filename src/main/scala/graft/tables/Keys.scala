package graft.tables

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Surrogate-key assignment strategies.
  *
  * Reference: the default `idfinder` is a sequential MAX(key)+1 counter
  * (pygrametl/tables.py:234-243, 460-462) and the parallel variant hands out
  * integer ranges per worker (`getsharedsequencefactory`,
  * pygrametl/parallel.py:1121-1177). The idfinder contract is "any unique
  * value" — density is not required — which is what makes a distributed
  * assigner legal.
  */
trait KeyAssigner extends Serializable {

  /** Add column `keyCol` with unique values > maxExisting to `newMembers`. */
  def assign(newMembers: DataFrame, keyCol: String, maxExisting: Long, orderBy: Seq[Column]): DataFrame

  /** `assign`, frozen, plus the new max key (`maxExisting` when the delta
    * is empty). This is the one key-assignment contract the managed tables
    * use: the keyed delta is frozen (Bridge.freeze — checkpoint + count in
    * ONE job), because assigners that derive keys from physical row
    * placement (partition id / position) are only stable across repeated
    * actions AFTER materialization. The default reads the max off the
    * frozen delta (one scan of its blocks); assigners that know it from
    * their own count override this and save that job.
    */
  def assignWithMax(newMembers: DataFrame, keyCol: String, maxExisting: Long,
                    orderBy: Seq[Column]): (DataFrame, Long) = {
    val keyed = org.apache.spark.sql.graftbridge.Bridge.freeze(assign(newMembers, keyCol, maxExisting, orderBy))
    val r = keyed.agg(max(col(keyCol).cast("long"))).head()
    (keyed, if (r.isNullAt(0)) maxExisting else math.max(maxExisting, r.getLong(0)))
  }
}

/** maxExisting + row_number() ordered by the lookup attributes: dense,
  * deterministic keys. The window is single-partition, which is fine when the
  * per-batch *new member* set is small (the common dimensional case) — the
  * big input has already been deduplicated/anti-joined down before this runs.
  * For huge new-member sets use [[PartitionRangeAssigner]].
  */
object MaxPlusRowNumberAssigner extends KeyAssigner {
  def assign(newMembers: DataFrame, keyCol: String, maxExisting: Long, orderBy: Seq[Column]): DataFrame = {
    val w = Window.orderBy(orderBy: _*)
    newMembers.withColumn(keyCol, row_number().over(w).cast("long") + lit(maxExisting))
  }
}

/** Distributed key assignment without a global window: each partition gets a
  * disjoint id range (`partitionId * stride + rowInPartition`), the set-wise
  * form of the reference's shared-sequence interval scheme
  * (pygrametl/parallel.py:1121-1177). Keys are unique but sparse — allowed by
  * the idfinder contract. 100 TB-safe: no shuffle, no single partition.
  */
final class PartitionRangeAssigner(stride: Long = 1L << 33) extends KeyAssigner {
  def assign(newMembers: DataFrame, keyCol: String, maxExisting: Long, orderBy: Seq[Column]): DataFrame = {
    // monotonically_increasing_id = partitionId(31 bits) << 33 | rowInPartition
    val base = ((maxExisting / stride) + 1) * stride
    newMembers.withColumn(keyCol, monotonically_increasing_id() + lit(base))
  }
}

/** Dense, deterministic keys WITHOUT the single-partition window, in a
  * single pass over the upstream plan:
  *
  *  1. freeze the raw delta (the materializer's checkpoint) — the ONE job
  *     that computes the upstream anti-join/dedup pipeline;
  *  2. count it with a near-free scan of the materialized blocks, then pick
  *     the sort strategy by the TRUE size: at or below [[smallDeltaRows]] a
  *     bounded single-partition sort (`coalesce(1)` — narrow, no shuffle, no
  *     range-sampling pass); above it a parallel `repartitionByRange` sort
  *     whose sampling pass reads the frozen blocks instead of re-running the
  *     upstream;
  *  3. key = maxExisting + partition offset + position-in-partition, a pure
  *     codegen'd column expression (`monotonically_increasing_id`'s low 33
  *     bits are the position within the partition) — rows never leave
  *     Tungsten, no `.rdd` Row round-trip, no extra map job.
  *
  * Produces exactly the keys `MaxPlusRowNumberAssigner` would (row_number
  * over the global `orderBy` order). The single-partition path is principled,
  * not a scale hazard: it is chosen only when the delta is PROVEN bounded
  * (exact count of materialized blocks), and huge deltas take the parallel
  * range sort. The new max key falls out of the same count — no extra
  * max-scan job.
  *
  * This is the default assigner — dense like the reference's MAX(key)+1
  * counter (pygrametl/tables.py:234-243), scale-safe like its interval scheme
  * (pygrametl/parallel.py:1121-1177).
  */
class DistributedDenseAssigner(
    /** deltas with at most this many rows take the bounded single-partition
      * sort (a few hundred MB at typical dimension row widths)
      */
    val smallDeltaRows: Long = DistributedDenseAssigner.SmallDeltaRows
) extends KeyAssigner {

  def assign(newMembers: DataFrame, keyCol: String, maxExisting: Long, orderBy: Seq[Column]): DataFrame =
    assignWithMax(newMembers, keyCol, maxExisting, orderBy)._1

  override def assignWithMax(newMembers: DataFrame, keyCol: String, maxExisting: Long,
                             orderBy: Seq[Column]): (DataFrame, Long) = {
    val asc = orderBy.map(_.asc)
    val posInPartition = monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1))
    // the ONE pass over the upstream plan: checkpoint + count fused into a
    // single job; everything below reads the frozen blocks
    val (delta, total) = org.apache.spark.sql.graftbridge.Bridge.freezeCounted(newMembers)
    if (total == 0L) {
      (delta.withColumn(keyCol, lit(maxExisting + 1L)), maxExisting)
    } else if (total <= smallDeltaRows) {
      // bounded delta: narrow single-partition sort over the frozen blocks —
      // no shuffle, no sampling, deterministic on re-evaluation (the input
      // layout is frozen), cheap enough to stay lazy (PROVEN <= smallDeltaRows)
      val keyed = delta.coalesce(1).sortWithinPartitions(asc: _*)
        .withColumn(keyCol, lit(maxExisting + 1L) + posInPartition)
      (keyed, maxExisting + total)
    } else {
      // huge delta: parallel range sort, frozen so the partition layout the
      // offsets were counted from IS the layout the key expression sees
      val parts = newMembers.sparkSession.sessionState.conf.numShufflePartitions
      val sorted = org.apache.spark.sql.graftbridge.Bridge.freeze(
        delta.repartitionByRange(parts, asc: _*).sortWithinPartitions(asc: _*))
      // rows per range-partition (RangePartitioner may emit <= parts; absent
      // ids count 0): one partial-agg scan, 1 output row per partition
      val counts = new Array[Long](parts max 1)
      sorted.groupBy(spark_partition_id().as("__p")).agg(count(lit(1)).as("__n"))
        .collect().foreach(r => counts(r.getInt(0)) = r.getLong(1))
      val offsets = counts.scanLeft(0L)(_ + _)
      val keyed = sorted.withColumn(keyCol,
        lit(maxExisting + 1L) +
          element_at(typedLit(offsets.init.toSeq), spark_partition_id() + 1) +
          posInPartition)
      (keyed, maxExisting + total)
    }
  }
}

/** The default assigner instance (4M-row single-partition gate). */
object DistributedDenseAssigner extends DistributedDenseAssigner(1L << 22) {
  val SmallDeltaRows: Long = 1L << 22
}
