package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Statistics, SubqueryAlias}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Column <-> Expression bridge plus the engine's one freeze. `ExpressionUtils`
  * is private[sql] in Spark 4's classic backend; this object lives in the
  * org.apache.spark.sql namespace to re-expose the conversions custom
  * Catalyst expressions need, and to build the frozen leaf
  * ([[freezeCounted]]): a `LogicalRDD` over checkpointed blocks that carries
  * its own statistics, which only this namespace can construct. Because
  * only this object builds that leaf, only it tests for one: a frozen
  * frame's row count lives on its leaf ([[knownCount]]), and no holder of a
  * frozen frame keeps a second copy of it. [[isFrozen]] tells a frame that
  * IS the leaf from one that merely reads it.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly materialize `df` (RDD-level localCheckpoint) and rebuild a CLEAN
    * leaf over the checkpointed blocks that reports what it holds: its
    * statistics carry the exact row count and the bytes actually stored.
    *
    * Why not `Dataset.localCheckpoint`: (a) it bakes the physical plan's
    * outputOrdering/outputPartitioning into the resulting LogicalRDD — those
    * expressions carry exprIds that go stale when the plan is cached and
    * reused under self-join deduplication (InMemoryRelation.withOutput then
    * fails on the unmapped attribute); (b) the count() that materializes the
    * blocks here is the SAME single job — callers that need the delta size
    * (key assignment) get it without a second pass.
    *
    * The statistics cost no job either: the copying map sums each stored
    * row's `UnsafeRow.getSizeInBytes` into an accumulator, the way Spark
    * sizes a cached `InMemoryRelation`. So Catalyst plans joins over a
    * frozen frame by its real size (a size-gated broadcast opens when it is
    * small), and `LogicalRDD.newInstance` keeps the statistics across
    * self-join deduplication.
    *
    * The `.copy()` is required: the executed plan reuses UnsafeRow buffers
    * per partition, and the persisted blocks must hold independent rows.
    */
  def freezeCounted(df: DataFrame): (DataFrame, Long) = {
    val spark = df.sparkSession.asInstanceOf[SparkSession]
    val bytes = spark.sparkContext.longAccumulator
    val fallbackRowBytes = df.schema.defaultSize.toLong
    val rdd = df.queryExecution.toRdd.map { r =>
      val c = r.copy()
      bytes.add(c match {
        case u: UnsafeRow => u.getSizeInBytes.toLong
        case _ => fallbackRowBytes
      })
      c
    }
    rdd.localCheckpoint()
    val n = rdd.count() // the one job: computes, persists, truncates lineage, counts
    val stats = Statistics(sizeInBytes = BigInt(bytes.value), rowCount = Some(BigInt(n)))
    val leaf = LogicalRDD(DataTypeUtils.toAttributes(df.schema), rdd)(spark, Some(stats))
    (Dataset.ofRows(spark, leaf), n)
  }

  def freeze(df: DataFrame): DataFrame = freezeCounted(df)._1

  /** An upper bound on `df`'s row count, if `df` is a frame produced by
    * [[freezeCounted]] — possibly under cheap row-local wrappers
    * (Project/Filter/SubqueryAlias only; anything else returns None). Free:
    * no job runs; the count is the frozen leaf's own `rowCount` statistic
    * (this is the only code that builds a `LogicalRDD` with one). Exact for
    * Project/SubqueryAlias chains; a Filter only removes rows, so the bound
    * stays valid for partition sizing. Lets downstream operators size their
    * partitioning from the REAL input instead of a config constant.
    */
  def knownCount(df: DataFrame): Option[Long] = leafCount(df.queryExecution.analyzed, rowOps = true)

  /** true iff `df` IS a frame [[freezeCounted]] built: its plan is the
    * counted leaf itself, at most under a `SubqueryAlias`. Unlike
    * [[knownCount]], a projection or filter over the leaf does not count —
    * such a frame still reads (and pins) the whole frozen input, so a holder
    * that keeps it should freeze it again.
    */
  def isFrozen(df: DataFrame): Boolean = leafCount(df.queryExecution.analyzed, rowOps = false).isDefined

  @annotation.tailrec
  private def leafCount(p: LogicalPlan, rowOps: Boolean): Option[Long] = p match {
    case l: LogicalRDD => l.computeStats().rowCount.map(_.toLong)
    case a: SubqueryAlias => leafCount(a.child, rowOps)
    case pr: Project if rowOps => leafCount(pr.child, rowOps)
    case f: Filter if rowOps => leafCount(f.child, rowOps)
    case _ => None
  }

  /** `df` itself if it already is a frozen frame (modulo row-local
    * wrappers, see [[knownCount]]), else its [[freeze]] — avoids
    * re-checkpointing a frame a caller or a monitor state froze moments ago
    * (one redundant materialization job per call otherwise). Either way
    * [[knownCount]] of the result is defined.
    */
  def ensureFrozen(df: DataFrame): DataFrame =
    if (knownCount(df).isDefined) df else freeze(df)
}
