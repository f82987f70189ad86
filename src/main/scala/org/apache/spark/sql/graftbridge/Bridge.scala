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
  * its own statistics, which only this namespace can construct.
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
  def knownCount(df: DataFrame): Option[Long] = {
    @annotation.tailrec
    def leaf(p: LogicalPlan): Option[Long] = p match {
      case l: LogicalRDD => l.computeStats().rowCount.map(_.toLong)
      case pr: Project => leaf(pr.child)
      case f: Filter => leaf(f.child)
      case a: SubqueryAlias => leaf(a.child)
      case _ => None
    }
    leaf(df.queryExecution.analyzed)
  }

  /** [[freezeCounted]] unless `df` already IS a frozen frame (modulo
    * projections) — avoids re-checkpointing a frame a caller or a monitor
    * state froze moments ago (one redundant materialization job per call
    * otherwise).
    */
  def ensureFrozenCounted(df: DataFrame): (DataFrame, Long) =
    knownCount(df) match {
      case Some(n) => (df, n)
      case None => freezeCounted(df)
    }

  def ensureFrozen(df: DataFrame): DataFrame = ensureFrozenCounted(df)._1
}
