package graft.tables

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Scans

/** Fact table: composite PK of dimension references (`keyrefs`) + `measures`.
  *
  * Reference: pygrametl/tables.py:2136-2355 (`FactTable`, `BatchFactTable`,
  * bulk variants). Batching/bulk-loading (tables.py:2278-2356, 2508-2683) is
  * subsumed by Spark's vectorized columnar writes; `insert` is an append,
  * `lookup` a join, `ensure` an anti-join append with optional measure
  * validation.
  */
class FactTable(
    val name: String,
    val keyrefs: Seq[String],
    val measures: Seq[String],
    override val dependsOn: Seq[String] = Nil
) extends ManagedTable {

  protected var state: DataFrame = _
  def allColumns: Seq[String] = keyrefs ++ measures

  /** Append a delta as a materialized leaf: state stays a flat union of
    * checkpointed blocks, never a recompute lineage.
    */
  protected def appendDelta(delta: DataFrame): Unit =
    state = state.unionByName(materialize(delta))

  def init(df: DataFrame): this.type = {
    requireColumns(df, allColumns, "init")
    state = df.select(allColumns.map(col): _*)
    this
  }

  def initEmpty(schemaFrom: DataFrame): this.type =
    init(schemaFrom.select(allColumns.map(col): _*).limit(0))

  def current: DataFrame = state

  /** insert: append facts (all keyrefs + measures required).
    * Reference: tables.py:2184-2197.
    */
  def insert(df: DataFrame, namemapping: Map[String, String] = Map.empty): this.type = {
    val in = graft.core.Nm.applyMapping(df, namemapping)
    requireColumns(in, allColumns, "insert")
    appendDelta(in.select(allColumns.map(col): _*))
    this
  }

  /** lookup: fetch facts by composite keyrefs (misses → NULL measures).
    * Reference: tables.py:2214-2230.
    */
  def lookup(df: DataFrame, namemapping: Map[String, String] = Map.empty): DataFrame =
    graft.core.Nm.applyMapping(df, namemapping).join(state, keyrefs, "left")

  /** ensure: insert facts not already present (by keyrefs). With
    * `compare=true`, raise if an existing fact's measures differ — a
    * validation count, not a per-row exception (reference tables.py:2238-2271,
    * SURVEY §7.3).
    */
  def ensure(df: DataFrame, compare: Boolean = false,
             namemapping: Map[String, String] = Map.empty): this.type = {
    val in0 = graft.core.Nm.applyMapping(df, namemapping).select(allColumns.map(col): _*)
    // with compare the input has two consumers (validation scan + anti-join
    // delta): materialize once instead of computing the upstream twice
    val in = if (compare) materialize(in0) else in0
    if (compare) {
      val existing = state.select(allColumns.map(col): _*)
      val renamed = measures.foldLeft(existing)((d, m) => d.withColumnRenamed(m, s"__e_$m"))
      val mismatches = in.join(renamed, keyrefs, "inner")
        .filter(measures.map(m => !(col(m) <=> col(s"__e_$m"))).reduceOption(_ || _).getOrElse(lit(false)))
        .limit(1).count()
      require(mismatches == 0L, s"ensure(compare=true): measure mismatch in $name")
    }
    val newFacts = in.join(state.select(keyrefs.map(col): _*), keyrefs, "left_anti")
    appendDelta(newFacts)
    this
  }
}

/** Accumulating snapshot fact table: facts whose non-PK dimension references
  * (`otherrefs`) and measures are updated in place as the business process
  * progresses.
  *
  * Reference: pygrametl/tables.py:2359-2505. `ensure` is an upsert: insert if
  * absent (missing otherrefs/measures → NULL); else overwrite changed columns,
  * where `ignoreNone*` means an incoming NULL never clobbers a stored value.
  * Set-wise this is a MERGE: full-outer join old/new + per-column
  * `coalesce`/`when` recompute, then full-table swap (copy-on-write parquet).
  */
class AccumulatingSnapshotFactTable(
    name: String,
    keyrefs: Seq[String],
    val otherrefs: Seq[String],
    measures: Seq[String],
    val ignoreNoneRefs: Boolean = true,
    val ignoreNoneMeasures: Boolean = true,
    override val dependsOn: Seq[String] = Nil,
    val factExpander: DataFrame => DataFrame = identity
) extends FactTable(name, keyrefs, measures) {

  override def allColumns: Seq[String] = keyrefs ++ otherrefs ++ measures

  /** MERGE: upsert the incoming snapshot rows (one row per keyrefs tuple —
    * duplicates would multiply facts through the full-outer join, so they
    * collapse here; state cardinality = old keys ∪ new keys, invariant).
    * `orderCol` picks the surviving row per key deterministically (latest by
    * orderCol — the set form of the reference's sequential last-write-wins,
    * tables.py:2466-2505); without it an arbitrary duplicate survives.
    *
    * The merged state is materialized: repeated merges (the streaming
    * foreachBatch steady state) each cost O(state), not O(history).
    */
  def merge(updates: DataFrame, namemapping: Map[String, String] = Map.empty,
            orderCol: Option[Column] = None): this.type = {
    val mapped = graft.core.Nm.applyMapping(updates, namemapping)
    val collapsed = orderCol match {
      case Some(o) => Scans.topPerGroup(mapped, keyrefs.map(col), Seq(o.desc), 1)
      case None => mapped.dropDuplicates(keyrefs)
    }
    // __n_present marks the incoming side of the join: an incoming row
    // whose values are all NULL still clobbers when NULLs do
    val u = collapsed.select(allColumns.map(col) :+ lit(true).as("__n_present"): _*)
    val updatable = otherrefs ++ measures
    val renamed = updatable.foldLeft(u)((d, c) => d.withColumnRenamed(c, s"__n_$c"))
    val joined = state.join(renamed, keyrefs, "full_outer")

    def pick(c: String, ignoreNone: Boolean): Column =
      if (ignoreNone) coalesce(col(s"__n_$c"), col(c)).as(c)
      else when(col("__n_present").isNotNull, col(s"__n_$c")).otherwise(col(c)).as(c)

    val cols = keyrefs.map(col) ++
      otherrefs.map(pick(_, ignoreNoneRefs)) ++
      measures.map(pick(_, ignoreNoneMeasures))
    state = materialize(factExpander(joined.select(cols: _*)))
    this
  }
}
