package graft.tables

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Scans

/** A table managed by the engine: holds current state as a DataFrame and
  * persists on `save`. Mutating operators (`update`, `scdensure`, merges) are
  * expressed as full-table recomputes of a new immutable DataFrame — the
  * copy-on-write answer to the reference's in-place SQL UPDATEs.
  */
trait ManagedTable {
  def name: String
  def dependsOn: Seq[String] = Nil
  def current: DataFrame
  def save(path: String): Unit = current.write.mode("overwrite").parquet(path)

  /** The reference raises KeyError when a row misses a required attribute
    * (tables.py:403-407, 2184-2197); the set-oriented analogue is
    * analysis-time schema validation with a message naming the table and the
    * missing columns.
    */
  protected def requireColumns(df: DataFrame, cols: Seq[String], op: String): Unit = {
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"$name.$op: input is missing required column(s) ${missing.mkString(", ")} " +
        s"(has: ${df.columns.mkString(", ")})")
  }

  /** Materialize a mutation product, truncating lineage: without it, K
    * sequential mutations would stack K plan layers and every downstream
    * action would re-execute the whole history — O(K²), the steady state of
    * a streaming foreachBatch merge. Eager on purpose: a lazy checkpoint
    * lets several downstream plan branches race to materialize the same
    * blocks and duplicates the work (measured 1.4× slower across the
    * table-query suite at sf0.1).
    */
  protected def materialize(df: DataFrame): DataFrame =
    org.apache.spark.sql.graftbridge.Bridge.freeze(df)
}

/** Dimension table: surrogate `key`, non-key `attributes`, `lookupatts`
  * identifying a member.
  *
  * Reference: pygrametl/tables.py:128-199 (class Dimension). The reference
  * operates one row dict at a time (`lookup` = a SELECT per row,
  * tables.py:245-264; `ensure` = lookup-or-insert, tables.py:374-398). Here
  * every operation is set-oriented: `lookup` is a left join, `ensure` is an
  * anti-join + key assignment + union — same semantics, one shuffle instead
  * of N round trips.
  *
  * Scale design:
  *  - Lookup joins broadcast the dimension only when Catalyst's size estimate
  *    is under [[graft.core.Joins.BroadcastThresholdBytes]]; larger dims take
  *    a shuffle hash/sort-merge join (AQE may still convert at runtime).
  *  - Every mutation freezes its product (`Bridge.freeze`: one
  *    `localCheckpoint` job that also records the frame's row count and
  *    stored bytes as its Catalyst statistics): append paths freeze only the
  *    keyed delta, rewrite paths freeze the new state. Without this, K
  *    sequential ensure/scdensure batches would stack K plan layers and
  *    every `currentMaxKey` action would re-execute the whole lineage —
  *    O(K²) work (the steady state of a streaming foreachBatch merge). With
  *    it each batch costs O(delta) or O(state), and the frozen state's
  *    statistics let the size gate above broadcast it when it is small. For
  *    durability across executor loss use `save()`/`init()` parquet swaps
  *    at commit points — localCheckpoint trades fault-tolerance for speed,
  *    exactly right for intra-load state.
  *  - `currentMaxKey` is tracked incrementally: key assignment reports the
  *    new max from the frozen delta instead of re-scanning (let alone
  *    re-computing) the full table.
  *
  * Caching subsumption: `CachedDimension`/`BulkDimension`'s FIFO caches
  * (tables.py:549-616, 2777-2984) map to materialized state + (size-aware)
  * broadcast joins.
  */
class Dimension(
    val name: String,
    val key: String,
    val attributes: Seq[String],
    val lookupatts: Seq[String],
    val defaultIdValue: Long = -1L,
    val keyAssigner: KeyAssigner = DistributedDenseAssigner
) extends ManagedTable {

  protected var state: DataFrame = _
  protected var knownMaxKey: Option[Long] = None

  def allColumns: Seq[String] = key +: attributes

  /** Initialize from existing content (schema must contain key + attributes). */
  def init(df: DataFrame): this.type = {
    requireColumns(df, allColumns, "init")
    state = df.select(allColumns.map(col): _*)
    knownMaxKey = None
    this
  }

  def initEmpty(spark: SparkSession, schemaFrom: DataFrame): this.type =
    init(schemaFrom.select(allColumns.map(col): _*).limit(0))

  def current: DataFrame = state

  protected def dimForJoin: DataFrame = graft.core.Joins.maybeBroadcast(state)

  /** Bulk lookup: resolve the surrogate key for every input row by equi-join
    * on lookupatts; misses get `defaultIdValue`.
    * Reference: tables.py:245-264 (one SELECT per row; cache probe first).
    * The (size-gated) broadcast join IS the cache — shipped once per executor.
    */
  def lookup(df: DataFrame, namemapping: Map[String, String] = Map.empty): DataFrame = {
    val in = graft.core.Nm.applyMapping(df, namemapping)
    val dimSide = dimForJoin.select((key +: lookupatts).map(col): _*)
    in.join(dimSide, lookupatts, "left")
      .withColumn(key, coalesce(col(key), lit(defaultIdValue)))
  }

  /** getbykey: full dimension row by key; misses yield all-NULL attributes
    * (left-join native). `namemapping` translates the probe's column names
    * like every other API (reference tables.py:272-287 accepts namemapping).
    */
  def getByKey(df: DataFrame, namemapping: Map[String, String] = Map.empty): DataFrame =
    graft.core.Nm.applyMapping(df, namemapping).join(dimForJoin, Seq(key), "left")

  /** getbyvals: all dimension rows matching a partial attribute conjunction.
    * `namemapping` maps the caller's value names to dimension attributes
    * (reference tables.py:295-327 resolves `row[nm.get(att, att)]`).
    */
  def getByVals(vals: Map[String, Any], namemapping: Map[String, String] = Map.empty): DataFrame = {
    // engine convention (Nm.applyMapping): namemapping is logical -> physical;
    // vals carry the caller's (physical) names, filters hit logical attributes
    val physToLogical = namemapping.map(_.swap)
    vals.foldLeft(state) { case (d, (a, v)) =>
      d.filter(col(physToLogical.getOrElse(a, a)) === lit(v))
    }
  }

  /** insert: append new member rows, assigning surrogate keys.
    * Reference: tables.py:400-425 (INSERT + idfinder max+1 counter).
    */
  def insert(df: DataFrame, namemapping: Map[String, String] = Map.empty): this.type = {
    val mapped = graft.core.Nm.applyMapping(df, namemapping)
    requireColumns(mapped, attributes, "insert")
    val in = mapped.select(attributes.map(col): _*)
    val maxKey = currentMaxKey
    // single-pass: the assigner freezes the delta itself (that's its
    // partition-freeze point), so keying is a lazy expression over the
    // checkpointed blocks — no second checkpoint here
    val (assigned, newMax) = keyAssigner.assignWithMax(in, key, maxKey, lookupatts.map(col))
    state = state.unionByName(assigned.select(allColumns.map(col): _*))
    knownMaxKey = Some(newMax)
    this
  }

  /** update: overwrite attribute values for matching keys; only non-NULL
    * update columns overwrite (SET only what the row carries).
    * Reference: tables.py:335-366.
    *
    * When a batch carries several update rows for one key, `orderCol` picks
    * the winner deterministically (latest by orderCol — the set form of the
    * reference's sequential last-write-wins); without it an arbitrary row
    * survives (dropDuplicates).
    */
  def update(updates: DataFrame, orderCol: Option[Column] = None): this.type = {
    // one update row per key: duplicates would multiply dimension rows
    // through the join (the reference applies updates sequentially per row;
    // in set form extra duplicates collapse, keeping state cardinality
    // invariant — deterministically when orderCol is given)
    val collapsed = orderCol match {
      case Some(o) => Scans.topPerGroup(updates, Seq(col(key)), Seq(o.desc), 1)
      case None => updates.dropDuplicates(Seq(key))
    }
    val u = collapsed
      .select((key +: updates.columns.filter(attributes.contains).toSeq).distinct.map(col): _*)
    val renamed = u.columns.filterNot(_ == key).foldLeft(u)((d, c) => d.withColumnRenamed(c, s"__u_$c"))
    val merged = state.join(graft.core.Joins.maybeBroadcast(renamed), Seq(key), "left")
    val cols = allColumns.map { c =>
      if (renamed.columns.contains(s"__u_$c")) coalesce(col(s"__u_$c"), col(c)).as(c) else col(c)
    }
    state = materialize(merged.select(cols: _*)) // keys unchanged: knownMaxKey stands
    this
  }

  /** Max assigned key. Tracked incrementally across mutations; the fallback
    * scan runs over materialized (checkpointed) state, never a stacked
    * lineage.
    */
  protected def currentMaxKey: Long = knownMaxKey.getOrElse {
    val r = state.agg(max(col(key).cast("long"))).head()
    val m = if (r.isNullAt(0)) 0L else r.getLong(0)
    knownMaxKey = Some(m)
    m
  }

  /** ensure: bulk lookup-or-insert. New members (anti-join on lookupatts,
    * first occurrence per member wins) are optionally enriched by
    * `rowexpander` — applied ONLY to the new-member set, preserving the
    * reference's lazy-expansion optimization (tables.py:374-398: rowexpander
    * runs only on cache/DB misses) — then key-assigned and unioned in.
    * Returns the input with the resolved key column.
    *
    * Order-dependence note (SURVEY §7.3): the reference processes rows
    * sequentially so the first occurrence of a member supplies its non-lookup
    * attributes; we reproduce that with [[graft.core.Scans.topPerGroup]] over
    * `orderCol` (caller-supplied stable order, e.g. a source row id).
    */
  def ensure(df: DataFrame,
             namemapping: Map[String, String] = Map.empty,
             rowexpander: DataFrame => DataFrame = identity,
             orderCol: Option[Column] = None): DataFrame = {
    val in = graft.core.Nm.applyMapping(df, namemapping)
    requireColumns(in, lookupatts, "ensure")

    val candidateCols = in.columns.filter(c => attributes.contains(c)).map(col)
    val firstPerMember = orderCol match {
      case Some(o) =>
        // ordered by the projected __ord: `o` may read a column that is not
        // an attribute (a source row id)
        Scans.topPerGroup(in.select(candidateCols.toSeq :+ o.as("__ord"): _*),
          lookupatts.map(col), Seq(col("__ord").asc), 1).drop("__ord")
      case None =>
        in.select(candidateCols.toSeq: _*).dropDuplicates(lookupatts)
    }

    val newMembers = firstPerMember.join(dimForJoin.select(lookupatts.map(col): _*), lookupatts, "left_anti")
    val expanded = rowexpander(newMembers)
    val maxKey = currentMaxKey
    // single-pass: the freeze happens inside the assigner (upstream
    // anti-join computes exactly once); keying stays a lazy Tungsten
    // expression over the checkpointed delta
    val (assigned, newMax) = keyAssigner.assignWithMax(expanded, key, maxKey, lookupatts.map(col))
    state = state.unionByName(assigned.select(allColumns.map(col): _*))
    knownMaxKey = Some(newMax)

    // resolve keys for the full input (hits old + new members)
    in.join(dimForJoin.select((key +: lookupatts).map(col): _*), lookupatts, "left")
  }
}
