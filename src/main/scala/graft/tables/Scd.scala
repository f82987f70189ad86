package graft.tables

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.core.{Joins, Scans}

/** Type-1 slowly changing dimension: overwrite in place.
  *
  * Reference: pygrametl/tables.py:689-902 (`TypeOneSlowlyChangingDimension
  * .scdensure`): lookup; on miss insert; else UPDATE only the changed type-1
  * attributes (lookupatts immutable). Set-wise: latest update per member wins
  * (window), existing members get `coalesce(new, old)` per type-1 column, new
  * members are ensured in.
  */
class TypeOneScdDimension(
    name: String,
    key: String,
    attributes: Seq[String],
    lookupatts: Seq[String],
    val type1atts: Seq[String],
    defaultIdValue: Long = -1L,
    keyAssigner: KeyAssigner = DistributedDenseAssigner
) extends Dimension(name, key, attributes, lookupatts, defaultIdValue, keyAssigner) {

  /** scdensure: apply a batch of updates; `orderCol` decides which update is
    * "latest" per member (the reference's sequential order). Returns the
    * keyed input.
    */
  def scdensure(updates: DataFrame, orderCol: Column,
                namemapping: Map[String, String] = Map.empty): DataFrame = {
    val mapped = graft.core.Nm.applyMapping(updates, namemapping)
    // materialized once: both the ensure below and the type-1 overwrite join
    // consume it — without this the batch window would compute twice
    val latest = materialize(
      Scans.topPerGroup(mapped, lookupatts.map(col), Seq(orderCol.desc), 1))

    // new members: plain ensure (first=latest occurrence supplies attributes)
    ensure(latest)

    // existing members: overwrite type-1 attributes with latest values
    val upd = latest.select((lookupatts ++ type1atts).map(col): _*)
    val renamed = type1atts.foldLeft(upd)((d, c) => d.withColumnRenamed(c, s"__u_$c"))
    val merged = state.join(Joins.maybeBroadcast(renamed), lookupatts, "left")
    val cols = allColumns.map { c =>
      if (type1atts.contains(c)) coalesce(col(s"__u_$c"), col(c)).as(c) else col(c)
    }
    state = materialize(merged.select(cols: _*)) // keys unchanged
    lookup(mapped)
  }
}

/** Type-2 slowly changing dimension: row versioning with `versionatt`,
  * `fromatt`, `toatt`, `maxTo` open-interval marker.
  *
  * Reference: pygrametl/tables.py:904-1711 (`SlowlyChangingDimension`).
  * `scdensure` (tables.py:1274-1421) processes one row at a time: look up the
  * newest version (ORDER BY orderingatt DESC, tables.py:1104-1109), compare
  * attributes, and either do nothing, apply type-1 overwrites, or insert a
  * new version and close the old one.
  *
  * Set-wise batch algorithm (one plan, no per-row round trips):
  *  1. order the incoming changes per member (window by lookupatts, from);
  *  2. drop consecutive no-change rows (lag compare, null-safe) and rows
  *     equal to the member's current version;
  *  3. assign version numbers = current max version + running row_number;
  *  4. `toatt` of each new version = lead(from), last = maxTo; close the
  *     previously-open current version at the first new `from`;
  *  5. union surviving old rows + closed rows + new versions; assign keys to
  *     new rows only.
  *
  * Fidelity knobs (reference tables.py:1046-1109, 1274-1421, 1486-1528):
  *  - `orderingatt`: explicit newest-version ordering override; the reference
  *    falls back versionatt → toatt → fromatt, with NULL ranked greatest for
  *    toatt (open interval = newest) and smallest for fromatt.
  *  - `minFrom`: the first version of a brand-new member gets this as its
  *    `fromatt` instead of its change time (the reference's `minfrom`,
  *    tables.py:1311-1318; pass `Some(lit(null))` for the `(None,)` hack).
  *  - `type1LatestOnly`: type-1 attributes whose updates touch only the
  *    newest version (the reference's `(att, False)` tuples feeding
  *    `type1attsupdateall`, tables.py:1076-1085, 1486-1508); all other
  *    type1atts propagate to every version of the member.
  */
class ScdDimension(
    name: String,
    key: String,
    attributes: Seq[String],
    lookupatts: Seq[String],
    val versionatt: String,
    val fromatt: String,
    val toatt: String,
    val maxTo: Column = lit(null),
    val type1atts: Seq[String] = Nil,
    defaultIdValue: Long = -1L,
    keyAssigner: KeyAssigner = DistributedDenseAssigner,
    val orderingatt: Option[String] = None,
    val minFrom: Option[Column] = None,
    val type1LatestOnly: Set[String] = Set.empty
) extends Dimension(name, key, attributes, lookupatts, defaultIdValue, keyAssigner) {

  /** attributes versioned under type-2 semantics */
  def type2atts: Seq[String] =
    attributes.filterNot(a => a == versionatt || a == fromatt || a == toatt || type1atts.contains(a))

  private def neqNullSafe(a: Column, b: Column): Column = !(a <=> b)

  /** Newest-version ordering (reference keylookupsql ORDER BY,
    * tables.py:1104-1109): orderingatt override with the reference's NULL
    * ranking, else versionatt descending.
    */
  protected def newestFirst(c: String => Column): Column = orderingatt match {
    case Some(a) if a == toatt   => c(a).desc_nulls_first // NULL to = open = newest
    case Some(a) if a == fromatt => c(a).desc_nulls_last
    case Some(a)                 => c(a).desc
    case None                    => c(versionatt).desc
  }

  /** Batch scdensure. `updates` must carry lookupatts, type2atts, type1atts
    * and a change timestamp selected by `fromCol` (the reference's
    * `fromfinder`/`srcdateatt`, tables.py:1306-1326, 1349-1368).
    *
    * `newVersionOnNewFrom` reproduces the reference's `srcdateatt` semantics
    * (tables.py:1349-1368): when set, a row whose `fromCol` differs from the
    * current version's `fromatt` forces a new version even if every compared
    * attribute is unchanged (a new source date IS a change).
    */
  def scdensure(updates: DataFrame, fromCol: Column,
                newVersionOnNewFrom: Boolean = false,
                namemapping: Map[String, String] = Map.empty): DataFrame = {
    val lk = lookupatts.map(col)
    val valueAtts = type2atts ++ type1atts

    val in = graft.core.Nm.applyMapping(updates, namemapping)
      .select((lookupatts ++ valueAtts).map(col) :+ fromCol.as(fromatt): _*)

    val wAsc = Window.partitionBy(lk: _*).orderBy(col(fromatt).asc)

    // 2a. drop consecutive duplicates within the batch (type-2 atts unchanged;
    //     under srcdate semantics a changed from-date is itself a change)
    val type2Flags = type2atts.map(a => neqNullSafe(col(a), lag(col(a), 1).over(wAsc)))
    val fromFlag = if (newVersionOnNewFrom)
      Seq(neqNullSafe(col(fromatt), lag(col(fromatt), 1).over(wAsc))) else Nil
    val changeFlag = (type2Flags ++ fromFlag).reduceOption(_ || _).getOrElse(lit(false))
    val deduped = in
      .withColumn("__rn", row_number().over(wAsc))
      .withColumn("__chg", col("__rn") === 1 || changeFlag)
      .filter(col("__chg")).drop("__chg")

    // current version per member in the existing dimension
    val dimCur = Scans.topPerGroup(state, lk, Seq(newestFirst(col)), 1)
    val curSide = dimCur.select(
      lk ++ type2atts.map(a => col(a).as(s"__cur_$a")) :+
        col(versionatt).as("__cur_ver") :+ col(toatt).as("__cur_to") :+
        col(fromatt).as("__cur_from") :+ lit(true).as("__cur_hit"): _*)

    // 2b. drop the first batch row when equal to the member's current version
    //     (a manually-closed current version — toatt != maxTo — always forces
    //     a new version, reference tables.py:1340-1344; under srcdate
    //     semantics a differing from-date also forces one)
    val sameType2 = type2atts
      .map(a => col(a) <=> col(s"__cur_$a"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val sameAsCur =
      if (newVersionOnNewFrom) sameType2 && (col(fromatt) <=> col("__cur_from"))
      else sameType2
    val newRows = deduped.join(curSide, lookupatts, "left")
      .filter(col("__cur_hit").isNull || col("__rn") > 1 ||
        !(sameAsCur && col("__cur_to") <=> maxTo))

    // 3+4. version numbers and validity intervals for the new rows
    val wNew = Window.partitionBy(lk: _*).orderBy(col(fromatt).asc)
    val versioned = newRows
      .withColumn(versionatt, coalesce(col("__cur_ver"), lit(0)) + row_number().over(wNew))
      .withColumn(toatt, coalesce(lead(col(fromatt), 1).over(wNew), maxTo))

    // minfrom: a BRAND-NEW member's first version opens at minFrom, not at
    // its change time (tables.py:1311-1318 — the reference applies it on the
    // insert-on-miss path, so membership is decided by the curSide join MISS,
    // not by the version number: state initialized with version 0/NULL can
    // hand an EXISTING member a version-1 row, whose open time must stay
    // real or its interval would overlap the old open row). Applied after
    // interval computation so the NEXT version still closes at the real
    // change time; __orig_from keeps the real change time for the close join.
    val stamped = versioned.withColumn("__orig_from", col(fromatt))
    val withMin = minFrom match {
      case Some(mf) => stamped.withColumn(fromatt,
        when(col(versionatt) === 1 && col("__cur_hit").isNull,
          mf.cast(versioned.schema(fromatt).dataType))
          .otherwise(col(fromatt)))
      case None => stamped
    }

    // 5a. key the new versions FIRST: the assigner freezes the delta
    // (single pass — the whole batch pipeline above computes exactly once),
    // and everything downstream reads the checkpointed blocks.
    val newClean = withMin.select(
      (lookupatts ++ valueAtts :+ versionatt :+ fromatt :+ toatt :+ "__orig_from").distinct.map(col): _*)
    val maxKey = currentMaxKey
    val (keyed, newMax) = keyAssigner.assignWithMax(newClean, key, maxKey, lk :+ col(versionatt))

    // first REAL change time per member, read from the materialized delta
    // (__orig_from is the pre-minFrom value, so the close time is correct
    // even when an existing member receives a version-1 row)
    val firstNewFrom = keyed.groupBy(lk: _*).agg(min(col("__orig_from")).as("__new_from"))

    // 5b. close previously-open current versions of changed members. "Current"
    // is decided by the same newest-first ordering as the lookup (NOT a bare
    // max(versionatt) — with orderingatt=toatt the open row may carry any
    // version number).
    val wCurAll = Window.partitionBy(lk: _*).orderBy(newestFirst(col))
    val oldRows = state.join(Joins.maybeBroadcast(firstNewFrom), lookupatts, "left")
      .withColumn("__cr", row_number().over(wCurAll))
    val closed = oldRows.select(allColumns.map {
      case `toatt` =>
        when(col("__new_from").isNotNull && col(toatt) <=> maxTo && col("__cr") === 1,
          col("__new_from"))
          .otherwise(col(toatt)).as(toatt)
      case c => col(c).as(c)
    }: _*)

    var next = closed.unionByName(keyed.select(allColumns.map(col): _*))

    // type-1 attributes: the batch's LATEST value per member propagates to all
    // versions (reference tables.py:1486-1528 `updateall=True`), or to the
    // newest version only for atts in `type1LatestOnly` (`updateall=False`).
    // Values come from the incoming batch, so members with type-1-only changes
    // (no new version inserted) still get updated — as in the reference.
    if (type1atts.nonEmpty) {
      val t1vals = Scans.topPerGroup(in, lk, Seq(col(fromatt).desc), 1)
        .select(lk ++ type1atts.map(a => col(a).as(s"__t1_$a")) :+ lit(true).as("__t1m"): _*)
      val wLatest = Window.partitionBy(lk: _*).orderBy(newestFirst(col))
      val flagged = next.withColumn("__lrn", row_number().over(wLatest))
      val j = flagged.join(Joins.maybeBroadcast(t1vals), lookupatts, "left")
      next = j.select(allColumns.map { c =>
        if (type1atts.contains(c)) {
          val incoming = when(col("__t1m").isNotNull, col(s"__t1_$c")).otherwise(col(c))
          val updated =
            if (type1LatestOnly.contains(c))
              when(col("__lrn") === 1, incoming).otherwise(col(c))
            else incoming
          updated.as(c)
        } else col(c)
      }: _*)
    }

    state = materialize(next)
    // keys are untouched by the rewrite, so the assigner's reported max
    // carries over
    knownMaxKey = Some(newMax)
    this.current
  }

  /** closecurrent: set the newest version's `toatt` to `end` iff still open.
    * Reference: tables.py:1530-1553.
    */
  def closeCurrent(end: Column): this.type = {
    val w = Window.partitionBy(lookupatts.map(col): _*).orderBy(newestFirst(col))
    state = materialize(state
      .withColumn("__rn", row_number().over(w))
      .withColumn(toatt,
        when(col("__rn") === 1 && col(toatt) <=> maxTo, end).otherwise(col(toatt)))
      .drop("__rn"))
    this
  }

  /** lookupasof: temporal point-in-interval join — for each input row find
    * the version valid at `whenCol`. Reference: tables.py:1555-1711
    * (`lookupasof`), with configurable interval-endpoint inclusivity and
    * NULL from/to treated as open-ended. Ties resolve to the newest version.
    *
    * Scale note: the predicate join is planned by Catalyst as a broadcast
    * nested-loop when the dimension is small (the normal case). For large
    * dimensions pre-filter with an equi-join on lookupatts first — which is
    * exactly what this does: equi keys + interval predicate in one join
    * condition, so it stays a hash join on lookupatts.
    */
  def lookupAsOf(df: DataFrame, whenCol: Column,
                 fromInclusive: Boolean = true, toInclusive: Boolean = false,
                 namemapping: Map[String, String] = Map.empty): DataFrame = {
    // Rename the dimension's join columns so probe and dimension attributes
    // can never collide — the probe may itself derive from this dimension
    // (self-join lineage). A synthetic row id keys the newest-version window
    // (cheaper than partitioning by every probe column, and unambiguous).
    val in = graft.core.Nm.applyMapping(df, namemapping)
      .withColumn("__rowid", monotonically_increasing_id())
    val dim = dimForJoin.select(
      col(key).as("__asof_key") +:
        lookupatts.map(a => col(a).as(s"__lk_$a")) :+
        col(fromatt).as("__from") :+ col(toatt).as("__to") :+ col(versionatt).as("__ver"): _*)
    val fromOk = col("__from").isNull ||
      (if (fromInclusive) col("__from") <= whenCol else col("__from") < whenCol)
    val toOk = col("__to").isNull || col("__to") <=> maxTo ||
      (if (toInclusive) whenCol <= col("__to") else whenCol < col("__to"))
    val joinCond = lookupatts.map(a => in(a) <=> col(s"__lk_$a")).reduce(_ && _) && fromOk && toOk
    val joined = in.join(dim, joinCond, "left")
    // Newest matching version wins on overlap — resolved as a max_by
    // aggregation keyed on __rowid, not a window: the partial aggregate
    // collapses a probe row's multiple matches map-side right after the
    // join, so the one shuffle carries ~|probe| single-struct rows where
    // the window form shuffled AND sorted every matched row. The ordering
    // struct ranks (has-a-version, version): a no-match row (NULL __ver
    // from the left join) can never beat a real match, and the ordering
    // value itself is never NULL, so no match is ever dropped.
    // dataset-qualified references (in(...) / dim(...)), not bare col(...):
    // a probe frame that happens to share a column name with a dimension
    // alias — or carries internal duplicates from upstream self-joins —
    // would make an unqualified reference ambiguous where the old
    // window+row_number form tolerated it
    val rest = in.columns.filterNot(_ == "__rowid").map(c => in(c).as(c)) ++
      dim.columns.map(c => dim(c).as(c))
    joined.groupBy(in("__rowid"))
      .agg(max_by(struct(rest: _*),
        struct(dim("__ver").isNotNull.as("__has"), dim("__ver").as("__v"))).as("__best"))
      .select(col("__best.*"))
      .withColumn(key, coalesce(col("__asof_key"), lit(defaultIdValue)))
      .drop("__from", "__to", "__ver", "__asof_key")
      .drop(lookupatts.map(a => s"__lk_$a"): _*)
  }
}
