package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core utilities for the graft engine.
  *
  * Set-oriented re-expression of the reference's row helpers
  * (reference: pygrametl/__init__.py). A pygrametl "row" is a dict; here the
  * unit of data is a whole DataFrame and every helper is a plan transform, so
  * Catalyst can push filters/prune columns across them.
  */
object Nm {

  /** Pervasive logical->physical column renaming ("namemapping").
    *
    * Reference: pygrametl/tables.py:8-19 — every method call resolves
    * `row[nm.get(att, att)]`. Set-wise: a single `select` renaming the mapped
    * physical columns back to logical names. Columns not mentioned pass
    * through unchanged.
    */
  def applyMapping(df: DataFrame, mapping: Map[String, String]): DataFrame = {
    if (mapping.isEmpty) df
    else {
      val physToLogical = mapping.map(_.swap)
      val cols = df.columns.flatMap { c =>
        physToLogical.get(c) match {
          case Some(logical) => Some(col(c).as(logical))
          case None if mapping.contains(c) => None // physical source of a rename; drop
          case None => Some(col(c))
        }
      }
      df.select(cols.toSeq: _*)
    }
  }

  /** project: subset + rename (reference: pygrametl/__init__.py:106-127). */
  def project(df: DataFrame, atts: Seq[String], renaming: Map[String, String] = Map.empty): DataFrame =
    df.select(atts.map(a => col(renaming.getOrElse(a, a)).as(a)): _*)

  /** copy with newname=oldname renames; an old column may fan out to several
    * new ones (reference: pygrametl/__init__.py:130-156).
    */
  def copy(df: DataFrame, renaming: (String, String)*): DataFrame = {
    val extra = renaming.map { case (newName, oldName) => col(oldName).as(newName) }
    df.select(df.columns.map(col).toSeq ++ extra: _*)
  }

  /** rename columns from->to (reference: pygrametl/__init__.py:159-175). */
  def renameFromTo(df: DataFrame, renaming: Map[String, String]): DataFrame =
    renaming.foldLeft(df) { case (d, (from, to)) => d.withColumnRenamed(from, to) }

  /** setdefaults: fill NULLs with per-column defaults, never overwriting
    * non-null values (reference: pygrametl/__init__.py:356-382; the row-world
    * "missing attribute" maps to NULL in a fixed schema).
    */
  def setDefaults(df: DataFrame, defaults: Map[String, Any]): DataFrame = {
    val cols = df.columns.map { c =>
      defaults.get(c) match {
        case Some(d) => coalesce(col(c), lit(d)).as(c)
        case None => col(c)
      }
    }
    df.select(cols.toSeq: _*)
  }
}

/** Failable type converters — cast-or-default semantics.
  *
  * Reference: pygrametl/__init__.py:190-337 (`getint`, `getfloat`, `getstr`,
  * `getbool`, `getdate`, `gettimestamp`, ...): each returns `default` when the
  * conversion fails. Spark-first: `try_cast` + `coalesce` — codegen'd, no UDFs.
  */
object Converters {
  import org.apache.spark.sql.types._

  /** cast-or-NULL without per-row exceptions: under Spark's default ANSI
    * mode, `try_cast` evaluates the ANSI cast and catches the throw — ~8µs
    * per FAILING row (a scan of unparseable strings pays an exception each).
    * For string inputs the LEGACY-mode Cast returns NULL through the
    * non-throwing parse path (measured: getInt over an unparseable column
    * 1.2s → 0.1s per 150k rows); for non-string inputs TRY mode applies so
    * numeric narrowing that overflows yields NULL (the default), never a
    * LEGACY-wrapped value. The choice is made at analysis time per input
    * type (graft.plans.SafeCast).
    */
  private def legacyCast(c: Column, t: DataType): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.plans.SafeCast(Bridge.expression(c), t))
  }

  private def tryTo(c: Column, t: DataType, default: Column): Column =
    coalesce(legacyCast(c, t), default)

  def getInt(c: Column, default: Column = lit(null)): Column = tryTo(c, IntegerType, default)
  def getLong(c: Column, default: Column = lit(null)): Column = tryTo(c, LongType, default)
  def getFloat(c: Column, default: Column = lit(null)): Column = tryTo(c, DoubleType, default)
  def getStr(c: Column, default: Column = lit(null)): Column = tryTo(c, StringType, default)

  /** str + trim, default on failure (reference: pygrametl/__init__.py:214-223). */
  def getStrippedStr(c: Column, default: Column = lit(null)): Column =
    coalesce(trim(legacyCast(c, StringType)), default)

  /** configurable truthy/falsy value sets (reference: pygrametl/__init__.py:272-289). */
  def getBool(c: Column,
              default: Column = lit(null),
              trues: Seq[Any] = Seq(true, 1, "1", "t", "true", "True"),
              falses: Seq[Any] = Seq(false, 0, "0", "f", "false", "False")): Column = {
    val s = c.cast(StringType)
    when(s.isin(trues.map(_.toString): _*), lit(true))
      .when(s.isin(falses.map(_.toString): _*), lit(false))
      .otherwise(default)
  }

  /** None->nullsubst, bool->'1'/'0', else str (reference: pygrametl/__init__.py:226-243). */
  def getDbFriendlyStr(c: Column, nullSubst: String = "NULL"): Column = {
    val s = c.cast(StringType)
    coalesce(
      when(s === "true", "1").when(s === "false", "0").otherwise(s),
      lit(nullSubst))
  }

  /** None->nullvalue else str (reference: pygrametl/__init__.py:261-269). */
  def getStrOrNullValue(c: Column, nullValue: String): Column =
    coalesce(c.cast(StringType), lit(nullValue))

  /** parse 'yyyy-MM-dd', default on failure (reference: pygrametl/__init__.py:292-313). */
  def getDate(c: Column, default: Column = lit(null)): Column =
    coalesce(try_to_timestamp(c.cast(StringType), lit("yyyy-MM-dd")).cast(DateType), default)

  /** parse 'yyyy-MM-dd HH:mm:ss', default on failure (reference: pygrametl/__init__.py:316-337). */
  def getTimestamp(c: Column, default: Column = lit(null)): Column =
    coalesce(try_to_timestamp(c.cast(StringType), lit("yyyy-MM-dd HH:mm:ss")), default)

  /** ymdparser: str/date -> date, NULL passes through (reference: pygrametl/__init__.py:475-495). */
  def ymd(c: Column): Column = c.cast(DateType)

  /** ymdhmsparser (reference: pygrametl/__init__.py:498-516). */
  def ymdhms(c: Column): Column = c.cast(TimestampType)

  /** datereader: a custom-format date parser factory (reference:
    * pygrametl/__init__.py:519-538 — wraps time.strptime with a caller
    * format). Returns a reusable Column function; unparseable values fall
    * back to `default` (the reference raises — pass a non-null default for
    * the lenient form). Format is a Spark datetime pattern, e.g.
    * "dd/MM/yyyy".
    */
  def dateReader(format: String, default: Column = lit(null)): Column => Column =
    c => coalesce(try_to_timestamp(c.cast(StringType), lit(format)).cast(DateType), default)

  /** datetimereader (reference: pygrametl/__init__.py:541-558): like
    * [[dateReader]] but yielding a timestamp.
    */
  def datetimeReader(format: String, default: Column = lit(null)): Column => Column =
    c => coalesce(try_to_timestamp(c.cast(StringType), lit(format)), default)

  /** case normalization used when comparing lookup values
    * (reference: pygrametl/__init__.py:633-642).
    */
  val toUpper: Column => Column = upper(_)
  val toLower: Column => Column = lower(_)
  val keepAsIs: Column => Column = identity
}

/** Date-dimension row generator.
  *
  * Reference: `datespan` (pygrametl/__init__.py:561-630) — yields one row per
  * day with an int key `yyyyMMdd` plus configurable strftime-formatted string
  * attributes (`strings`), int attributes (`ints`) and an `expander`
  * callback that adds arbitrary columns. Spark-first: `explode(sequence(...))`
  * — a distributed generator, not a driver loop; the expander receives the
  * raw date Column plus the generated DataFrame (the set form of the
  * reference's `expander(dateobj, row)`).
  */
object DateSpan {

  /** reference default `strings` (att -> datetime pattern); the reference's
    * strftime %Y-%m-%d / %B / %A map to Spark patterns
    */
  val defaultStrings: Seq[(String, String)] = Seq("date" -> "yyyy-MM-dd")

  /** reference default `ints` (att -> extractor on the date column) */
  val defaultInts: Seq[(String, Column => Column)] = Seq(
    "year" -> (year(_)), "month" -> (month(_)), "day" -> (dayofmonth(_)),
    "weekday" -> (dayofweek(_)), "quarter" -> (quarter(_)))

  def apply(spark: SparkSession, fromDate: String, toDate: String,
            key: String = "dateid",
            strings: Seq[(String, String)] = defaultStrings,
            ints: Seq[(String, Column => Column)] = defaultInts,
            expander: Option[(Column, DataFrame) => DataFrame] = None): DataFrame = {
    val d = explode(sequence(
      lit(fromDate).cast(org.apache.spark.sql.types.DateType),
      lit(toDate).cast(org.apache.spark.sql.types.DateType),
      expr("interval 1 day"))).as("__d")
    val cols = date_format(col("__d"), "yyyyMMdd").cast("int").as(key) +:
      (strings.map { case (n, f) => date_format(col("__d"), f).as(n) } ++
        ints.map { case (n, f) => f(col("__d")).as(n) })
    val base = spark.range(1).select(d).select(col("__d") +: cols: _*)
    val expanded = expander.map(e => e(col("__d"), base)).getOrElse(base)
    expanded.drop("__d")
  }
}

/** An ETL session: wraps SparkSession, freezes `today`/`now` at construction
  * (reference: pygrametl/__init__.py:451-472 — the load-wide frozen clock;
  * Spark's `current_date()` is per-query, ours must be per-session), owns the
  * table registry and dependency-ordered `commit()`
  * (reference: `endload`, pygrametl/__init__.py:442-448, 971-974).
  */
final class EtlSession(val spark: SparkSession) {
  val now: java.sql.Timestamp = new java.sql.Timestamp(System.currentTimeMillis())
  val today: java.sql.Date = java.sql.Date.valueOf(now.toLocalDateTime.toLocalDate)

  /** frozen-now literals for use inside plans */
  def nowLit: Column = lit(now)
  def todayLit: Column = lit(today)

  private val registry = scala.collection.mutable.LinkedHashMap[String, graft.tables.ManagedTable]()

  def register(t: graft.tables.ManagedTable): Unit = registry(t.name) = t

  /** Dependency-ordered publish ([[EtlSession.publish]]): dimensions write
    * before facts, respecting `dependson` (reference: tables.py:2651-2652
    * flush ordering), and the version becomes visible only when its marker
    * is created after the last write. A commit that fails before that
    * leaves the published version untouched; a commit keeps every older
    * version's tables. Returns the published version.
    */
  def commit(baseDir: String): Long =
    EtlSession.publish(spark, baseDir, topoSort(registry.values.toSeq).map(t => t.name -> (t.save _)))

  /** Open a committed table at the currently-published version. */
  def open(baseDir: String, name: String): DataFrame =
    EtlSession.open(spark, baseDir, name)

  private def topoSort(ts: Seq[graft.tables.ManagedTable]): Seq[graft.tables.ManagedTable] = {
    val byName = ts.map(t => t.name -> t).toMap
    val visited = scala.collection.mutable.LinkedHashSet[String]()
    def visit(t: graft.tables.ManagedTable): Unit = {
      if (!visited.contains(t.name)) {
        t.dependsOn.flatMap(byName.get).foreach(visit)
        visited += t.name
      }
    }
    ts.foreach(visit)
    visited.toSeq.map(byName)
  }
}

object EtlSession {
  import org.apache.hadoop.fs.{FileSystem, Path}

  /** The one publish protocol, for commits and monitor checkpoints alike
    * (copy-on-write, SURVEY §7.3). The current version n is the largest
    * empty marker `<baseDir>/_published/<n>`. Each `(name, write)` writes
    * `<baseDir>/<name>/v=<n+1>`; only after every write succeeds is marker
    * n+1 created, never renamed or rewritten, and only then are the older
    * markers deleted. So readers see n until n+1 is whole, and a publish
    * that fails at any step leaves n or n+1 published, never neither. What
    * a failed attempt left under n+1 is deleted first. All file access goes
    * through the Hadoop FileSystem of `baseDir`'s scheme, so file://,
    * hdfs:// and object-store URIs work from any node. Retention of table
    * data is the caller's. Returns n+1.
    */
  def publish(spark: SparkSession, baseDir: String, tables: Seq[(String, String => Unit)]): Long = {
    val base = new Path(baseDir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val older = markers(fs, base)
    val next = (0L +: older).max + 1
    fs.globStatus(new Path(base, s"*/v=$next")).foreach(st => fs.delete(st.getPath, true))
    tables.foreach { case (name, write) => write(s"$baseDir/$name/v=$next") }
    if (!fs.createNewFile(new Path(base, s"_published/$next")))
      throw new IllegalStateException(s"version $next is already published under $baseDir")
    older.foreach(v => fs.delete(new Path(base, s"_published/$v"), false))
    next
  }

  /** the tables of the version published under `baseDir`, whose marker is
    * read once: each name maps to its frame, or to None when that version
    * holds no such table. Fails, naming `baseDir`, when nothing is published.
    */
  def published(spark: SparkSession, baseDir: String): String => Option[DataFrame] = {
    val base = new Path(baseDir)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val v = (0L +: markers(fs, base)).max
    require(v > 0, s"no published version under $baseDir")
    name => {
      val p = new Path(base, s"$name/v=$v")
      if (fs.exists(p)) Some(spark.read.parquet(p.toString)) else None
    }
  }

  /** currently-published version under `baseDir` (0 if none), read through
    * the active session's Hadoop FileSystem for the path's scheme
    */
  def currentVersion(baseDir: String): Long = {
    val base = new Path(baseDir)
    (0L +: markers(base.getFileSystem(SparkSession.active.sessionState.newHadoopConf()), base)).max
  }

  /** the versions whose markers exist under `base` */
  private def markers(fs: FileSystem, base: Path): Seq[Long] =
    Option(fs.globStatus(new Path(base, "_published/*"))).toSeq.flatten.map(_.getPath.getName.toLong)

  /** read a committed table at the published version */
  def open(spark: SparkSession, baseDir: String, name: String): DataFrame =
    published(spark, baseDir)(name).getOrElse(
      throw new IllegalArgumentException(s"no table $name in the version published under $baseDir"))
}
