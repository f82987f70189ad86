package graft.tables

import org.apache.spark.sql.{DataFrame, Row}

import graft.sources.Writers

/** The reference's named dimension/fact variants, so a pygrametl user finds
  * the classes they already use. Each maps onto the engine's policy knobs
  * with the variant's distinctive behavior kept real — not bare re-exports.
  */

/** CachedDimension (reference tables.py:549-686): lookups served from a
  * cache. Here the initial state is Spark-cached at `init`; every mutation
  * product is frozen (like every Dimension's), which already persists its
  * blocks, and lookup joins broadcast when the state is small (the
  * distributed cache-probe). `prefill`/`cachesize` vanish: Spark caches
  * whole partitions and evicts under memory pressure natively.
  */
class CachedDimension(
    name: String,
    key: String,
    attributes: Seq[String],
    lookupatts: Seq[String],
    defaultIdValue: Long = -1L,
    keyAssigner: KeyAssigner = DistributedDenseAssigner
) extends Dimension(name, key, attributes, lookupatts, defaultIdValue, keyAssigner) {

  override def init(df: DataFrame): this.type = {
    super.init(df)
    state = state.cache()
    this
  }
}

/** BulkDimension (reference tables.py:2777-2984): full in-memory cache +
  * bulk loading — lookup/ensure never hit the target database; all writes
  * happen at load end. Here: cached state, and `save` writes through a
  * configurable bulk writer (default: bulk CSV with the reference
  * bulkloader's fieldsep/nullsubst contract) instead of parquet.
  */
class BulkDimension(
    name: String,
    key: String,
    attributes: Seq[String],
    lookupatts: Seq[String],
    defaultIdValue: Long = -1L,
    keyAssigner: KeyAssigner = DistributedDenseAssigner,
    val fieldSep: String = "\t",
    val nullSubst: String = "\\N",
    val bulkWriter: Option[(DataFrame, String) => Unit] = None
) extends CachedDimension(name, key, attributes, lookupatts, defaultIdValue, keyAssigner) {

  override def save(path: String): Unit =
    bulkWriter.getOrElse((df: DataFrame, p: String) =>
      Writers.bulkCsv(df, p, fieldSep, nullSubst))(current, path)
}

/** CachedBulkDimension (reference tables.py:2987-3219): BulkDimension with a
  * bounded main cache plus a local cache of not-yet-flushed rows. The
  * "local cache" is exactly the engine's pending-delta union (every ensure
  * unions a materialized delta); bounded-ness is Spark's native cache
  * eviction — so behaviorally this IS BulkDimension here, kept as its own
  * type for API parity and for users porting `cachesize`-tuned code.
  */
class CachedBulkDimension(
    name: String,
    key: String,
    attributes: Seq[String],
    lookupatts: Seq[String],
    defaultIdValue: Long = -1L,
    keyAssigner: KeyAssigner = DistributedDenseAssigner
) extends BulkDimension(name, key, attributes, lookupatts, defaultIdValue, keyAssigner)

/** BatchFactTable (reference tables.py:2278-2356): buffers `batchsize` rows
  * and flushes multi-row INSERTs. Spark writes are vectorized and batched
  * natively, so the type exists for parity; `awaitingRows` is always 0 in a
  * lazy engine (nothing is ever buffered driver-side).
  */
class BatchFactTable(
    name: String,
    keyrefs: Seq[String],
    measures: Seq[String],
    override val dependsOn: Seq[String] = Nil
) extends FactTable(name, keyrefs, measures, dependsOn) {
  def awaitingRows: Long = 0L
}

/** BulkFactTable (reference tables.py:2686-2774): write-only fact table
  * loaded through a bulk loader. `save` renders through the bulkloader
  * contract (fieldsep/rowsep/nullsubst delimited data) via a configurable
  * writer, defaulting to bulk CSV.
  */
class BulkFactTable(
    name: String,
    keyrefs: Seq[String],
    measures: Seq[String],
    override val dependsOn: Seq[String] = Nil,
    val fieldSep: String = "\t",
    val nullSubst: String = "\\N",
    val bulkWriter: Option[(DataFrame, String) => Unit] = None
) extends FactTable(name, keyrefs, measures, dependsOn) {

  override def save(path: String): Unit =
    bulkWriter.getOrElse((df: DataFrame, p: String) =>
      Writers.bulkCsv(df, p, fieldSep, nullSubst))(current, path)
}

/** SubprocessFactTable (reference tables.py:3222-3319): pipe delimited rows
  * into an external consumer. `insert` streams each partition's rendered
  * lines to `consume` on the executors — the distributed form of the
  * reference's single stdin pipe. For a REAL external command (the
  * reference's actual mode — it spawns the process and writes rows to its
  * stdin), build `consume` with [[SubprocessFactTable.command]]: one process
  * per partition on the executor that runs it.
  */
class SubprocessFactTable(
    name: String,
    keyrefs: Seq[String],
    measures: Seq[String],
    val consume: Iterator[String] => Unit,
    val fieldSep: String = "\t",
    val nullSubst: String = "\\N"
) extends FactTable(name, keyrefs, measures) {

  override def insert(df: DataFrame, namemapping: Map[String, String] = Map.empty): this.type = {
    val in = graft.core.Nm.applyMapping(df, namemapping)
    requireColumns(in, allColumns, "insert")
    // materialize ONCE: the pipe is an action and the state union another
    // consumer — without this the input plan would compute twice
    val delta = materialize(in.select(allColumns.map(org.apache.spark.sql.functions.col): _*))
    val rendered = Writers.delimited(delta, fieldSep, nullSubst)
    val f = consume
    rendered.foreachPartition((it: Iterator[Row]) => f(it.map(_.getString(0))))
    state = state.unionByName(delta)
    this
  }
}

object SubprocessFactTable {

  /** A consumer that spawns `cmd` and writes the partition's lines to its
    * stdin (the reference's subprocess mode, tables.py:3222-3319 — there one
    * driver-side process; here one process per partition, executor-local).
    * stdout/stderr are drained so the child never deadlocks on a full pipe;
    * a nonzero exit (or not exiting within `timeoutSec` of stdin EOF) fails
    * the task. A failure in the write loop (data error, broken pipe) is
    * reported as the PRIMARY error — the exit-code check never masks it.
    */
  def command(cmd: Seq[String], timeoutSec: Long = 600): Iterator[String] => Unit = { lines =>
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val p = pb.start()
    val drainer = new Thread(() => {
      val in = p.getInputStream
      val buf = new Array[Byte](8192)
      while (in.read(buf) != -1) ()
    })
    drainer.setDaemon(true)
    drainer.start()
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      p.getOutputStream, java.nio.charset.StandardCharsets.UTF_8))
    var primary: Throwable = null
    try lines.foreach { l => out.write(l); out.newLine() }
    catch { case t: Throwable => primary = t }
    try out.close()
    catch { case t: Throwable => if (primary == null) primary = t else primary.addSuppressed(t) }
    // task kill (interrupt) anywhere must not block on the child or lose the
    // primary error: kill the child immediately and re-assert the interrupt.
    // Pipe writes under interrupt surface as InterruptedIOException /
    // ClosedByInterruptException (not bare InterruptedException), and some
    // paths only set the thread's interrupt flag — treat all of them as the
    // kill case so a killed task never blocks up to timeoutSec in waitFor.
    val interrupted = primary != null &&
      (primary.isInstanceOf[InterruptedException] ||
        primary.isInstanceOf[java.io.InterruptedIOException] ||
        primary.isInstanceOf[java.nio.channels.ClosedByInterruptException] ||
        Thread.currentThread().isInterrupted)
    if (interrupted) {
      p.destroyForcibly()
      Thread.currentThread().interrupt()
      throw primary
    }
    val finished =
      try p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
      catch {
        case ie: InterruptedException =>
          p.destroyForcibly()
          Thread.currentThread().interrupt()
          if (primary != null) { primary.addSuppressed(ie); throw primary }
          throw ie
      }
    if (!finished) p.destroyForcibly()
    if (primary != null) throw primary
    if (!finished) throw new IllegalStateException(
      s"subprocess '${cmd.mkString(" ")}' did not exit within ${timeoutSec}s of stdin EOF")
    val rc = p.exitValue()
    require(rc == 0, s"subprocess '${cmd.mkString(" ")}' exited with $rc")
  }
}
