package pipebench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}

/** One timed operation of the closed loop. */
final class OpRec(val pass: Int, val kind: String, val ms: Double) {
  var failure: Option[String] = None
}

/** What the workload hands the harness after each pass. */
final class PassOut(val rows: Long, val inputBytes: Long, val durable: Seq[File]) {
  /** bytes the program wrote to durable storage, per writing layer */
  val written: mutable.Map[String, Long] = mutable.Map[String, Long]().withDefaultValue(0L)
  var state: Any = _
  /** the program objects that hold the pass's live state */
  var live: Any = _
}

/** Per-pass context: the session, the tracer and the operation log. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val pass: Int) {
  val ops: mutable.ArrayBuffer[OpRec] = mutable.ArrayBuffer[OpRec]()

  /** time one closed-loop operation; an exception fails the operation */
  def op[T](kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r =
      try body
      catch {
        case e: Throwable =>
          val rec = new OpRec(pass, kind, (System.nanoTime() - t0) / 1e6)
          rec.failure = Some(s"$kind threw ${e.getClass.getSimpleName}: ${e.getMessage}")
          ops += rec
          throw new OpFailed(rec, e)
      }
    ops += new OpRec(pass, kind, (System.nanoTime() - t0) / 1e6)
    r
  }

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  def dir(work: File, name: String): File = {
    val d = new File(work, s"p$pass/$name")
    d.mkdirs()
    d
  }
}

/** a failed check: its name, what differed, and the operation it fails */
final case class Failure(check: String, detail: String, op: Option[OpRec])

object Check {
  def apply(name: String, ok: Boolean, detail: => String, op: Option[OpRec] = None): Seq[Failure] =
    if (ok) Nil else Seq(Failure(name, detail, op))
}

final class OpFailed(val rec: OpRec, cause: Throwable) extends RuntimeException(rec.failure.get, cause)

/** A named workload: input generation, one pass of the closed loop over
  * those inputs from a fresh program state, and the output checks.
  */
trait Workload {
  type In
  def generate(seed: Long, dir: File, warmup: Boolean): In
  def pass(ctx: Ctx, in: In, work: File): PassOut
  /** every failed check; `outs` holds every pass, oldest first */
  def check(spark: SparkSession, in: In, outs: Seq[(Ctx, PassOut)]): Seq[Failure]
}

object Main {
  /** Spark's local[k]; run.py fixes it and caps the GC threads to it */
  lazy val K: Int = sys.props("pipebench.k").toInt

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else {
      val s = Files.walk(f.toPath)
      try s.filter(p => Files.isRegularFile(p)).mapToLong(p => Files.size(p)).sum()
      finally s.close()
    }

  def deleteTree(f: File): Unit = if (f.exists()) {
    val s = Files.walk(f.toPath)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally s.close()
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** run independent checks concurrently (they are not timed) */
  def parallel[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(K)
    try tasks.map(t => pool.submit(() => t())).map(_.get())
    finally pool.shutdown()
  }

  /** drop every persisted block, so a pass starts from the same storage */
  def releaseBlocks(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** block-manager bytes held by what is still reachable: collect the
    * garbage, then wait until Spark's cleaner has dropped its blocks
    */
  def heldBytes(spark: SparkSession): Long = {
    def now = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    System.gc()
    var last = -1L
    var same = 0
    var tries = 0
    while (same < 3 && tries < 50) {
      Thread.sleep(100)
      val b = now
      if (b == last) same += 1 else { same = 0; last = b }
      tries += 1
    }
    last
  }

  val Workloads: Map[String, () => Workload] = Map("star_daily" -> (() => new Star), "monitor_ingest" -> (() => new Monitors))

  def session(name: String, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$K]")
      .appName(s"pipebench-$name")
      .config("spark.sql.shuffle.partitions", K.toString)
      .config("spark.default.parallelism", K.toString)
      // adaptive execution may turn a join into a broadcast once one side
      // has run, which makes the plan (and its job count) depend on which
      // shuffle stage finishes first; the static planner still broadcasts
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "sql-warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** one untimed pass on a small input from another seed */
  def warmup(spark: SparkSession, tracer: Tracer, wl: Workload, seed: Long, work: File): Unit = {
    val dir = new File(work, "warmup")
    wl.pass(new Ctx(spark, tracer, -1), wl.generate(seed * 7919 + 104729, new File(dir, "inputs"), warmup = true), dir)
    releaseBlocks(spark)
    deleteTree(dir)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    val out = new File(opts("out"))
    val traceFile = opts.get("trace-file").map(new File(_))
    val wl = Workloads(name)()

    // ---------------- set-up ----------------
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(name, work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val tracer = new Tracer(spark.sparkContext)
    val genT0 = System.nanoTime()
    val in = wl.generate(seed, new File(work, "inputs"), warmup = false)
    val genS = (System.nanoTime() - genT0) / 1e9
    val warmT0 = System.nanoTime()
    warmup(spark, tracer, wl, seed, work)
    val warmS = (System.nanoTime() - warmT0) / 1e9
    val setupS = sessionS + genS + warmS

    // ---------------- timed phase ----------------
    val passes = mutable.ArrayBuffer[(Ctx, PassOut)]()
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    var aborted: Option[OpFailed] = None
    def elapsed = (System.nanoTime() - t0) / 1e9
    // another pass starts only if it should end within `seconds`; a traced
    // run is one traced pass
    def more = passes.isEmpty || (!traced && elapsed * (passes.size + 1) / passes.size <= seconds)
    while (aborted.isEmpty && more) {
      val p = passes.size
      releaseBlocks(spark)
      val ctx = new Ctx(spark, tracer, p)
      if (traced) tracer.begin(p)
      try passes += ctx -> wl.pass(ctx, in, new File(work, "timed"))
      catch {
        case e: OpFailed =>
          aborted = Some(e)
          passes += ctx -> null
      } finally if (traced) tracer.end()
    }
    val timedS = elapsed
    val timedCpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val cachedBytes = heldBytes(spark)
    val heldS = elapsed - timedS
    val checkT0 = System.nanoTime()

    // ---------------- checks ----------------
    val failures = mutable.ArrayBuffer[String]()
    aborted.foreach { e =>
      failures += e.rec.failure.get
      e.printStackTrace()
    }
    val done = passes.filter(_._2 != null).toSeq
    if (aborted.isEmpty) {
      val checks =
        try wl.check(spark, in, done)
        catch { case e: Throwable => e.printStackTrace(); Seq(Failure("checks", s"threw $e", None)) }
      checks.foreach { case Failure(check, detail, op) =>
        failures += s"$check: $detail"
        op.orElse(done.last._1.ops.lastOption).foreach(o => if (o.failure.isEmpty) o.failure = Some(check))
      }
    }
    val checksS = (System.nanoTime() - checkT0) / 1e9
    val ops = passes.flatMap(_._1.ops).toSeq
    val failed = ops.count(_.failure.nonEmpty) + (if (failures.nonEmpty && ops.forall(_.failure.isEmpty)) 1 else 0)

    // ---------------- metrics ----------------
    def ms(kind: String) = ops.filter(_.kind == kind).map(_.ms)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val last = done.lastOption.map(_._2)
        val rows = done.map(_._2.rows).sum.toDouble
        Seq(
          ("setup_s", setupS, "s"),
          ("rows_per_s", if (ops.isEmpty) 0.0 else rows / (ops.map(_.ms).sum / 1e3), "1/s"),
          ("batch_p50_ms", median(ms("batch")), "ms"),
          ("readout_p50_ms", median(ms("readout")), "ms"),
          ("state_mb", last.map(_.durable.map(dirBytes).sum / 1e6).getOrElse(0.0), "MB"),
          ("write_amp", last.map(o => o.written.values.sum.toDouble / o.inputBytes).getOrElse(0.0), "ratio"),
          ("cached_mb", cachedBytes / 1e6, "MB"))
      } else if (done.nonEmpty) layerMetrics(tracer, done)
      else Nil

    traceFile.filter(_ => traced).foreach { f =>
      val tp = done.map(_._1.pass)
      f.getParentFile.mkdirs()
      Files.writeString(f.toPath,
        s"""{"workload": ${Json.str(name)}, "seed": $seed, "k": $K,\n "passes": [\n""" +
          tp.map(tracer.json).mkString(",\n") + "\n]}\n", StandardCharsets.UTF_8)
    }

    val metricJson = metrics.map { case (n, v, u) =>
      s"""${Json.str(n)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
    }.mkString(", ")
    val passJson = passes.map { case (c, o) =>
      val opJson = c.ops.map(r => s"""[${Json.str(r.kind)}, ${Json.num(r.ms)}]""").mkString(", ")
      s"""{"pass": ${c.pass}, "rows": ${if (o == null) 0 else o.rows}, "ops": [$opJson]}"""
    }.mkString(", ")
    Files.writeString(out.toPath,
      s"""{"correct": ${failures.isEmpty}, "attempted": ${ops.size max 1}, "failed": $failed, """ +
        s""""metrics": {$metricJson}, "failures": [${failures.map(Json.str).mkString(", ")}], """ +
        s""""phases_s": {"session": ${Json.num(sessionS)}, "generate": ${Json.num(genS)}, """ +
        s""""warmup": ${Json.num(warmS)}, "timed": ${Json.num(timedS)}, "timed_cpu": ${Json.num(timedCpuS)}, "held": ${Json.num(heldS)}, "checks": ${Json.num(checksS)}}, """ +
        s""""passes": [$passJson]}""" + "\n", StandardCharsets.UTF_8)
    tracer.close()
    spark.stop()
  }

  /** per-layer metrics of a traced run: counts and task times per pass,
    * from the first pass; span times are per-call medians
    */
  def layerMetrics(tracer: Tracer, done: Seq[(Ctx, PassOut)]): Seq[(String, Double, String)] = {
    val (ctx0, out0) = done.head
    val jobs = tracer.jobsOf(ctx0.pass)
    val spans = tracer.spansOf(ctx0.pass)
    val spanName = spans.map(s => s.id -> s.name).toMap
    def layer(l: String): Seq[(String, Double, String)] = {
      val calls = spans.filter(_.name == l)
      val js = jobs.filter(j => spanName.get(j.span).contains(l))
      val wallS = calls.map(_.ms).sum / 1e3
      val taskS = js.map(_.taskMs).sum / 1e3
      Seq(
        (s"$l.ms", median(calls.map(_.ms)), "ms"),
        (s"$l.jobs", js.size.toDouble, "count"),
        (s"$l.tasks", js.map(_.tasks).sum.toDouble, "count"),
        (s"$l.task_s", taskS, "s"),
        (s"$l.gc_s", js.map(_.gcMs).sum / 1e3, "s"),
        (s"$l.shuffle_mb", js.map(_.shuffleBytes).sum / 1e6, "MB"),
        (s"$l.idle_share", if (wallS > 0) 1 - taskS / (wallS * K) else 0.0, "share"))
    }
    val tasks = jobs.map(_.tasks).sum
    val sites = jobs.map(tracer.resolvedSite)
    val passNs = ctx0.ops.map(_.ms).sum * 1e6
    Tracer.Layers.flatMap(layer) ++ Seq(
      ("core.commit.written_mb", out0.written("core.commit") / 1e6, "MB"),
      ("streaming.save.written_mb", out0.written("streaming.save") / 1e6, "MB"),
      ("tables.keys.jobs", sites.count(_.contains("(Keys.scala:")).toDouble, "count"),
      ("streaming.deltastate.freeze_jobs",
        sites.count(s => s.contains("DeltaState") && !s.contains(".fold (")).toDouble, "count"),
      ("streaming.deltastate.merge_jobs",
        sites.count(s => s.contains("DeltaState") && s.contains(".fold (")).toDouble, "count"),
      ("bridge.freeze.jobs", jobs.count(_.frozen).toDouble, "count"),
      ("spark.jobs", jobs.size.toDouble, "count"),
      ("spark.tasks", tasks.toDouble, "count"),
      ("spark.empty_task_share", if (tasks > 0) jobs.map(_.emptyTasks).sum.toDouble / tasks else 0.0, "share"),
      ("spark.spill_mb", jobs.map(_.spillBytes).sum / 1e6, "MB"),
      ("trace.overhead_share", tracer.busyNs / passNs, "share"))
  }
}

/** Runs the warm-up pass of every workload and exits. The build runs it
  * once to record the classes a run loads in a class-data sharing archive,
  * which every run then starts from.
  */
object Warm {
  def main(args: Array[String]): Unit = {
    val work = new File(args(0)).getAbsoluteFile
    val spark = Main.session("warm", work)
    val tracer = new Tracer(spark.sparkContext)
    Main.Workloads.values.foreach(w => Main.warmup(spark, tracer, w(), 1L, work))
    spark.stop()
  }
}
