package pipebench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spans around the benchmark's calls into each program layer, plus a
  * SparkListener that charges every job, task and byte to the span whose
  * call launched it.
  *
  * Attribution rides on a SparkContext local property: the span id is set
  * on the calling thread for the span's duration, every job submitted from
  * it carries the id, and so do jobs from helper threads the program starts
  * inside the span (local properties are inherited at thread creation) —
  * even when those jobs finish after the span has ended.
  *
  * Each job is also keyed by its graft call site: the first `graft.` frame
  * of the long call site Spark records for the SQL execution the job
  * belongs to (adaptive query stages and broadcasts run on pool threads
  * whose own stacks name no caller), else of the job's final stage. Spark
  * skips every `org.apache.spark.*` frame when it builds a call site,
  * including the program's `Bridge`, so the frame names the graft operator
  * that launched the job.
  */
final class Tracer(sc: SparkContext) {
  import Tracer._

  final case class SpanRec(id: Int, name: String, pass: Int, startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  final class JobRec(val id: Int, val span: Int, val site: String, val frozen: Boolean) {
    var ok = false
    var tasks = 0L
    var emptyTasks = 0L
    var taskMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  val spans: mutable.ArrayBuffer[SpanRec] = mutable.ArrayBuffer[SpanRec]()
  private val spanById = mutable.HashMap[Int, SpanRec]()
  private var nextSpan = 0
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.HashMap[Int, JobRec]()
  private val execSite = mutable.HashMap[Long, String]()
  private var on = false
  private var pass = -1
  private val t0 = System.nanoTime()
  private var busy = 0L

  /** time `body` as the tracer's own work */
  private def own[T](body: => T): T = {
    val start = System.nanoTime()
    try body
    finally {
      val d = System.nanoTime() - start
      synchronized(busy += d)
    }
  }

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized(own(execSite(s.executionId) = siteOf(s.details)))
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized(own {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
      span.foreach { s =>
        val last = e.stageInfos.maxBy(_.stageId)
        val frozen = last.rddInfos.headOption.exists(_.storageLevel.isValid)
        val exec = Option(e.properties.getProperty("spark.sql.execution.id")).flatMap(id => execSite.get(id.toLong))
        val rec = new JobRec(e.jobId, s, exec.getOrElse(siteOf(last.details)), frozen)
        jobs(e.jobId) = rec
        e.stageIds.foreach(id => if (!stageJob.contains(id)) stageJob(id) = rec)
      }
    })

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized(own {
      jobs.get(e.jobId).foreach(_.ok = e.jobResult == JobSucceeded)
    })

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized(own {
      for (rec <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
        rec.tasks += 1
        val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
        if (records <= 1) rec.emptyTasks += 1
        rec.taskMs += m.executorRunTime
        rec.gcMs += m.jvmGCTime
        rec.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        rec.spillBytes += m.diskBytesSpilled
      }
    })
  }

  /** start charging spans of pass `p` (spans run untraced otherwise); the
    * listener is registered on the first call, so untraced runs carry none
    */
  def begin(p: Int): Unit = {
    if (pass < 0) sc.addSparkListener(listener)
    pass = p
    on = true
  }

  /** stop tracing once the listener has seen every event */
  def end(): Unit = {
    org.apache.spark.PipebenchBus.drain(sc)
    on = false
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextSpan
      val start = System.nanoTime()
      own {
        nextSpan += 1
        sc.setLocalProperty(SpanKey, id.toString)
      }
      try body
      finally own {
        sc.setLocalProperty(SpanKey, null)
        val rec = SpanRec(id, name, pass, start, System.nanoTime())
        synchronized {
          spans += rec
          spanById(id) = rec
        }
      }
    }

  /** time the tracer spent in its listener and span bookkeeping: what a
    * traced run adds to the work of an untraced one
    */
  def busyNs: Long = synchronized(busy)

  def close(): Unit = if (pass >= 0) sc.removeSparkListener(listener)

  /** jobs charged to the spans of pass `p` */
  def jobsOf(p: Int): Seq[JobRec] = synchronized {
    jobs.values.filter(j => spanById.get(j.span).exists(_.pass == p)).toSeq
  }

  /** A job launched from a pool thread (a broadcast or an adaptive query
    * stage outside any SQL execution) names no caller. Such jobs run while
    * the caller waits for the job its own call is about to launch, so each
    * is charged to the next job of its span that does name one.
    */
  def resolvedSite(j: JobRec): String = synchronized {
    def named(site: String) = site.startsWith("graft.") || site.startsWith("pipebench.")
    if (named(j.site)) j.site
    else jobs.values.filter(o => o.span == j.span && o.id > j.id).find(o => named(o.site))
      .map(_.site).getOrElse(j.site)
  }

  def spansOf(p: Int): Seq[SpanRec] = spans.filter(_.pass == p).toSeq

  /** JSON for the trace file: every job, every span, and the call-site table */
  def json(p: Int): String = synchronized {
    val js = jobsOf(p)
    val perSpan = js.groupBy(_.span)
    val spanLines = spansOf(p).map { s =>
      val j = perSpan.getOrElse(s.id, Nil)
      s"""{"name": ${Json.str(s.name)}, "start_ms": ${Json.num((s.startNs - t0) / 1e6)}, """ +
        s""""ms": ${Json.num(s.ms)}, "jobs": ${j.size}, "tasks": ${j.map(_.tasks).sum}, """ +
        s""""task_s": ${Json.num(j.map(_.taskMs).sum / 1e3)}}"""
    }
    val sites = js.groupBy(resolvedSite).toSeq.sortBy { case (s, j) => (-j.map(_.taskMs).sum, s) }.map { case (s, j) =>
      val layers = j.map(r => spanById(r.span).name).distinct.sorted.map(Json.str).mkString(", ")
      s"""{"site": ${Json.str(s)}, "jobs": ${j.size}, "tasks": ${j.map(_.tasks).sum}, """ +
        s""""task_s": ${Json.num(j.map(_.taskMs).sum / 1e3)}, "frozen_jobs": ${j.count(_.frozen)}, "spans": [$layers]}"""
    }
    val jobLines = js.sortBy(_.id).map(j => s"""{"id": ${j.id}, "span": ${Json.str(spanById(j.span).name)}, "ok": ${j.ok}, "tasks": ${j.tasks}, "site": ${Json.str(resolvedSite(j))}}""")
    s"""{"pass": $p,\n "jobs": [\n  ${jobLines.mkString(",\n  ")}\n ],\n "call_sites": [\n  ${sites.mkString(",\n  ")}\n ],\n "spans": [\n  ${spanLines.mkString(",\n  ")}\n ]}"""
  }
}

object Tracer {
  val SpanKey = "pipebench.span"

  val Layers: Seq[String] = Seq(
    "sources.read",
    "tables.ensure", "tables.scdensure", "tables.fact_insert",
    "core.commit", "core.readout",
    "streaming.update", "streaming.save", "streaming.readout", "streaming.restore")

  private val Anon = """\$anonfun\$([A-Za-z0-9_]+)\$\d+""".r
  private val Frame = """([\w.$]+)\.([\w$]+)\(([^)]*)\)""".r

  /** `Class.method (File:line)` of the first graft frame of a long call
    * site; falls back to the first frame that is not Spark's (the
    * benchmark's own calls)
    */
  def siteOf(details: String): String = {
    val frames = Option(details).getOrElse("").split("\n").map(_.trim).filter(_.nonEmpty)
    val pick = frames.find(_.startsWith("graft."))
      .orElse(frames.find(f => !f.startsWith("org.apache.spark.") && !f.startsWith("scala.")))
      .getOrElse(frames.headOption.getOrElse("?"))
    Anon.replaceAllIn(pick, m => java.util.regex.Matcher.quoteReplacement(m.group(1))) match {
      case Frame(cls, method, loc) => s"$cls.$method ($loc)"
      case other => other
    }
  }
}
