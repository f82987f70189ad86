package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming surface.
  *
  * The reference has no streaming semantics (SURVEY §2.9) — its pipelines are
  * finite iterators. This module is the additive streaming extension: the
  * batch operators re-expressed over unbounded input with watermarks, plus
  * `foreachBatch` bridges so the dimensional operators (ensure/scdensure —
  * inherently stateful merges) run per micro-batch.
  */
object Streaming {

  /** The one monitor-state type: a state table held as a list of frozen
    * runs plus the freezes still in flight. Every streaming monitor keeps
    * its state tables here (declared through [[Monitor.state]]), and
    * [[Monitor]] checkpoints them.
    *
    * `maxDeltas` picks one of two shapes:
    *  - `maxDeltas = 1`: ONE run. `add` folds the batch aggregate into it
    *    with a single freeze of `combine(run ∪ batchAgg)` (the first add
    *    freezes the batch aggregate alone). This is for states bounded by
    *    something other than history — sketches, moment rows, per-type or
    *    per-day count tables — where re-aggregating the whole state per
    *    batch costs about as much as the batch itself.
    *  - `maxDeltas > 1`: LSM-shaped, for keyed states whose key set
    *    approaches corpus cardinality. There, folding
    *    `state ∪ batch → re-aggregate` re-aggregates (and re-materializes)
    *    the WHOLE accreted table every micro-batch, so per-batch cost
    *    grows with history. Instead `add` freezes only the batch's own
    *    (already batch-proportional) aggregate, `merged` re-aggregates the
    *    union once AT READOUT, and runs compact SIZE-TIERED: nothing merges
    *    until the run count exceeds `maxDeltas`, so a bounded replay
    *    (≤ maxDeltas batches) never pays a merge job. Past the cap, the
    *    oldest adjacent pair in the lowest size tier (⌊log2 rows⌋) that
    *    holds two runs folds, else the pair whose larger run is smallest
    *    ([[DeltaState.mergeAt]]). With equal batches every fold then joins
    *    two equal runs, so each row is rewritten at most log2(batches)
    *    times while the tiers fit in `maxDeltas` runs (below
    *    2^(maxDeltas+1) batches); past that, cross-tier folds degrade it
    *    gracefully (about 8 rewrites per row at 1,024 batches and
    *    `maxDeltas = 8`), never to a whole-state rewrite per batch.
    *
    * The readout value is identical for ANY fold grouping: the combine is
    * an associative-commutative re-aggregation of the same rows, and the
    * parity and checkpoint-restore specs pin it. `combine` must
    * re-aggregate a frame with duplicate keys back to unique keys (same
    * column names in, same out). A state whose next value is not a
    * union → combine (a carried last-event row, a relabeling) swaps in its
    * whole next frame with [[replace]].
    *
    * Threading: the freeze of each `add` and `replace` runs on a helper
    * thread, so per-batch jobs overlap the caller's next work (the other
    * monitors' updates) and back-fill idle cores instead of serializing on
    * the driver (guide §2.6); forcing every freeze inline made a
    * monitor-ingest batch 27% slower on 4 vCPUs (median 2868 vs 2251 ms
    * over 4 alternating pairs). In the one-run shape each freeze first
    * awaits the previous one, whose run it folds into. A fresh thread per
    * freeze inherits the caller's job group and local properties, so a
    * watchdog's cancelJobGroup still reaches its job, and a global gate
    * bounds the overlap. Every read drains the freezes in ADD ORDER first,
    * so reads and saved checkpoints see every prior add. The methods lock
    * the state, so concurrent readers of one shared monitor are safe;
    * [[settle]] drains without reading.
    *
    * Restore and save: a restored run stays a LAZY scan of the checkpoint
    * files. Freezing on restore would hold a copy of every restored state
    * in executor memory whether or not anything reads it. The one path
    * that overwrites checkpoint files is a save, so [[forSave]] freezes
    * any run that still reads them before it hands the state out; a later
    * `add` folds the scan into a frozen run anyway.
    */
  private[streaming] final class DeltaState(combine: DataFrame => DataFrame,
                                            maxDeltas: Int) {
    import DeltaState.{Async, Run}
    require(maxDeltas >= 1, "maxDeltas must be positive")
    // newest first; each run carries its materialized row count (free at
    // freeze time) — the size-tiered compaction is driven by run sizes
    private var deltas: List[Run] = Nil
    // freezes in flight, oldest first — folded in ADD ORDER at drain, so
    // the state's union order stays deterministic no matter which helper
    // finishes first
    private val pending = scala.collection.mutable.Queue.empty[Async]

    def isEmpty: Boolean = synchronized(pending.isEmpty && deltas.isEmpty)

    /** fold one aggregate frame into the state; its freeze overlaps with
      * whatever the caller does next
      */
    def add(batchAgg: DataFrame): Unit = synchronized {
      if (maxDeltas > 1) enqueue(() => batchAgg)
      else {
        // the run this freeze folds into: the previous add's, else the
        // settled one
        val prior = pending.lastOption
        val settled = deltas.headOption
        enqueue(() => prior.map(_.await()).orElse(settled) match {
          case None => batchAgg
          case Some(run) => combine(run.df.unionByName(batchAgg))
        })
      }
    }

    /** swap in `next` as the whole state (one-run shape), frozen like an
      * [[add]]
      */
    def replace(next: DataFrame): Unit = synchronized {
      require(maxDeltas == 1, "replace needs the one-run shape")
      enqueue(() => next)
    }

    /** like [[add]] for a frame the caller ALREADY froze and counted
      * (freezeCounted) — skips the second, redundant checkpoint copy
      */
    def addFrozen(frozenDelta: DataFrame, rows: Long): Unit = synchronized {
      require(maxDeltas > 1, "addFrozen needs the LSM shape")
      drain()
      fold(Run(frozenDelta, rows))
    }

    /** make one already-frozen frame the whole state */
    def replaceFrozen(frozen: DataFrame, rows: Long): Unit = synchronized {
      drain()
      deltas = Run(frozen, rows) :: Nil
    }

    private def enqueue(plan: () => DataFrame): Unit = {
      pending.enqueue(new Async(plan))
      // bound the in-flight tail so an unbounded ingest can't accrete
      // unmaterialized plans
      if (pending.size > maxDeltas) fold(pending.dequeue().await())
    }

    private def drain(): Unit =
      while (pending.nonEmpty) fold(pending.dequeue().await())

    /** wait for every freeze in flight — a shared state must settle before
      * its persisted blocks can be accounted
      */
    def settle(): Unit = synchronized(drain())

    private def fold(run: Run): Unit =
      if (maxDeltas == 1) deltas = run :: Nil // the run already holds its predecessor
      else {
        deltas = run :: deltas
        // compact only past the cap, one adjacent pair at a time
        // (adjacency keeps the deterministic union order; the combine
        // itself is order-insensitive)
        while (deltas.sizeIs > maxDeltas) {
          val (pre, rest) = deltas.splitAt(DeltaState.mergeAt(deltas.map(_.rows)))
          val (df, n) =
            Bridge.freezeCounted(combine(rest.head.df.unionByName(rest(1).df)))
          deltas = pre ::: Run(df, n) :: rest.drop(2)
        }
      }

    private def view: Option[DataFrame] = deltas match {
      case Nil => None
      case one :: Nil => Some(one.df)
      case many => Some(combine(many.map(_.df).reduce(_ unionByName _)))
    }

    /** the unique-key state view (aggregates the pending deltas) */
    def merged: DataFrame = synchronized {
      drain()
      view.getOrElse(throw new IllegalStateException("no batches ingested"))
    }

    /** replace the state with one checkpointed frame (or none), kept as a
      * lazy scan
      */
    def restore(frame: Option[DataFrame]): Unit = synchronized {
      drain()
      deltas = frame.map(Run(_, DeltaState.Unsized, restored = true)).toList
    }

    /** the state as a single frame for checkpointing (None when empty);
      * first freezes any run that still scans checkpoint files, because
      * the save may overwrite them
      */
    def forSave: Option[DataFrame] = synchronized {
      drain()
      deltas = deltas.map { r =>
        if (!r.restored) r
        else { val (df, n) = Bridge.freezeCounted(r.df); Run(df, n) }
      }
      view
    }
  }

  private[streaming] object DeltaState {
    /** a frozen run and its row count; a restored run is a lazy scan */
    final case class Run(df: DataFrame, rows: Long, restored: Boolean = false)

    // a restored run's size is unknown without a job; it holds all the
    // history before its checkpoint, so it ranks as the largest run and
    // merges last
    private[streaming] val Unsized = Long.MaxValue / 4

    /** which adjacent pair of runs (sizes newest first, at least two) the
      * next compaction folds, as the index of the pair's newer run: the
      * oldest pair of adjacent runs in the lowest size tier (⌊log2 rows⌋)
      * that holds one, else the pair whose larger run is smallest. Sizes
      * are only compared, never added, so an [[Unsized]] run cannot
      * overflow a sum.
      */
    private[streaming] def mergeAt(rows: Seq[Long]): Int = {
      def tier(n: Long) = 63 - java.lang.Long.numberOfLeadingZeros(n)
      val r = rows.toIndexedSeq
      val pairs = r.indices.init
      val sameTier = pairs.filter(i => tier(r(i)) == tier(r(i + 1)))
      if (sameTier.nonEmpty) sameTier.minBy(i => (tier(r(i)), -i))
      else pairs.minBy(i => r(i) max r(i + 1))
    }

    /** at most this many freeze jobs overlap JVM-wide — enough to fill a
      * stage tail, not enough to thrash the scheduler (guide §2.6)
      */
    private val gate = new java.util.concurrent.Semaphore(4)

    /** one freeze job on its own thread. A fresh Thread (not a pool)
      * inherits the caller's SparkContext local properties — job group,
      * description — so cancellation and UI labels behave exactly as if
      * the caller ran the job itself. `plan` runs on the thread before it
      * takes a gate slot, so a freeze waiting for its predecessor's run
      * never holds one.
      */
    final class Async(plan: () => DataFrame) {
      @volatile private var result: Either[Throwable, Run] = _
      private val t = new Thread(() => {
        try {
          val df = plan()
          gate.acquire()
          try {
            val (frozen, n) = Bridge.freezeCounted(df)
            result = Right(Run(frozen, n))
          } finally gate.release()
        } catch { case e: Throwable => result = Left(e) }
      }, "graft-delta-freeze")
      t.setDaemon(true)
      t.start()

      def await(): Run = {
        t.join()
        result match {
          case Right(r) => r
          case Left(e) => throw e
        }
      }
    }

    /** combine for one-row moment states: every column summed */
    val sumAll: DataFrame => DataFrame = d => {
      val summed = d.columns.map(c => sum(col(c)).as(c))
      d.agg(summed.head, summed.tail: _*)
    }

    /** combine for keyed count tables: each of `values` summed per `keys` */
    def sumBy(keys: String*)(values: String*): DataFrame => DataFrame = d => {
      val summed = values.map(v => sum(col(v)).as(v))
      d.groupBy(keys.map(col): _*).agg(summed.head, summed.tail: _*)
    }
  }

  /** Monitor-state checkpointing — the crash-recovery half of the
    * object-held-state monitors: the streaming source's own
    * `checkpointLocation` decides WHICH micro-batches replay after a
    * restart, and this persists the monitor's state tables so the restored
    * object resumes from exactly the batches the source will not re-feed.
    * The marker file is written LAST, so a kill mid-save leaves no marker
    * and `restore` reports the checkpoint unusable instead of loading a
    * torn state.
    */
  object MonitorState {
    import java.nio.file.{Files, Paths}
    private val Marker = "_STATE_OK"

    def save(dir: String, tables: Seq[(String, Option[DataFrame])]): Unit = {
      Files.createDirectories(Paths.get(dir))
      Files.deleteIfExists(Paths.get(dir, Marker))
      val present = tables.collect { case (n, Some(df)) => n -> df }
      present.foreach { case (n, df) =>
        df.write.mode("overwrite").parquet(s"$dir/$n")
      }
      Files.writeString(Paths.get(dir, Marker), present.map(_._1).mkString(","))
    }

    /** true iff `dir` holds a complete (marker-sealed) state checkpoint */
    def isComplete(dir: String): Boolean = Files.exists(Paths.get(dir, Marker))

    def load(spark: SparkSession, dir: String, name: String): Option[DataFrame] = {
      require(isComplete(dir), s"no complete monitor state at $dir")
      val names = Files.readString(Paths.get(dir, Marker)).split(",").toSet
      if (names.contains(name)) Some(spark.read.parquet(s"$dir/$name")) else None
    }
  }

  /** The one monitor contract. A monitor declares each state table with
    * [[state]]; this trait checkpoints, restores and settles them all, so
    * no monitor hand-writes its own. Call `saveState` after each `update`
    * (a save into the directory a restore read from is safe: see
    * [[DeltaState]]).
    */
  trait Monitor {
    private val states = scala.collection.mutable.ArrayBuffer.empty[(String, DeltaState)]

    /** declare a state table, checkpointed under `name` */
    private[streaming] def state(name: String,
                                 combine: DataFrame => DataFrame = identity,
                                 maxDeltas: Int = 1): DeltaState = {
      val s = new DeltaState(combine, maxDeltas)
      states += name -> s
      s
    }

    /** persist every state table for crash-restart (call after update) */
    def saveState(dir: String): Unit =
      MonitorState.save(dir, states.toSeq.map { case (n, s) => n -> s.forSave })

    /** restore every state table from a [[saveState]] checkpoint */
    def restoreState(spark: SparkSession, dir: String): Unit =
      states.foreach { case (n, s) => s.restore(MonitorState.load(spark, dir, n)) }

    /** wait for every state freeze still in flight */
    def settle(): Unit = states.foreach(_._2.settle())
  }

  /** Windowed event-time aggregation with late-data handling: the streaming
    * twin of the `stream_window_agg` batch query (same plan shape, plus
    * watermark state eviction).
    */
  def windowedAgg(events: DataFrame, tsCol: String, watermark: String,
                  window_ : String, groupCols: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_) +: groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(col("window.start").as("wstart") +: groupCols.map(col) :+
        col("n") :+ col("value_sum"): _*)

  /** Gap-based sessionization on a stream (session_window + watermark). */
  def sessionize(events: DataFrame, tsCol: String, watermark: String,
                 gap: String, keyCol: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), session_window(col(tsCol), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))
      .select(col(keyCol), col("session_window.start").as("session_start"),
        col("n_events"), col("value_sum"))

  /** Streaming exact dedup — the standard ingestion dedup for training
    * pipelines: drop re-deliveries of the same key, with dedup state bounded
    * by the watermark horizon (`dropDuplicatesWithinWatermark`, so state
    * evicts instead of growing forever — the 100 TB requirement). On a batch
    * DataFrame this degrades to plain `dropDuplicates` (no state to bound),
    * so the same call works as the batch twin.
    */
  def dedup(events: DataFrame, tsCol: String, watermark: String,
            keyCols: Seq[String]): DataFrame =
    if (events.isStreaming)
      events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keyCols)
    else events.dropDuplicates(keyCols)

  /** Streaming curation: the `pipeline_curate` composition over unbounded
    * input — per-row quality scoring and language id (stateless, scan-speed,
    * identical plan to the batch form) followed by content-fingerprint dedup
    * whose state is bounded by the watermark horizon. This is the ingestion
    * shape of a continuously-fed training corpus: documents arrive, are
    * scored/filtered in place, and only first-seen content survives — with
    * state that evicts, so the query runs forever at 100 TB/day. The quality
    * gate compares the ROUNDED score (decimal-staged at 4 places), keeping
    * the kept-set engine-reproducible at the threshold boundary. On a batch
    * frame the same call is the batch twin (dedup degrades to
    * dropDuplicates).
    */
  def curate(docs: DataFrame, textCol: String, tsCol: String, watermark: String,
             minQuality: Double, langs: Seq[String]): DataFrame = {
    import graft.functions.TextAnalysis
    val scored = docs
      .withColumn("quality",
        round(TextAnalysis.qualityScoreRaw(col(textCol))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 4).cast("double"))
      .withColumn("lang_pred", TextAnalysis.langId(col(textCol)))
      .filter(col("quality") >= minQuality && col("lang_pred").isin(langs: _*))
      .withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
    dedup(scored, tsCol, watermark, Seq("fp"))
  }

  /** Streaming drift monitor: per micro-batch, merge the batch's token
    * counts into a running count table (the same object-held-state shape as
    * [[foreachBatchMerge]]) and emit the top KL(running ‖ reference)
    * contributors against a frozen reference distribution — the ingestion-
    * time form of [[graft.functions.Curation.tokenDrift]], where the "new"
    * snapshot accretes batch by batch. Alerts fire as soon as a source goes
    * rogue, not at the next full-corpus diff.
    *
    * State is the (token, count) table — vocabulary-bounded, not
    * row-bounded — re-frozen per batch via the dimension tables'
    * checkpoint discipline.
    */
  class DriftMonitor(reference: DataFrame, textCol: String, topK: Int = 15)
      extends Monitor {
    import graft.functions.TextAnalysis
    private val spark0 = reference.sparkSession
    private val refCounts = Bridge.freeze(
      reference.select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token")).agg(count(lit(1)).as("c_ref")))
    private val running = state("running")
    running.replaceFrozen(spark0.createDataFrame(
      spark0.sparkContext.emptyRDD[Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("token",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("c_run",
          org.apache.spark.sql.types.LongType)))), 0L)

    /** merge one micro-batch's tokens into the running distribution */
    def update(batch: DataFrame): Unit = {
      val bc = batch.select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token")).agg(count(lit(1)).as("c_b"))
      running.replace(
        running.merged.join(bc, Seq("token"), "full_outer")
          .select(col("token"),
            (coalesce(col("c_run"), lit(0L)) + coalesce(col("c_b"), lit(0L))).as("c_run")))
    }

    /** top KL(running ‖ reference) contributors under add-one smoothing */
    def drift(): DataFrame = {
      val joint = running.merged.join(refCounts, Seq("token"), "full_outer")
        .select(col("token"),
          coalesce(col("c_run"), lit(0L)).as("c_run"),
          coalesce(col("c_ref"), lit(0L)).as("c_ref"))
      val stats = joint.agg(sum(col("c_run")).as("__tr"),
        sum(col("c_ref")).as("__tf"), count(lit(1)).as("__v"))
      joint.crossJoin(broadcast(stats))
        .withColumn("__p", (col("c_run").cast("double") + lit(1.0))
          / (col("__tr").cast("double") + col("__v")))
        .withColumn("__q", (col("c_ref").cast("double") + lit(1.0))
          / (col("__tf").cast("double") + col("__v")))
        .withColumn("__contrib", (col("__p") * log(col("__p") / col("__q")))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)))
        .orderBy(col("__contrib").desc, col("token").asc).limit(topK)
        .select(col("token"), col("c_ref"), col("c_run"),
          round(col("__contrib"), 6).cast("double").as("contrib"))
    }
  }

  /** Streaming cardinality monitor — per-batch HyperLogLog sketches merged
    * by register-wise max, the operation HLL exists for: state is 2^b
    * small ints REGARDLESS of stream length (the drift monitor's state is
    * vocabulary-bounded; this one is constant), each batch costs one
    * map-side-combined aggregation of the batch alone, and the merged
    * sketch is EXACTLY the batch sketch of the union
    * ([[graft.functions.Stats.hllRegisters]] mergeability, spec-proven) —
    * so the streaming estimate carries the same 1.04/√m error bound as a
    * full-corpus pass, with no distinct-key state to spill. Wire with
    * [[foreachBatchMerge]]`(stream, cm.update)`.
    */
  class CardinalityMonitor(keyCol: String, b: Int = 8) extends Monitor {
    private val regs = state("regs",
      _.groupBy(col("bucket")).agg(max(col("reg")).as("reg")))

    /** fold one micro-batch into the register state */
    def update(batch: DataFrame): Unit =
      regs.add(graft.functions.Stats.hllRegisters(batch, keyCol, b))

    /** current register table (2^b rows) */
    def registers: DataFrame = regs.merged

    /** current (m, zero_registers, est_distinct) estimate */
    def estimate: DataFrame = graft.functions.Stats.hllEstimate(registers, b)
  }

  /** Streaming incremental connected components — maintain the near-dup
    * cluster labeling as pair batches arrive, WITHOUT re-solving the full
    * graph: each batch's edges are CONTRACTED by the current labels (an
    * endpoint maps to its component's label; unseen nodes map to
    * themselves), components are solved on that contracted graph — sized
    * by the BATCH plus the touched labels, not the accumulated graph —
    * and the resulting label-merge map rewrites the stored labeling.
    *
    * Correctness falls out of the labels-are-minima invariant: a stored
    * label is the smallest id of its component, so the contracted solve's
    * group minimum equals the global component minimum — after every
    * batch the labeling is IDENTICAL to a from-scratch
    * [[graft.functions.Dedup.connectedComponents]] over all pairs seen
    * (StreamingSpec proves it through foreachBatch plumbing, including
    * batches whose edges merge previously-separate components).
    *
    * State is one (node, label) row per node that ever appeared in a pair
    * — the duplicated slice of the corpus — re-frozen per batch so
    * lineage stays flat. Per-batch shuffle: two keyed joins against the
    * label state plus the contracted solve. Wire with
    * [[foreachBatchMerge]]`(stream, cm.update)`.
    */
  class ComponentMonitor(idA: String = "id_a", idB: String = "id_b")
      extends Monitor {
    import graft.functions.Dedup
    private val labels = state("labels")

    /** fold one batch of pair rows into the labeling */
    def update(pairs: DataFrame): Unit = {
      val e = pairs.select(col(idA).cast("long").as("src"),
        col(idB).cast("long").as("dst"))
      labels.replace(if (labels.isEmpty) Dedup.connectedComponents(e, "src", "dst")
        else {
          val l = labels.merged
          val la = l.select(col("node").as("src"), col("label").as("__la"))
          val lb = l.select(col("node").as("dst"), col("label").as("__lb"))
          val contracted = e.join(la, Seq("src"), "left").join(lb, Seq("dst"), "left")
            .select(coalesce(col("__la"), col("src")).as("src"),
              coalesce(col("__lb"), col("dst")).as("dst"))
          val solved = Dedup.connectedComponents(contracted, "src", "dst")
          // rewrite stored labels through the merge map; labels untouched by
          // this batch pass through, nodes first seen here enter directly
          val lmap = solved.select(col("node").as("label"), col("label").as("__nl"))
          val rewritten = l.join(lmap, Seq("label"), "left")
            .select(col("node"), coalesce(col("__nl"), col("label")).as("label"))
          val fresh = solved.join(l.select(col("node")), Seq("node"), "left_anti")
          rewritten.unionByName(fresh)
        })
    }

    /** current labeling: (node, label) — label is the component's smallest id */
    def components: DataFrame = labels.merged
  }

  /** Streaming cohort retention — maintain the (cohort_day, offset_days,
    * active_users) table as event micro-batches arrive. State is the
    * DISTINCT (user, day) activity frame — bounded by users × active
    * calendar days, far smaller than the raw stream — so the rollup read
    * off it is always EXACTLY [[graft.functions.Events.retention]] over
    * every event seen. That makes late data correct by construction: an
    * out-of-order event that back-dates a user's first activity re-dates
    * their cohort and shifts every one of their offsets — a running
    * (cohort, offset) counter could never un-count the old attribution,
    * but the activity-state design just re-derives the rollup
    * (StreamingSpec proves parity through an engineered late back-dating
    * batch).
    *
    * Per-batch cost: one batch-local distinct plus a keyed merge-distinct
    * into the state; re-frozen per batch so lineage stays flat. Wire with
    * [[foreachBatchMerge]]`(stream, rm.update)`.
    */
  class RetentionMonitor(userCol: String = "user_id", tsCol: String = "ts")
      extends Monitor {
    // the (user, day) activity key set approaches corpus cardinality: LSM
    // delta state ([[DeltaState]]) keeps per-batch work batch-proportional
    // instead of re-writing the whole accreted set every micro-batch
    // (distinct IS the associative re-aggregation for a key SET)
    private val activity = state("activity", _.distinct(), maxDeltas = 8)

    /** fold one micro-batch of raw events into the activity state */
    def update(batch: DataFrame): Unit =
      activity.add(batch
        .select(col(userCol), to_date(col(tsCol)).as("__day"))
        .distinct())

    /** current (cohort_day, offset_days, active_users) table */
    def retention: DataFrame =
      graft.functions.Events.retentionOfActivity(activity.merged, userCol)

    /** current (day, dau, wau, stickiness) table — the second readout off
      * the same activity state (one state, both dashboard tables)
      */
    def stickiness(windowDays: Int = 7): DataFrame =
      graft.functions.Events.stickinessOfActivity(activity.merged, userCol,
        windowDays)
  }

  /** Streaming volume-anomaly monitor — maintain the (event_type, day)
    * count table as micro-batches arrive and read
    * [[graft.functions.Events.dailyAnomalies]] verdicts off it at any
    * point. Daily counts are ADDITIVE, so the merge is a keyed sum —
    * the accreted table is exactly the batch count table of the union
    * (no approximation, unlike sketch-backed monitors), and the z-stage
    * is the shared [[graft.functions.Events.anomaliesOfDaily]], so
    * streaming verdicts are bit-identical to a from-scratch batch scan
    * (StreamingSpec proves parity through foreachBatch plumbing).
    *
    * State is |types|×|days| rows — calendar-bounded like
    * [[RetentionMonitor]]'s, trivially held; each batch costs one
    * map-side-combined batch aggregation plus the keyed merge, re-frozen
    * so lineage stays flat. Wire with [[foreachBatchMerge]]`(stream,
    * vm.update)`.
    */
  class VolumeMonitor(typeCol: String = "event_type", tsCol: String = "ts")
      extends Monitor {
    private val daily = state("daily", DeltaState.sumBy("event_type", "day")("n"))

    /** fold one micro-batch of raw events into the count state */
    def update(batch: DataFrame): Unit =
      daily.add(batch
        .groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("day"))
        .agg(count(lit(1)).as("n")))

    /** current (event_type, day, n, z, is_anomaly) verdicts */
    def anomalies(zThreshold: Double = 2.0): DataFrame =
      graft.functions.Events.anomaliesOfDaily(daily.merged, zThreshold)

    /** second readout off the SAME accreted count state: the seasonal-naive
      * forecast audit ([[graft.functions.Events.forecastOfDaily]]) — daily
      * counts are additive, so once all of a day's events have landed the
      * streamed audit is bit-identical to the batch
      * [[graft.functions.Events.seasonalForecast]]
      */
    def forecast(period: Int = 7): DataFrame =
      graft.functions.Events.forecastOfDaily(daily.merged, "event_type", period)

    /** third readout off the accreted count state: CUSUM creep detection
      * ([[graft.functions.Events.cusumOfDaily]]) — the slow-drift alarm
      * the per-day z-test cannot raise; additivity makes it batch-exact
      */
    /** fourth readout off the accreted count state: the EWMA control chart
      * ([[graft.functions.Events.ewmaOfDaily]]) — the small-sustained-shift
      * detector between the per-day z and the CUSUM creep alarm; the daily
      * counts' additivity makes it batch-exact once a day's events land
      */
    def ewma(lambda: Double = 0.2, limitSigmas: Double = 3.0): DataFrame =
      graft.functions.Events.ewmaOfDaily(daily.merged, lambda, limitSigmas)

    def cusum(slack: Double = 0.5, threshold: Double = 3.0): DataFrame =
      graft.functions.Events.cusumOfDaily(daily.merged, slack, threshold)

    /** Page–Hinkley drift readout off the accreted count state
      * ([[graft.functions.Events.phOfDaily]]) — the running-mean change
      * detector next to the global-mean CUSUM; additivity makes it
      * batch-exact once a day's events land
      */
    def pageHinkley(delta: Double = 0.5, lambda: Double = 20.0): DataFrame =
      graft.functions.Events.phOfDaily(daily.merged, delta, lambda)

    /** MASE forecast-accuracy readout off the accreted count state
      * ([[graft.functions.Events.maseOfDaily]]) — the scaled companion
      * of [[forecast]]'s raw MAE/MAPE audit; additivity makes it
      * batch-exact once a day's events land
      */
    def mase(period: Int = 7): DataFrame =
      graft.functions.Events.maseOfDaily(daily.merged, period)

    /** Wald–Wolfowitz randomness readout off the accreted count state
      * ([[graft.functions.Events.runsOfDaily]]) — is the daily series
      * iid around its median at all, the assumption check under the
      * CUSUM/EWMA alarms; additivity makes it batch-exact
      */
    def runs: DataFrame =
      graft.functions.Events.runsOfDaily(daily.merged)

    /** p-chart readout off the accreted count state
      * ([[graft.functions.Events.pchartOfDaily]]) — per-day control
      * limits on the `targetType` SHARE of daily volume, the composition
      * alarm next to the count alarms; additivity makes it batch-exact
      */
    def pchart(targetType: String, sigmas: Double = 3.0): DataFrame =
      graft.functions.Events.pchartOfDaily(daily.merged, targetType, sigmas)

    /** mix-evenness readout off the accreted count state
      * ([[graft.functions.Events.evennessOfDaily]]) — each day's
      * normalized type-composition entropy, the diversity trend next to
      * the p-chart's single-type alarm; additivity makes it batch-exact
      */
    def evenness: DataFrame =
      graft.functions.Events.evennessOfDaily(daily.merged)

    /** fifth readout off the accreted count state: the Mann–Kendall
      * monotonic-trend verdict + Theil–Sen slope
      * ([[graft.functions.Events.mkOfDaily]]) — the distribution-free
      * "is volume trending at all" next to the level-shift alarms;
      * additivity makes it batch-exact once a day's events land
      */
    def trend: DataFrame =
      graft.functions.Events.mkOfDaily(daily.merged)

    /** sixth readout off the accreted count state: the autocorrelation
      * function at lags 1..maxLag
      * ([[graft.functions.Events.acfOfDaily]]) — the seasonality /
      * momentum fingerprint next to the alarms; batch-exact by the same
      * additivity
      */
    def autocorrelation(maxLag: Int = 7): DataFrame =
      graft.functions.Events.acfOfDaily(daily.merged, maxLag)

    /** seventh readout off the accreted count state: the Pettitt
      * changepoint verdict ([[graft.functions.Events.pettittOfDaily]]) —
      * WHICH day the level shifted; batch-exact by the same additivity
      */
    def changepoint: DataFrame =
      graft.functions.Events.pettittOfDaily(daily.merged)

    /** fourteenth readout off the accreted count state: Holt's linear
      * level+trend smoothing and one-step volume forecast
      * ([[graft.functions.Events.holtOfDaily]]) — the recursion is
      * linear in the daily counts, so the accreted state reads out the
      * identical (level, trend, forecast); batch-exact by the same
      * additivity
      */
    def holt(alpha: Double = 0.5, beta: Double = 0.5): DataFrame =
      graft.functions.Events.holtOfDaily(daily.merged, alpha, beta)

    /** fifteenth readout: Benjamini–Hochberg FDR control
      * ([[graft.functions.Stats.bhAdjust]]) across the per-type Pettitt
      * changepoint p-values of the SAME accreted count state — "which of
      * the panel's changepoint alarms survive multiple-testing control",
      * live; batch-exact because both stages are
      */
    def fdrControl(q: Double = 0.05): DataFrame =
      graft.functions.Stats.bhAdjust(
        graft.functions.Events.pettittOfDaily(daily.merged), "event_type", "p_approx", q)

    /** seventeenth readout off the accreted count state: the per-type
      * burstiness profile ([[graft.functions.Events.burstinessOfDaily]])
      * — Fano factor and CV² of the daily volumes, the dispersion
      * context every other alarm on this state should be tuned against;
      * batch-exact by the same additivity
      */
    def burstiness: DataFrame =
      graft.functions.Events.burstinessOfDaily(daily.merged)

    /** sixteenth readout: the Bonferroni/Holm/Benjamini–Yekutieli
      * adjustment family ([[graft.functions.Stats.padjust]]) across the
      * SAME per-type Pettitt changepoint panel — the FWER and
      * dependence-robust corrections next to [[fdrControl]]'s BH;
      * batch-exact because both stages are
      */
    def familywiseControl: DataFrame =
      graft.functions.Stats.padjust(
        graft.functions.Events.pettittOfDaily(daily.merged), "event_type", "p_approx")

    /** eighth readout off the accreted count state: the Ljung–Box
      * portmanteau Q ([[graft.functions.Events.ljungBoxOfDaily]]) — "is
      * the ACF's structure real or white noise", pooled across lags;
      * batch-exact by the same additivity
      */
    def whiteNoise(maxLag: Int = 7): DataFrame =
      graft.functions.Events.ljungBoxOfDaily(daily.merged, maxLag)

    /** ninth readout off the accreted count state: Durbin–Watson on the
      * detrended series ([[graft.functions.Events.dwOfDaily]]) — do the
      * residuals around the OLS trend line still lean on each other;
      * batch-exact by the same additivity
      */
    def residualAutocorr: DataFrame =
      graft.functions.Events.dwOfDaily(daily.merged)

    /** tenth readout off the accreted count state: the Wilcoxon
      * signed-rank verdict between two types' paired daily volumes
      * ([[graft.functions.Events.wsrOfDaily]]); batch-exact by the same
      * additivity
      */
    def pairedShift(typeA: String, typeB: String): DataFrame =
      graft.functions.Events.wsrOfDaily(daily.merged, typeA, typeB)

    /** eleventh readout off the accreted count state: the sign test over
      * the same paired daily diffs
      * ([[graft.functions.Events.signOfDaily]]) — the assumption-free
      * floor under [[pairedShift]]
      */
    def pairedSign(typeA: String, typeB: String): DataFrame =
      graft.functions.Events.signOfDaily(daily.merged, typeA, typeB)

    /** twelfth readout off the accreted count state: the Friedman rank
      * test + Kendall's W across ALL types' daily volumes
      * ([[graft.functions.Events.friedmanOfDaily]]) — the k-way
      * generalization of [[pairedShift]]; batch-exact by the same
      * additivity
      */
    def concordance: DataFrame =
      graft.functions.Events.friedmanOfDaily(daily.merged)

    /** thirteenth readout off the accreted count state: Page's L ordered
      * trend across the types' daily ranks
      * ([[graft.functions.Events.pageOfDaily]]) — the directed question
      * [[concordance]]'s omnibus can't answer; batch-exact by the same
      * additivity
      */
    def pageTrend: DataFrame =
      graft.functions.Events.pageOfDaily(daily.merged)
  }

  /** Streaming key-concentration monitor — per-key counts are ADDITIVE, so
    * a keyed-sum state accreted batch by batch equals the one-pass corpus
    * count table exactly, and BOTH concentration readouts are bit-identical
    * to their batch twins: the whale-factor top-k audit
    * ([[graft.functions.Stats.keySkewOfCounts]]) and the exact Lorenz/Gini
    * coefficient ([[graft.functions.Stats.giniOfCounts]]) — continuous
    * "is one user/domain swallowing the stream" monitoring with the alert
    * available after every micro-batch instead of at the next corpus scan.
    *
    * State is the |keys|-row count table (the [[RetentionMonitor]] bound:
    * key cardinality, not event volume); each batch costs one
    * map-side-combined aggregation plus the keyed merge, re-frozen so
    * lineage stays flat. Wire with [[foreachBatchMerge]]`(stream,
    * km.update)`.
    */
  class KeyCountMonitor(keyCol: String) extends Monitor {
    // |keys| can be corpus-scale (user ids): LSM delta state keeps
    // per-batch work batch-proportional; the keyed sum is the associative
    // re-aggregation
    private val counts = state("counts", DeltaState.sumBy("key")("cnt"), maxDeltas = 8)

    /** fold one micro-batch of raw rows into the count state */
    def update(batch: DataFrame): Unit =
      counts.add(batch.groupBy(col(keyCol).cast("string").as("key"))
        .agg(count(lit(1)).as("cnt")))

    /** current whale-factor audit — equals the batch [[graft.functions.Stats.keySkew]] */
    def skew(topK: Int = 20): DataFrame =
      graft.functions.Stats.keySkewOfCounts(counts.merged, topK)

    /** current exact Gini — equals the batch [[graft.functions.Stats.giniConcentration]] */
    def gini(): DataFrame = graft.functions.Stats.giniOfCounts(counts.merged)

    /** current Simpson concentration / effective-key count — the third
      * readout off the SAME count state; equals the batch
      * [[graft.functions.Stats.simpsonConcentration]]
      */
    def concentration(): DataFrame =
      graft.functions.Stats.simpsonOfCounts(counts.merged)

    /** current Hill tail index — the fourth readout off the SAME count
      * state (how heavy is the whale tail, as a power-law exponent);
      * equals the batch [[graft.functions.Stats.hillTail]]
      */
    def tail(k: Int = 100): DataFrame =
      graft.functions.Stats.hillOfCounts(counts.merged, k)
  }

  /** Streaming data-quality monitor — the continuous form of
    * [[graft.functions.Stats.nullProfile]]: per-column row/null/empty
    * counters are ADDITIVE, so the accreted per-column table equals the
    * one-pass corpus profile and the null-rate readout is bit-identical
    * to the batch audit. State is |columns| rows — constant. Wire with
    * [[foreachBatchMerge]]`(stream, npm.update)`.
    */
  class NullProfileMonitor(colsToCheck: Seq[String]) extends Monitor {
    require(colsToCheck.nonEmpty, "need at least one column")
    private val counters = state("counters",
      DeltaState.sumBy("col_name")("n_rows", "n_null", "n_empty"))

    /** fold one micro-batch into the per-column counters */
    def update(batch: DataFrame): Unit = {
      val aggs = count(lit(1)).as("__n") +: colsToCheck.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nl_$c"),
        sum(when(col(c).cast("string") === "", 1L).otherwise(0L)).as(s"__em_$c")))
      val row = batch.agg(aggs.head, aggs.tail: _*)
      counters.add(colsToCheck.map(c => row.select(lit(c).as("col_name"),
          col("__n").as("n_rows"), col(s"__nl_$c").as("n_null"),
          col(s"__em_$c").as("n_empty")))
        .reduce(_.unionAll(_)))
    }

    /** current per-column profile — equals the batch nullProfile */
    def profile: DataFrame = {
      val st = counters.merged
      st.select(col("col_name"), col("n_rows"), col("n_null"), col("n_empty"),
        round(when(col("n_rows") === 0, lit(0.0))
          .otherwise(col("n_null").cast("double") / col("n_rows"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 4)
          .cast("double").as("null_frac"))
    }
  }

  /** Streaming benchmark-contamination monitor — continuous
    * decontamination at ingest: the benchmark's capped winnowed-fingerprint
    * index ([[graft.functions.Dedup.benchFingerprintIndex]]) freezes ONCE
    * at construction (the benchmark is fixed), and each incoming training
    * micro-batch fingerprints itself and equi-joins the index — per-batch
    * work is batch-proportional, never corpus- or benchmark-rescanning.
    * Because the benchmark side never changes and a training document's
    * shared-fingerprint counts involve only its own batch, the accreted
    * match set EQUALS the batch [[graft.functions.Dedup.contamination]]
    * over all batches seen (StreamingSpec proves it through foreachBatch
    * plumbing). Wire with [[foreachBatchMerge]]`(stream, cm.update)`.
    */
  class ContaminationMonitor(bench: DataFrame, benchId: String,
                             benchText: String, trainId: String,
                             trainText: String,
                             k: Int = 4, window: Int = 4, minShared: Int = 5,
                             maxDocsPerFp: Int = 100) extends Monitor {
    import graft.functions.Dedup
    private val benchIdx = Bridge.freeze(
      Dedup.benchFingerprintIndex(bench, benchId, benchText, k, window, maxDocsPerFp))
    private val found = state("found")

    /** match one micro-batch of training docs against the benchmark index */
    def update(batch: DataFrame): Unit =
      found.add(Dedup.contaminationAgainstIndex(batch, trainId, trainText,
        benchIdx, k, window, minShared))

    /** all (train_id, bench_id, shared) contamination hits so far */
    def matches: DataFrame = found.merged
  }

  /** Streaming Benford monitor — continuous fabricated-numbers screening:
    * first-digit counts are ADDITIVE, so the ≤9-row accreted state equals
    * the one-pass table and the deviation readout is bit-identical to the
    * batch [[graft.functions.Stats.benfordAudit]]. A metrics column whose
    * digit profile drifts mid-stream changed its generator. Wire with
    * [[foreachBatchMerge]]`(stream, bm.update)`.
    */
  class BenfordMonitor(valueCol: String) extends Monitor {
    private val counts = state("counts", DeltaState.sumBy("digit")("n"))

    /** fold one micro-batch's first digits into the ≤9-row count state */
    def update(batch: DataFrame): Unit =
      counts.add(batch.select(floor(col(valueCol)).cast("long").as("__n"))
        .filter(col("__n") >= 1)
        .select(substring(col("__n").cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n")))

    /** current deviation table — equals the batch benfordAudit */
    def audit: DataFrame = {
      val st = counts.merged
      val dec = org.apache.spark.sql.types.DecimalType(18, 8)
      val tot = broadcast(st.agg(sum(col("n")).as("__tot")))
      st.sparkSession.range(1, 10).select(col("id").cast("int").as("digit"))
        .join(st, Seq("digit"), "left")
        .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"))
        .crossJoin(tot)
        .select(col("digit"), col("n"),
          round((col("n").cast("double") / col("__tot")).cast(dec), 6)
            .cast("double").as("obs_frac"),
          round((log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0))).cast(dec), 6)
            .cast("double").as("exp_frac"))
        .withColumn("dev",
          round((col("obs_frac") - col("exp_frac")).cast(dec), 6).cast("double"))
    }
  }

  /** Streaming PSI drift monitor — "has the live feature's distribution
    * moved from the frozen training reference enough to retrain": the
    * reference side collapses ONCE to its bounded fixed-width bin table;
    * each micro-batch folds its bin counts into the additive stream-side
    * state, so the [[graft.functions.Stats.psiOfBins]] readout is
    * bit-identical to the batch [[graft.functions.Stats.psiDrift]] over
    * everything seen. State is |bins| rows — constant w.r.t. stream
    * length. Wire with [[foreachBatchMerge]]`(stream, pm.update)`.
    */
  class PsiMonitor(reference: DataFrame, valueCol: String, width: Double)
      extends Monitor {
    require(width > 0, "width must be positive")
    private val refBins = Bridge.freeze(
      graft.functions.Stats.psiBins(reference, valueCol, width, "ca"))
    private val counts = state("counts", DeltaState.sumBy("bin")("cb"))

    /** fold one micro-batch's fixed-width bin counts into the state */
    def update(batch: DataFrame): Unit =
      counts.add(graft.functions.Stats.psiBins(batch, valueCol, width, "cb"))

    /** current PSI vs the frozen reference — equals the batch psiDrift */
    def drift: DataFrame = {
      val st = counts.merged
      graft.functions.Stats.psiOfBins(
        refBins.join(st, Seq("bin"), "full_outer")
          .select(col("bin"), coalesce(col("ca"), lit(0L)).as("ca"),
            coalesce(col("cb"), lit(0L)).as("cb")))
    }
  }

  /** Streaming Gumbel-top-k selection — continuous softmax sampling over
    * an unbounded scored stream with CONSTANT state: because
    * [[graft.functions.Sampling.gumbelTopK]] keys are deterministic
    * per row, the top-k of a union equals the top-k of (current top-k ∪
    * new batch) — so the monitor keeps exactly k rows and still selects
    * the same set a batch pass over everything seen would (spec-proven
    * with save/restore). The streaming form of "keep the best k by
    * temperature-controlled quality draw" for a continuously-fed corpus.
    */
  class GumbelTopKMonitor(idCol: String, scoreCol: String, k: Int,
                          invTemp: Double = 1.0, salt: String = "gumbel")
      extends Monitor {
    private val top = state("top",
      _.orderBy(col("gumbel_key").desc, col(idCol).asc).limit(k))

    /** fold one micro-batch of (idCol, scoreCol) rows into the top-k */
    def update(batch: DataFrame): Unit =
      top.add(graft.functions.Sampling.gumbelTopK(
        batch, idCol, col(scoreCol), k, invTemp, salt))

    /** current selection — equals the batch gumbelTopK over all rows seen */
    def selected: DataFrame = top.merged
  }

  /** Streaming correlation monitor — the JOINT-distribution drift watch:
    * every Pearson moment (count, sums, sum-squares, cross-products) is
    * an EXACT-decimal additive quantity, so a 1-row state accreted batch
    * by batch equals the one-pass corpus moments and the correlation
    * readout is bit-identical to the batch
    * [[graft.functions.Stats.correlationMatrix]]. A correlation that
    * moves mid-stream means the joint distribution changed even when
    * every marginal monitor stayed quiet. Wire with
    * [[foreachBatchMerge]]`(stream, cm.update)`.
    */
  class CorrMonitor(cols: Seq[String]) extends Monitor {
    require(cols.size >= 2, "need at least two columns")
    private val moments = state("moments", DeltaState.sumAll)

    /** fold one micro-batch's moments into the 1-row state */
    def update(batch: DataFrame): Unit =
      moments.add(graft.functions.Stats.corrMoments(batch, cols))

    /** current correlation matrix — equals the batch one */
    def matrix: DataFrame = graft.functions.Stats.corrOfMoments(
      moments.merged, cols)

    /** current CUPED θ / variance-reduction readout for covariate `x`
      * against metric `y` — the second readout off the SAME 1-row moment
      * state; equals the batch [[graft.functions.Stats.cuped]]
      */
    def cuped(x: String, y: String): DataFrame =
      graft.functions.Stats.cupedOfMoments(moments.merged, cols, x, y)
  }

  /** Streaming Welch t-test monitor — the LIVE A/B experiment readout:
    * the control arm collapses ONCE to its exact-decimal (n, Σx, Σx²)
    * moment row ([[graft.functions.Stats.welchMoments]]); each treatment
    * micro-batch folds its own moment row into the additive 1-row state,
    * so the [[graft.functions.Stats.welchOfMoments]] readout — t statistic
    * plus Welch–Satterthwaite dof — is bit-identical to the batch
    * [[graft.functions.Stats.welchTTest]] over everything seen. "Is the
    * treatment mean drifting away from control, and is it significant
    * yet" answered continuously with constant state. Wire with
    * [[foreachBatchMerge]]`(stream, wm.update)`.
    */
  class WelchMonitor(control: DataFrame, valueCol: String) extends Monitor {
    private val refMoments = Bridge.freeze(
      graft.functions.Stats.welchMoments(control, valueCol, "a"))
    private val moments = state("moments", DeltaState.sumAll)

    /** fold one treatment micro-batch's (n, Σx, Σx²) into the 1-row state */
    def update(batch: DataFrame): Unit =
      moments.add(graft.functions.Stats.welchMoments(batch, valueCol, "b"))

    /** current (n_a, n_b, mean_a, mean_b, t, df) — equals the batch test */
    def readout: DataFrame = graft.functions.Stats.welchOfMoments(
      refMoments.crossJoin(moments.merged))

    /** second readout off the SAME moment state: Cohen's d / Hedges' g
      * ([[graft.functions.Stats.cohensDOfMoments]]) — equals the batch
      * [[graft.functions.Stats.cohensD]] over everything seen
      */
    def effectSize: DataFrame = graft.functions.Stats.cohensDOfMoments(
      refMoments.crossJoin(moments.merged))
  }

  /** Streaming OLS trend monitor — "is the metric trending, live": every
    * regression moment (n, Σx, Σy, Σxy, Σx², Σy²) is an exact-decimal
    * additive quantity ([[graft.functions.Stats.trendMoments]]), so the
    * 1-row state accreted batch by batch reads out slope / r² / t
    * bit-identical to the batch [[graft.functions.Stats.trendTest]] over
    * everything seen. The directional companion to the drift monitors:
    * PSI says the distribution moved, this says which way and how fast
    * per unit of x. Wire with [[foreachBatchMerge]]`(stream, tm.update)`.
    */
  class TrendMonitor(xCol: Column, yCol: Column) extends Monitor {
    private val moments = state("moments", DeltaState.sumAll)

    /** fold one micro-batch's regression moments into the 1-row state */
    def update(batch: DataFrame): Unit =
      moments.add(graft.functions.Stats.trendMoments(batch, xCol, yCol))

    /** current (n, slope, intercept, r2, t) — equals the batch trendTest */
    def readout: DataFrame = graft.functions.Stats.trendOfMoments(moments.merged)
  }

  /** Streaming one-way ANOVA monitor — "are the cohorts' means still
    * equal, live": the per-group (n, Σx, Σx²) moment table
    * ([[graft.functions.Stats.groupMoments]]) is additive PER GROUP, so
    * folding each micro-batch's k-row table into the state by group-wise
    * re-sum keeps it bounded by |groups| and the
    * [[graft.functions.Stats.anovaOfGroupMoments]] readout bit-identical
    * to the batch [[graft.functions.Stats.anovaF]] over everything seen.
    * Wire with [[foreachBatchMerge]]`(stream, am.update)`.
    */
  class AnovaMonitor(groupCol: Column, valueCol: Column) extends Monitor {
    private val moments = state("moments", DeltaState.sumBy("__g")("__gn", "__gs", "__gq"))

    /** fold one micro-batch's per-group moments into the k-row state */
    def update(batch: DataFrame): Unit =
      moments.add(graft.functions.Stats.groupMoments(batch, groupCol, valueCol))

    /** current (k, n, df1, df2, f, eta2) — equals the batch anovaF */
    def readout: DataFrame = graft.functions.Stats.anovaOfGroupMoments(moments.merged)

    /** second readout off the SAME group-moment state: the Tukey HSD
      * pairwise table ([[graft.functions.Stats.tukeyOfGroupMoments]]) —
      * equals the batch [[graft.functions.Stats.tukeyHsd]] over
      * everything seen
      */
    def pairwise: DataFrame = graft.functions.Stats.tukeyOfGroupMoments(moments.merged)

    /** third readout off the SAME group-moment state: Bartlett's
      * variance-homogeneity test
      * ([[graft.functions.Stats.bartlettOfGroupMoments]]) — is the
      * equal-variance assumption the F and the pooled-MSW pairs lean on
      * still holding, live; equals the batch
      * [[graft.functions.Stats.bartlettTest]] over everything seen
      */
    def varianceHomogeneity: DataFrame =
      graft.functions.Stats.bartlettOfGroupMoments(moments.merged)
  }

  /** Streaming Kruskal–Wallis monitor — "do the cohorts still draw from
    * one distribution, live", rank-based: the per-(value, group) count
    * table ([[graft.functions.Stats.groupValueCounts]]) is additive PER
    * PAIR, so folding each micro-batch by pair-wise re-sum keeps the
    * state bounded by distinct pairs and the
    * [[graft.functions.Stats.kwOfCounts]] readout bit-identical to the
    * batch [[graft.functions.Stats.kruskalWallis]] over everything seen —
    * the nonparametric sibling of [[AnovaMonitor]] on the same stream.
    * Wire with [[foreachBatchMerge]]`(stream, km.update)`.
    */
  class KruskalMonitor(groupCol: Column, valueCol: Column) extends Monitor {
    // the (value, group) key table can approach row cardinality
    // (continuous values): LSM delta state keeps per-batch work
    // batch-proportional instead of re-aggregating the accreted table
    private val counts = state("counts", DeltaState.sumBy("__v", "__g")("__c"), maxDeltas = 8)

    /** fold one micro-batch's (value, group) counts into the keyed state */
    def update(batch: DataFrame): Unit =
      counts.add(graft.functions.Stats.groupValueCounts(batch, groupCol, valueCol))

    /** current (k, n, h) — equals the batch kruskalWallis */
    def readout: DataFrame = graft.functions.Stats.kwOfCounts(counts.merged)

    /** second readout off the SAME (value, group) count state: the
      * Brown–Forsythe equal-spread test
      * ([[graft.functions.Stats.bfOfCounts]]) — equals the batch
      * [[graft.functions.Stats.leveneTest]] over everything seen
      */
    def spread: DataFrame = graft.functions.Stats.bfOfCounts(counts.merged)

    /** third readout off the SAME count state (groups summed away): the
      * exact interpolated quantiles
      * ([[graft.functions.Stats.quantilesOfCounts]]) — equals the batch
      * [[graft.functions.Stats.exactQuantiles]] over everything seen
      */
    def quantiles(qs: Seq[Double]): DataFrame =
      graft.functions.Stats.quantilesOfCounts(
        counts.merged
          .groupBy(col("__v")).agg(sum(col("__c")).as("__c")), qs)

    /** fourth readout off the SAME count state (groups summed away): the
      * robust trimmed mean ([[graft.functions.Stats.trimmedOfCounts]]) —
      * equals the batch [[graft.functions.Stats.trimmedMean]]
      */
    def trimmed(trim: Double = 0.1): DataFrame =
      graft.functions.Stats.trimmedOfCounts(
        counts.merged
          .groupBy(col("__v")).agg(sum(col("__c")).as("__c")), trim)

    /** fifth readout off the SAME count state (groups summed away): the
      * median-absolute-deviation robust scale
      * ([[graft.functions.Stats.madOfCounts]]) — equals the batch
      * [[graft.functions.Stats.madScale]]
      */
    def scale: DataFrame =
      graft.functions.Stats.madOfCounts(
        counts.merged
          .groupBy(col("__v")).agg(sum(col("__c")).as("__c")))

    /** sixth readout off the SAME count state (groups summed away): the
      * quartile shape row ([[graft.functions.Stats.shapeOfCounts]]) —
      * equals the batch [[graft.functions.Stats.robustShape]]
      */
    def shape: DataFrame =
      graft.functions.Stats.shapeOfCounts(
        counts.merged
          .groupBy(col("__v")).agg(sum(col("__c")).as("__c")))

    /** fourth readout off the SAME count state: the Jonckheere–Terpstra
      * ordered-alternative trend ([[graft.functions.Stats.jtOfCounts]]) —
      * "do the groups INCREASE along their ordering", the directed
      * question [[readout]]'s KW omnibus can't answer; equals the batch
      * [[graft.functions.Stats.jonckheereTerpstra]] over everything seen
      */
    def trend: DataFrame = graft.functions.Stats.jtOfCounts(counts.merged)

    /** fifth readout off the SAME count state: Mood's median test
      * ([[graft.functions.Stats.moodOfCounts]]) — the outlier-proof
      * above/below-pooled-median dichotomy under [[readout]]'s KW;
      * equals the batch [[graft.functions.Stats.moodMedianTest]]
      */
    def medianTest: DataFrame = graft.functions.Stats.moodOfCounts(counts.merged)
  }

  /** Streaming normality monitor — "is this metric still bell-shaped,
    * live": each micro-batch collapses to its exact-decimal power-sum
    * row (n, Σx, Σx², Σx³, Σx⁴, min, max —
    * [[graft.functions.Stats.normalityMoments]]); sums ADD and the
    * extremes merge by min/max, so the 1-row state reads out a
    * Jarque–Bera verdict bit-identical to the batch
    * [[graft.functions.Stats.jarqueBera]] over everything seen, and the
    * SAME row answers Grubbs' "is the single worst record an outlier"
    * ([[extremes]]). The assumption-check layer under every z/t alarm
    * upstream. Wire with [[foreachBatchMerge]]`(stream, nm.update)`.
    */
  class NormalityMonitor(valueCol: Column) extends Monitor {
    private val moments = state("moments", m => {
      val merged = m.columns.map {
        case c @ "__jlo" => min(col(c)).as(c)
        case c @ "__jhi" => max(col(c)).as(c)
        case c           => sum(col(c)).as(c)
      }
      m.agg(merged.head, merged.tail: _*)
    })

    /** fold one micro-batch's power-sum row into the 1-row state */
    def update(batch: DataFrame): Unit =
      moments.add(graft.functions.Stats.normalityMoments(batch, valueCol))

    /** current (n, mean, sd, skewness, kurtosis, jb, p) — equals the
      * batch [[graft.functions.Stats.jarqueBera]]
      */
    def readout: DataFrame = graft.functions.Stats.jbOfMoments(moments.merged)

    /** second readout off the SAME moment state: Grubbs' extreme-outlier
      * statistic ([[graft.functions.Stats.grubbsOfMoments]]) — equals
      * the batch [[graft.functions.Stats.grubbsTest]]
      */
    def extremes: DataFrame = graft.functions.Stats.grubbsOfMoments(moments.merged)

    /** third readout off the SAME moment state: D'Agostino's K² omnibus
      * normality test ([[graft.functions.Stats.k2OfMoments]]) — equals
      * the batch [[graft.functions.Stats.dagostinoK2]]
      */
    def omnibus: DataFrame = graft.functions.Stats.k2OfMoments(moments.merged)
  }

  /** Streaming two-proportion monitor — the live RATE comparison (A/B
    * conversion, filter keep-rate vs the frozen control): both arms'
    * (n, successes) pairs are exact-integer ADDITIVE, so the 1-row state
    * accreted batch by batch reads out a z bit-identical to the batch
    * [[graft.functions.Stats.twoProportionZ]] over everything seen. Rows
    * route to arm a where `armA` is true, arm b otherwise. Wire with
    * [[foreachBatchMerge]]`(stream, pm.update)`.
    */
  class ProportionMonitor(armA: Column, successCol: Column) extends Monitor {
    private val counts = state("counts", DeltaState.sumAll)

    /** fold one micro-batch's per-arm (n, successes) into the 1-row state */
    def update(batch: DataFrame): Unit =
      counts.add(graft.functions.Stats.propCounts(batch.filter(armA), successCol, "a")
        .crossJoin(graft.functions.Stats.propCounts(
          batch.filter(!armA), successCol, "b")))

    /** current (n_a, n_b, p_a, p_b, z) — equals the batch twoProportionZ */
    def readout: DataFrame = graft.functions.Stats.propOfCounts(counts.merged)

    /** Wald SPRT readout on the LIVE arm (arm B) — the peek-proof
      * stopping rule off the SAME additive count state
      * ([[graft.functions.Stats.sprtOfCounts]]); equals the batch
      * [[graft.functions.Stats.sprt]] over arm B's rows
      */
    def sequential(p0: Double, p1: Double, alpha: Double = 0.05,
                   beta: Double = 0.2): DataFrame =
      graft.functions.Stats.sprtOfCounts(counts.merged, p0, p1, alpha, beta)

    /** second readout off the SAME count state: the sample-size plan
      * ([[graft.functions.Stats.powerOfCounts]]) — how many rows per arm
      * the NEXT experiment needs to re-detect the observed share
      * difference; equals the batch [[graft.functions.Stats.powerTwoProp]]
      */
    def sampleSize(zSumSq: Double = graft.functions.Stats.zSumSq80At05): DataFrame =
      graft.functions.Stats.powerOfCounts(counts.merged, zSumSq)

    /** third readout off the SAME count state: Cohen's h effect size
      * ([[graft.functions.Stats.cohenHOfCounts]]) — how LARGE the share
      * move is on the arcsine scale; equals the batch
      * [[graft.functions.Stats.cohenH]]
      */
    def effectSize: DataFrame = graft.functions.Stats.cohenHOfCounts(counts.merged)

    /** fourth readout off the SAME count state: relative risk and odds
      * ratio with 95% log-scale intervals
      * ([[graft.functions.Stats.rrOfCounts]]) — the ratio-scale effect a
      * launch review debates; equals the batch
      * [[graft.functions.Stats.riskRatio]]
      */
    def ratioEffect: DataFrame = graft.functions.Stats.rrOfCounts(counts.merged)
  }

  /** Streaming Cochran–Mantel–Haenszel monitor — the live STRATIFIED A/B
    * readout: per-stratum 2×2 counts are plain sums, so each micro-batch
    * folds by keyed addition and the
    * [[graft.functions.Stats.mhOfCounts]] readout EQUALS the batch
    * [[graft.functions.Stats.mantelHaenszel]] over everything seen. This
    * is [[ProportionMonitor]] with the Simpson's-paradox guard built in:
    * when traffic composition drifts mid-experiment, the pooled z moves
    * for the wrong reason while the CMH statistic keeps reading only the
    * within-stratum effect. State is |strata| rows — bounded by the
    * stratification, not the data. Wire with
    * [[foreachBatchMerge]]`(stream, mm.update)`.
    */
  class MhMonitor(stratum: Column, armA: Column, success: Column) extends Monitor {
    private val counts = state("counts",
      DeltaState.sumBy("__st")("__na", "__xa", "__nb", "__xb"))

    /** fold one micro-batch's per-stratum 2×2 counts into the state */
    def update(batch: DataFrame): Unit =
      counts.add(graft.functions.Stats.stratumPropCounts(batch, stratum, armA, success))

    /** current (k_strata, n_a, n_b, chi2_mh, or_mh) — equals the batch one */
    def readout: DataFrame = graft.functions.Stats.mhOfCounts(counts.merged)

    /** Breslow–Day homogeneity readout off the SAME per-stratum 2×2
      * state ([[graft.functions.Stats.bdOfCounts]]) — does the effect
      * itself differ by stratum, the assumption `readout`'s pooled OR
      * makes; equals the batch [[graft.functions.Stats.breslowDay]]
      */
    def homogeneity: DataFrame = graft.functions.Stats.bdOfCounts(counts.merged)
  }

  /** Streaming Spearman monitor — live MONOTONE-coupling drift: ranks are
    * global (a new value shifts every rank above it), so no rank moment
    * is additive — but the joint (x, y) count table IS additive per pair,
    * and every rank and moment derives from it, so folding each
    * micro-batch by pair-wise re-sum keeps the
    * [[graft.functions.Stats.spearmanOfCounts]] readout bit-identical to
    * the batch [[graft.functions.Stats.spearman]] over everything seen.
    * The rank sibling of [[CorrMonitor]] on the same stream. Wire with
    * [[foreachBatchMerge]]`(stream, sm.update)`.
    */
  class SpearmanMonitor(xCol: Column, yCol: Column) extends Monitor {
    // the (x, y) key table can approach ROW cardinality (continuous y):
    // LSM delta state keeps per-batch work batch-proportional instead of
    // re-aggregating the whole accreted pair table every micro-batch
    private val counts = state("counts", DeltaState.sumBy("__x", "__y")("__c"), maxDeltas = 8)

    /** fold one micro-batch's (x, y) counts into the keyed state */
    def update(batch: DataFrame): Unit =
      counts.add(batch.groupBy(xCol.as("__x"), yCol.as("__y"))
        .agg(count(lit(1)).as("__c")))

    /** current (n, rho) — equals the batch spearman */
    def readout: DataFrame =
      graft.functions.Stats.spearmanOfCounts(counts.merged)

    /** current (n, conc, disc, tau, z) — the concordance view of the SAME
      * joint-count state; equals the batch
      * [[graft.functions.Stats.kendallTau]] over everything seen
      */
    def kendall: DataFrame =
      graft.functions.Stats.kendallOfCounts(counts.merged)
  }

  /** Streaming Kaplan–Meier monitor — the live censoring-aware retention
    * curve: a user's (first, last) observed-day span merges ADDITIVELY
    * (min of firsts, max of lasts), so the per-user span state folds
    * batch by batch and the [[graft.functions.Events.kmOfSpans]] readout
    * — including who counts as censored vs churned against the
    * ever-advancing corpus end — is bit-identical to the batch
    * [[graft.functions.Events.kaplanMeier]] over everything seen. State
    * is |users| rows of three columns, independent of event volume. Wire
    * with [[foreachBatchMerge]]`(stream, sm.update)`.
    */
  class SurvivalMonitor(userCol: String = "user_id", tsCol: String = "ts")
      extends Monitor {
    // |users| can be corpus-scale: LSM delta state (min/max spans merge
    // associatively) keeps per-batch work batch-proportional
    private val spans = state("spans",
      _.groupBy(col("__u")).agg(min(col("__first")).as("__first"),
        max(col("__last")).as("__last")), maxDeltas = 8)

    /** fold one micro-batch of raw events into the per-user span state */
    def update(batch: DataFrame): Unit =
      spans.add(batch.groupBy(col(userCol).as("__u"))
        .agg(min(to_date(col(tsCol))).as("__first"),
          max(to_date(col(tsCol))).as("__last")))

    /** current (t_days, n_risk, d, c, survival) — equals the batch curve */
    def curve(censorDays: Int = 7): DataFrame =
      graft.functions.Events.kmOfSpans(spans.merged, censorDays)

    /** current Nelson–Aalen cumulative hazard — the second readout off
      * the SAME span state (one state, probability curve AND rate curve);
      * equals the batch [[graft.functions.Events.nelsonAalen]]
      */
    def hazard(censorDays: Int = 7): DataFrame =
      graft.functions.Events.naOfSpans(spans.merged, censorDays)

    /** current survival-time quantiles — the third readout off the SAME
      * span state (the numbers a retention review quotes); equals the
      * batch [[graft.functions.Events.survivalSummary]]
      */
    def summary(censorDays: Int = 7): DataFrame =
      graft.functions.Events.summaryOfSpans(spans.merged, censorDays)
  }

  /** Streaming embedding-covariance monitor — the live anisotropy /
    * redundancy audit over a vector stream: the
    * [[graft.functions.Vectors.covMoments]] state is a LINEAR sketch
    * (count + exact-decimal sums + pair-product sums), so folding each
    * micro-batch's one-row moments into the accreted row by column-wise
    * addition yields BIT-IDENTICAL covariances to the one-pass corpus
    * build — same oracle as the batch operator, like the CMS monitor.
    * Per-batch work: one scan+reduce of the batch, one 2-row fold; state
    * is ONE row regardless of history. Wire with
    * [[foreachBatchMerge]]`(stream, cm.update)`.
    */
  class CovMonitor(vecCol: String, dims: Seq[Int]) extends Monitor {
    private val moments = state("moments", DeltaState.sumAll)

    /** fold one micro-batch's moments into the 1-row state */
    def update(batch: DataFrame): Unit =
      moments.add(graft.functions.Vectors.covMoments(batch, vecCol, dims))

    /** current covariance submatrix — equals the batch one */
    def matrix: DataFrame = graft.functions.Vectors.covOfMoments(
      moments.merged, dims)

    /** current Cronbach internal-consistency readout — the second readout
      * off the SAME 1-row moment state; equals the batch
      * [[graft.functions.Vectors.cronbachAlpha]]
      */
    def consistency: DataFrame =
      graft.functions.Vectors.cronbachOfMoments(moments.merged, dims)
  }

  /** Streaming mixture monitor — live τ-sampling rates over an arriving
    * corpus: per-group token masses are additive, so each micro-batch's
    * |groups|-row mass table folds by union + re-sum, and the
    * [[graft.functions.Sampling.temperatureRates]] readout derives the
    * SAME per-group keep rates the batch sampler would from all rows seen.
    * This is how a continuously-ingesting pipeline keeps its language
    * rebalance current without rescanning the corpus: the rates drift as
    * the crawl's language mix drifts, and the next epoch's sampler just
    * reads the latest table. State is bounded by |groups|, never by rows.
    * Wire with [[foreachBatchMerge]]`(stream, mm.update)`.
    */
  class MixtureMonitor(groupCol: String, tokenCount: Column) extends Monitor {
    private val masses = state("masses", DeltaState.sumBy(groupCol)("__gt"))

    /** fold one micro-batch's per-group token masses into the keyed state */
    def update(batch: DataFrame): Unit =
      masses.add(batch.withColumn("__nt", tokenCount.cast("long"))
        .groupBy(col(groupCol)).agg(sum(col("__nt")).as("__gt")))

    /** current (group, mass, share_bp, rate_bp) — equals the batch rates */
    def rates(alpha: Double, budgetFrac: Double, buckets: Int = 10000): DataFrame =
      graft.functions.Sampling.temperatureRates(
        masses.merged, groupCol, alpha, budgetFrac, buckets)
  }

  /** Streaming mutual-information monitor — live dependence drift between
    * two categorical columns (event type × hour, source × quality band):
    * the [[graft.functions.Stats.jointCounts]] table is additive per
    * (x, y) key, so each micro-batch folds by union + re-sum (the
    * TransitionMonitor discipline) and the [[graft.functions.Stats
    * .miOfJoint]] readout EQUALS the batch operator over all rows seen —
    * an MI that climbs over time says a dependency is forming (a bot
    * cohort binding event types to one hour; a crawler binding source to
    * quality). State is bounded by |X|·|Y|, never by rows. Wire with
    * [[foreachBatchMerge]]`(stream, mm.update)`.
    */
  class MiMonitor(xCol: String, yCol: String) extends Monitor {
    private val joint = state("joint", DeltaState.sumBy("__x", "__y")("__cxy"))

    /** fold one micro-batch's joint counts into the keyed state */
    def update(batch: DataFrame): Unit =
      joint.add(graft.functions.Stats.jointCounts(batch, xCol, yCol))

    /** current (n, n_x, n_y, h_x, h_y, mi, nmi) row — equals the batch one */
    def readout: DataFrame = graft.functions.Stats.miOfJoint(joint.merged)

    /** current Cramér's V (n, r, c, chi2, v) — equals the batch
      * [[graft.functions.Stats.cramersV]]; the second readout of the same
      * joint-count state (MI asks "how much does knowing x tell me about
      * y", V asks "how strong is the coupling on a [0,1] scale")
      */
    def association: DataFrame = graft.functions.Stats.cramersVOfJoint(joint.merged)

    /** third readout off the SAME joint-count state: Theil's directional
      * uncertainty coefficients
      * ([[graft.functions.Stats.uncertaintyOfJoint]]) — equals the batch
      * [[graft.functions.Stats.theilU]] over everything seen
      */
    def uncertainty: DataFrame = graft.functions.Stats.uncertaintyOfJoint(joint.merged)
  }

  /** Streaming Poisson-bootstrap monitor — live confidence intervals over
    * an ingesting metric column: each row's per-replicate Poisson(1) weight
    * is a pure function of its id ([[graft.functions.Stats.poissonWeight]]),
    * so the per-replicate (Σw, Σw·v) state
    * ([[graft.functions.Stats.bootMoments]]) is a LINEAR sketch — batch
    * moments fold by column-wise addition and the
    * [[graft.functions.Stats.bootOfMoments]] readout EQUALS the one-pass
    * corpus bootstrap. Replicate means that drift apart live are widening
    * uncertainty in the ingested metric (a mixed-quality crawl arriving).
    * State is ONE row of 2·R decimals forever. Wire with
    * [[foreachBatchMerge]]`(stream, bm.update)`.
    */
  class BootstrapMonitor(idCol: String, valueCol: String,
                         replicates: Int = 16, salt: String = "boot")
      extends Monitor {
    // 1-row additive moment state: column-wise decimal sums fold any
    // grouping of batches to the same exact values, so the per-batch
    // moment rows ride the LSM shape (round 17) — a bounded replay freezes
    // each batch's row independently and folds them once at readout
    private val moments = state("moments", DeltaState.sumAll, maxDeltas = 8)

    /** fold one micro-batch's replicate moments into the 1-row state */
    def update(batch: DataFrame): Unit =
      moments.add(graft.functions.Stats.bootMoments(batch, idCol, valueCol,
        replicates, salt))

    /** current (rep, n_eff, boot_sum) table — equals the batch one */
    def readout: DataFrame = graft.functions.Stats.bootOfMoments(
      moments.merged, replicates)
  }

  /** Streaming ROC-AUC monitor — live ranking quality of a filter score as
    * the corpus ingests: the per-score (pos, neg) count table
    * ([[graft.functions.Stats.scoreCounts]]) is additive per score key, so
    * each micro-batch folds by union + re-sum and the
    * [[graft.functions.Stats.aucOfCounts]] readout (rank-sum over the
    * prefix scan) EQUALS the batch operator over all rows seen. An AUC
    * sliding down live is the classifier aging against the incoming
    * distribution — the retrain trigger, caught before a threshold is
    * missed. State is bounded by distinct scores, never by rows. Wire with
    * [[foreachBatchMerge]]`(stream, am.update)`.
    */
  class AucMonitor(score: Column, label: Column) extends Monitor {
    // the per-score key table approaches row cardinality for continuous
    // scores: LSM delta state keeps per-batch work batch-proportional
    private val counts = state("counts", DeltaState.sumBy("__s")("__p", "__n"), maxDeltas = 8)

    /** fold one micro-batch's per-score counts into the keyed state */
    def update(batch: DataFrame): Unit =
      counts.add(graft.functions.Stats.scoreCounts(batch, score, label))

    /** current (n_pos, n_neg, auc) row — equals the batch one */
    def readout: DataFrame = graft.functions.Stats.aucOfCounts(counts.merged)

    /** current P/R/F1 operating points — equals the batch prCurve (the
      * same additive state answers both the ranking and the cut question)
      */
    def operatingPoints(thresholds: Seq[Double]): DataFrame =
      graft.functions.Stats.prCurveOfCounts(counts.merged, thresholds)

    /** current cumulative gains/lift table
      * ([[graft.functions.Stats.gainsOfCounts]]) — equals the batch
      * [[graft.functions.Stats.gainsCurve]]; the budget readout off the
      * same additive per-score state
      */
    def gains(deciles: Int = 10): DataFrame =
      graft.functions.Stats.gainsOfCounts(counts.merged, deciles)

    /** current confusion-matrix metrics at a cut
      * ([[graft.functions.Stats.confusionOfCounts]]) — equals the batch
      * [[graft.functions.Stats.confusionMetrics]]; MCC/balanced-accuracy
      * off the same additive per-score state
      */
    def confusion(threshold: Double): DataFrame =
      graft.functions.Stats.confusionOfCounts(counts.merged, threshold)

    /** current reliability (calibration) table — equals the batch one;
      * the third readout of the same state (rank, cut, calibration)
      */
    def calibration(width: Double): DataFrame =
      graft.functions.Stats.reliabilityOfCounts(counts.merged, width)

    /** current Mann–Whitney (n_a, n_b, u, z) with arm a = label-true
      * rows — equals the batch [[graft.functions.Stats.mannWhitney]]; the
      * fourth readout of the same state (is the rank separation
      * SIGNIFICANT, not just how large)
      */
    def rankTest: DataFrame = graft.functions.Stats.mwuOfCounts(counts.merged)

    /** fifth readout off the SAME count state: Cliff's delta dominance
      * effect size ([[graft.functions.Stats.cliffsOfCounts]]) — equals
      * the batch [[graft.functions.Stats.cliffsDelta]] over everything
      * seen
      */
    def dominance: DataFrame = graft.functions.Stats.cliffsOfCounts(counts.merged)

    /** sixth readout off the SAME count state: the Brunner–Munzel
      * stochastic-superiority test ([[graft.functions.Stats.bmOfCounts]])
      * — [[rankTest]] without its equal-shape assumption; equals the
      * batch [[graft.functions.Stats.brunnerMunzel]] over everything seen
      */
    def superiority: DataFrame = graft.functions.Stats.bmOfCounts(counts.merged)

    /** seventh readout off the SAME count state: the Ansari–Bradley
      * scale test ([[graft.functions.Stats.abOfCounts]]) — which arm is
      * more SPREAD, the dispersion question the location readouts can't
      * see; equals the batch [[graft.functions.Stats.ansariBradley]]
      */
    def scaleTest: DataFrame = graft.functions.Stats.abOfCounts(counts.merged)

    /** eighth readout off the SAME count state: the two-sample
      * Kolmogorov–Smirnov statistic ([[graft.functions.Stats.ksOfCounts]])
      * — the largest CDF gap between the arms' score DISTRIBUTIONS, the
      * any-difference-in-shape verdict the rank/location/scale readouts
      * each only see a projection of; equals the batch
      * [[graft.functions.Stats.ksTwoSample]] over everything seen
      */
    def distributionTest: DataFrame = graft.functions.Stats.ksOfCounts(counts.merged)

    /** ninth readout off the SAME count state: the two-sample
      * Cramér–von Mises statistic ([[graft.functions.Stats.cvmOfCounts]])
      * — the squared CDF gap INTEGRATED over every observation, the
      * everywhere-slightly-off drift [[distributionTest]]'s single sup
      * point can miss; equals the batch
      * [[graft.functions.Stats.cramerVonMises]] over everything seen
      */
    def shapeTest: DataFrame = graft.functions.Stats.cvmOfCounts(counts.merged)

    /** tenth readout off the SAME count state: the two-sample
      * Anderson–Darling statistic ([[graft.functions.Stats.ad2OfCounts]])
      * — the tail-weighted member of the family, catching contamination
      * that lives only in the extreme quantiles; equals the batch
      * [[graft.functions.Stats.andersonDarling2]] over everything seen
      */
    def tailTest: DataFrame = graft.functions.Stats.ad2OfCounts(counts.merged)

    /** eleventh readout off the SAME count state: the bucketed 1-D
      * Wasserstein-1 distance ([[graft.functions.Stats.w1OfCounts]]) —
      * how FAR apart the arms' distributions are in the value's own
      * units, the trendable drift magnitude next to the family's
      * p-values; equals the batch [[graft.functions.Stats.wasserstein1]]
      * over everything seen
      */
    def transportDistance(width: Double): DataFrame =
      graft.functions.Stats.w1OfCounts(counts.merged, width)
  }

  /** Streaming filter-agreement monitor — live Cohen's kappa between two
    * document filters as the corpus ingests: the 2×2 confusion row
    * ([[graft.functions.Curation.confusionCounts]]) is five plain count
    * sums, so each micro-batch folds by column-wise addition and the
    * [[graft.functions.Curation.kappaOfCounts]] readout EQUALS the batch
    * operator over all rows seen. A κ that decays over time is the live
    * signal that a cheap rule and the expensive classifier are drifting
    * apart on the incoming distribution — the moment to recalibrate.
    * State is ONE row forever. Wire with
    * [[foreachBatchMerge]]`(stream, km.update)`.
    */
  class KappaMonitor(flagA: Column, flagB: Column) extends Monitor {
    private val counts = state("counts", DeltaState.sumAll)

    /** fold one micro-batch's confusion counts into the 1-row state */
    def update(batch: DataFrame): Unit =
      counts.add(graft.functions.Curation.confusionCounts(batch, flagA, flagB))

    /** current (n, …, po, pe, kappa) row — equals the batch one */
    def readout: DataFrame = graft.functions.Curation.kappaOfCounts(counts.merged)

    /** second readout off the SAME confusion state: McNemar's
      * disagreement-asymmetry test
      * ([[graft.functions.Curation.mcnemarOfCounts]]) — equals the batch
      * [[graft.functions.Curation.mcnemar]] over everything seen
      */
    def disagreement: DataFrame = graft.functions.Curation.mcnemarOfCounts(counts.merged)

    /** third readout off the SAME confusion state: Scott's π and Gwet's
      * AC1 ([[graft.functions.Curation.gwetOfCounts]]) — the
      * prevalence-robust agreement pair that stays calibrated where
      * kappa's paradox bites; equals the batch
      * [[graft.functions.Curation.chanceRobustAgreement]]
      */
    def chanceRobustAgreement: DataFrame =
      graft.functions.Curation.gwetOfCounts(counts.merged)
  }

  /** Streaming Cochran's Q monitor — the k-filter rate-agreement panel,
    * live: the (n, ΣR, ΣR², C_1..C_k) state row is plain count sums
    * ([[graft.functions.Curation.cochranCounts]]), ADDITIVE across
    * micro-batches, so the accreted 1-row state reads out a Q
    * bit-identical to the batch [[graft.functions.Curation.cochranQ]]
    * over everything seen — the k-way sibling of [[KappaMonitor]] on the
    * same stream. Wire with [[foreachBatchMerge]]`(stream, cm.update)`.
    */
  class CochranMonitor(flags: Seq[Column]) extends Monitor {
    private val counts = state("counts", DeltaState.sumAll)

    /** fold one micro-batch's panel counts into the 1-row state */
    def update(batch: DataFrame): Unit =
      counts.add(graft.functions.Curation.cochranCounts(batch, flags))

    /** current (k, n, df, q) row — equals the batch cochranQ */
    def readout: DataFrame =
      graft.functions.Curation.cochranOfCounts(counts.merged, flags.size)

    /** second readout off the SAME panel state: Fleiss' kappa agreement
      * ([[graft.functions.Curation.fleissOfCounts]]) — equals the batch
      * [[graft.functions.Curation.fleissKappa]] over everything seen
      */
    def agreement: DataFrame = graft.functions.Curation.fleissOfCounts(
      counts.merged, flags.size)

    /** third readout off the SAME panel state: Krippendorff's alpha
      * ([[graft.functions.Curation.alphaOfCounts]]) — the
      * finite-sample-corrected reliability next to [[agreement]]; equals
      * the batch [[graft.functions.Curation.krippendorffAlpha]]
      */
    def alphaReliability: DataFrame = graft.functions.Curation.alphaOfCounts(
      counts.merged, flags.size)
  }

  /** Streaming record-linkage monitor — continuous entity resolution at
    * ingest: the dimension side is fully PREPARED once at construction —
    * [[graft.functions.Linkage.linkIndex]] normalizes names, derives
    * prefixes, and applies the block-size cap, and that index freezes (the
    * [[ContaminationMonitor]] shape). Every incoming micro-batch then runs
    * [[graft.functions.Linkage.linkAgainstIndex]]: per-batch work is
    * batch-proportional — the batch side preps and caps, the frozen index
    * never re-normalizes, never re-aggregates its block sizes, never
    * rescans accreted state. Because the dimension is fixed and a pair's
    * score involves only its own two rows, the accreted link table EQUALS
    * the batch link over all rows seen — spec-proven with save/restore.
    * Wire with [[foreachBatchMerge]]`(stream, lm.update)`.
    */
  class LinkageMonitor(dim: DataFrame, leftId: String, leftName: String,
                       rightId: String, rightName: String,
                       blockCols: Seq[(String, String)],
                       prefixLen: Int = 3, minSim: Double = 0.8,
                       maxBlock: Int = 10000) extends Monitor {
    import graft.functions.Linkage
    private val dimIdx = Bridge.freeze(Linkage.linkIndex(
      dim, leftId, leftName, blockCols.map(_._1), prefixLen, maxBlock))
    private val links = state("links")

    /** link one micro-batch of incoming records against the dimension */
    def update(batch: DataFrame): Unit =
      links.add(Linkage.linkAgainstIndex(dimIdx, batch, leftId, rightId,
        rightName, blockCols.map(_._2), prefixLen, minSim, maxBlock))

    /** all (leftId, rightId, name_sim) candidates so far */
    def matches: DataFrame = links.merged
  }

  /** Stream-static enrichment monitor — the continuous form of the fact
    * pipeline's dimension join: a bounded static dimension freezes ONCE at
    * construction and every micro-batch equi-joins it BROADCAST (the
    * dimension never re-shuffles, the stream never shuffles at all — at
    * 1000 executors each batch partition joins locally), then accretes
    * per-segment additive aggregates. State is the |segments|-row totals
    * table; counts and exact DECIMAL sums are additive, so the accreted
    * result equals the one-shot batch join+group-by regardless of arrival
    * order or batch boundaries (StreamingSpec proves foreachBatch parity
    * and save/restore). Wire with [[foreachBatchMerge]]`(stream, em.update)`.
    */
  class EnrichMonitor(dim: DataFrame, dimKey: String, segCol: String,
                      batchKey: String, valueCol: String) extends Monitor {
    private val dec = org.apache.spark.sql.types.DecimalType(38, 4)
    private val dimF = Bridge.freeze(
      dim.select(col(dimKey), col(segCol)).dropDuplicates(dimKey))
    private val totals = state("totals", _.groupBy(col("segment"))
      .agg(sum(col("n")).as("n"), sum(col("__v")).cast(dec).as("__v")))

    /** enrich one micro-batch and fold its per-segment aggregates in */
    def update(batch: DataFrame): Unit =
      totals.add(batch
        .join(broadcast(dimF), batch(batchKey) === dimF(dimKey))
        .groupBy(col(segCol).as("segment"))
        .agg(count(lit(1)).as("n"),
          sum(col(valueCol).cast(org.apache.spark.sql.types.DecimalType(18, 4)))
            .cast(dec).as("__v")))

    /** per-segment (segment, n, value_sum) totals over all batches seen */
    def result: DataFrame = totals.merged
      .select(col("segment"), col("n"),
        round(col("__v"), 2).cast("double").as("value_sum"))
  }

  /** Streaming Count-Min monitor — continuous approximate frequency
    * tracking: state is the `depth × width` counter table (kilobytes,
    * data-independent), and because the CMS is a LINEAR sketch its cells
    * are additive across micro-batches — the accreted sketch is
    * bit-identical to the one-pass corpus build regardless of arrival
    * order or batch boundaries, so point estimates keep the classic
    * est ≥ true guarantee with ε = e/width over everything seen.
    * Per-batch work is ONE map-side-combined aggregation of the batch
    * plus a sketch-sized merge; the corpus is never rescanned. Wire with
    * [[foreachBatchMerge]]`(stream, cm.update)`.
    */
  class CmsMonitor(keyCol: String, depth: Int = 4, width: Int = 512) extends Monitor {
    private val cells = state("cells", DeltaState.sumBy("row", "pos")("cnt"))

    /** fold one micro-batch's occurrence stream into the sketch */
    def update(batch: DataFrame): Unit =
      cells.add(graft.functions.Stats.countMinSketch(batch, keyCol, depth, width))

    /** the accreted (row, pos, cnt) sketch over all batches seen */
    def sketch: DataFrame = cells.merged

    /** point-query keys against the accreted sketch (est ≥ true) */
    def estimate(keys: DataFrame, kc: String): DataFrame =
      graft.functions.Stats.countMinEstimate(sketch, keys, kc, depth, width)
  }

  /** Streaming quantile monitor — maintain
    * [[graft.functions.Stats.histogramQuantiles]]' thresholds as batches
    * arrive: state is the fixed-width (bin, cnt) histogram, whose size is
    * bounded by the VALUE RANGE over the width, not the stream length, and
    * whose counts are additive — so the accreted table is exactly the
    * one-pass corpus histogram regardless of arrival order, and the
    * quantile picks read off it are bit-identical to the batch scan
    * (the VolumeMonitor argument, applied to threshold selection: a
    * curation pipeline can re-pick its p99 clip point after every
    * micro-batch without ever re-scanning the corpus). Wire with
    * [[foreachBatchMerge]]`(stream, qm.update)`.
    */
  class QuantileMonitor(valueCol: String, width: Double) extends Monitor {
    private val bins = state("bins", DeltaState.sumBy("bin")("cnt"))

    /** fold one micro-batch's fixed-width histogram into the bin state */
    def update(batch: DataFrame): Unit =
      bins.add(batch
        .select(floor(col(valueCol) / width).cast("long").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("cnt")))

    /** current (q, bin, lo, hi, cum_count, total) threshold picks */
    def quantiles(qs: Seq[Double]): DataFrame =
      graft.functions.Stats.quantilesOfBins(bins.merged, width, qs)
  }

  /** Streaming next-event transition monitor — maintain the
    * [[graft.functions.Events.transitions]] Markov matrix as event batches
    * arrive. Hop counts are NOT purely additive across batches: the last
    * event a user had in batch i pairs with their first event in batch
    * i+1, so the state carries BOTH the |types|²-bounded hop-count table
    * and a per-user last-event row ((user, ts, id, type) — user-bounded,
    * the retention monitor's state class). Each batch unions the carried
    * last-events in front of the batch, runs the one user-keyed lead
    * window over that union (batch-proportional — the carried frame adds
    * one row per ACTIVE user), and folds the new hops in; the carried row
    * is strictly earliest per user when batches arrive per-user
    * time-ordered (the sessionization/watermark contract), so it
    * contributes exactly the boundary hop and never re-counts.
    *
    * With that contract the accreted counts equal the batch
    * [[graft.functions.Events.transitions]] over all events seen —
    * StreamingSpec proves parity through foreachBatch plumbing. Wire with
    * [[foreachBatchMerge]]`(stream, tm.update)`.
    */
  class TransitionMonitor(userCol: String = "user_id",
                          typeCol: String = "event_type",
                          tsCol: String = "ts", idCol: String = "event_id")
      extends Monitor {
    private val hops = state("hops", DeltaState.sumBy("from_type", "to_type")("n"))
    private val lastEvent = state("last")

    /** fold one micro-batch of raw events into hop-count + last-event state */
    def update(batch: DataFrame): Unit = {
      val b = batch.select(col(userCol).as("__u"), col(tsCol).as("__ts"),
        col(idCol).as("__id"), col(typeCol).as("__ty"))
      val events = if (lastEvent.isEmpty) b else lastEvent.merged.unionByName(b)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__u")).orderBy(col("__ts"), col("__id"))
      val frozen = Bridge.freeze(events
        .withColumn("__next", lead(col("__ty"), 1).over(w))
        .withColumn("__last",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("__u")).orderBy(col("__ts").desc, col("__id").desc))))
      hops.add(frozen.filter(col("__next").isNotNull)
        .groupBy(col("__ty").as("from_type"), col("__next").as("to_type"))
        .agg(count(lit(1)).as("n")))
      lastEvent.replace(frozen.filter(col("__last") === 1)
        .select(col("__u"), col("__ts"), col("__id"), col("__ty")))
    }

    /** current (from_type, to_type, n, p) transition matrix */
    def matrix: DataFrame = graft.functions.Events.transitionsOfCounts(hops.merged)
  }

  /** Streaming inter-arrival monitor — accrete the
    * [[graft.functions.Events.interarrivalHistogram]] gap histogram as
    * micro-batches arrive: the live retry-storm / polling-bug detector.
    * State is the bounded |types|×(cap+1) histogram plus ONE carried last
    * event per (user, type) (the [[TransitionMonitor]] discipline). Under
    * per-user time-ordered arrival, prepending the carried row to the
    * batch and lagging over (user, type) yields exactly the gaps the batch
    * closes — the carried row itself lags to NULL, so nothing double
    * counts and parity with the batch operator is exact (StreamingSpec
    * proves it, plus save/restore). Per-batch work: one batch-sized keyed
    * window + two bounded merges — never a rescan of history.
    */
  class InterarrivalMonitor(userCol: String = "user_id",
                            typeCol: String = "event_type",
                            tsCol: String = "ts", idCol: String = "event_id",
                            widthSeconds: Long = 600L, capBuckets: Int = 144)
      extends Monitor {
    require(widthSeconds > 0 && capBuckets > 0,
      "widthSeconds and capBuckets must be positive")
    // (event_type, gap_bucket, n_gaps)
    private val hist = state("hist", DeltaState.sumBy("event_type", "gap_bucket")("n_gaps"))
    private val lastEvent = state("last") // (__u, __ty, __t, __id)

    /** fold one micro-batch of raw events into histogram + last-event state */
    def update(batch: DataFrame): Unit = {
      val b = batch.select(col(userCol).as("__u"), col(typeCol).as("__ty"),
        unix_micros(col(tsCol)).as("__t"), col(idCol).as("__id"))
      val events = if (lastEvent.isEmpty) b else lastEvent.merged.unionByName(b)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__u"), col("__ty")).orderBy(col("__t"), col("__id"))
      val frozen = Bridge.freeze(events
        .withColumn("__gap", col("__t") - lag(col("__t"), 1).over(w))
        .withColumn("__last",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("__u"), col("__ty"))
            .orderBy(col("__t").desc, col("__id").desc))))
      hist.add(frozen.filter(col("__gap").isNotNull)
        .select(col("__ty").as("event_type"),
          least(expr(s"__gap div ${widthSeconds * 1000000L}"),
            lit(capBuckets.toLong)).as("gap_bucket"))
        .groupBy(col("event_type"), col("gap_bucket"))
        .agg(count(lit(1)).as("n_gaps")))
      lastEvent.replace(frozen.filter(col("__last") === 1)
        .select(col("__u"), col("__ty"), col("__t"), col("__id")))
    }

    /** accreted (event_type, gap_bucket, lo_s, n_gaps) histogram */
    def histogram: DataFrame = hist.merged
      .withColumn("lo_s", col("gap_bucket") * widthSeconds)
      .select(col("event_type"), col("gap_bucket"), col("lo_s"), col("n_gaps"))
  }

  /** Streaming lateness monitor — the ingest data-quality audit: how many
    * arriving events are LATE, i.e. carry an event time older than the
    * high-watermark of everything already ingested minus `delay` — exactly
    * the rows a watermarked stateful operator with that delay would DROP.
    * Run it beside the real pipeline to size the watermark before late
    * data silently disappears. State is a 1-row high-watermark frame plus
    * the |types|-bounded additive late-count table; per-batch work is one
    * scan-speed filter against the broadcast watermark and a tiny rollup —
    * nothing is ever rescanned. Wire with
    * [[foreachBatchMerge]]`(stream, lm.update)`.
    */
  class LatenessMonitor(typeCol: String = "event_type",
                        tsCol: String = "ts", delay: String = "1 HOUR")
      extends Monitor {
    private val hwm = state("hwm", _.agg(max(col("__hwm")).as("__hwm"))) // 1 row: (__hwm)
    private val late = state("late", DeltaState.sumBy("event_type")("n_late"))

    /** audit one micro-batch against the carried watermark, then raise it */
    def update(batch: DataFrame): Unit = {
      val b = batch.select(col(typeCol).as("__ty"), col(tsCol).as("__ts"))
      if (!hwm.isEmpty) late.add(b.crossJoin(broadcast(hwm.merged))
        .filter(col("__ts") < col("__hwm") - expr(s"INTERVAL $delay"))
        .groupBy(col("__ty").as("event_type")).agg(count(lit(1)).as("n_late")))
      hwm.add(b.agg(max(col("__ts")).as("__hwm")))
    }

    /** accreted (event_type, n_late) — types with zero late rows absent */
    def lateCounts: DataFrame =
      if (late.isEmpty) throw new IllegalStateException("need at least two batches")
      else late.merged
  }

  /** Streaming entry-path monitor — accrete each user's first-`depth`
    * event-type prefix as micro-batches arrive (the streaming twin of
    * [[graft.functions.Events.entryPaths]]). State is ONE user-keyed
    * bounded frame (user, types[≤ depth]); under per-user time-ordered
    * arrival (the [[TransitionMonitor]] contract) a carried prefix holds
    * strictly earlier events than any new batch row, so appending the
    * batch's own ranked head and re-cutting at `depth` reproduces the
    * batch entryPaths over everything seen — StreamingSpec proves parity
    * and save/restore. Per-batch work: one BATCH-keyed ranking window plus
    * a user-keyed merge of ≤ depth-element rows; users whose prefix is
    * already full cost one array no-op, never a rescan.
    */
  class PathMonitor(userCol: String = "user_id",
                    typeCol: String = "event_type",
                    tsCol: String = "ts", idCol: String = "event_id",
                    depth: Int = 3) extends Monitor {
    require(depth > 0, "depth must be positive")
    private val prefixes = state("state") // (__u, __types)

    /** fold one micro-batch of raw events into the per-user prefix state */
    def update(batch: DataFrame): Unit = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__u")).orderBy(col("__ts"), col("__id"))
      val b = batch.select(col(userCol).as("__u"), col(tsCol).as("__ts"),
          col(idCol).as("__id"), col(typeCol).cast("string").as("__ty"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= depth)
        .groupBy(col("__u"))
        .agg(transform(
          array_sort(collect_list(struct(col("__rn").as("r"), col("__ty").as("t")))),
          x => x.getField("t")).as("__new"))
      prefixes.replace(
        if (prefixes.isEmpty)
          b.select(col("__u"), slice(col("__new"), 1, depth).as("__types"))
        else prefixes.merged.join(b, Seq("__u"), "full_outer")
          .select(col("__u"), slice(concat(
            coalesce(col("__types"), array().cast("array<string>")),
            coalesce(col("__new"), array().cast("array<string>"))),
            1, depth).as("__types")))
    }

    /** current (path, depth, n_users) rollup over all users seen */
    def paths: DataFrame = prefixes.merged
      .select(array_join(col("__types"), ">").as("path"),
        size(col("__types")).as("depth"))
      .groupBy(col("path"), col("depth")).agg(count(lit(1)).as("n_users"))
  }

  /** Streaming incremental near-duplicate detection — the production
    * ingestion steady state: each micro-batch is matched against the
    * MinHash index accreted from all PRIOR batches (the dimensional
    * ensure-per-batch discipline, reference pygrametl/tables.py:374-398,
    * applied to dedup), then its signatures merge into the index. Wire it
    * with [[foreachBatchMerge]]`(stream, dd.update)`.
    *
    * State is the compact signature index (id + k longs + band keys) plus
    * the standing corpus text the exact-Jaccard verification fetches
    * survivors from; matches, corpus, and index all re-freeze per batch so
    * lineage stays flat across micro-batches. Per-batch shuffle is
    * proportional to the BATCH (band-key equi-join against the
    * pre-bucketable index), never the corpus — the
    * [[graft.functions.Dedup.minhashAgainstIndex]] contract, unchanged.
    */
  class MinHashIndexDedup(idCol: String, textCol: String,
                          n: Int = 3, k: Int = 64, bands: Int = 16,
                          threshold: Double = 0.7, maxBucket: Int = 2000)
      extends Monitor {
    import graft.functions.Dedup
    // all three states are APPEND-ONLY (batches carry disjoint ids and the
    // match pairs are pair-local), so the LSM delta shape applies with the
    // identity combine: `add` freezes only the batch's own delta where the
    // round-12 shape re-froze the WHOLE accreted corpus/index/match tables
    // every micro-batch — the one remaining O(corpus)-per-batch write in
    // the ingestion path; compaction amortizes the occasional full fold
    private val corpus = state("corpus", maxDeltas = 8)
    private val index = state("index", maxDeltas = 8)
    private val found = state("found", maxDeltas = 8)

    /** match one micro-batch against the prior index, then absorb it.
      * The batch is signed ONCE (its index is frozen up front and reused
      * as both the match probe and the accretion delta), and the standing
      * corpus index is passed pre-materialized so the matching never
      * re-writes O(corpus) state — per-batch work is batch-proportional.
      */
    def update(batch: DataFrame): Unit = {
      val (b, nb) = Bridge.freezeCounted(batch.select(col(idCol), col(textCol)))
      val (bIdx, ni) = Bridge.freezeCounted(
        Dedup.minhashIndex(b, idCol, textCol, n, k, bands))
      if (corpus.isEmpty) found.add(emptyMatches(batch))
      else found.add(Dedup.minhashAgainstIndex(corpus.merged, b, idCol, textCol,
        n, k, bands, threshold, maxBucket,
        index = Some(index.merged), incomingIndex = Some(bIdx)))
      corpus.addFrozen(b, nb)
      index.addFrozen(bIdx, ni)
    }

    /** all (new_id, match_id, jaccard) pairs found so far, where match_id
      * arrived in a strictly earlier micro-batch than new_id
      */
    def matches: DataFrame = found.merged

    private def emptyMatches(batch: DataFrame): DataFrame = {
      import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
      val spark = batch.sparkSession
      val idT = batch.schema(idCol).dataType
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
        StructField("new_id", idT), StructField("match_id", idT),
        StructField("jaccard", DoubleType))))
    }
  }

  /** Streaming ANN index ingestion — the vector twin of
    * [[MinHashIndexDedup]]: embedding micro-batches accrete into a
    * cluster-routed IVF index. The coarse quantizer freezes on the FIRST
    * batch (the `nCentroids` lowest-id vectors — the same deterministic
    * sampled quantizer as [[graft.functions.Vectors.ivfTopK]]), so routing
    * is stable across the stream's lifetime: each batch routes at scan
    * speed via the broadcast-array argmax fold and appends to the index —
    * ingest is shuffle-free, and re-routing never happens. Queries probe
    * their `nProbe` nearest centroids and rank candidates by exact cosine
    * within the probed clusters only. Wire with
    * [[foreachBatchMerge]]`(stream, ing.update)`; swap the first-batch
    * quantizer for trained k-means centroids by constructing with
    * `trained`.
    *
    * State is the routed index (cluster, id, vector, norm) — the standing
    * vector table of a serving tier. The index is APPEND-ONLY between
    * compactions (each batch's routed rows carry fresh ids), so it holds
    * the [[DeltaState]] LSM shape with the identity combine: `update`
    * freezes only the batch's own routed delta — per-batch write cost is
    * batch-proportional, where the round-14 shape re-checkpointed the
    * WHOLE accreted index every micro-batch (O(corpus) writes per batch,
    * quadratic over a long ingest). Probes read the ≤ maxDeltas-way delta
    * union; compaction and the occasional delta fold amortize the full
    * rewrites.
    */
  class IvfIndexIngest(idCol: String, vecCol: String,
                       nCentroids: Int = 16, nProbe: Int = 4,
                       trained: Option[DataFrame] = None,
                       maxMeanList: Int = 0) extends Monitor {
    import graft.functions.Vectors
    private val index = state("index", maxDeltas = 8)
    private val centroids = state("centroids")
    private var nIndexed: Long = 0L
    private var nCent: Long = 0L
    trained.foreach { t =>
      val (c, n) = Bridge.freezeCounted(t
        .select(col("cluster").as("__centid"), col("centroid").as("__centv"))
        .withColumn("__centn", sqrt(Vectors.dot(col("__centv"), col("__centv")))))
      centroids.replaceFrozen(c, n); nCent = n
    }
    // index size at the last compaction — the amortization anchor: once
    // √n outgrows maxMeanList the bar alone would trip on EVERY batch
    // (each a full n·√n re-route); requiring the index to have DOUBLED
    // since the last compaction keeps compactions geometric, so lifetime
    // re-route cost stays O(n·√n) total instead of per-batch
    private var lastCompactN: Long = 0L

    /** effective centroid count — grows when compaction trips */
    def centroidCount: Long = nCent

    /** route one micro-batch onto the frozen quantizer and absorb it;
      * when `maxMeanList` > 0, the mean inverted-list length exceeds it,
      * AND the index has doubled since the last compaction (the
      * amortization guard), [[compact]] re-clusters before returning.
      * Call [[seal]] when the ingest closes to reach the deterministic,
      * batch-boundary-independent final state.
      */
    def update(batch: DataFrame): Unit = {
      if (centroids.isEmpty) {
        val (c, n) = Bridge.freezeCounted(batch
          .orderBy(col(idCol)).limit(nCentroids)
          .select(col(idCol).as("__centid"),
            col(vecCol).cast("array<double>").as("__centv"))
          .withColumn("__centn", sqrt(Vectors.dot(col("__centv"), col("__centv")))))
        centroids.replaceFrozen(c, n); nCent = n
      }
      // freeze + count ONLY the batch's routed delta (batch-proportional);
      // the accreted index is the delta union, never rewritten here
      val (routed, nB) = Bridge.freezeCounted(
        Vectors.routeToCentroids(batch, idCol, vecCol, centroids.merged))
      index.addFrozen(routed, nB); nIndexed += nB
      if (maxMeanList > 0 && nIndexed > nCent * maxMeanList &&
        nIndexed >= 2L * math.max(lastCompactN, 1L)) compact()
    }

    /** Closing compaction — restores the history-independent final state
      * the amortized trip gives up: if the mean-list bar is exceeded at
      * close, one last [[compact]] re-routes everything onto the lowest
      * ceil(√n) ids of the WHOLE corpus, so the sealed index is identical
      * no matter how the stream was batched (the closed form the oracle
      * replays). A no-op when the bar holds or compaction is disabled.
      */
    def seal(): Unit =
      if (maxMeanList > 0 && nIndexed > nCent * maxMeanList) compact()

    /** Index compaction — the BALANCED-growth guarantee over a long
      * ingest: a monotone index under a FIXED quantizer grows each
      * inverted list without bound, so per-query probe cost creeps up
      * linearly with the corpus. When the mean list length passes
      * `maxMeanList`, the coarse quantizer widens to ceil(√n) centroids
      * — deterministically the lowest-id indexed vectors, the same
      * seeding rule as the first-batch quantizer, so the whole lifecycle
      * is engine-reproducible — and the accreted lists re-route ONCE
      * onto it. The √n target is the standard IVF balance: mean list
      * length and quantizer size BOTH grow as √n, so per-query probe
      * cost is O(√n) instead of O(n), and — critically at 100 TB — each
      * re-route costs n·√n assignments instead of the n²/maxMeanList a
      * proportional (n/maxMeanList) quantizer would force: total ingest
      * stays subquadratic (a fixed-ratio quantizer measured 36× wall at
      * 10× data on this very query; √n reads ~1×). Mid-stream trips are
      * GEOMETRIC (the index must double since the last compaction — see
      * [[update]]), so steady-state ingest amortizes to O(√n) per vector;
      * the history-independent final state comes from [[seal]], whose
      * closing re-route lands on the lowest ceil(√n) ids of the WHOLE
      * corpus regardless of batch boundaries.
      */
    def compact(): Unit = {
      if (index.isEmpty) return
      val idx = index.merged
      lastCompactN = nIndexed
      val target = math.max(1L,
        math.ceil(math.sqrt(nIndexed.toDouble)).toLong).min(Int.MaxValue)
      val (c2, n2) = Bridge.freezeCounted(idx
        .orderBy(col("__cid")).limit(target.toInt)
        .select(col("__cid").as("__centid"), col("__cv").as("__centv"))
        .withColumn("__centn", sqrt(Vectors.dot(col("__centv"), col("__centv")))))
      val rerouted = Vectors.routeToCentroids(
        idx.select(col("__cid"), col("__cv")), "__cid", "__cv", c2)
      centroids.replaceFrozen(c2, n2); nCent = n2
      // the re-route rewrites everything anyway: reset the LSM to one delta
      val (r, nr) = Bridge.freezeCounted(rerouted)
      index.replaceFrozen(r, nr)
    }

    /** exact-cosine top-k of each query over its probed clusters of the
      * accreted index (the ≤ maxDeltas-way delta union):
      * (query_id, neighbor_id, cosine, rank)
      */
    def topK(queries: DataFrame, qId: String, qVec: String, k: Int): DataFrame = {
      if (index.isEmpty)
        throw new IllegalStateException("no micro-batch ingested yet")
      Vectors.probedTopK(
        Vectors.probeCentroids(queries, qId, qVec, centroids.merged, nProbe),
        index.merged, k)
    }

    /** persist index + quantizer + the compaction anchor for crash-restart
      * (call after update) — lastCompactN travels with the checkpoint so a
      * resumed ingest keeps the ORIGINAL geometric schedule: anchoring at
      * the restored size instead would defer the next compaction to 2× the
      * restore point, letting mean list length exceed the maxMeanList bound
      * well past the pre-crash trajectory during a long resumed ingest
      */
    override def saveState(dir: String): Unit = {
      val ix = index.forSave
      MonitorState.save(dir, Seq("index" -> ix, "centroids" -> centroids.forSave,
        "meta" -> ix.map(_.sparkSession.range(1)
          .select(lit(lastCompactN).as("lastCompactN")))))
    }

    /** restore index + quantizer + compaction anchor from a [[saveState]]
      * checkpoint
      */
    override def restoreState(spark: SparkSession, dir: String): Unit = {
      super.restoreState(spark, dir)
      nIndexed = if (index.isEmpty) 0L else index.merged.count()
      nCent = if (centroids.isEmpty) 0L else centroids.merged.count()
      lastCompactN = MonitorState.load(spark, dir, "meta")
        .map(_.select(col("lastCompactN")).head().getLong(0))
        // legacy checkpoint without meta: conservative 2×-restored anchor
        // (correctness unaffected either way — [[seal]] fixes final state)
        .getOrElse(nIndexed)
    }
  }

  /** Streaming market-basket monitor — live cross-sell mining at order
    * ingest: the distinct (basket, item) frame is MONOTONE under batch
    * arrival (distinct of a union of distincts), so each micro-batch
    * folds in with one union+distinct and the
    * [[graft.functions.Events.basketPairsOfItems]] readout EQUALS the
    * batch [[graft.functions.Events.basketPairs]] over all lines seen —
    * an order split across batches re-pairs correctly because pairing
    * reads the accreted frame, not the batch. Wire with
    * [[foreachBatchMerge]]`(stream, bm.update)`.
    */
  class BasketMonitor(basketCol: String, itemCol: String,
                      minSupport: Long = 2, topN: Int = 20,
                      maxBasket: Int = 1000) extends Monitor {
    // the (basket, item) key set is corpus-scale: LSM delta state keeps
    // per-batch work batch-proportional (distinct is the associative
    // re-aggregation for a key set)
    private val items = state("items", _.distinct(), maxDeltas = 8)

    /** fold one micro-batch's distinct (basket, item) rows in */
    def update(batch: DataFrame): Unit =
      items.add(batch.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
        .distinct())

    /** current association pairs — equals the batch basketPairs (merged
      * re-distincts across deltas, so a re-delivered (basket, item) pair
      * never double-counts)
      */
    def pairs: DataFrame = graft.functions.Events.basketPairsOfItems(
      items.merged, minSupport, topN, maxBasket)
  }

  /** Streaming FK-integrity monitor — live referential-integrity audit
    * at fact ingest: the parent (dimension) key set freezes ONCE at
    * construction (the [[EnrichMonitor]] shape), each micro-batch's
    * per-key child row counts fold ADDITIVELY, and the
    * [[graft.functions.Audits.fkAuditOfCounts]] readout EQUALS the batch
    * [[graft.functions.Audits.fkAudit]] over all child rows seen. An
    * orphan_rate that climbs across batches is the live signal a source
    * started emitting keys the dimension has never loaded. Wire with
    * [[foreachBatchMerge]]`(stream, fm.update)`.
    */
  class FkAuditMonitor(parent: DataFrame, parentKey: String,
                       childKey: String) extends Monitor {
    private val pk = Bridge.freeze(
      parent.select(col(parentKey).as("__k")).distinct())
    private val counts = state("counts", DeltaState.sumBy("__k")("__rows"))

    /** fold one micro-batch's per-key child row counts in */
    def update(batch: DataFrame): Unit =
      counts.add(batch.groupBy(col(childKey).as("__k"))
        .agg(count(lit(1)).as("__rows")))

    /** current one-row integrity verdict — equals the batch fkAudit */
    def readout: DataFrame = graft.functions.Audits.fkAuditOfCounts(counts.merged, pk)
  }

  /** Streaming cohort-LTV monitor — the live revenue curve: per-
    * (customer, month) exact-decimal revenue is ADDITIVE, so micro-
    * batches fold by union + re-sum and the
    * [[graft.functions.Events.cohortLtvOfMonthly]] readout EQUALS the
    * batch [[graft.functions.Events.cohortLtv]] over all orders seen —
    * including cohort REASSIGNMENT when a customer's earlier first
    * order arrives late (the readout re-derives first months from the
    * accreted state, never caches them). Wire with
    * [[foreachBatchMerge]]`(stream, lm.update)`.
    */
  class LtvMonitor(custCol: String, dateCol: String, amountCol: String)
      extends Monitor {
    private val dec2 = org.apache.spark.sql.types.DecimalType(18, 2)
    // |customers|×|months| keys are corpus-scale: LSM delta state keeps
    // per-batch work batch-proportional; exact-decimal sums re-aggregate
    // associatively (held at DECIMAL(28,2) so the schema is stable across
    // compactions)
    private val monthly = state("monthly",
      _.groupBy(col("__c"), col("__m")).agg(sum(col("__a"))
        .cast(org.apache.spark.sql.types.DecimalType(28, 2)).as("__a")), maxDeltas = 8)

    /** fold one micro-batch's per-(customer, month) revenue in */
    def update(batch: DataFrame): Unit =
      monthly.add(batch.groupBy(col(custCol).as("__c"),
          trunc(col(dateCol), "month").as("__m"))
        .agg(sum(col(amountCol).cast(dec2)).as("__a")))

    /** current cohort LTV curve — equals the batch cohortLtv */
    def curve: DataFrame =
      graft.functions.Events.cohortLtvOfMonthly(monthly.merged)
  }

  /** Run a dimensional merge per micro-batch: the streaming form of
    * `scdensure`/`ensure` (reference's endload-per-batch collapsed into
    * foreachBatch). `merge` receives each micro-batch DataFrame; dimension
    * state lives in the table object across batches.
    */
  def foreachBatchMerge(stream: DataFrame, merge: DataFrame => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("update")
      .foreachBatch((batch: org.apache.spark.sql.Dataset[Row], _: Long) => merge(batch))

  /** Drive a streaming query over a bounded source to completion (test/batch
    * replay harness): process everything available, then stop.
    */
  def runToCompletion(writer: DataStreamWriter[Row]): Unit = {
    val q: StreamingQuery = writer.trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }
}
