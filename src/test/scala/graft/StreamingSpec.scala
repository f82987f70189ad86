package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Streaming

class StreamingSpec extends SparkSpec {

  /** events with micros timestamps staged to a local dir for readStream */
  private lazy val stagedDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("events_stream").toString
    graft.sources.EventsReader.read(spark, sfDir)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming windowed agg equals the batch windowed agg") {
    val batch = spark.read.parquet(stagedDir)
    val stream = spark.readStream.schema(batch.schema).parquet(stagedDir)

    val agg = Streaming.windowedAgg(stream, "ts", "10 minutes", "1 hour", Seq("event_type"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("stream_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    // with AvailableNow the final watermark closes all windows except the
    // last ones; compare on the windows the stream emitted
    val streamed = spark.table("stream_out")
      .select("wstart", "event_type", "n", "value_sum").collect()
    val expected = batch
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("value_sum"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("value_sum"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap

    assert(streamed.nonEmpty, "stream emitted no finalized windows")
    streamed.foreach { r =>
      val key = (r.getTimestamp(0), r.getString(1))
      assert(expected.contains(key), s"unexpected window $key")
      assert(expected(key)._1 == r.getLong(2), s"count mismatch for $key")
    }
  }

  test("streaming dedup (watermark-bounded state) equals batch distinct") {
    val batch = spark.read.parquet(stagedDir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val stream = spark.readStream.schema(batch.schema).parquet(stagedDir)
      .select(col("event_id"), col("user_id"), col("ts"))
    val deduped = Streaming.dedup(stream, "ts", "1 hour", Seq("event_id"))
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("dedup_out").select("event_id").distinct().count()
    val expected = batch.select("event_id").distinct().count()
    assert(streamed == expected, s"streaming dedup $streamed != batch distinct $expected")
    // no duplicates in the streamed output
    assert(spark.table("dedup_out").count() == streamed)
  }

  test("foreachBatch merge onto an accumulating fact: flat plan across micro-batches") {
    // the reference's flagship accumulating-snapshot workflow (tables.py:
    // 2359-2505) as a streaming steady state: every micro-batch MERGEs into
    // the fact; materialized state keeps each merge O(state), not O(history)
    import graft.tables._
    import spark.implicits._
    val src = spark.read.parquet(stagedDir)
      .select(col("user_id"), col("event_type"), col("value"))
    val dir6 = java.nio.file.Files.createTempDirectory("events_stream6").toString
    src.repartition(6).write.mode("overwrite").parquet(dir6)
    val fact = new AccumulatingSnapshotFactTable("stream_acc",
      Seq("user_id"), Seq("last_type"), Seq("total"))
    fact.init(Seq.empty[(Long, String, Double)].toDF("user_id", "last_type", "total"))
    var sizes = Vector.empty[Int]
    val stream = spark.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir6)
    val writer = Streaming.foreachBatchMerge(stream, batch =>
      if (!batch.isEmpty) {
        fact.merge(batch.groupBy(col("user_id")).agg(
          max(col("event_type")).as("last_type"), sum(col("value")).as("total")))
        sizes :+= fact.current.queryExecution.optimizedPlan.collect { case p => p }.size
        ()
      })
    Streaming.runToCompletion(writer)
    assert(sizes.size >= 3, s"expected several micro-batches, got ${sizes.size}")
    assert(sizes.distinct.size == 1,
      s"fact state plan must stay flat across streaming merges, got $sizes")
    assert(fact.current.count() == src.select("user_id").distinct().count())
  }

  test("streaming curate equals batch curate on fingerprint set") {
    val dir = java.nio.file.Files.createTempDirectory("docs_stream").toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("ts", timestamp_micros((col("doc_id") + 1) * lit(60000000L)))
      .write.mode("overwrite").parquet(dir)
    val batch = spark.read.parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)

    // watermark wider than the data's ts span: within-horizon dedup is then
    // exact, so streaming output must equal the batch twin exactly
    val curated = Streaming.curate(stream, "text", "ts", "30 days",
      minQuality = 0.3, langs = Seq("en", "de"))
    val q = curated.writeStream.outputMode("append")
      .format("memory").queryName("curate_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    val streamed = spark.table("curate_out")
      .select("fp", "lang_pred").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSet
    val expected = Streaming.curate(batch, "text", "ts", "30 days",
      minQuality = 0.3, langs = Seq("en", "de"))
      .select("fp", "lang_pred").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSet
    assert(streamed == expected,
      s"streaming curate fp set (${streamed.size}) != batch (${expected.size})")
    // dedup actually deduped: fps unique in the streamed output
    assert(spark.table("curate_out").groupBy("fp").count()
      .filter(col("count") =!= 1).count() == 0)
  }

  test("foreachBatch scdensure merges micro-batches into the dimension") {
    import graft.tables._
    val batchDf = spark.read.parquet(stagedDir)
    val dim = new ScdDimension("stream_scd", "user_key",
      Seq("user_id", "event_type", "version", "valid_from", "valid_to"),
      Seq("user_id"), "version", "valid_from", "valid_to",
      maxTo = lit(null).cast("timestamp"))
    dim.init(batchDf.select(lit(0L).as("user_key"), col("user_id"), col("event_type"),
      lit(1).as("version"), col("ts").as("valid_from"), col("ts").as("valid_to")).limit(0))

    val stream = spark.readStream.schema(batchDf.schema).parquet(stagedDir)
    val writer = Streaming.foreachBatchMerge(
      stream.select(col("user_id"), col("event_type"), col("ts")),
      batch => if (!batch.isEmpty) { dim.scdensure(batch, col("ts")); () })
    Streaming.runToCompletion(writer)

    val d = dim.current
    assert(d.count() > 0)
    assert(d.filter(col("valid_to").isNull).groupBy("user_id").count()
      .filter(col("count") =!= 1).count() == 0)
  }

  test("streaming drift monitor converges to the batch tokenDrift verdict") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val altered = docs.withColumn("text",
      when(col("doc_id") % 4 === 0, concat(col("text"), lit(" driftmarker")))
        .otherwise(col("text")))
    val monitor = new Streaming.DriftMonitor(docs, "text", topK = 10)
    // feed the altered corpus as three micro-batches via foreachBatch
    val dir = java.nio.file.Files.createTempDirectory("drift_stream").toString
    altered.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(altered.schema).parquet(dir)
    Streaming.runToCompletion(
      Streaming.foreachBatchMerge(stream,
        batch => if (!batch.isEmpty) monitor.update(batch)))

    val streamed = monitor.drift().collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(streamed.contains("driftmarker"),
      s"injected token must surface, got ${streamed.keySet}")
    // parity: once all batches are in, the monitor equals the batch diff
    val batchTop = graft.functions.Curation.tokenDrift(docs, altered, "text", k = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(streamed == batchTop,
      s"streaming drift $streamed must equal batch tokenDrift $batchTop")
  }

  test("streaming minhash-index dedup: foreachBatch accretion equals ordered replay") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("dedupidx_stream").toString
    docs.repartition(3).write.mode("overwrite").parquet(dir)

    // drive the class through real Structured Streaming plumbing, one file
    // per micro-batch, recording each batch's membership as it arrives
    val streamed = new Streaming.MinHashIndexDedup("doc_id", "text",
      n = 3, k = 64, bands = 32, threshold = 0.8)
    var batches = Vector.empty[Array[Long]]
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    Streaming.runToCompletion(Streaming.foreachBatchMerge(stream, b =>
      if (!b.isEmpty) {
        streamed.update(b)
        batches :+= b.select("doc_id").collect().map(_.getLong(0))
      }))
    assert(batches.size >= 3, s"expected several micro-batches, got ${batches.size}")
    val got = streamed.matches.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    // batch twin: replay the SAME batch sequence
    val replay = new Streaming.MinHashIndexDedup("doc_id", "text",
      n = 3, k = 64, bands = 32, threshold = 0.8)
    batches.foreach { ids =>
      replay.update(docs.filter(col("doc_id").isin(ids.map(Long.box): _*)))
    }
    val expected = replay.matches.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected, "streaming accretion must equal the ordered batch replay")

    // matches only ever point backward in arrival order, and some exist
    // (the documents table carries near-duplicates by construction)
    assert(got.nonEmpty, "corpus has near-dups; the index must find them")
    val arrival = batches.zipWithIndex
      .flatMap { case (ids, i) => ids.map(_ -> i) }.toMap
    got.foreach { case (n, m, _) =>
      assert(arrival(n) > arrival(m), s"match ($n, $m) must point to an earlier batch")
    }
  }

  test("streaming IVF ingest: foreachBatch accretion equals ordered replay, recall sane") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val dir = java.nio.file.Files.createTempDirectory("ivf_stream").toString
    e.repartition(3).write.mode("overwrite").parquet(dir)

    val streamed = new Streaming.IvfIndexIngest("vec_id", "v", nCentroids = 8, nProbe = 3)
    var batches = Vector.empty[Array[Long]]
    val stream = spark.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    Streaming.runToCompletion(Streaming.foreachBatchMerge(stream, b =>
      if (!b.isEmpty) {
        streamed.update(b)
        batches :+= b.select("vec_id").collect().map(_.getLong(0))
      }))
    assert(batches.size >= 3, s"expected several micro-batches, got ${batches.size}")
    val q = e.filter(col("vec_id") < 10)
    val got = streamed.topK(q, "vec_id", "v", k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet

    // replay the SAME batch sequence (the first batch defines the quantizer)
    val replay = new Streaming.IvfIndexIngest("vec_id", "v", nCentroids = 8, nProbe = 3)
    batches.foreach { ids =>
      replay.update(e.filter(col("vec_id").isin(ids.map(Long.box): _*)))
    }
    val expected = replay.topK(q, "vec_id", "v", k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == expected, "streaming ingest must equal the ordered batch replay")

    // sanity: 5 ranked neighbors per query, drawn from the full corpus index
    assert(got.groupBy(_._1).forall(_._2.size == 5))
  }

  test("IVF compaction: quantizer widens, closed form holds, restart mid-ingest is seamless") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("v"))
    val n = e.count()
    val q = e.filter(col("vec_id") < 10)
    def run(ing: Streaming.IvfIndexIngest, bs: Range): Unit =
      bs.foreach(b => ing.update(e.filter(col("vec_id") % 4 === b)))
    def top(ing: Streaming.IvfIndexIngest) =
      ing.topK(q, "vec_id", "v", k = 5).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

    // uninterrupted ingest: mid-stream compactions are geometric
    // (amortized), and seal() closes with the deterministic re-route, so
    // the final quantizer is the ceil(sqrt(n)) lowest-id vectors — the
    // balanced sqrt-split (probe cost AND re-route cost subquadratic)
    val full = new Streaming.IvfIndexIngest("vec_id", "v",
      nCentroids = 16, nProbe = 4, maxMeanList = 4)
    run(full, 0 until 4)
    full.seal()
    assert(full.centroidCount == math.ceil(math.sqrt(n.toDouble)).toLong,
      s"final quantizer must hold ceil(sqrt(n)) centroids, got ${full.centroidCount}")
    val expected = top(full)
    assert(expected.groupBy(_._1).forall(_._2.size == 5))

    // closed form: identical to routing EVERYTHING onto that final
    // quantizer in one shot (intermediate compactions must be erased)
    val oneShot = new Streaming.IvfIndexIngest("vec_id", "v",
      nCentroids = math.ceil(math.sqrt(n.toDouble)).toInt, nProbe = 4)
    oneShot.update(e) // first batch IS the whole corpus; lowest ids seed
    assert(top(oneShot) == expected,
      "compacted lifecycle must equal one-shot routing onto the final quantizer")

    // crash-restart: save after 2 batches, restore into a FRESH monitor,
    // ingest the remaining 2 — identical readout, compaction state intact
    val half = new Streaming.IvfIndexIngest("vec_id", "v",
      nCentroids = 16, nProbe = 4, maxMeanList = 4)
    run(half, 0 until 2)
    val ckpt = java.nio.file.Files.createTempDirectory("ivf_compact").toString
    half.saveState(ckpt)
    val resumed = new Streaming.IvfIndexIngest("vec_id", "v",
      nCentroids = 16, nProbe = 4, maxMeanList = 4)
    resumed.restoreState(spark, ckpt)
    // the compaction anchor travels WITH the checkpoint: the resumed
    // monitor's mid-stream compaction schedule (centroid count after each
    // remaining batch, BEFORE seal erases history) must equal the
    // uninterrupted run's — an anchor approximated from the restored index
    // size would defer the next trip to 2x the restore point and diverge
    // here, letting mean list length drift past maxMeanList mid-ingest
    val fullTrace = {
      val f2 = new Streaming.IvfIndexIngest("vec_id", "v",
        nCentroids = 16, nProbe = 4, maxMeanList = 4)
      (0 until 4).map { b => f2.update(e.filter(col("vec_id") % 4 === b)); f2.centroidCount }
    }
    val resumedTrace = (2 until 4).map { b =>
      resumed.update(e.filter(col("vec_id") % 4 === b)); resumed.centroidCount
    }
    assert(resumedTrace == fullTrace.drop(2),
      s"restored compaction schedule must match uninterrupted: $resumedTrace vs $fullTrace")
    resumed.seal()
    assert(top(resumed) == expected,
      "restored monitor must finish the ingest identically")
  }

  test("basket/fk/ltv monitors: accreted state equals the batch solve, restore mid-stream") {
    import spark.implicits._
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq

    // basket: order lines scattered across part-keyed batches must
    // re-pair off the accreted frame
    val bm = new Streaming.BasketMonitor("l_orderkey", "l_partkey",
      minSupport = 2, topN = 10)
    (0 until 3).foreach(b => bm.update(li.filter(col("l_partkey") % 3 === b)))
    val bBatch = graft.functions.Events.basketPairs(li, "l_orderkey",
      "l_partkey", minSupport = 2, topN = 10)
    assert(rows(bm.pairs) == rows(bBatch), "basket monitor must equal batch")

    // fk audit: restore mid-stream, finish, equals batch
    val fm = new Streaming.FkAuditMonitor(orders, "o_orderkey", "l_orderkey")
    fm.update(li.filter(col("l_linenumber") % 3 === 0))
    val ck = java.nio.file.Files.createTempDirectory("fk_mon").toString
    fm.saveState(ck)
    val fm2 = new Streaming.FkAuditMonitor(orders, "o_orderkey", "l_orderkey")
    fm2.restoreState(spark, ck)
    (1 until 3).foreach(b => fm2.update(li.filter(col("l_linenumber") % 3 === b)))
    val fBatch = graft.functions.Audits.fkAudit(li, "l_orderkey",
      orders, "o_orderkey")
    assert(rows(fm2.readout) == rows(fBatch), "restored fk monitor must equal batch")

    // ltv: a customer's EARLIEST order arriving in the LAST batch must
    // reassign their cohort — replay ordered by descending key
    val lm = new Streaming.LtvMonitor("o_custkey", "o_orderdate", "o_totalprice")
    Seq(2, 1, 0).foreach(b => lm.update(orders.filter(col("o_orderkey") % 3 === b)))
    val lBatch = graft.functions.Events.cohortLtv(orders, "o_custkey",
      "o_orderdate", "o_totalprice")
    assert(rows(lm.curve) == rows(lBatch), "ltv monitor must equal batch")
  }

  test("incremental components equal the from-scratch solve, merges included") {
    import spark.implicits._
    import graft.streaming.Streaming
    // batches engineered so batch 3's single edge MERGES the two components
    // built up by batches 1 and 2, and batch 4 attaches a smaller-id node
    // (the stored labels must be rewritten, not just extended)
    val batches = Seq(
      Seq((10L, 11L), (11L, 12L)),
      Seq((20L, 21L), (21L, 22L)),
      Seq((12L, 20L)),
      Seq((5L, 22L), (30L, 31L)))
    val cm = new Streaming.ComponentMonitor()
    batches.foreach(b => cm.update(b.toDF("id_a", "id_b")))
    val got = cm.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = graft.functions.Dedup.connectedComponents(
      batches.flatten.toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full, s"incremental $got must equal batch $full")
    // the merged mega-component is labeled by the late-arriving smallest id
    assert(got(10L) == 5L && got(22L) == 5L && got(30L) == 30L)

    // and through real foreachBatch plumbing on corpus pairs
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = graft.functions.Dedup.minhashPairs(docs, "doc_id", "text",
      n = 3, k = 64, bands = 32, threshold = 0.8)
    val dir = java.nio.file.Files.createTempDirectory("cc_stream").toString
    pairs.repartition(3).write.mode("overwrite").parquet(dir)
    val cm2 = new Streaming.ComponentMonitor()
    val stream = spark.readStream.schema(pairs.schema).parquet(dir)
    Streaming.runToCompletion(
      Streaming.foreachBatchMerge(stream,
        batch => if (!batch.isEmpty) cm2.update(batch)))
    val streamed = cm2.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.functions.Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed == batch)
  }

  test("streaming retention monitor: batch parity, late back-dating re-cohorts") {
    import spark.implicits._
    val day = 86400000000L
    // batch 2 back-dates user 2's first activity to day 0 — their cohort
    // must move and their old day-2 activity re-attribute to offset 2
    val batches = Seq(
      Seq((1L, 0L), (2L, 2 * day)),
      Seq((2L, 0L), (1L, day)),
      Seq((3L, day), (1L, 0L)))
    def toDf(b: Seq[(Long, Long)]) = b.toDF("user_id", "t")
      .withColumn("ts", timestamp_micros(col("t"))).drop("t")
    val rm = new Streaming.RetentionMonitor("user_id", "ts")
    batches.foreach(b => rm.update(toDf(b)))
    val got = rm.retention.collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getLong(2)).toMap
    val full = graft.functions.Events.retention(
      toDf(batches.flatten), "user_id", "ts")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == full, s"incremental $got must equal batch $full")
    assert(got(("1970-01-01", 0)) == 2L && got(("1970-01-01", 2)) == 1L)

    // and through real foreachBatch plumbing on the corpus events
    val ev = spark.read.parquet(stagedDir)
    val dir = java.nio.file.Files.createTempDirectory("ret_stream").toString
    ev.repartition(3).write.mode("overwrite").parquet(dir)
    val rm2 = new Streaming.RetentionMonitor("user_id", "ts")
    val stream = spark.readStream.schema(ev.schema).parquet(dir)
    Streaming.runToCompletion(
      Streaming.foreachBatchMerge(stream,
        batch => if (!batch.isEmpty) rm2.update(batch)))
    val streamed = rm2.retention.collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getLong(2)).toMap
    val batchFull = graft.functions.Events.retention(ev, "user_id", "ts")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getLong(2)).toMap
    assert(streamed == batchFull)

    // the second readout off the same state: stickiness parity too
    val stickStreamed = rm2.stickiness().collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val stickBatch = graft.functions.Events.stickiness(ev, "user_id", "ts")
      .collect().map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(stickStreamed == stickBatch)
  }

  test("streaming contamination monitor: accreted hits equal the batch solve, restore mid-stream") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val train = docs.filter(col("doc_id") % 10 =!= 0)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batchFull = toMap(graft.functions.Dedup.contamination(
      train, "doc_id", "text", bench, "doc_id", "text", minShared = 3))

    // through real foreachBatch plumbing over a partitioned train dump
    val dir = java.nio.file.Files.createTempDirectory("contam_stream").toString
    train.repartition(3).write.mode("overwrite").parquet(dir)
    val cm = new Streaming.ContaminationMonitor(bench, "doc_id", "text",
      "doc_id", "text", minShared = 3)
    val stream = spark.readStream.schema(train.schema).parquet(dir)
    Streaming.runToCompletion(
      Streaming.foreachBatchMerge(stream,
        batch => if (!batch.isEmpty) cm.update(batch)))
    assert(toMap(cm.matches) == batchFull)
    assert(batchFull.nonEmpty, "fixture must contain contamination")

    // save after a partial replay, restore into a fresh monitor, finish
    val ckpt = java.nio.file.Files.createTempDirectory("contam_state").toString
    val cm2 = new Streaming.ContaminationMonitor(bench, "doc_id", "text",
      "doc_id", "text", minShared = 3)
    cm2.update(train.filter(col("doc_id") % 2 === 0))
    cm2.saveState(ckpt)
    val cm3 = new Streaming.ContaminationMonitor(bench, "doc_id", "text",
      "doc_id", "text", minShared = 3)
    cm3.restoreState(spark, ckpt)
    cm3.update(train.filter(col("doc_id") % 2 =!= 0))
    assert(toMap(cm3.matches) == batchFull)
  }

  test("lateness monitor: rows under the carried watermark count once, restore mid-stream") {
    import spark.implicits._
    def ev(rows: (String, Long)*) = rows.toSeq.toDF("event_type", "t")
      .withColumn("ts", timestamp_micros(col("t") * 1000000L)).drop("t")
    val lm = new Streaming.LatenessMonitor(delay = "30 SECONDS")
    lm.update(ev(("a", 50L), ("b", 100L))) // first batch: no prior watermark
    intercept[IllegalStateException](
      new Streaming.LatenessMonitor().lateCounts)
    // hwm 100, cutoff 70: a@20 late, a@80 and the forward b@150 are not
    lm.update(ev(("a", 20L), ("a", 80L), ("b", 150L)))
    // hwm 150, cutoff 120: b@90 late, a@130 is not
    lm.update(ev(("b", 90L), ("a", 130L)))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(toMap(lm.lateCounts) == Map("a" -> 1L, "b" -> 1L))
    // restore carries the watermark: a@60 is late against hwm 150
    val ckpt = java.nio.file.Files.createTempDirectory("late_state").toString
    lm.saveState(ckpt)
    val lm2 = new Streaming.LatenessMonitor(delay = "30 SECONDS")
    lm2.restoreState(spark, ckpt)
    lm2.update(ev(("a", 60L)))
    assert(toMap(lm2.lateCounts) == Map("a" -> 2L, "b" -> 1L))
  }

  test("streaming path monitor: carried prefixes equal batch entryPaths, restore mid-stream") {
    import spark.implicits._
    val ev = Seq(
      // user 1 spans the batch boundary: a,b early; c,d late — prefix a>b>c
      (1L, "a", 10L, 1L), (1L, "b", 20L, 2L), (1L, "c", 110L, 3L), (1L, "d", 120L, 4L),
      // user 2 fills its prefix within batch 1
      (2L, "b", 5L, 5L), (2L, "a", 6L, 6L), (2L, "c", 7L, 7L),
      // user 3 appears only in batch 2, short history
      (3L, "c", 115L, 8L), (3L, "a", 125L, 9L),
      // user 4: same-ts tie inside batch 1 broken by id
      (4L, "b", 50L, 10L), (4L, "a", 50L, 11L)
    ).toDF("user_id", "event_type", "t", "event_id")
      .withColumn("ts", timestamp_micros(col("t") * 1000000L)).drop("t")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getInt(1), r.getLong(2))).toMap
    val expected = toMap(graft.functions.Events.entryPaths(
      ev, "user_id", "event_type", "ts", "event_id", depth = 3))
    assert(expected == Map("a>b>c" -> (3, 1L), "b>a>c" -> (3, 1L),
      "c>a" -> (2, 1L), "b>a" -> (2, 1L)), s"fixture drifted: $expected")

    // two per-user time-ordered batches (split at t=100)
    val early = ev.filter(col("ts") < timestamp_micros(lit(100000000L)))
    val late = ev.filter(col("ts") >= timestamp_micros(lit(100000000L)))
    val pm = new Streaming.PathMonitor(depth = 3)
    pm.update(early)
    pm.update(late)
    assert(toMap(pm.paths) == expected)

    // save after batch 1, restore into a fresh monitor, finish
    val ckpt = java.nio.file.Files.createTempDirectory("paths_state").toString
    val pm2 = new Streaming.PathMonitor(depth = 3)
    pm2.update(early)
    pm2.saveState(ckpt)
    val pm3 = new Streaming.PathMonitor(depth = 3)
    pm3.restoreState(spark, ckpt)
    pm3.update(late)
    assert(toMap(pm3.paths) == expected)
    // a full prefix is immutable: replaying MORE late events changes nothing
    pm3.update(late.withColumn("event_id", col("event_id") + 100)
      .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR")))
    assert(toMap(pm3.paths)("a>b>c") == ((3, 1L)))
  }

  test("streaming CMS monitor: accreted cells equal the one-pass sketch, restore mid-stream") {
    import graft.functions.{Stats, TextAnalysis}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def toks(d: org.apache.spark.sql.DataFrame) = d
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val onePass = toMap(Stats.countMinSketch(toks(docs), "token"))

    // through real foreachBatch plumbing over a partitioned dump
    val dir = java.nio.file.Files.createTempDirectory("cms_stream").toString
    docs.repartition(3).write.mode("overwrite").parquet(dir)
    val cm = new Streaming.CmsMonitor("token")
    val stream = spark.readStream.schema(docs.schema).parquet(dir)
    Streaming.runToCompletion(
      Streaming.foreachBatchMerge(stream,
        batch => if (!batch.isEmpty) cm.update(toks(batch))))
    assert(toMap(cm.sketch) == onePass)
    assert(onePass.nonEmpty)

    // linearity survives save/restore: fold the other half after a restore
    val ckpt = java.nio.file.Files.createTempDirectory("cms_state").toString
    val cm2 = new Streaming.CmsMonitor("token")
    cm2.update(toks(docs.filter(col("doc_id") % 2 === 0)))
    cm2.saveState(ckpt)
    val cm3 = new Streaming.CmsMonitor("token")
    cm3.restoreState(spark, ckpt)
    cm3.update(toks(docs.filter(col("doc_id") % 2 =!= 0)))
    assert(toMap(cm3.sketch) == onePass)
    // estimates off the accreted sketch keep est >= true
    val truec = toks(docs).groupBy(col("token")).agg(count(lit(1)).as("true_cnt"))
    val est = cm3.estimate(truec, "token").join(truec, Seq("token"))
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(est.nonEmpty && est.forall { case (e, t) => e >= t })
  }

  test("stream-static enrich monitor: accreted segment totals equal the batch join, restore mid-stream") {
    val ev = spark.read.parquet(stagedDir)
    val dim = spark.read.parquet(s"$sfDir/customer.parquet")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val batchFull = toMap(ev.join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 4))), 2)
          .cast("double").as("value_sum")))

    // through real foreachBatch plumbing over a partitioned event dump
    val dir = java.nio.file.Files.createTempDirectory("enrich_stream").toString
    ev.repartition(3).write.mode("overwrite").parquet(dir)
    val em = new Streaming.EnrichMonitor(dim, "c_custkey", "c_mktsegment",
      "user_id", "value")
    val stream = spark.readStream.schema(ev.schema).parquet(dir)
    Streaming.runToCompletion(
      Streaming.foreachBatchMerge(stream,
        batch => if (!batch.isEmpty) em.update(batch)))
    assert(toMap(em.result) == batchFull)
    assert(batchFull.nonEmpty, "fixture must produce enriched segments")

    // save after a partial replay, restore into a fresh monitor, finish
    val ckpt = java.nio.file.Files.createTempDirectory("enrich_state").toString
    val em2 = new Streaming.EnrichMonitor(dim, "c_custkey", "c_mktsegment",
      "user_id", "value")
    em2.update(ev.filter(col("event_id") % 2 === 0))
    em2.saveState(ckpt)
    val em3 = new Streaming.EnrichMonitor(dim, "c_custkey", "c_mktsegment",
      "user_id", "value")
    em3.restoreState(spark, ckpt)
    em3.update(ev.filter(col("event_id") % 2 =!= 0))
    assert(toMap(em3.result) == batchFull)
  }

  test("streaming quantile monitor: thresholds bit-identical to the batch scan, restore mid-stream") {
    val ev = spark.read.parquet(stagedDir)
    val dir = java.nio.file.Files.createTempDirectory("quant_stream").toString
    ev.repartition(3).write.mode("overwrite").parquet(dir)
    val qm = new Streaming.QuantileMonitor("value", width = 10.0)
    val stream = spark.readStream.schema(ev.schema).parquet(dir)
    Streaming.runToCompletion(
      Streaming.foreachBatchMerge(stream,
        batch => if (!batch.isEmpty) qm.update(batch)))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getDouble(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4), r.getLong(5))).toMap
    val qs = Seq(0.5, 0.9, 0.99)
    val streamed = toMap(qm.quantiles(qs))
    val batchScan = toMap(graft.functions.Stats.histogramQuantiles(ev, "value", 10.0, qs))
    assert(streamed == batchScan)
    assert(streamed.nonEmpty)
    // save, restore into a fresh monitor, fold one more batch: equals the
    // batch scan over the doubled stream (counts are additive)
    val ckpt = java.nio.file.Files.createTempDirectory("quant_state").toString
    qm.saveState(ckpt)
    val qm2 = new Streaming.QuantileMonitor("value", width = 10.0)
    qm2.restoreState(spark, ckpt)
    qm2.update(ev)
    val doubled = toMap(graft.functions.Stats.histogramQuantiles(
      ev.unionAll(ev), "value", 10.0, qs))
    assert(toMap(qm2.quantiles(qs)) == doubled)
  }

  test("streaming transition monitor: boundary hops counted once, state survives save/restore") {
    import spark.implicits._
    // three time-ordered batches; users 1 and 2 span batch boundaries, so
    // their boundary hops (1: b->a at t20->t30, a->c at t40->t50;
    // 2: a->a at t15->t35) exist in NO single batch
    val batches = Seq(
      Seq((1L, "a", 10L, 1L), (1L, "b", 20L, 2L), (2L, "a", 15L, 3L)),
      Seq((1L, "a", 30L, 4L), (1L, "c", 40L, 5L), (2L, "a", 35L, 6L)),
      Seq((1L, "b", 50L, 7L), (3L, "c", 60L, 8L)))
    def toDf(b: Seq[(Long, String, Long, Long)]) =
      b.toDF("user_id", "event_type", "t", "event_id")
        .withColumn("ts", timestamp_micros(col("t") * 1000000L)).drop("t")
    val tm = new Streaming.TransitionMonitor("user_id", "event_type", "ts", "event_id")
    batches.foreach(b => tm.update(toDf(b)))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val got = toMap(tm.matrix)
    val full = toMap(graft.functions.Events.transitions(
      toDf(batches.flatten), "user_id", "event_type", "ts", "event_id"))
    assert(got == full, s"incremental $got must equal batch $full")
    // the three boundary hops: user 1's b(20)->a(30) and c(40)->b(50),
    // user 2's a(15)->a(35) — each exists in NO single batch
    assert(got(("b", "a")) == ((1L, 1.0)), "the batch-1->2 boundary hop must count")
    assert(got(("c", "b")) == ((1L, 1.0)), "the batch-2->3 boundary hop must count")
    assert(got(("a", "a")) == ((1L, 0.333333)), "user 2's cross-batch self-hop must count")

    // crash-restart: state saved after batch 2, restored into a fresh
    // monitor, batch 3 replayed — identical matrix
    val ckpt = java.nio.file.Files.createTempDirectory("tm_state").toString
    val tm2 = new Streaming.TransitionMonitor("user_id", "event_type", "ts", "event_id")
    batches.take(2).foreach(b => tm2.update(toDf(b)))
    tm2.saveState(ckpt)
    val tm3 = new Streaming.TransitionMonitor("user_id", "event_type", "ts", "event_id")
    tm3.restoreState(spark, ckpt)
    tm3.update(toDf(batches(2)))
    assert(toMap(tm3.matrix) == full)
  }

  test("interarrival monitor: cross-batch gaps count once, state survives save/restore") {
    import spark.implicits._
    // user 1's clicks at 10s/310s/1810s: the 300s gap (bucket 0) closes
    // inside batch 2, the 1500s gap (bucket 2) spans the 2->3 boundary —
    // it exists in NO single batch; user 2's lone view contributes nothing
    val batches = Seq(
      Seq((1L, "click", 10L, 1L), (2L, "view", 20L, 2L)),
      Seq((1L, "click", 310L, 3L)),
      Seq((1L, "click", 1810L, 4L), (2L, "view", 100020L, 5L)))
    def toDf(b: Seq[(Long, String, Long, Long)]) =
      b.toDF("user_id", "event_type", "t", "event_id")
        .withColumn("ts", timestamp_micros(col("t") * 1000000L)).drop("t")
    def run(bs: Seq[Seq[(Long, String, Long, Long)]]) = {
      val im = new Streaming.InterarrivalMonitor("user_id", "event_type",
        "ts", "event_id", widthSeconds = 600L, capBuckets = 144)
      bs.foreach(b => im.update(toDf(b)))
      im
    }
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val got = toMap(run(batches).histogram)
    val full = toMap(graft.functions.Events.interarrivalHistogram(
      toDf(batches.flatten), "user_id", "event_type", "ts", "event_id",
      widthSeconds = 600L, capBuckets = 144))
    assert(got == full, s"incremental $got must equal batch $full")
    assert(got == Map(
      ("click", 0L) -> ((0L, 1L)), ("click", 2L) -> ((1200L, 1L)),
      ("view", 144L) -> ((86400L, 1L))), s"got $got")

    // crash-restart mid-stream: identical histogram
    val ckpt = java.nio.file.Files.createTempDirectory("im_state").toString
    val im2 = run(batches.take(2))
    im2.saveState(ckpt)
    val im3 = new Streaming.InterarrivalMonitor("user_id", "event_type",
      "ts", "event_id", widthSeconds = 600L, capBuckets = 144)
    im3.restoreState(spark, ckpt)
    im3.update(toDf(batches(2)))
    assert(toMap(im3.histogram) == full)
  }

  test("streaming transition monitor: foreachBatch parity over time-ordered files") {
    // corpus events sliced into 5 day-range files with strictly increasing
    // mtimes; maxFilesPerTrigger=1 makes the file source deliver them as 5
    // time-ordered micro-batches — the monitor's arrival contract
    val ev = spark.read.parquet(stagedDir)
    val dir = java.nio.file.Files.createTempDirectory("trans_stream").toString
    (0 until 5).foreach { b =>
      ev.filter(floor((dayofmonth(col("ts")) - 1) / 6) === b)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/b$b")
      val f = new java.io.File(s"$dir/b$b").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      f.foreach(p => p.setLastModified(1700000000000L + b * 60000L))
    }
    val tm = new Streaming.TransitionMonitor("user_id", "event_type", "ts", "event_id")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$dir/b*")
    Streaming.runToCompletion(
      Streaming.foreachBatchMerge(stream,
        batch => if (!batch.isEmpty) tm.update(batch)))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val streamed = toMap(tm.matrix)
    val batchFull = toMap(graft.functions.Events.transitions(
      ev, "user_id", "event_type", "ts", "event_id"))
    assert(streamed == batchFull)
    assert(streamed.nonEmpty)
  }

  test("streaming volume monitor: verdicts bit-identical to the batch scan") {
    val ev = spark.read.parquet(stagedDir)
    val dir = java.nio.file.Files.createTempDirectory("vol_stream").toString
    ev.repartition(3).write.mode("overwrite").parquet(dir)
    val vm = new Streaming.VolumeMonitor("event_type", "ts")
    val stream = spark.readStream.schema(ev.schema).parquet(dir)
    Streaming.runToCompletion(
      Streaming.foreachBatchMerge(stream,
        batch => if (!batch.isEmpty) vm.update(batch)))
    val streamed = vm.anomalies().collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    val batch = graft.functions.Events.dailyAnomalies(ev, "event_type", "ts")
      .collect().map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("volume monitor forecast readout: equals the batch seasonal forecast, survives restart") {
    val ev = spark.read.parquet(stagedDir)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val batchFull = toMap(
      graft.functions.Events.seasonalForecast(ev, "event_type", "ts", period = 7))
    assert(batchFull.nonEmpty)
    // daily counts are additive: 5 arbitrary (not time-ordered) batches
    // accrete to the exact corpus count table, so the forecast matches
    val vm = new Streaming.VolumeMonitor("event_type", "ts")
    (0 until 5).foreach(b => vm.update(ev.filter(col("event_id") % 5 === b)))
    assert(toMap(vm.forecast(period = 7)) == batchFull)
    // save after 2 batches, restore into a fresh monitor, finish, same audit
    val ckpt = java.nio.file.Files.createTempDirectory("vol_state").toString
    val vm2 = new Streaming.VolumeMonitor("event_type", "ts")
    (0 until 2).foreach(b => vm2.update(ev.filter(col("event_id") % 5 === b)))
    vm2.saveState(ckpt)
    val vm3 = new Streaming.VolumeMonitor("event_type", "ts")
    vm3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => vm3.update(ev.filter(col("event_id") % 5 === b)))
    assert(toMap(vm3.forecast(period = 7)) == batchFull)
    // third readout off the same state: the CUSUM creep alarm is
    // batch-exact by the same additivity
    def csMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(csMap(vm3.cusum()) ==
      csMap(graft.functions.Events.cusum(ev, "event_type", "ts")))
    // fourth readout off the same state: the EWMA control chart
    def ewMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getBoolean(6))).toMap
    assert(ewMap(vm3.ewma()) ==
      ewMap(graft.functions.Events.ewmaDaily(ev, "event_type", "ts")))
    // fifth readout off the same state: the Mann-Kendall trend verdict
    def mkRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSeq
    assert(mkRows(vm3.trend) ==
      mkRows(graft.functions.Events.mannKendall(ev, "event_type", "ts")))
    // sixth readout off the same state: the ACF table
    assert(mkRows(vm3.autocorrelation()) ==
      mkRows(graft.functions.Events.acfDaily(ev, "event_type", "ts")))
    // seventh readout off the same state: the Pettitt changepoint
    assert(mkRows(vm3.changepoint) ==
      mkRows(graft.functions.Events.pettitt(ev, "event_type", "ts")))
    // eighth readout off the same state: the Ljung-Box white-noise Q
    assert(mkRows(vm3.whiteNoise()) ==
      mkRows(graft.functions.Events.ljungBox(ev, "event_type", "ts")))
    // ninth readout off the same state: Durbin-Watson on the residuals
    assert(mkRows(vm3.residualAutocorr) ==
      mkRows(graft.functions.Events.durbinWatson(ev, "event_type", "ts")))
    // tenth/eleventh readouts off the same state: paired Wilcoxon + sign
    assert(mkRows(vm3.pairedShift("click", "view")) ==
      mkRows(graft.functions.Events.wilcoxonSignedRank(ev, "click", "view")))
    assert(mkRows(vm3.pairedSign("click", "view")) ==
      mkRows(graft.functions.Events.signTest(ev, "click", "view")))
  }

  test("key-count monitor: skew and gini readouts equal batch twins, survive restart") {
    val ev = spark.read.parquet(stagedDir)
    def skewMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))).toMap
    def giniRow(df: org.apache.spark.sql.DataFrame) = {
      val r = df.head(); (r.getLong(0), r.getLong(1), r.getDouble(2))
    }
    val batchSkew = skewMap(graft.functions.Stats.keySkew(ev, "user_id", 20))
    val batchGini = giniRow(graft.functions.Stats.giniConcentration(ev, "user_id"))
    val km = new Streaming.KeyCountMonitor("user_id")
    (0 until 5).foreach(b => km.update(ev.filter(col("event_id") % 5 === b)))
    assert(skewMap(km.skew(20)) == batchSkew)
    assert(giniRow(km.gini()) == batchGini)
    // foreachBatch plumbing parity
    val dir = java.nio.file.Files.createTempDirectory("kc_stream").toString
    ev.repartition(3).write.mode("overwrite").parquet(dir)
    val km2 = new Streaming.KeyCountMonitor("user_id")
    val stream = spark.readStream.schema(ev.schema).parquet(dir)
    Streaming.runToCompletion(
      Streaming.foreachBatchMerge(stream, b => if (!b.isEmpty) km2.update(b)))
    assert(giniRow(km2.gini()) == batchGini)
    // save after 2 batches, restore into a fresh monitor, finish
    val ckpt = java.nio.file.Files.createTempDirectory("kc_state").toString
    val km3 = new Streaming.KeyCountMonitor("user_id")
    (0 until 2).foreach(b => km3.update(ev.filter(col("event_id") % 5 === b)))
    km3.saveState(ckpt)
    val km4 = new Streaming.KeyCountMonitor("user_id")
    km4.restoreState(spark, ckpt)
    (2 until 5).foreach(b => km4.update(ev.filter(col("event_id") % 5 === b)))
    assert(skewMap(km4.skew(20)) == batchSkew)
  }

  test("benford monitor: additive digit counts make the audit batch-exact, survive restart") {
    val ev = spark.read.parquet(stagedDir)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(4))).toMap
    val batch = toMap(graft.functions.Stats.benfordAudit(ev, "value"))
    val bm = new Streaming.BenfordMonitor("value")
    (0 until 5).foreach(b => bm.update(ev.filter(col("event_id") % 5 === b)))
    assert(toMap(bm.audit) == batch)
    val ckpt = java.nio.file.Files.createTempDirectory("bf_state").toString
    val bm2 = new Streaming.BenfordMonitor("value")
    (0 until 2).foreach(b => bm2.update(ev.filter(col("event_id") % 5 === b)))
    bm2.saveState(ckpt)
    val bm3 = new Streaming.BenfordMonitor("value")
    bm3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => bm3.update(ev.filter(col("event_id") % 5 === b)))
    assert(toMap(bm3.audit) == batch)
  }

  test("psi monitor: additive bin counts read out the batch psiDrift, survive restart") {
    val ev = spark.read.parquet(stagedDir)
    val ref = ev.filter(col("event_type") === "click").select(col("value"))
    def strm(b: Int) = ev
      .filter(col("event_type") === "purchase" && col("event_id") % 5 === b)
      .select(col("value"))
    def row(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val batch = row(graft.functions.Stats.psiDrift(
      ref, ev.filter(col("event_type") === "purchase").select(col("value")),
      "value", width = 5.0))
    val pm = new Streaming.PsiMonitor(ref, "value", width = 5.0)
    (0 until 5).foreach(b => pm.update(strm(b)))
    assert(row(pm.drift) == batch)
    val ckpt = java.nio.file.Files.createTempDirectory("psi_state").toString
    val pm2 = new Streaming.PsiMonitor(ref, "value", width = 5.0)
    (0 until 2).foreach(b => pm2.update(strm(b)))
    pm2.saveState(ckpt)
    val pm3 = new Streaming.PsiMonitor(ref, "value", width = 5.0)
    pm3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => pm3.update(strm(b)))
    assert(row(pm3.drift) == batch)
  }

  test("welch monitor: additive moment state reads out the batch welchTTest, survives restart") {
    val ev = spark.read.parquet(stagedDir)
    val ref = ev.filter(col("event_type") === "click").select(col("value"))
    def strm(b: Int) = ev
      .filter(col("event_type") === "purchase" && col("event_id") % 5 === b)
      .select(col("value"))
    def row(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val batch = row(graft.functions.Stats.welchTTest(
      ref, ev.filter(col("event_type") === "purchase").select(col("value")), "value"))
    val wm = new Streaming.WelchMonitor(ref, "value")
    (0 until 5).foreach(b => wm.update(strm(b)))
    assert(row(wm.readout) == batch)
    val ckpt = java.nio.file.Files.createTempDirectory("welch_state").toString
    val wm2 = new Streaming.WelchMonitor(ref, "value")
    (0 until 2).foreach(b => wm2.update(strm(b)))
    wm2.saveState(ckpt)
    val wm3 = new Streaming.WelchMonitor(ref, "value")
    wm3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => wm3.update(strm(b)))
    assert(row(wm3.readout) == batch)
    // second readout off the same restored state: Cohen's d / Hedges' g
    assert(row(wm3.effectSize) == row(graft.functions.Stats.cohensD(
      ref, ev.filter(col("event_type") === "purchase").select(col("value")),
      "value")))
  }

  test("trend monitor: additive regression moments read out the batch trendTest, survives restart") {
    val ev = spark.read.parquet(stagedDir)
    val (x, y) = (dayofmonth(col("ts")), col("value"))
    def row(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val batch = row(graft.functions.Stats.trendTest(ev, x, y))
    val tm = new Streaming.TrendMonitor(x, y)
    (0 until 5).foreach(b => tm.update(ev.filter(col("event_id") % 5 === b)))
    assert(row(tm.readout) == batch)
    val ckpt = java.nio.file.Files.createTempDirectory("trend_state").toString
    val tm2 = new Streaming.TrendMonitor(x, y)
    (0 until 2).foreach(b => tm2.update(ev.filter(col("event_id") % 5 === b)))
    tm2.saveState(ckpt)
    val tm3 = new Streaming.TrendMonitor(x, y)
    tm3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => tm3.update(ev.filter(col("event_id") % 5 === b)))
    assert(row(tm3.readout) == batch)
  }

  test("anova monitor: group-additive moment table reads out the batch anovaF, survives restart") {
    val ev = spark.read.parquet(stagedDir)
    val (g, v) = (col("event_type"), col("value"))
    def row(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val batch = row(graft.functions.Stats.anovaF(ev, g, v))
    val am = new Streaming.AnovaMonitor(g, v)
    (0 until 5).foreach(b => am.update(ev.filter(col("event_id") % 5 === b)))
    assert(row(am.readout) == batch)
    val ckpt = java.nio.file.Files.createTempDirectory("anova_state").toString
    val am2 = new Streaming.AnovaMonitor(g, v)
    (0 until 2).foreach(b => am2.update(ev.filter(col("event_id") % 5 === b)))
    am2.saveState(ckpt)
    val am3 = new Streaming.AnovaMonitor(g, v)
    am3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => am3.update(ev.filter(col("event_id") % 5 === b)))
    assert(row(am3.readout) == batch)
    // second readout off the same restored state: the Tukey HSD table
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    assert(rows(am3.pairwise) ==
      rows(graft.functions.Stats.tukeyHsd(ev, g, v)))
  }

  test("kruskal monitor: pair-additive count table reads out the batch kruskalWallis, survives restart") {
    val ev = spark.read.parquet(stagedDir)
    val (g, v) = (col("event_type"), col("value"))
    def row(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val batch = row(graft.functions.Stats.kruskalWallis(ev, g, v))
    val km = new Streaming.KruskalMonitor(g, v)
    (0 until 5).foreach(b => km.update(ev.filter(col("event_id") % 5 === b)))
    assert(row(km.readout) == batch)
    // second readout off the same count state: Brown-Forsythe spread
    assert(row(km.spread) == row(graft.functions.Stats.leveneTest(ev, g, v)))
    // third readout off the same count state: exact quantiles
    val qs = Seq(0.25, 0.5, 0.9)
    assert(row(km.quantiles(qs)) ==
      row(graft.functions.Stats.exactQuantiles(ev, v, qs)))
    val ckpt = java.nio.file.Files.createTempDirectory("kw_state").toString
    val km2 = new Streaming.KruskalMonitor(g, v)
    (0 until 2).foreach(b => km2.update(ev.filter(col("event_id") % 5 === b)))
    km2.saveState(ckpt)
    val km3 = new Streaming.KruskalMonitor(g, v)
    km3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => km3.update(ev.filter(col("event_id") % 5 === b)))
    assert(row(km3.readout) == batch)
  }

  test("normality monitor: additive power sums read out the batch jarqueBera and grubbs, survives restart") {
    val ev = spark.read.parquet(stagedDir)
    val v = col("value")
    def row(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val batch = row(graft.functions.Stats.jarqueBera(ev, v))
    val nm = new Streaming.NormalityMonitor(v)
    (0 until 5).foreach(b => nm.update(ev.filter(col("event_id") % 5 === b)))
    assert(row(nm.readout) == batch)
    // second readout off the same moment state: Grubbs extremes
    assert(row(nm.extremes) == row(graft.functions.Stats.grubbsTest(ev, v)))
    val ckpt = java.nio.file.Files.createTempDirectory("norm_state").toString
    val nm2 = new Streaming.NormalityMonitor(v)
    (0 until 2).foreach(b => nm2.update(ev.filter(col("event_id") % 5 === b)))
    nm2.saveState(ckpt)
    val nm3 = new Streaming.NormalityMonitor(v)
    nm3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => nm3.update(ev.filter(col("event_id") % 5 === b)))
    assert(row(nm3.readout) == batch)
    assert(row(nm3.extremes) == row(graft.functions.Stats.grubbsTest(ev, v)))
  }

  test("proportion monitor: additive arm counts read out the batch twoProportionZ, survives restart") {
    val ev = spark.read.parquet(stagedDir)
    val armA = to_date(col("ts")) <= lit("2024-01-15").cast("date")
    val succ = col("event_type") === "purchase"
    def row(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val batch = row(graft.functions.Stats.twoProportionZ(
      ev.filter(armA), ev.filter(!armA), succ))
    val pm = new Streaming.ProportionMonitor(armA, succ)
    (0 until 5).foreach(b => pm.update(ev.filter(col("event_id") % 5 === b)))
    assert(row(pm.readout) == batch)
    val ckpt = java.nio.file.Files.createTempDirectory("prop_state").toString
    val pm2 = new Streaming.ProportionMonitor(armA, succ)
    (0 until 2).foreach(b => pm2.update(ev.filter(col("event_id") % 5 === b)))
    pm2.saveState(ckpt)
    val pm3 = new Streaming.ProportionMonitor(armA, succ)
    pm3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => pm3.update(ev.filter(col("event_id") % 5 === b)))
    assert(row(pm3.readout) == batch)
  }

  test("spearman monitor: pair-additive joint counts read out the batch spearman, survives restart") {
    val ev = spark.read.parquet(stagedDir)
    val (x, y) = (col("user_id") % 97, col("value"))
    def row(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val batch = row(graft.functions.Stats.spearman(ev, x, y))
    val batchTau = row(graft.functions.Stats.kendallTau(ev, x, y))
    val sm = new Streaming.SpearmanMonitor(x, y)
    (0 until 5).foreach(b => sm.update(ev.filter(col("event_id") % 5 === b)))
    assert(row(sm.readout) == batch)
    // the SAME accreted joint-count state reads out the batch Kendall tau
    assert(row(sm.kendall) == batchTau)
    val ckpt = java.nio.file.Files.createTempDirectory("spear_state").toString
    val sm2 = new Streaming.SpearmanMonitor(x, y)
    (0 until 2).foreach(b => sm2.update(ev.filter(col("event_id") % 5 === b)))
    sm2.saveState(ckpt)
    val sm3 = new Streaming.SpearmanMonitor(x, y)
    sm3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => sm3.update(ev.filter(col("event_id") % 5 === b)))
    assert(row(sm3.readout) == batch)
  }

  test("survival monitor: min/max span state reads out the batch Kaplan-Meier, survives restart") {
    val ev = spark.read.parquet(stagedDir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("t_days")).collect().map(_.toSeq).toSeq
    val batch = rows(graft.functions.Events.kaplanMeier(ev, "user_id", "ts"))
    val sm = new Streaming.SurvivalMonitor("user_id", "ts")
    (0 until 5).foreach(b => sm.update(ev.filter(col("event_id") % 5 === b)))
    assert(rows(sm.curve()) == batch)
    val ckpt = java.nio.file.Files.createTempDirectory("surv_state").toString
    val sm2 = new Streaming.SurvivalMonitor("user_id", "ts")
    (0 until 2).foreach(b => sm2.update(ev.filter(col("event_id") % 5 === b)))
    sm2.saveState(ckpt)
    val sm3 = new Streaming.SurvivalMonitor("user_id", "ts")
    sm3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => sm3.update(ev.filter(col("event_id") % 5 === b)))
    assert(rows(sm3.curve()) == batch)
  }

  test("gumbel monitor: constant k-row state selects the global top-k, survives restart") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        round(graft.functions.TextAnalysis.qualityScoreRaw(col("text"))
          .cast(org.apache.spark.sql.types.DecimalType(18, 8)), 4)
          .cast("double").as("q"))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("gumbel_key").desc, col("doc_id"))
        .collect().map(_.getLong(0)).toSeq
    val batch = ids(graft.functions.Sampling.gumbelTopK(
      docs, "doc_id", col("q"), k = 20, invTemp = 4.0, salt = "t"))
    def mk() = new Streaming.GumbelTopKMonitor("doc_id", "q", 20, 4.0, "t")
    val gm = mk()
    (0 until 5).foreach(b => gm.update(docs.filter(col("doc_id") % 5 === b)))
    assert(ids(gm.selected) == batch)
    assert(gm.selected.count() == 20, "state is exactly k rows")
    val ckpt = java.nio.file.Files.createTempDirectory("gum_state").toString
    val gm2 = mk()
    (0 until 2).foreach(b => gm2.update(docs.filter(col("doc_id") % 5 === b)))
    gm2.saveState(ckpt)
    val gm3 = mk()
    gm3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => gm3.update(docs.filter(col("doc_id") % 5 === b)))
    assert(ids(gm3.selected) == batch)
  }

  test("corr monitor: additive decimal moments make the matrix batch-exact, survive restart") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val batch = toMap(graft.functions.Stats.correlationMatrix(li, cols))
    val cm = new Streaming.CorrMonitor(cols)
    (0 until 5).foreach(b => cm.update(li.filter(col("l_orderkey") % 5 === b)))
    assert(toMap(cm.matrix) == batch)
    val ckpt = java.nio.file.Files.createTempDirectory("corr_state").toString
    val cm2 = new Streaming.CorrMonitor(cols)
    (0 until 2).foreach(b => cm2.update(li.filter(col("l_orderkey") % 5 === b)))
    cm2.saveState(ckpt)
    val cm3 = new Streaming.CorrMonitor(cols)
    cm3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => cm3.update(li.filter(col("l_orderkey") % 5 === b)))
    assert(toMap(cm3.matrix) == batch)
  }

  test("cov monitor: linear moment sketch makes the matrix batch-exact, survive restart") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val dims = 0 to 3
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val batch = toMap(graft.functions.Vectors.covarianceMatrix(emb, "embedding", dims))
    val cm = new Streaming.CovMonitor("embedding", dims)
    (0 until 5).foreach(b => cm.update(emb.filter(col("vec_id") % 5 === b)))
    assert(toMap(cm.matrix) == batch)
    val ckpt = java.nio.file.Files.createTempDirectory("cov_state").toString
    val cm2 = new Streaming.CovMonitor("embedding", dims)
    (0 until 2).foreach(b => cm2.update(emb.filter(col("vec_id") % 5 === b)))
    cm2.saveState(ckpt)
    val cm3 = new Streaming.CovMonitor("embedding", dims)
    cm3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => cm3.update(emb.filter(col("vec_id") % 5 === b)))
    assert(toMap(cm3.matrix) == batch)
  }

  test("bootstrap monitor: linear replicate moments read out the corpus CI, survive restart") {
    import graft.functions.Stats
    val o = spark.read.parquet(s"$sfDir/orders.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("rep")).collect().map(_.toSeq).toSeq
    val batch = rows(Stats.poissonBootstrap(o, "o_orderkey", "o_totalprice", 8))
    val bm = new Streaming.BootstrapMonitor("o_orderkey", "o_totalprice", 8)
    (0 until 5).foreach(b => bm.update(o.filter(col("o_orderkey") % 5 === b)))
    assert(rows(bm.readout) == batch)
    val ckpt = java.nio.file.Files.createTempDirectory("boot_state").toString
    val bm2 = new Streaming.BootstrapMonitor("o_orderkey", "o_totalprice", 8)
    (0 until 2).foreach(b => bm2.update(o.filter(col("o_orderkey") % 5 === b)))
    bm2.saveState(ckpt)
    val bm3 = new Streaming.BootstrapMonitor("o_orderkey", "o_totalprice", 8)
    bm3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => bm3.update(o.filter(col("o_orderkey") % 5 === b)))
    assert(rows(bm3.readout) == batch)
  }

  test("auc monitor: folded score counts read out the batch AUC, survive restart") {
    import graft.functions.{Stats, TextAnalysis}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val score = TextAnalysis.classifierMicroSum(col("text"), "clf-v1")
    val label = TextAnalysis.tokenCount(col("text")) >= 25
    def row(df: org.apache.spark.sql.DataFrame) = df.collect()(0).toSeq
    val batch = row(Stats.rocAuc(docs, score, label))
    val am = new Streaming.AucMonitor(score, label)
    (0 until 5).foreach(b => am.update(docs.filter(col("doc_id") % 5 === b)))
    assert(row(am.readout) == batch)
    val ckpt = java.nio.file.Files.createTempDirectory("auc_state").toString
    val am2 = new Streaming.AucMonitor(score, label)
    (0 until 2).foreach(b => am2.update(docs.filter(col("doc_id") % 5 === b)))
    am2.saveState(ckpt)
    val am3 = new Streaming.AucMonitor(score, label)
    am3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => am3.update(docs.filter(col("doc_id") % 5 === b)))
    assert(row(am3.readout) == batch)
    // the same state answers the operating-point question identically
    val cuts = Seq(-1000000.0, 0.0, 1000000.0)
    assert(am3.operatingPoints(cuts).collect().map(_.toSeq).toSeq ==
      Stats.prCurve(docs, score, label, cuts).collect().map(_.toSeq).toSeq)
    // ...and the calibration question (binning commutes with counting)
    def bins(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("bin")).collect().map(_.toSeq).toSeq
    assert(bins(am3.calibration(1000000.0)) ==
      bins(Stats.reliability(docs, score, label, 1000000.0)))
    // ...and the rank-significance question: rankTest equals the batch
    // mannWhitney with arm a = label-true rows
    val scored = docs.select(score.as("__sc"), label.as("__lb"))
    assert(row(am3.rankTest) == row(Stats.mannWhitney(
      scored.filter(col("__lb")).select(col("__sc").as("v")),
      scored.filter(!col("__lb")).select(col("__sc").as("v")), "v")))
    // ...and the dominance effect size: Cliff's delta off the same state
    assert(row(am3.dominance) == row(Stats.cliffsDelta(
      scored.filter(col("__lb")).select(col("__sc").as("v")),
      scored.filter(!col("__lb")).select(col("__sc").as("v")), "v")))
  }

  test("kappa monitor: folded confusion counts read out the batch kappa, survive restart") {
    import graft.functions.{Curation, TextAnalysis}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val fa = TextAnalysis.tokenCount(col("text")) >= 25
    val fb = col("n_chars") <= 500
    def row(df: org.apache.spark.sql.DataFrame) = df.collect()(0).toSeq
    val batch = row(Curation.raterAgreement(docs, fa, fb))
    val km = new Streaming.KappaMonitor(fa, fb)
    (0 until 5).foreach(b => km.update(docs.filter(col("doc_id") % 5 === b)))
    assert(row(km.readout) == batch)
    val ckpt = java.nio.file.Files.createTempDirectory("kappa_state").toString
    val km2 = new Streaming.KappaMonitor(fa, fb)
    (0 until 2).foreach(b => km2.update(docs.filter(col("doc_id") % 5 === b)))
    km2.saveState(ckpt)
    val km3 = new Streaming.KappaMonitor(fa, fb)
    km3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => km3.update(docs.filter(col("doc_id") % 5 === b)))
    assert(row(km3.readout) == batch)
    // second readout off the same restored state: McNemar asymmetry
    assert(row(km3.disagreement) == row(Curation.mcnemar(docs, fa, fb)))
  }

  test("cochran monitor: additive panel state reads out the batch Q, survives restart") {
    import graft.functions.{Curation, TextAnalysis}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val flags = Seq(TextAnalysis.tokenCount(col("text")) >= 25,
      col("n_chars") <= 500, col("lang") === "en")
    def row(df: org.apache.spark.sql.DataFrame) = df.collect()(0).toSeq
    val batch = row(Curation.cochranQ(docs, flags))
    val cm = new Streaming.CochranMonitor(flags)
    (0 until 5).foreach(b => cm.update(docs.filter(col("doc_id") % 5 === b)))
    assert(row(cm.readout) == batch)
    val ckpt = java.nio.file.Files.createTempDirectory("cochran_state").toString
    val cm2 = new Streaming.CochranMonitor(flags)
    (0 until 2).foreach(b => cm2.update(docs.filter(col("doc_id") % 5 === b)))
    cm2.saveState(ckpt)
    val cm3 = new Streaming.CochranMonitor(flags)
    cm3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => cm3.update(docs.filter(col("doc_id") % 5 === b)))
    assert(row(cm3.readout) == batch)
    // second readout off the same restored panel state: Fleiss' kappa
    assert(row(cm3.agreement) == row(Curation.fleissKappa(docs, flags)))
  }

  test("mixture monitor: folded masses read out the batch τ-sampling rates, survive restart") {
    import graft.functions.{Sampling, TextAnalysis}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val batch = toMap(Sampling.temperatureRates(
      org.apache.spark.sql.graftbridge.Bridge.freeze(
        docs.withColumn("__nt", TextAnalysis.tokenCount(col("text")).cast("long"))
          .groupBy(col("lang")).agg(sum(col("__nt")).as("__gt"))),
      "lang", 0.7, 0.5))
    val mm = new Streaming.MixtureMonitor("lang", TextAnalysis.tokenCount(col("text")))
    (0 until 5).foreach(b => mm.update(docs.filter(col("doc_id") % 5 === b)))
    assert(toMap(mm.rates(0.7, 0.5)) == batch)
    val ckpt = java.nio.file.Files.createTempDirectory("mix_state").toString
    val mm2 = new Streaming.MixtureMonitor("lang", TextAnalysis.tokenCount(col("text")))
    (0 until 2).foreach(b => mm2.update(docs.filter(col("doc_id") % 5 === b)))
    mm2.saveState(ckpt)
    val mm3 = new Streaming.MixtureMonitor("lang", TextAnalysis.tokenCount(col("text")))
    mm3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => mm3.update(docs.filter(col("doc_id") % 5 === b)))
    assert(toMap(mm3.rates(0.7, 0.5)) == batch)
  }

  test("mi monitor: additive joint counts make the readout batch-exact, survive restart") {
    val ev = table("events").select(col("event_type"), hour(col("ts")).as("hr"),
      col("event_id"))
    def row(df: org.apache.spark.sql.DataFrame) = df.collect()(0).toSeq
    val batch = row(graft.functions.Stats.mutualInformation(ev, "event_type", "hr"))
    val mm = new Streaming.MiMonitor("event_type", "hr")
    (0 until 5).foreach(b => mm.update(ev.filter(col("event_id") % 5 === b)))
    assert(row(mm.readout) == batch)
    val ckpt = java.nio.file.Files.createTempDirectory("mi_state").toString
    val mm2 = new Streaming.MiMonitor("event_type", "hr")
    (0 until 2).foreach(b => mm2.update(ev.filter(col("event_id") % 5 === b)))
    mm2.saveState(ckpt)
    val mm3 = new Streaming.MiMonitor("event_type", "hr")
    mm3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => mm3.update(ev.filter(col("event_id") % 5 === b)))
    assert(row(mm3.readout) == batch)
    // second readout of the same joint state: Cramér's V equals its batch twin
    assert(row(mm3.association) ==
      row(graft.functions.Stats.cramersV(ev, "event_type", "hr")))
    // third readout: Theil's directional Us equal their batch twin
    assert(row(mm3.uncertainty) ==
      row(graft.functions.Stats.theilU(ev, "event_type", "hr")))
  }

  test("linkage monitor: accreted links equal the batch link, survive restart") {
    val c = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    val incoming = c.filter(col("c_custkey") % 4 === 0)
      .select((col("c_custkey") + 1000000L).as("in_id"),
        when(col("c_custkey") % 8 === 0,
          concat(col("c_name").substr(lit(1), length(col("c_name")) - 1), lit("x")))
          .otherwise(col("c_name")).as("in_name"),
        col("c_nationkey").as("in_nation"))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val batch = toMap(graft.functions.Linkage.blockedLink(c, incoming,
      "c_custkey", "in_id", "c_name", "in_name",
      Seq("c_nationkey" -> "in_nation"), minSim = 0.9))
    assert(batch.nonEmpty)
    def mk() = new Streaming.LinkageMonitor(c, "c_custkey", "c_name",
      "in_id", "in_name", Seq("c_nationkey" -> "in_nation"), minSim = 0.9)
    val lm = mk()
    (0 until 5).foreach(b => lm.update(incoming.filter(col("in_id") % 5 === b)))
    assert(toMap(lm.matches) == batch)
    val ckpt = java.nio.file.Files.createTempDirectory("link_state").toString
    val lm2 = mk()
    (0 until 2).foreach(b => lm2.update(incoming.filter(col("in_id") % 5 === b)))
    lm2.saveState(ckpt)
    val lm3 = mk()
    lm3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => lm3.update(incoming.filter(col("in_id") % 5 === b)))
    assert(toMap(lm3.matches) == batch)
  }

  test("null-profile monitor: accreted counters equal the batch audit, survive restart") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 0, lit(null)).otherwise(col("lang")).as("lang"),
        when(col("doc_id") % 13 === 0, lit("")).otherwise(col("text")).as("text"),
        col("source"))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val batch = toMap(graft.functions.Stats.nullProfile(docs, Seq("lang", "text", "source")))
    assert(batch("lang")._2 > 0 && batch("text")._3 > 0, "doctored frame has signal")
    val npm = new Streaming.NullProfileMonitor(Seq("lang", "text", "source"))
    (0 until 5).foreach(b => npm.update(docs.filter(col("doc_id") % 5 === b)))
    assert(toMap(npm.profile) == batch)
    // save mid-stream, restore into a fresh monitor, finish
    val ckpt = java.nio.file.Files.createTempDirectory("np_state").toString
    val npm2 = new Streaming.NullProfileMonitor(Seq("lang", "text", "source"))
    (0 until 2).foreach(b => npm2.update(docs.filter(col("doc_id") % 5 === b)))
    npm2.saveState(ckpt)
    val npm3 = new Streaming.NullProfileMonitor(Seq("lang", "text", "source"))
    npm3.restoreState(spark, ckpt)
    (2 until 5).foreach(b => npm3.update(docs.filter(col("doc_id") % 5 === b)))
    assert(toMap(npm3.profile) == batch)
  }

  /** drive a checkpointed foreachBatch query over a parquet dir source to
    * completion — restarting with the same checkpointLocation replays ONLY
    * files the previous run did not commit (the production crash-recovery
    * contract the batch-twin parity tests don't cover)
    */
  private def runCheckpointed(srcDir: String, ckptDir: String,
                              schema: org.apache.spark.sql.types.StructType)(
                              merge: org.apache.spark.sql.DataFrame => Unit): Unit = {
    val stream = spark.readStream.schema(schema).parquet(srcDir)
    Streaming.runToCompletion(
      Streaming.foreachBatchMerge(stream, b => if (!b.isEmpty) merge(b))
        .option("checkpointLocation", ckptDir))
  }

  test("checkpoint-restart: cardinality monitor resumes, source skips committed batches") {
    import graft.functions.{Stats, TextAnalysis}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def toks(part: org.apache.spark.sql.DataFrame) = part
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val part1 = toks(docs.filter(col("doc_id") % 2 === 0))
    val part2 = toks(docs.filter(col("doc_id") % 2 =!= 0))
    val srcDir = java.nio.file.Files.createTempDirectory("card_ckpt_src").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("card_ckpt_log").toString
    val stateDir = java.nio.file.Files.createTempDirectory("card_ckpt_state").toString

    // run 1: ingest part 1, persisting monitor state after each batch
    part1.repartition(1).write.mode("append").parquet(srcDir)
    val cm1 = new Streaming.CardinalityMonitor("token", b = 8)
    runCheckpointed(srcDir, ckptDir, part1.schema) { b =>
      cm1.update(b); cm1.saveState(stateDir)
    }
    assert(Streaming.MonitorState.isComplete(stateDir))

    // "crash": cm1 is gone; new data lands while the driver is down
    part2.repartition(1).write.mode("append").parquet(srcDir)

    // run 2: a FRESH monitor restores state; the restarted query must feed
    // it only the uncommitted file (register max-merge is idempotent, so
    // replay wouldn't show in the registers — count the rows to prove it)
    val cm2 = new Streaming.CardinalityMonitor("token", b = 8)
    cm2.restoreState(spark, stateDir)
    var fedRows = 0L
    runCheckpointed(srcDir, ckptDir, part1.schema) { b =>
      fedRows += b.count(); cm2.update(b); cm2.saveState(stateDir)
    }
    assert(fedRows == part2.count(),
      s"restart must replay only the unseen batch, fed $fedRows rows")

    // resumed state == the uninterrupted one-pass sketch of everything
    val got = cm2.registers.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val full = Stats.hllRegisters(toks(docs), "token", b = 8).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == full)
  }

  test("checkpoint-restart: retention monitor resumes with batch parity") {
    val ev = spark.read.parquet(stagedDir)
    val part1 = ev.filter(col("user_id") % 2 === 0)
    val part2 = ev.filter(col("user_id") % 2 =!= 0)
    val srcDir = java.nio.file.Files.createTempDirectory("ret_ckpt_src").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("ret_ckpt_log").toString
    val stateDir = java.nio.file.Files.createTempDirectory("ret_ckpt_state").toString

    part1.repartition(1).write.mode("append").parquet(srcDir)
    val rm1 = new Streaming.RetentionMonitor("user_id", "ts")
    runCheckpointed(srcDir, ckptDir, ev.schema) { b =>
      rm1.update(b); rm1.saveState(stateDir)
    }

    part2.repartition(1).write.mode("append").parquet(srcDir)
    val rm2 = new Streaming.RetentionMonitor("user_id", "ts")
    rm2.restoreState(spark, stateDir)
    var fedRows = 0L
    runCheckpointed(srcDir, ckptDir, ev.schema) { b =>
      fedRows += b.count(); rm2.update(b); rm2.saveState(stateDir)
    }
    assert(fedRows == part2.count(),
      s"restart must replay only the unseen batch, fed $fedRows rows")

    val got = rm2.retention.collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getLong(2)).toMap
    val full = graft.functions.Events.retention(ev, "user_id", "ts")
      .collect().map(r => (r.getDate(0).toString, r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == full)
  }

  test("checkpoint-restart: minhash index dedup resumes; replay would self-match") {
    // NOT idempotent under replay: a re-fed document would match itself in
    // the index — so state parity here proves both the restore AND that the
    // committed batch never replayed
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 300).select(col("doc_id"), col("text"))
    val part1 = docs.filter(col("doc_id") < 150)
    val part2 = docs.filter(col("doc_id") >= 150)
    val srcDir = java.nio.file.Files.createTempDirectory("mhd_ckpt_src").toString
    val ckptDir = java.nio.file.Files.createTempDirectory("mhd_ckpt_log").toString
    val stateDir = java.nio.file.Files.createTempDirectory("mhd_ckpt_state").toString

    part1.repartition(1).write.mode("append").parquet(srcDir)
    val dd1 = new Streaming.MinHashIndexDedup("doc_id", "text")
    runCheckpointed(srcDir, ckptDir, docs.schema) { b =>
      dd1.update(b); dd1.saveState(stateDir)
    }

    part2.repartition(1).write.mode("append").parquet(srcDir)
    val dd2 = new Streaming.MinHashIndexDedup("doc_id", "text")
    dd2.restoreState(spark, stateDir)
    runCheckpointed(srcDir, ckptDir, docs.schema) { b =>
      dd2.update(b); dd2.saveState(stateDir)
    }

    // uninterrupted twin: same two batch boundaries, no crash
    val ddRef = new Streaming.MinHashIndexDedup("doc_id", "text")
    ddRef.update(part1)
    ddRef.update(part2)
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs(dd2.matches) == pairs(ddRef.matches))
    // a restored-state restart must also keep serving from the latest save
    val dd3 = new Streaming.MinHashIndexDedup("doc_id", "text")
    dd3.restoreState(spark, stateDir)
    assert(pairs(dd3.matches) == pairs(ddRef.matches))
  }

  test("restore then save into the same dir keeps every monitor's checkpoint intact") {
    // a restored monitor that saves before its next update overwrites the
    // very checkpoint files it restored from; the save must not destroy
    // them, for one-run and LSM-shaped states alike
    val ev = spark.read.parquet(stagedDir)
    val probe = ev.select(col("user_id")).distinct().limit(20)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    // (update, save, restore, readout) of a fresh monitor
    type M = (org.apache.spark.sql.DataFrame => Unit, String => Unit, String => Unit,
      () => org.apache.spark.sql.DataFrame)
    val monitors: Seq[(String, () => M)] = Seq(
      "quantile" -> { () => val m = new Streaming.QuantileMonitor("value", width = 10.0)
        (m.update, m.saveState, m.restoreState(spark, _), () => m.quantiles(Seq(0.5, 0.9))) },
      "cardinality" -> { () => val m = new Streaming.CardinalityMonitor("user_id", b = 8)
        (m.update, m.saveState, m.restoreState(spark, _), () => m.estimate) },
      "cms" -> { () => val m = new Streaming.CmsMonitor("user_id")
        (m.update, m.saveState, m.restoreState(spark, _), () => m.estimate(probe, "user_id")) },
      "volume" -> { () => val m = new Streaming.VolumeMonitor("event_type", "ts")
        (m.update, m.saveState, m.restoreState(spark, _), () => m.anomalies()) },
      "transition" -> { () => val m = new Streaming.TransitionMonitor()
        (m.update, m.saveState, m.restoreState(spark, _), () => m.matrix) },
      "lateness" -> { () => val m = new Streaming.LatenessMonitor()
        (m.update, m.saveState, m.restoreState(spark, _), () => m.lateCounts) },
      "keycount" -> { () => val m = new Streaming.KeyCountMonitor("user_id")
        (m.update, m.saveState, m.restoreState(spark, _), () => m.gini()) },
      "kruskal" -> { () => val m = new Streaming.KruskalMonitor(col("event_type"), col("value"))
        (m.update, m.saveState, m.restoreState(spark, _), () => m.readout) },
      "retention" -> { () => val m = new Streaming.RetentionMonitor("user_id", "ts")
        (m.update, m.saveState, m.restoreState(spark, _), () => m.retention) })
    val failures = monitors.flatMap { case (name, fresh) =>
      scala.util.Try {
        val dir = java.nio.file.Files.createTempDirectory(s"resave_$name").toString
        val (update, save, _, readout) = fresh()
        (0 until 3).foreach(b => update(ev.filter(col("event_id") % 3 === b)))
        save(dir)
        val live = rows(readout())
        // restore, then save into the same dir with no update in between
        val (_, save2, restore2, readout2) = fresh()
        restore2(dir)
        save2(dir)
        assert(rows(readout2()) == live, s"$name: re-saved monitor drifted")
        // the re-saved checkpoint restores to the live readout
        val (_, _, restore3, readout3) = fresh()
        restore3(dir)
        assert(rows(readout3()) == live, s"$name: re-saved checkpoint drifted")
      }.failed.toOption.map(e => s"$name: ${e.getMessage.take(200)}")
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("streaming cardinality monitor equals the one-pass corpus sketch") {
    import graft.functions.{Stats, TextAnalysis}
    val toks = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(explode(TextAnalysis.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val dir = java.nio.file.Files.createTempDirectory("card_stream").toString
    toks.repartition(4).write.mode("overwrite").parquet(dir)

    val cm = new Streaming.CardinalityMonitor("token", b = 8)
    val stream = spark.readStream.schema(toks.schema).parquet(dir)
    Streaming.runToCompletion(
      Streaming.foreachBatchMerge(stream,
        batch => if (!batch.isEmpty) cm.update(batch)))

    // mergeability: accreted registers == the single-pass sketch, register
    // by register — so the estimate is bit-identical too
    val streamedRegs = cm.registers.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val batchRegs = Stats.hllRegisters(toks, "token", b = 8).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(streamedRegs == batchRegs)
    assert(cm.estimate.head() == Stats.hllEstimate(
      Stats.hllRegisters(toks, "token", b = 8), b = 8).head())
  }
}
