package graft

import org.apache.spark.sql.functions._
import graft.tables._

/** Scale-behavior contracts: these assert the PLAN SHAPE the engine must
  * keep at 100 TB, not just small-data results.
  */
class ScaleSpec extends SparkSpec {

  test("size-aware policy: large dimension takes a shuffle join, small one broadcasts") {
    val big = spark.range(0, 4000000).select(
      col("id").as("k"), concat(lit("member_"), col("id")).as("name"),
      repeat(lit("x"), 64).as("pad"))
    val dim = new Dimension("bigdim", "k", Seq("name", "pad"), Seq("name"),
      autoCheckpoint = false)
    dim.init(big)
    val probe = spark.range(0, 100).select(concat(lit("member_"), col("id")).as("name"))
    val bigPlan = dim.lookup(probe).queryExecution.executedPlan.toString
    assert(!bigPlan.contains("BroadcastHashJoin"),
      "an unbounded dimension side must not be broadcast")
    assert(bigPlan.contains("SortMergeJoin") || bigPlan.contains("ShuffledHashJoin"))

    val sdim = new Dimension("smalldim", "k", Seq("name", "pad"), Seq("name"))
    sdim.init(spark.range(0, 50).select(col("id").as("k"),
      concat(lit("member_"), col("id")).as("name"), lit("p").as("pad")))
    val smallPlan = sdim.lookup(probe).queryExecution.executedPlan.toString
    assert(smallPlan.contains("BroadcastHashJoin"))
  }

  test("distributed dense assigner: keys dense, deterministic, no global window") {
    val d = new Dimension("d", "key", Seq("name"), Seq("name"))
    d.init(spark.range(0).select(col("id").as("key"), lit("").as("name")).limit(0))
    val in = spark.range(0, 5000)
      .select(concat(lit("n"), format_string("%05d", col("id"))).as("name"))
    d.ensure(in)
    val keys = d.current.orderBy("name").select("key").collect().map(_.getLong(0)).toSeq
    assert(keys == (1L to 5000L), "keys must be maxExisting + rank in lookupatt order")
    // second batch continues densely above the first
    d.ensure(spark.range(5000, 6000)
      .select(concat(lit("n"), format_string("%05d", col("id"))).as("name")))
    val keys2 = d.current.orderBy("name").select("key").collect().map(_.getLong(0)).toSeq
    assert(keys2 == (1L to 6000L))
    // no WindowExec anywhere in the assignment path
    assert(!d.current.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("distributed dense assigner: huge-delta range path yields the same dense keys") {
    // force the parallel repartitionByRange path (the 100 TB branch) with a
    // tiny single-partition gate; keys must still equal the global rank
    val d = new Dimension("dr", "key", Seq("name"), Seq("name"),
      keyAssigner = new DistributedDenseAssigner(smallDeltaRows = 100))
    d.init(spark.range(0).select(col("id").as("key"), lit("").as("name")).limit(0))
    val in = spark.range(0, 5000)
      .select(concat(lit("n"), format_string("%05d", col("id"))).as("name"))
    d.ensure(in)
    val keys = d.current.orderBy("name").select("key").collect().map(_.getLong(0)).toSeq
    assert(keys == (1L to 5000L), "range path must equal global rank in lookupatt order")
    // deterministic on re-evaluation (frozen sorted layout)
    val keys2 = d.current.orderBy("name").select("key").collect().map(_.getLong(0)).toSeq
    assert(keys2 == keys)
    // a second huge batch continues densely above the first
    d.ensure(spark.range(5000, 5200)
      .select(concat(lit("n"), format_string("%05d", col("id"))).as("name")))
    assert(d.current.count() == 5200)
    assert(d.current.select("key").distinct().count() == 5200)
    assert(!d.current.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("huge-delta path with caller-owned persistence still yields consistent dense keys") {
    // materialize=false (autoCheckpoint off): counts and keys must derive
    // from the SAME shuffle execution — a re-run range shuffle re-samples
    // bounds, so offsets from another execution would duplicate/gap keys
    val d = new Dimension("drf", "key", Seq("name"), Seq("name"),
      keyAssigner = new DistributedDenseAssigner(smallDeltaRows = 100),
      autoCheckpoint = false)
    d.init(spark.range(0).select(col("id").as("key"), lit("").as("name")).limit(0))
    d.ensure(spark.range(0, 3000)
      .select(concat(lit("n"), format_string("%05d", col("id"))).as("name")))
    val keys = d.current.orderBy("name").select("key").collect().map(_.getLong(0)).toSeq
    assert(keys == (1L to 3000L), "keys must be dense global ranks with no duplicates/gaps")
  }

  test("checkpointed state: K scdensure batches keep a flat plan (no lineage growth)") {
    import org.apache.spark.sql.types.TimestampType
    val scd = new ScdDimension("users", "user_key",
      Seq("user_id", "status", "version", "vfrom", "vto"), Seq("user_id"),
      "version", "vfrom", "vto", maxTo = lit(null).cast(TimestampType))
    scd.init(spark.range(0).select(col("id").as("user_key"),
      lit("u").as("user_id"), lit("s").as("status"), lit(1).as("version"),
      current_timestamp().as("vfrom"), current_timestamp().as("vto")).limit(0))
    def planSize = scd.current.queryExecution.optimizedPlan.collect { case p => p }.size
    var sizes = Vector.empty[Int]
    (1 to 10).foreach { b =>
      val batch = spark.range(0, 200).select(
        concat(lit("u"), col("id") % 50).as("user_id"),
        concat(lit("s"), lit(b)).as("status"),
        (lit(b * 1000000L) + col("id")).cast("timestamp").as("ts"))
      scd.scdensure(batch, col("ts"))
      sizes :+= planSize
    }
    // the rewrite path re-materializes: plan node count must not grow with K
    assert(sizes.distinct.size == 1,
      s"state plan must stay flat across batches, got $sizes")
    // correctness across the 10 batches: each member has 10 versions
    val counts = scd.current.groupBy("user_id").count().select("count")
      .distinct().collect().map(_.getLong(0)).toSeq
    assert(counts == Seq(10L))
    // keys unique across all batches
    assert(scd.current.select("user_key").distinct().count() == scd.current.count())
  }

  test("streaming monitors: K batches keep bounded state plans (eager or LSM)") {
    val rm = new graft.streaming.Streaming.RetentionMonitor("user_id", "ts")
    val vm = new graft.streaming.Streaming.VolumeMonitor("event_type", "ts")
    def sizeOf(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p => p }.size
    // live DeltaState runs = distinct frozen RDDs among the readout's
    // leaves (the cohort self-join reads the activity state twice)
    def runsOf(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.distinct.size
    var rSizes, rRuns, vSizes = Vector.empty[Int]
    (1 to 10).foreach { b =>
      val batch = spark.range(0, 100).select(
        (col("id") % 20).as("user_id"),
        concat(lit("t"), col("id") % 3).as("event_type"),
        timestamp_micros(lit(b.toLong * 86400000000L) + col("id") * 1000L).as("ts"))
      rm.update(batch)
      vm.update(batch)
      rSizes :+= sizeOf(rm.retention)
      rRuns :+= runsOf(rm.retention)
      vSizes :+= sizeOf(vm.anomalies())
    }
    // VolumeMonitor folds eagerly per batch: flat plan forever
    assert(vSizes.distinct.size == 1,
      s"anomaly readout must stay flat across batches, got $vSizes")
    // RetentionMonitor is LSM-shaped (DeltaState, maxDeltas = 8): a batch
    // adds one run, and runs merge only once their count passes
    // maxDeltas, so after batch b there are min(b, 8) live runs and the
    // readout plan stops growing at the delta window, never tracking
    // history. The readout plan size must be a pure function of the live
    // run count — any history-proportional growth breaks this
    assert(rRuns == (1 to 10).map(_ min 8),
      s"live runs must be min(batches, maxDeltas), got $rRuns")
    val byRuns = rRuns.zip(rSizes).groupBy(_._1)
      .map { case (r, xs) => r -> xs.map(_._2).distinct }
    assert(byRuns.values.forall(_.size == 1),
      s"plan size must be a function of live-run count, got $rSizes for runs $rRuns")
    // more live runs → strictly wider (but still window-bounded) plan
    val ordered = byRuns.toSeq.sortBy(_._1).map(_._2.head)
    assert(ordered == ordered.sorted && ordered.distinct == ordered,
      s"plan width must grow only with live runs, got $rSizes for runs $rRuns")
    // and the accreted state is correct: 10 days of 20 users / 3 types
    assert(rm.retention.agg(sum("active_users")).head().getLong(0) == 10 * 20)
    assert(vm.anomalies().count() == 10 * 3)
  }

  test("fact tables: 10 sequential merges keep a flat plan; ensure deltas are materialized leaves") {
    import spark.implicits._
    val fact = new AccumulatingSnapshotFactTable("accf", Seq("k"), Seq("r"), Seq("m"))
    fact.init(Seq.empty[(Long, Long, Double)].toDF("k", "r", "m"))
    def planSize = fact.current.queryExecution.optimizedPlan.collect { case p => p }.size
    var sizes = Vector.empty[Int]
    (1 to 10).foreach { b =>
      fact.merge(spark.range(0, 500).select(col("id").as("k"),
        lit(b.toLong).as("r"), (col("id") * b).cast("double").as("m")))
      sizes :+= planSize
    }
    // the merge rewrite re-materializes: each batch costs O(state), not O(history)
    assert(sizes.distinct.size == 1, s"merged state plan must stay flat across batches, got $sizes")
    assert(fact.current.count() == 500)
    val last = fact.current.filter(col("k") === 7L).head()
    assert(last.getLong(1) == 10L && last.getDouble(2) == 70.0, "last merge wins")

    val f2 = new FactTable("ff", Seq("k"), Seq("m"))
    f2.init(Seq.empty[(Long, Double)].toDF("k", "m"))
    (1 to 8).foreach { b =>
      f2.ensure(spark.range(b * 100, b * 100 + 50).select(col("id").as("k"), lit(1.0).as("m")))
    }
    val leaves = f2.current.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size <= 9, s"expected materialized union leaves, got ${leaves.size}")
    assert(f2.current.count() == 400)
  }

  test("append-only ensure: delta checkpoint keeps plan growth linear and bounded") {
    val d = new Dimension("inc", "key", Seq("name"), Seq("name"))
    d.init(spark.range(0).select(col("id").as("key"), lit("").as("name")).limit(0))
    (1 to 8).foreach { b =>
      d.ensure(spark.range(b * 1000, b * 1000 + 100)
        .select(concat(lit("m"), col("id")).as("name")))
    }
    // each delta is a materialized leaf: the union tree has 8 scan leaves, no
    // nested window/join/zip lineage
    val leaves = d.current.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size <= 9, s"expected materialized union leaves, got ${leaves.size}")
    assert(d.current.count() == 800)
  }

  test("bloom semi join: equals the exact semi join, bloom actually prunes") {
    import graft.core.Joins
    val big = spark.range(0, 20000).toDF("k")
    val small = spark.range(0, 20000).filter(col("id") % 100 === 0).toDF("sk")
    val out = Joins.bloomSemiJoin(big, small, "k", "sk",
      expectedItems = 1000, fpp = 0.01)
    val exact = big.join(small, col("k") === col("sk"), "left_semi")
    assert(out.select("k").collect().map(_.getLong(0)).toSet
      == exact.select("k").collect().map(_.getLong(0)).toSet,
      "bloom pre-pruning must never change the semi-join result")
    // the bloom predicate alone keeps matches + <= ~fpp false positives:
    // far fewer than the 20000-row big side reaching the join otherwise
    val survivors = big.filter(org.apache.spark.sql.graftbridge.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          small.agg(org.apache.spark.sql.graftbridge.Bridge.column(
            new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
              org.apache.spark.sql.graftbridge.Bridge.expression(xxhash64(col("sk"))),
              org.apache.spark.sql.catalyst.expressions.Literal(1000L),
              org.apache.spark.sql.catalyst.expressions.Literal(16384L))
              .toAggregateExpression()).as("b")).head.getAs[Array[Byte]](0),
          org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.graftbridge.Bridge.expression(xxhash64(col("k")))))).count()
    assert(survivors < 2000,
      s"bloom must prune the big side hard (200 true + fp), got $survivors")
    // anti-join passthrough stays exact
    val anti = Joins.bloomSemiJoin(big, small, "k", "sk", how = "left_anti")
    assert(anti.count() == 20000 - 200)
  }

  test("interval join: equals the naive range join, plans a hash join, whale guard raises") {
    import spark.implicits._
    import graft.core.Joins
    // 50k points, 200 misaligned intervals (width 7.3 vs bucket width 5)
    val pts = spark.range(0, 50000)
      .select(col("id").as("pid"), (col("id") % 997 * 0.5).as("p"))
    val iv = spark.range(0, 200)
      .select(col("id").as("iid"), (col("id") * 2.4).as("lo"),
        (col("id") * 2.4 + 7.3).as("hi"))
    val out = Joins.intervalJoin(pts, "p", iv, "lo", "hi", width = 5.0)
    val naive = pts.join(iv, col("p") >= col("lo") && col("p") < col("hi"))
    def key(df: org.apache.spark.sql.DataFrame) = df.select("pid", "iid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(key(out) == key(naive), "bucket decomposition must be exact")
    assert(key(out).nonEmpty)
    // the whole point: the executed plan is a shuffled/broadcast HASH join
    // on the bucket key, not the nested-loop the naive predicate plans
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"interval join must stay hash-joined:\n${plan.take(1500)}")
    assert(naive.queryExecution.executedPlan.toString.contains("BroadcastNestedLoop"),
      "control: the naive predicate really does plan a BNLJ")
    // a whale interval trips the explode guard instead of materializing it
    val whale = Seq((1L, 0.0, 1e9)).toDF("iid", "lo", "hi")
    val err = intercept[Exception] {
      Joins.intervalJoin(pts, "p", whale, "lo", "hi", width = 5.0).count()
    }
    assert(err.getMessage.contains("buckets"), s"guard must name the fix: ${err.getMessage}")
  }

  test("overlap join: equals the naive overlap join exactly once, plans a hash join") {
    import graft.core.Joins
    // misaligned spans on both sides (7.3 and 11.9 vs bucket width 5), many
    // multi-bucket intersections — the exactly-once responsibility rule is
    // what's under test (a per-shared-bucket emit would duplicate pairs)
    val a = spark.range(0, 2000)
      .select(col("id").as("aid"), (col("id") * 2.4).as("alo"),
        (col("id") * 2.4 + 7.3).as("ahi"))
    val b = spark.range(0, 1200)
      .select(col("id").as("bid"), (col("id") * 3.7).as("blo"),
        (col("id") * 3.7 + 11.9).as("bhi"))
    val out = Joins.overlapJoin(a, "alo", "ahi", b, "blo", "bhi", width = 5.0)
    val naive = a.join(b, col("alo") < col("bhi") && col("blo") < col("ahi"))
    def pairs(df: org.apache.spark.sql.DataFrame) = df.select("aid", "bid")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val got = pairs(out)
    assert(got.toSet == pairs(naive).toSet, "bucket decomposition must be exact")
    assert(got.length == got.toSet.size, "responsibility rule must emit each pair once")
    assert(got.nonEmpty)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"overlap join must stay hash-joined:\n${plan.take(1500)}")
    assert(naive.queryExecution.executedPlan.toString.contains("BroadcastNestedLoop"),
      "control: the naive overlap predicate really does plan a BNLJ")
    // integral keyed case: per-user long spans, exact integer bucketing
    val ka = spark.range(0, 3000).select((col("id") % 7).as("u"),
      col("id").as("aid"), (col("id") * 13L % 1000L).as("alo"),
      (col("id") * 13L % 1000L + 37L).as("ahi"))
    val kb = spark.range(0, 3000).select((col("id") % 7).as("u"),
      col("id").as("bid"), (col("id") * 29L % 1000L).as("blo"),
      (col("id") * 29L % 1000L + 23L).as("bhi"))
    val kout = Joins.overlapJoin(ka, "alo", "ahi", kb, "blo", "bhi",
      width = 50.0, keys = Seq("u"))
    val knaive = ka.join(kb.withColumnRenamed("u", "u2"),
      col("u") === col("u2") && col("alo") < col("bhi") && col("blo") < col("ahi"))
    val kpairs = kout.select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(kpairs.toSet == knaive.select("aid", "bid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(kpairs.length == kpairs.toSet.size)
    // whale guard raises instead of materializing the explode
    import spark.implicits._
    val whale = Seq((1L, 0.0, 1e9)).toDF("bid", "blo", "bhi")
    val err = intercept[Exception] {
      Joins.overlapJoin(a, "alo", "ahi", whale, "blo", "bhi", width = 5.0).count()
    }
    assert(err.getMessage.contains("buckets"))
  }

  test("bandJoin: equals the naive band join exactly once, plans a hash join") {
    import graft.core.Joins
    // misaligned value grids so band edges fall inside buckets; a shared
    // key column exercises the equi-key path
    val a = spark.range(0, 3000)
      .select(col("id").as("aid"), (col("id") % 7).as("ak"),
        (col("id") % 611 * 0.37).as("av"))
    val b = spark.range(0, 3000)
      .select(col("id").as("bid"), (col("id") % 7).as("bk"),
        (col("id") % 733 * 0.29).as("bv"))
    val out = Joins.bandJoin(a, "av", b, "bv", tol = 0.5, keys = Seq("ak" -> "bk"))
    val naive = a.join(b, col("ak") === col("bk")
      && abs(col("av") - col("bv")) <= 0.5)
    def key(df: org.apache.spark.sql.DataFrame) = df.select("aid", "bid")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val (ko, kn) = (key(out), key(naive))
    assert(ko == kn, s"band decomposition must be exact once: ${ko.size} vs ${kn.size}")
    assert(ko.nonEmpty && ko.size == ko.distinct.size, "no pair may emit twice")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"band join must stay hash-joined:\n${plan.take(1500)}")
    // integral axis + whole tol takes the exact-integer bucket path
    val ai = spark.range(0, 2000).select(col("id").as("aid"), (col("id") % 97).as("av"))
    val bi = spark.range(0, 2000).select(col("id").as("bid"), (col("id") % 89).as("bv"))
    val oi = Joins.bandJoin(ai, "av", bi, "bv", tol = 2.0)
    val ni = ai.join(bi, abs(col("av") - col("bv")) <= 2)
    assert(oi.count() == ni.count())
    // control on the KEY-LESS naive band (with an equi key present Spark
    // extracts it and hash-joins; only the pure band predicate is a BNLJ)
    assert(ni.queryExecution.executedPlan.toString.contains("BroadcastNestedLoop"),
      "control: the key-less band predicate really does plan a BNLJ")
    // the natural call: BOTH sides carry the same column name (price vs
    // price) — side-qualified band references must not be ambiguous
    val ap = spark.range(0, 500).select(col("id").as("aid"), (col("id") % 97).as("price"))
    val bp = spark.range(0, 500).select(col("id").as("bid"), (col("id") % 89).as("price"))
    val op = Joins.bandJoin(ap, "price", bp, "price", tol = 1.0)
    val np = ap.join(bp.withColumnRenamed("price", "price2"),
      abs(col("price") - col("price2")) <= 1)
    assert(op.count() == np.count(), "same-named band columns must work")
  }

  test("Scans.cumulative: equals the single-partition window, zero unpartitioned windows") {
    import graft.core.Scans
    import org.apache.spark.sql.expressions.Window
    // 37 coprime to the prime 1009 → k injective over id < 1009
    val df = spark.range(0, 1000)
      .select((col("id") * 37 % 1009).as("k"),
        (col("id") % 13).as("a"), (col("id") % 7).as("b"))
    val out = Scans.cumulative(df, "k", Seq("a", "b"), numPartitions = 7)
    val w = Window.orderBy(col("k")).rowsBetween(Window.unboundedPreceding, 0)
    val ref = df.select(col("k"), sum(col("a")).over(w).as("ca"),
      sum(col("b")).over(w).as("cb"))
    def rows(d: org.apache.spark.sql.DataFrame, c1: String, c2: String) =
      d.select(col("k"), col(c1), col(c2)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(rows(out, "cum_a", "cum_b") == rows(ref, "ca", "cb"),
      "two-pass scan must be bit-identical to the single-partition window")
    // the optimized plan must have NO window without a partition spec
    // (logical collect traverses fully — AQE can't hide nodes here)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val bad = out.queryExecution.optimizedPlan.collect {
      case wn: LWindow if wn.partitionSpec.isEmpty => wn
    }
    assert(bad.isEmpty, "scan must never plan an unpartitioned window")
    // empty frame passes through
    assert(Scans.cumulative(df.filter(lit(false)), "k", Seq("a")).count() == 0L)
  }

  test("Scans.cumulative: stable across repeated evaluations (key-derived buckets, not partition ids)") {
    import graft.core.Scans
    // regression: the frame feeds both the totals table and the final join;
    // with spark_partition_id() over repartitionByRange the two physical
    // evaluations could sample DIFFERENT range boundaries and corrupt the
    // offsets (observed as a nondeterministic Mann-Whitney U at 4 shuffle
    // partitions). Key-derived buckets must make every run identical.
    val df = spark.range(0, 2000)
      .select((col("id") * 29 % 4001).cast("double").as("k"),
        (col("id") % 11).as("a"))
    def total(parts: Int) = Scans.cumulative(df, "k", Seq("a"), parts)
      .agg(sum(col("cum_a"))).collect()(0).getLong(0)
    val expected = total(1)
    for (parts <- Seq(2, 3, 4, 7); _ <- 1 to 3)
      assert(total(parts) == expected, s"unstable at $parts partitions")
  }

  test("nearestJoin: equals the naive nearest within radius, bucket edges exact") {
    import spark.implicits._
    import graft.core.Joins
    val probes = Seq((1L, 100L), (2L, 995L), (3L, 2000L), (4L, 5000L))
      .toDF("pid", "px")
    // targets: 1005 is in the NEXT bucket of probe 995 (w=10) but within
    // radius; 1990/2010 tie around probe 2000 -> smaller id wins; nothing
    // within radius of 5000
    val targets = Seq((10L, 95L), (11L, 1005L), (12L, 1990L), (13L, 2010L))
      .toDF("tid", "tx")
    val out = Joins.nearestJoin(probes, "px", "pid", targets, "tx", "tid",
        maxDistance = 10L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out == Map(1L -> (10L, 5L), 2L -> (11L, 10L), 3L -> (12L, 10L)),
      s"got $out")

    // and against the naive solve on the corpus-shaped case
    val ev = table("events")
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("pid"), unix_micros(col("ts")).as("px"))
    val t = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("tid"), unix_micros(col("ts")).as("tx"))
    val fast = Joins.nearestJoin(c, "px", "pid", t, "tx", "tid",
        maxDistance = 3600000000L, keys = Seq("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val naiveW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("pid"))
      .orderBy(abs(col("px") - col("tx")), col("tid"))
    val naive = c.join(t.withColumnRenamed("user_id", "u2"), col("user_id") === col("u2"))
      .filter(abs(col("px") - col("tx")) <= 3600000000L)
      .withColumn("rn", row_number().over(naiveW)).filter(col("rn") === 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(4), math.abs(r.getLong(2) - r.getLong(5)))).toMap
    assert(fast == naive)
  }

  test("asofJoin: inclusive same-instant quote, tie to largest id, tolerance voids stale") {
    import spark.implicits._
    import graft.core.Joins
    def ts(t: Long) = t * 1000000L
    val quotes = Seq(
      (1L, 10L, 100L, 1.0), (1L, 20L, 101L, 2.0), // user 1: quotes at t10, t20
      (1L, 20L, 102L, 3.0),                       // same-instant duplicate: id 102 wins
      (2L, 50L, 103L, 4.0)                        // user 2: one old quote
    ).toDF("user_id", "t", "qid", "qv")
      .withColumn("ts", timestamp_micros(col("t") * 1000000L)).drop("t")
    val probes = Seq(
      (1L, 5L, 200L),    // before any quote -> nulls
      (1L, 20L, 201L),   // same instant as quotes 101/102 -> 102 (inclusive, max id)
      (1L, 25L, 202L),   // after both -> 102
      (2L, 100L, 203L),  // 50s stale > 30s tolerance -> voided
      (2L, 60L, 204L)    // 10s stale -> quote 103
    ).toDF("user_id", "t", "pid")
      .withColumn("ts", timestamp_micros(col("t") * 1000000L)).drop("t")
    val out = Joins.asofJoin(probes, "pid", quotes, "qid", "user_id", "ts",
        Seq("qid", "qv"), toleranceSeconds = Some(30L))
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(3)).map(_.asInstanceOf[Long]), Option(r.get(4)))).toMap
    assert(out(200L) == ((None, None)), "no preceding quote must read null")
    assert(out(201L)._1.contains(102L), "same-instant quote visible, largest id wins")
    assert(out(202L)._1.contains(102L))
    assert(out(203L) == ((None, None)), "stale beyond tolerance must void")
    assert(out(204L)._1.contains(103L))
    assert(out.size == 5, "every probe row survives (left semantics)")

    // corpus-shaped equivalence vs the naive per-pair argmax
    val ev = table("events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val q = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    val fast = Joins.asofJoin(p, "event_id", q, "click_id", "user_id", "ts",
        Seq("click_id"))
      .collect().map(r => r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    val naive = p.join(q.withColumnRenamed("user_id", "u2")
          .withColumnRenamed("ts", "qts"), col("user_id") === col("u2") &&
          col("qts") <= col("ts"), "left")
      .groupBy(col("event_id"))
      .agg(max(struct(col("qts"), col("click_id"))).as("best"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getStruct(1)).flatMap(s => Option(s.get(1)).map(_.asInstanceOf[Long]))).toMap
    assert(fast == naive)
  }

  test("star CC: a diameter-100 path converges in O(log d) rounds, labels exact") {
    import spark.implicits._
    import graft.functions.Dedup
    // path graph 0-1-2-…-100: diameter 100. Min-label propagation needs
    // ~100 rounds; the large-star/small-star rewrite contracts it
    // geometrically — the whale-component 100 TB path.
    val d = 100
    val path = (0 until d).map(i => (i.toLong, i.toLong + 1)).toDF("src", "dst")
    val (labels, rounds) = Dedup.starComponents(path, maxIter = 50)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0L to d.toLong).map(n => (n, 0L)).toSet,
      "every path node labels to the component minimum 0")
    val bound = 2 * (math.log(d.toDouble) / math.log(2)).ceil.toInt + 2
    assert(rounds <= bound, s"geometric convergence: $rounds rounds > O(log d) bound $bound")

    // the public operator with the local gate forced off and the min-label
    // opener skipped (starAfter = 0) computes the identical fixpoint
    val viaPublic = Dedup.connectedComponents(
      path.select(col("src").as("id_a"), col("dst").as("id_b")),
      localEdgeGate = 0L, starAfter = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPublic == got)
    // and the hybrid (a few min-label rounds, then the star finisher over
    // the label-contracted graph) agrees too
    val hybrid = Dedup.connectedComponents(
      path.select(col("src").as("id_a"), col("dst").as("id_b")),
      localEdgeGate = 0L, starAfter = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hybrid == got)
  }

  test("Bridge.knownCount: frozen frames report their size; anything else None (round 16)") {
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val raw = spark.range(0, 100).select(col("id").as("k"), (col("id") % 5).as("v"))
    assert(bridge.knownCount(raw).isEmpty, "a lazy frame has no known count")
    val (frozen, n) = bridge.freezeCounted(raw)
    assert(n == 100L)
    assert(bridge.knownCount(frozen).contains(100L))
    // row-local wrappers pass through: Project exactly, Filter as an upper bound
    assert(bridge.knownCount(frozen.select(col("k"))).contains(100L))
    assert(bridge.knownCount(frozen.filter(col("v") === 0)).contains(100L))
    // an aggregation breaks the chain — no free count
    assert(bridge.knownCount(frozen.groupBy(col("v")).count()).isEmpty)
    // ensureFrozen is a PASSTHROUGH for a frozen frame (no re-checkpoint:
    // the returned plan still scans the same materialized leaf)...
    val again = bridge.ensureFrozen(frozen)
    assert(again.queryExecution.analyzed eq frozen.queryExecution.analyzed)
    // ...and freezes anything else
    assert(bridge.knownCount(bridge.ensureFrozen(raw)).contains(100L))
  }

  test("Scans.cumulative: known-count fast path (parts from data) is bit-identical (round 16)") {
    import graft.core.Scans
    val bridge = org.apache.spark.sql.graftbridge.Bridge
    val df = spark.range(0, 500)
      .select((col("id") * 37 % 1009).as("k"), (col("id") % 13).as("a"))
    // reference: explicit multi-partition scan over the lazy frame
    def rows(d: org.apache.spark.sql.DataFrame) = d.select(col("k"), col("cum_a"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val ref = rows(Scans.cumulative(df, "k", Seq("a"), numPartitions = 5))
    // a frozen input rides the known-count fast path: 500 rows < one
    // rowsPerPartition quantum → parts = 1, no quantile probe — results
    // must be bit-identical (associative integral sums)
    val frozen = bridge.freeze(df)
    assert(rows(Scans.cumulative(frozen, "k", Seq("a"))) == ref)
    // a large-count frozen frame still fans out: force tiny quanta
    spark.conf.set("spark.graft.scan.rowsPerPartition", "100")
    try assert(rows(Scans.cumulative(frozen, "k", Seq("a"))) == ref)
    finally spark.conf.unset("spark.graft.scan.rowsPerPartition")
  }
}
