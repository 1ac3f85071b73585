package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.algebra.{Moments, QHist, Semigroup, TopK}
import graft.api.{ExternalService, GraftSink, GraftStream, KeyedGraftStream}
import graft.batch.BatchStore
import graft.client.ClientStore
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators.{AsofJoin, BatchServices, Dedup, LoopJoin, Packing, PretrainPipeline, Retrieval, RowIndex, Sampling, Scoring, Sharding, Similarity}
import graft.time.{BatchID, Batcher, Timestamp}

import GateHelpers._

/** Gate registry — reference-surface operators: source/stateless producers, the keyed
  * family, joins, time/batching, semigroup value types, and the headline
  * relational shapes.
  * Split from SparkEntry (round 19, mechanical move): SparkEntry
  * concatenates the per-family registries; entries are verbatim.
  */
private[graft] object CoreGate {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    // -- source / stateless producers (SURVEY §2.1-2.2) ------------------
    "q_source" -> ((s, dir) =>
      eventsDF(s, dir).select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts_ms"))),


    "q_map" -> ((s, dir) => {
      import s.implicits._
      eventStream(s, dir).map(e => (e.event_id, e.value * 2))
        .valuesDF("event_id", "doubled")
    }),


    // columnar filter: the predicate PUSHES DOWN to the parquet scan
    // (PlanAuditSpec asserts PushedFilters); the closure `filter` twin is
    // exercised by q_merge and TestGraphsProps
    "q_filter" -> ((s, dir) =>
      eventStream(s, dir).where(col("_2.event_type") === "click")
        .ds.select(col("_2.event_id").as("event_id"), col("_2.user_id").as("user_id"))),


    "q_flatmap" -> ((s, dir) => {
      import s.implicits._
      // the reference's canonical Counter usage — incremented inside the
      // tokenize flatMap (ExampleJob-style) — so Verify's counters.json
      // carries a real cross-round-diffable value (a named accumulator
      // add per emitted token; no measurable cost)
      val tokens = graft.api.Counters.counter(s, "job", "tokens_emitted")
      GraftStream.fromColumnar(docsDs(s, dir), col("doc_id"))
        .flatMap(d => d.text.split("\\s+").iterator.filter(_.nonEmpty)
          .map { w => tokens.incr(); (d.doc_id, w) })
        .valuesDF("doc_id", "word")
    }),


    "q_collect" -> ((s, dir) => {
      import s.implicits._
      eventStream(s, dir)
        .collect { case e if e.event_type == "purchase" => (e.user_id, e.value) }
        .valuesDF("user_id", "value")
    }),


    // FIRST digit run, capped at 18 digits — the exact semantics the DuckDB
    // oracle's regexp_extract computes (greedy leftmost match in both
    // engines), and 18 digits always fits a signed Long/BIGINT, so neither
    // side can overflow if the testdata ever grows longer digit runs
    "q_optionmap" -> ((s, dir) => {
      import s.implicits._
      val firstRun = "[0-9]{1,18}".r
      eventStream(s, dir)
        .optionMap(e => firstRun.findFirstIn(e.props).map(d => (e.event_id, d.toLong)))
        .valuesDF("event_id", "k")
    }),


    // closure-filter parity (q_filter covers the pushed-down columnar twin)
    "q_merge" -> ((s, dir) => {
      val clicks = eventStream(s, dir).filter(_.event_type == "click")
      val buys = eventStream(s, dir).filter(_.event_type == "purchase")
      (clicks ++ buys).ds.select(col("_2.event_id").as("event_id"),
        col("_2.event_type").as("event_type"))
    }),


    "q_either" -> ((s, dir) => {
      import s.implicits._
      val l = eventStream(s, dir).where(col("_2.event_type") === "signup")
        .selectValue[Long](col("_2.event_id"))
      val r = GraftStream.fromColumnar(docsDs(s, dir), col("doc_id"))
        .selectValue[Long](col("_2.doc_id"))
      l.either(r).ds.map {
        case (_, Left(id))  => ("L", id)
        case (_, Right(id)) => ("R", id)
      }.toDF("side", "id")
    }),


    // -- keyed operator family (SURVEY §2.2) -----------------------------
    "q_sumbykey" -> ((s, dir) => {
      import s.implicits._
      GraftStream.from(docsDs(s, dir))(_.doc_id)
        .flatMap(d => d.text.split("\\s+").iterator.filter(_.nonEmpty))
        .asKeyedWith(identity[String], (_: String) => 1L)
        .sumByKeyAllTime(Semigroup.longSemigroup, implicitly)
        .toDF("word", "cnt")
    }),


    // closure mapKeys (the subject) over a columnar keyed source
    "q_mapkeys" -> ((s, dir) => {
      import s.implicits._
      eventStream(s, dir).asKeyedCols[Long, Long](col("_2.user_id"), lit(1L))
        .mapKeys(_ % 10)
        .sumByKeyAllTime(Semigroup.longSemigroup, implicitly)
        .toDF("bucket", "cnt")
    }),


    "q_flatmapkeys" -> ((s, dir) => {
      import s.implicits._
      eventStream(s, dir).asKeyedCols[Long, Long](col("_2.user_id"), lit(1L))
        .flatMapKeys(k => Iterator(k, k + 1000L))
        .sumByKeyAllTime(Semigroup.longSemigroup, implicitly)
        .toDF("user_key", "cnt")
    }),


    // columnar mapValues (selectValues); the closure twin is law-covered
    "q_mapvalues" -> ((s, dir) => {
      import s.implicits._
      eventStream(s, dir).asKeyedCols[Long, Double](col("_2.user_id"), col("_2.value"))
        .selectValues[Long](lit(1L))
        .sumByKeyAllTime(Semigroup.longSemigroup, implicitly)
        .toDF("user_id", "cnt")
    }),


    "q_flatmapvalues" -> ((s, dir) => {
      import s.implicits._
      eventStream(s, dir).asKeyedCols[Long, String](col("_2.user_id"), col("_2.event_type"))
        .flatMapValues(v => Iterator(v, v))
        .selectValues[Long](lit(1L))
        .sumByKeyAllTime(Semigroup.longSemigroup, implicitly)
        .toDF("user_id", "cnt")
    }),


    // columnar filterKeys: where() on the key column — pushes to the scan
    "q_filterkeys" -> ((s, dir) => {
      import s.implicits._
      eventStream(s, dir).asKeyedCols[Long, Long](col("_2.user_id"), lit(1L))
        .where(col("_2") < 50L)
        .sumByKeyAllTime(Semigroup.longSemigroup, implicitly)
        .toDF("user_id", "cnt")
    }),


    "q_filtervalues" -> ((s, dir) => {
      import s.implicits._
      eventStream(s, dir).asKeyedCols[Long, Double](col("_2.user_id"), col("_2.value"))
        .where(col("_3") > 50.0)
        .selectValues[Long](lit(1L))
        .sumByKeyAllTime(Semigroup.longSemigroup, implicitly)
        .toDF("user_id", "cnt")
    }),


    "q_keys" -> ((s, dir) => {
      import s.implicits._
      eventStream(s, dir).asKeyedCols[String, Long](col("_2.event_type"), col("_2.event_id"))
        .keys.asKeyedCols[String, Long](col("_2"), lit(1L))
        .sumByKeyAllTime(Semigroup.longSemigroup, implicitly)
        .toDF("event_type", "cnt")
    }),


    "q_values" -> ((s, dir) => {
      import s.implicits._
      eventStream(s, dir).asKeyedCols[String, Long](col("_2.event_type"), col("_2.user_id"))
        .values.asKeyedCols[Long, Long](col("_2"), lit(1L))
        .sumByKeyAllTime(Semigroup.longSemigroup, implicitly)
        .toDF("user_id", "cnt")
    }),


    "q_swap" -> ((s, dir) => {
      import s.implicits._
      eventStream(s, dir).asKeyedCols[String, Long](col("_2.event_type"), col("_2.user_id"))
        .swap
        .selectValues[Long](lit(1L))
        .sumByKeyAllTime(Semigroup.longSemigroup, implicitly)
        .toDF("user_id", "cnt")
    }),


    // -- joins (SURVEY §2.3) ---------------------------------------------
    "q_leftjoin" -> ((s, dir) => {
      import s.implicits._
      val service: Dataset[(Long, String)] =
        t(s, dir, "customer").select(col("c_custkey"), col("c_name")).as[(Long, String)]
      eventStream(s, dir).asKeyedCols[Long, Long](col("_2.user_id"), col("_2.event_id"))
        .leftJoinDs(service)
        .ds.select(col("_3._1").as("event_id"), col("_2").as("user_id"),
          col("_3._2").as("c_name"))
    }),


    "q_leftjoin_external" -> ((s, dir) => {
      import s.implicits._
      // live-connector twin of q_leftjoin: an external KV service cannot be
      // dataset-shaped by definition, so the oracle rig backs it with a
      // broadcast of the customer table (the collect is the SERVICE's data,
      // bounded by the dimension size — the event stream itself stays
      // distributed and flows through the batched mapPartitions connector)
      val svcMap: Map[Long, String] =
        t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
          .as[(Long, String)].collect().toMap
      val bc = s.sparkContext.broadcast(svcMap)
      eventStream(s, dir).asKeyedCols[Long, Long](col("_2.user_id"), col("_2.event_id"))
        .leftJoinExternal(ExternalService.fromFunction[Long, String](k => bc.value.get(k)),
          batchSize = 512, maxWaiting = 4)
        .ds.select(col("_3._1").as("event_id"), col("_2").as("user_id"),
          col("_3._2").as("c_name"))
    }),


    "q_lookup" -> ((s, dir) => {
      import s.implicits._
      val service: Dataset[(Long, String)] =
        t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")).as[(Long, String)]
      eventStream(s, dir).selectValue[Long](col("_2.user_id"))
        .lookup(service)
        .ds.select(col("_2._1").as("user_id"), col("_2._2").as("segment"))
    }),


    "q_range_join" -> ((s, dir) => {
      // point-in-interval join, the containment complement of the as-of:
      // every click landing inside a same-user purchase's 1-hour window.
      // The naive non-equi spelling nested-loops; RangeJoin bucketizes
      // time (W = the window length, so each interval explodes to <= 2
      // buckets) into an EQUI join + residual filter — plan-audited in
      // RangeJoinSpec. The oracle is the naive non-equi join itself.
      val hourNs = 3600L * 1000 * 1000 * 1000
      val ev = eventsDF(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("puser"),
          col("ts").as("ps"), (col("ts") + lit(hourNs)).as("pe"))
      operators.RangeJoin.pointInInterval(clicks, col("ts"),
          purchases, col("ps"), col("pe"), bucketWidth = hourNs,
          equiKeys = Seq(col("user_id") -> col("puser")))
        .select(col("click_id"), col("purchase_id"), col("user_id"))
    }),


    "q_range_join_left" -> ((s, dir) => {
      // LEFT point-in-interval: every click survives; clicks inside no
      // same-user purchase window carry a null purchase_id. The unmatched
      // remainder is recovered with a null-safe (<=>) anti-join on the
      // same bucketed keys — never a second range scan. Oracle: the naive
      // non-equi LEFT join.
      val hourNs = 3600L * 1000 * 1000 * 1000
      val ev = eventsDF(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("puser"),
          col("ts").as("ps"), (col("ts") + lit(hourNs)).as("pe"))
      operators.RangeJoin.pointInIntervalLeft(clicks, col("ts"),
          purchases, col("ps"), col("pe"), bucketWidth = hourNs,
          equiKeys = Seq(col("user_id") -> col("puser")))
        .select(col("click_id"), col("purchase_id"), col("user_id"))
    }),


    "q_interval_overlap" -> ((s, dir) => {
      // interval × interval overlap (the second range-join shape): each
      // purchase's 1-hour window against each same-user click's 30-minute
      // window. Bucketized equi-join; the first-shared-bucket filter
      // emits each overlapping pair exactly once — oracled by the naive
      // non-equi overlap join
      val hourNs = 3600L * 1000 * 1000 * 1000
      val halfNs = hourNs / 2
      val ev = eventsDF(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("ps"), (col("ts") + lit(hourNs)).as("pe"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("cuser"),
          col("ts").as("cs"), (col("ts") + lit(halfNs)).as("ce"))
      operators.RangeJoin.intervalOverlap(purchases, col("ps"), col("pe"),
          clicks, col("cs"), col("ce"), bucketWidth = hourNs,
          equiKeys = Seq(col("user_id") -> col("cuser")))
        .select(col("purchase_id"), col("click_id"), col("user_id"))
    }),


    "q_asof_join" -> ((s, dir) => {
      // purchases enriched with the user's most recent signup event at-or-
      // before the purchase time (DuckDB-ASOF `>=` semantics)
      val ev = eventsDF(s, dir)
      val left = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val right = ev.where(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts").as("signup_ts"))
        .agg(max("event_id").as("signup_id"))
      AsofJoin.asofJoin(left, right, Seq("user_id"), "ts", "signup_ts",
          Seq("signup_id"), strict = false)
        .select("event_id", "user_id", "signup_id")
    }),


    "q_asof_summing" -> ((s, dir) => {
      // running count of prior clicks per user as of each purchase
      val ev = eventsDF(s, dir)
      val left = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val right = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"), lit(1L).as("one"))
      AsofJoin.asofJoinSumming(left, right, Seq("user_id"), "ts", "click_ts",
          Seq("one"), strict = false)
        .select(col("event_id"), col("user_id"),
          coalesce(col("one"), lit(0L)).as("clicks_before"))
    }),


    "q_window_service" -> ((s, dir) => {
      // windowed batch service (BatchedWindowService): the as-of signup is
      // visible only within a trailing 7-day window of the purchase
      val ev = eventsDF(s, dir)
      val left = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val right = ev.where(col("event_type") === "signup")
        .groupBy(col("user_id"), col("ts").as("signup_ts"))
        .agg(max("event_id").as("signup_id"))
      // ts is the canonical nanos Long (EventTime.normalize): window in nanos
      BatchServices.windowed(left, right, Seq("user_id"), "ts", "signup_ts",
          Seq("signup_id"), window = 7L * 86400L * 1000000000L)
        .select("event_id", "user_id", "signup_id")
    }),


    "q_sessionize" -> ((s, dir) =>
      // round 10: gaps-and-islands sessionization (30-min inactivity gap
      // per user) — windows partitioned by user only, one hash exchange,
      // exactly reproduced by the DuckDB lag + running-sum oracle
      graft.operators.Sessionize.sessionize(eventsDF(s, dir),
        "user_id", "ts_ms", gapMs = 1800000L)),


    "q_sessionize_presplit" -> ((s, dir) =>
      // hot-entity form: level-1 windows partition by (user, time-chunk)
      // so one bot user's history sorts in parallel across chunks; level 2
      // re-islands the sub-sessions — identical output by associativity,
      // so this row shares q_sessionize's oracle verbatim
      graft.operators.Sessionize.sessionizePreSplit(eventsDF(s, dir),
        "user_id", "ts_ms", gapMs = 1800000L, chunkMs = 86400000L)),


    "q_sliding_window" -> ((s, dir) =>
      // round 10: SLIDING event-time windows (7-day window, 1-day slide —
      // rolling weekly activity per user), completing the time-window
      // triad: tumbling = the Batcher family, session = Sessionize,
      // sliding = the native window() aggregate. Spark explodes each
      // event into its 7 covering windows then map-side-combines, so the
      // shuffle is ≈ |distinct (user, window)|, not 7x the events; the
      // oracle reproduces the same 7-window cover with a lateral
      // generate_series. Epoch is midnight-UTC-aligned so day windows
      // land on day boundaries.
      eventsDF(s, dir)
        .withColumn("__t", timestamp_millis(col("ts_ms")))
        .groupBy(col("user_id"), window(col("__t"), "7 days", "1 day").as("__w"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("user_id"),
          (unix_millis(col("__w.start")) / lit(86400000L)).cast("long").as("window_day"),
          col("cnt"))),


    "q_streaming_sliding" -> ((s, dir) => {
      // round 10: sliding event-time windows as a STREAMING aggregation —
      // watermarked window(7 days, 1 day slide) over the 10% user slice,
      // fed in two ascending-ts halves plus a flush sentinel past every
      // window end + watermark. Append mode emits each (user, window)
      // exactly once when the watermark passes its close; the emitted set
      // must equal the batch sliding-window computation on the same fed
      // slice (Spark-computed invariant; the oracle pins the distinct
      // (user, window) count).
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val evs = eventsDF(s, dir).where(col("user_id") % 10 === 0)
        .select(col("user_id"), col("ts_ms")).as[(Long, Long)].collect()
      val minTs = evs.iterator.map(_._2).min
      val maxTs = evs.iterator.map(_._2).max
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
      val out = ms.toDS().toDF("user_id", "__ms")
        .withColumn("ts", timestamp_millis(col("__ms")))
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), window(col("ts"), "7 days", "1 day").as("__w"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("user_id"),
          (unix_millis(col("__w.start")) / lit(86400000L)).cast("long").as("window_day"),
          col("cnt"))
      val view = "q_streaming_sliding_sink"
      s.catalog.dropTempView(view)
      withStreamingGateConf(s, 4) {
        val q = out.writeStream.format("memory").queryName(view)
          .outputMode("append").start()
        try {
          val mid = minTs + (maxTs - minTs) / 2 + 1
          Seq((minTs, mid), (mid, maxTs + 1)).foreach { case (lo, hi) =>
            ms.addData(evs.iterator.filter(e => e._2 >= lo && e._2 < hi).toSeq)
            q.processAllAvailable()
          }
          ms.addData(Seq((-1L, maxTs + 9L * 86400000L))) // flush everything
          q.processAllAvailable()
        } finally q.stop()
      }
      val streamed = s.table(view).where(col("user_id") =!= -1L)
        .localCheckpoint(true)
      val batch = evs.toSeq.toDF("user_id", "ts_ms")
        .withColumn("__t", timestamp_millis(col("ts_ms")))
        .groupBy(col("user_id"), window(col("__t"), "7 days", "1 day").as("__w"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("user_id"),
          (unix_millis(col("__w.start")) / lit(86400000L)).cast("long").as("window_day"),
          col("cnt"))
        .localCheckpoint(true) // both except directions read it; compute once
      val eq = withPinnedShufflePartitions(s, 4) {
        setEq(streamed, batch)
      }
      streamed.agg(count(lit(1)).as("n_windows"))
        .withColumn("stream_eq_batch", lit(eq))
    }),


    "q_streaming_sessionize" -> ((s, dir) => {
      // streaming sessionization via the NATIVE session_window aggregate
      // (merging session state per user in the state store, watermark
      // eviction): the 10% user slice feeds in two ascending-ts halves
      // plus a flush sentinel; the emitted sessions must equal the batch
      // gaps-and-islands operator on the same fed corpus EXACTLY (same
      // half-open gap convention), a Spark-computed invariant the oracle
      // pins alongside the session count.
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val evs = eventsDF(s, dir).where(col("user_id") % 10 === 0)
        .select(col("user_id"), col("ts_ms")).as[(Long, Long)].collect()
      val minTs = evs.iterator.map(_._2).min
      val maxTs = evs.iterator.map(_._2).max
      val gap = 1800000L
      val ms = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
      val out = graft.operators.Sessionize.sessionizeStreaming(
        ms.toDS().toDF("user_id", "__ms")
          .withColumn("ts", timestamp_millis(col("__ms"))),
        "user_id", "ts", gapMs = gap)
      val view = "q_streaming_sessionize_sink"
      s.catalog.dropTempView(view)
      withStreamingGateConf(s, 4) {
        val q = out.writeStream.format("memory").queryName(view)
          .outputMode("append").start()
        try {
          val mid = minTs + (maxTs - minTs) / 2 + 1
          Seq((minTs, mid), (mid, maxTs + 1)).foreach { case (lo, hi) =>
            ms.addData(evs.iterator.filter(e => e._2 >= lo && e._2 < hi).toSeq)
            q.processAllAvailable()
          }
          // flush: past every open session's close + watermark
          ms.addData(Seq((-1L, maxTs + 48L * 3600000L)))
          q.processAllAvailable()
        } finally q.stop()
      }
      val streamed = s.table(view).where(col("user_id") =!= -1L)
        .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
        .localCheckpoint(true)
      val batch = graft.operators.Sessionize.sessionize(
          evs.toSeq.toDF("user_id", "ts_ms"), "user_id", "ts_ms", gapMs = gap)
        .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
        .localCheckpoint(true) // both except directions read it; compute once
      val eq = withPinnedShufflePartitions(s, 4) {
        setEq(streamed, batch)
      }
      streamed.agg(count(lit(1)).as("n_sessions"))
        .withColumn("stream_eq_batch", lit(eq))
    }),


    "q_unique_service" -> ((s, dir) => {
      // UniqueKeyedService + EmptyService (reference scalding/service/
      // UniqueKeyedService.scala, EmptyService): unique-keyed dimension
      // lookup collapses the temporal machinery to a plain left equi-join
      // (Catalyst broadcasts the small side), and the empty service
      // contributes a typed all-null column — both directly
      // SQL-expressible. The service is partial (signup users only) so
      // the left-outer miss path carries real nulls.
      val ev = eventsDF(s, dir).select(col("event_id"), col("user_id"))
      val svc = eventsDF(s, dir).where(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("event_id")).as("signup_event_id"))
      val joined = BatchServices.uniqueKeyed(ev, svc, Seq("user_id"))
      BatchServices.empty(joined, Seq(("missing_val", "bigint")))
    }),


    "q_loop_join" -> ((s, dir) => {
      // loop join: the store DEPENDS on the join output (reference
      // Service.scala:196-269). Running prior-event counter per user: each
      // event looks up the current count, then writes +1 back. Event-time
      // := event_id so the scan order is total and oracle-reproducible.
      import s.implicits._
      val events = eventsDF(s, dir).select(col("event_id").as("_1"),
        col("user_id").as("_2"), col("event_id").as("_3")).as[(Long, Long, Long)]
      LoopJoin.loopJoin[Long, Long, Long](events, None, (_, _) => Some(1L))(
          Semigroup.longSemigroup, implicitly, implicitly, implicitly)
        .map { case (_, user, (eid, prior)) => (eid, user, prior.getOrElse(0L)) }
        .toDF("event_id", "user_id", "prior_events")
    }),


    "q_availability" -> ((s, dir) => {
      // round 10: availability planning itself (TimePathedSource — the
      // reference's satisfiableHdfs/minify + planner interval shrink)
      // oracled directly: events land in a dense batch_id=N partitioned
      // source, batch 3's directory is DELETED (the hole), and the
      // requested range (1, nBatches) must shrink to the maximal
      // satisfiable prefix (1, 2) — with the read returning exactly those
      // two batches' rows and a request STARTING at the hole planning to
      // None. All facts derive from the data's own day range, so the row
      // is corpus-agnostic.
      import s.implicits._
      val src = java.nio.file.Files.createTempDirectory("graft_avail_").toString
      try { // scratch source deleted on EVERY exit path
        val dayIdx = eventsDF(s, dir)
          .select(expr("ts_ms DIV 86400000").as("day")).distinct()
          .withColumn("batch_id", row_number().over(Window.orderBy(col("day"))).cast("long"))
        val byBatch = eventsDF(s, dir)
          .select(col("user_id"), expr("ts_ms DIV 86400000").as("day"))
          .join(broadcast(dayIdx), "day")
          .select(col("user_id"), col("batch_id"))
        byBatch.repartition(col("batch_id"))
          .write.mode("overwrite").partitionBy("batch_id").parquet(src)
        val nBatches = dayIdx.count()
        graft.batch.BatchState.deleteDir(s"$src/batch_id=3") // the hole
        val ((lo, hi), planned) = graft.sources.TimePathedSource
          .read(s, src, (BatchID(1), BatchID(nBatches))).get
        val nRows = planned.count()
        val holeStartNone = graft.sources.TimePathedSource
          .satisfiable(s, src, (BatchID(3), BatchID(nBatches))).isEmpty
        Seq((lo.id, hi.id, nRows, holeStartNone))
          .toDF("planned_lo", "planned_hi", "n_rows", "hole_start_none")
      } finally graft.batch.BatchState.deleteDir(src)
    }),


    "q_name_options" -> ((s, dir) => {
      // round 10: the `name` per-name options surface oracled — the
      // reference's FlatMapShards / MonoidIsCommutative options keyed by
      // node name (Options.scala). Three facts in one row set: the label
      // is semantics-free (oracled content is the plain per-user count),
      // `shards = 7` reshards the next closure flatMap onto exactly 7
      // partitions (Spark-computed invariant), and `commutative = false`
      // forces the event-time-ordered fold whose result must equal the
      // hash-agg path on a commutative semigroup.
      import s.implicits._
      val base = eventStream(s, dir).asKeyedCols[Long, Long](col("_2.user_id"), lit(1L))
      // both sides materialize ONCE: each except direction would otherwise
      // recompute both aggregation frames (4 computes for 2 needed)
      val default = base.sumByKeyAllTime(Semigroup.longSemigroup, implicitly)
        .localCheckpoint(true)
      val forced = base.name("ordered", commutative = false)
        .sumByKeyAllTime(Semigroup.longSemigroup, implicitly)
        .localCheckpoint(true)
      val pathsEqual = setEq(default.toDF("user_id", "cnt"),
        forced.toDF("user_id", "cnt"))
      val sharded = eventStream(s, dir).name("resharded", shards = 7)
        .flatMap(e => Iterator.single(e.event_id))
      val shardsOk = sharded.ds.rdd.getNumPartitions == 7
      default.toDF("user_id", "cnt")
        .withColumn("paths_equal", lit(pathsEqual))
        .withColumn("shards_ok", lit(shardsOk))
    }),


    "q_incremental_driver" -> ((s, dir) => {
      // the FULL incremental run loop (BatchDriver: commit log →
      // availability planning → delta pipeline over only the planned
      // batch partitions → snapshot commit) oracled end-to-end: events
      // land in a batch_id=N partitioned source, three driver invocations
      // with advancing upTo bounds roll the store forward (each plans and
      // reads only its new prefix, recorded in the commit log), and the
      // final snapshot must equal the all-time per-user counts. Bounds
      // derive from the data's own batch range so the row is corpus-
      // agnostic.
      import s.implicits._
      val src = java.nio.file.Files.createTempDirectory("graft_drv_src_").toString
      val storeDir = java.nio.file.Files.createTempDirectory("graft_drv_store_").toString
      // batch ids are the DENSE index over the days actually present (a
      // tiny distinct-days dim, window over <=thousands of rows, broadcast
      // back) — a raw day number would leave partition gaps on any
      // zero-event day and availability planning would correctly stall
      // at the hole forever, failing the row on such a corpus
      val dayIdx = eventsDF(s, dir)
        .select(expr("ts_ms DIV 86400000").as("day")).distinct()
        .withColumn("batch_id", row_number().over(Window.orderBy(col("day"))).cast("long"))
      val byBatch = eventsDF(s, dir)
        .select(col("user_id"), expr("ts_ms DIV 86400000").as("day"))
        .join(broadcast(dayIdx), "day")
        .select(col("user_id"), col("batch_id"))
      byBatch.repartition(col("batch_id"))
        .write.mode("overwrite").partitionBy("batch_id").parquet(src)
      val bHi = dayIdx.count() // dense ids are 1..nDays
      val store = new graft.batch.BatchStore[Long, Long](storeDir)
      def pipeline(input: org.apache.spark.sql.DataFrame): Dataset[(Long, Long, Long)] =
        input.groupBy(col("user_id"), col("batch_id"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("user_id"), col("batch_id"), col("cnt"))
          .as[(Long, Long, Long)]
      val step = math.max(1L, bHi / 3)
      // the temp dirs hold a partitioned copy of the events table — delete
      // them on EVERY exit path (a throwing driver run or readLast would
      // otherwise leak the copy into /tmp on each failing bench rep)
      try {
        Seq(1L + step, 1L + 2 * step, bHi).foreach { upTo =>
          graft.batch.BatchDriver.runIncremental(s, src, store,
            graft.time.BatchID(upTo))(pipeline)(
            Semigroup.longSemigroup, implicitly, implicitly)
        }
        // materialize before deleting the temp source/store dirs the lazy
        // plan would otherwise re-read
        store.readLast(s).get._2.toDF("user_id", "cnt").localCheckpoint(true)
      } finally {
        graft.batch.BatchState.deleteDir(src)
        graft.batch.BatchState.deleteDir(storeDir)
      }
    }),


    // -- time / batching (SURVEY §1.2) -----------------------------------
    "q_batcher" -> ((s, dir) => {
      val daily = Batcher.ofDays(1)
      eventsDF(s, dir)
        .groupBy(col("user_id"), daily.batchIdColumn(col("ts_ms")).as("batch_id"))
        .agg(count(lit(1)).as("cnt"))
    }),


    "q_batcher_calendar" -> ((s, dir) => {
      // calendar (civil-timezone) batching: batch boundaries at New York
      // midnight, not UTC midnight — the CalendarBatcher rebuild
      val ny = Batcher.calendarDays("America/New_York")
      eventsDF(s, dir)
        .groupBy(col("user_id"), ny.batchIdColumn(col("ts_ms")).as("batch_id"))
        .agg(count(lit(1)).as("cnt"))
    }),


    "q_collectkeys" -> ((s, dir) => {
      // collectKeys (partial function over keys, Producer.scala:345-347):
      // keep p-prefixed event types, re-key to uppercase, count
      import s.implicits._
      eventStream(s, dir).asKeyedCols[String, Long](col("_2.event_type"), lit(1L))
        .collectKeys { case t if t.startsWith("p") => t.toUpperCase }
        .sumByKeyAllTime(Semigroup.longSemigroup, implicitly)
        .toDF("etype", "cnt")
    }),


    "q_collectvalues" -> ((s, dir) => {
      // collectValues (Producer.scala:348-350): keep values over 100,
      // shifted down, summed per user
      import s.implicits._
      eventStream(s, dir).asKeyedCols[Long, Double](col("_2.user_id"), col("_2.value"))
        .collectValues { case v if v > 100.0 => v - 100.0 }
        .sumByKeyAllTime(Semigroup.doubleSemigroup, implicitly)
        .select(col("_1").as("user_id"), round(col("_2"), 6).as("sumv"))
    }),


    "q_decayed" -> ((s, dir) => {
      // exponentially time-decayed sum (SURVEY §1.3 Decayed value): per
      // user, events' values decayed to the user's latest event time with a
      // 7-day half-life. Commutative merge (rescale to max ts, then add);
      // rounded to 6 dp — association order only perturbs ~1e-12 relative.
      import s.implicits._
      import graft.algebra.Decayed
      implicit val sg: Semigroup[Decayed] =
        Decayed.semigroup(halfLifeMs = 7.0 * 86400000.0)
      eventStream(s, dir)
        .asKeyedCols[Long, Decayed](col("_2.user_id"),
          struct(col("_1").as("ts"), col("_2.value").as("value")))
        .sumByKeyAllTime(sg, implicitly)
        .select(col("_1").as("user_id"), col("_2.ts").as("last_ts_ms"),
          round(col("_2.value"), 6).as("decayed"))
    }),


    "q_lastbytime" -> ((s, dir) => {
      // lastByTime value semigroup (latest-write-wins register, SURVEY §1.3):
      // per user, the time and type of their latest event. Non-commutative,
      // so sumByKey routes it through the event-time-ordered fold.
      import s.implicits._
      implicit val sg: Semigroup[(Long, String)] = Semigroup.lastByTime[String]
      eventStream(s, dir)
        .asKeyedCols[Long, (Long, String)](col("_2.user_id"),
          struct(col("_1").as("_1"), col("_2.event_type").as("_2")))
        .sumByKeyAllTime(sg, implicitly)
        .select(col("_1").as("user_id"), col("_2._1").as("last_ts_ms"),
          col("_2._2").as("last_type"))
    }),


    "q_batcher_combined" -> ((s, dir) => {
      // Combined batcher (reference CombinedBatcher): daily batches before
      // the cut, hourly after, ids monotone across the switch. The cut lands
      // exactly on a daily boundary — the case where a naive batchOf(at)
      // would skip an id.
      val comb = Batcher.Combined(Batcher.ofDays(1), Batcher.ofHours(1),
        Timestamp(1705276800000L)) // 2024-01-15T00:00:00Z
      eventsDF(s, dir)
        .groupBy(col("user_id"), comb.batchIdColumn(col("ts_ms")).as("batch_id"))
        .agg(count(lit(1)).as("cnt"))
    }),


    "q_sumbykey_delta" -> ((s, dir) => {
      // the Summer's (Option[V], V) contract per (key, batch):
      // prior = all-time sum before this batch, delta = this batch's sum
      import s.implicits._
      val daily = Batcher.ofDays(1)
      eventStream(s, dir).asKeyedCols[Long, Long](col("_2.user_id"), lit(1L))
        .sumByKey(daily)(Semigroup.longSemigroup)
        .select(col("_1").as("user_id"), col("_2").as("batch_id"),
          col("_3._1").as("prior"), col("_3._2").as("delta"))
    }),


    "q_client_merge" -> ((s, dir) => {
      // lambda-architecture read: offline snapshot (first half of the month)
      // semigroup-merged with online deltas (second half)
      import s.implicits._
      val cut = 1705276800000L // 2024-01-15T00:00:00Z
      val offline = eventStream(s, dir).where(col("_1") < cut)
        .asKeyedCols[Long, Long](col("_2.user_id"), lit(1L))
        .sumByKeyAllTime(Semigroup.longSemigroup, implicitly)
      val online = eventStream(s, dir).where(col("_1") >= cut)
        .asKeyedCols[Long, Long](col("_2.user_id"), lit(1L))
        .sumByKeyAllTime(Semigroup.longSemigroup, implicitly)
      graft.client.ClientStore.mergeKV(offline.union(online))(
        Semigroup.longSemigroup, implicitly, implicitly)
        .toDF("user_id", "cnt")
    }),


    "q_batch_merge" -> ((s, dir) => {
      // The incremental batch merge end-to-end (BatchedStore.mergeBatched
      // semantics): run BatchStore.merge TWICE — first half of the month,
      // then roll forward from the committed snapshot — and emit the union
      // of both runs' (key, batch, prior, delta) outputs. Matching the
      // single-pass q_sumbykey_delta oracle proves the snapshot
      // roll-forward reads exactly the prior state and the delta filter
      // (priorBatch, upTo] neither drops nor double-counts.
      import s.implicits._
      val daily = Batcher.ofDays(1)
      val cutBatch = 19736L // day before 2024-01-15
      val deltas = eventStream(s, dir).asKeyedCols[Long, Long](col("_2.user_id"), lit(1L))
        .sumDeltasPerBatch(daily)(Semigroup.longSemigroup)
        .persist()
      val tmp = java.nio.file.Files.createTempDirectory("graft_store_").toString
      val store = new BatchStore[Long, Long](tmp)
      val out1 = store.merge(s, deltas, BatchID(cutBatch))(Semigroup.longSemigroup)
      // upper bound past the data's end (events end 2024-01-30 = batch
      // 19752): trailing empty batches are free, and this avoids a
      // driver-side max() job
      val out2 = store.merge(s, deltas, BatchID(19800L))(Semigroup.longSemigroup)
      out1.union(out2)
        .select(col("_1").as("user_id"), col("_2").as("batch_id"),
          col("_3._1").as("prior"), col("_3._2").as("delta"))
    }),


    "q_store_delete" -> ((s, dir) => {
      // round 14: key-deletion maintenance on the serving store
      // (BatchStore.deleteKeys — the takedown path a lambda deployment
      // needs against the KV store, not just the indexes): merge ALL
      // events, revoke a deterministic user slice (user_id % 5 == 2),
      // then the served snapshot must equal a recompute over the
      // RETAINED events — and a ClientStore point-get of a revoked key
      // must return None (asserted in-row; the delete rewrote every
      // retained version as a new generation behind one atomic flip).
      import s.implicits._
      val daily = Batcher.ofDays(1)
      val deltas = eventStream(s, dir).asKeyedCols[Long, Long](col("_2.user_id"), lit(1L))
        .sumDeltasPerBatch(daily)(Semigroup.longSemigroup)
        .persist()
      val tmp = java.nio.file.Files.createTempDirectory("graft_store_").toString
      try {
        val store = new BatchStore[Long, Long](tmp)
        store.merge(s, deltas, BatchID(19800L))(Semigroup.longSemigroup).count()
        val victims = eventsDF(s, dir).select(col("user_id")).distinct()
          .where(col("user_id") % 5 === 2).as[Long].collect()
        // a dataset slice with no user_id % 5 == 2 degrades to the
        // no-victims case cleanly (deleteKeys requires a non-empty set)
        if (victims.nonEmpty) store.deleteKeys(s, victims.toSeq)
        // end-to-end serving check: a revoked key point-reads as None
        // (no online deltas — the store is the only source)
        require(victims.isEmpty || graft.client.ClientStore.get(s, store,
          s.emptyDataset[(Long, Long, Long)], victims.head)(
          Semigroup.longSemigroup, implicitly, implicitly).isEmpty,
          "q_store_delete: ClientStore.get served a revoked key")
        store.readLast(s).get._2.toDF("user_id", "cnt")
      } finally {
        deltas.unpersist()
        ()
      }
    }),


    "q_backfill" -> ((s, dir) => {
      // round 14: historical recompute (BatchStore.backfill — the lambda
      // architecture's human-fault-tolerance move): the middle batch
      // range merges CORRUPTED (every event double-counted), poisoning
      // its snapshot and the one after it; backfill from the corruption
      // point with the corrected master-dataset deltas rewrites exactly
      // those two snapshots as new generations behind one atomic flip —
      // the earlier snapshot stays at generation 0 untouched. Output is
      // BOTH rewritten snapshots (history must be corrected, not just
      // the newest), oracled against a DuckDB recompute at each batch.
      import s.implicits._
      val daily = Batcher.ofDays(1)
      val (b1, b2, b3) = (19736L, 19768L, 19800L)
      val events = eventStream(s, dir)
      val correct = events.asKeyedCols[Long, Long](col("_2.user_id"), lit(1L))
        .sumDeltasPerBatch(daily)(Semigroup.longSemigroup)
        .persist()
      val corrupt = events.asKeyedCols[Long, Long](col("_2.user_id"), lit(2L))
        .sumDeltasPerBatch(daily)(Semigroup.longSemigroup)
      val tmp = java.nio.file.Files.createTempDirectory("graft_store_").toString
      try {
        val store = new BatchStore[Long, Long](tmp)
        store.merge(s, correct, BatchID(b1))(Semigroup.longSemigroup).count()
        store.merge(s, corrupt, BatchID(b2))(Semigroup.longSemigroup).count()
        store.merge(s, correct, BatchID(b3))(Semigroup.longSemigroup).count()
        val poisoned = store.readLast(s).get._2.map(_._2).reduce(_ + _)
        store.backfill(s, correct, BatchID(b1 + 1))(Semigroup.longSemigroup)
        // the corruption was real and the fix rewrote ONLY the poisoned
        // range: (b1] untouched at generation 0, (b1, b3] re-pointed
        val healed = store.readLast(s).get._2.map(_._2).reduce(_ + _)
        require(healed < poisoned,
          s"q_backfill: expected the corrupt store to overcount ($healed vs $poisoned)")
        val gens = store.state.gens
        require(gens == Map(b2 -> 1L, b3 -> 1L),
          s"q_backfill: unexpected generation map $gens")
        store.readLast(s, BatchID(b2)).get._2.toDF("user_id", "cnt")
          .withColumn("batch_id", lit(b2))
          .union(store.readLast(s, BatchID(b3)).get._2.toDF("user_id", "cnt")
            .withColumn("batch_id", lit(b3)))
          .select(col("user_id"), col("batch_id"), col("cnt"))
      } finally {
        correct.unpersist()
        ()
      }
    }),


    "q_backfill_guard" -> ((s, dir) => {
      // round 15: the deleteKeys × backfill COMPOSITION, enforced — merge
      // all events, revoke the user_id % 7 == 3 slice (Dataset-scale
      // takedown: anti-join rewrite, victims never collected), then
      // backfill the whole history with DIRTY deltas (the master stream
      // still carrying the revoked users): the recorded revocation
      // digests must be re-applied, so the rewritten snapshot serves the
      // retained users' recomputed counts and NEVER a revoked key
      // (absence also asserted in-row — a silent resurrection would be
      // invisible to a rows-only check).
      import s.implicits._
      val daily = Batcher.ofDays(1)
      val deltas = eventStream(s, dir).asKeyedCols[Long, Long](col("_2.user_id"), lit(1L))
        .sumDeltasPerBatch(daily)(Semigroup.longSemigroup)
        .persist()
      val tmp = java.nio.file.Files.createTempDirectory("graft_store_").toString
      try {
        val store = new BatchStore[Long, Long](tmp)
        store.merge(s, deltas, BatchID(19800L))(Semigroup.longSemigroup).count()
        val victims = eventsDF(s, dir).select(col("user_id")).distinct()
          .where(col("user_id") % 7 === 3).as[Long]
        if (victims.limit(1).count() > 0) store.deleteKeys(victims)
        // dirty replay: `deltas` is the UNCLEANSED master stream
        store.backfill(s, deltas, BatchID(19800L))(Semigroup.longSemigroup)
        val served = store.readLast(s).get._2.toDF("user_id", "cnt")
          .localCheckpoint(true)
        require(served.where(col("user_id") % 7 === 3).limit(1).count() == 0,
          "q_backfill_guard: a dirty backfill resurrected a revoked key")
        served
      } finally {
        deltas.unpersist()
        ()
      }
    }),


    "q_client_get" -> ((s, dir) => {
      // round 10: the point-serving read end-to-end through the
      // KEY-CLUSTERED snapshot layout (BatchStore keyBuckets →
      // readLastForKey → ClientStore.get): offline = clustered snapshot
      // through the cut batch, online = the delta stream; each get
      // statically prunes its bucket dir and must equal the all-data
      // per-user count. Keys are the 6 smallest user ids IN THE DATA, so
      // the row is corpus-agnostic and every get is a hit.
      import s.implicits._
      val daily = Batcher.ofDays(1)
      val cutBatch = 19736L // day before 2024-01-15
      val deltas = eventStream(s, dir).asKeyedCols[Long, Long](col("_2.user_id"), lit(1L))
        .sumDeltasPerBatch(daily)(Semigroup.longSemigroup)
        .persist()
      val tmp = java.nio.file.Files.createTempDirectory("graft_store_").toString
      try { // store dir + cache reclaimed on EVERY exit path
        val store = new BatchStore[Long, Long](tmp, keyBuckets = Some(8))
        store.merge(s, deltas, BatchID(cutBatch))(Semigroup.longSemigroup).count()
        val keys = eventsDF(s, dir).select(col("user_id")).distinct()
          .orderBy(col("user_id")).limit(6).as[Long].collect()
        val singles = keys.toSeq.map { k =>
          (k, ClientStore.get(s, store, deltas, k)(
            Semigroup.longSemigroup, implicitly, implicitly).getOrElse(0L))
        }
        // the storehaus multiGet shape: ONE pruned job for the whole key
        // set must agree with the per-key gets exactly
        val multi = ClientStore.getBatch(s, store, deltas, keys.toSeq)(
          Semigroup.longSemigroup, implicitly, implicitly)
        require(multi == singles.toMap,
          s"getBatch disagrees with per-key gets: $multi vs $singles")
        multi.toSeq.toDF("user_id", "cnt")
      } finally {
        deltas.unpersist()
        graft.batch.BatchState.deleteDir(tmp)
      }
    }),


    "q_lambda_merged" -> ((s, dir) => {
      // Full lambda read path: offline = BatchStore snapshot committed
      // through the cut batch; online = the delta stream; ClientStore.merged
      // applies the monotonicity guard (only deltas AFTER the snapshot
      // batch) and semigroup-merges. Equals an all-data recompute.
      import s.implicits._
      val daily = Batcher.ofDays(1)
      val cutBatch = 19736L
      val deltas = eventStream(s, dir).asKeyedCols[Long, Long](col("_2.user_id"), lit(1L))
        .sumDeltasPerBatch(daily)(Semigroup.longSemigroup)
        .persist()
      val tmp = java.nio.file.Files.createTempDirectory("graft_store_").toString
      val store = new BatchStore[Long, Long](tmp)
      store.merge(s, deltas, BatchID(cutBatch))(Semigroup.longSemigroup).count()
      ClientStore.merged(s, store, deltas)(Semigroup.longSemigroup, implicitly, implicitly)
        .toDF("user_id", "cnt")
    }),


    // -- semigroup value types (SURVEY §1.3) -----------------------------
    "q_max_by" -> ((s, dir) => {
      // latest event per user via a max-(ts,event_id) semigroup value
      import s.implicits._
      eventStream(s, dir)
        .asKeyedCols[Long, (Long, Long)](col("_2.user_id"),
          struct(col("_2.ts_ms").as("_1"), col("_2.event_id").as("_2")))
        .sumByKeyAllTime(Semigroup.maxSemigroup[(Long, Long)], implicitly)
        .select(col("_1").as("user_id"), col("_2._2").as("last_event"))
    }),


    "q_topk" -> ((s, dir) => {
      // top-5 events by value per event_type, as a TopK semigroup value
      import s.implicits._
      implicit val sg: Semigroup[TopK[Long]] = TopK.topKSemigroup[Long]
      eventStream(s, dir)
        .asKeyedWith(_.event_type, (e: Ev) => TopK.one(5, e.value, e.event_id))
        .sumByKeyAllTime(sg, implicitly)
        .flatMap { case (et, topk) => topk.items.map { case (v, id) => (et, id, v) } }
        .toDF("event_type", "event_id", "value")
    }),


    "q_sumbykey_presplit" -> ((s, dir) => {
      // round 10: the HOT-KEY PRE-SPLIT form of the non-commutative
      // ordered fold (sumDeltasPerBatchPreSplit) — same List-concat
      // semantics as q_sumbykey_ordered, but each key's event-time scan
      // parallelizes across event-id chunks (chunk folds → chunk-order
      // merge, identical by associativity). Must match the same ordered
      // string_agg oracle exactly.
      import s.implicits._
      GraftStream.from(eventsDs(s, dir))(_.event_id)
        .asKeyedWith(_.user_id, (e: Ev) => List(e.event_id))
        .sumByKeyAllTimePreSplit(_ / 4096)(Semigroup.listSemigroup[Long], implicitly)
        .map { case (u, ids) => (u, ids.mkString(",")) }
        .toDF("user_id", "event_ids")
    }),


    "q_sumbykey_ordered" -> ((s, dir) => {
      // NON-COMMUTATIVE semigroup (List concat) through sumByKey: routes
      // through the event-time-ordered fold (sorted groups), never hash
      // aggregation. Event-time := event_id for a total, oracle-stable order.
      import s.implicits._
      GraftStream.from(eventsDs(s, dir))(_.event_id)
        .asKeyedWith(_.user_id, (e: Ev) => List(e.event_id))
        .sumByKeyAllTime(Semigroup.listSemigroup[Long], implicitly)
        .map { case (u, ids) => (u, ids.mkString(",")) }
        .toDF("user_id", "event_ids")
    }),


    "q_json_props" -> ((s, dir) =>
      // JSON-metadata filtering — the training-pipeline shape where
      // per-record metadata gates inclusion: extract props.k (Spark's
      // codegen'd get_json_object), filter on it, aggregate per type
      eventsDF(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("__k"))
        .where(col("__k") >= 50)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_hi"), sum(col("__k")).as("sum_k"))),


    "q_count_distinct" -> ((s, dir) =>
      eventsDF(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))),


    "q_hll" -> ((s, dir) => {
      // HLL via the native TypedImperativeAggregate (one mutable register
      // set per key per partition — no per-event allocation); identical
      // registers to the HLL semigroup VALUE form (SketchAggregatesSpec
      // asserts equality). The estimate itself is engine-specific, but
      // |est − exact| ≤ max(1, 5% · exact) is deterministic on given
      // data (q_cms pattern; the tighter ±2% bound at 10k distinct is the
      // SketchAggregatesSpec law) — so the row is fully oracled against
      // the SQL-exact distinct count.
      import s.implicits._
      import graft.functions.{SketchAggregates => SK}
      val est = eventStream(s, dir)
        .asKeyedCols[String, Long](col("_2.event_type"), col("_2.user_id"))
        .sumByKeyAgg[Long](c => SK.hllCountDistinct(c))
        .toDF("event_type", "__est")
      eventsDF(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .join(est, Seq("event_type"))
        .select(col("event_type"), col("n_users"),
          (abs(col("__est") - col("n_users")) <=
            greatest(lit(1.0), col("n_users") * 0.05)).as("est_ok"))
    }),


    "q_cms" -> ((s, dir) => {
      // Count-min sketch aggregate: per event_type, sketch the user_id
      // stream, then check the DETERMINISTIC CMS invariant per user —
      // a point estimate can never under-count (estimate >= exact count,
      // by construction, independent of data). The eps*N over-count bound
      // is probabilistic and lives in SketchAggregatesSpec instead.
      import s.implicits._
      import graft.functions.{SketchAggregates => SK}
      val sketches = eventStream(s, dir)
        .asKeyedCols[String, Long](col("_2.event_type"), col("_2.user_id"))
        .sumByKeyAgg[Array[Byte]](c => SK.cmsSketch(c, depth = 5, width = 8192))
        .toDF("event_type", "__sk")
      val exact = eventsDF(s, dir)
        .groupBy(col("event_type"), col("user_id")).agg(count(lit(1)).as("__cnt"))
      exact.join(sketches, Seq("event_type"))
        .select(col("event_type"), col("user_id"),
          (SK.cmsEstimate(col("__sk"), col("user_id")) >= col("__cnt")).as("cnt_ok"))
    }),


    "q_moments" -> ((s, dir) => {
      // mean/variance/skewness/kurtosis per event_type via the Moments
      // semigroup VALUE (algebird Moments; SURVEY §1.3): partials merge
      // with the Pebay pairwise formulas, stats read off the final value.
      // Rounded to 6dp on both sides — merge order differs from the
      // oracle's two-pass formula only in float ulps.
      import s.implicits._
      eventStream(s, dir)
        .asKeyedWith(_.event_type, (e: Ev) => Moments.of(e.value))
        .sumByKeyAllTime(Moments.momentsSemigroup, implicitly)
        .map { case (et, m) => (et, m.n, m.mean, m.variance, m.skewness, m.kurtosis) }
        .toDF("event_type", "n_events", "mean_v", "var_v", "skew_v", "kurt_v")
        .select(col("event_type"), col("n_events"),
          round(col("mean_v"), 6).as("mean_v"),
          round(col("var_v"), 6).as("var_v"),
          round(col("skew_v"), 6).as("skew_v"),
          round(col("kurt_v"), 6).as("kurt_v"))
    }),


    "q_heavy_hitters" -> ((s, dir) => {
      // top-3 users by event count per event_type via the SpaceSaver
      // sketch (algebird SpaceSaver; SURVEY §1.3), via the native
      // aggregate (one mutable counter map per key per partition — the
      // semigroup VALUE form pays a persistent-map fold per event, and is
      // law-checked equal in SketchAggregatesSpec). capacity 2048 >=
      // distinct users per type through sf0.1 (1500), so the sketch is in
      // its EXACT regime and the oracle is the true frequency ranking;
      // the bounded-memory approximation guarantees (eviction regime) are
      // law-checked in SemigroupSpec.
      import s.implicits._
      import graft.functions.{SketchAggregates => SK}
      eventStream(s, dir)
        .asKeyedCols[String, Long](col("_2.event_type"), col("_2.user_id"))
        .sumByKeyAggDF(c => SK.spaceSaver(c, capacity = 2048))
        .select(col("_1").as("event_type"), posexplode(col("_2")))
        .where(col("pos") < 3)
        .select(col("event_type"), col("col.item").as("user_id"), col("col.cnt").as("cnt"))
    }),


    "q_quantile" -> ((s, dir) => {
      // p50/p90/p99 of value per event_type via the QHist semigroup VALUE
      // (the algebird-QTree role; SURVEY §1.3). The histogram is exact
      // (bucket counts, not samples), so the bucket [lo, hi) holding the
      // ceil(q*n)-th element is a deterministic function of the data —
      // the oracle recomputes it from the exact rank-quantile.
      import s.implicits._
      eventStream(s, dir)
        .asKeyedWith(_.event_type, (e: Ev) => QHist.of(e.value, width = 0.25))
        .sumByKeyAllTime(QHist.qhistSemigroup, implicitly)
        .flatMap { case (et, h) =>
          Seq(0.5, 0.9, 0.99).map { p =>
            val (lo, hi) = h.quantileBounds(p)
            (et, p, lo, hi)
          }
        }
        .toDF("event_type", "p", "lo", "hi")
        .select(col("event_type"), col("p"),
          round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"))
    }),


    "q_bloom" -> ((s, dir) => {
      // Bloom filter of user_ids per event_type via the native aggregate
      // (one bit array per key per partition, OR-merged partials), then
      // the DETERMINISTIC no-false-negative invariant: every (event_type,
      // user_id) actually present must probe true. The false-positive
      // RATE is probabilistic and lives in SketchAggregatesSpec.
      import s.implicits._
      import graft.functions.{SketchAggregates => SK}
      val sketches = eventStream(s, dir)
        .asKeyedCols[String, Long](col("_2.event_type"), col("_2.user_id"))
        .sumByKeyAgg[Array[Byte]](c => SK.bloomFilter(c, numBits = 1 << 16, k = 5))
        .toDF("event_type", "__bf")
      eventsDF(s, dir).select(col("event_type"), col("user_id")).distinct()
        .join(sketches, Seq("event_type"))
        .select(col("event_type"), col("user_id"),
          SK.bfContains(col("__bf"), col("user_id")).as("contained"))
    }),


    // -- headline relational shapes (bench) ------------------------------
    "q1_pricing" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          sum((col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("cnt"))),


    "q3_revenue" -> ((s, dir) => {
      val c = t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir, "orders")
      val l = t(s, dir, "lineitem")
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    }),


    "q_top_users" -> ((s, dir) =>
      eventsDF(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("total_value"))
        .orderBy(col("n_events").desc, col("user_id"))
        .limit(50))
  )

  def oracleSql: Map[String, String] = Map(

    "q_source" ->
      "SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ts_ms FROM events",


    "q_map" -> "SELECT event_id, value * 2 AS doubled FROM events",


    "q_filter" ->
      "SELECT event_id, user_id FROM events WHERE event_type = 'click'",


    "q_flatmap" ->
      """SELECT doc_id, w AS word FROM (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS w
        |  FROM documents)""".stripMargin,


    "q_collect" ->
      "SELECT user_id, value FROM events WHERE event_type = 'purchase'",


    "q_optionmap" ->
      """SELECT event_id, CAST(regexp_extract(props, '[0-9]{1,18}') AS BIGINT) AS k
        |FROM events WHERE regexp_matches(props, '[0-9]')""".stripMargin,


    "q_merge" ->
      """SELECT event_id, event_type FROM events WHERE event_type = 'click'
        |UNION ALL
        |SELECT event_id, event_type FROM events WHERE event_type = 'purchase'""".stripMargin,


    "q_either" ->
      """SELECT 'L' AS side, event_id AS id FROM events WHERE event_type = 'signup'
        |UNION ALL
        |SELECT 'R' AS side, doc_id AS id FROM documents""".stripMargin,


    "q_sumbykey" ->
      """SELECT w AS word, count(*) AS cnt FROM (
        |  SELECT unnest(list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0)) AS w
        |  FROM documents) GROUP BY w""".stripMargin,


    "q_mapkeys" ->
      "SELECT user_id % 10 AS bucket, count(*) AS cnt FROM events GROUP BY 1",


    "q_flatmapkeys" ->
      """SELECT k AS user_key, count(*) AS cnt FROM (
        |  SELECT user_id AS k FROM events
        |  UNION ALL SELECT user_id + 1000 AS k FROM events) GROUP BY k""".stripMargin,


    "q_mapvalues" ->
      "SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id",


    "q_flatmapvalues" ->
      "SELECT user_id, count(*) * 2 AS cnt FROM events GROUP BY user_id",


    "q_filterkeys" ->
      "SELECT user_id, count(*) AS cnt FROM events WHERE user_id < 50 GROUP BY user_id",


    "q_filtervalues" ->
      "SELECT user_id, count(*) AS cnt FROM events WHERE value > 50.0 GROUP BY user_id",


    "q_keys" ->
      "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type",


    "q_values" ->
      "SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id",


    "q_swap" ->
      "SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id",


    "q_leftjoin" ->
      """SELECT e.event_id, e.user_id, c.c_name
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""".stripMargin,


    "q_leftjoin_external" ->
      """SELECT e.event_id, e.user_id, c.c_name
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""".stripMargin,


    "q_lookup" ->
      """SELECT e.user_id, c.c_mktsegment AS segment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey""".stripMargin,


    // the oracle IS the naive non-equi join the operator rewrites away
    "q_range_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |ON c.user_id = p.user_id AND c.ts >= p.ts
        |  AND c.ts < p.ts + INTERVAL 1 HOUR""".stripMargin,


    // naive non-equi LEFT join: unmatched clicks keep a NULL purchase_id
    "q_range_join_left" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |ON c.user_id = p.user_id AND c.ts >= p.ts
        |  AND c.ts < p.ts + INTERVAL 1 HOUR""".stripMargin,


    // naive non-equi overlap join: [p, p+1h) and [c, c+30m) intersect
    "q_interval_overlap" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |ON p.user_id = c.user_id
        |  AND p.ts < c.ts + INTERVAL 30 MINUTE
        |  AND c.ts < p.ts + INTERVAL 1 HOUR""".stripMargin,


    "q_asof_join" ->
      """SELECT e.event_id, e.user_id, r.signup_id
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') e
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts AS signup_ts, max(event_id) AS signup_id
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id, ts) r
        |ON e.user_id = r.user_id AND e.ts >= r.signup_ts""".stripMargin,


    "q_asof_summing" ->
      """SELECT e.event_id, e.user_id,
        |  (SELECT count(*) FROM events c
        |   WHERE c.user_id = e.user_id AND c.event_type = 'click' AND c.ts <= e.ts)
        |  AS clicks_before
        |FROM events e WHERE e.event_type = 'purchase'""".stripMargin,


    "q_batcher" ->
      """SELECT user_id, CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS batch_id,
        |  count(*) AS cnt FROM events GROUP BY 1, 2""".stripMargin,


    "q_batcher_calendar" ->
      """SELECT user_id,
        |  date_diff('day', DATE '1970-01-01',
        |    CAST(timezone('America/New_York', CAST(ts AS TIMESTAMPTZ)) AS DATE)) AS batch_id,
        |  count(*) AS cnt
        |FROM events GROUP BY user_id, batch_id""".stripMargin,


    "q_collectkeys" ->
      """SELECT upper(event_type) AS etype, count(*) AS cnt
        |FROM events WHERE event_type LIKE 'p%' GROUP BY 1""".stripMargin,


    "q_collectvalues" ->
      """SELECT user_id, round(sum(value - 100), 6) AS sumv
        |FROM events WHERE value > 100 GROUP BY 1""".stripMargin,


    "q_decayed" ->
      """WITH m AS (SELECT user_id, max(epoch_ms(ts)) AS tmax FROM events GROUP BY 1)
        |SELECT e.user_id, m.tmax AS last_ts_ms,
        |  round(sum(e.value * pow(2.0, (epoch_ms(e.ts) - m.tmax) / 604800000.0)), 6)
        |    AS decayed
        |FROM events e JOIN m ON e.user_id = m.user_id
        |GROUP BY e.user_id, m.tmax""".stripMargin,


    // per-user ms timestamps are unique in this data (no ties), so
    // latest-write-wins is deterministic and arg_max is an exact oracle
    "q_lastbytime" ->
      """SELECT user_id, epoch_ms(max(ts)) AS last_ts_ms,
        |  arg_max(event_type, ts) AS last_type
        |FROM events GROUP BY 1""".stripMargin,


    // Combined(daily, hourly, at=2024-01-15T00:00Z): boundaryBatch =
    // floorDiv(cut-1, day) = 19736, afterBase = floorDiv(cut, hour) = 473688,
    // so post-cut ids are (19736 + 1 - 473688) + hourly_id = -453951 + hourly_id
    "q_batcher_combined" ->
      """SELECT user_id,
        |  CASE WHEN epoch_ms(ts) < 1705276800000
        |    THEN CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT)
        |    ELSE -453951 + CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT)
        |  END AS batch_id,
        |  count(*) AS cnt
        |FROM events GROUP BY 1, 2""".stripMargin,


    "q_sumbykey_delta" ->
      """WITH per_batch AS (
        |  SELECT user_id, CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS batch_id,
        |    count(*) AS delta
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, batch_id,
        |  CAST(sum(delta) OVER (PARTITION BY user_id ORDER BY batch_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS prior,
        |  delta
        |FROM per_batch""".stripMargin,


    "q_client_merge" ->
      "SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id",


    "q_batch_merge" ->
      """WITH per_batch AS (
        |  SELECT user_id, CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS batch_id,
        |    count(*) AS delta
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, batch_id,
        |  CAST(sum(delta) OVER (PARTITION BY user_id ORDER BY batch_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS prior,
        |  delta
        |FROM per_batch""".stripMargin,


    "q_lambda_merged" ->
      "SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id",


    // takedown on the serving store: all-time counts over the RETAINED keys
    "q_store_delete" ->
      """SELECT user_id, count(*) AS cnt FROM events
        |WHERE user_id % 5 <> 2 GROUP BY user_id""".stripMargin,


    // historical recompute: after the backfill, the two rewritten
    // snapshots must equal a per-batch recompute over the master dataset
    "q_backfill" ->
      """SELECT user_id, CAST(19768 AS BIGINT) AS batch_id, count(*) AS cnt
        |FROM events
        |WHERE CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) <= 19768
        |GROUP BY user_id
        |UNION ALL
        |SELECT user_id, CAST(19800 AS BIGINT) AS batch_id, count(*) AS cnt
        |FROM events GROUP BY user_id""".stripMargin,


    // takedown × recompute composition: a dirty backfill re-applies the
    // recorded revocations, so the served store is a recompute over the
    // retained users only
    "q_backfill_guard" ->
      """SELECT user_id, count(*) AS cnt FROM events
        |WHERE user_id % 7 <> 3 GROUP BY user_id""".stripMargin,


    // 6 point gets through the clustered serving layout == all-data counts
    "q_client_get" ->
      """SELECT user_id, count(*) AS cnt FROM events
        |WHERE user_id IN (
        |  SELECT user_id FROM events GROUP BY user_id ORDER BY user_id LIMIT 6)
        |GROUP BY user_id""".stripMargin,


    "q_window_service" ->
      """SELECT e.event_id, e.user_id,
        |  CASE WHEN r.signup_ts >= e.ts - INTERVAL 7 DAY THEN r.signup_id END AS signup_id
        |FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') e
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts AS signup_ts, max(event_id) AS signup_id
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id, ts) r
        |ON e.user_id = r.user_id AND e.ts >= r.signup_ts""".stripMargin,


    // gaps-and-islands with the half-open gap convention (diff >= gap
    // starts a new session); CAST the running sum (DuckDB window sum of
    // BIGINT is HUGEINT)
    "q_sessionize" -> sessionizeOracle,

    // the hot-key chunked form must emit IDENTICAL sessions
    "q_sessionize_presplit" -> sessionizeOracle,


    // each event covers the 7 day-aligned windows ending at-or-after it;
    // the lateral series reproduces Spark's window() explode exactly
    "q_sliding_window" ->
      """SELECT e.user_id, CAST(t.d AS BIGINT) AS window_day, count(*) AS cnt
        |FROM events e, UNNEST(generate_series(
        |  CAST(floor(epoch_ms(e.ts) / 86400000.0) AS BIGINT) - 6,
        |  CAST(floor(epoch_ms(e.ts) / 86400000.0) AS BIGINT))) AS t(d)
        |GROUP BY 1, 2""".stripMargin,


    // streamed sliding-window set == the same 7-window-per-event cover
    // (computed Spark-side); the oracle pins the distinct (user, window)
    // count over the fed slice
    "q_streaming_sliding" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_windows, TRUE AS stream_eq_batch
        |FROM (
        |  SELECT e.user_id, t.d FROM events e, UNNEST(generate_series(
        |    CAST(floor(epoch_ms(e.ts) / 86400000.0) AS BIGINT) - 6,
        |    CAST(floor(epoch_ms(e.ts) / 86400000.0) AS BIGINT))) AS t(d)
        |  WHERE e.user_id % 10 = 0 GROUP BY 1, 2)""".stripMargin,


    // streamed session set == batch gaps-and-islands set (computed
    // Spark-side); the oracle pins the session count over the fed slice
    "q_streaming_sessionize" ->
      """WITH m AS (
        |  SELECT user_id, epoch_ms(ts) AS ts_ms,
        |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
        |         OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w >= 1800000
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE user_id % 10 = 0
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)))
        |SELECT CAST(sum(is_new) AS BIGINT) AS n_sessions,
        |  TRUE AS stream_eq_batch
        |FROM m""".stripMargin,


    // unique-keyed service = plain left equi-join on the dimension shape;
    // empty service = typed null column
    "q_unique_service" ->
      """SELECT e.event_id, e.user_id, f.signup_event_id,
        |  CAST(NULL AS BIGINT) AS missing_val
        |FROM events e LEFT JOIN (
        |  SELECT user_id, CAST(min(event_id) AS BIGINT) AS signup_event_id
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id) f
        |USING (user_id)""".stripMargin,


    "q_loop_join" ->
      """SELECT event_id, user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS prior_events
        |FROM events""".stripMargin,


    // the incremental driver's three roll-forward runs must reconstruct
    // the all-time totals exactly — no dropped or double-counted batches
    "q_incremental_driver" ->
      "SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id",


    // a hole at dense batch 3 shrinks the plan to (1,2); the read returns
    // exactly those batches' rows; a request starting at the hole is None
    "q_availability" ->
      """WITH d AS (
        |  SELECT day, dense_rank() OVER (ORDER BY day) AS batch_id FROM (
        |    SELECT DISTINCT CAST(floor(epoch_ms(ts) / 86400000.0) AS BIGINT) AS day
        |    FROM events))
        |SELECT CAST(1 AS BIGINT) AS planned_lo, CAST(2 AS BIGINT) AS planned_hi,
        |  (SELECT count(*) FROM events e
        |   JOIN d ON CAST(floor(epoch_ms(e.ts) / 86400000.0) AS BIGINT) = d.day
        |   WHERE d.batch_id <= 2) AS n_rows,
        |  TRUE AS hole_start_none""".stripMargin,


    // the name label is semantics-free; the shards and commutativity
    // options are Spark-computed invariants the oracle pins TRUE
    "q_name_options" ->
      """SELECT user_id, count(*) AS cnt, TRUE AS paths_equal, TRUE AS shards_ok
        |FROM events GROUP BY user_id""".stripMargin,


    "q_sumbykey_ordered" ->
      """SELECT user_id, string_agg(event_id, ',' ORDER BY event_id) AS event_ids
        |FROM events GROUP BY user_id""".stripMargin,


    // the chunked fold merges back to exactly the ordered concat
    "q_sumbykey_presplit" ->
      """SELECT user_id, string_agg(event_id, ',' ORDER BY event_id) AS event_ids
        |FROM events GROUP BY user_id""".stripMargin,


    "q_max_by" ->
      """SELECT user_id, event_id AS last_event FROM (
        |  SELECT user_id, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,


    "q_topk" ->
      """SELECT event_type, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events) WHERE rn <= 5""".stripMargin,


    "q_count_distinct" ->
      "SELECT event_type, count(DISTINCT user_id) AS n_users FROM events GROUP BY event_type",


    // CAST(sum(..) AS BIGINT): DuckDB's sum(BIGINT) returns HUGEINT (int128),
    // which hash-mismatches Spark's LongType even when the values agree.
    "q_json_props" ->
      """SELECT event_type, count(*) AS n_hi, CAST(sum(k) AS BIGINT) AS sum_k
        |FROM (SELECT event_type,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |WHERE k >= 50 GROUP BY event_type""".stripMargin,


    // HLL invariant row: the exact count is recomputed in SQL; the
    // estimate must land within the 5% envelope for every key
    "q_hll" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, TRUE AS est_ok
        |FROM events GROUP BY event_type""".stripMargin,


    "q_cms" ->
      """SELECT event_type, user_id, TRUE AS cnt_ok
        |FROM events GROUP BY event_type, user_id""".stripMargin,


    // central moments: Spark merges partials pairwise (Pebay), the oracle
    // computes two-pass population moments — identical up to float ulps,
    // pinned by the 6dp rounding on both sides
    "q_moments" ->
      """WITH m AS (
        |  SELECT event_type, count(*) AS n_events, avg(value) AS mu
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, m.n_events,
        |  round(m.mu, 6) AS mean_v,
        |  round(avg(pow(e.value - m.mu, 2)), 6) AS var_v,
        |  round(avg(pow(e.value - m.mu, 3))
        |    / pow(avg(pow(e.value - m.mu, 2)), 1.5), 6) AS skew_v,
        |  round(avg(pow(e.value - m.mu, 4))
        |    / pow(avg(pow(e.value - m.mu, 2)), 2) - 3.0, 6) AS kurt_v
        |FROM events e JOIN m USING (event_type)
        |GROUP BY e.event_type, m.n_events, m.mu""".stripMargin,


    // capacity >= distinct users per type => the sketch is exact, and the
    // oracle is the true ranking (ties broken by user_id on both sides)
    "q_heavy_hitters" ->
      """SELECT event_type, user_id, cnt FROM (
        |  SELECT event_type, user_id, count(*) AS cnt,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY count(*) DESC, user_id ASC) AS rn
        |  FROM events GROUP BY event_type, user_id) WHERE rn <= 3""".stripMargin,


    // the bucket of the ceil(q*n)-th smallest value is a deterministic
    // function of the exact rank-quantile; width 0.25 buckets have exact
    // binary bounds so the 6dp rounding is a no-op on both sides
    "q_quantile" ->
      """WITH r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type, CAST(p AS DOUBLE) AS p,
        |  round(0.25 * floor(value / 0.25), 6) AS lo,
        |  round(0.25 * (floor(value / 0.25) + 1), 6) AS hi
        |FROM r JOIN (VALUES (0.5), (0.9), (0.99)) AS ps(p) ON TRUE
        |WHERE rk = greatest(1, CAST(ceil(p * n) AS BIGINT))""".stripMargin,


    // Bloom no-false-negatives: every present pair must probe true,
    // independent of sketch parameters
    "q_bloom" ->
      """SELECT DISTINCT event_type, user_id, TRUE AS contained
        |FROM events""".stripMargin,


    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS sum_disc_price,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,


    "q3_revenue" ->
      """SELECT o_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,


    "q_top_users" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY user_id
        |ORDER BY n_events DESC, user_id LIMIT 50""".stripMargin
  )
}
