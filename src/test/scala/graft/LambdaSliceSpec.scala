package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.algebra.Semigroup
import graft.api.GraftStream
import graft.batch.BatchStore
import graft.client.ClientStore
import graft.streaming.StreamingSum
import graft.time.{BatchID, Batcher, Timestamp}

/** SURVEY §7.2's first milestone, proven end-to-end: one wordCount job
  * (reference summingbird-example ExampleJob.scala:43-50) run through
  *   (a) the incremental batch path — `sumDeltasPerBatch` →
  *       `BatchStore.merge` snapshot commits → roll-forward re-run that
  *       reads ONLY the new deltas,
  *   (b) the lambda serving read — `ClientStore.merged` / `get` over the
  *       committed snapshot + online deltas,
  *   (c) the streaming path — `StreamingSum` on a `MemoryStream`,
  * all three asserted equal to the in-Scala model (the reference's paired
  * job/model law style, TestGraphs.scala:106-597 + ClientStoreLaws).
  */
class LambdaSliceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val batcher = Batcher.ofMillis(100)
  private val words = Vector("the", "quick", "brown", "fox", "jumps")
  // 400 timed words over batches 0..9, deterministic
  private val events: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(400)((rnd.nextLong(1000L), words(rnd.nextInt(words.size))))
  }

  private def deltasModel(evs: Seq[(Long, String)]): Map[(String, Long), Long] =
    evs.groupBy { case (ts, w) => (w, batcher.batchOf(Timestamp(ts)).id) }
      .view.mapValues(_.size.toLong).toMap
  private def totalsModel(evs: Seq[(Long, String)]): Map[String, Long] =
    evs.groupBy(_._2).view.mapValues(_.size.toLong).toMap

  private def deltaDs = {
    val s = spark; import s.implicits._
    GraftStream.from(events.toDS())(_._1)
      .asKeyedWith(_._2, (_: (Long, String)) => 1L)
      .sumDeltasPerBatch(batcher)(Semigroup.longSemigroup)
  }

  test("incremental BatchStore.merge: two-step == one-shot == model, snapshot rolls forward") {
    val s = spark; import s.implicits._
    val deltas = deltaDs
    val tmp = Files.createTempDirectory("graft_lambda_").toString
    val store = new BatchStore[String, Long](tmp)
    val out1 = store.merge(spark, deltas, BatchID(4))(Semigroup.longSemigroup).collect()
    val out2 = store.merge(spark, deltas, BatchID(9))(Semigroup.longSemigroup).collect()

    // the second run consumed only the NEW deltas (batches 5..9)
    assert(out1.nonEmpty && out1.forall(_._2 <= 4))
    assert(out2.nonEmpty && out2.forall(r => r._2 > 4 && r._2 <= 9))

    val all = out1 ++ out2
    val dm = deltasModel(events)
    assert(all.map(r => (r._1, r._2)).toSet == dm.keySet)
    all.foreach { case (k, b, (prior, delta)) =>
      assert(delta == dm((k, b)), s"delta $k/$b")
      val expPrior = dm.collect { case ((`k`, b2), v) if b2 < b => v }.sum
      assert(prior == (if (expPrior == 0) None else Some(expPrior)), s"prior $k/$b")
    }

    // committed snapshot is the all-time sum
    val (snapBatch, snapDs) = store.readLast(spark).get
    assert(snapBatch == BatchID(9))
    assert(snapDs.collect().toMap == totalsModel(events))

    // one-shot merge on a fresh store emits the identical rows
    val tmp2 = Files.createTempDirectory("graft_lambda1s_").toString
    val oneShot = new BatchStore[String, Long](tmp2)
      .merge(spark, deltas, BatchID(9))(Semigroup.longSemigroup).collect()
    assert(oneShot.toSet == all.toSet)
  }

  test("sketch value types are legal store content: Moments and QHist roll through BatchStore.merge") {
    import graft.algebra.{Moments, QHist}
    val s = spark; import s.implicits._
    val raw = Seq( // (key, batch, x)
      ("a", 1L, 2.0), ("a", 1L, 8.0), ("a", 2L, 5.0), ("b", 1L, 3.0),
      ("a", 3L, 7.0), ("b", 3L, 4.0), ("b", 3L, 4.5))

    val tmpM = Files.createTempDirectory("graft_moments_store_").toString
    val storeM = new BatchStore[String, Moments](tmpM)
    val mDeltas = raw.toDS().map { case (k, b, x) => (k, b, Moments.of(x)) }
    storeM.merge(spark, mDeltas, BatchID(2))(Moments.momentsSemigroup).collect()
    storeM.merge(spark, mDeltas, BatchID(3))(Moments.momentsSemigroup).collect()
    val (mBatch, mSnap) = storeM.readLast(spark).get
    assert(mBatch == BatchID(3))
    val mGot = mSnap.collect().toMap
    val mModel = raw.groupBy(_._1).view.mapValues(
      evs => evs.map(e => Moments.of(e._3)).reduce(Moments.momentsSemigroup.plus)).toMap
    assert(mGot.keySet == mModel.keySet)
    mModel.foreach { case (k, m) =>
      assert(mGot(k).n == m.n)
      assert(math.abs(mGot(k).mean - m.mean) < 1e-9)
      assert(math.abs(mGot(k).variance - m.variance) < 1e-9)
    }

    val tmpQ = Files.createTempDirectory("graft_qhist_store_").toString
    val storeQ = new BatchStore[String, QHist](tmpQ)
    val qDeltas = raw.toDS().map { case (k, b, x) => (k, b, QHist.of(x, width = 1.0)) }
    storeQ.merge(spark, qDeltas, BatchID(3))(QHist.qhistSemigroup).collect()
    val qGot = storeQ.readLast(spark).get._2.collect().toMap
    val qModel = raw.groupBy(_._1).view.mapValues(
      evs => evs.map(e => QHist.of(e._3, 1.0)).reduce(QHist.qhistSemigroup.plus)).toMap
    assert(qGot == qModel.toMap)
    assert(qGot("a").quantileBounds(0.5) == (5.0, 6.0))
  }

  test("ClientStore.merged/get over snapshot + online deltas == all-data recompute") {
    val s = spark; import s.implicits._
    val deltas = deltaDs
    val tmp = Files.createTempDirectory("graft_lambda_cs_").toString
    val store = new BatchStore[String, Long](tmp)
    // offline covers batches <= 4; the delta stream plays the online store
    store.merge(spark, deltas, BatchID(4))(Semigroup.longSemigroup).collect()

    val merged = ClientStore.merged(spark, store, deltas)(
      Semigroup.longSemigroup, implicitly, implicitly).collect().toMap
    assert(merged == totalsModel(events))

    for (w <- words :+ "absent")
      assert(ClientStore.get(spark, store, deltas, w)(
        Semigroup.longSemigroup, implicitly, implicitly) == totalsModel(events).get(w),
        s"get($w)")
  }

  test("key-clustered store: merged/get equal the flat layout (serving layout is transparent)") {
    val s = spark; import s.implicits._
    val deltas = deltaDs
    val tmpFlat = Files.createTempDirectory("graft_lambda_flat_").toString
    val tmpClus = Files.createTempDirectory("graft_lambda_clus_").toString
    val flat = new BatchStore[String, Long](tmpFlat)
    val clustered = new BatchStore[String, Long](tmpClus, keyBuckets = Some(4))
    flat.merge(spark, deltas, BatchID(4))(Semigroup.longSemigroup).collect()
    clustered.merge(spark, deltas, BatchID(4))(Semigroup.longSemigroup).collect()
    // full-store reads agree across layouts
    assert(clustered.readLast(spark).get._2.collect().toMap ==
      flat.readLast(spark).get._2.collect().toMap)
    // point gets agree, including the miss
    for (w <- words :+ "absent")
      assert(ClientStore.get(spark, clustered, deltas, w)(
        Semigroup.longSemigroup, implicitly, implicitly) == totalsModel(events).get(w),
        s"clustered get($w)")
    // multiget == the per-key gets in one job; missing keys simply absent
    val multi = ClientStore.getBatch(spark, clustered, deltas, words :+ "absent")(
      Semigroup.longSemigroup, implicitly, implicitly)
    assert(multi == totalsModel(events).view.filterKeys(words.toSet).toMap)
  }

  test("ClientStore.merged folds offline-then-online in batch order for non-commutative semigroups") {
    val s = spark; import s.implicits._
    // list-concat is order-sensitive: the serving merge must produce the
    // same sequence as replaying all events in batch order
    val sg: Semigroup[List[Long]] = Semigroup.from(commutative = false)(_ ++ _)
    val evs: Seq[(Long, String)] = events
    val listDeltas = GraftStream.from(evs.toDS())(_._1)
      .asKeyedWith(_._2, (e: (Long, String)) => List(e._1))
      .sumDeltasPerBatch(batcher)(sg)
    val tmp = Files.createTempDirectory("graft_lambda_nc_").toString
    val store = new BatchStore[String, List[Long]](tmp)
    store.merge(spark, listDeltas, BatchID(4))(sg).collect()

    val merged = ClientStore.merged(spark, store, listDeltas)(sg, implicitly, implicitly)
      .collect().toMap
    // model: per word, all timestamps in (batch, event-time) order
    val model = evs.groupBy(_._2).view.mapValues { ws =>
      ws.map(_._1).sortBy(t => (batcher.batchOf(Timestamp(t)).id, t)).toList
    }.toMap
    assert(merged == model)
    for (w <- words)
      assert(ClientStore.get(spark, store, listDeltas, w)(sg, implicitly, implicitly)
        .contains(model(w)), s"get($w)")
  }

  test("ClientStore.getBatch folds offline-then-online in batch order: equals merged on its keys") {
    val s = spark; import s.implicits._
    val sg: Semigroup[List[Long]] = Semigroup.from(commutative = false)(_ ++ _)
    val evs: Seq[(Long, String)] = events
    val listDeltas = GraftStream.from(evs.toDS())(_._1)
      .asKeyedWith(_._2, (e: (Long, String)) => List(e._1))
      .sumDeltasPerBatch(batcher)(sg)
    // "late" has deltas only in the online range (batches 7 and 8), so it
    // is absent from the snapshot
    val online = listDeltas.union(Seq(("late", 7L, List(701L)), ("late", 8L, List(801L))).toDS())
    val tmp = Files.createTempDirectory("graft_lambda_gb_nc_").toString
    val store = new BatchStore[String, List[Long]](tmp, keyBuckets = Some(4))
    store.merge(spark, listDeltas, BatchID(4))(sg).collect()
    val keys = words :+ "late" :+ "absent"
    // upTo = 7 cuts inside the online range (5..9): batch 8 and 9 deltas
    // are excluded, "late" keeps only its batch-7 delta
    for (upTo <- Seq(BatchID(7), BatchID(Long.MaxValue))) {
      val merged = ClientStore.merged(spark, store, online, upTo)(sg, implicitly, implicitly)
        .collect().toMap
      val got = ClientStore.getBatch(spark, store, online, keys, upTo)(sg, implicitly, implicitly)
      assert(got == merged.view.filterKeys(keys.toSet).toMap, s"upTo=$upTo")
      assert(!got.contains("absent"))
      assert(got("late") == (if (upTo == BatchID(7)) List(701L) else List(701L, 801L)))
      val model = evs.filter(e => batcher.batchOf(Timestamp(e._1)).id <= upTo.id)
        .groupBy(_._2).view.mapValues { ws =>
          ws.map(_._1).sortBy(t => (batcher.batchOf(Timestamp(t)).id, t)).toList
        }.toMap
      assert(got.removed("late") == model, s"upTo=$upTo")
    }
  }

  test("ClientStore.getBatch of an empty key set is an empty map") {
    val s = spark; import s.implicits._
    val tmp = Files.createTempDirectory("graft_lambda_gb_empty_").toString
    val store = new BatchStore[String, Long](tmp, keyBuckets = Some(4))
    store.merge(spark, deltaDs, BatchID(4))(Semigroup.longSemigroup).collect()
    assert(ClientStore.getBatch(spark, store, deltaDs, Seq.empty[String])(
      Semigroup.longSemigroup, implicitly, implicitly) == Map.empty)
  }

  test("the SAME GraftStream operator pipeline runs on a streaming Dataset (one API, two planners)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // identical logical pipeline, written once against GraftStream
    def pipeline(src: GraftStream[(Long, String)]) =
      src.flatMap(r => r._2.split(" ").iterator.filter(_.nonEmpty))
        .filter(_ != "skip")
        .asKeyedWith(identity[String], (_: String) => 1L)
    val data = Seq((100L, "a b skip"), (250L, "b c"), (310L, "a a skip b"))

    val batch = pipeline(GraftStream.from(data.toDS())(_._1))
      .sumDeltasPerBatch(batcher)(Semigroup.longSemigroup)
      .collect().map(r => ((r._1, r._2), r._3)).toMap

    val ms = MemoryStream[(Long, String)]
    val keyed = pipeline(new graft.api.GraftStream(
      graft.streaming.StreamingIO.timed(ms.toDS())(_._1).map { case (t, r) => (t, r) }))
    val out = graft.streaming.StreamingSum.sumByKey[String, Long](
        keyed.ds, batcher)(Semigroup.longSemigroup, implicitly, implicitly)
      .map { case (k, b, (_, d)) => (k, b, d) }
    val q = out.writeStream.format("memory").queryName("same_api_out")
      .outputMode("append").start()
    try { ms.addData(data: _*); q.processAllAvailable() } finally q.stop()
    val streaming = spark.table("same_api_out").as[(String, Long, Long)]
      .collect().groupBy(r => (r._1, r._2)).view.mapValues(_.map(_._3).sum).toMap
    assert(streaming == batch)
  }

  test("loop join across the batch/streaming handoff: offline store seeds online state") {
    // the lambda slice at the hardest operator: run the batch LoopJoin over
    // the early events, hand its final store to StreamingLoopJoin as the
    // initial state for the late events — the combined join output must
    // equal ONE batch LoopJoin over all events (reference semantics: the
    // online loop join picks up exactly where the offline store left off)
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val sg: Semigroup[Long] = Semigroup.longSemigroup
    val fn: (Long, Option[Long]) => Option[Long] = (u, st) => Some(st.getOrElse(0L) + u)
    // unique, increasing ts; keys cycle so every key spans the handoff
    val all = Seq.tabulate(40)(i => (i.toLong, i.toLong % 4, (i + 1).toLong))
    val (early, late) = all.partition(_._1 < 20)

    val batchPhase = graft.operators.LoopJoin
      .joinAndState[Long, Long, Long](early.toDS(), None, fn).collect()
    val offlineStore = batchPhase.collect { case Right(kv) => kv }.toMap
    val joins1 = batchPhase.collect { case Left(r) => (r._1, r._2, r._3._1, r._3._2) }

    val ms = MemoryStream[(Long, Long, Long)]
    val out = graft.streaming.StreamingLoopJoin.loopJoin[Long, Long, Long](
      ms.toDS(), Some(offlineStore.toSeq.toDS()), fn)
    val q = out.writeStream.format("memory").queryName("lj_handoff")
      .outputMode("append").start()
    try { ms.addData(late: _*); q.processAllAvailable() } finally q.stop()
    val joins2 = spark.table("lj_handoff").as[(Long, Long, (Long, Option[Long]))]
      .collect().map(r => (r._1, r._2, r._3._1, r._3._2))

    val full = graft.operators.LoopJoin
      .loopJoin[Long, Long, Long](all.toDS(), None, fn)
      .collect().map(r => (r._1, r._2, r._3._1, r._3._2))
    assert((joins1 ++ joins2).toSet == full.toSet)
    assert(joins1.length + joins2.length == full.length)
  }

  test("uncommitted snapshot directories are invisible to readLast") {
    val s = spark; import s.implicits._
    val tmp = Files.createTempDirectory("graft_commitlog_").toString
    val store = new BatchStore[String, Long](tmp)
    val deltas = deltaDs
    store.merge(spark, deltas, BatchID(4))(Semigroup.longSemigroup).collect()
    // a crashed job that wrote data but never committed: bare parquet dir
    Seq(("ghost", 999L)).toDF("key", "value")
      .write.parquet(s"$tmp/batch_id=99")
    assert(store.readLast(spark).get._1 == BatchID(4))
    assert(!store.readLast(spark).get._2.collect().toMap.contains("ghost"))
  }

  test("non-commutative semigroup through BatchStore.merge folds in batch order") {
    val s = spark; import s.implicits._
    implicit val listSg: Semigroup[List[Long]] = Semigroup.listSemigroup[Long]
    // (ts, key, value-as-singleton-list); ts unique => total order
    val evs = Seq.tabulate(60)(i => (i.toLong * 37 % 1000, i.toLong % 3, i.toLong))
      .groupBy(e => (e._1, e._2)).values.map(_.head).toSeq
    val deltas = GraftStream.from(evs.toDS())(_._1)
      .asKeyedWith(_._2, (e: (Long, Long, Long)) => List(e._3))
      .sumDeltasPerBatch(batcher)
    val tmp = Files.createTempDirectory("graft_lambda_nc_").toString
    val store = new BatchStore[Long, List[Long]](tmp)
    store.merge(spark, deltas, BatchID(4)).collect()
    val out = store.merge(spark, deltas, BatchID(9)).collect()
    // after both merges the snapshot is the FULL time-ordered concatenation
    val snap = store.readLast(spark).get._2.collect().toMap
    val model = evs.groupBy(_._2).view.mapValues(_.toSeq.sortBy(_._1).map(_._3).toList).toMap
    assert(snap == model)
    // and every emitted prior is a prefix of the final value
    out.foreach { case (k, _, (prior, _)) =>
      prior.foreach(p => assert(model(k).startsWith(p), s"$k: $p not a prefix"))
    }
  }

  test("non-commutative semigroup through StreamingSum folds micro-batch rows in event-time order") {
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val listSg: Semigroup[List[Long]] = Semigroup.listSemigroup[Long]
    val ms = MemoryStream[(Long, Long, List[Long])]
    val out = StreamingSum.sumByKey[Long, List[Long]](ms.toDS(), Batcher.unit)
      .map { case (k, _, (p, d)) => (k, p.getOrElse(Nil).mkString(","), d.mkString(",")) }
    val q = out.writeStream.format("memory").queryName("nc_stream_out")
      .outputMode("append").start()
    try {
      // deliberately out of ts order within the micro-batch
      ms.addData((30L, 1L, List(30L)), (10L, 1L, List(10L)), (20L, 1L, List(20L)))
      q.processAllAvailable()
      ms.addData((50L, 1L, List(50L)), (40L, 1L, List(40L)))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("nc_stream_out").as[(Long, String, String)].collect().toSet
    assert(rows == Set((1L, "", "10,20,30"), (1L, "10,20,30", "40,50")))
  }

  test("StreamingSum on MemoryStream: summed deltas == batch deltas, prior chain replays state, lambda merge == model") {
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, Long)]
    val out = StreamingSum.sumByKey[String, Long](ms.toDS(), batcher)(
        Semigroup.longSemigroup, implicitly, implicitly)
      .map { case (k, b, (p, d)) => (k, b, p, d) }
    val q = out.writeStream.format("memory").queryName("lambda_stream_out")
      .outputMode("append").start()
    try {
      val rows = events.map { case (ts, w) => (ts, w, 1L) }
      val (h1, h2) = rows.splitAt(rows.size / 2)
      ms.addData(h1: _*); q.processAllAvailable()
      ms.addData(h2: _*); q.processAllAvailable()
    } finally q.stop()
    val emitted = spark.table("lambda_stream_out")
      .as[(String, Long, Option[Long], Long)].collect()

    // deltas summed across micro-batches match the batch-path deltas
    val summed = emitted.groupBy(r => (r._1, r._2))
      .view.mapValues(_.map(_._4).sum).toMap
    assert(summed == deltasModel(events))

    // the (Option[V], V) contract per (K, batch) state cell: priors replay
    // the running per-cell sum in emission order (reference online Summer,
    // Summer.scala:56-128 — state keyed (K, BatchID))
    emitted.groupBy(r => (r._1, r._2)).values.foreach { cell =>
      val inOrder = cell.sortBy(_._3.getOrElse(0L))
      inOrder.foldLeft(Option.empty[Long]) { (acc, r) =>
        assert(r._3 == acc, s"prior chain broken at $r")
        Some(acc.getOrElse(0L) + r._4)
      }
    }

    // lambda read over a batch snapshot + the streaming deltas: offline
    // through batch 4, streaming rows as the online store
    val tmp = Files.createTempDirectory("graft_lambda_ss_").toString
    val store = new BatchStore[String, Long](tmp)
    store.merge(spark, deltaDs, BatchID(4))(Semigroup.longSemigroup).collect()
    val online = emitted.toSeq.map(r => (r._1, r._2, r._4)).toDS()
    val served = ClientStore.merged(spark, store, online)(
      Semigroup.longSemigroup, implicitly, implicitly).collect().toMap
    assert(served == totalsModel(events))
  }
}
