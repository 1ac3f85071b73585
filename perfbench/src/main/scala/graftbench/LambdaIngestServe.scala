package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.algebra.Semigroup
import graft.api.GraftStream
import graft.batch.{BatchDriver, BatchStore}
import graft.client.ClientStore
import graft.streaming.StreamingSum
import graft.time.{BatchID, Batcher}

/** The paper's lambda loop: write path and read path over one store layer.
  *
  * Each tick lands one day-batch of events (users drawn uniformly from a
  * key space five times the size of a day, so state grows tick by tick) as
  * a `batch_id=N` partition. Set-up seeds [[SeedDays]] days, so the store
  * already holds most keys and grows by a few per cent a tick: its size,
  * and so the cost of a commit, barely depends on how many ticks a run
  * fits.
  *
  * The batch layer rolls the key-clustered store forward through the
  * previous day with `BatchDriver.runIncremental` (it lags the online layer
  * by one day, as a batch layer does), the online Summer
  * (`StreamingSum.sumByKey`, RocksDB state) sums the new day, and the
  * client then sends one `ClientStore.getBatch` request each of 1, 8 and
  * 64 Zipf-drawn keys and `ClientStore.get` point lookups, about one key in
  * ten absent, which merge the snapshot with the online deltas. The online
  * delta store is a persisted Dataset of the deltas the batch layer has not
  * yet covered, rebuilt after each trigger.
  */
object LambdaIngestServe extends Workload {
  val name = "lambda_ingest_serve"
  val EventsPerDay = 10000
  val SeedDays = 8
  val KeyBuckets = 8
  val GetsPerTick = 3 // one request of each key-set size
  val PointGetsPerTick = 2
  val SetupReps = 3
  // a run measures at least this many ticks, about 18 s of them here: a
  // slow run then keeps its later, warmer ticks instead of reporting the
  // median of fewer, colder ones
  val MinTicks = 5

  private implicit val sg: Semigroup[Long] = Semigroup.longSemigroup
  private val batcher = Batcher.ofMillis(Gen.DayMs)

  private final class State(val src: String, val store: BatchStore[Long, Long],
      val ms: MemoryStream[(Long, Long, Long)], val query: StreamingQuery,
      val emitted: java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Boolean)])

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def deltas(in: DataFrame): Dataset[(Long, Long, Long)] =
      GraftStream.from(in.select(col("ts_ms"), col("user_id")).as[(Long, Long)])(_._1)
        .asKeyedWith(_._2, (_: (Long, Long)) => 1L)
        .sumDeltasPerBatch(batcher)

    def land(st: State, days: Seq[(Long, Array[(Long, Long)])]): Unit = c.span("bench.land") {
      days.flatMap { case (d, evs) => evs.map { case (t, u) => (t, u, d) } }
        .toDF("ts_ms", "user_id", "batch_id").repartition(col("batch_id"))
        .write.mode("append").partitionBy("batch_id").parquet(st.src)
    }

    def commit(st: State, day: Long): Boolean =
      c.span("batch.runIncremental") {
        BatchDriver.runIncremental(spark, st.src, st.store, BatchID(day))(deltas)
      } == BatchDriver.Ran(BatchID(day), BatchID(day))

    /** Feeds events to the online Summer; returns the time until they are
      * visible, and whether the summed deltas it emitted are exactly the
      * events' per-(user, day) counts.
      */
    def feedOnline(st: State, evs: Seq[(Long, Long)]): (Double, Boolean, Map[(Long, Long), Long]) = {
      val (ms, _) = c.timed(c.span(Trace.StreamLayer) {
        st.ms.addData(evs.map { case (t, u) => (t, u, 1L) })
        st.query.processAllAvailable()
      })
      val got = mutable.Map.empty[(Long, Long), Long]
      var priorSeen = false
      while (!st.emitted.isEmpty) {
        val (u, b, d, hadPrior) = st.emitted.poll()
        got((u, b)) = got.getOrElse((u, b), 0L) + d
        priorSeen ||= hadPrior
      }
      val want = evs.groupBy { case (t, u) => (u, Math.floorDiv(t, Gen.DayMs)) }.map { case (k, xs) => k -> xs.size.toLong }
      (ms, !priorSeen && got.toMap == want, got.toMap)
    }

    val totals = mutable.Map.empty[Long, Long]
    // online deltas, (user, day) -> delta, for days the batch layer has not covered
    val pending = mutable.Map.empty[(Long, Long), Long]
    var onlineDeltas: Dataset[(Long, Long, Long)] = null
    def refreshOnline(coveredThrough: Long): Unit = c.span("bench.online_store") {
      pending.keys.filter(_._2 <= coveredThrough).toList.foreach(pending.remove)
      if (onlineDeltas != null) onlineDeltas.unpersist()
      onlineDeltas = pending.toSeq.map { case ((u, d), v) => (u, d, v) }.toDS().persist()
      onlineDeltas.count()
      ()
    }
    def count(evs: Array[(Long, Long)]): Unit = evs.foreach { case (_, u) => totals(u) = totals.getOrElse(u, 0L) + 1 }

    val (st, setupTimes) = c.setupRepeated(SetupReps) { rep =>
      pending.clear()
      val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Boolean)]()
      val ms = MemoryStream[(Long, Long, Long)]
      val query = StreamingSum.sumByKey(ms.toDS(), batcher).writeStream
        .option("checkpointLocation", c.freshDir(s"lambda-ckpt-$rep"))
        .foreachBatch { (b: Dataset[(Long, Long, (Option[Long], Long))], _: Long) =>
          b.collect().foreach { case (u, day, (prior, d)) => emitted.add((u, day, d, prior.isDefined)) }
        }
        .start()
      c.trace.streamRun(query.runId)
      val s = new State(c.freshDir(s"lambda-src-$rep"),
        new BatchStore[Long, Long](c.freshDir(s"lambda-store-$rep"), keyBuckets = Some(KeyBuckets)),
        ms, query, emitted)
      // seed: the batch layer covers all seed days but the last, which the
      // online layer covers, as it would after a batch run at that frontier
      val seed = (0 until SeedDays).map(d => d.toLong -> c.gen.dayEvents(d.toLong, EventsPerDay))
      land(s, seed)
      val (_, seedOk, seedDeltas) = feedOnline(s, seed.last._2.toSeq)
      require(seedOk, "seed days: online deltas differ from the events")
      pending ++= seedDeltas
      val ran = BatchDriver.runIncremental(spark, s.src, s.store, BatchID(SeedDays - 2L))(deltas)
      require(ran == BatchDriver.Ran(BatchID(0), BatchID(SeedDays - 2L)), s"seed commit: $ran")
      s
    } { old => old.query.stop() }
    (0 until SeedDays).foreach(d => count(c.gen.dayEvents(d.toLong, EventsPerDay)))

    def get(keys: Array[Long]): (Double, Map[Long, Long]) =
      c.timed(c.span("client.getBatch") {
        ClientStore.getBatch(spark, st.store, onlineDeltas, keys.toSeq)
      })
    refreshOnline(SeedDays - 2L)

    var lastCommitted = SeedDays - 2L
    var keysAsked = 0L
    var keysFound = 0L
    var events = 0L
    // tick k: day SeedDays + k through both layers, then the reads
    def tick(k: Long): Seq[Op] = {
      val ops = mutable.ArrayBuffer.empty[Op]
      val day = SeedDays + k
      val evs = c.gen.dayEvents(day, EventsPerDay)
      land(st, Seq(day -> evs))
      val (batchMs, batchOk) = c.timed(commit(st, day - 1))
      ops += Op("batch_commit", batchMs, EventsPerDay, batchOk)
      lastCommitted = day - 1
      val (onlineMs, onlineOk, emitted) = feedOnline(st, evs.toSeq)
      ops += Op("online_visible", onlineMs, EventsPerDay, onlineOk)
      events += EventsPerDay
      count(evs)
      pending ++= emitted
      refreshOnline(lastCommitted)
      (0 until GetsPerTick).foreach { j =>
        val keys = c.gen.request(k * GetsPerTick + j)
        val (ms, got) = get(keys)
        val want = keys.iterator.flatMap(key => totals.get(key).map(key -> _)).toMap
        ops += Op("get", ms, keys.length, got == want)
        keysAsked += keys.length
        keysFound += got.size
      }
      (0 until PointGetsPerTick).foreach { j =>
        val key = c.gen.pointKey(k * PointGetsPerTick + j)
        val (ms, got) = c.timed(c.span("client.get") {
          ClientStore.get(spark, st.store, onlineDeltas, key)
        })
        ops += Op("point_get", ms, 1, got == totals.get(key))
      }
      ops.toSeq
    }

    // warm-up: one unmeasured tick
    tick(0)
    keysAsked = 0L; keysFound = 0L; events = 0L
    val ops = mutable.ArrayBuffer.empty[Op]
    try {
      c.closedLoop(minSteps = MinTicks) { i => ops ++= tick(1 + i) }
    } finally {
      st.query.stop()
      if (onlineDeltas != null) onlineDeltas.unpersist()
    }

    // the final snapshot must equal a plain-Spark groupBy over the events it covers
    val (snapshot, reference) = c.span("bench.verify") {
      (st.store.readLast(spark).map(_._2.collect().toMap).getOrElse(Map.empty),
        spark.read.parquet(st.src).where(col("batch_id") <= lastCommitted)
          .groupBy("user_id").count().collect()
          .map((r: Row) => r.getLong(0) -> r.getLong(1)).toMap)
    }
    val checked = if (snapshot == reference) ops.toSeq
      else ops.toSeq.map(o => if (o.kind == "batch_commit") o.copy(ok = false) else o)

    Outcome(checked, setupTimes, Map(
      "batch.store.bytes_on_disk" -> Files.bytesUnder(new java.io.File(st.store.path)).toDouble,
      "ingest.events_measured" -> events.toDouble,
      "client.getBatch.hit_ratio" -> keysFound.toDouble / math.max(1L, keysAsked)))
  }
}
