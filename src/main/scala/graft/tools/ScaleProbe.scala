package graft.tools

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.GateHelpers.{docsDs, eventsDF, withStreamingGateConf}

/** The two scale measurements no gate row takes, read at 1x and at N-x:
  *
  *  - `decades`: every streaming state machine (sum, sum_horizon, dedup,
  *    minhash, minhash_horizon, sessionize) at the gate's streaming conf,
  *    reporting PEAK and FINAL state rows/bytes beside wall — the
  *    boundedness story of each machine as a measured number per scale.
  *    One machine can be probed alone by its name.
  *  - `stored_read_amp`: read amplification of a stored NSW index over
  *    many append generations, then the compaction that folds them.
  *
  * Every other scaled timing is a gate row: `MakeScale` writes the N-x
  * tables and `graft.Bench` (with `SPARK_GRAFT_ONLY`) times them.
  *
  * Usage: runMain graft.tools.MakeScale <baseDir> <scaledDir> <N> [organic]
  *   then runMain graft.tools.ScaleProbe <baseDir> <scaledDir>
  *        [decades|stored_read_amp|<machine>,...]  (default: both arms)
  */
object ScaleProbe {
  private val machines = Seq("streaming_minhash", "streaming_minhash_horizon",
    "streaming_sum", "streaming_sum_horizon", "streaming_dedup",
    "streaming_sessionize")
  private val arms = Seq("decades", "stored_read_amp") ++ machines

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleProbe <baseDir> <scaledDir> " +
      s"[${arms.mkString("|")},...]")
    val (baseDir, scaledDir) = (args(0), args(1))
    val opsArg = args.lift(2).map(_.split(",").toSet)
    opsArg.foreach { ops =>
      val unknown = ops -- arms
      require(unknown.isEmpty, s"unknown ScaleProbe arm(s) " +
        s"${unknown.mkString(",")}; accepted: ${arms.mkString(", ")}")
    }
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    println(s"PROBE base=$baseDir scaled=$scaledDir")

    def docs(dir: String): Array[(Long, String)] =
      docsDs(spark, dir).where(col("text").isNotNull)
        .as[(Long, String)].collect()

    // Runs one state machine over `dir` at the gate's streaming conf
    // (4 state partitions, RocksDB) and returns its (peak rows, peak
    // bytes, final rows, final bytes) state.
    def streamProbe(name: String, dir: String): (Long, Long, Long, Long) =
      withStreamingGateConf(spark, 4) {
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        def noop(out: Dataset[_]): StreamingQuery =
          out.writeStream.format("noop").outputMode("append").start()
        // each arm STARTS its query, then returns (query, feed): the feed
        // and progress inspection run inside try/finally q.stop(), so a
        // throw mid-feed can't leak a running StreamingQuery (and its
        // MemoryStream state) into the rest of the probe process
        val (q, feed): (StreamingQuery, () => Unit) = name match {
          case "streaming_sum" =>
            // q_streaming_sum shape: 4 event-id-sliced micro-batches into
            // the online Summer, state keyed (user, day-batch)
            val rows = eventsDF(spark, dir)
              .select(col("ts_ms"), col("user_id"), col("event_id"))
              .as[(Long, Long, Long)].collect()
            val ms = MemoryStream[(Long, Long)]
            val q = noop(graft.streaming.StreamingSum.sumByKey(
              ms.toDS().map { case (ts, u) => (ts, u, 1L) },
              graft.time.Batcher.ofDays(1))(
              graft.algebra.Semigroup.longSemigroup, implicitly, implicitly))
            (q, () => (0 until 4).foreach { i =>
              ms.addData(rows.iterator.filter(_._3 % 4 == i).map(r => (r._1, r._2)).toSeq)
              q.processAllAvailable()
            })
          case "streaming_sum_horizon" =>
            // the EVENT-TIME-horizon Summer: state for a (user, day) group
            // dies when the WATERMARK passes its newest event, so a
            // replay's resident state tracks the horizon's arrival volume,
            // never the all-time key space. Feed: event-time-ordered
            // chunks (the replay shape; nothing arrives late) + a
            // far-future flush sentinel; FINAL state is what survives the
            // watermark — the boundedness number.
            val rows = eventsDF(spark, dir)
              .select(col("ts_ms"), col("user_id"))
              .as[(Long, Long)].collect().sortBy(_._1)
            val maxTs = rows.iterator.map(_._1).max
            val ms = MemoryStream[(Long, Long)]
            val q = noop(graft.streaming.StreamingSum.sumByKeyWithinHorizon(
              ms.toDS().map { case (ts, u) => (new java.sql.Timestamp(ts), u, 1L) },
              graft.time.Batcher.ofDays(1), "1 day")(
              graft.algebra.Semigroup.longSemigroup, implicitly, implicitly))
            (q, () => {
              val chunk = math.max(1, (rows.length + 3) / 4)
              rows.grouped(chunk).foreach { part =>
                ms.addData(part.toSeq); q.processAllAvailable()
              }
              // flush: advance the watermark past every fed event, then one
              // more trigger so the timers it armed actually fire
              ms.addData(Seq((maxTs + 30L * 86400000L, -1L)))
              q.processAllAvailable()
              ms.addData(Seq((maxTs + 30L * 86400000L + 1L, -1L)))
              q.processAllAvailable()
            })
          case "streaming_dedup" =>
            // q_streaming_dedup shape: exact digest dedup, whole corpus in
            // batch 1, 10% byte-copies in batch 2 — state is one row per
            // distinct digest
            val ds = docs(dir)
            val maxId = ds.iterator.map(_._1).max
            val ms = MemoryStream[(Long, String)]
            val q = noop(graft.streaming.StreamingDedup.exact(
              ms.toDS().toDF("doc_id", "text"), "text"))
            (q, () => {
              ms.addData(ds.toSeq)
              q.processAllAvailable()
              ms.addData(ds.iterator.filter(_._1 % 10 == 0)
                .map(d => (maxId + 1 + d._1, d._2)).toSeq)
              q.processAllAvailable()
            })
          case "streaming_minhash" | "streaming_minhash_horizon" =>
            // the two regimes of the streaming MinHash-LSH candidate
            // machine, gate-row shapes (two corpus halves + 10% planted
            // copies): UNBOUNDED state tracks the corpus; the HORIZON form
            // holds only in-horizon (id, eventMillis) pairs and reclaims
            // buckets once the watermark passes
            val ds = docs(dir).sortBy(_._1)
            val maxId = ds.iterator.map(_._1).max
            val planted = ds.filter(_._1 % 10 == 0)
              .map(d => (maxId + 1 + d._1, d._2)).toSeq
            val half = ds.length / 2
            if (name == "streaming_minhash") {
              val ms = MemoryStream[(Long, String)]
              val q = noop(graft.streaming.StreamingDedup.minhashCandidates(
                ms.toDS().toDF("doc_id", "text"), "text", "doc_id",
                maxBucket = 8192))
              (q, () => {
                ms.addData(ds.take(half).toSeq); q.processAllAvailable()
                ms.addData(ds.drop(half).toSeq); q.processAllAvailable()
                ms.addData(planted); q.processAllAvailable()
              })
            } else {
              def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
              val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
              val q = noop(graft.streaming.StreamingDedup.minhashCandidatesWithinHorizon(
                ms.toDS().toDF("doc_id", "ts", "text"), "text", "doc_id", "ts",
                "10 minutes", maxBucket = 8192))
              (q, () => {
                ms.addData(ds.take(half).map(d => (d._1, ts(100), d._2)).toSeq)
                q.processAllAvailable()
                ms.addData(ds.drop(half).map(d => (d._1, ts(200), d._2)).toSeq)
                q.processAllAvailable()
                ms.addData(planted.map(pl => (pl._1, ts(300), pl._2)))
                q.processAllAvailable()
                // advance the watermark past the horizon: eviction work is
                // part of the bounded form's honest wall cost, and the
                // PEAK state across triggers is what the probe reports
                ms.addData((maxId * 4 + 1, ts(100000), "watermark advancing filler text"))
                q.processAllAvailable()
              })
            }
          case "streaming_sessionize" =>
            // q_streaming_sessionize shape: native session_window over the
            // 10% user slice, two ascending-ts halves + a flush sentinel —
            // state is one MERGING session per open (user, session), so
            // final state after the flush is the boundedness measurement
            val evs = eventsDF(spark, dir)
              .where(col("user_id") % 10 === 0)
              .select(col("user_id"), col("ts_ms")).as[(Long, Long)].collect()
            val minTs = evs.iterator.map(_._2).min
            val maxTs = evs.iterator.map(_._2).max
            val ms = MemoryStream[(Long, Long)]
            val q = noop(graft.operators.Sessionize.sessionizeStreaming(
              ms.toDS().toDF("user_id", "__ms")
                .withColumn("ts", timestamp_millis(col("__ms"))),
              "user_id", "ts", gapMs = 1800000L))
            (q, () => {
              val mid = minTs + (maxTs - minTs) / 2 + 1
              Seq((minTs, mid), (mid, maxTs + 1)).foreach { case (lo, hi) =>
                ms.addData(evs.iterator.filter(e => e._2 >= lo && e._2 < hi).toSeq)
                q.processAllAvailable()
              }
              ms.addData(Seq((-1L, maxTs + 48L * 3600000L)))
              q.processAllAvailable()
            })
          case other => sys.error(s"unknown stream probe $other")
        }
        try {
          feed()
          // PEAK state across the run's micro-batches (the last trigger can
          // be post-watermark-eviction, which would under-report the
          // working set the state store carried) PLUS the FINAL trigger's
          // state: for horizon-bounded machines the final number is the
          // boundedness measurement (what survives the watermark), while
          // unbounded machines end where they peaked
          val progs = q.recentProgress.filter(_.stateOperators.nonEmpty)
          if (progs.isEmpty) (-1L, -1L, -1L, -1L)
          else (progs.map(_.stateOperators.map(_.numRowsTotal).sum).max,
            progs.map(_.stateOperators.map(_.memoryUsedBytes).sum).max,
            progs.last.stateOperators.map(_.numRowsTotal).sum,
            progs.last.stateOperators.map(_.memoryUsedBytes).sum)
        } finally q.stop()
      }
    def timed[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime()
      val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }

    // "decades" selects every machine; a machine's own name selects it alone
    machines.filter(n => opsArg.forall(o => o(n) || o("decades"))).foreach { name =>
      // warm THE ARM BEING TIMED: each machine has its own one-time
      // codegen/state-provider costs, and billing them to the 1x run would
      // deflate every published scaled/1x ratio
      streamProbe(name, baseDir)
      val (t1, (r1, m1, f1, fm1)) = timed(streamProbe(name, baseDir))
      val (tN, (rN, mN, fN, fmN)) = timed(streamProbe(name, scaledDir))
      println(f"PROBE $name%-26s parts=4 store=rocksdb " +
        f"1x=${t1}%.2fs Nx=${tN}%.2fs ratio=${tN / t1}%.2f " +
        f"peakRows=${r1}->${rN} peakMB=${m1 / 1e6}%.2f->${mN / 1e6}%.2f " +
        f"finalRows=${f1}->${fN} finalMB=${fm1 / 1e6}%.2f->${fmN / 1e6}%.2f")
    }

    // stored-index READ amplification over many append generations. A
    // daily-ingest store accumulates one graphdelta segment per batch;
    // reads pay the LWW fold over every live segment until a compaction
    // folds them. This arm stacks `gens` delta appends on a stored NSW
    // index over the scaled embeddings and reports serve wall at
    // segment-count checkpoints, then the compaction cost and the
    // post-compaction serve — the read-amplification-vs-write-cost trade
    // as a measured curve, with the compactIfFragmented default
    // (maxSegments=8) sitting on it.
    if (opsArg.forall(_("stored_read_amp"))) {
      import graft.operators.Similarity
      import graft.batch.SegmentedStore
      val e = graft.GateHelpers.t(spark, scaledDir, "embeddings").select("vec_id", "embedding")
      // 95% base corpus; the other 5% becomes `gens` append batches with
      // fresh ids ABOVE the base (the append-only ingest shape)
      val base = e.where(col("vec_id") % 20 =!= 0)
      val gens = 32
      val pool = e.where(col("vec_id") % 20 === 0)
        .withColumn("vec_id", col("vec_id") + lit(2000000000L))
        .withColumn("__g", pmod(xxhash64(col("vec_id")), lit(gens)))
        .localCheckpoint(true)
      val dir = java.nio.file.Files.createTempDirectory("graft_probe_read_amp_").toString
      try {
        Similarity.nswWriteIndex(
          Similarity.nswBuild(base, "embedding", "vec_id"), dir)
        val q = Array.tabulate(64)(i => math.sin(i + 1.0))
        def readWall(): Double = {
          def read(): Long =
            Similarity.nswSearchBuilt(Similarity.readNswIndex(spark, dir),
                "embedding", "vec_id", q, k = 10)
              .agg(sum(col("vec_id"))).collect().head.getLong(0)
          read() // warm
          timed(read())._1
        }
        println(f"PROBE stored_read_amp gens=0  segs=1 read=${readWall()}%.2fs")
        val marks = Set(1, 2, 4, 8, 16, 32)
        var appendWall = 0.0
        for (g <- 0 until gens) {
          val batch = pool.where(col("__g") === g).select("vec_id", "embedding")
          appendWall += timed(
            Similarity.nswAppendToStored(spark, dir, batch, "embedding", "vec_id"))._1
          if (marks(g + 1)) {
            val segs = SegmentedStore.committedSegs(dir).size
            println(f"PROBE stored_read_amp gens=${g + 1}%-2d segs=$segs " +
              f"read=${readWall()}%.2fs appendWallCum=${appendWall}%.2fs")
          }
        }
        val (tCompact, _) = timed(
          Similarity.nswCompactStored(spark, dir, "embedding", "vec_id"))
        println(f"PROBE stored_read_amp compacted segs=" +
          f"${SegmentedStore.committedSegs(dir).size} read=${readWall()}%.2fs " +
          f"compact=${tCompact}%.2fs appendWallTotal=${appendWall}%.2fs " +
          "(compactIfFragmented default maxSegments=8)")
      } finally graft.batch.BatchState.deleteDir(dir)
    }
    spark.stop()
  }
}
