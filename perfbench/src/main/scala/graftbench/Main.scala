package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Runs one workload in this JVM on
  * `local[nproc]` with one closed-loop client thread, checks every
  * operation's output, and prints `metric <name> <value> <unit>` lines,
  * then one line `RESULT <json>` that the launcher turns into the
  * benchmark's result line.
  *
  * Usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <private dir> --out <results dir>
  *        graftbench.Main --self-test
  */
object Main {
  val Workloads: Seq[Workload] = Seq(LambdaIngestServe, RetrievalStored)

  def main(argv: Array[String]): Unit = {
    val entryNs = System.nanoTime()
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (argv.contains("--self-test")) { SelfTest.run(); return }
    val wl = Workloads.find(_.name == args("workload"))
      .getOrElse(throw new IllegalArgumentException(s"unknown workload ${args("workload")}"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val traced = args("trace") == "1"
    val work = args("work")
    val nproc = Runtime.getRuntime.availableProcessors()

    def phase(what: String): Unit =
      System.err.println(f"[graftbench] ${(System.nanoTime() - entryNs) / 1e9}%.2f s $what")
    val spark = session(nproc, work)
    phase("session ready")
    try {
      val trace = new Trace(traced)
      trace.install(spark)
      val ctx = new Ctx(spark, new Gen(seed), trace, work, seconds)
      val outcome = wl.run(ctx)
      phase(s"workload done: ${outcome.ops.size} operations")
      outcome.ops.foreach(o => System.err.println(f"[graftbench] op ${o.kind} ${o.ms}%.1f ms ok=${o.ok}"))
      require(ctx.measureStartNs > 0, "workload never started its measured loop")
      val setupS = (ctx.measureStartNs - entryNs) / 1e9 - outcome.setupRepsS.sum + Stats.median(outcome.setupRepsS)
      org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      val report = new Report(wl.name, outcome, setupS, ctx)
      val metrics = if (traced) report.perLayer else report.endToEnd
      (report.detail ++ report.endToEnd.filterNot(m => report.detail.exists(_.name == m.name)))
        .foreach(m => println(f"metric ${m.name} ${m.value}%.6f ${m.unit}${m.note}"))
      val meta = Map(
        "workload" -> Json.str(wl.name), "seed" -> seed.toString, "seconds" -> seconds.toString,
        "trace" -> traced.toString, "nproc" -> nproc.toString, "spark_version" -> Json.str(spark.version),
        "setup_reps_s" -> Json.arr(outcome.setupRepsS.map(Json.num)))
      val result = Json.obj(Seq(
        "correct" -> (report.failed == 0).toString,
        "attempted" -> outcome.ops.size.toString,
        "failed" -> report.failed.toString,
        "metrics" -> Json.obj(metrics.map(m => m.name -> Json.obj(Seq(
          "value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))),
        "meta" -> Json.obj(meta.toSeq)))
      if (traced) writeTrace(args("out"), wl.name, seed, trace, ctx, report)
      println(s"RESULT $result")
    } finally {
      spark.stop()
      phase("session stopped")
    }
  }

  def session(nproc: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Writes the spans, per-layer job counts and per-trigger progress of a
    * traced run to `<out>/trace-<workload>-seed<seed>.json`.
    */
  private def writeTrace(out: String, wl: String, seed: Long, trace: Trace, ctx: Ctx, report: Report): Unit = {
    val spans = trace.selfTimes(0L).map { case (s, self) =>
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name), "op" -> s.op.toString,
        "parent" -> s.parent.toString,
        "start_ms" -> Json.num((s.startNs - ctx.measureStartNs) / 1e6),
        "end_ms" -> Json.num((s.endNs - ctx.measureStartNs) / 1e6),
        "self_ms" -> Json.num(self / 1e6)))
    }
    val layers = ctx.loopCounts.toSeq.sortBy(_._1).map { case (l, c) =>
      l -> Json.obj(Seq("jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
        "tasks" -> c.tasks.toString, "input_bytes" -> c.inputBytes.toString,
        "shuffle_write_bytes" -> c.shuffleWriteBytes.toString, "output_bytes" -> c.outputBytes.toString))
    }
    val progress = trace.progress.all.map(p => p.json)
    val body = Json.obj(Seq(
      "workload" -> Json.str(wl), "seed" -> seed.toString,
      "self_ms_by_layer" -> Json.obj(report.selfMsByLayer.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layers),
      "spans" -> Json.arr(spans),
      "progress" -> Json.arr(progress)))
    val f = new java.io.File(out, s"trace-$wl-seed$seed.json")
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, body)
    println(s"trace written to ${f.getPath}")
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum

  def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
}

/** Minimal JSON writing for the result line and trace file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
