package graftbench

import scala.jdk.CollectionConverters._

final case class Metric(name: String, value: Double, unit: String, note: String = "")

/** Turns a workload's operations and the trace into named metrics.
  *
  * `detail` holds the per-path metrics by their path names (batch commit,
  * online visibility, get, BM25 and ANN search). `endToEnd` holds the
  * metrics the result line carries, which every workload reports, each
  * bound to one operation of the workload by [[Report.Roles]]. `perLayer`
  * holds the traced run's `<module>.<function>.<quantity>` metrics.
  */
final class Report(workload: String, o: Outcome, setupS: Double, c: Ctx) {
  import Report._

  val failed: Int = o.ops.count(!_.ok)
  private def of(kind: String) = o.ops.filter(_.kind == kind)
  private def p50(kind: String) = Stats.median(of(kind).map(_.ms))
  private def tail(name: String, kind: String): Metric = {
    val t = Stats.tail(of(kind).map(_.ms))
    Metric(name, t.value, "ms", f" (p${t.percentile}%.1f, ${t.beyond} of ${t.n} samples beyond)")
  }
  /** Items of `itemKind` per second of time spent in operations of `kinds`. */
  private def rate(itemKind: String, kinds: String*): Double =
    of(itemKind).map(_.items).sum / (kinds.flatMap(of).map(_.ms).sum / 1000.0)

  val detail: Seq[Metric] = Seq(
    Metric("setup_s", setupS, "s", s" (set-up repeated ${o.setupRepsS.size} times, median counted)"),
    Metric("failed_op_ratio", failed.toDouble / o.ops.size, "ratio", s" ($failed of ${o.ops.size})")) ++
    (workload match {
      case LambdaIngestServe.name => Seq(
        Metric("ingest_events_per_s", rate("batch_commit", "batch_commit", "online_visible"), "events/s"),
        Metric("batch_commit_p50_ms", p50("batch_commit"), "ms"),
        tail("batch_commit_tail_ms", "batch_commit"),
        Metric("online_visible_p50_ms", p50("online_visible"), "ms"),
        tail("online_visible_tail_ms", "online_visible"),
        Metric("get_p50_ms", p50("get"), "ms"),
        tail("get_tail_ms", "get"),
        Metric("keys_served_per_s", rate("get", "get"), "keys/s"),
        Metric("point_get_p50_ms", p50("point_get"), "ms"))
      case RetrievalStored.name => Seq(
        Metric("index_append_docs_per_s", rate("index_append", "index_append", "index_maintain"), "docs/s"),
        Metric("bm25_search_p50_ms", p50("bm25_search"), "ms"),
        Metric("ann_search_p50_ms", p50("ann_search"), "ms"),
        tail("ann_search_tail_ms", "ann_search"),
        Metric("ann_recall_at_10", o.observed("ann_recall_at_10"), "ratio"))
    })

  def endToEnd: Seq[Metric] = {
    val r = Roles(workload)
    Seq(
      Metric("setup_s", setupS, "s"),
      Metric("stream_p50_ms", p50(r.stream), "ms"),
      Metric("commit_p50_ms", p50(r.commit), "ms"),
      Metric("read_p50_ms", p50(r.read), "ms"),
      Metric("lookup_p50_ms", p50(r.lookup), "ms"),
      Metric("items_per_s", rate(r.stream, r.stream, r.commit), "1/s"))
  }

  // ---- per layer (traced runs) -----------------------------------------

  private lazy val windowSpans = c.trace.selfTimes(c.measureStartNs)
  lazy val selfMsByLayer: Map[String, Double] =
    windowSpans.groupBy(_._1.name).map { case (n, xs) => n -> xs.map(_._2).sum / 1e6 }
  private def counts = c.loopCounts
  private def calls(layer: String) = windowSpans.count(_._1.name == layer).toDouble
  private def busy(layer: String) = windowSpans.filter(_._1.name == layer).map(_._1.ms).sum
  private def count(layer: String)(f: Trace.Counts => Long) = counts.get(layer).map(f).getOrElse(0L).toDouble
  private def perCall(layer: String)(x: Double) = if (calls(layer) == 0) 0.0 else x / calls(layer)
  private def obs(name: String) = o.observed.getOrElse(name, 0.0)

  def perLayer: Seq[Metric] = {
    val ri = "batch.runIncremental"
    val st = Trace.StreamLayer
    val gb = "client.getBatch"
    val cg = "client.get"
    val bm = "operators.Retrieval.bm25TopKFromStored"
    val cf = "operators.Retrieval.compactIfFragmented"
    val progress = c.trace.progress.all
    def dur(key: String) = progress.map(p => Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)).sum.toDouble
    val lastState = progress.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    val events = obs("ingest.events_measured")
    Seq(
      Metric(s"$ri.calls", calls(ri), "count"),
      Metric(s"$ri.busy_ms", busy(ri), "ms"),
      Metric(s"$ri.jobs", count(ri)(_.jobs), "count"),
      Metric(s"$ri.stages", count(ri)(_.stages), "count"),
      Metric(s"$ri.tasks", count(ri)(_.tasks), "count"),
      Metric(s"$ri.shuffle_write_bytes", count(ri)(_.shuffleWriteBytes), "B"),
      Metric(s"$ri.input_bytes", count(ri)(_.inputBytes), "B"),
      Metric(s"$ri.output_bytes", count(ri)(_.outputBytes), "B"),
      Metric("batch.store.bytes_on_disk", obs("batch.store.bytes_on_disk"), "B"),
      Metric("batch.store.bytes_written_per_event",
        if (events == 0) 0.0 else count(ri)(_.outputBytes) / events, "B"),
      Metric(s"$st.calls", calls(st), "count"),
      Metric(s"$st.busy_ms", busy(st), "ms"),
      Metric(s"$st.jobs", count(st)(_.jobs), "count"),
      Metric(s"$st.tasks", count(st)(_.tasks), "count"),
      Metric(s"$st.addBatch_ms", dur("addBatch"), "ms"),
      Metric(s"$st.queryPlanning_ms", dur("queryPlanning"), "ms"),
      Metric(s"$st.walCommit_ms", dur("walCommit"), "ms"),
      Metric(s"$st.triggerExecution_ms", dur("triggerExecution"), "ms"),
      Metric(s"$st.state_rows_total", lastState.map(_.numRowsTotal).sum.toDouble, "count"),
      Metric(s"$st.state_memory_bytes", lastState.map(_.memoryUsedBytes).sum.toDouble, "B"),
      Metric(s"$st.state_commit_ms", progress.flatMap(_.stateOperators.toSeq).map(_.commitTimeMs).sum.toDouble, "ms"),
      Metric(s"$gb.calls", calls(gb), "count"),
      Metric(s"$gb.busy_ms", busy(gb), "ms"),
      Metric(s"$gb.jobs_per_call", perCall(gb)(count(gb)(_.jobs)), "count"),
      Metric(s"$gb.tasks_per_call", perCall(gb)(count(gb)(_.tasks)), "count"),
      Metric(s"$gb.input_bytes_per_call", perCall(gb)(count(gb)(_.inputBytes)), "B"),
      Metric(s"$gb.keys_per_call", perCall(gb)(of("get").map(_.items).sum.toDouble), "count"),
      Metric(s"$gb.hit_ratio", obs(s"$gb.hit_ratio"), "ratio"),
      Metric(s"$cg.calls", calls(cg), "count"),
      Metric(s"$cg.busy_ms", busy(cg), "ms"),
      Metric(s"$cg.jobs_per_call", perCall(cg)(count(cg)(_.jobs)), "count"),
      Metric("operators.Retrieval.appendToStored.calls", calls("operators.Retrieval.appendToStored"), "count"),
      Metric("operators.Retrieval.appendToStored.busy_ms", busy("operators.Retrieval.appendToStored"), "ms"),
      Metric("operators.Retrieval.appendToStored.jobs", count("operators.Retrieval.appendToStored")(_.jobs), "count"),
      Metric(s"$bm.calls", calls(bm), "count"),
      Metric(s"$bm.busy_ms", busy(bm), "ms"),
      Metric(s"$bm.jobs_per_call", perCall(bm)(count(bm)(_.jobs)), "count"),
      Metric(s"$bm.input_bytes_per_call", perCall(bm)(count(bm)(_.inputBytes)), "B"),
      Metric(s"$bm.segments_at_call", obs(s"$bm.segments_at_call"), "count"),
      Metric(s"$cf.calls", calls(cf), "count"),
      Metric(s"$cf.ran", obs(s"$cf.ran"), "count"),
      Metric(s"$cf.busy_ms", busy(cf), "ms"),
      Metric(s"$cf.bytes_rewritten", count(cf)(_.outputBytes), "B")) ++
      SimilarityFns.flatMap { fn =>
        val l = s"operators.Similarity.$fn"
        Seq(Metric(s"$l.calls", calls(l), "count"), Metric(s"$l.busy_ms", busy(l), "ms"),
          Metric(s"$l.jobs", count(l)(_.jobs), "count"))
      } ++ Seq("nswCompactIfFragmented", "hnswCompactIfFragmented").map { fn =>
        Metric(s"operators.Similarity.$fn.ran", obs(s"operators.Similarity.$fn.ran"), "count")
      } ++ Seq(
        Metric("process.gc_ms", c.gcMsInLoop.toDouble, "ms"),
        Metric("process.heap_peak_mb", c.heapPeakMbInLoop, "MB"),
        Metric("process.spark_jobs_total", c.loopJobsTotal.toDouble, "count"))
  }
}

object Report {
  /** Which operation of a workload each end-to-end metric reports:
    * `stream` is a micro-batch made visible by a streaming query, `commit`
    * the store-side commit that follows the stream (batch layer or
    * compaction cadence), `read` a multi-item request (a key set, a query
    * set), `lookup` a single-item request (one key, one vector).
    * `items_per_s` counts the stream operations' items per second of stream
    * and commit time.
    */
  final case class Role(stream: String, commit: String, read: String, lookup: String)

  val Roles: Map[String, Role] = Map(
    LambdaIngestServe.name -> Role("online_visible", "batch_commit", "get", "point_get"),
    RetrievalStored.name -> Role("index_append", "index_maintain", "bm25_search", "ann_search"))

  val SimilarityFns: Seq[String] = Seq("nswAppendToStored", "hnswAppendToStored", "readNswIndex",
    "readHnswIndex", "nswSearchBuilt", "hnswSearchBuilt", "nswCompactIfFragmented", "hnswCompactIfFragmented")
}
