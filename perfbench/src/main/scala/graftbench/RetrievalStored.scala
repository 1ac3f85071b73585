package graftbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.batch.SegmentedStore
import graft.operators.{Retrieval, Similarity}
import graft.streaming.StreamingIO

/** The stored retrieval tiers: a BM25 index and NSW and HNSW graph stores
  * bootstrapped from a slice of generated documents. The client runs a
  * fixed cycle of steps, [[CycleSteps]]: three appends, one BM25 query set
  * and six ANN queries alternating between the two graph tiers. Each
  * append lands the next slice through one `StreamingIO.fanout`
  * foreachBatch query (every writer passes the micro-batch id), then runs
  * the program's compaction cadence on all three stores.
  *
  * The cadence folds a store once it holds more than [[MaxSegments]]
  * segments. Bootstrap leaves one segment, each append adds one, and the
  * warm-up append leaves two, so the first cycle folds every store on its
  * first and third append and serves its BM25 set over two segments.
  */
object RetrievalStored extends Workload {
  val name = "retrieval_stored"
  val BootstrapDocs = 1000 // half of the 2,000 embeddings of sf0.1
  val DocsPerTick = 100
  val TokenBuckets = 8
  val MaxSegments = 2

  private sealed trait Step
  private case object Append extends Step
  private case object Bm25 extends Step
  private case object Ann extends Step
  private val CycleSteps: Vector[Step] = Vector(Append, Append, Bm25, Append, Ann, Ann, Ann, Ann, Ann, Ann)

  val Bm25QueriesPerSet = 8
  val K = 10
  val MinRecall = 0.5 // below this an ANN answer counts as wrong
  val SetupReps = 3

  private type DocRow = (Long, String, Array[Float])

  private final class State(val bm25: String, val nsw: String, val hnsw: String,
      val ms: MemoryStream[DocRow], val query: StreamingQuery) {
    var live = BootstrapDocs.toLong
  }

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = mutable.ArrayBuffer.empty[DocRow]
    def docsUpTo(n: Long): Seq[DocRow] = {
      while (docs.size < n) docs += c.gen.doc(docs.size.toLong)
      docs.take(n.toInt).toSeq
    }
    def docFrame(rows: Seq[DocRow]): DataFrame = rows.toDF("doc_id", "text", "embedding")
    def vecs(df: DataFrame): DataFrame = df.select(col("doc_id").as("vec_id"), col("embedding"))

    val (st, setupTimes) = c.setupRepeated(SetupReps) { rep =>
      val boot = docFrame(docsUpTo(BootstrapDocs))
      val bm25 = c.freshDir(s"bm25-$rep")
      val nsw = c.freshDir(s"nsw-$rep")
      val hnsw = c.freshDir(s"hnsw-$rep")
      Retrieval.writeIndex(Retrieval.buildIndex(boot, "text", "doc_id"), bm25, TokenBuckets)
      Similarity.nswWriteIndex(Similarity.nswBuild(vecs(boot), "embedding", "vec_id").localCheckpoint(true), nsw)
      Similarity.hnswWriteIndex(Similarity.hnswBuild(vecs(boot), "embedding", "vec_id").localCheckpoint(true), hnsw)
      val ms = MemoryStream[DocRow]
      val query = StreamingIO.fanout(ms.toDS().toDF("doc_id", "text", "embedding"))(Seq(
        (b, bid) => c.span("operators.Retrieval.appendToStored") {
          Retrieval.appendToStored(spark, bm25, TokenBuckets, b.select("doc_id", "text"),
            "text", "doc_id", batchId = Some(bid))
        },
        (b, bid) => c.span("operators.Similarity.nswAppendToStored") {
          Similarity.nswAppendToStored(spark, nsw, vecs(b), "embedding", "vec_id", batchId = Some(bid))
        },
        (b, bid) => c.span("operators.Similarity.hnswAppendToStored") {
          Similarity.hnswAppendToStored(spark, hnsw, vecs(b), "embedding", "vec_id", batchId = Some(bid))
        }))
        .option("checkpointLocation", c.freshDir(s"retrieval-ckpt-$rep"))
        .start()
      c.trace.streamRun(query.runId)
      new State(bm25, nsw, hnsw, query = query, ms = ms)
    } { old => old.query.stop() }
    val compactions = mutable.Map.empty[String, Int].withDefaultValue(0)
    var appends = 0L
    // write path: append the next slice through the fanout, then the
    // program's compaction cadence; two operations with their checks
    def append(): Seq[Op] = {
      val slice = docsUpTo(st.live + DocsPerTick).drop(st.live.toInt)
      val (appendMs, _) = c.timed(c.span(Trace.StreamLayer) {
        st.ms.addData(slice)
        st.query.processAllAvailable()
      })
      st.live += DocsPerTick
      val (compactMs, ran) = c.timed(Seq(
        c.span("operators.Retrieval.compactIfFragmented") {
          Retrieval.compactIfFragmented(spark, st.bm25, TokenBuckets, MaxSegments)
        },
        c.span("operators.Similarity.nswCompactIfFragmented") {
          Similarity.nswCompactIfFragmented(spark, st.nsw, "embedding", "vec_id", maxSegments = MaxSegments)
        },
        c.span("operators.Similarity.hnswCompactIfFragmented") {
          Similarity.hnswCompactIfFragmented(spark, st.hnsw, "embedding", "vec_id", maxSegments = MaxSegments)
        }))
      Seq("bm25", "nsw", "hnsw").zip(ran).foreach { case (store, r) => if (r) compactions(store) += 1 }
      val stores = Seq(st.bm25, st.nsw, st.hnsw)
      val batchId = appends
      appends += 1
      Seq(Op("index_append", appendMs, DocsPerTick, stores.forall(SegmentedStore.batchApplied(_, batchId))),
        // the cadence's contract: no store is left above its segment limit
        Op("index_maintain", compactMs, DocsPerTick,
          stores.forall(SegmentedStore.committedSegs(_).size <= MaxSegments)))
    }

    // warm-up: one append and one of each read, unmeasured
    append()
    bm25Search(c, st, -1L)
    annSearch(c, st, -1L, nswTier = true, docsUpTo(st.live))
    annSearch(c, st, -2L, nswTier = false, docsUpTo(st.live))
    compactions.clear()

    val ops = mutable.ArrayBuffer.empty[Op]
    val recalls = mutable.ArrayBuffer.empty[Double]
    val segmentsAtBm25 = mutable.ArrayBuffer.empty[Int]
    var annIdx = 0L
    val served = mutable.ArrayBuffer.empty[Bm25Served]
    try {
      // one step per operation, in whole cycles
      c.closedLoop(minSteps = CycleSteps.size, cycle = CycleSteps.size) { i =>
        CycleSteps((i % CycleSteps.size).toInt) match {
          case Append => ops ++= append()
          case Bm25 =>
            segmentsAtBm25 += SegmentedStore.committedSegs(st.bm25).size
            served += bm25Search(c, st, i)
          case Ann =>
            val (annMs, ok, recall) = annSearch(c, st, annIdx, nswTier = annIdx % 2 == 0, docsUpTo(st.live))
            annIdx += 1
            ops += Op("ann_search", annMs, 1, ok)
            recalls += recall
        }
      }
    } finally st.query.stop()
    ops ++= verifyBm25(c, served.toSeq, docsUpTo(st.live))

    Outcome(ops.toSeq, setupTimes, Map(
      "ann_recall_at_10" -> recalls.sum / math.max(1, recalls.size),
      "operators.Retrieval.bm25TopKFromStored.segments_at_call" ->
        segmentsAtBm25.sum.toDouble / math.max(1, segmentsAtBm25.size),
      "operators.Retrieval.compactIfFragmented.ran" -> compactions("bm25").toDouble,
      "operators.Similarity.nswCompactIfFragmented.ran" -> compactions("nsw").toDouble,
      "operators.Similarity.hnswCompactIfFragmented.ran" -> compactions("hnsw").toDouble))
  }

  /** One served BM25 query set: its latency, the live document count it
    * was served over, and its rows.
    */
  private final case class Bm25Served(ms: Double, set: Long, live: Long, rows: Set[Seq[Any]])

  private val Bm25Cols = Seq("query_id", "doc_id", "score", "rank")

  private def bm25Queries(c: Ctx, set: Long): DataFrame = {
    val spark = c.spark
    import spark.implicits._
    c.gen.bm25Queries(set, Bm25QueriesPerSet).toSeq.toDF("query_id", "qtext")
  }

  private def bm25Search(c: Ctx, st: State, set: Long): Bm25Served = {
    val (ms, got) = c.timed(c.span("operators.Retrieval.bm25TopKFromStored") {
      Retrieval.bm25TopKFromStored(c.spark, st.bm25, TokenBuckets, bm25Queries(c, set), "qtext",
        "query_id", "doc_id", k = K).select(Bm25Cols.map(col): _*).collect()
    })
    Bm25Served(ms, set, st.live, got.map(_.toSeq).toSet)
  }

  /** Checks each served BM25 query set against the in-memory
    * `Retrieval.bm25TopK` over the documents that were live when it was
    * served. Runs after the measured loop.
    */
  private def verifyBm25(c: Ctx, served: Seq[Bm25Served], docs: Seq[DocRow]): Seq[Op] = {
    val spark = c.spark
    import spark.implicits._
    c.span("bench.verify") {
      served.map { s =>
        val live = docs.take(s.live.toInt).map(d => (d._1, d._2)).toDF("doc_id", "text")
        val want = Retrieval.bm25TopK(Retrieval.buildIndex(live, "text", "doc_id"), bm25Queries(c, s.set),
          "qtext", "query_id", k = K).select(Bm25Cols.map(col): _*).collect().map(_.toSeq).toSet
        Op("bm25_search", s.ms, Bm25QueriesPerSet, s.rows.nonEmpty && s.rows == want)
      }
    }
  }

  /** One ANN query on a graph tier; checked for k distinct live ids whose
    * reported similarity is their exact cosine, and for recall@k, against a
    * brute-force in-memory cosine top-k, of at least [[MinRecall]].
    */
  private def annSearch(c: Ctx, st: State, i: Long, nswTier: Boolean,
      live: Seq[DocRow]): (Double, Boolean, Double) = {
    val spark = c.spark
    val q = c.gen.annQuery(i)
    val (ms, got) = c.timed {
      if (nswTier) {
        val idx = c.span("operators.Similarity.readNswIndex")(Similarity.readNswIndex(spark, st.nsw))
        c.span("operators.Similarity.nswSearchBuilt") {
          Similarity.nswSearchBuilt(idx, "embedding", "vec_id", q, K).collect()
        }
      } else {
        val idx = c.span("operators.Similarity.readHnswIndex")(Similarity.readHnswIndex(spark, st.hnsw))
        c.span("operators.Similarity.hnswSearchBuilt") {
          Similarity.hnswSearchBuilt(idx, "embedding", "vec_id", q, K).collect()
        }
      }
    }
    val qn = math.sqrt(q.map(x => x * x).sum)
    def cos(id: Long): Double = {
      val v = live(id.toInt)._3
      var d = 0.0; var n = 0.0; var j = 0
      while (j < v.length) { d += q(j) * v(j); n += v(j).toDouble * v(j); j += 1 }
      d / (qn * math.sqrt(n))
    }
    val exact = live.indices.map(_.toLong).map(id => id -> cos(id)).sortBy(p => (-p._2, p._1)).take(K).map(_._1).toSet
    val ids = got.map(_.getLong(0))
    val recall = ids.count(exact.contains).toDouble / K
    val ok = ids.length == K && ids.distinct.length == K && ids.forall(id => id >= 0 && id < live.size) &&
      got.forall(r => math.abs(r.getDouble(1) - cos(r.getLong(0))) <= 2e-6) && recall >= MinRecall
    (ms, ok, recall)
  }
}
