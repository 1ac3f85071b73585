package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.batch.BatchStore
import graft.client.ClientStore
import graft.operators.{Retrieval, Similarity}
import graft.time.BatchID

/** Dump `.explain("formatted")` plans for the optimized serving paths, to
  * `<outDir>/<name>_<tag>.txt` (committed under `plans/r<round>/`), so
  * plan-shape claims (pushed filters, exchange counts, checkpointed
  * subtrees) are reviewable without running Spark. Run with
  * `runMain graft.tools.PlanDump <outDir> <tag>` at two trees (`before`
  * and `after` the change) over the same SPARK_GRAFT_SF_DIR.
  *
  * The dumped frame is each row's SERVE (the declared query's hot path);
  * lifecycle rows' build/maintenance phases are write jobs whose shape is
  * asserted in code review, not in a single explain.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r20")
    val tag = if (args.length > 1) args(1) else "after"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    new java.io.File(outDir).mkdirs()
    def dump(name: String, df: DataFrame): Unit = {
      val s = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
        s.getBytes("UTF-8"))
      System.err.println(s"[plandump] $name -> $outDir/${name}_$tag.txt")
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val queries = Seq(0 -> "spark window merge", 1 -> "customer filter join",
      2 -> "batch stream data").toDF("query_id", "qtext")
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // query dim derived from the data (r20 advice: a hardcoded 64 made
    // plan capture fail on any other embedding dim)
    val dim = e.select(size(col("embedding"))).head().getInt(0)
    val q = Array.tabulate(dim)(i => math.sin(i + 1.0))

    // ---- BM25: in-memory scoring + pruned top-k (candidate-frame reuse)
    val idx = Retrieval.buildIndex(docs, "text", "doc_id")
    dump("q_bm25", Retrieval.bm25FromIndex(idx, queries, "qtext", "query_id"))
    dump("q_bm25_topk_pruned",
      Retrieval.bm25TopKPruned(idx, queries, "qtext", "query_id", k = 3))

    // ---- BM25: stored serves (write once, explain the serves)
    val bmDir = java.nio.file.Files.createTempDirectory("plandump_bm25_").toString
    try {
      Retrieval.writeIndex(Retrieval.buildIndex(docs, "text", "doc_id"),
        bmDir, tokenBuckets = 16)
      dump("q_bm25_stored", Retrieval.bm25FromStored(spark, bmDir, 16,
        queries, "qtext", "query_id", "doc_id"))
      dump("q_bm25_topk_stored", Retrieval.bm25TopKFromStored(spark, bmDir,
        16, queries, "qtext", "query_id", "doc_id", k = 3))
    } finally graft.batch.BatchState.deleteDir(bmDir)

    // ---- ANN: stored serves with the exact re-rank tail
    val i8Dir = java.nio.file.Files.createTempDirectory("plandump_int8_").toString
    try {
      Similarity.int8WriteIndex(e, "embedding", "vec_id", i8Dir)
      dump("q_ann_int8_stored", Similarity.int8TopKStored(spark, i8Dir, e,
        "embedding", "vec_id", q, 10))
      val qtab = e.where(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      dump("q_ann_int8_join", Similarity.int8TopKStoredJoin(spark, i8Dir, e,
        "embedding", "vec_id", qtab, "q_vec", "q_id", k = 10))
    } finally graft.batch.BatchState.deleteDir(i8Dir)

    val ivfDir = java.nio.file.Files.createTempDirectory("plandump_ivf_").toString
    try {
      Similarity.ivfWriteIndex(e, "embedding", "vec_id", ivfDir, nCentroids = 16)
      dump("q_ann_ivf_stored", Similarity.ivfTopKStored(spark, ivfDir, e,
        "embedding", "vec_id", q, 10, nProbe = 4))
    } finally graft.batch.BatchState.deleteDir(ivfDir)

    // ---- lambda serve: the frame one ClientStore.get collects, over a
    // key-clustered snapshot plus online deltas
    val csDir = java.nio.file.Files.createTempDirectory("plandump_client_").toString
    try {
      val store = new BatchStore[Long, Long](csDir, keyBuckets = Some(8))
      store.writeSnapshot(BatchID(1), (0L until 1000L).map(k => (k, k * 2)).toDS())
      val online = (0L until 1000L).flatMap(k => Seq((k, 2L, 1L), (k, 3L, 1L))).toDS()
      dump("q_client_get",
        ClientStore.servedFrame(spark, store, online, Seq(137L), BatchID(Long.MaxValue)).toDF())
    } finally graft.batch.BatchState.deleteDir(csDir)

    spark.stop()
  }
}
