package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialize an N-x scale-up of an sf directory into scratch parquet —
  * the sf1-equivalent input for headline bench runs (the driver generates
  * sf0.001/0.01/0.1 only). Two modes:
  *
  * - default (self-union): the three volume tables (events, documents,
  *   embeddings) self-union N times with ids shifted into disjoint
  *   ranges. HONEST CAVEAT, recorded with every
  *   number derived from this output: every document/vector becomes an
  *   N-way near-duplicate, so dedup/similarity operators do STRICTLY MORE
  *   pair work than on organically larger data, while key cardinalities
  *   (users, days) scale like the shifted-id scheme, not organic growth.
  *
  * - `organic`: keeps the base tables as-is and SYNTHESIZES the remaining
  *   (N-1)x rows as new independent samples from the same distribution
  *   family — documents as fresh draws from the base corpus vocabulary AT
  *   ITS OBSERVED TOKEN FREQUENCIES (per-token document-frequency
  *   fractions stay scale-invariant — see Organic.docs),
  *   embeddings as fresh unit vectors around the same 10 label centroids,
  *   events as fresh (user, ts, type, value) draws over an N-x user space
  *   and the base time range. Every draw is a pure hash of the row id
  *   (deterministic, distributed, no driver-side loops), so the output is
  *   reproducible and pair volumes grow the way a genuinely larger corpus
  *   grows — the honest complement to the self-union's pessimism.
  *
  * Usage: runMain graft.tools.MakeScale <sfDir> <outDir> <factor> [organic]
  */
object MakeScale {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val organic = args.lift(3).contains("organic")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val shift = 1000000L
    def scaled(name: String, idCols: Seq[String]): Unit = {
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      // the shifted copies' id ranges must be disjoint, or uniqueness (and
      // every count/dedup oracle derived from this output) silently breaks
      // — e.g. running MakeScale on its own output would collide
      idCols.foreach { c =>
        val mx = df.agg(max(col(c))).collect().head.getLong(0)
        require(mx < shift,
          s"$name.$c max id $mx >= shift $shift — input ids would collide across " +
          "the shifted copies (is this already a MakeScale output?)")
      }
      (0 until factor).map { i =>
        idCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * shift)))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"MAKESCALE $name x$factor done")
    }
    if (organic) {
      // ts lands as the canonical nanos Long on BOTH branches of the union
      // — EventTime's LongType dispatch reads it back
      def write(name: String, df: DataFrame): Unit = {
        df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
        println(s"MAKESCALE $name organic x$factor done")
      }
      write("events", Organic.events(spark, graft.sources.EventTime.normalize(
        spark.read.parquet(s"$sfDir/events.parquet")), factor))
      write("documents", Organic.docs(spark,
        spark.read.parquet(s"$sfDir/documents.parquet"), factor))
      write("embeddings", Organic.embeddings(spark,
        spark.read.parquet(s"$sfDir/embeddings.parquet"), factor))
    } else {
      // event_id stays unique; user_id shifts so distinct keys scale too
      scaled("events", Seq("event_id", "user_id"))
      scaled("documents", Seq("doc_id"))
      scaled("embeddings", Seq("vec_id"))
    }
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")) {
      spark.read.parquet(s"$sfDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"MAKESCALE $t copied")
    }
    spark.stop()
  }
}
