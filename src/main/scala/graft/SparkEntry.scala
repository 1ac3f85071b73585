package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.api.GraftStream
import graft.algebra.Semigroup

import GateHelpers.docsDs

/** Typed rows for the API-parity queries (encoders derive at use sites). */
case class Ev(event_id: Long, ts_ms: Long, user_id: Long, event_type: String,
    value: Double, props: String)
case class Doc(doc_id: Long, text: String)

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the LLM-pipeline operator family), with a DuckDB oracle
  * where the semantics are SQL-expressible. See Scaladoc on each module for
  * the reference file:line provenance.
  */
object SparkEntry {


  /** Flagship: the reference's canonical wordCount job (summingbird-example
    * ExampleJob.scala:43-50) through the full stack — source → flatMap
    * tokenize → sumByKey(Long semigroup) — on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    GraftStream.from(docsDs(spark, dir))(_.doc_id * 1000L) // synthetic ts
      .flatMap(d => d.text.split("\\s+").iterator.filter(_.nonEmpty))
      .asKeyedWith(identity[String], (_: String) => 1L)
      .sumByKeyAllTime(Semigroup.longSemigroup, implicitly)
      .toDF("word", "cnt")
  }

  // ---------------------------------------------------------------------
  // operator inventory — concatenation of the per-family gate registries
  // (CoreGate / StreamingGate / DedupGate / AnnGate / TextGate). Keys are
  // disjoint by construction (each query lives in exactly one family
  // file); RegistrySplitSpec pins the union size against duplicates.
  // ---------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreGate.queries ++ StreamingGate.queries ++ DedupGate.queries ++
      AnnGate.queries ++ TextGate.queries

  def oracleSql: Map[String, String] =
    CoreGate.oracleSql ++ StreamingGate.oracleSql ++ DedupGate.oracleSql ++
      AnnGate.oracleSql ++ TextGate.oracleSql
}
