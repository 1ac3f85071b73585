package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Golden values for the in-memory graph-ANN tiers (NSW and HNSW): the
  * exact `(id, sim)` rows of every search form and the exact adjacency of
  * the insert replay, over one fixed seeded corpus. The recall laws in
  * ApproxOpsSpec only check that a needle surfaces and that recall clears
  * a floor, so a moved tie-break, a changed seed rule or a reordered
  * neighbour list passes them unnoticed; these pins do not.
  *
  * Corpus: 300 Gaussian vectors of dim 16 (Random(23)) with ids 3i+1,
  * plus the query itself planted as id 5000. Every call uses 4 shards,
  * m = 8, efConstruction = 16 and k = 5 over a narrow beam (efSearch 4), so
  * the result depends on where the beam starts. Adjacency pins are SHA-256 digests of the rows rendered in id
  * order with each neighbour list in its emitted order.
  */
class GraphKernelGoldenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("graph-ANN search rows and insert adjacency match the golden values") {
    val got = GraphGolden.observe(spark)
    assert(got.map(_._1) == GraphGolden.expected.map(_._1))
    got.zip(GraphGolden.expected).foreach { case ((name, g), (_, want)) =>
      assert(g == want, s"$name moved")
    }
  }
}

object GraphGolden {
  private val dim = 16
  private val nParts = 4
  private val m = 8
  private val efC = 16
  private val efS = 4
  private val k = 5

  private def gauss(rnd: scala.util.Random): Array[Double] =
    Array.fill(dim)(rnd.nextGaussian())

  /** Render `(id, sim)` rows as `id:sim` with the exact double text. */
  private def simRows(df: DataFrame): String =
    df.collect().map(r => s"${r.getLong(0)}:${r.getDouble(1)}").mkString(",")

  private def digest(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString

  /** Adjacency of a built or inserted frame as `id -> rendered lists`:
    * flat `nbr_ids` as one comma list, `layer_nbrs` as `|`-joined layers.
    */
  private def adjacency(df: DataFrame, nbrCol: String): Map[Long, String] =
    df.select(col("vec_id").cast("long"), col(nbrCol)).collect().map { r =>
      val v = r.getSeq[Any](1) match {
        case layers if layers.headOption.exists(_.isInstanceOf[scala.collection.Seq[_]]) =>
          layers.map(_.asInstanceOf[scala.collection.Seq[_]].mkString(",")).mkString("|")
        case flat => flat.mkString(",")
      }
      r.getLong(0) -> v
    }.toMap

  private def render(adj: Map[Long, String]): String =
    adj.toSeq.sortBy(_._1).map { case (i, v) => s"$i:$v" }.mkString(";")

  /** Rows of `after` that are new or whose neighbour lists changed
    * against `before` (order-free), the delta an append persists.
    */
  private def delta(before: Map[Long, String], after: Map[Long, String]): Map[Long, String] = {
    def norm(v: String): Seq[String] = v.split("\\|", -1).toSeq.map(_.split(",").sorted.mkString(","))
    after.filter { case (i, v) => !before.get(i).exists(b => norm(b) == norm(v)) }
  }

  def observe(spark: SparkSession): Seq[(String, String)] = {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(23)
    val base = Seq.tabulate(300)(i => (3L * i + 1, gauss(rnd)))
    val q = gauss(rnd)
    val q2 = gauss(rnd)
    val df = (base :+ ((5000L, q.clone()))).toDF("vec_id", "embedding")
    val queries = Seq((1L, q), (2L, base(7)._2.map(_ + 0.05)), (3L, q2))
      .toDF("q_id", "q_vec")
    val books = Similarity.pqCodebooksLocal(base.map(_._2).toArray, dim, 4, 16, 2)
    val out = Seq.newBuilder[(String, String)]

    Seq("nsw", "hnsw").foreach { tier =>
      val nsw = tier == "nsw"
      val nbrCol = if (nsw) "nbr_ids" else "layer_nbrs"
      def build(d: DataFrame): DataFrame =
        (if (nsw) Similarity.nswBuild(d, "embedding", "vec_id", nParts, m, efC)
         else Similarity.hnswBuild(d, "embedding", "vec_id", nParts, m, efC))
          .localCheckpoint(true)
      def insert(idx: DataFrame, d: DataFrame): DataFrame =
        (if (nsw) Similarity.nswInsertAgainst(idx, d, "embedding", "vec_id", nParts, m, efC)
         else Similarity.hnswInsertAgainst(idx, d, "embedding", "vec_id", nParts, m, efC))
          .localCheckpoint(true)
      def searchBuilt(idx: DataFrame, query: Array[Double]): DataFrame =
        if (nsw) Similarity.nswSearchBuilt(idx, "embedding", "vec_id", query, k, nParts, efS)
        else Similarity.hnswSearchBuilt(idx, "embedding", "vec_id", query, k, nParts, efS)

      out += s"${tier}TopK" -> simRows(
        if (nsw) Similarity.nswTopK(df, "embedding", "vec_id", q, k, nParts, m, efC, efS)
        else Similarity.hnswTopK(df, "embedding", "vec_id", q, k, nParts, m, efC, efS))
      val index = build(df)
      out += s"${tier}Build" -> digest(render(adjacency(index, nbrCol)))
      out += s"${tier}SearchBuilt" -> simRows(searchBuilt(index, q))
      out += s"${tier}SearchBuilt.q2" -> simRows(searchBuilt(index, q2))
      val marked = Similarity.nswDeleteFromBuilt(index,
        Seq(5000L, 4L, 301L, 598L).toDF("vec_id"), "vec_id")
      out += s"${tier}SearchBuilt.tombstoned" -> simRows(searchBuilt(marked, q))
      val coded = (if (nsw) Similarity.nswEncodeIndex(index, "embedding", "vec_id", books)
        else Similarity.hnswEncodeIndex(index, "embedding", "vec_id", books))
        .localCheckpoint(true)
      out += s"${tier}SearchCoded" -> simRows(
        if (nsw) Similarity.nswSearchCoded(coded, "vec_id", books, q, k, nParts, efS)
        else Similarity.hnswSearchCoded(coded, "vec_id", books, q, k, nParts, efS))
      val joined =
        if (nsw) Similarity.nswTopKJoin(df, "embedding", "vec_id", queries, "q_vec", "q_id",
          k, nParts, m, efC, efS)
        else Similarity.hnswTopKJoin(df, "embedding", "vec_id", queries, "q_vec", "q_id",
          k, nParts, m, efC, efS)
      out += s"${tier}TopKJoin" -> joined.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(r => (r._1, -r._3, r._2))
        .map { case (a, b, c) => s"$a/$b:$c" }.mkString(",")

      // insert replay: interleaved ids first (every fifth base id held
      // back), then an append-only batch carrying a second needle
      val held = base.zipWithIndex.filter(_._2 % 5 == 0).map(_._1)
      val day1 = base.zipWithIndex.filter(_._2 % 5 != 0).map(_._1).toDF("vec_id", "embedding")
      val day2 = held.toDF("vec_id", "embedding")
      val day3 = ((6000L, q2.clone()) +: Seq.tabulate(15)(j => (6001L + j, gauss(
        new scala.util.Random(100 + j))))).toDF("vec_id", "embedding")
      val idx1 = build(day1)
      val idx2 = insert(idx1, day2)
      val idx3 = insert(idx2, day3)
      val (a1, a2, a3) = (adjacency(idx1, nbrCol), adjacency(idx2, nbrCol),
        adjacency(idx3, nbrCol))
      out += s"${tier}InsertAgainst.interleaved" -> digest(render(a2))
      out += s"${tier}InsertAgainst.interleaved.delta" -> digest(render(delta(a1, a2)))
      out += s"${tier}InsertAgainst.appendOnly" -> digest(render(a3))
      out += s"${tier}InsertAgainst.appendOnly.delta" -> digest(render(delta(a2, a3)))
      out += s"${tier}SearchBuilt.inserted" -> simRows(searchBuilt(idx3, q2))
    }
    out.result()
  }

  // captured once from a known-good build; a change here must be deliberate
  val expected: Seq[(String, String)] = Seq(
    "nswTopK" ->
      "5000:1.0,67:0.630298,829:0.628766,19:0.572469,889:0.567871",
    "nswBuild" ->
      "30b64c6ce5c9103ec0b3e39a",
    "nswSearchBuilt" ->
      "5000:1.0,67:0.630298,829:0.628766,19:0.572469,889:0.567871",
    "nswSearchBuilt.q2" ->
      "355:0.52136,496:0.508913,817:0.504989,460:0.502798,427:0.489455",
    "nswSearchBuilt.tombstoned" ->
      "67:0.630298,829:0.628766,19:0.572469,889:0.567871,670:0.541567",
    "nswSearchCoded" ->
      "5000:0.755529,67:0.595556,673:0.555885,829:0.542701,355:0.533305",
    "nswTopKJoin" ->
      "1/5000:1.0,1/67:0.630298,1/829:0.628766,1/19:0.572469,1/889:0.567871,2/22:0.998751,2/97:0.705815,2/379:0.653105,2/118:0.602907,2/61:0.591188,3/355:0.52136,3/496:0.508913,3/817:0.504989,3/460:0.502798,3/427:0.489455",
    "nswInsertAgainst.interleaved" ->
      "0889942e6b7027ba0a50d236",
    "nswInsertAgainst.interleaved.delta" ->
      "46643cbaf0b668cd174296f9",
    "nswInsertAgainst.appendOnly" ->
      "4bba966586eb41e575c26d4b",
    "nswInsertAgainst.appendOnly.delta" ->
      "614c070a5b3e2f5be992f94d",
    "nswSearchBuilt.inserted" ->
      "6000:1.0,355:0.52136,496:0.508913,817:0.504989,460:0.502798",
    "hnswTopK" ->
      "5000:1.0,67:0.630298,829:0.628766,19:0.572469,889:0.567871",
    "hnswBuild" ->
      "cb3440f27cd981e88fec7ac9",
    "hnswSearchBuilt" ->
      "5000:1.0,67:0.630298,829:0.628766,19:0.572469,889:0.567871",
    "hnswSearchBuilt.q2" ->
      "355:0.52136,496:0.508913,817:0.504989,460:0.502798,427:0.489455",
    "hnswSearchBuilt.tombstoned" ->
      "67:0.630298,829:0.628766,19:0.572469,889:0.567871,670:0.541567",
    "hnswSearchCoded" ->
      "5000:0.755529,67:0.595556,673:0.555885,829:0.542701,802:0.527677",
    "hnswTopKJoin" ->
      "1/5000:1.0,1/67:0.630298,1/829:0.628766,1/19:0.572469,1/889:0.567871,2/22:0.998751,2/97:0.705815,2/379:0.653105,2/118:0.602907,2/61:0.591188,3/355:0.52136,3/496:0.508913,3/817:0.504989,3/460:0.502798,3/427:0.489455",
    "hnswInsertAgainst.interleaved" ->
      "86e3f02672a3d0558d77eec9",
    "hnswInsertAgainst.interleaved.delta" ->
      "a95a13172b23c729b25396a6",
    "hnswInsertAgainst.appendOnly" ->
      "5b24ebab663b4892ac366dd5",
    "hnswInsertAgainst.appendOnly.delta" ->
      "34cc8eaf5ab36d27ed888c4c",
    "hnswSearchBuilt.inserted" ->
      "6000:1.0,355:0.52136,496:0.508913,817:0.504989,460:0.502798")
}
