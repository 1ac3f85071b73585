package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.algebra.{HLL, Semigroup}
import graft.functions.TextFunctions

/** Correctness evidence for the operators whose CORRECTNESS rows are
  * rows-only (approximate / engine-specific hashing, no SQL oracle): each is
  * checked here against an exact in-suite ground truth.
  */
class ApproxOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // deterministic synthetic embeddings: 120 base vectors + 3 planted
  // near-duplicates, dim 16
  private val dim = 16
  private def vecs: Seq[(Long, Array[Double])] = {
    val rnd = new scala.util.Random(7)
    val base = Seq.tabulate(120) { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian()))
    }
    val dups = Seq(0L, 5L, 17L).zipWithIndex.map { case (src, j) =>
      val v = base(src.toInt)._2.map(_ + 0.01 * (j + 1))
      (200L + j, v)
    }
    base ++ dups
  }

  test("HLL estimate within 2% of exact over the events cardinalities") {
    // deterministic sketch: exact tolerance holds for the tested inputs
    for (n <- Seq(100, 1000, 5000, 20000)) {
      val est = (0 until n).map(i => HLL.ofLong(i.toLong * 2654435761L + 17))
        .reduce(HLL.hllSemigroup.plus).estimate
      val err = math.abs(est - n).toDouble / n
      assert(err <= 0.02, s"n=$n est=$est err=$err")
    }
  }

  test("full-probe IVF equals brute force per query (exact configuration)") {
    val s = spark; import s.implicits._
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id").isin(0L, 50L, 201L))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val ivf = Similarity.ivfTopK(spark, df, "embedding", "vec_id",
        queries, "q_vec", "q_id", k = 5, nCentroids = 4, nProbe = 4)
      .as[(Long, Long, Double)].collect().toSet
    val brute = Similarity.bruteForceTopKJoin(df, "embedding", "vec_id",
        queries, "q_vec", "q_id", k = 5)
      .as[(Long, Long, Double)].collect().toSet
    assert(ivf == brute)
  }

  test("Lloyd-refined IVF at partial probe: planted dup found, recall vs brute >= 0.6") {
    val s = spark; import s.implicits._
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id").isin(0L, 50L, 201L))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val ivf = Similarity.ivfTopK(spark, df, "embedding", "vec_id",
        queries, "q_vec", "q_id", k = 5, nCentroids = 4, nProbe = 2,
        lloydIters = 2)
      .as[(Long, Long, Double)].collect()
    // a near-duplicate query must land in the same refined cell as its source
    assert(ivf.filter(_._1 == 201L).map(_._2).contains(5L),
      s"query 201 missed source 5: ${ivf.toSeq}")
    val brute = Similarity.bruteForceTopKJoin(df, "embedding", "vec_id",
        queries, "q_vec", "q_id", k = 5)
      .as[(Long, Long, Double)].collect()
    val recall = ivf.map(r => (r._1, r._2)).toSet
      .intersect(brute.map(r => (r._1, r._2)).toSet).size.toDouble / brute.length
    assert(recall >= 0.6, s"recall=$recall")
  }

  test("PQ: ADC score == cosine(query, reconstruction) exactly; recall vs brute >= 0.6") {
    val s = spark; import s.implicits._
    val df = vecs.toDF("vec_id", "embedding")
    val q = Array.tabulate(dim)(i => math.sin(i + 1.0))
    val books = Similarity.pqCodebooks(df, "embedding", "vec_id", dim, m = 4, c = 8)
    val encoded = df.select(col("vec_id"),
      Similarity.pqEncode(col("embedding"), books).as("__code"))
    // ADC plumbing is exact over the codes: the columnar lookup-sum score
    // must equal the driver-side cosine of q against the reconstruction
    val n = vecs.size
    val scores = Similarity.pqTopKEncoded(encoded, "__code", "vec_id", books, q, k = n)
      .as[(Long, Double)].collect().toMap
    val codes = encoded.as[(Long, Seq[Int])].collect().toMap
    assert(scores.size == n && codes.size == n)
    val subDim = dim / 4
    codes.foreach { case (id, code) =>
      val recon = code.zipWithIndex.flatMap { case (cd, sub) => books(sub)(cd) }.toArray
      val dot = recon.zip(q).map { case (a, b) => a * b }.sum
      val expect = dot / (math.sqrt(q.map(x => x * x).sum) * math.sqrt(recon.map(x => x * x).sum))
      assert(math.abs(scores(id) - (math.rint(expect * 1e6) / 1e6)) < 2e-6,
        s"ADC mismatch for $id: ${scores(id)} vs $expect (recon of $code, subDim=$subDim)")
    }
    // quantized rescoring still ranks the true neighborhood first
    val brute = Similarity.bruteForceTopK(df, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSet
    val pq = Similarity.pqTopK(df, "embedding", "vec_id", q, k = 10, dim = dim, m = 4, c = 8)
      .select("vec_id").as[Long].collect().toSet
    val recall = brute.intersect(pq).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall=$recall pq=$pq brute=$brute")
  }

  test("IVF-PQ: full-probe recall vs brute >= 0.6; partial probe stays within probed cells") {
    val s = spark; import s.implicits._
    val df = vecs.toDF("vec_id", "embedding")
    val q = Array.tabulate(dim)(i => math.cos(i + 0.5))
    val brute = Similarity.bruteForceTopK(df, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSet
    val full = Similarity.ivfPqTopK(df, "embedding", "vec_id", q, k = 10,
        dim = dim, nCentroids = 4, nProbe = 4, m = 4, c = 8)
      .select("vec_id").as[Long].collect().toSet
    val recall = brute.intersect(full).size.toDouble / brute.size
    assert(recall >= 0.6, s"full-probe recall=$recall ivfpq=$full brute=$brute")
    // partial probe returns at most k rows from the probed cells only
    val partial = Similarity.ivfPqTopK(df, "embedding", "vec_id", q, k = 10,
        dim = dim, nCentroids = 4, nProbe = 1, m = 4, c = 8)
      .select("vec_id").as[Long].collect()
    assert(partial.length <= 10 && partial.nonEmpty)
  }

  test("NSW graph ANN: needle found, recall vs brute >= 0.6, built-index == fused, any layout") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(13)
    val q = Array.fill(dim)(rnd.nextGaussian())
    val df = (vecs :+ ((300L, q.clone()))).toDF("vec_id", "embedding")
    val brute = Similarity.bruteForceTopK(df, "embedding", "vec_id", q, 10)
      .as[(Long, Double)].collect()
    assert(brute.head._1 == 300L) // sanity: the planted copy is the 1-NN

    val fused = Similarity.nswTopK(df, "embedding", "vec_id", q, k = 10,
      nParts = 4, m = 4, efConstruction = 32, efSearch = 32)
      .as[(Long, Double)].collect()
    // greedy beam search must surface the exact planted copy
    assert(fused.head._1 == 300L && fused.head._2 == 1.0)
    val recall = fused.map(_._1).toSet.intersect(brute.map(_._1).toSet).size / 10.0
    assert(recall >= 0.6, s"recall $recall")

    // persisted adjacency + separate search reproduces the fused result
    val index = Similarity.nswBuild(df, "embedding", "vec_id",
      nParts = 4, m = 4, efConstruction = 32).localCheckpoint(true)
    val viaIndex = Similarity.nswSearchBuilt(index, "embedding", "vec_id", q,
      k = 10, nParts = 4, efSearch = 32).as[(Long, Double)].collect()
    assert(viaIndex.toSeq == fused.toSeq)

    // determinism across physical input layouts (repartition noise)
    val relaid = Similarity.nswTopK(df.repartition(13, col("embedding")),
      "embedding", "vec_id", q, k = 10, nParts = 4, m = 4,
      efConstruction = 32, efSearch = 32).as[(Long, Double)].collect()
    assert(relaid.toSeq == fused.toSeq)

    // query-table form: each query vector is a table row, so its self-hit
    // at cosine 1.0 must rank first; the single-query form agrees
    val queries = df.where(col("vec_id").isin(0L, 50L, 300L))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val joined = Similarity.nswTopKJoin(df, "embedding", "vec_id", queries,
      "q_vec", "q_id", k = 10, nParts = 4, m = 4,
      efConstruction = 32, efSearch = 32)
      .as[(Long, Long, Double)].collect()
    Seq(0L, 50L, 300L).foreach { qid =>
      val hits = joined.filter(_._1 == qid).sortBy(r => (-r._3, r._2))
      assert(hits.length == 10)
      assert(hits.head._2 == qid && hits.head._3 == 1.0, s"q=$qid self-hit")
    }
    assert(joined.filter(_._1 == 300L).map(r => (r._2, r._3)).toSet == fused.toSet)

    // codes-only serving: the persisted index drops the vector column for
    // PQ codes; ADC beam search must still surface the planted copy (its
    // quantized self-similarity dominates natural neighbors), and the
    // stored schema carries no embedding
    val books = Similarity.pqCodebooks(df, "embedding", "vec_id", dim, m = 4, c = 8)
    val coded = Similarity.nswEncodeIndex(index, "embedding", "vec_id", books)
      .localCheckpoint(true)
    assert(!coded.columns.contains("embedding"))
    val codedHits = Similarity.nswSearchCoded(coded, "vec_id", books, q,
      k = 10, nParts = 4, efSearch = 32).as[(Long, Double)].collect()
    assert(codedHits.length == 10)
    assert(codedHits.head._1 == 300L, s"codes-only needle miss: ${codedHits.toSeq}")
  }

  test("NSW incremental insert: append-only batch == full rebuild exactly; day-2 needle surfaces") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(21)
    val q = Array.fill(dim)(rnd.nextGaussian())
    val batch1 = vecs.toDF("vec_id", "embedding")
    // day-2 ingest: ids strictly above every indexed id (append-only shape),
    // one exact copy of the query planted among fresh noise
    val day2 = ((500L, q.clone()) +: Seq.tabulate(20)(j =>
        (510L + j.toLong, Array.fill(dim)(rnd.nextGaussian()))))
      .toDF("vec_id", "embedding")
    val idx1 = Similarity.nswBuild(batch1, "embedding", "vec_id",
      nParts = 4, m = 4, efConstruction = 32).localCheckpoint(true)
    val incr = Similarity.nswInsertAgainst(idx1, day2, "embedding", "vec_id",
      nParts = 4, m = 4, efConstruction = 32).localCheckpoint(true)
    val rebuilt = Similarity.nswBuild(batch1.unionByName(day2), "embedding", "vec_id",
      nParts = 4, m = 4, efConstruction = 32).localCheckpoint(true)
    // append-only insert replays the construction loop node for node, so the
    // incremental index is IDENTICAL to the full rebuild (adjacency included)
    assert(incr.except(rebuilt).count() == 0 && rebuilt.except(incr).count() == 0,
      "incremental insert diverged from full rebuild")
    val hits = Similarity.nswSearchBuilt(incr, "embedding", "vec_id", q,
      k = 10, nParts = 4, efSearch = 32).as[(Long, Double)].collect()
    assert(hits.head._1 == 500L && hits.head._2 == 1.0,
      s"day-2 needle missed: ${hits.toSeq}")
  }

  test("NSW search with mismatched nParts fails loudly (no silent graph fragmentation)") {
    val s = spark; import s.implicits._
    val df = vecs.toDF("vec_id", "embedding")
    val idx = Similarity.nswBuild(df, "embedding", "vec_id",
      nParts = 4, m = 4, efConstruction = 32).localCheckpoint(true)
    val e = intercept[Exception] {
      Similarity.nswSearchBuilt(idx, "embedding", "vec_id",
        Array.fill(dim)(0.1), k = 5, nParts = 3, efSearch = 32).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("different nParts")),
      s"expected the nParts-contract error, got: ${messages(e)}")
  }

  test("NSW tombstone delete: never returned, still routing, exhaustive-beam " +
      "equality vs retained brute, marks compose, coded form honors them") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(29)
    val q = Array.fill(dim)(rnd.nextGaussian())
    val df = (vecs :+ ((300L, q.clone()))).toDF("vec_id", "embedding")
    val index = Similarity.nswBuild(df, "embedding", "vec_id",
      nParts = 4, m = 4, efConstruction = 32).localCheckpoint(true)
    val victims = Seq(300L, 0L, 5L)
    // never-indexed 99999 is a harmless no-op
    val marked = Similarity.nswDeleteFromBuilt(index,
      (victims :+ 99999L).toDF("vec_id"), "vec_id").localCheckpoint(true)
    val exact = Similarity.bruteForceTopK(
      df.where(!col("vec_id").isin(victims: _*)), "embedding", "vec_id", q, 10)
      .as[(Long, Double)].collect()
    // exhaustive beam (ef >= corpus): the tombstoned planted 1-NN routes
    // but never surfaces, and the served ids equal the exact top-k over
    // the retained rows
    val n = df.count().toInt
    val got = Similarity.nswSearchBuilt(marked, "embedding", "vec_id", q,
      k = 10, nParts = 4, efSearch = n).as[(Long, Double)].collect()
    assert(got.map(_._1).toSeq == exact.map(_._1).toSeq,
      s"got=${got.toSeq} exact=${exact.toSeq}")
    // serving ef: still k rows, no victim, recall vs retained holds
    val small = Similarity.nswSearchBuilt(marked, "embedding", "vec_id", q,
      k = 10, nParts = 4, efSearch = 32).as[(Long, Double)].collect()
    assert(small.length == 10)
    assert(small.map(_._1).toSet.intersect(victims.toSet).isEmpty,
      s"deleted id served: ${small.toSeq}")
    val recall = small.map(_._1).toSet.intersect(exact.map(_._1).toSet).size / 10.0
    assert(recall >= 0.6, s"post-delete recall $recall")
    // marks compose: a second delete ORs into the first
    val marked2 = Similarity.nswDeleteFromBuilt(marked,
      Seq(1L).toDF("vec_id"), "vec_id")
    val after2 = Similarity.nswSearchBuilt(marked2, "embedding", "vec_id", q,
      k = 10, nParts = 4, efSearch = n).as[(Long, Double)].collect()
    assert(after2.map(_._1).toSet.intersect(Set(300L, 0L, 5L, 1L)).isEmpty)
    // physical fold = rebuild over retained rows; serves the same ids
    val folded = Similarity.nswBuild(
      marked.where(!col("nsw_deleted")).select("vec_id", "embedding"),
      "embedding", "vec_id", nParts = 4, m = 4, efConstruction = 32)
    val foldGot = Similarity.nswSearchBuilt(folded, "embedding", "vec_id", q,
      k = 10, nParts = 4, efSearch = n).as[(Long, Double)].collect()
    assert(foldGot.map(_._1).toSeq == exact.map(_._1).toSeq)
    // codes-only serving honors the same marks (plain column join)
    val books = Similarity.pqCodebooks(df, "embedding", "vec_id", dim, m = 4, c = 8)
    val coded = Similarity.nswEncodeIndex(index, "embedding", "vec_id", books)
    val codedMarked = Similarity.nswDeleteFromBuilt(coded,
      victims.toDF("vec_id"), "vec_id")
    val codedHits = Similarity.nswSearchCoded(codedMarked, "vec_id", books, q,
      k = 10, nParts = 4, efSearch = 32).as[(Long, Double)].collect()
    assert(codedHits.nonEmpty &&
      codedHits.map(_._1).toSet.intersect(victims.toSet).isEmpty,
      s"coded form served a deleted id: ${codedHits.toSeq}")
  }

  test("NSW multi-entry seeding: recall vs brute >= 0.6 holds at a 10x-larger shard, same efSearch") {
    val s = spark; import s.implicits._
    // 10x the base fixture in ONE shard — the regime where a single fixed
    // entry on a layer-0-only graph loses recall (what HNSW's upper layers
    // fix); spread multi-entry seeding must hold the line at efSearch=32
    val rnd = new scala.util.Random(29)
    val big = Seq.tabulate(1200)(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
    val df = big.toDF("vec_id", "embedding")
    val q = Array.fill(dim)(rnd.nextGaussian())
    val brute = Similarity.bruteForceTopK(df, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect().toSet
    val nsw = Similarity.nswTopK(df, "embedding", "vec_id", q, k = 10,
        nParts = 1, m = 8, efConstruction = 64, efSearch = 32)
      .select("vec_id").as[Long].collect().toSet
    val recall = brute.intersect(nsw).size.toDouble / brute.size
    assert(recall >= 0.6, s"10x-shard recall=$recall nsw=$nsw brute=$brute")
  }

  test("HNSW (real upper layers): needle found, built == fused, 10x-shard recall holds, any layout") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(13)
    val q = Array.fill(dim)(rnd.nextGaussian())
    val df = (vecs :+ ((300L, q.clone()))).toDF("vec_id", "embedding")
    val fused = Similarity.hnswTopK(df, "embedding", "vec_id", q, k = 10,
      nParts = 4, m = 4, efConstruction = 32, efSearch = 32)
      .as[(Long, Double)].collect()
    assert(fused.head._1 == 300L && fused.head._2 == 1.0, s"needle miss: ${fused.toSeq}")

    // persisted multi-layer adjacency + re-derived entry reproduces the
    // fused search exactly
    val index = Similarity.hnswBuild(df, "embedding", "vec_id",
      nParts = 4, m = 4, efConstruction = 32).localCheckpoint(true)
    val viaIndex = Similarity.hnswSearchBuilt(index, "embedding", "vec_id", q,
      k = 10, nParts = 4, efSearch = 32).as[(Long, Double)].collect()
    assert(viaIndex.toSeq == fused.toSeq)

    // physical-layout determinism
    val relaid = Similarity.hnswTopK(df.repartition(13, col("embedding")),
      "embedding", "vec_id", q, k = 10, nParts = 4, m = 4,
      efConstruction = 32, efSearch = 32).as[(Long, Double)].collect()
    assert(relaid.toSeq == fused.toSeq)

    // level structure: every layer-l neighbor list implies membership of
    // all lower layers (array length = level + 1 >= 1)
    val lvls = index.select(col("vec_id"), size(col("layer_nbrs")).as("n"))
      .as[(Long, Int)].collect()
    assert(lvls.forall(_._2 >= 1) && lvls.exists(_._2 >= 2),
      s"degenerate level structure: ${lvls.toSeq.take(10)}")

    // codes-only serving through the hierarchy: the persisted index swaps
    // vectors for PQ codes and the needle still surfaces via ADC scores
    val books = Similarity.pqCodebooks(df, "embedding", "vec_id", dim, m = 4, c = 8)
    val coded = Similarity.hnswEncodeIndex(index, "embedding", "vec_id", books)
      .localCheckpoint(true)
    assert(!coded.columns.contains("embedding"))
    val codedHits = Similarity.hnswSearchCoded(coded, "vec_id", books, q,
      k = 10, nParts = 4, efSearch = 32).as[(Long, Double)].collect()
    assert(codedHits.length == 10)
    assert(codedHits.head._1 == 300L, s"HNSW codes-only needle miss: ${codedHits.toSeq}")

    // query-table form: self-hits rank first; the planted query agrees
    // with the fused single-query search
    val queries = df.where(col("vec_id").isin(0L, 50L, 300L))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val joined = Similarity.hnswTopKJoin(df, "embedding", "vec_id", queries,
      "q_vec", "q_id", k = 10, nParts = 4, m = 4,
      efConstruction = 32, efSearch = 32)
      .as[(Long, Long, Double)].collect()
    Seq(0L, 50L, 300L).foreach { qid =>
      val hits = joined.filter(_._1 == qid).sortBy(r => (-r._3, r._2))
      assert(hits.length == 10)
      assert(hits.head._2 == qid && hits.head._3 == 1.0, s"hnsw q=$qid self-hit")
    }
    assert(joined.filter(_._1 == 300L).map(r => (r._2, r._3)).toSet == fused.toSet)

    // the upper layers carry recall at a 10x-larger SINGLE shard without
    // raising efSearch — the regime they exist for
    val rnd2 = new scala.util.Random(29)
    val big = Seq.tabulate(1200)(i => (i.toLong, Array.fill(dim)(rnd2.nextGaussian())))
    val bigDf = big.toDF("vec_id", "embedding")
    val q2 = Array.fill(dim)(rnd2.nextGaussian())
    val brute = Similarity.bruteForceTopK(bigDf, "embedding", "vec_id", q2, 10)
      .select("vec_id").as[Long].collect().toSet
    val hnsw = Similarity.hnswTopK(bigDf, "embedding", "vec_id", q2, k = 10,
        nParts = 1, m = 8, efConstruction = 64, efSearch = 32)
      .select("vec_id").as[Long].collect().toSet
    val recall = brute.intersect(hnsw).size.toDouble / brute.size
    assert(recall >= 0.6, s"10x-shard HNSW recall=$recall hnsw=$hnsw brute=$brute")
  }

  test("HNSW incremental insert: append-only batch == full rebuild exactly; day-2 needle surfaces") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(21)
    val q = Array.fill(dim)(rnd.nextGaussian())
    val batch1 = vecs.toDF("vec_id", "embedding")
    val day2 = ((500L, q.clone()) +: Seq.tabulate(20)(j =>
        (510L + j.toLong, Array.fill(dim)(rnd.nextGaussian()))))
      .toDF("vec_id", "embedding")
    val idx1 = Similarity.hnswBuild(batch1, "embedding", "vec_id",
      nParts = 4, m = 4, efConstruction = 32).localCheckpoint(true)
    val incr = Similarity.hnswInsertAgainst(idx1, day2, "embedding", "vec_id",
      nParts = 4, m = 4, efConstruction = 32).localCheckpoint(true)
    val rebuilt = Similarity.hnswBuild(batch1.unionByName(day2), "embedding", "vec_id",
      nParts = 4, m = 4, efConstruction = 32).localCheckpoint(true)
    assert(incr.except(rebuilt).count() == 0 && rebuilt.except(incr).count() == 0,
      "HNSW incremental insert diverged from full rebuild")
    val hits = Similarity.hnswSearchBuilt(incr, "embedding", "vec_id", q,
      k = 10, nParts = 4, efSearch = 32).as[(Long, Double)].collect()
    assert(hits.head._1 == 500L && hits.head._2 == 1.0,
      s"HNSW day-2 needle missed: ${hits.toSeq}")
  }

  test("incremental-insert guards: duplicate ids and mismatched m fail loudly") {
    val s = spark; import s.implicits._
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val df = vecs.toDF("vec_id", "embedding")
    // re-delivered batch: an id already in the index must throw, not emit
    // a silently corrupted duplicate-id index
    val idx = Similarity.nswBuild(df, "embedding", "vec_id",
      nParts = 4, m = 4, efConstruction = 32).localCheckpoint(true)
    val e1 = intercept[Exception] {
      Similarity.nswInsertAgainst(idx, df.where(col("vec_id") === 5L),
        "embedding", "vec_id", nParts = 4, m = 4, efConstruction = 32).count()
    }
    assert(msgs(e1).exists(_.contains("already in the index")), msgs(e1))
    // hierarchical insert with a different m than the build: levels are
    // m-derived, so the mismatch must throw instead of silently
    // restructuring nodes
    val hidx = Similarity.hnswBuild(df, "embedding", "vec_id",
      nParts = 4, m = 4, efConstruction = 32).localCheckpoint(true)
    val fresh = Seq((900L, Array.fill(dim)(0.1))).toDF("vec_id", "embedding")
    val e2 = intercept[Exception] {
      Similarity.hnswInsertAgainst(hidx, fresh, "embedding", "vec_id",
        nParts = 4, m = 8, efConstruction = 32).count()
    }
    assert(msgs(e2).exists(_.contains("SAME m")), msgs(e2))
  }

  test("graph and PQ searches refuse a query whose dimension differs from the data's") {
    val s = spark; import s.implicits._
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    val df = vecs.toDF("vec_id", "embedding")
    val idx = Similarity.nswBuild(df, "embedding", "vec_id",
      nParts = 4, m = 4, efConstruction = 32).localCheckpoint(true)
    val books = Similarity.pqCodebooks(df, "embedding", "vec_id", dim, m = 4, c = 8)
    // a short query used to throw ArrayIndexOutOfBounds; a long one was
    // silently mis-scored (its extra components counted in the norm only)
    Seq(dim - 1, dim + 3).foreach { d =>
      val q = Array.tabulate(d)(i => math.cos(i + 1.0))
      val e1 = intercept[Exception] {
        Similarity.nswSearchBuilt(idx, "embedding", "vec_id", q, k = 5,
          nParts = 4).collect()
      }
      assert(msgs(e1).exists(_.contains(s"query has $d dimensions")), msgs(e1))
      val e2 = intercept[IllegalArgumentException] {
        Similarity.pqTopKEncoded(df.select(col("vec_id"),
            Similarity.pqEncode(col("embedding"), books).as("__code")),
          "__code", "vec_id", books, q, k = 5).collect()
      }
      assert(e2.getMessage.contains(s"query has $d dimensions"), e2.getMessage)
    }
  }

  test("LSH ANN finds the planted near-duplicates; recall vs brute >= 0.6") {
    val s = spark; import s.implicits._
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.where(col("vec_id") >= 200L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val lsh = Similarity.lshTopK(df, "embedding", "vec_id", queries,
        "q_vec", "q_id", dim = dim, k = 3, nBits = 8)
      .as[(Long, Long, Double)].collect()
    // each planted dup's nearest neighbour is its source vector
    val bySrc = Map(200L -> 0L, 201L -> 5L, 202L -> 17L)
    bySrc.foreach { case (q, src) =>
      val got = lsh.filter(_._1 == q).map(_._2).toSet
      assert(got.contains(src), s"query $q missed its source $src (got $got)")
    }
    val brute = Similarity.bruteForceTopKJoin(df, "embedding", "vec_id",
        queries, "q_vec", "q_id", k = 3)
      .as[(Long, Long, Double)].collect()
    val recall = lsh.map(r => (r._1, r._2)).toSet
      .intersect(brute.map(r => (r._1, r._2)).toSet).size.toDouble / brute.length
    assert(recall >= 0.6, s"recall=$recall")
  }

  test("embedding LSH dedup never drops non-duplicates and catches planted dups (this data)") {
    val s = spark; import s.implicits._
    val df = vecs.toDF("vec_id", "embedding")
    val lshKept = Dedup.embeddingNearDup(df, "embedding", "vec_id",
      dim = dim, threshold = 0.95, nBits = 6).select("vec_id")
      .as[Long].collect().toSet
    val exactKept = Dedup.embeddingNearDupExact(df, "embedding", "vec_id",
      threshold = 0.95).select("vec_id").as[Long].collect().toSet
    // LSH may only miss drops (recall < 1), never drop a non-duplicate
    assert(lshKept.subsetOf(vecs.map(_._1).toSet))
    assert(exactKept.subsetOf(lshKept))
    // exact ground truth drops exactly the planted near-duplicates
    assert(vecs.map(_._1).toSet -- exactKept == Set(200L, 201L, 202L))
    // and on this data the LSH pass catches them all
    assert(lshKept == exactKept)
  }

  test("banded witness check == exhaustive subset boolean (true, false, " +
       "empty-dropped; remainder path forced)") {
    val s = spark; import s.implicits._
    val df = vecs.toDF("vec_id", "embedding")
    val exactKept = Dedup.embeddingNearDupExact(df, "embedding", "vec_id",
      threshold = 0.95).select("vec_id")
    // TRUE: every doc the exact dedup dropped has its smaller-id witness
    assert(Dedup.nearDupWitnessCheck(df, exactKept, "embedding", "vec_id",
      dim, 0.95))
    // empty dropped set: kept == corpus is trivially witnessed
    assert(Dedup.nearDupWitnessCheck(df, df.select("vec_id"), "embedding",
      "vec_id", dim, 0.95))
    // FALSE: additionally drop a doc the exact pass KEPT — by the exact
    // pass's own verdict it has no smaller-id near-dup, so no witness
    // exists and the check must fail
    val badKept = exactKept.where(col("vec_id") =!= 50L)
    assert(!Dedup.nearDupWitnessCheck(df, badKept, "embedding", "vec_id",
      dim, 0.95))
    // remainder path: bands=1, nBits=16 starves the banded prefilter so
    // witnesses fall through to the exact remainder pass — the boolean
    // must be identical either way (a banding miss only moves cost)
    assert(Dedup.nearDupWitnessCheck(df, exactKept, "embedding", "vec_id",
      dim, 0.95, bands = 1, nBits = 16))
    assert(!Dedup.nearDupWitnessCheck(df, badKept, "embedding", "vec_id",
      dim, 0.95, bands = 1, nBits = 16))
  }

  test("semanticDedup: 1-cluster == exact; clustering only ADDS survivors; planted dups still drop (this data)") {
    val s = spark; import s.implicits._
    val df = vecs.toDF("vec_id", "embedding")
    val all = vecs.map(_._1).toSet
    val exactKept = Dedup.embeddingNearDupExact(df, "embedding", "vec_id",
      threshold = 0.95).select("vec_id").as[Long].collect().toSet
    val oneCluster = Dedup.semanticDedup(df, "embedding", "vec_id",
      nClusters = 1, threshold = 0.95).select("vec_id").as[Long].collect().toSet
    assert(oneCluster == exactKept) // exhaustive configuration is exact
    for (k <- Seq(3, 8)) {
      val kept = Dedup.semanticDedup(df, "embedding", "vec_id",
        nClusters = k, threshold = 0.95).select("vec_id").as[Long].collect().toSet
      // cluster scoping can only MISS pairs -> survivor superset of exact,
      // and never invents a drop
      assert(exactKept.subsetOf(kept), s"k=$k")
      assert(kept.subsetOf(all), s"k=$k")
      // a planted near-dup sits ~on top of its source: cosine argmax puts
      // both in the same cluster, so SemDeDup still drops all three
      assert((all -- kept) == Set(200L, 201L, 202L), s"k=$k")
    }
  }

  test("two-level centroid assignment: exact on separated clusters; hier semanticDedup keeps the dedup contract") {
    val s = spark; import s.implicits._
    // 36 one-hot fine centroids in 36 dims: any coarse grouping of one-hots
    // is separated (a point near e_i has sim ~1/sqrt(|group|) to its own
    // group's coarse centroid, ~0 to every other), so the two-level argmax
    // must equal brute EXACTLY
    val d36 = 36
    val cents = Array.tabulate(d36)(i =>
      Array.tabulate(d36)(j => if (i == j) 1.0 else 0.0))
    val pts = (0 until 180).map { p =>
      val c = p % d36
      (p.toLong, Array.tabulate(d36)(j =>
        (if (j == c) 1.0 else 0.0) + 0.05 * math.sin(p * d36 + j)))
    }
    val df = pts.toDF("vec_id", "embedding")
    val brute = df.withColumn("__cid",
      Similarity.nearestCentroid(col("embedding"), cents))
    val hier = Similarity.withNearestCentroidTwoLevel(
      df, col("embedding"), cents, "__cid")
    val b = brute.select("vec_id", "__cid").as[(Long, Int)].collect().toMap
    val h = hier.select("vec_id", "__cid").as[(Long, Int)].collect().toMap
    assert(h == b)
    assert(b.values.toSet.size == d36) // every cluster actually hit
    // the hier path through semanticDedup preserves the dedup contract on
    // the gaussian fixture: survivors never invented, exact survivors kept,
    // and the three planted near-dups (identical direction to their source,
    // so identical assignment in BOTH regimes) still drop
    val gdf = vecs.toDF("vec_id", "embedding")
    val all = vecs.map(_._1).toSet
    val exactKept = Dedup.embeddingNearDupExact(gdf, "embedding", "vec_id",
      threshold = 0.95).select("vec_id").as[Long].collect().toSet
    val hierKept = Dedup.semanticDedup(gdf, "embedding", "vec_id",
      nClusters = 8, threshold = 0.95, hierAssign = true)
      .select("vec_id").as[Long].collect().toSet
    assert(exactKept.subsetOf(hierKept))
    assert(hierKept.subsetOf(all))
    assert((all -- hierKept) == Set(200L, 201L, 202L))
  }

  test("sampled k-means training: a whole-corpus sample reproduces the " +
      "distributed Lloyd exactly; a bounded sample keeps the dedup contract") {
    val s = spark; import s.implicits._
    val df = vecs.toDF("vec_id", "embedding")
    val n = vecs.size
    // trainSample >= corpus: the driver-local Lloyd sees the same rows in
    // the same (hash, id) order with the same seed/assign/mean/empty-cell
    // rules, so the centroids must match the distributed path to fp noise
    val full = Similarity.kmeansCentroids(df, "embedding", "vec_id",
      nCentroids = 8, lloydIters = 2)
    val local = Similarity.kmeansCentroids(df, "embedding", "vec_id",
      nCentroids = 8, lloydIters = 2, trainSample = n)
    assert(full.length == local.length)
    val maxDiff = full.zip(local).map { case (a, b) =>
      a.zip(b).map { case (x, y) => math.abs(x - y) }.max
    }.max
    assert(maxDiff < 1e-9, s"sampled(=all) Lloyd diverged: $maxDiff")
    // a BOUNDED sample still yields valid centroids: semanticDedup on them
    // keeps every dedup invariant (exact survivors subset, no invented
    // drops, planted dups in-cluster and dropped)
    val all = vecs.map(_._1).toSet
    val exactKept = Dedup.embeddingNearDupExact(df, "embedding", "vec_id",
      threshold = 0.95).select("vec_id").as[Long].collect().toSet
    val kept = Dedup.semanticDedup(df, "embedding", "vec_id",
      nClusters = 8, threshold = 0.95, trainSample = n / 3)
      .select("vec_id").as[Long].collect().toSet
    assert(exactKept.subsetOf(kept))
    assert(kept.subsetOf(all))
    assert((all -- kept) == Set(200L, 201L, 202L))
  }

  test("CMS frequency estimates: never under, within eps*N, merge == bulk") {
    import graft.algebra.CMS
    val rnd = new scala.util.Random(5)
    // zipfian-ish: item i appears ~ 2000/(i+1) times
    val items = (0 until 50).flatMap(i => Seq.fill(2000 / (i + 1))(i.toLong))
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sketches = items.map(CMS.ofLong(_))
    val bulk = sketches.reduce(CMS.cmsSemigroup.plus)
    // split-merge equals bulk (associativity over a random split)
    val (l, r) = sketches.splitAt(rnd.nextInt(items.size - 1) + 1)
    val split = CMS.cmsSemigroup.plus(
      l.reduce(CMS.cmsSemigroup.plus), r.reduce(CMS.cmsSemigroup.plus))
    assert(split.counts.toSeq == bulk.counts.toSeq && split.totalCount == bulk.totalCount)
    val n = items.size
    val eps = math.E / 512
    truth.foreach { case (item, c) =>
      val est = bulk.estimate(item)
      assert(est >= c, s"under-estimate for $item")
      assert(est <= c + (eps * n).ceil.toLong * 3, s"way over for $item: $est vs $c")
    }
    assert(bulk.estimate(999999L) <= (eps * n).ceil.toLong * 3)
  }

  test("simhash banding is complete for hamming distance <= 3") {
    // pigeonhole, checked empirically: any pair of 64-bit signatures at
    // hamming <= 3 shares at least one untouched 16-bit band
    val rnd = new scala.util.Random(11)
    def bands(x: Long): Seq[Long] = (0 until 4).map(b => (x >>> (b * 16)) & 0xffffL)
    for (_ <- 1 to 2000) {
      val a = rnd.nextLong()
      val flips = rnd.nextInt(4) // 0..3 bit flips
      val b = (1 to flips).foldLeft(a)((acc, _) => acc ^ (1L << rnd.nextInt(64)))
      assert(bands(a).zip(bands(b)).exists { case (x, y) => x == y },
        s"hamming<=3 pair with no shared band: $a $b")
    }
  }

  test("simhash dedup drops token-permuted duplicates, keeps distinct docs") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      // same bag of tokens, reordered -> identical simhash (order-free votes)
      (2L, "quick the brown fox jumps the over lazy dog near river the bank today"),
      (3L, "completely different content about distributed stream processing engines"),
      (4L, "yet another unrelated document mentioning databases and query optimizers"))
      .toDF("doc_id", "text")
    val kept = Dedup.simhash(docs, "text", "doc_id", maxHamming = 3)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L))
  }

  test("winnowing fingerprints: match a scala reference, guarantee shared matches, compress") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(13)
    val vocab = Vector.tabulate(60)(i => s"t$i")
    val shared = Seq.fill(20)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val docs = Seq(
      (1L, Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" ") + " " + shared),
      (2L, shared + " " + Seq.fill(30)(vocab(rnd.nextInt(vocab.size))).mkString(" ")),
      (3L, Seq.fill(50)(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
      .toDF("doc_id", "text")
    val w = 3; val window = 4
    val out = docs.select(col("doc_id"),
        Dedup.shingleSeqCol(col("text"), w).as("__seq"),
        graft.functions.TextFunctions.winnow(
          Dedup.shingleSeqCol(col("text"), w), window).as("__fp"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

    // scala reference: distinct minima of each sliding window
    def ref(seq: Seq[Long]): Set[Long] =
      if (seq.isEmpty) Set.empty
      else if (seq.length <= window) Set(seq.min)
      else seq.sliding(window).map(_.min).toSet
    out.foreach { case (id, (seq, fp)) =>
      assert(fp.toSet == ref(seq), s"doc $id")
      assert(fp.distinct == fp)
      // compression: far fewer fingerprints than shingles
      if (seq.length > window) assert(fp.length < seq.length)
    }
    // the 20-token shared run guarantees a common fingerprint for docs 1,2
    val common = out(1L)._2.toSet.intersect(out(2L)._2.toSet)
    assert(common.nonEmpty)
    // unrelated doc 3 shares nothing with the planted run's minima
    assert(out(3L)._2.toSet.intersect(common).isEmpty)
  }

  test("language id separates scripts and latin languages") {
    assert(TextFunctions.languageOf("the quick brown fox jumps over the lazy dog and the cat") == "en")
    assert(TextFunctions.languageOf("der schnelle braune fuchs springt über den faulen hund und die katze") == "de")
    assert(TextFunctions.languageOf("le renard brun rapide saute par dessus le chien paresseux et le chat") == "fr")
    assert(TextFunctions.languageOf("el rápido zorro marrón salta sobre el perro perezoso y el gato") == "es")
    assert(TextFunctions.languageOf("这是一个中文句子用来测试语言识别") == "zh")
    assert(TextFunctions.languageOf("これは日本語のテスト文です") == "ja")
    assert(TextFunctions.languageOf("이것은 한국어 테스트 문장입니다") == "ko")
    assert(TextFunctions.languageOf("это русское предложение для проверки") == "ru")
    assert(TextFunctions.languageOf("") == "und")
  }

  test("native MinHashSig and ShingleHashes are bit-identical to the HOF formulations") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "a completely different document with other words entirely here"),
      (3L, "short doc"),     // fewer tokens than w
      (4L, ""),              // empty
      (5L, "  spaced   out\ttabs\nnewlines  "),
      (6L, "Ünïcode TÉXT and Mixed CASE words")).toDF("doc_id", "text")
    val sh = docs.select(col("doc_id"),
      Dedup.shingleSeqCol(col("text"), 3).as("native_sh"),
      Dedup.shingleSeqColHof(col("text"), 3).as("hof_sh"))
    sh.collect().foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"shingles doc ${r.getLong(0)}")
    }
    val both = docs.select(col("doc_id"),
        Dedup.minhashSignature(array_distinct(Dedup.shingleSeqCol(col("text"), 3)), 64).as("native"),
        Dedup.minhashSignatureHof(array_distinct(Dedup.shingleSeqColHof(col("text"), 3)), 64).as("hof"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"signature doc ${r.getLong(0)}")
    }
  }

  test("native DotProduct/SumSquares are bit-identical to the HOF formulations") {
    val s = spark; import s.implicits._
    import graft.functions.VectorFunctions
    val df = vecs.toDF("vec_id", "embedding") // array<double>
    val fdf = vecs.map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding") // array<float> (the storage type)
    val q = array(Array.tabulate(dim)(i => lit(math.sin(i + 1.0))): _*)
    Seq(df, fdf).foreach { frame =>
      val rows = frame.select(
        VectorFunctions.dot(col("embedding"), q).as("nd"),
        VectorFunctions.dotHof(col("embedding"), q).as("hd"),
        VectorFunctions.norm(col("embedding")).as("nn"),
        VectorFunctions.normHof(col("embedding")).as("hn")).collect()
      rows.foreach { r =>
        assert(r.getDouble(0) == r.getDouble(1), "dot mismatch")
        assert(r.getDouble(2) == r.getDouble(3), "norm mismatch")
      }
    }
  }

  test("sortedIntersectCount == size(array_intersect) on sorted distinct arrays") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(200) { i =>
      def arr() = Seq.fill(rnd.nextInt(30))(rnd.nextLong() % 50).distinct.sorted
      (i.toLong, arr(), arr())
    } :+ ((200L, Seq.empty[Long], Seq(1L, 2L))) :+ ((201L, Seq.empty[Long], Seq.empty[Long]))
    val df = rows.toDF("id", "a", "b")
    val bad = df.select(
        graft.functions.NativeExpressions.sortedIntersectCount(col("a"), col("b")).as("native"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
      .where(col("native") =!= col("ref")).count()
    assert(bad == 0L)
  }

  test("minhash candidates achieve full recall on high-jaccard pairs (this data)") {
    val s = spark; import s.implicits._
    // 40 docs, 5 planted near-dup pairs (one token changed out of 12)
    val rnd = new scala.util.Random(3)
    val vocab = Vector.tabulate(200)(i => s"w$i")
    val base = Seq.tabulate(40) { i =>
      (i.toLong, Seq.fill(12)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val dups = (0 until 5).map { j =>
      val (srcId, text) = base(j * 7)
      val toks = text.split(" "); toks(11) = "changed"
      (100L + j, toks.mkString(" "))
    }
    val docs = (base ++ dups).toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(docs, "text", "doc_id", w = 3, bands = 16, rowsPerBand = 4)
      .as[(Long, Long)].collect().toSet
    val truth = Dedup.jaccardAllPairs(docs, "text", "doc_id", w = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty && truth.subsetOf(cands),
      s"missed ${truth -- cands} of $truth")
  }

  test("blank documents produce a linear star, never the quadratic clique") {
    val s = spark; import s.implicits._
    // 60 blank docs + 5 normal: the clique would be 60*59/2 = 1770 blank
    // pairs; the star contract emits exactly 59, all anchored at the
    // minimum blank id with jaccard 1.0
    val blanks = Seq.tabulate(60)(i => (i.toLong, "   "))
    val normal = Seq.tabulate(5)(i => (100L + i, s"alpha beta gamma delta epsilon unique$i"))
    val docs = (blanks ++ normal).toDF("doc_id", "text")

    val allPairs = Dedup.jaccardAllPairs(docs, "text", "doc_id", w = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect()
    val blankRows = allPairs.filter(_._1 < 100L)
    assert(blankRows.length == 59, s"expected 59 star rows, got ${blankRows.length}")
    assert(blankRows.forall { case (a, _, j) => a == 0L && j == 1.0 })
    assert(blankRows.map(_._2).toSet == (1L until 60L).toSet)

    // the banded candidate stage obeys the same contract (blank docs would
    // otherwise collide in every band and emit the clique)
    val cands = Dedup.minhashCandidates(docs, "text", "doc_id")
      .as[(Long, Long)].collect().filter(_._1 < 100L)
    assert(cands.length == 59 && cands.forall(_._1 == 0L))

    // verified pairs keep the star at jaccard 1.0, and full LSH dedup keeps
    // exactly ONE blank doc (the star anchors every blank to doc 0)
    val verified = Dedup.minhashVerifiedPairs(docs, "text", "doc_id")
      .as[(Long, Long, Double)].collect().filter(_._1 < 100L)
    assert(verified.length == 59 && verified.forall { case (a, _, j) => a == 0L && j == 1.0 })
    val kept = Dedup.minhashLsh(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept.count(_ < 100L) == 1 && kept.contains(0L))
  }
}
