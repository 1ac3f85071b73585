package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - [[bruteForceTopK]]: exact cosine top-k against a single query vector —
  *    a narrow scan + TakeOrdered; the correctness baseline. O(N·d), no
  *    shuffle beyond the final top-k reduction.
  *  - [[bruteForceTopKJoin]]: exact top-k for a *set* of query vectors — the
  *    queries are broadcast, each partition scores locally, per-query top-k
  *    via window rank. Exact but O(N·Q·d): only for small Q.
  *  - [[lshTopK]]: the scale path — random-hyperplane LSH with multi-probe
  *    (flip up to `probes` bits), so candidate generation is an equi-join on
  *    bucket id: per query only ~N/2^bits × probes vectors are scored. At
  *    100 TB this is the difference between a cross join and a keyed join.
  *  - [[ivfTopK]]: IVF-style variant — coarse centroids picked
  *    deterministically, vectors assigned to nearest centroid (the inverted
  *    file), queries probe the `nProbe` nearest centroids only.
  *  - [[pqTopK]] / [[ivfPqTopK]]: product quantization — codes-only ADC
  *    rescoring, the billion-scale storage layout. [[ivfPqWriteIndex]] /
  *    [[ivfPqTopKStored]] persist it: PQ codes partitioned by frozen
  *    coarse cell, probe scans pruned to probed `cid=` partitions.
  *  - [[nswTopK]] / [[nswBuild]] + [[nswSearchBuilt]] and the [[hnswTopK]]
  *    family: partitioned graph search — the high-recall/low-latency
  *    serving regime; each hash shard builds one in-memory HNSW graph
  *    independently (NSW: every node on layer 0) and queries beam-search
  *    every shard.
  */
object Similarity {

  /** Exact cosine top-k of `df`'s `vecCol` against one literal query vector.
    * Plans as scan → project(cosine) → TakeOrderedAndProject: no shuffle of
    * the vectors, only k rows leave each partition.
    */
  def bruteForceTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Double], k: Int): DataFrame = {
    val qCol = array(query.toIndexedSeq.map(lit(_)): _*)
    df.select(col(idCol),
        round(VectorFunctions.cosine(col(vecCol), qCol), 6).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol))
      .limit(k)
  }

  /** Two-stage int8 serving read: the whole corpus is scanned as int8
    * CODES (4x smaller than float32 — the memory the serving shard
    * actually saves), scored by the native codes-space dot against the
    * quantized query, and only the top `oversample`·k candidates pay the
    * exact float cosine re-rank. Both sides L2-normalize before
    * quantization so the codes dot ranks by cosine.
    *
    * Like [[lshTopK]], exactness is NOT guaranteed (a true top-k member
    * whose quantization error exceeds its margin to rank oversample·k can
    * be preselected out) — recall vs [[bruteForceTopK]] is law- and
    * gate-checked. Plan shape: scan → project(codes dot) →
    * TakeOrderedAndProject(oversample·k) → re-rank of a driver-bounded
    * candidate set; no shuffle of vectors.
    */
  def int8TopK(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Double], k: Int, oversample: Int = 5): DataFrame = {
    require(k > 0 && oversample >= 1, s"need k > 0, oversample >= 1")
    val qCol = array(query.toIndexedSeq.map(lit(_)): _*)
    val qn = VectorFunctions.l2Normalize(qCol)
    val normed = df.select(col(idCol), col(vecCol),
      VectorFunctions.l2Normalize(col(vecCol)).as("__nv"))
    val withCodes = normed.select(col(idCol), col(vecCol),
      VectorFunctions.int8Quantize(col("__nv")).as("__c"),
      VectorFunctions.int8Scale(col("__nv")).as("__m"))
    val cands = withCodes
      .withColumn("__approx", VectorFunctions.int8Dot(col("__c"), col("__m"),
        VectorFunctions.int8Quantize(qn), VectorFunctions.int8Scale(qn)))
      .orderBy(col("__approx").desc, col(idCol))
      .limit(oversample * k)
    cands.select(col(idCol),
        round(VectorFunctions.cosine(col(vecCol), qCol), 6).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol))
      .limit(k)
  }

  /** PREPARE step of the int8 serving split: materialize the codes-only
    * index — (idCol, codes, scale) of the L2-normalized vectors, ~4x
    * smaller than the float corpus. [[int8TopKStored]] then scans ONLY
    * this table per query; [[int8TopK]] (the one-shot form) re-quantizes
    * inline per call and never realizes the footprint win.
    *
    * Stored layout: log-structured segments under the shared commit log
    * ([[graft.batch.SegmentedStore]] — same crash-consistency contract as
    * the stored BM25 index): `path/seg=N/codes`. [[int8WriteIndex]]
    * bootstraps/replaces; [[int8AppendToStored]] is the per-micro-batch
    * maintenance path (per-vector rows are independent, so append ≡
    * rebuild on the union); [[int8CompactStored]] folds segments back to
    * one on the maintenance cadence.
    */
  def int8WriteIndex(df: DataFrame, vecCol: String, idCol: String,
      path: String): Unit =
    int8Tier.writeIndexReplaceAll(int8Codes(df, vecCol, idCol), path, None)

  /* The three stored-codes tiers (flat int8 / IVF / IVF-PQ) share ONE
   * segmented-lifecycle body — [[CodesTier]] (round 18, r17 verdict #5):
   * atomic bootstrap, replay-guarded append, coverage-marked takedown,
   * model-carrying compaction, the cadence guard, the drift stats. What
   * each instance declares is exactly what differs: payload layout,
   * empty-frame schema, and how the frozen model tables persist.
   */
  private val int8Tier = new CodesTier[Unit](
    label = "int8", payload = "codes", cellPartitioned = false,
    emptySchema = idCol => {
      import org.apache.spark.sql.types._
      StructType(Seq(StructField(idCol, LongType),
        StructField("codes", ArrayType(ByteType)),
        StructField("scale", DoubleType)))
    },
    modelMarker = None,
    writeModel = (_, _, _) => (),
    loadModel = (_, _) => ())

  private def int8Codes(df: DataFrame, vecCol: String, idCol: String): DataFrame =
    df.select(col(idCol), VectorFunctions.l2Normalize(col(vecCol)).as("__nv"))
      .select(col(idCol),
        VectorFunctions.int8Quantize(col("__nv")).as("codes"),
        VectorFunctions.int8Scale(col("__nv")).as("scale"))

  /** Ingest a (disjoint-id) vector batch into a STORED codes index as a
    * NEW committed segment — the streaming maintenance path (call from
    * `foreachBatch`); the index stays serveable between micro-batches and
    * a crash before the commit-log flip leaves it exactly as it was.
    */
  def int8AppendToStored(spark: SparkSession, path: String,
      newVecs: DataFrame, vecCol: String, idCol: String,
      batchId: Option[Long] = None): Unit =
    int8Tier.appendToStored(spark, path, batchId,
      "int8AppendToStored", "int8WriteIndex") { _ =>
      int8Codes(newVecs, vecCol, idCol)
    }

  /** Fold all committed segments into one (point-read latency degrades
    * with file count), atomically re-point the commit log, sweep.
    *
    * @param sweepGraceMs 0 = delete superseded segments immediately;
    *   > 0 = tombstone-then-delete after the grace, keeping readers
    *   mid-scan across this compaction safe
    *   ([[graft.batch.SegmentedStore.sweepUncommitted]]).
    */
  def int8CompactStored(spark: SparkSession, path: String,
      sweepGraceMs: Long = 0L): Unit =
    int8Tier.compactStored(spark, path, sweepGraceMs)

  /** Compact only when fragmentation crosses `maxSegments` — the
    * self-scheduling form of [[int8CompactStored]] (same contract as
    * Retrieval.compactIfFragmented; threshold re-checked inside the
    * writer lock — see SegmentedStore.compactIfFragmentedLocked).
    * Returns whether a compaction ran.
    */
  def int8CompactIfFragmented(spark: SparkSession, path: String,
      maxSegments: Int = 8, sweepGraceMs: Long = 0L): Boolean =
    int8Tier.compactIfFragmented(spark, path, maxSegments, sweepGraceMs)

  /** Union of the committed segments' codes (each root read separately,
    * empty bootstrap segments skipped). A bootstrapped-but-empty index —
    * the bootstrap-to-first-batch window of a streaming ingest — reads as
    * the canonical EMPTY codes frame, so serving and compaction stay
    * alive between micro-batches (the same contract as the BM25 path).
    */
  /** @param idCol names the id field of the canonical EMPTY frame served
    *   during the bootstrap-to-first-batch window — it must match the
    *   idCol the index was bootstrapped with, or the caller's
    *   `select(idCol)` would fail on an empty index (same
    *   parameterization as Retrieval.emptyPostings).
    */
  def readInt8Index(spark: SparkSession, path: String,
      idCol: String = "vec_id"): DataFrame =
    int8Tier.readIndex(spark, path, idCol)

  /** Remove vectors from a STORED codes index — the takedown maintenance
    * path, mirroring [[graft.operators.Retrieval.deleteFromStored]]:
    * writes one segment holding the delete set, committed on the atomic
    * log flip; reads anti-join it out, so serving equals an index built
    * without the vectors; the next [[int8CompactStored]] folds the
    * removal physically and sweeps the delete sets. Restricted to
    * currently-live ids (idempotent; never-indexed ids are a no-op).
    * The segment records its COVERAGE — the committed segments the
    * victim set was computed against — and readers apply it to those
    * segments only, so a deleted id re-appended via
    * [[int8AppendToStored]] serves again immediately, no compaction
    * required (same contract as Retrieval.deleteFromStored).
    */
  def int8DeleteFromStored(spark: SparkSession, path: String,
      ids: DataFrame, idCol: String = "vec_id"): Unit =
    int8Tier.deleteFromStored(spark, path, ids, idCol, "int8DeleteFromStored")

  /** ATOMIC upsert of a vector batch into a STORED codes index — the
    * correction path for a poisoned ingest, mirroring
    * [[graft.operators.Retrieval.replaceInStored]]: vectors whose ids
    * are live are REPLACED, new ids appended, in ONE commit-log flip
    * (delete-then-append commits twice and exposes a window where the
    * ids are gone; readers resolving the log once see old or corrected,
    * never the gap). One new segment carries the corrected codes AND the
    * victim delete-set with its coverage marker (the committed segments
    * at replace time — never this segment, so the corrected codes are
    * not self-suppressed and later appends of the same ids are
    * untouched). Physical removal folds at the next
    * [[int8CompactStored]]. Removals that aren't upserts are
    * [[int8DeleteFromStored]]'s job; `newVecs` carries distinct ids;
    * ordinal-only (streaming ingest uses the replay-guarded
    * [[int8AppendToStored]]).
    */
  def int8ReplaceInStored(spark: SparkSession, path: String,
      newVecs: DataFrame, vecCol: String, idCol: String): Unit =
    graft.batch.SegmentedStore.withWriterLock(path) {
      val segs = graft.batch.SegmentedStore.committedSegs(path)
      require(segs.nonEmpty,
        s"int8ReplaceInStored: no committed index at $path — bootstrap with int8WriteIndex")
      val victims = readInt8Index(spark, path, idCol)
        .join(newVecs.select(col(idCol)).distinct(), Seq(idCol), "left_semi")
        .select(col(idCol)).distinct()
        .persist()
      try {
        val id = graft.batch.SegmentedStore.nextId(path)
        // pre-clear the reused id, write both parts, publish on one flip
        int8Tier.writeSegment(int8Codes(newVecs, vecCol, idCol), path, id, None)
        if (victims.limit(1).count() > 0) {
          victims.write.mode("overwrite")
            .parquet(s"${graft.batch.SegmentedStore.segDir(path, id)}/deletes")
          // covers marker AFTER the parquet overwrite (it lives inside
          // the deletes dir); commits atomically with the segment
          graft.batch.SegmentedStore.writeDeleteCovers(path, id, segs)
        }
        graft.batch.SegmentedStore.commitAppend(path, id)
      } finally {
        victims.unpersist()
        ()
      }
    }

  /** QUERY step: codes-only scan of a stored [[int8WriteIndex]] table
    * ranks by the quantized dot, then ONLY the top oversample·k
    * candidates join back to the float corpus (broadcast — the candidate
    * set is driver-bounded) for the exact cosine re-rank. Identical
    * results to [[int8TopK]] (same quantization, same re-rank, same id
    * tie-break); the difference is purely the serving plan: per-query
    * work is one 4x-smaller scan + a k-row broadcast join, with no
    * re-quantization of the corpus.
    */
  def int8TopKStored(spark: SparkSession, path: String, floats: DataFrame,
      vecCol: String, idCol: String, query: Array[Double], k: Int,
      oversample: Int = 5): DataFrame = {
    require(k > 0 && oversample >= 1, s"need k > 0, oversample >= 1")
    exactRerank(floats,
      int8ApproxCands(readInt8Index(spark, path, idCol), idCol, query,
        oversample * k),
      vecCol, idCol, query, k)
  }

  /** [[int8TopKStored]] for a TABLE of query vectors (round 18 — the
    * last serving family without a bounded query-table form): ONE
    * commit-log resolve and ONE codes scan serve every query, each row
    * scored against the (broadcast) quantized query table — the flat
    * tier has no cells to prune, so per-query work is the full codes
    * scan by nature (FAISS IndexFlat batch search), and the join
    * amortizes the scan and the segment/delete resolution across the
    * table. Per-query results are EXACTLY `int8TopKStored(query)` over
    * the same live store (same quantized scores, same id tie-breaks —
    * law-pinned). maxQueries-guarded; duplicate query ids fail loudly.
    * Output (qIdCol, idCol, cosine_sim).
    */
  def int8TopKStoredJoin(spark: SparkSession, path: String, floats: DataFrame,
      vecCol: String, idCol: String,
      queries: DataFrame, qVecCol: String, qIdCol: String, k: Int,
      oversample: Int = 5, maxQueries: Int = 4096): DataFrame = {
    require(k > 0 && oversample >= 1, s"need k > 0, oversample >= 1")
    val qs = collectQueries(queries, qVecCol, qIdCol, maxQueries,
      "int8TopKStoredJoin")
    if (qs.isEmpty) return emptyJoinResult(spark, qIdCol, idCol)
    val scored = readInt8Index(spark, path, idCol)
      .crossJoin(broadcast(quantizedQueryTable(spark, qs, qIdCol)))
      .withColumn("__approx", VectorFunctions.int8Dot(col("codes"), col("scale"),
        col("__qc"), col("__qs")))
    val cands = joinCandidateCut(scored, qIdCol, idCol, oversample * k)
    exactRerankJoin(floats, cands, vecCol, idCol, qs, qIdCol, k)
  }

  /** The canonical empty (qIdCol, idCol, cosine_sim) frame every stored
    * join serve returns for an empty query table.
    */
  private def emptyJoinResult(spark: SparkSession, qIdCol: String,
      idCol: String): DataFrame =
    spark.emptyDataFrame
      .select(lit(0L).as(qIdCol), lit(0L).as(idCol),
        lit(0.0).as("cosine_sim")).limit(0)

  /** Broadcast query table quantized through the SAME codegen
    * expressions as the corpus (identical semantics by construction) —
    * Q rows of (qIdCol, __qc, __qs). One body for every stored join
    * serve that ranks by the quantized dot: the join/loop equality laws
    * pin these expressions, so the quantization must never fork per
    * tier.
    */
  private def quantizedQueryTable(spark: SparkSession,
      qs: Array[(Long, Array[Double])], qIdCol: String): DataFrame = {
    import spark.implicits._
    qs.toSeq.map { case (qid, v) => (qid, v.toSeq) }
      .toDF(qIdCol, "__qv")
      .withColumn("__qn", VectorFunctions.l2Normalize(col("__qv")))
      .select(col(qIdCol),
        VectorFunctions.int8Quantize(col("__qn")).as("__qc"),
        VectorFunctions.int8Scale(col("__qn")).as("__qs"))
  }

  /** Per-query candidate cut of a scored join frame: the window rank's
    * (`__approx` desc, id) order matches the single-query orderBy/limit
    * tie-breaks exactly — the other half of the join/loop equality.
    */
  private def joinCandidateCut(scored: DataFrame, qIdCol: String,
      idCol: String, nCands: Int): DataFrame = {
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("__approx").desc, col(idCol))
    scored.withColumn("__rank", row_number().over(w))
      .where(col("__rank") <= nCands)
      .select(col(qIdCol), col(idCol))
  }

  /** Candidate cut of an int8-codes frame against one query: rank by the
    * quantized dot (the query quantizes through the SAME codegen
    * expressions as the corpus — identical semantics by construction),
    * keep the top `nCands` ids. Shared by the flat and IVF stored serves.
    */
  private def int8ApproxCands(index: DataFrame, idCol: String,
      query: Array[Double], nCands: Int): DataFrame = {
    val qn = VectorFunctions.l2Normalize(array(query.toIndexedSeq.map(lit(_)): _*))
    index
      .withColumn("__approx", VectorFunctions.int8Dot(col("codes"), col("scale"),
        VectorFunctions.int8Quantize(qn), VectorFunctions.int8Scale(qn)))
      .orderBy(col("__approx").desc, col(idCol))
      .limit(nCands)
      .select(col(idCol))
  }

  /** Push a driver-known bounded candidate-id set INTO a float-corpus
    * scan as a data filter (round 20 opt, guide §6 — predicate pushdown
    * must reach the parquet scan): the re-rank tails previously probed
    * the FULL corpus scan against a broadcast hash of the candidates, so
    * a re-rank of 50 ids still READ every float row; an `In` filter on
    * the id column lets parquet row-group min/max stats (ids are written
    * ascending) skip everything but the candidates' row groups. Above
    * `maxPushdownIds` the literal list would bloat the plan — fall back
    * to the broadcast-probe-only shape (the join stays either way, so
    * results are identical by construction).
    */
  private val MaxPushdownIds = 8192
  private def pushIdFilter(df: DataFrame, idCol: String,
      ids: Array[Long]): DataFrame =
    if (ids.isEmpty) df.where(lit(false))
    else if (ids.length <= MaxPushdownIds &&
      df.schema(idCol).dataType == org.apache.spark.sql.types.LongType)
      // the id column must be LongType for the Long-literal In to stay
      // row-group-pushdown-eligible (r20 advice: a non-long column wraps
      // in a cast and the filter silently degrades to post-scan) — the
      // engine-wide id convention is long; anything else keeps the
      // broadcast-probe-only shape, results identical
      df.where(col(idCol).isInCollection(ids.toSeq))
    else df

  /** Exact cosine re-rank of a driver-bounded candidate-id frame against
    * the float corpus — the one tail every stored codes serve ends with.
    * The candidate ids (≤ oversample·k, driver-bounded by contract) are
    * collected once and pushed into the float scan as an `In` filter
    * ([[pushIdFilter]]) — at corpus scale the re-rank becomes a
    * row-group-pruned point read instead of a full float scan; the
    * broadcast join against the same collected set keeps the original
    * multiset semantics bit-for-bit.
    */
  private def exactRerank(floats: DataFrame, cands: DataFrame,
      vecCol: String, idCol: String, query: Array[Double], k: Int): DataFrame = {
    val session = floats.sparkSession
    import session.implicits._
    val qCol = array(query.toIndexedSeq.map(lit(_)): _*)
    // one evaluation of the candidate subtree (it was evaluated once for
    // the broadcast anyway); the local frame re-broadcasts for free.
    // isNotNull: ids are non-null by the engine contract, and a
    // degenerate null must drop here (as the join would drop it) rather
    // than NPE the driver collect (r20 advice)
    val ids = cands.where(col(idCol).isNotNull)
      .select(col(idCol).cast("long")).as[Long].collect()
    val local = ids.toSeq.toDF(idCol)
    pushIdFilter(floats, idCol, ids)
      .join(broadcast(local), Seq(idCol))
      .select(col(idCol),
        round(VectorFunctions.cosine(col(vecCol), qCol), 6).as("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col(idCol))
      .limit(k)
  }

  // ---- stored IVF tier (round 17): the int8 codes store PARTITIONED BY
  // coarse-centroid cell, under the same segment machinery — the one
  // serving form where a query's scan cost is ∝ probed cells, not corpus
  // (the int8 tier scans every code; BM25 prunes to token buckets; this
  // prunes to `nProbe` cid partitions via ordinary parquet partition
  // pruning). Centroids are FROZEN at build time and appends assign
  // against them — the FAISS production discipline (retraining = rebuild
  // from the float corpus via ivfWriteIndex); takedown/replace/compact
  // reuse the codes-store delete-set machinery verbatim. ---------------

  /** Bootstrap / replace a stored IVF index: train `nCentroids` coarse
    * centroids on a bounded hashed-id sample (or take `centroids` —
    * the pretrained-bootstrap shape a streaming ingest needs, since an
    * empty corpus cannot train), assign every vector, and write ONE
    * payload segment of int8 codes partitioned by `cid` plus the
    * centroid table, behind one atomic flip.
    */
  def ivfWriteIndex(df: DataFrame, vecCol: String, idCol: String,
      path: String, nCentroids: Int = IvfCellsAuto, lloydIters: Int = 2,
      trainSample: Int = 16384,
      centroids: Option[Array[Array[Double]]] = None,
      trainedRows: Option[Long] = None): Unit = {
    // IvfCellsAuto (the default) derives ~4·√N from the corpus; a
    // pretrained bootstrap's geometry is its centroid table, so the
    // resolver runs only on the training path
    val cents = centroids.getOrElse(kmeansCentroids(df, vecCol, idCol,
      resolveIvfCells(df, nCentroids, trainSample, "ivfWriteIndex"), lloydIters,
      trainSample = trainSample))
    require(cents.nonEmpty, "ivfWriteIndex: no centroids (empty corpus " +
      "bootstraps must pass pretrained centroids)")
    // trainedRows: the corpus size the PRETRAINED centroids were trained
    // against — the denominator of ivfDriftStats' appended-mass signal.
    // Without it an offline-trained empty bootstrap records 0 and every
    // streamed row reads as drift the model never saw
    ivfTier.writeIndexReplaceAll(ivfCodes(df, vecCol, idCol, cents), path,
      Some(cents), trainedRows)
  }

  private val ivfTier = new CodesTier[Array[Array[Double]]](
    label = "ivf", payload = "ivf", cellPartitioned = true,
    emptySchema = idCol => {
      import org.apache.spark.sql.types._
      StructType(Seq(StructField(idCol, LongType),
        StructField("codes", ArrayType(ByteType)),
        StructField("scale", DoubleType),
        StructField("cid", IntegerType)))
    },
    modelMarker = Some("centroids"),
    writeModel = (spark, seg, cents) => {
      import spark.implicits._
      cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
        .toDF("cid", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$seg/centroids")
    },
    loadModel = (spark, seg) =>
      // driver-side sort of the collected (≤ cells) rows: an orderBy here
      // paid a shuffle+sort job per model read — serves read the model on
      // EVERY call, so the exchange multiplied across the whole family
      spark.read.parquet(s"$seg/centroids")
        .select("cid", "centroid").collect()
        .sortBy(_.getInt(0))
        .map(_.getSeq[Double](1).toArray))

  /** int8 codes of the L2-normalized vectors + the frozen-centroid cell
    * assignment (cosine argmax is scale-invariant, so assignment on the
    * raw vector equals assignment on the normalized one).
    */
  private def ivfCodes(df: DataFrame, vecCol: String, idCol: String,
      cents: Array[Array[Double]]): DataFrame =
    df.select(col(idCol),
        VectorFunctions.l2Normalize(col(vecCol)).as("__nv"),
        nearestCentroid(col(vecCol), cents).as("cid"))
      // loud dim guard: a vector whose length disagrees with the frozen
      // centroids yields a NULL cid (the dot is null on a length
      // mismatch) — without this it would land in the null partition and
      // silently vanish from every probed serve
      .withColumn("cid", when(col("cid").isNotNull, col("cid"))
        .otherwise(raise_error(format_string(
          "ivfCodes: embedding dimension %s does not match the frozen " +
            s"centroid dimension ${cents.head.length}",
          size(col("__nv")).cast("string")))))
      .select(col(idCol),
        VectorFunctions.int8Quantize(col("__nv")).as("codes"),
        VectorFunctions.int8Scale(col("__nv")).as("scale"),
        col("cid"))

  /** The index's frozen coarse centroids: the NEWEST committed segment
    * carrying a centroid table (payload segments write one; compaction
    * re-writes the same centroids, so the newest is always current).
    */
  def readIvfCentroids(spark: SparkSession, path: String): Array[Array[Double]] =
    ivfTier.readModel(spark, path)

  /** Union of the committed segments' codes with deletes anti-joined —
    * the [[readInt8Index]] shape plus the `cid` partition column.
    * `probeCids` prunes the scan to those cells (parquet partition
    * pruning — the serve path's lever); None reads everything (equality
    * laws, compaction).
    */
  def readIvfIndex(spark: SparkSession, path: String,
      idCol: String = "vec_id",
      probeCids: Option[Seq[Int]] = None): DataFrame =
    ivfTier.readIndex(spark, path, idCol, probeCids)

  /** Ingest a (disjoint-id) vector batch as ONE new segment, assigned
    * against the FROZEN stored centroids (resolved INSIDE the writer
    * lock: a concurrent rebuild must not leave this append assigned
    * against superseded cells) — same replay-guard contract as
    * [[int8AppendToStored]]. Cell skew drifts as the data does (the
    * documented IVF trade — [[ivfDriftStats]] measures it); repair by
    * rebuilding with fresh centroids.
    */
  def ivfAppendToStored(spark: SparkSession, path: String,
      newVecs: DataFrame, vecCol: String, idCol: String,
      batchId: Option[Long] = None): Unit =
    ivfTier.appendToStored(spark, path, batchId,
      "ivfAppendToStored", "ivfWriteIndex") { cents =>
      ivfCodes(newVecs, vecCol, idCol, cents)
    }

  /** Takedown on a stored IVF index — the shared codes-store delete-set
    * discipline (coverage semantics, re-append re-serves immediately).
    */
  def ivfDeleteFromStored(spark: SparkSession, path: String,
      ids: DataFrame, idCol: String = "vec_id"): Unit =
    ivfTier.deleteFromStored(spark, path, ids, idCol, "ivfDeleteFromStored")

  /** Fold segments + deletes physically into one payload segment, the
    * centroids carried over UNCHANGED (frozen — a codes-only store
    * cannot retrain; rebuild from the float corpus to repair drift).
    */
  def ivfCompactStored(spark: SparkSession, path: String,
      sweepGraceMs: Long = 0L): Unit =
    ivfTier.compactStored(spark, path, sweepGraceMs)

  /** Self-scheduling fold — the shared cadence guard (threshold
    * re-checked inside the writer lock), plus the cadence drift check
    * ([[ivfDriftStats]] — warns loudly past the thresholds).
    */
  def ivfCompactIfFragmented(spark: SparkSession, path: String,
      maxSegments: Int = 8, sweepGraceMs: Long = 0L,
      rebuildOnDrift: Option[DataFrame] = None,
      vecCol: String = "embedding", idCol: String = "vec_id",
      imbalanceWarn: Double = 4.0, appendedWarn: Double = 0.5): Boolean = {
    val ran = ivfTier.compactIfFragmented(spark, path, maxSegments, sweepGraceMs,
      driftCells = Some(() => readIvfCentroids(spark, path).length))
    val rebuilt = rebuildOnDrift.exists { corpus =>
      rebuildIfDrifted(spark, path, "ivf", imbalanceWarn, appendedWarn,
        ivfDriftStats(spark, path, imbalanceWarn, appendedWarn)) {
        ivfWriteIndex(corpus, vecCol, idCol, path) // auto geometry
      }
    }
    ran || rebuilt
  }

  /** Opt-in drift repair on the maintenance cadence (round 19, r18
    * verdict #5): the drift probe measured the repair (rebuild restores
    * recall 1.000, re-balances occupancy, resets appended mass) — this
    * makes the signal actionable. When the cadence guard is handed the
    * FLOAT corpus (`rebuildOnDrift`; the codes store cannot retrain
    * itself), it re-trains and replaces the index — under the writer
    * lease the write verb already takes — iff BOTH drift signals exceed
    * threshold. AND, not the warning's OR: a rebuild is expensive and
    * destructive of the trained model, and the appended-mass signal
    * resetting to 0 on rebuild is precisely what keeps a genuinely
    * crowded corpus (high imbalance forever) from thrashing rebuilds on
    * every cadence. Default OFF — rebuild cost is the operator's call;
    * a store with unknown trained size reads appended 0.0 (blind, never
    * auto-rebuilt — the row says so via trained_known).
    */
  private def rebuildIfDrifted(spark: SparkSession, path: String,
      label: String, imbalanceWarn: Double, appendedWarn: Double,
      statsRow: => DataFrame)(rebuild: => Unit): Boolean = {
    val r = statsRow.collect().head
    val both = r.getAs[Double]("occ_imbalance") > imbalanceWarn &&
      r.getAs[Double]("appended_mass_fraction") > appendedWarn
    if (both) {
      System.err.println(s"[graft] $label index at $path: drift past BOTH " +
        s"thresholds with rebuildOnDrift set — re-training from the float " +
        s"corpus and replacing the index")
      rebuild
    }
    both
  }

  /** ONE drift-observability row for the frozen-centroid store (round 18,
    * r17 verdict #3): cell-occupancy imbalance and appended-mass fraction
    * — the measured WHEN for "retraining = rebuild". Cheap by
    * construction: per-segment `cellstats` tables written with each
    * mutation (O(change)), never a store scan; see
    * [[CodesTier.driftStatsRow]].
    */
  def ivfDriftStats(spark: SparkSession, path: String,
      imbalanceWarn: Double = 4.0, appendedWarn: Double = 0.5): DataFrame =
    ivfTier.driftStatsRow(spark, path,
      readIvfCentroids(spark, path).length, imbalanceWarn, appendedWarn)

  /** Measured cell count for an IVF index over `n` vectors:
    * `min(4·√N, N/768)`, clamped to [16, 65536] and rounded to a power
    * of two (so doubling the corpus steps the geometry predictably).
    * Two regimes, both measured (`bench/bench_r18_ivf_cells_probe.json`,
    * `bench/bench_r19_ivf_auto_probe.json`):
    *
    *  - **√N term** (FAISS practice): a pruned serve scans the MASS of
    *    its probed cells, so at FIXED nCentroids serving cost is linear
    *    in corpus size; scaling cells ~√N keeps per-cell mass ~√N-
    *    bounded while the driver-side centroid table stays tiny
    *    (65536 × dim doubles ≈ 32 MB at dim 64 — the clamp's ceiling).
    *    Measured: ivf_cells (16 → 256 cells at 200k rows cuts per-query
    *    scored mass 0.288 → 0.075 at matched recall).
    *  - **N/768 rows-per-cell floor**: each cell is a parquet `cid=`
    *    partition, and a cell that can't amortize its per-file overhead
    *    makes the pruned serve SLOWER despite scanning fewer rows —
    *    measured: at 200k rows, 2048 cells (~100 rows each) served a
    *    point query in 8.0 s where 256 cells (~780 rows each) served it
    *    in 1.2 s at recall 0.96 (ivf_auto probe, round 19). 768 pins
    *    the measured sweet spot; the floor rules below ~9.4M rows
    *    (where 4·√N = N/768) and the √N term above — at 100 TB scale a
    *    cell holds thousands of rows and the floor never binds.
    *
    * Since round 19 this rule IS the build verbs' default
    * ([[IvfCellsAuto]]): a caller who names no geometry gets the
    * measured rule instead of a fixed count that ages linearly with the
    * corpus (the r18 100x artifact read the fixed-16 pruned serve at
    * 8.6× its 1x — exactly the physics the √N term avoids). The choice
    * stays recorded: the resolver logs it and the store's centroid
    * table carries it. Passing an explicit count still wins.
    */
  def suggestedIvfCells(n: Long): Int = {
    require(n >= 0, s"corpus size must be >= 0, got $n")
    val target = math.min(4.0 * math.sqrt(n.toDouble), n.toDouble / 768.0)
    val clamped = math.min(65536.0, math.max(16.0, target))
    // round to the nearest power of two, ties up
    val exp = math.round(math.log(clamped) / math.log(2.0)).toInt
    math.min(65536, math.max(16, 1 << exp))
  }

  /** The query's probe list: top `nProbe` cells by cosine to the frozen
    * centroids, driver-side (the query is a literal; ties break on the
    * smaller cid). Exposed so plan-audit laws can compute the expected
    * pruned partition set.
    */
  /** Sentinel cell count: derive the geometry from the corpus via
    * [[suggestedIvfCells]] at build time (the round-19 default of the
    * IVF build verbs; an explicit count always wins).
    */
  val IvfCellsAuto: Int = 0

  /** Resolve [[IvfCellsAuto]] against the training corpus — ONE count(),
    * paid only when the caller named no geometry; logged so the choice
    * is recorded with the build. The resolved count is additionally
    * capped at the largest power of two ≤ `trainSample`: k-means cannot
    * train more centroids than it has sample points (the explicit-count
    * path fails loudly on that require; an AUTO default must not crash
    * the maintenance cadence at exactly the corpus size the rule
    * targets — above ~34M rows suggestedIvfCells exceeds the default
    * 16384 sample). When the cap binds it is logged with the escape:
    * raise trainSample alongside, which also restores the
    * points-per-centroid training quality the bigger geometry wants.
    */
  private def resolveIvfCells(df: DataFrame, nCentroids: Int,
      trainSample: Int, caller: String): Int =
    if (nCentroids != IvfCellsAuto) nCentroids
    else {
      val n = df.count()
      val suggested = suggestedIvfCells(n)
      val cap = Integer.highestOneBit(math.max(16, trainSample))
      val nc = math.min(suggested, cap)
      if (nc < suggested) System.err.println(
        s"[graft] $caller: auto IVF geometry CAPPED at $nc cells by " +
          s"trainSample=$trainSample (rule wants $suggested for $n rows) " +
          "— raise trainSample to unlock the full geometry")
      else System.err.println(s"[graft] $caller: auto IVF geometry — $nc " +
        s"cells for $n training rows (min(4*sqrt(N), N/768), suggestedIvfCells)")
      nc
    }

  /** Driver-side cosine of two vectors; 0 when either is all-zero. */
  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    // sqrt(na)*sqrt(nb), NOT sqrt(na*nb): matches VectorFunctions.cosine
    // (norm(a)*norm(b)) bit-for-bit so a driver-side score can be
    // equality-compared against a Spark-side one (sqrt(na*nb) can differ
    // by ~1 ulp and flip a 6th-decimal rounding boundary)
    if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Euclidean norm of `v`. */
  private def l2Norm(v: Array[Double]): Double = math.sqrt(v.map(x => x * x).sum)

  def ivfProbeCids(query: Array[Double], cents: Array[Array[Double]],
      nProbe: Int): Seq[Int] = {
    cents.zipWithIndex.map { case (c, i) => (cosine(query, c), i) }
      .sortBy { case (s, i) => (-s, i) }
      .take(nProbe).map(_._2).toSeq
  }

  /** QUERY step: resolve the probe cells driver-side, scan ONLY those
    * `cid=` partitions of the codes store (parquet partition pruning —
    * per-query work is ∝ probed cells), rank by the quantized dot, exact
    * cosine re-rank of the top oversample·k against the float corpus —
    * the [[int8TopKStored]] tail. With `nProbe = nCentroids` the
    * candidate space equals the full codes store, so the result is
    * IDENTICAL to [[int8TopK]]/[[int8TopKStored]] over the same live
    * corpus (the oracle-checked configuration, like full-probe
    * [[ivfTopK]]).
    */
  def ivfTopKStored(spark: SparkSession, path: String, floats: DataFrame,
      vecCol: String, idCol: String, query: Array[Double], k: Int,
      nProbe: Int = 4, oversample: Int = 5): DataFrame = {
    require(k > 0 && nProbe > 0 && oversample >= 1,
      s"need k > 0, nProbe > 0, oversample >= 1")
    val cents = readIvfCentroids(spark, path)
    val probes = ivfProbeCids(query, cents, nProbe)
    exactRerank(floats,
      int8ApproxCands(readIvfIndex(spark, path, idCol, probeCids = Some(probes)),
        idCol, query, oversample * k),
      vecCol, idCol, query, k)
  }

  /** [[ivfTopKStored]] for a TABLE of query vectors (round 18, r17
    * verdict #2 — the batch decontamination / curation-search shape; the
    * storehaus multiGet discipline, reference FlatMapOperation.scala:
    * 113-137): resolve the commit log ONCE, scan the UNION of all
    * queries' probe cells in ONE partition-pruned pass, score each row
    * against the (broadcast) queries probing its cell, rank per query,
    * and finish with one bounded exact re-rank — instead of one
    * commit-log resolve + one pruned scan PER query. The queries collect
    * to the driver (maxQueries-guarded — the same small-Q contract as
    * [[nswTopKJoin]]); per-query results are EXACTLY
    * `ivfTopKStored(query)` over the same live store (same probe rule,
    * same quantized scores, same id tie-breaks — law-pinned).
    * Output (qIdCol, idCol, cosine_sim).
    */
  def ivfTopKStoredJoin(spark: SparkSession, path: String, floats: DataFrame,
      vecCol: String, idCol: String,
      queries: DataFrame, qVecCol: String, qIdCol: String, k: Int,
      nProbe: Int = 4, oversample: Int = 5, maxQueries: Int = 4096): DataFrame = {
    require(k > 0 && nProbe > 0 && oversample >= 1,
      s"need k > 0, nProbe > 0, oversample >= 1")
    val cents = readIvfCentroids(spark, path)
    val qs = collectQueries(queries, qVecCol, qIdCol, maxQueries,
      "ivfTopKStoredJoin")
    if (qs.isEmpty) return emptyJoinResult(spark, qIdCol, idCol)
    // per-query probe lists driver-side (the single-query rule, shared),
    // then ONE pruned scan over the UNION of probed cells
    val probePairs = qs.flatMap { case (qid, v) =>
      ivfProbeCids(v, cents, nProbe).map(cid => (qid, cid))
    }
    val unionCids = probePairs.map(_._2).distinct.toSeq
    import spark.implicits._
    // the quantized query table joined to its probe cells —
    // ≤ Q·nProbe rows, broadcast
    val qTable = quantizedQueryTable(spark, qs, qIdCol)
      .join(probePairs.toSeq.toDF(qIdCol, "cid"), Seq(qIdCol))
    val scan = readIvfIndex(spark, path, idCol, probeCids = Some(unionCids))
    val scored = scan.join(broadcast(qTable), Seq("cid"))
      .withColumn("__approx", VectorFunctions.int8Dot(col("codes"), col("scale"),
        col("__qc"), col("__qs")))
    val cands = joinCandidateCut(scored, qIdCol, idCol, oversample * k)
    exactRerankJoin(floats, cands, vecCol, idCol, qs, qIdCol, k)
  }

  /** Bounded query-table collect shared by the stored join serves —
    * the [[nswTopKJoin]] small-Q contract.
    */
  private def collectQueries(queries: DataFrame, qVecCol: String,
      qIdCol: String, maxQueries: Int, label: String): Array[(Long, Array[Double])] = {
    val session = queries.sparkSession
    import session.implicits._
    val qs = queries
      .select(col(qIdCol).cast("long"), col(qVecCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
      .limit(maxQueries + 1).collect().map { case (i, v) => (i, v.toArray) }
    require(qs.length <= maxQueries,
      s"$label query table exceeds maxQueries=$maxQueries — " +
        "batch the queries or raise the bound consciously")
    // duplicate ids would silently multiply scored rows through the cid
    // join and the double re-rank broadcast (each (qid, id) up to 4x,
    // then rank<=k returns ~k/4 distinct neighbors) — same loud-failure
    // discipline as the maxQueries bound
    require(qs.map(_._1).distinct.length == qs.length,
      s"$label query table carries duplicate $qIdCol values — " +
        "dedupe the query ids (results are per-id)")
    qs
  }

  /** Per-query exact cosine re-rank of a bounded (qid, id) candidate
    * frame against the float corpus — [[exactRerank]] for a query TABLE
    * (the query vectors ride a broadcast literal table).
    */
  private def exactRerankJoin(floats: DataFrame, cands: DataFrame,
      vecCol: String, idCol: String, qs: Array[(Long, Array[Double])],
      qIdCol: String, k: Int): DataFrame = {
    val session = floats.sparkSession
    import session.implicits._
    val qVecs = qs.toSeq.map { case (qid, v) => (qid, v.toSeq) }
      .toDF(qIdCol, "__qv")
    // materialize the bounded candidate cut once (≤ queries · oversample
    // · k rows): the broadcast AND the pushed id filter both read it —
    // and collect its distinct ids to prune the float scan to the
    // candidates' row groups ([[pushIdFilter]]; ids past the pushdown
    // bound leave the scan unfiltered, results identical either way).
    // localCheckpoint, not persist: a recoverable MEMORY_AND_DISK swap
    // (r20 verdict #6) measured slower (columnar-cache build cost) and
    // was reverted; the frame is k-row-bounded, so the non-replayability
    // trade is a bounded re-run of one query.
    val candsM = cands.localCheckpoint(true)
    val ids = candsM.where(col(idCol).isNotNull)
      .select(col(idCol).cast("long")).distinct()
      .limit(MaxPushdownIds + 1).as[Long].collect()
    val floatsPruned =
      if (ids.length > MaxPushdownIds) floats else pushIdFilter(floats, idCol, ids)
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("cosine_sim").desc, col(idCol))
    floatsPruned.join(broadcast(candsM), Seq(idCol))
      .join(broadcast(qVecs), Seq(qIdCol))
      .select(col(qIdCol), col(idCol),
        round(VectorFunctions.cosine(col(vecCol), col("__qv")), 6).as("cosine_sim"))
      .withColumn("__rank", row_number().over(w))
      .where(col("__rank") <= k)
      .select(col(qIdCol), col(idCol), col("cosine_sim"))
  }

  // ---- stored IVF-PQ tier: PQ-coded residuals partitioned by coarse
  // cell under the same segment machinery — FAISS's IVFADC layout
  // (Jégou et al. TPAMI'11 §V) on disk. The most IO-frugal serving form:
  // a probe scan reads (cid, m small ints) per row from the probed
  // `cid=` partitions only (parquet partition pruning), and the float
  // corpus is touched only by the exact re-rank of the oversample·k ADC
  // candidates. The MODEL — coarse centroids + residual codebooks — is
  // FROZEN at build time and appends encode against it (the FAISS
  // discipline; retraining = rebuild via ivfPqWriteIndex); takedown /
  // compaction reuse the codes-store delete-set machinery verbatim. ----

  /** Bootstrap / replace a stored IVF-PQ index: train the model on a
    * bounded hashed-id sample (or take a pretrained `model` — the shape
    * an empty-corpus bootstrap needs, since an empty corpus cannot
    * train), encode every vector, and write ONE payload segment of PQ
    * codes partitioned by `cid` plus the model tables, behind one
    * atomic flip.
    */
  def ivfPqWriteIndex(df: DataFrame, vecCol: String, idCol: String,
      path: String, dim: Int, nCentroids: Int = IvfCellsAuto, m: Int = 8,
      c: Int = 16, lloydIters: Int = 2, trainSample: Int = 16384,
      model: Option[(Array[Array[Double]], Array[Array[Array[Double]]])] = None,
      trainedRows: Option[Long] = None): Unit = {
    // IvfCellsAuto resolves on the training path only (ivfPqTrain runs
    // the same resolver); a pretrained model carries its own geometry
    val (cents, books) = model.getOrElse(ivfPqTrain(df, vecCol, idCol, dim,
      nCentroids, m, c, lloydIters, trainSample))
    require(cents.nonEmpty && books.nonEmpty,
      "ivfPqWriteIndex: empty model (empty-corpus bootstraps must pass a pretrained model)")
    require(cents.head.length == dim && books.length * books.head.head.length == dim,
      s"ivfPqWriteIndex: model dims disagree with dim=$dim")
    // trainedRows: see ivfWriteIndex — the pretrained-model bootstrap's
    // true trained-corpus size for the appended-mass drift signal
    ivfPqTier.writeIndexReplaceAll(ivfPqEncode(df, vecCol, idCol, cents, books),
      path, Some((cents, books)), trainedRows)
  }

  private val ivfPqTier =
    new CodesTier[(Array[Array[Double]], Array[Array[Array[Double]]])](
      label = "ivfpq", payload = "ivfpq", cellPartitioned = true,
      emptySchema = idCol => {
        import org.apache.spark.sql.types._
        StructType(Seq(StructField(idCol, LongType),
          StructField("codes", ArrayType(IntegerType)),
          StructField("cid", IntegerType)))
      },
      // codebooks mark a model segment (centroids ride beside them)
      modelMarker = Some("codebooks"),
      writeModel = (spark, seg, model) => {
        import spark.implicits._
        val (cents, books) = model
        cents.zipWithIndex.toSeq.map { case (cvec, i) => (i, cvec.toSeq) }
          .toDF("cid", "centroid")
          .coalesce(1).write.mode("overwrite").parquet(s"$seg/centroids")
        books.zipWithIndex.toSeq.flatMap { case (cb, sub) =>
          cb.zipWithIndex.toSeq.map { case (cvec, code) => (sub, code, cvec.toSeq) }
        }.toDF("sub", "code", "centroid")
          .coalesce(1).write.mode("overwrite").parquet(s"$seg/codebooks")
      },
      loadModel = (spark, seg) => {
        // driver-side sorts (≤ cells / m·c rows): see the ivf tier note —
        // per-read orderBy exchanges multiplied across every serve call
        val cents = spark.read.parquet(s"$seg/centroids")
          .select("cid", "centroid").collect()
          .sortBy(_.getInt(0))
          .map(_.getSeq[Double](1).toArray)
        val books = spark.read.parquet(s"$seg/codebooks")
          .select("sub", "code", "centroid").collect()
          .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
          .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray))
          .toArray
        (cents, books)
      })

  /** The index's frozen model: the NEWEST committed segment carrying
    * model tables (payload segments write them; compaction re-writes the
    * same model, so the newest is always current).
    */
  def readIvfPqModel(spark: SparkSession, path: String):
      (Array[Array[Double]], Array[Array[Array[Double]]]) =
    ivfPqTier.readModel(spark, path)

  /** Union of the committed segments' codes with deletes anti-joined —
    * the [[readIvfIndex]] shape with PQ codes. `probeCids` prunes the
    * scan to those cells (parquet partition pruning — the serve path's
    * lever); None reads everything (equality laws, compaction).
    */
  def readIvfPqIndex(spark: SparkSession, path: String,
      idCol: String = "vec_id",
      probeCids: Option[Seq[Int]] = None): DataFrame =
    ivfPqTier.readIndex(spark, path, idCol, probeCids)

  /** Ingest a (disjoint-id) vector batch as ONE new segment, encoded
    * against the FROZEN stored model (resolved INSIDE the writer lock: a
    * concurrent rebuild must not leave this append encoded against
    * superseded centroids/codebooks) — same replay-guard contract as
    * [[ivfAppendToStored]]. Cell skew and quantization error drift as
    * the data does (the documented IVFADC trade — [[ivfPqDriftStats]]
    * measures it); repair by rebuilding with a fresh model.
    */
  def ivfPqAppendToStored(spark: SparkSession, path: String,
      newVecs: DataFrame, vecCol: String, idCol: String,
      batchId: Option[Long] = None): Unit =
    ivfPqTier.appendToStored(spark, path, batchId,
      "ivfPqAppendToStored", "ivfPqWriteIndex") { case (cents, books) =>
      ivfPqEncode(newVecs, vecCol, idCol, cents, books)
    }

  /** Takedown on a stored IVF-PQ index — the shared codes-store
    * delete-set discipline (coverage semantics, re-append re-serves
    * immediately).
    */
  def ivfPqDeleteFromStored(spark: SparkSession, path: String,
      ids: DataFrame, idCol: String = "vec_id"): Unit =
    ivfPqTier.deleteFromStored(spark, path, ids, idCol, "ivfPqDeleteFromStored")

  /** Fold segments + deletes physically into one payload segment, the
    * model carried over UNCHANGED (frozen — a codes-only store cannot
    * retrain; rebuild from the float corpus to repair drift).
    */
  def ivfPqCompactStored(spark: SparkSession, path: String,
      sweepGraceMs: Long = 0L): Unit =
    ivfPqTier.compactStored(spark, path, sweepGraceMs)

  /** Self-scheduling fold — the shared cadence guard (threshold
    * re-checked inside the writer lock), plus the cadence drift check
    * ([[ivfPqDriftStats]] — warns loudly past the thresholds).
    */
  def ivfPqCompactIfFragmented(spark: SparkSession, path: String,
      maxSegments: Int = 8, sweepGraceMs: Long = 0L,
      rebuildOnDrift: Option[DataFrame] = None,
      vecCol: String = "embedding", idCol: String = "vec_id",
      imbalanceWarn: Double = 4.0, appendedWarn: Double = 0.5): Boolean = {
    val ran = ivfPqTier.compactIfFragmented(spark, path, maxSegments, sweepGraceMs,
      driftCells = Some(() => readIvfPqModel(spark, path)._1.length))
    val rebuilt = rebuildOnDrift.exists { corpus =>
      // the retrain keeps the current model's (dim, m, c) shape — the
      // codebook geometry is the caller's layout choice; only the
      // centroids/codebooks (and the auto cell count) re-derive
      val (cents, books) = readIvfPqModel(spark, path)
      val dim = cents.head.length
      rebuildIfDrifted(spark, path, "ivfpq", imbalanceWarn, appendedWarn,
        ivfPqDriftStats(spark, path, imbalanceWarn, appendedWarn)) {
        ivfPqWriteIndex(corpus, vecCol, idCol, path, dim = dim,
          m = books.length, c = books.head.length) // auto geometry
      }
    }
    ran || rebuilt
  }

  /** [[ivfDriftStats]] for the IVF-PQ store — same cheap cellstats
    * aggregation, same thresholds, same loud warning.
    */
  def ivfPqDriftStats(spark: SparkSession, path: String,
      imbalanceWarn: Double = 4.0, appendedWarn: Double = 0.5): DataFrame =
    ivfPqTier.driftStatsRow(spark, path,
      readIvfPqModel(spark, path)._1.length, imbalanceWarn, appendedWarn)

  /** QUERY step: resolve the probe cells driver-side ([[ivfProbeCids]]
    * against the frozen centroids), scan ONLY those `cid=` partitions of
    * the codes store, ADC-rank, exact cosine re-rank of the top
    * oversample·k against the float corpus — the [[ivfTopKStored]] tail
    * over PQ codes. The full-probe result is IDENTICAL to
    * [[ivfPqTopKWithModel]] over the same live corpus and model (the
    * law-pinned configuration).
    */
  def ivfPqTopKStored(spark: SparkSession, path: String, floats: DataFrame,
      vecCol: String, idCol: String, query: Array[Double], k: Int,
      nProbe: Int = 4, oversample: Int = 5): DataFrame = {
    require(k > 0 && nProbe > 0 && oversample >= 1,
      s"need k > 0, nProbe > 0, oversample >= 1")
    val (cents, books) = readIvfPqModel(spark, path)
    val probes = ivfProbeCids(query, cents, nProbe)
    ivfPqServe(readIvfPqIndex(spark, path, idCol, probeCids = Some(probes)),
      floats, vecCol, idCol, query, k, oversample, cents, books)
  }

  /** The in-memory serving form over a FROZEN pretrained model: encode
    * `df` against it, probe, ADC-rank, exact re-rank — what a stored
    * serve computes, minus the store ([[ivfPqTopKStored]]'s equality
    * target; [[ivfPqTopK]] is the train-and-serve convenience over it).
    */
  def ivfPqTopKWithModel(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Double], k: Int,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      nProbe: Int = 4, oversample: Int = 5): DataFrame = {
    require(k > 0 && nProbe > 0 && oversample >= 1,
      s"need k > 0, nProbe > 0, oversample >= 1")
    val probes = ivfProbeCids(query, cents, nProbe)
    ivfPqServe(ivfPqEncode(df, vecCol, idCol, cents, books)
        .where(col("cid").isin(probes.map(Int.box): _*)),
      df, vecCol, idCol, query, k, oversample, cents, books)
  }

  /** Shared serve tail: ADC-rank the (probed) encoded frame, exact
    * cosine re-rank of the top oversample·k candidate ids against the
    * float corpus.
    */
  private def ivfPqServe(encodedProbed: DataFrame, floats: DataFrame,
      vecCol: String, idCol: String, query: Array[Double], k: Int,
      oversample: Int, cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): DataFrame = {
    val cands = ivfPqAdcScores(encodedProbed, idCol, cents, books, query)
      .orderBy(col("ivfpq_score").desc, col(idCol))
      .limit(oversample * k)
      .select(col(idCol))
    exactRerank(floats, cands, vecCol, idCol, query, k)
  }

  /** [[ivfPqTopKStored]] for a TABLE of query vectors — the
    * [[ivfTopKStoredJoin]] shape over PQ codes: one commit-log resolve,
    * ONE pruned scan of the union of all queries' probe cells, per-query
    * ADC scoring against broadcast per-query lookup tables (each query's
    * m×c dot table + per-cell query·centroid dots — a few KB per query),
    * per-query candidate cut, one bounded exact re-rank. Per-query
    * results are EXACTLY `ivfPqTopKStored(query)` over the same live
    * store and model (law-pinned). Output (qIdCol, idCol, cosine_sim).
    */
  def ivfPqTopKStoredJoin(spark: SparkSession, path: String, floats: DataFrame,
      vecCol: String, idCol: String,
      queries: DataFrame, qVecCol: String, qIdCol: String, k: Int,
      nProbe: Int = 4, oversample: Int = 5, maxQueries: Int = 4096): DataFrame = {
    require(k > 0 && nProbe > 0 && oversample >= 1,
      s"need k > 0, nProbe > 0, oversample >= 1")
    val (cents, books) = readIvfPqModel(spark, path)
    val qs = collectQueries(queries, qVecCol, qIdCol, maxQueries,
      "ivfPqTopKStoredJoin")
    if (qs.isEmpty) return emptyJoinResult(spark, qIdCol, idCol)
    val probePairs = qs.flatMap { case (qid, v) =>
      ivfProbeCids(v, cents, nProbe).map(cid => (qid, cid))
    }
    val unionCids = probePairs.map(_._2).distinct.toSeq
    import spark.implicits._
    // per-query ADC tables as broadcast DATA, not literals — one scan
    // serves every query (ivfPqAdcScores inlines one query's tables into
    // the plan; Q queries would mean Q plans and Q scans)
    val probesByQ = probePairs.groupBy(_._1)
    val qTable = qs.toSeq.map { case (qid, q) =>
      val t = adcTables(books, q)
      val qCentDot = cents.map(_.zip(q).map { case (a, b) => a * b }.sum).toSeq
      (qid, probesByQ(qid).map(_._2).toSeq, t.dot.map(_.toSeq).toSeq, qCentDot, t.qNorm)
    }.toDF(qIdCol, "__cids", "__dt", "__qc", "__qn")
      .withColumn("cid", explode(col("__cids"))).drop("__cids")
    val scan = readIvfPqIndex(spark, path, idCol, probeCids = Some(unionCids))
    val scored = scan.join(broadcast(qTable), Seq("cid"))
      .withColumn("__approx",
        round((element_at(col("__qc"), col("cid") + 1) +
          adcLookupSum(col("__dt"), col("codes"), books.length)) /
          col("__qn"), 6))
    val cands = joinCandidateCut(scored, qIdCol, idCol, oversample * k)
    exactRerankJoin(floats, cands, vecCol, idCol, qs, qIdCol, k)
  }

  /** Maximal-marginal-relevance re-rank of a BOUNDED candidate frame
    * (Carbonell & Goldstein, SIGIR'98): greedily select
    * argmax over remaining candidates of
    * `lambda·cos(d, q) − (1−lambda)·max_{s ∈ selected} cos(d, s)` —
    * the standard diversity-aware serving tail for curation/retrieval,
    * where a crowded near-duplicate region (exactly what the drift
    * probe exposes) would otherwise fill the whole top-k with copies.
    * `lambda = 1` reduces to plain cosine top-k (law-pinned equality);
    * lower lambda trades relevance for diversity. Driver-side greedy
    * over the COLLECTED candidates (maxCandidates-guarded, loud) — MMR
    * re-ranks an already-bounded set (the oversample·k discipline:
    * feed it an ANN serve's output, never a corpus), and the greedy's
    * running max-similarity state is inherently sequential, so a
    * bounded local loop is the honest plan at any scale. Fully
    * deterministic: ties break (score desc, id asc); the first pick's
    * diversity penalty is 0 (empty selected set). Output
    * (idCol, cosine_sim, mmr_rank) — cosine_sim is relevance to the
    * query (rounded 6, the serving-family convention), mmr_rank the
    * selection order 1..k.
    */
  def mmrRerank(cands: DataFrame, vecCol: String, idCol: String,
      query: Array[Double], k: Int, lambda: Double,
      maxCandidates: Int = 4096): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda must be in [0, 1], got $lambda")
    val session = cands.sparkSession
    import session.implicits._
    val rows = cands
      .select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
      .limit(maxCandidates + 1).collect()
      .map { case (i, v) => (i, v.toArray) }
      .sortBy(_._1)
    require(rows.length <= maxCandidates,
      s"mmrRerank candidate frame exceeds maxCandidates=$maxCandidates — " +
        "MMR re-ranks a bounded set (an ANN serve's oversample·k output), " +
        "never a corpus; cut candidates first or raise the bound consciously")
    require(rows.map(_._1).distinct.length == rows.length,
      s"mmrRerank candidate frame carries duplicate $idCol values")
    mmrGreedy(rows, query, k, lambda).toDF(idCol, "cosine_sim", "mmr_rank")
  }

  /** The MMR greedy itself, shared by [[mmrRerank]] and [[mmrRerankJoin]]
    * so their per-query equality is structural, not re-proven: one body,
    * two collect disciplines. Expects `rows` id-sorted and duplicate-free
    * (both callers enforce this loudly).
    */
  private def mmrGreedy(rows: Array[(Long, Array[Double])],
      query: Array[Double], k: Int, lambda: Double): Seq[(Long, Double, Int)] = {
    // cosine matches VectorFunctions.cosine bit-for-bit: the lambda=1 ≡
    // plain-top-k law compares these values for exact equality against
    // the Spark-side scores
    val n = rows.length
    // relevance rounds to 6 like every serving tail, and the ROUNDED
    // value drives selection too — otherwise lambda=1 could diverge
    // from the plain top-k's (rounded score desc, id) order on a
    // sub-rounding tie
    val simQ = rows.map(r =>
      BigDecimal(cosine(r._2, query)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    val maxSimSel = Array.fill(n)(0.0)
    val taken = Array.fill(n)(false)
    val picked = Seq.newBuilder[(Long, Double, Int)]
    var rank = 1
    while (rank <= math.min(k, n)) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < n) {
        if (!taken(i)) {
          val s = lambda * simQ(i) - (1.0 - lambda) * maxSimSel(i)
          // ties: score desc, then id asc (rows are id-sorted, so the
          // first strict improvement wins and equal scores keep the
          // smaller id)
          if (s > bestScore) { bestScore = s; best = i }
        }
        i += 1
      }
      // loud-failure discipline (r18 advice): a NaN element in any
      // candidate embedding makes its cosine NaN, and NaN > -Infinity is
      // false — if EVERY remaining score is NaN, best stays -1 and the
      // greedy would crash opaquely on taken(-1). Name the cause instead.
      require(best >= 0,
        s"mmrRerank: no selectable candidate at rank $rank — every " +
          "remaining MMR score is NaN (a NaN element in a candidate " +
          "embedding makes its cosine NaN); validate the candidate " +
          "vectors before re-ranking")
      taken(best) = true
      picked += ((rows(best)._1, simQ(best), rank))
      var j = 0
      while (j < n) {
        if (!taken(j)) {
          val c = cosine(rows(j)._2, rows(best)._2)
          if (c > maxSimSel(j)) maxSimSel(j) = c
        }
        j += 1
      }
      rank += 1
    }
    picked.result()
  }

  /** MMR diversity re-rank for a QUERY TABLE — composes the diversity
    * tail with the query-table serve matrix (r18 verdict #2): re-rank
    * each query's candidate set from `ivfTopKStoredJoin` /
    * `int8TopKStoredJoin` / `bruteForceTopKJoin` output in ONE call,
    * instead of looping the single-query [[mmrRerank]] per query. The
    * same storehaus-multiGet discipline the serves honor (reference
    * FlatMapOperation.scala:113-137): the bounded key set is declared up
    * front, vectors are attached with ONE broadcast join against the
    * corpus scan (candidate ids broadcast into the scan — the corpus is
    * never collected or shuffled), and the per-query greedy runs
    * driver-side over at most maxQueries·maxCandidates rows, every bound
    * loud. Per-query output EXACTLY equals the single-query
    * [[mmrRerank]] loop over the same candidates — structural (both run
    * [[mmrGreedy]] on the same id-sorted rows), law-pinned in
    * MmrJoinSpec and gate row q_ann_mmr_join.
    *
    * `candidates` carries (qIdCol, idCol) pairs — extra columns (e.g. the
    * serve's cosine_sim) are ignored; relevance is recomputed from the
    * corpus vectors so the law against mmrRerank is exact. Every
    * candidate's query id must appear in the query table, and every
    * candidate id must resolve in the corpus — silently dropping either
    * would serve a thinner diversity set than the caller asked for.
    * Output: (qIdCol, idCol, cosine_sim, mmr_rank).
    */
  def mmrRerankJoin(candidates: DataFrame, qIdCol: String, idCol: String,
      corpus: DataFrame, vecCol: String, corpusIdCol: String,
      queries: DataFrame, qVecCol: String, queryIdCol: String,
      k: Int, lambda: Double, maxQueries: Int = 1024,
      maxCandidates: Int = 4096): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda must be in [0, 1], got $lambda")
    val session = candidates.sparkSession
    import session.implicits._
    val qRows = queries
      .select(col(queryIdCol).cast("long"), col(qVecCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
      .limit(maxQueries + 1).collect()
    require(qRows.length <= maxQueries,
      s"mmrRerankJoin query table exceeds maxQueries=$maxQueries — the " +
        "query-table form amortizes a bounded batch (the serve " +
        "discipline); split the table or raise the bound consciously")
    // empty query table serves the canonical empty frame (the serves'
    // emptyJoinResult contract) — without this, the Q·maxCandidates cap
    // degenerates to 0 and a nonempty candidate frame would trip it with
    // a misleading over-bound message
    if (qRows.isEmpty)
      return Seq.empty[(Long, Long, Double, Int)]
        .toDF(qIdCol, idCol, "cosine_sim", "mmr_rank")
    require(qRows.map(_._1).distinct.length == qRows.length,
      s"mmrRerankJoin query table carries duplicate $queryIdCol values")
    val candPairs = candidates
      .select(col(qIdCol).cast("long").as("__q"),
        col(idCol).cast("long").as("__id"))
      // bounded by the Q·maxCandidates contract; three consumers (count,
      // id filter, join). localCheckpoint, not persist: the r20-verdict-#6
      // recoverable-persist swap measured slower here (columnar-cache
      // build cost on a frame this small) and was reverted.
      .localCheckpoint(true)
    val nCandGroups = candPairs.count()
    // distinct candidate ids pushed INTO the corpus scan as a data
    // filter (round 20 opt — the same row-group-pruning lever as the
    // exact re-rank tails; past the pushdown bound the scan stays
    // unfiltered and the broadcast probe alone decides, identically)
    val candIds = candPairs.where(col("__id").isNotNull)
      .select(col("__id")).distinct()
      .limit(MaxPushdownIds + 1).as[Long].collect()
    val corpusPruned =
      if (candIds.length > MaxPushdownIds) corpus
      else pushIdFilter(corpus, corpusIdCol, candIds)
    // ONE broadcast join attaches vectors: candidate ids broadcast INTO
    // the corpus scan — no shuffle, no corpus collect
    val withVecs = corpusPruned
      .select(col(corpusIdCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__vec"))
      .join(broadcast(candPairs), "__id")
      .select(col("__q"), col("__id"), col("__vec"))
      .as[(Long, Long, Seq[Double])]
      .limit(qRows.length * maxCandidates + 1).collect()
    require(withVecs.length <= qRows.length.toLong * maxCandidates,
      s"mmrRerankJoin candidate frame exceeds maxQueries*maxCandidates=" +
        s"${qRows.length.toLong * maxCandidates} resolved rows — MMR " +
        "re-ranks bounded serve output, never a corpus")
    // the two resolution failure modes checked SEPARATELY (r19 advice: a
    // duplicate corpus id fanning the join out can exactly cancel an
    // unresolvable candidate id, so count equality alone can pass while
    // serving a wrong vector set). 1) distinct (q, id) pairs — a
    // duplicate here means either the candidate frame repeats the pair
    // or a duplicate corpus id fanned the join out; 2) with pairs
    // distinct, any count shortfall is EXACTLY the unresolvable ids,
    // named via an anti-join on the failure path only.
    val dupPair = {
      val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
      withVecs.iterator.map(r => (r._1, r._2)).find(!seen.add(_))
    }
    require(dupPair.isEmpty,
      s"mmrRerankJoin: duplicate resolved (query, candidate) pair " +
        s"${dupPair.get} — the candidate frame repeats the pair or a " +
        s"duplicate $corpusIdCol in the corpus fanned the join out; " +
        "either would serve a wrong vector set")
    if (withVecs.length != nCandGroups) {
      val missing = candPairs.join(
          corpus.select(col(corpusIdCol).cast("long").as("__id")),
          Seq("__id"), "left_anti")
        .select(col("__id")).limit(3).collect().map(_.getLong(0))
      throw new IllegalArgumentException(
        s"mmrRerankJoin: ${nCandGroups - withVecs.length} candidate rows " +
          s"have no $corpusIdCol match in the corpus (e.g. " +
          s"${missing.mkString(", ")}) — a silent drop would serve a " +
          "thinner diversity set than asked; resolve against the serving " +
          "corpus")
    }
    val qIds = qRows.map(_._1).toSet
    val strayQ = withVecs.iterator.map(_._1).filterNot(qIds).take(3).toSeq
    require(strayQ.isEmpty,
      s"mmrRerankJoin: candidate rows name query ids absent from the " +
        s"query table (e.g. ${strayQ.mkString(", ")}) — pass the same " +
        "query table the serve ran")
    val byQ = withVecs.groupBy(_._1)
    val out = qRows.sortBy(_._1).toSeq.flatMap { case (qid, qv) =>
      val rows = byQ.getOrElse(qid, Array.empty[(Long, Long, Seq[Double])])
        .map { case (_, id, v) => (id, v.toArray) }.sortBy(_._1)
      require(rows.length <= maxCandidates,
        s"mmrRerankJoin: query $qid carries ${rows.length} candidates, " +
          s"over maxCandidates=$maxCandidates")
      require(rows.map(_._1).distinct.length == rows.length,
        s"mmrRerankJoin: query $qid carries duplicate $idCol values")
      mmrGreedy(rows, qv.toArray, k, lambda)
        .map { case (id, sim, rank) => (qid, id, sim, rank) }
    }
    out.toDF(qIdCol, idCol, "cosine_sim", "mmr_rank")
  }

  /** Executor-side MMR for a query TABLE (round 20, r19 verdict #2):
    * per-query output EXACTLY equals [[mmrRerankJoin]] — same rows, same
    * (query asc, rank asc) order — but the per-query greedy runs in
    * `groupByKey(query).flatMapGroups` on the EXECUTORS, so a large
    * batch-curation query table (the 10⁵-query decontamination shape)
    * needs no driver loop, no chunking, and no `maxQueries` cap: the
    * greedy is per-query independent (embarrassingly parallel), and the
    * one thing that is NOT parallel — the running max-similarity state —
    * stays inside each bounded group. Driver memory is flat in the query
    * count (nothing is collected); keep the driver form for small tables
    * where a shuffle isn't worth scheduling.
    *
    * Plan shape: the same ONE broadcast join attaches candidate vectors
    * (candidate ids broadcast INTO the corpus scan — the corpus is never
    * collected or shuffled), then ONE shuffle keyed by query id groups
    * (query vector + expected-count sentinel + resolved candidates),
    * each group at most `maxCandidates` + 2 rows. Every bound and
    * resolution check of the driver form is re-stated PER GROUP, loud at
    * evaluation time: a group over `maxCandidates`, duplicate candidate
    * ids, duplicate query ids, candidates naming a query id absent from
    * the query table (no query row reaches the group), and unresolvable
    * candidate ids (the expected-count sentinel travels with the group,
    * so even a query whose candidates are ALL unresolvable fails loudly
    * instead of vanishing thin). Law: structural equality to
    * [[mmrRerankJoin]] over random tables (MmrDistributedSpec), gate row
    * q_ann_mmr_dist sharing q_ann_mmr_join's oracle shape.
    */
  def mmrRerankJoinDistributed(candidates: DataFrame, qIdCol: String,
      idCol: String, corpus: DataFrame, vecCol: String, corpusIdCol: String,
      queries: DataFrame, qVecCol: String, queryIdCol: String,
      k: Int, lambda: Double, maxCandidates: Int = 4096): DataFrame = {
    require(k > 0, s"need k > 0, got $k")
    require(lambda >= 0.0 && lambda <= 1.0,
      s"lambda must be in [0, 1], got $lambda")
    val session = candidates.sparkSession
    import session.implicits._
    // empty query table: the canonical empty frame (the driver form's
    // documented contract — checked first so the law holds on the edge)
    if (queries.limit(1).isEmpty)
      return Seq.empty[(Long, Long, Double, Int)]
        .toDF(qIdCol, idCol, "cosine_sim", "mmr_rank")
    val candPairs = candidates
      .select(col(qIdCol).cast("long").as("__q"),
        col(idCol).cast("long").as("__id"))
    // distinct candidate ids pushed INTO the corpus scan when the set is
    // small enough to literal-push (round 20 opt — same lever as the
    // re-rank tails; the collect is bounded by the pushdown cap + 1, so
    // driver memory stays flat in the query count either way)
    val candIds = candPairs.where(col("__id").isNotNull)
      .select(col("__id")).distinct()
      .limit(MaxPushdownIds + 1).as[Long].collect()
    val corpusPruned =
      if (candIds.length > MaxPushdownIds) corpus
      else pushIdFilter(corpus, corpusIdCol, candIds)
    // ONE broadcast join attaches vectors — ids INTO the corpus scan
    val resolved = corpusPruned
      .select(col(corpusIdCol).cast("long").as("__id"),
        col(vecCol).cast("array<double>").as("__vec"))
      .join(broadcast(candPairs), "__id")
      .select(col("__q"), lit(2).as("__kind"), col("__id"), col("__vec"),
        lit(0L).as("__n"))
    // per-query EXPECTED candidate count — travels to the group as a
    // sentinel row, so the resolution check runs even when the join
    // resolved nothing for a query
    val expected = candPairs.groupBy(col("__q"))
      .agg(count(lit(1)).as("__n"))
      .select(col("__q"), lit(1).as("__kind"), lit(Long.MinValue).as("__id"),
        lit(null).cast("array<double>").as("__vec"), col("__n"))
    val qRows = queries
      .select(col(queryIdCol).cast("long").as("__q"), lit(0).as("__kind"),
        lit(Long.MinValue).as("__id"),
        col(qVecCol).cast("array<double>").as("__vec"), lit(0L).as("__n"))
    val maxC = maxCandidates
    val kk = k; val lam = lambda
    val out = qRows.unionByName(expected).unionByName(resolved)
      .as[(Long, Int, Long, Seq[Double], Long)]
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Int, Long, Seq[Double], Long)]) =>
        // bounded load: a group is ≤ maxCandidates cands + 1 query row +
        // 1 sentinel; read one past the cap and fail loudly, never OOM
        val rows = it.take(maxC + 3).toArray
        val qVecs = rows.filter(_._2 == 0)
        val sent = rows.filter(_._2 == 1)
        val cands = rows.filter(_._2 == 2)
        require(qVecs.nonEmpty,
          s"mmrRerankJoinDistributed: candidate rows name query id $qid, " +
            "absent from the query table — pass the same query table the " +
            "serve ran")
        require(qVecs.length == 1,
          s"mmrRerankJoinDistributed: query table carries duplicate query " +
            s"id $qid")
        require(cands.length <= maxC,
          s"mmrRerankJoinDistributed: query $qid carries ${cands.length} " +
            s"candidates, over maxCandidates=$maxC")
        if (sent.isEmpty) Iterator.empty // query with no candidate rows
        else {
          require(cands.length == sent.head._5,
            s"mmrRerankJoinDistributed: query $qid resolved ${cands.length}" +
              s" of ${sent.head._5} candidate rows — unresolvable " +
              "candidate ids (or a duplicate corpus id fanned the join " +
              "out); resolve against the serving corpus")
          val sorted = cands.map(r => (r._3, r._4.toArray)).sortBy(_._1)
          require(sorted.map(_._1).distinct.length == sorted.length,
            s"mmrRerankJoinDistributed: query $qid carries duplicate " +
              "candidate ids")
          mmrGreedy(sorted, qVecs.head._4.toArray, kk, lam).iterator
            .map { case (id, sim, rank) => (qid, id, sim, rank) }
        }
      }
    // output-sized sort (k rows per query) pins the driver form's
    // (query asc, rank asc) order, so equality is row-and-order exact
    out.toDF(qIdCol, idCol, "cosine_sim", "mmr_rank")
      .orderBy(col(qIdCol), col("mmr_rank"))
  }

  /** Exact per-query top-k for a query table (broadcast). */
  def bruteForceTopKJoin(df: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, qVecCol: String, qIdCol: String, k: Int): DataFrame = {
    val scored = df.crossJoin(broadcast(queries))
      .withColumn("cosine_sim", round(VectorFunctions.cosine(col(vecCol), col(qVecCol)), 6))
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("cosine_sim").desc, col(idCol))
    scored.withColumn("__rank", row_number().over(w))
      .where(col("__rank") <= k)
      .select(col(qIdCol), col(idCol), col("cosine_sim"))
  }

  /** LSH-bucketed ANN top-k: both sides bucketed by sign-hyperplane LSH;
    * queries multi-probe their bucket plus all buckets at hamming distance 1
    * (flip each of nBits). Recall is tunable via nBits/probes; exactness is
    * NOT guaranteed — compare against bruteForce in tests.
    */
  def lshTopK(df: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, qVecCol: String, qIdCol: String,
      dim: Int, k: Int, nBits: Int = 10, probeHamming1: Boolean = true): DataFrame = {
    val data = df.withColumn("__bucket",
      VectorFunctions.lshBucket(col(vecCol), dim, nBits))
    val qBucketed = queries.withColumn("__qbucket",
      VectorFunctions.lshBucket(col(qVecCol), dim, nBits))
    // multi-probe: original bucket + hamming-1 neighbors
    val probed =
      if (!probeHamming1) qBucketed.withColumn("__bucket", col("__qbucket"))
      else qBucketed.withColumn("__bucket",
        explode(array((lit(-1) +: (0 until nBits).map(lit(_))): _*)))
        .withColumn("__bucket",
          when(col("__bucket") === -1, col("__qbucket"))
            .otherwise(col("__qbucket").bitwiseXOR(pow(lit(2.0), col("__bucket").cast("int")).cast("long"))))
    val cands = data.join(broadcast(probed), Seq("__bucket"))
      .withColumn("cosine_sim", round(VectorFunctions.cosine(col(vecCol), col(qVecCol)), 6))
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("cosine_sim").desc, col(idCol))
    cands.withColumn("__rank", row_number().over(w))
      .where(col("__rank") <= k)
      .select(col(qIdCol), col(idCol), col("cosine_sim"))
  }

  /** IVF: coarse quantizer seeded by the `nCentroids` vectors with the
    * smallest hashed id (one TakeOrdered — no count(), no global sort),
    * refined by `lloydIters` deterministic Lloyd iterations (assign to
    * nearest centroid → per-centroid mean), centroids collected to the
    * driver and inlined as literal arrays so assignment is a single argmax
    * PROJECTION (zero shuffle, zero windows over the data). Queries probe
    * the `nProbe` nearest centroids; with nProbe = nCentroids every vector
    * is a candidate, so the result is EXACT per-query top-k (the
    * oracle-checked configuration) regardless of centroid quality; at
    * partial probe the refined centroids make recall defensible (spherical
    * k-means: cosine argmax is scale-invariant, so the unnormalized mean is
    * the correct centroid direction).
    *
    * At 100 TB: the only per-vector work is nCentroids cosine evaluations
    * inside one codegen'd projection; each Lloyd iteration is one extra
    * scan whose shuffle carries only (centroid, dim) partial sums —
    * nCentroids × dim cells, independent of row count; the only data-side
    * shuffle of the query phase is the broadcast-join of candidates against
    * the (tiny) probe table plus the per-query top-k.
    */
  private[operators] def simsToCents(v: Column, cents: Array[Array[Double]]): Column =
    array(cents.toIndexedSeq.map(c =>
      VectorFunctions.cosine(v, array(c.toIndexedSeq.map(lit(_)): _*))): _*)

  /** Nearest-centroid id by cosine argmax over LITERAL centroids — one
    * narrow codegen'd projection, zero shuffle (first index wins ties —
    * deterministic).
    */
  def nearestCentroid(v: Column, cents: Array[Array[Double]]): Column = {
    val sims = simsToCents(v, cents)
    (array_position(sims, array_max(sims)) - 1).cast("int")
  }

  /** Two-level (coarse→fine) nearest-centroid assignment with
    * multi-probe: ~(√k + nProbe·√k) cosines per row instead of k. The k
    * FINE centroids are themselves clustered driver-side into ~√k coarse
    * groups (tiny: k vectors, pure-Scala spherical Lloyd); a row scores
    * the coarse centroids, PROBES its `nProbe` best groups, and argmaxes
    * only over those groups' fine members — the coarse-quantizer shape
    * every IVF system uses for assignment at scale, where brute-force k·d
    * flops per row stop being free (measured: k scaled with corpus size
    * turns assignment into the dominant semanticDedup cost).
    * APPROXIMATE by construction — a row whose true nearest fine centroid
    * hides in an unprobed group gets its probed best — with `nProbe` as
    * the fidelity dial (nProbe >= group count is exact; exactness on
    * separated clusters is law-pinned). Ties break to the smallest fine
    * id, matching [[nearestCentroid]]'s first-index rule. The probed
    * group set lands in a column first so codegen evaluates the coarse
    * scores ONCE per row; each group's member cosines sit behind a
    * `when(array_contains(...))` guard, so only probed groups' cosines
    * execute per row.
    */
  def withNearestCentroidTwoLevel(df: DataFrame, v: Column,
      cents: Array[Array[Double]], outCol: String, nProbe: Int = 4): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val k = cents.length
    if (k <= 4) return df.withColumn(outCol, nearestCentroid(v, cents))
    val dims = cents.head.length
    val nCoarse = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
    def norm(c: Array[Double]): Array[Double] = {
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0) c else c.map(_ / n)
    }
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    val fine = cents.map(norm)
    // driver-side spherical Lloyd over the k centroid vectors themselves
    var coarse = Array.tabulate(nCoarse)(g => fine(g * k / nCoarse))
    var member = Array.fill(k)(0)
    for (_ <- 0 until 5) {
      member = fine.map { c =>
        var best = 0; var bs = Double.NegativeInfinity
        for (g <- coarse.indices) {
          val s = dot(c, coarse(g)); if (s > bs) { bs = s; best = g }
        }
        best
      }
      coarse = Array.tabulate(nCoarse) { g =>
        val mem = member.indices.filter(member(_) == g)
        if (mem.isEmpty) coarse(g)
        else {
          val m = new Array[Double](dims)
          mem.foreach { i => var j = 0; while (j < dims) { m(j) += fine(i)(j); j += 1 } }
          norm(m)
        }
      }
    }
    // empty groups drop out; each surviving group argmaxes its members only
    val groups = (0 until nCoarse)
      .map(g => (coarse(g), member.indices.filter(member(_) == g).toArray))
      .filter(_._2.nonEmpty)
    def litVec(c: Array[Double]): Column = array(c.toIndexedSeq.map(lit(_)): _*)
    // top-nProbe coarse groups: (score, gid) structs sorted desc, sliced,
    // gid extracted — materialized as a column so it evaluates once
    val coarseStructs = array(groups.zipWithIndex.map { case ((cv, _), g) =>
      struct(VectorFunctions.cosine(v, litVec(cv)).as("s"), lit(g).as("g"))
    }: _*)
    val probeCol = outCol + "_probe"
    val withProbe = df.withColumn(probeCol,
      transform(slice(reverse(array_sort(coarseStructs)), 1, math.min(nProbe, groups.length)),
        x => x.getField("g")))
    // per-group best (sim, -fineId), guarded: unprobed groups contribute a
    // -inf sentinel and never evaluate their member cosines
    val sentinel = struct(lit(Double.NegativeInfinity).as("s"), lit(Int.MinValue).as("nf"))
    val candidates = array(groups.zipWithIndex.map { case ((_, mem), g) =>
      val structsG = array(mem.toIndexedSeq.map(fid =>
        struct(VectorFunctions.cosine(v, litVec(cents(fid))).as("s"),
          lit(-fid).as("nf"))): _*)
      when(array_contains(col(probeCol), g), array_max(structsG)).otherwise(sentinel)
    }: _*)
    // struct max orders by (sim, -fineId): equal sims -> larger -fineId
    // -> SMALLEST fine id, the brute-force first-index rule
    withProbe
      .withColumn(outCol, (-array_max(candidates).getField("nf")).cast("int"))
      .drop(probeCol)
  }

  /** Deterministic spherical k-means centroids: seeded by the `nCentroids`
    * vectors with the smallest hashed id (one TakeOrderedAndProject — no
    * count(), no global sort), refined by `lloydIters` Lloyd iterations
    * (assign to nearest centroid → per-centroid mean; an empty centroid
    * keeps its previous position). One hash aggregation per iteration: dim
    * per-element avg aggregates grouped on the argmax cell — the grouping
    * key is evaluated ONCE per row (a posexplode formulation would let
    * Catalyst recompute the argmax under the generator, dim times per
    * row), and the shuffle carries only nCentroids × dim cells,
    * independent of row count. Cosine argmax is scale-invariant, so the
    * unnormalized mean is the correct centroid direction.
    *
    * `trainSample > 0` supersedes `hierAssign` during training: Lloyd
    * runs driver-local on the bounded sample with exact argmax
    * assignment (the two-level shortcut exists to bound corpus-scan
    * cost, which the sample already bounds); `hierAssign` still governs
    * whatever corpus-wide assignment pass the caller runs afterwards.
    */
  def kmeansCentroids(df: DataFrame, vecCol: String, idCol: String,
      nCentroids: Int, lloydIters: Int,
      hierAssign: Boolean = false,
      trainSample: Int = 0): Array[Array[Double]] = {
    require(lloydIters >= 0, s"lloydIters must be >= 0, got $lloydIters")
    if (trainSample > 0) {
      // trainSample supersedes hierAssign DURING TRAINING: the
      // driver-local Lloyd below always assigns by exact argmax (the
      // sample is bounded, so the two-level shortcut buys nothing), and
      // the caller's hierAssign choice still governs the corpus-wide
      // assignment pass it runs afterwards. Say so, loudly, so the
      // refinement trajectory difference is never a silent surprise.
      if (hierAssign) System.err.println(
        "[graft] kmeansCentroids: trainSample > 0 trains driver-local with " +
        "exact argmax assignment; hierAssign applies only to the caller's " +
        "subsequent corpus assignment pass")
      // bounded-sample training (round 16 — the pqCodebooks discipline):
      // ONE TakeOrdered job collects the `trainSample` vectors with the
      // smallest hashed id, Lloyd runs driver-LOCAL on the sample, and the
      // corpus is touched again only by the caller's single assignment
      // pass. The sample is a superset-prefix of the distributed path's
      // seeds (same (xxhash64(id), id) order), so seeding is identical;
      // the refined centroids differ from full-corpus Lloyd exactly the
      // way any sampled k-means does — the standard billion-scale trade
      // (FAISS trains IVF coarse quantizers on ≤ 256·k samples). At 100×
      // data this turns lloydIters full-corpus scans into zero.
      require(trainSample >= nCentroids,
        s"trainSample $trainSample < nCentroids=$nCentroids")
      val sample: Array[Array[Double]] = df
        .select(col(vecCol).cast("array<double>").as("__v"), col(idCol).as("__sid"))
        .orderBy(xxhash64(col("__sid")), col("__sid"))
        .limit(trainSample)
        .collect()
        .map(_.getSeq[Double](0).toArray)
      return kmeansLocal(sample, nCentroids, lloydIters)
    }
    val seeds: Array[Array[Double]] = df
      .select(col(vecCol).cast("array<double>").as("__v"), col(idCol).as("__sid"))
      .orderBy(xxhash64(col("__sid")), col("__sid"))
      .limit(nCentroids)
      .collect()
      .map(_.getSeq[Double](0).toArray)
    val dims = seeds.headOption.map(_.length).getOrElse(0)
    (0 until lloydIters).foldLeft(seeds) { (cents, _) =>
      // hierAssign: each Lloyd pass assigns through the two-level coarse
      // quantizer too (√k-ish cosines/row) — the refinement trajectory is
      // approximate in the same way the final assignment is, which is the
      // standard large-k trade (Lloyd is a heuristic either way)
      val assignedIter =
        if (hierAssign)
          withNearestCentroidTwoLevel(
            df.select(col(vecCol).cast("array<double>").as("__v")), col("__v"),
            cents, "__cid")
        else df.select(col(vecCol).cast("array<double>").as("__v"))
          .withColumn("__cid", nearestCentroid(col("__v"), cents))
      val means = assignedIter
        .groupBy(col("__cid"))
        .agg(array((0 until dims).map(i => avg(col("__v").getItem(i))): _*).as("__m"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach { r =>
        val m = r.getSeq[Double](1)
        var i = 0
        while (i < dims) { next(r.getInt(0))(i) = m(i); i += 1 }
      }
      next
    }
  }

  /** Driver-local spherical Lloyd over an in-memory sample: seeds are the
    * sample's first `nCentroids` rows (≡ the distributed seeding — the
    * sample is collected in the same (hash, id) order), assignment is
    * cosine argmax with ties to the FIRST index (the [[nearestCentroid]]
    * array_position rule), update is the unnormalized mean, and an empty
    * centroid keeps its previous position — the exact semantics of the
    * distributed loop, minus the per-iteration Spark job.
    */
  private def kmeansLocal(sample: Array[Array[Double]], nCentroids: Int,
      iters: Int): Array[Array[Double]] = {
    val seeds = sample.take(nCentroids).map(_.clone())
    val dims = seeds.headOption.map(_.length).getOrElse(0)
    (0 until iters).foldLeft(seeds) { (cents, _) =>
      val cNorms = cents.map(c => math.sqrt(c.map(x => x * x).sum))
      val sums = Array.fill(cents.length, dims)(0.0)
      val counts = new Array[Long](cents.length)
      sample.foreach { v =>
        var best = 0
        var bestS = Double.NegativeInfinity
        var i = 0
        while (i < cents.length) {
          var dot = 0.0
          var j = 0
          while (j < dims) { dot += v(j) * cents(i)(j); j += 1 }
          // |v| is per-row constant under the argmax; guard |c| = 0
          val s = if (cNorms(i) == 0.0) 0.0 else dot / cNorms(i)
          if (s > bestS) { bestS = s; best = i }
          i += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dims) { sums(best)(j) += v(j); j += 1 }
      }
      Array.tabulate(cents.length) { i =>
        if (counts(i) == 0L) cents(i) else sums(i).map(_ / counts(i))
      }
    }
  }

  def ivfTopK(spark: SparkSession, df: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, qVecCol: String, qIdCol: String,
      k: Int, nCentroids: Int = 16, nProbe: Int = 4, lloydIters: Int = 2): DataFrame = {
    val centroids = kmeansCentroids(df, vecCol, idCol, nCentroids, lloydIters)

    // nearest-centroid assignment: argmax over the literal centroid array,
    // in one narrow projection
    val assigned = df
      .withColumn("__cid", nearestCentroid(col(vecCol), centroids))
      .select(col(idCol), col(vecCol), col("__cid"))

    // queries probe their nProbe highest-similarity centroids: sort the
    // (sim, cid) struct array descending, slice, explode — still columnar
    val qSims = array(centroids.zipWithIndex.toIndexedSeq.map { case (c, i) =>
      struct(VectorFunctions.cosine(col(qVecCol), array(c.toIndexedSeq.map(lit(_)): _*)).as("s"),
        lit(i).as("cid"))
    }: _*)
    val probes = queries
      .withColumn("__probe", explode(slice(reverse(array_sort(qSims)), 1, nProbe)))
      .select(col(qIdCol), col(qVecCol), col("__probe.cid").as("__cid"))

    val cands = assigned.join(broadcast(probes), Seq("__cid"))
      .withColumn("cosine_sim", round(VectorFunctions.cosine(col(vecCol), col(qVecCol)), 6))
    val wTop = Window.partitionBy(col(qIdCol)).orderBy(col("cosine_sim").desc, col(idCol))
    cands.withColumn("__rank", row_number().over(wTop))
      .where(col("__rank") <= k)
      .select(col(qIdCol), col(idCol), col("cosine_sim"))
  }

  // ---- product quantization (Jegou/Douze/Schmid, TPAMI'11) -------------

  private def litArr(xs: Array[Double]): Column = array(xs.toIndexedSeq.map(lit(_)): _*)

  /** L2 argmin as an argmax: |v−c|² = |v|² − 2(v·c − |c|²/2), so the
    * nearest centroid maximizes v·c − |c|²/2 (|v|² is per-row constant).
    * Literal centroids + native dot kernels: one narrow projection.
    */
  private def l2Scores(v: Column, cents: Array[Array[Double]]): Column =
    array(cents.toIndexedSeq.map { c =>
      VectorFunctions.dot(v, litArr(c)) - lit(c.map(x => x * x).sum / 2.0)
    }: _*)

  private def nearestL2(v: Column, cents: Array[Array[Double]]): Column = {
    val s = l2Scores(v, cents)
    (array_position(s, array_max(s)) - 1).cast("int")
  }

  /** Deterministic per-subspace L2 k-means codebooks, `[m][c][dim/m]`.
    * Codebooks train on a BOUNDED deterministic sample — the `trainSample`
    * vectors with the smallest hashed id, one TakeOrdered job — with the
    * Lloyd iterations running driver-side on that sample (standard PQ
    * practice: codebooks come from a ~10^4-10^6 vector sample, never the
    * full corpus — at 100 TB this is the difference between one bounded
    * scan and 2·m full-corpus aggregation jobs; encode and rescoring stay
    * fully distributed). Seeds = the first c sampled subvectors; an empty
    * cluster keeps its previous centroid; assignment ties keep the first
    * index — the same rules as [[kmeansCentroids]].
    */
  def pqCodebooks(df: DataFrame, vecCol: String, idCol: String, dim: Int,
      m: Int, c: Int, lloydIters: Int = 2,
      trainSample: Int = 16384): Array[Array[Array[Double]]] = {
    require(m > 0 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    require(trainSample >= c, s"trainSample $trainSample < c=$c")
    val subDim = dim / m
    val sample: Array[Array[Double]] = df
      .select(col(vecCol).cast("array<double>").as("__v"), col(idCol).as("__sid"))
      .orderBy(xxhash64(col("__sid")), col("__sid"))
      .limit(trainSample).collect().map(_.getSeq[Double](0).toArray)
    pqCodebooksLocal(sample, dim, m, c, lloydIters)
  }

  /** [[pqCodebooks]] from an in-memory sample (already collected). */
  def pqCodebooksLocal(sample: Array[Array[Double]], dim: Int, m: Int, c: Int,
      lloydIters: Int): Array[Array[Array[Double]]] = {
    val subDim = dim / m
    Array.tabulate(m) { sub =>
      val subVecs = sample.map(_.slice(sub * subDim, (sub + 1) * subDim))
      localKmeans(subVecs, c, lloydIters, spherical = false)
    }
  }

  /** Driver-side Lloyd — `spherical = false`: L2 assignment via the
    * dot − |c|²/2 argmax; `spherical = true`: cosine argmax, matching
    * [[nearestCentroid]]'s tie rule (first index wins). Empty clusters
    * keep their previous centroid. Seeds = the first c vectors.
    */
  private def localKmeans(vecs: Array[Array[Double]], c: Int, lloydIters: Int,
      spherical: Boolean): Array[Array[Double]] = {
    val dims = vecs.headOption.map(_.length).getOrElse(0)
    var cents = vecs.take(c).map(_.clone())
    for (_ <- 0 until lloydIters) {
      val sums = Array.fill(c)(new Array[Double](dims))
      val counts = new Array[Long](c)
      vecs.foreach { v =>
        var best = 0; var bestScore = Double.NegativeInfinity
        var j = 0
        while (j < cents.length) {
          var d = 0.0; var i = 0
          while (i < dims) { d += v(i) * cents(j)(i); i += 1 }
          val s =
            if (spherical) {
              val denom = math.sqrt(v.map(x => x * x).sum) *
                math.sqrt(cents(j).map(x => x * x).sum)
              if (denom > 0.0) d / denom else 0.0
            } else d - cents(j).map(x => x * x).sum / 2.0
          if (s > bestScore) { bestScore = s; best = j } // first index wins ties
          j += 1
        }
        var i = 0
        while (i < dims) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1L
      }
      cents = Array.tabulate(cents.length) { j =>
        if (counts(j) == 0L) cents(j)
        else sums(j).map(_ / counts(j))
      }
    }
    cents
  }

  /** PQ codes: `array<int>` of length m — dim floats compress to m small
    * ints (32× at dim=64, m=8, 8-bit codes). One codegen'd projection;
    * persist the (id, code) frame and search THAT.
    */
  def pqEncode(v: Column, books: Array[Array[Array[Double]]]): Column = {
    val subDim = books.head.head.length
    array(books.zipWithIndex.toIndexedSeq.map { case (cents, sub) =>
      nearestL2(slice(v.cast("array<double>"), sub * subDim + 1, subDim), cents)
    }: _*)
  }

  /** Query-side ADC tables for PQ codebooks: per subspace, the query's
    * partial dot with each centroid (`dot`) and each centroid's partial
    * square norm (`nrm`), plus the query norm.
    */
  private final case class AdcTables(dot: Array[Array[Double]],
      nrm: Array[Array[Double]], qNorm: Double)

  private def adcTables(books: Array[Array[Array[Double]]],
      query: Array[Double]): AdcTables = {
    val subDim = books.head.head.length
    require(query.length == books.length * subDim,
      s"PQ search: query has ${query.length} dimensions but the codebooks " +
        s"cover ${books.length * subDim} (${books.length} subspaces of $subDim)")
    AdcTables(
      dot = books.zipWithIndex.map { case (cents, sub) =>
        cents.map(cent => (0 until subDim).map(i => query(sub * subDim + i) * cent(i)).sum)
      },
      nrm = books.map(_.map(cent => cent.map(x => x * x).sum)),
      qNorm = l2Norm(query))
  }

  /** Sum over the `m` subspaces of `tab(sub)(codes(sub))` — one ADC table
    * lookup per code, as a Spark column.
    */
  private def adcLookupSum(tab: Column, codes: Column, m: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0), (acc, i) =>
      acc + element_at(element_at(tab, i + 1), element_at(codes, i + 1) + 1))

  /** ADC cosine surrogate of one code against the query: dot over
    * sqrt(square norm) of the reconstruction, 0 when degenerate.
    */
  private def adcScore(t: AdcTables, code: Array[Int]): Double = {
    var d = 0.0; var n2 = 0.0
    var sub = 0
    while (sub < code.length) {
      d += t.dot(sub)(code(sub)); n2 += t.nrm(sub)(code(sub))
      sub += 1
    }
    val denom = t.qNorm * math.sqrt(n2)
    if (denom > 1e-12) d / denom else 0.0
  }

  /** Asymmetric-distance top-k from CODES ONLY — the 100 TB rescoring
    * path: the scan reads m ints per row, never the embedding column.
    * Score ≈ cos(query, reconstruction) via two m-lookups into literal
    * per-subspace tables (query·centroid partial dots and centroid partial
    * square-norms); top-k is a TakeOrdered, no shuffle of the codes.
    */
  def pqTopKEncoded(encoded: DataFrame, codeCol: String, idCol: String,
      books: Array[Array[Array[Double]]], query: Array[Double], k: Int): DataFrame = {
    val t = adcTables(books, query)
    val dotLit = array(t.dot.map(litArr).toIndexedSeq: _*)
    val nrmLit = array(t.nrm.map(litArr).toIndexedSeq: _*)
    def lookupSum(tab: Column): Column = adcLookupSum(tab, col(codeCol), books.length)
    // greatest(ε, ·): a row whose codes all hit zero-norm centroids (a
    // degenerate/empty training sample) would otherwise score NaN and sort
    // nondeterministically — the guard pins such rows to score 0, ranked
    // after any real match, deterministically
    encoded.select(col(idCol),
        round(lookupSum(dotLit) /
          greatest(lit(1e-12), lit(t.qNorm) * sqrt(lookupSum(nrmLit))), 6).as("pq_sim"))
      .orderBy(col("pq_sim").desc, col(idCol))
      .limit(k)
  }

  /** One-call PQ ANN: train codebooks, encode, ADC top-k. Approximate by
    * construction (quantization error) — compare against brute force in
    * tests, not an oracle.
    */
  def pqTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Double], k: Int, dim: Int, m: Int = 8, c: Int = 16,
      lloydIters: Int = 2): DataFrame = {
    val books = pqCodebooks(df, vecCol, idCol, dim, m, c, lloydIters)
    pqTopKEncoded(df.select(col(idCol), pqEncode(col(vecCol), books).as("__code")),
      "__code", idCol, books, query, k)
  }

  /** IVF-PQ — the canonical billion-scale ANN layout (FAISS's IVFADC;
    * Jégou et al. TPAMI'11 §V): vectors assign to a coarse cell
    * ([[kmeansCentroids]]) and only the RESIDUAL vector − centroid is
    * PQ-coded, so the codes spend their bits on within-cell detail. A
    * query probes its `nProbe` highest-similarity cells and ADC-scores
    * dot(q, centroid) + dot(q, residual-reconstruction), both from
    * literal lookup tables — the probe scan reads (cell, m codes) per
    * row, never the embedding column. Codebooks train on the bounded
    * [[pqCodebooks]] sample of residuals; everything downstream of the
    * two TakeOrdered sample jobs is one narrow projection + one
    * cell-filtered scored scan.
    */
  def ivfPqTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Double], k: Int, dim: Int, nCentroids: Int = 16,
      nProbe: Int = 4, m: Int = 8, c: Int = 16, lloydIters: Int = 2,
      trainSample: Int = 16384): DataFrame = {
    require(m > 0 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val (cents, books) = ivfPqTrain(df, vecCol, idCol, dim, nCentroids, m, c,
      lloydIters, trainSample)
    val encoded = ivfPqEncode(df, vecCol, idCol, cents, books)
    // query-side: probe cells via the shared [[ivfProbeCids]] (one probe
    // rule across ivfPqTopK / ivfPqTopKWithModel / the stored tier —
    // including its zero-norm guard), then ADC over residual codes plus
    // the exact query-centroid dot per cell
    val probed = ivfProbeCids(query, cents, nProbe)
    ivfPqAdcScores(encoded.where(col("cid").isInCollection(probed)),
        idCol, cents, books, query)
      .orderBy(col("ivfpq_score").desc, col(idCol))
      .limit(k)
  }

  /** Train an IVF-PQ model — coarse spherical centroids AND residual PQ
    * codebooks, both from ONE bounded hashed-id sample, driver-side
    * ([[ivfPqTopK]]'s training job, exposed so the stored tier and
    * pretrained bootstraps share it): Lloyd-refine `nCentroids` spherical
    * centroids on the sample, assign each sample vector to its
    * cosine-argmax cell, and train per-subspace codebooks on the
    * RESIDUAL vector − centroid.
    */
  def ivfPqTrain(df: DataFrame, vecCol: String, idCol: String, dim: Int,
      nCentroids: Int = IvfCellsAuto, m: Int = 8, c: Int = 16,
      lloydIters: Int = 2,
      trainSample: Int = 16384): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    require(m > 0 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    // the offline-training path a streaming bootstrap takes: the same
    // auto-geometry rule applies here, so a pretrained empty-corpus
    // bootstrap built from this model inherits the measured ~√N cells
    val nCells = resolveIvfCells(df, nCentroids, trainSample, "ivfPqTrain")
    val sample = df
      .select(col(vecCol).cast("array<double>").as("__v"), col(idCol).as("__sid"))
      .orderBy(xxhash64(col("__sid")), col("__sid"))
      .limit(trainSample).collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty,
      "ivfPqTrain: empty corpus — bootstrap with a pretrained model")
    val cents = localKmeans(sample, nCells, lloydIters, spherical = true)
    def cellOf(v: Array[Double]): Int = {
      var best = 0; var bestScore = Double.NegativeInfinity
      var j = 0
      while (j < cents.length) {
        var d = 0.0; var i = 0
        while (i < v.length) { d += v(i) * cents(j)(i); i += 1 }
        val denom = math.sqrt(v.map(x => x * x).sum) *
          math.sqrt(cents(j).map(x => x * x).sum)
        val s = if (denom > 0.0) d / denom else 0.0
        if (s > bestScore) { bestScore = s; best = j }
        j += 1
      }
      best
    }
    val residualSample = sample.map { v =>
      val cent = cents(cellOf(v))
      Array.tabulate(v.length)(i => v(i) - cent(i))
    }
    (cents, pqCodebooksLocal(residualSample, dim, m, c, lloydIters))
  }

  /** Encode `(id, cid, codes)` against a FROZEN IVF-PQ model —
    * cosine-argmax coarse cell, residual PQ codes — in ONE data scan as a
    * typed per-partition kernel. A columnar formulation would inline the
    * residual expression into every one of the m×c code dot products
    * (Catalyst substitutes, it doesn't let-bind), blowing the generated
    * method past codegen limits — plain JVM loops over the captured
    * codebook arrays are both smaller and faster here; the (id, cid,
    * codes) frame they produce is columnar for the scoring scan.
    */
  private[operators] def ivfPqEncode(df: DataFrame, vecCol: String,
      idCol: String, cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]]): DataFrame = {
    val subDim0 = books.head.head.length
    val session = df.sparkSession
    import session.implicits._
    val centsB = cents
    val booksB = books
    // row-invariant norms precomputed ONCE and captured by the closure —
    // never recomputed (or re-allocated) inside the per-row loops
    val centNorms = cents.map(cent => math.sqrt(cent.map(x => x * x).sum))
    val halfCbNorms = books.map(_.map(cb => cb.map(x => x * x).sum / 2.0))
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        it.map { case (id, vSeq) =>
          val v = vSeq.toArray
          // coarse cell: cosine argmax, first index wins (nearestCentroid's rule)
          var cell = 0; var bestScore = Double.NegativeInfinity
          var vSq = 0.0
          var vi = 0
          while (vi < v.length) { vSq += v(vi) * v(vi); vi += 1 }
          val vNorm = math.sqrt(vSq)
          var j = 0
          while (j < centsB.length) {
            var d = 0.0; var i = 0
            while (i < v.length) { d += v(i) * centsB(j)(i); i += 1 }
            val denom = vNorm * centNorms(j)
            val s = if (denom > 0.0) d / denom else 0.0
            if (s > bestScore) { bestScore = s; cell = j }
            j += 1
          }
          val cent = centsB(cell)
          val codes = new Array[Int](booksB.length)
          var sub = 0
          while (sub < booksB.length) {
            val off = sub * subDim0
            var best = 0; var bs = Double.NegativeInfinity
            var cj = 0
            while (cj < booksB(sub).length) {
              val cb = booksB(sub)(cj)
              var s = 0.0; var i = 0
              while (i < subDim0) { s += (v(off + i) - cent(off + i)) * cb(i); i += 1 }
              s -= halfCbNorms(sub)(cj)
              if (s > bs) { bs = s; best = cj }
              cj += 1
            }
            codes(sub) = best
            sub += 1
          }
          (id, cell, codes)
        }
      }.toDF(idCol, "cid", "codes")
  }

  /** ADC scores of an encoded `(id, cid, codes)` frame against `query`:
    * score = dot(q, centroid + recon(residual)) / |q| — the standard
    * IVFADC inner-product surrogate (vector norms quantize away; ranking
    * quality is the recall law's concern, not absolute cosine). Both
    * lookups are literal per-subspace tables; the scan reads (cid,
    * m small ints) per row, never the embedding column.
    */
  private[operators] def ivfPqAdcScores(encoded: DataFrame, idCol: String,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      query: Array[Double]): DataFrame = {
    val t = adcTables(books, query)
    val qCentDot = cents.map(_.zip(query).map { case (a, b) => a * b }.sum)
    val dotLit = array(t.dot.map(litArr).toIndexedSeq: _*)
    val qcLit = litArr(qCentDot)
    encoded.select(col(idCol),
      round((element_at(qcLit, col("cid") + 1) +
        adcLookupSum(dotLit, col("codes"), books.length)) / lit(t.qNorm), 6)
        .as("ivfpq_score"))
  }

  // ---- graph ANN: one in-memory kernel for the NSW and HNSW tiers -------
  //
  // Both tiers run Malkov & Yashunin's HNSW (TPAMI'20) per hash shard,
  // nodes entering in ascending-id order, and differ in two rules only
  // (GraphTier): the LEVEL rule (NSW: every node on layer 0, the flat
  // navigable small world of IS'14; HNSW: an id-hashed level) and the
  // SEED rule (NSW: the layer-0 beam starts from nswEntries spread over
  // the shard; HNSW: greedy ef = 1 descent from the top-level node). With
  // every level at 0 an insert starts at node 0 with no descent and a 2m
  // cap — exactly flat NSW construction — so every verb below serves both.
  //
  // CANONICAL NEIGHBOR ORDER: adjacency buffers stay sorted by local
  // index (appending a new max index keeps the order; prunes re-sort).
  // Beam results depend on neighbor order at the margin, so this is what
  // makes the fused search, a reloaded index (persisted lists are
  // id-sorted) and the replayed insert loop agree structurally.

  private type Layers = Array[Array[scala.collection.mutable.ArrayBuffer[Int]]]

  /** One graph tier: its stored adjacency column (NSW: flat `nbr_ids`
    * `array<long>`; HNSW: `layer_nbrs` `array<array<long>>`, one list
    * per layer up to the node's level), its output column prefix and its
    * level and seed rules.
    */
  private final case class GraphTier(name: String, nbrCol: String, layered: Boolean) {
    def simCol: String = s"${name}_sim"

    /** Level rule: layer 0 for every NSW node; [[hnswLevel]] with
      * mL = 1/ln m for HNSW.
      */
    def level(id: Long, m: Int): Int =
      if (layered) hnswLevel(id, 1.0 / math.log(math.max(2, m))) else 0

    /** Layer-0 beam search of one loaded shard from this tier's seeds
      * (`entryCount` spread entries for NSW; the greedy descent from the
      * top-level entry for HNSW, which routes through tombstoned nodes
      * too — `eligible` gates only what the layer-0 beam returns).
      */
    def search(score: Int => Double, layers: Layers, levels: Array[Int], ef: Int,
        entryCount: Int, eligible: Int => Boolean = _ => true): Array[(Int, Double)] = {
      val n = levels.length
      val seeds =
        if (layered) {
          val entry = levels.indexOf(levels.max)
          Array(descend(score, layers, entry, levels(entry), 0, n))
        } else nswEntries(n, entryCount)
      beam(score, layers(0), seeds, ef, n, eligible)
    }

    /** The stored adjacency as layers; a flat list is its one layer. */
    def readLayers: Column =
      if (layered) col(nbrCol).cast("array<array<long>>")
      else array(col(nbrCol).cast("array<long>"))

    /** Store `nbrCol` (emitted as layers) in this tier's layout. */
    def storeLayout(df: DataFrame): DataFrame =
      if (layered) df else df.withColumn(nbrCol, col(nbrCol).getItem(0))

    /** Node `j`'s per-layer neighbor ids. The flat tier re-sorts its list
      * by local index on the way out; a reloaded list keeps its stored
      * order otherwise, which only differs after an interleaved-id insert.
      */
    def layerIds(layers: Layers, levels: Array[Int], id: Int => Long, j: Int): Seq[Seq[Long]] =
      (0 to levels(j)).map { l =>
        val ns = layers(l)(j).toArray
        (if (layered) ns else ns.sorted).toSeq.map(id)
      }
  }
  private val NswTier = GraphTier("nsw", "nbr_ids", layered = false)
  private val HnswTier = GraphTier("hnsw", "layer_nbrs", layered = true)

  /** Cosine similarity of local vector `i` against `q` (norms precomputed);
    * zero-norm rows score 0 (ranked last, deterministically).
    */
  private def simTo(vecs: Array[Array[Double]], norms: Array[Double],
      i: Int, q: Array[Double], qNorm: Double): Double = {
    val v = vecs(i)
    var d = 0.0; var j = 0
    while (j < v.length) { d += v(j) * q(j); j += 1 }
    val denom = norms(i) * qNorm
    if (denom > 0.0) d / denom else 0.0
  }

  /** The raw-vector node score: cosine of each local node against `q`. */
  private def rawScore(vecs: Array[Array[Double]], norms: Array[Double],
      q: Array[Double]): Int => Double = {
    require(q.length == vecs(0).length,
      s"graph search: query has ${q.length} dimensions but the indexed " +
        s"vectors have ${vecs(0).length}")
    val qNorm = l2Norm(q)
    i => simTo(vecs, norms, i, q, qNorm)
  }

  /** Deterministic multi-entry seeds for a shard of `n` nodes: `h` local
    * indices spread evenly across the id-sorted range (0, n/h, 2n/h, …).
    * A single fixed entry on a layer-0-only graph degrades recall as the
    * shard grows (exactly what HNSW's upper layers fix); seeding the beam
    * from several spread-out nodes recovers the multi-start effect with
    * no extra stored structure and stays fully deterministic.
    */
  private def nswEntries(n: Int, h: Int): Array[Int] = {
    val k = math.max(1, math.min(h, n))
    Array.tabulate(k)(j => ((j.toLong * n) / k).toInt).distinct
  }

  /** Deterministic HNSW level for a node id: the standard
    * floor(-ln(u)·mL) draw with u derived from a splitmix64 hash of the id
    * — stable across runs, shards, and physical layouts (no RNG state).
    * Capped at 12 (a 10M-node shard at m=8 tops out around level 7).
    */
  private def hnswLevel(id: Long, mL: Double): Int = {
    var z = id + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    val u = ((z >>> 11) + 0.5) / (1L << 53).toDouble // (0, 1)
    math.min((-math.log(u) * mL).toInt, 12)
  }

  /** The one beam search over one layer — HNSW's SEARCH-LAYER: expand the
    * best unexpanded candidate, keep the `ef` best results, stop when the
    * best candidate is worse than the worst kept result. Ties break toward
    * the smaller local index. Returns up to `ef` (index, sim) pairs, best
    * first, over the first `bound` nodes (the construction prefix).
    *
    * `eligible` gates the RESULT heap only (tombstones under
    * [[nswDeleteFromBuilt]]): an ineligible node is still visited, scored
    * and expanded — a routing waypoint — but never returned; the cutoff
    * stays off until `ef` eligible results exist.
    */
  private def beam(score: Int => Double,
      adj: Array[scala.collection.mutable.ArrayBuffer[Int]], entries: Array[Int],
      ef: Int, bound: Int,
      eligible: Int => Boolean = _ => true): Array[(Int, Double)] = {
    // max-heap on (sim, smaller-index-wins)
    val better = Ordering.by[(Int, Double), (Double, Int)] { case (i, s) => (s, -i) }
    val cand = scala.collection.mutable.PriorityQueue.empty[(Int, Double)](better)
    val res = scala.collection.mutable.PriorityQueue.empty[(Int, Double)](better.reverse)
    val visited = new java.util.BitSet(bound)
    entries.foreach { entry =>
      if (entry < bound && !visited.get(entry)) {
        visited.set(entry)
        val es = score(entry)
        cand.enqueue((entry, es))
        if (eligible(entry)) {
          res.enqueue((entry, es))
          if (res.size > ef) res.dequeue()
        }
      }
    }
    while (cand.nonEmpty) {
      val (c, cs) = cand.dequeue()
      if (res.size >= ef && better.lt((c, cs), res.head)) {
        cand.clear() // best remaining candidate can't improve the result set
      } else {
        val ns = adj(c)
        var t = 0
        while (t < ns.length) {
          val n = ns(t)
          if (n < bound && !visited.get(n)) {
            visited.set(n)
            val s = score(n)
            if (res.size < ef || better.gt((n, s), (res.head._1, res.head._2))) {
              cand.enqueue((n, s))
              if (eligible(n)) {
                res.enqueue((n, s))
                if (res.size > ef) res.dequeue()
              }
            }
          }
          t += 1
        }
      }
    }
    res.dequeueAll.toArray.reverse // best first
  }

  /** Greedy ef = 1 descent from `cur` through layers `from` down to
    * `to + 1`, over the first `bound` nodes; returns the node layer `to`
    * is entered from.
    */
  private def descend(score: Int => Double, layers: Layers, cur: Int,
      from: Int, to: Int, bound: Int): Int = {
    var c = cur
    var l = from
    while (l > to) {
      c = beam(score, layers(l), Array(c), 1, bound).head._1
      l -= 1
    }
    c
  }

  /** The one insert step: greedy-descend from the entry through the
    * layers above node `i`'s level, then on each lower layer beam-search
    * the first `i` nodes and link `i` to its `m` nearest, bidirectionally;
    * a list past its cap (2m at layer 0, m above) is pruned back to its
    * cap nearest (the simple prune — determinism over the heuristic one).
    */
  private def insertNode(vecs: Array[Array[Double]], norms: Array[Double],
      layers: Layers, levels: Array[Int], entry: Int, top: Int, i: Int,
      m: Int, efConstruction: Int): Unit = {
    val score = rawScore(vecs, norms, vecs(i))
    var cur = descend(score, layers, entry, top, levels(i), i)
    var l = math.min(top, levels(i))
    while (l >= 0) {
      val adj = layers(l)
      val found = beam(score, adj, Array(cur), efConstruction, i)
      cur = found.head._1
      val cap = if (l == 0) 2 * m else m
      val nbrs = found.take(m).map(_._1)
      adj(i) ++= nbrs.sorted // canonical local-index order
      nbrs.foreach { nb =>
        adj(nb) += i // i exceeds every existing member: stays sorted
        if (adj(nb).length > cap) {
          val qNorm = norms(nb)
          val kept = adj(nb).toArray
            .map(x => (x, simTo(vecs, norms, x, vecs(nb), qNorm)))
            .sortBy { case (x, s) => (-s, x) }
            .take(cap).map(_._1)
          adj(nb).clear(); adj(nb) ++= kept.sorted
        }
      }
      l -= 1
    }
  }

  /** The one build loop: nodes `start until n` enter in index order on
    * top of the graph over `0 until start` (1 builds from scratch; the
    * replay starts past the carried nodes). The entry — the first node to
    * reach the top level — moves only on a strictly higher level, so a
    * replay continues the build node for node.
    */
  private def insertFrom(vecs: Array[Array[Double]], norms: Array[Double],
      layers: Layers, levels: Array[Int], start: Int, m: Int,
      efConstruction: Int): Unit = {
    var top = levels.iterator.take(start).max
    var entry = levels.indexOf(top)
    var i = start
    while (i < vecs.length) {
      insertNode(vecs, norms, layers, levels, entry, top, i, m, efConstruction)
      if (levels(i) > top) { entry = i; top = levels(i) }
      i += 1
    }
  }

  /** Resolve a persisted neighbor-id list against the shard's id→local-index
    * map. Every reference MUST resolve: built graphs are closed within a
    * shard, so a dangling id means the index is being searched with a
    * different `nParts` than it was built with — the hash re-split would
    * fragment every shard's graph and recall would collapse silently. Fail
    * loudly instead of dropping the edge.
    */
  private def resolveNbrs(id: Long, nbrs: Seq[Long],
      idx: scala.collection.Map[Long, Int]): scala.collection.mutable.ArrayBuffer[Int] = {
    val buf = new scala.collection.mutable.ArrayBuffer[Int](nbrs.length)
    nbrs.foreach { n =>
      idx.get(n) match {
        case Some(i) => buf += i
        case None => throw new IllegalArgumentException(
          s"NSW index shard: node $id references neighbor $n outside its shard — " +
          "the index is being searched with a different nParts than it was built " +
          "with (nswBuild and nswSearchBuilt/nswSearchCoded/nswInsertAgainst must " +
          "share nParts), or rows were dropped from the persisted index")
      }
    }
    buf
  }

  /** The one shard loader: `n` nodes on `levels`, of which the first
    * `carried.length` bring persisted (id, per-layer neighbor ids) lists,
    * resolved through `idx`; the rest start unlinked.
    */
  private def loadLayers(carried: Array[(Long, Seq[Seq[Long]])], n: Int,
      levels: Array[Int], idx: scala.collection.Map[Long, Int]): Layers = {
    val layers = Array.fill(levels.max + 1, n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    carried.indices.foreach { i =>
      carried(i)._2.indices.foreach { l =>
        layers(l)(i) = resolveNbrs(carried(i)._1, carried(i)._2(l), idx)
      }
    }
    layers
  }

  /** Hash-shard `df` by id and build each shard's graph in memory from
    * scratch, handing (rows, vectors, norms, layers, levels) to `emit`.
    */
  private def buildShards[T: org.apache.spark.sql.Encoder](tier: GraphTier,
      df: DataFrame, vecCol: String, idCol: String, nParts: Int, m: Int,
      efConstruction: Int)(emit: (Array[(Long, Seq[Double])], Array[Array[Double]],
        Array[Double], Layers, Array[Int]) => Iterator[T]): org.apache.spark.sql.Dataset[T] = {
    val session = df.sparkSession
    import session.implicits._
    df.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
      .repartition(nParts, col(idCol))
      .mapPartitions { it =>
        val rows = it.toArray.sortBy(_._1)
        if (rows.isEmpty) Iterator.empty
        else {
          val vecs = rows.map(_._2.toArray)
          val norms = vecs.map(l2Norm)
          val levels = rows.map(r => tier.level(r._1, m))
          val layers = loadLayers(Array.empty, rows.length, levels, Map.empty)
          insertFrom(vecs, norms, layers, levels, 1, m, efConstruction)
          emit(rows, vecs, norms, layers, levels)
        }
      }
  }

  /** Build every shard once and search each query of `qs` against it:
    * (qIdCol, idCol, __s) rows, up to k per query per shard.
    */
  private def fusedSearch(tier: GraphTier, df: DataFrame, vecCol: String,
      idCol: String, qs: Array[(Long, Array[Double])], qIdCol: String, k: Int,
      nParts: Int, m: Int, efConstruction: Int, efSearch: Int,
      entryCount: Int): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val kk = k
    buildShards(tier, df, vecCol, idCol, nParts, m, efConstruction) {
      (rows, vecs, norms, layers, levels) =>
        qs.iterator.flatMap { case (qid, q) =>
          tier.search(rawScore(vecs, norms, q), layers, levels,
              math.max(efSearch, kk), entryCount)
            .take(kk).iterator.map { case (i, s) => (qid, rows(i)._1, s) }
        }
    }.toDF(qIdCol, idCol, "__s")
  }

  private def fusedTopK(tier: GraphTier, df: DataFrame, vecCol: String,
      idCol: String, query: Array[Double], k: Int, nParts: Int, m: Int,
      efConstruction: Int, efSearch: Int, entryCount: Int): DataFrame =
    fusedSearch(tier, df, vecCol, idCol, Array((0L, query)), "__q", k, nParts,
        m, efConstruction, efSearch, entryCount)
      .select(col(idCol), round(col("__s"), 6).as(tier.simCol))
      .orderBy(col(tier.simCol).desc, col(idCol))
      .limit(k)

  private def fusedTopKJoin(tier: GraphTier, df: DataFrame, vecCol: String,
      idCol: String, queries: DataFrame, qVecCol: String, qIdCol: String, k: Int,
      nParts: Int, m: Int, efConstruction: Int, efSearch: Int, maxQueries: Int,
      entryCount: Int): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val qs: Array[(Long, Array[Double])] = queries
      .select(col(qIdCol).cast("long"), col(qVecCol).cast("array<double>"))
      .as[(Long, Seq[Double])]
      .limit(maxQueries + 1).collect().map { case (i, v) => (i, v.toArray) }
    require(qs.length <= maxQueries,
      s"${tier.name}TopKJoin query table exceeds maxQueries=$maxQueries — " +
        "batch the queries or raise the bound consciously")
    val w = Window.partitionBy(col(qIdCol)).orderBy(col("__s").desc, col(idCol))
    fusedSearch(tier, df, vecCol, idCol, qs, qIdCol, k, nParts, m,
        efConstruction, efSearch, entryCount)
      .withColumn("__rank", row_number().over(w))
      .where(col("__rank") <= k)
      .select(col(qIdCol), col(idCol), round(col("__s"), 6).as(tier.simCol))
  }

  /** Materialized graph: (id, vec, adjacency) rows per shard in the
    * tier's stored layout.
    */
  private def buildFrame(tier: GraphTier, df: DataFrame, vecCol: String,
      idCol: String, nParts: Int, m: Int, efConstruction: Int): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    tier.storeLayout(buildShards(tier, df, vecCol, idCol, nParts, m, efConstruction) {
      (rows, _, _, layers, levels) =>
        rows.indices.iterator.map { i =>
          (rows(i)._1, rows(i)._2, tier.layerIds(layers, levels, rows(_)._1, i))
        }
    }.toDF(idCol, vecCol, tier.nbrCol))
  }

  /** The one stored-shard search: re-shard an index by id (the SAME
    * `nParts` restores each shard's graph), load each shard and search it
    * with the node score `scorer` derives from the payload column.
    * Tombstones (`nsw_deleted`) are never returned but still route.
    */
  private def searchStored[P: scala.reflect.runtime.universe.TypeTag: scala.reflect.ClassTag](
      tier: GraphTier, index: DataFrame, payload: Column, idCol: String,
      simCol: String, k: Int, nParts: Int, efSearch: Int, entryCount: Int)(
      scorer: Array[P] => Int => Double): DataFrame = {
    val session = index.sparkSession
    import session.implicits._
    val kk = k
    val delCol = (if (index.columns.contains("nsw_deleted")) col("nsw_deleted")
      else lit(false)).cast("boolean").as("__del")
    index.select(col(idCol).cast("long"), payload, tier.readLayers, delCol)
      .as[(Long, P, Seq[Seq[Long]], Boolean)]
      .repartition(nParts, col(idCol))
      .mapPartitions { it =>
        val rows = it.toArray.sortBy(_._1)
        if (rows.isEmpty) Iterator.empty
        else {
          val idx = rows.iterator.map(_._1).zipWithIndex.toMap
          val levels = rows.map(_._3.length - 1)
          val layers = loadLayers(rows.map(r => (r._1, r._3)), rows.length, levels, idx)
          val alive = rows.map(r => !r._4)
          tier.search(scorer(rows.map(_._2)), layers, levels, math.max(efSearch, kk),
              entryCount, i => alive(i))
            .take(kk).iterator.map { case (i, s) => (rows(i)._1, s) }
        }
      }
      .toDF(idCol, "__s")
      .select(col(idCol), round(col("__s"), 6).as(simCol))
      .orderBy(col(simCol).desc, col(idCol))
      .limit(k)
  }

  private def searchBuilt(tier: GraphTier, index: DataFrame, vecCol: String,
      idCol: String, query: Array[Double], k: Int, nParts: Int, efSearch: Int,
      entryCount: Int): DataFrame = {
    val q = query
    searchStored[Seq[Double]](tier, index, col(vecCol).cast("array<double>"), idCol,
        tier.simCol, k, nParts, efSearch, entryCount) { ps =>
      val vecs = ps.map(_.toArray)
      rawScore(vecs, vecs.map(l2Norm), q)
    }
  }

  /** Codes-only search by ADC lookups ([[adcScore]], tables built once
    * on the driver): m ints per visited node, never a vector.
    */
  private def searchCoded(tier: GraphTier, coded: DataFrame, idCol: String,
      books: Array[Array[Array[Double]]], query: Array[Double], k: Int,
      nParts: Int, efSearch: Int, entryCount: Int): DataFrame = {
    val t = adcTables(books, query)
    searchStored[Seq[Int]](tier, coded, col("pq_code").cast("array<int>"), idCol,
        s"${tier.name}_pq_sim", k, nParts, efSearch, entryCount) { ps =>
      val codes = ps.map(_.toArray)
      i => adcScore(t, codes(i))
    }
  }

  /** The one insert replay: each shard loads its carried graph as the
    * local prefix and runs the build loop over the new nodes after it,
    * emitting the grown graph with an `nsw_changed` flag (new nodes, and
    * nodes whose adjacency on any layer differs from the carried one).
    */
  private def insertFlagged(tier: GraphTier, index: DataFrame, newRows: DataFrame,
      vecCol: String, idCol: String, nParts: Int, m: Int,
      efConstruction: Int): DataFrame = {
    val session = index.sparkSession
    import session.implicits._
    val label = s"${tier.name}InsertAgainst"
    val old = index.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"),
      tier.readLayers.as("__nbrs"))
    val fresh = newRows.select(col(idCol).cast("long"), col(vecCol).cast("array<double>"),
      lit(null).cast("array<array<long>>").as("__nbrs"))
    tier.storeLayout(old.unionByName(fresh)
      .as[(Long, Seq[Double], Seq[Seq[Long]])]
      .repartition(nParts, col(idCol))
      .mapPartitions { it =>
        val all = it.toArray.sortBy(_._1)
        if (all.isEmpty) Iterator.empty
        else {
          val existing = all.filter(_._3 != null)
          val added = all.filter(_._3 == null)
          // locals 0..p-1 are the indexed rows in id order; the graph they
          // carry references only ids in this set (resolveNbrs enforces it)
          val rows = existing ++ added
          val idx = existing.iterator.map(_._1).zipWithIndex.toMap
          // NEW means new: a re-delivered batch (at-least-once ingest) would
          // otherwise emit duplicate-id rows and a silently corrupted index
          added.foreach { r =>
            if (idx.contains(r._1)) throw new IllegalArgumentException(
              s"$label: id ${r._1} is already in the index — newRows must " +
              "contain only unindexed ids (dedup the ingest batch against the index first)")
          }
          val levels = rows.map(r => tier.level(r._1, m))
          // HNSW levels depend on m: a persisted level that disagrees with
          // the re-derived one means this call's m differs from the
          // build's — the same contract breach as a mismatched nParts
          existing.indices.foreach { i =>
            if (existing(i)._3.length - 1 != levels(i)) throw new IllegalArgumentException(
              s"$label: node ${existing(i)._1} was built at level " +
              s"${existing(i)._3.length - 1} but m=$m derives level ${levels(i)} — " +
              s"the insert must use the SAME m as the original ${tier.name}Build")
          }
          val vecs = rows.map(_._2.toArray)
          val norms = vecs.map(l2Norm)
          val layers = loadLayers(existing.map(r => (r._1, r._3)), rows.length, levels, idx)
          // node 0 of an all-new shard has no prefix to insert into
          insertFrom(vecs, norms, layers, levels, math.max(existing.length, 1), m,
            efConstruction)
          rows.indices.iterator.map { j =>
            val ls = tier.layerIds(layers, levels, rows(_)._1, j)
            // changed ⇔ new node or any layer's final list differs from the
            // carried one (compared order-free, so layout-proof)
            val changed = j >= existing.length || {
              val orig = existing(j)._3
              ls.length != orig.length || ls.indices.exists(l =>
                !java.util.Arrays.equals(ls(l).toArray.sorted, orig(l).toArray.sorted))
            }
            (rows(j)._1, rows(j)._2, ls, changed)
          }
        }
      }
      .toDF(idCol, vecCol, tier.nbrCol, "nsw_changed"))
  }

  /** [[insertFlagged]] restricted to the rows the insert TOUCHED — each
    * new node relinks at most `m` nodes per layer, so O(|batch|·m) rows
    * regardless of index size: the delta segment stored appends persist.
    */
  private def insertDelta(tier: GraphTier, index: DataFrame, newRows: DataFrame,
      vecCol: String, idCol: String, nParts: Int, m: Int,
      efConstruction: Int): DataFrame =
    insertFlagged(tier, index, newRows, vecCol, idCol, nParts, m, efConstruction)
      .where(col("nsw_changed")).drop("nsw_changed")

  /** Partitioned NSW graph ANN — the high-recall/low-latency serving
    * layout alongside IVF-PQ: vectors hash-shard into `nParts` independent
    * flat graphs, a query beam-searches every shard from `entryCount`
    * spread seeds and the per-shard top-k merge by a TakeOrdered.
    * Deterministic across runs and layouts (ascending-id insertion,
    * smaller-id ties). The shard is the serving-RAM unit: size `nParts` so
    * one shard's vectors + adjacency fit an executor. Recall laws live in
    * ApproxOpsSpec.
    */
  def nswTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Double], k: Int, nParts: Int = 4, m: Int = 8,
      efConstruction: Int = 64, efSearch: Int = 64, entryCount: Int = 4): DataFrame =
    fusedTopK(NswTier, df, vecCol, idCol, query, k, nParts, m, efConstruction,
      efSearch, entryCount)

  /** [[nswTopK]] for a TABLE of query vectors: the queries collect to the
    * driver (bounded by `maxQueries` — the same small-Q contract as
    * [[bruteForceTopKJoin]]'s broadcast) and every shard searches each
    * query against its one graph build; per-query shard results merge by
    * a window rank. Output (qIdCol, idCol, nsw_sim).
    */
  def nswTopKJoin(df: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, qVecCol: String, qIdCol: String, k: Int,
      nParts: Int = 4, m: Int = 8, efConstruction: Int = 64,
      efSearch: Int = 64, maxQueries: Int = 4096, entryCount: Int = 4): DataFrame =
    fusedTopKJoin(NswTier, df, vecCol, idCol, queries, qVecCol, qIdCol, k,
      nParts, m, efConstruction, efSearch, maxQueries, entryCount)

  /** Materialized NSW adjacency — (id, vec, nbr_ids) rows per shard, the
    * persistable serving index. Search with [[nswSearchBuilt]] using the
    * SAME `nParts` (hash co-location restores each shard's graph).
    */
  def nswBuild(df: DataFrame, vecCol: String, idCol: String,
      nParts: Int = 4, m: Int = 8, efConstruction: Int = 64): DataFrame =
    buildFrame(NswTier, df, vecCol, idCol, nParts, m, efConstruction)

  /** Codes-only serving index from a [[nswBuild]] result: the raw vector
    * column is REPLACED by its PQ code (dim doubles → m small ints, the
    * same 32x trade as [[pqTopKEncoded]]), keeping only
    * (id, pq_code, nbr_ids) — the graph was built on true distances, the
    * stored index carries none. Search with [[nswSearchCoded]] and the
    * same codebooks.
    */
  def nswEncodeIndex(index: DataFrame, vecCol: String, idCol: String,
      books: Array[Array[Array[Double]]]): DataFrame =
    index.select(col(idCol), pqEncode(col(vecCol), books).as("pq_code"),
      col(NswTier.nbrCol))

  /** Beam-search a codes-only [[nswEncodeIndex]] shard set by ADC lookups
    * (the [[pqTopKEncoded]] cosine surrogate). Approximate twice over
    * (graph greediness + quantization); the planted-needle law pins that
    * an exact copy of the query still surfaces. Output (idCol, nsw_pq_sim).
    */
  def nswSearchCoded(coded: DataFrame, idCol: String,
      books: Array[Array[Array[Double]]], query: Array[Double], k: Int,
      nParts: Int = 4, efSearch: Int = 64, entryCount: Int = 4): DataFrame =
    searchCoded(NswTier, coded, idCol, books, query, k, nParts, efSearch, entryCount)

  /** Beam-search a [[nswBuild]] index: same `nParts` re-shards the rows
    * into the graphs they were built in; emits the global top-k. The beam
    * seeds exactly as the fused [[nswTopK]] does, so the two agree
    * (equality law in ApproxOpsSpec).
    */
  def nswSearchBuilt(index: DataFrame, vecCol: String, idCol: String,
      query: Array[Double], k: Int, nParts: Int = 4,
      efSearch: Int = 64, entryCount: Int = 4): DataFrame =
    searchBuilt(NswTier, index, vecCol, idCol, query, k, nParts, efSearch, entryCount)

  /** Incremental index maintenance — insert a batch of NEW vectors into a
    * persisted [[nswBuild]] index without rebuilding the shard graphs (the
    * `Dedup.exactAgainst` daily-ingest contract; SAME `nParts`/`m`/
    * `efConstruction` as the build). One shuffle of (index rows + new
    * rows); each shard replays the build loop over just the new nodes.
    * When every new id exceeds every indexed id (append-only ingest) the
    * result is IDENTICAL to `nswBuild(old ∪ new)` (equality law in
    * ApproxOpsSpec, gate row q_ann_nsw_incr); interleaved ids still give a
    * valid graph. Ids already in the index (tombstoned waypoints
    * included) are refused. Extend a codes-only index by [[pqEncode]]
    * against the stored, frozen codebooks.
    */
  def nswInsertAgainst(index: DataFrame, newRows: DataFrame, vecCol: String,
      idCol: String, nParts: Int = 4, m: Int = 8,
      efConstruction: Int = 64): DataFrame =
    insertFlagged(NswTier, index, newRows, vecCol, idCol, nParts, m, efConstruction)
      .drop("nsw_changed")

  /** Partitioned hierarchical NSW (full HNSW per hash shard) — the
    * large-shard serving layout: where [[nswTopK]] leans on multi-entry
    * seeding to hold recall as shards grow, the upper layers give the real
    * logarithmic skip structure, so one shard can be sized to the full
    * serving-RAM budget without efSearch inflation. Same determinism
    * contract and shuffle shape as [[nswTopK]].
    */
  def hnswTopK(df: DataFrame, vecCol: String, idCol: String,
      query: Array[Double], k: Int, nParts: Int = 4, m: Int = 8,
      efConstruction: Int = 64, efSearch: Int = 64): DataFrame =
    fusedTopK(HnswTier, df, vecCol, idCol, query, k, nParts, m, efConstruction,
      efSearch, entryCount = 1)

  /** [[hnswTopK]] for a TABLE of query vectors, under the same enforced
    * `maxQueries` bound as [[nswTopKJoin]]. Output (qIdCol, idCol, hnsw_sim).
    */
  def hnswTopKJoin(df: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, qVecCol: String, qIdCol: String, k: Int,
      nParts: Int = 4, m: Int = 8, efConstruction: Int = 64,
      efSearch: Int = 64, maxQueries: Int = 4096): DataFrame =
    fusedTopKJoin(HnswTier, df, vecCol, idCol, queries, qVecCol, qIdCol, k,
      nParts, m, efConstruction, efSearch, maxQueries, entryCount = 1)

  /** Materialized HNSW — (id, vec, layer_nbrs) rows per shard, where
    * `layer_nbrs(l)` is the node's layer-l neighbor ids and the array's
    * length encodes its level + 1. Search with [[hnswSearchBuilt]] using
    * the SAME `nParts`/`m` (levels re-derive from ids).
    */
  def hnswBuild(df: DataFrame, vecCol: String, idCol: String,
      nParts: Int = 4, m: Int = 8, efConstruction: Int = 64): DataFrame =
    buildFrame(HnswTier, df, vecCol, idCol, nParts, m, efConstruction)

  /** Beam-search a persisted [[hnswBuild]] index: the entry (first node
    * to reach the shard's top level) re-derives deterministically, so
    * results are identical to the fused [[hnswTopK]] (equality law in
    * ApproxOpsSpec). Tombstones never return but keep routing, upper
    * layers included.
    */
  def hnswSearchBuilt(index: DataFrame, vecCol: String, idCol: String,
      query: Array[Double], k: Int, nParts: Int = 4,
      efSearch: Int = 64): DataFrame =
    searchBuilt(HnswTier, index, vecCol, idCol, query, k, nParts, efSearch,
      entryCount = 1)

  /** Incremental maintenance for the hierarchical index, with
    * [[nswInsertAgainst]]'s contract and equality guarantee: levels are
    * id-derived and the entry only advances on a strictly higher level, so
    * an append-only batch replays the build loop node for node and the
    * result is IDENTICAL to `hnswBuild(old ∪ new)`. A mismatched `m` (the
    * persisted levels disagree with the re-derived ones) fails loudly.
    */
  def hnswInsertAgainst(index: DataFrame, newRows: DataFrame, vecCol: String,
      idCol: String, nParts: Int = 4, m: Int = 8,
      efConstruction: Int = 64): DataFrame =
    insertFlagged(HnswTier, index, newRows, vecCol, idCol, nParts, m, efConstruction)
      .drop("nsw_changed")

  /** Codes-only serving index from a [[hnswBuild]] result: (id, pq_code,
    * layer_nbrs). Search with [[hnswSearchCoded]] and the same codebooks.
    */
  def hnswEncodeIndex(index: DataFrame, vecCol: String, idCol: String,
      books: Array[Array[Array[Double]]]): DataFrame =
    index.select(col(idCol), pqEncode(col(vecCol), books).as("pq_code"),
      col(HnswTier.nbrCol))

  /** Beam-search a codes-only [[hnswEncodeIndex]] shard set: the upper-layer
    * descent and the layer-0 beam both score by ADC lookups, so full-size
    * shards get codes-only storage and logarithmic search together.
    * Output (idCol, hnsw_pq_sim).
    */
  def hnswSearchCoded(coded: DataFrame, idCol: String,
      books: Array[Array[Array[Double]]], query: Array[Double], k: Int,
      nParts: Int = 4, efSearch: Int = 64): DataFrame =
    searchCoded(HnswTier, coded, idCol, books, query, k, nParts, efSearch,
      entryCount = 1)

  /** Takedown for the persisted GRAPH indexes (either tier) —
    * HNSW-style tombstones: marks `ids` deleted in a built or codes-only
    * frame (a plain column join on `idCol`). A tombstoned node is never
    * RETURNED by the searches but is still traversed as a routing
    * waypoint, so connectivity through deleted nodes is preserved —
    * filtering rows would sever paths (and fails loudly at
    * [[resolveNbrs]], by design). Marks compose: re-deleting ORs into an
    * existing `nsw_deleted` column; never-indexed ids are a no-op.
    *
    * A node cannot be atomically swapped out of a graph the way a posting
    * or a code row can, so the physical removal — and any re-add of a
    * deleted id ([[nswInsertAgainst]] refuses present ids) — is the
    * maintenance-cadence REBUILD over the retained rows, the compaction
    * contract the segmented stores run on. The persisted form is the
    * stored tier ([[nswDeleteFromStored]] / [[nswCompactStored]]): a
    * takedown is one tiny mark segment behind an atomic flip, applied at
    * [[readNswIndex]] load through this very function.
    */
  def nswDeleteFromBuilt(index: DataFrame, ids: DataFrame,
      idCol: String = "vec_id"): DataFrame = {
    val base = if (index.columns.contains("nsw_deleted")) index
      else index.withColumn("nsw_deleted", lit(false))
    val marks = ids.toDF(idCol).select(col(idCol).cast("long")).distinct()
      .withColumn("__nsw_mark", lit(true))
    base.join(marks, Seq(idCol), "left")
      .withColumn("nsw_deleted",
        col("nsw_deleted") || coalesce(col("__nsw_mark"), lit(false)))
      .drop("__nsw_mark")
  }

  // ---- stored graph-ANN tier (round 15; delta appends round 16): the
  // nswBuild adjacency frame under the SAME log-structured segment layout
  // as the codes/postings indexes, so a graph TAKEDOWN is one tiny
  // mark-segment write + one atomic flip and a graph APPEND is one
  // O(|batch|·m) delta-segment write — never a caller-managed index
  // rewrite. Layout:
  //
  //   path/_graft_state.json    commit log (SegmentedStore)
  //   path/seg=N/graph          the full adjacency payload — exactly ONE
  //                             live (bootstrap and compaction are
  //                             commitReplaceAll)
  //   path/seg=K/graphdelta     one insert batch's TOUCHED rows (new
  //                             nodes + relinked neighbors), appended
  //                             (commitAppend); read-side last-writer-
  //                             wins per id over (graph ∪ deltas)
  //                             reassembles the grown graph
  //   path/seg=M/marks          one tombstone id-set per takedown —
  //                             appended (commitAppend), OR-composed at
  //                             read into `nsw_deleted` AFTER the LWW
  //                             fold (so a delta that relinked a deleted
  //                             waypoint cannot resurrect it)
  //
  // No coverage markers are needed (unlike the postings/codes deletes):
  // marks compose with any graph state because the fold is id-keyed and
  // applied last — and a re-add of a deleted id cannot slip past a stale
  // mark, since nswInsertAgainst refuses ids still present in the graph
  // (waypoints included); re-adds go through compaction, which folds
  // marks physically and sweeps delta + mark segments into one payload.
  // The append path mirrors IN-COLUMN tombstones into a mark segment
  // before its delta commits (see nswAppendToStored). ------------------

  /** Bootstrap / replace a stored graph index with a [[nswBuild]] (or
    * [[nswEncodeIndex]]) frame — everything previously committed,
    * including marks, is superseded on the one atomic flip.
    */
  def nswWriteIndex(index: DataFrame, path: String): Unit =
    graft.batch.SegmentedStore.withWriterLock(path) {
      val id = graft.batch.SegmentedStore.nextId(path)
      writeGraphSegment(index, path, id, marks = None)
      graft.batch.SegmentedStore.commitReplaceAll(path, id)
    }

  /** The one graph-segment write shape: CLEAR the whole reused segment
    * dir first (a crashed takedown's orphan `marks/` must never ride a
    * later rewrite's commit — same pre-clear discipline as
    * [[writeCodesSegment]]), then the payload and, for rewrites that
    * carry takedowns forward, the live mark set.
    */
  private def writeGraphSegment(index: DataFrame, path: String, id: Long,
      marks: Option[DataFrame]): Unit = {
    val segDir = graft.batch.SegmentedStore.segDir(path, id)
    graft.batch.StoreFs.deleteRecursive(segDir)
    index.write.mode("overwrite").parquet(s"$segDir/graph")
    marks.foreach(_.write.mode("overwrite").parquet(s"$segDir/marks"))
    // graph health stats (round 19, r18 verdict #4 — the cellstats
    // discipline, CodesTier.writeSegment): per-shard live/tombstone
    // counts from the WRITTEN payload (read-back, never a re-run of the
    // build; the payload files ARE the build shards — one file per
    // nswBuild/hnswBuild partition task). The health cadence folds these
    // tiny per-segment tables instead of scanning the store. A payload
    // WITHOUT an nsw_deleted column (clean bootstrap / post-fold rebuild
    // — the common case) derives the counts from the parquet FOOTERS
    // driver-side (round 21): live = each file's exact footer row count,
    // tomb = 0, identical to the scan's output — one Spark job per graph
    // write removed. Tombstone-carrying payloads keep the scan (the tomb
    // split needs the column's values).
    val stats =
      if (index.columns.contains("nsw_deleted"))
        payloadStatsOf(index.sparkSession, segDir)
      else graft.batch.StoreFs.listStatus(s"$segDir/graph")
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => (f.getPath.getName,
          graft.batch.StoreFs.parquetRowCount(f.getPath.toString)))
        .filter(_._2 > 0L) // empty-task files: the scan never saw them
        .sortBy(_._1).zipWithIndex
        .flatMap { case ((_, n), i) => Seq(("live", i, n), ("tomb", i, 0L)) }
        .toSeq
    writeGraphStats(index.sparkSession, segDir, stats)
  }

  /** Per-shard (kind, shard, n) stats of a just-written graph payload:
    * `live` and `tomb` (in-column `nsw_deleted`) per payload file.
    * Bounded collect — one row per written file (= build shard).
    */
  private def payloadStatsOf(spark: SparkSession,
      segDir: String): Seq[(String, Int, Long)] = {
    val read = spark.read.parquet(s"$segDir/graph")
    val withDel =
      if (read.columns.contains("nsw_deleted"))
        read.select(input_file_name().as("__f"), col("nsw_deleted"))
      else read.select(input_file_name().as("__f"),
        lit(false).as("nsw_deleted"))
    withDel.groupBy(col("__f"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("nsw_deleted"), 1L).otherwise(0L)).as("n_tomb"))
      .collect().sortBy(_.getString(0)).zipWithIndex
      .flatMap { case (r, i) =>
        Seq(("live", i, r.getLong(1) - r.getLong(2)),
          ("tomb", i, r.getLong(2)))
      }.toSeq
  }

  /** The one graphstats write shape (schema (kind, shard, n); shard −1 =
    * not shard-attributed — delta/mark segments).
    */
  private def writeGraphStats(spark: SparkSession, segDir: String,
      rows: Seq[(String, Int, Long)]): Unit = {
    import spark.implicits._
    rows.toDF("kind", "shard", "n")
      .coalesce(1).write.mode("overwrite").parquet(s"$segDir/graphstats")
  }

  /** Load a stored graph index with every committed takedown applied:
    * the graph payload with all mark segments OR-folded into
    * `nsw_deleted` (via [[nswDeleteFromBuilt]] — the same column the
    * in-memory form uses), ready for [[nswSearchBuilt]] /
    * [[nswSearchCoded]] / [[nswInsertAgainst]].
    */
  def readNswIndex(spark: SparkSession, path: String,
      idCol: String = "vec_id"): DataFrame = {
    val segs = graft.batch.SegmentedStore.committedSegs(path)
    require(segs.nonEmpty, s"readNswIndex: no committed index at $path")
    val graphSegs = segs.filter(id => graft.batch.SegmentedStore.hasParquetFiles(
      s"${graft.batch.SegmentedStore.segDir(path, id)}/graph"))
    require(graphSegs.nonEmpty,
      s"readNswIndex: no graph payload committed at $path — bootstrap with nswWriteIndex")
    val base = graphSegs.map(id => spark.read.parquet(
        s"${graft.batch.SegmentedStore.segDir(path, id)}/graph"))
      .reduce(_ unionByName _)
    // delta segments newer than the live payload (commitReplaceAll
    // supersedes older ones in the log; the filter is defensive):
    // last-writer-wins per id, newest segment wins. The window runs over
    // the DELTAS ONLY (O(batches·m) rows); the index-sized base is folded
    // by a broadcast anti-join on the delta id set — the base never
    // shuffles, which is what keeps a daily reload O(index scan) at 100 TB.
    val deltaSegs = segs.filter(id => id > graphSegs.max &&
      graft.batch.SegmentedStore.hasParquetFiles(
        s"${graft.batch.SegmentedStore.segDir(path, id)}/graphdelta"))
    val g =
      if (deltaSegs.isEmpty) base
      else {
        val d = deltaSegs.map(id => spark.read.parquet(
            s"${graft.batch.SegmentedStore.segDir(path, id)}/graphdelta")
            .withColumn("__nsw_seg", lit(id)))
          .reduce(_ unionByName _)
        val w = Window.partitionBy(col(idCol)).orderBy(col("__nsw_seg").desc)
        val latest = d.withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1).drop("__nsw_seg", "__rn")
        val overridden = broadcast(latest.select(col(idCol)))
        // deltas never carry nsw_deleted: in-column tombstones on the base
        // are mirrored as mark segments by nswAppendToStored before any
        // delta commits (layout invariant above), so lit(false) is safe
        val dAligned =
          if (base.columns.contains("nsw_deleted"))
            latest.withColumn("nsw_deleted", lit(false))
          else latest
        base.join(overridden, Seq(idCol), "left_anti")
          .unionByName(dAligned.select(base.columns.map(col).toIndexedSeq: _*))
      }
    readNswMarks(spark, path, segs, idCol) match {
      case None        => g
      case Some(marks) => nswDeleteFromBuilt(g, marks, idCol)
    }
  }

  /** Union of the committed mark segments' tombstone ids; None when no
    * takedown is live.
    */
  private def readNswMarks(spark: SparkSession, path: String,
      segs: List[Long], idCol: String): Option[DataFrame] = {
    val live = segs.filter(id => graft.batch.SegmentedStore.hasParquetFiles(
      s"${graft.batch.SegmentedStore.segDir(path, id)}/marks"))
    if (live.isEmpty) None
    else Some(live.map(id => spark.read.parquet(
        s"${graft.batch.SegmentedStore.segDir(path, id)}/marks"))
      .reduce(_ unionByName _).toDF(idCol).distinct())
  }

  /** Takedown on a STORED graph index: ONE tiny segment holding the
    * victim ids, committed on one atomic log flip — never an index-sized
    * rewrite (the exact discipline the postings/codes stores use).
    * Victims restrict to currently-live, not-yet-marked ids (idempotent:
    * a re-delivered takedown and never-indexed ids are no-ops that leave
    * the commit log untouched). Physical fold and re-add remain
    * [[nswCompactStored]]'s job, as documented at [[nswDeleteFromBuilt]].
    */
  def nswDeleteFromStored(spark: SparkSession, path: String,
      ids: DataFrame, idCol: String = "vec_id"): Unit =
    graft.batch.SegmentedStore.withWriterLock(path) {
      val cur = readNswIndex(spark, path, idCol)
      val alive = if (cur.columns.contains("nsw_deleted"))
        cur.where(!col("nsw_deleted")) else cur
      val victims = alive.select(col(idCol))
        .join(ids.toDF(idCol).select(col(idCol).cast("long")).distinct(),
          Seq(idCol), "left_semi")
        .distinct().persist()
      try {
        val nVictims = victims.count()
        if (nVictims > 0) {
          val id = graft.batch.SegmentedStore.nextId(path)
          val segDir = graft.batch.SegmentedStore.segDir(path, id)
          graft.batch.StoreFs.deleteRecursive(segDir)
          victims.write.mode("overwrite").parquet(s"$segDir/marks")
          // health stats: victims are guaranteed live-and-unmarked (the
          // left-semi above), so genuine mark mass is additive across
          // segments — the graphHealthStats fold sums it, O(segments)
          writeGraphStats(spark, segDir, Seq(("mark", -1, nVictims)))
          graft.batch.SegmentedStore.commitAppend(path, id)
        }
      } finally {
        victims.unpersist()
        ()
      }
    }

  /** Insert NEW vectors into a stored RAW-VECTOR graph index
    * (the [[nswInsertAgainst]] replay through the store): the segment persisted is
    * ONLY the rows the insert touched — the new nodes plus the existing
    * nodes it relinked, at most |batch|·(m+1) rows — committed as
    * `seg=N/graphdelta` on one atomic log flip (commitAppend). A daily
    * append is O(|batch|·m) written bytes regardless of index size; the
    * O(index) rewrite happens only at [[nswCompactStored]]'s maintenance
    * cadence, which folds deltas + marks back into one payload (the same
    * read-amplification-vs-write-cost trade the codes/postings segments
    * law-pin). [[readNswIndex]] reassembles the grown graph by per-id
    * last-writer-wins, newest segment first.
    *
    * Tombstones persisted IN-COLUMN on the base payload (an
    * [[nswDeleteFromBuilt]] frame written via [[nswWriteIndex]]) are
    * mirrored into a mark segment inside the SAME commit before the
    * delta lands — a delta row replacing an in-column-marked waypoint
    * carries no mark of its own, so without the mirror a relink would
    * resurrect the takedown. Deleted nodes keep routing as waypoints
    * through appends; re-adding a deleted id still requires a compaction
    * first (the insert refuses ids present in the graph).
    *
    * @param batchId pass the foreachBatch micro-batch id to make the
    *   append IDEMPOTENT under at-least-once replay (the
    *   [[graft.operators.Retrieval.appendToStored]] contract): the
    *   segment id becomes a pure function of the batch id and a
    *   re-delivered batch whose commit already landed is skipped. None =
    *   ordinal (non-replayed) append.
    */
  def nswAppendToStored(spark: SparkSession, path: String,
      newRows: DataFrame, vecCol: String, idCol: String, nParts: Int = 4,
      m: Int = 8, efConstruction: Int = 64,
      batchId: Option[Long] = None): Unit =
    appendToStoredGraph(spark, path, newRows, vecCol, idCol,
      nbrCol = NswTier.nbrCol, label = "nswAppendToStored", batchId,
      insertDelta = (cur, fresh) => insertDelta(NswTier, cur, fresh, vecCol,
        idCol, nParts, m, efConstruction))

  /** The one delta-append body, shared by the flat ([[nswAppendToStored]])
    * and hierarchical ([[hnswAppendToStored]]) stored tiers — they differ
    * only in the adjacency column and the insert-replay that computes the
    * touched rows.
    */
  private def appendToStoredGraph(spark: SparkSession, path: String,
      newRows: DataFrame, vecCol: String, idCol: String, nbrCol: String,
      label: String, batchId: Option[Long] = None,
      insertDelta: (DataFrame, DataFrame) => DataFrame): Unit =
    graft.batch.SegmentedStore.withWriterLock(path) {
      // replayed micro-batch: its segment is already committed — skip
      if (!batchId.exists(graft.batch.SegmentedStore.batchApplied(path, _)))
        appendToStoredGraphLocked(spark, path, newRows, vecCol, idCol,
          nbrCol, label, batchId, insertDelta)
    }

  private def appendToStoredGraphLocked(spark: SparkSession, path: String,
      newRows: DataFrame, vecCol: String, idCol: String, nbrCol: String,
      label: String, batchId: Option[Long],
      insertDelta: (DataFrame, DataFrame) => DataFrame): Unit = {
      val segs = graft.batch.SegmentedStore.committedSegs(path)
      require(segs.nonEmpty,
        s"$label: no committed index at $path — bootstrap with the write form")
      // the graph tier's read-side LWW keys on SEGMENT ID ORDER (deltas
      // apply only when newer than the live payload — readNswIndex), so
      // a streamed delta whose pinned even id a compaction has already
      // outrun would be silently ignored; fail loudly with the escape
      // instead (the codes/postings tiers union segments order-free and
      // don't carry this constraint)
      batchId.foreach { b =>
        val pinned = graft.batch.SegmentedStore.batchSegId(b)
        require(pinned > segs.max,
          s"$label: streamed batch $b pins segment id $pinned, not newer " +
            s"than the live payload (max committed ${segs.max}) — a " +
            "compaction outran this stream's batch ids; stop the stream, " +
            "re-point a NEW checkpoint (resetStreamHighWater) or use " +
            "ordinal appends")
      }
      val cur = readNswIndex(spark, path, idCol)
      require(cur.columns.contains(vecCol),
        s"$label: stored index at $path has no '$vecCol' column — " +
        "codes-only indexes cannot be inserted into (rebuild from the float corpus)")
      require(cur.columns.contains(nbrCol),
        s"$label: stored index at $path has no '$nbrCol' column — it holds " +
        "the other graph tier's layout (flat nbr_ids vs hierarchical layer_nbrs)")
      // in-column tombstones not yet covered by a mark segment (both
      // provenances fold into cur's nsw_deleted; subtract what the mark
      // segments already carry) — mirrored below so read-side LWW can
      // never resurrect them. Stats short-circuit first (round 21, r20
      // verdict #4): in-column tombstones can only live in PAYLOAD
      // segments, and each payload's graphstats counts them exactly
      // ("tomb" rows, written with the payload) — when every payload
      // segment carries stats and their tomb sum is 0 (the common case:
      // a mark-segment takedown put nsw_deleted in `cur` without any
      // in-column tombstone existing), the whole unmirrored computation
      // — an O(index) graph-payload scan per append — is skipped for
      // O(segments) tiny stats reads. Stats-less pre-r19 payloads fall
      // through to the scan.
      def inColumnTombFreeByStats: Boolean = {
        val statsDirs = segs.filter(id =>
            graft.batch.SegmentedStore.hasParquetFiles(
              s"${graft.batch.SegmentedStore.segDir(path, id)}/graph"))
          .map(id => s"${graft.batch.SegmentedStore.segDir(path, id)}/graphstats")
        statsDirs.nonEmpty &&
          statsDirs.forall(graft.batch.SegmentedStore.hasParquetFiles) && {
            // ONE job over every payload segment's tiny stats table (a
            // per-segment loop would pay one Spark job per segment per
            // micro-batch — the fixed cost this short-circuit removes)
            spark.read.parquet(statsDirs: _*).where(col("kind") === "tomb")
              .agg(coalesce(sum(col("n")), lit(0L)))
              .collect().head.getLong(0) == 0L
          }
      }
      val unmirrored =
        if (!cur.columns.contains("nsw_deleted")) None
        else if (inColumnTombFreeByStats) None
        else {
          val all = cur.where(col("nsw_deleted")).select(col(idCol))
          val m0 = (readNswMarks(spark, path, segs, idCol) match {
            case None     => all
            case Some(sm) => all.join(sm, Seq(idCol), "left_anti")
          }).localCheckpoint(true)
          if (m0.isEmpty) None else Some(m0)
        }
      val delta = insertDelta(
        cur.select(col(idCol), col(vecCol), col(nbrCol)), newRows)
      val id = batchId.map(graft.batch.SegmentedStore.batchSegId)
        .getOrElse(graft.batch.SegmentedStore.nextId(path))
      val segDir = graft.batch.SegmentedStore.segDir(path, id)
      // pre-clear: a crashed append's orphan payload must never ride a
      // later writer's commit of the same reused segment id
      graft.batch.StoreFs.deleteRecursive(segDir)
      delta.write.mode("overwrite").parquet(s"$segDir/graphdelta")
      unmirrored.foreach(_.write.mode("overwrite").parquet(s"$segDir/marks"))
      // health stats: `new` counts only the NEW nodes (the insert refuses
      // ids already in the graph, so |newRows| is exact; relinked rows
      // replace base rows and change no count); a MIRRORED mark is
      // already counted as in-column `tomb` by its payload's stats, so
      // it records as `mirror` — reconciliation only, never summed
      writeGraphStats(spark, segDir,
        Seq(("new", -1, newRows.count())) ++
          unmirrored.map(m => ("mirror", -1, m.count())))
      batchId match {
        // streaming: raise the applied-batch high-water mark in the same
        // atomic flip, so the replay guard survives compaction
        case Some(b) => graft.batch.SegmentedStore.commitStreamingAppend(path, b)
        case None    => graft.batch.SegmentedStore.commitAppend(path, id)
      }
    }

  /** Self-scheduling fold for the stored graph tier — the
    * [[graft.operators.Retrieval.compactIfFragmented]] /
    * [[int8CompactIfFragmented]] cadence shape: compact only when more
    * than `maxSegments` segments (payload + deltas + marks) are live.
    * With delta appends (round 16) a daily-ingest store accumulates one
    * tiny segment per batch; this is the hook a driver maintenance
    * cadence calls ([[graft.batch.BatchDriver.Maintenance]] `hooks`) to
    * bound read-side fold work without paying the O(index) rebuild every
    * night. Returns whether a compaction ran.
    */
  def nswCompactIfFragmented(spark: SparkSession, path: String, vecCol: String,
      idCol: String = "vec_id", nParts: Int = 4, m: Int = 8,
      efConstruction: Int = 64, maxSegments: Int = 8,
      sweepGraceMs: Long = 0L, compactOnWear: Boolean = false,
      tombstoneWarn: Double = 0.2): Boolean =
    compactGraphIfFragmented(NswTier, spark, path, vecCol, idCol, nParts, m,
      efConstruction, maxSegments, sweepGraceMs, compactOnWear, tombstoneWarn)

  /** The one cadence body of both stored graph tiers: the count-guarded
    * fold, then the opt-in wear repair ([[compactIfWorn]]), then the
    * best-effort health check.
    */
  private def compactGraphIfFragmented(tier: GraphTier, spark: SparkSession,
      path: String, vecCol: String, idCol: String, nParts: Int, m: Int,
      efConstruction: Int, maxSegments: Int, sweepGraceMs: Long,
      compactOnWear: Boolean, tombstoneWarn: Double): Boolean = {
    val label = s"${tier.name}CompactIfFragmented"
    def fold(): Unit =
      compactStoredGraphLocked(spark, path, vecCol, idCol,
        nbrCol = tier.nbrCol, label = s"${tier.name}CompactStored", sweepGraceMs,
        build = retained => buildFrame(tier, retained, vecCol, idCol, nParts, m,
          efConstruction))
    val ran = graft.batch.SegmentedStore.compactIfFragmentedLocked(path, maxSegments) {
      fold()
    }
    val worn = !ran && compactOnWear &&
      compactIfWorn(spark, path, idCol, tombstoneWarn, label)(fold())
    graphHealthCadenceCheck(spark, path, idCol, label)
    ran || worn
  }

  /** Opt-in wear repair on the graph maintenance cadence (round 20, r19
    * verdict #1 — the graph tiers' symmetric answer to the codes tiers'
    * `rebuildOnDrift`): when the segment-count guard found nothing to
    * fold but tombstone mass exceeds `tombstoneWarn`, run the SAME
    * locked compaction the count guard would have run. This closes the
    * measured gap the r19 graph-health probe exposed: a low-segment
    * store at 50% tombstone mass pays a ~1.48× dead-row serve tax (dead
    * rows still route — beam-search work that returns nothing) and the
    * count guard never folds it, so the warning fired forever while the
    * repair existed one verb away.
    *
    * The gate is `tombstone_fraction` ALONE, and deliberately so:
    *  - tombstone_fraction resets to exactly 0 at compaction (the
    *    rebuild runs over the retained rows and sweeps the marks), so
    *    the trigger is self-limiting — the anti-thrash property the
    *    codes tiers get from their AND gate falls out of one signal
    *    here. (appended_fraction also resets, but append mass arrives
    *    one segment per batch, which is the COUNT guard's domain.)
    *  - shard_imbalance is excluded: the rebuild re-shards by the same
    *    id hash, so a genuinely skewed id population would re-read
    *    imbalanced immediately after the fold and thrash the cadence
    *    into an O(index) rebuild every night. Imbalance stays a
    *    warning ([[graphHealthStats]]), never a trigger.
    *
    * Default OFF — an O(index) rebuild is the operator's call. Same
    * unlocked-pre-check / re-check-inside-the-lease discipline as
    * [[graft.batch.SegmentedStore.compactIfFragmentedLocked]]: below
    * the threshold the check costs O(segments) tiny stats reads and
    * takes no lock.
    */
  private def compactIfWorn(spark: SparkSession, path: String, idCol: String,
      tombstoneWarn: Double, label: String)(fold: => Unit): Boolean = {
    def tripped(): Boolean =
      graphHealthStats(spark, path, idCol, tombstoneWarn).collect().head
        .getAs[Double]("tombstone_fraction") > tombstoneWarn
    tripped() && graft.batch.SegmentedStore.withWriterLock(path) {
      val still = tripped()
      if (still) {
        System.err.println(s"[graft] $label: tombstone mass past " +
          f"$tombstoneWarn%.2f with compactOnWear set — folding takedowns " +
          "and rebuilding the shards under the writer lease")
        fold
      }
      still
    }
  }

  /** Health check on the maintenance cadence (round 19, r18 verdict #4 —
    * the CodesTier.compactIfFragmented drift-check shape): best-effort
    * and unlocked (it only reads stats tables); NonFatal-only so a
    * driver OOM/interrupt propagates instead of becoming a stderr line
    * over a corrupted JVM.
    */
  private def graphHealthCadenceCheck(spark: SparkSession, path: String,
      idCol: String, label: String): Unit =
    try { graphHealthStats(spark, path, idCol).collect(); () }
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[graft] $label health check skipped at $path: $e")
    }

  /** ONE health-observability row for a stored graph tier (NSW/HNSW —
    * round 19, r18 verdict #4, mirroring [[ivfDriftStats]]'s discipline
    * on the codes tiers): a graph serves WORSE as tombstone mass grows
    * (dead rows still route — they pay beam-search work and return
    * nothing) and as shard sizes skew (the widest shard bounds serve
    * latency), and neither was measured before this row. Folded entirely
    * from the per-segment `graphstats` tables the write verbs maintain
    * O(change) (payload: per-shard live/tomb at build; append: new-node
    * count; takedown: victim count) — O(segments) tiny reads, never a
    * store scan.
    *
    *  - `tombstone_fraction`: (in-column tombstones + genuine takedown
    *    marks) / all routing rows. Mirrored marks (an append re-recording
    *    an in-column tombstone) are excluded from the sum — counted once
    *    at their payload. The repair is compaction, which rebuilds over
    *    the retained rows and resets the stats.
    *  - `shard_imbalance`: max/mean over the payload shards' LIVE counts.
    *    Between compactions takedowns and appends shift it by at most
    *    their (unattributed) mass; it re-exacts at every compaction —
    *    the same estimate contract as CodesTier.cellOccupancy.
    *  - `appended_fraction`: delta-appended nodes / all routing rows —
    *    the growth-since-rebuild signal (append replays the insert loop,
    *    so unlike the frozen-model codes tiers this is wear, not drift:
    *    high appended mass means many LWW segments and an aging shard
    *    split, both of which compaction folds). Estimate contract
    *    (the cellOccupancy discipline, like shard_imbalance above): a
    *    takedown's marks decrement `live` but are not attributed to
    *    delta vs payload ids, so a delta-appended node later tombstoned
    *    keeps counting as appended until the next compaction re-exacts
    *    both (appended resets to 0) — between compactions the wear
    *    signal can overstate by at most the marks' mass.
    *
    * `health_warn` fires past either threshold on the maintenance
    * cadence ([[nswCompactIfFragmented]] / [[hnswCompactIfFragmented]]
    * run this row best-effort after their fold decision).
    */
  def graphHealthStats(spark: SparkSession, path: String,
      idCol: String = "vec_id", tombstoneWarn: Double = 0.2,
      imbalanceWarn: Double = 4.0): DataFrame = {
    val segs = graft.batch.SegmentedStore.committedSegs(path)
    require(segs.nonEmpty, s"graphHealthStats: no committed index at $path")
    val graphSegs = segs.filter(id => graft.batch.SegmentedStore.hasParquetFiles(
      s"${graft.batch.SegmentedStore.segDir(path, id)}/graph"))
    require(graphSegs.nonEmpty,
      s"graphHealthStats: no graph payload committed at $path")
    def statsOf(id: Long): Seq[(String, Int, Long)] = {
      val seg = graft.batch.SegmentedStore.segDir(path, id)
      if (graft.batch.SegmentedStore.hasParquetFiles(s"$seg/graphstats"))
        spark.read.parquet(s"$seg/graphstats")
          .select("kind", "shard", "n").collect()
          .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
      else Seq.empty // pre-r19 segment: contributes nothing (see below)
    }
    // a segment is stats-exempt only if it carries NO counted content at
    // all — a payload, delta, or mark segment without graphstats is a
    // pre-r19 write whose mass this fold cannot see, and the row must
    // say so instead of reading as a clean exact count
    val statsExact = segs.forall { id =>
      val seg = graft.batch.SegmentedStore.segDir(path, id)
      graft.batch.SegmentedStore.hasParquetFiles(s"$seg/graphstats") ||
        (!graft.batch.SegmentedStore.hasParquetFiles(s"$seg/graph") &&
          !graft.batch.SegmentedStore.hasParquetFiles(s"$seg/graphdelta") &&
          !graft.batch.SegmentedStore.hasParquetFiles(s"$seg/marks"))
    }
    // seg selection mirrors readNswIndex: payload stats from the payload
    // segs, delta stats from segments newer than the live payload,
    // mark stats from every committed segment
    val payloadStats = graphSegs.flatMap(statsOf)
    val newerStats = segs.filter(_ > graphSegs.max).flatMap(statsOf)
    val allStats = segs.flatMap(statsOf)
    val shardLive = payloadStats.collect { case ("live", s, n) => (s, n) }
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
    val tombInCol = payloadStats.collect { case ("tomb", _, n) => n }.sum
    val appended = newerStats.collect { case ("new", _, n) => n }.sum
    val marks = allStats.collect { case ("mark", _, n) => n }.sum
    val live = math.max(0L, shardLive.values.sum + appended - marks)
    val tombstones = tombInCol + marks
    val total = live + tombstones
    val frac = if (total > 0) tombstones.toDouble / total else 0.0
    val appendedFrac = if (total > 0) appended.toDouble / total else 0.0
    val nShards = shardLive.size
    val mean = if (nShards > 0) shardLive.values.sum.toDouble / nShards else 0.0
    val imbalance =
      if (mean > 0) shardLive.values.max / mean else 0.0
    val warn = frac > tombstoneWarn || imbalance > imbalanceWarn
    if (warn) System.err.println(
      f"[graft] graph index at $path: UNHEALTHY — tombstone-mass fraction " +
      f"$frac%.3f (warn > $tombstoneWarn%.2f), shard imbalance " +
      f"$imbalance%.2f (warn > $imbalanceWarn%.1f). Dead rows still route " +
      "and the widest shard bounds serve latency; repair by compacting " +
      "(nsw/hnswCompactStored folds takedowns and rebuilds the shards)")
    import spark.implicits._
    Seq((nShards, live, tombstones,
        BigDecimal(frac).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        BigDecimal(imbalance).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        appended,
        BigDecimal(appendedFrac).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        statsExact, warn))
      .toDF("n_shards", "live_rows", "tombstone_rows", "tombstone_fraction",
        "shard_imbalance", "appended_rows", "appended_fraction",
        "stats_exact", "health_warn")
  }

  /** Fold takedowns physically: REBUILD the graph over the retained rows
    * (the maintenance-cadence compaction [[nswDeleteFromBuilt]]
    * documents), sweep the mark segments, one atomic flip. After a
    * compaction a previously-deleted id can re-enter via
    * [[nswAppendToStored]]. Raw-vector indexes only (a rebuild needs the
    * vectors).
    */
  def nswCompactStored(spark: SparkSession, path: String, vecCol: String,
      idCol: String = "vec_id", nParts: Int = 4, m: Int = 8,
      efConstruction: Int = 64, sweepGraceMs: Long = 0L): Unit =
    compactStoredGraph(spark, path, vecCol, idCol,
      nbrCol = NswTier.nbrCol, label = "nswCompactStored", sweepGraceMs,
      build = retained => nswBuild(retained, vecCol, idCol, nParts, m,
        efConstruction))

  /** The one compaction body, shared by the flat and hierarchical stored
    * tiers (the [[appendToStoredGraph]] discipline): the nbrCol guard is
    * load-bearing — compaction REPLACES the whole layout, so running the
    * wrong tier's rebuild over a store would destroy its adjacency
    * irrecoverably (the append path already fails loudly on the same
    * mistake; the more destructive verb must too).
    */
  private def compactStoredGraph(spark: SparkSession, path: String,
      vecCol: String, idCol: String, nbrCol: String, label: String,
      sweepGraceMs: Long, build: DataFrame => DataFrame): Unit =
    graft.batch.SegmentedStore.withWriterLock(path) {
      compactStoredGraphLocked(spark, path, vecCol, idCol, nbrCol, label,
        sweepGraceMs, build)
    }

  // lock-free form of the shared compaction body: the cadence guards
  // (nsw/hnswCompactIfFragmented) call it under the lock they already
  // hold after re-checking the segment threshold inside it
  private def compactStoredGraphLocked(spark: SparkSession, path: String,
      vecCol: String, idCol: String, nbrCol: String, label: String,
      sweepGraceMs: Long, build: DataFrame => DataFrame): Unit = {
      val cur = readNswIndex(spark, path, idCol)
      require(cur.columns.contains(vecCol),
        s"$label: stored index at $path has no '$vecCol' column — " +
        "codes-only indexes rebuild from the float corpus instead")
      require(cur.columns.contains(nbrCol),
        s"$label: stored index at $path has no '$nbrCol' column — it holds " +
        "the other graph tier's layout (flat nbr_ids vs hierarchical " +
        "layer_nbrs); compacting it with this tier's rebuild would destroy it")
      val retained = (if (cur.columns.contains("nsw_deleted"))
        cur.where(!col("nsw_deleted")) else cur)
        .select(col(idCol), col(vecCol))
      val rebuilt = build(retained)
      val id = graft.batch.SegmentedStore.nextId(path)
      writeGraphSegment(rebuilt, path, id, marks = None)
      graft.batch.SegmentedStore.commitReplaceAll(path, id, sweepGraceMs)
    }

  // ---- stored HIERARCHICAL graph tier (round 16): the hnswBuild
  // (id, vec, layer_nbrs) frame under the SAME segment machinery — the
  // commit-log layout, mark fold and delta LWW are schema-generic, so
  // write/read/takedown delegate; append and compaction run the HNSW
  // tier of the graph kernel. -----------------------------------------

  /** [[nswWriteIndex]] for a [[hnswBuild]] / [[hnswEncodeIndex]] frame. */
  def hnswWriteIndex(index: DataFrame, path: String): Unit =
    nswWriteIndex(index, path)

  /** [[readNswIndex]] for a stored hierarchical index. */
  def readHnswIndex(spark: SparkSession, path: String,
      idCol: String = "vec_id"): DataFrame = readNswIndex(spark, path, idCol)

  /** [[nswDeleteFromStored]] for a stored hierarchical index (marks are
    * id-keyed, not layout-aware).
    */
  def hnswDeleteFromStored(spark: SparkSession, path: String,
      ids: DataFrame, idCol: String = "vec_id"): Unit =
    nswDeleteFromStored(spark, path, ids, idCol)

  /** The [[nswAppendToStored]] contract on the multi-layer frame: one
    * O(|batch|·m) `graphdelta` segment of the rows the
    * [[hnswInsertAgainst]] replay touched, in-column tombstones mirrored.
    */
  def hnswAppendToStored(spark: SparkSession, path: String,
      newRows: DataFrame, vecCol: String, idCol: String, nParts: Int = 4,
      m: Int = 8, efConstruction: Int = 64,
      batchId: Option[Long] = None): Unit =
    appendToStoredGraph(spark, path, newRows, vecCol, idCol,
      nbrCol = HnswTier.nbrCol, label = "hnswAppendToStored", batchId,
      insertDelta = (cur, fresh) => insertDelta(HnswTier, cur, fresh, vecCol,
        idCol, nParts, m, efConstruction))

  /** Fold takedowns + deltas physically: REBUILD the hierarchy over the
    * retained rows, sweep delta/mark segments, one atomic flip.
    * Raw-vector indexes only.
    */
  def hnswCompactStored(spark: SparkSession, path: String, vecCol: String,
      idCol: String = "vec_id", nParts: Int = 4, m: Int = 8,
      efConstruction: Int = 64, sweepGraceMs: Long = 0L): Unit =
    compactStoredGraph(spark, path, vecCol, idCol,
      nbrCol = HnswTier.nbrCol, label = "hnswCompactStored", sweepGraceMs,
      build = retained => hnswBuild(retained, vecCol, idCol, nParts, m,
        efConstruction))

  /** [[nswCompactIfFragmented]] for the stored hierarchical tier. */
  def hnswCompactIfFragmented(spark: SparkSession, path: String, vecCol: String,
      idCol: String = "vec_id", nParts: Int = 4, m: Int = 8,
      efConstruction: Int = 64, maxSegments: Int = 8,
      sweepGraceMs: Long = 0L, compactOnWear: Boolean = false,
      tombstoneWarn: Double = 0.2): Boolean =
    compactGraphIfFragmented(HnswTier, spark, path, vecCol, idCol, nParts, m,
      efConstruction, maxSegments, sweepGraceMs, compactOnWear, tombstoneWarn)
}
