package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.algebra.{Moments, QHist, Semigroup, TopK}
import graft.api.{ExternalService, GraftSink, GraftStream, KeyedGraftStream}
import graft.batch.BatchStore
import graft.client.ClientStore
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators.{AsofJoin, BatchServices, Dedup, LoopJoin, Packing, PretrainPipeline, Retrieval, RowIndex, Sampling, Scoring, Sharding, Similarity}
import graft.time.{BatchID, Batcher, Timestamp}

import GateHelpers._

/** Gate registry — similarity search: ANN serving tiers, stored-index lifecycles, drift.
  * Split from SparkEntry (round 19, mechanical move): SparkEntry
  * concatenates the per-family registries; entries are verbatim.
  */
private[graft] object AnnGate {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(


    // -- similarity search ----------------------------------------------
    "q_ann_brute" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = Array.tabulate(64)(i => math.sin(i + 1.0)) // deterministic query
      Similarity.bruteForceTopK(e, "embedding", "vec_id", q, 10)
    }),


    "q_ann_int8" -> ((s, dir) => {
      // two-stage int8 serving read (codes-only scan + exact re-rank of
      // oversample*k candidates), q_ann_lsh-style invariant oracle:
      // corpus size is the SQL check; recall@10 vs the exact brute
      // top-10 (computed in-row) and the k contract are pinned TRUE
      val e = t(s, dir, "embeddings")
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val exact = Similarity.bruteForceTopK(e, "embedding", "vec_id", q, 10)
        .select(col("vec_id"))
      val approx = Similarity.int8TopK(e, "embedding", "vec_id", q, 10)
        .localCheckpoint(true)
      val hit = approx.join(exact, "vec_id").agg(count(lit(1)).as("hits"))
      val kc = approx.agg(count(lit(1)).as("kc"))
      e.agg(count(lit(1)).as("n_vecs"))
        .crossJoin(broadcast(hit)).crossJoin(broadcast(kc))
        .select(col("n_vecs"),
          (col("hits") >= 9).as("recall_ok"), (col("kc") === 10).as("k_ok"))
    }),


    "q_ann_int8_stored" -> ((s, dir) => {
      // the SPLIT serving form of q_ann_int8: codes materialized ONCE
      // (int8WriteIndex — the 4x-smaller stored index), per-query work is
      // a codes-only scan + broadcast join back to floats for the exact
      // re-rank of oversample*k candidates. Must return EXACTLY the
      // in-memory int8TopK rows (same quantization, re-rank, tie-break),
      // pinned as same_as_mem alongside q_ann_int8's invariants.
      val e = t(s, dir, "embeddings")
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val tmp = java.nio.file.Files.createTempDirectory("graft_int8_idx_").toString
      try {
        Similarity.int8WriteIndex(e, "embedding", "vec_id", tmp)
        val stored = Similarity.int8TopKStored(s, tmp, e, "embedding",
          "vec_id", q, 10).localCheckpoint(true)
        int8InvariantRow(e, q, stored)
      } finally graft.batch.BatchState.deleteDir(tmp)
    }),


    "q_ann_delete" -> ((s, dir) => {
      // takedown on the ANN side: bootstrap the stored codes index over
      // all embeddings, DELETE vec_id % 5 == 2 (a delete-set segment the
      // reads anti-join), serve — invariants computed against the
      // RETAINED corpus, with same_as_mem pinning exact equality to the
      // in-memory int8TopK over that corpus
      val e = t(s, dir, "embeddings")
      val kept = e.where(col("vec_id") % 5 =!= 2)
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val tmp = java.nio.file.Files.createTempDirectory("graft_ann_del_").toString
      try {
        PhaseTimer.time("q_ann_delete", "build") {
          Similarity.int8WriteIndex(e, "embedding", "vec_id", tmp)
        }
        PhaseTimer.time("q_ann_delete", "takedown") {
          Similarity.int8DeleteFromStored(s, tmp,
            e.where(col("vec_id") % 5 === 2).select("vec_id"))
        }
        val stored = Similarity.int8TopKStored(s, tmp, kept, "embedding",
          "vec_id", q, 10).localCheckpoint(true)
        int8InvariantRow(kept, q, stored)
      } finally graft.batch.BatchState.deleteDir(tmp)
    }),


    "q_ann_replace" -> ((s, dir) => {
      // round 14: atomic upsert correction on the ANN side
      // (Similarity.int8ReplaceInStored): bootstrap the stored codes
      // index from embeddings whose vec_id % 5 == 2 slice arrived
      // NEGATED at ingest, upsert the true slice back (corrected codes
      // + victim delete-set on one commit-log flip), serve — the four
      // invariants computed against the TRUE corpus, with same_as_mem
      // pinning exact equality to the in-memory int8TopK over it
      val e = t(s, dir, "embeddings")
      val mangled = e.withColumn("embedding",
        when(col("vec_id") % 5 === 2,
          transform(col("embedding"), x => -x)).otherwise(col("embedding")))
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val tmp = java.nio.file.Files.createTempDirectory("graft_ann_rep_").toString
      try {
        Similarity.int8WriteIndex(mangled, "embedding", "vec_id", tmp)
        Similarity.int8ReplaceInStored(s, tmp,
          e.where(col("vec_id") % 5 === 2), "embedding", "vec_id")
        val stored = Similarity.int8TopKStored(s, tmp, e, "embedding",
          "vec_id", q, 10).localCheckpoint(true)
        int8InvariantRow(e, q, stored)
      } finally graft.batch.BatchState.deleteDir(tmp)
    }),


    "q_ann_ivf_stored" -> ((s, dir) => {
      // round 17: the stored IVF tier's full lifecycle — the one serving
      // form whose per-query scan cost is ∝ probed cells, not corpus
      // (int8 codes partitioned by frozen coarse-centroid cell; parquet
      // partition pruning does the rest). Bootstrap over the corpus,
      // append a fresh-id slice (assigned against the FROZEN centroids),
      // take down the %7==3 slice, compact (fold + carry centroids),
      // then serve. Invariants: full-probe serve ≡ the in-memory int8TopK
      // over the LIVE corpus exactly (the candidate space is the whole
      // store — the oracle-checked configuration, like full-probe IVF);
      // the probe-pruned read provably touches ONLY probed `cid=`
      // partitions (inputFiles audit in-row); the pruned serve keeps the
      // k contract. n_vecs is the SQL-checkable live count.
      val e = t(s, dir, "embeddings")
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val appended = e.where(col("vec_id") % 11 === 0)
        .withColumn("vec_id", col("vec_id") + lit(1000000000L))
      val live = e.where(col("vec_id") % 7 =!= 3).unionByName(appended)
      val tmp = java.nio.file.Files.createTempDirectory("graft_ann_ivf_").toString
      try {
        PhaseTimer.time("q_ann_ivf_stored", "build") {
          Similarity.ivfWriteIndex(e, "embedding", "vec_id", tmp,
            nCentroids = 16)
        }
        PhaseTimer.time("q_ann_ivf_stored", "append") {
          Similarity.ivfAppendToStored(s, tmp, appended, "embedding", "vec_id")
        }
        PhaseTimer.time("q_ann_ivf_stored", "takedown") {
          Similarity.ivfDeleteFromStored(s, tmp,
            e.where(col("vec_id") % 7 === 3).select("vec_id"))
        }
        PhaseTimer.time("q_ann_ivf_stored", "compact") {
          Similarity.ivfCompactStored(s, tmp)
        }
        // serve_full vs serve_pruned split (round 18, r17 verdict #6):
        // the full-probe serve exists to feed the equality oracle (it
        // scans every cell — audit-shaped); the PRUNED serve is the
        // production path whose scale curve matters at 100 TB, so each
        // gets its own phase and Bench bills only the pruned one as
        // operator cost
        val stored = PhaseTimer.time("q_ann_ivf_stored", "serve_full") {
          Similarity.ivfTopKStored(s, tmp, live, "embedding",
            "vec_id", q, 10, nProbe = 16).localCheckpoint(true)
        }
        val cents = Similarity.readIvfCentroids(s, tmp)
        val probes = Similarity.ivfProbeCids(q, cents, nProbe = 4)
        // the equality audit (in-memory int8 serve + brute-force recall
        // scan over the live corpus) is the row's oracle, not the
        // operator — attribute it so the 100x reading bills serving,
        // not auditing
        val invariants = PhaseTimer.time("q_ann_ivf_stored", "exact_oracle") {
          int8InvariantRow(live, q, stored)
        }
        // input_file_name() observes the post-pruning scan (inputFiles
        // reports the pre-pruning file index); the store is freshly
        // compacted, so every read file is a codes partition
        val prunedFiles = PhaseTimer.time("q_ann_ivf_stored", "prune_audit") {
          Similarity.readIvfIndex(s, tmp, probeCids = Some(probes))
            .select(input_file_name().as("f")).distinct()
            .collect().map(_.getString(0)).filter(_.contains("/ivf/"))
        }
        val pruneFilesOk = prunedFiles.nonEmpty &&
          prunedFiles.forall(f => probes.exists(p => f.contains(s"/cid=$p/")))
        val prunedK = PhaseTimer.time("q_ann_ivf_stored", "serve_pruned") {
          Similarity.ivfTopKStored(s, tmp, live, "embedding",
            "vec_id", q, 10, nProbe = 4).count()
        }
        invariants
          .withColumn("prune_files_ok", lit(pruneFilesOk))
          .withColumn("pruned_k_ok", lit(prunedK >= 1 && prunedK <= 10))
      } finally graft.batch.BatchState.deleteDir(tmp)
    }),


    "q_ann_ivfpq_stored" -> ((s, dir) => {
      // round 17: the stored IVF-PQ tier (FAISS's IVFADC layout on disk) —
      // PQ-coded residuals partitioned by frozen coarse cell; a probe
      // scan reads (cid, m small ints) per row from the probed partitions
      // only, and the float corpus is touched only by the exact re-rank
      // of the oversample·k ADC candidates. Lifecycle: bootstrap
      // (train + encode), append a fresh-id slice ENCODED against the
      // frozen model (plus a planted exact match of the query), take
      // down the %7==3 slice, compact (fold + carry model), serve.
      // Invariants: full-probe stored serve ≡ the in-memory same-model
      // path exactly (identical codes → identical ADC ranks → identical
      // exact re-rank); the planted needle surfaces at rank 1 with
      // cosine 1.0 under PRUNED probing (its cell is the query's argmax
      // cell — probe #1 by construction — and its residual
      // reconstruction dominates natural neighbors, the q_ann_ivfpq
      // argument); the pruned read touches ONLY probed `cid=` partitions;
      // the pruned serve keeps the k contract. n_vecs is the
      // SQL-checkable live count (corpus − takedown + append + needle).
      import s.implicits._
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      // the needle takes the SMALLEST id in the corpus: ivfPqServe breaks
      // ADC-score ties ascending by id before the oversample·k candidate
      // cut, and vectors encoding to the needle's exact (cid, codes) tie
      // with it — a largest-id needle could lose enough ties at 100x to
      // drop out of the candidate cut and flip needle_ok (advisor r17)
      val needle = Seq((-1L, q.toSeq)).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast(e.schema("embedding").dataType))
      val appended = e.where(col("vec_id") % 11 === 0)
        .withColumn("vec_id", col("vec_id") + lit(1000000000L))
        .unionByName(needle)
      val live = e.where(col("vec_id") % 7 =!= 3).unionByName(appended)
      val tmp = java.nio.file.Files.createTempDirectory("graft_ann_ivfpq_").toString
      try {
        PhaseTimer.time("q_ann_ivfpq_stored", "build") {
          Similarity.ivfPqWriteIndex(e, "embedding", "vec_id", tmp,
            dim = 64, nCentroids = 16)
        }
        PhaseTimer.time("q_ann_ivfpq_stored", "append") {
          Similarity.ivfPqAppendToStored(s, tmp, appended, "embedding", "vec_id")
        }
        PhaseTimer.time("q_ann_ivfpq_stored", "takedown") {
          Similarity.ivfPqDeleteFromStored(s, tmp,
            e.where(col("vec_id") % 7 === 3).select("vec_id"))
        }
        PhaseTimer.time("q_ann_ivfpq_stored", "compact") {
          Similarity.ivfPqCompactStored(s, tmp)
        }
        val (cents, books) = Similarity.readIvfPqModel(s, tmp)
        // serve_full (audit-shaped: feeds the equality oracle, scans every
        // cell) vs serve_pruned (the production path) — r17 verdict #6
        val stored = PhaseTimer.time("q_ann_ivfpq_stored", "serve_full") {
          Similarity.ivfPqTopKStored(s, tmp, live, "embedding",
            "vec_id", q, 10, nProbe = 16).localCheckpoint(true)
        }
        // the same-model equality audit re-encodes the live corpus in
        // memory — the row's oracle, not the operator (see
        // q_ann_ivf_stored's attribution note)
        val nDiff = PhaseTimer.time("q_ann_ivfpq_stored", "exact_oracle") {
          // checkpointed (k rows): the symmetric-difference job reads the
          // in-memory re-encode twice — two full corpus passes without it
          val mem = Similarity.ivfPqTopKWithModel(live, "embedding", "vec_id",
            q, 10, cents, books, nProbe = 16).localCheckpoint(true)
          stored.exceptAll(mem).unionByName(mem.exceptAll(stored)).count()
        }
        val pruned = PhaseTimer.time("q_ann_ivfpq_stored", "serve_pruned") {
          Similarity.ivfPqTopKStored(s, tmp, live, "embedding",
            "vec_id", q, 10, nProbe = 4).collect()
        }
        val needleOk = pruned.nonEmpty &&
          pruned.head.getLong(0) == -1L && pruned.head.getDouble(1) == 1.0
        // input_file_name() observes the post-pruning scan (inputFiles
        // reports the pre-pruning file index); freshly compacted, so
        // every read file is a codes partition
        val probes = Similarity.ivfProbeCids(q, cents, nProbe = 4)
        val prunedFiles = PhaseTimer.time("q_ann_ivfpq_stored", "prune_audit") {
          Similarity.readIvfPqIndex(s, tmp, probeCids = Some(probes))
            .select(input_file_name().as("f")).distinct()
            .collect().map(_.getString(0)).filter(_.contains("/ivfpq/"))
        }
        val pruneFilesOk = prunedFiles.nonEmpty &&
          prunedFiles.forall(f => probes.exists(p => f.contains(s"/cid=$p/")))
        live.agg(count(lit(1)).as("n_vecs"))
          .withColumn("same_as_mem", lit(nDiff == 0L))
          .withColumn("needle_ok", lit(needleOk))
          .withColumn("prune_files_ok", lit(pruneFilesOk))
          .withColumn("pruned_k_ok", lit(pruned.length >= 1 && pruned.length <= 10))
      } finally graft.batch.BatchState.deleteDir(tmp)
    }),


    "q_ann_ivf_join" -> ((s, dir) => {
      // round 18 (r17 verdict #2): query-TABLE serving over the stored
      // IVF tier — the batch decontamination / curation-search shape (the
      // storehaus multiGet discipline, reference FlatMapOperation.scala:
      // 113-137, the same bounded-key-set contract the KV store's
      // clustered point reads honor). ONE commit-log resolve + ONE
      // partition-pruned scan over the UNION of all queries' probe cells
      // serves every query, instead of one resolve + one scan PER query.
      // Invariants: each query is a corpus row, so its own cell is probe
      // #1 and the self-hit must rank first at cosine 1.0 (self_found);
      // the per-query k contract holds (k_ok); per-query results EXACTLY
      // equal the single-query ivfTopKStored loop over the same store
      // (same_as_loop — the law that makes the one-scan plan a pure
      // serving optimization); the joined read provably touches ONLY the
      // union of probed `cid=` partitions (prune_files_ok, audited with
      // input_file_name since DataFrame.inputFiles reports the
      // pre-pruning index).
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_join_").toString
      try {
        PhaseTimer.time("q_ann_ivf_join", "build") {
          Similarity.ivfWriteIndex(e, "embedding", "vec_id", tmp,
            nCentroids = 16)
        }
        val queries = e.where(col("vec_id") < 3)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val joined = PhaseTimer.time("q_ann_ivf_join", "serve_join") {
          Similarity.ivfTopKStoredJoin(s, tmp, e, "embedding", "vec_id",
            queries, "q_vec", "q_id", k = 10, nProbe = 4)
            .localCheckpoint(true)
        }
        // equality-to-loop law: the joined serve is EXACTLY the per-query
        // loop — the row's oracle, not the operator
        val qs = queries.collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
        val sameAsLoop = PhaseTimer.time("q_ann_ivf_join", "exact_oracle") {
          qs.forall { case (qid, qv) =>
            // checkpointed (k rows): the symmetric-difference job reads
            // the loop serve twice — uncheckpointed that is two full
            // pruned scans per audited query
            val loop = Similarity.ivfTopKStored(s, tmp, e, "embedding",
              "vec_id", qv, 10, nProbe = 4).localCheckpoint(true)
            val got = joined.where(col("q_id") === qid)
              .select(col("vec_id"), col("cosine_sim"))
            got.exceptAll(loop).unionByName(loop.exceptAll(got)).count() == 0L
          }
        }
        val cents = Similarity.readIvfCentroids(s, tmp)
        val union = qs.flatMap(q => Similarity.ivfProbeCids(q._2, cents, 4))
          .distinct.toSeq
        val prunedFiles = PhaseTimer.time("q_ann_ivf_join", "prune_audit") {
          Similarity.readIvfIndex(s, tmp, probeCids = Some(union))
            .select(input_file_name().as("f")).distinct()
            .collect().map(_.getString(0)).filter(_.contains("/ivf/"))
        }
        val pruneFilesOk = prunedFiles.nonEmpty &&
          prunedFiles.forall(f => union.exists(p => f.contains(s"/cid=$p/")))
        joined.groupBy(col("q_id"))
          .agg(max(col("vec_id") === col("q_id") && col("cosine_sim") === 1.0)
              .as("self_found"),
            count(lit(1)).between(1, 10).as("k_ok"))
          .withColumn("same_as_loop", lit(sameAsLoop))
          .withColumn("prune_files_ok", lit(pruneFilesOk))
      } finally graft.batch.BatchState.deleteDir(tmp)
    }),


    "q_ann_mmr" -> ((s, dir) => {
      // round 18: MMR diversity re-rank (Carbonell & Goldstein SIGIR'98)
      // over a bounded candidate set — the serving tail for crowded
      // near-duplicate regions (the failure mode the drift probe
      // measures: thousands of copies fill a plain top-k). Plant the
      // query copy twice (-2 and -1; the cosine-1.0 tie breaks to the
      // smaller id). Invariants are THEOREMS, not data properties:
      // lambda=1 equals the plain cosine top-k over the same candidates
      // exactly (same rounded scores, same id tie-breaks); at
      // lambda=0.3 the first pick is the pure-relevance argmax (-2, at
      // cosine 1.0) and its exact duplicate can NEVER be second (the
      // duplicate scores 2λ−1 = −0.4 while any distinct candidate with
      // relevance c scores (2λ−1)·c = −0.4c > −0.4 for every c in
      // (−1, 1)); selections are distinct; the k contract holds.
      import s.implicits._
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = Seq((-1L, q.toSeq), (-2L, q.toSeq))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"),
          col("embedding").cast(e0.schema("embedding").dataType))
      val corpus = e0.unionByName(planted)
      // the bounded candidate set: an oversampled exact serve (50) —
      // MMR re-ranks a serve's output, never a corpus
      val cands = Similarity.bruteForceTopK(corpus, "embedding", "vec_id",
          q, 50)
        .select("vec_id")
        .join(corpus, Seq("vec_id")).select("vec_id", "embedding")
        .localCheckpoint(true)
      val mmr = Similarity.mmrRerank(cands, "embedding", "vec_id", q,
        k = 10, lambda = 0.3).orderBy("mmr_rank").collect()
      val mmr1 = Similarity.mmrRerank(cands, "embedding", "vec_id", q,
        k = 10, lambda = 1.0).orderBy("mmr_rank").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val plain = Similarity.bruteForceTopK(cands, "embedding", "vec_id",
          q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val ids = mmr.map(_.getLong(0)).toSeq
      Seq((mmr.length.toLong,
          ids.head == -2L && mmr.head.getDouble(1) == 1.0,
          ids(1) != -1L,
          mmr1 == plain,
          ids.distinct.length == ids.length))
        .toDF("k_rows", "first_is_copy", "dup_not_second",
          "lambda1_equals_topk", "distinct_ok")
    }),

    "q_ann_mmr_join" -> ((s, dir) => {
      // round 19 (r18 verdict #2): MMR composed with the query-TABLE
      // serve matrix — mmrRerankJoin re-ranks every query's candidate
      // set from ivfTopKStoredJoin output in ONE call (one bounded
      // broadcast join attaches vectors; the per-query greedy stays
      // driver-side, maxQueries·maxCandidates-guarded, loud). Three
      // synthetic query directions, each with TWO planted exact copies
      // in the corpus (ids -(10j+1), -(10j+2)); the copies land in the
      // query's own probe cell (they ARE the query vector), so the
      // oversampled serve surfaces both deterministically. Theorems per
      // query: rank 1 is the smaller-id copy at cosine 1.0; its exact
      // duplicate can NEVER be second at lambda=0.3 (scores 2λ−1 = −0.4
      // vs −0.4·c for any distinct candidate, c < 1); per-query output
      // EXACTLY equals the single-query mmrRerank loop over the same
      // candidates (structural — one greedy body — and re-verified
      // in-row); lambda=1 equals the plain top-k over the candidates.
      import s.implicits._
      val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      def qv(j: Int): Array[Double] = Array.tabulate(64)(i => math.sin(i + 1.0 + j))
      val planted = (0 until 3).flatMap { j =>
        Seq((-(10L * j + 1), qv(j).toSeq), (-(10L * j + 2), qv(j).toSeq))
      }.toDF("vec_id", "embedding")
        .select(col("vec_id"),
          col("embedding").cast(e0.schema("embedding").dataType))
      val corpus = e0.unionByName(planted).localCheckpoint(true)
      val queries = (0 until 3).map(j => (j.toLong, qv(j).toSeq))
        .toDF("q_id", "q_vec")
      val tmp = java.nio.file.Files.createTempDirectory("graft_mmr_join_").toString
      try {
        PhaseTimer.time("q_ann_mmr_join", "build") {
          Similarity.ivfWriteIndex(corpus, "embedding", "vec_id", tmp,
            nCentroids = 16)
        }
        val cands = PhaseTimer.time("q_ann_mmr_join", "serve_join") {
          Similarity.ivfTopKStoredJoin(s, tmp, corpus, "embedding", "vec_id",
            queries, "q_vec", "q_id", k = 50, nProbe = 4)
            .localCheckpoint(true)
        }
        val mmr = Similarity.mmrRerankJoin(cands, "q_id", "vec_id",
          corpus, "embedding", "vec_id", queries, "q_vec", "q_id",
          k = 10, lambda = 0.3)
          .localCheckpoint(true)
        // law 1: per-query equality to the single-query mmrRerank loop
        val sameAsLoop = PhaseTimer.time("q_ann_mmr_join", "exact_oracle") {
          (0 until 3).forall { j =>
            val sub = cands.where(col("q_id") === j).select("vec_id")
              .join(corpus, "vec_id").select("vec_id", "embedding")
            val loop = Similarity.mmrRerank(sub, "embedding", "vec_id",
              qv(j), k = 10, lambda = 0.3).localCheckpoint(true)
            val got = mmr.where(col("q_id") === j)
              .select(col("vec_id"), col("cosine_sim"), col("mmr_rank"))
            got.exceptAll(loop).unionByName(loop.exceptAll(got)).count() == 0L
          }
        }
        // law 2: lambda=1 reduces to the plain top-k over the candidates
        val lambda1Ok = PhaseTimer.time("q_ann_mmr_join", "exact_oracle") {
          val l1 = Similarity.mmrRerankJoin(cands, "q_id", "vec_id",
            corpus, "embedding", "vec_id", queries, "q_vec", "q_id",
            k = 10, lambda = 1.0).select(col("q_id"), col("vec_id"), col("cosine_sim"))
          (0 until 3).forall { j =>
            val sub = cands.where(col("q_id") === j).select("vec_id")
              .join(corpus, "vec_id").select("vec_id", "embedding")
            val plain = Similarity.bruteForceTopK(sub, "embedding", "vec_id",
              qv(j), 10).select(col("vec_id"), col("cosine_sim"))
              .localCheckpoint(true)
            val got = l1.where(col("q_id") === j).drop("q_id")
            got.exceptAll(plain).unionByName(plain.exceptAll(got)).count() == 0L
          }
        }
        val picked = mmr.orderBy(col("q_id"), col("mmr_rank")).collect()
          .groupBy(_.getLong(0))
        val perQ = (0 until 3).map { j =>
          val rows = picked(j.toLong)
          val ids = rows.map(_.getLong(1))
          (j.toLong, rows.length.toLong,
            ids.head == -(10L * j + 2) && rows.head.getDouble(2) == 1.0,
            ids(1) != -(10L * j + 1),
            ids.distinct.length == ids.length)
        }
        perQ.toDF("q_id", "k_rows", "first_is_copy", "dup_not_second",
            "distinct_ok")
          .withColumn("same_as_loop", lit(sameAsLoop))
          .withColumn("lambda1_equals_topk", lit(lambda1Ok))
      } finally graft.batch.BatchState.deleteDir(tmp)
    }),


    "q_ann_mmr_dist" -> ((s, dir) => {
      // round 20 (r19 verdict #2): the EXECUTOR-SIDE query-table MMR —
      // mmrRerankJoinDistributed runs the per-query greedy in
      // groupByKey.flatMapGroups (no driver loop, no maxQueries cap,
      // driver memory flat in the query count), structurally equal to
      // the driver-side mmrRerankJoin: same rows, same (query, rank)
      // order, pinned in-row over TWELVE query directions (past what a
      // chunk-free driver loop at maxQueries=8 would accept — also
      // pinned: the driver form refuses this table at that cap, the
      // distributed form serves it). Each query has two planted exact
      // copies (ids -(10j+1), -(10j+2)); rank 1 is the smaller-id copy
      // at cosine 1.0 and its exact duplicate is never second at
      // lambda=0.3 (the q_ann_mmr_join theorems, per query).
      import s.implicits._
      val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      def qv(j: Int): Array[Double] = Array.tabulate(64)(i => math.sin(i + 1.0 + j))
      val nQ = 12
      val planted = (0 until nQ).flatMap { j =>
        Seq((-(10L * j + 1), qv(j).toSeq), (-(10L * j + 2), qv(j).toSeq))
      }.toDF("vec_id", "embedding")
        .select(col("vec_id"),
          col("embedding").cast(e0.schema("embedding").dataType))
      val corpus = e0.unionByName(planted).localCheckpoint(true)
      val queries = (0 until nQ).map(j => (j.toLong, qv(j).toSeq))
        .toDF("q_id", "q_vec")
      val cands = PhaseTimer.time("q_ann_mmr_dist", "serve_join") {
        Similarity.bruteForceTopKJoin(corpus, "embedding", "vec_id",
          queries, "q_vec", "q_id", k = 30).localCheckpoint(true)
      }
      val dist = Similarity.mmrRerankJoinDistributed(cands, "q_id", "vec_id",
        corpus, "embedding", "vec_id", queries, "q_vec", "q_id",
        k = 10, lambda = 0.3).localCheckpoint(true)
      // law 1: row-and-order structural equality to the driver form
      val sameAsDriver = PhaseTimer.time("q_ann_mmr_dist", "exact_oracle") {
        val drv = Similarity.mmrRerankJoin(cands, "q_id", "vec_id",
          corpus, "embedding", "vec_id", queries, "q_vec", "q_id",
          k = 10, lambda = 0.3)
        val a = dist.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
        val b = drv.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
        a == b
      }
      // law 2: the driver form refuses this table at maxQueries=8; the
      // distributed form has no such cap by construction
      val capAbsent = PhaseTimer.time("q_ann_mmr_dist", "exact_oracle") {
        try {
          Similarity.mmrRerankJoin(cands, "q_id", "vec_id",
            corpus, "embedding", "vec_id", queries, "q_vec", "q_id",
            k = 10, lambda = 0.3, maxQueries = 8)
          false
        } catch { case _: IllegalArgumentException => true }
      }
      val picked = dist.orderBy(col("q_id"), col("mmr_rank")).collect()
        .groupBy(_.getLong(0))
      val perQ = (0 until nQ).map { j =>
        val rows = picked(j.toLong)
        val ids = rows.map(_.getLong(1))
        (j.toLong, rows.length.toLong,
          ids.head == -(10L * j + 2) && rows.head.getDouble(2) == 1.0,
          ids(1) != -(10L * j + 1),
          ids.distinct.length == ids.length)
      }
      perQ.toDF("q_id", "k_rows", "first_is_copy", "dup_not_second",
          "distinct_ok")
        .withColumn("same_as_driver", lit(sameAsDriver))
        .withColumn("driver_cap_absent", lit(capAbsent))
    }),


    "q_ann_int8_join" -> ((s, dir) => {
      // round 18: the flat int8 tier's query-TABLE serve — the last
      // serving family without a bounded query-table form. No cells to
      // prune (the flat tier's per-query work is the full codes scan by
      // nature), so the join's win is ONE commit-log resolve + ONE codes
      // scan amortized across the table. Invariants: self-hit rank 1 at
      // cosine 1.0, per-query k contract, exact equality to the
      // single-query int8TopKStored loop.
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_int8_join_").toString
      try {
        PhaseTimer.time("q_ann_int8_join", "build") {
          Similarity.int8WriteIndex(e, "embedding", "vec_id", tmp)
        }
        val queries = e.where(col("vec_id") < 3)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val joined = PhaseTimer.time("q_ann_int8_join", "serve_join") {
          Similarity.int8TopKStoredJoin(s, tmp, e, "embedding", "vec_id",
            queries, "q_vec", "q_id", k = 10).localCheckpoint(true)
        }
        val qs = queries.collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
        val sameAsLoop = PhaseTimer.time("q_ann_int8_join", "exact_oracle") {
          qs.forall { case (qid, qv) =>
            val loop = Similarity.int8TopKStored(s, tmp, e, "embedding",
              "vec_id", qv, 10).localCheckpoint(true)
            val got = joined.where(col("q_id") === qid)
              .select(col("vec_id"), col("cosine_sim"))
            got.exceptAll(loop).unionByName(loop.exceptAll(got)).count() == 0L
          }
        }
        joined.groupBy(col("q_id"))
          .agg(max(col("vec_id") === col("q_id") && col("cosine_sim") === 1.0)
              .as("self_found"),
            count(lit(1)).between(1, 10).as("k_ok"))
          .withColumn("same_as_loop", lit(sameAsLoop))
      } finally graft.batch.BatchState.deleteDir(tmp)
    }),


    "q_ann_ivfpq_join" -> ((s, dir) => {
      // round 18 (r17 verdict #2): the q_ann_ivf_join shape over the
      // stored IVF-PQ tier — one pruned scan of (cid, m small ints) rows
      // serves the whole query table, per-query ADC scoring against
      // broadcast per-query lookup tables. The self-hit pin is the
      // PLANTED needle (vec_id = -1, the q_ann_pq discipline, r18
      // advice): a natural corpus row's ADC self-score surviving the
      // oversample·k cut is a data property that a crowded near-duplicate
      // region can flip at scale, while the needle's isolated direction
      // ADC-scores cos(q, recon(q)) far above any natural neighbor by
      // construction — a theorem. same_as_loop stays the hard equality
      // law (every query, needle and natural, exactly equals the
      // single-query ivfPqTopKStored loop); prune_files_ok audits the
      // union-of-probes partition pruning in-row.
      import s.implicits._
      val qNeedle = Array.tabulate(64)(i => math.sin(i + 1.0))
      val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val e = e0.unionByName(Seq((-1L, qNeedle.toSeq)).toDF("vec_id", "embedding")
        .select(col("vec_id"),
          col("embedding").cast(e0.schema("embedding").dataType)))
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq_join_").toString
      try {
        PhaseTimer.time("q_ann_ivfpq_join", "build") {
          Similarity.ivfPqWriteIndex(e, "embedding", "vec_id", tmp,
            dim = 64, nCentroids = 16)
        }
        val queries = e.where(col("vec_id") < 3)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
        val joined = PhaseTimer.time("q_ann_ivfpq_join", "serve_join") {
          Similarity.ivfPqTopKStoredJoin(s, tmp, e, "embedding", "vec_id",
            queries, "q_vec", "q_id", k = 10, nProbe = 4)
            .localCheckpoint(true)
        }
        val qs = queries.collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
        val sameAsLoop = PhaseTimer.time("q_ann_ivfpq_join", "exact_oracle") {
          qs.forall { case (qid, qv) =>
            val loop = Similarity.ivfPqTopKStored(s, tmp, e, "embedding",
              "vec_id", qv, 10, nProbe = 4).localCheckpoint(true)
            val got = joined.where(col("q_id") === qid)
              .select(col("vec_id"), col("cosine_sim"))
            got.exceptAll(loop).unionByName(loop.exceptAll(got)).count() == 0L
          }
        }
        val (cents, _) = Similarity.readIvfPqModel(s, tmp)
        val union = qs.flatMap(q => Similarity.ivfProbeCids(q._2, cents, 4))
          .distinct.toSeq
        val prunedFiles = PhaseTimer.time("q_ann_ivfpq_join", "prune_audit") {
          Similarity.readIvfPqIndex(s, tmp, probeCids = Some(union))
            .select(input_file_name().as("f")).distinct()
            .collect().map(_.getString(0)).filter(_.contains("/ivfpq/"))
        }
        val pruneFilesOk = prunedFiles.nonEmpty &&
          prunedFiles.forall(f => union.exists(p => f.contains(s"/cid=$p/")))
        // the theorem pin: the planted needle query must surface ITSELF
        // at exact-reranked cosine 1.0 (natural corpus rows carry no
        // self pin — their self-survival through the ADC preselect is
        // data, not a law; same_as_loop covers them exactly)
        val needleSelfFound = joined
          .where(col("q_id") === -1L && col("vec_id") === -1L &&
            col("cosine_sim") === 1.0).count() == 1L
        joined.groupBy(col("q_id"))
          .agg(count(lit(1)).between(1, 10).as("k_ok"))
          .withColumn("needle_self_found", lit(needleSelfFound))
          .withColumn("same_as_loop", lit(sameAsLoop))
          .withColumn("prune_files_ok", lit(pruneFilesOk))
      } finally graft.batch.BatchState.deleteDir(tmp)
    }),


    "q_ivf_drift" -> ((s, dir) => {
      // round 18 (r17 verdict #3): frozen-model drift is MEASURED, not
      // discovered as recall loss. The IVF centroids are frozen by design
      // (FAISS discipline: appends assign against the stored model,
      // retraining = rebuild), so the store maintains two cheap retrain-
      // WHEN signals from per-segment cellstats tables (O(change) at
      // write time, never a store scan): cell-occupancy imbalance
      // (max/mean over the model's cells) and appended-mass fraction
      // (rows the frozen model never saw / total). This row exercises
      // both on the real corpus: a fresh bootstrap reads appended 0; a
      // SKEWED append (half the corpus re-pointed at ONE direction —
      // every vector lands in one cell) raises the imbalance and trips
      // the warning at a threshold the appended mass (1/3) also crosses;
      // compaction must carry the trained-corpus marker so the fold
      // cannot launder the drift (frac_survives_compact).
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_drift_").toString
      try {
        PhaseTimer.time("q_ivf_drift", "build") {
          Similarity.ivfWriteIndex(e, "embedding", "vec_id", tmp,
            nCentroids = 16)
        }
        def snap(appendedWarn: Double): (Long, Long, Double, Boolean) = {
          val r = Similarity.ivfDriftStats(s, tmp, imbalanceWarn = 4.0,
            appendedWarn = appendedWarn).collect().head
          (r.getAs[Long]("occupied_rows"), r.getAs[Long]("max_cell_rows"),
            r.getAs[Double]("appended_mass_fraction"),
            r.getAs[Boolean]("drift_warn"))
        }
        val (rows0, _, frac0, _) = snap(0.5)
        // the skewed append: half the corpus under fresh ids, every
        // embedding replaced by ONE fixed direction — frozen-centroid
        // assignment lands them all in the same cell
        val skewVec = typedLit(Array.tabulate(64)(i => math.cos(i / 3.0)).toSeq)
        val skew = e.where(col("vec_id") % 2 === 0)
          .withColumn("vec_id", col("vec_id") + lit(2000000000L))
          .withColumn("embedding", skewVec)
        PhaseTimer.time("q_ivf_drift", "append") {
          Similarity.ivfAppendToStored(s, tmp, skew, "embedding", "vec_id")
        }
        // warn threshold 0.25 < appended 1/3: trips on appended mass even
        // if the corpus' trained occupancy were skewed enough to mask the
        // imbalance delta — deterministic at every scale. The occupancy
        // pin is likewise masking-proof: the skew batch lands entirely in
        // ONE frozen cell, so max_cell_rows must at least reach the skew
        // count regardless of how the trained occupancy was shaped
        // (imbalance-delta pins are data-dependent when a trained cell
        // already holds > 1/3 of the corpus)
        val (rows1, maxCell1, frac1, warn1) = snap(0.25)
        val skewCount = rows1 - rows0
        val expectedFrac = skewCount.toDouble / rows1
        PhaseTimer.time("q_ivf_drift", "compact") {
          Similarity.ivfCompactStored(s, tmp)
        }
        val (_, _, frac2, _) = snap(0.25)
        import s.implicits._
        Seq((16, rows1, frac0 == 0.0, maxCell1 >= skewCount, warn1,
            math.abs(frac1 - expectedFrac) < 0.001, frac2 == frac1))
          .toDF("n_cells", "occupied_rows", "clean_frac_zero", "skew_cell_ok",
            "warn_skewed", "frac_ok", "frac_survives_compact")
      } finally graft.batch.BatchState.deleteDir(tmp)
    }),

    "q_ivf_drift_repair" -> ((s, dir) => {
      // round 19 (r18 verdict #5): the measured repair made actionable,
      // and DEFAULT-OFF pinned. Same plant as q_ivf_drift (skewed fresh-
      // id append: half the corpus at ONE direction — appended mass 1/3
      // and one overflowing frozen cell trip BOTH signals at thresholds
      // 4.0/0.25). The cadence without rebuildOnDrift must warn and
      // leave the store byte-identical in its signals (default off); the
      // cadence WITH the float corpus must re-train under the writer
      // lease (appended fraction returns to 0, trained_rows re-stamped,
      // the rebuilt store serves the full live corpus); a SECOND flagged
      // cadence must not rebuild again — appended reset to 0 fails the
      // AND, which is what keeps a genuinely crowded corpus (imbalance
      // stays high forever) from thrashing rebuilds on every cadence.
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_repair_").toString
      try {
        PhaseTimer.time("q_ivf_drift_repair", "build") {
          Similarity.ivfWriteIndex(e, "embedding", "vec_id", tmp,
            nCentroids = 16)
        }
        def snap(): (Double, Double, Boolean, Boolean) = {
          val r = Similarity.ivfDriftStats(s, tmp, imbalanceWarn = 4.0,
            appendedWarn = 0.25).collect().head
          (r.getAs[Double]("occ_imbalance"),
            r.getAs[Double]("appended_mass_fraction"),
            r.getAs[Boolean]("trained_known"), r.getAs[Boolean]("drift_warn"))
        }
        val skewVec = typedLit(Array.tabulate(64)(i => math.cos(i / 3.0)).toSeq)
        val skew = e.where(col("vec_id") % 2 === 0)
          .withColumn("vec_id", col("vec_id") + lit(2000000000L))
          .withColumn("embedding", skewVec)
          .localCheckpoint(true)
        PhaseTimer.time("q_ivf_drift_repair", "append") {
          Similarity.ivfAppendToStored(s, tmp, skew, "embedding", "vec_id")
        }
        val (_, frac1, _, warn1) = snap()
        // default OFF: warns, mutates nothing
        val offRan = Similarity.ivfCompactIfFragmented(s, tmp,
          appendedWarn = 0.25)
        val (_, fracOff, _, _) = snap()
        val live = e.unionByName(skew).localCheckpoint(true)
        val repaired = PhaseTimer.time("q_ivf_drift_repair", "rebuild") {
          Similarity.ivfCompactIfFragmented(s, tmp,
            rebuildOnDrift = Some(live), appendedWarn = 0.25)
        }
        val (_, frac2, known2, _) = snap()
        val nLive = PhaseTimer.time("q_ivf_drift_repair", "exact_oracle") {
          Similarity.readIvfIndex(s, tmp).count()
        }
        // idempotence: the AND fails on the repaired store
        val again = Similarity.ivfCompactIfFragmented(s, tmp,
          rebuildOnDrift = Some(live), appendedWarn = 0.25)
        import s.implicits._
        Seq((nLive,
            frac1 > 0.25 && warn1,
            !offRan && fracOff == frac1,
            repaired && frac2 == 0.0 && known2,
            !again))
          .toDF("n_live", "planted_drift_warns", "default_off_untouched",
            "flagged_rebuild_repairs", "repair_idempotent")
      } finally graft.batch.BatchState.deleteDir(tmp)
    }),


    "q_streaming_ivf" -> ((s, dir) => {
      // round 18 (r17 verdict #7): streaming ingest for the stored IVF
      // tier — q_streaming_ann's lifecycle with frozen-centroid
      // assignment INSIDE the writer lock. Production shape: train the
      // coarse centroids offline (bounded hashed-id sample), bootstrap an
      // EMPTY cell-partitioned store carrying them, then ingest vectors
      // in micro-batches (foreachBatch → ivfAppendToStored, replay-
      // guarded by batchId — the guard survives compaction via the
      // applied-batch high-water mark in the commit log). After the
      // cadence fold, the full-probe serve must EXACTLY equal the
      // one-shot in-memory int8TopK (full probe = the flat int8 path) —
      // the same four invariants as q_streaming_ann.
      // State story: no state-store state; the codes index is the
      // all-time durable state, replay-guarded by batchId.
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val e = t(s, dir, "embeddings")
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val rows = e.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect()
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Float])]
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_stream_").toString
      try {
        val cents = Similarity.kmeansCentroids(
          e.select(col("vec_id"), col("embedding")), "embedding", "vec_id",
          nCentroids = 16, lloydIters = 2, trainSample = 16384)
        // trainedRows records the OFFLINE training corpus size, so the
        // streamed rows (drawn from the same corpus) don't read as
        // appended-mass drift on the cadence check
        Similarity.ivfWriteIndex(
          e.select(col("vec_id"), col("embedding")).limit(0),
          "embedding", "vec_id", tmp, centroids = Some(cents),
          trainedRows = Some(rows.length.toLong))
        val writer = graft.streaming.StreamingIO.fanout(
          ms.toDS().toDF("vec_id", "embedding"))(Seq(
          (b, bid) => Similarity.ivfAppendToStored(s, tmp, b, "embedding",
            "vec_id", batchId = Some(bid))))
        PhaseTimer.time("q_streaming_ivf", "ingest") {
          withStreamingGateConf(s, 4) {
            val sq = writer.start()
            try {
              (0 until 3).foreach { i =>
                ms.addData(rows.iterator.filter(_._1 % 3 == i).toSeq)
                sq.processAllAvailable()
              }
            } finally sq.stop()
          }
        }
        // cadence fold (3 segments > 1) — runs the drift check too
        PhaseTimer.time("q_streaming_ivf", "compact") {
          Similarity.ivfCompactIfFragmented(s, tmp, maxSegments = 1)
        }
        // the full-probe serve + invariant row is the equality oracle
        // (int8InvariantRow re-ranks the whole corpus in memory) — audit
        // cost, attributed so the 100x reading bills ingest, not audit
        PhaseTimer.time("q_streaming_ivf", "exact_oracle") {
          val stored = Similarity.ivfTopKStored(s, tmp, e, "embedding",
            "vec_id", q, 10, nProbe = 16).localCheckpoint(true)
          int8InvariantRow(e, q, stored)
        }
      } finally graft.batch.BatchState.deleteDir(tmp)
    }),


    "q_streaming_nsw" -> ((s, dir) => {
      // round 20 (r19 verdict #6): streaming ingest for the stored GRAPH
      // tier — the last hole in the streaming-maintenance matrix
      // (IVF/IVF-PQ/BM25/NB all had foreachBatch rows; nswAppendToStored
      // was batch-only). Production shape: bootstrap the day-0 graph
      // (nswWriteIndex of an nswBuild frame), then ingest micro-batches
      // via foreachBatch → nswAppendToStored(batchId) — each append ONE
      // O(|batch|·m) graphdelta segment committed inside the writer
      // lock, replay-guarded by batchId (guard survives compaction via
      // the applied-batch high-water mark), the index serveable between
      // micro-batches. Ids ascend across batches, so the streamed result
      // inherits the append≡rebuild identity (q_ann_nsw_incr's law):
      // pinned in-row against BOTH the ordinal batch-append store and a
      // full nswBuild over everything. The day-2 needle (an exact copy
      // of the query, last batch) is served MID-STREAM, before stop().
      // State story: no state-store state; the graph index is the
      // all-time durable state, replay-guarded by batchId.
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val e = t(s, dir, "embeddings")
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val rows = e.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().sortBy(_._1)
      val third = (rows.length + 2) / 3
      val day0 = rows.take(third)
      val needle = (rows.last._1 + 1000000L, q.map(_.toFloat))
      val batches: Seq[Seq[(Long, Array[Float])]] = Seq(
        rows.slice(third, 2 * third).toSeq,
        rows.drop(2 * third).toSeq,
        Seq(needle))
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Float])]
      val tmpS = java.nio.file.Files.createTempDirectory("graft_nsw_stream_").toString
      val tmpB = java.nio.file.Files.createTempDirectory("graft_nsw_sbatch_").toString
      try {
        def df(b: Seq[(Long, Array[Float])]) = b.toDF("vec_id", "embedding")
          .select(col("vec_id"),
            col("embedding").cast(e.schema("embedding").dataType))
        PhaseTimer.time("q_streaming_nsw", "build") {
          val built = Similarity.nswBuild(df(day0.toSeq), "embedding",
            "vec_id").localCheckpoint(true)
          Similarity.nswWriteIndex(built, tmpS)
          Similarity.nswWriteIndex(built, tmpB)
        }
        val writer = graft.streaming.StreamingIO.fanout(
          ms.toDS().toDF("vec_id", "embedding"))(Seq(
          (b, bid) => Similarity.nswAppendToStored(s, tmpS,
            b.select(col("vec_id"),
              col("embedding").cast(e.schema("embedding").dataType)),
            "embedding", "vec_id", batchId = Some(bid))))
        var needleMidStream = false
        PhaseTimer.time("q_streaming_nsw", "ingest") {
          withStreamingGateConf(s, 4) {
            val sq = writer.start()
            try {
              batches.foreach { b => ms.addData(b); sq.processAllAvailable() }
              // day-2 needle served MID-STREAM (the stream is live): the
              // appended exact copy of the query ranks first at 1.0
              val served = Similarity.nswSearchBuilt(
                Similarity.readNswIndex(s, tmpS), "embedding", "vec_id",
                q, k = 10).localCheckpoint(true)
              needleMidStream = served
                .agg(max_by(col("vec_id"), col("nsw_sim")).as("top"),
                  max(col("nsw_sim")).as("sim")).collect().headOption
                .exists(r => r.getLong(0) == needle._1 && r.getDouble(1) == 1.0)
            } finally sq.stop()
          }
        }
        // replay guard: re-delivering an applied batch id is a no-op —
        // the commit log must be byte-identical around it
        val segsBefore = graft.batch.SegmentedStore.committedSegs(tmpS)
        Similarity.nswAppendToStored(s, tmpS, df(Seq(needle)), "embedding",
          "vec_id", batchId = Some(2L))
        val replayNoop =
          graft.batch.SegmentedStore.committedSegs(tmpS) == segsBefore
        // equality oracles: streamed ≡ ordinal batch appends ≡ full
        // rebuild (ascending ids — the append-only identity), both
        // audit-attributed
        val idxS = Similarity.readNswIndex(s, tmpS).localCheckpoint(true)
        val eqBatch = PhaseTimer.time("q_streaming_nsw", "exact_oracle") {
          batches.foreach(b => Similarity.nswAppendToStored(s, tmpB, df(b),
            "embedding", "vec_id"))
          val idxB = Similarity.readNswIndex(s, tmpB).localCheckpoint(true)
          setEq(idxS, idxB)
        }
        val eqRebuild = PhaseTimer.time("q_streaming_nsw", "rebuild_oracle") {
          val rebuilt = Similarity.nswBuild(df(rows.toSeq :+ needle),
            "embedding", "vec_id").localCheckpoint(true)
          setEq(idxS, rebuilt)
        }
        idxS.agg(count(lit(1)).as("n_vecs"))
          .withColumn("needle_mid_stream", lit(needleMidStream))
          .withColumn("stream_eq_batch", lit(eqBatch))
          .withColumn("eq_rebuild", lit(eqRebuild))
          .withColumn("replay_noop", lit(replayNoop))
      } finally {
        graft.batch.BatchState.deleteDir(tmpS)
        graft.batch.BatchState.deleteDir(tmpB)
      }
    }),


    "q_streaming_ivfpq" -> ((s, dir) => {
      // round 18: streaming ingest for the stored IVF-PQ tier —
      // q_streaming_ivf's shape on the IVFADC layout: the model (coarse
      // centroids + residual codebooks) trains OFFLINE on a bounded
      // sample, an EMPTY cell-partitioned store bootstraps carrying it
      // (trained_rows = the true training corpus), micro-batch appends
      // encode residuals against the FROZEN model inside the writer lock
      // (replay-guarded by batchId), the cadence folds, and the
      // full-probe serve must EXACTLY equal the in-memory same-model
      // path over the corpus (identical codes → identical ADC ranks →
      // identical exact re-rank — the q_ann_ivfpq_stored equality on the
      // streaming ingest path). k contract pinned beside it.
      // State story: no state-store state; the codes index is the
      // all-time durable state, replay-guarded by batchId.
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val e = t(s, dir, "embeddings")
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val rows = e.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect()
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Float])]
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq_stream_").toString
      try {
        val model = Similarity.ivfPqTrain(
          e.select(col("vec_id"), col("embedding")), "embedding", "vec_id",
          dim = 64, nCentroids = 16)
        Similarity.ivfPqWriteIndex(
          e.select(col("vec_id"), col("embedding")).limit(0),
          "embedding", "vec_id", tmp, dim = 64, nCentroids = 16,
          model = Some(model), trainedRows = Some(rows.length.toLong))
        val writer = graft.streaming.StreamingIO.fanout(
          ms.toDS().toDF("vec_id", "embedding"))(Seq(
          (b, bid) => Similarity.ivfPqAppendToStored(s, tmp, b, "embedding",
            "vec_id", batchId = Some(bid))))
        PhaseTimer.time("q_streaming_ivfpq", "ingest") {
          withStreamingGateConf(s, 4) {
            val sq = writer.start()
            try {
              (0 until 3).foreach { i =>
                ms.addData(rows.iterator.filter(_._1 % 3 == i).toSeq)
                sq.processAllAvailable()
              }
            } finally sq.stop()
          }
        }
        PhaseTimer.time("q_streaming_ivfpq", "compact") {
          Similarity.ivfPqCompactIfFragmented(s, tmp, maxSegments = 1)
        }
        PhaseTimer.time("q_streaming_ivfpq", "exact_oracle") {
          val stored = Similarity.ivfPqTopKStored(s, tmp, e, "embedding",
            "vec_id", q, 10, nProbe = 16).localCheckpoint(true)
          val (cents, books) = Similarity.readIvfPqModel(s, tmp)
          val mem = Similarity.ivfPqTopKWithModel(
            e.select(col("vec_id"), col("embedding")), "embedding", "vec_id",
            q, 10, cents, books, nProbe = 16).localCheckpoint(true)
          val nDiff = stored.exceptAll(mem).unionByName(mem.exceptAll(stored))
            .count()
          e.agg(count(lit(1)).as("n_vecs"))
            .withColumn("same_as_mem", lit(nDiff == 0L))
            .withColumn("k_ok", lit(stored.count() == 10L))
        }
      } finally graft.batch.BatchState.deleteDir(tmp)
    }),


    "q_streaming_ann" -> ((s, dir) => {
      // streaming ANN index maintenance — the embedding-side counterpart
      // of q_streaming_bm25's lifecycle: vectors arrive in 3 vec_id-sliced
      // micro-batches, each committed as a new codes segment inside
      // foreachBatch (int8AppendToStored; the index stays serveable
      // between batches), compaction folds the segments, and the served
      // top-k must EXACTLY equal the one-shot in-memory int8TopK —
      // pinned alongside q_ann_int8's recall/k invariants.
      // State story: no state-store state; the codes index is the
      // all-time durable state, replay-guarded by batchId (see
      // StreamingIO.fanout)
      import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val e = t(s, dir, "embeddings")
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val rows = e.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect()
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Array[Float])]
      val tmp = java.nio.file.Files.createTempDirectory("graft_ann_stream_").toString
      try {
        Similarity.int8WriteIndex(e.select("vec_id", "embedding").limit(0),
          "embedding", "vec_id", tmp)
        val writer = graft.streaming.StreamingIO.fanout(
          ms.toDS().toDF("vec_id", "embedding"))(Seq(
          (b, bid) => Similarity.int8AppendToStored(s, tmp, b, "embedding",
            "vec_id", batchId = Some(bid))))
        withStreamingGateConf(s, 4) {
          val sq = writer.start()
          try {
            (0 until 3).foreach { i =>
              ms.addData(rows.iterator.filter(_._1 % 3 == i).toSeq)
              sq.processAllAvailable()
            }
          } finally sq.stop()
        }
        Similarity.int8CompactStored(s, tmp)
        val stored = Similarity.int8TopKStored(s, tmp, e, "embedding",
          "vec_id", q, 10).localCheckpoint(true)
        int8InvariantRow(e, q, stored)
      } finally graft.batch.BatchState.deleteDir(tmp)
    }),


    "q_ann_lsh" -> ((s, dir) => {
      // LSH ANN with a self-hit invariant oracle: each query vector IS a
      // table row, so it lands in its own bucket (multi-probe includes the
      // identity probe), scores cosine 1.0 against itself, and must rank
      // first — self_found is deterministic even though the rest of the
      // top-k is hash-specific. k_ok pins the top-k contract (1..k rows
      // per query). Recall-vs-brute law lives in ApproxOpsSpec.
      val e = t(s, dir, "embeddings")
      val queries = e.where(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.lshTopK(e, "embedding", "vec_id", queries, "q_vec", "q_id",
          dim = 64, k = 5, nBits = 8)
        .groupBy(col("q_id"))
        .agg(max(col("vec_id") === col("q_id") && col("cosine_sim") === 1.0)
            .as("self_found"),
          (count(lit(1)).between(1, 5)).as("k_ok"))
    }),


    "q_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val queries = e.where(col("vec_id") < 3)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      Similarity.ivfTopK(s, e, "embedding", "vec_id", queries, "q_vec", "q_id",
        k = 5, nCentroids = 8, nProbe = 8) // full probe = exact
    }),


    "q_ann_pq" -> ((s, dir) => {
      // product-quantization ANN with a planted-needle invariant oracle
      // (q_hll pattern): ADC ranking is quantization-specific, but a
      // planted exact match of the query (vec_id = −1) must surface in
      // the top-k — its ADC score is cos(q, recon(q)) ≈ 0.76-0.83 on this
      // corpus while the best natural neighbor scores ≤ ~0.48, so the
      // needle found/not-found bit is deterministic. The full PQ path
      // (codebook training, encode, codes-only ADC rescore) runs over
      // corpus + needle to produce the row. ADC-exactness and
      // recall-vs-brute laws live in ApproxOpsSpec.
      import s.implicits._
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val needle = Seq((-1L, q.toSeq)).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast(e0.schema("embedding").dataType))
      Similarity.pqTopK(e0.union(needle), "embedding", "vec_id", q,
          k = 10, dim = 64, m = 8, c = 16)
        .agg(count(lit(1)).as("k"), countDistinct(col("vec_id")).as("n_ids"),
          max(col("vec_id") === -1L).as("needle_found"))
    }),


    "q_ann_nsw" -> ((s, dir) => {
      // graph ANN (partitioned NSW — HNSW's layer-0 per shard): planted-
      // needle invariant oracle, q_ann_pq construction. The needle (exact
      // copy of the query, vec_id = -1) scores cosine 1.0 while the best
      // natural neighbor is far below; the greedy beam search must
      // surface it from its shard's graph, and the merged top-k is
      // deterministic by the smaller-id tie rule. Recall-vs-brute and
      // built-index-equality laws live in ApproxOpsSpec.
      import s.implicits._
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val needle = Seq((-1L, q.toSeq)).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast(e0.schema("embedding").dataType))
      Similarity.nswTopK(e0.union(needle), "embedding", "vec_id", q, k = 10)
        .agg(count(lit(1)).as("k"), countDistinct(col("vec_id")).as("n_ids"),
          max(col("vec_id") === -1L && col("nsw_sim") === 1.0).as("needle_found"))
    }),


    "q_ann_nsw_coded" -> ((s, dir) => {
      // codes-only NSW serving: the persisted index swaps vectors for PQ
      // codes (nswEncodeIndex) and the beam search scores by ADC lookups
      // (nswSearchCoded) — the needle's quantized self-similarity
      // dominates natural neighbors by the q_ann_pq margin, so
      // found-in-top-k stays deterministic through BOTH approximations
      // (graph greediness + quantization).
      import s.implicits._
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val needle = Seq((-1L, q.toSeq)).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast(e0.schema("embedding").dataType))
      val full = e0.union(needle)
      val books = Similarity.pqCodebooks(full, "embedding", "vec_id",
        dim = 64, m = 8, c = 16)
      val coded = Similarity.nswEncodeIndex(
        Similarity.nswBuild(full, "embedding", "vec_id"),
        "embedding", "vec_id", books).localCheckpoint(true)
      Similarity.nswSearchCoded(coded, "vec_id", books, q, k = 10)
        .agg(count(lit(1)).as("k"), countDistinct(col("vec_id")).as("n_ids"),
          max(col("vec_id") === -1L).as("needle_found"))
    }),


    "q_nsw_delete" -> ((s, dir) => {
      // round 14: takedown on the GRAPH-ANN serving form
      // (nswDeleteFromBuilt — HNSW-style tombstones: a deleted node is
      // never RETURNED but still routes as a waypoint, so connectivity
      // is preserved; physical fold = the maintenance-cadence rebuild).
      // TWO exact copies of the query are planted and one revoked: the
      // served top-k must surface the retained copy at cosine 1.0,
      // never the revoked one nor any of the revoked id slice, with k
      // rows — through the persisted adjacency round-trip.
      import s.implicits._
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val needles = Seq((-1L, q.toSeq), (-2L, q.toSeq)).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast(e0.schema("embedding").dataType))
      val index = PhaseTimer.time("q_nsw_delete", "build") {
        Similarity.nswBuild(e0.union(needles), "embedding", "vec_id")
          .localCheckpoint(true)
      }
      val marked = Similarity.nswDeleteFromBuilt(index,
        e0.where(col("vec_id") % 97 === 0).select("vec_id")
          .union(Seq(-1L).toDF("vec_id")), "vec_id")
      Similarity.nswSearchBuilt(marked, "embedding", "vec_id", q, k = 10)
        .agg(count(lit(1)).as("k"),
          max(col("vec_id") === -2L && col("nsw_sim") === 1.0).as("retained_needle"),
          max(col("vec_id") === -1L || col("vec_id") % 97 === 0).as("served_deleted"))
    }),


    "q_nsw_delete_stored" -> ((s, dir) => {
      // round 15: takedown on the PERSISTED graph index (nswWriteIndex →
      // nswDeleteFromStored → readNswIndex): the takedown is one tiny
      // mark segment behind an atomic flip — the graph payload is never
      // rewritten — and the reload OR-folds the marks into nsw_deleted,
      // so the served top-k obeys exactly q_nsw_delete's invariants:
      // retained copy at cosine 1.0, revoked needle and revoked slice
      // never surface, k rows (tombstoned nodes still route).
      import s.implicits._
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val needles = Seq((-1L, q.toSeq), (-2L, q.toSeq)).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast(e0.schema("embedding").dataType))
      val tmp = java.nio.file.Files.createTempDirectory("graft_nsw_idx_").toString
      try {
        PhaseTimer.time("q_nsw_delete_stored", "build") {
          Similarity.nswWriteIndex(
            Similarity.nswBuild(e0.union(needles), "embedding", "vec_id"), tmp)
        }
        PhaseTimer.time("q_nsw_delete_stored", "takedown") {
          Similarity.nswDeleteFromStored(s, tmp,
            e0.where(col("vec_id") % 97 === 0).select("vec_id")
              .union(Seq(-1L).toDF("vec_id")))
        }
        // the takedown never rewrote the graph payload: one graph segment
        // plus one marks-only segment
        val segs = graft.batch.SegmentedStore.committedSegs(tmp)
        require(segs.size == 2 && !graft.batch.StoreFs.exists(
          s"${graft.batch.SegmentedStore.segDir(tmp, segs.max)}/graph"),
          s"q_nsw_delete_stored: takedown was not a marks-only segment ($segs)")
        Similarity.nswSearchBuilt(Similarity.readNswIndex(s, tmp),
            "embedding", "vec_id", q, k = 10)
          .agg(count(lit(1)).as("k"),
            max(col("vec_id") === -2L && col("nsw_sim") === 1.0).as("retained_needle"),
            max(col("vec_id") === -1L || col("vec_id") % 97 === 0).as("served_deleted"))
          .localCheckpoint(true)
      } finally graft.batch.BatchState.deleteDir(tmp)
    }),


    "q_nsw_lifecycle_stored" -> ((s, dir) => {
      // round 15 (delta appends round 16): the FULL stored-graph
      // lifecycle in one row — bootstrap (nswWriteIndex) → takedown (one
      // mark segment; the original needle revoked) → append
      // (nswAppendToStored: one O(|batch|·m) graphdelta segment, a fresh
      // exact copy of the query ingested; the mark keeps applying
      // through the read-side fold) → compaction (nswCompactStored:
      // deltas + marks folded physically, segments down to one) → serve.
      // The appended copy must rank first at cosine 1.0, the revoked
      // original must never surface, and the compacted index must hold
      // exactly corpus-1+1 rows with no marks left (asserted in-row).
      import s.implicits._
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val needle = Seq((-1L, q.toSeq)).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast(e0.schema("embedding").dataType))
      val tmp = java.nio.file.Files.createTempDirectory("graft_nsw_lc_").toString
      try {
        val n0 = e0.count()
        PhaseTimer.time("q_nsw_lifecycle_stored", "build") {
          Similarity.nswWriteIndex(
            Similarity.nswBuild(e0.union(needle), "embedding", "vec_id"), tmp)
        }
        PhaseTimer.time("q_nsw_lifecycle_stored", "takedown") {
          Similarity.nswDeleteFromStored(s, tmp, Seq(-1L).toDF("vec_id"))
        }
        PhaseTimer.time("q_nsw_lifecycle_stored", "append") {
          Similarity.nswAppendToStored(s, tmp,
            needle.select(lit(-2L).as("vec_id"), col("embedding")),
            "embedding", "vec_id")
        }
        PhaseTimer.time("q_nsw_lifecycle_stored", "compact") {
          Similarity.nswCompactStored(s, tmp, "embedding", "vec_id")
        }
        val segs = graft.batch.SegmentedStore.committedSegs(tmp)
        require(segs.size == 1,
          s"q_nsw_lifecycle_stored: compaction left ${segs.size} segments")
        val idx = Similarity.readNswIndex(s, tmp).localCheckpoint(true)
        require(!idx.columns.contains("nsw_deleted") ||
          idx.where(col("nsw_deleted")).limit(1).count() == 0,
          "q_nsw_lifecycle_stored: compaction left live marks")
        val nRows = idx.count()
        require(nRows == n0 + 1,
          s"q_nsw_lifecycle_stored: expected ${n0 + 1} rows, got $nRows")
        // appended_first asserts RANK (round-16 review): the top-scored
        // row must BE the appended copy at cosine 1.0 — membership alone
        // would pass with the copy served at rank 5
        Similarity.nswSearchBuilt(idx, "embedding", "vec_id", q, k = 10)
          .agg(count(lit(1)).as("k"),
            (max_by(col("vec_id"), col("nsw_sim")) === -2L &&
              max(col("nsw_sim")) === 1.0).as("appended_first"),
            max(col("vec_id") === -1L).as("served_deleted"))
      } finally graft.batch.BatchState.deleteDir(tmp)
    }),

    "q_nsw_health" -> ((s, dir) => {
      // round 19 (r18 verdict #4): the graph tiers' health row, mirroring
      // q_ivf_drift's discipline — tombstone-mass fraction (dead rows
      // still route: they pay beam-search work and return nothing) and
      // shard imbalance, folded O(segments) from per-segment graphstats
      // the write verbs maintain O(change). Lifecycle exercised on the
      // real corpus with PROPORTIONAL plants so the row stays meaningful
      // at every bench scale: a clean build reads fraction 0; a planted
      // takedown of 30% of the corpus (vec_id % 10 < 3 — id shifts at
      // 10x/100x are multiples of 10, so the share holds) raises the
      // fraction past the 0.2 threshold and trips the warning; a 10%
      // delta append dilutes but cannot launder it (mirrored marks count
      // once); compaction clears it exactly. The cadence guard
      // (nswCompactIfFragmented) runs the same row on the maintenance
      // path an operator already watches.
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_nsw_health_").toString
      try {
        val n = e.count()
        val nTake = e.where(col("vec_id") % 10 < 3).count()
        val nApp = e.where(col("vec_id") % 10 === 0).count()
        PhaseTimer.time("q_nsw_health", "build") {
          Similarity.nswWriteIndex(
            Similarity.nswBuild(e, "embedding", "vec_id"), tmp)
        }
        def snap(): (Long, Long, Double, Long, Boolean, Boolean) = {
          val r = Similarity.graphHealthStats(s, tmp).collect().head
          (r.getAs[Long]("live_rows"), r.getAs[Long]("tombstone_rows"),
            r.getAs[Double]("tombstone_fraction"),
            r.getAs[Long]("appended_rows"),
            r.getAs[Boolean]("stats_exact"), r.getAs[Boolean]("health_warn"))
        }
        val (live0, tomb0, frac0, _, exact0, warn0) = snap()
        PhaseTimer.time("q_nsw_health", "takedown") {
          Similarity.nswDeleteFromStored(s, tmp,
            e.where(col("vec_id") % 10 < 3).select("vec_id"))
        }
        val (live1, tomb1, frac1, _, _, warn1) = snap()
        PhaseTimer.time("q_nsw_health", "append") {
          Similarity.nswAppendToStored(s, tmp,
            e.where(col("vec_id") % 10 === 0)
              .withColumn("vec_id", col("vec_id") + lit(3000000000L)),
            "embedding", "vec_id")
        }
        val (live2, tomb2, frac2, app2, _, warn2) = snap()
        // the cadence path: under the segment threshold no fold runs,
        // but the health row fires (the warning lands on stderr here)
        val cadenceFolded = Similarity.nswCompactIfFragmented(s, tmp,
          "embedding", "vec_id", maxSegments = 8)
        PhaseTimer.time("q_nsw_health", "compact") {
          Similarity.nswCompactStored(s, tmp, "embedding", "vec_id")
        }
        val (live3, tomb3, frac3, app3, exact3, warn3) = snap()
        import s.implicits._
        Seq((live3,
            live0 == n && tomb0 == 0L && frac0 == 0.0 && exact0 && !warn0,
            live1 == n - nTake && tomb1 == nTake && frac1 > 0.2 && warn1,
            live2 == n - nTake + nApp && tomb2 == nTake && app2 == nApp &&
              frac2 < frac1 && warn2,
            !cadenceFolded,
            live3 == n - nTake + nApp && tomb3 == 0L && frac3 == 0.0 &&
              app3 == 0L && exact3 && !warn3))
          .toDF("n_live_final", "clean_ok", "takedown_warns", "append_ok",
            "cadence_no_fold", "compact_clears")
      } finally graft.batch.BatchState.deleteDir(tmp)
    }),


    "q_nsw_wear_repair" -> ((s, dir) => {
      // round 20 (r19 verdict #1): the graph tiers' wear REPAIR on the
      // maintenance cadence — compactOnWear wires graphHealthStats'
      // measured signal (the r19 probe's 1.48x dead-row serve tax at
      // 50% tombstones) to the existing locked compaction, mirroring
      // the codes tiers' rebuildOnDrift discipline. Proportional plant
      // (30% takedown, the q_nsw_health share — scale-stable). Pins:
      // the default-off cadence warns but mutates nothing (the r19 gap:
      // a single-payload store at 0.3 tombstone mass warned forever);
      // the flagged cadence folds under the writer lease, sweeps the
      // marks, resets the stats exactly; the reset fraction cannot
      // re-trip (anti-thrash: tombstone_fraction is the ONLY trigger
      // and compaction zeroes it — imbalance deliberately never
      // triggers, a skew rebuild would thrash nightly O(index) work).
      val e = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_nsw_wear_").toString
      try {
        val n = e.count()
        val nTake = e.where(col("vec_id") % 10 < 3).count()
        PhaseTimer.time("q_nsw_wear_repair", "build") {
          Similarity.nswWriteIndex(
            Similarity.nswBuild(e, "embedding", "vec_id"), tmp)
        }
        PhaseTimer.time("q_nsw_wear_repair", "takedown") {
          Similarity.nswDeleteFromStored(s, tmp,
            e.where(col("vec_id") % 10 < 3).select("vec_id"))
        }
        def snap(): (Long, Long, Double, Boolean) = {
          val r = Similarity.graphHealthStats(s, tmp).collect().head
          (r.getAs[Long]("live_rows"), r.getAs[Long]("tombstone_rows"),
            r.getAs[Double]("tombstone_fraction"),
            r.getAs[Boolean]("health_warn"))
        }
        val (live1, tomb1, frac1, warn1) = snap()
        val planted = live1 == n - nTake && tomb1 == nTake &&
          frac1 > 0.2 && warn1
        // default OFF: the cadence only warns (the r19 gap, now pinned)
        val offRan = Similarity.nswCompactIfFragmented(s, tmp,
          "embedding", "vec_id", maxSegments = 8)
        val (_, tomb2, _, _) = snap()
        val offUntouched = !offRan && tomb2 == nTake
        // flag ON: the wear guard folds under the writer lease
        val onRan = PhaseTimer.time("q_nsw_wear_repair", "compact") {
          Similarity.nswCompactIfFragmented(s, tmp, "embedding", "vec_id",
            maxSegments = 8, compactOnWear = true)
        }
        val (live3, tomb3, frac3, warn3) = snap()
        val repaired = onRan && live3 == n - nTake && tomb3 == 0L &&
          frac3 == 0.0 && !warn3 &&
          graft.batch.SegmentedStore.committedSegs(tmp).length == 1
        // anti-thrash: the reset fraction cannot re-trip the fold
        val again = Similarity.nswCompactIfFragmented(s, tmp,
          "embedding", "vec_id", maxSegments = 8, compactOnWear = true)
        import s.implicits._
        Seq((live3, planted, offUntouched, repaired, !again))
          .toDF("n_live", "planted_wear_warns", "default_off_untouched",
            "flagged_fold_repairs", "repair_idempotent")
      } finally graft.batch.BatchState.deleteDir(tmp)
    }),


    "q_hnsw_lifecycle_stored" -> ((s, dir) => {
      // round 16: the stored HIERARCHICAL tier's full lifecycle —
      // bootstrap (hnswWriteIndex of an hnswBuild frame) → takedown (one
      // mark segment; the original needle revoked) → append (one
      // O(|batch|·m) graphdelta via the hierarchical insert-replay) →
      // compaction (hnswCompactStored: hierarchy rebuilt over retained,
      // segments to one) → serve through hnswSearchBuilt (tombstones
      // gate results, route as waypoints at every layer). Same
      // invariants as q_nsw_lifecycle_stored on the multi-layer frame.
      import s.implicits._
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val needle = Seq((-1L, q.toSeq)).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast(e0.schema("embedding").dataType))
      val tmp = java.nio.file.Files.createTempDirectory("graft_hnsw_lc_").toString
      try {
        val n0 = e0.count()
        PhaseTimer.time("q_hnsw_lifecycle_stored", "build") {
          Similarity.hnswWriteIndex(
            Similarity.hnswBuild(e0.union(needle), "embedding", "vec_id"), tmp)
        }
        PhaseTimer.time("q_hnsw_lifecycle_stored", "takedown") {
          Similarity.hnswDeleteFromStored(s, tmp, Seq(-1L).toDF("vec_id"))
        }
        PhaseTimer.time("q_hnsw_lifecycle_stored", "append") {
          Similarity.hnswAppendToStored(s, tmp,
            needle.select(lit(-2L).as("vec_id"), col("embedding")),
            "embedding", "vec_id")
        }
        // the append committed a delta-only segment, never a rewrite
        val preCompact = graft.batch.SegmentedStore.committedSegs(tmp)
        require(preCompact.size == 3 && !graft.batch.StoreFs.exists(
          s"${graft.batch.SegmentedStore.segDir(tmp, preCompact.max)}/graph"),
          s"q_hnsw_lifecycle_stored: append was not delta-only ($preCompact)")
        PhaseTimer.time("q_hnsw_lifecycle_stored", "compact") {
          Similarity.hnswCompactStored(s, tmp, "embedding", "vec_id")
        }
        val segs = graft.batch.SegmentedStore.committedSegs(tmp)
        require(segs.size == 1,
          s"q_hnsw_lifecycle_stored: compaction left ${segs.size} segments")
        val idx = Similarity.readHnswIndex(s, tmp).localCheckpoint(true)
        require(!idx.columns.contains("nsw_deleted") ||
          idx.where(col("nsw_deleted")).limit(1).count() == 0,
          "q_hnsw_lifecycle_stored: compaction left live marks")
        val nRows = idx.count()
        require(nRows == n0 + 1,
          s"q_hnsw_lifecycle_stored: expected ${n0 + 1} rows, got $nRows")
        // appended_first asserts RANK, not membership: the top-scored row
        // must BE the appended copy at cosine 1.0 (max_by picks the served
        // rank-1 id; the exact copy is the unique 1.0, so no tie)
        Similarity.hnswSearchBuilt(idx, "embedding", "vec_id", q, k = 10)
          .agg(count(lit(1)).as("k"),
            (max_by(col("vec_id"), col("hnsw_sim")) === -2L &&
              max(col("hnsw_sim")) === 1.0).as("appended_first"),
            max(col("vec_id") === -1L).as("served_deleted"))
      } finally graft.batch.BatchState.deleteDir(tmp)
    }),


    "q_nsw_append_stored" -> ((s, dir) => {
      // round 16: O(batch) stored append — nswWriteIndex over day 1,
      // then nswAppendToStored of a day-2 batch (needle + noise, ids
      // above every indexed id). Asserted in-row: the append committed
      // ONE graphdelta-only segment of ≤ |batch|·(m+1) rows (never an
      // index-sized rewrite — the round-15 append rewrote the whole
      // grown graph) and the read-side last-writer-wins reassembly is
      // IDENTICAL to a full rebuild over both days (append-only ids →
      // rebuild-identical construction). Output: the q_ann_nsw_incr
      // search invariants + the equality bit, oracle-pinned TRUE.
      import s.implicits._
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val vecType = e0.schema("embedding").dataType
      val base = 1000000000L
      val day2 = ((base, q.toSeq) +: Seq.tabulate(20)(j =>
          (base + 1 + j.toLong, Seq.tabulate(64)(i => math.sin(j * 64 + i + 2.0)))))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast(vecType))
      val tmp = java.nio.file.Files.createTempDirectory("graft_nsw_app_").toString
      try {
        PhaseTimer.time("q_nsw_append_stored", "build") {
          Similarity.nswWriteIndex(
            Similarity.nswBuild(e0, "embedding", "vec_id"), tmp)
        }
        PhaseTimer.time("q_nsw_append_stored", "append") {
          Similarity.nswAppendToStored(s, tmp, day2, "embedding", "vec_id")
        }
        val segs = graft.batch.SegmentedStore.committedSegs(tmp)
        require(segs.size == 2 && !graft.batch.StoreFs.exists(
          s"${graft.batch.SegmentedStore.segDir(tmp, segs.max)}/graph"),
          s"q_nsw_append_stored: append was not a delta-only segment ($segs)")
        val deltaRows = s.read.parquet(
          s"${graft.batch.SegmentedStore.segDir(tmp, segs.max)}/graphdelta").count()
        require(deltaRows <= 21L * 9L, // |batch|·(m+1), m = 8
          s"q_nsw_append_stored: delta not O(|batch|·m): $deltaRows rows")
        val idx = Similarity.readNswIndex(s, tmp).localCheckpoint(true)
        // the append ≡ rebuild equality ORACLE costs a second full build —
        // audit cost, attributed separately from the operator phases
        val eq = PhaseTimer.time("q_nsw_append_stored", "rebuild_oracle") {
          val rebuilt = Similarity.nswBuild(e0.unionByName(day2),
            "embedding", "vec_id").localCheckpoint(true)
          setEq(idx, rebuilt)
        }
        Similarity.nswSearchBuilt(idx, "embedding", "vec_id", q, k = 10)
          .agg(count(lit(1)).as("k"), countDistinct(col("vec_id")).as("n_ids"),
            max(col("vec_id") === base && col("nsw_sim") === 1.0).as("needle_found"))
          .withColumn("append_eq_rebuild", lit(eq))
      } finally graft.batch.BatchState.deleteDir(tmp)
    }),


    "q_ann_hnsw" -> ((s, dir) => {
      // round 10: REAL hierarchical NSW (full HNSW per shard — id-hash
      // level assignment, greedy descent through the upper layers, beam
      // at layer 0). Same planted-needle invariant as q_ann_nsw, searched
      // through the PERSISTED multi-layer index so the (id, vec,
      // layer_nbrs) round-trip and the re-derived entry point are what
      // the gate exercises.
      import s.implicits._
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val needle = Seq((-1L, q.toSeq)).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast(e0.schema("embedding").dataType))
      val index = Similarity.hnswBuild(e0.union(needle), "embedding", "vec_id")
        .localCheckpoint(true)
      Similarity.hnswSearchBuilt(index, "embedding", "vec_id", q, k = 10)
        .agg(count(lit(1)).as("k"), countDistinct(col("vec_id")).as("n_ids"),
          max(col("vec_id") === -1L && col("hnsw_sim") === 1.0).as("needle_found"))
    }),


    "q_ann_hnsw_coded" -> ((s, dir) => {
      // codes-only hierarchical serving: the persisted HNSW index swaps
      // vectors for PQ codes (hnswEncodeIndex) and BOTH the greedy
      // upper-layer descent and the layer-0 beam score by ADC lookups —
      // the needle's quantized self-similarity dominates natural
      // neighbors by the q_ann_pq margin through the whole hierarchy.
      import s.implicits._
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val needle = Seq((-1L, q.toSeq)).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast(e0.schema("embedding").dataType))
      val full = e0.union(needle)
      val books = Similarity.pqCodebooks(full, "embedding", "vec_id",
        dim = 64, m = 8, c = 16)
      val coded = Similarity.hnswEncodeIndex(
        Similarity.hnswBuild(full, "embedding", "vec_id"),
        "embedding", "vec_id", books).localCheckpoint(true)
      Similarity.hnswSearchCoded(coded, "vec_id", books, q, k = 10)
        .agg(count(lit(1)).as("k"), countDistinct(col("vec_id")).as("n_ids"),
          max(col("vec_id") === -1L).as("needle_found"))
    }),


    "q_ann_hnsw_incr" -> ((s, dir) => {
      // incremental maintenance for the HIERARCHICAL index — same
      // daily-ingest contract and append-only insert ≡ rebuild equality
      // as q_ann_nsw_incr, through hnswInsertAgainst (levels are
      // id-derived, the entry only advances on a strictly higher level,
      // so the replayed loop is node-for-node identical).
      import s.implicits._
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val vecType = e0.schema("embedding").dataType
      val base = 1000000000L
      val day2 = ((base, q.toSeq) +: Seq.tabulate(20)(j =>
          (base + 1 + j.toLong, Seq.tabulate(64)(i => math.sin(j * 64 + i + 2.0)))))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast(vecType))
      val idx1 = Similarity.hnswBuild(e0, "embedding", "vec_id").localCheckpoint(true)
      val incr = Similarity.hnswInsertAgainst(idx1, day2, "embedding", "vec_id")
        .localCheckpoint(true)
      val rebuilt = Similarity.hnswBuild(e0.unionByName(day2), "embedding", "vec_id")
        .localCheckpoint(true)
      val eq = setEq(incr, rebuilt)
      Similarity.hnswSearchBuilt(incr, "embedding", "vec_id", q, k = 10)
        .agg(count(lit(1)).as("k"), countDistinct(col("vec_id")).as("n_ids"),
          max(col("vec_id") === base && col("hnsw_sim") === 1.0).as("needle_found"))
        .withColumn("insert_eq_rebuild", lit(eq))
    }),


    "q_ann_nsw_incr" -> ((s, dir) => {
      // incremental ANN maintenance (nswInsertAgainst — the daily-ingest
      // contract, as Dedup.exactAgainst): day 1 builds the index over the
      // corpus; day 2 appends a batch at ids above every indexed id — the
      // planted needle (exact query copy) plus deterministic noise rows.
      // The incremental index must be IDENTICAL to a full rebuild over
      // both days (append-only insert replays the construction loop node
      // for node) and the day-2 needle must surface from a search of the
      // incrementally-maintained index — both Spark-computed invariants
      // the oracle pins TRUE.
      import s.implicits._
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val vecType = e0.schema("embedding").dataType
      val base = 1000000000L
      val day2 = ((base, q.toSeq) +: Seq.tabulate(20)(j =>
          (base + 1 + j.toLong, Seq.tabulate(64)(i => math.sin(j * 64 + i + 2.0)))))
        .toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast(vecType))
      val idx1 = Similarity.nswBuild(e0, "embedding", "vec_id").localCheckpoint(true)
      val incr = Similarity.nswInsertAgainst(idx1, day2, "embedding", "vec_id")
        .localCheckpoint(true)
      val rebuilt = Similarity.nswBuild(e0.unionByName(day2), "embedding", "vec_id")
        .localCheckpoint(true)
      val eq = setEq(incr, rebuilt)
      Similarity.nswSearchBuilt(incr, "embedding", "vec_id", q, k = 10)
        .agg(count(lit(1)).as("k"), countDistinct(col("vec_id")).as("n_ids"),
          max(col("vec_id") === base && col("nsw_sim") === 1.0).as("needle_found"))
        .withColumn("insert_eq_rebuild", lit(eq))
    }),


    "q_ann_ivfpq" -> ((s, dir) => {
      // IVF-PQ (FAISS IVFADC layout): coarse cells + PQ-coded residuals,
      // probe scan reads (cell, codes) only. Planted-needle invariant
      // oracle, same construction as q_ann_pq: the needle assigns to the
      // query's argmax-similarity cell, which is by definition among the
      // probed cells, and its residual reconstruction dominates natural
      // neighbors — found-in-top-k is deterministic. Recall and
      // probed-cell-containment laws live in ApproxOpsSpec.
      import s.implicits._
      val q = Array.tabulate(64)(i => math.sin(i + 1.0))
      val e0 = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val needle = Seq((-1L, q.toSeq)).toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast(e0.schema("embedding").dataType))
      Similarity.ivfPqTopK(e0.union(needle), "embedding", "vec_id", q, k = 10,
          dim = 64, nCentroids = 16, nProbe = 4, m = 8, c = 16)
        .agg(count(lit(1)).as("k"), countDistinct(col("vec_id")).as("n_ids"),
          max(col("vec_id") === -1L).as("needle_found"))
    })
  )

  def oracleSql: Map[String, String] = Map(


    "q_ann_brute" -> {
      val qvec = Array.tabulate(64)(i => math.sin(i + 1.0)).mkString("[", ", ", "]")
      s"""SELECT vec_id,
         |  round(list_cosine_similarity(embedding::DOUBLE[], $qvec::DOUBLE[]), 6) AS cosine_sim
         |FROM embeddings ORDER BY cosine_sim DESC, vec_id LIMIT 10""".stripMargin
    },


    "q_ann_ivf" ->
      """SELECT q_id, vec_id, cosine_sim FROM (
        |  SELECT q.vec_id AS q_id, e.vec_id,
        |    round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cosine_sim,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) DESC,
        |        e.vec_id) AS rn
        |  FROM embeddings e, embeddings q WHERE q.vec_id < 3) WHERE rn <= 5""".stripMargin,


    // planted-needle invariants (see the matching queries): the result
    // identity of an approximate index is engine-specific, but k rows
    // returned / all-distinct / needle-found are deterministic TRUE-column
    // facts, like q_hll's estimate-within-envelope row
    "q_ann_pq" ->
      """SELECT CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_ids,
        |  TRUE AS needle_found""".stripMargin,


    // each LSH query vector is a table row: it shares its own bucket, so
    // the self-hit at cosine 1.0 is deterministic
    "q_ann_lsh" ->
      """SELECT vec_id AS q_id, TRUE AS self_found, TRUE AS k_ok
        |FROM embeddings WHERE vec_id < 3""".stripMargin,


    // int8 preselect + exact re-rank: corpus size is the SQL check;
    // recall@10 vs brute and the k contract are Spark-computed in-row
    "q_ann_int8" ->
      """SELECT count(*) AS n_vecs, TRUE AS recall_ok, TRUE AS k_ok
        |FROM embeddings""".stripMargin,


    // the stored serving split returns EXACTLY the in-memory int8 rows
    // (same quantization + re-rank), so same_as_mem is a hard TRUE pin
    "q_ann_int8_stored" ->
      """SELECT count(*) AS n_vecs, TRUE AS recall_ok, TRUE AS k_ok,
        |  TRUE AS same_as_mem
        |FROM embeddings""".stripMargin,


    // takedown: invariants computed against the RETAINED corpus;
    // same_as_mem pins exact equality to the in-memory int8TopK over it
    "q_ann_delete" ->
      """SELECT count(*) AS n_vecs, TRUE AS recall_ok, TRUE AS k_ok,
        |  TRUE AS same_as_mem
        |FROM embeddings WHERE vec_id % 5 <> 2""".stripMargin,


    // atomic upsert correction: invariants against the FULL true corpus
    "q_ann_replace" ->
      """SELECT count(*) AS n_vecs, TRUE AS recall_ok, TRUE AS k_ok,
        |  TRUE AS same_as_mem
        |FROM embeddings""".stripMargin,


    // stored IVF lifecycle: n_vecs is the live corpus after the %7==3
    // takedown and the %11==0 fresh-id append; full-probe serve equals
    // the in-memory int8 path exactly, partition pruning and the pruned
    // k contract are hard TRUE pins audited in-row
    "q_ann_ivf_stored" ->
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id % 7 <> 3)
        |  + (SELECT count(*) FROM embeddings WHERE vec_id % 11 = 0) AS BIGINT)
        |  AS n_vecs,
        |  TRUE AS recall_ok, TRUE AS k_ok, TRUE AS same_as_mem,
        |  TRUE AS prune_files_ok, TRUE AS pruned_k_ok""".stripMargin,


    // stored IVF-PQ lifecycle: n_vecs is the live corpus after the %7==3
    // takedown, the %11==0 fresh-id append, and the planted needle;
    // model-equality, needle, pruning, and the k contract are hard TRUE
    // pins audited in-row
    "q_ann_ivfpq_stored" ->
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id % 7 <> 3)
        |  + (SELECT count(*) FROM embeddings WHERE vec_id % 11 = 0)
        |  + 1 AS BIGINT) AS n_vecs,
        |  TRUE AS same_as_mem, TRUE AS needle_ok,
        |  TRUE AS prune_files_ok, TRUE AS pruned_k_ok""".stripMargin,


    // MMR diversity re-rank: lambda-1-equals-top-k, first-pick, and
    // duplicate-never-second are theorems computed in-row over the
    // planted-copy candidate set
    "q_ann_mmr" ->
      """SELECT CAST(10 AS BIGINT) AS k_rows, TRUE AS first_is_copy,
        |  TRUE AS dup_not_second, TRUE AS lambda1_equals_topk,
        |  TRUE AS distinct_ok""".stripMargin,

    // MMR composed with the query-table serve matrix (round 19): one row
    // per query; every boolean is a theorem computed in-row (loop
    // equality, lambda-1 reduction, planted-copy first pick,
    // duplicate-never-second)
    "q_ann_mmr_join" ->
      """SELECT CAST(range AS BIGINT) AS q_id, CAST(10 AS BIGINT) AS k_rows,
        |  TRUE AS first_is_copy, TRUE AS dup_not_second,
        |  TRUE AS distinct_ok, TRUE AS same_as_loop,
        |  TRUE AS lambda1_equals_topk
        |FROM range(3)""".stripMargin,

    // executor-side query-table MMR (round 20): one row per query over a
    // table past the driver form's chunk-free cap; row-and-order equality
    // to the driver form, the cap's absence, and the planted-copy
    // theorems are all computed in-row
    "q_ann_mmr_dist" ->
      """SELECT CAST(range AS BIGINT) AS q_id, CAST(10 AS BIGINT) AS k_rows,
        |  TRUE AS first_is_copy, TRUE AS dup_not_second,
        |  TRUE AS distinct_ok, TRUE AS same_as_driver,
        |  TRUE AS driver_cap_absent
        |FROM range(12)""".stripMargin,


    // the flat int8 tier's query-TABLE serve: one resolve + one codes
    // scan amortized across the table; self-hit, k contract, and exact
    // equality to the single-query loop are hard pins audited in-row
    "q_ann_int8_join" ->
      """SELECT CAST(vec_id AS BIGINT) AS q_id, TRUE AS self_found,
        |  TRUE AS k_ok, TRUE AS same_as_loop
        |FROM embeddings WHERE vec_id < 3""".stripMargin,


    // streaming IVF-PQ ingest: residuals encoded against the frozen
    // offline-trained model inside the writer lock; after the cadence
    // fold the full-probe serve equals the in-memory same-model path
    // exactly (identical codes -> identical ADC ranks -> identical
    // re-rank)
    "q_streaming_ivfpq" ->
      """SELECT count(*) AS n_vecs, TRUE AS same_as_mem, TRUE AS k_ok
        |FROM embeddings""".stripMargin,


    // query-TABLE serving over the stored IVF tier: every query is a
    // corpus row (self-hit at rank 1, cosine 1.0), the per-query k
    // contract holds, per-query equality to the single-query loop and
    // the union-of-probes pruning are hard TRUE pins audited in-row
    "q_ann_ivf_join" ->
      """SELECT CAST(vec_id AS BIGINT) AS q_id, TRUE AS self_found,
        |  TRUE AS k_ok, TRUE AS same_as_loop, TRUE AS prune_files_ok
        |FROM embeddings WHERE vec_id < 3""".stripMargin,


    // the same shape over the stored IVF-PQ tier (ADC scoring against
    // broadcast per-query lookup tables); the self-hit pin rides the
    // PLANTED needle query (vec_id = -1, in the store and the query
    // table) — a theorem by the q_ann_pq margin, where a natural row's
    // self-survival through the ADC cut is data (r18 advice)
    "q_ann_ivfpq_join" ->
      """SELECT CAST(vec_id AS BIGINT) AS q_id, TRUE AS k_ok,
        |  TRUE AS needle_self_found, TRUE AS same_as_loop,
        |  TRUE AS prune_files_ok
        |FROM embeddings WHERE vec_id < 3
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT), TRUE, TRUE, TRUE, TRUE""".stripMargin,


    // frozen-model drift observability: occupied_rows is the corpus plus
    // the skewed fresh-id append (half the corpus re-pointed at one
    // direction); the clean/skewed warning flips and the compaction-
    // carried appended-mass fraction are hard pins computed in-row
    "q_ivf_drift" ->
      """SELECT CAST(16 AS INT) AS n_cells,
        |  CAST((SELECT count(*) FROM embeddings)
        |    + (SELECT count(*) FROM embeddings WHERE vec_id % 2 = 0)
        |    AS BIGINT) AS occupied_rows,
        |  TRUE AS clean_frac_zero, TRUE AS skew_cell_ok, TRUE AS warn_skewed,
        |  TRUE AS frac_ok, TRUE AS frac_survives_compact""".stripMargin,

    // opt-in drift repair on the cadence: default-off pinned (the
    // unflagged cadence warns and mutates nothing), the flagged cadence
    // re-trains from the float corpus and resets the drift signals, and
    // the BOTH-signals AND makes the repair idempotent
    "q_ivf_drift_repair" ->
      """SELECT CAST((SELECT count(*) FROM embeddings)
        |    + (SELECT count(*) FROM embeddings WHERE vec_id % 2 = 0)
        |    AS BIGINT) AS n_live,
        |  TRUE AS planted_drift_warns, TRUE AS default_off_untouched,
        |  TRUE AS flagged_rebuild_repairs, TRUE AS repair_idempotent""".stripMargin,


    // streaming IVF ingest: micro-batch appends assign against the
    // offline-trained frozen centroids; after the cadence fold the
    // full-probe serve equals the one-shot in-memory int8 path exactly
    "q_streaming_ivf" ->
      """SELECT count(*) AS n_vecs, TRUE AS recall_ok, TRUE AS k_ok,
        |  TRUE AS same_as_mem
        |FROM embeddings""".stripMargin,

    // streaming GRAPH-tier ingest (round 20): micro-batch delta appends
    // inside the writer lock, replay-guarded by batchId; streamed ≡
    // ordinal batch appends ≡ full rebuild (append-only-id identity),
    // the day-2 needle served before stop() — all pinned in-row
    "q_streaming_nsw" ->
      """SELECT CAST(count(*) + 1 AS BIGINT) AS n_vecs,
        |  TRUE AS needle_mid_stream, TRUE AS stream_eq_batch,
        |  TRUE AS eq_rebuild, TRUE AS replay_noop
        |FROM embeddings""".stripMargin,


    // streaming ingest + compaction are exact (per-vector rows are
    // independent), so the lifecycle row pins the same four invariants
    "q_streaming_ann" ->
      """SELECT count(*) AS n_vecs, TRUE AS recall_ok, TRUE AS k_ok,
        |  TRUE AS same_as_mem
        |FROM embeddings""".stripMargin,


    "q_ann_ivfpq" ->
      """SELECT CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_ids,
        |  TRUE AS needle_found""".stripMargin,


    // the planted exact copy of the query scores cosine 1.0 and must
    // surface from its NSW shard's beam search
    "q_ann_nsw" ->
      """SELECT CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_ids,
        |  TRUE AS needle_found""".stripMargin,


    // codes-only serving form: the needle survives graph greediness AND
    // quantization (ADC margin argument, as q_ann_pq)
    "q_ann_nsw_coded" ->
      """SELECT CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_ids,
        |  TRUE AS needle_found""".stripMargin,


    // graph takedown: the retained needle serves at 1.0, the revoked one
    // and the revoked slice never surface
    "q_nsw_delete" ->
      """SELECT CAST(10 AS BIGINT) AS k, TRUE AS retained_needle,
        |  FALSE AS served_deleted""".stripMargin,


    // stored-graph takedown: one marks-only segment (asserted in-row),
    // reload serves the retained needle, never the revoked slice
    "q_nsw_delete_stored" ->
      """SELECT CAST(10 AS BIGINT) AS k, TRUE AS retained_needle,
        |  FALSE AS served_deleted""".stripMargin,


    // full stored-graph lifecycle: bootstrap → takedown → append (one
    // delta segment; marks keep applying) → compaction (deltas + marks
    // folded) → serve; the appended copy ranks first, the revoked
    // original never surfaces
    "q_nsw_lifecycle_stored" ->
      """SELECT CAST(10 AS BIGINT) AS k, TRUE AS appended_first,
        |  FALSE AS served_deleted""".stripMargin,


    // graph-tier health row: proportional planted takedown (30%) trips
    // the tombstone-fraction warning, a 10% append dilutes but cannot
    // launder it, compaction clears it exactly — every boolean a hard
    // pin computed in-row from the O(segments) stats fold
    "q_nsw_health" ->
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id % 10 >= 3)
        |    + (SELECT count(*) FROM embeddings WHERE vec_id % 10 = 0)
        |    AS BIGINT) AS n_live_final,
        |  TRUE AS clean_ok, TRUE AS takedown_warns, TRUE AS append_ok,
        |  TRUE AS cadence_no_fold, TRUE AS compact_clears""".stripMargin,

    // graph-tier wear repair (round 20): the 30% planted takedown trips
    // the tombstone warning; default-off cadence mutates nothing; the
    // compactOnWear cadence folds, sweeps the marks and resets the stats;
    // the reset fraction cannot re-trip — every boolean a hard pin
    "q_nsw_wear_repair" ->
      """SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id % 10 >= 3)
        |    AS BIGINT) AS n_live,
        |  TRUE AS planted_wear_warns, TRUE AS default_off_untouched,
        |  TRUE AS flagged_fold_repairs, TRUE AS repair_idempotent""".stripMargin,

    // O(batch) stored append: one graphdelta-only segment ≤ |batch|·(m+1)
    // rows (asserted in-row), LWW reassembly ≡ full rebuild over both days
    "q_nsw_append_stored" ->
      """SELECT CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_ids,
        |  TRUE AS needle_found, TRUE AS append_eq_rebuild""".stripMargin,


    // stored HIERARCHICAL tier lifecycle: bootstrap → takedown (one mark
    // segment) → append (one delta segment, asserted in-row) → compaction
    // (hierarchy rebuilt, one segment) → serve; the appended copy ranks
    // first, the revoked original never surfaces
    "q_hnsw_lifecycle_stored" ->
      """SELECT CAST(10 AS BIGINT) AS k, TRUE AS appended_first,
        |  FALSE AS served_deleted""".stripMargin,


    // hierarchical form: the needle surfaces through the persisted
    // multi-layer index (greedy upper-layer descent + layer-0 beam)
    "q_ann_hnsw" ->
      """SELECT CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_ids,
        |  TRUE AS needle_found""".stripMargin,


    // codes-only hierarchical serving: needle survives quantization AND
    // graph greediness through every layer
    "q_ann_hnsw_coded" ->
      """SELECT CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_ids,
        |  TRUE AS needle_found""".stripMargin,


    // hierarchical incremental maintenance: day-2 needle surfaces and the
    // append-only insert equals the full rebuild exactly
    "q_ann_hnsw_incr" ->
      """SELECT CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_ids,
        |  TRUE AS needle_found, TRUE AS insert_eq_rebuild""".stripMargin,


    // incremental maintenance: the day-2 needle surfaces from the
    // incrementally-inserted index, and the append-only insert equals the
    // full rebuild exactly (adjacency included, computed Spark-side)
    "q_ann_nsw_incr" ->
      """SELECT CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_ids,
        |  TRUE AS needle_found, TRUE AS insert_eq_rebuild""".stripMargin
  )
}
