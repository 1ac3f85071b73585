package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{TextFunctions, VectorFunctions}

/** Deduplication operators for training-data pipelines, each designed around
  * its 100 TB shuffle shape:
  *
  *  - exact:   one hash-aggregate on a 16-byte digest (never shuffles the
  *             document text itself).
  *  - minhash: shingle → minhash signature (narrow, Catalyst HOFs only) →
  *             band explosion → equi-join on (band, bandHash) → verified
  *             pairs. The classic MinHash+LSH pipeline; shuffle volume is
  *             #docs × #bands tiny rows, not text. Signatures are computed
  *             ONCE and persisted before feeding both sides of the self-join.
  *  - simhash: 64-bit signature, banded for hamming radius, verified by
  *             bit_count — candidate generation is again an equi-join.
  *  - ngram jaccard: exact verification metric used by the candidate stages;
  *             [[jaccardAllPairs]] is the exact (oracle-checkable) form for
  *             modest cardinalities, the LSH family is the 100 TB path.
  *  - embedding: cosine near-dup — exact all-pairs ([[embeddingNearDupExact]],
  *             oracle-checkable) and random-hyperplane LSH buckets
  *             ([[embeddingNearDup]], the scale path).
  *
  * "Drop" policy everywhere: the member with the SMALLEST id survives; a doc
  * is dropped if any candidate duplicate with a smaller id verifies. (Single
  * LSH pass, no transitive closure — the standard large-scale choice; full
  * connected components would need an iterative join.)
  *
  * Cache lifecycle: the minhash/simhash/jaccard pipelines persist their
  * signature/shingle intermediates (MEMORY_AND_DISK) because both sides of
  * the candidate self-join read them — and RELEASE them before returning:
  * each pipeline eagerly materializes its small terminal frame (candidate
  * pairs / drop-id set — orders of magnitude smaller than the corpus) via
  * `localCheckpoint`, then unpersists the wide intermediates. Checkpoint
  * blocks are ContextCleaner-managed (freed when the returned frame is
  * GC'd), unlike CacheManager entries which outlive their last reader — so
  * a long-lived service composing many dedup calls accumulates nothing.
  */
object Dedup {

  /** Exact dedup: group rows by digest of `textCol`, keep the row with the
    * minimum `idCol`. Hashing first means the wide text column never enters
    * the shuffle: only (digest, id) pairs move.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = df
      .select(col(idCol), md5(col(textCol)).as("__digest"))
      .groupBy(col("__digest")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Exact dedup on the NORMALIZED text (case/punct/whitespace folded). */
  def exactNormalized(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = df
      .select(col(idCol), TextFunctions.fingerprintMd5(col(textCol)).as("__digest"))
      .groupBy(col("__digest")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Incremental exact dedup — the daily-ingest shape: dedup a NEW batch
    * against itself and against the historical corpus WITHOUT re-scanning
    * or re-pairing the corpus with itself. Returns the surviving rows of
    * `newDf` (first occurrence per digest within the batch, and not
    * byte-identical to any corpus document).
    *
    * 100 TB shape: the corpus contributes only its distinct digest column
    * (in practice read from the store the previous run wrote); the
    * anti-join shuffles (digest, id) pairs, never text.
    */
  def exactAgainst(newDf: DataFrame, corpus: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val corpusDig = corpus.select(md5(col(textCol)).as("__digest")).distinct()
    val survivors = newDf
      .select(col(idCol), md5(col(textCol)).as("__digest"))
      .groupBy(col("__digest")).agg(min(col(idCol)).as(idCol))
      .join(corpusDig, Seq("__digest"), "left_anti")
      .select(col(idCol))
    newDf.join(survivors, Seq(idCol), "left_semi")
  }

  /** [[exactAgainst]] with a Bloom-filter pre-filter on the corpus side —
    * the 100 TB shape when the corpus digest set is itself huge. The corpus
    * collapses to ONE packed bit array (numBits/8 bytes; partial aggregates
    * merge word-wise OR, so the corpus scan shuffles one sketch per
    * partition, never its digests), broadcast inside the filter literal.
    * A new-batch row probes the sketch narrowly; only the rows the sketch
    * flags (true dups + the ~fpp false positives) enter the verification
    * anti-join, so the corpus digest column is joined against a frame a
    * few orders of magnitude smaller than the batch. Bloom "no false
    * negatives" makes the verified result EXACTLY [[exactAgainst]]'s.
    *
    * Size numBits ~ 10-15 bits per corpus document for fpp < 1%; 4 GiB of
    * bits covers ~3B docs — driver-collectable, and at that scale replace
    * the in-literal broadcast with an explicit `spark.sparkContext
    * .broadcast` if the plan is reused.
    */
  def exactAgainstBloom(newDf: DataFrame, corpus: DataFrame, textCol: String,
      idCol: String, numBits: Int = 1 << 20, k: Int = 5): DataFrame = {
    import graft.functions.{SketchAggregates => SK}
    // digest -> Long item for the sketch: first 8 bytes of the md5
    def item(c: Column): Column =
      conv(substring(md5(c), 1, 15), 16, 10).cast("long")
    val sketch = corpus.agg(SK.bloomFilter(item(col(textCol)), numBits, k)).head().getAs[Array[Byte]](0)
    // ONE batch-side digest aggregation: the keep frame is computed once
    // and the sketch-flagged candidates derive from it with a narrow filter
    val batchKeep = newDf
      .select(col(idCol), md5(col(textCol)).as("__digest"))
      .groupBy(col("__digest")).agg(min(col(idCol)).as(idCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val candidates = batchKeep.where(SK.bfContains(lit(sketch),
      conv(substring(col("__digest"), 1, 15), 16, 10).cast("long")))
    val corpusDig = corpus.select(md5(col(textCol)).as("__digest")).distinct()
    // materialize only the id frames (8 bytes a row) so the cached digest
    // aggregation can be released; the text-carrying result stays lazy
    val dropIds = candidates.join(corpusDig, Seq("__digest"), "left_semi")
      .select(col(idCol)).localCheckpoint(true)
    val keepIds = batchKeep.select(col(idCol)).localCheckpoint(true)
    batchKeep.unpersist()
    newDf.join(keepIds, Seq(idCol), "left_semi")
      .join(dropIds, Seq(idCol), "left_anti")
  }

  /** Incremental near-dup: (new_id, corpus_id, jaccard) for every `newDf`
    * document that verifies at `threshold` exact n-gram Jaccard against a
    * corpus document. Only CROSS pairs are proposed — the corpus never
    * re-pairs with itself, so a daily run pays bands x |new| bucket
    * probes, not the corpus self-join the full [[minhashLsh]] would.
    * Drop the flagged ids from the batch with an anti-join, or keep the
    * table as provenance of WHICH corpus doc each near-dup collided with.
    */
  def minhashNearCorpus(newDf: DataFrame, corpus: DataFrame, textCol: String,
      idCol: String, w: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.8): DataFrame =
    minhashNearCorpusShingled(shingled(newDf, textCol, idCol, w),
      shingled(corpus, textCol, idCol, w), idCol, bands, rowsPerBand, threshold)

  /** [[minhashNearCorpus]] from pre-shingled (id, __sh) frames — the true
    * incremental entry point: persist [[shingled]]'s output for the corpus
    * once (parquet next to the corpus), and each daily run pays shingling
    * only for the new batch. The corpus side here is typically
    * `spark.read.parquet(corpusShinglesPath)`.
    */
  def minhashNearCorpusShingled(shNew0: DataFrame, shCor0: DataFrame,
      idCol: String, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    val numHashes = bands * rowsPerBand
    val shNew = shNew0.persist(StorageLevel.MEMORY_AND_DISK)
    val shCor = shCor0.persist(StorageLevel.MEMORY_AND_DISK)
    def banded(sh: DataFrame, as: String): DataFrame =
      sh.select(col(idCol).as(as),
          minhashSignature(col("__sh"), numHashes).as("__sig"))
        .select(col(as), posexplode(
          transform(sequence(lit(0), lit(bands - 1)),
            b => hash(slice(col("__sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b)))
          .as(Seq("__band", "__bandhash")))
    val cands = banded(shNew, "new_id")
      .join(banded(shCor, "corpus_id"), Seq("__band", "__bandhash"))
      .select(col("new_id"), col("corpus_id")).distinct()
      .localCheckpoint(true)
    val out = cands
      .join(shNew.select(col(idCol).as("new_id"), array_sort(col("__sh")).as("__sh_a")), "new_id")
      .join(shCor.select(col(idCol).as("corpus_id"), array_sort(col("__sh")).as("__sh_b")), "corpus_id")
      .withColumn("__inter", graft.functions.NativeExpressions
        .sortedIntersectCount(col("__sh_a"), col("__sh_b")))
      .withColumn("__union", size(col("__sh_a")) + size(col("__sh_b")) - col("__inter"))
      .withColumn("jaccard", when(col("__union") > 0,
        col("__inter").cast("double") / col("__union")).otherwise(lit(1.0)))
      .where(col("jaccard") >= threshold)
      .select(col("new_id"), col("corpus_id"), round(col("jaccard"), 6).as("jaccard"))
      .localCheckpoint(true)
    shNew.unpersist(); shCor.unpersist()
    out
  }

  /** Benchmark decontamination — the pre-training hygiene pass that drops
    * training documents overlapping a held-out eval set (the word-n-gram
    * overlap procedure of GPT-3 appendix C and its successors). Returns
    * (idCol, n_overlap) for every document sharing at least `minOverlap`
    * DISTINCT word n-grams with ANY benchmark document; callers anti-join
    * the result against the corpus to drop, or keep it as an audit table.
    *
    * 100 TB shape: eval sets are tiny next to the corpus, so the
    * benchmark's distinct n-gram hash set BROADCASTS (`broadcastBenchmark
    * = false` falls back to a shuffle join for oversized benchmark
    * suites); documents explode to (id, hash64) pairs — the text column
    * never moves, only Longs — and the overlap count is a partial-agg
    * hash aggregation on id. Shingling runs as the native codegen'd
    * [[graft.functions.NativeExpressions.ShingleHashes]] kernel.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, textCol: String,
      idCol: String, n: Int = 8, minOverlap: Int = 1,
      broadcastBenchmark: Boolean = true): DataFrame = {
    val docNg = docs.select(col(idCol),
      explode(shingleCol(col(textCol), n)).as("__g"))
    val bench0 = benchmark
      .select(explode(shingleCol(col(textCol), n)).as("__g")).distinct()
    val bench = if (broadcastBenchmark) broadcast(bench0) else bench0
    docNg.join(bench, "__g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
      .where(col("n_overlap") >= minOverlap)
  }

  /** The retained corpus after decontamination — [[decontaminate]]'s
    * flagged documents anti-joined out, i.e. the frame a training run
    * actually consumes. Same broadcast shape; the anti-join's right side
    * is contamination-sized.
    */
  def removeContaminated(docs: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 8, minOverlap: Int = 1,
      broadcastBenchmark: Boolean = true): DataFrame =
    docs.join(
      decontaminate(docs, benchmark, textCol, idCol, n, minOverlap,
        broadcastBenchmark).select(col(idCol)),
      Seq(idCol), "left_anti")

  /** Cross-document duplicated-n-gram statistics (the corpus-level
    * complement of the WITHIN-document repetition metrics in
    * [[graft.operators.Scoring]]): for each document, how many of its
    * distinct lowercased word n-grams also appear in at least `minDocs - 1`
    * OTHER documents — the boilerplate/template-share signal RefinedWeb-style
    * pipelines threshold on before near-dedup.
    *
    * Output: (idCol, n_shared, n_grams, shared_frac), restricted to docs
    * with n_shared >= 1. Shuffle shape at 100 TB: only (id, 8-byte gram
    * hash) pairs move — the document-frequency aggregate and the join back
    * are both on hashed grams, never text.
    */
  def sharedNgramStats(docs: DataFrame, textCol: String, idCol: String,
      n: Int = 3, minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    // three consumers read the exploded (id, gram-hash) frame — persist it
    // so the text scan + shingle kernel run once, and derive the per-doc
    // totals from it (grams are distinct per doc) instead of re-shingling
    val ng = docs.select(col(idCol), explode(shingleCol(col(textCol), n)).as("__g"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val out = sharedNgramStatsFrom(ng, idCol, minDocs).localCheckpoint(true)
    ng.unpersist()
    out
  }

  /** Lazy composition of [[sharedNgramStats]] from a pre-built exploded
    * (id, __g) frame — the plan-auditable core; the public entry wraps it
    * in the persist/checkpoint/release lifecycle.
    */
  private[graft] def sharedNgramStatsFrom(ng: DataFrame, idCol: String,
      minDocs: Int): DataFrame = {
    val shared = ng.groupBy(col("__g")).agg(count(lit(1)).as("__df"))
      .where(col("__df") >= minDocs).select(col("__g"))
    val totals = ng.groupBy(col(idCol)).agg(count(lit(1)).cast("long").as("n_grams"))
    ng.join(shared, "__g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
      .join(totals, idCol)
      .select(col(idCol), col("n_shared"), col("n_grams"),
        round(col("n_shared") / col("n_grams"), 6).as("shared_frac"))
  }

  /** C4-style boilerplate-line removal: delete every line that occurs
    * byte-identically in at least `minDocs` distinct documents (navigation
    * chrome, cookie banners, license footers), preserving the remaining
    * lines' order and content exactly. Documents whose every line is
    * boilerplate come back with an empty string, not dropped — dropping is a
    * quality-filter decision, not this operator's.
    *
    * Shuffle shape at 100 TB: the line-frequency aggregate moves only
    * (8-byte line hash, id) pairs — distinct-ed, then counted. Line text
    * itself moves once, in the rebuild groupBy, which is the output.
    */
  def removeBoilerplateLines(docs: DataFrame, textCol: String, idCol: String,
      minDocs: Int = 3, cleanCol: String = "clean_text"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = docs.select(col(idCol),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("__pos", "__line")))
      .withColumn("__h", xxhash64(col("__line")))
    val boiler = lines.select(col("__h"), col(idCol)).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
      .where(col("__df") >= minDocs).select(col("__h"))
    val rebuilt = lines.join(boiler, Seq("__h"), "left_anti")
      .groupBy(col(idCol))
      .agg(concat_ws("\n",
        transform(
          array_sort(collect_list(struct(col("__pos").as("p"), col("__line").as("l")))),
          s => s.getField("l"))).as(cleanCol))
    docs.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col(cleanCol), lit("")).as(cleanCol))
  }

  /** Distinct 64-bit hashes of the lowercased token w-shingles, entirely in
    * Catalyst HOFs (`transform`/`sequence`/`slice`/`xxhash64` — codegen'd, no
    * UDF). Docs shorter than w tokens contribute their full token run as one
    * shingle; empty docs an empty set.
    */
  def shingleCol(text: Column, w: Int): Column =
    array_distinct(shingleSeqCol(text, w))

  /** Ordered (position-preserving, duplicate-keeping) w-shingle hash
    * sequence — what winnowing ([[TextFunctions.winnow]]) consumes. Runs as
    * the native [[graft.functions.NativeExpressions.ShingleHashes]]
    * expression (per-window slice/concat/hash in one tight loop; the token
    * array still comes from codegen'd split/filter/lower); bit-identical to
    * [[shingleSeqColHof]] (law in ApproxOpsSpec).
    */
  def shingleSeqCol(text: Column, w: Int): Column =
    // one kernel invocation, one name to maintain: this IS
    // TextFunctions.wordNgramHashes (same tokenizer, same ShingleHashes
    // kernel) — delegated so a tokenizer/hash change can't fork the two
    TextFunctions.wordNgramHashes(text, w)

  /** Reference HOF formulation of [[shingleSeqCol]] (the law's ground
    * truth).
    */
  private[graft] def shingleSeqColHof(text: Column, w: Int): Column = {
    val toks = TextFunctions.tokens(lower(text))
    val windows = transform(sequence(lit(1), size(toks) - lit(w - 1)),
      i => xxhash64(concat_ws(" ", slice(toks, i, lit(w)))))
    when(size(toks) >= w, windows)
      .when(size(toks) > 0, array(xxhash64(concat_ws(" ", toks))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** (id, shingle-set) projection — the shared first stage of the minhash
    * family: candidates and verification both read THIS, so shingling runs
    * once per document.
    *
    * Higher-order functions evaluate outside codegen, so the downstream
    * signature stage is CPU-bound per partition: when the input has fewer
    * partitions than cores (the single-parquet-file case), spread it first.
    * A lake-scale input already has >= cores partitions and skips this.
    */
  def shingled(df: DataFrame, textCol: String, idCol: String, w: Int): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    // inputFiles is a metadata-only probe (no physical planning pass);
    // empty (non-file plans) conservatively spreads — correct for the
    // small derived inputs where that happens
    val spread =
      if (df.inputFiles.length < parallelism) df.repartition(parallelism) else df
    spread.select(col(idCol), shingleCol(col(textCol), w).as("__sh"))
  }

  /** MinHash signature from a shingle-hash array column: array<long> of
    * length numHashes; element i is min over shingles of
    * xxhash64(i, shingle). Runs as the native codegen'd
    * [[graft.functions.NativeExpressions.MinHashSig]] expression — the HOF
    * formulation ([[minhashSignatureHof]]) interprets a lambda and
    * allocates an accumulator array per shingle and was the single most
    * expensive stage in the bench; the native form is one
    * XXH64.hashLong + compare per (shingle, index), bit-identical output
    * (equality law in ApproxOpsSpec).
    */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    graft.functions.NativeExpressions.minhashSig(shingles, numHashes)

  /** Reference HOF formulation of [[minhashSignature]] (kept as the law's
    * ground truth): min-fold in ONE `aggregate` with an array accumulator
    * (a fold per permutation would bloat the plan to numHashes aggregate
    * trees and dominate analysis/codegen time).
    */
  private[graft] def minhashSignatureHof(shingles: Column, numHashes: Int): Column =
    aggregate(shingles,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, h) => zip_with(acc, sequence(lit(0L), lit(numHashes - 1L)),
        (a, i) => least(a, xxhash64(i, h))))

  /** Candidate duplicate pairs via MinHash + LSH banding from a pre-shingled
    * (id, __sh) frame: signature split into `bands` bands of `rowsPerBand`;
    * docs sharing any band hash are candidates. The signature frame is
    * persisted: both sides of the self-join read it, and without the persist
    * the bands×rowsPerBand aggregate HOFs would run twice per document.
    * Returns (id_a, id_b) with id_a < id_b, deduplicated.
    */
  def candidatesFromShingles(sh: DataFrame, idCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    // blank documents (empty shingle sets) are handled OUT of the banded
    // join: their signatures are all identical (min over nothing =
    // Long.MaxValue in every position), so every blank pair would collide
    // in every band and the self-join would emit the full n² clique — a
    // 100 TB crawl slice with millions of blank docs would OOM that stage.
    // Every blank pair is an exact duplicate by the Jaccard-1.0
    // convention, so a star to the minimum blank id is transitively
    // equivalent (same connected component, same dedup drop set) and
    // linear. See [[jaccardAllPairs]] for the same contract on the exact
    // form.
    val nonEmpty = sh.where(size(col("__sh")) > 0)
    val sig = nonEmpty.select(col(idCol),
        minhashSignature(col("__sh"), numHashes).as("__sig"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded = sig.select(col(idCol), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => hash(slice(col("__sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b))).as(Seq("__band", "__bandhash")))
    val a = banded.as("a"); val b = banded.as("b")
    val cands = a.join(b,
        col("a.__band") === col("b.__band") &&
        col("a.__bandhash") === col("b.__bandhash") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
      .union(emptyDocStar(sh, idCol).select(col("id_a"), col("id_b")))
      .localCheckpoint(true) // materialize the (small) pair set ...
    sig.unpersist()          // ... so the wide signature cache can go now
    cands
  }

  /** Star over blank documents: (min blank id, other blank id) pairs with
    * jaccard 1.0 — the linear, transitively-equivalent replacement for the
    * blank-doc clique (all blank pairs are Jaccard-1.0 by the empty-union
    * convention). One single-row aggregate broadcast against the blank ids;
    * no blank docs → zero rows.
    */
  private def emptyDocStar(sh: DataFrame, idCol: String): DataFrame = {
    val empties = sh.where(size(col("__sh")) === 0).select(col(idCol))
    empties
      .crossJoin(broadcast(empties.agg(min(col(idCol)).as("__emin"))))
      .where(col(idCol) > col("__emin"))
      .select(col("__emin").as("id_a"), col(idCol).as("id_b"),
        lit(1.0).as("jaccard"))
  }

  /** Candidate pairs straight from documents (shingles computed here). */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
      w: Int = 3, bands: Int = 16, rowsPerBand: Int = 4): DataFrame =
    candidatesFromShingles(shingled(df, textCol, idCol, w), idCol, bands, rowsPerBand)

  /** Full MinHash-LSH dedup: docs dropped when a candidate with smaller id
    * verifies at `threshold` exact n-gram Jaccard. Shingles are computed
    * once, persisted, and shared by the candidate and verification stages.
    */
  def minhashLsh(df: DataFrame, textCol: String, idCol: String,
      w: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    val sh = shingled(df, textCol, idCol, w).persist(StorageLevel.MEMORY_AND_DISK)
    val cands = candidatesFromShingles(sh, idCol, bands, rowsPerBand)
    val verified = verifyJaccardShingles(sh, cands, idCol, threshold)
    val drop = verified.select(col("id_b").as(idCol)).distinct()
      .localCheckpoint(true)
    sh.unpersist()
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Verified candidate pairs — LSH banding proposes, exact shingle-set
    * Jaccard disposes: (id_a, id_b, jaccard) for pairs that share a band AND
    * verify at `threshold`. This is the operator's contract surface (the raw
    * candidate set is allowed false positives by construction); the exact
    * all-pairs join is its ground truth whenever banding recall is 1 on the
    * corpus. Blank documents follow the [[emptyDocStar]] star contract:
    * one (min blank id, blank id, 1.0) row per extra blank doc, never the
    * quadratic clique.
    */
  def minhashVerifiedPairs(df: DataFrame, textCol: String, idCol: String,
      w: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    val sh = shingled(df, textCol, idCol, w).persist(StorageLevel.MEMORY_AND_DISK)
    val cands = candidatesFromShingles(sh, idCol, bands, rowsPerBand)
    val out = verifyJaccardShingles(sh, cands, idCol, threshold).localCheckpoint(true)
    sh.unpersist()
    out
  }

  /** ExactSubstr-style duplicated-span REMOVAL (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL'22 — their
    * suffix-array ExactSubstr, re-expressed as a distributed k-gram scan):
    * every whitespace-token k-gram window whose occurrence is NOT the
    * corpus-wide first (first = smallest (id, pos)) marks its k tokens for
    * removal; the text is rebuilt from surviving tokens. An exact copy of
    * an earlier doc loses every token (the original keeps all); repeated
    * spans WITHIN a doc keep only their first occurrence. Output
    * normalizes inter-token whitespace to single spaces (C4-style).
    *
    * 100 TB shape: windows shuffle as (hash64, id, pos) — never gram
    * text; the first-occurrence selection is a min(struct) hash aggregate
    * + re-join (see [[nonFirstOccurrences]] — no ranking window, so a
    * boilerplate gram with millions of occurrences partial-aggregates
    * map-side instead of serializing one task's sort); the rebuild is a
    * typed two-pointer sweep, linear in tokens + flagged starts per doc
    * (see [[rebuildWithoutSpans]]). Collision risk of hash64 on gram
    * identity is the same documented trade as [[sharedNgramStats]].
    *
    * Returns (`idCol` cast to long — the family's numeric-id convention,
    * "text_clean", "n_removed").
    */
  def removeDuplicatedSpans(df: DataFrame, textCol: String, idCol: String,
      k: Int = 8): DataFrame = {
    val base = tokenized(df, textCol, idCol)
    // both sides of nonFirstOccurrences' self-join read the window
    // explode — persist it once (the incremental sibling does the same)
    val wins = spanWindows(base, idCol, k).persist(StorageLevel.MEMORY_AND_DISK)
    val out = rebuildWithoutSpans(base, nonFirstOccurrences(wins, idCol), idCol, k)
      .localCheckpoint(true)
    wins.unpersist()
    out
  }

  /** Window occurrences that are NOT their gram's corpus-wide first
    * ((id, pos)-minimal). Deliberately an aggregate + self-join rather
    * than a `row_number` window: a boilerplate gram occurring millions of
    * times would serialize a ranking window into one task's sort, while
    * the min(struct) aggregate collapses map-side to one row per gram per
    * partition and AQE's skew-join handles the hot gram on the re-join.
    */
  private def nonFirstOccurrences(wins: DataFrame, idCol: String): DataFrame = {
    val firsts = wins.groupBy(col("__h"))
      .agg(min(struct(col(idCol), col("__pos"))).as("__first"))
    wins.join(firsts, Seq("__h"))
      .where(col(idCol) =!= col(s"__first.$idCol") ||
        col("__pos") =!= col("__first.__pos"))
      .select(col(idCol), col("__pos"))
  }

  /** Distinct k-gram window hashes of a corpus — persist this next to the
    * corpus (parquet) so each daily [[removeDuplicatedSpansAgainst]] run
    * pays windowing only for the new batch.
    */
  def spanHashes(df: DataFrame, textCol: String, k: Int = 8): DataFrame =
    spanWindows(
      tokenized(df.withColumn("__sp_id", monotonically_increasing_id()),
        textCol, "__sp_id"), "__sp_id", k)
      .select(col("__h")).distinct()

  /** Incremental [[removeDuplicatedSpans]] — the daily-ingest form: spans
    * already present in the historical corpus (by k-gram hash membership)
    * and non-first re-occurrences WITHIN the batch are removed; the corpus
    * itself is never rewritten. `corpusHashes` is [[spanHashes]]' output
    * (typically read back from parquet). The membership check is a
    * digest-only semi-join — batch windows shuffle as (hash, id, pos),
    * corpus hashes as bare Longs.
    */
  def removeDuplicatedSpansAgainst(newDf: DataFrame, corpusHashes: DataFrame,
      textCol: String, idCol: String, k: Int = 8): DataFrame = {
    val base = tokenized(newDf, textCol, idCol)
    val wins = spanWindows(base, idCol, k)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val withinBatch = nonFirstOccurrences(wins, idCol)
    val inCorpus = wins.join(corpusHashes.select(col("__h")), Seq("__h"), "left_semi")
      .select(col(idCol), col("__pos"))
    val out = rebuildWithoutSpans(base, withinBatch.union(inCorpus), idCol, k)
      .localCheckpoint(true)
    wins.unpersist()
    out
  }

  private def tokenized(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol),
      filter(split(col(textCol), "\\s+"), x => length(x) > 0).as("__t"))

  /** (id, __pos, __h): 0-based window start → hash64 of the k-token gram. */
  private def spanWindows(base: DataFrame, idCol: String, k: Int): DataFrame =
    base
      .withColumn("__n", size(col("__t")))
      .where(col("__n") >= k)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), col("__n") - k),
        i => xxhash64(concat_ws(" ", slice(col("__t"), i + 1, lit(k)))))))
      .toDF(idCol, "__pos", "__h")

  /** Rebuild text from the tokens NOT covered by any flagged start's
    * [s, s+k) span. A typed two-pointer sweep over the (sorted) starts —
    * linear in tokens + starts per doc; the HOF formulation
    * (`filter(toks, (x,i) => !exists(starts, ...))`) is O(tokens ×
    * starts) per doc, a single-task blowup for a large mostly-duplicated
    * document whose start list is ~its token count.
    */
  private def rebuildWithoutSpans(base: DataFrame, flagged: DataFrame,
      idCol: String, k: Int): DataFrame = {
    val starts = flagged
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("__pos"))).as("__starts"))
    val session = base.sparkSession
    import session.implicits._
    base.join(starts, Seq(idCol), "left")
      .select(col(idCol).cast("long"), col("__t"),
        coalesce(col("__starts"), array()).as("__s"))
      .as[(Long, Seq[String], Seq[Int])]
      .mapPartitions { it =>
        it.map { case (id, toks, ss) =>
          val sb = new StringBuilder
          var kept = 0
          var si = 0
          var coverEnd = -1 // exclusive end of the coverage seen so far
          var i = 0
          while (i < toks.length) {
            while (si < ss.length && ss(si) <= i) {
              val e = ss(si) + k
              if (e > coverEnd) coverEnd = e
              si += 1
            }
            if (i >= coverEnd) {
              if (kept > 0) sb.append(' ')
              sb.append(toks(i))
              kept += 1
            }
            i += 1
          }
          (id, sb.toString, (toks.length - kept).toLong)
        }
      }.toDF(idCol, "text_clean", "n_removed")
  }

  /** Outcome of an iterative components loop. A non-converged result is
    * UNDER-MERGED — some nodes still carry a label larger than their true
    * component minimum — so callers that silently consume `components`
    * would silently under-deduplicate; the producing methods log a warning
    * and this record makes the condition programmatically visible.
    */
  final case class CcResult(components: DataFrame, rounds: Int, converged: Boolean)

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private def warnIfNotConverged(r: CcResult, maxIters: Int): CcResult = {
    if (!r.converged)
      log.warn(s"connectedComponentsStar exhausted maxIters=$maxIters without " +
        "converging: the returned components are UNDER-MERGED (labels not yet " +
        "minimal); downstream transitive dedup will under-deduplicate. " +
        "Raise maxIters.")
    r
  }

  /** Distributed connected components over an undirected pair set — the
    * transitive-closure upgrade to this family's single-pass "smallest id
    * among direct candidates survives" policy (see the object scaladoc):
    * with components, a chain a~b~c collapses to ONE survivor even when a
    * and c never pair directly.
    *
    * The algorithm is ALTERNATING STAR CONTRACTION (the two-operation
    * algorithm of Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — public
    * algorithm; provenance: the reference has no components operator, this
    * is the LLM-extension layer). Unlike min-label propagation (rounds =
    * component DIAMETER), star contraction converges in O(log^2 n) rounds
    * on ANY graph shape — the difference between 3 jobs and 10,000 jobs on
    * a pathological chain (crawl mirrors re-posting each other in sequence).
    *
    * Each round runs two edge rewrites, each one groupBy + one join over
    * (long, long) edges — no payload columns ever shuffle:
    *
    *  - large-star: every node u links each STRICTLY LARGER neighbor to
    *    m(u) = min(N(u) ∪ {u}). Edges (v, m) for v ∈ N(u), v > u.
    *  - small-star: orient edges large→small; every node u links each
    *    neighbor (all ≤ u, plus u itself) to m(u) = min(N(u) ∪ {u}).
    *
    * Both preserve connectivity exactly (each rewritten edge set connects
    * the same vertex sets — Lemmas 1-2 of the paper); the fixpoint is a
    * forest of stars whose centers are the component minima. Convergence is
    * detected by the edge multiset reaching a fixpoint (`except` both ways
    * is overkill — star edges only ever point lower, so an unchanged
    * distinct edge COUNT plus unchanged sum(dst) is equivalent here; we use
    * the direct subtract check for auditability since the frames are small
    * by then). Every round localCheckpoints so the iterative lineage never
    * re-executes.
    *
    * Returns (`idOut`, "comp"), comp = the minimum id reachable. Nodes in
    * no pair are absent (their component is trivially themselves).
    */
  def connectedComponentsStar(pairs: DataFrame, aCol: String, bCol: String,
      idOut: String = "id", maxIters: Int = 50): DataFrame =
    connectedComponentsStarDetailed(pairs, aCol, bCol, idOut, maxIters).components

  /** [[connectedComponentsStar]] exposing rounds-used and convergence. */
  def connectedComponentsStarDetailed(pairs: DataFrame, aCol: String, bCol: String,
      idOut: String = "id", maxIters: Int = 50): CcResult = {
    val spark = pairs.sparkSession

    // m(u) = min over the CLOSED neighborhood of u, for the given edge list
    // interpreted as directed u -> each dst in the frame.
    def withMin(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("src"))
        .agg(least(min(col("dst")), col("src")).as("__m"))
      e.join(mins, "src")
    }

    // Large-star over the SYMMETRIC closure: (v, m(u)) for v > u.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      withMin(sym)
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("__m").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
    }

    // Small-star over the large->small orientation: (v, m(u)) for every
    // neighbor v (all <= u) and for u itself.
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
      val m = withMin(oriented)
      m.select(col("dst").as("src"), col("__m").as("dst"))
        .union(m.select(col("src"), col("__m").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct()
    }

    val nodes = pairs
      .select(col(aCol).cast("long").as("n"))
      .union(pairs.select(col(bCol).cast("long").as("n")))
      .distinct()

    var edges = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(true)
    var edgeCount = edges.count()
    var iter = 0
    var converged = edgeCount == 0L
    while (iter < maxIters && !converged) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nextCount = next.count()
      // Fixpoint test: identical edge sets. Both frames are distinct, so an
      // empty symmetric difference reduces to equal counts + empty subtract
      // (&& short-circuits the subtract job whenever the counts moved; the
      // previous round's count is carried, never recomputed).
      converged = nextCount == edgeCount &&
        next.exceptAll(edges).limit(1).count() == 0L
      // the superseded round's checkpoint blocks are dead the moment the
      // fixpoint test above has run — release them now instead of pinning
      // up to maxIters edge copies in executor storage until GC-driven
      // ContextCleaner cleanup (the final frame stays: its blocks back the
      // returned plan)
      edges.unpersist()
      edges = next
      edgeCount = nextCount
      iter += 1
    }
    // At the fixpoint the edges form stars (v -> component min) — one
    // out-edge per non-center node, so the left join is one-row-per-id.
    // A maxIters cutoff mid-contraction can leave a node with SEVERAL
    // out-edges; collapse them to min(dst) so the (id, comp) contract
    // (one row per node) holds even on the under-merged result.
    val outEdges =
      if (converged) edges
      else edges.groupBy(col("src")).agg(min(col("dst")).as("dst"))
    val comp = nodes
      .join(outEdges.withColumnRenamed("src", "n"), Seq("n"), "left")
      .select(col("n").as(idOut), coalesce(col("dst"), col("n")).as("comp"))
    warnIfNotConverged(CcResult(comp, iter, converged), maxIters)
  }

  /** [[minhashLsh]] with TRANSITIVE closure: verified pairs → connected
    * components → keep each component's minimum id. Unlike the single-pass
    * policy, a doc whose only smaller-id relatives are reachable through
    * intermediates (e.g. ids 2~9 and 9~5: 5's only direct pair is the
    * larger 9) is still deduplicated into the component.
    *
    * Components run through star contraction ([[connectedComponentsStar]]) —
    * round count independent of component diameter, so pathological chains
    * (crawl mirrors re-posting each other in sequence) cost O(log^2 n)
    * Spark jobs instead of O(diameter).
    */
  def minhashLshTransitive(df: DataFrame, textCol: String, idCol: String,
      w: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    val pairs = minhashVerifiedPairs(df, textCol, idCol, w, bands, rowsPerBand, threshold)
    val comp = connectedComponentsStar(pairs, "id_a", "id_b", idCol)
    val drop = comp.where(col("comp") < col(idCol)).select(col(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Exact shingle-set Jaccard for candidate pairs, against a pre-shingled
    * (id, __sh) frame — only candidate rows pay the set-intersection cost.
    */
  def verifyJaccardShingles(sh: DataFrame, pairs: DataFrame, idCol: String,
      threshold: Double): DataFrame =
    pairs
      // sort once per joined document row, then count intersections by the
      // native linear merge (count-equal to size(array_intersect))
      .join(sh.select(col(idCol).as("id_a"), array_sort(col("__sh")).as("__sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), array_sort(col("__sh")).as("__sh_b")), "id_b")
      .withColumn("__inter", graft.functions.NativeExpressions
        .sortedIntersectCount(col("__sh_a"), col("__sh_b")))
      .withColumn("__union", size(col("__sh_a")) + size(col("__sh_b")) - col("__inter"))
      .withColumn("jaccard", when(col("__union") > 0,
        col("__inter").cast("double") / col("__union")).otherwise(lit(1.0)))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Back-compat form taking raw documents (shingles computed here). */
  def verifyJaccard(df: DataFrame, pairs: DataFrame, textCol: String,
      idCol: String, w: Int, threshold: Double): DataFrame =
    verifyJaccardShingles(shingled(df, textCol, idCol, w), pairs, idCol, threshold)

  /** EXACT n-gram Jaccard >= `threshold` over ALL pairs — the ground truth
    * the LSH candidates approximate, computed with the prefix-filtering
    * set-similarity join (the PPJoin family, Xiao et al., WWW'08 — public
    * algorithm): sort every shingle set in one consistent total order, index
    * only each set's PREFIX (the first |A| - ceil(t·|A|) + 1 elements — any
    * pair with Jaccard >= t must share a prefix element on both sides),
    * equi-join on prefix shingles, then verify candidates exactly.
    *
    * At 100 TB this is the standard exact path: the shuffle carries
    * (shingle, id, size) prefix rows, candidate volume ≈ Σ df(prefix
    * shingle)² which collapses to near-duplicate pairs instead of n²/2.
    * Requires threshold > 0. Blank documents (empty shingle sets) are all
    * Jaccard 1.0 to each other by the empty-union convention, but the
    * full clique is quadratic in the blank count — they are emitted as a
    * STAR to the minimum blank id instead (linear, transitively
    * equivalent for components/dedup consumers; see [[emptyDocStar]]).
    */
  def jaccardAllPairs(df: DataFrame, textCol: String, idCol: String,
      w: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0, "prefix filtering needs threshold > 0")
    // array_sort gives the consistent total order the prefix filter needs;
    // hash values are pseudo-random, so this order behaves like the
    // "by global frequency" order on distinct-heavy corpora
    val sh = shingled(df, textCol, idCol, w)
      .select(col(idCol), array_sort(col("__sh")).as("__sh"),
        size(col("__sh")).as("__sz"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val prefixLen = (col("__sz") - ceil(col("__sz") * threshold) + 1).cast("int")
    val pref = sh.select(col(idCol), col("__sz"),
      explode(slice(col("__sh"), lit(1), prefixLen)).as("__s"))
    val candPairs = pref.select(col(idCol).as("id_a"), col("__s"))
      .join(pref.select(col(idCol).as("id_b"), col("__s")), Seq("__s"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val verified = candPairs
      .join(sh.select(col(idCol).as("id_a"), col("__sh").as("__sh_a")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("__sh").as("__sh_b")), "id_b")
      // __sh is sorted+distinct here: the native linear-merge count replaces
      // array_intersect's per-pair hash-set build
      .withColumn("__inter", graft.functions.NativeExpressions
        .sortedIntersectCount(col("__sh_a"), col("__sh_b")))
      .withColumn("__union", size(col("__sh_a")) + size(col("__sh_b")) - col("__inter"))
      .withColumn("jaccard", col("__inter").cast("double") / col("__union"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
    // blank documents have empty shingle sets: all-pairs jaccard defines
    // them as identical (union = 0 → 1.0); the prefix join can't see them,
    // and the full clique would be quadratic — emit the linear star
    val out = verified.union(emptyDocStar(sh, idCol)).localCheckpoint(true)
    sh.unpersist()
    out
  }

  /** SimHash near-dup: 64-bit signatures; candidates share at least one of
    * four 16-bit bands (guaranteed complete for hamming distance <= 3 by
    * pigeonhole); verified with bit_count XOR <= maxHamming.
    */
  def simhash(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sig = df.select(col(idCol),
        graft.functions.NativeExpressions.simhash64(col(textCol)).as("__sim"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val banded = sig.select(col(idCol), col("__sim"), posexplode(array(
      (0 until 4).map(b => shiftrightunsigned(col("__sim"), b * 16).bitwiseAND(lit(0xffffL))): _*
    )).as(Seq("__band", "__bandval")))
    val a = banded.as("a"); val b = banded.as("b")
    val cands = a.join(b,
        col("a.__band") === col("b.__band") &&
        col("a.__bandval") === col("b.__bandval") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        col("a.__sim").as("__sim_a"), col("b.__sim").as("__sim_b"))
      .distinct()
    val drop = cands
      .where(TextFunctions.hammingDistance64(col("__sim_a"), col("__sim_b")) <= maxHamming)
      .select(col("id_b").as(idCol)).distinct()
      .localCheckpoint(true)
    sig.unpersist()
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Embedding cosine near-dup: random-hyperplane LSH buckets → in-bucket
    * pairs → exact cosine >= threshold drops the larger id. `nBits` trades
    * recall for bucket size (16 bits → ~dim/65k per bucket at scale).
    */
  def embeddingNearDup(df: DataFrame, vecCol: String, idCol: String,
      dim: Int, threshold: Double = 0.95, nBits: Int = 12): DataFrame = {
    val withBucket = df.select(col(idCol), col(vecCol),
      VectorFunctions.lshBucket(col(vecCol), dim, nBits).as("__bucket"))
    val a = withBucket.as("a"); val b = withBucket.as("b")
    val drop = a.join(b,
        col("a.__bucket") === col("b.__bucket") && col(s"a.$idCol") < col(s"b.$idCol"))
      .where(VectorFunctions.cosine(col(s"a.$vecCol"), col(s"b.$vecCol")) >= threshold)
      .select(col(s"b.$idCol").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** EXACT embedding cosine near-dup — all-pairs broadcast nested-loop join;
    * the oracle-checkable ground truth [[embeddingNearDup]] approximates.
    * O(n²·d) by definition, but the constant matters: vectors are
    * L2-NORMALIZED once per side so the per-pair work is a single dot
    * product, and the probe side is repartitioned so the quadratic loop
    * spreads across every core (a one-file parquet input would otherwise
    * run the whole cross product in one task). For modest n or as a
    * per-bucket verifier — not the 100 TB path.
    */
  def embeddingNearDupExact(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double = 0.95): DataFrame = {
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val a = df.select(col(idCol), VectorFunctions.l2Normalize(col(vecCol)).as("__va"))
      .repartition(parallelism)
    val b = df.select(col(idCol).as("__ob"), VectorFunctions.l2Normalize(col(vecCol)).as("__vb"))
    val drop = a.join(broadcast(b), col("__ob") < col(idCol))
      .where(VectorFunctions.dot(col("__va"), col("__vb")) >= threshold)
      .select(col(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** Witness-form audit for any near-dup dedup (round 17): does EVERY doc
    * the dedup DROPPED have a smaller-id exact near-dup at >= `threshold`
    * (the witness the exhaustive pass would drop it for)? Equivalent to
    * `exactKept ⊆ kept` by complement inclusion — the subset boolean a
    * gate row wants, without the n² all-pairs scan.
    *
    * Two stages, identical boolean to the exhaustive |dropped| × n scan:
    *
    *  1. '''banded prefilter''' — `bands` independent random-hyperplane
    *     sketches of `nBits` each (seeds 42, 43, …; the
    *     [[embeddingNearDup]] bucket family). Corpus × dropped candidates
    *     meet on (band, bucket) equality via one BroadcastHashJoin (the
    *     dropped side is small and explicit-broadcast), so the corpus
    *     scans ONCE computing bands·nBits plane dots per row and full
    *     dots only on bucket collisions (~1/2^nBits of pairs) — instead
    *     of |dropped| dots per row.
    *  2. '''exact remainder''' — dropped docs the banding found no
    *     witness for (LSH misses: at cos 0.9, P[bucket agree] ≈ 0.29 per
    *     8-bit band, so 8 bands leave ~6% unwitnessed) re-check against
    *     the FULL corpus with the original broadcast scan. Exhaustive
    *     over the remainder, so a banding miss can never flip the
    *     boolean — only move cost between stages.
    *
    * `keptIds` must be a subset of `df`'s ids (survivors of a dedup over
    * `df`); the witness may itself be a dropped doc (the exact pass drops
    * against ANY smaller id, kept or not).
    */
  def nearDupWitnessCheck(df: DataFrame, keptIds: DataFrame, vecCol: String,
      idCol: String, dim: Int, threshold: Double,
      bands: Int = 8, nBits: Int = 8): Boolean = {
    require(bands >= 1 && nBits >= 1, s"bands=$bands nBits=$nBits must be >= 1")
    val norm = df.select(col(idCol),
      VectorFunctions.l2Normalize(col(vecCol)).as("__nv"))
    val dropped = norm.join(keptIds.select(idCol), Seq(idCol), "left_anti")
      .localCheckpoint(true)
    val droppedN = dropped.count()
    if (droppedN == 0L) return true
    // band explosion: (band index, bucket) per row — flat columns so the
    // equi-join compiles to a BroadcastHashJoin on (__bi, __bkt)
    def banded(d: DataFrame) = d.select(col(idCol), col("__nv"),
      posexplode(array((0 until bands).map(bi =>
        VectorFunctions.lshBucket(col("__nv"), dim, nBits, seed = 42L + bi)): _*))
        .as(Seq("__bi", "__bkt")))
    val lshWitnessed = banded(norm).as("w")
      .join(broadcast(banded(dropped)).as("d"),
        col("w.__bi") === col("d.__bi") && col("w.__bkt") === col("d.__bkt") &&
          col(s"w.$idCol") < col(s"d.$idCol"))
      .where(VectorFunctions.dot(col("w.__nv"), col("d.__nv")) >= threshold)
      .select(col(s"d.$idCol")).distinct()
      .localCheckpoint(true)
    val lshWitnessedN = lshWitnessed.count()
    // banded stage witnessed everything: the exact remainder pass would
    // broadcast an EMPTY frame against a full corpus scan — skip it
    if (lshWitnessedN == droppedN) return true
    val remainder = dropped.join(lshWitnessed, Seq(idCol), "left_anti")
      .localCheckpoint(true)
    val exactWitnessed = norm.as("w")
      .join(broadcast(remainder.as("d")),
        col(s"w.$idCol") < col(s"d.$idCol") &&
          VectorFunctions.dot(col("w.__nv"), col("d.__nv")) >= threshold)
      .select(col(s"d.$idCol")).distinct()
    droppedN == lshWitnessedN + exactWitnessed.count()
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * cluster-scoped cosine — spherical k-means the embeddings
    * ([[Similarity.kmeansCentroids]]: deterministic hash-picked seeds +
    * Lloyd, centroid shuffle independent of row count), then inside each
    * cluster drop every row whose cosine to a SMALLER-id cluster-mate
    * reaches `threshold` (same survivor policy as the whole dedup family).
    *
    * Scale shape: assignment is a narrow literal-centroid argmax
    * projection; the pair search is an equi-join on the cluster id — the
    * quadratic term is bounded by the largest CLUSTER, never the corpus.
    * Pairs split across clusters are missed by construction — that is the
    * SemDeDup trade (raise `nClusters` for speed, lower it for recall).
    * With `nClusters = 1` the search is exhaustive and the result exactly
    * matches [[embeddingNearDupExact]] — the oracle-checked configuration
    * (mirroring how full-probe IVF oracles ANN).
    */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
      nClusters: Int, threshold: Double = 0.95,
      lloydIters: Int = 2, hierAssign: Boolean = false,
      centroids: Option[Array[Array[Double]]] = None,
      trainSample: Int = 0): DataFrame = {
    require(nClusters >= 1, s"nClusters must be >= 1, got $nClusters")
    // callers that already trained centroids (shared with a quality check,
    // an IVF index, or an earlier batch) pass them in — k-means is the
    // expensive prefix of this operator, not the pair scan. trainSample > 0
    // bounds that prefix: Lloyd runs driver-local on a hashed-id sample
    // (Similarity.kmeansCentroids), so the corpus is scanned exactly once
    // (the assignment pass) — the production setting at large k
    val cents = centroids.getOrElse(
      Similarity.kmeansCentroids(df, vecCol, idCol, nClusters, lloydIters,
        hierAssign = hierAssign, trainSample = trainSample))
    require(cents.length == nClusters,
      s"provided ${cents.length} centroids but nClusters=$nClusters")
    // hierAssign: the production-k regime — assignment via the multi-probe
    // two-level coarse quantizer (~5√k cosines/row at nProbe=4 instead of
    // k), the lever that keeps per-row cost flat when k scales with corpus
    // size
    val assigned0 =
      if (hierAssign)
        Similarity.withNearestCentroidTwoLevel(df, col(vecCol), cents, "__cid")
      else df.withColumn("__cid", Similarity.nearestCentroid(col(vecCol), cents))
    val assigned = assigned0.select(col(idCol), col("__cid"),
      VectorFunctions.l2Normalize(col(vecCol)).as("__nv"))
    val a = assigned.select(col(idCol), col("__cid"), col("__nv").as("__va"))
    val b = assigned.select(col(idCol).as("__ob"), col("__cid"), col("__nv").as("__vb"))
    val drop = a.join(b, Seq("__cid"))
      .where(col("__ob") < col(idCol) &&
        VectorFunctions.dot(col("__va"), col("__vb")) >= threshold)
      .select(col(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  // ---------------------------------------------------------------------
  // Canonical-representative selection: which duplicate survives
  // ---------------------------------------------------------------------

  /** Per-duplicate-cluster canonical mapping: every document maps to the
    * BEST member of its connected component in the duplicate-pair graph
    * (highest `scoreCol`, ties to the smallest id), and a singleton maps
    * to itself.
    *
    * The min-id survivor the transitive family keeps is an arbitrary
    * policy; a production corpus release keeps the best-quality member of
    * each near-dup cluster (longest text, highest LM score, freshest
    * crawl) and records the mapping so downstream references resolve.
    * This operator separates the POLICY (a score column) from the closure.
    *
    * Shape at scale: components run over (long, long) edge pairs only
    * (star contraction — O(log² n) rounds regardless of chain
    * diameter); the winner election is ONE hash aggregation of
    * (comp, score, id) rows via `max_by` — no window over the corpus, no
    * payload columns in any shuffle. Docs outside every pair short-circuit
    * to themselves through a left join.
    *
    * Returns (`idCol`, "canon_id") for EVERY input row.
    */
  def canonicalByScore(docs: DataFrame, pairs: DataFrame, idCol: String,
      scoreCol: String, aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comp = connectedComponentsStar(pairs, aCol, bCol, idCol)
    val withComp = docs.select(col(idCol), col(scoreCol))
      .join(comp, Seq(idCol), "left")
      .withColumn("__comp", coalesce(col("comp"), col(idCol).cast("long")))
    // argmax by (score desc, id asc) in one agg: struct comparison is
    // lexicographic, so (score, -id) maximizes score then minimizes id
    val winners = withComp.groupBy(col("__comp")).agg(
      max_by(col(idCol),
        struct(col(scoreCol), (lit(0L) - col(idCol)).as("__negid"))).as("canon_id"))
    withComp.select(col(idCol), col("__comp"))
      .join(winners, Seq("__comp"))
      .select(col(idCol), col("canon_id"))
  }

  /** End-to-end best-survivor fuzzy dedup: MinHash-LSH candidates,
    * exact-Jaccard verification, transitive closure, then KEEP the
    * highest-`scoreCol` member of each cluster (ties to the smallest id)
    * instead of [[minhashLshTransitive]]'s min-id policy. Returns the
    * kept rows of `df`, all columns.
    */
  def minhashLshCanonical(df: DataFrame, textCol: String, idCol: String,
      scoreCol: String, w: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    val pairs = minhashVerifiedPairs(df, textCol, idCol, w, bands, rowsPerBand, threshold)
    val keep = canonicalByScore(df, pairs, idCol, scoreCol)
      .where(col(idCol) === col("canon_id")).select(col(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }
}
