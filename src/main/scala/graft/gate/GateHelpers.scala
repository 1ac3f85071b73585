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

/** Shared plumbing for the per-family gate registries (split from
  * SparkEntry, round 19): session-conf scopes, table readers, the typed
  * event/document sources, the fixed BM25 query set, and shared
  * verification tails. `private[graft]` — the registries import it.
  */
private[graft] object GateHelpers {

  /** Stateful streaming pays per-micro-batch state-store task overhead on
    * every shuffle partition; the streaming gate queries pin a small count
    * for their own checkpoints (the session value is restored after).
    *
    * SEQUENTIAL-ONLY: this mutates the session-global conf non-reentrantly,
    * which is safe under Bench/Verify's one-query-at-a-time execution but
    * would race concurrent queries onto 4 shuffle partitions. Concurrent
    * callers must scope the override to a cloned session
    * (`spark.newSession()`) instead.
    */
  private[graft] def withPinnedShufflePartitions[A](s: SparkSession, n: Int)(body: => A): A = {
    val saved = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", saved)
  }

  /** Bytes actually read from the local filesystem since JVM start —
    * Hadoop's global `file:` scheme storage statistics, which count at
    * read() time and therefore SEE parquet row-group skips (a skipped
    * row group is never read; the static FileSourceScan `filesSize`
    * metric would not). local[*] runs every executor in-process, so the
    * global counter captures the whole query. Audit rows take a delta
    * around each serve (sequential-only, like the conf scopes above).
    */
  private[graft] def fsBytesRead(): Long = {
    val s = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file")
    if (s == null) 0L else {
      val v = s.getLong("bytesRead")
      if (v == null) 0L else v.longValue()
    }
  }

  private[graft] val StateStoreProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private[graft] val RocksDBProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Streaming-gate session conf: pins the shuffle-partition count (per-
    * micro-batch state-store task overhead scales with partitions) AND runs
    * the state on the RocksDB state store provider — the Spark-native
    * answer to the reference offloading online state to external Mergeable
    * stores (StormPlatform.scala:66-67). The default HDFSBackedStateStore
    * keeps every key in executor heap (~330 B/key measured, SURVEY §8), so
    * at 100M+ keys per executor the heap is the first thing to fall over;
    * RocksDB keeps the working state in native memory + local SST files
    * and the gate queries prove the whole streaming half runs green on it.
    * Both conf keys are restored after the body — same SEQUENTIAL-ONLY
    * caveat as the partition pin.
    */
  private[graft] def withStreamingGateConf[A](s: SparkSession, n: Int)(body: => A): A = {
    val savedProv = s.conf.getOption(StateStoreProviderKey)
    s.conf.set(StateStoreProviderKey, RocksDBProvider)
    try withPinnedShufflePartitions(s, n)(body)
    finally savedProv match {
      case Some(v) => s.conf.set(StateStoreProviderKey, v)
      case None    => s.conf.unset(StateStoreProviderKey)
    }
  }

  private[graft] def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events with event-time millis attached (TimeExtractor → column).
    * `EventTime.normalize` canonicalizes `ts` to a nanos Long by
    * dispatching on the OBSERVED Spark type — the source has shipped as
    * both `timestamp[ns]` (nanos Long under the sessions' `nanosAsLong`
    * flag, kept for back-compat) and `timestamp[us]` (TIMESTAMP_NTZ) —
    * so every downstream consumer (nanos window constants, as-of
    * ordering, `ts DIV 1000000` millis) sees one representation.
    * `ts` below is nanos (exact ordering), `ts_ms` is integral-division
    * millis (exact — double division would lose precision above 2^53 ns).
    */
  private[graft] def eventsDF(s: SparkSession, dir: String): DataFrame =
    sources.EventTime.normalize(t(s, dir, "events"))
      .withColumn("ts_ms", expr("ts DIV 1000000"))

  private[graft] def eventsDs(s: SparkSession, dir: String): Dataset[Ev] = {
    import s.implicits._
    eventsDF(s, dir)
      .select("event_id", "ts_ms", "user_id", "event_type", "value", "props").as[Ev]
  }

  /** COLUMNAR source: the (ts, Ev) pair is a Catalyst projection, so
    * `where()` predicates push down to the parquet scan (closure filters
    * can't). `_1` is ts_ms, Ev fields are `_2.<field>`.
    */
  private[graft] def eventStream(s: SparkSession, dir: String): GraftStream[Ev] = {
    import s.implicits._
    GraftStream.fromColumnar(eventsDs(s, dir), col("ts_ms"))
  }

  private[graft] def docsDs(s: SparkSession, dir: String): Dataset[Doc] = {
    import s.implicits._
    t(s, dir, "documents").select("doc_id", "text").as[Doc]
  }

  /** The fixed BM25 gate query set — mirrored verbatim in the oracle SQL's
    * VALUES clause (corpus-vocabulary terms so every query matches docs).
    */
  private[graft] val bm25QuerySet = Seq(
    0 -> "spark window merge",
    1 -> "customer filter join",
    2 -> "batch stream data",
    3 -> "hash join order sort",
    4 -> "query group agg",
    5 -> "vector scan dup table")

  private[graft] def bm25Queries(s: SparkSession): DataFrame = {
    import s.implicits._
    bm25QuerySet.toDF("query_id", "qtext")
  }

  /** Multiset equality of two MATERIALIZED frames with one one-sided
    * difference: |A| = |B| ∧ A ∖ B = ∅ (bag difference, `exceptAll`) ⟺
    * A = B as multisets, on ANY input — a duplicated row counts. Counts
    * on checkpointed frames are near-free; this halves the difference
    * joins a two-directional check pays.
    */
  private[graft] def setEq(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).count() == 0

  /** Shared verification tail of the int8 stored-serving rows
    * (q_ann_int8_stored, q_streaming_ann): both pin the SAME invariants —
    * exact equality with the one-shot in-memory int8TopK plus
    * q_ann_int8's recall/k contract — so the assertion lives once.
    */
  private[graft] def int8InvariantRow(e: DataFrame, q: Array[Double],
      stored: DataFrame): DataFrame = {
    // checkpointed (k rows): the symmetric-difference job below reads the
    // in-memory ranking twice — without this the full int8 scan runs twice
    val mem = Similarity.int8TopK(e, "embedding", "vec_id", q, 10)
      .localCheckpoint(true)
    val nDiff = stored.exceptAll(mem).unionByName(mem.exceptAll(stored))
      .agg(count(lit(1)).as("nd"))
    val exact = Similarity.bruteForceTopK(e, "embedding", "vec_id", q, 10)
      .select(col("vec_id"))
    val hit = stored.join(exact, "vec_id").agg(count(lit(1)).as("hits"))
    val kc = stored.agg(count(lit(1)).as("kc"))
    e.agg(count(lit(1)).as("n_vecs"))
      .crossJoin(broadcast(hit)).crossJoin(broadcast(kc))
      .crossJoin(broadcast(nDiff))
      .select(col("n_vecs"),
        (col("hits") >= 9).as("recall_ok"), (col("kc") === 10).as("k_ok"),
        (col("nd") === 0).as("same_as_mem"))
      .localCheckpoint(true)
  }


  /** BM25 oracle, assembled so the VALUES clause can never drift from
    * [[bm25QuerySet]]. Arithmetic mirrors the Spark side token for token
    * (same literals, same association) so both engines execute the same
    * IEEE operations; only the final few-term sum reorders, which 6dp
    * rounding absorbs.
    */
  /** The shared BM25 oracle CTE block, with the corpus restricted by
    * `docWhere` — "TRUE" for the full-corpus rows, a retained-set
    * predicate for the takedown row (q_bm25_delete), whose oracle IS the
    * rebuilt-without-the-documents computation.
    */
  private[graft] def bm25OracleBaseFor(docWhere: String): String =
    "WITH q(query_id, qtext) AS (VALUES " +
      bm25QuerySet.map { case (i, t) => "(" + i + ", '" + t + "')" }.mkString(", ") +
      ")," +
    s"""
      |d AS (SELECT doc_id,
      |  list_filter(string_split_regex(lower(text), '\\s+'), x -> len(x) > 0) AS toks
      |  FROM documents WHERE $docWhere),
      |stats AS (SELECT count(*) AS n_docs,
      |  CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl FROM d),
      |post AS (SELECT doc_id, tok, count(*) AS tf, any_value(dl) AS dl FROM (
      |  SELECT doc_id, unnest(toks) AS tok, len(toks) AS dl FROM d)
      |  GROUP BY doc_id, tok),
      |qt AS (SELECT query_id, unnest(list_distinct(
      |  list_filter(string_split_regex(lower(qtext), '\\s+'), x -> len(x) > 0))) AS tok
      |  FROM q),
      |dfq AS (SELECT tok, count(*) AS df FROM post
      |  WHERE tok IN (SELECT DISTINCT tok FROM qt) GROUP BY tok)""".stripMargin

  private[graft] val bm25OracleBase: String = bm25OracleBaseFor("TRUE")

  private[graft] val sessionizeOracle: String =
    """WITH m AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms,
      |    CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
      |         OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w >= 1800000
      |      THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts))),
      |s AS (
      |  SELECT user_id, ts_ms,
      |    CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      |  FROM m)
      |SELECT user_id, session_seq, min(ts_ms) AS session_start,
      |  max(ts_ms) AS session_end, count(*) AS n_events
      |FROM s GROUP BY 1, 2""".stripMargin

  private[graft] val qualityGateOracle: String =
    """WITH ranked AS (
      |  SELECT doc_id, lang,
      |    CAST(row_number() OVER (PARTITION BY lang
      |      ORDER BY length(text) DESC, doc_id ASC) AS INTEGER) AS rank,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM documents)
      |SELECT doc_id, lang, rank FROM ranked WHERE rank <= ceil(0.3 * n)""".stripMargin

  private[graft] val bm25ScoredSuffix: String =
    """
      |SELECT qt.query_id, post.doc_id,
      |  round(sum(ln(1 + (stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
      |    * (post.tf * (1.2 + 1))
      |    / (post.tf + 1.2 * ((1 - 0.75) + 0.75 * post.dl / stats.avgdl))), 6) AS score
      |FROM qt JOIN post ON qt.tok = post.tok
      |  JOIN dfq ON qt.tok = dfq.tok CROSS JOIN stats
      |GROUP BY qt.query_id, post.doc_id""".stripMargin

  private[graft] val bm25OracleScored: String = bm25OracleBase + bm25ScoredSuffix

  /** Shared by q_bm25_topk and q_bm25_topk_pruned (WAND-lite pruning is
    * exact): per-query top-3 by (6dp-rounded score desc, doc_id asc).
    */
  private[graft] val bm25TopKOracle: String = bm25OracleBase +
    """,
      |scored AS (
      |  SELECT qt.query_id, post.doc_id,
      |    round(sum(ln(1 + (stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
      |      * (post.tf * (1.2 + 1))
      |      / (post.tf + 1.2 * ((1 - 0.75) + 0.75 * post.dl / stats.avgdl))), 6) AS score
      |  FROM qt JOIN post ON qt.tok = post.tok
      |    JOIN dfq ON qt.tok = dfq.tok CROSS JOIN stats
      |  GROUP BY qt.query_id, post.doc_id)
      |SELECT query_id, doc_id, score, rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank FROM scored)
      |WHERE rank <= 3""".stripMargin

  /** Shared by q_hybrid_rrf (in-memory rankers) and q_hybrid_stored (the
    * stored serving path — exact, so the fused output is identical):
    * BM25 top-10 + token-overlap top-10 per query, RRF-fused (k0=60),
    * fused top-5 per query.
    */
  private[graft] val hybridRrfOracle: String = bm25OracleBase +
    """,
      |scored AS (
      |  SELECT qt.query_id, post.doc_id,
      |    round(sum(ln(1 + (stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
      |      * (post.tf * (1.2 + 1))
      |      / (post.tf + 1.2 * ((1 - 0.75) + 0.75 * post.dl / stats.avgdl))), 6) AS score
      |  FROM qt JOIN post ON qt.tok = post.tok
      |    JOIN dfq ON qt.tok = dfq.tok CROSS JOIN stats
      |  GROUP BY qt.query_id, post.doc_id),
      |lex AS (SELECT query_id, doc_id, rank FROM (
      |  SELECT query_id, doc_id, row_number() OVER (PARTITION BY query_id
      |    ORDER BY score DESC, doc_id ASC) AS rank FROM scored)
      |  WHERE rank <= 10),
      |ov AS (SELECT query_id, doc_id, rank FROM (
      |  SELECT qt.query_id, post.doc_id, row_number() OVER (
      |      PARTITION BY qt.query_id
      |      ORDER BY count(*) DESC, post.doc_id ASC) AS rank
      |  FROM qt JOIN post ON qt.tok = post.tok
      |  GROUP BY qt.query_id, post.doc_id)
      |  WHERE rank <= 10),
      |fused AS (SELECT query_id, doc_id, sum(1.0 / (60 + CAST(rank AS DOUBLE))) AS rrf
      |  FROM (SELECT * FROM lex UNION ALL SELECT * FROM ov)
      |  GROUP BY 1, 2)
      |SELECT query_id, doc_id, round(rrf, 6) AS rrf, fused_rank FROM (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY rrf DESC, doc_id ASC) AS INTEGER) AS fused_rank FROM fused)
      |WHERE fused_rank <= 5""".stripMargin

  /** Shared by q_nb_classifier and q_nb_incr (merged integer counts ≡
    * full-retrain counts, so both rows produce identical doubles). The
    * arithmetic mirrors Scoring.naiveBayes* literally: every ln runs on
    * the same IEEE division both engines compute; score rounds to 6dp.
    */
  private[graft] val nbClassifierOracle: String =
    """WITH lab AS (SELECT doc_id, lower(text) AS t, length(text) > 300 AS y
      |  FROM documents WHERE doc_id % 2 = 0),
      |tok AS (SELECT y, unnest(
      |    list_filter(string_split_regex(t, '\s+'), x -> len(x) > 0)) AS token
      |  FROM lab),
      |pt AS (SELECT token,
      |    sum(CASE WHEN y THEN 1 ELSE 0 END) AS c_pos,
      |    sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS c_neg
      |  FROM tok GROUP BY 1),
      |tot AS (SELECT sum(c_pos) AS n_pos, sum(c_neg) AS n_neg, count(*) AS v
      |  FROM pt),
      |dc AS (SELECT sum(CASE WHEN y THEN 1 ELSE 0 END) AS d_pos,
      |    sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS d_neg FROM lab),
      |consts AS (SELECT
      |    ln(CAST(d_pos AS DOUBLE)) - ln(CAST(d_neg AS DOUBLE)) AS prior,
      |    ln(CAST(n_neg + v AS DOUBLE)) - ln(CAST(n_pos + v AS DOUBLE)) AS unk_llr
      |  FROM dc, tot),
      |llr AS (SELECT token,
      |    ln(CAST(c_pos + 1 AS DOUBLE) / CAST(n_pos + v AS DOUBLE)) -
      |    ln(CAST(c_neg + 1 AS DOUBLE) / CAST(n_neg + v AS DOUBLE)) AS llr
      |  FROM pt, tot),
      |dt AS (SELECT doc_id, unnest(
      |    list_filter(string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS token
      |  FROM documents WHERE doc_id % 2 = 1),
      |ts AS (SELECT d.doc_id, sum(coalesce(l.llr, c.unk_llr)) AS s
      |  FROM dt d LEFT JOIN llr l ON d.token = l.token CROSS JOIN consts c
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |  round((SELECT prior FROM consts) + coalesce(ts.s, 0), 6) AS score,
      |  ((SELECT prior FROM consts) + coalesce(ts.s, 0)) > 0 AS pred
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
      |LEFT JOIN ts ON d.doc_id = ts.doc_id""".stripMargin

  /** Shared by q_corpus_stats and q_streaming_corpus_stats (the streamed
    * roll-forward sums the same integers).
    */
  private[graft] val corpusStatsOracle: String =
    """SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
      |  CAST(sum(len(list_filter(string_split_regex(text, '\s+'),
      |    x -> len(x) > 0))) AS BIGINT) AS n_tokens
      |FROM documents GROUP BY 1, 2""".stripMargin
}
