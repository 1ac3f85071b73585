package graft.client

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}

import graft.algebra.Semigroup
import graft.batch.BatchStore
import graft.plans.SortedGroups
import graft.time.BatchID

/** The lambda-architecture serving-time merge — rebuild of the reference's
  * `ClientStore[K, V]` (summingbird-client/.../store/ClientStore.scala:
  * 123-173, algorithm comment 79-122): fetch the last offline snapshot
  * (covering batches <= b_off), fetch online deltas for the uncovered range
  * (b_off, upTo], Semigroup-merge per key, drop batch ids.
  *
  * The reference's `offlineLTEQBatch` monotonicity guard (ClientStore.scala:
  * 70-75) is preserved: online deltas at or below the snapshot batch are
  * EXCLUDED so no event is double-counted.
  *
  * [[merged]] (the bulk Dataset read) runs as one union + one aggregation
  * — a single shuffle on K; with a broadcast-size snapshot Catalyst will
  * collapse it further. The key-set reads [[get]]/[[getBatch]] run one
  * shuffle-free job and fold on the driver.
  */
object ClientStore {

  /** `onlineDeltas`: (K, batch, delta) rows as emitted by the streaming
    * Summer. Missing online batches inside the range are fine (the reference
    * tolerates holes only if the semigroup handles absence — here absence is
    * simply "no delta", which is always sound for half-open delta semantics).
    */
  def merged[K, V](
      spark: SparkSession,
      offline: BatchStore[K, V],
      onlineDeltas: Dataset[(K, Long, V)],
      upTo: BatchID = BatchID(Long.MaxValue))(
      implicit sg: Semigroup[V], kEnc: Encoder[K], vEnc: Encoder[V]): Dataset[(K, V)] = {

    implicit val kvEnc: Encoder[(K, V)] = Encoders.tuple(kEnc, vEnc)
    val (offBatch, snapshot) = offline.readLast(spark, upTo) match {
      case Some((b, snap)) => (b.id, snap)
      case None            => (Long.MinValue, spark.emptyDataset[(K, V)])
    }
    implicit val taggedEnc: Encoder[(Long, K, V)] =
      Encoders.tuple(Encoders.scalaLong, kEnc, vEnc)
    // tag with a fold-order key: snapshot rows first (Long.MinValue), then
    // online deltas in batch order — the reference's offline-then-online
    // merge order (ClientStore.scala:79-122), which matters exactly when the
    // semigroup is non-commutative
    val snapTagged = snapshot.map(r => (Long.MinValue, r._1, r._2))
    val onlineTagged = onlineDeltas
      .filter(r => r._2 > offBatch && r._2 <= upTo.id)
      .map(r => (r._2, r._1, r._3))
    mergeTagged(snapTagged.union(onlineTagged))
  }

  /** Semigroup-merge (K, V) rows per key via `reduceGroups` (one shuffle,
    * map-side combined hash agg). The fold order is whatever order Spark's
    * aggregate sees the rows in — ONLY sound for commutative semigroups; for
    * non-commutative values use [[merged]]/[[mergeTagged]], which fold
    * offline-then-online in batch order.
    */
  def mergeKV[K, V](kv: Dataset[(K, V)])(
      implicit sg: Semigroup[V], kEnc: Encoder[K], vEnc: Encoder[V]): Dataset[(K, V)] = {
    implicit val kvEnc: Encoder[(K, V)] = Encoders.tuple(kEnc, vEnc)
    kv.groupByKey(_._1)(kEnc)
      .mapValues(_._2)(vEnc)
      .reduceGroups((a: V, b: V) => sg.plus(a, b))
  }

  /** Merge (sortKey, K, V) rows per key in sortKey order. Commutative
    * semigroups drop the tag and take the hash-agg path; non-commutative
    * values fold through the spill-safe per-key sorted scan (same machinery
    * as BatchStore.merge), so the serving merge is deterministic:
    * offline snapshot first, then online deltas in batch order.
    */
  def mergeTagged[K, V](rows: Dataset[(Long, K, V)])(
      implicit sg: Semigroup[V], kEnc: Encoder[K], vEnc: Encoder[V]): Dataset[(K, V)] = {
    implicit val kvEnc: Encoder[(K, V)] = Encoders.tuple(kEnc, vEnc)
    if (sg.isCommutative)
      mergeKV(rows.map(r => (r._2, r._3))(kvEnc))
    else
      SortedGroups.perKeyTimeSorted(rows) { (k: K, it: Iterator[(Long, V)]) =>
        var acc: Option[V] = None
        it.foreach { case (_, v) => acc = Some(acc.fold(v)(a => sg.plus(a, v))) }
        acc.iterator.map(v => (k, v))
      }()
  }

  /** Point lookup for a single key — the reference's `get` (serving path,
    * a storehaus point-read in the reference: ClientStore.scala:123-173):
    * the one-key [[getBatch]], so a get is the same single pruned,
    * shuffle-free job.
    */
  def get[K, V](
      spark: SparkSession,
      offline: BatchStore[K, V],
      onlineDeltas: Dataset[(K, Long, V)],
      key: K,
      upTo: BatchID = BatchID(Long.MaxValue))(
      implicit sg: Semigroup[V], kEnc: Encoder[K], vEnc: Encoder[V]): Option[V] =
    getBatch(spark, offline, onlineDeltas, Seq(key), upTo).get(key)

  /** Multi-key lookup — the reference's serving shape is storehaus
    * `multiGet` (a request fetches a key SET, ClientStore.scala:123-173).
    * ONE Spark job, no shuffle: it collects the tagged union of the pruned
    * snapshot rows ([[servedFrame]]) and folds per key on the driver in tag
    * order — snapshot first, then online batches in order — so the result
    * is the offline-then-online merge for every semigroup, commutative or
    * not. The driver holds what the API returns anyway: per requested key,
    * one snapshot row plus its deltas in (b_off, upTo]. Missing keys are
    * simply absent from the returned map; an empty key set touches no
    * Spark at all.
    */
  def getBatch[K, V](
      spark: SparkSession,
      offline: BatchStore[K, V],
      onlineDeltas: Dataset[(K, Long, V)],
      keys: Seq[K],
      upTo: BatchID = BatchID(Long.MaxValue))(
      implicit sg: Semigroup[V], kEnc: Encoder[K], vEnc: Encoder[V]): Map[K, V] =
    if (keys.isEmpty) Map.empty
    else servedFrame(spark, offline, onlineDeltas, keys, upTo).collect()
      .sortBy(_._1) // stable: same-batch deltas keep their scan order
      .foldLeft(Map.empty[K, V]) { case (acc, (_, k, v)) =>
        acc.updated(k, acc.get(k).fold(v)(sg.plus(_, v)))
      }

  /** The (tag, K, V) rows [[getBatch]] folds, before any merge: the
    * snapshot rows of `keys` (tag Long.MinValue) through
    * `BatchStore.readLastForKeys` — a clustered store prunes to the union
    * of the keys' bucket dirs — plus the online deltas of `keys` in
    * (b_off, upTo], tagged with their batch, with `key IN (...)` pushed
    * onto the delta scan. A union of two pruned scans: no exchange.
    */
  private[graft] def servedFrame[K, V](
      spark: SparkSession,
      offline: BatchStore[K, V],
      onlineDeltas: Dataset[(K, Long, V)],
      keys: Seq[K],
      upTo: BatchID)(
      implicit kEnc: Encoder[K], vEnc: Encoder[V]): Dataset[(Long, K, V)] = {
    implicit val kvEnc: Encoder[(K, V)] = Encoders.tuple(kEnc, vEnc)
    implicit val taggedEnc: Encoder[(Long, K, V)] =
      Encoders.tuple(Encoders.scalaLong, kEnc, vEnc)
    // COLUMN filter when the key type has a literal form (pushes to the
    // delta scan); typed-closure fallback for exotic key types
    import org.apache.spark.sql.functions.lit
    val keyLits = scala.util.Try(keys.map(lit)).toOption
    val keySet = keys.toSet
    val (offBatch, snapshotK) = offline.readLastForKeys(spark, keys, upTo) match {
      case Some((b, snap)) => (b.id, snap)
      case None            => (Long.MinValue, spark.emptyDataset[(K, V)])
    }
    // positional column refs: typed Datasets keep their source column names
    val onlineFiltered = keyLits.fold(onlineDeltas.filter(r => keySet(r._1)))(ls =>
      onlineDeltas.where(onlineDeltas(onlineDeltas.columns(0)).isin(ls: _*)))
    val batchCol = onlineFiltered(onlineFiltered.columns(1))
    val snapTagged = snapshotK.map(r => (Long.MinValue, r._1, r._2))
    val onlineTagged = onlineFiltered
      .where(batchCol > offBatch && batchCol <= upTo.id)
      .map(r => (r._2, r._1, r._3))
    snapTagged.union(onlineTagged)
  }
}
