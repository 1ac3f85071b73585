package graft.batch

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession, functions}

import graft.algebra.Semigroup
import graft.plans.{GraftEncoders, SortedGroups}
import graft.time.BatchID

/** Versioned key-value snapshot store on Parquet — the rebuild of the
  * reference's `VersionedBatchStore` (summingbird-scalding/.../store/
  * VersionedBatchStore.scala:62-143) + `BatchedStore` merge algebra
  * (batch/BatchedStore.scala:92-245).
  *
  * Layout: `path/batch_id=N/` holds the all-time (K -> V) snapshot through
  * batch N inclusive; `path/_graft_state.json` is the commit log
  * ([[BatchState]], mirroring the reference's HDFSState JobState.scala:23-40).
  * Snapshot writes go to a temp dir then commit by state-file update, so a
  * failed job never corrupts the last good snapshot (reference semantics:
  * version dirs + succeeded marker).
  *
  * At 100 TB scale: a snapshot is a plain partitioned parquet dataset; the
  * merge is one shuffle on K (hash for commutative values) and the delta
  * aggregation is map-side-combined by Spark's hash aggregate, so the
  * shuffled bytes are ≈ |distinct keys touched|, not |events|.
  *
  * @param versionsToKeep retain only the newest N committed snapshots
  *        (reference `VersionedBatchStore.versionsToKeep`,
  *        VersionedBatchStore.scala:40,105). Older snapshot dirs are deleted
  *        after each successful commit; the newest is never deleted. Default
  *        keeps everything (the pre-retention behavior).
  * @param firstNonZero declared start boundary (reference
  *        `InitialBatchedStore`, store/InitialBatchedStore.scala:28-45): the
  *        store is empty at exactly this batch's start, and any read strictly
  *        before that boundary fails fast instead of silently serving an
  *        empty store — catching a mis-pointed path or a request for history
  *        that never existed.
  * @param retentionGraceMs deletion grace for the retention sweep: 0
  *        (default) deletes pruned snapshot dirs immediately after the
  *        commit-log rewrite; a positive grace TOMBSTONES them instead
  *        ([[StoreFs.sweepDir]]) and deletes only on a later prune that
  *        finds the tombstone older than the grace — so a reader that
  *        resolved an older snapshot (readLast at a historical batch)
  *        finishes its scan across a concurrent retention sweep. Size it
  *        above the longest reader's runtime, as with
  *        [[SegmentedStore.sweepUncommitted]].
  * @param keyBuckets key-clustered snapshot layout for the SERVING path
  *        (the reference's ClientStore is a storehaus point-read,
  *        summingbird-client ClientStore.scala:123-173 — a get must not
  *        scan the store): snapshots write partitioned by
  *        `kb = pmod(hash(key), n)` directories, rows sorted by key within
  *        each file. [[readLastForKey]] then folds the bucket predicate to
  *        a constant → static partition pruning reads ONE directory, and
  *        the key equality pushes to parquet where the sorted layout prunes
  *        to ~1 row group (PlanAuditSpec pins scanned-file count = 1).
  *        Size n so a bucket ≈ one row group (128 MB) at the store's scale;
  *        None keeps the flat layout (batch-merge-only stores don't pay
  *        the extra shuffle).
  * @param cumulativeSnapshots declare that every retained snapshot's key
  *        set is a subset of the newest's — true for stores maintained
  *        ONLY through [[merge]] / [[deleteKeys]] / [[backfill]] (merge
  *        folds forward and never drops a key; the other two rewrite all
  *        retained versions uniformly), false (default) when
  *        [[writeSnapshot]] commits arbitrary per-batch content. With the
  *        flag on, [[deleteKeys]]'s no-op guard probes ONLY the newest
  *        snapshot — a re-delivered or never-present takedown on a store
  *        with long retention costs one probe instead of a full
  *        newest-first sweep of every retained version.
  */
final class BatchStore[K, V](
    val path: String,
    val versionsToKeep: Int = Int.MaxValue,
    val firstNonZero: Option[BatchID] = None,
    val keyBuckets: Option[Int] = None,
    val retentionGraceMs: Long = 0L,
    val cumulativeSnapshots: Boolean = false)(
    implicit kEnc: Encoder[K], vEnc: Encoder[V]) extends Serializable {

  require(versionsToKeep >= 1, s"versionsToKeep must be >= 1, got $versionsToKeep")
  keyBuckets.foreach(n => require(n >= 1, s"keyBuckets must be >= 1, got $n"))
  require(retentionGraceMs >= 0, s"retentionGraceMs must be >= 0, got $retentionGraceMs")

  private implicit def kvEnc: Encoder[(K, V)] = Encoders.tuple(kEnc, vEnc)

  def state: BatchState = BatchState.read(path)

  /** Last committed snapshot at or before `beforeOrAt` (reference
    * `readLast(exclusiveUB)`, BatchedStore.scala:92-95). With [[firstNonZero]]
    * declared, a read below the boundary (beforeOrAt < firstNonZero - 1)
    * throws; a read at exactly the boundary returns None (empty store).
    */
  /** Shared read scaffolding: firstNonZero boundary guard + last committed
    * snapshot as a raw DataFrame (both read paths filter/select over it).
    */
  private def lastSnapshotRaw(spark: SparkSession,
      beforeOrAt: BatchID): Option[(BatchID, String, org.apache.spark.sql.DataFrame)] = {
    firstNonZero.foreach { fnz =>
      if (beforeOrAt.id < fnz.id - 1)
        throw new IllegalStateException(
          s"BatchStore($path) declares firstNonZero=${fnz.id}: reading through batch " +
          s"${beforeOrAt.id} is before the store existed (mis-pointed path or bad request)")
    }
    // ONE commit-log resolution per read: the snapshot dir (batch id AND
    // generation) comes from a single state read, so a concurrent
    // deleteKeys generation flip can never tear a read across two states
    val st = state
    st.lastCommitted(beforeOrAt).map { b =>
      val dir = snapshotDirAt(b, st.genOf(b.id))
      (b, dir, readSnapshotDir(spark, dir))
    }
  }

  /** A snapshot dir as a DataFrame, read with the `(key: K, value: V)`
    * schema the encoders define — the shape [[writeSnapshotData]] writes —
    * so no read launches a schema-inference job (footer reads); partition
    * discovery still appends `kb` on a clustered store.
    */
  private def readSnapshotDir(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val Array(k, v) = kvEnc.schema.fields
    spark.read.schema(org.apache.spark.sql.types.StructType(
      Seq(k.copy(name = "key"), v.copy(name = "value")))).parquet(dir)
  }

  def readLast(spark: SparkSession, beforeOrAt: BatchID = BatchID(Long.MaxValue)): Option[(BatchID, Dataset[(K, V)])] =
    lastSnapshotRaw(spark, beforeOrAt).map { case (b, _, raw) =>
      // snapshots are written as (key, value); select by name (a clustered
      // snapshot also carries the kb partition column) and rename back to
      // the tuple encoder's (_1, _2) field names
      (b, raw.select(functions.col("key").as("_1"), functions.col("value").as("_2"))
        .as[(K, V)])
    }

  /** Point-read of the last snapshot: only `key`'s rows, with the scan
    * pruned by the clustered layout when [[keyBuckets]] is set. The bucket
    * predicate `kb = pmod(hash(lit(key)), n)` constant-folds at
    * optimization time, so partition pruning selects ONE `kb=` directory
    * statically; the key-equality predicate pushes to parquet, where the
    * within-file key sort confines decoding to ~1 row group. Key types
    * with no literal form fall back to an unpruned typed filter (same
    * result, full scan) — the serving deployment uses literal-able keys.
    */
  def readLastForKey(spark: SparkSession, key: K,
      beforeOrAt: BatchID = BatchID(Long.MaxValue)): Option[(BatchID, Dataset[(K, V)])] =
    readLastForKeys(spark, Seq(key), beforeOrAt)

  /** Multi-key point-read (the storehaus multiGet shape — the reference's
    * serving layer fetches key SETS, summingbird-client ClientStore.scala:
    * 123-173): one pruned scan for the whole set. On a clustered store the
    * scan statically prunes to the UNION of the keys' bucket dirs (each
    * bucket evaluated driver-side, Murmur3/seed-42 as at write time) plus
    * a pushed `key IN (...)` — so a 100-key multiget touches at most 100
    * of n directories and ~1 row group each, never the store.
    */
  def readLastForKeys(spark: SparkSession, keys: Seq[K],
      beforeOrAt: BatchID = BatchID(Long.MaxValue)): Option[(BatchID, Dataset[(K, V)])] = {
    import functions.{col, hash, lit, pmod}
    require(keys.nonEmpty, "readLastForKeys needs at least one key")
    lastSnapshotRaw(spark, beforeOrAt).map { case (b, snapDir, raw) =>
      val keyLits = scala.util.Try(keys.map(lit)).toOption
      val pruned = (keyBuckets, keyLits) match {
        case (Some(n), Some(ls)) if raw.columns.contains("kb") =>
          // the declared bucket count MUST match the on-disk layout — a
          // store reopened with a different keyBuckets would name the
          // wrong kb= directory for most keys and silently serve
          // empty/partial point reads (the same silent-fragmentation
          // class resolveNbrs guards against for ANN shards)
          val kbOnDisk = StoreFs.listStatus(snapDir)
            .map(_.getPath.getName)
            .flatMap(name => scala.util.Try(name.stripPrefix("kb=").toInt).toOption
              .filter(_ => name.startsWith("kb=")))
            .toSet
          // distinguish the two loud-failure classes: a snapshot written
          // with a DIFFERENT bucket count is a contiguous kb=0..m-1 range
          // of the wrong size; HOLES in the range mean a bucket dir was
          // lost after commit (store corruption / partial copy). Both must
          // refuse to serve — partition pruning would otherwise skip the
          // requested key's absent dir and return an empty point read
          // indistinguishable from "no value for key".
          if (kbOnDisk != (0 until n).toSet) {
            if (kbOnDisk == (0 until kbOnDisk.size).toSet)
              throw new IllegalStateException(
                s"BatchStore($path) snapshot batch ${b.id} has ${kbOnDisk.size} kb= " +
                s"bucket dirs but the store declares keyBuckets=$n — reopened with a " +
                "different bucket count than it was written with")
            val span = math.max(n, kbOnDisk.maxOption.map(_ + 1).getOrElse(0))
            val missing = ((0 until span).toSet -- kbOnDisk).toSeq.sorted
            throw new IllegalStateException(
              s"BatchStore($path) snapshot batch ${b.id} is missing bucket dirs " +
              s"${missing.map(i => s"kb=$i").mkString(", ")} of the declared " +
              s"keyBuckets=$n — store corruption or a partial write; refusing to " +
              "serve point reads that could silently return empty")
          }
          // each key's bucket is `pmod(hash(<literal>), n)` — a FOLDABLE
          // expression (hash of a literal constant-folds), so the
          // optimizer reduces the IN-list to plain literals and static
          // partition pruning selects exactly the keys' bucket dirs.
          // PlanAuditSpec pins scanned-files == 1 (single key) and
          // <= |keys| (multiget), so a Spark version that stopped
          // folding this would fail the suite loudly rather than
          // silently scanning every bucket.
          raw.where(col("key").isin(ls: _*))
            .where(col("kb").isin(ls.map(l => pmod(hash(l), lit(n))): _*))
        case (_, Some(ls)) => raw.where(col("key").isin(ls: _*))
        case _             => raw
      }
      val ds = pruned.select(col("key").as("_1"), col("value").as("_2")).as[(K, V)]
      val keySet = keys.toSet
      (b, if (keyLits.isEmpty) ds.filter(r => keySet(r._1)) else ds)
    }
  }

  /** Batch `b`'s LIVE snapshot dir — `batch_id=b` at generation 0,
    * `batch_id=b.gN` after N maintenance rewrites ([[deleteKeys]]).
    */
  def snapshotDir(b: BatchID): String = snapshotDirAt(b, state.genOf(b.id))

  private def snapshotDirAt(b: BatchID, gen: Long): String =
    s"$path/${batchDirName(b.id, gen)}"

  private def batchDirName(id: Long, gen: Long): String =
    if (gen <= 0) s"batch_id=$id" else s"batch_id=$id.g$gen"

  /** The physical snapshot write shape, shared by [[writeSnapshot]] and
    * [[deleteKeys]]: with [[keyBuckets]] set, key-clustered — one shuffle
    * into `n` bucket tasks (exactly one file per `kb=` directory), rows
    * key-sorted within each file so parquet row-group stats are disjoint
    * key ranges; flat parquet otherwise.
    */
  private def writeSnapshotData(dir: String, snapshot: Dataset[(K, V)]): Unit = {
    import functions.{col, hash, lit, pmod}
    val kv = snapshot.toDF("key", "value")
    keyBuckets match {
      case Some(n) =>
        kv.withColumn("kb", pmod(hash(col("key")), lit(n)))
          .repartition(n, col("kb"))
          .sortWithinPartitions(col("kb"), col("key"))
          .write.mode("overwrite").partitionBy("kb").parquet(dir)
        // materialize every declared bucket dir, including keyless ones
        // (parquet writes no dir for an empty partition): the point-read
        // guard keys on dir EXISTENCE, so a legitimately empty bucket must
        // be distinguishable from a dir lost after commit. Runs before the
        // commit — a crash here leaves an uncommitted snapshot, never
        // a committed one with holes.
        (0 until n).foreach { i =>
          val d = s"$dir/kb=$i"
          if (!StoreFs.exists(d)) StoreFs.mkdirs(d)
        }
      case None =>
        kv.write.mode("overwrite").parquet(dir)
    }
  }

  /** Overwrite-commit the snapshot for batch `b` (reference `writeLast`,
    * VersionedBatchStore.scala:62-143), at the batch's CURRENT generation
    * (re-running a batch overwrites in place, the pre-generation
    * behavior).
    */
  def writeSnapshot(b: BatchID, snapshot: Dataset[(K, V)]): Unit =
    // single-writer lease (same contract as SegmentedStore mutations): two
    // drivers pointed at one store race the commit log; fail loudly instead
    WriterLease.withLock(path) {
      writeSnapshotData(snapshotDirAt(b, state.genOf(b.id)), snapshot)
      BatchState.commit(path, b)
      prune()
    }

  /** Key-deletion maintenance — the takedown / right-to-be-forgotten path
    * for the SERVING store (the index analogue is
    * [[graft.operators.Retrieval.deleteFromStored]]; the reference's
    * VersionedBatchStore has no delete — a real lambda deployment gets
    * revocation requests against the KV store too). Rewrites EVERY
    * retained snapshot without the keys, each as a NEW GENERATION of the
    * same batch id (content changes, batch coverage doesn't — consuming a
    * time-derived batch id would corrupt merge semantics), then re-points
    * the store in ONE atomic commit-log flip: a crash mid-rewrite leaves
    * only uncommitted generation dirs (swept later), never a store where
    * some versions served the key and some didn't. Superseded generations
    * sweep behind [[retentionGraceMs]], like retention.
    *
    * All retained versions are rewritten — not just the newest — because
    * a historical `readLast(beforeOrAt)` must not serve the revoked key
    * either. Deltas merged AFTER the delete re-introduce a key's new
    * events by design: a takedown removes accumulated state, not the
    * key's future.
    *
    * Two forms: this `Seq[K]` sugar for takedown-sized requests, and the
    * `Dataset[K]` overload for mass revocation (anti-join rewrite, no
    * driver materialization of the key set).
    */
  def deleteKeys(spark: SparkSession, keys: Seq[K]): Unit = {
    require(keys.nonEmpty, "deleteKeys needs at least one key")
    deleteKeys(spark.createDataset(keys)(kEnc))
  }

  /** [[deleteKeys]] with the victim set as a DATASET — the mass-revocation
    * form: a 10⁶-key revocation must rewrite via a codegen'd LEFT-ANTI
    * JOIN per retained snapshot (Catalyst broadcasts or shuffles the key
    * side as its size dictates), never via a driver-materialized key set.
    * The `Seq[K]` overload is sugar over this one (takedown-sized
    * requests). The plan the rewrite runs is pinned join-shaped — no
    * LocalRelation of a collected key set — in BatchStoreDeleteSpec.
    */
  def deleteKeys(keys: Dataset[K]): Unit =
    WriterLease.withLock(path) {
      val spark = keys.sparkSession
      val st = state
      require(st.committed.nonEmpty,
        s"deleteKeys(BatchStore($path)): nothing committed yet")
      // the victim frame in the snapshot's key-column shape, deduped and
      // persisted: read once per retained version plus the guard probes
      val keyDf = keyFrame(keys).persist()
      try {
        require(keyDf.limit(1).count() > 0, "deleteKeys needs at least one key")
        // snapshot-rewrite guard (idempotence of the EXPENSIVE half),
        // across ALL retained versions newest-first: merge-maintained
        // stores are cumulative and hit on the first probe, but
        // writeSnapshot is a public API that can commit arbitrary
        // per-batch content — a key present only in an older retained
        // version must still trigger the rewrite, not silently no-op.
        // A store DECLARED cumulative ([[cumulativeSnapshots]]) probes
        // only the newest: a re-delivered takedown then costs one probe
        // regardless of retention depth
        val probeIds =
          if (cumulativeSnapshots) List(st.committed.max)
          else st.committed.sorted.reverse
        val anyMatch = probeIds.exists { id =>
          readSnapshotDir(spark, snapshotDirAt(BatchID(id), st.genOf(id)))
            .join(keyDf, Seq("key"), "left_semi").limit(1).count() > 0
        }
        val bumped =
          if (!anyMatch) Map.empty[Long, Long]
          else st.committed.map { id =>
            val gen = st.genOf(id)
            val cur = antiJoinKeys(
              readSnapshotDir(spark, snapshotDirAt(BatchID(id), gen)), keyDf)
              .select(functions.col("key").as("_1"),
                functions.col("value").as("_2")).as[(K, V)]
            writeSnapshotData(snapshotDirAt(BatchID(id), gen + 1), cur)
            id -> (gen + 1)
          }.toMap
        // durable revocation record ([[backfill]]'s resurrection guard):
        // (digest, cutoff) rows — xxhash64 of each requested key with the
        // newest committed batch as the revocation's time UPPER BOUND, so
        // the guard re-applies the takedown only to history ≤ the cutoff
        // and the key's FUTURE stays unguarded (the deleteKeys contract).
        // Recorded EVEN when no retained snapshot matched: retention may
        // have dropped the key's era, but a backfill from the master
        // dataset could still recompute it — the intent must outlive the
        // snapshots. Committed in the SAME atomic flip as the generation
        // bump. A (digest, ub ≤ recorded-ub) pair is already covered
        // (re-delivered revocations change nothing); a RE-revocation
        // after re-admission carries a higher cutoff and lands.
        val cutoff = st.committed.max
        val newDigests = keyDf
          .select(functions.xxhash64(functions.col("key")).as("kd"),
            functions.lit(cutoff).as("ub"))
          .distinct()
        val fresh = readRevokedDigests(spark, st) match {
          case Some(old) =>
            val covered = old.groupBy(functions.col("kd"))
              .agg(functions.max(functions.col("ub")).as("__maxub"))
            newDigests.join(covered,
              newDigests("kd") === covered("kd") &&
                newDigests("ub") <= covered("__maxub"), "left_anti")
          case None => newDigests
        }
        val revIds =
          if (fresh.limit(1).count() == 0) st.revokedIds
          else {
            val revId = st.revokedIds.maxOption.getOrElse(0L) + 1
            fresh.write.mode("overwrite").parquet(revokedDir(revId))
            revId :: st.revokedIds
          }
        if (anyMatch || revIds != st.revokedIds) {
          BatchState.write(path,
            st.copy(gens = st.gens ++ bumped, revokedIds = revIds))
          sweepDeadSnapshotDirs()
        }
      } finally {
        keyDf.unpersist()
        ()
      }
    }

  /** The victim set in the snapshot's `key`-column shape (kEnc's tuple
    * field serialization — a struct for product keys, flat otherwise),
    * deduped. Package-visible so the delete-plan law can audit exactly
    * the frame [[deleteKeys]] joins with.
    */
  private[batch] def keyFrame(keys: Dataset[K]): org.apache.spark.sql.DataFrame = {
    implicit val kbE: Encoder[(K, Boolean)] =
      Encoders.tuple(kEnc, Encoders.scalaBoolean)
    keys.distinct().map(k => (k, true)).toDF("key", "__t").select("key")
  }

  /** The one rewrite shape of the Dataset-scale delete: snapshot rows
    * minus the victim frame, as a left-anti join on the key column.
    * Package-visible for the plan-audit law (no LocalRelation of keys).
    */
  private[batch] def antiJoinKeys(snapshot: org.apache.spark.sql.DataFrame,
      keyDf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    snapshot.select(functions.col("key"), functions.col("value"))
      .join(keyDf, Seq("key"), "left_anti")

  /** Fold the revocation-digest record into ONE parquet dir — the
    * maintenance-cadence hygiene for a store taking many takedowns (the
    * record grows one tiny dir per effective [[deleteKeys]] and is read
    * whole by every [[backfill]]; same fragmentation cadence as index
    * compaction). One atomic log flip re-points `revokedIds` to the
    * folded set; the digests themselves are permanent — compaction
    * changes their layout, never their content (law-pinned: a dirty
    * backfill is guarded identically before and after). Superseded dirs
    * sweep behind [[retentionGraceMs]]. No-op below `maxDirs`.
    */
  def compactRevoked(spark: SparkSession, maxDirs: Int = 8): Boolean =
    WriterLease.withLock(path) {
      require(maxDirs >= 1, s"maxDirs must be >= 1, got $maxDirs")
      val st = state
      if (st.revokedIds.size <= maxDirs) false
      else {
        // fold to one (digest, max cutoff) row per key — re-revocations
        // collapse to their newest bound, which is what the guard uses.
        // Legacy kd-only rows MIGRATE here: their open-ended MaxValue
        // bound is stamped down to the store's max committed batch at
        // migration time — every batch that existed when (or since) the
        // legacy takedown was recorded stays guarded, while batches
        // committed AFTER this compaction replay, restoring the
        // 'accumulated state, not the key's future' contract that the
        // MaxValue shim suspends (and letting a later re-revocation
        // land: a finite bound can be exceeded, MaxValue never)
        val all = readRevokedDigests(spark, st,
            legacyUb = st.committed.maxOption.getOrElse(Long.MaxValue)).get
          .groupBy(functions.col("kd"))
          .agg(functions.max(functions.col("ub")).as("ub"))
        val revId = st.revokedIds.max + 1
        all.write.mode("overwrite").parquet(revokedDir(revId))
        BatchState.write(path, st.copy(revokedIds = List(revId)))
        sweepDeadSnapshotDirs()
        true
      }
    }

  private def revokedDir(id: Long): String = s"$path/_graft_revoked/rev=$id"

  /** Union of the committed revocation-digest sets as (kd, ub) rows; None
    * when no takedown was ever recorded. Digest dirs written before the
    * cutoff column existed (kd-only) normalize to `legacyUb` —
    * `Long.MaxValue` by default: the pre-cutoff semantics guarded ALL
    * history, so the widest bound preserves them exactly (same tolerance
    * discipline as [[BatchState.read]]'s pre-r13/r14 log fields). The
    * open bound also guards the key's FUTURE (legacy-revoked keys need
    * `allowResurrect = true` to ever replay) — [[compactRevoked]] closes
    * that by migrating kd-only rows to a finite bound, which is the one
    * caller that passes a different `legacyUb`.
    */
  private def readRevokedDigests(spark: SparkSession,
      st: BatchState,
      legacyUb: Long = Long.MaxValue): Option[org.apache.spark.sql.DataFrame] =
    if (st.revokedIds.isEmpty) None
    else Some(st.revokedIds.map { id =>
      val d = spark.read.parquet(revokedDir(id))
      if (d.columns.contains("ub")) d.select(functions.col("kd"), functions.col("ub"))
      else d.select(functions.col("kd"),
        functions.lit(legacyUb).as("ub"))
    }.reduce(_ unionByName _))

  /** The one guard shape [[backfill]] applies to its delta stream: rows
    * whose key digest matches a recorded revocation at or below that
    * key's newest cutoff anti-join out. Package-visible so the plan law
    * audits exactly the query the guard runs (broadcast on the digest
    * side, no shuffle of the deltas).
    */
  private[graft] def guardDeltas(d: org.apache.spark.sql.DataFrame,
      rev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val bounds = rev.groupBy(functions.col("kd"))
      .agg(functions.max(functions.col("ub")).as("__ub"))
    val keyed = d.withColumn("__kd",
      functions.xxhash64(functions.col("_1")))
    keyed.join(bounds,
        keyed("__kd") === bounds("kd") && keyed("_2") <= bounds("__ub"),
        "left_anti")
      .drop("__kd")
  }

  /** Historical recompute — the lambda architecture's human-fault-tolerance
    * move (recompute bad derived state from the master dataset; the batch
    * layer in the reference exists for exactly this — VersionedBatchStore's
    * versioning, VersionedBatchStore.scala:62-143, is what makes a re-run
    * safe to serve). A merge that ran with buggy logic or corrupt input for
    * some batch poisons EVERY snapshot at or after it (snapshots are
    * cumulative); `backfill` rewrites each retained snapshot with id >=
    * `from` from CORRECTED deltas, leaving earlier snapshots untouched.
    *
    * `deltas` is the corrected per-(K, batch) summed delta stream (same
    * shape [[merge]] consumes — produce it with `sumDeltasPerBatch` over the
    * re-derived events) and must cover exactly `(priorBatch, maxCommitted]`
    * where priorBatch is the newest RETAINED snapshot strictly below `from`
    * (rows outside that span are filtered out, same convention as [[merge]]).
    * When no snapshot below `from` is retained the fold starts empty — i.e.
    * the deltas must then cover the store's whole history: backfilling
    * further back than retention kept a base requires the master dataset,
    * which is the honest lambda contract.
    *
    * Each rewritten snapshot lands as a NEW GENERATION of its batch id
    * (content changes, batch coverage doesn't — exactly [[deleteKeys]]'
    * discipline) and the store re-points in ONE atomic commit-log flip, so
    * a crash mid-backfill leaves only uncommitted generation dirs (swept
    * later), never a store serving half-corrected history. Superseded
    * generations sweep behind [[retentionGraceMs]].
    *
    * Interplay with [[deleteKeys]], ENFORCED (round 15): backfill REPLAYS
    * the deltas it is given, and a corrected delta stream that still
    * contains a revoked key would silently resurrect it. Every deleteKeys
    * therefore records its victims' (xxhash64 digest, cutoff batch) pairs
    * (committed atomically with the generation flip), and backfill
    * RE-APPLIES them by default: delta rows whose key digest matches a
    * recorded revocation AND whose batch is at or below that key's newest
    * recorded cutoff are dropped before the fold — history the key earned
    * AFTER its takedown replays untouched ("accumulated state, not the
    * key's future", the same contract merge honors). The 64-bit digest
    * makes this a (1 - ~n²/2⁶⁵) guarantee — a collision drops an innocent
    * key's pre-cutoff recomputed history, never serves a revoked one;
    * deployments where that tail matters apply takedowns to the master
    * dataset and pass `allowResurrect = true`, the explicit escape hatch
    * that skips the guard (deliberate re-admission is a product decision,
    * not a default).
    *
    * One shuffle total: prior snapshot ++ corrected deltas → per-key
    * batch-ordered fold ([[graft.plans.SortedGroups.perKeyTimeSorted]])
    * emitting one row per (key, target snapshot boundary); per-target
    * writes filter the persisted scan. Shuffled bytes ≈ |distinct keys| ×
    * |retained targets|, never |events|.
    */
  def backfill(spark: SparkSession, deltas: Dataset[(K, Long, V)],
      from: BatchID, allowResurrect: Boolean = false)(
      implicit sg: Semigroup[V]): Unit = WriterLease.withLock(path) {
    val st = state
    require(st.committed.nonEmpty,
      s"backfill(BatchStore($path)): nothing committed yet")
    firstNonZero.foreach { fnz =>
      require(from.id >= fnz.id,
        s"backfill(BatchStore($path)) from batch ${from.id}: the store declares " +
        s"firstNonZero=${fnz.id} — there is no history before it to recompute")
    }
    val targets = st.committed.filter(_ >= from.id).sorted
    require(targets.nonEmpty,
      s"backfill(BatchStore($path)) from batch ${from.id}: newest committed " +
      s"snapshot is ${st.committed.max} — nothing at or after `from` to rewrite")
    val maxTarget = targets.last

    // the fold's base: newest retained snapshot strictly below `from`
    // (None ⇒ fold from empty; deltas must cover the whole history)
    val prior: Option[(BatchID, Dataset[(K, V)])] = readLast(spark, from.prev)
    val priorBatch = prior.map(_._1.id)
      .orElse(firstNonZero.map(_.id - 1))
      .getOrElse(Long.MinValue)

    implicit val vbEnc: Encoder[(V, Boolean)] =
      Encoders.tuple(vEnc, Encoders.scalaBoolean)
    implicit val rowEnc: Encoder[(Long, K, (V, Boolean))] =
      Encoders.tuple(Encoders.scalaLong, kEnc, vbEnc)
    implicit val outEnc: Encoder[(K, Long, V)] =
      Encoders.tuple(kEnc, Encoders.scalaLong, vEnc)

    // resurrection guard: re-apply recorded takedowns to the delta stream
    // (anti-join on the key digest against the tiny revocation parquets —
    // broadcast by Catalyst) unless the caller explicitly opts out. TIME-
    // SCOPED: a revocation guards only history up to its recorded cutoff
    // batch (max over re-revocations) — deltas a key legitimately earned
    // AFTER its takedown replay untouched, per the deleteKeys contract
    // ("accumulated state, not the key's future").
    val guarded: Dataset[(K, Long, V)] = readRevokedDigests(spark, st) match {
      case Some(rev) if !allowResurrect =>
        guardDeltas(deltas.toDF("_1", "_2", "_3"), rev).as[(K, Long, V)]
      case _ => deltas
    }

    val deltaRows: Dataset[(Long, K, (V, Boolean))] =
      guarded.filter(r => r._2 > priorBatch && r._2 <= maxTarget)
        .map(r => (r._2, r._1, (r._3, false)))
    val allRows = prior match {
      case Some((b, snap)) =>
        snap.map { case (k, v) => (b.id, k, (v, true)) }.union(deltaRows)
      case None => deltaRows
    }

    // per key: fold deltas in batch order, emitting the running value at
    // each target boundary it has reached (a key absent by a boundary
    // emits nothing there — snapshots only hold keys seen)
    val targetArr = targets.toArray
    val scanned: Dataset[(K, Long, V)] =
      SortedGroups.perKeyTimeSorted(allRows) { (k: K, it: Iterator[(Long, (V, Boolean))]) =>
        var running: Option[V] = None
        var ti = 0
        val flushed = scala.collection.mutable.ArrayBuffer.empty[(K, Long, V)]
        it.foreach { case (batch, (v, isSnap)) =>
          if (isSnap) running = Some(v)
          else {
            while (ti < targetArr.length && targetArr(ti) < batch) {
              running.foreach(r => flushed += ((k, targetArr(ti), r)))
              ti += 1
            }
            running = Some(running.fold(v)(p => sg.plus(p, v)))
          }
        }
        while (ti < targetArr.length) {
          running.foreach(r => flushed += ((k, targetArr(ti), r)))
          ti += 1
        }
        flushed.iterator
      }()

    val persisted = scanned.persist()
    try {
      val bumped = targets.map { id =>
        val gen = st.genOf(id) + 1
        writeSnapshotData(snapshotDirAt(BatchID(id), gen),
          persisted.filter(_._2 == id).map(r => (r._1, r._3)))
        id -> gen
      }
      BatchState.write(path, st.copy(gens = st.gens ++ bumped))
      sweepDeadSnapshotDirs()
    } finally {
      persisted.unpersist()
      ()
    }
  }

  /** Retention (reference VersionedBatchStore.scala:105 `succeedVersion` →
    * `cleanup`): drop all but the newest [[versionsToKeep]] committed
    * snapshots. Crash-safe ordering — the pruned ids leave the commit log
    * FIRST (atomic state rewrite), then their dirs are swept, so a crash
    * mid-prune can orphan a dir but never leave the log pointing at a
    * deleted snapshot. The sweep covers every `batch_id=` dir no longer
    * in the commit log — this pass's drops plus any tombstoned survivors
    * of earlier graced prunes (and crashed writers' uncommitted orphans)
    * — each through [[StoreFs.sweepDir]] under [[retentionGraceMs]].
    */
  private def prune(): Unit = if (versionsToKeep != Int.MaxValue) {
    val st = state
    val committed = st.committed.sorted
    val drop = committed.dropRight(versionsToKeep)
    if (drop.nonEmpty) {
      val keep = committed.takeRight(versionsToKeep)
      // drop pruned ids' generation entries too — state hygiene
      BatchState.write(path, st.copy(committed = keep,
        gens = st.gens.view.filterKeys(keep.toSet).toMap))
    }
    sweepDeadSnapshotDirs()
  }

  /** Sweep every `batch_id=` dir that is not a committed id at its LIVE
    * generation: retention drops, superseded [[deleteKeys]] generations,
    * and crashed writers' uncommitted orphans — each through
    * [[StoreFs.sweepDir]] under [[retentionGraceMs]].
    */
  private def sweepDeadSnapshotDirs(): Unit = {
    val st = BatchState.read(path)
    val live = st.committed.map(id => batchDirName(id, st.genOf(id))).toSet
    StoreFs.listStatus(path)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id=") &&
        !live.contains(s.getPath.getName))
      .foreach(s => StoreFs.sweepDir(s.getPath.toString, retentionGraceMs))
    // orphan revocation-digest dirs (a crashed deleteKeys wrote the
    // parquet but never flipped the log) — committed ones are permanent
    val liveRev = st.revokedIds.map(id => s"rev=$id").toSet
    StoreFs.listStatus(s"$path/_graft_revoked")
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("rev=") &&
        !liveRev.contains(s.getPath.getName))
      .foreach(s => StoreFs.sweepDir(s.getPath.toString, retentionGraceMs))
  }

  /** The incremental merge — reference `BatchedStore.mergeBatched`
    * (BatchedStore.scala:157-245): prior snapshot ++ per-batch deltas →
    * per-key, per-batch `(prior: Option[V], delta: V)` output stream, plus the
    * rolled-forward snapshot for the last batch, committed here.
    *
    * `deltas` must already be Semigroup-summed per (K, batch) — produce them
    * with `KeyedGraftStream.sumDeltasPerBatch` (commutative values hash-agg;
    * non-commutative fold in event-time order). This method then needs only a
    * single sorted scan per key over (#batches) rows.
    */
  def merge(spark: SparkSession, deltas: Dataset[(K, Long, V)], upTo: BatchID)(
      implicit sg: Semigroup[V]): Dataset[(K, Long, (Option[V], V))] = {

    val prior: Option[(BatchID, Dataset[(K, V)])] = readLast(spark, upTo.prev)
    // With firstNonZero declared and no snapshot yet, the fold starts at the
    // boundary: deltas below it are out of the store's contract (the store is
    // empty before firstNonZero by definition) and are excluded.
    val priorBatch = prior.map(_._1.id)
      .orElse(firstNonZero.map(_.id - 1))
      .getOrElse(Long.MinValue)

    // tag: snapshot rows enter the scan as batch = priorBatch with isSnapshot
    implicit val vbEnc: Encoder[(V, Boolean)] = Encoders.tuple(vEnc, Encoders.scalaBoolean)
    implicit val rowEnc: Encoder[(Long, K, (V, Boolean))] =
      Encoders.tuple(Encoders.scalaLong, kEnc, vbEnc)
    // Deltas must cover exactly (priorBatch, upTo] (reference mergeBatched
    // contract): a delta at or below the snapshot batch is already folded
    // into the snapshot — including it would double-count (or, tying with
    // the snapshot row in the sort, nondeterministically drop the snapshot).
    val deltaRows: Dataset[(Long, K, (V, Boolean))] =
      deltas.filter(r => r._2 > priorBatch && r._2 <= upTo.id)
        .map(r => (r._2, r._1, (r._3, false)))
    val allRows = prior match {
      case Some((b, snap)) => snap.map { case (k, v) => (b.id, k, (v, true)) }.union(deltaRows)
      case None            => deltaRows
    }

    // product-encoded prior/delta (nullable struct, not kryo): the merge
    // output is store content — it must stay columnar
    implicit val outEnc: Encoder[(K, Long, (Option[V], V))] =
      Encoders.tuple(kEnc, Encoders.scalaLong, GraftEncoders.priorDelta(vEnc))
    implicit val snapRowEnc: Encoder[(K, Long, (Option[V], V), Boolean)] =
      Encoders.tuple(kEnc, Encoders.scalaLong, GraftEncoders.priorDelta(vEnc), Encoders.scalaBoolean)

    // one scan per key in batch order; snapshot row (if any) comes first
    // because it carries the earliest batch id and sorts with tag=false.
    val scanned: Dataset[(K, Long, (Option[V], V), Boolean)] =
      SortedGroups.perKeyTimeSorted(allRows) { (k: K, it: Iterator[(Long, (V, Boolean))]) =>
        var running: Option[V] = None
        val outs = it.flatMap { case (batch, (v, isSnap)) =>
          if (isSnap) { running = Some(v); Iterator.empty }
          else {
            val out = (k, batch, (running, v), false)
            running = Some(running.fold(v)(p => sg.plus(p, v)))
            Iterator.single(out)
          }
        }
        // emit deltas, then one trailing snapshot row with the final state
        outs ++ Iterator.single((k, upTo.id, (running, running.getOrElse(null.asInstanceOf[V])), true))
      }()

    // cache lifecycle (same discipline as Dedup): persist the wide scan for
    // exactly the two consumers (snapshot write, output materialization),
    // localCheckpoint the output eagerly, then RELEASE the scan — a
    // long-lived driver running many incremental merges must not accumulate
    // one cache entry per merge. The checkpointed blocks are freed by the
    // ContextCleaner when the returned Dataset is collected.
    val persisted = scanned.persist()
    try {
      val snapshot: Dataset[(K, V)] = persisted
        .filter(_._4)
        .map { case (k, _, (post, _), _) => (k, post.get) }
      writeSnapshot(upTo, snapshot)
      persisted.filter(r => !r._4).map(r => (r._1, r._2, r._3))
        .localCheckpoint(true)
    } finally {
      persisted.unpersist()
      ()
    }
  }
}

/** JSON commit log for a BatchStore directory. Tiny driver-side file —
  * intentionally not a Spark job (matches the reference's HDFSState).
  *
  * @param maxAppliedStreamBatch high-water mark of streaming micro-batch
  *        ids applied to a [[SegmentedStore]]-backed index (-1 = none).
  *        SURVIVES compaction, which is the point: a compaction folds the
  *        even streaming segment ids out of `committed`, so without this
  *        mark a micro-batch whose segment was committed and then
  *        compacted — but whose streaming checkpoint offset commit never
  *        landed (crash between the foreachBatch return and the
  *        checkpoint write) — would replay on restart, fail the
  *        segment-membership replay guard, and be appended a second time.
  *        Plain BatchStore snapshots leave it at -1.
  */
/** @param gens snapshot GENERATION per batch id (absent = 0): batch `b`'s
  *        live directory is `batch_id=b` at generation 0 and
  *        `batch_id=b.gN` after N maintenance rewrites ([[BatchStore
  *        .deleteKeys]]). A rewrite changes a snapshot's CONTENT without
  *        changing its batch coverage, so it must not consume a batch id
  *        (ids are time-derived via Batcher) — instead the new data lands
  *        in a fresh generation dir and ONE atomic log flip re-points the
  *        store, exactly the write-new-then-flip discipline snapshots and
  *        segments already use.
  */
/** @param revokedIds committed revocation-digest sets (dirs
  *        `_graft_revoked/rev=N` of (xxhash64 key digest, cutoff batch)
  *        rows, one dir per [[BatchStore.deleteKeys]] call that recorded
  *        anything new): the durable record that a takedown happened and
  *        THROUGH WHEN, which [[BatchStore.backfill]] uses to keep
  *        recomputed history ≤ the cutoff from silently resurrecting
  *        revoked keys while the key's post-takedown future replays
  *        untouched. Digests, not keys — the commit log must stay generic
  *        over K and tiny; the parquet side-files scale to mass
  *        revocations and fold via [[BatchStore.compactRevoked]].
  */
final case class BatchState(committed: List[Long],
    maxAppliedStreamBatch: Long = -1L,
    gens: Map[Long, Long] = Map.empty,
    revokedIds: List[Long] = Nil) {
  def lastCommitted(beforeOrAt: BatchID): Option[BatchID] =
    committed.filter(_ <= beforeOrAt.id).sorted.lastOption.map(BatchID(_))
  def genOf(id: Long): Long = gens.getOrElse(id, 0L)
}
object BatchState {
  private def stateFile(path: String) = s"$path/_graft_state.json"

  // Per-thread record of the commit log bytes LAST READ for each store
  // path — the "etag" a conditional flip compares against when a
  // [[StoreFs.CasBackend]] is installed (driver-side mutations read and
  // flip on one thread, same keying discipline as WriterLease.held).
  // None = the log did not exist at read time. Recorded ONLY while a
  // backend is installed: the default rename path never consults it, and
  // unconditional recording would retain every read store's log bytes
  // for the thread's lifetime (pure read paths included).
  private val lastRead = new ThreadLocal[Map[String, Option[Array[Byte]]]] {
    override def initialValue(): Map[String, Option[Array[Byte]]] = Map.empty
  }

  /** Drop this thread's recorded commit-log bytes for `path`. Called by
    * [[WriterLease.withLock]] on release: the mutation window the tag
    * existed for is over, so a pooled driver thread touching many stores
    * does not retain every log it ever read for the thread's lifetime
    * (pure read paths like `readLast` record a tag too while a backend is
    * installed — harmless inside a lease, a slow leak without eviction).
    */
  private[batch] def forgetRead(path: String): Unit =
    lastRead.set(lastRead.get - path)

  def read(path: String): BatchState = {
    val tag = StoreFs.currentCasBackend.nonEmpty
    val f = stateFile(path)
    if (!StoreFs.exists(f)) {
      if (tag) lastRead.set(lastRead.get + (path -> None))
      BatchState(Nil)
    } else {
      val bytes = StoreFs.readBytes(f)
      if (tag) lastRead.set(lastRead.get + (path -> Some(bytes)))
      val s = new String(bytes, "UTF-8")
      // minimal parse of {"committed":[1,2,3],"maxAppliedBatch":N,
      // "gens":{"5":1}} (trailing fields optional — pre-r13 logs carry
      // only the array, pre-r14 no gens)
      val arr = s.dropWhile(_ != '[').takeWhile(_ != ']')
      val nums = "-?\\d+".r.findAllIn(arr).map(_.toLong).toList
      val mark = "\"maxAppliedBatch\"\\s*:\\s*(-?\\d+)".r
        .findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(-1L)
      val gens = "\"gens\"\\s*:\\s*\\{([^}]*)\\}".r.findFirstMatchIn(s)
        .map(m => "\"(-?\\d+)\"\\s*:\\s*(-?\\d+)".r.findAllMatchIn(m.group(1))
          .map(g => g.group(1).toLong -> g.group(2).toLong).toMap)
        .getOrElse(Map.empty[Long, Long])
      val revoked = "\"revoked\"\\s*:\\s*\\[([^\\]]*)\\]".r.findFirstMatchIn(s)
        .map(m => "-?\\d+".r.findAllIn(m.group(1)).map(_.toLong).toList)
        .getOrElse(Nil)
      BatchState(nums, mark, gens, revoked)
    }
  }

  def commit(path: String, b: BatchID): Unit = {
    val st = read(path)
    write(path, st.copy(committed = (b.id :: st.committed).distinct.sorted))
  }

  /** Atomic overwrite of the commit log (write-to-temp + rename; see
    * [[StoreFs.writeAtomic]] for the per-filesystem atomicity notes).
    * Every commit flip funnels through here, so this is where a writer
    * holding a [[WriterLease]] re-verifies ownership: a zombie whose
    * lease was broken and re-acquired aborts loudly instead of racing
    * the live writer's log.
    */
  def write(path: String, st: BatchState): Unit = {
    WriterLease.verifyHeldForCommit(path)
    val gensJs =
      if (st.gens.isEmpty) ""
      else st.gens.toList.sorted
        .map { case (id, g) => s""""$id":$g""" }
        .mkString(",\"gens\":{", ",", "}")
    val revJs =
      if (st.revokedIds.isEmpty) ""
      else st.revokedIds.sorted.mkString(",\"revoked\":[", ",", "]")
    val bytes = (st.committed.mkString("{\"committed\":[", ",", "]") +
      s",\"maxAppliedBatch\":${st.maxAppliedStreamBatch}$gensJs$revJs}")
      .getBytes("UTF-8")
    val f = stateFile(path)
    StoreFs.currentCasBackend match {
      case None =>
        StoreFs.writeAtomic(f, bytes)
        // evict any tag a previously-installed backend recorded: a later
        // reinstall must never CAS against bytes this rename superseded
        lastRead.set(lastRead.get - path)
      case Some(cas) =>
        // conditional flip (If-Match on the content this thread last
        // read): two same-instant flips resolve exactly — the loser
        // aborts loudly here instead of clobbering the winner's log.
        // A writer that never read (fresh bootstrap on another thread)
        // compares against a read-now snapshot: the window shrinks to
        // the backend's own atomicity, which is the point of having one.
        val expected = lastRead.get.getOrElse(path, {
          val cur = if (StoreFs.exists(f)) Some(StoreFs.readBytes(f)) else None
          cur
        })
        if (!cas.compareAndSwap(f, expected, bytes))
          throw new IllegalStateException(
            s"BatchState($path): conditional commit-log flip lost — the log " +
            "changed after this writer read it (a same-instant racer won). " +
            "Aborting; uncommitted data stays invisible")
        lastRead.set(lastRead.get + (path -> Some(bytes)))
    }
  }

  /** Recursive delete of a pruned snapshot / swept segment dir, on
    * whatever filesystem the store lives on.
    */
  def deleteDir(dir: String): Unit = StoreFs.deleteRecursive(dir)
}
