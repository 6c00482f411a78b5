package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Physical-layout maintenance for parquet table directories — the two
  * levers that keep a 100 TB table scannable after months of ingest:
  *
  *  - [[compact]]: every micro-batch append (the m-family sinks, the
  *    d10/d14 index ingest, any `mode(Append)` writer) drops one file
  *    per task into each touched partition directory; after N batches a
  *    scan opens O(N x partitions) small files and the NameNode/driver
  *    pays per-file listing + footer costs. Compaction rewrites the
  *    data files partition-clustered — one task's contiguous output per
  *    partition (AQE splits oversized ones) — behind a tmp-dir +
  *    atomic-rename swap.
  *
  *  - [[sortedWrite]]: parquet row-group statistics (min/max per
  *    column chunk) are only selective when values are CLUSTERED; a
  *    shuffled table answers `key = x` by reading every row group, a
  *    range-partitioned + sorted one reads the few whose [min,max]
  *    straddle x. Same bytes, same schema — orders-of-magnitude less IO
  *    for point/range predicates on the sort key (LayoutSpec measures
  *    the scan-metric difference). This is the poor-man's Z-order: one
  *    sort column family, no library dependency, plain parquet.
  *
  * Both operate on PLAIN parquet directories (optionally
  * `partitionBy`-laid-out) — no table format required; the swap
  * pattern matches [[AnnIndex]]'s generational discipline (readers of
  * the old listing keep their snapshot until the rename lands; on
  * object stores with non-atomic rename, run under a maintenance
  * window or front with a manifest/table format).
  */
object Layout {

  /** Single-writer lease for table maintenance: an atomically-created
    * sibling lock file `<path>.__maint.lock`. The plain-directory and
    * generational writers ([[compact]], [[merge]], [[compactGen]],
    * [[mergeGen]]), the manifest seed, the schema/spec evolutions,
    * [[repartitionManifest]] and the reaps hold it for their whole run;
    * the optimistic manifest writers ([[mergeManifest]],
    * [[appendManifest]], [[mergeManifestDelta]],
    * [[migrateManifestPartitions]] through [[commit]];
    * [[foldManifestDeltas]] and [[compactManifest]] through
    * [[underLease]]) stage unlocked and take it only to commit. A
    * writer that finds it held (manifest writers after queueing up to
    * [[lockWaitMs]]) fails LOUDLY instead of racing on tmp dirs and
    * swaps. The lock is a sibling, not a child,
    * so the unpartitioned rename-aside swap (which moves `path` itself)
    * cannot move the lease out from under its holder. A writer that
    * dies hard leaves the lock behind; the error message names the file
    * and the remedy (readers are never blocked — the lease coordinates
    * WRITERS only).
    */
  private[operators] def withMaintenanceLock[T](spark: SparkSession, path: String,
                                                waitMs: Long = 0)
                                    (body: => T): T = {
    val fs = TableFs(spark, path)
    val lock = new Path(s"$path.__maint.lock")
    val deadline = System.nanoTime() + waitMs * 1000000L
    val staleMs = leaseStaleMs(spark)
    val ownerInfo =
      s"pid=${ProcessHandle.current().pid()} thread=${Thread.currentThread().getName}"
    var acquired = false
    while (!acquired) {
      if (fs.createExclusive(lock, ownerInfo))
        acquired = true
      else {
        // LIVENESS, two probes — both single-winner through the same
        // exclusive `.break` claim file, both re-verifying the lock's
        // state AFTER winning the claim (a claim won against an
        // already-re-created lock must never delete the new holder):
        //  - pid probe (local filesystems): the lock records its
        //    owner's pid; a provably dead owner breaks immediately.
        //  - heartbeat probe (any filesystem): the holder refreshes
        //    the lock's mtime on a daemon thread (see
        //    withLeaseHeartbeat); a lock whose mtime is older than
        //    `spark.graft.manifest.leaseStaleMs` belongs to a crashed
        //    writer — including one on ANOTHER HOST, where the pid
        //    means nothing — and breaks. The margin (default 40 s vs
        //    a 5 s refresh) absorbs GC pauses and filesystem clock
        //    skew; a live holder's heartbeat keeps the mtime fresh.
        if (fs.local && breakDeadOwnerLock(fs, lock)) ()
        else if (breakStaleLease(fs, lock, staleMs)) ()
        else if (System.nanoTime() < deadline) Thread.sleep(100)
        else throw new IllegalStateException(
          s"another maintenance writer holds $lock for table $path " +
          "(merge/compact/reap commits are single-writer" +
          (if (waitMs > 0) s"; waited ${waitMs}ms" else "") +
          "); crashed writers break automatically (same-host: pid " +
          s"probe; any host: lease heartbeat stale > ${staleMs}ms) — " +
          "if this persists with no live writer, delete the lock file")
      }
    }
    try withLeaseHeartbeat(fs, lock, leaseHeartbeatMs(spark)) { body }
    finally { if (fs.exists(lock)) fs.delete(lock, false); () }
  }

  /** How often a lease holder refreshes its lock file's mtime (the
    * remote-host liveness signal) and how stale that mtime must be
    * before a waiter may break the lease. Stale >> heartbeat so a GC
    * pause or filesystem hiccup on a LIVE holder is never mistaken
    * for a crash. */
  private def leaseHeartbeatMs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.manifest.leaseHeartbeatMs", "5000").toLong
  private def leaseStaleMs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.manifest.leaseStaleMs", "40000").toLong

  /** Run `body` while a daemon thread refreshes `lock`'s mtime every
    * `intervalMs` — the heartbeat [[breakStaleLease]] reads. IO errors
    * are swallowed (the release path may have already deleted the
    * lock; the worst a missed beat costs is a widened stale margin). */
  private def withLeaseHeartbeat[T](fs: TableFs, lock: Path,
                                    intervalMs: Long)(body: => T): T = {
    val stop = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => {
      while (!stop.await(intervalMs,
          java.util.concurrent.TimeUnit.MILLISECONDS)) {
        try fs.touch(lock)
        catch { case _: java.io.IOException => () }
      }
    }, "graft-lease-heartbeat")
    t.setDaemon(true)
    t.start()
    try body finally { stop.countDown(); t.join(2000) }
  }

  /** True iff `lock`'s heartbeat (mtime) is older than `staleMs` and
    * THIS caller won the break. Works on ANY filesystem — the cure for
    * a writer crashed on another host, where the pid probe is blind.
    * After winning the single-winner claim the staleness re-verifies:
    * a lock deleted-and-re-created by a concurrent breaker + new
    * holder has a fresh mtime and is refused. */
  private def breakStaleLease(fs: TableFs, lock: Path,
                              staleMs: Long): Boolean = {
    def stale: Boolean =
      try System.currentTimeMillis() -
        fs.status(lock).getModificationTime > staleMs
      catch { case _: java.io.IOException => false }
    stale && underBreakClaim(fs, lock) {
      if (stale) { if (fs.exists(lock)) fs.delete(lock, false); true }
      else false
    }
  }

  /** Single-winner break claim: runs `decide` only in the process that
    * atomically created the `.break` claim file (released after), so
    * two waiters can never each delete what the other just re-created.
    * Returns false when the claim was lost or `decide` declined. */
  private def underBreakClaim(fs: TableFs, lock: Path)
                             (decide: => Boolean): Boolean = {
    val claim = new Path(lock.getParent, lock.getName + ".break")
    if (!fs.createExclusive(claim, "")) false
    else try decide finally fs.delete(claim, false)
  }

  /** True iff `lock` named a provably-dead owner and THIS caller won
    * the break (deleted it). Owner liveness = the recorded pid has a
    * live process on this host (ProcessHandle probe — sound only for
    * local filesystems, the caller's check). An unreadable/empty lock
    * (owner mid-create) or a live/unknown pid is never broken.
    *
    * The liveness check runs TWICE: once cheap (don't claim for a live
    * lock) and again AFTER winning the claim — a waiter that read a
    * dead pid, then stalled while another waiter broke the lock and a
    * NEW writer re-acquired it, must see the re-created lock's LIVE
    * pid and refuse, not delete the fresh lease on stale evidence. */
  private def breakDeadOwnerLock(fs: TableFs, lock: Path): Boolean = {
    def ownerDead: Boolean = {
      val pid =
        try {
          val txt = new String(fs.readBytes(lock),
            java.nio.charset.StandardCharsets.UTF_8)
          "pid=(\\d+)".r.findFirstMatchIn(txt).map(_.group(1).toLong)
        } catch { case _: java.io.IOException => None }
      pid.exists { p =>
        val h = ProcessHandle.of(p)
        !h.isPresent || !h.get.isAlive
      }
    }
    ownerDead && underBreakClaim(fs, lock) {
      // re-verify under the claim: the lock as it exists NOW (possibly
      // re-created since the pre-claim read) must itself name a dead
      // owner for the delete to be sound
      if (ownerDead) { if (fs.exists(lock)) fs.delete(lock, false); true }
      else false
    }
  }

  /** How long a manifest COMMIT (the short critical section of an
    * optimistic publish) queues behind another writer's in-flight
    * commit before failing loudly. Commits are metadata-fast — renames
    * plus one JSON write — so contention clears in milliseconds unless
    * a whole-table operation (repartition/reap) holds the lease. */
  private def lockWaitMs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.manifest.lockWaitMs", "15000").toLong

  /** A table is either manifest-disciplined or rename-swap — never
    * both: a rename-swap maintenance pass on a manifest table would
    * move generation directories out from under the manifest (silent
    * corruption). Every non-manifest entry point checks. */
  private def requireNotManifest(spark: SparkSession, path: String,
                                 op: String): Unit =
    require(manifestVersion(spark, path).isEmpty,
      s"$path is a MANIFEST table (has $ManifestPointer); use " +
        s"mergeManifest/reapManifest instead of $op — mixing the " +
        "rename-swap and manifest disciplines corrupts the table")

  /** Rewrite the parquet directory at `path` with its data clustered by
    * `partitionCols` (the existing `partitionBy` layout, preserved) so
    * each partition directory holds one task's contiguous files instead
    * of one file per historical append. Row-identical by construction —
    * the rewrite is a read + hash-cluster + write of the same rows
    * (LayoutSpec asserts it). With no `partitionCols` the whole
    * directory coalesces toward `spark.sql.shuffle.partitions` files.
    *
    * Returns (files before, files after).
    */
  def compact(spark: SparkSession, path: String,
              partitionCols: Seq[String] = Nil): (Long, Long) =
      withMaintenanceLock(spark, path) {
    requireNotManifest(spark, path, "compact")
    val fs = TableFs(spark, path)
    val aside = new Path(s"$path.__compact_old")
    fs.restoreAside(new Path(path), aside)
    val before = spark.read.parquet(path)
    val filesBefore = before.inputFiles.length.toLong
    val tmp = s"$path.__compact_tmp"
    // source row count observed DURING the rewrite scan (Observation
    // metric) — no second source pass; the landed count cross-checks
    // against it from parquet footers only
    val obs = org.apache.spark.sql.Observation()
    val observed = before.observe(obs, count(lit(1)).as("n"))
    val writer = (if (partitionCols.nonEmpty)
        observed.repartition(partitionCols.map(col): _*)
      else observed.coalesce(math.max(1,
        spark.sessionState.conf.numShufflePartitions)))
      .write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(tmp)
    // verify BEFORE the swap: a lost-rows compaction must never land
    val n0 = obs.get("n").asInstanceOf[Long]
    val n1 = spark.read.parquet(tmp).count()
    require(n1 == n0, s"compaction would lose rows: $n0 -> $n1; aborting")
    // dir-over-dir rename cannot OVERWRITE a non-empty target, so swap
    // via rename-aside; the window between the two renames is the
    // documented maintenance-window semantics (a table format/manifest
    // is the cure where concurrent readers must never miss the listing)
    fs.swapDir(new Path(tmp), new Path(path), aside)
    val filesAfter = spark.read.parquet(path).inputFiles.length.toLong
    (filesBefore, filesAfter)
  }

  /** Latest-wins keyed upsert (the MERGE INTO of a plain-parquet table):
    * apply `updates` to the keyed table at `path`. Rows pair on `keys`;
    * among all versions of a key (base + update batch) the row with the
    * greatest `versionCol` survives, ties broken toward the update side
    * — so re-applying the same batch is idempotent. Unmatched update
    * keys insert; unmatched base keys carry over untouched. With
    * `deleteCol`, a winning update row whose flag is true removes the
    * key (CDC apply — upsert + delete is the full change-data-capture
    * contract). Within one batch the version decides delete-vs-update;
    * ACROSS batches, deletes are physically dropped (plain parquet
    * keeps no tombstones), so replaying an OLDER batch after a delete
    * re-inserts the key — apply CDC batches in version order, or front
    * with a table format that retains tombstones (spec documents the
    * exact semantics).
    *
    * Scale posture: with `partitionCols` the merge is copy-on-write at
    * PARTITION granularity — only partition values present in the
    * update batch are read (partition-pruned scan) and rewritten; the
    * rest of the 100 TB table is never opened. CONTRACT: an update row
    * must not change an existing key's partition value — the pruned
    * scan cannot see (and so cannot retire) the key's old row in an
    * untouched partition, and the key would duplicate (the same
    * non-global-index constraint as Hudi/Delta partial merges). For
    * partition-moving updates use the unpartitioned full-table merge. The touched-value list
    * is a driver-side collect bounded by the partition count of the
    * BATCH (capped at `maxTouchedPartitions`, not corpus-scale). The
    * merge itself is one hash shuffle on (partition columns, `keys`)
    * (the [[latestWins]] window), swapped in via the same rename-aside
    * discipline as [[compact]].
    *
    * Reference behavior: pydin's `Insert`/HWM ingest appends by window
    * (models.py:1330-1420); merge is the upsert completion of that
    * posture for mutable keys, per the Delta/Hudi/Iceberg upsert model
    * (public lakehouse practice), re-expressed over plain parquet.
    */
  def merge(spark: SparkSession, path: String, updates: DataFrame,
            keys: Seq[String], versionCol: String,
            partitionCols: Seq[String] = Nil,
            maxTouchedPartitions: Int = 10000,
            deleteCol: Option[String] = None): Unit =
      withMaintenanceLock(spark, path) {
    requireNotManifest(spark, path, "merge")
    require(keys.nonEmpty, "merge needs at least one key column")
    require(!keys.contains(versionCol), "versionCol cannot be a key")
    require(partitionCols.forall(updates.columns.contains),
      "update batch must carry the partition columns")
    deleteCol.foreach(d => require(updates.columns.contains(d),
      s"update batch must carry the delete flag column '$d'"))
    val fs = TableFs(spark, path)
    if (partitionCols.isEmpty) {
      val tmpDir = s"$path.__merge_tmp"
      val aside = new Path(s"$path.__merge_old")
      fs.restoreAside(new Path(path), aside)
      latestWins(spark.read.parquet(path), updates, Nil, keys, versionCol,
          deleteCol)
        .write.mode(SaveMode.Overwrite).parquet(tmpDir)
      fs.swapDir(new Path(tmpDir), new Path(path), aside)
    } else {
      import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      // touched partition values: bounded by the BATCH's partitions.
      // Each value is collected twice — natively (for the pruning
      // predicate) and through Spark's OWN Cast-to-string (columns
      // n..2n-1), because that Cast is exactly how the parquet writer
      // renders partition directory names (timestamps drop the
      // java.sql '.0' suffix, session timezone applies, etc.); deriving
      // the dir name from String.valueOf would miss stale dirs for
      // those types and let tombstoned rows silently survive.
      val nPc = partitionCols.size
      val touched = updates.select(
          (partitionCols.map(col) ++
            partitionCols.map(c => col(c).cast("string").as(s"__pstr_$c"))): _*)
        .distinct().limit(maxTouchedPartitions + 1).collect()
      require(touched.length <= maxTouchedPartitions,
        s"update batch touches > $maxTouchedPartitions partitions; " +
        "run an unpartitioned full-table merge instead")
      // writer-exact dir name of each touched value: Spark's Cast
      // rendering (collected above) + the writer's escaping/nulls
      val touchedRels = touched.map { r =>
        partitionCols.zipWithIndex.map { case (c, i) =>
          ExternalCatalogUtils.getPartitionPathString(c,
            if (r.isNullAt(nPc + i)) null else r.getString(nPc + i))
        }.mkString("/")
      }
      def asideOf(dst: Path) =
        new Path(dst.getParent, s".${dst.getName}.__merge_old")
      // crash recovery BEFORE the base scan: a prior merge that died
      // between its swap's two renames left the aside as the only copy
      // of a touched partition — scanning without it would drop its rows
      touchedRels.foreach { rel =>
        val dst = new Path(path, rel)
        fs.restoreAside(dst, asideOf(dst))
      }
      // prune the base scan to the touched partitions only — this
      // predicate hits the partition directories, not the data
      val touchedPred = touched.map { r =>
        partitionCols.zipWithIndex.map { case (c, i) =>
          if (r.isNullAt(i)) col(c).isNull else col(c) === lit(r.get(i))
        }.reduce(_ && _)
      }.reduceOption(_ || _).getOrElse(lit(false))
      val tmpDir = s"$path.__merge_tmp"
      latestWins(spark.read.parquet(path).filter(touchedPred), updates,
          partitionCols, keys, versionCol, deleteCol)
        .write.mode(SaveMode.Overwrite)
        .partitionBy(partitionCols: _*).parquet(tmpDir)
      // swap each touched partition dir; untouched dirs are never read
      // or written. New-in-batch partition values rename straight in.
      val tmpPath = new Path(tmpDir)
      def swapRec(src: Path, dst: Path): Unit = {
        val kids = fs.list(src)
          .filter(s0 => s0.isDirectory && s0.getPath.getName.contains("="))
        if (kids.nonEmpty && fs.exists(dst))
          kids.foreach(k => swapRec(k.getPath, new Path(dst, k.getPath.getName)))
        else fs.swapDir(src, dst, asideOf(dst))
      }
      // capture which partition rel-paths the write produced BEFORE the
      // swap renames them out of tmp (the post-swap tmp is empty)
      def partitionRels(p: Path, prefix: String): Seq[String] = {
        val kids = fs.list(p)
          .filter(s0 => s0.isDirectory && s0.getPath.getName.contains("="))
        if (kids.isEmpty) Seq(prefix).filter(_.nonEmpty)
        else kids.toSeq.flatMap(k => partitionRels(k.getPath,
          if (prefix.isEmpty) k.getPath.getName
          else s"$prefix/${k.getPath.getName}"))
      }
      val tmpRels = partitionRels(tmpPath, "").toSet
      val statuses = fs.list(tmpPath)
        .filter(st => st.isDirectory && !st.getPath.getName.startsWith("_"))
      statuses.foreach { st =>
        swapRec(st.getPath, new Path(path, st.getPath.getName))
      }
      // a touched partition whose rows were ALL deleted produces no tmp
      // dir — its OLD dir must still go, or the deletes silently
      // survive: drop each touched dir the write did not reproduce.
      if (deleteCol.isDefined) touchedRels.foreach { rel =>
        val dst = new Path(path, rel)
        if (!tmpRels.contains(rel) && fs.exists(dst)) fs.delete(dst, true)
      }
      fs.delete(tmpPath, true)
    }
  }

  /** The loud batch-schema contract of every keyed or appending write
    * (CDC pipelines hit schema drift constantly): the batch must carry
    * EVERY base column — a missing one would otherwise surface as a raw
    * resolver error — and must not carry columns the base lacks
    * (beyond the delete flag): silently projecting them away would
    * LOSE data on an evolved/typo'd batch. Schema evolution is an
    * explicit base-table migration, not an implicit write side
    * effect. */
  private def requireBatchColumns(op: String, base: Seq[String],
                                  batch: Seq[String],
                                  deleteCol: Option[String] = None): Unit = {
    val missing = base.filterNot(deleteCol.contains).filterNot(batch.contains)
    require(missing.isEmpty,
      s"$op: batch is missing base column(s) " +
      s"${missing.mkString("[", ", ", "]")}; the batch must carry every " +
      "base column (plus the optional delete flag)")
    val extra = batch.filterNot(base.contains).filterNot(deleteCol.contains)
    require(extra.isEmpty,
      s"$op: batch carries column(s) " +
      s"${extra.mkString("[", ", ", "]")} absent from the base table — " +
      "refusing to silently drop them; evolve the base schema first or " +
      "project the batch explicitly")
  }

  /** Latest-wins key resolution of every copy-on-write merge route
    * ([[merge]], [[mergeGen]], [[mergeManifest]]) — the same contract
    * as the merge-on-read [[resolveMor]]. The window partitions by
    * (`pcols` ++ `keys`), `pcols` being the table's partition columns
    * (Nil when unpartitioned): a row is the same key only within one
    * partition, so an update that breaks the "keys never move
    * partitions" contract yields the same rows on every route. Within
    * a group: version desc, then update-side-wins on ties. With
    * `deleteCol` (CDC apply): a winning row whose flag is true REMOVES
    * the key.
    *
    * `clusterParts` > 0 (the partitioned-merge fast path) hash-
    * repartitions the tagged union by `pcols` into that many partitions
    * BEFORE the window. HashPartitioning(pcols) satisfies the window's
    * ClusteredDistribution(pcols ++ keys), so the window adds NO second
    * exchange and the caller can write partition-clustered output
    * directly: ONE shuffle of the merged data instead of two
    * (optimization guide §2.4). That pre-clustering is the only
    * difference between the routes. */
  private def latestWins(b: DataFrame, u: DataFrame, pcols: Seq[String],
                         keys: Seq[String],
                         versionCol: String,
                         deleteCol: Option[String],
                         forceWins: Boolean = false,
                         clusterParts: Int = 0): DataFrame = {
    requireBatchColumns("merge", b.columns.toSeq, u.columns.toSeq, deleteCol)
    val cols = b.columns.filterNot(deleteCol.contains)
    val del = deleteCol.map(col(_).cast("boolean")).getOrElse(lit(false))
    val union = b.select(cols.map(col): _*)
        .withColumn("__src", lit(0)).withColumn("__del", lit(false))
      .unionByName(u.withColumn("__del", coalesce(del, lit(false)))
        .select((cols.map(col) :+ col("__del")): _*)
        .withColumn("__src", lit(1)))
    val tagged =
      if (clusterParts == 0 || pcols.isEmpty) union
      else union.repartition(clusterParts, pcols.map(col): _*)
    // forceWins: the batch is AUTHORITATIVE — its rows outrank the
    // base regardless of versionCol (a net snapshot diff re-creating a
    // key with a LOWER version must still replace the base row); within
    // the batch versionCol still breaks ties. Default: versionCol
    // dominates, update wins ties (idempotent CDC latest-wins).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((pcols ++ keys).distinct.map(col): _*)
      .orderBy((if (forceWins) Seq(col("__src").desc, col(versionCol).desc)
                else Seq(col(versionCol).desc, col("__src").desc)): _*)
    tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !col("__del"))
      .drop("__rn", "__src", "__del")
  }

  // ---- Generational tables: _CURRENT pointer + gen-N directories ----
  //
  // The cure for the between-renames window [[compact]]/[[merge]]
  // document: maintenance writes the NEXT immutable generation
  // directory and atomically swaps a one-line `_CURRENT` pointer file
  // (write `_CURRENT.tmp`, rename with OVERWRITE) — so a reader
  // resolves either the old table or the new one, never a half-renamed
  // directory. Readers pin the generation once ([[readCurrent]]) and
  // keep a consistent file listing for their whole query lifetime;
  // superseded generations stay on disk for in-flight readers until
  // [[reapGenerations]] deletes them after drain. The discipline is
  // [[AnnIndex]]'s artifact layout generalized to any parquet table.
  //
  // A flat legacy directory (no `_CURRENT`) reads as generation 0 at
  // `path` itself; its first generational maintenance writes `gen-1`
  // beside the flat files and creates the pointer. After that, bare
  // `spark.read.parquet(path)` fails loudly on the mixed listing —
  // generational tables are read through [[readCurrent]]. Migrate
  // during a maintenance window, then reap the flat files.

  private[operators] def generationPath(path: String, g: Int): String =
    if (g == 0) path else s"$path/gen-$g"

  /** The live generation id, or None for a flat/missing table. */
  def currentGeneration(spark: SparkSession, path: String): Option[Int] =
    TableFs(spark, path).readPointer(new Path(path, "_CURRENT")).map(_.toInt)

  /** Point `_CURRENT` at `gen` atomically (tmp write + replace). Shared
    * by every generational layout: this file's tables, [[AnnIndex]]
    * artifacts and [[Ivm]] summaries. */
  private[operators] def swapCurrent(spark: SparkSession, path: String, gen: Int): Unit =
    TableFs(spark, path).publishPointer(new Path(path, "_CURRENT"), gen)

  /** Read the LIVE generation of the table at `path` — the pointer is
    * resolved once, here; the returned DataFrame's file listing stays
    * pinned to that generation for its whole lifetime, so a concurrent
    * [[compactGen]]/[[mergeGen]] never changes a running query's input.
    */
  def readCurrent(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(
      generationPath(path, currentGeneration(spark, path).getOrElse(0)))

  /** Generation ids present on disk, ascending — the live one plus any
    * not-yet-reaped predecessors (0 = flat legacy files in the root). */
  def generations(spark: SparkSession, path: String): Seq[Int] = {
    val fs = TableFs(spark, path)
    val p = new Path(path)
    if (!fs.exists(p)) Seq.empty
    else {
      val sts = fs.list(p)
      val gens = sts.collect {
        case st if st.isDirectory && st.getPath.getName.startsWith("gen-") &&
          st.getPath.getName.drop(4).forall(_.isDigit) =>
          st.getPath.getName.drop(4).toInt
      }
      val flat = sts.exists(st => !st.isDirectory &&
        isWriteArtifact(st.getPath.getName))
      ((if (flat) Seq(0) else Seq.empty) ++ gens).sorted
    }
  }

  /** Time-travel read of a RETAINED generation (any id from
    * [[generations]] that [[reapGenerations]] hasn't deleted) — "what
    * did this table say before the last merge". Fails loudly on a
    * reaped or never-written generation.
    */
  def readGeneration(spark: SparkSession, path: String,
                     gen: Int): DataFrame = {
    require(generations(spark, path).contains(gen),
      s"generation $gen of $path is not on disk (reaped or never " +
        s"written); retained: ${generations(spark, path).mkString(",")}")
    spark.read.parquet(generationPath(path, gen))
  }

  /** Delete any gen-N leftovers ABOVE the live generation — a crashed
    * maintenance run's partial output (never pointed at, so never read). */
  private def dropOrphanGenerations(spark: SparkSession, path: String,
                                    current: Int): Unit = {
    val fs = TableFs(spark, path)
    val p = new Path(path)
    if (fs.exists(p)) fs.list(p).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("gen-") &&
          n.drop(4).forall(_.isDigit) && n.drop(4).toInt > current)
        fs.delete(st.getPath, true)
    }
  }

  /** [[compact]] with the generational discipline: rewrite the live
    * generation partition-clustered as gen-(N+1), count-verify, swap
    * `_CURRENT`. No reader ever observes a between-renames window;
    * in-flight readers of gen-N keep it until reaped.
    * Returns (files before, files after).
    */
  def compactGen(spark: SparkSession, path: String,
                 partitionCols: Seq[String] = Nil): (Long, Long) =
      withMaintenanceLock(spark, path) {
    requireNotManifest(spark, path, "compactGen")
    val cur = currentGeneration(spark, path).getOrElse(0)
    dropOrphanGenerations(spark, path, cur)
    val before = spark.read.parquet(generationPath(path, cur))
    val filesBefore = before.inputFiles.length.toLong
    val next = generationPath(path, cur + 1)
    // one source pass: row count observed during the rewrite scan
    val obs = org.apache.spark.sql.Observation()
    val observed = before.observe(obs, count(lit(1)).as("n"))
    val writer = (if (partitionCols.nonEmpty)
        observed.repartition(partitionCols.map(col): _*)
      else observed.coalesce(math.max(1,
        spark.sessionState.conf.numShufflePartitions)))
      .write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(next)
    val n0 = obs.get("n").asInstanceOf[Long]
    val n1 = spark.read.parquet(next).count()
    require(n1 == n0, s"compaction would lose rows: $n0 -> $n1; aborting")
    swapCurrent(spark, path, cur + 1)
    (filesBefore, spark.read.parquet(next).inputFiles.length.toLong)
  }

  /** [[merge]] with the generational discipline (unpartitioned form):
    * latest-wins apply of `updates` onto the live generation, written
    * as gen-(N+1) and swapped live. For partition-granular copy-on-write
    * at scale use [[merge]] with `partitionCols` (partition-dir swap
    * semantics) — a full new generation would rewrite untouched
    * partitions, defeating the pruned-merge posture.
    */
  def mergeGen(spark: SparkSession, path: String, updates: DataFrame,
               keys: Seq[String], versionCol: String,
               deleteCol: Option[String] = None): Unit =
      withMaintenanceLock(spark, path) {
    requireNotManifest(spark, path, "mergeGen")
    require(keys.nonEmpty, "mergeGen needs at least one key column")
    require(!keys.contains(versionCol), "versionCol cannot be a key")
    deleteCol.foreach(d => require(updates.columns.contains(d),
      s"update batch must carry the delete flag column '$d'"))
    val cur = currentGeneration(spark, path).getOrElse(0)
    dropOrphanGenerations(spark, path, cur)
    val base = spark.read.parquet(generationPath(path, cur))
    latestWins(base, updates, Nil, keys, versionCol, deleteCol)
      .write.mode(SaveMode.Overwrite).parquet(generationPath(path, cur + 1))
    swapCurrent(spark, path, cur + 1)
  }

  /** Delete superseded generations after in-flight readers drain:
    * every gen-N below the live one, plus — once the table is
    * generational — any flat legacy data files left in the root from
    * the pre-migration layout. Returns the deleted generation ids
    * (0 = the flat legacy files). Call this on YOUR drain schedule;
    * the library cannot know when the last old-generation reader
    * finished.
    */
  def reapGenerations(spark: SparkSession, path: String): Seq[Int] =
    withMaintenanceLock(spark, path) {
      currentGeneration(spark, path) match {
        case None => Seq.empty // flat table: nothing generational to reap
        case Some(cur) => reapBelow(spark, path, cur)
      }
    }

  /** Files the framework's own writers produce — the ONLY flat root
    * files a reap may delete. A user's stray notes, external tool
    * markers, and anything else unrecognized is left alone (and never
    * counted as flat generation-0 data by [[generations]] either).
    */
  private def isWriteArtifact(name: String): Boolean =
    name.startsWith("part-") || name == "_SUCCESS" ||
      name.endsWith(".crc") && name.startsWith(".")

  private def reapBelow(spark: SparkSession, path: String,
                        cur: Int): Seq[Int] = {
    val fs = TableFs(spark, path)
    val deleted = scala.collection.mutable.ArrayBuffer.empty[Int]
    fs.list(new Path(path)).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("gen-") &&
          n.drop(4).forall(_.isDigit) && n.drop(4).toInt < cur) {
        fs.delete(st.getPath, true); deleted += n.drop(4).toInt
      } else if (!st.isDirectory && isWriteArtifact(n)) {
        // flat legacy data file (generation 0) superseded by gen-N
        fs.delete(st.getPath, false)
        if (n.startsWith("part-") && !deleted.contains(0)) deleted += 0
      }
    }
    deleted.toSeq.sorted
  }

  // ---- Manifest tables: partition-granular generational snapshots ----
  //
  // [[merge]] with `partitionCols` swaps each touched partition dir via
  // rename-aside, so a concurrent reader can observe a MISSING partition
  // between the two renames — fine inside a maintenance window, wrong
  // under continuous partitioned CDC. The cure is m24's `_CURRENT`
  // discipline generalized to partition granularity: data lives in
  // immutable per-partition generation directories
  // (`<rel>/gen=<g>/part-*.parquet`), and ONE manifest file maps every
  // partition to its live generation:
  //
  //   path/
  //     _MANIFEST.v1, _MANIFEST.v2, ...   immutable JSON snapshots
  //     _MANIFEST_CURRENT                 live manifest version (atomic swap)
  //     o_orderstatus=F/gen=1/part-*.parquet
  //     o_orderstatus=F/gen=2/part-*.parquet   <- after one merge of F
  //
  // A merge writes NEW generation dirs for the touched partitions only
  // (copy-on-write pruned to the batch, exactly like [[merge]]), then
  // publishes ONE new manifest with ONE atomic pointer rename — so a
  // reader resolves either the old snapshot or the new one, never a
  // half-swapped mix, and never a missing partition. Superseded
  // generation dirs stay on disk for in-flight readers until
  // [[reapManifest]] deletes them after drain. Fully-deleted partitions
  // simply leave the manifest (their dirs reap later); new partitions
  // enter at gen 1. Crash anywhere before the pointer rename leaves
  // orphan gen dirs above the live manifest — cleaned by the next merge
  // or reap, never read (nothing points at them).
  //
  // Reads pass the per-partition generation dirs as explicit roots with
  // `basePath = path`, so Spark's partition discovery recovers the
  // partition columns (plus a synthetic `gen` column, dropped) and
  // partition pruning is directory-level BY CONSTRUCTION — only the
  // manifest's live dirs are ever listed. Old manifest versions remain
  // readable ([[readManifestVersion]]) until reaped: partition-granular
  // time travel.
  //
  // Scale envelope, stated honestly: the manifest is ONE flat JSON over
  // ALL partitions, rewritten per publish — O(|partitions|) driver work
  // and bytes per merge (~50 B/partition: ~5 MB at 100k partitions,
  // fine; ~50 MB at 1M). Under continuous CDC that cost recurs per
  // micro-batch, so at >~10^5 partitions prefer coarser partitioning or
  // front with a hierarchical/manifest-list format (the Iceberg
  // posture); the touched-partition WORK is already batch-bounded —
  // only the manifest serialization is table-wide. Measured
  // (NOTES.md, sf0.1, 200 partitions, batch touching 5):
  // mergeManifest 1.3 s vs rename-swap merge 3.8 s — the explicit-root
  // base read skips the table-wide listing the pruned predicate scan
  // pays — with reads at parity (0.77 vs 0.80 s) and ~13 B/partition
  // of manifest.

  private val ManifestPointer = "_MANIFEST_CURRENT"

  private[graft] final case class ManifestMeta(
      version: Int,
      schemaDdl: String,
      partitionCols: Seq[String],
      entries: Map[String, Int],
      // data-skipping stats: per-partition min/max of `statsCols`,
      // rendered via Spark's own Cast-to-string (the only rendering
      // that round-trips through the same Cast back to the column
      // type). None = the partition holds no non-null value — which a
      // range predicate can never match, so it prunes.
      statsCols: Seq[String] = Nil,
      stats: Map[String, Map[String, (Option[String], Option[String])]] =
        Map.empty,
      // equality data-skipping: per-partition bloom filters of
      // `bloomCols` (base64 of the public Spark BloomFilter format) —
      // point lookups on high-cardinality UNSORTED columns, where
      // min/max can never prune (every partition's range covers every
      // value). (items, fpp) are table-wide so delta-merge unions stay
      // merge-compatible.
      bloomCols: Seq[String] = Nil,
      bloomItems: Long = 10000,
      bloomFpp: Double = 0.01,
      blooms: Map[String, Map[String, String]] = Map.empty,
      // the session time zone the seed ran in: a timestamp's Cast to
      // and from string depends on the zone, so every later stats/bloom
      // build and every probe renders and parses in this one zone,
      // whatever zone its own session has. None on manifests written
      // before the field existed — they use the session zone.
      statsZone: Option[String] = None,
      // FILE-level data-skipping stats: per-partition, per data FILE
      // (keyed "gen=G/part-….parquet") min/max of `statsCols` — after
      // compaction a partition can be one large sorted file, but
      // multi-file generations (several paced ingest batches, an
      // oversized partition split by maxRecordsPerFile, a sorted
      // rewrite) would otherwise scan whole. The planner index prunes
      // at file granularity with these; a file with no entry is always
      // kept (sound), so writers may skip recording when statsCols is
      // empty. Every writer that changes a rel's FILES replaces (or
      // surgically updates) that rel's map — stale entries would be
      // unsound.
      fileStats: Map[String, Map[String, Map[String,
        (Option[String], Option[String])]]] = Map.empty,
      // per-partition BYTES of the live base generation's data files,
      // recorded by every writer at publish time — so planner-facing
      // reads (ManifestFileIndex.sizeInBytes, join-side broadcast
      // decisions) need ZERO filesystem calls; empty on manifests
      // written before this field existed (readers fall back to
      // listing)
      bytes: Map[String, Long] = Map.empty,
      // merge-on-read state: per-partition PENDING delta generations
      // (applied over the base generation at read time, in gen order)
      // and the table-level resolution spec fixed by the first
      // [[mergeManifestDelta]] — stored so every reader resolves
      // identically with no caller input.
      deltas: Map[String, Seq[Int]] = Map.empty,
      morKeys: Seq[String] = Nil,
      morVersionCol: Option[String] = None,
      morDeleteCol: Option[String] = None,
      // DECLARED append-only (fixed at seed): the table has NO merge
      // spec at all — rows land via [[appendManifest]] (spec-less
      // delta generations, plain-union reads), and every keyed or
      // delete-bearing write path REFUSES, so updates and deletes are
      // structurally INEXPRESSIBLE. That turns "this feed is
      // append-only" from a caller assertion into a manifest-proven
      // fact: sketch-valued IVM syncs, the appends feed, and the
      // planner index (which can serve PENDING spec-less deltas — no
      // resolution exists to skip) all derive it from here. The shape
      // of event/fact tables — the most common 100 TB table.
      appendOnly: Boolean = false,
      // DATA-BUCKETED layout (0 = unbucketed, the default), fixed at
      // seed: every partition directory's data files are hash-bucketed
      // by `dataBucketCols` into `dataBuckets` files carrying Spark's
      // own bucket-file naming (`…_00003.parquet`), under Spark's own
      // bucket-id contract — pmod(murmur3(cols), n), the exact
      // expression `HashPartitioning.partitionIdExpression` evaluates —
      // so the planner-integrated reads surface a real
      // `BucketSpec` and joins/aggregations on the bucket columns run
      // WITHOUT a shuffle exchange against any co-bucketed table
      // (manifest or Spark-native bucketBy), and equality filters on
      // the bucket columns prune to 1/n of the files before any is
      // opened. The 100 TB shape this buys: the fact-to-fact join
      // (events⋈events, orders⋈lineitem) whose both sides are too big
      // to broadcast stops paying its dominant exchange on every
      // query, amortized into one bucketized write. Bucketed tables
      // are COPY-ON-WRITE only (merge-on-read delta files would need
      // the naming + placement contract per trickle batch — refused
      // loudly) and never appendOnly; every rewrite path routes
      // through [[clusteredWrite]], which preserves the contract.
      dataBucketCols: Seq[String] = Nil,
      dataBuckets: Int = 0,
      // RENAME history: current column name -> every PRIOR name still
      // possibly present in live data files (newest prior first). A
      // rename is METADATA-ONLY: files keep whatever name was current
      // when they were written, and readers request the union of names
      // and coalesce across them (a file carries exactly one, so the
      // coalesce is exact — the name-mapping analogue of Iceberg's
      // field ids, without rewriting a byte). Cleared by
      // [[clearManifestAliases]] once a rewrite has retired the old
      // names from every live generation.
      colAliases: Map[String, Seq[String]] = Map.empty,
      // DROPPED column names (and their prior alias chains) that may
      // still live PHYSICALLY in data files: a drop is METADATA-ONLY —
      // every read requests the stored schema, so parquet simply never
      // decodes the retired column — but re-ADDING one of these names
      // would surface the old bytes as the new column's values, so
      // [[evolveManifest]]/[[renameManifestColumn]] refuse them until
      // [[clearManifestAliases]] verifies every live footer dropped
      // the name (after a full rewrite). Old snapshots time-travel
      // WITH the column (their meta keeps the old schema).
      droppedCols: Seq[String] = Nil,
      // PRIOR partition specs (oldest first; `partitionCols` is the
      // CURRENT one) — recorded by [[changeManifestPartitionSpec]], the
      // METADATA-ONLY spec change: existing generations stay under the
      // directories their era's spec produced (their rel fragment
      // encodes which — see [[specOfRel]]), new writes land under the
      // current spec, and every read serves each generation under its
      // own era (the Iceberg partition-spec-evolution posture: a spec
      // change never rewrites a byte). Empty on single-spec tables —
      // the overwhelmingly common case — so every era-grouping code
      // path collapses to the previous single-read shape.
      specHistory: Seq[Seq[String]] = Nil,
      // HIERARCHICAL layout (empty = flat): rel-name split points fixed
      // at seed time. Bucket i holds the rels in [bounds(i-1),
      // bounds(i)); per-rel state serializes into content-addressed
      // child files, the root keeps per-bucket rollups — see
      // [[writeManifestMeta]].
      bucketBounds: Seq[String] = Nil,
      // wall-clock stamp (epoch millis) of the moment THIS version's
      // root was serialized — the publish time, recorded by every
      // writer. Powers `TIMESTAMP AS OF` ([[versionAtTimestamp]]) and
      // table-history listings. 0 on manifests written before the
      // field existed (timestamp travel refuses those loudly; version
      // travel is unaffected). Monotone across versions on one table
      // as long as writers' clocks are sane — a clock regression can
      // only mis-resolve timestamp travel, never corrupt data.
      publishedAtMs: Long = 0L,
      // provenance of THIS version's publish — "seed" | "merge" |
      // "delta" | "fold" | "compact" | "evolve". Lets incremental
      // consumers (the manifest-feed streaming source) tell apart an
      // APPEND (new delta/partition gens carry new rows) from a
      // row-identical re-layout (fold/compact: emit nothing) or a
      // row-rewriting copy-on-write merge (not streamable) without
      // diffing file contents. "" on manifests written before the
      // field existed — consumers fail loudly on those versions.
      op: String = "",
      // true iff THIS version is a "delta" publish whose batch carried
      // at least one delete=true row — recorded from an Observation on
      // the delta write itself (zero extra passes), so append-only
      // consumers can refuse delete-bearing versions structurally,
      // without re-scanning any file.
      opDeletes: Boolean = false,
      // highest STREAMING-SINK micro-batch id applied to this table,
      // per sink NAMESPACE ("" = the default): mergeManifest/
      // mergeManifestDelta with a batchId treat an id EQUAL to its
      // namespace's marker as a checkpoint replay (quiet no-op) and an
      // id BELOW it as an id-scheme regression — a fresh checkpoint
      // pointed at an existing table, a second writer sharing the
      // namespace, a reconfigured query — which FAILS loudly instead
      // of silently dropping the batch (the Ivm _IVM_BATCH discipline
      // at the table level). Independent writers set distinct sinkIds
      // so their id sequences never suppress each other. Carried
      // forward by unmanaged publishes (fold/compact/evolve and
      // batchId-less merges).
      sinkBatches: Map[String, Long] = Map.empty) {
    /** The recorded sink marker of namespace `ns` (-1 = none). */
    def sinkBatch(ns: String = ""): Long =
      sinkBatches.getOrElse(ns, -1L)
    /** Every generation number the manifest references for `rel` —
      * base (if present) plus pending deltas. */
    def liveGens(rel: String): Seq[Int] =
      entries.get(rel).toSeq ++ deltas.getOrElse(rel, Nil)
    /** Next unused generation number for `rel` — above base AND every
      * pending delta, so maintenance writes can never land on (and the
      * orphan sweep can never delete) a published delta dir. */
    def nextGen(rel: String): Int = (0 +: liveGens(rel)).max + 1
    /** Bucket index of `rel` under the fixed bounds (hierarchical). */
    def bucketOf(rel: String): Int = bucketBounds.count(_ <= rel)
    /** All rels this meta knows about (base or delta-bearing). */
    def allRels: Seq[String] =
      (entries.keySet ++ deltas.keySet).toSeq.sorted
    /** Rels still living under a PRIOR partition spec — non-empty only
      * after a metadata-only [[changeManifestPartitionSpec]] and before
      * copy-on-write merges / [[repartitionManifest]] migrated them. */
    def oldEraRels: Seq[String] =
      if (specHistory.isEmpty) Nil
      else allRels.filter(specOfRel(_) != partitionCols)
    /** Every spec with LIVE generations, current first — what era-
      * grouped reads iterate. */
    def liveSpecs: Seq[Seq[String]] =
      (partitionCols +: allRels.map(specOfRel)).distinct
  }

  /** The partition spec a rel fragment was written under — each
    * `col=value` segment names its own column (values escape `=` via
    * [[org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    * .escapePathName]], so the first `=` always splits exactly). The
    * per-generation spec is thus self-describing from the layout; the
    * manifest's `specHistory` only records that a change happened. */
  private[graft] def specOfRel(rel: String): Seq[String] =
    rel.split("/").toSeq.map(seg =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(seg.takeWhile(_ != '=')))

  /** Root-level reference to one hierarchical-manifest bucket: the
    * content-addressed child file plus the bucket's stats/bloom
    * ROLLUPS (union over its rels), which let readers prune whole
    * buckets before loading any child. */
  private final case class BucketRef(
      idx: Int,
      file: String,
      statsRollup: Map[String, (Option[String], Option[String])],
      bloomRollup: Map[String, String])

  private lazy val manifestJson = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }

  /** Live manifest version of the table at `path`, or None if `path` is
    * not a manifest table.
    *
    * MID-SWAP WINDOW: on remote filesystems the pointer replace
    * ([[TableFs.replace]]) may be delete-then-rename, so a reader can
    * catch the window where the pointer file is ABSENT while a commit
    * replaces it (found by ConcStressProbe at 7 threads on the local
    * FS before it moved to an atomic nio move). A true manifest table
    * always has `_MANIFEST.v*` files, so absence WITH version files
    * present means mid-swap — retry briefly instead of mis-answering
    * "not a manifest table"; a plain directory (no version files)
    * still answers None immediately. */
  def manifestVersion(spark: SparkSession, path: String): Option[Int] = {
    val fs = TableFs(spark, path)
    val cur = new Path(path, ManifestPointer)
    def read(): Option[Int] =
      try fs.readPointer(cur).map(_.toInt)
      catch { case _: java.io.IOException => None } // deleted mid-read
    read().orElse {
      val tableExists =
        try fs.exists(new Path(path))
        catch { case _: java.io.IOException => false }
      val hasVersions = tableExists &&
        fs.list(new Path(path)).exists(st =>
          !st.isDirectory &&
            st.getPath.getName.startsWith("_MANIFEST.v"))
      if (!hasVersions) None
      else {
        var got: Option[Int] = None
        var attempt = 0
        while (got.isEmpty && attempt < 40) {
          Thread.sleep(50); got = read(); attempt += 1
        }
        Some(got.getOrElse(throw new IllegalStateException(
          s"$path has _MANIFEST.v* version files but no readable " +
            s"$ManifestPointer after 2s — a writer crashed between the " +
            "pointer delete and rename; restore the pointer to the " +
            "highest COMMITTED version (or re-publish)")))
      }
    }
  }

  /** [[manifestVersion]] of a path that must be a manifest table. */
  private def liveVersion(spark: SparkSession, path: String): Int =
    manifestVersion(spark, path).getOrElse(throw new IllegalArgumentException(
      s"$path is not a manifest table; seed it with writeManifestTable"))

  import com.fasterxml.jackson.databind.JsonNode
  import com.fasterxml.jackson.databind.node.ObjectNode

  private def optText(n: JsonNode, f: String): Option[String] = {
    val v = n.get(f)
    if (v == null || v.isNull) None else Some(v.asText())
  }

  /** Parse the four per-rel maps out of a (root or bucket-child) node
    * and merge them into `m`. */
  private def parseRelMaps(m: ManifestMeta, node: JsonNode): ManifestMeta = {
    import scala.jdk.CollectionConverters._
    m.copy(
      entries = m.entries ++ (
        if (!node.has("entries")) Map.empty[String, Int]
        else node.get("entries").fields().asScala
          .map(e => e.getKey -> e.getValue.asInt()).toMap),
      bytes = m.bytes ++ (
        if (!node.has("bytes")) Map.empty[String, Long]
        else node.get("bytes").fields().asScala
          .map(e => e.getKey -> e.getValue.asLong()).toMap),
      stats = m.stats ++ (
        if (!node.has("stats"))
          Map.empty[String, Map[String, (Option[String], Option[String])]]
        else node.get("stats").fields().asScala.map { rel =>
          rel.getKey -> rel.getValue.fields().asScala.map { c =>
            c.getKey -> (optText(c.getValue, "min"), optText(c.getValue, "max"))
          }.toMap
        }.toMap),
      blooms = m.blooms ++ (
        if (!node.has("blooms")) Map.empty[String, Map[String, String]]
        else node.get("blooms").fields().asScala.map { rel =>
          rel.getKey -> rel.getValue.fields().asScala.map { c =>
            c.getKey -> c.getValue.asText()
          }.toMap
        }.toMap),
      deltas = m.deltas ++ (
        if (!node.has("deltas")) Map.empty[String, Seq[Int]]
        else node.get("deltas").fields().asScala.map { rel =>
          rel.getKey -> rel.getValue.elements().asScala
            .map(_.asInt()).toSeq
        }.toMap),
      fileStats = m.fileStats ++ (
        if (!node.has("fileStats"))
          Map.empty[String, Map[String, Map[String,
            (Option[String], Option[String])]]]
        else node.get("fileStats").fields().asScala.map { rel =>
          rel.getKey -> rel.getValue.fields().asScala.map { f =>
            f.getKey -> f.getValue.fields().asScala.map { c =>
              c.getKey ->
                (optText(c.getValue, "min"), optText(c.getValue, "max"))
            }.toMap
          }.toMap
        }.toMap))
  }

  /** Serialize the four per-rel maps RESTRICTED to `rels` onto `node`
    * (sorted throughout — bucket children must serialize canonically
    * so identical content yields identical bytes and therefore the
    * same content address). */
  private def putRelMaps(m: ManifestMeta, rels: Set[String],
                         node: ObjectNode): Unit = {
    // every section guards on ITS OWN filtered content, never on the
    // table-wide map: a table-level empty->nonempty transition (the
    // first pending delta anywhere, the first recorded bytes) must not
    // change the serialized bytes of UNRELATED shards — MetaScaleProbe
    // caught the first delta merge on a 100k-file hierarchical table
    // rewriting all 64 content-addressed shards (11.4 MB) because an
    // empty `"deltas": {}` object appeared in each; with per-shard
    // guards a publish rewrites the root plus only the TOUCHED shards
    val en = node.putObject("entries")
    m.entries.view.filterKeys(rels).toSeq.sortBy(_._1)
      .foreach { case (k, v) => en.put(k, v) }
    if (m.statsCols.nonEmpty &&
        m.stats.view.filterKeys(rels).nonEmpty) {
      val st = node.putObject("stats")
      m.stats.view.filterKeys(rels).toSeq.sortBy(_._1)
        .foreach { case (rel, cols) =>
          val rn = st.putObject(rel)
          cols.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
            val cn = rn.putObject(c)
            mn.fold { cn.putNull("min"); () }(v => { cn.put("min", v); () })
            mx.fold { cn.putNull("max"); () }(v => { cn.put("max", v); () })
          }
        }
    }
    if (m.bloomCols.nonEmpty &&
        m.blooms.view.filterKeys(rels).nonEmpty) {
      val bl = node.putObject("blooms")
      m.blooms.view.filterKeys(rels).toSeq.sortBy(_._1)
        .foreach { case (rel, cols) =>
          val rn = bl.putObject(rel)
          cols.toSeq.sortBy(_._1).foreach { case (c, b64) =>
            rn.put(c, b64)
          }
        }
    }
    if (m.bytes.view.filterKeys(rels).nonEmpty) {
      val bn = node.putObject("bytes")
      m.bytes.view.filterKeys(rels).toSeq.sortBy(_._1)
        .foreach { case (rel, n) => bn.put(rel, n) }
    }
    if (m.deltas.view.filterKeys(rels).nonEmpty) {
      val dn = node.putObject("deltas")
      m.deltas.view.filterKeys(rels).toSeq.sortBy(_._1)
        .foreach { case (rel, gens) =>
          val arr = dn.putArray(rel)
          gens.foreach(arr.add)
        }
    }
    if (m.fileStats.view.filterKeys(rels).nonEmpty) {
      val fn = node.putObject("fileStats")
      m.fileStats.view.filterKeys(rels).toSeq.sortBy(_._1)
        .foreach { case (rel, files) =>
          val rn = fn.putObject(rel)
          files.toSeq.sortBy(_._1).foreach { case (f, cols) =>
            val fo = rn.putObject(f)
            cols.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
              val cn = fo.putObject(c)
              mn.fold { cn.putNull("min"); () }(v => { cn.put("min", v); () })
              mx.fold { cn.putNull("max"); () }(v => { cn.put("max", v); () })
            }
          }
        }
    }
  }

  /** Parse the root of manifest `version`: the HEADER meta (schema,
    * partition cols, specs, bucket bounds — per-rel maps populated
    * only for FLAT manifests) plus the bucket references of a
    * hierarchical one (empty for flat). */
  private def readManifestRoot(spark: SparkSession, path: String,
                               version: Int): (ManifestMeta, Seq[BucketRef]) = {
    val fs = TableFs(spark, path)
    val p = new Path(path, s"_MANIFEST.v$version")
    require(fs.exists(p),
      s"manifest version $version of $path is not on disk (reaped or " +
        "never written)")
    val node = manifestJson.readTree(new String(fs.readBytes(p),
      java.nio.charset.StandardCharsets.UTF_8))
    import scala.jdk.CollectionConverters._
    val header = ManifestMeta(
      version = node.get("version").asInt(),
      schemaDdl = node.get("schema").asText(),
      partitionCols = node.get("partitionCols").elements().asScala
        .map(_.asText()).toSeq,
      entries = Map.empty,
      statsCols =
        if (!node.has("statsCols")) Nil
        else node.get("statsCols").elements().asScala.map(_.asText()).toSeq,
      bloomCols =
        if (!node.has("bloomCols")) Nil
        else node.get("bloomCols").elements().asScala.map(_.asText()).toSeq,
      bloomItems =
        if (!node.has("bloomItems")) 10000L
        else node.get("bloomItems").asLong(),
      bloomFpp =
        if (!node.has("bloomFpp")) 0.01 else node.get("bloomFpp").asDouble(),
      statsZone = optText(node, "statsZone"),
      morKeys =
        if (!node.has("morKeys")) Nil
        else node.get("morKeys").elements().asScala.map(_.asText()).toSeq,
      morVersionCol = optText(node, "morVersionCol"),
      morDeleteCol = optText(node, "morDeleteCol"),
      appendOnly =
        node.has("appendOnly") && node.get("appendOnly").asBoolean(),
      dataBucketCols =
        if (!node.has("dataBucketCols")) Nil
        else node.get("dataBucketCols").elements().asScala
          .map(_.asText()).toSeq,
      dataBuckets =
        if (!node.has("dataBuckets")) 0 else node.get("dataBuckets").asInt(),
      colAliases =
        if (!node.has("colAliases")) Map.empty
        else node.get("colAliases").fields().asScala.map { e =>
          e.getKey -> e.getValue.elements().asScala.map(_.asText()).toSeq
        }.toMap,
      droppedCols =
        if (!node.has("droppedCols")) Nil
        else node.get("droppedCols").elements().asScala
          .map(_.asText()).toSeq,
      specHistory =
        if (!node.has("specHistory")) Nil
        else node.get("specHistory").elements().asScala.map(spec =>
          spec.elements().asScala.map(_.asText()).toSeq).toSeq,
      bucketBounds =
        if (!node.has("bucketBounds")) Nil
        else node.get("bucketBounds").elements().asScala
          .map(_.asText()).toSeq,
      publishedAtMs =
        if (!node.has("publishedAtMs")) 0L
        else node.get("publishedAtMs").asLong(),
      op = if (!node.has("op")) "" else node.get("op").asText(),
      opDeletes = node.has("opDeletes") && node.get("opDeletes").asBoolean(),
      sinkBatches =
        // legacy single marker reads as the "" namespace; named
        // namespaces live in the `sinkBatches` object
        (if (!node.has("sinkBatch")) Map.empty[String, Long]
         else Map("" -> node.get("sinkBatch").asLong())) ++
        (if (!node.has("sinkBatches")) Map.empty[String, Long]
         else node.get("sinkBatches").fields().asScala
           .map(e => e.getKey -> e.getValue.asLong()).toMap))
    if (!node.has("buckets")) (parseRelMaps(header, node), Nil)
    else {
      val refs = node.get("buckets").elements().asScala.zipWithIndex
        .map { case (b, i) =>
          BucketRef(i, b.get("file").asText(),
            statsRollup =
              if (!b.has("stats")) Map.empty
              else b.get("stats").fields().asScala.map { c =>
                c.getKey -> (optText(c.getValue, "min"),
                  optText(c.getValue, "max"))
              }.toMap,
            bloomRollup =
              if (!b.has("blooms")) Map.empty
              else b.get("blooms").fields().asScala.map { c =>
                c.getKey -> c.getValue.asText()
              }.toMap)
        }.toSeq
      (header, refs)
    }
  }

  /** Load the given bucket children into `header`. The full meta is
    * `readBuckets(header, refs)`; a PRUNED read passes only the refs
    * whose rollups can match — the hierarchical win: meta bytes read
    * scale with matching buckets, not the table. */
  private def readBuckets(spark: SparkSession, path: String,
                          header: ManifestMeta,
                          refs: Seq[BucketRef]): ManifestMeta = {
    val fs = TableFs(spark, path)
    refs.foldLeft(header) { (m, r) =>
      val p = new Path(path, r.file)
      require(fs.exists(p),
        s"manifest v${header.version} of $path references bucket file " +
          s"${r.file} which is not on disk (reaped?)")
      parseRelMaps(m, manifestJson.readTree(new String(fs.readBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)))
    }
  }

  private[graft] def readManifestMeta(spark: SparkSession, path: String,
                               version: Int): ManifestMeta = {
    val (header, refs) = readManifestRoot(spark, path, version)
    if (refs.isEmpty) header else readBuckets(spark, path, header, refs)
  }

  /** Per-bucket stats rollup (the [[Skipping.Rollup]] of the bucket's
    * rels' bounds) and bloom rollup (their union), both on the driver. */
  private def bucketRollups(spark: SparkSession, m: ManifestMeta,
                            byBucket: Map[Int, Seq[String]]):
      Map[Int, (Skipping.Bounds, Map[String, String])] = {
    lazy val rollup = Skipping.rollup(spark, m)
    byBucket.map { case (b, rels) =>
      b -> (
        if (m.statsCols.isEmpty) Map.empty
        else rollup(rels.map(m.stats.getOrElse(_, Map.empty))),
        m.bloomCols.flatMap(c => unionBlooms(rels.flatMap(rel =>
          m.blooms.getOrElse(rel, Map.empty).get(c))).map(c -> _)).toMap)
    }
  }

  private def writeManifestMeta(spark: SparkSession, path: String,
                                m: ManifestMeta): Unit = {
    val fs = TableFs(spark, path)
    val root = manifestJson.createObjectNode()
    root.put("version", m.version)
    // the publish stamp is ALWAYS freshly taken here — metas are
    // carried forward by copy() across publishes, and inheriting the
    // previous version's stamp would make every version look
    // simultaneous to TIMESTAMP AS OF
    root.put("publishedAtMs", System.currentTimeMillis())
    if (m.op.nonEmpty) root.put("op", m.op)
    if (m.opDeletes) root.put("opDeletes", true)
    if (m.sinkBatch() >= 0) root.put("sinkBatch", m.sinkBatch())
    val named = m.sinkBatches.view.filterKeys(_.nonEmpty).toMap
    if (named.nonEmpty) {
      val sb = root.putObject("sinkBatches")
      named.toSeq.sortBy(_._1).foreach { case (k, v) => sb.put(k, v) }
    }
    root.put("schema", m.schemaDdl)
    val pc = root.putArray("partitionCols")
    m.partitionCols.foreach(pc.add)
    if (m.statsCols.nonEmpty) {
      val sc = root.putArray("statsCols")
      m.statsCols.foreach(sc.add)
    }
    if (m.bloomCols.nonEmpty) {
      val bc = root.putArray("bloomCols")
      m.bloomCols.foreach(bc.add)
      root.put("bloomItems", m.bloomItems)
      root.put("bloomFpp", m.bloomFpp)
    }
    m.statsZone.foreach(root.put("statsZone", _))
    if (m.morKeys.nonEmpty) {
      val mk = root.putArray("morKeys")
      m.morKeys.foreach(mk.add)
      m.morVersionCol.foreach(root.put("morVersionCol", _))
      m.morDeleteCol.foreach(root.put("morDeleteCol", _))
    }
    if (m.appendOnly) root.put("appendOnly", true)
    if (m.dataBuckets > 0) {
      root.put("dataBuckets", m.dataBuckets)
      val dbc = root.putArray("dataBucketCols")
      m.dataBucketCols.foreach(dbc.add)
    }
    if (m.colAliases.nonEmpty) {
      val ca = root.putObject("colAliases")
      m.colAliases.toSeq.sortBy(_._1).foreach { case (cur, olds) =>
        val arr = ca.putArray(cur)
        olds.foreach(arr.add)
      }
    }
    if (m.droppedCols.nonEmpty) {
      val dc = root.putArray("droppedCols")
      m.droppedCols.foreach(dc.add)
    }
    if (m.specHistory.nonEmpty) {
      val sh = root.putArray("specHistory")
      m.specHistory.foreach { spec =>
        val arr = sh.addArray()
        spec.foreach(arr.add)
      }
    }
    if (m.bucketBounds.isEmpty) {
      // FLAT: all per-rel maps inline in the root
      putRelMaps(m, m.allRels.toSet, root)
    } else {
      // HIERARCHICAL: per-rel maps shard into content-addressed child
      // files by the fixed rel-name bounds. A child whose content did
      // not change hashes to the SAME address — already on disk, not
      // rewritten — so a merge's publish writes only the touched
      // buckets plus this root. The root carries per-bucket stats and
      // bloom ROLLUPS, letting pruned reads skip whole buckets before
      // loading any child.
      val bb = root.putArray("bucketBounds")
      m.bucketBounds.foreach(bb.add)
      val grouped = m.allRels.groupBy(m.bucketOf)
      val byBucket = (0 to m.bucketBounds.size)
        .map(b => b -> grouped.getOrElse(b, Nil)).toMap
      val rollups = bucketRollups(spark, m, byBucket)
      val arr = root.putArray("buckets")
      (0 to m.bucketBounds.size).foreach { b =>
        val child = manifestJson.createObjectNode()
        putRelMaps(m, byBucket(b).toSet, child)
        val bytes = manifestJson.writeValueAsBytes(child)
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(bytes).take(16).map("%02x".format(_)).mkString
        val name = s"_MBUCKET.$sha.json"
        val p = new Path(path, name)
        if (!fs.exists(p)) fs.writeBytes(p, bytes)
        val bn = arr.addObject()
        bn.put("file", name)
        val (stR, blR) = rollups(b)
        if (stR.nonEmpty) {
          val sn = bn.putObject("stats")
          stR.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
            val cn = sn.putObject(c)
            mn.fold { cn.putNull("min"); () }(v => { cn.put("min", v); () })
            mx.fold { cn.putNull("max"); () }(v => { cn.put("max", v); () })
          }
        }
        if (blR.nonEmpty) {
          val bln = bn.putObject("blooms")
          blR.toSeq.sortBy(_._1).foreach { case (c, b64) =>
            bln.put(c, b64)
          }
        }
      }
    }
    fs.writeBytes(new Path(path, s"_MANIFEST.v${m.version}"),
      manifestJson.writeValueAsBytes(root))
    // atomic publish: readers resolve either the old version or the new
    fs.publishPointer(new Path(path, ManifestPointer), m.version)
  }

  /** Next generation number for `rel` that collides with NOTHING:
    * above the live manifest's references AND every `gen=` dir on
    * disk. The on-disk bound is load-bearing — a dir the LIVE manifest
    * no longer references may still belong to a RETAINED version (a
    * fully-deleted partition that re-appears, a partition scheme
    * repartitioned back to), and sweeping or reusing its number
    * silently corrupts time travel and pinned readers (caught live:
    * a delete-then-reinsert of a partition's last key rewrote the old
    * snapshot's data in place). Crashed-run orphans are simply
    * numbered past; [[reapManifest]] removes them with retention
    * consent. */
  private def nextGenOnDisk(fs: TableFs, path: String,
                            m: ManifestMeta, rel: String): Int = {
    val partDir = new Path(s"$path/$rel")
    val onDisk =
      if (!fs.exists(partDir)) Nil
      else fs.list(partDir).toSeq.collect {
        case st if st.isDirectory &&
            st.getPath.getName.startsWith("gen=") &&
            st.getPath.getName.drop(4).forall(_.isDigit) =>
          st.getPath.getName.drop(4).toInt
      }
    math.max(m.nextGen(rel), (0 +: onDisk).max + 1)
  }

  /** Generation publish: move each produced `tmpDir/<rel>` to its own
    * fresh `path/<rel>/gen=<g>` on the bounded pool and return the
    * numbering. `g` is collision-free above `m` AND the disk
    * ([[nextGenOnDisk]]) — so a repartition back to an earlier scheme
    * lands beside the dirs retained versions still reference — and
    * numbering runs under the lease, so two writers never pick the
    * same gen. */
  private def publishGens(fs: TableFs, path: String, tmpDir: String,
                          m: ManifestMeta,
                          rels: Seq[String]): Map[String, Int] =
    inParallel(rels) { rel =>
      val g = nextGenOnDisk(fs, path, m, rel)
      fs.mkdirs(new Path(s"$path/$rel"))
      fs.rename(new Path(s"$tmpDir/$rel"), new Path(s"$path/$rel/gen=$g"))
      rel -> g
    }.toMap

  /** Leaf partition rel-paths (`a=1/b=2`) under `p`. */
  private def listPartitionRels(fs: TableFs, p: Path): Seq[String] = {
    def rec(q: Path, prefix: String): Seq[String] = {
      val kids = fs.list(q)
        .filter(s0 => s0.isDirectory && s0.getPath.getName.contains("=") &&
          !s0.getPath.getName.startsWith("gen="))
      if (kids.isEmpty) Seq(prefix).filter(_.nonEmpty)
      else kids.toSeq.flatMap(k => rec(k.getPath,
        if (prefix.isEmpty) k.getPath.getName
        else s"$prefix/${k.getPath.getName}"))
    }
    rec(p, "")
  }

  /** Render the writer-exact partition fragment for one row of
    * partition values ALREADY cast to string by Spark's own Cast (the
    * only rendering guaranteed to match the directories the writer
    * produced — see [[merge]]'s delete-cleanup note). */
  private def relOf(partitionCols: Seq[String],
                    r: org.apache.spark.sql.Row): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    partitionCols.zipWithIndex.map { case (c, i) =>
      ExternalCatalogUtils.getPartitionPathString(c,
        if (r.isNullAt(i)) null else r.getString(i))
    }.mkString("/")
  }

  /** Schema a manifest read reconstructs: data columns first, partition
    * columns appended — the same order a partitioned parquet read
    * produces. */
  private[graft] def manifestSchema(m: ManifestMeta):
      org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)

  /** The zone `m`'s stats and bloom keys render in: the one recorded at
    * seed, else (older manifests) the session's. */
  private[graft] def statsZone(spark: SparkSession, m: ManifestMeta): String =
    m.statsZone.getOrElse(spark.sessionState.conf.sessionLocalTimeZone)

  /** `c.cast("string")` evaluated in `m`'s [[statsZone]] rather than
    * the session's — the in-plan stats and bloom builds
    * ([[fileStatsUnder]], [[bloomsUnder]]) render through it;
    * everything else is [[Skipping]]'s. */
  private def zoned(spark: SparkSession, m: ManifestMeta):
      org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    val zone = statsZone(spark, m)
    c => GraftSqlBridge.column(
      org.apache.spark.sql.catalyst.expressions.Cast(
        GraftSqlBridge.expression(c), StringType, Some(zone)))
  }

  /** The read schema for files that may predate renames: the stored
    * fields plus one extra field per PRIOR name (same type as its
    * current column) — a file carries exactly one of the names, the
    * others read as null. */
  private def aliasedReadSchema(m: ManifestMeta,
      fields: Seq[org.apache.spark.sql.types.StructField]):
      Seq[org.apache.spark.sql.types.StructField] = {
    val have = fields.map(_.name).toSet
    fields ++ m.colAliases.toSeq.sortBy(_._1).flatMap { case (cur, olds) =>
      fields.find(_.name == cur).toSeq.flatMap(f =>
        olds.filterNot(have).map(o => f.copy(name = o)))
    }
  }

  /** The projection that resolves a possibly-renamed column: coalesce
    * over (current, priors) — exact because any one file carries
    * exactly one of the names. */
  private def aliasResolved(m: ManifestMeta, name: String):
      org.apache.spark.sql.Column =
    m.colAliases.get(name) match {
      case Some(olds) if olds.nonEmpty =>
        coalesce((name +: olds).map(col): _*).as(name)
      case _ => col(name)
    }

  private def readManifestRels(spark: SparkSession, path: String,
                               m: ManifestMeta,
                               gens: Map[String, Int]): DataFrame =
    readGenDirs(spark, path, m, gens.toSeq.sortBy(_._1))

  /** Plain stored-schema read of explicit generation dirs (several per
    * rel allowed — the spec-less delta shape of append-only tables).
    * The schema is passed explicitly, so (a) partition values parse to
    * their stored types instead of what directory-string inference
    * re-derives, and (b) generations written BEFORE a schema evolution
    * ([[evolveManifest]]) resolve per file: columns a file lacks read
    * as typed NULLs, columns it has keep their values — the only read
    * shape that is correct over mixed-schema generations (first-footer
    * inference would silently null a column for every file).
    * Generations written under DIFFERENT partition specs (a
    * metadata-only [[changeManifestPartitionSpec]] happened) read as
    * one parquet scan PER ERA and union: within an era the directory
    * layout is uniform (that era's spec columns come from the dirs,
    * everything else — the other eras' partition columns included,
    * every writer stores them as data — from the files), and the
    * explicit stored schema makes each era's read exact. Single-spec
    * tables take the one-read path unchanged. */
  private def readGenDirs(spark: SparkSession, path: String,
                          m: ManifestMeta,
                          gens: Seq[(String, Int)]): DataFrame = {
    val sch = manifestSchema(m)
    if (gens.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
    else {
      def readEra(eraGens: Seq[(String, Int)]): DataFrame =
        spark.read.option("basePath", path)
          .schema(org.apache.spark.sql.types.StructType(
            aliasedReadSchema(m, sch.fields.toSeq)))
          .parquet(eraGens.sorted.map { case (rel, g) =>
            s"$path/$rel/gen=$g" }: _*)
          .drop("gen") // discovered partition col, appended past the schema
          .select(sch.fields.toSeq.map(f => aliasResolved(m, f.name)): _*)
      gens.groupBy { case (rel, _) => specOfRel(rel) }
        .toSeq.sortBy(_._1.mkString(","))
        .map { case (_, eraGens) => readEra(eraGens) }
        .reduce(_ unionByName _)
    }
  }

  private val MorDel = "__mor_del"
  private val MorSeq = "__mor_seq"

  /** Read the given pending-DELTA generation dirs: stored schema plus
    * the persisted `__mor_del` tombstone flag, with the generation
    * number surfaced as `__mor_seq` (the within-version tie-break —
    * later delta batches win ties, matching "apply batches in version
    * order"). Schema is explicit, so deltas written before a schema
    * evolution resolve per file like base generations do. */
  private def readDeltaRels(spark: SparkSession, path: String,
                            m: ManifestMeta,
                            gens: Seq[(String, Int)]): DataFrame = {
    val sch = manifestSchema(m)
    val dataCols = sch.fields.filterNot(f =>
      m.partitionCols.contains(f.name))
    val parts = m.partitionCols.map(sch(_))
    val readSch = org.apache.spark.sql.types.StructType(
      aliasedReadSchema(m,
        (dataCols :+ org.apache.spark.sql.types.StructField(MorDel,
          org.apache.spark.sql.types.BooleanType)).toSeq) ++ parts)
    spark.read.option("basePath", path).schema(readSch)
      .parquet(gens.sorted.map { case (rel, g) =>
        s"$path/$rel/gen=$g" }: _*)
      .withColumn(MorSeq, col("gen").cast("int"))
      .drop("gen")
      .select((sch.fields.map(f => aliasResolved(m, f.name)) ++
        Seq(col(MorDel), col(MorSeq))).toSeq: _*)
  }

  /** Latest-wins resolution of a base snapshot against its pending
    * delta rows — the merge-on-read READ path. One window over
    * (partition cols, stored merge keys): highest `versionCol` wins,
    * ties go to the later delta batch (base rows carry seq 0),
    * tombstone winners drop. The window is [[latestWins]]'s: a key
    * is one key only within its partition, so merge-on-read and
    * copy-on-write publish the same rows even for an update that moves
    * a key across partitions, and the shuffle spreads across
    * (partition × key), not just key. */
  private def resolveMor(m: ManifestMeta, base: DataFrame,
                         delta: DataFrame): DataFrame = {
    val sch = manifestSchema(m)
    val tagged = base
      .withColumn(MorDel, lit(false)).withColumn(MorSeq, lit(0))
      .unionByName(delta)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((m.partitionCols ++ m.morKeys).distinct.map(col): _*)
      .orderBy(col(m.morVersionCol.get).desc, col(MorSeq).desc)
    tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !col(MorDel))
      .select(sch.fields.toSeq.map(f => col(f.name)): _*)
  }

  /** The rows of manifest `m` restricted to partitions `rels`, with
    * any pending merge-on-read deltas applied in-plan. Partitions
    * WITHOUT pending deltas stream through untouched (no shuffle) —
    * only delta-bearing partitions pay the resolution window, so the
    * merge-on-read read tax is bounded by the partitions a fold
    * hasn't yet caught up with, not the table. With no pending deltas
    * anywhere this is exactly the base read. */
  private def readResolved(spark: SparkSession, path: String,
                           m: ManifestMeta,
                           rels: Seq[String]): DataFrame = {
    val (deltaRels, plainRels) = rels.sorted.partition(m.deltas.contains)
    val plain = readManifestRels(spark, path, m,
      plainRels.flatMap(r => m.entries.get(r).map(r -> _)).toMap)
    if (deltaRels.isEmpty) plain
    else if (m.morKeys.isEmpty) {
      // SPEC-LESS deltas — only an append-only table can hold them
      // ([[appendManifest]]; keyed delta merges always fix a spec):
      // there is nothing to resolve, every row is live — plain union
      val dGens = deltaRels.flatMap(r =>
        (m.entries.get(r).toSeq ++ m.deltas(r)).map(r -> _))
      plain.unionByName(readGenDirs(spark, path, m, dGens))
    } else {
      val dBase = readManifestRels(spark, path, m,
        deltaRels.flatMap(r => m.entries.get(r).map(r -> _)).toMap)
      val dGens = deltaRels.flatMap(r => m.deltas(r).map(r -> _))
      plain.unionByName(
        resolveMor(m, dBase, readDeltaRels(spark, path, m, dGens)))
    }
  }

  private def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions", "200").toInt

  /** Per-partition metadata ops (renames, dir listings) are LATENCY
    * bound, not CPU bound — on an object store each is a round trip.
    * Run them on a bounded pool: 525 partitions become ~33 waves of 16
    * instead of 525 sequential trips (measured locally: the rename
    * loop fell from ~12 s to under a second at 525 partitions; the
    * win grows with store latency). Results keep `items` order; the
    * first failure propagates after the pool drains. */
  private def inParallel[A, B](items: Seq[A], threads: Int = 16)
                              (op: A => B): Seq[B] =
    if (items.lengthCompare(2) < 0) items.map(op)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(threads, items.size))
      try {
        val fs = items.map(a => pool.submit(
          new java.util.concurrent.Callable[B] { def call(): B = op(a) }))
        fs.map { f =>
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException =>
            throw e.getCause }
        }
      } finally pool.shutdown()
    }

  /** The just-written rows under `dir` (a writer's tmp tree, BEFORE
    * its renames scatter it into gen dirs): one recursive listing of a
    * single root instead of |touched| explicit gen paths — the cheap
    * way for writers to derive their published metadata. Partition
    * values parse against the STORED schema; extra file columns (a
    * delta's tombstone flag) are simply not selected. */
  private def underDir(spark: SparkSession, m: ManifestMeta,
                       dir: String): DataFrame = {
    val sch = manifestSchema(m)
    spark.read.option("basePath", dir).schema(sch).parquet(dir)
      .select(sch.fields.toSeq.map(f => col(f.name)): _*)
  }

  /** Per-FILE min/max of `statsCols` over a writer's tmp tree — ONE
    * aggregate grouped by (partition values, input_file_name), keyed
    * by (rel, bare file name). At commit the writer prefixes each name
    * with its rel's assigned generation ("gen=G/name"), the key the
    * planner index prunes files by. Driver rows bounded by the touched
    * FILE count (each rel writes one clustered file unless
    * maxRecordsPerFile split it — the exact case file stats exist
    * for). */
  private def fileStatsUnder(spark: SparkSession, m: ManifestMeta,
                             tmpDir: String):
      Map[String, Map[String, Skipping.Bounds]] = {
    if (m.statsCols.isEmpty) Map.empty
    else {
      val df = underDir(spark, m, tmpDir)
      val pc = m.partitionCols
      val z = zoned(spark, m)
      val aggs = m.statsCols.flatMap(c => Seq(
        z(min(col(c))).as(s"__mn_$c"),
        z(max(col(c))).as(s"__mx_$c")))
      df.groupBy((pc.map(c => col(c).cast("string").as(c)) :+
          input_file_name().as("__file")): _*)
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { r =>
          val file = r.getAs[String]("__file")
          val name = file.substring(file.lastIndexOf('/') + 1)
          (relOf(pc, r), name,
            m.statsCols.map(c => c ->
              (Option(r.getAs[String](s"__mn_$c")),
               Option(r.getAs[String](s"__mx_$c")))).toMap)
        }
        .groupBy(_._1)
        .map { case (rel, rows) =>
          rel -> rows.map(t => t._2 -> t._3).toMap }
    }
  }

  /** The entries of a rel's per-file stats that belong to the given
    * generations — what survives a rewrite that replaced the others. */
  private def fileStatsOfGens(
      files: Map[String, Skipping.Bounds],
      gens: Set[Int]): Map[String, Skipping.Bounds] =
    files.filter { case (k, _) =>
      k.startsWith("gen=") && {
        val d = k.drop(4).takeWhile(_.isDigit)
        d.nonEmpty && gens.contains(d.toInt)
      }
    }

  /** Re-key a writer's per-file stats under the generations its commit
    * assigned ("gen=G/name") — the stored form. Rels the commit did
    * not rename (a fold/compact skip) drop out. */
  private def genKeyedFileStats(
      raw: Map[String, Map[String, Skipping.Bounds]],
      newGens: Map[String, Int]): Map[String, Map[String, Skipping.Bounds]] =
    raw.flatMap { case (rel, files) =>
      newGens.get(rel).map(g =>
        rel -> files.map { case (name, cols) => s"gen=$g/$name" -> cols })
    }

  /** One walk of a writer's tmp tree in place of the post-write data
    * rescan (optimization guide §6 — metadata, not data): per-rel data
    * files with sizes, the exact total
    * row count from parquet footer metadata (replacing the
    * `spark.read.parquet(tmpDir).count()` verify job), and — when
    * every stats column has a sound footer mapping — per-row-group
    * min/max values for [[statsFromScan]]. At 100 TB the old path
    * re-read every byte a publish had just written; the footers are
    * KBs per file and were written milliseconds ago (page-cache hot).
    * Driver-side result stays bounded by the touched-file count, the
    * same bound the per-file stats collect already had. */
  private[operators] final case class TmpScan(
      files: Map[String, Seq[(String, Long)]],
      rows: Long,
      blockStats: Option[Seq[(String, String,
        IndexedSeq[(Option[Any], Option[Any])])]]) {
    def bytes: Map[String, Long] =
      files.map { case (rel, fs) => rel -> fs.map(_._2).sum }
  }

  /** Convert one parquet footer statistic to the Catalyst (internal)
    * value of the declared column type, or None when the mapping is not
    * sound (type mismatch, NaN-poisoned float stats, sub-micro
    * timestamp units whose flooring could narrow a bound) — None makes
    * the caller fall back to the data-scan path for the whole table.
    * Binary/string footer bounds may be writer-truncated; parquet
    * truncation keeps them SOUND (prefix min, last-byte-incremented
    * max), merely wider — pruning reads more, never less. */
  private def footerStat(dt: org.apache.spark.sql.types.DataType,
                         prim: org.apache.parquet.schema.PrimitiveType,
                         v: AnyRef): Option[Any] = {
    import org.apache.spark.sql.types._
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    try {
      val ptn = prim.getPrimitiveTypeName
      dt match {
        case LongType if ptn == INT64 => Some(v)
        case IntegerType if ptn == INT32 => Some(v)
        case ShortType if ptn == INT32 =>
          Some(v.asInstanceOf[java.lang.Integer].shortValue())
        case ByteType if ptn == INT32 =>
          Some(v.asInstanceOf[java.lang.Integer].byteValue())
        case BooleanType if ptn == BOOLEAN => Some(v)
        case FloatType if ptn == FLOAT =>
          val f = v.asInstanceOf[java.lang.Float]
          // ±0.0: parquet-mr pads a 0.0 min down to -0.0 (and a -0.0
          // max up to +0.0) for cross-comparator safety, while Spark
          // normalizes -0.0 to +0.0 inside aggregation (SPARK-32110) —
          // so the data-scan rendering is always "0.0". Map both
          // signed zeros to +0.0 for a bit-identical rendering
          // (FooterStatsSpec caught the "-0.0" divergence).
          if (f.isNaN) None
          else if (f.floatValue() == 0.0f) Some(java.lang.Float.valueOf(0.0f))
          else Some(f)
        case DoubleType if ptn == DOUBLE =>
          val d = v.asInstanceOf[java.lang.Double]
          if (d.isNaN) None
          else if (d.doubleValue() == 0.0d)
            Some(java.lang.Double.valueOf(0.0d))
          else Some(d)
        case StringType if ptn == BINARY =>
          Some(org.apache.spark.unsafe.types.UTF8String.fromString(
            v.asInstanceOf[org.apache.parquet.io.api.Binary]
              .toStringUsingUTF8))
        case DateType if ptn == INT32 &&
            prim.getLogicalTypeAnnotation
              .isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
          Some(v)
        case TimestampType | TimestampNTZType if ptn == INT64 =>
          prim.getLogicalTypeAnnotation match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                // the annotation's UTC-adjustment flag must agree with
                // the Spark type (true ↔ TimestampType): safe for files
                // this writer produced, but a foreign file (or a changed
                // outputTimestampType) whose flag disagrees would render
                // bounds in the wrong zone — bail to the data-scan
                // fallback instead (r17 advice item 3)
                if t.isAdjustedToUTC == (dt == TimestampType) =>
              val raw = v.asInstanceOf[java.lang.Long].longValue()
              t.getUnit match {
                case LogicalTypeAnnotation.TimeUnit.MICROS => Some(raw)
                case LogicalTypeAnnotation.TimeUnit.MILLIS =>
                  Some(Math.multiplyExact(raw, 1000L))
                case _ => None // NANOS: flooring could narrow a bound
              }
            case _ => None
          }
        case d: DecimalType =>
          prim.getLogicalTypeAnnotation match {
            case a: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation
                if a.getScale == d.scale =>
              ptn match {
                case INT32 | INT64 =>
                  Some(Decimal(java.math.BigDecimal.valueOf(
                    v.asInstanceOf[java.lang.Number].longValue(), d.scale),
                    d.precision, d.scale))
                case BINARY | FIXED_LEN_BYTE_ARRAY =>
                  Some(Decimal(new java.math.BigDecimal(
                    new java.math.BigInteger(
                      v.asInstanceOf[org.apache.parquet.io.api.Binary]
                        .getBytes), d.scale), d.precision, d.scale))
                case _ => None
              }
            case _ => None
          }
        case _ => None
      }
    } catch { case _: Exception => None }
  }

  private def scanTmpTree(spark: SparkSession, fs: TableFs,
                          m: ManifestMeta, tmpDir: String,
                          rels: Seq[String]): TmpScan = {
    val sch = manifestSchema(m)
    // a stats column that is ALSO a partition column is directory-
    // encoded — its values are not in the data files, so footer stats
    // cannot serve it; the data-scan fallback (which reads with
    // basePath) still can
    val footerEligible = m.statsCols.nonEmpty &&
      m.statsCols.forall(c => !m.partitionCols.contains(c))
    val listed: Seq[(String, Seq[(String, Long)])] = inParallel(rels) { rel =>
      rel -> fs.list(new Path(s"$tmpDir/$rel"))
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .map(st => (st.getPath.getName, st.getLen)).toSeq.sortBy(_._1)
    }
    val allFiles = listed.flatMap { case (rel, files) =>
      files.map { case (name, _) => (rel, name) } }
    val bailReason =
      new java.util.concurrent.atomic.AtomicReference[String](null)
    // per-file footer read: row counts always; per-block min/max only
    // while every needed chunk stays soundly mappable
    val perFile = inParallel(allFiles) { case (rel, name) =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        fs.inputFile(new Path(s"$tmpDir/$rel/$name")))
      try {
        import scala.jdk.CollectionConverters._
        val blocks = r.getFooter.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        val stats: Option[Seq[IndexedSeq[(Option[Any], Option[Any])]]] =
          if (!footerEligible) None
          else {
            val perBlock = blocks.map { b =>
              val chunks = b.getColumns.asScala
              val bounds = m.statsCols.map { c =>
                chunks.find(_.getPath.toDotString == c) match {
                  case None =>
                    bailReason.compareAndSet(null,
                      s"column $c absent from $rel/$name")
                    None
                  case Some(ch) =>
                    val st = ch.getStatistics
                    if (st == null) {
                      bailReason.compareAndSet(null,
                        s"no footer statistics for $c in $rel/$name")
                      None
                    } else if (!st.hasNonNullValue) {
                      // all-null chunk → sound unbounded entry; stats
                      // DROPPED (e.g. oversized binary) is not
                      // distinguishable except through the null count
                      if (st.isNumNullsSet && st.getNumNulls == b.getRowCount)
                        Some((Option.empty[Any], Option.empty[Any]))
                      else {
                        bailReason.compareAndSet(null,
                          s"dropped footer statistics for $c in $rel/$name")
                        None
                      }
                    } else {
                      val dt = sch(c).dataType
                      (footerStat(dt, ch.getPrimitiveType,
                          st.genericGetMin().asInstanceOf[AnyRef]),
                        footerStat(dt, ch.getPrimitiveType,
                          st.genericGetMax().asInstanceOf[AnyRef])) match {
                        case (Some(mn), Some(mx)) => Some((Some(mn), Some(mx)))
                        case _ =>
                          bailReason.compareAndSet(null,
                            s"no sound mapping for $c " +
                              s"(${sch(c).dataType.sql} <- " +
                              s"${ch.getPrimitiveType}) in $rel/$name")
                          None
                      }
                    }
                }
              }
              if (bounds.exists(_.isEmpty)) None
              else Some(bounds.map(_.get).toIndexedSeq)
            }
            if (perBlock.exists(_.isEmpty)) None
            else Some(perBlock.map(_.get))
          }
        (rel, name, rows, stats)
      } finally r.close()
    }
    val blockStats =
      if (!footerEligible) None
      else if (perFile.exists(_._4.isEmpty)) {
        // operational breadcrumb: the fallback is a full rescan of the
        // written bytes — at scale that is worth a visible line
        System.err.println(s"[layout] footer stats unavailable under " +
          s"$tmpDir (${Option(bailReason.get).getOrElse("?")}); " +
          "falling back to the data-scan stats pass")
        None
      } else Some(perFile.flatMap { case (rel, name, _, st) =>
        st.get.map(bounds => (rel, name, bounds)) })
    TmpScan(listed.toMap, perFile.map(_._3).sum, blockStats)
  }

  /** Both stats granularities from a [[scanTmpTree]] result, with no
    * data pass and no Spark job: per-file bounds fold from the footer
    * blocks and per-rel bounds from the files, both through
    * [[Skipping.Rollup]] (the ordering and rendering of the data-scan
    * path). Tables whose stats columns have no sound footer mapping
    * fall back to [[fileStatsUnder]]'s distributed scan. */
  private def statsFromScan(spark: SparkSession, m: ManifestMeta,
                            tmpDir: String, scan: TmpScan):
      (Map[String, Skipping.Bounds],
       Map[String, Map[String, Skipping.Bounds]]) = {
    if (m.statsCols.isEmpty) (Map.empty, Map.empty)
    else {
      val rollup = Skipping.rollup(spark, m)
      val perFile = scan.blockStats match {
        case None => fileStatsUnder(spark, m, tmpDir)
        case Some(blocks) =>
          blocks.groupBy(_._1).map { case (rel, bs) =>
            rel -> bs.groupBy(_._2).map { case (file, fbs) =>
              file -> rollup.ofValues(fbs.map(_._3)) }
          }
      }
      (perFile.map { case (rel, files) => rel -> rollup(files.values) },
        perFile)
    }
  }

  /** Per-partition bloom filters of `bloomCols` over a writer's tmp
    * tree — ONE distributed aggregate (groupBy partition values,
    * [[graft.expressions.BloomSketchAgg]] per column), the
    * [[fileStatsUnder]] shape. Values hash through Spark's own
    * Cast-to-string (in the table's [[statsZone]]) + xxhash64 — the
    * exact pipeline [[Skipping]] probes with, so build and probe can
    * never disagree. Driver bytes
    * bounded by touched partitions x ~1.2 x bloomItems per column. */
  private def bloomsUnder(spark: SparkSession, m: ManifestMeta,
                          tmpDir: String): Map[String, Map[String, String]] = {
    if (m.bloomCols.isEmpty) Map.empty
    else {
      val df = underDir(spark, m, tmpDir)
      val pc = m.partitionCols
      val z = zoned(spark, m)
      val aggs = m.bloomCols.map(c =>
        graft.expressions.BloomSketch.agg(
          xxhash64(z(col(c))), m.bloomItems, m.bloomFpp)
          .as(s"__bl_$c"))
      val enc = java.util.Base64.getEncoder
      df.groupBy(pc.map(c => col(c).cast("string").as(c)): _*)
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { r =>
          relOf(pc, r) -> m.bloomCols.map(c => c ->
            enc.encodeToString(r.getAs[Array[Byte]](s"__bl_$c"))).toMap
        }.toMap
    }
  }

  /** Union `add` into the existing per-partition blooms (delta merges:
    * the union covers base + delta values — monotone widening, the
    * bloom analogue of [[widenStats]]; a fold recomputes exactly). */
  private def widenBlooms(old: Map[String, Map[String, String]],
                          add: Map[String, Map[String, String]]):
      Map[String, Map[String, String]] =
    old ++ add.map { case (rel, cols) =>
      val prev = old.getOrElse(rel, Map.empty)
      rel -> cols.map { case (c, b64) =>
        c -> unionBlooms(prev.get(c).toSeq :+ b64).get }
    }

  /** The union of base64-encoded bloom filters, None for none. */
  private def unionBlooms(b64s: Seq[String]): Option[String] =
    b64s.map(java.util.Base64.getDecoder.decode(_))
      .reduceOption(graft.expressions.BloomSketch.union)
      .map(java.util.Base64.getEncoder.encodeToString)

  /** EQUALITY data-skipping read: the rows of the LIVE snapshot with
    * `c1 = v1 AND c2 = v2 AND ...`, scanning ONLY the partitions whose
    * bloom filters might contain every value — the point-lookup
    * complement of [[readManifestPruned]]'s range stats, for
    * high-cardinality UNSORTED columns where every partition's
    * [min, max] covers every probe (an order id against a
    * date-partitioned table: range stats prune nothing, the bloom
    * prunes to the one partition holding it). False positives only
    * scan more; the in-plan residual keeps the result exact. Pending
    * merge-on-read deltas resolve in-plan (their values are unioned
    * into the blooms, so pruning stays sound). The table must have
    * been seeded with the columns in `bloomCols`. */
  def readManifestEq(spark: SparkSession, path: String,
                     eqs: Seq[(String, Any)]): DataFrame = {
    require(eqs.nonEmpty, "readManifestEq needs >= 1 equality")
    require(eqs.forall(_._2 != null),
      "readManifestEq probes non-null values (x = NULL matches nothing)")
    require(eqs.map(_._1).distinct.size == eqs.size,
      "one value per column (two different values on one column can " +
        "never both hold)")
    skippingRead(spark, path,
      eqs.map { case (c, v) => Skipping.AnyOf(c, Seq(Literal(v))) },
      schema => eqs.map { case (c, value) =>
        col(c) === lit(value).cast(schema(c).dataType)
      }.reduce(_ && _))
  }

  /** Data-skipping read: the rows of the LIVE manifest snapshot with
    * `column BETWEEN lo AND hi` (inclusive), reading ONLY the partition
    * generations whose stored [min, max] stats intersect the window —
    * file-level min/max pruning beyond what partition VALUES give (a
    * table partitioned by a coarse time bucket prunes to the exact
    * sub-bucket window). The table must have been seeded with `column`
    * in `statsCols`; every merge keeps touched partitions' stats
    * current, so pruning is always sound: generations are immutable and
    * stats are recomputed from each rewrite. Partitions with no
    * non-null value (stats None) prune — a range predicate cannot
    * match NULL. The residual predicate is applied in-plan, so the
    * result is exact, not stats-approximate. `lo`/`hi` take anything
    * `lit` accepts and are Cast to the column's stored type.
    */
  def readManifestBetween(spark: SparkSession, path: String,
                          column: String, lo: Any, hi: Any): DataFrame =
    readManifestPruned(spark, path, Seq((column, lo, hi)))

  /** Data-skipping read over a CONJUNCTION of range predicates —
    * `c1 BETWEEN lo1 AND hi1 AND c2 BETWEEN lo2 AND hi2 AND ...`
    * (real queries AND ranges: a date window × a key band). A
    * partition generation is read only if its stored [min, max]
    * intersects EVERY window — each extra predicate can only shrink
    * the scan set. Same soundness argument as the single-column form
    * (each column's stats are independently exact over the immutable
    * generation, and a conjunction holds only where all conjuncts do);
    * the overlap test ([[Skipping]]) and the in-plan residual filter
    * both run through Spark's own Cast + ordering, so pruning can never
    * disagree with the result.
    */
  def readManifestPruned(spark: SparkSession, path: String,
                         ranges: Seq[(String, Any, Any)]): DataFrame = {
    require(ranges.nonEmpty, "readManifestPruned needs >= 1 range")
    require(ranges.map(_._1).distinct.size == ranges.size,
      "one range per column; AND two windows on the same column into " +
        "their intersection first")
    skippingRead(spark, path,
      ranges.map { case (c, lo, hi) =>
        Skipping.Window(c, Some(Literal(lo)), Some(Literal(hi))) },
      schema => ranges.map { case (c, lo, hi) =>
        val dt = schema(c).dataType
        col(c) >= lit(lo).cast(dt) && col(c) <= lit(hi).cast(dt)
      }.reduce(_ && _))
  }

  /** The shared body of the explicit skipping readers: the live
    * snapshot's generations that [[Skipping]] admits for `preds` (whole
    * hierarchical buckets prune by their rollups first, so only
    * matching children are ever read), resolved, then filtered by
    * `residual` (given the stored schema). Resolution runs BEFORE the
    * residual: a pending delta may have moved a row's column value, and
    * the filter must see the resolved row. Pruning stays sound because
    * delta merges WIDEN stats and union blooms monotonically (see
    * [[mergeManifestDelta]]) until a fold re-tightens them. */
  private def skippingRead(spark: SparkSession, path: String,
      preds: Seq[Skipping.Pred],
      residual: org.apache.spark.sql.types.StructType =>
        org.apache.spark.sql.Column): DataFrame = {
    val (header, refs) = readManifestRoot(spark, path, liveVersion(spark, path))
    preds.foreach {
      case Skipping.AnyOf(c, _) =>
        require(header.bloomCols.contains(c),
          s"manifest table $path keeps no bloom for '$c' " +
            s"(bloomCols: ${header.bloomCols.mkString(",")}); reseed with " +
            "it in bloomCols to enable equality-skipping reads")
      case p =>
        require(header.statsCols.contains(p.col),
          s"manifest table $path keeps no stats for '${p.col}' " +
            s"(statsCols: ${header.statsCols.mkString(",")}); reseed with " +
            "it in statsCols to enable data-skipping reads")
    }
    val skip = Skipping(spark, header, preds)
    val m =
      if (refs.isEmpty) header
      else readBuckets(spark, path, header,
        refs.filter(r => skip.admits(r.statsRollup, r.bloomRollup)))
    val kept = m.allRels.filter(rel => skip.admits(
      m.stats.getOrElse(rel, Map.empty), m.blooms.getOrElse(rel, Map.empty)))
    readResolved(spark, path, m, kept).filter(residual(manifestSchema(m)))
  }

  /** Transient directory column a bucketized write routes bucket ids
    * through (never lands in data files — `partitionBy` strips it). */
  private[graft] val BucketDir = "__gbucket"

  /** Spark's OWN bucket-id expression —
    * `HashPartitioning(cols, n).partitionIdExpression`, i.e.
    * `pmod(murmur3(cols), n)`: `hash()` IS Murmur3Hash at the default
    * seed 42, the identical expression bucketed scans assume of every
    * file named `…_<id>`, so a file written under this id joins
    * shuffle-free against Spark's native `bucketBy` tables. */
  private def bucketIdCol(cols: Seq[String], n: Int):
      org.apache.spark.sql.Column =
    pmod(hash(cols.map(col): _*), lit(n))

  /** Rewrite a bucketized tmp tree (`rel/__gbucket=N/part-….parquet`)
    * into the flat per-rel shape every downstream publish step expects
    * (`rel/part-…_0000N.parquet`): each data file moves up one level
    * carrying Spark's bucket-file suffix — the naming
    * `FileSourceScanExec` parses bucket ids from — derived from its
    * directory. Pure renames on the bounded pool (one per data file,
    * the publish-path cost class); the emptied bucket dirs delete
    * recursively, sweeping any checksum shadows along. */
  private def flattenBucketDirs(spark: SparkSession, tmpDir: String): Unit = {
    val fs = TableFs(spark, tmpDir)
    val bucketRels = listPartitionRels(fs, new Path(tmpDir))
      .filter(_.split("/").last.startsWith(s"$BucketDir="))
    inParallel(bucketRels) { rel =>
      val dir = new Path(s"$tmpDir/$rel")
      val b = rel.substring(rel.lastIndexOf('=') + 1).toInt
      fs.list(dir).toSeq
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
        .foreach { st =>
          val n = st.getPath.getName
          val dot = n.indexOf('.')
          val (base, ext) = if (dot < 0) (n, "") else n.splitAt(dot)
          fs.rename(st.getPath,
            new Path(dir.getParent, f"${base}_$b%05d$ext"))
        }
      fs.delete(dir, true)
    }
  }

  /** THE manifest data write: cluster `df` on the partition columns
    * into `shuffle.partitions` tasks (one file per partition dir, not
    * |tasks| tiny files in every dir — the small-files problem the
    * compactor would then have to cure) and land it under `tmpDir` as
    * a plain `rel/files` tree. On a BUCKETED table (`nBuckets > 0`)
    * the clustering key gains the bucket id and the landed files carry
    * Spark's bucket naming + placement contract (see
    * [[flattenBucketDirs]]) — every write path REACHABLE on a bucketed
    * table routes through here (appendManifest, mergeManifestDelta and
    * its fold pass no bucketing: they are unreachable on a bucketed
    * table by refusal — bucketed tables cannot be appendOnly and
    * refuse MoR deltas), so the contract survives merges, DML,
    * compaction and migration.
    * `sortTail` appends an in-task sort under the directory grouping
    * (the sorted-compaction discipline); `dropCols` drop after the
    * sort, before the write (transient sort keys like `__z`).
    * Committer v2 (direct task commit) is safe here: atomicity comes
    * from the manifest pointer swap, and the tmp tree is
    * writer-unique. */
  private def clusteredWrite(spark: SparkSession, df: DataFrame,
      tmpDir: String, pcols: Seq[String],
      bucketCols: Seq[String], nBuckets: Int,
      sortTail: Seq[org.apache.spark.sql.Column] = Nil,
      dropCols: Seq[String] = Nil): Unit = {
    val dirCols = if (nBuckets > 0) pcols :+ BucketDir else pcols
    val keyed =
      if (nBuckets > 0) df.withColumn(BucketDir, bucketIdCol(bucketCols, nBuckets))
      else df
    val clustered =
      keyed.repartition(shufflePartitions(spark), dirCols.map(col): _*)
    val ordered =
      if (sortTail.isEmpty) clustered
      else clustered.sortWithinPartitions(dirCols.map(col) ++ sortTail: _*)
    dropCols.foldLeft(ordered)(_ drop _)
      .write.mode(SaveMode.Overwrite)
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .partitionBy(dirCols: _*).parquet(tmpDir)
    if (nBuckets > 0) flattenBucketDirs(spark, tmpDir)
  }

  /** Seed a MANIFEST table at `path` from `df`, partitioned by
    * `partitionCols`: every partition lands at generation 1 and
    * manifest v1 publishes the snapshot. One-time — a table is either
    * manifest-disciplined or rename-swap ([[merge]]), never both.
    *
    * `keys` + `versionCol` DECLARE the table's merge spec at seed time
    * (stored as `morKeys`/`morVersionCol`): every later merge — Scala,
    * the manifest sink, SQL INSERT/UPDATE/DELETE/MERGE through a
    * catalog registration — resolves the spec from the manifest with
    * no per-statement OPTIONS, and a caller passing a DIFFERENT spec
    * fails loudly (the existing morKeys contract, previously fixed
    * only by the first merge-on-read delta). Mutually exclusive with
    * `appendOnly` (which declares that no merge spec can ever exist).
    */
  def writeManifestTable(spark: SparkSession, path: String, df: DataFrame,
                         partitionCols: Seq[String],
                         statsCols: Seq[String] = Nil,
                         bloomCols: Seq[String] = Nil,
                         bloomItems: Long = 10000,
                         bloomFpp: Double = 0.01,
                         manifestBuckets: Int = 0,
                         appendOnly: Boolean = false,
                         keys: Seq[String] = Nil,
                         versionCol: Option[String] = None,
                         bucketCols: Seq[String] = Nil,
                         buckets: Int = 0): Unit =
      withMaintenanceLock(spark, path, lockWaitMs(spark)) {
    require(keys.isEmpty == versionCol.isEmpty,
      "declare the merge spec as BOTH keys and versionCol (or neither)")
    require(keys.isEmpty || !appendOnly,
      "a DECLARED append-only table can never have a merge spec — " +
        "drop keys/versionCol or appendOnly")
    require(keys.forall(df.columns.contains) &&
        versionCol.forall(df.columns.contains),
      s"merge-spec column(s) ${(keys ++ versionCol)
        .filterNot(df.columns.contains).mkString(",")} are not columns " +
        "of df")
    require(!versionCol.exists(keys.contains),
      "versionCol cannot be one of the keys")
    require(manifestBuckets >= 0 && manifestBuckets <= 4096,
      "manifestBuckets must be in [0, 4096] (0 = flat manifest)")
    require(statsCols.forall(df.columns.contains),
      s"statsCols ${statsCols.filterNot(df.columns.contains).mkString(",")} " +
        "are not columns of df")
    require(bloomCols.forall(df.columns.contains),
      s"bloomCols ${bloomCols.filterNot(df.columns.contains).mkString(",")} " +
        "are not columns of df")
    require(partitionCols.nonEmpty,
      "manifest tables are partition-granular; for an unpartitioned " +
        "table use compactGen/mergeGen (_CURRENT discipline)")
    require(partitionCols.forall(df.columns.contains),
      s"df must carry the partition columns ${partitionCols.mkString(",")}")
    require(!df.columns.contains("gen"),
      "'gen' is the manifest's generation directory name; rename the column")
    // the "__" prefix is reserved for the engine's in-plan temp columns
    // (__src/__del/__mor_*/__w/__net/__dup/__gbucket): a user column
    // named like one would be silently clobbered by withColumn inside
    // merge resolution or the change feed — refuse at seed time, where
    // the contract is cheap and loud (r17 advice item 2)
    require(!df.columns.exists(_.startsWith("__")),
      s"column name(s) ${df.columns.filter(_.startsWith("__"))
        .mkString(", ")} use the reserved '__' prefix (engine temp " +
        "columns); rename them")
    // DATA bucketing (shuffle-free co-bucketed joins; distinct from
    // manifestBuckets, which shards METADATA): fixed at seed, CoW-only
    require(bucketCols.isEmpty == (buckets == 0),
      "declare data bucketing as BOTH bucketCols and buckets (or neither)")
    if (buckets > 0) {
      require(buckets >= 2 && buckets <= 4096,
        "buckets must be in [2, 4096]")
      require(bucketCols.forall(df.columns.contains),
        s"bucketCols ${bucketCols.filterNot(df.columns.contains)
          .mkString(",")} are not columns of df")
      require(bucketCols.intersect(partitionCols).isEmpty,
        "bucketCols cannot overlap the partition columns: a partition " +
          "column is directory-encoded, not in the files a bucketed " +
          "scan hashes")
      require(!appendOnly,
        "a bucketed manifest table cannot be appendOnly: spec-less " +
          "append generations would land files outside the bucket " +
          "naming + placement contract — bucketed tables are " +
          "copy-on-write (seed with keys/versionCol and merge)")
      require(!df.columns.contains(BucketDir),
        s"'$BucketDir' is reserved by the bucketized write; rename the " +
          "column")
    }
    require(manifestVersion(spark, path).isEmpty,
      s"$path is already a manifest table; use mergeManifest")
    val dataCols = df.schema.fields.filterNot(f =>
      partitionCols.contains(f.name))
    val parts = partitionCols.map(c => df.schema(c))
    val ddl = org.apache.spark.sql.types.StructType(dataCols ++ parts).toDDL
    // the rels (and so the entries and hierarchy bounds) are known only
    // after the write; staging reads just the schema and stats/bloom
    // config
    val meta0 = ManifestMeta(1, ddl, partitionCols, Map.empty,
      statsCols = statsCols, bloomCols = bloomCols,
      bloomItems = bloomItems, bloomFpp = bloomFpp,
      statsZone = Some(spark.sessionState.conf.sessionLocalTimeZone),
      appendOnly = appendOnly,
      morKeys = keys, morVersionCol = versionCol,
      dataBucketCols = bucketCols, dataBuckets = buckets)
    // clustered into shuffle.partitions tasks, not |partitions| (525
    // single-file tasks measured 11 s; 32 tasks writing ~16 dirs each
    // measured 2.5 s); oversized partitions still split via
    // maxRecordsPerFile
    stage(spark, path, meta0, "writeManifestTable", df, expected = None)(
        clusteredWrite(spark, _, _, partitionCols, bucketCols, buckets)) { st =>
      val gens = st.produced.map(_ -> 1).toMap
      // hierarchical bounds: even rel-name split points, FIXED for the
      // table's lifetime (future rels join their name-ordered bucket; a
      // value distribution that grows one-sided skews bucket sizes —
      // acceptable: correctness never depends on balance)
      val sortedRels = st.produced.sorted
      val nB = math.min(manifestBuckets, sortedRels.size)
      val bounds =
        if (nB <= 1) Nil
        else (1 until nB).map(i => sortedRels(i * sortedRels.size / nB))
          .distinct
      inParallel(st.produced) { rel =>
        val dst = new Path(s"$path/$rel/gen=1")
        st.fs.mkdirs(dst.getParent)
        if (st.fs.exists(dst)) st.fs.delete(dst, true) // crashed prior seed
        st.fs.rename(new Path(s"${st.tmpDir}/$rel"), dst)
      }
      writeManifestMeta(spark, path, meta0.copy(entries = gens,
        bucketBounds = bounds, stats = st.stats,
        fileStats = genKeyedFileStats(st.fileStats, gens),
        blooms = st.blooms, bytes = st.bytes, op = "seed"))
    }
  }

  /** Every RETAINED manifest version number on disk, ascending — the
    * time-travel window ([[readManifestVersion]] reaches exactly
    * these; [[reapManifest]] shrinks the list). */
  def manifestVersions(spark: SparkSession, path: String): Seq[Int] = {
    val fs = TableFs(spark, path)
    if (!fs.exists(new Path(path))) Nil
    else fs.list(new Path(path)).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (!st.isDirectory && n.startsWith("_MANIFEST.v") &&
          n.drop(11).nonEmpty && n.drop(11).forall(_.isDigit))
        Some(n.drop(11).toInt)
      else None
    }.sorted
  }

  /** The newest RETAINED manifest version published at or before
    * `tsMs` (epoch millis) — `TIMESTAMP AS OF` resolution, the Delta/
    * Iceberg snapshot-by-time contract. Publish stamps are recorded in
    * every version's root ([[ManifestMeta.publishedAtMs]]) and are
    * monotone across versions, so this binary-searches the retained
    * window: O(log versions) root reads, no data touched. Fails loudly
    * when `tsMs` predates the EARLIEST retained version (naming its
    * stamp — the row Delta's `timestampAsOf` errors with), or when the
    * resolved version predates the stamp field itself. A timestamp at
    * or past the newest retained stamp serves that newest version —
    * asking for "the table as of now" on a table idle since its last
    * publish must answer, not refuse. */
  def versionAtTimestamp(spark: SparkSession, path: String,
                         tsMs: Long): Int = {
    // a concurrent reap can delete a version BETWEEN our listing and
    // its root read — mid-search that surfaces as a confusing
    // "not on disk"; re-list once and resolve against the shrunken
    // window instead (the reap's own strand guards already protect
    // consumers; a point-in-time read just needs the CURRENT window)
    def attempt(retry: Boolean): Int = {
      val vs = manifestVersions(spark, path)
      require(vs.nonEmpty,
        s"$path has no retained manifest versions — not a manifest table?")
      def stampOf(v: Int): Long = {
        val s = readManifestMeta(spark, path, v).publishedAtMs
        require(s > 0L,
          s"manifest v$v of $path predates publish timestamps " +
            "(written before the publishedAtMs field existed) — travel " +
            "by VERSION AS OF instead")
        s
      }
      try {
        val earliest = stampOf(vs.head)
        require(tsMs >= earliest,
          s"TIMESTAMP AS OF ${java.time.Instant.ofEpochMilli(tsMs)} " +
            s"predates the earliest retained version of $path " +
            s"(v${vs.head}, published " +
            s"${java.time.Instant.ofEpochMilli(earliest)}) — earlier " +
            "snapshots were reaped")
        // binary search: the largest retained version with stamp <= tsMs
        var lo = 0
        var hi = vs.size - 1
        while (lo < hi) {
          val mid = (lo + hi + 1) / 2
          if (stampOf(vs(mid)) <= tsMs) lo = mid else hi = mid - 1
        }
        vs(lo)
      } catch {
        case e: IllegalArgumentException
            if retry && e.getMessage != null &&
              e.getMessage.contains("not on disk") =>
          attempt(retry = false)
      }
    }
    attempt(retry = true)
  }

  /** Read the LIVE snapshot of the manifest table at `path`: the
    * pointer and manifest resolve once, here; the returned DataFrame
    * reads exactly the per-partition generation dirs that manifest
    * names, so a concurrent [[mergeManifest]] — which only ever ADDS
    * new generation dirs and swaps the pointer — can never change,
    * tear, or hide a running query's input. THE read path for
    * continuous-CDC tables ([[graft.streaming.Streams.cdcApply]] with
    * `manifest = true`).
    */
  def readManifest(spark: SparkSession, path: String): DataFrame =
    readManifestVersion(spark, path, liveVersion(spark, path))

  /** The manifest table as a PLANNER-INTEGRATED relation
    * ([[graft.plans.ManifestFileIndex]]): register it as a view and
    * every plain `spark.sql` / DataFrame filter auto-prunes — partition
    * filters exactly, statsCols/bloomCols predicates via the
    * manifest's min/max stats and blooms, judged by the same
    * [[Skipping]] evaluator the explicit readers use — with Catalyst's
    * column pruning and parquet row-group skipping still applying
    * underneath.
    * Use this for the ad-hoc SQL surface; [[readManifest]] /
    * [[readManifestPruned]] stay the explicit-API reads (and the only
    * ones that resolve pending merge-on-read deltas — this one fails
    * loudly on them). Snapshot-pinned at creation like every other
    * manifest read; `version` time-travels to any retained snapshot.
    *
    * After a METADATA-ONLY [[changeManifestPartitionSpec]] a table can
    * hold generations under SEVERAL partition specs; one
    * HadoopFsRelation serves one spec, so a mixed table mounts as a
    * UNION of per-era relations — each branch's partition predicates
    * prune exactly under its own spec (Catalyst pushes filters through
    * Union), the other eras' partition columns read as plain data
    * columns from their files, and the union presents the one stored
    * schema. The uniform case (no spec change, or migration finished)
    * keeps the single-relation plan unchanged. */
  def manifestTable(spark: SparkSession, path: String,
                    version: Option[Int] = None): DataFrame = {
    def frame(idx: graft.plans.ManifestFileIndex): DataFrame = {
      val rel = org.apache.spark.sql.execution.datasources
        .HadoopFsRelation(
          idx, idx.partitionSchema, idx.dataSchema, idx.dataBucketSpec,
          new org.apache.spark.sql.execution.datasources.parquet
            .ParquetFileFormat,
          Map.empty)(spark)
      spark.baseRelationToDataFrame(rel)
        // present the STORED column order (the relation's physical
        // order is data cols first, partition cols appended)
        .select(idx.fullSchema.fields.toSeq.map(f => col(f.name)): _*)
    }
    val v = version.getOrElse(liveVersion(spark, path))
    val m = readManifestMeta(spark, path, v)
    val eras = m.liveSpecs
    if (eras.size == 1)
      // uniform: live (version-absent) mounts keep advancing per scan
      frame(new graft.plans.ManifestFileIndex(spark, path, version))
    else
      // mixed eras: every branch pins the SAME resolved version so the
      // union can never straddle a concurrent publish
      eras.map(spec => frame(new graft.plans.ManifestFileIndex(
        spark, path, Some(v), Some(spec)))).reduce(_ unionByName _)
  }

  /** Time-travel read of a RETAINED manifest version (any not yet
    * reaped) — "what did this table say before the last N merges", at
    * partition granularity. Fails loudly on a reaped version. */
  def readManifestVersion(spark: SparkSession, path: String,
                          version: Int): DataFrame = {
    val m = readManifestMeta(spark, path, version)
    val fs = TableFs(spark, path)
    val allRels = (m.entries.keySet ++ m.deltas.keySet).toSeq.sorted
    allRels.foreach { rel =>
      m.liveGens(rel).foreach { g =>
        require(fs.exists(new Path(s"$path/$rel/gen=$g")),
          s"manifest v$version of $path references $rel/gen=$g which is " +
            "not on disk (reaped?); time travel only reaches retained " +
            "generations")
      }
    }
    readResolved(spark, path, m, allRels)
  }

  // ---- Optimistic concurrent commits ----------------------------------
  //
  // Every manifest data write stages through [[stage]]: the write into
  // a writer-unique tmp tree, and the published metadata derived from
  // it. Partition-scoped publishes (mergeManifest, appendManifest,
  // mergeManifestDelta, migrateManifestPartitions through [[commit]];
  // foldManifestDeltas and compactManifest directly) stage WITHOUT the
  // maintenance lease, against a snapshot of the manifest (m0). Only
  // the COMMIT (gen-numbering, renames, one JSON publish — metadata-
  // fast) takes the lease and re-reads the live manifest (m1) —
  // [[underLease]] — and either
  //   - publishes directly (nothing moved),
  //   - REBASES onto m1 when the concurrently-published versions did
  //     not touch what this writer depends on (delta merges depend only
  //     on table invariants; CoW merges also on their touched
  //     partitions' state; folds/compactions skip just the partitions
  //     that moved), or
  //   - signals a CONFLICT, and [[commit]] retries the operation from
  //     a fresh snapshot a bounded number of times before failing
  //     loudly (folds/compactions never retry).
  // The net effect: CDC ingest and compaction overlap instead of
  // serializing on one lease — at 100 TB a compaction runs long enough
  // that ingest cannot stop for it — with the final state always equal
  // to SOME sequential order of the committed operations (the manifest
  // version is the linearization point; Delta Lake's
  // OptimisticTransaction check-and-retry discipline).

  /** Optimistic-commit conflicts observed process-wide (a commit found
    * concurrent publishes it could not rebase over and retried from a
    * fresh snapshot). Diagnostics only — the ConcStressProbe reads it;
    * correctness never depends on the count. */
  private[graft] val commitConflicts =
    new java.util.concurrent.atomic.AtomicLong(0)

  private def uniqueTmpDir(path: String): String =
    s"$path.__manifest_tmp.${java.util.UUID.randomUUID().toString.take(12)}"

  /** Orphan-vs-in-flight discrimination for optimistic writers' tmp
    * trees: while the (possibly hours-long) unlocked rewrite runs, a
    * daemon thread re-creates `<tmpDir>/_GRAFT_HEARTBEAT` every minute
    * — [[reapManifest]]'s orphan sweep ages a tree by
    * max(root mtime, heartbeat mtime), because a directory's own mtime
    * only moves on direct-child changes: a >1h compaction still in its
    * SCAN phase (or writing deep inside partition subdirs) would
    * otherwise look abandoned and lose its whole rewrite to a
    * concurrent scheduled reap. The underscore name keeps the file
    * invisible to parquet listings; SaveMode.Overwrite deleting the
    * tree at write start just loses one beat (the next tick
    * re-creates it, and an actively-writing tree has a fresh root
    * mtime anyway). */
  private val TmpHeartbeat = "_GRAFT_HEARTBEAT"
  private def withTmpHeartbeat[T](fs: TableFs, tmpDir: String)
                                 (body: => T): T = {
    val hb = new Path(tmpDir, TmpHeartbeat)
    def beat(): Unit =
      try fs.writeBytes(hb, Array.emptyByteArray)
      catch { case _: java.io.IOException => () }
    val stop = new java.util.concurrent.CountDownLatch(1)
    val t = new Thread(() => {
      beat()
      while (!stop.await(60, java.util.concurrent.TimeUnit.SECONDS)) beat()
    }, "graft-tmp-heartbeat")
    t.setDaemon(true)
    t.start()
    try body finally { stop.countDown(); t.join(2000) }
  }

  /** The orphan sweep's age of a crashed writer's tmp tree: the
    * freshest of the root's own mtime and the in-flight heartbeat. */
  private def tmpTreeMtime(fs: TableFs,
                           st: org.apache.hadoop.fs.FileStatus): Long = {
    val hb =
      try fs.status(new Path(st.getPath, TmpHeartbeat))
        .getModificationTime
      catch { case _: java.io.IOException => 0L }
    math.max(st.getModificationTime, hb)
  }

  /** Table-level facts a publish validated against its snapshot that a
    * concurrent commit may have changed — schema, partitioning, stats/
    * bloom config, hierarchy bounds, merge-on-read resolution spec. Any
    * difference sends the writer back to re-validate from a fresh
    * snapshot (Some(reason)); None = rebase-safe at the table level. */
  private def invariantsChanged(a: ManifestMeta, b: ManifestMeta,
                                checkMorSpec: Boolean = true):
      Option[String] = {
    def diff[V](name: String, av: V, bv: V): Option[String] =
      if (av == bv) None else Some(name)
    val changed = Seq(
      diff("schema", a.schemaDdl, b.schemaDdl),
      diff("partitionCols", a.partitionCols, b.partitionCols),
      diff("specHistory", a.specHistory, b.specHistory),
      diff("statsCols", a.statsCols, b.statsCols),
      diff("bloomCols", a.bloomCols, b.bloomCols),
      diff("bloomItems", a.bloomItems, b.bloomItems),
      diff("bloomFpp", a.bloomFpp, b.bloomFpp),
      diff("bucketBounds", a.bucketBounds, b.bucketBounds),
      diff("dataBucketCols", a.dataBucketCols, b.dataBucketCols),
      diff("dataBuckets", a.dataBuckets, b.dataBuckets),
      diff("colAliases", a.colAliases, b.colAliases)) ++
      // the merge-on-read resolution spec matters only to writers that
      // RESOLVE (merges must re-check theirs against a concurrently
      // fixed spec); row-identical rewrites (compact) don't care, and
      // the only possible transition — the FIRST delta fixing the spec
      // — is exactly the concurrent publish they must tolerate
      (if (checkMorSpec) Seq(
        diff("morKeys", a.morKeys, b.morKeys),
        diff("morVersionCol", a.morVersionCol, b.morVersionCol))
       else Nil)
    val hit = changed.flatten
    if (hit.isEmpty) None
    else Some(s"table-level change between v${a.version} and " +
      s"v${b.version}: ${hit.mkString(", ")}")
  }

  /** A copy-on-write rewrite's conflict rule: a rel it read or
    * replaces changed state (base generation or pending-delta list)
    * between snapshot `m0` and the live `m1`. A rel absent from the
    * snapshot counts too — one a concurrent commit CREATED would
    * otherwise be silently replaced at publish. */
  private def movedRels(m0: ManifestMeta, m1: ManifestMeta,
                        rels: Seq[String]): Option[String] = {
    val moved = rels.sorted.filter(r =>
      m0.entries.get(r) != m1.entries.get(r) ||
        m0.deltas.getOrElse(r, Nil) != m1.deltas.getOrElse(r, Nil))
    if (moved.isEmpty) None
    else Some("concurrent commit moved touched partition(s) " +
      moved.take(5).mkString(", "))
  }

  /** What [[stage]] derived from a writer's tmp tree before any rename:
    * the produced partition rels and their published metadata. */
  private final case class Staged(
      fs: TableFs, tmpDir: String, produced: Seq[String],
      stats: Map[String, Skipping.Bounds],
      fileStats: Map[String, Map[String, Skipping.Bounds]],
      blooms: Map[String, Map[String, String]],
      bytes: Map[String, Long])

  /** THE staging step of every manifest data write: `write` lands
    * `data` in a writer-unique tmp tree (heartbeat while it lives — see
    * [[withTmpHeartbeat]] — and deleted on every exit), then the
    * published metadata derives from the tree BEFORE any rename
    * scatters it: the produced rels (one outside `expected` means the
    * Cast rendering and the writer disagreed — fail before
    * publishing), one footer walk for bytes and stats (no data rescan;
    * see [[scanTmpTree]]), the bloom aggregate unless `blooms` is off,
    * and with `verifyRows` the row count observed on the write itself
    * checked against the footers. `use` runs while the tree exists —
    * the publish renames out of it. `m` supplies only the schema and
    * the stats/bloom config. */
  private def stage[T](spark: SparkSession, path: String, m: ManifestMeta,
                       op: String, data: DataFrame,
                       expected: Option[Set[String]],
                       verifyRows: Boolean = false,
                       blooms: Boolean = true)
                      (write: (DataFrame, String) => Unit)
                      (use: Staged => T): T = {
    val fs = TableFs(spark, path)
    val tmpDir = uniqueTmpDir(path)
    try withTmpHeartbeat(fs, tmpDir) {
      lazy val obs = org.apache.spark.sql.Observation()
      write(if (verifyRows) data.observe(obs, count(lit(1)).as("n")) else data,
        tmpDir)
      val produced = listPartitionRels(fs, new Path(tmpDir))
      val unexpected = expected.fold(Seq.empty[String])(produced.filterNot)
      require(unexpected.isEmpty,
        s"$op: writer produced partition dirs ${unexpected.mkString(",")} " +
          "outside the expected set — partition rendering mismatch")
      val scan = scanTmpTree(spark, fs, m, tmpDir, produced)
      if (verifyRows) {
        val n0 = obs.get("n").asInstanceOf[Long]
        require(scan.rows == n0,
          s"$op would lose rows: $n0 -> ${scan.rows}; aborting")
      }
      val (stats, fileStats) = statsFromScan(spark, m, tmpDir, scan)
      use(Staged(fs, tmpDir, produced, stats, fileStats,
        if (blooms) bloomsUnder(spark, m, tmpDir) else Map.empty,
        scan.bytes))
    } finally { fs.delete(new Path(tmpDir), true); () }
  }

  /** Runs between staging and the commit lease with the table path — a
    * no-op. Tests set it to land a concurrent commit at exactly that
    * point, deterministically. */
  @volatile private[operators] var beforeCommitLease: String => Unit =
    _ => ()

  /** The commit step's lease: take the maintenance lease, re-read the
    * live manifest (`m0` itself when no version landed since) and run
    * `body` against it. */
  private def underLease[T](spark: SparkSession, path: String,
                            m0: ManifestMeta)(body: ManifestMeta => T): T = {
    beforeCommitLease(path)
    withMaintenanceLock(spark, path, lockWaitMs(spark)) {
      val v1 = manifestVersion(spark, path).get
      body(if (v1 == m0.version) m0 else readManifestMeta(spark, path, v1))
    }
  }

  /** A writer's side of one [[commit]] attempt: what to [[stage]], its
    * own conflict rule against the live manifest (beyond the table
    * invariants every commit checks), its publish body (the next
    * manifest from the live one; [[commit]] numbers it and records the
    * sink marker), and the writer's result once published. */
  private final case class Plan[T](
      data: DataFrame, expected: Set[String],
      write: (DataFrame, String) => Unit,
      publish: (ManifestMeta, Staged) => ManifestMeta,
      result: T,
      conflict: ManifestMeta => Option[String] = (_: ManifestMeta) => None,
      verifyRows: Boolean = false)

  private val MaxCommitAttempts = 3

  /** THE optimistic commit of the partition-scoped manifest writers
    * (see the section note above). Each attempt reads snapshot m0 and
    * applies the writer's STRUCTURAL refusals (`refuse`) BEFORE the
    * replay short-circuit — a write that is never valid on the table
    * must not silently no-op because a legitimate writer left a marker
    * under the same `sinkId` — then returns None for a replayed
    * `batchId`. `plan` validates against m0 and describes the write
    * (Left: done, nothing to write). The staged write commits under
    * [[underLease]]: a replay that landed meanwhile returns None; a
    * changed table invariant or the writer's conflict rule counts in
    * [[commitConflicts]] and retries from a fresh snapshot; anything
    * else publishes. Fails loudly after [[MaxCommitAttempts]]
    * conflicts, naming `op`. */
  private def commit[T](spark: SparkSession, path: String, op: String,
                        refuse: ManifestMeta => Unit = _ => (),
                        batchId: Long = -1L, sinkId: String = "",
                        checkMorSpec: Boolean = true)
                       (plan: ManifestMeta => Either[T, Plan[T]]): Option[T] = {
    var attempt = 0
    var lastConflict = ""
    while (attempt < MaxCommitAttempts) {
      attempt += 1
      val m0 = readManifestMeta(spark, path, liveVersion(spark, path))
      refuse(m0)
      if (replayedSinkBatch(path, m0, batchId, sinkId)) return None
      plan(m0) match {
        case Left(done) => return Some(done)
        case Right(p) =>
          def publish(m1: ManifestMeta, st: Staged): Option[T] = {
            val next = p.publish(m1, st)
            writeManifestMeta(spark, path, next.copy(version = m1.version + 1,
              sinkBatches =
                if (batchId >= 0) next.sinkBatches + (sinkId -> batchId)
                else next.sinkBatches))
            Some(p.result)
          }
          val outcome: Either[String, Option[T]] = stage(spark, path, m0, op,
              p.data, Some(p.expected), p.verifyRows)(p.write) { st =>
            underLease(spark, path, m0) { m1 =>
              if (m1.version == m0.version) Right(publish(m1, st))
              else if (replayedSinkBatch(path, m1, batchId, sinkId)) Right(None)
              else invariantsChanged(m0, m1, checkMorSpec)
                .orElse(p.conflict(m1)).toLeft(publish(m1, st))
            }
          }
          outcome match {
            case Right(result) => return result
            case Left(reason) =>
              commitConflicts.incrementAndGet()
              lastConflict = reason // retry fresh
          }
      }
    }
    throw new IllegalStateException(
      s"$op on $path: commit conflicted $MaxCommitAttempts times " +
        s"(last: $lastConflict) — concurrent writers keep changing what " +
        "it depends on; serialize them, split the batch by partition, " +
        "or run it off the write peak")
  }

  /** Publish body of the copy-on-write rewrites ([[mergeManifest]],
    * [[migrateManifestPartitions]]): the produced rels land as fresh
    * generations and REPLACE every rel in `touched` — a touched rel
    * that produced nothing (fully deleted, or an old-era rel whose rows
    * migrated into current-spec gens) leaves the manifest, and pending
    * deltas are gone (the rewrite folded them in). `specHistory`
    * prunes to the eras that still hold live rels, so draining an
    * era's LAST partition leaves a clean single-spec table (the spec-
    * debt dashboard, the budgeted drain's convergence check and
    * repartitionManifest's "nothing left" guard all read it). Sound
    * only when no touched rel moved since the snapshot
    * ([[movedRels]]). */
  private def replaceRels(path: String, touched: Seq[String], op: String)
                         (m1: ManifestMeta, st: Staged): ManifestMeta = {
    val newGens = publishGens(st.fs, path, st.tmpDir, m1, st.produced)
    val removed = touched.filterNot(newGens.contains)
    val entries = m1.entries -- removed ++ newGens
    val deltas = m1.deltas -- touched
    val liveOld = (entries.keySet ++ deltas.keySet).map(specOfRel)
      .filterNot(_ == m1.partitionCols)
    m1.copy(entries = entries, deltas = deltas,
      stats = m1.stats -- removed ++ st.stats,
      blooms = m1.blooms -- removed ++ st.blooms,
      bytes = m1.bytes -- removed ++ st.bytes,
      // every touched rel's files were rewritten wholesale: replace
      // their per-file entries, drop the vanished
      fileStats = m1.fileStats -- touched ++
        genKeyedFileStats(st.fileStats, newGens),
      specHistory = m1.specHistory.filter(liveOld.contains),
      op = op, opDeletes = false)
  }

  /** Publish body of the delta writers ([[appendManifest]],
    * [[mergeManifestDelta]]): each produced rel lands as a new delta
    * generation appended to its LIVE delta list (deltas that landed
    * concurrently stay ahead of it); stats and blooms widen
    * monotonically against the live ones (which already cover those
    * deltas — the driver-side widen is bounded by the touched
    * partition count), and the delta files ADD to the rel's per-file
    * entries (the base generation's stay valid — nothing rewrote
    * it). */
  private def appendDeltas(spark: SparkSession, path: String)
                          (m1: ManifestMeta, st: Staged): ManifestMeta = {
    val newGens = publishGens(st.fs, path, st.tmpDir, m1, st.produced)
    m1.copy(
      deltas = m1.deltas ++ newGens.map { case (rel, g) =>
        rel -> (m1.deltas.getOrElse(rel, Nil) :+ g) },
      stats = widenStats(spark, m1, st.stats),
      blooms = widenBlooms(m1.blooms, st.blooms),
      fileStats = m1.fileStats ++
        genKeyedFileStats(st.fileStats, newGens).map { case (rel, files) =>
          rel -> (m1.fileStats.getOrElse(rel, Map.empty) ++ files) },
      op = "delta", opDeletes = false)
  }

  /** The distinct partition rels `df`'s rows name under `spec`,
    * rendered through Spark's own Cast (writer-exact dir fragments) —
    * one collect bounded at `max`: past it the write refuses with
    * `tooMany` (a truncated set could let rows escape the produced-
    * dirs guard and the conflict check). */
  private def batchRels(df: DataFrame, spec: Seq[String], max: Int,
                        tooMany: => String): Set[String] = {
    val rows = df.select(spec.map(c => col(c).cast("string").as(c)): _*)
      .distinct().limit(max + 1).collect()
    require(rows.length <= max, tooMany)
    rows.map(relOf(spec, _)).toSet
  }

  /** The old-era rels (partitions still under a PRIOR partition spec —
    * [[changeManifestPartitionSpec]]) that a keyed batch's rows name:
    * each prior spec renders from the batch's own values (a key's
    * partition values are immutable — the standing merge contract,
    * spanning eras). Only specs with LIVE rels: a fully-migrated era may
    * reference a column since dropped/renamed — selecting it from the
    * batch would throw on every merge even though no partition needs
    * it. */
  private def priorSpecRels(m0: ManifestMeta, updates: DataFrame,
                            max: Int): Seq[String] = {
    val eraRels = m0.allRels.filter(specOfRel(_) != m0.partitionCols).toSet
    val eraSpecs = eraRels.map(specOfRel)
    m0.specHistory.distinct.filter(eraSpecs.contains).flatMap { spec =>
      batchRels(updates, spec, max,
        s"update batch touches > $max prior-spec (${spec.mkString(",")}) " +
          "partitions; split the batch or repartitionManifest to finish " +
          "the migration").filter(eraRels.contains)
    }.distinct.sorted
  }

  /** The structural refusal of keyed writes on a DECLARED append-only
    * table. */
  private def requireKeyed(path: String, m: ManifestMeta): Unit =
    require(!m.appendOnly,
      s"$path is a DECLARED append-only table: keyed merges (updates/" +
        "deletes) are structurally inexpressible on it — appendManifest " +
        "is the only write path")

  /** The streaming-sink exactly-once guard shared by [[mergeManifest]]
    * and [[mergeManifestDelta]]: true = this batch id equals the
    * recorded marker of its `sinkId` namespace — a checkpoint replay,
    * skip quietly. An id BELOW the marker is not a replay (the engine
    * only ever re-issues the last uncommitted batch): it means a fresh
    * checkpoint was pointed at this table, a second writer shares the
    * namespace, or the query's id scheme changed — silently dropping
    * the batch would be data loss, so it fails loudly instead. */
  private def replayedSinkBatch(path: String, m: ManifestMeta,
                                batchId: Long, sinkId: String): Boolean = {
    if (batchId < 0) false
    else {
      val marker = m.sinkBatch(sinkId)
      if (batchId < marker) throw new IllegalStateException(
        s"manifest sink on $path: batch id $batchId is BEHIND the " +
          s"recorded marker $marker of sink namespace '$sinkId' — more " +
          "than a checkpoint replay (the engine only re-issues the last " +
          "batch). This happens when a fresh checkpoint is pointed at " +
          "an existing table, a second writer shares the namespace, or " +
          "the query's id scheme changed; refusing to silently drop " +
          "the batch. Use a distinct sinkId per independent writer, or " +
          "seed a fresh table for a fresh checkpoint")
      batchId == marker
    }
  }

  /** Rewrite `sinkId`'s exactly-once marker to `marker` — ONE
    * metadata-only publish (no generation changes; op "evolve" keeps
    * append feeds transparent and the change feed diffs to nothing).
    * The upgrade shim for pre-round-13 changeTypeCol checkpoints whose
    * markers used the doubled 2*batchId(+1) encoding — see
    * [[graft.plans.ManifestProvider]]'s legacy-marker migration. */
  private[graft] def rewriteSinkMarker(spark: SparkSession, path: String,
                                       sinkId: String,
                                       marker: Long): Unit =
      withMaintenanceLock(spark, path, lockWaitMs(spark)) {
    val v = liveVersion(spark, path)
    val m = readManifestMeta(spark, path, v)
    writeManifestMeta(spark, path, m.copy(version = v + 1,
      sinkBatches =
        if (marker < 0) m.sinkBatches - sinkId
        else m.sinkBatches + (sinkId -> marker),
      op = "evolve", opDeletes = false))
  }

  /** The rows of a RETAINED manifest version restricted to the given
    * partition rel-paths, pending merge-on-read deltas resolved — the
    * snapshot-CHUNK read of the chunked CDC backfill
    * ([[graft.streaming.ManifestFeedSource]]): each chunk opens only
    * its own partitions' generation dirs, so a paced initial snapshot
    * costs O(|chunk|) per batch however large the table. Unknown rels
    * are simply absent (an empty chunk reads as zero rows). */
  def readManifestRelsOf(spark: SparkSession, path: String, version: Int,
                         rels: Seq[String]): DataFrame = {
    val m = readManifestMeta(spark, path, version)
    readResolved(spark, path, m, rels.filter(r =>
      m.entries.contains(r) || m.deltas.contains(r)))
  }

  /** [[merge]] re-expressed under the manifest discipline: latest-wins
    * keyed upsert (+ CDC tombstones via `deleteCol`) onto the manifest
    * table at `path`, copy-on-write at PARTITION granularity — only the
    * batch's partitions are read (their live gen dirs, no predicate
    * needed: pruning is directory-level by construction) and rewritten
    * as next-generation dirs, then ONE atomic pointer rename publishes
    * the new snapshot. Concurrent readers keep whichever snapshot they
    * resolved — the rename-aside reader window of partitioned [[merge]]
    * does not exist here. Same contracts as [[merge]]: update rows must
    * not move keys across partitions; apply batches in version order
    * (deletes keep no tombstones); schema drift fails loudly.
    *
    * `batchId` (>= 0) is the streaming-sink exactly-once guard: the id
    * records in the published manifest under the `sinkId` namespace; an
    * id EQUAL to the recorded one returns false without touching the
    * table (a checkpoint-replayed micro-batch is a no-op instead of a
    * duplicate publish), an id BELOW it throws — an id sequence can
    * only regress when a FRESH checkpoint was pointed at an existing
    * table, a second writer shares the namespace, or the query's id
    * scheme changed; silently dropping such a batch would be data
    * loss. Independent writers pass distinct `sinkId`s. `forceWins`
    * makes the batch authoritative over the base regardless of
    * versionCol (net snapshot diffs — see [[latestWins]]). Returns
    * true when the merge applied.
    *
    * CONCURRENCY: optimistic — the read + rewrite runs without the
    * maintenance lease; the commit re-reads the live manifest and
    * rebases onto concurrent publishes that did not move this merge's
    * touched partitions, retrying from a fresh snapshot (bounded)
    * when they did. CDC ingest and maintenance overlap instead of
    * serializing (see the optimistic-commit section above).
    */
  def mergeManifest(spark: SparkSession, path: String, updates: DataFrame,
                    keys: Seq[String], versionCol: String,
                    maxTouchedPartitions: Int = 10000,
                    deleteCol: Option[String] = None,
                    batchId: Long = -1L,
                    sinkId: String = "",
                    forceWins: Boolean = false): Boolean = {
    require(keys.nonEmpty, "mergeManifest needs at least one key column")
    require(!keys.contains(versionCol), "versionCol cannot be a key")
    // OPTIMISTIC: all reads, validation and the data write run against
    // snapshot m0 WITHOUT the lease; only the commit takes it
    commit(spark, path, "mergeManifest", refuse = requireKeyed(path, _),
        batchId = batchId, sinkId = sinkId) { m0 =>
      val pcols = m0.partitionCols
      require(pcols.forall(updates.columns.contains),
        "update batch must carry the partition columns " +
          pcols.mkString(","))
      deleteCol.foreach(d => require(updates.columns.contains(d),
        s"update batch must carry the delete flag column '$d'"))
      // touched partitions: bounded by the BATCH's partition count
      val touchedRels = batchRels(updates, pcols, maxTouchedPartitions,
        s"update batch touches > $maxTouchedPartitions partitions; " +
          "split the batch or raise maxTouchedPartitions")
      if (m0.morKeys.nonEmpty)
        require(m0.morKeys == keys && m0.morVersionCol.contains(versionCol),
          s"merge spec mismatch: this table resolves merge-on-read deltas " +
            s"by keys=${m0.morKeys.mkString(",")} / version=" +
            s"${m0.morVersionCol.getOrElse("")}; a merge with " +
            s"keys=${keys.mkString(",")} / version=$versionCol would apply " +
            "different semantics to the same table")
      // METADATA-ONLY SPEC EVOLUTION ([[changeManifestPartitionSpec]]):
      // a key whose row predates the current spec lives in an OLD-ERA
      // partition. Those partitions fold into this rewrite and MIGRATE
      // to the current spec: the merge was rewriting them anyway, so
      // the mixed-spec debt shrinks with every batch. The rows they
      // contribute can land OUTSIDE the batch's own partitions — one
      // narrow pre-scan over just the old-era touched partitions
      // derives the landing set, keeping the produced-dirs guard and
      // conflict detection exact.
      val oldEraTouched = priorSpecRels(m0, updates, maxTouchedPartitions)
      val landingRels: Set[String] =
        if (oldEraTouched.isEmpty) Set.empty
        else batchRels(readResolved(spark, path, m0, oldEraTouched), pcols,
          maxTouchedPartitions,
          s"migrating old-era partition(s) ${oldEraTouched.take(3)
            .mkString(", ")} would land in > $maxTouchedPartitions " +
            "current-spec partitions; repartitionManifest is the " +
            "right tool for this migration")
      val expectedProduced = touchedRels ++ landingRels
      val allTouched = (expectedProduced ++ oldEraTouched).toSeq.sorted
      val baseRels = allTouched.filter(r =>
        m0.entries.contains(r) || m0.deltas.contains(r))
      // stored-schema-aligned window read with any pending merge-on-read
      // deltas resolved in-plan — a copy-on-write merge FOLDS the
      // touched partitions' deltas into the generation it writes
      val base = readResolved(spark, path, m0, baseRels)
      // ONE shuffle for resolve + layout on unbucketed tables: the
      // tagged union pre-partitions by the partition columns, the
      // latest-wins window rides that clustering (see latestWins),
      // and the partitioned write needs no second repartition.
      // Bucketed tables keep the two-step path — the bucket-id dir
      // column is not a function of the window keys.
      //
      // SKEW GUARD (r17 verdict item 7): clustering the window by
      // the partition columns concentrates a hot landing partition's
      // entire latest-wins sort in ONE task (§2.5 skew, §5 spill).
      // The manifest's own per-rel bytes metadata prices that for
      // free: when the largest touched base rel exceeds 16 x
      // spark.sql.adaptive.advisoryPartitionSizeInBytes (1 GiB at
      // the 64 MB default — past it the single sort task dominates
      // the stage against advisory-sized peers), fall back to the
      // two-exchange path: the window's own (pcols ++ keys) exchange
      // spreads the sort across tasks, then cluster for the write.
      // Winners are identical on every route (LayoutSpec pins result
      // equality); only the exchange count differs.
      val hotRelBytes = 16L * spark.sessionState.conf.getConf(
        org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      val oneShuffle = m0.dataBuckets == 0 &&
        baseRels.flatMap(m0.bytes.get).foldLeft(0L)(math.max) <= hotRelBytes
      Right(Plan(
        latestWins(base, updates, pcols, keys, versionCol, deleteCol,
          forceWins, clusterParts = if (oneShuffle) shufflePartitions(spark) else 0),
        expectedProduced,
        write = (merged, tmpDir) =>
          if (oneShuffle)
            merged.write.mode(SaveMode.Overwrite)
              .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
              .partitionBy(pcols: _*).parquet(tmpDir)
          else clusteredWrite(spark, merged, tmpDir, pcols,
            m0.dataBucketCols, m0.dataBuckets),
        publish = replaceRels(path, allTouched, "merge"),
        result = true,
        // a concurrent commit that rewrote a partition this merge read
        // makes the latest-wins result stale — retry from fresh
        conflict = movedRels(m0, _, allTouched)))
    }.getOrElse(false)
  }

  /** Widen existing per-partition stats with `add` (the stats of a
    * just-written delta generation) MONOTONICALLY: new min/max covers
    * both the old generation set and the delta, so data-skipping
    * pruning stays sound while the base is never read. Deletes can
    * leave the widened bounds looser than the live rows until
    * [[foldManifestDeltas]] recomputes them exactly — looser bounds
    * only ever read more, never less. A driver fold through
    * [[Skipping.Rollup]] (a None side yields the other side's bound),
    * bounded by the touched partition count. */
  private def widenStats(spark: SparkSession, m: ManifestMeta,
                         add: Map[String, Skipping.Bounds]):
      Map[String, Skipping.Bounds] =
    if (m.statsCols.isEmpty) m.stats
    else {
      val rollup = Skipping.rollup(spark, m)
      m.stats ++ add.map { case (rel, st) =>
        rel -> rollup(Seq(m.stats.getOrElse(rel, Map.empty), st)) }
    }

  /** Pure APPEND onto a DECLARED append-only manifest table (seeded
    * with `appendOnly = true`): the batch lands as spec-less delta
    * generations — O(|batch|), the base never read — and reads union
    * them in (no resolution exists; every row is live forever). The
    * structural twin of [[mergeManifestDelta]] for tables where
    * updates and deletes must be INEXPRESSIBLE (event/fact feeds):
    * keyed merges refuse on such tables, so downstream consumers
    * (sketch IVM syncs, the appends feed) can derive append-only-ness
    * from the manifest instead of trusting a caller assertion.
    * `batchId`/`sinkId`: the usual exactly-once guard. Returns true
    * when the append applied. */
  def appendManifest(spark: SparkSession, path: String,
                     rows: DataFrame,
                     maxTouchedPartitions: Int = 10000,
                     batchId: Long = -1L,
                     sinkId: String = ""): Boolean =
    commit(spark, path, "appendManifest", batchId = batchId, sinkId = sinkId,
        refuse = m0 => require(m0.appendOnly,
          s"$path is not a declared append-only table: appends without a " +
            "merge spec would bypass latest-wins resolution — seed with " +
            "appendOnly = true, or use mergeManifestDelta with keys")) { m0 =>
      val pcols = m0.partitionCols
      require(pcols.forall(rows.columns.contains),
        "append batch must carry the partition columns " +
          pcols.mkString(","))
      Seq("gen", MorDel, MorSeq).foreach(c =>
        require(!rows.columns.contains(c),
          s"'$c' is reserved by the manifest layout; rename the column"))
      val sch = manifestSchema(m0)
      requireBatchColumns("appendManifest", sch.fieldNames.toSeq,
        rows.columns.toSeq)
      // TYPES, not just names: writing the batch's own types would
      // publish a generation every subsequent read (which requests the
      // stored schema) fails to decode — a deferred failure poisoning
      // the table until the generation is removed by hand. Exact or
      // provably-lossless up-casts are written AS the stored type;
      // anything else fails loudly NOW (the other write paths' loud
      // schema contract).
      val badTypes = sch.fields.toSeq.flatMap { f =>
        val got = rows.schema(f.name).dataType
        if (got == f.dataType ||
            org.apache.spark.sql.catalyst.expressions.Cast
              .canUpCast(got, f.dataType)) None
        else Some(s"${f.name}: batch ${got.sql} vs stored ${f.dataType.sql}")
      }
      require(badTypes.isEmpty,
        s"appendManifest: batch column type(s) do not match the stored " +
          s"schema — ${badTypes.mkString("; ")}; cast the batch " +
          "explicitly (only lossless up-casts are applied implicitly)")
      val touchedRels = batchRels(rows, pcols, maxTouchedPartitions,
        s"append batch touches > $maxTouchedPartitions partitions; " +
          "split the batch or raise maxTouchedPartitions")
      Right(Plan(
        // cast (validated lossless above) so the landed files carry
        // exactly the stored types
        rows.select(sch.fields.toSeq.map(f =>
          col(f.name).cast(f.dataType).as(f.name)): _*),
        touchedRels,
        write = clusteredWrite(spark, _, _, pcols, Nil, 0),
        publish = appendDeltas(spark, path),
        result = true))
    }.getOrElse(false)

  /** MERGE-ON-READ variant of [[mergeManifest]]: the CDC batch is
    * appended as a pending DELTA generation for each touched partition
    * — the base is NEVER read, so a merge costs O(|batch|) regardless
    * of how many partitions it scatters across (copy-on-write pays a
    * full read + rewrite of every touched partition: the wrong cost
    * shape for small scattered updates on a 100 TB table). Every read
    * path ([[readManifest]], time travel, [[readManifestPruned]])
    * resolves base + pending deltas latest-wins in-plan, paying one
    * window shuffle over ONLY the delta-bearing partitions;
    * [[foldManifestDeltas]] folds deltas back into single base
    * generations on a maintenance schedule, bounding the read tax.
    *
    * The resolution spec (keys, versionCol) is fixed by the first
    * delta merge and stored in the manifest — readers resolve with no
    * caller input, and later merges (delta or copy-on-write) must
    * match it. Same contracts as [[mergeManifest]]: update rows must
    * not move keys across partitions; apply batches in version order
    * (within a version, the later delta batch wins ties); schema
    * drift fails loudly; tombstones via `deleteCol` (persisted
    * normalized, so batches may pass different flag columns). Stats
    * widen monotonically (see [[widenStats]]) — pruning stays sound,
    * a fold re-tightens. `batchId` (>= 0) is the streaming-sink
    * exactly-once guard (see [[mergeManifest]]): a replayed id returns
    * false and publishes nothing, so feed consumers never see a
    * duplicate delta generation. Returns true when the delta applied.
    */
  def mergeManifestDelta(spark: SparkSession, path: String,
                         updates: DataFrame, keys: Seq[String],
                         versionCol: String,
                         maxTouchedPartitions: Int = 10000,
                         deleteCol: Option[String] = None,
                         batchId: Long = -1L,
                         sinkId: String = ""): Boolean = {
    require(keys.nonEmpty, "mergeManifestDelta needs at least one key")
    require(!keys.contains(versionCol), "versionCol cannot be a key")
    // OPTIMISTIC, and maximally rebase-friendly: a delta publish
    // depends only on TABLE invariants (schema, partitioning, the
    // resolution spec) — its data never reads the base, so commits
    // that landed concurrently on the SAME partitions rebase cleanly
    // (our delta gens simply append to the live delta lists)
    commit(spark, path, "mergeManifestDelta", batchId = batchId,
        sinkId = sinkId, refuse = { m0 =>
      requireKeyed(path, m0)
      require(m0.dataBuckets == 0,
        s"$path is a data-bucketed manifest table: merge-on-read delta " +
          "generations would land files outside the bucket naming + " +
          "placement contract every bucketed scan assumes — bucketed " +
          "tables are copy-on-write; use mergeManifest (SQL DML routes " +
          "there; streaming sinks: set .option(\"mor\", \"false\"))")
    }) { m0 =>
      if (m0.morKeys.nonEmpty)
        require(m0.morKeys == keys && m0.morVersionCol.contains(versionCol),
          s"merge spec mismatch: this table resolves merge-on-read deltas " +
            s"by keys=${m0.morKeys.mkString(",")} / version=" +
            s"${m0.morVersionCol.getOrElse("")}; refusing " +
            s"keys=${keys.mkString(",")} / version=$versionCol")
      val pcols = m0.partitionCols
      require(pcols.forall(updates.columns.contains),
        "update batch must carry the partition columns " + pcols.mkString(","))
      deleteCol.foreach(d => require(updates.columns.contains(d),
        s"update batch must carry the delete flag column '$d'"))
      Seq("gen", MorDel, MorSeq).foreach(c =>
        require(!updates.columns.contains(c),
          s"'$c' is reserved by the manifest layout; rename the column"))
      val sch = manifestSchema(m0)
      val baseCols = sch.fieldNames.toSeq
      requireBatchColumns("mergeManifestDelta", baseCols,
        updates.columns.toSeq, deleteCol)
      require(keys.forall(baseCols.contains) && baseCols.contains(versionCol),
        "keys and versionCol must be base table columns")
      val touchedRels = batchRels(updates, pcols, maxTouchedPartitions,
        s"update batch touches > $maxTouchedPartitions partitions; " +
          "split the batch or raise maxTouchedPartitions")
      // METADATA-ONLY SPEC EVOLUTION: merge-on-read resolution is
      // per-partition (the window spans one rel's base + deltas), so a
      // delta whose key still lives in an UNMIGRATED old-era partition
      // would never meet its base row — the key would duplicate.
      // Refuse exactly those batches; batches entirely over new/
      // migrated keys keep the O(batch) path.
      val overlap = priorSpecRels(m0, updates, maxTouchedPartitions)
      require(overlap.isEmpty,
        s"mergeManifestDelta on $path: the batch overlaps " +
          s"prior-spec partition(s) ${overlap.take(5).mkString(", ")}" +
          s"${if (overlap.size > 5) ", …" else ""} not yet migrated " +
          "to the current partition spec — per-partition " +
          "resolution cannot span spec eras. Apply this batch with " +
          "mergeManifest (copy-on-write migrates those partitions " +
          "on touch), or run repartitionManifest to finish the " +
          "migration")
      val del = deleteCol.map(col(_).cast("boolean")).getOrElse(lit(false))
      // record whether this batch carries ANY delete row — observed on
      // the write job itself (zero extra passes), published as the
      // version's `opDeletes` flag so append-only feed consumers can
      // refuse delete-bearing versions without re-reading the files
      val delObs = org.apache.spark.sql.Observation()
      val flagged = updates.withColumn(MorDel, coalesce(del, lit(false)))
        .select((sch.fields.map(f => col(f.name)) :+ col(MorDel)).toSeq: _*)
      Right(Plan(
        if (deleteCol.isEmpty) flagged
        else flagged.observe(delObs, max(col(MorDel)).as("anydel")),
        touchedRels,
        // one delta file per touched partition (the whole point of a
        // delta is to be small; 32 shards of a 15k-row batch are not)
        write = clusteredWrite(spark, _, _, pcols, Nil, 0),
        publish = (m1, st) => appendDeltas(spark, path)(m1, st).copy(
          morKeys = keys, morVersionCol = Some(versionCol),
          morDeleteCol = m1.morDeleteCol.orElse(deleteCol),
          opDeletes = deleteCol.nonEmpty &&
            Option(delObs.get("anydel")).contains(true)),
        result = true))
    }.getOrElse(false)
  }

  /** Fold every pending merge-on-read delta into its partition's base:
    * the delta-bearing partitions resolve latest-wins (exactly the
    * read path's semantics — fold can never disagree with what readers
    * already saw) and rewrite as single next-generation dirs behind
    * ONE manifest publish; their delta lists clear and their stats
    * recompute EXACTLY (re-tightening [[widenStats]]' monotonic
    * bounds). Untouched partitions keep their generations. Pinned
    * readers keep their snapshot; superseded base + delta dirs reap
    * after drain. Count-verified before publish. `sortCols` sorts each
    * folded partition's file (the [[compactManifest]] sorted-rewrite
    * discipline — fold is the natural place to re-tighten row-group
    * stats too).
    *
    * CONCURRENCY: the fold is optimistic — the rewrite runs without the
    * maintenance lease, and at commit each partition whose state a
    * concurrent writer moved is simply SKIPPED (a fold is a
    * row-identical optimization; skipping is always sound, the next
    * fold catches up). Deltas that landed on a folding partition
    * mid-rewrite survive the commit as still-pending (the folded base
    * covers exactly the deltas it read); such a partition keeps its
    * widened stats until a later fold re-tightens them. Returns the
    * folded-and-committed partition rel-paths. */
  def foldManifestDeltas(spark: SparkSession, path: String,
                         sortCols: Seq[String] = Nil,
                         only: Seq[String] = Nil): Seq[String] = {
    val v = liveVersion(spark, path)
    val m = readManifestMeta(spark, path, v)
    require(sortCols.forall(manifestSchema(m).fieldNames.contains),
      s"sortCols ${sortCols.mkString(",")} must be table columns")
    // `only` restricts the fold to the named partitions (a policy
    // node folding exactly the rels whose delta depth crossed its
    // threshold); unfolded rels keep their pending deltas untouched
    val rels = (if (only.isEmpty) m.deltas.keys
                else m.deltas.keys.filter(only.contains)).toSeq.sorted
      // old-era rels (append-only tables can carry spec-less deltas
      // across a spec change) are FROZEN: folding them would migrate
      // rows into current-spec dirs, which is repartitionManifest's
      // job — their plain-union reads stay exact unfolded
      .filter(rel => m.specHistory.isEmpty ||
        specOfRel(rel) == m.partitionCols)
    if (rels.isEmpty) Nil
    else stage(spark, path, m, "foldManifestDeltas",
        readResolved(spark, path, m, rels), Some(rels.toSet),
        verifyRows = true)(clusteredWrite(spark, _, _, m.partitionCols, Nil, 0,
          sortTail = sortCols.map(col))) { st =>
      underLease(spark, path, m) { m1 =>
        if (m1.version != m.version) invariantsChanged(m, m1).foreach(reason =>
          throw new IllegalStateException(
            s"foldManifestDeltas on $path: $reason landed mid-fold; " +
              "re-run after the table-level change settles"))
        // a rel commits iff its base entry did not move AND its delta
        // list still starts with exactly what this fold resolved —
        // deltas a concurrent writer APPENDED survive as pending on
        // top of the folded base (that equals fold-then-delta);
        // anything else (another fold/merge/compact won the race)
        // skips: its tmp output is simply never renamed
        val committable = rels.filter { rel =>
          m1.entries.get(rel) == m.entries.get(rel) &&
            m1.deltas.getOrElse(rel, Nil).startsWith(m.deltas(rel))
        }
        if (committable.isEmpty) Nil
        else {
          val producedCommit = st.produced.filter(committable.contains)
          val newGens = publishGens(st.fs, path, st.tmpDir, m1, producedCommit)
          // survivors: deltas appended after this fold's snapshot
          val survivors = committable.map(rel =>
            rel -> m1.deltas.getOrElse(rel, Nil)
              .drop(m.deltas(rel).size)).toMap
          // a rel whose fold produced no base output drops its base
          // entry (the folded window resolved to zero rows) — fully
          // removed when nothing survived, survivors-only otherwise
          val entriesRemoved = committable.filterNot(newGens.contains)
          val fullyRemoved = entriesRemoved
            .filter(rel => survivors(rel).isEmpty)
          // exact recomputed stats/blooms apply only where NO deltas
          // survived — a survivor's rows are covered by the standing
          // widened stats (kept), never by this fold's exact ones
          val exactRels = committable.filter(rel =>
            survivors(rel).isEmpty && newGens.contains(rel)).toSet
          // per-file entries: the folded base's files replace the
          // rel's old base+folded-delta entries; a surviving delta's
          // entries (added when it landed) carry over untouched
          val newFileStats = genKeyedFileStats(st.fileStats, newGens)
          val foldedFileStats = committable.flatMap { rel =>
            val merged =
              fileStatsOfGens(m1.fileStats.getOrElse(rel, Map.empty),
                survivors(rel).toSet) ++
              newFileStats.getOrElse(rel, Map.empty)
            if (merged.isEmpty) None else Some(rel -> merged)
          }.toMap
          writeManifestMeta(spark, path, m1.copy(version = m1.version + 1,
            entries = m1.entries -- entriesRemoved ++ newGens,
            deltas = (m1.deltas -- committable) ++
              survivors.filter(_._2.nonEmpty),
            stats = m1.stats -- fullyRemoved ++
              st.stats.view.filterKeys(exactRels).toMap,
            blooms = m1.blooms -- fullyRemoved ++
              st.blooms.view.filterKeys(exactRels).toMap,
            bytes = m1.bytes -- entriesRemoved ++
              st.bytes.view.filterKeys(newGens.keySet).toMap,
            fileStats = (m1.fileStats -- committable) ++ foldedFileStats,
            op = "fold", opDeletes = false))
          producedCommit.sorted
        }
      }
    }
  }

  /** CHANGE FEED: the row-level difference between two RETAINED
    * manifest versions — every row added and removed between the
    * snapshots, tagged `_change_type` `insert` / `delete` (an update =
    * one delete + one insert). The downstream-incremental-consumption
    * primitive: a consumer remembers the last version it processed and
    * folds only what changed — feeding [[Ivm.applyDelta]] with a
    * `+1/-1` weight keeps a standing aggregate exactly in step with
    * the table (gate m53) without ever rescanning it.
    *
    * Cost shape: only partitions whose generation set CHANGED between
    * the versions are read — both sides resolve (merge-on-read deltas
    * included) and diff with one `exceptAll` each, so the work is
    * bounded by the touched partitions, never the table. A row-
    * identical rewrite (compaction, fold) changes generations but no
    * rows: its partitions scan and diff to nothing — correct, just
    * not free; consume the feed before heavy re-layout when that
    * matters. Schema evolution between the versions aligns the FROM
    * side to the TO schema (evolved columns read as typed NULLs).
    * Both versions must still be retained ([[reapManifest]] keeps
    * only the live one — run the feed before the reap). */
  def manifestChanges(spark: SparkSession, path: String,
                      fromVersion: Int, toVersion: Int): DataFrame = {
    require(fromVersion < toVersion,
      s"change feed needs fromVersion < toVersion " +
        s"(got $fromVersion >= $toVersion)")
    val mFrom = readManifestMeta(spark, path, fromVersion)
    val mTo = readManifestMeta(spark, path, toVersion)
    def state(m: ManifestMeta, rel: String): Seq[Int] = m.liveGens(rel)
    val allRels = (mFrom.entries.keySet ++ mFrom.deltas.keySet ++
      mTo.entries.keySet ++ mTo.deltas.keySet).toSeq.sorted
    val changed = allRels.filter(r => state(mFrom, r) != state(mTo, r))
    val fs = TableFs(spark, path)
    for (m <- Seq(mFrom, mTo); rel <- changed; g <- m.liveGens(rel))
      require(fs.exists(new Path(s"$path/$rel/gen=$g")),
        s"change feed over v$fromVersion..v$toVersion of $path needs " +
          s"$rel/gen=$g which is not on disk (reaped?); feeds only " +
          "reach retained generations")
    val toSchema = manifestSchema(mTo)
    def side(m: ManifestMeta): DataFrame = {
      val df = readResolved(spark, path, m,
        changed.filter(r => state(m, r).nonEmpty))
      // align to the TO schema: evolved columns null-fill on the FROM
      // side, a RENAMED column resolves through the TO side's alias
      // chain (the FROM side carries its era's name), a WIDENED column
      // casts exactly; a column the TO side dropped cannot exist
      // (evolution is add/rename/widen), so select is total
      df.select(toSchema.fields.toSeq.map { f =>
        val name =
          if (df.columns.contains(f.name)) Some(f.name)
          else mTo.colAliases.getOrElse(f.name, Nil)
            .find(df.columns.contains)
        name.fold(lit(null).cast(f.dataType).as(f.name))(n =>
          col(n).cast(f.dataType).as(f.name))
      }: _*)
    }
    val before = side(mFrom)
    val after = side(mTo)
    // ONE signed-count pass instead of two exceptAll diffs: Spark
    // compiles exceptAll to union + sum(±1) + replicate, so the
    // two-direction form scanned both snapshots TWICE and shuffled
    // twice. Tagging after=+1 / before=−1 and grouping once yields the
    // identical multiset diff — net>0 rows are inserts (×net), net<0
    // deletes (×|net|) — with half the scans and one Exchange
    // (optimization guide §2.3/§2.4; plan diff in
    // plans/r17/m52_manifest_changes_*.txt)
    val dataCols = toSchema.fieldNames.toSeq
    after.withColumn("__w", lit(1L))
      .unionByName(before.withColumn("__w", lit(-1L)))
      .groupBy(dataCols.map(col): _*)
      .agg(sum(col("__w")).as("__net"))
      .filter(col("__net") =!= 0L)
      .select(dataCols.map(col) :+
        when(col("__net") > 0, lit("insert")).otherwise(lit("delete"))
          .as("_change_type") :+
        explode(sequence(lit(1L), abs(col("__net")))).as("__dup"): _*)
      .drop("__dup")
  }

  /** The rows APPENDED to the manifest table in versions
    * `(fromVersion, toVersion]` — the INCREMENTAL read under the
    * append-only contract, and the batch body of the `manifest-feed`
    * streaming source ([[graft.streaming.ManifestFeedSource]]).
    *
    * Unlike [[manifestChanges]] (which resolves BOTH snapshots and
    * pays two `exceptAll` diffs to express arbitrary rewrites), this
    * read opens ONLY the generation dirs the window's versions ADDED —
    * O(|appended rows|) however large the table — which is exactly the
    * cost shape a standing ingest consumer needs at 100 TB. The price
    * is a contract, checked structurally per version from the
    * manifest's own provenance (`op` / `opDeletes`, no file reads):
    *
    *  - "delta" versions stream their added delta generations; a
    *    version whose batch carried delete rows fails loudly (a
    *    file-level read would surface tombstones as inserts). A delta
    *    that UPDATES an existing key re-emits the key's latest row
    *    without retracting the old one — run genuinely append-only
    *    feeds (fresh keys), or consume [[manifestChanges]] instead;
    *  - "merge" versions pass ONLY if every touched partition is NEW
    *    (pure partition-append); a copy-on-write rewrite of existing
    *    partitions fails loudly pointing at the full change feed;
    *  - "seed" emits the initial snapshot (reached only when
    *    `fromVersion = 0`);
    *  - "fold" / "compact" / "repartition" are row-identical
    *    re-layouts and "evolve" is metadata-only: they emit nothing.
    *    A fold CAN remove rows
    *    only if some pending delta carried deletes — and every
    *    delete-bearing delta version inside any feed window already
    *    fails above, while deletes wholly before `fromVersion` concern
    *    rows this window never emitted;
    *  - versions published before provenance existed (`op = ""`) fail
    *    loudly — there is nothing sound to assume about them.
    *
    * All emitted rows align to `toVersion`'s schema (evolved columns
    * null-fill on older files). Versions must still be retained — size
    * [[reapManifest]]'s `keepVersions` to the consumer's lag, or ack a
    * `_FEED` cursor so retention refuses to strand you. */
  def appendsBetween(spark: SparkSession, path: String,
                     fromVersion: Int, toVersion: Int): DataFrame =
    classifyAppends(spark, path, fromVersion, toVersion).fold(
      reason => throw new IllegalArgumentException(reason), identity)

  /** [[appendsBetween]] that REPORTS instead of throwing when the
    * window is not append-only: None when some version in it rewrote
    * or deleted rows (or predates provenance), so callers with a
    * fallback — [[Ivm.syncFromManifest]] routes to the
    * [[manifestChanges]] diff — can take the cheap path exactly when
    * it is sound. */
  def appendsBetweenOpt(spark: SparkSession, path: String,
                        fromVersion: Int, toVersion: Int):
      Option[DataFrame] =
    classifyAppends(spark, path, fromVersion, toVersion).toOption

  private def classifyAppends(spark: SparkSession, path: String,
                              fromVersion: Int, toVersion: Int):
      Either[String, DataFrame] = {
    require(fromVersion >= 0 && fromVersion <= toVersion,
      s"appendsBetween needs 0 <= fromVersion <= toVersion " +
        s"(got $fromVersion..$toVersion)")
    val mTo = readManifestMeta(spark, path, toVersion)
    val toSchema = manifestSchema(mTo)
    def aligned(df: DataFrame): DataFrame =
      df.select(toSchema.fields.toSeq.map(f =>
        (if (df.columns.contains(f.name)) col(f.name)
         else lit(null).cast(f.dataType)).as(f.name)): _*)
    // each version's meta is read ONCE and threaded to the next
    // iteration as its `prev` — 2N remote JSON reads would otherwise
    // double the metadata round trips on every paced backfill batch
    var prevMeta: Option[ManifestMeta] = None
    val perVersion: Seq[Either[String, Option[DataFrame]]] =
      ((fromVersion + 1) to toVersion).map { v =>
        val m =
          if (v == toVersion) mTo else readManifestMeta(spark, path, v)
        val prevOf = prevMeta // the (v-1) meta, read last iteration
        prevMeta = Some(m)
        def prev: ManifestMeta = prevOf.getOrElse(
          readManifestMeta(spark, path, v - 1))
        // align to the END schema AND its alias chains: files in this
        // window carry whatever names were current at their version,
        // all of which the end version's chains cover
        val mAligned = m.copy(schemaDdl = mTo.schemaDdl,
          colAliases = mTo.colAliases)
        m.op match {
          case "seed" =>
            Right(Some(aligned(
              readManifestRels(spark, path, mAligned, m.entries))))
          case "delta" if m.opDeletes =>
            Left(s"manifest feed of $path: version $v is a delta batch " +
              "carrying delete rows — the append-only feed cannot " +
              "represent them; consume manifestChanges/feedSince instead")
          case "delta" =>
            val p = prev
            val added = m.deltas.toSeq.sortBy(_._1).flatMap {
              case (rel, gens) =>
                val old = p.deltas.getOrElse(rel, Nil).toSet
                gens.filterNot(old).map(rel -> _)
            }
            Right(if (added.isEmpty) None
            else Some(aligned(readDeltaRels(spark, path, mAligned, added)
              .drop(MorDel, MorSeq))))
          case "merge" =>
            val p = prev
            val before = p.entries.keySet ++ p.deltas.keySet
            // a pre-existing partition was rewritten iff its STATE
            // changed — entry gen bumped, delta list folded/cleared, or
            // the partition removed outright; untouched partitions
            // (even ones still carrying pending deltas) are not
            // rewrites
            val rewritten = before.toSeq.sorted.filter(r =>
              p.entries.get(r) != m.entries.get(r) ||
                p.deltas.getOrElse(r, Nil) != m.deltas.getOrElse(r, Nil))
            if (rewritten.nonEmpty)
              Left(s"manifest feed of $path: version $v is a " +
                s"copy-on-write merge that rewrote existing partition(s) " +
                s"${rewritten.take(5).mkString(", ")} — the " +
                "append-only feed cannot represent rewrites; consume " +
                "manifestChanges/feedSince instead")
            else {
              val newRels =
                m.entries.view.filterKeys(!before.contains(_)).toMap
              Right(if (newRels.isEmpty) None
              else Some(aligned(
                readManifestRels(spark, path, mAligned, newRels))))
            }
          case "fold" | "compact" | "evolve" | "repartition" | "spec" =>
            Right(None)
          case "" =>
            Left(s"manifest feed of $path: version $v predates publish " +
              "provenance (no 'op' recorded) — appendsBetween cannot " +
              "prove it was an append; start the feed at a newer version")
          case other =>
            Left(s"manifest feed of $path: version $v has unknown op " +
              s"'$other'")
        }
      }
    perVersion.collectFirst { case Left(reason) => reason } match {
      case Some(reason) => Left(reason)
      case None =>
        val frames = perVersion.collect { case Right(Some(df)) => df }
        Right(
          if (frames.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              toSchema)
          else frames.reduce(_ unionByName _))
    }
  }

  private def feedCursorPath(path: String, consumer: String): Path = {
    require(consumer.nonEmpty && consumer.forall(c =>
      c.isLetterOrDigit || c == '.' || c == '_' || c == '-'),
      s"feed consumer name '$consumer' must be [A-Za-z0-9._-]+ " +
        "(it becomes a cursor file name)")
    new Path(path, s"_FEED.$consumer")
  }

  /** The durable change-feed cursor of `consumer` on the table at
    * `path`: the manifest version up to which that consumer has
    * ACKNOWLEDGED the feed. None = never consumed. */
  def readFeedCursor(spark: SparkSession, path: String,
                     consumer: String): Option[Int] =
    TableFs(spark, path).readPointer(feedCursorPath(path, consumer))
      .map(_.toInt)

  /** Every change-feed consumer of the table and its acked version
    * (the `_FEED.<name>` cursor files) — what [[reapManifest]] checks
    * before shrinking the retention window. */
  def feedConsumers(spark: SparkSession, path: String): Map[String, Int] = {
    val fs = TableFs(spark, path)
    fs.list(new Path(path))
      .filter(st => !st.isDirectory &&
        st.getPath.getName.startsWith("_FEED.") &&
        !st.getPath.getName.endsWith(".tmp"))
      .flatMap { st =>
        // a cursor deleted since the listing is no consumer any more
        fs.readPointer(st.getPath).map(v =>
          st.getPath.getName.stripPrefix("_FEED.") -> v.toInt)
      }.toMap
  }

  /** Acknowledge the feed up to `version` for `consumer` — atomic
    * tmp-write + rename, the pointer-swap discipline, so a crash mid-ack
    * leaves the OLD cursor (the consumer re-reads the increment rather
    * than losing it). Idempotent; refuses to move backwards. */
  def writeFeedCursor(spark: SparkSession, path: String,
                      consumer: String, version: Int): Unit = {
    val prev = readFeedCursor(spark, path, consumer)
    require(prev.forall(_ <= version),
      s"feed cursor of '$consumer' on $path is at v${prev.get}; " +
        s"acking v$version would move it backwards")
    TableFs(spark, path).publishPointer(feedCursorPath(path, consumer),
      version)
  }

  /** Remove `consumer`'s cursor — an abandoned consumer, or the
    * mid-snapshot retention pin ([[graft.streaming.ManifestFeedSource]]
    * writes `<name>.__snapshot`) once its backfill completed.
    * Idempotent. */
  def deleteFeedCursor(spark: SparkSession, path: String,
                       consumer: String): Unit = {
    val fs = TableFs(spark, path)
    val p = feedCursorPath(path, consumer)
    if (fs.exists(p)) { fs.delete(p, false); () }
  }

  /** The next feed increment for `consumer`: `(frame, ackVersion)` —
    * the at-least-once consumption loop over [[manifestChanges]].
    * First call (no cursor) returns the FULL live snapshot as
    * `_change_type = 'insert'` rows (the initial-load every downstream
    * needs before deltas mean anything); later calls return the net
    * changes since the acked version; a caught-up consumer gets an
    * EMPTY frame in the same shape (cheap scheduled no-op). The caller
    * acks with [[writeFeedCursor]]`(ackVersion)` only AFTER its
    * downstream write succeeds — crash before the ack replays the same
    * increment, so pair the feed with an idempotent sink (merge, IVM
    * batch marker) for exactly-once effect. Retention contract: the
    * acked version must still be on disk — [[reapManifest]]'s
    * `keepVersions` must cover the slowest consumer's lag, and the
    * change feed fails loudly naming the reaped generation otherwise. */
  def feedSince(spark: SparkSession, path: String,
                consumer: String): (DataFrame, Int) = {
    val live = liveVersion(spark, path)
    readFeedCursor(spark, path, consumer) match {
      case None =>
        (readManifest(spark, path)
          .withColumn("_change_type", lit("insert")), live)
      case Some(v) if v >= live =>
        val m = readManifestMeta(spark, path, live)
        val sch = manifestSchema(m).add("_change_type",
          org.apache.spark.sql.types.StringType)
        (spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch), live)
      case Some(v) =>
        (manifestChanges(spark, path, v, live), live)
    }
  }

  /** Explicit schema evolution for manifest tables: append the columns
    * in `addDdl` (e.g. `"score DOUBLE, note STRING"`) to the stored
    * schema as NULLABLE data columns, publishing a new manifest version
    * over the SAME generations — a metadata-only migration, no data
    * rewrite. Every read (snapshot, time-travel forward of this
    * version, merge windows, compaction rewrites) resolves columns per
    * file: pre-evolution generations surface typed NULLs for the new
    * columns; generations merged afterwards carry real values — so
    * evolution is one atomic pointer swap, and old snapshots
    * (time-travel to a pre-evolution version) keep their old schema.
    *
    * This is the explicit migration [[mergeManifest]]'s schema contract
    * points at: merges still refuse update batches whose columns don't
    * match the (now evolved) base exactly — evolution is a deliberate
    * DDL step, never an implicit merge side effect.
    */
  def evolveManifest(spark: SparkSession, path: String,
                     addDdl: String): Unit =
      withMaintenanceLock(spark, path, lockWaitMs(spark)) {
    val v = liveVersion(spark, path)
    val m = readManifestMeta(spark, path, v)
    val add = org.apache.spark.sql.types.StructType.fromDDL(addDdl)
    require(add.nonEmpty, "evolveManifest: no columns to add")
    val sch = manifestSchema(m)
    val dup = add.fieldNames.filter(sch.fieldNames.contains)
    require(dup.isEmpty,
      s"evolveManifest: column(s) ${dup.mkString(", ")} already exist")
    require(!add.fieldNames.contains("gen"),
      "'gen' is the manifest's generation directory name")
    require(!add.fieldNames.exists(_.startsWith("__")),
      s"column name(s) ${add.fieldNames.filter(_.startsWith("__"))
        .mkString(", ")} use the reserved '__' prefix (engine temp " +
        "columns); pick other names")
    // a retired name may still live PHYSICALLY in pre-rename files:
    // adding a column under it would surface that old data as the new
    // column's values — silent corruption, refuse until the chains
    // clear ([[clearManifestAliases]])
    val haunted = add.fieldNames
      .filter(n => m.colAliases.values.exists(_.contains(n)) ||
        m.droppedCols.contains(n))
    require(haunted.isEmpty,
      s"evolveManifest: column name(s) ${haunted.mkString(", ")} are " +
        "retired by a rename or drop and may still exist in old data " +
        "files — rewrite and clearManifestAliases first, or pick " +
        "another name")
    // new data columns slot BEFORE the partition columns, preserving
    // the stored order contract (data cols first, partition cols last)
    val dataCols = sch.fields.filterNot(f => m.partitionCols.contains(f.name))
    val parts = m.partitionCols.map(sch(_))
    val ddl = org.apache.spark.sql.types.StructType(
      (dataCols ++ add.fields.map(_.copy(nullable = true)) ++ parts).toSeq
    ).toDDL
    writeManifestMeta(spark, path, m.copy(version = v + 1, schemaDdl = ddl,
      op = "evolve", opDeletes = false))
  }

  /** The widening pairs a METADATA-ONLY type change supports: Spark's
    * parquet reader up-casts these per file natively (probed —
    * NOTES.md), and their Cast-to-string renderings are IDENTICAL
    * for every representable value, so stored stats strings, bloom
    * hashes and partition dir fragments all stay exact. float→double
    * is deliberately ABSENT: a float's rendering ("0.1") parses to a
    * DIFFERENT double than the widened value (0.10000000149…), which
    * would silently mis-prune stats/bloom reads and mis-route
    * partition dirs. */
  private val wideningChain: Map[String, Seq[String]] = Map(
    "byte" -> Seq("short", "integer", "long"),
    "short" -> Seq("integer", "long"),
    "integer" -> Seq("long"))

  /** Columns whose NAME is baked into live partition directories —
    * the current spec plus any prior spec with unmigrated generations
    * ([[changeManifestPartitionSpec]]). Rename/drop/widen refuse all
    * of them: a prior-era directory fragment can no more follow a
    * metadata rename than a current one. */
  private def liveSpecCols(m: ManifestMeta): Set[String] =
    (m.partitionCols ++ m.oldEraRels.flatMap(specOfRel)).toSet

  /** METADATA-ONLY type widening of one column (int→long and the rest
    * of the integral chain; decimal precision growth at equal scale).
    * Old generations keep their narrow physical type — every read path
    * requests the stored (widened) schema and the parquet reader
    * up-casts per file — and old snapshots time-travel under their own
    * schema, untouched. Fails loudly on anything that is not a
    * provably exact widening. */
  def widenManifestColumn(spark: SparkSession, path: String,
                          column: String, newType: String): Unit =
      withMaintenanceLock(spark, path, lockWaitMs(spark)) {
    val v = liveVersion(spark, path)
    val m = readManifestMeta(spark, path, v)
    val sch = manifestSchema(m)
    require(sch.fieldNames.contains(column),
      s"widenManifestColumn: no column '$column' in " +
        sch.fieldNames.mkString(", "))
    require(!liveSpecCols(m).contains(column),
      s"widenManifestColumn: '$column' is a partition column (current " +
        "or prior spec with live generations) — its values are baked " +
        "into directory fragments and the catalog registration pins " +
        "its type; repartitionManifest to a re-typed layout instead")
    require(!m.dataBucketCols.contains(column),
      s"widenManifestColumn: '$column' is a data-bucket column — " +
        "murmur3 hashes by physical width, so widening its type would " +
        "silently invalidate every stored bucket id (an int 5 and a " +
        "bigint 5 bucket differently); rebucket off the column first " +
        "(repartitionManifest newBucketCols/newBuckets), widen, then " +
        "rebucket")
    val cur = sch(column).dataType
    val target = org.apache.spark.sql.types.DataType.fromDDL(newType)
    val ok = (cur, target) match {
      case (a: org.apache.spark.sql.types.DecimalType,
            b: org.apache.spark.sql.types.DecimalType) =>
        b.scale == a.scale && b.precision > a.precision
      case _ =>
        wideningChain.getOrElse(cur.typeName, Nil)
          .contains(target.typeName)
    }
    require(ok,
      s"widenManifestColumn: ${cur.sql} -> ${target.sql} is not a " +
        "supported metadata-only widening (integral chain tinyint<" +
        "smallint<int<bigint, or decimal precision growth at equal " +
        "scale; float->double would change value renderings — rewrite " +
        "via repartitionManifest instead)")
    val ddl = org.apache.spark.sql.types.StructType(sch.fields.map(f =>
      if (f.name == column) f.copy(dataType = target) else f)).toDDL
    writeManifestMeta(spark, path, m.copy(version = v + 1, schemaDdl = ddl,
      op = "evolve", opDeletes = false))
  }

  /** METADATA-ONLY column rename: the stored schema renames, every
    * per-column map re-keys, and the old name joins the column's alias
    * chain — data files keep whatever name was current when they were
    * written, and readers coalesce across the names per file (see
    * `colAliases`). Old snapshots time-travel under the old name. The
    * planner-integrated index ([[manifestTable]], `USING manifest`)
    * refuses alias-bearing tables — rewrite (compactManifest
    * maxFiles=0 + foldManifestDeltas) and [[clearManifestAliases]] to
    * re-enable it. Partition columns cannot rename (their name is
    * baked into every directory fragment). */
  def renameManifestColumn(spark: SparkSession, path: String,
                           from: String, to: String,
                           requireSingleSpec: Boolean = false): Unit =
      withMaintenanceLock(spark, path, lockWaitMs(spark)) {
    val v = liveVersion(spark, path)
    val m = readManifestMeta(spark, path, v)
    // for callers that must retire the alias chain IMMEDIATELY after
    // (the SQL-surface rename's default): the single-spec check runs
    // UNDER the lease, atomic with the alias publish — a concurrent
    // changeManifestPartitionSpec landing after a caller-side
    // pre-check can no longer slip between check and publish. A respec
    // landing AFTER this publish but before the caller's retire
    // sequence still fails that sequence — into the recoverable
    // deferred-alias state (maintenance clear_aliases + drain
    // converges it), not a wedge
    if (requireSingleSpec) {
      val oldEra = m.oldEraRels
      require(oldEra.isEmpty,
        s"renameManifestColumn on $path: partition(s) still live under " +
          s"a prior partition spec (${oldEra.take(3).mkString(", ")}" +
          s"${if (oldEra.size > 3) ", …" else ""}) — an immediate " +
          "rewrite cannot retire the rename on frozen old-era " +
          "generations. Finish the spec migration first " +
          "(repartition_manifest / migrate_partitions maintenance), " +
          "or SET spark.graft.rename.deferRewrite=true to land the " +
          "rename as a deferred alias chain")
    }
    val sch = manifestSchema(m)
    require(sch.fieldNames.contains(from),
      s"renameManifestColumn: no column '$from' in " +
        sch.fieldNames.mkString(", "))
    require(!sch.fieldNames.contains(to),
      s"renameManifestColumn: column '$to' already exists")
    require(!liveSpecCols(m).contains(from),
      s"renameManifestColumn: '$from' is a partition column (current " +
        "or prior spec with live generations) — its name is baked into " +
        "directory fragments; repartitionManifest to a renamed layout " +
        "instead")
    require(to != "gen" && !to.startsWith("__"),
      s"'$to' is reserved by the manifest layout ('gen' and the '__' " +
        "temp-column prefix)")
    require(!m.colAliases.values.exists(_.contains(to)) &&
        !m.droppedCols.contains(to),
      s"renameManifestColumn: '$to' is a RETIRED name (a rename chain " +
        "or a dropped column still covers it) — old files carrying it " +
        "would surface under both columns; clear the chains first or " +
        "pick another name")
    // the old name may also appear in OTHER columns' alias chains only
    // as their history — but a LIVE file column can carry it, so the
    // new column inherits the old name plus its whole prior chain
    val priorChain = m.colAliases.getOrElse(from, Nil)
    val ddl = org.apache.spark.sql.types.StructType(sch.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f)).toDDL
    def rekey[V](mp: Map[String, V]): Map[String, V] =
      mp.map { case (k, vv) => (if (k == from) to else k) -> vv }
    writeManifestMeta(spark, path, m.copy(version = v + 1,
      schemaDdl = ddl,
      statsCols = m.statsCols.map(c => if (c == from) to else c),
      bloomCols = m.bloomCols.map(c => if (c == from) to else c),
      stats = m.stats.map { case (rel, cols) => rel -> rekey(cols) },
      blooms = m.blooms.map { case (rel, cols) => rel -> rekey(cols) },
      fileStats = m.fileStats.map { case (rel, files) =>
        rel -> files.map { case (f, cols) => f -> rekey(cols) } },
      morKeys = m.morKeys.map(c => if (c == from) to else c),
      morVersionCol = m.morVersionCol.map(c => if (c == from) to else c),
      morDeleteCol = m.morDeleteCol.map(c => if (c == from) to else c),
      // a rename never moves bytes, so bucket ids stay valid — the
      // spec just follows the name
      dataBucketCols = m.dataBucketCols.map(c => if (c == from) to else c),
      colAliases = (m.colAliases - from) + (to -> (from +: priorChain)),
      op = "evolve", opDeletes = false))
  }

  /** METADATA-ONLY column drop: the column leaves the stored schema in
    * one pointer swap — no byte rewritten. Every read path requests
    * the stored schema, so parquet simply never decodes the retired
    * column from pre-drop files; old snapshots time-travel WITH it
    * (their meta keeps the old schema); post-drop merges refuse a
    * batch still carrying the dead name (the existing extra-column
    * contract); feeds align each window to the end version's schema.
    * The name (plus its whole prior alias chain) joins `droppedCols`,
    * so re-adding it refuses until [[clearManifestAliases]] verifies a
    * rewrite retired the bytes — the haunted-name discipline renames
    * already follow. Matters operationally because rename-without-drop
    * accumulates dead columns on long-lived tables. Partition columns
    * and the merge spec cannot drop (named remedies). */
  def dropManifestColumn(spark: SparkSession, path: String,
                         column: String): Unit =
      withMaintenanceLock(spark, path, lockWaitMs(spark)) {
    val v = liveVersion(spark, path)
    val m = readManifestMeta(spark, path, v)
    val sch = manifestSchema(m)
    require(sch.fieldNames.contains(column),
      s"dropManifestColumn: no column '$column' in " +
        sch.fieldNames.mkString(", "))
    require(!liveSpecCols(m).contains(column),
      s"dropManifestColumn: '$column' is a partition column (current " +
        "or prior spec with live generations) — its name is baked into " +
        "directory fragments; repartitionManifest to a new layout " +
        "instead")
    require(!m.morKeys.exists(_.equalsIgnoreCase(column)) &&
        !m.morVersionCol.exists(_.equalsIgnoreCase(column)),
      s"dropManifestColumn: '$column' is part of the table's merge " +
        "spec (keys/versionCol) — row identity and resolution depend " +
        "on it; repartition to a re-keyed table instead")
    require(!m.dataBucketCols.contains(column),
      s"dropManifestColumn: '$column' is a data-bucket column — every " +
        "file's placement is a function of its values; rebucket off " +
        "the column first (repartitionManifest newBucketCols/" +
        "newBuckets), then drop")
    require(sch.fields.count(f =>
        !m.partitionCols.contains(f.name)) > 1,
      "dropManifestColumn: cannot drop the last data column")
    val chain = column +: m.colAliases.getOrElse(column, Nil)
    val ddl = org.apache.spark.sql.types.StructType(
      sch.fields.filterNot(_.name == column)).toDDL
    writeManifestMeta(spark, path, m.copy(version = v + 1,
      schemaDdl = ddl,
      statsCols = m.statsCols.filterNot(_ == column),
      bloomCols = m.bloomCols.filterNot(_ == column),
      stats = m.stats.map { case (rel, cols) => rel -> (cols - column) },
      blooms = m.blooms.map { case (rel, cols) => rel -> (cols - column) },
      fileStats = m.fileStats.map { case (rel, files) =>
        rel -> files.map { case (f, cols) => f -> (cols - column) } },
      colAliases = m.colAliases - column,
      droppedCols = (m.droppedCols ++ chain).distinct,
      op = "evolve", opDeletes = false))
  }

  /** Drop the rename alias chains AND dropped-column tombstones once
    * NO live generation still carries a retired name — verified
    * against every live gen dir's own parquet footer (one driver read
    * per generation, the reap cost class), refusing loudly otherwise.
    * Run after a full rewrite (compactManifest maxFiles=0 +
    * foldManifestDeltas) retired the old names; re-enables the
    * planner-integrated index (renames) and frees the names for
    * re-use (drops). */
  def clearManifestAliases(spark: SparkSession, path: String): Unit =
      withMaintenanceLock(spark, path, lockWaitMs(spark)) {
    val v = liveVersion(spark, path)
    val m = readManifestMeta(spark, path, v)
    if (m.colAliases.nonEmpty || m.droppedCols.nonEmpty) {
      // compactManifest skips FROZEN old-era generations on a
      // mixed-spec table, so the usual compact+fold remedy can never
      // retire names those generations carry — name the remedy that
      // actually works instead of prescribing a rewrite loop
      require(m.oldEraRels.isEmpty,
        s"clearManifestAliases on $path: partition(s) still live under " +
          s"a prior partition spec (${m.oldEraRels.take(3).mkString(", ")}" +
          s"${if (m.oldEraRels.size > 3) ", …" else ""}) — a compact " +
          "cannot rewrite frozen old-era generations; finish the spec " +
          "migration first (repartitionManifest, or budgeted " +
          "migrateManifestPartitions runs) and retry")
      val oldNames = m.colAliases.values.flatten.toSet ++ m.droppedCols
      val offenders = inParallel(
          m.allRels.flatMap(r => m.liveGens(r).map(r -> _))) {
        case (rel, g) =>
          val carried = spark.read.parquet(s"$path/$rel/gen=$g")
            .schema.fieldNames.filter(oldNames).toSeq
          if (carried.isEmpty) None else Some(s"$rel/gen=$g: " +
            carried.mkString(","))
      }.flatten
      require(offenders.isEmpty,
        s"clearManifestAliases: live generation(s) still carry " +
          s"retired column names — ${offenders.take(5).mkString("; ")}" +
          "; rewrite them first (compactManifest maxFiles=0 + " +
          "foldManifestDeltas)")
      writeManifestMeta(spark, path, m.copy(version = v + 1,
        colAliases = Map.empty, droppedCols = Nil,
        op = "evolve", opDeletes = false))
    }
  }

  /** Delete everything the RETAINED manifest versions do not reference
    * — superseded and orphaned generation dirs, fully-deleted
    * partitions' remains, and manifest versions below the retention
    * window — after in-flight readers of older snapshots drain (your
    * schedule; the library cannot know when the last one finished).
    *
    * `keepVersions` is the RETENTION window: the newest N manifest
    * versions stay readable, so time travel reaches back N-1 merges
    * and a [[manifestChanges]] consumer lagging up to N-1 versions
    * never loses its window to a reap (the operational reason to run
    * with N > 1 under continuous CDC — size it to the consumer's
    * maximum lag). Default 1 = only the live snapshot survives.
    * Returns the deleted rel-paths.
    */
  def reapManifest(spark: SparkSession, path: String,
                   keepVersions: Int = 1,
                   ignoreConsumers: Set[String] = Set.empty,
                   keepAgeMs: Long = 0L): Seq[String] =
      withMaintenanceLock(spark, path, lockWaitMs(spark)) {
    require(keepVersions >= 1, "keepVersions must be >= 1")
    require(keepAgeMs >= 0L, "keepAgeMs must be >= 0 (0 = version-based)")
    val v = liveVersion(spark, path)
    val fs = TableFs(spark, path)
    // keepAgeMs > 0 additionally retains every version needed to
    // time-travel to ANY instant in the last keepAgeMs (the Delta
    // VACUUM retention posture, riding the publishedAtMs stamps): the
    // floor lowers to the newest version published at or before
    // now - keepAgeMs, because that version SERVES every instant from
    // its publish until the next one. Retention only ever widens —
    // age and count compose as the union. Versions predating the
    // stamp field refuse through versionAtTimestamp's contract (use
    // keepVersions alone on pre-stamp tables).
    val versionFloor = math.max(1, v - keepVersions + 1)
    val floor =
      if (keepAgeMs <= 0L) versionFloor
      else {
        val cutoff = System.currentTimeMillis() - keepAgeMs
        val ageFloor =
          try versionAtTimestamp(spark, path, cutoff)
          catch {
            case e: IllegalArgumentException
                if e.getMessage.contains("predates the earliest") =>
              // the whole retained window is younger than the cutoff:
              // everything stays
              manifestVersions(spark, path).headOption.getOrElse(1)
            case e: IllegalArgumentException
                if e.getMessage.contains("predates publish timestamps") =>
              // versions written before the publishedAtMs field existed
              // are OLDER than every stamped one (versions are
              // monotone): in a RETENTION context they are infinitely
              // old — reapable past the count floor, never a reason to
              // hard-fail age-based retention on an upgraded table. The
              // floor is the newest version at or before the cutoff
              // with unstamped versions ranking below every instant —
              // a linear scan over the retained window (reap reads
              // these roots anyway)
              val vs = manifestVersions(spark, path)
              vs.filter { ver =>
                val s = readManifestMeta(spark, path, ver).publishedAtMs
                s <= 0L || s <= cutoff
              }.lastOption.getOrElse(vs.headOption.getOrElse(1))
          }
        math.min(versionFloor, ageFloor)
      }
    // a change-feed consumer whose acked cursor falls BELOW the floor
    // would lose its increment to this reap (its next feedSince needs
    // the acked version's generations) — refuse loudly instead of
    // silently breaking it; abandoned cursors are skipped explicitly
    val stranded = feedConsumers(spark, path)
      .filterNot { case (name, _) => ignoreConsumers.contains(name) }
      .filter { case (_, c) => c < floor && c < v }
    require(stranded.isEmpty,
      s"reapManifest(keepVersions = $keepVersions) would strand " +
        s"change-feed consumer(s) ${stranded.toSeq.sorted.map {
          case (n, c) => s"$n (acked v$c)" }.mkString(", ")} of $path " +
        s"behind the retention floor v$floor: raise keepVersions to >= " +
        s"${v - stranded.values.min + 1}, let the consumer catch up, or " +
        "pass its name in ignoreConsumers if it is abandoned")
    // union of every retained version's referenced generations; a
    // version may already be gone (reaped earlier) — skip it
    val roots = (floor to v).flatMap { ver =>
      if (!fs.exists(new Path(path, s"_MANIFEST.v$ver"))) None
      else Some(readManifestRoot(spark, path, ver))
    }
    val retained = roots.map { case (h, refs) =>
      if (refs.isEmpty) h else readBuckets(spark, path, h, refs) }
    // bucket children any retained root still points at (hierarchical)
    val liveBucketFiles = roots.flatMap(_._2.map(_.file)).toSet
    val deleted = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(p: Path, rel: String): Unit = {
      val kids = fs.list(p).filter(_.isDirectory)
      val genKids = kids.filter(_.getPath.getName.startsWith("gen="))
      val partKids = kids.filter(k => k.getPath.getName.contains("=") &&
        !k.getPath.getName.startsWith("gen="))
      // under METADATA-ONLY spec evolution one directory can hold BOTH:
      // its own era's gen= dirs AND a nested deeper-spec partition tree
      // (spec [a] -> [a,b] nests b=… beside a=…'s gen dirs) — so gen
      // handling and recursion are independent, and a fully-retired rel
      // deletes only its gen dirs when nested partitions remain
      if (genKids.nonEmpty) {
        val live = retained.flatMap(_.liveGens(rel))
          .map(g => s"gen=$g").toSet
        if (live.nonEmpty)
          genKids.filterNot(k => live.contains(k.getPath.getName))
            .foreach { st =>
              fs.delete(st.getPath, true)
              deleted += s"$rel/${st.getPath.getName}"
            }
        else if (partKids.isEmpty) {
          // partition absent from every retained version (fully
          // deleted or never published): the whole chain goes
          fs.delete(p, true)
          deleted += rel
        } else genKids.foreach { st =>
          fs.delete(st.getPath, true)
          deleted += s"$rel/${st.getPath.getName}"
        }
      }
      partKids.foreach(k =>
        walk(k.getPath, if (rel.isEmpty) k.getPath.getName
          else s"$rel/${k.getPath.getName}"))
    }
    fs.list(new Path(path))
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .foreach(st => walk(st.getPath, st.getPath.getName))
    fs.list(new Path(path)).foreach { st =>
      val n = st.getPath.getName
      if (!st.isDirectory && n.startsWith("_MANIFEST.v") &&
          n.drop(11).forall(_.isDigit) && n.drop(11).toInt < floor) {
        fs.delete(st.getPath, false)
        deleted += n
      }
      // content-addressed bucket children are shared across versions:
      // delete only those no retained root references (orphans from
      // crashed publishes included)
      if (!st.isDirectory && n.startsWith("_MBUCKET.") &&
          n.endsWith(".json") && !liveBucketFiles.contains(n)) {
        fs.delete(st.getPath, false)
        deleted += n
      }
    }
    // crashed optimistic writers leave their writer-unique tmp trees
    // as SIBLINGS of the table dir (live writers delete theirs in a
    // finally); anything whose heartbeat is older than an hour is
    // certainly abandoned. The age is max(root mtime, _GRAFT_HEARTBEAT
    // mtime) — see [[withTmpHeartbeat]]: a root dir's mtime only moves
    // on direct-child changes, so a legitimately long rewrite (>1h
    // scan phase, deep partition writes) is told apart from a crash by
    // its in-flight heartbeat, not by the root going quiet
    val tblName = new Path(path).getName
    val parent = new Path(path).getParent
    if (parent != null && fs.exists(parent)) {
      val cutoff = System.currentTimeMillis() - 3600L * 1000
      fs.list(parent).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.startsWith(s"$tblName.__manifest_tmp") &&
            tmpTreeMtime(fs, st) < cutoff) {
          fs.delete(st.getPath, true)
          deleted += n
        }
      }
    }
    deleted.toSeq.sorted
  }

  /** Small-file compaction under the MANIFEST discipline — the
    * maintenance [[compact]] of manifest tables ([[compact]] itself
    * refuses them: a rename-swap would move generation dirs out from
    * under the manifest). Merge writes cluster one file per
    * partition dir, so the remaining multi-file sources are
    * `maxRecordsPerFile` splits of oversized partitions and externally
    * appended layouts; this rewrites every
    * partition whose live generation holds more than `maxFiles` data
    * files into a single-file next generation (rows hash-cluster onto
    * their partition key before the write, so each rewritten dir is one
    * task's contiguous output) and publishes ONE new manifest — the
    * [[mergeManifest]] atomic-snapshot contract: concurrent readers
    * keep whichever snapshot they resolved, superseded generations reap
    * after drain ([[reapManifest]]), and a crash before the pointer
    * rename leaves only orphan gen dirs nothing reads. Row-identical by
    * construction and count-verified BEFORE publish (the [[compact]]
    * Observation pattern — no second source pass).
    *
    * Scale notes: the selection listing is O(live files) driver-side
    * RPCs — the same order as the scan's own listing, and only gen dirs
    * above `maxFiles` pay the rewrite. One file per partition is the
    * small-file cure, not a size target: a partition whose compacted
    * file would exceed a row-group-friendly size (say > 1-2 GB) is
    * under-partitioned — repartition the TABLE rather than tune the
    * compactor. Untouched partitions keep their generation; their dirs
    * are not read, listed beyond the file count, or rewritten.
    *
    * `sortCols` makes the rewrite a SORTED compaction: each rewritten
    * partition's file is sorted on them, so parquet row-group min/max
    * stats on the sort key stay tight under continuous CDC (the
    * [[sortedWrite]] discipline at partition granularity — CDC merges
    * decluster the layout, the scheduled compactor re-clusters it).
    * `maxFiles = 0` selects EVERY partition — the full OPTIMIZE-sort
    * re-cluster; with the default threshold only small-file partitions
    * pay the rewrite.
    *
    * `zorderCols` (2-4 columns, exclusive with `sortCols`) makes it an
    * OPTIMIZE ZORDER instead: within each rewritten partition the file
    * is ordered by the interleaved Z-curve of the given columns
    * ([[zorderWrite]]'s key at partition granularity, one equi-depth
    * boundary pass over the selected partitions' rows), so row-group
    * min/max stats stay tight on EVERY z column at once — the layout
    * for tables queried by more than one predicate dimension.
    *
    * Returns the compacted partition rel-paths.
    */
  def compactManifest(spark: SparkSession, path: String,
                      maxFiles: Int = 4,
                      sortCols: Seq[String] = Nil,
                      zorderCols: Seq[String] = Nil,
                      zorderBits: Int = 8): Seq[String] = {
    require(maxFiles >= 0, "maxFiles must be >= 0 (0 = rewrite all)")
    require(sortCols.isEmpty || zorderCols.isEmpty,
      "sortCols and zorderCols are exclusive: linear sort or Z-curve")
    val v = manifestVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"$path is not a manifest table; compact plain parquet " +
          "directories with compact"))
    val m = readManifestMeta(spark, path, v)
    require((sortCols ++ zorderCols).forall(
        manifestSchema(m).fieldNames.contains),
      s"sort/zorder columns ${(sortCols ++ zorderCols).mkString(",")} " +
        "must be table columns")
    val fs = TableFs(spark, path)
    def dataFiles(rel: String, g: Int): Int =
      fs.list(new Path(s"$path/$rel/gen=$g"))
        .count(st => !st.isDirectory &&
          st.getPath.getName.startsWith("part-"))
    // selection listing on the bounded pool — O(partitions) latency-
    // bound round trips, the publish-path discipline. A BUCKETED
    // partition holds nBuckets files at steady state by design, so the
    // threshold reads per-bucket there (maxFiles=0 keeps rewrite-all)
    val fileThreshold =
      if (m.dataBuckets > 0) maxFiles * m.dataBuckets else maxFiles
    val selected = inParallel(m.entries.toSeq.sortBy(_._1)) {
      case (rel, g) => rel -> (dataFiles(rel, g) > fileThreshold)
    }.collect { case (rel, true) => rel }
      // after a METADATA-ONLY spec change, prior-era partitions are
      // FROZEN (no write path adds files to them — deltas/appends land
      // under the current spec, copy-on-write merges migrate them away
      // wholesale), so their file counts never grow: compaction targets
      // current-spec partitions and leaves migration to
      // mergeManifest-on-touch / repartitionManifest
      .filter(rel => m.specHistory.isEmpty ||
        specOfRel(rel) == m.partitionCols)
    if (selected.isEmpty) Nil
    else {
      // stored-schema-aligned rewrite (readManifestRels): re-writes the
      // seed's column types, null-filling evolved columns per file.
      // OPTIMISTIC: the rewrite reads only BASE generations without the
      // lease — a compaction of a 100 TB table runs long enough that
      // CDC ingest cannot stop for it. Deltas landing mid-rewrite are
      // invisible here and stay pending on top of the compacted base
      // (base rows keep resolution seq 0); partitions whose BASE a
      // concurrent commit rewrote skip at commit (row-identity makes
      // skipping always sound — the next compaction catches up).
      val base = readManifestRels(spark, path, m,
        selected.map(rel => rel -> m.entries(rel)).toMap)
      // the z key is computed per row BEFORE the shuffle (one boundary
      // pass over the selected partitions only) and dropped after the
      // in-task sort, never written
      val keyed =
        if (zorderCols.isEmpty) base
        else withZ(base, zorderCols, zorderBits, 0.001)
      // partition cols (and, on a bucketed table, the bucket id —
      // compaction preserves the contract, one file per bucket per
      // dir) lead the in-task sort so each task's rows stay grouped
      // by output dir; within a dir the file is sortCols- or z-ordered
      val sortTail =
        if (zorderCols.nonEmpty) Seq(col("__z")) else sortCols.map(col)
      // row-count verify + per-FILE stats from the written footers: a
      // sorted/z-ordered compaction is exactly where per-file ranges
      // turn disjoint, so file-granular skipping comes along free; no
      // blooms, and partition-level stats carry forward unchanged —
      // the rewrite is row-identical
      stage(spark, path, m, "compactManifest", keyed, Some(selected.toSet),
          verifyRows = true, blooms = false)(clusteredWrite(spark, _, _,
            m.partitionCols, m.dataBucketCols, m.dataBuckets,
            sortTail = sortTail, dropCols = Seq("__z"))) { st =>
        underLease(spark, path, m) { m1 =>
          if (m1.version != m.version)
            invariantsChanged(m, m1, checkMorSpec = false).foreach(reason =>
              throw new IllegalStateException(
                s"compactManifest on $path: $reason landed " +
                  "mid-compaction; re-run after the change settles"))
          // a rel commits iff its BASE entry did not move (pending
          // deltas — existing or concurrently landed — are irrelevant:
          // the compacted base is row-identical, resolution unchanged)
          val committable = st.produced.filter(rel =>
            m1.entries.get(rel) == m.entries.get(rel)).toSet
          if (committable.isEmpty) Nil
          else {
            val newGens = publishGens(st.fs, path, st.tmpDir, m1,
              st.produced.filter(committable))
            // the FILES changed: bytes recompute for rewritten rels, and
            // per-file entries replace the old BASE generation's
            // (pending deltas' file entries stay: compaction never
            // touches them)
            val newFs = genKeyedFileStats(st.fileStats, newGens)
            val compactedFs = newGens.keys.map { rel =>
              rel -> (fileStatsOfGens(
                m1.fileStats.getOrElse(rel, Map.empty),
                m1.deltas.getOrElse(rel, Nil).toSet) ++
                newFs.getOrElse(rel, Map.empty))
            }.toMap
            writeManifestMeta(spark, path, m1.copy(version = m1.version + 1,
              entries = m1.entries ++ newGens.toMap,
              // bytes from the pre-rename footer walk (same files, just
              // renamed) — no second listing of the published gen dirs
              bytes = m1.bytes ++
                st.bytes.filter { case (rel, _) => newGens.contains(rel) },
              fileStats = m1.fileStats ++ compactedFs,
              op = "compact", opDeletes = false))
            newGens.keys.toSeq.sorted
          }
        }
      }
    }
  }

  /** METADATA-ONLY partition-spec change — the Iceberg
    * partition-spec-evolution posture: ONE JSON publish moves the
    * table's CURRENT spec to `newCols` and rewrites ZERO data. Existing
    * generations stay under the directories their era's spec produced
    * (each rel fragment is self-describing — [[specOfRel]]); new writes
    * land under the new spec; every read ([[readManifest]], time
    * travel, feeds, [[readManifestPruned]], [[manifestTable]]) serves
    * each generation under its own era and unions. At 100 TB this is
    * the difference between an O(1) spec change and the O(table)
    * rewrite [[repartitionManifest]] pays — which stays available as
    * the optional migration FINISHER (it collapses all eras into the
    * current spec).
    *
    * What changes semantically while eras are mixed:
    *  - partition-level pruning on a spec column prunes only the ERAS
    *    that have it in their spec; other eras fall back to the
    *    per-partition/per-file stats and blooms (sound, just coarser) —
    *    declare hot columns in `statsCols` to keep skipping tight
    *    across eras;
    *  - copy-on-write merges MIGRATE on touch: a batch whose keys'
    *    old-era partitions still exist folds those partitions into the
    *    new spec as part of its normal rewrite (same IO it would have
    *    paid rewriting them in place), so mixed-spec debt shrinks with
    *    every merge. TOUCH IS BY VALUE, not by key existence: the
    *    merge cannot know a key is fresh without reading, so ANY batch
    *    row whose old-spec column values name an existing old-era
    *    partition migrates that whole partition (NOTES.md: a
    *    fresh-key batch scattered over every old year migrated the
    *    entire 6M-row era in one merge — correct, but the cost of a
    *    full rewrite; batches of genuinely new data with out-of-range
    *    old-spec values pay nothing);
    *  - merge-on-read deltas REFUSE batches that overlap unmigrated
    *    old-era partitions (per-partition resolution cannot see across
    *    rels — the refusal names the copy-on-write/repartition
    *    remedies); batches entirely over migrated/new keys stay
    *    O(batch);
    *  - the append feed treats the change as metadata-only (emits
    *    nothing); the change feed diffs it to nothing (no generation
    *    moved); old snapshots time-travel under their own spec.
    *
    * Requires: all pending deltas folded ([[foldManifestDeltas]]) and
    * alias chains cleared first — spec eras and rename/delta resolution
    * compose multiplicatively, so each must be retired before the other
    * begins. The new spec's columns must exist; the stored column ORDER
    * is untouched (catalog registrations and readers keep their shape —
    * only the data/partition split moves, derived by name). */
  def changeManifestPartitionSpec(spark: SparkSession, path: String,
                                  newCols: Seq[String]): Unit =
      withMaintenanceLock(spark, path, lockWaitMs(spark)) {
    val v = liveVersion(spark, path)
    val m = readManifestMeta(spark, path, v)
    val sch = manifestSchema(m)
    require(newCols.nonEmpty,
      "changeManifestPartitionSpec needs at least one partition column")
    require(newCols.distinct == newCols,
      s"duplicate partition columns in ${newCols.mkString(",")}")
    require(newCols.forall(sch.fieldNames.contains),
      s"partition columns ${newCols.mkString(",")} must be table columns" +
        s" (${sch.fieldNames.mkString(", ")})")
    require(newCols != m.partitionCols,
      s"table is already partitioned by ${m.partitionCols.mkString(",")}")
    require(newCols.intersect(m.dataBucketCols).isEmpty,
      s"changeManifestPartitionSpec: new partition column(s) " +
        s"${newCols.intersect(m.dataBucketCols).mkString(",")} are the " +
        "table's data-bucket columns — a partition column is " +
        "directory-encoded, not in the files a bucketed scan hashes; " +
        "repartitionManifest (newBucketCols/newBuckets) changes both " +
        "layouts in one rewrite")
    // keyed merge-on-read deltas resolve per-partition and cannot span
    // spec eras; a DECLARED append-only table's SPEC-LESS deltas have
    // no resolution at all (plain union), so they may straddle eras
    require(m.deltas.isEmpty || m.appendOnly,
      s"$path has pending merge-on-read deltas: fold them " +
        "(foldManifestDeltas) before changing the partition spec — " +
        "delta resolution is per-partition and cannot span spec eras")
    require(m.colAliases.isEmpty,
      s"$path has live rename alias chains " +
        s"(${m.colAliases.keys.toSeq.sorted.mkString(", ")}): rewrite + " +
        "clearManifestAliases before changing the partition spec")
    // the STORED column order is untouched — a spec change must not
    // invalidate catalog registrations (whose schema pins the
    // creation-time order) or reshape what readers see; only the
    // data/partition SPLIT moves, and every read path derives that
    // from partitionCols by name
    writeManifestMeta(spark, path, m.copy(version = v + 1,
      partitionCols = newCols,
      specHistory =
        (m.specHistory :+ m.partitionCols).filterNot(_ == newCols),
      op = "spec", opDeletes = false))
  }

  /** BUDGETED finisher for a metadata-only
    * [[changeManifestPartitionSpec]]: copy-on-write-rewrite up to
    * `maxPartitions` OLDEST-era partitions into the current partition
    * spec and publish ONE new version — the incremental alternative to
    * the all-or-nothing [[repartitionManifest]]. At 100 TB a spec
    * migration is hours of rewrite; a maintenance operator drains it
    * N partitions per run, on its own schedule, while reads (per-era
    * union) and writes (migrate-on-touch merges) stay fully serviced
    * throughout.
    *
    * Mechanics mirror [[mergeManifest]]'s migrate-on-touch: migrated
    * rows can LAND in current-spec partitions that already hold data,
    * so those landing partitions fold into the rewrite (deltas
    * resolved); row-count-verified before publish; the picked old-era
    * partitions leave the manifest wholesale. `specHistory` prunes to
    * the eras that still hold live generations — when the last old-era
    * partition drains, the table is single-spec again and every
    * era-grouping path collapses to the plain single-read shape.
    * Publishes as `op=repartition` (row-identical re-layout: change
    * feeds diff it to nothing, append feeds skip it).
    *
    * OPTIMISTIC like [[mergeManifest]]/[[compactManifest]]: the read,
    * shuffle write, verify, and stats/bloom derivation all run against
    * a snapshot WITHOUT the lease — at 100 TB partition sizes a
    * budget-N rewrite takes longer than any reasonable lockWaitMs, and
    * writes must stay serviced throughout a drain. The lease covers
    * only gen renames + one JSON publish, with rebase-or-retry: unlike
    * compaction (row-identical per rel, movers skippable), a migration
    * moves rows ACROSS partitions, so a concurrent commit touching ANY
    * read rel invalidates the whole run — it retries from fresh (up to
    * 3 attempts), never partially commits.
    *
    * Returns the migrated old-era rels (empty = nothing left: the
    * quiet no-op that makes a scheduled drain converge). */
  def migrateManifestPartitions(spark: SparkSession, path: String,
                                maxPartitions: Int,
                                sortCols: Seq[String] = Nil): Seq[String] = {
    require(maxPartitions >= 1,
      "migrateManifestPartitions needs a positive partition budget")
    commit(spark, path, "migrateManifestPartitions",
        checkMorSpec = false) { m0 =>
      require(sortCols.forall(manifestSchema(m0).fieldNames.contains),
        s"sortCols ${sortCols.mkString(",")} must be table columns")
      val old = m0.oldEraRels
      if (old.isEmpty) {
        // fully migrated — converged. A table whose last old-era
        // partition drained through a merge published BEFORE merges
        // pruned specHistory can still carry phantom entries: clear
        // them with one metadata publish (brief lease — re-checked
        // under it) so the debt dashboard reads zero and
        // repartitionManifest's "nothing left" refusal holds
        if (m0.specHistory.nonEmpty)
          underLease(spark, path, m0) { m1 =>
            if (m1.oldEraRels.isEmpty && m1.specHistory.nonEmpty)
              writeManifestMeta(spark, path, m1.copy(version = m1.version + 1,
                specHistory = Nil, op = "repartition", opDeletes = false))
          }
        Left(Nil)
      } else {
        val pcols = m0.partitionCols
        // oldest era first (specHistory is chronological), stable order
        // within an era — successive budgeted runs drain deterministically
        val eraOrder = m0.specHistory.zipWithIndex.toMap
        val pick = old.sortBy(r =>
          (eraOrder.getOrElse(specOfRel(r), Int.MaxValue), r))
          .take(maxPartitions)
        // landing set: bounded by the table's partition count — the same
        // cardinality class the manifest root already holds in memory
        val landing = readResolved(spark, path, m0, pick)
          .select(pcols.map(c => col(c).cast("string").as(c)): _*)
          .distinct().collect().map(relOf(pcols, _)).toSeq.distinct
        val baseRels = landing.filter(r =>
          m0.entries.contains(r) || m0.deltas.contains(r))
        // the conflict/commit set is the FULL landing set, existing in
        // the snapshot or not (mergeManifest's discipline): a landing
        // rel CREATED by a concurrent commit mid-rewrite would otherwise
        // be silently REPLACED at publish. The read covers only rels
        // that exist.
        val allTouched = (pick ++ landing).distinct.sorted
        Right(Plan(
          readResolved(spark, path, m0, (pick ++ baseRels).distinct.sorted),
          landing.toSet,
          write = clusteredWrite(spark, _, _, pcols, m0.dataBucketCols,
            m0.dataBuckets, sortTail = sortCols.map(col)),
          // picked old-era partitions leave the manifest wholesale
          // (their rows live in the produced current-spec gens)
          publish = replaceRels(path, allTouched, "repartition"),
          result = pick,
          // unlike compaction (row-identical per rel, movers
          // skippable), a migration moves rows ACROSS partitions: a
          // concurrent commit touching ANY read rel invalidates it
          conflict = movedRels(m0, _, allTouched),
          verifyRows = true))
      }
    }.getOrElse(Nil)
  }

  /** Change the PARTITIONING of a manifest table — the maintenance
    * answer to "we partitioned by day, queries filter by tenant": the
    * whole table rewrites (pending merge-on-read deltas folded in)
    * under the new partition columns and publishes as ONE new manifest
    * version, with the usual snapshot contract — pinned readers keep
    * the old layout, RETAINED old versions still time-travel under the
    * old partitioning (their directories survive until
    * [[reapManifest]] drops their versions), and a crash before the
    * pointer rename leaves nothing visible. After a METADATA-ONLY
    * [[changeManifestPartitionSpec]] this is the optional migration
    * finisher: repartitioning to the CURRENT spec is allowed exactly
    * when old-era generations remain, and collapses every era into
    * one.
    *
    * Honest envelope vs. metadata-only partition-spec evolution
    * (Iceberg's approach): this is a FULL REWRITE — O(table) once,
    * after which every read and merge runs at the new granularity.
    * Metadata-only evolution would need per-generation partition specs
    * on the read path; a rewrite keeps the manifest's single-spec
    * reads, stats and pruning exactly as they are. The stored column
    * order re-derives (data columns first, new partition columns
    * last); readers of old snapshots keep the old order, and
    * name-based feed alignment is unaffected. Row-identical by
    * construction and count-verified before publish; the change feed
    * diffs it to nothing; the append feed treats it like a fold
    * (emits nothing). `sortCols` sorts each new partition's file (the
    * sorted-compaction discipline).
    *
    * The same rewrite is also THE way to change a table's DATA-BUCKET
    * layout in place (the adoption path for an existing 100 TB table —
    * no re-seed, feeds/history/retained versions all survive): pass
    * `newBucketCols`/`newBuckets` together to bucket an unbucketed
    * table, re-key or re-size an existing layout, or un-bucket
    * (`Some(Nil)`/`Some(0)`); leave both `None` to keep the current
    * layout. The partition spec may stay put when only the bucket
    * layout changes. Returns the new partition count.
    */
  def repartitionManifest(spark: SparkSession, path: String,
                          newPartitionCols: Seq[String],
                          sortCols: Seq[String] = Nil,
                          newBucketCols: Option[Seq[String]] = None,
                          newBuckets: Option[Int] = None): Int =
      withMaintenanceLock(spark, path, lockWaitMs(spark)) {
    val v = liveVersion(spark, path)
    val m = readManifestMeta(spark, path, v)
    val sch = manifestSchema(m)
    require(newPartitionCols.nonEmpty,
      "repartitionManifest needs at least one partition column")
    require(newPartitionCols.forall(sch.fieldNames.contains),
      s"partition columns ${newPartitionCols.mkString(",")} must be " +
        "table columns")
    require(newBucketCols.isDefined == newBuckets.isDefined,
      "declare the new bucket layout as BOTH newBucketCols and " +
        "newBuckets (or neither, which keeps the current layout)")
    // target DATA-bucket layout: explicit change, or carry the current
    val (tgtBucketCols, tgtBuckets) = (newBucketCols, newBuckets) match {
      case (Some(c), Some(n)) => (c, n)
      case _ => (m.dataBucketCols, m.dataBuckets)
    }
    require(tgtBucketCols.isEmpty == (tgtBuckets == 0),
      "declare the new bucket layout as BOTH newBucketCols and " +
        "newBuckets (Some(Nil)/Some(0) un-buckets)")
    if (newBucketCols.isDefined && tgtBuckets > 0) {
      require(tgtBuckets >= 2 && tgtBuckets <= 4096,
        "newBuckets must be in [2, 4096] (or 0 to un-bucket)")
      require(tgtBucketCols.forall(sch.fieldNames.contains),
        s"newBucketCols ${tgtBucketCols.filterNot(sch.fieldNames.contains)
          .mkString(",")} must be table columns")
      require(!m.appendOnly,
        "a declared append-only table cannot become data-bucketed: its " +
          "spec-less append generations land outside the bucket naming " +
          "+ placement contract")
    }
    val layoutChanges = (tgtBucketCols, tgtBuckets) !=
      (m.dataBucketCols, m.dataBuckets)
    require(newPartitionCols != m.partitionCols ||
        m.oldEraRels.nonEmpty || layoutChanges,
      s"table is already partitioned by ${m.partitionCols.mkString(",")} " +
        "with no prior-spec generations left to migrate (and no bucket-" +
        "layout change requested)")
    require(sortCols.forall(sch.fieldNames.contains),
      s"sortCols ${sortCols.mkString(",")} must be table columns")
    require(newPartitionCols.intersect(tgtBucketCols).isEmpty,
      s"repartitionManifest: new partition column(s) " +
        s"${newPartitionCols.intersect(tgtBucketCols).mkString(",")} " +
        "are in the (target) data-bucket layout — a partition column " +
        "is directory-encoded, not in the files a bucketed scan " +
        "hashes; change the bucket layout in the same call " +
        "(newBucketCols/newBuckets)")
    // the full resolved snapshot — a repartition is a whole-table
    // rewrite by definition, so pending deltas fold in for free
    val all = readResolved(spark, path, m, m.allRels)
    val dataCols = sch.fields.filterNot(f =>
      newPartitionCols.contains(f.name))
    val ddl = org.apache.spark.sql.types.StructType(
      dataCols ++ newPartitionCols.map(sch(_))).toDDL
    // a full rewrite lands every row under the new spec: prior eras are
    // fully migrated, so the spec history clears
    val m2 = m.copy(schemaDdl = ddl, partitionCols = newPartitionCols,
      specHistory = Nil,
      dataBucketCols = tgtBucketCols, dataBuckets = tgtBuckets)
    stage(spark, path, m2, "repartitionManifest", all, expected = None,
        verifyRows = true)(clusteredWrite(spark, _, _, newPartitionCols,
          tgtBucketCols, tgtBuckets, sortTail = sortCols.map(col))) { st =>
      val newGens = publishGens(st.fs, path, st.tmpDir, m, st.produced)
      // the new manifest references ONLY the new-scheme generations; old
      // snapshots keep referencing theirs until retention drops them
      writeManifestMeta(spark, path, m2.copy(version = v + 1,
        entries = newGens,
        stats = st.stats, blooms = st.blooms, bytes = st.bytes,
        fileStats = genKeyedFileStats(st.fileStats, newGens),
        deltas = Map.empty,
        op = "repartition", opDeletes = false))
      newGens.size
    }
  }

  /** Write `df` to `path` range-clustered and sorted by `sortCols`:
    * `repartitionByRange` gives disjoint per-file key ranges,
    * `sortWithinPartitions` makes every parquet row group's min/max
    * tight — the layout under which predicate pushdown on the sort key
    * actually skips row groups instead of merely re-checking rows.
    */
  def sortedWrite(df: DataFrame, path: String, sortCols: Seq[String],
                  numFiles: Int = 0): Unit = {
    require(sortCols.nonEmpty, "sortedWrite needs at least one sort column")
    val parts =
      if (numFiles > 0) numFiles
      else df.sparkSession.sessionState.conf.numShufflePartitions
    df.repartitionByRange(parts, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Write `df` Z-ORDER clustered on 2-4 numeric/timestamp/date/string
    * columns: a linear sort
    * clusters only its leading column (a predicate on the second reads
    * every row group); the Z-curve interleaves the columns' bits so
    * locality — and therefore parquet min/max row-group skipping —
    * holds on EVERY Z-column at once (public Z-order/space-filling-
    * curve practice, as in Delta OPTIMIZE ZORDER BY).
    *
    * Mechanics: one `approxQuantile` pass computes equi-depth bucket
    * boundaries for all columns together (equi-depth, so skewed value
    * distributions still spread across the curve); each row's per-column
    * bucket ids (0..2^bits-1, via the codegen'd binary-search kernel
    * [[graft.expressions.BucketIndex]] — log2(2^bits) comparisons/row;
    * the interpreted `aggregate`-HOF formulation it replaced measured
    * 32x slower than a linear sort write at 6M rows) bit-interleave
    * into a single z value; the write range-partitions + sorts on z.
    * No UDF, whole-stage codegen throughout. Nulls map to bucket 0
    * (cluster together at the curve origin).
    */
  def zorderWrite(df: DataFrame, path: String, zCols: Seq[String],
                  bits: Int = 8, numFiles: Int = 0,
                  quantileError: Double = 0.001): Unit = {
    val parts =
      if (numFiles > 0) numFiles
      else df.sparkSession.sessionState.conf.numShufflePartitions
    withZ(df, zCols, bits, quantileError)
      .repartitionByRange(parts, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Append the interleaved Z-curve value of `zCols` as `__z` — the
    * key construction behind [[zorderWrite]], factored out so z-order
    * re-clustering composes into other writers ([[compactManifest]]'s
    * `zorderCols`). One `approxQuantile` pass over `df` computes the
    * equi-depth boundaries; the per-row bucket ids go through the
    * codegen'd [[graft.expressions.BucketIndex]] kernel and LONG bit
    * interleaving (see [[zorderWrite]]'s scaladoc for the full design
    * record). */
  private def withZ(df: DataFrame, zCols: Seq[String],
                    bits: Int, quantileError: Double): DataFrame = {
    require(zCols.size >= 2 && zCols.size <= 4,
      "z-order wants 2-4 columns (1 -> sorted write; >4 dilutes the curve)")
    require(bits >= 2 && bits <= 10, "bits per dimension must be in [2,10]")
    import org.apache.spark.sql.types._
    // every z column maps to an ORDER-PRESERVING double key the
    // equi-depth boundaries and the codegen'd bucket kernel operate on:
    //  - numeric/timestamp: plain cast (exact enough for boundaries);
    //  - date: through timestamp (days -> epoch seconds);
    //  - string: the first 6 UTF-8 bytes zero-padded and read as a
    //    48-bit big-endian integer — lexicographic order preserved at
    //    6-byte-prefix resolution, exact in a double (< 2^53). Real
    //    layout keys (domain, lang, country) differentiate in their
    //    prefix; values sharing a full 6-byte prefix collapse into one
    //    bucket, exactly like equal values, and equi-depth cuts still
    //    spread the REST of the key space evenly. Row-group min/max on
    //    the string column stays tight per bucket, so parquet skipping
    //    works on the natural string predicate.
    // An unsupported type would cast to null -> every row in bucket 0
    // -> a degenerate curve that silently clusters NOTHING on that
    // dimension; fail loudly instead.
    def zkey(c: String): org.apache.spark.sql.Column =
      df.schema(c).dataType match {
        case _: NumericType | TimestampType => col(c).cast("double")
        case DateType => col(c).cast("timestamp").cast("double")
        case StringType =>
          conv(hex(rpad(col(c).cast("binary"), 6, Array[Byte](0))),
            16, 10).cast("double")
        case dt => throw new IllegalArgumentException(
          s"z-order needs numeric/timestamp/date/string columns; " +
          s"'$c' is ${dt.catalogString}")
      }
    val d = zCols.size
    val nb = (1 << bits) - 1 // internal boundary count
    val probs = (1 to nb).map(_.toDouble / (nb + 1)).toArray
    // one pass, all columns: equi-depth cut points per dimension
    val asDouble = df.select(zCols.map(c => zkey(c).as(c)): _*)
    val bounds: Seq[Array[Double]] =
      asDouble.stat.approxQuantile(zCols.toArray, probs, quantileError).toSeq
    // bucket_c = #boundaries <= value, binary-searched in codegen
    def bucket(c: String, bs: Array[Double]): org.apache.spark.sql.Column =
      graft.expressions.kernels.toCol(graft.expressions.BucketIndex(
        graft.expressions.kernels.toExpr(zkey(c)), bs))
    val zcol = (0 until bits).flatMap { b =>
      zCols.indices.map { i =>
        // LONG arithmetic: bit positions reach bits*d-1 (31 already at
        // 4 cols x 8 bits) — int shifts would push into the sign bit /
        // wrap mod 32 and silently corrupt the curve ordering
        shiftleft(shiftright(col(s"__bk$i").cast("long"), b)
          .bitwiseAND(lit(1L)), b * d + i)
      }
    }.reduce(_ bitwiseOR _)
    zCols.zipWithIndex.foldLeft(df) { case (acc, (c, i)) =>
      acc.withColumn(s"__bk$i", bucket(c, bounds(i)))
    }.withColumn("__z", zcol)
      .drop(zCols.indices.map(i => s"__bk$i"): _*)
  }

  /** Re-cluster the EXISTING parquet table at `path` in place — the
    * scheduled `OPTIMIZE ... ZORDER BY` maintenance action behind the
    * Zorder/SortedWrite DSL nodes. `zorder = true` rewrites through
    * [[zorderWrite]] (2-4 dims); otherwise [[sortedWrite]] (linear
    * range-cluster + sortWithinPartitions). Same discipline as
    * [[compact]]: single-writer lease, source row count observed
    * during the rewrite scan and verified against the landed parquet
    * BEFORE the swap, rename-aside swap (maintenance-window
    * semantics — manifest tables refuse, their generations must move
    * through the manifest). Row-identical by construction. Returns
    * the verified row count.
    */
  def clusterRewrite(spark: SparkSession, path: String, cols: Seq[String],
                     zorder: Boolean, bits: Int = 8,
                     numFiles: Int = 0): Long =
      withMaintenanceLock(spark, path) {
    requireNotManifest(spark, path, "clusterRewrite")
    require(cols.nonEmpty, "clusterRewrite needs cluster column(s)")
    val fs = TableFs(spark, path)
    val aside = new Path(s"$path.__cluster_old")
    fs.restoreAside(new Path(path), aside)
    val before = spark.read.parquet(path)
    // counted up front, NOT via an Observation riding the rewrite:
    // repartitionByRange's sampling pass re-scans the source inside the
    // same write action and would double the observed metric. A bare
    // parquet count() is a row-group-metadata scan — no columns read.
    val n0 = before.count()
    val tmp = s"$path.__cluster_tmp"
    if (zorder) zorderWrite(before, tmp, cols, bits = bits,
      numFiles = numFiles)
    else sortedWrite(before, tmp, cols, numFiles = numFiles)
    val n1 = spark.read.parquet(tmp).count()
    require(n1 == n0, s"re-cluster would lose rows: $n0 -> $n1; aborting")
    fs.swapDir(new Path(tmp), new Path(path), aside)
    n1
  }
}
