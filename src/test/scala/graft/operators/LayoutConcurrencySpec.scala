package graft.operators

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Optimistic concurrent commits on manifest tables: CDC ingest and
  * maintenance overlap instead of serializing on the single lease —
  * the expensive rewrite runs unlocked against a snapshot, the commit
  * takes the lease briefly, rebases onto concurrent publishes when
  * the touched state allows, retries from fresh otherwise — plus the
  * dead-owner lock liveness (a crashed same-host writer's lease breaks
  * automatically; a live owner's never does). */
class LayoutConcurrencySpec extends SparkSpec {

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft_conc_$tag").resolve("t").toString

  import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}

  private def seed(dir: String, rows: Seq[(Long, String, Double, Long)],
                   statsCols: Seq[String] = Nil): Unit =
    Layout.writeManifestTable(spark, dir,
      rows.toDF("k", "part", "v", "ver"), Seq("part"),
      statsCols = statsCols)

  private def snap(df: DataFrame): Map[Long, Double] =
    df.select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Run thunks concurrently, propagate the first failure. */
  private def inThreads[A](thunks: (() => A)*): Seq[A] = {
    val pool = Executors.newFixedThreadPool(thunks.size)
    try {
      val fs = thunks.map(t => pool.submit(
        new java.util.concurrent.Callable[A] { def call(): A = t() }))
      fs.map { f =>
        try f.get(120, TimeUnit.SECONDS)
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause }
      }
    } finally pool.shutdown()
  }

  test("interleaved mergeManifestDelta + compactManifest from two " +
      "threads: both succeed, final snapshot equals the sequential " +
      "application") {
    val dir = tmpDir("ingest_vs_compact")
    val ref = tmpDir("ingest_vs_compact_ref")
    // a seed heavy enough that the compaction rewrite takes real time
    // while the delta merges land mid-flight
    val seedRows = (1L to 20000L).map(i =>
      (i, s"p${i % 3}", i * 1.0, 1L))
    seed(dir, seedRows); seed(ref, seedRows)
    val deltas = (1 to 4).map(b =>
      (100000L + b, s"p${b % 3}", b * 10.0, 2L))
    val started = new CountDownLatch(1)
    val Seq(compacted, _) = inThreads[Any](
      () => {
        started.await()
        Layout.compactManifest(spark, dir, maxFiles = 0)
      },
      () => {
        started.countDown()
        deltas.foreach { d =>
          Layout.mergeManifestDelta(spark, dir,
            Seq(d).toDF("k", "part", "v", "ver"), Seq("k"), "ver")
        }
      })
    // BOTH succeeded: compaction committed its rewrites (deltas never
    // move base entries, so every selected partition stays committable)
    // and every delta merge published
    assert(compacted.asInstanceOf[Seq[String]].nonEmpty,
      "compaction must commit alongside concurrent ingest")
    // sequential reference: same ops one after another
    Layout.compactManifest(spark, ref, maxFiles = 0)
    deltas.foreach { d =>
      Layout.mergeManifestDelta(spark, ref,
        Seq(d).toDF("k", "part", "v", "ver"), Seq("k"), "ver")
    }
    assert(snap(Layout.readManifest(spark, dir)) ==
      snap(Layout.readManifest(spark, ref)),
      "concurrent result must be hash-exact vs the sequential order")
    // and the interleaving really published both op kinds
    val v = Layout.manifestVersion(spark, dir).get
    assert(v == 1 + 1 + deltas.size,
      s"every publish must land exactly once (live v$v)")
  }

  test("copy-on-write rebase: concurrent CoW merges on DISJOINT " +
      "partitions both commit; on the SAME partition the loser " +
      "retries from fresh and neither update is lost") {
    val dir = tmpDir("cow_race")
    seed(dir, (1L to 30000L).map(i => (i, s"p${i % 2}", i * 1.0, 1L)))
    // heavy merge on p0 (slow write phase) vs light merge on p0 (fast):
    // the light one commits mid-heavy-write, the heavy one's commit
    // detects the moved partition and retries — folding the light
    // merge's row into its re-read base. Without conflict detection
    // the heavy publish would silently DROP the light update.
    val heavy = (1L to 15000L).filter(_ % 2 == 0).map(i =>
      (i, "p0", i * 2.0, 2L))
    val started = new CountDownLatch(1)
    inThreads[Any](
      () => {
        started.await()
        Layout.mergeManifest(spark, dir,
          heavy.toDF("k", "part", "v", "ver"), Seq("k"), "ver")
      },
      () => {
        started.countDown()
        Thread.sleep(150) // land inside the heavy write phase
        Layout.mergeManifest(spark, dir,
          Seq((999999L, "p0", -1.0, 2L)).toDF("k", "part", "v", "ver"),
          Seq("k"), "ver")
      })
    val got = snap(Layout.readManifest(spark, dir))
    assert(got.get(999999L).contains(-1.0),
      "the light merge's row must survive the heavy merge's commit " +
        "(lost-update check)")
    assert(got(2L) == 4.0 && got(14998L) == 29996.0,
      "the heavy merge's updates must all be applied")
    // disjoint partitions: both commit without retries, two versions
    val v0 = Layout.manifestVersion(spark, dir).get
    val started2 = new CountDownLatch(1)
    inThreads[Any](
      () => {
        started2.await()
        Layout.mergeManifest(spark, dir,
          Seq((500001L, "p0", 1.0, 3L)).toDF("k", "part", "v", "ver"),
          Seq("k"), "ver")
      },
      () => {
        started2.countDown()
        Layout.mergeManifest(spark, dir,
          Seq((500002L, "p1", 1.0, 3L)).toDF("k", "part", "v", "ver"),
          Seq("k"), "ver")
      })
    val got2 = snap(Layout.readManifest(spark, dir))
    assert(got2.contains(500001L) && got2.contains(500002L))
    assert(Layout.manifestVersion(spark, dir).contains(v0 + 2))
  }

  test("budgeted spec-migration drain overlapping a migrate-on-touch " +
      "merge: optimistic commits — both land, no row lost or " +
      "duplicated, and the drain still converges") {
    val dir = tmpDir("drain_race")
    val rows = (1L to 30000L).map(i =>
      (i, s"p${i % 3}", (i % 5).toInt, i * 1.0, 1L))
    Layout.writeManifestTable(spark, dir,
      rows.toDF("k", "part", "day", "v", "ver"), Seq("part"))
    Layout.changeManifestPartitionSpec(spark, dir, Seq("day"))
    // the drain's rewrite runs unlocked against its snapshot while the
    // merge (which migrates the old-era partition its key's part value
    // names) publishes mid-flight — whichever commits second detects
    // the moved rels under the lease and retries from fresh; without
    // the optimistic restructure the merge would instead block on the
    // lease for the drain's whole rewrite
    val started = new CountDownLatch(1)
    inThreads[Any](
      () => {
        started.await()
        Layout.migrateManifestPartitions(spark, dir, maxPartitions = 3)
      },
      () => {
        started.countDown()
        Thread.sleep(100) // land inside the drain's rewrite phase
        Layout.mergeManifest(spark, dir,
          Seq((999999L, "p1", 2, -1.0, 2L))
            .toDF("k", "part", "day", "v", "ver"),
          Seq("k"), "ver")
      })
    var spins = 0
    while (Layout.migrateManifestPartitions(spark, dir,
        maxPartitions = 3).nonEmpty && spins < 8) spins += 1
    val m = Layout.readManifestMeta(spark, dir,
      Layout.manifestVersion(spark, dir).get)
    assert(m.oldEraRels.isEmpty && m.specHistory.isEmpty,
      s"the drain must converge to single-spec (spins=$spins)")
    val got = Layout.readManifest(spark, dir)
    assert(got.count() == 30001L, "no row lost or duplicated")
    assert(got.select("k").distinct().count() == 30001L)
    assert(snap(got.filter(col("k") === 999999L))(999999L) == -1.0,
      "the merge's row must survive the drain (lost-update check)")
  }

  test("budgeted drain vs a concurrent insert CREATING one of the " +
      "drain's landing partitions: the created partition is conflict-" +
      "checked (None-vs-Some), not silently replaced — no lost rows") {
    val dir = tmpDir("drain_land")
    // old-era rows will land in day=0..4; day partitions do not exist
    // at the drain's snapshot, so a concurrent insert that CREATES
    // day=2 is invisible to a conflict check scoped to snapshot rels
    val rows = (1L to 30000L).map(i =>
      (i, s"p${i % 3}", (i % 5).toInt, i * 1.0, 1L))
    Layout.writeManifestTable(spark, dir,
      rows.toDF("k", "part", "day", "v", "ver"), Seq("part"))
    Layout.changeManifestPartitionSpec(spark, dir, Seq("day"))
    val started = new CountDownLatch(1)
    inThreads[Any](
      () => {
        started.await()
        Layout.migrateManifestPartitions(spark, dir, maxPartitions = 1)
      },
      () => {
        started.countDown()
        Thread.sleep(100) // land inside the drain's rewrite phase
        // brand-new key, brand-new part value (no old-era partition
        // named — no migrate-on-touch), landing in day=2: the commit
        // CREATES the day=2 rel the drain is about to publish into
        Layout.mergeManifest(spark, dir,
          Seq((999999L, "p9", 2, -1.0, 2L))
            .toDF("k", "part", "day", "v", "ver"),
          Seq("k"), "ver")
      })
    var spins = 0
    while (Layout.migrateManifestPartitions(spark, dir,
        maxPartitions = 1).nonEmpty && spins < 10) spins += 1
    val got = Layout.readManifest(spark, dir)
    assert(got.count() == 30001L,
      "the concurrently created landing partition's rows must survive " +
        "the drain's publish (lost-update check)")
    assert(snap(got.filter(col("k") === 999999L))(999999L) == -1.0)
    val m = Layout.readManifestMeta(spark, dir,
      Layout.manifestVersion(spark, dir).get)
    assert(m.oldEraRels.isEmpty && m.specHistory.isEmpty,
      s"drain must still converge (spins=$spins)")
  }

  test("concurrent SQL UPDATEs through the catalog: both land via the " +
      "optimistic commit (the DML commands mount fresh and rebase like " +
      "every other writer)") {
    val dir = tmpDir("sqlconc")
    Layout.writeManifestTable(spark, dir,
      (1L to 40L).map(k => (k, s"p${k % 4}", k.toDouble, 1L))
        .toDF("k", "part", "v", "ver"), Seq("part"),
      keys = Seq("k"), versionCol = Some("ver"))
    spark.sql("DROP TABLE IF EXISTS t_sqlconc")
    spark.sql(s"CREATE TABLE t_sqlconc USING manifest OPTIONS (path '$dir')")
    // two disjoint-row UPDATEs race; each lands exactly once
    inThreads(
      () => spark.sql("UPDATE t_sqlconc SET v = v + 100, ver = 2 " +
        "WHERE k % 2 = 0"),
      () => spark.sql("UPDATE t_sqlconc SET v = v + 1000, ver = 2 " +
        "WHERE k % 2 = 1"))
    assert(Layout.manifestVersion(spark, dir).contains(3),
      "both UPDATEs must publish exactly once each")
    val got = snap(spark.table("t_sqlconc"))
    val want = (1L to 40L).map(k =>
      k -> (k.toDouble + (if (k % 2 == 0) 100 else 1000))).toMap
    assert(got == want, s"lost or double-applied update: ${
      got.toSeq.sortBy(_._1).take(6)}")
  }

  test("fold rebases around a delta that lands mid-fold: the folded " +
      "base commits, the new delta survives as pending") {
    val dir = tmpDir("fold_race")
    seed(dir, (1L to 20000L).map(i => (i, s"p${i % 2}", i * 1.0, 1L)),
      statsCols = Seq("k"))
    Layout.mergeManifestDelta(spark, dir,
      Seq((100001L, "p0", 1.0, 2L), (100002L, "p1", 1.0, 2L))
        .toDF("k", "part", "v", "ver"), Seq("k"), "ver")
    val started = new CountDownLatch(1)
    val Seq(folded, _) = inThreads[Any](
      () => {
        started.await()
        Layout.foldManifestDeltas(spark, dir)
      },
      () => {
        started.countDown()
        Thread.sleep(150) // land inside the fold's rewrite phase
        Layout.mergeManifestDelta(spark, dir,
          Seq((100003L, "p0", 3.0, 3L)).toDF("k", "part", "v", "ver"),
          Seq("k"), "ver")
      })
    // every row is present regardless of which interleaving happened
    val got = snap(Layout.readManifest(spark, dir))
    assert(got.contains(100001L) && got.contains(100002L) &&
      got.get(100003L).contains(3.0), s"rows lost in the race")
    // if the delta landed mid-fold (the overwhelmingly likely timing),
    // the fold still committed BOTH partitions — the new delta rebased
    // to a surviving pending entry instead of blocking the fold
    val m = Layout.readManifestMeta(spark, dir,
      Layout.manifestVersion(spark, dir).get)
    val pending = m.deltas.values.flatten.size
    assert(folded.asInstanceOf[Seq[String]].nonEmpty,
      "fold must commit alongside concurrent ingest")
    assert(pending <= 1,
      s"at most the mid-fold delta may remain pending (got $pending)")
    // STATS SOUNDNESS across the rebase: the surviving delta's rows
    // must remain findable through pruned reads — the fold must NOT
    // have replaced the partition's widened stats with its own exact
    // (pre-delta) bounds while the delta still pends
    val hit = Layout.readManifestPruned(spark, dir,
      Seq(("k", "100003", "100003")))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(hit == Set(100003L),
      s"pruned read lost the surviving delta's row: $hit")
  }

  test("sinkBatch markers survive a concurrent maintenance rebase; " +
      "replay still refuses after the interleaving") {
    val dir = tmpDir("marker_rebase")
    seed(dir, (1L to 20000L).map(i => (i, s"p${i % 2}", i * 1.0, 1L)))
    val started = new CountDownLatch(1)
    inThreads[Any](
      () => {
        started.await()
        // heavy compaction committing AFTER the delta below publishes:
        // its rebase onto the delta's version must carry the marker
        Layout.compactManifest(spark, dir, maxFiles = 0)
      },
      () => {
        started.countDown()
        Thread.sleep(150)
        Layout.mergeManifestDelta(spark, dir,
          Seq((200001L, "p0", 1.0, 2L)).toDF("k", "part", "v", "ver"),
          Seq("k"), "ver", batchId = 7L, sinkId = "q1")
      })
    val m = Layout.readManifestMeta(spark, dir,
      Layout.manifestVersion(spark, dir).get)
    assert(m.sinkBatch("q1") == 7L,
      s"marker lost across the rebase: ${m.sinkBatches}")
    // replay of the same id is still a quiet no-op
    assert(!Layout.mergeManifestDelta(spark, dir,
      Seq((200001L, "p0", 1.0, 2L)).toDF("k", "part", "v", "ver"),
      Seq("k"), "ver", batchId = 7L, sinkId = "q1"))
  }

  test("lease liveness: a crashed same-host owner's lock breaks " +
      "automatically; a live owner's lock still refuses") {
    val dir = tmpDir("liveness")
    seed(dir, Seq((1L, "a", 1.0, 1L)))
    val lock = new java.io.File(s"$dir.__maint.lock")
    // a pid far above any real pid_max: provably no live process
    java.nio.file.Files.writeString(lock.toPath,
      "pid=999999999 thread=crashed-writer")
    assert(Layout.mergeManifest(spark, dir,
      Seq((2L, "a", 2.0, 2L)).toDF("k", "part", "v", "ver"),
      Seq("k"), "ver"), "dead-owner lock must break automatically")
    assert(snap(Layout.readManifest(spark, dir)).contains(2L))
    assert(!lock.exists(), "the broken lock must be gone")
    // a LIVE owner (this very process) is never broken
    java.nio.file.Files.writeString(lock.toPath,
      s"pid=${ProcessHandle.current().pid()} thread=live-writer")
    spark.conf.set("spark.graft.manifest.lockWaitMs", "300")
    try {
      val e = intercept[IllegalStateException] {
        Layout.mergeManifest(spark, dir,
          Seq((3L, "a", 3.0, 3L)).toDF("k", "part", "v", "ver"),
          Seq("k"), "ver")
      }
      assert(e.getMessage.contains("maintenance writer"), e.getMessage)
    } finally spark.conf.unset("spark.graft.manifest.lockWaitMs")
    assert(lock.delete())
  }

  test("lease heartbeat liveness: a lock with a STALE heartbeat breaks " +
      "automatically even when its pid is alive (the remote-host crash " +
      "shape); a live holder's heartbeat keeps the lease unbreakable") {
    val dir = tmpDir("hb_liveness")
    seed(dir, Seq((1L, "a", 1.0, 1L)))
    val lock = new java.io.File(s"$dir.__maint.lock")
    // a crashed writer on ANOTHER HOST: the recorded pid happens to be
    // alive LOCALLY (this process), so the pid probe refuses — only
    // the stale heartbeat identifies the crash
    java.nio.file.Files.writeString(lock.toPath,
      s"pid=${ProcessHandle.current().pid()} thread=remote-crashed")
    assert(lock.setLastModified(System.currentTimeMillis() - 60000))
    spark.conf.set("spark.graft.manifest.leaseStaleMs", "1500")
    spark.conf.set("spark.graft.manifest.leaseHeartbeatMs", "100")
    try {
      assert(Layout.mergeManifest(spark, dir,
        Seq((2L, "a", 2.0, 2L)).toDF("k", "part", "v", "ver"),
        Seq("k"), "ver"), "stale-heartbeat lock must break automatically")
      assert(!lock.exists(), "the broken lock must be gone")
      // a LIVE holder: its heartbeat thread refreshes the lock's mtime
      // faster than the stale threshold, so a concurrent writer waits
      // and fails loudly — never breaks the live lease
      val held = new CountDownLatch(1)
      val release = new CountDownLatch(1)
      val holder = new Thread(() =>
        Layout.withMaintenanceLock(spark, dir) {
          held.countDown()
          release.await(20, TimeUnit.SECONDS); ()
        })
      holder.start()
      assert(held.await(10, TimeUnit.SECONDS))
      spark.conf.set("spark.graft.manifest.lockWaitMs", "3000")
      try {
        val e = intercept[IllegalStateException] {
          Layout.mergeManifest(spark, dir,
            Seq((3L, "a", 3.0, 3L)).toDF("k", "part", "v", "ver"),
            Seq("k"), "ver")
        }
        assert(e.getMessage.contains("maintenance writer"), e.getMessage)
      } finally {
        spark.conf.unset("spark.graft.manifest.lockWaitMs")
        release.countDown()
        holder.join(10000)
      }
      // after the holder releases, the same merge lands
      assert(Layout.mergeManifest(spark, dir,
        Seq((3L, "a", 3.0, 3L)).toDF("k", "part", "v", "ver"),
        Seq("k"), "ver"))
    } finally {
      spark.conf.unset("spark.graft.manifest.leaseStaleMs")
      spark.conf.unset("spark.graft.manifest.leaseHeartbeatMs")
    }
  }

  test("orphan-tmp sweep discriminates by heartbeat: a long-running " +
      "writer's quiet-rooted tmp tree survives the reap, a heartbeat-" +
      "stale tree is swept") {
    val dir = tmpDir("tmp_sweep")
    seed(dir, Seq((1L, "a", 1.0, 1L)))
    val old = System.currentTimeMillis() - 2 * 3600 * 1000L
    // in-flight shape: root mtime hours old (a >1h scan phase moves no
    // direct child) but the writer's heartbeat is FRESH
    val inflight = new java.io.File(s"$dir.__manifest_tmp.inflight00")
    assert(inflight.mkdirs())
    val hb = new java.io.File(inflight, "_GRAFT_HEARTBEAT")
    java.nio.file.Files.writeString(hb.toPath, "")
    assert(inflight.setLastModified(old))
    // abandoned shape: root AND heartbeat both stale
    val orphan = new java.io.File(s"$dir.__manifest_tmp.abandoned0")
    assert(orphan.mkdirs())
    val hbOld = new java.io.File(orphan, "_GRAFT_HEARTBEAT")
    java.nio.file.Files.writeString(hbOld.toPath, "")
    assert(hbOld.setLastModified(old))
    assert(orphan.setLastModified(old))
    Layout.reapManifest(spark, dir)
    assert(inflight.exists(),
      "a tmp tree with a live heartbeat must survive the sweep")
    assert(!orphan.exists(),
      "a heartbeat-stale tmp tree must be swept")
    assert(inflight.delete() || { hb.delete(); inflight.delete() })
  }

  /** Run `body` with `inject` landing on `dir` between staging and the
    * commit lease of each of the next `times` commits there — not
    * re-entrantly, so the injected writer's own commit runs plain. */
  private def withInjected[A](dir: String, times: Int)(inject: () => Unit)
                             (body: => A): A = {
    var left = times
    var inHook = false
    Layout.beforeCommitLease = p =>
      if (p == dir && left > 0 && !inHook) {
        left -= 1
        inHook = true
        try inject() finally inHook = false
      }
    try body finally Layout.beforeCommitLease = _ => ()
  }

  private def merge1(dir: String, k: Long, v: Double, ver: Long): Boolean =
    Layout.mergeManifest(spark, dir,
      Seq((k, "p0", v, ver)).toDF("k", "part", "v", "ver"), Seq("k"), "ver")

  test("commit retry: one concurrent same-partition merge costs exactly " +
      "one retry and loses neither update") {
    val dir = tmpDir("retry_once")
    seed(dir, Seq((1L, "p0", 1.0, 1L), (2L, "p0", 2.0, 1L),
      (3L, "p1", 3.0, 1L)))
    val c0 = Layout.commitConflicts.get()
    assert(withInjected(dir, 1)(() => merge1(dir, 2L, 20.0, 2L)) {
      merge1(dir, 1L, 10.0, 2L)
    })
    assert(Layout.commitConflicts.get() - c0 == 1)
    assert(snap(Layout.readManifest(spark, dir)) ==
      Map(1L -> 10.0, 2L -> 20.0, 3L -> 3.0))
  }

  test("commit exhaustion: a concurrent merge before every attempt " +
      "fails loudly after 3 conflicts, naming the op") {
    val dir = tmpDir("retry_exhaust")
    seed(dir, Seq((1L, "p0", 1.0, 1L), (2L, "p0", 2.0, 1L)))
    val c0 = Layout.commitConflicts.get()
    var ver = 1L
    val e = intercept[IllegalStateException] {
      withInjected(dir, Int.MaxValue) { () =>
        ver += 1
        merge1(dir, 2L, ver * 10.0, ver)
      } {
        merge1(dir, 1L, 10.0, 9L)
      }
    }
    assert(e.getMessage.contains("commit conflicted 3 times") &&
      e.getMessage.contains("mergeManifest"), e.getMessage)
    assert(Layout.commitConflicts.get() - c0 == 3)
    // the three injected merges committed; the exhausted one did not
    assert(snap(Layout.readManifest(spark, dir)) ==
      Map(1L -> 1.0, 2L -> 40.0))
  }

  test("commit rebase: a concurrent append to the same partition " +
      "rebases without a conflict and keeps both batches") {
    val dir = tmpDir("append_rebase")
    Layout.writeManifestTable(spark, dir,
      Seq((1L, "p0", 1.0)).toDF("k", "part", "v"), Seq("part"),
      appendOnly = true)
    def append1(k: Long): Boolean = Layout.appendManifest(spark, dir,
      Seq((k, "p0", k * 1.0)).toDF("k", "part", "v"))
    val c0 = Layout.commitConflicts.get()
    assert(withInjected(dir, 1)(() => append1(11L)) { append1(10L) })
    assert(Layout.commitConflicts.get() == c0)
    assert(snap(Layout.readManifest(spark, dir)) ==
      Map(1L -> 1.0, 10L -> 10.0, 11L -> 11.0))
  }
}
