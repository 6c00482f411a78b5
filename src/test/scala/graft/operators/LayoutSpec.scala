package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

import graft.SparkSpec

class LayoutSpec extends SparkSpec {

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft_layout_$tag").resolve("t").toString

  test("compact collapses append small-files, preserves rows and layout") {
    val dir = tmpDir("compact")
    val li = spark.read.parquet(sf("lineitem"))
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    // 5 micro-batch appends into a partitioned layout: each drops one
    // file per task per touched partition directory
    for (b <- 0 until 5)
      li.filter(pmod(col("l_orderkey"), lit(5)) === b)
        .write.mode("append").partitionBy("l_returnflag").parquet(dir)
    // full-row sort: (orderkey, linenumber) is NOT unique across the
    // source table, so a two-column sort leaves tie order unspecified
    def allRows(p: String): Seq[String] = spark.read.parquet(p)
      .collect().map(_.mkString("|")).toSeq.sorted
    val expected = allRows(dir)
    val (before, after) = Layout.compact(spark, dir, Seq("l_returnflag"))
    assert(after < before, s"no shrink: $before -> $after")
    // one clustered task per partition value (3 return flags)
    assert(after <= 3, s"expected <=3 files, got $after")
    assert(allRows(dir) == expected)
    // partition layout preserved: a flag predicate still prunes to that
    // flag's directory (scan metrics, not inputFiles — inputFiles lists
    // the pre-pruning file index)
    val one = spark.read.parquet(dir).filter(col("l_returnflag") === "R")
    one.collect()
    val readFiles = scanFiles(one)
    assert(readFiles < after, s"read $readFiles of $after files")
  }

  test("versionAtTimestamp resolves the newest version published at or " +
      "before the instant; boundaries and legacy manifests refuse " +
      "loudly") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val dir = tmpDir("tstravel")
    Layout.writeManifestTable(spark, dir,
      Seq((1L, "a", 1.0, 1L)).toDF("k", "part", "v", "ver"), Seq("part"))
    for (n <- 2 to 4) {
      Thread.sleep(15) // strictly separate the stamps
      Layout.mergeManifest(spark, dir,
        Seq((1L, "a", n.toDouble, n.toLong)).toDF("k", "part", "v", "ver"),
        Seq("k"), "ver")
    }
    val stamps = (1 to 4).map(v =>
      v -> Layout.readManifestMeta(spark, dir, v).publishedAtMs).toMap
    assert(stamps.values.toSeq == stamps.values.toSeq.sorted,
      s"publish stamps must be monotone: $stamps")
    // exact stamp -> that version; between two -> the earlier;
    // at/after the newest -> the newest
    assert(Layout.versionAtTimestamp(spark, dir, stamps(2)) == 2)
    assert(Layout.versionAtTimestamp(spark, dir, stamps(3) - 1) == 2)
    assert(Layout.versionAtTimestamp(spark, dir, stamps(4)) == 4)
    assert(Layout.versionAtTimestamp(spark, dir,
      stamps(4) + 3600000L) == 4)
    // before the earliest retained version: loud refusal naming it
    val e = intercept[IllegalArgumentException] {
      Layout.versionAtTimestamp(spark, dir, stamps(1) - 1) }
    assert(e.getMessage.contains("predates the earliest retained"),
      e.getMessage)
    // a manifest written before the stamp field existed refuses with
    // the VERSION AS OF remedy (simulated by stripping the field)
    val v1 = new java.io.File(dir, "_MANIFEST.v1")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(v1)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    root.remove("publishedAtMs")
    java.nio.file.Files.write(v1.toPath, om.writeValueAsBytes(root))
    val e2 = intercept[IllegalArgumentException] {
      Layout.versionAtTimestamp(spark, dir, stamps(2)) }
    assert(e2.getMessage.contains("VERSION AS OF"), e2.getMessage)
  }

  test("timestampAsOf DataFrame option accepts any timestamp-castable " +
      "literal (SQL TIMESTAMP AS OF parity): date-only, ISO-offset, " +
      "space-separated; garbage refuses naming the formats") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val dir = tmpDir("tsopt")
    Layout.writeManifestTable(spark, dir,
      Seq((1L, "a", 1.0, 1L)).toDF("k", "part", "v", "ver"), Seq("part"))
    Layout.mergeManifest(spark, dir,
      Seq((2L, "a", 2.0, 2L)).toDF("k", "part", "v", "ver"),
      Seq("k"), "ver")
    // pin stamps to known instants (session zone is UTC): v1 at
    // 2020-01-01T12:00Z, v2 at 2020-06-01T00:00Z
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    Seq(1 -> 1577880000000L, 2 -> 1590969600000L).foreach {
      case (ver, ms) =>
        val f = new java.io.File(dir, s"_MANIFEST.v$ver")
        val root = om.readTree(f)
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        root.put("publishedAtMs", ms)
        java.nio.file.Files.write(f.toPath, om.writeValueAsBytes(root))
    }
    def countAt(ts: String): Long =
      spark.read.format("manifest").option("path", dir)
        .option("timestampAsOf", ts).load().count()
    assert(countAt("2020-01-02") == 1)              // date-only
    assert(countAt("2020-06-01 00:00:00") == 2)     // space-separated
    assert(countAt("2020-01-01T14:00:00+02:00") == 1) // ISO offset
    assert(countAt((1590969600000L + 5).toString) == 2) // epoch millis
    val e = intercept[IllegalArgumentException] { countAt("not a time") }
    assert(e.getMessage.contains("timestamp-castable"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] { countAt("") }
    assert(e2.getMessage.contains("timestamp"), e2.getMessage)
  }

  test("reapManifest keepAgeMs: retention by AGE composes with the " +
      "version count as the union — the floor covers every instant in " +
      "the window") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val dir = tmpDir("agereap")
    Layout.writeManifestTable(spark, dir,
      Seq((1L, "a", 1.0, 1L)).toDF("k", "part", "v", "ver"), Seq("part"))
    for (n <- 2 to 4)
      Layout.mergeManifest(spark, dir,
        Seq((1L, "a", n.toDouble, n.toLong)).toDF("k", "part", "v", "ver"),
        Seq("k"), "ver")
    // age the stamps on disk: v1 100h old, v2 50h, v3 10h, v4 now
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val now = System.currentTimeMillis()
    Seq(1 -> 100L, 2 -> 50L, 3 -> 10L).foreach { case (ver, hoursOld) =>
      val f = new java.io.File(dir, s"_MANIFEST.v$ver")
      val root = om.readTree(f)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      root.put("publishedAtMs", now - hoursOld * 3600000L)
      java.nio.file.Files.write(f.toPath, om.writeValueAsBytes(root))
    }
    // keepVersions=1 alone would reap v1..v3; a 24h age window must
    // ALSO keep v3 (inside it) and v2 (it SERVES time travel to the
    // 24h-ago instant) — only v1 goes
    Layout.reapManifest(spark, dir, keepVersions = 1,
      keepAgeMs = 24L * 3600000L)
    assert(Layout.manifestVersions(spark, dir) == Seq(2, 3, 4))
    // the whole window still time-travels: the cutoff instant resolves
    assert(Layout.versionAtTimestamp(spark, dir,
      now - 24L * 3600000L) == 2)
    intercept[IllegalArgumentException] {
      Layout.readManifestVersion(spark, dir, 1).collect() }
    // an age window wider than the table keeps everything
    Layout.reapManifest(spark, dir, keepVersions = 1,
      keepAgeMs = 1000L * 3600000L)
    assert(Layout.manifestVersions(spark, dir) == Seq(2, 3, 4))
  }

  test("reapManifest keepAgeMs on a PRE-STAMP table: versions written " +
      "before publishedAtMs existed rank as infinitely old — age " +
      "retention works on upgraded tables instead of hard-failing " +
      "with the time-travel remedy") {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val dir = tmpDir("prestampreap")
    Layout.writeManifestTable(spark, dir,
      Seq((1L, "a", 1.0, 1L)).toDF("k", "part", "v", "ver"), Seq("part"))
    for (n <- 2 to 4)
      Layout.mergeManifest(spark, dir,
        Seq((1L, "a", n.toDouble, n.toLong)).toDF("k", "part", "v", "ver"),
        Seq("k"), "ver")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val now = System.currentTimeMillis()
    // v1+v2 predate the stamp field (simulated by stripping it); v3 is
    // 50h old, v4 fresh
    Seq(1, 2).foreach { ver =>
      val f = new java.io.File(dir, s"_MANIFEST.v$ver")
      val root = om.readTree(f)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      root.remove("publishedAtMs")
      java.nio.file.Files.write(f.toPath, om.writeValueAsBytes(root))
    }
    locally {
      val f = new java.io.File(dir, "_MANIFEST.v3")
      val root = om.readTree(f)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      root.put("publishedAtMs", now - 50L * 3600000L)
      java.nio.file.Files.write(f.toPath, om.writeValueAsBytes(root))
    }
    // a 100h window: no stamped version is older than the cutoff, so
    // the floor lands on the newest UNSTAMPED version (v2) — v1 reaps,
    // v2 stays to serve the cutoff instant
    Layout.reapManifest(spark, dir, keepVersions = 1,
      keepAgeMs = 100L * 3600000L)
    assert(Layout.manifestVersions(spark, dir) == Seq(2, 3, 4))
    // a 1h window: v3 (50h) serves the cutoff — the remaining
    // pre-stamp version reaps beyond the count floor, no hard fail
    Layout.reapManifest(spark, dir, keepVersions = 1,
      keepAgeMs = 1L * 3600000L)
    assert(Layout.manifestVersions(spark, dir) == Seq(3, 4))
  }

  test("compact without partition columns coalesces a flat directory") {
    val dir = tmpDir("flat")
    val li = spark.read.parquet(sf("lineitem")).select("l_orderkey", "l_quantity")
    for (b <- 0 until 6)
      li.filter(pmod(col("l_orderkey"), lit(6)) === b)
        .repartition(4).write.mode("append").parquet(dir)
    val n = spark.read.parquet(dir).count()
    val (before, after) = Layout.compact(spark, dir)
    assert(after < before)
    assert(spark.read.parquet(dir).count() == n)
  }

  private def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans)
  }

  private def scanOutputRows(df: DataFrame): Long = {
    df.collect()
    scans(df.queryExecution.executedPlan)
      .map(_.metrics("numOutputRows").value).sum
  }

  private def scanFiles(df: DataFrame): Long =
    scans(df.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum

  /** The `rel/gen=G` dirs a read of table `dir` touches: the explicit
    * readers' input files, or, for a manifest-index scan, the files its
    * pruned listing returns for the scan's own pushed filters. */
  private def genDirsRead(dir: String, df: DataFrame): Set[String] = {
    val files = scans(df.queryExecution.executedPlan).flatMap { s =>
      s.relation.location match {
        case idx: graft.plans.ManifestFileIndex =>
          idx.listFiles(s.partitionFilters, s.dataFilters)
            .flatMap(_.files.map(_.getPath.toString))
        case other => other.inputFiles.toSeq
      }
    }
    val root = new org.apache.hadoop.fs.Path(dir).toUri.getPath + "/"
    files.map(f => new org.apache.hadoop.fs.Path(f).getParent.toUri.getPath
      .stripPrefix(root)).toSet
  }

  test("merge: latest-wins upsert, unpartitioned — update, insert, carry-over") {
    val dir = tmpDir("merge")
    val base = spark.read.parquet(sf("orders"))
      .select(col("o_orderkey"), col("o_totalprice"), lit(1L).as("ver"))
    base.write.parquet(dir)
    val updates = spark.read.parquet(sf("orders"))
      .filter(pmod(col("o_orderkey"), lit(10)) === 0)
      .select(col("o_orderkey"), (col("o_totalprice") + 100).as("o_totalprice"),
        lit(2L).as("ver"))
      .unionByName(spark.read.parquet(sf("orders"))
        .filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
          col("o_totalprice"), lit(2L).as("ver")))
    Layout.merge(spark, dir, updates, Seq("o_orderkey"), "ver")
    val got = spark.read.parquet(dir)
    // reference result: latest version per key over base ∪ updates
    val expect = base.unionByName(updates)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("o_orderkey").orderBy(col("ver").desc)))
      .filter(col("__rn") === 1).drop("__rn")
    assert(got.count() == expect.count())
    assert(got.exceptAll(expect).isEmpty && expect.exceptAll(got).isEmpty)
    // idempotence: same batch again (ver ties) — update side wins ties,
    // so the surviving rows are unchanged
    Layout.merge(spark, dir, updates, Seq("o_orderkey"), "ver")
    val again = spark.read.parquet(dir)
    assert(again.exceptAll(expect).isEmpty && expect.exceptAll(again).isEmpty)
  }

  test("mergeManifest skew guard: the two-exchange fallback (hot " +
      "landing partition) publishes exactly the single-shuffle result") {
    def seedAndMerge(dir: String): Unit = {
      val base = spark.read.parquet(sf("orders"))
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("o_year"),
          col("o_totalprice"), lit(1L).as("ver"))
      Layout.writeManifestTable(spark, dir, base, Seq("o_year"))
      val batch = base
        .filter(pmod(col("o_orderkey"), lit(5)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 42)
        .withColumn("ver", lit(2L))
        .withColumn("del", pmod(col("o_orderkey"), lit(25)) === 0)
      Layout.mergeManifest(spark, dir, batch, Seq("o_orderkey"), "ver",
        deleteCol = Some("del"))
    }
    val a = tmpDir("skewa")
    seedAndMerge(a) // default threshold: single-shuffle clustered window
    val b = tmpDir("skewb")
    // the hot-rel threshold is 16 x the advisory partition size: at 1
    // byte every rel is "hot", forcing the two-exchange fallback
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(key, "1")
    try seedAndMerge(b) finally spark.conf.unset(key)
    val ra = Layout.readManifest(spark, a)
    val rb = Layout.readManifest(spark, b)
    assert(ra.count() == rb.count())
    assert(ra.exceptAll(rb).isEmpty && rb.exceptAll(ra).isEmpty,
      "hot-partition fallback must publish byte-identical winners")
  }

  test("a key moved across touched partitions resolves alike on the " +
      "fast path, the skew fallback, merge-on-read and plain merge") {
    import spark.implicits._
    val base = Seq((1L, "A", 1.0, 1L), (2L, "B", 2.0, 1L))
      .toDF("k", "p", "v", "ver")
    // key 1's update row lands in B while its base row sits in A, and
    // key 3 touches A too: both partitions are read and rewritten
    val batch = Seq((1L, "B", 10.0, 2L), (3L, "A", 3.0, 2L))
      .toDF("k", "p", "v", "ver")
    def publish(tag: String)(merge: String => Unit): Set[(Long, String, Double)] = {
      val dir = tmpDir(tag)
      Layout.writeManifestTable(spark, dir, base, Seq("p"))
      merge(dir)
      Layout.readManifest(spark, dir).select("k", "p", "v")
        .as[(Long, String, Double)].collect().toSet
    }
    val fast = publish("moved_fast")(
      Layout.mergeManifest(spark, _, batch, Seq("k"), "ver"))
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    spark.conf.set(key, "1")
    val fallback = try publish("moved_fallback")(
      Layout.mergeManifest(spark, _, batch, Seq("k"), "ver"))
    finally spark.conf.unset(key)
    val mor = publish("moved_mor")(
      Layout.mergeManifestDelta(spark, _, batch, Seq("k"), "ver"))
    val plainDir = tmpDir("moved_plain")
    base.write.partitionBy("p").parquet(plainDir)
    Layout.merge(spark, plainDir, batch, Seq("k"), "ver",
      partitionCols = Seq("p"))
    val plain = spark.read.parquet(plainDir).select("k", "p", "v")
      .as[(Long, String, Double)].collect().toSet
    // one window by (partition, key): a key is one key per partition
    val expect = Set((1L, "A", 1.0), (1L, "B", 10.0), (2L, "B", 2.0),
      (3L, "A", 3.0))
    assert(fast == expect)
    assert(fallback == expect)
    assert(mor == expect)
    assert(plain == expect)
  }

  test("merge: partitioned copy-on-write touches ONLY the batch's partitions") {
    val dir = tmpDir("merge_part")
    val base = spark.read.parquet(sf("orders"))
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        lit(1L).as("ver"))
    base.write.partitionBy("o_orderstatus").parquet(dir)
    def partFiles(status: String): Set[String] = {
      val d = new java.io.File(s"$dir/o_orderstatus=$status")
      if (!d.exists) Set.empty
      else d.listFiles.filter(_.getName.endsWith(".parquet"))
        .map(f => s"${f.getName}:${f.lastModified}").toSet
    }
    val untouchedBefore = partFiles("F")
    assert(untouchedBefore.nonEmpty)
    // batch touches only status O, plus a brand-new partition value X
    val updates = spark.read.parquet(sf("orders"))
      .filter(col("o_orderstatus") === "O" &&
        pmod(col("o_orderkey"), lit(5)) === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice") * 2).as("o_totalprice"), lit(2L).as("ver"))
      .unionByName(spark.range(1).select(
        lit(999999999L).as("o_orderkey"), lit("X").as("o_orderstatus"),
        lit(1.0).as("o_totalprice"), lit(2L).as("ver")))
    Layout.merge(spark, dir, updates, Seq("o_orderkey"), "ver",
      partitionCols = Seq("o_orderstatus"))
    // untouched partition: byte-identical file listing (never rewritten)
    assert(partFiles("F") == untouchedBefore)
    // new partition landed
    assert(partFiles("X").nonEmpty)
    val got = spark.read.parquet(dir)
    val expect = base.unionByName(updates.select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("ver")))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("o_orderkey").orderBy(col("ver").desc)))
      .filter(col("__rn") === 1).drop("__rn")
    assert(got.select("o_orderkey", "o_totalprice", "ver", "o_orderstatus")
      .exceptAll(expect.select("o_orderkey", "o_totalprice", "ver", "o_orderstatus"))
      .isEmpty)
    assert(got.count() == expect.count())
  }

  test("merge with deleteCol: tombstones remove keys; no-retention replay semantics") {
    val dir = tmpDir("merge_cdc")
    val base = spark.range(100).select(col("id").as("k"),
      (col("id") * 10).cast("double").as("v"), lit(1L).as("ver"))
    base.write.parquet(dir)
    // batch A (ver 3): delete keys 5 and 6
    val delBatch = spark.range(5, 7).select(col("id").as("k"),
      lit(0.0).as("v"), lit(3L).as("ver"), lit(true).as("del"))
    // batch B (ver 2, OLDER): live update of key 5 — replayed after A
    val updBatch = spark.range(5, 6).select(col("id").as("k"),
      lit(99.0).as("v"), lit(2L).as("ver"), lit(false).as("del"))
    Layout.merge(spark, dir, delBatch, Seq("k"), "ver",
      deleteCol = Some("del"))
    assert(spark.read.parquet(dir).filter(col("k").isin(5, 6)).count() == 0)
    assert(spark.read.parquet(dir).count() == 98)
    // out-of-order replay: the older live row must NOT resurrect key 5
    Layout.merge(spark, dir, updBatch, Seq("k"), "ver",
      deleteCol = Some("del"))
    // key 5 was tombstoned at ver 3; the ver-2 row wins only against
    // rows it outversions — but the tombstone already REMOVED the key
    // from the table, so the replayed update re-inserts at ver 2. The
    // convergence contract therefore requires tombstone retention for
    // full out-of-order safety (documented); IN-ORDER apply is exact:
    val got5 = spark.read.parquet(dir).filter(col("k") === 5)
    assert(got5.count() == 1 && got5.head().getDouble(1) == 99.0)
  }

  test("partitioned CDC: a fully-deleted partition's directory goes too") {
    import spark.implicits._
    val dir = tmpDir("cdcpart")
    Seq((1L, "A", 1.0, 1L), (2L, "A", 2.0, 1L), (3L, "B", 3.0, 1L))
      .toDF("k", "p", "v", "ver")
      .write.partitionBy("p").parquet(dir)
    // delete BOTH keys of partition A: the batch's write produces no
    // p=A output, so the old dir must be dropped explicitly or the
    // deletes silently survive
    val batch = Seq((1L, "A", 1.0, 2L, true), (2L, "A", 2.0, 2L, true))
      .toDF("k", "p", "v", "ver", "del")
    Layout.merge(spark, dir, batch, Seq("k"), "ver",
      partitionCols = Seq("p"), deleteCol = Some("del"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 1, "only partition B's row survives")
    assert(back.select("k").head().getLong(0) == 3L)
    assert(!new java.io.File(s"$dir/p=A").exists(), "emptied dir removed")
    // MIXED batch: delete all of B while updating C — the surviving
    // touched partition must NOT be swept by the emptied-dir cleanup
    // (regression: the tmp listing must be captured before the swap)
    Seq((4L, "C", 4.0, 1L)).toDF("k", "p", "v", "ver")
      .write.mode("append").partitionBy("p").parquet(dir)
    val batch2 = Seq((3L, "B", 3.0, 2L, true), (4L, "C", 44.0, 2L, false))
      .toDF("k", "p", "v", "ver", "del")
    Layout.merge(spark, dir, batch2, Seq("k"), "ver",
      partitionCols = Seq("p"), deleteCol = Some("del"))
    val back2 = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(back2 == Seq((4L, 44.0)), s"got $back2")
    assert(!new java.io.File(s"$dir/p=B").exists())
    assert(new java.io.File(s"$dir/p=C").exists(), "updated dir survives")
  }

  test("generational: pinned reader survives concurrent compact; reap after drain") {
    val dir = tmpDir("gen")
    val li = spark.read.parquet(sf("lineitem")).select("l_orderkey", "l_quantity")
    for (b <- 0 until 4)
      li.filter(pmod(col("l_orderkey"), lit(4)) === b)
        .repartition(3).write.mode("append").parquet(dir)
    val n = li.count()
    // flat legacy dir migrates: first compactGen writes gen-1 + _CURRENT
    assert(Layout.currentGeneration(spark, dir).isEmpty)
    Layout.compactGen(spark, dir)
    assert(Layout.currentGeneration(spark, dir).contains(1))
    // pin a reader to gen-1 (its file listing resolves now)
    val pinned = Layout.readCurrent(spark, dir)
    assert(pinned.count() == n)
    // concurrent maintenance: merge an update batch -> gen-2 swaps live
    import spark.implicits._
    val minKey = pinned.agg(min("l_orderkey")).as[Long].head()
    val updates = Seq((minKey, -1.0, 1L)).toDF("l_orderkey", "l_quantity", "v")
    val versioned = Layout.readCurrent(spark, dir).withColumn("v", lit(0L))
    val vdir = tmpDir("genv")
    versioned.write.parquet(vdir)            // flat
    Layout.compactGen(spark, vdir)           // migrate -> gen-1
    val pinnedV = Layout.readCurrent(spark, vdir)
    Layout.mergeGen(spark, vdir, updates, Seq("l_orderkey"), "v")
    assert(Layout.currentGeneration(spark, vdir).contains(2))
    // the pinned reader STILL sees its generation — no torn window, no
    // changed rows (old gen files are untouched on disk)
    assert(pinnedV.filter(col("l_quantity") === -1.0).count() == 0)
    assert(pinnedV.count() == n)
    // new readers resolve the new generation: the merge landed
    val live = Layout.readCurrent(spark, vdir)
    assert(live.filter(col("l_quantity") === -1.0).count() == 1)
    // time-travel: the retained pre-merge generation is readable by id
    assert(Layout.generations(spark, vdir) == Seq(0, 1, 2))
    assert(Layout.readGeneration(spark, vdir, 1)
      .filter(col("l_quantity") === -1.0).count() == 0,
      "gen-1 predates the merge")
    intercept[IllegalArgumentException] {
      Layout.readGeneration(spark, vdir, 9)
    }
    // reap after drain: gen-1 deleted, live generation intact
    val reaped = Layout.reapGenerations(spark, vdir)
    assert(reaped.contains(1), s"gen-1 reaped, got $reaped")
    assert(!new java.io.File(vdir + "/gen-1").exists())
    assert(Layout.readCurrent(spark, vdir)
      .filter(col("l_quantity") === -1.0).count() == 1)
    // back on the migrated flat table: reap deletes the flat legacy files
    val reapedFlat = Layout.reapGenerations(spark, dir)
    assert(reapedFlat.contains(0), s"flat legacy reaped, got $reapedFlat")
    assert(Layout.readCurrent(spark, dir).count() == n)
  }

  test("zorderWrite preserves rows and skips on BOTH z-columns") {
    val zdir = tmpDir("zorder")
    val ldir = tmpDir("linear")
    val ev = spark.read.parquet(sf("events"))
      .select("event_id", "user_id", "value")
    Layout.zorderWrite(ev, zdir, Seq("user_id", "value"), numFiles = 8)
    Layout.sortedWrite(ev, ldir, Seq("user_id"), numFiles = 8)
    // row-identical
    def allRows(df: DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).toSeq.sorted
    assert(allRows(spark.read.parquet(zdir)) == allRows(ev))
    val total = ev.count()
    val vHi = ev.stat.approxQuantile("value", Array(0.99), 0.001)(0)
    // value predicate: the user_id-sorted layout carries the full value
    // range in every file (zero skipping); the z layout localizes value
    // into curve quadrants, so file min/max stats prune
    def scanned(p: String, c: String, pred: org.apache.spark.sql.Column): Long =
      scanOutputRows(spark.read.parquet(p).filter(pred))
    val zValRows = scanned(zdir, "value", col("value") >= vHi)
    val lValRows = scanned(ldir, "value", col("value") >= vHi)
    assert(zValRows < lValRows,
      s"z-order read $zValRows rows for a value predicate vs linear $lValRows")
    // and the other dimension still skips too (vs reading everything)
    val uLo = ev.select(min("user_id")).head().getLong(0)
    val zUserRows = scanned(zdir, "user_id", col("user_id") === uLo)
    assert(zUserRows < total,
      s"z-order user_id predicate read the whole table ($zUserRows of $total)")
  }

  test("zorderWrite 4 columns x 8 bits: bit 31 stays out of the sign bit") {
    // the int-shift form pushed rows with the 4th column's top bucket
    // bit into NEGATIVE z (range-partitioning them to the curve front);
    // with long arithmetic the write round-trips and clusters sanely
    val dir = tmpDir("z4")
    val li = spark.read.parquet(sf("lineitem"))
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
    Layout.zorderWrite(li, dir,
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity"),
      bits = 8, numFiles = 8)
    val back = spark.read.parquet(dir)
    assert(back.count() == li.count())
    // top-bucket rows of the LAST z column (highest interleave
    // positions) must not cluster at the curve origin: the first file
    // in curve order should hold low-key rows, not max-quantity ones
    val perFile = back.groupBy(input_file_name().as("f"))
      .agg(avg("l_quantity").as("q"), avg("l_orderkey").as("k"))
      .collect()
    assert(perFile.length > 1)
    val qs = perFile.map(_.getDouble(1))
    assert(qs.max - qs.min > 1.0,
      "files differentiate on the 4th z column (clustering happened)")
  }

  test("zorderWrite on a string dimension clusters and skips on the string predicate") {
    val zdir = tmpDir("zstr")
    val sdir = tmpDir("zstr_shuf")
    val docs = spark.read.parquet(sf("documents"))
      .select("doc_id", "lang", "n_chars")
    // string + numeric curve; shuffled control layout
    Layout.zorderWrite(docs, zdir, Seq("lang", "doc_id"), numFiles = 8)
    docs.repartition(8).write.mode("overwrite").parquet(sdir)
    assert(spark.read.parquet(zdir).count() == docs.count())
    // row-identical (the gate's claim, spot-checked here too)
    val a = spark.read.parquet(zdir).collect().map(_.mkString("|")).sorted
    val b = docs.collect().map(_.mkString("|")).sorted
    assert(a.toSeq == b.toSeq)
    // the string predicate skips: the 6-byte-prefix key is order-
    // preserving, so each lang's rows cluster into few files with
    // tight min/max on the STRING column
    val lang = docs.groupBy("lang").count().orderBy(col("count").asc)
      .select("lang").head().getString(0)
    def scanned(p: String): Long =
      scanOutputRows(spark.read.parquet(p).filter(col("lang") === lang))
    val zRows = scanned(zdir)
    val sRows = scanned(sdir)
    assert(zRows < sRows,
      s"z-ordered scan read $zRows rows vs shuffled $sRows")
    // unsupported type still fails loudly
    val e = intercept[IllegalArgumentException] {
      Layout.zorderWrite(docs.withColumn("arr", array(col("doc_id"))),
        tmpDir("zbad"), Seq("lang", "arr"))
    }
    assert(e.getMessage.contains("arr"), e.getMessage)
  }

  test("sortedWrite clusters row groups so key predicates skip them") {
    val shuffled = tmpDir("shuffled")
    val sorted = tmpDir("sorted")
    // enough rows for multiple row groups per file at a small block
    // size would be ideal; at spec scale we still see file-level
    // min/max skipping because range partitioning gives disjoint
    // per-FILE key ranges (the same stats machinery, coarser grain)
    val ev = spark.read.parquet(sf("events"))
      .select("event_id", "user_id", "value")
    ev.repartition(8).write.mode("overwrite").parquet(shuffled) // key-shuffled
    Layout.sortedWrite(ev, sorted, Seq("user_id"), numFiles = 8)
    assert(spark.read.parquet(sorted).count() == ev.count())
    val probe = ev.select(min("user_id")).head().getLong(0)
    val pred = (p: String) => spark.read.parquet(p)
      .filter(col("user_id") === probe)
    // same answer either way
    assert(pred(sorted).count() == pred(shuffled).count())
    val rowsSorted = scanOutputRows(pred(sorted))
    val rowsShuffled = scanOutputRows(pred(shuffled))
    // a shuffled layout carries the key in every file/row-group, so its
    // scan materializes (close to) every row before the filter; the
    // sorted layout's min/max stats confine the read to the one range
    assert(rowsSorted < rowsShuffled,
      s"sorted scan read $rowsSorted rows vs shuffled $rowsShuffled")
  }

  test("merge schema contract: extra and missing update columns fail loudly") {
    val dir = tmpDir("contract")
    import spark.implicits._
    Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "ver")
      .write.parquet(dir)
    // extra column: silent projection would LOSE the new column's data
    val extra = intercept[IllegalArgumentException] {
      Layout.merge(spark, dir,
        Seq((1L, "a2", 2L, "oops")).toDF("k", "v", "ver", "v_new"),
        Seq("k"), "ver")
    }
    assert(extra.getMessage.contains("v_new"), extra.getMessage)
    assert(extra.getMessage.contains("absent from the base"), extra.getMessage)
    // missing column: must be a named contract error, not a resolver one
    val missing = intercept[IllegalArgumentException] {
      Layout.merge(spark, dir, Seq((1L, 2L)).toDF("k", "ver"),
        Seq("k"), "ver")
    }
    assert(missing.getMessage.contains("missing base column"), missing.getMessage)
    assert(missing.getMessage.contains("v"), missing.getMessage)
    // base unchanged after both refusals
    assert(spark.read.parquet(dir).count() == 2)
    // the delete flag is exempt from the extra-column check
    Layout.merge(spark, dir, Seq((2L, "b", 2L, true)).toDF("k", "v", "ver", "del"),
      Seq("k"), "ver", deleteCol = Some("del"))
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("maintenance is single-writer: a held lock fails the second writer loudly") {
    val dir = tmpDir("lock")
    import spark.implicits._
    Seq((1L, "a", 1L)).toDF("k", "v", "ver").write.parquet(dir)
    val lock = new java.io.File(s"$dir.__maint.lock")
    assert(lock.createNewFile(), "simulated concurrent writer's lock")
    val e = intercept[IllegalStateException] {
      Layout.compact(spark, dir)
    }
    assert(e.getMessage.contains("maintenance writer"), e.getMessage)
    assert(e.getMessage.contains(lock.getName), e.getMessage)
    val e2 = intercept[IllegalStateException] {
      Layout.merge(spark, dir, Seq((1L, "a2", 2L)).toDF("k", "v", "ver"),
        Seq("k"), "ver")
    }
    assert(e2.getMessage.contains("delete the lock file"), e2.getMessage)
    // table untouched by either refused writer
    assert(spark.read.parquet(dir).collect().map(_.getString(1)).toSeq == Seq("a"))
    // crashed-writer remedy: delete the lock, maintenance proceeds and
    // releases its own lease on completion
    assert(lock.delete())
    Layout.merge(spark, dir, Seq((1L, "a2", 2L)).toDF("k", "v", "ver"),
      Seq("k"), "ver")
    assert(spark.read.parquet(dir).head().getString(1) == "a2")
    assert(!lock.exists(), "lease released after completion")
  }

  test("partitioned CDC delete removes the stale dir for TIMESTAMP partitions") {
    // the partition dir name must come from Spark's own Cast rendering:
    // java.sql.Timestamp.toString would yield '... 00:00:00.0' (trailing
    // .0), never match the writer's dir, and leave tombstoned rows alive
    val dir = tmpDir("tspart")
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2024-01-02 00:00:00")
    Seq((1L, t0, 1L), (2L, t1, 1L)).toDF("k", "day", "ver")
      .write.partitionBy("day").parquet(dir)
    val dirs0 = new java.io.File(dir).listFiles.filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("day=")).toSeq
    assert(dirs0.size == 2, dirs0.mkString(","))
    // tombstone EVERY key of the t0 partition
    Layout.merge(spark, dir, Seq((1L, t0, 2L, true)).toDF("k", "day", "ver", "del"),
      Seq("k"), "ver", partitionCols = Seq("day"), deleteCol = Some("del"))
    val dirs1 = new java.io.File(dir).listFiles.filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("day=")).toSeq
    assert(dirs1.size == 1, s"stale timestamp partition dir survived: $dirs1")
    val back = spark.read.parquet(dir)
    assert(back.count() == 1 && back.select("k").head().getLong(0) == 2L)
  }

  test("manifest table: snapshot isolation, idempotent replay, crash recovery") {
    val dir = tmpDir("manifest")
    import spark.implicits._
    val seed = Seq((1L, "a", 10.0, 1L), (2L, "a", 20.0, 1L),
      (3L, "b", 30.0, 1L), (4L, "c", 40.0, 1L))
      .toDF("k", "part", "v", "ver")
    Layout.writeManifestTable(spark, dir, seed, Seq("part"))
    assert(Layout.manifestVersion(spark, dir).contains(1))
    val pinned = Layout.readManifest(spark, dir)
    // batch: update k=1, insert k=5 into a NEW partition, delete ALL of b
    val batch = Seq((1L, "a", 11.0, 2L, false), (5L, "d", 50.0, 2L, false),
      (3L, "b", 0.0, 2L, true)).toDF("k", "part", "v", "ver", "del")
    Layout.mergeManifest(spark, dir, batch, Seq("k"), "ver",
      deleteCol = Some("del"))
    def snap(df: DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getAs[Long]("k") -> r.getAs[Double]("v")).toMap
    // pinned reader: still the seed, including the fully-deleted partition
    assert(snap(pinned) == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0))
    val want = Map(1L -> 11.0, 2L -> 20.0, 4L -> 40.0, 5L -> 50.0)
    assert(snap(Layout.readManifest(spark, dir)) == want)
    // time travel: v1 is the seed
    assert(snap(Layout.readManifestVersion(spark, dir, 1)) == snap(pinned))
    // idempotent replay of the SAME batch -> same table, version bumps
    Layout.mergeManifest(spark, dir, batch, Seq("k"), "ver",
      deleteCol = Some("del"))
    assert(Layout.manifestVersion(spark, dir).contains(3))
    assert(snap(Layout.readManifest(spark, dir)) == want)
    // crash simulation: orphan gen dir above live + leftover tmp dir
    val orphan = new java.io.File(s"$dir/part=a/gen=99")
    assert(orphan.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(orphan, "part-junk.parquet").toPath, "junk")
    val tmpLeft = new java.io.File(s"$dir.__manifest_tmp")
    assert(tmpLeft.mkdirs())
    Layout.mergeManifest(spark, dir,
      Seq((2L, "a", 22.0, 3L, false)).toDF("k", "part", "v", "ver", "del"),
      Seq("k"), "ver", deleteCol = Some("del"))
    // the orphan is NUMBERED PAST, never swept by a writer: a dir the
    // live manifest doesn't reference can belong to a retained version
    // (the fully-deleted-partition re-insert corruption) — only
    // reapManifest, with retention consent, may delete it. It stays
    // invisible to every read meanwhile.
    assert(orphan.exists(),
      "writers must not sweep unreferenced dirs (retained versions " +
        "may own them); reap handles orphans")
    assert(snap(Layout.readManifest(spark, dir)) == want + (2L -> 22.0))
    // reap: superseded gens, the deleted partition's remains AND the
    // crash orphan go; the live snapshot is untouched
    val reaped = Layout.reapManifest(spark, dir)
    assert(reaped.exists(_.startsWith("part=b")), reaped.mkString(","))
    assert(reaped.exists(_.contains("gen=1")), reaped.mkString(","))
    assert(!orphan.exists(), "reap clears the crash orphan")
    assert(snap(Layout.readManifest(spark, dir)) == want + (2L -> 22.0))
    // time travel below the live version is gone after reap
    intercept[IllegalArgumentException] {
      Layout.readManifestVersion(spark, dir, 1)
    }
    // the maintenance lease wraps the manifest merge's COMMIT: a held
    // foreign lock (no owner pid — unbreakable, the safe side) makes
    // the commit queue for the wait budget, then fail loudly
    val lock = new java.io.File(s"$dir.__maint.lock")
    assert(lock.createNewFile())
    spark.conf.set("spark.graft.manifest.lockWaitMs", "300")
    try intercept[IllegalStateException] {
      Layout.mergeManifest(spark, dir,
        Seq((9L, "a", 9.0, 9L, false)).toDF("k", "part", "v", "ver", "del"),
        Seq("k"), "ver", deleteCol = Some("del"))
    } finally spark.conf.unset("spark.graft.manifest.lockWaitMs")
    assert(lock.delete())
  }

  test("re-creating a fully-deleted partition never touches the " +
      "generations retained versions reference") {
    import spark.implicits._
    val dir = tmpDir("reinsert")
    Layout.writeManifestTable(spark, dir,
      Seq((1L, "a", 10.0, 1L), (2L, "b", 20.0, 1L))
        .toDF("k", "part", "v", "ver"), Seq("part"))          // v1
    Layout.mergeManifest(spark, dir,
      Seq((2L, "b", 0.0, 2L, true)).toDF("k", "part", "v", "ver", "del"),
      Seq("k"), "ver", deleteCol = Some("del"))               // v2: b gone
    // re-insert into b: the live manifest has no entry for part=b, so
    // a reference-blind nextGen would land on gen=1 and (before the
    // fix) SWEEP the dir v1 still references — silently rewriting v1's
    // snapshot in place
    Layout.mergeManifest(spark, dir,
      Seq((3L, "b", 33.0, 3L)).toDF("k", "part", "v", "ver"),
      Seq("k"), "ver")                                        // v3
    def rows(v: Int): Set[(Long, Double)] =
      Layout.readManifestVersion(spark, dir, v)
        .filter(col("part") === "b").select("k", "v").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(rows(1) == Set((2L, 20.0)),
      s"v1's snapshot must survive the partition re-insert: ${rows(1)}")
    assert(rows(2) == Set.empty[(Long, Double)])
    assert(rows(3) == Set((3L, 33.0)))
    // the change feed across the window stays exact
    val feed = Layout.manifestChanges(spark, dir, 1, 3).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("_change_type")))
      .toSet
    assert(feed == Set((2L, "delete"), (3L, "insert")), feed.toString)
  }

  test("manifest read prunes on the partition column (directory-level)") {
    val dir = tmpDir("manifest_prune")
    import spark.implicits._
    val seed = (1 to 40).map(i => (i.toLong, s"p${i % 4}", i * 1.0, 1L))
      .toDF("k", "part", "v", "ver")
    Layout.writeManifestTable(spark, dir, seed, Seq("part"))
    val all = Layout.readManifest(spark, dir)
    all.collect()
    val allFiles = scanFiles(all)
    val one = Layout.readManifest(spark, dir).filter(col("part") === "p1")
    assert(one.collect().length == 10)
    val oneFiles = scanFiles(one)
    assert(oneFiles < allFiles,
      s"partition predicate must prune manifest dirs: $oneFiles of $allFiles")
  }

  test("rename-swap maintenance refuses a manifest table (mixed disciplines)") {
    val dir = tmpDir("mixed")
    import spark.implicits._
    Layout.writeManifestTable(spark,
      dir, Seq((1L, "a", 1L)).toDF("k", "part", "ver"), Seq("part"))
    val batch = Seq((1L, "a", 2L)).toDF("k", "part", "ver")
    for ((name, op) <- Seq[(String, () => Any)](
        "compact" -> (() => Layout.compact(spark, dir)),
        "merge" -> (() => Layout.merge(spark, dir, batch, Seq("k"), "ver")),
        "compactGen" -> (() => Layout.compactGen(spark, dir)),
        "mergeGen" -> (() => Layout.mergeGen(spark, dir, batch, Seq("k"), "ver")))) {
      val e = intercept[IllegalArgumentException] { op() }
      assert(e.getMessage.contains("MANIFEST table"), s"$name: ${e.getMessage}")
      assert(!new java.io.File(s"$dir.__maint.lock").exists(),
        s"$name must release the lease after refusing")
    }
    // the manifest path still works and the table is intact
    Layout.mergeManifest(spark, dir, batch, Seq("k"), "ver")
    assert(Layout.readManifest(spark, dir).select("ver").head().getLong(0) == 2L)
  }

  test("zorderWrite on a DATE dimension is row-exact and clusters") {
    val dir = tmpDir("zdate")
    import spark.implicits._
    val df = spark.read.parquet(sf("orders"))
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("d"),
        col("o_totalprice"))
    Layout.zorderWrite(df, dir, Seq("d", "o_orderkey"), numFiles = 8)
    val back = spark.read.parquet(dir)
    assert(back.count() == df.count())
    assert(back.schema("d").dataType ==
      org.apache.spark.sql.types.DateType)
    // date clustering: per-file min/max date spans are narrower than
    // the full range for at least one file (the curve separated time)
    val span = back.groupBy(input_file_name()).agg(
      datediff(max("d"), min("d")).as("s")).collect().map(_.getInt(1))
    val full = df.agg(datediff(max("d"), min("d"))).head().getInt(0)
    assert(span.min < full, s"some file must span less than $full days")
  }

  test("manifest table: numeric partition values keep their SEED types") {
    // partition-value inference re-derives types from dir strings
    // ('part=5' -> INT); the manifest read must restore the seed's LONG
    val dir = tmpDir("manifest_types")
    import spark.implicits._
    Layout.writeManifestTable(spark, dir,
      Seq((1L, 5L, "a", 1L), (2L, 6L, "b", 1L))
        .toDF("k", "part", "v", "ver"),
      Seq("part"))
    val back = Layout.readManifest(spark, dir)
    assert(back.schema("part").dataType ==
      org.apache.spark.sql.types.LongType, back.schema.toDDL)
    assert(back.columns.toSeq == Seq("k", "v", "ver", "part"))
    Layout.mergeManifest(spark, dir,
      Seq((1L, 5L, "a2", 2L)).toDF("k", "part", "v", "ver"),
      Seq("k"), "ver")
    val after = Layout.readManifest(spark, dir)
    assert(after.schema("part").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(after.filter(col("k") === 1L).head().getAs[String]("v") == "a2")
  }

  test("manifest table: all partitions deleted reads back empty with schema") {
    val dir = tmpDir("manifest_empty")
    import spark.implicits._
    Layout.writeManifestTable(spark,
      dir, Seq((1L, "a", 1L)).toDF("k", "part", "ver"), Seq("part"))
    Layout.mergeManifest(spark, dir,
      Seq((1L, "a", 2L, true)).toDF("k", "part", "ver", "del"),
      Seq("k"), "ver", deleteCol = Some("del"))
    val empty = Layout.readManifest(spark, dir)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("k", "ver", "part"))
  }

  test("reap deletes only recognizable write artifacts, never user files") {
    val dir = tmpDir("reapsafe")
    import spark.implicits._
    Seq((1L, "a")).toDF("k", "v").write.parquet(dir)
    Layout.compactGen(spark, dir) // migrates flat -> gen-1
    // a stray user file the framework never wrote, dropped in the root
    val notes = new java.io.File(dir, "NOTES-from-a-human.txt")
    java.nio.file.Files.writeString(notes.toPath, "do not delete")
    val reaped = Layout.reapGenerations(spark, dir)
    assert(reaped.contains(0), s"flat part files reaped: $reaped")
    assert(notes.exists(), "user file must survive the reap")
    assert(Layout.readCurrent(spark, dir).count() == 1)
  }

  test("compactManifest: single-file gens, pinned snapshot, no-op rerun, " +
      "crash recovery") {
    val dir = tmpDir("mancompact")
    import spark.implicits._
    // manifest writers cluster one file per dir, so the remaining
    // multi-file source is maxRecordsPerFile splitting an oversized
    // partition — scope it low to create the small-file condition
    val seed = (1 to 40).map(i => (i.toLong, s"p${i % 3}", i * 1.0, 1L))
      .toDF("k", "part", "v", "ver")
    val mrKey = "spark.sql.files.maxRecordsPerFile"
    val mrPrev = spark.conf.get(mrKey, "0")
    spark.conf.set(mrKey, "5")
    try Layout.writeManifestTable(spark, dir, seed, Seq("part"))
    finally spark.conf.set(mrKey, mrPrev)
    def liveFiles(rel: String): Int =
      Layout.readManifest(spark, dir).inputFiles.count(_.contains(s"/$rel/"))
    assert(liveFiles("part=p0") > 1, "seed gens must start multi-file")
    val pinned = Layout.readManifest(spark, dir)
    def snap(df: DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getAs[Long]("k") -> r.getAs[Double]("v")).toMap
    val want = snap(pinned)
    val compacted = Layout.compactManifest(spark, dir, maxFiles = 1)
    assert(compacted.sorted == Seq("part=p0", "part=p1", "part=p2"))
    // writers use a UNIQUE tmp tree and delete it on every exit path;
    // none may linger beside the table after the compaction
    val parent = new java.io.File(dir).getParentFile
    val tblName = new java.io.File(dir).getName
    assert(!parent.listFiles().exists(
      _.getName.startsWith(s"$tblName.__manifest_tmp")),
      "writer tmp tree must not survive the compaction")
    // pinned reader keeps its snapshot; live read is row-identical,
    // one data file per partition, manifest version bumped
    assert(snap(pinned) == want)
    assert(snap(Layout.readManifest(spark, dir)) == want)
    Seq("part=p0", "part=p1", "part=p2").foreach(rel =>
      assert(liveFiles(rel) == 1, s"$rel not single-file after compact"))
    assert(Layout.manifestVersion(spark, dir).contains(2))
    // re-compaction is a no-op: everything is at or under maxFiles
    assert(Layout.compactManifest(spark, dir, maxFiles = 1).isEmpty)
    assert(Layout.manifestVersion(spark, dir).contains(2))
    // refuses a plain parquet directory
    val flat = tmpDir("mancompact_flat")
    Seq((1L, 1.0)).toDF("k", "v").write.parquet(flat)
    intercept[IllegalArgumentException] {
      Layout.compactManifest(spark, flat)
    }
    // a no-op compaction (nothing selected) never needs the lease —
    // the optimistic discipline takes it only to COMMIT real work
    val lock = new java.io.File(s"$dir.__maint.lock")
    assert(lock.createNewFile())
    assert(Layout.compactManifest(spark, dir, maxFiles = 1).isEmpty,
      "no-op compaction must not block on a held lease")
    // a compaction WITH work (maxFiles=0 rewrites all) queues its
    // commit on the held lease for the wait budget, then fails loudly
    spark.conf.set("spark.graft.manifest.lockWaitMs", "300")
    try intercept[IllegalStateException] {
      Layout.compactManifest(spark, dir, maxFiles = 0)
    } finally spark.conf.unset("spark.graft.manifest.lockWaitMs")
    assert(lock.delete())
  }

  test("a seed that fails leaves no tmp tree beside the table") {
    def noTmpTree(dir: String): Unit = {
      val parent = new java.io.File(dir).getParentFile
      val tblName = new java.io.File(dir).getName
      assert(!parent.listFiles().exists(
        _.getName.startsWith(s"$tblName.__manifest_tmp")),
        "a failed seed must not leave its tmp tree behind")
      assert(Layout.manifestVersion(spark, dir).isEmpty)
    }
    def rows(boom: Long => Long): DataFrame =
      spark.range(1, 7).select(udf(boom).apply(col("id")).as("k"),
        concat(lit("p"), (col("id") % 2).cast("string")).as("part"))
    // a task failure mid-write (spark.range, not a local relation the
    // optimizer would evaluate before the write starts)
    val dir = tmpDir("seedfail")
    intercept[Exception] {
      Layout.writeManifestTable(spark, dir, rows(k =>
        if (k == 3L) throw new IllegalStateException("boom") else k),
        Seq("part"))
    }
    noTmpTree(dir)
    // a failure AFTER the write landed: a file squats on a partition
    // dir the publish must create
    val dir2 = tmpDir("seedfail_publish")
    new java.io.File(dir2).mkdirs()
    Files.createFile(new java.io.File(dir2, "part=p1").toPath)
    intercept[Exception] {
      Layout.writeManifestTable(spark, dir2, rows(identity), Seq("part"))
    }
    noTmpTree(dir2)
  }

  test("FILE-level skipping: after a sorted multi-file compaction a " +
      "selective predicate scans fewer files than the partition holds; " +
      "rows stay exact; delta files prune independently") {
    val dir = tmpDir("filestats")
    import spark.implicits._
    // 2 partitions x 4000 rows; sorted compaction under a low
    // maxRecordsPerFile splits each partition into ~4 contiguous-range
    // files — the exact layout partition-level stats cannot prune
    val rows = (1L to 8000L).map(i =>
      (i, if (i <= 4000) "a" else "b", i * 2.0, 1L))
    Layout.writeManifestTable(spark, dir,
      rows.toDF("k", "part", "v", "ver"), Seq("part"),
      statsCols = Seq("k", "v"))
    val mrKey = "spark.sql.files.maxRecordsPerFile"
    val mrPrev = spark.conf.get(mrKey, "0")
    spark.conf.set(mrKey, "1000")
    try Layout.compactManifest(spark, dir, maxFiles = 0,
      sortCols = Seq("k"))
    finally spark.conf.set(mrKey, mrPrev)
    val tbl = Layout.manifestTable(spark, dir)
    val filesInA = tbl.inputFiles.count(_.contains("/part=a/"))
    assert(filesInA >= 3, s"setup needs a multi-file partition ($filesInA)")
    // a k-window inside partition a: partition pruning keeps part=a
    // whole; FILE stats must narrow it to the one file holding range
    val q = tbl.filter(col("k") >= 100L && col("k") <= 200L)
    val got = q.collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[Double]("v")).toMap
    assert(got == (100L to 200L).map(i => i -> i * 2.0).toMap)
    val scanned = graft.PlanScan.scannedFiles(q)
    assert(scanned >= 1 && scanned < filesInA,
      s"file-level stats must prune within the partition " +
        s"($scanned of $filesInA files)")
    // file stats survive the delta->fold cycle: a sorted fold under
    // the same split re-records per-file bounds for the folded gen
    Layout.mergeManifestDelta(spark, dir,
      (100001L to 100100L).map(i => (i, "a", 1.0, 2L))
        .toDF("k", "part", "v", "ver"), Seq("k"), "ver")
    spark.conf.set(mrKey, "1000")
    try Layout.foldManifestDeltas(spark, dir, sortCols = Seq("k"))
    finally spark.conf.set(mrKey, mrPrev)
    val tbl2 = Layout.manifestTable(spark, dir)
    val q2 = tbl2.filter(col("k") >= 100001L)
    assert(q2.collect().length == 100)
    val scanned2 = graft.PlanScan.scannedFiles(q2)
    val filesA2 = tbl2.inputFiles.count(_.contains("/part=a/"))
    assert(scanned2 < filesA2,
      s"post-fold file stats must keep pruning ($scanned2 of $filesA2)")
  }

  test("manifest data-skipping: stats follow merges, nulls prune, " +
      "missing stats fail loudly") {
    val dir = tmpDir("manstats")
    import spark.implicits._
    // part p9 holds ONLY null stats values: no range window matches it
    val seed = (Seq((1L, "p0", 5.0, 1L), (2L, "p0", 9.0, 1L),
      (3L, "p1", 100.0, 1L), (4L, "p1", 110.0, 1L)) ++
      Seq((9L, "p9", Double.NaN, 1L))).map {
        case (k, p, v, ver) => (k, p, if (v.isNaN) None else Some(v), ver) }
      .toDF("k", "part", "v", "ver")
    Layout.writeManifestTable(spark, dir, seed, Seq("part"),
      statsCols = Seq("v"))
    def keysIn(lo: Double, hi: Double): Set[Long] =
      Layout.readManifestBetween(spark, dir, "v", lo, hi)
        .collect().map(_.getAs[Long]("k")).toSet
    assert(keysIn(0.0, 10.0) == Set(1L, 2L))
    // pruning: a window inside p1's range never lists p0's or p9's dir
    val p1Only = Layout.readManifestBetween(spark, dir, "v", 99.0, 120.0)
    assert(p1Only.inputFiles.nonEmpty &&
      p1Only.inputFiles.forall(_.contains("/part=p1/")))
    // a merge moving p0's max to 50 must widen the window's reach
    Layout.mergeManifest(spark, dir,
      Seq((2L, "p0", Some(50.0), 2L)).toDF("k", "part", "v", "ver"),
      Seq("k"), "ver")
    assert(keysIn(40.0, 60.0) == Set(2L))
    assert(keysIn(8.0, 10.0) == Set.empty[Long], "stale max would match")
    // empty window: empty result, full stored schema
    val none = Layout.readManifestBetween(spark, dir, "v", 1e6, 2e6)
    assert(none.count() == 0 &&
      none.columns.toSeq == Seq("k", "v", "ver", "part"))
    // compaction carries stats forward (row-identical rewrite)
    if (Layout.compactManifest(spark, dir, maxFiles = 1).nonEmpty)
      assert(keysIn(40.0, 60.0) == Set(2L))
    // a column without stored stats fails loudly
    intercept[IllegalArgumentException] {
      Layout.readManifestBetween(spark, dir, "k", 1L, 2L)
    }
  }

  test("clusterRewrite: row-identical in-place re-cluster, disjoint " +
      "sorted ranges, manifest refusal") {
    val dir = tmpDir("recluster")
    import spark.implicits._
    val rows = (1 to 1000).map(i => ((i * 7919) % 1000, i.toLong))
    rows.toDF("k", "v").repartition(6).write.parquet(dir)
    val n = Layout.clusterRewrite(spark, dir, Seq("k"), zorder = false,
      numFiles = 4)
    assert(n == 1000L)
    val back = spark.read.parquet(dir)
    assert(back.inputFiles.length == 4)
    assert(back.collect().map(r => (r.getInt(0), r.getLong(1))).toSet ==
      rows.toSet, "rewrite must be row-identical")
    // linear sort: per-file key ranges are disjoint
    import org.apache.spark.sql.functions.{col, input_file_name, max, min}
    val ranges = back.groupBy(input_file_name().as("f"))
      .agg(min(col("k")).as("mn"), max(col("k")).as("mx"))
      .collect().map(r => (r.getAs[Int]("mn"), r.getAs[Int]("mx")))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, aMax), (bMin, _)) =>
        assert(aMax <= bMin, s"overlapping file ranges: ${ranges.toSeq}")
      case _ =>
    }
    // z-order path is row-identical too
    assert(Layout.clusterRewrite(spark, dir, Seq("k", "v"),
      zorder = true, numFiles = 4) == 1000L)
    assert(spark.read.parquet(dir).count() == 1000L)
    // a manifest table refuses the rename-swap discipline
    val mdir = tmpDir("reclusterman")
    Layout.writeManifestTable(spark, mdir,
      Seq((1L, "p0", 1L)).toDF("k", "part", "ver"), Seq("part"))
    intercept[IllegalArgumentException] {
      Layout.clusterRewrite(spark, mdir, Seq("k"), zorder = false)
    }
  }

  test("readManifestPruned: conjunction prunes on every dimension and " +
      "stays exact") {
    val dir = tmpDir("manconj")
    import spark.implicits._
    // two stats dims (v, d); partitions arranged so only the (v AND d)
    // conjunction isolates p1: p0 matches the v-window, p2 the d-window
    val seed = Seq(
      (1L, "p0", 5.0, 100L, 1L), (2L, "p0", 9.0, 110L, 1L),
      (3L, "p1", 7.0, 200L, 1L), (4L, "p1", 8.0, 210L, 1L),
      (5L, "p2", 50.0, 205L, 1L))
      .toDF("k", "part", "v", "d", "ver")
    Layout.writeManifestTable(spark, dir, seed, Seq("part"),
      statsCols = Seq("v", "d"))
    val both = Layout.readManifestPruned(spark, dir,
      Seq(("v", 0.0, 10.0), ("d", 150L, 250L)))
    assert(both.collect().map(_.getAs[Long]("k")).toSet == Set(3L, 4L))
    assert(both.inputFiles.nonEmpty &&
      both.inputFiles.forall(_.contains("/part=p1/")),
      s"conjunction must scan only p1: ${both.inputFiles.toSeq}")
    // each single predicate scans MORE than the conjunction
    assert(Layout.readManifestBetween(spark, dir, "v", 0.0, 10.0)
      .inputFiles.length > both.inputFiles.length)
    // duplicate column and empty ranges fail loudly
    intercept[IllegalArgumentException] {
      Layout.readManifestPruned(spark, dir,
        Seq(("v", 0.0, 1.0), ("v", 2.0, 3.0)))
    }
    intercept[IllegalArgumentException] {
      Layout.readManifestPruned(spark, dir, Nil)
    }
  }

  test("evolveManifest: metadata-only column add; old gens read typed " +
      "NULLs; old snapshots keep their schema") {
    val dir = tmpDir("manevolve")
    import spark.implicits._
    val seed = Seq((1L, "p0", 1.0, 1L), (2L, "p1", 2.0, 1L))
      .toDF("k", "part", "v", "ver")
    Layout.writeManifestTable(spark, dir, seed, Seq("part"))
    Layout.evolveManifest(spark, dir, "score DOUBLE")
    assert(Layout.manifestVersion(spark, dir).contains(2))
    val evolved = Layout.readManifest(spark, dir)
    assert(evolved.columns.toSeq == Seq("k", "v", "ver", "score", "part"))
    assert(evolved.schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(evolved.filter(col("score").isNotNull).count() == 0,
      "pre-evolution generations surface typed NULLs")
    // time travel below the evolution keeps the OLD schema
    assert(Layout.readManifestVersion(spark, dir, 1).columns.toSeq ==
      Seq("k", "v", "ver", "part"))
    // a merge now REQUIRES the new column (the schema contract)...
    intercept[IllegalArgumentException] {
      Layout.mergeManifest(spark, dir,
        Seq((1L, "p0", 10.0, 2L)).toDF("k", "part", "v", "ver"),
        Seq("k"), "ver")
    }
    // ...and a batch carrying it lands real values in ITS partition
    // while the untouched partition keeps reading NULLs per file
    Layout.mergeManifest(spark, dir,
      Seq((1L, "p0", 10.0, 2L, 0.9)).toDF("k", "part", "v", "ver", "score"),
      Seq("k"), "ver")
    val after = Layout.readManifest(spark, dir)
      .select("k", "score").collect()
      .map(r => r.getAs[Long]("k") ->
        Option(r.getAs[java.lang.Double]("score"))).toMap
    assert(after == Map(1L -> Some(0.9), 2L -> None))
    // compaction rewrites mixed-schema gens without losing values
    if (Layout.compactManifest(spark, dir, maxFiles = 1).nonEmpty)
      assert(Layout.readManifest(spark, dir)
        .filter(col("k") === 1L && col("score") === 0.9).count() == 1)
    // duplicates and the reserved name are rejected
    intercept[IllegalArgumentException] {
      Layout.evolveManifest(spark, dir, "v DOUBLE")
    }
    intercept[IllegalArgumentException] {
      Layout.evolveManifest(spark, dir, "gen INT")
    }
  }

  private def morSnap(df: DataFrame): Map[Long, (String, Double, Long)] =
    df.collect().map(r => r.getAs[Long]("k") ->
      ((r.getAs[String]("part"), r.getAs[Double]("v"),
        r.getAs[Long]("ver")))).toMap

  test("merge-on-read: delta merges never rewrite the base; reads " +
      "resolve latest-wins; fold re-tightens to single generations") {
    val dir = tmpDir("mor")
    import spark.implicits._
    val seed = Seq((1L, "a", 10.0, 1L), (2L, "a", 20.0, 1L),
      (3L, "b", 30.0, 1L), (4L, "c", 40.0, 1L))
      .toDF("k", "part", "v", "ver")
    Layout.writeManifestTable(spark, dir, seed, Seq("part"))
    val baseFiles = Layout.readManifest(spark, dir).inputFiles.toSet
    val baseMtimes = baseFiles.map(f =>
      f -> new java.io.File(new java.net.URI(f)).lastModified).toMap
    val pinned = Layout.readManifest(spark, dir)
    // delta 1: update k=1, insert k=5 into a NEW partition d
    Layout.mergeManifestDelta(spark, dir,
      Seq((1L, "a", 11.0, 2L, false), (5L, "d", 50.0, 2L, false))
        .toDF("k", "part", "v", "ver", "del"),
      Seq("k"), "ver", deleteCol = Some("del"))
    val afterD1 = morSnap(Layout.readManifest(spark, dir))
    // delta 2: update k=1 again, delete ALL of partition b
    Layout.mergeManifestDelta(spark, dir,
      Seq((1L, "a", 12.0, 3L, false), (3L, "b", 0.0, 3L, true))
        .toDF("k", "part", "v", "ver", "del"),
      Seq("k"), "ver", deleteCol = Some("del"))
    // the base generation was never read or rewritten: every seed file
    // still on disk, byte-stable, and still part of the resolved read
    baseMtimes.foreach { case (f, t) =>
      val jf = new java.io.File(new java.net.URI(f))
      assert(jf.exists && jf.lastModified == t, s"base file touched: $f")
    }
    val readFiles = Layout.readManifest(spark, dir).inputFiles.toSet
    assert(baseFiles.subsetOf(readFiles) && readFiles != baseFiles,
      "resolved read must cover base + delta files")
    // resolution: latest version wins, tombstone winners drop
    val want = Map(1L -> (("a", 12.0, 3L)), 2L -> (("a", 20.0, 1L)),
      4L -> (("c", 40.0, 1L)), 5L -> (("d", 50.0, 2L)))
    assert(morSnap(Layout.readManifest(spark, dir)) == want)
    // snapshot isolation: the pinned reader still sees the seed; time
    // travel reaches both the seed and the intermediate delta state
    assert(morSnap(pinned) == morSnap(
      Layout.readManifestVersion(spark, dir, 1)))
    assert(morSnap(Layout.readManifestVersion(spark, dir, 2)) == afterD1)
    assert(afterD1(1L) == (("a", 11.0, 2L)) && afterD1.contains(3L))
    // reap with PENDING deltas keeps every referenced gen dir — only
    // superseded manifest JSONs go
    assert(Layout.reapManifest(spark, dir).forall(_.startsWith("_MANIFEST")))
    assert(morSnap(Layout.readManifest(spark, dir)) == want)
    // fold: delta-bearing partitions rewrite to single gens, the
    // resolved rows are unchanged; partition b resolves to zero rows
    // (tombstone-only) so it produces nothing and leaves the manifest
    val folded = Layout.foldManifestDeltas(spark, dir)
    assert(folded.toSet == Set("part=a", "part=d"), folded.mkString(","))
    assert(morSnap(Layout.readManifest(spark, dir)) == want)
    val perGen = Layout.readManifest(spark, dir).inputFiles
      .map(_.replaceAll("(/gen=\\d+)/.*", "$1")).distinct
    assert(perGen.length == 3, // a, c, d — one generation each
      s"each partition must read exactly one generation: " +
        perGen.mkString(","))
    // a second fold is a no-op
    assert(Layout.foldManifestDeltas(spark, dir).isEmpty)
    // reap after fold drops superseded base + delta dirs and b's chain
    val reaped = Layout.reapManifest(spark, dir)
    assert(reaped.exists(_.startsWith("part=b")), reaped.mkString(","))
    assert(morSnap(Layout.readManifest(spark, dir)) == want)
  }

  test("merge-on-read: spec and schema drift fail loudly; copy-on-write " +
      "merge folds pending deltas it touches") {
    val dir = tmpDir("mor_contract")
    import spark.implicits._
    Layout.writeManifestTable(spark, dir,
      Seq((1L, "a", 10.0, 1L), (2L, "b", 20.0, 1L))
        .toDF("k", "part", "v", "ver"), Seq("part"))
    Layout.mergeManifestDelta(spark, dir,
      Seq((1L, "a", 11.0, 2L)).toDF("k", "part", "v", "ver"),
      Seq("k"), "ver")
    // a different resolution spec is refused — delta and copy-on-write
    intercept[IllegalArgumentException] {
      Layout.mergeManifestDelta(spark, dir,
        Seq((1L, "a", 0.0, 3L)).toDF("k", "part", "v", "ver"),
        Seq("k", "part"), "ver")
    }
    intercept[IllegalArgumentException] {
      Layout.mergeManifest(spark, dir,
        Seq((1L, "a", 0.0, 3L)).toDF("k", "part", "v", "ver"),
        Seq("k"), "v")
    }
    // schema drift: extra and missing columns named in the failure
    val extra = intercept[IllegalArgumentException] {
      Layout.mergeManifestDelta(spark, dir,
        Seq((1L, "a", 0.0, 3L, "x")).toDF("k", "part", "v", "ver", "note"),
        Seq("k"), "ver")
    }
    assert(extra.getMessage.contains("note"))
    val missing = intercept[IllegalArgumentException] {
      Layout.mergeManifestDelta(spark, dir,
        Seq((1L, "a", 3L)).toDF("k", "part", "ver"), Seq("k"), "ver")
    }
    assert(missing.getMessage.contains("[v]"))
    // a copy-on-write merge with the SAME spec folds partition a's
    // pending delta into the generation it writes
    Layout.mergeManifest(spark, dir,
      Seq((3L, "a", 30.0, 3L)).toDF("k", "part", "v", "ver"),
      Seq("k"), "ver")
    assert(morSnap(Layout.readManifest(spark, dir)) ==
      Map(1L -> (("a", 11.0, 2L)), 2L -> (("b", 20.0, 1L)),
        3L -> (("a", 30.0, 3L))))
    // ...and partition a now reads from exactly one generation dir
    val aGens = Layout.readManifest(spark, dir).inputFiles
      .filter(_.contains("/part=a/"))
      .map(_.replaceAll("(/gen=\\d+)/.*", "$1")).distinct
    assert(aGens.length == 1, aGens.mkString(","))
  }

  test("merge-on-read: stats widen soundly so pruned reads find delta " +
      "rows; fold re-tightens; compactManifest never collides") {
    val dir = tmpDir("mor_stats")
    import spark.implicits._
    val seed = (1 to 20).map(i => (i.toLong, s"p${i % 2}", i * 1.0, 1L))
      .toDF("k", "part", "v", "ver").repartition(4)
    Layout.writeManifestTable(spark, dir, seed, Seq("part"),
      statsCols = Seq("v"))
    // delta moves k=2's v WAY outside the seeded [min,max] of p0
    Layout.mergeManifestDelta(spark, dir,
      Seq((2L, "p0", 1000.0, 2L)).toDF("k", "part", "v", "ver"),
      Seq("k"), "ver")
    // pruned read over the NEW value's range: widened stats must keep
    // p0 in the scan set, and resolution must surface the delta row
    val hit = Layout.readManifestBetween(spark, dir, "v", 999.0, 1001.0)
    assert(morSnap(hit) == Map(2L -> (("p0", 1000.0, 2L))))
    // ...and the pre-delta value is gone from its old range (p0 is
    // still SCANNED — widened bounds [2,1000] admit it — but the
    // resolved rows no longer carry v=2)
    val preCold = Layout.readManifestBetween(spark, dir, "v", 2.2, 2.8)
    assert(preCold.collect().isEmpty)
    assert(preCold.inputFiles.exists(_.contains("/part=p0/")),
      "widened stats keep the delta-bearing partition in the scan set")
    // compactManifest on the delta-bearing table: base rewrite lands
    // ABOVE the delta gens (no collision), resolution still correct
    Layout.compactManifest(spark, dir, maxFiles = 1)
    assert(morSnap(Layout.readManifest(spark, dir))(2L) ==
      (("p0", 1000.0, 2L)))
    // fold re-tightens: p0's exact min is now 4.0, so the same window
    // prunes p0 from the scan entirely
    Layout.foldManifestDeltas(spark, dir)
    val postCold = Layout.readManifestBetween(spark, dir, "v", 2.2, 2.8)
    assert(postCold.collect().isEmpty)
    assert(!postCold.inputFiles.exists(_.contains("/part=p0/")),
      s"re-tightened stats must prune p0: " +
        postCold.inputFiles.mkString(","))
    val hot = Layout.readManifestBetween(spark, dir, "v", 999.0, 1001.0)
    assert(morSnap(hot) == Map(2L -> (("p0", 1000.0, 2L))))
  }

  test("manifest bloom skipping: point lookups prune to the holding " +
      "partition; blooms follow merges, deltas, and folds") {
    val dir = tmpDir("bloom")
    import spark.implicits._
    // keys 1..400 land in partitions by k % 4 — every partition's
    // [min,max] of k spans ~the whole key space, so RANGE stats can
    // never prune a point lookup; the bloom must
    val seed = (1 to 400).map(i =>
      (i.toLong, s"p${i % 4}", i * 1.0, 1L)).toDF("k", "part", "v", "ver")
    Layout.writeManifestTable(spark, dir, seed, Seq("part"),
      bloomCols = Seq("k", "v"), bloomItems = 1024)
    def gensOf(df: DataFrame): Seq[String] = df.inputFiles
      .map(_.replaceAll(".*/(part=[^/]+)/gen=\\d+/.*", "$1")).distinct.toSeq
    val one = Layout.readManifestEq(spark, dir, Seq(("k", 7L)))
    assert(one.collect().map(r => (r.getAs[Long]("k"),
      r.getAs[Double]("v"))).toSeq == Seq((7L, 7.0)))
    assert(gensOf(one) == Seq("part=p3"),
      s"lookup of k=7 must scan only its partition: ${gensOf(one)}")
    // a missing key scans nothing (no bloom admits it) at 1024 items
    // over 100 keys/partition the fp odds are ~0 and deterministic
    val miss = Layout.readManifestEq(spark, dir, Seq(("k", 99999L)))
    assert(miss.collect().isEmpty && miss.inputFiles.isEmpty)
    // copy-on-write merge moves k=7's value; blooms recompute
    Layout.mergeManifest(spark, dir,
      Seq((7L, "p3", 700.0, 2L)).toDF("k", "part", "v", "ver"),
      Seq("k"), "ver")
    assert(Layout.readManifestEq(spark, dir, Seq(("k", 7L)))
      .head().getAs[Double]("v") == 700.0)
    // merge-on-read delta INSERTS a brand-new key: the union-widened
    // bloom must admit it, and resolution must surface it
    Layout.mergeManifestDelta(spark, dir,
      Seq((1001L, "p1", 1001.0, 3L)).toDF("k", "part", "v", "ver"),
      Seq("k"), "ver")
    val fresh = Layout.readManifestEq(spark, dir, Seq(("k", 1001L)))
    assert(fresh.head().getAs[Double]("v") == 1001.0)
    assert(gensOf(fresh) == Seq("part=p1"), gensOf(fresh).mkString(","))
    // conjunction: the merge recomputed p3's v-bloom, so the STALE
    // (k=7, v=7.0) pair is excluded by the v conjunct before any scan
    val stale = Layout.readManifestEq(spark, dir,
      Seq(("k", 7L), ("v", 7.0)))
    assert(stale.collect().isEmpty && stale.inputFiles.isEmpty,
      "recomputed blooms must exclude the pre-merge value")
    assert(Layout.readManifestEq(spark, dir,
      Seq(("k", 7L), ("v", 700.0))).count() == 1)
    // fold keeps lookups exact
    Layout.foldManifestDeltas(spark, dir)
    assert(Layout.readManifestEq(spark, dir, Seq(("k", 1001L)))
      .head().getAs[Double]("v") == 1001.0)
    // contract failures are loud
    intercept[IllegalArgumentException] {
      Layout.readManifestEq(spark, dir, Seq(("ver", 1L)))
    }
    intercept[IllegalArgumentException] {
      Layout.readManifestEq(spark, dir, Seq(("k", null)))
    }
  }

  test("manifestChanges: delete+insert pairs, changed-partitions-only " +
      "scan, merge-on-read and evolution covered") {
    val dir = tmpDir("changes")
    import spark.implicits._
    Layout.writeManifestTable(spark, dir,
      Seq((1L, "a", 10.0, 1L), (2L, "a", 20.0, 1L), (3L, "b", 30.0, 1L))
        .toDF("k", "part", "v", "ver"), Seq("part"))
    // merge touches ONLY partition a: update k=1, insert k=4
    Layout.mergeManifest(spark, dir,
      Seq((1L, "a", 11.0, 2L), (4L, "a", 40.0, 2L))
        .toDF("k", "part", "v", "ver"), Seq("k"), "ver")
    val feed = Layout.manifestChanges(spark, dir, 1, 2)
    def rows(df: DataFrame): Set[(Long, Double, String)] =
      df.collect().map(r => (r.getAs[Long]("k"), r.getAs[Double]("v"),
        r.getAs[String]("_change_type"))).toSet
    assert(rows(feed) == Set((1L, 10.0, "delete"), (1L, 11.0, "insert"),
      (4L, 40.0, "insert")))
    // untouched partition b is never scanned
    assert(feed.inputFiles.nonEmpty &&
      feed.inputFiles.forall(_.contains("/part=a/")),
      feed.inputFiles.mkString(","))
    // merge-on-read deltas are part of the diff: a delta delete of k=3
    Layout.mergeManifestDelta(spark, dir,
      Seq((3L, "b", 0.0, 3L, true)).toDF("k", "part", "v", "ver", "del"),
      Seq("k"), "ver", deleteCol = Some("del"))
    assert(rows(Layout.manifestChanges(spark, dir, 2, 3)) ==
      Set((3L, 30.0, "delete")))
    // cumulative window spans both merges
    assert(rows(Layout.manifestChanges(spark, dir, 1, 3)) ==
      Set((1L, 10.0, "delete"), (1L, 11.0, "insert"),
        (4L, 40.0, "insert"), (3L, 30.0, "delete")))
    // schema evolution mid-window: FROM side null-fills the new column
    Layout.evolveManifest(spark, dir, "score DOUBLE") // v4
    Layout.mergeManifest(spark, dir,
      Seq((2L, "a", 20.0, 4L, 0.9)).toDF("k", "part", "v", "ver", "score"),
      Seq("k"), "ver") // v5
    val evolved = Layout.manifestChanges(spark, dir, 3, 5).collect()
      .map(r => (r.getAs[Long]("k"),
        Option(r.getAs[java.lang.Double]("score")),
        r.getAs[String]("_change_type"))).toSet
    assert(evolved == Set((2L, None, "delete"), (2L, Some(0.9), "insert")))
    // a reaped FROM version fails loudly
    Layout.reapManifest(spark, dir)
    intercept[IllegalArgumentException] {
      Layout.manifestChanges(spark, dir, 1, 5)
    }
  }

  test("hierarchical manifest: content-addressed buckets, publish " +
      "touches only changed children, rollups prune unread buckets") {
    val dir = tmpDir("hier")
    import spark.implicits._
    // 8 partitions, values clustered per partition: bucket rollups are
    // tight ranges, so bucket-level pruning is decisive
    val seed = (0 until 800).map(i =>
      (i.toLong, s"p${i / 100}", i.toDouble, 1L)).toDF("k", "part", "v", "ver")
    Layout.writeManifestTable(spark, dir, seed, Seq("part"),
      statsCols = Seq("v"), bloomCols = Seq("k"), bloomItems = 1024,
      manifestBuckets = 4)
    def buckets(): Map[String, Long] = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("_MBUCKET."))
      .map(f => f.getName -> f.lastModified).toMap
    val b1 = buckets()
    assert(b1.size == 4, s"expected 4 bucket children, got ${b1.keys}")
    def snapAll(): Map[Long, Double] = Layout.readManifest(spark, dir)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Double]("v")).toMap
    val want0 = (0 until 800).map(i => i.toLong -> i.toDouble).toMap
    assert(snapAll() == want0)
    // merge touching ONE partition: exactly one NEW child appears and
    // every pre-existing child file is byte-stable (content addressing
    // shares unchanged buckets across versions)
    Layout.mergeManifest(spark, dir,
      Seq((250L, "p2", 250.5, 2L)).toDF("k", "part", "v", "ver"),
      Seq("k"), "ver")
    val b2 = buckets()
    assert((b2.keySet -- b1.keySet).size == 1,
      s"one changed bucket must publish one new child: ${b2.keySet -- b1.keySet}")
    b1.foreach { case (n, t) =>
      assert(b2.contains(n) && b2(n) == t, s"pre-existing child touched: $n")
    }
    assert(snapAll() == want0 + (250L -> 250.5))
    // time travel still resolves through the shared children
    assert(Layout.readManifestVersion(spark, dir, 1)
      .filter(col("k") === 250L).head().getAs[Double]("v") == 250.0)
    // merge-on-read + fold work hierarchically too
    Layout.mergeManifestDelta(spark, dir,
      Seq((10L, "p0", -5.0, 3L)).toDF("k", "part", "v", "ver"),
      Seq("k"), "ver")
    assert(snapAll() == want0 + (250L -> 250.5) + (10L -> -5.0))
    assert(Layout.foldManifestDeltas(spark, dir) == Seq("part=p0"))
    assert(snapAll() == want0 + (250L -> 250.5) + (10L -> -5.0))
    // reap to the live version: superseded children go, shared stay
    val reaped = Layout.reapManifest(spark, dir)
    assert(reaped.exists(_.startsWith("_MBUCKET.")), reaped.mkString(","))
    assert(snapAll() == want0 + (250L -> 250.5) + (10L -> -5.0))
    // the rollup-pruning proof: a range matching only bucket 3's value
    // span ([600,799]) and a lookup of a bucket-3 key must both work
    // even after bucket 1's child file is DELETED from disk — the
    // pruned readers never load it; the full reader fails loudly
    val probeRange = Layout.readManifestPruned(spark, dir,
      Seq(("v", 650.0, 660.0)))
    assert(probeRange.count() == 11)
    val probeEq = Layout.readManifestEq(spark, dir, Seq(("k", 700L)))
    assert(probeEq.head().getAs[Double]("v") == 700.0)
    val victim = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("_MBUCKET.")).minBy { f =>
        // bucket 1 holds p2/p3 (v in [200,399] plus the 9999 update):
        // find its child by content
        if (new String(java.nio.file.Files.readAllBytes(f.toPath))
          .contains("part=p2")) 0 else 1
      }
    assert(victim.delete())
    assert(Layout.readManifestPruned(spark, dir,
      Seq(("v", 650.0, 660.0))).count() == 11)
    assert(Layout.readManifestEq(spark, dir, Seq(("k", 700L)))
      .head().getAs[Double]("v") == 700.0)
    val e = intercept[IllegalArgumentException] {
      Layout.readManifest(spark, dir).count()
    }
    assert(e.getMessage.contains("bucket file"), e.getMessage)
  }

  test("reapManifest retention window: lagging feed consumers and time " +
      "travel survive a keepVersions reap") {
    val dir = tmpDir("retention")
    import spark.implicits._
    Layout.writeManifestTable(spark, dir,
      Seq((1L, "a", 10.0, 1L)).toDF("k", "part", "v", "ver"), Seq("part"))
    Layout.mergeManifest(spark, dir,
      Seq((1L, "a", 11.0, 2L)).toDF("k", "part", "v", "ver"),
      Seq("k"), "ver") // v2
    Layout.mergeManifest(spark, dir,
      Seq((1L, "a", 12.0, 3L)).toDF("k", "part", "v", "ver"),
      Seq("k"), "ver") // v3
    val reaped = Layout.reapManifest(spark, dir, keepVersions = 2)
    // v2 and its generations survive; v1's go
    assert(reaped.contains("_MANIFEST.v1") &&
      !reaped.contains("_MANIFEST.v2"), reaped.mkString(","))
    assert(Layout.readManifestVersion(spark, dir, 2)
      .head().getAs[Double]("v") == 11.0)
    // the v2->v3 feed window is intact after the reap
    assert(Layout.manifestChanges(spark, dir, 2, 3).count() == 2)
    intercept[IllegalArgumentException] {
      Layout.readManifestVersion(spark, dir, 1)
    }
    // tightening to keepVersions=1 drops v2
    Layout.reapManifest(spark, dir)
    intercept[IllegalArgumentException] {
      Layout.readManifestVersion(spark, dir, 2)
    }
    assert(Layout.readManifest(spark, dir)
      .head().getAs[Double]("v") == 12.0)
  }

  test("sorted manifest compaction: maxFiles=0 re-clusters every " +
      "partition; row groups skip on the sort key") {
    val dir = tmpDir("sortcompact")
    // small row groups make the skipping observable at test scale (the
    // production default is 128 MB groups inside each compacted file)
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    val oldPage = hc.get("parquet.page.size")
    hc.setInt("parquet.block.size", 8 * 1024)
    hc.setInt("parquet.page.size", 4 * 1024)
    try {
      // value column arrives shuffled: a sort-key range scan must read
      // ~everything before, a couple of tight row groups after
      val li = spark.read.parquet(sf("lineitem"))
        .select(col("l_orderkey").as("k"),
          pmod(col("l_orderkey"), lit(3)).as("part"),
          col("l_extendedprice").as("v"), lit(1L).as("ver"))
        .repartition(8) // shuffled arrival, several files per partition
      Layout.writeManifestTable(spark, dir, li, Seq("part"))
      // a mid-range band: every unsorted row group's [min,max] straddles
      // it, so the baseline cannot prune by accident
      def rangeRows(): Long = scanOutputRows(
        Layout.readManifest(spark, dir)
          .filter(col("v") >= 30000.0 && col("v") <= 32000.0))
      val before = rangeRows()
      val expected = Layout.readManifest(spark, dir).collect()
        .map(_.mkString("|")).sorted.toSeq
      val compacted = Layout.compactManifest(spark, dir, maxFiles = 0,
        sortCols = Seq("v"))
      assert(compacted.toSet == Set("part=0", "part=1", "part=2"))
      // row-identical, single file per partition
      assert(Layout.readManifest(spark, dir).collect()
        .map(_.mkString("|")).sorted.toSeq == expected)
      val after = rangeRows()
      assert(after < before / 2,
        s"sorted compaction must tighten row-group skipping: " +
          s"$before -> $after rows read")
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
      if (oldPage == null) hc.unset("parquet.page.size")
      else hc.set("parquet.page.size", oldPage)
    }
  }

  test("z-order manifest compaction: row-identical, __z never lands, " +
      "row groups skip on BOTH z dimensions") {
    val dir = tmpDir("zcompact")
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = hc.get("parquet.block.size")
    val oldPage = hc.get("parquet.page.size")
    hc.setInt("parquet.block.size", 8 * 1024)
    hc.setInt("parquet.page.size", 4 * 1024)
    try {
      // two independent predicate dimensions arriving shuffled: a
      // LINEAR sort can tighten one of them, the Z-curve both
      val li = spark.read.parquet(sf("lineitem"))
        .select(col("l_orderkey").as("k"),
          pmod(col("l_orderkey"), lit(3)).as("part"),
          col("l_extendedprice").as("v"),
          col("l_quantity").cast("double").as("q"), lit(1L).as("ver"))
        .repartition(8)
      Layout.writeManifestTable(spark, dir, li, Seq("part"))
      def bandRows(c: String, lo: Double, hi: Double): Long =
        scanOutputRows(Layout.readManifest(spark, dir)
          .filter(col(c) >= lo && col(c) <= hi))
      val beforeV = bandRows("v", 30000.0, 32000.0)
      val beforeQ = bandRows("q", 10.0, 12.0)
      val expected = Layout.readManifest(spark, dir).collect()
        .map(_.mkString("|")).sorted.toSeq
      val compacted = Layout.compactManifest(spark, dir, maxFiles = 0,
        zorderCols = Seq("v", "q"))
      assert(compacted.toSet == Set("part=0", "part=1", "part=2"))
      // row-identical and the curve key never reaches the files
      val back = Layout.readManifest(spark, dir)
      assert(!back.columns.contains("__z"))
      assert(back.collect().map(_.mkString("|")).sorted.toSeq == expected)
      val afterV = bandRows("v", 30000.0, 32000.0)
      val afterQ = bandRows("q", 10.0, 12.0)
      assert(afterV < beforeV && afterQ < beforeQ,
        s"z-compaction must tighten BOTH dims: v $beforeV->$afterV, " +
          s"q $beforeQ->$afterQ")
      // exclusivity contract
      intercept[IllegalArgumentException] {
        Layout.compactManifest(spark, dir, maxFiles = 0,
          sortCols = Seq("v"), zorderCols = Seq("v", "q"))
      }
    } finally {
      if (oldBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", oldBlock)
      if (oldPage == null) hc.unset("parquet.page.size")
      else hc.set("parquet.page.size", oldPage)
    }
  }

  test("manifestTable: planner-integrated scan auto-prunes on partition, " +
      "stats and bloom predicates; arbitrary partition filters stay exact") {
    import spark.implicits._
    val dir = tmpDir("mfidx")
    // 4 string partitions (incl. one null) with disjoint v windows and
    // disjoint key sets
    val rows = (0 until 40).map { i =>
      val part = if (i / 10 == 3) null else s"p${i / 10}"
      (i.toLong, part, (i / 10) * 100 + i, s"u$i", 1L)
    }
    Layout.writeManifestTable(spark, dir,
      rows.toDF("k", "part", "v", "u", "ver"),
      Seq("part"), statsCols = Seq("v"), bloomCols = Seq("k"))
    val t = Layout.manifestTable(spark, dir)
    // column order and full content match the explicit read
    assert(t.columns.toSeq == Layout.readManifest(spark, dir).columns.toSeq)
    assert(t.collect().map(_.mkString("|")).sorted.toSeq ==
      Layout.readManifest(spark, dir).collect().map(_.mkString("|"))
        .sorted.toSeq)
    // numFiles is a driver metric posted when the scan's lazy partition
    // listing first materializes — observe it on a FRESH frame, one
    // execution each (re-running a collected Dataset resets metrics
    // without re-listing)
    val full = {
      val d = Layout.manifestTable(spark, dir); d.collect(); scanFiles(d)
    }
    assert(full > 0)

    // partition equality prunes to one generation dir's files
    val pf = t.filter(col("part") === "p1")
    pf.collect()
    assert(scanFiles(pf) < full, "partition filter must prune")
    assert(pf.select("k").as[Long].collect().sorted.toSeq == (10L to 19L))
    // an ARBITRARY partition predicate (no simple range shape) must be
    // EXACT — Spark drops partition filters from the residual
    val like = t.filter(col("part").endsWith("2") || col("part").isNull)
    assert(like.select("k").as[Long].collect().sorted.toSeq ==
      ((20L to 29L) ++ (30L to 39L)))

    // stats range on a non-partition column prunes generations
    val sf1 = t.filter(col("v") >= 100 && col("v") < 120)
    sf1.collect()
    assert(scanFiles(sf1) < full, "stats window must prune")
    assert(sf1.select("k").as[Long].collect().sorted.toSeq == (10L to 19L))
    // bloom point lookup on a high-cardinality column prunes
    val bf = t.filter(col("k") === 25L)
    bf.collect()
    assert(scanFiles(bf) < full, "bloom probe must prune")
    assert(bf.select("u").as[String].collect().toSeq == Seq("u25"))
    // the explicit readers read exactly the generations the planner
    // lists for the same predicates
    val eqDirs = genDirsRead(dir, Layout.readManifestEq(spark, dir, Seq("k" -> 25L)))
    assert(eqDirs.nonEmpty && eqDirs == genDirsRead(dir, bf))
    val rangeDirs = genDirsRead(dir,
      Layout.readManifestPruned(spark, dir, Seq(("v", 100, 119))))
    assert(rangeDirs.nonEmpty && rangeDirs ==
      genDirsRead(dir, t.filter(col("v") >= 100 && col("v") <= 119)))

    // the SQL surface prunes the same way
    t.createOrReplaceTempView("mfidx_t")
    val sq = spark.sql(
      "SELECT k FROM mfidx_t WHERE v BETWEEN 220 AND 225 AND part = 'p2'")
    sq.collect()
    assert(scanFiles(sq) < full)
    assert(sq.as[Long].collect().sorted.toSeq == (20L to 25L))

    // unrecognized data predicates fall through to the residual, exact
    assert(t.filter(pmod(col("k"), lit(10)) === 3).count() == 4)

    // pending merge-on-read deltas refuse the file-level surface
    Layout.mergeManifestDelta(spark, dir,
      Seq((5L, "p0", 1000, "u5x", 2L)).toDF("k", "part", "v", "u", "ver"),
      Seq("k"), "ver")
    val e = intercept[IllegalArgumentException] {
      Layout.manifestTable(spark, dir)
    }
    assert(e.getMessage.contains("foldManifestDeltas"))
    Layout.foldManifestDeltas(spark, dir)
    // post-fold the surface returns, with the delta applied
    assert(Layout.manifestTable(spark, dir).filter(col("k") === 5L)
      .select("u").as[String].collect().toSeq == Seq("u5x"))
  }

  test("repartitionManifest: whole-table partition change behind one " +
      "snapshot — rows identical, deltas folded, old versions intact, " +
      "feed transparent, retention clears the old layout") {
    import spark.implicits._
    val dir = tmpDir("repart")
    val rows = (0 until 40).map(i =>
      (i.toLong, s"p${i / 10}", (i % 4).toLong, i.toDouble, 1L))
    Layout.writeManifestTable(spark, dir,
      rows.toDF("k", "part", "band", "v", "ver"), Seq("part"))  // v1
    // a pending merge-on-read delta must FOLD into the rewrite
    Layout.mergeManifestDelta(spark, dir,
      Seq((100L, "p0", 0L, 100.0, 2L), (0L, "p0", 0L, 0.5, 2L))
        .toDF("k", "part", "band", "v", "ver"),
      Seq("k"), "ver")                                          // v2
    val expected = Layout.readManifest(spark, dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("part"),
        r.getAs[Long]("band"), r.getAs[Double]("v"))).sorted.toSeq
    val pinnedV2 = Layout.readManifest(spark, dir)
    assert(Layout.repartitionManifest(spark, dir, Seq("band")) == 4) // v3
    // content identical; the new stored order derives from the OLD
    // stored order (data cols as stored — the old partition col joins
    // them at its stored slot — then the new partition cols)
    val after = Layout.readManifest(spark, dir)
    assert(after.columns.toSeq == Seq("k", "v", "ver", "part", "band"))
    assert(after.collect().map(r => (r.getAs[Long]("k"),
      r.getAs[String]("part"), r.getAs[Long]("band"),
      r.getAs[Double]("v"))).sorted.toSeq == expected)
    // pruning now runs on the NEW column through the planner index
    val t = Layout.manifestTable(spark, dir)
    val pf = t.filter(col("band") === 2L)
    pf.collect()
    val full = { val d = Layout.manifestTable(spark, dir)
      d.collect(); scanFiles(d) }
    assert(scanFiles(pf) < full, "new-scheme partition pruning must fire")
    // pinned reader + time travel keep the OLD layout and order
    // (stored order: data cols first, old partition col last)
    assert(pinnedV2.columns.toSeq == Seq("k", "band", "v", "ver", "part"))
    assert(pinnedV2.count() == 41)
    assert(Layout.readManifestVersion(spark, dir, 1).count() == 40)
    // the append feed treats the rewrite as transparent
    assert(Layout.appendsBetween(spark, dir, 2, 3).isEmpty)
    // the change feed diffs it to nothing
    assert(Layout.manifestChanges(spark, dir, 2, 3).isEmpty)
    // retention to the live version clears the old-scheme directories
    Layout.reapManifest(spark, dir, keepVersions = 1)
    val dirs = new java.io.File(dir).listFiles.filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs.forall(_.startsWith("band=")), s"old layout remains: $dirs")
    intercept[IllegalArgumentException] {
      Layout.readManifestVersion(spark, dir, 2)
    }
    // contracts: same spec and unknown columns refuse
    intercept[IllegalArgumentException] {
      Layout.repartitionManifest(spark, dir, Seq("band"))
    }
    intercept[IllegalArgumentException] {
      Layout.repartitionManifest(spark, dir, Seq("nope"))
    }
  }

  test("USING manifest: the pure-SQL DDL surface mounts the planner " +
      "index — pruning, time travel, loud MoR refusal") {
    import spark.implicits._
    val dir = tmpDir("mfddl")
    Layout.writeManifestTable(spark, dir,
      (0 until 40).map(i => (i.toLong, s"p${i / 10}", (i / 10) * 100 + i))
        .toDF("k", "part", "v"), Seq("part"), statsCols = Seq("v"))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW mfddl_live " +
      s"USING manifest OPTIONS (path '$dir')")
    // stored column order, full content
    val live = spark.sql("SELECT * FROM mfddl_live")
    assert(live.columns.toSeq == Seq("k", "v", "part"))
    assert(live.count() == 40)
    // the partition predicate prunes through the index
    val pf = spark.sql("SELECT k FROM mfddl_live WHERE part = 'p1'")
    pf.collect()
    assert(scanFiles(pf) < scanFiles { live.collect(); live },
      "the DDL view must prune like manifestTable does")
    // a merge publishes v2; versionAsOf pins the old snapshot
    Layout.mergeManifest(spark, dir,
      Seq((99L, "p9", 900)).toDF("k", "part", "v"), Seq("k"), "v")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW mfddl_v1 " +
      s"USING manifest OPTIONS (path '$dir', versionAsOf '1')")
    assert(spark.sql("SELECT count(*) FROM mfddl_v1").head().getLong(0)
      == 40)
    assert(spark.read.format("manifest").option("path", dir).load()
      .count() == 41)
    // pending merge-on-read deltas refuse the file-level surface
    Layout.mergeManifestDelta(spark, dir,
      Seq((100L, "p9", 901)).toDF("k", "part", "v"), Seq("k"), "v")
    val e = intercept[Exception] {
      spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW mfddl_bad " +
        s"USING manifest OPTIONS (path '$dir')")
    }
    assert(e.getMessage.contains("foldManifestDeltas"), e.getMessage)
  }

  test("manifestTable: time travel and broadcast-join sizing") {
    import spark.implicits._
    val dir = tmpDir("mfidx_tt")
    Layout.writeManifestTable(spark, dir,
      Seq((1L, "a", 10.0, 1L), (2L, "b", 20.0, 1L))
        .toDF("k", "part", "v", "ver"), Seq("part"))
    Layout.mergeManifest(spark, dir,
      Seq((1L, "a", 11.0, 2L), (3L, "c", 30.0, 2L))
        .toDF("k", "part", "v", "ver"), Seq("k"), "ver")
    // pinned version 1 sees the seed only
    assert(Layout.manifestTable(spark, dir, Some(1))
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(Layout.manifestTable(spark, dir)
      .select("k").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    // sizeInBytes is the real file footprint, so joining the small
    // manifest table auto-broadcasts (the 100 TB dim-join posture:
    // no shuffle of the big side)
    val big = spark.range(1000).select(col("id").as("k"),
      (col("id") * 2).as("x"))
    val joined = big.join(Layout.manifestTable(spark, dir), "k")
    joined.collect()
    val bcast = joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin")
    assert(bcast, "small manifest table must broadcast:\n" +
      joined.queryExecution.executedPlan.toString.take(1500))
  }

  test("manifestTable lists lazily: pruned partitions are never touched, " +
      "sizeInBytes serves from manifest-recorded bytes") {
    import spark.implicits._
    val dir = tmpDir("mfidx_lazy")
    Layout.writeManifestTable(spark, dir,
      (0 until 40).map(i => (i.toLong, s"p${i / 10}", (i / 10) * 100 + i))
        .toDF("k", "part", "v"), Seq("part"), statsCols = Seq("v"))
    // destroy one partition's data ENTIRELY: lazy listing means neither
    // construction nor a query that prunes it ever notices
    val victim = new java.io.File(s"$dir/part=p3")
    def rmRec(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmRec)); f.delete(); ()
    }
    rmRec(victim)
    assert(!victim.exists)
    val t = Layout.manifestTable(spark, dir) // no listing at construction
    // stats window excludes p3 -> its missing directory is never listed
    assert(t.filter(col("v") >= 100 && col("v") <= 119)
      .select("k").as[Long].collect().sorted.toSeq == (10L until 20L))
    // partition filter likewise
    assert(t.filter(col("part") === "p0")
      .select("k").as[Long].collect().sorted.toSeq == (0L until 10L))
    // a full scan DOES need p3 and fails loudly on the missing dir
    intercept[Exception] { Layout.manifestTable(spark, dir).collect() }
    // sizeInBytes comes from the manifest's recorded bytes: the three
    // intact partitions' file lengths, available with p3 gone
    val idx = new graft.plans.ManifestFileIndex(spark, dir)
    val intact = (0 to 2).flatMap { i =>
      val d = new java.io.File(s"$dir/part=p$i/gen=1")
      d.listFiles().filter(f => f.isFile &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(_.length)
    }.sum
    val recorded = idx.sizeInBytes
    assert(recorded > intact,
      s"recorded $recorded must still include the destroyed p3")
    assert(recorded < intact * 2, s"recorded $recorded vs intact $intact")
  }

  test("manifestTable serves hierarchical manifests with the same pruning") {
    import spark.implicits._
    val dir = tmpDir("mfidx_hier")
    val rows = (0 until 40).map(i =>
      (i.toLong, s"p${i / 10}", (i / 10) * 100 + i, 1L))
    Layout.writeManifestTable(spark, dir,
      rows.toDF("k", "part", "v", "ver"), Seq("part"),
      statsCols = Seq("v"), manifestBuckets = 4)
    val t = Layout.manifestTable(spark, dir)
    assert(t.select("k").as[Long].collect().sorted.toSeq ==
      (0L until 40L))
    val full = {
      val d = Layout.manifestTable(spark, dir); d.collect(); scanFiles(d)
    }
    val pruned = t.filter(col("v") >= 100 && col("v") <= 119)
    pruned.collect()
    assert(scanFiles(pruned) < full,
      "stats pruning must reach through the bucketed meta")
    val rangeDirs = genDirsRead(dir,
      Layout.readManifestPruned(spark, dir, Seq(("v", 100, 119))))
    assert(rangeDirs.nonEmpty && rangeDirs == genDirsRead(dir, pruned))
    assert(pruned.select("k").as[Long].collect().sorted.toSeq ==
      (10L until 20L))
  }

  test("manifestTable reads mixed-schema generations after evolution") {
    import spark.implicits._
    val dir = tmpDir("mfidx_evo")
    Layout.writeManifestTable(spark, dir,
      Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "part", "ver"),
      Seq("part"))
    Layout.evolveManifest(spark, dir, "score DOUBLE")
    Layout.mergeManifest(spark, dir,
      Seq((3L, "b", 2L, 0.5)).toDF("k", "part", "ver", "score"),
      Seq("k"), "ver")
    val t = Layout.manifestTable(spark, dir)
    // pre-evolution generation (part=a) null-fills the added column
    assert(t.filter(col("k") === 1L).select("score")
      .collect().head.isNullAt(0))
    assert(t.filter(col("k") === 3L).select("score").as[Double]
      .collect().toSeq == Seq(0.5))
  }

  test("stats and blooms answer in the seed's zone after the session " +
      "zone changes") {
    import spark.implicits._
    val dir = tmpDir("zone")
    val zoneKey = "spark.sql.session.timeZone"
    val prevZone = spark.conf.get(zoneKey)
    def at(iso: String) = java.sql.Timestamp.from(java.time.Instant.parse(iso))
    val ten = at("2024-03-01T10:00:00Z")
    spark.conf.set(zoneKey, "UTC")
    try {
      Layout.writeManifestTable(spark, dir,
        Seq((1L, "p0", ten, 1L)).toDF("k", "part", "ts", "ver"),
        Seq("part"), statsCols = Seq("ts"), bloomCols = Seq("ts"))
      spark.conf.set(zoneKey, "America/Los_Angeles")
      val (lo, hi) = (at("2024-03-01T09:00:00Z"), at("2024-03-01T11:00:00Z"))
      assert(Layout.readManifestPruned(spark, dir, Seq(("ts", lo, hi)))
        .count() == 1)
      assert(Layout.readManifestEq(spark, dir, Seq("ts" -> ten)).count() == 1)
      val t = Layout.manifestTable(spark, dir)
      assert(t.filter(col("ts") >= lit(lo) && col("ts") <= lit(hi))
        .count() == 1)
      assert(t.filter(col("ts") === lit(ten)).count() == 1)
      // a write under the new zone still renders in the seed's zone
      val noon = at("2024-03-01T12:00:00Z")
      Layout.mergeManifest(spark, dir,
        Seq((2L, "p1", noon, 1L)).toDF("k", "part", "ts", "ver"),
        Seq("k"), "ver")
      spark.conf.set(zoneKey, "UTC")
      assert(Layout.readManifestPruned(spark, dir,
        Seq(("ts", at("2024-03-01T11:30:00Z"), at("2024-03-01T12:30:00Z"))))
        .select("k").as[Long].collect().toSeq == Seq(2L))
      assert(Layout.readManifestEq(spark, dir, Seq("ts" -> noon))
        .select("k").as[Long].collect().toSeq == Seq(2L))
    } finally spark.conf.set(zoneKey, prevZone)
  }

  test("planning an explicit skipping read starts no Spark job") {
    import spark.implicits._
    val rows = (0 until 40).map(i => (i.toLong, s"p${i / 10}", i))
      .toDF("k", "part", "v")
    val flat = tmpDir("nojob")
    val hier = tmpDir("nojob_hier")
    Layout.writeManifestTable(spark, flat, rows, Seq("part"),
      statsCols = Seq("v"), bloomCols = Seq("k"))
    Layout.writeManifestTable(spark, hier, rows, Seq("part"),
      statsCols = Seq("v"), bloomCols = Seq("k"), manifestBuckets = 2)
    val group = "graft-skipping-plan"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "plan explicit skipping reads")
      val planned = try Seq(flat, hier).flatMap(d => Seq(
          Layout.readManifestEq(spark, d, Seq("k" -> 25L)),
          Layout.readManifestPruned(spark, d, Seq(("v", 10, 19)))))
        finally sc.clearJobGroup()
      org.apache.spark.sql.graftbridge.GraftSqlBridge.waitListenerBus(spark)
      assert(jobs.get == 0, s"${jobs.get} job(s) started while planning")
      // the listener does see this group's jobs once a read runs
      sc.setJobGroup(group, "run one skipping read")
      try assert(planned.head.select("v").as[Int].collect().toSeq == Seq(25))
      finally sc.clearJobGroup()
      org.apache.spark.sql.graftbridge.GraftSqlBridge.waitListenerBus(spark)
      assert(jobs.get > 0)
    } finally sc.removeSparkListener(listener)
  }

  test("min/max stats add no Spark job to a manifest publish") {
    import spark.implicits._
    def batch(ver: Long, lo: Int, hi: Int): DataFrame =
      (lo until hi).map(i => (i.toLong, s"p${i % 4}", i * 3 + ver.toInt, ver))
        .toDF("k", "part", "v", "ver")
    val group = "graft-stats-publish"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    // jobs one CoW merge plus one delta merge start on a fresh table
    def publishJobs(buckets: Int, statsCols: Seq[String]): Int = {
      val dir = tmpDir(s"statsjobs_${buckets}_${statsCols.size}")
      Layout.writeManifestTable(spark, dir, batch(1L, 0, 40), Seq("part"),
        statsCols = statsCols, manifestBuckets = buckets,
        keys = Seq("k"), versionCol = Some("ver"))
      jobs.set(0)
      sc.setJobGroup(group, "publish")
      try {
        Layout.mergeManifest(spark, dir, batch(2L, 20, 60), Seq("k"), "ver")
        Layout.mergeManifestDelta(spark, dir, batch(3L, 30, 70), Seq("k"),
          "ver")
      } finally sc.clearJobGroup()
      org.apache.spark.sql.graftbridge.GraftSqlBridge.waitListenerBus(spark)
      assert(Layout.readManifest(spark, dir).count() == 70)
      jobs.get
    }
    sc.addSparkListener(listener)
    try for (buckets <- Seq(0, 2)) {
      val plain = publishJobs(buckets, Nil)
      val withStats = publishJobs(buckets, Seq("v"))
      assert(plain > 0)
      assert(withStats == plain, s"manifestBuckets=$buckets: $withStats " +
        s"job(s) with statsCols = Seq(v), $plain without")
    } finally sc.removeSparkListener(listener)
  }
}
