package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** DECLARED append-only manifest tables: no merge spec exists, so
  * updates/deletes are structurally INEXPRESSIBLE — appendManifest is
  * the only write path, reads union spec-less deltas, the planner
  * index serves pending appends (nothing to resolve), and the sketch
  * IVM sync derives the append-only assertion from the manifest
  * itself (closing the round-12 watch item). */
class ManifestAppendOnlySpec extends SparkSpec {

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft_ao_$tag").resolve("t").toString

  import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}

  private def rows(df: DataFrame): Set[(Long, Double)] =
    df.select("k", "v").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet

  test("append-only lifecycle: appends union in, keyed writes refuse, " +
      "the planner index serves PENDING appends with pruning, fold " +
      "re-clusters, feeds and time travel hold") {
    val dir = tmpDir("life")
    Layout.writeManifestTable(spark, dir,
      Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "part", "v"),
      Seq("part"), statsCols = Seq("k"), appendOnly = true)     // v1
    assert(Layout.appendManifest(spark, dir,
      Seq((3L, "a", 3.0), (4L, "c", 4.0)).toDF("k", "part", "v"))) // v2
    assert(Layout.appendManifest(spark, dir,
      Seq((5L, "b", 5.0)).toDF("k", "part", "v")))               // v3
    // duplicate ROWS are legal (no keys exist): both survive
    assert(Layout.appendManifest(spark, dir,
      Seq((5L, "b", 5.0)).toDF("k", "part", "v")))               // v4
    val live = Layout.readManifest(spark, dir)
    assert(live.count() == 6 && rows(live) ==
      Set(1L -> 1.0, 2L -> 2.0, 3L -> 3.0, 4L -> 4.0, 5L -> 5.0))
    // keyed/deleting writes are structurally inexpressible
    val e1 = intercept[IllegalArgumentException] {
      Layout.mergeManifest(spark, dir,
        Seq((1L, "a", 9.0, 2L)).toDF("k", "part", "v", "ver"),
        Seq("k"), "ver") }
    assert(e1.getMessage.contains("append-only"), e1.getMessage)
    intercept[IllegalArgumentException] {
      Layout.mergeManifestDelta(spark, dir,
        Seq((1L, "a", 9.0, 2L)).toDF("k", "part", "v", "ver"),
        Seq("k"), "ver") }
    // appendManifest on a NON-declared table refuses too
    val keyed = tmpDir("keyed")
    Layout.writeManifestTable(spark, keyed,
      Seq((1L, "a", 1.0)).toDF("k", "part", "v"), Seq("part"))
    intercept[IllegalArgumentException] {
      Layout.appendManifest(spark, keyed,
        Seq((2L, "a", 2.0)).toDF("k", "part", "v")) }
    // the planner index serves PENDING appends — no fold needed — and
    // still prunes partitions and files
    val tbl = Layout.manifestTable(spark, dir)
    assert(tbl.count() == 6)
    val q = tbl.filter(col("part") === "b")
    assert(q.collect().map(_.getAs[Long]("k")).toSet == Set(2L, 5L))
    val scanned = graft.PlanScan.scannedFiles(q)
    val total = tbl.inputFiles.length.toLong
    assert(scanned < total,
      s"partition pruning must hold over pending appends " +
        s"($scanned of $total)")
    // the appends feed is structurally sound on every version
    assert(Layout.appendsBetween(spark, dir, 1, 4)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(3L, 4L, 5L, 5L))
    // fold re-clusters the appends into single base generations,
    // row-identically (duplicates intact)
    Layout.foldManifestDeltas(spark, dir)
    val folded = Layout.readManifest(spark, dir)
    assert(folded.count() == 6 && rows(folded) == rows(live))
    // time travel to v2 sees exactly the first append
    assert(Layout.readManifestVersion(spark, dir, 2).count() == 4)
  }

  test("append-only under concurrency and the Maintain policy: appends " +
      "land while a compaction commits, and the node folds by depth") {
    val dir = tmpDir("conc")
    Layout.writeManifestTable(spark, dir,
      (1L to 20000L).map(i => (i, s"p${i % 2}", i * 1.0))
        .toDF("k", "part", "v"), Seq("part"), appendOnly = true)
    val started = new java.util.concurrent.CountDownLatch(1)
    @volatile var failure: Throwable = null
    val tA = new Thread(() =>
      try { started.await()
        assert(Layout.compactManifest(spark, dir, maxFiles = 0).nonEmpty) }
      catch { case t: Throwable => failure = t })
    val tB = new Thread(() =>
      try { started.countDown()
        (1 to 3).foreach(b => Layout.appendManifest(spark, dir,
          Seq((100000L + b, "p0", b * 1.0)).toDF("k", "part", "v"))) }
      catch { case t: Throwable => failure = t })
    tA.start(); tB.start(); tA.join(120000); tB.join(120000)
    if (failure != null) throw failure
    assert(Layout.readManifest(spark, dir).count() == 20003,
      "appends and the compaction must both land")
    assert(Layout.manifestVersion(spark, dir).contains(5),
      s"every publish exactly once (got " +
        s"${Layout.manifestVersion(spark, dir)})")
    // the Maintain policy folds the partitions whose depth crossed:
    // p0 holds 3 pending appends, p1 none
    val r = graft.models.MaintainModel(dir, maxPendingDeltas = 3)
      .execute(graft.core.StepContext(spark,
        graft.core.Calendar.day("2023-01-01")))
    assert(r.resultLong.exists(_.startsWith("fold=part=p0")),
      r.resultLong.toString)
    val m = Layout.readManifestMeta(spark, dir,
      Layout.manifestVersion(spark, dir).get)
    assert(m.deltas.isEmpty && m.appendOnly,
      "the fold clears the appends; the declaration persists")
    assert(Layout.readManifest(spark, dir).count() == 20003)
  }

  test("sketch IVM sync derives append-only STRUCTURALLY from the " +
      "declaration — no caller assertion, base generations never read") {
    import graft.operators.{Ivm, Layout}
    val dir = tmpDir("ivm")
    val sum = tmpDir("ivm_sum")
    Layout.writeManifestTable(spark, dir,
      (1L to 100L).map(i => (i, s"p${i % 2}", i * 1.0))
        .toDF("k", "part", "v"),
      Seq("part"), appendOnly = true)                           // v1
    assert(Ivm.syncFromManifest(spark, sum, dir, Seq("part"), Seq("v"),
      kmvCols = Seq("k"), sketchK = 64))                        // seed
    Layout.appendManifest(spark, dir,
      (101L to 120L).map(i => (i, s"p${i % 2}", i * 1.0))
        .toDF("k", "part", "v"))                                // v2
    // NO appendOnly = true passed: the declaration carries it — and
    // the sync must route through the O(|new rows|) appends feed,
    // which we pin structurally by hiding every BASE generation
    val fc = new java.io.File(dir)
    val hidden = fc.listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(_.getName == "gen=1")
    val stash = Files.createTempDirectory("stash").toFile
    hidden.foreach { d =>
      java.nio.file.Files.move(d.toPath,
        new java.io.File(stash, d.getParentFile.getName + "_" +
          d.getName).toPath)
    }
    try assert(Ivm.syncFromManifest(spark, sum, dir, Seq("part"),
      Seq("v"), kmvCols = Seq("k"), sketchK = 64),
      "the sync must never touch base generations on a declared " +
        "append-only table")
    finally stash.listFiles().foreach { d =>
      val Array(rel, gen) = d.getName.split("_", 2)
      java.nio.file.Files.move(d.toPath,
        new java.io.File(new java.io.File(dir, rel), gen).toPath)
    }
    val got = Ivm.read(spark, sum)
      .select("part", "n_rows").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("p0" -> 60L, "p1" -> 60L), got.toString)
  }

  test("SQL surface: INSERT appends spec-less (no OPTIONS needed), " +
      "UPDATE/DELETE refuse structurally; the streaming sink takes " +
      "batches as pure appends") {
    val dir = tmpDir("sql")
    Layout.writeManifestTable(spark, dir,
      Seq((1L, "a", 1.0)).toDF("k", "part", "v"),
      Seq("part"), appendOnly = true)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW t_ao USING manifest " +
      s"OPTIONS (path '$dir')")
    spark.sql("INSERT INTO t_ao SELECT * FROM VALUES " +
      "(2L, 3.0, 'b') AS s(k, v, part)")
    assert(rows(Layout.readManifest(spark, dir)) ==
      Set(1L -> 1.0, 2L -> 3.0))
    val e1 = intercept[Exception] {
      spark.sql("UPDATE t_ao SET v = 9.0 WHERE k = 1") }
    assert(e1.getMessage.contains("append-only"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("DELETE FROM t_ao WHERE k = 1") }
    assert(e2.getMessage.contains("append-only"), e2.getMessage)
    // the streaming sink: no keyed options, every batch a pure append
    val srcDir = tmpDir("sql_src")
    (3L to 6L).map(i => (i, s"p${i % 2}", i * 1.0))
      .toDF("k", "part", "v").write.parquet(srcDir)
    val q = spark.readStream.schema("k LONG, part STRING, v DOUBLE")
      .parquet(srcDir)
      .writeStream.format("manifest").option("path", dir)
      .option("checkpointLocation", tmpDir("sql_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(Layout.readManifest(spark, dir).count() == 6)
    // keyed sink options against a declared append-only table refuse
    val q2 = spark.readStream.schema("k LONG, part STRING, v DOUBLE")
      .parquet(srcDir)
      .writeStream.format("manifest").option("path", dir)
      .option("keys", "k").option("versionCol", "v")
      .option("checkpointLocation", tmpDir("sql_ckpt2"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val e3 = intercept[Exception] { q2.awaitTermination() }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e3).exists(c => Option(c.getMessage)
      .exists(_.contains("append-only"))), e3.getMessage)
  }

  test("appendManifest validates batch TYPES against the stored " +
      "schema: lossless up-casts land AS the stored type, anything " +
      "else refuses loudly at write time (not at the next read)") {
    val dir = tmpDir("types")
    Layout.writeManifestTable(spark, dir,
      Seq((1L, "a", 1.0)).toDF("k", "part", "v"),
      Seq("part"), appendOnly = true)                           // v1
    // int where the table stores bigint: a provably lossless up-cast —
    // accepted, and the landed file carries the STORED type
    assert(Layout.appendManifest(spark, dir,
      Seq((2, "a", 2.0)).toDF("k", "part", "v")
        .withColumn("k", col("k").cast("int"))))                // v2
    val live = Layout.readManifest(spark, dir)
    assert(live.schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(rows(live) == Set(1L -> 1.0, 2L -> 2.0))
    // string where the table stores double: refused NOW, naming the
    // column — the old behavior wrote the batch's own type and every
    // subsequent read (requesting the stored schema) failed to decode,
    // poisoning the table until the generation was removed by hand
    val e = intercept[IllegalArgumentException] {
      Layout.appendManifest(spark, dir,
        Seq((3L, "a", "3.0")).toDF("k", "part", "v"))
    }
    assert(e.getMessage.contains("v:") &&
      e.getMessage.contains("stored"), e.getMessage)
    // the refusal left no trace: the table still reads clean
    assert(rows(Layout.readManifest(spark, dir)) ==
      Set(1L -> 1.0, 2L -> 2.0))
  }

  test("a keyed merge refuses an append-only table even when its batch " +
      "id matches the sink marker (structural refusal before replay)") {
    val dir = tmpDir("refusal_order")
    Layout.writeManifestTable(spark, dir,
      Seq((1L, "a", 1.0)).toDF("k", "part", "v"), Seq("part"),
      appendOnly = true)
    assert(Layout.appendManifest(spark, dir,
      Seq((2L, "a", 2.0)).toDF("k", "part", "v"), batchId = 3L, sinkId = "s"))
    val e = intercept[IllegalArgumentException] {
      Layout.mergeManifest(spark, dir,
        Seq((1L, "a", 9.0, 2L)).toDF("k", "part", "v", "ver"),
        Seq("k"), "ver", batchId = 3L, sinkId = "s")
    }
    assert(e.getMessage.contains("append-only"), e.getMessage)
  }
}
