package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Schema evolution beyond add-nullable: METADATA-ONLY type widening
  * (old generations up-cast per file through the parquet reader —
  * NOTES.md records the reader capability) and column RENAME via alias
  * chains (readers coalesce across per-file names), with time travel,
  * the change/append feeds, and the planner-index refusal contract. */
class ManifestEvolutionSpec extends SparkSpec {

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft_evo_$tag").resolve("t").toString

  import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}

  test("SQL ALTER TABLE on catalog-registered manifest tables: the " +
      "four verbs evolve the manifest AND the catalog; inexpressible " +
      "shapes refuse; non-manifest tables pass through") {
    import graft.operators.Layout
    val dir = tmpDir("sqlalter")
    Layout.writeManifestTable(spark, dir,
      Seq((1L, "a", 7, 1L), (2L, "b", 9, 1L)).toDF("k", "part", "q", "ver"),
      Seq("part"), keys = Seq("k"), versionCol = Some("ver"))
    spark.sql("DROP TABLE IF EXISTS t_alter")
    spark.sql(s"CREATE TABLE t_alter USING manifest OPTIONS (path '$dir')")
    spark.sql("ALTER TABLE t_alter ADD COLUMNS (note STRING)")
    assert(spark.table("t_alter").columns.contains("note"))
    spark.sql("ALTER TABLE t_alter ALTER COLUMN q TYPE BIGINT")
    assert(spark.table("t_alter").schema("q").dataType ==
      org.apache.spark.sql.types.LongType)
    spark.sql("ALTER TABLE t_alter RENAME COLUMN q TO qty")
    assert(spark.sql("SELECT sum(qty) FROM t_alter").head().getLong(0)
      == 16L)
    // the rename retired its alias chain (SQL renames pay the rewrite)
    val v = Layout.manifestVersion(spark, dir).get
    assert(Layout.readManifestMeta(spark, dir, v).colAliases.isEmpty)
    spark.sql("ALTER TABLE t_alter DROP COLUMN note")
    assert(!spark.table("t_alter").columns.contains("note"))
    // IF EXISTS skips a missing column; without it the drop refuses
    spark.sql("ALTER TABLE t_alter DROP COLUMN IF EXISTS ghost")
    val eGhost = intercept[Exception] {
      spark.sql("ALTER TABLE t_alter DROP COLUMN ghost") }
    assert(eGhost.getMessage.contains("no such column"), eGhost.getMessage)
    // inexpressible shapes refuse with remedies
    val ePos = intercept[Exception] {
      spark.sql("ALTER TABLE t_alter ADD COLUMNS (x INT FIRST)") }
    assert(ePos.getMessage.contains("appends at the end"), ePos.getMessage)
    val eNul = intercept[Exception] {
      spark.sql("ALTER TABLE t_alter ALTER COLUMN qty COMMENT 'c'") }
    assert(eNul.getMessage.contains("only TYPE changes"), eNul.getMessage)
    val eNarrow = intercept[Exception] {
      spark.sql("ALTER TABLE t_alter ALTER COLUMN qty TYPE INT") }
    assert(eNarrow.getMessage.contains("widen") ||
      eNarrow.getMessage.contains("lossless"), eNarrow.getMessage)
    // non-manifest catalog tables keep Spark's own ALTER path
    spark.sql("DROP TABLE IF EXISTS t_plainalter")
    spark.sql(s"CREATE TABLE t_plainalter (a INT) USING parquet " +
      s"LOCATION '${tmpDir("plain")}'")
    spark.sql("ALTER TABLE t_plainalter ADD COLUMNS (b STRING)")
    assert(spark.table("t_plainalter").columns.toSeq == Seq("a", "b"))
    spark.sql("DROP TABLE t_plainalter")
    spark.sql("DROP TABLE t_alter")
  }

  test("widenManifestColumn: int->bigint is metadata-only — old gens " +
      "read up-cast, stats keep pruning, old snapshots keep their type, " +
      "non-widenings refuse") {
    val dir = tmpDir("widen")
    Layout.writeManifestTable(spark, dir,
      Seq((1, "a", 10, 1L), (2, "b", 20, 1L))
        .toDF("k", "part", "cnt", "ver"),
      Seq("part"), statsCols = Seq("cnt"))
    Layout.mergeManifestDelta(spark, dir,
      Seq((3, "a", 30, 2L)).toDF("k", "part", "cnt", "ver"),
      Seq("k"), "ver")                                        // v2
    Layout.widenManifestColumn(spark, dir, "cnt", "bigint")   // v3
    val live = Layout.readManifest(spark, dir)
    assert(live.schema("cnt").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(live.select("k", "cnt").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap ==
      Map(1 -> 10L, 2 -> 20L, 3 -> 30L),
      "pre-widen generations must resolve through the widened type")
    // old snapshot time-travels under its OWN (narrow) schema
    val v1 = Layout.readManifestVersion(spark, dir, 1)
    assert(v1.schema("cnt").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // a post-widen merge carries bigint values beyond int range
    Layout.mergeManifest(spark, dir,
      Seq((4, "b", 5000000000L, 3L)).toDF("k", "part", "cnt", "ver"),
      Seq("k"), "ver")
    assert(Layout.readManifest(spark, dir)
      .filter(col("k") === 4).head().getAs[Long]("cnt") == 5000000000L)
    // stats pruning through the widened type stays exact (old string
    // renderings parse identically as bigint)
    val pruned = Layout.readManifestPruned(spark, dir,
      Seq(("cnt", "15", "35")))
    assert(pruned.select("k").collect().map(_.getInt(0)).toSet ==
      Set(2, 3))
    // the append feed across the widen boundary aligns old windows to
    // the widened schema
    val feed = Layout.appendsBetween(spark, dir, 0, 3)
    assert(feed.schema("cnt").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(feed.select("cnt").collect().map(_.getLong(0)).toSet ==
      Set(10L, 20L, 30L))
    // narrowing and cross-family float widening refuse loudly
    intercept[IllegalArgumentException] {
      Layout.widenManifestColumn(spark, dir, "cnt", "int") }
    val e = intercept[IllegalArgumentException] {
      Layout.widenManifestColumn(spark, dir, "ver", "double") }
    assert(e.getMessage.contains("metadata-only widening"), e.getMessage)
  }

  test("DEFERRED SQL rename (spark.graft.rename.deferRewrite): the " +
      "DDL lands metadata-only (alias chain, zero data rewritten), " +
      "reads stay exact across mixed-name generations, bare-name scans " +
      "refuse with the remedy, manifest_detail exposes the debt, and " +
      "maintain_table clear_aliases retires it — re-enabling SQL") {
    val dir = tmpDir("deferrename")
    Layout.writeManifestTable(spark, dir,
      Seq((1L, "a", 10, 1L), (2L, "b", 20, 1L)).toDF("k", "part", "q", "ver"),
      Seq("part"), keys = Seq("k"), versionCol = Some("ver"))
    // a second generation so the chain spans mixed-name files
    Layout.mergeManifest(spark, dir,
      Seq((3L, "a", 30, 2L)).toDF("k", "part", "q", "ver"),
      Seq("k"), "ver")
    spark.sql("DROP TABLE IF EXISTS t_defer")
    spark.sql(s"CREATE TABLE t_defer USING manifest OPTIONS (path '$dir')")
    val filesBefore = Layout.readManifest(spark, dir).inputFiles.toSet
    spark.conf.set("spark.graft.rename.deferRewrite", "true")
    try spark.sql("ALTER TABLE t_defer RENAME COLUMN q TO qty")
    finally spark.conf.unset("spark.graft.rename.deferRewrite")
    // METADATA-ONLY: the files did not move; the alias chain is live
    assert(Layout.readManifest(spark, dir).inputFiles.toSet == filesBefore,
      "a deferred rename must rewrite zero data")
    val m = Layout.readManifestMeta(spark, dir,
      Layout.manifestVersion(spark, dir).get)
    assert(m.colAliases == Map("qty" -> Seq("q")))
    // the Scala read surface coalesces across names exactly
    assert(Layout.readManifest(spark, dir).select("k", "qty").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap ==
      Map(1L -> 10, 2L -> 20, 3L -> 30))
    // bare-name scans refuse with the maintenance remedy until cleared
    val e = intercept[Exception] { spark.table("t_defer").collect() }
    assert(e.getMessage.contains("clearManifestAliases"), e.getMessage)
    // the debt is visible to a SQL operator
    val debt = spark.sql(s"SELECT renamed_cols FROM manifest_detail('$dir')")
      .head().getSeq[String](0)
    assert(debt == Seq("qty"), s"manifest_detail must expose it: $debt")
    // maintenance retires the debt (the deferred rewrite, on schedule)
    val decisions = spark.sql(
      s"SELECT decisions FROM maintain_table('$dir', 'clear_aliases=true')")
      .head().getString(0)
    assert(decisions.contains("aliases=cleared"), decisions)
    val m2 = Layout.readManifestMeta(spark, dir,
      Layout.manifestVersion(spark, dir).get)
    assert(m2.colAliases.isEmpty)
    // bare-name SQL serves again under the new name
    assert(spark.sql("SELECT sum(qty) FROM t_defer").head().getLong(0)
      == 60L)
    spark.sql("DROP TABLE t_defer")
  }

  test("widenManifestColumn refuses PARTITION columns (their values " +
      "are baked into directory fragments and the catalog pins their " +
      "type) — Scala and SQL surfaces alike, catalog never drifts") {
    val dir = tmpDir("widenpart")
    Layout.writeManifestTable(spark, dir,
      Seq((1L, 7, 10, 1L), (2L, 9, 20, 1L)).toDF("k", "p", "cnt", "ver"),
      Seq("p"), keys = Seq("k"), versionCol = Some("ver"))
    val e = intercept[IllegalArgumentException] {
      Layout.widenManifestColumn(spark, dir, "p", "bigint") }
    assert(e.getMessage.contains("partition column"), e.getMessage)
    // the SQL verb hits the same guard — and because it refuses, the
    // catalog entry stays consistent with the manifest (no drifted
    // partitionSchema; DESCRIBE and bare-name scans keep working)
    spark.sql("DROP TABLE IF EXISTS t_widenpart")
    spark.sql(
      s"CREATE TABLE t_widenpart USING manifest OPTIONS (path '$dir')")
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE t_widenpart ALTER COLUMN p TYPE BIGINT") }
    assert(e2.getMessage.contains("partition column"), e2.getMessage)
    assert(spark.table("t_widenpart").schema("p").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(spark.sql("SELECT sum(cnt) FROM t_widenpart")
      .head().getLong(0) == 30L)
    // a DATA column still widens through SQL and the catalog follows
    spark.sql("ALTER TABLE t_widenpart ALTER COLUMN cnt TYPE BIGINT")
    assert(spark.table("t_widenpart").schema("cnt").dataType ==
      org.apache.spark.sql.types.LongType)
    spark.sql("DROP TABLE t_widenpart")
  }

  test("renameManifestColumn: metadata-only rename with alias chains — " +
      "mixed-name generations coalesce, feeds align across the " +
      "boundary, the planner index refuses until clearManifestAliases") {
    val dir = tmpDir("rename")
    Layout.writeManifestTable(spark, dir,
      Seq((1L, "a", 10.0, 1L), (2L, "b", 20.0, 1L))
        .toDF("k", "part", "v", "ver"),
      Seq("part"), statsCols = Seq("v"))
    Layout.mergeManifestDelta(spark, dir,
      Seq((3L, "a", 30.0, 2L)).toDF("k", "part", "v", "ver"),
      Seq("k"), "ver")                                        // v2
    Layout.renameManifestColumn(spark, dir, "v", "amount")    // v3
    // partition columns refuse
    intercept[IllegalArgumentException] {
      Layout.renameManifestColumn(spark, dir, "part", "grp") }
    // premature alias clearing refuses while old-name files live (the
    // seed generations still carry 'v' on disk right now)
    val e2 = intercept[IllegalArgumentException] {
      Layout.clearManifestAliases(spark, dir) }
    assert(e2.getMessage.contains("retired column names"),
      e2.getMessage)
    val live = Layout.readManifest(spark, dir)
    assert(live.columns.contains("amount") && !live.columns.contains("v"))
    assert(live.select("k", "amount").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0),
      "old-name files must resolve through the alias chain")
    // old snapshots keep the old name
    assert(Layout.readManifestVersion(spark, dir, 1)
      .columns.contains("v"))
    // merges now speak the NEW name — and mixed-name gens coalesce
    Layout.mergeManifest(spark, dir,
      Seq((4L, "b", 40.0, 3L)).toDF("k", "part", "amount", "ver"),
      Seq("k"), "ver")                                        // v4
    assert(Layout.readManifest(spark, dir).select("k", "amount")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0))
    // stats re-keyed: pruning on the NEW name stays exact
    val pruned = Layout.readManifestPruned(spark, dir,
      Seq(("amount", "15.0", "35.0")))
    assert(pruned.select("k").collect().map(_.getLong(0)).toSet ==
      Set(2L, 3L))
    // the change feed across the rename boundary aligns old-side rows
    // through the alias chain (an update shows as delete+insert, both
    // under the NEW name, values intact)
    val diff = Layout.manifestChanges(spark, dir, 1, 4)
    assert(diff.columns.contains("amount"))
    val inserted = diff.filter(col("_change_type") === "insert")
      .select("k", "amount").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(inserted == Map(3L -> 30.0, 4L -> 40.0), inserted.toString)
    // the planner index refuses alias-bearing tables loudly (deltas
    // folded first — that refusal is its own, earlier contract)…
    Layout.foldManifestDeltas(spark, dir)
    val e = intercept[IllegalArgumentException] {
      Layout.manifestTable(spark, dir) }
    assert(e.getMessage.contains("clearManifestAliases"), e.getMessage)
    // rewrite everything under current names, then clear + re-enable
    Layout.compactManifest(spark, dir, maxFiles = 0)
    Layout.clearManifestAliases(spark, dir)
    val tbl = Layout.manifestTable(spark, dir)
    assert(tbl.filter(col("amount") === 30.0).select("k")
      .head().getLong(0) == 3L)
    // chained rename keeps the WHOLE history in one chain — rows from
    // the original-name era still resolve if any survive a partial
    // rewrite (here all rewritten, but the chain must parse back)
    Layout.renameManifestColumn(spark, dir, "amount", "price")
    assert(Layout.readManifest(spark, dir).select("k", "price")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      .contains(4L))
    // RETIRED names are haunted: old files may still carry them, so
    // adding a column (or renaming another) under one would surface
    // old data as the new column's values — both refuse loudly
    val e3 = intercept[IllegalArgumentException] {
      Layout.evolveManifest(spark, dir, "amount DOUBLE") }
    assert(e3.getMessage.contains("retired by a rename"), e3.getMessage)
    Layout.evolveManifest(spark, dir, "note STRING")
    val e4 = intercept[IllegalArgumentException] {
      Layout.renameManifestColumn(spark, dir, "note", "amount") }
    assert(e4.getMessage.contains("RETIRED name"), e4.getMessage)
  }

  test("dropManifestColumn: metadata-only drop — pre-drop generations " +
      "never decode the column again, time travel keeps it, post-drop " +
      "merges refuse the dead name, feeds align, haunted re-add " +
      "refuses until a rewrite clears it") {
    val dir = tmpDir("drop")
    Layout.writeManifestTable(spark, dir,
      Seq((1L, "a", 10.0, "x1", 1L), (2L, "b", 20.0, "x2", 1L))
        .toDF("k", "part", "v", "note", "ver"),
      Seq("part"), statsCols = Seq("note"))
    Layout.mergeManifestDelta(spark, dir,
      Seq((3L, "a", 30.0, "x3", 2L)).toDF("k", "part", "v", "note", "ver"),
      Seq("k"), "ver")                                         // v2
    Layout.dropManifestColumn(spark, dir, "note")              // v3
    val live = Layout.readManifest(spark, dir)
    assert(!live.columns.contains("note"))
    assert(live.select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap ==
      Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))
    // stats config dropped with the column (no stale pruning state)
    val m = Layout.readManifestMeta(spark, dir,
      Layout.manifestVersion(spark, dir).get)
    assert(m.statsCols.isEmpty && m.droppedCols.contains("note"))
    // time travel keeps the column and its values
    val v2 = Layout.readManifestVersion(spark, dir, 2)
    assert(v2.columns.contains("note") &&
      v2.filter(col("k") === 3L).head().getAs[String]("note") == "x3")
    // post-drop merges refuse the dead name
    val e1 = intercept[IllegalArgumentException] {
      Layout.mergeManifest(spark, dir,
        Seq((4L, "a", 40.0, "x4", 3L))
          .toDF("k", "part", "v", "note", "ver"), Seq("k"), "ver") }
    assert(e1.getMessage.contains("note"), e1.getMessage)
    // ...and the new shape merges fine over pre-drop generations
    Layout.mergeManifest(spark, dir,
      Seq((4L, "a", 40.0, 3L)).toDF("k", "part", "v", "ver"),
      Seq("k"), "ver")                                         // v4
    // the planner index serves the post-drop table (a drop does NOT
    // block file-level scans: requested columns simply exclude it)
    assert(Layout.manifestTable(spark, dir).count() == 4)
    // a feed window CROSSING the drop aligns to its end version's
    // schema (no dead column); a pre-drop window keeps it
    assert(Layout.appendsBetween(spark, dir, 1, 2).columns
      .contains("note"))
    val feed = Layout.appendsBetween(spark, dir, 1, 3)
    assert(!feed.columns.contains("note"))
    assert(feed.select("k").collect().map(_.getLong(0)).toSet == Set(3L))
    // haunted: re-adding or renaming onto the dropped name refuses
    val e2 = intercept[IllegalArgumentException] {
      Layout.evolveManifest(spark, dir, "note STRING") }
    assert(e2.getMessage.contains("retired"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      Layout.renameManifestColumn(spark, dir, "v", "note") }
    assert(e3.getMessage.contains("RETIRED"), e3.getMessage)
    // a full rewrite retires the bytes; clearManifestAliases verifies
    // the footers and frees the name
    Layout.foldManifestDeltas(spark, dir)
    Layout.compactManifest(spark, dir, maxFiles = 0)
    Layout.reapManifest(spark, dir)
    Layout.clearManifestAliases(spark, dir)
    Layout.evolveManifest(spark, dir, "note STRING")
    assert(Layout.readManifest(spark, dir).columns.contains("note"))
  }
}
