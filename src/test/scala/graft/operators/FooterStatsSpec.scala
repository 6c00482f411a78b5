package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the soundness-critical footer-stats mapping (r17 advice item 4):
  * the per-rel bounds a manifest publish derives from parquet FOOTERS
  * must be bit-identical to what the data-scan path computes — for
  * every stats-column type the engine maps, including the edge cases
  * (nulls, all-null chunks, NaN floats) that route through the bail /
  * fallback branches. The oracle here is Spark itself: the stored
  * rendering contract is `min(col).cast("string")` / `max(col).cast
  * ("string")` per partition, so the test recomputes exactly that from
  * the data and compares against what the publish recorded.
  */
class FooterStatsSpec extends SparkSpec {

  private def tmpDir(tag: String): String =
    Files.createTempDirectory(s"graft_fstats_$tag").resolve("t").toString

  /** Run `f` with System.err captured (the footer fallback breadcrumb
    * is a stderr line — its absence/presence tells which path served). */
  private def withErr[A](f: => A): (A, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try { val a = f; (a, buf.toString("UTF-8")) }
    finally System.setErr(old)
  }

  /** The data-scan reference: per partition rel, (min, max) of each
    * stats column rendered through Spark's own Cast-to-string. */
  private def directBounds(df: DataFrame, partCol: String,
                           statsCols: Seq[String]):
      Map[String, Map[String, (Option[String], Option[String])]] = {
    val parts = df.select(partCol).distinct().collect()
      .map(_.get(0).toString)
    parts.map { p =>
      val exprs = statsCols.flatMap(c => Seq(
        min(col(c)).cast("string"), max(col(c)).cast("string")))
      val r = df.filter(col(partCol) === p)
        .agg(exprs.head, exprs.tail: _*).head()
      val bounds = statsCols.zipWithIndex.map { case (c, i) =>
        c -> (Option(r.get(2 * i)).map(_.toString),
          Option(r.get(2 * i + 1)).map(_.toString))
      }.toMap
      s"$partCol=$p" -> bounds
    }.toMap
  }

  test("footer-derived publish stats are bit-identical to the " +
      "data-scan rendering across every mapped type") {
    val dir = tmpDir("types")
    val statsCols = Seq("l", "i", "s", "d", "f", "ts", "dt", "dec", "nul")
    val df = spark.range(0, 200).select(
        col("id"),
        when(pmod(col("id"), lit(2)) === 0, lit("a")).otherwise(lit("b"))
          .as("part"),
        when(pmod(col("id"), lit(17)) === 0, lit(null))
          .otherwise(col("id") * 1000000L).as("l"),
        (col("id") % 97).cast("int").as("i"),
        concat(lit("s"), lpad(col("id").cast("string"), 4, "0")).as("s"),
        (col("id") * 1.25 - 40.0).as("d"),
        (col("id").cast("float") / 3.0f).cast("float").as("f"),
        timestamp_seconds(col("id") * 86400 + 12345)
          .cast("timestamp_ntz").as("ts"),
        date_add(lit(java.sql.Date.valueOf("2020-01-01")),
          col("id").cast("int")).as("dt"),
        (col("id").cast("decimal(9,2)") / lit(7).cast("decimal(9,2)"))
          .cast("decimal(9,2)").as("dec"),
        lit(null).cast("long").as("nul"))
    val (_, err) = withErr {
      Layout.writeManifestTable(spark, dir, df, Seq("part"),
        statsCols = statsCols)
    }
    assert(!err.contains("footer stats unavailable"),
      s"the footer path bailed — this test must exercise it, not the " +
        s"fallback. stderr:\n$err")
    val m = Layout.readManifestMeta(spark, dir, 1)
    val expected = directBounds(df, "part", statsCols)
    assert(m.stats.keySet == expected.keySet,
      s"rels ${m.stats.keySet} != ${expected.keySet}")
    for (rel <- expected.keySet; c <- statsCols)
      assert(m.stats(rel)(c) == expected(rel)(c),
        s"$rel/$c: footer ${m.stats(rel)(c)} != scan ${expected(rel)(c)}")
  }

  test("NaN-poisoned float stats bail to the data scan and still " +
      "publish the scan's exact bounds") {
    val dir = tmpDir("nan")
    val statsCols = Seq("d", "l")
    val df = spark.range(0, 50).select(
        lit("a").as("part"),
        when(col("id") === 7, lit(Double.NaN))
          .otherwise(col("id") * 0.5).as("d"),
        col("id").as("l"))
    val (_, err) = withErr {
      Layout.writeManifestTable(spark, dir, df, Seq("part"),
        statsCols = statsCols)
    }
    assert(err.contains("footer stats unavailable"),
      s"expected the NaN bail breadcrumb; stderr:\n$err")
    val m = Layout.readManifestMeta(spark, dir, 1)
    val expected = directBounds(df, "part", statsCols)
    for (c <- statsCols)
      assert(m.stats("part=a")(c) == expected("part=a")(c),
        s"part=a/$c: ${m.stats("part=a")(c)} != ${expected("part=a")(c)}")
  }

  test("a merge keeps footer-derived stats equal to the scan rendering " +
      "on the rewritten partitions") {
    val dir = tmpDir("merge")
    val statsCols = Seq("v", "s")
    def rows(ver: Long, lo: Int, hi: Int): DataFrame =
      spark.range(lo, hi).select(
        col("id").as("k"),
        when(pmod(col("id"), lit(2)) === 0, lit("x")).otherwise(lit("y"))
          .as("part"),
        (col("id") * 3 + ver).cast("double").as("v"),
        concat(lit("r"), col("id").cast("string")).as("s"),
        lit(ver).as("ver"))
    Layout.writeManifestTable(spark, dir, rows(1L, 0, 100), Seq("part"),
      statsCols = statsCols, keys = Seq("k"), versionCol = Some("ver"))
    val (_, err) = withErr {
      Layout.mergeManifest(spark, dir, rows(2L, 50, 150), Seq("k"), "ver")
    }
    assert(!err.contains("footer stats unavailable"),
      s"footer path must serve the merge rewrite. stderr:\n$err")
    val v = Layout.manifestVersions(spark, dir).max
    val m = Layout.readManifestMeta(spark, dir, v)
    val live = Layout.readManifest(spark, dir)
    val expected = directBounds(live, "part", statsCols)
    for (rel <- expected.keySet; c <- statsCols)
      assert(m.stats(rel)(c) == expected(rel)(c),
        s"$rel/$c: footer ${m.stats(rel)(c)} != scan ${expected(rel)(c)}")
  }

  /** Per-file bounds read back from each data file a manifest's
    * `fileStats` names, rendered the same way. */
  private def checkFileStats(dir: String, m: Layout.ManifestMeta,
                             statsCols: Seq[String]): Int = {
    val exprs = statsCols.flatMap(c => Seq(
      min(col(c)).cast("string"), max(col(c)).cast("string")))
    var n = 0
    for ((rel, files) <- m.fileStats; (key, got) <- files) {
      val r = spark.read.parquet(s"$dir/$rel/$key")
        .agg(exprs.head, exprs.tail: _*).head()
      for ((c, i) <- statsCols.zipWithIndex) {
        val want = (Option(r.getString(2 * i)), Option(r.getString(2 * i + 1)))
        assert(got(c) == want, s"$rel/$key/$c: fileStats ${got(c)} != scan $want")
      }
      n += 1
    }
    n
  }

  /** Each bucket's root `statsRollup` of a hierarchical manifest, read
    * from the root JSON as stored. */
  private def storedRollups(dir: String, version: Int):
      Seq[Map[String, (Option[String], Option[String])]] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new java.io.File(s"$dir/_MANIFEST.v$version"))
    def text(n: com.fasterxml.jackson.databind.JsonNode) =
      Option(n).filterNot(_.isNull).map(_.asText())
    root.get("buckets").elements().asScala.map { b =>
      Option(b.get("stats")).toSeq.flatMap(_.fields().asScala).map { e =>
        e.getKey -> (text(e.getValue.get("min")), text(e.getValue.get("max")))
      }.toMap
    }.toSeq
  }

  test("every stats combine site (per file, per rel, per bucket, delta " +
      "widening) renders as Spark's own min/max cast to string") {
    val statsCols = Seq("ts", "dec", "dt", "s", "d")
    def rows(ver: Long, lo: Int, hi: Int): DataFrame =
      spark.range(lo, hi).select(
        col("id").as("k"),
        concat(lit("p"), pmod(col("id"), lit(3)).cast("string")).as("part"),
        // hourly-ish instants across the 2023-11-05 US DST change
        timestamp_seconds(col("id") * 3607 + 1699000000L + ver * 11)
          .as("ts"),
        ((pmod(col("id") * 7 + ver, lit(101)) - 50).cast("decimal(9,2)") /
          lit(4).cast("decimal(9,2)")).cast("decimal(9,2)").as("dec"),
        date_add(lit(java.sql.Date.valueOf("2020-02-27")),
          pmod(col("id") * ver, lit(40)).cast("int")).as("dt"),
        concat(lit("s"), pmod(col("id") * 13 + ver, lit(97)).cast("string"))
          .as("s"),
        when(pmod(col("id"), lit(5)) === 0, lit(-0.0))
          .when(pmod(col("id"), lit(5)) === 1, lit(0.0))
          .otherwise((col("id") % 7 - 3) * 0.5 + ver).as("d"),
        lit(ver).as("ver"))
    val conf = spark.conf
    val tzKey = "spark.sql.session.timeZone"
    val mrKey = "spark.sql.files.maxRecordsPerFile"
    val oldTz = conf.get(tzKey)
    val oldMr = conf.getOption(mrKey)
    def underLA[A](f: => A): A = {
      conf.set(tzKey, "America/Los_Angeles")
      try f finally conf.set(tzKey, "UTC")
    }
    try {
      conf.set(tzKey, "UTC")
      // several files per partition per write
      conf.set(mrKey, "9")
      for (buckets <- Seq(0, 2)) {
        val dir = tmpDir(s"combine$buckets")
        Layout.writeManifestTable(spark, dir, rows(1L, 0, 120), Seq("part"),
          statsCols = statsCols, manifestBuckets = buckets,
          keys = Seq("k"), versionCol = Some("ver"))
        // what each stored map must equal after the next publish, per
        // rel and (hierarchical) per bucket — computed in the seed zone,
        // eagerly, before that publish changes the live snapshot
        def expected(src: DataFrame, m: Layout.ManifestMeta) = {
          val perRel = directBounds(src, "part", statsCols)
          val byBucket = perRel.keys.groupBy(m.bucketOf).map { case (b, rels) =>
            val bs = directBounds(src.filter(concat(lit("part="), col("part"))
              .isin(rels.toSeq: _*)).withColumn("part", lit("all")),
              "part", statsCols)
            b -> bs("part=all")
          }
          (perRel, byBucket)
        }
        def check(expect: (Map[String, Map[String, (Option[String],
            Option[String])]], Map[Int, Map[String, (Option[String],
            Option[String])]]), stage: String): Unit = {
          val v = Layout.manifestVersions(spark, dir).max
          val m = Layout.readManifestMeta(spark, dir, v)
          assert(m.stats == expect._1, s"$stage/$buckets: per-rel stats")
          assert(checkFileStats(dir, m, statsCols) >
            m.stats.size, s"$stage/$buckets: expected several files per rel")
          if (buckets > 0) {
            val rollups = storedRollups(dir, v)
            for ((b, want) <- expect._2)
              assert(rollups(b) == want, s"$stage/$buckets: bucket $b " +
                s"rollup ${rollups(b)} != scan $want")
          }
        }
        val seeded = Layout.readManifestMeta(spark, dir, 1)
        check(expected(rows(1L, 0, 120), seeded), "seed")
        val upd = rows(2L, 60, 150)
        underLA(Layout.mergeManifest(spark, dir, upd, Seq("k"), "ver"))
        val merged = Layout.readManifest(spark, dir)
        check(expected(merged, seeded), "merge")
        val delta = rows(3L, 100, 170)
        val widened = expected(
          Layout.readManifest(spark, dir).unionByName(delta), seeded)
        underLA(Layout.mergeManifestDelta(spark, dir, delta, Seq("k"), "ver"))
        check(widened, "delta")
      }
    } finally {
      conf.set(tzKey, oldTz)
      oldMr.fold(conf.unset(mrKey))(conf.set(mrKey, _))
    }
  }
}
