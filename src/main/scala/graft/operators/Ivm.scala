package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental view maintenance for keyed additive aggregates: a
  * persisted summary table (count + exact decimal sums per key) kept
  * current by folding in DELTA batches, never recomputing over the
  * base table — at 100 TB the difference between a per-batch shuffle
  * of the delta (plus the summary, which is |distinct keys|-sized) and
  * a full-table aggregation per refresh.
  *
  * Reference posture: the reference maintains summary tables by
  * re-running scheduled INSERT-SELECT jobs over a date window
  * (models.py Insert, jobs re-run per period); this is the engine-side
  * incremental form of the same contract.
  *
  * Design:
  *  - State is `keys..., n_rows BIGINT, sum_<c> DECIMAL(38,6)` per
  *    requested sum column. Decimal partials make the fold exact
  *    integer arithmetic — order- and batching-independent, so ANY
  *    split of the input into deltas lands bit-identical to the
  *    one-shot aggregate ([[graft.functions.decSum]]'s contract).
  *  - SKETCH-valued summaries (`kmvCols`/`kllCols`): the summary also
  *    carries mergeable sketches — `kmv_<c>` (KMV distinct-count,
  *    `array<long>` of k min hashes) and `kll_<c>` (KLL quantiles,
  *    sorted weighted point set) — and the fold per refresh is a
  *    sketch MERGE, so the standing summary answers distinct-count
  *    and percentile queries incrementally, never rescanning the
  *    base. KMV's fold is order-independent by construction (k-min of
  *    a union); below k distinct values it is LOSSLESS and the
  *    estimate is exact. KLL is lossless below its compaction
  *    threshold (q55's merge precedent) and rank-error-bounded above
  *    it (q58's regime). Sketches are INSERT-ONLY: combining them
  *    with `weightCol` retractions is rejected loudly.
  *  - Each apply is one shuffle on the group keys: delta partials
  *    union the live summary generation and re-aggregate; the result
  *    lands as the next `gen-N` directory and ONE atomic `_CURRENT`
  *    pointer rename publishes it ([[Layout]]'s generational
  *    discipline: pinned readers keep their snapshot, a crash before
  *    the swap leaves only an orphan gen dir nothing reads).
  *  - Delta application is NOT idempotent (unlike latest-wins
  *    [[Layout.merge]]), so exactly-once needs batch tracking: the
  *    applied batch id is written INSIDE the new generation dir
  *    (`_IVM_BATCH`, underscore-prefixed so scans ignore it) before
  *    the pointer swap — replaying an already-applied batch id is a
  *    loud no-op. [[graft.streaming.Streams.incrementalAgg]] feeds
  *    Structured Streaming's monotone micro-batch ids straight in.
  *  - Retractions: `weightCol` (+1 insert / -1 retract) subtracts a
  *    row's contribution; keys whose count reaches zero leave the
  *    summary. An upstream CDC update = retract old row + insert new.
  *    A retract that would drive a key's count NEGATIVE (no matching
  *    prior insert) fails LOUDLY and discards the apply — negative
  *    counts are corruption, never pending state.
  *
  * No separate compaction path: every apply rewrites the (keys-sized)
  * summary in full, so the live generation never accumulates
  * small-file history; [[Layout.reapGenerations]] clears superseded
  * generations after readers drain.
  */
object Ivm {

  private val BatchMarker = "_IVM_BATCH"

  private def sumCol(c: String) = s"sum_$c"
  private def kmvCol(c: String) = s"kmv_$c"
  private def kllCol(c: String) = s"kll_$c"

  /** Additive/mergeable partial of one delta batch. */
  private def partials(delta: DataFrame, keys: Seq[String],
                       sumCols: Seq[String],
                       weightCol: Option[String],
                       kmvCols: Seq[String], kllCols: Seq[String],
                       sketchK: Int): DataFrame = {
    import graft.expressions.{Kll, Kmv}
    val w = weightCol.map(col(_).cast("long")).getOrElse(lit(1L))
    val aggs = (sum(w).as("n_rows") +: sumCols.map(c =>
      sum((col(c).cast("decimal(38,6)") * w).cast("decimal(38,6)"))
        .cast("decimal(38,6)").as(sumCol(c)))) ++
      kmvCols.map(c => Kmv.sketch(xxhash64(col(c)), sketchK).as(kmvCol(c))) ++
      kllCols.map(c =>
        Kll.sketch(col(c).cast("double"), sketchK).as(kllCol(c)))
    delta.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Batch id recorded in the LIVE generation, or None (fresh table /
    * unmanaged applies only). */
  def lastAppliedBatch(spark: SparkSession, path: String): Option[Long] =
    Layout.currentGeneration(spark, path).flatMap { g =>
      TableFs(spark, path).readPointer(
        new Path(s"${Layout.generationPath(path, g)}/$BatchMarker"))
    }

  /** Fold one delta batch into the summary at `path`; returns false
    * (and changes nothing) when `batchId` is at or below the recorded
    * one — the exactly-once replay guard. `batchId = -1` applies
    * unconditionally (caller manages dedup), carrying the previous
    * marker forward. */
  def applyDelta(spark: SparkSession, path: String, delta: DataFrame,
                 keys: Seq[String], sumCols: Seq[String],
                 batchId: Long = -1L,
                 weightCol: Option[String] = None,
                 kmvCols: Seq[String] = Nil,
                 kllCols: Seq[String] = Nil,
                 sketchK: Int = 4096): Boolean =
      Layout.withMaintenanceLock(spark, path) {
    import graft.expressions.{Kll, Kmv}
    require(keys.nonEmpty, "incrementalAgg needs at least one key column")
    require(weightCol.isEmpty || (kmvCols.isEmpty && kllCols.isEmpty),
      "sketch summary columns are INSERT-ONLY (a KMV/KLL sketch cannot " +
        "retract a value); weightCol composes with sum columns only")
    val needed = keys ++ sumCols ++ weightCol ++ kmvCols ++ kllCols
    require(needed.forall(delta.columns.contains),
      "delta is missing column(s) " +
        needed.filterNot(delta.columns.contains).mkString("[", ", ", "]"))
    val applied = lastAppliedBatch(spark, path)
    if (batchId >= 0 && applied.exists(_ >= batchId)) false
    else {
      val part = partials(delta, keys, sumCols, weightCol,
        kmvCols, kllCols, sketchK)
      val curGen = Layout.currentGeneration(spark, path)
      val combined = curGen match {
        case None => part
        case Some(g) =>
          val cur = spark.read.parquet(Layout.generationPath(path, g))
          val aggs = (sum(col("n_rows")).as("n_rows") +: sumCols.map(c =>
            sum(col(sumCol(c))).cast("decimal(38,6)").as(sumCol(c)))) ++
            kmvCols.map(c =>
              Kmv.merge(col(kmvCol(c)), sketchK).as(kmvCol(c))) ++
            kllCols.map(c =>
              Kll.merge(col(kllCol(c)), sketchK).as(kllCol(c)))
          cur.unionByName(part).groupBy(keys.map(col): _*)
            .agg(aggs.head, aggs.tail: _*)
      }
      val next = curGen.getOrElse(0) + 1
      val genDir = Layout.generationPath(path, next)
      // retracted-to-zero keys leave the summary entirely; a retraction
      // that would drive a key NEGATIVE (a retract with no matching
      // prior insert — mis-ordered or duplicated delta) fails LOUDLY
      // before the pointer swap: the written generation is discarded
      // and the live summary + batch marker stay untouched, instead of
      // a negative-count key silently inverting every later read. The
      // check rides the write pass (Observation — zero extra scans).
      val obs = org.apache.spark.sql.Observation()
      combined.filter(col("n_rows") =!= 0L)
        .observe(obs,
          sum(when(col("n_rows") < 0L, 1L).otherwise(0L)).as("neg"))
        .write.mode(SaveMode.Overwrite).parquet(genDir)
      val negKeys = obs.get("neg") match {
        case n: java.lang.Long => n.longValue; case _ => 0L
      }
      if (negKeys > 0) {
        val sample = spark.read.parquet(genDir)
          .filter(col("n_rows") < 0L)
          .select(keys.map(col): _*).limit(5).collect()
          .map(_.toSeq.mkString("(", ",", ")")).mkString(", ")
        TableFs(spark, path).delete(new Path(genDir), true)
        throw new IllegalStateException(
          s"IVM retraction below zero: $negKeys key(s) would land with " +
            s"negative n_rows (sample keys: $sample) — a retract arrived " +
            "without its prior insert. The apply was discarded; the live " +
            "summary and batch marker are unchanged. Re-order or drop " +
            "the offending delta and re-apply.")
      }
      val marker = (if (batchId >= 0) Some(batchId) else applied)
      // the marker lands inside the not-yet-live generation, so a plain
      // write suffices; the _CURRENT swap below publishes both
      marker.foreach(id => TableFs(spark, path).writeBytes(
        new Path(s"$genDir/$BatchMarker"),
        id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      Layout.swapCurrent(spark, path, next)
      true
    }
  }

  /** The live summary snapshot (pinned: a concurrent apply never
    * changes a running query's input). */
  def read(spark: SparkSession, path: String): DataFrame =
    Layout.readCurrent(spark, path)

  /** Catch a STANDING summary up to a manifest table's live snapshot —
    * the self-driving materialized view: the summary's batch marker IS
    * the last manifest version it reflects, so one call (a) seeds from
    * the live snapshot on first contact, (b) folds ONLY the
    * [[Layout.manifestChanges]] feed (insert = +1, delete = -1 weight)
    * when behind, (c) no-ops when already current — run it on any
    * schedule, rerun it blindly after a crash; exactly-once falls out
    * of [[applyDelta]]'s marker because the manifest version is the
    * batch id. The base table is never re-aggregated after the seed;
    * per sync the work is |summary| + |changed partitions' diff|.
    *
    * Retention contract: the table must still retain the summary's
    * last-synced version ([[Layout.reapManifest]] `keepVersions` sized
    * to the sync schedule's maximum lag) — a reaped-away window fails
    * loudly rather than silently skipping changes. Returns true when
    * the summary advanced, false when it was already current.
    *
    * `appendOnly = true` is the CALLER'S assertion that delta merges
    * on this table never rewrite an existing key (fresh keys only).
    * Under it, windows the manifest provenance proves delete- and
    * rewrite-free fold through [[Layout.appendsBetween]] — reading
    * only the appended generation dirs, ~10x cheaper per sync than the
    * snapshot diff, widening with table size (NOTES.md) — while
    * rewrite-bearing windows still take the always-correct
    * [[Layout.manifestChanges]] diff. The assertion is required
    * because a delta that UPDATES a key is indistinguishable from a
    * fresh insert at the file level, and folding it as one would
    * silently double-count; leave the default (false) for general CDC
    * tables.
    */
  def syncFromManifest(spark: SparkSession, summaryPath: String,
                       tablePath: String, keys: Seq[String],
                       sumCols: Seq[String],
                       kmvCols: Seq[String] = Nil,
                       kllCols: Seq[String] = Nil,
                       sketchK: Int = 4096,
                       consumer: Option[String] = None,
                       appendOnly: Boolean = false): Boolean = {
    val live = Layout.manifestVersion(spark, tablePath).getOrElse(
      throw new IllegalArgumentException(
        s"$tablePath is not a manifest table; seed it with " +
          "writeManifestTable"))
    val sketched = kmvCols.nonEmpty || kllCols.nonEmpty
    // a summary is an implicit change-feed consumer: registering a
    // named cursor makes [[Layout.reapManifest]] refuse retention
    // windows that would strand THIS view's next refresh — acked only
    // after the fold landed (the ManifestFeed release discipline)
    def ack(): Unit =
      consumer.foreach(Layout.writeFeedCursor(spark, tablePath, _, live))
    val applied = lastAppliedBatch(spark, summaryPath) match {
      case None =>
        applyDelta(spark, summaryPath,
          Layout.readManifestVersion(spark, tablePath, live),
          keys, sumCols, batchId = live,
          kmvCols = kmvCols, kllCols = kllCols, sketchK = sketchK)
      case Some(v) if v >= live => false
      case Some(v) =>
        // the cheap appends route needs the CALLER'S `appendOnly`
        // assertion on top of the structural check: provenance can
        // prove a window delete-free and rewrite-free, but a delta
        // that UPDATES an existing key looks identical to a fresh
        // insert at the file level — folding it as one would
        // double-count the key (the changes diff retracts the old row;
        // raw delta files cannot). With the assertion AND a provably
        // clean window, the fold reads only the appended generation
        // dirs — never resolving or diffing snapshots (NOTES.md: ~10x
        // per increment, widening with table size); sketch columns are
        // safe there by construction (nothing to retract). Windows
        // with rewrites fall back to the changes diff regardless.
        // a DECLARED append-only table (seeded appendOnly = true)
        // proves the assertion STRUCTURALLY: keyed merges refuse on
        // it, so a delta can never be a key update in disguise — the
        // caller flag remains only for tables that are append-only by
        // convention rather than by declaration
        val declared = Layout
          .readManifestMeta(spark, tablePath, live).appendOnly
        val appends =
          if (appendOnly || declared)
            Layout.appendsBetweenOpt(spark, tablePath, v.toInt, live)
          else None
        appends match {
          case Some(appended) =>
            applyDelta(spark, summaryPath, appended, keys, sumCols,
              batchId = live, kmvCols = kmvCols, kllCols = kllCols,
              sketchK = sketchK)
          case None => foldChanges(spark, summaryPath, tablePath, keys,
            sumCols, kmvCols, kllCols, sketchK, sketched, v.toInt, live)
        }
    }
    // current through v`live` — even a no-op sync advances the cursor
    // (the summary provably needs nothing older than the live version)
    ack()
    applied
  }

  private def foldChanges(spark: SparkSession, summaryPath: String,
                          tablePath: String, keys: Seq[String],
                          sumCols: Seq[String], kmvCols: Seq[String],
                          kllCols: Seq[String], sketchK: Int,
                          sketched: Boolean, v: Int, live: Int): Boolean = {
        val feed = Layout.manifestChanges(spark, tablePath, v, live)
        if (!sketched)
          applyDelta(spark, summaryPath,
            feed.withColumn("__w",
              when(col("_change_type") === "insert", 1L).otherwise(-1L)),
            keys, sumCols, batchId = live, weightCol = Some("__w"))
        else {
          // KMV/KLL sketches are not subtractable, so sketch-valued
          // summaries can follow INSERT-ONLY feeds only: any delete in
          // the window (a real delete OR the delete half of a key
          // rewrite) fails loudly before anything folds — the summary
          // and marker stay consistent, the remedy is named
          val feedC = feed.localCheckpoint() // count + fold: one compute
          val dels = feedC.filter(col("_change_type") === "delete").count()
          require(dels == 0L,
            s"syncFromManifest with sketch columns: the change feed of " +
              s"$tablePath v$v..v$live carries $dels delete row(s), and " +
              "KMV/KLL sketches cannot retract — sketch-valued sync " +
              "follows APPEND-ONLY tables (new keys only); for CDC " +
              "tables keep sum columns incremental and recompute " +
              "sketches on a schedule")
          applyDelta(spark, summaryPath, feedC, keys, sumCols,
            batchId = live, kmvCols = kmvCols, kllCols = kllCols,
            sketchK = sketchK)
        }
  }
}
