package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operators beyond the Spark built-ins: skew-salted
  * aggregation and as-of (most-recent-at-or-before) joins — composed
  * from existing operators per the custom-operator preference order
  * (compose > custom Expression > custom plan node).
  */
object Relational {

  /** Two-stage aggregation with key salting — the standard fix for a
    * skewed groupBy where one hot key overwhelms a single reducer.
    * Stage 1 partially aggregates on (keys, salt) over `salt` shards;
    * stage 2 combines the shards. Correct for algebraic aggregates
    * (sum/count/min/max); the caller supplies both phases.
    *
    * At 100 TB: AQE's skew handling covers JOINS, but a skewed
    * aggregation key still funnels into one task without salting.
    * Spark's own partial aggregation already does map-side combine; use
    * this when the REDUCE side itself is the bottleneck (e.g. exact
    * distinct counting per hot key downstream of an explode).
    */
  def saltedAgg(df: DataFrame, keys: Seq[String], salt: Int)(
      partial: Seq[(Column, String)], // stage-1 aggregates, with names
      combine: Seq[(String, Column)]  // stage-2: name -> combiner over stage-1 col
  ): DataFrame = {
    val salted = df.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(), lit(salt)))
    val stage1 = salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(partial.head._1.as(partial.head._2),
        partial.tail.map { case (c, n) => c.as(n) }: _*)
    stage1.groupBy(keys.map(col): _*)
      .agg(combine.head._2.as(combine.head._1),
        combine.tail.map { case (n, c) => c.as(n) }: _*)
  }

  /** Convenience: salted sum+count per key (the common skewed shape). */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
                     salt: Int = 16): DataFrame =
    saltedAgg(df, keys, salt)(
      Seq(sum(col(valueCol).cast("decimal(38,6)")) -> "__psum",
        count(lit(1)) -> "__pcnt"),
      Seq("sum_value" -> sum(col("__psum")).cast("double"),
        "n" -> sum(col("__pcnt"))))

  /** Hot-key-safe equi-join via salting: the big side gets a per-row
    * salt, the small side is replicated `salt` times, and the join runs
    * on (keys, __salt) — spreading each hot key's rows over `salt`
    * reducers. Result identical to the plain join: every big row
    * carries exactly ONE salt value and meets exactly the one matching
    * replica of its key's small rows, so multiplicities are unchanged
    * for inner and left-outer alike.
    *
    * When to reach for this instead of trusting AQE (measured,
    * NOTES.md round 6): AQE's skew detection watches COMPRESSED
    * shuffle-block sizes, so a hot key whose rows compress well
    * (identical boilerplate tiles, stop-word terms) sails past
    * byte-based detection while still funneling its entire row count
    * into one reducer. When that decompressed row count is the real
    * bottleneck — wide probe payloads, expensive residual predicates —
    * salt deliberately; the cost is `salt` small-side copies, the win
    * is a `salt`-way spread no detector has to notice.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 salt: Int = 16, joinType: String = "inner"): DataFrame = {
    require(salt >= 1, "salt must be >= 1")
    require(isSaltable(joinType),
      s"saltedJoin supports inner/left-preserving join types only " +
      s"(got '$joinType'): right/full outer would emit each unmatched " +
      s"small-side row once per salt replica")
    val b = big.withColumn("__salt",
      pmod(spark_partition_id().cast("long") + monotonically_increasing_id(),
        lit(salt.toLong)))
    val s = small.withColumn("__salt",
      explode(sequence(lit(0L), lit(salt.toLong - 1L))))
    b.join(s, keys :+ "__salt", joinType).drop("__salt")
  }

  /** The salt [[autoSaltedJoin]] last decided on (1 = no salting) — an
    * observability hook for probes/specs, not part of the contract.
    * Thread-local: the decision is made eagerly on the calling thread
    * (the hot-key probe is a blocking action), so a spec reads its own
    * invocation's value even if suites ever run in parallel.
    */
  private[graft] val lastAutoSalt: ThreadLocal[Integer] =
    ThreadLocal.withInitial(() => Integer.valueOf(1))

  /** Row share of the most frequent key in a bounded sample of `df` —
    * the hot-key detector behind [[autoSaltedJoin]]. The probe scans a
    * NARROW projection (key columns only, so parquet prunes to those
    * columns) of a `sampleFraction` sample and aggregates to two
    * scalars; the driver sees one row. Deterministic (fixed seed).
    *
    * Small-input floor: a 1% sample of a small frame can be tens of
    * rows, making the share estimate noisy near the `hotShare`
    * boundary. When the sample lands under `minSampleRows` the probe
    * re-runs unsampled — by construction that only ever happens on
    * inputs around `minSampleRows / sampleFraction` rows, where a full
    * key-column scan costs microseconds; at scale the sampled pass is
    * always big enough and the floor never triggers.
    */
  private[graft] def topKeyShare(df: DataFrame, keys: Seq[String],
                                 sampleFraction: Double,
                                 minSampleRows: Long = 1000L): Double = {
    def probe(fraction: Double): (Double, Double) = {
      val base = df.select(keys.map(col): _*)
      val sampled = if (fraction >= 1.0) base
        else base.sample(withReplacement = false, fraction, seed = 42L)
      val row = sampled
        .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
        .agg(max(col("__n")).cast("double").as("__top"),
          sum(col("__n")).cast("double").as("__tot"))
        .head()
      if (row.isNullAt(1)) (0.0, 0.0) else (row.getDouble(0), row.getDouble(1))
    }
    val (top, tot) = probe(sampleFraction)
    val (top2, tot2) =
      if (tot < minSampleRows && sampleFraction < 1.0) probe(1.0)
      else (top, tot)
    if (tot2 == 0.0) 0.0 else top2 / tot2
  }

  /** Join types whose multiplicities survive salting: the big side keeps
    * exactly one salt per row and meets exactly one replica of its
    * matching small rows, which is correct for inner and every
    * left-preserving type — but a right/full outer would emit each
    * UNMATCHED small-side row once per replica (`salt` times).
    */
  private val saltableJoinTypes = Set(
    "inner", "left", "left_outer", "leftouter",
    "left_semi", "leftsemi", "semi", "left_anti", "leftanti", "anti")

  private def isSaltable(joinType: String): Boolean =
    saltableJoinTypes.contains(joinType.toLowerCase.replace(" ", "_"))

  /** [[saltedJoin]] with the salt decided FROM THE DATA: a sampled
    * key-frequency probe measures the big side's top-key row share, and
    * when it exceeds `hotShare` the join routes through salting sized to
    * spread that key across reducers (share x shuffle partitions, capped
    * at `maxSalt`); otherwise a plain join, zero overhead beyond the
    * bounded sample scan.
    *
    * This closes the usability gap the NOTES.md round-6 finding left open: AQE's
    * skew detector watches COMPRESSED shuffle bytes, so a well-compressing
    * hot key (boilerplate text, repeated tiles) never trips it — and with
    * only the manual [[saltedJoin]], the caller had to KNOW their key
    * compresses well. Row COUNTS don't compress: this probe sees exactly
    * the skew AQE is blind to. At 100 TB the probe costs one narrow
    * column-pruned sample scan of the key columns — noise against the
    * join itself — and salting decisions stay deterministic (fixed
    * sample seed) across retries.
    */
  def autoSaltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                     hotShare: Double = 0.2, maxSalt: Int = 64,
                     sampleFraction: Double = 0.01,
                     joinType: String = "inner"): DataFrame = {
    // non-left-preserving types can't salt correctly (see saltedJoin's
    // guard) — take the plain join and let AQE do what it can
    if (!isSaltable(joinType)) {
      lastAutoSalt.set(1)
      return big.join(small, keys, joinType)
    }
    val share = topKeyShare(big, keys, sampleFraction)
    val parts = big.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val salt =
      if (share < hotShare) 1
      else math.min(maxSalt, math.max(2, math.ceil(share * parts).toInt))
    lastAutoSalt.set(salt)
    if (salt <= 1) big.join(small, keys, joinType)
    else saltedJoin(big, small, keys, salt, joinType)
  }

  /** [[saltedSumCount]] with the salt decided FROM THE DATA — the
    * aggregation twin of [[autoSaltedJoin]]. Spark's partial aggregation
    * already combines map-side, but a hot key still funnels its combined
    * partials into ONE reducer; when the reduce side is the bottleneck
    * the two-stage salted form spreads it. The same sampled row-share
    * probe decides: uniform keys take the plain one-shuffle aggregate
    * (the salted form costs an extra shuffle, never free), a hot key
    * routes through [[saltedAgg]]. Result columns and values are
    * identical either way (algebraic sum/count, decimal-exact).
    */
  def autoSaltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
                         hotShare: Double = 0.2, maxSalt: Int = 64,
                         sampleFraction: Double = 0.01): DataFrame = {
    val share = topKeyShare(df, keys, sampleFraction)
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val salt =
      if (share < hotShare) 1
      else math.min(maxSalt, math.max(2, math.ceil(share * parts).toInt))
    lastAutoSalt.set(salt)
    if (salt <= 1)
      df.groupBy(keys.map(col): _*)
        .agg(sum(col(valueCol).cast("decimal(38,6)")).cast("double")
          .as("sum_value"), count(lit(1)).as("n"))
    else saltedSumCount(df, keys, valueCol, salt)
  }

  /** Binned range join: every fact row joins every interval row with
    * `start <= point <= end` (inclusive ends), without the cartesian /
    * BroadcastNestedLoopJoin plan Spark produces for a raw BETWEEN
    * predicate — the other time-series join Spark lacks as a built-in
    * (alongside [[asofJoin]]'s point-in-time lookup).
    *
    * Implementation: bucket the number line into `binWidth`-sized bins;
    * each fact lands in exactly ONE bin, each interval explodes into the
    * bins it overlaps, and the join becomes a plain equi-join on the bin
    * id plus a residual BETWEEN filter. Because a fact has one bin and
    * an interval covers each of its bins once, every qualifying pair
    * meets exactly once — no post-join dedup shuffle. Cost model: one
    * hash shuffle on the bin id (AQE-skew-splittable like any equi-join,
    * unlike a nested loop) and an interval replication factor of
    * `len/binWidth + 1`, which auto-sizing keeps ~2 for typical rows.
    *
    * At 100 TB this is the events-to-campaign / reading-to-session join:
    * both sides shuffle once on a salt-able integer key; the nested-loop
    * form either needs the interval side to fit a broadcast or walls in
    * a cartesian. [[graft.PlanScan.unjustifiedNlj]] flags the latter;
    * this operator is the fix it points at.
    *
    * `pointCol` / `startCol` / `endCol` must be integral (cast
    * timestamps to epoch seconds/micros first — the gate does), with
    * distinct names across the two sides. Rows with `start > end`
    * (empty interval) and null bounds drop as in the SQL BETWEEN form;
    * null points drop for inner, and are kept as unmatched facts by the
    * left-preserving forms. `binWidth <= 0` auto-sizes from the
    * interval side: the p75 interval length (one bounded agg over the
    * interval side — the dimension side by assumption), clamped so the
    * LONGEST interval explodes into at most `maxBinsPerInterval` rows.
    *
    * `joinType`: `inner` (default), `left_outer` (facts-preserving
    * enrich, null interval columns when no window matches),
    * `left_semi` (facts inside ANY window), `left_anti` (facts outside
    * EVERY window — the decontamination shape on time ranges). All four
    * are safe because a fact owns exactly one bin: inner pairs meet
    * exactly once, and the left forms see every qualifying interval in
    * that one bin.
    *
    * `keyCols`: equi-key columns present ON BOTH sides under the same
    * names ("this user's events in this user's windows") — the shuffle
    * clusters on (keys, bin) and the join only meets same-key rows; the
    * interval-side key copies drop from the result.
    */
  /** Semi-join REDUCTION via a bloom filter — for the join regime where
    * the dim side is too big to broadcast but its KEY SET compresses
    * into a few megabytes of bloom bits: build the filter distributed
    * over the dim keys (`df.stat.bloomFilter`, a treeAggregate; only
    * the final bitset reaches the driver — the bounded-summary
    * discipline), embed it in a codegen'd probe, and filter the fact
    * side BEFORE the exchange. A false positive just means a fact row
    * travels the shuffle and dies in the real join, so the subsequent
    * join's result is EXACTLY the plain join's (the oracle-gate claim);
    * the win is the non-matching fact fraction that never shuffles —
    * at 100 TB, the difference between exchanging the whole fact table
    * and exchanging the ~selectivity that can match. The filter sits in
    * the scan stage, so column pruning and pushdown still apply.
    *
    * This is the classic semi-join reduction / runtime-filter technique
    * (public practice in every warehouse engine; Spark's own runtime
    * row-level filtering applies it only in limited DPP/AQE shapes —
    * this form is explicit and composable with any downstream join).
    */
  def bloomSemiJoinReduce(fact: DataFrame, factKey: String,
                          dim: DataFrame, dimKey: String,
                          expectedItems: Long,
                          fpp: Double = 0.01): DataFrame = {
    require(fact.schema(factKey).dataType ==
      org.apache.spark.sql.types.LongType &&
      dim.schema(dimKey).dataType == org.apache.spark.sql.types.LongType,
      "bloomSemiJoinReduce joins on LongType keys")
    val bloom = dim.stat.bloomFilter(dimKey, expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val probe = graft.expressions.kernels.toCol(
      graft.expressions.BloomMightContain(
        graft.expressions.kernels.toExpr(col(factKey)), bos.toByteArray))
    fact.filter(probe)
  }

  /** Time-series resample + forward fill — the gap-filling member of
    * the time-series family (asofJoin = point lookup, rangeJoin =
    * interval attach, sessionize = gap split): bucket observations to a
    * fixed `stepSeconds` grid (deterministic decimal-mean per bucket),
    * generate each key's full grid from its first to last bucket, and
    * carry the last observed value forward across empty buckets.
    *
    * Scale shape: one aggregation shuffle on (keys, bucket); the grid
    * explode is bounded by span/step per key; the fill is a
    * key-partitioned running window — no global sort, no driver loop.
    * Bucketing is integer arithmetic (`ts - ts % step`), exact at any
    * epoch magnitude (the rangeJoin 2^53 lesson).
    *
    * `tsCol` must be LongType epoch seconds (cast timestamps with
    * `ts.cast("timestamp_ltz").cast("long")` — a floor, matching the
    * oracle's `CAST(floor(epoch(ts)) AS BIGINT)`).
    */
  /** Shared bucket/bounds/grid/join stage of [[resampleFfill]] and
    * [[resampleInterp]]: decimal-exact per-bucket means, per-key
    * [min, max] bounds, grid explode, left join of observations onto
    * the grid. The grid explode is the family's only unbounded blow-up
    * (one key with a decade span at 1-second step is 315M rows), so the
    * span/step ratio is guarded IN the plan: the sequence() upper bound
    * routes through a raise_error branch when a key's bucket count
    * exceeds `maxBucketsPerKey` — on the consumed path, so column
    * pruning cannot drop the check, and it costs one comparison per KEY
    * (the bounds row), not per row. Callers with a genuinely huge grid
    * raise the cap explicitly; nothing silently truncates.
    */
  private def resampleGrid(df: DataFrame, keys: Seq[String], tsCol: String,
                           stepSeconds: Long, valueCol: String,
                           maxBucketsPerKey: Long, op: String): DataFrame = {
    require(keys.nonEmpty, s"$op needs at least one key")
    require(stepSeconds > 0, "stepSeconds must be positive")
    require(maxBucketsPerKey > 0, "maxBucketsPerKey must be positive")
    require(df.schema(tsCol).dataType ==
      org.apache.spark.sql.types.LongType,
      s"$tsCol must be LongType epoch seconds")
    val bucket = (col(tsCol) - pmod(col(tsCol), lit(stepSeconds)))
      .as("bucket_start")
    val b = df.select((keys.map(col) :+ bucket :+ col(valueCol)): _*)
      .groupBy((keys.map(col) :+ col("bucket_start")): _*)
      .agg(graft.functions.decAvg(col(valueCol)).as("__v"),
        count(lit(1)).as("n_obs"))
    val bounds = b.groupBy(keys.map(col): _*)
      .agg(min("bucket_start").as("__mn"), max("bucket_start").as("__mx"))
    val nBuckets = (col("__mx") - col("__mn")) / lit(stepSeconds) + lit(1L)
    val guardedMx = when(nBuckets <= lit(maxBucketsPerKey), col("__mx"))
      .otherwise(raise_error(concat(
        lit(s"$op: key ("), concat_ws(",", keys.map(c => col(c).cast("string")): _*),
        lit(") spans "), nBuckets.cast("string"),
        lit(s" buckets at step=${stepSeconds}s > maxBucketsPerKey=" +
          s"$maxBucketsPerKey; raise maxBucketsPerKey or coarsen the step"))))
    val grid = bounds.select((keys.map(col) :+
      explode(sequence(col("__mn"), guardedMx, lit(stepSeconds)))
        .as("bucket_start")): _*)
    grid.join(b, keys :+ "bucket_start", "left")
  }

  def resampleFfill(df: DataFrame, keys: Seq[String], tsCol: String,
                    stepSeconds: Long, valueCol: String,
                    maxBucketsPerKey: Long = 1000000L): DataFrame = {
    val joined = resampleGrid(df, keys, tsCol, stepSeconds, valueCol,
      maxBucketsPerKey, "resampleFfill")
    val w = Window.partitionBy(keys.map(col): _*).orderBy("bucket_start")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    joined.select((keys.map(col) :+ col("bucket_start") :+
      coalesce(col("n_obs"), lit(0L)).as("n_obs") :+
      last(col("__v"), ignoreNulls = true).over(w).as("value_ffill")): _*)
  }

  /** Fixed-grid resample with LINEAR interpolation across interior
    * gaps — the numeric sibling of [[resampleFfill]] for metrics where
    * carrying the last value forward biases the series (rates, sensor
    * readings): an empty bucket between two observed ones gets
    * `v0 + (v1 - v0) * (t - t0) / (t1 - t0)`.
    *
    * Same scale shape as ffill: one aggregation shuffle on
    * (keys, bucket), grid explode bounded by span/step per key. The
    * fill adds ONE more window pass (previous-known via the running
    * frame, next-known via the mirrored following frame — both reuse
    * the same partitioning + sort, so still a single exchange), then a
    * pure rowwise lerp. The grid spans each key's observed [min, max]
    * bucket, so every empty bucket has both neighbours and the lerp is
    * total; observed buckets keep their exact decimal-summed mean. The
    * lerp itself is double arithmetic in a fixed operation order — the
    * oracle spells the identical expression, so results hash-match.
    */
  def resampleInterp(df: DataFrame, keys: Seq[String], tsCol: String,
                     stepSeconds: Long, valueCol: String,
                     maxBucketsPerKey: Long = 1000000L): DataFrame = {
    val joined = resampleGrid(df, keys, tsCol, stepSeconds, valueCol,
      maxBucketsPerKey, "resampleInterp")
    val wb = Window.partitionBy(keys.map(col): _*).orderBy("bucket_start")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(keys.map(col): _*).orderBy("bucket_start")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val knownT = when(col("__v").isNotNull, col("bucket_start"))
    val prevV = last(col("__v"), ignoreNulls = true).over(wb)
    val prevT = last(knownT, ignoreNulls = true).over(wb)
    val nextV = first(col("__v"), ignoreNulls = true).over(wf)
    val nextT = first(knownT, ignoreNulls = true).over(wf)
    val frac = (col("bucket_start") - prevT).cast("double") /
      (nextT - prevT).cast("double")
    joined.select((keys.map(col) :+ col("bucket_start") :+
      coalesce(col("n_obs"), lit(0L)).as("n_obs") :+
      when(col("__v").isNotNull, col("__v"))
        .otherwise(prevV + (nextV - prevV) * frac).as("value_interp")): _*)
  }

  /** Per-key total length of the UNION of (possibly overlapping)
    * [start, end) intervals — "how much time was this user actually
    * active" from session rows that overlap. The classic sweep-line
    * becomes one key-partitioned window pass: each interval contributes
    * `end - max(start, latest end seen so far)` clamped at 0, and the
    * per-key sum is the union length. Long arithmetic throughout
    * (exact); the tie order of identical intervals cannot change the
    * sum. One window sort + one aggregation, both on the key — no
    * pair expansion, no self-join.
    */
  def intervalUnionLength(df: DataFrame, keys: Seq[String],
                          startCol: String, endCol: String): DataFrame = {
    require(keys.nonEmpty, "intervalUnionLength needs at least one key")
    val before = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(startCol), col(endCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prevMax = max(col(endCol)).over(before)
    df.withColumn("__ns",
        greatest(col(startCol), coalesce(prevMax, col(startCol))))
      .withColumn("__c", greatest(col(endCol) - col("__ns"), lit(0L)))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__c")).as("covered"),
        count(lit(1)).as("n_intervals"))
  }

  def rangeJoin(facts: DataFrame, intervals: DataFrame,
                pointCol: String, startCol: String, endCol: String,
                binWidth: Long = 0L,
                maxBinsPerInterval: Int = 4096,
                joinType: String = "inner",
                keyCols: Seq[String] = Nil): DataFrame = {
    // each fact owns exactly ONE bin, so bin-equality + residual BETWEEN
    // inside one join condition preserves every join type's semantics:
    // inner multiplicities are exactly-once per qualifying pair,
    // left_outer keeps unmatched facts (null interval columns),
    // left_semi/left_anti are the in-any-window / outside-every-window
    // filters (anti = the decontamination shape on time ranges)
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi",
        "leftsemi", "left_anti", "leftanti")
      .contains(joinType.toLowerCase.replace("-", "_")),
      s"rangeJoin supports inner/left_outer/left_semi/left_anti (got '$joinType'): " +
      "right/full-outer would need interval-side complement tracking across bins")
    val iv = intervals.filter(col(startCol).isNotNull &&
      col(endCol).isNotNull && col(startCol) <= col(endCol))
    val w: Long =
      if (binWidth > 0) binWidth
      else {
        // one narrow agg over the interval side (two scalars): p75
        // length sets the bin so ~75% of intervals span <= 2 bins; the
        // max length clamps the worst row's explosion. approx_percentile
        // is deterministic for a fixed dataset (GK sketch, no RNG).
        val row = iv.select(
            approx_percentile(col(endCol) - col(startCol), lit(0.75), lit(1000))
              .cast("long").as("p75"),
            max(col(endCol) - col(startCol)).cast("long").as("mx"))
          .head()
        if (row.isNullAt(1)) 1L // empty interval side: any width works
        else {
          val p75 = math.max(1L, row.getLong(0))
          val mx = row.getLong(1)
          math.max(p75, mx / maxBinsPerInterval + 1L)
        }
      }
    // exact floor-division (negatives too). NOT `c / w`: long division
    // in Spark SQL is DOUBLE division, inexact past 2^53 — epoch-micros
    // points would bin wrong. Decimal division is exact at any long.
    def bin(c: Column): Column =
      floor(c.cast("decimal(38,0)") / lit(w)).cast("long")
    val inner = joinType.toLowerCase == "inner"
    // inner may pre-drop null points (they can never match); the
    // left-preserving forms must keep them as unmatched facts
    val f = (if (inner) facts.filter(col(pointCol).isNotNull) else facts)
      .withColumn("__fbin", bin(col(pointCol)))
    // equi-keys (the "this user's events in this user's windows" shape)
    // rename on the interval side so the join condition is unambiguous;
    // the shuffle then clusters on (keys, bin) and the bin join only
    // ever meets same-key rows. Renamed copies drop from the result —
    // matched rows carry the identical fact-side key, unmatched
    // left_outer rows keep the fact-side key with null window columns.
    val iKeyed = keyCols.foldLeft(iv) { (df, k) =>
      df.withColumnRenamed(k, s"__ik_$k") }
    val i = iKeyed.withColumn("__ibin",
      explode(sequence(bin(col(startCol)), bin(col(endCol)))))
    val cond = (col("__fbin") === col("__ibin") &&
      col(pointCol) >= col(startCol) && col(pointCol) <= col(endCol)) +:
      keyCols.map(k => col(k) === col(s"__ik_$k"))
    f.join(i, cond.reduce(_ && _), joinType)
      .drop("__fbin" +: "__ibin" +: keyCols.map(k => s"__ik_$k"): _*)
  }

  /** As-of join: for each left row, attach the single most recent right
    * row with `rightTs <= leftTs` (inclusive) sharing the equi-keys —
    * the time-series point-in-time lookup Spark lacks as a built-in.
    *
    * Implementation: union both sides tagged, one window pass per key
    * ordered by (ts, side) carrying the right payload forward with
    * `last(_, ignoreNulls)`. ONE shuffle on the keys — same cost as a
    * plain aggregation, no range-join explosion, skew-safe under AQE.
    * Right side must be unique per (keys, rightTs); pre-dedupe if not.
    *
    * Returns left rows (original columns) plus the right payload
    * columns (null when no right row precedes).
    */
  def asofJoin(left: DataFrame, right: DataFrame,
               keys: Seq[String], leftTs: String, rightTs: String,
               payload: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    // normalize: both sides get (keys, __ts, __side, payload..., left-cols...)
    val l = left
      .withColumn("__ts", col(leftTs))
      .withColumn("__side", lit(1)) // left sorts AFTER right at equal ts
    val r0 = right.select((keys.map(col) :+ col(rightTs).as("__ts")) ++
      payload.map(c => col(c).as(s"__p_$c")): _*)
      .withColumn("__side", lit(0))
    // align schemas for the union
    val lAligned = l.select(
      (keys.map(col) :+ col("__ts") :+ col("__side")) ++
        payload.map(c => lit(null).cast(r0.schema(s"__p_$c").dataType).as(s"__p_$c")) ++
        leftCols.filterNot(keys.contains).map(col): _*)
    val rAligned = r0.select(
      (keys.map(col) :+ col("__ts") :+ col("__side")) ++
        payload.map(c => col(s"__p_$c")) ++
        leftCols.filterNot(keys.contains).map(c =>
          lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val unioned = rAligned.union(lAligned)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = payload.foldLeft(unioned) { (df, c) =>
      df.withColumn(s"__c_$c", last(col(s"__p_$c"), ignoreNulls = true).over(w))
    }
    carried.filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        payload.map(c => col(s"__c_$c").as(c)): _*)
  }
}
