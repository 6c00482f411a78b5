package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.operators.{Decontaminate, Dedup, Sampling}

/** Corpus-curation queries: the operators a training-data pipeline runs
  * AFTER cleaning/dedup — repetition-quality signals, PII scrubbing,
  * term statistics, deterministic sampling / data mixing, sequence
  * packing, and benchmark decontamination. Every query has an exact
  * DuckDB oracle twin.
  */
object CurationQueries {
  private type Q = (SparkSession, String) => DataFrame
  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  /** Mixture weights for p03: per-source keep fraction (1+i%4)*0.2 for
    * src0..src19 — a deterministic stand-in for a real mixing config.
    * The oracle CASE chain is generated from this same map.
    */
  private[graft] val MixWeights: Map[String, Double] =
    (0 until 20).map(i => s"src$i" -> ((1 + i % 4) * 0.2)).toMap

  val defs: Map[String, Q] = Map(
    // Gopher-style repetition signals: one narrow codegen'd projection.
    "t06_repetition" -> ((s, dir) => {
      docs(s, dir).select(
        col("doc_id"),
        dupTokenFrac(col("text")).as("dup_token_frac"),
        topNGramFrac(col("text"), 2).as("top_bigram_frac"),
        dupNGramFrac(col("text"), 3).as("dup_trigram_frac"))
    }),

    // C4-style PII scrub over text augmented with deterministic synthetic
    // PII (the corpus itself is clean word-soup; the augmentation is built
    // identically in the oracle, so the scrubber is exercised for real).
    "t07_pii_scrub" -> ((s, dir) => {
      val aug = concat(
        col("text"), lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com or +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
        lit(" ip 10.0."), pmod(col("doc_id"), lit(256L)).cast("string"),
        lit(".1"))
      docs(s, dir).select(
        col("doc_id"),
        piiCount(aug, EmailPattern).as("n_emails"),
        piiCount(aug, Ipv4Pattern).as("n_ips"),
        piiCount(aug, PhonePattern).as("n_phones"),
        scrubPii(aug).as("scrubbed"))
    }),

    // Per-document top terms by tf/df ratio (tf-idf with idf ∝ 1/df — the
    // constant corpus-size factor cancels in the ranking, keeping every
    // number integer-derived and engine-exact). df via groupBy("term")
    // partial agg + join back, NOT count().over(Window.partitionBy("term")):
    // the window form measured slightly faster at 50k docs (4.7 vs 6.2 s)
    // but terms are the most skewed key a corpus has (stop words), the
    // window has NO map-side combine, and AQE can split a skewed join
    // partition but NOT a window partition — at 100 TB the hot-term window
    // partitions are unsplittable stragglers. The groupBy collapses hot
    // terms map-side (partial agg), and the join's tf-side skew is
    // AQE-splittable (BHJ while vocab fits, skew-split SMJ beyond).
    // Shuffles: tf agg, df agg on term, join, rank window on doc —
    // rank<=3 runs as WindowGroupLimit (top-k pushed into the shuffle).
    "t08_tfdf_topterms" -> ((s, dir) => {
      val ex = docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val tf = ex.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      tf.join(df, Seq("term"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("doc_id")
            .orderBy((col("tf").cast("double") / col("df")).desc, col("term")))
          .cast("int"))
        .filter(col("rank") <= 3)
        .select("doc_id", "term", "tf", "df", "rank")
    }),

    // Corpus length profile: exact histogram of document char lengths per
    // language (training-data reporting; one partial-agg shuffle).
    "t09_length_histogram" -> ((s, dir) => {
      docs(s, dir)
        .groupBy(col("lang"),
          floor(col("n_chars") / lit(50.0)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
    }),

    // Deterministic 25% Bernoulli sample — a pure filter (zero shuffle:
    // the way to sample 100 TB in the scan stage).
    "p01_hash_sample" -> ((s, dir) => {
      Sampling.hashSample(docs(s, dir), "doc_id", 0.25).select("doc_id")
    }),

    // Quality-weighted Bernoulli sample: keep probability = the doc's
    // quality score, decided from the id hash — still a pure filter
    // (zero shuffle), so quality-weighted downsampling of 100 TB also
    // runs entirely in the scan stage.
    "p06_weighted_sample" -> ((s, dir) => {
      Sampling.weightedSample(docs(s, dir), "doc_id",
        qualityScore(col("text"))).select("doc_id")
    }),

    // Per-language quota: the 40 smallest-hash docs per lang (deterministic
    // stratified downsample; one shuffle on the stratum key).
    "p02_stratified_sample" -> ((s, dir) => {
      Sampling.stratifiedSample(docs(s, dir), Seq("lang"), "doc_id", 40)
        .select("doc_id", "lang")
    }),

    // Domain mixing by per-source keep fraction (codegen'd CASE chain over
    // the driver-side weights map; zero shuffle).
    "p03_domain_mix" -> ((s, dir) => {
      Sampling.domainMix(docs(s, dir), "source", "doc_id", MixWeights)
        .select("doc_id", "source")
    }),

    // Temperature-style (alpha = 1/2) domain rebalancing: keep fractions
    // DERIVED from per-source counts (min(1, sqrt(n_min/n))) instead of a
    // hand-written weight map — the p03 complement. One tiny count agg,
    // broadcast thresholds, pure hash filter.
    "p07_temperature_mix" -> ((s, dir) => {
      Sampling.temperatureMix(docs(s, dir), "source", "doc_id")
        .select("doc_id", "source")
    }),

    // Leakage-safe train/val/test split: split decided by the hash of the
    // doc's SIMILARITY COMPONENT (min id over the d07-family closure), so
    // near-duplicates never straddle train and a held-out split. 80/10/10.
    "p08_leakage_safe_split" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.leakageSafeSplit(d,
        Dedup.ngramJaccardPairs(d, "doc_id", "text",
          shingleSize = 3, threshold = 0.8), "doc_id",
        trainFrac = 0.8, valFrac = 0.1)
    }),

    // Per-language quality calibration: keep docs at or above their
    // language's MEDIAN quality, the median taken over a 1000-bin
    // histogram (a bounded partial aggregate — an exact per-group
    // percentile would buffer every value of the group, unboundable at
    // 100 TB). The cut is a bin edge: integer-exact end to end.
    // BM25 lexical top-k retrieval (rational-idf mode — every op in the
    // score is +,-,*,/ over exactly-representable inputs, so DuckDB
    // reproduces it bit-exact; the standard log-idf ranking is the
    // operator default, spec-tested, and kept out of hash gates per the
    // repo's no-transcendentals oracle discipline). Three fixture-vocab
    // queries, top-10 docs each by (score desc, doc asc).
    "t18_bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val queries = Seq(
        (1L, "spark join window"),
        (2L, "fast hash merge batch"),
        (3L, "slow scan filter vector")).toDF("query_id", "qtext")
      graft.operators.Retrieval.bm25(
        docs(s, dir), "doc_id", "text", queries, "query_id", "qtext",
        topK = 10, logIdf = false)
    }),

    // Gopher quality-rule battery (the published web-corpus filter
    // heuristics): per-doc integer counts + fixed-order double ratios
    // + the conjunctive pass flag — the whole battery hash-exact vs
    // DuckDB spelling the identical arithmetic.
    "t19_gopher_rules" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), gopherRules(col("text")).as("g"))
        .select(col("doc_id"), col("g.*"))),

    "t16_calibrated_quality" -> ((s, dir) => {
      Sampling.calibratedQuantileFilter(docs(s, dir), "lang", "doc_id",
        qualityScore(col("text")), bins = 1000, qNum = 1, qDen = 2)
    }),

    // Model-based quality scoring (the fastText-style classifier step):
    // logistic regression DISTILLS the gopher rule battery's weak
    // labels into a soft probability — trained via MLlib on the
    // battery's own metric columns, scored by a pure codegen'd column
    // (coefficients as literals, no MLlib in the corpus path). Scores
    // carry a transcendental (sigmoid), so the gate pins what the
    // distillation GUARANTEES with margin instead of hashing floats:
    // exact doc/label counts, >= 80% label agreement at the 0.5 cut,
    // and >= 0.2 mean-probability separation between the classes.
    "c11_quality_classifier" -> ((s, dir) => {
      import graft.operators.QualityClassifier
      val feats = Seq("n_words", "mean_word_len", "dup_line_frac",
        "bullet_line_frac", "ellipsis_line_frac", "stopword_count",
        "alpha_word_frac")
      val labeled = docs(s, dir)
        .select(col("doc_id"), gopherRules(col("text")).as("g"))
        .select(col("doc_id") +: col("g.gopher_pass").as("label") +:
          feats.map(f => col(s"g.$f")): _*)
      val model = QualityClassifier.train(labeled, feats, "label")
      labeled
        .select(col("label"),
          QualityClassifier.scoreColumn(model).as("p"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("label"), 1L).otherwise(0L)).as("n_pass"),
          avg(when((col("p") >= 0.5) === col("label"), 1.0)
            .otherwise(0.0)).as("__agree"),
          avg(when(col("label"), col("p"))).as("__p1"),
          avg(when(!col("label"), col("p"))).as("__p0"))
        .select(col("n_docs"), col("n_pass"),
          (col("__agree") >= 0.80).as("agreement_ok"),
          ((col("__p1") - col("__p0")) >= 0.2).as("separation_ok"))
    }),

    // Sequence packing pre-step: pack docs into ~1000-token shards per
    // language, in id order (shard = the unit a trainer reads).
    "p04_token_packing" -> ((s, dir) => {
      Sampling.tokenPack(
        docs(s, dir).select(col("doc_id"), col("lang"),
          tokenCount(col("text")).cast("long").as("n_tokens")),
        Seq("lang"), "doc_id", "n_tokens", budgetTokens = 1000L)
        .select("doc_id", "lang", "n_tokens", "shard_id")
    }),

    // Bigram-LM corpus-fit scoring (CCNet-style LM quality filtering in
    // integer-exact form): model counted over the doc_id%7==0 reference
    // slice; every doc scored by bigram hits and summed model counts.
    // Hashed grams through both shuffles (d09 precedent).
    "t13_lm_fit" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.operators.LmScore.bigramFit(
        d, d.filter(col("doc_id") % 7 === 0), "doc_id", "text")
    }),

    // Same contract as t13, zero-shuffle broadcast path: the pruned
    // model collected once and compiled into the plan as a map literal;
    // scoring is a pure projection (no explode, no join). Shares t13's
    // exact oracle (s05/s06-vs-s03 precedent).
    "t15_lm_fit_broadcast" -> ((s, dir) => {
      val d = docs(s, dir)
      val model = graft.operators.LmScore.bigramModel(
        d.filter(col("doc_id") % 7 === 0), "text")
      graft.operators.LmScore.bigramFitBroadcast(d, model, "doc_id", "text")
    }),

    // BPE tokenizer-training inner step: frequency-weighted adjacent
    // character-pair counts over the vocabulary, top 20.
    "t14_bpe_pairs" -> ((s, dir) => {
      graft.operators.Tokenizer.bpePairCounts(docs(s, dir), "text", topK = 20)
    }),

    // Deterministic epoch shuffle: the training read-order for epoch 1
    // over 8 shards — (shard, pos) from the epoch-salted bijective hash.
    // One shuffle on the shard key + per-shard sort; never a global sort.
    "p05_epoch_shuffle" -> ((s, dir) => {
      Sampling.epochShuffle(docs(s, dir), "doc_id", epoch = 1, nShards = 8)
        .select("doc_id", "shard", "pos")
    }),

    // Token-window chunking: 64-token chunks at stride 48 (16-token
    // overlap) — the context-window precursor. Pure flatMap projection,
    // zero shuffle: chunking happens in the scan stage.
    "t12_chunking" -> ((s, dir) => {
      graft.operators.Chunker.chunkByTokens(
        docs(s, dir), "doc_id", "text", chunkSize = 64, stride = 48)
    }),

    // Cross-document repeated-passage fraction (the tractable Spark form
    // of exact-substring dedup, Lee et al. 2022: suffix arrays don't
    // distribute, sliding window hashes do): per doc, the fraction of its
    // 8-token windows that occur in ANY other document. One groupBy on
    // the window hash (8-byte longs) + one per-doc aggregate; docs with
    // a high fraction are copy-paste composites even when no single
    // near-dup pair exists.
    "t11_dup_passages" -> ((s, dir) => {
      val w8 = docs(s, dir).select(col("doc_id"),
        explode(wordNGramsAll(col("text"), 8)).as("g"))
        .select(col("doc_id"), xxhash64(col("g")).as("h")).distinct()
      val shared = w8.groupBy("h")
        .agg(count(lit(1)).as("ndocs"))
        .filter(col("ndocs") > 1)
      w8.join(shared, Seq("h"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
        .join(
          docs(s, dir).select(col("doc_id"),
            size(array_distinct(wordNGramsAll(col("text"), 8))).as("n_windows")),
          Seq("doc_id"), "right")
        .select(col("doc_id"), col("n_windows").cast("long").as("n_windows"),
          coalesce(col("n_shared"), lit(0L)).as("n_shared"),
          when(col("n_windows") === 0, lit(0.0))
            .otherwise(coalesce(col("n_shared"), lit(0L)).cast("double") /
              col("n_windows")).as("dup_passage_frac"))
    }),

    // Cross-document repeated-SPAN REMOVAL (the removal form of exact
    // substring dedup, Lee et al. 2022 — t11 detects, this rewrites):
    // docs tiled into non-overlapping 8-token spans (the gated t12
    // chunker at stride = size); a span appearing in >1 doc survives
    // only in the min-doc_id owner; docs are reconstructed from their
    // surviving tiles in order. Shuffle shape: ownership agg on the
    // 8-byte tile hash (partial agg collapses hot boilerplate tiles
    // map-side), join back on the hash (tile-side skew AQE-splittable —
    // the t08 rationale), one reconstruct agg on doc_id. Tile text never
    // enters the ownership shuffle.
    "t17_span_dedup" -> ((s, dir) =>
      graft.operators.Chunker.removeRepeatedSpans(
        docs(s, dir), "doc_id", "text", tileTokens = 8)),

    // Corpus-wide vocabulary: top-100 terms by frequency (the seed list
    // of tokenizer training). One partial-aggregated shuffle on term;
    // the ordered limit compiles to TakeOrderedAndProject — per-partition
    // top-k then a driver merge of 100-row heaps, no global sort.
    "t10_vocab_topk" -> ((s, dir) => {
      docs(s, dir).select(explode(tokens(col("text"))).as("term"))
        .groupBy("term").agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("term").asc)
        .limit(100)
    }),

    // Incremental dedup — the daily-ingest shape: dedup the new batch
    // (ids >= 250) within itself and against the already-ingested index
    // (ids < 250); only 8-byte content hashes of the index cross the
    // wire. Gated against a text-partitioned oracle (d02 precedent).
    "d10_incremental_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.operators.Dedup.incrementalDedup(
        d.filter(col("doc_id") >= 250L), d.filter(col("doc_id") < 250L),
        "doc_id", "text").select("doc_id")
    }),

    // d10's bloom-ROUTED form: batch rows failing the index bloom are
    // definitely-new (no false negatives) and skip the anti-join
    // shuffle; only the bloom-positive sliver takes the exact path.
    // The batch re-ingests 50 indexed texts under new ids so BOTH
    // routes carry rows (the fixture's natural batch has zero cross
    // dups, which would gate only the definitely-new path). Same
    // latest-wins oracle shape as d10 — routing is invisible to
    // correctness, which is the point.
    "d16_incremental_dedup_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      val batch = d.filter(col("doc_id") >= 250L)
        .unionByName(d.filter(col("doc_id") < 50L)
          .withColumn("doc_id", col("doc_id") + 10000L))
      graft.operators.Dedup.incrementalDedupBloom(
        batch, d.filter(col("doc_id") < 250L),
        "doc_id", "text", expectedIndexItems = 10000L).select("doc_id")
    }),

    // One-row corpus report: the numbers a training run's data card
    // quotes. Exact distinct counts here (the sketch variant is q32);
    // double aggregation through DECIMAL(38,6) for engine-exactness.
    "c02_corpus_report" -> ((s, dir) => {
      docs(s, dir).agg(
        count(lit(1)).as("n_docs"),
        sum(tokenCount(col("text")).cast("long")).as("n_tokens"),
        graft.functions.decAvg(qualityScore(col("text"))).as("mean_quality"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("text")).as("n_distinct_texts"))
    }),

    // The FULL curation pipeline as ONE declarative plan — the flagship
    // composition (c01 is clean+dedup; this is the whole intake): quality
    // + repetition gate -> benchmark decontamination -> content-hash
    // dedup -> per-language quota sample -> token-budget packing. Every
    // stage is a gated operator; Catalyst fuses the gates into the scan
    // and the pipeline shuffles only where the semantics force it
    // (decontamination's small-side aggregates, the dedup hash, the
    // stratum window).
    "c03_curation_pipeline" -> ((s, dir) => {
      val d = docs(s, dir)
      val gated = d
        .withColumn("quality", qualityScore(col("text")))
        .withColumn("dtf", dupTokenFrac(col("text")))
        .filter(col("quality") >= 0.5 && col("dtf") <= 0.6)
      val bench = d.filter(col("doc_id") % 53 === 0)
      val clean = Decontaminate.decontaminate(
        gated.filter(col("doc_id") % 53 =!= 0), bench, "doc_id", "text", n = 4)
      val deduped = graft.operators.Dedup.exactByHash(clean, "text", "doc_id")
      val sampled = Sampling.stratifiedSample(deduped, Seq("lang"), "doc_id", 40)
      Sampling.tokenPack(
        sampled.select(col("doc_id"), col("lang"),
          tokenCount(col("text")).cast("long").as("n_tokens")),
        Seq("lang"), "doc_id", "n_tokens", budgetTokens = 1000L)
        .select("doc_id", "lang", "n_tokens", "shard_id")
    }),

    // Curation intake v2 — the round-5 operators composed as ONE
    // declarative plan: per-language calibrated quality cut (t16) ->
    // temperature-style domain rebalancing with rates derived from the
    // SURVIVING counts (p07) -> leakage-safe component split (p08).
    // Each stage's statistics are computed on its own input (the
    // calibration histogram on the full corpus, the mix counts on the
    // quality survivors, the similarity closure on the mixed set), so
    // the composition exercises the operators as a real intake would.
    "c07_curation_v2" -> ((s, dir) => {
      val d = docs(s, dir)
      val mixedIds = intakeMixedIds(s, dir)
      // the pair family needs text: ONE more wide scan, joined once
      val mixed = d.join(mixedIds.select("doc_id"), Seq("doc_id"))
      Dedup.leakageSafeSplit(mixed,
        Dedup.ngramJaccardPairs(mixed, "doc_id", "text",
          shingleSize = 3, threshold = 0.8), "doc_id",
        trainFrac = 0.8, valFrac = 0.1)
        .join(mixedIds, Seq("doc_id"))
        .select("doc_id", "lang", "source", "component", "split")
    }),

    // Adversarial-density intake — c08 is c07 with d13's stage-1 ahead of
    // the exact pair family. Any exact-verified pair family is
    // Ω(|truly-similar pairs|): a k-dense near-identical cluster emits
    // ~k²/2 pairs, so at boilerplate-heavy web density c07's pair input
    // hits a quadratic wall no prefix filter can prune (measured: the
    // exact family stopped at 40 min on the 100x dup-dense config the
    // banded form finishes in ~21 s — NOTES.md round 5, re-measured for
    // the intake in NOTES.md round 6). Here the banded pre-collapse drops
    // near-identical copies FIRST (verified star edges, O(bucket) per
    // bucket — linear at any density), and the exact closure + the
    // leakage-safe split run on the bounded-density survivors. This is
    // the intake form to copy for web-scale corpora.
    "c08_curation_adversarial" -> ((s, dir) => {
      val d = docs(s, dir)
      // same one-scored-scan intake as c07; the banded pre-collapse
      // sits between the mix and the exact pair family
      val mixedIds = intakeMixedIds(s, dir)
      val mixed = d.join(mixedIds.select("doc_id"), Seq("doc_id"))
      val collapsed = Dedup.bandedPreCollapse(mixed, "doc_id", "text",
        shingleSize = 3, preThreshold = 0.9, numHashes = 64, bands = 16)
      Dedup.leakageSafeSplit(collapsed,
        Dedup.ngramJaccardPairs(collapsed, "doc_id", "text",
          shingleSize = 3, threshold = 0.8), "doc_id",
        trainFrac = 0.8, valFrac = 0.1)
        .join(mixedIds, Seq("doc_id"))
        .select("doc_id", "lang", "source", "component", "split")
    }),

    // Contamination audit: for each contaminated training doc, how many
    // 4-grams the bench set contains and how many bench docs it touches.
    "d11_contamination_report" -> ((s, dir) => {
      val d = docs(s, dir)
      Decontaminate.overlapReport(
        d.filter(col("doc_id") % 53 =!= 0), d.filter(col("doc_id") % 53 === 0),
        "doc_id", "text", n = 4)
    }),

    // Benchmark decontamination: bench = docs with id % 53 == 0, training
    // docs sharing any word 4-gram with the bench set are removed. Hashed
    // grams (the broadcast scale path) gated against the string oracle —
    // identical survivors absent xxhash64 collisions (d02 precedent).
    "d09_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      val bench = d.filter(col("doc_id") % 53 === 0)
      val train = d.filter(col("doc_id") % 53 =!= 0)
      Decontaminate.decontaminate(train, bench, "doc_id", "text", n = 4)
        .select("doc_id")
    }))

  // ---- DuckDB oracle twins ------------------------------------------------

  /** The c07/c08 intake, ONE definition (the oracle hash depends on
    * this arithmetic staying byte-identical between the two gates):
    * one wide text scan scores every doc into a NARROW pinned
    * (doc_id, lang, source, bin) table; calibration thresholds,
    * temperature rates, and the mix filter all read those pinned rows
    * instead of re-deriving the intake (which re-scanned + re-scored
    * the wide text column per consumer — NOTES.md c07 attribution). Wide
    * rows stay UNPINNED, by measurement: the round-8 A/B showed
    * caching full document rows doubled the query; a 4-column bin
    * table is the opposite case. Arithmetic is byte-identical to
    * calibratedQuantileFilter + temperatureMix, so the oracles — and
    * result hashes — are those operators'. The pin is per invocation
    * (tiny, and the bench clears caches between queries).
    * Returns the mix survivors as (doc_id, lang, source).
    */
  private[graft] def intakeMixedIds(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val scored = d.select(col("doc_id"), col("lang"), col("source"),
        floor(qualityScore(col("text")) * lit(1000.0)).cast("long")
          .as("bin"))
      .persist()
    val thr = Sampling.binnedQuantileThresholds(
      scored.select(col("lang"), col("bin")), "lang", qNum = 1, qDen = 2)
    val keptIds = scored.join(broadcast(thr), Seq("lang"))
      .filter(col("bin") >= col("thr_bin"))
      .select("doc_id", "lang", "source")
    val rates = Sampling.temperatureThresholds(keptIds, "source")
    val survivors = keptIds.join(broadcast(rates), Seq("source"))
      .filter(Sampling.splitHash(col("doc_id")) < col("__thr"))
      .select("doc_id", "lang", "source")
      // materialize the (small) survivor set off the pinned bin table
      // so the pin can release DETERMINISTICALLY here — without this,
      // each invocation in a long-lived session left the cached bin
      // table behind until RDD GC (the bench clears caches; a user
      // pipeline may not)
      .localCheckpoint(true)
    scored.unpersist()
    survivors
  }

  private val toks = """regexp_split_to_array(lower(trim(text)), '\s+')"""

  private val stopList = StopwordsEn.map(w => s"'$w'").mkString(", ")

  /** ALL (non-distinct) word n-gram list twin of wordNGramsAll(_, n). */
  private def ngramsAll(n: Int) =
    s"""CASE WHEN len($toks) < $n THEN []
        ELSE [array_to_string(($toks)[i:i+${n - 1}], ' ')
              for i in generate_series(1, len($toks)-${n - 1})] END"""

  /** Distinct-shingles twin of wordShingles(_, n) (whole-text fallback). */
  private def shingles(n: Int) =
    s"""CASE WHEN len($toks) < $n
        THEN [array_to_string($toks, ' ')]
        ELSE list_distinct([array_to_string(($toks)[i:i+${n - 1}], ' ')
              for i in generate_series(1, len($toks)-${n - 1})]) END"""

  private val hashExpr = s"(doc_id * ${Sampling.KnuthA}) % ${Sampling.HashMod}"

  /** Shared CTE prefix of the c07/c08 intake oracles (one definition, no
    * drift): per-language calibrated median-quality cut (t16) ->
    * temperature-style source rebalancing with rates derived from the
    * surviving counts (p07), ending at `mixed`.
    */
  private lazy val intakeMixedCtes: String =
    s"""qb AS (SELECT doc_id, lang, source, text,
             CAST(floor((${CorpusQueries.qualitySqlExpr}) * 1000.0) AS BIGINT)
               AS bin FROM documents),
         h AS (SELECT lang, bin, count(*) AS n FROM qb GROUP BY 1, 2),
         c AS (SELECT lang, bin,
             sum(n) OVER (PARTITION BY lang ORDER BY bin) AS cum,
             sum(n) OVER (PARTITION BY lang) AS tot FROM h),
         thr AS (SELECT lang, min(bin) AS thr_bin FROM c
                 WHERE cum * 2 >= tot GROUP BY lang),
         kept AS (SELECT qb.doc_id, qb.lang, qb.source, qb.text
                  FROM qb JOIN thr USING (lang) WHERE qb.bin >= thr.thr_bin),
         cnt AS (SELECT source, count(*) AS n FROM kept GROUP BY source),
         mn AS (SELECT min(n) AS nmin FROM cnt),
         f AS (SELECT source,
             CAST(floor(LEAST(CAST(1.0 AS DOUBLE),
               sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE)))
               * ${Sampling.HashMod}.0) AS BIGINT) AS thr
           FROM cnt, mn),
         mixed AS (SELECT kept.doc_id, kept.lang, kept.source, kept.text
           FROM kept JOIN f USING (source)
           WHERE (doc_id * ${Sampling.KnuthA}) % ${Sampling.HashMod} < f.thr)"""

  private val augText =
    """text || ' contact user' || CAST(doc_id AS VARCHAR)
       || '@mail.example.com or +1-555-'
       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       || ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'"""

  private val emailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val ipRe = """\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"""
  private val phoneRe = """\+?[0-9][0-9-]{6,}[0-9]"""

  /** t19's SQL twin of the full gopher battery — shared with the
    * c11 distillation oracle (one definition, no drift). */
  private lazy val gopherRulesOracle: String =
    s"""WITH d AS (SELECT doc_id, text,
             string_split(text, chr(10)) AS lines FROM documents)
         SELECT doc_id,
           CAST(len($toks) AS BIGINT) AS n_words,
           CASE WHEN len($toks) = 0 THEN 0.0
             ELSE CAST(list_reduce(list_transform($toks,
                    w -> CAST(len(w) AS BIGINT)), (p, q) -> p + q) AS DOUBLE)
                  / CAST(CAST(len($toks) AS BIGINT) AS DOUBLE)
           END AS mean_word_len,
           CAST(CAST(len(lines) AS BIGINT)
                - CAST(len(list_distinct(lines)) AS BIGINT) AS DOUBLE)
             / CAST(CAST(len(lines) AS BIGINT) AS DOUBLE) AS dup_line_frac,
           CAST(len(list_filter(lines,
                l -> regexp_matches(ltrim(l), '^[-*•]'))) AS DOUBLE)
             / CAST(CAST(len(lines) AS BIGINT) AS DOUBLE)
             AS bullet_line_frac,
           CAST(len(list_filter(lines,
                l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$$'))) AS DOUBLE)
             / CAST(CAST(len(lines) AS BIGINT) AS DOUBLE)
             AS ellipsis_line_frac,
           CAST(len(list_filter($toks, t -> t IN ($stopList))) AS BIGINT)
             AS stopword_count,
           CASE WHEN len($toks) = 0 THEN 0.0
             ELSE CAST(len(list_filter($toks,
                    w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
                  / CAST(CAST(len($toks) AS BIGINT) AS DOUBLE)
           END AS alpha_word_frac,
           (n_words >= 50 AND n_words <= 100000
             AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
             AND dup_line_frac <= 0.3 AND bullet_line_frac <= 0.9
             AND ellipsis_line_frac <= 0.3 AND stopword_count >= 2
             AND alpha_word_frac >= 0.8) AS gopher_pass
         FROM d"""

  val oracles: Map[String, String] = Map(
    "t06_repetition" ->
      s"""WITH g AS (SELECT doc_id, $toks AS tk,
           ${ngramsAll(2)} AS bg, ${ngramsAll(3)} AS tg FROM documents)
         SELECT doc_id,
           CASE WHEN len(tk) = 0 THEN 0.0
             ELSE 1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) END
             AS dup_token_frac,
           CASE WHEN len(bg) = 0 THEN 0.0
             ELSE CAST(list_max(list_transform(list_distinct(bg),
                    b -> len(list_filter(bg, x -> x = b)))) AS DOUBLE) / len(bg) END
             AS top_bigram_frac,
           CASE WHEN len(tg) = 0 THEN 0.0
             ELSE 1.0 - CAST(len(list_distinct(tg)) AS DOUBLE) / len(tg) END
             AS dup_trigram_frac
         FROM g""",
    "t07_pii_scrub" ->
      s"""WITH aug AS (SELECT doc_id, $augText AS t FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t, '$emailRe')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(t, '$ipRe')) AS INTEGER) AS n_ips,
           CAST(len(regexp_extract_all(t, '$phoneRe')) AS INTEGER) AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(t,
             '$emailRe', '<EMAIL>', 'g'),
             '$ipRe', '<IP>', 'g'),
             '$phoneRe', '<PHONE>', 'g') AS scrubbed
         FROM aug""",
    "t08_tfdf_topterms" ->
      s"""WITH ex AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY 1, 2),
         wdf AS (SELECT doc_id, term, tf,
                   count(*) OVER (PARTITION BY term) AS df FROM tf)
         SELECT doc_id, term, tf, df,
           CAST(row_number() OVER (PARTITION BY doc_id
             ORDER BY CAST(tf AS DOUBLE) / df DESC, term) AS INTEGER) AS rank
         FROM wdf QUALIFY rank <= 3""",
    "t09_length_histogram" ->
      """SELECT lang, CAST(floor(n_chars / 50.0) AS BIGINT) AS bucket,
           count(*) AS n_docs, min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
         FROM documents GROUP BY 1, 2""",
    "p01_hash_sample" ->
      s"""SELECT doc_id FROM documents
         WHERE $hashExpr < ${Sampling.fractionThreshold(0.25)}""",
    "p06_weighted_sample" ->
      s"""SELECT doc_id FROM documents
         WHERE $hashExpr <
           CAST(floor((${CorpusQueries.qualitySqlExpr}) * ${Sampling.HashMod})
                AS BIGINT)""",
    "p02_stratified_sample" ->
      s"""SELECT doc_id, lang FROM documents
         QUALIFY row_number() OVER (PARTITION BY lang
           ORDER BY $hashExpr, doc_id) <= 40""",
    "p03_domain_mix" -> {
      val cases = MixWeights.toSeq.sortBy(_._1)
        .map { case (g, w) =>
          s"WHEN '$g' THEN ${Sampling.fractionThreshold(w)}" }
        .mkString("\n           ")
      s"""SELECT doc_id, source FROM documents
         WHERE $hashExpr < (CASE source
           $cases
           ELSE ${Sampling.fractionThreshold(1.0)} END)"""
    },
    "p07_temperature_mix" ->
      s"""WITH c AS (SELECT source, count(*) AS n FROM documents
             GROUP BY source),
         m AS (SELECT min(n) AS nmin FROM c),
         f AS (SELECT source,
             CAST(floor(LEAST(CAST(1.0 AS DOUBLE),
               sqrt(CAST(nmin AS DOUBLE) / CAST(n AS DOUBLE)))
               * ${Sampling.HashMod}.0) AS BIGINT) AS thr
           FROM c, m)
         SELECT doc_id, source FROM documents JOIN f USING (source)
         WHERE $hashExpr < thr""",
    "p08_leakage_safe_split" -> {
      val compHash =
        s"(component * ${Sampling.KnuthA}) % ${Sampling.HashMod}"
      s"""WITH RECURSIVE
         sh AS (SELECT doc_id, ${shingles(3)} AS grams FROM documents),
         ex AS (SELECT doc_id, len(grams) AS n, unnest(grams) AS g FROM sh),
         prs AS (
           SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS inter,
                  any_value(a.n) AS na, any_value(b.n) AS nb
           FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         sim AS (SELECT ida, idb FROM prs
           WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8),
         edges AS (
           SELECT ida AS src, idb AS dst FROM sim
           UNION ALL SELECT idb, ida FROM sim
           UNION ALL SELECT doc_id, doc_id FROM documents),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         comp AS (SELECT src AS doc_id, min(dst) AS component
                  FROM reach GROUP BY src)
         SELECT doc_id, component,
           CASE WHEN $compHash < ${Sampling.fractionThreshold(0.8)}
                  THEN 'train'
                WHEN $compHash < ${Sampling.fractionThreshold(0.8 + 0.1)}
                  THEN 'val'
                ELSE 'test' END AS split
         FROM comp"""
    },
    "c07_curation_v2" -> {
      val compHash =
        s"(component * ${Sampling.KnuthA}) % ${Sampling.HashMod}"
      s"""WITH RECURSIVE
         $intakeMixedCtes,
         sh AS (SELECT doc_id, ${shingles(3)} AS grams FROM mixed),
         ex AS (SELECT doc_id, len(grams) AS n, unnest(grams) AS g FROM sh),
         prs AS (
           SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS inter,
                  any_value(a.n) AS na, any_value(b.n) AS nb
           FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         sim AS (SELECT ida, idb FROM prs
           WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8),
         edges AS (
           SELECT ida AS src, idb AS dst FROM sim
           UNION ALL SELECT idb, ida FROM sim
           UNION ALL SELECT doc_id, doc_id FROM mixed),
         reach(src, dst) AS (
           SELECT src, dst FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         comp AS (SELECT src AS doc_id, min(dst) AS component
                  FROM reach GROUP BY src)
         SELECT comp.doc_id, m2.lang, m2.source, comp.component,
           CASE WHEN $compHash < ${Sampling.fractionThreshold(0.8)}
                  THEN 'train'
                WHEN $compHash < ${Sampling.fractionThreshold(0.8 + 0.1)}
                  THEN 'val'
                ELSE 'test' END AS split
         FROM comp JOIN mixed m2 ON comp.doc_id = m2.doc_id"""
    },
    // c08 twin: the same intake prefix, then the d13 two-stage closure —
    // stage 1 collapses each exact J>=0.9 transitive component of `mixed`
    // to its min doc_id (bandedPreCollapse's contract), stage 2 re-closes
    // the survivors at J>=0.8 and splits by component hash (p08's rule).
    "c08_curation_adversarial" -> {
      val compHash =
        s"(component * ${Sampling.KnuthA}) % ${Sampling.HashMod}"
      s"""WITH RECURSIVE
         $intakeMixedCtes,
         sh AS (SELECT doc_id, ${shingles(3)} AS grams FROM mixed),
         ex AS (SELECT doc_id, len(grams) AS n, unnest(grams) AS g FROM sh),
         p1 AS (
           SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS inter,
                  any_value(a.n) AS na, any_value(b.n) AS nb
           FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         sim1 AS (SELECT ida, idb FROM p1
           WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.9),
         e1 AS (
           SELECT ida AS src, idb AS dst FROM sim1
           UNION ALL SELECT idb, ida FROM sim1
           UNION ALL SELECT doc_id, doc_id FROM mixed),
         r1(src, dst) AS (
           SELECT src, dst FROM e1
           UNION
           SELECT r.src, e.dst FROM r1 r JOIN e1 e ON r.dst = e.src),
         surv1 AS (SELECT src AS doc_id FROM r1 GROUP BY src
                   HAVING src = min(dst)),
         ex2 AS (SELECT ex.* FROM ex JOIN surv1 USING (doc_id)),
         p2 AS (
           SELECT a.doc_id AS ida, b.doc_id AS idb, count(*) AS inter,
                  any_value(a.n) AS na, any_value(b.n) AS nb
           FROM ex2 a JOIN ex2 b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         sim2 AS (SELECT ida, idb FROM p2
           WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.8),
         e2 AS (
           SELECT ida AS src, idb AS dst FROM sim2
           UNION ALL SELECT idb, ida FROM sim2
           UNION ALL SELECT doc_id, doc_id FROM surv1),
         r2(src, dst) AS (
           SELECT src, dst FROM e2
           UNION
           SELECT r.src, e.dst FROM r2 r JOIN e2 e ON r.dst = e.src),
         comp AS (SELECT src AS doc_id, min(dst) AS component
                  FROM r2 GROUP BY src)
         SELECT comp.doc_id, m2.lang, m2.source, comp.component,
           CASE WHEN $compHash < ${Sampling.fractionThreshold(0.8)}
                  THEN 'train'
                WHEN $compHash < ${Sampling.fractionThreshold(0.8 + 0.1)}
                  THEN 'val'
                ELSE 'test' END AS split
         FROM comp JOIN mixed m2 ON comp.doc_id = m2.doc_id"""
    },
    "t19_gopher_rules" ->
      gopherRulesOracle,

    // oracle spells the identical IEEE op order as the Scala plan
    // (idf * (num / den), (1.2 + 1.0) computed, avgdl = S/N inline) so
    // every double is bit-equal; per-(query,doc) term scores sum via
    // DECIMAL(38,6) on both sides
    "t18_bm25_topk" ->
      """WITH q(query_id, qtext) AS (VALUES
           (CAST(1 AS BIGINT), 'spark join window'),
           (CAST(2 AS BIGINT), 'fast hash merge batch'),
           (CAST(3 AS BIGINT), 'slow scan filter vector')),
         qt AS (SELECT query_id AS qid,
                  unnest(list_distinct(regexp_split_to_array(
                    lower(trim(qtext)), '\s+'))) AS term FROM q),
         dlen AS (SELECT doc_id AS doc,
                    len(regexp_split_to_array(lower(trim(text)), '\s+'))
                      AS len FROM documents),
         stats AS (SELECT count(*) AS n, sum(len) AS s FROM dlen),
         dtok AS (SELECT doc_id AS doc,
                    unnest(regexp_split_to_array(lower(trim(text)), '\s+'))
                      AS term FROM documents),
         tf AS (SELECT doc, term, count(*) AS tf FROM dtok
                WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
         dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         w AS (SELECT qt.qid, tf.doc,
                 ((CAST(stats.n AS DOUBLE) - CAST(dft.df AS DOUBLE) + 0.5)
                    / (CAST(dft.df AS DOUBLE) + 0.5))
                 * ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
                    / (CAST(tf.tf AS DOUBLE) + 1.2 * ((1.0 - 0.75) + 0.75
                       * (CAST(dlen.len AS DOUBLE)
                          / (CAST(stats.s AS DOUBLE)
                             / CAST(stats.n AS DOUBLE)))))) AS w
               FROM qt JOIN tf USING (term) JOIN dft USING (term)
                 JOIN dlen ON dlen.doc = tf.doc, stats),
         sc AS (SELECT qid, doc,
                  CAST(SUM(CAST(w AS DECIMAL(38,6))) AS DOUBLE) AS score,
                  count(*) AS n_terms
                FROM w GROUP BY 1, 2)
         SELECT qid, doc AS doc_id, CAST(rn AS INTEGER) AS rank, score,
                n_terms
         FROM (SELECT sc.*, row_number() OVER (PARTITION BY qid
                 ORDER BY score DESC, doc ASC) AS rn FROM sc)
         WHERE rn <= 10""",
    // exact counts from the rule battery's own SQL twin; the two
    // distillation booleans are pinned TRUE (a broken trainer or a
    // broken scoring expression collapses agreement/separation)
    "c11_quality_classifier" ->
      s"""SELECT count(*) AS n_docs,
           CAST(sum(CASE WHEN gopher_pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pass,
           TRUE AS agreement_ok, TRUE AS separation_ok
         FROM ($gopherRulesOracle)""",
    "t16_calibrated_quality" ->
      s"""WITH q AS (SELECT doc_id, lang,
           CAST(floor((${CorpusQueries.qualitySqlExpr}) * 1000.0) AS BIGINT)
             AS bin FROM documents),
         h AS (SELECT lang, bin, count(*) AS n FROM q GROUP BY 1, 2),
         c AS (SELECT lang, bin,
             sum(n) OVER (PARTITION BY lang ORDER BY bin) AS cum,
             sum(n) OVER (PARTITION BY lang) AS tot FROM h),
         thr AS (SELECT lang, min(bin) AS thr_bin FROM c
                 WHERE cum * 2 >= tot * 1 GROUP BY lang)
         SELECT q.doc_id, q.lang, q.bin, thr.thr_bin
         FROM q JOIN thr USING (lang) WHERE q.bin >= thr.thr_bin""",
    "p04_token_packing" ->
      s"""WITH t AS (SELECT doc_id, lang,
           CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         c AS (SELECT doc_id, lang, n_tokens,
           sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS UNBOUNDED PRECEDING) AS cum FROM t)
         SELECT doc_id, lang, n_tokens,
           CAST(floor((cum - n_tokens) / 1000.0) AS BIGINT) AS shard_id
         FROM c""",
    "t13_lm_fit" ->
      s"""WITH ref AS (SELECT unnest(${ngramsAll(2)}) AS g FROM documents
             WHERE doc_id % 7 = 0),
         model AS (SELECT g, count(*) AS cnt FROM ref GROUP BY g),
         db AS (SELECT doc_id, unnest(${ngramsAll(2)}) AS g FROM documents),
         sc AS (SELECT doc_id, count(*) AS n_bigrams, count(cnt) AS n_hits,
             CAST(sum(coalesce(cnt, 0)) AS BIGINT) AS sum_model_count
           FROM db LEFT JOIN model USING (g) GROUP BY doc_id)
         SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
           coalesce(n_hits, 0) AS n_hits,
           coalesce(sum_model_count, 0) AS sum_model_count
         FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""",
    "t15_lm_fit_broadcast" ->
      s"""WITH ref AS (SELECT unnest(${ngramsAll(2)}) AS g FROM documents
             WHERE doc_id % 7 = 0),
         model AS (SELECT g, count(*) AS cnt FROM ref GROUP BY g),
         db AS (SELECT doc_id, unnest(${ngramsAll(2)}) AS g FROM documents),
         sc AS (SELECT doc_id, count(*) AS n_bigrams, count(cnt) AS n_hits,
             CAST(sum(coalesce(cnt, 0)) AS BIGINT) AS sum_model_count
           FROM db LEFT JOIN model USING (g) GROUP BY doc_id)
         SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
           coalesce(n_hits, 0) AS n_hits,
           coalesce(sum_model_count, 0) AS sum_model_count
         FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id""",
    "t14_bpe_pairs" ->
      s"""WITH tf AS (SELECT term, count(*) AS freq FROM
           (SELECT unnest($toks) AS term FROM documents) GROUP BY term),
         p AS (SELECT unnest(list_transform(generate_series(1, length(term) - 1),
                 i -> substr(term, i, 2))) AS pair, freq
               FROM tf WHERE length(term) >= 2)
         SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
         FROM p GROUP BY pair ORDER BY pair_count DESC, pair LIMIT 20""",
    "p05_epoch_shuffle" -> {
      val h = s"((doc_id + ${Sampling.EpochSalt}) * ${Sampling.KnuthA})" +
        s" % ${Sampling.HashMod}"
      s"""WITH t AS (SELECT doc_id, $h AS h,
           ($h) % 8 AS shard FROM documents)
         SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard
             ORDER BY h, doc_id) AS BIGINT) AS pos
         FROM t"""
    },
    "t12_chunking" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         s AS (SELECT doc_id, tk,
             unnest(range(0, len(tk), 48)) AS chunk_start FROM t)
         SELECT doc_id, chunk_start,
           CAST(len(list_slice(tk, chunk_start+1, chunk_start+64)) AS BIGINT)
             AS n_chunk_tokens,
           array_to_string(list_slice(tk, chunk_start+1, chunk_start+64), ' ')
             AS chunk_text
         FROM s""",
    "t11_dup_passages" ->
      s"""WITH w AS (SELECT doc_id, unnest(list_distinct(${ngramsAll(8)})) AS g
             FROM documents),
         shared AS (SELECT g FROM w GROUP BY g HAVING count(*) > 1),
         sh AS (SELECT doc_id, count(*) AS n_shared FROM w
                WHERE g IN (SELECT g FROM shared) GROUP BY doc_id),
         nw AS (SELECT doc_id, len(list_distinct(${ngramsAll(8)})) AS n_windows
                FROM documents)
         SELECT nw.doc_id, CAST(n_windows AS BIGINT) AS n_windows,
           COALESCE(n_shared, 0) AS n_shared,
           CASE WHEN n_windows = 0 THEN 0.0
             ELSE CAST(COALESCE(n_shared, 0) AS DOUBLE) / n_windows END
             AS dup_passage_frac
         FROM nw LEFT JOIN sh ON nw.doc_id = sh.doc_id""",
    "t17_span_dedup" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         sp AS (SELECT doc_id, tk, unnest(range(0, len(tk), 8)) AS cs FROM t),
         tiles AS (SELECT doc_id, cs,
             array_to_string(list_slice(tk, cs+1, cs+8), ' ') AS ct FROM sp),
         own AS (SELECT ct, min(doc_id) AS owner,
                 count(DISTINCT doc_id) AS nd FROM tiles GROUP BY ct),
         kept AS (SELECT doc_id, cs, ct FROM tiles JOIN own USING (ct)
                  WHERE nd = 1 OR doc_id = owner),
         recon AS (SELECT doc_id, string_agg(ct, ' ' ORDER BY cs) AS clean_text,
                   count(*) AS n_tiles_kept FROM kept GROUP BY doc_id),
         tot AS (SELECT doc_id, count(*) AS n_tiles FROM tiles GROUP BY doc_id)
         SELECT tot.doc_id, coalesce(clean_text, '') AS clean_text,
           coalesce(n_tiles_kept, 0) AS n_tiles_kept, n_tiles
         FROM tot LEFT JOIN recon ON tot.doc_id = recon.doc_id""",
    "t10_vocab_topk" ->
      s"""SELECT term, count(*) AS freq
         FROM (SELECT unnest($toks) AS term FROM documents)
         GROUP BY term ORDER BY freq DESC, term LIMIT 100""",
    "d10_incremental_dedup" ->
      """WITH batch AS (SELECT doc_id, text FROM documents WHERE doc_id >= 250),
         idx AS (SELECT DISTINCT text FROM documents WHERE doc_id < 250),
         surv AS (SELECT doc_id, text FROM batch
           QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1)
         SELECT doc_id FROM surv
         WHERE text NOT IN (SELECT text FROM idx)""",
    // identical semantics to d10 — the bloom is pure routing; the
    // re-ingested block (ids+10000) must vanish against the index
    "d16_incremental_dedup_bloom" ->
      """WITH batch AS (SELECT doc_id, text FROM documents WHERE doc_id >= 250
           UNION ALL
           SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50),
         idx AS (SELECT DISTINCT text FROM documents WHERE doc_id < 250),
         surv AS (SELECT doc_id, text FROM batch
           QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1)
         SELECT doc_id FROM surv
         WHERE text NOT IN (SELECT text FROM idx)""",
    "c02_corpus_report" ->
      s"""SELECT count(*) AS n_docs,
           CAST(sum(len($toks)) AS BIGINT) AS n_tokens,
           CAST(sum(CAST(${CorpusQueries.qualitySqlExpr} AS DECIMAL(38,6)))
             AS DOUBLE) / count(*) AS mean_quality,
           count(DISTINCT lang) AS n_langs,
           count(DISTINCT text) AS n_distinct_texts
         FROM documents""",
    "c03_curation_pipeline" ->
      s"""WITH sh AS (SELECT doc_id, ${shingles(4)} AS grams FROM documents),
         bg AS (SELECT DISTINCT unnest(grams) AS g FROM sh
                WHERE doc_id % 53 = 0),
         gated AS (SELECT doc_id, text, lang FROM (
             SELECT doc_id, text, lang,
               ${CorpusQueries.qualitySqlExpr} AS quality,
               CASE WHEN len($toks) = 0 THEN 0.0
                 ELSE 1.0 - CAST(len(list_distinct($toks)) AS DOUBLE)
                      / len($toks) END AS dtf
             FROM documents)
           WHERE quality >= 0.5 AND dtf <= 0.6 AND doc_id % 53 != 0),
         tg AS (SELECT s.doc_id, unnest(s.grams) AS g
                FROM sh s JOIN gated ON s.doc_id = gated.doc_id),
         cont AS (SELECT DISTINCT tg.doc_id FROM tg JOIN bg USING (g)),
         clean AS (SELECT * FROM gated
           WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
         surv AS (SELECT doc_id, text, lang FROM clean
           QUALIFY row_number() OVER (PARTITION BY text ORDER BY doc_id) = 1),
         samp AS (SELECT doc_id, lang, text FROM surv
           QUALIFY row_number() OVER (PARTITION BY lang
             ORDER BY $hashExpr, doc_id) <= 40),
         tok AS (SELECT doc_id, lang,
           CAST(len($toks) AS BIGINT) AS n_tokens FROM samp),
         c AS (SELECT doc_id, lang, n_tokens,
           sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS UNBOUNDED PRECEDING) AS cum FROM tok)
         SELECT doc_id, lang, n_tokens,
           CAST(floor((cum - n_tokens) / 1000.0) AS BIGINT) AS shard_id
         FROM c""",
    "d11_contamination_report" ->
      s"""WITH sh AS (SELECT doc_id, ${shingles(4)} AS grams FROM documents),
         bg AS (SELECT DISTINCT doc_id AS bench_id, unnest(grams) AS g
                FROM sh WHERE doc_id % 53 = 0),
         tg AS (SELECT doc_id, unnest(grams) AS g
                FROM sh WHERE doc_id % 53 != 0)
         SELECT tg.doc_id, count(DISTINCT tg.g) AS n_shared_grams,
           count(DISTINCT bg.bench_id) AS n_bench_docs
         FROM tg JOIN bg USING (g) GROUP BY tg.doc_id""",
    "d09_decontaminate" ->
      s"""WITH sh AS (SELECT doc_id, ${shingles(4)} AS grams FROM documents),
         bg AS (SELECT DISTINCT unnest(grams) AS g FROM sh
                WHERE doc_id % 53 = 0),
         tg AS (SELECT doc_id, unnest(grams) AS g FROM sh
                WHERE doc_id % 53 != 0),
         cont AS (SELECT DISTINCT tg.doc_id FROM tg JOIN bg USING (g))
         SELECT doc_id FROM documents
         WHERE doc_id % 53 != 0
           AND doc_id NOT IN (SELECT doc_id FROM cont)""")
}
