package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.{kernels, MinHashSignature, MinHashSignatureHashed,
  PolySimHash60, SimHash64, SortedLongIntersect}
import graft.functions.TextFunctions

/** Deduplication operators for large-scale corpus pipelines.
  *
  * Scale notes (the whole point of these designs):
  *  - Exact dedup is one hash-partitioned window/aggregate — a single
  *    shuffle on the dedup key. No driver-side state.
  *  - MinHash/SimHash candidate generation shuffles on (band, bandHash) /
  *    (chunk, chunkValue) buckets, so each bucket's pair expansion is
  *    local to one partition. Pair verification is a narrow projection.
  *    Nothing is ever collected to the driver; skewed buckets (e.g. the
  *    empty-document bucket) are the known hazard and are capped.
  *  - "Duplicate" is decided as: doc has a VERIFIED similar neighbor with
  *    a smaller id. Keeping min-id per similarity cluster without full
  *    transitive closure is the standard single-pass policy (transitive
  *    chains devolve to connected components, which needs iteration;
  *    round 1 ships the one-pass policy used by most production dedup).
  */
object Dedup {

  /** Exact dedup: keep the first row (lowest `orderCol`) per key. One
    * shuffle on `keys`; at 100 TB prefer this over `dropDuplicates` for
    * its deterministic survivor choice.
    */
  def exact(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact dedup on a hash of long text: groups on a 64-bit fingerprint
    * instead of the full text, so the shuffle moves 8 bytes per row, not
    * the document body. xxhash64 collisions at corpus scale are ~n²/2⁶⁴ —
    * acceptable for training-data dedup (and verifiable downstream).
    */
  def exactByHash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(xxhash64(col(textCol))).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Incremental exact dedup — the production shape: dedup TODAY'S batch
    * within itself and against the already-ingested corpus `index`.
    * Survivors are batch docs that are (a) the min-id holder of their
    * content hash within the batch and (b) content-new vs the index.
    *
    * Scale design: only 8-byte content hashes of the index cross the
    * wire. Store the index as its hash column bucketed on hash and the
    * anti join is co-partitioned — the daily run shuffles just the new
    * batch; the historical corpus is never rescanned beyond its hash
    * column (a narrow parquet projection).
    */
  def incrementalDedup(batch: DataFrame, index: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val inBatch = exactByHash(batch, textCol, idCol)
    val indexHashes = index.select(xxhash64(col(textCol)).as("__h")).distinct()
    inBatch.join(indexHashes, xxhash64(col(textCol)) === col("__h"), "left_anti")
  }

  /** Build the index-side content bloom ONCE per index generation —
    * the persisted-artifact posture of [[incrementalDedupBloom]] (the
    * d14 signature-index precedent): builds distributed over the
    * index's 8-byte hash projection (treeAggregate, no shuffle; only
    * the bitset reaches the driver), returns serialized bits to store
    * next to the index. Size the driver for ~1.2 GB per billion index
    * keys at 1% fpp, or shard the index by hash range beyond that.
    */
  def indexBloom(index: DataFrame, textCol: String,
                 expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    val bloom = index.select(xxhash64(col(textCol)).as("__h"))
      .stat.bloomFilter("__h", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  /** [[incrementalDedup]] with bloom ROUTING on both sides — the
    * mostly-new daily-batch shape where the index dwarfs every batch:
    *
    *  1. A batch row whose hash fails the PERSISTED index bloom
    *     (`indexBloomBytes`, built once per index generation by
    *     [[indexBloom]]) is DEFINITELY new (no false negatives) and
    *     never touches the index at all.
    *  2. The bloom-positive sliver (~actual dups + fpp x batch) builds
    *     its own small bloom, which prunes the INDEX's hash projection
    *     in the scan stage — so the exact anti-join exchanges
    *     ~|sliver|-scale rows on BOTH sides instead of shuffling every
    *     index hash per batch.
    *
    * Result is EXACT either way: false positives merely route a new
    * row through the exact path (which keeps it); index-side pruning
    * only drops index hashes that cannot match any sliver row.
    */
  def incrementalDedupBloom(batch: DataFrame, index: DataFrame,
                            idCol: String, textCol: String,
                            indexBloomBytes: Array[Byte],
                            fpp: Double = 0.01): DataFrame = {
    def probeOf(bytes: Array[Byte], c: org.apache.spark.sql.Column) =
      graft.expressions.kernels.toCol(
        graft.expressions.BloomMightContain(
          graft.expressions.kernels.toExpr(c), bytes))
    val inBatch = exactByHash(batch, textCol, idCol)
      .withColumn("__bh", xxhash64(col(textCol)))
      .persist(StorageLevel.MEMORY_AND_DISK) // routed twice + sliver bloom
    val idxProbe = probeOf(indexBloomBytes, col("__bh"))
    val definitelyNew = inBatch.filter(!idxProbe)
    val sliver = inBatch.filter(idxProbe)
    // the sliver bloom needs a size anyway, and `stat.bloomFilter`
    // NPEs on EMPTY input (the fully-new batch — common in practice),
    // so count it: one cheap action on the persisted batch
    val sliverN = sliver.count()
    val out = (if (sliverN == 0) {
      inBatch.drop("__bh") // nothing can match the index; all survive
    } else {
      // the sliver's own bloom prunes the index scan symmetrically
      val sliverBloom = sliver.stat.bloomFilter("__bh",
        math.max(1000L, sliverN), fpp)
      val sbos = new java.io.ByteArrayOutputStream()
      sliverBloom.writeTo(sbos)
      val idxPruned = index.select(xxhash64(col(textCol)).as("__h"))
        .filter(probeOf(sbos.toByteArray, col("__h")))
      val candidates = sliver
        .join(idxPruned.distinct(), col("__bh") === col("__h"), "left_anti")
      definitelyNew.unionByName(candidates).drop("__bh")
    }).localCheckpoint(eager = true)
    inBatch.unpersist(blocking = false)
    out
  }

  /** Convenience form building the index bloom inline — correct but
    * pays the index-bloom build per call; persist via [[indexBloom]]
    * in production. */
  def incrementalDedupBloom(batch: DataFrame, index: DataFrame,
                            idCol: String, textCol: String,
                            expectedIndexItems: Long): DataFrame =
    incrementalDedupBloom(batch, index, idCol, textCol,
      indexBloom(index, textCol, expectedIndexItems))

  /** Incremental NEAR-dup dedup — the d10 daily-ingest shape lifted
    * from exact hashing to MinHash J >= `threshold`: dedup the new
    * batch within itself AND against the already-ingested index. A
    * batch doc is dropped iff a verified-similar doc exists in the
    * index (the stored copy always wins) or earlier (smaller id) in
    * the batch.
    *
    * Scale shape: at ingest the index side is the persisted
    * (id, signature, hashed-shingles) artifact, so corpus text never
    * re-travels; per batch the LSH banding shuffles index+batch
    * signatures once, pair expansion is per-bucket local, and the
    * verify joins move 8-byte shingle hashes. No index rows are ever
    * dropped — the operator returns batch survivors only.
    *
    * Density contract (measured, NOTES.md): the index must be
    * INTERNALLY deduped — which production guarantees by construction,
    * because the index is exactly the accumulated survivor set. Then
    * bucket sizes are bounded by (batch-local dups + 1 index witness)
    * and the pair expansion stays linear in index size. An index with
    * k mutual near-dups per doc makes every bucket ~k wide and the
    * expansion quadratic — that corpus needs one [[bandedPreCollapse]]
    * pass BEFORE it becomes an index. A dup-dense BATCH is likewise
    * pre-collapsed first (the d13/c08 composition).
    */
  def incrementalMinhashDedup(batch: DataFrame, index: DataFrame,
                              idCol: String, textCol: String,
                              shingleSize: Int = 3, numHashes: Int = 64,
                              bands: Int = 16,
                              threshold: Double = 0.8): DataFrame = {
    val rows = numHashes / bands
    val all = batch.select(col(idCol), col(textCol), lit(1).as("__side"))
      .union(index.select(col(idCol), col(textCol), lit(0).as("__side")))
    val shingled = all.select(col(idCol), col("__side"),
      hashedShingles(col(textCol), shingleSize).as("shingles"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sigs = shingled.select(col(idCol),
      minhashSignatureHashed(col("shingles"), numHashes).as("sig"))
    val verified = lshCandidates(sigs, idCol, "sig", bands, rows)
      .join(shingled.select(col(idCol).as("id_a"), col("shingles").as("sh_a"),
        col("__side").as("side_a")), "id_a")
      .join(shingled.select(col(idCol).as("id_b"), col("shingles").as("sh_b"),
        col("__side").as("side_b")), "id_b")
      .filter(size(col("sh_a")) >= ceil(lit(threshold) * size(col("sh_b"))) &&
        size(col("sh_b")) >= ceil(lit(threshold) * size(col("sh_a"))))
      .filter(jaccardHashed(col("sh_a"), col("sh_b")) >= threshold)
    // victim per pair: batch-batch -> the larger id (id_b, pairs are
    // ordered); index-batch -> whichever side is the batch doc
    val victims = verified.select(
      when(col("side_a") === 1 && col("side_b") === 1, col("id_b"))
        .when(col("side_a") === 1 && col("side_b") === 0, col("id_a"))
        .when(col("side_a") === 0 && col("side_b") === 1, col("id_b"))
        .as(idCol))
      .filter(col(idCol).isNotNull)
    batch.select(col(idCol))
      .join(victims.distinct(), Seq(idCol), "left_anti")
  }

  private val Prime = 2147483647L // 2^31 - 1, Mersenne

  /** MinHash signature column: array<long> of `numHashes` minima over the
    * document's shingle set. Universal hashing h_i(x) = (a_i*x + b_i) mod p
    * over a base 32-bit murmur hash of each shingle; a_i/b_i derive
    * deterministically from the seed, so signatures are reproducible
    * across runs and executors. Native Catalyst expression — one pass
    * over the shingles instead of `numHashes` transform/array_min trees.
    */
  def minhashSignature(shingles: Column, numHashes: Int, seed: Long = 42L): Column =
    kernels.toCol(MinHashSignature(kernels.toExpr(shingles), numHashes, seed))

  /** MinHash signature over PRE-HASHED shingles (array<long>) — the
    * variant for the at-scale layout where only 8-byte shingle hashes
    * travel through the shuffle.
    */
  def minhashSignatureHashed(hashes: Column, numHashes: Int, seed: Long = 42L): Column =
    kernels.toCol(MinHashSignatureHashed(kernels.toExpr(hashes), numHashes, seed))

  /** Sorted distinct 64-bit hashes of a document's word shingles — the
    * dedup pipelines' carried representation: ~8 bytes per shingle
    * through every shuffle instead of the shingle text. xxhash64
    * collisions alter Jaccard by ~|sets|²/2⁶⁴ — negligible against the
    * dedup threshold (and deterministic, so the oracle gate would
    * surface one).
    */
  def hashedShingles(text: Column, n: Int): Column =
    array_sort(transform(TextFunctions.wordShingles(text, n), s => xxhash64(s)))

  /** Exact Jaccard over two SORTED hashed-shingle arrays: one merge pass
    * (native kernel), no intermediate arrays.
    */
  def jaccardHashed(a: Column, b: Column): Column = {
    val inter = kernels.toCol(
      SortedLongIntersect(kernels.toExpr(a), kernels.toExpr(b))).cast("double")
    val uni = (size(a) + size(b)).cast("double") - inter
    when(uni === 0.0, lit(0.0)).otherwise(inter / uni)
  }

  /** Candidate duplicate pairs via LSH banding: split the signature into
    * `bands` bands of `rows` values; docs sharing any band bucket become a
    * candidate pair. Returns (id_a, id_b) with id_a < id_b, distinct.
    *
    * Shuffle profile: one exchange on (band, bandHash); pair expansion is
    * per-bucket local. `maxBucket` caps degenerate buckets (boilerplate /
    * empty docs) that would otherwise explode quadratically at scale.
    */
  def lshCandidates(sigDf: DataFrame, idCol: String, sigCol: String,
                    bands: Int, rows: Int, maxBucket: Int = 1000): DataFrame = {
    val banded = sigDf
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(b, slice(col(sigCol), b * rows + 1, lit(rows))))))
      .toDF(idCol, "band", "bucket")
      // referenced by the size filter and both sides of the pair join;
      // caching the (id, band, bucket) triples avoids recomputing the
      // upstream shingle+signature pipeline per reference
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Bucket-size cap via groupBy + join back, NOT a window count:
    // buckets are the skewed key here (boilerplate/empty docs) and AQE
    // can split a skewed join partition but not a window partition — the
    // t08 lesson. The partial agg collapses hot buckets map-side; the
    // inner join drops singleton buckets (no pairs) and pathological
    // ones (quadratic blowup) in one pass.
    val okBuckets = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn").between(2, maxBucket))
      .select("band", "bucket")
    val inBucket = banded.join(okBuckets, Seq("band", "bucket"))
    inBucket.as("a").join(inBucket.as("b"),
        col(s"a.band") === col(s"b.band") &&
        col(s"a.bucket") === col(s"b.bucket") &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      // NOT distinct: cross-band duplicate pairs are cheaper to verify
      // twice than to shuffle once more; survivors dedup at the end
  }

  /** Exact Jaccard similarity between two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0.0, lit(0.0)).otherwise(inter / uni)
  }

  /** MinHash+LSH near-duplicate detection, end to end.
    *
    * docs(idCol, textCol) -> DataFrame(idCol) of SURVIVORS: a doc is
    * dropped iff some verified-similar doc with a smaller id exists.
    * Candidates from LSH banding, then verified with exact Jaccard on the
    * shingle sets (re-joined by id — at 100 TB carry only (id, shingles)
    * through the verify join, never the full text).
    */
  def minhashDedup(docs: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, numHashes: Int = 64,
                   bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    val rows = numHashes / bands
    // carry 8-byte shingle hashes, never the shingle strings: the persist
    // and both verify joins move ~8 bytes/shingle (the at-scale layout)
    val shingled = docs.select(col(idCol),
      hashedShingles(col(textCol), shingleSize).as("shingles"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val sigs = shingled.select(col(idCol),
      minhashSignatureHashed(col("shingles"), numHashes).as("sig"))
    val cands = lshCandidates(sigs, idCol, "sig", bands, rows)
    val verified = cands
      .join(shingled.select(col(idCol).as("id_a"), col("shingles").as("sh_a")), "id_a")
      .join(shingled.select(col(idCol).as("id_b"), col("shingles").as("sh_b")), "id_b")
      // size-compatibility prune (implied by J >= t: |A| >= t|B| and
      // vice versa) — rejects pairs before the O(|A|+|B|) merge
      .filter(size(col("sh_a")) >= ceil(lit(threshold) * size(col("sh_b"))) &&
        size(col("sh_b")) >= ceil(lit(threshold) * size(col("sh_a"))))
      .filter(jaccardHashed(col("sh_a"), col("sh_b")) >= threshold)
    // survivors: all ids minus ids that appear as the LARGER of a verified pair
    docs.select(col(idCol))
      .join(verified.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")
  }

  /** SimHash fingerprint of a document: 64-bit, from token hashes.
    * bit i of the fingerprint = sign of sum over tokens of (+1 if token's
    * bit i set else -1). Near-identical docs differ in few bits.
    * Native Catalyst expression — one pass over the token array.
    */
  def simhash(text: Column): Column =
    kernels.toCol(SimHash64(kernels.toExpr(TextFunctions.tokens(text))))

  /** 60-bit polynomial SimHash — identical semantics, but every step is
    * plain integer arithmetic an external engine can reproduce (the
    * DuckDB oracle recomputes it exactly). Use [[simhash]] (xxhash64) as
    * the scale default; this variant exists for cross-engine parity.
    */
  def simhashPoly(text: Column): Column =
    kernels.toCol(PolySimHash60(kernels.toExpr(TextFunctions.tokens(text))))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup survivors: docs sharing any of 4 fingerprint chunks
    * land in the same bucket (pigeonhole: guarantees finding all pairs
    * with hamming <= 3), verified by full hamming distance <= maxHamming,
    * keep-min-id policy. `fpBits` must be divisible by 4; pass
    * `fingerprint = simhashPoly` with fpBits = 60 for the
    * oracle-reproducible variant.
    */
  def simhashDedup(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 1000,
                   fingerprint: Column => Column = simhash,
                   fpBits: Int = 64): DataFrame =
    fingerprintDedup(
      docs.select(col(idCol), fingerprint(col(textCol)).as("fp")),
      idCol, "fp", maxHamming, maxBucket, fpBits)

  /** Pigeonhole near-dup survivors over ANY 64-bit-or-less fingerprint
    * column (SimHash text prints, image dHash prints, …): rows sharing
    * any of 4 fingerprint chunks land in the same bucket — pigeonhole
    * guarantees every pair with hamming <= 3 shares a chunk — verified
    * by full hamming <= `maxHamming`, keep-min-id policy. Exact versus a
    * brute all-pairs scan as long as no bucket exceeds `maxBucket`
    * (size the cap above the worst expected duplicate-family size).
    *
    * Shuffle profile: one 4x chunk explode (32 bytes/row), bucket sizes
    * via groupBy + join back (skew-splittable, not a window), the bucket
    * self-join, one anti-join. The corpus text/bytes never shuffle —
    * only (id, fp) pairs.
    */
  def fingerprintDedup(fp: DataFrame, idCol: String, fpCol: String,
                       maxHamming: Int = 3, maxBucket: Int = 1000,
                       fpBits: Int = 64): DataFrame = {
    val pairs = fingerprintPairs(fp, idCol, fpCol, maxHamming, maxBucket, fpBits)
    fp.select(col(idCol))
      .join(pairs.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")
  }

  /** A COMPLETE near-dup edge set (id_a < id_b) behind
    * [[fingerprintDedup]] — also the edge list for
    * [[connectedComponents]]/[[leakageSafeSplit]] when the similarity
    * signal is a fingerprint (image dHash, SimHash) instead of shingle
    * Jaccard.
    *
    * Density-proof by construction (the d13 pre-collapse lesson applied
    * to fingerprints): identical fingerprints collapse FIRST via an
    * exact groupBy to their min-id representative (star edges rep ->
    * member, linear at any copy count), and the pigeonhole buckets then
    * hold DISTINCT fingerprints only — a million exact copies of one
    * image contribute ONE row to the bucket self-join instead of
    * overwhelming (or worse, silently overflowing) `maxBucket`. The
    * returned set is not every similar pair, but its transitive closure
    * and its min-id victim rule are EXACTLY those of the full pair
    * graph: any similar (a, b) implies rep_a <= a with the same
    * fingerprint distance, so rep-level edges plus identical-copy stars
    * reach the same components and the same survivors.
    */
  def fingerprintPairs(fp: DataFrame, idCol: String, fpCol: String,
                       maxHamming: Int = 3, maxBucket: Int = 1000,
                       fpBits: Int = 64): DataFrame = {
    require(fpBits % 4 == 0, "chunking assumes 4 equal chunks")
    val width = fpBits / 4
    val base = fp.select(col(idCol), col(fpCol).as("fp"))
      .persist(StorageLevel.MEMORY_AND_DISK) // rep agg + star join
    // identical-fingerprint star edges: rep = min id per fingerprint
    val reps = base.groupBy("fp").agg(min(col(idCol)).as("__rep"))
    val stars = base.join(reps, Seq("fp"))
      .filter(col(idCol) =!= col("__rep"))
      .select(col("__rep").as("id_a"), col(idCol).as("id_b"))
    // pigeonhole over DISTINCT fingerprints only
    val chunked = reps.select(col("__rep").as(idCol), col("fp")).select(
        col(idCol), col("fp"), posexplode(
        array((0 until 4).map(c =>
          shiftrightunsigned(col("fp"), c * width)
            .bitwiseAND(lit((1L << width) - 1L))): _*)))
      .toDF(idCol, "fp", "chunk", "ckey")
      .persist(StorageLevel.MEMORY_AND_DISK) // 3 references, 32 bytes/row
    // bucket cap via groupBy + join (skew-splittable), not a window —
    // same rationale as lshCandidates; buckets are distinct-fp-sized
    val counts = chunked.groupBy("chunk", "ckey")
      .agg(count(lit(1)).as("__bn"))
    val okB = counts.filter(col("__bn").between(2, maxBucket))
      .select("chunk", "ckey")
    val inB = chunked.join(okB, Seq("chunk", "ckey"))
    def selfJoinPairs(df: DataFrame, keys: Seq[String]): DataFrame =
      df.as("a").join(df.as("b"),
          keys.map(kc => col(s"a.$kc") === col(s"b.$kc"))
            .reduce(_ && _) && col(s"a.$idCol") < col(s"b.$idCol"))
        .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
          col("a.fp").as("fp_a"), col("b.fp").as("fp_b"))
    val pairs0 = selfJoinPairs(inB, Seq("chunk", "ckey"))
    // RECURSIVE PIGEONHOLE REFINEMENT for oversized buckets (the sf0.1
    // density cliff: a skewed 1/4-chunk value can hold thousands of
    // DISTINCT fingerprints, and silently dropping such buckets loses
    // real near-dup pairs — caught by the full-board 10x replay).
    // Every member of an oversized (chunk, value) bucket re-keys by
    // ONE ADDITIONAL fine half-chunk (the 4 chunks split in two → 8
    // fine chunks partitioning the fingerprint): a pair in the bucket
    // differs in <= maxHamming(3) bits, which can touch at most 3 of
    // the 8 fine chunks, so the pair still shares >= 5 refined keys —
    // exactness is preserved while the bucket shrinks by the fine
    // chunk's entropy (~width/2 bits). Quadratic work now only arises
    // within clusters of distinct fingerprints sharing ~1.5 chunks
    // (near-identical by construction); a generous upper cap bounds
    // the adversarial worst case, above which candidates are dropped
    // exactly as the old single-level cap dropped them at 1/64 the
    // density.
    val bigB = counts.filter(col("__bn") > maxBucket)
      .select("chunk", "ckey")
    val loW = width / 2
    val hiW = width - loW
    val fineKeys = (0 until 8).map { i =>
      val j = i / 2
      if (i % 2 == 0)
        shiftrightunsigned(col("fp"), j * width)
          .bitwiseAND(lit((1L << loW) - 1L))
      else
        shiftrightunsigned(col("fp"), j * width + loW)
          .bitwiseAND(lit((1L << hiW) - 1L))
    }
    val fine = chunked.join(bigB, Seq("chunk", "ckey"))
      .select(col(idCol), col("fp"), col("chunk"), col("ckey"),
        posexplode(array(fineKeys: _*)))
      .toDF(idCol, "fp", "chunk", "ckey", "fs", "fv")
    val okF = fine.groupBy("chunk", "ckey", "fs", "fv")
      .agg(count(lit(1)).as("__fn"))
      .filter(col("__fn").between(2, maxBucket.toLong * 64))
      .select("chunk", "ckey", "fs", "fv")
    val pairs1 = selfJoinPairs(fine.join(okF,
      Seq("chunk", "ckey", "fs", "fv")), Seq("chunk", "ckey", "fs", "fv"))
    val repPairs = pairs0.union(pairs1)
      .filter(hamming(col("fp_a"), col("fp_b")) <= maxHamming)
      .select("id_a", "id_b")
      .distinct() // cross-chunk/fine repeats collapse before any CC loop
    repPairs.union(stars)
  }

  /** Transitive-closure dedup: treat verified similar pairs as edges of
    * an undirected graph and keep ONE doc (the min id) per connected
    * component — the upgrade over single-pass keep-min-id when duplicate
    * chains matter (a~b, b~c, a!~c must still collapse to {a}).
    *
    * Adaptive two-path design:
    *  - pair lists that fit the driver (see `localEdgeThreshold` on
    *    [[componentLabels]]) close as exact union-find locally —
    *    the broadcast-threshold philosophy applied to graph closure;
    *  - larger subgraphs run a Shiloach-Vishkin-style distributed loop
    *    (tree-level hook + pointer shortcut per round): O(log n) rounds
    *    regardless of how ids are placed along duplicate chains. A
    *    node-level hash-min hook with a jump step was measured decaying
    *    to ~O(diameter) on randomly-permuted chain ids — the jump only
    *    doubles when parent chains are deep, and node-level hooking
    *    keeps them shallow. Tree hooking links whole trees per round;
    *    the shortcut then halves real chain depth. The default
    *    `maxIter = 32` bounds the loop far above any reachable round
    *    count; converged loops exit early.
    *
    * `pairs` must have columns (id_a, id_b); returns (id, component)
    * with component = min id of the connected component. Docs absent
    * from `pairs` are their own component.
    */
  def connectedComponents(ids: DataFrame, pairs: DataFrame,
                          idCol: String, maxIter: Int = 32,
                          localEdgeThreshold: Long = 4000000L): DataFrame = {
    val sub = componentLabels(pairs, idCol, maxIter, localEdgeThreshold)
    // attach the corpus complement ONCE: isolated docs are their own
    // component. `sub` is duplicate-subgraph-sized, so at scale this is
    // a broadcast join against the corpus scan, not a corpus shuffle.
    ids.select(col(idCol)).join(sub, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("component"))
  }

  /** Rounds the most recent [[componentLabels]] loop took to converge —
    * a probe/spec observability hook (the round count is the whole
    * point of the log-round design), not part of the operator contract.
    * Thread-local: the round loop runs synchronously on the calling
    * thread, so a spec reads its own invocation's count even if suites
    * ever run in parallel.
    */
  private[graft] val lastRounds: ThreadLocal[Integer] =
    ThreadLocal.withInitial(() => Integer.valueOf(0))

  /** Component labels of the DUPLICATE SUBGRAPH only: (idCol, component)
    * for every node that appears in a pair — the loop never touches the
    * corpus. The result is materialized (localCheckpoint), so callers
    * can reference it any number of times without re-running the pair
    * computation; the pair plan itself is pinned exactly once inside.
    *
    * Adaptive execution (the broadcast-threshold philosophy applied to
    * graph closure): the pair list is materialized and counted anyway,
    * so when it fits the driver comfortably (`localEdgeThreshold` edges,
    * 64-bit ids — default 4M edges ~ 64 MB) the closure runs as exact
    * driver-side union-find in milliseconds instead of O(log d)
    * distributed rounds that each pay fixed job overhead. Measured on
    * the v08 subgraph (sf0.1, ~5k edges): 24 rounds x ~0.55 s of pure
    * scheduling became ~0 — and a 100 TB dup subgraph with billions of
    * edges exceeds the threshold and takes the distributed loop, whose
    * round count is log-bounded by the jump step. Identical labels
    * either way (both compute min-id per component, deterministically).
    */
  def componentLabels(pairs: DataFrame, idCol: String,
                      maxIter: Int = 32,
                      localEdgeThreshold: Long = 4000000L): DataFrame = {
    // Materialize the pair list AND CUT ITS LINEAGE before iterating.
    // The persist half: the edge union references `pairs` twice, and
    // without pinning the (expensive) similarity-pair computation runs
    // twice on first materialization — measured 2x of the whole pair
    // cost at 50k docs. The lineage half: every round's plan otherwise
    // NESTS the caller's whole upstream tree (a deep composition like
    // c07's quality gate -> mix -> pair family), and Catalyst re-analyzes
    // that tree each round with depth compounding per iteration —
    // measured 3.6 s then 13.5 s ROUNDS on a 116-pair subgraph
    // (planning-bound, zero execution weight). An eager localCheckpoint
    // gives every round a flat LogicalRDD leaf instead.
    val p0 = pairs.localCheckpoint(eager = true)
    // driver-bounded subgraphs close locally: exact min-id union-find
    // over the collected edge list (64-bit ids only; anything else or
    // anything bigger takes the distributed loop below)
    // check the NAMED columns' types (the local path reads id_a/id_b by
    // name below) — a positional check on the first two fields could
    // pass on a reordered frame and then ClassCastException in getLong
    val longIds = Seq("id_a", "id_b").forall(c =>
      p0.schema.find(_.name == c)
        .exists(_.dataType == org.apache.spark.sql.types.LongType))
    val pairCount = p0.count()
    if (longIds && pairCount <= localEdgeThreshold) {
      val spark = p0.sparkSession
      import spark.implicits._
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = { // iterative, with full path compression
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x
        while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      // toLocalIterator, not collect(): one partition of boxed rows on
      // the driver at a time, so the transient footprint stays ~1/32 of
      // the edge list even at the 4M-edge threshold
      p0.select(col("id_a"), col("id_b")).toLocalIterator().forEachRemaining { row =>
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val (a, b) = (row.getLong(0), row.getLong(1))
          // self-register BOTH endpoints: the contract is a label for
          // every paired node, and a component's min-id root would
          // otherwise never appear in the map (double-keep hazard in
          // clusteredSurvivorsBy's complement anti-join)
          parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra < rb) parent.put(rb, ra)
          else if (rb < ra) parent.put(ra, rb)
        }
      }
      val labels = parent.keySet().toArray(Array.empty[java.lang.Long])
        .map(id => (id.toLong, find(id)))
      lastRounds.set(0)
      release(p0)
      return labels.toSeq.toDF(idCol, "component")
    }
    val edges = p0.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p0.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Only nodes that appear in a pair can change label: iterate over the
    // DUPLICATE SUBGRAPH, not the corpus. At 100 TB with a few percent
    // duplicates, carrying a corpus-sized label table through every
    // round (join + agg + join, per round) is the difference between the
    // loop shuffling |dup subgraph| and shuffling the whole corpus
    // O(diameter) times; isolated docs join back in ONCE at the end as
    // their own component. (edges holds both directions, so src alone
    // covers every paired node.)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    // the live per-round lineage-cut checkpoint; the superseded one
    // releases as soon as the next materializes, so exactly one label
    // generation is ever pinned
    var prevCk: DataFrame = null
    // the live (contracted) edge set — starts as the full both-direction
    // frame, shrinks per round (see the contraction step below)
    var curEdges: DataFrame = edges
    var prevEdgeCk: DataFrame = null
    var edgesEmpty = false
    // adaptive contraction cadence: dup-star families collapse their
    // edges in the first contraction (keep contracting every round);
    // chain-shaped graphs barely shrink until the very end, so paying
    // 2 joins + a distinct every round is dead weight there — after a
    // low-shrink contraction, contract every OTHER round until shrink
    // resumes
    var lastEdgeCount = 2L * pairCount
    var contractEvery = 1
    var sinceContract = 0
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val t0 = System.nanoTime()
      // Shiloach-Vishkin-style round: TREE hook, then shortcut.
      //
      // A node-level hook (label <- min of neighbors' labels) keeps the
      // pointer structure shallow, so a jump step has nothing to double
      // and adversarial id placement (random ids along a chain) decays
      // to ~O(diameter) rounds — measured: a permuted 300-hop chain
      // blew past 32 rounds. Hooking at TREE granularity fixes it: the
      // best outside link seen by ANY member of tree r applies at the
      // tree-name node r itself, so chains of entire trees link up in
      // one round and the shortcut then genuinely halves chain depth —
      // O(log n) rounds regardless of id placement.
      //
      // Every join in the loop is SHUFFLE_HASH-hinted: left to itself
      // the planner broadcasts the (small) label table, and a fresh
      // TorrentBroadcast per join per round outruns the async
      // ContextCleaner — measured driver OOM on the 100k-chain probe.
      // Shuffle joins keep the loop's memory footprint flat.
      //
      // 1.-3. hook phase — skipped once the contracted edge set is
      // empty (no hook can ever fire again; the remaining rounds are
      // pure pointer flattening, so paying the nm/treeMin/hook joins
      // for them would be dead weight):
      val p1 = (if (edgesEmpty)
        labels.select(col("id"), col("label"), col("label").as("p1"))
      else {
        // 1. nm(v): min neighbor label visible at v (over the CONTRACTED
        // edge set — see the contraction step at the end of the round)
        val nm = curEdges.join(labels.hint("shuffle_hash"),
            col("dst") === col("id"))
          .groupBy(col("src").as("vid")).agg(min("label").as("nm"))
        // 2. hook(r): best link seen by any member of the tree NAMED r
        val treeMin = labels.join(nm.hint("shuffle_hash"),
            col("id") === col("vid"), "left")
          .select(col("label").as("root"),
            least(col("label"), coalesce(col("nm"), col("label"))).as("m"))
          .groupBy("root").agg(min("m").as("hook"))
        // 3. apply the hook AT node r (r absorbs links destined for its
        // tree even if r's own label already moved on — that is what
        // composes parent chains across rounds)
        labels.join(treeMin.hint("shuffle_hash"),
            col("id") === col("root"), "left")
          .select(col("id"), col("label"),
            least(col("label"), coalesce(col("hook"), col("label"))).as("p1"))
      }).persist(StorageLevel.MEMORY_AND_DISK) // both sides of the shortcut
      // 4. shortcut twice: s1 = p1(p1(v)), then s2 = s1(s1(v)) — chain
      // depth divides by 4 per round for one extra small join, so the
      // worst-case round count halves (a 1M-hop chain needs ~10 rounds,
      // not ~21). Every pointer value is a subgraph node id, so the
      // left joins always match. This loop only runs for subgraphs past
      // localEdgeThreshold, where rounds are the dominant cost.
      val s1 = p1.as("x").join(
          p1.select(col("id").as("__jid"), col("p1").as("__jp"))
            .hint("shuffle_hash").as("y"),
          col("x.p1") === col("y.__jid"), "left")
        .select(col("x.id").as("id"), col("x.label").as("label"),
          coalesce(col("y.__jp"), col("x.p1")).as("s1"))
        .persist(StorageLevel.MEMORY_AND_DISK) // both sides of shortcut 2
      val joined = s1.as("x").join(
          s1.select(col("id").as("__jid"), col("s1").as("__jp"))
            .hint("shuffle_hash").as("y"),
          col("x.s1") === col("y.__jid"), "left")
        .select(col("x.id").as("id"), col("x.label").as("label"),
          coalesce(col("y.__jp"), col("x.s1")).as("nlabel"))
      // Convergence probe folded into the checkpoint materialization via
      // observe(): the eager localCheckpoint is the round's ONE action,
      // and CollectMetrics counts label changes as the rows stream into
      // the checkpoint — the separate count() job (and the persist that
      // existed only to feed it) measured ~1/3 of the per-round wall on
      // the 100k-chain probe. Labels only ever decrease, so
      // `nlabel < label` anywhere means another round is needed, and
      // `changed == 0` is a fixpoint of hook AND shortcut — which forces
      // every label to its component minimum (a cross-label edge would
      // still hook: the tree named by the larger label would see the
      // smaller one and its name-node would change).
      //
      // The checkpoint itself also cuts lineage EVERY round: the two
      // self-joins reference their left subtree twice each, so an uncut
      // plan multiplies ~4x per round — at 3 rounds between cuts that
      // was a ~64x plan-tree blowup, and generating its explain string
      // alone OOMed the driver. Each round's plan stays a flat
      // LogicalRDD leaf plus this round's joins, and all intra-round
      // frames release immediately (keeping them pinned across rounds
      // ran the driver out of memory on the 100k-chain probe).
      // read the metric from the action's own queryExecution (accumulator
      //-backed, synchronous) — Observation.get waits on the async
      // listener bus, which lags seconds behind a 32-core shuffle's task
      // events (measured: +3 s/round on the 100k-chain probe)
      val obsDf = joined
        .observe("cc_changed", count(when(col("nlabel") < col("label"), 1)).as("changed"))
        .select(col("id"), col("nlabel").as("label"))
      // flat checkpoint, NOT Dataset.localCheckpoint: the built-in
      // carries the source plan's sizeInBytes onto the new leaf, and in
      // a loop that carried stat COMPOUNDS multiplicatively per round
      // until stats computation itself wedges in BigInteger arithmetic
      // (measured: 100k-chain probe stuck >10 min inside
      // Dataset.checkpoint's rewriteStatsAndConstraints). See
      // GraftSqlBridge.flatLocalCheckpoint.
      val ck = org.apache.spark.sql.graftbridge.GraftSqlBridge.flatLocalCheckpoint(obsDf)
      val changed = obsDf.queryExecution.observedMetrics("cc_changed")
        .getAs[Long]("changed")
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(f"[cc] round ${i + 1} ${(System.nanoTime() - t0) / 1e9}%.2f s changed $changed")
      p1.unpersist(blocking = false)
      s1.unpersist(blocking = false)
      if (prevCk != null) release(prevCk)
      prevCk = ck
      labels = ck
      converged = changed == 0
      // 5. EDGE CONTRACTION — the step that makes total closure work
      // ~O(E) instead of O(E x rounds): map both endpoints to their new
      // labels, drop edges now internal to one tree, and collapse the
      // multi-edges that contraction creates (the distinct IS the
      // shrink: a bucket of member edges becomes one supernode edge).
      // A chain shrinks ~4x per round under the double shortcut; a
      // dup-star family collapses after round 1 — so the per-round nm
      // join runs over a geometrically shrinking frame while the label
      // frame (which must keep every node's final label) stays n rows.
      // Connectivity is preserved: a relabeled edge joins the same two
      // trees its member edge joined, and an edge dropped as internal
      // can never contribute a future hook (labels within a tree only
      // merge further). Once the contracted set is EMPTY the remaining
      // rounds are pure shortcut flattening with an empty nm — cheap.
      sinceContract += 1
      if (!converged && !edgesEmpty && sinceContract >= contractEvery) {
        val neObs = curEdges
          .join(ck.select(col("id").as("src"), col("label").as("__ls"))
            .hint("shuffle_hash"), "src")
          .join(ck.select(col("id").as("dst"), col("label").as("__ld"))
            .hint("shuffle_hash"), "dst")
          .filter(col("__ls") =!= col("__ld"))
          .select(col("__ls").as("src"), col("__ld").as("dst"))
          .distinct()
          .observe("cc_edges", count(lit(1)).as("n"))
        val ne = org.apache.spark.sql.graftbridge.GraftSqlBridge.flatLocalCheckpoint(neObs)
        val nEdges = neObs.queryExecution.observedMetrics("cc_edges")
          .getAs[Long]("n")
        if (sys.env.contains("GRAFT_CC_DEBUG"))
          System.err.println(s"[cc]   contracted edges $nEdges")
        if (prevEdgeCk != null) release(prevEdgeCk)
        else edges.unpersist(blocking = false) // first contraction supersedes the input frame
        prevEdgeCk = ne
        curEdges = ne
        contractEvery =
          if (nEdges.toDouble > 0.8 * lastEdgeCount) 2 else 1
        lastEdgeCount = nEdges
        sinceContract = 0
        // an EMPTY contracted set does NOT mean converged: it witnesses
        // the SUPERNODE graph, and member labels can still be stale
        // (pointing at a tree name whose own label moved on) — the
        // OperatorsSpec 300-hop chain catches exactly that. It does mean
        // no hook can ever fire again, so the remaining rounds are pure
        // double-shortcut flattening over empty nm joins (cheap), and
        // there is nothing left to contract.
        edgesEmpty = nEdges == 0
      }
      i += 1
    }
    lastRounds.set(i)
    // a silently non-converged result is WRONG (labels are not yet
    // component minima) — fail loudly rather than keep extra survivors
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds (tree " +
        s"hook + double shortcut bounds reachable chains at ~4^$maxIter " +
        s"hops); raise maxIter")
    edges.unpersist(blocking = false)
    if (prevEdgeCk != null) release(prevEdgeCk)
    release(p0) // checkpointed input: the pinned RDD is behind a LogicalRDD leaf
    // labels is already an eagerly-materialized checkpoint (or, for an
    // empty edge set, the trivial initial frame)
    labels.select(col("id").as(idCol), col("label").as("component"))
  }

  /** Cluster-aware survivors: one doc (min id) per similarity component,
    * with `pairs` the verified similar pairs from any dedup family.
    */
  def clusteredSurvivors(docs: DataFrame, pairs: DataFrame,
                         idCol: String): DataFrame =
    connectedComponents(docs.select(col(idCol)), pairs, idCol)
      .filter(col(idCol) === col("component"))
      .select(idCol)

  /** Canonical-document selection: keep the BEST-scoring doc (ties to the
    * smallest id) per similarity component instead of the min id — the
    * curation policy when duplicates differ in quality (keep the clean
    * copy, drop the boilerplate-wrapped ones).
    *
    * Scale shape: components and the argmax window run on the DUPLICATE
    * SUBGRAPH only (docs that appear in a pair); the untouched complement
    * — the overwhelming bulk of a 100 TB corpus — passes through as an
    * anti-join in the scan stage and never enters the window shuffle.
    *
    * Density boundary (measured, NOTES.md): any exact-verified pair
    * family is Ω(|truly-similar pairs|) — no prefix filter can prune a
    * pair that IS similar. k-dense duplicate clusters emit ~k²/2 pairs
    * each; at adversarial densities (most of the corpus near-identical),
    * collapse with banded MinHash (d03) or SimHash buckets (d05) FIRST
    * and run the exact transitive pass on the survivors.
    */
  def clusteredSurvivorsBy(docs: DataFrame, pairs: DataFrame,
                           idCol: String, score: Column): DataFrame = {
    // one materialized subgraph-label table feeds BOTH the argmax window
    // and the complement anti-join — the pair computation runs once (it
    // used to re-run for every downstream reference of `pairs`)
    val sub = componentLabels(pairs, idCol)
    val w = Window.partitionBy("component")
      .orderBy(col("__score").desc, col(idCol).asc)
    val dupSurvivors = docs.select(col(idCol), score.as("__score"))
      .join(sub, Seq(idCol)) // inner: paired docs only
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(idCol)
    docs.select(col(idCol)).join(sub.select(idCol), Seq(idCol), "left_anti")
      .union(dupSurvivors)
  }

  /** Leakage-safe train/val/test split: assign every doc a split decided
    * by the deterministic hash of its similarity COMPONENT (min id), not
    * its own id — so near-duplicates can never straddle train and a
    * held-out split (the eval-contamination channel a per-doc hash split
    * leaves wide open: a doc and its near-copy hash independently, and at
    * realistic dup rates thousands of pairs land on opposite sides of the
    * boundary). `pairs` is the verified similar-pair table from any dedup
    * family (d03-d06); split fractions follow [[Sampling.splitHash]]'s
    * exact integer thresholds, so the assignment is reproducible across
    * engines, runs, and retries.
    *
    * Scale shape: the component loop runs on the duplicate subgraph only
    * ([[componentLabels]]); the corpus-sized work is one left join against
    * that subgraph-sized table (broadcast at realistic dup rates) plus a
    * pure hash filter — no corpus shuffle beyond the pair family itself.
    */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame, idCol: String,
                       trainFrac: Double, valFrac: Double): DataFrame = {
    val comp = connectedComponents(docs.select(col(idCol)), pairs, idCol)
    val h = Sampling.splitHash(col("component"))
    comp.withColumn("split",
      when(h < lit(Sampling.fractionThreshold(trainFrac)), lit("train"))
        .when(h < lit(Sampling.fractionThreshold(trainFrac + valFrac)),
          lit("val"))
        .otherwise(lit("test")))
  }

  /** Release the pinned localCheckpoint behind a [[componentLabels]] (or
    * any checkpointed) result once the caller has fully consumed it —
    * long-lived drivers (schedulers, probes, bench loops) otherwise
    * accumulate one pinned RDD per invocation. `catalog.clearCache()`
    * does NOT release RDD-level persists, so this walks the plan's
    * LogicalRDD leaves and unpersists their RDDs directly.
    */
  def release(labels: DataFrame): Unit =
    labels.queryExecution.analyzed.collectLeaves().foreach {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** Adversarial-density dedup composition (the scale path prescribed by
    * [[clusteredSurvivorsBy]]'s density note, now an operator): ANY exact
    * pair family is Ω(|truly-similar pairs|) — a k-dense near-identical
    * cluster emits ~k²/2 verified pairs, so at boilerplate-heavy web
    * densities (most of the corpus near-identical) the exact transitive
    * pass hits a quadratic wall no prefix filter can prune. This operator
    * first COLLAPSES dense clusters with banded MinHash using verified
    * STAR edges — per (band, bucket) each member pairs with the bucket's
    * min-id representative only, O(bucket) edges instead of O(bucket²) —
    * then runs the exact prefix-filtered transitive pass on the collapsed
    * survivors, where density is bounded by construction.
    *
    * Stage 1 (pre-collapse at `preThreshold`, near-identical copies):
    * banded MinHash buckets -> star edges -> exact-Jaccard verify of each
    * edge -> connected components -> keep min id per component. Verified
    * edges mean NO false merges, ever. Star edges cover a bucket iff its
    * representative is `preThreshold`-similar to each member — exact for
    * clique-shaped clusters (replica/boilerplate families, the adversarial
    * case); a chain A~B~C whose bucket rep A is not similar to C relies
    * on another band bucketing B,C without A (probability ~1 at d03's
    * banding). Capture of a true pair in >=1 of the 16 bands is
    * 1-(1-t^4)^16 ~ 1-4e-8 at t=0.9.
    *
    * Stage 2 (exact transitive at `threshold` on stage-1 survivors):
    * [[ngramJaccardPairs]] + [[clusteredSurvivorsBy]] — best-`score` doc
    * per component, complement via scan-stage anti-join.
    *
    * Semantics note: stage 1 keeps the MIN-ID copy of each near-identical
    * family, so a higher-`score` copy inside a >= preThreshold family
    * yields to the min id; at preThreshold ~0.9 the copies differ by a
    * few tokens and the score difference is noise by construction. The
    * quality argmax applies at the interesting grain — across the
    * moderately-similar (threshold..preThreshold) components of stage 2.
    *
    * Shuffle profile: signature explode on (band, bucket); rep groupBy
    * (partial-agg, AQE-splittable join back — NOT a window: hot buckets
    * are the skewed key here); the star-edge verify joins move 8-byte
    * shingle hashes; both CC loops shuffle only their dup subgraphs.
    */
  def bandedSurvivorsBy(docs: DataFrame, idCol: String, textCol: String,
                        score: Column, shingleSize: Int = 3,
                        preThreshold: Double = 0.9, numHashes: Int = 64,
                        bands: Int = 16, threshold: Double = 0.8): DataFrame = {
    val collapsed = bandedPreCollapse(
      docs, idCol, textCol, shingleSize, preThreshold, numHashes, bands)
    clusteredSurvivorsBy(collapsed,
      ngramJaccardPairs(collapsed, idCol, textCol, shingleSize, threshold),
      idCol, score)
  }

  /** Stage 1 of [[bandedSurvivorsBy]]: collapse near-identical clusters
    * (exact Jaccard >= `preThreshold`) to their min-id doc via verified
    * banded-MinHash star edges + connected components. Returns the
    * surviving rows of `docs` (all columns). Linear in corpus size for
    * any cluster density — no pairwise expansion anywhere.
    */
  def bandedPreCollapse(docs: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, preThreshold: Double = 0.9,
                        numHashes: Int = 64, bands: Int = 16,
                        sizePrefilter: Boolean = true): DataFrame = {
    val verified = bandedVerifiedEdges(docs, idCol, textCol, shingleSize,
      preThreshold, numHashes, bands, sizePrefilter)
    if (sys.env.contains("GRAFT_BANDING_DEBUG"))
      System.err.println("[banding] coverage gap vs exact closure: " +
        bandingCoverageGap(docs, idCol, textCol, shingleSize, preThreshold,
          numHashes, bands))
    // non-survivors = paired docs that are not their component's min id;
    // the complement never enters the CC loop (subgraph-sized labels).
    // A rep-graph contraction was tried here and REJECTED by measurement
    // (NOTES.md round 5): at exactly the density this operator targets,
    // minhash buckets fragment per band, so the representative set is
    // corpus-scale — and projecting member edges onto rep-rep edges
    // multiplies the edge list by member degree (~bands). The plain
    // subgraph loop converges in 2-3 rounds and was 2-5x faster.
    val sub = componentLabels(verified, idCol)
    release(verified) // checkpointed edge list, consumed by the loop
    val dropped = sub.filter(col(idCol) =!= col("component")).select(idCol)
    docs.join(dropped, Seq(idCol), "left_anti")
  }

  /** The star-verified banded-MinHash edge set behind
    * [[bandedPreCollapse]]: per (band, bucket) each member pairs with
    * the bucket's min-id representative (O(bucket) edges), each edge
    * verified by exact Jaccard >= `preThreshold`. Returned MATERIALIZED
    * (localCheckpoint) with all intermediate caches released — call
    * [[release]] when done.
    */
  def bandedVerifiedEdges(docs: DataFrame, idCol: String, textCol: String,
                          shingleSize: Int = 3, preThreshold: Double = 0.9,
                          numHashes: Int = 64, bands: Int = 16,
                          sizePrefilter: Boolean = true): DataFrame = {
    val rows = numHashes / bands
    val shingled = docs.select(col(idCol),
      hashedShingles(col(textCol), shingleSize).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK) // banding + both verify joins
    // the banding rows carry the shingle COUNT (+8 bytes/row through the
    // explode shuffle) so size-incompatible star edges — which J >=
    // preThreshold already excludes — can be pruned BEFORE the distinct
    // and the array-shipping verify joins (`sizePrefilter`)
    val banded = shingled
      .select(col(idCol), size(col("sh")).as("__sz"),
        minhashSignatureHashed(col("sh"), numHashes).as("sig"))
      .select(col(idCol), col("__sz"), posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(b, slice(col("sig"), b * rows + 1, lit(rows))))))
      .toDF(idCol, "__sz", "band", "bucket")
      // referenced by the rep aggregate AND the star join: without the
      // pin the whole minhash-signature computation runs twice (the
      // lshCandidates precedent)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // bucket representative via groupBy + join back (NOT a window: the
    // hot-bucket skew must stay AQE-splittable; singleton buckets die in
    // the inner-join filter below). No maxBucket cap — star edges are
    // linear in bucket size, so degenerate buckets cost O(k), not O(k²).
    // min(struct) keeps the rep's size alongside its id in one pass.
    val reps = banded.groupBy("band", "bucket")
      .agg(min(struct(col(idCol), col("__sz"))).as("__rep"),
        count(lit(1)).as("__bn"))
      .filter(col("__bn") >= 2)
      .select(col("band"), col("bucket"),
        col("__rep")(idCol).as("id_a"), col("__rep")("__sz").as("sz_a"))
    val star = banded.join(reps, Seq("band", "bucket"))
      .filter(col(idCol) =!= col("id_a"))
      .filter(if (sizePrefilter)
          col("__sz") >= ceil(lit(preThreshold) * col("sz_a")) &&
          col("sz_a") >= ceil(lit(preThreshold) * col("__sz"))
        else lit(true))
      .select(col("id_a"), col(idCol).as("id_b"))
      .distinct() // cross-band repeats collapse BEFORE the array joins
    val verified = star
      .join(shingled.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(shingled.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(size(col("sh_a")) >= ceil(lit(preThreshold) * size(col("sh_b"))) &&
        size(col("sh_b")) >= ceil(lit(preThreshold) * size(col("sh_a"))))
      .filter(jaccardHashed(col("sh_a"), col("sh_b")) >= preThreshold)
      .select("id_a", "id_b")
    // materialize the subgraph-sized edge list, then drop the
    // corpus-sized signature/shingle caches immediately — they must not
    // stay pinned for the caller's lifetime
    val out = verified.localCheckpoint(eager = true)
    banded.unpersist(blocking = false)
    shingled.unpersist(blocking = false)
    out
  }

  /** Banding-coverage diagnostic for [[bandedPreCollapse]] /
    * [[bandedSurvivorsBy]]: number of docs whose similarity COMPONENT
    * under the banded star-verified edge set differs from the component
    * under the exact prefix-filtered pair set at the same threshold.
    * 0 means the banding captured the full closure; a nonzero count
    * points a data-dependent banding miss at bands/numHashes directly,
    * instead of letting a new scale factor fail a downstream hash gate
    * mutely.
    *
    * DIAGNOSTIC, not a production pass: the exact side is Ω(|true
    * pairs|) — the very cost banding exists to avoid — so run it on a
    * SAMPLE at a new scale factor / corpus family, never in the hot
    * path. (Set GRAFT_BANDING_DEBUG to have [[bandedPreCollapse]] print
    * it inline.)
    */
  def bandingCoverageGap(docs: DataFrame, idCol: String, textCol: String,
                         shingleSize: Int = 3, preThreshold: Double = 0.9,
                         numHashes: Int = 64, bands: Int = 16): Long = {
    // componentLabels materializes its input eagerly, so each edge list
    // can release as soon as the labels exist — without this, every
    // diagnostic call (e.g. via GRAFT_BANDING_DEBUG) pinned one
    // checkpointed RDD per side for the session lifetime
    val bandedEdges = bandedVerifiedEdges(docs, idCol, textCol, shingleSize,
      preThreshold, numHashes, bands)
    val banded = componentLabels(bandedEdges, idCol)
      .withColumnRenamed("component", "__cb")
    release(bandedEdges)
    val exactPairs = ngramJaccardPairs(docs, idCol, textCol, shingleSize,
      preThreshold)
    val exact = componentLabels(exactPairs, idCol)
      .withColumnRenamed("component", "__ce")
    release(exactPairs)
    // full outer: a doc paired under one edge set but isolated under the
    // other is a coverage difference too (nulls never equal a label)
    val gap = banded.join(exact, Seq(idCol), "full_outer")
      .filter(not(col("__cb") <=> col("__ce"))).count()
    release(banded); release(exact)
    gap
  }

  /** EXACT n-gram Jaccard dedup with prefix filtering (the classic
    * similarity-join pruning of Chaudhuri/Ganti/Kaushik and PPJoin):
    * under a single global shingle order, two sets with J >= t MUST share
    * at least one shingle among each one's first |d| - ceil(t*|d|) + 1
    * shingles. So only those prefixes are exploded and self-joined —
    * with rare-shingles-first ordering this prunes the candidate space by
    * orders of magnitude — and survivors are identical to the brute
    * all-pairs join (candidates are verified with the FULL exact Jaccard).
    *
    * Shuffle profile: one aggregate for shingle document-frequency, one
    * window per doc for prefix selection, the prefix self-join, the
    * verify joins. Everything partitions on shingle/doc-id keys.
    */
  def ngramJaccardDedup(docs: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, threshold: Double = 0.8): DataFrame = {
    val verified = ngramJaccardPairs(docs, idCol, textCol, shingleSize, threshold)
    docs.select(col(idCol))
      .join(verified.select(col("id_b").as(idCol)).distinct(), Seq(idCol), "left_anti")
  }

  /** The VERIFIED similar pairs (id_a < id_b, exact Jaccard >= threshold)
    * behind [[ngramJaccardDedup]] — also the edge list for
    * [[connectedComponents]]/[[clusteredSurvivors]].
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, threshold: Double = 0.8): DataFrame = {
    // hashed-shingle layout: every downstream shuffle (prefix explode,
    // prefix join, verify joins) moves 8-byte longs, not shingle text
    val shingled = docs.select(col(idCol),
      hashedShingles(col(textCol), shingleSize).as("sh"))
      .persist(StorageLevel.MEMORY_AND_DISK) // prefix build + verify joins
    val exploded = shingled.select(col(idCol), size(col("sh")).as("n"),
      explode(col("sh")).as("g"))
    // global canonical order: rare shingles first (fewest candidates).
    // Shingle document-frequency via groupBy + join back — shingles are
    // stop-word-skewed and a count().over(partitionBy(g)) window would
    // be an unsplittable hot partition at scale (the t08 lesson); the
    // partial agg collapses hot shingles map-side and the join's skew is
    // AQE-splittable. The per-doc rank window is fine: its partitions
    // are document-sized.
    val wdoc = Window.partitionBy(idCol).orderBy(col("__df").asc, col("g").asc)
    val dfreq = exploded.groupBy("g").agg(count(lit(1)).as("__df"))
    val prefixes = exploded.join(dfreq, Seq("g"))
      .withColumn("__rk", row_number().over(wdoc))
      // prefix length = n - ceil(t*n) + 1
      .filter(col("__rk") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select(col(idCol), col("g"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cands = prefixes.as("a").join(prefixes.as("b"),
        col("a.g") === col("b.g") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    cands
      .join(shingled.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(shingled.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(size(col("sh_a")) >= ceil(lit(threshold) * size(col("sh_b"))) &&
        size(col("sh_b")) >= ceil(lit(threshold) * size(col("sh_a"))))
      .filter(jaccardHashed(col("sh_a"), col("sh_b")) >= threshold)
      .select("id_a", "id_b")
  }
}
