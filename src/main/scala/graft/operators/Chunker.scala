package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens

/** Document chunking: split each document into fixed-size token windows
  * with a stride (overlap = chunkSize - stride) — the precursor of
  * context-window construction: chunks are what gets embedded, packed,
  * and trained on, not whole documents.
  *
  * Scale design: a pure per-row flatMap — tokenize, generate chunk
  * starts, slice — all as codegen'd column expressions (split/sequence/
  * slice/explode); ZERO shuffle, so chunking 100 TB happens in the scan
  * stage and composes with the pure-filter sampling ops. Row expansion
  * is bounded by ceil(n_tokens / stride) per document.
  */
object Chunker {

  /** One row per (doc, chunk): `(idCol, chunk_start, n_chunk_tokens,
    * chunk_text)`. Chunk starts are 0, stride, 2*stride, … while start
    * < n_tokens; the last chunk may be short (holds the tail). Token
    * split is the corpus-wide whitespace tokenizer ([[tokens]]), so
    * chunk boundaries agree with every token-count operator.
    */
  def chunkByTokens(
      df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1 && stride >= 1, "chunkSize and stride must be >= 1")
    df.select(col(idCol), tokens(col(textCol)).as("__tk"))
      .select(col(idCol), col("__tk"),
        explode(sequence(lit(0), size(col("__tk")) - 1, lit(stride)))
          .as("chunk_start"))
      .select(col(idCol), col("chunk_start").cast("long").as("chunk_start"),
        slice(col("__tk"), col("chunk_start") + lit(1), lit(chunkSize)).as("__c"))
      .select(col(idCol), col("chunk_start"),
        size(col("__c")).cast("long").as("n_chunk_tokens"),
        array_join(col("__c"), " ").as("chunk_text"))
  }

  /** Cross-document repeated-SPAN removal (the removal form of exact
    * substring dedup, Lee et al. 2022): docs are tiled into
    * non-overlapping `tileTokens`-token spans ([[chunkByTokens]] at
    * stride = size); a tile appearing in more than one document survives
    * only in the min-`idCol` owner; each document is reconstructed from
    * its surviving tiles in order. Returns `(idCol, clean_text,
    * n_tiles_kept, n_tiles)` — a fully-deduplicated doc keeps
    * clean_text = "".
    *
    * Shuffle shape: ownership agg on the 8-byte tile hash (partial agg
    * collapses hot boilerplate tiles map-side), join back on the hash
    * (tile-side skew is AQE-splittable — the t08 rationale; see
    * NOTES.md round 6 for the measured skew-split evidence), one reconstruct
    * agg on doc id. Tile TEXT never enters the ownership shuffle.
    */
  def removeRepeatedSpans(
      df: DataFrame, idCol: String, textCol: String,
      tileTokens: Int = 8): DataFrame = {
    val tiles = chunkByTokens(df, idCol, textCol, tileTokens, tileTokens)
      .withColumn("__h", xxhash64(col("chunk_text")))
    val own = tiles.groupBy("__h")
      .agg(min(idCol).as("owner"), countDistinct(idCol).as("nd"))
    val kept = tiles.join(own, Seq("__h"))
      .filter(col("nd") === 1 || col(idCol) === col("owner"))
    val recon = kept.groupBy(idCol).agg(
      array_join(array_sort(collect_list(
        struct(col("chunk_start"), col("chunk_text"))))
        .getField("chunk_text"), " ").as("clean_text"),
      count(lit(1)).as("n_tiles_kept"))
    tiles.groupBy(idCol).agg(count(lit(1)).as("n_tiles"))
      .join(recon, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_tiles_kept"), lit(0L)).as("n_tiles_kept"),
        col("n_tiles"))
  }
}
