package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.{kernels, NearestCentroids, PqAdcCos, PqEncode, PqLut}
import graft.functions.VectorFunctions._

/** Persisted ANN index artifact — the production posture the per-call
  * training in [[Similarity]] lacks: at 100 TB you train the coarse
  * quantizer and PQ codebooks ONCE per corpus generation, encode the
  * corpus once, and every query batch (and every daily ingest) reuses
  * the artifact instead of re-reading and re-training.
  *
  * Layout under `path` — GENERATIONAL (all parquet, self-contained):
  *  - `_CURRENT`    one-line text file naming the live generation id.
  *                  Swapped via tmp-write + atomic replace
  *                  ([[Layout.swapCurrent]], the same pointer as
  *                  generational tables), so a reader never observes a
  *                  half-written artifact or a missing pointer: it
  *                  reads either the old generation or the new one.
  *  - `gen-N/`      one immutable-once-swapped artifact generation:
  *    - `meta/`       one row: format version, dim, nlist, m, codebook
  *                    size, id/vec column names — [[load]] refuses a
  *                    version it doesn't understand instead of
  *                    misreading the layout.
  *    - `centroids/`  (cid, vec): the IVF coarse quantizer.
  *    - `codebooks/`  (subspace, code, vec): the PQ quantizer.
  *    - `vectors/`    (id, code, rnorm, vec), PARTITIONED BY cid — the
  *                    encoded corpus. Partitioning by list id is the
  *                    scale design: an nprobe query batch touches only
  *                    its probed lists' directories, so the scan is
  *                    partition-pruned at the source instead of
  *                    filtered after a full read.
  *
  * Generations are the maintenance posture the daily-ingest path needs:
  * [[load]] PINS the generation named by `_CURRENT` at load time, so a
  * running query batch keeps reading its snapshot while [[build]] or
  * [[compact]] writes the next generation and swaps the pointer —
  * readers and maintenance never race on files. Superseded generations
  * are deleted explicitly by [[cleanup]] (after in-flight readers
  * drain), never implicitly by a writer.
  *
  * Query tiers (one artifact serves both):
  *  - `nprobe = 0` (all lists): PQ ADC scan over every encoded row +
  *    exact rescore — equals [[Similarity.pqTopK]] retrain-in-place,
  *    and by the rescore margin equals the brute float scan (the s11
  *    gate contract).
  *  - `nprobe > 0`: IVF-pruned candidate lists first, ADC + exact
  *    rescore after — the sub-linear path; recall is data-dependent
  *    and spec-asserted, same posture as s04.
  *
  * Incremental add ([[AnnIndex.add]]): new vectors are encoded with
  * the EXISTING quantizers and appended to their lists — the d10/d14
  * daily-ingest posture applied to the s-family. Quantizer quality for
  * appended data is a curation decision (retrain per corpus
  * generation); correctness of the final top-k does not depend on it,
  * because candidates are always rescored with exact float cosine.
  */
object AnnIndex {

  /** Bumped on any layout change; [[load]] rejects unknown versions. */
  val FormatVersion = 1

  /** Train quantizers on `corpus`, encode it, and persist the artifact
    * at `path` as a NEW generation (swapped live when complete; any
    * previous generation stays on disk for in-flight readers until
    * [[cleanup]]). Returns the loaded index. Training cost is the
    * driver-side Lloyd loops of [[Similarity.kmeansCentroids]]/
    * [[Similarity.pqCodebooks]] — paid once here, never at query time.
    */
  def build(corpus: DataFrame, path: String,
            nlist: Int = 64, m: Int = 8, codebookSize: Int = 256,
            trainIters: Int = 10, sampleSize: Int = 4096,
            idCol: String = "vec_id", vecCol: String = "embedding"): AnnIndex = {
    val spark = corpus.sparkSession
    val centroids = Similarity.kmeansCentroids(corpus, nlist, trainIters,
      sampleSize, idCol, vecCol)
    val books = Similarity.pqCodebooks(corpus, m, codebookSize, trainIters,
      sampleSize, idCol, vecCol)
    val next = Layout.currentGeneration(spark, path).getOrElse(0) + 1
    val gen = genDir(path, next)
    writeQuantizers(spark, gen, centroids, books, idCol, vecCol)
    writeVectors(corpus, gen, centroids, books, idCol, vecCol,
      SaveMode.Overwrite)
    Layout.swapCurrent(spark, path, next)
    load(spark, path)
  }

  /** Append `newVectors` to an existing index: encode with the
    * PERSISTED quantizers (no retraining — the whole point) and append
    * to the CURRENT generation's partitioned corpus. Exactness of
    * subsequent top-k queries is preserved by the rescore stage
    * regardless of how well the old quantizers fit the new data.
    */
  def add(spark: SparkSession, path: String, newVectors: DataFrame): AnnIndex = {
    val idx = load(spark, path)
    writeVectors(newVectors, idx.genPath, idx.centroids, idx.codebooks,
      idx.idCol, idx.vecCol, SaveMode.Append)
    // the append lands in idx's own pinned generation and `vectors` is
    // a fresh scan per call, so the loaded instance already sees the
    // new rows — re-loading would only re-collect the (unchanged)
    // quantizers from disk
    idx
  }

  /** Rewrite the current generation's vectors as a NEW compacted
    * generation and swap it live — the maintenance pass that keeps
    * query-time scans healthy under the [[add]] ingest cadence: every
    * append drops a fresh file into each touched list directory, and
    * after N daily batches a scan opens O(N x nlist) small files. The
    * compacted layout clusters each list into one task's contiguous
    * output again (quantizers are copied verbatim from the driver-held
    * arrays — no retrain, no re-encode; the stored codes carry over).
    * Readers loaded before the swap keep their generation until
    * [[cleanup]].
    */
  def compact(spark: SparkSession, path: String): AnnIndex = {
    val idx = load(spark, path)
    val next = idx.generation + 1
    val gen = genDir(path, next)
    writeQuantizers(spark, gen, idx.centroids, idx.codebooks,
      idx.idCol, idx.vecCol)
    idx.vectors // already encoded: (id, code, rnorm, vec, cid)
      .repartition(col("cid"))
      .write.mode(SaveMode.Overwrite).partitionBy("cid")
      .parquet(s"$gen/vectors")
    Layout.swapCurrent(spark, path, next)
    load(spark, path)
  }

  /** Delete superseded generations, keeping the current one plus the
    * `keep` newest others (a drain window for readers that loaded
    * before the last swap). Returns the deleted generation ids.
    */
  def cleanup(spark: SparkSession, path: String, keep: Int = 0): Seq[Int] = {
    val cur = Layout.currentGeneration(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no ann index at $path"))
    val fs = TableFs(spark, path)
    val gens = fs.list(new Path(path)).toSeq
      .map(_.getPath.getName)
      .collect { case GenName(n) => n.toInt }
      .filter(_ != cur)
      .sorted.reverse.drop(keep)
    gens.foreach(g => fs.delete(new Path(genDir(path, g)), true))
    gens
  }

  /** Data-file count of the current generation's vector scan — the
    * observability hook [[compact]] exists to shrink (probe/spec use).
    */
  def vectorFileCount(spark: SparkSession, path: String): Long = {
    val idx = load(spark, path)
    idx.vectors.select(input_file_name()).distinct().count()
  }

  /** Read the artifact at `path`: quantizers collect to the driver
    * (nlist x dim + m x k x dim/m doubles — a few MB, the same bound
    * as training-time), the encoded corpus stays a lazy partitioned
    * scan. The generation named by `_CURRENT` is pinned for this
    * instance's lifetime; a flat pre-generational artifact (no
    * `_CURRENT`) loads as generation 0 at `path` itself.
    */
  def load(spark: SparkSession, path: String): AnnIndex = {
    val (genPath, generation) = Layout.currentGeneration(spark, path) match {
      case Some(g) => (genDir(path, g), g)
      case None    => (path, 0) // legacy flat layout
    }
    val meta = spark.read.parquet(s"$genPath/meta").head()
    val version = meta.getAs[Int]("format_version")
    require(version == FormatVersion,
      s"ann index at $path has format version $version; this build " +
      s"reads version $FormatVersion")
    val centroids = spark.read.parquet(s"$genPath/centroids")
      .orderBy("cid").collect()
      .map(_.getSeq[Double](1).toArray)
    val bookRows = spark.read.parquet(s"$genPath/codebooks")
      .orderBy("subspace", "code").collect()
    val books = bookRows.groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(_.getSeq[Double](2).toArray))
      .toArray
    new AnnIndex(spark, path, genPath, generation, centroids, books,
      meta.getAs[Int]("dim"), meta.getAs[String]("id_col"),
      meta.getAs[String]("vec_col"))
  }

  private val GenName = "gen-([0-9]+)".r
  private def genDir(path: String, gen: Int) = s"$path/gen-$gen"

  private def writeQuantizers(spark: SparkSession, genPath: String,
                              centroids: Array[Array[Double]],
                              books: Array[Array[Array[Double]]],
                              idCol: String, vecCol: String): Unit = {
    import spark.implicits._
    val dim = centroids(0).length
    Seq((FormatVersion, dim, centroids.length, books.length,
        books(0).length, idCol, vecCol))
      .toDF("format_version", "dim", "nlist", "m", "codebook_size",
        "id_col", "vec_col")
      .write.mode(SaveMode.Overwrite).parquet(s"$genPath/meta")
    centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cid", "vec")
      .write.mode(SaveMode.Overwrite).parquet(s"$genPath/centroids")
    books.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (v, c) => (j, c, v.toSeq) }
    }.toSeq.toDF("subspace", "code", "vec")
      .write.mode(SaveMode.Overwrite).parquet(s"$genPath/codebooks")
  }

  /** Encode + write the corpus partition of the artifact. The encode
    * runs once per row here (the amortization [[Similarity.pqTopK]]'s
    * per-call persist only held for one session) and the layout
    * partitions by list id for query-time pruning.
    */
  private def writeVectors(corpus: DataFrame, genPath: String,
                           centroids: Array[Array[Double]],
                           books: Array[Array[Array[Double]]],
                           idCol: String, vecCol: String,
                           mode: SaveMode): Unit = {
    val enc = kernels.toCol(PqEncode(kernels.toExpr(col(vecCol)), books))
    corpus.select(col(idCol).as("id"),
        kernels.toCol(NearestCentroids(kernels.toExpr(col(vecCol)),
          centroids, 1))(0).as("cid"),
        enc.getField("code").as("code"),
        enc.getField("rnorm").as("rnorm"),
        col(vecCol).as("vec"))
      // cluster rows by list id before the partitioned write: without
      // this every write task emits a file into every cid directory
      // (tasks x nlist tiny files); with it each list is one task's
      // contiguous output (AQE splits a skewed list across tasks)
      .repartition(col("cid"))
      .write.mode(mode).partitionBy("cid").parquet(s"$genPath/vectors")
  }
}

/** A loaded ANN index, pinned to the generation that was live at
  * [[AnnIndex.load]] time (see [[AnnIndex]] for the artifact layout).
  */
final class AnnIndex private[operators] (
    spark: SparkSession, val path: String,
    val genPath: String, val generation: Int,
    private[operators] val centroids: Array[Array[Double]],
    private[graft] val codebooks: Array[Array[Array[Double]]],
    val dim: Int, val idCol: String, val vecCol: String) {

  def nlist: Int = centroids.length

  /** The encoded corpus (id, code, rnorm, vec, cid) of THIS PINNED
    * generation — a fresh partitioned scan each call, so same-generation
    * appends between calls are seen; a [[AnnIndex.compact]]/
    * [[AnnIndex.build]] swap is not (re-[[AnnIndex.load]] for that).
    */
  def vectors: DataFrame = spark.read.parquet(s"$genPath/vectors")

  /** Top-k neighbors of every query against the PERSISTED corpus.
    *
    * `nprobe = 0` scans every list (ADC over all codes + exact rescore
    * — equals the retrain-in-place [[Similarity.pqTopK]] and, by
    * margin, the brute scan). `nprobe > 0` restricts each query to its
    * nprobe nearest lists first; the probed list ids are collected
    * (bounded by nlist integers) into a partition-pruning filter so
    * the parquet scan reads ONLY those directories — the sub-linear
    * path a 100 TB corpus needs.
    */
  def topK(queries: DataFrame, k: Int, nprobe: Int = 0,
           rescoreFactor: Int = 8, excludeSelf: Boolean = true): DataFrame = {
    val kEff = codebooks(0).length
    val luts = queries.select(col(idCol).as("query_id"),
      kernels.toCol(PqLut(kernels.toExpr(col(vecCol)), codebooks)).as("__lut"),
      norm(col(vecCol)).as("__qn"))
    val enc = vectors
    val adc = (pq: Column, lut: Column, qn: Column) =>
      kernels.toCol(PqAdcCos(kernels.toExpr(lut), kernels.toExpr(qn),
        kernels.toExpr(pq), kEff))
    // phase 1 stays NARROW (query_id, neighbor_id, qcos): the candidate
    // window never shuffles a vector — the s07/s08 shape
    val scored =
      if (nprobe <= 0 || nprobe >= nlist) {
        enc.crossJoin(broadcast(luts))
          .select(col("query_id"), col("id").as("neighbor_id"),
            adc(struct(col("code"), col("rnorm")), col("__lut"), col("__qn"))
              .as("qcos"))
      } else {
        val probes = queries.select(col(idCol).as("query_id"),
          explode(kernels.toCol(NearestCentroids(
            kernels.toExpr(col(vecCol)), centroids, nprobe))).as("cid"))
        // the probed list ids, collected: |distinct| <= nlist ints, and
        // the isin literal is what lets the source prune partitions
        val probedCids = probes.select("cid").distinct()
          .collect().map(_.getInt(0)).sorted
        val q = luts.join(probes, Seq("query_id"))
        enc.filter(col("cid").isin(probedCids.map(Integer.valueOf): _*))
          .join(broadcast(q), Seq("cid"))
          .select(col("query_id"), col("id").as("neighbor_id"),
            adc(struct(col("code"), col("rnorm")), col("__lut"), col("__qn"))
              .as("qcos"))
          // a (query, neighbor) pair can meet in several probed lists
          .groupBy("query_id", "neighbor_id").agg(first("qcos").as("qcos"))
      }
    val wq = Window.partitionBy("query_id")
      .orderBy(col("qcos").desc, col("neighbor_id").asc)
    val cands = scored
      .filter(if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("__qr", row_number().over(wq))
      .filter(col("__qr") <= k * rescoreFactor)
      .select("query_id", "neighbor_id")
    // exact rescore from the STORED float vectors — a candidate-driven
    // second read of the artifact, no external corpus needed
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cands
      .join(vectors.select(col("id").as("neighbor_id"), col("vec")),
        "neighbor_id")
      .join(broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__qv"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("__qv"), col("vec")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }
}
