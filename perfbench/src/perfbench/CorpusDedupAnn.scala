package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, Dedup, Similarity}

/** Deterministic inputs of `corpus_dedup_ann`.
  *
  * Docs: `Bases` documents of `DocTokens` random words from a
  * `Vocab`-word vocabulary; each base has 0, 1 or 2 planted near-duplicates
  * (one word replaced; word 3-shingle Jaccard about 0.88) with larger ids,
  * so minhash dedup at threshold 0.8 keeps exactly the bases.
  *
  * Vectors: `Vectors` embeddings of dimension `Dim`, each a random one of
  * `Clusters` random centres plus Gaussian noise. */
final class CorpusGen(seed: Long) {
  import CorpusGen._

  /** (id, text) rows and the planted survivor count. */
  lazy val docs: (Seq[(Long, String)], Long) = {
    val rng = new SplittableRandom(seed * 1000003L + 1)
    def word(): String = "w" + rng.nextInt(Vocab)
    val out = Seq.newBuilder[(Long, String)]
    var id = 0L
    (0 until Bases).foreach { _ =>
      val words = Array.fill(DocTokens)(word())
      out += ((id, words.mkString(" ")))
      id += 1
      val dups = { val u = rng.nextDouble(); if (u < 0.6) 0 else if (u < 0.85) 1 else 2 }
      (0 until dups).foreach { _ =>
        val w = words.clone()
        w(1 + rng.nextInt(DocTokens - 2)) = word()
        out += ((id, w.mkString(" ")))
        id += 1
      }
    }
    (out.result(), Bases.toLong)
  }

  lazy val vectors: Seq[(Long, Array[Float])] = {
    val rng = new SplittableRandom(seed * 1000003L + 2)
    val centres = Array.fill(Clusters, Dim)(rng.nextDouble() * 2 - 1)
    def gauss(): Double = { // Box-Muller
      val u = 1.0 - rng.nextDouble(); val v = rng.nextDouble()
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
    }
    (0 until Vectors).map { i =>
      val c = centres(rng.nextInt(Clusters))
      (i.toLong, Array.tabulate(Dim)(d => (c(d) + Noise * gauss()).toFloat))
    }
  }

  /** Query batches: `QueryBatch` corpus ids per batch, from batch `b`. */
  def queryIds(b: Int): Seq[Long] = {
    val rng = new SplittableRandom(seed * 7777L + b)
    Iterator.continually(rng.nextLong(Vectors.toLong)).distinct.take(QueryBatch).toSeq
  }

  def inputHash: Long =
    (docs._1, vectors.map { case (i, v) => (i, v.toSeq) }, queryIds(0)).hashCode.toLong
}

object CorpusGen {
  val Bases = 3000
  val DocTokens = 50
  val Vocab = 20000
  val Vectors = 8000
  val Dim = 32
  val Clusters = 32
  val Noise = 0.5
  val QueryBatch = 8
}

/** `corpus_dedup_ann`: a closed, compute-bound loop. Each cycle runs one
  * `Dedup.minhashDedup` pass over the docs, then batched `AnnIndex.topK`
  * queries: IVF-pruned ones (`nprobe = NProbe`) and one exhaustive scan
  * (`nprobe = 0`). Set-up builds the index. */
object CorpusDedupAnn {
  import CorpusGen._

  val SetupReps = 3
  val WarmPasses = 1
  val TrainIters = 4
  val TrainSample = 2048
  val K = 10
  val NProbe = 4
  val TopkPerCycle = 1
  val RecallQueries = 16
  val RecallFloor = 0.9

  /** Timed passes for a measuring time: a fixed count, so the work does
    * not depend on the host's speed. One per 2.5 s asked for; a warm pass
    * takes 4-5 s on 4 vCPUs, so the timed loop runs longer than asked. */
  def measuredPasses(seconds: Double): Int = math.max(2, math.round(seconds / 2.5).toInt)

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val rec = c.rec
    import spark.implicits._
    val gen = new CorpusGen(c.seed)
    // the inputs land on disk once; set-up is the program's part, the
    // index build, done several times
    val docsDir = c.dir("docs")
    val vecDir = c.dir("vectors")
    gen.docs._1.toDF("id", "text").write.parquet(docsDir)
    gen.vectors.toDF("vec_id", "embedding").write.parquet(vecDir)
    var index: AnnIndex = null
    var indexDir = ""
    (0 until SetupReps).foreach { r =>
      val t0 = System.nanoTime()
      indexDir = c.dir(s"index$r")
      index = AnnIndex.build(spark.read.parquet(vecDir), indexDir, nlist = Clusters, m = 8,
        trainIters = TrainIters, sampleSize = TrainSample)
      rec.sample("setup_s", (System.nanoTime() - t0) / 1e9)
    }
    rec.values("disk_mb") = DirWalk.bytes(indexDir) / 1e6
    c.phase("set-up done")
    val vecs = spark.read.parquet(vecDir)
    def queries(b: Int): DataFrame = vecs.filter(col("vec_id").isin(gen.queryIds(b): _*))

    def dedupPass(): Unit = {
      rec.attempted += 1
      val survivors = rec.op("dedup") {
        rec.span("dedup.minhash")(
          Dedup.minhashDedup(spark.read.parquet(docsDir), "id", "text").count())
      }
      rec.sample("rate", gen.docs._1.size / (rec.samples("dedup").last / 1000))
      // minhashDedup persists its intermediates; drop them between passes
      spark.catalog.clearCache()
      rec.values("dedup.survivors") = survivors.toDouble
      if (!rec.check("dedup pass survivors", survivors == gen.docs._2,
          s"got $survivors want ${gen.docs._2}")) rec.failed += 1
    }

    var batch = 0
    val n = measuredPasses(c.seconds)
    val passes = c.closedLoop(Seq("dedup", "topk", "topk_full", "rate"), WarmPasses, n, n) { i =>
      // dedup levels off a pass later than top-k: the warm-up runs it twice
      if (i < 0) dedupPass()
      dedupPass()

      (0 to TopkPerCycle).foreach { j =>
        val full = j == TopkPerCycle
        val q = queries(batch)
        batch += 1
        rec.attempted += 1
        val rows = rec.op(if (full) "topk_full" else "topk") {
          rec.span("ann.topk")(index.topK(q, K, nprobe = if (full) 0 else NProbe).collect())
        }
        if (rows.length != QueryBatch * K) {
          rec.failed += 1
          rec.check(s"topk batch $batch", ok = false, s"${rows.length} rows")
        }
      }
    }
    c.phase(s"measured $passes passes, $batch top-k batches")

    // recall of the pruned top-k against brute force, outside the timed loop
    val qs = vecs.filter(col("vec_id") < RecallQueries)
    val got = index.topK(qs, K, nprobe = NProbe).select("query_id", "neighbor_id")
    val want = Similarity.bruteForceTopK(vecs, qs, K).select("query_id", "neighbor_id")
    val recall = got.join(want, Seq("query_id", "neighbor_id")).count().toDouble /
      (RecallQueries * K)
    c.phase("recall checked")
    rec.values("ann.recall_at_k") = recall
    rec.values("ann.topk_ms") = {
      val xs = rec.samples("topk").sorted
      xs(xs.size / 2)
    }
    rec.check(s"ann recall@$K >= $RecallFloor", recall >= RecallFloor, s"recall $recall")
    rec.values("ann.build_ms") = rec.samples("setup_s").sorted.apply(SetupReps / 2) * 1000
  }
}
