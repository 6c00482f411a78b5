package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Tests of the benchmark's own JVM side, run by `run.py --selftest`:
  * generators are a function of the seed, and each checker catches a
  * planted error. */
object SelfTest {

  def run(spark: SparkSession, rec: Recorder, work: Path): Unit = {
    import spark.implicits._

    // the same seed gives the same inputs; another seed gives others
    def seeds(name: String, h: Long => Long): Unit = {
      val a = h(11L); val b = h(11L); val c = h(12L)
      rec.check(s"$name: same seed, same input hash", a == b, s"$a vs $b")
      rec.check(s"$name: other seed, other input hash", a != c, s"$a vs $c")
    }
    seeds("lake_cdc", s => new LakeGen(s).inputHash(spark, 3))
    seeds("stream_upsert", s => new StreamGen(s).inputHash(30))
    seeds("corpus_dedup_ann", s => new CorpusGen(s).inputHash)

    // a checker verdict on its own recorder, so a flagged plant is a pass
    def verdict(f: Recorder => Boolean): Boolean = f(new Recorder(false))

    // lake: the table misses one change row
    val changes = Seq((1L, 10.0, 1L, false), (2L, 20.0, 1L, false), (1L, 11.0, 2L, false),
      (2L, 0.0, 2L, true), (3L, 30.0, 2L, false)).toDF("key", "amount", "ver", "del")
    val cols = Seq("key", "amount", "ver")
    val want = Checks.latestWins(changes, Seq("key"), "ver", Some("del"))
    rec.check("latest-wins keeps key 1 at v2, drops deleted key 2",
      want.orderBy("key").as[(Long, Double, Long)].collect().toSeq ==
        Seq((1L, 11.0, 2L), (3L, 30.0, 2L)))
    rec.check("lake checker passes the true table",
      verdict(Checks.sameRows(_, "t", want, want, cols)))
    val dropped = Checks.latestWins(changes.filter(!(col("key") === 1L && col("ver") === 2L)),
      Seq("key"), "ver", Some("del"))
    rec.check("lake checker flags one change row dropped",
      !verdict(Checks.sameRows(_, "t", dropped, want, cols)))

    // stream: the sink holds one extra duplicate
    rec.check("stream checker flags one extra duplicate",
      !verdict(Checks.sameRows(_, "t", want.unionByName(want.limit(1)), want, cols)))

    // corpus: the planted survivor count holds, and an extra doc breaks it
    val g = new CorpusGen(5L)
    val docs = g.docs._1.take(60).toDF("id", "text")
    val planted = g.docs._1.take(60).map(_._1).toSet.size -
      g.docs._1.take(60).count(d => g.docs._1.take(60).exists(b =>
        b._1 < d._1 && jaccard(b._2, d._2) >= 0.8))
    val survivors = Dedup.minhashDedup(docs, "id", "text").count()
    rec.check("corpus: dedup keeps exactly the planted bases", survivors == planted,
      s"$survivors vs $planted")
    val extra = docs.unionByName(Seq((999999L, "an unrelated extra document text")).toDF("id", "text"))
    rec.check("corpus checker flags one extra survivor",
      Dedup.minhashDedup(extra, "id", "text").count() != planted)

    // recording: a nested span tree closes in order and keeps its parents
    val r = new Recorder(true)
    r.op("x") { r.span("a") { r.span("b")(()) }; r.span("c")(()) }
    val sp = scala.jdk.CollectionConverters.CollectionHasAsScala(r.spans).asScala.toSeq
    val byName = sp.map(s => s.name -> s).toMap
    rec.check("spans nest under their op", byName("a").parent == byName("op.x").id &&
      byName("b").parent == byName("a").id && byName("c").parent == byName("op.x").id &&
      sp.forall(_.op == byName("op.x").id), sp.toString)
  }

  /** Word 3-shingle Jaccard, the similarity minhashDedup estimates. */
  def jaccard(a: String, b: String): Double = {
    def sh(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    (x & y).size.toDouble / (x | y).size
  }
}
