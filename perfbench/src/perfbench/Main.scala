package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What a workload gets: the session, the recorder, a private work
  * directory, the seed and the measuring time. */
final case class Ctx(spark: SparkSession, rec: Recorder, work: Path,
                     seed: Long, seconds: Double) {
  private val born = System.nanoTime()
  /** Progress line on stderr, with seconds since the workload started. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - born) / 1e9}%.1fs $what")
  def dir(name: String): String = work.resolve(name).toString
  /** Milliseconds of measuring time left, from `t0Ns`. */
  def left(t0Ns: Long): Double = seconds * 1000.0 - (System.nanoTime() - t0Ns) / 1e6

  /** A closed loop of one client. `warm` warm-up cycles run first and
    * their samples of `kinds` are dropped: op times keep falling for
    * several cycles while the JIT compiles. Then cycles run until the
    * measuring time is up, at least `min` and at most `max` of them. A
    * full GC after each cycle, outside any timed op, keeps collector
    * pauses out of the ops and makes peak RSS depend less on when the
    * collector ran. `cycle` gets the timed cycle's index, -1 while warming
    * up. Returns the timed cycle count. */
  def closedLoop(kinds: Seq[String], warm: Int, min: Int, max: Int = Int.MaxValue)(
      cycle: Int => Unit): Int = {
    (0 until warm).foreach { _ => cycle(-1); System.gc() }
    rec.forget(kinds: _*)
    val t0 = System.nanoTime()
    var n = 0
    while (n < max && (n < min || left(t0) > 0)) { cycle(n); n += 1; System.gc() }
    n
  }
}


/** Benchmark entry point, run by `perfbench/run.py`:
  * `Main <workload> <seed> <seconds> <trace 0|1> <work dir> <raw out>`
  * or `Main selftest <work dir> <raw out>`. Writes the raw samples, spans
  * and checks as JSON to `<raw out>`; run.py turns them into metrics. */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "lake_cdc" -> LakeCdc.run,
    "stream_upsert" -> StreamUpsert.run,
    "corpus_dedup_ann" -> CorpusDedupAnn.run)

  def session(work: Path): SparkSession = {
    val spark = graft.SparkEntry.configure(SparkSession.builder()
        .master("local[4]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val ok = args.toList match {
      case "selftest" :: work :: out :: Nil =>
        val w = Paths.get(work)
        Files.createDirectories(w)
        val spark = session(w)
        val rec = new Recorder(false)
        try SelfTest.run(spark, rec, w) finally spark.stop()
        Json.writeRaw(rec, Paths.get(out), Nil)
        rec.checks.forall(_._2)
      case name :: seed :: seconds :: trace :: work :: out :: Nil =>
        val body = Workloads.getOrElse(name, sys.error(
          s"unknown workload '$name' (${Workloads.keys.toSeq.sorted.mkString(", ")})"))
        val w = Paths.get(work)
        Files.createDirectories(w)
        val rec = new Recorder(trace == "1")
        val spark = session(w)
        val tap = if (rec.tracing) Some(SparkTap.install(spark, rec)) else None
        try {
          val ctx = Ctx(spark, rec, w, seed.toLong, seconds.toDouble)
          try body(ctx) catch {
            case e: Throwable =>
              e.printStackTrace()
              rec.failed += 1
              rec.check("workload completed", ok = false, e.toString)
          }
          ctx.phase("workload done")
          tap.foreach(_ => org.apache.spark.sql.graftbridge.GraftSqlBridge
            .waitListenerBus(spark, 30000))
          rec.values("peak_rss_mb") = Counters.peakRssMb()
        } finally spark.stop()
        val jobs = tap.toSeq.flatMap(_.jobs.values.asScala.toSeq.sortBy(_.id))
        Json.writeRaw(rec, Paths.get(out), jobs)
        rec.checks.forall(_._2)
      case _ =>
        System.err.println("usage: Main <workload> <seed> <seconds> <trace> <work> <out>" +
          " | Main selftest <work> <out>")
        false
    }
    System.exit(if (ok) 0 else 1)
  }
}

/** Hand-rolled JSON for the raw run record (no extra dependency). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def writeRaw(rec: Recorder, out: Path, jobs: Seq[SparkTap#Job]): Unit = {
    val sb = new StringBuilder("{")
    sb ++= s""""attempted": ${rec.attempted}, "failed": ${rec.failed}, """
    sb ++= "\"samples\": {" + rec.samples.map { case (k, xs) =>
      s"${str(k)}: [${xs.map(num).mkString(",")}]" }.mkString(", ") + "}, "
    sb ++= "\"values\": {" + rec.values.map { case (k, v) =>
      s"${str(k)}: ${num(v)}" }.mkString(", ") + "}, "
    sb ++= "\"checks\": [" + rec.checks.map { case (n, ok, d) =>
      s"[${str(n)}, $ok, ${str(d)}]" }.mkString(", ") + "], "
    sb ++= "\"ops\": [" + rec.ops.map { case (id, (kind, s, e, c)) =>
      s"""{"id": $id, "kind": ${str(kind)}, "start": $s, "end": $e, "counters": {""" +
        c.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ") + "}}"
    }.mkString(",\n") + "], "
    sb ++= "\"spans\": [" + rec.spans.asScala.toSeq.sortBy(_.id).map { s =>
      s"[${s.id}, ${s.parent}, ${s.op}, ${str(s.name)}, ${s.start}, ${s.end}]"
    }.mkString(",\n") + "], "
    // job times are epoch ms; the span clock is epoch ns
    sb ++= "\"jobs\": [" + jobs.map { j =>
      s"[${j.start * 1000000L}, ${j.end * 1000000L}, ${j.op}, ${j.stream}, ${j.tasks}, ${j.cpuNs}, " +
        s"${j.shRead}, ${j.shWrite}, ${j.spill}, ${j.input}, ${j.output}]"
    }.mkString(",\n") + "]}"
    Files.write(out, sb.toString.getBytes("UTF-8"))
  }
}
