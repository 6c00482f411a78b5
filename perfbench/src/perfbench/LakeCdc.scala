package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Date
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.models.{CsvModel, MergeModel, Mapper, ParquetModel}
import graft.operators.Layout

/** Deterministic inputs of `lake_cdc`: a keyed table partitioned by day
  * and one CDC drop per job. Key `k < SeedRows` lives on day `k % Days`;
  * job `i` inserts a new day `Days + i`. A row's amount lies in its day's
  * band `[100 * day, 100 * day + 100)`, so the amount stats prune a range
  * scan to the days it covers. All state is a function of the seed. */
final class LakeGen(val seed: Long) {
  import LakeGen._

  val base: Date = Date.valueOf("2024-01-01")
  def dayOf(idx: Int): Date = Date.valueOf(base.toLocalDate.plusDays(idx.toLong))

  /** Seed rows: (key, day, amount, ver = 0), generated by Spark. */
  def seedTable(spark: SparkSession): DataFrame =
    spark.range(SeedRows).select(
      col("id").as("key"),
      date_add(lit(base), (col("id") % Days).cast("int")).as("day"),
      ((col("id") % Days) * 100 +
        pmod(col("id") * 7919L + lit(seed * 104729L), lit(10000L)) / 100.0).as("amount"),
      lit(0L).as("ver"))

  def seedAmount(k: Long): Double =
    (k % Days) * 100 + Math.floorMod(k * 7919L + seed * 104729L, 10000L) / 100.0

  // expected live state, kept by the generator as it emits changes
  val dayIdx = mutable.ArrayBuffer.tabulate(SeedRows)(k => k % Days)
  val amount = mutable.ArrayBuffer.tabulate(SeedRows)(k => seedAmount(k.toLong))
  val ver = mutable.ArrayBuffer.fill(SeedRows)(0L)
  val alive = mutable.ArrayBuffer.fill(SeedRows)(true)
  var jobs = 0

  private def keysOfDay(d: Int): (Long, Long, Long) = // (first, step, count)
    if (d < Days) (d.toLong, Days.toLong, (SeedRows - d + Days - 1) / Days)
    else (SeedRows + (d - Days).toLong * Inserts, 1L, Inserts.toLong)

  private def pick(rng: SplittableRandom, d: Int): Int = {
    val (first, step, n) = keysOfDay(d)
    (first + step * rng.nextLong(n)).toInt
  }

  /** The next CDC drop as (key, day, amount, ver, op) rows with distinct
    * keys, op one of I (insert), U (update), D (delete). Applies it to the
    * expected state. */
  def nextDrop(): Seq[(Long, Date, Double, Long, String)] = {
    val i = jobs
    jobs += 1
    val rng = new SplittableRandom(seed * 1000003L + i)
    val newest = Days + i
    val v = (i + 1).toLong
    val out = mutable.ArrayBuffer[(Long, Date, Double, Long, String)]()
    val used = mutable.HashSet[Int]()
    def emit(k: Int, op: String): Unit = {
      used += k
      val amt = dayIdx(k) * 100 + rng.nextInt(10000) / 100.0
      amount(k) = amt; ver(k) = v; alive(k) = op != "D"
      out += ((k.toLong, dayOf(dayIdx(k)), amt, v, op))
    }
    (0 until Inserts).foreach { j =>
      val k = SeedRows + i * Inserts + j
      dayIdx += newest; amount += 0.0; ver += 0L; alive += false
      emit(k, "I")
    }
    def some(n: Int, days: => Int, op: String): Unit = {
      var left = n
      while (left > 0) {
        val k = pick(rng, days)
        if (!used(k) && (op == "U" || alive(k))) { emit(k, op); left -= 1 }
      }
    }
    // updates skewed to the last few days, a few late ones on older days,
    // deletes on a few other days: every drop touches the same number of
    // day partitions (1 + HotDays + LateDays + DeleteDays)
    val older = Iterator.continually(rng.nextInt(newest - HotDays)).distinct
      .take(LateDays + DeleteDays).toSeq
    val (lateDays, delDays) = older.splitAt(LateDays)
    some(Updates, newest - 1 - rng.nextInt(HotDays), "U")
    some(Late, lateDays(rng.nextInt(LateDays)), "U")
    some(Deletes, delDays(rng.nextInt(DeleteDays)), "D")
    out.toSeq
  }

  /** Keys to look up: mostly live keys, some deleted or never written. */
  def lookupKeys(n: Int): Seq[Long] = {
    val rng = new SplittableRandom(seed * 7777L + jobs)
    Seq.fill(n)(rng.nextLong(alive.size.toLong + alive.size / 20))
  }

  /** `n` ranges, each over `RangeDays` consecutive day bands. */
  def scanRanges(n: Int): Seq[(Double, Double)] = {
    val rng = new SplittableRandom(seed * 31337L + jobs)
    Seq.fill(n) {
      val d0 = rng.nextInt(Days + jobs - RangeDays)
      (d0 * 100.0 + rng.nextInt(50), (d0 + RangeDays) * 100.0 + rng.nextInt(50))
    }
  }

  /** Hash of every input a run of `n` jobs makes (for the seed test). */
  def inputHash(spark: SparkSession, n: Int): Long = {
    val st = Checks.fingerprint(seedTable(spark), Seq("key", "day", "amount", "ver"))
    val drops = (0 until n).map(_ => nextDrop())
    (st, drops, lookupKeys(8), scanRanges(2)).hashCode.toLong
  }
}

object LakeGen {
  val SeedRows = 40000
  val Days = 20
  val Inserts = 1000
  val Updates = 1500
  val HotDays = 3
  val Late = 40
  val LateDays = 3
  val Deletes = 100
  val DeleteDays = 2
  val RangeDays = 6
  val LookupsPerJob = 3
  val ScansPerJob = 2
  val dropSchema: StructType = StructType(Seq(
    StructField("key", LongType), StructField("day", DateType),
    StructField("amount", DoubleType), StructField("ver", LongType),
    StructField("op", StringType)))
}

/** `lake_cdc`: a closed loop of one client. Each cycle runs one pydin CDC
  * job through `Pipeline.withLedger(...).run` on a `JdbcLedger` (in-memory
  * Derby): CSV drop -> Mapper -> parquet stage, then a manifest merge.
  * The cycle then makes point lookups (`readManifestEq`) and
  * `ScansPerJob` range aggregates (`readManifestPruned`) on the same
  * table. */
object LakeCdc {
  import LakeGen._

  val SetupReps = 3
  val WarmJobs = 1
  // disk_mb is taken after this many timed jobs, so it does not depend on speed
  val MinJobs = 3
  val Cols = Seq("key", "day", "amount", "ver")

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val rec = c.rec
    // set-up: seed the table and the ledger, several times; keep the last
    var table = ""
    var ledger: JdbcLedger = null
    var gen: LakeGen = null
    (0 until SetupReps).foreach { r =>
      val t0 = System.nanoTime()
      gen = new LakeGen(c.seed)
      table = c.dir(s"table$r")
      Layout.writeManifestTable(spark, table, gen.seedTable(spark), Seq("day"),
        statsCols = Seq("amount"), bloomCols = Seq("key"),
        keys = Seq("key"), versionCol = Some("ver"))
      ledger = Ledger.jdbc(DatabaseSource("ledger",
        s"jdbc:derby:memory:perfbench_ledger$r;create=true"))
      rec.sample("setup_s", (System.nanoTime() - t0) / 1e9)
    }
    c.phase("set-up done")
    val timed = new TimedLedger(ledger, rec)

    var before = Map.empty[String, Long]
    var v0 = 0
    def walkBefore(): Unit = {
      before = DirWalk.list(table)
      v0 = Layout.manifestVersion(spark, table).getOrElse(0)
    }
    def walkAfter(): Unit = {
      val (parts, files, bytes) = DirWalk.diff(before, DirWalk.list(table))
      val add = rec.opCount(rec.ops.keys.last, _: String, _: Double)
      add("layout.partitions_touched", parts)
      add("layout.files_written", files)
      add("layout.bytes_written", bytes.toDouble)
      add("layout.versions", Layout.manifestVersion(spark, table).getOrElse(0) - v0)
    }
    var liveFiles = 0
    def readCounts(df: DataFrame): Unit = {
      val add = rec.opCount(rec.ops.keys.last, _: String, _: Double)
      val files = df.inputFiles.length
      add("read.files_scanned", files)
      add("read.prune_ratio", if (liveFiles == 0) 0.0 else 1.0 - files.toDouble / liveFiles)
    }
    val jobs = c.closedLoop(Seq("cdc_job", "lookup", "scan", "rate"), WarmJobs, MinJobs) { n =>
      val i = gen.jobs
      val drop = gen.nextDrop()
      val dropDir = Paths.get(c.dir(s"drops/$i"))
      Files.createDirectories(dropDir)
      Files.write(dropDir.resolve("part-0.csv"), drop.map { case (k, d, a, v, op) =>
        s"$k;$d;$a;$v;$op" }.mkString("", "\n", "\n").getBytes("UTF-8"))
      val stage = c.dir(s"stage/$i")
      val pipeline = Pipeline.withLedger("cdc", timed,
        CsvModel(dropDir.toString, head = false, schema = Some(dropSchema)),
        Mapper(df => df.withColumn("del", col("op") === "D").drop("op")),
        ParquetModel(stage),
        SpanModel(MergeModel(table, stage, Seq("key"), "ver",
          deleteCol = Some("del"), manifest = true), rec, "layout.commit"))
      rec.attempted += 1
      val task = rec.op("cdc_job", () => walkBefore(), () => walkAfter()) {
        rec.span("core.task")(pipeline.run(spark, runId = i + 1L))
      }
      rec.sample("rate", drop.size / (rec.samples("cdc_job").last / 1000))
      if (!rec.check(s"cdc job $i status", task.status == Status.Done,
          s"status ${task.status} ${task.error.getOrElse("")}")) rec.failed += 1
      if (rec.tracing) liveFiles = Layout.readManifest(spark, table).inputFiles.length

      gen.lookupKeys(LookupsPerJob).foreach { k =>
        rec.attempted += 1
        var df: DataFrame = null
        val rows = rec.op("lookup", after = () => readCounts(df)) {
          df = rec.span("read.plan")(Layout.readManifestEq(spark, table, Seq("key" -> k)))
          rec.span("read.exec")(df.collect())
        }
        val got = rows.map(r => (r.getAs[Long]("key"), r.getAs[Date]("day"),
          r.getAs[Double]("amount"), r.getAs[Long]("ver"))).toSeq
        val want =
          if (k < gen.alive.size && gen.alive(k.toInt)) {
            val j = k.toInt
            Seq((k, gen.dayOf(gen.dayIdx(j)), gen.amount(j), gen.ver(j)))
          } else Nil
        if (got != want) {
          rec.failed += 1
          rec.check(s"lookup $k", ok = false, s"got $got want $want")
        }
      }

      if (n == MinJobs - 1) rec.values("disk_mb") = DirWalk.bytes(table) / 1e6

      gen.scanRanges(ScansPerJob).foreach { case (lo, hi) =>
        rec.attempted += 1
        var df: DataFrame = null
        val r = rec.op("scan", after = () => readCounts(df)) {
          df = rec.span("read.plan")(Layout.readManifestPruned(spark, table,
            Seq(("amount", lo, hi))))
          rec.span("read.exec")(df.agg(count(lit(1)), sum("amount")).head())
        }
        val live = gen.alive.indices.filter(j => gen.alive(j) &&
          gen.amount(j) >= lo && gen.amount(j) <= hi)
        val wantSum = live.map(gen.amount(_)).sum
        val gotSum = if (r.isNullAt(1)) 0.0 else r.getDouble(1)
        if (r.getLong(0) != live.size || math.abs(gotSum - wantSum) > 1e-6 * math.max(1, wantSum)) {
          rec.failed += 1
          rec.check(s"scan $lo..$hi", ok = false,
            s"got (${r.getLong(0)}, $gotSum) want (${live.size}, $wantSum)")
        }
      }
    }

    c.phase(s"measured $jobs jobs")

    // final table = plain-Spark latest-wins over the seed and every drop
    val changes = gen.seedTable(spark).withColumn("del", lit(false))
      .unionByName(spark.read.parquet((0 until gen.jobs).map(i => c.dir(s"stage/$i")): _*))
    Checks.sameRows(rec, "lake table == latest-wins recomputation",
      Layout.readManifest(spark, table),
      Checks.latestWins(changes, Seq("key"), "ver", Some("del")), Cols)
    val conn = DatabaseSource("ledger",
      s"jdbc:derby:memory:perfbench_ledger${SetupReps - 1}").connect()
    try {
      val rs = conn.createStatement().executeQuery(
        "select count(*), sum(case when status = 'D' then 1 else 0 end) from pd_task_history")
      rs.next()
      rec.check("every ledger task ended D", rs.getLong(1) == gen.jobs && rs.getLong(2) == gen.jobs,
        s"tasks ${rs.getLong(1)}, done ${rs.getLong(2)}, jobs ${gen.jobs}")
    } finally conn.close()
  }
}
