package perfbench

import java.sql.{Date, Timestamp}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.operators.Layout
import graft.streaming.Streams

/** One generated event. `eid` identifies it (a re-sent duplicate repeats
  * it); `seq` orders updates of one key; `ts` is its event time. */
final case class Event(eid: Long, key: Long, day: Date, value: Double, seq: Long,
                       ts: Timestamp)

/** Deterministic event source of `stream_upsert`: tick `k` (due at
  * `k * TickMs` after the start) carries `PerTick` fresh events and the
  * re-sent copies of some events of tick `k - ResendTicks`. A new day
  * starts every `EventsPerDay` events and keys are drawn from that day's
  * key range, so a batch touches one or two day partitions. Some events
  * carry an event time up to `MaxLateMs` before their due time. */
final class StreamGen(seed: Long) {
  import StreamGen._

  private val resend = mutable.Map[Int, Seq[Event]]()

  def tick(k: Int, dueMs: Long): Seq[Event] = {
    val rng = new SplittableRandom(seed * 1000003L + k)
    val fresh = (0 until PerTick).map { j =>
      val seq = k.toLong * PerTick + j
      val d = (seq / EventsPerDay).toInt
      val late = if (rng.nextDouble() < LateFrac) rng.nextInt(MaxLateMs) else 0
      Event(seq, d.toLong * KeysPerDay + rng.nextInt(KeysPerDay), dayOf(d),
        rng.nextInt(1000000) / 100.0, seq, new Timestamp(dueMs - late))
    }
    resend(k) = fresh.filter(_ => rng.nextDouble() < DupFrac)
    fresh ++ resend.remove(k - ResendTicks).getOrElse(Nil)
  }

  /** The sink table's rows before the stream starts: `SeedDays` days
    * before day 0, every key present once. */
  def seedRows: Seq[Event] =
    for (d <- -SeedDays until 0; j <- 0 until KeysPerDay) yield {
      val id = d.toLong * KeysPerDay + j
      Event(id, id, dayOf(d), j.toDouble, id, new Timestamp(0L))
    }

  def inputHash(ticks: Int): Long =
    (seedRows, (0 until ticks).map(k => tick(k, k.toLong * TickMs))).hashCode.toLong

  /** The largest `seq` among ticks `0 until ticks`. */
  def maxSeq(ticks: Int): Long = ticks.toLong * PerTick - 1
}

object StreamGen {
  /** Offered rate: events per second, about half of what the seed commit
    * sustains at local[4] (see README.md). */
  val Rate = 2000
  val TickMs = 100
  val PerTick: Int = Rate * TickMs / 1000
  val EventsPerDay: Int = Rate * 4
  val KeysPerDay = 2000
  val LateFrac = 0.1
  val MaxLateMs = 2000
  val DupFrac = 0.03
  val ResendTicks = 3
  val SeedDays = 5
  val base: Date = Date.valueOf("2024-01-01")
  def dayOf(d: Int): Date = Date.valueOf(base.toLocalDate.plusDays(d.toLong))
}

/** `stream_upsert`: an open loop. One generator thread feeds a
  * MemoryStream on a fixed schedule; the query drops re-sent duplicates
  * within a watermark (`Streams.streamingDedup`, stateful) and upserts
  * into the `manifest` sink (keyed merge-on-read deltas, folded every
  * `FoldEvery` batches, checkpointed to local disk).
  *
  * The work is fixed: the generator sends `WarmBatches + measured batches`
  * batches' worth of ticks and stops. The query runs on a processing-time
  * trigger of `TriggerMs`, which Spark aligns to multiples of `TriggerMs`
  * since the epoch; the ticks fall between trigger instants, so while the
  * query keeps up each batch carries exactly `TicksPerBatch` ticks. The
  * measuring window is the ticks after the warm-up ones and the batches
  * that carry them: a whole number of fold cycles, so it always holds the
  * same number of folds. After the stream stops, the sink is folded and
  * read `SinkReads` times. */
object StreamUpsert {
  import StreamGen._

  val SetupReps = 3
  val TriggerMs = 2000
  val TicksPerBatch: Int = TriggerMs / TickMs
  // warm-up batches: the first batch (cold JIT, query planning) and the
  // first fold (batch 3) overrun their triggers, and the batches after them
  // work off the backlog; by batch 6 the trigger is back in step
  val WarmBatches = 7
  val FoldEvery = 4
  val SinkReads = 6
  val Watermark = "10 seconds"
  val Cols = Seq("eid", "key", "day", "value", "seq", "ts")

  /** Measured batches for a measuring time: whole fold cycles, at least one. */
  def measuredBatches(seconds: Double): Int =
    FoldEvery * math.max(1, math.round(seconds * 1000 / (TriggerMs * FoldEvery)).toInt)

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val rec = c.rec
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val gen = new StreamGen(c.seed)
    val warmTicks = WarmBatches * TicksPerBatch
    val nTicks = warmTicks + measuredBatches(c.seconds) * TicksPerBatch

    var sink = ""
    (0 until SetupReps).foreach { r =>
      val t0 = System.nanoTime()
      sink = c.dir(s"sink$r")
      Layout.writeManifestTable(spark, sink, gen.seedRows.toDF(), Seq("day"),
        keys = Seq("key"), versionCol = Some("seq"))
      rec.sample("setup_s", (System.nanoTime() - t0) / 1e9)
    }

    c.phase("set-up done")
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.add(e.progress)
    }
    spark.streams.addListener(listener)

    val input = MemoryStream[Event]
    val q = Streams.streamingDedup(input.toDF(), Seq("eid"), "ts", Watermark)
      .writeStream.format("manifest")
      .option("path", sink).option("keys", "key").option("versionCol", "seq")
      .option("mor", "true").option("foldEvery", FoldEvery.toString)
      .option("checkpointLocation", c.dir("checkpoint"))
      .trigger(Trigger.ProcessingTime(TriggerMs.toLong))
      .start()

    // tick k is due half a tick after a trigger-aligned start, so no tick
    // falls on a trigger instant
    val startMs = (System.currentTimeMillis() / TriggerMs + 1) * TriggerMs + TickMs / 2
    def dueNs(k: Int): Long = (startMs + k.toLong * TickMs) * 1000000L
    // offset of each sent tick (-1 until sent)
    val offs = new java.util.concurrent.atomic.AtomicLongArray(nTicks)
    (0 until nTicks).foreach(offs.set(_, -1L))
    val sent = new ConcurrentLinkedQueue[Event]()
    val generator = new Thread(() => {
      (0 until nTicks).foreach { k =>
        val due = dueNs(k)
        while (rec.nowNs < due) java.util.concurrent.locks.LockSupport.parkNanos(due - rec.nowNs)
        if (k >= warmTicks) rec.sample("stream.generator_late_ms", (rec.nowNs - due) / 1e6)
        val evs = gen.tick(k, due / 1000000L)
        evs.foreach(sent.add)
        offs.set(k, input.addData(evs).json().toLong)
      }
    }, "perfbench-generator")
    generator.setDaemon(true)

    var covered = -1L
    var batches = 0
    var empty = 0
    var busyRows = 0L
    var busyMs = 0L
    var walkBefore = Map.empty[String, Long]
    var v0 = 0
    var walked = false
    // the window: from the batch after the last warm tick is committed to
    // the batch that commits the last tick
    def inWindow: Boolean = {
      val lastWarm = offs.get(warmTicks - 1)
      val last = offs.get(nTicks - 1)
      lastWarm >= 0 && covered >= lastWarm && (last < 0 || covered < last)
    }
    def absorb(p: StreamingQueryProgress): Unit = {
      val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val trigger = dur.getOrElse("triggerExecution", 0L)
      val t1 = t0 + trigger * 1000000L
      val end = Option(p.sources.head.endOffset).map(_.toLong).getOrElse(covered)
      val rows = p.numInputRows
      if (inWindow) {
        batches += 1
        if (rows == 0) empty += 1
        else {
          val backlog = (0 until nTicks).filter { k =>
            val o = offs.get(k); o > covered && dueNs(k) <= t0 }.size * PerTick
          rec.sample("stream.backlog_rows", backlog.toDouble)
          rec.sample("batch", trigger.toDouble)
          busyRows += rows
          busyMs += trigger
          rec.sample("stream.rows_per_batch", rows.toDouble)
          rec.sample("stream.trigger_ms", trigger.toDouble)
          Seq("addBatch" -> "stream.add_batch_ms", "walCommit" -> "stream.wal_commit_ms",
            "commitOffsets" -> "stream.commit_offsets_ms",
            "queryPlanning" -> "stream.query_planning_ms").foreach { case (k, m) =>
            rec.sample(m, dur.getOrElse(k, 0L).toDouble)
          }
          val st = p.stateOperators
          rec.sample("stream.state_commit_ms", st.map(_.commitTimeMs).sum.toDouble)
          rec.sample("stream.state_rows", st.map(_.numRowsTotal).sum.toDouble)
          rec.sample("stream.state_mem_bytes", st.map(_.memoryUsedBytes).sum.toDouble)
          rec.externalOp("batch", t0, t1,
            Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
              "commitOffsets").map(k => s"stream.$k" -> dur.getOrElse(k, 0L) * 1000000L))
        }
      }
      // every measured tick this batch covered is now visible in the sink
      (warmTicks until nTicks).foreach { k =>
        val o = offs.get(k)
        if (o > covered && o <= end)
          (0 until PerTick).foreach(_ => rec.sample("lag", (t1 - dueNs(k)) / 1e6))
      }
      covered = math.max(covered, end)
      // the layout counters of the window: a walk once the warm-up is
      // committed, outside the stream's batches
      if (rec.tracing && !walked && inWindow) {
        walked = true
        walkBefore = DirWalk.list(sink)
        v0 = Layout.manifestVersion(spark, sink).getOrElse(0)
      }
    }

    rec.samples.getOrElseUpdate("lag", mutable.ArrayBuffer())
    generator.start()
    while (generator.isAlive) {
      while (!progress.isEmpty) absorb(progress.poll())
      Thread.sleep(20)
    }
    generator.join()
    q.processAllAvailable()
    org.apache.spark.sql.graftbridge.GraftSqlBridge.waitListenerBus(spark, 30000)
    while (!progress.isEmpty) absorb(progress.poll())
    q.stop()
    spark.streams.removeListener(listener)
    c.phase(s"measured $batches batches")
    if (rec.tracing) {
      val n = math.max(1, batches - empty).toDouble
      val (parts, files, bytes) = DirWalk.diff(walkBefore, DirWalk.list(sink))
      rec.values("layout.versions") =
        (Layout.manifestVersion(spark, sink).getOrElse(0) - v0) / n
      rec.values("layout.partitions_touched") = parts / n
      rec.values("layout.files_written") = files / n
      rec.values("layout.bytes_written") = bytes / n
    }
    val lastTick = offs.get(nTicks - 1)
    rec.check("every generated event was committed", covered >= lastTick,
      s"last committed offset $covered, last sent $lastTick")
    rec.attempted += nTicks
    if (covered < lastTick) rec.failed += (0 until nTicks).count(offs.get(_) > covered)

    // reads of the sink table after the stream, so they do not disturb its
    // timing; folded first, so every run reads the same table
    Layout.foldManifestDeltas(spark, sink)
    rec.values("disk_mb") = DirWalk.inputBytes(Layout.readManifest(spark, sink)) / 1e6
    val maxSeq = gen.maxSeq(nTicks)
    readSink(c, sink, maxSeq)
    rec.forget("sink_read")
    (0 until SinkReads).foreach(_ => readSink(c, sink, maxSeq))

    // rows per second of batch time over the window, so batches that carry
    // more or fewer ticks than a trigger's worth weigh by their rows
    rec.sample("rate", busyRows * 1000.0 / math.max(1L, busyMs))
    rec.values("stream.batches") = batches
    rec.values("stream.empty_batches") = empty

    // sink == batch recomputation: dedup by eid, then latest-wins by seq
    val events = sent.asScala.toSeq.toDF().dropDuplicates("eid")
    val expected = Checks.latestWins(gen.seedRows.toDF().unionByName(events),
      Seq("key"), "seq", None)
    Checks.sameRows(rec, "sink table == dedup + latest-wins recomputation",
      Layout.readManifest(spark, sink), expected, Cols)
  }

  /** One read of the sink table: a count and the newest seq. */
  private def readSink(c: Ctx, sink: String, maxSent: Long): Unit = {
    val rec = c.rec
    rec.attempted += 1
    var df: DataFrame = null
    val r = rec.op("sink_read", after = () =>
        rec.opCount(rec.ops.keys.last, "read.files_scanned", df.inputFiles.length)) {
      df = rec.span("read.plan")(Layout.readManifest(c.spark, sink))
      rec.span("read.exec")(df.agg(count(lit(1)), max("seq")).head())
    }
    // the table holds the seed and only events that were sent
    val seeded = SeedDays.toLong * KeysPerDay
    if (r.getLong(0) < seeded || r.isNullAt(1) || r.getLong(1) > maxSent) {
      rec.failed += 1
      rec.check("sink read", ok = false, s"rows ${r.getLong(0)}, max seq ${r.get(1)}")
    }
  }
}
