package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.core._

/** One traced interval. `parent` is -1 for an op's root span; `op` is the
  * id of the op (one CDC job, one lookup, one micro-batch) it belongs to.
  * Times are nanoseconds on the run's clock (see [[Recorder.nowNs]]). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      start: Long, end: Long)

/** Everything a run measures, kept in memory and written once at the end.
  *
  * Samples (op wall times and other latencies) are always recorded. Spans,
  * per-op counters and the Spark job log are recorded only when `tracing`
  * is on, so the untraced run pays for none of it. */
final class Recorder(val tracing: Boolean) {
  // epoch-anchored nanosecond clock: Spark listener and streaming progress
  // times are epoch milliseconds, spans need sub-millisecond resolution
  private val anchorNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = anchorNs + System.nanoTime()

  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val values = mutable.LinkedHashMap[String, Double]()
  val spans = new ConcurrentLinkedQueue[Span]()
  // op id -> (kind, start, end, counters)
  val ops = mutable.LinkedHashMap[Int, (String, Long, Long, mutable.Map[String, Double])]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  var attempted = 0L
  var failed = 0L

  private var nextId = 0
  private val stack = mutable.Stack[Int]()
  private var curOp = -1
  /** Told the id of each traced op as it starts (-1 as it ends), so Spark
    * jobs can be tagged with the op that ran them. */
  var onOp: Int => Unit = _ => ()

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  }

  def count(name: String, v: Double): Unit = synchronized {
    if (curOp >= 0) {
      val c = ops(curOp)._4
      c(name) = c.getOrElse(name, 0.0) + v
    }
  }

  def opCount(op: Int, name: String, v: Double): Unit = synchronized {
    if (tracing) ops.get(op).foreach { o => o._4(name) = o._4.getOrElse(name, 0.0) + v }
  }

  def check(name: String, ok: Boolean, detail: String = ""): Boolean = synchronized {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    ok
  }

  /** Open a span under the innermost open span of the current op. */
  def begin(name: String): Int = synchronized {
    if (!tracing) -1
    else {
      nextId += 1
      val id = nextId
      openStarts(id) = (name, if (stack.isEmpty) -1 else stack.top, nowNs)
      stack.push(id)
      id
    }
  }

  private val openStarts = mutable.Map[Int, (String, Int, Long)]()

  def end(id: Int, at: Long = -1L): Unit = synchronized {
    if (id >= 0) {
      val t = if (at >= 0) at else nowNs
      require(stack.nonEmpty && stack.top == id, s"span $id closed out of order")
      stack.pop()
      val (name, parent, start) = openStarts.remove(id).get
      spans.add(Span(id, parent, curOp, name, start, t))
    }
  }

  def span[A](name: String)(f: => A): A = {
    val id = begin(name)
    try f finally end(id)
  }

  /** One op: its wall time is a sample of `kind` (milliseconds). In a
    * traced run it is the root span of its children and carries counters.
    * `before`/`after` run outside its timed region (directory walks,
    * version reads), and only when tracing. */
  def op[A](kind: String, before: () => Unit = () => (),
            after: () => Unit = () => ())(f: => A): A = {
    val id = synchronized {
      nextId += 1
      ops(nextId) = ((kind, 0L, 0L, mutable.Map()))
      if (tracing) curOp = nextId
      nextId
    }
    var snap: Map[String, Double] = null
    if (tracing) {
      onOp(id)
      before()
      snap = Counters.snapshot()
    }
    val t0 = nowNs
    if (tracing) synchronized {
      openStarts(id) = (s"op.$kind", -1, t0)
      stack.push(id)
    }
    val r = try f finally {
      val t1 = nowNs
      if (tracing) end(id, t1)
      sample(kind, (t1 - t0) / 1e6)
      synchronized { ops(id) = ops(id).copy(_2 = t0, _3 = t1) }
    }
    if (tracing) {
      onOp(-1)
      Counters.delta(snap).foreach { case (k, v) => opCount(id, k, v) }
      after()
      synchronized { curOp = -1 }
    }
    r
  }

  /** Drop what warm-up ops of these kinds recorded. */
  def forget(kinds: String*): Unit = synchronized {
    kinds.foreach(samples.remove)
    val gone = ops.collect { case (id, o) if kinds.contains(o._1) => id }.toSet
    gone.foreach(ops.remove)
    spans.removeIf(s => gone.contains(s.op))
  }

  /** Record an op whose phases were timed elsewhere (a streaming
    * micro-batch): a root span plus children laid end to end. */
  def externalOp(kind: String, start: Long, end: Long,
                 phases: Seq[(String, Long)]): Int = synchronized {
    nextId += 1
    val id = nextId
    ops(id) = ((kind, start, end, mutable.Map()))
    if (tracing) {
      spans.add(Span(id, -1, id, s"op.$kind", start, end))
      var t = start
      phases.foreach { case (name, durNs) =>
        nextId += 1
        val e = math.min(end, t + durNs)
        spans.add(Span(nextId, id, id, name, t, e))
        t = e
      }
    }
    id
  }
}

/** Process-wide counters sampled around each traced op: Hadoop FileSystem
  * statistics for the `file` scheme and the machine's fork count. */
object Counters {
  def snapshot(): Map[String, Double] = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Map("fs.bytes_read" -> st.map(_.getBytesRead).sum.toDouble,
      "fs.bytes_written" -> st.map(_.getBytesWritten).sum.toDouble,
      "os.forks" -> forks().toDouble)
  }

  def delta(before: Map[String, Double]): Map[String, Double] = {
    val now = snapshot()
    now.map { case (k, v) => k -> (v - before(k)) }
  }

  /** `processes` in /proc/stat: forks since boot, machine-wide. */
  def forks(): Long =
    try {
      Files.readAllLines(Paths.get("/proc/stat")).asScala
        .find(_.startsWith("processes ")).map(_.split("\\s+")(1).toLong)
        .getOrElse(0L)
    } catch { case _: Exception => 0L }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
}

/** File listing of a table directory: relative path -> size. Taken before
  * and after an op, outside its timed region, to count what it wrote. */
object DirWalk {
  def list(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      // a writer running beside the walk may delete a file under it;
      // walk again until one pass sees a stable tree
      def once(): Map[String, Long] = {
        val s = Files.walk(p)
        try s.iterator().asScala.filter(Files.isRegularFile(_))
          .map(f => p.relativize(f).toString -> Files.size(f)).toMap
        finally s.close()
      }
      Iterator.continually(scala.util.Try(once())).take(5)
        .find(_.isSuccess).map(_.get).getOrElse(once())
    }
  }

  def bytes(root: String): Long = list(root).values.sum

  /** Bytes of the files a DataFrame reads (its `inputFiles`). */
  def inputBytes(df: org.apache.spark.sql.DataFrame): Long =
    df.inputFiles.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum

  /** (partitions touched, files written, bytes written) between two
    * listings; a partition is the first path element `col=value`. */
  def diff(before: Map[String, Long], after: Map[String, Long]): (Int, Int, Long) = {
    val added = after.filter { case (f, sz) => !before.get(f).contains(sz) }
    val parts = added.keys.flatMap { f =>
      f.split("/").find(_.contains("=")) }.toSet
    (parts.size, added.size, added.values.sum)
  }
}

/** Spark job log: each job's span, the traced op that ran it (from the
  * `perfbench.op` local property; -1 if none), whether a streaming query
  * ran it, and its tasks' summed metrics. */
final class SparkTap extends SparkListener {
  final class Job(val id: Int, val start: Long, val op: Int, val stream: Boolean) {
    var end = 0L
    var tasks = 0L; var cpuNs = 0L; var shRead = 0L; var shWrite = 0L
    var spill = 0L; var input = 0L; var output = 0L
  }
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(SparkTap.OpKey))).map(_.toInt)
    val stream = props.exists(p => p.getProperty("sql.streaming.queryId") != null)
    jobs.put(e.jobId, new Job(e.jobId, e.time, op.getOrElse(-1), stream))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id)))
    val m = e.taskMetrics
    j.foreach { job => job.synchronized {
      job.tasks += 1
      if (m != null) {
        job.cpuNs += m.executorCpuTime
        job.shRead += m.shuffleReadMetrics.totalBytesRead
        job.shWrite += m.shuffleWriteMetrics.bytesWritten
        job.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        job.input += m.inputMetrics.bytesRead
        job.output += m.outputMetrics.bytesWritten
      }
    } }
  }
}

/** Timing decorator around a [[Ledger]]: every call is a `core.ledger`
  * span, and the interval between `startStep` returning and `endStep`
  * being called is the step's span (`core.step.etl` / `core.step.merge`).
  * The StepMetrics handed to `endStep` give the models' row and byte
  * counts. */
final class TimedLedger(inner: Ledger, rec: Recorder) extends Ledger {
  private val stepSpans = mutable.Map[Long, Int]()

  private def call[A](f: => A): A = {
    rec.count("core.ledger_calls", 1)
    rec.span("core.ledger")(f)
  }

  def startRun(jobId: Long, tag: Long, seqno: Int): Long = call(inner.startRun(jobId, tag, seqno))
  def endRun(runId: Long, status: String, dataDump: Option[String]): Unit =
    call(inner.endRun(runId, status, dataDump))
  def runStatus(runId: Long): Option[String] = call(inner.runStatus(runId))
  def deactivateRun(runId: Long): Unit = call(inner.deactivateRun(runId))
  def startTask(ctx: StepContext, taskName: String): Long = call(inner.startTask(ctx, taskName))
  def endTask(ctx: StepContext, taskId: Long, status: String, m: StepMetrics): Unit =
    call(inner.endTask(ctx, taskId, status, m))

  def startStep(ctx: StepContext, taskId: Long, step: Step): Long = {
    val id = call(inner.startStep(ctx, taskId, step))
    val kind = if (step.stepType == StepType.ETL) "etl" else "merge"
    stepSpans(id) = rec.begin(s"core.step.$kind")
    id
  }

  def endStep(ctx: StepContext, stepId: Long, status: String, m: StepMetrics,
              error: Option[String]): Unit = {
    stepSpans.remove(stepId).foreach(rec.end(_))
    if (m.recordsRead > 0) rec.count("models.rows_read", m.recordsRead.toDouble)
    if (m.recordsWritten > 0) rec.count("models.rows_written", m.recordsWritten.toDouble)
    rec.count("models.bytes_written", m.bytesWritten.toDouble)
    call(inner.endStep(ctx, stepId, status, m, error))
  }

  def logQuery(ctx: StepContext, modelName: String, queryText: String,
               outputRows: Long, status: String, errorText: Option[String]): Long =
    call(inner.logQuery(ctx, modelName, queryText, outputRows, status, errorText))
  def logFile(ctx: StepContext, modelName: String, fileName: String,
              filePath: String, bytes: Long, action: String): Long =
    call(inner.logFile(ctx, modelName, fileName, filePath, bytes, action))
}

/** A pipeline node that runs `inner` inside a span, so a model's own work
  * shows as its layer (the manifest merge as `layout.commit`). */
final case class SpanModel(inner: Executable, @transient rec: Recorder, name: String)
    extends Executable {
  override def modelName: String = inner.modelName
  def execute(ctx: StepContext): ExecResult = rec.span(name)(inner.execute(ctx))
}

object SparkTap {
  val OpKey = "perfbench.op"

  def install(spark: SparkSession, rec: Recorder): SparkTap = {
    val t = new SparkTap
    spark.sparkContext.addSparkListener(t)
    rec.onOp = id => spark.sparkContext.setLocalProperty(OpKey,
      if (id < 0) null else id.toString)
    t
  }
}
