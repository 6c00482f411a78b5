package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stateful-operator MEMORY probe: does state-store size plateau under
  * the watermark contract, or grow without bound? The m-family gates
  * prove streaming lifts CORRECT; this measures the other contract —
  * bounded state — under a long drain the gates never run:
  *
  *  - SESSIONIZER (m38's shape): K distinct keys emitting events over
  *    B micro-batches with event time advancing every batch and a
  *    short watermark. Expected: per-key session state is created,
  *    closed by the watermark, and EVICTED — numRowsTotal plateaus at
  *    ~(keys active inside one watermark horizon), not keys × batches.
  *  - STREAM-STREAM JOIN (m34's shape): two sides joined on key within
  *    a time bound, watermarked both sides. Expected: buffered rows
  *    plateau at ~(rows inside the join window), evicted as the
  *    watermark passes.
  *
  *  - DEDUP (m39's shape): `dropDuplicatesWithinWatermark` on the key
  *    alone. Expected: state holds only the keys seen inside the
  *    watermark horizon — plateau at ~2-3 batch-widths x keys.
  *  - WINDOWED AGG (the in-state-store twin of m41/m42's fold; the
  *    m42 lift itself is foreachBatch + Ivm, whose "state" is the
  *    on-disk summary — bounded by |summary| by construction and
  *    measured in NOTES.md, not the state store): tumbling-window
  *    groupBy agg under a watermark. Expected: plateau at ~(windows
  *    open inside the horizon) x keys.
  *
  * Prints per-batch `numRowsTotal` / `stateMemory` from the progress
  * telemetry, then the min/max/final across the drain. An unbounded
  * operator shows monotone growth ~ batches; a bounded one flattens.
  *
  * PROVIDER dimension: arg 3 selects the state-store backend —
  * `hdfs` (default in-heap HDFSBackedStateStoreProvider), `rocksdb`
  * (off-heap RocksDBStateStoreProvider, the at-scale choice once live
  * keys outgrow executor heap: ~2.6 KB/key in-heap means 10^8 live
  * keys ≈ 260 GB of heap, where RocksDB pages to local SSD), or
  * `both` to print the comparison. memoryUsedBytes under RocksDB
  * reports the native memtable+block-cache footprint, not JVM heap —
  * compare plateaus, not absolute bytes.
  * Run: `sbt "runMain graft.StateProbe [keys] [batches] [provider]"`
  * (defaults 100000 x 60 x hdfs; the NOTES record 1e6/1e7-key runs).
  */
object StateProbe {

  private def mkSpark(): SparkSession = SparkEntry.configure(
    SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false"))
    .getOrCreate()

  private final case class Stat(batch: Long, rowsTotal: Long,
                                memBytes: Long)

  /** Drain `batches` file-source micro-batches through `build`,
    * harvesting state-operator telemetry per batch. */
  private def drain(spark: SparkSession, tag: String, keys: Int,
                    batches: Int,
                    build: org.apache.spark.sql.DataFrame =>
                      org.apache.spark.sql.DataFrame): Seq[Stat] = {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory(s"graft_state_$tag")
    val srcDir = base.resolve("src").toString
    val ckpt = base.resolve("ckpt").toString
    val sink = base.resolve("sink").toString
    // one parquet file per micro-batch (maxFilesPerTrigger=1): each
    // batch carries `keys` events stamped batch-minutes apart, so the
    // watermark advances a full batch-width every trigger
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    (0 until batches).foreach { b =>
      spark.range(keys).select(
          col("id").as("k"),
          to_timestamp(lit(new java.sql.Timestamp(t0 + b * 60000L)))
            .as("ts"),
          lit(b).as("batch"))
        .coalesce(1).write.mode("append").parquet(srcDir)
      // strictly increasing mtimes fix the drain order
      Thread.sleep(2)
    }
    val stream = spark.readStream
      .schema("k BIGINT, ts TIMESTAMP, batch INT")
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val stats = scala.collection.mutable.ArrayBuffer.empty[Stat]
    val q = build(stream)
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    while (q.isActive) {
      Thread.sleep(500)
      Option(q.lastProgress).foreach { p =>
        if (p.stateOperators.nonEmpty &&
            stats.lastOption.forall(_.batch != p.batchId))
          stats += Stat(p.batchId,
            p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }
    q.awaitTermination()
    // the final progress may land after the loop exits
    Option(q.lastProgress).foreach { p =>
      if (p.stateOperators.nonEmpty &&
          stats.lastOption.forall(_.batch != p.batchId))
        stats += Stat(p.batchId,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum)
    }
    stats.toSeq
  }

  private def report(tag: String, keys: Int, batches: Int,
                     stats: Seq[Stat]): Unit = {
    val rows = stats.map(_.rowsTotal)
    val mem = stats.map(_.memBytes)
    val headGrow = stats.take(stats.size / 2)
    val tailGrow = stats.drop(stats.size / 2)
    def slope(xs: Seq[Stat]): Double =
      if (xs.size < 2) 0.0
      else (xs.last.rowsTotal - xs.head.rowsTotal).toDouble /
        math.max(1, xs.last.batch - xs.head.batch)
    println(s"[state] $tag keys=$keys batches=$batches " +
      s"samples=${stats.size}")
    println(f"[state] $tag rowsTotal min=${rows.min} max=${rows.max} " +
      f"final=${rows.last}; memMB max=${mem.max / 1e6}%.1f")
    println(f"[state] $tag growth rows/batch: first-half " +
      f"${slope(headGrow)}%.0f, second-half ${slope(tailGrow)}%.0f " +
      "(a bounded operator's second half ~ 0; unbounded ~ keys)")
  }

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state" +
      ".RocksDBStateStoreProvider"
  private val Hdfs =
    "org.apache.spark.sql.execution.streaming.state" +
      ".HDFSBackedStateStoreProvider"

  def main(args: Array[String]): Unit = {
    val keys = args.headOption.map(_.toInt).getOrElse(100000)
    val batches = args.drop(1).headOption.map(_.toInt).getOrElse(60)
    val providers = args.drop(2).headOption.getOrElse("hdfs") match {
      case "both" => Seq("hdfs", "rocksdb")
      case p @ ("hdfs" | "rocksdb") => Seq(p)
      // fail fast: a typo would silently measure the HDFS store while
      // LABELING the output with the requested name — poisoned data
      case other => sys.error(
        s"unknown state-store provider '$other' (hdfs | rocksdb | both)")
    }
    val only = args.drop(3).headOption.map(_.split(",").toSet)
    val spark = mkSpark()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    for (prov <- providers) {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        if (prov == "rocksdb") RocksDb else Hdfs)
      def want(s: String): Boolean = only.forall(_.contains(s))

      // 1. SESSIONIZER: 10-second session gap, 2-minute watermark —
      // with batches a minute apart every session closes two batches
      // later, so live state must plateau at ~2 batches x keys
      if (want("sessionize")) {
        val sess = drain(spark, s"sessionize-$prov", keys, batches, df =>
          df.withWatermark("ts", "2 minutes")
            .groupBy(col("k"),
              org.apache.spark.sql.functions.session_window(col("ts"),
                "10 seconds"))
            .agg(count(lit(1)).as("n"), max(col("batch")).as("lastBatch"))
            .select(col("k"), col("n"), col("lastBatch")))
        report(s"sessionize[$prov]", keys, batches, sess)
      }

      // 2. STREAM-STREAM INNER JOIN: self-join key=key within 1
      // minute, both sides watermarked 2 minutes — buffered rows must
      // plateau at ~2-3 batches x keys x 2 sides
      if (want("join")) {
        val joined = drain(spark, s"join-$prov", keys, batches, df => {
          val a = df.select(col("k"), col("ts").as("tsa"),
            col("batch").as("ba")).withWatermark("tsa", "2 minutes")
          val b = df.select(col("k").as("kb"), col("ts").as("tsb"),
            col("batch").as("bb")).withWatermark("tsb", "2 minutes")
          a.join(b, a("k") === b("kb") &&
            b("tsb") >= a("tsa") - expr("interval 1 minute") &&
            b("tsb") <= a("tsa") + expr("interval 1 minute"))
            .select(col("k"), col("ba"), col("bb"))
        })
        report(s"stream-stream-join[$prov]", keys, batches, joined)
      }

      // 3. DEDUP (m39): dropDuplicatesWithinWatermark on the bare key
      // — every batch re-sends every key, so an EVICTING store
      // plateaus at ~2-3 batch-widths x keys while a non-evicting one
      // would hold keys x batches
      if (want("dedup")) {
        val dd = drain(spark, s"dedup-$prov", keys, batches, df =>
          graft.streaming.Streams.streamingDedup(df, Seq("k"), "ts",
            "2 minutes"))
        report(s"dedup[$prov]", keys, batches, dd)
      }

      // 4. WINDOWED AGG (m41/m42's in-store twin): 1-minute tumbling
      // windows per key under a 2-minute watermark — open windows
      // inside the horizon bound the state
      if (want("agg")) {
        val agg = drain(spark, s"agg-$prov", keys, batches, df =>
          df.withWatermark("ts", "2 minutes")
            .groupBy(window(col("ts"), "1 minute"), col("k"))
            .agg(count(lit(1)).as("n"), sum(col("batch")).as("sb"))
            .select(col("k"), col("n"), col("sb")))
        report(s"windowed-agg[$prov]", keys, batches, agg)
      }
    }
    spark.stop()
  }
}
