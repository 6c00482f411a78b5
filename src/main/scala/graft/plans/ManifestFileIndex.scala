package graft.plans

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{Layout, Skipping}

/** Automatic data skipping through Spark's OWN scan planning: a
  * [[FileIndex]] over a manifest table (the seam Spark hands every
  * file-based table — `listFiles` receives the pushed-down partition
  * and data filters at planning time, before any file is opened; the
  * same public integration seam lakehouse formats use, e.g. Delta
  * Lake's TahoeFileIndex).
  * Register the table once ([[Layout.manifestTable]] +
  * `createOrReplaceTempView`) and every plain `spark.sql` / DataFrame
  * filter prunes by itself:
  *
  *  - partition filters are applied EXACTLY (Spark drops them from the
  *    post-scan residual, so the index must be precise): each
  *    generation's partition values — parsed from the writer's own
  *    Cast-rendered directory fragments — run through an interpreted
  *    [[Predicate]] over the ARBITRARY pushed expression, not just
  *    recognized shapes;
  *  - data filters prune BEST-EFFORT (Spark re-applies them in-plan,
  *    so skipping only has to be sound): recognized conjuncts —
  *    `=`, `<`, `<=`, `>`, `>=`, `IN`, `IS NOT NULL` on a bare
  *    column — become [[Skipping]] predicates over the manifest's
  *    per-partition and per-file min/max stats (`statsCols`) and
  *    per-partition bloom filters (`bloomCols`), the one driver-side
  *    evaluator the explicit readers use too; anything unrecognized is
  *    ignored. Strict bounds prune with their closed window (at most
  *    one extra generation scanned — sound, never wrong);
  *  - what survives is a real parquet scan, so Catalyst's column
  *    pruning and parquet's own row-group min/max skipping still
  *    apply below the generation-level pruning (PushedFilters in
  *    `.explain` shows both layers working).
  *
  * FRESHNESS: a `versionAsOf` mount is PINNED to that snapshot
  * forever (time travel). A version-ABSENT mount is LIVE — each scan
  * planning re-reads the manifest pointer (one small-file read, the
  * `_last_checkpoint` cost Delta pays) and serves the current
  * snapshot, so a `CREATE TABLE … USING manifest` registration or a
  * long-lived view always reads the table as it is NOW, across
  * sessions, with no REFRESH TABLE choreography. Each individual scan
  * reads ONE committed snapshot (the state is swapped atomically);
  * two scans of the same table inside one query may straddle a
  * concurrent publish — the read-committed-per-scan contract early
  * Delta shipped with, loudly documented here. A publish that CHANGED
  * THE SCHEMA (widen/rename/add) fails the next scan with the remedy
  * (re-create the view / re-CREATE TABLE) rather than serving rows
  * under a stale shape. Pending merge-on-read
  * deltas REQUIRE resolution (a file-level scan would surface stale and
  * tombstoned rows), which a file index cannot express — construction
  * (and a live advance onto such a version) fails loudly pointing at
  * `foldManifestDeltas` / `readManifest`.
  *
  * Design echo of the reference's storage split (pydin `models.py`
  * delegates table scans to the backing database wholesale): here the
  * "database" is Spark itself, so skipping lives in the planner seam
  * rather than a remote engine.
  */
final class ManifestFileIndex(spark: SparkSession, tablePath: String,
                              version: Option[Int] = None,
                              spec: Option[Seq[String]] = None)
    extends FileIndex {

  /** The manifest table's root — the handle graft's `INSERT INTO`
    * rewrite needs to route SQL DML back through the merge machinery. */
  private[graft] def table: String = tablePath

  private val zone = spark.sessionState.conf.sessionLocalTimeZone

  private def castString(s: String, dt: DataType): Any =
    if (s == null) null
    else org.apache.spark.sql.catalyst.expressions.Cast(
      Literal(UTF8String.fromString(s), StringType), dt, Some(zone)).eval()

  /** One live generation: its rel fragment, generation number and
    * typed partition values. Files are NOT listed here — a state load
    * reads only the manifest JSON, and [[listFiles]] lists exactly the
    * generations that survive pruning (so a query that prunes a
    * partition never touches its directory at all; at 10⁵ partitions
    * that is the difference between one JSON read and 10⁵ RPCs). */
  private case class Gen(rel: String, gen: Int, values: InternalRow)

  private final case class State(
      meta: graft.operators.Layout.ManifestMeta, gens: Seq[Gen])

  private def loadState(): State = {
    val v = version.orElse(Layout.manifestVersion(spark, tablePath))
      .getOrElse(throw new IllegalArgumentException(
        s"$tablePath is not a manifest table; seed it with " +
          "writeManifestTable"))
    val meta = Layout.readManifestMeta(spark, tablePath, v)
    // spec-less deltas (DECLARED append-only tables) have no resolution
    // to skip — every row is live, a file-level scan is exact; keyed
    // merge-on-read deltas still refuse (latest-wins needs a window)
    require(meta.deltas.isEmpty || meta.appendOnly,
      s"manifest table $tablePath has pending merge-on-read deltas in " +
        s"partitions [${meta.deltas.keys.toSeq.sorted.take(5).mkString(", ")}" +
        s"${if (meta.deltas.size > 5) ", …" else ""}]: a file-level scan " +
        "cannot resolve latest-wins — run Layout.foldManifestDeltas (or " +
        "schedule a FoldDeltas node) first, or read via " +
        "Layout.readManifest; if a streaming sink feeds this " +
        "catalog-registered table, set .option(\"mor\", \"false\") on it " +
        "so batches land copy-on-write and the SQL surface stays served")
    require(meta.colAliases.isEmpty,
      s"manifest table $tablePath has renamed column(s) whose old names " +
        s"may live in data files (${meta.colAliases.keys.toSeq.sorted
          .mkString(", ")}): a file-level scan cannot coalesce across " +
        "names — read via Layout.readManifest, or rewrite " +
        "(compactManifest maxFiles=0 + foldManifestDeltas) and " +
        "Layout.clearManifestAliases to re-enable this surface")
    val sch = Layout.manifestSchema(meta)
    // METADATA-ONLY SPEC EVOLUTION: one HadoopFsRelation has ONE
    // partition schema, so a single index can only serve generations of
    // ONE era. `spec = Some(s)` mounts exactly era s's generations
    // (Layout.manifestTable unions one index per live era — each
    // branch prunes its own spec's partition predicates exactly);
    // `spec = None` (the uniform common case) requires every live
    // generation to be under the current spec and refuses mixed tables
    // with the remedies.
    val mountSpec = spec.getOrElse(meta.partitionCols)
    require(mountSpec.forall(sch.fieldNames.contains),
      s"mounted partition spec ${mountSpec.mkString(",")} has columns " +
        s"outside the stored schema of $tablePath")
    val allGens =
      meta.entries.toSeq ++ meta.deltas.toSeq.flatMap { case (rel, gs) =>
        gs.map(rel -> _) }
    if (spec.isEmpty) {
      val foreign = allGens.map(_._1)
        .filter(Layout.specOfRel(_) != meta.partitionCols).distinct
      require(foreign.isEmpty,
        s"manifest table $tablePath has generation(s) under prior " +
          s"partition spec(s) (${foreign.take(3).mkString(", ")}" +
          s"${if (foreign.size > 3) ", …" else ""}) — a single " +
          "file-level relation serves one spec; read via " +
          "Layout.manifestTable (it unions the eras) or " +
          "Layout.readManifest, or run repartitionManifest to finish " +
          "the migration")
    }
    val gens: Seq[Gen] = allGens
      .filter { case (rel, _) => Layout.specOfRel(rel) == mountSpec }
      .sortBy(_._1).map { case (rel, g) =>
        // reverse relOf: unescape each writer-rendered `col=value`
        // fragment, then Cast back through the column's stored type —
        // the round-trip the manifest's Cast-exact discipline guarantees
        val segs = rel.split("/")
        require(segs.length == mountSpec.length,
          s"partition dir '$rel' of $tablePath does not match " +
            s"partition spec ${mountSpec.mkString(",")}")
        val vals = mountSpec.zip(segs).map { case (c, seg) =>
          require(seg.startsWith(s"$c="),
            s"partition dir segment '$seg' does not belong to column '$c'")
          val raw = ExternalCatalogUtils.unescapePathName(
            seg.substring(c.length + 1))
          if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
          else castString(raw, sch(c).dataType)
        }
        Gen(rel, g, InternalRow.fromSeq(vals))
      }
    State(meta, gens)
  }

  @volatile private var state: State = loadState()
  private def meta = state.meta
  private def gens = state.gens

  /** LIVE advance (version-absent mounts only): if the manifest pointer
    * moved since this state was loaded, atomically swap in the new
    * snapshot — refusing a publish that changed the mounted SCHEMA
    * (the relation's schema is fixed at resolution; serving rows under
    * a different shape would be silent corruption). One small-file
    * read when nothing moved. */
  private def maybeAdvance(): Unit = if (version.isEmpty) {
    val live = Layout.manifestVersion(spark, tablePath).getOrElse(
      throw new IllegalStateException(
        s"$tablePath stopped being a manifest table while mounted"))
    if (live != state.meta.version) {
      val next = loadState()
      require(next.meta.schemaDdl == state.meta.schemaDdl &&
          next.meta.partitionCols == state.meta.partitionCols,
        s"manifest table $tablePath evolved its schema after this " +
          "relation was mounted — re-create the view (or REFRESH TABLE " +
          "/ re-CREATE TABLE for a catalog registration) to pick up " +
          "the new shape")
      state = next
    }
  }

  /** The STORED schema, in stored column order (the order every other
    * manifest read presents). */
  val fullSchema: StructType = Layout.manifestSchema(meta)

  /** The table's DATA-bucket layout as Spark's own [[BucketSpec]] —
    * hand it to the HadoopFsRelation and `FileSourceScanExec` parses
    * each file's bucket id from its name, reports
    * `HashPartitioning(bucketCols, n)` and elides the shuffle exchange
    * under joins/aggregations on the bucket columns (plus bucket
    * pruning on equality filters). Sound because every write path
    * REACHABLE on a bucketed table (seed, CoW merge, SQL DML, compact,
    * migrate, repartition) routes through `Layout.clusteredWrite`,
    * which enforces the naming + placement contract
    * (`pmod(murmur3(cols), n)`, Spark's
    * `HashPartitioning.partitionIdExpression`) on every landed file —
    * and the paths that write directly (appendManifest,
    * mergeManifestDelta, and therefore foldManifestDeltas) are
    * UNREACHABLE by refusal: a bucketed table cannot be appendOnly and
    * refuses merge-on-read deltas. Relaxing either refusal without
    * routing that path through clusteredWrite would land files outside
    * the contract and break every bucketed scan.
    * Sort columns are never claimed: a bucket spans one file per
    * PARTITION DIR, and Spark's sorted-bucket fast path requires one
    * file per bucket table-wide. */
  private[graft] def dataBucketSpec:
      Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] =
    if (meta.dataBuckets > 0)
      Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(
        meta.dataBuckets, meta.dataBucketCols, Nil))
    else None

  /** The partition spec THIS mount serves — the table's current one,
    * or the prior era an explicit `spec` pinned. */
  private val mountedSpec: Seq[String] = spec.getOrElse(meta.partitionCols)

  /** Partition columns, in the writer's directory order. */
  override val partitionSchema: StructType =
    StructType(mountedSpec.map(c => fullSchema(c)))

  /** Everything else, in stored order (what this era's parquet files
    * hold — every writer stores the OTHER eras' partition columns as
    * plain data, so the split is exact per era). */
  val dataSchema: StructType =
    StructType(fullSchema.fields.filterNot(f =>
      mountedSpec.contains(f.name)))

  @transient private lazy val fs = new Path(tablePath)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  @transient private lazy val listed =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[FileStatus]]()

  private def filesOf(g: Gen): Seq[FileStatus] =
    // keyed by rel AND gen: append-only tables list several live
    // generations per rel (base + pending spec-less appends)
    listed.computeIfAbsent(s"${g.rel}/gen=${g.gen}", _ =>
      fs.listStatus(new Path(tablePath, s"${g.rel}/gen=${g.gen}")).toSeq
        .filter(st => st.isFile && {
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }))

  override def rootPaths: Seq[Path] = Seq(new Path(tablePath))
  /** Diagnostics surface: forces a full listing (bounded by partition
    * count; queries themselves never need it). */
  override def inputFiles: Array[String] =
    gens.flatMap(filesOf(_).map(_.getPath.toString)).toArray
  /** Join-sizing statistic, served from the BYTES the manifest records
    * at publish time — zero filesystem calls on the planner's hot
    * path. Manifests written before the field existed fall back to a
    * one-time full listing. */
  override def sizeInBytes: Long = {
    val rels = gens.map(_.rel).distinct
    if (meta.deltas.isEmpty && rels.forall(meta.bytes.contains))
      rels.iterator.map(meta.bytes).sum
    else gens.flatMap(filesOf(_).map(_.getLen)).sum
  }
  /** versionAsOf mounts are pinned (refresh is a no-op there); live
    * mounts advance on their own at each scan planning, and an
    * explicit REFRESH re-loads immediately. */
  override def refresh(): Unit = if (version.isEmpty) state = loadState()

  private def fieldIdx(schema: StructType, name: String): Option[Int] = {
    val i = schema.fieldNames.indexWhere(_ == name)
    if (i >= 0) Some(i)
    else { // analyzer may hand case-variant names under caseInsensitive
      val j = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      if (j >= 0) Some(j) else None
    }
  }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]):
      Seq[PartitionDirectory] = {
    maybeAdvance()
    // ONE committed snapshot per scan: everything below reads this
    // capture, never the volatile field again
    val st = state
    val meta = st.meta
    val gens = st.gens
    // 1. partition filters: exact interpreted evaluation per generation
    val afterPart =
      if (partitionFilters.isEmpty) gens
      else {
        val bound = partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = fieldIdx(partitionSchema, a.name).getOrElse(
              throw new IllegalStateException(
                s"partition filter references unknown column ${a.name}"))
            BoundReference(i, partitionSchema(i).dataType, nullable = true)
        }
        val pred = Predicate.createInterpreted(bound)
        pred.initialize(0)
        gens.filter(g => pred.eval(g.values))
      }
    if (afterPart.isEmpty) return Nil

    // 2. data filters: sound best-effort skipping on recognized
    //    conjuncts (Spark re-applies dataFilters in-plan, so ignoring
    //    a shape can only over-scan, never mis-answer)
    def statCol(e: Expression): Option[String] = e match {
      case a: AttributeReference if meta.statsCols.contains(a.name) =>
        Some(a.name)
      case _ => None
    }
    def bloomCol(e: Expression): Option[String] = e match {
      case a: AttributeReference if meta.bloomCols.contains(a.name) =>
        Some(a.name)
      case _ => None
    }
    def atLeast(e: Expression, l: Literal) =
      statCol(e).map(Skipping.Window(_, Some(l), None))
    def atMost(e: Expression, l: Literal) =
      statCol(e).map(Skipping.Window(_, None, Some(l)))
    def equal(e: Expression, l: Literal) =
      statCol(e).map(Skipping.Window(_, Some(l), Some(l))) ++
        bloomCol(e).map(Skipping.AnyOf(_, Seq(l)))
    val preds: Seq[Skipping.Pred] = dataFilters.flatMap {
      case EqualTo(e, l: Literal) => equal(e, l)
      case EqualTo(l: Literal, e) => equal(e, l)
      case GreaterThan(e, l: Literal) => atLeast(e, l)
      case GreaterThanOrEqual(e, l: Literal) => atLeast(e, l)
      case LessThan(e, l: Literal) => atMost(e, l)
      case LessThanOrEqual(e, l: Literal) => atMost(e, l)
      case GreaterThan(l: Literal, e) => atMost(e, l) // lit > x == x < lit
      case GreaterThanOrEqual(l: Literal, e) => atMost(e, l)
      case LessThan(l: Literal, e) => atLeast(e, l)
      case LessThanOrEqual(l: Literal, e) => atLeast(e, l)
      case In(e, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        bloomCol(e).map(Skipping.AnyOf(_, vs))
      case IsNotNull(e) => statCol(e).map(Skipping.NotNull)
      case _ => None // unrecognized: residual handles it
    }
    // evaluated ON THE DRIVER — listFiles runs in every query's
    // planning, so it must not launch Spark jobs
    val skip = Skipping(spark, meta, preds)
    // only what SURVIVED pruning is ever listed — and within a
    // surviving generation, FILE-level min/max (recorded per data file
    // at publish time, keyed "gen=G/name") drop the files the windows
    // refute: after a sorted compaction or a multi-batch ingest a
    // partition holds several files with disjoint ranges, and
    // partition-level stats alone would scan them all. A file with no
    // recorded entry is always kept (sound); the in-plan residual
    // keeps the result exact either way.
    afterPart.filter(g => skip.admits(meta.stats.getOrElse(g.rel, Map.empty),
        meta.blooms.getOrElse(g.rel, Map.empty)))
      .map { g =>
        val perFile = meta.fileStats.getOrElse(g.rel, Map.empty)
        val files = filesOf(g).filter(st =>
          perFile.get(s"gen=${g.gen}/${st.getPath.getName}")
            .forall(skip.admits(_)))
        PartitionDirectory(g.values, files.toArray)
      }
  }
}
