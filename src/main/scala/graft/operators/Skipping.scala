package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal, XxHash64}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The one data-skipping rule of manifest tables: can a unit whose
  * stored min/max stats and bloom filters are given hold a row that
  * matches a conjunction of predicates? A unit is whatever carries such
  * maps — a hierarchical bucket (its `statsRollup`/`bloomRollup`), a
  * partition generation (`stats`/`blooms`), a data file (`fileStats`,
  * no blooms). The zone-map test of "Small Materialized Aggregates"
  * (Moerkotte, VLDB 1998), the skipping Delta Lake runs through its
  * file index. The build side's combine step lives here too
  * ([[Skipping.Rollup]]), so one module renders, parses and orders
  * every stored stats string.
  *
  * Evaluated on the DRIVER with no Spark job — query planning
  * ([[graft.plans.ManifestFileIndex]]) and the explicit readers
  * ([[Layout.readManifestEq]], [[Layout.readManifestPruned]]) both call
  * it, and every manifest publish rolls its stats up through it.
  * Comparisons use the interpreted `Cast` and the interpreted
  * ordering `BinaryComparison` uses, and bloom probes hash exactly as
  * the build side does (`xxhash64` of the value Cast to string, seed
  * 42), so pruning can never disagree with the in-plan residual.
  *
  * Soundness: a window or `IS NOT NULL` on a column whose stats are
  * `(None, None)` (or absent) prunes — no non-null value is there, and
  * no comparison matches NULL; a probe on a column with no bloom
  * keeps. A bound or probe value that casts to NULL matches nothing.
  */
private[graft] object Skipping {

  /** One conjunct on a bare stored column. Values are foldable
    * expressions (a pushed or a caller-built `Literal`), cast to
    * the column's stored type in the session zone — what the residual
    * filter compares against. */
  sealed trait Pred { def col: String }

  /** `lo <= col <= hi`; a None side is open. */
  final case class Window(col: String, lo: Option[Expression],
                          hi: Option[Expression]) extends Pred

  final case class NotNull(col: String) extends Pred

  /** `col IN (values)`, probed against the column's bloom filter. */
  final case class AnyOf(col: String, values: Seq[Expression]) extends Pred

  type Bounds = Map[String, (Option[String], Option[String])]

  /** The evaluator for `preds` over table `m`: stored strings parse, and
    * probe values render, in the table's stats zone. */
  def apply(spark: SparkSession, m: Layout.ManifestMeta,
            preds: Seq[Pred]): Skipping =
    new Skipping(Layout.manifestSchema(m), Layout.statsZone(spark, m),
      spark.sessionState.conf.sessionLocalTimeZone, preds)

  /** A stored stats string as a Catalyst value of `dt` (null if it does
    * not parse). */
  private def parse(s: String, dt: DataType, zone: String): Any =
    Cast(Literal(UTF8String.fromString(s), StringType), dt, Some(zone)).eval()

  /** A Catalyst value of `dt` as stored — `cast(v as string)` in `zone`. */
  private def render(v: Any, dt: DataType, zone: String): String =
    Cast(Literal(v, dt), StringType, Some(zone)).eval().toString

  /** The combine step for table `m`'s `statsCols`, in its stats zone. */
  def rollup(spark: SparkSession, m: Layout.ManifestMeta): Rollup =
    new Rollup(Layout.manifestSchema(m), Layout.statsZone(spark, m),
      m.statsCols)

  /** The build side of the zone map: the bounds of a coarser unit from
    * its parts' — min of mins and max of maxes per stats column (file
    * to rel, rel to bucket, a rel's live bounds widened by a delta's).
    * Values compare under the interpreted ordering and render through
    * `Cast(_, StringType, zone)`, the strings `min(c).cast("string")`
    * gives in that zone; a missing or NULL side yields the other (SQL
    * `min` skips NULLs), and on a tie the earlier part's value stays.
    * No parts, no bounds. */
  final class Rollup private[Skipping] (schema: StructType, zone: String,
                                        cols: Seq[String]) {
    private val types = cols.map(schema(_).dataType)
    private val ords = types.map(TypeUtils.getInterpretedOrdering)

    /** Bounds over parts given as Catalyst values: one (min, max) pair
      * per stats column, in `statsCols` order. */
    def ofValues(parts: Iterable[Seq[(Option[Any], Option[Any])]]): Bounds =
      if (parts.isEmpty) Map.empty
      else {
        def pick(a: Option[Any], b: Option[Any])(better: (Any, Any) => Boolean) =
          (a, b) match {
            case (Some(x), Some(y)) => if (better(y, x)) b else a
            case _ => a.orElse(b)
          }
        val folded = parts.reduceLeft { (acc, part) =>
          acc.lazyZip(part).lazyZip(ords).map {
            case ((amn, amx), (pmn, pmx), ord) =>
              (pick(amn, pmn)(ord.lt), pick(amx, pmx)(ord.gt))
          }
        }
        cols.lazyZip(types).lazyZip(folded).map { case (c, dt, (mn, mx)) =>
          c -> (mn.map(render(_, dt, zone)), mx.map(render(_, dt, zone)))
        }.toMap
      }

    /** Bounds covering every part's stored bounds. */
    def apply(parts: Iterable[Bounds]): Bounds =
      ofValues(parts.map(b => cols.zip(types).map { case (c, dt) =>
        val (mn, mx) = b.getOrElse(c, (None, None))
        (mn.flatMap(s => Option(parse(s, dt, zone))),
          mx.flatMap(s => Option(parse(s, dt, zone))))
      }))
  }
}

private[graft] final class Skipping private (schema: StructType, storedZone: String,
                              sessionZone: String,
                              preds: Seq[Skipping.Pred]) {
  import Skipping._

  private def typed(e: Expression, dt: DataType): Any =
    Cast(e, dt, Some(sessionZone)).eval()

  private val tests: Seq[(Bounds, Map[String, String]) => Boolean] =
    preds.map {
      case Window(c, lo, hi) =>
        val dt = schema(c).dataType
        val ord = TypeUtils.getInterpretedOrdering(dt)
        val l = lo.map(typed(_, dt))
        val h = hi.map(typed(_, dt))
        (stats: Bounds, _: Map[String, String]) =>
          stats.getOrElse(c, (None, None)) match {
            case (Some(mn), Some(mx)) =>
              val mnV = parse(mn, dt, storedZone)
              val mxV = parse(mx, dt, storedZone)
              mnV != null && mxV != null &&
                l.forall(v => v != null && ord.gteq(mxV, v)) &&
                h.forall(v => v != null && ord.lteq(mnV, v))
            case _ => false
          }
      case NotNull(c) =>
        (stats: Bounds, _: Map[String, String]) =>
          stats.getOrElse(c, (None, None))._1.isDefined
      case AnyOf(c, vs) =>
        val dt = schema(c).dataType
        val hashes = vs.map(typed(_, dt)).filter(_ != null).map(v =>
          XxHash64(Seq(Literal(render(v, dt, storedZone))), 42L).eval()
            .asInstanceOf[Long])
        (_: Bounds, blooms: Map[String, String]) =>
          blooms.get(c).forall { b64 =>
            val bytes = java.util.Base64.getDecoder.decode(b64)
            hashes.exists(h =>
              graft.expressions.BloomSketch.mightContain(bytes, h))
          }
    }

  /** True iff a unit with these stats (and blooms, if it has any) may
    * hold a matching row. */
  def admits(stats: Bounds, blooms: Map[String, String] = Map.empty): Boolean =
    tests.forall(_(stats, blooms))
}
