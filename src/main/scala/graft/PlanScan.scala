package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}

/** Plan audit over every registered query: cross/non-equi joins must be
  * STRUCTURALLY justified, not name-allowlisted (an allowlist has to be
  * re-curated for every composition that embeds an intended-NLJ operator,
  * and a stale list is how a real cartesian eventually gets ignored).
  */
object PlanScan {

  /** Nested-loop joins in `df`'s plan that are NOT provably intended.
    *
    * A join that physically executes as CartesianProduct /
    * BroadcastNestedLoopJoin is justified only when the optimized
    * logical Join shows the developer proved (or asserted) tininess:
    *  - a side carries an explicit `broadcast()` hint — the crossjoin-
    *    by-design pattern (scalar-threshold attach, bounded query sets);
    *  - a side has a static `maxRows` bound <= 1 — scalar aggregates
    *    (`agg` without grouping) and single-row limits, including the
    *    joins Catalyst itself synthesizes for scalar subqueries.
    * Everything else is a genuine cartesian risk and is returned, one
    * description per offending join; empty = clean.
    */
  /** Every FileSourceScanExec in an EXECUTED plan, walking THROUGH the
    * adaptive wrappers (AdaptiveSparkPlanExec / QueryStageExec report
    * no children) — the one traversal every scan-metric assertion
    * (gates m60/m62/m64) shares. */
  def fileScans(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      fileScans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      fileScans(q.plan)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case other => other.children.flatMap(fileScans)
  }

  /** Every shuffle exchange in an EXECUTED plan, walking through the
    * adaptive wrappers — the "did bucketing / co-partitioning elide
    * the exchange" assertion (gate m84, ManifestBucketSpec). */
  def shuffles(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      shuffles(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      shuffles(q.plan)
    case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
      e +: e.children.flatMap(shuffles)
    case other => other.children.flatMap(shuffles)
  }

  /** Total `numFiles` metric across the (executed) plan's file scans,
    * optionally restricted to manifest-index-backed scans. */
  def scannedFiles(df: DataFrame, manifestOnly: Boolean = false): Long =
    fileScans(df.queryExecution.executedPlan)
      .filter(f => !manifestOnly || f.relation.location
        .isInstanceOf[graft.plans.ManifestFileIndex])
      .map(_.metrics("numFiles").value).sum

  def unjustifiedNlj(df: DataFrame): Seq[String] = {
    val physical = df.queryExecution.executedPlan.toString
    if (!physical.contains("CartesianProduct") &&
        !physical.contains("BroadcastNestedLoopJoin")) Nil
    else df.queryExecution.optimizedPlan.collect {
      case j: Join if isNestedLoop(j) && !justified(j) =>
        s"${j.joinType} join without equi keys " +
          s"(left maxRows=${j.left.maxRows.getOrElse("?")}, " +
          s"right maxRows=${j.right.maxRows.getOrElse("?")}, no broadcast hint)"
    }
  }

  /** No equality conjunct anywhere in the condition -> the planner has
    * no shuffle/hash keys and must nest-loop the join. */
  private def isNestedLoop(j: Join): Boolean =
    !j.condition.exists(_.exists {
      case _: EqualTo | _: EqualNullSafe => true
      case _ => false
    })

  private def justified(j: Join): Boolean = {
    val hinted = j.hint.leftHint.exists(_.strategy.contains(BROADCAST)) ||
      j.hint.rightHint.exists(_.strategy.contains(BROADCAST))
    val tiny = j.left.maxRows.exists(_ <= 1L) ||
      j.right.maxRows.exists(_ <= 1L)
    hinted || tiny
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.configure(SparkSession.builder()
      .master("local[4]").config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        val plan = df.queryExecution.executedPlan.toString
        val nlj = plan.contains("CartesianProduct") ||
          plan.contains("BroadcastNestedLoopJoin")
        val bad = if (nlj) unjustifiedNlj(df) else Nil
        val flags = Seq(
          if (bad.nonEmpty) Some(s"UNEXPECTED-NLJ[${bad.mkString("; ")}]") else None,
          if (nlj && bad.isEmpty) Some("nlj-intended") else None,
          if (plan.contains("SortMergeJoin")) Some("smj") else None).flatten
        if (flags.nonEmpty) println(f"SCAN $name%-28s ${flags.mkString(",")}")
      } catch { case e: Throwable => println(s"SCAN $name ERROR ${e.getMessage.take(60)}") }
    }
    spark.stop()
  }
}
