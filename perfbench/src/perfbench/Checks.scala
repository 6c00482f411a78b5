package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Output checks shared by the workloads and pinned by [[SelfTest]]. */
object Checks {

  /** Row count and an order-independent row hash (the sum of each row's
    * xxhash64, summed as a decimal so it cannot overflow). */
  def fingerprint(df: DataFrame, cols: Seq[String]): (Long, BigDecimal) = {
    val r = df.select(cols.map(col): _*)
      .agg(count(lit(1)), sum(xxhash64(cols.map(col): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Do `actual` and `expected` hold the same multiset of rows over `cols`? */
  def sameRows(rec: Recorder, name: String, actual: DataFrame,
               expected: DataFrame, cols: Seq[String]): Boolean = {
    val a = fingerprint(actual, cols)
    val e = fingerprint(expected, cols)
    rec.check(name, a == e, s"rows/hash actual=$a expected=$e")
  }

  /** Plain-Spark latest-wins: per key the row with the highest version;
    * a key whose winning row carries the delete flag is gone. */
  def latestWins(changes: DataFrame, keys: Seq[String], ver: String,
                 del: Option[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(ver).desc)
    val won = changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
    del.fold(won)(d => won.filter(!col(d)).drop(d))
  }
}
