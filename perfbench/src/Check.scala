package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks against the generator's truth table.
  *
  * Every lap is checked by [[Digest]]: the kept count and an
  * order-independent digest of kept `(url, scrubbed_text)` and removed
  * `(url, drop_stage)`. A lap whose digest differs from the truth's fails.
  * [[quality]] joins one lap's output with the truth row by row to give
  * the keep/drop F1 and the share of byte-identical kept texts.
  */
object Check {

  /** Row count, XOR and sum of 64-bit row hashes. The sum catches what the
    * XOR cannot: a row written twice.
    */
  final case class Side(rows: Long, xor: Long, sum: java.math.BigDecimal)

  final case class Digest(kept: Side, removed: Side)

  private val NoRows = Side(0L, 0L, java.math.BigDecimal.ZERO)

  /** Digest of rows `(k, h)`: kept flag and row hash, in one job. */
  private def digest(rows: DataFrame): Digest = {
    val sides = rows.groupBy("k").agg(count(lit(1)), bit_xor(col("h")),
      sum(col("h").cast("decimal(38,0)"))).collect()
      .map(r => r.getBoolean(0) -> Side(r.getLong(1), r.getLong(2), r.getDecimal(3))).toMap
    Digest(sides.getOrElse(true, NoRows), sides.getOrElse(false, NoRows))
  }

  def truthDigest(truth: DataFrame): Digest = digest(truth.select(col("keep").as("k"),
    xxhash64(col("url"), when(col("keep"), col("expected")).otherwise(col("stage"))).as("h")))

  def outputDigest(spark: SparkSession, out: String): Digest = digest(
    spark.read.parquet(s"$out/kept")
      .select(lit(true).as("k"), xxhash64(col("url"), col("scrubbed_text")).as("h"))
      .unionByName(spark.read.parquet(s"$out/removed")
        .select(lit(false).as("k"), xxhash64(col("url"), col("drop_stage")).as("h"))))

  /** Why the output at `out` fails the digest check, if it does. */
  def problem(spark: SparkSession, out: String, truth: Digest): Option[String] =
    try {
      val got = outputDigest(spark, out)
      if (got == truth) None else Some(s"output digest $got != truth $truth")
    } catch { case NonFatal(e) => Some(s"output unreadable: $e") }

  /** Row-level comparison of one output with the truth.
    * `keptBytes` is the UTF-8 size of all kept scrubbed text.
    */
  final case class Quality(keepF1: Double, textExact: Double, keptBytes: Long,
                           stageCounts: Map[String, Long])

  def quality(spark: SparkSession, truth: DataFrame, out: String): Quality = {
    val kept = spark.read.parquet(s"$out/kept")
      .select(col("url").as("o_url"), col("scrubbed_text").as("o_text"))
    val j = truth.join(kept, truth("url") === kept("o_url"), "full_outer")
    val truthKeep = coalesce(col("keep"), lit(false))
    val outKeep = col("o_url").isNotNull
    val r = j.agg(
      count(when(truthKeep && outKeep, 1)),
      count(when(!truthKeep && outKeep, 1)),
      count(when(truthKeep && !outKeep, 1)),
      count(when(truthKeep && outKeep && col("o_text") === col("expected"), 1)),
      count(when(truthKeep, 1)),
      coalesce(sum(octet_length(col("o_text"))), lit(0L))).head()
    val (tp, fp, fn, exact, truthKept) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val f1 = if (2 * tp + fp + fn == 0) 1.0 else 2.0 * tp / (2 * tp + fp + fn)
    val stages = spark.read.parquet(s"$out/removed").groupBy("drop_stage").count()
      .collect().map(s => s.getString(0) -> s.getLong(1)).toMap
    Quality(f1, if (truthKept == 0) 1.0 else exact.toDouble / truthKept,
      r.getLong(5), stages)
  }
}
