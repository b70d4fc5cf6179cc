package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.engine.Validator

/** Output checks that do not trust the code under test: the expected
  * violations are the union of the engine's standalone public checks, never
  * `allViolations`, which the sinks are built from.
  */
object Expect {

  /** Per-rule row counts plus an order-insensitive multiset hash (the sum of
    * each row's 64-bit hash, kept exact as a decimal).
    */
  final case class Digest(perRule: Map[String, Long], hash: BigDecimal) {
    def rows: Long = perRule.values.sum
  }

  def digest(violations: DataFrame): Digest = {
    val rowHash = xxhash64(col("conv_id"), col("turn_idx").cast("int"),
      col("part_id").cast("int"), col("rule_id"), col("field"), col("message"), col("text"))
    val rows = violations.groupBy("rule_id")
      .agg(count(lit(1)).as("n"), sum(rowHash.cast("decimal(38,0)")).as("h"))
      .collect()
    Digest(rows.map(r => r.getString(0) -> r.getLong(1)).toMap,
      rows.map(r => BigDecimal(r.getDecimal(2))).sum)
  }

  /** rowViolations ∪ tsOrderViolations ∪ dupViolations ∪ orphanViolations. */
  def referenceViolations(turns: DataFrame, convs: DataFrame): DataFrame = {
    val cols = Validator.violationCols.map(col)
    Seq(
      Validator.rowViolations(turns),
      Validator.tsOrderViolations(turns),
      Validator.dupViolations(turns),
      Validator.orphanViolations(turns, convs)).map(_.select(cols: _*)).reduce(_ unionByName _)
  }

  /** Every message strict mode may raise: the rows of the reference that tie
    * on the minimum (conv_id, turn_idx, rule_id), rendered as strict mode
    * renders them.
    */
  def strictMessages(reference: DataFrame): Set[String] = {
    val first = reference.orderBy("conv_id", "turn_idx", "rule_id").limit(1).collect()
    first.headOption.toSet[Row].flatMap { r =>
      reference
        .filter(col("conv_id") === r.getAs[String]("conv_id") &&
          col("turn_idx") === r.getAs[Int]("turn_idx") &&
          col("rule_id") === r.getAs[String]("rule_id"))
        .select("message", "rule_id", "conv_id", "turn_idx").collect()
        .map(m => s"${m.getString(0)} (rule=${m.getString(1)}, conv_id=${m.getString(2)}, " +
          s"turn_idx=${m.getInt(3)})")
    }
  }

  /** Funnel stages every corpus_funnel input must exercise. */
  val dropStages: Seq[String] = Seq("lang", "quality", "exact_dup", "near_dup",
    "contaminated", "boilerplate", "lm_outlier", "mixture")

  /** Problems with a funnel report over `nDocs` inputs, empty when it is sound. */
  def funnelProblems(funnel: Map[String, Long], nDocs: Long): Seq[String] = {
    val sum = funnel.values.sum
    val missing = dropStages.filterNot(s => funnel.getOrElse(s, 0L) > 0)
    (if (sum != nDocs) Seq(s"funnel sums to $sum, expected $nDocs") else Nil) ++
      (if (missing.nonEmpty) Seq(s"stages dropping nothing: ${missing.mkString(",")}") else Nil) ++
      (if (!funnel.keys.exists(_.startsWith("kept:"))) Seq("no document kept") else Nil)
  }

  def keptCount(funnel: Map[String, Long]): Long =
    funnel.collect { case (k, v) if k.startsWith("kept:") => v }.sum
}
