package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.checks.{Check, CheckLevel, VerificationResult, VerificationSuite}
import graft.core.AnyAnalyzer
import graft.operators._
import graft.runners.AnalyzerContext

/** `verify_batch`: one VerificationSuite run per operation over a seeded
  * table written to parquet. About 40 constraints cover the fused scan
  * (KLL-backed approximate quantiles included), five grouping keys (one
  * unique) and a histogram. `kllSketchSatisfies` is left out: its bucket
  * counts differ from run to run over identical input (see NOTES.md).
  */
final class VerifyBatch(spark: SparkSession, dir: String, seed: Long, tracer: Tracer)
    extends Workload(spark, dir, seed, tracer) {
  import VerifyBatch._
  import Workload._

  private val path = s"$dir/batch.parquet"
  override def rowsPerOp: Long = Rows

  override def generate(): Unit =
    table(spark, seed, Rows, Parts).write.mode("overwrite").parquet(path)

  val check: Check = Check(CheckLevel.Error, "orders batch")
    .hasSize(_ == Rows)
    .isComplete("id").isComplete("k50").isComplete("amount")
    .hasCompleteness("name", _ >= 0.9).hasCompleteness("code", _ >= 0.9)
    .hasMin("amount", _ >= 0).hasMax("amount", _ < 10000)
    .hasMean("amount", m => m > 4000 && m < 6000)
    .hasSum("amount", _ > 0).hasStandardDeviation("amount", _ > 0)
    .hasMin("price", _ >= 0).hasSum("price", _ > 0).hasStandardDeviation("price", _ > 0)
    .hasMin("qty", _ >= 1).hasMax("qty", _ <= 100).hasMean("qty", _ > 1).hasSum("qty", _ > 0)
    .isNonNegative("qty").isPositive("qty")
    .isLessThanOrEqualTo("amount", "price")
    .isContainedIn("status", Statuses.toArray)
    .satisfies("k50 < 50", "k50 in range")
    .hasPattern("email", "^[a-z0-9]+@[a-z]+[.]com$", _ >= 0.9)
    .hasPattern("code", "^[0-9]+$", _ >= 0.9)
    .hasMinLength("name", _ >= 6).hasMaxLength("name", _ <= 12)
    .hasMaxLength("email", _ <= 40)
    .hasCorrelation("amount", "price", _ > 0.9)
    .hasDataType("code", "Integral", _ >= 0.9)
    .hasApproxCountDistinct("k100k", _ > 50000).hasApproxCountDistinct("email", _ > 50000)
    .hasApproxQuantile("amount", 0.5, _ > 0).hasApproxQuantile("price", 0.9, _ > 0)
    .isUnique("id")
    .hasDistinctness(Seq("k100k"), _ > 0).hasUniqueValueRatio(Seq("k100k"), _ >= 0)
    .hasEntropy("k50", _ > 3)
    .hasUniqueness(Seq("k50", "status"), _ >= 0)
    .hasNumberOfDistinctValues("name", _ > 1000)
    .hasHistogramValues("status", _.values.size == Statuses.size)

  private val analyzers: Seq[AnyAnalyzer] = check.requiredAnalyzers().distinct
  private var exact: Map[AnyAnalyzer, Any] = Map.empty
  private var exactDistinct: Map[String, Double] = Map.empty
  private var approx: Map[AnyAnalyzer, Any] = Map.empty

  override def run(op: Int): AnyRef = tracer.span("checks.run") {
    VerificationSuite().onData(spark.read.parquet(path)).addCheck(check).run()
  }

  override def afterTraced(op: Int, out: AnyRef): Unit = {
    val metrics = out.asInstanceOf[VerificationResult].metrics
    tracer.span("checks.evaluate")(check.evaluate(AnalyzerContext(metrics)))
  }

  /** Independent Spark SQL aggregates for every exact metric. */
  override def prepare(): Unit = {
    spark.read.parquet(path).createOrReplaceTempView("t")
    val scans = analyzers.flatMap(a => scanSql(a).map(a -> _))
    val values = row(spark.sql(scans.map(_._2).mkString("SELECT ", ", ", " FROM t")))
    val grouped = analyzers.flatMap(a => groupSql(a).map(q => a -> row(spark.sql(q)).head))
    val distributions = analyzers.collect {
      case h: Histogram => h -> counts(
        s"SELECT coalesce(cast(${h.column} AS STRING), 'NullValue'), count(*) FROM t GROUP BY 1")
      case d: DataTypeAnalyzer => d -> counts(
        s"""SELECT CASE WHEN ${d.column} IS NULL THEN 'Unknown'
           |  WHEN ${d.column} RLIKE '^[0-9]+$$' THEN 'Integral' ELSE 'String' END,
           |  count(*) FROM t GROUP BY 1""".stripMargin)
    }
    exact = scans.map(_._1).zip(values).toMap ++ grouped ++ distributions
    exactDistinct = analyzers.collect { case ApproxCountDistinct(c, None) =>
      c -> row(spark.sql(s"SELECT count(DISTINCT $c) FROM t")).head
    }.toMap
  }

  private def row(df: DataFrame): Seq[Double] = {
    val r = df.collect().head
    (0 until r.length).map(i => if (r.isNullAt(i)) Double.NaN else r.getAs[Number](i).doubleValue)
  }

  private def counts(q: String): Map[String, Long] =
    spark.sql(q).collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  override def check(op: Int, out: AnyRef): Seq[String] = {
    val metrics = out.asInstanceOf[VerificationResult].metrics
    analyzers.flatMap { a =>
      metrics.get(a).map(valueOf) match {
        case None => Seq(s"$a: no metric")
        case Some(Left(failure)) => Seq(failure)
        case Some(Right(v)) =>
          exact.get(a) match {
            case Some(want) => compare(a, v, want).toSeq
            case None if !approx.contains(a) =>
              approx += a -> v
              (a, v) match {
                case (ApproxCountDistinct(c, None), g: Double) =>
                  val d = exactDistinct(c)
                  if (math.abs(g - d) <= 0.1 * d) Nil
                  else Seq(s"$a: estimate $g is more than 10% off the exact $d")
                case _ => Nil
              }
            case None => compare(a, v, approx(a)).map(_ + " (differs from the first op)").toSeq
          }
      }
    }
  }
}

object VerifyBatch {
  val Rows: Long = 300000L
  val Parts = 8
  val Statuses: Seq[String] = Seq("new", "paid", "shipped", "returned", "lost", "void")

  /** ~11 columns: doubles, longs, nullable strings, a date, and keys with
    * 50, ~100k and `rows` distinct values.
    */
  def table(spark: SparkSession, seed: Long, rows: Long, parts: Int): DataFrame = {
    import Workload.uniform
    val id = col("id")
    def u(j: Int, n: Long) = uniform(seed, j, id, n)
    val amount = u(3, 80000).cast("double") / 8
    spark.range(0, rows, 1, parts).select(
      id,
      u(1, 50).as("k50"),
      u(2, 100000).as("k100k"),
      amount.as("amount"),
      (amount + u(4, 4000).cast("double") / 16).as("price"),
      (u(5, 100) + 1).as("qty"),
      when(u(6, 20) === 0, lit(null).cast("string"))
        .otherwise(concat(lit("user_"), u(2, 100000).cast("string"))).as("name"),
      when(u(7, 50) === 0, lit(null).cast("string"))
        .when(u(7, 50) === 1, lit("n/a"))
        .otherwise(u(8, 1000000).cast("string")).as("code"),
      when(u(9, 100) === 0, concat(lit("bad address "), u(10, 1000).cast("string")))
        .otherwise(concat(lit("u"), u(10, 200000).cast("string"), lit("@example.com")))
        .as("email"),
      date_add(lit("2025-01-01").cast("date"), u(11, 365).cast("int")).as("day"),
      element_at(typedLit(Statuses), (u(12, Statuses.size) + 1).cast("int")).as("status"))
  }

  /** The exact aggregate behind a fused-scan analyzer, in Spark SQL. */
  def scanSql(a: AnyAnalyzer): Option[String] = a match {
    case Size(None) => Some("count(*)")
    case Completeness(c, None) => Some(s"count($c) / count(*)")
    case Compliance(_, p, None) => Some(s"sum(CASE WHEN $p THEN 1 ELSE 0 END) / count(*)")
    case PatternMatch(c, p, None) =>
      Some(s"sum(CASE WHEN $c RLIKE '$p' THEN 1 ELSE 0 END) / count(*)")
    case Minimum(c, None) => Some(s"min($c)")
    case Maximum(c, None) => Some(s"max($c)")
    case Mean(c, None) => Some(s"avg($c)")
    case Sum(c, None) => Some(s"sum($c)")
    case StandardDeviation(c, None) => Some(s"stddev_pop($c)")
    case Correlation(x, y, None) => Some(s"corr($x, $y)")
    case MinLength(c, None, _) => Some(s"min(length($c))")
    case MaxLength(c, None, _) => Some(s"max(length($c))")
    case _ => None
  }

  /** The exact query behind a grouping analyzer, in Spark SQL. */
  def groupSql(a: AnyAnalyzer): Option[String] = {
    def freq(cols: Seq[String]) =
      s"(SELECT count(*) AS c FROM t WHERE ${cols.map(_ + " IS NOT NULL").mkString(" OR ")} " +
        s"GROUP BY ${cols.mkString(", ")})"
    a match {
      case Uniqueness(cols, None) =>
        Some(s"SELECT sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) / sum(c) FROM ${freq(cols)}")
      case Distinctness(cols, None) => Some(s"SELECT count(*) / sum(c) FROM ${freq(cols)}")
      case UniqueValueRatio(cols, None) =>
        Some(s"SELECT sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) / count(*) FROM ${freq(cols)}")
      case CountDistinct(cols) => Some(s"SELECT count(*) FROM ${freq(cols)}")
      case Entropy(c, None) =>
        Some(s"SELECT -sum(c / n * ln(c / n)) FROM ${freq(Seq(c))} " +
          s"CROSS JOIN (SELECT count($c) AS n FROM t)")
      case _ => None
    }
  }
}
