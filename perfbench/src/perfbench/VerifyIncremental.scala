package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.anomaly.RelativeRateOfChangeStrategy
import graft.checks.{Check, CheckLevel, VerificationResult, VerificationSuite}
import graft.core.{AnyAnalyzer, HdfsStateProvider}
import graft.operators.Size
import graft.repository.{FileSystemMetricsRepository, ResultKey}
import graft.runners.{AnalysisRunner, AnalyzerContext}

/** `verify_incremental`: one operation per seeded day. Each day runs a
  * VerificationSuite that merges with yesterday's states and saves
  * today's through ONE HdfsStateProvider, appends its metrics to one
  * FileSystemMetricsRepository, and checks the newest `Size` against the
  * stored history. Twelve analyzers, two of them grouping analyzers.
  */
final class VerifyIncremental(spark: SparkSession, dir: String, seed: Long, tracer: Tracer)
    extends Workload(spark, dir, seed, tracer) {
  import VerifyIncremental._
  import Workload._

  private val path = s"$dir/days.parquet"
  override def rowsPerOp: Long = DayRows
  override def maxOps: Int = Days

  override def generate(): Unit =
    VerifyBatch.table(spark, seed, Days * DayRows, Days)
      .withColumn("day", (col("id") / DayRows).cast("int") + 1)
      .write.mode("overwrite").partitionBy("day").parquet(path)

  val check: Check = Check(CheckLevel.Error, "daily orders")
    .hasSize(_ > 0)
    .isComplete("id").hasCompleteness("name", _ >= 0.9)
    .hasMin("amount", _ >= 0).hasMax("amount", _ < 10000).hasMean("amount", _ > 0)
    .hasSum("qty", _ > 0).hasStandardDeviation("amount", _ > 0)
    .isNonNegative("qty")
    .hasMaxLength("name", _ <= 12)
    .isUnique("id")
    .hasEntropy("k50", _ > 3)

  private val analyzers: Seq[AnyAnalyzer] = check.requiredAnalyzers().distinct

  private def days(upTo: Int): DataFrame =
    spark.read.parquet(path).where(col("day") <= upTo).drop("day")

  private def day(d: Int): DataFrame =
    spark.read.parquet(path).where(col("day") === d).drop("day")

  override def run(op: Int): AnyRef = {
    // each warm-up reads day 1 into a history of its own
    val history = if (op <= 0) s"$dir/warmup$op" else s"$dir/history"
    val provider = new TimedStateProvider(new HdfsStateProvider(spark, s"$history/state/s"), tracer)
    val d = math.max(op, 1)
    tracer.span("checks.run") {
      VerificationSuite().onData(day(d))
        .addCheck(check)
        .aggregateWith(provider).saveStatesWith(provider)
        .useRepository(new TimedRepository(
          new FileSystemMetricsRepository(spark, s"$history/metrics.json"), tracer))
        .saveOrAppendResult(ResultKey(d * 86400000L, Map("table" -> "orders")))
        .addAnomalyCheck(
          RelativeRateOfChangeStrategy(maxRateDecrease = Some(0.5), maxRateIncrease = Some(2.0)),
          Size())
        .run()
    }
  }

  override def afterTraced(op: Int, out: AnyRef): Unit = {
    val metrics = out.asInstanceOf[VerificationResult].metrics
    tracer.span("checks.evaluate")(check.evaluate(AnalyzerContext(metrics)))
    tracer.add("core.state_bytes", bytesUnder(new File(s"$dir/history/state")).toDouble)
    tracer.add("repository.file_bytes", new File(s"$dir/history/metrics.json").length.toDouble)
  }

  /** Each day's metrics must equal one full run over days 1..d. */
  override def check(op: Int, out: AnyRef): Seq[String] = {
    val d = math.max(op, 1)
    val want = AnalysisRunner.run(days(d), analyzers).metricMap
    val got = out.asInstanceOf[VerificationResult].metrics
    analyzers.flatMap { a =>
      (got.get(a).map(valueOf), want.get(a).map(valueOf)) match {
        case (None, _) => Seq(s"day $d: $a: no metric")
        case (Some(Left(failure)), _) => Seq(s"day $d: $failure")
        case (_, Some(Left(failure))) => Seq(s"day $d: reference $failure")
        case (Some(Right(g)), Some(Right(w))) => compare(a, g, w).map(s"day $d: " + _).toSeq
        case (_, None) => Seq(s"day $d: $a: no reference metric")
      }
    }
  }
}

object VerifyIncremental {
  val DayRows: Long = 50000L
  val Days = 40

  def bytesUnder(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).toSeq.flatten.map(bytesUnder).sum
}
