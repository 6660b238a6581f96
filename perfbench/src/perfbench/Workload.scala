package perfbench

import scala.util.{Failure, Success}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{AnyAnalyzer, Distribution, Metric}

/** One benchmark workload. An operation is one call sequence into the
  * library's public API; everything else here is untimed preparation or
  * checking.
  */
abstract class Workload(val spark: SparkSession, val dir: String, val seed: Long,
    val tracer: Tracer) {

  /** Input rows one operation processes (documents, for curation). */
  def rowsPerOp: Long

  /** Generates the seeded input and writes it under `dir` (set-up). */
  def generate(): Unit

  /** Untimed: the reference outputs the checks compare against. */
  def prepare(): Unit = ()

  /** Operations the input supports; the timed loop stops there. */
  def maxOps: Int = Int.MaxValue

  /** One operation; operations numbered 0 or below are warm-ups. */
  def run(op: Int): AnyRef

  /** Traced pass only, after the operation's window has closed. */
  def afterTraced(op: Int, out: AnyRef): Unit = ()

  /** Untimed: a description of every wrong output, empty when correct. */
  def check(op: Int, out: AnyRef): Seq[String]

  /** Extra fields for the result file (outputs checked outside the JVM). */
  def resultFields: Seq[(String, String)] = Nil
}

object Workload {
  def apply(name: String, spark: SparkSession, dir: String, seed: Long,
      tracer: Tracer): Workload = name match {
    case "verify_batch" => new VerifyBatch(spark, dir, seed, tracer)
    case "verify_incremental" => new VerifyIncremental(spark, dir, seed, tracer)
    case "curate" => new Curate(spark, dir, seed, tracer)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  /** A seeded pseudo-random long per row: stream `j` of `seed`. */
  def hash(seed: Long, j: Int, id: Column): Column = xxhash64(lit(seed), lit(j), id)

  /** A seeded value uniform over [0, n). */
  def uniform(seed: Long, j: Int, id: Column, n: Long): Column = pmod(hash(seed, j, id), lit(n))

  /** Relative tolerance for floating-point metrics whose summation order
    * differs between the library and its reference computation.
    */
  val RelTol = 1e-9

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= RelTol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** The value a metric reports, or the reason it has none. */
  def valueOf(m: Metric[_]): Either[String, Any] = m.value match {
    case Success(v) => Right(v)
    case Failure(e) => Left(s"${m.name}(${m.instance}) failed: " +
      String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(200))
  }

  /** Compares a metric value with its expected value. */
  def compare(a: AnyAnalyzer, got: Any, want: Any): Option[String] = (got, want) match {
    case (g: Double, w: Double) =>
      if (close(g, w)) None else Some(s"$a: got $g, want $w")
    case (g: Distribution, w: Map[_, _]) =>
      val counts = g.values.collect { case (k, v) if v.absolute > 0 => k -> v.absolute }
      if (counts == w && g.numberOfBins == w.size) None
      else Some(s"$a: got $counts (${g.numberOfBins} bins), want $w")
    case (g, w) => if (g == w) None else Some(s"$a: got $g, want $w")
  }
}
