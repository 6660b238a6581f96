package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runs one workload in one JVM and writes its measurements as a JSON
  * object to `--out`:
  *
  *  1. set-up, three times: session start, engine warm-up, and
  *     generating and writing the seeded input;
  *  2. the untimed reference outputs, then untimed warm-up operations for
  *     half as long as the timed loop will run (at least two);
  *  3. the timed loop: closed loop, one caller, untraced, until the
  *     operations' summed wall time reaches `--seconds`;
  *  4. retained heap and blocks once the drain has settled;
  *  5. the traced pass: one operation under the engine listeners and
  *     the bench-side spans.
  *
  * Every operation's output is checked, untimed, right after it ran.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --dir <work dir>
  *   --out <result file> --spans <span file> --cores <n>
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val dir = opt("dir")
    val cores = opt("cores").toInt

    val started = System.nanoTime()
    def phase(name: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - started) / 1e9}%.1f s: $name")
    val tracer = new Tracer
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var wl: Workload = null
    (1 to 3).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, dir)
      warmEngine(spark, dir)
      wl = Workload(workload, spark, dir, seed, tracer)
      wl.generate()
      setupS += (System.nanoTime() - t0) / 1e9
    }

    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failedOps = 0
    // `ran` sees each completed operation before its (untimed) check runs
    def attempt(op: Int)(ran: (AnyRef, Double) => Unit): Unit = {
      attempted += 1
      val t0 = System.nanoTime()
      val outcome =
        try {
          val out = wl.run(op)
          val wall = (System.nanoTime() - t0) / 1e9
          ran(out, wall)
          Right(out)
        } catch { case scala.util.control.NonFatal(e) => Left(s"op $op threw $e") }
      val problems = outcome match {
        case Right(out) => wl.check(op, out)
        case Left(thrown) => Seq(thrown)
      }
      if (problems.nonEmpty) {
        failedOps += 1
        failures ++= problems.map(p => s"op $op: $p")
      }
    }

    phase("set-up done")
    wl.prepare()
    phase("reference outputs done")
    // warm-ups 0, -1, -2, ...: at least two, then until they add up to half
    // the timed loop; a run's first operations are slower while the JIT is
    // still compiling
    var warmS = 0.0
    var w = 0
    while (w < 2 || (warmS < seconds / 2 && w < 20)) {
      attempt(-w)((_, wall) => warmS += wall)
      w += 1
    }
    phase(s"warm-up done: $w ops")

    val opS = mutable.ArrayBuffer.empty[Double]
    var op = 1
    while ((opS.isEmpty || opS.sum < seconds) && op < wl.maxOps) {
      attempt(op)((_, wall) => opS += wall)
      op += 1
    }

    phase(s"timed loop done: ${opS.size} ops")
    val blocksRetained = settledBlocks(spark)
    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    phase("drain done")

    val engine = new EngineListener
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(engine)
    tracer.enabled = true
    tracer.op = op
    var traced = Map.empty[String, Double]
    attempt(op) { (out, wall) =>
      SparkInternals.drainListenerBus(spark.sparkContext, 10000)
      val e = engine.snapshot()
      traced = e ++ Seq(
        "op_s" -> wall,
        "spark.driver_gap_s" -> (wall - e("spark.job_wall_s")),
        "spark.executor_busy_ratio" -> e.getOrElse("spark.task_run_s", 0.0) / (wall * cores))
      wl.afterTraced(op, out)
    }
    phase("traced pass done")
    tracer.enabled = false
    spark.listenerManager.unregister(engine)
    spark.sparkContext.removeSparkListener(engine)
    val layers = traced ++ tracer.totalsSnapshot()

    val fields = Seq(
      "workload" -> json(workload),
      "seed" -> seed.toString,
      "cores" -> cores.toString,
      "rows_per_op" -> wl.rowsPerOp.toString,
      "setup_s" -> nums(setupS.toSeq),
      "op_s" -> nums(opS.toSeq),
      "traced_ops" -> (if (traced.isEmpty) "0" else "1"),
      "attempted" -> attempted.toString,
      "failed" -> failedOps.toString,
      "failures" -> failures.take(50).map(json).mkString("[", ",", "]"),
      "heap_retained_mb" -> heapMb.toString,
      "blocks_retained" -> blocksRetained.toString,
      "layers" -> layers.toSeq.sortBy(_._1)
        .map { case (k, v) => json(k) + ":" + v }.mkString("{", ",", "}")) ++ wl.resultFields
    write(opt("out"), fields.map { case (k, v) => json(k) + ":" + v }.mkString("{", ",", "}"))
    write(opt("spans"), tracer.spans.map { s =>
      s"""{"name":${json(s.name)},"op":${s.op},"parent":${json(s.parent)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString("[", ",\n", "]"))
    spark.stop()
  }

  def session(cores: Int, dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A small fixed pass over the expression, aggregate and parquet
    * machinery, so the first measured work is not charged for the
    * engine's one-off class loading and code generation.
    */
  def warmEngine(spark: SparkSession, dir: String): Unit = {
    val warm = spark.range(0, 20000, 1, 4).select(
      (col("id") % 97).cast("double").as("v"), (col("id") % 5).as("g"),
      concat(lit("w "), col("id")).as("s"))
    warm.agg(sum(col("v")), stddev_pop(col("v")), approx_count_distinct(col("s")),
      sum(when(col("s").rlike("^w [0-9]+$"), 1).otherwise(0)),
      graft.sketch.KLLAggregator.sketchBytes(col("v"), 256)).collect()
    warm.groupBy(col("g")).count().collect()
    warm.write.mode("overwrite").parquet(s"$dir/warm.parquet")
    spark.read.parquet(s"$dir/warm.parquet").agg(max(col("v"))).collect()
  }

  /** RDD blocks still held once asynchronous unpersists and the context
    * cleaner have settled: collect garbage, then poll until the listener
    * bus is empty and the block count holds for two beats (bounded at 5 s).
    */
  def settledBlocks(spark: SparkSession): Int = {
    System.gc()
    val deadline = System.nanoTime() + 5000000000L
    var last = -1
    var quiet = 0
    while (quiet < 2 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val drained = SparkInternals.drainListenerBus(spark.sparkContext, 1000)
      val blocks = SparkInternals.rddBlockCount()
      if (drained && blocks == last) quiet += 1 else quiet = 0
      last = blocks
    }
    last
  }

  def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def nums(xs: Seq[Double]): String = xs.mkString("[", ",", "]")

  private def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8))
}
