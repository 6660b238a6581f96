package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.pipeline.{Curation, Mixing}

/** `curate`: the public Curation.pipeline with q136's five stages over a
  * seeded word-salad corpus shaped like `documents.parquet`. Each
  * operation builds the pipeline, consumes `docs` through
  * Mixing.shardStats, reads the censuses and releases the caches.
  *
  * The outputs are checked outside the JVM: the q96/q136 DuckDB oracle
  * (SparkEntry.oracleSql) is written next to the corpus and replayed on it.
  */
final class Curate(spark: SparkSession, dir: String, seed: Long, tracer: Tracer)
    extends Workload(spark, dir, seed, tracer) {
  import Curate._

  private val path = s"$dir/documents.parquet"
  private val outputs = scala.collection.mutable.ArrayBuffer.empty[(Int, Seq[Double])]
  override def rowsPerOp: Long = Docs

  override def generate(): Unit = corpus(spark, seed, Docs).write.mode("overwrite").parquet(path)

  override def prepare(): Unit =
    Files.write(Paths.get(s"$dir/oracle.sql"),
      graft.SparkEntry.oracleSql("q136_curation_builder").getBytes(StandardCharsets.UTF_8))

  override def run(op: Int): AnyRef = {
    val docs = spark.read.parquet(path).where(col("doc_id").isNotNull)
    val withFooter = docs.select(col("doc_id"), col("source"),
      when(pmod(col("doc_id"), lit(3)) =!= 2,
        concat(col("text"), lit("\nFOOTER "), col("source"),
          lit(" all rights reserved"))).otherwise(col("text")).as("text"))
    val isKeep = pmod(col("doc_id"), lit(2)) === 0
    val marker = when(isKeep, lit("qkeepa qkeepb qkeepa qkeepb qkeepa qkeepb"))
      .otherwise(lit("qtossa qtossb qtossa qtossb qtossa qtossb"))
    val g = floor(col("doc_id") / 5).cast(LongType)
    val host = concat(lit("s"), pmod(g, lit(20)).cast(StringType), lit(".example.com"))
    val urlPath = concat(lit("/p/"), g.cast(StringType))
    val m5 = pmod(col("doc_id"), lit(5))
    val url = when(pmod(col("doc_id"), lit(97)) === 0, lit("page moved"))
      .when(m5 === 0, concat(lit("https://www."), host, urlPath))
      .when(m5 === 1, concat(lit("HTTPS://"), host, lit(":443"), urlPath, lit("/")))
      .when(m5 === 2, concat(lit("https://user:pw@"), host, urlPath,
        lit("?utm_source=x&fbclid="), col("doc_id").cast(StringType)))
      .when(m5 === 3, concat(lit("https://"), host, urlPath, lit("?b=2&a=1#frag")))
      .otherwise(concat(lit("https://"), host, urlPath, lit("?a=1&utm_medium=y&b=2")))
    val r = tracer.span("pipeline.build") {
      Curation.pipeline(withFooter, "doc_id", "text", Seq(
        Curation.RemoveBoilerplate("source", maxDocFrac = 0.4, minDocs = 5),
        Curation.MapText("mark", concat_ws(" ", col("text"), marker)),
        Curation.QualityClassifier(
          labelExpr = when(isKeep, lit("keep")).otherwise(lit("toss")),
          seedPredicate = pmod(col("doc_id"), lit(10)) < 2),
        Curation.PerplexityKeep("source", nBuckets = 3, keepMaxBucket = 2),
        Curation.UrlDedup(url)),
        persistInput = false)
    }
    val shards = tracer.span("pipeline.consume") {
      Mixing.shardStats(r.docs, "doc_id", "text", 8)
        .agg(count(lit(1)),
          coalesce(sum(col("n_docs")), lit(0L)),
          coalesce(sum(col("n_tokens")), lit(0L)),
          coalesce(sum(col("id_sum")), lit(0L)),
          coalesce(max(col("n_docs")), lit(0L)),
          coalesce(min(col("n_docs")), lit(0L)))
        .collect().head
    }
    val c = tracer.span("pipeline.censuses")(r.censuses.toMap)
    tracer.span("pipeline.release")(r.release())
    Seq(c("input_docs"), c("boiler_removed_lines"), c("quality_kept"), c("perplexity_kept"),
      shards.getLong(1).toDouble, shards.getLong(2).toDouble, shards.getLong(3).toDouble,
      shards.getLong(0).toDouble, shards.getLong(4).toDouble, shards.getLong(5).toDouble)
  }

  override def afterTraced(op: Int, out: AnyRef): Unit =
    tracer.add("pipeline.blocks_after_release", Main.settledBlocks(spark).toDouble)

  /** Recorded here, compared with the DuckDB oracle after the JVM exits. */
  override def check(op: Int, out: AnyRef): Seq[String] = {
    outputs += op -> out.asInstanceOf[Seq[Double]]
    Nil
  }

  override def resultFields: Seq[(String, String)] = Seq(
    "documents" -> Main.json(path),
    "oracle_sql" -> Main.json(s"$dir/oracle.sql"),
    "output_columns" -> OutputColumns.map(Main.json).mkString("[", ",", "]"),
    "outputs" -> outputs.map { case (op, vs) =>
      s"""{"op":$op,"values":${vs.map(v => f"$v%.1f").mkString("[", ",", "]")}}"""
    }.mkString("[", ",", "]"))
}

object Curate {
  val Docs: Long = 5000L
  val Sources = 20
  val OutputColumns: Seq[String] = Seq("n_input", "boiler_removed", "nb_kept", "perp_kept",
    "final_docs", "final_tokens", "final_id_sum", "shards_nonempty", "max_shard_docs",
    "min_shard_docs")

  private val Vocab = Seq("a", "the", "data", "spark", "query", "table", "scan", "sort",
    "hash", "join", "group", "filter", "window", "stream", "batch", "value", "key", "row",
    "column", "order", "line", "part", "vector", "fast", "slow", "big", "small", "merge",
    "agg", "customer", "index", "plan", "cache", "shard", "token", "model", "score", "page",
    "text", "word")
  private val Langs = Seq("en", "en", "en", "de", "fr", "es", "zh")

  /** Word-salad documents (doc_id, text, lang, source, n_chars). Half the
    * documents of a source open with the source's navigation line, a
    * boilerplate line the first stage removes.
    */
  def corpus(spark: SparkSession, seed: Long, docs: Long): DataFrame = {
    import Workload.{hash, uniform}
    val id = col("id")
    val words = transform(sequence(lit(1), (uniform(seed, 1, id, 60) + 8).cast("int")),
      i => element_at(typedLit(Vocab),
        (pmod(hash(seed, 2, id * 1000 + i), lit(Vocab.size.toLong)) + 1).cast("int")))
    val source = concat(lit("src"), uniform(seed, 3, id, Sources).cast("string"))
    val body = array_join(words, " ")
    val text = when(uniform(seed, 4, id, 2) === 0,
      concat(lit("home | news | about "), source, lit("\n"), body)).otherwise(body)
    spark.range(0, docs, 1, 4).select(
      id.as("doc_id"), text.as("text"),
      element_at(typedLit(Langs), (uniform(seed, 5, id, Langs.size) + 1).cast("int")).as("lang"),
      source.as("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType))
  }
}
