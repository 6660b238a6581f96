package graft

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.graftshim.ShuffleOutputs
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{functions, DataFrame, Observation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

import graft.pipeline.{CacheLifecycle, Classify, Curation, Ranking}

/** The materialization seam ([[CacheLifecycle.truncate]] /
  * [[CacheLifecycle.releaseTruncated]]): one eager job whose
  * observations resolve, a leaf plan, one release path, recompute from
  * lineage after release, and no blocks stranded when a stage throws.
  */
class MaterializationSeamSpec extends AnyWordSpec with Matchers with SparkSpec {

  private def sc = spark.sparkContext

  private def persistedIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** Persisted RDDs created since `before` that are still persisted,
    * polled for up to 10 s — release rides the async listener bus.
    */
  private def leakedSince(before: Set[Int]): Set[Int] = {
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while ((persistedIds -- before).nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    persistedIds -- before
  }

  /** Ids of the persisted RDDs, not persisted before, that the jobs run
    * by `body` read or wrote. A sentinel job drains the listener bus.
    */
  private def persistedRddsDuring(body: => Unit): Set[Int] = {
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val sentinel = java.util.UUID.randomUUID().toString
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        js.stageInfos.flatMap(_.rddInfos)
          .filter(_.storageLevel.isValid).foreach(r => seen.add(r.id))
        if (Option(js.properties)
            .exists(_.getProperty("graft.sentinel") == sentinel)) drained.countDown()
      }
    }
    val before = persistedIds
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.sentinel", sentinel)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.sentinel", null)
      drained.await(10, SECONDS) shouldBe true
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSet -- before
  }

  private def docs: DataFrame = {
    val s = spark
    import s.implicits._
    (1L to 20L).map(i => (i, s"text body $i")).toDF("doc_id", "text")
  }

  "CacheLifecycle.truncate" should {
    "return a leaf plan whose census observation resolves with no further action" in {
      val obs = Observation("seam_census")
      val t = CacheLifecycle.truncate(
        spark.range(1000).toDF("id").observe(obs, count(lit(1)).as("v")))
      t.queryExecution.analyzed.children shouldBe empty
      Await.result(Future(obs.get), 30.seconds)("v") shouldBe 1000L
      CacheLifecycle.releaseTruncated(t)
    }

    "recompute from lineage when read after release" in {
      val t = CacheLifecycle.truncate(spark.range(1000).toDF("id"))
      CacheLifecycle.releaseTruncated(t)
      t.agg(sum("id")).head().getLong(0) shouldBe 499500L
    }

    "release its partial blocks when the evaluation throws" in {
      val before = persistedIds
      an[Exception] should be thrownBy CacheLifecycle.truncate(
        spark.range(100).toDF("id").where(
          when(col("id") === 42L, raise_error(lit("boom"))).otherwise(lit(true))))
      leakedSince(before) shouldBe empty
    }
  }

  "CacheLifecycle.releaseOnConsumeAll" should {
    "free a truncated cache once its results are consumed" in {
      val before = persistedIds
      val cache = CacheLifecycle.truncate(spark.range(100).toDF("id"))
      (persistedIds -- before) should not be empty
      val Seq(evens, odds) = CacheLifecycle.releaseOnConsumeAll(
        Seq(cache.where(col("id") % 2 === 0), cache.where(col("id") % 2 === 1)),
        Seq(cache))
      evens.count() shouldBe 50L
      odds.count() shouldBe 50L
      leakedSince(before) shouldBe empty
    }
  }

  "Curation.pipeline" should {
    "release the caches it built when a stage throws" in {
      val before = persistedIds
      an[Exception] should be thrownBy Curation.pipeline(docs, "doc_id", "text", Seq(
        Curation.KeepWhere("short", functions.length(col("text")) < 12),
        Curation.KeepWhere("boom",
          when(col("doc_id") === 3L, raise_error(lit("boom"))).otherwise(lit(true)))))
      leakedSince(before) shouldBe empty
    }

    "return the same docs when read after release" in {
      val r = Curation.pipeline(docs, "doc_id", "text", Seq(
        Curation.KeepWhere("short", functions.length(col("text")) < 12)))
      val n = r.docs.count()
      n shouldBe 9L
      r.release()
      r.docs.count() shouldBe n
    }
  }

  "Classify.NbModel" should {
    "score identically after release" in {
      val s = spark
      import s.implicits._
      val train = Seq(
        (1L, "good good nice", "hi"), (2L, "bad awful", "lo"),
        (3L, "nice good", "hi"), (4L, "awful awful bad", "lo"))
        .toDF("doc_id", "text", "label")
      val corpus = Seq((10L, "good nice zzz"), (11L, "awful bad bad"), (12L, "good bad"))
        .toDF("doc_id", "text")
      val model = Classify.trainNaiveBayes(train, "doc_id", "text", "label")
      def scores = Classify.scoreNaiveBayes(corpus, "doc_id", "text", model)
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
      val before = scores
      model.release()
      scores shouldBe before
    }
  }

  "Ranking.groupedNtile" should {
    def grouped = {
      val s = spark
      import s.implicits._
      (1 to 300).map(i => (i % 4, i.toLong)).toDF("g", "id")
    }

    "return the same buckets when consumed past its declared consumptions" in {
      val before = persistedIds
      val out = Ranking.groupedNtile(grouped, "g", Seq("id"), 3)
      val first = out.collect().map(_.toSeq).toSet
      // the first consumption releases every cache groupedNtile built
      leakedSince(before) shouldBe empty
      // and losing the range shuffle's output makes the next read rerun
      // its map stage over the released input
      out.queryExecution.analyzed.collectLeaves()
        .collect { case lr: LogicalRDD => lr.rdd }.foreach(ShuffleOutputs.drop)
      out.collect().map(_.toSeq).toSet shouldBe first
    }

    "treat a truncated input as already materialized" in {
      val viaSeam = CacheLifecycle.truncate(grouped)
      val viaCache = grouped.persist()
      viaCache.count()
      val seamNew = persistedRddsDuring(
        Ranking.groupedNtile(viaSeam, "g", Seq("id"), 3).collect())
      val cacheNew = persistedRddsDuring(
        Ranking.groupedNtile(viaCache, "g", Seq("id"), 3).collect())
      // only groupedNtile's own sort and result caches: no second copy
      // of an input the caller already materialized
      seamNew.size shouldBe cacheNew.size
      CacheLifecycle.releaseTruncated(viaSeam)
      CacheLifecycle.releaseTruncated(viaCache)
    }
  }

  "src/main" should {
    "cut lineage only at the two documented lineage cuts and keep plan leaves in the seam" in {
      val root = Paths.get("src/main/scala")
      Files.isDirectory(root) shouldBe true
      val MemberDef = """^  (?:(?:private|protected|override|final)(?:\[\w+\])?\s+)*def\s+(\w+).*""".r
      def isComment(l: String) = {
        val t = l.trim
        t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
      }
      // the member a line belongs to: the def a comment block documents,
      // else the nearest member def above the line
      def owner(lines: IndexedSeq[String], i: Int): String = {
        val after = lines.indexWhere(l => !isComment(l), i)
        val documented =
          if (isComment(lines(i)) && after >= 0) MemberDef.unapplySeq(lines(after))
          else None
        documented.orElse((i to 0 by -1).iterator
          .flatMap(j => MemberDef.unapplySeq(lines(j))).nextOption())
          .map(_.head).getOrElse("")
      }
      val sources = Files.walk(root).iterator.asScala
        .filter(_.toString.endsWith(".scala"))
        .map(p => root.relativize(p).toString ->
          Files.readAllLines(p).asScala.toIndexedSeq)
        .toSeq
      def hits(pattern: String) = for {
        (file, lines) <- sources
        (line, i) <- lines.zipWithIndex if pattern.r.findFirstIn(line).isDefined
      } yield (file, i + 1, owner(lines, i))

      val lineageCuts = Set(
        "graft/pipeline/Dedup.scala" -> "connectedComponents",
        "graft/streaming/StreamingVerification.scala" -> "truncateGroupingLineage")
      hits("localCheckpoint").filterNot { case (f, _, o) => lineageCuts((f, o)) } shouldBe empty

      val seam = (f: String) =>
        f == "graft/pipeline/CacheLifecycle.scala" ||
          f.startsWith("org/apache/spark/sql/graftshim/")
      (hits("LogicalRDD") ++ hits("""\.storageLevel\b|getStorageLevel"""))
        .filterNot(h => seam(h._1)) shouldBe empty
    }
  }
}
