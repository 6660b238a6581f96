package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Deduplication for large-scale training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Scale design notes:
  * - exact dedup = one hash-shuffle on the dedup key (or its xxhash64 for
  *   wide keys), no sort, map-side partial aggregation
  * - MinHash: signatures are pure column expressions (no UDF); LSH banding
  *   turns the quadratic pair search into an equi-join on (band, bandHash),
  *   so candidate generation is a shuffle on band keys; only bucket-mates
  *   are verified. Skewed buckets are capped to bound worst-case blowup.
  * - SimHash: 64-bit signature from pure expressions; near-dup candidates
  *   via banded equality on signature chunks (Hamming ≤ k ⇒ some chunk equal).
  */
object Dedup {

  /** Named-observation channel for the MinHash-band / SimHash-chunk bucket
    * caps (the Dedup twin of [[Similarity.LshCapObservation]]): every
    * capped candidate-generation pass reports `excluded_rows` (rows the
    * cap dropped — nonzero means the parameterization is silently losing
    * recall) and `banded_rows` under an observation named
    * `graft_dedup_cap_<n>`. Read from `QueryExecution.observedMetrics` or
    * a `QueryExecutionListener`.
    */
  object DedupCapObservation {
    val Prefix = "graft_dedup_cap_"
    private val counter = new java.util.concurrent.atomic.AtomicLong()
    private[pipeline] def nextName(): String = Prefix + counter.incrementAndGet()
  }

  // -------------------------------------------------------------------------
  // Exact deduplication
  // -------------------------------------------------------------------------

  /** Keep exactly one row per distinct key, deterministically (smallest
    * `tieBreaker`). ONE exchange on the key columns with map-side PARTIAL
    * aggregation: duplicates collapse before the shuffle, so shuffle volume
    * tracks distinct keys, not input rows — the win over a row_number
    * window, which ships every row. (Physically Spark picks SortAggregate
    * here — struct-typed min_by buffers are not hash-aggregable — but the
    * per-partition sort feeds the combiner; there is no global sort and no
    * Window. Asserted in PlanAuditSpec.)
    */
  def exact(df: DataFrame, keys: Seq[String], tieBreaker: String): DataFrame = {
    val allCols = df.columns.toSeq
    // ordering struct: nulls LAST (min_by skips rows whose ordering value
    // is null — a group of all-null tieBreakers would otherwise collapse
    // to one garbage all-NULL row), ties broken by a row hash so equal
    // tieBreakers pick the same survivor on every run
    val ordering = struct(
      col(tieBreaker).isNull.as("graft_null"),
      col(tieBreaker).as("graft_tb"),
      xxhash64(allCols.map(col): _*).as("graft_h"))
    df.groupBy(keys.map(col): _*)
      .agg(min_by(struct(allCols.map(col): _*), ordering).as("graft_row"))
      .select(col("graft_row.*"))
  }

  /** (rows kept, duplicate rows dropped) without materializing the result.
    * One groupBy job computes both: distinct keys AND total rows come out
    * of the same frequency aggregation.
    */
  def exactCounts(df: DataFrame, keys: Seq[String]): (Long, Long) = {
    val row = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("graft_c"))
      .agg(count(lit(1)), coalesce(sum(col("graft_c")), lit(0L)))
      .collect().head
    val kept = row.getLong(0)
    (kept, row.getLong(1) - kept)
  }

  // -------------------------------------------------------------------------
  // MinHash + LSH near-duplicate detection
  // -------------------------------------------------------------------------

  /** Word n-gram shingles of the normalized text, as an array column. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = TextAnalysis.normalizedTokens(text)
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - lit(n)),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
      .otherwise(when(size(toks) > 0, array(concat_ws(" ", toks))).otherwise(array()))
  }

  /** 64-bit hashes of a shingle-array column — hash each shingle STRING
    * exactly once; every downstream per-seed pass then works on fixed-width
    * longs instead of re-hashing variable-length strings.
    */
  def shingleHashes(shinglesCol: Column): Column =
    transform(shinglesCol, s => xxhash64(s))

  /** Per-token 64-bit hashes. */
  def tokenHashes(text: Column): Column =
    transform(TextAnalysis.normalizedTokens(text), t => xxhash64(t))

  // -- fast per-partition signature computation ------------------------------
  //
  // Signature building (tokenize -> shingle hash -> per-seed min) is per-row
  // imperative work with no relational structure; the equivalent
  // higher-order-function column expressions run interpreted (HOFs are
  // outside whole-stage codegen) and were the near-dup hot spot. This is the
  // one place the engine drops to mapPartitions — everything downstream
  // (banding, bucket join, verification join) stays declarative.

  /** splitmix64 — deterministic 64-bit mixer (public-domain constant set). */
  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** 64-bit token identity: two independent 32-bit murmur passes packed
    * into one long, then mixed — a single 32-bit hash would hit birthday
    * collisions around ~10^5 distinct tokens and silently merge shingles.
    * Locale.ROOT lowercasing matches Spark's lower() / DuckDB's lower()
    * regardless of the JVM default locale (tr_TR dotless-i etc.).
    */
  private def scalaTokenHashes(text: String): Array[Long] = {
    // built ON scalaTokens so tokenization cannot drift between the hash
    // path and the string-reconstruction path (exactSubstringDedup relies
    // on hash i describing exactly token i)
    val toks = scalaTokens(text)
    val out = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      val h1 = scala.util.hashing.MurmurHash3.stringHash(t, 0x9747b28c)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(t, 0x1b873593)
      out(i) = mix64((h1.toLong << 32) | (h2.toLong & 0xFFFFFFFFL))
      i += 1
    }
    out
  }

  private def scalaShingleHashes(th: Array[Long], n: Int): Array[Long] = {
    if (th.length == 0) return Array.empty
    if (th.length < n) {
      var acc = 0L
      var i = 0
      while (i < th.length) { acc = mix64(acc ^ th(i)); i += 1 }
      return Array(acc)
    }
    val set = new java.util.HashSet[Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long](th.length - n + 1)
    var i = 0
    while (i <= th.length - n) {
      var acc = 0L
      var k = 0
      while (k < n) { acc = mix64(acc ^ th(i + k)); k += 1 }
      if (set.add(acc)) out += acc
      i += 1
    }
    out.toArray
  }

  private def scalaMinHash(hs: Array[Long], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var s = 0
      while (s < numHashes) {
        val v = mix64(h ^ (s.toLong * 0xD6E8FEB86659FD93L))
        if (v < sig(s)) sig(s) = v
        s += 1
      }
      i += 1
    }
    sig
  }

  /** (id, shingle-hash set, minhash signature) computed in one tight
    * per-partition pass. Deterministic; no shuffle.
    */
  private def signatureFrame(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, shingleSize: Int): DataFrame = {
    val idField = df.schema(df.schema.fieldIndex(idCol))
    val outSchema = StructType(Seq(
      idField.copy(name = "graft_id"),
      StructField("graft_hs", ArrayType(LongType), nullable = false),
      StructField("graft_sig", ArrayType(LongType), nullable = false)))
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(outSchema)
    graft.core.Parallelism.floor(df.select(col(idCol), col(textCol)))
      .mapPartitions { rows =>
      rows.map { r =>
        val hs = scalaShingleHashes(
          scalaTokenHashes(if (r.isNullAt(1)) null else r.getString(1)), shingleSize)
        org.apache.spark.sql.Row(r.get(0), hs.toSeq, scalaMinHash(hs, numHashes).toSeq)
      }
    }
  }

  /** EVERY text signature the dedup family consumes, in ONE per-partition
    * pass: (graft_id, graft_hs shingle-hash set, graft_sig minhash
    * signature, graft_sim simhash). At scale the tokenize+hash scan over
    * the text dominates near-dup cost — callers running BOTH the MinHash
    * and SimHash analyses (plus exact-Jaccard audits) over one corpus
    * should compute this once, persist it, and feed the
    * ...FromSignatures variants, paying one scan instead of three.
    */
  def textSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      shingleSize: Int = 3): DataFrame = {
    val idField = df.schema(df.schema.fieldIndex(idCol))
    val outSchema = StructType(Seq(
      idField.copy(name = "graft_id"),
      StructField("graft_hs", ArrayType(LongType), nullable = false),
      StructField("graft_sig", ArrayType(LongType), nullable = false),
      StructField("graft_sim", LongType, nullable = false)))
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(outSchema)
    graft.core.Parallelism.floor(df.select(col(idCol), col(textCol)))
      .mapPartitions { rows =>
      rows.map { r =>
        val th = scalaTokenHashes(if (r.isNullAt(1)) null else r.getString(1))
        val hs = scalaShingleHashes(th, shingleSize)
        org.apache.spark.sql.Row(r.get(0), hs.toSeq,
          scalaMinHash(hs, numHashes).toSeq, scalaSimHash(th))
      }
    }
  }

  /** One output row per DISTINCT token n-gram hash per input row:
    * (`idCol`, graft_gram) — the streaming imperative twin of
    * [[shingleHashesFromTokenHashes]], for consumers that feed the gram
    * stream straight into a join (decontamination) instead of building a
    * per-row array column. Same hot-loop rationale as [[textSignatures]]:
    * the HOF gram expressions run interpreted and build an n-token STRING
    * per position, while this walks the token-hash array at memory
    * bandwidth. Rows with fewer than `n` tokens emit one whole-text gram
    * when `shortDocFallback` is set (the shingle-set convention) and
    * NOTHING otherwise — pass false instead of pre-filtering short docs
    * with a SQL token count, which would tokenize the corpus twice;
    * empty/null text emits nothing either way.
    */
  private[pipeline] def gramHashRows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      shortDocFallback: Boolean = true): DataFrame = {
    val idField = df.schema(df.schema.fieldIndex(idCol))
    val outSchema = StructType(Seq(
      idField.copy(name = idCol),
      StructField("graft_gram", LongType, nullable = false)))
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(outSchema)
    graft.core.Parallelism.floor(df.select(col(idCol), col(textCol)))
      .mapPartitions { rows =>
      rows.flatMap { r =>
        val th = scalaTokenHashes(if (r.isNullAt(1)) null else r.getString(1))
        if (!shortDocFallback && th.length < n) Iterator.empty
        else scalaShingleHashes(th, n).iterator
          .map(g => org.apache.spark.sql.Row(r.get(0), g))
      }
    }
  }

  /** Shingle-set hashes straight from token hashes: the hash of an n-gram
    * is the hash of its n consecutive token hashes — no n-gram STRING is
    * ever built (no slice/concat/string alloc), and set identity is
    * preserved with 64-bit collision probability.
    */
  def shingleHashesFromTokenHashes(tokenHashesCol: Column, n: Int = 3): Column = {
    val ngram = when(size(tokenHashesCol) >= n,
      array_distinct(transform(
        sequence(lit(0), size(tokenHashesCol) - lit(n)),
        i => xxhash64((1 to n).map(k => element_at(tokenHashesCol, i + lit(k))): _*))))
    // short docs: one shingle = hash of the whole token-hash array
    ngram.otherwise(
      when(size(tokenHashesCol) > 0, array(xxhash64(tokenHashesCol)))
        .otherwise(array().cast(ArrayType(LongType))))
  }

  /** MinHash signature from an ALREADY MATERIALIZED shingle-HASH column.
    * Materializing first matters twice over: (a) higher-order functions
    * inline their argument subtree, so passing the raw shingle expression
    * would re-tokenize the text once per hash seed (64x); (b) hashing the
    * string per seed makes each seed O(shingle length) — re-hashing the
    * 8-byte long is O(1) per seed.
    */
  def minHashSignatureFromHashes(hashesCol: Column, numHashes: Int = 64): Column =
    transform(
      sequence(lit(0), lit(numHashes - 1)),
      seed =>
        when(size(hashesCol) > 0,
          array_min(transform(hashesCol, h => xxhash64(h, seed))))
          .otherwise(lit(Long.MaxValue)))

  def minHashSignatureFromShingles(shinglesCol: Column, numHashes: Int = 64): Column =
    minHashSignatureFromHashes(shingleHashes(shinglesCol), numHashes)

  /** Convenience: signature straight from text (materializes internally
    * when used via minHashCandidatePairs).
    */
  def minHashSignature(text: Column, numHashes: Int = 64, shingleSize: Int = 3): Column =
    minHashSignatureFromShingles(shingles(text, shingleSize), numHashes)

  /** Candidate near-duplicate pairs via LSH banding over the MinHash
    * signature: rows agreeing on ANY band land in the same bucket.
    * Returns (idA, idB, jaccardEstimate) with idA < idB, deduplicated.
    *
    * `maxBucketSize` caps pathological buckets (e.g. empty docs) so a skewed
    * key cannot produce a quadratic explosion at scale.
    */
  def minHashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    // persisted: banding plus BOTH estimate-join sides probe it.
    // Shingle-less docs (empty/whitespace/null text) are EXCLUDED: they
    // all share the sentinel signature and would report certain
    // jaccard_est = 1.0 for pairs the exact-Jaccard convention scores 0 —
    // a corpus with thousands of empty docs would mass-flag them as
    // duplicates of each other
    val sigs = signatureFrame(df, idCol, textCol, numHashes, shingleSize)
      .filter(size(col("graft_hs")) > 0)
      .select("graft_id", "graft_sig")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (pairs, caches) = candidatesFromSignatures(sigs, numHashes, bands, maxBucketSize)
    // signature-agreement estimate computed once per UNIQUE pair (the
    // candidate self-join emits a pair once per matching band; estimating
    // before deduplication would pay the interpreted zip_with per instance)
    val withEst = pairs
      .join(sigs.select(col("graft_id").as("id_a"), col("graft_sig").as("graft_sa")), Seq("id_a"))
      .join(sigs.select(col("graft_id").as("id_b"), col("graft_sig").as("graft_sb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (size(filter(zip_with(col("graft_sa"), col("graft_sb"),
          (x, y) => (x === y).cast(IntegerType)), v => v === 1)).cast(DoubleType) /
          lit(numHashes.toDouble)).as("jaccard_est"))
    CacheLifecycle.releaseOnConsume(withEst, sigs +: caches)
  }

  /** LSH banding + bucket self-join over a (graft_id, graft_sig) frame.
    * Returns UNIQUE bare (id_a, id_b) candidate pairs — the self-join
    * emits a pair once per agreeing band, and deduplicating 16-byte id
    * rows is far cheaper than carrying signature payloads (or computing
    * per-instance estimates) through the exchange. Callers join
    * signatures/shingles back per unique pair as needed.
    */
  /** (idOut, graft_band, graft_bucket) LSH banding rows of a
    * (graft_id, graft_sig) frame — one row per band per doc. Narrow (a
    * posexplode over slim signature rows, no text scan, no shuffle);
    * shared by the self-join, cross-corpus and incremental-state paths.
    *
    * A signature built with a DIFFERENT numHashes would band over
    * empty/partial slices and produce silently-degenerate buckets —
    * raises per row instead; xxhash64 hashes the long-array slice
    * directly (no string building).
    */
  private def bandedBuckets(
      sigs: DataFrame,
      numHashes: Int,
      bands: Int,
      idOut: String = "graft_id"): DataFrame = {
    val rowsPerBand = numHashes / bands
    val checkedSig = when(size(col("graft_sig")) === lit(numHashes), col("graft_sig"))
      .otherwise(raise_error(concat(
        lit(s"signature length != numHashes=$numHashes (got "),
        size(col("graft_sig")).cast(StringType), lit(")"))).cast(ArrayType(LongType)))
    sigs.select(
      col("graft_id").as(idOut),
      posexplode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => xxhash64(slice(checkedSig, b * rowsPerBand + lit(1), lit(rowsPerBand)), b))))
      .withColumnRenamed("pos", "graft_band")
      .withColumnRenamed("col", "graft_bucket")
  }

  private def candidatesFromSignatures(
      sigs: DataFrame,
      numHashes: Int,
      bands: Int,
      maxBucketSize: Int): (DataFrame, Seq[DataFrame]) = {
    // explode to (band, hash(band slice)) — one row per band per doc.
    // persist before capping + the self-join: banded rows are (id, band,
    // bucket) triples (orders of magnitude smaller than the text) —
    // without this, the threshold aggregation, the filter join, and both
    // self-join sides would each recompute the whole
    // tokenize→shingle→minhash pipeline
    val banded = bandedBuckets(sigs, numHashes, bands)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // cap skewed buckets — hash order: capping must EXCLUDE UNIFORMLY,
    // not systematically drop the highest ids from every oversized
    // bucket (deterministic either way). De-windowed: a hot bucket is
    // never sorted in one task (Capping.capBuckets: bounded-heap
    // thresholds with map-side partial combine). The observation channel
    // surfaces what the cap silently drops (same pattern as
    // Similarity.LshCapObservation): nonzero excluded_rows means the
    // band/cap parameterization is losing recall with no other signal.
    val capped = Capping.capBuckets(banded,
        Seq("graft_band", "graft_bucket"), "graft_id", maxBucketSize,
        DedupCapObservation.nextName())
      .persist(StorageLevel.MEMORY_AND_DISK)

    val a = capped.select(col("graft_band"), col("graft_bucket"), col("graft_id").as("id_a"))
    val b = capped.select(col("graft_band"), col("graft_bucket"), col("graft_id").as("id_b"))

    val pairs = a.join(b, Seq("graft_band", "graft_bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    (pairs, Seq(capped, banded))
  }

  /** Exact-Jaccard verify over a joined candidate frame
    * (id_a, id_b, sh_a, sh_b of 64-bit shingle hashes) as one tight
    * per-partition pass — the array_intersect/array_union expression form
    * allocates per-pair array copies and runs outside whole-stage codegen,
    * and was the post-join hot spot. Keeps pairs with jaccard >= threshold.
    */
  private def jaccardVerify(pairs: DataFrame, threshold: Double): DataFrame = {
    val schema = pairs.schema
    val outSchema = StructType(Seq(
      schema("id_a"), schema("id_b"),
      StructField("jaccard", DoubleType, nullable = false)))
    val (ia, ib) = (schema.fieldIndex("id_a"), schema.fieldIndex("id_b"))
    val (sa, sb) = (schema.fieldIndex("sh_a"), schema.fieldIndex("sh_b"))
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(outSchema)
    pairs.mapPartitions { rows =>
      val set = new java.util.HashSet[Long]()
      rows.flatMap { r =>
        val a = r.getSeq[Long](sa)
        val b = r.getSeq[Long](sb)
        set.clear()
        var i = 0
        while (i < a.length) { set.add(a(i)); i += 1 }
        var inter = 0
        var j = 0
        while (j < b.length) { if (set.contains(b(j))) inter += 1; j += 1 }
        val union = math.max(a.length + b.length - inter, 1)
        val jac = inter.toDouble / union
        if (jac >= threshold) Some(org.apache.spark.sql.Row(r.get(ia), r.get(ib), jac))
        else None
      }
    }
  }

  /** Per-doc pair budget for the pair-LISTING surfaces: keep at most
    * `budget` surviving pairs per `id_a` (uniform hash-ordered exclusion
    * via [[Capping.capBuckets]], exclusions observed on
    * [[DedupCapObservation]]). Bounds the OUTPUT at rows × budget on
    * boilerplate-heavy corpora where the TRUE near-dup mass is quadratic
    * even with healthy banding (the emb_neardup probe's 13× shape) —
    * under-reports, never blows up. Cluster-building paths (q48-style
    * connected components over the full pair list) must stay uncapped.
    */
  private[pipeline] def budgetPairs(
      pairs: DataFrame, budget: Int, obsName: String): DataFrame =
    if (budget == Int.MaxValue) pairs
    else {
      val p = pairs.persist(StorageLevel.MEMORY_AND_DISK)
      CacheLifecycle.releaseOnConsume(
        Capping.capBuckets(p, Seq("id_a"), "id_b", budget, obsName), Seq(p))
    }

  /** Near-duplicate pairs with an exact n-gram Jaccard verification pass on
    * the LSH candidates only. `maxPairsPerDoc` (default unbounded) is the
    * pair-budget lever — see [[budgetPairs]].
    */
  def nearDuplicatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      maxPairsPerDoc: Int = Int.MaxValue): DataFrame = {
    // ONE per-partition pass produces both the minhash signature (for LSH
    // candidate generation) and the shingle-hash set (for exact-jaccard
    // verification); persisted because banding + both pair-join sides
    // probe it (collision probability at 64 bits is negligible for dedup)
    val sf = signatureFrame(df, idCol, textCol, numHashes, shingleSize)
      .persist(StorageLevel.MEMORY_AND_DISK)
    CacheLifecycle.releaseOnConsume(
      nearDuplicatePairsFromSignatures(sf, threshold, numHashes, bands,
        maxPairsPerDoc = maxPairsPerDoc), Seq(sf))
  }

  /** [[nearDuplicatePairs]] over a precomputed (graft_id, graft_hs,
    * graft_sig) frame (see [[textSignatures]]) — the caller owns that
    * frame's persistence; several analyses can share one text scan.
    */
  def nearDuplicatePairsFromSignatures(
      sigs: DataFrame,
      threshold: Double,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000,
      maxPairsPerDoc: Int = Int.MaxValue): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val (candidates, candCaches) = candidatesFromSignatures(
      sigs.select("graft_id", "graft_sig"), numHashes, bands, maxBucketSize)
    val docs = sigs.select(col("graft_id").as("graft_doc_id"),
      col("graft_hs").as("graft_shingles"))
    val joined = candidates
      .join(docs.withColumnRenamed("graft_doc_id", "id_a")
        .withColumnRenamed("graft_shingles", "sh_a"), Seq("id_a"))
      .join(docs.withColumnRenamed("graft_doc_id", "id_b")
        .withColumnRenamed("graft_shingles", "sh_b"), Seq("id_b"))
      .select("id_a", "id_b", "sh_a", "sh_b")
    val verified = budgetPairs(jaccardVerify(joined, threshold),
      maxPairsPerDoc, DedupCapObservation.nextName())
    CacheLifecycle.releaseOnConsume(verified, candCaches)
  }

  /** EXACT all-pairs n-gram Jaccard >= threshold via an inverted shingle
    * index — the scalable ground truth for MinHash recall audits.
    *
    * Each (doc, shingle-hash) is exploded once; the self-join on the hash
    * generates a pair once per SHARED shingle, so the groupBy count IS the
    * intersection size and |A∪B| = |A|+|B|−|A∩B| follows from per-doc set
    * sizes. No crossJoin anywhere: cost is Σ_h df(h)² over shingle document
    * frequencies, not N² — pairs sharing zero shingles (Jaccard 0) are never
    * generated. Shingle identity is the same 64-bit hash the MinHash path
    * uses, so Jaccard values agree exactly (collision probability ~2⁻⁶⁴).
    */
  def exactJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleSize: Int = 3): DataFrame = {
    val hs = signatureFrame(df, idCol, textCol, numHashes = 0, shingleSize)
      .select(col("graft_id"), col("graft_hs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    CacheLifecycle.releaseOnConsume(
      exactJaccardPairsFromSignatures(hs, threshold), Seq(hs))
  }

  /** [[exactJaccardPairs]] over a precomputed (graft_id, graft_hs) frame —
    * caller-owned persistence, shareable text scan.
    */
  def exactJaccardPairsFromSignatures(sigs: DataFrame, threshold: Double): DataFrame = {
    val hs = sigs.select("graft_id", "graft_hs")
    val sizes = hs.select(col("graft_id"), size(col("graft_hs")).as("graft_n"))
    val inv = hs.select(col("graft_id"), explode(col("graft_hs")).as("graft_h"))
    val a = inv.select(col("graft_h"), col("graft_id").as("id_a"))
    val b = inv.select(col("graft_h"), col("graft_id").as("id_b"))
    val co = a.join(b, Seq("graft_h"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("graft_c"))
    co
      .join(sizes.select(col("graft_id").as("id_a"), col("graft_n").as("graft_na")), Seq("id_a"))
      .join(sizes.select(col("graft_id").as("id_b"), col("graft_n").as("graft_nb")), Seq("id_b"))
      .withColumn("jaccard", col("graft_c").cast(DoubleType) /
        greatest(col("graft_na") + col("graft_nb") - col("graft_c"), lit(1L)).cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // -------------------------------------------------------------------------
  // Incremental exact dedup (batch-over-batch ingestion)
  // -------------------------------------------------------------------------

  /** The persisted "seen" state for incremental text dedup: one DISTINCT
    * 128-bit md5 per non-null text value — write it to parquet after each
    * ingested batch and feed the union of all batches' states back into
    * [[exactDedupIncremental]]. 128 bits keeps collisions negligible at
    * 1e11+ distinct texts (the paragraph-dedup bound). Null texts are not
    * represented: they dedup within a batch, never across batches.
    */
  def seenTextKeys(df: DataFrame, textCol: String): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(md5(col(textCol).cast(BinaryType)).as("graft_kh"))
      .distinct()

  /** Incremental exact dedup — the daily-ingestion shape: dedup `batch`
    * WITHIN itself (smallest `tieBreakCol` per distinct text, the
    * [[exact]] convention) and AGAINST the accumulated
    * [[seenTextKeys]] state of every previous batch, without ever
    * rescanning the historical corpus. Returns the surviving batch rows.
    *
    * Scale shape: within-batch dedup is [[exact]]'s single
    * map-side-partial exchange on the dedup key; the state check is a
    * LEFT ANTI join on the 128-bit key — the state side carries one slim
    * row per distinct historical text (not the text itself), broadcast
    * while it fits and AQE-planned beyond that. Only the day-sized batch
    * is ever rescanned; the 100-TB history participates as hashed state.
    */
  def exactDedupIncremental(
      batch: DataFrame,
      textCol: String,
      tieBreakCol: String,
      seen: DataFrame): DataFrame = {
    val within = exact(batch, Seq(textCol), tieBreakCol)
    within.join(seen.select(col("graft_kh")),
      md5(col(textCol).cast(BinaryType)) === col("graft_kh"), "left_anti")
  }

  /** Corpus version diff: per-id status between two snapshots —
    * `added` (id only in `newDf`), `removed` (only in `oldDf`),
    * `changed` (both, text hashes differ), `unchanged` (both, hashes
    * match; two null texts count as unchanged). The dataset-iteration
    * primitive: what did this curation run actually touch.
    *
    * Scale shape: both sides project to slim (id, 128-bit text hash)
    * rows BEFORE the full-outer join, so the join ships 24-byte rows on
    * the id key (sort-merge at corpus scale, never the text itself).
    * Ids are assumed unique per snapshot.
    */
  def corpusDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    def slim(df: DataFrame, h: String, p: String): DataFrame =
      df.select(col(idCol).as("graft_id"),
        md5(col(textCol).cast(BinaryType)).as(h), lit(true).as(p))
    slim(oldDf, "graft_ho", "graft_po")
      .join(slim(newDf, "graft_hn", "graft_pn"), Seq("graft_id"), "full_outer")
      .select(col("graft_id").as(idCol),
        when(col("graft_po").isNull, "added")
          .when(col("graft_pn").isNull, "removed")
          .when(col("graft_ho") <=> col("graft_hn"), "unchanged")
          .otherwise("changed").as("status"))
  }

  // -------------------------------------------------------------------------
  // Incremental FUZZY dedup (persisted MinHash-LSH state)
  // -------------------------------------------------------------------------

  /** Persisted MinHash-LSH state for INCREMENTAL near-duplicate dedup —
    * the fuzzy twin of [[seenTextKeys]]: a daily batch dedups against the
    * accumulated history WITHOUT re-scanning the historical text.
    *
    *  - `buckets`: one slim (graft_band, graft_bucket, graft_id) row per
    *    band per historical doc (the band→bucket→member table), capped per
    *    bucket like the self-join path so a degenerate bucket cannot blow
    *    up future probes.
    *  - `signatures`: one (graft_id, graft_sig) row per historical doc —
    *    the MinHash signature, kept so probe candidates can be VERIFIED
    *    (by signature agreement) instead of trusting raw bucket collisions.
    *  - the LSH parameters ride along: a probe or merge against state
    *    built under different banding would be silently meaningless, so
    *    [[nearDedupIncremental]] takes them FROM the state and
    *    [[LshState.merge]] requires them equal.
    *
    * The frames are mergeable state in the [[seenTextKeys]] algebra:
    * [[LshState.merge]] is a distinct union, so states built per batch /
    * per partition / per day combine associatively and idempotently.
    *
    * Scale shape: at 1B docs the signature table is ~0.5 TB and the bucket
    * table ~16 rows × 20 B per doc — both orders of magnitude under the
    * corpus, and the only state a 100-TB history contributes to a probe.
    * [[writeLshState]] lands buckets range-sorted on (band, bucket) so
    * parquet row-group min/max stats plus Spark's runtime bloom-filter
    * join filters skip most of the table when a day-sized batch probes it.
    */
  final case class LshState(
      buckets: DataFrame,
      signatures: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      maxBucketSize: Int = 1000) {
    /** Distinct-union state merge — associative, commutative, idempotent.
      * Per-bucket caps are not re-applied across the union in memory: a
      * merged bucket may exceed the build-time cap by the number of merged
      * states (bounded; [[writeLshState]] re-caps globally on persist).
      *
      * Ids are expected to identify IMMUTABLE texts (a re-crawled page
      * whose text changed is a NEW id — the [[corpusDiff]] convention);
      * if two states nonetheless disagree on an id's text, BOTH
      * signatures (and both versions' bucket rows) are kept, so a probe
      * matching EITHER version still marks contamination — the merge
      * stays commutative and never silently discards a version.
      */
    def merge(other: LshState): LshState = {
      require((numHashes, bands, shingleSize, maxBucketSize) ==
        ((other.numHashes, other.bands, other.shingleSize,
          other.maxBucketSize)),
        "cannot merge LshStates built under different LSH parameters")
      copy(
        buckets = buckets.unionByName(other.buckets)
          .dropDuplicates("graft_band", "graft_bucket", "graft_id"),
        signatures = signatures.unionByName(other.signatures)
          .dropDuplicates("graft_id", "graft_sig"))
    }
  }

  /** Banded bucket rows with the per-bucket skew cap applied (uniform
    * exclusion by id hash, the [[candidatesFromSignatures]] convention —
    * including its observation channel: a state build that silently
    * dropped bucket members would lose probe recall with no other
    * signal, so excluded rows surface on [[DedupCapObservation]] exactly
    * like the self-join path's).
    */
  private def cappedBuckets(
      sigs: DataFrame,
      numHashes: Int,
      bands: Int,
      maxBucketSize: Int): DataFrame = {
    // de-windowed cap (Capping.capBuckets): the banded triples persist
    // so the threshold aggregation and the filter join share one
    // signature computation; the cache releases when the capped frame
    // is first consumed
    val banded = bandedBuckets(sigs, numHashes, bands)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val capped = Capping.capBuckets(banded,
      Seq("graft_band", "graft_bucket"), "graft_id", maxBucketSize,
      DedupCapObservation.nextName())
    CacheLifecycle.releaseOnConsume(capped, Seq(banded))
  }

  /** Build [[LshState]] from a corpus (or a batch's survivors, to fold
    * into yesterday's state via [[LshState.merge]]). Docs with an empty
    * shingle set (null/short text) are NOT represented — they can never
    * fuzzy-match, exactly as [[seenTextKeys]] leaves null texts out of
    * the exact state.
    *
    * The returned `buckets` frame re-derives from the same signature
    * lineage, so consuming BOTH frames of an unwritten state scans the
    * text twice — production states go through [[writeLshState]] /
    * [[readLshState]], which pay one scan total.
    */
  def lshState(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      maxBucketSize: Int = 1000): LshState = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val sigs = textSignatures(df, idCol, textCol, numHashes, shingleSize)
      .filter(size(col("graft_hs")) > 0)
      .select(col("graft_id").cast(LongType).as("graft_id"), col("graft_sig"))
    LshState(cappedBuckets(sigs, numHashes, bands, maxBucketSize), sigs,
      numHashes, bands, shingleSize, maxBucketSize)
  }

  /** Persist state under `path` (`signatures/` + `buckets/` + `params/`
    * parquet). Signatures are written first and buckets re-banded FROM
    * the written parquet with the global cap re-applied, so a state built
    * straight from text pays ONE text scan total and a merged state's
    * buckets are re-capped globally; buckets land range-sorted on
    * (band, bucket) for row-group skipping under probe-side bloom filters.
    */
  def writeLshState(state: LshState, path: String): Unit = {
    val spark = state.signatures.sparkSession
    state.signatures.write.mode("overwrite").parquet(s"$path/signatures")
    val written = spark.read.parquet(s"$path/signatures")
    cappedBuckets(written, state.numHashes, state.bands, state.maxBucketSize)
      .repartitionByRange(col("graft_band"), col("graft_bucket"))
      .sortWithinPartitions("graft_band", "graft_bucket")
      .write.mode("overwrite").parquet(s"$path/buckets")
    import spark.implicits._
    Seq((state.numHashes, state.bands, state.shingleSize, state.maxBucketSize))
      .toDF("numHashes", "bands", "shingleSize", "maxBucketSize")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  def readLshState(spark: org.apache.spark.sql.SparkSession, path: String): LshState = {
    val p = spark.read.parquet(s"$path/params").collect().head
    LshState(
      spark.read.parquet(s"$path/buckets"),
      spark.read.parquet(s"$path/signatures"),
      p.getInt(0), p.getInt(1), p.getInt(2), p.getInt(3))
  }

  /** Incremental NEAR-duplicate dedup — [[exactDedupIncremental]]'s fuzzy
    * twin: dedup `batch` within itself (exact-Jaccard-verified MinHash-LSH
    * clusters, min-id survivor — the [[deduplicateNear]] semantics) and
    * against the accumulated [[LshState]] of every previous batch, without
    * ever re-scanning the historical corpus. Returns surviving batch rows.
    *
    * History matching is LSH bucket collision VERIFIED by signature
    * agreement: the fraction of agreeing MinHash components is an unbiased
    * estimator of shingle Jaccard (the state holds 0.5 KB of signature per
    * doc, not the shingle sets), so precision near the threshold is
    * estimator-limited (~±1/√numHashes) while within-batch precision stays
    * exact. A batch component ANY of whose members matches history is
    * dropped whole — the same outcome full-corpus dedup gives when history
    * ids precede batch ids (the component's min id would sit in history).
    *
    * Scale shape: the batch pays one signature scan; its banded rows and
    * candidate pairs are BROADCAST, so the persisted state tables stream
    * through their joins without a shuffle — probe cost tracks the batch
    * and the collided buckets, never the history. Fold survivors back with
    * `state.merge(lshState(survivors, ...))` to absorb the batch.
    */
  def nearDedupIncremental(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      state: LshState,
      threshold: Double = 0.8): DataFrame = {
    import state.{numHashes, bands, shingleSize, maxBucketSize}
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val sigs = textSignatures(batch, idCol, textCol, numHashes, shingleSize)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // within-batch near-dup clusters: exact-verified pairs, min-id labels
    val pairs = nearDuplicatePairsFromSignatures(sigs, threshold, numHashes,
      bands, maxBucketSize)
    val clustered = clustersFromPairs(batch, idCol, pairs)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // history candidates: the batch's banded rows probe the bucket table —
    // the broadcast keeps the (possibly 100-TB-history-sized) state side
    // from shuffling
    val batchBands = bandedBuckets(
      sigs.filter(size(col("graft_hs")) > 0)
        .select(col("graft_id").cast(LongType).as("graft_id"), col("graft_sig")),
      numHashes, bands, idOut = "graft_bid")
    val cand = state.buckets
      .join(broadcast(batchBands), Seq("graft_band", "graft_bucket"))
      .select(col("graft_bid"), col("graft_id").as("graft_hid"))
      .dropDuplicates("graft_bid", "graft_hid")
    // verify by MinHash component agreement against the state signatures
    val agree = aggregate(
      zip_with(col("graft_bsig"), col("graft_hsig"),
        (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast(DoubleType) / lit(numHashes)
    val contaminated = broadcast(cand
        .join(sigs.select(col("graft_id").cast(LongType).as("graft_bid"),
          col("graft_sig").as("graft_bsig")), Seq("graft_bid")))
      .join(state.signatures.select(col("graft_id").as("graft_hid"),
        col("graft_sig").as("graft_hsig")), Seq("graft_hid"))
      .where(agree >= threshold)
      .select(col("graft_bid"))
      .distinct()
    val dropClusters = clustered
      .join(broadcast(contaminated),
        clustered(idCol).cast(LongType) === col("graft_bid"))
      .select(col("cluster")).distinct()
    val out = clustered
      .where(col("cluster") === col(idCol).cast(LongType))
      .join(broadcast(dropClusters), Seq("cluster"), "left_anti")
      .drop("cluster")
    CacheLifecycle.releaseOnConsume(out, Seq(sigs, clustered))
  }

  // -------------------------------------------------------------------------
  // Cross-corpus near-dup join (fuzzy decontamination)
  // -------------------------------------------------------------------------

  /** EXACT cross-corpus n-gram Jaccard: every (corpus doc, probe doc) pair
    * with shingle Jaccard >= `threshold`, via the inverted-index shape of
    * [[exactJaccardPairs]] with the probe side BROADCAST. The fuzzy
    * complement of 13-gram decontamination
    * ([[TextAnalysis.contaminationMatches]]): verbatim-span matching
    * misses light rewrites (token substitutions, reordering) that still
    * share most of their shingle set with a benchmark document.
    *
    * Scale shape: the corpus never shuffles — its shingle explode dies in
    * a broadcast hash join against the probe shingle index, and only the
    * co-occurrence rows (corpus docs sharing >= 1 shingle with some probe,
    * bounded by probe-shingle document frequencies, not the corpus) reach
    * the groupBy. Probes are assumed benchmark-sized (thousands, not
    * millions); a corpus-sized probe side belongs on the self-join path.
    *
    * Output: (corpus_id, probe_id, jaccard), exact.
    */
  def crossCorpusJaccardPairs(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      probes: DataFrame,
      probeIdCol: String,
      probeTextCol: String,
      threshold: Double,
      shingleSize: Int = 3): DataFrame = {
    val c = textSignatures(corpus, idCol, textCol, numHashes = 0, shingleSize)
      .filter(size(col("graft_hs")) > 0)
    val p = textSignatures(probes, probeIdCol, probeTextCol, numHashes = 0, shingleSize)
      .filter(size(col("graft_hs")) > 0)
    val cInv = c.select(col("graft_id").as("corpus_id"),
      size(col("graft_hs")).as("graft_na"), explode(col("graft_hs")).as("graft_h"))
    val pInv = p.select(col("graft_id").as("probe_id"),
      size(col("graft_hs")).as("graft_nb"), explode(col("graft_hs")).as("graft_h"))
    cInv.join(broadcast(pInv), Seq("graft_h"))
      .groupBy(col("corpus_id"), col("probe_id"))
      .agg(count(lit(1)).as("graft_c"),
        first(col("graft_na")).as("graft_na"),
        first(col("graft_nb")).as("graft_nb"))
      .withColumn("jaccard", col("graft_c").cast(DoubleType) /
        greatest(col("graft_na") + col("graft_nb") - col("graft_c"), lit(1L))
          .cast(DoubleType))
      .filter(col("jaccard") >= threshold)
      .select("corpus_id", "probe_id", "jaccard")
  }

  /** Fuzzy cross-corpus decontamination via MinHash-LSH: corpus docs that
    * are near-duplicates (shingle Jaccard >= `threshold`) of ANY probe
    * doc, found by banding BOTH sides and equi-joining buckets — the
    * cross-corpus twin of [[nearDuplicatePairs]]. Candidates are verified
    * with the exact Jaccard before being reported, so precision is exact
    * and only recall is probabilistic (1 − (1 − t^(numHashes/bands))^bands
    * per pair at Jaccard t; the default 64/32 keeps miss probability
    * ~1e-4 at t = 0.5).
    *
    * Scale shape: probe bands and probe shingle sets are BROADCAST, so
    * the corpus pays one signature scan and zero exchanges on its own
    * rows — banding explodes map-side and dies in the broadcast bucket
    * join; only matched candidates (contamination-sized, not
    * corpus-sized) are shuffled for dedup and broadcast back for the
    * verify join against the persisted corpus signature frame.
    *
    * Output: (corpus_id, probe_id, jaccard), exact on every reported row.
    */
  def crossCorpusNearDups(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      probes: DataFrame,
      probeIdCol: String,
      probeTextCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 64,
      bands: Int = 32,
      shingleSize: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    def bandedOf(sigs: DataFrame, outId: String): DataFrame =
      bandedBuckets(sigs.select(col(outId).as("graft_id"), col("graft_sig")),
        numHashes, bands, outId)
    val pSigs = textSignatures(probes, probeIdCol, probeTextCol, numHashes, shingleSize)
      .filter(size(col("graft_hs")) > 0)
      .select(col("graft_id").as("probe_id"), col("graft_sig"),
        col("graft_hs").as("sh_b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cSigs = textSignatures(corpus, idCol, textCol, numHashes, shingleSize)
      .filter(size(col("graft_hs")) > 0)
      .select(col("graft_id").as("corpus_id"), col("graft_sig"),
        col("graft_hs").as("sh_a"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cand = bandedOf(cSigs, "corpus_id")
      .join(broadcast(bandedOf(pSigs, "probe_id")), Seq("graft_band", "graft_bucket"))
      .select("corpus_id", "probe_id")
      .dropDuplicates("corpus_id", "probe_id")
    val joined = broadcast(cand)
      .join(cSigs.select(col("corpus_id"), col("sh_a")), Seq("corpus_id"))
      .join(broadcast(pSigs.select(col("probe_id"), col("sh_b"))), Seq("probe_id"))
      .select(col("corpus_id").as("id_a"), col("probe_id").as("id_b"),
        col("sh_a"), col("sh_b"))
    val verified = jaccardVerify(joined, threshold)
      .select(col("id_a").as("corpus_id"), col("id_b").as("probe_id"),
        col("jaccard"))
    CacheLifecycle.releaseOnConsume(verified, Seq(pSigs, cSigs))
  }

  // -------------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------------

  /** 64-bit SimHash over the token set, as a LongType column built from
    * pure expressions: per-bit vote of the token hashes.
    */
  /** SimHash from an already materialized token-hash array column: ONE
    * aggregate pass accumulates all 64 per-bit vote counters in an array
    * accumulator, then the sign vector is packed into a long. Keeping the
    * hash array a bound column avoids re-tokenizing per bit.
    */
  def simHashFromHashes(hashesCol: Column): Column = {
    val votes = aggregate(
      hashesCol,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, sequence(lit(0), lit(63)),
        (a, b) => a + when(getbit(h, b) === 1, lit(1L)).otherwise(lit(-1L))))
    // pack sign bits: sum of 2^b over bits with positive vote (bits disjoint)
    val powers = array((0 until 64).map(b => lit(1L << b)): _*)
    aggregate(
      zip_with(votes, powers, (v, p) => when(v > 0L, p).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  def simHash(text: Column): Column =
    // coalesce: null text must yield 0L like the scalar signature frames
    // (nullable=false schema), not a NULL that silently drops rows from
    // hamming filters
    coalesce(
      simHashFromHashes(transform(TextAnalysis.normalizedTokens(text), t => xxhash64(t))),
      lit(0L))

  /** Hamming distance between two 64-bit signatures. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  private def scalaSimHash(th: Array[Long]): Long = {
    val votes = new Array[Int](64)
    var i = 0
    while (i < th.length) {
      val h = th(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** (graft_id, graft_sim) SimHash signature frame — one tight
    * per-partition pass, no shuffle. Public so callers can compute exact
    * Hamming ground truth (recall audits) from the same signatures the
    * banded pair search uses.
    */
  def simHashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val idField = df.schema(df.schema.fieldIndex(idCol))
    val outSchema = StructType(Seq(
      idField.copy(name = "graft_id"),
      StructField("graft_sim", LongType, nullable = false)))
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(outSchema)
    df.select(col(idCol), col(textCol)).mapPartitions { rows =>
      rows.map { r =>
        val th = scalaTokenHashes(if (r.isNullAt(1)) null else r.getString(1))
        org.apache.spark.sql.Row(r.get(0), scalaSimHash(th))
      }
    }
  }

  /** Near-duplicate pairs by SimHash: the 64-bit signature is split into
    * `maxHamming + 1` contiguous chunks, so by pigeonhole ANY pair within
    * `maxHamming` differing bits agrees on at least one whole chunk —
    * candidate generation by chunk equi-join is therefore exhaustive
    * (up to `maxBucketSize` capping), and candidates are verified by exact
    * Hamming distance.
    */
  def simHashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000,
      maxPairsPerDoc: Int = Int.MaxValue): DataFrame = {
    // per-partition signature pass (same rationale as signatureFrame),
    // persisted before the self-join
    val sigs = simHashSignatures(df, idCol, textCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    CacheLifecycle.releaseOnConsume(
      simHashPairsFromSignatures(sigs, maxHamming, maxBucketSize,
        maxPairsPerDoc), Seq(sigs))
  }

  /** [[simHashPairs]] over a precomputed (graft_id, graft_sim) frame (see
    * [[textSignatures]] / [[simHashSignatures]]) — caller-owned
    * persistence, shareable text scan.
    */
  def simHashPairsFromSignatures(
      sigFrame: DataFrame,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000,
      maxPairsPerDoc: Int = Int.MaxValue): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 63], got $maxHamming")
    // pigeonhole: maxHamming differing bits cannot touch all chunks
    val chunks = maxHamming + 1
    // contiguous chunk boundaries covering all 64 bits (widths differ by <=1)
    val bounds = (0 to chunks).map(c => c * 64 / chunks)
    val sigs = sigFrame.select("graft_id", "graft_sim")
    val chunked = sigs.select(
      col("graft_id"), col("graft_sim"),
      explode(array((0 until chunks).map { c =>
        val lo = bounds(c)
        val width = bounds(c + 1) - lo
        val mask = if (width == 64) -1L else (1L << width) - 1L
        struct(
          lit(c).as("chunk"),
          shiftrightunsigned(col("graft_sim"), lo)
            .bitwiseAND(lit(mask)).as("v"))
      }: _*)))
      .select(col("graft_id"), col("graft_sim"),
        col("col.chunk").as("graft_chunk"), col("col.v").as("graft_chunk_val"))

    // cap skewed buckets (e.g. every empty doc hashes to signature 0):
    // without this the chunk self-join is quadratic in the bucket size.
    // De-windowed (Capping.capBuckets — a hot chunk bucket is never
    // sorted in one task); chunked persists so the threshold aggregation
    // and the filter join share one signature computation, and capped
    // persists because BOTH self-join sides probe it (the MinHash twin
    // persists at the identical point)
    val chunkedCached = chunked.persist(StorageLevel.MEMORY_AND_DISK)
    val capped = Capping.capBuckets(chunkedCached,
        Seq("graft_chunk", "graft_chunk_val"), "graft_id", maxBucketSize,
        DedupCapObservation.nextName())
      .persist(StorageLevel.MEMORY_AND_DISK)

    val a = capped.select(col("graft_chunk"), col("graft_chunk_val"),
      col("graft_id").as("id_a"), col("graft_sim").as("sim_a"))
    val b = capped.select(col("graft_chunk"), col("graft_chunk_val"),
      col("graft_id").as("id_b"), col("graft_sim").as("sim_b"))

    val result = budgetPairs(
      a.join(b, Seq("graft_chunk", "graft_chunk_val"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("hamming", hammingDistance(col("sim_a"), col("sim_b")))
        .filter(col("hamming") <= maxHamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates("id_a", "id_b"),
      maxPairsPerDoc, DedupCapObservation.nextName())
    CacheLifecycle.releaseOnConsume(result, Seq(capped, chunkedCached))
  }

  // -------------------------------------------------------------------------
  // Embedding near-duplicate (cosine) — delegates to Similarity
  // -------------------------------------------------------------------------

  /** Pairs of embeddings with cosine similarity above `threshold`, using
    * the multi-table LSH path from [[Similarity]]. Lower thresholds need
    * fewer planes / more tables for recall (see cosinePairsLsh scaladoc).
    */
  def embeddingNearDuplicates(
      df: DataFrame,
      idCol: String,
      embeddingCol: String,
      threshold: Double = 0.95,
      planes: Int = 16,
      numTables: Int = 1,
      maxPairsPerDoc: Int = Int.MaxValue): DataFrame =
    Similarity.cosinePairsLsh(df, idCol, embeddingCol, threshold, planes,
      numTables, maxPairsPerDoc = maxPairsPerDoc)

  // -------------------------------------------------------------------------
  // Connected components / cluster dedup — the tail of the dedup pipeline:
  // pair lists become clusters, clusters become one canonical row each
  // -------------------------------------------------------------------------

  /** Connected components over an undirected edge list, returning one
    * `(node, component)` row per distinct node, where `component` is the
    * MINIMUM node id in that node's component.
    *
    * Algorithm: alternating large-star / small-star contractions (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * each round is two shuffle-bounded join+aggregate passes over the
    * current edge set and the edge set converges to a star per component
    * in O(log n) rounds (vs O(diameter) for naive label propagation: a
    * 10M-node chain needs ~24 rounds here, 10M rounds there). No
    * `collect_list` anywhere: per-node minima are aggregates and the
    * neighbor fan-out is an equi-join, so a 100M-degree hub node becomes
    * AQE-splittable skew instead of one executor-killing array.
    *
    * Iterative-plan hygiene at scale: every round ends in
    * `localCheckpoint` — without it the lineage doubles per round and
    * Catalyst analysis goes quadratic (the classic iterative-DataFrame
    * trap). Convergence is detected by an (edge-count, hash-sum) checksum
    * instead of a full set-equality join.
    *
    * Input: any two-column DataFrame of node ids (castable to long);
    * self-loops and duplicate/reversed edges are fine. Isolated nodes
    * don't appear in an edge list — callers wanting singleton components
    * union them in afterwards (see [[nearDuplicateClusters]]).
    *
    * Adaptive small-graph path: a near-dup EDGE list is usually tiny
    * relative to the corpus that produced it (pairs, not documents), and
    * the iterative rounds are pure fixed-cost overhead on a graph that
    * fits on the driver. When the deduped edge count is at most
    * `localSolveMaxEdges` (default 1M ≈ 16 MB of longs — broadcast-sized,
    * same budget class as a broadcast-join build side), the components
    * are solved with one collect + union-find instead of O(log n) rounds
    * of 6 shuffles each. Pass `localSolveMaxEdges = 0` to force the
    * distributed path (tests and the q48 oracle do, so the star
    * contraction itself stays value-pinned).
    */
  def connectedComponents(
      edges: DataFrame,
      maxRounds: Int = 30,
      localSolveMaxEdges: Long = 1000000L): DataFrame = {
    require(edges.columns.length == 2,
      s"connectedComponents expects exactly 2 columns, got ${edges.columns.length}")
    val Seq(a, b) = edges.columns.toSeq.map(col)
    var e = edges
      .select(a.cast(LongType).as("src"), b.cast(LongType).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      // LAZY checkpoint: whichever action touches the edge set first (the
      // local-solve count() below, or round 1's checksum when the
      // distributed path is forced) materializes it — an eager checkpoint
      // here would schedule a whole extra job just to write the same
      // blocks. It still severs lineage before the iterative rounds, and
      // it still counts as the consumption that releases any
      // releaseOnConsume cache upstream (clustersFromPairs relies on
      // that).
      .localCheckpoint(false)

    if (localSolveMaxEdges > 0 && e.count() <= localSolveMaxEdges) {
      val s = edges.sparkSession
      // bounded by the threshold: <= localSolveMaxEdges (Long,Long) rows
      val local = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrDefault(r, r) != r) r = parent.get(r)
        var c = x
        while (parent.getOrDefault(c, c) != c) {
          val nx = parent.get(c); parent.put(c, r); c = nx
        }
        r
      }
      local.foreach { case (x, y) =>
        val (rx, ry) = (find(x), find(y))
        if (rx != ry) parent.put(math.max(rx, ry), math.min(rx, ry))
      }
      val nodes = local.iterator.flatMap(p => Iterator(p._1, p._2)).toArray
        .distinct
      import s.implicits._
      return nodes.map(v => (v, find(v))).toSeq
        .toDF("node", "component")
    }

    // Each star step needs "every row of this src, plus that src's min
    // neighbor" — a per-partition-key aggregate JOINED BACK to the rows.
    // Expressed as groupBy+self-join that costs TWO exchanges per step
    // (one for the aggregate, one to co-locate the join); a window min
    // over partitionBy(src) computes the same thing with ONE exchange,
    // cutting each round from ~5 shuffles to 3 (r10 verdict: the 4-round
    // oracle graph paid a ~0.55 s/round scheduling floor, dominated by
    // stage count, not data volume). The window is min-over-whole-
    // partition (no ordering, no running frame), so WindowExec's state is
    // one Long per key — no buffering concern at any scale, and a
    // 100M-degree hub is still one sorted spillable partition rather than
    // a collect_list.
    val winBySrc = org.apache.spark.sql.expressions.Window.partitionBy("src")

    // large-star: every node connects its LARGER neighbors to its minimum
    // neighbor (or itself); halves long chains and flattens hubs upward.
    // Output edges are always directed large→small (m <= u < v), which
    // small-star exploits below. Duplicate output edges are fine:
    // smallStar's window min tolerates them and its final distinct dedups
    // the round's output, so dups can't compound across rounds.
    def largeStar(cur: DataFrame): DataFrame = {
      val sym = cur.union(cur.select(col("dst").as("src"), col("src").as("dst")))
      sym.withColumn("graft_m", least(min(col("dst")).over(winBySrc), col("src")))
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("graft_m").as("dst"))
        .where(col("src") =!= col("dst"))
    }
    // small-star over an ALREADY large→small-directed edge set (the shape
    // largeStar emits — skipping the re-direction saves a full
    // shuffle+dedup per round): every node connects its smaller neighbors
    // (and itself) to its minimum neighbor. The (src → m) self edge is
    // emitted per ROW instead of per KEY (explode of two structs over the
    // same windowed pass); the round-final distinct collapses the
    // duplicates, which keeps the whole step at one window exchange
    // instead of window + join + union.
    def smallStar(dir: DataFrame): DataFrame = {
      dir.withColumn("graft_m", min(col("dst")).over(winBySrc))
        .select(explode(array(
          struct(col("dst").as("src"), col("graft_m").as("dst")),
          struct(col("src").as("src"), col("graft_m").as("dst")))).as("graft_e"))
        .select(col("graft_e.src").as("src"), col("graft_e.dst").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
    }

    def checksum(cur: DataFrame): (Long, Long) = {
      // bit_xor: order-independent set fingerprint with no ANSI overflow
      val r = cur.agg(count(lit(1)),
        bit_xor(xxhash64(col("src"), col("dst")))).collect().head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var prev = (-1L, 0L)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      // LAZY checkpoint: the checksum action below materializes it, so
      // each round costs ONE job (plus its shuffles), not two
      val next = smallStar(largeStar(e)).localCheckpoint(false)
      // Skip the round-1 checksum when more rounds are allowed: detecting
      // convergence after one round would need checksum(round1) ==
      // checksum(input), which only holds for an already-star-shaped
      // input — and such inputs take the local-solve path or converge a
      // round later anyway. Skipping folds rounds 1+2 into ONE action
      // (round 2's checksum materializes both lazy checkpoints), removing
      // a job-submission + collect round-trip from every invocation; the
      // per-round lineage cut is unaffected.
      if (round > 0 || maxRounds == 1) {
        val sum = checksum(next)
        converged = sum == prev
        prev = sum
      }
      e = next
      round += 1
    }
    // an unconverged edge set still carries multi-hop chains: the final
    // select would emit CONFLICTING (node, component) labels for the same
    // node and every downstream join would silently duplicate rows — fail
    // loudly instead (rounds scale ~log2(diameter), so hitting 30 means a
    // ~2^30-hop chain or a genuine bug, both worth a stack trace)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxRounds rounds " +
          s"(${prev._1} edges at the last checksum); raise maxRounds")
    // converged state: one directed edge (node -> component root) per
    // non-root node; roots re-enter as their own component
    e.select(col("src").as("node"), col("dst").as("component"))
      .union(e.select(col("dst").as("node"), col("dst").as("component")))
      .distinct()
  }

  /** Near-duplicate CLUSTERS: every document labeled with the minimum
    * doc id of its near-dup cluster (`cluster` column appended). Documents
    * with no near-duplicate are their own singleton cluster. Pairs come
    * from the capped MinHash-LSH path ([[nearDuplicatePairs]]); clustering
    * is [[connectedComponents]] on that pair list — the standard
    * train-corpus dedup shape (MinHashLSH dedup in C4/RefinedWeb-style
    * pipelines keeps one document per connected component, not per pair).
    */
  def nearDuplicateClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000): DataFrame = {
    val sf = signatureFrame(df, idCol, textCol, numHashes, shingleSize = 3)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = CacheLifecycle.releaseOnConsume(
      nearDuplicatePairsFromSignatures(sf, threshold, numHashes, bands,
        maxBucketSize), Seq(sf))
    clustersFromPairs(df, idCol, pairs)
  }

  /** The cluster TAIL on its own: label `df` with the minimum-id cluster
    * of a precomputed near-dup pair list (columns `id_a`, `id_b`).
    * Callers that already hold a pair list — a shared signature scan, a
    * different similarity engine, a persisted pair table — skip the
    * signature pass [[nearDuplicateClusters]] would redo.
    */
  def clustersFromPairs(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    // the first action inside connectedComponents (which checkpoints the
    // edge set) is the single consumption that releases any upstream cache
    val comps = connectedComponents(pairs.select("id_a", "id_b"))
    df.join(comps, df(idCol).cast(LongType) === comps("node"), "left_outer")
      .select(df.columns.map(df(_)) :+
        coalesce(comps("component"), df(idCol).cast(LongType)).as("cluster"): _*)
  }

  /** Cluster-level near-dup DEDUP: keeps exactly the canonical document
    * (minimum id) of every near-dup cluster and every document with no
    * near-duplicate. The complement of the kept set is what a training
    * pipeline drops. Same join shape as [[nearDuplicateClusters]]: the
    * only extra work over pair generation is the component contraction,
    * whose cost tracks the PAIR list (near-dup edges), not the corpus.
    */
  def deduplicateNear(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000): DataFrame =
    nearDuplicateClusters(df, idCol, textCol, threshold, numHashes, bands,
      maxBucketSize)
      .where(col("cluster") === col(idCol).cast(LongType))
      .drop("cluster")

  // -------------------------------------------------------------------------
  // Paragraph-level exact deduplication (sub-document granularity)
  // -------------------------------------------------------------------------

  /** One row per non-empty (trimmed) paragraph occurrence of every
    * document: (`graft_id`, `graft_pos`, `graft_para`). Narrow — a regex
    * split plus posexplode, no shuffle; feeds [[dedupParagraphs]] and its
    * audits. Null text contributes no rows.
    */
  def paragraphOccurrences(
      df: DataFrame,
      idCol: String,
      textCol: String,
      delimRegex: String = "\n+"): DataFrame =
    // parallelism floor on the SLIM (id, text) rows before the split map:
    // a single-file scan yields one partition, and every derivation of
    // this frame (signatures, censuses) would serialize into one task
    graft.core.Parallelism.floor(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("graft_id"),
        posexplode(split(coalesce(col(textCol), lit("")), delimRegex)))
      .select(col("graft_id"), col("pos").cast(LongType).as("graft_pos"),
        trim(col("col")).as("graft_para"))
      .where(length(col("graft_para")) > 0)

  /** Paragraph-level exact dedup — the sub-document granularity between
    * row-level [[exact]] and near-dup clustering: across the WHOLE corpus,
    * keep only the globally-first occurrence (smallest `(id, position)`)
    * of every distinct trimmed paragraph, drop every later repeat, and
    * reassemble each document from its surviving paragraphs in original
    * order. This is the standard training-data boilerplate remover
    * (repeated headers/footers/license blocks survive document-level dedup
    * because the documents AROUND them differ).
    *
    * Output: one row per input document — `idCol`, `text_clean` (kept
    * paragraphs re-joined with `joinSep`; empty string when every
    * paragraph was a repeat or the document had none), `n_paras`,
    * `n_kept`, `n_removed`. Document ids are assumed unique.
    *
    * Scale shape (everything slim, nothing quadratic):
    *  - winner election is ONE exchange on the 128-bit md5 of the
    *    paragraph with a map-side partial `min_by` — shuffle volume tracks
    *    distinct-paragraphs-per-partition, not occurrences, and a
    *    boilerplate paragraph repeated millions of times collapses to one
    *    candidate per map partition before it ever shuffles (no hot key).
    *    128-bit keys keep collisions negligible at 1e11+ paragraphs; a
    *    64-bit hash would start silently merging distinct paragraphs near
    *    its 4e9 birthday bound.
    *  - reassembly sorts ONLY the surviving paragraphs of one document
    *    inside a per-group `collect_list` — bounded by the document's own
    *    size, the same memory class as the document itself; no global sort
    *    and no Window over the corpus.
    *  - per-doc totals are a second narrow re-scan of the explode (cheaper
    *    than persisting the exploded corpus), then two left joins on the
    *    slim per-doc aggregates.
    */
  def dedupParagraphs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      delimRegex: String = "\n+",
      joinSep: String = "\n"): DataFrame = {
    val occ = paragraphOccurrences(df, idCol, textCol, delimRegex)
    val winners = occ
      .groupBy(md5(col("graft_para").cast(BinaryType)).as("graft_ph"))
      .agg(min_by(
        struct(col("graft_id"), col("graft_pos"), col("graft_para")),
        struct(col("graft_id"), col("graft_pos"))).as("graft_w"))
      .select(col("graft_w.*"))
    reassembleSurvivors(df, idCol, occ, winners, joinSep)
  }

  /** Shared reassembly tail of the paragraph dedup family: given the
    * occurrence frame and a survivor frame (`graft_id`, `graft_pos`,
    * `graft_para`), rebuild each document from its surviving paragraphs
    * in original order and attach the per-doc census. Survivor sorting
    * is bounded by one document's own paragraphs (per-group
    * `collect_list` + `array_sort`), never a corpus-wide Window.
    */
  private def reassembleSurvivors(
      df: DataFrame,
      idCol: String,
      occ: DataFrame,
      survivors: DataFrame,
      joinSep: String): DataFrame = {
    val keptPerDoc = survivors.groupBy(col("graft_id"))
      .agg(count(lit(1)).as("graft_kept"),
        concat_ws(joinSep,
          transform(
            array_sort(collect_list(struct(
              col("graft_pos").as("p"), col("graft_para").as("t")))),
            x => x.getField("t"))).as("graft_clean"))
    val totalPerDoc = occ.groupBy(col("graft_id"))
      .agg(count(lit(1)).as("graft_total"))
    val base = df.select(col(idCol))
    base
      .join(totalPerDoc, base(idCol) <=> totalPerDoc("graft_id"), "left_outer")
      .join(keptPerDoc, base(idCol) <=> keptPerDoc("graft_id"), "left_outer")
      .select(base(idCol),
        coalesce(keptPerDoc("graft_clean"), lit("")).as("text_clean"),
        coalesce(totalPerDoc("graft_total"), lit(0L)).as("n_paras"),
        coalesce(keptPerDoc("graft_kept"), lit(0L)).as("n_kept"),
        (coalesce(totalPerDoc("graft_total"), lit(0L)) -
          coalesce(keptPerDoc("graft_kept"), lit(0L))).as("n_removed"))
  }

  /** FUZZY paragraph-level dedup — [[dedupParagraphs]]'s near-duplicate
    * sibling: cluster NEAR-duplicate paragraphs across the whole corpus
    * (MinHash-LSH candidates, exact-Jaccard verification at `threshold`,
    * connected components) and keep only each cluster's globally-first
    * occurrence — the smallest `(id, position)`. Catches templated
    * boilerplate whose instances differ by a date, name, or counter,
    * which the exact md5 election of [[dedupParagraphs]] cannot see.
    *
    * Paragraph identity is the packed key `id·2^posBits + pos`
    * (`raise_error` on range overflow — never silent corruption; ids
    * must be non-negative integrals), so the document-level near-dup
    * machinery — banded LSH with skew-capped buckets, exact-Jaccard
    * verify, large/small-star components — applies unchanged at
    * paragraph granularity, and the min-pid cluster representative IS
    * the globally-first occurrence. Packing order ties the election to
    * (id, pos) lexicographic order exactly.
    *
    * Scale shape: candidate volume tracks banded bucket pairs (capped,
    * cap-observable), component contraction tracks verified edges, and
    * reassembly stays per-document bounded ([[reassembleSurvivors]]).
    * Short paragraphs (< shingle size) fall back to whole-text shingle
    * identity, so for them "near-dup" degrades to exact — by design.
    *
    * Output: the [[dedupParagraphs]] contract — one row per input
    * document: `idCol`, `text_clean`, `n_paras`, `n_kept`, `n_removed`.
    */
  def nearDupParagraphs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000,
      delimRegex: String = "\n+",
      joinSep: String = "\n",
      posBits: Int = 20): DataFrame = {
    requireParagraphId(df, idCol, posBits, "nearDupParagraphs")
    val occ = paragraphOccurrences(df, idCol, textCol, delimRegex)
    val paras = packedParagraphs(occ, posBits, "nearDupParagraphs")
    val clustered = nearDuplicateClusters(paras, "graft_pid", "graft_para",
      threshold, numHashes, bands, maxBucketSize)
    val survivors = clustered
      .where(col("cluster") === col("graft_pid"))
      // fresh aliases: survivors shares occ's lineage, and the reassembly
      // joins both against the same base — re-aliasing breaks the
      // ambiguous-self-join attribute identity
      .select(col("graft_id").as("graft_id"),
        col("graft_pos").as("graft_pos"),
        col("graft_para").as("graft_para"))
    reassembleSurvivors(df, idCol, occ, survivors, joinSep)
  }

  /** The packed per-paragraph signature frame [[nearDupParagraphs]]
    * computes internally, as a caller-owned shareable artifact:
    * (graft_id = id·2^posBits + pos, graft_hs shingle-hash set,
    * graft_sig minhash). Build it ONCE from [[paragraphOccurrences]],
    * persist it, and feed BOTH the engine pass
    * ([[nearDupParagraphsFromSignatures]]) and any exact-Jaccard audit
    * ([[exactJaccardPairsFromSignatures]] /
    * [[nearDuplicatePairsFromSignatures]] on a filtered subset) — the
    * tokenize+hash scan over the paragraph text is the dominant cost and
    * this pays it once instead of per consumer.
    */
  def paragraphSignatureFrame(
      occ: DataFrame,
      numHashes: Int = 64,
      shingleSize: Int = 3,
      posBits: Int = 20): DataFrame = {
    val paras = packedParagraphs(occ, posBits, "paragraphSignatureFrame")
      .select(col("graft_pid"), col("graft_para"))
    signatureFrame(paras, "graft_pid", "graft_para", numHashes, shingleSize)
  }

  /** [[nearDupParagraphs]] over a precomputed occurrence frame
    * ([[paragraphOccurrences]]) and signature frame
    * ([[paragraphSignatureFrame]]) — caller-owned persistence, shared
    * text scan. Same output contract and survivor election as
    * [[nearDupParagraphs]]; `occ`/`sigs` must come from the same
    * `df`/`posBits`/`shingleSize`.
    */
  def nearDupParagraphsFromSignatures(
      df: DataFrame,
      idCol: String,
      occ: DataFrame,
      sigs: DataFrame,
      threshold: Double = 0.5,
      numHashes: Int = 64,
      bands: Int = 16,
      maxBucketSize: Int = 1000,
      joinSep: String = "\n",
      posBits: Int = 20): DataFrame = {
    requireParagraphId(df, idCol, posBits, "nearDupParagraphsFromSignatures")
    val paras = packedParagraphs(occ, posBits, "nearDupParagraphsFromSignatures")
    val pairs = nearDuplicatePairsFromSignatures(
      sigs, threshold, numHashes, bands, maxBucketSize)
    val clustered = clustersFromPairs(paras, "graft_pid", pairs)
    val survivors = clustered
      .where(col("cluster") === col("graft_pid"))
      .select(col("graft_id").as("graft_id"),
        col("graft_pos").as("graft_pos"),
        col("graft_para").as("graft_para"))
    reassembleSurvivors(df, idCol, occ, survivors, joinSep)
  }

  private def requireParagraphId(
      df: DataFrame, idCol: String, posBits: Int, fn: String): Unit = {
    require(posBits >= 1 && posBits <= 40, s"posBits out of range: $posBits")
    val idType = df.schema(idCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"$fn needs an integral id column; '$idCol' is ${idType.simpleString}")
  }

  /** (graft_pid, graft_id, graft_pos, graft_para) with the packed key
    * `id·2^posBits + pos` (`raise_error` on range overflow — never
    * silent corruption).
    */
  private def packedParagraphs(
      occ: DataFrame, posBits: Int, fn: String): DataFrame = {
    val posLim = 1L << posBits
    val maxId = Long.MaxValue >> posBits
    val idL = col("graft_id").cast(LongType)
    val pid = when(
      col("graft_pos") < posLim && idL.between(0L, maxId),
      shiftleft(idL, posBits) + col("graft_pos"))
      .otherwise(raise_error(concat(
        lit(s"$fn: id/pos outside packing range (posBits=$posBits): "),
        idL.cast(StringType), lit("/"), col("graft_pos").cast(StringType))))
    occ.select(pid.as("graft_pid"), col("graft_id"),
      col("graft_pos"), col("graft_para"))
  }

  /** [[LshState]] at PARAGRAPH granularity — [[lshState]] over the packed
    * `id·2^posBits + pos` key space, so [[nearDupParagraphsIncremental]]
    * can dedup a daily batch against the accumulated paragraph history
    * (the Dolma production shape) exactly as [[nearDedupIncremental]]
    * does at document granularity. Fold a batch's survivors back with
    * `state.merge(paragraphLshState(survivingBatch, ...))`; all batches
    * and the history must share `posBits` and the LSH parameters.
    */
  def paragraphLshState(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      maxBucketSize: Int = 1000,
      delimRegex: String = "\n+",
      posBits: Int = 20): LshState =
    paragraphLshStateFromOccurrences(
      paragraphOccurrences(df, idCol, textCol, delimRegex),
      numHashes, bands, shingleSize, maxBucketSize, posBits)

  /** [[paragraphLshState]] over a precomputed occurrence frame
    * ([[paragraphOccurrences]]) — caller-owned persistence, shared text
    * scan (the [[nearDupParagraphsFromSignatures]] convention: a caller
    * that also needs the occurrences, e.g. for an exact replay or to
    * build several sub-states of one corpus, tokenizes ONCE). `occ` must
    * come from the same `df`/`delimRegex`/`posBits`.
    */
  def paragraphLshStateFromOccurrences(
      occ: DataFrame,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      maxBucketSize: Int = 1000,
      posBits: Int = 20): LshState = {
    val paras = packedParagraphs(
      occ, posBits, "paragraphLshStateFromOccurrences")
      .select(col("graft_pid"), col("graft_para"))
    lshState(paras, "graft_pid", "graft_para", numHashes, bands,
      shingleSize, maxBucketSize)
  }

  /** Incremental FUZZY paragraph dedup — [[nearDupParagraphs]]'s
    * persisted-state twin, composing the packed-pid paragraph space with
    * [[nearDedupIncremental]]'s batch-vs-state machinery: dedup `batch`'s
    * paragraphs within the batch (exact-Jaccard-verified clusters,
    * min-pid survivor) and against the accumulated
    * [[paragraphLshState]] of every previous batch (signature-agreement
    * verified), WITHOUT rescanning the historical corpus. A batch
    * cluster any of whose paragraphs matches history is dropped whole —
    * the full-corpus [[nearDupParagraphs]] outcome when history doc ids
    * precede batch doc ids (packing preserves that order), which is the
    * required ingest contract.
    *
    * Output: the [[dedupParagraphs]] reassembly contract over the BATCH
    * documents — `idCol`, `text_clean`, `n_paras`, `n_kept`,
    * `n_removed`.
    */
  def nearDupParagraphsIncremental(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      state: LshState,
      threshold: Double = 0.5,
      delimRegex: String = "\n+",
      joinSep: String = "\n",
      posBits: Int = 20): DataFrame =
    nearDupParagraphsIncrementalFromOccurrences(batch, idCol,
      paragraphOccurrences(batch, idCol, textCol, delimRegex),
      state, threshold, joinSep, posBits)

  /** [[nearDupParagraphsIncremental]] over a precomputed occurrence
    * frame ([[paragraphOccurrences]]) — caller-owned persistence, shared
    * text scan (a caller that also needs the occurrences, e.g. for an
    * exact replay, tokenizes the batch ONCE). `occ` must come from the
    * same `batch`/`delimRegex`/`posBits`.
    */
  def nearDupParagraphsIncrementalFromOccurrences(
      batch: DataFrame,
      idCol: String,
      occ: DataFrame,
      state: LshState,
      threshold: Double = 0.5,
      joinSep: String = "\n",
      posBits: Int = 20): DataFrame = {
    requireParagraphId(batch, idCol, posBits,
      "nearDupParagraphsIncrementalFromOccurrences")
    val paras = packedParagraphs(occ, posBits,
      "nearDupParagraphsIncrementalFromOccurrences")
    val surv = nearDedupIncremental(paras, "graft_pid", "graft_para",
      state, threshold)
    val survivors = surv
      // fresh aliases: same ambiguous-self-join rationale as
      // nearDupParagraphs — survivors shares occ's lineage
      .select(col("graft_id").as("graft_id"),
        col("graft_pos").as("graft_pos"),
        col("graft_para").as("graft_para"))
    reassembleSurvivors(batch, idCol, occ, survivors, joinSep)
  }

  // -------------------------------------------------------------------------
  // Exact substring deduplication (token-span granularity)
  // -------------------------------------------------------------------------

  /** Normalized token STRINGS (lowercased via Locale.ROOT,
    * whitespace-split, empties dropped) — THE tokenization:
    * [[scalaTokenHashes]] is defined on top of this array, so a gram hash
    * always describes a reconstructible token span by construction.
    */
  private def scalaTokens(text: String): Array[String] = {
    if (text == null) return Array.empty
    text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
  }

  /** POSITIONAL n-gram hashes: out(i) = hash of tokens [i, i+n). Docs with
    * fewer than n tokens emit nothing — a short doc has no n-token span to
    * deduplicate, so there is deliberately NO whole-text fallback here
    * (unlike [[scalaShingleHashes]], whose set semantics need one). Same
    * 64-bit construction as [[scalaShingleHashes]] minus the distinct-set,
    * so hash equality means token-sequence equality up to 2^-64 collisions.
    */
  private def scalaPosGramHashes(th: Array[Long], n: Int): Array[Long] = {
    if (th.length < n) return Array.empty
    val out = new Array[Long](th.length - n + 1)
    var i = 0
    while (i <= th.length - n) {
      var acc = 0L
      var k = 0
      while (k < n) { acc = mix64(acc ^ th(i + k)); k += 1 }
      out(i) = acc
      i += 1
    }
    out
  }

  /** One row per token POSITION per document: (`idCol`, graft_pos,
    * graft_gram) — the positional, non-distinct sibling of
    * [[gramHashRows]], for consumers that need to know WHERE a span occurs,
    * not just that it does. Same imperative hot-loop rationale.
    */
  private[pipeline] def posGramHashRows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    val idField = df.schema(df.schema.fieldIndex(idCol))
    val outSchema = StructType(Seq(
      idField.copy(name = idCol),
      StructField("graft_pos", IntegerType, nullable = false),
      StructField("graft_gram", LongType, nullable = false)))
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(outSchema)
    df.select(col(idCol), col(textCol)).mapPartitions { rows =>
      rows.flatMap { r =>
        val gs = scalaPosGramHashes(
          scalaTokenHashes(if (r.isNullAt(1)) null else r.getString(1)), n)
        Iterator.range(0, gs.length)
          .map(i => org.apache.spark.sql.Row(r.get(0), i, gs(i)))
      }
    }
  }

  /** Per-document duplication profile: how much of each document's
    * DISTINCT n-gram set also occurs in at least one other document —
    * the RefinedWeb-style "how duplicated is this doc" curation signal,
    * cheaper than any dedup because nothing is removed or reconstructed.
    * Documents with fewer than `n` tokens report (0, 0).
    *
    * Output: one row per input document — (`idCol`, distinct_grams,
    * dup_grams) where dup_grams counts this document's distinct grams
    * whose document frequency is >= 2.
    *
    * Scale shape: the doc-distinct gram stream pays the same two
    * exchanges as [[exactSubstringDedup]] (map-side-combinable
    * groupBy(gram) for document frequencies, then the stream⋈stats join —
    * AQE splits a boilerplate gram's skewed probe key); the per-doc
    * rollup shuffles one slim counted row per (doc, gram).
    */
  def duplicationProfile(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13): DataFrame = {
    val g = gramHashRows(df, idCol, textCol, n, shortDocFallback = false)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val stats = g.groupBy(col("graft_gram"))
      .agg(count(lit(1)).as("graft_df"))
    val perDoc = g.join(stats, Seq("graft_gram"))
      .groupBy(col(idCol).as("graft_pid"))
      .agg(count(lit(1)).as("graft_total"),
        sum(when(col("graft_df") >= 2, 1L).otherwise(0L)).as("graft_dup"))
    val base = df.select(col(idCol))
    val out = base
      .join(perDoc, base(idCol) <=> perDoc("graft_pid"), "left_outer")
      .select(base(idCol),
        coalesce(col("graft_total"), lit(0L)).as("distinct_grams"),
        coalesce(col("graft_dup"), lit(0L)).as("dup_grams"))
    CacheLifecycle.releaseOnConsume(out, Seq(g))
  }

  /** Exact substring deduplication — the ExactSubstr recipe of Lee et al.
    * 2021 (arXiv:2107.06499, "Deduplicating Training Data Makes Language
    * Models Better"), token-level: every n-token span that occurs more
    * than once ACROSS THE CORPUS (including repeats inside one document)
    * is removed from every occurrence except the globally first one
    * (smallest `(id, position)`). Overlapping duplicated spans merge into
    * one removed interval, so a verbatim-duplicated document loses its
    * entire text while the earliest copy survives. The reference engine
    * has no such operator; the capability anchors to the training-data
    * pipeline mandate (document-level dedup misses partially-copied text —
    * quotes, boilerplate, licence blocks — which this catches).
    *
    * Output: one row per input document — `idCol`, `total_tokens`,
    * `removed_tokens`, `kept_text` (the surviving tokens in original
    * order, normalized — lowercased, whitespace-split — joined by single
    * spaces; empty string when everything was removed or the text was
    * empty/null). Document ids are assumed unique and non-null.
    *
    * Scale shape:
    *  - the positional gram stream (ONE slim row per token position) pays
    *    two exchanges: a `groupBy(gram)` whose map-side partial collapses
    *    to distinct-grams-per-partition before shuffling, and the
    *    occurrences⋈duplicated-grams join. The join's build side carries
    *    one row per DUPLICATED gram only; a boilerplate gram occurring
    *    millions of times is a skewed probe key that AQE's skew-join
    *    splitting handles (each split joins against the single stats row).
    *    The stream is persisted (MEMORY_AND_DISK) because both consumers
    *    probe it — the alternative is a second tokenize scan of the corpus.
    *  - removed-interval assembly shuffles only the `(id, pos)` pairs of
    *    duplicated non-winner occurrences; per-document state is the
    *    sorted start list, bounded by the document's own token count (the
    *    same memory class as the document itself).
    *  - reconstruction is one imperative pass per document: a linear walk
    *    merging the sorted starts into covered intervals while emitting
    *    kept tokens — O(tokens + intervals), no window, no global sort.
    */
  def exactSubstringDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13): DataFrame = {
    require(n >= 2, "span length must be at least 2 tokens")
    val grams = posGramHashRows(df, idCol, textCol, n)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // duplicated grams with their globally-first occurrence
    val winners = grams.groupBy(col("graft_gram"))
      .agg(count(lit(1)).as("graft_cnt"),
        min(struct(col(idCol), col("graft_pos"))).as("graft_w"))
      .where(col("graft_cnt") > 1)
      .select(col("graft_gram"), col("graft_w"))
    val dupStarts = grams.join(winners, Seq("graft_gram"))
      .where(col(idCol) =!= col("graft_w")(idCol) ||
        col("graft_pos") =!= col("graft_w")("graft_pos"))
      .select(col(idCol), col("graft_pos"))
    val out = removeSpansAt(df, idCol, textCol, dupStarts, n)
    CacheLifecycle.releaseOnConsume(out, Seq(grams))
  }

  /** Remove every n-token span starting at the given (id, graft_pos)
    * rows — the interval-merging reassembly shared by
    * [[exactSubstringDedup]] (duplicated-span starts) and
    * [[TextAnalysis.removeContaminatedSpans]] (probe-matching starts).
    * Overlapping spans merge; output is one row per input document:
    * `idCol`, `total_tokens`, `removed_tokens`, `kept_text` (surviving
    * normalized tokens joined by single spaces). Per-document state is
    * the sorted start list — bounded by the document's own token count;
    * reconstruction is one linear walk, no window, no global sort.
    */
  private[pipeline] def removeSpansAt(
      df: DataFrame,
      idCol: String,
      textCol: String,
      starts: DataFrame,
      n: Int): DataFrame = {
    val ivs = starts.groupBy(col(idCol).as("graft_iv_id"))
      .agg(array_sort(collect_list(col("graft_pos"))).as("graft_starts"))
    val base = df.select(col(idCol), col(textCol))
    val joined = base
      .join(ivs, base(idCol) <=> ivs("graft_iv_id"), "left_outer")
      .select(base(idCol), base(textCol), ivs("graft_starts"))
    val idField = df.schema(df.schema.fieldIndex(idCol))
    val outSchema = StructType(Seq(
      idField.copy(name = idCol),
      StructField("total_tokens", IntegerType, nullable = false),
      StructField("removed_tokens", IntegerType, nullable = false),
      StructField("kept_text", StringType, nullable = false)))
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(outSchema)
    joined.mapPartitions { rows =>
      rows.map { r =>
        val toks = scalaTokens(if (r.isNullAt(1)) null else r.getString(1))
        val starts: Array[Int] =
          if (r.isNullAt(2)) Array.emptyIntArray
          else r.getSeq[Int](2).toArray
        var si = 0
        var coveredUntil = -1L
        var removed = 0
        val sb = new java.lang.StringBuilder
        var i = 0
        while (i < toks.length) {
          while (si < starts.length && starts(si) <= i) {
            val e = starts(si).toLong + n
            if (e > coveredUntil) coveredUntil = e
            si += 1
          }
          if (i < coveredUntil) removed += 1
          else {
            if (sb.length > 0) sb.append(' ')
            sb.append(toks(i))
          }
          i += 1
        }
        org.apache.spark.sql.Row(r.get(0), toks.length, removed, sb.toString)
      }
    }
  }
}
