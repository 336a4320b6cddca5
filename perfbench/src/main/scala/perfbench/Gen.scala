package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** Seeded inputs owned by the benchmark. Every value is a pure function of
  * (seed, row key, salt), so the same seed gives the same inputs, and
  * every injected violation is a visible per-row flag: the expected
  * answers are aggregates over those flags and never pass through the
  * engine's schema compiler. */
object Gen {

  /** Uniform in [0, 1) from (seed, key, salt). */
  def u(seed: Long, key: Column, salt: Long): Column =
    F.pmod(F.xxhash64(F.lit(seed), key, F.lit(salt)), F.lit(1000003L))
      .cast(DoubleType) / 1000003.0

  /** Non-negative hash of (seed, key, salt) modulo `m`. */
  def h(seed: Long, key: Column, salt: Long, m: Long): Column =
    F.pmod(F.xxhash64(F.lit(seed), key, F.lit(salt)), F.lit(m))

  /** `lo..hi` words from a `vocab`-word vocabulary ("w0".."w49999"),
    * drawn from a generator seeded by (seed, key, salt). */
  private val wordsUdf = F.udf((seed: Long, key: Long, salt: Long, lo: Int,
                                hi: Int, vocab: Int) => {
    val r = new java.util.SplittableRandom(
      seed * 0x9E3779B97F4A7C15L ^ key * 0xC2B2AE3D27D4EB4FL ^ salt)
    val n = lo + r.nextInt(hi - lo + 1)
    val sb = new java.lang.StringBuilder(n * 7)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append('w').append(r.nextInt(vocab))
      i += 1
    }
    sb.toString
  })

  def words(seed: Long, key: Column, salt: Column, lo: Int, hi: Int,
            vocab: Int = 50000): Column =
    wordsUdf(F.lit(seed), key, salt, F.lit(lo), F.lit(hi), F.lit(vocab))

  val Langs: Seq[String] = Seq("en", "de", "fr", "es", "zh")
  val TsMin = 1735689600L // WebPages.schema window [2025-01-01,
  val TsMax = 1777593600L //                          2026-05-01]

  /** Error keys the engine reports for each injected violation of the
    * `WebPages.schema` shape, in flag-bit order. */
  val PageErrorKeys: Seq[(String, String)] = Seq(
    "url" -> ":re", "warc_ts" -> ":time/instant", "text" -> ":string",
    "lang" -> ":enum")

  /** Web pages shaped like `WebPages.schema`: batch `batch` holds keys
    * `[batch * n / 2, batch * n / 2 + n)`, so consecutive batches share
    * half their keys (and urls) with different text. A row is dirty with
    * probability `rate`; a dirty row breaks 1-3 of url, warc_ts, text and
    * lang (one of the 14 non-empty, non-full masks over those four).
    * Odd keys repeat the previous key's url with probability `dupRate`.
    * `flags = true` adds the per-row flag columns instead of the page
    * payload. */
  final case class Pages(seed: Long, n: Long, rate: Double, dupRate: Double,
                         textLo: Int, textHi: Int, files: Int) {
    def firstKey(batch: Long): Long = batch * (n / 2)

    private def mask(k: Column, b: Long): Column =
      F.when(u(seed, k, 11 + 1000 * b) < rate,
        h(seed, k, 12 + 1000 * b, 14) + 1).otherwise(F.lit(0L))
    private def bad(m: Column, bit: Int): Column =
      (m.bitwiseAND(F.lit(1L << bit))) =!= 0L
    private def dup(k: Column, b: Long): Column =
      (F.pmod(k, F.lit(2L)) === 1L) && u(seed, k, 13 + 1000 * b) < dupRate &&
        k > firstKey(b)

    private def rows(spark: SparkSession, batch: Long): DataFrame =
      spark.range(firstKey(batch), firstKey(batch) + n, 1, files)
        .withColumnRenamed("id", "k")

    def frame(spark: SparkSession, batch: Long): DataFrame = {
      val k = F.col("k")
      val m = mask(k, batch)
      val urlKey = F.when(dup(k, batch), k - 1).otherwise(k)
      val host = F.floor(F.pow(u(seed, urlKey, 14), 3.0) * 1000).cast(LongType)
      val url = F.when(bad(m, 0), F.concat(F.lit("notaurl-"), k.cast(StringType)))
        .otherwise(F.concat(F.lit("https://host"), host.cast(StringType),
          F.lit(".example.org/p/"), urlKey.cast(StringType)))
      val ts = F.when(bad(m, 1), F.lit(TsMax + 86400L) + h(seed, k, 15, 1000000L))
        .otherwise(F.lit(TsMin) + h(seed, k, 15, TsMax - TsMin))
      val text = F.when(bad(m, 2), F.lit(""))
        .otherwise(words(seed, k, F.lit(16 + 1000 * batch), textLo, textHi))
      val langU = u(seed, k, 17 + 1000 * batch)
      val lang = F.when(bad(m, 3), F.lit("xx"))
        .when(langU < 0.55, "en").when(langU < 0.75, "de")
        .when(langU < 0.87, "fr").when(langU < 0.95, "es").otherwise("zh")
      rows(spark, batch).select(
        k.as("doc_id"), url.as("url"), F.timestamp_seconds(ts).as("warc_ts"),
        text.as("text"), lang.as("lang"))
        .withColumn("html", F.encode(F.col("text"), "UTF-8"))
        .select("doc_id", "url", "warc_ts", "html", "text", "lang")
    }

    /** Expected answers of batch `batch` from the flags alone. */
    def expected(spark: SparkSession, batch: Long): Expected = {
      val k = F.col("k")
      val m = mask(k, batch)
      val prevM = mask(k - 1, batch)
      val inOverlap = k < firstKey(batch) + n / 2 // shared with batch - 1
      val prevBatchM = if (batch > 0) mask(k, batch - 1) else F.lit(0L)
      def cnt(c: Column) = F.sum(F.when(c, 1L).otherwise(0L))
      val aggs = Seq(
        cnt(m === 0L).as("valid"),
        cnt(dup(k, batch) && !bad(m, 0) && !bad(prevM, 0)).as("dup_urls"),
        cnt(inOverlap && !(bad(m, 2) && bad(prevBatchM, 2))).as("modified")) ++
        PageErrorKeys.indices.map(i => cnt(bad(m, i)).as(s"v$i"))
      val r = rows(spark, batch).agg(aggs.head, aggs.tail: _*).head()
      Expected(rows = n, validRows = r.getLong(0),
        // a key no row violates has no group in the engine's counts
        violations = PageErrorKeys.indices
          .map(i => PageErrorKeys(i)._2 -> r.getLong(3 + i)).toMap
          .filter(_._2 > 0),
        dupUrls = r.getLong(1), modified = r.getLong(2))
    }
  }

  final case class Expected(rows: Long, validRows: Long,
                            violations: Map[String, Long], dupUrls: Long,
                            modified: Long) {
    def violationRows: Long = violations.values.sum
    /** The self-test's deliberately wrong answer. */
    def corrupted: Expected = copy(validRows = validRows + 1)
  }

  /** Dedup corpus: `n` docs, each distinct body shared by the 5 docs of
    * one group (doc_id / 5), 8-32 words from a 50k-word vocabulary. */
  def corpus(spark: SparkSession, seed: Long, n: Long, parts: Int): DataFrame = {
    val g = F.floor(F.col("id") / 5)
    spark.range(0, n, 1, parts).select(F.col("id").as("doc_id"),
      words(seed, g, F.lit(21L), 8, 32).as("text"))
  }

  /** 64-dim grouped embeddings: the 5 members of a group share a base
    * direction with a 1% per-member perturbation. */
  def embeddings(spark: SparkSession, seed: Long, n: Long, parts: Int,
                 dims: Int): DataFrame = {
    val g = F.floor(F.col("id") / 5)
    def uv(key: Column, j: Column) =
      (F.pmod(F.xxhash64(F.lit(seed), key, j), F.lit(2000L)).cast(DoubleType)
        - 1000.0) / 1000.0
    val vec = F.transform(F.sequence(F.lit(0), F.lit(dims - 1)), j =>
      (uv(g, j.cast(LongType)) +
        uv(F.col("id"), j.cast(LongType) + 1000000L) * 0.01).cast(FloatType))
    spark.range(0, n, 1, parts)
      .select(F.col("id").as("vec_id"), vec.as("embedding"))
  }
}
