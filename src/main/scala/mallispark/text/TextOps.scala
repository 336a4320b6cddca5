package mallispark.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** Text-analysis primitives for large-scale training-data pipelines:
  * tokenization, language-ID, quality scoring, token counting, document
  * fingerprinting. All pure `Column` expressions (whole-stage codegen, no
  * UDFs) and all expressible 1:1 in ANSI SQL for the DuckDB oracle.
  *
  * Portability contract: every hash is derived from md5 (identical across
  * engines), never from engine-private hash functions. */
object TextOps {

  /** Observed-metric names must be unique within one query plan — a
    * counter suffix lets the same operator appear twice in one query
    * (shared by every text/ operator that attaches `observe` metrics). */
  private val obsSeq = new java.util.concurrent.atomic.AtomicLong()
  private[text] def obsName(prefix: String): String =
    s"${prefix}_${obsSeq.incrementAndGet()}"

  /** `id` as a BIGINT column, the type of every bounded member heap and
    * candidate-pair id. Fails fast, before any job runs, unless the
    * column is integral. */
  private[text] def longId(df: DataFrame, id: String): Column = {
    val dt = df.schema(id).dataType
    require(Set[DataType](ByteType, ShortType, IntegerType, LongType)(dt),
      s"id column `$id` must be integral (tinyint/smallint/int/bigint), " +
        s"got ${dt.sql}: map non-numeric ids to a numeric surrogate first")
    F.col(id).cast(LongType)
  }

  /** 32-bit portable hash: first 8 hex chars of md5, as a BIGINT.
    * DuckDB equivalent: ('0x' || substring(md5(s),1,8))::BIGINT. */
  def h32(c: Column): Column =
    F.conv(F.substring(F.md5(c.cast(StringType)), 1, 8), 16, 10)
      .cast(LongType)

  /** Seeded variant: hash of "<seed>:<value>". */
  def h32(seed: Column, c: Column): Column =
    h32(F.concat(seed.cast(StringType), F.lit(":"), c.cast(StringType)))

  /** Whitespace tokens, lowercased.
    * DuckDB: regexp_split_to_array(lower(text), '\s+'). */
  def tokens(text: Column): Column = F.split(F.lower(text), "\\s+")

  /** Word n-gram shingles: ["a b c", "b c d", ...]. Empty/short docs give
    * an empty array. DuckDB: list_transform(range(...), i -> ...). */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    F.when(F.size(toks) < n, F.array().cast(ArrayType(StringType)))
      .otherwise(F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        i => F.array_join(F.slice(toks, i + 1, F.lit(n)), " ")))
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = F.size(tokens(text))

  /** BPE-ish subword-ish count: runs of letters, runs of digits, and
    * individual other non-space chars (the standard pre-tokenizer regex
    * shape). DuckDB: len(regexp_extract_all(text, pattern)). */
  val BpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeTokenCount(text: Column): Column =
    F.regexp_count(text, F.lit(BpePattern))

  // ---- language ID (marker-word heuristic) -------------------------------

  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "es" -> Seq("el", "los", "las", "y", "es", "una"),
    "zh" -> Seq("的", "是", "了"))

  /** Marker-word score per language, then first-wins argmax (deterministic
    * CASE chain in Markers order; 'und' when no marker hits). */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scores = Markers.map { case (lang, ws) =>
      lang -> F.size(F.filter(toks, t => t.isin(ws: _*)))
    }
    val maxScore = scores.map(_._2).reduce((a, b) => F.greatest(a, b))
    scores.foldRight(F.lit("und")) { case ((lang, s), acc) =>
      F.when(s === maxScore && maxScore > 0, F.lit(lang)).otherwise(acc)
    }
  }

  // ---- quality ------------------------------------------------------------

  val Stopwords: Seq[String] = Markers.flatMap(_._2)

  /** Quality features struct: n_chars, n_tokens, punct_cnt, stop_cnt,
    * mean token length (x1000 as integer to avoid FP-division drift in
    * oracle comparison). */
  def qualityFeatures(text: Column): Column = {
    val toks = tokens(text)
    val nChars = F.length(text)
    val nToks = F.size(toks)
    val punct = F.length(F.regexp_replace(text, "[^.,!?;:]", ""))
    val stops = F.size(F.filter(toks, t => t.isin(Stopwords: _*)))
    val tokLenSum = F.aggregate(toks, F.lit(0L), (acc, t) => acc + F.length(t))
    F.struct(
      nChars.cast(LongType).as("n_chars"),
      nToks.cast(LongType).as("n_tokens"),
      punct.cast(LongType).as("punct_cnt"),
      stops.cast(LongType).as("stop_cnt"),
      // Column./ is always double division — floor to match SQL `//`
      F.when(nToks > 0, F.floor(tokLenSum * 1000L / nToks))
        .otherwise(F.lit(0L)).cast(LongType)
        .as("mean_tok_len_x1000"))
  }

  /** Deterministic hash-based stratified sampling: keep a row iff
    * `h32(key || '|' || salt) % 10000 < rate(stratum)·10000`. No RNG
    * state — reproducible at ANY parallelism and portable (md5-derived),
    * unlike `df.sample` whose draw depends on partition layout. The
    * per-stratum rates let a pipeline downsample dominant languages/hosts
    * while keeping the tail (the usual web-corpus rebalancing step). */
  def stratifiedSample(df: org.apache.spark.sql.DataFrame, keyCol: String,
                       strataCol: String, rates: Map[String, Double],
                       defaultRate: Double,
                       salt: String = "s0"): org.apache.spark.sql.DataFrame = {
    val h = h32(F.concat(F.col(keyCol).cast(StringType), F.lit("|" + salt)))
    val rate = rates.toSeq.sortBy(_._1).foldRight(F.lit(defaultRate)) {
      case ((k, r), acc) => F.when(F.col(strataCol) === k, F.lit(r))
        .otherwise(acc)
    }
    // round, don't truncate: the double product of a rate like 0.29 is
    // 2899.999… and a bare cast would disagree off-by-one with the
    // oracle's exact decimal CAST(0.29 * 10000 AS BIGINT) = 2900
    df.where(F.pmod(h, F.lit(10000L)) < F.round(rate * 10000).cast(LongType))
  }

  /** Positionally-weighted document fingerprint: sum over tokens of
    * position * h32(token) — order-sensitive (rolling-hash-style), portable.
    * DuckDB: sum over unnest + generate_subscripts. */
  def fingerprint(text: Column): Column = {
    val toks = tokens(text)
    F.aggregate(
      F.zip_with(toks, F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1))),
        (t, i) => i.cast(LongType) * h32(t)),
      F.lit(0L), (acc, x) => acc + x)
  }
}
