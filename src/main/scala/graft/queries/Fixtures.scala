package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}
import mallispark.ir.{S, SchemaIR}
import mallispark.compile.SchemaCompiler
import mallispark.run.{NestedDocs, WebPages}
import mallispark.text.TextOps

/** Fixtures shared by several query families: input tables, the derived
  * pages table, dirty variants and their schemas, and the common oracle
  * SQL fragments. */
private[queries] object Fixtures {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  def deleteRecursively(path: String): Unit = {
    import java.nio.file.{Files, Paths}
    val p = Paths.get(path)
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
    }
  }

  def pages(s: SparkSession, dir: String): DataFrame =
    WebPages.derive(t(s, dir, "documents"))

  /** Portable logical partition: md5-derived hash of url, mod 32. */
  def partId(url: Column): Column = TextOps.h32(url) % 32

  implicit val ctx: SchemaCompiler.Ctx = SchemaCompiler.Ctx()

  // ------------------------------------------------------------------
  // dirty variants with deterministic violation injections (identical
  // CASE logic lives in the oracle SQL)
  // ------------------------------------------------------------------

  def dirtyLineitem(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val k = F.col("l_orderkey")
    li.withColumn("l_quantity",
        F.when(k % 97 === 5, -F.col("l_quantity")).otherwise(F.col("l_quantity")))
      .withColumn("l_returnflag",
        F.when(k % 89 === 7, F.lit("X")).otherwise(F.col("l_returnflag")))
      .withColumn("l_shipdate",
        F.when(k % 101 === 11, F.lit(java.sql.Timestamp.valueOf("2031-01-01 00:00:00")))
          .otherwise(F.col("l_shipdate")))
  }

  val lineitemSchema: SchemaIR = S.map(
    "l_orderkey" -> S.intMin(1L),
    "l_quantity" -> S.double(1.0, 50.0),
    "l_returnflag" -> S.enum_("A", "N", "R"),
    "l_linestatus" -> S.enum_("O", "F"),
    "l_shipdate" -> S.instant(
      min = Some(java.time.Instant.parse("1990-01-01T00:00:00Z")),
      max = Some(java.time.Instant.parse("2010-01-01T00:00:00Z"))))

  def dirtyEvents(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val k = F.col("event_id")
    ev.withColumn("event_type",
        F.when(k % 101 === 13, F.lit("bogus")).otherwise(F.col("event_type")))
      .withColumn("value",
        F.when(k % 103 === 17, F.lit(-1.0)).otherwise(F.col("value")))
      .withColumn("ts",
        F.when(k % 107 === 19, F.lit(java.sql.Timestamp.valueOf("2030-01-01 00:00:00")))
          .otherwise(F.col("ts")))
  }

  val eventsSchema: SchemaIR = S.map(
    "event_id" -> S.intMin(0L),
    "ts" -> S.instant(
      min = Some(java.time.Instant.parse("2024-01-01T00:00:00Z")),
      max = Some(java.time.Instant.parse("2024-02-01T00:00:00Z"))),
    "event_type" -> S.enum_("view", "click", "signup", "purchase", "error"),
    "value" -> S.double(0.0, 1e9))

  // ------------------------------------------------------------------
  // nested/collection schemas over NestedDocs.derive (lockstep CTE)
  // ------------------------------------------------------------------

  /** Collection compiler paths: vector element+limits, set uniqueness,
    * tuple size+elements, map-of limits+values (reference fixtures
    * core_test.cljc:3113/3164). */
  val nestedSchema: SchemaIR = S.mapE(false,
    S.req("doc_id", S.int),
    S.req("nums", S.vector(S.int(0L, 99L), min = Some(1), max = Some(8))),
    S.req("tags", S.set(S.string(min = 1))),
    S.req("pair", S.tuple(S.string(min = 1), S.enum_(NestedDocs.Langs: _*))),
    S.req("kvs", S.mapOf(S.string(min = 1), S.int(0L, 50L), min = Some(1))))

  val P = WebPages.OracleCte // WITH base AS (...), pages AS (...)

  /** Portable hash in DuckDB. */
  def dh32(e: String) = s"('0x' || substring(md5($e),1,8))::BIGINT"

  val validSql =
    """regexp_matches(url, '^https?://[^\s]+$')
      | AND warc_ts >= TIMESTAMP '2025-01-01 00:00:00'
      | AND warc_ts <= TIMESTAMP '2026-05-01 00:00:00'
      | AND length(text) >= 1
      | AND lang IN ('en','de','fr','es','zh')""".stripMargin.replace("\n", "")
}
