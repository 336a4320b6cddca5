package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + FIXTURES.md §4.
  *
  * Every SQL-expressible operator is one [[QueryDef]] in a per-family
  * object under `graft.queries`: its engine builder next to its
  * `oracle` (DuckDB ground truth on the same parquet). The three maps
  * below are derived from that one list.
  * Cross-engine determinism rules used throughout:
  *  - hashes are md5-derived (never engine-private hash functions)
  *  - aggregates are exact integers, or doubles rounded to 4-6 dp
  *  - every output is ORDER BY'd on non-null keys
  *  - timestamps never appear in outputs (only in predicates)
  */
object SparkEntry {

  /** Flagship: per-partition pass/fail verdicts of the web-pages
    * validation on sf=0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("web_verdicts")(spark, "/root/testdata/sf0.001")

  private[graft] val defs: Seq[QueryDef] = QueryDef.assemble(
    ValidationQueries.defs ++ StreamingQueries.defs ++
      TableCheckQueries.defs ++ TransformQueries.defs ++
      ViolationQueries.defs ++ DedupQueries.defs ++ TextQueries.defs ++
      SchemaToolQueries.defs)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    defs.collect { case QueryDef(n, build, Some(_)) => n -> build }.toMap

  /** Law-gated scale paths with no value-oracle (see [[QueryDef]]). */
  val benchOnlyQueries: Map[String, (SparkSession, String) => DataFrame] =
    defs.collect { case QueryDef(n, build, None) => n -> build }.toMap

  val oracleSql: Map[String, String] =
    defs.collect { case QueryDef(n, _, Some(sql)) => n -> sql }.toMap
}
