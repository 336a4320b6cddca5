package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One query: the engine builder next to its DuckDB ground truth
  * (same parquet, COLUMN NAMES identical).
  *
  * `oracle = None` marks a bench-only scale path whose RAW output is an
  * engine-native sketch (xxhash64 bands, HLL estimates, percentile
  * sketches) and therefore has no DuckDB value-oracle BY CONSTRUCTION.
  * Each is law-gated by an oracled query instead (native_hash_law,
  * approx_distinct_law, ks_sketch_law, infer_approx_law): the law gate
  * emits an exact component DuckDB re-derives PLUS an engine-proved
  * tolerance/agreement verdict the oracle expects to be true. Bench-only
  * paths stay OUT of the per-query oracle comparison but IN the Bench
  * suite so the scale paths stay timed every round. */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QueryDef {

  /** Fails fast on a duplicate name (a `Map(...)` literal would silently
    * keep the last entry). */
  def assemble(defs: Seq[QueryDef]): Seq[QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    defs
  }
}
