package mallispark.expressions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/** The engine's one way to explode an array or map column.
  *
  * A plain `explode`/`posexplode` lets Catalyst's InferFiltersFromGenerate
  * add `size(arr) > 0 AND isnotnull(arr)` below the generate, and
  * predicate pushdown then substitutes the projection that computes `arr`
  * into it: the expensive expression (errors array, text kernel, HOF
  * chain) runs twice per input row. No filter can be inferred from an
  * OUTER generate, so every explode here is `posexplode_outer` followed by
  * `pos IS NOT NULL` on the generated position, a filter on a generated
  * column that nothing can push below the generate. The position is null
  * exactly on the one extra row an outer generate emits for a null or
  * empty input, so the rows are those of the plain generate: null
  * elements are kept, a null or empty input gives no rows, and maps
  * explode to (key, value) like `explode` does. PlanSpec sweeps every
  * query plan for the size() Filter this prevents. */
object Explode {

  private val Pos = "__explode_pos"

  /** `df.select(keep :+ explode(arr).as(names))`: `names` is one column
    * name for an array, (key, value) names for a map. */
  def computed(df: DataFrame, keep: Seq[Column], arr: Column,
               names: String*): DataFrame =
    positional(df, keep, arr, Pos, names: _*).drop(Pos)

  /** `df.select(keep :+ posexplode(arr).as(pos +: names))`: the
    * zero-based position in column `pos`, then the element (array) or
    * key and value (map) columns. */
  def positional(df: DataFrame, keep: Seq[Column], arr: Column, pos: String,
                 names: String*): DataFrame =
    df.select(keep :+ F.posexplode_outer(arr).as(pos +: names): _*)
      .where(F.col(pos).isNotNull)
}
