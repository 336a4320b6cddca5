package mallispark

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.types._
import mallispark.expressions.Explode

/** `Explode` must give exactly the rows of plain explode/posexplode —
  * null elements kept, null and empty inputs dropped, maps as
  * (key, value) — with no filter inferable below the generate. */
class ExplodeSpec extends SparkSuite {

  private lazy val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, Seq("a", null, "b"), Map("x" -> 1L, "y" -> null)),
      Row(2L, Seq.empty[String], Map.empty[String, Long]),
      Row(3L, null, null),
      Row(4L, Seq(null), Map("z" -> 3L))),
    StructType(Seq(
      StructField("id", LongType),
      StructField("arr", ArrayType(StringType, containsNull = true)),
      StructField("m", MapType(StringType, LongType,
        valueContainsNull = true)))))

  private def rows(d: DataFrame): Seq[String] =
    d.collect().map(_.toString).toSeq.sorted

  /** Same column names and types (nullability aside) and the same rows. */
  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) ===
      want.schema.map(f => (f.name, f.dataType)))
    assert(rows(got) === rows(want))
  }

  private val id = F.col("id")

  test("array: the rows of explode, null elements kept, null/empty dropped") {
    val got = Explode.computed(df, Seq(id), F.col("arr"), "e")
    assertSame(got, df.select(id, F.explode(F.col("arr")).as("e")))
    assert(rows(got) ===
      Seq("[1,a]", "[1,b]", "[1,null]", "[4,null]"))
  }

  test("array: positional output matches posexplode") {
    val got = Explode.positional(df, Seq(id), F.col("arr"), "p", "e")
    assertSame(got, df.select(id,
      F.posexplode(F.col("arr")).as(Seq("p", "e"))))
    assert(rows(got) ===
      Seq("[1,0,a]", "[1,1,null]", "[1,2,b]", "[4,0,null]"))
  }

  test("map: (key, value) rows of explode and posexplode") {
    assertSame(Explode.computed(df, Seq(id), F.col("m"), "k", "v"),
      df.select(id, F.explode(F.col("m")).as(Seq("k", "v"))))
    val pos = Explode.positional(df, Seq(id), F.col("m"), "p", "k", "v")
    assertSame(pos,
      df.select(id, F.posexplode(F.col("m")).as(Seq("p", "k", "v"))))
    assert(rows(pos) === Seq("[1,0,x,1]", "[1,1,y,null]", "[4,0,z,3]"))
  }

  test("a computed array explodes once, with no filter below the generate") {
    val upper: Column = F.transform(F.col("arr"), x => F.upper(x))
    val got = Explode.computed(df, Nil, upper, "e")
    assertSame(got, df.select(F.explode(upper).as("e")))
    val plan = got.queryExecution.optimizedPlan
    val filters = plan.collect { case f: Filter => f.condition.sql }
    assert(filters.size === 1 && filters.head.contains("__explode_pos"),
      s"unexpected filters:\n$plan")
    assert(got.columns.toSeq === Seq("e"))
  }
}
