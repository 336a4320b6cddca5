package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.{functions => F}
import mallispark.compile.SchemaCompiler
import mallispark.ir.SchemaIR

/** What a workload shares with the harness. `scale` shrinks every input
  * (the self-test runs at a tiny scale); `corrupt` swaps in a wrong
  * expected answer so the self-test can see a failed operation. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val seed: Long,
                val scale: Double, val work: Path, val corrupt: Boolean) {
  def rows(n: Long, multipleOf: Long = 10): Long =
    math.max(multipleOf * 10, (n * scale).toLong / multipleOf * multipleOf)

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** One operation's output: the documents it processed, workload-specific
  * gauges, and the correctness check (run after the operation's clock
  * stops; each returned string is one mismatch). */
final case class Done(docs: Long, gauges: Map[String, Double],
                      verify: () => Seq[String])

abstract class Workload(val ctx: Ctx) {
  def setup(): Unit
  /** Untimed preparation of operation `i` (runs before its clock starts). */
  def prepare(i: Int): Unit = ()
  def op(i: Int): Done
  /** Traced runs only: layer cuts after operation `i`, as metric values. */
  def cuts(i: Int): Map[String, Double] = Map.empty

  protected def check(name: String, got: Any, want: Any): Seq[String] =
    if (got == want) Nil else Seq(s"$name: got $got, want $want")

  protected def deleteTree(p: Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val st = java.nio.file.Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => java.nio.file.Files.delete(x))
      finally st.close()
    }
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "audit_clean" => new AuditClean(ctx)
    case "ingest_dirty" => new IngestDirty(ctx)
    case "dedup_neardup" => new DedupNearDup(ctx)
    case "wide_schema" => new WideSchema(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val names: Seq[String] =
    Seq("audit_clean", "ingest_dirty", "dedup_neardup", "wide_schema")
}

/** Cumulative cuts through the validation pipeline of `ValidationJob`:
  * read, +valid, +errors, +explode, +verdict. Each cut ends in an
  * aggregate over a hash of every input column, so the optimizer can
  * prune neither the scan nor the layer under test, and the errors array
  * is exploded with the outer-explode idiom so it is evaluated once. */
object ValidationCuts {
  def run(ctx: Ctx, df: DataFrame, schema: SchemaIR,
          key: String): Map[String, Double] = {
    import ctx._
    def cut[T](name: String)(body: => T): (T, Double) =
      timed(tr.span(name)(body))
    val withPart = df.withColumn("part_id",
      F.pmod(F.xxhash64(F.col(key)), F.lit(256L)))
    val rowHash =
      F.sum(F.pmod(F.xxhash64(df.columns.map(F.col).toIndexedSeq: _*),
        F.lit(1000003L))).as("h")
    val validCnt = F.sum(F.when(F.col("valid"), 1L).otherwise(0L)).as("v")
    val (_, tRead) = cut("cut.read") { withPart.agg(rowHash).collect() }
    val flagged = tr.span("compile.build") {
      SchemaCompiler.validateDF(schema, withPart, "valid",
        exclude = Set("part_id"))
    }
    val (_, tValid) = cut("cut.valid") { flagged.agg(rowHash, validCnt).collect() }
    val withErrs = tr.span("compile.build") {
      SchemaCompiler.explainDF(schema, flagged, "errs",
        exclude = Set("part_id", "valid"))
    }
    val (_, tErrors) = cut("cut.errors") {
      withErrs.agg(rowHash, validCnt, F.sum(F.size(F.col("errs")))).collect()
    }
    val exploded = withErrs.select(
      F.pmod(F.xxhash64(df.columns.map(F.col).toIndexedSeq: _*),
        F.lit(1000003L)).as("rh"),
      F.col("valid"), F.col("part_id"),
      F.explode_outer(F.col("errs")).as("e"))
    val (ex, tExplode) = cut("cut.explode") {
      exploded.agg(F.sum("rh"), validCnt, F.count(F.col("e")),
        F.count(F.lit(1))).head()
    }
    val (_, tVerdict) = cut("cut.verdict") {
      exploded.groupBy("part_id").agg(F.sum("rh").as("rh"),
          F.min(F.col("valid")).as("pass"), F.count(F.col("e")).as("ne"))
        .agg(F.sum("rh"), F.sum(F.when(F.col("pass"), 1L).otherwise(0L)),
          F.sum("ne")).collect()
    }
    Map(
      "run.read_s" -> tRead,
      "compile.valid_s" -> (tValid - tRead),
      "compile.errors_s" -> (tErrors - tValid),
      "compile.explode_s" -> (tExplode - tErrors),
      "run.verdict_s" -> (tVerdict - tExplode),
      "cut.verdict_s" -> tVerdict,
      "compile.explode_rows_out" -> ex.getLong(2).toDouble)
  }
}
