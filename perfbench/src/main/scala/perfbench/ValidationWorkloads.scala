package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import mallispark.checks.TableChecks
import mallispark.run.{SnapshotTable, ValidationJob, WebPages}

/** Shared by the two validation workloads: the committed manifest rows of
  * a run summed to (rows, valid_rows), and the violation counts per error
  * key of a run, both checked against the generator's flags. */
private object Verdicts {
  def totals(manifest: DataFrame): (Long, Long) = {
    val r = manifest.agg(F.sum("rows"), F.sum("valid_rows")).head()
    (r.getLong(0), r.getLong(1))
  }

  def violationsByKey(viols: DataFrame): Map[String, Long] =
    viols.groupBy("error_key").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
}

/** Nightly read-only audit of a mostly clean table: one snapshot of web
  * pages at the `WebPages.schema` shape (about 0.6% invalid rows) over
  * many files, committed over a smaller parent snapshot for drift. Each
  * operation validates the snapshot from an empty validation manifest,
  * then runs the table checks against it. */
final class AuditClean(c: Ctx) extends Workload(c) {
  import ctx._
  private val dir = work.resolve("audit_table")
  private val runDir = dir.resolve("validation").toString
  private val pages = Gen.Pages(seed, rows(25000), rate = 0.006,
    dupRate = 0.01, textLo = 150, textHi = 350, files = 32)
  private val parent = pages.copy(seed = seed + 1, n = pages.n / 8, files = 4)
  private var expected: Gen.Expected = _

  def setup(): Unit = {
    deleteTree(dir)
    SnapshotTable.commit(parent.frame(spark, 0), dir.toString,
      SnapshotTable.Overwrite)
    SnapshotTable.commit(pages.frame(spark, 0), dir.toString,
      SnapshotTable.Overwrite)
    expected = pages.expected(spark, 0)
    if (corrupt) expected = expected.corrupted
  }

  override def prepare(i: Int): Unit = deleteTree(dir.resolve("validation"))

  def op(i: Int): Done = {
    val (total, valid) = tr.span("run.validate") {
      Verdicts.totals(ValidationJob.validateSnapshot(spark, dir.toString,
        WebPages.schema, Seq("doc_id"), Some(2L)))
    }
    val (curr, prev) = tr.span("run.read") {
      (SnapshotTable.read(spark, dir.toString, Some(2L)),
        SnapshotTable.read(spark, dir.toString, Some(1L)))
    }
    val stats = tr.span("checks.stats") {
      TableChecks.columnStats(curr, Seq("doc_id", "url", "warc_ts", "lang"))
        .collect()
    }
    val dups = tr.span("checks.unique") {
      TableChecks.duplicates(curr, "url").count()
    }
    val chi = tr.span("checks.drift") {
      TableChecks.chiSquare(curr, prev, "lang").head()
    }
    val ks = tr.span("checks.drift") {
      TableChecks.ksStatistic(curr, prev, "warc_ts").head()
    }
    Done(pages.n, Map.empty, () => {
      val viols = Verdicts.violationsByKey(
        ValidationJob.readViolations(spark, runDir, "snap-000002"))
      val idStats = stats.find(_.getString(0) == "doc_id")
      check("rows", total, expected.rows) ++
        check("valid_rows", valid, expected.validRows) ++
        check("violations", viols, expected.violations) ++
        check("doc_id count", idStats.map(_.getLong(1)), Some(expected.rows)) ++
        check("doc_id nulls", idStats.map(_.getLong(2)), Some(0L)) ++
        check("duplicate urls", dups, expected.dupUrls) ++
        check("chi-square finite", chi.isNullAt(0) ||
          chi.getDouble(0).isNaN || chi.getDouble(0) < 0, false) ++
        check("ks in [0,1]", ks.getDouble(0) >= 0 && ks.getDouble(0) <= 1,
          true)
    })
  }

  override def cuts(i: Int): Map[String, Double] = {
    val m = ValidationCuts.run(ctx,
      SnapshotTable.read(spark, dir.toString, Some(2L)), WebPages.schema,
      "doc_id")
    m + ("compile.viol_per_row" -> m("compile.explode_rows_out") / pages.n)
  }
}

/** Write-heavy re-crawl loop: each operation overwrites the table with a
  * fresh batch whose first half repeats the previous batch's urls with
  * changed text; 45% of rows carry 1-3 violations and some urls repeat.
  * The batch is validated, its committed violation rows counted, and the
  * per-snapshot report run against the previous snapshot. */
final class IngestDirty(c: Ctx) extends Workload(c) {
  import ctx._
  private val dir = work.resolve("ingest_table")
  private val runDir = dir.resolve("validation").toString
  private val pages = Gen.Pages(seed, rows(25000), rate = 0.45,
    dupRate = 0.05, textLo = 20, textHi = 60, files = 8)
  private var batch = 0L
  private var next: DataFrame = _

  def setup(): Unit = {
    deleteTree(dir)
    batch = 0L
    SnapshotTable.commit(pages.frame(spark, 0), dir.toString,
      SnapshotTable.Overwrite)
  }

  override def prepare(i: Int): Unit = {
    batch += 1
    next = pages.frame(spark, batch)
  }

  def op(i: Int): Done = {
    val t0 = System.nanoTime()
    val id = tr.span("run.commit") {
      SnapshotTable.commit(next, dir.toString, SnapshotTable.Overwrite)
    }
    val runId = f"snap-$id%06d"
    val (total, valid) = tr.span("run.validate") {
      Verdicts.totals(ValidationJob.validateSnapshot(spark, dir.toString,
        WebPages.schema, Seq("doc_id"), Some(id)))
    }
    val verdictLatency = (System.nanoTime() - t0) / 1e9
    val nViol = tr.span("run.violations") {
      ValidationJob.readViolations(spark, runDir, runId).count()
    }
    val report = tr.span("run.report") {
      ValidationJob.snapshotReport(
        SnapshotTable.read(spark, dir.toString, Some(id)),
        SnapshotTable.read(spark, dir.toString, Some(id - 1)),
        WebPages.schema, "doc_id", F.col("text"), "lang").collect()
    }
    val b = batch
    Done(pages.n, Map("verdict_latency_s" -> verdictLatency,
      "violation_rows" -> nViol.toDouble), () => {
      val exp0 = pages.expected(spark, b)
      val exp = if (corrupt) exp0.corrupted else exp0
      val metric = report.map(r => r.getString(0) -> r.getLong(1)).toMap
      val half = pages.n / 2
      check("rows", total, exp.rows) ++
        check("valid_rows", valid, exp.validRows) ++
        check("violation rows", nViol, exp.violationRows) ++
        check("report rows", metric.get("rows_total"), Some(exp.rows)) ++
        check("report valid", metric.get("rows_valid"), Some(exp.validRows)) ++
        check("report violations", metric.collect {
          case (k, v) if k.startsWith("viol:") => k.stripPrefix("viol:") -> v
        }, exp.violations) ++
        check("report diff", Seq("added", "removed", "modified")
          .map(k => metric.getOrElse(s"diff:$k", 0L)),
          Seq(half, half, exp.modified)) ++
        check("report freq", metric.collect {
          case (k, v) if k.startsWith("freq:") => v }.sum, exp.rows)
    })
  }

  override def cuts(i: Int): Map[String, Double] = {
    val id = SnapshotTable.currentSnapshotId(dir.toString).get
    val curr = SnapshotTable.read(spark, dir.toString, Some(id))
    val m = ValidationCuts.run(ctx, curr, WebPages.schema, "doc_id")
    val (_, tDiff) = timed(tr.span("checks.diff") {
      TableChecks.snapshotDiff(curr,
        SnapshotTable.read(spark, dir.toString, Some(id - 1)), "doc_id",
        F.col("text")).groupBy("change").count().collect()
    })
    m ++ Map("compile.viol_per_row" -> m("compile.explode_rows_out") / pages.n,
      "checks.diff_s" -> tDiff)
  }
}
