package graft

import org.apache.spark.sql.SparkSession

/** Diagnostic bench (NOT the driver artifact — Bench.scala is frozen and
  * stays the recorded harness). Two modes, per the optimization guide §1:
  *
  *  - `runMain graft.BenchExtra time q1 q2 ...` — times each named query
  *    (or every query for `all`) as min of K=3 interleaved passes of the
  *    SAME action Bench uses (`df.count()`), after one warm pass, so the
  *    before/after evidence in OPTIMIZATION_r08.md is noise-immune on
  *    this shared VM. Prints one line per query: min / median / samples.
  *  - `runMain graft.BenchExtra explain out_dir suffix q1 q2 ...` — writes
  *    `out_dir/<q>_<suffix>.txt` with the `.explain("formatted")` text of
  *    each named query. The query itself is not run, but building it
  *    runs any eager materialization it performs (the localCheckpoints
  *    of dedup_jaccard, dupClusters' rounds, native_hash_law), so the
  *    plans show the post-checkpoint lineage and capture can take long.
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_REPEAT (default 3).
  * Streaming trio is sampled at sf0.01 exactly as Bench does. */
object BenchExtra {

  private val streamingTrio =
    Set("streaming_violations", "streaming_windowed", "streaming_dedup")

  private def session(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"mallispark-benchextra-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "3").toInt
    val mode = if (args.isEmpty) "time" else args(0)
    val all = SparkEntry.queries ++ SparkEntry.benchOnlyQueries
    val smallSfDir = {
      val parent = java.nio.file.Paths.get(sfDir).toAbsolutePath.getParent
      val cand = if (parent == null) null else parent.resolve("sf0.01")
      if (cand != null && java.nio.file.Files.isDirectory(cand)) cand.toString
      else sfDir
    }
    def dirFor(q: String) = if (streamingTrio(q)) smallSfDir else sfDir

    val spark = session(cpus)
    try {
      mode match {
        case "explain" =>
          val outDir = args(1); val suffix = args(2)
          val names = args.drop(3).toSeq
          java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get(outDir))
          for (q <- names; fn <- all.get(q)) {
            val df = fn(spark, dirFor(q))
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(outDir, s"${q}_$suffix.txt"), txt)
            println(s"[benchextra] wrote $outDir/${q}_$suffix.txt")
          }
        case _ =>
          val names =
            if (args.drop(1).contains("all") || args.length <= 1)
              all.keys.toSeq.sorted
            else args.drop(1).toSeq
          // same warm-up as Bench
          import org.apache.spark.sql.{functions => F}
          spark.read.parquet(s"$sfDir/documents.parquet")
            .select(F.sum(F.pmod(F.xxhash64(F.col("doc_id")), F.lit(1000L))))
            .collect()
          spark.range(1000000).select(F.sum(F.pmod(
            F.xxhash64(F.col("id")), F.lit(7L)))).collect()
          // K interleaved passes over the whole list (slow VM drifts hit
          // every query equally, not one unlucky victim)
          val samples = scala.collection.mutable.Map.empty[String, List[Double]]
          for (pass <- 1 to repeat; q <- names; fn <- all.get(q)) {
            val t0 = System.nanoTime()
            val ok =
              try { fn(spark, dirFor(q)).count(); true } catch {
                case e: Throwable =>
                  System.err.println(s"[benchextra] $q FAILED: ${e.getMessage}")
                  false
              }
            // a failed pass records NO sample — time-to-failure would
            // read as a dramatic (fake) speedup in before/after evidence
            if (ok) {
              val sec = (System.nanoTime() - t0) / 1e9
              samples.updateWith(q)(o => Some(sec :: o.getOrElse(Nil)))
            }
          }
          var totalMin = 0.0
          for (q <- names if samples.contains(q)) {
            val ss = samples(q).sorted
            val med = ss(ss.size / 2)
            totalMin += ss.head
            println(f"[benchextra] $q%-28s min ${ss.head}%7.3f  med $med%7.3f  " +
              ss.map(s => f"$s%.3f").mkString("[", " ", "]"))
          }
          println(f"[benchextra] TOTAL_MIN $totalMin%.3f s over ${names.size} queries")
      }
    } finally spark.stop()
  }
}
