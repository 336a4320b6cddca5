package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.expressions.{Expression, RLike, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution,
  SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>`
  * plus `--work` (scratch directory inside the checkout) and `--out`
  * (where a traced run writes its spans); the session uses every core the
  * JVM may run on. The self-test sets the rest directly: `cores`, `scale`
  * shrinks every input (1 = the benchmark), `corrupt` compares against a
  * wrong answer, `setups` is how many set-ups run (`setup_s` is the median
  * of all but the first, which pays the session's cold start and runs
  * before the warm-up). */
final case class Opts(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: Path, out: Option[Path] = None,
                      cores: Int = Runtime.getRuntime.availableProcessors(),
                      scale: Double = 1.0, corrupt: Boolean = false,
                      setups: Int = 4)

object Opts {
  def parse(args: Seq[String]): Opts = {
    val kv = mutable.Map.empty[String, String]
    var rest = args.toList
    while (rest.nonEmpty) rest match {
      case k :: v :: tail if k.startsWith("--") => kv(k.drop(2)) = v; rest = tail
      case other => throw new IllegalArgumentException(s"bad arguments: $other")
    }
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workload.names.contains(w), s"unknown workload $w")
    require(Set("0", "1")(need("trace")), "--trace takes 0 or 1")
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, kv.get("out").map(Paths.get(_)))
  }
}

/** One metric as printed: value plus unit. */
final case class Metric(value: Double, unit: String)

final case class Result(correct: Boolean, attempted: Int, failed: Int,
                        metrics: Seq[(String, Metric)]) {
  def json: String = {
    def num(d: Double) =
      if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d)
        .stripTrailingZeros.toPlainString
    val ms = metrics.map { case (n, m) =>
      s""""$n": {"value": ${num(m.value)}, "unit": "${m.unit}"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

object Metrics {
  /** End-to-end metrics (untraced run), with units. Times are CPU
    * seconds of every thread but the JIT compilers (Spark tasks, driver,
    * collector, broadcast and shuffle threads): on a shared VM the wall
    * clock also counts the CPU time neighbours steal, which moves it far
    * more from run to run (the wall-clock twins are per-layer). */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_cpu_p50_s" -> "s", "heap_live_peak_mb" -> "MB",
    "rss_peak_mb" -> "MB")

  /** Per-layer metrics (traced run), with units. */
  val perLayer: Seq[(String, String)] = {
    val s = "s"; val b = "bytes"; val c = "count"; val r = "ratio"
    Seq(
      "run.read_s" -> s, "run.read_bytes" -> b, "run.read_rows" -> c,
      "run.read_files" -> c, "run.persist_mem_bytes" -> b,
      "run.persist_disk_bytes" -> b, "run.verdict_s" -> s,
      "run.verdict_shuffle_bytes" -> b, "run.commit_s" -> s,
      "run.commit_bytes" -> b, "run.sink_s" -> s, "run.sink_bytes" -> b,
      "run.write_amp" -> r, "run.cut_ratio" -> r,
      "compile.valid_s" -> s, "compile.errors_s" -> s,
      "compile.explode_s" -> s, "compile.explode_rows_out" -> c,
      "compile.viol_per_row" -> r, "compile.build_s" -> s,
      "compile.analysis_s" -> s, "compile.optimization_s" -> s,
      "compile.planning_s" -> s, "compile.codegen_s" -> s,
      "compile.codegen_source_bytes" -> b, "compile.expr_nodes" -> c,
      "compile.tier_anchored" -> c, "compile.tier_rlike" -> c,
      "compile.tier_udf" -> c,
      "eval.hatch_s" -> s, "eval.hatch_rows" -> c,
      "expressions.text_kernel_s" -> s, "expressions.kernel_rows" -> c,
      "text.exact_s" -> s, "text.lsh_s" -> s, "text.pairs_s" -> s,
      "text.cluster_s" -> s, "text.neardup_s" -> s, "text.ann_s" -> s,
      "text.candidate_pairs" -> c, "text.verified_pairs" -> c,
      "text.pair_yield" -> r, "text.cluster_rounds" -> c,
      "text.dropped_buckets" -> c, "text.shuffle_bytes" -> b,
      "text.spill_bytes" -> b,
      "checks.stats_s" -> s, "checks.unique_s" -> s, "checks.drift_s" -> s,
      "checks.shuffle_bytes" -> b, "checks.diff_s" -> s,
      "spark.task_cpu_s" -> s, "spark.task_run_s" -> s, "spark.gc_s" -> s,
      "spark.sched_delay_s" -> s, "spark.fetch_wait_s" -> s,
      "spark.spill_bytes" -> b, "spark.peak_exec_mem_mb" -> "MB",
      "spark.tasks" -> c, "spark.tasks_failed" -> c,
      "spark.skew_ratio" -> r,
      "machine.ceiling_rows_per_s" -> "1/s",
      "trace.overhead_ratio" -> r, "trace.unattributed_ratio" -> r,
      "op_p50_s" -> s, "docs_per_s" -> "1/s", "plan_p50_s" -> s,
      "proc_cpu_p50_s" -> s, "driver_cpu_p50_s" -> s,
      "op_fail_ratio" -> r, "verdict_latency_p50_s" -> s,
      "violation_rows_per_s" -> "1/s", "ann_recall_at5" -> r)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Counts read from executed physical plans (traced runs only). */
private object Plans extends AdaptiveSparkPlanHelper {
  final case class Counts(exprNodes: Long, anchored: Long, rlike: Long,
                          udf: Long, codegenBytes: Long, scanFiles: Long)

  /** Every node of `plan`, through adaptive stages, subqueries and the
    * plans of cached relations it scans. */
  private def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    val all = collectWithSubqueries(plan) { case p: SparkPlan => p }
    all ++ all.collect { case m: InMemoryTableScanExec => m }
      .flatMap(m => nodes(m.relation.cachedPlan))
  }

  def count(qes: Seq[QueryExecution]): Counts = {
    var (nodes, anch, rl, udf, bytes, files) = (0L, 0L, 0L, 0L, 0L, 0L)
    for (qe <- qes; p <- this.nodes(qe.executedPlan)) {
      p.expressions.foreach(_.foreach { (e: Expression) =>
        nodes += 1
        e match {
          case _: mallispark.expressions.AnchoredScanMatch => anch += 1
          case _: RLike => rl += 1
          case _: ScalaUDF => udf += 1
          case _ =>
        }
      })
      p match {
        case w: WholeStageCodegenExec =>
          bytes += scala.util.Try(w.doCodeGen()._2.body.length.toLong)
            .getOrElse(0L)
        case s: FileSourceScanExec =>
          files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
        case _ =>
      }
    }
    Counts(nodes, anch, rl, udf, bytes, files)
  }
}

object Bench {
  private val started = System.nanoTime()
  private def log(s: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%.1fs] $s")

  def session(o: Opts): SparkSession = {
    val local = o.work.resolve("spark-local")
    Files.createDirectories(local)
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      // Spark's status store keeps this many finished jobs, stages and
      // queries; a small cap makes the retained heap independent of how
      // many operations a run fits in
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Probe-equivalent machine ceiling: range -> xxhash64 -> sum at
    * local[cores], rows per second of the second (warm) pass. */
  def ceiling(spark: SparkSession, cores: Int, scale: Double): Double = {
    val rows = math.max(1000000L, (5000000L * cores * scale).toLong)
    def run(): Unit = spark.range(0, rows, 1, cores * 4)
      .select(F.sum(F.pmod(F.xxhash64(F.col("id")), F.lit(1000L)))).collect()
    run()
    val t0 = System.nanoTime()
    run()
    rows / ((System.nanoTime() - t0) / 1e9)
  }

  private def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  /** Unmeasured operations between set-up and measurement. */
  val WarmupOps = 1
  /** Operations measured even when one outlasts `--seconds`. */
  val MinOps = 2

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def codegenNs(): Long =
    WholeStageCodegenExec.codeGenTime + CodeGenerator.compileTime

  /** CPU nanoseconds of the live JIT threads (the compilers and the code
    * cache sweeper) and of the live collector threads, read from /proc (the
    * JVM's thread bean lists neither); 10 ms resolution (USER_HZ = 100). */
  private def jitAndGcCpuNs(): (Long, Long) = {
    var (jit, gc) = (0L, 0L)
    for (t <- Option(new java.io.File("/proc/self/task").listFiles())
           .getOrElse(Array.empty[java.io.File])) scala.util.Try {
      val stat = new String(Files.readAllBytes(t.toPath.resolve("stat")))
      val close = stat.lastIndexOf(')')
      val name = stat.substring(stat.indexOf('(') + 1, close)
      // after the name come the fields from the 3rd on; utime and stime
      // are the 14th and 15th
      val f = stat.substring(close + 2).split(' ')
      val ns = (f(11).toLong + f(12).toLong) * 10000000L
      if (name.contains("CompilerThre") || name == "Sweeper thread") jit += ns
      else if (name.startsWith("GC Thread") || name.startsWith("G1 ")) gc += ns
    }
    (jit, gc)
  }

  /** CPU counters of the process at one instant. */
  final case class Cpu(process: Long, jit: Long, gc: Long, driver: Long) {
    def -(o: Cpu): Cpu =
      Cpu(process - o.process, jit - o.jit, gc - o.gc, driver - o.driver)
    /** CPU seconds of every thread but the JIT compilers: tasks, driver,
      * collector, broadcast and shuffle threads. The JIT's share follows
      * which classes happen to turn hot and moves far more from run to run
      * than the work does; run.py fixes the number of compiler threads so
      * none exits (and takes its CPU time along) mid-operation. */
    def workS: Double = (process - jit) / 1e9
  }
  private def cpuNow(): Cpu = {
    val (jit, gc) = jitAndGcCpuNs()
    Cpu(processCpuNs(), jit, gc, threads.getCurrentThreadCpuTime)
  }

  /** Heap in use right after a full collection, in MB: what the set-ups or
    * the last operation left behind. Run before and after every measured
    * operation, outside its clock; it also gives every operation the same
    * clean heap to start from. */
  private def retainedHeapMb(): Double = {
    System.gc()
    // Spark frees the blocks and shuffle files of collected frames from a
    // cleaner thread once the collection has found them; let it run, then
    // collect what it released
    Thread.sleep(250)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** One measured operation. `cpuS` is CPU of every thread but the JIT
    * compilers, `driverS` the driver thread's share, `processS` the whole
    * process's. */
  final case class OpRecord(traced: Boolean, wall: Double, docs: Long,
                            planS: Double, cpuS: Double, driverS: Double,
                            processS: Double, failed: Boolean,
                            layers: Map[String, Double])

  /** Run `body` as a root span; also returns the CPU it took. */
  private def measured[T](tr: Tracer, name: String, id: Int)(
      body: => T): (T, Span, Cpu) = {
    val c0 = cpuNow()
    val (r, span) = tr.root(name, id)(body)
    (r, span, cpuNow() - c0)
  }

  def run(o: Opts): Result = {
    val spark = session(o)
    val collector = new Collector(spark)
    val tr = new Tracer(collector)
    try {
      val ctx = new Ctx(spark, tr, o.seed, o.scale, o.work, o.corrupt)
      val w = Workload(o.workload, ctx)
      val heapMb = Runtime.getRuntime.maxMemory / (1 << 20)
      val storageMb = spark.sparkContext.getExecutorMemoryStatus.values
        .map(_._1).sum / (1 << 20)
      log(s"workload=${o.workload} seed=${o.seed} cores=${o.cores} " +
        s"heap_mb=$heapMb storage_memory_mb=$storageMb trace=${o.trace}")

      def setUp(k: Int): Double = {
        val (_, span, cpu) = measured(tr, "setup", -1 - k)(w.setup())
        log(f"setup ${k + 1}: wall ${span.seconds}%.3f s, cpu ${cpu.workS}%.3f s")
        cpu.workS
      }
      // warm-up operations, not measured: the JIT keeps compiling Spark and
      // the generated classes for several operations after a cold start
      def warmUp(k: Int): Unit = { w.prepare(-k); w.op(-k).verify() }
      // the first set-up pays the session's cold start; the others run
      // after the warm-up, and `setup_s` is their median
      val coldSetup = setUp(0)
      (1 to WarmupOps).foreach(warmUp)
      log("warm-up done")
      val setupCpu =
        if (o.setups > 1) (1 until o.setups).map(setUp) else Seq(coldSetup)

      val ops = mutable.ArrayBuffer.empty[OpRecord]
      val retained = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      var i = 1
      while ((System.nanoTime() - t0) / 1e9 < o.seconds || ops.size < MinOps) {
        retained += retainedHeapMb()
        // a traced run alternates traced and plain operations, so the
        // tracing overhead is measured inside the same process
        val traced = o.trace && i % 2 == 1
        tr.traced = traced
        w.prepare(i)
        val cg0 = codegenNs()
        val (res, root, cpu) = measured(tr, "op", i)(scala.util.Try(w.op(i)))
        val codegenS = (codegenNs() - cg0) / 1e9
        val problems = res match {
          case scala.util.Success(d) =>
            scala.util.Try(d.verify()).fold(e => Seq(s"verify threw $e"), identity)
          case scala.util.Failure(e) => Seq(s"op threw $e")
        }
        if (problems.nonEmpty) log(s"op $i FAILED: ${problems.mkString("; ")}")
        val done = res.toOption
        val bucket = new Bucket
        tr.subtree(root).foreach(s => bucket.addAll(s.bucket))
        val planS = done.flatMap(_.gauges.get("build_s")).getOrElse(0.0) +
          bucket.planMs / 1000.0 + codegenS
        val layers =
          if (!traced || done.isEmpty) Map.empty[String, Double]
          else {
            val m = layerMetrics(w, tr, root, bucket, codegenS, done.get)
            // the plans have been read; drop them rather than keep every
            // traced query for the rest of the run
            tr.spans.foreach(_.bucket.queries.clear())
            // the cuts' queries evict the operation's classes from Spark's
            // generated-code cache (100 entries); an unmeasured operation
            // restores it, so the next plain operation is not recompiled
            warmUp(WarmupOps + i)
            m
          }
        ops += OpRecord(traced, root.seconds, done.map(_.docs).getOrElse(0L),
          planS, cpu.workS, cpu.driver / 1e9, cpu.process / 1e9,
          problems.nonEmpty, layers)
        log(f"op $i: wall ${root.seconds}%.3f s, cpu ${cpu.workS}%.3f s " +
          f"(driver ${cpu.driver / 1e9}%.3f s, gc ${cpu.gc / 1e9}%.3f s), " +
          f"jit ${cpu.jit / 1e9}%.3f s, retained before ${retained.last}%.1f MB")
        i += 1
      }
      retained += retainedHeapMb()
      val ceil = ceiling(spark, o.cores, o.scale)
      log(f"machine ceiling ${ceil}%.0f rows/s at local[${o.cores}]; " +
        f"ops=${ops.size} failed=${ops.count(_.failed)}")

      val failed = ops.count(_.failed)
      val metrics =
        if (!o.trace) endToEnd(ops.toSeq, setupCpu, retained.max)
        else {
          o.out.foreach(p => tr.write(p))
          perLayer(ops.toSeq, ceil)
        }
      Result(failed == 0, ops.size, failed, metrics)
    } finally {
      collector.close()
      spark.stop()
    }
  }

  private def endToEnd(ops: Seq[OpRecord], setupCpu: Seq[Double],
                       retainedMb: Double): Seq[(String, Metric)] = {
    import Metrics.median
    val ok = ops.filterNot(_.failed)
    val values = Map(
      "setup_s" -> median(setupCpu),
      "op_cpu_p50_s" -> median(ok.map(_.cpuS)),
      "heap_live_peak_mb" -> retainedMb,
      "rss_peak_mb" -> rssPeakMb())
    Metrics.endToEnd.map { case (n, u) => n -> Metric(values(n), u) }
  }

  /** Per-operation layer values of one traced operation. */
  private def layerMetrics(w: Workload, t: Tracer, root: Span, b: Bucket,
                           codegenS: Double, d: Done): Map[String, Double] = {
    val spans = t.subtree(root).filter(_.id != root.id)
    def selfOf(name: String) =
      spans.filter(_.name == name).map(t.selfSeconds).sum
    def bucketOf(p: Span => Boolean) = {
      val x = new Bucket
      spans.filter(p).foreach(s => x.addAll(s.bucket))
      x
    }
    val validate = bucketOf(_.name == "run.validate")
    val commit = bucketOf(_.name == "run.commit")
    val checks = bucketOf(_.layer == "checks")
    val text = bucketOf(_.layer == "text")
    val evalB = bucketOf(_.layer == "eval")
    // cuts and plan introspection run after the operation, outside its span
    val (cutValues, _) = t.root("cuts", root.op)(w.cuts(root.op))
    val (pc, _) = t.root("introspect", root.op) {
      (Plans.count(b.queries.toSeq), Plans.count(validate.queries.toSeq))
    }
    val (all, scans) = pc
    val attributed = spans.filter(_.parent == root.id).map(_.seconds).sum
    val inBytes = b.inBytes.max(1L).toDouble
    val gauges = d.gauges
    val base = Map(
      "run.read_bytes" -> validate.inBytes.toDouble,
      "run.read_rows" -> validate.inRows.toDouble,
      "run.read_files" -> scans.scanFiles.toDouble,
      "run.persist_mem_bytes" -> validate.persistMem.toDouble,
      "run.persist_disk_bytes" -> validate.persistDisk.toDouble,
      "run.verdict_shuffle_bytes" -> validate.shuffleWriteBytes.toDouble,
      "run.commit_s" -> selfOf("run.commit"),
      "run.commit_bytes" -> commit.outBytes.toDouble,
      "run.sink_s" -> cutValues.get("cut.verdict_s")
        .map(selfOf("run.validate") - _).getOrElse(0.0),
      "run.sink_bytes" -> validate.outBytes.toDouble,
      "run.write_amp" -> b.outBytes / inBytes,
      "run.cut_ratio" -> cutValues.get("cut.verdict_s")
        .map(_ / selfOf("run.validate").max(1e-9)).getOrElse(0.0),
      "compile.build_s" -> t.spans
        .filter(s => s.op == root.op && s.name == "compile.build")
        .map(_.seconds).sum,
      "compile.analysis_s" -> b.analysisMs / 1000.0,
      "compile.optimization_s" -> b.optimizationMs / 1000.0,
      "compile.planning_s" -> b.planningMs / 1000.0,
      "compile.codegen_s" -> codegenS,
      "compile.codegen_source_bytes" -> all.codegenBytes.toDouble,
      "compile.expr_nodes" -> all.exprNodes.toDouble,
      "compile.tier_anchored" -> all.anchored.toDouble,
      "compile.tier_rlike" -> all.rlike.toDouble,
      "compile.tier_udf" -> all.udf.toDouble,
      "eval.hatch_rows" -> (if (all.udf > 0) evalB.inRows.toDouble else 0.0),
      "text.exact_s" -> selfOf("text.exact"), "text.lsh_s" -> selfOf("text.lsh"),
      "text.pairs_s" -> selfOf("text.pairs"),
      "text.cluster_s" -> selfOf("text.cluster"),
      "text.neardup_s" -> selfOf("text.neardup"),
      "text.ann_s" -> selfOf("text.ann"),
      "text.pair_yield" -> gauges.get("text.candidate_pairs").filter(_ > 0)
        .map(gauges("text.verified_pairs") / _).getOrElse(0.0),
      "text.cluster_rounds" -> b.ccRounds.toDouble,
      "text.dropped_buckets" -> b.droppedBuckets.toDouble,
      "text.shuffle_bytes" -> text.shuffleWriteBytes.toDouble,
      "text.spill_bytes" -> text.spillBytes.toDouble,
      "checks.stats_s" -> selfOf("checks.stats"),
      "checks.unique_s" -> selfOf("checks.unique"),
      "checks.drift_s" -> selfOf("checks.drift"),
      "checks.shuffle_bytes" -> checks.shuffleWriteBytes.toDouble,
      "spark.task_cpu_s" -> b.taskCpuNs / 1e9,
      "spark.task_run_s" -> b.taskRunMs / 1000.0,
      "spark.gc_s" -> b.gcMs / 1000.0,
      "spark.sched_delay_s" -> b.schedDelayMs / 1000.0,
      "spark.fetch_wait_s" -> b.fetchWaitMs / 1000.0,
      "spark.spill_bytes" -> b.spillBytes.toDouble,
      "spark.peak_exec_mem_mb" -> b.peakExecMem / 1048576.0,
      "spark.tasks" -> b.tasks.toDouble,
      "spark.tasks_failed" -> b.tasksFailed.toDouble,
      "spark.skew_ratio" -> b.skewRatio,
      "trace.unattributed_ratio" -> (1.0 - attributed / root.seconds),
      "verdict_latency_p50_s" -> gauges.getOrElse("verdict_latency_s",
        if (spans.exists(_.name == "run.validate")) selfOf("run.validate")
        else 0.0),
      "violation_rows_per_s" -> gauges.get("violation_rows")
        .orElse(cutValues.get("compile.explode_rows_out"))
        .map(_ / root.seconds).getOrElse(0.0),
      "ann_recall_at5" -> gauges.getOrElse("ann_recall_at5", 0.0))
    val extra = gauges.filter(_._1.contains('.'))
    base ++ extra ++ cutValues.filter { case (k, _) => !k.startsWith("cut.") }
  }

  private def perLayer(ops: Seq[OpRecord], ceil: Double): Seq[(String, Metric)] = {
    import Metrics.median
    val traced = ops.filter(r => r.traced && !r.failed)
    val plain = ops.filter(r => !r.traced && !r.failed)
    def med(k: String) = median(traced.map(_.layers.getOrElse(k, 0.0)))
    val special = Map(
      "machine.ceiling_rows_per_s" -> ceil,
      "trace.overhead_ratio" ->
        median(traced.map(_.wall)) / median(plain.map(_.wall)).max(1e-9),
      "op_fail_ratio" -> ops.count(_.failed).toDouble / ops.size.max(1),
      "op_p50_s" -> median(plain.map(_.wall)),
      "docs_per_s" -> median(plain.map(r => r.docs / r.wall)),
      "plan_p50_s" -> median(plain.map(_.planS)),
      "proc_cpu_p50_s" -> median(plain.map(_.processS)),
      "driver_cpu_p50_s" -> median(plain.map(_.driverS)))
    Metrics.perLayer.map { case (n, u) =>
      n -> Metric(special.getOrElse(n, med(n)), u) }
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args.toSeq)
    val r = Bench.run(o)
    println(r.json)
  }
}
