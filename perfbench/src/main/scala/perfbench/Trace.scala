package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters collected from Spark's own listeners between two drain points
  * of the listener bus. Every field is filled from outside the engine:
  * task metrics from a SparkListener, planning phases and `observe`
  * metrics from a QueryExecutionListener. */
final class Bucket {
  var taskCpuNs, taskRunMs, gcMs, schedDelayMs, fetchWaitMs = 0L
  var spillBytes, peakExecMem, tasks, tasksFailed = 0L
  var inBytes, inRows, outBytes, shuffleWriteBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var ccRounds, droppedBuckets = 0L
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** per cached block: (largest memory size, largest disk size) seen */
  val blocks = mutable.Map.empty[String, (Long, Long)]
  val queries = mutable.ArrayBuffer.empty[QueryExecution]

  def planMs: Long = analysisMs + optimizationMs + planningMs
  def persistMem: Long = blocks.valuesIterator.map(_._1).sum
  def persistDisk: Long = blocks.valuesIterator.map(_._2).sum

  def addAll(o: Bucket): Unit = {
    taskCpuNs += o.taskCpuNs; taskRunMs += o.taskRunMs; gcMs += o.gcMs
    schedDelayMs += o.schedDelayMs; fetchWaitMs += o.fetchWaitMs
    spillBytes += o.spillBytes; peakExecMem = peakExecMem max o.peakExecMem
    tasks += o.tasks; tasksFailed += o.tasksFailed
    inBytes += o.inBytes; inRows += o.inRows; outBytes += o.outBytes
    shuffleWriteBytes += o.shuffleWriteBytes
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs
    ccRounds += o.ccRounds; droppedBuckets += o.droppedBuckets
    o.stageTaskMs.foreach { case (s, ds) =>
      stageTaskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ds }
    o.blocks.foreach { case (b, (m, d)) =>
      val (m0, d0) = blocks.getOrElse(b, (0L, 0L))
      blocks(b) = (m0 max m, d0 max d)
    }
    queries ++= o.queries
  }

  /** Max / median task time in the stage with the largest total task
    * time (1 when there were no tasks). */
  def skewRatio: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val heaviest = stageTaskMs.values.maxBy(_.sum).sorted
      val med = heaviest(heaviest.size / 2).max(1L)
      heaviest.last.toDouble / med
    }
}

/** Listens to the session and accumulates into the current [[Bucket]]:
  * task metrics, planning phases and `observe` metrics always (a plain
  * operation reports its planning time too), and the executed queries
  * themselves only while `keepQueries` is set, since only a traced
  * operation reads its plans. */
final class Collector(spark: SparkSession) {
  private var current = new Bucket
  @volatile var keepQueries = false

  /** Wait for every posted event, then hand over what was collected. */
  def take(): Bucket = {
    org.apache.spark.perfbench.BusAccess.drain(spark.sparkContext)
    synchronized { val b = current; current = new Bucket; b }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = Collector.this.synchronized {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      current.analysisMs += ms(QueryPlanningTracker.ANALYSIS)
      current.optimizationMs += ms(QueryPlanningTracker.OPTIMIZATION)
      current.planningMs += ms(QueryPlanningTracker.PLANNING)
      qe.observedMetrics.foreach { case (name, row) =>
        if (name.startsWith("cc_round_")) current.ccRounds += 1
        if (name.contains("lsh_dropped_buckets"))
          current.droppedBuckets += row.toSeq.collect {
            case n: java.lang.Number => n.longValue }.sum
      }
      if (keepQueries) current.queries += qe
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  private val taskListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Collector.this.synchronized {
        val b = current
        val i = e.taskInfo
        b.tasks += 1
        if (i.failed || i.killed || i.attemptNumber > 0) b.tasksFailed += 1
        b.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          i.duration
        val m = e.taskMetrics
        if (m != null) {
          b.taskCpuNs += m.executorCpuTime
          b.taskRunMs += m.executorRunTime
          b.gcMs += m.jvmGCTime
          b.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime
             else 0L))
          b.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          b.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          b.peakExecMem = b.peakExecMem max m.peakExecutionMemory
          b.inBytes += m.inputMetrics.bytesRead
          b.inRows += m.inputMetrics.recordsRead
          b.outBytes += m.outputMetrics.bytesWritten
          b.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) Collector.this.synchronized {
        val k = info.blockId.name
        val (m0, d0) = current.blocks.getOrElse(k, (0L, 0L))
        current.blocks(k) = (m0 max info.memSize, d0 max info.diskSize)
      }
    }
  }

  spark.listenerManager.register(queryListener)
  spark.sparkContext.addSparkListener(taskListener)

  def close(): Unit = {
    spark.listenerManager.unregister(queryListener)
    spark.sparkContext.removeSparkListener(taskListener)
  }
}

/** A timed interval of the benchmark's own code around a call into one
  * layer. `op` ties the spans of one operation together; `parent` is the
  * enclosing span (-1 for a root). */
final case class Span(id: Int, parent: Int, name: String, op: Int,
                      startNs: Long, endNs: Long, bucket: Bucket) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written once when the run ends. Untraced,
  * `span` is a plain call and only root spans (whole operations and
  * set-ups) are recorded, so the timed run pays for two bus drains per
  * operation and nothing else. */
final class Tracer(collector: Collector) {
  /** Whether child spans and executed plans are recorded (set per
    * operation). */
  def traced: Boolean = collector.keepQueries
  def traced_=(on: Boolean): Unit = collector.keepQueries = on
  val spans = mutable.ArrayBuffer.empty[Span]
  private case class Open(id: Int, parent: Int, name: String, op: Int,
                          start: Long, bucket: Bucket)
  private val stack = mutable.Stack.empty[Open]
  private var nextId = 0
  var op = -1

  def root[T](name: String, opId: Int)(body: => T): (T, Span) = {
    op = opId
    collector.take() // events from before the span are not its own
    val r = open(name, body)
    (r, spans.last)
  }

  def span[T](name: String)(body: => T): T =
    if (!traced || stack.isEmpty) body
    else {
      stack.top.bucket.addAll(collector.take())
      open(name, body)
    }

  private def open[T](name: String, body: => T): T = {
    val o = Open(nextId, stack.headOption.map(_.id).getOrElse(-1), name, op,
      System.nanoTime(), new Bucket)
    nextId += 1
    stack.push(o)
    try body
    finally {
      val end = System.nanoTime()
      o.bucket.addAll(collector.take())
      stack.pop()
      spans += Span(o.id, o.parent, o.name, o.op, o.start, end, o.bucket)
    }
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Duration minus the part covered by child spans (children of one
    * span never overlap: the driver issues them one after another). */
  def selfSeconds(s: Span): Double =
    s.seconds - children(s).map(_.seconds).sum

  /** All spans under `s`, `s` included. */
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},"tasks":${s.bucket.tasks}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
