package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Outcome accounting for timed operations: a throw is a failure, never a
  * time. */
final class Tally {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  var attempted = 0

  /** Run `body` as one attempt of `name`; record its wall seconds when it
    * returns, or the error when it throws. Returns whether it succeeded. */
  def run(name: String)(body: => Unit): Boolean = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      body
      samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
      true
    } catch {
      case e: InterruptedException => throw e
      case e: Throwable =>
        failures += name -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
        false
    }
  }
}

/** Task- and stage-level totals from a SparkListener registered on the
  * benchmark's session. */
final class EngineListener extends SparkListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c("tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("executor_run_s") += m.executorRunTime / 1e3
      c("executor_cpu_s") += m.executorCpuTime / 1e9
      c("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
      c("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
      c("spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
      c("jvm_gc_s") += m.jvmGCTime / 1e3
      c("bytes_read") += m.inputMetrics.bytesRead
      c("rows_read") += m.inputMetrics.recordsRead
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c("stages") += 1
  }

  def snapshot(): Map[String, Double] = synchronized(c.toMap.withDefaultValue(0.0))
  def reset(): Unit = synchronized(c.clear())
}

/** Per-trigger progress of streaming queries on the benchmark's session. */
final class StreamListener extends StreamingQueryListener {
  private val progress = mutable.ArrayBuffer.empty[Map[String, Double]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
    val ops = p.stateOperators.toSeq
    record(Map(
      "trigger_ms" -> d.getOrElse("triggerExecution", 0.0),
      "add_batch_ms" -> d.getOrElse("addBatch", 0.0),
      "planning_ms" -> d.getOrElse("queryPlanning", 0.0),
      "wal_commit_ms" -> d.getOrElse("walCommit", 0.0),
      "input_rows" -> p.numInputRows.toDouble,
      "state_rows" -> ops.map(_.numRowsTotal).sum.toDouble,
      "state_bytes" -> ops.map(_.memoryUsedBytes).sum.toDouble))
  }

  def record(trigger: Map[String, Double]): Unit = synchronized(progress += trigger)
  def snapshot(): Seq[Map[String, Double]] = synchronized(progress.toSeq)
  def reset(): Unit = synchronized(progress.clear())
}

/** Successful query executions on the benchmark's session. */
final class ExecutionCounter extends QueryExecutionListener {
  private var ok = 0
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = synchronized(ok += 1)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  def count: Int = synchronized(ok)
  def reset(): Unit = synchronized { ok = 0 }
}

/** The three listeners a traced run registers. `reset` marks the start of
  * the traced passes: nothing that happened before it is counted. */
final class Listeners {
  val engine = new EngineListener
  val streams = new StreamListener
  val executions = new ExecutionCounter

  def reset(): Unit = { engine.reset(); streams.reset(); executions.reset() }
}

/** Shape of a physical plan, read from outside the engine. */
final case class PlanShape(exchanges: Int, fileScans: Int, topkNodes: Int, scanRoots: Seq[String])

object PlanShape {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def of(plan: SparkPlan): PlanShape = {
    val all = nodes(plan)
    val scans = all.collect { case f: FileSourceScanExec => f }
    PlanShape(
      exchanges = all.count(_.isInstanceOf[Exchange]),
      fileScans = scans.size,
      topkNodes = all.count(n => n.isInstanceOf[TakeOrderedAndProjectExec] ||
        n.getClass.getSimpleName.toLowerCase.contains("topk")),
      scanRoots = scans.flatMap(_.relation.location.rootPaths.map(_.toUri.getPath)))
  }
}

/** The registry's on-disk state, read by listing its root directory. */
final case class StoreState(files: Map[String, (Long, Long)]) {
  def bytes: Long = files.valuesIterator.map(_._1).sum
  /** Completion markers with their (length, mtime): a changed or new entry is
    * a newly committed generation. */
  def markers: Map[String, (Long, Long)] = files.filter(_._1.endsWith("/_GRAFT_COMPLETE"))
  def generations: Set[String] = files.keysIterator.flatMap { f =>
    val parts = f.split('/')
    val i = parts.indexWhere(_.startsWith("g-"))
    if (i > 0) Some(parts.take(i + 1).mkString("/")) else None
  }.toSet
}

object StoreState {
  def scan(root: File): StoreState = {
    val out = mutable.Map.empty[String, (Long, Long)]
    def walk(d: File, rel: String): Unit = {
      val cs = d.listFiles()
      if (cs != null) cs.foreach { c =>
        val r = if (rel.isEmpty) c.getName else s"$rel/${c.getName}"
        if (c.isDirectory) walk(c, r) else out(r) = (c.length, c.lastModified)
      }
    }
    walk(root, "")
    StoreState(out.toMap)
  }

  /** Changes from `a` to `b`: (new or rewritten markers, bytes of new or
    * rewritten files, generation directories that disappeared). */
  def diff(a: StoreState, b: StoreState): (Int, Long, Int) = {
    val built = b.markers.count { case (k, v) => !a.markers.get(k).contains(v) }
    val written = b.files.iterator.collect {
      case (k, v) if !a.files.get(k).contains(v) => v._1
    }.sum
    (built, written, (a.generations -- b.generations).size)
  }

  def dirBytes(root: File): Long = scan(root).bytes
}

object Jvm {
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def heapMaxMb(): Double = Runtime.getRuntime.maxMemory / (1024.0 * 1024.0)
}
