package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine- and JVM-level counters, collected from outside the program
  * by the three listener kinds Spark offers: a `SparkListener` (jobs,
  * stages, tasks and their metrics), a `QueryExecutionListener`
  * (actions, Catalyst phase times from `QueryExecution.tracker`, file
  * scan metrics of the executed plan) and a `StreamingQueryListener`
  * (per-trigger `StreamingQueryProgress`). Attached only in traced runs.
  */
final class Probe(spark: SparkSession) {
  private val c = Seq("jobs", "stages", "tasks", "run_ms", "shuffle_write", "spill",
    "bytes_read", "actions", "plan_ns", "exec_ns", "scan_files",
    "scan_rows").map(_ -> new AtomicLong).toMap
  private def add(k: String, v: Long): Unit = c(k).addAndGet(v)

  /** (receipt wall-clock ms, progress) of every streaming micro-batch. */
  val progress = new ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add("run_ms", m.executorRunTime)
        add("shuffle_write", m.shuffleWriteMetrics.bytesWritten)
        add("spill", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("bytes_read", m.inputMetrics.bytesRead)
      }
    }
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      add("actions", 1)
      val ph = qe.tracker.phases
      def ns(k: String) = ph.get(k).map(_.durationMs * 1000000L).getOrElse(0L)
      add("plan_ns", ns("analysis") + ns("optimization") + ns("planning"))
      // analysis ran when the Dataset was built; the action's own
      // duration covers optimization and planning when they ran lazily
      add("exec_ns", math.max(0L, durationNs - ns("optimization") - ns("planning")))
      scans(qe.executedPlan).foreach { s =>
        s.metrics.get("numFiles").foreach(m => add("scan_files", m.value))
        s.metrics.get("numOutputRows").foreach(m => add("scan_rows", m.value))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      add("actions", 1)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((System.currentTimeMillis(), e.progress))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Counter values after every event posted so far has been delivered,
    * plus the JVM's cumulative GC time.
    */
  def snap(): Map[String, Long] = {
    drain()
    c.map { case (k, v) => k -> v.get } + ("gc_ms" -> Probe.gcMs())
  }
}

object Probe {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}

/** In-memory spans: name, start, end and parent, with one id per
  * operation. Written out as JSON lines when the run ends.
  */
final class Tracer {
  import Tracer.Span
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](op: Int, name: String)(body: => T): T = {
    val id = spans.length
    val parent = open.headOption.getOrElse(-1)
    spans += Span(id, op, name, parent, System.nanoTime(), 0L)
    open = id :: open
    try body
    finally {
      open = open.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  /** A span timed elsewhere (e.g. on Spark's stream thread), under `parent`. */
  def record(op: Int, name: String, parent: Int, startNs: Long, endNs: Long): Unit =
    spans += Span(spans.length, op, name, parent, startNs, endNs)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** A span's duration minus the time its direct children cover. */
  def selfNs(s: Span): Long = s.ns - spans.filter(_.parent == s.id).map(_.ns).sum

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"op":${s.op},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${selfNs(s)}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  final case class Span(id: Int, op: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
    def ns: Long = endNs - startNs
  }
}
