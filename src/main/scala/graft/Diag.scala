package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

import scala.jdk.CollectionConverters._

/** Dev diagnostic: where a registered query's time goes, split the way
  * Spark SQL splits a query — plan CONSTRUCTION (the queries-map
  * closure, including any eager checkpoint, artifact ensure or
  * streaming run it performs), OPTIMIZATION (analysis → executed plan)
  * and EXECUTION (the [[GraftSession.forceAndCount]] action) — plus the
  * jobs, SQL executions (actions) and streaming micro-batches behind
  * them. Each query runs twice in one session: run 1 is cold (it
  * includes any artifact build), run 2 is warm; run 2's formatted
  * physical plan is printed after its summary line.
  *
  *   SPARK_GRAFT_SF_DIR=<fixture dir> SPARK_GRAFT_CPUS=8 \
  *     sbt "runMain graft.Diag corpus_release_mm stream_cms_update"
  *
  * `key=value` arguments are runtime SQL confs, set once before any run
  * (stream queries inherit them through `StreamQueries.streamSession`):
  *
  *   sbt "runMain graft.Diag a3_w1_top_songs spark.sql.adaptive.enabled=false"
  *
  * Pointed at a `ScaleUp` dir, the run 1 / run 2 pair is a query's
  * cold/warm cost at that scale.
  */
object Diag {

  sealed trait Record { def line: String }

  /** One run's phase split and scheduler totals. `constructJobs` are the
    * jobs fired before construction returned (eager actions).
    */
  final case class Run(query: String, run: Int, constructS: Double,
      constructJobs: Int, optimizeS: Double, executeS: Double, rows: Long,
      jobs: Int, stages: Int, tasks: Int, plan: String) extends Record {
    def line: String =
      f"[diag] $query run$run construct=$constructS%.3f (jobs=$constructJobs)" +
        f" optimize=$optimizeS%.3f execute=$executeS%.3f" +
        f" total=${constructS + optimizeS + executeS}%.3f rows=$rows" +
        s" jobs=$jobs stages=$stages tasks=$tasks"
  }

  /** A job's wall time, and its gap since the previous job ended (the
    * run's start for the first job) — driver time between jobs; a
    * negative gap is a job that overlapped the previous one. `durS` is
    * -1 for a job that never reported its end.
    */
  final case class Job(query: String, run: Int, id: Int, gapS: Double,
      durS: Double) extends Record {
    def line: String = f"[diag] $query run$run job$id%-5d gap=$gapS%7.3f dur=$durS%7.3f"
  }

  /** One SQL execution — an eager action — with its call site. */
  final case class Action(query: String, run: Int, id: Long, durS: Double,
      callSite: String) extends Record {
    def line: String = f"[diag] $query run$run action$id%-5d $durS%7.3f $callSite"
  }

  /** One streaming micro-batch with Spark's own phase breakdown
    * (`addBatch`, `queryPlanning`, `walCommit`, `triggerExecution`, …);
    * `stream` is the query name, else the start of its id.
    */
  final case class Batch(query: String, run: Int, stream: String,
      batchId: Long, rows: Long, durationMs: Map[String, Long]) extends Record {
    def line: String = s"[diag] $query run$run batch $stream#$batchId rows=$rows " +
      durationMs.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")
  }

  /** Buffers every event it is sent; [[once]] reads them after a drain.
    * Registered on the SparkContext, so it also sees the SQL executions
    * and stream progress of `StreamQueries.streamSession`'s child
    * sessions, which a per-session listener would miss.
    */
  private final class Recorder extends SparkListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerEvent]
    override def onJobStart(e: SparkListenerJobStart): Unit = events.add(e)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = events.add(e)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = events.add(e)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart | _: SparkListenerSQLExecutionEnd |
           _: QueryProgressEvent => events.add(e)
      case _ => ()
    }
  }

  /** Block until every event posted so far has reached the listeners
    * (`LiveListenerBus.waitUntilEmpty` is `private[spark]`).
    */
  private def drain(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** Run each query twice and return every run's records: its jobs,
    * actions and micro-batches, then its [[Run]] summary.
    */
  def run(spark: SparkSession, sfDir: String, names: Seq[String]): Seq[Record] = {
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    try names.flatMap(n => (1 to 2).flatMap(i => once(spark, sfDir, n, i, rec)))
    finally spark.sparkContext.removeSparkListener(rec)
  }

  private def once(spark: SparkSession, sfDir: String, name: String, i: Int,
      rec: Recorder): Seq[Record] = {
    drain(spark.sparkContext)
    rec.events.clear()
    val w0 = System.currentTimeMillis() // wall clock, as event times are
    val t0 = System.nanoTime()
    val df = SparkEntry.queries(name)(spark, sfDir)
    val w1 = System.currentTimeMillis()
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    val rows = GraftSession.forceAndCount(df)
    val t3 = System.nanoTime()
    drain(spark.sparkContext)
    val evs = rec.events.asScala.toSeq

    val jobEnds = evs.collect { case e: SparkListenerJobEnd => e.jobId -> e.time }.toMap
    val jobStarts = evs.collect { case e: SparkListenerJobStart => e }
    var prevEnd = w0
    val jobs = jobStarts.map { j =>
      val end = jobEnds.get(j.jobId)
      val r = Job(name, i, j.jobId, (j.time - prevEnd) / 1e3,
        end.fold(-1.0)(e => (e - j.time) / 1e3))
      prevEnd = end.getOrElse(j.time)
      r
    }
    val sqlEnds = evs.collect { case e: SparkListenerSQLExecutionEnd => e.executionId -> e.time }.toMap
    val actions = evs.collect { case e: SparkListenerSQLExecutionStart =>
      Action(name, i, e.executionId,
        sqlEnds.get(e.executionId).fold(-1.0)(t => (t - e.time) / 1e3),
        e.description.trim.replaceAll("\\s+", " ")) // a micro-batch's is multi-line
    }
    val batches = evs.collect { case e: QueryProgressEvent =>
      val p = e.progress
      Batch(name, i, Option(p.name).getOrElse(p.id.toString.take(8)), p.batchId,
        p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }
    val stageTasks = evs.collect { case e: SparkListenerStageCompleted => e.stageInfo.numTasks }
    jobs ++ actions ++ batches :+ Run(name, i, (t1 - t0) / 1e9,
      jobStarts.count(_.time <= w1), (t2 - t1) / 1e9, (t3 - t2) / 1e9, rows,
      jobStarts.size, stageTasks.size, stageTasks.sum,
      df.queryExecution.explainString(FormattedMode))
  }

  def main(args: Array[String]): Unit = {
    val (confs, names) = args.toSeq.partition(_.contains('='))
    require(names.nonEmpty, "usage: graft.Diag <query...> [key=value...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a fixture dir"))
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    try {
      confs.foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      }
      // absorb session start-up, so run 1's cold time is the query's own
      try spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      catch { case _: Exception => () }
      run(spark, sfDir, names).foreach {
        case r: Run if r.run == 2 => println(r.line); println(r.plan)
        case r => println(r.line)
      }
    } finally spark.stop()
  }
}
