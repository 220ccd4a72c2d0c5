package perfbench

import java.nio.file.{Files, Path, Paths}

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** What one timed window measured. `samplesMs` feed the p50/tail
  * latency; `items / busyS` is the throughput.
  */
final case class Window(
    samplesMs: Seq[Double],
    items: Double,
    busyS: Double,
    attempted: Long,
    failed: Long,
    layers: Map[String, Double] = Map.empty)

/** One benchmark workload: a set-up pass (inputs, builds, untimed
  * warm-up) that runs twice — the second one's state is the one
  * measured — and a timed window. A traced window gets the probe
  * and the span recorder and returns per-layer metrics.
  */
trait Workload {
  /** Latency percentile reported as `latency_tail_ms`: the highest one
    * with at least ten samples beyond it at this workload's rate.
    */
  def tailPct: Double
  /** What one item of `items_per_s` is, and the workload-specific metric names. */
  def itemName: String
  def aliases: Map[String, String]
  def setup(rep: Int): Unit

  /** Correctness checks made during set-up; each counts as an operation. */
  var setupChecks = 0L
  var setupFailures = 0L
  protected def setupCheck(ok: Boolean): Unit = {
    setupChecks += 1
    if (!ok) setupFailures += 1
  }

  def window(seconds: Double, trace: Option[Traced]): Window
}

final class Traced(val probe: Probe, val tracer: Tracer, val cores: Int) {
  private var acc = Map.empty[String, Long]
  private var ops = 0
  private var wallNs = 0L

  /** Wall time of the last [[op]]'s body, without the counter reads. */
  var lastS = 0.0

  /** Run one operation, adding its engine counters to the per-op totals. */
  def op[T](body: => T): T = {
    val a = probe.snap()
    val t0 = System.nanoTime()
    val r = body
    val t = System.nanoTime() - t0
    val d = Probe.delta(a, probe.snap())
    acc = d.map { case (k, v) => k -> (v + acc.getOrElse(k, 0L)) }
    ops += 1
    wallNs += t
    lastS = t / 1e9
    r
  }

  def counter(k: String): Long = acc.getOrElse(k, 0L)
  def opCount: Int = ops

  /** `spark.*` and `jvm.gc_s`, per operation. */
  def engineMetrics: Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    Map(
      "spark.actions" -> counter("actions") / n,
      "spark.jobs" -> counter("jobs") / n,
      "spark.stages" -> counter("stages") / n,
      "spark.tasks" -> counter("tasks") / n,
      "spark.plan_s" -> counter("plan_ns") / 1e9 / n,
      "spark.exec_s" -> counter("exec_ns") / 1e9 / n,
      "spark.task_busy_share" ->
        (if (wallNs == 0) 0.0 else counter("run_ms") / 1e3 / (wallNs / 1e9 * cores)),
      "spark.shuffle_write_bytes" -> counter("shuffle_write") / n,
      "spark.spill_bytes" -> counter("spill") / n,
      "jvm.gc_s" -> counter("gc_ms") / 1e3 / n)
  }
}

object Main {
  /** (name, unit) of each metric, in report order. */
  type Names = Seq[(String, String)]

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, detail: Option[Path], spans: Option[Path],
                        commit: String, sourceDigest: String,
                        endToEnd: Names, perLayer: Names)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    // "name:unit,name:unit,..." as run.py passes them from BENCHMARK.json
    def names(k: String): Names = need(k).split(',').toSeq.map { nu =>
      val i = nu.lastIndexOf(':')
      nu.take(i) -> nu.drop(i + 1)
    }
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      m.get("detail").map(Paths.get(_).toAbsolutePath), m.get("spans").map(Paths.get(_).toAbsolutePath),
      m.getOrElse("commit", "unknown"), m.getOrElse("source-digest", "unknown"),
      names("end-to-end"), names("per-layer"))
  }

  /** Median; for an even count the mean of the middle two. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.length - 1) / 2) + s(s.length / 2)) / 2
    }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$cores]", cores.toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try run(spark, o, cores, sessionS)
      finally {
        spark.streams.active.foreach(_.stop())
        spark.stop()
      }
    sys.exit(code)
  }

  private def run(spark: SparkSession, o: Opts, cores: Int, sessionS: Double): Int = {
    val w: Workload = o.workload match {
      case "etl_batch" => new EtlBatch(spark, o.work, o.seed)
      case "serve_lookup" => new ServeLookup(spark, o.work, o.seed)
      case "stream_arrivals" => new StreamArrivals(spark, o.work, o.seed)
      case "curate_ingest" => new CurateIngest(spark, o.work, o.seed)
      case other => sys.error(s"unknown workload $other")
    }
    // two passes: the cold one (JIT warm-up included) and a warm one
    val setups = (0 until 2).map { r =>
      val t = System.nanoTime()
      w.setup(r)
      (System.nanoTime() - t) / 1e9
    }
    val setupS = sessionS + median(setups)
    println(f"setup: session $sessionS%.3f s, set-up passes ${setups.map(s => f"$s%.3f").mkString(" ")} s")

    val plain = w.window(o.seconds, None)
    val traced = if (!o.trace) None else {
      val probe = new Probe(spark)
      probe.attach()
      Probe.resetHeapPeak()
      val tracer = new Tracer
      val t = new Traced(probe, tracer, cores)
      val win = w.window(o.seconds, Some(t))
      val heap = Probe.heapPeakMb()
      probe.detach()
      o.spans.foreach(tracer.write)
      Some((win, t, heap))
    }
    val attempted = w.setupChecks + plain.attempted + traced.map(_._1.attempted).getOrElse(0L)
    val failed = w.setupFailures + plain.failed + traced.map(_._1.failed).getOrElse(0L)

    val e2e = Map(
      "setup_s" -> setupS,
      "items_per_s" -> plain.items / plain.busyS,
      "latency_p50_ms" -> Stats.pct(plain.samplesMs, 50),
      "latency_tail_ms" -> Stats.pct(plain.samplesMs, w.tailPct))
    val layers: Map[String, Double] = traced.map { case (win, t, heap) =>
      val base = o.perLayer.map(_._1 -> 0.0).toMap
      base ++ t.engineMetrics ++ win.layers ++ Map(
        "jvm.heap_peak_mb" -> heap,
        "trace.overhead_share" ->
          (Stats.pct(win.samplesMs, 50) / Stats.pct(plain.samplesMs, 50) - 1.0))
    }.getOrElse(Map.empty)

    val sc = spark.sparkContext
    val context = Map(
      "nproc" -> cores.toString,
      "master" -> sc.master,
      "default_parallelism" -> sc.defaultParallelism.toString,
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jvm" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "commit" -> o.commit,
      "source_digest" -> o.sourceDigest)
    println("context: " + Json.obj(context.map { case (k, v) => k -> Json.str(v) }))
    println(f"samples: ${plain.samplesMs.size} (tail = p${w.tailPct}%.0f), items = ${w.itemName}")
    val failedShare = failed.toDouble / math.max(attempted, 1L)
    println(f"failed_share = $failedShare%.6f ($failed of $attempted operations)")
    o.endToEnd.foreach { case (k, unit) =>
      println(f"$k = ${e2e.getOrElse(k, Double.NaN)}%.6f $unit${w.aliases.get(k).map(a => s"  ($a)").getOrElse("")}")
    }
    o.perLayer.foreach { case (k, unit) =>
      layers.get(k).foreach(v => println(f"$k = $v%.6f $unit"))
    }

    val shown = if (o.trace) o.perLayer else o.endToEnd
    val values = (if (o.trace) layers else e2e).withDefaultValue(Double.NaN)
    val unmeasured = shown.map(_._1).filterNot(k => values(k).isFinite)
    if (unmeasured.nonEmpty) System.err.println(s"no value measured for ${unmeasured.mkString(", ")}")
    val correct = failed == 0 && unmeasured.isEmpty
    val metrics = Json.obj(shown.map { case (k, unit) =>
      k -> Json.obj(Seq("value" -> Json.num(values(k)), "unit" -> Json.str(unit)))
    })
    val result = Json.obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> metrics))
    o.detail.foreach { d =>
      def nums(m: Map[String, Double]) = Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
      val aliases = Json.obj(w.aliases.toSeq.map { case (k, a) => a -> Json.num(e2e(k)) })
      val rec = Json.obj(Seq(
        "workload" -> Json.str(o.workload), "seed" -> o.seed.toString,
        "seconds" -> Json.num(o.seconds), "trace" -> (if (o.trace) "1" else "0"),
        "context" -> Json.obj(context.map { case (k, v) => k -> Json.str(v) }),
        "samples" -> plain.samplesMs.size.toString, "tail_pct" -> Json.num(w.tailPct),
        "failed_share" -> Json.num(failedShare), "named_metrics" -> aliases,
        "end_to_end" -> nums(e2e), "per_layer" -> nums(layers), "result" -> result))
      Files.createDirectories(d.getParent)
      Files.write(d, (rec + "\n").getBytes, java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    }
    println(result)
    if (correct) 0 else 1
  }
}

object Stats {
  /** Nearest-rank percentile; NaN when there are no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p / 100 * s.length).toInt - 1)))
    }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
