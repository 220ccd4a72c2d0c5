package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.ingest.Validate
import graft.sources.Csv
import graft.stream.Pipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `stream_arrivals`: reference-sized stream files land on a fixed
  * schedule (open loop, one generator thread); each landing triggers
  * `stream.Pipeline.start` (AvailableNow) on one persistent checkpoint
  * — the reference's S3→Lambda→DAG trigger. Files that land while a
  * trigger runs wait for the next one. Freshness is measured from a
  * file's scheduled landing time to the return of the `writeBatch` that
  * contains it; which batch holds which file is read from the file
  * source's own log in the checkpoint.
  */
final class StreamArrivals(spark: SparkSession, work: Path, seed: Long) extends Workload {
  /** About half of what the warm pipeline drains on 4 contended vCPUs
    * (5–7 files/s); a quiet host drains about 23.
    */
  val filesPerS = 3.0
  /** The schedule lands at least this many files, so that p65 keeps
    * ten samples beyond it.
    */
  val minFiles = 30
  def tailPct = 65.0
  def itemName = "stream rows per second of trigger time"
  def aliases = Map("latency_p50_ms" -> "freshness_p50_ms", "latency_tail_ms" -> "freshness_tail_ms")

  private val dims = MusicGen.dims(new java.util.Random(seed))
  private var nextFile = 0
  private var root: Path = _
  private var songs: DataFrame = _
  private var users: DataFrame = _
  private var wbSeq = 0
  /** (start, return) nanos of every `writeBatch` call, in call order. */
  private val wbCalls = new ConcurrentLinkedQueue[(Long, Long)]
  private val expected = mutable.Map.empty[String, Map[(String, String), Long]]
  private val rowsOf = mutable.Map.empty[String, Long]
  private val seenBatches = mutable.Set.empty[Long]

  private def inDir = root.resolve("in")
  private def ckpt = root.resolve("ckpt")
  private def outDir = root.resolve("out")

  /** File `i` of this seed: its name and CSV bytes, recording the model. */
  private def makeFile(): (String, Array[Byte]) = {
    val i = nextFile
    nextFile += 1
    val rows = MusicGen.streams(1, new java.util.Random(seed * 1000003L + i)).head
    val name = f"stream_$i%05d.csv"
    expected(name) = MusicGen.expected(dims, Seq(rows)).kpis.map { case (g, k) => g -> k.listens }
    rowsOf(name) = rows.length.toLong
    (name, MusicGen.streamCsv(rows, dims))
  }

  /** Land a file the way an object-store upload appears: whole, by rename. */
  private def land(name: String, bytes: Array[Byte]): Unit = {
    val tmp = inDir.resolve(s".$name.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, inDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private val writeBatch: DataFrame => Unit = { kpis =>
    val s = System.nanoTime()
    kpis.write.parquet(outDir.resolve(s"wb=$wbSeq").toString)
    wbSeq += 1
    wbCalls.add((s, System.nanoTime()))
  }

  /** (batch id → files) entries of the file source log not seen before. */
  private def newBatches(): Seq[(Long, Seq[String])] = {
    val dir = ckpt.resolve("sources/0")
    val Entry = """.*"path":"[^"]*/([^/"]+)".*"batchId":(\d+).*""".r
    val all = if (!Files.isDirectory(dir)) Seq.empty else
      Files.list(dir).iterator().asScala.filterNot(_.getFileName.toString.startsWith("."))
        .flatMap(p => Files.readAllLines(p).asScala).collect {
          case Entry(file, b) => (b.toLong, file)
        }.toSeq.distinct
    val fresh = all.groupMap(_._1)(_._2).filter(b => !seenBatches(b._1)).toSeq.sortBy(_._1)
    seenBatches ++= fresh.map(_._1)
    fresh
  }

  def setup(rep: Int): Unit = {
    root = work.resolve(s"stream$rep")
    Files.createDirectories(inDir)
    Files.write(root.resolve("songs.csv"), dims.songsCsv)
    Files.write(root.resolve("users.csv"), dims.usersCsv)
    songs = Validate.validateSongs(Csv.readClean(spark, root.resolve("songs.csv").toString,
      MusicInputs.songsSchema)).select("track_id", "track_genre", "duration_ms")
    users = Validate.validateUsers(Csv.readClean(spark, root.resolve("users.csv").toString,
      MusicInputs.usersSchema)).select("user_id")
    wbSeq = 0
    wbCalls.clear()
    seenBatches.clear()
    // untimed warm-up: a backlog of a few files, then a single file
    Seq(3, 1).foreach { k =>
      val landed = Seq.fill(k)(makeFile())
      landed.foreach { case (n, b) => land(n, b) }
      Pipeline.start(spark, inDir.toString, ckpt.toString, songs, users, writeBatch)
        .awaitTermination()
    }
    val batches = newBatches()
    wbCalls.clear()
    val files = batches.flatMap(_._2)
    setupCheck(check(batches.toMap, files.size == files.distinct.size) == 0)
  }

  /** Exactly-once check: every batch's Σ listen_count per (genre, day)
    * matches the model of the files the source log assigns it, and no
    * file sits in two batches. Returns the number of failed batches.
    */
  private def check(batches: Map[Long, Seq[String]], disjoint: Boolean): Int = {
    if (!disjoint) { System.err.println("check failed: a file sits in two batches"); return 1 }
    val firstWb = wbSeq - batches.size
    val got = spark.read.parquet(outDir.toString)
      .filter(col("wb") >= firstWb)
      .groupBy(col("wb"), col("track_genre"), col("date").cast("string"))
      .agg(sum(col("listen_count"))).collect()
      .groupMap(_.getInt(0))(r => (r.getString(1), r.getString(2)) -> r.getLong(3))
      .map { case (wb, xs) => wb -> xs.toMap }
    batches.toSeq.sortBy(_._1).zipWithIndex.count { case ((b, files), i) =>
      val want = files.flatMap(expected(_)).groupMapReduce(_._1)(_._2)(_ + _)
      val ok = got.getOrElse(firstWb + i, Map.empty) == want
      if (!ok) System.err.println(s"check failed: stream batch $b")
      !ok
    }
  }

  def window(seconds: Double, trace: Option[Traced]): Window = {
    val n = math.max(minFiles, (filesPerS * seconds).toInt)
    val files = Array.fill(n)(makeFile())
    val t0 = System.nanoTime() + 20000000L
    val due = Array.tabulate(n)(i => t0 + (i * 1e9 / filesPerS).toLong)
    val landed = new AtomicInteger(0)
    val lagNs = new java.util.concurrent.atomic.AtomicLong(0)
    val gen = new Thread(() => {
      files.indices.foreach { i =>
        val wait = due(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        land(files(i)._1, files(i)._2)
        lagNs.accumulateAndGet(System.nanoTime() - due(i), math.max)
        landed.incrementAndGet()
      }
    }, "perfbench-arrivals")
    gen.start()

    val dueOf = files.map(_._1).zip(due).toMap
    val fresh = Seq.newBuilder[Double]
    val trig = Seq.newBuilder[Double]
    val layer = mutable.Map.empty[String, Seq[Double]].withDefaultValue(Seq.empty)
    def rec(k: String, v: Double): Unit = layer(k) = layer(k) :+ v
    val batchesOf = mutable.Map.empty[Long, Seq[String]]
    var processed, backlogMax, triggers, rows, mismatched = 0
    while (processed < n) {
      val backlog = landed.get - processed
      if (backlog == 0) Thread.sleep(1)
      else {
        backlogMax = math.max(backlogMax, backlog)
        val callMs = System.currentTimeMillis()
        val s = System.nanoTime()
        def fire(): Unit =
          Pipeline.start(spark, inDir.toString, ckpt.toString, songs, users, writeBatch)
            .awaitTermination()
        trace match {
          case None => fire()
          case Some(t) =>
            t.probe.progress.clear()
            val read0 = t.counter("bytes_read")
            val shuffle0 = t.counter("shuffle_write")
            t.tracer.span(triggers, "stream.trigger")(t.op(fire()))
            val ps = t.probe.progress.asScala.toSeq.sortBy(_._2.batchId)
            ps.headOption.foreach(p => rec("stream.start_ms", (p._1 - callMs).toDouble))
            for ((_, p) <- ps; (k, name) <- Seq("queryPlanning" -> "query_planning",
                "latestOffset" -> "latest_offset", "addBatch" -> "add_batch",
                "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets"))
              Option(p.durationMs.get(k)).foreach(v => rec(s"stream.${name}_ms", v.doubleValue))
            rec("ingest.rows_in", ps.map(_._2.numInputRows).sum.toDouble)
            rec("sources.bytes_read", (t.counter("bytes_read") - read0).toDouble)
            rec("analytics.shuffle_write_bytes", (t.counter("shuffle_write") - shuffle0).toDouble)
        }
        trig += trace.fold((System.nanoTime() - s) / 1e9)(_.lastS)
        val bs = newBatches()
        val calls = Iterator.continually(wbCalls.poll()).takeWhile(_ != null).toSeq
        if (calls.size != bs.size) {
          System.err.println(s"check failed: ${bs.size} batches but ${calls.size} writeBatch calls")
          mismatched += 1
        }
        bs.zip(calls).foreach { case ((b, fs), (_, ret)) =>
          batchesOf(b) = fs
          fs.foreach(f => dueOf.get(f).foreach(d => fresh += (ret - d) / 1e6))
        }
        trace.foreach { t =>
          calls.foreach { case (cs, ce) => t.tracer.record(triggers, "analytics.write_batch",
            t.tracer.named("stream.trigger").last.id, cs, ce) }
          rec("analytics.self_s", calls.map { case (cs, ce) => ce - cs }.sum / 1e9)
        }
        val inTrigger = bs.flatMap(_._2)
        processed += inTrigger.count(dueOf.contains)
        rows += inTrigger.map(rowsOf).sum.toInt
        if (trace.isDefined) {
          rec("stream.batches_per_trigger", bs.size.toDouble)
          rec("sources.input_bytes", inTrigger.map(f => Files.size(inDir.resolve(f))).sum.toDouble +
            bs.size * (dims.songsCsv.length + dims.usersCsv.length).toDouble)
        }
        triggers += 1
        if (bs.isEmpty && landed.get == n && processed < n) {
          System.err.println("check failed: landed files never reached a batch")
          processed = n
        }
      }
    }
    gen.join()
    val samples = fresh.result()
    val all = batchesOf.values.flatten.toSeq
    val failedBatches = check(batchesOf.toMap, all.size == all.distinct.size)
    val missing = files.count(f => !all.contains(f._1))
    val layers = trace.map { t =>
      val m = layer.map { case (k, v) => k -> Main.median(v) }.toMap
      m ++ Map(
        "stream.trigger_ms" -> Main.median(trig.result()) * 1e3,
        "stream.backlog_max_files" -> backlogMax.toDouble,
        "stream.generator_lag_s" -> lagNs.get / 1e9,
        "sources.scan_amplification" -> m("sources.bytes_read") / m("sources.input_bytes"))
    }.getOrElse(Map.empty)
    Window(samples, rows.toDouble, trig.result().sum, n, failedBatches + missing + mismatched, layers)
  }
}
