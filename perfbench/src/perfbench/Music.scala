package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import graft.MusicPipeline
import graft.ingest.Validate
import graft.sources.Csv
import graft.stream.Pipeline
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The reference's batch inputs read the way its Glue chain reads them:
  * declared all-string CSV schemas, coerced by the validation layer.
  */
object MusicInputs {
  private def strings(cols: String*) = StructType(cols.map(StructField(_, StringType)))
  val songsSchema: StructType =
    strings("track_id", "track_name", "artists", "popularity", "duration_ms", "track_genre")
  val usersSchema: StructType =
    strings("user_id", "user_name", "user_age", "user_country", "created_at")

  final case class Raw(streams: DataFrame, songs: DataFrame, users: DataFrame)

  def read(spark: SparkSession, in: Path): Raw = Raw(
    Csv.readClean(spark, s"$in/streams", Pipeline.streamsCsvSchema),
    Csv.readClean(spark, s"$in/songs.csv", songsSchema),
    Csv.readClean(spark, s"$in/users.csv", usersSchema))

  def dirStats(dir: Path): (Long, Long) = {
    val fs = Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".")
        && !p.getFileName.toString.startsWith("_")).toSeq
    (fs.size.toLong, fs.map(Files.size).sum)
  }

  /** Compare the four written outputs against the model; the first
    * mismatch is reported on stderr.
    */
  def verify(spark: SparkSession, out: Path, exp: MusicGen.Expected): Boolean = {
    def fail(what: String): Boolean = { System.err.println(s"check failed: $what"); false }
    val kpis = spark.read.parquet(s"$out/genre_kpis").collect().map { r =>
      (r.getAs[String]("track_genre"), r.getAs[java.sql.Date]("date").toString) ->
        (r.getAs[Long]("listen_count"), r.getAs[Long]("unique_listeners"),
          r.getAs[Long]("total_listening_time_ms"), r.getAs[Double]("avg_listening_time_ms"),
          r.getAs[Double]("avg_listening_time_per_user"))
    }.toMap
    val kpisOk = kpis.size == exp.kpis.size && exp.kpis.forall { case (g, k) =>
      kpis.get(g).exists { case (n, u, t, avg, per) =>
        n == k.listens && u == k.uniqueUsers && t == k.totalMs &&
          math.abs(avg - k.avgMs) <= 1e-9 * k.avgMs && math.abs(per - k.perUser) <= 1e-9 * k.perUser
      }
    }
    def ranked(dir: String, key: Row => String, v: Row => (String, Long)) =
      spark.read.parquet(s"$out/$dir").collect().toSeq.groupBy(key).map { case (g, rs) =>
        g -> rs.sortBy(_.getAs[Int]("rank")).map(v)
      }
    val songs = ranked("top_songs",
      r => r.getAs[String]("track_genre") + "|" + r.getAs[java.sql.Date]("date"),
      r => (r.getAs[String]("track_id"), r.getAs[Long]("play_count")))
    val genres = ranked("top_genres", r => r.getAs[java.sql.Date]("date").toString,
      r => (r.getAs[String]("track_genre"), r.getAs[Long]("total_plays")))
    val items = spark.read.parquet(s"$out/serving").select("pk", "sk", "value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    if (!kpisOk) fail("genre KPIs")
    else if (songs != exp.topSongs.map { case ((g, d), xs) => s"$g|$d" -> xs }) fail("top songs")
    else if (genres != exp.topGenres) fail("top genres")
    else if (items.length != exp.items.size || items.toSet != exp.items) fail("serving items")
    else true
  }
}

/** `etl_batch`: reference-shaped stream CSVs → declared-schema read →
  * `MusicPipeline.run` → `MusicPipeline.write`, closed loop, one client.
  */
final class EtlBatch(spark: SparkSession, work: Path, seed: Long) extends Workload {
  val batchFiles = 4
  def tailPct = 50.0
  def itemName = s"input stream rows ($batchFiles files x ${MusicGen.RowsPerFile} rows per batch)"
  def aliases = Map("items_per_s" -> "etl_rows_per_s")

  private var in: Path = _
  private var out: Path = _
  private var inputBytes = 0L
  private var exp: MusicGen.Expected = _

  def setup(rep: Int): Unit = {
    val rng = new java.util.Random(seed)
    val dims = MusicGen.dims(rng)
    val streams = MusicGen.streams(batchFiles, rng)
    exp = MusicGen.expected(dims, streams)
    in = work.resolve(s"etl$rep/in")
    out = work.resolve(s"etl$rep/out")
    inputBytes = MusicGen.writeAll(in, dims, streams)
    runWrite()
    setupCheck(MusicInputs.verify(spark, out, exp))
  }

  private def runWrite(): Unit = {
    val raw = MusicInputs.read(spark, in)
    MusicPipeline.write(MusicPipeline.run(raw.streams, raw.songs, raw.users), out.toString)
  }

  def window(seconds: Double, trace: Option[Traced]): Window = {
    val ops = Seq.newBuilder[Double]
    val layer = scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Seq.empty)
    def rec(k: String, v: Double): Unit = layer(k) = layer(k) :+ v
    var n, failed = 0
    var scanRows, scanFiles, returned = 0L
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (n == 0 || System.nanoTime() < end) {
      trace match {
        case None =>
          val t0 = System.nanoTime()
          runWrite()
          ops += (System.nanoTime() - t0) / 1e6
        case Some(t) => t.tracer.span(n, "etl.op") {
          // layer self time by differencing forced prefixes of the chain
          def timed(name: String)(body: => Unit): Double = {
            val t0 = System.nanoTime()
            t.tracer.span(n, name)(body)
            (System.nanoTime() - t0) / 1e9
          }
          // each prefix runs the real plan up to its layer into Spark's
          // no-op sink; row counts ride the same action as observations
          def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
          def counted(df: DataFrame, name: String): Long = {
            val (d, obs) = Validate.observed(df, s"$name$n", Seq.empty)
            noop(d)
            obs.get("n_rows").asInstanceOf[Long]
          }
          val raw = MusicInputs.read(spark, in)
          var rowsIn, rowsValid = 0L
          val p1 = timed("sources.read") {
            rowsIn = counted(raw.streams, "rows_in"); noop(raw.songs); noop(raw.users)
          }
          val p2 = timed("ingest.validate") {
            rowsValid = counted(Validate.validateStreams(raw.streams), "rows_valid")
            noop(Validate.validateSongs(raw.songs)); noop(Validate.validateUsers(raw.users))
          }
          val before = t.probe.snap()
          val p3 = timed("analytics.run") {
            val o = MusicPipeline.run(raw.streams, raw.songs, raw.users)
            Seq(o.genreKpis, o.topSongs, o.topGenres, o.servingItems).foreach(noop)
          }
          rec("analytics.shuffle_write_bytes",
            Probe.delta(before, t.probe.snap())("shuffle_write").toDouble)
          val read0 = t.counter("bytes_read")
          t.tracer.span(n, "etl.run_write")(t.op(runWrite()))
          val p4 = t.lastS
          ops += p4 * 1e3
          rec("sources.read_s", p1)
          rec("ingest.self_s", p2 - p1)
          rec("analytics.self_s", p3 - p2)
          rec("serve.write_s", p4 - p3)
          rec("sources.bytes_read", (t.counter("bytes_read") - read0).toDouble)
          rec("ingest.rows_in", rowsIn.toDouble)
          rec("ingest.rows_dropped", (rowsIn - rowsValid).toDouble)
          // the read path of the store this op wrote: one lookup per pattern,
          // counted apart from the op's own engine counters
          val lookups = new Lookups(spark, out.resolve("serving"), exp, seed + n)
          (0 until 3).foreach { kind =>
            val a = t.probe.snap()
            val t0 = System.nanoTime()
            val (rows, ok) = t.tracer.span(n, s"serve.l${kind + 1}")(lookups.lookup(kind))
            rec(s"serve.l${kind + 1}_p50_ms", (System.nanoTime() - t0) / 1e6)
            val d = Probe.delta(a, t.probe.snap())
            scanRows += d("scan_rows"); scanFiles += d("scan_files"); returned += rows
            if (!ok) failed += 1
          }
          if (rowsIn != exp.rowsIn || rowsIn - rowsValid != exp.malformed) {
            System.err.println(s"check failed: rows in/dropped $rowsIn/${rowsIn - rowsValid}")
            failed += 1
          }
        }
      }
      n += 1
    }
    // every op rewrites the same outputs from the same inputs: check the last
    if (!MusicInputs.verify(spark, out, exp)) failed += 1
    val layers = trace.map { _ =>
      val (files, bytes) = MusicInputs.dirStats(out.resolve("serving"))
      val m = layer.map { case (k, v) => k -> Main.median(v) }.toMap
      m ++ Map(
        "sources.input_bytes" -> inputBytes.toDouble,
        "sources.scan_amplification" -> m("sources.bytes_read") / inputBytes,
        "serve.rows_scanned_per_row_returned" -> scanRows.toDouble / returned,
        "serve.files_read_per_lookup" -> scanFiles / (3.0 * n),
        "serve.store_files" -> files.toDouble, "serve.store_bytes" -> bytes.toDouble)
    }.getOrElse(Map.empty)
    val opMs = ops.result()
    Window(opMs, exp.rowsIn.toDouble * n, opMs.sum / 1e3, n, failed, layers)
  }
}

/** The three `queries/dynamo_query.txt` lookup patterns, with
  * `serve.KeyValueQueries`' predicates, against a written serving store;
  * keys Zipf over the model's genre-days in a seeded random order. Each
  * result is checked against the model's items.
  */
final class Lookups(spark: SparkSession, storeDir: Path, exp: MusicGen.Expected, seed: Long) {
  private val MetricNames = Array("listen_count", "unique_listeners", "total_listening_time_ms",
    "avg_listening_time_ms")
  private val store = spark.read.parquet(storeDir.toString)
  private val byPk = exp.items.groupBy(_._1)
  private val keys = new scala.util.Random(seed).shuffle(exp.kpis.keys.toSeq.sorted).toArray
  private val keyCdf = Zipf.cdf(keys.length, 1.0)
  private val rng = new java.util.Random(seed ^ 0x5eed)

  /** One lookup of kind 0/1/2 (L1/L2/L3): (rows returned, correct). */
  def lookup(kind: Int): (Int, Boolean) = {
    val (genre, day) = keys(Zipf.draw(keyCdf, rng))
    val gpk = s"GENRE#$genre#DATE#$day"
    val (pk, pred, keep): (String, org.apache.spark.sql.Column, String => Boolean) = kind match {
      case 0 =>
        val sk = "METRIC#" + MetricNames(rng.nextInt(MetricNames.length))
        (gpk, col("sk") === sk, _ == sk)
      case 1 => (gpk, col("sk").startsWith("SONG#"), _.startsWith("SONG#"))
      case _ => (s"DATE#$day", col("sk").between("GENRE_RANK#1", "GENRE_RANK#3"),
        sk => sk >= "GENRE_RANK#1" && sk <= "GENRE_RANK#3")
    }
    val got = store.filter(col("pk") === pk && pred).select("pk", "sk", "value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val want = byPk.getOrElse(pk, Set.empty).filter(i => keep(i._2))
    val ok = got.length == want.size && got.toSet == want && want.nonEmpty
    if (!ok) System.err.println(s"check failed: lookup L${kind + 1} $pk")
    (got.length, ok)
  }
}

/** `serve_lookup`: the three lookup patterns against the serving store
  * the `etl_batch` path wrote, closed loop, one client.
  */
final class ServeLookup(spark: SparkSession, work: Path, seed: Long) extends Workload {
  def tailPct = 90.0
  def itemName = "lookups (L1, L2, L3 round-robin)"
  def aliases = Map("latency_p50_ms" -> "lookup_p50_ms", "latency_tail_ms" -> "lookup_tail_ms")

  private var storeDir: Path = _
  private var lookups: Lookups = _

  def setup(rep: Int): Unit = {
    val genRng = new java.util.Random(seed)
    val dims = MusicGen.dims(genRng)
    val files = MusicGen.streams(4, genRng)
    val in = work.resolve(s"serve$rep/in")
    val out = work.resolve(s"serve$rep/out")
    MusicGen.writeAll(in, dims, files)
    val raw = MusicInputs.read(spark, in)
    MusicPipeline.write(MusicPipeline.run(raw.streams, raw.songs, raw.users), out.toString)
    storeDir = out.resolve("serving")
    lookups = new Lookups(spark, storeDir, MusicGen.expected(dims, files), seed)
    (0 until 30).foreach(i => setupCheck(lookups.lookup(i % 3)._2))
  }

  def window(seconds: Double, trace: Option[Traced]): Window = {
    val lat = Seq.newBuilder[Double]
    val perKind = Array.fill(3)(Seq.newBuilder[Double])
    var n, failed = 0
    var returned = 0L
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (n == 0 || System.nanoTime() < end) {
      val kind = n % 3
      val t0 = System.nanoTime()
      val ((rows, ok), ms) = trace match {
        case None => (lookups.lookup(kind), (System.nanoTime() - t0) / 1e6)
        case Some(t) =>
          (t.tracer.span(n, s"serve.l${kind + 1}")(t.op(lookups.lookup(kind))), t.lastS * 1e3)
      }
      lat += ms
      perKind(kind) += ms
      returned += rows
      if (!ok) failed += 1
      n += 1
    }
    val layers = trace.map { t =>
      val (files, bytes) = MusicInputs.dirStats(storeDir)
      val readPerOp = t.counter("bytes_read").toDouble / t.opCount
      Map(
        "serve.l1_p50_ms" -> Main.median(perKind(0).result()),
        "serve.l2_p50_ms" -> Main.median(perKind(1).result()),
        "serve.l3_p50_ms" -> Main.median(perKind(2).result()),
        "serve.rows_scanned_per_row_returned" -> t.counter("scan_rows").toDouble / returned,
        "serve.files_read_per_lookup" -> t.counter("scan_files").toDouble / t.opCount,
        "serve.store_files" -> files.toDouble, "serve.store_bytes" -> bytes.toDouble,
        "sources.input_bytes" -> bytes.toDouble, "sources.bytes_read" -> readPerOp,
        "sources.scan_amplification" -> readPerOp / bytes)
    }.getOrElse(Map.empty)
    val ms = lat.result()
    Window(ms, n, ms.sum / 1e3, n, failed, layers)
  }
}
