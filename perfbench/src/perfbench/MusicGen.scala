package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Seeded generator for the reference's three CSV inputs — songs,
  * users and the listen-event stream files — plus an independent,
  * plain-Scala model of what the pipeline must output for them. The
  * program under test only ever sees the written files; the model is
  * computed here from the generator's in-memory rows.
  */
object MusicGen {

  /** Traffic dimensions shared by every music workload. */
  val RowsPerFile = 11346
  val Genres = 114
  val GenreZipf = 1.1
  val Songs = 20000
  val SongZipf = 1.0
  val Users = 50000
  val Days = 28
  val MalformedTimeShare = 0.005
  val UnknownUserShare = 0.01

  final case class Song(id: String, genre: String, durationMs: Int)
  /** One stream row; `day < 0` marks an unparseable `listen_time`. */
  final case class Listen(user: Int, song: Int, day: Int, secOfDay: Int)

  final case class Dims(songs: Array[Song], users: Int, songsCsv: Array[Byte],
                        usersCsv: Array[Byte])

  val FirstDay: java.time.LocalDate = java.time.LocalDate.of(2025, 6, 1)
  def dayStr(d: Int): String = FirstDay.plusDays(d).toString

  /** Users past `users` are ids the users table does not hold. */
  def userId(u: Int): String = f"U$u%07d"

  def dims(rng: java.util.Random): Dims = {
    val genreCdf = Zipf.cdf(Genres, GenreZipf)
    val songs = Array.tabulate(Songs) { i =>
      Song(f"T$i%06d", f"g${Zipf.draw(genreCdf, rng)}%03d", 60000 + rng.nextInt(340000))
    }
    val sb = new StringBuilder("track_id,track_name,artists,popularity,duration_ms,track_genre\n")
    songs.zipWithIndex.foreach { case (s, i) =>
      sb.append(s.id).append(",song ").append(i).append(",artist ").append(i % 4000)
        .append(',').append(rng.nextInt(101)).append(',').append(s.durationMs)
        .append(',').append(s.genre).append('\n')
    }
    val ub = new StringBuilder("user_id,user_name,user_age,user_country,created_at\n")
    val countries = Array("US", "GB", "DE", "FR", "BR", "IN", "JP", "NG", "MX", "CA")
    (0 until Users).foreach { u =>
      ub.append(userId(u)).append(",user ").append(u).append(',').append(13 + rng.nextInt(68))
        .append(',').append(countries(rng.nextInt(countries.length)))
        .append(",2024-01-01 00:00:00\n")
    }
    Dims(songs, Users, sb.toString.getBytes(UTF_8), ub.toString.getBytes(UTF_8))
  }

  /** `files` stream files of `RowsPerFile` rows each. */
  def streams(files: Int, rng: java.util.Random): Array[Array[Listen]] = {
    val songCdf = Zipf.cdf(Songs, SongZipf)
    Array.fill(files) {
      Array.fill(RowsPerFile) {
        val user =
          if (rng.nextDouble() < UnknownUserShare) Users + rng.nextInt(Users)
          else rng.nextInt(Users)
        val day = if (rng.nextDouble() < MalformedTimeShare) -1 else rng.nextInt(Days)
        Listen(user, Zipf.draw(songCdf, rng), day, rng.nextInt(86400))
      }
    }
  }

  def streamCsv(rows: Array[Listen], dims: Dims): Array[Byte] = {
    val sb = new StringBuilder(rows.length * 40)
    sb.append("user_id,track_id,listen_time\n")
    rows.foreach { r =>
      sb.append(userId(r.user)).append(',').append(dims.songs(r.song).id).append(',')
      if (r.day < 0) sb.append("not-a-time-").append(r.secOfDay)
      else {
        val s = r.secOfDay
        sb.append(dayStr(r.day)).append(f" ${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d")
      }
      sb.append('\n')
    }
    sb.toString.getBytes(UTF_8)
  }

  /** Write songs.csv, users.csv and `streams/stream_NNNN.csv` under `dir`. */
  def writeAll(dir: Path, dims: Dims, files: Array[Array[Listen]]): Long = {
    Files.createDirectories(dir.resolve("streams"))
    Files.write(dir.resolve("songs.csv"), dims.songsCsv)
    Files.write(dir.resolve("users.csv"), dims.usersCsv)
    var bytes = dims.songsCsv.length.toLong + dims.usersCsv.length
    files.zipWithIndex.foreach { case (rows, i) =>
      val b = streamCsv(rows, dims)
      Files.write(dir.resolve(f"streams/stream_$i%04d.csv"), b)
      bytes += b.length
    }
    bytes
  }

  // ---- the independent model of the pipeline's outputs ----

  final case class Kpi(listens: Long, uniqueUsers: Long, totalMs: Long) {
    def avgMs: Double = totalMs.toDouble / listens
    def perUser: Double = totalMs.toDouble / uniqueUsers
  }

  final case class Expected(
      rowsIn: Long,
      malformed: Long,
      kpis: Map[(String, String), Kpi],               // (genre, day)
      topSongs: Map[(String, String), Seq[(String, Long)]], // rank order
      topGenres: Map[String, Seq[(String, Long)]],    // day → rank order
      items: Set[(String, String, String)])           // serving (pk, sk, value)

  /** CAST(CAST(avg AS DECIMAL(28,6)) AS STRING), the serving-value form. */
  def decimal6(d: Double): String =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).bigDecimal.toPlainString

  /** Per (genre, day) KPIs, top-3 songs and per-day top-5 genres. */
  def expected(dims: Dims, files: Iterable[Array[Listen]]): Expected = {
    var rowsIn, malformed = 0L
    val plays = mutable.HashMap.empty[(String, String, Int), Long] // (genre, day, song)
    val users = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    val total = mutable.HashMap.empty[(String, String), Long]
    files.foreach(_.foreach { r =>
      rowsIn += 1
      if (r.day < 0) malformed += 1
      else if (r.user < dims.users) { // unknown users drop out at the join
        val s = dims.songs(r.song)
        val g = (s.genre, dayStr(r.day))
        plays((s.genre, g._2, r.song)) = plays.getOrElse((s.genre, g._2, r.song), 0L) + 1
        users.getOrElseUpdate(g, mutable.HashSet.empty) += r.user
        total(g) = total.getOrElse(g, 0L) + s.durationMs
      }
    })
    val listens = plays.groupMapReduce(k => (k._1._1, k._1._2))(_._2)(_ + _)
    val kpis = listens.map { case (g, n) => g -> Kpi(n, users(g).size.toLong, total(g)) }
    val topSongs = plays.toSeq.groupBy(k => (k._1._1, k._1._2)).map { case (g, xs) =>
      g -> xs.map { case ((_, _, song), n) => (dims.songs(song).id, n) }
        .sortBy { case (id, n) => (-n, id) }.take(3)
    }
    val topGenres = listens.toSeq.groupBy(_._1._2).map { case (day, xs) =>
      day -> xs.map { case ((genre, _), n) => (genre, n) }
        .sortBy { case (genre, n) => (-n, genre) }.take(5)
    }
    val items = mutable.Set.empty[(String, String, String)]
    kpis.foreach { case ((genre, day), k) =>
      val pk = s"GENRE#$genre#DATE#$day"
      items += ((pk, "METRIC#listen_count", k.listens.toString))
      items += ((pk, "METRIC#unique_listeners", k.uniqueUsers.toString))
      items += ((pk, "METRIC#total_listening_time_ms", k.totalMs.toString))
      items += ((pk, "METRIC#avg_listening_time_ms", decimal6(k.avgMs)))
    }
    topSongs.foreach { case ((genre, day), xs) =>
      xs.zipWithIndex.foreach { case ((id, n), i) =>
        items += ((s"GENRE#$genre#DATE#$day", s"SONG#${i + 1}#$id", n.toString))
      }
    }
    topGenres.foreach { case (day, xs) =>
      xs.zipWithIndex.foreach { case ((genre, _), i) =>
        items += ((s"DATE#$day", s"GENRE_RANK#${i + 1}", genre))
      }
    }
    Expected(rowsIn, malformed, kpis, topSongs, topGenres, items.toSet)
  }
}

/** Zipf(s) over ranks 0..n-1 by inverse-CDF lookup. */
object Zipf {
  def cdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  def draw(cdf: Array[Double], rng: java.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }
}
