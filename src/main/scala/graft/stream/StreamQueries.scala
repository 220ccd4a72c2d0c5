package graft.stream

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming semantics exposed through the batch query contract: a
  * Structured Streaming file source run with `Trigger.AvailableNow`
  * against the fixture parquet, aggregated into a memory sink. The final
  * table must equal the batch aggregation — which is exactly what the
  * DuckDB oracle checks.
  */
object StreamQueries {

  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Scratch dir (sink/checkpoint/spool) registered for recursive
    * delete at JVM exit. Streaming scratch must outlive the returned
    * (lazy) DataFrame — the caller reads the sink after the query
    * returns — so inline deletion is impossible; but leaking an
    * event-sized parquet copy per invocation across Verify/Bench runs
    * is not acceptable either (r12 advice). Exit-hook deletion keeps
    * both properties: live for the session, gone with the JVM.
    */
  private[graft] def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(
      new Thread(() => graft.Fs.deleteTree(p.toString)))
    p.toString
  }

  // tuned-session cache: one clone per (parent session, partition
  // count). Clones share the SparkContext and differ only in
  // spark.sql.shuffle.partitions; reusing them keeps the per-app
  // session count bounded.
  private val tunedSessions =
    scala.collection.concurrent.TrieMap.empty[(Int, Int), SparkSession]

  private def bytesUnder(s: SparkSession, path: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    } catch { case _: Throwable => Long.MaxValue } // unknown ⇒ don't shrink

  /** Session for a streaming run, with the state/shuffle partition
    * count derived from the stream's input bytes (guide §2.2 applied to
    * streaming, which has NO AQE to do it automatically). Rationale: a
    * stateful micro-batch pays one state-store instance — open, commit,
    * delta file, maintenance — per `spark.sql.shuffle.partitions`,
    * EVERY batch, regardless of data volume; measured on the fixture
    * (`graft.Diag` per-batch durationMs) the stateful `addBatch` is
    * ~0.65 s at 8 state partitions vs ~1.8 s at 32 for identical input.
    * Batch queries are protected by AQE coalescing to
    * `advisoryPartitionSizeInBytes`; this applies the SAME sizing rule
    * at stream start:
    * partitions = clamp(inputBytes / advisory, 1, configured).
    * Scale-adaptive, not a local constant: once the input exceeds
    * advisory × configured (any real workload — at 100 TB/day the clamp
    * is always `configured`), the tuned session IS the parent session;
    * only provably tiny inputs shrink, and a listing failure falls back
    * to the parent. Correctness: every streaming aggregate in this file
    * is partitioning-invariant (mergeable sketches, additive counts,
    * keyed dedup), and each invocation runs against a FRESH checkpoint,
    * so no checkpoint ever sees two different state partition counts.
    */
  private[graft] def streamSession(s: SparkSession, inputPaths: String*): SparkSession = {
    val configured = s.conf.get("spark.sql.shuffle.partitions").toInt
    val advisory = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m"))
    val bytes = inputPaths.map(bytesUnder(s, _)).foldLeft(0L)((a, b) =>
      if (a + b < 0) Long.MaxValue else a + b) // saturating sum
    val p = math.min(configured.toLong,
      math.max(1L, (bytes + advisory - 1) / advisory)).toInt
    if (p >= configured) s
    else tunedSessions.getOrElseUpdate((System.identityHashCode(s), p), {
      // newSession() keeps only the builder/SparkConf confs: carry the
      // parent's runtime SQL confs over, then override the partitions
      val c = s.newSession()
      s.conf.getAll.foreach { case (k, v) => if (s.conf.isModifiable(k)) c.conf.set(k, v) }
      c.conf.set("spark.sql.shuffle.partitions", p.toString)
      c
    })
  }

  // decontamination-sketch memo: the adaptively-sized benchmark Bloom,
  // keyed on (app, fixture, w) + the benchmark slice's content
  // fingerprint — a mutated fixture re-sizes and re-builds; an
  // unchanged one pays only the fingerprint scan per serve. No pinned
  // frames (the value is driver-side bytes).
  private val deconMemo = scala.collection.concurrent.TrieMap
    .empty[String, graft.ext.ServingMemo.Entry[Array[Byte]]]

  /** The ingest-gate's benchmark sketch, built once per (benchmark
    * fingerprint, w): sizing measured from the benchmark's shingle
    * cardinality (see [[graft.ext.Dedup.adaptiveBenchmarkSketch]]).
    * Warm primes this memo so the gate's timed window measures only the
    * streamed probe, per the house cold-builds-to-build_sec rule.
    */
  private[graft] def deconSketch(s: SparkSession, d: String, w: Int = 5): Array[Byte] = {
    val bench = Tables.documents(s, d)
      .filter(pmod(col("doc_id"), lit(10)) === 0)
    val fp = graft.ext.Artifact.fingerprint(bench, col("doc_id"), col("text"))
    graft.ext.ServingMemo.cached(deconMemo,
      s"${s.sparkContext.applicationId}#$d#w=$w", fp) {
      graft.ext.ServingMemo.Entry(
        graft.ext.Dedup.adaptiveBenchmarkSketch(bench, w), Nil)
    }
  }

  private val CuratedValueSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType)))

  // curated-lifecycle memo: (root, spool, lmDir, wire schema) per
  // (app, fixture dir) — the Pca-memo staleness caveat applies (a
  // fixture dir rewritten mid-app needs a fresh session)
  private val curatedMemo = scala.collection.concurrent.TrieMap
    .empty[String, (String, String, String, org.apache.spark.sql.types.StructType)]

  // One lock per memo key: TrieMap.getOrElseUpdate can evaluate its
  // thunk concurrently, and this thunk has side effects (it deletes and
  // re-streams the shared non-temp root) — two racing callers would
  // interleave seed/ingest writes and corrupt the corpus (r10 advice).
  // putIfAbsent is atomic, so all callers of a key share one object.
  private val curatedLocks =
    scala.collection.concurrent.TrieMap.empty[String, AnyRef]
  private def curatedLockFor(key: String): AnyRef = {
    curatedLocks.putIfAbsent(key, new Object)
    curatedLocks(key)
  }

  /** A persisted lifecycle-done marker: the ingest lifecycles below are
    * DETERMINISTIC given the corpus (seed slice, spool content, and the
    * admission outcome are all pure functions of the documents table),
    * so a root left in the post-stream state by a previous app is
    * exactly the state this app would rebuild — rebuilding it per
    * session cost 12+ s of every bench warm phase for byte-identical
    * results. The marker records the input fingerprint; a fingerprint
    * mismatch (corpus changed), a missing spool, or a pending mutation
    * falls back to the full delete+seed+stream build.
    */
  private def lifecycleMarker(s: SparkSession, root: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$root/lifecycle_done")

  private def markerContent(s: SparkSession, root: String): Option[String] = {
    val p = lifecycleMarker(s, root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(fs.open(p)))
      try Option(in.readLine()).map(_.trim) finally in.close()
    }
  }

  private def writeMarker(s: SparkSession, root: String, fp: String): Unit = {
    val p = lifecycleMarker(s, root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(fp.getBytes("UTF-8")) finally out.close()
  }

  private def dirExists(s: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Build the curated-ingest lifecycle once per (app, fixture): reset
    * the root, seed it with the doc_id%10≠0 slice, shape the remaining
    * slice into Kafka wire rows IN-PLAN (two topic partitions keyed on
    * doc_id parity, offsets dense per partition via a row_number window
    * — the only shuffle, O(batch slice), the same (partition, offset)
    * assignment a broker hands a key-partitioning producer), spool them
    * to parquet, and stream them through the perplexity gate + the
    * exactly-once near-dup admission. Called from the warm phase so the
    * one-time build lands in `build_sec`; the registered query then
    * measures replay+serve against the returned root/spool. The
    * post-stream root + spool persist across apps under the lifecycle
    * marker, so a warm fixture pays one fingerprint scan, not a
    * rebuild.
    */
  def ensureCurated(s: SparkSession, d: String): (String, String, String,
      org.apache.spark.sql.types.StructType) = {
    val key = s"${s.sparkContext.applicationId}#$d"
    curatedMemo.get(key) match {
      case Some(v) => v
      case None => curatedLockFor(key).synchronized {
        ensureCuratedLocked(s, d, key)
      }
    }
  }

  // Runs under the per-key lock: at most one delete+seed+stream per key.
  private def ensureCuratedLocked(s: SparkSession, d: String, key: String):
      (String, String, String, org.apache.spark.sql.types.StructType) =
    curatedMemo.getOrElseUpdate(key, {
      import graft.ext.{Artifact, LanguageModel}
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val seed = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      val lmDir = LanguageModel.ensureLm(s, seed, s"${Artifact.root(d)}/unigram_lm_seed")
      val root = s"${Artifact.root(d)}/stream_curated"
      val spool = s"${Artifact.root(d)}/stream_curated_spool"
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("partition")).orderBy(col("doc_id"))
      val wire = batch
        .withColumn("partition", pmod(col("doc_id"), lit(2)).cast("int"))
        .select(
          encode(col("doc_id").cast("string"), "UTF-8").as("key"),
          encode(to_json(struct(col("doc_id"), col("text"))), "UTF-8").as("value"),
          lit("documents").as("topic"),
          col("partition"),
          (row_number().over(w) - 1).cast("long").as("offset"),
          lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("timestamp"),
          lit(0).as("timestampType"))
      val fp = s"curated ${Artifact.fingerprint(docs, col("doc_id"), col("text"))}"
      if (!markerContent(s, root).contains(fp) ||
          Artifact.hasPendingMutation(s, root) || !dirExists(s, spool)) {
        val rootPath = new org.apache.hadoop.fs.Path(root)
        rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
          .delete(rootPath, true)
        IncrementalIngest.init(s, seed, root)
        wire.write.mode("overwrite").parquet(spool)
        val ss = streamSession(s, spool, root)
        val wireStream = StreamSources.open(ss,
          FileSourceConfig(spool, "parquet", wire.schema))
        val ckpt = scratchDir("graft-curated-ckpt")
        val q = CuratedIngest.start(ss, KafkaWireSource(wireStream, CuratedValueSchema),
          ckpt, root, lmDir, maxMeanNll = 3.40625)
        q.awaitTermination()
        writeMarker(s, root, fp)
      }
      (root, spool, lmDir, wire.schema)
    })

  // streamed-media-ingest lifecycle memo: (root, spool, spool schema)
  // per (app, fixture dir) — same locking discipline as the curated
  // memo (the thunk deletes and re-streams a shared non-temp root)
  private val mediaIngestMemo = scala.collection.concurrent.TrieMap
    .empty[String, (String, String, org.apache.spark.sql.types.StructType)]

  /** Build the streamed media-ingest lifecycle once per (app, fixture):
    * reset the root, seed the [[graft.ext.MediaFeatures]] store with
    * the doc_id%10≠0 slice (ONE decode pass — warm cost), spool
    * tonight's tri-modal arrivals (the %10=0 slice plus the planted
    * degenerate/dup/re-render payloads) to parquet, and stream them
    * through the quality gate + dedup screen + store append
    * ([[MediaIngest]]). Called from the warm phase so the one-time
    * build lands in `build_sec`; the registered query then re-delivers
    * the full spool against the built root through a fresh checkpoint
    * — the replay-storm serving shape, in which the membership probe
    * and rejection ledger must no-op every re-sent arrival without
    * touching payload bytes.
    */
  def ensureMediaIngest(s: SparkSession, d: String): (String, String,
      org.apache.spark.sql.types.StructType) = {
    val key = s"${s.sparkContext.applicationId}#$d#media"
    mediaIngestMemo.get(key) match {
      case Some(v) => v
      case None => curatedLockFor(key).synchronized {
        mediaIngestMemo.getOrElseUpdate(key, {
          import graft.ext.{Artifact, MediaFeatures}
          val docs = Tables.documents(s, d).select(col("doc_id"))
          val root = s"${Artifact.root(d)}/stream_media"
          val spool = s"${Artifact.root(d)}/stream_media_spool"
          val arrivals = MediaIngest.fixtureArrivals(s, docs)
          val fp = s"media ${Artifact.fingerprint(docs, col("doc_id"))}"
          if (!markerContent(s, root).contains(fp) ||
              Artifact.hasPendingMutation(s, root) || !dirExists(s, spool)) {
            val rootPath = new org.apache.hadoop.fs.Path(root)
            rootPath.getFileSystem(s.sparkContext.hadoopConfiguration)
              .delete(rootPath, true)
            MediaFeatures.ensure(s,
              docs.filter(pmod(col("doc_id"), lit(10)) =!= 0), root)
            arrivals.write.mode("overwrite").parquet(spool)
            val ss = streamSession(s, spool, root)
            val ckpt = scratchDir("graft-media-ingest-ckpt")
            val q = MediaIngest.start(ss,
              FileSourceConfig(spool, "parquet", arrivals.schema), ckpt, root)
            q.awaitTermination()
            writeMarker(s, root, fp)
          }
          (root, spool, arrivals.schema)
        })
      }
    }
  }

  /** Fixture events as a stream, through the [[StreamSources]] seam (a
    * file config here; a Kafka config on a cluster with the connector).
    * Raw on-disk schema (ts as nanos-long under nanosAsLong=true),
    * normalized inside the stream like the batch path does; the
    * pathGlobFilter is the S6-style name predicate.
    */
  private val schemaCache =
    scala.collection.concurrent.TrieMap.empty[(String, Long), org.apache.spark.sql.types.StructType]

  private def eventsStream(s: SparkSession, d: String): DataFrame = {
    // footer read once per fixture dir (stream_dedup_counts opens two
    // source instances of the same path); keyed by (dir, mtime) so a
    // fixture regenerated within one JVM doesn't serve a stale schema
    val src = new java.io.File(s"$d/events.parquet")
    val rawSchema = schemaCache.getOrElseUpdate((d, src.lastModified),
      s.read.parquet(s"$d/events.parquet").schema)
    // layout seam: the driver fixture ships events.parquet as a single
    // FILE in the table dir (the S6 name-predicate shape — glob-filter
    // the directory), but a written table (ScaleUp's scale fixtures,
    // any real pipeline output) is a DIRECTORY of part files, where
    // the same glob matches nothing and the stream silently reads 0
    // rows — stream the directory itself there
    val cfg =
      if (src.isDirectory)
        FileSourceConfig(s"$d/events.parquet", "parquet", rawSchema)
      else
        FileSourceConfig(d, "parquet", rawSchema,
          Map("pathGlobFilter" -> "events.parquet"))
    Tables.normalizeEvents(StreamSources.open(s, cfg))
  }

  /** Fixture documents as a stream, same dual-layout seam as
    * [[eventsStream]] (single-file fixture → glob filter; written
    * part-file directory → stream the directory).
    */
  private def documentsStream(s: SparkSession, d: String): DataFrame = {
    val src = new java.io.File(s"$d/documents.parquet")
    val rawSchema = schemaCache.getOrElseUpdate((s"$d/documents.parquet", src.lastModified),
      s.read.parquet(s"$d/documents.parquet").schema)
    val cfg =
      if (src.isDirectory)
        FileSourceConfig(s"$d/documents.parquet", "parquet", rawSchema)
      else
        FileSourceConfig(d, "parquet", rawSchema,
          Map("pathGlobFilter" -> "documents.parquet"))
    StreamSources.open(s, cfg)
  }

  /** Shared KMV day-aggregation over the event stream: one O(k)
    * mergeable buffer per day in the state store, regardless of stream
    * length. Null user ids are excluded EXPLICITLY: the udaf's
    * primitive Long encoder would coerce a null hash to 0L and
    * silently admit it to the sketch, while the batch twin / DuckDB
    * oracle keep NULL out of md5 — the predicate pins the semantics on
    * both sides instead of relying on the fixture having no nulls.
    */
  private def kmvDailyAgg(s: SparkSession, d: String): DataFrame = {
    val kmv = udaf(graft.functions.KmvAggregator(32),
      org.apache.spark.sql.Encoders.scalaLong)
    eventsStream(s, d)
      .filter(col("user_id").isNotNull)
      .select(to_date(col("ts")).as("date"),
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .groupBy(col("date"))
      .agg(count(lit(1)).as("n_events"), kmv(col("h")).as("s"))
  }

  /** Serve projection over (date, n_events, s): the half-up integral
    * KMV estimate — (k−1)·2⁶¹ 128-bit carrier, same literal the a9
    * batch twin and the oracle use.
    */
  private def kmvServe(df: DataFrame): DataFrame = {
    val num2 = (BigInt(31) * BigInt(2).pow(61)).toString
    df.select(col("date").cast("string").as("date"), col("n_events"),
        col("s._1").as("uniq_seen"),
        when(col("s._1") < 32, col("s._1"))
          .otherwise(expr(
            s"CAST((CAST('$num2' AS DECIMAL(38,0)) + s._2) DIV (2 * s._2) AS BIGINT)"))
          .as("uniq_kmv"))
      .orderBy(col("date"))
  }

  /** Shared fixed-grid value-histogram aggregation over the event
    * stream ($1 integer bins off the cent grid): per-day state is
    * bounded by the VALUE RANGE, not the stream length, and needs no
    * min/max pre-pass — the property that makes it stream at all.
    * Non-negative values only: integral division on negatives
    * truncates in Spark but floors in DuckDB, so the sign guard is
    * part of the replayed semantics.
    */
  private def valueBinsAgg(s: SparkSession, d: String): DataFrame =
    eventsStream(s, d)
      .filter(col("value").isNotNull && col("value") >= 0)
      .select(to_date(col("ts")).as("date"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT) div 100").as("bin"))
      .groupBy(col("date"), col("bin"))
      .agg(count(lit(1)).as("cnt"))

  /** Shared per-day count-min-sketch cell aggregation over the event
    * stream: each event increments d=4 cells keyed by disjoint md5
    * bytes of its user id — state per day is AT MOST d·w = 1024 cells
    * no matter how many distinct users flow through, the frequency
    * member of the streaming-sketch triad (KMV = uniques, fixed-grid
    * histogram = quantiles, CMS = per-key counts). Cell counts merge
    * by addition across micro-batches, so the sketch is
    * order-insensitive and batch-replayable. Null user ids excluded
    * explicitly, same contract as [[kmvDailyAgg]].
    */
  private def cmsDailyCellsAgg(s: SparkSession, d: String): DataFrame =
    eventsStream(s, d)
      .filter(col("user_id").isNotNull)
      .select(to_date(col("ts")).as("date"),
        posexplode(graft.functions.native.cms_buckets(
          col("user_id").cast("string"), 4)).as(Seq("row_i", "bucket")))
      .groupBy(col("date"), col("row_i"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Point-query serving over a finished per-day CMS cell table:
    * probe the d cells of each candidate key, estimate = min. The
    * candidate list here is the per-day exact top-10 users from the
    * batch table — in production it comes from the candidate layer
    * (yesterday's report, a Misra–Gries pass); probing with the exact
    * top-k also certifies the CMS overestimate-only invariant in-data
    * (`overest >= 0` on every row). Cells are broadcast (≤ 1024/day);
    * the probe never shuffles the sketch.
    */
  private def cmsServe(s: SparkSession, d: String, cells: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .filter(col("user_id").isNotNull)
      .select(to_date(col("ts")).as("date"),
        col("user_id").cast("string").as("user_id"))
    val exact = ev.groupBy(col("date"), col("user_id"))
      .agg(count(lit(1)).as("n_exact"))
    val top = exact
      .withColumn("r", row_number().over(Window.partitionBy(col("date"))
        .orderBy(col("n_exact").desc, col("user_id").asc)))
      .filter(col("r") <= 10) // rank filter rides WindowGroupLimit
      .drop("r")
    val probes = top.select(col("date"), col("user_id"), col("n_exact"),
      posexplode(graft.functions.native.cms_buckets(col("user_id"), 4))
        .as(Seq("row_i", "bucket")))
    probes.join(broadcast(cells), Seq("date", "row_i", "bucket"))
      .groupBy(col("date"), col("user_id"), col("n_exact"))
      .agg(min(col("c")).as("n_est"))
      .select(col("date").cast("string").as("date"), col("user_id"),
        col("n_exact"), col("n_est"),
        (col("n_est") - col("n_exact")).as("overest"))
      .orderBy(col("date"), col("n_exact").desc, col("user_id"))
  }

  /** UPDATE-mode streaming aggregation → keyed parquet upsert log:
    * each micro-batch appends only its updated group rows, stamped
    * with the batch id (the K5 last-write-wins pattern). Factored out
    * of the registered queries so [[graft.stream]]'s spec can drive it
    * with a MemoryStream across MULTIPLE micro-batches — the
    * single-batch AvailableNow gate shape never exercises
    * last-write-wins on its own.
    */
  def upsertStart(agg: DataFrame, store: String, ckpt: String,
                  availableNow: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = agg.writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(store)
        ()
      }
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** Last-write-wins snapshot of an upsert log: for each key the row
    * from the newest batch. `max(struct(batch_id, payload…))` is
    * map-side combinable; batch_id leads the struct so it alone decides
    * (a streaming agg emits one row per key per batch — no ties).
    */
  def upsertSnapshot(s: SparkSession, store: String,
                     keys: Seq[String]): DataFrame = {
    val log = s.read.parquet(store)
    val payload = log.columns.toSeq
      .filterNot(c => keys.contains(c) || c == "batch_id")
    log.groupBy(keys.map(col): _*)
      .agg(max(struct((Seq("batch_id") ++ payload).map(col): _*)).as("m"))
      .select(keys.map(col) ++ payload.map(c => col(s"m.$c").as(c)): _*)
  }

  /** Quantile assembly over a final (date, bin, cnt) table: cumulative
    * + total counts as windows over the same frame (same-view
    * self-joins hit conflicting attribute ids — and this is exactly
    * the oracle's shape), then the a17 half-step integral
    * interpolation at p50/p95.
    */
  private def quantileServe(s: SparkSession, binCounts: DataFrame): DataFrame = {
    val cum = binCounts
      .withColumn("cum",
        sum(col("cnt")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("date")).orderBy(col("bin"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("date"))))
    val pp = { import s.implicits._
      Seq((1, 2, "1/2"), (95, 100, "95/100")).toDF("pn", "pd", "p") }
    cum.crossJoin(broadcast(pp))
      .withColumn("r", expr("(n * pn + pd - 1) div pd")) // ceil(p·n)
      .filter(col("cum") >= col("r"))
      .groupBy(col("date"), col("p"))
      .agg(min(struct(col("bin"), col("cnt"), col("cum"), col("n"),
        col("r"))).as("s"))
      .select(col("date").cast("string").as("date"), col("p"),
        col("s.n").as("n"),
        expr("s.bin * 100 + (100 * (2 * (s.r - (s.cum - s.cnt)) - 1)) div (2 * s.cnt)")
          .as("est_u"))
      .withColumn("est_value", col("est_u").cast("double") / lit(100.0))
      .orderBy(col("date"), col("p"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.9 × multimodal: STREAMED media ingestion gate — media arrives
    // as a `(doc_id, media)` parquet stream (the landing-zone shape:
    // small media compacted into container files; the per-doc `.bin`
    // file-stream variant measured 8.6 s of source-log bookkeeping
    // alone at sf0.1 vs this path's sub-second),
    // each payload decoded with the REAL P6 parse inside the
    // micro-batch (pure map, no state), malformed arrivals quarantined
    // into a width=−1 bucket instead of failing the stream (the P7
    // cast-or-null discipline at the stream boundary; the spool plants
    // a truncated payload every 97th doc so the quarantine path
    // carries real traffic). The parquet sink keeps the driver flat;
    // per-row decode + associative aggregation make the result
    // batching-invariant, so the final table hash-equals the batch
    // formula replay — decode certification THROUGH the streaming
    // path.
    "stream_media_gate" -> ((s0, d) => {
      val spool = graft.ext.Multimodal.ensureMediaGateSpool(s0, d)
      val s = streamSession(s0, spool)
      val out = scratchDir("graft-media-sink")
      val ckpt = scratchDir("graft-media-ckpt")
      import org.apache.spark.sql.types._
      val spoolSchema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("media", BinaryType)))
      val q = s.readStream.schema(spoolSchema).parquet(spool)
        .select(col("doc_id"),
          graft.functions.native.ppm_decode_stats(col("media")).as("dec"))
        .select(col("doc_id"),
          coalesce(col("dec.width"), lit(-1L)).as("width"),
          coalesce(col("dec.r_sum"), lit(0L)).as("r_sum"))
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // serve from the PARENT session: the post-stream batch reads get
      // AQE's own partition sizing, not the stream's state-store tuning
      s0.read.parquet(out)
        .groupBy(col("width"))
        .agg(count(lit(1)).as("n_docs"), sum(col("r_sum")).as("total_r"))
        .orderBy(col("width"))
    }),

    // §2.9 × multimodal: STREAMED media-feature ingestion end to end —
    // the media analog of stream_curated_corpus. Tonight's tri-modal
    // payload arrivals (the %10=0 slice + planted degenerate /
    // duplicate / re-rendered payloads) stream against a store seeded
    // with the %10≠0 slice: each micro-batch is decoded ONCE, gated by
    // the seven quality flags (fail-closed), near-dup-screened against
    // the store and within the batch (two equi tiers, never an
    // OR-join), and survivors append to the decode-once feature store
    // in O(batch). The lifecycle build runs in the warm phase; each
    // query invocation RE-DELIVERS the full spool through a fresh
    // checkpoint — the replay-storm shape, in which the membership
    // probe + rejection ledger must no-op every re-sent arrival
    // WITHOUT touching payload bytes. Output is the final store's
    // certifiable projection; the oracle replays admission (gate flags
    // + the mod-65536 content-identity rule) and the stored features
    // from the generative formulas, so a hash match certifies the
    // whole streamed decode→gate→dedup→append chain.
    "stream_media_corpus" -> ((s0, d) => {
      val (root, spool, schema) = ensureMediaIngest(s0, d)
      val s = streamSession(s0, spool, root)
      val ckpt = scratchDir("graft-media-corpus-ckpt")
      val q = MediaIngest.start(s, FileSourceConfig(spool, "parquet", schema),
        ckpt, root)
      q.awaitTermination()
      graft.ext.MediaFeatures.features(s0, root)
        .select(col("doc_id"), col("img_w"), col("img_h"), col("dhash"),
          col("a_frames"), col("a_fp"), col("v_frames"))
        .orderBy(col("doc_id"))
    }),

    // §2.9: incremental file-source micro-batching; complete-mode agg.
    "stream_daily_counts" -> ((s0, d) => {
      val s = streamSession(s0, s"$d/events.parquet")
      val name = s"stream_daily_counts_${counter.incrementAndGet()}"
      val q = eventsStream(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          Tables.dsum(col("value")).as("total_value"))
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name).orderBy(col("event_type"))
    }),

    // §2.9 exactly-once under at-least-once delivery: the stream is
    // unioned with itself (every event delivered twice) and
    // dropDuplicatesWithinWatermark must collapse it back — the memory
    // sink then equals the batch DISTINCT aggregate, which is what the
    // oracle checks. Only count is aggregated (which duplicate survives
    // is arbitrary for non-key columns).
    "stream_dedup_counts" -> ((s0, d) => {
      val s = streamSession(s0, s"$d/events.parquet")
      // FILE sink, not memory: the deduped stream is event-sized, and a
      // memory sink materializes every row on the driver — measured as
      // a driver OOM at the 100× fixture. A parquet sink keeps the
      // driver flat (the shape a real deployment has), and the counts
      // aggregate over the sink afterwards; dedup state itself stays
      // per-partition in the state store either way.
      val out = scratchDir("graft-dedup-sink")
      val ckpt = scratchDir("graft-dedup-ckpt")
      val q = Sessions.dedupExactlyOnce(
          eventsStream(s, d).union(eventsStream(s, d)),
          Seq("user_id", "ts", "event_type"))
        .select(col("event_type")) // sink carries only the count key
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s0.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }),

    // §2.9 event-time tumbling windows through the stream: watermarked
    // window() aggregation (complete mode so the final table includes
    // every window — append under AvailableNow would hold back the last
    // watermark-open window, which is exactly the semantics the
    // SessionsSpec late-data tests pin).
    "stream_windowed_counts" -> ((s0, d) => {
      val s = streamSession(s0, s"$d/events.parquet")
      val name = s"stream_windowed_counts_${counter.incrementAndGet()}"
      val q = eventsStream(s, d)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("value")).as("total_value"))
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name)
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy(col("win_start"), col("event_type"))
    }),

    // §2.9 stream-static join: each micro-batch broadcast-enriched
    // against a static dimension — the streaming mirror of the J1 batch
    // enrichment (the dim is re-read per batch by Spark; broadcast keeps
    // the stream side unshuffled, so at 100 TB/day the only stateful
    // shuffle is the final aggregation).
    "stream_enrich_counts" -> ((s0, d) => {
      val s = streamSession(s0, s"$d/events.parquet")
      val name = s"stream_enrich_counts_${counter.incrementAndGet()}"
      val dim = broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment")))
      val q = eventsStream(s, d)
        .join(dim, col("user_id") === col("c_custkey"), "left")
        .groupBy(coalesce(col("c_mktsegment"), lit("<unknown>")).as("segment"))
        .agg(count(lit(1)).as("n"), Tables.dsum(col("value")).as("total_value"))
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name).orderBy(col("segment"))
    }),

    // §2.9 sessionization via the BUILT-IN session_window — the
    // compose-first counterpart of the custom flatMapGroupsWithState
    // path (stream_sessionize): when gap-window semantics are exactly
    // what's needed, the native operator gets merge-on-update session
    // state and watermark eviction for free. Custom state remains for
    // semantics session_window can't express (per-session custom
    // payloads, early emission rules).
    "session_window_counts" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts"))
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_timestamp(col("w.start")).as("start_sec"),
          unix_timestamp(col("w.end")).as("end_sec"),
          col("n_events"))
        .orderBy(col("user_id"), col("start_sec"))),

    // The event-driven curated-corpus lifecycle — the reference's
    // defining arrival→pipeline shape (dags/etl_pipeline_dag.py:48-63)
    // applied to training-data curation: the batch slice (doc_id%10==0)
    // rides Kafka's WIRE schema through the same payload projection a
    // real topic uses ([[KafkaWireSource]]), each micro-batch passes
    // the perplexity gate (unigram LM trained on the SEED corpus,
    // threshold 3.40625 — dyadic, so the `<=` compare is portable) and
    // the full exactly-once + near-dup admission, and the result table
    // is the corpus store the run serves. The seed→spool→stream build
    // runs ONCE per (app, fixture) — [[ensureCurated]], charged to the
    // warm phase like every other artifact build — and each query
    // invocation then RE-DELIVERS the full wire spool against the built
    // root through a fresh checkpoint: the replay-storm serving shape,
    // in which the exactly-once admission (content-level, pinned by
    // KafkaContractSpec/CuratedIngestSpec) must no-op every re-sent
    // record, leaving the corpus byte-identical. Output is therefore
    // deterministic per fixture regardless of invocation count, and the
    // measured cost is steady-state replay+serve, not the one-time
    // lifecycle reset. Transport stays fully distributed: wire rows are
    // shaped in-plan, spooled to parquet, and streamed via the file
    // source — only the network fetch is substituted vs a real broker.
    "stream_curated_corpus" -> ((s0, d) => {
      val (root, spool, lmDir, wireSchema) = ensureCurated(s0, d)
      val s = streamSession(s0, spool, root)
      val wireStream = StreamSources.open(s,
        FileSourceConfig(spool, "parquet", wireSchema))
      val ckpt = scratchDir("graft-curated-ckpt")
      val q = CuratedIngest.start(s, KafkaWireSource(wireStream, CuratedValueSchema),
        ckpt, root, lmDir, maxMeanNll = 3.40625)
      q.awaitTermination()
      IncrementalIngest.corpus(s0, root).orderBy(col("doc_id"))
    }),

    // §2.9 + the sketch family: bounded-memory approximate distinct in
    // a STREAM. Neither distinct() nor rank windows compose with a
    // streaming aggregation, but the KMV k-min buffer is a mergeable
    // typed Aggregator, so per-day unique users serve from O(k) state
    // per group regardless of stream length — the shape a 100 TB
    // event stream needs. Deterministic at any batch split / arrival
    // order (the buffer is a pure function of the input set), so the
    // complete-mode table hash-matches the batch oracle: same md5
    // 60-bit hashes, same k-th order statistic, same half-up integral
    // estimate as a9_kmv_distinct.
    "stream_kmv_daily" -> ((s0, d) => {
      val s = streamSession(s0, s"$d/events.parquet")
      val name = s"stream_kmv_daily_${counter.incrementAndGet()}"
      val q = kmvDailyAgg(s, d)
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      kmvServe(s.table(name))
    }),

    // The DEPLOYMENT shape of the same sketch (r12 verdict #4):
    // complete mode re-emits the whole result table every batch and a
    // memory sink holds it on the driver — per-day cardinality grows
    // with TIME, so both costs grow forever in a long-running app.
    // Here the identical streaming aggregation runs in UPDATE mode
    // through foreachBatch: each micro-batch appends only its UPDATED
    // day rows (stamped with the batch id) to a keyed parquet upsert
    // log — the K5 pattern — and serving keeps each day's newest row.
    // Driver memory stays flat, per-batch sink I/O is O(days touched
    // by the batch), and the final table provably equals the
    // complete-mode one: same oracle, hash-compared.
    "stream_kmv_update" -> ((s0, d) => {
      val s = streamSession(s0, s"$d/events.parquet")
      val store = scratchDir("graft-kmv-upsert")
      val ckpt = scratchDir("graft-kmv-upsert-ckpt")
      upsertStart(kmvDailyAgg(s, d), store, ckpt).awaitTermination()
      kmvServe(upsertSnapshot(s0, store, Seq("date")))
    }),

    // §2.9 + the quantile-sketch family in a STREAM: per-day p50/p95
    // of event value from a FIXED-grid integer histogram (bin = cents
    // div 100, i.e. $1 bins). The fixed grid is the point: a17's
    // equi-width-by-range bins need a min/max pre-pass, which doesn't
    // stream — a data-independent grid needs none, and per-day state
    // is bounded by the VALUE RANGE (~561 live bins here), not the
    // stream length. Bin counts merge by addition across batches, the
    // quantile is the same half-step integral interpolation as a17,
    // and everything is integer-exact, so the streaming table
    // hash-matches the batch DuckDB replay. Non-negative values only
    // (the fixture's domain): integral division on negatives truncates
    // in Spark but floors in DuckDB, so the sign guard is part of the
    // replayed semantics.
    "stream_value_quantiles" -> ((s0, d) => {
      val s = streamSession(s0, s"$d/events.parquet")
      val name = s"stream_value_quantiles_${counter.incrementAndGet()}"
      val q = valueBinsAgg(s, d)
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      quantileServe(s, s.table(name))
    }),

    // Deployment shape of the fixed-grid quantile sketch, mirroring
    // stream_kmv_update: UPDATE-mode foreachBatch appends only the
    // (date, bin) rows each micro-batch changed to a keyed parquet
    // upsert log; serving keeps each key's newest row and assembles
    // the same integral quantiles. State per batch emission is O(bins
    // touched), driver stays flat, result hash-equals the
    // complete-mode twin (same oracle).
    "stream_quantiles_update" -> ((s0, d) => {
      val s = streamSession(s0, s"$d/events.parquet")
      val store = scratchDir("graft-quant-upsert")
      val ckpt = scratchDir("graft-quant-upsert-ckpt")
      upsertStart(valueBinsAgg(s, d), store, ckpt).awaitTermination()
      quantileServe(s0, upsertSnapshot(s0, store, Seq("date", "bin")))
    }),

    // Third streaming sketch — per-key FREQUENCIES: a per-day
    // count-min sketch over user ids, maintained incrementally in
    // UPDATE mode through the same keyed upsert log (keys =
    // (date, row_i, bucket), ≤ 1024 live cells per day regardless of
    // user cardinality). Serving probes the snapshot with the day's
    // top-10 candidate keys; estimates (and the overestimate-only
    // invariant) hash-match the full batch SQL replay of the sketch,
    // cell for cell.
    "stream_cms_update" -> ((s0, d) => {
      val s = streamSession(s0, s"$d/events.parquet")
      val store = scratchDir("graft-cms-upsert")
      val ckpt = scratchDir("graft-cms-upsert-ckpt")
      upsertStart(cmsDailyCellsAgg(s, d), store, ckpt).awaitTermination()
      cmsServe(s0, d, upsertSnapshot(s0, store, Seq("date", "row_i", "bucket")))
    }),

    // Decontamination AT INGEST TIME: the benchmark's fixed-size Bloom
    // sketch is a static artifact built once batch-side; every
    // micro-batch of the document stream probes it per row (the
    // codegen'd `exists` over 5-gram shingle hashes — no join, no
    // state), contaminated docs never reach the sink. Exactly-once
    // comes from the parquet FileStreamSink's own commit log, no
    // manual manifest. Per-doc deterministic gate ⇒ the final corpus
    // is batching-invariant, so it hash-matches the batch
    // decontamination answer (same oracle as `decontaminate_bloom`).
    "stream_decon_corpus" -> ((s0, d) => {
      // The sketch is a static batch-side ARTIFACT — built once per
      // (benchmark fingerprint, w) via the session memo (the LM/NB
      // serving-memo discipline) and served to every invocation; its
      // cardinality-measurement pass + Bloom build are a cold build
      // cost, charged to Warm/build_sec, not to the timed gate.
      val sk = deconSketch(s0, d)
      val s = streamSession(s0, s"$d/documents.parquet")
      val out = scratchDir("graft-decon-sink")
      val ckpt = scratchDir("graft-decon-ckpt")
      val corpus = documentsStream(s, d)
        .filter(pmod(col("doc_id"), lit(10)) =!= 0)
      val clean =
        if (sk == null) corpus.select(col("doc_id"), col("n_chars"))
        else corpus
          .filter(!exists(graft.ext.Dedup.shingleHashes(col("text"), 5),
            h => graft.functions.native.bloom_might_contain(sk, h)))
          .select(col("doc_id"), col("n_chars"))
      val q = clean.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s0.read.parquet(out).orderBy(col("doc_id"))
    }),

    // §2.9 stateful: flatMapGroupsWithState gap-sessionization. Run here
    // in batch mode — Spark supports the same operator on batch Datasets
    // (state starts empty), and a single-batch streaming run provably
    // emits the identical closed-session set (all but each user's last;
    // cross-batch state is what SessionsSpec exercises with
    // MemoryStream). The oracle reproduces the emitted set with
    // lag/cumsum window SQL. Timestamps truncated to seconds on both
    // sides so ns-vs-µs precision cannot skew the arithmetic.
    "stream_sessionize" -> ((s, d) => {
      import s.implicits._
      val ev = Tables.events(s, d)
        .select(col("user_id"), date_trunc("second", col("ts")).as("ts"),
          col("event_type"))
        .as[Sessions.Event]
      Sessions.sessionize(ev, java.time.Duration.ofMinutes(30))
        .select(col("user_id"),
          unix_timestamp(col("session_start")).as("start_sec"),
          unix_timestamp(col("session_end")).as("end_sec"),
          col("n_events").cast("long").as("n_events"),
          col("duration_sec"))
        .orderBy(col("user_id"), col("start_sec"))
    })
  )

  // The streaming KMV table replayed in batch SQL: identical md5
  // 60-bit hashes, identical k-th order statistic over the distinct
  // hash set, identical half-up HUGEINT estimate — determinism of
  // the sketch buffer is what makes a STREAMING aggregate
  // hash-comparable at all. Shared verbatim by the complete-mode and
  // the update-mode upsert-log variant: the deployment shape must
  // produce the IDENTICAL table.
  private val KmvDailyOracle: String =
    """WITH dh AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS date,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)
        |      AS BIGINT) AS h
        |  FROM events WHERE user_id IS NOT NULL
        |), r AS (
        |  SELECT date, h,
        |    ROW_NUMBER() OVER (PARTITION BY date ORDER BY h) AS rn
        |  FROM dh
        |), g AS (
        |  SELECT date, CAST(COUNT(*) AS BIGINT) AS uniq,
        |    MAX(CASE WHEN rn = 32 THEN h END) AS hk
        |  FROM r GROUP BY 1
        |), ev AS (
        |  SELECT CAST(ts AS DATE) AS date, CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1
        |)
        |SELECT CAST(g.date AS VARCHAR) AS date, ev.n_events,
        |  CAST(LEAST(g.uniq, 32) AS BIGINT) AS uniq_seen,
        |  CASE WHEN g.uniq < 32 THEN g.uniq
        |       ELSE CAST((CAST('71481133285624512512' AS HUGEINT) + hk)
        |                 // (2 * hk) AS BIGINT)
        |  END AS uniq_kmv
        |FROM g JOIN ev ON g.date = ev.date
        |ORDER BY date""".stripMargin

  // Fixed-grid histogram quantiles replayed in batch SQL: identical
  // $1 integer bins (floor on both sides — DuckDB's double→BIGINT
  // cast rounds, Spark's truncates), identical integral
  // rank/interpolation; `>= 0` is part of the semantics (integral
  // division on negatives truncates in Spark, floors in DuckDB).
  // Shared verbatim by the complete-mode and update-mode variants.
  private val ValueQuantilesOracle: String =
    """WITH b AS (
        |  SELECT CAST(ts AS DATE) AS date,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) // 100 AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM events
        |  WHERE value IS NOT NULL AND value >= 0
        |  GROUP BY 1, 2
        |), cm AS (
        |  SELECT *, CAST(SUM(cnt) OVER (PARTITION BY date ORDER BY bin
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum,
        |    CAST(SUM(cnt) OVER (PARTITION BY date) AS BIGINT) AS n
        |  FROM b
        |), pp AS (
        |  SELECT 1 AS pn, 2 AS pd, '1/2' AS p
        |  UNION ALL SELECT 95, 100, '95/100'
        |), pick AS (
        |  SELECT cm.date, pp.p, cm.n,
        |    (min(struct_pack(b := cm.bin, ct := cm.cnt, cu := cm.cum))).b
        |      AS bin,
        |    (min(struct_pack(b := cm.bin, ct := cm.cnt, cu := cm.cum))).ct
        |      AS cnt,
        |    (min(struct_pack(b := cm.bin, ct := cm.cnt, cu := cm.cum))).cu
        |      AS cum,
        |    (cm.n * pp.pn + pp.pd - 1) // pp.pd AS r
        |  FROM cm CROSS JOIN pp
        |  WHERE cm.cum >= (cm.n * pp.pn + pp.pd - 1) // pp.pd
        |  GROUP BY 1, 2, 3, r
        |)
        |SELECT CAST(date AS VARCHAR) AS date, p, n,
        |  bin * 100 + (100 * (2 * (r - (cum - cnt)) - 1)) // (2 * cnt)
        |    AS est_u,
        |  (bin * 100 + (100 * (2 * (r - (cum - cnt)) - 1)) // (2 * cnt))
        |    / 100.0 AS est_value
        |FROM pick
        |ORDER BY date, p""".stripMargin

  // The per-day CMS replayed cell-for-cell in batch SQL: same md5
  // hex-pair buckets (strpos arithmetic here, the native byte kernel
  // on the Spark side — bit-identical by construction), same
  // (date, row_i, bucket) cell counts, same min-over-rows estimates
  // for the same per-day top-10 candidate keys. The streaming sketch
  // is order-insensitive (cells merge by addition), which is what
  // makes an UPDATE-mode aggregate hash-comparable to a batch replay.
  private val CmsDailyOracle: String =
    """WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS date, CAST(user_id AS VARCHAR) AS user_id
        |  FROM events WHERE user_id IS NOT NULL
        |), entries AS (
        |  SELECT date, i AS row_i,
        |    (strpos('0123456789abcdef', substr(md5(user_id), 2*i+1, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(md5(user_id), 2*i+2, 1)) - 1)
        |      AS bucket
        |  FROM ev CROSS JOIN generate_series(0, 3) AS g(i)
        |), sketch AS (
        |  SELECT date, row_i, bucket, COUNT(*) AS c
        |  FROM entries GROUP BY 1, 2, 3
        |), exact AS (
        |  SELECT date, user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
        |  FROM ev GROUP BY 1, 2
        |), top AS (
        |  SELECT date, user_id, n_exact,
        |    ROW_NUMBER() OVER (PARTITION BY date
        |      ORDER BY n_exact DESC, user_id) AS r
        |  FROM exact
        |), probes AS (
        |  SELECT date, user_id, n_exact, i AS row_i,
        |    (strpos('0123456789abcdef', substr(md5(user_id), 2*i+1, 1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(md5(user_id), 2*i+2, 1)) - 1)
        |      AS bucket
        |  FROM top CROSS JOIN generate_series(0, 3) AS g(i)
        |  WHERE r <= 10
        |)
        |SELECT CAST(p.date AS VARCHAR) AS date, p.user_id, p.n_exact,
        |  CAST(MIN(s.c) AS BIGINT) AS n_est,
        |  CAST(MIN(s.c) - p.n_exact AS BIGINT) AS overest
        |FROM probes p JOIN sketch s USING (date, row_i, bucket)
        |GROUP BY 1, 2, 3
        |ORDER BY date, n_exact DESC, user_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // Streamed media gate replay: the generative P6 formula gives every
    // clean doc's width and red-channel sum; the planted corrupt set is
    // exactly doc_id % 97 = 0 (truncated at stage time), which lands in
    // the width=−1 quarantine bucket with zero r_sum contribution.
    "stream_media_gate" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    (doc_id + 0) * 2654435761 % 4294967296 % 64 + 32 AS w,
        |    (doc_id + 1) * 2654435761 % 4294967296 % 64 + 32 AS h
        |  FROM documents
        |), px AS (
        |  SELECT doc_id, w,
        |    unnest(generate_series(0, CAST(w * h * 3 - 1 AS BIGINT))) AS k
        |  FROM m WHERE doc_id % 97 <> 0
        |), r AS (
        |  SELECT doc_id, w,
        |    SUM(CASE WHEN k % 3 = 0
        |        THEN (doc_id + k * 2654435761) % 256 ELSE 0 END) AS r_sum
        |  FROM px GROUP BY 1, 2
        |), good AS (
        |  SELECT CAST(w AS BIGINT) AS width, COUNT(*) AS n_docs,
        |    CAST(SUM(r_sum) AS BIGINT) AS total_r
        |  FROM r GROUP BY 1
        |), bad AS (
        |  SELECT CAST(-1 AS BIGINT) AS width, COUNT(*) AS n_docs,
        |    CAST(0 AS BIGINT) AS total_r
        |  FROM m WHERE doc_id % 97 = 0 HAVING COUNT(*) > 0
        |)
        |SELECT * FROM good UNION ALL SELECT * FROM bad
        |ORDER BY width""".stripMargin,
    // The streamed media admission replayed end to end: gate flags for
    // the batch slice + the mod-65536 content-identity dup rule, then
    // the feature-store certification body over the admitted set —
    // see ExtQueries.streamMediaCorpusSql's scaladoc for why the
    // perceptual tier needs no extra replay term for real documents.
    "stream_media_corpus" -> graft.ext.ExtQueries.streamMediaCorpusSql,
    "stream_kmv_daily" -> KmvDailyOracle,
    "stream_kmv_update" -> KmvDailyOracle,
    "stream_cms_update" -> CmsDailyOracle,
    // The ingest-time gate is per-doc deterministic, so the streamed
    // corpus equals the batch decontamination answer — same oracle.
    // NOTE the oracle is the EXACT-join answer: equality holds because
    // zero Bloom false positives occur at the gated fixture scales
    // (p(FP) ≈ 1e-3–1e-4 per probe at the adaptive ≥14-bits/item
    // sizing) — EMPIRICAL at fixture scale, not guaranteed. The
    // guaranteed direction is superset-of-removal only, pinned for the
    // adaptive sizing by BloomDeconSpec; a fixture growth or
    // hash-family change that flips a probe shows up here as a
    // hash/row mismatch, by design.
    "stream_decon_corpus" -> graft.ext.ExtQueries.oracles("decontaminate_bloom"),
    "stream_value_quantiles" -> ValueQuantilesOracle,
    "stream_quantiles_update" -> ValueQuantilesOracle,

    // Replays the whole curated-admission chain: seed-vocab unigram LM
    // scoring (same replay as quality_perplexity, vocab from the SEED
    // slice only), the 3.40625 gate, exact ≥0.35-Jaccard rejection
    // against the seed corpus, then within-batch component-min keeping
    // (same recursive-closure replay as dedup_apply). Recall argument
    // for LSH-vs-exact parity is the dedup_incremental oracle's: every
    // over-threshold pair in this fixture is a planted near-dup whose
    // band collision is ~certain.
    "stream_curated_corpus" ->
      """WITH RECURSIVE seed AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0
        |), batch AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
        |), stoks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM seed
        |), counts AS (
        |  SELECT token, COUNT(*) AS c FROM stoks GROUP BY token
        |), vocab AS (
        |  SELECT token, c FROM counts ORDER BY c DESC, token LIMIT 4096
        |), consts AS (
        |  SELECT (SELECT SUM(c) FROM vocab) + (SELECT COUNT(*) FROM vocab) + 1 AS d
        |), btoks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM batch
        |), scored AS (
        |  SELECT t.doc_id,
        |    round(SUM(-ln((coalesce(v.c, 0) + 1) * 1.0 / (SELECT d FROM consts)))
        |      / COUNT(*), 6) AS mean_nll
        |  FROM btoks t LEFT JOIN vocab v USING (token) GROUP BY t.doc_id
        |), gated AS (
        |  SELECT b.doc_id, b.text FROM batch b
        |  JOIN scored s ON b.doc_id = s.doc_id WHERE s.mean_nll <= 3.40625
        |), sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text, ' ')) - 2, 1)),
        |    i -> array_to_string(string_split(text, ' ')[i:i+2], ' '))) AS s
        |  FROM documents
        |), after_corpus AS (
        |  SELECT g.doc_id, g.text FROM gated g
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM sh a, sh b
        |    WHERE a.doc_id = g.doc_id AND b.doc_id % 10 <> 0
        |      AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |          (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.35)
        |), pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE a.doc_id IN (SELECT doc_id FROM after_corpus)
        |    AND b.doc_id IN (SELECT doc_id FROM after_corpus)
        |    AND CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |        (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.35
        |), edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM pairs
        |  UNION ALL
        |  SELECT b_id AS src, a_id AS dst FROM pairs
        |), reach(id, label) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
        |), comp AS (
        |  SELECT id AS doc_id, MIN(label) AS grp FROM reach GROUP BY id
        |), kept_batch AS (
        |  SELECT ac.doc_id, ac.text FROM after_corpus ac
        |  LEFT JOIN comp c ON ac.doc_id = c.doc_id
        |  WHERE c.grp IS NULL OR c.grp = ac.doc_id
        |)
        |SELECT doc_id, text FROM seed
        |UNION ALL
        |SELECT doc_id, text FROM kept_batch
        |ORDER BY doc_id""".stripMargin,

    "stream_daily_counts" ->
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "stream_dedup_counts" ->
      """SELECT event_type, COUNT(*) AS n
        |FROM (SELECT DISTINCT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |      FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "stream_windowed_counts" ->
      """SELECT CAST(epoch(date_trunc('day', CAST(ts AS TIMESTAMP))) AS BIGINT)
        |    AS win_start,
        |  event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2
        |ORDER BY win_start, event_type""".stripMargin,

    "stream_enrich_counts" ->
      """SELECT COALESCE(c.c_mktsegment, '<unknown>') AS segment,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1 ORDER BY segment""".stripMargin,

    // session_window end = last event + gap; no last-session exclusion
    // (unlike the streaming emission set).
    "session_window_counts" ->
      """WITH ev AS (
        |  SELECT user_id, date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts
        |  FROM events
        |), marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM ev
        |), sess AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked
        |)
        |SELECT user_id,
        |  CAST(epoch(MIN(ts)) AS BIGINT) AS start_sec,
        |  CAST(epoch(MAX(ts)) + 1800 AS BIGINT) AS end_sec,
        |  COUNT(*) AS n_events
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, start_sec""".stripMargin,

    "stream_sessionize" ->
      """WITH ev AS (
        |  SELECT user_id, date_trunc('second', CAST(ts AS TIMESTAMP)) AS ts
        |  FROM events
        |), marked AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM ev
        |), sess AS (
        |  SELECT user_id, ts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked
        |), agg AS (
        |  SELECT user_id, sid, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |    COUNT(*) AS n_events
        |  FROM sess GROUP BY 1, 2
        |)
        |SELECT user_id,
        |  CAST(epoch(session_start) AS BIGINT) AS start_sec,
        |  CAST(epoch(session_end) AS BIGINT) AS end_sec,
        |  n_events,
        |  CAST(epoch(session_end) - epoch(session_start) AS BIGINT) AS duration_sec
        |FROM agg
        |WHERE sid < (SELECT MAX(sid) FROM agg a2 WHERE a2.user_id = agg.user_id)
        |ORDER BY user_id, start_sec""".stripMargin
  )
}
