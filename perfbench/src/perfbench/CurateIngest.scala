package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

import graft.GraftSession
import graft.ext.LanguageModel
import graft.stream.{CuratedIngest, IncrementalIngest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `curate_ingest`: fixed-size document batches through
  * `CuratedIngest.ingestBatch` — the unigram-LM quality gate, then
  * exactly-once near-dup admission against the persisted MinHash band
  * index — over a corpus that grows across batches. Closed loop.
  */
final class CurateIngest(spark: SparkSession, work: Path, seed: Long) extends Workload {
  val seedDocs = 2000
  val batchDocs = 100
  val vocabSize = 3000
  val vocabZipf = 1.05
  val nearDupShare = 0.2
  val gibberishShare = 0.1
  /** Floors on the planted rejects the gates must catch. */
  val nearDupFloor = 0.9
  val gibberishFloor = 0.95

  def tailPct = 50.0
  def itemName = s"docs offered ($batchDocs per batch)"
  def aliases = Map("items_per_s" -> "curate_docs_per_s")

  private var rng: java.util.Random = _
  private var words: Array[String] = _
  private var wordCdf: Array[Double] = _
  private var root: String = _
  private var lmDir: String = _
  private var threshold = 0.0
  private var nextId = 0L
  private val fluent = mutable.ArrayBuffer.empty[Array[String]]
  private val nearDups = mutable.ArrayBuffer.empty[Long]
  private val gibberish = mutable.ArrayBuffer.empty[Long]
  private var acceptedTotal = 0L

  private def letters(n: Int) = Array.fill(n)(('a' + rng.nextInt(26)).toChar).mkString

  private def fluentDoc(): Array[String] =
    Array.fill(30 + rng.nextInt(21))(words(Zipf.draw(wordCdf, rng)))

  /** The next batch: fresh fluent docs, one-token-edit near-dups of
    * earlier fluent docs, and rare-token gibberish, ids ascending.
    */
  private def nextBatch(n: Int): DataFrame = {
    val docs = Seq.fill(n) {
      val id = nextId
      nextId += 1
      val r = rng.nextDouble()
      val toks =
        if (r < gibberishShare) {
          gibberish += id
          Array.fill(30 + rng.nextInt(21))(letters(7 + rng.nextInt(6)))
        } else if (r < gibberishShare + nearDupShare) {
          nearDups += id
          val src = fluent(rng.nextInt(fluent.length)).clone()
          src(rng.nextInt(src.length)) = words(rng.nextInt(words.length))
          src
        } else {
          val d = fluentDoc()
          fluent += d
          d
        }
      (id, toks.mkString(" "))
    }
    spark.createDataFrame(docs).toDF("doc_id", "text")
  }

  def setup(rep: Int): Unit = {
    rng = new java.util.Random(seed)
    words = Array.fill(vocabSize)(letters(3 + rng.nextInt(6))).distinct
    wordCdf = Zipf.cdf(words.length, vocabZipf)
    Seq(fluent, nearDups, gibberish).foreach(_.clear())
    nextId = 0L
    acceptedTotal = 0L
    val seedDf = spark.createDataFrame(Seq.fill(seedDocs) {
      val d = fluentDoc()
      fluent += d
      nextId += 1
      (nextId - 1, d.mkString(" "))
    }).toDF("doc_id", "text")
    root = work.resolve(s"curate$rep/root").toString
    lmDir = work.resolve(s"curate$rep/lm").toString
    IncrementalIngest.init(spark, seedDf, root)
    LanguageModel.ensureLm(spark, seedDf, lmDir)
    // the gate threshold sits just above the seed corpus's own worst
    // mean NLL: corpus-like text passes, rare-token soup does not
    threshold = LanguageModel.score(spark, seedDf, lmDir)
      .agg(max(col("mean_nll"))).head().getDouble(0) + 0.5
    setupCheck(ingest(nextBatch(batchDocs))._2)
  }

  /** One batch through the curated admission, with its identity checks. */
  private def ingest(batch: DataFrame, trace: Option[(Traced, Int)] = None)
      : (CuratedIngest.CuratedStats, Boolean) = {
    val s = trace match {
      case None => CuratedIngest.ingestBatch(spark, batch, root, lmDir, threshold)
      case Some((t, op)) => t.tracer.span(op, "ext.ingest_batch")(
        t.op(CuratedIngest.ingestBatch(spark, batch, root, lmDir, threshold)))
    }
    val i = s.ingest
    acceptedTotal += i.accepted
    val err =
      if (s.batchRows != batchDocs) Some(s"offered ${s.batchRows} of $batchDocs")
      else if (s.batchRows != s.rejectedQuality + i.batchRows) Some(s"gate split $s")
      else if (i.batchRows != i.replayed + i.conflicting + i.rejectedVsCorpus +
          i.rejectedWithinBatch + i.accepted) Some(s"admission split $s")
      else if (i.replayed + i.conflicting != 0) Some(s"fresh ids seen as replays $s")
      else None
    err.foreach(e => System.err.println(s"check failed: $e"))
    (s, err.isEmpty)
  }

  /** Planted rejects caught, and the corpus holding exactly what was admitted. */
  private def corpusOk(): Boolean = {
    val ids = IncrementalIngest.corpus(spark, root).select(col("doc_id")).collect()
      .map(_.getLong(0)).toSet
    def caught(planted: Seq[Long]) =
      if (planted.isEmpty) 1.0 else planted.count(i => !ids(i)).toDouble / planted.size
    val ok = ids.size == seedDocs + acceptedTotal &&
      caught(nearDups.toSeq) >= nearDupFloor && caught(gibberish.toSeq) >= gibberishFloor
    if (!ok) System.err.println(s"check failed: corpus ${ids.size} docs, near-dups caught " +
      s"${caught(nearDups.toSeq)}, gibberish caught ${caught(gibberish.toSeq)}")
    ok
  }

  def window(seconds: Double, trace: Option[Traced]): Window = {
    val ops = Seq.newBuilder[Double]
    val layer = mutable.Map.empty[String, Seq[Double]].withDefaultValue(Seq.empty)
    def rec(k: String, v: Double): Unit = layer(k) = layer(k) :+ v
    var n, failed = 0
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (n == 0 || System.nanoTime() < end) {
      val batch = nextBatch(batchDocs)
      val ok = trace match {
        case None =>
          val t0 = System.nanoTime()
          val (_, ok) = ingest(batch)
          ops += (System.nanoTime() - t0) / 1e6
          ok
        case Some(t) => t.tracer.span(n, "curate.batch") {
          // the gate forced on its own first; the batch's time is the sample
          val g0 = System.nanoTime()
          t.tracer.span(n, "ext.quality_gate")(
            GraftSession.forceAndCount(LanguageModel.score(spark, batch, lmDir)))
          val gate = (System.nanoTime() - g0) / 1e9
          val (s, ok) = ingest(batch, Some((t, n)))
          val batchS = t.lastS
          ops += batchS * 1e3
          rec("ext.quality_gate_s", gate)
          rec("ext.admission_s", batchS - gate)
          rec("ext.accepted", s.ingest.accepted.toDouble)
          rec("ext.rejected_quality", s.rejectedQuality.toDouble)
          rec("ext.rejected_near_dup",
            (s.ingest.rejectedVsCorpus + s.ingest.rejectedWithinBatch).toDouble)
          ok
        }
      }
      if (!ok) failed += 1
      n += 1
    }
    if (!corpusOk()) failed += 1
    val layers = trace.map { _ =>
      val corpusFiles = Files.walk(Path.of(root, "corpus")).filter(p =>
        Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).count()
      layer.map { case (k, v) => k -> Main.median(v) }.toMap +
        ("ext.corpus_files" -> corpusFiles.toDouble)
    }.getOrElse(Map.empty)
    val ms = ops.result()
    Window(ms, batchDocs.toDouble * n, ms.sum / 1e3, n + 1, failed, layers)
  }
}
