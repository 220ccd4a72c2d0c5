package graft

/** Guards on the driver contract itself — the failure modes the gate
  * cannot see: a duplicate query key silently collapses in the Map
  * (one pack's query shadows another's), a dangling oracle key never
  * gets compared, a non-identifier name breaks the driver's JSON/paths.
  */
class ContractSpec extends SparkSuite {

  private val packs: Seq[(String, Map[String, _])] = Seq(
    "analytics" -> analytics.AnalyticsQueries.queries,
    "ingest" -> ingest.ValidateQueries.queries,
    "serve" -> serve.KeyValueQueries.queries,
    "ext" -> ext.ExtQueries.queries,
    "sources" -> sources.SourceQueries.queries,
    "stream" -> stream.StreamQueries.queries)

  test("no query key collisions across packs") {
    val all = packs.flatMap { case (pack, qs) => qs.keys.map(_ -> pack) }
    val dupes = all.groupBy(_._1).filter(_._2.size > 1)
    assert(dupes.isEmpty, s"duplicate query keys: ${dupes.map { case (k, ps) =>
      s"$k in ${ps.map(_._2).mkString("+")}" }.mkString(", ")}")
    assert(SparkEntry.queries.size == all.size)
  }

  test("every oracle key names an existing query") {
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(dangling.isEmpty, s"oracle SQL without a query: $dangling")
  }

  test("query names are json/path-safe identifiers") {
    val bad = SparkEntry.queries.keys.filterNot(_.matches("[a-z][a-z0-9_]*"))
    assert(bad.isEmpty, s"non-identifier query names: $bad")
  }

  test("warm-serve list names only registered queries") {
    // Warm.ensureAll requires this too (fail loud at warm time); the
    // spec catches a rename at test time, before any gate run.
    val missing = Warm.warmServeQueries.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"stale warm-serve names: $missing")
  }

  test("t1 gate: entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle SQL contains no tab/CR control chars that stress JSON escaping") {
    // Verify.scala escapes them correctly, but flat SQL is easier to
    // diff against the driver's CORRECTNESS report — keep it clean.
    val offenders = SparkEntry.oracleSql.collect {
      case (k, sql) if sql.exists(c => c == '\t' || c == '\r') => k
    }
    assert(offenders.isEmpty, s"oracle SQL with tab/CR: $offenders")
  }

  test("the only runnable mains are the driver contract's and graft.Diag") {
    // one-off measurements go through graft.Diag, not a new dev main
    import scala.jdk.CollectionConverters._
    val objectDecl = """(?m)^\s*(?:private\s+|final\s+|case\s+)*object\s+(\w+)""".r
    val entry = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val mains = try files.iterator.asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      val src = java.nio.file.Files.readString(f)
      // the enclosing object: the last one declared before the entry point
      entry.findAllMatchIn(src).map(m =>
        objectDecl.findAllMatchIn(src.take(m.start)).toSeq.last.group(1))
    }.toSet finally files.close()
    assert(mains == Set("Bench", "Verify", "Smoke", "Warm", "Maintenance", "ScaleUp", "Diag"))
  }

  test("forceAndCount returns count() while forcing every column") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // same row count as count() on a representative mix of shapes;
    // built over range() — a LocalRelation would be evaluated eagerly
    // by the optimizer and defeat the pruning this test pins down
    val proj = spark.range(2)
      .select((col("id") + 1).as("doc_id"),
        when(col("id") === 0, "a b a").otherwise("c d").as("text"))
      .withColumn("toks", split(col("text"), " "))
    assert(GraftSession.forceAndCount(proj) == proj.count())
    val agg = proj.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    assert(GraftSession.forceAndCount(agg) == 2L)
    assert(GraftSession.forceAndCount(proj.limit(0)) == 0L)
    // and it genuinely EVALUATES projected columns count() would prune:
    // a column that throws on evaluation must surface, not be skipped
    val poisoned = proj.withColumn("boom",
      assert_true(col("doc_id") < 2, lit("forced")).cast("string"))
    assert(poisoned.count() == 2L, "count() prunes the poisoned column")
    val e = intercept[Exception](GraftSession.forceAndCount(poisoned))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("forced")), e.toString)
  }
}
