package graft.ext

import graft.SparkSuite
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private def docs = Seq(
    (1L, base),
    (2L, base),                                     // exact dup of 1
    (3L, base.replace("today", "tomorrow")),        // near dup of 1
    (4L, "completely different words nothing shared here at all whatsoever truly"),
    (5L, "spark engines shuffle partitions across the cluster with hash exchange")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps min doc_id") {
    val out = Dedup.exact(docs).orderBy("keep_doc_id").collect()
    assert(out.length == 4)
    assert(out(0).getLong(1) == 1L && out(0).getLong(2) == 2L) // ids 1,2 collapse
  }

  test("minhash LSH finds exact and near dup pairs, not unrelated ones") {
    val pairs = Dedup.minhashPairs(docs, minJaccard = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("minhash jaccard estimate: identical docs give jaccard 1.0") {
    val pairs = Dedup.minhashPairs(docs, minJaccard = 0.5)
      .filter(col("a_id") === 1L && col("b_id") === 2L).collect()
    assert(pairs.length == 1 && pairs(0).getDouble(2) == 1.0)
  }

  test("simhash: identical texts have distance 0; near-dups small distance") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sig"))
      .as[(Long, Long)].collect().toMap
    assert(sigs(1L) == sigs(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sigs(1L), sigs(3L)) <= 16)
    assert(hamming(sigs(1L), sigs(4L)) > 16)
  }

  test("simhash pairs via pigeonhole banding match brute-force at threshold") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("topJaccardPairs: exact dup ranks first at 1.0, unrelated docs absent") {
    val top = Dedup.topJaccardPairs(docs, topK = 3)
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .as[(Long, Long, Double)].collect()
    assert(top.nonEmpty)
    assert(top.head == ((1L, 2L, 1.0)), s"exact dup must rank first: ${top.head}")
    assert(top.forall { case (a, b, _) => a != 4L && b != 4L },
      "the unrelated doc must never surface in the top pairs")
  }

  test("dupSpanStats: shared runs covered via interval union, no double-count, zero-filled") {
    // docs 1 and 2 share the 10-token prefix; doc 3 is unrelated.
    // k=8 → shared k-grams at positions 1,2,3 of both docs: coverage
    // is the UNION [1,10] = 10 tokens, not 3·8 = 24.
    val shared = "a b c d e f g h i j"
    val df = Seq(
      (1L, s"$shared one two three"),
      (2L, s"$shared four five"),
      (3L, "totally different words with no overlap at all whatsoever here now"))
      .toDF("doc_id", "text")
    val r = Dedup.dupSpanStats(df, k = 8)
      .as[(Long, Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(r.map(_._1).toSeq == Seq(1L, 2L, 3L))
    // doc 1: 13 tokens, dup k-grams at pos 1..3, union coverage 10
    assert(r(0) == ((1L, 13L, 3L, 10L, math.rint(10.0 / 13 * 1e6) / 1e6)))
    // doc 2: 12 tokens, same three k-grams, same coverage
    assert(r(1) == ((2L, 12L, 3L, 10L, math.rint(10.0 / 12 * 1e6) / 1e6)))
    // doc 3: no duplicated k-grams anywhere — zero-filled row, not absent
    assert(r(2) == ((3L, 11L, 0L, 0L, 0.0)))
  }

  test("duplicateGroups: chain components collapse to min id, singletons separate") {
    // 1-2, 2-3 chain (diameter 2 → needs >1 superstep) plus isolated 5-6.
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    val groups = Dedup.duplicateGroups(pairs)
      .as[(Long, Long)].collect().toMap
    assert(groups == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("localComponents fast path ≡ both distributed CC engines") {
    // long chain (diameter 6), a star, a triangle with a cross edge,
    // reversed-order edges, a self-loop and a null endpoint — every
    // shape the engines must agree on
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L), (15L, 16L),
      (20L, 25L), (20L, 24L), (20L, 23L),
      (31L, 32L), (32L, 33L), (33L, 31L), (33L, 30L),
      (42L, 41L), // reversed order: min is on the b side
      (50L, 50L)  // self-loop labels itself
    ).toDF("a_id", "b_id")
      // a null endpoint is no edge: dropped, not a driver-side NPE
      .union(Seq((Some(12L), Option.empty[Long])).toDF("a_id", "b_id"))
    val local = Dedup.localComponents(pairs).get
      .as[(Long, Long)].collect().toMap
    val lp = Dedup.duplicateGroupsDistributed(pairs)
      .as[(Long, Long)].collect().toMap
    val star = Dedup.starContractionGroupsDistributed(pairs)
      .as[(Long, Long)].collect().toMap
    assert(local == lp, s"union-find vs label propagation: $local vs $lp")
    assert(local.view.filterKeys(_ != 50L).toMap ==
      star.view.filterKeys(_ != 50L).toMap,
      s"union-find vs star contraction: $local vs $star")
    assert(local(16L) == 10L && local(25L) == 20L && local(30L) == 30L &&
      local(41L) == 41L && local(42L) == 41L && local(50L) == 50L)
    // empty graph: empty labeling, same schema
    val empty = Dedup.localComponents(
      Seq.empty[(Long, Long)].toDF("a_id", "b_id")).get
    assert(empty.columns.toSeq == Seq("doc_id", "group_id") && empty.isEmpty)
  }

  test("duplicateGroups over LSH pairs: dup cluster {1,2,3} labels to 1") {
    val groups = Dedup.duplicateGroups(Dedup.minhashPairs(docs, minJaccard = 0.5))
      .as[(Long, Long)].collect().toMap
    assert(groups(1L) == 1L && groups(2L) == 1L && groups(3L) == 1L)
    assert(!groups.contains(4L), "singleton docs are not in any dup group")
  }

  test("persisted pair artifact: equals live pairs, builds once, rebuilds on corpus change") {
    val dir = "target/dedupspec/neardup"
    deleteRecursively("target/dedupspec")

    Dedup.ensurePairs(spark, docs, dir)
    val live = Dedup.minhashPairs(docs)
      .as[(Long, Long, Double)].collect().toSet
    val stored = Dedup.loadPairs(spark, dir)
      .as[(Long, Long, Double)].collect().toSet
    assert(stored == live, "persisted pair table must equal the live computation")
    // the artifact keeps every candidate with its band-collision count —
    // thresholding happens at read time
    assert(spark.read.parquet(s"$dir/pairs").columns.contains("n_bands"))

    val marker = new java.io.File(s"$dir/pairs/_SUCCESS")
    val t1 = marker.lastModified()
    Dedup.ensurePairs(spark, docs, dir)
    assert(marker.lastModified() == t1, "same corpus + params must not rebuild")

    val perturbed = docs.withColumn("text", concat(col("text"), lit(" changed")))
    Dedup.ensurePairs(spark, perturbed, dir)
    assert(marker.lastModified() != t1, "changed corpus must rebuild the pair table")
  }

  test("applyDedupLocal equals applyDedup: same survivors, empty-graph identity") {
    // the union-find twin must keep exactly the distributed keeper set
    // (component-min doc_id) on a multi-component graph with chains
    val corpus = (1L to 10L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 7L), (9L, 10L), (3L, 9L))
      .toDF("a_id", "b_id") // {1,2,3,9,10} and {5,7} → keep 1 and 5
    val dist = Dedup.applyDedup(corpus, pairs)
      .select("doc_id").as[Long].collect().toSet
    val local = Dedup.applyDedupLocal(corpus, pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(local == dist, s"local=$local dist=$dist")
    assert(local == Set(1L, 4L, 5L, 6L, 8L))
    // empty pair graph: identity, no job machinery
    val empty = pairs.filter(col("a_id") < 0)
    assert(Dedup.applyDedupLocal(corpus, empty)
      .select("doc_id").as[Long].collect().toSet == (1L to 10L).toSet)
  }

  test("persisted group artifact: equals live star contraction, rebuilds transitively") {
    val pairDir = "target/dedupspec/groups_pairs"
    val gDir = "target/dedupspec/groups"
    deleteRecursively(pairDir); deleteRecursively(gDir)
    Dedup.ensurePairs(spark, docs, pairDir)
    Dedup.ensureGroups(spark, pairDir, gDir)
    val live = Dedup.starContractionGroups(Dedup.loadPairs(spark, pairDir))
      .as[(Long, Long)].collect().toSet
    assert(Dedup.loadGroups(spark, gDir).as[(Long, Long)].collect().toSet == live,
      "stored groups must equal the live star contraction")
    // applyDedupStored equals the live applyDedup
    val liveApply = Dedup.applyDedup(docs, Dedup.loadPairs(spark, pairDir))
      .select("doc_id").as[Long].collect().toSet
    assert(Dedup.applyDedupStored(spark, docs, gDir)
      .select("doc_id").as[Long].collect().toSet == liveApply)
    // same pair content → no rebuild; pair rebuild → group rebuild
    val marker = new java.io.File(s"$gDir/groups/_SUCCESS")
    val t1 = marker.lastModified()
    Dedup.ensureGroups(spark, pairDir, gDir)
    assert(marker.lastModified() == t1, "unchanged pair table must not rebuild groups")
    val perturbed = docs.withColumn("text", concat(col("text"), lit(" changed")))
    Dedup.ensurePairs(spark, perturbed, pairDir)
    Dedup.ensureGroups(spark, pairDir, gDir)
    assert(marker.lastModified() != t1,
      "a rebuilt pair table must transitively rebuild the groups")
  }

  test("topJaccardPairsStored serves the live top-K from the pair artifact") {
    val dir = "target/dedupspec/neardup_topk"
    deleteRecursively(dir)
    Dedup.ensurePairs(spark, docs, dir)
    val marker = new java.io.File(s"$dir/pairs/_SUCCESS")
    val t1 = marker.lastModified()
    val stored = Dedup.topJaccardPairsStored(spark, dir, topK = 3)
      .as[(Long, Long, Double)].collect().toSeq
    val live = Dedup.topJaccardPairs(docs, topK = 3)
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .as[(Long, Long, Double)].collect().toSeq
    assert(stored == live, s"stored top-K must equal the live path: $stored vs $live")
    assert(marker.lastModified() == t1, "serving must not rebuild the artifact")
  }

  test("band-index append: O(batch) fold equals a fresh full build") {
    val dirApp = "target/dedupspec/bandappend"
    val dirFresh = "target/dedupspec/bandfresh"
    deleteRecursively(dirApp); deleteRecursively(dirFresh)
    val corpusA = docs.filter(col("doc_id") =!= 3L)          // 1,2,4,5
    val batch1 = docs.filter(col("doc_id") === 3L)           // near-dup of 1
    val union = docs
    // tonight's query batch: a fresh copy of the base text
    val batch2 = docs.filter(col("doc_id") === 1L)
      .select(lit(21L).as("doc_id"), col("text"))

    Dedup.ensureBandIndex(spark, corpusA, dirApp)
    Dedup.appendBandIndex(spark, batch1, dirApp)
    // the appended index must answer exactly like a fresh build over A∪B1
    Dedup.ensureBandIndex(spark, union, dirFresh)
    val viaAppend = Dedup.incrementalPairs(spark, batch2, union, dirApp)
      .as[(Long, Long, Double)].collect().toSet
    val viaFresh = Dedup.incrementalPairs(spark, batch2, union, dirFresh)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaAppend == viaFresh,
      s"appended index must equal fresh build: $viaAppend vs $viaFresh")
    assert(viaAppend.exists(p => p._1 == 21L && p._2 == 1L && p._3 == 1.0),
      s"the planted duplicate must be found: $viaAppend")
    assert(viaAppend.exists(p => p._1 == 21L && p._2 == 3L),
      "near-dups from the APPENDED batch must be found too")

    // additive fingerprint: ensure over the union corpus serves, no rebuild
    val marker = new java.io.File(s"$dirApp/bands/_SUCCESS")
    val t1 = marker.lastModified()
    Dedup.ensureBandIndex(spark, union, dirApp)
    assert(marker.lastModified() == t1,
      "union ensure must match the appended index without rebuilding")
    // double-submitting the batch is a no-op
    Dedup.appendBandIndex(spark, batch1, dirApp)
    val t2 = marker.lastModified()
    Dedup.ensureBandIndex(spark, union, dirApp)
    assert(marker.lastModified() == t2,
      "re-appending an ingested batch must not desync the fingerprint")
  }

  test("band-index compaction: size deltas merge, answers unchanged, meta verbatim") {
    val dir = "target/dedupspec/bandcompact"
    deleteRecursively(dir)
    Dedup.ensureBandIndex(spark, docs.filter(col("doc_id") <= 2L), dir)
    Dedup.appendBandIndex(spark, docs.filter(col("doc_id") === 3L), dir)
    Dedup.appendBandIndex(spark, docs.filter(col("doc_id") > 3L), dir)
    val batch = docs.filter(col("doc_id") === 1L)
      .select(lit(31L).as("doc_id"), col("text"))
    val before = Dedup.incrementalPairs(spark, batch, docs, dir)
      .as[(Long, Long, Double)].collect().toSet
    val metaBefore = Artifact.readMeta(spark, dir)
    val (f0, f1) = Dedup.compactBandIndex(spark, dir)
    assert(f1 < f0, s"file count must drop: $f0 -> $f1")
    assert(Artifact.readMeta(spark, dir) == metaBefore)
    // deltas merged to one row per bucket
    val sizes = spark.read.parquet(s"$dir/sizes")
    assert(sizes.groupBy("band", "bucket").count().filter(col("count") > 1).isEmpty,
      "post-compaction sizes must have one row per bucket")
    val after = Dedup.incrementalPairs(spark, batch, docs, dir)
      .as[(Long, Long, Double)].collect().toSet
    assert(after == before, "compaction must not change answers")
  }

  test("incremental dedup: batch near-dups found via persisted band index, corpus not re-signed") {
    val dir = "target/dedupspec/bandindex"
    deleteRecursively(dir)
    // corpus = docs 1..4; batch = doc 11 ≈ near-dup of doc 1
    val corpus = docs
    val batch = docs.filter(col("doc_id") === 1L)
      .select(lit(11L).as("doc_id"), col("text"))
    Dedup.ensureBandIndex(spark, corpus, dir)
    val marker = new java.io.File(s"$dir/bands/_SUCCESS")
    val t1 = marker.lastModified()
    val pairs = Dedup.incrementalPairs(spark, batch, corpus, dir)
      .as[(Long, Long, Double)].collect()
    assert(pairs.exists { case (n, c, j) => n == 11L && c == 1L && j == 1.0 },
      s"planted batch duplicate must be found: ${pairs.toSeq}")
    assert(pairs.forall(_._1 == 11L), "pairs must be batch-vs-corpus only")
    assert(marker.lastModified() == t1, "query must not rebuild the index")
  }

  test("incremental dedup: re-ingested batch yields no self-pairs or fanned rows") {
    val dir = "target/dedupspec/bandindex2"
    deleteRecursively(dir)
    Dedup.ensureBandIndex(spark, docs, dir)
    // the 'batch' IS part of the corpus — the crash-retry scenario
    val reIngested = docs.filter(col("doc_id") === 1L)
    val pairs = Dedup.incrementalPairs(spark, reIngested, docs, dir)
      .as[(Long, Long, Double)].collect()
    assert(!pairs.exists(p => p._1 == p._2), s"no self-pairs: ${pairs.toSeq}")
    assert(pairs.map(p => (p._1, p._2)).distinct.length == pairs.length,
      s"no fanned-out duplicate rows: ${pairs.toSeq}")
    // doc 1's genuine dup (doc 2) is still reported exactly once
    assert(pairs.count(p => p._1 == 1L && p._2 == 2L) == 1)
  }

  test("band-index id recycle: remove, re-insert DIFFERENT text — old rows stay masked") {
    val dir = "target/dedupspec/bandrecycle"
    val dirFresh = "target/dedupspec/bandrecycle_fresh"
    deleteRecursively(dir); deleteRecursively(dirFresh)
    Dedup.ensureBandIndex(spark, docs, dir)
    // remove doc 1, then recycle its id with unrelated text — allowed
    // (the corpus no longer has the id), and the scenario where a bare
    // id-tombstone would unmask the OLD text's band rows
    Dedup.removeFromBandIndex(spark, docs.filter(col("doc_id") === 1L), dir)
    val recycled = Seq((1L, "recycled identifier carrying entirely unrelated replacement content now"))
      .toDF("doc_id", "text")
    Dedup.appendBandIndex(spark, recycled, dir)
    val corpusNow = docs.filter(col("doc_id") =!= 1L).unionByName(recycled)

    def probe(text: org.apache.spark.sql.DataFrame, d: String) =
      Dedup.incrementalPairs(spark, text, corpusNow, d)
        .as[(Long, Long, Double)].collect().toSet
    val probeOld = docs.filter(col("doc_id") === 1L)
      .select(lit(41L).as("doc_id"), col("text"))
    val probeNew = recycled.select(lit(42L).as("doc_id"), col("text"))

    val oldPairs = probe(probeOld, dir)
    assert(!oldPairs.exists(_._2 == 1L),
      s"the OLD text's band rows must stay masked after the id recycle: $oldPairs")
    assert(oldPairs.exists(p => p._2 == 2L && p._3 == 1.0),
      s"genuine near-dups of the old text are unaffected: $oldPairs")
    val newPairs = probe(probeNew, dir)
    assert(newPairs.exists(p => p._2 == 1L && p._3 == 1.0),
      s"the recycled id serves its NEW text: $newPairs")

    // the mutated index answers exactly like a fresh build over the
    // current corpus, and its fingerprint line matches (ensure serves)
    Dedup.ensureBandIndex(spark, corpusNow, dirFresh)
    assert(probe(probeOld, dirFresh) == oldPairs && probe(probeNew, dirFresh) == newPairs,
      "recycled index must equal a fresh build over the current corpus")
    val marker = new java.io.File(s"$dir/bands/_SUCCESS")
    val t1 = marker.lastModified()
    Dedup.ensureBandIndex(spark, corpusNow, dir)
    assert(marker.lastModified() == t1, "ensure over the current corpus must serve, not rebuild")

    // the sizes ledger counts LIVE rows exactly — the fresh build over
    // the same corpus is the ground truth — before and after the
    // compaction that drops the superseded generation physically
    def liveLedger(d: String) = spark.read.parquet(s"$d/sizes")
      .groupBy("band", "bucket").agg(sum("m").as("n")).filter(col("n") =!= 0L)
      .as[(Int, Long, Long)].collect().toSet
    val groundTruth = spark.read.parquet(s"$dirFresh/bands")
      .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
      .as[(Int, Long, Long)].collect().toSet
    assert(liveLedger(dir) == groundTruth,
      "sizes ledger must equal a live recount after remove + recycle")
    Dedup.compactBandIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/bands").filter(col("doc_id") === 1L)
      .select("gen").distinct().count() == 1,
      "compaction must drop the old text's generation physically")
    assert(liveLedger(dir) == groundTruth &&
      probe(probeOld, dir) == oldPairs && probe(probeNew, dir) == newPairs,
      "compaction must change neither the ledger nor any answer")
  }

  test("incremental dedup: mismatched banding parameters fail fast, not silently") {
    val dir = "target/dedupspec/bandindex3"
    deleteRecursively(dir)
    Dedup.ensureBandIndex(spark, docs, dir, k = 16, bands = 4)
    intercept[IllegalStateException] {
      Dedup.incrementalPairs(spark, docs.limit(1), docs, dir) // defaults k=32
    }
  }

  test("shingles: w-grams over tokens, distinct") {
    val sh = docs.filter(col("doc_id") === 1L)
      .select(Dedup.shingles(col("text"), 3)).head().getSeq[String](0)
    assert(sh.contains("the quick brown"))
    assert(sh.distinct.length == sh.length)
  }

  test("containment finds short-inside-long pairs that minhash structurally misses") {
    val long1 = (1 to 200).map(i => s"w$i").mkString(" ")
    val short1 = (50 to 59).map(i => s"w$i").mkString(" ") // 10 tokens ⊂ long1
    val cdocs = Seq(
      (1L, long1),
      (2L, short1),
      (3L, "totally unrelated filler words about something else entirely here"),
      (4L, (300 to 420).map(i => s"v$i").mkString(" "))
    ).toDF("doc_id", "text")
    val top = Dedup.containmentTopK(cdocs, topK = 3).collect()
    // (1,2): every 5-gram of the short doc (10-4=6 of them) occurs in
    // the long doc → n_inter = 6 = min side → containment exactly 1.0
    val head = top.head
    assert((head.getLong(0), head.getLong(1)) == (1L, 2L))
    assert(head.getAs[Long]("n_inter") == 6L && head.getAs[Long]("n_b") == 6L)
    assert(head.getAs[Double]("containment") == 1.0)
    // Jaccard for the same pair is 8/198 ≈ 0.04: band collision odds
    // j⁴ per band ≈ 2.6e-6 — minhash never surfaces this pair (the
    // hash family is fixed, so this is deterministic, not flaky)
    val mh = Dedup.minhashPairs(cdocs, minJaccard = 0.0)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(!mh.contains((1L, 2L)),
      "minhash bands are not expected to collide at jaccard 0.04 — " +
        "if they do, the spec's motivating claim needs re-checking")
  }

  test("containment score is exact and df-cap-independent for found pairs") {
    // two near-identical docs plus one contained doc: scores must come
    // from the FULL shingle sets even when the cap excludes shared
    // shingles from candidate generation (dfCap=1 bans every shared
    // shingle, so candidates vanish — proving the cap gates discovery
    // only; with a workable cap the score is exact)
    val a = (1 to 30).map(i => s"t$i").mkString(" ")
    val b = (1 to 30).map(i => if (i == 30) "zz" else s"t$i").mkString(" ")
    val cdocs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val top = Dedup.containmentTopK(cdocs, topK = 1).head()
    // 26 5-gram shingles each; the differing last token sits in
    // exactly one window (start 26) → 25 shared
    assert(top.getAs[Long]("n_inter") == 25L)
    assert(top.getAs[Double]("containment") == 25.0 / 26.0)
    assert(Dedup.containmentTopK(cdocs, dfCap = 1, topK = 1).count() == 0L)
  }

  test("containment stats pass plans as a codegen'd primitive HashAggregate") {
    // the r13 scale lesson pinned: the corpus-wide pass must stay a
    // primitive count/min/max (HashAggregate, codegen) — a regression
    // to a corpus-wide collect_list (ObjectHashAggregate) measured
    // 2-3× the cost at the 100× point
    val posting = docs.select(col("doc_id"),
      explode(Dedup.shingleHashes(col("text"), 5)).as("shh"))
    val stats = posting.groupBy(col("shh"))
      .agg(count(lit(1)).as("df"),
        min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
    val plan = stats.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("ObjectHashAggregate"), plan)
  }

  test("df-cap semantics: pairs reachable only via df>cap shingles are kept") {
    // a duplicate cluster LARGER than dfCap: every shared shingle
    // occurs in every copy (df = copies > cap), so candidate
    // generation sees nothing and applyContainment keeps the whole
    // cluster — the documented semantic trade (such clusters belong to
    // exact dedup, which catches them by whole-text hash). Raising the
    // cap above the cluster size flips the semantics: pairs appear and
    // the losers drop.
    val text = (1 to 40).map(i => s"c$i").mkString(" ")
    val cluster = (1L to 10L).map(i => (i, text))
    val cdocs = (cluster :+ ((99L, (900 to 950).map(i => s"z$i").mkString(" "))))
      .toDF("doc_id", "text")
    val keptCapped = Dedup.applyContainment(cdocs, dfCap = 8)
      .select("doc_id").as[Long].collect().toSet
    assert(keptCapped == (1L to 10L).toSet + 99L,
      "df=10 > cap=8: zero candidates, every copy kept")
    assert(Dedup.containmentTopK(cdocs, dfCap = 8).count() == 0L)
    val keptOpen = Dedup.applyContainment(cdocs, dfCap = 16)
      .select("doc_id").as[Long].collect().toSet
    assert(keptOpen == Set(1L, 99L),
      "df=10 <= cap=16: mutual containment, min id survives")
    // and the exact family is the operator that DOES catch the capped
    // cluster — whole-text hash needs no shingle discovery
    val exactKeep = Dedup.exact(cdocs)
      .select("keep_doc_id").as[Long].collect().toSet
    assert(exactKeep == Set(1L, 99L))
  }

  test("pre-rank estimate ties break by shared-set size, not id") {
    // two true-subset pairs, both estimate exactly 1.0: (1,2) shares 5
    // rare shingles, (3,4) shares 25. With preRank = 1 the id-ordered
    // tie-break would keep (1,2) and silently drop the stronger pair;
    // the n_shared_rare tie-break must keep (3,4).
    val cdocs = Seq(
      (1L, (1 to 20).map(i => s"x$i").mkString(" ")),
      (2L, (1 to 9).map(i => s"x$i").mkString(" ")),   // 5 shingles, all shared
      (3L, (1 to 40).map(i => s"y$i").mkString(" ")),
      (4L, (1 to 29).map(i => s"y$i").mkString(" "))   // 25 shingles, all shared
    ).toDF("doc_id", "text")
    val top = Dedup.containmentTopK(cdocs, topK = 5, preRank = 1).collect()
    assert(top.length == 1)
    assert((top.head.getLong(0), top.head.getLong(1)) == (3L, 4L))
  }

  test("applyContainment: subsumed doc dropped, container kept; exact-dup tie keeps min id") {
    val long1 = (1 to 100).map(i => s"w$i").mkString(" ")
    val short1 = (20 to 29).map(i => s"w$i").mkString(" ") // ⊂ long1
    val other = (500 to 560).map(i => s"u$i").mkString(" ")
    val cdocs = Seq(
      (1L, long1),
      (2L, short1),     // loser of (1,2): smaller set at containment 1.0
      (3L, other),
      (4L, other),      // exact dup of 3: mutual containment, 4 loses
      (5L, "five isolated tokens only here")
    ).toDF("doc_id", "text")
    val kept = Dedup.applyContainment(cdocs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 5L))
    // below threshold nothing is dropped
    val keptAll = Dedup.applyContainment(cdocs, minContainment = 1.01)
      .select("doc_id").as[Long].collect().toSet
    assert(keptAll == Set(1L, 2L, 3L, 4L, 5L))
  }
}
