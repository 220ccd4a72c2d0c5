package graft

/** `graft.Diag` end to end on the shared session: every run yields its
  * phase split, scheduler totals and plan, and a stream query's
  * micro-batches reach the one SparkContext listener even though they
  * run in a `StreamQueries.streamSession` child session.
  */
class DiagSpec extends SparkSuite {

  test("Diag.run: phase split, jobs and plan per run; stream batches recorded") {
    val recs = Diag.run(spark, sfDir, Seq("a1_genre_kpis", "stream_daily_counts"))
    val runs = recs.collect { case r: Diag.Run => r }
    assert(runs.map(r => (r.query, r.run)) == Seq(
      ("a1_genre_kpis", 1), ("a1_genre_kpis", 2),
      ("stream_daily_counts", 1), ("stream_daily_counts", 2)))
    runs.foreach { r =>
      assert(r.constructS >= 0 && r.optimizeS >= 0 && r.executeS >= 0, r.line)
      assert(r.jobs > 0 && r.rows > 0 && r.plan.nonEmpty, r.line)
      assert(recs.count { case j: Diag.Job => j.query == r.query && j.run == r.run
                          case _ => false } == r.jobs, r.line)
    }
    val batches = recs.collect { case b: Diag.Batch => b }
    assert(batches.nonEmpty && batches.forall(_.query == "stream_daily_counts"))
    assert(batches.exists(_.durationMs.contains("addBatch")), batches.map(_.line))
    // the stream runs inside construction: its jobs are construct jobs
    assert(runs.filter(_.query == "stream_daily_counts").forall(_.constructJobs > 0))
    assert(recs.exists { case a: Diag.Action => a.durS >= 0 case _ => false })
  }
}
