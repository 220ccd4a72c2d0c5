package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's required session config lives — every
  * entry point (Verify, Bench, Smoke, Diag, tests) builds through
  * here so a new required setting cannot silently miss one of them.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // Partition-discovery listing job sizing (r18 optimization,
      // guide §6 small-files): Spark's default
      // parallelPartitionDiscovery.parallelism is 10000, which on a
      // many-partition table (the day-partitioned serving store has
      // ~2.5k `d=` directories) schedules ONE LISTING TASK PER
      // DIRECTORY — ~2.5k tasks of microseconds of work each, ~4-6 s
      // of pure scheduling overhead per discovery. Cap the listing job
      // at 4 tasks per core (floor 32): the same listing in ~20-40
      // paths per task. Scale-adaptive via the core count, not a local
      // constant; on a real cluster the cap scales with executors, and
      // fewer, larger listing tasks is exactly what object-store
      // listing wants too.
      .config("spark.sql.sources.parallelPartitionDiscovery.parallelism",
        (math.max(32, 4 * shufflePartitions.toIntOption.getOrElse(8))).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS) — Spark 4 only reads it as
      // a long; graft.Tables.events converts to µs TimestampType.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // cast-or-null coercion semantics (reference validate.py errors="coerce")
      .config("spark.sql.ansi.enabled", "false")
      // runtime bloom-filter pushdown: at scale a selective dim filter
      // prunes the fact side of a shuffle join before the exchange.
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // rank-filter → WindowGroupLimit pushdown also for the engine's
      // larger caps (funnelWindowed's 10⁴-per-step skew guard; default
      // threshold is 1000): map tasks truncate their own groups to k
      // before the exchange, which is the whole point of the guard.
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "100000")
      // graft's native functions + the as-of join planner strategy,
      // injected the way a cluster deployment would.
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")

  def local(cpus: String): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Fully evaluate a query for timing purposes and return its row
    * count. `df.count()` alone lets Catalyst PRUNE computed columns a
    * count never reads — a projection-shaped query (per-row features,
    * normalization, packing) would be timed as a bare scan. Hashing
    * every output column into a one-row aggregate forces the whole
    * projection through the executors while still materializing nothing
    * on the driver. Map-typed columns (unhashable in Spark) would be
    * skipped — no registered query emits one.
    */
  def forceAndCount(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.MapType
    val hashable = df.schema.fields
      .filterNot(_.dataType.isInstanceOf[MapType]).map(f => col(f.name))
    if (hashable.isEmpty) df.count()
    else df.select(xxhash64(hashable: _*).as("__h"))
      .agg(count(lit(1)).as("n"), sum(col("__h")))
      .head().getLong(0)
  }
}
