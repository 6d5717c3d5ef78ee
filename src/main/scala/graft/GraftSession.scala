package graft

import org.apache.spark.sql.SparkSession

/** The one local session config shared by Bench, Verify and every
  * tool: `local[cores]` with `cores` from `SPARK_GRAFT_CPUS` (default
  * 32, the driver's local[32] contract — a bench run that silently
  * fell back to local[4] once produced plausible-looking sf0.1 totals
  * while understating kernel-stage parallelism 8x), one shuffle
  * partition per core, UTC, AQE on, and the UI off. Returns the
  * builder, so a caller can add its own keys before `getOrCreate`. */
object GraftSession {
  private val cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet's `ts` was TIMESTAMP(NANOS) in older corpora
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // AQE's byte-based coalescing floor: the 1m default collapsed
      // every kernel tier's post-shuffle stages to ONE task at bench
      // scale (15 MB of sf0.1 text / 32 < 1 MB), serializing ~20M-op
      // kernel stages — the k2 minhash tier measured 13.9 s where the
      // DuckDB oracle needs 0.2 s, all in tasks=1 stages (r20 stage
      // listener). 16k keeps parallelism-first coalescing honest for
      // compute-heavy narrow rows; at replica/cluster byte sizes the
      // floor is never the binding constraint.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "16k")
      // the fixed-fit SemDeDup reference twin is registered, verified
      // and benched deliberately (oracle-pinned; its scaled production
      // twin runs alongside) — opt in past the quadratic guard
      // (SimQueries.quadraticGuard)
      .config("spark.graft.allowQuadratic", "true")
      .config("spark.ui.enabled", "false")
}
