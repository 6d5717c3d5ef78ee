package graft.util

import org.apache.spark.sql.{Column, DataFrame}

/** Keyed fan-out for CPU-bound kernel stages.
  *
  * A bare `repartition(col)` plans as REPARTITION_BY_COL, which AQE's
  * byte-based shuffle coalescing is free to collapse — and DOES: the
  * documents/embeddings tables are byte-small at bench scale (~15 MB
  * of text at sf0.1, far under the advisory partition size), so every
  * kernel tier's "spread before the kernel" shuffle coalesced to ONE
  * task and the whole tier ran single-threaded (measured r20 with a
  * stage listener: the entire k2 minhash tier — ~20M md5 digests +
  * 77k-pair verify — was a chain of tasks=1 stages; 13.9 s where the
  * DuckDB oracle needs 0.2 s). Bytes are the wrong currency for
  * compute-heavy narrow rows. An EXPLICIT partition count plans as
  * REPARTITION_BY_NUM, which AQE's coalescer exempts (user-pinned),
  * so the fan-out survives. The count comes from the session's
  * configured shuffle parallelism — the same knob a cluster operator
  * already sizes to the executor fleet — not a hardcoded constant.
  * (SimQueries' cosine-cell fan-out has used this form since r18 for
  * the same reason; r20 extends it to every kernel fan-out.)
  */
object Fanout {
  def byKey(df: DataFrame, key: Column): DataFrame =
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, key)

  /** Row-group-aware repartition-after-read for scan stages that FUSE
    * heavy compute (partial aggregation, Expand for count-distinct /
    * grouping sets, per-row kernels) into the scan (guide §2.5 "input
    * skew: one huge unsplittable file ... repartition immediately
    * after the read"). Parquet reads parallelize at ROW-GROUP
    * granularity — Spark's byte-range splits hand every row of a row
    * group to the split holding the group's midpoint — and the
    * fixture tables are written as ONE row group per file, so the
    * whole scan stage runs serial no matter how `maxPartitionBytes`
    * is tuned (measured r20-opt: q_agg_pricing_summary = one 936 ms
    * 3-task stage whose single non-empty task does the 600k-row
    * DECIMAL partial aggregation; with the spread, 1.13 → 0.67 s).
    *
    * The spread only happens when the input's total row-group count
    * is BELOW the session's shuffle parallelism: at production scale
    * a table carries thousands of row groups, the scan is already
    * parallel, and the extra exchange (which would shuffle raw rows
    * and defeat map-side partial aggregation) must never happen —
    * this gate keeps the plan choice scale-adaptive rather than tuned
    * to local[32] (both branches are row-identical; only partitioning
    * changes). Row-group counts are parquet FOOTER metadata, read
    * once per (file, mtime, size) on the driver — the same class of
    * planning-time metadata as Spark's own file listing, not a data
    * pass. Callers project/filter BEFORE spreading so the exchange
    * carries only the needed columns (guide §2.3). */
  def spreadScan(df: DataFrame, key: Column, paths: String*): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    val groups = paths.map(rowGroups(df.sparkSession, _)).sum
    if (groups < parts) byKey(df, key) else df
  }

  /** Total parquet row groups under `path` (file or directory of
    * `*.parquet`), from the memoized footers ([[graft.rel.Tables.footer]]). */
  private[graft] def rowGroups(
      s: org.apache.spark.sql.SparkSession, path: String): Int = {
    val conf = s.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val root = fs.getFileStatus(p)
    val files =
      if (root.isDirectory)
        fs.listStatus(p).filter(_.getPath.getName.endsWith(".parquet"))
      else Array(root)
    files.map(graft.rel.Tables.footer(s, _, conf).rowGroups).sum
  }
}
