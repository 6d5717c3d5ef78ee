package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Decompose the persist-barrier price (VERDICT r16 next #2): for the
  * array-carrying barrier shape the text/sim tiers share (doc_id +
  * a ~400-element string-array column), time (a) the barrier build
  * (first materialize) and (b) a downstream consumer pass, under each
  * barrier implementation:
  *
  *  - `localCheckpoint(false)` — the local mode leg;
  *  - `persist(MEMORY_AND_DISK)` — the persist leg (kept lineage,
  *    InMemoryRelation columnar cache);
  *  - `persist(DISK_ONLY)` — the pre-r17 persist leg;
  *  - no barrier at all — the recompute-per-consumer floor.
  *
  * Prints one JSON line per variant. Usage:
  * `tools/run_bench.sh /tmp/out graft.tools.BarrierCostProbe [sfDir]`. */
object BarrierCostProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)

    def base(): DataFrame =
      graft.rel.Tables.documents(spark, sfDir)
        .repartition(col("doc_id"))
        .select(col("doc_id"), col("lang"),
          expr("ngram3_set(text)").as("gs"))

    def consume(df: DataFrame): Unit = {
      // the langIdNgram consumer shape: explode + aggregate
      df.select(col("doc_id"), explode(col("gs")).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("c"))
        .write.format("noop").mode("overwrite").save()
    }

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    // warm-up: JIT + parquet footers
    consume(base())

    val variants: Seq[(String, () => (DataFrame, () => Unit))] = Seq(
      ("none", () => (base(), () => ())),
      ("localCheckpoint", () => {
        val df = base().localCheckpoint(false)
        (df, () => { df.unpersist(true); () })
      }),
      ("persist_mem_disk", () => {
        val df = base().persist(StorageLevel.MEMORY_AND_DISK)
        (df, () => { df.unpersist(true); () })
      }),
      ("persist_disk_only", () => {
        val df = base().persist(StorageLevel.DISK_ONLY)
        (df, () => { df.unpersist(true); () })
      }),
      // the r17 persist leg: row-block RDD persist, lineage kept
      ("persist_row_blocks", () => {
        val (df, rdd) = org.apache.spark.sql.graftshim.BarrierShim
          .persistRowBlocksHandle(base(),
            StorageLevel.MEMORY_AND_DISK)
        (df, () => { rdd.unpersist(true); () })
      }))
    for ((name, mk) <- variants) {
      val reps = 3
      val (builds, reads) = (0 until reps).map { _ =>
        val (df, cleanup) = mk()
        val b = timed(consume(df)) // first pass builds the barrier
        val r = timed(consume(df)) // second pass reads it
        val r2 = timed(consume(df))
        cleanup()
        (b, math.min(r, r2))
      }.unzip
      println(f"""{"variant":"$name","build_sec":${builds.min}%.3f,""" +
        f""""read_sec":${reads.min}%.3f}""")
    }
    spark.stop()
  }
}
