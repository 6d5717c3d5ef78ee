package graft.tools

import org.apache.spark.sql.functions._

/** Hot-bucket census across the three guarded dedup families
  * (VERDICT r13 ask #4): reports, for a given data dir, the maximum
  * bucket/block/code population each guard keys on —
  *
  *  - simhash: max (band, bval) bucket under the registered 9-band
  *    layout (cap [[graft.text.TextQueries.SimhashBucketCap]] = 8192
  *    → density tier) plus the max IDENTICAL-signature family
  *    (rotation-proof → identity tier);
  *  - ngram: max (fp, lenb) block (cap
  *    [[graft.text.TextQueries.NgramBlockCap]] = 1024 → segment
  *    cells);
  *  - lsh: max 16-bit code population (cap
  *    [[graft.sim.SimQueries.LshBucketCap]] = 1024 → segment cells).
  *
  * One JSON line to stdout — merged into the skewed-replica bench
  * artifact by tools/mk_bench_skew.py so "the guards engaged on data"
  * is a recorded number, not a claim. Keys mirror the in-code caps so
  * a reader can verify crossing at a glance.
  *
  * Usage: `runMain graft.tools.GuardProbe [dir]`.
  */
object GuardProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    val docs = graft.rel.Tables.documents(spark, dir)

    // simhash: registered 9-band layout, exactly as dedupSimhash keys
    val sig = docs.select(col("doc_id"),
        expr("simhash64(text)").as("s"))
      .select(col("doc_id"), col("s.sim_lo").as("sim_lo"),
        col("s.sim_hi").as("sim_hi"))
      .localCheckpoint(false)
    val banded = sig.select(
      explode(array((0 to 8).map(b => struct(lit(b).as("band"),
        graft.text.TextQueries.bandVal(b).as("bval"))): _*)).as("bd"))
      .select(col("bd.band").as("band"), col("bd.bval").as("bval"))
    val simhashMax = banded.groupBy("band", "bval")
      .agg(count(lit(1)).as("c")).agg(max("c")).first().getLong(0)
    val identMax = sig.groupBy("sim_lo", "sim_hi")
      .agg(count(lit(1)).as("c")).agg(max("c")).first().getLong(0)

    // ngram: (min-fingerprint, length-bucket) block, as dedupNgram keys
    val ngramMax = docs.select(
        floor(length(col("text")) / 100).cast("long").as("lenb"),
        expr("min_fingerprint(text)").as("fp"))
      .groupBy("fp", "lenb").agg(count(lit(1)).as("c"))
      .agg(max("c")).first().getLong(0)

    // lsh: 16-bit sign code population, as simNeardupLsh keys
    val lshMax = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(expr("lsh_code(CAST(embedding AS ARRAY<DOUBLE>), 16)")
        .as("bkt"))
      .groupBy("bkt").agg(count(lit(1)).as("c"))
      .agg(max("c")).first().getLong(0)

    val nDocs = docs.count()
    val nVecs = spark.read.parquet(s"$dir/embeddings.parquet").count()
    println(
      s"""{"dir":"$dir","n_docs":$nDocs,"n_vecs":$nVecs,""" +
        s""""simhash_max_bucket":$simhashMax,"simhash_cap":""" +
        s"${graft.text.TextQueries.SimhashBucketCap}," +
        s""""simhash_max_identical":$identMax,""" +
        s""""ngram_max_block":$ngramMax,"ngram_cap":""" +
        s"${graft.text.TextQueries.NgramBlockCap}," +
        s""""lsh_max_code":$lshMax,"lsh_cap":""" +
        s"${graft.sim.SimQueries.LshBucketCap}}")
    spark.stop()
  }
}
