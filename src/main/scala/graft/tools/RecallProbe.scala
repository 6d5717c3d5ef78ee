package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Recall grading for the approximate-similarity tier (VERDICT r14
  * next #3): `q_sim_ann_ivf` / `q_sim_ann_pq` / `q_sim_neardup_topk`
  * hash-match their own DEFINED semantics at the oracle gate, but
  * nothing measured them AS approximate search — how much of the
  * exact answer the approximation actually returns. This probe
  * computes edge-set recall@k against exact ground truth and writes
  * `RECALL.json`:
  *
  *  - ANN (ivf, pq): truth = `q_sim_topk`, the brute-force exact
  *    cosine top-5 over the same fixed query set. recall@5 =
  *    |approx ∩ truth| / |truth| on (qid, nid) edges.
  *  - neardup_topk: truth = exact per-vector top-5 among ALL
  *    cos ≥ 0.4 neighbours, computed here by a full O(n²) pass
  *    (broadcast nested-loop over the corpus with the same
  *    scaled-integer `dot_scaled` arithmetic and the same
  *    (cos DESC, id ASC) tiebreak the query pins) — feasible as a
  *    PROBE at these scales precisely because it is the quadratic
  *    plan the production query exists to avoid.
  *
  * Run at sf0.1 (2k vecs, topk bits at the 16 floor) AND the 10×
  * replica (20k vecs → bits 17), so the sharper-code regime past the
  * 2^14 knob floor — the one the DuckDB oracle can only check at the
  * floor — gets graded too (VERDICT r14 wrong #3). All inputs and
  * algorithms are deterministic, so the recalls are exact
  * reproducible numbers, pinned as lower bounds by RecallSpec at
  * sf0.01.
  *
  * Usage: `runMain graft.tools.RecallProbe [dir ...]`
  * (default: /root/testdata/sf0.1 /tmp/graft_sf1).
  */
object RecallProbe {

  /** Exact per-vector top-k among cos ≥ `minCos` neighbours — the
    * ground truth for q_sim_neardup_topk, brute-forced over all
    * unordered pairs with the query's own arithmetic (scaled-integer
    * dot, round 6, ties by neighbour id). */
  def neardupTruth(s: SparkSession, d: String, k: Int,
      minCos: Double): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val v = s.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", sqrt(expr("dot_scaled(emb, emb)") / lit(1e12)))
    val a = v.select(col("vec_id").as("v1"), col("emb").as("e1"),
      col("nrm").as("n1"))
    // broadcast the corpus side: 20k × ~550 B ≈ 11 MB — a nested-loop
    // probe over 400 M candidate dots through the codegen'd kernel
    val b = broadcast(v.select(col("vec_id").as("v2"),
      col("emb").as("e2"), col("nrm").as("n2")))
    val pairs = a.join(b, col("v1") < col("v2"))
      .withColumn("cos_sim", round(
        (expr("dot_scaled(e1, e2)") / lit(1e12)) / (col("n1") * col("n2")),
        6))
      .filter(col("cos_sim") >= minCos)
      .select("v1", "v2", "cos_sim")
    val edges = pairs
      .select(col("v1").as("vec_id"), col("v2").as("nb"), col("cos_sim"))
      .unionByName(pairs.select(col("v2").as("vec_id"),
        col("v1").as("nb"), col("cos_sim")))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos_sim").desc, col("nb"))
    edges.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("vec_id").as("qid"), col("nb").as("nid"),
        col("cos_sim"))
  }

  /** Exact L2 top-k per query vector — the truth PQ should be graded
    * against in addition to the cosine truth: the ADC index RANKS BY
    * SQUARED L2 (its defining metric), so its recall vs the cosine
    * top-5 confounds quantization loss with the metric gap on
    * unnormalized vectors. Same scaled-integer arithmetic
    * (d² = n2sₐ + n2s_b − 2·dot, exact in BIGINT), ties by id. */
  def l2Truth(s: SparkSession, d: String, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val v = s.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("n2s", expr("dot_scaled(emb, emb)"))
    // the SAME fixed query subset the registered queries use — the
    // one shared definition, so the truth can never grade a different
    // query set than the one PQ answers
    val qs = broadcast(graft.sim.SimQueries.queryVecFilter(v)
      .select(col("vec_id").as("qid"), col("emb").as("qemb"),
        col("n2s").as("qn2s")))
    val w = Window.partitionBy("qid").orderBy(col("d2s"), col("vec_id"))
    v.join(qs, col("vec_id") =!= col("qid"))
      .withColumn("d2s",
        col("qn2s") + col("n2s") - expr("2 * dot_scaled(qemb, emb)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vec_id").as("nid"))
  }

  /** (truth rows, hits) of `approx` against `truth` on (qid, nid). */
  def edgeRecall(truth: DataFrame, approx: DataFrame): (Long, Long) = {
    val t = truth.select("qid", "nid").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = t.count()
    val hit = t.join(approx.select("qid", "nid").distinct(),
      Seq("qid", "nid"), "left_semi").count()
    t.unpersist(false)
    (n, hit)
  }

  case class Line(query: String, truthRows: Long, hits: Long) {
    def recall: Double = if (truthRows == 0) 1.0
      else hits.toDouble / truthRows
    def json: String =
      s"""{"query":"$query","truth_rows":$truthRows,"hits":$hits,""" +
      s""""recall":${String.format(java.util.Locale.ROOT, "%.4f",
        Double.box(recall))}}"""
  }

  /** All recall lines for one dataset dir. Each component is graded
    * against the truth that matches ITS contract, plus the
    * cross-metric line where the gap itself is informative:
    *  - ivf ranks by exact cosine within probed cells → cosine truth.
    *  - pq ranks by ADC L2 → L2 truth (quantization loss alone);
    *    the cosine line is kept to show the metric gap on these
    *    unnormalized vectors.
    *  - neardup_topk retrieves via the angular sector code → graded
    *    on the full cos ≥ 0.4 truth, on its TOP DECILE (the densest
    *    band present in the data — this corpus's max pairwise cosine
    *    is ~0.48, so no absolute "near-duplicate" threshold exists to
    *    grade against), and at bits = 12 (wider sectors): the
    *    occupancy knob trades recall for candidate cost BY DESIGN,
    *    and the bits-12 line is the measured evidence that turning
    *    the dial down actually buys recall. */
  def probe(s: SparkSession, d: String): Seq[Line] = {
    val topkTruth = graft.SparkEntry.queries("q_sim_topk")(s, d)
      .select("qid", "nid")
    val ivf = graft.SparkEntry.queries("q_sim_ann_ivf")(s, d)
      .select("qid", "nid")
    val pq = graft.SparkEntry.queries("q_sim_ann_pq")(s, d)
      .select("qid", "nid")
    val nd = graft.SparkEntry.queries("q_sim_neardup_topk")(s, d)
      .select(col("vec_id").as("qid"), col("neighbor_id").as("nid"))
    val ndTruth = neardupTruth(s, d, k = 5, minCos = 0.4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    ndTruth.count()
    val rr = graft.SparkEntry.queries("q_sim_ann_pq_rerank")(s, d)
      .select("qid", "nid")
    // persisted like ndTruth: three lines below grade against this
    // truth, and without the pin the brute-force query × corpus pass
    // re-evaluates per line
    val topkT = topkTruth
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    topkT.count()
    val lines = Seq(
      { val (t, h) = edgeRecall(topkT, ivf)
        Line("q_sim_ann_ivf", t, h) },
      { // IVF's recall/cost dial, measured like the neardup bits sweep
        val ivf8 = graft.sim.SimQueries.simAnnIvfAt(s, d, nprobe = 8)
          .select("qid", "nid")
        val (t, h) = edgeRecall(topkT, ivf8)
        Line("q_sim_ann_ivf_nprobe8", t, h) },
      { // the occupancy-scaled quantizer (K ∝ √n, nprobe ∝ √K):
        // identical to the fixed fit below the 1024-vector floor,
        // K = 71 / nprobe = 9 at the 10× replica — the recall/cost
        // point of the sub-linear (n/√K) probe path
        val sc = graft.SparkEntry.queries("q_sim_ann_ivf_scaled")(s, d)
          .select("qid", "nid")
        val (t, h) = edgeRecall(topkT, sc)
        Line("q_sim_ann_ivf_scaled", t, h) },
      { // the r15 fixed-nprobe-4 policy over the same scaled
        // quantizer — kept on the record so the closed mid-scale dip
        // (0.550 vs the fixed fit's 0.635 at 2k vectors) stays
        // measured, not just remembered
        val sc4 = graft.sim.SimQueries.simAnnIvfScaledAt(s, d, _ => 4)
          .select("qid", "nid")
        val (t, h) = edgeRecall(topkT, sc4)
        Line("q_sim_ann_ivf_scaled_np4", t, h) },
      { val (t, h) = edgeRecall(l2Truth(s, d, 5), pq)
        Line("q_sim_ann_pq_l2", t, h) },
      { val (t, h) = edgeRecall(topkT, pq)
        Line("q_sim_ann_pq_vs_cosine", t, h) },
      { val (t, h) = edgeRecall(topkT, rr)
        Line("q_sim_ann_pq_rerank", t, h) },
      { val (t, h) = edgeRecall(ndTruth, nd)
        Line("q_sim_neardup_topk", t, h) },
      { // exact 90th percentile of the truth similarities
        // (relativeError = 0), so the band is data-relative and
        // deterministic; empty-truth corpora (no pair reaches 0.4)
        // report the empty band instead of crashing the quantile
        val qs90 = ndTruth.stat
          .approxQuantile("cos_sim", Array(0.9), 0.0)
        val (t, h) =
          if (qs90.isEmpty) (0L, 0L)
          else edgeRecall(ndTruth.filter(col("cos_sim") >= qs90(0)), nd)
        Line("q_sim_neardup_topk_top_decile", t, h) },
      { val nd12 = graft.sim.SimQueries
          .simNeardupTopkAt(s, d, bits = 12, k = 5)
          .select(col("vec_id").as("qid"),
            col("neighbor_id").as("nid"))
        val (t, h) = edgeRecall(ndTruth, nd12)
        Line("q_sim_neardup_topk_bits12", t, h) },
      { val nd6 = graft.sim.SimQueries
          .simNeardupTopkAt(s, d, bits = 6, k = 5)
          .select(col("vec_id").as("qid"),
            col("neighbor_id").as("nid"))
        val (t, h) = edgeRecall(ndTruth, nd6)
        Line("q_sim_neardup_topk_bits6", t, h) })
    ndTruth.unpersist(false)
    topkT.unpersist(false)
    lines
  }

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_sf1")
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sections = dirs.map { d =>
      val n = spark.read.parquet(s"$d/embeddings.parquet").count()
      val bits = graft.sim.SimQueries.neardupTopkBits(n)
      val lines = probe(spark, d)
      lines.foreach(l => println(s"[recall] $d ${l.json}"))
      s"""{"dir":"$d","n_vecs":$n,"neardup_topk_bits":$bits,""" +
        s""""k":5,"lines":[${lines.map(_.json).mkString(",")}]}"""
    }
    val base = sys.props.getOrElse("graft.base", sys.props("user.dir"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(base, "RECALL.json"),
      s"""{"metric":"recall_at_5","sections":[${sections.mkString(",")}]}""" +
        "\n")
    println(s"[recall] wrote $base/RECALL.json")
    spark.stop()
  }
}
