package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quality grading for the text-dedup tiers (VERDICT r15 next #2):
  * the oracle gate proves each tier matches its own DEFINITION, and
  * RECALL.json grades the similarity tier as approximate search —
  * this probe applies the same treatment to dedup, grading the tiers
  * as CLASSIFIERS over planted near-duplicates whose ground truth is
  * known by construction. It writes `DEDUP_QUALITY.json` with two
  * layers per tier and scale:
  *
  *  1. **detection** — per plant type, the fraction of (source,
  *     plant) pairs the tier reports. The plants are chosen to pull
  *     the tiers apart (each is a real dedup case from the C4/CCNet/
  *     Lee-et-al literature):
  *     - `copy`          byte-identical duplicate (every tier's floor)
  *     - `tail_chrome`   a shared boilerplate sentence appended —
  *                       the crawler-chrome case n-gram dedup exists for
  *     - `word_swap`     every 25th word replaced — small-edit near-dup,
  *                       simhash's home turf, *below* minhash's J≥0.8
  *                       for typical doc lengths (measured, not hidden)
  *     - `shuffle_half`  the word sequence rotated by half — bag-of-words
  *                       invariant (simhash hamming 0) but n-gram-visible
  *     - `span_copy`     a 10-word span quoted inside otherwise-unique
  *                       filler — only the span tier should fire
  *     - `paraphrase`    every word rewritten (deterministically) — NO
  *                       text tier should fire; the honest 0-recall line
  *                       that motivates the semantic tier
  *  2. **truth P/R** — precision/recall of the tier's reported pairs
  *     against the EXACT brute-force evaluation of its own predicate
  *     over the planted universe U = sources ∪ plants (|U| ≈ 7·S, so
  *     U² brute force is feasible here precisely because it is the
  *     quadratic plan the production tiers exist to avoid — the
  *     RecallProbe.neardupTruth pattern). For minhash/ngram the
  *     verify stage is exact, so precision is expected to be 1.0 and
  *     recall isolates the LSH-band / (fp, lenb)-block candidate
  *     loss; for simhash the 9-band cover is pigeonhole-exhaustive at
  *     hamming ≤ 8, so BOTH should be 1.0 unless a bucket cap
  *     engages — DedupQualitySpec pins these expectations at the
  *     fixture scale.
  *
  * Embedding plants (`vec + 1e-3·e0`, cosine ≈ 1) grade the semantic
  * tier the same way: detection = plant grouped with its source —
  * misses are SemDeDup's documented cell-split failure mode, on the
  * record rather than assumed away.
  *
  * Everything is deterministic (plants are closed-form functions of
  * the source rows; no RNG), so the measured rates are exact
  * reproducible numbers, pinned as lower bounds by DedupQualitySpec
  * at sf0.01.
  *
  * Usage: `runMain graft.tools.DedupQualityProbe [dir ...]`
  * (default: /root/testdata/sf0.1 /tmp/graft_sf1).
  */
object DedupQualityProbe {

  /** The shared boilerplate sentence for tail_chrome (12 words). */
  val Chrome: String =
    "subscribe to our newsletter and follow us for more updates every day"

  val PlantTypes: Seq[String] = Seq("copy", "tail_chrome", "word_swap",
    "shuffle_half", "span_copy", "paraphrase")

  private def fmt4(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(x))

  /** Build the planted corpus under `outDir` (documents.parquet +
    * embeddings.parquet) and return (plants bookkeeping
    * (src_id, plant_id, typ), embedding plants (src_vec, plant_vec),
    * n_sources). Sources: every `step`-th document with ≥ 80 words
    * (capped at 500 so the probe's brute-force truth stays bounded at
    * any corpus size); plant ids are appended above max(doc_id). */
  def plantCorpus(s: SparkSession, d: String, outDir: String)
      : (DataFrame, DataFrame, Long) = {
    val docs = graft.rel.Tables.documents(s, d)
      .select("doc_id", "text", "lang", "source")
    val maxId = docs.agg(max("doc_id")).first().getLong(0)
    val nDocs = docs.count()
    val eligible = docs.withColumn("arr", split(col("text"), " "))
      .filter(size(col("arr")) >= 80)
    val nElig = eligible.count()
    val sCap = math.min(math.max(nDocs / 20, 1), 500L)
    val step = math.max(1L, nElig / sCap)
    // single-partition window: fine for a ≤50k-row probe selection
    val sources = eligible
      .withColumn("rn", row_number().over(Window.orderBy("doc_id")))
      .filter((col("rn") - 1) % step === 0)
      .withColumn("srcRank", row_number().over(Window.orderBy("doc_id")))
      .persist()
    val nSources = sources.count()

    val half = (size(col("arr")) / 2).cast("int")
    // filler tokens are HASH-derived, not decimal-id-derived: the old
    // 'fz<doc_id>w<j>' form gave numerically adjacent plants shared
    // char-5-gram prefixes ('fz504…'), and at the 10× replica's
    // 6-digit contiguous id range that similarity genuinely crossed
    // the ngram tier's J ≥ 0.5 bar — span plants merged with EACH
    // OTHER (91 of 512), a plant-design leak, not a tier error
    def fillers(lo: Int, hi: Int): Column = expr(
      s"transform(sequence($lo, $hi), j -> concat('fz', " +
        s"substr(md5(concat(CAST(doc_id AS STRING), 'w', j)), 1, 8)))")
    val textOf: Map[String, Column] = Map(
      "copy" -> col("text"),
      "tail_chrome" -> concat(col("text"), lit(" " + Chrome)),
      "word_swap" -> array_join(expr(
        "transform(arr, (w, i) -> IF(i % 25 = 12, concat('zqx', i), w))"),
        " "),
      "shuffle_half" -> array_join(
        concat(slice(col("arr"), half + lit(1), size(col("arr"))),
          slice(col("arr"), lit(1), half)), " "),
      "span_copy" -> array_join(
        concat(fillers(0, 39), slice(col("arr"), half - lit(4), lit(10)),
          fillers(40, 79)), " "),
      "paraphrase" -> array_join(
        expr("transform(arr, w -> reverse(w))"), " "))

    val plantDocs = PlantTypes.zipWithIndex.map { case (typ, ti) =>
      sources.select(
        (lit(maxId + 1) + (col("srcRank") - 1) * PlantTypes.size + ti)
          .cast("long").as("doc_id"),
        textOf(typ).as("text"), col("lang"), col("source"),
        col("doc_id").as("src_id"), lit(typ).as("typ"))
    }.reduce(_.unionByName(_)).persist()
    plantDocs.count()

    val merged = docs
      .unionByName(plantDocs.select("doc_id", "text", "lang", "source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
    merged.repartition(8).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")

    // embedding plants: every 20th vector, first coordinate nudged by
    // 1e-3 — cosine ≈ 1 ≫ the tier's tau = 0.4
    val emb = s.read.parquet(s"$d/embeddings.parquet")
    val maxVec = emb.agg(max("vec_id")).first().getLong(0)
    val embPlants = emb.filter(col("vec_id") % 20 === 10)
      .select(col("vec_id").as("src_vec"),
        (lit(maxVec + 1) + (col("vec_id") - 10) / 20).cast("long")
          .as("plant_vec"),
        expr("transform(embedding, (x, i) -> " +
          "IF(i = 0, CAST(x + 0.001 AS FLOAT), x))").as("embedding"),
        col("label"))
      .persist()
    val nNudge = embPlants.count()
    // PARAPHRASE-correlated plants (VERDICT r16 next #1): the text
    // tiers' measured paraphrase blind spot (0.0 across minhash/
    // simhash/ngram) is the semantic tier's reason to exist — grade it
    // on that plant type, not only on near-identical nudges. A
    // paraphrase pair's embeddings agree on meaning but not bytes:
    // model it as v' = v + 0.3·shift(v) (each coordinate picks up 30%
    // of its right neighbor, deterministic, no RNG) — cosine ≈
    // 1/√1.09 ≈ 0.958 for i.i.d.-ish coords, the "same meaning,
    // different words" regime reported for sentence encoders, well
    // above the tier's τ = 0.4 but far enough from 1 that IVF
    // cell-splits can actually happen (the honest failure mode).
    val embPara = emb.filter(col("vec_id") % 20 === 5)
      .select(col("vec_id").as("src_vec"),
        (lit(maxVec + 1) + lit(nNudge)
          + (col("vec_id") - 5) / 20).cast("long").as("plant_vec"),
        expr("transform(embedding, (x, i) -> CAST(x + 0.3 * " +
          "element_at(embedding, (CAST(i AS INT) + 1) % " +
          "size(embedding) + 1) AS FLOAT))").as("embedding"),
        col("label"))
      .persist()
    embPara.count()
    emb.unionByName(embPlants.select(col("plant_vec").as("vec_id"),
        col("embedding"), col("label")))
      .unionByName(embPara.select(col("plant_vec").as("vec_id"),
        col("embedding"), col("label")))
      .repartition(8).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")

    val plants = plantDocs.select("src_id", "doc_id", "typ")
      .withColumnRenamed("doc_id", "plant_id")
    (plants,
      embPlants.select("src_vec", "plant_vec")
        .withColumn("typ", lit("embed_nudge"))
        .unionByName(embPara.select("src_vec", "plant_vec")
          .withColumn("typ", lit("paraphrase"))),
      nSources)
  }

  /** (expected, found) per plant type: how many (src, plant) pairs the
    * tier's (d1, d2) output contains. Plant ids exceed every base id,
    * so the pair always orders (src, plant). */
  def detection(pairs: DataFrame, plants: DataFrame)
      : Seq[(String, Long, Long)] = {
    val exp = plants.select(col("src_id").as("d1"),
      col("plant_id").as("d2"), col("typ"))
    val hit = exp.join(pairs.select("d1", "d2"), Seq("d1", "d2"),
      "left_semi").groupBy("typ").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tot = exp.groupBy("typ").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    PlantTypes.map(t => (t, tot.getOrElse(t, 0L), hit.getOrElse(t, 0L)))
  }

  /** (truth, found, tp): the tier's U²-restricted pairs vs the exact
    * predicate truth over the same universe. */
  def prVsTruth(found: DataFrame, truth: DataFrame): (Long, Long, Long) = {
    val t = truth.select("d1", "d2").distinct().persist()
    val f = found.select("d1", "d2").distinct().persist()
    val nT = t.count(); val nF = f.count()
    val tp = t.join(f, Seq("d1", "d2"), "left_semi").count()
    t.unpersist(false); f.unpersist(false)
    (nT, nF, tp)
  }

  /** Exact word-k-gram Jaccard ≥ 0.8 over the universe — the minhash
    * tier's verify predicate without its LSH candidate stage (k = 3
    * for the default tier, k = 2 for the registered dial). Pairs
    * via a shared-shingle inverted index (complete for J > 0). */
  def minhashTruth(uDocs: DataFrame, k: Int = 3,
      hot: Option[DataFrame] = None): DataFrame = {
    val parts = (1 to k).map(j => s"element_at(arr, i + $j)")
      .mkString(", ")
    val sh0 = uDocs.select(col("doc_id"), explode(array_distinct(expr(
      s"""IF(size(arr) >= $k,
        |  transform(sequence(0, size(arr) - $k), i -> concat_ws(' ',
        |    $parts)),
        |  CAST(array() AS ARRAY<STRING>))""".stripMargin)))
      .as("sh"))
    // DF-filtered variant (r20): the de-chromed tier's predicate is
    // J ≥ 0.8 over the SURVIVING shingle sets — drop the corpus-hot
    // shingles before the inverted index, like ngramDfTruth
    val sh = hot.fold(sh0)(h => sh0.join(
      broadcast(h.withColumnRenamed("g", "sh")), Seq("sh"),
      "left_anti")).persist()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.as("a")
      .join(sh.withColumnRenamed("doc_id", "doc2").as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("doc2"))
      .groupBy(col("a.doc_id").as("d1"), col("doc2").as("d2"))
      .agg(count(lit(1)).as("ni"))
    val out = inter
      .join(sizes.select(col("doc_id").as("d1"), col("n_sh").as("s1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n_sh").as("s2")), "d2")
      .filter(round(col("ni") / (col("s1") + col("s2") - col("ni")), 6)
        >= 0.8)
      .select("d1", "d2")
    val pinned = out.localCheckpoint(true)
    sh.unpersist(false)
    pinned
  }

  /** Corpus-wide hot word-k-gram shingle set at the tier's own census
    * (distinct per-doc shingles, df > ChromeDfFrac·n) — feeds
    * [[minhashTruth]]'s DF-filtered variant so truth and tier share
    * the hot definition bit-for-bit. */
  def minhashHotSet(s: SparkSession, scratch: String, k: Int)
      : DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = graft.rel.Tables.documents(s, scratch)
    val nDocs = docs.count()
    docs.select(explode(expr(s"shingles_k(text, $k)")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") >
        lit(nDocs * graft.text.TextQueries.ChromeDfFrac))
      .select("g")
  }

  /** All-pairs J ≥ 0.5 over (doc_id, sorted packed grams) rows via the
    * tier's own close-pairs kernel in 256-doc segment cells (the
    * dedupNgramAt guarded-plan shape, minus the blocking) — truth and
    * tier share arithmetic bit-for-bit. */
  private def closePairsExhaustive(rows: DataFrame): DataFrame = {
    val segs = rows
      .withColumn("rk", row_number().over(Window.orderBy("doc_id")))
      .withColumn("seg", ((col("rk") - 1) / 256).cast("int"))
      .groupBy("seg")
      .agg(collect_list(struct(col("doc_id"), col("grams"))).as("m"))
      .localCheckpoint(true)
    segs.select(col("seg").as("sa"), col("m").as("ma"))
      .crossJoin(broadcast(
        segs.select(col("seg").as("sb"), col("m").as("mb"))))
      .filter(col("sa") <= col("sb"))
      .select(explode(expr("ngram_close_pairs_x(ma, mb, sa = sb)"))
        .as("p"))
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"))
  }

  /** Exact char-5-gram Jaccard ≥ 0.5 over the universe — the ngram
    * tier's kernel predicate without its (fp, lenb) blocking stage. */
  def ngramTruth(uDocs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(uDocs.sparkSession)
    closePairsExhaustive(uDocs.select(col("doc_id"),
      expr("ngram5_packed(text)").as("grams")))
  }

  /** Exact DE-CHROMED char-5-gram Jaccard ≥ 0.5 over the universe —
    * the DF-filtered ngram tier's own predicate (VERDICT r16 next #1)
    * without its (lenb, two-band fp) blocking stage. The hot set is
    * computed over the FULL merged corpus with the tier's own census
    * (packed distinct grams, df > ChromeDfFrac·n), exactly as the
    * tier does, so precision isolates verify leaks (expected 1.0) and
    * recall isolates the blocking loss. Docs whose every gram is
    * chrome drop out on both sides (the C4 convention). */
  def ngramDfTruth(s: SparkSession, scratch: String,
      uDocs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = graft.rel.Tables.documents(s, scratch)
    val nDocs = docs.count()
    val hot = docs
      .select(explode(expr("ngram5_packed(text)")).as("g"))
      .groupBy("g").agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") >
        lit(nDocs * graft.text.TextQueries.ChromeDfFrac))
      .select("g")
    val dechromed = uDocs
      .select(col("doc_id"), explode(expr("ngram5_packed(text)")).as("g"))
      .join(broadcast(hot), Seq("g"), "left_anti")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("g"))).as("grams"))
    closePairsExhaustive(dechromed)
  }

  /** Exact 64-bit simhash Hamming ≤ 8 over the universe: the tier's
    * own signature kernel, all-pairs XOR+popcount (no banding). */
  def simhashTruth(uDocs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(uDocs.sparkSession)
    val sig = uDocs
      .select(col("doc_id"), expr("simhash64(text)").as("g"))
      .select(col("doc_id"), col("g.sim_lo").as("lo"),
        col("g.sim_hi").as("hi"))
      .localCheckpoint(true)
    val a = sig.select(col("doc_id").as("d1"), col("lo").as("lo1"),
      col("hi").as("hi1"))
    val b = sig.select(col("doc_id").as("d2"), col("lo").as("lo2"),
      col("hi").as("hi2"))
    a.crossJoin(broadcast(b)).filter(col("d1") < col("d2"))
      .filter(expr("bit_count(lo1 ^ lo2) + bit_count(hi1 ^ hi2)") <= 8)
      .select("d1", "d2")
  }

  case class TierLine(tier: String, det: Seq[(String, Long, Long)],
      truth: Option[(Long, Long, Long)], extra: String = "") {
    def json: String = {
      val dj = det.map { case (t, e, h) =>
        s""""$t":{"expected":$e,"found":$h,"rate":${fmt4(
          if (e == 0) 1.0 else h.toDouble / e)}}"""
      }.mkString("{", ",", "}")
      val tj = truth.map { case (nT, nF, tp) =>
        s""","truth_pairs":$nT,"found_pairs":$nF,"tp":$tp""" +
        s""","precision":${fmt4(if (nF == 0) 1.0 else tp.toDouble / nF)}""" +
        s""","recall":${fmt4(if (nT == 0) 1.0 else tp.toDouble / nT)}"""
      }.getOrElse("")
      s"""{"tier":"$tier","detection":$dj$tj$extra}"""
    }
  }

  /** Build the PIPELINE probe corpus under `outDir`: the SAME merged
    * documents [[plantCorpus]] wrote to `docsDir`, plus embeddings
    * ALIGNED to them (vec_id == doc_id for every doc — the pipeline's
    * contract; plantCorpus's embed-only plants live in a separate id
    * region that would alias the doc plants, so they are replaced
    * here). Base vectors are unchanged; each doc plant carries a
    * deterministic transform of its source's vector modeling the text
    * relation: identical for copy; neighbor-shift mixes of growing
    * weight for tail_chrome (0.05), word_swap (0.15), shuffle_half
    * (0.2); the plantCorpus paraphrase model (0.3, cos ≈ 0.958 — the
    * plant only the semantic tier can catch). span_copy plants get NO
    * embedding: their content is genuinely unique, and any synthetic
    * direction risks a spurious cosine hit on the structured corpus
    * (measured: a pure neighbor-shift — cos ≈ 0 to its OWN source —
    * still landed ≥ 0.4 from unrelated base vectors and merged 4 of
    * 25 plants); a vector-less doc is also the common production case
    * the pipeline must handle (no semantic edges, text tiers only). */
  def plantPipelineCorpus(s: SparkSession, d: String, docsDir: String,
      outDir: String, plants: DataFrame): Unit = {
    s.read.parquet(s"$docsDir/documents.parquet")
      .repartition(8).write.mode("overwrite")
      .parquet(s"$outDir/documents.parquet")
    val emb = s.read.parquet(s"$d/embeddings.parquet")
    val shift =
      "element_at(embedding, (CAST(i AS INT) + 1) % size(embedding) + 1)"
    val plantVecs = plants
      .filter(col("typ") =!= "span_copy")
      .join(emb.withColumnRenamed("vec_id", "src_id"), "src_id")
      .select(col("plant_id").as("vec_id"),
        expr(s"""transform(embedding, (x, i) -> CAST(
          |  CASE typ
          |    WHEN 'copy' THEN x
          |    WHEN 'tail_chrome' THEN x + 0.05 * $shift
          |    WHEN 'word_swap' THEN x + 0.15 * $shift
          |    WHEN 'shuffle_half' THEN x + 0.2 * $shift
          |    ELSE x + 0.3 * $shift
          |  END AS FLOAT))""".stripMargin).as("embedding"),
        col("label"))
    emb.unionByName(plantVecs)
      .repartition(8).write.mode("overwrite")
      .parquet(s"$outDir/embeddings.parquet")
  }

  /** Grade the composed `q_dedup_pipeline` on the aligned corpus:
    * merge types are detected when (src, plant) share a cluster rep;
    * span_copy when the plant SURVIVES doc-dedup and its planted
    * 10-word span was removed (≥ 6 duplicated interior windows, the
    * span-tier criterion) — CONDITIONED on the source itself
    * surviving: when the source is merged under a lower-id base
    * near-dup, the span's only surviving occurrence IS the plant and
    * C4 semantics on the deduped corpus keeps it (the unconditional
    * rate would punish correct behavior; the conditioning shows in
    * the expected count). The extra fields record the end-to-end
    * wall time and the survivor count — the pipeline's actual
    * production outputs. */
  def pipelineLine(s: SparkSession, scratch2: String,
      plants: DataFrame): TierLine = {
    val t0 = System.nanoTime()
    val out = graft.SparkEntry.queries("q_dedup_pipeline")(s, scratch2)
      .select("doc_id", "rep", "keep", "n_tokens", "n_kept")
      .localCheckpoint(true)
    val sec = (System.nanoTime() - t0) / 1e9
    val rep = out.select("doc_id", "rep")
    val merged = plants.filter(col("typ") =!= "span_copy")
      .join(rep.select(col("doc_id").as("src_id"),
        col("rep").as("rep_s")), "src_id")
      .join(rep.select(col("doc_id").as("plant_id"),
        col("rep").as("rep_p")), "plant_id")
      .filter(col("rep_s") === col("rep_p"))
      .groupBy("typ").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val srcSurvived = out.filter(col("keep"))
      .select(col("doc_id").as("src_id"))
    val spEligible = plants.filter(col("typ") === "span_copy")
      .join(srcSurvived, Seq("src_id"), "left_semi")
      .localCheckpoint(true)
    val spExp = spEligible.count()
    val spHit = spEligible
      .join(out.withColumnRenamed("doc_id", "plant_id"), "plant_id")
      .filter(col("keep") && col("n_tokens") - col("n_kept") >= 6)
      .count()
    // paraphrase is detectable ONLY through a semantic edge, and a
    // semantic edge needs the plant's vector to exist — at sf0.1 only
    // 40% of docs carry embeddings (the multimodal-corpus reality),
    // so the unconditional rate would measure embedding COVERAGE, not
    // the pipeline. Condition on the plant having a vector (the
    // expected count shows the coverage); every other merge type is
    // text-detectable and stays unconditional.
    val emb2 = s.read.parquet(s"$scratch2/embeddings.parquet")
      .select(col("vec_id").as("plant_id"))
    val paraEligible = plants.filter(col("typ") === "paraphrase")
      .join(emb2, Seq("plant_id"), "left_semi")
      .select("src_id", "plant_id").localCheckpoint(true)
    val paraExp = paraEligible.count()
    val paraHit = paraEligible
      .join(rep.select(col("doc_id").as("src_id"),
        col("rep").as("rep_s")), "src_id")
      .join(rep.select(col("doc_id").as("plant_id"),
        col("rep").as("rep_p")), "plant_id")
      .filter(col("rep_s") === col("rep_p")).count()
    val tot = plants.groupBy("typ").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val det = PlantTypes.map { t =>
      if (t == "span_copy") (t, spExp, spHit)
      else if (t == "paraphrase") (t, paraExp, paraHit)
      else (t, tot.getOrElse(t, 0L), merged.getOrElse(t, 0L))
    }
    val nDocs = out.count()
    val nSurv = out.filter(col("keep")).count()
    TierLine("pipeline", det, None,
      s""","n_docs":$nDocs,"n_survivors":$nSurv,"sec":${fmt4(sec)}""")
  }

  /** All tier lines + the minhash dial for one dataset dir (the probe
    * body; also used by DedupQualitySpec at the fixture scale). */
  def probe(s: SparkSession, d: String, scratch: String)
      : (Seq[TierLine], Seq[DialLine]) = {
    val (plants, embPlants, _) = plantCorpus(s, d, scratch)
    plants.persist(); plants.count()

    // the planted universe U and its docs (from the merged corpus, so
    // text bytes are exactly what the tiers saw)
    val uIds = plants.select(col("src_id").as("doc_id"))
      .unionByName(plants.select(col("plant_id").as("doc_id"))).distinct()
    val uDocs = graft.rel.Tables.documents(s, scratch)
      .join(uIds, Seq("doc_id"), "left_semi")
      .withColumn("arr", split(col("text"), " "))
      .localCheckpoint(true)

    def uPairs(df: DataFrame): DataFrame =
      df.join(uIds.withColumnRenamed("doc_id", "d1"), Seq("d1"), "left_semi")
        .join(uIds.withColumnRenamed("doc_id", "d2"), Seq("d2"), "left_semi")

    val q = graft.SparkEntry.queries
    val mh = q("q_dedup_minhash")(s, scratch).select("d1", "d2")
      .localCheckpoint(true)
    val sh = q("q_dedup_simhash")(s, scratch).select("d1", "d2")
      .localCheckpoint(true)
    val ng = q("q_dedup_ngram")(s, scratch).select("d1", "d2")
      .localCheckpoint(true)

    val mhLine = TierLine("minhash", detection(mh, plants),
      Some(prVsTruth(uPairs(mh), minhashTruth(uDocs))))
    // the registered k=2 dial (VERDICT r17 next #2): same banded
    // chain, word-2-gram shingles — its own brute-forced truth at the
    // SAME predicate (word-2-gram J ≥ 0.8), so precision isolates
    // verify leaks and recall the banding loss, exactly like the
    // default tier's row
    val mhK2 = q("q_dedup_minhash_k2")(s, scratch).select("d1", "d2")
      .localCheckpoint(true)
    val mhK2Line = TierLine("minhash_k2", detection(mhK2, plants),
      Some(prVsTruth(uPairs(mhK2), minhashTruth(uDocs, k = 2))))
    // the DF-filtered k2 tier (VERDICT r19 next #1): its predicate is
    // J ≥ 0.8 over DE-CHROMED shingle sets, so it gets its OWN truth
    // with the tier's hot census; at probe density the planted chrome
    // IS hot, so tail_chrome plants become near-copies to this tier
    // while word_swap detection must hold (~1.0 — the k2 dial's
    // whole point, now without the chrome tail)
    val mhDf = q("q_dedup_minhash_df")(s, scratch).select("d1", "d2")
      .localCheckpoint(true)
    val mhDfLine = TierLine("minhash_df", detection(mhDf, plants),
      Some(prVsTruth(uPairs(mhDf), minhashTruth(uDocs, k = 2,
        hot = Some(minhashHotSet(s, scratch, 2))))))
    val shLine = TierLine("simhash", detection(sh, plants),
      Some(prVsTruth(uPairs(sh), simhashTruth(uDocs))))
    val ngLine = TierLine("ngram", detection(ng, plants),
      Some(prVsTruth(uPairs(ng), ngramTruth(uDocs))))
    // the DF variant: its predicate differs from the base tier's (hot
    // grams dropped from the sets), so it gets its OWN brute-forced
    // truth — de-chromed J ≥ 0.5 with the corpus-wide hot census
    // (VERDICT r16 next #1). The detection profile additionally shows
    // what de-chroming does to each plant type (at probe density the
    // shared chrome IS hot, so tail_chrome plants become near-exact
    // copies to this tier).
    val ngDf = q("q_dedup_ngram_df")(s, scratch).select("d1", "d2")
      .localCheckpoint(true)
    val ngDfLine = TierLine("ngram_df", detection(ngDf, plants),
      Some(prVsTruth(uPairs(ngDf), ngramDfTruth(s, scratch, uDocs))))

    // exact tier: a copy plant is detected iff its content-hash group
    // reports n_copies >= 2 (keep_id may be an even-earlier base dup)
    val ex = q("q_dedup_exact")(s, scratch)
    val srcHash = uDocs.select(col("doc_id"), md5(col("text"))
      .as("content_hash"))
    val exHit = plants.filter(col("typ") === "copy")
      .join(srcHash.withColumnRenamed("doc_id", "src_id"), "src_id")
      .join(ex.filter(col("n_copies") >= 2), Seq("content_hash"),
        "left_semi")
    val exLine = TierLine("exact",
      Seq(("copy", plants.filter(col("typ") === "copy").count(),
        exHit.count())), None)

    // span tier: a span_copy plant is detected iff the duplicated
    // 10-word span was removed from it (>= 6 interior windows dup)
    val sp = q("q_span_dedup")(s, scratch)
    val spPlants = plants.filter(col("typ") === "span_copy")
    val spHit = spPlants
      .join(sp.withColumnRenamed("doc_id", "plant_id"), "plant_id")
      .filter(col("n_tokens") - col("n_kept") >= 6)
    val spLine = TierLine("span",
      Seq(("span_copy", spPlants.count(), spHit.count())), None)

    // semantic tier: plant grouped with its source vector, per plant
    // type — embed_nudge (cosine ≈ 1) and PARAPHRASE (cosine ≈ 0.958,
    // the plant the text tiers measurably miss; see plantCorpus)
    def semTier(label: String, qname: String): TierLine = {
      val sem = q(qname)(s, scratch)
        .select(col("vec_id"), col("sem_rep")).localCheckpoint(true)
      val semHit = embPlants
        .join(sem.select(col("vec_id").as("src_vec"),
          col("sem_rep").as("rep_s")), "src_vec")
        .join(sem.select(col("vec_id").as("plant_vec"),
          col("sem_rep").as("rep_p")), "plant_vec")
        .filter(col("rep_s") === col("rep_p"))
        .groupBy("typ").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val semTot = embPlants.groupBy("typ").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      TierLine(label,
        Seq("embed_nudge", "paraphrase").map(t =>
          (t, semTot.getOrElse(t, 0L), semHit.getOrElse(t, 0L))), None)
    }
    val semLine = semTier("semantic", "q_dedup_semantic")
    // the occupancy-scaled tier (VERDICT r18 next #1 done-criterion:
    // it must not LOSE the fixed fit's paraphrase detection) — at the
    // sf0.1 probe corpus n > 1024 so K > 16 and this genuinely grades
    // the scaled quantizer, not the shared floor fit
    val semScaledLine =
      semTier("semantic_scaled", "q_dedup_semantic_scaled")

    // the composed pipeline, on its own ALIGNED corpus (same docs,
    // vec_id == doc_id embeddings — see plantPipelineCorpus)
    val scratch2 = s"${scratch}_pipe"
    plantPipelineCorpus(s, d, scratch, scratch2, plants)
    val pipeLine = pipelineLine(s, scratch2, plants)

    (Seq(exLine, mhLine, mhK2Line, mhDfLine, shLine, ngLine, ngDfLine,
      spLine, semLine, semScaledLine, pipeLine),
      minhashDial(s, scratch, plants))
  }

  case class DialLine(shingleK: Int, seeds: Int, rowsPerBand: Int,
      pairs: Long, sec: Double, det: Seq[(String, Long, Long)]) {
    def json: String = {
      val dj = det.map { case (t, e, h) =>
        s""""$t":{"expected":$e,"found":$h,"rate":${fmt4(
          if (e == 0) 1.0 else h.toDouble / e)}}"""
      }.mkString("{", ",", "}")
      s"""{"shingle_k":$shingleK,"seeds":$seeds,""" +
        s""""rows_per_band":$rowsPerBand,"bands":${seeds / rowsPerBand},""" +
        s""""pairs":$pairs,"sec":${fmt4(sec)},"detection":$dj}"""
    }
  }

  /** The minhash shingle/band dial (VERDICT r16 next #4): the tier's
    * word_swap detection is 0.23 at k=3 because a single swapped word
    * kills 3 shingles (J ≈ 22/28 = 0.79, just under the 0.8 verify
    * bar); at k=2 the same edit costs 2 shingles (J ≈ 23/27 = 0.85,
    * over the bar). This sweep measures that detection/cost curve —
    * shingle k ∈ {2, 3} × bands ∈ {4, 8} (seeds 8/16, 2 rows per
    * band) — on the planted corpus, pairs + wall time as the cost
    * axis. The registered tier keeps the oracle-pinned (k=3, 4 bands)
    * unless the curve says otherwise: k=2 buys word_swap recall at a
    * measured pair-volume price (less-discriminative shingles ⇒ more
    * candidates AND more sub-0.8-at-k=3 pairs now passing, a
    * PREDICATE change, not just a blocking change). */
  def minhashDial(s: SparkSession, scratch: String,
      plants: DataFrame): Seq[DialLine] =
    for (shingleK <- Seq(2, 3); seeds <- Seq(8, 16)) yield {
      // the signature barrier is a shared artifact: evict it so every
      // point pays its own signature build
      graft.text.TextQueries.evictShared(s)
      val t0 = System.nanoTime()
      val pairs = graft.text.TextQueries
        .minhashPairsAt(s, scratch, seeds, 2, shingleK)
        .select("d1", "d2").localCheckpoint(true)
      val n = pairs.count()
      val sec = (System.nanoTime() - t0) / 1e9
      DialLine(shingleK, seeds, 2, n, sec, detection(pairs, plants))
    }

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft_sf1")
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sections = dirs.map { d =>
      val name = new java.io.File(d).getName
      val scratch = s"/tmp/graft_dedupq_$name"
      val (lines, dial) = probe(spark, d, scratch)
      lines.foreach(l => println(s"[dedupq] $d ${l.json}"))
      dial.foreach(l => println(s"[dedupq] $d dial ${l.json}"))
      s"""{"dir":"$d","tiers":[${lines.map(_.json).mkString(",")}],""" +
        s""""minhash_dial":[${dial.map(_.json).mkString(",")}]}"""
    }
    val base = sys.props.getOrElse("graft.base", sys.props("user.dir"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(base, "DEDUP_QUALITY.json"),
      s"""{"metric":"dedup_quality","sections":[${
        sections.mkString(",")}]}""" + "\n")
    println(s"[dedupq] wrote $base/DEDUP_QUALITY.json")
    spark.stop()
  }
}
