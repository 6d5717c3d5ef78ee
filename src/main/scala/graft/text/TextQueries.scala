package graft.text

import graft.util.Barrier.BarrierOps
import graft.QueryDef
import graft.rel.Tables
import graft.util.Det.{ratio6, ratio6Sql}
import graft.util.{Fanout, SharedArtifacts}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data text pipeline operators over `documents` (north-star
  * surface, BASELINE.json): exact dedup, MinHash+LSH near-dup, SimHash
  * near-dup, language-ID heuristic, quality scoring, token counting,
  * rolling-hash fingerprinting, per-language stats.
  *
  * Scale design: every pipeline is a chain of narrow projections +
  * keyed aggregations. The LSH candidate join is keyed on (band,
  * bucket-hash) — at 100 TB that shuffle is bounded by bucket
  * cardinality, never all-pairs; the verify step only touches candidate
  * pairs. Hash functions are md5-based so DuckDB computes bit-identical
  * signatures for the oracle compare.
  */
object TextQueries {

  // ---------------------------------------------------------------- exact

  /** Exact dedup: hash-groupBy on content (SURVEY §2.10). One shuffle
    * keyed on the content hash; keeper = min doc_id. */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "content_hash", "n_copies")
      .orderBy("keep_id")

  private val dedupExactSql =
    """SELECT min(doc_id) AS keep_id, md5(text) AS content_hash,
      |  CAST(count(*) AS BIGINT) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  // -------------------------------------------------------------- minhash

  /** Per-doc distinct word-3-gram shingle array, 8-hash MinHash
    * signature and 4 banded bucket keys — one native-kernel call per
    * document (`minhash_doc`, HashKernels.minhashDocRow; SURVEY §2.9 level 3: the
    * HOF-composed form of this signature ran interpreted at
    * O(shingles × 8) md5+concat expression-tree evals per doc).
    * min(md5(seed:shingle)) is a string-min minhash — same total order
    * in both engines. */
  private def docShingles(s: SparkSession, d: String): DataFrame =
    docShinglesAt(s, d, seeds = 8, rowsPerBand = 2)

  private def docShinglesAt(s: SparkSession, d: String, seeds: Int,
      rowsPerBand: Int, shingleK: Int = 3): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Fanout.byKey(Tables.documents(s, d), col("doc_id"))
      // documents is a single parquet split; Fanout spreads it so the
      // kernel runs at full core parallelism (AQE-exempt — see Fanout
      // scaladoc) — the analog of the reference's frame-chunk fan-out
      .select(col("doc_id"),
        expr(s"minhash_doc_banded(text, $seeds, $rowsPerBand, " +
          s"$shingleK)").as("m"))
      .select(col("doc_id"), col("m.sh").as("sh"),
        col("m.bkeys").as("bkeys"))
      .filter(size(col("sh")) > 0)
  }

  /** MinHash+LSH near-duplicate detection (SURVEY §2.10): shingle →
    * 8-hash signature → 4 bands → bucket-join candidates → exact
    * Jaccard verify ≥ 0.8. Candidate generation is a keyed equi-join on
    * (band, bucket) — never an all-pairs cross join — and the shingle
    * work happens once: both join sides project the same plan, so
    * Catalyst reuses the subtree instead of recomputing it. */
  def dedupMinhash(s: SparkSession, d: String): DataFrame =
    dedupMinhashAt(s, d, seeds = 8, rowsPerBand = 2)

  /** (seeds, rowsPerBand) is the LSH S-curve knob for this tier (the
    * text analog of simNeardupLshAt's bits): more rows per band
    * suppresses sub-threshold candidates, more bands raises recall.
    * Aligned bands ⇒ candidates at a larger rowsPerBand are a strict
    * subset of those at a divisor (spec-pinned). The registered query
    * pins (8, 2) to match its oracle. shingleK is the measured
    * word-swap dial (VERDICT r16 #4, DEDUP_QUALITY.json minhash_dial):
    * k=2 lifts word_swap detection 0.23 → 1.0 (a single swapped word
    * kills k shingles, so J crosses the 0.8 bar at k=2 but not k=3)
    * at a 3.7–5.5× tier cost and +22–33% reported pairs — the default
    * stays the oracle-pinned k=3; corpora dominated by small edits
    * should dial k=2 knowingly. */
  def dedupMinhashAt(s: SparkSession, d: String, seeds: Int,
      rowsPerBand: Int, shingleK: Int = 3): DataFrame = {
    require(shingleK >= 2,
      s"dedup_minhash: shingleK must be >= 2 (a 1-gram 'shingle' is " +
        s"a bag-of-words test, and the oracle CTE builder cannot " +
        s"express it), got $shingleK")
    (if (seeds == 8 && rowsPerBand == 2 && shingleK == 3)
       minhashPairsShared(s, d)
     else minhashPairsAt(s, d, seeds, rowsPerBand, shingleK))
      .orderBy("d1", "d2")
  }

  /** Package access to the shared verified pair set (the composed
    * [[DedupPipeline]] and the benchmark's connected-components
    * probe). */
  private[graft] def minhashPairsProbe(s: SparkSession, d: String): DataFrame =
    minhashPairsShared(s, d)

  /** (session, dir, key) → shared state for the dedup pipeline, built
    * once in [[graft.util.SharedArtifacts]] scope `text`: the minhash
    * and simhash signature barriers, the DF tier's shingle and signature
    * barriers, the verified (8, 2) pair set — shared by q_dedup_minhash
    * and q_dedup_cluster — the cluster-assignment table built from it,
    * and the ngram-DF pair set. */
  private def textShared(s: SparkSession, d: String, key: String)
      (build: => DataFrame): DataFrame =
    SharedArtifacts.get(s, "text", s"$d:$key")(build)

  /** Bench-pass eviction (VERDICT r20 "what's wrong" #1 — shared-
    * artifact accounting): drop this session's build-once tier
    * artifacts and free their blocks, so the NEXT pass pays each tier
    * build again. Called by graft.Bench between suite passes — the min
    * across passes then keeps the tier cost on its first consumer
    * instead of reporting a warm cache read. Production/Verify
    * semantics are unchanged (one build per application). */
  private[graft] def evictShared(s: SparkSession): Unit =
    SharedArtifacts.evict(s, "text")

  /** The per-doc simhash signature barrier, a `text` artifact shared by
    * every simhash tier build. */
  private def simhashShared(s: SparkSession, d: String): DataFrame =
    textShared(s, d, "simhash-signatures")(simhashSig(s, d).graftBarrier)

  private def minhashPairsShared(s: SparkSession, d: String): DataFrame =
    textShared(s, d, "pairs")(
      minhashPairsAt(s, d, 8, 2).graftBarrier)

  /** The cluster-assignment table ("node", "cluster") over the verified
    * pair graph — at cluster scale this is the dedup pipeline's
    * persisted artifact (a doc_id → canonical_id map materialized once
    * and joined by every downstream consumer), so it carries the same
    * build-once contract as the pair set it derives from. */
  private def clustersShared(s: SparkSession, d: String): DataFrame =
    textShared(s, d, "clusters")(
      graft.graph.GraphOps.connectedComponents(
        minhashPairsShared(s, d).select("d1", "d2"))
        .graftBarrier)

  /** The verified near-dup PAIR SET (unordered) — shared by the
    * registered pair query above and the cluster query below. */
  private[graft] def minhashPairsAt(s: SparkSession, d: String,
      seeds: Int, rowsPerBand: Int, shingleK: Int = 3): DataFrame =
    // lineage barrier: without it PushPredicateThroughJoin folds the
    // Jaccard filter into the self-join condition and the optimizer
    // re-derives the shingle/signature arrays per candidate PAIR
    // (interpreted HOFs, O(pairs × doc_len)). The barrier pins one
    // evaluation per doc. It is a `text` artifact, so every build at
    // one (seeds, rowsPerBand, shingleK) reads one set of blocks and
    // the tier eviction frees them. At cluster scale this would be a
    // persisted signature table instead of RDD-local blocks.
    minhashPairsFromDs(
      textShared(s, d, s"signatures:$seeds:$rowsPerBand:$shingleK")(
        docShinglesAt(s, d, seeds, rowsPerBand, shingleK).graftBarrier))

  /** The band-join + exact-Jaccard-verify tail shared by the fused
    * tiers and the DF-filtered tier: `ds` must carry (doc_id,
    * sh: array<string>, bkeys: array<string>), already
    * barrier-pinned (FOUR consumers read it below). */
  private def minhashPairsFromDs(ds: DataFrame): DataFrame = {
    val bands = ds.select(col("doc_id"),
      posexplode(col("bkeys")).as(Seq("band", "bkey")))
    val b1 = bands.select(col("doc_id").as("d1"), col("band"), col("bkey"))
    val b2 = bands.select(col("doc_id").as("d2"), col("band").as("band2"),
      col("bkey").as("bkey2"))
    val cand = b1.join(b2,
      col("band") === col("band2") && col("bkey") === col("bkey2") &&
        col("d1") < col("d2"))
      .select("d1", "d2").distinct()
    val sh1 = ds.select(col("doc_id").as("d1"), col("sh").as("sh1"))
    val sh2 = ds.select(col("doc_id").as("d2b"), col("sh").as("sh2"))
    cand.join(sh1, "d1")
      .join(sh2, col("d2") === col("d2b"))
      .withColumn("ni", size(array_intersect(col("sh1"), col("sh2"))))
      // integer-exact rounded ratio (Det.ratio6): no float boundary
      .withColumn("jaccard", ratio6(col("ni"),
        size(col("sh1")) + size(col("sh2")) - col("ni")))
      .filter(col("jaccard") >= 0.8)
      .select("d1", "d2", "jaccard")
  }

  /** DuckDB CTE chain ending in `pairs`(d1, d2, jaccard) — the oracle
    * twin of [[minhashPairsAt]] at (8, 2, shingleK = k), shared by the
    * pair, k2-dial, cluster and pipeline oracles. Only the shingle
    * construction depends on k; the signature/band/verify chain is
    * k-independent. */
  private[graft] def minhashPairsCtesAt(k: Int): String =
    minhashHeadAt(k) + "\n" + minhashPairsCtesTail

  /** The k-dependent shingle-construction head (`tok`, `sh0`) shared
    * by the fused-tier chains and the DF-filtered chain. */
  private def minhashHeadAt(k: Int): String = {
    require(k >= 2, s"minhashHeadAt: k must be >= 2 — k = 1 " +
      s"would emit the dangling invalid prefix \"w || ' ' || \", got $k")
    val shingle = (1 until k).map(i => s"lead(w, $i) OVER win")
      .mkString("w || ' ' || ", " || ' ' || ", "")
    s"""tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |sh0 AS (
      |  SELECT doc_id,
      |    $shingle AS shingle
      |  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),""".stripMargin
  }

  private[graft] lazy val minhashPairsCtes: String = minhashPairsCtesAt(3)

  // `shd` is read FOUR times downstream (sig, sizes, inter s1/s2) and
  // `buckets` twice (the band self-join): DuckDB 1.0 inlines plain
  // CTEs per reference, so without MATERIALIZED each read re-derives
  // the whole token→window→distinct chain — at the 10× replica that
  // re-derivation was the bulk of the k2 oracle's ~25 min (the same
  // boundary-materialization lesson as the r19 recursive-CTE fix,
  // commit 84b5936, applied to the non-recursive multi-ref case).
  private val minhashPairsCtesTail =
    "shd AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM sh0 " +
      "WHERE shingle IS NOT NULL),\n" + minhashTailAfterShd

  /** The k-independent signature/band/verify chain downstream of
    * `shd`(doc_id, shingle) — shared by the fused-tier tail above and
    * the DF-filtered tier (whose `shd` drops chrome shingles first). */
  private lazy val minhashTailAfterShd =
    """sig AS (
      |  SELECT doc_id, seed, min(md5(CAST(seed AS VARCHAR) || ':' || shingle)) AS mh
      |  FROM shd, (SELECT unnest(range(8)) AS seed) seeds
      |  GROUP BY doc_id, seed),
      |bands AS (
      |  SELECT doc_id, CAST(floor(seed / 2.0) AS BIGINT) AS band,
      |         min(CASE WHEN seed % 2 = 0 THEN mh END) AS mh0,
      |         min(CASE WHEN seed % 2 = 1 THEN mh END) AS mh1
      |  FROM sig GROUP BY 1, 2),
      |buckets AS MATERIALIZED (
      |  SELECT doc_id, band,
      |    md5(CAST(band AS VARCHAR) || '|' || mh0 || '|' || mh1) AS bkey
      |  FROM bands),
      |cand AS (
      |  SELECT DISTINCT b1.doc_id AS d1, b2.doc_id AS d2
      |  FROM buckets b1
      |  JOIN buckets b2 ON b1.band = b2.band AND b1.bkey = b2.bkey
      |    AND b1.doc_id < b2.doc_id),
      |sizes AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
      |inter AS (
      |  SELECT c.d1, c.d2, count(*) AS n_inter
      |  FROM cand c
      |  JOIN shd s1 ON s1.doc_id = c.d1
      |  JOIN shd s2 ON s2.doc_id = c.d2 AND s2.shingle = s1.shingle
      |  GROUP BY c.d1, c.d2),
      |pairs AS (
      |  SELECT i.d1, i.d2,
      |    """.stripMargin +
      ratio6Sql("n_inter", "z1.n_sh + z2.n_sh - n_inter") +
      """ AS jaccard
      |  FROM inter i
      |  JOIN sizes z1 ON z1.doc_id = i.d1
      |  JOIN sizes z2 ON z2.doc_id = i.d2
      |  WHERE """.stripMargin +
      ratio6Sql("n_inter", "z1.n_sh + z2.n_sh - n_inter") +
      """ >= 0.8)""".stripMargin

  private val dedupMinhashSql =
    s"WITH $minhashPairsCtes\nSELECT d1, d2, jaccard FROM pairs ORDER BY d1, d2"

  /** The measured word_swap dial, registered first-class (VERDICT r17
    * next #2): word-2-gram shingles at the same (8 seeds, 4 bands,
    * J ≥ 0.8) chain. At k=3 a single swapped word kills three
    * shingles, so the every-25th-word edit lands at J ≈ 0.79 — just
    * under the verify bar — and the tier's word_swap detection is 0.23
    * (DEDUP_QUALITY.json); at k=2 the same edit costs two shingles
    * (J ≈ 0.85) and detection is 1.00, at a measured 3.7–5.5× pair
    * volume and ~6× tier cost (less-discriminative shingles make more
    * candidates AND more sub-0.8-at-k=3 pairs genuinely pass — a
    * PREDICATE change, not just a blocking change). The default tier
    * keeps the k=3 oracle pin; corpora dominated by small edits run
    * this variant knowingly. Scale shape is identical to the default
    * tier: banded LSH candidates, never all-pairs. */
  def dedupMinhashK2(s: SparkSession, d: String): DataFrame =
    dedupMinhashAt(s, d, seeds = 8, rowsPerBand = 2, shingleK = 2)

  private val dedupMinhashK2Sql =
    s"WITH ${minhashPairsCtesAt(2)}\n" +
      "SELECT d1, d2, jaccard FROM pairs ORDER BY d1, d2"

  // ------------------------------------------------ minhash + DF filter

  /** The de-chromed minhash tier (VERDICT r19 next #1): the k2 dial's
    * word_swap recall WITH the chrome tail bounded. q_dedup_minhash_k2
    * is the suite's most expensive query (10.3 s = 18% of sf0.1,
    * BENCH_FULL r19) and its 29.3× answer-bound skew ratio is
    * chrome-driven: a shared template's shingles dominate every doc's
    * min-hash minima, so whole chrome cohorts agree on band keys and
    * the candidate join walks cohort² pairs whose Jaccard is
    * template-only. This tier applies the SAME document-frequency
    * standard as [[dedupNgramDf]] / [[decontaminateDf]] (C4/CCNet:
    * a feature present in > [[ChromeDfFrac]] of the corpus is
    * boilerplate) one stage EARLIER than the ngram tier had to — at
    * the shingle sets, BEFORE signatures exist. That placement fixes
    * both halves at once: signatures over de-chromed sets no longer
    * collide on template minima (the blocking tail), and the
    * exact-Jaccard verify no longer counts template overlap (the
    * predicate tail). The ngram tier needed a separate de-chromed
    * fingerprint construction because its blocking key was an
    * independent min-over-8-grams; here the band keys ARE functions of
    * the shingle set, so one filter bounds everything downstream.
    *
    * Scale shape: the census is one map-side-combinable count over
    * per-doc DISTINCT shingles, and the hot set is broadcast-safe BY
    * CONSTRUCTION (> dfFrac·n docs per qualifying shingle ⇒ ≤ L/dfFrac
    * distinct hot shingles, L = avg shingles/doc — corpus-size
    * independent). Docs whose every shingle is chrome drop out of the
    * tier (the C4 convention; the oracle's sig CTE drops them
    * identically by having no surviving rows). shingleK = 2 keeps the
    * measured word_swap dial (DEDUP_QUALITY minhash_dial: 0.23 → 1.00)
    * — this is the PRODUCTION form of the k2 tier, with the fixed-fit
    * k2 query staying registered as its oracle-pinned reference twin
    * (the q_sim_ann_ivf → _scaled precedent). */
  def dedupMinhashDf(s: SparkSession, d: String): DataFrame =
    minhashDfPairsAt(s, d, shingleK = 2, dfFrac = ChromeDfFrac)
      .orderBy("d1", "d2")

  /** The tier's unordered verified pair set (presentation sort split
    * off for composed consumers, the [[ngramDfPairsAt]] idiom). */
  private[graft] def minhashDfPairsAt(s: SparkSession, d: String,
      shingleK: Int, dfFrac: Double): DataFrame = {
    require(dfFrac > 0.0 && dfFrac <= 1.0,
      s"dedup_minhash_df: dfFrac must be in (0, 1], got $dfFrac")
    graft.functions.GraftFunctions.register(s)
    val docs = Fanout.byKey(Tables.documents(s, d), col("doc_id"))
    val nDocs = memoMaxBucket(s, s"minhash-df-ndocs-$d")(docs.count())
    // ONE shingle-extraction pass, barrier-pinned: the census and the
    // de-chromed re-gather both read it (without the barrier the
    // anti-join's two sides would each re-run the kernel)
    val rows0 = textShared(s, d, s"df-shingles:$shingleK")(
      docs.select(col("doc_id"),
          expr(s"shingles_k(text, $shingleK)").as("sh0"))
        .filter(size(col("sh0")) > 0)
        .graftBarrier)
    val ex = rows0.select(col("doc_id"), explode(col("sh0")).as("g"))
    val hot = ex.groupBy("g").agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") > lit(nDocs * dfFrac))
      .select("g")
    // plan dial, the memoMaxBucket "AQE shape" (one memoized scalar to
    // the driver, both branches output-identical): on a NON-chrome
    // corpus the hot set is EMPTY — sf0.1 measures zero >25%-DF
    // shingles (931 distinct, max 6.8%; MINHASH_SKEW.json) — and the
    // anti-join + re-gather below are then the identity on the
    // per-doc sets, paid as two full shuffles of every exploded
    // shingle row. Skip straight to signatures over the kernel's own
    // arrays in that case (sort_array of the distinct set ≡ the
    // re-gather's sort_array(collect_list) on the same elements);
    // chrome corpora take the de-chrome path unchanged.
    val nHot = memoMaxBucket(s, s"minhash-df-nhot-$d-$shingleK-$dfFrac")(
      hot.count())
    val ds = textShared(s, d, s"df-signatures:$shingleK:$dfFrac")((if (nHot == 0L)
      rows0.select(col("doc_id"), sort_array(col("sh0")).as("sh"))
    else
      // de-chrome via broadcast anti-join + linear re-gather (the
      // measured ngramDf discipline: array_except against a broadcast
      // hot array rebuilds the hot hash set per ROW), then compute the
      // signature from the SURVIVING set — sort_array pins a
      // deterministic shingle order (collect_list is not ordered;
      // the signature is order-independent but the verified sh arrays
      // feed array_intersect and the barrier snapshot should be stable)
      ex.join(broadcast(hot), Seq("g"), "left_anti")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("g"))).as("sh"))
        .where(size(col("sh")) > 0))
      .select(col("doc_id"), col("sh"),
        expr("minhash_banded_from(sh, 8, 2)").as("bkeys"))
      .graftBarrier) // four consumers in the pair tail
    minhashPairsFromDs(ds)
  }

  /** Oracle twin: the k-parameterized shingle head, a DF census over
    * the distinct per-doc shingle sets, then the SAME k-independent
    * signature/band/verify tail as the fused tiers — `shd` is the only
    * stage that changes (hot shingles anti-joined out). */
  private[graft] def minhashDfCtesAt(k: Int, dfFrac: Double): String =
    minhashHeadAt(k) + "\n" +
      // shd0 feeds both the census and the de-chromed re-gather, and
      // shd is read 4× by the shared tail — materialize both
      // boundaries (see minhashPairsCtesTail rationale)
      s"""shd0 AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM sh0
        |        WHERE shingle IS NOT NULL),
        |ndm AS (SELECT count(*) AS n FROM documents),
        |hotm AS (
        |  SELECT shingle FROM shd0 GROUP BY shingle
        |  HAVING count(*) > (SELECT n FROM ndm) * $dfFrac),
        |shd AS MATERIALIZED (
        |  SELECT doc_id, shingle FROM shd0
        |  WHERE shingle NOT IN (SELECT shingle FROM hotm)),""".stripMargin +
      "\n" + minhashTailAfterShd

  // lazy: ChromeDfFrac is declared below (object-init order — an eager
  // val here would interpolate the uninitialized 0.0 into the oracle)
  private lazy val dedupMinhashDfSql =
    s"WITH ${minhashDfCtesAt(2, ChromeDfFrac)}\n" +
      "SELECT d1, d2, jaccard FROM pairs ORDER BY d1, d2"

  // ---------------------------------------------------- dedup clusters

  /** Near-dup CLUSTERS: the end-game of the dedup story. The pair
    * tiers answer "which docs are near-duplicates of each other"; a
    * dedup pass needs "which ONE of each group survives". Connected
    * components over the verified minhash pair graph
    * ([[graft.graph.GraphOps.connectedComponents]], alternating
    * large-star/small-star) assigns every document a canonical
    * representative — the min doc_id reachable through near-dup links,
    * so transitive chains (A~B, B~C, A≁C) still collapse to one keeper,
    * which pairwise filtering alone cannot express.
    *
    * Output: one row per document — its cluster representative, the
    * cluster size, and `keep` (true iff this doc IS the
    * representative). `SELECT ... WHERE keep` is the deduplicated
    * corpus.
    *
    * Scale: the CC input is the verified pair set (≪ corpus); rounds
    * are O(log² n) keyed shuffles of that small set. The label join
    * back to `documents` is keyed by doc_id and AQE sizes the
    * (checkpointed, runtime-known) label side — in practice a
    * broadcast, since only near-dup members carry labels. */
  def dedupCluster(s: SparkSession, d: String): DataFrame = {
    val cc = clustersShared(s, d)
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val labeled = docs.join(cc, docs("doc_id") === cc("node"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster"), col("doc_id")).as("cluster_rep"))
    val sizes = labeled.groupBy("cluster_rep")
      .agg(count(lit(1)).as("cluster_size"))
    labeled.join(sizes, "cluster_rep")
      .select(col("doc_id"), col("cluster_rep"),
        col("cluster_size").cast("long").as("cluster_size"),
        (col("doc_id") === col("cluster_rep")).as("keep"))
      .orderBy("doc_id")
  }

  /** Oracle: same pair CTEs, then min-label transitive closure as a
    * recursive CTE (tractable at oracle scale; the Spark side uses the
    * O(log² n) star algorithm instead — flooding is O(diameter)). */
  private val dedupClusterSql =
    s"""WITH RECURSIVE $minhashPairsCtes,
       |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
       |          UNION SELECT d2 AS a, d1 AS b FROM pairs),
       |reach AS (
       |  SELECT doc_id AS node, doc_id AS lbl FROM documents
       |  UNION
       |  SELECT e.b AS node, r.lbl FROM reach r JOIN edges e ON e.a = r.node),
       |comp AS (SELECT node AS doc_id, min(lbl) AS cluster_rep
       |         FROM reach GROUP BY node),
       |csz AS (SELECT cluster_rep, count(*) AS n FROM comp GROUP BY 1)
       |SELECT c.doc_id, c.cluster_rep, CAST(z.n AS BIGINT) AS cluster_size,
       |  c.doc_id = c.cluster_rep AS keep
       |FROM comp c JOIN csz z USING (cluster_rep)
       |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------- span dedup

  /** C4-style cross-document SPAN dedup (Raffel et al. 2020 §2.2 —
    * "discard all but one of any three-sentence span occurring more
    * than once"; over these single-line word-stream docs the analog
    * unit is the word 5-gram, the granularity of Lee et al. 2021's
    * exact-substring dedup). Doc-level dedup misses boilerplate shared
    * across otherwise-distinct pages; this removes the shared SPANS
    * while keeping exactly one canonical occurrence — the (doc_id, pos)
    * minimum — so no text is lost from the corpus entirely.
    *
    * Pipeline: positioned 5-grams straight off the split array (array
    * slice — no window shuffle), gram stats via one map-side-combinable
    * groupBy {count, min(struct(doc_id, pos))}, duplicate
    * occurrences expand to covered token positions, kept tokens
    * reassemble per doc. Output per doc: token counts before/after and
    * the md5 of the cleaned text.
    *
    * Scale: shuffles are keyed by a 128-bit GRAM FINGERPRINT (two
    * independent xxhash64 lanes, r10) rather than the gram text — the
    * stats groupBy and the occurrence re-join carry 16 bytes per row
    * where the 5-gram string averages ~30 and is never needed after
    * the fingerprint is computed in the scan stage. Identity is
    * preserved up to a 128-bit collision (P ≈ n²/2¹²⁹; ~10⁻²⁰ even at
    * 10¹⁴ corpus grams), and the DuckDB oracle still matches on the
    * STRING grams, so the hash-match gate re-validates the
    * no-collision claim at every test scale. Shuffle keys remain
    * combiner-friendly and AQE-skew-splittable (hot grams), the doc
    * reassembly stays doc_id-bounded, and nothing is ever all-pairs:
    * the gram table is the same O(corpus tokens) a tokenizing pass
    * already produces. */
  def spanDedup(s: SparkSession, d: String): DataFrame =
    spanDedupAt(s, d, span = 5)

  /** `span` is this tier's corpus-density knob (the dedupMinhashAt /
    * dedupSimhashAt / lsh_code family): longer spans remove strictly
    * LESS text — a duplicated n-span's sub-spans are duplicated too and
    * first-occur no later, so every token removed at span n is removed
    * at any divisor-free m < n as well (spec-pinned monotonicity;
    * PackingSpec-style exactness at the (5) default, which the
    * registered query pins to match its oracle). C4 itself uses
    * three-sentence spans; Lee et al. 2021 use 50-token substrings —
    * the right n grows with how much boilerplate the corpus shares. */
  def spanDedupAt(s: SparkSession, d: String, span: Int): DataFrame =
    spanDedupOn(s,
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("arr")),
      span)
      .orderBy("doc_id")

  /** The span-dedup body over an arbitrary (doc_id, arr) corpus —
    * split out so the composed pipeline ([[DedupPipeline]]) can run
    * it on cluster SURVIVORS only (gram statistics computed over the
    * post-doc-dedup corpus, the order a production pass uses). Output
    * (doc_id, n_tokens, n_kept, clean_hash), unordered. */
  private[graft] def spanDedupOn(s: SparkSession, docs0: DataFrame,
      span: Int): DataFrame = {
    require(span >= 2, s"span_dedup: span must be >= 2, got $span")
    graft.functions.GraftFunctions.register(s)
    val docs = Fanout.byKey(
      docs0.select(col("doc_id"), col("arr")), col("doc_id"))
    // per-window 128-bit fingerprints straight off the token array —
    // the kernel hashes each token once and mixes 5 multiply-adds per
    // window; the r12 form materialized every gram STRING (array_join
    // of a slice ≈ 5 copies of every corpus byte) then hashed it twice
    val grams = docs.filter(size(col("arr")) >= span)
      .select(col("doc_id"),
        explode(expr(s"span_gram_hashes(arr, $span)")).as("gh"))
      .select(col("doc_id"), col("gh.pos").as("pos"),
        col("gh.h1").as("h1"), col("gh.h2").as("h2"))
    val stats = grams.groupBy("h1", "h2").agg(
      count(lit(1)).as("cnt"),
      min(struct(col("doc_id"), col("pos"))).as("first"))
    val removed = grams.join(stats, Seq("h1", "h2"))
      .filter(col("cnt") > 1 &&
        !(col("doc_id") === col("first.doc_id") &&
          col("pos") === col("first.pos")))
      .select(col("doc_id"), col("pos"))
    // per-doc covered-position SETS (bounded by doc length, avg tens of
    // ints) instead of a corpus-token cover relation: the r12 tail
    // anti-joined EVERY corpus token against the cover and then
    // re-gathered every kept token with collect_list — two
    // corpus-token-sized shuffles just to rebuild per-doc strings. Here
    // only the removed-position ints shuffle (removed spans only), and
    // the rebuild is one in-row `span_clean` kernel pass per doc.
    val coverArr = removed
      .select(col("doc_id"),
        explode(expr(s"sequence(pos, pos + ${span - 1})")).as("cpos"))
      .groupBy("doc_id").agg(collect_set(col("cpos")).as("rm"))
    docs.join(coverArr, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("arr")).cast("long").as("n_tokens"),
        expr("span_clean(arr, " +
          "coalesce(rm, CAST(array() AS ARRAY<INT>)))").as("st"))
      .select(col("doc_id"), col("n_tokens"),
        col("st.n_kept").as("n_kept"),
        md5(col("st.clean")).as("clean_hash"))
  }

  private val spanDedupSql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents),
      |g0 AS (
      |  SELECT doc_id, pos,
      |    w || ' ' || lead(w,1) OVER win || ' ' || lead(w,2) OVER win || ' ' ||
      |    lead(w,3) OVER win || ' ' || lead(w,4) OVER win AS g
      |  FROM tok WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      |occ AS (SELECT doc_id, pos, g FROM g0 WHERE g IS NOT NULL),
      |ranked AS (
      |  SELECT doc_id, pos,
      |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
      |    count(*) OVER (PARTITION BY g) AS cnt
      |  FROM occ),
      |removed AS (SELECT doc_id, pos FROM ranked WHERE cnt > 1 AND rn > 1),
      |cover AS (SELECT DISTINCT doc_id, pos + o AS cpos
      |          FROM removed, (SELECT unnest(range(5)) AS o) os),
      |kept AS (
      |  SELECT t.doc_id, t.pos, t.w
      |  FROM tok t LEFT JOIN cover c ON c.doc_id = t.doc_id AND c.cpos = t.pos
      |  WHERE c.doc_id IS NULL),
      |perdoc AS (
      |  SELECT doc_id, count(*) AS n_kept,
      |         md5(string_agg(w, ' ' ORDER BY pos)) AS clean_hash
      |  FROM kept GROUP BY doc_id),
      |base AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
      |         FROM documents)
      |SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
      |  CAST(coalesce(p.n_kept, 0) AS BIGINT) AS n_kept,
      |  coalesce(p.clean_hash, md5('')) AS clean_hash
      |FROM base b LEFT JOIN perdoc p USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- simhash

  /** 64-bit frequency-weighted SimHash signature per doc, as two 32-bit
    * halves in BIGINTs (integer math only — bit-exact across engines).
    * One native-kernel call per document (`simhash64`, HashKernels.simhashRow) —
    * the HOF-composed form ran interpreted at O(tokens × 64)
    * expression-tree evals per doc and dominated the benchmark. Bit b
    * of md5 hex h: floor(nibble(h, b div 4) / 2^(b mod 4)) mod 2. */
  private def simhashSig(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Fanout.byKey(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), expr("simhash64(text)").as("sig"))
      .select(col("doc_id"), col("sig.sim_lo").as("sim_lo"),
        col("sig.sim_hi").as("sim_hi"))
  }

  /** 7-bit band value b∈[0,8] of the 64-bit signature held as two
    * 32-bit halves (band 4 straddles the boundary). Bits 0..62 are
    * banded; bit 63 only participates in the hamming verify. */
  private[graft] def bandVal(b: Int): org.apache.spark.sql.Column =
    if (b <= 3)
      shiftright(col("sim_lo"), 7 * b).bitwiseAND(lit(127L))
    else if (b == 4)
      shiftright(col("sim_lo"), 28).bitwiseAND(lit(15L)) +
        col("sim_hi").bitwiseAND(lit(7L)) * 16
    else
      shiftright(col("sim_hi"), 7 * b - 32).bitwiseAND(lit(127L))

  /** General banded extraction: band b of k covers signature bits
    * [b·64/k, (b+1)·64/k) across the (sim_lo, sim_hi) 32-bit halves —
    * any disjoint k-band cover is pigeonhole-exhaustive for
    * Hamming ≤ k−1 (uncovered bits only help), so the threshold is a
    * free parameter. */
  private[graft] def bandValAt(b: Int, k: Int)
      : org.apache.spark.sql.Column = {
    val start = b * 64 / k
    val end = (b + 1) * 64 / k
    def mask(w: Int) = lit((1L << w) - 1)
    if (end <= 32)
      shiftright(col("sim_lo"), start).bitwiseAND(mask(end - start))
    else if (start >= 32)
      shiftright(col("sim_hi"), start - 32).bitwiseAND(mask(end - start))
    else {
      // straddling band assembled with shift+OR, NOT *(2^loBits)+:
      // at k=1 the hi half occupies bits 32..63 and the multiply
      // overflows signed Long (a crash under Spark 4's default ANSI
      // arithmetic); bitwise assembly is overflow-free by construction
      val loBits = 32 - start
      shiftright(col("sim_lo"), start).bitwiseAND(mask(loBits))
        .bitwiseOR(shiftleft(
          col("sim_hi").bitwiseAND(mask(end - 32)), loBits))
    }
  }

  /** Threshold-parameterized simhash near-dup (the third member of
    * the scale-knob family next to lsh_code bits and minhash bands):
    * `maxHamming + 1` bands make the banding exhaustive for the
    * given threshold — tighter thresholds mean MORE, narrower bands,
    * so candidate cost falls as the near-dup definition sharpens.
    * Output at the default threshold 8 is row-identical to the
    * registered q_dedup_simhash (different band boundaries, same
    * exhaustive candidates, same exact verify — spec-pinned); the
    * registered query keeps its own layout to match its oracle. */
  def dedupSimhashAt(s: SparkSession, d: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"dedup_simhash: maxHamming must be in [0, 31], got $maxHamming")
    val k = maxHamming + 1
    val sig = simhashShared(s, d)
    val banded = sig.select(col("doc_id"), col("sim_lo"), col("sim_hi"),
      explode(array((0 until k).map(b =>
        struct(lit(b).as("band"), bandValAt(b, k).as("bval"))): _*))
        .as("bd"))
      .select(col("doc_id"), col("sim_lo"), col("sim_hi"),
        col("bd.band").as("band"), col("bd.bval").as("bval"))
    // memo key carries the BANDING SCHEME (bandValAt over k bands),
    // not just the dataset: the registered query's 9-band bandVal
    // layout groups different doc sets into buckets, so its statistic
    // must never be reused here (and vice versa) — a stale cross-
    // scheme max could silently skip the hot-bucket guard
    closePairsFromBanded(banded, maxHamming,
      memoKey = Some(s"simhash-at-k${maxHamming + 1}-$d"))
  }

  /** Default per-task member bound for the simhash gather: 8192
    * members cost ~34 M XOR+POPCNT pairs (tens of ms) and ~200 KB of
    * struct array per kernel call — far below task memory and the 2 GB
    * array ceiling. The cap also triggers the DENSITY tier (second
    * rotated banding) in [[closePairsFromBanded]]'s guarded branch —
    * and it deliberately sits HIGH: an r13 experiment at cap 2048
    * re-banded most of the 100× corpus and ran 1.8× SLOWER (17.5 s vs
    * 9.7 s) — the in-kernel XOR+POPCNT stream processes ~2.5e9
    * candidate pairs/s across 32 threads, so brute verification of a
    * multi-thousand-member bucket beats shuffling 9 replica rows per
    * member through a second banding until buckets grow well past
    * this cap. Measure, don't guess: the quadratic density term is
    * real asymptotically, but its crossover against re-banding
    * overhead is ~10⁴ members, not ~10³. */
  private[graft] val SimhashBucketCap = 8192

  /** Memoized hot-bucket probes and corpus counts, keyed by (session,
    * banding + dataset dir), in [[graft.util.SharedArtifacts]] scope
    * `text-dials`. Datasets are immutable within a session, so each
    * statistic is computed once per dataset and every later invocation
    * — bench repetitions, repeated interactive queries — skips the
    * probe job. These scalars only choose between output-identical
    * plans, so tier eviction keeps them. */
  private def memoMaxBucket(s: SparkSession, key: String)
      (compute: => Long): Long =
    SharedArtifacts.get(s, "text-dials", key)(
      java.lang.Long.valueOf(compute)).longValue()

  /** Shared tail of the simhash dedup family: one bucket per
    * (band, bval) key, members gathered with collect_list, candidate
    * enumeration + Hamming verify inside the
    * `simhash_close_pairs` kernel. Only surviving
    * pairs ever become rows; the cross-band `distinct()` stays because
    * a qualifying pair can collide in several bands.
    *
    * HOT-BUCKET GUARD (SCALING.md): a (band, bval) bucket larger than
    * `bucketCap` would otherwise gather into ONE collect_list row and
    * run its whole c² verify in one task — unbounded under adversarial
    * skew (millions of identical-signature docs share one bucket under
    * EVERY banding, so re-banding alone cannot split them). Buckets
    * over the cap are hash-split into ⌈count/cap⌉ segments; each
    * within-segment cell runs the one-list kernel and each s1 < s2
    * cross cell runs the two-list kernel, so every unordered pair
    * lands in exactly one cell and per-task members stay ≤ ~cap. The
    * window count reuses the same (band, bval) hash partitioning the
    * common-path groupBy needs, and the segment branch processes zero
    * rows unless a bucket actually exceeds the cap
    * (SimhashSkewSpec pins output identity against the uncapped plan
    * on a corpus engineered to blow the cap). */
  private[graft] def closePairsFromBanded(banded: DataFrame,
      maxHamming: Int, bucketCap: Int = SimhashBucketCap,
      memoKey: Option[String] = None): DataFrame = {
    // ADAPTIVE (r12, VERDICT r11 nit #1): probe max bucket size with a
    // map-side-combined count aggregate — the shuffle carries one
    // (band, bval, partial-count) row per bucket per input partition,
    // orders of magnitude below the banded rows — and take the guarded
    // plan ONLY when some bucket actually exceeds the cap. The common
    // path then runs one plain hash-shuffle gather with no
    // per-partition sort (the r11 window derivation sorted every
    // banded row just to count it — at 1000-executor scale a full
    // sort of 9·n rows). The probe is one scalar to the driver — the
    // same runtime-adaptivity shape as AQE — and is memoized per
    // (session, dataset) so only the first query over a dataset pays
    // the probe job. Both branches are output-identical
    // (SimhashSkewSpec pins it), so the memo can never affect
    // results, only plan choice.
    def computeMaxBucket(): Long = {
      val r = banded.groupBy(col("band"), col("bval"))
        .agg(count(lit(1)).as("c")).agg(max(col("c"))).first()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val maxBucket = memoKey match {
      case Some(k) =>
        memoMaxBucket(banded.sparkSession, k)(computeMaxBucket())
      case None => computeMaxBucket()
    }
    val pairs = if (maxBucket <= bucketCap) {
      banded.groupBy(col("band"), col("bval"))
        .agg(collect_list(
          struct(col("doc_id"), col("sim_lo"), col("sim_hi")))
          .as("members"))
        .where(size(col("members")) > 1)
        .select(explode(
          expr(s"simhash_close_pairs(members, $maxHamming)")).as("p"))
    } else {
      // guarded plan, THREE tiers (r13). Per-bucket counts via a
      // window over the same (band, bval) hash partitioning the
      // groupBy needs, paid only on corpora that actually blow the
      // cap.
      //
      // Tier 1 — sub-cap buckets gather directly (the common kernel).
      //
      // Tier 2 — DENSITY split: a banding has only 2^width values per
      // band, so bucket sizes grow LINEARLY with the corpus and the
      // in-kernel c² candidate term grows QUADRATICALLY (the 100×
      // profile measured Σc² = 2.05e10 XOR+POPCNT pairs = 8.3 s of the
      // query's 9.7 s). Oversized buckets re-key by a SECOND,
      // rotation-permuted banding (rotr 31 of the 64-bit signature
      // view) with `maxHamming + 1` bands covering ALL 64 rotated bits
      // (same integer-boundary layout as bandValAt): ≤ maxHamming
      // differing bits can corrupt at most maxHamming of the
      // maxHamming + 1 disjoint bands, so the second cover is
      // pigeonhole-exhaustive for the REQUESTED threshold — not just
      // h ≤ 8 — independently of the first banding (r13 shipped a
      // fixed 9×7-bit cover here, silently lossy for maxHamming ≥ 9
      // when a bucket blew the cap; ADVICE r13 #1). A qualifying pair
      // shares ≥ 1 rotated band and lands in ≥ 1
      // (band, bval, band2, bval2) sub-bucket — splitting a density
      // hot-spot ×~2^width while the cross-band `distinct()` below
      // absorbs the multiplicity exactly as it already does for
      // first-level bands.
      //
      // Tier 3 — IDENTITY split: byte-identical signatures rotate
      // identically, so no re-banding can separate them; sub-buckets
      // still over the cap hash-segment into (s1 ≤ s2) cells, the r11
      // guard (bounded per-kernel members; the c² work there is the
      // true answer size and irreducible).
      val w = Window.partitionBy(col("band"), col("bval"))
      val counted = banded.withColumn("cnt", count(lit(1)).over(w))
      val memberStruct =
        struct(col("doc_id"), col("sim_lo"), col("sim_hi"))
      val small = counted.where(col("cnt") <= bucketCap)
        .groupBy(col("band"), col("bval"))
        .agg(collect_list(memberStruct).as("members"))
        .where(size(col("members")) > 1)
        .select(explode(
          expr(s"simhash_close_pairs(members, $maxHamming)")).as("p"))
      // 64-bit signature view (lo half | hi half << 32): covers every
      // first-level-banded bit, so flips invisible to it are invisible
      // to the first banding too — exhaustiveness is unaffected
      val sig64 = col("sim_lo").bitwiseAND(lit(0xFFFFFFFFL))
        .bitwiseOR(shiftleft(col("sim_hi"), 32))
      val rot = shiftrightunsigned(sig64, 31)
        .bitwiseOR(shiftleft(sig64, 33))
      // adaptive second cover: k2 = maxHamming + 1 bands over the
      // rotated 64 bits (integer boundaries, bandValAt's layout). At
      // maxHamming = 0 the single band IS the whole rotated signature —
      // identical signatures stay together and tier 3 splits them,
      // which is the only correct behavior (rotation can never separate
      // byte-identical signatures).
      val k2 = maxHamming + 1
      def rotBandVal(b2: Int): org.apache.spark.sql.Column = {
        val start = b2 * 64 / k2
        val width = (b2 + 1) * 64 / k2 - start
        val masked = if (width >= 64) col("rotsig")
          else shiftrightunsigned(col("rotsig"), start)
            .bitwiseAND(lit((1L << width) - 1))
        masked
      }
      val sub = counted.where(col("cnt") > bucketCap)
        .withColumn("rotsig", rot)
        .select(col("doc_id"), col("sim_lo"), col("sim_hi"),
          col("band"), col("bval"),
          explode(array((0 until k2).map(b2 =>
            struct(lit(b2).as("band2"),
              rotBandVal(b2).as("bval2"))): _*)).as("b2"))
        .select(col("doc_id"), col("sim_lo"), col("sim_hi"),
          col("band"), col("bval"),
          col("b2.band2").as("band2"), col("b2.bval2").as("bval2"))
      val w2 = Window.partitionBy(col("band"), col("bval"),
        col("band2"), col("bval2"))
      val counted2 = sub.withColumn("nseg",
        greatest(lit(1L), ceil(count(lit(1)).over(w2) / lit(bucketCap)))
          .cast("int"))
      val subSmall = counted2.where(col("nseg") === 1)
        .groupBy(col("band"), col("bval"), col("band2"), col("bval2"))
        .agg(collect_list(memberStruct).as("members"))
        .where(size(col("members")) > 1)
        .select(explode(
          expr(s"simhash_close_pairs(members, $maxHamming)")).as("p"))
      val segs = counted2.where(col("nseg") > 1)
        .withColumn("seg", pmod(hash(col("doc_id")), col("nseg")))
        .groupBy(col("band"), col("bval"), col("band2"), col("bval2"),
          col("seg"))
        .agg(collect_list(memberStruct).as("m"))
      val sa = segs.select(col("band"), col("bval"), col("band2"),
        col("bval2"), col("seg").as("s1"), col("m").as("ma"))
      val sb = segs.select(col("band").as("bandB"),
        col("bval").as("bvalB"), col("band2").as("band2B"),
        col("bval2").as("bval2B"), col("seg").as("s2"), col("m").as("mb"))
      val big = sa.join(sb, col("band") === col("bandB") &&
          col("bval") === col("bvalB") &&
          col("band2") === col("band2B") &&
          col("bval2") === col("bval2B") && col("s1") <= col("s2"))
        .select(explode(
          expr(s"simhash_close_pairs_x(ma, mb, s1 = s2, $maxHamming)"))
          .as("p"))
      small.unionByName(subSmall).unionByName(big)
    }
    pairs
      .select(col("p.d1").as("d1"), col("p.d2").as("d2"),
        col("p.hamming").as("hamming"))
      .distinct()
      .orderBy("d1", "d2")
  }

  /** SimHash near-dup pairs: hamming(sig1, sig2) ≤ 8, found via 9-band
    * bit-sampling LSH + group-local exact verify. Pigeonhole: ≤ 8
    * differing bits cannot corrupt all 9 bands, so every qualifying
    * pair shares at least one (band, value) key — bucketing is
    * exhaustive, never an O(n²) cross join. The per-bucket c²
    * candidate work happens INSIDE the simhash_close_pairs kernel
    * (two XOR+popcount per candidate), not as shuffled join rows —
    * the r9 profile measured the former self-join materializing 17 M
    * candidate rows (86 % of query cost) at sf0.1 before the Hamming
    * filter dropped 99.995 % of them. What shuffles now is the 9·n
    * banded rows of the groupBy — the minimum any banded-LSH plan
    * pays — so cost scales linearly in docs plus μs-scale POPCNT
    * loops per bucket. */
  def dedupSimhash(s: SparkSession, d: String): DataFrame = {
    // lineage barrier — same rationale as dedupMinhash: signatures must
    // evaluate once per doc, not once per banded row after projection
    // collapse
    val sig = simhashShared(s, d)
    val banded = sig.select(col("doc_id"), col("sim_lo"), col("sim_hi"),
      explode(array((0 to 8).map(b =>
        struct(lit(b).as("band"), bandVal(b).as("bval"))): _*)).as("bd"))
      .select(col("doc_id"), col("sim_lo"), col("sim_hi"),
        col("bd.band").as("band"), col("bd.bval").as("bval"))
    // "reg9" = the registered query's bandVal banding — distinct from
    // dedupSimhashAt's bandValAt(k) keys by construction
    closePairsFromBanded(banded, 8, memoKey = Some(s"simhash-reg9-$d"))
  }

  /** The pre-r10 join-based plan, kept ONLY as the differential-test
    * oracle for the kernel plan (SimhashKernelSpec): band self-join on
    * (band, bval) then Hamming-filter — row-identical output to
    * [[dedupSimhash]] by construction, but materializes every bucket
    * co-occurrence as a shuffled row (sum of c² per bucket), which is
    * the measured scale-killer the kernel plan exists to avoid. Not
    * registered; do not use outside tests. */
  private[graft] def dedupSimhashViaJoin(s: SparkSession,
      d: String): DataFrame = {
    val sig = simhashShared(s, d)
    val banded = sig.select(col("doc_id"), col("sim_lo"), col("sim_hi"),
      explode(array((0 to 8).map(b =>
        struct(lit(b).as("band"), bandVal(b).as("bval"))): _*)).as("bd"))
      .select(col("doc_id"), col("sim_lo"), col("sim_hi"),
        col("bd.band").as("band"), col("bd.bval").as("bval"))
    val g1 = banded.select(col("doc_id").as("d1"),
      col("sim_lo").as("lo1"), col("sim_hi").as("hi1"),
      col("band"), col("bval"))
    val g2 = banded.select(col("doc_id").as("d2"),
      col("sim_lo").as("lo2"), col("sim_hi").as("hi2"),
      col("band").as("band2"), col("bval").as("bval2"))
    g1.join(g2, col("band") === col("band2") &&
        col("bval") === col("bval2") && col("d1") < col("d2"))
      .withColumn("hamming",
        (bit_count(col("lo1").bitwiseXOR(col("lo2"))) +
          bit_count(col("hi1").bitwiseXOR(col("hi2")))).cast("long"))
      .filter(col("hamming") <= 8)
      .select("d1", "d2", "hamming")
      .distinct()
      .orderBy("d1", "d2")
  }

  private val dedupSimhashSql =
    """WITH tok AS (
      |  SELECT doc_id, md5(unnest(string_split(text, ' '))) AS hx
      |  FROM documents),
      |nib AS (
      |  SELECT doc_id, p,
      |    strpos('0123456789abcdef', substr(hx, CAST(p AS INT), 1)) - 1 AS nibval
      |  FROM tok, (SELECT unnest(range(1, 17)) AS p) ps),
      |bits AS (
      |  SELECT doc_id, (p - 1) * 4 + b AS bitpos,
      |    CASE WHEN CAST(floor(nibval / dv) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END AS contrib
      |  FROM nib, (VALUES (0, 1), (1, 2), (2, 4), (3, 8)) bt(b, dv)),
      |sums AS (SELECT doc_id, bitpos, sum(contrib) AS sgn FROM bits GROUP BY 1, 2),
      |sig AS (
      |  SELECT doc_id,
      |    CAST(sum(CASE WHEN bitpos < 32 AND sgn >= 0
      |      THEN (CAST(1 AS BIGINT) << CAST(bitpos AS INT)) ELSE 0 END) AS BIGINT) AS sim_lo,
      |    CAST(sum(CASE WHEN bitpos >= 32 AND sgn >= 0
      |      THEN (CAST(1 AS BIGINT) << CAST(bitpos - 32 AS INT)) ELSE 0 END) AS BIGINT) AS sim_hi
      |  FROM sums GROUP BY doc_id),
      |banded AS (
      |  SELECT doc_id, sim_lo, sim_hi, b AS band,
      |    CASE WHEN b <= 3 THEN (sim_lo >> CAST(7 * b AS INT)) & 127
      |         WHEN b = 4 THEN ((sim_lo >> 28) & 15) + ((sim_hi & 7) * 16)
      |         ELSE (sim_hi >> CAST(7 * b - 32 AS INT)) & 127 END AS bval
      |  FROM sig, (SELECT unnest(range(9)) AS b) bs)
      |SELECT DISTINCT s1.doc_id AS d1, s2.doc_id AS d2,
      |  CAST(bit_count(xor(s1.sim_lo, s2.sim_lo))
      |     + bit_count(xor(s1.sim_hi, s2.sim_hi)) AS BIGINT) AS hamming
      |FROM banded s1 JOIN banded s2
      |  ON s1.band = s2.band AND s1.bval = s2.bval AND s1.doc_id < s2.doc_id
      |WHERE bit_count(xor(s1.sim_lo, s2.sim_lo))
      |    + bit_count(xor(s1.sim_hi, s2.sim_hi)) <= 8
      |ORDER BY d1, d2""".stripMargin

  // ---------------------------------------------------------- ngram jaccard
  /** Char-5-gram Jaccard near-dup detection with winnowing-style
    * blocking (SURVEY §2.10 n-gram Jaccard): candidates must share BOTH
    * the min-8-gram fingerprint (near-dups almost surely keep the
    * globally minimal shingle; random docs rarely collide — 40× pair
    * reduction on this corpus) AND the length bucket. Length-bucket
    * blocking alone left Σ block² ≈ corpus²/6 here — measured 1120 s at
    * sf0.1 before the fingerprint key was added.
    *
    * GATHER-KERNEL PLAN (r13, the 100 TB shape): ONE pass computes the
    * blocking key and the doc's sorted packed-long gram set; blocks
    * gather by (fp, lenb) with collect_list and the
    * `ngram_close_pairs` kernel enumerates candidates, applies the
    * exact-integer size prefilter (3·min(|A|,|B|) ≥ |A|+|B| is
    * necessary for J ≥ 0.5) and runs the EARLY-ABORT merge walk
    * in-task — each doc's gram array shuffles exactly ONCE into its
    * block. History of this query's plans, all measured: single-stage
    * blocked join shipping gram arrays per pair = 87-1120 s at sf0.1;
    * r4-r12 two-stage (key-only candidate join, then arrays fetched
    * per CANDIDATE by equi-join) = 1.7 s at sf0.1 but 97 s at the
    * 100× replica — the r13 profile showed 97.9 of those 98 s in the
    * verify joins, which replicated each array once per candidate
    * (≈22.9 M candidates × ~8 KB ≈ 350 GB of shuffle; candidate
    * degree ≈ 48 because corpus boilerplate 8-grams — digit/space
    * grams the replica's letter translation cannot change, exactly
    * C4's header/boilerplate regime — pin the same fingerprint across
    * non-duplicate docs). The gather plan moves each array once
    * (~4 GB at 100×) and rejects non-dup candidates with a walk that
    * aborts the moment the remaining elements cannot reach the
    * J ≥ 0.5 bound.
    *
    * HOT-FP-BLOCK GUARD (VERDICT r12 #2, symmetric to
    * [[SimhashBucketCap]]): the adaptive max-block probe (memoized per
    * dataset — one scalar to the driver, the AQE shape) switches to a
    * segmented plan when a block exceeds [[NgramBlockCap]]: members
    * hash-split into ⌈count/cap⌉ segments, every unordered pair lands
    * in exactly one (segLo ≤ segHi) CELL, and the cell id is part of
    * the join key — the O(block²) verify spreads over nseg² tasks of
    * ≤ cap² pairs each instead of one straggler, and per-kernel-call
    * member lists stay ≤ ~cap (memory bound). Both branches are
    * output-identical (NgramSkewSpec pins it on a cap-blowing corpus),
    * so the memo can only affect plan choice, never results. */
  def dedupNgram(s: SparkSession, d: String): DataFrame =
    dedupNgramAt(s, d, NgramBlockCap)

  /** Per-task member bound for one gathered (fp, lenb) block: 1024
    * members is ≤ ~524k candidate pairs per kernel call, each an
    * early-abort long merge walk (≪ popcount-cheap simhash, hence the
    * smaller cap than [[SimhashBucketCap]]'s 8192), and ~8 MB of
    * packed gram arrays per call — far below task memory. */
  private[graft] val NgramBlockCap = 1024

  /** Cap-parameterized body (the spec's identity-pin hook). */
  private[graft] def dedupNgramAt(s: SparkSession, d: String,
      blockCap: Int): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = Fanout.byKey(Tables.documents(s, d), col("doc_id"))
    // ONE pass: blocking key + packed gram set (|grams| rides as the
    // array length — no separate count kernel)
    val rows = docs.select(col("doc_id"),
      floor(length(col("text")) / 100).cast("long").as("lenb"),
      expr("min_fingerprint(text)").as("fp"),
      expr("ngram5_packed(text)").as("grams"))
    ngramPairsFromRows(s, rows, blockCap, memoKeySuffix = s"fp-$d")
  }

  /** The blocked pair-enumeration tail shared by [[dedupNgramAt]] and
    * [[dedupNgramDfAt]]: gather (fp, lenb) blocks, enumerate close
    * pairs through the packed-gram kernel, with the segmented guarded
    * plan when some block exceeds `blockCap`. `rows` must carry
    * (doc_id, lenb, fp, grams-sorted-packed). */
  private def ngramPairsFromRows(s: SparkSession, rows: DataFrame,
      blockCap: Int, memoKeySuffix: String): DataFrame = {
    def computeMaxBlock(): Long = {
      // column-pruned: the probe aggregates (fp, lenb) counts only
      val r = rows.groupBy(col("fp"), col("lenb"))
        .agg(count(lit(1)).as("c")).agg(max(col("c"))).first()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val maxBlock =
      memoMaxBucket(s, s"ngram-$memoKeySuffix")(computeMaxBlock())
    val pairs = if (maxBlock <= blockCap) {
      // single consumer → no lineage barrier needed: grams stream
      // straight from the scan projection into the gather shuffle
      rows.groupBy(col("fp"), col("lenb"))
        .agg(collect_list(struct(col("doc_id"), col("grams")))
          .as("members"))
        .where(size(col("members")) > 1)
        .select(explode(expr("ngram_close_pairs(members)")).as("p"))
    } else {
      // guarded plan: per-block counts come from a LIGHT aggregate
      // joined back on the gather key (not a window — a window would
      // sort the gram-array rows; the counts relation is 24-byte
      // rows), and the barrier pins one kernel evaluation per doc
      // across the two join consumers
      val rowsCp = rows.graftBarrier
      val counts = rowsCp.groupBy(col("fp"), col("lenb"))
        .agg(count(lit(1)).as("cnt"))
        .where(col("cnt") > 1) // singleton blocks cannot pair
        .withColumn("nseg",
          greatest(lit(1L), ceil(col("cnt") / lit(blockCap))).cast("int"))
      val tagged = rowsCp.join(counts, Seq("fp", "lenb"))
      val small = tagged.where(col("nseg") === 1)
        .groupBy(col("fp"), col("lenb"))
        .agg(collect_list(struct(col("doc_id"), col("grams")))
          .as("members"))
        .where(size(col("members")) > 1)
        .select(explode(expr("ngram_close_pairs(members)")).as("p"))
      val big = tagged.where(col("nseg") > 1)
        .withColumn("seg", pmod(hash(col("doc_id")), col("nseg")))
      val segs = big.groupBy(col("fp"), col("lenb"), col("seg"),
          col("nseg"))
        .agg(collect_list(struct(col("doc_id"), col("grams"))).as("m"))
      // cell-id replication: the lo stream carries a segment into
      // every cell where it can be the LO member, the hi stream into
      // every cell where it can be the HI member — the cell id joins
      // as part of the equi-key, so nseg² tasks split the block²
      // enumeration; each unordered pair lands in exactly one cell
      // (diagonal cells dedupe with i < j inside the kernel)
      val sa = segs.select(col("fp"), col("lenb"),
        col("seg").as("sa"),
        explode(sequence(col("seg"), col("nseg") - 1)).as("sb"),
        col("m").as("ma"))
      val sb = segs.select(col("fp").as("fpB"), col("lenb").as("lenbB"),
        explode(sequence(lit(0), col("seg"))).as("saB"),
        col("seg").as("sbB"), col("m").as("mb"))
      val bigPairs = sa.join(sb, col("fp") === col("fpB") &&
          col("lenb") === col("lenbB") && col("sa") === col("saB") &&
          col("sb") === col("sbB"))
        .select(explode(
          expr("ngram_close_pairs_x(ma, mb, sa = sb)")).as("p"))
      small.unionByName(bigPairs)
    }
    pairs.select(col("p.d1").as("d1"), col("p.d2").as("d2"),
      ratio6(col("p.ni"), col("p.den")).as("jaccard"))
      .orderBy("d1", "d2")
  }

  private val dedupNgramSql =
    """WITH g AS (
      |  SELECT doc_id, CAST(floor(length(text) / 100) AS BIGINT) AS lenb,
      |    list_min(list_transform(
      |      range(1, greatest(length(text) - 7, 1) + 1),
      |      i -> md5(substr(text, CAST(i AS INT), 8)))) AS fp,
      |    list_distinct(list_transform(
      |      range(1, greatest(length(text) - 4, 1) + 1),
      |      i -> substr(text, CAST(i AS INT), 5))) AS grams
      |  FROM documents),
      |cand AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2,
      |    len(list_intersect(a.grams, b.grams)) AS ni,
      |    len(a.grams) AS n1, len(b.grams) AS n2
      |  FROM g a JOIN g b ON a.fp = b.fp AND a.lenb = b.lenb
      |    AND a.doc_id < b.doc_id)
      |SELECT d1, d2,
      |  """.stripMargin +
      ratio6Sql("ni", "n1 + n2 - ni") +
      """ AS jaccard
      |FROM cand
      |WHERE 3 * ni >= n1 + n2
      |ORDER BY d1, d2""".stripMargin

  // ------------------------------------------------- ngram + DF filter

  /** The registered DF threshold, shared by both DF-filtered queries
    * and interpolated into their oracles (one source of truth).
    * 25%, and the number is measured, not guessed — boilerplate is a
    * LARGE-fraction phenomenon (the skew replica's planted chrome
    * sits on 90% of docs; real crawl templates behave the same), and
    * every lower setting was measured destroying something real:
    *  - 1%: genuine duplicate clusters exceed it (7 near-copies of a
    *    source > 1% of the fixture corpus → every source gram marked
    *    hot → DedupQualityProbe detection collapsed to ~0);
    *  - 5%: ordinary common-word char-grams exceed it on a
    *    small-vocabulary corpus (sf0.1: 1728 of 2041 distinct grams
    *    hot → median filtered set FOUR grams — the tier stops seeing
    *    documents at all).
    * At 25% the hot set is template-grade only (sf0.1: 120 grams;
    * skew: 293, chrome included at 90% DF) and the probe's detection
    * profile matches the unfiltered tier on every non-chrome plant. */
  private[graft] val ChromeDfFrac = 0.25

  def dedupNgramDf(s: SparkSession, d: String): DataFrame =
    ngramDfPairsShared(s, d).orderBy("d1", "d2")

  /** Document-frequency chrome filter over the char-5-gram tier
    * (VERDICT r15 next #3 — the standard C4/CCNet move): grams
    * present in more than `dfFrac` of the corpus are boilerplate
    * (navigation chrome, footers, licence blurbs), and similarity
    * through them is similarity to the TEMPLATE, not between the
    * documents. The r15 skew replica put the price of ignoring this
    * on the record: its planted chrome made q_dedup_ngram's answer a
    * genuinely-huge 15.2 s pair set. This variant drops hot grams
    * from the similarity sets, so template-only pairs no longer
    * qualify and the tail is answer-bounded by real prose overlap.
    *
    * The BLOCKING key is de-chromed too — this is what actually
    * bounds the skew tail. The base tier's min-fingerprint is a min
    * over raw char-8-grams, so shared chrome pins the SAME
    * fingerprint across thousands of non-duplicate docs and the cost
    * lands in hot-block candidate enumeration (the r15 skew
    * replica's 15.2 s was block²-walk time, NOT answer size — its
    * chrome pairs never reach J ≥ 0.5; a gram-set-only DF filter was
    * measured leaving that tail untouched). The key is the BASE
    * TIER'S OWN min-md5-of-char-8-grams, computed over the non-hot
    * 8-grams only (a second DF census at the same threshold), in TWO
    * salted bands. Each design decision here was paid for on a
    * measurement:
    *  - it must be a min over a HASH order, not the packed values'
    *    order — packed order is last-character-first lexicographic,
    *    and a rare token containing low-sorting characters (digits)
    *    deterministically hijacks the minimum (word_swap detection
    *    0.80 → 0.00 under a packed-min key);
    *  - it must be over 8-GRAMS, not the 5-gram similarity alphabet —
    *    a low-entropy corpus has only ~2k distinct 5-grams, so
    *    min-hash minima collide massively (measured: blocks of ~950
    *    docs and 11.6M candidate pairs on the PLAIN 10× replica,
    *    where the base tier's 8-gram key blocks cleanly);
    *  - ONE hashed min is a single global coin — a fixed inserted
    *    sentence has one min-hash for the whole corpus, and whether
    *    it undercuts typical documents' minima is decided once
    *    (tail_chrome detection landed 0.00 under one band). TWO
    *    salted bands (candidates from either — the minhash tier's
    *    banding, at width 2) square the failure probability.
    * Each band is a min over salted md5s of the packed 8-grams (the
    * `ngram8_packed` kernel — the md5-hex-string-array form of this
    * measured 12.7 s on the 10×-skew replica against the kernel's
    * 1.3 s), so with an empty hot set each band is distributed
    * exactly like the base tier's fingerprint; a pair caught by both
    * bands dedups before the output. Docs whose every 8-gram is hot
    * (pure chrome) drop out, like docs whose every 5-gram is.
    *
    * Scale shape: the DF aggregate is one map-side-combinable count
    * over per-doc DISTINCT grams, and the hot set is broadcast-safe
    * BY CONSTRUCTION at any corpus size — a gram needs > dfFrac·n
    * docs to qualify, and there are at most (n·L)/(dfFrac·n) = L/dfFrac
    * distinct such grams (L = avg grams/doc ≈ hundreds, so ≤ ~50k
    * longs regardless of n). Docs whose every gram is chrome drop out
    * of the tier entirely (an empty similarity set matches nothing) —
    * the C4 convention, and the oracle applies the same rule. */
  private[graft] def dedupNgramDfAt(s: SparkSession, d: String,
      blockCap: Int, dfFrac: Double): DataFrame =
    ngramDfPairsAt(s, d, blockCap, dfFrac).orderBy("d1", "d2")

  /** The tier's verified pair set at the REGISTERED parameters,
    * build-once-shared (the [[minhashPairsShared]] idiom, same
    * first-touch + application-end-eviction contract): two suite
    * consumers read the identical artifact — the registered
    * q_dedup_ngram_df and the composed [[DedupPipeline]] — and before
    * r20-opt each rebuilt the full census + two-alphabet gather + pair
    * enumeration independently (measured: the warm pipeline pass spent
    * ~2.3 s of its 4.7 s re-deriving exactly this tier). At cluster
    * scale this is the tier's persisted pair artifact, materialized
    * once and joined by every downstream consumer — the same contract
    * as the minhash pair set. */
  private[graft] def ngramDfPairsShared(s: SparkSession,
      d: String): DataFrame =
    textShared(s, d, "ngram-df-pairs")(
      ngramDfPairsAt(s, d, NgramBlockCap, ChromeDfFrac).graftBarrier)

  /** The tier's unordered verified pair set — split out so the
    * composed dedup pipeline ([[DedupPipeline]]) can consume the
    * edges without the presentation sort. */
  private[graft] def ngramDfPairsAt(s: SparkSession, d: String,
      blockCap: Int, dfFrac: Double): DataFrame = {
    require(dfFrac > 0.0 && dfFrac <= 1.0,
      s"dedup_ngram_df: dfFrac must be in (0, 1], got $dfFrac")
    graft.functions.GraftFunctions.register(s)
    val docs = Fanout.byKey(Tables.documents(s, d), col("doc_id"))
    val nDocs = memoMaxBucket(s, s"ngram-df-ndocs-$d")(docs.count())
    val rows0 = docs.select(col("doc_id"),
      floor(length(col("text")) / 100).cast("long").as("lenb"),
      expr("ngram5_packed(text)").as("grams"),
      // packed longs, not md5-hex strings: the expression-layer string
      // arrays measured 12.7 s on the 10×-skew replica vs 1.3 s for
      // the kernel's long arrays (G8 probe, r16)
      expr("ngram8_packed(text)").as("g8"))
      .graftBarrier // consumed by the census and the gather (each
                    // reading both alphabets): one kernel pass
    // ngram5_packed emits the per-doc DISTINCT packed set, so the
    // exploded count IS document frequency (g8 is array_distinct'd
    // for the same reason). The 5-gram (similarity) and 8-gram
    // (fingerprint) censuses are ONE tagged shuffle: same total rows
    // as the two separate censuses they replace, one stage instead of
    // two, and one broadcast hot table instead of two (r17 — cut the
    // suite's most expensive query from 2.4 s; the tag rides in the
    // key so the alphabets cannot cross-count).
    val ex = rows0.select(col("doc_id"), col("lenb"),
        lit(5).as("tag"), explode(col("grams")).as("g"))
      .unionByName(rows0.select(col("doc_id"), col("lenb"),
        lit(8).as("tag"), explode(col("g8")).as("g")))
    val hot = ex.groupBy("tag", "g").agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") > lit(nDocs * dfFrac))
      .select("tag", "g")
    // NO nHot == 0 plan dial here, deliberately (r21): the
    // q_dedup_minhash_df dial pays off because WORD-shingle censuses
    // are frequently empty (sf0.1: 931 distinct shingles, max DF
    // 6.8%), but this tier's alphabet is CHAR 5/8-grams — on any
    // real English corpus grams like " the " clear the 25% DF bar in
    // every document, so the census is never empty and a dial would
    // only add the memo's census-count job (measured r21: +~1 s cold
    // for a branch that never fires outside synthetic spec corpora).
    // de-chrome via explode → broadcast ANTI-join → re-collect, NOT a
    // per-row array_except against a broadcast hot array: array_except
    // rebuilds the hot hash set for EVERY row (measured 5.3 s on the
    // 10×-skew replica, 17× the 0.3 s of this form, hot ≈ 6.8k grams);
    // the anti-join builds one broadcast hash table per task and the
    // per-doc sets re-gather in a single linear shuffle that ALSO
    // folds in the de-chromed two-band fingerprint (min over salted
    // md5s of the surviving 8-grams) — the separate fps pass + inner
    // join this replaces were a second gather shuffle plus a
    // sort-merge join of two doc-keyed sides. sort_array restores the
    // kernel's sorted-merge precondition; the where() reproduces the
    // old inner join's drops (all-chrome on EITHER alphabet → out of
    // the tier, the C4 convention).
    val rows = ex
      .join(broadcast(hot), Seq("tag", "g"), "left_anti")
      .groupBy("doc_id", "lenb")
      .agg(
        sort_array(collect_list(when(col("tag") === 5, col("g"))))
          .as("grams"),
        min(when(col("tag") === 8,
          md5(concat(lit("0:"), col("g").cast("string"))))).as("fp0"),
        min(when(col("tag") === 8,
          md5(concat(lit("1:"), col("g").cast("string"))))).as("fp1"))
      .where(size(col("grams")) > 0 && col("fp0").isNotNull)
      .graftBarrier // two consumers (block-size probe + gather)
    // band-explode: each doc gathers under both salted minima; the
    // band id rides inside the key so the two bands cannot collide
    val banded = rows.select(col("doc_id"), col("lenb"), col("grams"),
      explode(array(concat(lit("0|"), col("fp0")),
        concat(lit("1|"), col("fp1")))).as("fp"))
    // a pair whose docs agree on BOTH minima is found twice with the
    // identical (d1, d2, jaccard) row — distinct() collapses it
    ngramPairsFromRows(s, banded, blockCap,
      memoKeySuffix = s"df-fp-$d").distinct()
  }

  /** DuckDB CTE chain ending in `dfpairs`(d1, d2, jaccard) — the
    * oracle twin of [[ngramDfPairsAt]] at (NgramBlockCap,
    * ChromeDfFrac), shared by the registered query and the composed
    * pipeline oracle. CTE names are unique across the pipeline's
    * combined chains (minhash, k-means/semantic, span). */
  // Multi-reference CTE boundaries are MATERIALIZED (the same DuckDB
  // 1.0 per-reference-inlining lesson as minhashPairsCtesTail): g0's
  // gram extraction is read by ex and g, ex by the census and the
  // re-gather, g by both sides of the scored join, e8 by the 8-gram
  // census / distinct-gram packing / fingerprint gather, and gb four
  // times by the two-band candidate self-joins — at the 10× replica
  // the re-derivations dominated the pipeline oracle's runtime.
  private[graft] lazy val ngramDfCtes: String =
    s"""g0 AS MATERIALIZED (
      |  SELECT doc_id, CAST(floor(length(text) / 100) AS BIGINT) AS lenb,
      |    list_distinct(list_transform(
      |      range(1, greatest(length(text) - 4, 1) + 1),
      |      i -> substr(text, CAST(i AS INT), 5))) AS grams
      |  FROM documents),
      |nd AS (SELECT count(*) AS n FROM documents),
      |ex AS MATERIALIZED (SELECT doc_id, unnest(grams) AS gram FROM g0),
      |hot AS (
      |  SELECT gram FROM ex GROUP BY gram
      |  HAVING count(*) > (SELECT n FROM nd) * $ChromeDfFrac),
      |kept AS (
      |  SELECT e.doc_id, e.gram FROM ex e
      |  ANTI JOIN hot h ON h.gram = e.gram),
      |g AS MATERIALIZED (
      |  SELECT k.doc_id, g0.lenb, array_agg(k.gram) AS grams
      |  FROM kept k JOIN g0 ON g0.doc_id = k.doc_id
      |  GROUP BY 1, 2),
      |e8 AS MATERIALIZED (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, greatest(length(text) - 7, 1) + 1),
      |    i -> substr(text, CAST(i AS INT), 8)))) AS g8
      |  FROM documents),
      |hot8 AS (
      |  SELECT g8 FROM e8 GROUP BY g8
      |  HAVING count(*) > (SELECT n FROM nd) * $ChromeDfFrac),
      |g8v AS (
      |  -- the ngram8_packed kernel's long (seven bits per codepoint,
      |  -- little-endian; short whole-text grams flagged with their
      |  -- length in bits 56-58 and bit 61; ADVICE r16: mirror the
      |  -- kernel OFF-ASCII too — any gram with a code point >= 128
      |  -- falls back to the first 8 md5 bytes with bit 63 set, and
      |  -- the empty gram packs to the bare 2^61 sentinel), rendered
      |  -- base-10 and salted-md5'd — computed ONCE PER DISTINCT
      |  -- GRAM, not per (doc, gram) row
      |  SELECT g8, md5('0:' || pk) AS h0, md5('1:' || pk) AS h1
      |  FROM (
      |    SELECT g8, CAST(CASE
      |      WHEN strlen(g8) = length(g8) THEN
      |        -- every char is 1 UTF-8 byte <=> every code point < 128
      |        -- (the kernel's packable test); coalesce: list_sum of
      |        -- the empty gram's empty list is NULL, the kernel packs 0
      |        CAST(coalesce(list_sum(list_transform(
      |          range(1, length(g8) + 1),
      |          j -> CAST(ascii(substr(g8, CAST(j AS INT), 1)) AS BIGINT)
      |               * CAST(power(2, 7 * (j - 1)) AS BIGINT))), 0)
      |          + CASE WHEN length(g8) < 8 THEN
      |              length(g8) * CAST(power(2, 56) AS BIGINT)
      |              + CAST(power(2, 61) AS BIGINT)
      |            ELSE 0 END AS BIGINT)
      |      ELSE
      |        -- kernel md5 fallback: first 16 md5 hex digits as a u64
      |        -- (big-endian), bit 63 forced, reinterpreted as the
      |        -- signed long Spark renders: (u mod 2^63) - 2^63
      |        CAST(list_sum(list_transform(range(1, 17),
      |          j -> CAST(strpos('0123456789abcdef',
      |                 substr(md5(g8), CAST(j AS INT), 1)) - 1 AS HUGEINT)
      |               * CAST(power(2, 4 * (16 - j)) AS HUGEINT)))
      |          % CAST(power(2, 63) AS HUGEINT)
      |          - CAST(power(2, 63) AS HUGEINT) AS BIGINT)
      |      END AS VARCHAR) AS pk
      |    FROM (SELECT DISTINCT g8 FROM e8))),
      |fp AS (
      |  SELECT e.doc_id, min(v.h0) AS fp0, min(v.h1) AS fp1
      |  FROM e8 e
      |  JOIN g8v v ON v.g8 = e.g8
      |  ANTI JOIN hot8 h ON h.g8 = e.g8
      |  GROUP BY 1),
      |gb AS MATERIALIZED (
      |  -- narrow: the candidate self-joins below never read the gram
      |  -- arrays (scored re-joins g for those), so the 4×-scanned
      |  -- materialized block carries only the blocking keys
      |  SELECT g.doc_id, g.lenb, fp.fp0, fp.fp1
      |  FROM g JOIN fp ON fp.doc_id = g.doc_id),
      |gcand AS (
      |  -- either band matches: two hash-joinable equi-joins, not an
      |  -- OR join (which planned nested-loop and ran minutes at 10×)
      |  SELECT DISTINCT d1, d2 FROM (
      |    SELECT a.doc_id AS d1, b.doc_id AS d2
      |    FROM gb a JOIN gb b ON a.lenb = b.lenb AND a.fp0 = b.fp0
      |      AND a.doc_id < b.doc_id
      |    UNION ALL
      |    SELECT a.doc_id, b.doc_id
      |    FROM gb a JOIN gb b ON a.lenb = b.lenb AND a.fp1 = b.fp1
      |      AND a.doc_id < b.doc_id)),
      |scored AS (
      |  SELECT c.d1, c.d2,
      |    len(list_intersect(x.grams, y.grams)) AS ni,
      |    len(x.grams) AS n1, len(y.grams) AS n2
      |  FROM gcand c
      |  JOIN g x ON x.doc_id = c.d1
      |  JOIN g y ON y.doc_id = c.d2),
      |dfpairs AS (
      |  SELECT d1, d2,
      |    """.stripMargin +
      ratio6Sql("ni", "n1 + n2 - ni") +
      """ AS jaccard
      |  FROM scored
      |  WHERE 3 * ni >= n1 + n2)""".stripMargin

  private val dedupNgramDfSql =
    s"WITH $ngramDfCtes\nSELECT d1, d2, jaccard FROM dfpairs ORDER BY d1, d2"

  // ------------------------------------------------------------ text stats

  /** Per-language corpus stats (SURVEY §2.10 q_text_stats). Means are
    * integer-exact rounded ratios (Det.ratio6). */
  def textStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("nw"),
        length(col("text")).cast("long").as("nc"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("nw").as("total_words"),
        ratio6(sum("nw"), count(lit(1))).as("avg_words"),
        ratio6(sum("nc"), count(lit(1))).as("avg_chars"),
        countDistinct("source").as("n_sources"))
      .orderBy("lang")

  private val textStatsSql =
    s"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_words,
      |  ${ratio6Sql("sum(len(string_split(text, ' ')))", "count(*)")} AS avg_words,
      |  ${ratio6Sql("sum(length(text))", "count(*)")} AS avg_chars,
      |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ----------------------------------------------------------- token count

  /** Whitespace + BPE-ish token counts (SURVEY §2.10) — one scan per
    * document through the `token_stats` kernel (r12): the previous
    * split + regexp_extract_all materialized a token array AND a
    * match array per row (measured 8.3 s / 500 k docs at the 100×
    * documents probe, all of it allocation). The kernel's run
    * classification is exactly the regex's
    * `[a-z]+|[0-9]+|[^a-z0-9 ]` semantics; the DuckDB oracle keeps
    * the regex form, so every green run re-proves the equivalence. */
  def tokenCount(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"), expr("token_stats(text)").as("ts"))
      .select(
        col("doc_id"),
        col("ts.ws_tokens").as("ws_tokens"),
        col("ts.bpeish_tokens").as("bpeish_tokens"),
        col("ts.n_chars").as("n_chars"))
      .orderBy("doc_id")
  }

  private val tokenCountSql =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
      |    AS bpeish_tokens,
      |  CAST(length(text) AS BIGINT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Subword token counts by greedy longest-match over the committed
    * BPE merges table ([[BpeTokens]]) — the real-tokenizer upgrade of
    * `q_token_count`'s regex heuristic. One built-in string function,
    * fully codegen'd, and the oracle runs the identical pattern. */
  def tokenCountBpe(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id"),
      size(expr(
        s"regexp_extract_all(text, '${BpeTokens.pattern}', 0)"))
        .cast("long").as("bpe_tokens"),
      size(split(col("text"), " ")).cast("long").as("ws_tokens"))
      .orderBy("doc_id")

  private val tokenCountBpeSql =
    s"""SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '${BpeTokens.pattern}')) AS BIGINT)
      |    AS bpe_tokens,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  // -------------------------------------------------------------- quality

  /** Common function words used as the stopword inventory (also the
    * lang-ID marker list below) — a real pipeline plugs in a per-language
    * stopword table here. */
  /** SQL literal form of the kernel's canonical stopword list
    * ([[graft.functions.HashKernels.Stopwords]]) — one definition
    * shared by the Spark kernels and the DuckDB oracles. */
  private val stopwords = graft.functions.HashKernels.Stopwords
    .map(w => s"'$w'").mkString(",")

  /** Composite quality score (SURVEY §2.10 quality scoring —
    * length/punctuation/stopword ratios): length saturation + lexical
    * diversity + stopword-ratio band (good prose carries SOME function
    * words; none or all is a quality signal) + punctuation-density
    * penalty.
    *
    * quality = 0.25·min(nw,100)/100 + 0.3·nu/nw + 0.25·min(ncl,500)/500
    *         + 0.1·min(5·nsw,nw)/nw + 0.1·(ncl−min(10·npunct,ncl))/ncl
    * evaluated as ONE exact integer rational N / (2000·nw·ncl) and
    * rounded in integer space (Det.ratio6) — a float evaluation of the
    * same formula diverged between engines by one last-digit ulp on 1
    * of 50k docs at sf0.1 (round(double, 6) boundary). Bound: needs
    * nw·ncl·min(nw,100)·10⁷ < 2⁶³, i.e. nw·ncl < ~9·10⁹ per doc. */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    // all five counters in ONE pass per document (r12): the previous
    // expression pipeline ran three splits, an array_distinct and a
    // regexp_extract_all per row — measured 5.25 s / 500 k docs at the
    // 10× replica, all of it building throwaway token/match arrays
    graft.functions.GraftFunctions.register(s)
    Tables.documents(s, d)
      .withColumn("qs", expr("quality_stats(text)"))
      .withColumn("nw", col("qs.nw"))
      .withColumn("nu", col("qs.nu"))
      .withColumn("ncl", col("qs.ncl"))
      .withColumn("nsw", col("qs.nsw"))
      .withColumn("npunct", col("qs.npunct"))
      .withColumn("qn",
        lit(5L) * col("nw") * col("ncl") * least(col("nw"), lit(100L)) +
          lit(600L) * col("nu") * col("ncl") +
          col("nw") * col("ncl") * least(col("ncl"), lit(500L)) +
          lit(200L) * col("ncl") * least(lit(5L) * col("nsw"), col("nw")) +
          lit(200L) * col("nw") *
            (col("ncl") - least(lit(10L) * col("npunct"), col("ncl"))))
      .select(col("doc_id"), col("lang"),
        ratio6(col("nsw"), col("nw")).as("stopword_ratio"),
        ratio6(col("npunct"), col("ncl")).as("punct_ratio"),
        ratio6(col("qn"), lit(2000L) * col("nw") * col("ncl"))
          .as("quality"))
      .orderBy("doc_id")
  }

  private val qualityScoreSql = {
    val qn = "5*nw*ncl*least(nw,100) + 600*nu*ncl + nw*ncl*least(ncl,500)" +
      " + 200*ncl*least(5*nsw,nw) + 200*nw*(ncl - least(10*npunct,ncl))"
    s"""SELECT doc_id, lang,
      |  ${ratio6Sql("nsw", "nw")} AS stopword_ratio,
      |  ${ratio6Sql("npunct", "ncl")} AS punct_ratio,
      |  ${ratio6Sql(qn, "2000*nw*ncl")} AS quality
      |FROM (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nu,
      |    CAST(length(text) AS BIGINT) AS ncl,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      w -> w IN ($stopwords))) AS BIGINT) AS nsw,
      |    CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS BIGINT)
      |      AS npunct
      |  FROM documents) t
      |ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------------- lang id

  /** N-gram-flavoured language-ID heuristic: marker-word hit ratio with
    * a fixed decision rule (SURVEY §2.10 language-ID). The synthetic
    * corpus only separates 'es' from the rest, so the classifier is
    * binary; the machinery (tokenize → marker ratio → argmax) is the
    * real product. */
  def langId(s: SparkSession, d: String): DataFrame = {
    // same one-pass kernel as qualityScore (nm ≡ its nsw counter)
    graft.functions.GraftFunctions.register(s)
    Tables.documents(s, d)
      .withColumn("qs", expr("quality_stats(text)"))
      .withColumn("nm", col("qs.nsw"))
      .withColumn("nw", col("qs.nw"))
      .select(col("doc_id"), col("lang"),
        ratio6(col("nm"), col("nw")).as("score_es"),
        // marker ratio > 1/2 exactly, as an integer compare
        when(col("nm") * 2 > col("nw"), lit("es")).otherwise(lit("xx"))
          .as("pred_lang"))
      .withColumn("is_match",
        (col("pred_lang") === lit("es")) === (col("lang") === lit("es")))
      .orderBy("doc_id")
  }

  private val langIdSql =
    s"""SELECT doc_id, lang,
      |  ${ratio6Sql("nm", "nw")} AS score_es,
      |  CASE WHEN 2 * nm > nw THEN 'es' ELSE 'xx' END AS pred_lang,
      |  (CASE WHEN 2 * nm > nw THEN 'es' ELSE 'xx' END = 'es') = (lang = 'es')
      |    AS is_match
      |FROM (
      |  SELECT doc_id, lang,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      w -> w IN ($stopwords))) AS BIGINT) AS nm,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
      |  FROM documents) t
      |ORDER BY doc_id""".stripMargin

  /** Character-n-gram-profile language ID (Cavnar–Trenkle-style,
    * simplified): per-language profiles are the top-20 most frequent
    * char-3-grams over a held-out training half (even doc_ids); each
    * doc is scored by profile overlap and classified to the
    * highest-overlap language, ties broken by language name, zero
    * overlap → 'xx'. Deterministic end to end: integer counts, ranked
    * windows with total-order tie-breaks. The profile is a tiny
    * broadcast dimension; scoring is one keyed join + aggregate. */
  def langIdNgram(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = Fanout.byKey(Tables.documents(s, d), col("doc_id"))
    // The lineage barrier holds per-doc gram ARRAYS, not exploded rows
    // (r13): the r12 plan checkpointed the exploded relation — ~400
    // distinct trigrams per doc means corpus × 400 ROWS through the
    // checkpoint store (≈200 M rows at the 100× replica) with per-row
    // object overhead dwarfing the gram bytes. The array form carries
    // the same bytes in corpus-many rows, still evaluates ngram3_set
    // exactly once per doc, and both consumers explode FROM the
    // checkpoint inside their own stages: the profile side
    // partial-aggregates map-side, the hits side filters against the
    // BROADCAST profile hash table as it explodes, so only actual
    // profile hits (≤ docs × langs × 20) reach its shuffle.
    val base = docs.select(col("doc_id"), col("lang"),
        expr("ngram3_set(text)").as("gs"))
      .graftBarrier
    val prof = base.filter(col("doc_id") % 2 === 0)
      .select(col("lang"), explode(col("gs")).as("gram"))
      .groupBy("lang", "gram").agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("cnt").desc, col("gram"))))
      .filter(col("rk") <= 20)
      .select(col("lang").as("plang"), col("gram"))
    // hits side WITHOUT the gram explode (r21, guide §2.3 — shuffle
    // rows are the wrong currency here): the old plan exploded every
    // doc's full distinct-gram array (corpus × ~10³ rows), hash-joined
    // each gram row against the broadcast profile and re-aggregated by
    // (doc_id, plang). But the profile is ≤ 20 grams × #langs, so the
    // per-(doc, lang) hit count is exactly
    // |gs ∩ profile(lang)| — computable as one codegen'd
    // array_intersect per (doc, lang) pair (docs × #langs rows total,
    // zero extra shuffle; ngram3_set arrays are DISTINCT by kernel
    // contract, so the intersect size equals the old per-gram join
    // count). The profile gathers into one tiny per-lang array row
    // (sorted for determinism) and broadcast-cross-joins the barriered
    // gram arrays. Oracle SQL unchanged — same counts by construction.
    val profArr = prof.groupBy("plang")
      .agg(sort_array(collect_list(col("gram"))).as("pgrams"))
    val hits = base
      .crossJoin(broadcast(profArr))
      .select(col("doc_id"), col("plang"),
        size(array_intersect(col("gs"), col("pgrams"))).cast("long")
          .as("nhit"))
      .filter(col("nhit") > 0)
    val best = hits.withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("nhit").desc, col("plang"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("plang"), col("nhit"))
    docs.select("doc_id", "lang")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("plang"), lit("xx")).as("pred_lang"),
        coalesce(col("nhit"), lit(0L)).as("n_profile_hits"),
        (coalesce(col("plang"), lit("xx")) === col("lang")).cast("long")
          .as("is_match"))
      .orderBy("doc_id")
  }

  private val langIdNgramSql =
    """WITH g AS (
      |  SELECT doc_id, lang, unnest(list_distinct(list_transform(
      |    range(1, greatest(length(text) - 2, 1) + 1),
      |    i -> substr(text, CAST(i AS INT), 3)))) AS gram
      |  FROM documents),
      |prof AS (
      |  SELECT plang, gram FROM (
      |    SELECT lang AS plang, gram, row_number() OVER (PARTITION BY lang
      |      ORDER BY count(*) DESC, gram) AS rk
      |    FROM g WHERE doc_id % 2 = 0 GROUP BY lang, gram) t
      |  WHERE rk <= 20),
      |hits AS (
      |  SELECT g.doc_id, p.plang, CAST(count(*) AS BIGINT) AS nhit
      |  FROM g JOIN prof p ON p.gram = g.gram GROUP BY 1, 2),
      |best AS (
      |  SELECT doc_id, plang, nhit FROM (
      |    SELECT *, row_number() OVER (PARTITION BY doc_id
      |      ORDER BY nhit DESC, plang) AS rn FROM hits) t
      |  WHERE rn = 1)
      |SELECT d.doc_id, d.lang,
      |  coalesce(b.plang, 'xx') AS pred_lang,
      |  CAST(coalesce(b.nhit, 0) AS BIGINT) AS n_profile_hits,
      |  CAST(CASE WHEN coalesce(b.plang, 'xx') = d.lang
      |       THEN 1 ELSE 0 END AS BIGINT) AS is_match
      |FROM documents d LEFT JOIN best b USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------- fingerprint

  /** Rolling-hash document fingerprint: min md5 over all char 8-grams —
    * winnowing's global-min special case (SURVEY §2.10 fingerprinting).
    * The 8-gram explosion is a narrow generator (no shuffle) followed by
    * one keyed min-aggregation. */
  def fingerprint(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Fanout.byKey(Tables.documents(s, d), col("doc_id"))
      // native single-pass kernel (see HashKernels.fingerprintUtf8)
      .select(col("doc_id"),
        expr("min_fingerprint(text)").as("fingerprint"))
      .orderBy("doc_id")
  }

  private val fingerprintSql =
    """WITH pos AS (
      |  SELECT doc_id, text,
      |    unnest(range(1, greatest(length(text) - 7, 1) + 1)) AS i
      |  FROM documents)
      |SELECT doc_id, min(md5(substr(text, CAST(i AS INT), 8))) AS fingerprint
      |FROM pos GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------- decontamination

  /** Train/eval decontamination (SURVEY §2.10 family): flag every
    * training document sharing at least one word-5-gram with the
    * benchmark set — the n-gram-overlap contamination check the large
    * LM corpora run before training. The benchmark here is the
    * deterministic held-out slice `doc_id % 50 = 7` (a stand-in for an
    * external eval table; swapping in a real one changes one filter).
    *
    * Scale shape: the benchmark side is BOUNDED (eval suites are MBs,
    * not TBs) — its distinct grams broadcast once, so the training
    * corpus is never shuffled: each doc's grams stream through the
    * broadcast hash join and only CONTAMINATED rows reach the
    * aggregation. The train side deliberately skips a distinct() — a
    * per-(doc,gram) dedup would shuffle the whole corpus to save work
    * the broadcast filter already avoids; countDistinct in the final
    * agg (contaminated rows only) gives the same answer. */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val docs = Tables.documents(s, d)
    // The TRAIN side never materializes a gram string (r13): its
    // 5-grams ride as 128-bit `span_gram_hashes` fingerprints (each
    // token's bytes hashed once; the r12 form concat_ws'd every
    // 5-word window ≈ 5 copies of every corpus byte). The BENCH side
    // is bounded (eval suites are MBs — 2% of docs here), so it
    // carries BOTH the fingerprint and the gram text; the broadcast
    // hash join matches on the fingerprint and every output column
    // (gram string for count/min, bench_id) comes from the broadcast
    // side. Fingerprinting is sound under the same n²/2¹²⁹ collision
    // budget as q_span_dedup (split tokens contain no spaces →
    // joined-gram ↔ token-sequence bijection); the string-keyed
    // DuckDB oracle re-validates no-collision on every hash-match.
    def toks(df: DataFrame) = df
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 5)
    val bench = toks(docs.filter(col("doc_id") % 50 === 7))
      .select(col("doc_id").as("bench_id"), col("w"),
        explode(expr("span_gram_hashes(w, 5)")).as("gh"))
      .select(col("bench_id"), col("gh.h1").as("h1"),
        col("gh.h2").as("h2"),
        expr("concat_ws(' ', slice(w, gh.pos + 1, 5))").as("gram"))
      .distinct()
    // Per-doc DISTINCT fingerprints before any join (r14): the output
    // counts distinct grams/bench docs, so positional multiplicity is
    // dead weight — and under a boilerplate regime it is CRUSHING
    // weight (the 10x-skewed replica's repeated-token plant puts the
    // same 5-gram at ~10-30 positions per doc; joined against ~900
    // bench docs sharing it, the r13 plan materialized ~400M join
    // rows: measured 57.6 s).
    val train = toks(docs.filter(col("doc_id") % 50 =!= 7))
      .select(col("doc_id"),
        explode(expr("span_gram_hashes(w, 5)")).as("gh"))
      .select(col("doc_id"), col("gh.h1").as("h1"),
        col("gh.h2").as("h2"))
      .distinct()
    // Split aggregation (r14): n_shared_grams/min(gram) need only
    // "does this train gram appear in ANY bench doc" — join against
    // the DISTINCT bench grams (one row per gram no matter how many
    // bench docs carry it): output ≤ train grams, LINEAR under any
    // skew. Only n_bench_docs needs (train_doc, bench_id) pairs —
    // that set is the true answer (boilerplate really does contaminate
    // every train doc against every chrome bench doc) — and the
    // distinct BEFORE the count collapses the per-gram multiplicity
    // (a pair sharing 30 chrome grams fed 30 rows into the r13
    // countDistinct; one is enough).
    val benchGrams = bench.select("h1", "h2", "gram")
      .groupBy("h1", "h2").agg(min("gram").as("gram"))
    val gramStats = train.join(broadcast(benchGrams), Seq("h1", "h2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_grams"),
        min("gram").as("first_shared_gram"))
    val benchPairs = train
      .join(broadcast(bench.select("h1", "h2", "bench_id")),
        Seq("h1", "h2"))
      .select("doc_id", "bench_id").distinct()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bench_docs"))
    gramStats.join(benchPairs, "doc_id")
      .select(col("doc_id"), col("n_shared_grams"),
        col("n_bench_docs"), col("first_shared_gram"))
      .orderBy("doc_id")
  }

  private val decontaminateSql =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 5),
      |pos AS (
      |  SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM toks),
      |grams AS (
      |  SELECT doc_id, array_to_string(w[i:i+4], ' ') AS gram FROM pos),
      |bench AS (
      |  SELECT DISTINCT doc_id AS bench_id, gram FROM grams
      |  WHERE doc_id % 50 = 7),
      |train AS (
      |  SELECT doc_id, gram FROM grams WHERE doc_id % 50 <> 7)
      |SELECT t.doc_id,
      |  CAST(count(DISTINCT t.gram) AS BIGINT) AS n_shared_grams,
      |  CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs,
      |  min(t.gram) AS first_shared_gram
      |FROM train t JOIN bench b ON b.gram = t.gram
      |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------- decontamination + DF

  def decontaminateDf(s: SparkSession, d: String): DataFrame =
    decontaminateDfAt(s, d, dfFrac = ChromeDfFrac)

  /** Decontamination with the document-frequency chrome filter
    * (VERDICT r15 next #3, the [[dedupNgramDfAt]] treatment): a
    * 5-gram present in more than `dfFrac` of the TRAIN corpus is
    * boilerplate, and matching it against an eval suite is evidence
    * of a shared template, not of leakage — Lee et al. 2021 and the
    * C4 pipeline both drop such grams before the contamination join.
    * The r15 skew replica measured the cost of skipping this: 11.1 s
    * computing a 40M-pair answer that is ~all chrome. Hot grams are
    * filtered from the train side before both joins (inner joins, so
    * one side suffices); train docs whose only bench overlap was
    * chrome now report clean — the behavior a decontamination
    * pipeline actually wants.
    *
    * Scale shape: DF is one map-side-combinable count over the
    * already-DISTINCT per-doc fingerprints, and the hot set is
    * broadcast-safe by construction (≤ L/dfFrac distinct grams
    * regardless of corpus size — each needs > dfFrac·n docs, and
    * there are only n·L (doc, gram) rows to go around). */
  private[graft] def decontaminateDfAt(s: SparkSession, d: String,
      dfFrac: Double): DataFrame = {
    require(dfFrac > 0.0 && dfFrac <= 1.0,
      s"decontaminate_df: dfFrac must be in (0, 1], got $dfFrac")
    graft.functions.GraftFunctions.register(s)
    val docs = Tables.documents(s, d)
    def toks(df: DataFrame) = df
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 5)
    val bench = toks(docs.filter(col("doc_id") % 50 === 7))
      .select(col("doc_id").as("bench_id"), col("w"),
        explode(expr("span_gram_hashes(w, 5)")).as("gh"))
      .select(col("bench_id"), col("gh.h1").as("h1"),
        col("gh.h2").as("h2"),
        expr("concat_ws(' ', slice(w, gh.pos + 1, 5))").as("gram"))
      .distinct()
    val trainToks = toks(docs.filter(col("doc_id") % 50 =!= 7))
    val nTrain =
      memoMaxBucket(s, s"decon-df-ntrain-$d")(trainToks.count())
    val train0 = trainToks
      .select(col("doc_id"),
        explode(expr("span_gram_hashes(w, 5)")).as("gh"))
      .select(col("doc_id"), col("gh.h1").as("h1"),
        col("gh.h2").as("h2"))
      .distinct()
      .graftBarrier // two consumers: the DF census and the anti-join
    val hot = train0.groupBy("h1", "h2")
      .agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") > lit(nTrain * dfFrac))
      .select("h1", "h2")
    val train = train0.join(broadcast(hot), Seq("h1", "h2"), "left_anti")
    // ONE broadcast join + ONE per-doc aggregate (r17): the bench side
    // pre-groups per gram (representative gram text + the SET of bench
    // docs carrying it — bench is ~2% of the corpus, so both stay
    // broadcast-small), and the per-doc rollup computes all three
    // outputs in a single shuffle. The previous shape ran TWO broadcast
    // joins over `train`, two doc-keyed aggregates, and a sort-merge
    // join to recombine them — same answers, three extra stages. The
    // flatten/array_distinct group state is bounded by the ANSWER
    // (matched grams per doc × bench docs per gram), not the corpus.
    val benchSide = bench.groupBy("h1", "h2")
      .agg(min("gram").as("gram"),
        collect_set(col("bench_id")).as("bids"))
    train.join(broadcast(benchSide), Seq("h1", "h2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_grams"),
        size(array_distinct(flatten(collect_list(col("bids")))))
          .cast("long").as("n_bench_docs"),
        min("gram").as("first_shared_gram"))
      .select(col("doc_id"), col("n_shared_grams"),
        col("n_bench_docs"), col("first_shared_gram"))
      .orderBy("doc_id")
  }

  private val decontaminateDfSql =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |  WHERE len(string_split(text, ' ')) >= 5),
      |pos AS (
      |  SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i FROM toks),
      |grams AS (
      |  SELECT doc_id, array_to_string(w[i:i+4], ' ') AS gram FROM pos),
      |bench AS (
      |  SELECT DISTINCT doc_id AS bench_id, gram FROM grams
      |  WHERE doc_id % 50 = 7),
      |train0 AS (
      |  SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 50 <> 7),
      |ntrain AS (SELECT count(DISTINCT doc_id) AS n FROM train0),
      |hot AS (
      |  SELECT gram FROM train0 GROUP BY gram
      |  HAVING count(*) > (SELECT n FROM ntrain) * $ChromeDfFrac),
      |train AS (
      |  SELECT t.doc_id, t.gram FROM train0 t
      |  ANTI JOIN hot h ON h.gram = t.gram)
      |SELECT t.doc_id,
      |  CAST(count(DISTINCT t.gram) AS BIGINT) AS n_shared_grams,
      |  CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs,
      |  min(t.gram) AS first_shared_gram
      |FROM train t JOIN bench b ON b.gram = t.gram
      |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------ sampling

  /** Deterministic stratified sampling (SURVEY §2.10 family): keep each
    * document iff the first two hex chars of md5("s42:" + doc_id) fall
    * under the stratum's threshold — 'en' keeps 128/256 (50 %), other
    * languages 64/256 (25 %). Hash-based sampling is the
    * training-pipeline shape: reproducible across runs and engines (no
    * RNG state), embarrassingly parallel (a pure map filter — ZERO
    * shuffle before the presentation sort), and any row's membership is
    * auditable from its key alone. Rates are per-stratum, the
    * up/down-weighting lever for language balance at 100 TB. */
  def sampleStratified(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("bucket",
        substring(md5(concat(lit("s42:"), col("doc_id").cast("string"))),
          1, 2))
      .filter(col("bucket") <
        when(col("lang") === "en", lit("80")).otherwise(lit("40")))
      .select("doc_id", "lang", "bucket")
      .orderBy("doc_id")

  private val sampleStratifiedSql =
    """SELECT doc_id, lang,
      |  substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
      |FROM documents
      |WHERE substr(md5('s42:' || CAST(doc_id AS VARCHAR)), 1, 2)
      |  < CASE WHEN lang = 'en' THEN '80' ELSE '40' END
      |ORDER BY doc_id""".stripMargin

  /** Deterministic train/val/test split over the SAME keyed-hash
    * construction: hash ranges [00,cc) / [cc,e6) / [e6,ff] assign
    * ~80/10/10. A different salt ("split1:") decorrelates the split
    * from any sampling decision made with another salt. */
  def sampleSplit(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("bucket",
        substring(md5(concat(lit("split1:"), col("doc_id").cast("string"))),
          1, 2))
      .select(col("doc_id"), col("lang"),
        when(col("bucket") < "cc", "train")
          .when(col("bucket") < "e6", "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  private val sampleSplitSql =
    """SELECT doc_id, lang,
      |  CASE WHEN substr(md5('split1:' || CAST(doc_id AS VARCHAR)), 1, 2)
      |         < 'cc' THEN 'train'
      |       WHEN substr(md5('split1:' || CAST(doc_id AS VARCHAR)), 1, 2)
      |         < 'e6' THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- repetition filters

  /** Gopher/C4-style repetition filters (SURVEY §2.10 family):
    * duplicate-word fraction, most-common-word fraction and
    * most-common-bigram fraction per document, plus the filter verdict
    * at the Gopher-ish thresholds (top word > 20 %, duplicate words
    * > 30 %). The four underlying counters come from ONE
    * `rep_stats(text)` kernel call — a narrow projection with no token
    * explode and no shuffle (the oracle's unnest+GROUP BY form shuffles
    * every token; at 100 TB that is the difference between a map-only
    * scan and re-shuffling the whole corpus to compute per-doc
    * numbers). Ratios are integer-exact (Det.ratio6); the verdict is
    * evaluated as integer cross-multiplication, so no float boundary
    * can flip it between engines. */
  def repetitionFilter(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), expr("rep_stats(text)").as("r"))
      .select(col("doc_id"), col("lang"),
        ratio6(col("r.nw") - col("r.ndw"), col("r.nw"))
          .as("dup_word_ratio"),
        ratio6(col("r.topw"), col("r.nw")).as("top_word_ratio"),
        ratio6(col("r.topbg"), greatest(col("r.nw") - 1, lit(1L)))
          .as("top_bigram_ratio"),
        (col("r.topw") * 5 > col("r.nw") ||
          (col("r.nw") - col("r.ndw")) * 10 > col("r.nw") * 3)
          .as("would_filter"))
      .orderBy("doc_id")
  }

  private val repetitionFilterSql =
    s"""WITH arrs AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS arr FROM documents),
      |wc AS (
      |  SELECT doc_id, w, count(*) AS c
      |  FROM (SELECT doc_id, unnest(arr) AS w FROM arrs)
      |  GROUP BY doc_id, w),
      |ws AS (
      |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS nw,
      |    CAST(count(*) AS BIGINT) AS ndw, CAST(max(c) AS BIGINT) AS topw
      |  FROM wc GROUP BY doc_id),
      |bc AS (
      |  SELECT doc_id, b, count(*) AS c
      |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(arr)),
      |          i -> arr[i] || ' ' || arr[i + 1])) AS b
      |        FROM arrs)
      |  GROUP BY doc_id, b),
      |bs AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS topbg
      |       FROM bc GROUP BY doc_id)
      |SELECT a.doc_id, a.lang,
      |  ${ratio6Sql("ws.nw - ws.ndw", "ws.nw")} AS dup_word_ratio,
      |  ${ratio6Sql("ws.topw", "ws.nw")} AS top_word_ratio,
      |  ${ratio6Sql("coalesce(bs.topbg, 0)", "greatest(ws.nw - 1, 1)")}
      |    AS top_bigram_ratio,
      |  (ws.topw * 5 > ws.nw OR (ws.nw - ws.ndw) * 10 > ws.nw * 3)
      |    AS would_filter
      |FROM arrs a
      |JOIN ws ON ws.doc_id = a.doc_id
      |LEFT JOIN bs ON bs.doc_id = a.doc_id
      |ORDER BY a.doc_id""".stripMargin

  // ----------------------------------------------------- PII redaction

  /** Sensitive terms treated as the PII dictionary — a real pipeline
    * plugs in its own blocklist / NER output here. */
  private val piiDict = "customer|supplier"

  /** Regex PII redaction (SURVEY §2.10 family): emails, phone-shaped
    * digit runs and dictionary terms are each replaced with a typed
    * placeholder; the output carries per-category hit counts and the
    * md5 of the redacted text (so the oracle verifies the REPLACEMENT,
    * not just the counts). A pure per-row projection — zero shuffle
    * before the presentation sort. The email/phone patterns stay in the
    * RE2-compatible subset (character classes + quantifiers, no
    * backrefs/lookahead) so Spark's Java regex and DuckDB's RE2 match
    * identically; DuckDB needs the 'g' flag to match Spark's
    * replace-all default. */
  def piiRedact(s: SparkSession, d: String): DataFrame = {
    val email = "[a-z0-9._]+@[a-z0-9.]+"
    val phone = "[0-9]{3}[- ][0-9]{3,4}[- ][0-9]{4}"
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(expr(s"regexp_extract_all(text, '$email', 0)")).cast("long")
          .as("n_email"),
        size(expr(s"regexp_extract_all(text, '$phone', 0)")).cast("long")
          .as("n_phone"),
        size(expr(s"regexp_extract_all(text, '$piiDict', 0)")).cast("long")
          .as("n_dict"),
        md5(regexp_replace(regexp_replace(regexp_replace(col("text"),
          email, "<EMAIL>"), phone, "<PHONE>"), piiDict, "<NAME>"))
          .as("redacted_hash"))
      .orderBy("doc_id")
  }

  private val piiRedactSql =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.]+'))
      |    AS BIGINT) AS n_email,
      |  CAST(len(regexp_extract_all(text,
      |    '[0-9]{3}[- ][0-9]{3,4}[- ][0-9]{4}')) AS BIGINT) AS n_phone,
      |  CAST(len(regexp_extract_all(text, 'customer|supplier'))
      |    AS BIGINT) AS n_dict,
      |  md5(regexp_replace(regexp_replace(regexp_replace(text,
      |    '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
      |    '[0-9]{3}[- ][0-9]{3,4}[- ][0-9]{4}', '<PHONE>', 'g'),
      |    'customer|supplier', '<NAME>', 'g')) AS redacted_hash
      |FROM documents ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- sequence packing

  /** Training-sequence packing: assign documents to fixed-capacity
    * (2048-token) training sequences by contiguous greedy packing —
    * the pretraining step that turns a document corpus into
    * fixed-length sample rows. A document whose tokens would overflow
    * the current sequence starts the next one (documents are not
    * split; over-capacity docs get a sequence of their own, the
    * standard greedy behavior).
    *
    * Scale shape: packing is inherently sequential, so a GLOBAL order
    * would funnel the corpus through one task. Instead documents pack
    * within 32 deterministic hash groups (`doc_id % 32` — a FIXED key,
    * never spark_partition_id, so the answer is engine- and
    * run-independent); each group is an independent window, the
    * distributed form a real pipeline uses (one packing stream per
    * writer task). All arithmetic is exact integers. */
  def seqPack(s: SparkSession, d: String): DataFrame =
    seqPackGrouped(s, d, groups = 32)

  /** `groups` sets the packing parallelism: one independent packing
    * stream per group (at 100 TB, size it to the cluster's writer-task
    * count — it was a literal 32 before round 6). The registered query
    * pins 32 so the oracle SQL matches. */
  def seqPackGrouped(s: SparkSession, d: String, groups: Int): DataFrame = {
    require(groups > 0, s"seq_pack: groups must be > 0, got $groups")
    val cap = 2048L
    val g = Window.partitionBy("grp").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(s, d)
      .select(col("doc_id"), (col("doc_id") % groups).as("grp"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      // capacity-aware cumulative: a doc overflowing the current
      // sequence "rounds up" the running total to the next boundary
      // first. Greedy packing's state recurrence is not a plain sum,
      // but with docs <= cap it is equivalent to: cum = sum of
      // ceil-adjusted tokens where each doc contributes its tokens
      // plus the padding the PREVIOUS boundary crossing discarded.
      // The standard window-only approximation used here packs by
      // cumulative token count: seq = floor(cum_before / cap) —
      // boundary-crossing docs straddle, which is the PACKED-SAMPLE
      // (concat-then-chunk) convention (GPT-style pretraining packs
      // exactly this way: concatenate, then cut every cap tokens).
      .withColumn("cum", sum("n_tokens").over(g))
      .select(col("doc_id"), col("grp"), col("n_tokens"),
        expr(s"(cum - n_tokens) DIV $cap").as("seq_id"),
        expr(s"(cum - n_tokens) % $cap").as("seq_offset"),
        // does this doc straddle a sequence boundary?
        (expr(s"(cum - n_tokens) DIV $cap") =!=
          expr(s"(cum - 1) DIV $cap")).as("straddles"))
      .orderBy("doc_id")
  }

  /** Greedy NON-straddling packing — the other packing convention
    * (q_seq_pack documents the difference): a document whose tokens
    * would overflow the current sequence starts a NEW sequence
    * (first-fit sequential; documents never split across sequences;
    * an over-capacity doc gets a sequence of its own). The per-group
    * state recurrence (used-capacity resets at each boundary) has no
    * closed window form, so it runs as `flatMapSortedGroups`: the
    * shuffle sort delivers each group's docs in doc_id order and the
    * packer streams them with O(1) state — no in-memory group buffer,
    * no window sort on top. Parallelism = `groups` independent packing
    * streams, same deterministic `doc_id % groups` keying as
    * q_seq_pack. The DuckDB oracle expresses the same recurrence as a
    * recursive CTE. */
  def seqPackGreedy(s: SparkSession, d: String): DataFrame =
    seqPackGreedyGrouped(s, d, groups = 32)

  def seqPackGreedyGrouped(s: SparkSession, d: String,
      groups: Int): DataFrame = {
    require(groups > 0, s"seq_pack_greedy: groups must be > 0, got $groups")
    import s.implicits._
    val cap = 2048L
    val docs = Tables.documents(s, d)
      .select(col("doc_id").cast("long").as("doc_id"),
        (col("doc_id") % groups).cast("long").as("grp"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .as[PackDoc]
    docs.groupByKey(_.grp)
      .flatMapSortedGroups(col("doc_id")) {
        (grp: Long, it: Iterator[PackDoc]) =>
          var seq = 0L
          var used = 0L
          it.map { doc =>
            if (used > 0 && used + doc.n_tokens > cap) { seq += 1; used = 0 }
            val out = PackOut(doc.doc_id, grp, doc.n_tokens, seq, used)
            used += doc.n_tokens
            out
          }
      }
      .toDF()
      .orderBy("doc_id")
  }

  private val seqPackGreedySql =
    """WITH RECURSIVE t AS (
      |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |    CAST(doc_id % 32 AS BIGINT) AS grp,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    row_number() OVER (PARTITION BY doc_id % 32 ORDER BY doc_id)
      |      AS rn
      |  FROM documents),
      |pack AS (
      |  SELECT grp, rn, doc_id, n_tokens,
      |    CAST(0 AS BIGINT) AS seq_id, CAST(0 AS BIGINT) AS seq_offset,
      |    n_tokens AS used
      |  FROM t WHERE rn = 1
      |  UNION ALL
      |  SELECT t.grp, t.rn, t.doc_id, t.n_tokens,
      |    CASE WHEN p.used + t.n_tokens > 2048
      |      THEN p.seq_id + 1 ELSE p.seq_id END,
      |    CASE WHEN p.used + t.n_tokens > 2048
      |      THEN CAST(0 AS BIGINT) ELSE p.used END,
      |    CASE WHEN p.used + t.n_tokens > 2048
      |      THEN t.n_tokens ELSE p.used + t.n_tokens END
      |  FROM t JOIN pack p ON t.grp = p.grp AND t.rn = p.rn + 1)
      |SELECT doc_id, grp, n_tokens, seq_id, seq_offset
      |FROM pack ORDER BY doc_id""".stripMargin

  private val seqPackSql =
    """SELECT doc_id, grp, n_tokens,
      |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_id,
      |  CAST((cum - n_tokens) % 2048 AS BIGINT) AS seq_offset,
      |  ((cum - n_tokens) // 2048 <> (cum - 1) // 2048) AS straddles
      |FROM (
      |  SELECT doc_id, doc_id % 32 AS grp,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    CAST(sum(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
      |      PARTITION BY doc_id % 32 ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS cum
      |  FROM documents) t
      |ORDER BY doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_dedup_exact", dedupExact, Some(dedupExactSql)),
    QueryDef("q_dedup_minhash", dedupMinhash, Some(dedupMinhashSql)),
    QueryDef("q_dedup_minhash_k2", dedupMinhashK2, Some(dedupMinhashK2Sql)),
    QueryDef("q_dedup_minhash_df", dedupMinhashDf, Some(dedupMinhashDfSql)),
    QueryDef("q_dedup_simhash", dedupSimhash, Some(dedupSimhashSql)),
    QueryDef("q_dedup_ngram", dedupNgram, Some(dedupNgramSql)),
    QueryDef("q_dedup_ngram_df", dedupNgramDf, Some(dedupNgramDfSql)),
    QueryDef("q_dedup_cluster", dedupCluster, Some(dedupClusterSql)),
    QueryDef("q_span_dedup", spanDedup, Some(spanDedupSql)),
    QueryDef("q_text_stats", textStats, Some(textStatsSql)),
    QueryDef("q_token_count", tokenCount, Some(tokenCountSql)),
    QueryDef("q_token_count_bpe", tokenCountBpe, Some(tokenCountBpeSql)),
    QueryDef("q_quality_score", qualityScore, Some(qualityScoreSql)),
    QueryDef("q_lang_id", langId, Some(langIdSql)),
    QueryDef("q_lang_id_ngram", langIdNgram, Some(langIdNgramSql)),
    QueryDef("q_fingerprint", fingerprint, Some(fingerprintSql)),
    QueryDef("q_decontaminate", decontaminate, Some(decontaminateSql)),
    QueryDef("q_decontaminate_df", decontaminateDf,
      Some(decontaminateDfSql)),
    QueryDef("q_sample_stratified", sampleStratified,
      Some(sampleStratifiedSql)),
    QueryDef("q_sample_split", sampleSplit, Some(sampleSplitSql)),
    QueryDef("q_repetition_filter", repetitionFilter,
      Some(repetitionFilterSql)),
    QueryDef("q_pii_redact", piiRedact, Some(piiRedactSql)),
    QueryDef("q_seq_pack", seqPack, Some(seqPackSql)),
    QueryDef("q_seq_pack_greedy", seqPackGreedy, Some(seqPackGreedySql)))
}

/** Row shapes for the greedy packer (top level for stable Encoders). */
private[text] case class PackDoc(doc_id: Long, grp: Long, n_tokens: Long)
private[text] case class PackOut(doc_id: Long, grp: Long, n_tokens: Long,
    seq_id: Long, seq_offset: Long)
