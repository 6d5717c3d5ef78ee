package graft.text

import java.util.concurrent.{ExecutionException,
  ExecutorCompletionService, Executors, Future, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import graft.rel.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The composed end-to-end dedup pipeline (VERDICT r17 next #1): the
  * artifact a 100 TB training-data deployment actually runs, as ONE
  * registered, oracle-checked query — where every tier so far has
  * been individually oracle-green, this is the measured proof that
  * the tiers COMPOSE (ref analog: the reference's own end-to-end
  * load → compute round-trip, `tests/test_dask_traj.py:71-83` — the
  * same discipline, one level up).
  *
  * Stages, in production order:
  *  1. **exact**       — md5 content-hash groups; every duplicate doc
  *                       edges to its group minimum (one window
  *                       shuffle keyed by the hash).
  *  2. **near-dup**    — the minhash tier's verified J ≥ 0.8 pair set
  *                       (the shared build-once artifact) PLUS the
  *                       chrome-robust `_df` blocking's de-chromed
  *                       char-5-gram J ≥ 0.5 pairs — the production
  *                       knob tier whose skew tail is bounded by the
  *                       DF filter.
  *  3. **semantic**    — SemDeDup's within-cell cosine ≥ 0.4 pairs
  *                       over the aligned embeddings (contract:
  *                       `vec_id` IS the embedding of `doc_id`, the
  *                       testdata convention) — the tier that catches
  *                       the paraphrase plants every text tier
  *                       measurably misses (DEDUP_QUALITY.json).
  *  4. **cluster**     — ONE connected-components pass over the UNION
  *                       of all tier edges (alternating large-star/
  *                       small-star); transitive chains across
  *                       DIFFERENT tiers collapse too (A =exact= B,
  *                       B ~sem~ C ⇒ one cluster), which running CC
  *                       per tier cannot express.
  *  5. **keep-one**    — keeper = min doc_id of each cluster.
  *  6. **span dedup**  — the C4 repeated-span rule over SURVIVORS
  *                       only (gram statistics computed on the
  *                       post-doc-dedup corpus, so chrome spans from
  *                       dropped near-dups don't vote).
  *
  * Output: one row per document — its cluster representative, cluster
  * size, `keep`, token count, and for survivors the span-dedup
  * accounting (`n_kept`, md5 of the cleaned text); dropped docs carry
  * the explicit sentinels (−1, '') rather than NULLs so the driver's
  * hash compare never depends on engine NULL ordering.
  *
  * Scale design: every edge source is a bounded-candidate tier (never
  * all-pairs — banded LSH, DF-filtered two-band blocking, IVF cells);
  * the union edge set entering CC is orders of magnitude smaller than
  * the corpus and is pinned by CC's own eager barrier before the
  * O(log² n) star rounds (SCALING.md placement rule: no extra barrier
  * on the raw pair plans — CC's input pin is the one materialization,
  * and Catalyst's ReuseExchange shares subtrees inside the final
  * collected plan). The full corpus is only ever touched by narrow
  * per-doc projections and doc_id-keyed joins; the cluster-size and
  * label sides are candidate-bounded, so AQE broadcasts them on a
  * real cluster.
  */
object DedupPipeline {
  private val calls = new AtomicLong()

  /** The registered composed query. */
  def dedupPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), split(col("text"), " ").as("arr"))

    // 1) exact-tier edges: one shuffle keyed on the content hash; each
    //    duplicate doc points at its group's min doc_id
    val exactEdges = Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .withColumn("m", min("doc_id").over(Window.partitionBy("h")))
      .filter(col("doc_id") =!= col("m"))
      .select(col("m").as("d1"), col("doc_id").as("d2"))

    // 2+3 pre-build) edge-tier concurrency (guide §2.6 — overlap
    //    independent jobs; VERDICT r20 next #5): the three near-dup
    //    edge tiers (minhash, ngram-DF, semantic k-means fit) are
    //    independent until the CC union. Each tier's shared pair set
    //    sits behind a LAZY lineage barrier (graftBarrier is
    //    localCheckpoint(eager = false)), so what a pool thread runs
    //    is only the jobs the tier's build triggers on first touch:
    //    memoized scalar probes (e.g. the ngram-DF doc count) and the
    //    eager sub-builds such as the k-means fit. The final pair-set
    //    blocks still materialize later, inside the CC action. Built
    //    sequentially, those build jobs run one tier after another;
    //    submitted from a 3-thread driver pool, they overlap, and the
    //    next tier's tasks back-fill slots a straggler tail leaves idle
    //    (FIFO scheduling is exactly the wanted back-fill). All three
    //    run under one job group per call, labeled per tier. Tiers are
    //    awaited in completion order: the first failure cancels the
    //    group (future jobs included), interrupts the siblings and
    //    waits for them to unwind, so a cancelled build is never left
    //    half-registered; then the original cause is rethrown.
    //    When the artifacts are already warm (earlier queries in the
    //    same session), each call returns the memoized frame and the
    //    pool is a no-op. Results and plans are unchanged: the threads
    //    only decide WHEN the same build-once jobs run.
    val sc = s.sparkContext
    val group = s"dedup_pipeline-${calls.incrementAndGet()}"
    val pool = Executors.newFixedThreadPool(3)
    val (mh, ng, semTier) =
      try {
        val done = new ExecutorCompletionService[DataFrame](pool)
        def submit(label: String)(f: => DataFrame): Future[DataFrame] =
          done.submit(() => {
            // expr()/parser resolution reads the thread-local active
            // session — pin it in the pool thread
            SparkSession.setActiveSession(s)
            sc.setJobGroup(group, s"dedup_pipeline: $label")
            try f finally sc.clearJobGroup()
          })
        val tiers = Seq(
          submit("minhash tier")(
            TextQueries.minhashPairsProbe(s, d).select("d1", "d2")),
          // the SHARED tier artifact (r20-opt): q_dedup_ngram_df reads
          // the same build-once pair set, so the pipeline no longer
          // re-derives the census + two-alphabet gather + pair
          // enumeration — the minhash-pair sharing contract, extended
          submit("ngram-DF tier")(
            TextQueries.ngramDfPairsShared(s, d).select("d1", "d2")),
          submit("semantic tier")(
            graft.sim.SimQueries.semPairsScaled(s, d, tau = 0.4)))
        tiers.foreach { _ =>
          try done.take().get()
          catch {
            case e: ExecutionException =>
              sc.cancelJobGroupAndFutureJobs(group)
              pool.shutdownNow()
              pool.awaitTermination(1, TimeUnit.MINUTES)
              throw e.getCause
          }
        }
        (tiers(0).get(), tiers(1).get(), tiers(2).get())
      } finally pool.shutdown()

    // 3) semantic edges (vec_id ≡ doc_id contract) — over the
    //    OCCUPANCY-SCALED fit (K ∝ √n, the IVF quantizer policy):
    //    the fixed K=16 fit's within-cell pair work is n²/16 at any
    //    scale (the 100× replica measured the pipeline living in that
    //    join); K ∝ √n bounds it at ~2n^1.5. Identical to the fixed
    //    fit below the ivfK floor (n ≲ 1k — the oracle-gate regime).
    //    Endpoints are semi-joined against documents BEFORE CC: the
    //    testdata contract says vec_id ⊆ doc_id, but if it were ever
    //    violated the oracle's CC (labels initialized from documents
    //    only) would ignore the foreign node while Spark's CC would
    //    let it become a cluster rep (no doc satisfies doc_id = rep →
    //    the whole cluster silently dropped with no keeper) or
    //    transitively bridge two doc clusters. Both semi-join sides
    //    key on the id; the edge side is candidate-bounded, so AQE
    //    broadcasts it against the pruned doc_id scan on a cluster.
    val docIds = Tables.documents(s, d).select(col("doc_id"))
    val sem = semTier
      .select(col("v1").as("d1"), col("v2").as("d2"))
      .join(docIds.select(col("doc_id").as("d1")), Seq("d1"), "left_semi")
      .join(docIds.select(col("doc_id").as("d2")), Seq("d2"), "left_semi")

    // 4) one CC pass over the union — CC canonicalizes, dedups and
    //    eagerly pins the edge set itself
    val cc = graft.graph.GraphOps.connectedComponents(
      exactEdges.unionByName(mh).unionByName(ng).unionByName(sem))

    // 5) label every doc; keeper = cluster minimum. cluster_size as a
    //    window count over the SAME rep-keyed shuffle the labeling
    //    already pays — a groupBy+re-join here measured as one extra
    //    exchange plus an O(docs)×O(docs) sort-merge join
    val ntok = docs.select(col("doc_id"),
      size(col("arr")).cast("long").as("n_tokens"))
    val lab = ntok.join(cc, ntok("doc_id") === cc("node"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("cluster"), col("doc_id")).as("rep"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("rep")))

    // 6) span dedup over survivors only
    val survivors = docs.join(
      lab.filter(col("doc_id") === col("rep")).select("doc_id"),
      Seq("doc_id"), "left_semi")
    val span = TextQueries.spanDedupOn(s, survivors, span = 5)
      .select(col("doc_id"), col("n_kept"), col("clean_hash"))

    lab
      .join(span, Seq("doc_id"), "left")
      .select(col("doc_id"), col("rep"),
        col("cluster_size").cast("long").as("cluster_size"),
        (col("doc_id") === col("rep")).as("keep"),
        col("n_tokens"),
        // sentinels gated on keep, mirroring the oracle's CASE: a
        // survivor missing its span row reports 0/md5('') (span of an
        // empty doc), only NON-survivors carry -1/''. Today
        // spanDedupOn emits one row per survivor so the coalesce
        // branch never fires, but an ungated coalesce(-1) would
        // silently diverge from the oracle if that ever changed.
        when(col("doc_id") === col("rep"),
          coalesce(col("n_kept"), lit(0L))).otherwise(lit(-1L))
          .cast("long").as("n_kept"),
        when(col("doc_id") === col("rep"),
          coalesce(col("clean_hash"), md5(lit(""))))
          .otherwise(lit("")).as("clean_hash"))
      .orderBy("doc_id")
  }

  /** Unrolled min-label connected components over `pedges`(a, b):
    * per round, one PROPAGATE (each node takes the min label among
    * its neighbors — an edge-sized aggregation) and one POINTER JUMP
    * (each node takes its label's own label — label chains contract
    * exponentially, the hash-to-min doubling). One label row per node
    * per round, so total work is O(rounds × |E|) — the recursive
    * min-label FLOODING this replaces accumulates the full (node,
    * reachable-label) relation, O(k²) rows for a k-member component,
    * and at the 10× replica's 15,881-member cluster it spilled past
    * the machine's disk. Propagation alone covers `rounds` hops;
    * jumping contracts label chains on top. The unroll is 40: 20
    * rounds converged on the K = 16 fit's dense clique-heavy
    * components but measurably did NOT on the scaled fit's chainier
    * K = 71 topology at 10× (39,337 label rows short of the fixpoint
    * — caught by the hash gate, exactly as designed), and 40 passes
    * both at negligible cost (each round is one edge-sized
    * aggregation). An under-unrolled chain cannot false-pass:
    * unconverged labels differ from the Spark side's fixpoint and
    * fail the driver's hash gate loudly. Labels stay within the
    * `documents` id set (initialization), so the inner jump join is
    * total; edge endpoints outside `documents` (no `vec_id ⊆ doc_id`
    * alignment) never label anything, never become reps and never
    * bridge — the same contract the Spark side enforces by
    * semi-joining the semantic edge endpoints against `documents`
    * BEFORE its CC pass (a left join after CC would only hide foreign
    * rows from the output, not stop them relabeling clusters). */
  private def ccCtes(rounds: Int): String = {
    val sb = new StringBuilder(
      "pl0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS lbl FROM documents)")
    for (t <- 1 to rounds) {
      val prev = s"pl${t - 1}"
      sb ++= s""",
         |pp$t AS MATERIALIZED (
         |  SELECT e.b AS node, min(l.lbl) AS lbl
         |  FROM $prev l JOIN pedges e ON e.a = l.node GROUP BY e.b),
         |pm$t AS MATERIALIZED (
         |  SELECT l.node, least(l.lbl, coalesce(p.lbl, l.lbl)) AS lbl
         |  FROM $prev l LEFT JOIN pp$t p ON p.node = l.node),
         |pl$t AS MATERIALIZED (
         |  SELECT a.node, least(a.lbl, b.lbl) AS lbl
         |  FROM pm$t a JOIN pm$t b ON b.node = a.lbl)""".stripMargin
    }
    sb.toString
  }

  /** The end-to-end oracle: every tier's own CTE chain (minhash,
    * DF-blocked ngram, k-means + within-cell cosine), the exact-hash
    * edges, the unrolled propagate+jump min-label CC ([[ccCtes]]),
    * and the span chain restricted to survivors. CTE names are
    * disjoint across the reused chains (the ngram chain's candidate
    * CTE is `gcand`; the span chain here is `sp_`-prefixed). */
  lazy val dedupPipelineSql: String =
    s"WITH RECURSIVE ${graft.sim.SimQueries.semPairCtesScaled},\n" +
      TextQueries.minhashPairsCtes + ",\n" +
      TextQueries.ngramDfCtes + ",\n" +
      """exg AS (
        |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS m
        |  FROM documents),
        |alledges AS MATERIALIZED (
        |  SELECT m AS d1, doc_id AS d2 FROM exg WHERE doc_id <> m
        |  UNION SELECT d1, d2 FROM pairs
        |  UNION SELECT d1, d2 FROM dfpairs
        |  UNION SELECT v1 AS d1, v2 AS d2 FROM sedges0),
        |pedges AS MATERIALIZED (SELECT d1 AS a, d2 AS b FROM alledges
        |           UNION SELECT d2 AS a, d1 AS b FROM alledges),""".stripMargin +
      "\n" + ccCtes(rounds = 40) + ",\n" +
      """pcomp AS MATERIALIZED (SELECT node AS doc_id, lbl AS rep FROM pl40),
        |pcsz AS (SELECT rep, count(*) AS n FROM pcomp GROUP BY 1),
        |surv AS (
        |  SELECT d.doc_id, d.text FROM documents d
        |  JOIN pcomp c ON c.doc_id = d.doc_id
        |  WHERE c.doc_id = c.rep),
        |sp_tok AS MATERIALIZED (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM surv),
        |sp_g0 AS (
        |  -- named-window ids are statement-global in DuckDB, so this
        |  -- chain's window must not collide with the minhash chain's
        |  SELECT doc_id, pos,
        |    w || ' ' || lead(w,1) OVER sp_win || ' ' || lead(w,2) OVER sp_win
        |      || ' ' || lead(w,3) OVER sp_win
        |      || ' ' || lead(w,4) OVER sp_win AS g
        |  FROM sp_tok WINDOW sp_win AS (PARTITION BY doc_id ORDER BY pos)),
        |sp_occ AS (SELECT doc_id, pos, g FROM sp_g0 WHERE g IS NOT NULL),
        |sp_ranked AS (
        |  SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
        |    count(*) OVER (PARTITION BY g) AS cnt
        |  FROM sp_occ),
        |sp_removed AS (SELECT doc_id, pos FROM sp_ranked
        |               WHERE cnt > 1 AND rn > 1),
        |sp_cover AS (SELECT DISTINCT doc_id, pos + o AS cpos
        |             FROM sp_removed, (SELECT unnest(range(5)) AS o) os),
        |sp_kept AS (
        |  SELECT t.doc_id, t.pos, t.w
        |  FROM sp_tok t
        |  LEFT JOIN sp_cover c ON c.doc_id = t.doc_id AND c.cpos = t.pos
        |  WHERE c.doc_id IS NULL),
        |sp_perdoc AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |         md5(string_agg(w, ' ' ORDER BY pos)) AS clean_hash
        |  FROM sp_kept GROUP BY doc_id),
        |pbase AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        |          FROM documents)
        |SELECT c.doc_id, c.rep, CAST(z.n AS BIGINT) AS cluster_size,
        |  c.doc_id = c.rep AS keep,
        |  CAST(b.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(CASE WHEN c.doc_id = c.rep THEN coalesce(p.n_kept, 0)
        |       ELSE -1 END AS BIGINT) AS n_kept,
        |  CASE WHEN c.doc_id = c.rep THEN coalesce(p.clean_hash, md5(''))
        |       ELSE '' END AS clean_hash
        |FROM pcomp c
        |JOIN pcsz z USING (rep)
        |JOIN pbase b USING (doc_id)
        |LEFT JOIN sp_perdoc p USING (doc_id)
        |ORDER BY c.doc_id""".stripMargin
}
