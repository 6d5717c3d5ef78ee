package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress data generator (VERDICT r5 stretch #7): replicates the
  * sf0.1 tables `copies`× into a new directory with referentially
  * CONSISTENT key offsets, so the 72-query bench can run at ~sf1 and
  * per-query time ratios expose any hidden super-linear shape.
  *
  * Key domains share one offset each (orderkey offsets agree between
  * orders and lineitem, etc.), dimension tables (region, nation) stay
  * unscaled — the TPC-H shape: facts grow, dimensions don't.
  * Document text is character-TRANSLATED per copy (every shingle
  * changes), because verbatim replication would hand the near-dup
  * queries quadratic cross-copy duplicate groups and fake a
  * super-linear signal that is a data artifact, not a plan defect.
  *
  * Usage: `runMain graft.tools.ScaleTestdata [src] [dst] [copies]`
  * (defaults /root/testdata/sf0.1 → /tmp/graft_sf1 × 10). Output is
  * perf-only — no oracle claims at this scale.
  */
object ScaleTestdata {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    // the text translation cycles with the alphabet length: copy 12
    // would translate identically to copy 0 and silently reintroduce
    // the exact-duplicate artifact the translation exists to prevent
    // an empty/blank arg means "all tables" (lets callers reach the
    // alphabet positional without restricting the table set)
    val tables = args.lift(3)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    val alpha = args.lift(4).getOrElse("etaoinshrdlu")
    val skew = args.lift(5).contains("skew")
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    generate(spark, src, dst, copies, tables, alpha, skew)
    spark.stop()
  }

  /** The skewed replica's TWO boilerplate plants (VERDICT r13 ask #4 —
    * the C4 regime, organically planted), deliberately decoupled
    * because the simhash and ngram guards key on different structure:
    *
    * SIMHASH (density tier): "menu" repeated ~1.3·√(doc tokens) times
    * on 90% of docs — navigation chrome that scales with page size.
    * Each repetition is a ±r per-bit pull on the simhash majority
    * vote; scaling r with √tokens makes the per-bit flip probability
    * UNIFORM (~2Φ(−1.3) ≈ 0.19) across doc lengths, which is the
    * whole trick: the modal band bucket grows linearly in recipients
    * (45k × 0.81⁷ ≈ 10k > the 8192 cap) while qualifying pairs decay
    * exponentially (per-bit disagreement 0.31 → P(hamming ≤ 8) ≈
    * 4.5e-4 → ~10⁵-10⁶ answer pairs, not the 10⁷-10⁸ a fixed
    * repetition count produces by over-pinning whichever length
    * cohort it dominates — binomial working in the r14 notes). A
    * repeated token adds ~4 distinct char-8-grams, so the plant is
    * ngram-INERT.
    *
    * NGRAM ((fp, lenb) hot block): ~36 DISTINCT chrome words
    * (~215 chars) on the median length band [240, 400]. Shared
    * char-8-grams pin the same min-fingerprint across non-dup docs
    * and the band concentrates them into few lenb buckets —
    * measured 2042 vs the 1024 cap — while jaccard for every chrome
    * pair stays ≤ ~0.35 (shared grams ≈ 215, union ≥ 215 + 2·233),
    * so the ngram ANSWER stays linear. */
  private[graft] val SkewChrome: String =
    "privacy policy terms of service cookie notice copyright " +
      "subscribe newsletter contact careers investor relations press " +
      "accessibility sitemap language region signin register search " +
      "trending popular latest sports weather finance entertainment " +
      "technology science health travel follow share related "

  /** Generation body, session-preserving — callable from a test suite
    * (ScaleKnobsSpec) without tearing down the caller's session the
    * way main()'s stop() would. `skew = true` additionally plants the
    * Zipf length tail, the boilerplate regime, and the LSH mega-code
    * (VERDICT r13 ask #4). */
  def generate(spark: SparkSession, src: String, dst: String,
      copies: Int, tables: Set[String] = Set.empty,
      alpha: String = "etaoinshrdlu", skew: Boolean = false): Unit = {
    // the text translation cycles with the alphabet length: copy 12
    // would translate identically to copy 0 and silently reintroduce
    // the exact-duplicate artifact the translation exists to prevent
    require(copies >= 1 && copies <= alpha.length,
      s"ScaleTestdata: copies must be in [1, ${alpha.length}] (the " +
        s"per-copy text translation has period ${alpha.length}), " +
        s"got $copies")
    // COMPOSING replicas (x10 of an x10): the cyclic shifts over ONE
    // alphabet form a group of order 12, so k1-then-k2 collapses to
    // (k1+k2) mod 12 and a naive x100 plants ~8-way EXACT-duplicate
    // families (measured: the dedup probes go quadratic on them).
    // Pass a second-stage alphabet DISJOINT from the first (e.g.
    // "cmpwykvxbfgj") — the two stages then act on disjoint letter
    // sets and all copies-x-copies compositions are distinct
    // bijections, keeping shingle-similarity structure linear.
    require(alpha.toSet.size == alpha.length,
      s"ScaleTestdata: alphabet '$alpha' has repeated letters")
    // `tables` non-empty restricts the replica to that subset — the
    // single-family probe path (e.g. a 100x documents-only replica
    // built by applying x10 to an x10 replica without paying 1.9 GB
    // of lineitem nobody will scan)
    def wanted(t: String): Boolean = tables.isEmpty || tables(t)

    def rd(t: String): DataFrame =
      spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // dimensions: unscaled
    Seq("region", "nation").filter(wanted).foreach(t => wr(rd(t), t))

    // one offset per key DOMAIN, from the owning table, shared by all
    // referencing tables so joins stay referentially intact
    def domainMax(t: String, c: String): Long =
      rd(t).agg(max(col(c).cast("long"))).collect()(0).getLong(0) + 1L
    // offsets computed on demand so a subset replica never scans the
    // owning tables of domains it does not rescale
    val offSrc: Map[String, () => Long] = Map(
      "custkey" -> (() => domainMax("customer", "c_custkey")),
      "orderkey" -> (() => domainMax("orders", "o_orderkey")),
      "partkey" -> (() => domainMax("part", "p_partkey")),
      "suppkey" -> (() => domainMax("supplier", "s_suppkey")),
      "event_id" -> (() => domainMax("events", "event_id")),
      "user_id" -> (() => domainMax("events", "user_id")),
      "doc_id" -> (() => domainMax("documents", "doc_id")),
      "vec_id" -> (() => domainMax("embeddings", "vec_id")))
    val offMemo = scala.collection.mutable.HashMap.empty[String, Long]
    def off(domain: String): Long =
      offMemo.getOrElseUpdate(domain, offSrc(domain)())
    val keyCols: Map[String, Map[String, String]] = Map(
      "customer" -> Map("c_custkey" -> "custkey"),
      "supplier" -> Map("s_suppkey" -> "suppkey"),
      "part" -> Map("p_partkey" -> "partkey"),
      "orders" -> Map("o_orderkey" -> "orderkey",
        "o_custkey" -> "custkey"),
      "lineitem" -> Map("l_orderkey" -> "orderkey",
        "l_partkey" -> "partkey", "l_suppkey" -> "suppkey"),
      "events" -> Map("event_id" -> "event_id", "user_id" -> "user_id"),
      "documents" -> Map("doc_id" -> "doc_id"),
      "embeddings" -> Map("vec_id" -> "vec_id"))

    val copyDf = spark.range(copies).select(col("id").as("__copy"))
    keyCols.filter(kv => wanted(kv._1)).foreach { case (t, cols) =>
      val base = rd(t)
      var out = base.crossJoin(copyDf)
      cols.foreach { case (c, domain) =>
        val dt = base.schema(c).dataType
        out = out.withColumn(c,
          (col(c).cast("long") + col("__copy") * off(domain)).cast(dt))
      }
      if (t == "documents") {
        // per-copy character translation: every shingle changes, so
        // copies are NOT near-duplicates of each other
        val shifted = (k: Int) =>
          alpha.drop(k % alpha.length) + alpha.take(k % alpha.length)
        out = out.withColumn("text",
          (1 until copies).foldLeft(col("text")) { (acc, k) =>
            when(col("__copy") === k,
              translate(col("text"), alpha, shifted(k))).otherwise(acc)
          })
        if (skew) {
          // (a) Zipf length tail: real corpora are Zipfian in doc
          // length; the uniform replica is not. Discrete Zipf-ish
          // repetition (0.5% of docs ×16, 1.5% ×8, 4% ×4, 9% ×2),
          // keyed on the post-offset doc_id so every copy draws its
          // own tail. Applied BEFORE the boilerplate so the length
          // gate below sees final organic lengths.
          out = out.withColumn("text", expr(
            """CASE
              |  WHEN pmod(hash('zipf', doc_id), 1000) < 5
              |    THEN rtrim(repeat(text || ' ', 16))
              |  WHEN pmod(hash('zipf', doc_id), 1000) < 20
              |    THEN rtrim(repeat(text || ' ', 8))
              |  WHEN pmod(hash('zipf', doc_id), 1000) < 60
              |    THEN rtrim(repeat(text || ' ', 4))
              |  WHEN pmod(hash('zipf', doc_id), 1000) < 150
              |    THEN rtrim(repeat(text || ' ', 2))
              |  ELSE text END""".stripMargin))
          // (b) the two boilerplate plants (SkewChrome scaladoc):
          // neither is translated per copy — one corpus-wide regime,
          // like the one cookie banner every page of a crawl shares.
          // Chrome gates on the PRE-MENU length so the ngram length
          // band is independent of the menu plant; menu repetitions
          // come from the post-Zipf token count.
          out = out
            .withColumn("__len0", length(col("text")))
            .withColumn("text", expr(
              """CASE WHEN pmod(hash('menu', doc_id), 10) < 9
                |  THEN concat(repeat('menu ', greatest(1, CAST(round(
                |    1.3 * sqrt(size(split(text, ' ')))) AS INT))), text)
                |  ELSE text END""".stripMargin))
            .withColumn("text",
              when(col("__len0").between(240, 400),
                concat(lit(SkewChrome), col("text")))
                .otherwise(col("text")))
            .drop("__len0")
        }
      }
      if (t == "embeddings") {
        // per-copy circular rotation + per-copy SIGN PATTERN. The
        // rotation decorrelates the index-dependent LSH/PQ projections;
        // the sign flip (r12) kills the COSINE similarity between
        // copies as well: a balanced ±1 pattern makes
        // cos(v, s·v) ≈ 0, while WITHIN one copy all dot products are
        // exactly preserved (the signs cancel pairwise), so each copy
        // keeps the source's cluster structure on fresh codes.
        // Rotation alone was measured (r12 100x probe) leaving rotated
        // copies of clustered vectors genuinely near-dup — the answer
        // set grew ~n² across copies, a replica artifact of the same
        // class the documents translation exists to prevent.
        // The hash is SALTED WITH THE STAGE ALPHABET (r13): with an
        // unsalted hash(copy, i), stage-1 copy (k, 0) and stage-2 copy
        // (0, k) of an x10-of-x10 compose to the IDENTICAL transform
        // (copy 0 is the identity in both stages and the same copy
        // index draws the same sign pattern), planting 9 full
        // exact-duplicate table pairs at 100x. Stages already pass
        // disjoint alphabets for the text translation, so the same
        // string makes every stage's sign family independent and all
        // cross-stage compositions distinct. Copy 0 is bit-identical
        // to the source.
        val rotated =
          "concat(" +
            "slice(embedding, (CAST(__copy AS INT) * 7) " +
            "% size(embedding) + 1, size(embedding) - " +
            "(CAST(__copy AS INT) * 7) % size(embedding)), " +
            "slice(embedding, 1, (CAST(__copy AS INT) * 7) " +
            "% size(embedding)))"
        out = out.withColumn("embedding", expr(
          s"CASE WHEN __copy = 0 THEN embedding ELSE " +
            s"transform($rotated, (x, i) -> x * CAST(1 - 2 * " +
            s"abs(hash(CAST(__copy AS INT), i, '$alpha') % 2) " +
            "AS FLOAT)) END"))
        if (skew) {
          // LSH mega-code: 1/8 of all vectors collapse onto ONE shared
          // direction with ±1% per-coordinate jitter — the
          // empty-document / default-embedding regime real embedding
          // tables have. Same sign on every projection → one 16-bit
          // code holding ~n/8 vectors (>> LshBucketCap), and mutual
          // cosine ~0.9997 means they are GENUINE near-dups, so the
          // pair query's answer grows quadratically in the plant (the
          // artifact budgets that as answer-bound; the bounded
          // q_sim_neardup_topk output stays at n·k by construction).
          val base = rd("embeddings").orderBy("vec_id")
            .select("embedding").first().getSeq[Float](0)
          val baseLit = base.map(f => s"CAST($f AS FLOAT)")
            .mkString("array(", ", ", ")")
          out = out.withColumn("embedding", expr(
            s"CASE WHEN pmod(hash('skewlsh', vec_id), 8) = 0 THEN " +
              s"transform($baseLit, (x, i) -> CAST(x * (1.0D + 0.01D * " +
              "(pmod(hash(vec_id, i), 7) - 3) / 3.0D) AS FLOAT)) " +
              "ELSE embedding END"))
        }
      }
      // write the many-files layout real data has: a single output
      // file serializes downstream scans into one task and fakes a
      // super-linear signal for per-row queries (the round-6 sf1 run
      // measured q_quality_score 25x on a one-file input)
      wr(out.drop("__copy").repartition(32), t)
      System.err.println(s"[scale] $t x$copies done")
    }
    // completion marker: table iteration order is unspecified, so
    // "does table X exist" cannot distinguish a finished replica from
    // an interrupted one — consumers (ScaleKnobsSpec) probe this file
    graft.sources.FsIO.writeString(s"$dst/_GRAFT_SCALE_OK",
      s"copies=$copies src=$src skew=$skew\n")
    System.err.println(s"[scale] wrote $dst")
  }
}
