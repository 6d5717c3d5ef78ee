package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types._

/** The native SQL functions (SURVEY §2.9 preference level 3): used
  * where pure expression composition proved too slow. The
  * higher-order-function forms of these kernels run interpreted (HOFs
  * don't participate in whole-stage codegen) at O(tokens × 64)
  * expression-tree evaluations per document; each function here is
  * one static kernel call inside the codegen'd stage instead.
  *
  * A kernel function is one [[Kernel]] entry of [[GraftFunctions.table]]
  * and nothing else. The entry gives the SQL name and usage line, the
  * declared type of each column argument, the trailing literal
  * parameters with their ranges ([[IntParam]], [[DivisorParam]],
  * [[DoubleParam]]), the result type and the static method of
  * [[HashKernels]] or [[GeomKernels]] that computes it. The method
  * takes the column arguments as Spark's internal values (`UTF8String`,
  * `ArrayData`, `MapData`, primitives), then the parameters, and
  * returns the internal value of the result type. [[KernelCall]] owns
  * everything else once: null handling, the argument type check,
  * interpreted eval, the generated call and the plan strings.
  *
  * Register with [[GraftFunctions.register]] or the session extensions
  * ([[graft.GraftExtensions]]); use from SQL/expr as `simhash64(text)`,
  * `minhash_doc(text)`, `min_fingerprint(text)`, …
  */
object GraftFunctions {
  /** One function-table entry: the SQL name, the usage line that
    * `DESCRIBE FUNCTION` prints, and the expression builder. */
  final case class Fn(name: String, usage: String,
      builder: Seq[Expression] => Expression) {
    def id: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo =
      new ExpressionInfo("graft.functions", null, name, usage,
        "", "", "", "", "", "", "scala_udf")
  }

  private val Hash = "graft.functions.HashKernels"
  private val Geom = "graft.functions.GeomKernels"

  private def kernel(name: String, usage: String, args: Seq[DataType],
      result: DataType, owner: String, method: String,
      params: Param*): Fn = {
    val k = Kernel(name, args, params, result, owner, method)
    Fn(name, usage, KernelCall.build(k, _))
  }

  private def struct(fs: (String, DataType)*): StructType =
    StructType(fs.map { case (n, t) => StructField(n, t, nullable = false) })
  private def longs(names: String*): StructType =
    struct(names.map(_ -> (LongType: DataType)): _*)
  private def rows(t: DataType): ArrayType = ArrayType(t, containsNull = false)

  private val text = Seq(StringType)
  private val strings = ArrayType(StringType)
  private val doubles = ArrayType(DoubleType)
  private val floats = ArrayType(FloatType)
  private val minhash = StructType(Seq(
    StructField("sh", rows(StringType)), StructField("bkeys", rows(StringType))))
  private val atoms = MapType(LongType,
    struct("x" -> DoubleType, "y" -> DoubleType, "z" -> DoubleType))
  // member lists are collect_list(struct(...)) arrays: the kernels read
  // every element, so they are declared with non-null elements
  private val simMembers = rows(longs("doc_id", "sim_lo", "sim_hi"))
  private val gramMembers =
    rows(struct("doc_id" -> LongType, "grams" -> ArrayType(LongType)))
  private val vecMembers = rows(struct("vec_id" -> LongType,
    "emb" -> doubles, "nrm" -> DoubleType))
  private val seeds = IntParam("seeds", 1, 64)
  private val rowsPerBand = DivisorParam("rows_per_band", of = "seeds")
  private val maxHamming = IntParam("max_hamming", 0, 128)

  /** Every graft native function. [[graft.GraftExtensions]] injects
    * this table at session build and [[register]] registers it into an
    * existing session; neither keeps a list of its own. */
  val table: Seq[Fn] = Seq(
    kernel("simhash64",
      "simhash64(text) - 64-bit frequency-weighted SimHash as (sim_lo, sim_hi)",
      text, longs("sim_lo", "sim_hi"), Hash, "simhashRow"),
    kernel("minhash_doc",
      "minhash_doc(text) - word-3-gram shingles + 8-hash MinHash " +
        "signature + 4 LSH band keys",
      text, minhash, Hash, "minhashDocRow"),
    // the banded generalization of minhash_doc (≡ (8, 2, 3)); the band
    // and shingle layout is part of the plan
    kernel("minhash_doc_banded",
      "minhash_doc_banded(text, seeds, rows_per_band[, shingle_k]) - " +
        "banded minhash signature",
      text, minhash, Hash, "minhashDocBandedRow",
      seeds, rowsPerBand, IntParam("shingle_k", 1, 16, default = Some(3))),
    // the shingle half of minhash_doc_banded: the DF-filtered minhash
    // tier censuses these and drops chrome before any signature
    kernel("shingles_k",
      "shingles_k(text, k) - distinct word-k-gram shingles in " +
        "first-occurrence order",
      text, rows(StringType), Hash, "shinglesKRow", IntParam("k", 1, 16)),
    // the signature half, over a given (DF-filtered) shingle array:
    // byte-identical band keys to the fused kernel on the same set
    kernel("minhash_banded_from",
      "minhash_banded_from(shingles, seeds, rows_per_band) - banded " +
        "minhash signature over a given shingle array",
      Seq(strings), rows(StringType), Hash, "minhashBandedFromRow",
      seeds, rowsPerBand),
    kernel("min_fingerprint",
      "min_fingerprint(text) - lexicographic-min md5 over all char 8-grams",
      text, StringType, Hash, "fingerprintUtf8"),
    kernel("ngram5_count",
      "ngram5_count(text) - number of distinct char 5-grams",
      text, IntegerType, Hash, "ngram5Count"),
    kernel("ngram5_packed",
      "ngram5_packed(text) - sorted distinct char 5-grams as packed longs",
      text, rows(LongType), Hash, "ngram5Packed"),
    kernel("ngram8_packed",
      "ngram8_packed(text) - sorted distinct char 8-grams as packed longs",
      text, rows(LongType), Hash, "ngram8Packed"),
    kernel("ngram3_set",
      "ngram3_set(text) - distinct char 3-grams in first-occurrence order",
      text, rows(StringType), Hash, "ngram3Set"),
    kernel("sorted_intersect_count",
      "sorted_intersect_count(a, b) - |A intersect B| of two sorted long arrays",
      Seq(ArrayType(LongType), ArrayType(LongType)), IntegerType, Hash,
      "sortedIntersectCount"),
    kernel("dot_scaled",
      "dot_scaled(a, b) - exact sum of round(a_i*b_i*1e12) as bigint",
      Seq(doubles, doubles), LongType, Hash, "dotScaled"),
    // the PQ-training oracle's exact term form, not dot_scaled's rounding
    kernel("dot_floor_scaled",
      "dot_floor_scaled(a, b) - exact sum of floor(a_i*b_i*1e12 + 0.5) as bigint",
      Seq(doubles, doubles), LongType, Hash, "dotFloorScaled"),
    // axis selects a physical coordinate lane, part of the plan
    kernel("xyz_sum_scaled",
      "xyz_sum_scaled(xyz, axis) - scaled-bigint sum of one coordinate " +
        "axis over a wide frame",
      Seq(ArrayType(doubles)), LongType, Geom, "xyzSumScaled",
      IntParam("axis", 0, 2)),
    kernel("com_sums_scaled",
      "com_sums_scaled(atoms, masses) - mass-weighted centre-of-mass sums " +
        "as scaled bigints (sxm, sym, szm, sm)",
      Seq(atoms, doubles), longs("sxm", "sym", "szm", "sm"), Geom,
      "comSumsScaled"),
    kernel("cog_sums_scaled",
      "cog_sums_scaled(atoms) - centre-of-geometry sums as scaled bigints " +
        "plus the member count (sx, sy, sz, n)",
      Seq(atoms), longs("sx", "sy", "sz", "n"), Geom, "cogSumsScaled"),
    kernel("span_clean",
      "span_clean(arr, rm) - a document's tokens without the covered " +
        "positions, as (n_kept, clean)",
      Seq(strings, ArrayType(IntegerType)),
      struct("n_kept" -> LongType, "clean" -> StringType), Hash, "spanClean"),
    kernel("span_gram_hashes",
      "span_gram_hashes(arr, span) - 128-bit fingerprint of every " +
        "span-token window",
      Seq(strings),
      rows(struct("pos" -> IntegerType, "h1" -> LongType, "h2" -> LongType)),
      Hash, "spanGramHashes", IntParam("span", 2, 64)),
    kernel("ngram_close_pairs",
      "ngram_close_pairs(members) - n-gram Jaccard verify of the pairs " +
        "in one block, as (d1, d2, ni, den)",
      Seq(gramMembers), rows(longs("d1", "d2", "ni", "den")), Hash,
      "ngramClosePairs"),
    kernel("ngram_close_pairs_x",
      "ngram_close_pairs_x(members_a, members_b, same) - the two-list " +
        "segment variant of ngram_close_pairs",
      Seq(gramMembers, gramMembers, BooleanType),
      rows(longs("d1", "d2", "ni", "den")), Hash, "ngramClosePairsCross"),
    kernel("lsh16_code",
      "lsh16_code(v) - 16-bit sign-LSH hyperplane code",
      Seq(doubles), LongType, Hash, "lsh16Code"),
    // bits decides bucket granularity, part of the plan
    kernel("lsh_code",
      "lsh_code(v, bits) - width-parameterized sign-LSH hyperplane code",
      Seq(doubles), LongType, Hash, "lshCode", IntParam("bits", 1, 63)),
    // one static call where the 27-image `least` Column tree blew
    // janino's 64 KB method limit; the box may be literal or per frame
    kernel("tri_mic",
      "tri_mic(dx, dy, dz, ax, bx, by, cx, cy, cz) - triclinic " +
        "minimum-image distance",
      Seq.fill(9)(DoubleType), DoubleType, Geom, "triMic"),
    kernel("rep_stats",
      "rep_stats(text) - (n_words, n_distinct, top_word, top_bigram) " +
        "repetition counters",
      text, longs("nw", "ndw", "topw", "topbg"), Hash, "repStats"),
    kernel("quality_stats",
      "quality_stats(text) - (nw, nu, ncl, nsw, npunct) one-pass " +
        "quality counters",
      text, longs("nw", "nu", "ncl", "nsw", "npunct"), Hash, "qualityStats"),
    kernel("token_stats",
      "token_stats(text) - (ws_tokens, bpeish_tokens, n_chars) " +
        "one-pass token counters",
      text, longs("ws_tokens", "bpeish_tokens", "n_chars"), Hash,
      "tokenStats"),
    kernel("pair_dist_stats",
      "pair_dist_stats(xs, ys, zs) - all-pairs C(n,2) distance " +
        "sum/min/max/count per frame",
      Seq(floats, floats, floats), struct("sum" -> DoubleType,
        "mn" -> DoubleType, "mx" -> DoubleType, "cnt" -> LongType),
      Geom, "pairDistStats"),
    // the near-dup thresholds below are literals: part of the plan
    kernel("simhash_close_pairs",
      "simhash_close_pairs(members, max_hamming) - Hamming verify of " +
        "the pairs in one LSH bucket, as (d1, d2, hamming)",
      Seq(simMembers), rows(longs("d1", "d2", "hamming")), Hash,
      "simhashClosePairs", maxHamming),
    kernel("simhash_close_pairs_x",
      "simhash_close_pairs_x(members_a, members_b, same_segment, " +
        "max_hamming) - the two-list segment variant of simhash_close_pairs",
      Seq(simMembers, simMembers, BooleanType),
      rows(longs("d1", "d2", "hamming")), Hash, "simhashClosePairsCross",
      maxHamming),
    kernel("cosine_close_pairs",
      "cosine_close_pairs(members_a, members_b, same_bucket, threshold) " +
        "- exact-cosine verify of two LSH buckets, as (v1, v2, cos_sim)",
      Seq(vecMembers, vecMembers, BooleanType),
      rows(struct("v1" -> LongType, "v2" -> LongType, "cos_sim" -> DoubleType)),
      Hash, "cosineClosePairs", DoubleParam("threshold")),
    Fn("topk_pairs",
      "topk_pairs(v, id, k) - partial-aggregatable per-group top-k of " +
        "(v, id) pairs",
      es => TopKPairs.build(es).toAggregateExpression()))

  /** Idempotent per-session registration of the function table, the
    * frame-gather planner strategy ([[graft.sources.FrameGather]]), the
    * driver-merge planner strategy for ungrouped aggregates
    * ([[DriverMerge]]), the small-sort planner strategy
    * ([[SmallSort]]) and the field-extraction rewrite
    * ([[ArrayFieldExtract]]). Only names the session does not resolve
    * yet are registered, so a session built with the extensions, or
    * registered before, keeps its functions: nothing is replaced. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    table.filterNot(f => reg.functionExists(f.id))
      .foreach(f => reg.registerFunction(f.id, f.info, f.builder))
    val extra = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = extra ++
      Seq(graft.sources.FrameGather, DriverMerge, SmallSort).filterNot(extra.contains)
    val rules = spark.experimental.extraOptimizations
    if (!rules.contains(ArrayFieldExtract))
      spark.experimental.extraOptimizations = rules :+ ArrayFieldExtract
  }
}
