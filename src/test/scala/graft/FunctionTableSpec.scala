package graft

import graft.functions.GraftFunctions
import graft.util.CodegenErrors
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.scalatest.funsuite.AnyFunSuite

/** One pinned sample call per native kernel function of
  * [[GraftFunctions.table]]. Each call runs in a generated Project
  * (`CODEGEN_ONLY`) and interpreted (`NO_CODEGEN`, no whole-stage
  * codegen); both results must equal the pinned value, and no stage
  * may fail to compile. The `DESCRIBE FUNCTION` usage line and the
  * auto-generated name of an unaliased call are pinned as well, so a
  * change to how the functions are declared keeps every SQL surface.
  *
  * The arguments are wrapped in `IF(id = 0, …, NULL)` over a one-row
  * range: the call is then neither constant-folded nor run on a local
  * relation, and every argument is nullable. */
class FunctionTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** `args` are SQL inputs (each becomes a column `a<i>`), `lits` the
    * literal parameters written into the call as they are. */
  private case class Sample(args: Seq[String], lits: Seq[String],
      column: String, result: String, usage: String)

  private val text = "'the cat sat on the mat and the cat sat down'"
  private val members3 = "array(" +
    "named_struct('doc_id', 1L, 'sim_lo', 5L, 'sim_hi', 7L), " +
    "named_struct('doc_id', 4L, 'sim_lo', 5L, 'sim_hi', 6L), " +
    "named_struct('doc_id', 2L, 'sim_lo', -1L, 'sim_hi', 0L))"
  private val members3b = "array(" +
    "named_struct('doc_id', 9L, 'sim_lo', 4L, 'sim_hi', 7L), " +
    "named_struct('doc_id', 3L, 'sim_lo', -1L, 'sim_hi', 1L))"
  private val grams = "array(" +
    "named_struct('doc_id', 1L, 'grams', array(1L, 2L, 3L, 4L)), " +
    "named_struct('doc_id', 2L, 'grams', array(2L, 3L, 4L, 5L)), " +
    "named_struct('doc_id', 3L, 'grams', array(7L, 8L)))"
  private val gramsB = "array(" +
    "named_struct('doc_id', 7L, 'grams', array(1L, 2L, 3L)), " +
    "named_struct('doc_id', 8L, 'grams', array(7L, 8L, 9L)))"
  private val vecs = "array(" +
    "named_struct('vec_id', 1L, 'emb', array(1.0D, 0.0D), 'nrm', 1.0D), " +
    "named_struct('vec_id', 5L, 'emb', array(0.6D, 0.8D), 'nrm', 1.0D), " +
    "named_struct('vec_id', 3L, 'emb', array(0.0D, 2.0D), 'nrm', 2.0D))"
  private val atoms = "map(" +
    "2L, named_struct('x', 0.125D, 'y', -0.5D, 'z', 1.000001D), " +
    "1L, named_struct('x', 0.1D, 'y', 0.2D, 'z', 0.3D))"
  private val floats = (v: String) => s"CAST(array($v) AS ARRAY<FLOAT>)"

  private val samples: Map[String, Sample] = Map(
    "simhash64" -> Sample(Seq(text), Nil,
      "simhash64(a0)",
      "[3569503997,4185558013]",
      "simhash64(text) - 64-bit frequency-weighted SimHash as (sim_lo, sim_hi)"),
    "minhash_doc" -> Sample(Seq(text), Nil,
      "minhash_doc(a0)",
      "[ArraySeq(the cat sat, cat sat on, sat on the, on the mat, the mat and, mat and the, and the cat, cat sat down),ArraySeq(29325a480fecd1eea3c60f51ba4304dd, afaca867365beb3279c5978495771181, 6ff27bbabcd8a32f224769cc2b2b2765, 17afe89bb854707c82931621cebd4333)]",
      "minhash_doc(text) - word-3-gram shingles + 8-hash MinHash signature + 4 LSH band keys"),
    "minhash_doc_banded" -> Sample(Seq(text), Seq("8", "4", "2"),
      "minhash_doc_banded(a0)",
      "[ArraySeq(the cat, cat sat, sat on, on the, the mat, mat and, and the, sat down),ArraySeq(675b6186ab70fa0dc12446300df65fca, 9d4b387f08ff72abbb08a1b53f95692c)]",
      "minhash_doc_banded(text, seeds, rows_per_band[, shingle_k]) - banded minhash signature"),
    "shingles_k" -> Sample(Seq(text), Seq("2"),
      "shingles_k(a0)",
      "ArraySeq(the cat, cat sat, sat on, on the, the mat, mat and, and the, sat down)",
      "shingles_k(text, k) - distinct word-k-gram shingles in first-occurrence order"),
    "minhash_banded_from" -> Sample(
      Seq("array('a b c', 'b c d', 'c d e')"), Seq("8", "2"),
      "minhash_banded_from(a0)",
      "ArraySeq(dfa4ace2a03b868bab8ea9f5fbdbd0b4, 3b0e29d3800dd3e11f2c21e6049ebdca, aaadefe8f789fc891049aab946e1c258, 7d8c543f99a23cb16331ba8737f7271d)",
      "minhash_banded_from(shingles, seeds, rows_per_band) - banded minhash signature over a given shingle array"),
    "min_fingerprint" -> Sample(Seq(text), Nil,
      "min_fingerprint(a0)",
      "08fd87c0d2f766442f1c063fa3b4593f",
      "min_fingerprint(text) - lexicographic-min md5 over all char 8-grams"),
    "ngram5_count" -> Sample(Seq(text), Nil,
      "ngram5_count(a0)",
      "30",
      "ngram5_count(text) - number of distinct char 5-grams"),
    "ngram5_packed" -> Sample(Seq("'hello world'"), Nil,
      "ngram5_packed(a0)",
      "ArraySeq(9014828929040485, 28154921287610487, 30407133367857184, 31251145930723432, 31251900569940076, 32095777203552367, 33497723114537068)",
      "ngram5_packed(text) - sorted distinct char 5-grams as packed longs"),
    "ngram8_packed" -> Sample(Seq("'hello world'"), Nil,
      "ngram8_packed(a0)",
      "ArraySeq(56773931421939692, 61303818215487084, 63011941900825320, 64668575486129765)",
      "ngram8_packed(text) - sorted distinct char 8-grams as packed longs"),
    "ngram3_set" -> Sample(Seq("'hello hell'"), Nil,
      "ngram3_set(a0)",
      "ArraySeq(hel, ell, llo, lo , o h,  he)",
      "ngram3_set(text) - distinct char 3-grams in first-occurrence order"),
    "sorted_intersect_count" -> Sample(
      Seq("array(1L, 2L, 3L, 9L)", "array(2L, 3L, 4L, 9L)"), Nil,
      "sorted_intersect_count(a0, a1)",
      "3",
      "sorted_intersect_count(a, b) - |A intersect B| of two sorted long arrays"),
    "dot_scaled" -> Sample(
      Seq("array(1.5D, 2.0D, 0.1D)", "array(3.0D, -4.25D, 0.2D)"), Nil,
      "dot_scaled(a0, a1)",
      "-3980000000000",
      "dot_scaled(a, b) - exact sum of round(a_i*b_i*1e12) as bigint"),
    "dot_floor_scaled" -> Sample(
      Seq("array(1.5D, 2.0D, 0.1D)", "array(3.0D, -4.25D, 0.2D)"), Nil,
      "dot_floor_scaled(a0, a1)",
      "-3980000000000",
      "dot_floor_scaled(a, b) - exact sum of floor(a_i*b_i*1e12 + 0.5) as bigint"),
    "xyz_sum_scaled" -> Sample(
      Seq("array(array(0.1D, 0.2D, 0.3D), array(1.000001D, -2.5D, 3.0D))"),
      Seq("1"),
      "xyz_sum_scaled(a0)",
      "-2300000",
      "xyz_sum_scaled(xyz, axis) - scaled-bigint sum of one coordinate axis over a wide frame"),
    "com_sums_scaled" -> Sample(Seq(atoms, "array(12.011D, 1.008D)"), Nil,
      "com_sums_scaled(a0, a1)",
      "[1327100000,1898200000,4611301008,13019]",
      "com_sums_scaled(atoms, masses) - mass-weighted centre-of-mass sums as scaled bigints (sxm, sym, szm, sm)"),
    "cog_sums_scaled" -> Sample(Seq(atoms), Nil,
      "cog_sums_scaled(a0)",
      "[225000,-300000,1300001,2]",
      "cog_sums_scaled(atoms) - centre-of-geometry sums as scaled bigints plus the member count (sx, sy, sz, n)"),
    "span_clean" -> Sample(
      Seq("array('a', 'b', '', 'd', 'e')", "array(1, 3)"), Nil,
      "span_clean(a0, a1)",
      "[3,a  e]",
      "span_clean(arr, rm) - a document's tokens without the covered positions, as (n_kept, clean)"),
    "span_gram_hashes" -> Sample(Seq("array('a', 'b', 'c', 'd')"), Seq("3"),
      "span_gram_hashes(a0)",
      "ArraySeq([0,1101634279369116845,6120197075497903526], [1,8383170820681628825,7138467694004976402])",
      "span_gram_hashes(arr, span) - 128-bit fingerprint of every span-token window"),
    "ngram_close_pairs" -> Sample(Seq(grams), Nil,
      "ngram_close_pairs(a0)",
      "ArraySeq([1,2,3,5])",
      "ngram_close_pairs(members) - n-gram Jaccard verify of the pairs in one block, as (d1, d2, ni, den)"),
    "ngram_close_pairs_x" -> Sample(Seq(grams, gramsB, "false"), Nil,
      "ngram_close_pairs_x(a0, a1, a2)",
      "ArraySeq([1,7,3,4], [3,8,2,3])",
      "ngram_close_pairs_x(members_a, members_b, same) - the two-list segment variant of ngram_close_pairs"),
    "lsh16_code" -> Sample(Seq("array(0.5D, -0.25D, 1.0D, -2.0D)"), Nil,
      "lsh16_code(a0)",
      "37449",
      "lsh16_code(v) - 16-bit sign-LSH hyperplane code"),
    "lsh_code" -> Sample(Seq("array(0.5D, -0.25D, 1.0D, -2.0D)"), Seq("24"),
      "lsh_code(a0)",
      "7115337",
      "lsh_code(v, bits) - width-parameterized sign-LSH hyperplane code"),
    "tri_mic" -> Sample(Seq("5.5D", "-6.9D", "15.2D", "6.0D", "0.0D", "7.0D",
      "0.5D", "0.5D", "8.0D"), Nil,
      "tri_mic(a0, a1, a2, a3, a4, a5, a6, a7, a8)",
      "1.9235384061671348",
      "tri_mic(dx, dy, dz, ax, bx, by, cx, cy, cz) - triclinic minimum-image distance"),
    "rep_stats" -> Sample(Seq(text), Nil,
      "rep_stats(a0)",
      "[11,7,3,2]",
      "rep_stats(text) - (n_words, n_distinct, top_word, top_bigram) repetition counters"),
    "quality_stats" -> Sample(Seq("'Hello World. the end!'"), Nil,
      "quality_stats(a0)",
      "[4,4,21,1,4]",
      "quality_stats(text) - (nw, nu, ncl, nsw, npunct) one-pass quality counters"),
    "token_stats" -> Sample(Seq("'tokenization of words, ok'"), Nil,
      "token_stats(a0)",
      "[4,5,25]",
      "token_stats(text) - (ws_tokens, bpeish_tokens, n_chars) one-pass token counters"),
    "pair_dist_stats" -> Sample(Seq(floats("0, 3, 0, 1"), floats("0, 0, 4, 1"),
      floats("0, 0, 0, 1")), Nil,
      "pair_dist_stats(a0, a1, a2)",
      "[19.498165340707455,1.7320508075688772,5.0,6]",
      "pair_dist_stats(xs, ys, zs) - all-pairs C(n,2) distance sum/min/max/count per frame"),
    "simhash_close_pairs" -> Sample(Seq(members3), Seq("1"),
      "simhash_close_pairs(a0)",
      "ArraySeq([1,4,1])",
      "simhash_close_pairs(members, max_hamming) - Hamming verify of the pairs in one LSH bucket, as (d1, d2, hamming)"),
    "simhash_close_pairs_x" -> Sample(Seq(members3, members3b, "false"),
      Seq("2"),
      "simhash_close_pairs_x(a0, a1, a2)",
      "ArraySeq([1,9,1], [4,9,2], [2,3,1])",
      "simhash_close_pairs_x(members_a, members_b, same_segment, max_hamming) - the two-list segment variant of simhash_close_pairs"),
    "cosine_close_pairs" -> Sample(Seq(vecs, vecs, "true"), Seq("0.5"),
      "cosine_close_pairs(a0, a1, a2)",
      "ArraySeq([1,5,0.6], [3,5,0.8])",
      "cosine_close_pairs(members_a, members_b, same_bucket, threshold) - exact-cosine verify of two LSH buckets, as (v1, v2, cos_sim)"))

  /** Runs `name(args…, lits…)` under `mode` and returns (column,
    * result). */
  private def run(s: SparkSession, name: String, args: Seq[String],
      lits: Seq[String], mode: String): (String, String) = {
    s.conf.set("spark.sql.codegen.factoryMode", mode)
    s.conf.set("spark.sql.codegen.wholeStage", mode == "CODEGEN_ONLY")
    val in: DataFrame = s.range(1).selectExpr(args.zipWithIndex.map {
      case (a, i) => s"IF(id = 0, $a, NULL) AS a$i"
    }: _*)
    val call = s"$name(" + (args.indices.map(i => s"a$i") ++ lits)
      .mkString(", ") + ")"
    val df = in.select(expr(call))
    (df.columns.head, df.collect().head.get(0).toString)
  }

  test("every kernel function of the table has a pinned sample") {
    assert(GraftFunctions.table.map(_.name).filterNot(_ == "topk_pairs")
      .toSet == samples.keySet)
  }

  test("every kernel function gives its pinned result, generated and " +
    "interpreted, with no codegen failure; column name and usage are " +
    "pinned") {
    CodegenErrors.install()
    val s = spark.newSession()
    val errors0 = CodegenErrors.snapshot()
    samples.keys.toSeq.sorted.foreach { name =>
      val smp = samples(name)
      val (colGen, gen) = run(s, name, smp.args, smp.lits, "CODEGEN_ONLY")
      val (colInt, int) = run(s, name, smp.args, smp.lits, "NO_CODEGEN")
      val usage = s.sql(s"DESCRIBE FUNCTION $name").collect()
        .map(_.getString(0)).find(_.startsWith("Usage: ")).getOrElse("")
        .stripPrefix("Usage: ")
      assert(gen == int, s"$name: generated $gen, interpreted $int")
      assert(gen == smp.result, s"$name: result")
      assert(colGen == smp.column && colInt == smp.column, s"$name: column")
      assert(usage == smp.usage, s"$name: usage")
    }
    assert(CodegenErrors.snapshot() == errors0)
  }

  test("mistyped arguments fail at analysis with a data type mismatch " +
    "naming the function") {
    val calls = Seq(
      "sorted_intersect_count(array(CAST(id AS INT), CAST(id + 1 AS INT), " +
        "CAST(id + 2 AS INT)), array(CAST(id + 1 AS INT), CAST(id + 2 AS INT)))",
      "simhash64(id)",
      "ngram5_count(CAST(id AS INT))",
      "dot_scaled(array(1, 2), array(CAST(id AS INT), 4))",
      "dot_scaled(array(CAST(id AS FLOAT), 2.0F), array(3.0F, 4.0F))",
      "xyz_sum_scaled(CAST(id AS STRING), 1)")
    calls.foreach { call =>
      val e = intercept[AnalysisException](spark.range(3).selectExpr(call))
      assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), s"$call: $e")
      val name = call.takeWhile(_ != '(')
      assert(e.getMessage.contains(s"\"$name("), s"$call: $e")
    }
  }

  test("a NaN cosine threshold compiles and matches interpreted eval") {
    CodegenErrors.install()
    val s = spark.newSession()
    val errors0 = CodegenErrors.snapshot()
    val args = samples("cosine_close_pairs").args
    val nan = Seq("CAST('NaN' AS DOUBLE)")
    val (_, gen) = run(s, "cosine_close_pairs", args, nan, "CODEGEN_ONLY")
    assert(CodegenErrors.snapshot() == errors0)
    val (_, int) = run(s, "cosine_close_pairs", args, nan, "NO_CODEGEN")
    assert(gen == int)
  }
}
