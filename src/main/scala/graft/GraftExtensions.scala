package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extensions entry point (SURVEY §2.9): registers every graft
  * native function, the frame-gather rewrite
  * ([[graft.sources.FrameGather]]), the driver merge of ungrouped
  * aggregates ([[graft.functions.DriverMerge]]) and the field-extraction
  * rewrite ([[graft.functions.ArrayFieldExtract]]) at session build
  * time, so a cluster
  * deployment enables the library with
  *
  *   --conf spark.sql.extensions=graft.GraftExtensions
  *
  * instead of calling [[graft.functions.GraftFunctions.register]] in
  * driver code. This is the Spark-idiomatic packaging of the
  * reference's "import the library, get the kernels" surface
  * (dask_traj/__init__.py exposes the geometry kernels the same way).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, usage: String,
      builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.functions", null, name, usage, ""),
      builder)

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(fn("simhash64",
      "simhash64(text) - 64-bit frequency-weighted SimHash as (sim_lo, sim_hi)",
      es => SimHash64(es.head)))
    ext.injectFunction(fn("minhash_doc_banded",
      "minhash_doc_banded(text, seeds, rows_per_band) - banded minhash signature",
      es => MinHashDocBanded.build(es)))
    ext.injectFunction(fn("minhash_doc",
      "minhash_doc(text) - word-3-gram shingles + 8-hash MinHash signature + 4 LSH band keys",
      es => MinHashDoc(es.head)))
    ext.injectFunction(fn("min_fingerprint",
      "min_fingerprint(text) - lexicographic-min md5 over all char 8-grams",
      es => MinFingerprint(es.head)))
    ext.injectFunction(fn("ngram5_count",
      "ngram5_count(text) - number of distinct char 5-grams",
      es => Ngram5Count(es.head)))
    ext.injectFunction(fn("ngram5_packed",
      "ngram5_packed(text) - sorted distinct char 5-grams as packed longs",
      es => Ngram5Packed(es.head)))
    ext.injectFunction(fn("ngram8_packed",
      "ngram8_packed(text) - sorted distinct char 8-grams as packed longs",
      es => Ngram8Packed(es.head)))
    ext.injectFunction(fn("ngram3_set",
      "ngram3_set(text) - distinct char 3-grams in first-occurrence order",
      es => Ngram3Set(es.head)))
    ext.injectFunction(fn("dot_scaled",
      "dot_scaled(a, b) - exact sum of round(a_i*b_i*1e12) as bigint",
      es => DotScaled(es(0), es(1))))
    ext.injectFunction(fn("dot_floor_scaled",
      "dot_floor_scaled(a, b) - exact sum of floor(a_i*b_i*1e12 + 0.5) as bigint",
      es => DotFloorScaled(es(0), es(1))))
    ext.injectFunction(fn("lsh16_code",
      "lsh16_code(v) - 16-bit sign-LSH hyperplane code",
      es => Lsh16Code(es.head)))
    ext.injectFunction(fn("lsh_code",
      "lsh_code(v, bits) - width-parameterized sign-LSH hyperplane code",
      es => LshCode.build(es)))
    ext.injectFunction(fn("sorted_intersect_count",
      "sorted_intersect_count(a, b) - |A intersect B| of two sorted long arrays",
      es => SortedIntersectCount(es(0), es(1))))
    ext.injectFunction(fn("tri_mic",
      "tri_mic(dx, dy, dz, ax, bx, by, cx, cy, cz) - triclinic minimum-image distance",
      es => TriclinicMicDist(es)))
    ext.injectFunction(fn("rep_stats",
      "rep_stats(text) - (n_words, n_distinct, top_word, top_bigram) repetition counters",
      es => RepStats(es.head)))
    ext.injectFunction(fn("quality_stats",
      "quality_stats(text) - (nw, nu, ncl, nsw, npunct) one-pass " +
        "quality counters",
      es => QualityStats(es.head)))
    ext.injectFunction(fn("token_stats",
      "token_stats(text) - (ws_tokens, bpeish_tokens, n_chars) " +
        "one-pass token counters",
      es => TokenStats(es.head)))
    ext.injectFunction(fn("pair_dist_stats",
      "pair_dist_stats(xs, ys, zs) - all-pairs C(n,2) distance sum/min/max/count per frame",
      es => PairDistStats(es)))
    ext.injectFunction(fn("topk_pairs",
      "topk_pairs(v, id, k) - partial-aggregatable per-group top-k of (v, id) pairs",
      es => TopKPairs.build(es).toAggregateExpression()))
    ext.injectPlannerStrategy(_ => graft.sources.FrameGather)
    ext.injectPlannerStrategy(_ => DriverMerge)
    ext.injectOptimizerRule(_ => ArrayFieldExtract)
  }
}
