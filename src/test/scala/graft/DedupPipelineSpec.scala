package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the composed end-to-end dedup pipeline
  * (`q_dedup_pipeline`, VERDICT r17 next #1) on corpora built to pin
  * what the driver's oracle gate cannot isolate:
  *
  *  1. CROSS-TIER transitivity — a chain that runs through THREE
  *     different tiers (exact copy, minhash near-dup, semantic link)
  *     must collapse into ONE cluster with one keeper; per-tier CC
  *     could never express this.
  *  2. SPAN-ON-SURVIVORS ordering — span-dedup statistics are
  *     computed over the post-doc-dedup corpus, so a span whose only
  *     other occurrence lived in a DROPPED near-dup is NOT removed
  *     from its surviving doc (the full-corpus span pass provably
  *     removes it — the test runs both and demands they differ).
  *  3. DOMINANCE on real testdata — every pair any constituent tier
  *     reports at sf0.001 shares a pipeline cluster rep (the union
  *     edge set can only merge more, never less).
  */
class DedupPipelineSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkTestBase.spark

  private val root =
    java.nio.file.Files.createTempDirectory("dedup_pipeline_spec")

  private def deleteTree(dir: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(dir)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
  }

  override def afterAll(): Unit = {
    deleteTree(root)
    super.afterAll()
  }

  /** Write a corpus dir: docs (doc_id, text) + one-hot float
    * embeddings where `sameDir` ids share doc 0's direction (semantic
    * edges) and everyone else is orthogonal (no edges). */
  private def writeCorpus(name: String, docs: Seq[(Long, String)],
      sameDir: Set[Long] = Set.empty): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createDirectories(root.resolve(name))
      .toString
    docs.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' as lang", "'spec' as source",
        "length(text) as n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeEmbeddings(dir, docs, sameDir)
    dir
  }

  private def writeEmbeddings(dir: String, docs: Seq[(Long, String)],
      sameDir: Set[Long] = Set.empty): Unit = {
    import spark.implicits._
    val dim = docs.size + 1
    docs.map { case (id, _) =>
      val hot = if (sameDir.contains(id)) 0 else id.toInt + 1
      (id, Array.tabulate(dim)(i => if (i == hot) 1.0f else 0.0f),
        0)
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private def pipeline(dir: String): Array[org.apache.spark.sql.Row] =
    SparkEntry.queries("q_dedup_pipeline")(spark, dir).collect()

  test("a chain through exact + minhash + semantic tiers collapses " +
    "into one cluster with one keeper and sentinel'd dropped rows") {
    val filler = (1 to 120).map(i => s"alpha$i").mkString(" ")
    val tailA = (1 to 10).map(i => s"enda$i").mkString(" ")
    val tailB = (1 to 10).map(i => s"endb$i").mkString(" ")
    val dir = writeCorpus("transitive", Seq(
      0L -> s"$filler $tailA",
      1L -> s"$filler $tailA", // exact copy of 0
      2L -> s"$filler $tailB", // minhash near-dup of 0/1 (J ~ 0.85)
      // unrelated TEXT, but its embedding shares doc 0's direction:
      // only the semantic tier can link it
      3L -> (1 to 60).map(i => s"omega$i").mkString(" "),
      4L -> (1 to 60).map(i => s"solo$i").mkString(" ")),
      sameDir = Set(0L, 3L))
    val rows = pipeline(dir)
    assert(rows.length == 5)
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    // one cluster {0,1,2,3} rooted at 0 — three tiers' edges composed
    Seq(0L, 1L, 2L, 3L).foreach { id =>
      assert(byId(id).getLong(1) == 0L, s"doc $id rep")
      assert(byId(id).getLong(2) == 4L, s"doc $id cluster_size")
      assert(byId(id).getBoolean(3) == (id == 0L), s"doc $id keep")
    }
    assert(byId(4L).getLong(1) == 4L && byId(4L).getBoolean(3))
    assert(byId(4L).getLong(2) == 1L)
    // dropped rows carry the explicit sentinels, never NULLs
    Seq(1L, 2L, 3L).foreach { id =>
      assert(byId(id).getLong(5) == -1L, s"doc $id n_kept sentinel")
      assert(byId(id).getString(6) == "", s"doc $id clean_hash sentinel")
    }
    // survivors share no spans -> fully kept
    Seq(0L, 4L).foreach { id =>
      assert(byId(id).getLong(5) == byId(id).getLong(4),
        s"doc $id should keep every token")
    }
  }

  test("a failing tier cancels its siblings and rethrows the original " +
    "cause; a later run over the completed corpus is unaffected") {
    val docs = Seq(
      0L -> (1 to 80).map(i => s"gamma$i").mkString(" "),
      1L -> (1 to 80).map(i => s"gamma$i").mkString(" "),
      2L -> (1 to 60).map(i => s"delta$i").mkString(" "))
    val dir = writeCorpus("cancelled", docs)
    deleteTree(java.nio.file.Paths.get(dir, "embeddings.parquet"))
    val sc = spark.sparkContext
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p =>
              Option(p.getProperty("spark.jobGroup.id")))
            .exists(_.startsWith("dedup_pipeline")))
          started.add(e.jobId)
      override def onJobEnd(
          e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        ended.add(e.jobId)
    }
    sc.addSparkListener(jobs)
    try {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        pipeline(dir))
      assert(e.getMessage.contains("embeddings.parquet"))
      // the missing file usually fails before a sibling tier starts
      // its first job; the check covers every job the group did start
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def running = started.asScala.count(!ended.contains(_))
      while (running > 0 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(running == 0, "a job of the pipeline's group is still running")
    } finally sc.removeSparkListener(jobs)

    writeEmbeddings(dir, docs)
    val twin = writeCorpus("cancelled-twin", docs)
    assert(pipeline(dir).map(_.toString).toSeq ==
      pipeline(twin).map(_.toString).toSeq)
  }

  test("span statistics run on SURVIVORS only: a span whose other " +
    "occurrence was doc-deduped away is kept (full-corpus span pass " +
    "removes it)") {
    val f = (1 to 200).map(i => s"base$i").mkString(" ")
    val span = (1 to 10).map(i => s"quoted$i").mkString(" ")
    val tailT = (1 to 10).map(i => s"tail$i").mkString(" ")
    val dir = writeCorpus("spanorder", Seq(
      0L -> s"$f $tailT",
      1L -> s"$f $span", // near-dup of 0 -> DROPPED; carries the span
      // unique filler around the same span; survives
      2L -> ((1 to 40).map(i => s"pre$i").mkString(" ") + s" $span " +
        (1 to 40).map(i => s"post$i").mkString(" "))))
    val rows = pipeline(dir)
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(!byId(1L).getBoolean(3), "doc 1 must be doc-deduped away")
    assert(byId(2L).getBoolean(3), "doc 2 must survive")
    // the composition-order claim: in the pipeline, doc 2's span has
    // no other SURVIVING occurrence -> fully kept
    assert(byId(2L).getLong(5) == byId(2L).getLong(4),
      s"pipeline must keep doc 2 intact, got ${byId(2L)}")
    // ...whereas the standalone full-corpus span pass sees the span
    // in dropped doc 1 (lower doc_id -> first occurrence) and removes
    // it from doc 2 — the two passes MUST differ, or this test pins
    // nothing
    val full = SparkEntry.queries("q_span_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(full(2L).getLong(2) <= full(2L).getLong(1) - 6,
      s"full-corpus span pass should remove doc 2's span, " +
        s"got ${full(2L)}")
  }

  test("pipeline clusters dominate every constituent tier at sf0.001") {
    val sf = SparkTestBase.sf
    val rep = pipeline(sf).map(r => r.getLong(0) -> r.getLong(1)).toMap

    def samePairs(df: DataFrame, what: String): Unit =
      df.collect().foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        assert(rep(a) == rep(b), s"$what pair ($a,$b) split across " +
          s"pipeline clusters ${rep(a)} / ${rep(b)}")
      }

    samePairs(SparkEntry.queries("q_dedup_minhash")(spark, sf)
      .select("d1", "d2"), "minhash")
    samePairs(SparkEntry.queries("q_dedup_ngram_df")(spark, sf)
      .select("d1", "d2"), "ngram_df")
    // exact tier: same-content docs share a rep
    import org.apache.spark.sql.functions._
    val ex = rel.Tables.documents(spark, sf)
      .groupBy(md5(col("text")).as("h"))
      .agg(collect_list("doc_id").as("ids"))
      .filter(size(col("ids")) > 1)
      .collect()
    ex.foreach { r =>
      val ids = r.getSeq[Long](1)
      assert(ids.map(rep).distinct.size == 1,
        s"exact group $ids split across pipeline clusters")
    }
    // semantic tier: every non-keeper shares its group rep
    SparkEntry.queries("q_dedup_semantic")(spark, sf)
      .select("vec_id", "sem_rep").collect().foreach { r =>
        assert(rep(r.getLong(0)) == rep(r.getLong(1)),
          s"semantic member ${r.getLong(0)} split from its " +
            s"group rep ${r.getLong(1)}")
      }
  }
}
