package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.util.Barrier.BarrierOps
import graft.util.SharedArtifacts
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** The build-once registry: single-flight first touch, nested builds,
  * failures never memoized, and `evict` freeing exactly the evicted
  * scope's barrier blocks. Every case runs in its own `newSession()`
  * under a spec-only scope, so the suites sharing the test session
  * keep their entries. */
class SharedArtifactsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val scope = "spec"

  private def session(mode: String = "local"): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.graft.barrier", mode)
    s
  }

  /** Run `f` on a new thread; the result (or the throwable) is in the
    * returned slot once the thread is joined. */
  private def fork(f: => AnyRef): (Thread, Array[Either[Throwable, AnyRef]]) = {
    val slot = new Array[Either[Throwable, AnyRef]](1)
    val t = new Thread(() =>
      slot(0) = try Right(f) catch { case e: Throwable => Left(e) })
    t.start()
    (t, slot)
  }

  /** Wait until `t` is parked (a waiter blocked on the in-flight
    * future), so the two first touches provably overlap. */
  private def awaitParked(t: Thread): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (t.getState != Thread.State.WAITING && System.nanoTime() < deadline)
      Thread.sleep(5)
    assert(t.getState == Thread.State.WAITING, "waiter never blocked")
  }

  private def barrierRdd(df: DataFrame): Int =
    df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id

  private def persisted(id: Int): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(id)

  test("two threads touching one key first build it once and get the " +
    "same instance") {
    val s = session()
    val builds = new AtomicInteger()
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    def touch(): AnyRef = SharedArtifacts.get(s, scope, "first-touch") {
      builds.incrementAndGet()
      entered.countDown()
      release.await()
      new Object
    }
    val (builder, a) = fork(touch())
    assert(entered.await(30, TimeUnit.SECONDS))
    val (waiter, b) = fork(touch())
    awaitParked(waiter)
    release.countDown()
    builder.join(); waiter.join()
    assert(builds.get == 1)
    assert(a(0).toOption.get eq b(0).toOption.get)
  }

  test("a build may get another key") {
    val s = session()
    val outer = SharedArtifacts.get(s, scope, "outer") {
      SharedArtifacts.get(s, scope, "inner")("x") + "y"
    }
    assert(outer == "xy")
    assert(SharedArtifacts.get(s, scope, "inner")("rebuilt") == "x")
  }

  test("a throwing build reaches every concurrent waiter and is retried " +
    "on the next call") {
    val s = session()
    val boom = new IllegalStateException("boom")
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val (builder, a) = fork(SharedArtifacts.get[AnyRef](s, scope, "fails") {
      entered.countDown()
      release.await()
      throw boom
    })
    assert(entered.await(30, TimeUnit.SECONDS))
    val (waiter, b) =
      fork(SharedArtifacts.get[AnyRef](s, scope, "fails")("never built"))
    awaitParked(waiter)
    release.countDown()
    builder.join(); waiter.join()
    assert(a(0).left.toOption.get eq boom)
    assert(b(0).left.toOption.get eq boom)
    assert(SharedArtifacts.get(s, scope, "fails")("ok") == "ok")
  }

  for (mode <- Seq("local", "persist"))
    test(s"evict unpersists the artifact's own barrier ($mode mode)") {
      val s = session(mode)
      val df = SharedArtifacts.get(s, scope, "barrier")(
        s.range(100).toDF("id").graftBarrier)
      assert(df.count() == 100)
      val id = barrierRdd(df)
      assert(persisted(id))
      SharedArtifacts.evict(s, scope)
      assert(!persisted(id))
    }

  test("evict frees a tuple's barriers and drops a scalar entry") {
    val s = session()
    val pair = SharedArtifacts.get(s, scope, "pair")(
      (s.range(5).toDF("a").graftBarrier, s.range(7).toDF("b").graftBarrier))
    val n = SharedArtifacts.get(s, scope, "n")(java.lang.Long.valueOf(3L))
    val ids = Seq(barrierRdd(pair._1), barrierRdd(pair._2))
    assert(ids.forall(persisted))
    SharedArtifacts.evict(s, scope)
    assert(!ids.exists(persisted))
    assert(SharedArtifacts.get(s, scope, "n")(java.lang.Long.valueOf(4L)) == 4L)
    assert(n == 3L)
  }

  test("evict leaves other scopes and other sessions alone") {
    val s1 = session()
    val s2 = session()
    def build(s: SparkSession, sc: String): DataFrame =
      SharedArtifacts.get(s, sc, "keep")(s.range(3).toDF("id").graftBarrier)
    val evicted = build(s1, scope)
    val otherScope = build(s1, "spec-other")
    val otherSession = build(s2, scope)
    SharedArtifacts.evict(s1, scope)
    assert(!persisted(barrierRdd(evicted)))
    assert(build(s1, "spec-other") eq otherScope)
    assert(build(s2, scope) eq otherSession)
    assert(persisted(barrierRdd(otherScope)))
    assert(persisted(barrierRdd(otherSession)))
  }

  test("after evict the next get rebuilds and returns equal rows") {
    val s = session()
    val builds = new AtomicInteger()
    def squares(): DataFrame = SharedArtifacts.get(s, scope, "rows") {
      builds.incrementAndGet()
      s.range(20).selectExpr("id", "id * id AS sq").graftBarrier
    }
    val first = squares()
    val rows = first.collect().toSeq
    SharedArtifacts.evict(s, scope)
    val second = squares()
    assert(second ne first)
    assert(builds.get == 2)
    assert(second.collect().toSeq == rows)
  }

  test("repeated IVF searches reuse one lists barrier, and the sim " +
    "eviction frees it") {
    val s = session()
    val d = SparkTestBase.sf
    def search(): Seq[String] =
      SparkEntry.queries("q_sim_ann_ivf")(s, d).collect().map(_.toString).toSeq
    val first = search()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(search() == first)
    // entries may only leave the weak-valued map, never join it
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    val lists = barrierRdd(SharedArtifacts.get[DataFrame](s, "sim",
      s"$d:kmeans:lists")(fail("the lists barrier was not built")))
    assert(persisted(lists))
    sim.SimQueries.evictShared(s)
    assert(!persisted(lists))
  }

  test("repeated minhash builds reuse one signature barrier, and the " +
    "text eviction frees it") {
    val s = session()
    val d = SparkTestBase.sf
    def pairs(): Seq[String] = SparkEntry.queries("q_dedup_minhash_k2")(s, d)
      .collect().map(_.toString).toSeq
    def ids(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = ids()
    val first = pairs()
    val built = ids() -- before
    assert(built.nonEmpty)
    assert(pairs() == first)
    assert(ids() -- before == built)
    text.TextQueries.evictShared(s)
    assert(!built.exists(persisted))
  }

  test("rebuilding q_dedup_simhash and q_dedup_minhash_df three times " +
    "adds no persisted RDD, and the text eviction frees their barriers") {
    val s = session()
    val d = SparkTestBase.sf
    def ids(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    Seq("q_dedup_simhash", "q_dedup_minhash_df").foreach { q =>
      def pairs(): Seq[String] =
        SparkEntry.queries(q)(s, d).collect().map(_.toString).toSeq
      val before = ids()
      val first = pairs()
      val built = ids() -- before
      assert(built.nonEmpty, q)
      (0 until 2).foreach(_ => assert(pairs() == first, q))
      assert(ids() -- before == built, s"$q rebuilds persisted " +
        s"${(ids() -- before -- built).size} more RDD(s)")
      text.TextQueries.evictShared(s)
      assert(!built.exists(persisted), q)
    }
  }
}
