package graft.util

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap,
  ExecutionException}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener,
  SparkListenerApplicationEnd}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The build-once registry behind every shared artifact: a relation
  * (usually behind a [[Barrier]]) or scalar is built once per
  * (session, scope, key) and every later consumer reads the same
  * instance — the reference loads a trajectory once and runs many
  * computations over it (core/dask_traj.py:406-416). An entry is a
  * snapshot of the files at first touch.
  *
  * Builds are single-flight: the first caller of a key puts an
  * in-flight future in the map and builds, and concurrent callers of
  * that key wait on it. A builder may `get` another key (text clusters
  * → pairs, sim kmeans → vecs, traj atom_map → positions, topology →
  * atom_dim); that nesting must stay acyclic, since a build that
  * reaches its own key, even through another thread's build, waits on
  * itself forever. A build that throws removes its future and rethrows
  * to the builder and every waiter, so a failure is never memoized.
  *
  * One application-end listener per SparkContext drops the entries of
  * that context's sessions. Scopes `text` and `sim` hold the tier
  * artifacts that benchmarks [[evict]] between passes; `text-dials`
  * (plan-choice scalars), `traj`, `multimodal` and `meta` (parquet
  * footers, [[graft.rel.Tables.footer]]) are never evicted. */
object SharedArtifacts {
  private final case class Key(session: SparkSession, scope: String,
      key: String)

  private val entries =
    new ConcurrentHashMap[Key, CompletableFuture[AnyRef]]()
  private val watched = ConcurrentHashMap.newKeySet[SparkContext]()

  /** The artifact under (s, scope, key), built by `build` on first
    * touch. A hit is one map lookup plus a read of a completed future,
    * with no lock. */
  def get[T <: AnyRef](s: SparkSession, scope: String, key: String)
      (build: => T): T = {
    val k = Key(s, scope, key)
    val hit = entries.get(k)
    if (hit != null) await(hit)
    else {
      val mine = new CompletableFuture[AnyRef]()
      val prev = entries.putIfAbsent(k, mine)
      if (prev != null) await(prev)
      else {
        watch(s.sparkContext)
        try {
          val v = build
          mine.complete(v)
          v
        } catch {
          case e: Throwable =>
            entries.remove(k, mine)
            mine.completeExceptionally(e)
            throw e
        }
      }
    }
  }

  private def await[T](f: CompletableFuture[AnyRef]): T =
    try f.get().asInstanceOf[T]
    catch { case e: ExecutionException => throw e.getCause }

  private def watch(sc: SparkContext): Unit =
    if (watched.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd)
          : Unit = {
        entries.keySet.removeIf(_.session.sparkContext eq sc)
        watched.remove(sc)
      }
    })

  /** Drop the session's entries in `scope`, so the next `get` of each
    * key builds again, and free their blocks: every DataFrame value —
    * also one inside a tuple — whose logical plan IS a [[LogicalRDD]]
    * (the artifact's own barrier, in both barrier modes) has that RDD
    * unpersisted without blocking. Leaves reached through other plans
    * are left alone, since another artifact may read them.
    *
    * Run it between passes, never under a live consumer: a frame taken
    * from the registry before `evict` and run after it fails in `local`
    * barrier mode, because its lineage is cut and its blocks are gone
    * (`persist` mode recomputes it from the kept lineage). A build
    * still in flight is dropped from the map but not unpersisted. */
  def evict(s: SparkSession, scope: String): Unit =
    entries.forEach { (k, f) =>
      if ((k.session eq s) && k.scope == scope && entries.remove(k, f) &&
          f.isDone && !f.isCompletedExceptionally)
        release(f.join())
    }

  private def release(v: Any): Unit = v match {
    case ds: Dataset[_] => ds.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
    case p: Product => p.productIterator.foreach(release)
    case _ =>
  }
}
