package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions

/** Session-extensions entry point (SURVEY §2.9): injects every entry of
  * the function table ([[graft.functions.GraftFunctions.table]]), the
  * frame-gather rewrite ([[graft.sources.FrameGather]]), the driver
  * merge of ungrouped aggregates ([[graft.functions.DriverMerge]]), the
  * single-partition plan of small global sorts
  * ([[graft.functions.SmallSort]]) and the field-extraction rewrite
  * ([[graft.functions.ArrayFieldExtract]]) at session build time, so a cluster deployment enables the library
  * with
  *
  *   --conf spark.sql.extensions=graft.GraftExtensions
  *
  * instead of calling [[graft.functions.GraftFunctions.register]] in
  * driver code. This is the Spark-idiomatic packaging of the
  * reference's "import the library, get the kernels" surface
  * (dask_traj/__init__.py exposes the geometry kernels the same way).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.table.foreach(f =>
      ext.injectFunction((f.id, f.info, f.builder)))
    ext.injectPlannerStrategy(_ => graft.sources.FrameGather)
    ext.injectPlannerStrategy(_ => DriverMerge)
    ext.injectPlannerStrategy(_ => SmallSort)
    ext.injectOptimizerRule(_ => ArrayFieldExtract)
  }
}
