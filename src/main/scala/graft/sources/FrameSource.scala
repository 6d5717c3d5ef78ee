package graft.sources

import java.util

import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.StructType

/** The read shell every trajectory source shares: column pruning, the
  * `frame_id` range and a partial limit.
  *
  * `frame_id` predicates only SHRINK the planned range `[frameLo,
  * frameHi)` — each format's scan prunes partitions (and, where the
  * format allows, index walks or file bytes) with it. Every filter is
  * returned as a residual, so Spark re-applies it exactly after the
  * scan. The pushed limit is a row budget for planning only: Spark
  * keeps its own Limit above the scan. A format with bounds of its own
  * (XTC's `atom_id`) adds them through [[pushOther]].
  *
  * Subclasses keep only their constructor and `build()`. */
abstract class FrameScanBuilder(schema: StructType) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownLimit {
  protected var required: StructType = schema
  protected var frameLo: Long = 0L
  protected var frameHi: Long = Long.MaxValue // exclusive
  protected var limit: Int = -1
  private var pushed: Array[Filter] = Array.empty

  // keeps pruning even when the requested set is empty (count(*))
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** A format-specific filter: apply its bound and return true, or
    * return false to leave it unpushed. */
  protected def pushOther(filter: Filter): Boolean = false

  /** `v + 1`, saturating at Long.MaxValue: `frame_id <= Long.MaxValue`
    * is no bound at all, not an empty range. */
  private def after(v: Long): Long = if (v == Long.MaxValue) v else v + 1

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case EqualTo("frame_id", v: Long) =>
        frameLo = math.max(frameLo, v); frameHi = math.min(frameHi, after(v))
        true
      case GreaterThan("frame_id", v: Long) =>
        frameLo = math.max(frameLo, after(v)); true
      case GreaterThanOrEqual("frame_id", v: Long) =>
        frameLo = math.max(frameLo, v); true
      case LessThan("frame_id", v: Long) =>
        frameHi = math.min(frameHi, v); true
      case LessThanOrEqual("frame_id", v: Long) =>
        frameHi = math.min(frameHi, after(v)); true
      case f => pushOther(f)
    }
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pushLimit(l: Int): Boolean = { limit = l; false }
}

/** A frame source scan whose partitions are frame-aligned, so it can
  * gather each frame's atoms itself instead of emitting atom rows for a
  * shuffle to regroup.
  *
  * Contract: every frame lives in exactly one input partition, and
  * within a frame the atom rows come out in ascending, unique
  * `atom_id`. [[FrameGather]] relies on it to plan
  * `groupBy(frame_id).agg(sort_array(collect_list(struct(atom_id,
  * …))))` over such a scan as [[gathered]]. */
trait FrameGatherScan extends Scan {
  /** This scan, emitting one row per frame: `(frame_id, a)`, where `a`
    * is the frame's atoms [atomLo, min(nAtoms, atomHi)) under the
    * pushed `atom_id` bounds, in ascending `atom_id`, as non-null
    * `struct<atom_id: int, fields…: float>` elements. `fields` name
    * coordinate columns (x, y, z). A frame with no atom in bounds
    * emits no row, as `groupBy` makes no group for it. */
  def gathered(fields: Seq[String]): Scan
}

/** The read options every trajectory source parses the same way.
  * Construction resolves the paths ([[MultiPath]]) and validates
  * `chunks` (an integer > 0, default 10). Errors name the format and
  * the option key. */
final class ReadOptions(format: String, props: util.Map[String, String]) {
  val paths: Seq[String] = MultiPath.rawPaths(format, props)
  val chunks: Int = int("chunks", 10)
  if (chunks <= 0) throw new IllegalArgumentException(
    s"$format option 'chunks' must be > 0, got $chunks")

  /** `unit_scale`, for the formats that take it: 0.1 for Å files (to
    * nm), 1.0 for files already in their convention's units. */
  def unitScale(default: Double): Double =
    ReadOptions.unitScale(format, props, default)

  def int(key: String, default: Int): Int =
    ReadOptions.parsed(format, props, key, "an integer", default)(_.toInt)
}

object ReadOptions {
  /** `unit_scale` from any option map, the write paths' included. */
  def unitScale(format: String, props: util.Map[String, String],
      default: Double): Double =
    parsed(format, props, "unit_scale", "numeric", default)(_.toDouble)

  private def parsed[T](format: String, props: util.Map[String, String],
      key: String, what: String, default: T)(f: String => T): T =
    Option(props.get(key)).map { v =>
      try f(v) catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$format option '$key' must be $what, got '$v'")
      }
    }.getOrElse(default)
}
