package graft.scale

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Runtime guard for "this relation is small enough to broadcast"
  * arguments. A threshold-bounded or burst-sized relation usually IS
  * small — but an unconditional `broadcast()` hint turns a broken
  * bound assumption into an executor OOM at 100 TB. `maybe` measures
  * the relation once (one aggregate over the persisted set: row count
  * × schema width plus actual string/binary/array payload) and applies
  * the hint only under `spark.sql.autoBroadcastJoinThreshold`; above
  * it, the join falls back to a plain shuffle join — safe by
  * construction, merely slower. A schema the estimator can't measure
  * conservatively (maps, structs, nested arrays) never gets the hint
  * at all: an under-measured relation broadcasting oversized is the
  * exact failure the guard exists to prevent.
  *
  * The measurement job is one scan of a relation the caller already
  * computes (and that stays persisted for the actual join), so the
  * guard costs one cheap job — none for a driver-local relation, which
  * is measured on the driver — and only once per distinct plan: the
  * persisted handle and its measured size live in [[Derived]]'s guard
  * kind, keyed by the canonicalized logical plan, so re-registering the
  * same query (a bench rerun, a long-lived service) reuses the cached
  * copy, and eviction from the capped kind unpersists it instead of
  * leaking one cache entry per invocation for the session lifetime.
  */
object GuardedBroadcast {

  /** `df`'s guard-kind memo entry: persisted handle and measured size.
    * The key carries the output column NAMES beside the canonicalized
    * plan, which normalizes aliases away: two renamings of the same
    * relation must not share a cached handle.
    */
  private def memo(df: DataFrame)(build: => (DataFrame, Long)): (DataFrame, Long) =
    Derived(df.sparkSession, Derived.Guard,
      (df.schema.fieldNames.toSeq, df.queryExecution.analyzed.canonicalized))(build)

  /** Fixed on-heap width for types whose payload the schema fully
    * determines; None for variable or nested types.
    */
  private def fixedWidth(dt: DataType): Option[Int] = dt match {
    case _: NumericType | BooleanType | DateType | TimestampType |
        TimestampNTZType => Some(math.max(8, dt.defaultSize))
    case _ => None
  }

  /** Conservative per-row on-heap estimate mirroring how Spark sizes
    * broadcast relations: fixed 16-byte row overhead plus per-field
    * width; variable-width fields measure their actual payload. None
    * when any field can't be measured conservatively — the caller
    * then skips the hint entirely.
    */
  private[graft] def rowBytes(schema: StructType): Option[Column] = {
    val widths = schema.fields.map { f =>
      f.dataType match {
        case StringType =>
          Some(coalesce(length(col(f.name)).cast("long"), lit(0L)) + 20L)
        case BinaryType =>
          Some(coalesce(octet_length(col(f.name)).cast("long"), lit(0L)) + 20L)
        // element payload must be schema-bounded: an Array[String] (or
        // nested array) measures None and the relation never gets the hint
        case ArrayType(et, _) => fixedWidth(et).map(w =>
          coalesce(size(col(f.name)).cast("long"), lit(0L)) * w.toLong + 20L)
        case dt => fixedWidth(dt).map(_ => lit(16L): Column)
      }
    }
    if (widths.exists(_.isEmpty)) None
    else Some(widths.flatten.foldLeft(lit(16L): Column)(_ + _))
  }

  /** The session's autoBroadcastJoinThreshold in bytes; −1 when
    * broadcasting is disabled or the setting does not parse.
    */
  private[graft] def threshold(spark: SparkSession): Long = {
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    try JavaUtils.byteStringAsBytes(thr) catch { case _: Exception => -1L }
  }

  /** The distinct rows of `df`, each with its `width` in bytes (a
    * [[rowBytes]] expression), collected to the driver — or None when
    * together they may pass `budget` bytes.
    *
    * A driver-local relation (a `LocalRelation` plan, such as the rows
    * of an INSERT DATA) is read and measured on the driver with no
    * job. Anything else is read in one job whose budget is split evenly
    * over its tasks: each task stops reading once its own distinct rows
    * pass its share and reports that it stopped, so the job ships at
    * most `budget` bytes plus one row per task. A skewed relation
    * therefore reads as over budget early, which callers treat as "too
    * large to hold on the driver" — never as a partial answer.
    */
  private[graft] def collectBounded(df: DataFrame, width: Column,
      budget: Long): Option[Seq[(Row, Long)]] = {
    val n = df.columns.length
    val measured = df.select(df.columns.map(col).toIndexedSeq :+ width: _*)
    val key: Row => Row = r => Row.fromSeq((0 until n).map(r.get))
    measured.queryExecution.optimizedPlan match {
      case _: LocalRelation =>
        val seen = mutable.LinkedHashMap.empty[Row, Long]
        measured.collect().foreach(r => seen.getOrElseUpdate(key(r), r.getLong(n)))
        if (seen.valuesIterator.sum > budget) None else Some(seen.toSeq)
      case _ =>
        val rows = measured.rdd
        val share = budget / math.max(1, rows.getNumPartitions)
        val parts = rows.mapPartitions { it =>
          val seen = mutable.LinkedHashMap.empty[Row, Long]
          var bytes = 0L
          while (bytes <= share && it.hasNext) {
            val r = it.next()
            val k = key(r)
            if (!seen.contains(k)) {
              seen(k) = r.getLong(n)
              bytes += r.getLong(n)
            }
          }
          Iterator.single((seen.toSeq, bytes > share))
        }.collect()
        if (parts.exists(_._2)) None
        else {
          // tasks dedupe only their own rows
          val all = mutable.LinkedHashMap.empty[Row, Long]
          parts.foreach(_._1.foreach { case (k, w) => all.getOrElseUpdate(k, w) })
          Some(all.toSeq)
        }
    }
  }

  /** `broadcast(df)` when the measured size fits under the session's
    * autoBroadcastJoinThreshold, `df` (persisted) otherwise; `df`
    * untouched when broadcasting is disabled (threshold −1) or the
    * schema is unmeasurable.
    *
    * A driver-local relation (its optimized plan is a `LocalRelation`:
    * the rows of an INSERT/DELETE DATA, an update's instantiated
    * templates) is measured where it lives, as [[collectBounded]] reads
    * one: the hint at or under the threshold, none above it, and no
    * persist, no memo entry and no job.
    */
  def maybe(df: DataFrame): DataFrame = {
    val thresholdBytes = threshold(df.sparkSession)
    if (thresholdBytes <= 0) return df
    rowBytes(df.schema) match {
      case None => df
      case Some(bytesExpr) if driverLocal(df) =>
        val measured = df.select(bytesExpr).collect().iterator.map(_.getLong(0)).sum
        if (measured <= thresholdBytes) broadcast(df) else df
      case Some(bytesExpr) =>
        val (cached, measured) = memo(df) {
          val c = df.persist(StorageLevel.MEMORY_AND_DISK)
          val m = c.select(sum(bytesExpr).as("b"))
            .head.getAs[Any]("b") match {
              case null => 0L
              case b: Long => b
            }
          (c, m)
        }
        if (measured <= thresholdBytes) broadcast(cached) else cached
    }
  }

  /** Whether `df`'s optimized plan is a `LocalRelation`. Only a plan
    * whose leaves are all local relations is optimized to find out, so
    * the check costs a guarded distributed relation no planning.
    */
  private def driverLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation]) &&
      df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** Persist-and-memoize WITHOUT the broadcast hint: the caching half
    * of [[maybe]] for a relation a multi-pass operator re-reads
    * several times in one plan family (ExactRank's percentile probe,
    * histogram aggregates, and final joins all scan the same ranked
    * input — unpinned, each pass would recompute the whole upstream
    * chain), and for `TripleStore.fromTriples`' source, which every
    * slice derives from. Shares the same guard-kind memo (so eviction
    * unpersists), keyed by the same canonicalized plan; the sentinel
    * size keeps a later [[maybe]] on the identical plan from ever
    * broadcasting the pinned copy — conservative, never wrong.
    */
  def pin(df: DataFrame): DataFrame =
    memo(df)((df.persist(StorageLevel.MEMORY_AND_DISK), Long.MaxValue))._1

  /** Current number of memoized guard relations ([[Derived.Guard]]
    * entries).
    */
  def memoSize: Int = Derived.size(Derived.Guard)

  /** TorrentBroadcast a BOUNDED driver-side VALUE (a directive table,
    * a prefix map — things a schema-sized collect already capped) —
    * the non-DataFrame sibling of [[maybe]]. The serialized size is
    * measured and guarded here, so a value that silently outgrew its
    * caller's bound fails LOUDLY at broadcast time instead of as an
    * executor OOM or a per-task closure-shipping storm.
    */
  def boundedValue[T: scala.reflect.ClassTag](
      spark: org.apache.spark.sql.SparkSession, v: T, what: String,
      maxBytes: Long = 64L * 1024 * 1024)
      : org.apache.spark.broadcast.Broadcast[T] = {
    val bytes = {
      val bo = new java.io.ByteArrayOutputStream()
      val oo = new java.io.ObjectOutputStream(bo)
      oo.writeObject(v); oo.close()
      bo.size().toLong
    }
    require(bytes <= maxBytes,
      s"$what serializes to $bytes bytes (> $maxBytes): not a bounded " +
        "value — this belongs in a relation, not a broadcast")
    spark.sparkContext.broadcast(v)
  }
}
