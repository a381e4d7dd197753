package graft.scale

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** An LRU of values derived from a session's inputs, keyed by
  * (session, kind, key), with one entry cap per kind: an insert past
  * its kind's cap evicts that kind's least-recently-used entry, so
  * churn in one kind never displaces another kind's entry. A hit
  * refreshes the entry. An evicted or cleared value goes to [[release]];
  * a NonFatal error there is swallowed, a fatal one propagates.
  */
class Derived private[graft] (cap: Derived.Kind => Int) {
  private val entries =
    scala.collection.mutable.LinkedHashMap.empty[(SparkSession, Derived.Kind, Any), Any]

  def apply[V](spark: SparkSession, kind: Derived.Kind, key: Any)(build: => V): V =
    synchronized {
      val k = (spark, kind, key)
      entries.remove(k) match {
        case Some(v) =>
          entries.put(k, v) // re-insert at the tail: LRU refresh on hit
          v.asInstanceOf[V]
        case None =>
          val v = build
          entries.put(k, v)
          while (size(kind) > cap(kind)) {
            val (oldest, old) = entries.find(_._1._2 == kind).get
            entries.remove(oldest)
            drop(old)
          }
          v
      }
    }

  def size(kind: Derived.Kind): Int = synchronized(entries.keysIterator.count(_._2 == kind))

  /** Evict and release every entry: the one clear hook. */
  def clear(): Unit = synchronized {
    val all = entries.values.toSeq
    entries.clear()
    all.foreach(drop)
  }

  protected def release(v: Any): Unit = ()

  private def drop(v: Any): Unit = try release(v) catch { case NonFatal(_) => () }
}

/** The one memo for derived state: analyzed table plans, persisted
  * guard relations, and the per-dataset artifacts the query modules
  * build once and reuse. The callers keep their own keys and build
  * code; the caching policy is the three caps below. A relation that
  * lives for one loop round does not belong here.
  *
  * One release rule, chosen by the value's type, frees an evicted
  * value: a Dataset or GraphX graph is unpersisted, a triple store
  * releases its dictionary (persist and checkpoint blocks — the store
  * owns it), a tuple releases each element, and driver-side values
  * (trained tables, merge lists) need nothing.
  */
object Derived extends Derived(_.cap) {

  sealed abstract class Kind(val cap: Int)

  /** Analyzed plans of corpus tables (`Tables.t`); a sweep reads each once per dir. */
  case object Plan extends Kind(3 * graft.Tables.names.size)

  /** Plan-keyed persisted relations of `GuardedBroadcast.maybe`/`pin`. */
  case object Guard extends Kind(48)

  /** The query modules' per-dataset stores, relations, graphs and models. */
  case object Dataset extends Kind(46)

  override protected def release(v: Any): Unit = v match {
    case ds: org.apache.spark.sql.Dataset[_] => ds.unpersist(blocking = false)
    case g: org.apache.spark.graphx.Graph[_, _] => g.unpersist(blocking = false)
    case st: graft.bgp.TripleStore => st.dict.foreach { d =>
      d.unpersist(blocking = false)
      graft.bgp.TripleStore.releaseCheckpoints(d)
    }
    case t: Product if t.productPrefix.startsWith("Tuple") =>
      t.productIterator.foreach(release)
    case _ => ()
  }
}
