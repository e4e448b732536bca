package graft.operators

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** The one in-session memo for shared relations: a relation (or a small
  * collected result) that several graded queries derive from the same
  * input is built once per session and served to every consumer, and
  * `graft.Prewarm.sessionTier` warms each entry by calling its builder.
  *
  * One entry per key. Keys are caller-authored. A key either embeds the sf
  * dir, so a dir switch self-invalidates, or its value records the dir it
  * was built for and the caller re-checks it, as [[graft.SqlViews]]'
  * `views` entry does (one entry per session, since its view names are).
  * The owning session is held weakly:
  *
  *  - every lookup first sweeps entries whose session is collected or
  *    stopped, releasing the checkpoint blocks they pin;
  *  - an entry owned by a different live session is rebuilt for the
  *    caller (the entry then belongs to the caller);
  *  - `build` is by-name, so on a hit its input is never built.
  *
  * Keys, not sessions, are the map keys: a memoized DataFrame references
  * its session, so a session-keyed `WeakHashMap` would never release its
  * entries. Here a key holds one entry, so an abandoned session's entry
  * goes when another session rebuilds the key or the context stops.
  *
  * Builds nest (the conformal global rank builds the residual relation,
  * which builds the per-order features), so a build runs outside the
  * map, under a per-key lock: a nested `ConcurrentHashMap.compute` on one
  * map throws "Recursive update" whenever two nested keys share a bin.
  */
private[graft] object SessionMemo {

  private final case class Entry(session: WeakReference[SparkSession], value: AnyRef)

  private val entries = new ConcurrentHashMap[String, Entry]()
  private val locks = new ConcurrentHashMap[String, Object]()

  def apply[T <: AnyRef](s: SparkSession, key: String)(build: => T): T = {
    entries.entrySet.removeIf { e =>
      val sess = e.getValue.session.get()
      sess == null || sess.sparkContext.isStopped
    }
    def owned: Option[T] = Option(entries.get(key))
      .collect { case e if e.session.get() eq s => e.value.asInstanceOf[T] }
    owned.getOrElse {
      locks.computeIfAbsent(key, _ => new Object).synchronized {
        owned.getOrElse {
          val v = build
          entries.put(key, Entry(new WeakReference(s), v))
          v
        }
      }
    }
  }

  /** The keys currently memoized, for any session. */
  def keys: Set[String] = {
    import scala.jdk.CollectionConverters._
    entries.keySet.asScala.toSet
  }
}
