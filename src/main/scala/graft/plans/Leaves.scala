package graft.plans

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{Dataset, SparkSession}

/** The one registry of session-shared leaves: every frame that several
  * queries of one session share (the KG triple/edge/enriched/metrics/corpus/
  * co-occurrence leaves, the dedup LSH leaves, the similarity top-k tables)
  * is built through [[leaf]], which records the free hook that undoes it,
  * and [[releaseAll]] frees them all.
  *
  *  - Keys are (name, SparkSession REFERENCE, sf dir): a leaf is bound to the
  *    session that built it, so a restarted session rebuilds instead of
  *    receiving frames that fail at execution (SparkSession does not override
  *    equals, so case-class equality is reference equality).
  *  - The map only ever inserts an UNBUILT entry; the build runs under that
  *    entry's own lock, outside `computeIfAbsent`. So it runs at most once per
  *    key across threads, and a builder may request another leaf (edges →
  *    triples, verified pairs → band pairs → prologue) without touching a map
  *    bin that is mid-insert. Leaf dependencies must stay acyclic.
  *  - The build thunk is the current caller's and is never stored: after a
  *    build that throws, the entry stays unbuilt and the next caller builds
  *    with its own thunk.
  *  - Entries of stopped sessions are dropped on access, after their free
  *    hook runs, so a dead session's object graph is not pinned for the life
  *    of the JVM.
  */
object Leaves {

  private final case class Key(name: String, session: SparkSession, dir: String)

  /** One leaf slot: `built` holds the value and its free hook once built;
    * `dead` marks a released slot, so a caller that fetched the entry before
    * the release retries on a fresh one instead of building into a detached
    * slot.
    */
  private final class Entry {
    var built: Option[(Any, () => Unit)] = None
    var dead = false

    def release(): Unit = synchronized {
      dead = true
      val b = built
      built = None
      b.foreach(_._2())
    }
  }

  private val map = new ConcurrentHashMap[Key, Entry]()

  /** The leaf `name` of (session, sfDir), built by `build` on first use;
    * `free` undoes the build on [[releaseAll]].
    */
  def leaf[V](name: String, session: SparkSession, sfDir: String)(build: => V)(
      free: V => Unit): V = {
    purgeStopped()
    val e = map.computeIfAbsent(Key(name, session, sfDir), _ => new Entry)
    val got = e.synchronized {
      if (e.dead) None
      else {
        if (e.built.isEmpty) {
          val v = build
          e.built = Some((v, () => free(v)))
        }
        e.built.map(_._1.asInstanceOf[V])
      }
    }
    got.getOrElse(leaf(name, session, sfDir)(build)(free))
  }

  /** A [[leaf]] frame freed by [[Caches.free]]. */
  def frame[T](name: String, session: SparkSession, sfDir: String)(
      build: => Dataset[T]): Dataset[T] =
    leaf(name, session, sfDir)(build)(Caches.free(_))

  /** Free every built leaf, each exactly once (bench/verify hygiene). Call
    * only after every consumer of the leaves has finished.
    */
  def releaseAll(): Unit = map.forEach { (k, e) =>
    if (map.remove(k, e)) e.release()
  }

  private def purgeStopped(): Unit = map.forEach { (k, e) =>
    if (k.session.sparkContext.isStopped && map.remove(k, e))
      try e.release() catch { case scala.util.control.NonFatal(_) => () }
  }
}
