package graft.queries

import scala.collection.concurrent.TrieMap

/** A process-wide memo that builds each key's value at most once.
  *
  * `memo(key)(build)` returns the value for `key`, running `build` only
  * if no caller has claimed the key yet. `putIfAbsent` of a lazy holder
  * picks one winner per key; every other caller blocks on the holder's
  * lazy val until the winner's build lands, so destructive builds (wipe
  * a root, copy a layout, stream into it) never race each other. A build
  * that throws leaves the key unclaimed, so the next call retries it.
  *
  * Entries never auto-evict: the engine's memos are keyed by
  * (session, source dir) over immutable sf dirs. A long-lived session
  * whose source data changes calls [[Memo.clearAll]], which runs every
  * memo's release on its built values (unpersist for persisted frames)
  * and empties it; the next touch rebuilds (and rewrites any on-disk
  * layout the value names). */
final class Memo[K, V] private (release: V => Unit) {

  private val cells = TrieMap.empty[K, Memo.Cell[V]]

  def apply(key: K)(build: => V): V = {
    val fresh = new Memo.Cell(() => build)
    val cell = cells.putIfAbsent(key, fresh).getOrElse(fresh)
    try cell.value
    catch { case e: Throwable => cells.remove(key, cell); throw e }
  }

  /** Install `value` for `key`, replacing any entry. */
  def put(key: K, value: V): Unit = {
    val cell = new Memo.Cell(() => value)
    cell.value
    cells.put(key, cell)
    ()
  }

  /** Drop `key`; returns its value if it had been built. */
  def remove(key: K): Option[V] = cells.remove(key).flatMap(_.built)

  def keys: Iterable[K] = cells.keys

  def size: Int = cells.size

  /** Release every built value, then forget every key. */
  def clear(): Unit = {
    cells.values.flatMap(_.built).foreach(release)
    cells.clear()
  }
}

object Memo {

  private final class Cell[V](build: () => V) {
    @volatile private var done = false
    lazy val value: V = { val v = build(); done = true; v }
    def built: Option[V] = if (done) Some(value) else None
  }

  private val all = new java.util.concurrent.ConcurrentLinkedQueue[Memo[_, _]]

  /** A memo whose values hold nothing to release. */
  def apply[K, V](): Memo[K, V] = withRelease[K, V](_ => ())

  /** A memo that runs `release` on each built value it drops. */
  def withRelease[K, V](release: V => Unit): Memo[K, V] = {
    val m = new Memo[K, V](release)
    all.add(m)
    m
  }

  /** Release and empty every memo in the process. */
  def clearAll(): Unit = all.forEach(_.clear())

  /** Every memo created so far. */
  private[graft] def registered: Seq[Memo[_, _]] = {
    import scala.jdk.CollectionConverters._
    all.asScala.toSeq
  }
}
