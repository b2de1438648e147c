package graft.ops

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap

/** A process-wide memo of a shared fixture build (Graph's co-purchase
  * edge frame, BpeTokenizer's learned merges, SnapshotCycle's committed
  * tables) that counts what it does: a lookup that runs the build is a
  * build, one served from the map is a hit. Every memo registers in the
  * companion, so Bench labels each first-pass query from how the summed
  * counts moved while it ran (`memo_paid` on a build, `memo_hit` on hits
  * alone) and clears them all before a memo-honest re-measure. `onDrop`
  * releases a value's resources when it leaves the memo. */
final class FixtureMemo[K, V](onDrop: V => Unit) {
  private val map = TrieMap.empty[K, V]
  private val hits = new AtomicLong
  private val builds = new AtomicLong
  FixtureMemo.all.add(this)

  def apply(k: K)(build: => V): V = {
    var built = false
    val v = map.getOrElseUpdate(k, { built = true; build })
    (if (built) builds else hits).incrementAndGet()
    v
  }

  /** Drop the entries `p` selects. */
  def evict(p: (K, V) => Boolean): Unit =
    map.foreach { case (k, v) => if (p(k, v) && map.remove(k, v)) onDrop(v) }

  def clear(): Unit = evict((_, _) => true)
}

object FixtureMemo {
  private val all = new java.util.concurrent.CopyOnWriteArrayList[FixtureMemo[_, _]]()

  private def memos: Seq[FixtureMemo[_, _]] = all.toArray(Array.empty[FixtureMemo[_, _]]).toSeq

  /** (hits, builds) summed over every memo. */
  def counts: (Long, Long) = (memos.map(_.hits.get).sum, memos.map(_.builds.get).sum)

  def clearAll(): Unit = memos.foreach(_.clear())
}
