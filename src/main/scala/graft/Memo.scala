package graft

import java.lang.ref.SoftReference
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import java.util.concurrent.locks.ReentrantLock

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.storage.StorageLevel

/** The engine's one memo: a keyed, optionally bounded LRU for state that is
  * built once and then served (parsed manifests, resolved reads, index
  * metadata, persisted intermediates, the query layer's entries).
  *
  * '''Hit and miss.''' A hit is one lock-free `ConcurrentHashMap.get`. A
  * miss takes the memo's ONE reentrant build lock, re-checks, builds and
  * publishes — never `computeIfAbsent`: builds nest (a build may consume
  * another entry of the same memo), and a mapping function that writes its
  * own map throws "Recursive update". A build that throws publishes
  * nothing; the next call builds again.
  *
  * '''Bound.''' Past `maxEntries` entries or `maxWeight` total `weight`, the
  * least recently used entries are dropped (never the one just published)
  * and `onDrop` runs on each — `unpersist` for a persisted frame.
  *
  * '''Versioned state''' keys on a [[graft.tx.CommitLog.Stamp]] through
  * [[stamped]]: a table with no stamp (deleted, never created, its commit
  * file racing a re-create) is a miss and is never cached, and a table
  * re-created at the same root restarts its versions under a new stamp, so
  * it never matches the old table's entries.
  *
  * '''Release.''' [[release]] drops every entry of one memo (running
  * `onDrop`); [[Memo.releaseAll]] releases every memo in the JVM. An
  * already-returned frame still recomputes from lineage.
  *
  * '''Exceptions.''' Two kinds of cache are not memos. [[BroadcastDecodeCache]]
  * runs on executors, holds soft references and parses outside its lock.
  * [[graft.queries.QueryMemo]]'s scratch roots are reaped by its one JVM
  * shutdown hook. */
class Memo[K, V](maxEntries: Int = Int.MaxValue,
    maxWeight: Long = Long.MaxValue, weight: V => Long = (_: V) => 1L,
    onDrop: V => Unit = (_: V) => ()) {
  private final class Entry(val value: V, val weight: Long) {
    @volatile var used: Long = Memo.clock.incrementAndGet()
  }

  private val entries = new ConcurrentHashMap[K, Entry]()
  private val lock = new ReentrantLock()
  private var totalWeight = 0L // guarded by lock
  private val hitCount, missCount, evictCount = new LongAdder

  Memo.all.add(this)

  def apply(key: K)(build: => V): V = {
    val hit = entries.get(key)
    if (hit != null) return served(hit)
    lock.lock()
    try {
      val again = entries.get(key)
      if (again != null) served(again)
      else {
        missCount.increment()
        val v = build
        publish(key, v)
        v
      }
    } finally lock.unlock()
  }

  /** [[apply]] under a key that may be missing: `None` builds and caches
    * nothing (counted as a miss). */
  def stamped(key: Option[K])(build: => V): V = key match {
    case Some(k) => apply(k)(build)
    case None => missCount.increment(); build
  }

  private def served(e: Entry): V = {
    e.used = Memo.clock.incrementAndGet()
    hitCount.increment()
    e.value
  }

  private def publish(key: K, v: V): Unit = {
    val e = new Entry(v, weight(v))
    Option(entries.put(key, e)).foreach(dropped)
    totalWeight += e.weight
    while (entries.size > maxEntries || totalWeight > maxWeight) {
      var eldest: java.util.Map.Entry[K, Entry] = null
      entries.entrySet().forEach { x =>
        if (x.getKey != key && (eldest == null || x.getValue.used < eldest.getValue.used))
          eldest = x
      }
      if (eldest == null) return
      entries.remove(eldest.getKey)
      evictCount.increment()
      dropped(eldest.getValue)
    }
  }

  private def dropped(e: Entry): Unit = {
    totalWeight -= e.weight
    onDrop(e.value)
  }

  /** Drop every entry whose key matches (running `onDrop`). */
  def removeIf(p: K => Boolean): Unit = {
    lock.lock()
    try {
      val it = entries.entrySet().iterator()
      while (it.hasNext) {
        val x = it.next()
        if (p(x.getKey)) { it.remove(); dropped(x.getValue) }
      }
    } finally lock.unlock()
  }

  def release(): Unit = removeIf(_ => true)

  def size: Int = entries.size
  def hits: Long = hitCount.sum
  def misses: Long = missCount.sum
  def evictions: Long = evictCount.sum
}

object Memo {
  private val clock = new AtomicLong()
  private val all = new ConcurrentLinkedQueue[Memo[_, _]]()

  /** Release every memo in the JVM — the one teardown hook of a run. */
  def releaseAll(): Unit = all.forEach(_.release())

  /** A one-entry memo of a persisted frame keyed on its canonical plan: a
    * repeated call on canonically identical inputs gets the held,
    * already-materialized frame back (no re-persist, no re-count job); a new
    * plan replaces it and the old frame is unpersisted, so repeated calls in
    * a long-lived session never accumulate cached RDDs. */
  final class Frames extends Memo[LogicalPlan, DataFrame](maxEntries = 1,
      onDrop = _.unpersist(blocking = false)) {

    /** `df` persisted (spillable) and materialized — so the consumers it
      * fans out to reuse it — or the held frame of the same plan. */
    def persist(df: DataFrame): DataFrame =
      apply(df.queryExecution.analyzed.canonicalized) {
        val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        cached.count()
        cached
      }
  }
}

/** Per-JVM decode of a broadcast's value, for executor-side expressions:
  * one decode per executor per broadcast, not per task. Not a [[Memo]]:
  *  - entries are SOFT references, so the GC can reclaim an idle decode
  *    (a 230 MB Bloom bitmap, a 50k-entry BPE rank map) under memory
  *    pressure and the next probe decodes again — strong entries would pin
  *    them for the JVM's lifetime even after their broadcasts are destroyed;
  *  - the decode runs OUTSIDE the lock, so a 130 MB parse never serializes
  *    every task's first probe behind one thread.
  *
  * Keyed by (application id, broadcast id): broadcast ids are a
  * per-SparkContext counter, so after a context restart in the same JVM a
  * fresh broadcast could collide with a stale entry. Small LRU: an executor
  * touches few distinct broadcasts per job. */
final class BroadcastDecodeCache[B, T <: AnyRef](decode: B => T) {
  private val lru = new java.util.LinkedHashMap[(String, Long), SoftReference[T]](8, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(String, Long), SoftReference[T]]): Boolean = size() > 8
  }

  def apply(bcast: Broadcast[B]): T = {
    val key = (org.apache.spark.SparkEnv.get.conf.getAppId, bcast.id)
    lru.synchronized {
      val got = lru.get(key)
      if (got != null) {
        val t = got.get()
        if (t != null) return t
        lru.remove(key): Unit // GC-cleared: decode again
      }
    }
    val t = decode(bcast.value)
    lru.synchronized {
      Option(lru.get(key)).flatMap(r => Option(r.get())) match {
        case Some(raced) => raced
        case None => lru.put(key, new SoftReference(t)): Unit; t
      }
    }
  }
}
