package graft.queries

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Memo
import graft.tx.TxIO

/** The query layer's face of [[graft.Memo]]: everything a named query builds
  * once and then reuses — resolved base reads, persisted subplans, scratch
  * tables and stores — lives in ONE unbounded memo, behind three entry
  * points.
  *
  *  - [[value]]: a lazy value (a resolved `spark.read`, a sizing statistic).
  *  - [[apply]] / [[countOf]]: a frame persisted and counted once, handed
  *    back as the SAME DataFrame handle on every call, so repeat consumers
  *    skip the plan rebuild AND the persist/count handshake; the count the
  *    materialization ran is recorded for sizing consumers.
  *  - [[scratch]]: a scratch root the build fills (a commit-log table, a
  *    store, a streaming chain's sink). The memo owns the root's lifecycle:
  *    `<tmp>/graft_<name>_<sf hash>_<pid>_<seq>` — pid-unique so two JVMs
  *    never race each other's files, seq-unique so a second session (or a
  *    rebuild after [[release]]) never wipes a root a live entry still
  *    points at — wiped before the build (a dead JVM's leftover under a
  *    reused pid) and reaped by ONE shutdown hook at JVM exit.
  *
  * '''Key.''' (session, sf dir, name). A session builds each entry exactly
  * once; a second session builds its own, so session state a build sets up
  * (conf-registered catalogs, temp views, memory sinks) always belongs to
  * the session that reads it. Names are unique across the layer.
  *
  * Hits, nested builds and failed builds follow [[graft.Memo]]'s contract.
  *
  * '''Release.''' [[release]] (and [[graft.Memo.releaseAll]]) unpersists
  * every persisted frame and forgets every entry, so the next call
  * rebuilds. Scratch roots stay on disk until exit. */
object QueryMemo {
  private final case class Persisted(df: DataFrame, rows: Long)

  private val entries = new Memo[(SparkSession, String, String), Any](onDrop = {
    case Persisted(df, _) => df.unpersist(): Unit
    case _ => ()
  })
  private val roots = new ConcurrentLinkedQueue[File]()
  private val rootSeq = new AtomicLong()

  sys.addShutdownHook(roots.forEach(r => TxIO.io.deleteTree(r.toPath))): Unit

  def value[T](name: String, s: SparkSession, d: String)(build: => T): T =
    entries((s, d, name))(build).asInstanceOf[T]

  def apply(name: String, s: SparkSession, d: String)(build: => DataFrame): DataFrame =
    persistedFrame(name, s, d)(build).df

  /** Row count of a memoized frame, recorded at its materialization: sizing
    * consumers (Bloom capacity from the distinct-shingle count) never
    * re-count the cached frame. */
  def countOf(name: String, s: SparkSession, d: String)(build: => DataFrame): Long =
    persistedFrame(name, s, d)(build).rows

  private def persistedFrame(name: String, s: SparkSession, d: String)(
      build: => DataFrame): Persisted =
    value(name, s, d) {
      val df = build.persist()
      // materialize before fan-out: concurrent broadcast + shuffle consumers
      // of an unmaterialized cache would each recompute
      Persisted(df, df.count())
    }

  /** The entry `build` makes in a fresh scratch root (passed as its path). */
  def scratch[T](name: String, s: SparkSession, d: String)(build: String => T): T =
    value(name, s, d) {
      val root = new File(System.getProperty("java.io.tmpdir"),
        s"graft_${name}_${Integer.toHexString(d.hashCode)}_" +
          s"${ProcessHandle.current().pid()}_${rootSeq.incrementAndGet()}")
      TxIO.io.deleteTree(root.toPath)
      roots.add(root)
      build(root.getPath)
    }

  def release(): Unit = entries.release()
}
