package graft.tx

import java.nio.file.{CopyOption, OpenOption, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicLong

/** A [[TxIO]] that dies at its `crashAt`-th mutating op under `root`:
  * that op and every later one under `root` throw [[CrashingIO.Crash]]
  * without touching the disk, as a process killed there would never
  * perform them. Ops elsewhere pass through uncounted. With the default
  * `crashAt` it only counts, which is how a test learns how many crash
  * points an operation has. */
final class CrashingIO(root: Path, crashAt: Long = Long.MaxValue) extends TxIO {
  private val top = root.toAbsolutePath.normalize
  private val seen = new AtomicLong(0)
  @volatile private var dead = false

  /** Mutating ops under `root` seen so far, the fatal one included. */
  def ops: Long = seen.get
  def crashed: Boolean = dead

  private def step(p: Path): Unit =
    if (p.toAbsolutePath.normalize.startsWith(top)) {
      if (dead || seen.incrementAndGet() >= crashAt) {
        dead = true
        throw new CrashingIO.Crash(s"crash at op $crashAt ($p)")
      }
    }

  override def write(p: Path, bytes: Array[Byte], opts: OpenOption*): Unit = {
    step(p); super.write(p, bytes, opts: _*)
  }
  override def move(src: Path, dst: Path, opts: CopyOption*): Unit = {
    step(dst); super.move(src, dst, opts: _*)
  }
  override def createLink(link: Path, existing: Path): Unit = {
    step(link); super.createLink(link, existing)
  }
  override def copy(src: Path, dst: Path): Unit = { step(dst); super.copy(src, dst) }
  override def delete(p: Path): Unit = { step(p); super.delete(p) }
  override def deleteIfExists(p: Path): Boolean = { step(p); super.deleteIfExists(p) }
  override def createDirectories(p: Path): Unit = { step(p); super.createDirectories(p) }
  override def createDirectory(p: Path): Unit = { step(p); super.createDirectory(p) }
  override def setLastModifiedTime(p: Path, t: FileTime): Unit = {
    step(p); super.setLastModifiedTime(p, t)
  }
}

object CrashingIO {
  final class Crash(msg: String) extends RuntimeException(msg)

  /** Run `body` with `io` installed as the process-wide seam. */
  def installed[T](io: TxIO)(body: => T): T = {
    val original = TxIO.installed
    TxIO.installed = io
    try body finally TxIO.installed = original
  }
}
