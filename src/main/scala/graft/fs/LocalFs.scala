package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system without the process forks. Without a
  * native libhadoop, stock `RawLocalFileSystem` runs `chmod` for every file,
  * `.crc` sidecar and directory it creates, and `readlink` on every
  * link-status probe (each `FileContext` rename makes several) — 10.9 ms per
  * created file against 0.13 ms through `java.nio` on a 4-core x86 VM.
  * Here both go through `java.nio` and set or report exactly what stock
  * does; the sticky bit and real symlinks still take the stock path. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // PosixFilePermission's order is OWNER_READ … OTHERS_EXECUTE: mode bits 8 … 0
      val bits = permission.toShort & 0x1ff
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values.zipWithIndex.foreach { case (pp, i) =>
        if ((bits & (0x100 >> i)) != 0) perms.add(pp)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms): Unit
    }

  // stock answers a non-link with getFileStatus too, after forking readlink
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `file:` for the `FileSystem` API: stock `LocalFileSystem` (checksummed —
  * `.crc` sidecars written and verified) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `file:` for the `FileContext` API (Structured Streaming's checkpoint
  * manager): stock `LocalFs` — checksummed — over [[NioRawLocalFileSystem]]. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Stock `RawLocalFs` over [[NioRawLocalFileSystem]]. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

object LocalFs {

  /** The Hadoop keys that make `file:` the fork-free classes above for both
    * APIs. `FileSystem.get` caches one `file:` instance per JVM, whatever
    * the conf of a later lookup says, so the cache is off for these confs:
    * an uncached `file:` lookup costs ~20 µs on a 4-core x86 VM. */
  val hadoopKeys: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** One driver-side Hadoop conf for footer reads and other direct Hadoop
    * calls, carrying [[hadoopKeys]]; building a `Configuration` re-parses
    * `core-default.xml` (~4–5 ms warm on a 4-core x86 VM). Shared, so
    * never mutate it: copy it with `new Configuration(conf)` to change a
    * key. */
  lazy val conf: Configuration = {
    val c = new Configuration()
    hadoopKeys.foreach { case (k, v) => c.set(k, v) }
    c
  }
}
