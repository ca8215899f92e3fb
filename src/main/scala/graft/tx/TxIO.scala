package graft.tx

import java.nio.file.{CopyOption, DirectoryNotEmptyException, FileAlreadyExistsException,
  Files, NoSuchFileException, OpenOption, Path}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.nio.file.StandardOpenOption.{CREATE_NEW, WRITE}
import java.nio.file.attribute.FileTime
import java.util.UUID

import scala.jdk.CollectionConverters._

/** The commit log's one file seam: every file the engine's transaction
  * layer creates, replaces, links, moves or deletes goes through here.
  * The storage contract is the one part of the commit log that changes
  * per deployment — the reference keeps its lake on S3 and turns rename
  * safety off there (`save_to_raw_delta_dev.py:29-36` sets
  * `AWS_S3_ALLOW_UNSAFE_RENAME`, delta-rs's "I have no coordination"
  * escape hatch) — so the contract is stated once, on [[claim]], instead
  * of being implied by POSIX calls spread over the package.
  *
  * The primitives map one for one onto `java.nio.file.Files`; [[claim]],
  * [[replace]], [[deleteTree]] and [[pruneEmptyDirs]] are the idioms the
  * commit log is built from, written once over those primitives. This
  * class is the POSIX implementation. The active instance is process-wide
  * ([[TxIO.io]]): a deployment chooses one exclusivity primitive for its
  * storage, and the same table must never be committed through two at
  * once, which is why it is a seam and not a table property. */
class TxIO {

  def write(p: Path, bytes: Array[Byte], opts: OpenOption*): Unit = {
    Files.write(p, bytes, opts: _*); ()
  }
  def move(src: Path, dst: Path, opts: CopyOption*): Unit = {
    Files.move(src, dst, opts: _*); ()
  }
  def createLink(link: Path, existing: Path): Unit = {
    Files.createLink(link, existing); ()
  }
  def copy(src: Path, dst: Path): Unit = { Files.copy(src, dst); () }
  def delete(p: Path): Unit = Files.delete(p)
  def deleteIfExists(p: Path): Boolean = Files.deleteIfExists(p)
  def createDirectories(p: Path): Unit = { Files.createDirectories(p); () }
  def createDirectory(p: Path): Unit = { Files.createDirectory(p); () }
  def setLastModifiedTime(p: Path, t: FileTime): Unit = {
    Files.setLastModifiedTime(p, t); ()
  }

  /** The entries of `dir`, with the directory handle closed. */
  def list(dir: Path): Seq[Path] = {
    val st = Files.list(dir)
    try st.iterator().asScala.toList finally st.close()
  }

  /** `dir` and everything under it, parents before children, with the
    * directory handles closed. */
  def walk(dir: Path): Seq[Path] = {
    val st = Files.walk(dir)
    try st.iterator().asScala.toList finally st.close()
  }

  /** Atomically claim `target` with `bytes`, failing — never replacing —
    * when another writer claimed it first: true when this call won, false
    * when `target` already existed. The ONE storage-dependent step of the
    * commit protocol ([[CommitLog]]'s version claim, the stream start
    * anchor). Everything else — data-file writes, manifest rendering,
    * retry and re-merge — is storage-agnostic.
    *
    * CONTRACT:
    *  - on true, `target` holds exactly `bytes`, durably, and is visible to
    *    every later reader (no read-after-write anomaly on the listing that
    *    finds the latest version);
    *  - on false, `target` is untouched; the caller re-merges against the
    *    winner. First-writer-wins holds under any concurrency: two claims
    *    of one target never both return true;
    *  - a failure between the claim and the cleanup leaves at most a
    *    dot-prefixed `.tmp-` file beside `target`, which fsck reports and
    *    `fsckClean` removes.
    *
    * Implementations by storage class:
    *  - POSIX / local fs / NFSv4 (this one): the bytes go to an
    *    attempt-unique tmp, and `link(2)` claims the target — it fails
    *    with EEXIST atomically, where `rename(2)` would silently REPLACE a
    *    concurrent winner;
    *  - HDFS / ABFS / GCS: a rename without OVERWRITE gives the same
    *    guarantee natively;
    *  - S3: a conditional PUT with `If-None-Match: *` fails with 412 when
    *    the key exists, which is the lost-claim signal; before conditional
    *    PUT the standard design was an external lock table (DynamoDB, as
    *    S3A committers and delta-rs's S3DynamoDbLogStore use). S3 is
    *    strongly consistent since 2020, so the visibility clause holds
    *    without read-repair. */
  def claim(target: Path, bytes: Array[Byte]): Boolean = {
    val tmp = target.resolveSibling(s".tmp-${UUID.randomUUID()}")
    write(tmp, bytes, CREATE_NEW, WRITE)
    val won =
      try { createLink(target, tmp); true }
      catch { case _: FileAlreadyExistsException => false }
    // the link decided the outcome: a tmp that outlives a failed cleanup
    // is an fsckClean leftover, never a reason to report a durable claim
    // as failed (a caller's retry would publish twice)
    try delete(tmp) catch { case scala.util.control.NonFatal(_) => () }
    won
  }

  /** Atomically replace `target`'s content with `bytes`: an attempt-unique
    * tmp (named `tmpPrefix` + uuid, beside `target`) moved over it, so a
    * reader sees the old bytes or the new, and concurrent writers never
    * share a tmp. Last writer wins. */
  def replace(target: Path, bytes: Array[Byte], tmpPrefix: String = ".tmp-"): Unit = {
    val tmp = target.resolveSibling(s"$tmpPrefix${UUID.randomUUID()}")
    write(tmp, bytes, CREATE_NEW, WRITE)
    move(tmp, target, ATOMIC_MOVE, REPLACE_EXISTING)
  }

  /** Delete `p` and, when it is a directory, everything under it. */
  def deleteTree(p: Path): Unit =
    if (Files.isDirectory(p)) walk(p).reverse.foreach(deleteIfExists)
    else deleteIfExists(p): Unit

  /** Delete the empty directories under `root`, deepest first, sparing
    * `root` itself. A directory a concurrent writer fills (or removes)
    * first is left alone: rmdir refuses a non-empty one. */
  def pruneEmptyDirs(root: Path): Unit =
    if (Files.isDirectory(root))
      walk(root).reverse
        .filter(p => p != root && Files.isDirectory(p))
        .foreach { p =>
          try delete(p)
          catch { case _: DirectoryNotEmptyException | _: NoSuchFileException => () }
        }
}

object TxIO {
  /** The installed implementation; a test installs a fake here. */
  @volatile private[tx] var installed: TxIO = new TxIO

  def io: TxIO = installed
}
