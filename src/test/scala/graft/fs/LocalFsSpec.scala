package graft.fs

import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.NativeCodeLoader

/** The deployment session's `file:` classes: the same bits and files as
  * stock `LocalFileSystem`/`LocalFs`, no process started, symlinks still
  * reported. Runs in the test JVM after the harness session has looked up
  * `file:` with the stock class. */
class LocalFsSpec extends SparkSpec {
  private val root = URI.create("file:///")

  /** A Hadoop conf carrying the builder's `file:` keys. */
  private def builderConf: Configuration = {
    val c = new Configuration()
    graft.fs.LocalFs.hadoopKeys.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def fsOps(fs: FileSystem, base: NioPath): Unit = {
    val b = new Path(base.toUri)
    assert(fs.mkdirs(new Path(b, "a/b/c")))
    val out = fs.create(new Path(b, "a/b/c/f"))
    try out.write(Array.fill[Byte](100)(7)) finally out.close()
    assert(fs.rename(new Path(b, "a/b/c/f"), new Path(b, "a/g")))
  }

  private def fcOps(fc: FileContext, base: NioPath): Unit = {
    val b = new Path(base.toUri)
    fc.mkdir(new Path(b, "d/e"), FsPermission.getDirDefault, true)
    val out = fc.create(new Path(b, "d/e/f"), EnumSet.of(CreateFlag.CREATE))
    try out.write(Array.fill[Byte](100)(7)) finally out.close()
    fc.rename(new Path(b, "d/e/f"), new Path(b, "d/g"), Options.Rename.OVERWRITE)
  }

  /** Every entry under `base` (relative path) with its permission bits. */
  private def tree(base: NioPath): Map[String, String] =
    Files.walk(base).iterator().asScala.filter(_ != base).map { p =>
      base.relativize(p).toString ->
        PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    }.toMap

  /** The commands of the processes this thread started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile(tmpPath("graft_fs_jfr"), "procs", ".jfr")
    try rec.dump(dump) finally rec.close()
    val me = Thread.currentThread.getId
    RecordingFile.readAllEvents(dump).asScala.toSeq
      .filter(e => e.getThread != null && e.getThread.getJavaThreadId == me)
      .map(_.getString("command"))
  }

  test("the builder's keys give the fork-free classes although the harness " +
      "session pinned the stock class in the FileSystem cache") {
    val pinned = FileSystem.get(root, spark.sparkContext.hadoopConfiguration)
    assert(pinned.isInstanceOf[LocalFileSystem] && !pinned.isInstanceOf[NioLocalFileSystem])
    assert(FileSystem.get(root, builderConf).getClass === classOf[NioLocalFileSystem])
    assert(FileSystem.get(root, graft.fs.LocalFs.conf).getClass ===
      classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(root, builderConf).getDefaultFileSystem
      .getClass === classOf[NioLocalFs])
  }

  test("FileSystem path: create, nested mkdirs and rename give stock's bits " +
      "and .crc files without starting a process") {
    val stock = new LocalFileSystem()
    stock.initialize(root, new Configuration())
    val (stockDir, ourDir) = (tmpPath("graft_fs_stock"), tmpPath("graft_fs_nio"))
    val stockProcs = processStarts(fsOps(stock, stockDir))
    val ourProcs = processStarts(fsOps(FileSystem.get(root, builderConf), ourDir))
    assert(ourProcs.isEmpty, ourProcs)
    if (!NativeCodeLoader.isNativeCodeLoaded) assert(stockProcs.nonEmpty)
    assert(tree(ourDir) === tree(stockDir))
    assert(tree(ourDir).keySet === Set("a", "a/b", "a/b/c", "a/g", "a/.g.crc"))
    // the checksummed layer wrote the same checksum sidecar
    assert(Files.readAllBytes(ourDir.resolve("a/.g.crc")).sameElements(
      Files.readAllBytes(stockDir.resolve("a/.g.crc"))))
  }

  test("FileContext path: mkdir, create and rename give stock's bits and " +
      ".crc files without starting a process") {
    val stock = FileContext.getFileContext(root, new Configuration())
    assert(stock.getDefaultFileSystem.isInstanceOf[LocalFs])
    val (stockDir, ourDir) = (tmpPath("graft_fc_stock"), tmpPath("graft_fc_nio"))
    val stockProcs = processStarts(fcOps(stock, stockDir))
    val ourProcs = processStarts(fcOps(FileContext.getFileContext(root, builderConf), ourDir))
    assert(ourProcs.isEmpty, ourProcs)
    if (!NativeCodeLoader.isNativeCodeLoaded) assert(stockProcs.nonEmpty)
    assert(tree(ourDir) === tree(stockDir))
    assert(tree(ourDir).keySet === Set("d", "d/e", "d/g", "d/.g.crc"))
  }

  test("a symlink reports isSymlink as it does on stock, through both APIs") {
    val dir = tmpPath("graft_fs_link")
    val target = Files.write(dir.resolve("target"), Array[Byte](1))
    val link = Files.createSymbolicLink(dir.resolve("link"), target)
    val stockFs = new LocalFileSystem()
    stockFs.initialize(root, new Configuration())
    val stockFc = FileContext.getFileContext(root, new Configuration())
    val (fs, fc) = (FileSystem.get(root, builderConf), FileContext.getFileContext(root, builderConf))
    Seq(link, target).foreach { p =>
      val (plain, qualified) = (new Path(p.toString), new Path(p.toUri))
      Seq(plain, qualified).foreach { hp =>
        assert(fs.getFileLinkStatus(hp).isSymlink === stockFs.getFileLinkStatus(hp).isSymlink, hp)
        assert(fc.getFileLinkStatus(hp).isSymlink === stockFc.getFileLinkStatus(hp).isSymlink, hp)
      }
    }
    assert(fs.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(fc.getFileLinkStatus(new Path(link.toString)).isSymlink)
  }
}
