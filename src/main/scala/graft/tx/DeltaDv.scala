package graft.tx

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import java.util.UUID
import java.util.zip.CRC32

/** Delta deletion-vector codec (round-15 VERDICT item 5): the PUBLIC
  * Delta protocol's on-disk DV format, so the engine's positional deletes
  * can export as the `deletionVectors` table feature instead of
  * copy-on-write folding the death-carrying files — O(DV bytes) export
  * cost with zero data-file rewrites, which at 100 TB is the difference
  * between re-writing the trickle-touched terabytes per export and
  * writing kilobytes.
  *
  * Format per the Delta protocol spec ("Deletion Vectors" +
  * "Deletion Vector Descriptor Schema"):
  *
  *  - A DV FILE holds one or more vectors: a 1-byte format version (1),
  *    then per vector `[dataSize: 4-byte big-endian][bitmap: dataSize
  *    bytes][CRC-32 of bitmap: 4-byte big-endian]`; the descriptor's
  *    `offset` addresses the dataSize word, `sizeInBytes` is the bitmap
  *    length, `cardinality` the number of set bits.
  *  - The BITMAP is delta's `RoaringBitmapArray` portable serialization:
  *    magic 1681511377 (4-byte little-endian), number of 32-bit bitmaps
  *    (8-byte little-endian), then each bucket's standard 32-bit
  *    RoaringBitmap portable serialization DENSELY (bucket i covers row
  *    indexes [i·2³², (i+1)·2³²)).
  *  - The 32-bit bitmaps follow the public RoaringFormatSpec: cookie
  *    12346 (no run containers — this writer never emits them) + container
  *    count, descriptive headers (key, cardinality-1), an offset header,
  *    then array containers (≤4096 values, sorted u16 LE) or bitmap
  *    containers (8 KiB bitset as u64 LE words). The reader additionally
  *    accepts cookie 12347 with run containers — foreign writers
  *    (delta-spark) emit them.
  *  - `storageType` "u": the descriptor carries `<prefix><base85-uuid>`
  *    (RFC 1924 alphabet, 16-byte UUID → 20 chars) and the file lives at
  *    `<table>/<prefix>/deletion_vector_<uuid>.bin`; "p" is a verbatim
  *    relative path; "i" inlines the bitmap itself as base85.
  */
object DeltaDv {

  /** One parsed descriptor off an `add.deletionVector`. */
  final case class Descriptor(storageType: String, pathOrInlineDv: String,
      offset: Option[Long], sizeInBytes: Int, cardinality: Long)

  // ---------------------------------------------------------------- base85

  /** RFC 1924 Base85 alphabet — what Delta's Base85Codec uses. */
  private val B85: Array[Char] =
    ("0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz" +
      "!#$%&()*+-;<=>?@^_`{|}~").toCharArray
  private val B85Rev: Array[Int] = {
    val a = Array.fill(128)(-1)
    B85.zipWithIndex.foreach { case (c, i) => a(c.toInt) = i }
    a
  }

  /** Encode bytes (length must be a multiple of 4) as Base85: each 4-byte
    * big-endian block becomes 5 chars, most significant digit first. */
  def base85Encode(bytes: Array[Byte]): String = {
    require(bytes.length % 4 == 0,
      s"base85 payload must be 4-byte aligned, got ${bytes.length}")
    val sb = new StringBuilder(bytes.length / 4 * 5)
    var i = 0
    while (i < bytes.length) {
      var block = 0L
      var j = 0
      while (j < 4) { block = (block << 8) | (bytes(i + j) & 0xffL); j += 1 }
      val out = new Array[Char](5)
      var k = 4
      while (k >= 0) { out(k) = B85((block % 85L).toInt); block /= 85L; k -= 1 }
      sb.appendAll(out)
      i += 4
    }
    sb.toString
  }

  def base85Decode(s: String): Array[Byte] = {
    require(s.length % 5 == 0, s"base85 string length ${s.length} not 5-aligned")
    val out = new Array[Byte](s.length / 5 * 4)
    var i = 0
    while (i < s.length) {
      var block = 0L
      var j = 0
      while (j < 5) {
        val c = s.charAt(i + j)
        val v = if (c < 128) B85Rev(c.toInt) else -1
        require(v >= 0, s"invalid base85 character '$c'")
        block = block * 85L + v
        j += 1
      }
      var k = 3
      var b = block
      while (k >= 0) { out(i / 5 * 4 + k) = (b & 0xffL).toByte; b >>= 8; k -= 1 }
      i += 5
    }
    out
  }

  def encodeUuid(u: UUID): String = {
    val bb = ByteBuffer.allocate(16)
    bb.putLong(u.getMostSignificantBits)
    bb.putLong(u.getLeastSignificantBits)
    base85Encode(bb.array())
  }

  def decodeUuid(s: String): UUID = {
    val b = ByteBuffer.wrap(base85Decode(s))
    new UUID(b.getLong, b.getLong)
  }

  // ------------------------------------------------- roaring serialization

  private val SerialCookieNoRun = 12346
  private val SerialCookie = 12347
  private val NoOffsetThreshold = 4
  private val PortableMagic = 1681511377

  /** Serialize SORTED DISTINCT non-negative ints as one 32-bit roaring
    * bitmap (portable, no run containers). */
  private def serialize32(values: Array[Int]): Array[Byte] = {
    // group by high-16 key, preserve order (values sorted unsigned —
    // row indexes are non-negative so signed order == unsigned order)
    val containers = scala.collection.mutable.LinkedHashMap
      .empty[Int, scala.collection.mutable.ArrayBuffer[Int]]
    values.foreach { v =>
      containers.getOrElseUpdate(v >>> 16,
        scala.collection.mutable.ArrayBuffer.empty[Int]) += (v & 0xffff)
    }
    val n = containers.size
    val headerBytes = 8 + 4 * n + 4 * n // cookie+count, desc headers, offsets
    val bodies = containers.map { case (_, vs) =>
      if (vs.length <= 4096) {
        val bb = ByteBuffer.allocate(vs.length * 2).order(ByteOrder.LITTLE_ENDIAN)
        vs.foreach(v => bb.putShort(v.toShort))
        bb.array()
      } else {
        val words = new Array[Long](1024)
        vs.foreach(v => words(v >>> 6) |= (1L << (v & 63)))
        val bb = ByteBuffer.allocate(8192).order(ByteOrder.LITTLE_ENDIAN)
        words.foreach(bb.putLong)
        bb.array()
      }
    }.toSeq
    val total = headerBytes + bodies.map(_.length).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(SerialCookieNoRun)
    bb.putInt(n)
    containers.foreach { case (key, vs) =>
      bb.putShort(key.toShort)
      bb.putShort((vs.length - 1).toShort)
    }
    var off = headerBytes
    bodies.foreach { b => bb.putInt(off); off += b.length }
    bodies.foreach(bb.put)
    bb.array()
  }

  /** Parse one 32-bit roaring bitmap starting at the buffer's position
    * (position advances past it); emits values via `out`. */
  private def deserialize32(bb: ByteBuffer, out: Int => Unit): Unit = {
    bb.order(ByteOrder.LITTLE_ENDIAN)
    val start = bb.position()
    val cookieWord = bb.getInt
    val (n, runFlags) =
      if ((cookieWord & 0xffff) == SerialCookie) {
        val n = (cookieWord >>> 16) + 1
        val flags = new Array[Byte]((n + 7) / 8)
        bb.get(flags)
        (n, Some(flags))
      } else {
        require(cookieWord == SerialCookieNoRun,
          s"unsupported roaring cookie $cookieWord")
        (bb.getInt, None)
      }
    def hasRun(i: Int): Boolean =
      runFlags.exists(f => (f(i / 8) & (1 << (i % 8))) != 0)
    val keys = new Array[Int](n)
    val cards = new Array[Int](n)
    (0 until n).foreach { i =>
      keys(i) = bb.getShort & 0xffff
      cards(i) = (bb.getShort & 0xffff) + 1
    }
    val offsets: Option[Array[Int]] =
      if (runFlags.isEmpty || n >= NoOffsetThreshold)
        Some(Array.fill(n)(bb.getInt))
      else None
    (0 until n).foreach { i =>
      offsets.foreach(o => bb.position(start + o(i)))
      val base = keys(i) << 16
      if (hasRun(i)) {
        val numRuns = bb.getShort & 0xffff
        (0 until numRuns).foreach { _ =>
          val s = bb.getShort & 0xffff
          val len = bb.getShort & 0xffff
          (s to s + len).foreach(v => out(base | v))
        }
      } else if (cards(i) > 4096) {
        (0 until 1024).foreach { w =>
          val word = bb.getLong
          if (word != 0L) (0 until 64).foreach { bit =>
            if ((word & (1L << bit)) != 0L) out(base | (w * 64 + bit))
          }
        }
      } else {
        (0 until cards(i)).foreach(_ => out(base | (bb.getShort & 0xffff)))
      }
    }
  }

  /** Row-index set → delta RoaringBitmapArray portable bytes. */
  def serializeBitmap(rowIndexes: Array[Long]): Array[Byte] = {
    require(rowIndexes.forall(_ >= 0L), "negative row index")
    val sorted = rowIndexes.distinct.sorted
    val buckets = scala.collection.mutable.LinkedHashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[Int]]
    sorted.foreach { v =>
      buckets.getOrElseUpdate(v >>> 32,
        scala.collection.mutable.ArrayBuffer.empty[Int]) += (v & 0xffffffffL).toInt
    }
    // DENSE bucket array: delta's portable format stores bitmaps for
    // buckets 0..max contiguously (no keys); empty buckets serialize as
    // empty bitmaps
    val maxBucket = if (sorted.isEmpty) -1L else sorted.last >>> 32
    val bitmaps = (0L to maxBucket).map(k =>
      serialize32(buckets.get(k).map(_.toArray).getOrElse(Array.empty)))
    val total = 12 + bitmaps.map(_.length).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(PortableMagic)
    bb.putLong(maxBucket + 1)
    bitmaps.foreach(bb.put)
    bb.array()
  }

  def deserializeBitmap(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    require(magic == PortableMagic,
      s"unsupported deletion-vector bitmap magic $magic (expected portable " +
        s"$PortableMagic)")
    val n = bb.getLong
    require(n >= 0 && n < (1L << 16), s"implausible bitmap count $n")
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    (0L until n).foreach { bucket =>
      deserialize32(bb, v => out += ((bucket << 32) | (v & 0xffffffffL)))
    }
    out.toArray
  }

  // ----------------------------------------------------------- DV files

  /** Write ONE DV file holding a vector per input entry, in input order.
    * Returns the descriptors (storageType "u"), relative to `tableRoot`,
    * using `uuid` for the file name. */
  def writeDvFile(tableRoot: Path, uuid: UUID,
      vectors: Seq[Array[Long]]): Seq[Descriptor] = {
    val blobs = vectors.map(serializeBitmap)
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(1) // format version
    val descs = blobs.zip(vectors).map { case (blob, rows) =>
      val offset = bos.size()
      val len = ByteBuffer.allocate(4).putInt(blob.length).array()
      bos.write(len)
      bos.write(blob)
      val crc = new CRC32()
      crc.update(blob)
      bos.write(ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
      Descriptor("u", encodeUuid(uuid), Some(offset.toLong), blob.length,
        rows.distinct.length.toLong)
    }
    // a re-export of the same version derives the same uuid and must
    // atomically replace its prior identical file, not throw
    TxIO.io.replace(tableRoot.resolve(dvFileName(uuid)), bos.toByteArray,
      tmpPrefix = ".tmp-dv-")
    descs
  }

  def dvFileName(uuid: UUID): String = s"deletion_vector_$uuid.bin"

  /** Resolve a descriptor to its row-index set, verifying the CRC. */
  def readDescriptor(tableRoot: Path, d: Descriptor): Array[Long] =
    d.storageType match {
      case "i" => deserializeBitmap(base85Decode(d.pathOrInlineDv))
      case "u" | "p" =>
        val file = d.storageType match {
          case "u" =>
            // last 20 chars are the base85 uuid; anything before is an
            // optional random prefix directory
            val s = d.pathOrInlineDv
            require(s.length >= 20, s"malformed uuid DV path '$s'")
            val uuid = decodeUuid(s.takeRight(20))
            val prefix = s.dropRight(20)
            val name = dvFileName(uuid)
            if (prefix.isEmpty) tableRoot.resolve(name)
            else tableRoot.resolve(prefix).resolve(name)
          case _ =>
            val rel = DeltaPaths.decode(d.pathOrInlineDv)
            require(!rel.contains("://") && !rel.startsWith("/"),
              s"absolute/external DV path '$rel' — only table-relative " +
                "deletion vectors import")
            // resolve against the ABSOLUTE root on both sides — a caller's
            // relative table path would otherwise never startWith the
            // absolute form and every 'p' vector would refuse
            val rootAbs = tableRoot.toAbsolutePath.normalize()
            val resolved = rootAbs.resolve(rel).normalize()
            require(resolved.startsWith(rootAbs) && resolved != rootAbs,
              s"DV path '$rel' escapes the table root")
            resolved
        }
        require(Files.isRegularFile(file),
          s"deletion-vector file ${tableRoot.relativize(file)} named by " +
            "the Delta log is missing on disk")
        val bytes = Files.readAllBytes(file)
        val off = d.offset.getOrElse(1L).toInt
        require(off + 4 <= bytes.length, s"DV offset $off beyond file end")
        val bb = ByteBuffer.wrap(bytes, off, 4)
        val size = bb.getInt
        require(size == d.sizeInBytes,
          s"DV sizeInBytes ${d.sizeInBytes} disagrees with the stored " +
            s"length word $size — corrupt vector, refusing")
        require(off + 8 + size <= bytes.length, "DV data beyond file end")
        val blob = java.util.Arrays.copyOfRange(bytes, off + 4, off + 4 + size)
        val crcStored = ByteBuffer.wrap(bytes, off + 4 + size, 4).getInt
        val crc = new CRC32()
        crc.update(blob)
        require(crc.getValue.toInt == crcStored,
          "DV checksum mismatch — corrupt vector, refusing")
        val rows = deserializeBitmap(blob)
        require(rows.length.toLong == d.cardinality,
          s"DV cardinality ${d.cardinality} disagrees with the bitmap's " +
            s"${rows.length} set bits — corrupt vector, refusing")
        rows
      case other =>
        throw new IllegalArgumentException(
          s"unsupported deletionVector storageType '$other'")
    }
}
