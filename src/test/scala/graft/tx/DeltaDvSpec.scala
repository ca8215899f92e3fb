package graft.tx

import java.nio.file.Files
import java.util.UUID

import org.scalatest.funsuite.AnyFunSuite

/** The Delta deletion-vector codec alone (no Spark): bitmap round-trips
  * across every container shape, base85/uuid encoding, file layout with
  * CRC verification, and corruption refusals. */
class DeltaDvSpec extends AnyFunSuite {

  test("base85 round-trips and the uuid form is 20 chars") {
    val u = UUID.fromString("01234567-89ab-cdef-0123-456789abcdef")
    val enc = DeltaDv.encodeUuid(u)
    assert(enc.length === 20)
    assert(DeltaDv.decodeUuid(enc) === u)
    // arbitrary 4-aligned payloads round-trip too
    val payload = Array.tabulate(32)(i => (i * 37 - 128).toByte)
    assert(DeltaDv.base85Decode(DeltaDv.base85Encode(payload)).toSeq
      === payload.toSeq)
  }

  test("bitmap round-trips: array containers, bitmap containers (>4096 " +
      "per 64k block), multiple containers, cross-2^32 buckets, empty") {
    def rt(rows: Array[Long]): Unit = {
      val got = DeltaDv.deserializeBitmap(DeltaDv.serializeBitmap(rows))
      assert(got.toSeq === rows.distinct.sorted.toSeq, s"n=${rows.length}")
    }
    rt(Array.empty[Long])
    rt(Array(0L))
    rt(Array(1L, 5L, 42L, 65535L)) // one array container
    rt(Array.tabulate(5000)(i => i.toLong * 3)) // spans blocks, one >4096? no
    rt(Array.tabulate(6000)(i => i.toLong)) // 6000 dense in block 0: bitmap container
    rt(Array.tabulate(10000)(i => i.toLong * 7)) // multiple containers mixed
    rt(Array(3L, 70000L, 1000000L, (1L << 33) + 5L, (1L << 33) + 9L)) // 2 buckets
    // duplicate + unsorted input normalizes
    rt(Array(9L, 3L, 9L, 1L))
  }

  test("run-container READ path (foreign writers emit them)") {
    // hand-build a 32-bit roaring serialization with one run container:
    // cookie 12347, count 1, run flag set, numRuns 1, run [10, 14]
    val bb = java.nio.ByteBuffer.allocate(64)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(12347 | (0 << 16)) // count-1 = 0 in upper bits
    bb.put(1.toByte) // run flag bitset: container 0 is a run
    bb.putShort(0.toShort) // key
    bb.putShort(4.toShort) // cardinality-1 = 4
    // count < NO_OFFSET_THRESHOLD → no offset header
    bb.putShort(1.toShort) // numRuns
    bb.putShort(10.toShort) // run start
    bb.putShort(4.toShort) // run length-1
    val roaring32 = java.util.Arrays.copyOf(bb.array(), bb.position())
    val wrapped = java.nio.ByteBuffer
      .allocate(12 + roaring32.length).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    wrapped.putInt(1681511377)
    wrapped.putLong(1L)
    wrapped.put(roaring32)
    assert(DeltaDv.deserializeBitmap(wrapped.array()).toSeq
      === Seq(10L, 11L, 12L, 13L, 14L))
  }

  test("DV file: multiple vectors pack into one file; descriptors " +
      "round-trip; CRC and cardinality corruption refuse") {
    val root = graft.SparkSpec.tmpPath("graft_dv")
    val uuid = UUID.randomUUID()
    val v1 = Array(1L, 3L, 5L)
    val v2 = Array.tabulate(7000)(_.toLong)
    val descs = DeltaDv.writeDvFile(root, uuid, Seq(v1, v2))
    assert(descs.length === 2)
    assert(descs.forall(_.storageType === "u"))
    assert(descs(0).cardinality === 3L && descs(1).cardinality === 7000L)
    assert(Files.isRegularFile(root.resolve(DeltaDv.dvFileName(uuid))))
    assert(DeltaDv.readDescriptor(root, descs(0)).toSeq === v1.toSeq)
    assert(DeltaDv.readDescriptor(root, descs(1)).toSeq === v2.toSeq)
    // a flipped bitmap byte fails the CRC check loudly
    val f = root.resolve(DeltaDv.dvFileName(uuid))
    val bytes = Files.readAllBytes(f)
    val off = descs(0).offset.get.toInt
    bytes(off + 6) = (bytes(off + 6) ^ 0x41).toByte
    Files.write(f, bytes)
    val e = intercept[IllegalArgumentException](
      DeltaDv.readDescriptor(root, descs(0)))
    assert(e.getMessage.contains("checksum") ||
      e.getMessage.contains("corrupt"), e.getMessage)
    // descriptor cardinality lies → refuse
    Files.write(f, {
      bytes(off + 6) = (bytes(off + 6) ^ 0x41).toByte; bytes
    }) // restore
    val lied = descs(1).copy(cardinality = 9L)
    val e2 = intercept[IllegalArgumentException](
      DeltaDv.readDescriptor(root, lied))
    assert(e2.getMessage.contains("cardinality"), e2.getMessage)
  }

  test("storageType p resolves table-relative paths from a RELATIVE root " +
      "too, and refuses escapes") {
    val abs = graft.SparkSpec.tmpPath("graft_dvp")
    val rel = java.nio.file.Paths.get("").toAbsolutePath.relativize(abs)
    val uuid = UUID.randomUUID()
    val rows = Array(1L, 2L)
    val d0 = DeltaDv.writeDvFile(abs, uuid, Seq(rows)).head
    val p = d0.copy(storageType = "p",
      pathOrInlineDv = DeltaDv.dvFileName(uuid))
    assert(DeltaDv.readDescriptor(abs, p).toSeq === rows.toSeq)
    // the same table addressed RELATIVELY must resolve identically
    assert(DeltaDv.readDescriptor(rel, p).toSeq === rows.toSeq)
    val e = intercept[IllegalArgumentException](DeltaDv.readDescriptor(abs,
      p.copy(pathOrInlineDv = "../outside.bin")))
    assert(e.getMessage.contains("escapes"), e.getMessage)
  }

  test("writeDvFile is idempotent: re-writing the same uuid atomically " +
      "replaces the prior file") {
    val root = graft.SparkSpec.tmpPath("graft_dvw")
    val uuid = UUID.randomUUID()
    val d1 = DeltaDv.writeDvFile(root, uuid, Seq(Array(1L, 2L))).head
    val d2 = DeltaDv.writeDvFile(root, uuid, Seq(Array(1L, 2L, 3L))).head
    assert(DeltaDv.readDescriptor(root, d2).toSeq === Seq(1L, 2L, 3L))
    assert(d1.pathOrInlineDv === d2.pathOrInlineDv)
  }

  test("inline (storageType i) descriptors decode without any file") {
    val rows = Array(2L, 4L, 8L)
    val inline = DeltaDv.Descriptor("i",
      DeltaDv.base85Encode(pad4(DeltaDv.serializeBitmap(rows))),
      None, 0, 3L)
    // inline payloads are base85 of the raw bitmap (4-aligned already:
    // magic+count+cookie words keep it aligned for array containers of
    // even cardinality; this fixture is)
    assert(DeltaDv.readDescriptor(graft.SparkSpec.tmpPath("x"), inline).toSeq
      === rows.toSeq)
  }

  private def pad4(b: Array[Byte]): Array[Byte] =
    if (b.length % 4 == 0) b else java.util.Arrays.copyOf(b, (b.length / 4 + 1) * 4)
}
