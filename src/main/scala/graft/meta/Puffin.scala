package graft.meta

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.zip.CRC32

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Puffin statistics/index file container (public Puffin spec; the
  * reference stores only the *pointers* — manifest fields 143-145,
  * `internal/avro_schemas.go:501-512` — and never reads the container, so
  * this read/write path goes beyond it).
  *
  * Layout: `Magic, blob*, Magic, footer-payload(JSON), payload-size(int4 LE),
  * flags(int4), Magic`. We write uncompressed payloads (flags = 0).
  *
  * The `deletion-vector-v1` blob (Iceberg v3 spec): a 4-byte big-endian
  * length of (magic + vector), the magic bytes D1 D3 39 64, a 64-bit
  * roaring bitmap in the portable format, and a big-endian CRC-32 of
  * (magic + vector).
  */
object Puffin {
  private val Magic = Array[Byte](0x50, 0x46, 0x41, 0x31) // "PFA1"
  private val DvMagic = Array[Byte](0xD1.toByte, 0xD3.toByte, 0x39, 0x64)
  private def conf = FileIO.conf

  final case class BlobDescriptor(
      blobType: String,
      fields: Seq[Int],
      snapshotId: Long,
      sequenceNumber: Long,
      offset: Long,
      length: Long,
      properties: Map[String, String])

  /** Serialize one deletion vector as a `deletion-vector-v1` blob body. */
  def encodeDV(positions: Roaring64NavigableMap): Array[Byte] = {
    positions.runOptimize()
    val bmBytes = {
      val bos = new ByteArrayOutputStream()
      positions.serializePortable(new DataOutputStream(bos))
      bos.toByteArray
    }
    val crc = new CRC32()
    crc.update(DvMagic)
    crc.update(bmBytes)
    val out = ByteBuffer.allocate(4 + 4 + bmBytes.length + 4)
    out.putInt(4 + bmBytes.length) // big-endian length of magic + vector
    out.put(DvMagic)
    out.put(bmBytes)
    out.putInt(crc.getValue.toInt)
    out.array()
  }

  def decodeDV(blob: Array[Byte]): Roaring64NavigableMap = {
    val buf = ByteBuffer.wrap(blob)
    val len = buf.getInt
    require(len >= 4 && len <= blob.length - 8, s"corrupt DV blob: length $len")
    val magic = new Array[Byte](4)
    buf.get(magic)
    require(java.util.Arrays.equals(magic, DvMagic), "corrupt DV blob: bad magic")
    val bmBytes = new Array[Byte](len - 4)
    buf.get(bmBytes)
    val expectedCrc = buf.getInt
    val crc = new CRC32()
    crc.update(DvMagic)
    crc.update(bmBytes)
    require(crc.getValue.toInt == expectedCrc, "corrupt DV blob: CRC mismatch")
    val bm = new Roaring64NavigableMap()
    bm.deserializePortable(
      new java.io.DataInputStream(new java.io.ByteArrayInputStream(bmBytes)))
    bm
  }

  /** Write a Puffin file; returns the descriptors with final offsets plus
    * the footer size in bytes (footer magic + payload + size + flags +
    * trailing magic — what `StatisticsFile.fileFooterSizeInBytes` records).
    * The file's length is the last blob's end plus that footer size.
    */
  def write(path: String,
      blobs: Seq[(BlobDescriptor, Array[Byte])]): (Seq[BlobDescriptor], Long) = {
    val out = FileIO.create(path)
    // try/finally: a mid-write failure must release the stream (an open
    // lease on HDFS-like systems can make the partial file undeletable
    // until expiry, and executor-side DV shard retries would accumulate
    // leaked streams in long-lived executors)
    try {
      out.write(Magic)
      var offset = 4L
      val placed = blobs.map { case (d, bytes) =>
        out.write(bytes)
        val withOffset = d.copy(offset = offset, length = bytes.length.toLong)
        offset += bytes.length
        withOffset
      }
      val payload = footerJson(placed).getBytes(StandardCharsets.UTF_8)
      out.write(Magic)
      out.write(payload)
      val tail = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      tail.putInt(payload.length)
      tail.putInt(0) // flags: uncompressed footer
      out.write(tail.array())
      out.write(Magic)
      (placed, 4L + payload.length + 8L + 4L)
    } finally out.close()
  }

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def footerJson(blobs: Seq[BlobDescriptor]): String =
    blobs.map { b =>
      val props = b.properties.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
      s"""{"type":"${esc(b.blobType)}","fields":[${b.fields.mkString(",")}],""" +
        s""""snapshot-id":${b.snapshotId},"sequence-number":${b.sequenceNumber},""" +
        s""""offset":${b.offset},"length":${b.length},"properties":$props}"""
    }.mkString("""{"blobs":[""", ",", "]}")

  /** Read the footer's blob descriptors. */
  def readFooter(path: String): Seq[BlobDescriptor] = {
    val fs = FileSystem.get(new java.net.URI(path), conf)
    val len = fs.getFileStatus(new Path(path)).getLen
    val in = fs.open(new Path(path))
    try {
      val tail = new Array[Byte](12)
      in.readFully(len - 12, tail)
      val buf = ByteBuffer.wrap(tail).order(ByteOrder.LITTLE_ENDIAN)
      val payloadSize = buf.getInt
      require(java.util.Arrays.equals(tail.slice(8, 12), Magic), "not a puffin file")
      val payload = new Array[Byte](payloadSize)
      in.readFully(len - 12 - payloadSize, payload)
      parseFooter(new String(payload, StandardCharsets.UTF_8))
    } finally in.close()
  }

  def readBlob(path: String, offset: Long, length: Long): Array[Byte] = {
    val fs = FileSystem.get(new java.net.URI(path), conf)
    val in = fs.open(new Path(path))
    try {
      val bytes = new Array[Byte](length.toInt)
      in.readFully(offset, bytes)
      bytes
    } finally in.close()
  }

  private def parseFooter(json: String): Seq[BlobDescriptor] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    val out = Seq.newBuilder[BlobDescriptor]
    root.get("blobs").elements().forEachRemaining { b =>
      val fields = Seq.newBuilder[Int]
      Option(b.get("fields")).foreach(_.elements().forEachRemaining(f => fields += f.asInt()))
      val props = Map.newBuilder[String, String]
      Option(b.get("properties")).foreach(_.fields().forEachRemaining(e =>
        props += e.getKey -> e.getValue.asText()))
      out += BlobDescriptor(
        b.get("type").asText(),
        fields.result(),
        Option(b.get("snapshot-id")).map(_.asLong()).getOrElse(0L),
        Option(b.get("sequence-number")).map(_.asLong()).getOrElse(0L),
        b.get("offset").asLong(),
        b.get("length").asLong(),
        props.result())
    }
    out.result()
  }
}
