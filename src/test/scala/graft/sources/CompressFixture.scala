package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

/** Wire-level helpers for the OP_COMPRESSED codec specs: a one-field
  * BSON document carrying an arbitrary payload, the compressed frame
  * `writeFrame` emits for it, and the codec payload sliced back out of
  * that frame's envelope. */
object CompressFixture {
  /** 16-byte header + originalOpcode + uncompressedSize + compressorId. */
  val EnvelopeHead = 25
  /** flagBits + the kind-0 section byte ahead of the command document. */
  val BodyHead = 5

  /** `{b: BinData(0, payload)}` as raw BSON. */
  def binDoc(payload: Array[Byte]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 1 + 2 + 4 + 1 + payload.length + 1)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(bb.capacity).put(0x05.toByte).put('b'.toByte).put(0.toByte)
      .putInt(payload.length).put(0.toByte).put(payload).put(0.toByte)
    bb.array
  }

  def frame(compressor: Int, doc: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    OpMsg.writeFrame(out, 1, 0, doc, flags = 0, compress = true,
      compressor = compressor)
    out.toByteArray
  }

  def payload(frame: Array[Byte]): Array[Byte] = frame.drop(EnvelopeHead)

  def read(frame: Array[Byte]): OpMsg.Frame =
    OpMsg.readFrame(new ByteArrayInputStream(frame)).get

  /** Bytes allocated by the calling thread while `f` runs. */
  def allocated(f: => Unit): Long = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val before = mx.getCurrentThreadAllocatedBytes
    f
    mx.getCurrentThreadAllocatedBytes - before
  }
}
