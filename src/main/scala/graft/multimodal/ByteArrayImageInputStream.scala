package graft.multimodal

/** Reusable seekable `ImageInputStream` over a byte array — the
  * allocation-free input side of the partition-scoped PNG codec.
  *
  * Why not `MemoryCacheImageInputStream` per frame: javax.imageio
  * stream impls are finalizable and internally synchronized, and a
  * codec stage creates one PER FRAME — at local[32] the JVM drowns in
  * finalizable garbage faster than the single finalizer thread drains
  * it, and decode throughput *collapses* as parallelism rises
  * (measured, 20k tiny-PNG decodes per thread: 0.75 s at 1 thread →
  * 64.6 s at 32 threads with per-call reader + MemoryCache stream).
  * One instance of THIS class per partition, re-pointed
  * at each payload via [[setBytes]], allocates nothing per frame.
  *
  * Only the two `read` methods and `length` are overridden;
  * `ImageInputStreamImpl` provides seek/mark/bit-level reads on top —
  * this is the sanctioned extension surface (identical to how the JDK
  * builds its own stream impls), not a reimplementation. */
final class ByteArrayImageInputStream extends javax.imageio.stream.ImageInputStreamImpl {
  private var buf: Array[Byte] = Array.emptyByteArray

  /** Re-point the stream at a new payload and rewind. */
  def setBytes(bytes: Array[Byte]): Unit = {
    buf = bytes
    streamPos = 0L
    bitOffset = 0
    flushedPos = 0L
  }

  override def read(): Int = {
    checkClosed()
    bitOffset = 0
    if (streamPos >= buf.length) -1
    else { val b = buf(streamPos.toInt) & 0xff; streamPos += 1; b }
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    checkClosed()
    bitOffset = 0
    if (streamPos >= buf.length) -1
    else {
      val n = math.min(len, buf.length - streamPos.toInt)
      System.arraycopy(buf, streamPos.toInt, b, off, n)
      streamPos += n
      n
    }
  }

  override def length(): Long = buf.length.toLong
  override def isCached: Boolean = true
  override def isCachedMemory: Boolean = true
}
