package graft.sources.ipc

import org.apache.arrow.memory.{ArrowBuf, BufferAllocator}
import org.apache.arrow.vector.compression.{AbstractCompressionCodec, CompressionCodec, CompressionUtil, NoCompressionCodec}

/** LZ4_FRAME body-buffer codec on NATIVE lz4-java (the reference's
  * `cpp/src/arrow/util/compression_lz4.cc` is native LZ4 too) instead
  * of arrow-compression's pure-Java commons-compress path, which
  * measured ~10x slower on the write side (6.9 s vs 0.7 s for the
  * same sf0.1 table ZSTD writes through native zstd-jni). Both
  * implementations emit the standard LZ4 Frame format (magic
  * 0x184D2204), so files stay interoperable with any stock Arrow
  * reader — IpcSpec's cross-implementation round trip pins it.
  *
  * The base class owns the Arrow buffer-compression envelope (the
  * 8-byte little-endian uncompressed-length prefix, the empty-buffer
  * fast path, and the compression-didn't-help raw fallback marked
  * with NO_COMPRESSION_LENGTH); this codec supplies only the frame
  * bytes, mirroring arrow-compression's Lz4CompressionCodec contract:
  * doCompress returns payload at offset SIZE_OF_UNCOMPRESSED_LENGTH
  * with the prefix slot reserved for the caller to fill.
  */
final class Lz4NativeCodec extends AbstractCompressionCodec {
  import Lz4NativeCodec.{compressor, xxhash}

  override def getCodecType: CompressionUtil.CodecType =
    CompressionUtil.CodecType.LZ4_FRAME

  override protected def doCompress(allocator: BufferAllocator,
      src: ArrowBuf): ArrowBuf = {
    val n = src.writerIndex().toInt
    val raw = new Array[Byte](n)
    src.getBytes(0, raw)
    val bos = new java.io.ByteArrayOutputStream(n / 2 + 64)
    // 64 KB frame blocks + shared native compressor/hasher: the no-arg
    // ctor defaults to 4 MB blocks and fresh compressor+hasher per
    // call — one 4 MB internal buffer PER COLUMN BUFFER compressed
    // (~GBs of allocation per write task at x10 scale; measured: the
    // DSv2 lz4 write job ran 5x the zstd-jni one on identical data).
    // Arrow buffers here are BatchRows-sized (tens of KB), so 64 KB
    // blocks also right-size the READ side's per-frame allocation.
    // Still the standard LZ4 frame format — interop unchanged.
    val out = new net.jpountz.lz4.LZ4FrameOutputStream(bos,
      net.jpountz.lz4.LZ4FrameOutputStream.BLOCKSIZE.SIZE_64KB, n.toLong,
      compressor, xxhash,
      net.jpountz.lz4.LZ4FrameOutputStream.FLG.Bits.BLOCK_INDEPENDENCE)
    out.write(raw)
    out.close()
    val comp = bos.toByteArray
    val prefix = CompressionUtil.SIZE_OF_UNCOMPRESSED_LENGTH
    val buf = allocator.buffer(prefix + comp.length)
    buf.setBytes(prefix, comp)
    buf.writerIndex(prefix + comp.length)
    buf
  }

  override protected def doDecompress(allocator: BufferAllocator,
      src: ArrowBuf): ArrowBuf = {
    val prefix = CompressionUtil.SIZE_OF_UNCOMPRESSED_LENGTH
    val outLen = readUncompressedLength(src)
    val inBytes = new Array[Byte]((src.writerIndex() - prefix).toInt)
    src.getBytes(prefix, inBytes)
    val in = new net.jpountz.lz4.LZ4FrameInputStream(
      new java.io.ByteArrayInputStream(inBytes))
    val outBytes = new Array[Byte](outLen.toInt)
    try {
      var off = 0
      var r = 0
      while (off < outBytes.length && {
        r = in.read(outBytes, off, outBytes.length - off); r > 0
      }) off += r
      // a frame shorter than its declared uncompressed length is
      // corruption — fail loudly, never hand back zero-padded columns
      require(off == outBytes.length,
        s"LZ4 frame decompressed to $off bytes, expected ${outBytes.length}")
    } finally in.close()
    val buf = allocator.buffer(outLen)
    buf.setBytes(0, outBytes)
    buf.writerIndex(outLen)
    buf
  }
}

private object Lz4NativeCodec {
  // stateless and thread-safe in lz4-java: share across codec
  // instances instead of re-instantiating per compressed buffer
  private val compressor: net.jpountz.lz4.LZ4Compressor =
    net.jpountz.lz4.LZ4Factory.fastestInstance().fastCompressor()
  private val xxhash: net.jpountz.xxhash.XXHash32 =
    net.jpountz.xxhash.XXHashFactory.fastestInstance().hash32()
}

/** The engine's codec factory for every IPC read and write: ZSTD
  * rides arrow-compression's zstd-jni codec (already native),
  * LZ4_FRAME rides [[Lz4NativeCodec]], NO_COMPRESSION is Arrow's
  * no-op codec. Readers and writers pass this unconditionally — it is
  * free on uncompressed files. */
object GraftCompressionFactory extends CompressionCodec.Factory {
  private val fallback: CompressionCodec.Factory =
    org.apache.arrow.compression.CommonsCompressionFactory.INSTANCE

  override def createCodec(t: CompressionUtil.CodecType): CompressionCodec =
    t match {
      case CompressionUtil.CodecType.LZ4_FRAME => new Lz4NativeCodec
      case CompressionUtil.CodecType.NO_COMPRESSION => NoCompressionCodec.INSTANCE
      case other => fallback.createCodec(other)
    }

  override def createCodec(t: CompressionUtil.CodecType,
      level: Int): CompressionCodec = t match {
    case CompressionUtil.CodecType.LZ4_FRAME => new Lz4NativeCodec
    case other => fallback.createCodec(other, level)
  }
}
