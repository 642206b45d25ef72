package graft.sources.nc

import java.nio.{ByteBuffer, ByteOrder}
import graft.sources.SeekableInput
import java.util.zip.Inflater

import scala.collection.mutable

/** Minimal pure-JVM reader for the HDF5 subset that NetCDF-4 files use
  * (format: the public HDF5 File Format Specification v3). Built to open
  * the reference platform's real raster inputs — e.g. the GloFAS return-
  * period threshold grids consumed by the flood pipeline (reference:
  * io_managers.py:222-223 `xr.open_dataset`, rp_thresholds.py:37-49) —
  * without any native HDF5 dependency.
  *
  * Supported subset (everything netcdf-c 4.6/hdf5 1.10 emits for simple
  * gridded variables):
  *  - superblock v0/v2/v3
  *  - object headers v1 and v2 ("OHDR"), incl. continuation blocks
  *  - groups via compact link messages (new style) or symbol tables
  *    (v1 B-tree + local heap, old style)
  *  - dataspace/datatype/layout/filter-pipeline messages
  *  - contiguous layout with ranged reads (a partition reads only its
  *    row band — the property that makes the DSv2 scan scale out)
  *  - chunked layout via v1 B-tree with shuffle + deflate filters
  *  - float32/float64 and fixed-size integer datasets
  *
  * Deliberately NOT parsed: attributes (dense/fractal-heap storage) — the
  * CF decode semantics the pipelines need (raw values; `_FillValue` = NaN
  * on the real threshold files means masking is the identity) are applied
  * by the caller.
  *
  * All reads are positional through the SeekableInput seam (local
  * FileChannel fast path; Hadoop FS ranged reads for object-store
  * URIs), so one instance is safe to share across Spark task threads.
  */
final class Hdf5File(val path: String) extends AutoCloseable {
  import Hdf5File._

  private val ch = SeekableInput.open(path)

  def close(): Unit = ch.close()

  /** Positional ranged read returning a little-endian buffer. */
  private def readAt(off: Long, len: Int): ByteBuffer = {
    require(len >= 0 && off >= 0, s"bad read $off+$len")
    ch.readAt(off, len).order(ByteOrder.LITTLE_ENDIAN)
  }

  private def u8(b: ByteBuffer): Int = b.get() & 0xFF
  private def u16(b: ByteBuffer): Int = b.getShort() & 0xFFFF
  private def u32(b: ByteBuffer): Long = b.getInt() & 0xFFFFFFFFL

  /** Root group object header address from the superblock. */
  private val rootAddr: Long = {
    val sb = readAt(0, 64)
    val magic = new Array[Byte](8)
    sb.get(magic)
    require(magic.sameElements(Magic), s"$path is not HDF5")
    u8(sb) match {
      case 0 | 1 =>
        // v0: sizes at 13/14, symbol-table entry of root group at 24+32;
        // its second 8-byte field is the object header address
        readAt(24 + 32 + 8, 8).getLong()
      case 2 | 3 =>
        readAt(12 + 24, 8).getLong() // base, ext, eof then root ohdr
      case v => throw new IllegalStateException(s"superblock v$v")
    }
  }

  /** All object-header messages of the object at `addr`, following
    * continuation blocks; returns (type, payloadBytes).
    */
  private def messages(addr: Long): Seq[(Int, ByteBuffer)] = {
    val sig = readAt(addr, 4).getInt()
    val out = mutable.ArrayBuffer.empty[(Int, ByteBuffer)]
    if (sig == OhdrSig) { // v2 "OHDR"
      val head = readAt(addr + 4, 2)
      val flags = { u8(head); u8(head) }
      var off = addr + 6
      if ((flags & 0x20) != 0) off += 16 // access/mod/change/birth times
      if ((flags & 0x10) != 0) off += 4 // phase-change limits
      val c0Size = 1 << (flags & 3)
      val chunk0 = readAt(off, c0Size)
      val c0 = c0Size match {
        case 1 => u8(chunk0).toLong
        case 2 => u16(chunk0).toLong
        case 4 => u32(chunk0)
        case 8 => chunk0.getLong()
      }
      off += c0Size
      val blocks = mutable.Queue((off, c0))
      while (blocks.nonEmpty) {
        val (bOff, bLen) = blocks.dequeue()
        val b = readAt(bOff, bLen.toInt)
        // each block ends with a 4-byte checksum
        while (b.remaining() > 4 + 3) {
          val mType = u8(b)
          val mSize = u16(b)
          u8(b) // message flags
          if ((flags & 0x04) != 0) u16(b) // creation order
          val payload = b.slice().order(ByteOrder.LITTLE_ENDIAN)
          payload.limit(mSize)
          if (mType == 0x10) { // continuation: addr(8) + size(8)
            val cAddr = payload.getLong()
            val cSize = payload.getLong()
            blocks.enqueue((cAddr + 4, cSize - 8)) // skip OCHK sig + cksum
          } else out += ((mType, payload))
          b.position(b.position() + mSize)
        }
      }
    } else { // v1
      val h = readAt(addr, 16)
      u8(h); u8(h)
      val nMsg = u16(h)
      u32(h)
      val hSize = u32(h)
      var count = 0
      val blocks = mutable.Queue((addr + 16, hSize))
      while (blocks.nonEmpty && count < nMsg) {
        val (bOff, bLen) = blocks.dequeue()
        val b = readAt(bOff, bLen.toInt)
        while (b.remaining() >= 8 && count < nMsg) {
          val mType = u16(b)
          val mSize = u16(b)
          b.position(b.position() + 4) // flags + reserved
          val payload = b.slice().order(ByteOrder.LITTLE_ENDIAN)
          payload.limit(mSize)
          if (mType == 0x10) {
            val cAddr = payload.getLong()
            val cSize = payload.getLong()
            blocks.enqueue((cAddr, cSize))
          } else out += ((mType, payload))
          count += 1
          b.position(b.position() + mSize)
        }
      }
    }
    out.toSeq
  }

  /** Child links of a group: compact link messages (0x06) or the v1
    * symbol-table B-tree (0x11). Dense (fractal-heap) link storage is not
    * supported — netcdf-c only switches to it past 8 links per group.
    */
  private def links(addr: Long): Map[String, Long] = {
    val out = mutable.LinkedHashMap.empty[String, Long]
    messages(addr).foreach {
      case (0x06, m) => // link message
        u8(m) // version (1)
        val flags = u8(m)
        if ((flags & 0x08) != 0)
          require(u8(m) == 0, "only hard links supported")
        if ((flags & 0x04) != 0) m.getLong() // creation order
        if ((flags & 0x10) != 0) u8(m) // charset
        val nameLen = (1 << (flags & 3)) match {
          case 1 => u8(m).toLong
          case 2 => u16(m).toLong
          case 4 => u32(m)
          case 8 => m.getLong()
        }
        val name = new Array[Byte](nameLen.toInt)
        m.get(name)
        out(new String(name, "UTF-8")) = m.getLong()
      case (0x11, m) => // symbol table: btree addr + local heap addr
        val bTree = m.getLong()
        val heap = m.getLong()
        val heapData = readAt(heap + 24, 8).getLong()
        def readName(heapOff: Long): String = {
          val bytes = mutable.ArrayBuffer.empty[Byte]
          var pos = heapData + heapOff
          var done = false
          while (!done) {
            val chunk = readAt(pos, 64)
            while (!done && chunk.hasRemaining) {
              val c = chunk.get()
              if (c == 0) done = true else bytes += c
            }
            pos += 64
          }
          new String(bytes.toArray, "UTF-8")
        }
        def walk(nodeAddr: Long): Unit = {
          val head = readAt(nodeAddr, 8)
          require(head.getInt() == TreeSig, "bad group B-tree node")
          u8(head)
          val level = u8(head)
          val n = u16(head)
          // entries: key(8) child(8) ... key(8); skip left/right siblings
          val body = readAt(nodeAddr + 8 + 16, 16 * n + 8)
          for (_ <- 0 until n) {
            body.getLong() // key = heap offset of first name
            val child = body.getLong()
            if (level > 0) walk(child)
            else {
              val snodHead = readAt(child, 8)
              require(snodHead.getInt() == SnodSig, "bad SNOD")
              u8(snodHead); u8(snodHead)
              val nSym = u16(snodHead)
              val syms = readAt(child + 8, 40 * nSym)
              for (_ <- 0 until nSym) {
                val linkNameOff = syms.getLong()
                val ohdr = syms.getLong()
                syms.position(syms.position() + 24) // cache type/reserved/scratch
                out(readName(linkNameOff)) = ohdr
              }
            }
          }
        }
        walk(bTree)
      case _ => ()
    }
    out.toMap
  }

  /** name -> dataset descriptor for every child of the root group. */
  lazy val datasets: Map[String, Dataset] = links(rootAddr).flatMap {
    case (name, addr) => describe(name, addr)
  }

  private def describe(name: String, addr: Long): Option[(String, Dataset)] = {
    var dims: Array[Long] = null
    var elemSize = 0
    var typeClass = -1
    var layout: Layout = null
    val filters = mutable.ArrayBuffer.empty[Int]
    messages(addr).foreach {
      case (0x01, m) => // dataspace
        val ver = u8(m)
        val rank = u8(m)
        u8(m) // flags
        m.position(if (ver == 1) 8 else 4)
        dims = Array.fill(rank)(m.getLong())
      case (0x03, m) => // datatype
        typeClass = u8(m) & 0x0F
        m.position(4)
        elemSize = u32(m).toInt
      case (0x08, m) => // data layout (v3 only — all hdf5 1.8+ writers)
        val ver = u8(m)
        require(ver == 3, s"layout message v$ver unsupported")
        u8(m) match {
          case 1 => layout = Contiguous(m.getLong(), m.getLong())
          case 2 =>
            val rank = u8(m) // = dataset rank + 1 (element-size dim)
            val bTree = m.getLong()
            layout = Chunked(bTree, Array.fill(rank)(u32(m).toInt))
          case 0 =>
            val size = u16(m)
            val bytes = new Array[Byte](size)
            m.get(bytes)
            layout = Compact(bytes)
          case c => throw new IllegalStateException(s"layout class $c")
        }
      case (0x0B, m) => // filter pipeline
        val ver = u8(m)
        val nf = u8(m)
        m.position(if (ver == 1) 8 else 2)
        for (_ <- 0 until nf) {
          val id = u16(m)
          val nameLen = u16(m)
          u16(m) // flags
          val nCli = u16(m)
          if (ver == 1 || id >= 256)
            m.position(m.position() + (if (ver == 1) (nameLen + 7) / 8 * 8 else nameLen))
          m.position(m.position() + 4 * nCli)
          if (ver == 1 && nCli % 2 == 1) m.position(m.position() + 4)
          filters += id
        }
      case _ => ()
    }
    if (dims == null || layout == null) None // a sub-group, not a dataset
    else Some(name -> Dataset(name, dims, elemSize, typeClass, layout, filters.toSeq))
  }

  /** All chunk entries of a chunked dataset, from the v1 B-tree:
    * (fileAddr, storedSize, filterMask, chunkOffsetInElements-per-dim).
    */
  private def chunkEntries(ds: Dataset): Seq[ChunkEntry] = ds.layout match {
    case Chunked(bTree, chunkDims) =>
      val nDims = chunkDims.length // rank + 1
      val out = mutable.ArrayBuffer.empty[ChunkEntry]
      def walk(nodeAddr: Long): Unit = {
        val head = readAt(nodeAddr, 8)
        require(head.getInt() == TreeSig, "bad chunk B-tree node")
        u8(head)
        val level = u8(head)
        val n = u16(head)
        val keySize = 8 + 8 * nDims
        val body = readAt(nodeAddr + 8 + 16, (keySize + 8) * n + keySize)
        for (_ <- 0 until n) {
          val stored = u32(body).toInt
          val mask = u32(body).toInt
          val offs = Array.fill(nDims)(body.getLong())
          val child = body.getLong()
          if (level > 0) walk(child)
          else out += ChunkEntry(child, stored, mask, offs)
        }
      }
      walk(bTree)
      out.toSeq
    case _ => throw new IllegalStateException(s"${ds.name} is not chunked")
  }

  /** Decode one chunk's bytes: deflate then un-shuffle, honoring the
    * per-chunk filter mask (bit i set = filter i skipped for this chunk).
    * A chunk decodes to exactly its raw size (the chunk dims times the
    * element size, edge chunks included), so deflate inflates into one
    * array of that size; a chunk that decodes short or long fails.
    */
  private def decodeChunk(ds: Dataset, e: ChunkEntry): Array[Byte] = {
    val raw = ds.layout match {
      case Chunked(_, chunkDims) => chunkDims.init.map(_.toLong).product * ds.elemSize
      case _ => throw new IllegalStateException(s"${ds.name} is not chunked")
    }
    require(raw <= Int.MaxValue, s"${ds.name}: $raw-byte chunks unsupported")
    var buf = new Array[Byte](e.stored)
    readAt(e.addr, e.stored).get(buf)
    // filters apply in pipeline order on write; reverse on read
    val applied = ds.filters.zipWithIndex.filter { case (_, i) => (e.mask & (1 << i)) == 0 }
    applied.map(_._1).reverse.foreach {
      case 1 => buf = inflate(buf, raw.toInt)
      case 2 => // shuffle: stored as dsize byte-planes; re-interleave
        val sz = ds.elemSize
        val n = buf.length / sz
        val out = new Array[Byte](buf.length)
        var b = 0
        while (b < sz) {
          var i = 0
          while (i < n) {
            out(i * sz + b) = buf(b * n + i)
            i += 1
          }
          b += 1
        }
        buf = out
      case other => throw new IllegalStateException(s"filter $other unsupported")
    }
    require(buf.length == raw,
      s"${ds.name}: chunk at ${e.addr} decodes to ${buf.length} of $raw bytes")
    buf
  }

  /** A zlib stream that must inflate to exactly `raw` bytes. */
  private def inflate(stored: Array[Byte], raw: Int): Array[Byte] = {
    val inf = new Inflater()
    try {
      inf.setInput(stored)
      val out = new Array[Byte](raw)
      var n = 0
      while (n < raw) {
        val k = inf.inflate(out, n, raw - n)
        require(k > 0,
          if (inf.finished()) s"deflate chunk inflates to $n of $raw bytes"
          else "truncated deflate chunk")
        n += k
      }
      // the stream must end here: one more byte makes a long chunk
      if (!inf.finished()) {
        require(inf.inflate(new Array[Byte](1)) == 0,
          s"deflate chunk inflates past $raw bytes")
        require(inf.finished(), "truncated deflate chunk")
      }
      out
    } finally inf.end()
  }

  /** Read a whole (small) numeric dataset as doubles, row-major. Used for
    * coordinate variables; data variables should go through the ranged
    * row-band readers below.
    */
  def readDoubles(name: String): Array[Double] = {
    val ds = dataset(name)
    val bytes = readAllBytes(ds)
    toDoubles(ds, bytes)
  }

  def dataset(name: String): Dataset =
    datasets.getOrElse(name, throw new NoSuchElementException(
      s"$path has no dataset '$name' (found: ${datasets.keys.mkString(", ")})"))

  private def readAllBytes(ds: Dataset): Array[Byte] = ds.layout match {
    case Compact(bytes) => bytes
    case Contiguous(addr, size) =>
      val out = new Array[Byte](size.toInt)
      readAt(addr, size.toInt).get(out)
      out
    case Chunked(_, chunkDims) =>
      val total = ds.dims.product * ds.elemSize
      val out = new Array[Byte](total.toInt)
      val strides = rowMajorStrides(ds.dims)
      chunkEntries(ds).foreach { e =>
        val buf = decodeChunk(ds, e)
        // linear element offset of the chunk origin; netcdf-c chunk rows
        // are contiguous spans when the chunk covers whole trailing dims,
        // which holds for every file this reader targets — assert it.
        val chunkCoversTrailing = chunkDims.dropRight(1).zipWithIndex.drop(1)
          .forall { case (cd, i) => cd.toLong == ds.dims(i) }
        require(ds.dims.length <= 1 || chunkCoversTrailing,
          s"${ds.name}: partial trailing chunks unsupported")
        val lin = e.offsets.take(ds.dims.length).zip(strides)
          .map { case (o, s) => o * s }.sum
        val start = (lin * ds.elemSize).toInt
        val n = math.min(buf.length, out.length - start)
        System.arraycopy(buf, 0, out, start, n)
      }
      out
  }

  /** Ranged read of rows [rowLo, rowHi) of a 2-D dataset, returned as the
    * raw little-endian element bytes. Contiguous layout turns into ONE
    * positional read of exactly the band's bytes — the scan path a
    * 1000-executor cluster would use. Chunked layout reads only the
    * chunks intersecting the band.
    */
  def readRowBand(name: String, rowLo: Int, rowHi: Int): Array[Byte] = {
    val ds = dataset(name)
    require(ds.dims.length == 2, s"${ds.name} is not 2-D")
    val nCols = ds.dims(1).toInt
    val bandBytes = (rowHi - rowLo).toLong * nCols * ds.elemSize
    ds.layout match {
      case Contiguous(addr, _) =>
        val out = new Array[Byte](bandBytes.toInt)
        readAt(addr + rowLo.toLong * nCols * ds.elemSize, out.length).get(out)
        out
      case Chunked(_, chunkDims) =>
        val rowsPerChunk = chunkDims(0)
        require(chunkDims(1) == nCols, "partial-width chunks unsupported")
        val out = new Array[Byte](bandBytes.toInt)
        chunkEntries(ds).foreach { e =>
          val cRow = e.offsets(0).toInt
          if (cRow + rowsPerChunk > rowLo && cRow < rowHi) {
            val buf = decodeChunk(ds, e)
            val srcRow = math.max(rowLo - cRow, 0)
            val dstRow = math.max(cRow - rowLo, 0)
            val nRows = math.min(cRow + rowsPerChunk, rowHi) -
              math.max(cRow, rowLo)
            System.arraycopy(
              buf, srcRow * nCols * ds.elemSize,
              out, dstRow * nCols * ds.elemSize,
              nRows * nCols * ds.elemSize)
          }
        }
        out
      case Compact(_) => throw new IllegalStateException("compact 2-D unsupported")
    }
  }

  private def toDoubles(ds: Dataset, bytes: Array[Byte]): Array[Double] = {
    val b = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val n = bytes.length / ds.elemSize
    val out = new Array[Double](n)
    var i = 0
    (ds.typeClass, ds.elemSize) match {
      case (1, 4) => while (i < n) { out(i) = b.getFloat(i * 4).toDouble; i += 1 }
      case (1, 8) => while (i < n) { out(i) = b.getDouble(i * 8); i += 1 }
      case (0, 4) => while (i < n) { out(i) = b.getInt(i * 4).toDouble; i += 1 }
      case (0, 8) => while (i < n) { out(i) = b.getLong(i * 8).toDouble; i += 1 }
      case (c, s) => throw new IllegalStateException(s"datatype class $c size $s")
    }
    out
  }
}

object Hdf5File {
  private val Magic: Array[Byte] =
    Array(0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1A, '\n')
  // signatures read little-endian as Int
  private val OhdrSig = leInt("OHDR")
  private val TreeSig = leInt("TREE")
  private val SnodSig = leInt("SNOD")
  private def leInt(s: String): Int =
    s.getBytes.zipWithIndex.map { case (c, i) => (c & 0xFF) << (8 * i) }.sum

  sealed trait Layout
  final case class Contiguous(addr: Long, size: Long) extends Layout
  final case class Chunked(bTreeAddr: Long, chunkDims: Array[Int]) extends Layout
  final case class Compact(bytes: Array[Byte]) extends Layout

  final case class ChunkEntry(addr: Long, stored: Int, mask: Int, offsets: Array[Long])

  /** Dataset descriptor: dims, element size/class, layout, filter ids. */
  final case class Dataset(
      name: String,
      dims: Array[Long],
      elemSize: Int,
      typeClass: Int, // 0 = fixed int, 1 = float
      layout: Layout,
      filters: Seq[Int]) {
    def rowMajorStridesPublic: Array[Long] = rowMajorStrides(dims)
  }

  private[nc] def rowMajorStrides(dims: Array[Long]): Array[Long] = {
    val strides = new Array[Long](dims.length)
    var acc = 1L
    var i = dims.length - 1
    while (i >= 0) { strides(i) = acc; acc *= dims(i); i -= 1 }
    strides
  }
}
