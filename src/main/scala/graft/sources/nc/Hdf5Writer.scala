package graft.sources.nc

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.Deflater

import org.apache.spark.sql.DataFrame

import graft.sources.ChunkStager

/** Distributed NetCDF-4 (HDF5) grid SINK — the write-back half of the
  * raster surface (reference: upstream.py:52 `to_netcdf`,
  * io_managers.py:222-223). Writes a single .nc file containing
  * `lat` (f8, contiguous), `lon` (f8, contiguous) and a 2-D
  * `var(lat, lon)` variable (f4, chunked, deflate) in the exact HDF5
  * subset `Hdf5File` and the independent python parser
  * (tools/nc_to_parquet.py) read: superblock v0, v2 ("OHDR") object
  * headers with Jenkins-lookup3 checksums, compact link messages,
  * dataspace/datatype/layout-v3/filter-pipeline-v1 messages, chunked
  * layout via a v1 B-tree. Format: the public HDF5 File Format
  * Specification v3; checksum convention verified bit-exact against
  * netcdf-c-written files (chunk-0 size EXCLUDES the trailing checksum).
  *
  * Staging is [[graft.sources.ChunkStager]]'s, one chunk per full-width
  * row band; this writer adds the chunk encoder and the header (object
  * headers, coordinate vectors, chunk B-tree) the driver writes before
  * the staged chunks.
  */
object Hdf5Writer {

  private val Undef = -1L // 0xFFFF…FF = HDF5 "undefined address"

  /** Jenkins lookup3 hashlittle (public domain lookup3.c), the HDF5
    * metadata checksum. Verified against netcdf-c-written headers.
    */
  def lookup3(key: Array[Byte], from: Int, len0: Int): Int = {
    def rot(x: Int, k: Int): Int = Integer.rotateLeft(x, k)
    var len = len0
    var i = from
    var a = 0xdeadbeef + len0
    var b = a
    var c = a
    def word(off: Int, avail: Int): Int = {
      var w = 0
      var k = 0
      while (k < 4 && k < avail) { w |= (key(off + k) & 0xFF) << (8 * k); k += 1 }
      w
    }
    while (len > 12) {
      a += word(i, 4); b += word(i + 4, 4); c += word(i + 8, 4)
      // mix
      a -= c; a ^= rot(c, 4); c += b
      b -= a; b ^= rot(a, 6); a += c
      c -= b; c ^= rot(b, 8); b += a
      a -= c; a ^= rot(c, 16); c += b
      b -= a; b ^= rot(a, 19); a += c
      c -= b; c ^= rot(b, 4); b += a
      i += 12; len -= 12
    }
    if (len == 0) return c
    a += word(i, len); b += word(i + 4, len - 4); c += word(i + 8, len - 8)
    // final
    c ^= b; c -= rot(b, 14)
    a ^= c; a -= rot(c, 11)
    b ^= a; b -= rot(a, 25)
    c ^= b; c -= rot(b, 16)
    a ^= c; a -= rot(c, 4)
    b ^= a; b -= rot(a, 14)
    c ^= b; c -= rot(b, 24)
    c
  }

  private class Buf {
    val out = new ByteArrayOutputStream()
    def u8(v: Int): Buf = { out.write(v & 0xFF); this }
    def u16(v: Int): Buf = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF); this }
    def u32(v: Long): Buf = {
      var i = 0
      while (i < 4) { out.write(((v >> (8 * i)) & 0xFF).toInt); i += 1 }
      this
    }
    def u64(v: Long): Buf = {
      var i = 0
      while (i < 8) { out.write(((v >> (8 * i)) & 0xFF).toInt); i += 1 }
      this
    }
    def bytes(b: Array[Byte]): Buf = { out.write(b); this }
    def toArray: Array[Byte] = out.toByteArray
    def size: Int = out.size()
  }

  /** v2 object header: OHDR + flags 0x01 (2-byte chunk-0 size, no
    * times/phase-change/creation-order) + messages + lookup3 checksum.
    * Chunk-0 size excludes the checksum (netcdf-c convention, verified).
    */
  private def ohdr(msgs: Seq[(Int, Array[Byte])]): Array[Byte] = {
    val b = new Buf
    b.bytes("OHDR".getBytes).u8(2).u8(0x01)
    b.u16(msgs.map { case (_, p) => 4 + p.length }.sum)
    msgs.foreach { case (t, p) =>
      b.u8(t).u16(p.length).u8(0).bytes(p)
    }
    val body = b.toArray
    new Buf().bytes(body).u32(lookup3(body, 0, body.length) & 0xFFFFFFFFL).toArray
  }

  /** Hard-link message (type 0x06): version 1, 1-byte name length. */
  private def linkMsg(name: String, ohdrAddr: Long): (Int, Array[Byte]) = {
    val nb = name.getBytes("UTF-8")
    require(nb.length < 256, s"link name too long: $name")
    (0x06, new Buf().u8(1).u8(0).u8(nb.length).bytes(nb).u64(ohdrAddr).toArray)
  }

  /** Simple dataspace message (type 0x01), version 2. */
  private def dataspaceMsg(dims: Seq[Long]): (Int, Array[Byte]) = {
    val b = new Buf().u8(2).u8(dims.length).u8(0).u8(1)
    dims.foreach(b.u64)
    (0x01, b.toArray)
  }

  /** IEEE little-endian float datatype message (type 0x03). */
  private def floatTypeMsg(elemSize: Int): (Int, Array[Byte]) = {
    val (prec, expLoc, expSize, manSize, bias, signLoc) =
      if (elemSize == 4) (32, 23, 8, 23, 127L, 31)
      else (64, 52, 11, 52, 1023L, 63)
    (0x03, new Buf()
      .u8(0x11) // version 1, class 1 (floating point)
      .u8(0x20).u8(signLoc).u8(0) // LE, implied-msb normalization, sign bit
      .u32(elemSize.toLong)
      .u16(0).u16(prec).u8(expLoc).u8(expSize).u8(0).u8(manSize).u32(bias)
      .toArray)
  }

  private def contiguousLayoutMsg(addr: Long, size: Long): (Int, Array[Byte]) =
    (0x08, new Buf().u8(3).u8(1).u64(addr).u64(size).toArray)

  private def chunkedLayoutMsg(bTreeAddr: Long, chunkDims: Seq[Int]): (Int, Array[Byte]) = {
    val b = new Buf().u8(3).u8(2).u8(chunkDims.length).u64(bTreeAddr)
    chunkDims.foreach(d => b.u32(d.toLong))
    (0x08, b.toArray)
  }

  /** Filter pipeline (type 0x0B) VERSION 1 — carries the explicit
    * name-length field both our parsers read for id<256. With `shuffle`,
    * the pipeline is [shuffle(id 2, cd=elemSize), deflate(id 1)] — the
    * standard netCDF-4 float-raster combination (byte-plane transpose
    * before deflate); filters apply in pipeline order on write, reverse
    * on read.
    */
  private def deflateFilterMsg(level: Int, shuffle: Boolean,
      elemSize: Int): (Int, Array[Byte]) = {
    val b = new Buf()
      .u8(1).u8(if (shuffle) 2 else 1).bytes(new Array[Byte](6))
    if (shuffle)
      // id=shuffle, namelen 0, flags 0 (mandatory), 1 cd value: elem size
      b.u16(2).u16(0).u16(0).u16(1).u32(elemSize.toLong).u32(0L)
    b.u16(1).u16(0).u16(1).u16(1) // id=deflate, namelen 0, optional, 1 cd
      .u32(level.toLong).u32(0L) // client value + odd-count pad
    (0x0B, b.toArray)
  }

  private def encodeDoubles(vals: Array[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(vals.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    bb.asDoubleBuffer().put(vals)
    bb.array()
  }

  /** (Optionally shuffle-) then deflate-compress one full-width chunk of
    * f4 cells. Shuffle = HDF5 filter id 2: de-interleave byte planes
    * (all byte-0s, then byte-1s, ...) so the deflate window sees runs of
    * similar exponent/sign bytes — the standard float-raster win.
    */
  private[nc] def encodeChunk(buf: Array[Float], level: Int,
      shuffle: Boolean = false): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    bb.asFloatBuffer().put(buf)
    var raw = bb.array()
    if (shuffle) {
      val n = buf.length
      val out = new Array[Byte](raw.length)
      var b = 0
      while (b < 4) {
        var k = 0
        while (k < n) { out(b * n + k) = raw(k * 4 + b); k += 1 }
        b += 1
      }
      raw = out
    }
    val d = new Deflater(level)
    d.setInput(raw)
    d.finish()
    val out = new ByteArrayOutputStream(raw.length / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
    d.end()
    out.toByteArray
  }

  /** Distributed write of `df` (latCol, lonCol, valCol) onto the regular
    * grid `lats` × `lons` as `path` (single .nc). Missing cells and edge-
    * chunk padding become `fill` (HDF5 stores full-size edge chunks).
    * Chunks are (chunkRows × nLon) — full-width row bands, the unit the
    * `graft-netcdf` scan parallelizes over.
    */
  def writeGrid(df: DataFrame, path: String, varName: String,
      latCol: String, lonCol: String, valCol: String,
      lats: Array[Double], lons: Array[Double],
      chunkRows: Int, deflateLevel: Int = 6,
      fill: Float = Float.NaN, shuffle: Boolean = false): Unit =
    ChunkStager.singleFile(df.sparkSession, path) { st =>
      val (nLat, nLon) = (lats.length, lons.length)
      val nChunks = (nLat + chunkRows - 1) / chunkRows
      val cells = ChunkStager.Floats(chunkRows * nLon, fill)
      val frags = ChunkStager.onGrid(df, latCol, lonCol, valCol, lats, lons, cells) {
        (_, i, j) => (i / chunkRows, (i % chunkRows) * nLon + j)
      }
      def name(ci: Int) = "chunk-%05d".format(ci)
      st.stage(frags, cells, nChunks)(
        (_, buf) => encodeChunk(buf, deflateLevel, shuffle), name)
      // staged sizes → B-tree keys; a band with no rows has no staged file
      // and gets a driver-encoded all-fill chunk (tiny: deflate of a
      // constant block)
      val names = (0 until nChunks).map(name)
      val emptyChunk = encodeChunk(cells.alloc(), deflateLevel, shuffle)
      val chunkSizes = st.sizes(names, emptyChunk)

      // ------ layout: compute header sizes with dummy addresses ------
      def headers(latAddr: Long, lonAddr: Long, bTreeAddr: Long,
          rootAddrs: (Long, Long, Long)): (Array[Byte], Array[Byte], Array[Byte], Array[Byte]) = {
        val root = ohdr(Seq(
          linkMsg("lat", rootAddrs._1),
          linkMsg("lon", rootAddrs._2),
          linkMsg(varName, rootAddrs._3)))
        val latH = ohdr(Seq(dataspaceMsg(Seq(nLat.toLong)), floatTypeMsg(8),
          contiguousLayoutMsg(latAddr, nLat.toLong * 8)))
        val lonH = ohdr(Seq(dataspaceMsg(Seq(nLon.toLong)), floatTypeMsg(8),
          contiguousLayoutMsg(lonAddr, nLon.toLong * 8)))
        val varH = ohdr(Seq(dataspaceMsg(Seq(nLat.toLong, nLon.toLong)),
          floatTypeMsg(4), deflateFilterMsg(deflateLevel, shuffle, 4),
          chunkedLayoutMsg(bTreeAddr, Seq(chunkRows, nLon, 4))))
        (root, latH, lonH, varH)
      }
      val (r0, l0, o0, v0) = headers(0, 0, 0, (0, 0, 0))
      val rootAddr = 96L
      val latHAddr = rootAddr + r0.length
      val lonHAddr = latHAddr + l0.length
      val varHAddr = lonHAddr + o0.length
      val latDataAddr = varHAddr + v0.length
      val lonDataAddr = latDataAddr + nLat * 8L
      val bTreeAddr = lonDataAddr + nLon * 8L
      // node: sig+type+level+nEntries + 2 siblings, n*(key+child) + final key
      val keySize = 8 + 8 * 3
      def nodeSize(n: Int): Int = 8 + 16 + n * (keySize + 8) + keySize
      // ------ B-tree shape: libhdf5's default indexed-storage K is 32
      // (superblock v0 carries no field to raise it), so real HDF5/netcdf-c
      // readers reject nodes with more than 2K = 64 entries. Split into a
      // multi-level v1 B-tree: leaves of <= 64 chunks, internal levels of
      // <= 64 children, until a single root. nChunks <= 64 stays the
      // netcdf-c-verified single-leaf byte layout. ------
      val maxEnt = 64
      // nodesByLevel(0) = root level ... last = leaves;
      // node = (firstChunk, endChunkExcl, childStart, childEndExcl)
      val nodesByLevel: Array[Array[(Int, Int, Int, Int)]] = {
        // nChunks == 0 (degenerate empty axis) still needs ONE empty root
        // node — the chunked-layout message points at bTreeAddr and readers
        // expect a TREE signature there
        val leaves =
          if (nChunks == 0) Array((0, 0, 0, 0))
          else (0 until nChunks).grouped(maxEnt)
            .map(g => (g.head, g.last + 1, g.head, g.last + 1)).toArray
        var levels = List(leaves)
        while (levels.head.length > 1) {
          val below = levels.head
          levels = below.indices.grouped(maxEnt).map { g =>
            (below(g.head)._1, below(g.last)._2, g.head, g.last + 1)
          }.toArray :: levels
        }
        levels.toArray
      }
      val nLevels = nodesByLevel.length
      // addresses: top-down, left-to-right, contiguous from bTreeAddr (the
      // root sits AT bTreeAddr, where the layout message points)
      val addrByLevel: Array[Array[Long]] = {
        var cursor = bTreeAddr
        nodesByLevel.zipWithIndex.map { case (nodes, li) =>
          nodes.map { case (fc, ec, cs, ce) =>
            val n = if (li == nLevels - 1) ec - fc else ce - cs
            val a = cursor; cursor += nodeSize(n); a
          }
        }
      }
      val bTreeSize = nodesByLevel.zipWithIndex.map { case (nodes, li) =>
        nodes.map { case (fc, ec, cs, ce) =>
          nodeSize(if (li == nLevels - 1) ec - fc else ce - cs)
        }.sum
      }.sum
      val chunk0Addr = bTreeAddr + bTreeSize
      val chunkAddrs = chunkSizes.scanLeft(chunk0Addr)(_ + _)
      val eof = chunkAddrs.last

      val (root, latH, lonH, varH) =
        headers(latDataAddr, lonDataAddr, bTreeAddr, (latHAddr, lonHAddr, varHAddr))

      val superblock = new Buf()
        .bytes(Array(0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1A, '\n'))
        .u8(0).u8(0).u8(0).u8(0).u8(0) // versions + reserved
        .u8(8).u8(8).u8(0) // sizeof offsets/lengths
        .u16(4).u16(16) // group leaf/internal K
        .u32(0L) // consistency flags
        .u64(0L).u64(Undef).u64(eof).u64(Undef)
        // root symbol-table entry: name offset, ohdr addr, cache, scratch
        .u64(0L).u64(rootAddr).u32(0L).u32(0L).bytes(new Array[Byte](16))
        .toArray
      require(superblock.length == 96, s"superblock ${superblock.length}")

      val bTree = {
        val b = new Buf
        // key describing chunk `ci` (v1 B-tree type-1 key: stored size,
        // filter mask, start offset per dim incl. the element-size dim)
        def key(ci: Int): Unit = {
          b.u32(chunkSizes(ci)).u32(0L)
          b.u64(ci.toLong * chunkRows).u64(0L).u64(0L)
        }
        // node's final key: the first key of the next subtree, or the
        // global upper bound after the last chunk
        def upperKey(nextCi: Int): Unit =
          if (nextCi < nChunks) key(nextCi)
          else {
            b.u32(0L).u32(0L)
            b.u64(nChunks.toLong * chunkRows).u64(0L).u64(0L)
          }
        for (li <- 0 until nLevels; ni <- nodesByLevel(li).indices) {
          val (fc, ec, cs, ce) = nodesByLevel(li)(ni)
          val hdf5Level = nLevels - 1 - li // leaves are level 0
          val isLeaf = hdf5Level == 0
          val n = if (isLeaf) ec - fc else ce - cs
          b.bytes("TREE".getBytes).u8(1).u8(hdf5Level).u16(n)
          val sibs = addrByLevel(li)
          b.u64(if (ni > 0) sibs(ni - 1) else Undef)
          b.u64(if (ni < sibs.length - 1) sibs(ni + 1) else Undef)
          if (isLeaf)
            for (ci <- fc until ec) { key(ci); b.u64(chunkAddrs(ci)) }
          else
            for (c <- cs until ce) {
              key(nodesByLevel(li + 1)(c)._1) // first chunk of the subtree
              b.u64(addrByLevel(li + 1)(c))
            }
          upperKey(ec)
        }
        b.toArray
      }
      require(bTree.length == bTreeSize, s"btree ${bTree.length} != $bTreeSize")

      // ------ driver pass: header + coords + btree, then stream chunks ------
      st.concat(Seq(superblock, root, latH, lonH, varH, encodeDoubles(lats),
        encodeDoubles(lons), bTree), names, emptyChunk)
    }
}
