package graft.sources.tiff

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.Deflater

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.ChunkStager

/** Distributed cloud-optimized GeoTIFF SINK — the write-back half of the
  * COG surface (reference: io_managers.py:103-110 `to_raster` +
  * `cog_translate`). Writes a classic little-endian TIFF: single band,
  * 8/16/32-bit unsigned samples, TILED layout with DEFLATE compression,
  * georeferenced by ModelPixelScaleTag + ModelTiepointTag — exactly the
  * subset `TiffFile` and the `graft-cog` DSv2 source read, and the tile
  * grid that makes the result cloud-optimized (any reader fetches one
  * tile's byte range from the IFD alone). Format: public TIFF 6.0 +
  * GeoTIFF 1.1 specs.
  *
  * Staging is [[graft.sources.ChunkStager]]'s, one chunk per tile; this
  * writer adds the tile encoders and the header/IFD/georef arrays the
  * driver writes before the staged tiles. Absent tiles (no pixels)
  * become all-nodata tiles; edge tiles are stored full-size with nodata
  * padding (the TIFF tile rule; readers clip by image dims).
  */
object TiffWriter {

  /** Deflate-compress one tile of samples at the given bit depth. */
  private[tiff] def encodeTile(samples: Array[Int], bits: Int, level: Int): Array[Byte] = {
    val bytesPer = bits / 8
    val bb = ByteBuffer.allocate(samples.length * bytesPer)
      .order(ByteOrder.LITTLE_ENDIAN)
    samples.foreach { v =>
      bits match {
        case 8 => bb.put(v.toByte)
        case 16 => bb.putShort(v.toShort)
        case 32 => bb.putInt(v)
      }
    }
    val d = new Deflater(level)
    d.setInput(bb.array())
    d.finish()
    val out = new ByteArrayOutputStream(samples.length * bytesPer / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!d.finished()) out.write(tmp, 0, d.deflate(tmp))
    d.end()
    out.toByteArray
  }

  private class Buf {
    val out = new ByteArrayOutputStream()
    def u16(v: Int): Buf = { out.write(v & 0xFF); out.write((v >> 8) & 0xFF); this }
    def u32(v: Long): Buf = {
      var i = 0
      while (i < 4) { out.write(((v >> (8 * i)) & 0xFF).toInt); i += 1 }
      this
    }
    def f64(v: Double): Buf = {
      val bits = java.lang.Double.doubleToLongBits(v)
      var i = 0
      while (i < 8) { out.write(((bits >> (8 * i)) & 0xFF).toInt); i += 1 }
      this
    }
    def bytes(b: Array[Byte]): Buf = { out.write(b); this }
    def toArray: Array[Byte] = out.toByteArray
  }

  /** Per-level geometry, computed up front from the decimation factor. */
  private case class Level(factor: Int, w: Int, h: Int,
      tilesAcross: Int, nTiles: Int)

  /** Distributed write of `df` (xCol, yCol, valCol ints) as a tiled
    * GeoTIFF at `path`. The grid is `width`×`height` pixels with pixel
    * CENTERS at `originX + (col+0.5)*scaleX`, `originY - (row+0.5)*scaleY`
    * (the graft-cog read-back convention). Missing pixels and edge-tile
    * padding become `nodata`.
    *
    * `overviews` adds reduced-resolution overview IFDs (the other half
    * of what makes a COG cloud-optimized — `cog_translate` emits them by
    * default, io_managers.py:103-110): each factor f produces a
    * ceil(w/f)×ceil(h/f) image whose pixel (c, r) is the ROUNDED MEAN of
    * the PRESENT source pixels in the f×f block (half-up in exact long
    * arithmetic: (2·sum + n) / (2·n) — cross-engine deterministic);
    * blocks with no source pixels are nodata. Overview IFDs follow the
    * GDAL convention: NewSubfileType=1, no geo tags (readers derive
    * scale from the size ratio), same tile size, chained off the main
    * IFD. Each level is computed DISTRIBUTED — one groupBy per level on
    * the shared pixel frame, then the same one-shuffle tile staging as
    * the base image.
    *
    * WARNING — `compression = "jpeg"` with `overviews`: overview PIXEL
    * VALUES are APPROXIMATE. Quality-100 JPEG round-trips exactly only
    * for 8×8-block-uniform content; mean/cubic-resampled overview tiles
    * are not block-uniform, so their re-encode is lossy (base tiles
    * stay exact). Callers gating overview values (the q128 pattern)
    * must use deflate. A WARN is logged at write time.
    */
  def writeGrid(df: DataFrame, path: String,
      xCol: String, yCol: String, valCol: String,
      originX: Double, originY: Double, scaleX: Double, scaleY: Double,
      width: Int, height: Int, tileW: Int, tileH: Int,
      bits: Int = 16, nodata: Int = 0, deflateLevel: Int = 6,
      forceBigTiff: Boolean = false, overviews: Seq[Int] = Seq.empty,
      resampling: String = "mean", compression: String = "deflate",
      jpegQuality: Int = 100): Unit = {
    require(bits == 8 || bits == 16 || bits == 32, s"bits $bits")
    require(tileW % 16 == 0 && tileH % 16 == 0,
      "TIFF tiles must be multiples of 16") // TIFF 6.0 §15
    require(compression == "deflate" || compression == "jpeg",
      s"compression must be deflate|jpeg, got $compression")
    // JPEG tiles are complete 8-bit baseline streams (compression 7 —
    // the reference's serving-pyramid codec, postprocessing.py:69);
    // quality 100 = the all-ones quant table, under which 8x8-uniform
    // content round-trips EXACTLY (JpegCodec scaladoc)
    require(compression == "deflate" || bits == 8,
      s"JPEG compression is 8-bit only, got bits=$bits")
    require(overviews.forall(_ >= 2) && overviews == overviews.sorted &&
      overviews.distinct == overviews,
      s"overview factors must be distinct, ascending, >= 2: $overviews")
    // r16 advice, resolved by LOUD warning rather than rejection (GDAL's
    // COMPRESS=JPEG serving pyramids are a real capability, spec-pinned):
    // resampled overview tiles are no longer 8×8-block-uniform, so
    // quality-100 JPEG re-encoding is LOSSY for them while base tiles
    // stay exact — a caller gating overview VALUES (the q128 pattern)
    // must use deflate. See the writeGrid scaladoc.
    if (compression == "jpeg" && overviews.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "jpeg + overviews: overview pixels are APPROXIMATE (resampled " +
          "tiles are not 8x8-uniform, their JPEG round-trip is lossy); " +
          "base tiles stay exact. Gate overview values only with deflate.")
    require(resampling == "mean" || resampling == "cubic",
      s"resampling must be mean|cubic, got $resampling")
    require(resampling == "mean" ||
      overviews.zipWithIndex.forall { case (f, i) => f == (1 << (i + 1)) },
      s"cubic overviews CASCADE by 2 (gdal_retile -levels): factors must " +
        s"be 2,4,8,…, got $overviews")
    val spark = df.sparkSession
    val levels: Seq[Level] = (1 +: overviews).map { f =>
      val (w, h) = ((width + f - 1) / f, (height + f - 1) / f)
      val ta = (w + tileW - 1) / tileW
      Level(f, w, h, ta, ta * ((h + tileH - 1) / tileH))
    }
    ChunkStager.singleFile(spark, path) { st =>
      // ------ pixel frame: the affine inversion happens ONCE; overview
      // levels re-aggregate it, so cache it when it is reused ------
      import spark.implicits._
      val pixels = df.select(col(xCol).cast("double"), col(yCol).cast("double"),
          col(valCol).cast("int"))
        .as[(Double, Double, Int)]
        .mapPartitions { it =>
          it.map { case (x, y, v) =>
            // invert the pixel-center mapping; exact when centers were
            // produced by the same affine (rint absorbs float noise)
            val pCol = math.rint((x - originX) / scaleX - 0.5).toInt
            val pRow = math.rint((originY - y) / scaleY - 0.5).toInt
            require(pCol >= 0 && pCol < width, ChunkStager.offGrid(xCol, x, width))
            require(pRow >= 0 && pRow < height, ChunkStager.offGrid(yCol, y, height))
            (pCol, pRow, v)
          }
        }
        .toDF("pc", "pr", "v")
      if (overviews.nonEmpty) pixels.cache()

      // ------ stage tiles per level: the chunk is the tile ------
      val cells = ChunkStager.Ints(tileW * tileH, nodata)
      def encode(buf: Array[Int]): Array[Byte] =
        if (compression == "jpeg") JpegCodec.encodeGray(buf, tileW, tileH, jpegQuality)
        else encodeTile(buf, bits, deflateLevel)
      def name(lvl: Int)(t: Int) = s"L$lvl-tile-%05d".format(t)
      def stage(lvl: Int, lv: Level, px: DataFrame): Unit = {
        val (ta, tw, th) = (lv.tilesAcross, tileW, tileH)
        val keyed = px.select(
          ((col("pr").cast("int") / th).cast("int") * ta +
            (col("pc").cast("int") / tw).cast("int")).as("chunk"),
          (pmod(col("pr"), lit(th)) * tw + pmod(col("pc"), lit(tw)))
            .cast("int").as("local"),
          col("v").cast("int"))
        st.stage(ChunkStager.fragments(keyed, cells), cells, lv.nTiles)(
          (_, buf) => encode(buf), name(lvl))
      }
      stage(0, levels.head, pixels)
      if (resampling == "cubic") {
        // gdal_retile-style CASCADE: each level is the 2× cubic kernel over
        // the PREVIOUS level's rounded integer pixels (GridOps
        // .cubicDownsample2x — exact integer numerators; half-up rounding
        // floor((num+128)/256) stays exact because |num+128| ≪ 2^53, and
        // the result clamps to the sample range like any integer raster
        // write). Each level caches only until its child is staged.
        var prev = pixels
        var (pw, ph) = (width, height)
        levels.zipWithIndex.drop(1).foreach { case (lv, lvl) =>
          // 32-bit samples ride in signed Int pixels; clamp to what fits
          val maxV = if (bits == 32) Int.MaxValue.toLong else (1L << bits) - 1
          val ov = graft.operators.GridOps
            .cubicDownsample2x(prev, "pc", "pr", "v", pw, ph, nodata)
            .select(col("pc"), col("pr"),
              greatest(lit(0L), least(lit(maxV),
                floor((col("num") + lit(128L)) / lit(256.0)).cast("long")))
                .cast("int").as("v"))
            .cache()
          stage(lvl, lv, ov)
          if (prev ne pixels) prev.unpersist(blocking = false)
          prev = ov
          pw = lv.w; ph = lv.h
        }
        if (prev ne pixels) prev.unpersist(blocking = false)
      } else levels.zipWithIndex.drop(1).foreach { case (lv, lvl) =>
        val f = lv.factor
        // rounded mean of present source pixels, exact long arithmetic
        val ov = pixels.groupBy(
            (col("pc") / f).cast("int").as("pc"),
            (col("pr") / f).cast("int").as("pr"))
          .agg((((sum(col("v").cast("long")) * 2 + count(lit(1))) /
            (count(lit(1)) * 2)).cast("int")).as("v"))
        stage(lvl, lv, ov)
      }
      if (overviews.nonEmpty) pixels.unpersist(blocking = false)

      val emptyTile = encode(cells.alloc())
      val names: Seq[Seq[String]] = levels.zipWithIndex.map { case (lv, lvl) =>
        (0 until lv.nTiles).map(name(lvl))
      }
      val tileSizes: Seq[Array[Long]] = names.map(st.sizes(_, emptyTile))

      // ------ layout. Classic TIFF (magic 42, u32 offsets) up to 4 GB;
      // BigTIFF (magic 43, u64 offsets, LONG8 arrays) beyond — selected
      // automatically so a big enough grid never wraps its offsets.
      // File order: header, [IFD + offset/count arrays (+ geo arrays,
      // level 0 only)] per level, then all tile data level by level. ------
      def nEntries(lvl: Int) = if (lvl == 0) 13 else 12 // ov: +254, -geo tags
      val dataBytes = tileSizes.map(_.sum).sum
      val classicFixed = 8L + levels.indices.map { lvl =>
        (2 + nEntries(lvl) * 12 + 4).toLong + 8L * levels(lvl).nTiles +
          (if (lvl == 0) 24 + 48 else 0)
      }.sum
      val big = forceBigTiff || classicFixed + dataBytes > 0xFFFFFFFFL
      val offSz = if (big) 8 else 4 // size of an offset/count array slot
      def ifdSize(lvl: Int) =
        if (big) 8 + nEntries(lvl) * 20 + 8
        else 2 + nEntries(lvl) * 12 + 4
      // per-level metadata block offsets, laid out sequentially
      case class Meta(ifdOff: Long, offsetsOff: Long, countsOff: Long,
          scaleOff: Long, tiepointOff: Long, end: Long)
      val metas: Seq[Meta] = levels.indices.foldLeft(Seq.empty[Meta]) { (acc, lvl) =>
        val base = acc.lastOption.map(_.end).getOrElse(if (big) 16L else 8L)
        val offsetsOff = base + ifdSize(lvl)
        val countsOff = offsetsOff + offSz.toLong * levels(lvl).nTiles
        val geoOff = countsOff + offSz.toLong * levels(lvl).nTiles
        val end = if (lvl == 0) geoOff + 24L + 48L else geoOff
        acc :+ Meta(base, offsetsOff, countsOff, geoOff, geoOff + 24L, end)
      }
      val tile0Off = metas.last.end
      // absolute tile offsets, all levels concatenated in file order
      val levelTile0: Seq[Long] = tileSizes.scanLeft(tile0Off)(_ + _.sum)
      val tileOffs: Seq[Array[Long]] = tileSizes.zipWithIndex.map { case (ts, lvl) =>
        ts.scanLeft(levelTile0(lvl))(_ + _)
      }

      val head = {
        val b = new Buf
        def off(v: Long): Unit = if (big) { b.u32(v & 0xFFFFFFFFL); b.u32(v >>> 32) } else b.u32(v)
        if (big) b.bytes(Array('I', 'I').map(_.toByte)).u16(43).u16(8).u16(0)
        else b.bytes(Array('I', 'I').map(_.toByte)).u16(42)
        off(metas.head.ifdOff)
        for (lvl <- levels.indices) {
          val lv = levels(lvl)
          val m = metas(lvl)
          val nT = lv.nTiles
          if (big) off(nEntries(lvl).toLong) else b.u16(nEntries(lvl))
          // entries MUST be ascending by tag (TIFF 6.0 §2)
          def entry(tag: Int, typ: Int, cnt: Long, value: Long): Unit = {
            b.u16(tag).u16(typ)
            if (big) { off(cnt); off(value) } else { b.u32(cnt); b.u32(value) }
          }
          def shortEntry(tag: Int, v: Int): Unit = entry(tag, 3, 1, v.toLong)
          val arrTyp = if (big) 16 else 4 // LONG8 vs LONG offset/count arrays
          if (lvl > 0) entry(254, 4, 1, 1L) // NewSubfileType: reduced-resolution
          entry(256, 4, 1, lv.w.toLong)
          entry(257, 4, 1, lv.h.toLong)
          shortEntry(258, bits)
          shortEntry(259, if (compression == "jpeg") 7 else 8) // 7=JPEG/8=deflate
          shortEntry(262, 1) // BlackIsZero
          shortEntry(277, 1) // one sample per pixel
          shortEntry(322, tileW)
          shortEntry(323, tileH)
          if (nT == 1) { // count-1 values live inline
            entry(324, arrTyp, 1, tileOffs(lvl)(0))
            entry(325, arrTyp, 1, tileSizes(lvl)(0))
          } else {
            entry(324, arrTyp, nT.toLong, m.offsetsOff)
            entry(325, arrTyp, nT.toLong, m.countsOff)
          }
          shortEntry(339, 1) // SampleFormat: unsigned
          if (lvl == 0) {
            entry(33550, 12, 3, m.scaleOff)
            entry(33922, 12, 6, m.tiepointOff)
          }
          // next IFD in the overview chain, 0 at the end
          off(if (lvl + 1 < levels.size) metas(lvl + 1).ifdOff else 0L)
          // external value arrays (written even in the 1-tile inline case —
          // the fixed layout keeps offsets simple; 16 dead bytes at most)
          tileOffs(lvl).take(nT).foreach(off)
          tileSizes(lvl).foreach(off)
          if (lvl == 0) {
            b.f64(scaleX).f64(scaleY).f64(0.0)
            // tiepoint: raster (0,0) -> geo (originX, originY)
            b.f64(0.0).f64(0.0).f64(0.0).f64(originX).f64(originY).f64(0.0)
          }
        }
        b.toArray
      }
      require(head.length == tile0Off, s"header ${head.length} != $tile0Off")
      require(big || tileOffs.last.last <= 0xFFFFFFFFL,
        s"$path: classic layout overflowed unexpectedly")

      // ------ driver pass: header, then stream staged tiles ------
      st.concat(Seq(head), names.flatten, emptyTile)
    }
  }
}
