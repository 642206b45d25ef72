package graft.sources.grib

import java.nio.{ByteBuffer, ByteOrder}
import graft.sources.SeekableInput

/** Minimal pure-JVM GRIB2 reader for the subset ECMWF ensemble output
  * uses (format: the public WMO FM 92 GRIB edition 2 specification):
  * regular lat/lon grids (grid definition template 3.0), deterministic
  * and individual-ensemble forecasts (product definition templates 4.0
  * and 4.1 — 4.1 carries the control/perturbed flag and the member
  * number the reference filters on with
  * `filter_by_keys={'dataType': 'cf'|'pf'}`, io_managers.py:193-210;
  * 4.0 is the plain-forecast form real CDS control downloads sometimes
  * use and maps to cf/0), simple packing (data representation template
  * 5.0) plus grid-point complex packing without and with spatial
  * differencing (5.2 and 5.3, orders 1-2 — what actual CDS GloFAS GRIBs
  * ship), and section-6 bitmaps (indicator 0 — masked points decode to
  * NaN, cfgrib-style; indicator 254 "previously defined" is rejected).
  *
  * A GRIB2 file is a sequence of self-contained messages — one per
  * (member, step) field — which makes the natural cluster read unit the
  * MESSAGE: `index()` walks only the fixed-size section headers to plan,
  * and each executor task decodes exactly one message's packed payload
  * via positional reads. Signed GRIB integers are sign-and-magnitude
  * (MSB = sign flag), not two's complement.
  */
object Grib2File {

  /** Planning-time view of one message: everything except the decoded
    * payload (headers only — the data section is not read).
    */
  case class MessageInfo(
      offset: Long, length: Long,
      dataType: String, // "cf" (control) | "pf" (perturbed)
      number: Int,      // perturbation number
      ni: Int, nj: Int, // lon cells, lat rows
      la1: Double, lo1: Double, di: Double, dj: Double,
      stepHours: Int = 0) // forecast lead time (product template octets 18-22)

  /** A fully-decoded message: values in row-major (j lat outer — north
    * to south for scanning mode 0 — i lon inner) order.
    */
  case class Message(info: MessageInfo, values: Array[Double])

  private def u8(b: ByteBuffer, i: Int): Int = b.get(i) & 0xFF
  private def u16(b: ByteBuffer, i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def u32(b: ByteBuffer, i: Int): Long =
    (u16(b, i).toLong << 16) | u16(b, i + 2)
  private def u64(b: ByteBuffer, i: Int): Long =
    (u32(b, i) << 32) | u32(b, i + 4)

  /** GRIB signed fields: MSB is a sign FLAG over the magnitude bits. */
  private def s16(b: ByteBuffer, i: Int): Int = {
    val v = u16(b, i)
    if ((v & 0x8000) != 0) -(v & 0x7FFF) else v
  }
  private def s32(b: ByteBuffer, i: Int): Long = {
    val v = u32(b, i)
    if ((v & 0x80000000L) != 0) -(v & 0x7FFFFFFFL) else v
  }

  private def readAt(ch: SeekableInput, off: Long, len: Int): ByteBuffer =
    ch.readAt(off, len).order(ByteOrder.BIG_ENDIAN)

  /** Offsets + header metadata of every message in the file. Touches
    * only section headers (a few hundred bytes per message), never the
    * packed data — this is the GRIB "index" a scheduler builds before
    * fanning decode tasks out.
    */
  def index(path: String): Seq[MessageInfo] = {
    val ch = SeekableInput.open(path)
    try {
      val size = ch.size
      val out = Seq.newBuilder[MessageInfo]
      var off = 0L
      while (off + 16 <= size) {
        val ind = readAt(ch, off, 16)
        require(ind.get(0) == 'G' && ind.get(1) == 'R' &&
          ind.get(2) == 'I' && ind.get(3) == 'B',
          s"$path: no GRIB magic at offset $off")
        require(u8(ind, 7) == 2, s"$path: GRIB edition ${u8(ind, 7)}, need 2")
        val msgLen = u64(ind, 8)
        // a corrupt zero/short length would stall the walk at this offset
        require(msgLen >= 16, s"$path: message length $msgLen at offset $off")
        out += parseHeaders(ch, off, msgLen)
        off += msgLen
      }
      out.result()
    } finally ch.close()
  }

  /** Walk sections 1..5 of the message at `off`, collecting the grid,
    * ensemble, and packing metadata.
    */
  private def parseHeaders(ch: SeekableInput, off: Long, msgLen: Long): MessageInfo = {
    var cur = off + 16
    var ni = 0; var nj = 0
    var la1 = 0.0; var lo1 = 0.0; var di = 0.0; var dj = 0.0
    var dataType = ""; var number = -1; var stepHours = 0
    val end = off + msgLen
    var done = false
    while (!done && cur < end) {
      val head = readAt(ch, cur, 4) // "7777" is only 4 bytes — check first
      val secLen = u32(head, 0)
      if (secLen == 0x37373737L) { // "7777" terminator
        done = true
      } else {
        val secNum = u8(readAt(ch, cur + 4, 1), 0)
        secNum match {
          case 3 =>
            val s = readAt(ch, cur, secLen.toInt)
            require(u16(s, 12) == 0,
              s"grid template ${u16(s, 12)} unsupported (need 3.0 lat/lon)")
            ni = u32(s, 30).toInt
            nj = u32(s, 34).toInt
            la1 = s32(s, 46) / 1e6
            lo1 = u32(s, 50) / 1e6
            di = u32(s, 63) / 1e6
            dj = u32(s, 67) / 1e6
            val scan = u8(s, 71)
            require(scan == 0,
              s"scanning mode $scan unsupported (need 0: +i, -j, i fastest)")
          case 4 =>
            val s = readAt(ch, cur, secLen.toInt)
            u16(s, 7) match {
              case 0 =>
                // plain deterministic forecast: the shape CDS serves when
                // the control member is requested alone — cfgrib exposes
                // it as dataType=cf, number=0
                dataType = "cf"; number = 0
              case 1 =>
                val ensType = u8(s, 34)
                number = u8(s, 35)
                // WMO code table 4.6: 0/1 = unperturbed control, 2/3 = perturbed
                dataType = if (ensType <= 1) "cf" else "pf"
              case t =>
                sys.error(s"product template $t unsupported (need 4.0 or 4.1)")
            }
            // forecast lead time: templates 4.0/4.1 share octets 18 (time
            // unit, code table 4.4) and 19-22 (forecast time) — the value
            // cfgrib surfaces as `step`. Normalized to hours.
            val ft = s32(s, 18)
            stepHours = (u8(s, 17) match {
              case 0 => require(ft % 60 == 0, s"sub-hour step $ft min"); ft / 60
              case 1 => ft
              case 2 => ft * 24
              case 10 => ft * 3
              case 11 => ft * 6
              case 12 => ft * 12
              case 13 => require(ft % 3600 == 0, s"sub-hour step $ft s"); ft / 3600
              case u => sys.error(s"time unit $u unsupported (code table 4.4)")
            }).toInt
          case 5 =>
            val s = readAt(ch, cur, secLen.toInt)
            val t = u16(s, 9)
            // DECISION (round 7): template 5.40 (JPEG2000) is rejected,
            // not decoded. A correct lossless J2K decoder (EBCOT/MQ
            // arithmetic coding + 5/3 wavelet) is ~thousands of lines of
            // error-prone codec with no JDK support, and the products we
            // target (GloFAS CDS) ship simple/complex/PNG packing — all
            // covered. The rejection is loud and actionable: it names
            // the one-line eccodes repack (tools/grib2_j2k_repack.sh)
            // that converts 5.40 files to 5.2 losslessly out-of-band.
            // Mirrors cfgrib's honest posture: eccodes itself shells to
            // openjpeg for 5.40 (reference io_managers.py:193-210 relies
            // on that C dependency; we document the same boundary
            // instead of hiding it).
            if (t == 40) sys.error(
              "packing template 5.40 (JPEG2000) unsupported: no pure-JVM " +
                "J2K codec; repack losslessly with tools/grib2_j2k_repack.sh " +
                "(eccodes grib_set packingType=grid_complex), then re-read")
            require(t == 0 || t == 2 || t == 3 || t == 41,
              s"packing template $t unsupported (need 5.0 simple, 5.2/5.3 complex, or 5.41 PNG)")
          case _ => () // 1 identification, 6 bitmap, 7 data: not needed here
        }
        // zero/short section lengths would stall the walk at this offset
        require(secLen >= 5, s"section length $secLen at offset $cur")
        cur += secLen
      }
    }
    require(ni > 0 && nj > 0, s"message at $off: no grid definition section")
    require(number >= 0, s"message at $off: no ensemble product section")
    MessageInfo(off, msgLen, dataType, number, ni, nj, la1, lo1, di, dj, stepHours)
  }

  /** Big-endian bitstream over a section buffer, starting at byte
    * `base` — the shape every GRIB2 packed payload uses.
    */
  private final class BitReader(buf: ByteBuffer, base: Int) {
    private var bitPos = 0
    def take(bits: Int): Long = {
      var x = 0L
      var taken = 0
      while (taken < bits) {
        val byteIdx = base + (bitPos >> 3)
        val bitInByte = bitPos & 7
        val avail = 8 - bitInByte
        val t = math.min(avail, bits - taken)
        val chunk = (u8(buf, byteIdx) >> (avail - t)) & ((1 << t) - 1)
        x = (x << t) | chunk
        taken += t
        bitPos += t
      }
      x
    }
    /** Skip to the next byte boundary (the spec pads each of the group
      * reference/width/length vectors to whole octets).
      */
    def align(): Unit = bitPos = (bitPos + 7) & ~7
    /** Sign-and-magnitude integer stored in `octets` whole bytes (the
      * encoding template 7.3's extra descriptors use).
      */
    def signMagnitude(octets: Int): Long = {
      val raw = take(octets * 8)
      val signBit = 1L << (octets * 8 - 1)
      if ((raw & signBit) != 0) -(raw & (signBit - 1)) else raw
    }
  }

  /** All of data-representation section 5 needed to decode section 7. */
  private case class Packing(
      template: Int, nVals: Int, refVal: Float, binScale: Int, decScale: Int,
      bpv: Int,
      // complex packing (5.2/5.3)
      nGroups: Int, refGroupWidth: Int, bitsGroupWidth: Int,
      refGroupLen: Long, lenIncrement: Int, lastGroupLen: Long,
      bitsGroupLen: Int,
      // spatial differencing (5.3)
      sdOrder: Int, sdOctets: Int)

  private def parseSection5(s: ByteBuffer): Packing = {
    val template = u16(s, 9)
    val base = Packing(
      template = template,
      nVals = u32(s, 5).toInt,
      refVal = java.lang.Float.intBitsToFloat(u32(s, 11).toInt),
      binScale = s16(s, 15), decScale = s16(s, 17), bpv = u8(s, 19),
      nGroups = 0, refGroupWidth = 0, bitsGroupWidth = 0,
      refGroupLen = 0L, lenIncrement = 0, lastGroupLen = 0L, bitsGroupLen = 0,
      sdOrder = 0, sdOctets = 0)
    template match {
      case 0 => base
      // 5.41 PNG packing: scalar fields identical to 5.0; the data
      // section holds a PNG image of the scaled values
      case 41 => base
      case 2 | 3 =>
        require(u8(s, 22) == 0,
          "missing-value management unsupported (octet 23 != 0)")
        val withGroups = base.copy(
          nGroups = u32(s, 31).toInt,
          refGroupWidth = u8(s, 35), bitsGroupWidth = u8(s, 36),
          refGroupLen = u32(s, 37), lenIncrement = u8(s, 41),
          lastGroupLen = u32(s, 42), bitsGroupLen = u8(s, 46))
        if (template == 2) withGroups
        else {
          val order = u8(s, 47)
          require(order == 1 || order == 2,
            s"spatial differencing order $order unsupported (need 1 or 2)")
          withGroups.copy(sdOrder = order, sdOctets = u8(s, 48))
        }
      case t => sys.error(s"packing template $t unsupported")
    }
  }

  /** Grid-point complex packing (templates 7.2/7.3): NG per-group
    * reference values, then NG group widths, then NG scaled group
    * lengths (each vector byte-padded), then each group's values packed
    * contiguously at its own width. Template 7.3 prefixes the stream
    * with the first `order` original scaled values and the overall
    * minimum of the differences (sign-and-magnitude, `sdOctets` bytes
    * each) and stores differenced data in the groups.
    */
  private def decodeComplex(s: ByteBuffer, p: Packing): Array[Long] = {
    val br = new BitReader(s, 5)
    var h1 = 0L; var h2 = 0L; var gmin = 0L
    if (p.template == 3) {
      h1 = br.signMagnitude(p.sdOctets)
      if (p.sdOrder == 2) h2 = br.signMagnitude(p.sdOctets)
      gmin = br.signMagnitude(p.sdOctets)
    }
    val ng = p.nGroups
    val grefs = new Array[Long](ng)
    var g = 0
    while (g < ng) { grefs(g) = if (p.bpv > 0) br.take(p.bpv) else 0L; g += 1 }
    br.align()
    val gwidths = new Array[Int](ng)
    g = 0
    while (g < ng) {
      gwidths(g) = p.refGroupWidth +
        (if (p.bitsGroupWidth > 0) br.take(p.bitsGroupWidth).toInt else 0)
      g += 1
    }
    br.align()
    val glens = new Array[Long](ng)
    g = 0
    while (g < ng) {
      glens(g) = p.refGroupLen + p.lenIncrement *
        (if (p.bitsGroupLen > 0) br.take(p.bitsGroupLen) else 0L)
      g += 1
    }
    if (ng > 0) glens(ng - 1) = p.lastGroupLen
    br.align()
    val xs = new Array[Long](p.nVals)
    var k = 0
    g = 0
    while (g < ng) {
      val w = gwidths(g)
      var n = 0L
      while (n < glens(g)) {
        if (k >= p.nVals) failed(s"group lengths exceed $k >= ${p.nVals} values")
        xs(k) = grefs(g) + (if (w > 0) br.take(w) else 0L)
        k += 1
        n += 1
      }
      g += 1
    }
    require(k == p.nVals, s"group lengths cover $k of ${p.nVals} values")
    if (p.template == 3) {
      // undo spatial differencing (template 7.3 reconstruction):
      // first `order` values arrive verbatim in the prelude; every later
      // value is its difference-from-prediction plus the stored minimum
      if (p.sdOrder == 1) {
        xs(0) = h1
        k = 1
        while (k < p.nVals) { xs(k) = xs(k) + gmin + xs(k - 1); k += 1 }
      } else {
        xs(0) = h1
        if (p.nVals > 1) xs(1) = h2
        k = 2
        while (k < p.nVals) {
          xs(k) = xs(k) + gmin + 2 * xs(k - 1) - xs(k - 2)
          k += 1
        }
      }
    }
    xs
  }

  /** PNG packing (template 7.41): the data section holds a PNG image of
    * the scaled values X, decoded via javax.imageio (pure JVM). Sample
    * depth follows the encoder's bits-per-value: 1-8 → 8-bit grayscale,
    * 9-16 → 16-bit grayscale, 24/32 → RGB/RGBA with X packed across the
    * bands big-endian-wise (spec: WMO template 5.41/7.41). Pixels are
    * the grid points in row-major scan order.
    */
  private def decodePng(s: ByteBuffer, p: Packing): Array[Long] = {
    val png = new Array[Byte](s.limit() - 5)
    var i = 0
    while (i < png.length) { png(i) = s.get(5 + i); i += 1 }
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    require(img != null, "undecodable PNG-packed data section")
    val raster = img.getRaster
    val w = img.getWidth
    val h = img.getHeight
    val bands = raster.getNumBands
    // compare in Long: hostile dims could overflow an Int product and slip
    // past the guard (the loop below would still throw, but not with this
    // message)
    require(w.toLong * h == p.nVals.toLong,
      s"PNG dims ${w}x$h carry ${w.toLong * h} pixels for ${p.nVals} values")
    val xs = new Array[Long](p.nVals)
    var k = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        // grayscale: the single sample IS X (8 or 16 bit); RGB/RGBA:
        // X packs across the 8-bit bands, first band most significant
        var v = raster.getSample(x, y, 0).toLong
        var b = 1
        while (b < bands) { v = (v << 8) | raster.getSample(x, y, b); b += 1 }
        xs(k) = v
        k += 1
        x += 1
      }
      y += 1
    }
    xs
  }

  /** `require`'s exception and message, for checks inside the decode
    * loops, where `require`'s by-name message would cost a closure per
    * element.
    */
  private def failed(msg: String): Nothing =
    throw new IllegalArgumentException(s"requirement failed: $msg")

  /** Simple packing (template 7.0): `nVals` big-endian unsigned
    * integers of `bpv` bits, packed from octet 6 of the data section.
    * Fails unless the section holds them all.
    */
  private def checkSimple(s: ByteBuffer, p: Packing): Unit = {
    require(p.bpv > 0 && p.bpv <= 32, s"bits-per-value ${p.bpv} unsupported")
    val need = (p.nVals.toLong * p.bpv + 7) / 8
    if (s.limit() - 5L < need)
      failed(s"data section holds ${s.limit() - 5} of $need packed bytes " +
        s"(${p.nVals} values at ${p.bpv} bits)")
  }

  /** Section 6 (indicator 0) over the `n` grid points: an MSB-first bit
    * per point, set where a value is present. It must set exactly one
    * bit per packed value.
    */
  private def checkBitmap(bitmap: ByteBuffer, nVals: Int, n: Int): Unit = {
    require(bitmap.limit() - 6 >= (n + 7) / 8,
      s"bitmap too short: ${bitmap.limit() - 6} bytes for $n points")
    var set = 0
    var b = 0
    while (b < n / 8) { set += Integer.bitCount(bitmap.get(6 + b) & 0xFF); b += 1 }
    if (n % 8 != 0) set += Integer.bitCount(bitmap.get(6 + b) & (0xFF << (8 - n % 8)) & 0xFF)
    if (set > nVals) failed(s"bitmap sets more bits than $nVals >= $nVals packed values")
    require(set == nVals, s"bitmap covers $set of $nVals packed values")
  }

  /** The message's values in one array: each packed X (from `xs`, or
    * straight from a simple-packed section when `xs` is null) scaled to
    * (R + X * 2^E) * 10^-D, then, under a bitmap, spread over the `n`
    * grid points with NaN where a bit is clear. The present values fill
    * the front of the array and spread in place from the back; a value
    * never moves to a lower index, so none is overwritten before it moves.
    */
  private def decodeValues(s: ByteBuffer, p: Packing, xs: Array[Long],
      bitmap: ByteBuffer, n: Int): Array[Double] = {
    val scale = math.pow(2.0, p.binScale) * math.pow(10.0, -p.decScale)
    val r = p.refVal * math.pow(10.0, -p.decScale)
    val out = new Array[Double](if (bitmap == null) p.nVals else n)
    var k = 0
    if (xs != null) while (k < p.nVals) { out(k) = r + xs(k) * scale; k += 1 }
    else if (p.bpv == 16) {
      // whole 16-bit values, the common width, read byte-aligned
      while (k < p.nVals) { out(k) = r + (s.getShort(5 + 2 * k) & 0xFFFFL) * scale; k += 1 }
    } else {
      val br = new BitReader(s, 5)
      while (k < p.nVals) { out(k) = r + br.take(p.bpv) * scale; k += 1 }
    }
    if (bitmap != null) {
      var src = p.nVals - 1
      var i = n - 1
      while (i >= 0) {
        if (((bitmap.get(6 + (i >> 3)) >> (7 - (i & 7))) & 1) == 1) {
          out(i) = out(src)
          src -= 1
        } else out(i) = Double.NaN
        i -= 1
      }
    }
    out
  }

  /** Decode the packed payload of one message:
    * value = (R + X * 2^E) * 10^-D with X either a flat big-endian
    * `bitsPerValue`-wide bitstream (template 7.0) or group-unpacked
    * complex data, optionally spatially differenced (7.2/7.3).
    *
    * Bitmap section 6: indicator 255 = none; indicator 0 = an MSB-first
    * bit per grid point (1 = datum present, 0 = missing) follows in this
    * section, and section 5's nVals counts only the PRESENT points. The
    * decoded stream is expanded back to the full ni*nj grid with NaN at
    * masked points — exactly how cfgrib/eccodes surface masked CDS
    * fields (reference: io_managers.py:193-210 reads them as NaN).
    * Indicator 254 ("previously defined bitmap") is rejected: it refers
    * to mutable decoder state across messages, which breaks the
    * one-message-per-task parallel read unit.
    */
  def read(path: String, info: MessageInfo): Message = {
    val ch = SeekableInput.open(path)
    try {
      var cur = info.offset + 16
      val end = info.offset + info.length
      var packing: Packing = null
      var bitmap: ByteBuffer = null // section 6 bytes when indicator == 0
      var values: Array[Double] = null
      var done = false
      while (!done && cur < end) {
        val head = readAt(ch, cur, 4)
        val secLen = u32(head, 0)
        if (secLen == 0x37373737L) { done = true }
        else {
          // stall/bounds guard BEFORE touching the section body: a tiny
          // secLen on a handled section must fail with this message, not
          // an incidental IndexOutOfBounds deep in a parser
          require(secLen >= 5, s"section length $secLen at offset $cur")
          u8(readAt(ch, cur + 4, 1), 0) match {
            case 5 =>
              packing = parseSection5(readAt(ch, cur, secLen.toInt))
            case 6 =>
              val s = readAt(ch, cur, secLen.toInt)
              u8(s, 5) match {
                case 255 => () // no bitmap
                case 0   => bitmap = s // bits start at octet 7 (index 6)
                case ind => sys.error(
                  s"bitmap indicator $ind unsupported (need 0 or 255)")
              }
            case 7 =>
              val s = readAt(ch, cur, secLen.toInt)
              val p = packing
              require(p != null, "data section before representation section")
              val xs: Array[Long] =
                if (p.template == 0) { checkSimple(s, p); null }
                else if (p.template == 41) decodePng(s, p)
                else decodeComplex(s, p)
              if (bitmap != null) checkBitmap(bitmap, p.nVals, info.ni * info.nj)
              values = decodeValues(s, p, xs, bitmap, info.ni * info.nj)
            case _ => ()
          }
          cur += secLen
        }
      }
      require(values != null, s"message at ${info.offset}: no data section")
      require(values.length == info.ni * info.nj,
        s"decoded ${values.length} values for ${info.ni}x${info.nj} grid")
      Message(info, values)
    } finally ch.close()
  }
}
