package graft.sources.grib

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.sources.ChunkStager

/** Distributed GRIB2 ENSEMBLE writer — the sink half of the GRIB
  * surface (Grib2File reads; every other binary format already had
  * both directions). Emits edition-2 messages with grid template 3.0
  * (regular lat/lon, scan mode 0), product template 4.1 (individual
  * ensemble member; number 0 written as the control), simple packing
  * 5.0 with R=0/E=0/D=0 (so integer-valued data round-trips EXACTLY),
  * and a section-6 bitmap (indicator 0) whenever cells are missing —
  * the same subset the reader decodes and the independent python
  * writer (tools/grib2_fixture.py) produces, so the whole format
  * contract is already cross-validated.
  *
  * Staging is [[graft.sources.ChunkStager]]'s with one chunk per
  * (step, member) message: a task encodes each chunk as a complete
  * message, and the driver concatenates the staged messages.
  */
object Grib2Writer {

  /** `df`: (number int, latitude, longitude, value double) on the
    * regular grid `lats` (descending) × `lons` (ascending). Values must
    * be integer-valued in [0, 2^bpv); missing cells (absent rows or
    * NaN) become bitmap holes. `stepCol` names an optional lead-time
    * column (hours, int) — one message per (step, member), in that
    * order, completing the multi-step pair with the reader's `withStep`
    * surface; absent, every message carries the 24 h lead the legacy
    * fixtures use (byte-identical to the pre-step writer).
    */
  def writeEnsemble(df: DataFrame, path: String,
      lats: Array[Double], lons: Array[Double], bpv: Int = 16,
      stepCol: Option[String] = None): Unit = {
    require(bpv == 16, "only bpv=16 supported (the fixture/reader subset)")
    val (ni, nj) = (lons.length, lats.length)
    val la1 = lats.head
    val lo1 = lons.head
    val dj = if (nj > 1) (lats.head - lats.last) / (nj - 1) else 1.0
    val di = if (ni > 1) (lons.last - lons.head) / (ni - 1) else 1.0
    // one chunk per (step, member) message, its id (step << 8) | member
    val cells = ChunkStager.Doubles(ni * nj, Double.NaN)
    val frags = ChunkStager.onGrid(df, "latitude", "longitude", "value",
        lats, lons, cells, stepCol.map(col(_).cast("int")).getOrElse(lit(24)),
        col("number").cast("int")) { (r, i, j) =>
      val (s, m) = (r.getInt(3), r.getInt(4))
      // template 4.1's perturbation number is ONE octet: a member > 255
      // would alias another message's key (and wrap in the octet) —
      // fail loudly before packing
      require(m >= 0 && m <= 255,
        s"ensemble member $m out of the one-octet range [0, 255] (template 4.1)")
      require(s >= 0 && s <= (Int.MaxValue >> 8),
        s"lead time $s h out of [0, ${Int.MaxValue >> 8}]")
      ((s << 8) | m, i * ni + j)
    }
    def name(key: Int) = f"s${key >> 8}%05d_m${key & 0xFF}%05d.part"
    ChunkStager.singleFile(df.sparkSession, path) { st =>
      st.stage(frags, cells, 64, slot)((key, buf) =>
        encodeMessage(key & 0xFF, key >> 8, buf, ni, nj, la1, lo1, di, dj), name)
      // a GRIB file IS its messages concatenated, in (step, member) order
      val names = st.staged.keys.toSeq.sorted
      require(names.nonEmpty, s"$path: no members staged")
      st.concat(Nil, names, Array.emptyByteArray)
    }
  }

  /** The staging slot of chunk (step << 8) | member among `parts` tasks:
    * member + pmod(hash(step), parts), so the members of one step run one
    * per task and the steps start on hash-spread tasks.
    */
  private[sources] def slot(parts: Int): Column = col("chunk").bitwiseAND(0xFF) +
    pmod(hash(shiftright(col("chunk"), 8)), lit(parts))

  /** One complete edition-2 message (sections 0–8) for member `m` at
    * lead time `stepHours`.
    */
  private def encodeMessage(m: Int, stepHours: Int, grid: Array[Double],
      ni: Int, nj: Int,
      la1: Double, lo1: Double, di: Double, dj: Double): Array[Byte] = {
    def sec(num: Int, body: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(5 + body.length).order(ByteOrder.BIG_ENDIAN)
      b.putInt(5 + body.length).put(num.toByte).put(body)
      b.array()
    }
    // the present (non-NaN) cells are read from `grid` in place: a copy
    // of a message's grid is a humongous allocation
    val nPresent = grid.count(v => !v.isNaN)
    val hasHoles = nPresent != grid.length
    grid.foreach { v =>
      require(v.isNaN || v >= 0 && v < (1 << 16) && v == math.rint(v),
        s"value $v not an integer in [0, 65536) — simple packing R=0/E=0/D=0")
    }

    val s1 = sec(1, {
      val b = ByteBuffer.allocate(16).order(ByteOrder.BIG_ENDIAN)
      b.putShort(98).putShort(0).put(2.toByte).put(1.toByte).put(1.toByte)
      b.putShort(2026).put(1.toByte).put(1.toByte).put(0.toByte)
        .put(0.toByte).put(0.toByte).put(0.toByte).put(1.toByte)
      b.array()
    })
    val s3 = sec(3, {
      val b = ByteBuffer.allocate(9 + 58).order(ByteOrder.BIG_ENDIAN)
      b.put(0.toByte).putInt(ni * nj).put(0.toByte).put(0.toByte).putShort(0)
      // template 3.0
      b.put(6.toByte).put(0.toByte).putInt(0).put(0.toByte).putInt(0)
        .put(0.toByte).putInt(0)
      b.putInt(ni).putInt(nj).putInt(0).putInt(0)
      b.putInt(math.round(la1 * 1e6).toInt)
      b.putInt(math.round(lo1 * 1e6).toInt)
      b.put(0x30.toByte)
      b.putInt(math.round((la1 - (nj - 1) * dj) * 1e6).toInt)
      b.putInt(math.round((lo1 + (ni - 1) * di) * 1e6).toInt)
      b.putInt(math.round(di * 1e6).toInt)
      b.putInt(math.round(dj * 1e6).toInt)
      b.put(0.toByte) // scan mode 0: +i, -j, i fastest
      b.array()
    })
    val s4 = sec(4, {
      val b = ByteBuffer.allocate(4 + 28).order(ByteOrder.BIG_ENDIAN)
      b.putShort(0).putShort(1) // template 4.1
      b.put(0.toByte).put(192.toByte).put(2.toByte).put(0.toByte)
        .put(0.toByte).putShort(0).put(0.toByte).put(1.toByte).putInt(stepHours)
      b.put(1.toByte).put(0.toByte).putInt(0)
      b.put(255.toByte).put(0.toByte).putInt(0)
      // WMO 4.6: 1 = unperturbed control ("cf"), 3 = perturbed ("pf")
      b.put((if (m == 0) 1 else 3).toByte).put(m.toByte).put(3.toByte)
      b.array()
    })
    val s5 = sec(5, {
      val b = ByteBuffer.allocate(16).order(ByteOrder.BIG_ENDIAN)
      b.putInt(nPresent).putShort(0) // template 5.0
      b.putFloat(0.0f).putShort(0).putShort(0)
      b.put(16.toByte).put(0.toByte)
      b.array()
    })
    val s6 =
      if (!hasHoles) sec(6, Array(255.toByte))
      else sec(6, {
        val bits = new Array[Byte](1 + (grid.length + 7) / 8)
        bits(0) = 0 // indicator: bitmap applies, defined here
        grid.indices.foreach { k =>
          if (!grid(k).isNaN)
            bits(1 + (k >> 3)) = (bits(1 + (k >> 3)) | (0x80 >> (k & 7))).toByte
        }
        bits
      })
    val s7 = sec(7, {
      val b = ByteBuffer.allocate(nPresent * 2).order(ByteOrder.BIG_ENDIAN)
      grid.foreach(v => if (!v.isNaN) b.putShort(v.toInt.toShort))
      b.array()
    })
    val body = Seq(s1, s3, s4, s5, s6, s7, "7777".getBytes)
    val total = 16 + body.map(_.length).sum
    val msg = ByteBuffer.allocate(total).order(ByteOrder.BIG_ENDIAN)
    msg.put("GRIB".getBytes).putShort(0).put(0.toByte).put(2.toByte)
      .putLong(total.toLong)
    body.foreach(msg.put)
    msg.array()
  }
}
