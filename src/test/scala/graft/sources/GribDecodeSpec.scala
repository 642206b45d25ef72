package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files

import graft.SparkSpec
import graft.sources.grib.{Grib2File, Grib2Writer}

/** GRIB2 data-section decoding at the edges: bitmap/value mismatches
  * and truncated data sections fail with their messages, every simple
  * packing width decodes exactly, and the complex, PNG, bitmap and
  * scaled fixtures decode to the same bits as before.
  */
class GribDecodeSpec extends SparkSpec {
  import spark.implicits._

  private val lats = Array.tabulate(5)(i => 42.0 - i * 0.5)
  private val lons = Array.tabulate(7)(j => 3.0 + j * 0.5)

  /** One writer-made message (member 0) of 16-bit simple packing; with
    * `holes` every third cell is missing, which adds a bitmap.
    */
  private def message(holes: Boolean): Array[Byte] = {
    val cells = for {
      i <- lats.indices; j <- lons.indices
      if !holes || (i * lons.length + j) % 3 != 0
    } yield (0, lats(i), lons(j), ((i * 31 + j * 7) % 997).toDouble)
    val path = Files.createTempDirectory("graft-gribdec").resolve("m.grib2").toString
    Grib2Writer.writeEnsemble(cells.toDF("number", "latitude", "longitude", "value"),
      path, lats, lons)
    Files.readAllBytes(java.nio.file.Paths.get(path))
  }

  /** Sections 1–7 of a one-message file, each with its 5-byte header. */
  private def sections(msg: Array[Byte]): Seq[Array[Byte]] = {
    val b = ByteBuffer.wrap(msg).order(ByteOrder.BIG_ENDIAN)
    Iterator.iterate(16)(cur => cur + b.getInt(cur))
      .takeWhile(cur => b.getInt(cur) != 0x37373737)
      .map(cur => java.util.Arrays.copyOfRange(msg, cur, cur + b.getInt(cur)))
      .toSeq
  }

  /** A message of `secs` (section headers' lengths rewritten). */
  private def assemble(secs: Seq[Array[Byte]]): Array[Byte] = {
    val body = secs.map { s =>
      ByteBuffer.wrap(s).order(ByteOrder.BIG_ENDIAN).putInt(0, s.length)
      s
    }.reduce(_ ++ _) ++ "7777".getBytes
    val s0 = ByteBuffer.allocate(16).order(ByteOrder.BIG_ENDIAN)
    s0.put("GRIB".getBytes).putShort(0).put(0.toByte).put(2.toByte)
      .putLong(16L + body.length)
    s0.array() ++ body
  }

  private def num(s: Array[Byte]): Int = s(4) & 0xFF

  private def edit(msg: Array[Byte], n: Int)(f: Array[Byte] => Array[Byte]): Array[Byte] =
    assemble(sections(msg).map(s => if (num(s) == n) f(s.clone()) else s))

  private def decode(msg: Array[Byte]): Array[Double] = {
    val f = Files.createTempFile("graft-gribdec", ".grib2")
    Files.write(f, msg)
    val info = Grib2File.index(f.toString).head
    Grib2File.read(f.toString, info).values
  }

  private def nVals(s5: Array[Byte]): Int =
    ByteBuffer.wrap(s5).order(ByteOrder.BIG_ENDIAN).getInt(5)

  test("a bitmap setting more bits than there are packed values fails") {
    val msg = message(holes = true)
    val bad = edit(msg, 5) { s =>
      ByteBuffer.wrap(s).order(ByteOrder.BIG_ENDIAN).putInt(5, nVals(s) - 1)
      s
    }
    val e = intercept[IllegalArgumentException](decode(bad))
    assert(e.getMessage.contains("bitmap sets more bits than 22 >= 22 packed values"),
      e.getMessage)
  }

  test("a bitmap covering fewer points than the packed values fails") {
    val msg = message(holes = true)
    // clear the last set bit: the grid's last cell (34) is present
    val bad = edit(msg, 6) { s =>
      s(6 + 34 / 8) = (s(6 + 34 / 8) & ~(0x80 >> (34 % 8))).toByte
      s
    }
    val e = intercept[IllegalArgumentException](decode(bad))
    assert(e.getMessage.contains("bitmap covers 22 of 23 packed values"), e.getMessage)
  }

  test("a truncated 16-bit data section fails loudly, not out of bounds") {
    val msg = message(holes = false)
    val bad = edit(msg, 7)(s => s.take(s.length - 3))
    val e = intercept[Exception](decode(bad))
    assert(!e.isInstanceOf[IndexOutOfBoundsException], e.toString)
    assert(e.isInstanceOf[IllegalArgumentException], e.toString)
    assert(e.getMessage.contains("data section holds 67 of 70 packed bytes"), e.getMessage)
  }

  test("every other simple-packing width decodes through the bit reader") {
    val msg = message(holes = false)
    val n = lats.length * lons.length
    for (bpv <- Seq(1, 7, 11, 13, 24, 31, 32)) {
      val xs = Array.tabulate(n)(k => (k * 2654435761L) & ((1L << bpv) - 1))
      // big-endian bit packing of xs at bpv bits, zero-padded to a byte
      val packed = new Array[Byte](((n.toLong * bpv + 7) / 8).toInt)
      var bit = 0L
      for (x <- xs; b <- (bpv - 1) to 0 by -1) {
        if (((x >> b) & 1) == 1)
          packed((bit >> 3).toInt) = (packed((bit >> 3).toInt) | (0x80 >> (bit & 7))).toByte
        bit += 1
      }
      val repacked = assemble(sections(msg).map { s =>
        num(s) match {
          case 5 => val c = s.clone(); c(19) = bpv.toByte; c
          case 7 => s.take(5) ++ packed
          case _ => s
        }
      })
      assert(decode(repacked).toSeq == xs.map(_.toDouble).toSeq, s"bpv=$bpv")
    }
  }

  test("fixture decodes are bit-equal to their recorded digests") {
    // MD5 of each message's decoded doubles (raw IEEE bits, big-endian)
    val want = Map(
      "ens_complex" -> Seq("c7761a314c089ebbeaab37dbb4e33290",
        "e032c3e7ec7e97ad8bd70af81d402ccd", "9bad525f6156559158850826d3c56219"),
      "ens_png" -> Seq("f674098a178950f6215a3d6fcb8fecd8",
        "c6f628b7f660511a8aa470997cbd8113"),
      "ens_bitmap" -> Seq("f4552c4d34365ad2f4dfbd1860790d10",
        "7c468926788f2065dc8a78d06ea1b22c"),
      "ens_scaled" -> Seq("5b7fc2816ca7e06898493631dfd2e6e3"))
    for ((name, digests) <- want) {
      val path = s"data/$name.grib2"
      val got = Grib2File.index(path).map { mi =>
        val v = Grib2File.read(path, mi).values
        val bb = ByteBuffer.allocate(8 * v.length)
        v.foreach(d => bb.putLong(java.lang.Double.doubleToRawLongBits(d)))
        java.security.MessageDigest.getInstance("MD5").digest(bb.array())
          .map("%02x".format(_)).mkString
      }
      assert(got == digests, name)
    }
  }
}
