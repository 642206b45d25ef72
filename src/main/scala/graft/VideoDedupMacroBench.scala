package graft

import org.apache.spark.sql.functions._

import graft.core.Session
import graft.operators.Multimodal

/** Video near-dup macro — the pair-producing-operator rule ("every new
  * pair producer gets a macro at ≥50× the gate scale"): the REGISTERED
  * q209 pipeline ([[Multimodal.aviFrameDhash]] over real RIFF/AVI bytes
  * → [[Multimodal.videoNearDupPairs]]) at tens of thousands of clips.
  *
  * Corpus: n spec-conformant AVI containers built in the EXECUTORS
  * (24×16 24-bit DIB frames, per-pixel integer hash mix so frame
  * dhashes are near-uniform 64-bit values), 12 frames each; every 50th
  * clip replays its predecessor's pixel content byte-identically — the
  * duplicated-footage plant (Jaccard 1 on sampled frame hashes).
  *
  * Gates:
  *  - exact recall AND precision: the verified pair set must equal the
  *    planted set (incidental ≥1/2-Jaccard pairs need ≥2 colliding
  *    64-bit frame hashes between two random clips — vanishing);
  *  - candidate boundedness: hash-bucket pairs stay within the planted
  *    count plus a uniform-collision allowance — the operator never
  *    regresses toward clip × clip.
  *
  * Usage: VideoDedupMacroBench [nClips]  (default 20000)
  */
object VideoDedupMacroBench {
  private val W = 24
  private val H = 16
  private val Frames = 12

  private def pix(srcId: Long, f: Int, x: Int, y: Int, ch: Int): Int = {
    var z = srcId * 0x9E3779B97F4A7C15L + f * 0xC2B2AE3D27D4EB4FL +
      x * 0x165667B19E3779F9L + y * 0x27D4EB2F165667C5L +
      ch * 0x94D049BB133111EBL
    z ^= z >>> 29; z *= 0xBF58476D1CE4E5B9L; z ^= z >>> 32
    (z & 0xFF).toInt
  }

  /** Minimal spec-conformant single-stream DIB AVI (the independent
    * python fixture writer's layout, re-expressed for executor-side
    * generation — the READ side under test stays the engine's parser).
    * `universal` = frame 0 is the SAME in every clip (the black-frame /
    * test-card adversary for the df cap).
    */
  private def aviBytes(srcId: Long, universal: Boolean): Array[Byte] = {
    val rowLen = (W * 3 + 3) / 4 * 4
    val fsize = rowLen * H
    def frame(f: Int): Array[Byte] = {
      val fsrc = if (universal && f == 0) -1L else srcId
      val out = new Array[Byte](fsize)
      var y = H - 1
      var o = 0
      while (y >= 0) {
        var x = 0
        while (x < W) {
          var ch = 0
          while (ch < 3) {
            out(o + x * 3 + ch) = pix(fsrc, f, x, y, ch).toByte
            ch += 1
          }
          x += 1
        }
        o += rowLen
        y -= 1
      }
      out
    }
    val bb = java.nio.ByteBuffer
      .allocate(12 + 8 + 200 + (8 + fsize + (fsize & 1)) * Frames + 128)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourcc(s: String): Unit = s.foreach(c => bb.put(c.toByte))
    // build inner payloads first to know sizes
    val avih = new Array[Byte](56)
    val avihBb = java.nio.ByteBuffer.wrap(avih)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    avihBb.putInt(0, 33333); avihBb.putInt(4, fsize * 30)
    avihBb.putInt(12, 0x10); avihBb.putInt(16, Frames)
    avihBb.putInt(28, fsize); avihBb.putInt(32, W); avihBb.putInt(36, H)
    val strh = new Array[Byte](56)
    val strhBb = java.nio.ByteBuffer.wrap(strh)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    strhBb.putInt(0, 0x73646976) // 'vids'
    strhBb.putInt(4, 0x20424944) // 'DIB '
    strhBb.putInt(20, 1); strhBb.putInt(24, 30); strhBb.putInt(32, Frames)
    strhBb.putInt(36, fsize)
    val strf = new Array[Byte](40)
    val strfBb = java.nio.ByteBuffer.wrap(strf)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    strfBb.putInt(0, 40); strfBb.putInt(4, W); strfBb.putInt(8, H)
    strfBb.putShort(12, 1); strfBb.putShort(14, 24)
    strfBb.putInt(16, 0); strfBb.putInt(20, fsize)
    val strl = 4 + (8 + 56) + (8 + 40)
    val hdrl = 4 + (8 + 56) + (8 + strl)
    val movi = 4 + (8 + fsize + (fsize & 1)) * Frames
    val riff = 4 + (8 + hdrl) + (8 + movi)
    fourcc("RIFF"); bb.putInt(riff); fourcc("AVI ")
    fourcc("LIST"); bb.putInt(hdrl); fourcc("hdrl")
    fourcc("avih"); bb.putInt(56); bb.put(avih)
    fourcc("LIST"); bb.putInt(strl); fourcc("strl")
    fourcc("strh"); bb.putInt(56); bb.put(strh)
    fourcc("strf"); bb.putInt(40); bb.put(strf)
    fourcc("LIST"); bb.putInt(movi); fourcc("movi")
    for (f <- 0 until Frames) {
      fourcc("00db"); bb.putInt(fsize); bb.put(frame(f))
      if ((fsize & 1) == 1) bb.put(0.toByte)
    }
    java.util.Arrays.copyOf(bb.array(), bb.position())
  }

  def main(args: Array[String]): Unit = {
    val n = args.filterNot(_.startsWith("--")).headOption
      .map(_.toInt).getOrElse(20000)
    // --universal: EVERY clip shares frame 0 — without the dfCap
    // stop-fingerprint guard that one hash bucket alone would emit
    // C(n, 2) candidate pairs (5e9 at 100k clips); with it the bucket
    // is dropped and the planted pairs still verify on frames 3/6/9
    val universal = args.contains("--universal")
    val spark = Session(partitionsPerCpu = 2)
    import spark.implicits._

    val media = spark.range(n.toLong).as[Long]
      .mapPartitions(_.map { id =>
        val src = if (id % 50 == 49) id - 1 else id
        (id, aviBytes(src, universal))
      })
      .toDF("media_id", "payload")
      .cache()
    media.count() // generation outside the timed region

    val t0 = System.nanoTime()
    val fh = Multimodal.aviFrameDhash(media, everyNth = 3).cache()
    // candidate count mirrors the operator's internal df-capped buckets
    val hs0 = fh.select("media_id", "dhash").distinct()
    val rare = hs0.groupBy("dhash").agg(count(lit(1)).as("df"))
      .filter(col("df") <= 50).select("dhash")
    val hs = hs0.join(rare, Seq("dhash"), "left_semi")
      .select("media_id", "dhash")
    val nCand = hs.as("a").join(hs.as("b"),
        col("a.dhash") === col("b.dhash") &&
          col("a.media_id") < col("b.media_id")).count()
    val pairs = Multimodal.videoNearDupPairs(fh)
      .select("id_a", "id_b", "n_shared").collect()
    val sec = (System.nanoTime() - t0) / 1e9

    val planted = (49L until n.toLong by 50L).map(id => (id - 1, id)).toSet
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    require(found == planted,
      s"verified pairs != planted: missing=${(planted -- found).take(5)} " +
        s"extra=${(found -- planted).take(5)}")
    // every planted pair shares all sampled hashes (byte-identical);
    // in universal mode the shared frame-0 hash is df-capped away
    val expShared = (Frames + 2) / 3 - (if (universal) 1 else 0)
    require(pairs.forall(_.getLong(2) == expShared),
      s"planted pair lost shared frames: ${pairs.take(3).mkString}")
    // bucket pairs ≈ planted shares + uniform 64-bit collisions (~0)
    require(nCand <= planted.size.toLong * ((Frames + 2) / 3) + 10 + n / 100,
      s"candidate blow-up: $nCand")
    fh.unpersist(); media.unpersist()

    println(f"""{"metric":"video_dedup_macro","value":$sec%.2f,"unit":"sec","n_clips":$n,"universal":$universal,"frames_each":$Frames,"planted_pairs":${planted.size},"found_pairs":${found.size},"bucket_pairs":$nCand}""")
    spark.stop()
  }
}
