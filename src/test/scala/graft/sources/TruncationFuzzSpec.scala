package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** Truncation fuzzing of the byte-level format parsers. Property tested,
  * per prefix of a valid file: the parser must either fail LOUDLY (any
  * exception — the expected outcome for a truncated object-store upload)
  * or, if it succeeds, produce results CONSISTENT with the full file
  * (same bytes for the same block/message/record — never silent garbage)
  * — and it must never hang (watchdog-guarded; a timed-out parser fails
  * the test and its input file is deliberately left in place rather than
  * deleted under the still-running thread).
  */
class TruncationFuzzSpec extends SparkSpec {

  private val rnd = new scala.util.Random(20260813L)

  /** Run `body` under a watchdog. A thrown non-assertion exception is a
    * PASS (loud failure); a scalatest assertion raised inside `body`
    * (inconsistent result) fails the test; a hang fails. ONE protocol,
    * shared by the path-based and byte-payload cases.
    */
  private def guarded(tag: String)(body: => Unit): Unit = {
    @volatile var inconsistent: Option[Throwable] = None
    val t = new Thread(() =>
      try body
      catch {
        case a: org.scalatest.exceptions.TestFailedException =>
          inconsistent = Some(a)
        case _: Throwable => () // loud rejection = pass
      })
    t.setDaemon(true)
    t.start()
    t.join(30000)
    if (t.isAlive) fail(s"$tag: parser hung on truncated input")
    inconsistent.foreach(e =>
      fail(s"$tag: successful parse of a truncated file returned " +
        s"garbage: ${e.getMessage}"))
  }

  /** `guarded` over a temp file holding `bytes`. On SUCCESS the file is
    * deleted (after the thread finishes — never under a still-running
    * parser); on failure it is kept and its path included in the message
    * so the offending prefix can be inspected.
    */
  private def fuzzCase(tag: String, bytes: Array[Byte])(body: String => Unit): Unit = {
    val p = Files.createTempFile("graft-fuzz", ".bin")
    Files.write(p, bytes)
    guarded(s"$tag (input kept at $p)")(body(p.toString))
    Files.deleteIfExists(p)
  }

  /** Keyed result of a successful truncated parse must exist in the full
    * file's results AND match it — a bogus key (e.g. a corrupted index
    * yielding an offset the full file never had) is garbage, not a loud
    * rejection, and must fail the test rather than be swallowed.
    */
  private def assertKeyed[K, V](tag: String, full: Map[K, V], key: K, got: V): Unit =
    full.get(key) match {
      case Some(want) => assert(got == want, s"$tag: $key decoded differently")
      case None => assert(false, s"$tag: parse invented $key absent from the full file")
    }

  private def prefixes(path: String, n: Int): Seq[Array[Byte]] = {
    val full = Files.readAllBytes(Paths.get(path))
    // always include the pathological tiny prefixes plus random cuts
    val cuts = Seq(0, 1, 4, 8, 16) ++ Seq.fill(n)(rnd.nextInt(full.length))
    cuts.distinct.filter(_ < full.length)
      .map(c => java.util.Arrays.copyOfRange(full, 0, c))
  }

  test("GRIB2: truncated messages fail loudly or decode prefix-consistently") {
    // two donors: complex packing, and the multi-step e2e fixture whose
    // section-4 lead-time parse (octets 18-22) is the newest header path
    for (donor <- Seq("/root/repo/data/ens_complex.grib2",
        "/root/repo/data/e2e_cf.grib2")) {
      val full: Map[Long, Seq[Double]] = graft.sources.grib.Grib2File.index(donor)
        .map(mi => mi.offset ->
          graft.sources.grib.Grib2File.read(donor, mi).values.toSeq).toMap
      for (b <- prefixes(donor, 12))
        fuzzCase(s"grib len=${b.length}", b) { p =>
          graft.sources.grib.Grib2File.index(p).foreach { mi =>
            val got = graft.sources.grib.Grib2File.read(p, mi).values.toSeq
            assertKeyed(s"grib len=${b.length}", full, mi.offset, got)
          }
        }
    }
  }

  test("HDF5: truncated files fail loudly or read prefix-consistently") {
    import spark.implicits._
    val donor = Files.createTempFile("graft-fuzz-donor", ".nc").toString
    val lats = Array.tabulate(23)(i => 50.0 - i * 0.25)
    val lons = Array.tabulate(40)(j => -10.0 + j * 0.25)
    val cells = for (i <- 0 until 23; j <- 0 until 40 if (i + j) % 3 != 0)
      yield (lats(i), lons(j), (i * 13 + j) % 97 * 0.25f)
    graft.sources.nc.Hdf5Writer.writeGrid(
      cells.toDF("latitude", "longitude", "value"), donor, "v",
      "latitude", "longitude", "value", lats, lons, chunkRows = 10)
    val fullBand = {
      val f = new graft.sources.nc.Hdf5File(donor)
      try f.readRowBand("v", 0, 23).toSeq finally f.close()
    }
    for (b <- prefixes(donor, 12))
      fuzzCase(s"hdf5 len=${b.length}", b) { p =>
        val f = new graft.sources.nc.Hdf5File(p)
        try {
          val got = f.readRowBand("v", 0, 23).toSeq
          assert(got == fullBand, "row band decoded differently from a prefix")
        } finally f.close()
      }
    Files.deleteIfExists(Paths.get(donor))
  }

  test("TIFF: truncated files fail loudly or read prefix-consistently") {
    for (donor <- Seq("/root/repo/data/lossyear_tiled.tif",
        "/root/repo/data/lossyear_big.tif")) {
      val fullInfo = graft.sources.tiff.TiffFile.info(donor)
      val full: Map[Long, Seq[Int]] = fullInfo.blocks.map(bk => bk.offset ->
        graft.sources.tiff.TiffFile.readBlock(donor, fullInfo, bk).toSeq).toMap
      for (b <- prefixes(donor, 10))
        fuzzCase(s"tiff len=${b.length}", b) { p =>
          val info = graft.sources.tiff.TiffFile.info(p)
          info.blocks.foreach { bk =>
            val got = graft.sources.tiff.TiffFile.readBlock(p, info, bk).toSeq
            assertKeyed(s"tiff len=${b.length}", full, bk.offset, got)
          }
        }
    }
  }

  test("TIFF overview chain: truncated files fail loudly or walk prefix-consistently") {
    // donor: a COG with a 2x/4x overview pyramid written here (data/ has
    // no overview fixture); keys are (level, block offset) so a corrupt
    // chain walk can neither invent levels nor cross-wire blocks
    val donor = {
      import spark.implicits._
      import org.apache.spark.sql.functions._
      val px = (for (r <- 0 until 40; c <- 0 until 50)
        yield (500000.0 + (c + 0.5) * 30.0, 7000000.0 - (r + 0.5) * 30.0,
          (c * 13 + r * 7) % 997 + 1)).toDF("x", "y", "value")
      val out = Files.createTempDirectory("fuzz-ov").toString + "/ov.tif"
      graft.sources.tiff.TiffWriter.writeGrid(px, out, "x", "y", "value",
        500000.0, 7000000.0, 30.0, 30.0, 50, 40, tileW = 32, tileH = 32,
        bits = 16, overviews = Seq(2, 4))
      out
    }
    val fullLevels = graft.sources.tiff.TiffFile.levels(donor)
    val full: Map[(Int, Long), Seq[Int]] = (for {
      (inf, lvl) <- fullLevels.zipWithIndex
      bk <- inf.blocks
    } yield (lvl, bk.offset) ->
      graft.sources.tiff.TiffFile.readBlock(donor, inf, bk).toSeq).toMap
    for (b <- prefixes(donor, 10))
      fuzzCase(s"tiff-ov len=${b.length}", b) { p =>
        val lvs = graft.sources.tiff.TiffFile.levels(p)
        assert(lvs.size <= fullLevels.size,
          "chain walk invented overview levels")
        for ((inf, lvl) <- lvs.zipWithIndex; bk <- inf.blocks) {
          val got = graft.sources.tiff.TiffFile.readBlock(p, inf, bk).toSeq
          assertKeyed(s"tiff-ov len=${b.length}", full, (lvl, bk.offset), got)
        }
      }
  }

  test("WAV/AVI: truncated payloads fail loudly or decode prefix-consistently") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    for (donor <- Seq("/root/repo/data/wav/clip_1.wav",
        "/root/repo/data/avi/clip_1.avi",
        "/root/repo/data/avi_mjpg/clip_1.avi")) {
      val isWav = donor.endsWith(".wav")
      def decode(bytes: Array[Byte]): Seq[Seq[Any]] = {
        val df = Seq((1L, bytes)).toDF("media_id", "payload")
        (if (isWav) graft.operators.Multimodal.decodeWav(df)
         else graft.operators.Multimodal.decodeAviFrames(df))
          .collect().map(_.toSeq).toSeq
      }
      val fullBytes = Files.readAllBytes(Paths.get(donor))
      val full = decode(fullBytes)
      for (b <- prefixes(donor, 8) if b.length >= 12)
        // media decoders take payload bytes, not paths — same guard,
        // prefix-of-records comparison (a lenient decoder returning the
        // first N complete frames is consistent, like the shx case)
        guarded(s"$donor len=${b.length}") {
          val got = decode(b)
          assert(got == full.take(got.length),
            s"$donor len=${b.length}: truncated payload decoded differently")
        }
    }
  }

  test("zarr: truncated chunk files and corrupt metadata fail loudly, never spin") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft-fuzz-zarr").toString
    val lats = Array.tabulate(20)(i => 40.0 - i * 0.5)
    val lons = Array.tabulate(16)(j => 5.0 + j * 0.5)
    val cells = for (i <- 0 until 20; j <- 0 until 16 if (i + j) % 4 != 0)
      yield (lats(i), lons(j), ((i * 11 + j * 3) % 89).toDouble)
    graft.sources.zarr.ZarrStore.writeGrid(
      cells.toDF("latitude", "longitude", "value"), store, "v",
      "latitude", "longitude", "value", lats, lons,
      chunkRows = 8, chunkCols = 8)
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = graft.sources.zarr.ZarrStore.readMeta(conf, s"$store/v")
    // compared as bit patterns: the chunk holds NaN fill cells, and
    // NaN != NaN would reject even a correct parse
    def bits(c: Array[Double]) = c.toSeq.map(java.lang.Double.doubleToLongBits)
    val full = bits(graft.sources.zarr.ZarrStore.readChunk(
      conf, s"$store/v", meta, Seq(0, 0)))
    val chunk00 = Paths.get(s"$store/v/0.0")
    val bytes = Files.readAllBytes(chunk00)
    // every strict prefix of the zlib chunk file must reject, not spin
    // (an executor hanging forever on a truncated object-store upload
    // was a real bug this test now pins)
    for (cut <- Seq(0, 1, bytes.length / 2, bytes.length - 1)) {
      Files.write(chunk00, java.util.Arrays.copyOfRange(bytes, 0, cut))
      guarded(s"zarr chunk cut=$cut") {
        val got = bits(graft.sources.zarr.ZarrStore.readChunk(
          conf, s"$store/v", meta, Seq(0, 0)))
        assert(got == full, s"cut=$cut decoded differently")
      }
    }
    Files.write(chunk00, bytes) // restore
    // corrupt .zarray JSON must reject loudly too
    val zarray = Paths.get(s"$store/v/.zarray")
    val zbytes = Files.readAllBytes(zarray)
    for (cut <- Seq(0, 2, zbytes.length / 2)) {
      Files.write(zarray, java.util.Arrays.copyOfRange(zbytes, 0, cut))
      guarded(s"zarr .zarray cut=$cut") {
        val m = graft.sources.zarr.ZarrStore.readMeta(conf, s"$store/v")
        assert(m == meta, s".zarray cut=$cut parsed differently")
      }
    }
    graft.sources.FsOps.delete(spark, store)
  }

  test("NetCDF classic: truncated files fail loudly or read prefix-consistently") {
    val donor = "/root/repo/data/classic2.nc"
    val full = {
      val f = new graft.sources.nc.Cdf3File(donor)
      try f.readRowBand("v", 0, 32).toSeq finally f.close()
    }
    for (b <- prefixes(donor, 10))
      fuzzCase(s"cdf len=${b.length}", b) { p =>
        val f = new graft.sources.nc.Cdf3File(p)
        try {
          val got = f.readRowBand("v", 0, 32).toSeq
          assert(got == full, "row band decoded differently from a prefix")
        } finally f.close()
      }
  }

  test("NetCDF record vars: truncated files fail loudly or read prefix-consistently") {
    // the STREAMING variant derives numRecs from the file size, so a
    // truncated record block legitimately yields FEWER records — those
    // that do parse must be byte-identical to the full file's
    val fullRows: Map[Int, Seq[Byte]] = {
      val f = new graft.sources.nc.Cdf3File("/root/repo/data/classic_rec.nc")
      try (0 until 7).map(r => r -> f.readRowBand("v", r, r + 1).toSeq).toMap
      finally f.close()
    }
    for (donor <- Seq("/root/repo/data/classic_rec.nc",
        "/root/repo/data/classic_rec_stream.nc");
        b <- prefixes(donor, 10))
      fuzzCase(s"cdf-rec len=${b.length}", b) { p =>
        val f = new graft.sources.nc.Cdf3File(p)
        try {
          val n = math.min(f.numRecs, 7L).toInt
          for (r <- 0 until n)
            assertKeyed(s"cdf-rec len=${b.length}", fullRows, r,
              f.readRowBand("v", r, r + 1).toSeq)
          assert(f.numRecs <= 7, "derived numRecs exceeds the real count")
        } finally f.close()
      }
  }

  test("Arrow IPC: truncated files fail loudly or read prefix-consistently") {
    val donor = "/root/repo/data/metrics.arrow"
    val full = graft.sources.v2.ArrowDataSource.withReader(donor) { r =>
      (0 until r.getRecordBlocks.size()).map { i =>
        r.loadRecordBatch(r.getRecordBlocks.get(i))
        i -> r.getVectorSchemaRoot.contentToTSVString()
      }.toMap
    }
    for (b <- prefixes(donor, 10))
      fuzzCase(s"arrow len=${b.length}", b) { p =>
        graft.sources.v2.ArrowDataSource.withReader(p) { r =>
          (0 until r.getRecordBlocks.size()).foreach { i =>
            r.loadRecordBatch(r.getRecordBlocks.get(i))
            assertKeyed(s"arrow len=${b.length}", full, i,
              r.getVectorSchemaRoot.contentToTSVString())
          }
        }
      }
  }

  test("Zarr v3 shard: truncated shard files fail loudly, never spin") {
    val conf = spark.sparkContext.hadoopConfiguration
    val store = "/root/repo/data/uparea_v3.zarr"
    val meta = graft.sources.zarr.ZarrStore.readMeta(conf, s"$store/uparea")
    val full = graft.sources.zarr.ZarrStore.readChunk(
      conf, s"$store/uparea", meta, Seq(0, 0)).toSeq
    val donor = Files.readAllBytes(Paths.get(s"$store/uparea/c/0/0"))
    val dir = Files.createTempDirectory("graft-fuzz-shard")
    Files.createDirectories(dir.resolve("uparea/c/0"))
    Files.copy(Paths.get(s"$store/uparea/zarr.json"),
      dir.resolve("uparea/zarr.json"))
    for (cut <- Seq(0, 1, 16, donor.length / 2, donor.length - 2)) {
      Files.write(dir.resolve("uparea/c/0/0"),
        java.util.Arrays.copyOfRange(donor, 0, cut))
      guarded(s"v3 shard cut=$cut") {
        val got = graft.sources.zarr.ZarrStore.readChunk(
          conf, s"${dir.toString}/uparea", meta, Seq(0, 0)).toSeq
        assert(got == full, s"cut=$cut decoded differently")
      }
    }
  }

  test("shapefile: truncated files fail loudly or read prefix-consistently") {
    val locs = graft.sources.shp.Shapefile.index("/root/repo/data/basins.shx")
    val full = graft.sources.shp.Shapefile.readRange(
      "/root/repo/data/basins.shp", locs, 0, locs.length, None)
    for (b <- prefixes("/root/repo/data/basins.shp", 8))
      fuzzCase(s"shp len=${b.length}", b) { p =>
        val got = graft.sources.shp.Shapefile.readRange(
          p, locs, 0, locs.length, None)
        assert(got == full, "rings decoded differently from a prefix")
      }
    // and a truncated INDEX must fail loudly or yield a prefix of the locs
    for (b <- prefixes("/root/repo/data/basins.shx", 6))
      fuzzCase(s"shx len=${b.length}", b) { p =>
        val got = graft.sources.shp.Shapefile.index(p)
        assert(got == locs.take(got.length),
          "truncated index yielded non-prefix record locations")
      }
  }
}
