package graft.sources

import java.nio.file.{Files, Path => JPath}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.grib.Grib2Writer
import graft.sources.nc.Hdf5Writer
import graft.sources.tiff.TiffWriter
import graft.sources.zarr.ZarrStore

/** The shared chunk-staging path of the four raster sinks: pinned output
  * bytes (one small seeded grid per writer configuration, and one chunk
  * larger than a fragment staged from several map tasks), bounded
  * fragments, no state leaking between writes (stale staging files,
  * stale Zarr chunks), no Hadoop `.crc` files, one clear error for a
  * coordinate that is not on the grid, the axis lookup's equality rules,
  * and an even spread of chunks over the tasks.
  */
class ChunkStagerSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): JPath = Files.createTempDirectory("graft_stager")

  private def md5(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes).map("%02x".format(_)).mkString

  private def files(p: JPath): Seq[JPath] =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  /** md5 of a file, or of a directory's (relative path, file md5) list. */
  private def digest(p: JPath): String =
    if (!Files.isDirectory(p)) md5(Files.readAllBytes(p))
    else {
      val files = this.files(p)
        .map(f => s"${p.relativize(f)} ${md5(Files.readAllBytes(f))}")
        .toSeq.sorted
      md5(files.mkString("\n").getBytes("UTF-8"))
    }

  // ---- seeded grids ----
  private val lats = Array.tabulate(23)(i => 50.0 - i * 0.25)
  private val lons = Array.tabulate(17)(j => -10.0 + j * 0.25)
  /** (lat, lon, value) with ~10% holes, values exact in f4 */
  private def latLonCells(seed: Long): DataFrame = {
    val rnd = new Random(seed)
    val cells = for {
      i <- lats.indices; j <- lons.indices
      v = rnd.nextInt(4000); if rnd.nextInt(10) != 0
    } yield (lats(i), lons(j), v * 0.25)
    cells.toDF("latitude", "longitude", "value").repartition(5)
  }

  private val (ox, oy, sx, sy) = (500000.0, 7000000.0, 30.0, 30.0)
  private val (pxW, pxH) = (70, 45)
  private def pixels(seed: Long, maxV: Int): DataFrame = {
    val rnd = new Random(seed)
    val px = for {
      r <- 0 until pxH; c <- 0 until pxW
      v = rnd.nextInt(maxV) + 1; if rnd.nextInt(12) != 0
    } yield (ox + (c + 0.5) * sx, oy - (r + 0.5) * sy, v)
    px.toDF("x", "y", "value").repartition(5)
  }

  private def cog(df: DataFrame, out: String, bits: Int, overviews: Seq[Int] = Nil,
      resampling: String = "mean", compression: String = "deflate"): Unit =
    TiffWriter.writeGrid(df, out, "x", "y", "value", ox, oy, sx, sy, pxW, pxH,
      tileW = 32, tileH = 32, bits = bits, overviews = overviews,
      resampling = resampling, compression = compression)

  /** Recorded from the writers before they shared a staging path. */
  private val pinned: Seq[(String, JPath => Unit, String)] = Seq(
    ("nc", d => Hdf5Writer.writeGrid(latLonCells(11), d.resolve("a.nc").toString,
      "v", "latitude", "longitude", "value", lats, lons, chunkRows = 5),
      "67f723cced12b618ad15acda6298b455"),
    ("cog deflate mean overviews",
      d => cog(pixels(12, 60000), d.resolve("a.tif").toString, 16, Seq(2, 4)),
      "405d151ba1dc590727ac10f36da70dd3"),
    ("cog cubic overviews",
      d => cog(pixels(13, 60000), d.resolve("a.tif").toString, 16, Seq(2, 4),
        resampling = "cubic"),
      "520b73318f247c867c2b7095c827ef43"),
    ("cog jpeg",
      d => cog(pixels(14, 255), d.resolve("a.tif").toString, 8, compression = "jpeg"),
      "e78d2b4e8ebcbc9794fa11129e7f49b2"),
    ("zarr v2", d => ZarrStore.writeGrid(latLonCells(15), d.resolve("a.zarr").toString,
      "v", "latitude", "longitude", "value", lats, lons, chunkRows = 5, chunkCols = 4),
      "f033ab68f953897ea2f207b34de8bfce"),
    ("zarr v3 sharded", d => ZarrStore.writeGridV3(latLonCells(16),
      d.resolve("a.zarr").toString, "v", "latitude", "longitude", "value",
      lats, lons, chunkRows = 8, chunkCols = 8, innerRows = 4, innerCols = 4),
      "d562281d8a28b446060cee2a32172874"),
    ("grib bitmap holes + stepCol", d => {
      val rnd = new Random(17)
      val cells = for {
        s <- Seq(6, 30); m <- 0 until 3; i <- lats.indices; j <- lons.indices
        v = rnd.nextInt(65536); if rnd.nextInt(9) != 0
      } yield (s, m, lats(i), lons(j), v.toDouble)
      Grib2Writer.writeEnsemble(
        cells.toDF("step_hours", "number", "latitude", "longitude", "value")
          .repartition(5),
        d.resolve("a.grib2").toString, lats, lons, stepCol = Some("step_hours"))
    }, "43a75a732c350d1a58b74f7358ce408d"))

  for ((name, write, want) <- pinned)
    test(s"byte identity: $name") {
      val d = tmp()
      write(d)
      val all = Files.list(d).iterator().asScala.toSeq
      val out = all.filterNot(_.getFileName.toString.startsWith("."))
      assert(out.size == 1, out)
      assert(digest(out.head) == want, s"$name")
      // no Hadoop checksum side file beside the output, nor in a store
      assert(!files(d).exists(_.getFileName.toString.endsWith(".crc")), files(d))
    }

  // ---- one chunk of more cells than a fragment holds, from 3 map tasks ----
  private val bigN = 400
  private val bigLats = Array.tabulate(bigN)(i => 60.0 - i * 0.125)
  private val bigLons = Array.tabulate(bigN)(j => 5.0 + j * 0.125)
  /** (i, j, v) over one 400×400 chunk with ~10% holes, in 3 map
    * partitions of contiguous row bands (~48k cells each, so every task
    * fills whole fragments)
    */
  private def bigCells(seed: Long): DataFrame = {
    val rnd = new Random(seed)
    val cells = for {
      i <- 0 until bigN; j <- 0 until bigN
      v = rnd.nextInt(4000) + 1; if rnd.nextInt(10) != 0
    } yield (i, j, v)
    spark.createDataFrame(spark.sparkContext.parallelize(cells, 3)).toDF("i", "j", "v")
  }
  private def bigLatLon(seed: Long, scale: Double): DataFrame = {
    val (la, lo) = (typedLit(bigLats), typedLit(bigLons))
    bigCells(seed).select(element_at(la, col("i") + 1).as("latitude"),
      element_at(lo, col("j") + 1).as("longitude"), (col("v") * scale).as("value"))
  }

  private val bigPinned: Seq[(String, JPath => Unit, String)] = Seq(
    ("nc", d => Hdf5Writer.writeGrid(bigLatLon(41, 0.25), d.resolve("a.nc").toString,
      "v", "latitude", "longitude", "value", bigLats, bigLons, chunkRows = bigN),
      "76ce19fe2c9f922bacdbf06b3e0a9969"),
    ("zarr v3", d => ZarrStore.writeGridV3(bigLatLon(42, 0.25), d.resolve("a.zarr").toString,
      "v", "latitude", "longitude", "value", bigLats, bigLons,
      chunkRows = bigN, chunkCols = bigN, innerRows = 200, innerCols = 200),
      "ae9dbc9730301e2f84921de18a3b85a4"),
    ("cog", d => TiffWriter.writeGrid(
      bigCells(43).select((lit(ox) + (col("j") + 0.5) * sx).as("x"),
        (lit(oy) - (col("i") + 0.5) * sy).as("y"), col("v").as("value")),
      d.resolve("a.tif").toString, "x", "y", "value", ox, oy, sx, sy, bigN, bigN,
      tileW = 512, tileH = 512, bits = 16),
      "b400d83457cfb1ce61f79d7e76ee032f"),
    ("grib", d => Grib2Writer.writeEnsemble(
      bigLatLon(44, 1.0).withColumn("number", lit(0)), d.resolve("a.grib2").toString,
      bigLats, bigLons),
      "705af8ad8fce6daa568deb3d3d40e28b"))

  for ((name, write, want) <- bigPinned)
    test(s"byte identity, one chunk staged from 3 map tasks: $name") {
      val d = tmp()
      write(d)
      val out = Files.list(d).iterator().asScala.toSeq
      assert(out.size == 1, out)
      assert(digest(out.head) == want, s"$name: ${digest(out.head)}")
      assert(!files(d).exists(_.getFileName.toString.endsWith(".crc")), files(d))
    }

  test("no shuffled fragment holds more than FragmentCells cells") {
    val df = bigCells(45).select(lit(0).as("chunk"), (col("i") * bigN + col("j")).as("local"),
      col("v"))
    val frags = ChunkStager.fragments(df, ChunkStager.Ints(bigN * bigN, 0))
      .select(col("chunk"), (length(col("cells")) / 8).cast("int")).as[(Int, Int)].collect()
    val cap = ChunkStager.FragmentCells
    assert(frags.forall(_._2 <= cap), frags.toSeq)
    // each of the 3 tasks fills whole fragments, then emits its rest
    assert(frags.count(_._2 == cap) >= 3 && frags.count(_._2 < cap) == 3, frags.toSeq)
    assert(frags.map(_._2.toLong).sum == df.count())
  }

  test("a task emits its open fragments once they reach the open-cell bound") {
    // 40 chunks of 25 cells each, interleaved in one task: a bound of
    // 640 cells (ten 64-cell fragments) flushes every tenth new chunk
    val df = (0 until 1000).map(k => (k % 40, k / 40, k)).toDF("chunk", "local", "v")
      .coalesce(1)
    val frags = ChunkStager.fragments(df, ChunkStager.Ints(25, -1), open = 640)
      .select(col("chunk"), col("cells")).as[(Int, Array[Byte])].collect()
    assert(frags.length > 40, frags.length)
    // every cell is shipped once, with its own offset and value
    val cells = frags.flatMap { case (c, b) =>
      val n = b.length / 8
      val bb = java.nio.ByteBuffer.wrap(b)
      (0 until n).map(i => (c, bb.getInt(4 * i), bb.getInt(4 * n + 4 * i)))
    }
    assert(cells.sorted.toSeq == (0 until 1000).map(k => (k % 40, k / 40, k)).sorted)
  }

  test("a stale .crc beside a single-file output is removed, so reads pass") {
    val d = tmp()
    val nc = d.resolve("a.nc")
    Files.write(d.resolve(".a.nc.crc"), Array[Byte](1, 2, 3, 4, 5, 6, 7, 8))
    val rows = latLonCells(22)
    Hdf5Writer.writeGrid(rows, nc.toString, "v", "latitude", "longitude",
      "value", lats, lons, chunkRows = 5)
    assert(!Files.exists(d.resolve(".a.nc.crc")))
    val back = spark.read.format("graft-netcdf").option("path", nc.toString)
      .option("var", "v").load().filter(!isnan(col("value")))
    assert(back.count() == rows.count())
  }

  // ---- no state leaks between writes ----

  test("leftover staging files are never spliced into a new nc / cog") {
    val d = tmp()
    val garbage = Array.tabulate[Byte](40)(k => (k * 37 + 11).toByte)
    // every row in chunk / tile 0; a stale chunk 1 sits in the staging dir
    val nc = d.resolve("a.nc")
    Files.createDirectories(d.resolve("a.nc.staging"))
    Files.write(d.resolve("a.nc.staging/chunk-00001"), garbage)
    val ncRows = latLonCells(21).filter(col("latitude") > lats(5))
    Hdf5Writer.writeGrid(ncRows, nc.toString, "v", "latitude", "longitude",
      "value", lats, lons, chunkRows = 5)
    val ncBack = spark.read.format("graft-netcdf").option("path", nc.toString)
      .option("var", "v").load().filter(!isnan(col("value")))
    assert(ncBack.count() == ncRows.count())
    assert(!Files.exists(d.resolve("a.nc.staging")))

    val tif = d.resolve("a.tif")
    Files.createDirectories(d.resolve("a.tif.staging"))
    Files.write(d.resolve("a.tif.staging/L0-tile-00001"), garbage)
    val px = pixels(22, 60000)
      .filter(col("x") < ox + 32 * sx && col("y") > oy - 32 * sy)
    cog(px, tif.toString, 16)
    val tifBack = spark.read.format("graft-cog").option("path", tif.toString)
      .option("nodata", "0").load()
    assert(tifBack.count() == px.count())
    assert(!Files.exists(d.resolve("a.tif.staging")))
  }

  test("rewriting a zarr store drops the chunks of the earlier write (v2, v3)") {
    val ax = Array(3.0, 2.0, 1.0, 0.0)
    val full = for (la <- ax; lo <- ax.reverse) yield (la, lo, 1.0)
    val corner = full.filter { case (la, lo, _) => la >= 2.0 && lo <= 1.0 }
      .map { case (la, lo, _) => (la, lo, 2.0) }
    def back(store: String) = spark.read.format("graft-zarr").option("path", store)
      .option("var", "v").load().filter(!isnan(col("value")))
      .select("value").as[Double].collect().toSeq
    for (v3 <- Seq(false, true)) {
      val store = tmp().resolve("a.zarr").toString
      def write(cells: Seq[(Double, Double, Double)]): Unit = {
        val df = cells.toDF("latitude", "longitude", "value")
        if (v3) ZarrStore.writeGridV3(df, store, "v", "latitude", "longitude",
          "value", ax, ax.reverse, 2, 2, 1, 1)
        else ZarrStore.writeGrid(df, store, "v", "latitude", "longitude",
          "value", ax, ax.reverse, 2, 2)
      }
      write(full.toSeq)
      assert(back(store).size == 16)
      write(corner.toSeq)
      assert(back(store) == Seq.fill(4)(2.0), s"v3=$v3")
    }
  }

  // ---- one off-grid check ----

  /** The write fails naming the column, the value and the axis length,
    * and leaves no staging dir behind.
    */
  private def offGrid(out: JPath, column: String, value: String, length: Int)(
      write: => Unit): Unit = {
    val e = intercept[Exception](write)
    val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msg.contains(s"$column = $value") && msg.contains(s"length $length"), msg)
    assert(!Files.exists(out.resolveSibling(out.getFileName.toString + ".staging")))
  }

  test("off-grid coordinates fail clearly: nc") {
    val out = tmp().resolve("a.nc")
    val df = Seq((lats(2), lons(3), 1.0), (lats(2) + 0.1, lons(3), 2.0))
      .toDF("lat", "lon", "value")
    offGrid(out, "lat", (lats(2) + 0.1).toString, lats.length) {
      Hdf5Writer.writeGrid(df, out.toString, "v", "lat", "lon", "value",
        lats, lons, chunkRows = 5)
    }
  }

  test("off-grid coordinates fail clearly: cog") {
    val out = tmp().resolve("a.tif")
    val df = Seq((ox + 5 * sx, oy - 5 * sy, 1), (ox + (pxW + 3) * sx, oy - 5 * sy, 2))
      .toDF("x", "y", "value")
    offGrid(out, "x", (ox + (pxW + 3) * sx).toString, pxW)(cog(df, out.toString, 16))
  }

  test("off-grid coordinates fail clearly: zarr v2 and v3") {
    val df = Seq((lats(0), lons(0), 1.0), (lats(0), lons(16) + 1.0, 2.0))
      .toDF("latitude", "lon", "value")
    val bad = (lons(16) + 1.0).toString
    val v2 = tmp().resolve("a.zarr")
    offGrid(v2, "lon", bad, lons.length) {
      ZarrStore.writeGrid(df, v2.toString, "v", "latitude", "lon", "value",
        lats, lons, chunkRows = 5, chunkCols = 4)
    }
    val v3 = tmp().resolve("a.zarr")
    offGrid(v3, "lon", bad, lons.length) {
      ZarrStore.writeGridV3(df, v3.toString, "v", "latitude", "lon", "value",
        lats, lons, 8, 8, 4, 4)
    }
  }

  test("off-grid coordinates fail clearly: grib, and members stay in one octet") {
    val out = tmp().resolve("a.grib2")
    def grib(cells: Seq[(Int, Double, Double, Double)]): Unit =
      Grib2Writer.writeEnsemble(
        cells.toDF("number", "latitude", "longitude", "value"),
        out.toString, lats, lons)
    offGrid(out, "latitude", "99.0", lats.length) {
      grib(Seq((0, lats(0), lons(0), 1.0), (1, 99.0, lons(0), 1.0)))
    }
    // member 256 must fail, never alias to member 0 of the next step
    val e = intercept[Exception](grib(Seq((256, lats(0), lons(0), 1.0))))
    val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ")
    assert(msg.contains("ensemble member 256"), msg)
  }

  // ---- the axis lookup ----

  private def offAxis(axis: ChunkStager.Axis, v: Double, length: Int): Unit = {
    val e = intercept[IllegalArgumentException](axis(v))
    assert(e.getMessage == ChunkStager.offGrid("lat", v, length))
  }

  test("axis: -0.0 finds 0.0, NaN is off the grid, a duplicate keeps its last index") {
    val zero = new ChunkStager.Axis("lat", Array(1.0, 0.0, -1.0))
    assert(zero(-0.0) == 1 && zero(0.0) == 1)
    val negZero = new ChunkStager.Axis("lat", Array(-0.0, 0.5))
    assert(negZero(0.0) == 0 && negZero(-0.0) == 0)
    val withNaN = new ChunkStager.Axis("lat", Array(2.0, Double.NaN, 1.0))
    assert(withNaN(1.0) == 2)
    offAxis(withNaN, Double.NaN, 3)
    assert(ChunkStager.offGrid("lat", Double.NaN, 3) ==
      "lat = NaN is not on the grid axis (length 3)")
    val dup = new ChunkStager.Axis("lat", Array(1.0, 2.0, 1.0, 3.0, -0.0, 0.0))
    assert(dup(1.0) == 2 && dup(2.0) == 1 && dup(3.0) == 3 && dup(-0.0) == 5)
  }

  test("axis: a descending latitude axis maps each coordinate to its index") {
    val axis = new ChunkStager.Axis("lat", lats)
    assert(lats.indices.forall(i => axis(lats(i)) == i))
    for (v <- Seq(lats(3) + 0.1, lats.head + 0.25, lats.last - 0.25,
        Double.PositiveInfinity, Double.NegativeInfinity))
      offAxis(axis, v, lats.length)
  }

  test("axis: the same answers as a boxed Map of the coordinates") {
    val rnd = new Random(31)
    val pool = Array(0.0, -0.0, Double.NaN, 1.5, -2.25, 7.0, 1e-300)
    for (_ <- 0 until 200) {
      val coords = Array.fill(rnd.nextInt(9))(pool(rnd.nextInt(pool.length)))
      val axis = new ChunkStager.Axis("lat", coords)
      val ref = coords.zipWithIndex.toMap
      for (v <- pool)
        ref.get(v) match {
          case Some(i) => assert(axis(v) == i, (coords.toSeq, v))
          case None => offAxis(axis, v, coords.length)
        }
    }
  }

  test("off-grid coordinates fail clearly: a NaN latitude") {
    // a null latitude is looked up as NaN
    for (bad <- Seq(Some(Double.NaN), None)) {
      val out = tmp().resolve("a.zarr")
      val df = Seq((Some(lats(0)), lons(0), 1.0), (bad, lons(0), 2.0))
        .toDF("latitude", "longitude", "value")
      offGrid(out, "latitude", "NaN", lats.length) {
        ZarrStore.writeGrid(df, out.toString, "v", "latitude", "longitude", "value",
          lats, lons, chunkRows = 5, chunkCols = 4)
      }
    }
  }

  // ---- chunks spread over the tasks ----

  /** Stage one cell in each of `chunks` and return the chunk count of
    * each task that got one: each chunk's object holds the partition id
    * of the task that wrote it.
    */
  private def tasksOf(chunks: Seq[Int], maxParts: Int,
      slot: Int => org.apache.spark.sql.Column = _ => col("chunk")): Map[Int, Int] = {
    val d = tmp()
    val dir = d.toString
    val keyed = chunks.map(c => (c, 0, 1)).toDF("chunk", "local", "v").repartition(3)
    val cells = ChunkStager.Ints(1, 0)
    ChunkStager.stage(ChunkStager.fragments(keyed, cells), cells, maxParts, slot)(
      (_, _) => TaskContext.getPartitionId().toString.getBytes("UTF-8"),
      c => s"$dir/$c")
    val task = chunks.map(c =>
      c -> new String(Files.readAllBytes(d.resolve(c.toString)), "UTF-8").toInt).toMap
    task.values.groupBy(identity).map { case (t, cs) => t -> cs.size }
  }

  test("staging spreads dense chunk ids evenly over the tasks") {
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(tasksOf(0 until 16, 16).values.toSeq == Seq.fill(4)(4))
    // a COG overview level: its tile ids are dense, P = min(tiles, 4)
    for (tiles <- Seq(2, 3, 6, 9, 13)) {
      val parts = math.min(tiles, 4)
      val load = tasksOf(0 until tiles, tiles)
      assert(load.size == parts && load.values.max <= (tiles + parts - 1) / parts,
        s"$tiles tiles: $load")
    }
  }

  test("staging runs the members of one grib step one per task") {
    def key(step: Int, member: Int) = (step << 8) | member
    for (step <- Seq(0, 6, 24, 240))
      assert(tasksOf((0 until 4).map(key(step, _)), 64, Grib2Writer.slot)
        .values.toSeq == Seq.fill(4)(1), s"step $step")
    val steps = tasksOf(Seq(0, 6, 12, 18, 24, 30).map(key(_, 0)), 64, Grib2Writer.slot)
    assert(steps.size > 1, steps)
  }
}
