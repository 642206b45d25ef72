package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.nc.{Hdf5File, Hdf5Writer}

/** NetCDF/HDF5 SINK tests: the Scala writer emits a single .nc file
  * that the Scala byte-level reader (Hdf5File), the DSv2 source
  * (graft-netcdf) and the independent pure-python parser
  * (tools/nc_to_parquet.py — run offline to produce the committed
  * fixture oracle for q81) must all read back bit-exactly.
  */
class Hdf5WriterSpec extends SparkSpec {
  import spark.implicits._

  // 23 rows forces a padded edge chunk at chunkRows=10 (HDF5 stores
  // full-size edge chunks); values are f4-exact quarter multiples.
  private val nLat = 23
  private val nLon = 40
  private val lats = Array.tabulate(nLat)(i => 50.0 - i * 0.25)
  private val lons = Array.tabulate(nLon)(j => -10.0 + j * 0.25)
  private def formula(i: Int, j: Int): Option[Float] =
    if ((i + j) % 7 == 0) None else Some(((i * 13 + j * 5) % 41) * 0.25f)

  private lazy val written: String = {
    val cells = for {
      i <- 0 until nLat; j <- 0 until nLon; v <- formula(i, j)
    } yield (lats(i), lons(j), v)
    val df = cells.toDF("latitude", "longitude", "value").repartition(5)
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_nc_rt.nc"
    Hdf5Writer.writeGrid(df, out, "discharge",
      "latitude", "longitude", "value", lats, lons, chunkRows = 10)
    out
  }

  test("lookup3 checksum matches the netcdf-c-written reference header") {
    // root OHDR of the real RP2y file spans bytes 96..327; stored
    // checksum 0xa42119c0 (verified independently in python); the
    // netcdf-c-written file lives outside the repo, so the case runs
    // only where it is present (as in NetcdfSpec)
    val path = "/root/reference/auxiliary_data/flood/RP2ythresholds_GloFASv40.nc"
    assume(new java.io.File(path).isFile)
    val real = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    assert(Hdf5Writer.lookup3(real, 96, 327 - 96) == 0xa42119c0)
  }

  test("lookup3 reproduces the published lookup3.c self-test vectors") {
    // hashlittle() self-test values from Bob Jenkins' lookup3.c (initval 0)
    assert(Hdf5Writer.lookup3("".getBytes("US-ASCII"), 0, 0) == 0xdeadbeef)
    val fourScore = "Four score and seven years ago".getBytes("US-ASCII")
    assert(Hdf5Writer.lookup3(fourScore, 0, 30) == 0x17770551)
  }

  test("written file parses with Hdf5File: datasets, dims, chunking") {
    val f = new Hdf5File(written)
    try {
      assert(f.datasets.keySet == Set("lat", "lon", "discharge"))
      val v = f.dataset("discharge")
      assert(v.dims.toSeq == Seq(nLat.toLong, nLon.toLong))
      assert(v.elemSize == 4 && v.typeClass == 1)
      assert(v.filters == Seq(1)) // deflate
      assert(f.readDoubles("lat").toSeq == lats.toSeq)
      assert(f.readDoubles("lon").toSeq == lons.toSeq)
    } finally f.close()
  }

  test("row-band reads return the written cells, NaN for missing") {
    val f = new Hdf5File(written)
    try {
      // a band crossing the chunk boundary at row 10 and the padded
      // edge chunk at rows 20..23
      val band = f.readRowBand("discharge", 8, 23)
      val bb = java.nio.ByteBuffer.wrap(band)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (i <- 8 until 23; j <- 0 until nLon) {
        val got = bb.getFloat(((i - 8) * nLon + j) * 4)
        formula(i, j) match {
          case Some(v) => assert(got == v, s"($i,$j)")
          case None => assert(got.isNaN, s"($i,$j)")
        }
      }
    } finally f.close()
  }

  test("DSv2 graft-netcdf round-trips the full grid") {
    val back = spark.read.format("graft-netcdf")
      .option("path", written).option("var", "discharge").load()
    assert(back.count() == nLat.toLong * nLon) // NaNs kept by the source
    val present = back.filter(!isnan(col("value")))
      .select($"latitude", $"longitude", $"value".cast("float"))
      .as[(Double, Double, Float)].collect().toSet
    val expected = (for {
      i <- 0 until nLat; j <- 0 until nLon; v <- formula(i, j)
    } yield (lats(i), lons(j), v)).toSet
    assert(present == expected)
  }

  test("seeded randomized geometries round-trip exactly") {
    val rnd = new scala.util.Random(20260812L)
    for (case_ <- 1 to 6) {
      val nla = 1 + rnd.nextInt(37)
      val nlo = 1 + rnd.nextInt(29)
      val cr = 1 + rnd.nextInt(nla)
      val la = Array.tabulate(nla)(i => 89.0 - i * 0.125)
      val lo = Array.tabulate(nlo)(j => -179.0 + j * 0.125)
      val cells = for {
        i <- 0 until nla; j <- 0 until nlo
        if rnd.nextDouble() > 0.3
      } yield (la(i), lo(j), rnd.nextInt(100000) * 0.25f)
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_nc_rnd.nc"
      Hdf5Writer.writeGrid(cells.toDF("latitude", "longitude", "value"),
        out, "v", "latitude", "longitude", "value", la, lo, chunkRows = cr)
      val f = new Hdf5File(out)
      try {
        val band = f.readRowBand("v", 0, nla)
        val bb = java.nio.ByteBuffer.wrap(band)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val want = cells.map { case (a, b, v) => (a, b) -> v }.toMap
        for (i <- 0 until nla; j <- 0 until nlo) {
          val got = bb.getFloat((i * nlo + j) * 4)
          want.get((la(i), lo(j))) match {
            case Some(v) => assert(got == v, s"case $case_ ($i,$j)")
            case None => assert(got.isNaN, s"case $case_ ($i,$j)")
          }
        }
      } finally f.close()
    }
  }

  test(">64 chunks produce a multi-level B-tree real readers accept") {
    // 300 rows at chunkRows=2 -> 150 chunks: libhdf5's default
    // indexed-storage K=32 caps nodes at 64 entries, so this must emit
    // a 2-level tree (3 leaves + root), not one oversized leaf
    val nla = 300
    val nlo = 5
    val la = Array.tabulate(nla)(i => 80.0 - i * 0.25)
    val lo = Array.tabulate(nlo)(j => 10.0 + j * 0.25)
    val cells = for { i <- 0 until nla; j <- 0 until nlo if (i + j) % 3 != 0 }
      yield (la(i), lo(j), ((i * 7 + j) % 89) * 0.25f)
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_nc_deep.nc"
    Hdf5Writer.writeGrid(cells.toDF("latitude", "longitude", "value"),
      out, "v", "latitude", "longitude", "value", la, lo, chunkRows = 2)
    // no leaf may exceed 64 entries, and the root must be level >= 1
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out))
    val nodes = (0 until bytes.length - 8).filter { o =>
      bytes(o) == 'T' && bytes(o + 1) == 'R' && bytes(o + 2) == 'E' &&
        bytes(o + 3) == 'E' && bytes(o + 4) == 1
    }.map { o =>
      val lvl = bytes(o + 5) & 0xFF
      val n = (bytes(o + 6) & 0xFF) | ((bytes(o + 7) & 0xFF) << 8)
      (lvl, n)
    }
    assert(nodes.exists(_._1 == 1), s"expected an internal level in $nodes")
    assert(nodes.forall(_._2 <= 64), s"node over 64 entries: $nodes")
    // and the full grid still round-trips exactly
    val f = new Hdf5File(out)
    try {
      val band = f.readRowBand("v", 0, nla)
      val bb = java.nio.ByteBuffer.wrap(band)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val want = cells.map { case (a, b, v) => (a, b) -> v }.toMap
      for (i <- 0 until nla; j <- 0 until nlo) {
        val got = bb.getFloat((i * nlo + j) * 4)
        want.get((la(i), lo(j))) match {
          case Some(v) => assert(got == v, s"($i,$j)")
          case None => assert(got.isNaN, s"($i,$j)")
        }
      }
    } finally f.close()
  }

  test("shuffle+deflate pipeline round-trips and beats deflate alone") {
    val cells = for {
      i <- 0 until nLat; j <- 0 until nLon; v <- formula(i, j)
    } yield (lats(i), lons(j), v)
    val df = cells.toDF("latitude", "longitude", "value")
    val plain = s"${System.getProperty("java.io.tmpdir")}/graft_nc_plain.nc"
    val shuf = s"${System.getProperty("java.io.tmpdir")}/graft_nc_shuf.nc"
    Hdf5Writer.writeGrid(df, plain, "v",
      "latitude", "longitude", "value", lats, lons, chunkRows = 10)
    Hdf5Writer.writeGrid(df, shuf, "v",
      "latitude", "longitude", "value", lats, lons, chunkRows = 10,
      shuffle = true)
    // identical decoded cells through the Scala reader
    def band(p: String): Seq[Float] = {
      val f = new Hdf5File(p)
      try {
        val bb = java.nio.ByteBuffer.wrap(f.readRowBand("v", 0, nLat))
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until nLat * nLon).map(k => bb.getFloat(k * 4))
      } finally f.close()
    }
    val a = band(plain)
    val b = band(shuf)
    (a zip b).foreach { case (x, y) =>
      assert(x == y || (x.isNaN && y.isNaN))
    }
    // real float rasters shuffle-compress smaller; quarter-multiples
    // share exponent bytes, so the effect is visible even here
    val szPlain = new java.io.File(plain).length()
    val szShuf = new java.io.File(shuf).length()
    assert(szShuf < szPlain,
      s"shuffle file $szShuf not smaller than plain $szPlain")
  }

  test("empty row bands become all-fill chunks, not holes") {
    val df = Seq((lats(0), lons(0), 1.0f), (lats(22), lons(3), 2.5f))
      .toDF("latitude", "longitude", "value")
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_nc_sparse.nc"
    Hdf5Writer.writeGrid(df, out, "v",
      "latitude", "longitude", "value", lats, lons, chunkRows = 10)
    val f = new Hdf5File(out)
    try {
      val mid = f.readRowBand("v", 10, 20) // band with zero source rows
      val bb = java.nio.ByteBuffer.wrap(mid)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      for (k <- 0 until 10 * nLon) assert(bb.getFloat(k * 4).isNaN)
      val last = f.readRowBand("v", 22, 23)
      assert(java.nio.ByteBuffer.wrap(last)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getFloat(3 * 4) == 2.5f)
    } finally f.close()
  }
}
