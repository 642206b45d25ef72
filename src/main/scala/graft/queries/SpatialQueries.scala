package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{Sql, Tables}
import graft.core.Tables.DataDir
import graft.operators.GridOps
import graft.sources.RasterContract

/** Remaining raster/spatial operator rows of SURVEY §2: nodata-tile drop
  * (P20), rasterized zonal assignment (J9/R7), in-engine dense grid
  * generation (R1).
  */
object SpatialQueries {

  /** P20: tiles whose every pixel is the nodata sentinel are dropped via
    * an `every` aggregate + anti-join.
    */
  val q65NodataTiles = Q(
    "q65_nodata_tiles",
    (s, dir) => {
      val px = Tables.load(s, dir, "lineitem").select(
        (col("l_partkey") % 100).as("tile"),
        when((col("l_partkey") % 100) % 10 === 0, -32768.0)
          .otherwise(col("l_quantity")).as("band"))
      GridOps.dropNodataTiles(px, "tile", "band", -32768.0)
        .groupBy("tile")
        .agg(count(lit(1)).as("n_px"), Sql.exactSum(col("band")).as("sum_band"))
    },
    Some("""
      WITH px AS (
        SELECT l_partkey % 100 AS tile,
               CASE WHEN (l_partkey % 100) % 10 = 0 THEN -32768.0
                    ELSE l_quantity END AS band
        FROM lineitem),
      dead AS (SELECT tile FROM px GROUP BY 1 HAVING bool_and(band = -32768.0))
      SELECT tile, count(*) AS n_px,
             CAST(sum(CAST(band AS DECIMAL(27,4))) AS DOUBLE) AS sum_band
      FROM px WHERE tile NOT IN (SELECT tile FROM dead)
      GROUP BY 1"""))

  /** J9/R7: box polygons rasterized to a cell→zone dimension, pixels
    * assigned by snapped-cell equi-join (the geocube pattern).
    */
  val q66ZonalAssign = Q(
    "q66_zonal_assign",
    (s, dir) => {
      val boxes = Tables.load(s, dir, "nation").select(
        col("n_nationkey").as("zone"),
        ((col("n_nationkey") % 5) * 2.0).as("lat_min"),
        ((col("n_nationkey") % 5) * 2.0 + 1.5).as("lat_max"),
        (floor(col("n_nationkey") / 5) * 2.0).as("lon_min"),
        (floor(col("n_nationkey") / 5) * 2.0 + 1.5).as("lon_max"))
      val points = Tables.load(s, dir, "customer").select(
        col("c_custkey"), col("c_acctbal"),
        ((col("c_custkey") % 20) * 0.5 + 0.25).as("latitude"),
        (expr("(c_custkey div 20) % 20") * 0.5 + 0.25).as("longitude"))
      GridOps.zonalAssign(points, boxes, "zone", 0.25, 0.25, 0.5)
        .groupBy("zone")
        .agg(count(lit(1)).as("n_points"),
          Sql.exactSum(col("c_acctbal")).as("sum_bal"))
    },
    Some("""
      WITH boxes AS (
        SELECT n_nationkey AS zone,
               (n_nationkey % 5) * 2.0 AS lat_min,
               (n_nationkey % 5) * 2.0 + 1.5 AS lat_max,
               floor(n_nationkey / 5) * 2.0 AS lon_min,
               floor(n_nationkey / 5) * 2.0 + 1.5 AS lon_max
        FROM nation),
      points AS (
        SELECT c_custkey, c_acctbal,
               (c_custkey % 20) * 0.5 + 0.25 AS latitude,
               ((c_custkey // 20) % 20) * 0.5 + 0.25 AS longitude
        FROM customer)
      SELECT zone, count(*) AS n_points,
             CAST(sum(CAST(c_acctbal AS DECIMAL(27,4))) AS DOUBLE) AS sum_bal
      FROM points JOIN boxes
        ON latitude BETWEEN lat_min AND lat_max
       AND longitude BETWEEN lon_min AND lon_max
      GROUP BY 1"""))

  /** R1: distributed dense-grid generation (descending latitude, GloFAS
    * layout) — no driver-side coordinate materialization.
    */
  val q67DenseGrid = Q(
    "q67_dense_grid",
    (s, dir) =>
      RasterContract.denseGrid(s, latMax = 5.0, lonMin = 10.0, res = 0.5,
        nLat = 20, nLon = 30),
    Some("""
      SELECT 5.0 - i * 0.5 AS latitude, 10.0 + j * 0.5 AS longitude
      FROM (SELECT unnest(generate_series(0, 19)) AS i),
           (SELECT unnest(generate_series(0, 29)) AS j)"""))

  /** §3.2 composed deforestation pipeline: zonal assignment → dense
    * zero-filled counts → first-pixel haversine area → basin join,
    * oracle-checked end to end.
    */
  val q68TreelossBasin = Q(
    "q68_treeloss_basin",
    (s, dir) => {
      val px = Tables.load(s, dir, "lineitem").select(
        ((col("l_suppkey") % 40) * 0.5 + 0.25).as("x"),
        ((col("l_partkey") % 40) * 0.5 + 0.25).as("y"),
        (col("l_orderkey") % 4).cast("int").as("lossyear"))
      val basins = Tables.load(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("HYBAS_ID"),
        ((col("n_nationkey") % 5) * 2.0).as("lat_min"),
        ((col("n_nationkey") % 5) * 2.0 + 1.5).as("lat_max"),
        (floor(col("n_nationkey") / 5) * 2.0).as("lon_min"),
        (floor(col("n_nationkey") / 5) * 2.0 + 1.5).as("lon_max"),
        (col("n_nationkey") * 1.5).as("basin_area"))
      graft.operators.DeforestationPipeline
        .treeLossPerBasin(px, basins, 0.25, 0.25, 0.5, yearLo = 1, yearHi = 3)
        .select(col("HYBAS_ID"), col("year"), col("tree_loss_incidents"),
          round(col("first_cell_area") / 1e6, 3).as("area_km2"),
          col("basin_area"))
    },
    Some("""
      WITH px AS (
        SELECT (l_suppkey % 40) * 0.5 + 0.25 AS longitude,
               (l_partkey % 40) * 0.5 + 0.25 AS latitude,
               CAST(l_orderkey % 4 AS INTEGER) AS lossyear
        FROM lineitem),
      boxes AS (
        SELECT n_nationkey AS zone,
               (n_nationkey % 5) * 2.0 AS lat_min,
               (n_nationkey % 5) * 2.0 + 1.5 AS lat_max,
               floor(n_nationkey / 5) * 2.0 AS lon_min,
               floor(n_nationkey / 5) * 2.0 + 1.5 AS lon_max,
               n_nationkey * 1.5 AS basin_area
        FROM nation),
      ass AS (
        SELECT p.latitude, p.longitude, p.lossyear, b.zone, b.basin_area
        FROM px p JOIN boxes b
          ON p.latitude BETWEEN b.lat_min AND b.lat_max
         AND p.longitude BETWEEN b.lon_min AND b.lon_max),
      zones AS (SELECT DISTINCT zone FROM ass),
      years AS (SELECT CAST(unnest(generate_series(1, 3)) AS INTEGER) AS yr),
      counts AS (SELECT zone, lossyear AS yr, count(*) AS cnt FROM ass
                 WHERE lossyear BETWEEN 1 AND 3 GROUP BY 1, 2),
      firstc AS (
        SELECT zone, latitude, longitude FROM (
          SELECT zone, latitude, longitude,
                 row_number() OVER (PARTITION BY zone
                   ORDER BY latitude, longitude) AS rn
          FROM ass) WHERE rn = 1),
      area AS (
        SELECT zone,
          (2.0 * 6371000.0 * atan2(sqrt(
              pow(sin(radians((latitude + 0.25) - (latitude - 0.25)) / 2), 2)
              + cos(radians(latitude - 0.25)) * cos(radians(latitude + 0.25))
                * pow(sin(radians(longitude - longitude) / 2), 2)),
            sqrt(1.0 - (
              pow(sin(radians((latitude + 0.25) - (latitude - 0.25)) / 2), 2)
              + cos(radians(latitude - 0.25)) * cos(radians(latitude + 0.25))
                * pow(sin(radians(longitude - longitude) / 2), 2)))))
          * (2.0 * 6371000.0 * atan2(sqrt(
              pow(sin(radians(latitude - latitude) / 2), 2)
              + cos(radians(latitude)) * cos(radians(latitude))
                * pow(sin(radians((longitude + 0.25) - (longitude - 0.25)) / 2), 2)),
            sqrt(1.0 - (
              pow(sin(radians(latitude - latitude) / 2), 2)
              + cos(radians(latitude)) * cos(radians(latitude))
                * pow(sin(radians((longitude + 0.25) - (longitude - 0.25)) / 2), 2)))))
          AS a
        FROM firstc),
      bas AS (SELECT DISTINCT zone, basin_area FROM ass)
      SELECT CAST(z.zone AS BIGINT) AS HYBAS_ID, y.yr + 2000 AS year,
             coalesce(c.cnt, 0) AS tree_loss_incidents,
             round(area.a / 1e6, 3) AS area_km2,
             bas.basin_area
      FROM zones z
      CROSS JOIN years y
      LEFT JOIN counts c ON z.zone = c.zone AND y.yr = c.yr
      LEFT JOIN area ON z.zone = area.zone
      LEFT JOIN bas ON z.zone = bas.zone"""))

  /** R1 via the custom DataSource V2 (graft-grid): same grid as q67 but
    * materialized by the source's partition-planned readers.
    */
  val q69GridSource = Q(
    "q69_grid_source",
    (s, dir) =>
      s.read.format("graft-grid")
        .option("latMax", 5.0).option("lonMin", 10.0)
        .option("res", 0.5).option("nLat", 20).option("nLon", 30)
        .option("partitions", 8)
        .load(),
    Some("""
      SELECT 5.0 - i * 0.5 AS latitude, 10.0 + j * 0.5 AS longitude
      FROM (SELECT unnest(generate_series(0, 19)) AS i),
           (SELECT unnest(generate_series(0, 29)) AS j)"""))

  /** Z-order layout keys over a grid (the 100 TB data-layout primitive):
    * each cell's Morton key plus its 256-cell z-block — sorting/
    * partitioning by this key gives bbox queries min-max-prunable
    * contiguous ranges. The key math is pure bit interleaving, replicated
    * exactly by the oracle's fold.
    */
  val q58ZorderKey = Q(
    "q58_zorder_key",
    (s, dir) => {
      val sup = Tables.load(s, dir, "supplier")
      val i = col("s_suppkey").cast("long") % 64L
      val j = (col("s_suppkey").cast("long") * 7L) % 64L
      sup.select(col("s_suppkey"), i.as("i"), j.as("j"),
        GridOps.mortonKey(i, j, bits = 6).as("morton"))
        .withColumn("z_block", expr("morton DIV 256"))
    },
    Some("""
      WITH cells AS (
        SELECT s_suppkey,
               CAST(s_suppkey % 64 AS BIGINT) AS i,
               CAST((s_suppkey * 7) % 64 AS BIGINT) AS j
        FROM supplier),
      keyed AS (
        SELECT s_suppkey, i, j,
               list_reduce(
                 list_prepend(CAST(0 AS BIGINT),
                   [(((i >> b) & 1) << (2*b)) | (((j >> b) & 1) << (2*b + 1))
                    for b in generate_series(0, 5)]),
                 (a, x) -> a | x) AS morton
        FROM cells)
      SELECT s_suppkey, i, j, morton, morton // 256 AS z_block FROM keyed"""))

  /** J9/R7 for REAL shapes: arbitrary-polygon zonal assignment. The
    * reference rasterizes concave HydroSHEDS basin polygons
    * (global_forest_watch.py:76-95 `make_geocube`, hydrobasins.py:79-99),
    * not boxes — so the fixture is a concave L per zone and the
    * containment is exact even-odd ray-casting
    * ([[graft.functions.PointInPolygon]], codegen'd). Every vertex and
    * point coordinate is a multiple of 0.25 with |v| < 32, so each cross
    * product is exact in IEEE doubles and the DuckDB oracle — evaluating
    * the identical division-free formula via `list_filter` over the
    * closed ring — reproduces the containment bit-for-bit. Points in the
    * L's notch (the concave quadrant) are the cases a bbox join gets
    * wrong.
    */
  val q73PolygonZonal = Q(
    "q73_polygon_zonal",
    (s, dir) => {
      val ox = floor(col("n_nationkey") / 5) * 2.0
      val oy = (col("n_nationkey") % 5) * 2.0
      val polys = Tables.load(s, dir, "nation").select(
        col("n_nationkey").as("zone"),
        array(ox, ox + 1.5, ox + 1.5, ox + 0.5, ox + 0.5, ox).as("xs"),
        array(oy, oy, oy + 0.5, oy + 0.5, oy + 1.5, oy + 1.5).as("ys"))
      val points = Tables.load(s, dir, "customer").select(
        col("c_custkey"), col("c_acctbal"),
        ((col("c_custkey") % 20) * 0.5 + 0.25).as("latitude"),
        (expr("(c_custkey div 20) % 20") * 0.5 + 0.25).as("longitude"))
      GridOps.polygonZonalAssign(points, polys, "zone", cellSize = 2.0)
        .groupBy("zone")
        .agg(count(lit(1)).as("n_points"),
          Sql.exactSum(col("c_acctbal")).as("sum_bal"))
    },
    headline = true,
    oracle = Some("""
      WITH shapes AS (
        SELECT n_nationkey AS zone,
               [ox, ox + 1.5, ox + 1.5, ox + 0.5, ox + 0.5, ox, ox] AS xs,
               [oy, oy, oy + 0.5, oy + 0.5, oy + 1.5, oy + 1.5, oy] AS ys
        FROM (SELECT n_nationkey,
                     floor(n_nationkey / 5) * 2.0 AS ox,
                     (n_nationkey % 5) * 2.0 AS oy
              FROM nation)),
      points AS (
        SELECT c_custkey, c_acctbal,
               (c_custkey % 20) * 0.5 + 0.25 AS latitude,
               ((c_custkey // 20) % 20) * 0.5 + 0.25 AS longitude
        FROM customer),
      hits AS (
        SELECT s.zone, p.c_acctbal
        FROM points p JOIN shapes s
          ON len(list_filter(generate_series(1, 6), i ->
               ((s.ys[i] > p.latitude) <> (s.ys[i+1] > p.latitude))
               AND (CASE WHEN s.ys[i+1] - s.ys[i] > 0
                    THEN (p.longitude - s.xs[i]) * (s.ys[i+1] - s.ys[i])
                         - (s.xs[i+1] - s.xs[i]) * (p.latitude - s.ys[i]) < 0
                    ELSE (p.longitude - s.xs[i]) * (s.ys[i+1] - s.ys[i])
                         - (s.xs[i+1] - s.xs[i]) * (p.latitude - s.ys[i]) > 0
                    END))) % 2 = 1)
      SELECT zone, count(*) AS n_points,
             CAST(sum(CAST(c_acctbal AS DECIMAL(27,4))) AS DOUBLE) AS sum_bal
      FROM hits GROUP BY 1"""))

  /** S5→yes: REAL GeoTIFF/COG ingest, end-to-end. Replays the
    * reference's lossyear tile read (global_forest_watch.py:66,156
    * rioxarray → long rows, with lossyear=0 "no loss" dropped): the
    * graft-cog DSv2 source parses the byte-level TIFF (IFD, 32x16
    * deflate tiles, GeoTIFF pixel-scale/tiepoint georeferencing),
    * clips edge-tile padding, and drops the nodata sentinel at the
    * scan. The oracle reads parquet computed from the value FORMULA by
    * the independent pure-python writer (tools/tiff_fixture.py), so the
    * hash match cross-validates both format implementations.
    */
  val q76CogLossyear = Q(
    "q76_cog_lossyear",
    (s, _) =>
      s.read.format("graft-cog")
        .option("path", s"$DataDir/lossyear_tiled.tif")
        .option("nodata", "0")
        .load()
        .select(col("x"), col("y"), col("value").as("lossyear")),
    Some(s"""
      SELECT x, y, lossyear
      FROM '$DataDir/lossyear_expected.parquet'
      WHERE lossyear <> 0"""))

  /** S6→yes: REAL Zarr v2 store ingest (io_managers.py:119-129). The
    * graft-zarr DSv2 source reads the chunked store (one task per
    * chunk, zlib inflate, NaN fills dropped per the converter
    * contract); the oracle reads parquet computed from the value
    * FORMULA by the independent pure-python store writer
    * (tools/zarr_fixture.py) — the hash match cross-validates both
    * implementations. The Scala writer's round-trip is spec-tested
    * (ZarrSpec).
    */
  val q77ZarrUparea = Q(
    "q77_zarr_uparea",
    (s, _) =>
      s.read.format("graft-zarr")
        .option("path", s"$DataDir/uparea.zarr")
        .option("var", "uparea")
        .load()
        .select(col("latitude"), col("longitude"), col("value").as("uparea")),
    Some(s"""
      SELECT latitude, longitude, uparea
      FROM '$DataDir/uparea_expected.parquet'"""))

  /** Zarr v3 scan through the same graft-zarr DSv2 (version dispatch on
    * zarr.json vs .zarray): the uparea grid is stored SHARDED
    * (sharding_indexed — 16x32 outer shards of 8x16 gzip inner chunks,
    * crc32c-checked index, all-1s sentinel for fill-only inner chunks),
    * the v3 answer to object-count explosion at 100 TB: one shard = one
    * object GET = one input partition, inner chunks decoded within the
    * task. Fixture + expected parquet from the independent python v3
    * writer (tools/zarr3_fixture.py, spec-only, no zarr library).
    */
  val q120Zarr3Sharded = Q(
    "q120_zarr3_sharded",
    (s, _) =>
      s.read.format("graft-zarr")
        .option("path", s"$DataDir/uparea_v3.zarr")
        .option("var", "uparea")
        .load()
        .select(col("latitude"), col("longitude"), col("value").as("uparea")),
    Some(s"""
      SELECT latitude, longitude, uparea
      FROM '$DataDir/uparea_v3_expected.parquet'"""))

  /** S7→yes + the reference's real basin flow end-to-end: polygons come
    * from an actual ESRI shapefile (graft-shp DSv2 — .shx-indexed
    * ranged record reads, HYBAS_ID from the .dbf sidecar,
    * hydrobasins.py:77-99), then exact ray-cast zonal assignment and
    * per-basin aggregation. The oracle reads ring vertex arrays from
    * parquet computed by the independent pure-python shapefile writer
    * (tools/shp_fixture.py) and ray-casts the identical division-free
    * formula, so the hash match cross-validates the file format AND the
    * containment kernel together.
    */
  val q78ShpZonal = Q(
    "q78_shp_zonal",
    (s, dir) => {
      val polys = s.read.format("graft-shp")
        .option("path", s"$DataDir/basins.shp")
        .option("idfield", "HYBAS_ID")
        .load()
        .select(col("zone"), col("xs"), col("ys"))
      val points = Tables.load(s, dir, "customer").select(
        col("c_custkey"), col("c_acctbal"),
        ((col("c_custkey") % 20) * 0.5 + 0.25).as("latitude"),
        (expr("(c_custkey div 20) % 20") * 0.5 + 0.25).as("longitude"))
      GridOps.polygonZonalAssign(points, polys, "zone", cellSize = 2.0)
        .groupBy("zone")
        .agg(count(lit(1)).as("n_points"),
          Sql.exactSum(col("c_acctbal")).as("sum_bal"))
    },
    Some(s"""
      WITH shapes AS (
        SELECT zone, xs, ys FROM '$DataDir/basins_expected.parquet'),
      points AS (
        SELECT c_custkey, c_acctbal,
               (c_custkey % 20) * 0.5 + 0.25 AS latitude,
               ((c_custkey // 20) % 20) * 0.5 + 0.25 AS longitude
        FROM customer),
      hits AS (
        SELECT s.zone, p.c_acctbal
        FROM points p JOIN shapes s
          ON len(list_filter(generate_series(1, 6), i ->
               ((s.ys[i] > p.latitude) <> (s.ys[i+1] > p.latitude))
               AND (CASE WHEN s.ys[i+1] - s.ys[i] > 0
                    THEN (p.longitude - s.xs[i]) * (s.ys[i+1] - s.ys[i])
                         - (s.xs[i+1] - s.xs[i]) * (p.latitude - s.ys[i]) < 0
                    ELSE (p.longitude - s.xs[i]) * (s.ys[i+1] - s.ys[i])
                         - (s.xs[i+1] - s.xs[i]) * (p.latitude - s.ys[i]) > 0
                    END))) % 2 = 1)
      SELECT zone, count(*) AS n_points,
             CAST(sum(CAST(c_acctbal AS DECIMAL(27,4))) AS DOUBLE) AS sum_bal
      FROM hits GROUP BY 1"""))

  /** S5 write-back: the COG SINK (io_managers.py:103-110 `to_raster` +
    * `cog_translate`), exercised LIVE end-to-end: a pixel grid
    * aggregated from `lineitem` is written as a tiled-deflate GeoTIFF
    * by the distributed TiffWriter (tasks deflate their own tiles
    * through the Hadoop FS, driver streams header + IFD + staged
    * bytes), then read back through the graft-cog DSv2 source with the
    * nodata sentinel dropped. The oracle recomputes the grid directly
    * in SQL, so the hash match proves write∘read is the identity on
    * every Verify run. 100x72 pixels over 32x32 tiles exercises padded
    * edge tiles; `max(l_partkey % 999) + 1` keeps values 16-bit-safe
    * and nonzero at any scale factor.
    */
  val q82CogSink = Q(
    "q82_cog_sink",
    (s, dir) => {
      val (ox, oy, sx, sy) = (500000.0, 7000000.0, 30.0, 30.0)
      val grid = Tables.load(s, dir, "lineitem").select(
        (col("l_suppkey") % 100).as("pc"),
        (col("l_partkey") % 72).as("pr"),
        (col("l_partkey") % 999 + 1).as("v"))
        .groupBy("pc", "pr").agg(max(col("v")).as("value"))
        .select(
          (lit(ox) + (col("pc") + 0.5) * sx).as("x"),
          (lit(oy) - (col("pr") + 0.5) * sy).as("y"),
          col("value"))
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_cog_sink_" + Integer.toHexString(dir.hashCode) + ".tif")
        .getAbsolutePath
      graft.sources.tiff.TiffWriter.writeGrid(grid, path, "x", "y", "value",
        ox, oy, sx, sy, width = 100, height = 72,
        tileW = 32, tileH = 32, bits = 16)
      s.read.format("graft-cog")
        .option("path", path).option("nodata", "0").load()
        .select(col("x"), col("y"), col("value").cast("int").as("max_pk"))
    },
    Some("""
      SELECT 500000.0 + ((l_suppkey % 100) + 0.5) * 30.0 AS x,
             7000000.0 - ((l_partkey % 72) + 0.5) * 30.0 AS y,
             CAST(max(l_partkey % 999) + 1 AS INTEGER) AS max_pk
      FROM lineitem GROUP BY 1, 2"""))

  /** S5 depth: BIGTIFF (magic 43, 8-byte offsets, IFD8, LONG8 tile
    * arrays) — the layout real GFC mosaics and large COGs use past
    * classic TIFF's 4 GB offset space. The fixture is written by an
    * INDEPENDENT pure-python implementation of the BigTIFF spec
    * (tools/bigtiff_fixture.py) and the oracle reads parquet computed
    * from the value formula, so the hash match cross-validates every
    * BigTIFF-specific structure on both sides. (TiffWriter emits the
    * same layout automatically past 4 GB — spec-tested round trip.)
    */
  val q97BigtiffCog = Q(
    "q97_bigtiff_cog",
    (s, _) =>
      s.read.format("graft-cog")
        .option("path", s"$DataDir/lossyear_big.tif")
        .option("nodata", "0")
        .load()
        .select(col("x"), col("y"), col("value").as("lossyear")),
    Some(s"""
      SELECT x, y, lossyear
      FROM '$DataDir/lossyear_big_expected.parquet'
      WHERE lossyear <> 0"""))

  /** Geodetic reprojection (operators/GeoProject): the engine image of
    * the reference's `gdalwarp -t_srs EPSG:3857` preprocessing step
    * (sentinel/preprocessing.py:82). A WGS84 pixel table projects
    * forward to Web Mercator, snaps to a 1 km target grid (the warp's
    * resample-to-target-raster), aggregates per target pixel, and
    * reports the inverse-projected pixel center — forward, snap, and
    * inverse all as codegen'd column expressions, zero native deps. One
    * partial-agg shuffle on the compact pixel key; the oracle mirrors
    * the exact operand tree in SQL (libm-at-rounded-precision stability
    * per the q14 haversine precedent).
    */
  lazy val q145Reproject = Q(
    "q145_reproject",
    (s, dir) => {
      import graft.operators.GeoProject
      val px = Tables.load(s, dir, "lineitem").select(
        (lit(45.013) + (col("l_partkey") % 200) * 0.01).as("lat"),
        (lit(7.017) + (col("l_suppkey") % 300) * 0.01).as("lon"),
        col("l_quantity").as("v"))
      // Round the libm output to a fixed decimal BEFORE the grid snap:
      // a last-ulp ln/tan difference between engines must not be able to
      // flip the floor() bin (the q105 positive-domain-rounding pattern).
      val proj = px.select(
        GeoProject.snap(round(GeoProject.mercX(col("lon")), 6), 0.0, 1000.0).as("px"),
        GeoProject.snap(round(GeoProject.mercY(col("lat")), 6), 0.0, 1000.0).as("py"),
        col("v"))
      proj.groupBy("px", "py")
        .agg(count(lit(1)).as("n_src"),
          max("v").as("max_v"),
          Sql.exactSum(col("v")).as("sum_v"))
        .select(col("px"), col("py"), col("n_src"), col("max_v"), col("sum_v"),
          round(graft.operators.GeoProject.invLon(
            graft.operators.GeoProject.center(col("px"), 0.0, 1000.0)), 6)
            .as("center_lon"),
          round(graft.operators.GeoProject.invLat(
            graft.operators.GeoProject.center(col("py"), 0.0, 1000.0)), 6)
            .as("center_lat"))
    },
    Some("""
      WITH px AS (
        SELECT 45.013 + (l_partkey % 200) * 0.01 AS lat,
               7.017 + (l_suppkey % 300) * 0.01 AS lon,
               l_quantity AS v
        FROM lineitem),
      proj AS (
        SELECT CAST(floor((round(lon * (pi() / 180) * 6378137.0, 6) - 0.0) / 1000.0) AS BIGINT) AS px,
               CAST(floor((round(ln(tan(pi() / 4 + lat * (pi() / 180) / 2)) * 6378137.0, 6) - 0.0) / 1000.0) AS BIGINT) AS py,
               v
        FROM px)
      SELECT px, py, count(*) AS n_src, max(v) AS max_v,
             CAST(sum(CAST(v AS DECIMAL(27,4))) AS DOUBLE) AS sum_v,
             round((0.0 + (CAST(px AS DOUBLE) + 0.5) * 1000.0) / 6378137.0 / (pi() / 180), 6) AS center_lon,
             round((atan(exp((0.0 + (CAST(py AS DOUBLE) + 0.5) * 1000.0) / 6378137.0)) * 2 - pi() / 2) / (pi() / 180), 6) AS center_lat
      FROM proj GROUP BY 1, 2"""))

  /** Mosaic + overlapping retile — the engine image of the reference's
    * `preprocess_retile` step (sentinel/preprocessing.py:109-129:
    * gdalbuildvrt mosaic, later source wins on overlap, then
    * gdal_retile with `-overlap`). Three offset source rasters mosaic
    * by LAST-source-wins (`max_by` on the source index ≡ VRT order),
    * then every pixel fans out to the 1, 2, or 4 overlapping tiles of a
    * size-64/overlap-8 tiling (stride 56 — the closed-form interval
    * membership `greatest((p-8) div 56, 0) .. p div 56`, a bounded
    * 2-element sequence per axis, never a range join). Per-tile stats
    * in exact integer arithmetic. One partial-agg shuffle per stage.
    */
  lazy val q149MosaicRetile = Q(
    "q149_mosaic_retile",
    (s, dir) => {
      val cells = Tables.load(s, dir, "orders").select(
        (col("o_orderkey") % 3).cast("int").as("s"),
        ((col("o_orderkey") % 96) + (col("o_orderkey") % 3) * 40).cast("int").as("gx"),
        (expr("(o_orderkey div 96) % 96") + (col("o_orderkey") % 3) * 24).cast("int").as("gy"),
        (col("o_orderkey") % 1000).as("v"))
        .groupBy("s", "gx", "gy").agg(max("v").as("v"))
      val mosaic = cells.groupBy("gx", "gy")
        .agg(max_by(col("v"), col("s")).as("v"))
      mosaic
        .withColumn("tile_x",
          explode(expr("sequence(greatest((gx - 8) div 56, 0), gx div 56)")))
        .withColumn("tile_y",
          explode(expr("sequence(greatest((gy - 8) div 56, 0), gy div 56)")))
        .groupBy("tile_x", "tile_y")
        .agg(count(lit(1)).as("n_cells"),
          max("v").as("max_v"),
          sum("v").as("sum_v"))
        .select(col("tile_x").cast("long"), col("tile_y").cast("long"),
          col("n_cells"), col("max_v"), col("sum_v"))
    },
    Some("""
      WITH cells AS (
        SELECT CAST(o_orderkey % 3 AS INT) AS s,
               CAST(o_orderkey % 96 AS INT) + CAST(o_orderkey % 3 AS INT) * 40 AS gx,
               CAST((o_orderkey // 96) % 96 AS INT) + CAST(o_orderkey % 3 AS INT) * 24 AS gy,
               max(o_orderkey % 1000) AS v
        FROM orders GROUP BY 1, 2, 3),
      mosaic AS (
        SELECT gx, gy, arg_max(v, s) AS v FROM cells GROUP BY 1, 2),
      tx AS (
        SELECT gy, v,
               unnest(generate_series(greatest((gx - 8) // 56, 0), gx // 56))
                 AS tile_x
        FROM mosaic),
      tiles AS (
        SELECT v, tile_x,
               unnest(generate_series(greatest((gy - 8) // 56, 0), gy // 56))
                 AS tile_y
        FROM tx)
      SELECT CAST(tile_x AS BIGINT) AS tile_x,
             CAST(tile_y AS BIGINT) AS tile_y,
             count(*) AS n_cells,
             CAST(max(v) AS BIGINT) AS max_v,
             CAST(sum(v) AS BIGINT) AS sum_v
      FROM tiles GROUP BY 1, 2"""))

  val qs: Seq[Q] = Seq(q58ZorderKey, q65NodataTiles, q66ZonalAssign,
    q67DenseGrid, q68TreelossBasin, q69GridSource, q73PolygonZonal,
    q76CogLossyear, q77ZarrUparea, q78ShpZonal, q82CogSink, q97BigtiffCog,
    q113PolygonMetrics, q114ArrowScan, q115ArrowSink, q117WkbZonal,
    q120Zarr3Sharded, q121Zarr3Sink, q123Zarr3d, q124Zarr3dQuantiles,
    q127CompactedScan, q128CogOverview, q145Reproject, q149MosaicRetile,
    q155CubicOverview, q206JpegCogSink, q207JpegTablesCog)

  /** S5 compat depth: the SHARED-JPEGTables layout (TIFF TechNote 2,
    * tag 347) that `gdal_retile -co COMPRESS=JPEG` actually writes —
    * DQT/DHT live once in the tag, tiles are ABBREVIATED streams the
    * reader must splice the tables into before decoding. The fixture is
    * written by an INDEPENDENT pure-python implementation of the layout
    * (tools/jpeg_tables_fixture.py, DC-only uniform blocks under the
    * all-ones quant table = the exact-decode regime) and the oracle
    * reads the formula-computed expected parquet, so the hash match
    * cross-validates the tag parse, the splice, and the decode. q206
    * covers the standalone-stream layout our own writer emits; together
    * they close both halves of the JPEG-tiled read surface.
    */
  lazy val q207JpegTablesCog = Q(
    "q207_jpeg_tables_cog",
    (s, _) =>
      s.read.format("graft-cog")
        .option("path", s"$DataDir/jpeg_tables.tif")
        .option("nodata", "0")
        .load()
        .select(col("x"), col("y"), col("value").cast("int").as("value")),
    Some(s"""
      SELECT x, y, value
      FROM '$DataDir/jpeg_tables_expected.parquet'"""))

  /** S5 depth: the JPEG-compressed tiled write (compression 7) — the
    * reference's SERVING-PYRAMID codec (`gdal_retile.py ... -co
    * 'COMPRESS=JPEG'`, sentinel/postprocessing.py:69), the one write
    * codec missing until round 16. A dense 88×56 grid of 8×8-UNIFORM
    * blocks (value = f(block coords) ∈ [1, 255]) is written by the
    * distributed TiffWriter as 32×32 JPEG tiles at quality 100 — the
    * all-ones-quant regime where uniform blocks encode as exact DC-only
    * units (sources/tiff/JpegCodec) — then read back through the
    * graft-cog DSv2 source. Decode crosses an INDEPENDENT codebase
    * (javax.imageio), the padded right/bottom tiles carry nodata
    * blocks, and tools/jpeg_tile_check.py re-derives every pixel with a
    * pure-python T.81 Huffman decoder (JpegTiffSpec). The oracle
    * replays the block formula over a generated series, so the hash
    * match proves write∘decode is the identity. Lossy-quality JPEG
    * (arbitrary content) is exercised in JpegTiffSpec — it cannot be
    * hash-gated, as JPEG is lossy by design.
    */
  lazy val q206JpegCogSink = Q(
    "q206_jpeg_cog_sink",
    (s, dir) => {
      val (ox, oy, sx, sy) = (100000.0, 900000.0, 10.0, 10.0)
      val (w, h) = (88, 56)
      val grid = s.range(w.toLong * h).select(
          (col("id") % w).as("pc"), (col("id") / w).cast("long").as("pr"))
        .select(
          (lit(ox) + (col("pc") + 0.5) * sx).as("x"),
          (lit(oy) - (col("pr") + 0.5) * sy).as("y"),
          (((col("pc") / 8).cast("long") * 29 +
            (col("pr") / 8).cast("long") * 53) % 255 + 1)
            .cast("int").as("value"))
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_jpeg_cog_" + Integer.toHexString(dir.hashCode) + ".tif")
        .getAbsolutePath
      graft.sources.tiff.TiffWriter.writeGrid(grid, path, "x", "y", "value",
        ox, oy, sx, sy, width = w, height = h,
        tileW = 32, tileH = 32, bits = 8, compression = "jpeg",
        jpegQuality = 100)
      s.read.format("graft-cog")
        .option("path", path).option("nodata", "0").load()
        .select(col("x"), col("y"), col("value").cast("int").as("value"))
    },
    Some("""
      WITH px AS (
        SELECT i % 88 AS pc, i // 88 AS pr
        FROM (SELECT unnest(generate_series(0, 88 * 56 - 1)) AS i))
      SELECT 100000.0 + (pc + 0.5) * 10.0 AS x,
             900000.0 - (pr + 0.5) * 10.0 AS y,
             CAST(((pc // 8) * 29 + (pr // 8) * 53) % 255 + 1 AS INTEGER)
               AS value
      FROM px"""))

  /** COG OVERVIEWS under the gate: the `cog_translate` reduced-resolution
    * IFD chain (io_managers.py:103-110 writes overviews by default). The
    * q82 pixel grid is written with 2×/4× overview levels — each computed
    * DISTRIBUTED as a per-level groupBy block-mean over the shared pixel
    * frame — then read back at level 1 through the graft-cog DSv2 `level`
    * option. The overview value is the HALF-UP ROUNDED MEAN of present
    * base pixels in exact long arithmetic ((2·sum+n)/(2·n)), so the
    * DuckDB oracle replicates it bit-for-bit with hugeint division; the
    * hash match proves the whole chain: distributed coarsen → IFD chain
    * encode → chain walk → derived georeferencing → tile decode.
    */
  lazy val q128CogOverview = Q(
    "q128_cog_overview",
    (s, dir) => {
      val (ox, oy, sx, sy) = (500000.0, 7000000.0, 30.0, 30.0)
      val grid = Tables.load(s, dir, "lineitem").select(
        (col("l_suppkey") % 100).as("pc"),
        (col("l_partkey") % 72).as("pr"),
        (col("l_partkey") % 999 + 1).as("v"))
        .groupBy("pc", "pr").agg(max(col("v")).as("value"))
        .select(
          (lit(ox) + (col("pc") + 0.5) * sx).as("x"),
          (lit(oy) - (col("pr") + 0.5) * sy).as("y"),
          col("value"))
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_cog_ov_" + Integer.toHexString(dir.hashCode) + ".tif")
        .getAbsolutePath
      graft.sources.tiff.TiffWriter.writeGrid(grid, path, "x", "y", "value",
        ox, oy, sx, sy, width = 100, height = 72,
        tileW = 32, tileH = 32, bits = 16, overviews = Seq(2, 4))
      s.read.format("graft-cog")
        .option("path", path).option("nodata", "0").option("level", "1")
        .load()
        .select(col("x"), col("y"), col("value").cast("int").as("mean_v"))
    },
    Some("""
      WITH base AS (
        SELECT (l_suppkey % 100) AS pc, (l_partkey % 72) AS pr,
               max(l_partkey % 999) + 1 AS v
        FROM lineitem GROUP BY 1, 2),
      ov AS (
        SELECT pc // 2 AS oc, pr // 2 AS orow,
               CAST((2 * sum(v) + count(*)) // (2 * count(*)) AS INTEGER)
                 AS mean_v
        FROM base GROUP BY 1, 2)
      SELECT 500000.0 + (oc + 0.5) * 60.0 AS x,
             7000000.0 - (orow + 0.5) * 60.0 AS y,
             mean_v
      FROM ov"""))

  /** The NON-MEAN pyramid kernel (reference final product:
    * sentinel/postprocessing.py:69-71 `gdal_retile.py -r cubic -levels
    * 11`): one overview level computed with the 4×4 cubic-convolution
    * kernel — Keys (1981) a=−1/2 at the dyadic offsets, separable axis
    * weights exactly [−1/16, 9/16, 9/16, −1/16], edge replication,
    * half-up integer rounding, UInt16 clamp (the fixture's % wrap makes
    * real overshoot, so the clamp path is live). The chain under gate:
    * GridOps.cubicDownsample2x (distributed contribution-explode, exact
    * integer numerators) → TiffWriter resampling="cubic" level encode →
    * graft-cog level-1 decode; the oracle is the INDEPENDENT pure-python
    * kernel implementation (tools/cubic_fixture.py — shares only the
    * published kernel, no engine code), so the hash match
    * cross-validates the whole arithmetic + both TIFF sides.
    */
  lazy val q155CubicOverview = Q(
    "q155_cubic_overview",
    (s, dir) => {
      val (ox, oy, sx, sy) = (500000.0, 7000000.0, 30.0, 30.0)
      val (w, h) = (100, 72)
      val grid = s.range(w.toLong * h).select(
          (col("id") % w).cast("int").as("pc"),
          (col("id") / w).cast("int").as("pr"))
        .select(
          (lit(ox) + (col("pc") + 0.5) * sx).as("x"),
          (lit(oy) - (col("pr") + 0.5) * sy).as("y"),
          ((col("pc") * 7 + col("pr") * 13) % 997 + 1).cast("int").as("value"))
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_cubic_" + Integer.toHexString(dir.hashCode) + ".tif")
        .getAbsolutePath
      // nodata=65535 can never collide: base ∈ [1,997], cubic ≤ ~1300
      graft.sources.tiff.TiffWriter.writeGrid(grid, path, "x", "y", "value",
        ox, oy, sx, sy, width = w, height = h,
        tileW = 32, tileH = 32, bits = 16, nodata = 65535,
        overviews = Seq(2), resampling = "cubic")
      s.read.format("graft-cog")
        .option("path", path).option("nodata", "65535").option("level", "1")
        .load()
        .select(col("x"), col("y"), col("value").cast("int").as("value"))
    },
    Some(s"SELECT x, y, value FROM '$DataDir/cubic_expected.parquet'"))

  /** Small-file compaction under the gate: an orders slice is written
    * as 32 tiny part files (the streaming-sink litter pattern),
    * compacted by FsOps.compactParquet into one target-sized file with
    * the atomic two-rename swap, and read back aggregated; the oracle
    * recomputes from orders directly — the hash match proves compaction
    * is row-exact, and the query asserts the file count actually
    * dropped (hygiene that silently no-ops is worse than none).
    */
  lazy val q127CompactedScan = Q(
    "q127_compacted_scan",
    (s, dir) => {
      val slice = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_compact_" + Integer.toHexString(dir.hashCode))
        .getAbsolutePath
      slice.repartition(32).write.mode("overwrite").parquet(path)
      val (before, after) =
        graft.sources.FsOps.compactParquet(s, path, targetBytes = 1L << 30)
      require(before == 32 && after == 1,
        s"compaction did not merge: $before -> $after files")
      s.read.parquet(path)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          Sql.exactSum(col("o_totalprice")).as("sum_price"),
          max("o_orderkey").as("max_key"))
    },
    Some("""
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_price,
             max(o_orderkey) AS max_key
      FROM orders GROUP BY 1"""))

  /** The flagship flood semantic composed DIRECTLY onto the 3-D source:
    * per-cell exact quantiles over the t dimension of dis(t, lat, lon)
    * (reference transforms.py:55-70 — ensemble percentiles per grid
    * cell, here with t playing the member axis). One shuffle on the
    * cell key; grouped exact `percentile` buffers (A1′ semantics), the
    * dense NaN cells dropped at the scan.
    */
  lazy val q124Zarr3dQuantiles = Q(
    "q124_zarr3d_quantiles",
    (s, _) =>
      s.read.format("graft-zarr")
        .option("path", s"$DataDir/uparea_v3.zarr")
        .option("var", "dis")
        .load()
        .groupBy("latitude", "longitude")
        .agg(count(lit(1)).as("n_steps"),
          round(percentile(col("value"), lit(0.5)), 6).as("median_dis"),
          max("value").as("max_dis"))
        .filter(col("n_steps") >= 4),
    Some(s"""
      SELECT latitude, longitude, count(*) AS n_steps,
             round(quantile_cont(dis, 0.5), 6) AS median_dis,
             max(dis) AS max_dis
      FROM '$DataDir/dis_v3_expected.parquet'
      GROUP BY 1, 2 HAVING count(*) >= 4"""))

  /** 3-D raster scan: `dis(time, lat, lon)` — the reference's actual
    * discharge shape (dims (number, step, latitude, longitude),
    * data_generation.py:28-36; step × grid after member selection) —
    * unpivoted to (t, latitude, longitude, value) rows with one input
    * partition per 3-D chunk. Same graft-zarr source; the schema grows
    * a leading `t` column when the variable is 3-D.
    */
  lazy val q123Zarr3d = Q(
    "q123_zarr_3d",
    (s, _) =>
      s.read.format("graft-zarr")
        .option("path", s"$DataDir/uparea_v3.zarr")
        .option("var", "dis")
        .load()
        .select(col("t"), col("latitude"), col("longitude"),
          col("value").as("dis")),
    Some(s"""
      SELECT t, latitude, longitude, dis
      FROM '$DataDir/dis_v3_expected.parquet'"""))

  /** Zarr v3 SHARDED sink round trip (writeGridV3 → graft-zarr read):
    * an aggregated grid is written as v3 shards — one shard object per
    * outer chunk, gzip inner chunks, crc32c index — and read back; the
    * oracle recomputes the grid straight from orders. Completes the v3
    * "source AND sink" pair the same way q81 does for NetCDF.
    */
  lazy val q121Zarr3Sink = Q(
    "q121_zarr3_sink",
    (s, dir) => {
      val lats = Array.tabulate(40)(i => 12.0 - i * 0.25)
      val lons = Array.tabulate(60)(j => 30.0 + j * 0.25)
      val grid = Tables.load(s, dir, "orders").select(
        (lit(12.0) - (col("o_custkey") % 40) * 0.25).as("latitude"),
        (lit(30.0) + expr("(o_custkey div 40) % 60") * 0.25).as("longitude"),
        (col("o_orderkey") % 89).as("v"))
        .groupBy("latitude", "longitude")
        .agg(max(col("v")).cast("double").as("max_v"))
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_zarr3_sink_" + Integer.toHexString(dir.hashCode))
        .getAbsolutePath
      graft.sources.zarr.ZarrStore.writeGridV3(grid, path, "max_v",
        "latitude", "longitude", "max_v", lats, lons,
        chunkRows = 16, chunkCols = 32, innerRows = 8, innerCols = 16)
      s.read.format("graft-zarr")
        .option("path", path).option("var", "max_v").load()
        .filter(!isnan(col("value")))
        .select(col("latitude"), col("longitude"), col("value").as("max_v"))
    },
    Some("""
      SELECT 12.0 - (o_custkey % 40) * 0.25 AS latitude,
             30.0 + ((o_custkey // 40) % 60) * 0.25 AS longitude,
             CAST(max(o_orderkey % 89) AS DOUBLE) AS max_v
      FROM orders GROUP BY 1, 2"""))

  /** WKB-decoded zonal assignment: polygons arrive as ISO WKB blobs
    * (the shapely/geopandas interchange format the reference's basin
    * parquet carries), are decoded to vertex arrays by the codegen
    * expression functions/WkbRingCoords, and drive the same
    * point-in-polygon zonal pipeline as q78. The oracle reads the xs/ys
    * arrays stored ALONGSIDE the blobs by the independent python WKB
    * writer (tools/wkb_fixture.py, both byte orders) — the hash match
    * proves the decode reproduces every coordinate bit-for-bit.
    */
  lazy val q117WkbZonal = Q(
    "q117_wkb_zonal",
    (s, dir) => {
      import graft.functions.WkbRingCoords
      val polys = s.read.parquet(s"$DataDir/basins_wkb.parquet")
        .select(col("zone"),
          WkbRingCoords.xs(col("wkb")).as("xs"),
          WkbRingCoords.ys(col("wkb")).as("ys"))
      val points = Tables.load(s, dir, "customer").select(
        col("c_custkey"), col("c_acctbal"),
        ((col("c_custkey") % 20) * 0.5 + 0.25).as("latitude"),
        (expr("(c_custkey div 20) % 20") * 0.5 + 0.25).as("longitude"))
      GridOps.polygonZonalAssign(points, polys, "zone", cellSize = 2.0)
        .groupBy("zone")
        .agg(count(lit(1)).as("n_points"),
          Sql.exactSum(col("c_acctbal")).as("sum_bal"))
    },
    Some(s"""
      WITH shapes AS (
        SELECT zone, xs, ys FROM '$DataDir/basins_wkb.parquet'),
      points AS (
        SELECT c_custkey, c_acctbal,
               (c_custkey % 20) * 0.5 + 0.25 AS latitude,
               ((c_custkey // 20) % 20) * 0.5 + 0.25 AS longitude
        FROM customer),
      hits AS (
        SELECT s.zone, p.c_acctbal
        FROM points p JOIN shapes s
          ON len(list_filter(generate_series(1, len(s.xs) - 1), i ->
               ((s.ys[i] > p.latitude) <> (s.ys[i+1] > p.latitude))
               AND (CASE WHEN s.ys[i+1] - s.ys[i] > 0
                    THEN (p.longitude - s.xs[i]) * (s.ys[i+1] - s.ys[i])
                         < (s.xs[i+1] - s.xs[i]) * (p.latitude - s.ys[i])
                    ELSE (p.longitude - s.xs[i]) * (s.ys[i+1] - s.ys[i])
                         > (s.xs[i+1] - s.xs[i]) * (p.latitude - s.ys[i])
                    END))) % 2 = 1)
      SELECT zone, count(*) AS n_points,
             CAST(sum(CAST(c_acctbal AS DECIMAL(27,4))) AS DOUBLE) AS sum_bal
      FROM hits GROUP BY 1"""))

  /** Arrow IPC SINK round trip: an orders slice is written as a
    * directory of part-file IPC batches (ArrowSink — one bounded batch
    * buffer per task, temp-name + atomic rename) and read back through
    * the graft-arrow source; the oracle computes the same aggregate
    * straight from the orders table, so the gate hash-validates the
    * write→read cycle including nulls. Same build-time-tmpdir pattern
    * as q81/q82 (Verify runs queries sequentially).
    */
  lazy val q115ArrowSink = Q(
    "q115_arrow_sink",
    (s, dir) => {
      val slice = Tables.load(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_custkey") % 13 =!= 0, col("o_orderpriority")).as("prio"),
        col("o_totalprice").as("price"),
        (col("o_orderkey") % 3 === 0).as("bulk"))
      val path = new java.io.File(sys.props("java.io.tmpdir"),
        "graft_arrow_sink_" + Integer.toHexString(dir.hashCode))
        .getAbsolutePath
      graft.sources.arrow.ArrowSink.write(
        slice.repartition(4), path, batchRows = 4096)
      s.read.format("graft-arrow").option("path", path).load()
        .groupBy(coalesce(col("prio"), lit("(none)")).as("prio"))
        .agg(count(lit(1)).as("n"),
          count(when(col("bulk"), 1)).as("n_bulk"),
          Sql.exactSum(col("price")).as("sum_price"),
          max("o_orderkey").as("max_key"))
    },
    Some("""
      SELECT coalesce(CASE WHEN o_custkey % 13 <> 0
                           THEN o_orderpriority END, '(none)') AS prio,
             count(*) AS n,
             count(CASE WHEN o_orderkey % 3 = 0 THEN 1 END) AS n_bulk,
             CAST(sum(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE) AS sum_price,
             max(o_orderkey) AS max_key
      FROM orders GROUP BY 1"""))

  /** Arrow IPC scan (graft-arrow DSv2, one partition per record batch,
    * footer-only planning) aggregated per sensor — the ingest hop from
    * ML-tooling caches (HuggingFace datasets, pandas/polars dumps) that
    * a training-data pipeline reads without conversion. The oracle runs
    * over the expected parquet written alongside the IPC fixture by
    * tools/arrow_fixture.py, so the hash match cross-validates the
    * arrow-vector batch walk, type mapping, and null handling against
    * pyarrow's writer.
    */
  lazy val q114ArrowScan = Q(
    "q114_arrow_scan",
    (s, _) => {
      s.read.format("graft-arrow")
        .option("path", s"$DataDir/metrics.arrow")
        .load()
        .groupBy(coalesce(col("sensor"), lit("(null)")).as("sensor"))
        .agg(count(lit(1)).as("n"),
          count(when(col("flag"), 1)).as("n_flagged"),
          Sql.exactSum(col("reading")).as("sum_reading"),
          max("id").as("max_id"))
    },
    Some(s"""
      SELECT coalesce(sensor, '(null)') AS sensor,
             count(*) AS n,
             count(CASE WHEN flag THEN 1 END) AS n_flagged,
             CAST(sum(CAST(reading AS DECIMAL(27,4))) AS DOUBLE) AS sum_reading,
             max(id) AS max_id
      FROM '$DataDir/arrow_expected.parquet'
      GROUP BY 1"""))

  /** Polygon scalar metrics over the shapefile source: shoelace area,
    * perimeter, and centroid per ring — the geometry derivations the
    * reference gets from shapely (hydrobasins.py:79-99) re-expressed as
    * ordered Catalyst array folds. Bit-reproducibility design: ring
    * coords are 0.25-multiples so every shoelace cross term is exact in
    * doubles; perimeter's per-edge sqrt is IEEE correctly-rounded and
    * both engines fold the edges IN RING ORDER (Spark `aggregate` over
    * `sequence` ≡ DuckDB `list_reduce` over an ordered comprehension) —
    * an unordered SQL `sum()` over unnested edges would be free to
    * reassociate and flip last bits. Centroid divides two identically-
    * computed doubles, so it is bit-identical too (same reasoning as
    * the q46 hyperplane-fold lesson). The oracle computes from the
    * independent python writer's basins_expected.parquet, so the .shp
    * byte parsing is cross-validated once more on the way through.
    */
  lazy val q113PolygonMetrics = Q(
    "q113_polygon_metrics",
    (s, _) => {
      s.read.format("graft-shp")
        .option("path", s"$DataDir/basins.shp")
        .option("idfield", "HYBAS_ID")
        .load()
        .select(col("zone"), col("part"), col("xs"), col("ys"))
        .withColumn("a2", expr(
          "aggregate(sequence(1, size(xs) - 1), 0d, (acc, i) ->" +
            " acc + (element_at(xs, i) * element_at(ys, i + 1)" +
            " - element_at(xs, i + 1) * element_at(ys, i)))"))
        .withColumn("perimeter", expr(
          "aggregate(sequence(1, size(xs) - 1), 0d, (acc, i) ->" +
            " acc + sqrt(pow(element_at(xs, i + 1) - element_at(xs, i), 2)" +
            " + pow(element_at(ys, i + 1) - element_at(ys, i), 2)))"))
        .withColumn("cx", expr(
          "aggregate(sequence(1, size(xs) - 1), 0d, (acc, i) ->" +
            " acc + (element_at(xs, i) + element_at(xs, i + 1))" +
            " * (element_at(xs, i) * element_at(ys, i + 1)" +
            " - element_at(xs, i + 1) * element_at(ys, i)))") / (lit(3.0) * col("a2")))
        .withColumn("cy", expr(
          "aggregate(sequence(1, size(xs) - 1), 0d, (acc, i) ->" +
            " acc + (element_at(ys, i) + element_at(ys, i + 1))" +
            " * (element_at(xs, i) * element_at(ys, i + 1)" +
            " - element_at(xs, i + 1) * element_at(ys, i)))") / (lit(3.0) * col("a2")))
        .select(col("zone"), col("part").cast("long").as("part"),
          (abs(col("a2")) / 2.0).as("area"), col("perimeter"),
          col("cx"), col("cy"))
    },
    Some(s"""
      SELECT zone, CAST(part AS BIGINT) AS part,
             abs(a2) / 2.0 AS area, perimeter,
             cxs / (3.0 * a2) AS cx, cys / (3.0 * a2) AS cy
      FROM (
        SELECT zone, part,
               list_reduce(list_prepend(0.0,
                 [xs[i] * ys[i+1] - xs[i+1] * ys[i]
                  for i in generate_series(1, len(xs) - 1)]),
                 (a, b) -> a + b) AS a2,
               list_reduce(list_prepend(0.0,
                 [sqrt(pow(xs[i+1] - xs[i], 2) + pow(ys[i+1] - ys[i], 2))
                  for i in generate_series(1, len(xs) - 1)]),
                 (a, b) -> a + b) AS perimeter,
               list_reduce(list_prepend(0.0,
                 [(xs[i] + xs[i+1]) * (xs[i] * ys[i+1] - xs[i+1] * ys[i])
                  for i in generate_series(1, len(xs) - 1)]),
                 (a, b) -> a + b) AS cxs,
               list_reduce(list_prepend(0.0,
                 [(ys[i] + ys[i+1]) * (xs[i] * ys[i+1] - xs[i+1] * ys[i])
                  for i in generate_series(1, len(xs) - 1)]),
                 (a, b) -> a + b) AS cys
        FROM '$DataDir/basins_expected.parquet')"""))
}
