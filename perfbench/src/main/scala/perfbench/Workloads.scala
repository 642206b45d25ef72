package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.Registry
import graft.sources.grib.Grib2Writer
import graft.sources.nc.Hdf5Writer
import graft.sources.tiff.TiffWriter
import graft.sources.zarr.ZarrStore

/** What an op reports besides its wall time, computed after the timer
  * stopped. `readRows`: rows its sources read from storage; `writeRows`:
  * rows it writes to storage or hands to the client; `bytesOut`: bytes it
  * leaves on disk.
  */
final case class Outcome(readRows: Long, writeRows: Long, bytesOut: Long,
    error: Option[String])

/** Marks the phases of one op (build the plan, force the physical plan,
  * execute) with wall-clock spans and tags the jobs each phase submits.
  */
final class Phases(spark: SparkSession) {
  val marks = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
  def apply[A](name: String)(f: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Phases.Key, name)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      marks += ((name, t0, System.currentTimeMillis()))
      sc.setLocalProperty(Phases.Key, null)
    }
  }
}

object Phases { val Key = "perfbench.phase" }

/** One timed operation. `run` does the user-visible work inside the timer
  * and returns the check, which runs after the timer stops. `role` is
  * "read", "write", or "query" (both: reads tables, hands rows back).
  */
final case class Op(kind: String, role: String, run: Phases => (() => Outcome))

/** A workload: inputs made from the seed by `setup` (repeatable; each
  * call replaces the previous inputs), and rounds of ops.
  */
trait Workload {
  def setup(): Unit
  def round(r: Int): Seq[Op]
  /** Rounds every run completes, however short `--seconds` is. */
  def minRounds: Int
  /** Rounds no run exceeds, however long `--seconds` is. */
  def maxRounds: Int = Int.MaxValue
  /** Ops run once before the timed rounds; checked, never timed. */
  def warmup: Seq[Op] = Nil
  def inputs: Map[String, Any]
  def skipped: Seq[(String, String)] = Nil
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, data: Path,
      work: Path): Workload = name match {
    case "headline_queries" => new HeadlineQueries(spark, seed, data)
    case "raster_round_trip" => new RasterRoundTrip(spark, seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def fail(cond: Boolean, msg: => String): Option[String] =
    if (cond) None else Some(msg)

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}

/** `Registry.headlines` over the vendored testdata tables, one query
  * execution per op, collected to the driver as a user would. The seed
  * permutes the query order of every round.
  */
final class HeadlineQueries(spark: SparkSession, seed: Long, data: Path)
    extends Workload {
  private val sfDir = data.resolve("sf0.01")
  private val expected = Expected.load(data.resolve("expected_sf0.01.json"))
  private val queries =
    Registry.headlines.filterNot(q => HeadlineQueries.Skipped.contains(q.name))
  private var tableRows = Map.empty[String, Long]

  override def skipped: Seq[(String, String)] =
    Registry.headlines.map(_.name).flatMap(n =>
      HeadlineQueries.Skipped.get(n).map(n -> _))

  def setup(): Unit = {
    tableRows = Expected.checkTables(spark, sfDir, expected)
    val missing = queries.map(_.name).filterNot(expected.queries.contains)
    require(missing.isEmpty,
      s"no recorded output for ${missing.mkString(",")}: re-record expectations")
  }

  /** One pass: the work a job that runs each query once pays. */
  def minRounds: Int = 1
  override def maxRounds: Int = 1
  /** Three cheap relational queries warm the scheduler, scan and codegen
    * paths every query shares, so the pass order matters less.
    */
  override def warmup: Seq[Op] =
    queries.filter(q => HeadlineQueries.Warmup.contains(q.name)).map(op)
  def inputs: Map[String, Any] = Map("sf_dir" -> sfDir.toString,
    "queries" -> queries.size, "table_rows" -> tableRows)

  def round(r: Int): Seq[Op] =
    new Random(seed * 1000003L + r).shuffle(queries).map(op)

  private def op(q: graft.queries.Q) = Op(q.name, "query", p => {
    val df = p("build")(q.run(spark, sfDir.toString))
    p("plan")(df.queryExecution.executedPlan)
    val rows = p("exec")(df.collect())
    () => {
      val in = df.inputFiles.map(Expected.tableOf).distinct
        .map(tableRows.getOrElse(_, 0L)).sum
      val got = Checksum.of(rows)
      val want = expected.queries(q.name)
      Outcome(in, rows.length, 0L, Workload.fail(got == want,
        s"${q.name}: got rows=${got._1} sum=${got._2}, " +
          s"want rows=${want._1} sum=${want._2}"))
    }
  })
}

object HeadlineQueries {
  /** Headlines left out of the workload, with the reason. */
  val Skipped: Map[String, String] = Map(
    "q72_rp_combined_nc" ->
      "reads the GloFAS return-period NetCDF thresholds, which are not in the repository")

  val Warmup = Set("q01_agg_quantiles", "q04_join_broadcast", "q06_top1_per_group")
}

/** A seeded n x n grid, cached once in set-up, written and read back
  * through NetCDF, COG, Zarr v3 and the GRIB2 ensemble. One op is one
  * format's write or read; the seed permutes the format order per round.
  */
final class RasterRoundTrip(spark: SparkSession, seed: Long, work: Path)
    extends Workload {
  val n = 1024
  val members = 4 // GRIB2 writes the grid as 4 member messages of n/4 rows
  private val res = 0.025
  private val lats = Array.tabulate(n)(i => 80.0 - i * res)
  private val lons = Array.tabulate(n)(j => -100.0 + j * res)
  private val band = n / members
  private val cpus = spark.sparkContext.defaultParallelism
  private var grid: DataFrame = _
  /** format -> (cells, value sum) every read-back must reproduce */
  private var want = Map.empty[String, (Long, Double)]

  private def path(fmt: String) = work.resolve(s"raster/grid.$fmt").toString

  private def cog(g: DataFrame) = g.select(
    (lit(500000.0) + col("c") * 30.0 + 15.0).as("x"),
    (lit(7000000.0) - col("r") * 30.0 - 15.0).as("y"),
    (col("v").cast("int") % 65535 + 1).as("value"))

  private def grib(g: DataFrame) = g.select(
    (col("r") / band).cast("int").as("number"),
    (lit(80.0) - (col("r") % band) * res).as("latitude"),
    col("longitude"), col("v").cast("double").as("value"))

  def setup(): Unit = {
    val h = abs(xxhash64(col("id"), lit(seed)))
    // integer-valued f4 cells (exact in every format), ~3% holes
    grid = spark.range(n.toLong * n).select(
      (col("id") / n).cast("int").as("r"), (col("id") % n).cast("int").as("c"),
      (lit(80.0) - (col("id") / n).cast("int") * res).as("latitude"),
      (lit(-100.0) + (col("id") % n) * res).as("longitude"),
      when(h % 31 === 0, lit(null)).otherwise((h % 8191).cast("float")).as("v"))
      .filter(col("v").isNotNull)
      .localCheckpoint(eager = true)
    def stats(df: DataFrame, c: String) = {
      val r = df.agg(count(lit(1)), sum(col(c).cast("double"))).head()
      (r.getLong(0), r.getDouble(1))
    }
    val base = stats(grid, "v")
    want = Map("nc" -> base, "zarr" -> base, "grib" -> base,
      "cog" -> stats(cog(grid), "value"))
  }

  def minRounds: Int = 4
  /** Two rounds: the first op of each kind is cold, and rounds keep
    * getting faster for a few more, mostly JIT compilation.
    */
  override def warmup: Seq[Op] = round(-2) ++ round(-1)
  def inputs: Map[String, Any] = Map("grid" -> s"${n}x$n",
    "cells" -> want.get("nc").map(_._1).getOrElse(0L))

  def write(fmt: String): Unit = fmt match {
    case "nc" => Hdf5Writer.writeGrid(grid, path(fmt), "v",
      "latitude", "longitude", "v", lats, lons, chunkRows = 64)
    case "cog" => TiffWriter.writeGrid(cog(grid), path(fmt), "x", "y", "value",
      500000.0, 7000000.0, 30.0, 30.0, n, n, tileW = 256, tileH = 256, bits = 16)
    case "zarr" => ZarrStore.writeGridV3(grid, path(fmt), "v",
      "latitude", "longitude", "v", lats, lons,
      chunkRows = 256, chunkCols = 256, innerRows = 128, innerCols = 128)
    case "grib" => Grib2Writer.writeEnsemble(grib(grid), path(fmt),
      lats.take(band), lons)
  }

  def read(fmt: String): DataFrame = {
    val r = spark.read
    val df = fmt match {
      case "nc" => r.format("graft-netcdf").option("path", path(fmt))
        .option("var", "v").option("partitions", cpus).load()
      case "cog" => r.format("graft-cog").option("path", path(fmt))
        .option("nodata", "0").load()
      case "zarr" => r.format("graft-zarr").option("path", path(fmt))
        .option("var", "v").load()
      case "grib" => r.format("graft-grib").option("path", path(fmt)).load()
    }
    df.filter(!isnan(col("value")))
      .agg(count(lit(1)), sum(col("value").cast("double")))
  }

  def round(r: Int): Seq[Op] =
    new Random(seed * 1000003L + r).shuffle(Seq("nc", "cog", "zarr", "grib"))
      .flatMap { fmt =>
        val cells = want(fmt)._1
        Seq(
          Op(s"write.$fmt", "write", p => {
            p("exec")(write(fmt))
            () => Outcome(0L, cells,
              Workload.bytesUnder(Paths.get(path(fmt))), None)
          }),
          Op(s"read.$fmt", "read", p => {
            val row = p("exec")(read(fmt).head())
            () => {
              val got = (row.getLong(0), row.getDouble(1))
              Outcome(cells, 0L, 0L, Workload.fail(got == want(fmt),
                s"$fmt read back (cells, sum) = $got, wrote ${want(fmt)}"))
            }
          }))
      }
}

/** Row count plus an order-insensitive checksum of rounded values. */
object Checksum {
  /** Doubles keep 9 significant digits: far above the last-bit drift a
    * different summation order gives, far below any real difference.
    */
  def canon(v: Any): String = v match {
    case null => "~"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else new java.math.BigDecimal(d).round(new java.math.MathContext(9))
        .stripTrailingZeros.toString
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case o => o.toString
  }

  /** (rows, hex of the wrapping sum of a 64-bit hash per row) */
  def of(rows: Array[Row]): (Long, String) = {
    val sum = rows.iterator.map { r =>
      val s = canon(r)
      (scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 0x0ddba11).toLong &
          0xffffffffL)
    }.foldLeft(0L)(_ + _)
    (rows.length.toLong, f"$sum%016x")
  }
}

/** Recorded outputs of the headline queries and the input tables they
  * were recorded on.
  */
final case class Expected(tables: Map[String, (Long, String)],
    queries: Map[String, (Long, String)])

object Expected {
  def tableOf(file: String): String =
    file.split('/').last.stripSuffix(".parquet")

  def load(p: Path): Expected = {
    require(Files.isRegularFile(p), s"missing expectations file $p")
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(p.toFile)
    def pairs(node: String, a: String, b: String) = {
      val it = root.get(node).fields()
      val out = Map.newBuilder[String, (Long, String)]
      while (it.hasNext) {
        val e = it.next()
        out += e.getKey -> ((e.getValue.get(a).asLong, e.getValue.get(b).asText))
      }
      out.result()
    }
    Expected(pairs("tables", "rows", "md5"), pairs("queries", "rows", "checksum"))
  }

  /** Fails loudly unless every table is present, byte-identical to the
    * recorded one, and has its recorded row count. Returns the row counts.
    */
  def checkTables(spark: SparkSession, dir: Path, e: Expected): Map[String, Long] = {
    require(Files.isDirectory(dir), s"missing input directory $dir")
    e.tables.map { case (t, (rows, md5)) =>
      val f = dir.resolve(s"$t.parquet")
      require(Files.isRegularFile(f), s"missing input table $f")
      val got = md5Of(f)
      require(got == md5, s"input table $f has md5 $got, recorded $md5")
      val n = parquetRows(spark, f)
      require(n == rows, s"input table $f has $n rows, recorded $rows")
      t -> n
    }
  }

  def md5Of(f: Path): String = java.security.MessageDigest.getInstance("MD5")
    .digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString

  /** Row count from the parquet footer: no Spark job. */
  def parquetRows(spark: SparkSession, f: Path): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), spark.sparkContext.hadoopConfiguration))
    try r.getRecordCount finally r.close()
  }

  /** Expectations JSON for the given tables and per-query outputs. */
  def render(tables: Map[String, (Long, String)],
      queries: Map[String, (Long, String)]): String = {
    def block(m: Map[String, (Long, String)], b: String) =
      m.toSeq.sortBy(_._1).map { case (k, (n, s)) =>
        s"""    "$k": {"rows": $n, "$b": "$s"}"""
      }.mkString("{\n", ",\n", "\n  }")
    s"""{\n  "tables": ${block(tables, "md5")},\n  "queries": ${block(queries, "checksum")}\n}\n"""
  }
}
