package graft.sources

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.hadoop.io.IOUtils
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** The one staging path of the distributed raster sinks (NetCDF, COG,
  * Zarr v2/v3, GRIB2). A write is:
  *   1. a mapping step: each row becomes (chunk, local, v) — its chunk
  *      id (>= 0), its offset in the chunk and its value, which keeps
  *      the format's cell type in the shuffle ([[Cells]]);
  *   2. ONE shuffle, then sortWithinPartitions: chunk c runs on task
  *      slot mod P (repartitionById, no hash). The slot is the chunk id
  *      for the dense ids of NetCDF, COG and Zarr, so no task gets more
  *      than ⌈nChunks/P⌉ chunks (a hash of the few ids of a write gave
  *      16 chunks on 4 tasks as 3/3/4/6, and the write waited on the 6);
  *      GRIB's slot puts the members of one step one per task;
  *   3. a streaming foreachPartition holding ONE fill-initialised chunk
  *      buffer per task, writing each chunk as one encoded object through
  *      the Hadoop FS API (file://, hdfs://, s3a://; no shared state).
  * Never groupByKey: it materializes a whole chunk's cells as a boxed
  * Iterable, which OOMs past ~50M cells on an 8 GB heap (measured).
  *
  * Single-file formats stage into `<path>.staging` ([[singleFile]]); the
  * driver then writes the header and streams the staged chunks after it
  * in one pass, so driver memory is O(header), not O(grid). A writer
  * keeps only its format: header layout, chunk encoder, chunk naming.
  */
object ChunkStager {

  /** A sink's cell type: the value's type `V` in the shuffle, and a
    * task's chunk buffer of `n` cells initialised to the fill value.
    */
  sealed abstract class Cells[B] extends Serializable {
    type V
    def encoder: Encoder[V]
    def sqlType: DataType = encoder.schema.head.dataType
    def alloc(): B
    /** Store the value of a (chunk, local, v) row at offset `k`. */
    def put(buf: B, k: Int, r: Row): Unit
  }

  final case class Floats(n: Int, fill: Float) extends Cells[Array[Float]] {
    type V = Float
    def encoder: Encoder[Float] = Encoders.scalaFloat
    def alloc(): Array[Float] = { val b = new Array[Float](n); java.util.Arrays.fill(b, fill); b }
    def put(buf: Array[Float], k: Int, r: Row): Unit = buf(k) = r.getFloat(2)
  }

  final case class Ints(n: Int, fill: Int) extends Cells[Array[Int]] {
    type V = Int
    def encoder: Encoder[Int] = Encoders.scalaInt
    def alloc(): Array[Int] = { val b = new Array[Int](n); java.util.Arrays.fill(b, fill); b }
    def put(buf: Array[Int], k: Int, r: Row): Unit = buf(k) = r.getInt(2)
  }

  final case class Doubles(n: Int, fill: Double) extends Cells[Array[Double]] {
    type V = Double
    def encoder: Encoder[Double] = Encoders.scalaDouble
    def alloc(): Array[Double] = { val b = new Array[Double](n); java.util.Arrays.fill(b, fill); b }
    def put(buf: Array[Double], k: Int, r: Row): Unit = buf(k) = r.getDouble(2)
  }

  /** The one error message for a cell whose coordinate is off the grid. */
  def offGrid(column: String, value: Double, length: Int): String =
    s"$column = $value is not on the grid axis (length $length)"

  /** Exact-match index of one grid axis (the converter contract: cells
    * sit exactly on the axis coordinates): the coordinates sorted, with
    * a binary search in primitive compares, so a lookup boxes nothing.
    * Numeric equality: -0.0 finds 0.0, a NaN is never on the axis, and a
    * coordinate listed twice maps to its last index.
    */
  final class Axis(column: String, coords: Array[Double]) extends Serializable {
    // `+ 0.0` turns -0.0 into 0.0, so the two sort as one key; the sort
    // is stable, so the last of equal keys is the last index
    private val (keys, index) = {
      val byKey = coords.indices.filterNot(i => coords(i).isNaN)
        .sortBy(i => coords(i) + 0.0)(Ordering.Double.TotalOrdering)
      val last = byKey.indices.filter(k =>
        k == byKey.length - 1 || coords(byKey(k)) != coords(byKey(k + 1)))
      (last.map(k => coords(byKey(k)) + 0.0).toArray, last.map(byKey).toArray)
    }

    def apply(v: Double): Int = {
      var lo = 0
      var hi = keys.length - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val k = keys(mid)
        if (k < v) lo = mid + 1
        else if (k == v) return index(mid)
        else hi = mid - 1 // also for a NaN v: it ends the search
      }
      throw new IllegalArgumentException(offGrid(column, v, coords.length))
    }
  }

  /** The mapping step of the lat/lon sinks: each (latCol, lonCol, valCol)
    * row is looked up on the axes (an off-grid coordinate fails naming
    * the column, value and axis length) and placed by
    * `place(row, i, j) = (chunk id, offset)` for grid row i, column j.
    * `keys` are extra int columns a writer keys its chunks by (GRIB's
    * step and member), at row indexes 3, 4, ….
    */
  def onGrid(df: DataFrame, latCol: String, lonCol: String, valCol: String,
      lats: Array[Double], lons: Array[Double], cells: Cells[_], keys: Column*)(
      place: (Row, Int, Int) => (Int, Int)): DataFrame = {
    val axes = df.sparkSession.sparkContext.broadcast(
      (new Axis(latCol, lats), new Axis(lonCol, lons)))
    // typed (chunk, local, v) out: a Row encoder made this step ~10%
    // slower (1M cells, 4 cores)
    df.select(Seq(col(latCol).cast(DoubleType), col(lonCol).cast(DoubleType),
        col(valCol).cast(cells.sqlType)) ++ keys: _*)
      .mapPartitions { it =>
        val (lat, lon) = axes.value
        it.map { r =>
          val (chunk, local) = place(r, lat(r.getDouble(0)), lon(r.getDouble(1)))
          (chunk, local, r.getAs[cells.V](2))
        }
      }(Encoders.tuple(Encoders.scalaInt, Encoders.scalaInt, cells.encoder))
      .toDF("chunk", "local", "v")
  }

  /** Shuffle `keyed` (chunk, local, v) once into P = min(maxParts,
    * defaultParallelism) partitions: a row runs on task `s mod P` for its
    * int slot `s`, the column `slot(P)` (by default the chunk id). Each
    * task streams its sorted rows through one chunk buffer and writes
    * chunk `c` as `encode(c, buf)` to `path(c)`.
    */
  def stage[B](keyed: DataFrame, cells: Cells[B], maxParts: Int,
      slot: Int => Column = _ => col("chunk"))(
      encode: (Int, B) => Array[Byte], path: Int => String): Unit = {
    val sc = keyed.sparkSession.sparkContext
    val conf = sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
    val parts = math.min(maxParts, sc.defaultParallelism).max(1)
    keyed.repartitionById(parts, slot(parts))
      .sortWithinPartitions("chunk")
      .foreachPartition { rows: Iterator[Row] =>
        val hconf = conf.value.value
        var cur = -1
        var buf: B = null.asInstanceOf[B]
        def flush(): Unit = if (cur >= 0) {
          val bytes = encode(cur, buf)
          val p = new Path(path(cur))
          val out = p.getFileSystem(hconf).create(p, true)
          try out.write(bytes) finally out.close()
        }
        rows.foreach { r =>
          val chunk = r.getInt(0)
          if (chunk != cur) {
            flush()
            cur = chunk
            buf = cells.alloc()
          }
          cells.put(buf, r.getInt(1), r)
        }
        flush()
      }
  }

  /** Run a single-file sink's write with its staging dir
    * `<path>.staging`: cleared first, so no leftover of an earlier write
    * is spliced in, and deleted afterwards, also when the write fails.
    * On the local filesystem the output goes through the raw FS, so no
    * Hadoop `.<name>.crc` side file lands beside it; a stale one from an
    * earlier write is deleted, or a checksummed read would reject the
    * new bytes.
    */
  def singleFile(spark: SparkSession, path: String)(write: Staging => Unit): Unit = {
    val out = new Path(path)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val outFs = fs match {
      case c: ChecksumFileSystem =>
        c.getRawFileSystem.delete(c.getChecksumFile(out), false)
        c.getRawFileSystem
      case f => f
    }
    val dir = new Path(path + ".staging")
    fs.delete(dir, true)
    fs.mkdirs(dir)
    try write(new Staging(fs, dir, outFs, out)) finally fs.delete(dir, true)
  }

  /** The staging dir of one single-file write; chunks are staged under
    * a writer-chosen name each.
    */
  final class Staging private[ChunkStager] (fs: FileSystem, dir: Path,
      outFs: FileSystem, out: Path) {

    def stage[B](keyed: DataFrame, cells: Cells[B], maxParts: Int,
        slot: Int => Column = _ => col("chunk"))(
        encode: (Int, B) => Array[Byte], name: Int => String): Unit = {
      val d = dir.toString
      ChunkStager.stage(keyed, cells, maxParts, slot)(encode, c => s"$d/${name(c)}")
    }

    /** Staged object sizes by name: ONE listing of the dir once the
      * tasks are done, not one existence probe per chunk (the per-call
      * latency matters on object stores).
      */
    lazy val staged: Map[String, Long] =
      fs.listStatus(dir).map(st => st.getPath.getName -> st.getLen).toMap

    /** Sizes of the named chunks; `empty` stands in for an unstaged one. */
    def sizes(names: Seq[String], empty: Array[Byte]): Array[Long] =
      names.map(n => staged.getOrElse(n, empty.length.toLong)).toArray

    /** The driver pass: the header, then each named chunk in order,
      * streamed from its staged object or written as `empty`.
      */
    def concat(header: Seq[Array[Byte]], names: Seq[String], empty: Array[Byte]): Unit = {
      val os = outFs.create(out, true)
      try {
        header.foreach(os.write)
        names.foreach { n =>
          if (staged.contains(n)) {
            val in = fs.open(new Path(dir, n))
            try IOUtils.copyBytes(in, os, 256 * 1024, false) finally in.close()
          } else os.write(empty)
        }
      } finally os.close()
    }
  }
}
