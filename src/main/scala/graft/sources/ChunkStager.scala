package graft.sources

import java.io.{FileOutputStream, OutputStream}
import java.nio.{ByteBuffer, IntBuffer}

import scala.collection.mutable

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.io.IOUtils
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** The one staging path of the distributed raster sinks (NetCDF, COG,
  * Zarr v2/v3, GRIB2). A write is:
  *   1. a map step: each row becomes a cell — its chunk id (>= 0), its
  *      offset in the chunk and its value, in the format's cell type
  *      ([[Cells]]) — and each task packs its cells per chunk into
  *      fragments: the chunk id plus the cells' offsets and values, in
  *      the cell type's width. Rows are read as InternalRows, so no
  *      cell is boxed. A fragment holds at most [[FragmentCells]] cells
  *      and is emitted as soon as it fills, and a task emits all its
  *      open fragments once they hold [[OpenCells]], so packing memory
  *      is bounded however many chunks a task's rows touch. The lat/lon
  *      sinks locate and pack in one pass ([[onGrid]]); COG packs rows
  *      it already keyed as (chunk, local, v) ([[fragments]]);
  *   2. ONE shuffle of the fragments, then sortWithinPartitions: chunk c
  *      runs on task slot mod P (repartitionById, no hash). The slot is
  *      the chunk id for the dense ids of NetCDF, COG and Zarr, so no
  *      task gets more than ⌈nChunks/P⌉ chunks (a hash of the few ids of
  *      a write gave 16 chunks on 4 tasks as 3/3/4/6, and the write
  *      waited on the 6); GRIB's slot puts the members of one step one
  *      per task. A write shuffles tens of fragments, not a row per cell;
  *   3. a streaming foreachPartition holding ONE chunk buffer per task,
  *      filled with the fill value for each chunk: each fragment of the
  *      chunk is scattered into it, and the chunk is written as one
  *      encoded object through the Hadoop FS API (file://, hdfs://,
  *      s3a://; no shared state).
  * Never groupByKey: it materializes a whole chunk's cells as a boxed
  * Iterable, which OOMs past ~50M cells on an 8 GB heap (measured).
  *
  * Single-file formats stage into `<path>.staging` ([[singleFile]]); the
  * driver then writes the header and streams the staged chunks after it
  * in one pass, so driver memory is O(header), not O(grid). A writer
  * keeps only its format: header layout, chunk encoder, chunk naming.
  */
object ChunkStager {

  /** A sink's cell type: the SQL type of a staged row's value, its
    * packed width in a fragment, and a task's chunk buffer of `n` cells
    * initialised to the fill value.
    */
  sealed abstract class Cells[B] extends Serializable {
    def sqlType: DataType
    /** Bytes of one packed value. */
    def width: Int
    def alloc(): B
    /** Set every cell of `buf` back to the fill value. */
    private[ChunkStager] def refill(buf: B): Unit
    /** Append the value at index 2 of `r` to `out`. */
    private[ChunkStager] def pack(out: ByteBuffer, r: InternalRow): Unit
    /** Store each packed value of `v` at its offset in `local`. */
    private[ChunkStager] def put(buf: B, local: IntBuffer, v: ByteBuffer): Unit

    /** Scatter one fragment record (n offsets, then n values) into `buf`. */
    private[ChunkStager] def scatter(buf: B, frag: Array[Byte]): Unit = {
      val n = frag.length / (4 + width)
      put(buf, ByteBuffer.wrap(frag, 0, 4 * n).asIntBuffer(),
        ByteBuffer.wrap(frag, 4 * n, width * n).slice())
    }
  }

  final case class Floats(n: Int, fill: Float) extends Cells[Array[Float]] {
    def sqlType: DataType = FloatType
    def width: Int = 4
    def alloc(): Array[Float] = { val b = new Array[Float](n); refill(b); b }
    private[ChunkStager] def refill(buf: Array[Float]): Unit = java.util.Arrays.fill(buf, fill)
    private[ChunkStager] def pack(out: ByteBuffer, r: InternalRow): Unit = out.putFloat(r.getFloat(2))
    private[ChunkStager] def put(buf: Array[Float], local: IntBuffer, v: ByteBuffer): Unit = {
      val vs = v.asFloatBuffer()
      var i = 0
      while (i < vs.limit()) { buf(local.get(i)) = vs.get(i); i += 1 }
    }
  }

  final case class Ints(n: Int, fill: Int) extends Cells[Array[Int]] {
    def sqlType: DataType = IntegerType
    def width: Int = 4
    def alloc(): Array[Int] = { val b = new Array[Int](n); refill(b); b }
    private[ChunkStager] def refill(buf: Array[Int]): Unit = java.util.Arrays.fill(buf, fill)
    private[ChunkStager] def pack(out: ByteBuffer, r: InternalRow): Unit = out.putInt(r.getInt(2))
    private[ChunkStager] def put(buf: Array[Int], local: IntBuffer, v: ByteBuffer): Unit = {
      val vs = v.asIntBuffer()
      var i = 0
      while (i < vs.limit()) { buf(local.get(i)) = vs.get(i); i += 1 }
    }
  }

  final case class Doubles(n: Int, fill: Double) extends Cells[Array[Double]] {
    def sqlType: DataType = DoubleType
    def width: Int = 8
    def alloc(): Array[Double] = { val b = new Array[Double](n); refill(b); b }
    private[ChunkStager] def refill(buf: Array[Double]): Unit = java.util.Arrays.fill(buf, fill)
    private[ChunkStager] def pack(out: ByteBuffer, r: InternalRow): Unit = out.putDouble(r.getDouble(2))
    private[ChunkStager] def put(buf: Array[Double], local: IntBuffer, v: ByteBuffer): Unit = {
      val vs = v.asDoubleBuffer()
      var i = 0
      while (i < vs.limit()) { buf(local.get(i)) = vs.get(i); i += 1 }
    }
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

  /** The mapping step of the lat/lon sinks, packed in the same pass:
    * each (latCol, lonCol, valCol) row is looked up on the axes (an
    * off-grid or null coordinate fails naming the column, value and
    * axis length) and placed by `place(row, i, j) = (chunk id, offset)`
    * for grid row i, column j. `keys` are extra int columns a writer
    * keys its chunks by (GRIB's step and member), at row indexes 3, 4,
    * …. Returns the [[fragments]] to [[stage]].
    */
  def onGrid(df: DataFrame, latCol: String, lonCol: String, valCol: String,
      lats: Array[Double], lons: Array[Double], cells: Cells[_], keys: Column*)(
      place: (InternalRow, Int, Int) => (Int, Int)): DataFrame = {
    // the axes and the Hadoop conf ride in the task closure, not in
    // broadcasts of their own: each broadcast allocates a 4 MB block
    // buffer, a humongous allocation per write at a 3 GB heap
    val axes = (new Axis(latCol, lats), new Axis(lonCol, lons))
    def coord(r: InternalRow, k: Int) = if (r.isNullAt(k)) Double.NaN else r.getDouble(k)
    val rows = df.select(Seq(col(latCol).cast(DoubleType), col(lonCol).cast(DoubleType),
      col(valCol).cast(cells.sqlType)) ++ keys: _*)
    packed(rows, cells, FragmentCells, OpenCells) { () =>
      val (lat, lon) = axes
      r => {
        val (chunk, local) = place(r, lat(coord(r, 0)), lon(coord(r, 1)))
        cell(chunk, local)
      }
    }
  }

  /** Cells in one fragment: 16k cells of a 4-byte offset and an 8-byte
    * value are 192 KB. A row buffer grows to twice the largest row it
    * holds, so the buffers that copy fragments (map-side row, shuffle
    * read) stay under half a G1 region at a 3 GB heap (1 MB regions):
    * no fragment copy is a humongous allocation.
    */
  val FragmentCells: Int = 1 << 14

  /** Cells a map task's open fragments may hold before it emits them
    * all: 12 MB of doubles, however many chunks its rows touch.
    */
  val OpenCells: Int = 1 << 20

  /** The fragments that [[stage]] shuffles: (chunk, cells), `cells` being
    * the fragment's n int offsets, then its n values of `cells.width`
    * bytes, n ≤ `cap`, of the (chunk, local, v) rows of `keyed`.
    */
  private[sources] def fragments(keyed: DataFrame, cells: Cells[_],
      cap: Int = FragmentCells, open: Int = OpenCells): DataFrame = {
    val types = keyed.schema.fields.map(_.dataType).toSeq
    require(types == Seq(IntegerType, IntegerType, cells.sqlType),
      s"staged rows must be (chunk int, local int, v ${cells.sqlType.simpleString}), got $types")
    packed(keyed, cells, cap, open)(() => r => cell(r.getInt(0), r.getInt(1)))
  }

  /** A row's cell: its chunk id in the high 32 bits, its offset in the
    * low 32 (a primitive return, so locating a cell boxes nothing).
    */
  private trait Locate { def apply(r: InternalRow): Long }

  private def cell(chunk: Int, local: Int): Long = (chunk.toLong << 32) | (local & 0xFFFFFFFFL)

  /** Each task reads its rows as InternalRows, the value at index 2,
    * locates each with its own `locate()`, and packs them per chunk in
    * arrival order.
    */
  private def packed(rows: DataFrame, cells: Cells[_], cap: Int, open: Int)(
      locate: () => Locate): DataFrame = {
    val frags = rows.queryExecution.toRdd
      .mapPartitions(it => new Packer(it, cells, cap, open, locate()))
    rows.sparkSession.createDataFrame(frags, StructType(Seq(
      StructField("chunk", IntegerType, nullable = false),
      StructField("cells", BinaryType, nullable = false))))
  }

  /** One chunk's open fragment on the map side. */
  private final class Fragment(val chunk: Int, width: Int) {
    var n = 0
    private var local = new Array[Int](64)
    private var vals = ByteBuffer.allocate(64 * width)

    def capacity: Int = local.length

    /** Append the cell at `offset` whose value is `r`'s at index 2,
      * growing to at most `cap` cells.
      */
    def add(offset: Int, r: InternalRow, cells: Cells[_], cap: Int): Unit = {
      if (n == local.length) {
        local = java.util.Arrays.copyOf(local, math.min(2 * n, cap))
        vals = ByteBuffer.allocate(local.length * width).put(vals.flip())
      }
      local(n) = offset
      cells.pack(vals, r)
      n += 1
    }

    /** The fragment's record, and an empty fragment left to refill. */
    def emit(): Row = {
      val out = ByteBuffer.allocate(n * (4 + width))
      out.asIntBuffer().put(local, 0, n)
      out.position(4 * n)
      out.put(vals.array(), 0, n * width)
      n = 0
      vals.clear()
      Row(chunk, out.array())
    }
  }

  /** A map task's fragments: a full fragment is emitted at once and
    * refilled, and all open fragments are emitted and dropped once
    * their capacity reaches `open` cells, and at the end of the rows.
    */
  private final class Packer(rows: Iterator[InternalRow], cells: Cells[_],
      cap: Int, open: Int, locate: Locate) extends Iterator[Row] {
    private val byChunk = mutable.LongMap.empty[Fragment]
    private val ready = mutable.Queue.empty[Row]
    private var cur: Fragment = null
    private var held = 0L

    def hasNext: Boolean = {
      while (ready.isEmpty && rows.hasNext) add(rows.next())
      if (ready.isEmpty) emitAll()
      ready.nonEmpty
    }

    def next(): Row = {
      if (!hasNext) throw new NoSuchElementException("no more fragments")
      ready.dequeue()
    }

    private def add(r: InternalRow): Unit = {
      val at = locate(r)
      val chunk = (at >>> 32).toInt
      if (cur == null || cur.chunk != chunk) {
        cur = byChunk.getOrElse(chunk, null)
        if (cur == null) {
          cur = new Fragment(chunk, cells.width)
          byChunk.update(chunk, cur)
          held += cur.capacity
        }
      }
      val before = cur.capacity
      cur.add(at.toInt, r, cells, cap)
      held += cur.capacity - before
      if (cur.n == cap) ready += cur.emit()
      if (held >= open) emitAll()
    }

    private def emitAll(): Unit = {
      byChunk.valuesIterator.filter(_.n > 0).foreach(f => ready += f.emit())
      byChunk.clear()
      cur = null
      held = 0L
    }
  }

  /** Shuffle `frags` (from [[onGrid]] or [[fragments]]) once into
    * P = min(maxParts, defaultParallelism) partitions: a fragment runs
    * on task `s mod P` for its int slot `s`, the column `slot(P)` (by
    * default the chunk id). Each task scatters its chunk-sorted
    * fragments into one chunk buffer and writes chunk `c` as
    * `encode(c, buf)` to `path(c)`. A chunk with no cells is not staged.
    */
  def stage[B](frags: DataFrame, cells: Cells[B], maxParts: Int,
      slot: Int => Column = _ => col("chunk"))(
      encode: (Int, B) => Array[Byte], path: Int => String): Unit = {
    val sc = frags.sparkSession.sparkContext
    val conf = new SerializableConfiguration(sc.hadoopConfiguration) // see onGrid
    val parts = math.min(maxParts, sc.defaultParallelism).max(1)
    frags.repartitionById(parts, slot(parts))
      .sortWithinPartitions("chunk")
      .foreachPartition { frags: Iterator[Row] =>
        val hconf = conf.value
        var cur = -1
        var buf: B = null.asInstanceOf[B]
        def flush(): Unit = if (cur >= 0) {
          val bytes = encode(cur, buf)
          val p = new Path(path(cur))
          val out = create(p.getFileSystem(hconf), p)
          try out.write(bytes) finally out.close()
        }
        frags.foreach { f =>
          val chunk = f.getInt(0)
          if (chunk != cur) {
            flush()
            // one buffer per task, refilled per chunk: a chunk buffer
            // can be humongous (a 256×256 Zarr chunk of doubles is 512 KB)
            if (cur < 0) buf = cells.alloc() else cells.refill(buf)
            cur = chunk
          }
          cells.scatter(buf, f.getAs[Array[Byte]](1))
        }
        flush()
      }
  }

  /** The filesystem under a checksummed one: it writes no `.<name>.crc`
    * side files.
    */
  private def raw(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case f => f
  }

  /** `p` created (or truncated) for writing, with its parent dirs, and no
    * Hadoop checksum side file; a stale one is deleted, or a checksummed
    * read would reject the new bytes. A local file is written through
    * java.io: Hadoop's local FS, raw or not, gives every created file a
    * permission, and without libhadoop it sets it by forking `chmod`.
    */
  private[sources] def create(fs: FileSystem, p: Path): OutputStream = fs match {
    case c: ChecksumFileSystem =>
      c.getRawFileSystem.delete(c.getChecksumFile(p), false)
      create(c.getRawFileSystem, p)
    case local: RawLocalFileSystem =>
      val f = local.pathToFile(p)
      Option(f.getParentFile).foreach(_.mkdirs())
      new FileOutputStream(f)
    case f => f.create(p, true)
  }

  /** Run a single-file sink's write with its staging dir
    * `<path>.staging`: cleared first, so no leftover of an earlier write
    * is spliced in, and deleted afterwards, also when the write fails.
    * The output and the staged chunks are written by [[create]], so no
    * Hadoop `.<name>.crc` side file lands beside them.
    */
  def singleFile(spark: SparkSession, path: String)(write: Staging => Unit): Unit = {
    val out = new Path(path)
    val fs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(path + ".staging")
    fs.delete(dir, true)
    raw(fs).mkdirs(dir)
    try write(new Staging(fs, dir, out)) finally fs.delete(dir, true)
  }

  /** The staging dir of one single-file write; chunks are staged under
    * a writer-chosen name each.
    */
  final class Staging private[ChunkStager] (fs: FileSystem, dir: Path, out: Path) {

    def stage[B](frags: DataFrame, cells: Cells[B], maxParts: Int,
        slot: Int => Column = _ => col("chunk"))(
        encode: (Int, B) => Array[Byte], name: Int => String): Unit = {
      val d = dir.toString
      ChunkStager.stage(frags, cells, maxParts, slot)(encode, c => s"$d/${name(c)}")
    }

    /** Staged object sizes by name: ONE listing of the dir once the
      * tasks are done, not one existence probe per chunk (the per-call
      * latency matters on object stores).
      */
    lazy val staged: Map[String, Long] =
      raw(fs).listStatus(dir).map(st => st.getPath.getName -> st.getLen).toMap

    /** Sizes of the named chunks; `empty` stands in for an unstaged one. */
    def sizes(names: Seq[String], empty: Array[Byte]): Array[Long] =
      names.map(n => staged.getOrElse(n, empty.length.toLong)).toArray

    /** The driver pass: the header, then each named chunk in order,
      * streamed from its staged object or written as `empty`.
      */
    def concat(header: Seq[Array[Byte]], names: Seq[String], empty: Array[Byte]): Unit = {
      val os = create(fs, out)
      try {
        header.foreach(os.write)
        names.foreach { n =>
          if (staged.contains(n)) {
            val in = raw(fs).open(new Path(dir, n))
            try IOUtils.copyBytes(in, os, 256 * 1024, false) finally in.close()
          } else os.write(empty)
        }
      } finally os.close()
    }
  }
}
