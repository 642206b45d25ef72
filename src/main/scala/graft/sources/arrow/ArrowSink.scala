package graft.sources.arrow

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector._
import org.apache.arrow.vector.ipc.ArrowFileWriter
import org.apache.arrow.vector.types.FloatingPointPrecision
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Distributed Arrow IPC sink: one `part-<task>.arrow` file per
  * partition, each holding `batchRows`-row record batches — the layout
  * [[graft.sources.v2.ArrowDataSource]] reads back with one input
  * partition per (file, batch). No shuffle: `foreachPartition` with ONE
  * bounded batch buffer per task (never a materialized partition),
  * write to a temp name, atomic rename on
  * success so a failed task can't leave a readable partial part file.
  * Types mirror the source's honest boundary: long/int/double/string/
  * bool, anything else fails at plan time.
  */
object ArrowSink {

  def arrowSchema(schema: StructType): Schema = new Schema(
    schema.fields.map { f =>
      val t: ArrowType = f.dataType match {
        case LongType => new ArrowType.Int(64, true)
        case IntegerType => new ArrowType.Int(32, true)
        case DoubleType =>
          new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)
        case StringType => new ArrowType.Utf8()
        case BooleanType => new ArrowType.Bool()
        case other => sys.error(
          s"graft-arrow sink: unsupported type $other for column ${f.name}")
      }
      new Field(f.name, if (f.nullable) FieldType.nullable(t)
        else FieldType.notNullable(t), null)
    }.toSeq.asJava)

  def write(df: DataFrame, dir: String, batchRows: Int = 1 << 14): Unit = {
    val sparkSchema = df.schema
    arrowSchema(sparkSchema) // fail on bad types BEFORE tasks run
    val out = new java.io.File(dir)
    if (out.exists()) {
      require(out.isDirectory, s"graft-arrow sink: $dir exists and is not a directory")
      out.listFiles().filter(_.getName.endsWith(".arrow")).foreach(_.delete())
    } else require(out.mkdirs(), s"graft-arrow sink: cannot create $dir")

    df.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val task = TaskContext.get().taskAttemptId()
        val pid = TaskContext.getPartitionId()
        val alloc = new RootAllocator()
        // rebuilt per task: Arrow's Schema is not serializable, the
        // Spark StructType is
        val root = VectorSchemaRoot.create(arrowSchema(sparkSchema), alloc)
        // pre-size for a full batch: setSafe grows value buffers on
        // demand but setNull only flips validity bits and does NOT grow,
        // so the validity buffers must hold batchRows up front (reset()
        // keeps the buffers, so this allocation happens once per task)
        root.getFieldVectors.asScala.foreach(_.setInitialCapacity(batchRows))
        root.allocateNew()
        val tmp = new java.io.File(dir, f"_tmp-$task.arrow")
        val fin = new java.io.File(dir, f"part-$pid%05d.arrow")
        val ch = new java.io.FileOutputStream(tmp).getChannel
        val writer = new ArrowFileWriter(root, null, ch)
        try {
          writer.start()
          var k = 0
          def flush(): Unit = if (k > 0) {
            root.setRowCount(k); writer.writeBatch(); k = 0
            root.getFieldVectors.asScala.foreach(_.reset())
          }
          while (it.hasNext) {
            val row = it.next()
            var c = 0
            while (c < sparkSchema.length) {
              val v = root.getVector(c)
              if (row.isNullAt(c)) v match {
                case x: BigIntVector => x.setNull(k)
                case x: IntVector => x.setNull(k)
                case x: Float8Vector => x.setNull(k)
                case x: VarCharVector => x.setNull(k)
                case x: BitVector => x.setNull(k)
                case other => sys.error(s"unsupported vector $other")
              }
              else v match {
                case x: BigIntVector => x.setSafe(k, row.getLong(c))
                case x: IntVector => x.setSafe(k, row.getInt(c))
                case x: Float8Vector => x.setSafe(k, row.getDouble(c))
                case x: VarCharVector =>
                  x.setSafe(k, row.getString(c).getBytes("UTF-8"))
                case x: BitVector => x.setSafe(k, if (row.getBoolean(c)) 1 else 0)
                case other => sys.error(s"unsupported vector $other")
              }
              c += 1
            }
            k += 1
            if (k == batchRows) flush()
          }
          flush()
          writer.end()
        } finally {
          writer.close(); ch.close(); root.close(); alloc.close()
        }
        // REPLACE_EXISTING: a retried task must overwrite the prior
        // attempt's part file, not fail the rename forever
        java.nio.file.Files.move(tmp.toPath, fin.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        ()
      }
    }
  }
}
