package graft.jobs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopOutputFile, HadoopStreams}
import org.apache.parquet.io.{OutputFile, PositionOutputStream}
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Executor-side parquet writing for TASK-committed outputs.
  *
  * Spark's own parquet sink commits at JOB granularity (task files become
  * visible at job commit), so a killed job leaves nothing restartable.
  * The pipeline's per-partition lineage needs each task to make its
  * partition durable the moment IT finishes — so tasks write their rows
  * directly through parquet-mr (already on the Spark classpath) to a
  * temp name and rename into place: record exists ⇒ partition complete.
  *
  * Supports the flat primitive schemas the pipeline emits; nested or
  * exotic types fail loudly at schema build time.
  */
object TaskParquet {

  /** Hadoop Configuration is not Serializable; minimal wrapper. */
  final class SerConf(@transient var conf: Configuration) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject(); conf = new Configuration(false); conf.readFields(in)
    }
  }

  def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val fb = f.dataType match {
        case StringType =>
          b.optional(BINARY).as(LogicalTypeAnnotation.stringType())
        case BinaryType => b.optional(BINARY)
        case LongType => b.optional(INT64)
        case IntegerType => b.optional(INT32)
        case DoubleType => b.optional(DOUBLE)
        case FloatType => b.optional(FLOAT)
        case BooleanType => b.optional(BOOLEAN)
        case TimestampType =>
          b.optional(INT64).as(LogicalTypeAnnotation.timestampType(
            true, LogicalTypeAnnotation.TimeUnit.MICROS))
        case DateType =>
          b.optional(INT32).as(LogicalTypeAnnotation.dateType())
        case dt => throw new IllegalArgumentException(
          s"TaskParquet: unsupported field type $dt for column ${f.name}")
      }
      fb.named(f.name)
    }
    b.named("spark_schema")
  }

  /** `path` on `fs`, opened as parquet-mr's `HadoopOutputFile` opens it.
    * `ExampleParquetWriter.builder(path)` would open it on the file system
    * `path.getFileSystem` resolves, not on `fs`.
    */
  private final class FsOutputFile(fs: FileSystem, path: Path) extends OutputFile {
    def create(blockSizeHint: Long): PositionOutputStream = open(overwrite = false, blockSizeHint)
    def createOrOverwrite(blockSizeHint: Long): PositionOutputStream = open(overwrite = true, blockSizeHint)
    private def open(overwrite: Boolean, blockSizeHint: Long) =
      HadoopStreams.wrap(fs.create(path, overwrite, 4096, fs.getDefaultReplication(path),
        math.max(fs.getDefaultBlockSize(path), blockSizeHint)))
    def supportsBlockSize: Boolean = HadoopOutputFile.getBlockFileSystems.contains(fs.getUri.getScheme)
    def defaultBlockSize: Long = fs.getDefaultBlockSize(path)
    override def getPath: String = path.toString
  }

  /** A streaming per-file writer of `path` on `fs`; `add` rows, then `close()`. */
  final class RowFileWriter(fs: FileSystem, conf: Configuration, path: Path,
                            schema: StructType, mt: MessageType) {
    private val factory = new SimpleGroupFactory(mt)
    private val w: ParquetWriter[org.apache.parquet.example.data.Group] =
      ExampleParquetWriter.builder(new FsOutputFile(fs, path)).withConf(conf).withType(mt)
        // parquet-mr defaults to UNCOMPRESSED; match Spark's sink default
        // (at target scale the write path is bandwidth/IO-bound, and
        // 2-4x smaller files also shrink the restart re-read)
        .withCompressionCodec(
          org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
        .build()

    def add(row: Row): Unit = {
      val g = factory.newGroup()
      var i = 0
      while (i < schema.length) {
        if (!row.isNullAt(i)) schema.fields(i).dataType match {
          case StringType => g.add(i, Binary.fromString(row.getString(i)))
          case BinaryType =>
            g.add(i, Binary.fromConstantByteArray(row.getAs[Array[Byte]](i)))
          case LongType => g.add(i, row.getLong(i))
          case IntegerType => g.add(i, row.getInt(i))
          case DoubleType => g.add(i, row.getDouble(i))
          case FloatType => g.add(i, row.getFloat(i))
          case BooleanType => g.add(i, row.getBoolean(i))
          case TimestampType =>
            // Spark's fromJavaTimestamp conversion: getTime already carries
            // the integral milliseconds of nanos
            val ts = row.getTimestamp(i)
            g.add(i, ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L)
          case DateType => g.add(i, row.getDate(i).toLocalDate.toEpochDay.toInt)
          case dt => throw new IllegalArgumentException(s"unsupported $dt")
        }
        i += 1
      }
      w.write(g)
    }

    def close(): Unit = w.close()
  }
}
