package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.types._

/** Driver-side parquet writer for METADATA-SCALE rows (flat schemas of
  * string/long/int/double). The lineage sidecar appends exactly one row per
  * epoch; funneling that through `Seq(row).toDF.write` costs a full Spark
  * job (scheduling + one task + codegen) per epoch — measured as a visible
  * slice of the stream-vs-kernel gap at 10^10-event cadence. A single-row
  * parquet file is plain file IO; this writes it in ~1 ms on the driver
  * with the standard parquet-hadoop Group API, producing a file Spark's
  * vectorized reader consumes like any other. NOT for data-plane writes —
  * no compression tuning, no row-group management, one writer per call. */
object TinyParquet {

  /** One Hadoop conf for every write: `new Configuration()` re-parses
    * Hadoop's default XML resources. Writers only read it — the schema goes
    * to the writer builder, not into the conf — so the stream thread and
    * the compactor thread can share it. */
  private lazy val conf = new Configuration()

  private def messageType(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      f.dataType match {
        case StringType =>
          b.addField(Types.optional(PrimitiveTypeName.BINARY)
            .as(LogicalTypeAnnotation.stringType()).named(f.name))
        case LongType => b.addField(Types.optional(PrimitiveTypeName.INT64).named(f.name))
        case IntegerType => b.addField(Types.optional(PrimitiveTypeName.INT32).named(f.name))
        case DoubleType => b.addField(Types.optional(PrimitiveTypeName.DOUBLE).named(f.name))
        case other =>
          throw new IllegalArgumentException(s"TinyParquet: unsupported type $other for ${f.name}")
      }
    }
    b.named("spark_schema")
  }

  /** Write `rows` (values aligned with `schema.fields`; nulls allowed) as
    * one parquet file at `path`. */
  def write(path: String, schema: StructType, rows: Seq[Seq[Any]]): Unit = {
    val mt = messageType(schema)
    val writer = ExampleParquetWriter.builder(new Path(path)).withConf(conf).withType(mt).build()
    val factory = new SimpleGroupFactory(mt)
    try rows.foreach { vals =>
      require(vals.size == schema.fields.length,
        s"row arity ${vals.size} != schema arity ${schema.fields.length}")
      val g = factory.newGroup()
      schema.fields.zip(vals).foreach { case (f, v) =>
        if (v != null) f.dataType match {
          case StringType => g.append(f.name, v.toString)
          case LongType => g.append(f.name, v.asInstanceOf[Number].longValue())
          case IntegerType => g.append(f.name, v.asInstanceOf[Number].intValue())
          case DoubleType => g.append(f.name, v.asInstanceOf[Number].doubleValue())
          case _ => ()
        }
      }
      writer.write(g)
    } finally writer.close()
  }
}
