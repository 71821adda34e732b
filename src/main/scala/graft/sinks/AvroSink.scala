package graft.sinks

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{ArtifactStore, Tables}
import graft.functions.GraftFunctions

/** Avro container sink/source built directly on avro-core — the fifth
  * interchange arm beside parquet/ORC/JSONL/CSV (`sink_roundtrip_*`).
  * This environment ships the Avro CORE jar but not the `spark-avro`
  * connector, so `format("avro")` is unavailable; the write/read paths
  * here are hand-rolled over the same primitives a connector uses —
  * Hadoop `FileSystem` streams (local file:// here, HDFS/S3A on a
  * cluster) + `DataFileWriter`/`DataFileStream` — and stay fully
  * distributed: one writer task per partition fans rows out to
  * per-partition-value container files; the reader parallelizes the
  * file list and deserializes per task. Avro's contribution to the
  * format family is SCHEMA EVOLUTION — the reader accepts a reader
  * schema distinct from the file's writer schema (added-with-default /
  * dropped fields resolve per the Avro spec), pinned by AvroSinkSpec.
  *
  * Scale notes: rows never funnel through the driver (the driver only
  * lists partition directories — bounded by partition-value count);
  * `repartition(partitionBy)` keeps each container file written by one
  * task with no tiny-file explosion; a per-task `maxRecordsPerFile`
  * analogue is unnecessary here because the repartition bounds a task's
  * input to one hash bucket of partition values.
  */
object AvroSink {

  /** Spark → Avro schema for flat rows (nullable via union[null, T]) —
    * the primitive subset the sink's tables use.
    */
  def avroSchema(schema: StructType, name: String): Schema = {
    def prim(dt: DataType): Schema = dt match {
      case LongType => Schema.create(Schema.Type.LONG)
      case IntegerType => Schema.create(Schema.Type.INT)
      case StringType => Schema.create(Schema.Type.STRING)
      case DoubleType => Schema.create(Schema.Type.DOUBLE)
      case FloatType => Schema.create(Schema.Type.FLOAT)
      case BooleanType => Schema.create(Schema.Type.BOOLEAN)
      case BinaryType => Schema.create(Schema.Type.BYTES)
      case other => throw new IllegalArgumentException(s"unsupported: $other")
    }
    val fields = schema.fields.map { f =>
      val base = prim(f.dataType)
      val t =
        if (f.nullable)
          Schema.createUnion(Schema.create(Schema.Type.NULL), base)
        else base
      new Schema.Field(f.name, t, null, if (f.nullable) Schema.Field.NULL_DEFAULT_VALUE else null)
    }
    Schema.createRecord(name, null, "graft", false, fields.toList.asJava)
  }

  /** Distributed partitioned write: rows land in
    * `path/<partitionBy>=<value>/part-<task>.avro` container files with
    * the given codec. The partition column itself is NOT stored in the
    * records (the parquet-sink layout contract).
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionBy: String,
      codec: String = "snappy"): Unit = {
    val spark = df.sparkSession
    val dataSchema = StructType(df.schema.fields.filterNot(_.name == partitionBy))
    val schemaJson = avroSchema(dataSchema, "row").toString
    val dataIdx = dataSchema.fields.map(f => df.schema.fieldIndex(f.name))
    val partIdx = df.schema.fieldIndex(partitionBy)
    // Overwrite semantics: clear the target before the distributed write.
    val root = new Path(path)
    val fs0 = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs0.exists(root)) fs0.delete(root, true)
    fs0.mkdirs(root)
    df.repartition(col(partitionBy)).queryExecution.toRdd
      .mapPartitions { rows =>
        val schema = new Schema.Parser().parse(schemaJson)
        val task = TaskContext.get()
        val suffix = s"part-${task.partitionId()}-${task.taskAttemptId()}.avro"
        // Default Hadoop conf per task (loads core-site off the
        // classpath; file:// needs nothing) — the Spark-internal
        // SerializableConfiguration wrapper is private[spark].
        val fs = new Path(path).getFileSystem(
          new org.apache.hadoop.conf.Configuration())
        val writers = mutable.Map.empty[String, DataFileWriter[GenericRecord]]
        def writerFor(pv: String): DataFileWriter[GenericRecord] =
          writers.getOrElseUpdate(pv, {
            val w = new DataFileWriter[GenericRecord](
              new GenericDatumWriter[GenericRecord](schema))
            w.setCodec(org.apache.avro.file.CodecFactory.fromString(codec))
            w.create(schema, fs.create(
              new Path(path, s"$partitionBy=$pv/$suffix"), true))
          })
        rows.foreach { internal =>
          val pv = internal.getString(partIdx)
          val rec = new GenericData.Record(schema)
          var i = 0
          while (i < dataIdx.length) {
            val f = dataSchema.fields(i)
            val v =
              if (internal.isNullAt(dataIdx(i))) null
              else f.dataType match {
                case LongType => java.lang.Long.valueOf(internal.getLong(dataIdx(i)))
                case IntegerType => java.lang.Integer.valueOf(internal.getInt(dataIdx(i)))
                case StringType => internal.getUTF8String(dataIdx(i)).toString
                case DoubleType => java.lang.Double.valueOf(internal.getDouble(dataIdx(i)))
                case FloatType => java.lang.Float.valueOf(internal.getFloat(dataIdx(i)))
                case BooleanType => java.lang.Boolean.valueOf(internal.getBoolean(dataIdx(i)))
                case BinaryType => java.nio.ByteBuffer.wrap(internal.getBinary(dataIdx(i)))
                case other => throw new IllegalArgumentException(s"unsupported: $other")
              }
            rec.put(f.name, v)
            i += 1
          }
          writerFor(pv).append(rec)
        }
        writers.values.foreach(_.close())
        Iterator.empty[Int]
      }
      .count(): Unit
  }

  /** Distributed read-back with an explicit READER schema (Avro schema
    * resolution: fields added with defaults fill in, dropped fields
    * skip). The partition column is recovered from the directory name.
    */
  def read(
      s: SparkSession,
      path: String,
      readerSchema: StructType,
      partitionBy: String): DataFrame = {
    val schemaJson = avroSchema(readerSchema, "row").toString
    val root = new Path(path)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    // Driver work is metadata-only: one listing per partition value.
    val files = fs.listStatus(root).filter(_.isDirectory).flatMap { d =>
      fs.listStatus(d.getPath).filter(_.getPath.getName.endsWith(".avro"))
        .map(f => (d.getPath.getName.split("=", 2)(1), f.getPath.toString))
    }.toSeq
    val fullSchema = readerSchema.add(StructField(partitionBy, StringType))
    val rdd = s.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 32)))
      .flatMap { case (pv, file) =>
        val reader = new Schema.Parser().parse(schemaJson)
        val fsx = new Path(file).getFileSystem(
          new org.apache.hadoop.conf.Configuration())
        val stream = new DataFileStream[GenericRecord](
          fsx.open(new Path(file)), new GenericDatumReader[GenericRecord](null, reader))
        val fields = readerSchema.fields
        new Iterator[Row] {
          def hasNext: Boolean = { val h = stream.hasNext; if (!h) stream.close(); h }
          def next(): Row = {
            val rec = stream.next()
            val vals = fields.map { f =>
              rec.get(f.name) match {
                case null => null
                case u: org.apache.avro.util.Utf8 => u.toString
                case b: java.nio.ByteBuffer =>
                  val a = new Array[Byte](b.remaining()); b.get(a); a
                case v => v
              }
            } :+ pv
            Row.fromSeq(vals.toIndexedSeq)
          }
        }
      }
    s.createDataFrame(rdd, fullSchema)
  }

  /** Registered gate: [[writePartitioned]] the documents table
    * lang-partitioned as Avro containers, read back through
    * [[read]]'s schema-resolution path, and emit the format-independent
    * per-partition digest the other four `sink_roundtrip_*` arms use —
    * so any write/read loss breaks the shared oracle hash.
    */
  def roundtripAudit(s: SparkSession, dir: String): DataFrame = {
    val scratch = ArtifactStore.scratch(s,
      s"sink-roundtrip-${new java.io.File(dir).getName}/documents-avro")
    val docs = Tables.documents(s, dir)
    writePartitioned(docs, scratch, partitionBy = "lang")
    val dataSchema = StructType(docs.schema.fields.filterNot(_.name == "lang"))
    def fp(c: org.apache.spark.sql.Column) = GraftFunctions.poly_hash(c, 31, 1000000007L)
    read(s, scratch, dataSchema, "lang")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("doc_id").as("sum_doc_id"),
        sum("n_chars").as("sum_n_chars"),
        sum(fp(col("text"))).as("sum_text_fp"),
        sum(fp(col("source"))).as("sum_source_fp"))
      .orderBy("lang")
  }
}
