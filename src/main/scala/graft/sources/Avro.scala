package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema => ASchema, SchemaBuilder}
import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableInput}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Avro container round-trip (SURVEY.md §2.D D233) built directly on
  * the avro core library (this environment carries avro-1.12 but not
  * the spark-avro connector module, and zero-egress forbids adding
  * it) — the row-format interchange a Kafka/schema-registry estate
  * speaks, next to the columnar parquet/ORC pair in [[Sinks]].
  *
  * Write path ([[Avro.write]]): one Avro object-container file per
  * task partition, written through the Hadoop FileSystem API (so any
  * fs:// the cluster speaks works), deflate-compressed, named by
  * partition id — idempotent under task retry because a re-attempt
  * overwrites the same file; a `_SUCCESS` marker lands only after the
  * job completes (readers of uncommitted directories see its absence).
  * Rows convert Spark-type → Avro-type once per field via a
  * per-partition precomputed converter array, not per-value
  * reflection.
  *
  * Read path: a DataSource V2 [[AvroSource]] (`spark.read.format(
  * classOf[AvroSource].getName)`) planning ONE input partition per
  * container file (files are task-sized by construction of the write
  * path) with COLUMN PRUNING pushed into the decoder
  * ([[SupportsPushDownRequiredColumns]]): pruned columns are never
  * converted to Catalyst values — for a row format that is the whole
  * available projection win (there is no columnar page skip to push
  * further, which is exactly why the ANALYTICS tables stay parquet
  * and Avro is the INTERCHANGE format). Filters evaluate Spark-side
  * post-scan, as in the connector module.
  *
  * Type surface: boolean/int/long/float/double/string/binary,
  * timestamp-micros, date, and one-level arrays of the scalar types —
  * the fixture tables' full envelope; nullable fields map to
  * `["null", T]` unions both ways.
  */
object Avro {

  private[sources] def toAvroSchema(st: StructType, name: String): ASchema = {
    val fields = SchemaBuilder.record(name).namespace("graft").fields()
    st.fields.foldLeft(fields) { (fb, f) =>
      val base = scalarSchema(f.dataType)
      // a `null` default is only legal for nullable (null-first union)
      // fields — Avro 1.12 validates defaults at schema build and
      // rejects null for non-nullable types
      if (f.nullable) {
        val sch = ASchema.createUnion(
          java.util.List.of(ASchema.create(ASchema.Type.NULL), base))
        fb.name(f.name).`type`(sch).withDefault(null)
      } else fb.name(f.name).`type`(base).noDefault()
    }.endRecord()
  }

  private def scalarSchema(dt: DataType): ASchema = dt match {
    case BooleanType => ASchema.create(ASchema.Type.BOOLEAN)
    case IntegerType => ASchema.create(ASchema.Type.INT)
    case LongType => ASchema.create(ASchema.Type.LONG)
    case FloatType => ASchema.create(ASchema.Type.FLOAT)
    case DoubleType => ASchema.create(ASchema.Type.DOUBLE)
    case StringType => ASchema.create(ASchema.Type.STRING)
    case BinaryType => ASchema.create(ASchema.Type.BYTES)
    case TimestampType =>
      org.apache.avro.LogicalTypes.timestampMicros()
        .addToSchema(ASchema.create(ASchema.Type.LONG))
    case TimestampNTZType =>
      org.apache.avro.LogicalTypes.localTimestampMicros()
        .addToSchema(ASchema.create(ASchema.Type.LONG))
    case DateType =>
      org.apache.avro.LogicalTypes.date()
        .addToSchema(ASchema.create(ASchema.Type.INT))
    case ArrayType(et, containsNull) =>
      val el = scalarSchema(et)
      ASchema.createArray(if (containsNull) ASchema.createUnion(
        java.util.List.of(ASchema.create(ASchema.Type.NULL), el)) else el)
    case other =>
      throw new IllegalArgumentException(s"unsupported Avro sink type $other")
  }

  private[sources] def toSparkType(s: ASchema): DataType = {
    val nn = nonNull(s)
    nn.getType match {
      case ASchema.Type.BOOLEAN => BooleanType
      case ASchema.Type.INT =>
        if (nn.getLogicalType.isInstanceOf[org.apache.avro.LogicalTypes.Date])
          DateType
        else IntegerType
      case ASchema.Type.LONG =>
        if (nn.getLogicalType
            .isInstanceOf[org.apache.avro.LogicalTypes.TimestampMicros])
          TimestampType
        else if (nn.getLogicalType
            .isInstanceOf[org.apache.avro.LogicalTypes.LocalTimestampMicros])
          TimestampNTZType
        else LongType
      case ASchema.Type.FLOAT => FloatType
      case ASchema.Type.DOUBLE => DoubleType
      case ASchema.Type.STRING => StringType
      case ASchema.Type.BYTES => BinaryType
      case ASchema.Type.ARRAY =>
        ArrayType(toSparkType(nn.getElementType),
          containsNull = nn.getElementType.getType == ASchema.Type.UNION)
      case other =>
        throw new IllegalArgumentException(s"unsupported Avro read type $other")
    }
  }

  private[sources] def nonNull(s: ASchema): ASchema =
    if (s.getType == ASchema.Type.UNION)
      s.getTypes.asScala.find(_.getType != ASchema.Type.NULL).get
    else s

  private[sources] def toSparkSchema(s: ASchema): StructType =
    StructType(s.getFields.asScala.toSeq.map { f =>
      StructField(f.name(),
        toSparkType(f.schema()),
        nullable = f.schema().getType == ASchema.Type.UNION)
    })

  /** External (Row) value → Avro datum, per Spark type. */
  private def toAvro(dt: DataType, avro: ASchema): Any => Any = dt match {
    case TimestampType =>
      // java.sql.Timestamp / Instant → micros since epoch
      v => v match {
        case t: java.sql.Timestamp =>
          t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
        case i: java.time.Instant =>
          i.getEpochSecond * 1000000L + i.getNano / 1000L
      }
    case TimestampNTZType =>
      v => {
        val ldt = v.asInstanceOf[java.time.LocalDateTime]
        ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
          ldt.getNano / 1000L
      }
    case DateType =>
      v => v match {
        case d: java.sql.Date => d.toLocalDate.toEpochDay.toInt
        case d: java.time.LocalDate => d.toEpochDay.toInt
      }
    case BinaryType =>
      v => java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
    case ArrayType(et, _) =>
      val conv = toAvro(et, Avro.nonNull(avro).getElementType)
      v => v.asInstanceOf[scala.collection.Seq[Any]]
        .map(x => if (x == null) null else conv(x)).asJava
    case _ => identity
  }

  /** Distributed Avro sink: one container file per partition. */
  def write(df: DataFrame, path: String): Unit = {
    val schemaJson = toAvroSchema(df.schema, "row").toString
    val sparkSchema = df.schema
    val conf = new SerializableHadoopConf(
      df.sparkSession.sparkContext.hadoopConfiguration)
    // clean target dir (overwrite semantics, driver-side)
    val dir = new HPath(path)
    val dfs = dir.getFileSystem(conf.value)
    if (dfs.exists(dir)) dfs.delete(dir, true)
    dfs.mkdirs(dir)
    df.rdd.foreachPartition { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val schema = new ASchema.Parser().parse(schemaJson)
      val convs = sparkSchema.fields.zipWithIndex.map { case (f, i) =>
        (i, toAvro(f.dataType, schema.getFields.get(i).schema()))
      }
      val file = new HPath(dir, f"part-$pid%05d.avro")
      // attempt-unique temp + rename-into-place: a speculative or
      // zombie attempt writing the same part id cannot interleave
      // bytes with the winner (fs.create(file, overwrite) alone is
      // idempotent only when attempts are serialized)
      val attempt = org.apache.spark.TaskContext.get() match {
        case null => 0L
        case tc => tc.taskAttemptId()
      }
      val tmp = new HPath(dir, f".part-$pid%05d-attempt-$attempt.avro.tmp")
      val fs = file.getFileSystem(conf.value)
      val out = fs.create(tmp, true)
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6))
      w.create(schema, out)
      try {
        it.foreach { row =>
          val rec = new GenericData.Record(schema)
          convs.foreach { case (i, conv) =>
            rec.put(i, if (row.isNullAt(i)) null else conv(row.get(i)))
          }
          w.append(rec)
        }
      } finally w.close()
      // FIRST complete attempt wins; a losing attempt wrote the same
      // RECORDS (deterministic partition contents — the container
      // bytes differ per attempt via Avro's time-derived sync marker,
      // so do NOT content-compare), and exactly one complete file
      // survives, so losing is not an error. Never delete an existing
      // target: a zombie attempt that deleted-then-died would leave a
      // _SUCCESS-blessed directory missing a partition.
      if (fs.exists(file)) {
        fs.delete(tmp, false); ()
      } else if (!fs.rename(tmp, file)) {
        fs.delete(tmp, false)
        if (!fs.exists(file))
          throw new java.io.IOException(s"rename $tmp -> $file failed")
      }
    }
    // schema sidecar: lets readers infer the schema even when the
    // committed frame had zero partitions (no .avro part files)
    val sOut = dfs.create(new HPath(dir, "_schema.avsc"), true)
    try sOut.write(schemaJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally sOut.close()
    // job-completion marker (readers treat its absence as uncommitted)
    dfs.create(new HPath(dir, "_SUCCESS"), true).close()
  }
}

/** Hadoop Configuration is not Serializable; standard writable wrap. */
private[sources] final class SerializableHadoopConf(
    @transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** DataSource V2 provider for [[Avro]]-written directories:
  * `spark.read.format(classOf[AvroSource].getName).load(path)`. */
class AvroSource extends TableProvider {

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("path option required"))
    val conf = AvroSource.sessionConf()
    AvroSource.checkCommitted(path, conf,
      options.getBoolean("ignoreMissingSuccess", false))
    val files = AvroSource.listDataFiles(path, conf)
    if (files.nonEmpty) {
      val (reader, in) = AvroSource.openFile(files.head, conf)
      try Avro.toSparkSchema(reader.getSchema)
      finally { reader.close(); in.close() }
    } else {
      // committed-but-empty write (zero-partition frame): no part
      // files exist, so fall back to the driver-written schema sidecar
      val side = new HPath(path, "_schema.avsc")
      val fs = side.getFileSystem(conf)
      require(fs.exists(side),
        s"no .avro files and no _schema.avsc sidecar under $path")
      val in = fs.open(side)
      val json = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      Avro.toSparkSchema(new ASchema.Parser().parse(json))
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new AvroTable(properties.get("path"), schema)
}

object AvroSource {
  /** The ACTIVE session's Hadoop configuration — the write path ships
    * it to executors, and the read path must resolve filesystems with
    * the same spark.hadoop.* settings (a bare `new Configuration()`
    * works on write and then fails auth/resolution on read for any
    * fs configured through the session). */
  private[sources] def sessionConf(): Configuration =
    org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration

  /** Enforce the sink's commit contract: a directory holding .avro
    * part files but NO `_SUCCESS` marker is an uncommitted write (a
    * producer died mid-job) and must not be silently half-read.
    * Externally-produced directories without the marker opt out via
    * `.option("ignoreMissingSuccess", true)`. */
  private[sources] def checkCommitted(path: String, conf: Configuration,
      ignore: Boolean): Unit = {
    if (ignore) return
    val dir = new HPath(path)
    val fs = dir.getFileSystem(conf)
    if (fs.exists(dir)) {
      val hasData = fs.listStatus(dir)
        .exists(s => s.isFile && s.getPath.getName.endsWith(".avro"))
      if (hasData && !fs.exists(new HPath(dir, "_SUCCESS")))
        throw new IllegalStateException(
          s"$path has .avro part files but no _SUCCESS marker - the " +
            "producing job did not commit; read anyway with " +
            ".option(\"ignoreMissingSuccess\", true)")
    }
  }

  private[sources] def listDataFiles(path: String,
      conf: Configuration): Seq[String] = {
    val dir = new HPath(path)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".avro"))
      .map(_.getPath.toString).sorted
  }

  /** Seekable Hadoop-FS input + a positioned Avro container reader. */
  private[sources] def openFile(file: String, conf: Configuration)
      : (DataFileReader[GenericRecord], SeekableInput) = {
    val p = new HPath(file)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p)
    val stream = fs.open(p)
    val in = new SeekableInput {
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        stream.read(b, off, len)
      override def seek(pos: Long): Unit = stream.seek(pos)
      override def tell(): Long = stream.getPos
      override def length(): Long = status.getLen
      override def close(): Unit = stream.close()
    }
    (new DataFileReader[GenericRecord](in,
      new GenericDatumReader[GenericRecord]()), in)
  }

  /** Avro datum → Catalyst value, per Spark type (pruned columns never
    * pass through here — the projection win of the V2 scan). */
  private[sources] def toCatalyst(dt: DataType): Any => Any = dt match {
    case StringType => {
      case u: Utf8 => UTF8String.fromBytes(u.getBytes, 0, u.getByteLength)
      case s: CharSequence => UTF8String.fromString(s.toString)
    }
    case BinaryType => {
      case bb: java.nio.ByteBuffer =>
        val arr = new Array[Byte](bb.remaining()); bb.duplicate().get(arr); arr
      case a: Array[Byte] => a
    }
    case ArrayType(et, _) =>
      val conv = toCatalyst(et)
      v => ArrayData.toArrayData(
        v.asInstanceOf[java.util.Collection[Any]].asScala
          .map(x => if (x == null) null else conv(x)).toArray)
    // timestamp-micros / date land as Long / Int — Catalyst's own form
    case _ => identity
  }
}

private[sources] class AvroTable(path: String, tableSchema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft-avro:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.Set.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AvroScanBuilder(path, tableSchema,
      options.getBoolean("ignoreMissingSuccess", false))
}

private[sources] class AvroScanBuilder(path: String, full: StructType,
    ignoreMissingSuccess: Boolean)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve file field order for the positional row writer
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(full.fields.filter(f => keep.contains(f.name)))
  }

  override def build(): Scan =
    new AvroScan(path, required, ignoreMissingSuccess)
}

private[sources] class AvroScan(path: String, required: StructType,
    ignoreMissingSuccess: Boolean)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def description(): String =
    s"graft-avro $path ReadSchema: ${required.simpleString}"
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = AvroSource.sessionConf()
    AvroSource.checkCommitted(path, conf, ignoreMissingSuccess)
    AvroSource.listDataFiles(path, conf)
      .map(f => AvroFilePartition(f): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new AvroReaderFactory(required.json,
      new SerializableHadoopConf(AvroSource.sessionConf()))
}

private[sources] case class AvroFilePartition(file: String)
    extends InputPartition

private[sources] class AvroReaderFactory(requiredJson: String,
    conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val required = DataType.fromJson(requiredJson).asInstanceOf[StructType]
    val (reader, in) = AvroSource.openFile(
      p.asInstanceOf[AvroFilePartition].file, conf.value)
    val fileFields = reader.getSchema.getFields.asScala.toSeq
    // per-required-column (file position, converter): pruned columns
    // are skipped entirely at decode
    val cols = required.fields.map { f =>
      val pos = fileFields.indexWhere(_.name() == f.name)
      require(pos >= 0, s"column ${f.name} absent from Avro file")
      (pos, AvroSource.toCatalyst(f.dataType))
    }
    new PartitionReader[InternalRow] {
      override def next(): Boolean = reader.hasNext
      override def get(): InternalRow = {
        val rec = reader.next()
        InternalRow.fromSeq(cols.toIndexedSeq.map { case (pos, conv) =>
          val v = rec.get(pos)
          if (v == null) null else conv(v)
        })
      }
      override def close(): Unit = { reader.close(); in.close() }
    }
  }
}
