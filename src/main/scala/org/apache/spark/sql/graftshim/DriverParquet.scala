package org.apache.spark.sql.graftshim

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** One-partition artifact directories written and read on the driver,
  * with no Spark job: what `df.write.parquet` / `.text` and
  * `spark.read.parquet(dir).head()` do for a row that already sits in
  * driver memory, through Spark's own parquet writer and reader (same
  * codec, same footer). A directory holds `part-00000-<uuid>-c000.*`
  * plus `_SUCCESS`, written last, so Spark, DuckDB and any parquet
  * reader read it as they read a one-task Spark write. */
object DriverParquet {

  private def session(s: SparkSession): classic.SparkSession =
    s.asInstanceOf[classic.SparkSession]

  /** Replace `dir` with one part file from `body`, then `_SUCCESS`. */
  private def writeDir(spark: classic.SparkSession, dir: String, ext: String)(
      body: (FileSystem, Path) => Unit): Unit = {
    val out = new Path(dir)
    val fs = out.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(out, true)
    body(fs, new Path(out, s"part-00000-${UUID.randomUUID()}-c000$ext"))
    fs.create(new Path(out, "_SUCCESS")).close()
  }

  /** Write `df`'s rows as one parquet part file. `df` must plan to a
    * local table scan (a local Dataset and projections over it), so
    * collecting it launches no job. */
  def writeParquet(df: DataFrame, dir: String): Unit = {
    val spark = session(df.sparkSession)
    val rows = df.queryExecution.executedPlan.executeCollect()
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, df.schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID("", 0, TaskType.MAP, 0, 0))
    writeDir(spark, dir, factory.getFileExtension(ctx)) { (_, file) =>
      val writer = factory.newInstance(file.toString, df.schema, ctx)
      try rows.foreach(writer.write) finally writer.close()
    }
  }

  /** Write `line` as a one-line text part file. */
  def writeTextLine(spark: SparkSession, line: String, dir: String): Unit = {
    writeDir(session(spark), dir, ".txt") { (fs, file) =>
      val out = fs.create(file)
      try out.write(s"$line\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
  }

  /** The one row of `dir`'s parquet data files (every file not named
    * `_*` or `.*`), as a local DataFrame. The schema comes from the
    * footer of the file that holds the row, so any layout loads; the
    * row counts come from the footers, so only that file is decoded.
    * No data file, or a total other than one row, fails by name. */
  def readSingleRow(spark: SparkSession, dir: String): DataFrame = {
    val s = session(spark)
    val conf = s.sessionState.newHadoopConf()
    val path = new Path(dir)
    val files = path.getFileSystem(conf).listStatus(path).filter { f =>
      val name = f.getPath.getName
      f.isFile && !name.startsWith("_") && !name.startsWith(".")
    }
    val footers = files.map(f => ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.NO_FILTER))
    val counts = footers.map(_.getBlocks.asScala.map(_.getRowCount).sum)
    require(counts.sum == 1, s"artifact directory $dir holds ${counts.sum} rows " +
      s"in ${files.length} data files, not exactly 1")
    val i = counts.indexOf(1L)
    val schema = new ParquetToSparkSchemaConverter(s.sessionState.conf)
      .convert(footers(i).getFileMetaData.getSchema).asNullable
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(s, schema,
      new StructType(), schema, Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    val f = files(i)
    val toUnsafe = UnsafeProjection.create(schema)
    val rows = read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(f.getPath), 0,
      f.getLen, Array.empty, f.getModificationTime, f.getLen)).map(toUnsafe(_).copy()).toList
    classic.Dataset.ofRows(s, LocalRelation(DataTypeUtils.toAttributes(schema), rows))
  }
}
