package org.apache.spark.sql.graft

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID,
  TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.{OutputWriter,
  OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions,
  ParquetUtils}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Executor-side parquet writing for the lake's one data-file writer
  * (`graft.lake.LakeStreamDataWriter`), which every lake write runs:
  * batch commits, staged CTAS and streaming epochs. Each task streams
  * `InternalRow`s into its own files, so it needs a per-task parquet
  * writer. This bridges to the SAME writer stack that backs
  * `df.write.parquet` (`ParquetUtils.prepareWrite` →
  * `ParquetOutputWriter`), so lake files have the session's
  * compression, timestamp and rebase settings and stay compatible
  * with the vectorized reader.
  *
  * [[prepare]] runs on the DRIVER at plan time (it reads the session's
  * SQLConf into a hadoop conf); the returned [[PreparedParquetWrite]]
  * is a small serializable capsule shipped inside the writer factory.
  */
object ParquetWriteBridge {

  def prepare(spark: SparkSession, schema: StructType): PreparedParquetWrite = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(spark.sessionState.conf, job,
      schema, new ParquetOptions(Map.empty[String, String],
        spark.sessionState.conf))
    new PreparedParquetWrite(factory,
      new SerializableConfiguration(job.getConfiguration), schema)
  }
}

/** Serializable capsule: opens one direct-to-path parquet writer per
  * call. The synthetic task-attempt id is never used for commit
  * coordination — the lake's log commit is the atomicity point, files
  * are invisible until referenced — it only satisfies the Hadoop
  * `RecordWriter` plumbing.
  */
final class PreparedParquetWrite(
    factory: OutputWriterFactory,
    conf: SerializableConfiguration,
    val schema: StructType) extends Serializable {

  private def ctx(): TaskAttemptContextImpl =
    new TaskAttemptContextImpl(conf.value,
      new TaskAttemptID(new TaskID(new JobID("graft-stream", 0),
        TaskType.MAP, 0), 0))

  /** e.g. ".snappy.parquet" under the session's compression codec. */
  def extension: String = factory.getFileExtension(ctx())

  def open(path: String): OutputWriter =
    factory.newInstance(path, schema, ctx())

  def hadoopConf: org.apache.hadoop.conf.Configuration = conf.value
}
