package org.apache.spark.sql.graft

import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptContext, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Parquet WRITING bridge for graft's one snapshot data-file writer
  * (`graft.sources.DataFiles`) — the mirror of [[ParquetReadBridge]].
  * That writer's tasks write parquet bytes themselves, so they can
  * collect each file's statistics, blooms and CHECK counts as the rows
  * pass instead of reading the file back. The engine's own writer
  * stack (`ParquetFileFormat.prepareWrite` → `OutputWriterFactory` →
  * per-task `OutputWriter`) is exactly the code every
  * `InsertIntoHadoopFsRelation` task runs, but it lives behind
  * `private[sql]`-adjacent internals. Re-exporting the two pieces a
  * writer task needs keeps the bytes identical to a normal parquet
  * write (compression codec, statistics, dictionary encoding — all the
  * session's parquet conf applies).
  */
object ParquetWriteBridge {

  /** Driver-side setup: an `OutputWriterFactory` for `schema` plus the
    * job configuration `prepareWrite` populated (write-support class,
    * serialized schema, codec) — ship BOTH to executors; the factory
    * is useless with a fresh conf.
    */
  def writerSetup(spark: SparkSession,
      schema: StructType): (OutputWriterFactory, SerializableConfiguration) = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val job = Job.getInstance(cs.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(cs, job, Map.empty, schema)
    (factory, new SerializableConfiguration(job.getConfiguration))
  }

  /** Executor-side `TaskAttemptContext` for `OutputWriterFactory
    * .newInstance` — identity only (the write goes to an explicit
    * path, no committer protocol runs).
    */
  def taskContext(conf: SerializableConfiguration, partitionId: Int,
      taskId: Long): TaskAttemptContext = {
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft-write", 0), TaskType.MAP, partitionId),
      (taskId % Int.MaxValue).toInt)
    new TaskAttemptContextImpl(conf.value, attempt)
  }
}
