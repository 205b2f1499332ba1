package graft.sources

import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences, BoundReference, Expression, Predicate, XxHash64}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.functions.{coalesce, col, expr, lit, not}
import org.apache.spark.sql.graft.ParquetWriteBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.functions.BloomBuffer
import Snapshot.{ColStats, FileEntry, TableSpec}

/** How a snapshot data file is written and described — the ONE write
  * path behind every [[Snapshot]] op, CTAS/RTAS staging, the SQL
  * UPDATE/DELETE/MERGE rewrite and the streaming sink.
  *
  * A [[Writer]] is the serializable per-commit plan: the commit dir,
  * the PHYSICAL file schema, the engine's parquet writer
  * ([[ParquetWriteBridge]]), which columns carry stats and blooms, and
  * the table's CHECK constraints bound to row positions. Each task
  * writes at most one file and, as the rows pass, accumulates the
  * row count, per-column min/max/null count (Spark's own ordering for
  * the type, so the values equal what a `min`/`max` aggregation over
  * the file would return), bloom bits over `xxhash64(value)` and
  * per-constraint violation counts; it reports them in its commit
  * message. [[finish]] then prunes files no successful task named,
  * aborts on any violation, and returns the manifest entries. No
  * written byte is ever read back: a commit costs one Spark job plus
  * whatever its input plan needs.
  */
private[sources] object DataFiles {

  /** What one writing task reports: the file it wrote, if any (path
    * relative to the commit dir), and per CHECK constraint how many of
    * its rows violated it.
    */
  final case class TaskResult(file: Option[FileEntry], violations: Seq[Long])
    extends WriterCommitMessage

  /** Columns eligible for per-file stats. Default (no configured
    * statsCols): first [[Snapshot.MaxStatsCols]] supported-type fields
    * in schema order — the Delta convention, bounded metadata however
    * wide the table. A configured `spec.statsCols` replaces the
    * default (a wide table spends its stats budget on the filter
    * columns); identity `spec.partitionCols` are ALWAYS included, so
    * partition predicates prune no matter where the column sits in
    * the schema. `spec` speaks PHYSICAL column names here (manifest
    * stats are physical-keyed).
    */
  private def statsFields(schema: StructType, spec: TableSpec): Seq[StructField] = {
    val base =
      if (spec.statsCols.isEmpty) schema.fields.toSeq.take(Snapshot.MaxStatsCols)
      else schema.fields.toSeq.filter(f => spec.statsCols.contains(f.name))
    (base ++ schema.fields.filter(f => spec.partitionCols.contains(f.name) && !base.contains(f)))
      .filter(_.dataType match {
        case _: NumericType | StringType | DateType | TimestampType | BooleanType => true
        case _ => false
      })
  }

  /** Canonical string encoding of an INTERNAL min/max value; None
    * drops the stat (unknown). Strings longer than
    * [[Snapshot.MaxStatsStringLen]] are dropped — truncation would make
    * max an unsound bound. Dates and timestamps are already days /
    * micros internally, so they encode as plain integers.
    */
  def encodeStat(v: Any): Option[String] = v match {
    case null => None
    case u: UTF8String =>
      val s = u.toString
      if (s.length <= Snapshot.MaxStatsStringLen) Some(s) else None
    case d: java.lang.Double => if (d.isNaN) None else Some(d.toString)
    case fl: java.lang.Float => if (fl.isNaN) None else Some(fl.toString)
    case d: Decimal => Some(d.toJavaBigDecimal.toPlainString)
    case other => Some(other.toString) // integral, boolean, days, micros
  }

  /** The serializable write plan of one commit dir `dir/rel`. `checks`
    * are the violation predicates of `constraints` (sorted by name),
    * bound to row positions.
    */
  final case class Writer(dir: String, rel: String, schema: StructType,
      factory: OutputWriterFactory, conf: SerializableConfiguration,
      statsCols: Seq[Int], bloomCols: Seq[Int], bloomBits: Int,
      constraints: Seq[(String, String)], checks: Seq[Expression])
    extends DataWriterFactory with StreamingDataWriterFactory {

    override def createWriter(partitionId: Int, taskId: Long): FileWriter =
      new FileWriter(this, partitionId, taskId)

    /** Streaming epoch `epochId` writes to its own `rel-e<epoch>`. */
    def epoch(epochId: Long): Writer = copy(rel = s"$rel-e$epochId")

    override def createWriter(partitionId: Int, taskId: Long,
        epochId: Long): DataWriter[InternalRow] =
      epoch(epochId).createWriter(partitionId, taskId)
  }

  /** Plan a write of rows shaped `logical` (LOGICAL column names, in
    * file column order) into a fresh commit dir `dir/data/<uuid>`
    * (streaming epochs: `<uuid>-e<epoch>`): files carry the physical
    * names `mapping` assigns, stats and blooms follow `spec`, and
    * CHECK `constraints` resolve against the logical names. SQL CHECK
    * semantics: only a FALSE predicate violates; NULL passes.
    */
  def writer(spark: SparkSession, dir: String, logical: StructType,
      mapping: Map[String, String], spec: TableSpec,
      constraints: Map[String, String]): Writer = {
    val phys = Snapshot.physicalSchema(logical, mapping)
    val pspec = spec.copy(
      partitionCols = spec.partitionCols.map(c => mapping.getOrElse(c, c)),
      statsCols = spec.statsCols.map(c => mapping.getOrElse(c, c)),
      bloomCols = spec.bloomCols.map(c => mapping.getOrElse(c, c)))
    val named = constraints.toSeq.sortBy(_._1)
    val checks =
      if (named.isEmpty) Nil
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], logical)
        .select(named.map { case (_, p) => not(coalesce(expr(p), lit(true))) }: _*)
        .queryExecution.optimizedPlan match {
          case Project(list, child) =>
            list.map(e => BindReferences.bindReference(e: Expression, child.output))
          case other => throw new IllegalStateException(s"unexpected CHECK plan $other")
        }
    val (factory, conf) = ParquetWriteBridge.writerSetup(spark, phys)
    Writer(dir, s"${Snapshot.DataDir}/${UUID.randomUUID()}", phys, factory, conf,
      statsFields(phys, pspec).map(f => phys.fieldIndex(f.name)),
      phys.fields.indices.filter(i => pspec.bloomCols.contains(phys(i).name)),
      spec.bloomBits, named, checks)
  }

  /** Write `df` as a fresh immutable file set under `dir/data/<uuid>`:
    * ONE job over `df`'s physical plan, inside one SQL execution (so
    * listeners and AQE see a normal query), returning the entries.
    * With `cluster` (every op but
    * compact/optimize, whose caller owns the layout) rows are first
    * hash-clustered by the spec's identity partition columns so each
    * file holds few partition values and the always-collected
    * partition-column stats prune partition predicates at planning
    * time. `df` arrives LOGICAL; see [[writer]] for the rest. A CHECK
    * violation aborts BEFORE any manifest publish ([[finish]]).
    */
  def write(spark: SparkSession, dir: String, df: DataFrame,
      constraints: Map[String, String] = Map.empty,
      mapping: Map[String, String] = Map.empty,
      spec: TableSpec = TableSpec(),
      cluster: Boolean = true): Seq[FileEntry] = {
    val present = spec.partitionCols.filter(df.columns.contains)
    val clustered =
      if (!cluster || present.isEmpty || present.size != spec.partitionCols.size) df
      // explicit count: AQE coalesces a bare repartition(cols) down to
      // one partition on small batches, which would defeat the
      // value-per-file layout the partition stats depend on
      else df.repartition(spark.sessionState.conf.numShufflePartitions,
        present.map(col): _*)
    val w = writer(spark, dir, clustered.schema, mapping, spec, constraints)
    val qe = clustered.queryExecution
    val results = try SQLExecution.withNewExecutionId(qe, Some(s"graft write $dir")) {
      val rdd = qe.toRdd
      val input =
        if (rdd.partitions.nonEmpty) rdd
        else spark.sparkContext.parallelize(Seq.empty[InternalRow], 1)
      input.mapPartitionsWithIndex { (pid, rows) =>
        val task = w.createWriter(pid, TaskContext.get().taskAttemptId())
        try {
          // as Spark's file writer does, the first partition always
          // writes a file: an empty write still records one
          if (pid == 0) task.open()
          task.writeAll(rows.asJava)
          Iterator.single(task.commit())
        } catch { case e: Throwable => task.abort(); throw e }
        finally task.close()
      }.collect().toSeq
    } catch { case e: Throwable => abort(spark, w); throw e }
    finish(spark, w, results)
  }

  /** Driver side of every write: keep the files successful tasks named
    * (delete speculative/failed attempts' leftovers), abort on any
    * CHECK violation — delete the commit dir and throw, so no version
    * is ever published over bad rows — and return the entries with
    * table-root-relative paths, in file-name order. An empty write
    * leaves no commit dir behind.
    */
  def finish(spark: SparkSession, w: Writer,
      messages: Seq[WriterCommitMessage]): Seq[FileEntry] = {
    val results = messages.collect { case r: TaskResult => r }
    val entries = results.flatMap(_.file).sortBy(_.path)
      .map(e => e.copy(path = s"${w.rel}/${e.path}"))
    val fs = new Path(w.dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commitDir = new Path(s"${w.dir}/${w.rel}")
    val named = entries.map(e => Snapshot.baseName(e.path)).toSet
    if (fs.exists(commitDir))
      fs.listStatus(commitDir).foreach { st =>
        if (!named.contains(st.getPath.getName)) fs.delete(st.getPath, true)
      }
    val bad = w.constraints.indices.map(i => i -> results.map(_.violations(i)).sum)
      .filter(_._2 > 0)
    if (entries.isEmpty || bad.nonEmpty) abort(spark, w)
    if (bad.nonEmpty)
      throw new IllegalArgumentException(s"CHECK constraint violated at ${w.dir}: " +
        bad.map { case (i, c) =>
          val (n, p) = w.constraints(i)
          s"'$n' ($p) by $c row(s)"
        }.mkString("; ") + " — commit aborted, no version published")
    entries
  }

  /** Delete everything the write put under its commit dir. */
  def abort(spark: SparkSession, w: Writer): Unit =
    new Path(w.dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new Path(s"${w.dir}/${w.rel}"), true)

  /** One task's writer: the file opens on the first row (a task that
    * receives no rows writes nothing unless [[open]]ed), every row
    * updates the running description, and commit reports it.
    */
  final class FileWriter(w: Writer, partitionId: Int, taskId: Long)
      extends DataWriter[InternalRow] {
    private val ctx = ParquetWriteBridge.taskContext(w.conf, partitionId, taskId)
    private val name =
      f"part-$partitionId%05d-${UUID.randomUUID()}${w.factory.getFileExtension(ctx)}"
    private var out: OutputWriter = _
    private var rows = 0L
    private val statOrds = w.statsCols.toArray
    private val types = statOrds.map(w.schema(_).dataType)
    private val orderings = types.map(TypeUtils.getInterpretedOrdering)
    private val mins = new Array[Any](types.length)
    private val maxs = new Array[Any](types.length)
    private val nulls = new Array[Long](types.length)
    // the key `xxhash64(col)` gives — the probe side hashes its literal
    // the same way (a null hashes to the seed, as in the aggregate)
    private val hashes = w.bloomCols.map(i =>
      new XxHash64(Seq(BoundReference(i, w.schema(i).dataType, nullable = true)))).toArray
    private val blooms = w.bloomCols.map(_ =>
      new BloomBuffer(w.bloomBits, Snapshot.BloomHashes)).toArray
    private val checks = w.checks.map { e =>
      val p = Predicate.create(e); p.initialize(partitionId); p
    }.toArray
    private val violations = new Array[Long](checks.length)

    // input rows are reused buffers: keep private copies of kept values
    private def own(v: Any): Any = v match {
      case u: UTF8String => u.clone()
      case d: Decimal => d.clone()
      case other => other
    }

    def open(): Unit =
      if (out == null) out = w.factory.newInstance(s"${w.dir}/${w.rel}/$name", w.schema, ctx)

    override def write(row: InternalRow): Unit = {
      open()
      out.write(row)
      rows += 1
      var i = 0
      while (i < types.length) {
        val o = statOrds(i)
        if (row.isNullAt(o)) nulls(i) += 1
        else {
          val v = row.get(o, types(i))
          if (mins(i) == null || orderings(i).lt(v, mins(i))) mins(i) = own(v)
          if (maxs(i) == null || orderings(i).gt(v, maxs(i))) maxs(i) = own(v)
        }
        i += 1
      }
      i = 0
      while (i < blooms.length) {
        blooms(i).add(hashes(i).eval(row).asInstanceOf[Long]); i += 1
      }
      i = 0
      while (i < checks.length) {
        if (checks(i).eval(row)) violations(i) += 1
        i += 1
      }
    }

    override def commit(): WriterCommitMessage = {
      val file =
        if (out == null) None
        else {
          close()
          val path = new Path(s"${w.dir}/${w.rel}/$name")
          val bytes = path.getFileSystem(w.conf.value).getFileStatus(path).getLen
          Some(FileEntry(name, bytes, rows,
            types.indices.map(i => w.schema(statOrds(i)).name ->
              ColStats(encodeStat(mins(i)), encodeStat(maxs(i)), nulls(i))).toMap,
            blooms = blooms.indices.map(i => w.schema(w.bloomCols(i)).name ->
              java.util.Base64.getEncoder.encodeToString(blooms(i).serialize())).toMap))
        }
      TaskResult(file, violations.toSeq)
    }

    override def abort(): Unit = close()

    override def close(): Unit = if (out != null) { out.close(); out = null }
  }
}
