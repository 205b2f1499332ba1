package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 GROUP-BASED row-level operations over [[Snapshot]] tables —
  * the plumbing that lights up SQL `UPDATE`, `MERGE INTO`, and
  * arbitrary-predicate `DELETE` through the catalog:
  *
  * {{{
  *   UPDATE graft.db.t SET price = price * 2 WHERE status = 'O'
  *   MERGE INTO graft.db.t USING src ON t.id = src.id
  *     WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
  *   DELETE FROM graft.db.t WHERE id % 3 = 0   -- untranslatable → rewrite
  * }}}
  *
  * ==How Spark drives it==
  *
  * Spark's `RewriteUpdateTable`/`RewriteMergeIntoTable`/
  * `RewriteDeleteFromTable` rules rewrite the statement into a
  * `ReplaceData` plan: READ every row of the affected groups through
  * [[GraftRowLevelOperation.newScanBuilder]], apply the
  * update/merge/delete projection, and WRITE the surviving rows back
  * through [[GraftRowLevelOperation.newWriteBuilder]]. The write's
  * commit must atomically replace exactly the groups the scan
  * produced. Here a group is ONE DATA FILE: commit publishes a new
  * manifest version carrying (base files − scanned files) by
  * reference plus the freshly written files — the same copy-on-write
  * contract as the library's `Snapshot.updateWhere`, driven by
  * Spark's SQL planner instead of a library call.
  *
  * ==Scale shape==
  *
  * The scan resolves the table's LATEST manifest once at planning and
  * pins it; commit publishes at base+1 through the layer's
  * single-winner guard, so a concurrent commit fails this statement
  * loudly instead of being silently overwritten. The scan is dv-aware
  * (deleted rows cannot resurrect through a rewrite) and reads
  * through the engine's own vectorized parquet path; the write is the
  * one snapshot data-file writer ([[DataFiles]]), which collects each
  * file's stats, blooms and CHECK counts while writing it.
  *
  * FILE GRANULARITY comes from Spark's runtime GROUP FILTERING: the
  * operation declares `_file` as its required metadata attribute, so
  * the optimizer runs a side scan evaluating the statement condition,
  * collects the DISTINCT files holding a matching row, and narrows
  * the main scan to them via `SupportsRuntimeV2Filtering` — only
  * those files are read, rewritten, and replaced; every other file
  * carries into the new version by manifest reference (statistics
  * and deletion vectors included). An UPDATE confined to one key
  * range on a range-clustered 100 TB table rewrites that range, same
  * as the library `updateWhere` — plus the planner shapes no
  * predicate API expresses (subqueries, joins, MERGE cascades).
  * `SupportsDelete` still short-circuits every exactly-translatable
  * SQL DELETE to the merge-on-read deletion-vector path before any
  * of this machinery runs, which is why plain deletes stay
  * metadata-only.
  */
private[sources] final class GraftRowLevelOperationBuilder(dir: String,
    info: RowLevelOperationInfo) extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new GraftRowLevelOperation(dir, info.command)
}

private[sources] final class GraftRowLevelOperation(dir: String,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  /** The manifest the scan pinned — commit() replaces against it. */
  @volatile private[sources] var base: Snapshot.Manifest = _

  /** The manifest-relative paths of the files being REPLACED — all of
    * `base.files` until runtime group filtering narrows the scan to
    * the files that actually hold a matching row.
    */
  @volatile private[sources] var replacedPaths: Set[String] = _

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"graft row-level $cmd on $dir"

  /** `_file` — each row's data file, the GROUP ID of the rewrite.
    * Declaring it routes Spark through the projection-aware writing
    * task (clean table-schema rows reach the writer; the metadata row
    * rides beside them) and gives the group-filter machinery its
    * handle.
    */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column(
      SnapshotStreamTable.FileColumnName))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = {
        val spark = SparkSession.active
        // the manifest is pinned ONCE per operation: every build of this
        // operation's scan (Spark may plan it more than once) and the
        // eventual commit resolve against the SAME version — re-pinning
        // on a later build could mix file sets from two manifests if a
        // concurrent commit landed in between, and the base+1 publish
        // guard (keyed to the newer base) would not catch the mix
        val m = GraftRowLevelOperation.this.synchronized {
          if (base == null) {
            val v = Snapshot.latestVersion(spark, dir).getOrElse(
              throw new IllegalStateException(s"no committed version at $dir"))
            base = Snapshot.readManifest(spark, dir, v)
            replacedPaths = base.files.map(_.path).toSet
          }
          base
        }
        // full-schema, filterless, dv-aware scan (+ the trailing
        // `_file` metadata column): ReplaceData's input must carry
        // EVERY live row of every replaced group — pushing the
        // statement condition here would drop the carry-over rows.
        // Spark's runtime GROUP FILTERING narrows it instead: a
        // side scan evaluates the statement condition, collects the
        // DISTINCT `_file` values that hold a matching row, and hands
        // them to `filter(...)` below — only those files are read,
        // rewritten, and replaced; every other file carries into the
        // new version by manifest reference.
        val withFile = StructType(m.schema.fields :+
          org.apache.spark.sql.types.StructField(
            SnapshotStreamTable.FileColumnName,
            org.apache.spark.sql.types.StringType, nullable = false))
        new Scan with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
          @volatile private var files: Seq[Snapshot.FileEntry] = m.files

          override def readSchema(): StructType = withFile

          override def filterAttributes()
              : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
            Array(org.apache.spark.sql.connector.expressions.Expressions.column(
              SnapshotStreamTable.FileColumnName))

          override def filter(
              predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
              : Unit = {
            // expect IN(_file, v1, v2, …); anything unparseable keeps
            // the conservative full file set (correct, just wider)
            val kept = RowLevelScanFilter.inValues(predicates,
              SnapshotStreamTable.FileColumnName)
            kept.foreach { values =>
              files = m.files.filter(e => values.contains(e.path))
              replacedPaths = files.map(_.path).toSet
            }
          }

          override def toBatch: org.apache.spark.sql.connector.read.Batch =
            new SnapshotBatchScan(dir, m, withFile, Array.empty,
              entriesFn = Some(() => files))
        }
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new RowLevelReplaceWrite(
        GraftRowLevelOperation.this, dir, info.schema())
    }
}

/** v2-Predicate helper: the distinct-values set of `IN(column, …)`
  * runtime filters. None when no parseable IN on that column arrived
  * — the caller keeps its conservative full set.
  */
private object RowLevelScanFilter {
  import org.apache.spark.sql.connector.expressions.{Literal, NamedReference}
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  def inValues(predicates: Array[Predicate], column: String): Option[Set[String]] = {
    val sets = predicates.toSeq.flatMap { p =>
      if (p.name() != "IN") None
      else {
        val ch = p.children()
        ch.headOption match {
          case Some(ref: NamedReference) if ref.fieldNames().toSeq == Seq(column) =>
            val vals = ch.tail.flatMap {
              case l: Literal[_] => Option(l.value).map(_.toString)
              case _ => Seq.empty[String]
            }
            // every child after the reference must be a literal, or the
            // predicate is something we don't fully understand — skip it
            if (vals.length == ch.length - 1) Some(vals.toSet) else None
          case _ => None
        }
      }
    }
    sets.reduceOption(_ intersect _)
  }
}

/** The replacement write: per-task parquet files into a fresh
  * `data/<uuid>` commit dir through [[DataFiles]] (so the rewritten
  * files carry the table's stats/bloom spec and pass its CHECK
  * constraints), then ONE manifest publish that swaps the scanned
  * files for the written ones. Task attempts that never commit are
  * pruned by [[DataFiles.finish]], so speculative or retried tasks
  * cannot leak rows.
  */
private final class RowLevelReplaceWrite(op: GraftRowLevelOperation,
    dir: String, writeSchema: StructType) extends Write {

  override def description(): String = s"graft replace-write for ${op.description()}"

  override def toBatch: BatchWrite = new BatchWrite {
    @volatile private var writer: DataFiles.Writer = _
    private def spark = SparkSession.active

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
      val base = op.base
      require(base != null, "row-level write planned without its scan")
      require(writeSchema.fieldNames.toSeq == base.schema.fieldNames.toSeq,
        s"row-level write schema ${writeSchema.fieldNames.mkString(",")} must match " +
          s"the table schema ${base.schema.fieldNames.mkString(",")}")
      // incoming rows are positional, labelled with the LOGICAL names
      writer = DataFiles.writer(spark, dir, writeSchema, base.mapping, base.spec,
        base.constraints)
      writer
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val base = op.base
      val entries = DataFiles.finish(spark, writer, messages.toSeq)
      val opName = op.command() match {
        case RowLevelOperation.Command.UPDATE => "update"
        case RowLevelOperation.Command.DELETE => "delete"
        case RowLevelOperation.Command.MERGE => "merge"
      }
      // zero-match statement (runtime filtering narrowed the scan to
      // nothing and the write produced nothing): mint NO version —
      // the same cron-safe convergence as the library updateWhere/
      // deleteWhere, instead of growing history with identical states
      if (entries.isEmpty && op.replacedPaths.isEmpty) return
      // files the (possibly runtime-narrowed) scan did NOT read carry
      // into the new version by manifest reference, statistics and
      // deletion vectors included
      val untouched = base.files.filterNot(e => op.replacedPaths.contains(e.path))
      Snapshot.publishRowLevel(spark, dir, base, untouched ++ entries, opName,
        metrics = Map(
          "files_rewritten" -> op.replacedPaths.size.toLong,
          "files_added" -> entries.size.toLong,
          "rows_written" -> entries.map(_.rows).sum))
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      if (writer != null) DataFiles.abort(spark, writer)
  }
}
