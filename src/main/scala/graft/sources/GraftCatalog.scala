package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, StagedTable, StagingTableCatalog, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A Spark DSv2 `TableCatalog` over [[Snapshot]] tables — the piece
  * that makes the table layer a pure-SQL surface:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/warehouse")
  *
  *   CREATE TABLE graft.db.orders (o_orderkey BIGINT, o_total DECIMAL(12,2))
  *   INSERT INTO graft.db.orders SELECT ...       -- one O(batch) append version
  *   INSERT OVERWRITE graft.db.orders SELECT ...  -- a full-replace version
  *   SELECT * FROM graft.db.orders                -- latest, stats-pruned scan
  *   SELECT * FROM graft.db.orders VERSION AS OF 3
  *   SELECT * FROM graft.db.orders TIMESTAMP AS OF '2026-08-01 00:00:00'
  *   ALTER TABLE graft.db.orders RENAME COLUMN o_total TO total  -- metadata-only
  *   ALTER TABLE graft.db.orders DROP COLUMN note                -- metadata-only
  *   ALTER TABLE graft.db.orders ADD COLUMN note STRING          -- metadata-only
  * }}}
  *
  * Layout: a table named `ns1.….t` lives at `<warehouse>/ns1/…/t` —
  * the directory IS the table (its `_versions/` log is the catalog
  * state), so there is no metastore to drift from the data: `DROP
  * TABLE` is a directory delete, a namespace is a directory, and any
  * existing snapshot dir moved under the warehouse is instantly a
  * catalog table. Time travel resolves through the same
  * version/timestamp machinery as the library API (`VERSION AS OF` →
  * that manifest, `TIMESTAMP AS OF` → binary search over monotone
  * commit timestamps, schema and column mapping OF THAT ERA).
  *
  * ALTERs route to the metadata-only column-mapping commits: RENAME /
  * DROP / ADD COLUMN never touch a data byte regardless of table size.
  * `DELETE FROM t [WHERE …]` works too (SupportsDelete → the
  * MERGE-ON-READ `Snapshot.deleteWhere`: deletion vectors, zero file
  * rewrites), and SQL `UPDATE` / `MERGE INTO` run through the full
  * SupportsRowLevelOperations plumbing ([[RowLevel]]: group-based
  * copy-on-write, file-granular via the candidate-file scan).
  */
final class GraftCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark = SparkSession.active

  private def fs = new Path(warehouse)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"catalog '$name' needs spark.sql.catalog.$name.warehouse = <dir>")
  }

  override def name(): String = catalogName

  /** Opt in to SQL `ALTER TABLE … ADD/DROP CONSTRAINT` — the analyzer
    * refuses constraint DDL for catalogs that don't declare it.
    */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    Set(org.apache.spark.sql.connector.catalog.TableCatalogCapability
      .SUPPORT_TABLE_CONSTRAINT).asJava

  private def checkPart(p: String): String = {
    require(p.nonEmpty && !p.contains("/") && !p.startsWith("_") && !p.startsWith("."),
      s"illegal catalog name part '$p'")
    p
  }

  private def tableDir(ident: Identifier): String =
    (warehouse +: (ident.namespace().toSeq :+ ident.name()).map(checkPart)).mkString("/")

  private def nsDir(ns: Array[String]): String =
    (warehouse +: ns.toSeq.map(checkPart)).mkString("/")

  private def isTable(dir: String): Boolean =
    Snapshot.latestVersion(spark, dir).isDefined

  /** Refuse creating a table at a path that exists as a NON-table
    * directory (a namespace): committing would turn the namespace
    * into a table, and a staged CTAS abort would delete it — and
    * everything under it.
    */
  private def requireCreatable(ident: Identifier, dir: String): Unit = {
    if (isTable(dir))
      throw new TableAlreadyExistsException(ident.namespace().toSeq :+ ident.name())
    require(!fs.exists(new Path(dir)) || fs.listStatus(new Path(dir)).isEmpty,
      s"cannot create table at $dir: the path is an existing non-table " +
        "directory (a namespace?)")
    // no table NESTED inside another table: `CREATE TABLE graft.db.t.x`
    // would land x's data under t's directory — t's maintenance, DROP,
    // and a staged-abort sweep would all reach into it, and t.x is the
    // metadata-table/branch identifier namespace
    val ancestors = ident.namespace().toSeq.inits.toSeq.init // every non-empty namespace prefix
    ancestors.foreach { ns =>
      val p = (warehouse +: ns.map(checkPart)).mkString("/")
      require(!isTable(p),
        s"cannot create table ${ident.namespace().mkString(".")}.${ident.name()}: " +
          s"'${ns.mkString(".")}' is a TABLE — tables cannot nest inside tables")
    }
  }

  // ---------------------------------------------------------------
  // tables
  // ---------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = new Path(nsDir(namespace))
    if (!fs.exists(d)) throw new NoSuchNamespaceException(namespace.toSeq)
    fs.listStatus(d).toSeq
      .filter(s => s.isDirectory && isTable(s.getPath.toString))
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    Snapshot.latestVersion(spark, dir) match {
      case Some(v) =>
        new SnapshotStreamTable(Snapshot.readManifest(spark, dir, v).schema, dir)
      case None =>
        // Iceberg-style METADATA TABLE: `SELECT * FROM graft.db.t.history`
        // resolves here with namespace [db, t] and name "history" — when
        // that namespace path IS a table, serve its commit log as a
        // driver-local scan (one manifest-sized read per version, zero
        // data I/O)
        val ns = ident.namespace()
        val metaNames = Set("history", "files", "changes", "detail", "partitions", "refs")
        if (metaNames.contains(ident.name()) && ns.nonEmpty) {
          val parent = (warehouse +: ns.toSeq.map(checkPart)).mkString("/")
          if (isTable(parent)) return {
            ident.name() match {
              case "history" => new SnapshotHistoryTable(parent)
              case "files" => new SnapshotFilesTable(parent)
              case "changes" => new SnapshotChangesTable(parent, None)
              case "detail" => new SnapshotDetailTable(parent)
              case "refs" => new SnapshotRefsTable(parent)
              case _ => new SnapshotPartitionsTable(parent)
            }
          }
        }
        // BRANCH table identifier: `graft.db.t.branch_<name>` is the
        // branch itself as a fully writable table (INSERT INTO / DELETE
        // FROM / SELECT run against the branch root, invisible on main
        // until CALL graft.system.fast_forward) — the write-audit-
        // publish surface in pure SQL
        if (ident.name().startsWith("branch_") && ns.nonEmpty) {
          val parent = (warehouse +: ns.toSeq.map(checkPart)).mkString("/")
          val bname = ident.name().stripPrefix("branch_")
          if (isTable(parent) && Snapshot.branches(spark, parent).contains(bname)) {
            val bdir = Snapshot.branchDir(parent, bname)
            val v = Snapshot.latestVersion(spark, bdir).getOrElse(
              throw new IllegalStateException(s"branch '$bname' at $parent has no version"))
            return new SnapshotStreamTable(
              Snapshot.readManifest(spark, bdir, v).schema, bdir)
          }
        }
        throw new NoSuchTableException(ident)
    }
  }

  /** `VERSION AS OF <v>` — the scan is PINNED to that manifest (its
    * file set, schema, and column mapping), immutable under any later
    * commit. A NON-numeric version resolves as a TAG name
    * ([[Snapshot.createTag]]): `VERSION AS OF 'pre_migration'`.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    // `… FROM graft.db.t.branch_<b> VERSION AS OF <v>` — time travel
    // WITHIN a branch (numeric versions of the branch's own chain)
    if (ident.name().startsWith("branch_") && ident.namespace().nonEmpty) {
      val parent = (warehouse +: ident.namespace().toSeq.map(checkPart)).mkString("/")
      val bname = ident.name().stripPrefix("branch_")
      if (isTable(parent) && Snapshot.branches(spark, parent).contains(bname)) {
        val bdir = Snapshot.branchDir(parent, bname)
        val bv = try version.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"branch time travel takes numeric versions of the branch chain, got '$version'")
        }
        require(Snapshot.versions(spark, bdir).contains(bv),
          s"no version $bv on branch '$bname' at $parent")
        return new SnapshotStreamTable(
          Snapshot.readManifest(spark, bdir, bv).schema, bdir, Some(bv))
      }
    }
    // `SELECT * FROM graft.db.t.changes VERSION AS OF <v|tag>` — the
    // pure-SQL incremental-consumer surface: everything that changed
    // SINCE version v (v → head). A tag resolves like everywhere else.
    if (ident.name() == "changes" && ident.namespace().nonEmpty) {
      val parent = (warehouse +: ident.namespace().toSeq.map(checkPart)).mkString("/")
      if (isTable(parent)) {
        val from = try version.toLong catch {
          case _: NumberFormatException =>
            Snapshot.tags(spark, parent).getOrElse(version,
              throw new IllegalArgumentException(
                s"graft changes VERSION AS OF: '$version' is neither a numeric " +
                  s"snapshot version nor a tag at $parent"))
        }
        require(Snapshot.versions(spark, parent).contains(from),
          s"no version $from at $parent (vacuumed or never committed)")
        return new SnapshotChangesTable(parent, Some(from))
      }
    }
    val dir = tableDir(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException =>
        Snapshot.tags(spark, dir).get(version) match {
          case Some(tv) => tv
          case None if Snapshot.branches(spark, dir).contains(version) =>
            // `VERSION AS OF '<branch>'`: read the branch HEAD, pinned —
            // the SQL audit surface of write-audit-publish
            val bdir = Snapshot.branchDir(dir, version)
            val bv = Snapshot.latestVersion(spark, bdir).getOrElse(
              throw new IllegalStateException(s"branch '$version' at $dir has no version"))
            return new SnapshotStreamTable(
              Snapshot.readManifest(spark, bdir, bv).schema, bdir, Some(bv))
          case None => throw new IllegalArgumentException(
            s"graft VERSION AS OF: '$version' is neither a numeric snapshot " +
              s"version, a tag, nor a branch at $dir")
        }
    }
    require(Snapshot.versions(spark, dir).contains(v),
      s"no version $v at $dir (vacuumed or never committed)")
    new SnapshotStreamTable(Snapshot.readManifest(spark, dir, v).schema, dir, Some(v))
  }

  /** `TIMESTAMP AS OF <ts>` — Spark hands MICROseconds since epoch. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tableDir(ident)
    val v = Snapshot.versionAtOrBefore(spark, dir, timestampMicros / 1000L)
    new SnapshotStreamTable(Snapshot.readManifest(spark, dir, v).schema, dir, Some(v))
  }

  /** PARTITIONED BY (identity transforms) + layout/stats TBLPROPERTIES
    * → the table's [[Snapshot.TableSpec]]. Identity partitioning is
    * FILE-LEVEL value clustering (writes shuffle by the partition
    * columns; the columns always carry min/max stats; partition
    * predicates prune as a special case of manifest-stats skipping) —
    * no directory-per-value layout to drift. Supported properties:
    * `graft.stats_cols` / `graft.bloom_cols` (comma-separated column
    * lists), `graft.bloom_bits` (bits per per-file bloom).
    */
  private def specFrom(schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Snapshot.TableSpec = {
    val partCols = partitions.toSeq.map { t =>
      if (t.name == "identity" && t.references.length == 1)
        t.references()(0).fieldNames().mkString(".")
      else throw new UnsupportedOperationException(
        s"graft tables support identity PARTITIONED BY only, got $t — " +
          "use optimize(clusterBy/zorderBy) for derived layouts")
    }
    val unknownPart = partCols.filterNot(schema.fieldNames.contains)
    require(unknownPart.isEmpty,
      s"PARTITIONED BY names unknown column(s): ${unknownPart.mkString(", ")}")
    def csv(key: String): Seq[String] = Option(properties.get(key))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val spec = Snapshot.TableSpec(
      partitionCols = partCols,
      statsCols = csv("graft.stats_cols"),
      bloomCols = csv("graft.bloom_cols"),
      bloomBits = Option(properties.get("graft.bloom_bits")).map(_.toInt)
        .getOrElse(Snapshot.DefaultBloomBits))
    // mirror setTableSpec's validation: a typo'd stats/bloom column at
    // DDL time must fail THERE (silently ignoring it means the user
    // believes blooms exist while nothing prunes), and a degenerate
    // bloom_bits must not pass DDL only to throw ArithmeticException
    // at the first INSERT's bit-position modulo
    val unknownStat = (spec.statsCols ++ spec.bloomCols)
      .filterNot(schema.fieldNames.contains).distinct
    require(unknownStat.isEmpty,
      s"graft.stats_cols/graft.bloom_cols name unknown column(s): ${unknownStat.mkString(", ")}")
    require(spec.bloomBits >= 64, s"graft.bloom_bits too small: ${spec.bloomBits} (need >= 64)")
    spec
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val dir = tableDir(ident)
    requireCreatable(ident, dir)
    // version 1 = the schema with zero rows; every later INSERT is an
    // O(batch) append version
    Snapshot.commit(spark, dir,
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      spec = Some(specFrom(schema, partitions, properties)))
    new SnapshotStreamTable(schema, dir)
  }

  /** CREATE TABLE with INLINE constraints (`CREATE TABLE t (…,
    * CONSTRAINT c CHECK (…))`): the TableCatalog default silently
    * DROPS TableInfo.constraints before delegating — override so a
    * declared constraint is either enforced or refused, never lost.
    */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    val table = createTable(ident, info.schema(), info.partitions(), info.properties())
    info.constraints().foreach {
      case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
        Snapshot.addConstraint(spark, tableDir(ident), ck.name(), ck.predicateSql())
      case other =>
        dropTable(ident) // never leave a half-created table behind a refusal
        throw new UnsupportedOperationException(
          s"graft tables support CHECK constraints only, got $other")
    }
    table
  }

  // ---------------------------------------------------------------
  // atomic CTAS / RTAS (StagingTableCatalog)
  // ---------------------------------------------------------------

  /** `CREATE TABLE … AS SELECT`: the SELECT's rows are STAGED as data
    * files with no manifest; only `commitStagedChanges` publishes
    * version 1 (through the single-winner primitive, so two racing
    * CTAS of one name produce one table). A failure anywhere —
    * mid-SELECT, mid-write — aborts to a state with NO table: no
    * `_versions/`, no directory, no namespace entry.
    */
  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    val dir = tableDir(ident)
    requireCreatable(ident, dir)
    new GraftStagedTable(ident, dir, schema,
      specFrom(schema, partitions, properties), replace = false)
  }

  /** `REPLACE TABLE … AS SELECT`: stages like CTAS, publishes ONE
    * full-replace version — the old table stays readable (and
    * time-travelable) until the commit instant; a failed RTAS leaves
    * it untouched. REPLACE re-DEFINES the table: constraints and
    * column mapping reset with the new definition.
    */
  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    new GraftStagedTable(ident, dir, schema,
      specFrom(schema, partitions, properties), replace = true)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): StagedTable = {
    val dir = tableDir(ident)
    val replace = isTable(dir)
    if (!replace) requireCreatable(ident, dir)
    new GraftStagedTable(ident, dir, schema,
      specFrom(schema, partitions, properties), replace = replace)
  }

  /** SQL ALTER TABLE routed to the METADATA-ONLY column-mapping
    * commits — rename/drop/add never rewrite a data file.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    changes.foreach {
      case c: TableChange.RenameColumn =>
        require(c.fieldNames().length == 1, "nested column rename is not supported")
        Snapshot.renameColumn(spark, dir, c.fieldNames()(0), c.newName())
      case c: TableChange.DeleteColumn =>
        require(c.fieldNames().length == 1, "nested column drop is not supported")
        Snapshot.dropColumn(spark, dir, c.fieldNames()(0))
      case c: TableChange.AddColumn =>
        require(c.fieldNames().length == 1, "nested column add is not supported")
        Snapshot.addColumn(spark, dir, c.fieldNames()(0), c.dataType().sql)
      // ALTER TABLE t ALTER COLUMN c TYPE <wider> — metadata-only type
      // widening; old files scan-widen, narrowing is refused loudly
      case c: TableChange.UpdateColumnType =>
        require(c.fieldNames().length == 1, "nested column type change is not supported")
        Snapshot.widenColumn(spark, dir, c.fieldNames()(0), c.newDataType().sql)
      // ALTER TABLE t ADD CONSTRAINT name CHECK (...) — routed to the
      // snapshot layer's versioned CHECK machinery: existing rows
      // validated once up front, every later commit gated O(commit)
      case c: TableChange.AddConstraint => c.constraint() match {
        case ck: org.apache.spark.sql.connector.catalog.constraints.Check =>
          Snapshot.addConstraint(spark, dir, ck.name(), ck.predicateSql())
        case other => throw new UnsupportedOperationException(
          s"graft tables support CHECK constraints only, got $other")
      }
      case c: TableChange.DropConstraint =>
        if (!c.ifExists() ||
            Snapshot.constraintsOf(spark, dir).contains(c.name()))
          Snapshot.dropConstraint(spark, dir, c.name())
      case other => throw new UnsupportedOperationException(
        s"graft catalog cannot apply $other — supported ALTERs: " +
          "RENAME COLUMN, DROP COLUMN, ADD COLUMN, ALTER COLUMN TYPE " +
          "(widening), ADD/DROP CONSTRAINT (all metadata-only)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    if (!isTable(dir)) false
    else fs.delete(new Path(dir), true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val from = tableDir(oldIdent)
    val to = tableDir(newIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    if (isTable(to)) throw new TableAlreadyExistsException(newIdent.namespace().toSeq :+ newIdent.name())
    fs.mkdirs(new Path(to).getParent)
    require(fs.rename(new Path(from), new Path(to)),
      s"rename $from -> $to failed")
  }

  // ---------------------------------------------------------------
  // stored procedures: CALL graft.system.<proc>(...)
  // ---------------------------------------------------------------

  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.types.{BooleanType, LongType, StringType => SqlStringType}
  import org.apache.spark.unsafe.types.UTF8String

  /** The MAINTENANCE verbs as SQL stored procedures — the Iceberg
    * `CALL` idiom, resolved through Spark's native ProcedureCatalog
    * binding (named args, typed defaults, result sets):
    *
    * {{{
    *   CALL graft.system.optimize(tbl => 'db.t', cluster_by => 'day')
    *   CALL graft.system.vacuum(tbl => 'db.t', keep_last => 2)            -- DRY RUN by default
    *   CALL graft.system.vacuum(tbl => 'db.t', dry_run => false)          -- actually deletes
    *   CALL graft.system.create_tag(tbl => 'db.t', tag => 'golden')
    *   CALL graft.system.restore(tbl => 'db.t', version => 3)
    *   CALL graft.system.clone(source => 'db.t', target => 'dev.t_copy')
    * }}}
    *
    * vacuum defaults to the DRY RUN (returning the reclaim report) —
    * the one byte-deleting verb should never destroy on a bare call.
    */
  private def tableDirOf(tableName: String): String =
    (warehouse +: tableName.split('.').toSeq.map(checkPart)).mkString("/")

  private def proc(pname: String, params: Seq[ProcedureParameter])(
      run: InternalRow => (StructType, Seq[Seq[Any]])): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = pname
      override def description(): String = s"graft maintenance procedure $pname"
      override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
        override def name(): String = pname
        override def description(): String = s"graft maintenance procedure $pname"
        override def parameters(): Array[ProcedureParameter] = params.toArray
        override def isDeterministic: Boolean = false
        override def call(input: InternalRow): java.util.Iterator[Scan] = {
          val (schema, out) = run(input)
          val scan: Scan = new LocalScan {
            override def readSchema(): StructType = schema
            override def rows(): Array[InternalRow] = out.map(vs =>
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                vs.toArray): InternalRow).toArray
          }
          java.util.Collections.singletonList(scan).iterator()
        }
      }
    }

  private def in(n: String, dt: org.apache.spark.sql.types.DataType,
      default: Option[String] = None): ProcedureParameter = {
    val b = ProcedureParameter.in(n, dt)
    default.foreach(b.defaultValue)
    b.build()
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftCatalog.ProcedureNames.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  override def loadProcedure(ident: Identifier): UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"graft procedures live under 'system': CALL $catalogName.system.<name>(...)")
    ident.name() match {
      case "optimize" => proc("optimize", Seq(
          in("tbl", SqlStringType),
          in("target_bytes", LongType, Some("134217728")),
          in("small_bytes", LongType, Some("33554432")),
          in("cluster_by", SqlStringType, Some("''")),
          in("min_files", LongType, Some("2")),
          in("zorder_by", SqlStringType, Some("''")),
          in("hilbert_by", SqlStringType, Some("''")))) { input =>
        val dir = tableDirOf(input.getUTF8String(0).toString)
        def pair(i: Int, what: String): Option[(String, String)] = {
          val cols = input.getUTF8String(i).toString
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq
          cols match {
            case Nil => None
            case Seq(a, b) => Some((a, b))
            case other => throw new IllegalArgumentException(
              s"$what needs exactly two columns, got: ${other.mkString(", ")}")
          }
        }
        val clusterBy = input.getUTF8String(3).toString
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val v = Snapshot.optimize(spark, dir,
          targetBytes = input.getLong(1), smallBytes = input.getLong(2),
          clusterBy = clusterBy, minFiles = input.getLong(4).toInt,
          zorderBy = pair(5, "zorder_by"), hilbertBy = pair(6, "hilbert_by"))
        (StructType.fromDDL("version BIGINT"),
          Seq(Seq(v.map(java.lang.Long.valueOf).orNull)))
      }
      case "vacuum" => proc("vacuum", Seq(
          in("tbl", SqlStringType),
          in("keep_last", LongType, Some("2")),
          in("dry_run", BooleanType, Some("true")))) { input =>
        val dir = tableDirOf(input.getUTF8String(0).toString)
        val keepLast = input.getLong(1).toInt
        if (input.getBoolean(2)) {
          val rep = Snapshot.vacuumReport(spark, dir, keepLast).collect()
          (StructType.fromDDL("version BIGINT, op STRING, kept BOOLEAN, " +
              "reclaimable_files BIGINT, reclaimable_bytes BIGINT"),
            rep.toSeq.map(r => Seq[Any](r.getLong(0),
              UTF8String.fromString(r.getString(1)), r.getBoolean(2),
              r.getLong(3), r.getLong(4))))
        } else {
          val n = Snapshot.vacuum(spark, dir, keepLast)
          (StructType.fromDDL("deleted_files BIGINT"), Seq(Seq(n.toLong)))
        }
      }
      case "create_tag" => proc("create_tag", Seq(
          in("tbl", SqlStringType),
          in("tag", SqlStringType),
          in("version", LongType, Some("CAST(NULL AS BIGINT)")))) { input =>
        val dir = tableDirOf(input.getUTF8String(0).toString)
        val ver = if (input.isNullAt(2)) None else Some(input.getLong(2))
        val v = Snapshot.createTag(spark, dir, input.getUTF8String(1).toString, ver)
        (StructType.fromDDL("version BIGINT"), Seq(Seq(v)))
      }
      case "delete_tag" => proc("delete_tag", Seq(
          in("tbl", SqlStringType), in("tag", SqlStringType))) { input =>
        val dir = tableDirOf(input.getUTF8String(0).toString)
        val deleted = Snapshot.deleteTag(spark, dir, input.getUTF8String(1).toString)
        (StructType.fromDDL("deleted BOOLEAN"), Seq(Seq(deleted)))
      }
      case "restore" => proc("restore", Seq(
          in("tbl", SqlStringType), in("version", LongType))) { input =>
        val dir = tableDirOf(input.getUTF8String(0).toString)
        val nv = Snapshot.restore(spark, dir, input.getLong(1))
        (StructType.fromDDL("restored_to BIGINT, new_version BIGINT"),
          Seq(Seq(input.getLong(1), nv)))
      }
      case "clone" => proc("clone", Seq(
          in("source", SqlStringType), in("target", SqlStringType))) { input =>
        val v = Snapshot.cloneShallow(spark,
          tableDirOf(input.getUTF8String(0).toString),
          tableDirOf(input.getUTF8String(1).toString))
        (StructType.fromDDL("version BIGINT"), Seq(Seq(v)))
      }
      case "create_branch" => proc("create_branch", Seq(
          in("tbl", SqlStringType),
          in("branch", SqlStringType),
          in("version", LongType, Some("CAST(NULL AS BIGINT)")))) { input =>
        val dir = tableDirOf(input.getUTF8String(0).toString)
        val ver = if (input.isNullAt(2)) None else Some(input.getLong(2))
        val fork = Snapshot.createBranch(spark, dir,
          input.getUTF8String(1).toString, ver)
        (StructType.fromDDL("fork_version BIGINT"), Seq(Seq(fork)))
      }
      case "fast_forward" => proc("fast_forward", Seq(
          in("tbl", SqlStringType),
          in("branch", SqlStringType),
          in("check", SqlStringType, Some("''")))) { input =>
        val dir = tableDirOf(input.getUTF8String(0).toString)
        val branch = input.getUTF8String(1).toString
        val check = input.getUTF8String(2).toString.trim
        // the AUDIT GATE in one call: a non-empty `check` predicate is
        // declared as a CHECK constraint ON THE BRANCH first —
        // addConstraint validates every branch row and refuses on any
        // violation, so a bad publish is structurally impossible; the
        // constraint then rides the fast-forward onto main and gates
        // every later write there
        if (check.nonEmpty)
          Snapshot.addConstraint(spark, Snapshot.branchDir(dir, branch),
            s"wap_${branch}_gate", check)
        val v = Snapshot.fastForward(spark, dir, branch)
        (StructType.fromDDL("version BIGINT"), Seq(Seq(v)))
      }
      case "delete_branch" => proc("delete_branch", Seq(
          in("tbl", SqlStringType), in("branch", SqlStringType))) { input =>
        val dir = tableDirOf(input.getUTF8String(0).toString)
        val deleted = Snapshot.deleteBranch(spark, dir,
          input.getUTF8String(1).toString)
        (StructType.fromDDL("deleted BOOLEAN"), Seq(Seq(deleted)))
      }
      case "remove_orphan_files" => proc("remove_orphan_files", Seq(
          in("tbl", SqlStringType),
          in("grace_hours", LongType, Some("24")),
          in("dry_run", BooleanType, Some("true")))) { input =>
        val dir = tableDirOf(input.getUTF8String(0).toString)
        val graceMs = input.getLong(1) * 3600L * 1000L
        if (input.getBoolean(2)) {
          // dry run (the default): crashed-writer debris made VISIBLE
          // before anything is destroyed
          val rep = Snapshot.orphanReport(spark, dir, graceMs).collect()
          (StructType.fromDDL("path STRING, bytes BIGINT, modified_ms BIGINT"),
            rep.toSeq.map(r => Seq[Any](UTF8String.fromString(r.getString(0)),
              r.getLong(1), r.getLong(2))))
        } else {
          val deleted = Snapshot.removeOrphans(spark, dir, graceMs)
          (StructType.fromDDL("deleted_path STRING"),
            deleted.map(p => Seq[Any](UTF8String.fromString(p))))
        }
      }
      case "set_spec" => proc("set_spec", Seq(
          in("tbl", SqlStringType),
          in("partition_cols", SqlStringType, Some("''")),
          in("stats_cols", SqlStringType, Some("''")),
          in("bloom_cols", SqlStringType, Some("''")),
          in("bloom_bits", LongType, Some(Snapshot.DefaultBloomBits.toString)))) { input =>
        def csv(i: Int): Seq[String] = input.getUTF8String(i).toString
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val v = Snapshot.setTableSpec(spark,
          tableDirOf(input.getUTF8String(0).toString),
          Snapshot.TableSpec(csv(1), csv(2), csv(3), input.getLong(4).toInt))
        (StructType.fromDDL("version BIGINT"), Seq(Seq(v)))
      }
      case other => throw new IllegalArgumentException(
        s"unknown graft procedure '$other' — available: " +
          GraftCatalog.ProcedureNames.mkString(", "))
    }
  }

  // ---------------------------------------------------------------
  // views (DSv2 ViewCatalog): CREATE/ALTER/DROP/SHOW VIEW as SQL
  // ---------------------------------------------------------------

  import org.apache.spark.sql.catalyst.analysis.{NoSuchViewException, ViewAlreadyExistsException}
  import org.apache.spark.sql.connector.catalog.{View, ViewChange, ViewInfo}

  /** A view named `ns….v` is one tiny JSON file at
    * `<warehouse>/ns…/_views/v.json` — the SQL text plus the context it
    * must re-resolve under (catalog, namespace, schema, column aliases/
    * comments, properties), the same definition record the DSv2 view
    * contract prescribes. The `_views` dir is invisible to table and
    * namespace listings (leading underscore), publish is the same
    * tmp-write + no-overwrite-rename single-winner protocol manifests
    * use, and a view can never shadow a TABLE of the same identifier
    * (refused at create). Metadata-only at any scale.
    */
  private def viewPath(ident: Identifier): Path =
    new Path(s"${nsDir(ident.namespace())}/_views/${checkPart(ident.name())}.json")

  private def readViewJson(p: Path): org.json4s.JValue = {
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    org.json4s.jackson.JsonMethods.parse(txt)
  }

  override def listViews(namespace: String*): Array[Identifier] = {
    val ns = namespace.toArray
    if (!fs.exists(new Path(nsDir(ns)))) throw new NoSuchNamespaceException(ns.toSeq)
    val d = new Path(s"${nsDir(ns)}/_views")
    if (!fs.exists(d)) Array.empty
    else fs.listStatus(d).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json") &&
        !s.getPath.getName.startsWith("."))
      .map(s => Identifier.of(ns, s.getPath.getName.stripSuffix(".json")))
      .toArray
  }

  override def viewExists(ident: Identifier): Boolean = fs.exists(viewPath(ident))

  override def loadView(ident: Identifier): View = {
    val p = viewPath(ident)
    if (!fs.exists(p)) throw new NoSuchViewException(ident)
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val j = readViewJson(p)
    def strs(field: String): Array[String] = (j \ field) match {
      case JArray(xs) => xs.map {
        case JString(x) => x
        case _ => null
      }.toArray
      case _ => Array.empty
    }
    val viewIdent = ident
    new View {
      override val name: String = (viewIdent.namespace() :+ viewIdent.name()).mkString(".")
      override val query: String = (j \ "sql").extract[String]
      override val currentCatalog: String = (j \ "current_catalog").extract[String]
      override val currentNamespace: Array[String] = strs("current_namespace")
      override val schema: StructType =
        org.apache.spark.sql.types.DataType.fromJson(
          (j \ "schema").extract[String]).asInstanceOf[StructType]
      override val queryColumnNames: Array[String] = strs("query_column_names")
      override val columnAliases: Array[String] = strs("column_aliases")
      override val columnComments: Array[String] = strs("column_comments")
      override val properties: util.Map[String, String] =
        (j \ "properties").extract[Map[String, String]].asJava
    }
  }

  private def writeView(ident: Identifier, sql: String, currentCatalog: String,
      currentNamespace: Array[String], schema: StructType,
      queryColumnNames: Array[String], columnAliases: Array[String],
      columnComments: Array[String], properties: Map[String, String],
      overwrite: Boolean): Unit = {
    import org.json4s._
    import org.json4s.JsonDSL._
    if (!fs.exists(new Path(nsDir(ident.namespace()))))
      throw new NoSuchNamespaceException(ident.namespace().toSeq)
    // a view must never shadow a table: reads would resolve the table,
    // DROP VIEW would leave it — refuse the ambiguity outright
    if (isTable(tableDir(ident)))
      throw new ViewAlreadyExistsException(ident)
    def arr(xs: Array[String]): JValue =
      JArray(Option(xs).getOrElse(Array.empty[String]).toList.map(x =>
        if (x == null) JNull else JString(x)))
    val json = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        ("sql" -> sql) ~
          ("current_catalog" -> currentCatalog) ~
          ("current_namespace" -> arr(currentNamespace)) ~
          ("schema" -> schema.json) ~
          ("query_column_names" -> arr(queryColumnNames)) ~
          ("column_aliases" -> arr(columnAliases)) ~
          ("column_comments" -> arr(columnComments)) ~
          ("properties" -> properties)))
    val target = viewPath(ident)
    fs.mkdirs(target.getParent)
    val tmp = new Path(target.getParent, s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    if (overwrite) fs.delete(target, false)
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      throw new ViewAlreadyExistsException(ident)
    }
  }

  override def createView(info: ViewInfo): View = {
    if (viewExists(info.ident()))
      throw new ViewAlreadyExistsException(info.ident())
    writeView(info.ident(), info.sql(), info.currentCatalog(),
      info.currentNamespace(), info.schema(), info.queryColumnNames(),
      info.columnAliases(), info.columnComments(),
      Option(info.properties()).map(_.asScala.toMap).getOrElse(Map.empty),
      overwrite = false)
    loadView(info.ident())
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    if (!viewExists(info.ident()) && !orCreate)
      throw new NoSuchViewException(info.ident())
    writeView(info.ident(), info.sql(), info.currentCatalog(),
      info.currentNamespace(), info.schema(), info.queryColumnNames(),
      info.columnAliases(), info.columnComments(),
      Option(info.properties()).map(_.asScala.toMap).getOrElse(Map.empty),
      overwrite = true)
    loadView(info.ident())
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val v = loadView(ident)
    val props = changes.foldLeft(v.properties().asScala.toMap) { (m, c) =>
      c match {
        case sp: ViewChange.SetProperty => m + (sp.property() -> sp.value())
        case rp: ViewChange.RemoveProperty => m - rp.property()
        case other => throw new IllegalArgumentException(
          s"unsupported view change: $other")
      }
    }
    writeView(ident, v.query(), v.currentCatalog(), v.currentNamespace(),
      v.schema(), v.queryColumnNames(), v.columnAliases(), v.columnComments(),
      props, overwrite = true)
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    fs.delete(viewPath(ident), false)

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!viewExists(oldIdent)) throw new NoSuchViewException(oldIdent)
    if (viewExists(newIdent) || isTable(tableDir(newIdent)))
      throw new ViewAlreadyExistsException(newIdent)
    fs.mkdirs(viewPath(newIdent).getParent)
    if (!fs.rename(viewPath(oldIdent), viewPath(newIdent)))
      throw new ViewAlreadyExistsException(newIdent)
  }

  // ---------------------------------------------------------------
  // namespaces (directories)
  // ---------------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_") &&
        !isTable(s.getPath.toString))
      .map(s => Array(s.getPath.getName)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val d = new Path(nsDir(namespace))
    if (!fs.exists(d)) throw new NoSuchNamespaceException(namespace.toSeq)
    fs.listStatus(d).toSeq
      .filter(s => s.isDirectory && !s.getPath.getName.startsWith("_") &&
        !isTable(s.getPath.toString))
      .map(s => namespace :+ s.getPath.getName).toArray
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!fs.exists(new Path(nsDir(namespace))))
      throw new NoSuchNamespaceException(namespace.toSeq)
    Map.empty[String, String].asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit =
    fs.mkdirs(new Path(nsDir(namespace)))

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val d = new Path(nsDir(namespace))
    if (!fs.exists(d)) false
    else {
      require(cascade || fs.listStatus(d).isEmpty,
        s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
      fs.delete(d, true)
    }
  }
}

private[sources] object GraftCatalog {
  val ProcedureNames: Seq[String] =
    Seq("optimize", "vacuum", "create_tag", "delete_tag", "restore", "clone",
      "set_spec", "remove_orphan_files", "create_branch", "fast_forward",
      "delete_branch")
}

/** The staged CTAS/RTAS table: collects the SELECT's rows as staged
  * (unreferenced) data files; `commitStagedChanges` is the ONLY
  * publish point; `abortStagedChanges` removes every staged byte —
  * and for a CREATE, the whole directory, leaving no table.
  */
private[sources] final class GraftStagedTable(ident: Identifier, dir: String,
    tableSchema: StructType, spec: Snapshot.TableSpec, replace: Boolean)
    extends StagedTable with SupportsWrite {

  private def spark = SparkSession.active

  /** Entries staged by the write; empty until insert runs. */
  @volatile private var staged: Seq[Snapshot.FileEntry] = Nil

  override def name(): String = s"graft-staged `$dir`"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.V1_BATCH_WRITE, TableCapability.BATCH_READ,
      TableCapability.TRUNCATE).asJava

  /** RTAS plans a truncating overwrite against the staged table;
    * truncate IS the replace semantics here (the staged rows become
    * the whole content), so it is accepted as a no-op flag.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                overwrite: Boolean): Unit = {
              // align to the declared schema positionally (CTAS output
              // names follow the SELECT; the table's names rule)
              val aligned = data.toDF(tableSchema.fieldNames.toIndexedSeq: _*)
              // staged bytes are invisible: nothing references them
              // until the publish wins
              staged = DataFiles.write(data.sparkSession, dir, aligned, spec = spec)
            }
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    val nullable = StructType(tableSchema.fields.map(_.copy(nullable = true)))
    try Snapshot.publishStaged(spark, dir, nullable.toDDL, staged, spec, replace)
    catch { case e: Throwable => abortStagedChanges(); throw e }
  }

  override def abortStagedChanges(): Unit = {
    val s = spark
    // always drop OUR staged bytes
    Snapshot.discardStaged(s, dir, staged)
    // a CREATE aborts to NO table — but only when no committed table
    // sits at the path AND nothing else lives there: if a RACING CTAS
    // won version 1 while we staged, deleting the directory would
    // destroy the winner's table, and if a racing CTAS is still
    // STAGING (no committed version yet either), a recursive delete
    // would silently remove its staged data files — its later publish
    // would then succeed (manifest publish never re-verifies file
    // existence) and produce a v1 manifest referencing deleted
    // parquet: a corrupt table. So the abort removes only what is
    // provably debris: directory trees holding NO files (our own
    // discardStaged above already emptied our commit dir).
    if (!replace && Snapshot.latestVersion(s, dir).isEmpty) {
      val f = new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)
      def fileless(p: Path): Boolean = {
        val ls = f.listStatus(p)
        ls.forall(st => st.isDirectory && fileless(st.getPath))
      }
      val root = new Path(dir)
      if (f.exists(root) && fileless(root)) f.delete(root, true)
    }
  }
}

/** `changes` metadata table — the CHANGE DATA FEED as SQL:
  *
  * {{{
  *   SELECT * FROM graft.db.t.changes                       -- last commit (head-1 → head)
  *   SELECT * FROM graft.db.t.changes VERSION AS OF 3       -- catch-up: v3 → head
  *   spark.read.option("from", 2).option("to", 5)
  *     .option("keys", "id").table("graft.db.t.changes")    -- explicit window
  * }}}
  *
  * Rows are the table's columns (to-side values; from-side for
  * removals) plus `change_type` ∈ added/removed/changed — the output
  * of [[Snapshot.changes]]' key-diff, so a consumer at version N
  * applies ONE diff to catch up instead of re-reading the table. The
  * diff keys default to the table's FIRST column (the conventional
  * graft key position) — pass `keys` (csv) when the key is composite
  * or elsewhere; a non-unique key column makes the full-outer diff
  * explode, which is the caller's contract exactly as in the library
  * call. Scale shape: ONE full-outer join between the two pinned
  * snapshots regardless of how many versions the window spans — never
  * a per-version replay — and the result is a fully DISTRIBUTED scan
  * (V1 relation bridge), never a driver collect.
  */
private[sources] final class SnapshotChangesTable(dir: String, fromDefault: Option[Long])
    extends Table with SupportsRead {

  private def spark = SparkSession.active

  override def name(): String = s"graft-changes `$dir`"
  override def schema(): StructType = {
    val v = fromDefault.orElse(Snapshot.latestVersion(spark, dir)).getOrElse(
      throw new IllegalStateException(s"no committed version at $dir"))
    Snapshot.readManifest(spark, dir, v).schema.add("change_type", "string")
  }
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val s = spark
    val vs = Snapshot.versions(s, dir)
    require(vs.nonEmpty, s"no committed version at $dir")
    val to = Option(options.get("to")).map(_.toLong).getOrElse(vs.last)
    val from = Option(options.get("from")).map(_.toLong)
      .orElse(fromDefault)
      .getOrElse(vs.takeRight(2).head) // one-commit window by default
    require(vs.contains(from) && vs.contains(to),
      s"changes window [$from, $to] must name retained versions of $dir " +
        s"(have ${vs.mkString(", ")})")
    require(from <= to, s"changes window is backwards: from=$from > to=$to")
    val headSchema = Snapshot.readManifest(s, dir, from).schema
    val keys = Option(options.get("keys"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq(headSchema.fieldNames.head))
    val unknown = keys.filterNot(headSchema.fieldNames.contains)
    require(unknown.isEmpty,
      s"changes keys name unknown column(s): ${unknown.mkString(", ")}")
    new ScanBuilder {
      override def build(): Scan =
        new org.apache.spark.sql.connector.read.V1Scan {
          private lazy val df = Snapshot.changes(s, dir, from, to, keys)
          override def readSchema(): StructType = df.schema
          override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
              with org.apache.spark.sql.sources.TableScan](
              context: org.apache.spark.sql.SQLContext): T =
            new org.apache.spark.sql.sources.BaseRelation
                with org.apache.spark.sql.sources.TableScan {
              override def sqlContext: org.apache.spark.sql.SQLContext = context
              override def schema: StructType = df.schema
              override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
                df.rdd
            }.asInstanceOf[T]
        }
    }
  }
}

/** `refs` metadata table: every named ref on the table —
  * `SELECT * FROM graft.db.t.refs` — tags (immutable version pins) and
  * branches (writable forks, with their current head). Driver-local
  * from the `_refs/` listing, zero data I/O.
  */
private[sources] final class SnapshotRefsTable(dir: String)
    extends Table with SupportsRead {

  private def spark = SparkSession.active

  private val refsSchema: StructType = StructType.fromDDL(
    "name STRING, type STRING, version BIGINT, head_version BIGINT")

  override def name(): String = s"graft-refs `$dir`"
  override def schema(): StructType = refsSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = refsSchema
        override def rows(): Array[InternalRow] = {
          import org.apache.spark.unsafe.types.UTF8String
          val s = spark
          val tagRows = Snapshot.tags(s, dir).toSeq.map { case (n, v) =>
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](UTF8String.fromString(n), UTF8String.fromString("tag"),
                v, null)): InternalRow
          }
          val branchRows = Snapshot.branches(s, dir).toSeq.map { case (n, fork) =>
            val head = Snapshot.latestVersion(s, Snapshot.branchDir(dir, n))
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](UTF8String.fromString(n), UTF8String.fromString("branch"),
                fork, head.map(java.lang.Long.valueOf).orNull)): InternalRow
          }
          (tagRows ++ branchRows).sortBy(_.getUTF8String(0).toString).toArray
        }
      }
    }
}

/** `files` metadata table: the LATEST version's file inventory —
  * `SELECT * FROM graft.db.t.files` — path, size, physical/live rows,
  * dv state, and the per-file min/max of every stats column as a
  * sorted-key JSON string; driver-local from the manifest, zero data
  * I/O. The debugging/ops surface behind every skipping question
  * ("why didn't my predicate prune?" — look at the ranges).
  */
private[sources] final class SnapshotFilesTable(dir: String)
    extends Table with SupportsRead {

  private def spark = SparkSession.active

  private val filesSchema: StructType = StructType.fromDDL(
    "path STRING, bytes BIGINT, rows BIGINT, live_rows BIGINT, " +
      "has_dv BOOLEAN, stats STRING")

  override def name(): String = s"graft-files `$dir`"
  override def schema(): StructType = filesSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = filesSchema
        override def rows(): Array[InternalRow] = {
          import org.apache.spark.unsafe.types.UTF8String
          val s = spark
          val v = Snapshot.latestVersion(s, dir).getOrElse(
            throw new IllegalStateException(s"no committed version at $dir"))
          // min/max are user data (string column values can hold quotes,
          // backslashes, control chars) — render through the JSON
          // library, never by concatenation, or the stats column emits
          // malformed JSON for exactly the values worth inspecting
          def jstr(x: String): String = org.json4s.jackson.JsonMethods.compact(
            org.json4s.jackson.JsonMethods.render(org.json4s.JString(x)))
          Snapshot.readManifest(s, dir, v).files.map { e =>
            val stats = e.stats.toSeq.sortBy(_._1).map { case (c, cs) =>
              s"${jstr(c)}:{\"min\":${cs.min.map(jstr).getOrElse("null")}," +
                s"\"max\":${cs.max.map(jstr).getOrElse("null")}," +
                s"\"nulls\":${cs.nulls}}"
            }.mkString("{", ",", "}")
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](
                UTF8String.fromString(e.path),
                e.bytes,
                e.rows,
                e.rows - e.dv.map(_.deleted).getOrElse(0L),
                e.dv.isDefined,
                UTF8String.fromString(stats)))
          }.toArray
        }
      }
    }
}

/** `detail` metadata table — the DESCRIBE DETAIL surface:
  * `SELECT * FROM graft.db.t.detail` — ONE row summarizing the latest
  * version (version, op, commit ts, schema DDL, layout spec, file/
  * row/byte totals, dv state, constraint count, tags, branches).
  * Driver-local from the manifest + refs: zero data I/O at any scale.
  */
private[sources] final class SnapshotDetailTable(dir: String)
    extends Table with SupportsRead {

  private def spark = SparkSession.active

  private val detailSchema: StructType = StructType.fromDDL(
    "version BIGINT, op STRING, ts_ms BIGINT, schema_ddl STRING, " +
      "partition_cols STRING, stats_cols STRING, bloom_cols STRING, " +
      "num_files BIGINT, total_rows BIGINT, live_rows BIGINT, " +
      "total_bytes BIGINT, files_with_dv BIGINT, num_constraints BIGINT, " +
      "num_tags BIGINT, num_branches BIGINT")

  override def name(): String = s"graft-detail `$dir`"
  override def schema(): StructType = detailSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = detailSchema
        override def rows(): Array[InternalRow] = {
          import org.apache.spark.unsafe.types.UTF8String
          val s = spark
          val v = Snapshot.latestVersion(s, dir).getOrElse(
            throw new IllegalStateException(s"no committed version at $dir"))
          val m = Snapshot.readManifest(s, dir, v)
          def csv(xs: Seq[String]) = UTF8String.fromString(xs.mkString(","))
          Array(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](
              m.version, UTF8String.fromString(m.op), m.tsMs,
              UTF8String.fromString(m.schemaDdl),
              csv(m.spec.partitionCols), csv(m.spec.statsCols), csv(m.spec.bloomCols),
              m.files.size.toLong,
              m.files.map(_.rows).sum,
              m.files.map(e => e.rows - e.dv.map(_.deleted).getOrElse(0L)).sum,
              m.files.map(_.bytes).sum,
              m.files.count(_.dv.isDefined).toLong,
              m.constraints.size.toLong,
              Snapshot.tags(s, dir).size.toLong,
              Snapshot.branches(s, dir).size.toLong)))
        }
      }
    }
}

/** `partitions` metadata table — per-partition-value census for
  * identity-partitioned tables, straight from manifest stats (writes
  * shuffle by the partition columns, so each file carries ONE value
  * per partition column: min == max). Zero data I/O: the answer to
  * "how big is each partition?" is a driver-side manifest fold even
  * at an 800k-file table. Files written before the partition spec (or
  * by non-clustering writers) can span values — they report as one
  * `min..max` range row with `mixed = true` instead of lying.
  */
private[sources] final class SnapshotPartitionsTable(dir: String)
    extends Table with SupportsRead {

  private def spark = SparkSession.active

  private val partSchema: StructType = StructType.fromDDL(
    "partition STRING, num_files BIGINT, total_rows BIGINT, " +
      "live_rows BIGINT, total_bytes BIGINT, mixed BOOLEAN")

  override def name(): String = s"graft-partitions `$dir`"
  override def schema(): StructType = partSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = partSchema
        override def rows(): Array[InternalRow] = {
          import org.apache.spark.unsafe.types.UTF8String
          val s = spark
          val v = Snapshot.latestVersion(s, dir).getOrElse(
            throw new IllegalStateException(s"no committed version at $dir"))
          val m = Snapshot.readManifest(s, dir, v)
          require(m.spec.partitionCols.nonEmpty,
            s"table at $dir is not partitioned — `partitions` needs PARTITIONED BY")
          // physical stat keys: partition cols may have been renamed
          val phys = m.spec.partitionCols.map(c => m.mapping.getOrElse(c, c))
          // zero-row files (the CREATE's empty v1 seed) hold no
          // partition data and would otherwise surface as a phantom
          // "col=?" row
          val byValue = m.files.filter(_.rows > 0L).groupBy { e =>
            phys.map { c =>
              val st = e.stats.get(c)
              val mn = st.flatMap(_.min); val mx = st.flatMap(_.max)
              (mn, mx) match {
                case (Some(a), Some(b)) if a == b => (a, false)
                case (Some(a), Some(b)) => (s"$a..$b", true)
                case _ => ("?", true)
              }
            }
          }
          byValue.toSeq.map { case (key, fs) =>
            val label = m.spec.partitionCols.zip(key.map(_._1))
              .map { case (c, vl) => s"$c=$vl" }.mkString("/")
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](
                UTF8String.fromString(label),
                fs.size.toLong,
                fs.map(_.rows).sum,
                fs.map(e => e.rows - e.dv.map(_.deleted).getOrElse(0L)).sum,
                fs.map(_.bytes).sum,
                key.exists(_._2))): InternalRow
          }.sortBy(_.getUTF8String(0).toString).toArray
        }
      }
    }
}

/** Iceberg-style `history` metadata table: the commit log of a
  * snapshot table as a queryable relation —
  * `SELECT * FROM graft.db.t.history` — resolved entirely on the
  * driver from manifests ([[LocalScan]]): zero executors, zero data
  * I/O, O(versions) manifest-sized reads. Metrics ride as a
  * deterministic sorted-key JSON string so any commit shape fits one
  * schema.
  */
private[sources] final class SnapshotHistoryTable(dir: String)
    extends Table with SupportsRead {

  private def spark = SparkSession.active

  private val historySchema: StructType = StructType.fromDDL(
    "version BIGINT, op STRING, n_files BIGINT, n_rows BIGINT, " +
      "size_bytes BIGINT, batch_id BIGINT, metrics STRING")

  override def name(): String = s"graft-history `$dir`"
  override def schema(): StructType = historySchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def readSchema(): StructType = historySchema
        override def rows(): Array[InternalRow] = {
          import org.apache.spark.unsafe.types.UTF8String
          val s = spark
          Snapshot.versions(s, dir).map { v =>
            val m = Snapshot.readManifest(s, dir, v)
            val metricsJson = m.metrics.toSeq.sortBy(_._1)
              .map { case (k, n) => s""""$k":$n""" }.mkString("{", ",", "}")
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](
                m.version,
                UTF8String.fromString(m.op),
                m.files.size.toLong,
                // LIVE rows: physical rows minus dv-masked positions —
                // what a reader of this version actually sees
                m.files.map(e => e.rows - e.dv.map(_.deleted).getOrElse(0L)).sum,
                m.files.map(_.bytes).sum,
                m.batchId.map(java.lang.Long.valueOf).orNull,
                UTF8String.fromString(metricsJson)))
          }.toArray
        }
      }
    }
}
