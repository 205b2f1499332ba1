package graft

import java.nio.file.Files

import graft.sources.Snapshot
import org.apache.spark.sql.functions._

/** The pure-SQL surface of the snapshot table layer: a DSv2
  * TableCatalog (`graft.sources.GraftCatalog`) registered at runtime,
  * driven entirely through `spark.sql`.
  */
class GraftCatalogSpec extends SparkSpec {

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft-warehouse").toString
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.warehouse", w)
    w
  }

  test("CREATE TABLE / INSERT INTO / SELECT / VERSION AS OF / INSERT OVERWRITE / DROP TABLE — all through SQL") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.t (id BIGINT, name STRING, bal DOUBLE)")
    spark.sql("INSERT INTO graft.db.t VALUES (1, 'a', 10.0), (2, 'b', 20.0)")
    spark.sql("INSERT INTO graft.db.t VALUES (3, 'c', 30.0)")
    assert(spark.sql("SELECT count(*) FROM graft.db.t").collect()(0).getLong(0) == 3L)
    assert(spark.sql("SELECT sum(bal) FROM graft.db.t").collect()(0).getDouble(0) == 60.0)
    // every INSERT was one append version: v1 empty, v2 two rows, v3 three
    assert(spark.sql("SELECT count(*) FROM graft.db.t VERSION AS OF 1")
      .collect()(0).getLong(0) == 0L)
    assert(spark.sql("SELECT count(*) FROM graft.db.t VERSION AS OF 2")
      .collect()(0).getLong(0) == 2L)
    // INSERT OVERWRITE = a full-replace version; history stays readable
    spark.sql("INSERT OVERWRITE graft.db.t VALUES (9, 'z', 90.0)")
    assert(spark.sql("SELECT count(*) FROM graft.db.t").collect()(0).getLong(0) == 1L)
    assert(spark.sql("SELECT count(*) FROM graft.db.t VERSION AS OF 3")
      .collect()(0).getLong(0) == 3L)
    // listTables sees it; DROP removes it
    assert(spark.sql("SHOW TABLES IN graft.db").collect().map(_.getString(1)).contains("t"))
    spark.sql("DROP TABLE graft.db.t")
    assert(!spark.sql("SHOW TABLES IN graft.db").collect().map(_.getString(1)).contains("t"))
  }

  test("ALTER TABLE RENAME/DROP/ADD COLUMN are metadata-only commits through SQL; time travel reads each era's names") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.alt (id BIGINT, score DOUBLE, note STRING)")
    spark.sql("INSERT INTO graft.db.alt VALUES (1, 1.5, 'n1'), (2, 2.5, 'n2')")
    val dir = s"$warehouse/db/alt"
    val filesBefore = Snapshot.history(spark, dir).count()
    spark.sql("ALTER TABLE graft.db.alt RENAME COLUMN score TO points")
    spark.sql("ALTER TABLE graft.db.alt DROP COLUMN note")
    spark.sql("ALTER TABLE graft.db.alt ADD COLUMN note STRING")
    assert(spark.sql("SELECT * FROM graft.db.alt").columns.toSeq ==
      Seq("id", "points", "note"))
    // renamed column reads old bytes; re-added note is EMPTY (fresh slot)
    assert(spark.sql("SELECT sum(points) FROM graft.db.alt")
      .collect()(0).getDouble(0) == 4.0)
    assert(spark.sql("SELECT count(note) FROM graft.db.alt")
      .collect()(0).getLong(0) == 0L)
    // pre-alter version still answers under its own names
    assert(spark.sql("SELECT count(note) FROM graft.db.alt VERSION AS OF 2")
      .collect()(0).getLong(0) == 2L)
    // and the three ALTERs moved zero data files
    val m = Snapshot.columnMappingOf(spark, dir)
    assert(m("points") == "score" && m("note") != "note")
    assert(Snapshot.history(spark, dir).count() == filesBefore + 3)
  }

  test("ALTER COLUMN TYPE widening is metadata-only: old INT/DECIMAL files scan-widen beside new wide files; narrowing is refused") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.wide (id INT, qty INT, rev DECIMAL(8,2))")
    spark.sql("INSERT INTO graft.db.wide VALUES (1, 100, 123.45), (2, 200, 999999.99)")
    val dir = s"$warehouse/db/wide"
    val filesBefore = Snapshot.filesForTest(spark, dir,
      Snapshot.latestVersion(spark, dir).get).map(_._1).toSet
    // the long-lived-fact-table evolution: id outgrows INT, rev outgrows
    // DECIMAL(8,2) — both metadata-only commits
    spark.sql("ALTER TABLE graft.db.wide ALTER COLUMN id TYPE BIGINT")
    spark.sql("ALTER TABLE graft.db.wide ALTER COLUMN rev TYPE DECIMAL(14,2)")
    assert(Snapshot.filesForTest(spark, dir,
      Snapshot.latestVersion(spark, dir).get).map(_._1).toSet == filesBefore,
      "widening must not touch a data file")
    // values impossible under the old types land beside the old files
    spark.sql("INSERT INTO graft.db.wide VALUES " +
      "(3000000000, 300, 123456789012.34)")
    val r = spark.sql("SELECT sum(id) AS ids, sum(qty) AS q, sum(rev) AS s " +
      "FROM graft.db.wide").collect()(0)
    assert(r.getLong(0) == 3000000003L)
    assert(r.getLong(1) == 600L)
    assert(r.getDecimal(2).toPlainString == "123457789135.78")
    // schema reads wide; a narrow-era point lookup still prunes + answers
    assert(spark.table("graft.db.wide").schema("id").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(spark.sql("SELECT rev FROM graft.db.wide WHERE id = 2")
      .collect()(0).getDecimal(0).toPlainString == "999999.99")
    // time travel reads the pre-widen era under its own narrow schema
    assert(spark.sql("SELECT * FROM graft.db.wide VERSION AS OF 2")
      .schema("id").dataType == org.apache.spark.sql.types.IntegerType)
    // narrowing / cross-family / scale changes refuse loudly
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.wide ALTER COLUMN id TYPE INT")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.wide ALTER COLUMN qty TYPE STRING")
    }
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.wide ALTER COLUMN rev TYPE DECIMAL(20,4)")
    }
  }

  test("INSERT INTO after a rename writes through the mapping; pushed filters still prune the SQL scan") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.p (id BIGINT, v DOUBLE)")
    import spark.implicits._
    (1L to 50L).map(i => (i, i.toDouble)).toDF("id", "v")
      .repartitionByRange(2, col("id"))
      .createOrReplaceTempView("src50")
    spark.sql("INSERT INTO graft.db.p SELECT * FROM src50")
    spark.sql("ALTER TABLE graft.db.p RENAME COLUMN v TO value")
    spark.sql("INSERT INTO graft.db.p VALUES (51, 51.0)")
    assert(spark.sql("SELECT sum(value) FROM graft.db.p")
      .collect()(0).getDouble(0) == (1 to 51).map(_.toDouble).sum)
    // point predicate on a stats-disjoint layout prunes planned partitions
    val pruned = spark.sql("SELECT value FROM graft.db.p WHERE id = 51")
    assert(pruned.collect().map(_.getDouble(0)).toSeq == Seq(51.0))
    assert(pruned.rdd.getNumPartitions <= 2,
      s"expected <=2 planned partitions, got ${pruned.rdd.getNumPartitions}")
  }

  test("TIMESTAMP AS OF through SQL resolves the era's version") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.ts (id BIGINT)")
    spark.sql("INSERT INTO graft.db.ts VALUES (1)")
    val t = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(5)
    spark.sql("INSERT INTO graft.db.ts VALUES (2)")
    assert(spark.sql(s"SELECT count(*) FROM graft.db.ts TIMESTAMP AS OF '$t'")
      .collect()(0).getLong(0) == 1L)
  }

  test("SQL DELETE FROM is merge-on-read: zero files rewritten, history time-travels, bare DELETE empties metadata-only") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.del (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.db.del SELECT id, CAST(id AS DOUBLE) FROM range(1, 101)")
    val dir = s"$warehouse/db/del"
    def files(ver: Long): Set[String] =
      Snapshot.filesForTest(spark, dir, ver).map(_._1).toSet
    spark.sql("DELETE FROM graft.db.del WHERE id <= 20 AND v > 5.0")    // v3
    assert(spark.sql("SELECT count(*) FROM graft.db.del").collect()(0).getLong(0) == 85L)
    assert(files(2L) == files(3L), "SQL DELETE must not rewrite a data file (merge-on-read)")
    assert(spark.sql("SELECT count(*) FROM graft.db.del VERSION AS OF 2")
      .collect()(0).getLong(0) == 100L)
    // bare DELETE FROM: every row-bearing file fully dead → dropped
    // metadata-only (CREATE TABLE's zero-row part file may remain —
    // it holds nothing to delete)
    spark.sql("DELETE FROM graft.db.del")                                // v4
    assert(spark.sql("SELECT count(*) FROM graft.db.del").collect()(0).getLong(0) == 0L)
    assert(files(4L).subsetOf(files(1L)),
      "bare DELETE must drop every row-bearing file from the manifest")
  }

  test("DataFrameWriterV2: writeTo(...).append() / overwrite commit append and replace versions") {
    warehouse
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.w2 (id BIGINT, v DOUBLE)")
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v").writeTo("graft.db.w2").append()
    Seq((3L, 3.0)).toDF("id", "v").writeTo("graft.db.w2").append()
    assert(spark.table("graft.db.w2").count() == 3L)
    Seq((9L, 9.0)).toDF("id", "v").writeTo("graft.db.w2")
      .overwrite(org.apache.spark.sql.functions.lit(true))
    assert(spark.table("graft.db.w2").count() == 1L)
    // every write was a version; appends time-travel
    assert(spark.sql("SELECT count(*) FROM graft.db.w2 VERSION AS OF 3")
      .collect()(0).getLong(0) == 3L)
    val ops = Snapshot.history(spark, s"$warehouse/db/w2").collect()
      .map(_.getString(1)).toSeq
    assert(ops == Seq("init", "append", "append", "replace"))
  }

  test("CBO sees manifest sizes: a small catalog table auto-broadcasts in a join (sizeInBytes from metadata, no file I/O)") {
    warehouse
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.dim (k BIGINT, name STRING)")
    spark.sql("INSERT INTO graft.db.dim SELECT id, 'n' || id FROM range(0, 100)")
    val fact = (0L until 10000L).map(i => (i, i % 100)).toDF("row", "k")
    val joined = fact.join(spark.table("graft.db.dim"), "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small snapshot table should broadcast from manifest stats:\n$plan")
    assert(joined.count() == 10000L)
  }

  test("table maintenance composes: a deleteWhere'd catalog table reads dv-filtered through SQL") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.d (id BIGINT, v DOUBLE)")
    import spark.implicits._
    spark.sql("INSERT INTO graft.db.d SELECT id, CAST(id AS DOUBLE) FROM range(1, 101)")
    Snapshot.deleteWhere(spark, s"$warehouse/db/d", col("id") <= 10L)
    assert(spark.sql("SELECT count(*) FROM graft.db.d").collect()(0).getLong(0) == 90L)
    assert(spark.sql("SELECT min(id) FROM graft.db.d").collect()(0).getLong(0) == 11L)
  }

  // ---------------------------------------------------------------
  // row-level SQL: UPDATE / MERGE INTO / rewrite DELETE
  // ---------------------------------------------------------------

  test("SQL UPDATE rewrites through the row-level path: values change, history records an update version, time travel intact") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.u (id BIGINT, name STRING, bal DOUBLE)")
    spark.sql("INSERT INTO graft.db.u VALUES (1, 'a', 10.0), (2, 'b', 20.0), (3, 'c', 30.0)")
    spark.sql("UPDATE graft.db.u SET bal = bal * 2, name = concat(name, '!') WHERE id <= 2")
    val rows = spark.sql("SELECT id, name, bal FROM graft.db.u ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, "a!", 20.0), (2L, "b!", 40.0), (3L, "c", 30.0)))
    val dir = s"$warehouse/db/u"
    val ops = Snapshot.history(spark, dir).orderBy(col("version"))
      .collect().map(_.getString(1)).toSeq
    assert(ops == Seq("init", "append", "update"))
    // pre-update version reads the old values
    assert(spark.sql("SELECT sum(bal) FROM graft.db.u VERSION AS OF 2")
      .collect()(0).getDouble(0) == 60.0)
  }

  test("SQL UPDATE rewrites files under the table's stats and bloom spec") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    // c17 sits past the first-16 stats default; only the spec names it
    val cols = (1 to 17).map(i => s"c$i INT").mkString(", ")
    spark.sql(s"CREATE TABLE graft.db.uspec (k BIGINT, $cols) " +
      "TBLPROPERTIES ('graft.bloom_cols'='k', 'graft.stats_cols'='k,c17')")
    val vals = (1 to 17).mkString(", ")
    spark.sql(s"INSERT INTO graft.db.uspec VALUES (1, $vals), (2, $vals)")
    spark.sql("UPDATE graft.db.uspec SET c1 = 100 WHERE k = 1")
    val dir = s"$warehouse/db/uspec"
    val v = Snapshot.versions(spark, dir).max
    assert(Snapshot.history(spark, dir).collect().last.getString(1) == "update")
    val added = graft.sources.EntriesForTest.added(spark, dir, v)
    assert(added.nonEmpty)
    added.foreach { case (path, stats, blooms) =>
      assert(stats == Set("k", "c17"), s"$path stats keys $stats")
      assert(blooms == Set("k"), s"$path bloom keys $blooms")
    }
  }

  test("SQL UPDATE with a subquery condition — the planner shape no predicate API expresses") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.u2 (id BIGINT, grp STRING, bal DOUBLE)")
    spark.sql("INSERT INTO graft.db.u2 VALUES (1, 'x', 5.0), (2, 'x', 50.0), (3, 'y', 7.0), (4, 'y', 70.0)")
    // bump every row whose balance is below its group's average
    spark.sql("""UPDATE graft.db.u2 SET bal = bal + 100 WHERE bal < (
      SELECT avg(bal) FROM graft.db.u2 VERSION AS OF 2)""")
    val bals = spark.sql("SELECT id, bal FROM graft.db.u2 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(bals == Seq((1L, 105.0), (2L, 50.0), (3L, 107.0), (4L, 70.0)))
  }

  test("SQL MERGE INTO: matched update + not-matched insert through the row-level path") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.m (id BIGINT, name STRING, bal DOUBLE)")
    spark.sql("INSERT INTO graft.db.m VALUES (1, 'a', 10.0), (2, 'b', 20.0)")
    spark.sql("""
      MERGE INTO graft.db.m t
      USING (SELECT * FROM VALUES (2, 'B', 200.0), (3, 'C', 300.0) AS s(id, name, bal)) s
      ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""")
    val rows = spark.sql("SELECT id, name, bal FROM graft.db.m ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(rows == Seq((1L, "a", 10.0), (2L, "B", 200.0), (3L, "C", 300.0)))
    val ops = Snapshot.history(spark, s"$warehouse/db/m").orderBy(col("version"))
      .collect().map(_.getString(1)).toSeq
    assert(ops == Seq("init", "append", "merge"))
  }

  test("SQL DELETE with an untranslatable predicate falls back to the row-level rewrite; translatable stays merge-on-read") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.rd (id BIGINT, bal DOUBLE)")
    spark.sql("INSERT INTO graft.db.rd SELECT id, CAST(id AS DOUBLE) FROM range(1, 31)")
    // modulo is not a v1 filter → canDeleteWhere = false → rewrite path
    spark.sql("DELETE FROM graft.db.rd WHERE id % 3 = 0")
    assert(spark.sql("SELECT count(*) FROM graft.db.rd").collect()(0).getLong(0) == 20L)
    assert(spark.sql("SELECT count(*) FROM graft.db.rd WHERE id % 3 = 0")
      .collect()(0).getLong(0) == 0L)
    val dir = s"$warehouse/db/rd"
    val hist = Snapshot.history(spark, dir).orderBy(col("version"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hist.last._2 == "delete")
    // a translatable predicate must still short-circuit to the dv path:
    // the file set of the new version is IDENTICAL (merge-on-read)
    val before = Snapshot.filesForTest(spark, dir, hist.last._1).map(_._1).toSet
    spark.sql("DELETE FROM graft.db.rd WHERE id <= 5")
    val vNow = Snapshot.versions(spark, dir).max
    val after = Snapshot.filesForTest(spark, dir, vNow).map(_._1).toSet
    assert(after == before, "translatable SQL DELETE must stay merge-on-read (dv), not rewrite")
    assert(spark.sql("SELECT count(*) FROM graft.db.rd").collect()(0).getLong(0) == 16L)
  }

  test("SQL UPDATE is FILE-GRANULAR via runtime group filtering: untouched files carry by reference") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.ug (id BIGINT, bal DOUBLE)")
    // two range-disjoint files via the library API (SQL INSERT would
    // write one file per task anyway; range layout makes it explicit)
    import spark.implicits._
    val dir = s"$warehouse/db/ug"
    Snapshot.append(spark, dir,
      (1L to 40L).map(i => (i, i.toDouble)).toDF("id", "bal")
        .repartitionByRange(2, col("id")))                      // files [1,20], [21,40]
    // v2 = CREATE's empty init file (if any) + the two range files
    val v2Files = Snapshot.filesForTest(spark, dir, 2L).map(_._1).toSet
    spark.sql("UPDATE graft.db.ug SET bal = bal + 1000 WHERE id <= 10")
    val v3 = Snapshot.versions(spark, dir).max
    val v3Files = Snapshot.filesForTest(spark, dir, v3).map(_._1).toSet
    // exactly ONE file (the low range) was rewritten; everything else
    // carried BY REFERENCE
    assert(v3Files.intersect(v2Files).size == v2Files.size - 1,
      s"expected exactly one replaced file, v2=$v2Files v3=$v3Files")
    // values correct on both sides of the boundary
    assert(spark.sql("SELECT sum(bal) FROM graft.db.ug").collect()(0).getDouble(0) ==
      (1 to 40).map(_.toDouble).sum + 10 * 1000.0)
    // metrics record the narrowed rewrite
    val met = Snapshot.history(spark, dir).where(col("version") === v3)
      .select(col("metrics")).collect()(0).getMap[String, Long](0)
    assert(met("files_rewritten") == 1L, s"expected 1 rewritten, got $met")
  }

  test("SELECT _file metadata column works directly") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.mf (id BIGINT)")
    spark.sql("INSERT INTO graft.db.mf VALUES (1), (2)")
    spark.sql("INSERT INTO graft.db.mf VALUES (3)")
    val byFile = spark.sql("SELECT _file, count(*) AS n FROM graft.db.mf GROUP BY _file")
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(byFile.values.sum == 3L)
    assert(byFile.keys.forall(_.startsWith("data/")), s"got ${byFile.keys}")
  }

  test("SQL UPDATE on a dv'd table: deleted rows neither update nor resurrect; the rewrite purges the dv") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.udv (id BIGINT, bal DOUBLE)")
    spark.sql("INSERT INTO graft.db.udv SELECT id, CAST(id AS DOUBLE) FROM range(1, 11)")
    val dir = s"$warehouse/db/udv"
    Snapshot.deleteWhere(spark, dir, col("id") <= 3L)       // dv {1,2,3}
    // predicate covers dead rows AND live ones
    spark.sql("UPDATE graft.db.udv SET bal = bal + 100 WHERE id <= 5")
    val rows = spark.sql("SELECT id, bal FROM graft.db.udv ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows == (4L to 10L).map(i =>
      (i, if (i <= 5) i + 100.0 else i.toDouble)),
      s"dead rows must stay dead and live ones update: $rows")
    // the rewritten version carries no deletion vector
    val v = Snapshot.versions(spark, dir).max
    assert(Snapshot.filesForTest(spark, dir, v).forall(_._2.isEmpty),
      "row-level rewrite must materialize the dv away")
  }

  test("SQL UPDATE and MERGE with a DELETE clause work through a RENAMED column") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.urn (id BIGINT, amount DOUBLE)")
    spark.sql("INSERT INTO graft.db.urn VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    spark.sql("ALTER TABLE graft.db.urn RENAME COLUMN amount TO total")
    // UPDATE through the renamed logical name (files carry the OLD
    // physical name — the write must translate)
    spark.sql("UPDATE graft.db.urn SET total = total * 2 WHERE id = 1")
    // MERGE with a DELETE clause
    spark.sql("""MERGE INTO graft.db.urn t
      USING (SELECT * FROM VALUES (2), (3) AS s(id)) s ON t.id = s.id
      WHEN MATCHED AND t.total > 25.0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET total = 0.0""")
    val rows = spark.sql("SELECT id, total FROM graft.db.urn ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows == Seq((1L, 20.0), (2L, 0.0)),
      s"expected id 3 deleted, id 2 zeroed, id 1 doubled: $rows")
    // pre-rename era still reads the OLD name
    assert(spark.sql("SELECT sum(amount) FROM graft.db.urn VERSION AS OF 2")
      .collect()(0).getDouble(0) == 60.0)
  }

  test("a zero-match SQL UPDATE mints NO version (cron-safe convergence, like the library writers)") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.zm (id BIGINT, bal DOUBLE)")
    spark.sql("INSERT INTO graft.db.zm VALUES (1, 10.0), (2, 20.0)")
    val dir = s"$warehouse/db/zm"
    val before = Snapshot.versions(spark, dir).max
    spark.sql("UPDATE graft.db.zm SET bal = 0.0 WHERE id = 999")
    assert(Snapshot.versions(spark, dir).max == before,
      "no-op UPDATE must not grow version history")
    assert(spark.sql("SELECT sum(bal) FROM graft.db.zm").collect()(0).getDouble(0) == 30.0)
  }

  test("SHOW TBLPROPERTIES exposes version/file/row state from the manifest alone") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.props (id BIGINT)")
    spark.sql("INSERT INTO graft.db.props VALUES (1), (2), (3)")
    val props = spark.sql("SHOW TBLPROPERTIES graft.db.props")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("graft.latest_version") == "2")
    assert(props("graft.last_operation") == "append")
    assert(props("graft.num_rows") == "3")
    assert(props("graft.num_files").toLong >= 1L)
  }

  // ---------------------------------------------------------------
  // atomic CTAS / RTAS (StagingTableCatalog)
  // ---------------------------------------------------------------

  test("CREATE TABLE AS SELECT is atomic: one init version with the SELECT's rows; a failed CTAS leaves NO table, directory, or namespace entry") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.ctas AS " +
      "SELECT id, id * 2 AS dbl FROM range(100)")
    assert(spark.sql("SELECT count(*), sum(dbl) FROM graft.db.ctas")
      .collect()(0).toSeq == Seq(100L, 9900L))
    // ONE version: the CTAS staged its files and published exactly once
    assert(Snapshot.versions(spark, s"$warehouse/db/ctas") == Seq(1L))
    // CTAS into an existing name fails and leaves the original intact
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.db.ctas AS SELECT 1 AS x")
    }
    assert(spark.sql("SELECT count(*) FROM graft.db.ctas").collect()(0).getLong(0) == 100L)
    // a CTAS whose SELECT fails mid-execution aborts to NOTHING
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.db.broken AS " +
        "SELECT raise_error('boom') AS x FROM range(10)")
    }
    assert(!new java.io.File(s"$warehouse/db/broken").exists(),
      "failed CTAS must leave no directory")
    assert(!spark.sql("SHOW TABLES IN graft.db").collect()
      .map(_.getString(1)).contains("broken"))
  }

  test("a CTAS losing the v1 publish race aborts WITHOUT destroying the winner's table") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    val dir = s"$warehouse/db/race_ctas"
    // the racing winner lands v1 inside the loser's publish window
    Snapshot.raceForTest = () => {
      import spark.implicits._
      Snapshot.commit(spark, dir, Seq((1L, "winner")).toDF("id", "who"))
    }
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.db.race_ctas AS SELECT 2 AS id, 'loser' AS who")
    }
    // the winner's table survived the loser's abort
    assert(Snapshot.versions(spark, dir) == Seq(1L),
      "the loser's abort must not delete the winner's table")
    assert(spark.sql("SELECT who FROM graft.db.race_ctas").collect()(0).getString(0) == "winner")
  }

  test("SQL write-audit-publish: branch_<name> table idents, VERSION AS OF '<branch>', refs table, CALL create_branch / fast_forward(check) / delete_branch") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.wapsql (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.db.wapsql VALUES (1, 1.0), (2, 2.0)")
    assert(spark.sql("CALL graft.system.create_branch(tbl => 'db.wapsql', branch => 'ingest')")
      .collect()(0).getLong(0) == 2L)
    // branch writes through the branch TABLE identifier — invisible on main
    spark.sql("INSERT INTO graft.db.wapsql.branch_ingest VALUES (3, -3.0), (4, 4.0)")
    assert(spark.sql("SELECT count(*) FROM graft.db.wapsql").collect()(0).getLong(0) == 2L)
    // SQL audit surfaces: the branch ident and VERSION AS OF '<branch>'
    assert(spark.sql("SELECT count(*) FROM graft.db.wapsql.branch_ingest")
      .collect()(0).getLong(0) == 4L)
    assert(spark.sql("SELECT count(*) FROM graft.db.wapsql VERSION AS OF 'ingest'")
      .collect()(0).getLong(0) == 4L)
    // a failing audit gate refuses the publish and harms nothing
    intercept[Exception] {
      spark.sql("CALL graft.system.fast_forward(tbl => 'db.wapsql', " +
        "branch => 'ingest', check => 'v >= 0')").collect()
    }
    assert(spark.sql("SELECT count(*) FROM graft.db.wapsql").collect()(0).getLong(0) == 2L)
    // curate ON the branch through SQL, then the gate passes
    spark.sql("DELETE FROM graft.db.wapsql.branch_ingest WHERE v < 0")
    // refs metadata table sees the live branch (+ a tag for contrast)
    spark.sql("CALL graft.system.create_tag(tbl => 'db.wapsql', tag => 'pre_publish')")
    val refs = spark.sql("SELECT name, type, version FROM graft.db.wapsql.refs")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(refs == Set(("ingest", "branch", 2L), ("pre_publish", "tag", 2L)))
    spark.sql("CALL graft.system.fast_forward(tbl => 'db.wapsql', " +
      "branch => 'ingest', check => 'v >= 0')")
    assert(spark.sql("SELECT sum(v) FROM graft.db.wapsql").collect()(0).getDouble(0) == 7.0)
    // the branch is consumed; the gate CARRIED onto main
    assert(spark.sql("SELECT type FROM graft.db.wapsql.refs").collect()
      .map(_.getString(0)).toSeq == Seq("tag"))
    intercept[Exception] {
      spark.sql("INSERT INTO graft.db.wapsql VALUES (9, -9.0)")
    }
    // delete_branch releases an abandoned branch
    spark.sql("CALL graft.system.create_branch(tbl => 'db.wapsql', branch => 'scrap')")
    assert(spark.sql("CALL graft.system.delete_branch(tbl => 'db.wapsql', branch => 'scrap')")
      .collect()(0).getBoolean(0))
  }

  test("SHOW CREATE TABLE / DESCRIBE round-trip the catalog surface (schema + partitioning visible through plain SQL tooling)") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.sct (id BIGINT, seg STRING, v DOUBLE) " +
      "PARTITIONED BY (seg)")
    val ddl = spark.sql("SHOW CREATE TABLE graft.db.sct")
      .collect()(0).getString(0)
    assert(ddl.contains("id BIGINT") && ddl.contains("seg STRING"),
      s"SHOW CREATE TABLE must carry the schema: $ddl")
    assert(ddl.contains("PARTITIONED BY") && ddl.contains("seg"),
      s"SHOW CREATE TABLE must carry the partitioning: $ddl")
    val desc = spark.sql("DESCRIBE TABLE graft.db.sct").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc.get("id").contains("bigint") && desc.get("v").contains("double"))
  }

  test("a table can never NEST inside another table's directory (the metadata-table/branch identifier namespace)") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.outer1 (id BIGINT)")
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.db.outer1.inner1 (id BIGINT)")
    }
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.db.outer1.sub.inner1 (id BIGINT)")
    }
    assert(!new java.io.File(s"$warehouse/db/outer1/inner1").exists)
  }

  test("views compose: a view over a view expands through the fixpoint; branch idents time-travel within the branch chain") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.vv (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.db.vv VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    spark.sql("CREATE VIEW graft.db.vv_big AS SELECT id, v FROM graft.db.vv WHERE id >= 2")
    spark.sql("CREATE VIEW graft.db.vv_sum AS SELECT sum(v) AS total FROM graft.db.vv_big")
    assert(spark.sql("SELECT total FROM graft.db.vv_sum").collect()(0).getDouble(0) == 5.0)
    // branch time travel: versions address the BRANCH's own chain
    spark.sql("CALL graft.system.create_branch(tbl => 'db.vv', branch => 'b')")
    spark.sql("INSERT INTO graft.db.vv.branch_b VALUES (4, 4.0)") // branch v2
    spark.sql("INSERT INTO graft.db.vv.branch_b VALUES (5, 5.0)") // branch v3
    assert(spark.sql("SELECT count(*) FROM graft.db.vv.branch_b VERSION AS OF 2")
      .collect()(0).getLong(0) == 4L)
    assert(spark.sql("SELECT count(*) FROM graft.db.vv.branch_b VERSION AS OF 3")
      .collect()(0).getLong(0) == 5L)
    intercept[Exception] {
      spark.sql("SELECT * FROM graft.db.vv.branch_b VERSION AS OF 99").collect()
    }
  }

  test("`detail` metadata table: one-row DESCRIBE DETAIL summary from the manifest, zero data I/O") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.det (id BIGINT, seg STRING) " +
      "PARTITIONED BY (seg) TBLPROPERTIES ('graft.bloom_cols'='id')")
    spark.sql("INSERT INTO graft.db.det VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE graft.db.det ADD CONSTRAINT pos CHECK (id > 0)")
    spark.sql("CALL graft.system.create_tag(tbl => 'db.det', tag => 'g1')")
    val r = spark.sql("SELECT * FROM graft.db.det.detail").collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getAs[Long]("version") == 3L) // create + insert + constraint
    assert(row.getAs[String]("partition_cols") == "seg")
    assert(row.getAs[String]("bloom_cols") == "id")
    assert(row.getAs[Long]("total_rows") == 2L)
    assert(row.getAs[Long]("live_rows") == 2L)
    assert(row.getAs[Long]("num_constraints") == 1L)
    assert(row.getAs[Long]("num_tags") == 1L)
    assert(row.getAs[Long]("num_branches") == 0L)
    assert(row.getAs[String]("schema_ddl").contains("id"))
  }

  test("`partitions` metadata table: per-value file/row/byte census from manifest stats; refuses unpartitioned tables") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.ptc (id BIGINT, seg STRING) PARTITIONED BY (seg)")
    spark.sql("INSERT INTO graft.db.ptc VALUES (1, 'a'), (2, 'a'), (3, 'b')")
    spark.sql("INSERT INTO graft.db.ptc VALUES (4, 'b')")
    val census = spark.sql(
      "SELECT partition, num_files, total_rows, mixed FROM graft.db.ptc.partitions")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(census.keySet == Set("seg=a", "seg=b"))
    assert(census("seg=a")._2 == 2L && census("seg=b")._2 == 2L)
    assert(census.values.forall(!_._3), "identity-partitioned files must not be mixed")
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.db.np (id BIGINT)")
      spark.sql("SELECT * FROM graft.db.np.partitions").collect()
    }
  }

  test("CALL optimize(hilbert_by) folds small files along the Hilbert curve; rows and content survive byte-identically") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.hil (a BIGINT, b BIGINT, v BIGINT)")
    (0 until 4).foreach { i =>
      spark.sql(s"INSERT INTO graft.db.hil " +
        s"SELECT (id * 7919 + $i) % 65536, (id * 104729 + $i) % 65536, id " +
        s"FROM range(500)")
    }
    val before = spark.sql("SELECT count(*), sum(v) FROM graft.db.hil").collect()(0)
    val v = spark.sql("CALL graft.system.optimize(tbl => 'db.hil', " +
      "small_bytes => 1073741824, hilbert_by => 'a,b', min_files => 1)")
      .collect()(0)
    assert(!v.isNullAt(0), "optimize(hilbert_by) must mint a version")
    val after = spark.sql("SELECT count(*), sum(v) FROM graft.db.hil").collect()(0)
    assert(before.toSeq == after.toSeq)
    // both clustered dims carry stats post-layout (the pruning surface)
    val stats = spark.sql("SELECT stats FROM graft.db.hil.files")
      .collect().map(_.getString(0))
    assert(stats.forall(s => s.contains("\"a\"") && s.contains("\"b\"")))
    // cluster_by + hilbert_by together refuse
    intercept[Exception] {
      spark.sql("CALL graft.system.optimize(tbl => 'db.hil', " +
        "cluster_by => 'a', hilbert_by => 'a,b')").collect()
    }
  }

  test("catalog VIEWS: CREATE / SELECT / OR REPLACE / SHOW / ALTER / RENAME / DROP, all through SQL; views track base-table commits") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.vbase (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.db.vbase VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    spark.sql("CREATE VIEW graft.db.doubled AS " +
      "SELECT id, v * 2 AS dv FROM graft.db.vbase WHERE id > 1")
    assert(spark.sql("SELECT sum(dv) FROM graft.db.doubled")
      .collect()(0).getDouble(0) == 10.0)
    // a view is a definition, not a snapshot: new base commits show
    spark.sql("INSERT INTO graft.db.vbase VALUES (4, 4.0)")
    assert(spark.sql("SELECT sum(dv) FROM graft.db.doubled")
      .collect()(0).getDouble(0) == 18.0)
    // CREATE OR REPLACE swaps the definition
    spark.sql("CREATE OR REPLACE VIEW graft.db.doubled AS " +
      "SELECT id, v * 10 AS dv FROM graft.db.vbase WHERE id = 1")
    assert(spark.sql("SELECT sum(dv) FROM graft.db.doubled")
      .collect()(0).getDouble(0) == 10.0)
    // SHOW VIEWS lists it; plain CREATE over an existing name refuses
    assert(spark.sql("SHOW VIEWS IN graft.db").collect()
      .map(_.getString(1)).contains("doubled"))
    intercept[Exception] {
      spark.sql("CREATE VIEW graft.db.doubled AS SELECT 1 AS x")
    }
    // a view can never shadow a TABLE
    intercept[Exception] {
      spark.sql("CREATE VIEW graft.db.vbase AS SELECT 1 AS x")
    }
    // property round-trip and rename
    spark.sql("ALTER VIEW graft.db.doubled SET TBLPROPERTIES ('owner_team' = 'ingest')")
    spark.sql("ALTER VIEW graft.db.doubled RENAME TO graft.db.tenfold")
    assert(spark.sql("SELECT sum(dv) FROM graft.db.tenfold")
      .collect()(0).getDouble(0) == 10.0)
    spark.sql("DROP VIEW graft.db.tenfold")
    assert(!spark.sql("SHOW VIEWS IN graft.db").collect()
      .map(_.getString(1)).contains("tenfold"))
    intercept[Exception] { spark.sql("SELECT * FROM graft.db.tenfold").collect() }
  }

  test("catalog VIEWS after USE: 1/2-part identifiers route to the current ViewCatalog; UNSET TBLPROPERTIES without IF EXISTS fails on missing keys") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.ubase (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO graft.db.ubase VALUES (1, 1.0), (2, 2.0)")
    try {
      spark.sql("USE graft.db")
      // 2-part DDL + read in a graft-current session (pre-fix: fell
      // through to ResolveSessionCatalog's MISSING_CATALOG_ABILITY)
      spark.sql("CREATE VIEW db.uv AS SELECT id, v * 2 AS dv FROM graft.db.ubase")
      assert(spark.sql("SELECT sum(dv) FROM db.uv").collect()(0).getDouble(0) == 6.0)
      // 1-part read resolves through the current namespace
      assert(spark.sql("SELECT sum(dv) FROM uv").collect()(0).getDouble(0) == 6.0)
      // bare SHOW VIEWS lists the current namespace
      assert(spark.sql("SHOW VIEWS").collect().map(_.getString(1)).contains("uv"))
      // UNSET strictness: a typo'd key must FAIL without IF EXISTS …
      spark.sql("ALTER VIEW db.uv SET TBLPROPERTIES ('owner_team' = 'ingest')")
      val e = intercept[Exception] {
        spark.sql("ALTER VIEW db.uv UNSET TBLPROPERTIES ('onwer_team')")
      }
      assert(e.getMessage.contains("onwer_team"))
      // … and succeed silently WITH it; a real key unsets either way
      spark.sql("ALTER VIEW db.uv UNSET TBLPROPERTIES IF EXISTS ('onwer_team')")
      spark.sql("ALTER VIEW db.uv UNSET TBLPROPERTIES ('owner_team')")
      // 1-part DROP
      spark.sql("DROP VIEW uv")
      assert(!spark.sql("SHOW VIEWS IN graft.db").collect()
        .map(_.getString(1)).contains("uv"))
    } finally spark.sql("SET CATALOG spark_catalog")
  }

  test("CALL remove_orphan_files: dry-run listing by default; dry_run => false sweeps the debris and leaves live data intact") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.orph (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.db.orph VALUES (1, 'live')")
    val dir = s"$warehouse/db/orph"
    import spark.implicits._
    Seq((9L, "junk")).toDF("id", "v").write.parquet(s"$dir/data/crashed")
    // default call = dry run with the 24h grace: nothing listed yet
    assert(spark.sql("CALL graft.system.remove_orphan_files(tbl => 'db.orph')")
      .collect().isEmpty)
    // zero grace: listed, still present
    val listed = spark.sql("CALL graft.system.remove_orphan_files(" +
      "tbl => 'db.orph', grace_hours => 0)").collect().map(_.getString(0))
    assert(listed.nonEmpty && listed.forall(_.startsWith("data/crashed/")))
    assert(new java.io.File(s"$dir/data/crashed").exists())
    // destructive form sweeps exactly the listing
    val swept = spark.sql("CALL graft.system.remove_orphan_files(" +
      "tbl => 'db.orph', grace_hours => 0, dry_run => false)")
      .collect().map(_.getString(0))
    assert(swept.toSet == listed.toSet)
    assert(!new java.io.File(s"$dir/data/crashed").exists())
    assert(spark.sql("SELECT v FROM graft.db.orph").collect()
      .map(_.getString(0)).toSeq == Seq("live"))
  }

  test("changes metadata table: SQL change-data-feed with a MoR dv-update inside the window; VERSION AS OF sets the catch-up start") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.cdf (id BIGINT, v STRING)")       // v1
    spark.sql("INSERT INTO graft.db.cdf VALUES (1, 'a'), (2, 'b')")    // v2
    spark.sql("INSERT INTO graft.db.cdf VALUES (3, 'c')")              // v3
    val dir = s"$warehouse/db/cdf"
    // MoR update: zero data files rewritten, the change lives in a dv +
    // one tiny file — the feed must still see it as 'changed'
    assert(Snapshot.updateWhereMor(spark, dir, col("id") === 2L,
      Map("v" -> lit("b2"))).contains(4L))
    spark.sql("DELETE FROM graft.db.cdf WHERE id = 1")                 // v5
    // catch-up since v2: added (3,c), changed (2,b2), removed (1,a)
    val since2 = spark.sql(
      "SELECT id, v, change_type FROM graft.db.cdf.changes VERSION AS OF 2")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(since2 == Set((3L, "c", "added"), (2L, "b2", "changed"), (1L, "a", "removed")))
    // bare read = the LAST commit's window (v4 → v5)
    val last = spark.sql("SELECT id, v, change_type FROM graft.db.cdf.changes")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(last == Set((1L, "a", "removed")))
    // explicit window + explicit keys through read options
    val w23 = spark.read.option("from", "2").option("to", "3").option("keys", "id")
      .table("graft.db.cdf.changes")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(w23 == Set((3L, "c", "added")))
    // a backwards or unretained window fails loudly
    intercept[Exception] {
      spark.read.option("from", "5").option("to", "2")
        .table("graft.db.cdf.changes").collect()
    }
    intercept[Exception] {
      spark.read.option("from", "99").table("graft.db.cdf.changes").collect()
    }
  }

  test("a CTAS abort must not delete a CONCURRENTLY STAGING CTAS's files: the survivor publishes an intact table") {
    import org.apache.spark.sql.connector.catalog.{Identifier, StagingTableCatalog, SupportsWrite}
    import org.apache.spark.sql.connector.write.V1Write
    import org.apache.spark.sql.types.StructType
    import scala.jdk.CollectionConverters._
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    val cat = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[StagingTableCatalog]
    val ident = Identifier.of(Array("db"), "stage_race2")
    val schema = StructType.fromDDL("id BIGINT, who STRING")
    // two writers stage the SAME identifier concurrently (neither has
    // published yet — the PRE-publish race, distinct from the v1 race)
    val s1 = cat.stageCreate(ident, schema,
      Array.empty[org.apache.spark.sql.connector.expressions.Transform],
      Map.empty[String, String].asJava)
    val s2 = cat.stageCreate(ident, schema,
      Array.empty[org.apache.spark.sql.connector.expressions.Transform],
      Map.empty[String, String].asJava)
    def insert(st: Any, who: String): Unit = {
      import spark.implicits._
      st.asInstanceOf[SupportsWrite].newWriteBuilder(null).build()
        .asInstanceOf[V1Write].toInsertableRelation
        .insert(Seq((1L, who)).toDF("id", "who"), false)
    }
    insert(s1, "loser")
    insert(s2, "winner")
    // the loser aborts FIRST — before the fix this recursively deleted
    // the whole table dir, including the winner's staged parquet, and
    // the winner's later publish minted a manifest over deleted files
    s1.abortStagedChanges()
    s2.commitStagedChanges()
    val got = spark.sql("SELECT who FROM graft.db.stage_race2").collect()
    assert(got.length == 1 && got(0).getString(0) == "winner",
      "the survivor's staged data must still be readable after the other abort")
  }

  test("DDL-time spec validation: unknown stats/bloom columns and degenerate bloom_bits fail at CREATE, not at first INSERT") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.db.badspec1 (id BIGINT, v STRING) " +
        "TBLPROPERTIES ('graft.bloom_cols'='nope')")
    }
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.db.badspec2 (id BIGINT, v STRING) " +
        "TBLPROPERTIES ('graft.stats_cols'='id,ghost')")
    }
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.db.badspec3 (id BIGINT, v STRING) " +
        "TBLPROPERTIES ('graft.bloom_cols'='id', 'graft.bloom_bits'='8')")
    }
    Seq("badspec1", "badspec2", "badspec3").foreach { t =>
      assert(!new java.io.File(s"$warehouse/db/$t").exists,
        s"refused DDL must leave no $t directory")
    }
    // the happy path still works
    spark.sql("CREATE TABLE graft.db.goodspec (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('graft.bloom_cols'='id', 'graft.bloom_bits'='1024')")
    spark.sql("INSERT INTO graft.db.goodspec VALUES (1, 'x')")
    assert(spark.sql("SELECT count(*) FROM graft.db.goodspec")
      .collect()(0).getLong(0) == 1L)
  }

  test("`files` metadata table emits VALID JSON stats even when string min/max hold quotes and backslashes") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.qstats (id BIGINT, v STRING)")
    spark.sql("""INSERT INTO graft.db.qstats VALUES (1, 'say "hi"'), (2, 'a\\b')""")
    val stats = spark.sql("SELECT stats FROM graft.db.qstats.files")
      .collect().map(_.getString(0))
    assert(stats.nonEmpty)
    stats.foreach { s =>
      // must parse as JSON — raw concatenation of quoted values did not
      val parsed = org.json4s.jackson.JsonMethods.parse(s)
      assert((parsed \ "v") != org.json4s.JNothing, s"stats JSON lacks column v: $s")
    }
  }

  test("REPLACE TABLE AS SELECT publishes ONE replace version; the old definition time-travels; a failed RTAS leaves the table untouched") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.rt AS SELECT id FROM range(5)")
    spark.sql("REPLACE TABLE graft.db.rt AS " +
      "SELECT id AS k, CAST(id AS DOUBLE) / 2 AS half FROM range(10)")
    assert(spark.sql("SELECT count(*), sum(half) FROM graft.db.rt")
      .collect()(0).toSeq == Seq(10L, 22.5))
    assert(spark.sql("SELECT * FROM graft.db.rt").columns.toSeq == Seq("k", "half"))
    // old definition still readable at v1
    assert(spark.sql("SELECT count(*) FROM graft.db.rt VERSION AS OF 1")
      .collect()(0).getLong(0) == 5L)
    // failed RTAS: table unchanged, no version minted
    val before = Snapshot.versions(spark, s"$warehouse/db/rt")
    intercept[Exception] {
      spark.sql("REPLACE TABLE graft.db.rt AS " +
        "SELECT raise_error('boom') AS x FROM range(1)")
    }
    assert(Snapshot.versions(spark, s"$warehouse/db/rt") == before)
    assert(spark.sql("SELECT count(*) FROM graft.db.rt").collect()(0).getLong(0) == 10L)
    // CREATE OR REPLACE works on both existing and fresh names
    spark.sql("CREATE OR REPLACE TABLE graft.db.rt AS SELECT 1 AS one")
    spark.sql("CREATE OR REPLACE TABLE graft.db.rt2 AS SELECT 2 AS two")
    assert(spark.sql("SELECT one FROM graft.db.rt").collect()(0).getInt(0) == 1)
    assert(spark.sql("SELECT two FROM graft.db.rt2").collect()(0).getInt(0) == 2)
  }

  test("PARTITIONED BY (identity): partition predicates prune files from manifest stats; INSERTs cluster by the partition column") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.pt (id BIGINT, day STRING, v DOUBLE) " +
      "PARTITIONED BY (day)")
    val dir = s"$warehouse/db/pt"
    assert(Snapshot.tableSpecOf(spark, dir).partitionCols == Seq("day"))
    // one INSERT spanning 4 days: the write clusters by day, so each
    // file holds few day values and day predicates prune
    spark.sql("INSERT INTO graft.db.pt " +
      "SELECT id, concat('d', CAST(id % 4 AS STRING)) AS day, CAST(id AS DOUBLE) " +
      "FROM range(400)")
    val v = Snapshot.versions(spark, dir).max
    val all = Snapshot.statsKeysForTest(spark, dir, v).size
    val kept = Snapshot.candidateFilePaths(spark, dir, v, col("day") === lit("d1"))
    assert(kept.size < all,
      s"partition predicate must prune (kept ${kept.size}/$all)")
    assert(spark.sql("SELECT count(*) FROM graft.db.pt WHERE day = 'd1'")
      .collect()(0).getLong(0) == 100L)
    // non-identity transforms are refused loudly
    intercept[Exception] {
      spark.sql("CREATE TABLE graft.db.ptb (id BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (days(ts))")
    }
  }

  test("history metadata table: SELECT * FROM graft.db.t.history serves the commit log driver-locally") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.h (id BIGINT)")
    spark.sql("INSERT INTO graft.db.h VALUES (1), (2)")
    spark.sql("INSERT INTO graft.db.h VALUES (3)")
    spark.sql("DELETE FROM graft.db.h WHERE id = 1")
    val hist = spark.sql(
      "SELECT version, op, n_rows FROM graft.db.h.history ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(hist.toSeq == Seq(
      (1L, "init", 0L), (2L, "append", 2L), (3L, "append", 3L),
      (4L, "delete", 2L))) // n_rows is LIVE rows: the dv masks one
    // metrics ride as deterministic JSON
    val met = spark.sql("SELECT metrics FROM graft.db.h.history WHERE version = 4")
      .collect()(0).getString(0)
    assert(met.contains("\"rows_deleted\":1"))
    // the files metadata table: per-file inventory, dv-aware live rows
    // (the deleted row's file either dropped whole — metadata-only —
    // or carries a dv; both shapes must reconcile to 2 live rows)
    val files = spark.sql(
      "SELECT bytes > 0, rows, live_rows, has_dv FROM graft.db.h.files")
      .collect().map(r => (r.getBoolean(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(files.forall(_._1), "every file must report bytes")
    assert(files.map(_._3).sum == 2L, "live rows must exclude the deleted one")
    assert(files.map(_._2).sum - files.map(_._3).sum == files.count(_._4).toLong,
      "physical minus live must equal the dv-masked rows")
    val st = spark.sql("SELECT stats FROM graft.db.h.files LIMIT 1").collect()(0).getString(0)
    assert(st.contains("\"id\":{\"min\":"), s"stats JSON must carry ranges: $st")
    // a history request for a non-table still fails loudly
    intercept[Exception] { spark.sql("SELECT * FROM graft.db.nope.history").collect() }
  }

  test("VERSION AS OF '<tag>' resolves named pins through SQL") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.tg AS SELECT id FROM range(3)")
    val dir = s"$warehouse/db/tg"
    Snapshot.createTag(spark, dir, "golden")
    spark.sql("INSERT INTO graft.db.tg SELECT id FROM range(100, 110)")
    assert(spark.sql("SELECT count(*) FROM graft.db.tg").collect()(0).getLong(0) == 13L)
    assert(spark.sql("SELECT count(*) FROM graft.db.tg VERSION AS OF 'golden'")
      .collect()(0).getLong(0) == 3L)
    intercept[Exception] {
      spark.sql("SELECT * FROM graft.db.tg VERSION AS OF 'nope'").collect()
    }
  }

  test("creating a table at an existing namespace path is refused (a staged abort must never delete a namespace)") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.guard")
    spark.sql("CREATE TABLE graft.guard.inner_t (id BIGINT)")
    // 'guard' is a namespace holding a table: both CREATE forms refuse
    intercept[Exception] { spark.sql("CREATE TABLE graft.guard (id BIGINT)") }
    intercept[Exception] { spark.sql("CREATE TABLE graft.guard AS SELECT 1 AS x") }
    // the namespace and its table survived
    assert(spark.sql("SELECT count(*) FROM graft.guard.inner_t")
      .collect()(0).getLong(0) == 0L)
  }

  test("RENAME COLUMN renames the table spec with it; DROP of a spec column is refused") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.sp (id BIGINT, day STRING) PARTITIONED BY (day)")
    val dir = s"$warehouse/db/sp"
    spark.sql("ALTER TABLE graft.db.sp RENAME COLUMN day TO dt")
    assert(Snapshot.tableSpecOf(spark, dir).partitionCols == Seq("dt"),
      "the partition spec must follow the rename")
    // clustering still applies under the new name: insert multi-day
    // data and check the partition column still prunes
    spark.sql("INSERT INTO graft.db.sp SELECT id, concat('d', CAST(id % 4 AS STRING)) FROM range(400)")
    val v = Snapshot.versions(spark, dir).max
    val kept = Snapshot.candidateFilePaths(spark, dir, v, col("dt") === lit("d2"))
    assert(kept.size < Snapshot.statsKeysForTest(spark, dir, v).size)
    intercept[Exception] { spark.sql("ALTER TABLE graft.db.sp DROP COLUMN dt") }
  }

  test("stored procedures: CALL graft.system.{optimize, vacuum, create_tag, restore, clone} drive maintenance through pure SQL") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.pc (id BIGINT, v DOUBLE)")
    (1 to 4).foreach(i =>
      spark.sql(s"INSERT INTO graft.db.pc VALUES ($i, $i.5)")) // v2..v5: small files
    val dir = s"$warehouse/db/pc"

    // optimize folds the ingest tail, returns the minted version
    val ov = spark.sql(
      "CALL graft.system.optimize(tbl => 'db.pc', small_bytes => 1000000)")
      .collect()(0).getLong(0)
    assert(ov == 6L)
    assert(spark.sql("SELECT count(*) FROM graft.db.pc").collect()(0).getLong(0) == 4L)

    // create_tag pins the optimized state by name; VERSION AS OF reads it
    assert(spark.sql("CALL graft.system.create_tag(tbl => 'db.pc', tag => 'opt')")
      .collect()(0).getLong(0) == 6L)
    spark.sql("INSERT OVERWRITE graft.db.pc VALUES (99, 0.0)") // v7 restates
    assert(spark.sql("SELECT count(*) FROM graft.db.pc VERSION AS OF 'opt'")
      .collect()(0).getLong(0) == 4L)

    // restore rolls back metadata-only
    val rr = spark.sql("CALL graft.system.restore(tbl => 'db.pc', version => 6)").collect()(0)
    assert(rr.getLong(0) == 6L && rr.getLong(1) == 8L)
    assert(spark.sql("SELECT count(*) FROM graft.db.pc").collect()(0).getLong(0) == 4L)

    // vacuum DRY RUN by default: returns the report, deletes nothing
    val rep = spark.sql("CALL graft.system.vacuum(tbl => 'db.pc', keep_last => 1)")
    assert(rep.columns.toSeq ==
      Seq("version", "op", "kept", "reclaimable_files", "reclaimable_bytes"))
    val before = Snapshot.versions(spark, dir)
    assert(rep.count() == before.size.toLong)
    assert(Snapshot.versions(spark, dir) == before, "dry run must not delete")
    // the destructive form needs the explicit flag — tag + last survive
    spark.sql("CALL graft.system.vacuum(tbl => 'db.pc', keep_last => 1, dry_run => false)")
    assert(Snapshot.versions(spark, dir) == Seq(6L, 8L),
      "vacuum keeps the tagged version and the head")

    // clone: zero-copy dev table
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dev")
    assert(spark.sql("CALL graft.system.clone(source => 'db.pc', target => 'dev.pc_copy')")
      .collect()(0).getLong(0) == 1L)
    assert(spark.sql("SELECT count(*) FROM graft.dev.pc_copy").collect()(0).getLong(0) == 4L)
    // set_spec: layout/stats config through SQL, metadata-only
    spark.sql("CALL graft.system.set_spec(tbl => 'db.pc', " +
      "bloom_cols => 'id', bloom_bits => 65536)")
    assert(Snapshot.tableSpecOf(spark, dir).bloomCols == Seq("id"))
    intercept[Exception] {
      spark.sql("CALL graft.system.set_spec(tbl => 'db.pc', stats_cols => 'nope')")
    }
    // unknown procedure fails loudly
    intercept[Exception] { spark.sql("CALL graft.system.nope()") }
  }

  test("catalog scans report manifest statistics: a small catalog dim BROADCASTS into a join with zero hints") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.dim_s AS SELECT id AS k, concat('n', id) AS name FROM range(50)")
    spark.sql("CREATE TABLE graft.db.fact_s AS SELECT id, id % 50 AS k, CAST(id AS DOUBLE) AS v FROM range(20000)")
    val out = spark.sql(
      "SELECT count(*) FROM graft.db.fact_s f JOIN graft.db.dim_s d ON f.k = d.k")
    assert(out.collect()(0).getLong(0) == 20000L)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"a 50-row catalog dim must broadcast (manifest stats feed the CBO):\n${plan.take(1500)}")
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT routes SQL CHECK constraints to the versioned gate") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.ck (id BIGINT, bal DOUBLE)")
    spark.sql("INSERT INTO graft.db.ck VALUES (1, 10.0)")
    spark.sql("ALTER TABLE graft.db.ck ADD CONSTRAINT bal_pos CHECK (bal > 0)")
    val dir = s"$warehouse/db/ck"
    assert(Snapshot.constraintsOf(spark, dir).contains("bal_pos"))
    // the gate holds: a violating INSERT aborts with no version
    val before = Snapshot.versions(spark, dir).max
    intercept[Exception] { spark.sql("INSERT INTO graft.db.ck VALUES (2, -5.0)") }
    assert(Snapshot.versions(spark, dir).max == before)
    // adding a constraint existing rows violate is refused
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.db.ck ADD CONSTRAINT big CHECK (bal > 100)")
    }
    // drop releases the gate
    spark.sql("ALTER TABLE graft.db.ck DROP CONSTRAINT bal_pos")
    assert(Snapshot.constraintsOf(spark, dir).isEmpty)
    spark.sql("INSERT INTO graft.db.ck VALUES (2, -5.0)")
    assert(spark.sql("SELECT count(*) FROM graft.db.ck").collect()(0).getLong(0) == 2L)
    // INLINE constraint at CREATE TABLE: enforced, never silently lost
    spark.sql("CREATE TABLE graft.db.ck2 (id BIGINT, q BIGINT, " +
      "CONSTRAINT q_pos CHECK (q >= 0))")
    assert(Snapshot.constraintsOf(spark, s"$warehouse/db/ck2").contains("q_pos"))
    intercept[Exception] { spark.sql("INSERT INTO graft.db.ck2 VALUES (1, -1)") }
    spark.sql("INSERT INTO graft.db.ck2 VALUES (1, 1)")
    assert(spark.sql("SELECT count(*) FROM graft.db.ck2").collect()(0).getLong(0) == 1L)
  }

  test("SQL UPDATE re-validates CHECK constraints and aborts with no version on a violation") {
    warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.uc (id BIGINT, bal DOUBLE)")
    spark.sql("INSERT INTO graft.db.uc VALUES (1, 10.0), (2, 20.0)")
    val dir = s"$warehouse/db/uc"
    Snapshot.addConstraint(spark, dir, "bal_pos", "bal > 0")
    val vBefore = Snapshot.versions(spark, dir).max
    intercept[Exception] {
      spark.sql("UPDATE graft.db.uc SET bal = -1.0 WHERE id = 1")
    }
    assert(Snapshot.versions(spark, dir).max == vBefore, "no version on abort")
    assert(spark.sql("SELECT sum(bal) FROM graft.db.uc").collect()(0).getDouble(0) == 30.0)
  }
}
