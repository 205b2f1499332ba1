package graft

import graft.sources.Snapshot
import graft.streaming.Refresh
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SnapshotSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft-snapshot").toString

  private def rows(df: DataFrame): Set[(Long, String, Double)] =
    df.select(col("id"), col("name"), col("score"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

  private def base = {
    import spark.implicits._
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0))
      .toDF("id", "name", "score")
  }

  test("commit → read round-trip; history records the version") {
    val dir = tmp() + "/t"
    val v = Snapshot.commit(spark, dir, base)
    assert(v == 1L)
    assert(rows(Snapshot.read(spark, dir)) == rows(base))
    val h = Snapshot.history(spark, dir).collect()
    assert(h.length == 1 && h.head.getLong(0) == 1L && h.head.getString(1) == "init")
  }

  test("upsert: update + insert + tombstone; old version still reads pre-upsert state") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)
    val changes = Seq(
      (2L, "b2", 20.0, false), // update
      (5L, "e", 5.0, false),   // insert
      (3L, "c", 3.0, true)     // delete
    ).toDF("id", "name", "score", "is_deleted")
    val v2 = Snapshot.upsert(spark, dir, changes, Seq("id"), Some("is_deleted"))
    assert(v2 == 2L)
    assert(rows(Snapshot.readVersion(spark, dir, 2)) ==
      Set((1L, "a", 1.0), (2L, "b2", 20.0), (4L, "d", 4.0), (5L, "e", 5.0)))
    // TIME TRAVEL: version 1 read AFTER the upsert is the pre-upsert table
    assert(rows(Snapshot.readVersion(spark, dir, 1)) == rows(base))
  }

  test("upsert is file-granular copy-on-write: untouched files carry over by reference") {
    import spark.implicits._
    val dir = tmp() + "/t"
    // two files split by id parity, so changes to odd ids never touch the even file
    Snapshot.commit(spark, dir, base.repartition(2, col("id") % 2))
    val m1 = Snapshot.history(spark, dir).collect().head.getLong(2)
    assert(m1 == 2L, s"expected 2 data files, got $m1")
    val changes = Seq((1L, "a2", 10.0)).toDF("id", "name", "score")
    Snapshot.upsert(spark, dir, changes, Seq("id"))
    // the manifests must SHARE the untouched file (reference, not copy)
    def manifestFiles(v: Long): Set[String] =
      Snapshot.filesForTest(spark, dir, v).map(_._1).toSet
    val shared = manifestFiles(1L).intersect(manifestFiles(2L))
    assert(shared.nonEmpty, "upsert rewrote every file — not copy-on-write")
    assert(rows(Snapshot.read(spark, dir)) ==
      Set((1L, "a2", 10.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0)))
  }

  test("append adds rows without rewriting previous files") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)
    Snapshot.append(spark, dir, Seq((9L, "z", 9.0)).toDF("id", "name", "score"))
    assert(rows(Snapshot.read(spark, dir)) == rows(base) + ((9L, "z", 9.0)))
    assert(rows(Snapshot.readVersion(spark, dir, 1)) == rows(base))
  }

  test("concurrent-reader isolation: a frame pinned to v1 is unaffected by compaction and later upserts") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base.repartition(4))
    val pinned = Snapshot.readVersion(spark, dir, 1) // reader resolves v1's file list
    Snapshot.compact(spark, dir, targetBytes = Long.MaxValue) // v2: one file
    Snapshot.upsert(spark, dir,
      Seq((1L, "mutated", -1.0)).toDF("id", "name", "score"), Seq("id")) // v3
    // the pinned reader materializes AFTER both table mutations
    assert(rows(pinned) == rows(base))
    assert(rows(Snapshot.read(spark, dir)) ==
      Set((1L, "mutated", -1.0), (2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0)))
  }

  test("vacuum reclaims only versions beyond the retention window") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)                                      // v1
    Snapshot.upsert(spark, dir,
      Seq((1L, "a2", 10.0)).toDF("id", "name", "score"), Seq("id"))        // v2
    Snapshot.compact(spark, dir, targetBytes = Long.MaxValue)              // v3
    val deleted = Snapshot.vacuum(spark, dir, keepLast = 2)
    assert(deleted > 0)
    assert(Snapshot.versions(spark, dir) == Seq(2L, 3L))
    // retained versions still read correctly (v2 shares files with nothing vacuumed-away)
    assert(rows(Snapshot.readVersion(spark, dir, 2)) == rows(Snapshot.readVersion(spark, dir, 3)))
  }

  test("optimistic concurrency: a second committer of the same version fails loudly") {
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)
    // simulate the race's loser: version 1 already exists; the manifest
    // promotion (rename-if-absent) must refuse to overwrite it — this is
    // the single-winner primitive every commit path funnels through
    intercept[java.util.ConcurrentModificationException] {
      Snapshot.publishManifestForTest(spark, dir, 1L)
    }
    // and the table is untouched
    assert(rows(Snapshot.read(spark, dir)) == rows(base))
  }

  // ---------------------------------------------------------------
  // optimistic concurrency: rebase-and-retry + logical conflict matrix
  // ---------------------------------------------------------------

  test("OCC retry: two interleaved appends BOTH land (loser rebases onto the winner)") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base) // v1
    // the competing append lands inside the loser's race window: after
    // the loser pinned v1 and wrote its data files, before its publish
    Snapshot.raceForTest = () =>
      Snapshot.append(spark, dir, Seq((10L, "w", 10.0)).toDF("id", "name", "score"))
    val v = Snapshot.append(spark, dir,
      Seq((11L, "l", 11.0)).toDF("id", "name", "score"))
    assert(v == 3L, "the loser must rebase and land at v3, not fail")
    val ids = Snapshot.read(spark, dir).select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L, 4L, 10L, 11L), "BOTH appended rows must be readable")
    assert(Snapshot.versions(spark, dir) == Seq(1L, 2L, 3L))
    // the rebased commit reports itself in history()
    val met = Snapshot.history(spark, dir).where(col("version") === 3L)
      .select(col("metrics")).collect()(0).getMap[String, Long](0)
    assert(met("occ_rebases") == 1L)
  }

  test("OCC retry: an append losing to a cron optimize rebases and lands (the flagship streaming-beside-maintenance interleave)") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base.repartition(4)) // v1: 4 small files
    Snapshot.raceForTest = () => {
      val ov = Snapshot.optimize(spark, dir, smallBytes = Long.MaxValue)
      assert(ov.contains(2L), "the interleaved optimize must win v2")
    }
    val v = Snapshot.append(spark, dir,
      Seq((10L, "s", 10.0)).toDF("id", "name", "score"))
    assert(v == 3L)
    assert(Snapshot.read(spark, dir).count() == 5L,
      "optimize output AND the appended row must both survive")
    val ops = Snapshot.history(spark, dir).orderBy(col("version"))
      .select("op").collect().map(_.getString(0)).toSeq
    assert(ops == Seq("init", "optimize", "append"))
  }

  test("OCC retry: an optimize losing to an append rebases — the appended rows survive the compaction") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base.repartition(4)) // v1: 4 small files
    Snapshot.raceForTest = () =>
      Snapshot.append(spark, dir, Seq((10L, "w", 10.0)).toDF("id", "name", "score"))
    val v = Snapshot.optimize(spark, dir, smallBytes = Long.MaxValue)
    assert(v.contains(3L), "the optimize must rebase over the append and land")
    val ids = Snapshot.read(spark, dir).select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L, 4L, 10L), "the interleaved append's row must survive")
    // the winner's appended file carried into the rebased optimize by reference
    assert(dataPartFiles(dir, 2L).intersect(dataPartFiles(dir, 3L)).nonEmpty)
  }

  test("OCC conflict matrix: two interleaved upserts still fail LOUDLY (key overlap unprovable at file granularity)") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base) // v1
    Snapshot.raceForTest = () =>
      Snapshot.upsert(spark, dir,
        Seq((9L, "w", 9.0)).toDF("id", "name", "score"), Seq("id"))
    val e = intercept[java.util.ConcurrentModificationException] {
      Snapshot.upsert(spark, dir,
        Seq((9L, "l", -9.0)).toDF("id", "name", "score"), Seq("id"))
    }
    assert(e.getMessage.contains("row-writing"))
    // the WINNER's upsert is in; the loser's never half-landed
    assert(rows(Snapshot.read(spark, dir)).contains((9L, "w", 9.0)))
    assert(!rows(Snapshot.read(spark, dir)).contains((9L, "l", -9.0)))
    assert(Snapshot.versions(spark, dir) == Seq(1L, 2L))
  }

  test("OCC conflict matrix: an append losing to a table-state change (ALTER) fails — its rows were validated under stale constraints") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)
    Snapshot.raceForTest = () =>
      Snapshot.addConstraint(spark, dir, "pos", "score >= 0")
    intercept[java.util.ConcurrentModificationException] {
      Snapshot.append(spark, dir, Seq((10L, "x", -1.0)).toDF("id", "name", "score"))
    }
    // the constraint landed; the unvalidated negative row did not
    assert(Snapshot.constraintsOf(spark, dir).contains("pos"))
    assert(Snapshot.read(spark, dir).count() == 4L)
  }

  test("OCC retry: a merge-on-read delete losing to an append commutes when the appended files are untouched") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base) // v1
    Snapshot.raceForTest = () =>
      Snapshot.append(spark, dir, Seq((10L, "w", 10.0)).toDF("id", "name", "score"))
    val v = Snapshot.deleteWhere(spark, dir, col("id") === 2L)
    assert(v.contains(3L), "the dv delete must rebase over the blind append")
    val ids = Snapshot.read(spark, dir).select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 3L, 4L, 10L))
  }

  test("widen + DML interplay: upsert and optimize rewrite in the wide type; narrow-era files keep scanning; time travel stays narrow") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir,
      Seq((1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0))
        .toDF("id", "name", "score")
        .withColumn("id", col("id").cast(IntegerType)))          // v1 narrow
    Snapshot.widenColumn(spark, dir, "id", "BIGINT")             // v2
    // upsert AFTER the widen: changed keys land in wide files, untouched
    // narrow files scan-widen beside them
    Snapshot.upsert(spark, dir,
      Seq((2L, "b2", 20.0, false), (4000000000L, "d", 4.0, false))
        .toDF("id", "name", "score", "is_deleted"),
      Seq("id"), Some("is_deleted"))                             // v3
    assert(rows(Snapshot.read(spark, dir)) ==
      Set((1L, "a", 1.0), (2L, "b2", 20.0), (3L, "c", 3.0), (4000000000L, "d", 4.0)))
    // stats pruning still serves a point lookup across the mixed eras
    assert(Snapshot.read(spark, dir).filter(col("id") === 4000000000L)
      .select("name").collect().map(_.getString(0)).toSeq == Seq("d"))
    // optimize folds everything into wide files; values survive exactly
    Snapshot.optimize(spark, dir, smallBytes = Long.MaxValue)
    assert(rows(Snapshot.read(spark, dir)) ==
      Set((1L, "a", 1.0), (2L, "b2", 20.0), (3L, "c", 3.0), (4000000000L, "d", 4.0)))
    assert(Snapshot.read(spark, dir).schema("id").dataType == LongType)
    // the narrow era still time-travels under its own schema
    assert(Snapshot.readVersion(spark, dir, 1L).schema("id").dataType == IntegerType)
  }

  test("per-app txn cursors: two concurrent streaming writers keep independent replay protection") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base) // v1 (batch table; no cursor yet)
    val sc = spark.sparkContext
    def asApp[A](app: String)(body: => A): A =
      try { sc.setLocalProperty("sql.streaming.queryId", app); body }
      finally sc.setLocalProperty("sql.streaming.queryId", null)
    // writer qA commits its batch 0, then writer qB commits ITS batch 0
    asApp("qA")(Refresh.applySnapshotAppendBatch(
      Seq((10L, "a0", 10.0)).toDF("id", "name", "score"), 0L, dir))
    asApp("qB")(Refresh.applySnapshotAppendBatch(
      Seq((20L, "b0", 20.0)).toDF("id", "name", "score"), 0L, dir))
    // BOTH cursors are live — qB's commit must not have erased qA's
    assert(Snapshot.txnCursor(spark, dir, "qA").contains(0L))
    assert(Snapshot.txnCursor(spark, dir, "qB").contains(0L))
    assert(Snapshot.lastTxn(spark, dir).contains(("qB", 0L)), "slot = latest writer")
    // qA's post-crash replay of batch 0 AFTER qB's interleaved commit:
    // with a single-slot cursor this duplicated the epoch's rows
    val v = Snapshot.latestVersion(spark, dir).get
    asApp("qA")(Refresh.applySnapshotAppendBatch(
      Seq((10L, "a0", 10.0)).toDF("id", "name", "score"), 0L, dir))
    assert(Snapshot.latestVersion(spark, dir).get == v, "replay minted a version")
    assert(Snapshot.read(spark, dir).count() == 6L, "replay duplicated rows")
    // each writer's NEXT batch still applies normally
    asApp("qA")(Refresh.applySnapshotAppendBatch(
      Seq((11L, "a1", 11.0)).toDF("id", "name", "score"), 1L, dir))
    assert(Snapshot.read(spark, dir).count() == 7L)
    assert(Snapshot.txnCursor(spark, dir, "qA").contains(1L))
    assert(Snapshot.txnCursor(spark, dir, "qB").contains(0L))
  }

  test("OCC rebase re-checks the epoch cursor: a racing twin publishing the same batch makes the loser skip, not duplicate") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base) // v1
    // the twin (same query identity, same epoch — a zombie driver during
    // streaming failover) lands inside the loser's race window: after the
    // loser's pre-commit cursor check passed, before its publish
    Snapshot.raceForTest = () =>
      Snapshot.append(spark, dir,
        Seq((10L, "twin", 10.0)).toDF("id", "name", "score"),
        Some(5L), Some("q1"))
    intercept[graft.sources.EpochAlreadyCommittedException] {
      Snapshot.append(spark, dir,
        Seq((10L, "twin", 10.0)).toDF("id", "name", "score"),
        Some(5L), Some("q1"))
    }
    // exactly ONE copy of the epoch's rows landed (the winner's)
    assert(Snapshot.read(spark, dir).count() == 5L,
      "the replayed epoch must not rebase-and-duplicate")
    assert(Snapshot.versions(spark, dir) == Seq(1L, 2L))
    assert(Snapshot.txnCursor(spark, dir, "q1").contains(5L))
  }

  test("vacuum sweeps orphaned data files from failed commits, never in-flight ones inside the grace window") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)
    // simulate a commit that wrote files but lost the manifest race:
    // a data dir referenced by no manifest
    Seq((99L, "orphan", 0.0)).toDF("id", "name", "score")
      .write.parquet(s"$dir/data/orphan-commit")
    // grace window keeps it…
    assert(Snapshot.vacuum(spark, dir, keepLast = 5) == 0)
    assert(new java.io.File(s"$dir/data/orphan-commit").exists())
    // …zero grace sweeps it; live files untouched
    assert(Snapshot.vacuum(spark, dir, keepLast = 5, orphanGraceMs = 0L) > 0)
    assert(!new java.io.File(s"$dir/data/orphan-commit").exists())
    assert(rows(Snapshot.read(spark, dir)) == rows(base))
  }

  test("orphanReport lists crashed-writer debris without deleting; removeOrphans sweeps exactly that list, live files untouched") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)
    // crashed commit: files written, manifest never published
    Seq((99L, "orphan", 0.0)).toDF("id", "name", "score")
      .write.parquet(s"$dir/data/crashed-commit")
    // inside the grace window: listed by NOTHING, deleted by nothing
    assert(Snapshot.orphanReport(spark, dir).isEmpty)
    assert(Snapshot.removeOrphans(spark, dir).isEmpty)
    assert(new java.io.File(s"$dir/data/crashed-commit").exists())
    // zero grace: the dry run lists exactly the debris (with sizes)…
    val rep = Snapshot.orphanReport(spark, dir, orphanGraceMs = 0L).collect()
    assert(rep.nonEmpty && rep.forall(r =>
      r.getString(0).startsWith("data/crashed-commit/") && r.getLong(1) >= 0L))
    assert(new java.io.File(s"$dir/data/crashed-commit").exists(),
      "the dry run must not delete anything")
    // …and the sweep deletes exactly that list
    val deleted = Snapshot.removeOrphans(spark, dir, orphanGraceMs = 0L)
    assert(deleted.toSet == rep.map(_.getString(0)).toSet)
    assert(!new java.io.File(s"$dir/data/crashed-commit").exists())
    assert(rows(Snapshot.read(spark, dir)) == rows(base))
    assert(Snapshot.orphanReport(spark, dir, orphanGraceMs = 0L).isEmpty)
  }

  test("readAsOf resolves the newest version at-or-before the timestamp; changes() yields the catch-up diff") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)                                   // v1
    val t1 = System.currentTimeMillis()
    Thread.sleep(5)
    Snapshot.upsert(spark, dir,
      Seq((2L, "b2", 20.0, false), (5L, "e", 5.0, false), (3L, "c", 3.0, true))
        .toDF("id", "name", "score", "is_deleted"),
      Seq("id"), Some("is_deleted"))                                    // v2
    assert(rows(Snapshot.readAsOf(spark, dir, t1)) == rows(base))
    assert(rows(Snapshot.readAsOf(spark, dir, System.currentTimeMillis())) ==
      rows(Snapshot.readVersion(spark, dir, 2)))
    intercept[IllegalStateException] { Snapshot.readAsOf(spark, dir, 0L) }
    val diff = Snapshot.changes(spark, dir, 1L, 2L, Seq("id")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3))).toSet
    assert(diff == Set(
      (2L, "b2", 20.0, "changed"),
      (5L, "e", 5.0, "added"),
      (3L, "c", 3.0, "removed")), diff.toString)
  }

  test("exactly-once cursor is writer-scoped: a NEW streaming query's batch 0 against an existing table applies instead of silently skipping") {
    import spark.implicits._
    val dir = tmp() + "/t"
    val sc = spark.sparkContext
    try {
      // query A writes batches 0 and 1
      sc.setLocalProperty("sql.streaming.queryId", "query-A")
      Refresh.applySnapshotCdcBatch(base.withColumn("is_deleted", lit(false)),
        0L, Seq("id"), Some("is_deleted"), dir)
      Refresh.applySnapshotCdcBatch(
        Seq((5L, "e", 5.0, false)).toDF("id", "name", "score", "is_deleted"),
        1L, Seq("id"), Some("is_deleted"), dir)
      assert(Snapshot.read(spark, dir).count() == 5L)
      // a FRESH checkpoint (new query id) restarts batch ids at 0 —
      // its batch 0 must APPLY, not match query A's high-water mark
      sc.setLocalProperty("sql.streaming.queryId", "query-B")
      Refresh.applySnapshotCdcBatch(
        Seq((6L, "f", 6.0, false)).toDF("id", "name", "score", "is_deleted"),
        0L, Seq("id"), Some("is_deleted"), dir)
      assert(rows(Snapshot.read(spark, dir)).contains((6L, "f", 6.0)),
        "new writer's batch 0 was silently skipped by the old writer's cursor")
      // and query B's own replay of batch 0 IS a no-op
      val vAfter = Snapshot.latestVersion(spark, dir).get
      Refresh.applySnapshotCdcBatch(
        Seq((6L, "f", 6.0, false)).toDF("id", "name", "score", "is_deleted"),
        0L, Seq("id"), Some("is_deleted"), dir)
      assert(Snapshot.latestVersion(spark, dir).get == vAfter, "replay minted a new version")
    } finally sc.setLocalProperty("sql.streaming.queryId", null)
  }

  test("data skipping: a selective predicate on a range-clustered table prunes files from manifest stats alone") {
    import spark.implicits._
    val dir = tmp() + "/t"
    // 100 ids range-clustered into 4 files → disjoint per-file id ranges
    val wide = (1L to 100L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "score")
    Snapshot.commit(spark, dir, wide.repartitionByRange(4, col("id")))
    val all = Snapshot.candidateFilePaths(spark, dir, 1L, lit(true))
    assert(all.size == 4, s"expected 4 data files, got ${all.size}")
    // point lookup: exactly one file's [min,max] can contain id=7
    val eq = Snapshot.candidateFilePaths(spark, dir, 1L, col("id") === 7L)
    assert(eq.size == 1, s"id=7 should prune to 1 file, kept ${eq.size}")
    // range predicate: top-quartile ids live in one file
    val gt = Snapshot.candidateFilePaths(spark, dir, 1L, col("id") > 90L)
    assert(gt.size == 1, s"id>90 should prune to 1 file, kept ${gt.size}")
    // string stats prune too
    assert(Snapshot.candidateFilePaths(spark, dir, 1L, col("name") === "zzz").isEmpty)
    // and the PRUNED scan still answers correctly end-to-end
    assert(Snapshot.read(spark, dir).where(col("id") === 7L)
      .select(col("name")).collect().map(_.getString(0)).toSeq == Seq("n7"))
    assert(Snapshot.read(spark, dir).where(col("id") > 90L).count() == 10L)
  }

  test("upsert uses key-range stats: one changed key on a range-clustered table rewrites exactly one file") {
    import spark.implicits._
    val dir = tmp() + "/t"
    val wide = (1L to 100L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "score")
    Snapshot.commit(spark, dir, wide.repartitionByRange(4, col("id")))
    Snapshot.upsert(spark, dir, Seq((7L, "CHANGED", -7.0)).toDF("id", "name", "score"), Seq("id"))
    def manifestFiles(v: Long): Set[String] =
      Snapshot.filesForTest(spark, dir, v).map(_._1).toSet
    val carried = manifestFiles(1L).intersect(manifestFiles(2L))
    assert(carried.size == 3, s"expected 3 of 4 files carried untouched, got ${carried.size}")
    // and the upsert's DELTA names only the swap: 1 added file, 1 removed
    val v2raw = rawVersionJson(dir, "v000000002.json")
    assert("\"path\":\"data/".r.findAllIn(v2raw).size == 1, "delta must add exactly one file")
    assert("\"remove\":\\[\"data/".r.findAllIn(v2raw).size == 1, "delta must remove exactly one file")
    assert(rows(Snapshot.read(spark, dir)).contains((7L, "CHANGED", -7.0)))
    assert(Snapshot.read(spark, dir).count() == 100L)
  }

  test("schema evolution: upsert with an added column null-fills old rows at the new version; the old version is unchanged") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base.repartition(2, col("id") % 2))          // v1
    val changes = Seq((2L, "b2", 20.0, "eu"), (5L, "e", 5.0, "us"))
      .toDF("id", "name", "score", "region")                                 // NEW column
    Snapshot.upsert(spark, dir, changes, Seq("id"))                          // v2
    val v2 = Snapshot.readVersion(spark, dir, 2)
    assert(v2.columns.toSeq == Seq("id", "name", "score", "region"))
    val byId = v2.collect().map(r => r.getLong(0) -> Option(r.getString(3))).toMap
    assert(byId(2L).contains("eu") && byId(5L).contains("us"))
    // rows from untouched files AND unmodified rows in rewritten files read back null
    assert(byId(1L).isEmpty && byId(3L).isEmpty && byId(4L).isEmpty)
    // time travel: v1 still has the ORIGINAL schema
    assert(Snapshot.readVersion(spark, dir, 1).columns.toSeq == Seq("id", "name", "score"))
    // type drift is refused loudly
    intercept[IllegalArgumentException] {
      Snapshot.upsert(spark, dir,
        Seq((1L, "x", 1.0, 9L)).toDF("id", "name", "score", "region"), Seq("id"))
    }
  }

  test("schema evolution: append with a new column evolves the table; appended rows null-fill columns they lack") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)                                        // v1
    Snapshot.append(spark, dir,
      Seq((9L, 0.99)).toDF("id", "weight"))                                  // v2: new col, missing name/score
    val v2 = Snapshot.read(spark, dir)
    assert(v2.columns.toSeq == Seq("id", "name", "score", "weight"))
    val r9 = v2.where(col("id") === 9L).collect().head
    assert(r9.isNullAt(1) && r9.isNullAt(2) && r9.getDouble(3) == 0.99)
    assert(v2.where(col("id") === 1L).collect().head.isNullAt(3))
    assert(v2.count() == 5L)
  }

  test("exactly-once snapshot CDC sink: a replayed batch id is a no-op; distinct ids apply once each") {
    import spark.implicits._
    val dir = tmp() + "/t"
    val b0 = base.withColumn("is_deleted", lit(false))
    Refresh.applySnapshotCdcBatch(b0, 0L, Seq("id"), Some("is_deleted"), dir)
    val b1 = Seq((2L, "b2", 20.0, false), (5L, "e", 5.0, false), (3L, "c", 3.0, true))
      .toDF("id", "name", "score", "is_deleted")
    Refresh.applySnapshotCdcBatch(b1, 1L, Seq("id"), Some("is_deleted"), dir)
    val vAfter = Snapshot.latestVersion(spark, dir).get
    // REPLAY batch 1 (restart after crash-before-checkpoint-commit)
    Refresh.applySnapshotCdcBatch(b1, 1L, Seq("id"), Some("is_deleted"), dir)
    assert(Snapshot.latestVersion(spark, dir).get == vAfter, "replay minted a new version")
    assert(rows(Snapshot.read(spark, dir)) ==
      Set((1L, "a", 1.0), (2L, "b2", 20.0), (4L, "d", 4.0), (5L, "e", 5.0)))
    // next batch still applies
    Refresh.applySnapshotCdcBatch(
      Seq((6L, "f", 6.0, false)).toDF("id", "name", "score", "is_deleted"),
      2L, Seq("id"), Some("is_deleted"), dir)
    assert(rows(Snapshot.read(spark, dir)).contains((6L, "f", 6.0)))
  }

  private def fileSizes(paths: Seq[String]): Map[String, Long] =
    paths.map { p =>
      val local = p.stripPrefix("file:")
      p -> new java.io.File(local).length()
    }.toMap

  test("optimize rewrites only the small-file residue; well-sized files carry over by reference; a no-op mints no version") {
    import spark.implicits._
    val dir = tmp() + "/t"
    // one well-sized file + four tiny appended files (the streaming-ingest tail)
    val big = (1L to 5000L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "score")
    Snapshot.commit(spark, dir, big.repartition(1))                          // v1
    (0 until 4).foreach { k =>
      val tail = Seq((10000L + k, s"t$k", k.toDouble)).toDF("id", "name", "score")
      Snapshot.append(spark, dir, tail.repartition(1))                       // v2..v5
    }
    val before = Snapshot.read(spark, dir).inputFiles.toSeq
    assert(before.size == 5)
    val sizes = fileSizes(before)
    val bigPath = sizes.maxBy(_._2)._1
    // threshold between the big file and the tail: exactly the 4 tiny files qualify
    val v = Snapshot.optimize(spark, dir, smallBytes = sizes(bigPath)).get
    assert(v == 6L)
    val after = Snapshot.read(spark, dir).inputFiles.toSeq
    assert(after.size == 2, s"expected big + 1 merged file, got ${after.size}")
    assert(after.contains(bigPath), "well-sized file was rewritten instead of carried by reference")
    assert(Snapshot.read(spark, dir).count() == 5004L)
    assert(Snapshot.read(spark, dir).where(col("id") >= 10000L).count() == 4L)
    // old version pinned pre-optimize still reads its exact file set
    assert(Snapshot.readVersion(spark, dir, 5L).count() == 5004L)
    val h = Snapshot.history(spark, dir).collect().last
    assert(h.getLong(0) == 6L && h.getString(1) == "optimize")
    // converged: only the merged residue remains below threshold → no-op, no version
    assert(Snapshot.optimize(spark, dir, smallBytes = sizes(bigPath)).isEmpty)
    assert(Snapshot.latestVersion(spark, dir).contains(6L))
  }

  test("optimize clusterBy restores data skipping over interleaved appends") {
    import spark.implicits._
    val dir = tmp() + "/t"
    // 4 interleaved appends: every file's id range spans [1,400] →
    // a selective predicate can prune NOTHING before optimize
    (0 until 4).foreach { k =>
      val slice = (1L to 400L).filter(_ % 4 == k)
        .map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "score")
      if (k == 0) Snapshot.commit(spark, dir, slice.repartition(1))
      else Snapshot.append(spark, dir, slice.repartition(1))
    }
    val v0 = Snapshot.latestVersion(spark, dir).get
    assert(Snapshot.candidateFilePaths(spark, dir, v0, col("id") <= 100L).size == 4,
      "interleaved appends should defeat skipping before optimize")
    val total = fileSizes(Snapshot.read(spark, dir).inputFiles.toSeq).values.sum
    // target ≈ quarter of the residue → 4 range-disjoint output files
    val v = Snapshot.optimize(spark, dir, targetBytes = math.max(1L, total / 4),
      smallBytes = Long.MaxValue, clusterBy = Seq("id")).get
    val kept = Snapshot.candidateFilePaths(spark, dir, v, col("id") <= 100L)
    val all = Snapshot.candidateFilePaths(spark, dir, v, lit(true))
    assert(all.size >= 3, s"expected multiple range-clustered files, got ${all.size}")
    assert(kept.size < all.size,
      s"clusterBy optimize should restore pruning: kept ${kept.size} of ${all.size}")
    assert(Snapshot.read(spark, dir).count() == 400L)
    assert(Snapshot.read(spark, dir).where(col("id") <= 100L).count() == 100L)
  }

  test("optimizeReport: metadata-only size census flags the small-file residue and projects the merge") {
    import spark.implicits._
    val dir = tmp() + "/t"
    val big = (1L to 5000L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "score")
    Snapshot.commit(spark, dir, big.repartition(1))
    (0 until 3).foreach { k =>
      Snapshot.append(spark, dir,
        Seq((9000L + k, s"t$k", k.toDouble)).toDF("id", "name", "score").repartition(1))
    }
    val sizes = fileSizes(Snapshot.read(spark, dir).inputFiles.toSeq)
    val bigBytes = sizes.values.max
    val rep = Snapshot.optimizeReport(spark, dir,
      smallBytes = bigBytes, targetBytes = 1L << 30).collect()
    val (small, kept) = rep.partition(_.getAs[Boolean]("would_rewrite"))
    assert(small.map(_.getAs[Long]("n_files")).sum == 3, rep.mkString("; "))
    assert(kept.map(_.getAs[Long]("n_files")).sum == 1)
    // 3 tiny files fold into ONE projected output at a 1 GiB target
    assert(small.forall(_.getAs[Long]("projected_files_after") == 1L))
    // the census is pure manifest metadata: bytes must reconcile with disk
    assert(rep.map(_.getAs[Long]("bytes")).sum == sizes.values.sum)
  }

  test("optimize zorderBy: a box predicate on BOTH dimensions prunes the rewritten residue") {
    import spark.implicits._
    val dir = tmp() + "/t"
    // 32×32 grid arriving as 4 interleaved appends — no per-file
    // locality in either dimension before optimize
    (0 until 4).foreach { k =>
      val slice = (0 until 1024).filter(_ % 4 == k)
        .map(i => ((i % 32).toLong, (i / 32).toLong, i.toLong)).toDF("x", "y", "id")
      if (k == 0) Snapshot.commit(spark, dir, slice.repartition(1))
      else Snapshot.append(spark, dir, slice.repartition(1))
    }
    val total = fileSizes(Snapshot.read(spark, dir).inputFiles.toSeq).values.sum
    val v = Snapshot.optimize(spark, dir, targetBytes = math.max(1L, total / 8),
      smallBytes = Long.MaxValue, zorderBy = Some(("x", "y"))).get
    val box = col("x") < 8L && col("y") < 8L
    val all = Snapshot.candidateFilePaths(spark, dir, v, lit(true))
    val kept = Snapshot.candidateFilePaths(spark, dir, v, box)
    assert(all.size >= 4, s"expected several z-ordered files, got ${all.size}")
    assert(kept.size < all.size,
      s"z-order should prune the 2-D box: kept ${kept.size} of ${all.size}")
    assert(Snapshot.read(spark, dir).where(box).count() == 64L)
    assert(Snapshot.read(spark, dir).count() == 1024L)
  }

  test("pin-aware vacuum: alsoKeep = pinnedVersionsOf keeps a pinned version readable past the retention window") {
    import spark.implicits._
    val root = tmp()
    val (dir, meta) = (root + "/t", root + "/meta")
    Snapshot.commit(spark, dir, base)                                        // v1
    Snapshot.append(spark, dir, Seq((5L, "e", 5.0)).toDF("id", "name", "score")) // v2
    val pin = Snapshot.pinTables(spark, meta, Map("t" -> dir))               // pins v2
    Snapshot.commit(spark, dir, base)                                        // v3
    Snapshot.commit(spark, dir, base)                                        // v4
    val keep = Snapshot.pinnedVersionsOf(spark, meta, dir)
    assert(keep == Set(2L))
    Snapshot.vacuum(spark, dir, keepLast = 1, alsoKeep = keep)
    // the pinned version survives retention; unpinned history is gone
    assert(Snapshot.readPinned(spark, meta, pin, "t").count() == 5L)
    assert(Snapshot.versions(spark, dir) == Seq(2L, 4L))
    intercept[Exception] { Snapshot.readVersion(spark, dir, 1L).count() }
  }

  test("multi-table pin: one pin freezes a consistent set of table versions across later commits") {
    import spark.implicits._
    val root = tmp()
    val (dirA, dirB, meta) = (root + "/a", root + "/b", root + "/meta")
    Snapshot.commit(spark, dirA, base)                                       // a@v1
    Snapshot.commit(spark, dirB,
      Seq((1L, 100.0), (2L, 200.0)).toDF("id", "amount"))                    // b@v1
    val pin1 = Snapshot.pinTables(spark, meta, Map("a" -> dirA, "b" -> dirB))
    assert(pin1 == 1L)
    // both tables move on
    Snapshot.upsert(spark, dirA, Seq((2L, "b2", 20.0)).toDF("id", "name", "score"), Seq("id"))
    Snapshot.commit(spark, dirB, Seq((1L, -1.0)).toDF("id", "amount"))
    val pin2 = Snapshot.pinTables(spark, meta, Map("a" -> dirA, "b" -> dirB))
    assert(Snapshot.pins(spark, meta) == Seq(1L, 2L))
    assert(Snapshot.pinnedVersions(spark, meta, pin1) ==
      Map("a" -> ((dirA, 1L)), "b" -> ((dirB, 1L))))
    // pin 1 still reads the ORIGINAL pair — cross-table consistency
    assert(rows(Snapshot.readPinned(spark, meta, pin1, "a")) == rows(base))
    assert(Snapshot.readPinned(spark, meta, pin1, "b").agg(sum(col("amount")))
      .collect().head.getDouble(0) == 300.0)
    // pin 2 reads the current pair; a joined report over the pinned set is stable
    assert(rows(Snapshot.readPinned(spark, meta, pin2, "a")).contains((2L, "b2", 20.0)))
    assert(Snapshot.readPinned(spark, meta, pin2, "b").count() == 1L)
    intercept[IllegalArgumentException] {
      Snapshot.readPinned(spark, meta, pin1, "missing")
    }
  }

  // ---------------------------------------------------------------
  // merge-on-read deletion vectors + restore
  // ---------------------------------------------------------------

  // fully-resolved (path, dvPath, dvDeleted) entries of a version
  private def entries(dir: String, v: Long): Seq[(String, Option[String], Long)] =
    Snapshot.filesForTest(spark, dir, v)

  // RAW version-file JSON (delta or full) — for format-shape asserts only
  private def rawVersionJson(dir: String, name: String): String = {
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(s"$dir/_versions/$name")
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def dataPartFiles(dir: String, v: Long): Set[String] =
    entries(dir, v).map(_._1).toSet

  test("deleteWhere is merge-on-read: zero data files rewritten, read excludes the rows, time travel unaffected") {
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base.repartition(2, col("id") % 2)) // v1: two files
    val v = Snapshot.deleteWhere(spark, dir, col("id") === 1L)
    assert(v.contains(2L))
    // every v1 data file carries into v2 BY REFERENCE — merge-on-read
    assert(dataPartFiles(dir, 1L) == dataPartFiles(dir, 2L),
      "deleteWhere rewrote a data file — not merge-on-read")
    assert(entries(dir, 2L).exists(_._2.isDefined), "expected a dv reference")
    assert(rows(Snapshot.read(spark, dir)) ==
      Set((2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0)))
    // version 1 still reads every row
    assert(rows(Snapshot.readVersion(spark, dir, 1L)) == rows(base))
    // pushed predicates still work through the dv anti join
    assert(rows(Snapshot.read(spark, dir).where(col("id") <= 2L)) ==
      Set((2L, "b", 2.0)))
    // a delete matching nothing mints no version
    assert(Snapshot.deleteWhere(spark, dir, col("id") === 99L).isEmpty)
    assert(Snapshot.versions(spark, dir) == Seq(1L, 2L))
  }

  test("deleteWhere drops a fully-dead file from the manifest outright (metadata-only)") {
    val dir = tmp() + "/t"
    // range layout: file [1,2] and file [3,4]
    Snapshot.commit(spark, dir, base.repartitionByRange(2, col("id")))
    Snapshot.deleteWhere(spark, dir, col("id") <= 2L) // kills the whole low file
    val h = Snapshot.history(spark, dir).collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(h(2L) == 1L, s"expected the dead file dropped, manifest has ${h(2L)} files")
    // the surviving file is untouched and carries NO dv (its rows all live —
    // the delete's stats pruning never even scanned it)
    assert(entries(dir, 2L).forall(_._2.isEmpty))
    assert(rows(Snapshot.read(spark, dir)) == Set((3L, "c", 3.0), (4L, "d", 4.0)))
  }

  test("a second delete on the same file merges the dv (old positions union new)") {
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base.repartition(1))
    Snapshot.deleteWhere(spark, dir, col("id") === 1L) // v2: dv {1}
    Snapshot.deleteWhere(spark, dir, col("id") === 3L) // v3: dv {1, 3} merged
    assert(entries(dir, 3L).map(_._3).sum == 2L)
    assert(rows(Snapshot.read(spark, dir)) == Set((2L, "b", 2.0), (4L, "d", 4.0)))
    // intermediate version sees only the first delete
    assert(rows(Snapshot.readVersion(spark, dir, 2L)) ==
      Set((2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0)))
  }

  test("upsert on a dv'd file does not resurrect deleted rows and materializes the dv away") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base.repartition(1))
    Snapshot.deleteWhere(spark, dir, col("id") === 1L)
    Snapshot.upsert(spark, dir,
      Seq((3L, "c2", 30.0)).toDF("id", "name", "score"), Seq("id"))
    assert(rows(Snapshot.read(spark, dir)) ==
      Set((2L, "b", 2.0), (3L, "c2", 30.0), (4L, "d", 4.0)))
    assert(entries(dir, 3L).forall(_._2.isEmpty),
      "rewrite must purge the deletion vector")
  }

  test("optimize treats every dv'd file as residue and purges its deletion vector") {
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base.repartition(2, col("id") % 2))
    Snapshot.deleteWhere(spark, dir, col("id") === 1L)
    // smallBytes = 0: nothing qualifies by size — dv'd files must still rewrite
    val v = Snapshot.optimize(spark, dir, smallBytes = 0L, minFiles = 1)
    assert(v.contains(3L))
    assert(entries(dir, 3L).forall(_._2.isEmpty))
    assert(rows(Snapshot.read(spark, dir)) ==
      Set((2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0)))
  }

  test("vacuum keeps dv datasets of retained versions and sweeps them once unreferenced") {
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base.repartition(1))          // v1
    Snapshot.deleteWhere(spark, dir, col("id") === 1L)        // v2: dv
    val dvDir = entries(dir, 2L).flatMap(_._2).head
    Snapshot.compact(spark, dir, targetBytes = Long.MaxValue) // v3: dv-free
    Snapshot.vacuum(spark, dir, keepLast = 2, orphanGraceMs = 0L) // drops v1 only
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.exists(new org.apache.hadoop.fs.Path(s"$dir/$dvDir")),
      "vacuum swept a dv dataset still referenced by a retained version")
    assert(rows(Snapshot.readVersion(spark, dir, 2L)) ==
      Set((2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0)))
    Snapshot.vacuum(spark, dir, keepLast = 1, orphanGraceMs = 0L) // drops v2
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dir/$dvDir")),
      "vacuum kept an unreferenced dv dataset")
    assert(rows(Snapshot.read(spark, dir)) ==
      Set((2L, "b", 2.0), (3L, "c", 3.0), (4L, "d", 4.0)))
  }

  test("restore rolls the table back as a metadata-only commit; the rolled-back versions stay readable") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)                                           // v1
    Snapshot.upsert(spark, dir,
      Seq((1L, "bad", -1.0)).toDF("id", "name", "score"), Seq("id"))            // v2
    val before = dataPartFiles(dir, 1L) ++ dataPartFiles(dir, 2L)
    val v3 = Snapshot.restore(spark, dir, 1L)
    assert(v3 == 3L)
    // metadata-only: v3 references exactly v1's files, nothing new written
    assert(dataPartFiles(dir, 3L) == dataPartFiles(dir, 1L))
    assert((dataPartFiles(dir, 3L) -- before).isEmpty)
    assert(rows(Snapshot.read(spark, dir)) == rows(base))
    // the bad version is still there for forensics
    assert(rows(Snapshot.readVersion(spark, dir, 2L)).contains((1L, "bad", -1.0)))
    assert(Snapshot.history(spark, dir).collect().map(_.getString(1)).last == "restore")
  }

  // ---------------------------------------------------------------
  // delta-log manifests: O(changes) commit metadata + checkpoints
  // ---------------------------------------------------------------

  test("a commit past v1 writes an O(changes) DELTA, not a full file listing") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base.repartition(4))                 // v1: full, 4 files
    Snapshot.append(spark, dir,
      Seq((9L, "z", 9.0)).toDF("id", "name", "score").repartition(1)) // v2: 1 added file
    val v1 = rawVersionJson(dir, "v000000001.json")
    val v2 = rawVersionJson(dir, "v000000002.json")
    assert(v1.contains("\"files\":["), "v1 must carry the full listing")
    assert(!v2.contains("\"files\":["), "a later commit must be a delta")
    assert(v2.contains("\"add\":["))
    // the delta names ONLY the appended file — a fraction of the table
    assert("data/[^\"]*part-".r.findAllIn(v2).size == 1,
      "append delta must serialize exactly the added entries")
    // reconstruction still resolves the full carried + added state
    assert(entries(dir, 2L).size == entries(dir, 1L).size + 1)
    assert(rows(Snapshot.read(spark, dir)) == rows(base) + ((9L, "z", 9.0)))
  }

  test("every CheckpointInterval-th commit writes a checkpoint sidecar that bounds reconstruction") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)
    (2L to Snapshot.CheckpointInterval).foreach { k =>
      Snapshot.append(spark, dir, Seq((100L + k, s"x$k", k.toDouble))
        .toDF("id", "name", "score"))
    }
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.exists(new org.apache.hadoop.fs.Path(
      s"$dir/_versions/" + f"c${Snapshot.CheckpointInterval}%09d.json")),
      "expected a checkpoint at the interval boundary")
    assert(Snapshot.read(spark, dir).count() ==
      base.count() + Snapshot.CheckpointInterval - 1)
  }

  test("vacuum writes chain-head checkpoints so non-contiguous retained versions survive the dropped deltas") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)                                       // v1
    (2L to 5L).foreach { k =>
      Snapshot.append(spark, dir, Seq((100L + k, s"x$k", k.toDouble))
        .toDF("id", "name", "score"))                                      // v2..v5
    }
    // keep {2, 4, 5}: v2 and v4 become chain heads (v1, v3 dropped)
    Snapshot.vacuum(spark, dir, keepLast = 2, orphanGraceMs = 0L, alsoKeep = Set(2L))
    assert(Snapshot.versions(spark, dir) == Seq(2L, 4L, 5L))
    assert(Snapshot.readVersion(spark, dir, 2L).count() == 5L)
    assert(Snapshot.readVersion(spark, dir, 4L).count() == 7L)
    assert(Snapshot.readVersion(spark, dir, 5L).count() == 8L)
    // and the dropped versions fail loudly, as before
    intercept[Exception] { Snapshot.readVersion(spark, dir, 3L).count() }
  }

  // ---------------------------------------------------------------
  // CHECK constraints + per-commit operation metrics
  // ---------------------------------------------------------------

  test("CHECK constraint gates writes: a violating commit aborts with no version, a passing one lands, drop lifts the gate") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)                                   // v1
    Snapshot.addConstraint(spark, dir, "score_pos", "score > 0")       // v2 (alter)
    assert(Snapshot.constraintsOf(spark, dir) == Map("score_pos" -> "score > 0"))
    val bad = Seq((8L, "h", -8.0)).toDF("id", "name", "score")
    val ex = intercept[IllegalArgumentException] { Snapshot.append(spark, dir, bad) }
    assert(ex.getMessage.contains("score_pos"))
    // the aborted write minted NO version and left no readable rows
    assert(Snapshot.versions(spark, dir) == Seq(1L, 2L))
    assert(Snapshot.read(spark, dir).count() == 4L)
    // a passing append lands; upserts are gated too
    Snapshot.append(spark, dir, Seq((9L, "z", 9.0)).toDF("id", "name", "score")) // v3
    intercept[IllegalArgumentException] {
      Snapshot.upsert(spark, dir, Seq((1L, "a", -1.0)).toDF("id", "name", "score"), Seq("id"))
    }
    assert(rows(Snapshot.read(spark, dir)).contains((1L, "a", 1.0)), "aborted upsert must not mutate")
    // a NULL predicate value passes (SQL CHECK semantics: only FALSE violates)
    Snapshot.append(spark, dir,
      Seq((10L, "j", Option.empty[Double])).toDF("id", "name", "score")) // v4
    // drop lifts the gate
    Snapshot.dropConstraint(spark, dir, "score_pos")                   // v5
    Snapshot.append(spark, dir, bad)                                   // v6 now fine
    assert(Snapshot.read(spark, dir).where(col("score") === -8.0).count() == 1L)
  }

  /** Spark jobs `body` runs, counted by a listener. */
  private def jobsOf(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.BusDrainForTest(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; org.apache.spark.BusDrainForTest(spark.sparkContext); n.get }
    finally spark.sparkContext.removeSparkListener(l)
  }

  private def commitDirs(dir: String): Set[String] =
    Option(new java.io.File(s"$dir/data").listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getName).toSet

  test("a commit or append of a no-shuffle frame runs ONE job, with or without a CHECK constraint") {
    import spark.implicits._
    val dir = tmp() + "/t"
    def batch(from: Long) = (from until from + 20L).map(i => (i, s"n$i", i.toDouble))
      .toDF("id", "name", "score")
    assert(jobsOf(Snapshot.commit(spark, dir, batch(1L))) == 1)
    assert(jobsOf(Snapshot.append(spark, dir, batch(100L))) == 1)
    Snapshot.addConstraint(spark, dir, "score_pos", "score > 0")
    assert(jobsOf(Snapshot.commit(spark, dir, batch(1L))) == 1)
    assert(jobsOf(Snapshot.append(spark, dir, batch(100L))) == 1)
    assert(Snapshot.read(spark, dir).count() == 40L)
  }

  test("a CHECK-violating append aborts: unchanged message, no version, no data dir left behind") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)
    Snapshot.addConstraint(spark, dir, "score_pos", "score > 0")
    val versions = Snapshot.versions(spark, dir)
    val dirs = commitDirs(dir)
    val bad = Seq((8L, "h", -8.0), (9L, "i", 9.0), (10L, "j", -1.0))
      .toDF("id", "name", "score").repartition(2)
    val ex = intercept[IllegalArgumentException] { Snapshot.append(spark, dir, bad) }
    assert(ex.getMessage == s"CHECK constraint violated at $dir: " +
      "'score_pos' (score > 0) by 2 row(s) — commit aborted, no version published")
    assert(Snapshot.versions(spark, dir) == versions)
    assert(commitDirs(dir) == dirs, "the aborted commit's data dir must be removed")
  }

  test("a stray part- file in the commit dir that no task named is pruned and never referenced") {
    val dir = tmp() + "/t"
    // a failed attempt's leftover, dropped into the commit dir mid-write
    val stray = udf { (id: Long) =>
      if (id == 50L) new java.io.File(s"$dir/data").listFiles().foreach { d =>
        Files.write(new java.io.File(d, "part-00007-stray.snappy.parquet").toPath,
          Array[Byte](1, 2, 3))
      }
      id
    }
    Snapshot.commit(spark, dir, spark.range(0, 100, 1, 1).select(stray(col("id")).as("id")))
    val files = Snapshot.filesForTest(spark, dir, 1L).map(_._1)
    assert(files.size == 1 && !files.exists(_.contains("stray")))
    val onDisk = commitDirs(dir).toSeq.flatMap(d =>
      new java.io.File(s"$dir/data/$d").listFiles().map(f => s"data/$d/${f.getName}"))
      .filterNot(_.split('/').last.startsWith("."))
    assert(onDisk == files, s"only task-named files may remain: $onDisk")
    assert(Snapshot.read(spark, dir).count() == 100L)
  }

  test("addConstraint validates EXISTING rows and refuses when they violate") {
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)
    intercept[IllegalArgumentException] {
      Snapshot.addConstraint(spark, dir, "impossible", "score > 3.5")
    }
    assert(Snapshot.constraintsOf(spark, dir).isEmpty)
    assert(Snapshot.versions(spark, dir) == Seq(1L))
  }

  test("shallow clone: zero-copy table that diverges without ever touching the source") {
    import spark.implicits._
    val root = tmp()
    val (src, dst) = (root + "/src", root + "/clone")
    Snapshot.commit(spark, src, base.repartitionByRange(2, col("id"))) // files [1,2] [3,4]
    Snapshot.addConstraint(spark, src, "score_pos", "score > 0")
    assert(Snapshot.cloneShallow(spark, src, dst) == 1L)
    val f = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // METADATA-ONLY: the clone has no data dir of its own yet
    assert(!f.exists(new org.apache.hadoop.fs.Path(s"$dst/data")))
    assert(rows(Snapshot.read(spark, dst)) == rows(base))
    // table state (constraints) rides along
    intercept[IllegalArgumentException] {
      Snapshot.append(spark, dst, Seq((8L, "h", -8.0)).toDF("id", "name", "score"))
    }
    // the clone diverges: upsert rewrites a foreign file LOCALLY, delete
    // dv's a local file — the source never changes
    Snapshot.upsert(spark, dst,
      Seq((1L, "cloned", 10.0)).toDF("id", "name", "score"), Seq("id"))  // v2
    Snapshot.deleteWhere(spark, dst, col("id") === 2L)                   // v3
    assert(rows(Snapshot.read(spark, dst)) ==
      Set((1L, "cloned", 10.0), (3L, "c", 3.0), (4L, "d", 4.0)))
    assert(rows(Snapshot.read(spark, src)) == rows(base))
    // the clone's vacuum owns only its own data dir: dropping clone
    // history never deletes through a foreign reference
    Snapshot.vacuum(spark, dst, keepLast = 1, orphanGraceMs = 0L)
    assert(rows(Snapshot.read(spark, dst)) ==
      Set((1L, "cloned", 10.0), (3L, "c", 3.0), (4L, "d", 4.0)))
    assert(rows(Snapshot.read(spark, src)) == rows(base))
  }

  test("history carries per-commit operation metrics (rows_written, rows_deleted, files_*)") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)                                        // v1
    Snapshot.append(spark, dir, Seq((9L, "z", 9.0)).toDF("id", "name", "score")) // v2
    Snapshot.deleteWhere(spark, dir, col("id") <= 2L)                        // v3
    val h = Snapshot.history(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getMap[String, Long](5).toMap).toMap
    assert(h(1L)("rows_written") == 4L)
    assert(h(2L)("rows_written") == 1L && h(2L)("files_added") >= 1L)
    assert(h(3L)("rows_deleted") == 2L)
  }

  // -----------------------------------------------------------------
  // DSv2 BATCH read: spark.read.format("graft-snapshot")
  // -----------------------------------------------------------------

  test("DSv2 batch read: latest + versionAsOf/timestampAsOf time travel, file pruning from pushed filters, dv- and mapping-aware") {
    import spark.implicits._
    val dir = tmp() + "/t"
    val wide = (1L to 100L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "score")
    Snapshot.commit(spark, dir, wide.repartitionByRange(4, col("id")))      // v1
    val t1 = System.currentTimeMillis()
    Thread.sleep(5)
    Snapshot.deleteWhere(spark, dir, col("id") >= 10L && col("id") <= 19L)  // v2 (dv)
    Snapshot.renameColumn(spark, dir, "score", "points")                     // v3

    // latest: renamed column, dv rows gone
    val now = spark.read.format("graft-snapshot").load(dir)
    assert(now.columns.toSeq == Seq("id", "name", "points"))
    assert(now.count() == 90L)
    assert(now.where(col("id") === 15L).isEmpty, "dv'd row leaked through the DSv2 reader")
    assert(now.where(col("id") === 42L).select(col("points"))
      .collect()(0).getDouble(0) == 42.0)
    // aggregate sanity across dv + mapping
    assert(now.agg(sum(col("points"))).collect()(0).getDouble(0) ==
      (1L to 100L).map(_.toDouble).sum - (10L to 19L).map(_.toDouble).sum)

    // versionAsOf 1: pre-delete, pre-rename era
    val v1 = spark.read.format("graft-snapshot").option("versionAsOf", "1").load(dir)
    assert(v1.columns.toSeq == Seq("id", "name", "score"))
    assert(v1.count() == 100L)
    // versionAsOf also resolves TAG names, symmetric with the catalog
    Snapshot.createTag(spark, dir, "era1", Some(1L))
    val byTag = spark.read.format("graft-snapshot")
      .option("versionAsOf", "era1").load(dir)
    assert(byTag.count() == 100L && byTag.columns.toSeq == Seq("id", "name", "score"))
    intercept[Exception] {
      spark.read.format("graft-snapshot").option("versionAsOf", "nope").load(dir)
    }
    // timestampAsOf at v1's commit time resolves to v1
    val byTs = spark.read.format("graft-snapshot")
      .option("timestampAsOf", t1.toString).load(dir)
    assert(byTs.count() == 100L)

    // advisory file pruning: a point predicate on the range-clustered
    // key plans ONE input partition (of 4 files), on the RENAMED name
    val pruned = now.where(col("id") === 77L)
    assert(pruned.rdd.getNumPartitions == 1,
      s"expected 1 planned partition, got ${pruned.rdd.getNumPartitions}")
    assert(pruned.select(col("name")).collect().map(_.getString(0)).toSeq == Seq("n77"))
    // and an impossible predicate plans zero partitions
    assert(now.where(col("id") > 1000L).rdd.getNumPartitions == 0)
  }

  // -----------------------------------------------------------------
  // multi-clause MERGE INTO
  // -----------------------------------------------------------------

  test("mergeInto is file-granular without by-source clauses; a by-source clause goes table-wide by definition") {
    import spark.implicits._
    import graft.operators.Merge.{src, tgt, MatchedUpdate, NotMatchedInsertAll, NotMatchedBySourceDelete}
    val dir = tmp() + "/t"
    val wide = (1L to 100L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "score")
    Snapshot.commit(spark, dir, wide.repartitionByRange(4, col("id")))      // v1
    // keys 5 and 7 live in file 1 of 4; 200 is an insert
    val source = Seq((5L, 500.0), (7L, 700.0), (200L, 2000.0)).toDF("id", "v")
    Snapshot.mergeInto(spark, dir, source, Seq("id"), Seq(
      MatchedUpdate(None, Map("score" -> src("v"))),
      NotMatchedInsertAll(None)))                                           // v2
    def files(v: Long): Set[String] =
      Snapshot.filesForTest(spark, dir, v).map(_._1).toSet
    assert(files(1L).intersect(files(2L)).size == 3,
      "matched+insert merge must rewrite only the key-touched file")
    val now = Snapshot.read(spark, dir)
    assert(now.count() == 101L)
    assert(now.where(col("id") === 5L).select(col("score"))
      .collect()(0).getDouble(0) == 500.0)
    assert(now.where(col("id") === 200L).select(col("name"))
      .collect()(0).isNullAt(0), "INSERT * must null-fill the missing source column")
    val h = Snapshot.history(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(h(2L) == "merge")
    // by-source clause: every file is a candidate (key pruning is
    // unsound when absence from the source is what fires the clause)
    Snapshot.mergeInto(spark, dir, source, Seq("id"), Seq(
      MatchedUpdate(None, Map("score" -> src("v"))),
      NotMatchedBySourceDelete(Some(tgt("id") > 90L && tgt("id") < 100L)))) // v3
    assert(files(2L).intersect(files(3L)).isEmpty,
      "a by-source clause must rewrite the whole table")
    assert(Snapshot.read(spark, dir).count() == 92L) // 101 − ids 91..99
  }

  // -----------------------------------------------------------------
  // column mapping: metadata-only RENAME / DROP / ADD COLUMN
  // -----------------------------------------------------------------

  test("renameColumn is metadata-only: identical file set, new logical name, time travel reads the old name") {
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)                                        // v1
    val v2 = Snapshot.renameColumn(spark, dir, "score", "points")           // v2
    assert(v2 == 2L)
    def files(v: Long): Set[String] =
      Snapshot.filesForTest(spark, dir, v).map(_._1).toSet
    assert(files(1L) == files(2L), "rename must not touch a single data file")
    val now = Snapshot.read(spark, dir)
    assert(now.columns.toSeq == Seq("id", "name", "points"))
    assert(now.select(col("id"), col("points")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet ==
      Set((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)))
    // pre-rename version still reads under its own era's name
    assert(Snapshot.readVersion(spark, dir, 1L).columns.toSeq ==
      Seq("id", "name", "score"))
  }

  test("data skipping survives a rename: pruning works on the NEW logical name") {
    import spark.implicits._
    val dir = tmp() + "/t"
    val wide = (1L to 100L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "score")
    Snapshot.commit(spark, dir, wide.repartitionByRange(4, col("id")))
    Snapshot.renameColumn(spark, dir, "id", "row_id")
    // the pushed filter on the logical name rewrites through the rename
    // projection to the physical attribute the stats are keyed by
    val eq = Snapshot.candidateFilePaths(spark, dir, 2L, col("row_id") === 7L)
    assert(eq.size == 1, s"row_id=7 should prune to 1 file, kept ${eq.size}")
    assert(Snapshot.read(spark, dir).where(col("row_id") === 7L)
      .select(col("name")).collect().map(_.getString(0)).toSeq == Seq("n7"))
  }

  test("writes after a rename keep working on logical names; upsert stats-prunes on the renamed key") {
    import spark.implicits._
    val dir = tmp() + "/t"
    val wide = (1L to 100L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "score")
    Snapshot.commit(spark, dir, wide.repartitionByRange(4, col("id")))      // v1
    Snapshot.renameColumn(spark, dir, "id", "row_id")                        // v2
    Snapshot.append(spark, dir,
      Seq((101L, "n101", 101.0)).toDF("row_id", "name", "score"))            // v3
    Snapshot.upsert(spark, dir,
      Seq((7L, "CHANGED", -7.0)).toDF("row_id", "name", "score"), Seq("row_id")) // v4
    val now = Snapshot.read(spark, dir)
    assert(now.count() == 101L)
    assert(now.where(col("row_id") === 7L).select(col("name"))
      .collect().map(_.getString(0)).toSeq == Seq("CHANGED"))
    // file-granular: the upsert carried ≥3 of the 4 original files over
    def files(v: Long): Set[String] =
      Snapshot.filesForTest(spark, dir, v).map(_._1).toSet
    assert(files(1L).intersect(files(4L)).size >= 3,
      "renamed-key upsert must still be file-granular copy-on-write")
  }

  test("dropColumn hides data metadata-only; a re-added column starts empty (no resurrection)") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)                                        // v1
    val v2 = Snapshot.dropColumn(spark, dir, "score")                        // v2
    def files(v: Long): Set[String] =
      Snapshot.filesForTest(spark, dir, v).map(_._1).toSet
    assert(files(1L) == files(2L), "drop must not touch a single data file")
    assert(Snapshot.read(spark, dir).columns.toSeq == Seq("id", "name"))
    // time travel still reads the dropped column
    assert(Snapshot.readVersion(spark, dir, 1L).select(sum(col("score")))
      .collect()(0).getDouble(0) == 10.0)
    // re-add the same logical name: binds a FRESH physical slot, so the
    // old bytes (still sitting in v1's files) must NOT come back
    Snapshot.addColumn(spark, dir, "score", "DOUBLE")                        // v3
    val readded = Snapshot.read(spark, dir)
    assert(readded.columns.toSeq == Seq("id", "name", "score"))
    assert(readded.where(col("score").isNotNull).count() == 0L,
      "re-added column resurrected dropped data")
    // new writes fill only the new slot
    Snapshot.append(spark, dir, Seq((5L, "e", 50.0)).toDF("id", "name", "score")) // v4
    val after = Snapshot.read(spark, dir)
    assert(after.where(col("score").isNotNull).count() == 1L)
    assert(after.where(col("id") === 5L).select(col("score"))
      .collect()(0).getDouble(0) == 50.0)
  }

  test("rename swap via a temp name routes each logical name to the right physical bytes") {
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)
    Snapshot.renameColumn(spark, dir, "name", "tmp_swap")
    Snapshot.renameColumn(spark, dir, "score", "name")
    Snapshot.renameColumn(spark, dir, "tmp_swap", "score")
    // logical `name` now carries the old score doubles; `score` the strings
    val out = Snapshot.read(spark, dir)
      .select(col("id"), col("name"), col("score"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(out == Set((1L, 1.0, "a"), (2L, 2.0, "b"), (3L, 3.0, "c"), (4L, 4.0, "d")))
  }

  test("rename/drop refuse while a CHECK constraint references the column") {
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)
    Snapshot.addConstraint(spark, dir, "score_pos", "score >= 0")
    intercept[IllegalArgumentException] {
      Snapshot.renameColumn(spark, dir, "score", "points")
    }
    intercept[IllegalArgumentException] {
      Snapshot.dropColumn(spark, dir, "score")
    }
    Snapshot.dropConstraint(spark, dir, "score_pos")
    Snapshot.renameColumn(spark, dir, "score", "points") // now fine
    assert(Snapshot.read(spark, dir).columns.contains("points"))
  }

  test("restore and shallow clone carry the column mapping; deleteWhere prunes and deletes on the renamed name") {
    import spark.implicits._
    val dir = tmp() + "/t"
    val wide = (1L to 40L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "score")
    Snapshot.commit(spark, dir, wide.repartitionByRange(4, col("id")))      // v1
    Snapshot.renameColumn(spark, dir, "id", "row_id")                        // v2
    // merge-on-read delete through the renamed logical name
    Snapshot.deleteWhere(spark, dir, col("row_id") <= 5L)                    // v3
    assert(Snapshot.read(spark, dir).count() == 35L)
    // clone carries the mapping
    val cloneDir = tmp() + "/clone"
    Snapshot.cloneShallow(spark, dir, cloneDir)
    assert(Snapshot.read(spark, cloneDir).columns.toSeq == Seq("row_id", "name", "score"))
    assert(Snapshot.read(spark, cloneDir).count() == 35L)
    // restore to v1 brings the OLD name back (mapping is versioned state)
    Snapshot.restore(spark, dir, 1L)                                         // v4
    assert(Snapshot.read(spark, dir).columns.toSeq == Seq("id", "name", "score"))
    assert(Snapshot.read(spark, dir).count() == 40L)
  }

  // ---------------------------------------------------------------
  // row-level writers: updateWhere / replaceWhere
  // ---------------------------------------------------------------

  test("updateWhere is file-granular copy-on-write: stats-disjoint files carry by reference; no match mints no version") {
    val dir = tmp() + "/t"
    // range layout: file [1,2] and file [3,4] — the predicate only
    // touches the low range, so the high file must carry by reference
    Snapshot.commit(spark, dir, base.repartitionByRange(2, col("id")))
    val v = Snapshot.updateWhere(spark, dir, col("id") <= 2L,
      Map("score" -> (col("score") * 10), "name" -> concat(col("name"), lit("!"))))
    assert(v.contains(2L))
    assert(rows(Snapshot.read(spark, dir)) ==
      Set((1L, "a!", 10.0), (2L, "b!", 20.0), (3L, "c", 3.0), (4L, "d", 4.0)))
    // the untouched high file carries over BY REFERENCE
    assert(dataPartFiles(dir, 2L).intersect(dataPartFiles(dir, 1L)).size == 1)
    // time travel: v1 still reads pre-update values
    assert(rows(Snapshot.readVersion(spark, dir, 1L)) == rows(base))
    // history metrics record the update
    val met = Snapshot.history(spark, dir).where(col("version") === 2L)
      .select(col("metrics")).collect()(0).getMap[String, Long](0)
    assert(met("rows_updated") == 2L && met("files_rewritten") == 1L)
    // a predicate matching nothing mints no version (cron-safe)
    assert(Snapshot.updateWhere(spark, dir, col("id") === 99L,
      Map("score" -> lit(0.0))).isEmpty)
    assert(Snapshot.versions(spark, dir) == Seq(1L, 2L))
    // an unknown SET column is refused loudly
    intercept[IllegalArgumentException] {
      Snapshot.updateWhere(spark, dir, col("id") === 1L, Map("nope" -> lit(1)))
    }
  }

  test("updateWhere honors deletion vectors: a dead row neither updates nor resurrects, and the rewrite purges the dv") {
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base.repartition(1))
    Snapshot.deleteWhere(spark, dir, col("id") === 1L)              // v2: dv {1}
    // predicate covers the dead row AND a live one
    val v = Snapshot.updateWhere(spark, dir, col("id") <= 2L,
      Map("score" -> lit(99.0)))
    assert(v.contains(3L))
    assert(rows(Snapshot.read(spark, dir)) ==
      Set((2L, "b", 99.0), (3L, "c", 3.0), (4L, "d", 4.0)))
    assert(entries(dir, 3L).forall(_._2.isEmpty), "rewrite must purge the dv")
    // only the LIVE matching row counts as updated
    val met = Snapshot.history(spark, dir).where(col("version") === 3L)
      .select(col("metrics")).collect()(0).getMap[String, Long](0)
    assert(met("rows_updated") == 1L)
  }

  test("updateWhere re-validates CHECK constraints and aborts before publish on a violation") {
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base.repartition(1))
    Snapshot.addConstraint(spark, dir, "score_pos", "score > 0")     // v2
    intercept[IllegalArgumentException] {
      Snapshot.updateWhere(spark, dir, col("id") === 1L, Map("score" -> lit(-5.0)))
    }
    assert(Snapshot.versions(spark, dir) == Seq(1L, 2L), "no version on abort")
    assert(rows(Snapshot.read(spark, dir)) == rows(base))
  }

  test("replaceWhere: full-file drop + partial rewrite + carry in ONE version; replacement rows must satisfy the predicate") {
    import spark.implicits._
    val dir = tmp() + "/t"
    // three range files: [1,2], [3,4], [5,6]
    val six = (1L to 6L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "score")
    Snapshot.commit(spark, dir, six.repartitionByRange(3, col("id")))
    // predicate fully covers [1,2], splits [3,4] at id=3, misses [5,6]
    val repl = Seq((1L, "r1", 100.0), (3L, "r3", 300.0)).toDF("id", "name", "score")
    val v = Snapshot.replaceWhere(spark, dir, col("id") <= 3L, repl)
    assert(v.contains(2L))
    assert(rows(Snapshot.read(spark, dir)) ==
      Set((1L, "r1", 100.0), (3L, "r3", 300.0), (4L, "n4", 4.0),
        (5L, "n5", 5.0), (6L, "n6", 6.0)))
    val met = Snapshot.history(spark, dir).where(col("version") === 2L)
      .select(col("metrics")).collect()(0).getMap[String, Long](0)
    assert(met("files_dropped") == 1L, "whole-range file must drop metadata-only")
    assert(met("files_rewritten") == 1L, "split file must rewrite keep-rows")
    assert(met("rows_deleted") == 3L)
    // the disjoint [5,6] file carries BY REFERENCE
    assert(dataPartFiles(dir, 2L).intersect(dataPartFiles(dir, 1L)).nonEmpty)
    // time travel: v1 unchanged
    assert(Snapshot.readVersion(spark, dir, 1L).count() == 6L)
    // the contract: replacement rows outside the predicate are refused
    intercept[IllegalArgumentException] {
      Snapshot.replaceWhere(spark, dir, col("id") <= 2L,
        Seq((9L, "x", 9.0)).toDF("id", "name", "score"))
    }
    assert(Snapshot.versions(spark, dir) == Seq(1L, 2L))
  }

  test("updateWhere speaks logical names on a RENAMED table and stats-prunes on the renamed key") {
    import spark.implicits._
    val dir = tmp() + "/t"
    val forty = (1L to 40L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "score")
    Snapshot.commit(spark, dir, forty.repartitionByRange(4, col("id")))   // v1: 4 range files
    Snapshot.renameColumn(spark, dir, "id", "row_id")                     // v2
    val v = Snapshot.updateWhere(spark, dir, col("row_id") <= 10L,
      Map("score" -> (col("score") * 10)))
    assert(v.contains(3L))
    // only the low-range file rewrote; three carried by reference
    assert(dataPartFiles(dir, 3L).intersect(dataPartFiles(dir, 1L)).size == 3,
      "stats pruning must hold on the renamed key")
    val out = Snapshot.read(spark, dir).where(col("row_id") <= 11L)
      .orderBy(col("row_id")).collect().map(r => r.getDouble(2)).toSeq
    assert(out == (1L to 10L).map(_ * 10.0) ++ Seq(11.0))
  }

  test("replaceWhere into an empty predicate region is a pure atomic insert") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base.repartitionByRange(2, col("id")))
    val v = Snapshot.replaceWhere(spark, dir, col("id") >= 100L,
      Seq((100L, "z", 0.5)).toDF("id", "name", "score"))
    assert(v.contains(2L))
    assert(Snapshot.read(spark, dir).count() == 5L)
    // every pre-existing file carried by reference (nothing matched)
    assert(dataPartFiles(dir, 1L).subsetOf(dataPartFiles(dir, 2L)))
  }

  // ---------------------------------------------------------------
  // merge-on-read UPDATE
  // ---------------------------------------------------------------

  test("updateWhereMor: a point UPDATE rewrites ZERO data files — dv + one tiny new file; optimize purges it back to clean") {
    import spark.implicits._
    val dir = tmp() + "/t"
    val forty = (1L to 40L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "score")
    Snapshot.commit(spark, dir, forty.repartitionByRange(4, col("id"))) // v1: 4 files
    val v1Files = dataPartFiles(dir, 1L)
    val v = Snapshot.updateWhereMor(spark, dir, col("id") === 7L,
      Map("score" -> lit(700.0)))
    assert(v.contains(2L))
    // EVERY v1 data file still referenced (zero rewrites), plus new file(s)
    assert(v1Files.subsetOf(dataPartFiles(dir, 2L)), "point MoR update must not rewrite")
    val met = Snapshot.history(spark, dir).where(col("version") === 2L)
      .select(col("metrics")).collect()(0).getMap[String, Long](0)
    assert(met("files_rewritten") == 0L)
    assert(met("rows_updated") == 1L && met("files_dv") == 1L)
    // read sees the new value exactly once
    val got = Snapshot.read(spark, dir).where(col("id") === 7L)
      .select(col("score")).collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(700.0))
    assert(Snapshot.read(spark, dir).count() == 40L)
    // time travel: v1 still reads the old value
    assert(Snapshot.readVersion(spark, dir, 1L).where(col("id") === 7L)
      .select(col("score")).collect()(0).getDouble(0) == 7.0)
    // semantics match the copy-on-write updateWhere: NULL never matches
    assert(Snapshot.updateWhereMor(spark, dir, col("id") === -1L,
      Map("score" -> lit(0.0))).isEmpty, "no match mints no version")
    // maintenance: optimize materializes the dv away, values survive
    Snapshot.optimize(spark, dir, smallBytes = Long.MaxValue).get
    val cur = Snapshot.latestVersion(spark, dir).get
    assert(Snapshot.filesForTest(spark, dir, cur).forall(_._2.isEmpty), "dv purged")
    assert(Snapshot.read(spark, dir).where(col("id") === 7L)
      .select(col("score")).collect()(0).getDouble(0) == 700.0)
  }

  test("updateWhereMor: a file whose every live row matches DROPS from the manifest; constraints still gate") {
    import spark.implicits._
    val dir = tmp() + "/t"
    val six = (1L to 6L).map(i => (i, s"n$i", i.toDouble)).toDF("id", "name", "score")
    Snapshot.commit(spark, dir, six.repartitionByRange(3, col("id"))) // [1,2][3,4][5,6]
    Snapshot.addConstraint(spark, dir, "pos", "score >= 0")
    // the [1,2] file fully matches → dropped outright, its rows move
    val v = Snapshot.updateWhereMor(spark, dir, col("id") <= 2L,
      Map("score" -> (col("score") * 10)))
    assert(v.contains(3L))
    val met = Snapshot.history(spark, dir).where(col("version") === 3L)
      .select(col("metrics")).collect()(0).getMap[String, Long](0)
    assert(met("files_dropped") == 1L && met("files_dv") == 0L)
    assert(rows(Snapshot.read(spark, dir)) ==
      Set((1L, "n1", 10.0), (2L, "n2", 20.0), (3L, "n3", 3.0),
        (4L, "n4", 4.0), (5L, "n5", 5.0), (6L, "n6", 6.0)))
    // a violating SET aborts BEFORE any dv or manifest lands
    intercept[IllegalArgumentException] {
      Snapshot.updateWhereMor(spark, dir, col("id") === 5L,
        Map("score" -> lit(-1.0)))
    }
    assert(Snapshot.versions(spark, dir) == Seq(1L, 2L, 3L))
    assert(Snapshot.read(spark, dir).where(col("id") === 5L)
      .select(col("score")).collect()(0).getDouble(0) == 5.0)
  }

  // ---------------------------------------------------------------
  // configurable stats columns + per-file manifest blooms
  // ---------------------------------------------------------------

  test("manifest blooms prune point lookups on an UNCLUSTERED high-cardinality key where min/max cannot") {
    import spark.implicits._
    val dir = tmp() + "/t"
    // interleaved keys: every file's [min,max] spans the whole domain,
    // so range stats keep ALL files for any point lookup
    val df = (0L until 4000L).map(i => (i, s"u$i")).toDF("uid", "name")
      .repartition(4, col("uid")) // hash layout: every file spans the domain
    Snapshot.commit(spark, dir, df,
      spec = Some(Snapshot.TableSpec(bloomCols = Seq("uid"), bloomBits = 1 << 16)))
    val all = dataPartFiles(dir, 1L)
    assert(all.size == 4)
    // range-only sanity: the probe key sits inside every file's range
    val cand = Snapshot.candidateFilePaths(spark, dir, 1L, col("uid") === 1234L)
    assert(cand.size < all.size,
      s"bloom must prune (kept ${cand.size}/${all.size})")
    // typically exactly 1 survives at this fp rate
    assert(cand.nonEmpty, "the true file must survive (no false negatives)")
    // correctness: the row is found
    assert(Snapshot.read(spark, dir).where(col("uid") === 1234L).count() == 1L)
    // a key that does not exist prunes everything or reads empty
    assert(Snapshot.read(spark, dir).where(col("uid") === 999999L).count() == 0L)
  }

  test("runtime FILE pruning: a join's dim-side filter prunes fact files at execution (file-level dynamic partition pruning on the DSv2 scan)") {
    import spark.implicits._
    import graft.sources.SnapshotScanProbe
    val dir = tmp() + "/t"
    // fact: identity-partitioned by day → 8 value-clustered files whose
    // day stats are disjoint
    val fact = (0L until 800L).map(i => (i, s"d${i % 8}", i.toDouble))
      .toDF("id", "day", "v")
    Snapshot.commit(spark, dir, fact,
      spec = Some(Snapshot.TableSpec(partitionCols = Seq("day"))))
    val total = Snapshot.filesForTest(spark, dir, 1L).size
    assert(total >= 4, s"need a multi-file layout, got $total")
    val ds = spark.read.format("graft-snapshot").load(dir)
    // dim side: a REAL scan with a selective filter (a local relation
    // would constant-fold the filter away and the planner would see no
    // pruning filter to propagate)
    val dimPath = tmp() + "/dim"
    Seq(("d1", "keep"), ("d5", "keep"), ("d2", "drop"))
      .toDF("day", "tag").write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where(col("tag") === "keep")
    SnapshotScanProbe.lastPlanned = -1
    val got = ds.join(dim, "day").agg(count(lit(1))).collect()(0).getLong(0)
    assert(got == 200L, "join result must be exact")
    assert(SnapshotScanProbe.lastPlanned >= 0, "probe never saw the scan")
    assert(SnapshotScanProbe.lastPlanned < total,
      s"runtime filter must prune files (planned ${SnapshotScanProbe.lastPlanned}/$total)")
  }

  test("setTableSpec: configured statsCols replace the first-16 default; partition cols always carry stats") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir,
      Seq((1L, "a", 1.0, "d1")).toDF("id", "name", "score", "day"))
    Snapshot.setTableSpec(spark, dir,
      Snapshot.TableSpec(partitionCols = Seq("day"), statsCols = Seq("score")))
    assert(Snapshot.tableSpecOf(spark, dir).statsCols == Seq("score"))
    Snapshot.append(spark, dir,
      Seq((2L, "b", 2.0, "d2")).toDF("id", "name", "score", "day"))
    // the appended file's stats: score (configured) + day (partition), NOT id
    val m = Snapshot.readVersion(spark, dir, 3L)
    assert(m.count() == 2L)
    val appended = Snapshot.statsKeysForTest(spark, dir, 3L)
    assert(appended.exists(ks => ks == Set("score", "day")),
      s"appended file must carry exactly configured+partition stats, got $appended")
    // unknown column refused
    intercept[IllegalArgumentException] {
      Snapshot.setTableSpec(spark, dir, Snapshot.TableSpec(statsCols = Seq("nope")))
    }
  }

  // ---------------------------------------------------------------
  // tags + vacuum dry-run
  // ---------------------------------------------------------------

  test("tags: named version pins survive vacuum automatically; re-tagging fails loudly; delete releases") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)                                  // v1
    Snapshot.createTag(spark, dir, "golden")                           // pins v1
    Snapshot.commit(spark, dir, Seq((9L, "z", 9.0)).toDF("id", "name", "score")) // v2
    Snapshot.commit(spark, dir, Seq((10L, "y", 1.0)).toDF("id", "name", "score")) // v3
    intercept[java.util.ConcurrentModificationException] {
      Snapshot.createTag(spark, dir, "golden", Some(2L))
    }
    // vacuum keepLast=1 would normally drop v1+v2; the tag keeps v1
    Snapshot.vacuum(spark, dir, keepLast = 1)
    assert(Snapshot.versions(spark, dir) == Seq(1L, 3L))
    assert(rows(Snapshot.readTag(spark, dir, "golden")) == rows(base))
    // deleting the tag releases the version to the next vacuum
    assert(Snapshot.deleteTag(spark, dir, "golden"))
    Snapshot.vacuum(spark, dir, keepLast = 1)
    assert(Snapshot.versions(spark, dir) == Seq(3L))
  }

  test("vacuumReport: the dry run predicts exactly what vacuum reclaims, and deletes nothing") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base.repartitionByRange(4, col("id"))) // v1: 4 files
    Snapshot.commit(spark, dir, base.repartitionByRange(2, col("id"))) // v2: replace, 2 files
    Snapshot.append(spark, dir, Seq((9L, "z", 9.0)).toDF("id", "name", "score")) // v3
    val rep = Snapshot.vacuumReport(spark, dir, keepLast = 1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), r.getLong(3)))
    assert(rep.toSeq == Seq(
      (1L, "init", false, 4L),     // v1's 4 files are exclusive to the dropped set
      (2L, "replace", false, 0L),  // v2's files are shared with kept v3 → charged nowhere
      (3L, "append", true, 0L)))
    // the dry run deleted nothing
    assert(Snapshot.versions(spark, dir) == Seq(1L, 2L, 3L))
    assert(Snapshot.readVersion(spark, dir, 1L).count() == 4L)
    // and the real vacuum reclaims exactly the predicted 4 files
    assert(Snapshot.vacuum(spark, dir, keepLast = 1) == 4)
  }

  test("MODEL-BASED randomized op sequence: 30 mixed commits (append/upsert/CoW+MoR update/dv delete/replaceWhere/optimize/compact/restore) read back exactly the reference model at EVERY version") {
    import spark.implicits._
    val dir = tmp() + "/t"
    val rnd = new scala.util.Random(42) // deterministic: no flakes
    // the reference model: id → score, snapshotted per committed version
    var model = Map.empty[Long, Double]
    var history = Vector.empty[Map[Long, Double]] // history(v-1) = state at v
    var nextId = 0L
    def freshRows(n: Int): Seq[(Long, Double)] =
      (0 until n).map { _ => nextId += 1; (nextId, rnd.nextInt(1000).toDouble) }
    def df(rows: Seq[(Long, Double)]) = rows.toDF("id", "score")
    def readState(v: Long): Map[Long, Double] =
      Snapshot.readVersion(spark, dir, v).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap

    Snapshot.commit(spark, dir, df(freshRows(8)))
    model = readState(1L)
    history :+= model

    (1 to 30).foreach { step =>
      rnd.nextInt(8) match {
        case 0 => // append
          val rows = freshRows(1 + rnd.nextInt(4))
          Snapshot.append(spark, dir, df(rows))
          model ++= rows.toMap
          history :+= model
        case 1 => // upsert: update some existing + insert new
          val existing = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(3))
            .map(k => (k, rnd.nextInt(1000).toDouble))
          val rows = existing ++ freshRows(rnd.nextInt(2))
          if (rows.nonEmpty) {
            Snapshot.upsert(spark, dir, df(rows), Seq("id"))
            model ++= rows.toMap
            history :+= model
          }
        case 2 => // merge-on-read delete of an id range
          val lo = 1L + rnd.nextInt(nextId.toInt).toLong
          val hi = lo + rnd.nextInt(5)
          val v = Snapshot.deleteWhere(spark, dir,
            col("id") >= lo && col("id") <= hi)
          if (v.isDefined) {
            model = model.filterNot { case (k, _) => k >= lo && k <= hi }
            history :+= model
          }
        case 3 => // copy-on-write UPDATE
          val lo = 1L + rnd.nextInt(nextId.toInt).toLong
          val v = Snapshot.updateWhere(spark, dir,
            col("id") >= lo && col("id") <= lo + 3, Map("score" -> lit(-1.0)))
          if (v.isDefined) {
            model = model.map { case (k, s) =>
              k -> (if (k >= lo && k <= lo + 3) -1.0 else s) }
            history :+= model
          }
        case 4 => // merge-on-read UPDATE
          val lo = 1L + rnd.nextInt(nextId.toInt).toLong
          val v = Snapshot.updateWhereMor(spark, dir,
            col("id") >= lo && col("id") <= lo + 2, Map("score" -> lit(-2.0)))
          if (v.isDefined) {
            model = model.map { case (k, s) =>
              k -> (if (k >= lo && k <= lo + 2) -2.0 else s) }
            history :+= model
          }
        case 5 => // replaceWhere an id range with fresh content
          val lo = 1L + rnd.nextInt(nextId.toInt).toLong
          val hi = lo + rnd.nextInt(4)
          val repl = (lo to hi).filter(_ => rnd.nextBoolean())
            .map(k => (k, 7777.0))
          val v = Snapshot.replaceWhere(spark, dir,
            col("id") >= lo && col("id") <= hi, df(repl))
          if (v.isDefined) {
            model = model.filterNot { case (k, _) => k >= lo && k <= hi } ++
              repl.toMap
            history :+= model
          }
        case 6 => // maintenance: optimize or compact (state-invariant)
          if (rnd.nextBoolean()) {
            if (Snapshot.optimize(spark, dir, smallBytes = Long.MaxValue)
              .isDefined) history :+= model
          } else {
            Snapshot.compact(spark, dir)
            history :+= model
          }
        case 7 => // restore to a random retained version
          val target = 1L + rnd.nextInt(history.size).toLong
          Snapshot.restore(spark, dir, target)
          model = history((target - 1L).toInt)
          history :+= model
      }
      val latest = Snapshot.latestVersion(spark, dir).get
      assert(latest == history.size.toLong,
        s"step $step: version drift (latest=$latest, model history=${history.size})")
      assert(readState(latest) == model,
        s"step $step: live state diverged from the model")
    }
    // EVERY retained version still reads back its exact era
    (1L to history.size.toLong).foreach { v =>
      assert(readState(v) == history((v - 1L).toInt),
        s"time travel to v$v diverged from the recorded model")
    }
  }

  test("replaceWhere exact no-op (empty data, no matches) mints NO version — cron-safe convergence") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base.repartitionByRange(2, col("id")))
    val empty = Seq.empty[(Long, String, Double)].toDF("id", "name", "score")
    assert(Snapshot.replaceWhere(spark, dir, col("id") >= 100L, empty).isEmpty)
    assert(Snapshot.versions(spark, dir) == Seq(1L), "no-op must not grow history")
    // but deleting a real range with empty replacement data IS a change
    assert(Snapshot.replaceWhere(spark, dir, col("id") === 1L, empty).contains(2L))
    assert(Snapshot.read(spark, dir).count() == 3L)
  }

  // ---------------------------------------------------------------
  // writable branches: write-audit-publish
  // ---------------------------------------------------------------

  test("branch: writes are INVISIBLE on main; fast-forward publishes the audited state atomically and consumes the branch") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)
    val fork = Snapshot.createBranch(spark, dir, "ingest")
    assert(fork == 1L)
    val bdir = Snapshot.branchDir(dir, "ingest")
    // branch takes an append AND a MoR row update (dv written under the
    // branch's own data dir — fast-forward must carry it)
    Snapshot.append(spark, bdir, Seq((5L, "e", 5.0)).toDF("id", "name", "score"))
    assert(Snapshot.updateWhereMor(spark, bdir, col("id") === 2L,
      Map("score" -> lit(99.0))).isDefined)
    // main is untouched: same single version, same rows
    assert(Snapshot.versions(spark, dir) == Seq(1L))
    assert(rows(Snapshot.read(spark, dir)) == rows(base))
    // the audit surface reads the branch head
    assert(rows(Snapshot.readBranch(spark, dir, "ingest")) ==
      Set((1L, "a", 1.0), (2L, "b", 99.0), (3L, "c", 3.0), (4L, "d", 4.0), (5L, "e", 5.0)))
    // publish: ONE main version, exact branch state, branch consumed
    val v = Snapshot.fastForward(spark, dir, "ingest")
    assert(v == 2L)
    assert(rows(Snapshot.read(spark, dir)) ==
      Set((1L, "a", 1.0), (2L, "b", 99.0), (3L, "c", 3.0), (4L, "d", 4.0), (5L, "e", 5.0)))
    assert(Snapshot.branches(spark, dir).isEmpty, "fast-forward consumes the branch")
    // consumed = unreadable as a branch and not double-publishable (ref
    // and version metadata gone); the branch's data subtree SURVIVES
    // because the published manifest references into it — the rename-
    // free publish (object stores have no metadata-only rename)
    assert(!new java.io.File(s"$dir/_branches/ingest/_versions").exists())
    intercept[Exception] { Snapshot.readBranch(spark, dir, "ingest") }
    intercept[Exception] { Snapshot.fastForward(spark, dir, "ingest") }
    assert(Snapshot.read(spark, dir).inputFiles.exists(_.contains("/_branches/ingest/")),
      "published refs resolve into the adopted branch subtree")
    val h = Snapshot.history(spark, dir).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(h(2L) == "fast_forward")
    // pre-publish state still time-travels
    assert(rows(Snapshot.readVersion(spark, dir, 1L)) == rows(base))
  }

  test("publishGroup: N audited branches publish together and the pin is the all-or-nothing read point") {
    import spark.implicits._
    val root = tmp()
    val t1 = s"$root/orders"; val t2 = s"$root/customers"
    Snapshot.commit(spark, t1, base)
    Snapshot.commit(spark, t2,
      Seq((100L, "x", 0.5)).toDF("id", "name", "score"))
    val pre = Snapshot.pinTables(spark, root, Map("orders" -> t1, "customers" -> t2))
    // stage the cross-table change on one branch per table
    Snapshot.createBranch(spark, t1, "load")
    Snapshot.createBranch(spark, t2, "load")
    Snapshot.append(spark, Snapshot.branchDir(t1, "load"),
      Seq((5L, "e", 5.0)).toDF("id", "name", "score"))
    Snapshot.append(spark, Snapshot.branchDir(t2, "load"),
      Seq((200L, "y", 0.7)).toDF("id", "name", "score"))
    val (pin, versions) = Snapshot.publishGroup(spark, root,
      Map("orders" -> ((t1, "load")), "customers" -> ((t2, "load"))))
    assert(pin == pre + 1)
    assert(versions == Map("orders" -> 2L, "customers" -> 2L))
    // the pin records exactly the published pair; both read complete
    assert(Snapshot.pinnedVersions(spark, root, pin).view.mapValues(_._2).toMap ==
      Map("orders" -> 2L, "customers" -> 2L))
    assert(rows(Snapshot.readPinned(spark, root, pin, "orders")) ==
      rows(base) + ((5L, "e", 5.0)))
    assert(rows(Snapshot.readPinned(spark, root, pin, "customers")) ==
      Set((100L, "x", 0.5), (200L, "y", 0.7)))
    // the PREVIOUS pin still reads the complete pre-publish group
    assert(rows(Snapshot.readPinned(spark, root, pre, "orders")) == rows(base))
    // both branches consumed
    assert(Snapshot.branches(spark, t1).isEmpty && Snapshot.branches(spark, t2).isEmpty)
  }

  test("publishGroup: a mid-group failure compensates — published tables restore, NO pin is written (pin-readers never see the torn state)") {
    import spark.implicits._
    val root = tmp()
    val t1 = s"$root/a"; val t2 = s"$root/b"
    Snapshot.commit(spark, t1, base)
    Snapshot.commit(spark, t2, base)
    Snapshot.createBranch(spark, t1, "g")
    Snapshot.createBranch(spark, t2, "g")
    Snapshot.append(spark, Snapshot.branchDir(t1, "g"),
      Seq((5L, "e", 5.0)).toDF("id", "name", "score"))
    Snapshot.append(spark, Snapshot.branchDir(t2, "g"),
      Seq((6L, "f", 6.0)).toDF("id", "name", "score"))
    val pinsBefore = Snapshot.pins(spark, root)
    // interloper advances t2 AFTER the group pre-flight, inside t1's
    // publish window — t2's own fast-forward then fails diverged
    Snapshot.raceForTest = () =>
      Snapshot.append(spark, t2, Seq((9L, "w", 9.0)).toDF("id", "name", "score"))
    intercept[java.util.ConcurrentModificationException] {
      Snapshot.publishGroup(spark, root,
        Map("a" -> ((t1, "g")), "b" -> ((t2, "g"))))
    }
    // t1's publish was compensated by a restore; t2 kept the interloper
    assert(rows(Snapshot.read(spark, t1)) == rows(base),
      "the published half of a torn group must restore")
    assert(rows(Snapshot.read(spark, t2)) == rows(base) + ((9L, "w", 9.0)))
    // no pin was written — the coordination point never saw the tear
    assert(Snapshot.pins(spark, root) == pinsBefore)
    // the restore is a forensic version, not an erasure
    val ops = Snapshot.history(spark, t1).orderBy(col("version"))
      .select("op").collect().map(_.getString(0)).toSeq
    assert(ops == Seq("init", "fast_forward", "restore"))
  }

  test("fast-forward is rename-free: published files stay in place under _branches; vacuum later reclaims them as own bytes") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base) // v1
    Snapshot.createBranch(spark, dir, "ff")
    val bdir = Snapshot.branchDir(dir, "ff")
    Snapshot.append(spark, bdir, Seq((5L, "e", 5.0)).toDF("id", "name", "score"))
    def partsUnder(root: String): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      val d = new java.io.File(root)
      if (!d.exists()) Set.empty
      else walk(d).map(_.getAbsolutePath).filter(_.contains("part-")).toSet
    }
    val before = partsUnder(s"$bdir/data")
    assert(before.nonEmpty)
    Snapshot.fastForward(spark, dir, "ff") // v2
    // zero renames: the branch-written bytes did not move
    assert(partsUnder(s"$bdir/data") == before,
      "publish must not move a byte (object stores have no rename)")
    assert(rows(Snapshot.read(spark, dir)).contains((5L, "e", 5.0)))
    // the adopted refs are parent-relative (root-resolved), not absolute
    val refs = Snapshot.filesForTest(spark, dir,
      Snapshot.latestVersion(spark, dir).get).map(_._1)
    assert(refs.exists(_.startsWith("_branches/ff/data/")))
    assert(refs.filter(_.contains("_branches")).forall(r =>
      !r.startsWith("/") && !r.contains(":/")))
    // overwrite the table, then vacuum: the adopted branch bytes are OWN
    // bytes now — reclaimed, not stranded like a foreign clone ref
    Snapshot.replaceWhere(spark, dir, lit(true),
      Seq((9L, "z", 9.0)).toDF("id", "name", "score")) // v3
    Snapshot.vacuum(spark, dir, keepLast = 1)
    assert(partsUnder(s"$bdir/data").isEmpty,
      "vacuum must reclaim adopted branch bytes once their versions drop")
  }

  test("branch: DIVERGED fast-forward fails loudly; the branch and main both survive intact") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)
    Snapshot.createBranch(spark, dir, "wap")
    val bdir = Snapshot.branchDir(dir, "wap")
    Snapshot.append(spark, bdir, Seq((5L, "e", 5.0)).toDF("id", "name", "score"))
    // main advances past the fork — the branch no longer descends from HEAD
    Snapshot.append(spark, dir, Seq((6L, "f", 6.0)).toDF("id", "name", "score"))
    val e = intercept[java.util.ConcurrentModificationException] {
      Snapshot.fastForward(spark, dir, "wap")
    }
    assert(e.getMessage.contains("advanced"))
    // nothing was harmed: main keeps its own write, branch keeps its own
    assert(rows(Snapshot.read(spark, dir)) == rows(base) + ((6L, "f", 6.0)))
    assert(rows(Snapshot.readBranch(spark, dir, "wap")) == rows(base) + ((5L, "e", 5.0)))
    // abandon releases everything
    assert(Snapshot.deleteBranch(spark, dir, "wap"))
    assert(Snapshot.branches(spark, dir).isEmpty)
  }

  test("branch: a commit landing INSIDE the fast-forward publish window aborts it; nothing moved, the branch stays publishable") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)
    Snapshot.createBranch(spark, dir, "race")
    val bdir = Snapshot.branchDir(dir, "race")
    Snapshot.append(spark, bdir, Seq((5L, "e", 5.0)).toDF("id", "name", "score"))
    // interloper lands after fastForward's divergence check, inside its
    // publish — fast_forward is NOT rebasable, so it must abort
    Snapshot.raceForTest = () =>
      Snapshot.append(spark, dir, Seq((7L, "g", 7.0)).toDF("id", "name", "score"))
    intercept[java.util.ConcurrentModificationException] {
      Snapshot.fastForward(spark, dir, "race")
    }
    // main holds the interloper's state; the branch rolled its bytes
    // back and still reads (and re-publishes once re-based)
    assert(rows(Snapshot.read(spark, dir)) == rows(base) + ((7L, "g", 7.0)))
    assert(rows(Snapshot.readBranch(spark, dir, "race")) == rows(base) + ((5L, "e", 5.0)))
  }

  test("branch: addConstraint on the branch IS the audit gate; fast-forward carries the constraint onto main") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)
    Snapshot.createBranch(spark, dir, "audited")
    val bdir = Snapshot.branchDir(dir, "audited")
    // ingest includes a bad row (negative score)
    Snapshot.append(spark, bdir, Seq((5L, "e", -5.0)).toDF("id", "name", "score"))
    // the audit: declaring the invariant validates EVERY branch row and
    // refuses while the bad row is present
    intercept[IllegalArgumentException] {
      Snapshot.addConstraint(spark, bdir, "score_nonneg", "score >= 0")
    }
    // fix on the branch, re-audit, publish
    Snapshot.deleteWhere(spark, bdir, col("score") < 0)
    Snapshot.addConstraint(spark, bdir, "score_nonneg", "score >= 0")
    Snapshot.fastForward(spark, dir, "audited")
    assert(rows(Snapshot.read(spark, dir)) == rows(base))
    assert(Snapshot.constraintsOf(spark, dir).contains("score_nonneg"),
      "fast-forward must carry the branch's constraints onto main")
    // the carried gate holds on main
    intercept[IllegalArgumentException] {
      Snapshot.append(spark, dir, Seq((9L, "x", -1.0)).toDF("id", "name", "score"))
    }
  }

  test("branch: SCHEMA EVOLUTION on the branch rides the fast-forward — main gains the column, old versions stay pre-evolution") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)
    Snapshot.createBranch(spark, dir, "evolve")
    val bdir = Snapshot.branchDir(dir, "evolve")
    // evolve ON THE BRANCH: new column + rows carrying it
    Snapshot.addColumn(spark, bdir, "tier", "STRING")
    Snapshot.append(spark, bdir,
      Seq((5L, "e", 5.0, "gold")).toDF("id", "name", "score", "tier"))
    // main's schema is untouched until publish
    assert(!Snapshot.read(spark, dir).columns.contains("tier"))
    Snapshot.fastForward(spark, dir, "evolve")
    val main = Snapshot.read(spark, dir)
    assert(main.columns.toSeq == Seq("id", "name", "score", "tier"))
    assert(main.filter(col("id") === 5L).select(col("tier"))
      .collect()(0).getString(0) == "gold")
    // pre-fork rows read back null-filled; time travel stays pre-evolution
    assert(main.filter(col("tier").isNull).count() == 4L)
    assert(!Snapshot.readVersion(spark, dir, 1L).columns.contains("tier"))
  }

  test("branch: vacuum on main keeps the fork version alive for the branch's lifetime; deleteBranch releases it") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base) // v1
    Snapshot.createBranch(spark, dir, "held", Some(1L))
    Snapshot.append(spark, dir, Seq((6L, "f", 6.0)).toDF("id", "name", "score")) // v2
    Snapshot.append(spark, dir, Seq((7L, "g", 7.0)).toDF("id", "name", "score")) // v3
    Snapshot.vacuum(spark, dir, keepLast = 1, orphanGraceMs = Long.MaxValue)
    assert(Snapshot.versions(spark, dir).contains(1L),
      "a live branch must pin its fork version against vacuum")
    // the branch still reads its forked bytes
    assert(rows(Snapshot.readBranch(spark, dir, "held")) == rows(base))
    Snapshot.deleteBranch(spark, dir, "held")
    Snapshot.vacuum(spark, dir, keepLast = 1, orphanGraceMs = Long.MaxValue)
    assert(!Snapshot.versions(spark, dir).contains(1L),
      "deleteBranch releases the fork version to retention policy")
  }

  test("refs: all-digit tag/branch names are rejected at creation (they could only ever resolve as numeric versions)") {
    val dir = tmp() + "/t"
    Snapshot.commit(spark, dir, base)
    intercept[IllegalArgumentException] { Snapshot.createTag(spark, dir, "2024") }
    intercept[IllegalArgumentException] { Snapshot.createBranch(spark, dir, "123") }
    // a digit-LEADING name with a non-digit stays legal
    Snapshot.createTag(spark, dir, "2024q1")
    assert(Snapshot.tags(spark, dir).contains("2024q1"))
  }
}
