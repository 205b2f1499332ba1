package graft.streaming

import graft.operators.Dedup
import graft.sources.Snapshot
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** INCREMENTAL near-dup dedup over the snapshot stream — "dedup on
  * arrival", the shape a 100 TB ingest actually runs: instead of
  * re-deduping the whole corpus per batch (O(corpus) every arrival),
  * the pipeline maintains a VERSIONED SIGNATURE STORE (a snapshot
  * table of banded MinHash signatures, 16 rows of (id, band, sig) per
  * admitted document) and each arriving batch LSH-PROBES the store in
  * ONE verified pass:
  *
  *   1. the batch's shingle grams and banded signatures are built once
  *      (grams cached, signatures checkpointed) and feed everything
  *      below;
  *   2. two kinds of candidate pairs, each joined to the grams of
  *      the doc it matched BEFORE they are unioned, so batch ids and
  *      corpus ids never share a column: intra-batch pairs a < b
  *      sharing a band bucket (b is the would-be loser, a's grams come
  *      from the batch) and store pairs (old, new) sharing a
  *      (band, sig) with the store. The store scan is pre-filtered
  *      with the batch's sig values (64-bit uniform keys), so a store
  *      carrying per-file stats or blooms on `sig` prunes to the
  *      candidate files (run `optimize(clusterBy = sig)` as the
  *      maintenance loop to keep files sig-disjoint). The old docs'
  *      text comes from the corpus table by a broadcast join on the
  *      probe's pairs. No `id` predicate reaches the corpus file
  *      index, so that read still scans EVERY corpus file: the join is
  *      candidate-bounded, the scan is O(corpus);
  *   3. both kinds verify with EXACT n-gram Jaccard against the batch
  *      doc's grams in one join;
  *   4. admitted = batch − (intra losers ∪ store-rejected), cached
  *      once: it appends to the corpus table, and the batch's
  *      signatures semi-joined with it append to the store, both under
  *      the SAME per-writer exactly-once cursor (batchId, app).
  *
  * Checking every batch doc against the store (not only the intra-batch
  * survivors) admits the same rows: a doc's store verdict does not
  * depend on the other docs of its batch, and an intra loser is dropped
  * either way. Intra losers are not closed transitively: with A~B, B~C
  * and A≁C both B and C drop.
  *
  * Crash consistency across the two appends: the corpus commit is the
  * decision record. A replay where BOTH tables cover the batch is a
  * no-op; a crash BETWEEN the appends (corpus yes, store no) recovers
  * by re-deriving the admitted rows from the corpus version that
  * carries this (app, batchId) — its added files, read directly — and
  * appending exactly their signatures, never re-running the probe
  * (probing after the corpus append would reject the batch against
  * itself). Work per batch: O(batch × bands) signature rows, one
  * pruned store probe, one candidate-bounded verify join.
  */
object IncrementalDedup {

  /** One arriving batch, batch-API form (the foreachBatch body).
    * `batch` must carry `id` (unique, monotone-ish across batches) and
    * `text`. Returns the number of rows admitted (0 on replay).
    */
  def applyBatch(batch: DataFrame, batchId: Long, corpusDir: String,
      sigDir: String, id: String, text: String,
      minJaccard: Double = 0.8, numPerm: Int = 64, bands: Int = 16,
      n: Int = 3, sigProbeCap: Int = 8192): Long = {
    val spark = batch.sparkSession
    val app = Refresh.txnIdentity(spark)
    val corpusDone = Snapshot.txnCursor(spark, corpusDir, app).exists(_ >= batchId)
    val sigDone = Snapshot.txnCursor(spark, sigDir, app).exists(_ >= batchId)
    if (corpusDone && sigDone) return 0L // full replay
    if (corpusDone && !sigDone) { // crash between the two appends
      recoverSignatures(spark, corpusDir, sigDir, batchId, app,
        id, text, numPerm, bands, n)
      return 0L
    }
    if (batch.isEmpty) return 0L

    // ── 1. one tokenize→shingle→minhash pass over the batch ──
    val grams = Dedup.gramArrays(batch, id, text, n).persist()
    try {
      val banded = Dedup.bandSigs(Dedup.signaturesFromGrams(grams, numPerm),
        numPerm, bands).localCheckpoint(true)

      // ── 2. candidate pairs (id_b = the batch doc that drops if the
      //    pair verifies), each joined to the grams of the doc it
      //    matched BEFORE the union, so batch and corpus ids never
      //    share a column ──
      val intra = Dedup.candidatesFromBanded(banded, maxBucket = 1000)
        .join(grams.select(col("id").as("id_a"), col("grams").as("ga")), "id_a")
        .select(col("id_b"), col("ga"))
      val matched =
        if (Snapshot.latestVersion(spark, sigDir).isEmpty) intra
        else {
          // prune the store scan with the batch's sig values — uniform
          // 64-bit keys, so per-file stats/blooms on `sig` cut the scan
          // to candidate files. The In-list prune is O(values × files)
          // driver-side bloom checks, so past the cap fall back to the
          // full join — for a BIG batch the store-scan cost amortizes
          // over the batch anyway; the prune exists for the common
          // small-arrival case
          val sigValues = banded.select("sig").distinct()
            .limit(sigProbeCap + 1).collect().map(_.getLong(0))
          val store0 = Snapshot.read(spark, sigDir)
          val store =
            if (sigValues.length <= sigProbeCap)
              store0.filter(col("sig").isin(sigValues.toIndexedSeq: _*))
            else store0
          val probe = store.select(col("id").as("old_id"), col("band"), col("sig"))
            .join(banded.select(col("id").as("id_b"), col("band"), col("sig")),
              Seq("band", "sig"))
            .select(col("old_id"), col("id_b")).distinct()
          // the probe is candidate-bounded, the corpus is not: broadcast
          // the probe rather than shuffle the corpus
          val oldDocs = Snapshot.read(spark, corpusDir)
            .select(col(id).as("old_id"), col(text))
            .join(broadcast(probe), "old_id")
          intra.unionByName(Dedup.gramArrays(oldDocs, "id_b", text, n)
            .select(col("id").as("id_b"), col("grams").as("ga")))
        }
      // ── 3. one exact verification pass over both candidate kinds ──
      val drops = matched
        .join(grams.select(col("id").as("id_b"), col("grams").as("gb")), "id_b")
        .filter(Dedup.gramJaccard(col("ga"), col("gb")) >= minJaccard)
        .select(col("id_b").as("did")).distinct()

      // ── 4. publish: corpus first (the decision record), then sigs ──
      // drops ⊆ batch ids: broadcast them rather than shuffle the batch
      val admitted = batch.join(broadcast(drops), batch(id) === drops("did"), "left_anti")
        .persist()
      try {
        // The write path counts rows for its manifest metrics, so the
        // admitted census comes from commitCounted/appendCounted — a
        // separate count() action per wave was pure overhead. The
        // corpus spec pins stats to the id column: the default spec
        // would min/max-aggregate the TEXT column per file, whose
        // encoded stats are then dropped anyway (> MaxStatsStringLen)
        // — all cost, no pruning.
        val nAdmitted =
          if (Snapshot.latestVersion(spark, corpusDir).isEmpty)
            Snapshot.commitCounted(spark, corpusDir, admitted, Some(batchId), Some(app),
              spec = Some(Snapshot.TableSpec(statsCols = Seq(id))))._2
          else
            Snapshot.appendCounted(spark, corpusDir, admitted, Some(batchId), Some(app))._2
        val admittedSigs = banded.join(admitted.select(col(id).as("aid")),
          banded("id") === col("aid"), "left_semi")
        if (Snapshot.latestVersion(spark, sigDir).isEmpty)
          Snapshot.commit(spark, sigDir, admittedSigs, Some(batchId), Some(app),
            spec = Some(Snapshot.TableSpec(statsCols = Seq("sig"),
              bloomCols = Seq("sig"))))
        else
          Snapshot.append(spark, sigDir, admittedSigs, Some(batchId), Some(app))
        nAdmitted
      } finally { admitted.unpersist(); () }
    } finally { grams.unpersist(); () }
  }

  /** Recovery half of the exactly-once contract: the corpus append for
    * (app, batchId) committed but the signature append did not (crash
    * between the two). Re-derive the admitted rows from that corpus
    * version's ADDED FILES — read directly, O(batch) — and publish
    * exactly their signatures. Never re-probes (the corpus already
    * contains the batch; a probe would reject it against itself).
    */
  private def recoverSignatures(spark: SparkSession, corpusDir: String,
      sigDir: String, batchId: Long, app: String, id: String, text: String,
      numPerm: Int, bands: Int, n: Int): Unit = {
    val hist = Snapshot.history(spark, corpusDir)
      .select(col("version"), col("batch_id")).collect()
    val v = hist.collect {
      case r if !r.isNullAt(1) && r.getLong(1) == batchId => r.getLong(0)
    }.sorted.lastOption.getOrElse(throw new IllegalStateException(
      s"recovery: corpus cursor covers batch $batchId but no version carries it"))
    val prevFiles = Snapshot.filesForTest(spark, corpusDir, v - 1).map(_._1).toSet
    val added = Snapshot.filesForTest(spark, corpusDir, v).map(_._1)
      .filterNot(prevFiles.contains).toSet
    val admitted = Snapshot.readVersion(spark, corpusDir, v)
      .withColumn("__f", col("_metadata.file_path"))
      .filter(added.map(a => col("__f").endsWith(lit(a))).reduceOption(_ || _)
        .getOrElse(lit(false)))
      .drop("__f")
    val sigs = Dedup.bandedSignatures(admitted, id, text, numPerm, bands, n)
    if (Snapshot.latestVersion(spark, sigDir).isEmpty)
      Snapshot.commit(spark, sigDir, sigs, Some(batchId), Some(app),
        spec = Some(Snapshot.TableSpec(statsCols = Seq("sig"),
          bloomCols = Seq("sig"))))
    else Snapshot.append(spark, sigDir, sigs, Some(batchId), Some(app))
    ()
  }

  /** Streaming form: every micro-batch of `docs` is probed and its
    * survivors land in `corpusDir` (+ signatures in `sigDir`) with
    * exactly-once epochs. Pair with a scheduled
    * `Snapshot.optimize(sigDir, clusterBy = Seq("sig"))` so the store
    * stays sig-clustered and probes keep pruning.
    */
  def dedupOnArrival(docs: DataFrame, corpusDir: String, sigDir: String,
      id: String, text: String, checkpointDir: String,
      minJaccard: Double = 0.8): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applyBatch(batch, batchId, corpusDir, sigDir, id, text, minJaccard)
        ()
      }
      .start()
}
