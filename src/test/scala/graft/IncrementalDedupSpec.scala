package graft

import graft.operators.Dedup
import graft.sources.Snapshot
import graft.streaming.IncrementalDedup
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.Random

/** Dedup on arrival: the incremental MinHash-LSH pipeline that probes a
  * versioned signature store per batch instead of re-deduping the
  * corpus (IncrementalDedup.scala).
  */
class IncrementalDedupSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft-incdedup").toString

  private val base =
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima mike november oscar"
  /** Same 15-word doc with only the LAST word changed: 12 of 13
    * 3-shingles shared, exact Jaccard 12/14 ≈ 0.857 ≥ the 0.8 gate.
    */
  private def nearDup(tail: String) =
    base.split(" ").init.mkString(" ") + " " + tail
  private def distinctDoc(seed: Int) =
    (0 until 15).map(i => s"w${seed}_$i").mkString(" ")

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def corpusIds(dir: String): Set[Long] =
    Snapshot.read(spark, dir).select("doc_id").collect().map(_.getLong(0)).toSet

  test("dedup on arrival: novel docs admit, cross-batch near/exact dups reject against the store, intra-batch dups collapse") {
    val root = tmp()
    val corpus = s"$root/corpus"; val sigs = s"$root/sigs"

    // batch 0: four distinct docs — all admit, store seeds
    val n0 = IncrementalDedup.applyBatch(
      docs(1L -> base, 2L -> distinctDoc(2), 3L -> distinctDoc(3), 4L -> distinctDoc(4)),
      0L, corpus, sigs, "doc_id", "text")
    assert(n0 == 4L)
    assert(corpusIds(corpus) == Set(1L, 2L, 3L, 4L))
    assert(Snapshot.read(spark, sigs).count() == 4L * 16)

    // batch 1: a near-dup of doc 1, an EXACT copy of doc 2, one novel doc
    val n1 = IncrementalDedup.applyBatch(
      docs(5L -> nearDup("zulu"), 6L -> distinctDoc(2), 7L -> distinctDoc(7)),
      1L, corpus, sigs, "doc_id", "text")
    assert(n1 == 1L, "only the novel doc must admit")
    assert(corpusIds(corpus) == Set(1L, 2L, 3L, 4L, 7L))
    assert(Snapshot.read(spark, sigs).count() == 5L * 16)

    // batch 2: two docs that near-dup EACH OTHER (both novel vs corpus):
    // first occurrence by id wins, the second rejects intra-batch
    val fresh = "papa quebec romeo sierra tango uniform victor whiskey xray yankee zulu one two three four"
    val freshDup = fresh.split(" ").init.mkString(" ") + " five"
    val n2 = IncrementalDedup.applyBatch(
      docs(8L -> fresh, 9L -> freshDup), 2L, corpus, sigs, "doc_id", "text")
    assert(n2 == 1L)
    assert(corpusIds(corpus) == Set(1L, 2L, 3L, 4L, 7L, 8L))

    // work per batch is store-PROBE-shaped: the store scan is
    // pre-filtered on the batch's sig values (stats/bloom-prunable),
    // never an unconditional full-history scan — and the store itself
    // is a normal snapshot table the maintenance loop can cluster
    assert(Snapshot.history(spark, sigs).count() == 3L)
  }

  test("exactly-once: full replays are no-ops; a crash between the corpus and signature appends recovers the store from the corpus version") {
    val root = tmp()
    val corpus = s"$root/corpus"; val sigs = s"$root/sigs"
    IncrementalDedup.applyBatch(docs(1L -> base, 2L -> distinctDoc(2)),
      0L, corpus, sigs, "doc_id", "text")
    val corpusV = Snapshot.latestVersion(spark, corpus).get
    val sigRows = Snapshot.read(spark, sigs).count()

    // FULL replay of batch 0: nothing moves anywhere
    val r = IncrementalDedup.applyBatch(docs(1L -> base, 2L -> distinctDoc(2)),
      0L, corpus, sigs, "doc_id", "text")
    assert(r == 0L)
    assert(Snapshot.latestVersion(spark, corpus).get == corpusV)
    assert(Snapshot.read(spark, sigs).count() == sigRows)

    // CRASH BETWEEN THE APPENDS: corpus committed batch 1, store did not
    // (simulated by appending the corpus half directly under the same
    // writer identity the pipeline uses)
    Snapshot.append(spark, corpus, docs(10L -> distinctDoc(10)),
      Some(1L), Some("default"))
    // the replayed batch takes the recovery path: store catches up from
    // the corpus version's added files, corpus is untouched, no probe
    // runs (probing now would reject the batch against itself)
    val rec = IncrementalDedup.applyBatch(docs(10L -> distinctDoc(10)),
      1L, corpus, sigs, "doc_id", "text")
    assert(rec == 0L)
    assert(corpusIds(corpus) == Set(1L, 2L, 10L))
    assert(Snapshot.read(spark, sigs).count() == sigRows + 16)
    // the recovered signatures are LIVE: a later near-dup of doc 10 rejects
    val n2 = IncrementalDedup.applyBatch(
      docs(11L -> (distinctDoc(10).split(" ").init.mkString(" ") + " tail")),
      2L, corpus, sigs, "doc_id", "text")
    assert(n2 == 0L)
    assert(corpusIds(corpus) == Set(1L, 2L, 10L))
  }

  test("maintenance loop: optimize(clusterBy = sig) makes the store probe's In-prune skip most files") {
    import spark.implicits._
    import graft.sources.Snapshot
    val root = tmp()
    val corpus = s"$root/corpus"; val sigs = s"$root/sigs"
    // ten arrival waves of distinct docs → a ten-file unclustered store
    (0 until 10).foreach { w =>
      val batch = (0 until 40)
        .map(i => ((w * 100 + i).toLong, distinctDoc(w * 100 + i)))
      IncrementalDedup.applyBatch(docs(batch: _*), w.toLong,
        corpus, sigs, "doc_id", "text")
    }
    val v = Snapshot.latestVersion(spark, sigs).get
    val all = Snapshot.filesForTest(spark, sigs, v).size
    assert(all >= 10)
    // a small probe (one future batch's sig values): before clustering,
    // every file spans the whole uniform sig domain → nothing prunes
    val probeSigs = graft.operators.Dedup.bandedSignatures(
      docs(9999L -> distinctDoc(50)), "doc_id", "text")
      .select("sig").collect().map(_.getLong(0))
    def pruned(ver: Long): Int = Snapshot.candidateFilePaths(spark, sigs, ver,
      org.apache.spark.sql.functions.col("sig")
        .isin(probeSigs.toIndexedSeq: _*)).size
    val beforeTouched = pruned(v)
    // the probe doc is NOVEL, so per-file sig blooms alone must prune
    // (most of) the unclustered store — this is the InSet pruning path
    // (isin past 10 values rewrites to InSet)
    assert(beforeTouched < all,
      s"blooms must prune a novel probe: touched $beforeTouched of $all")
    // the maintenance loop: one sig-clustered rewrite (tiny targetBytes
    // so the toy store still yields several range-disjoint files)
    Snapshot.optimize(spark, sigs, targetBytes = 16L * 1024,
      smallBytes = Long.MaxValue, clusterBy = Seq("sig"))
    val v2 = Snapshot.latestVersion(spark, sigs).get
    val total2 = Snapshot.filesForTest(spark, sigs, v2).size
    val afterTouched = pruned(v2)
    info(s"probe touches $beforeTouched/$all files unclustered, " +
      s"$afterTouched/$total2 after optimize(clusterBy = sig)")
    assert(afterTouched < total2,
      "a sig-clustered store must prune non-candidate files for a point probe")
    assert(afterTouched <= beforeTouched)
    // the clustered store still finds real dups: a near-dup of ADMITTED
    // doc 120 rejects, while the genuinely novel doc admits
    val n = IncrementalDedup.applyBatch(
      docs(9999L -> (distinctDoc(120).split(" ").init.mkString(" ") + " tail"),
        9998L -> distinctDoc(5000)),
      10L, corpus, sigs, "doc_id", "text")
    assert(n == 1L, "clustering must not lose any signature")
  }

  test("streaming form: dedupOnArrival admits across micro-batches and restarts exactly-once") {
    import spark.implicits._
    val root = tmp()
    val corpus = s"$root/corpus"; val sigs = s"$root/sigs"
    val src = s"$root/src"; val ck = s"$root/ck"
    Seq((1L, base), (2L, distinctDoc(2))).toDF("doc_id", "text")
      .write.parquet(s"$src/b1")
    val schema = spark.read.parquet(s"$src/b1").schema
    def run(): Unit = {
      val q = IncrementalDedup.dedupOnArrival(
        spark.readStream.schema(schema).parquet(s"$src/*"),
        corpus, sigs, "doc_id", "text", ck)
      q.processAllAvailable(); q.stop()
    }
    run()
    assert(corpusIds(corpus) == Set(1L, 2L))
    // restart with a near-dup of doc 1 and a novel doc
    Seq((3L, nearDup("zulu")), (4L, distinctDoc(4))).toDF("doc_id", "text")
      .write.parquet(s"$src/b2")
    run()
    assert(corpusIds(corpus) == Set(1L, 2L, 4L))
    // idle restart: no new versions on either table
    val cv = Snapshot.latestVersion(spark, corpus).get
    val sv = Snapshot.latestVersion(spark, sigs).get
    run()
    assert(Snapshot.latestVersion(spark, corpus).get == cv)
    assert(Snapshot.latestVersion(spark, sigs).get == sv)
  }

  /** The probe as it ran before the single verified pass: intra-batch
    * verified pairs first (first occurrence by id wins), then the
    * SURVIVORS' signatures probe the store, then the store candidates
    * verify in a second join. Kept as the differential reference for a
    * fresh wave (no replay/recovery paths), writer identity "default".
    */
  private def referenceApply(batch: DataFrame, batchId: Long, corpusDir: String,
      sigDir: String, sigProbeCap: Int): Long = {
    val (id, text, minJaccard, numPerm, bands, n) = ("doc_id", "text", 0.8, 64, 16, 3)
    val app = Some("default")
    val grams = Dedup.gramArrays(batch, id, text, n).persist()
    val (pairs, banded) =
      try {
        val banded = Dedup.bandSigs(Dedup.signaturesFromGrams(grams, numPerm), numPerm, bands)
          .localCheckpoint(true)
        val pairs = Dedup.verifyGramJaccard(Dedup.candidatesFromBanded(banded, 1000),
          grams, minJaccard).localCheckpoint(true)
        (pairs, banded)
      } finally grams.unpersist(false)
    val intraLosers = pairs.select(col("id_b").as("lid")).distinct()
    val survivors = batch.join(intraLosers, batch(id) === intraLosers("lid"), "left_anti")
    val newSigs = banded.join(intraLosers, banded("id") === intraLosers("lid"), "left_anti")
    val rejected =
      if (Snapshot.latestVersion(spark, sigDir).isEmpty) spark.range(0).select(col("id").as("rid"))
      else {
        val sigValues = newSigs.select("sig").distinct()
          .limit(sigProbeCap + 1).collect().map(_.getLong(0))
        val store0 = Snapshot.read(spark, sigDir)
        val store =
          if (sigValues.length <= sigProbeCap) store0.filter(col("sig").isin(sigValues.toIndexedSeq: _*))
          else store0
        val cands = store.select(col("id").as("old_id"), col("band"), col("sig"))
          .join(newSigs.select(col("id").as("new_id"), col("band"), col("sig")), Seq("band", "sig"))
          .select("new_id", "old_id").distinct()
        val oldDocs = Snapshot.read(spark, corpusDir)
          .select(col(id).as("old_id"), col(text).as("old_text"))
          .join(cands.select("old_id").distinct(), Seq("old_id"), "left_semi")
        val newDocs = survivors.select(col(id).as("new_id"), col(text).as("new_text"))
          .join(cands.select("new_id").distinct(), Seq("new_id"), "left_semi")
        cands.join(oldDocs, Seq("old_id")).join(newDocs, Seq("new_id"))
          .withColumn("ga", Dedup.shingles(graft.operators.TextAnalysis.tokens(col("new_text")), n))
          .withColumn("gb", Dedup.shingles(graft.operators.TextAnalysis.tokens(col("old_text")), n))
          .withColumn("j", size(array_intersect(col("ga"), col("gb"))).cast("double") /
            size(array_union(col("ga"), col("gb"))).cast("double"))
          .filter(col("j") >= minJaccard)
          .select(col("new_id").as("rid")).distinct()
      }
    val admitted = survivors.join(rejected, survivors(id) === rejected("rid"), "left_anti")
    val nAdmitted =
      if (Snapshot.latestVersion(spark, corpusDir).isEmpty)
        Snapshot.commitCounted(spark, corpusDir, admitted, Some(batchId), app,
          spec = Some(Snapshot.TableSpec(statsCols = Seq(id))))._2
      else Snapshot.appendCounted(spark, corpusDir, admitted, Some(batchId), app)._2
    val admittedSigs = newSigs.join(admitted.select(col(id).as("aid")),
      newSigs("id") === col("aid"), "left_semi")
    if (Snapshot.latestVersion(spark, sigDir).isEmpty)
      Snapshot.commit(spark, sigDir, admittedSigs, Some(batchId), app,
        spec = Some(Snapshot.TableSpec(statsCols = Seq("sig"), bloomCols = Seq("sig"))))
    else Snapshot.append(spark, sigDir, admittedSigs, Some(batchId), app)
    nAdmitted
  }

  /** Seeded waves over a small vocabulary: fresh docs, exact and
    * one-word near copies of earlier docs (earlier waves AND earlier in
    * the same wave), one intra-batch chain A~B, B~C with A≁C, and one
    * doc shorter than the shingle width.
    */
  private def seededWaves(seed: Long, waves: Int, size: Int): Seq[Seq[(Long, String)]] = {
    val rnd = new Random(seed)
    val vocab = Array.tabulate(300)(i => s"v$i")
    def fresh(): Array[String] = Array.fill(30 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.length)))
    def swap(ws: Array[String], at: Int): Array[String] = ws.updated(at, s"x${rnd.nextInt(1000000)}")
    val seen = scala.collection.mutable.ArrayBuffer[Array[String]]()
    var next = 0L
    (0 until waves).map { w =>
      val docs = scala.collection.mutable.ArrayBuffer[Array[String]]()
      // the chain: B changes one interior word of A (3 of 28 shingles,
      // J ≈ 0.81), C changes another (J(B, C) ≈ 0.81, J(A, C) ≈ 0.65)
      val a = fresh().take(30)
      val b = swap(a, 15)
      docs ++= Seq(a, b, swap(b, 5), Array("tiny", "doc"))
      while (docs.size < size) {
        val pool = seen ++ docs
        val u = rnd.nextDouble()
        docs += (if (pool.nonEmpty && u < 0.2) pool(rnd.nextInt(pool.size))
          else if (pool.nonEmpty && u < 0.45) {
            val src = pool(rnd.nextInt(pool.size)); swap(src, rnd.nextInt(src.length))
          } else fresh())
      }
      seen ++= docs
      rnd.shuffle(docs.toSeq).map { ws => next += 1; (next, ws.mkString(" ")) }
    }
  }

  private def idsOf(dir: String): Set[Long] =
    if (Snapshot.latestVersion(spark, dir).isEmpty) Set.empty else corpusIds(dir)

  private def corpusRows(dir: String): Seq[(Long, String)] =
    Snapshot.read(spark, dir).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted

  private def storeRows(dir: String): Seq[(Long, Int, Long)] =
    Snapshot.read(spark, dir).select("id", "band", "sig").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted

  test("the single verified probe admits exactly what intra-batch-then-probe admitted, wave by wave") {
    for ((cap, seed) <- Seq((8192, 11L), (2, 12L))) { // cap 2 forces the full-join fallback
      val root = tmp()
      val (refCorpus, refSigs) = (s"$root/ref/corpus", s"$root/ref/sigs")
      val (corpus, sigs) = (s"$root/new/corpus", s"$root/new/sigs")
      var storeRejects = 0
      seededWaves(seed, waves = 4, size = 24).zipWithIndex.foreach { case (wave, w) =>
        val (refBefore, before) = (idsOf(refCorpus), idsOf(corpus))
        val stored = if (w == 0) Set.empty[String] else corpusRows(corpus).map(_._2).toSet - "tiny doc"
        val nRef = referenceApply(docs(wave: _*), w.toLong, refCorpus, refSigs, cap)
        val nNew = IncrementalDedup.applyBatch(docs(wave: _*), w.toLong, corpus, sigs,
          "doc_id", "text", sigProbeCap = cap)
        val admitted = idsOf(corpus) -- before
        assert(admitted == idsOf(refCorpus) -- refBefore, s"cap $cap wave $w")
        assert(nNew == nRef && nNew == admitted.size.toLong)
        // a doc shorter than the shingle width has no signature: it
        // always admits and adds no store rows
        assert(wave.collect { case (i, "tiny doc") => i }.toSet.subsetOf(admitted))
        // exact copies of stored docs reject against the store
        val copies = wave.collect { case (i, t) if stored(t) => i }.toSet
        assert((copies & admitted).isEmpty)
        storeRejects += copies.size
        assert(admitted.size < wave.size)
      }
      // the waves exercise both halves: intra-batch losers in every
      // wave (the first has no store), store rejects after the first
      assert(storeRejects > 0)
      assert(corpusRows(corpus) == corpusRows(refCorpus))
      assert(storeRows(sigs) == storeRows(refSigs))
    }
  }

  test("intra-batch chain A~B, B~C with A≁C: B and C both drop, A admits") {
    val words = (0 until 30).map(i => s"c$i").toArray
    val b = words.updated(15, "b15")
    val c = b.updated(5, "c5")
    val root = tmp()
    val n = IncrementalDedup.applyBatch(
      docs(1L -> words.mkString(" "), 2L -> b.mkString(" "), 3L -> c.mkString(" ")),
      0L, s"$root/corpus", s"$root/sigs", "doc_id", "text")
    assert(n == 1L)
    assert(corpusIds(s"$root/corpus") == Set(1L))
  }

  test("a probing wave runs at most 21 Spark jobs") {
    val root = tmp()
    val corpus = s"$root/corpus"; val sigs = s"$root/sigs"
    val waves = seededWaves(21L, waves = 2, size = 40)
    IncrementalDedup.applyBatch(docs(waves(0): _*), 0L, corpus, sigs, "doc_id", "text")
    // before the single verified probe: 28 jobs on this wave (32 on the
    // benchmark's 100-doc ingest wave)
    val jobs = jobsOf(IncrementalDedup.applyBatch(docs(waves(1): _*), 1L, corpus, sigs,
      "doc_id", "text"))
    assert(jobs <= 21, s"$jobs jobs")
  }
}
