package perfbench

import scala.collection.mutable
import scala.util.Random

import graft.sources.Snapshot
import graft.streaming.IncrementalDedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Writes beside reads on the snapshot layer, plus dedup on arrival.
  * Each round is one wave:
  *   - write `dedup.apply`: `IncrementalDedup.applyBatch` of a seeded
  *     document wave (fresh docs, exact and near duplicates of earlier
  *     fresh docs);
  *   - write `snapshot.upsert`: `Snapshot.upsert` of a seeded change set
  *     (updates + inserts) on a keyed table;
  *   - write `snapshot.delete`: `Snapshot.deleteWhere` of ~2% of rows;
  *   - write `snapshot.optimize_vacuum`: `Snapshot.optimize` clustered
  *     on the key, then `Snapshot.vacuum`;
  *   - read `snapshot.time_travel`: an aggregate over each of the
  *     [[TimeTravelReads]] newest retained versions, checked against that
  *     version's recorded count and sum;
  *   - read `snapshot.point_read` ([[PointReads]] per wave): a filtered
  *     read on the stats + bloom key column, checked against the model.
  * Every wave runs every op, so a run's op mix does not depend on how
  * many waves fit in it. The tables grow across waves, so per-commit
  * fixed cost, manifest growth and read-side file pruning all show.
  */
final class IncrementalIngest(seed: Long) extends Workload {
  import IncrementalIngest._

  private val rnd = new Random(seed)
  private var genNs = 0L
  def inputGenSeconds: Double = genNs / 1e9

  // ── document waves ──
  private val vocab = Array.tabulate(Vocab)(i => f"w$i%04d")
  private var nextDocId = 0L
  private val freshTexts = mutable.ArrayBuffer[String]()

  private final case class Wave(docs: Seq[(Long, String)], fresh: Set[Long], exact: Set[Long])

  private def freshText(): String =
    Seq.fill(30 + rnd.nextInt(31))(vocab(rnd.nextInt(Vocab))).mkString(" ")

  private def makeWave(size: Int, withDups: Boolean): Wave = {
    val t0 = System.nanoTime()
    val docs = mutable.ArrayBuffer[(Long, String)]()
    val fresh = mutable.Set[Long]()
    val exact = mutable.Set[Long]()
    val newTexts = mutable.ArrayBuffer[String]()
    for (_ <- 0 until size) {
      val id = nextDocId
      nextDocId += 1
      val u = rnd.nextDouble()
      val text =
        if (withDups && u < ExactShare) {
          exact += id
          freshTexts(rnd.nextInt(freshTexts.size))
        } else if (withDups && u < ExactShare + NearShare) {
          val words = freshTexts(rnd.nextInt(freshTexts.size)).split(' ')
          words(rnd.nextInt(words.length)) = vocab(rnd.nextInt(Vocab))
          words.mkString(" ")
        } else {
          fresh += id
          val t = freshText()
          newTexts += t
          t
        }
      docs += id -> text
    }
    // duplicates only ever point at fresh docs of EARLIER waves
    freshTexts ++= newTexts
    genNs += System.nanoTime() - t0
    Wave(docs.toSeq, fresh.toSet, exact.toSet)
  }

  // ── keyed table model: key -> value, and each version's (count, sum) ──
  private val model = mutable.HashMap[Long, Long]()
  private var nextKey = 0L
  private val recorded = mutable.HashMap[Long, (Long, Long)]()

  private var spark: SparkSession = _
  private var corpusDir, sigDir, keyedDir: String = _
  private var waves = 0L
  private var admittedTotal = 0L

  def setup(session: SparkSession, workDir: String): Unit = {
    spark = session
    corpusDir = s"$workDir/corpus"
    sigDir = s"$workDir/signatures"
    keyedDir = s"$workDir/keyed"
    val (rows, t) = {
      val t0 = System.nanoTime()
      model.clear(); recorded.clear()
      val rows = (0 until InitialKeys).map { _ =>
        val k = nextKey; nextKey += 1
        val v = rnd.nextInt(1000000000).toLong
        model(k) = v
        (k, v)
      }
      (rows, System.nanoTime() - t0)
    }
    genNs += t
    val v = Snapshot.commit(spark, keyedDir, spark.createDataFrame(rows).toDF("k", "v"),
      spec = Some(Snapshot.TableSpec(statsCols = Seq("k", "v"), bloomCols = Seq("k"))))
    record(v)
    waves = 0L
    admittedTotal = 0L
    freshTexts.clear()
  }

  private def record(version: Long): Unit =
    recorded(version) = (model.size.toLong, model.valuesIterator.sum)

  /** The first wave (fresh docs only) creates the corpus and the
    * signature store; one set of reads follows, so the measured reads
    * are not the first ones the JVM compiles.
    */
  def warmup(rec: Recorder, tracer: Tracer): Unit = {
    applyWave(rec, tracer, makeWave(WaveSize, withDups = false))
    reads(rec, tracer)
    waves += 1
  }

  private def applyWave(rec: Recorder, tracer: Tracer, wave: Wave): Unit = {
    val batch = spark.createDataFrame(wave.docs).toDF("id", "text")
    val (lo, hi) = (wave.docs.head._1, wave.docs.last._1)
    val batchId = waves
    rec.op("dedup.apply", write = true) {
      tracer.span("streaming.incdedup.apply", "batch_rows" -> wave.docs.size.toDouble) {
        val n = IncrementalDedup.applyBatch(batch, batchId, corpusDir, sigDir, "id", "text")
        tracer.note("admitted", n.toDouble)
        n
      }
    } { n =>
      admittedTotal += n
      val admitted = Snapshot.read(spark, corpusDir).filter(col("id").between(lo, hi))
        .select("id").collect().map(_.getLong(0)).toSet
      if (admitted.size != n) Some(s"applyBatch reported $n admitted, corpus holds ${admitted.size}")
      else if (!wave.fresh.subsetOf(admitted))
        Some(s"${(wave.fresh -- admitted).size} planted fresh docs were not admitted")
      else if ((wave.exact & admitted).nonEmpty)
        Some(s"${(wave.exact & admitted).size} planted exact duplicates were admitted")
      else None
    }
  }

  def round(rec: Recorder, tracer: Tracer): Unit = {
    applyWave(rec, tracer, makeWave(WaveSize, withDups = true))
    val changes = {
      val t0 = System.nanoTime()
      val keys = model.keysIterator.toIndexedSeq
      val updates = Seq.fill(UpdatesPerWave)(keys(rnd.nextInt(keys.size))).distinct
      val inserts = Seq.fill(InsertsPerWave) { val k = nextKey; nextKey += 1; k }
      val rows = (updates ++ inserts).map(k => (k, rnd.nextInt(1000000000).toLong))
      genNs += System.nanoTime() - t0
      rows
    }
    writeOp(rec, tracer, "snapshot.upsert")(
      Some(Snapshot.upsert(spark, keyedDir, spark.createDataFrame(changes).toDF("k", "v"), Seq("k"))))(
      changes.foreach { case (k, v) => model(k) = v })

    val r = (waves % 50).toInt
    writeOp(rec, tracer, "snapshot.delete")(
      Snapshot.deleteWhere(spark, keyedDir, col("v") % 50 === r))(
      model.filterInPlace { case (_, v) => v % 50 != r })
    writeOp(rec, tracer, "snapshot.optimize_vacuum") {
      val v = Snapshot.optimize(spark, keyedDir, clusterBy = Seq("k"))
      Snapshot.vacuum(spark, keyedDir, keepLast = KeepVersions)
      v
    }(())

    reads(rec, tracer)
    waves += 1
  }

  private def reads(rec: Recorder, tracer: Tracer): Unit = {
    // the newest retained versions: after a wave, its upsert, delete
    // (deletion vectors) and optimize versions, so every wave reads the
    // same mix of plain and deletion-vector versions
    val retained = Snapshot.versions(spark, keyedDir).filter(recorded.contains)
    for (version <- retained.takeRight(TimeTravelReads)) {
      rec.op("snapshot.time_travel", write = false) {
        tracer.span("sources.snapshot.read") {
          val r = Snapshot.readVersion(spark, keyedDir, version)
            .agg(count(lit(1)), coalesce(sum(col("v")), lit(0L))).head()
          (r.getLong(0), r.getLong(1))
        }
      } { got =>
        Option.when(got != recorded(version))(
          s"version $version reads (count, sum) $got, recorded ${recorded(version)}")
      }
    }

    for (_ <- 0 until PointReads) {
      val key = if (rnd.nextInt(4) == 0) nextKey + rnd.nextInt(1000) else rnd.nextLong(nextKey)
      val live = if (tracer.enabled) liveFiles() else 0.0
      rec.op("snapshot.point_read", write = false) {
        tracer.span("sources.snapshot.read", "live_files" -> live, "selective" -> 1.0) {
          Snapshot.read(spark, keyedDir).filter(col("k") === key).select("v").collect()
            .map(_.getLong(0)).toSeq
        }
      } { got =>
        Option.when(got != model.get(key).toSeq)(s"key $key reads $got, model has ${model.get(key)}")
      }
    }
  }

  /** One write op on the keyed table: time the call, then update the
    * model and record the new version's expected contents.
    */
  private def writeOp(rec: Recorder, tracer: Tracer, kind: String)(
      call: => Option[Long])(applyModel: => Unit): Unit =
    rec.op(kind, write = true)(tracer.span("sources.snapshot.commit")(call)) { v =>
      applyModel
      v.foreach(record)
      None
    }

  private def liveFiles(): Double =
    Snapshot.history(spark, keyedDir).orderBy(desc("version")).select("n_files")
      .head().getLong(0).toDouble

  def finalChecks(): Seq[String] = {
    val corpusRows = Snapshot.read(spark, corpusDir).count()
    val latest = Snapshot.read(spark, keyedDir).agg(count(lit(1)), sum(col("v"))).head()
    Seq(
      Option.when(corpusRows != admittedTotal)(
        s"corpus holds $corpusRows rows, waves admitted $admittedTotal"),
      Option.when(latest.getLong(0) != model.size || latest.getLong(1) != model.valuesIterator.sum)(
        s"keyed table (count, sum) (${latest.getLong(0)}, ${latest.getLong(1)}) differs from the model"),
    ).flatten
  }

  def close(): Unit = ()
}

object IncrementalIngest {
  val WaveSize = 100
  /** Shares of each wave planted as exact / near duplicates of earlier
    * fresh docs; the rest are fresh.
    */
  val ExactShare = 0.10
  val NearShare = 0.10
  val Vocab = 5000
  val InitialKeys = 5000
  val UpdatesPerWave = 100
  val InsertsPerWave = 25
  val KeepVersions = 8
  val TimeTravelReads = 4
  val PointReads = 12
}
