package perfbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import graft.{QueryDef, Queries, Tables}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Read-only, compute-heavy mix over the generated analytics tables:
  * oracle-backed `Queries.all` entries, each materialized to the noop
  * sink as `graft.Bench` does. Every op is a read op; one round is one
  * pass over the list in a seeded order.
  *
  * Correctness: the warm-up pass writes each result as parquet beside
  * the query's oracle SQL, for a DuckDB compare after the run; every
  * timed op must then return the row count the compared run returned.
  */
final class AnalyticsMix(seed: Long, tablesDir: String, dumpDir: String,
    genSeconds: Double) extends Workload {
  import AnalyticsMix._

  private val queries: Seq[(QueryDef, String)] = Mix.map { case (name, family) =>
    Queries.all.find(_.name == name)
      .getOrElse(throw new IllegalStateException(s"unknown query $name")) -> family
  }
  private val expectedRows = scala.collection.mutable.Map[String, Long]()
  private var spark: SparkSession = _
  private var passes = 0
  private var figures = Map.empty[String, Double]

  def inputGenSeconds: Double = genSeconds

  def setup(session: SparkSession, workDir: String): Unit = {
    spark = session
    val t0 = System.nanoTime()
    MixTables.foreach(n => Tables(spark, tablesDir, n).count())
    val loadS = (System.nanoTime() - t0) / 1e9
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    figures = Map("tables.load_s" -> loadS, "tables.cached_mb" -> cachedMb)
  }

  override def setupFigures: Map[String, Double] = figures

  private def run(q: QueryDef): Observation = {
    val obs = new Observation()
    q.fn(spark, tablesDir).observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    obs
  }

  private def rowsOf(obs: Observation): Long = obs.get("rows").asInstanceOf[Long]

  def warmup(rec: Recorder, tracer: Tracer): Unit = {
    Files.createDirectories(Paths.get(dumpDir))
    queries.foreach { case (q, _) =>
      val obs = new Observation()
      q.fn(spark, tablesDir).observe(obs, count(lit(1)).as("rows"))
        .write.mode("overwrite").parquet(s"$dumpDir/${q.name}")
      expectedRows(q.name) = rowsOf(obs)
    }
    val oracle = queries.map { case (q, _) =>
      Json.str(q.name) + ": " + Json.str(q.oracle.getOrElse(
        throw new IllegalStateException(s"${q.name} has no oracle SQL")))
    }.mkString("{", ",\n", "}")
    Files.writeString(Paths.get(s"$dumpDir/oracle_sql.json"), oracle)
  }

  def round(rec: Recorder, tracer: Tracer): Unit = {
    new Random(seed * 7919 + passes).shuffle(queries).foreach { case (q, family) =>
      rec.op(q.name, write = false) {
        tracer.span(s"operators.$family")(run(q))
      } { obs =>
        val n = rowsOf(obs)
        Option.when(n != expectedRows(q.name))(
          s"${q.name} returned $n rows; the oracle-compared run returned ${expectedRows(q.name)}")
      }
    }
    passes += 1
  }

  def finalChecks(): Seq[String] = Nil

  def close(): Unit = Queries.sweepScratch()
}

object AnalyticsMix {
  /** (query, family). One list for every run; the seed only sets the
    * order within a pass.
    */
  val Mix: Seq[(String, String)] = Seq(
    "q3_join_agg" -> "relational",
    "q13_percentiles" -> "quantile",
    "q207_knn_outlier" -> "knn",
    "graph_sssp" -> "graph",
    "etl_clean_transform" -> "clean")

  /** The tables the mix reads; set-up loads and spreads exactly these. */
  val MixTables: Seq[String] = Seq("customer", "orders", "lineitem", "embeddings", "documents")

  val Families: Seq[String] = Mix.map(_._2).distinct
}
