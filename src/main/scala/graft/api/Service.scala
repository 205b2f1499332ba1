package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.{Failure, Success, Try}

/** The reference service's endpoint surface as a library facade
  * (reference: server.js:169-245): the HTTP layer is deployment
  * detail; these are the semantics a caller depends on.
  *
  *   - `describe`   ⇔ GET /            (server.js:169-178)
  *   - `csv`        ⇔ GET /api/universities/csv — serve the STAGED
  *                    artifact, error-with-suggestion when the ETL
  *                    has not run yet (server.js:181-197)
  *   - `json`       ⇔ GET /api/universities/json — staged data +
  *                    count + last_updated header (server.js:200-219)
  *   - `refresh`    ⇔ POST /api/refresh (server.js:222-239)
  *
  * Staged reads are lazy DataFrames over the sink directories — at
  * scale "serving" is handing the staged location to a query engine,
  * not buffering files in the service process.
  */
final class Service(spark: SparkSession, pipeline: Pipeline, stageDir: String) {

  val jsonDir: String = s"$stageDir/json"
  val csvDir: String  = s"$stageDir/csv"

  def describe: Map[String, String] = Map(
    "csv"     -> "staged CSV artifact (distributed files)",
    "json"    -> "staged JSON-lines artifact + count/freshness",
    "refresh" -> "run extract -> transform -> load once")

  /** One ETL run into the staged sinks. Either (count, failedSources)
    * or the failure — the reference returns 500 + details rather than
    * throwing (server.js:233-238).
    */
  def refresh(): Either[String, Pipeline.RefreshResult] =
    Try(pipeline.refresh()) match {
      case Success(r) => Right(r)
      case Failure(e) => Left(e.getMessage)
    }

  final case class JsonPayload(count: Long, data: DataFrame,
      lastUpdated: Option[java.sql.Timestamp])

  /** Staged JSON + count + freshness; Left(error + suggestion) before
    * the first refresh (server.js:213-218).
    */
  def json(tsCol: String = "last_updated"): Either[String, JsonPayload] =
    staged(spark.read.json(jsonDir)).map { df =>
      // count and freshness in ONE aggregation pass
      val last =
        if (df.columns.contains(tsCol)) max(col(tsCol).cast("timestamp"))
        else lit(null).cast("timestamp")
      val r = df.agg(count(lit(1)), last).head()
      JsonPayload(r.getLong(0), df, Option(r.getTimestamp(1)))
    }

  /** Staged CSV artifact; Left(error + suggestion) before refresh. */
  def csv(): Either[String, DataFrame] =
    staged(spark.read.option("header", "true").csv(csvDir))

  /** ONE downloadable CSV file (reference server.js:181-197 serves a
    * single `universities.csv`). The staged dir stays distributed; this
    * materializes the small serving copy on demand. Returns its path.
    */
  def csvFile(file: String = ""): Either[String, String] =
    csv().map(df => graft.sources.Writers.csvSingleFile(df,
      if (file.nonEmpty) file else s"$stageDir/download.csv"))

  /** ONE downloadable JSON-lines file (reference server.js:106 writes a
    * single JSON artifact). Returns its path.
    */
  def jsonFile(file: String = ""): Either[String, String] =
    staged(spark.read.json(jsonDir)).map(df =>
      graft.sources.Writers.jsonSingleFile(df,
        if (file.nonEmpty) file else s"$stageDir/download.json"))

  private def staged(read: => DataFrame): Either[String, DataFrame] =
    Try { val df = read; df.schema; df } match {
      case Success(df) => Right(df)
      case Failure(_) =>
        Left("data not staged yet — run refresh() first")
    }
}
