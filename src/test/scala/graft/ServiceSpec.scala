package graft

import graft.api.{Pipeline, Service}
import graft.operators.Clean
import org.apache.spark.sql.functions._
import java.nio.file.Files

class ServiceSpec extends SparkSpec {

  private def buildService(stage: String) = {
    val p = Pipeline.builder(spark)
      .source("src")(s => { import s.implicits._
        Seq((1L, " MIT ", "USA"), (2L, null, "USA"), (3L, "ETH", "CH"))
          .toDF("id", "name", "country") })
      .transform(df => Clean.requireFields(df, Seq("name")))
      .transform(Clean.standardize)
      .transform(df => Clean.withIngestTimestamp(df, to_timestamp(lit("2026-01-02 00:00:00"))))
      .sink("json")(df => df.write.mode("overwrite").json(s"$stage/json"))
      .sink("csv")(df => df.write.mode("overwrite").option("header", "true").csv(s"$stage/csv"))
    new Service(spark, p, stage)
  }

  test("json/csv before refresh: error with suggestion (reference 404 contract)") {
    val svc = buildService(Files.createTempDirectory("graft-svc").toString)
    assert(svc.json().isLeft)
    assert(svc.csv().isLeft)
    assert(svc.describe.keySet == Set("csv", "json", "refresh"))
  }

  test("refresh stages artifacts; json carries count + freshness; csv readable") {
    val svc = buildService(Files.createTempDirectory("graft-svc").toString)
    val res = svc.refresh()
    assert(res == Right(Pipeline.RefreshResult(2, Nil)))

    val payload = svc.json().toOption.get
    assert(payload.count == 2)
    assert(payload.lastUpdated.exists(_.toString.startsWith("2026-01-02")))
    assert(payload.data.filter(col("name") === "MIT").count() == 1)

    val csv = svc.csv().toOption.get
    assert(csv.count() == 2)
  }

  test("json's one-pass count and freshness equal the separate count() and max() actions") {
    val svc = buildService(Files.createTempDirectory("graft-svc").toString)
    assert(svc.refresh().isRight)
    val payload = svc.json().toOption.get
    val df = spark.read.json(svc.jsonDir)
    assert(payload.count == df.count())
    assert(payload.lastUpdated ==
      Option(df.agg(max(col("last_updated").cast("timestamp"))).head().getTimestamp(0)))
    // no timestamp column: the count still comes back, freshness is absent
    val noTs = svc.json(tsCol = "no_such_column").toOption.get
    assert(noTs.count == df.count() && noTs.lastUpdated.isEmpty)
  }

  test("refresh surfaces failure instead of throwing (reference 500 contract)") {
    val p = Pipeline.builder(spark).source("down")(_ => sys.error("all sources down"))
    val svc = new Service(spark, p, Files.createTempDirectory("graft-svc").toString)
    assert(svc.refresh().isLeft)
  }
}
