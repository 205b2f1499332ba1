package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, ExecutorService, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReferenceArray}

import scala.util.Random
import scala.util.hashing.MurmurHash3

import com.sun.net.httpserver.HttpServer
import graft.api.{Pipeline, Service}
import graft.operators.Clean
import graft.sources.{Http, Snapshot, Writers}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference service's own contract: N country sources served over
  * HTTP, one of them always answering 500, cleaned and derived, loaded
  * to JSON + CSV + a snapshot commit, then served back.
  *
  * Write op: one `Service.refresh()`. Read ops after it: `Service.json()`
  * (count + freshness) and `Service.csvFile()`.
  *
  * `truncate` adds the second fault: on a fixed, seeded share of
  * refreshes one healthy endpoint serves a truncated JSON body. The
  * library drops that source without reporting it, so those refreshes
  * fail their output check.
  */
final class EtlRefresh(seed: Long, truncate: Boolean, cores: Int) extends Workload {
  import EtlRefresh._

  private val rnd = new Random(seed)
  private val names = (0 until Sources).map(i => f"country_$i%02d")
  private val failing = rnd.nextInt(Sources)
  private val truncSource = (failing + 1 + rnd.nextInt(Sources - 1)) % Sources
  private val truncPhase = rnd.nextInt(TruncateEvery)
  private var nextUni = 0

  private def uni(src: Int): Uni = {
    nextUni += 1
    val id = nextUni
    val pad = " " * rnd.nextInt(3)
    val name = rnd.nextInt(100) match {
      case 0 => null
      case 1 => "   "
      case _ => s"${pad}University $id of ${names(src)}$pad "
    }
    val domain = s"u$id.${names(src)}.edu"
    Uni(id, name, s" ${names(src)} ", f"C${src}%02d",
      if (rnd.nextInt(4) == 0) null else s"State ${rnd.nextInt(50)}",
      Seq(domain),
      if (rnd.nextInt(10) == 0) Nil else Seq(s" http://$domain/ "))
  }

  private val t0 = System.nanoTime()
  private val records: Array[Array[Uni]] =
    Array.tabulate(Sources)(s => Array.fill(PerSource)(uni(s)))
  private var genNs = System.nanoTime() - t0

  def inputGenSeconds: Double = genNs / 1e9

  // ── the stub server ──
  private var server: HttpServer = _
  private var pool: ExecutorService = _
  private val bodies = new AtomicReferenceArray[Array[Byte]](Sources)
  private val bytesServed = new AtomicLong()

  // ── the pipeline under test ──
  private var spark: SparkSession = _
  private var service: Service = _
  private var snapDir: String = _
  private var stageDir: String = _
  private var committed = -1L
  private var refreshes = 0
  private var expected: Expected = _
  // the pipeline's spans go to whichever tracer the current phase uses
  private var tracer: Tracer = new Tracer(null, enabled = false)

  def setup(session: SparkSession, workDir: String): Unit = {
    spark = session
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    pool = Executors.newFixedThreadPool(math.max(1, math.min(cores, 4)))
    server.setExecutor(pool)
    server.createContext("/", exchange => {
      val i = exchange.getRequestURI.getPath.stripPrefix("/").toInt
      val body = if (i == failing) null else bodies.get(i)
      if (body == null) exchange.sendResponseHeaders(500, -1)
      else {
        exchange.getResponseHeaders.set("Content-Type", "application/json")
        exchange.sendResponseHeaders(200, body.length)
        exchange.getResponseBody.write(body)
        bytesServed.addAndGet(body.length)
      }
      exchange.close()
    })
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    stageDir = s"$workDir/stage"
    snapDir = s"$workDir/snapshot"
    val withSources = names.zipWithIndex.foldLeft(Pipeline.builder(spark)) {
      case (p, (n, i)) => p.source(n)(s =>
        tracer.span("sources.http.fetch") {
          Http.jsonWithFailures(s, Seq(n -> s"$base/$i"), Some(SourceSchema), "src")._1
        })
    }
    val pipeline = withSources
      .transform(df => Clean.requireFields(df, Seq("name", "country")))
      .transform(Clean.standardize)
      .transform(df => df.select(col("name"), col("country"), col("alpha_two_code"),
        col("`state-province`").as("state_province"),
        Clean.firstOf(col("domains")).as("primary_domain"),
        Clean.firstOf(col("web_pages")).as("web_page"), col("src")))
      .transform(df => Clean.withIngestTimestamp(df))
      .sink("json")(df => tracer.span("sources.writers.write")(Writers.json(df, s"$stageDir/json")))
      .sink("csv")(df => tracer.span("sources.writers.write")(Writers.csv(df, s"$stageDir/csv")))
      .sink("snapshot")(df => tracer.span("sources.snapshot.commit") {
        committed = Snapshot.commit(spark, snapDir, df)
      })
    service = new Service(spark, pipeline, stageDir)
    publishBodies()
  }

  /** Serialize every source for the next refresh; apply the seeded
    * drift first (except before the very first refresh).
    */
  private def publishBodies(): Unit = {
    val t = System.nanoTime()
    if (refreshes > 0)
      for (s <- 0 until Sources; _ <- 0 until (PerSource * DriftShare).toInt)
        records(s)(rnd.nextInt(PerSource)) = uni(s)
    val truncNow = truncate && refreshes % TruncateEvery == truncPhase
    for (s <- 0 until Sources) {
      val json = records(s).map(_.json).mkString("[", ",", "]")
      val body = if (truncNow && s == truncSource) json.take(json.length * 2 / 3) else json
      bodies.set(s, body.getBytes(UTF_8))
    }
    expected = Expected(records.indices.filter(_ != failing).flatMap(s =>
      records(s).filter(_.valid).map(_.canonical(names(s)))))
    genNs += System.nanoTime() - t
  }

  def warmup(rec: Recorder, tr: Tracer): Unit = for (_ <- 0 until WarmupRounds) round(rec, tr)

  def round(rec: Recorder, tr: Tracer): Unit = {
    tracer = tr
    val exp = expected
    val bytesBefore = bytesServed.get()
    val startMs = System.currentTimeMillis()
    rec.op("refresh", write = true) {
      tr.span("api.pipeline.refresh") {
        val r = service.refresh()
        tr.note("http_bytes", (bytesServed.get() - bytesBefore).toDouble)
        tr.note("failed_sources", r.fold(_ => 0, _.failedSources.size).toDouble)
        r
      }
    } {
      case Left(err) => Some(s"refresh returned an error: $err")
      case Right(r) =>
        val snap = Snapshot.readVersion(spark, snapDir, committed)
          .select("name", "country", "primary_domain", "web_page", "src").collect()
        val problems = Seq(
          Option.when(r.failedSources != Seq(names(failing)))(
            s"failed sources ${r.failedSources} != injected ${names(failing)}"),
          Option.when(r.recordCount != exp.count)(
            s"refresh counted ${r.recordCount} rows, generator expects ${exp.count}"),
          Option.when(snap.length != exp.count)(
            s"snapshot holds ${snap.length} rows, generator expects ${exp.count}"),
          Option.when(digest(snap.iterator.map(canonical)) != exp.digest)(
            "snapshot content digest differs from the generator's"))
        problems.flatten.headOption
    }
    rec.op("service.json", write = false) {
      tr.span("api.service.read")(service.json().map(p => (p.count, p.lastUpdated)))
    } {
      case Left(err) => Some(err)
      case Right((n, last)) =>
        if (n != exp.count) Some(s"served JSON has $n rows, generator expects ${exp.count}")
        else if (!last.exists(_.getTime >= startMs - 1000)) Some(s"stale last_updated $last")
        else None
    }
    rec.op("service.csv_file", write = false) {
      tr.span("api.service.read")(service.csvFile())
    } {
      case Left(err) => Some(err)
      case Right(path) =>
        val src = scala.io.Source.fromFile(path, "UTF-8")
        val rows = try src.getLines().size - 1 finally src.close()
        Option.when(rows != exp.count)(s"CSV file has $rows rows, generator expects ${exp.count}")
    }
    refreshes += 1
    publishBodies()
  }

  def finalChecks(): Seq[String] = Nil

  def close(): Unit = {
    if (server != null) server.stop(0)
    if (pool != null) {
      pool.shutdownNow()
      pool.awaitTermination(10, TimeUnit.SECONDS)
    }
    server = null
    pool = null
  }
}

object EtlRefresh {
  val Sources = 8
  val PerSource = 500
  /** Share of each source's records replaced before every refresh. */
  val DriftShare = 0.05
  /** Rounds before measuring: by the fourth, a refresh is near its
    * steady-state time.
    */
  val WarmupRounds = 3
  /** With truncation on, one refresh in this many gets a truncated body. */
  val TruncateEvery = 4

  val SourceSchema: StructType = StructType(Seq(
    StructField("name", StringType), StructField("country", StringType),
    StructField("alpha_two_code", StringType), StructField("state-province", StringType),
    StructField("domains", ArrayType(StringType)),
    StructField("web_pages", ArrayType(StringType))))

  final case class Uni(id: Int, name: String, country: String, code: String,
      state: String, domains: Seq[String], webPages: Seq[String]) {
    def valid: Boolean = name != null && name.trim.nonEmpty

    def json: String = {
      def s(v: String) = if (v == null) "null" else "\"" + v.replace("\\", "\\\\")
        .replace("\"", "\\\"") + "\""
      def arr(v: Seq[String]) = v.map(s).mkString("[", ",", "]")
      s"""{"name":${s(name)},"country":${s(country)},"alpha_two_code":${s(code)},""" +
        s""""state-province":${s(state)},"domains":${arr(domains)},"web_pages":${arr(webPages)}}"""
    }

    /** The row the pipeline should publish for this record. */
    def canonical(src: String): String = Seq(name.trim, country.trim,
      domains.headOption.map(_.trim).orNull, webPages.headOption.map(_.trim).orNull, src)
      .map(v => if (v == null) "\u0000" else v).mkString("\u0001")
  }

  def canonical(r: Row): String =
    (0 until r.length).map(i => if (r.isNullAt(i)) "\u0000" else r.getString(i))
      .mkString("\u0001")

  /** Order-insensitive, duplicate-sensitive 64-bit content digest. */
  def digest(rows: Iterator[String]): Long = rows.foldLeft(0L) { (acc, s) =>
    acc + ((MurmurHash3.stringHash(s, 17).toLong << 32) |
      (MurmurHash3.stringHash(s, 31).toLong & 0xffffffffL))
  }

  final case class Expected(rows: Seq[String]) {
    val count: Long = rows.size.toLong
    val digest: Long = EtlRefresh.digest(rows.iterator)
  }
}
