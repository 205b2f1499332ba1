package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** One benchmark run: set up [[SetupRepeats]] times on fresh sessions,
  * warm up, measure closed-loop rounds of one workload for `--seconds`
  * of op time, check every output, and print the result as the last
  * stdout line, prefixed with [[ResultTag]].
  *
  * `--trace 1` alternates untraced rounds (for the tracing overhead)
  * with traced rounds, whose spans and Spark counters give the
  * per-layer figures.
  */
object Main {
  val ResultTag = "PERFBENCH_RESULT "
  val SetupRepeats = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      workDir: String, outDir: String, tablesDir: String, tablesGenSeconds: Double)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("out"), m.getOrElse("tables", ""), m.getOrElse("tables-gen-s", "0").toDouble)
  }

  private def session(cores: Int, workDir: String): SparkSession = {
    val spark = GraftSession.configure(SparkSession.builder())
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .config("spark.sql.codegen.maxFields", "512")
      .config(GraftSession.LocalSpreadKey, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val wl: Workload = o.workload match {
      case "etl_refresh" => new EtlRefresh(o.seed, truncate = false, cores)
      case "etl_refresh_faults" => new EtlRefresh(o.seed, truncate = true, cores)
      case "analytics_mix" =>
        new AnalyticsMix(o.seed, o.tablesDir, s"${o.outDir}/oracle", o.tablesGenSeconds)
      case "incremental_ingest" => new IncrementalIngest(o.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ── set-up, repeated on fresh sessions; input generation excluded ──
    val setups = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 0 until SetupRepeats) {
      if (spark != null) { wl.close(); spark.stop() }
      val startNs = System.nanoTime() -
        (if (i == 0) (System.currentTimeMillis() - jvmStartMs) * 1000000L else 0L)
      val genBefore = if (i == 0) 0.0 else wl.inputGenSeconds
      spark = session(cores, s"${o.workDir}/session-$i")
      wl.setup(spark, s"${o.workDir}/setup-$i")
      setups += (System.nanoTime() - startNs) / 1e9 - (wl.inputGenSeconds - genBefore)
    }
    val setupFigures = wl.setupFigures

    def phase(name: String, since: Long): Unit =
      System.err.println(f"[perfbench] $name took ${(System.nanoTime() - since) / 1e9}%.2fs")
    phase("set-up", System.nanoTime() - (System.currentTimeMillis() - jvmStartMs) * 1000000L)
    val off = new Tracer(spark, enabled = false)
    val warm = new Recorder(off)
    val warmStart = System.nanoTime()
    wl.warmup(warm, off)
    phase("warm-up", warmStart)

    def measure(tracer: Tracer, seconds: Double): (Seq[OpRecord], Double) = {
      val rec = new Recorder(tracer)
      var busy = 0.0
      val t0 = System.nanoTime()
      while (busy < seconds) {
        wl.round(rec, tracer)
        busy = rec.ops.map(_.seconds).sum
      }
      val wall = (System.nanoTime() - t0) / 1e9
      (rec.ops.toSeq, wall)
    }

    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> cores,
      "setup_runs_s" -> setups.toSeq, "input_gen_s" -> wl.inputGenSeconds)
    val (ops, metrics) =
      if (!o.trace) {
        val (ops, wall) = measure(off, o.seconds)
        val heapMb = retainedHeapMb()
        val s = Stats.summary(ops)
        detail ++= s.detail ++ Seq("measured_wall_s" -> wall, "retained_heap_mb" -> heapMb)
        (ops, Seq(
          ("setup_s", Stats.median(setups.toSeq), "s"),
          ("ops_per_s", s.opsPerSecond, "1/s"),
          ("read_mean_s", s.readMean, "s"),
          ("retained_heap_mb", heapMb, "MB")))
      } else {
        // alternate untraced and traced rounds so warm-up drift does not
        // land on one side of the overhead comparison
        val tracer = new Tracer(spark, enabled = true)
        val plainRec = new Recorder(off)
        val tracedRec = new Recorder(tracer)
        def busy(r: Recorder) = r.ops.map(_.seconds).sum
        val t0 = System.nanoTime()
        while (busy(plainRec) < o.seconds / 2 || busy(tracedRec) < o.seconds / 2) {
          wl.round(plainRec, off)
          wl.round(tracedRec, tracer)
        }
        val wall = (System.nanoTime() - t0) / 1e9
        val (plainOps, tracedOps) = (plainRec.ops.toSeq, tracedRec.ops.toSeq)
        tracer.counters.foreach(_.drain())
        val plain = Stats.summary(plainOps)
        val traced = Stats.summary(tracedOps)
        val layer = Layers.figures(tracer, tracedOps, cores, setupFigures) ++ Map(
          "trace.overhead_ratio" -> (plain.opsPerSecond / traced.opsPerSecond - 1.0),
          "bench.input_gen_s" -> wl.inputGenSeconds)
        detail ++= traced.detail ++ Seq("measured_wall_s" -> wall,
          "untraced_ops_per_s" -> plain.opsPerSecond,
          "per_op_spark" -> Layers.perOpKind(tracer, tracedOps))
        Spans.write(tracer, s"${o.outDir}/spans.jsonl")
        (plainOps ++ tracedOps, Layers.Declared.map { case (n, unit) =>
          (n, layer.getOrElse(n, 0.0), unit)
        })
      }

    val errors = (warm.ops ++ ops).flatMap(r => r.error.map(e => s"${r.kind}: $e")) ++
      wl.finalChecks()
    wl.close()
    spark.stop()
    detail ++= Seq("errors" -> errors)
    Files.createDirectories(Paths.get(o.outDir))
    Files.writeString(Paths.get(s"${o.outDir}/detail.json"), Json.render(detail.toSeq))
    val result = Seq(
      "correct" -> errors.isEmpty,
      "attempted" -> ops.size,
      "failed" -> ops.count(_.error.isDefined),
      "metrics" -> metrics.map { case (n, v, u) => n -> Seq("value" -> v, "unit" -> u) })
    println(ResultTag + Json.render(result))
  }

  /** Heap in use after full GCs: includes Spark's persisted blocks. */
  private def retainedHeapMb(): Double = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
