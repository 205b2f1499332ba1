package perfbench

import java.nio.file.{Files, Paths}

/** Per-layer figures of a traced phase, from the spans the benchmark
  * put around each module call and the Spark counters charged to them.
  * A layer the workload does not exercise reports 0.
  */
object Layers {
  /** Every per-layer metric, with its unit, in report order. */
  val Declared: Seq[(String, String)] = Seq(
    "tables.load_s" -> "s", "tables.cached_mb" -> "MB",
    "sources.http.fetch_s" -> "s", "sources.http.bytes" -> "bytes",
    "sources.http.failed_sources" -> "count",
    "api.pipeline.refresh_s" -> "s", "api.pipeline.self_s" -> "s",
    "api.pipeline.jobs" -> "count",
    "sources.writers.write_s" -> "s", "sources.writers.jobs" -> "count",
    "sources.snapshot.commit_s" -> "s", "sources.snapshot.jobs_per_commit" -> "count",
    "sources.snapshot.bytes_read_per_commit" -> "bytes",
    "sources.snapshot.read_s" -> "s", "sources.snapshot.files_read_ratio" -> "ratio",
    "sources.snapshot.live_files" -> "count",
    "streaming.incdedup.apply_s" -> "s", "streaming.incdedup.jobs_per_wave" -> "count",
    "streaming.incdedup.admitted_ratio" -> "ratio",
    "api.service.read_s" -> "s", "api.service.jobs_per_read" -> "count") ++
    AnalyticsMix.Families.map(f => s"operators.$f.wall_s" -> "s") ++ Seq(
    "plans.exchanges" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_wait_s" -> "s", "spark.cpu_util" -> "ratio",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.shuffle_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.task_skew" -> "ratio",
    "trace.overhead_ratio" -> "ratio", "bench.input_gen_s" -> "s")

  /** Inclusive counters of a span: its own job group plus all nested spans'. */
  private def inclusive(tracer: Tracer, span: Span): Counters = {
    val total = new Counters
    val byParent = tracer.spans.groupBy(_.parent)
    def go(s: Span): Unit = {
      tracer.counters.foreach(c => total += c.group(Tracer.group(s.id)))
      byParent.getOrElse(s.id, Nil).foreach(go)
    }
    go(span)
    total
  }

  def figures(tracer: Tracer, ops: Seq[OpRecord], cores: Int,
      setup: Map[String, Double]): Map[String, Double] = {
    val spans = tracer.spans.toSeq
    val children = spans.groupBy(_.parent)
    def named(n: String) = spans.filter(_.name == n)
    def med(xs: Seq[Double]) = Stats.median(xs)
    // per-op sums for layers called several times inside one op
    def perOp(n: String)(f: Span => Double): Seq[Double] =
      named(n).groupBy(_.opId).values.map(_.map(f).sum).toSeq

    val refresh = named("api.pipeline.refresh")
    val commits = named("sources.snapshot.commit")
    val reads = named("sources.snapshot.read")
    val selective = reads.filter(_.attrs.contains("selective"))
    val dedup = named("streaming.incdedup.apply")
    val service = named("api.service.read")
    val top = spans.filter(_.parent == 0)
    val all = new Counters
    top.foreach(s => all += inclusive(tracer, s))
    val n = math.max(1, ops.size).toDouble
    val busy = ops.map(_.seconds).sum
    val passes = math.max(1, ops.groupBy(_.kind).values.map(_.size).maxOption.getOrElse(1))

    setup ++ Map(
      "sources.http.fetch_s" -> med(perOp("sources.http.fetch")(_.seconds)),
      "sources.http.bytes" -> med(refresh.map(_.attrs.getOrElse("http_bytes", 0.0))),
      "sources.http.failed_sources" -> med(refresh.map(_.attrs.getOrElse("failed_sources", 0.0))),
      "api.pipeline.refresh_s" -> med(refresh.map(_.seconds)),
      "api.pipeline.self_s" -> med(refresh.map(s =>
        s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum)),
      "api.pipeline.jobs" -> med(refresh.map(inclusive(tracer, _).jobs.toDouble)),
      "sources.writers.write_s" -> med(perOp("sources.writers.write")(_.seconds)),
      "sources.writers.jobs" ->
        med(perOp("sources.writers.write")(inclusive(tracer, _).jobs.toDouble)),
      "sources.snapshot.commit_s" -> med(commits.map(_.seconds)),
      "sources.snapshot.jobs_per_commit" -> med(commits.map(inclusive(tracer, _).jobs.toDouble)),
      "sources.snapshot.bytes_read_per_commit" ->
        med(commits.map(inclusive(tracer, _).inputBytes.toDouble)),
      "sources.snapshot.read_s" -> med(reads.map(_.seconds)),
      "sources.snapshot.files_read_ratio" -> {
        val live = selective.map(_.attrs.getOrElse("live_files", 0.0)).sum
        if (live == 0) 0.0 else selective.map(inclusive(tracer, _).filesRead.toDouble).sum / live
      },
      "sources.snapshot.live_files" -> med(selective.map(_.attrs.getOrElse("live_files", 0.0))),
      "streaming.incdedup.apply_s" -> med(dedup.map(_.seconds)),
      "streaming.incdedup.jobs_per_wave" -> med(dedup.map(inclusive(tracer, _).jobs.toDouble)),
      "streaming.incdedup.admitted_ratio" -> {
        val rows = dedup.map(_.attrs.getOrElse("batch_rows", 0.0)).sum
        if (rows == 0) 0.0 else dedup.map(_.attrs.getOrElse("admitted", 0.0)).sum / rows
      },
      "api.service.read_s" -> med(service.map(_.seconds)),
      "api.service.jobs_per_read" -> med(service.map(inclusive(tracer, _).jobs.toDouble)),
      "plans.exchanges" -> all.exchanges / n,
      "spark.jobs" -> all.jobs / n,
      "spark.stages" -> all.stages / n,
      "spark.tasks" -> all.tasks / n,
      "spark.task_wait_s" -> all.waitMs / 1000.0 / n,
      "spark.cpu_util" -> (if (busy == 0) 0.0 else all.cpuNs / 1e9 / (busy * cores)),
      "spark.executor_cpu_s" -> all.cpuNs / 1e9 / n,
      "spark.gc_s" -> all.gcMs / 1000.0 / n,
      "spark.shuffle_mb" -> all.shuffleWriteBytes / 1048576.0 / n,
      "spark.spill_mb" -> all.spillBytes / 1048576.0 / n,
      "spark.task_skew" -> med(all.skews.toSeq)) ++
      AnalyticsMix.Families.map(f =>
        s"operators.$f.wall_s" -> named(s"operators.$f").map(_.seconds).sum / passes)
  }

  /** Per op kind (per query for analytics_mix): median latency and the
    * median Spark counters of its spans.
    */
  def perOpKind(tracer: Tracer, ops: Seq[OpRecord]): Seq[(String, Any)] = {
    val topByOp = tracer.spans.filter(_.parent == 0).groupBy(_.opId)
    ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (kind, rs) =>
      val cs = rs.map { r =>
        val c = new Counters
        topByOp.getOrElse(r.id, Nil).foreach(s => c += inclusive(tracer, s))
        c
      }
      def med(f: Counters => Double) = Stats.median(cs.map(f))
      kind -> Seq(
        "n" -> rs.size, "p50_s" -> Stats.median(rs.map(_.seconds)),
        "jobs" -> med(_.jobs.toDouble), "stages" -> med(_.stages.toDouble),
        "tasks" -> med(_.tasks.toDouble), "executor_cpu_s" -> med(_.cpuNs / 1e9),
        "gc_s" -> med(_.gcMs / 1000.0), "shuffle_mb" -> med(_.shuffleWriteBytes / 1048576.0),
        "spill_mb" -> med(_.spillBytes / 1048576.0), "exchanges" -> med(_.exchanges.toDouble),
        "files_read" -> med(_.filesRead.toDouble), "input_mb" -> med(_.inputBytes / 1048576.0))
    }
  }
}

/** The span file: one JSON object per line, written once at exit. */
object Spans {
  def write(tracer: Tracer, file: String): Unit = {
    Files.createDirectories(Paths.get(file).getParent)
    val base = tracer.spans.headOption.fold(0L)(_.startNs)
    val lines = tracer.spans.map { s =>
      Json.render(Seq("id" -> s.id, "name" -> s.name, "op" -> s.opId, "parent" -> s.parent,
        "start_s" -> (s.startNs - base) / 1e9, "end_s" -> (s.endNs - base) / 1e9,
        "attrs" -> s.attrs.toSeq.sortBy(_._1)))
    }
    Files.writeString(Paths.get(file), lines.mkString("", "\n", "\n"))
  }
}
