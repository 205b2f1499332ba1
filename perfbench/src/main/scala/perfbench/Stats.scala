package perfbench

/** Latency summaries over one measured phase. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest of these percentiles that leaves at least 10 samples
    * beyond it; None when the phase has too few ops for any.
    */
  private val TailLadder = Seq(0.999, 0.99, 0.95, 0.9, 0.75)

  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val s = xs.sorted
    TailLadder.iterator.map { p =>
      val idx = math.max(0, math.ceil(p * s.size).toInt - 1)
      (p, idx, s.size - idx - 1)
    }.collectFirst { case (p, idx, beyond) if beyond >= 10 => (p * 100, s(idx), beyond) }
  }

  final case class Summary(opsPerSecond: Double, readMean: Double,
      detail: Seq[(String, Any)])

  def summary(ops: Seq[OpRecord]): Summary = {
    val reads = ops.filterNot(_.write).map(_.seconds)
    val writes = ops.filter(_.write).map(_.seconds)
    def tailJson(xs: Seq[Double]): Any = tail(xs).fold[Any](null) { case (p, v, n) =>
      Seq("value" -> v, "percentile" -> p, "samples_beyond" -> n)
    }
    val kinds = ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
      k -> Seq("n" -> rs.size, "p50_s" -> median(rs.map(_.seconds)),
        "mean_s" -> rs.map(_.seconds).sum / rs.size, "failed" -> rs.count(_.error.isDefined))
    }
    val busy = ops.map(_.seconds).sum
    Summary(ops.size / busy, reads.sum / reads.size, Seq(
      "ops" -> ops.size, "busy_s" -> busy, "op_p50_s" -> median(ops.map(_.seconds)),
      "write_ops" -> writes.size, "read_ops" -> reads.size, "read_p50_s" -> median(reads),
      "write_p50_s" -> (if (writes.isEmpty) null else median(writes)),
      "write_tail_s" -> tailJson(writes),
      "read_tail_s" -> tailJson(reads),
      "failed_ratio" -> ops.count(_.error.isDefined).toDouble / ops.size,
      "per_op_kind" -> kinds,
      "op_log" -> ops.map(r => Seq(r.kind, r.seconds))))
  }
}

/** Just enough JSON for the result line and the artifacts. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case kv: Seq[_] if kv.nonEmpty && kv.forall {
        case (_: String, _) => true
        case _ => false
      } => kv.map { case (k: String, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
    case m: collection.Map[_, _] => render(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
