package perfbench

/** Per-layer metrics of a traced run, named after the engine's modules.
  * Every workload reports every name in `Names`; a layer the workload does
  * not run reports 0. */
object Layers {
  val QueryFamilies: Seq[String] = Seq(
    "relational", "fields", "shape", "tokenize", "prompt", "dedup", "match",
    "corpus", "embedding", "graph", "quality", "html_url", "langid")

  val PipelineLayers: Seq[String] = Seq(
    "FieldOps", "FilterOps", "TokenizeOps", "ShapeOps", "PromptOps", "SeqOps",
    "CollatorOps", "SinkOps")

  val DedupLayers: Seq[String] = Seq(
    "DedupOps.minhash", "DedupOps.exactsubstr", "DedupOps.containment",
    "MatchOps.prefixjoin", "CorpusOps.fingerprint")

  val Names: Seq[(String, String)] =
    Seq(
      "Mapper.build_s" -> "s", "Mapper.plan_s" -> "s",
      "Mapper.plan_nodes" -> "count", "spark.jobs" -> "count",
      "spark.stages" -> "count", "spark.tasks" -> "count",
      "functions.codegen_stages" -> "count",
      "functions.interpreted_nodes" -> "count") ++
    PipelineLayers.map(l => s"$l.busy_s" -> "s") ++
    Seq("FilterOps.kept_ratio" -> "ratio", "TokenizeOps.tokens_out" -> "count",
      "ShapeOps.rows_out_per_in" -> "ratio") ++
    DedupLayers.map(l => s"$l.busy_s" -> "s") ++
    Seq("DedupOps.candidate_pairs" -> "count", "DedupOps.verified_pairs" -> "count",
      "DedupOps.useful_ratio" -> "ratio", "MatchOps.candidate_pairs" -> "count",
      "MatchOps.useful_ratio" -> "ratio", "dup_recall" -> "ratio",
      "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
      "spark.spill_mb" -> "MB", "spark.task_skew" -> "ratio",
      "spark.task_s" -> "s", "spark.core_idle_s" -> "s", "spark.gc_s" -> "s",
      "cpu_s" -> "s", "op_p50_s" -> "s", "op_tail_s" -> "s", "op_tail_pct" -> "percentile",
      "op_tail_n" -> "count",
      "fail_ratio" -> "ratio",
      "trace.overhead.docs_per_s" -> "docs/s",
      "trace.overhead.cpu_s" -> "s") ++
    QueryFamilies.map(f => s"Queries.$f.s" -> "s") :+ ("streaming.s" -> "s")

  /** Metric name of an operation's busy time. */
  def busyName(layer: String): String =
    if (layer.startsWith("Queries.") || layer == "streaming") s"$layer.s"
    else s"$layer.busy_s"

  def passMetrics(tr: Tracer, p: PassRecord, cores: Int): Map[String, Double] = {
    val opIds = p.ops.flatMap(_.span.map(_.id)).toSet
    val phases = tr.spans.filter(s => opIds.contains(s.parent))
    val tot = p.ops.flatMap(_.totals)
    val plans = p.ops.flatMap(_.plans)
    val taskS = tot.map(_.taskRunMs).sum / 1e3
    val busy = p.ops.groupBy(_.layer).map { case (l, os) =>
      busyName(l) -> os.map(_.seconds).sum
    }
    Map(
      "Mapper.build_s" -> phases.filter(_.kind == "build").map(tr.selfMs).sum / 1e3,
      "Mapper.plan_s" -> phases.filter(_.kind == "plan").map(_.durMs).sum / 1e3,
      "Mapper.plan_nodes" -> plans.map(_.nodes).sum.toDouble,
      "spark.jobs" -> tot.map(_.jobs).sum.toDouble,
      "spark.stages" -> tot.map(_.stages).sum.toDouble,
      "spark.tasks" -> tot.map(_.tasks).sum.toDouble,
      "functions.codegen_stages" -> plans.map(_.codegenStages).sum.toDouble,
      "functions.interpreted_nodes" -> plans.map(_.interpretedNodes).sum.toDouble,
      "spark.shuffle_write_mb" -> tot.map(_.shuffleWriteB).sum / 1e6,
      "spark.shuffle_read_mb" -> tot.map(_.shuffleReadB).sum / 1e6,
      "spark.spill_mb" -> tot.map(_.spillB).sum / 1e6,
      "spark.task_skew" -> (0.0 +: tot.map(_.maxSkew)).max,
      "spark.task_s" -> taskS,
      "spark.core_idle_s" ->
        math.max(0.0, cores * tot.map(_.jobBusyMs).sum / 1e3 - taskS),
      "spark.gc_s" -> p.ops.map(_.gcS).sum
    ) ++ busy
  }

  def perLayer(tr: Tracer, traced: Seq[PassRecord], untraced: Seq[PassRecord],
      cores: Int, e2eU: Map[String, Double], e2eT: Map[String, Double],
      probe: Map[String, Double], ctx: Ctx): Map[String, Double] = {
    val per = traced.filter(_.ok).map(passMetrics(tr, _, cores))
    val keys = per.flatMap(_.keys).distinct
    val med = keys.map(k => k -> Stats.median(per.map(_.getOrElse(k, 0.0)))).toMap
    val lat = untraced.filter(_.ok).flatMap(_.ops.map(_.seconds))
    val (pct, tailV, n) = Stats.tail(lat)
    med ++ probe ++ Map(
      "cpu_s" -> e2eU("cpu_s"),
      "op_p50_s" -> Stats.median(lat),
      "op_tail_s" -> tailV, "op_tail_pct" -> pct.toDouble, "op_tail_n" -> n.toDouble,
      "fail_ratio" -> ctx.failed.toDouble / math.max(1L, ctx.attempted),
      // overheads are positive when tracing costs: throughput lost, CPU added
      "trace.overhead.docs_per_s" -> (e2eU("docs_per_s") - e2eT("docs_per_s")),
      "trace.overhead.cpu_s" -> (e2eT("cpu_s") - e2eU("cpu_s")))
  }
}
