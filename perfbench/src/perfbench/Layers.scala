package perfbench

/** The per-layer metrics: `<span>.<counter>` for the spans each workload
  * records, job seconds by the graft file at each job's call site, the
  * storage ratios, and the tracing overhead. Every traced run reports the
  * whole list; a span a workload never records reads 0.
  */
object Layers {
  private val All = Seq("wall_s", "jobs", "task_s", "gap_s", "plan_s", "shuffle_b", "out_files", "fs_ops")

  /** span → counters kept; counters that are zero by construction on a span are left out. */
  val Spans: Seq[(String, Seq[String])] = Seq(
    "pipeline.run" -> Seq("wall_s", "self_s"),
    "pipeline.process.products" -> All,
    "pipeline.process.orders" -> All,
    "pipeline.process.order_items" -> All,
    "pipeline.register" -> Seq("wall_s", "jobs", "gap_s", "plan_s", "fs_ops"),
    "pipeline.smoke" -> Seq("wall_s", "jobs", "task_s", "gap_s", "plan_s", "fs_ops"),
    "pipeline.archive" -> Seq("wall_s"),
    "sources.catalog_read" -> Seq("wall_s", "jobs", "plan_s", "fs_ops"),
    "sources.merge" -> (All :+ "log_reads"),
    "sql.read" -> Seq("wall_s", "jobs", "task_s", "gap_s", "plan_s", "fs_ops", "log_reads"),
    "sql.travel" -> Seq("wall_s", "jobs", "task_s", "gap_s", "plan_s", "fs_ops", "log_reads"),
    "sources.maintain" -> (All :+ "log_reads"))

  /** Graft source files that launch the jobs; the rest is summed as `other`. */
  val Sites = Seq("Pipeline", "ParquetTable", "Catalog", "MergeInto", "StatsSketch", "PlanStats",
    "Workloads", "other")

  def unit(counter: String): String = counter match {
    case "jobs" | "out_files" | "fs_ops" | "log_reads" => "count"
    case "shuffle_b" => "B"
    case _ => "s"
  }

  private def counter(tr: Tracer, sp: Span, c: String): Double = c match {
    case "wall_s" => sp.wallS
    case "self_s" => tr.selfS(sp)
    case "task_s" => sp.get("task_ms") / 1000.0
    case "gap_s" => sp.get("gap_ms") / 1000.0
    case "plan_s" => sp.get("plan_ns") / 1e9
    case other => sp.get(other)
  }

  def perLayer(tr: Tracer, samples: Seq[(Sample, Boolean)],
      writtenB: Long, rootBytes: Long, liveBytes: Long): Seq[(String, Double, String)] = {
    val byName = tr.spans.groupBy(_.name)
    val spanMetrics = Spans.flatMap { case (s, cs) =>
      val inst = byName.getOrElse(s, Nil).toSeq
      cs.map(c => (s"$s.$c",
        if (inst.isEmpty) 0.0 else Stats.median(inst.map(counter(tr, _, c))), unit(c)))
    }
    // job seconds per traced operation, by call-site file, over top-level spans only
    val top = tr.spans.filter(_.parent < 0)
    val tracedOps = math.max(1, top.map(_.op).distinct.size)
    val sites = top.flatMap(_.counters.collect {
      case (k, v) if k.startsWith("jobs_ms.") => k.stripPrefix("jobs_ms.") -> v
    }).groupMapReduce(kv => if (Sites.contains(kv._1)) kv._1 else "other")(_._2)(_ + _)
    val siteMetrics = Sites.map(f => (s"jobs_s.$f", sites.getOrElse(f, 0L) / 1000.0 / tracedOps, "s"))

    val traced = samples.filter(_._2).map(_._1.opS)
    val untraced = samples.filterNot(_._2).map(_._1.opS)
    val p50t = if (traced.isEmpty) 0.0 else Stats.median(traced)
    val p50u = if (untraced.isEmpty) 0.0 else Stats.median(untraced)
    val rows = samples.map(_._1.rows).sum
    val extra = Seq(
      ("store.write_b_per_row", if (rows > 0) writtenB.toDouble / rows else 0.0, "B/row"),
      ("store.space_amp", if (liveBytes > 0) rootBytes.toDouble / liveBytes else 0.0, "ratio"),
      ("trace.op_s.p50", p50t, "s"),
      ("trace.untraced_op_s.p50", p50u, "s"),
      ("trace.overhead_s", p50t - p50u, "s"))
    spanMetrics ++ siteMetrics ++ extra
  }
}
