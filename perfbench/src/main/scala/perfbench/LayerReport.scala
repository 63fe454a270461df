package perfbench

/** The traced run's per-layer metrics. Every workload reports the same
  * names; a layer the workload does not touch reads 0 (shares and counts
  * only — per-call latencies of calls only some workloads make are in the
  * artifact's `calls` table instead). */
object LayerReport {
  val Names: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count",
    "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count",
    "spark.sched_delay_ms_per_op" -> "ms",
    "spark.plan_ms_per_op" -> "ms",
    "spark.job_wall_ms_per_op" -> "ms",
    "spark.outside_jobs_ms_per_op" -> "ms",
    "spark.task_ms_per_op" -> "ms",
    "spark.busy_ratio" -> "ratio",
    "spark.shuffle_write_mb_per_op" -> "MB",
    "spark.shuffle_read_mb_per_op" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.peak_exec_mb" -> "MB",
    "spark.result_kb_per_op" -> "KB",
    "jvm.gc_ms_per_op" -> "ms",
    "bench.self_share" -> "ratio",
    "server.self_share" -> "ratio",
    "pipeline.self_share" -> "ratio",
    "spark.job_share" -> "ratio",
    "server.failed_requests" -> "count",
    "core.cache_hit_ratio" -> "ratio",
    "core.aggregations_per_read" -> "count",
    "core.weighted_aggregations_per_op" -> "count",
    "olap.rule_requests_per_read" -> "count",
    "traced.ops_per_s" -> "op/s",
    "traced.lat_p50_ms" -> "ms")

  def metrics(w: Workload, samples: Vector[OpSample], spans: Vector[Span],
      probe: SparkProbe, clock: Clock, wallStart: Long, wallEnd: Long, cpus: Int,
      gcMs: Double, c0: Map[String, Double], c1: Map[String, Double],
      opsPerS: Double, p50: Double): Seq[Metric] = {
    val ops = math.max(1, samples.size).toDouble
    val jobs = probe.jobsIn(clock.toMs(wallStart), clock.toMs(wallEnd))
    val jobWallNs = jobs.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs) * 1e6).sum
    val opNs = samples.map(s => (s.endNs - s.startNs).toDouble).sum
    val windowSpans = spans.filter(s => s.startNs >= wallStart && s.startNs <= wallEnd)

    // layer self times: from the span tree where job groups attribute jobs
    // to single ops; a server's jobs run on its own threads, so there only
    // totals split a request into Spark and non-Spark time
    val layerSelf: Map[String, Double] =
      if (w.singleCaller) {
        val st = Layers.selfTimes(windowSpans, jobs, clock)
        val self = st.groupBy(_._1.layer).map { case (l, xs) => l -> xs.map(_._2.toDouble).sum }
        // Spark's share: its own spans' driver-side time plus attributed jobs
        self + ("spark" -> (self.getOrElse("spark", 0.0) + st.map(_._3.toDouble).sum))
      } else {
        val server = windowSpans.filter(_.layer == "server").map(s => (s.endNs - s.startNs).toDouble).sum
        val roots = windowSpans.filter(_.parent < 0).map(s => (s.endNs - s.startNs).toDouble).sum
        Map("bench" -> math.max(0.0, roots - server),
          "server" -> math.max(0.0, server - jobWallNs),
          "spark" -> math.min(jobWallNs, server))
      }
    val rootNs = math.max(1.0, windowSpans.filter(_.parent < 0).map(s => (s.endNs - s.startNs).toDouble).sum)
    def share(l: String): Double = layerSelf.getOrElse(l, 0.0) / rootNs

    val outsideJobsMs =
      if (w.singleCaller) {
        val byGroup = jobs.filter(_.endMs >= 0).groupBy(_.group)
        val roots = windowSpans.filter(_.parent < 0)
        roots.map { r =>
          val own = byGroup.getOrElse(s"op-${r.reqId}", Vector.empty)
            .map(j => (clock.toNs(j.startMs), clock.toNs(j.endMs)))
          (r.endNs - r.startNs) - Layers.union(own)
        }.map(_.toDouble).sum / 1e6 / ops
      } else math.max(0.0, opNs - jobWallNs) / 1e6 / ops

    def delta(k: String): Double = c1.getOrElse(k, 0.0) - c0.getOrElse(k, 0.0)
    val reads = delta("cell_requests")
    def perRead(k: String): Double = if (reads > 0) delta(k) / reads else 0.0
    val mb = 1024.0 * 1024.0
    val values = Map(
      "spark.jobs_per_op" -> jobs.size / ops,
      "spark.stages_per_op" -> jobs.map(_.stages).sum / ops,
      "spark.tasks_per_op" -> jobs.map(_.tasks).sum / ops,
      "spark.sched_delay_ms_per_op" -> jobs.map(_.schedDelayMs).sum / ops,
      "spark.plan_ms_per_op" -> probe.planMsIn(clock.toMs(wallStart), clock.toMs(wallEnd) + 1) / ops,
      "spark.job_wall_ms_per_op" -> jobWallNs / 1e6 / ops,
      "spark.outside_jobs_ms_per_op" -> outsideJobsMs,
      "spark.task_ms_per_op" -> jobs.map(_.taskMs).sum / ops,
      "spark.busy_ratio" -> jobs.map(_.taskMs).sum / ((wallEnd - wallStart) / 1e6 * cpus),
      "spark.shuffle_write_mb_per_op" -> jobs.map(_.shuffleWriteB).sum / mb / ops,
      "spark.shuffle_read_mb_per_op" -> jobs.map(_.shuffleReadB).sum / mb / ops,
      "spark.spill_mb" -> jobs.map(_.spillB).sum / mb,
      "spark.peak_exec_mb" -> (if (jobs.isEmpty) 0.0 else jobs.map(_.peakExecB).max / mb),
      "spark.result_kb_per_op" -> jobs.map(_.resultB).sum / 1024.0 / ops,
      "jvm.gc_ms_per_op" -> gcMs / ops,
      "bench.self_share" -> share("bench"),
      "server.self_share" -> share("server"),
      "pipeline.self_share" -> share("pipeline"),
      "spark.job_share" -> share("spark"),
      "server.failed_requests" -> (if (w.singleCaller) 0.0 else samples.count(!_.ok).toDouble),
      "core.cache_hit_ratio" -> perRead("cache_hits"),
      "core.aggregations_per_read" -> perRead("aggregations"),
      "core.weighted_aggregations_per_op" -> delta("weighted_aggregations") / ops,
      "olap.rule_requests_per_read" -> perRead("rule_requests"),
      "traced.ops_per_s" -> opsPerS,
      "traced.lat_p50_ms" -> p50)
    Names.map { case (n, u) => Metric(n, values(n), u) }
  }

  /** Per-call latency table from the spans: `<layer>.<call>` → n, p50 and
    * p90 in microseconds. */
  def callTable(spans: Vector[Span]): Seq[(String, String)] =
    spans.filter(_.parent >= 0).groupBy(s => s"${s.layer}.${s.name}").toSeq.sortBy(_._1).map {
      case (k, ss) =>
        val us = ss.map(s => (s.endNs - s.startNs) / 1e3)
        k -> Json.obj(Seq("n" -> Json.num(ss.size.toDouble),
          "p50_us" -> Json.num(Stats.median(us)), "p90_us" -> Json.num(Stats.quantile(us, 0.9))))
    }
}
