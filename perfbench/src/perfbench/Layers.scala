package perfbench

/** Per-layer metrics of a traced run. Each is computed per traced pass
  * and reported as the median over those passes; a layer the workload
  * does not reach reads 0. The names are BENCHMARK.json's `per_layer`.
  */
object Layers {

  val StarTables = Seq("dim_time", "dim_brand", "dim_category", "dim_country",
    "dim_product", "fact")

  def names: Seq[String] =
    Seq("ingest.scan_tasks", "ingest.scan_stage_s", "ingest.scan_task_s",
      "pipeline.silver_s", "dedup.window_stage_s", "dedup.shuffle_bytes") ++
    StarTables.map(t => s"star.${t}_s") ++ Seq("star.jobs", "metrics.compute_s",
      "analytics.off_queries_s") ++ (1 to 6).map(q => s"analytics.q${q}_s") ++
    Seq("plan.planning_s", "store.snapshot_resolve_s", "store.fact_files",
      "store.fact_scan_tasks", "store.chain_len", "store.upsert_files_rewritten",
      "store.upsert_write_amp", "store.disk_bytes_per_live_byte") ++
    BatteryHot.Queries.flatMap(q => Seq(s"battery.${q}_s", s"battery.$q.jobs",
      s"battery.$q.task_s", s"battery.$q.min_stage_tasks", s"battery.$q.leaked_rdds")) ++
    Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_s",
      "spark.min_stage_tasks", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
      "spark.spill_bytes", "sched.core_busy_frac", "driver.non_job_s",
      "materialize.leaked_rdds", "materialize.leaked_bytes",
      "jvm.gc_s", "jvm.peak_heap_mb", "host.cpu_canary_s", "trace.overhead_frac")

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def compute(tr: Trace, traced: Seq[PassRec], w: Workload, cores: Int,
      untracedWalls: Seq[Double], canary: Double, peakHeapMb: Double): Map[String, Double] = {
    val perPass = traced.map(p => onePass(tr, p, w, cores))
    val run = Map(
      "jvm.peak_heap_mb" -> peakHeapMb,
      "host.cpu_canary_s" -> canary,
      "trace.overhead_frac" -> median(traced.map(_.wall)) / median(untracedWalls))
    names.map { n =>
      n -> run.getOrElse(n, median(perPass.map(_.getOrElse(n, 0.0))))
    }.toMap
  }

  private def onePass(tr: Trace, p: PassRec, w: Workload, cores: Int): Map[String, Double] = {
    val spans = tr.spans.filter(_.pass == p.n).toSeq
    val ids = spans.map(_.id).toSet
    val stages = tr.synchronized(tr.stages.filter(s => ids(s.span)).toSeq)
    val jobs = tr.synchronized(tr.jobs.filter(j => ids(j._1)).toSeq)
    def walls(prefix: String) = spans.filter(_.name.startsWith(prefix)).map(_.seconds).sum
    val m = scala.collection.mutable.Map.empty[String, Double]

    // ingest + clean/dedup: the silver write's stages. The scan stage
    // reads the TSV and feeds the dedup window's shuffle.
    val silver = spans.filter(_.name == "pipeline.silver")
    if (silver.nonEmpty) {
      val st = silver.flatMap(s => tr.stagesOf(s.id))
      val scans = st.filter(s => s.scan && s.shuffleWrite > 0)
      scans.sortBy(-_.taskMs).headOption.foreach { s =>
        m("ingest.scan_tasks") = s.tasks
        m("ingest.scan_stage_s") = s.wallMs / 1e3
        m("ingest.scan_task_s") = s.taskMs / 1e3
        m("dedup.shuffle_bytes") = s.shuffleWrite
      }
      m("dedup.window_stage_s") =
        st.filter(_.shuffleIn).map(_.wallMs).foldLeft(0L)(_ max _) / 1e3
      m("pipeline.silver_s") = silver.map(_.seconds).sum
    }
    StarTables.foreach(t => m(s"star.${t}_s") = walls(s"star.$t"))
    m("star.jobs") = spans.filter(_.name.startsWith("star.")).map(s => tr.jobsOf(s.id)).sum
    m("metrics.compute_s") = walls("metrics.compute")
    m("analytics.off_queries_s") = walls("analytics.q")
    (1 to 6).foreach(q => m(s"analytics.q${q}_s") = walls(s"analytics.q$q"))
    m("plan.planning_s") = spans.map(s => tr.planningOf(s.id)).sum / 1e3
    m("store.snapshot_resolve_s") = walls("store.resolve")

    spans.filter(_.name.startsWith("battery.")).foreach { s =>
      val q = s.name.stripPrefix("battery.")
      val st = tr.stagesOf(s.id)
      m(s"battery.${q}_s") = s.seconds
      m(s"battery.$q.jobs") = tr.jobsOf(s.id)
      m(s"battery.$q.task_s") = st.map(_.taskMs).sum / 1e3
      m(s"battery.$q.min_stage_tasks") = if (st.isEmpty) 0 else st.map(_.tasks).min
    }

    val wall = p.wall
    val taskS = stages.map(_.taskMs).sum / 1e3
    m("spark.jobs") = jobs.size
    m("spark.stages") = stages.size
    m("spark.tasks") = stages.map(_.tasks).sum
    m("spark.task_s") = taskS
    m("spark.min_stage_tasks") = if (stages.isEmpty) 0 else stages.map(_.tasks).min
    m("spark.shuffle_read_bytes") = stages.map(_.shuffleRead).sum
    m("spark.shuffle_write_bytes") = stages.map(_.shuffleWrite).sum
    m("spark.spill_bytes") = stages.map(_.spill).sum
    m("sched.core_busy_frac") = taskS / (wall * cores)
    m("driver.non_job_s") = math.max(0.0, wall - covered(jobs.map(j => (j._2, j._3)), p) / 1e3)
    m("jvm.gc_s") = p.gcMs / 1e3
    (m ++ w.layers(p.n)).toMap
  }

  /** Milliseconds of the pass window during which at least one job ran. */
  private def covered(iv: Seq[(Long, Long)], p: PassRec): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.map { case (a, b) => (a max p.startMs, b min p.endMs) }.filter(x => x._2 > x._1)
      .sortBy(_._1).foreach { case (a, b) =>
        if (a >= end) { total += b - a; end = b }
        else if (b > end) { total += b - end; end = b }
      }
    total
  }
}
