package graftbench

/** Per-layer metrics of a traced run, derived from its spans. The layers
  * are graft's modules: `ops` (DataFrame construction), `spark` (Catalyst
  * planning and execution), `table` (IceTable/IceScan calls) and `meta`
  * (catalog commits and loads); `client` is the benchmark's own operation
  * span and `storage` comes from walking the table location.
  *
  * A `_ms` metric named after a call is the mean duration of that call; a
  * count is per workload operation; `*.self_ms` is the layer's self time
  * per operation. A metric a workload has no work for reads 0.
  */
object Layers {
  /** The workload-supplied levels and counts, zero where not measured. */
  val WorkloadKeys = Seq(
    "table.delete_files_live", "table.manifests_live", "meta.cas_calls",
    "meta.cas_conflicts", "storage.data_bytes_written",
    "storage.meta_bytes_written", "storage.write_amp", "table.plan_tasks",
    "table.plan_keep_ratio", "meta.manifest_cache_hit_ratio",
    "meta.manifest_cache_misses")

  val Units: Map[String, String] = Map(
    "storage.data_bytes_written" -> "B", "storage.meta_bytes_written" -> "B",
    "storage.write_amp" -> "ratio", "table.plan_keep_ratio" -> "ratio",
    "meta.manifest_cache_hit_ratio" -> "ratio").withDefaultValue("count")

  def apply(spans: Seq[Span], jobs: Map[Int, TaskTotals], ops: Int, cores: Int,
      workload: Map[String, Double]): Seq[(String, Double, String)] = {
    val byId = spans.map(s => s.id -> s).toMap
    def ancestors(s: Span): Iterator[Span] =
      Iterator.iterate(byId.get(s.parent))(_.flatMap(p => byId.get(p.parent)))
        .takeWhile(_.isDefined).map(_.get)
    val isJob = (s: Span) => s.layer == "spark" && s.name.startsWith("job ")
    // only jobs submitted inside an operation of the measured phase count
    val jobSpans = spans.filter(s => isJob(s) && ancestors(s).exists(_.layer == "client"))
    def under(layer: String, name: String) =
      jobSpans.count(j => ancestors(j).exists(a => a.layer == layer && a.name == name))
    val t = jobSpans.flatMap(j => jobs.get(j.id))
    def total(f: TaskTotals => Long): Double = t.map(f).sum.toDouble
    val clients = spans.filter(_.layer == "client")
    val clientNs = clients.map(_.dur).sum.toDouble

    def meanMs(layer: String, name: String): Double =
      Stats.mean(spans.filter(s => s.layer == layer && s.name == name).map(_.dur / 1e6))
    def perOp(v: Double): Double = v / ops
    val gapNs = clients.map { c =>
      val inside = jobSpans.filter(j => ancestors(j).exists(_.id == c.id))
        .map(j => (j.start, j.end))
      c.dur - Tracer.covered(inside, c.start, c.end)
    }.sum
    val self = Tracer.layerSelfTimes(spans)
    def selfMs(layer: String): Double = perOp(self.getOrElse(layer, 0L) / 1e6)
    val planCalls = spans.count(s => s.layer == "table" && s.name == "plan_files")

    Seq(
      ("ops.build_ms", meanMs("ops", "build"), "ms"),
      ("ops.build_jobs", perOp(under("ops", "build")), "count"),
      ("spark.plan_ms", meanMs("spark", "plan"), "ms"),
      ("spark.exec_ms", meanMs("spark", "action"), "ms"),
      ("spark.jobs", perOp(jobSpans.size), "count"),
      ("spark.tasks", perOp(total(_.tasks)), "count"),
      ("spark.task_run_ms", perOp(total(_.runMs)), "ms"),
      ("spark.task_cpu_ms", perOp(total(_.cpuNs) / 1e6), "ms"),
      ("spark.gc_ms", perOp(total(_.gcMs)), "ms"),
      ("spark.shuffle_records", perOp(total(_.shuffleRecords)), "count"),
      ("spark.shuffle_bytes", perOp(total(_.shuffleBytes)), "B"),
      ("spark.spill_bytes", perOp(total(_.spillBytes)), "B"),
      ("spark.gap_ms", perOp(gapNs / 1e6), "ms"),
      ("spark.slot_busy_ratio",
        if (clientNs > 0) total(_.runMs) * 1e6 / (clientNs * cores) else 0.0, "ratio"),
      ("table.scan_build_ms", meanMs("table", "scan_build"), "ms"),
      ("table.load_ms", meanMs("table", "load"), "ms"),
      ("table.append_ms", meanMs("table", "append"), "ms"),
      ("table.upsert_ms", meanMs("table", "upsert"), "ms"),
      ("table.delete_ms", meanMs("table", "delete"), "ms"),
      ("table.compact_ms", meanMs("table", "compact"), "ms"),
      ("table.expire_ms", meanMs("table", "expire"), "ms"),
      ("table.plan_files_ms", meanMs("table", "plan_files"), "ms"),
      ("table.plan_jobs",
        if (planCalls > 0) under("table", "plan_files").toDouble / planCalls else 0.0,
        "count"),
      ("meta.cas_ms", meanMs("meta", "commit"), "ms"),
      ("meta.load_ms", meanMs("meta", "load"), "ms"),
      ("client.self_ms", selfMs("client"), "ms"),
      ("ops.self_ms", selfMs("ops"), "ms"),
      ("spark.self_ms", selfMs("spark"), "ms"),
      ("table.self_ms", selfMs("table"), "ms"),
      ("meta.self_ms", selfMs("meta"), "ms"),
      ("trace.spans", perOp(spans.size), "count")) ++
      WorkloadKeys.map(k => (k, workload.getOrElse(k, 0.0), Units(k)))
  }

  def hitRatio(hits: Long, misses: Long): Double =
    if (hits + misses > 0) hits.toDouble / (hits + misses) else 0.0

  /** Shuffle records written by each query's jobs, per execution. On an
    * unchanged plan these repeat exactly, so they fingerprint the plan.
    */
  def shuffleFingerprint(spans: Seq[Span], jobs: Map[Int, TaskTotals]): String = {
    val byId = spans.map(s => s.id -> s).toMap
    def op(s: Span): Option[Span] =
      Iterator.iterate(byId.get(s.parent))(_.flatMap(p => byId.get(p.parent)))
        .takeWhile(_.isDefined).map(_.get).find(_.layer == "client")
    val perOp = spans.filter(s => s.layer == "spark" && s.name.startsWith("job "))
      .flatMap(j => op(j).map(o => o -> jobs.get(j.id).map(_.shuffleRecords).getOrElse(0L)))
      .groupBy(_._1).map { case (o, js) => o -> js.map(_._2).sum }
    val byQuery = spans.filter(_.layer == "client").map(o => o.name -> perOp.getOrElse(o, 0L))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).distinct.sorted }
    byQuery.toSeq.sortBy(_._1).map { case (q, rs) =>
      Json.str(q) + ":" + (if (rs.size == 1) rs.head.toString else rs.mkString("[", ",", "]"))
    }.mkString("""{"shuffle_records":{""", ",", "}}")
  }
}
