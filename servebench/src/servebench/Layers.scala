package servebench

/** Per-layer metrics of a traced run, from the spans and task counters.
  * Every workload reports every metric; a layer the workload does not
  * call reads 0. Time metrics are medians over measured requests of the
  * layer's self time in that request (set-up layers: over set-up reps);
  * `spark.*` counts are means per measured request.
  */
object Layers {

  /** Layer metrics: name → unit, in report order. */
  val Names: Seq[(String, String)] = Seq(
    "spark.plan_ms" -> "ms",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.task_wait_ms" -> "ms",
    "spark.task_cpu_ms" -> "ms",
    "spark.task_run_ms" -> "ms",
    "spark.input_rows" -> "count",
    "spark.input_bytes" -> "bytes",
    "spark.output_bytes" -> "bytes",
    "spark.shuffle_bytes" -> "bytes",
    "spark.failed_tasks" -> "count",
    "operators.FeatureStore.retrieve.ms" -> "ms",
    "operators.FeatureStore.retrieve.hit_ratio" -> "ratio",
    "operators.FeatureStore.stitch.ms" -> "ms",
    "operators.InteractionStore.retrieveRange.ms" -> "ms",
    "operators.InteractionStore.retrieveRange.rows_per_result" -> "ratio",
    "operators.IvfIndex.searchInt8.ms" -> "ms",
    "operators.IvfIndex.searchInt8.candidates_per_result" -> "count",
    "operators.Normalize.ms" -> "ms",
    "operators.IvfIndex.build.ms" -> "ms",
    "expr.Rpn.ms" -> "ms",
    "functions.Similarity.scored_bytes" -> "bytes",
    "sources.Layout.writeBucketedFeatureTable.ms" -> "ms",
    "sources.Layout.writeWeekPartitionedEvents.ms" -> "ms",
    "sources.Layout.writeIvf.ms" -> "ms",
    "sources.Layout.files_pruned_ratio" -> "ratio",
    "streaming.Ingest.upsertBatch.ms" -> "ms",
    "streaming.Ingest.write_amp" -> "ratio",
    "streaming.Ingest.read_amp" -> "ratio",
    "trace.p50_ms" -> "ms",
    "trace.unattributed_ms" -> "ms")

  private val SetupLayers = Set("operators.IvfIndex.build", "sources.Layout.writeBucketedFeatureTable",
    "sources.Layout.writeWeekPartitionedEvents", "sources.Layout.writeIvf")

  def metrics(tr: Tracer, o: Outcome): Seq[(String, Double, String)] = {
    val spans = tr.spans
    val self = tr.selfMs
    val roots = spans.filter(_.parent == 0L)
    val measured = roots.filter(s => Tracer.isMeasured(s.req))
    val reqs = measured.map(_.req).distinct
    val setupReqs = roots.map(_.req).filter(_ >= Tracer.SetupBase).distinct
    val n = math.max(1, reqs.size).toDouble

    def medianOver(ids: Seq[Long], name: String): Double = {
      val xs = ids.flatMap(r => self.get((r, name)))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def layerMs(name: String): Double =
      if (SetupLayers(name)) medianOver(setupReqs, name) else medianOver(reqs, name)
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    def in(k: String): Double = o.layer.getOrElse(k, 0.0)

    val c = tr.counters
    val t = c.measured
    val unattributed = measured.map { s =>
      s.ms - spans.filter(_.parent == s.id).map(_.ms).sum
    }
    val candidates = ratio(in("search_pairs"), in("search_queries"))
    val upsert = c.span("streaming.Ingest.upsertBatch")

    val values: Map[String, Double] = Map(
      "spark.plan_ms" -> medianOver(reqs, "spark.plan"),
      "spark.jobs" -> t.jobs.get / n,
      "spark.tasks" -> t.tasks.get / n,
      "spark.task_wait_ms" -> t.waitMs.get / n,
      "spark.task_cpu_ms" -> t.cpuNs.get / 1e6 / n,
      "spark.task_run_ms" -> t.runMs.get / n,
      "spark.input_rows" -> t.inputRows.get / n,
      "spark.input_bytes" -> t.inputBytes.get / n,
      "spark.output_bytes" -> t.outputBytes.get / n,
      "spark.shuffle_bytes" -> t.shuffleBytes.get / n,
      "spark.failed_tasks" -> t.failedTasks.get.toDouble,
      "operators.FeatureStore.retrieve.hit_ratio" ->
        ratio(in("found_keys"), c.span("operators.FeatureStore.retrieve").inputRows.get),
      "operators.InteractionStore.retrieveRange.rows_per_result" ->
        ratio(c.span("operators.InteractionStore.retrieveRange").inputRows.get, in("range_rows")),
      "operators.IvfIndex.searchInt8.candidates_per_result" -> candidates,
      "functions.Similarity.scored_bytes" -> candidates * Gen.Dim,
      "sources.Layout.files_pruned_ratio" ->
        (if (in("range_files_total") == 0) 0.0 else 1.0 - in("range_files_read") / in("range_files_total")),
      "streaming.Ingest.write_amp" -> ratio(upsert.outputBytes.get, in("batch_bytes")),
      "streaming.Ingest.read_amp" -> ratio(upsert.inputBytes.get, in("batch_bytes")),
      "trace.p50_ms" -> o.p50Ms,
      "trace.unattributed_ms" -> (if (unattributed.isEmpty) 0.0 else Stats.median(unattributed)))

    Names.map { case (name, unit) =>
      val v = values.getOrElse(name,
        if (name.endsWith(".ms")) layerMs(name.stripSuffix(".ms")) else 0.0)
      (name, v, unit)
    }
  }
}
