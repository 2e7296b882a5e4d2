package servebench

import java.nio.file.{Files, Paths}

import graft.GraftSession

/** Entry point: `servebench.Main --workload <serve|ingest_score>
  * --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>`.
  *
  * Prints one detail line per named metric, then, as the last stdout
  * line, `{"correct", "attempted", "failed", "metrics"}` holding the
  * end-to-end metrics (trace 0) or the per-layer metrics (trace 1).
  */
object Main {

  val Workloads = Seq("serve", "ingest_score")

  /** End-to-end metrics: name → unit. Every workload reports all of them. */
  val EndToEnd = Seq(
    "setup_s" -> "s", "p50_ms" -> "ms", "items_per_s" -> "1/s",
    "recall_at_10" -> "ratio", "success_rate" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload'")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath.toString
    val out = Paths.get(opts("out")).toAbsolutePath

    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(Paths.get(work))
    val spark = GraftSession.builder("servebench", cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.quietNoisyLoggers()
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val tracer = new Tracer(traced, spark.sparkContext)
    val ctx = new Ctx(spark, seed, tracer, work, cores)
    ctx.log(s"session up: $workload seed=$seed cores=$cores trace=$traced")

    val o = workload match {
      case "serve"        => Serve.run(ctx, seconds)
      case "ingest_score" => IngestScore.run(ctx, seconds)
    }

    val e2e = Seq(
      "setup_s" -> Stats.median(o.setupS),
      "p50_ms" -> o.p50Ms,
      "items_per_s" -> o.itemsPerS,
      "recall_at_10" -> o.recall,
      "success_rate" -> (1.0 - o.failed.toDouble / o.attempted))
    (Seq(("setup_s", Stats.median(o.setupS), s"s reps=${o.setupS.size}")) ++ o.detail)
      .foreach { case (k, v, u) => println(f"$k%-40s $v%14.4f $u") }

    val metrics =
      if (!traced) e2e.map { case (k, v) => (k, v, EndToEnd.toMap.apply(k)) }
      else {
        tracer.counters.drain(spark.sparkContext)
        val layers = Layers.metrics(tracer, o)
        tracer.dump(out.resolve(s"trace_${workload}_$seed.jsonl"))
        layers.foreach { case (k, v, u) => println(f"$k%-50s $v%14.4f $u") }
        layers
      }
    spark.stop()
    ctx.log("stopped")

    val result = Json.obj(Seq(
      "correct" -> (o.failed == 0).toString,
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    println(result)
  }
}
