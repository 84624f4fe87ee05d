package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Table-lifecycle benchmark: one closed-loop client runs a workload's
  * rounds against long-lived tables (a fixed number of rounds, sized from
  * `--seconds`) and prints one JSON
  * line with the end-to-end metrics (untraced run) or the per-layer
  * metrics (traced run). See the README of the benchmark directory.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1
  * --work DIR --record FILE [--launched-ms EPOCH_MS] [--tiny] [--tamper]
  */
object LifecycleBench {
  /** Initial loads per run; set-up time takes the median. */
  private val LoadRepeats = 3
  /** Measuring stops here even if rounds remain, so a run ends within 180 s. */
  private val MaxMeasureS = 90

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val name = opts("workload")
    require(Workload.Names.contains(name), s"unknown workload '$name'")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val tiny = opts.contains("tiny")
    val tamper = opts.contains("tamper")
    val launchedMs = opts.get("launched-ms").map(_.toLong).getOrElse(System.currentTimeMillis())
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"lifecycle-bench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - launchedMs) / 1e3

    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, work.resolve("tables"), tiny)
    val w = Workload(name, ctx, work, seed, seconds)

    val genS = timed(w.generate())
    val loadS = (0 until LoadRepeats).map { k =>
      val root = work.resolve("tables").resolve(s"load-$k")
      val s = timed(w.load(root))
      if (k > 0) Listing.deleteTree(work.resolve("tables").resolve(s"load-${k - 1}"))
      s
    }
    ctx.relist()
    val warmS = timed(w.warmUp())
    val setupS = sessionS + genS + Stats.median(loadS) + warmS

    ctx.timed = true
    ctx.writtenBytes = 0L
    tracer.on = trace
    val t0 = System.nanoTime()
    val limitNs = t0 + MaxMeasureS * 1000000000L
    var rounds = 0
    while (rounds < w.rounds && System.nanoTime() < limitNs) {
      w.round(rounds)
      rounds += 1
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    tracer.on = false
    ctx.timed = false
    if (rounds < w.rounds) ctx.mismatch(
      s"only $rounds of ${w.rounds} rounds ran within $MaxMeasureS s")

    tracer.finish()
    val spaceAmp = Listing.of(ctx.tables).bytes.toDouble / w.liveBytes
    w.check(tamper)

    val e2e = Metrics.endToEnd(ctx, strict = !trace, setupS, spaceAmp)
    val metrics = if (trace) Metrics.perLayer(ctx) else e2e.metrics
    val correct = ctx.mismatches.isEmpty && metrics.nonEmpty
    val record = Seq(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "tiny" -> tiny, "tamper" -> tamper, "cores" -> cores,
      "sizes" -> Json.Raw(Json.obj(w.sizes)),
      "loop" -> "closed", "clients" -> 1,
      "rounds" -> rounds, "measured_s" -> measuredS,
      "setup" -> Map("session_s" -> sessionS, "generate_s" -> genS,
        "load_s" -> loadS, "warmup_s" -> warmS),
      "correct" -> correct, "mismatches" -> ctx.mismatches.toSeq,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failed_ops_ratio" -> ctx.failed.toDouble / math.max(1, ctx.attempted),
      "samples_s" -> ctx.samples.toMap.map { case (k, v) => k -> v.toSeq },
      "tails" -> e2e.tails,
      "end_to_end" -> Json.Raw(metricsJson(e2e.metrics ++ e2e.reads)),
      "metrics" -> Json.Raw(metricsJson(metrics))) ++
      (if (trace) Seq("self_ms_by_layer" -> tracer.selfMsByLayer) else Nil)
    opts.get("record").foreach { f =>
      val p = Paths.get(f)
      Files.createDirectories(p.toAbsolutePath.getParent)
      Files.writeString(p, Json.obj(record) + "\n")
      if (trace) Files.writeString(Paths.get(f.stripSuffix(".json") + ".spans.jsonl"),
        tracer.spans.map(tracer.spanJson).mkString("", "\n", "\n"))
    }
    spark.stop()
    println(Json.obj(Seq("correct" -> correct, "attempted" -> ctx.attempted,
      "failed" -> ctx.failed, "metrics" -> Json.Raw(metricsJson(metrics)))))
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    Json.obj(ms.map { case (n, v, u) => n -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u))) })

  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def parse(args: Array[String]): Map[String, String] = {
    val flags = Set("tiny", "tamper")
    @annotation.tailrec
    def go(rest: List[String], acc: Map[String, String]): Map[String, String] = rest match {
      case Nil => acc
      case k :: tail if k.startsWith("--") && flags(k.drop(2)) => go(tail, acc + (k.drop(2) -> "1"))
      case k :: v :: tail if k.startsWith("--") => go(tail, acc + (k.drop(2) -> v))
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    val m = go(args.toList, Map.empty)
    Seq("workload", "seed", "seconds", "trace", "work").foreach(k =>
      require(m.contains(k), s"missing --$k"))
    m
  }
}
