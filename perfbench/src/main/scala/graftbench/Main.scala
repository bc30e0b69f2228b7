package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark's entry point: one workload, one seed, one result line.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --data <tables dir> --work <scratch dir> [--cores <n>]
  * }}}
  *
  * The last stdout line is a JSON object with `correct`, `attempted`,
  * `failed` and `metrics`. Untraced, the metrics are the end-to-end ones;
  * traced, the per-layer ones.
  */
object Main {

  def session(work: Path, cores: Int, localDir: String): SparkSession = {
    val s = GraftSession.builder(cores.toString)
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      // concurrent table queries share the cores instead of queueing
      // behind whichever submitted its job first
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(work.resolve("checkpoints").toString)
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val data = args("data")
    val work = Paths.get(args("work")).toAbsolutePath
    val cores = args.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    require(Files.isRegularFile(Paths.get(data, "orders.parquet")), s"no tables under $data")
    val workload = Workload.byName(name)
    val checks = new Checks
    val rec = new Recorder
    val tracer = new Tracer(false)
    val probe = if (traced) Some(new JobProbe) else None

    val spark = session(work, workload.cores(cores), work.resolve("spark-local").toString)
    probe.foreach(spark.sparkContext.addSparkListener)
    val sessionS = (System.currentTimeMillis() - Jvm.startMs) / 1000.0
    val ctx = new Ctx(spark, data, work, seed, seconds, tracer, rec, checks, probe, cores)

    val t0 = System.nanoTime()
    workload.setup(ctx, work.resolve("setup"))
    val setupS = sessionS + Workload.secondsSince(t0)
    System.err.println(f"[perfbench] session $sessionS%.2f s, set-up ${setupS - sessionS}%.2f s")

    val untraced = workload.window(ctx, "w0", seconds)
    val result: Seq[(String, Double, String)] =
      if (!traced) endToEnd(setupS, untraced)
      else {
        tracer.enabled = true
        val tw = workload.window(ctx, "w1", seconds)
        tracer.enabled = false
        workload.traceExtras(ctx)
        Layers.report(ctx, untraced, tw)
      }
    val v0 = System.nanoTime()
    try workload.verify(ctx) catch {
      case e: Throwable => checks.check(s"checks ran to the end ($e)")(false)
    }
    System.err.println(f"[perfbench] verify ${Workload.secondsSince(v0)}%.2f s")
    if (traced) tracer.write(work.resolve("spans.jsonl"))
    ctx.spark.stop()
    val (attempted, failed) = checks.counts
    val metrics = result.map { case (k, v, unit) =>
      s""""$k": {"value": ${num(v)}, "unit": "$unit"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $metrics}""")
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** The end-to-end metrics, measured untraced. */
  def endToEnd(setupS: Double, w: Window): Seq[(String, Double, String)] =
    Seq(
      ("setup_s", setupS, "s"),
      ("peak_rss_mb", Jvm.peakRssMb, "MB"),
      ("change_rows_per_s", w.changeRowsPerS, "1/s"),
      ("freshness_p50_ms", Stats.median(w.freshnessMs), "ms"),
      ("batch_latency_p50_ms", Stats.median(w.batchMs), "ms"))
}
