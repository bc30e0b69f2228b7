package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.SparkEntry
import graft.cdc.{CdcOps, CdcQueries, CdcSim, Envelope}
import graft.streaming.BucketedSnapshot
import graft.tools.DailyReportJob

/** What one run shares across its phases. */
final class Ctx(var spark: SparkSession, val data: String, val work: Path,
    val seed: Long, val seconds: Double, val tracer: Tracer, val rec: Recorder,
    val checks: Checks, val probe: Option[JobProbe], val cores: Int)

/** A measured window: distinct change events committed per second, each
  * file's freshness, and each data micro-batch's latency.
  */
final case class Window(changeRowsPerS: Double, freshnessMs: Seq[Double], batchMs: Seq[Double])

/** One workload: a set-up, a measured window, checks and traced extras. */
trait Workload {
  /** Build every input of the run under `dir`, warm-up included. */
  def setup(ctx: Ctx, dir: Path): Unit
  def window(ctx: Ctx, name: String, seconds: Double): Window
  /** Checks that need the run's outputs, outside the clock. */
  def verify(ctx: Ctx): Unit
  /** Extra traced-only measurements after the windows. */
  def traceExtras(ctx: Ctx): Unit = ()
  /** Spark task threads the run's session gets, of `available` cores. */
  def cores(available: Int): Int = available
}

object Workload {
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Run `f` on every item, each on its own thread, wait for all, and
    * rethrow the first failure.
    */
  def concurrently[A](items: Seq[A])(f: A => Unit): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = items.map(a => new Thread(() =>
      try f(a) catch { case e: Throwable => failures.add(e) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(failures.peek()).foreach(e => throw e)
  }

  def byName(name: String): Workload = name match {
    case "cdc_backfill" => new Backfill
    case "cdc_trickle" => new Trickle
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The distinct events of `lines`, parsed: what the sink must hold. */
  def parsedLog(s: SparkSession, t: Topic, lines: Seq[String]): DataFrame = {
    import s.implicits._
    Envelope.parse(lines.toDF("value"), t.schema)
  }

  /** Latest live row per key of a parsed log: what the store must hold. */
  def snapshotOf(log: DataFrame, t: Topic): String =
    Checks.contentHash(CdcOps.snapshotLatest(log, t.keyCols, "ts_ms", t.payloadCols))

  def storeHash(s: SparkSession, dir: String): String =
    BucketedSnapshot.readSnapshot(s, dir).map(Checks.contentHash).getOrElse("missing")

  def sinkHash(s: SparkSession, dir: String): String =
    Checks.contentHash(s.read.parquet(dir).drop("batch"))

  /** Per-layer readings of one traced query's progress reports. */
  def traceStream(ctx: Ctx, ingest: Ingest, ps: Seq[StreamingQueryProgress], tag: String,
      t: Topic): Unit = {
    Ingest.recordProgress(ps, ctx.rec)
    Ingest.progressSpans(ps, tag, ctx.tracer)
    for (p <- ctx.probe; pr <- Ingest.data(ps); a <- p.byReq.get(s"${pr.id}:${pr.batchId}")) {
      ctx.rec.sample("CdcPipeline.jobs_per_batch", a.jobs.toDouble)
      ctx.rec.sample("CdcPipeline.tasks_per_batch", a.tasks.toDouble)
    }
    Workload.dataLatencies(ps).foreach(ctx.rec.sample("CdcPipeline.batch_latency_ms", _))
    ctx.rec.add("StreamDedup.injected_dups", t.dups.toDouble)
    val ids = Ingest.data(ps).map(_.batchId).toSet
    ctx.rec.add("StreamDedup.rows_out", ingest.commits.asScala
      .filter(c => c.tag == tag && ids(c.batchId)).map(_.rows).sum.toDouble)
  }

  /** Freshness of each file of `tag`'s topic, from `scheduledMs`, over
    * the data batches of `ps`.
    */
  def freshness(ingest: Ingest, ps: Seq[StreamingQueryProgress], tag: String,
      t: Topic, scheduledMs: IndexedSeq[Long]): IndexedSeq[Option[Long]] = {
    val maxTs = Ingest.data(ps).flatMap(p =>
      Ingest.health(p, "max_ts_ms").map(p.batchId -> _)).toMap
    val commits = ingest.commits.asScala.toSeq.filter(_.tag == tag).flatMap(c =>
      maxTs.get(c.batchId).map(m => Stats.Commit(c.storeAtMs, m)))
    Stats.freshness(scheduledMs, t.hwm, commits)
  }

  def dataLatencies(ps: Seq[StreamingQueryProgress]): Seq[Double] =
    Ingest.data(ps).map(p => Ingest.duration(p, "triggerExecution"))
}

/** Closed-loop catch-up: three topics staged as envelope files; each pass
  * runs the three queries concurrently with `Trigger.AvailableNow`, one
  * large micro-batch per topic, into a fresh store and sink.
  */
final class Backfill extends Workload {
  /** Topics and the files each is staged as. */
  val layout = Seq("orders" -> 20, "customer" -> 4, "part" -> 4)
  var staged: Seq[(Topic, Path)] = Nil
  private var passes = Vector.empty[Path]

  def setup(ctx: Ctx, dir: Path): Unit = {
    val t0 = System.nanoTime()
    val logs = new java.util.concurrent.ConcurrentHashMap[String, IndexedSeq[Topics.Event]]()
    Workload.concurrently(layout.map(_._1))(name => logs.put(name, Topics.generate(ctx.spark, ctx.data, name)))
    ctx.rec.set("CdcSim.gen_s", Workload.secondsSince(t0))
    System.err.println(f"[perfbench] topics generated in ${Workload.secondsSince(t0)}%.2f s")
    staged = layout.map { case (name, nFiles) =>
      val t = Topics.stage(name, logs.get(name), nFiles, ctx.seed, dupShare = 0.10, lateShare = 0.0)
      Topics.write(t, dir.resolve(name), 0, t.files.size, 1000000000000L)
      (t, dir.resolve(name))
    }
    ctx.rec.set("CdcSim.events", staged.map(_._1.events).sum.toDouble)
    // warm-up: one pass over the first file of each topic, so the measured
    // passes do not pay first-call costs
    val warm = staged.map { case (t, _) =>
      val w = t.copy(files = t.files.take(1), hwm = t.hwm.take(1))
      Topics.write(w, dir.resolve("warm-topics").resolve(t.name), 0, 1, 1000000000000L)
      (w, dir.resolve("warm-topics").resolve(t.name))
    }
    val w0 = System.nanoTime()
    val ingest = new Ingest(ctx.spark, new Tracer(false), new Recorder)
    val qs = warm.map { case (t, src) =>
      ingest.start(t, src, dir.resolve("warm").resolve(t.name), Trigger.AvailableNow(), "warm-up")
    }
    ctx.checks.op(qs.forall(q => scala.util.Try(q.awaitTermination()).isSuccess), "backfill warm-up")
    System.err.println(f"[perfbench] warm-up pass ${Workload.secondsSince(w0)}%.2f s")
  }

  def events: Long = staged.map(_._1.events).sum

  /** `seconds` sets the number of passes, one per full 20 s (at least
    * one): a pass takes about 10 s on 4 cores and its checks half as long
    * again. A deadline would let the count flip between runs as a pass
    * nears it.
    */
  def window(ctx: Ctx, name: String, seconds: Double): Window = {
    val ingest = new Ingest(ctx.spark, ctx.tracer, ctx.rec)
    val all = (0 until math.max(1, (seconds / 20).toInt)).map { _ =>
      val i = passes.size
      val root = ctx.work.resolve(s"$name-pass$i")
      passes :+= root
      pass(ctx, ingest, root, s"p$i")
    }
    Window(Stats.median(all.map(_.changeRowsPerS)), all.flatMap(_.freshnessMs), all.flatMap(_.batchMs))
  }

  /** One catch-up pass. Every file is due when the pass starts, so a
    * file's freshness is the time until its topic's batch is in the store.
    */
  def pass(ctx: Ctx, ingest: Ingest, root: Path, tag: String): Window = {
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    val qs = staged.map { case (t, src) =>
      t -> ingest.start(t, src, root.resolve(t.name), Trigger.AvailableNow(), s"$tag/${t.name}")
    }
    val ok = qs.forall { case (t, q) =>
      try { q.awaitTermination(); true } catch {
        case e: Throwable => System.err.println(s"[perfbench] ${t.name} query failed: $e"); false
      }
    }
    val wall = Workload.secondsSince(t0)
    ctx.checks.op(ok, s"backfill pass $tag")
    val per = qs.map { case (t, q) =>
      val ps = q.recentProgress.toSeq
      val qtag = s"$tag/${t.name}"
      if (ingest.tracer.enabled) Workload.traceStream(ctx, ingest, ps, qtag, t)
      val fresh = Workload.freshness(ingest, ps, qtag, t, t.hwm.map(_ => startMs))
      ctx.checks.op(fresh.forall(_.isDefined), s"$qtag: every staged file in the store")
      (fresh.flatten.map(_.toDouble), Workload.dataLatencies(ps))
    }
    System.err.println(f"[perfbench] pass $tag: $wall%.2f s, batches ${qs.map { case (t, q) =>
      t.name + "=" + Workload.dataLatencies(q.recentProgress.toSeq).mkString("/") }.mkString(" ")}")
    Window(events / wall, per.flatMap(_._1), per.flatMap(_._2))
  }

  /** The three topics' checks run concurrently, like their queries. */
  def verify(ctx: Ctx): Unit = {
    val s = ctx.spark
    Workload.concurrently(staged) { case (t, _) =>
      val log = Workload.parsedLog(s, t, t.distinctLines)
      // the orders store is pinned to the registry's cdc_snapshot_latest
      val store =
        if (t.name == "orders") Checks.contentHash(SparkEntry.queries("cdc_snapshot_latest")(s, ctx.data))
        else Workload.snapshotOf(log, t)
      val sink = Checks.contentHash(log)
      for (root <- passes) {
        val r = root.resolve(t.name)
        ctx.checks.check(s"$root ${t.name} store = snapshot of the log")(
          Workload.storeHash(s, r.resolve("store").toString) == store)
        ctx.checks.check(s"$root ${t.name} sink = distinct events")(
          Workload.sinkHash(s, r.resolve("sink").toString) == sink)
      }
    }
  }

  override def traceExtras(ctx: Ctx): Unit = {
    // standalone parse over the same staged files
    val s = ctx.spark
    val rows = staged.map(_._1.lines).sum
    val t0 = System.nanoTime()
    staged.foreach { case (t, dir) =>
      Checks.benchReduce(Envelope.parse(s.read.text(dir.toString), t.schema))
    }
    ctx.rec.set("Envelope.parse_rows_per_s", rows / Workload.secondsSince(t0))
    val last = passes.last
    ctx.rec.set("BucketedSnapshot.store_bytes_end",
      staged.map(t => StoreStats.storeBytes(last.resolve(t._1.name).resolve("store").toString)).sum.toDouble)
    ctx.rec.set("Sinks.bytes_written",
      staged.map(t => StoreStats.bytes(last.resolve(t._1.name).resolve("sink"))).sum.toDouble)
    new ReadPath().traceOperators(ctx)
    // single-threaded baseline: the same pass on a local[1] session
    val localDir = s.sparkContext.getConf.get("spark.local.dir")
    s.stop()
    val one = Main.session(ctx.work, 1, localDir)
    ctx.spark = one
    val root = ctx.work.resolve("local1")
    passes :+= root
    val w = pass(ctx, new Ingest(one, new Tracer(false), new Recorder), root, "local1")
    ctx.rec.set("cdc_backfill.local1_change_rows_per_s", w.changeRowsPerS)
  }
}

/** Open-loop freshness over one continuing orders stream. Set-up stages
  * the first third of the log as history files and starts the one
  * `ProcessingTime` query of the run over them: its first batch seeds the
  * store, the sink and the dedup state. A lead-in of trickle files warms
  * the small-batch path. Each window publishes the next files of the
  * log on a fixed schedule from a generator thread into the same running
  * query, so no window pays a restart.
  */
final class Trickle extends Workload {
  /** Half the cores: a trickle batch is a chain of small jobs whose
    * latency rides on the driver thread, and with a task thread on every
    * core one run in a few ran every batch twice as slow. Two threads are
    * as fast and keep the spare cores for the driver, the generator, GC and
    * the JIT.
    */
  override def cores(available: Int): Int = math.max(1, available / 2)

  /** Offered load: 7 files of 15 events a second. A batch costs about 2 s
    * on 2 cores whatever its size, so batches carry about 15 files and
    * their latency hardly depends on the load; near the rate at which the
    * backlog grows, a slower host lengthens every batch and the next one
    * carries more files, so the latency swings run to run. A window
    * publishes `seconds` worth of files, and at least 100.
    */
  val filesPerS = 7
  val eventsPerFile = 15
  val minFiles = 100
  /** Set-up publishes this many files while the history batch runs: the
    * first small batch after it runs slower than the rest.
    */
  val leadInFiles = 10
  val historyFiles = 4
  val triggerMs = 200L
  /** Files staged per window; a traced run has two windows. */
  val windows = 2
  val tag = "trickle"
  var topic: Topic = _
  private var history: Seq[String] = Nil
  private var perWindow = 0
  private var published = 0
  private var root: Path = _
  private var ingest: Ingest = _
  private var query: StreamingQuery = _
  /** Lines published so far: a later copy of one is an injected duplicate. */
  private val seen = scala.collection.mutable.HashSet.empty[String]

  private def src: Path = root.resolve("topic")

  def setup(ctx: Ctx, dir: Path): Unit = {
    val t0 = System.nanoTime()
    val log = Topics.generate(ctx.spark, ctx.data, "orders")
    ctx.rec.set("CdcSim.gen_s", Workload.secondsSince(t0))
    System.err.println(f"[perfbench] topics generated in ${Workload.secondsSince(t0)}%.2f s")
    ctx.rec.set("CdcSim.events", log.size.toDouble)
    var cut = log.size / 3
    while (cut < log.size && log(cut).ts == log(cut - 1).ts) cut += 1
    val rest = log.drop(cut)
    perWindow = math.min((rest.size / eventsPerFile - leadInFiles) / windows,
      math.max(minFiles, (ctx.seconds * filesPerS).round.toInt))
    val nFiles = leadInFiles + windows * perWindow
    topic = Topics.stage("orders", rest.take(nFiles * eventsPerFile), nFiles, ctx.seed,
      dupShare = 0.10, lateShare = 0.05)
    history = log.take(cut).map(_.value)
    root = dir
    val h = Topics.stage("orders", log.take(cut), historyFiles, ctx.seed, 0.0, 0.0)
    Topics.write(h, src, 0, historyFiles, System.currentTimeMillis() - 60000L, "history")
    ingest = new Ingest(ctx.spark, ctx.tracer, ctx.rec)
    query = ingest.start(topic, src, root, Trigger.ProcessingTime(triggerMs), tag)
    // the lead-in is published while the history batch runs
    val ok = scala.util.Try {
      publish(0 until leadInFiles)
      query.processAllAvailable()
    }
    ctx.checks.op(ok.isSuccess, s"trickle history and lead-in ${ok.failed.getOrElse("")}")
    published = leadInFiles
    System.err.println(s"[perfbench] history and lead-in batches, rows/ms: ${batches(query.recentProgress.toSeq)}")
    (0 until leadInFiles).flatMap(topic.files).foreach(seen.add)
  }

  /** Publish `files` one every `1/filesPerS` s from a generator thread,
    * starting half a second from now. Returns each file's due and actual
    * publish times in epoch ms.
    */
  private def publish(files: Seq[Int]): (IndexedSeq[Long], IndexedSeq[Long]) = {
    val n = files.size
    val intervalNs = 1000000000L / filesPerS
    val due = Array.ofDim[Long](n)
    val sent = Array.ofDim[Long](n)
    val startNs = System.nanoTime() + 500000000L
    val startMs = System.currentTimeMillis() + 500L
    val gen = new Thread(() => {
      for (i <- 0 until n) {
        val at = startNs + i * intervalNs
        var wait = at - System.nanoTime()
        while (wait > 0) { Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt); wait = at - System.nanoTime() }
        Topics.publish(topic, src, files(i))
        due(i) = startMs + i * intervalNs / 1000000L
        sent(i) = startMs + (System.nanoTime() - startNs) / 1000000L
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    (due.toIndexedSeq, sent.toIndexedSeq)
  }

  private def batches(ps: Seq[StreamingQueryProgress]): String =
    Ingest.data(ps).map(p => s"${p.numInputRows}/${Ingest.duration(p, "triggerExecution").toLong}").mkString(" ")

  private def stopQuery(): Unit = if (query != null && query.isActive) query.stop()

  def window(ctx: Ctx, name: String, seconds: Double): Window = {
    val before = ingest.commits.asScala.map(_.batchId).maxOption.getOrElse(-1L)
    val files = published until published + perWindow
    published += perWindow
    val (due, sent) = publish(files)
    val startMs = due.head
    val ok = try { query.processAllAvailable(); true } catch {
      case e: Throwable => System.err.println(s"[perfbench] trickle query failed: $e"); false
    }
    ctx.checks.op(ok, s"$name: trickle query")
    val ps = query.recentProgress.toSeq.filter(_.batchId > before)
    val mine = topic.copy(files = files.map(topic.files), hwm = files.map(topic.hwm),
      dups = files.flatMap(topic.files).count(l => !seen.add(l)).toLong)
    val fresh = Workload.freshness(ingest, ps, tag, mine, due)
    val visibleAt = fresh.zip(due).map { case (f, d) => f.map(_ + d) }
    val commitTimes = ingest.commits.asScala.toSeq
      .filter(c => c.tag == tag && c.batchId > before).map(_.storeAtMs).sorted
    val backlog = Stats.backlog(sent, visibleAt, commitTimes)
    ctx.checks.op(fresh.forall(_.isDefined), s"$name: every published file visible")
    ctx.checks.op(!Stats.backlogGrows(backlog), s"$name: backlog grows across the run ($backlog)")
    val lastVisible = visibleAt.flatten.maxOption.getOrElse(startMs + 1)
    if (ingest.tracer.enabled) {
      Workload.traceStream(ctx, ingest, ps, tag, mine)
      ctx.rec.set("CdcPipeline.backlog_files_max", backlog.maxOption.getOrElse(0).toDouble)
      ctx.rec.set("CdcPipeline.generator_late_ms_max", due.zip(sent).map(x => x._2 - x._1).max.toDouble)
      ctx.rec.set("BucketedSnapshot.store_bytes_end", StoreStats.storeBytes(ingest.storeDir(root)).toDouble)
      ctx.rec.set("Sinks.bytes_written", StoreStats.bytes(root.resolve("sink")).toDouble)
    }
    val events = mine.files.flatten.distinct.size
    System.err.println(s"[perfbench] $name: ${files.size} files; batches, rows/ms: ${batches(ps)}")
    Window(events / ((lastVisible - startMs) / 1000.0), fresh.flatten.map(_.toDouble),
      Workload.dataLatencies(ps))
  }

  /** Store and sink against the history plus every file published. */
  def verify(ctx: Ctx): Unit = {
    stopQuery()
    val lines = history ++ topic.files.take(published).flatten.distinct
    val log = Workload.parsedLog(ctx.spark, topic, lines)
    ctx.checks.check(s"$root store = snapshot of the log")(
      Workload.storeHash(ctx.spark, root.resolve("store").toString) == Workload.snapshotOf(log, topic))
    ctx.checks.check(s"$root sink = distinct events")(
      Workload.sinkHash(ctx.spark, root.resolve("sink").toString) == Checks.contentHash(log))
  }

  /** Standalone parse of the trickle's lines, then the read path over the
    * same data directory.
    */
  override def traceExtras(ctx: Ctx): Unit = {
    stopQuery()
    val lines = topic.files.flatten
    val t0 = System.nanoTime()
    Checks.benchReduce(Workload.parsedLog(ctx.spark, topic, lines))
    ctx.rec.set("Envelope.parse_rows_per_s", lines.size / Workload.secondsSince(t0))
    // the read path runs on every core, as a report client's session would
    val localDir = ctx.spark.sparkContext.getConf.get("spark.local.dir")
    ctx.spark.stop()
    ctx.spark = Main.session(ctx.work, ctx.cores, localDir)
    ctx.probe.foreach(ctx.spark.sparkContext.addSparkListener)
    new ReadPath().traceReport(ctx)
  }
}

/** The read side, measured in traced runs only: the daily report job and
  * the report and store queries of the registry (in `cdc_trickle`'s), and
  * the operators (in `cdc_backfill`'s). Every call runs `Bench.measure`'s
  * full hash-reduce.
  */
final class ReadPath {
  import ReadPath._
  private val registry = SparkEntry.queries

  /** Run one operation: (frame-building ms, execution ms, result hash). */
  private def run(ctx: Ctx, mart: Path, op: String, traced: Boolean): (Double, Double, String) = {
    val s = ctx.spark
    s.sparkContext.setLocalProperty(JobProbe.ReqKey, if (traced) s"$op@trace" else op)
    if (traced) ctx.rec.add(s"$op.calls", 1)
    try {
      if (op == Report) {
        val t0 = System.nanoTime()
        val line = ctx.tracer.span(Report, op)(DailyReportJob.run(s, ctx.data, mart.toString, None))
        (0.0, (System.nanoTime() - t0) / 1e6, line)
      } else {
        val t0 = System.nanoTime()
        val df = ctx.tracer.span("SparkEntry.eager", op)(registry(op)(s, ctx.data))
        val t1 = System.nanoTime()
        val h = ctx.tracer.span("SparkEntry.execute", op)(Checks.benchReduce(df))
        ((t1 - t0) / 1e6, (System.nanoTime() - t1) / 1e6, h.toString)
      }
    } finally s.sparkContext.setLocalProperty(JobProbe.ReqKey, null)
  }

  /** The report job and the report and store queries, after a warm-up. */
  def traceReport(ctx: Ctx): Unit = {
    val s = ctx.spark
    val mart = ctx.work.resolve("mart")
    val t0 = System.nanoTime()
    CdcSim.enableCache(ctx.work.resolve("cdc-cache").toString)
    CdcSim.prewarmCache(s, ctx.data)
    CdcQueries.prewarmStore(s, ctx.data)
    ctx.rec.set("ReadPath.setup_s", Workload.secondsSince(t0))
    val expected = (Report +: queries).map(op => op -> run(ctx, mart, op, traced = false)._3).toMap
    val t1 = System.nanoTime()
    for (op <- Report +: queries) {
      val (eager, exec, h) = run(ctx, mart, op, traced = true)
      ctx.checks.check(s"$op result equals its warm-up result")(h == expected(op))
      if (op == Report) ctx.rec.sample("DailyReportJob.run_ms", exec)
      else {
        ctx.rec.sample(s"$op.eager_ms", eager)
        ctx.rec.sample(s"$op.execute_ms", exec)
        ctx.rec.add("queries.eager_ms", eager)
        ctx.rec.add("queries.execute_ms", exec)
      }
    }
    ctx.rec.add("queries.wall_s", Workload.secondsSince(t1))
    ctx.rec.set("Mart.bytes_written", StoreStats.bytes(mart).toDouble)
    // resolving the store's committed versions into a frame, before any job
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val listing = Files.list(tmp)
    val store = try listing.iterator().asScala
      .find(_.getFileName.toString.startsWith("graft_snapstore_")).map(_.toString)
    finally listing.close()
    store.foreach { dir =>
      for (_ <- 0 until 5) {
        val r0 = System.nanoTime()
        val latest = BucketedSnapshot.readSnapshot(s, dir).get
        ctx.rec.sample("BucketedSnapshot.resolve_ms", (System.nanoTime() - r0) / 1e6)
        val r1 = System.nanoTime()
        BucketedSnapshot.readSnapshotAsOf(s, dir, CdcQueries.StoreAsOfVersion.toLong).get
        ctx.rec.sample("BucketedSnapshot.resolve_ms", (System.nanoTime() - r1) / 1e6)
        ctx.rec.set("BucketedSnapshot.files_read", latest.inputFiles.length.toDouble)
      }
    }
  }

  /** One first call per operator: a warm-up would double the run. */
  def traceOperators(ctx: Ctx): Unit = {
    val t2 = System.nanoTime()
    for (op <- operators) {
      val (eager, exec, _) = run(ctx, ctx.work.resolve("mart"), op, traced = true)
      ctx.rec.sample(s"$op.eager_ms", eager)
      ctx.rec.sample(s"$op.execute_ms", exec)
      ctx.rec.add("queries.eager_ms", eager)
      ctx.rec.add("queries.execute_ms", exec)
    }
    ctx.rec.set("operators.pass_s", Workload.secondsSince(t2))
  }
}

object ReadPath {
  val queries = Seq("daily_revenue", "category_revenue", "top_customers", "status_funnel",
    "revenue_yoy", "cdc_snapshot_latest", "cdc_store_point_lookup",
    "cdc_snapshot_asof_store", "cdc_store_cdf")
  val operators = Seq("knn_graph_search", "part_communities", "supplier_set_cover",
    "dedup_clusters", "customer_abc_migration")
  val Report = "DailyReportJob.run"
}
