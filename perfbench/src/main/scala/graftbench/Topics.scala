package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.cdc.CdcSim

/** One simulated CDC topic as the benchmark feeds it: envelope lines cut
  * into files, with seeded redeliveries and late arrivals.
  *
  * @param files     envelope JSON lines per file, in publish order
  * @param hwm       largest `ts_ms` in each file (strictly increasing)
  * @param events    distinct events in the log
  * @param dups      redelivered copies injected
  * @param late      events moved 1-3 files later than their place
  * @param lateMs    largest event-time lag an injected event arrives with
  */
final case class Topic(name: String, schema: StructType, keyCols: Seq[String],
    files: IndexedSeq[IndexedSeq[String]], hwm: IndexedSeq[Long], events: Long,
    dups: Long, late: Long, lateMs: Long) {

  def payloadCols: Seq[String] = schema.fieldNames.toSeq.filterNot(keyCols.contains)

  /** Out-of-order bound: well above the injected lag, which is measured
    * against the file before the one an event rides in, while a micro-batch
    * may span several files.
    */
  def lagBoundMs: Long = 10 * lateMs + CdcSim.DAY_MS

  /** Dedup delay: above the lag bound, so nothing is dropped as late. */
  def dedupDelay: String = s"$lagBoundMs milliseconds"

  /** Events moved late can land after their key's delete; a plain store
    * would resurrect the key, so such topics keep tombstones as rows for
    * the lag bound (the store's retention mode).
    */
  def tombstoneRetention: Option[Long] = if (late > 0) Some(lagBoundMs) else None

  def lines: Long = files.map(_.size.toLong).sum

  /** Every distinct envelope line, in file order. */
  def distinctLines: Seq[String] = files.flatten.distinct
}

object Topics {

  final case class Event(value: String, key: Long, ts: Long)

  /** The changelog of `name` as CdcSim generates it, collected in
    * `ts_ms` order.
    */
  def generate(s: SparkSession, data: String, name: String): IndexedSeq[Event] = {
    val df: DataFrame = name match {
      case "orders" => CdcSim.ordersChangelog(s, data)
      case "customer" => CdcSim.customerChangelog(s, data)
      case "part" => CdcSim.partChangelog(s, data)
    }
    df.select("value", "key", "ts_ms").collect()
      .map(r => Event(r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(e => (e.ts, e.key, e.value)).toIndexedSeq
  }

  def schemaOf(name: String): StructType = name match {
    case "orders" => CdcSim.payloadSchema
    case "customer" => CdcSim.customerSchema
    case "part" => CdcSim.partSchema
  }

  /** Cut `log` into `nFiles` files on distinct timestamps, then redeliver a
    * `dupShare` of events and move a `lateShare` of them 1-3 files later,
    * all drawn from `seed`. A file's largest-`ts_ms` event never moves, so
    * file high-water marks stay strictly increasing.
    */
  def stage(name: String, log: IndexedSeq[Event], nFiles: Int, seed: Long,
      dupShare: Double, lateShare: Double): Topic = {
    val rnd = new scala.util.Random(seed ^ name.hashCode.toLong)
    // cut points: nominal even split, pushed forward past equal timestamps
    val cuts = (1 until nFiles).map(i => i.toLong * log.size / nFiles).map(_.toInt)
      .foldLeft(Vector(0)) { (acc, c0) =>
        var c = math.max(c0, acc.last + 1)
        while (c < log.size && log(c).ts == log(c - 1).ts) c += 1
        if (c >= log.size) acc else acc :+ c
      } :+ log.size
    val home = cuts.zip(cuts.tail).map { case (a, b) => log.slice(a, b) }
    val n = home.size
    val out = Array.fill(n)(Vector.newBuilder[String])
    val kept = Array.fill(n)(0)
    var late, dups = 0L
    var lateMs = 0L
    val hwmHome = home.map(_.last.ts)
    def lag(e: Event, at: Int): Long = if (at == 0) 0L else math.max(0L, hwmHome(at - 1) - e.ts)
    for (f <- 0 until n; (e, i) <- home(f).zipWithIndex) {
      val isMark = i == home(f).size - 1
      val dest =
        if (!isMark && rnd.nextDouble() < lateShare && f + 1 < n) {
          late += 1; math.min(n - 1, f + 1 + rnd.nextInt(3))
        } else f
      out(dest) += e.value; kept(dest) += 1
      lateMs = math.max(lateMs, lag(e, dest))
      if (rnd.nextDouble() < dupShare) {
        val again = math.min(n - 1, dest + rnd.nextInt(4))
        out(again) += e.value
        dups += 1
        lateMs = math.max(lateMs, lag(e, again))
      }
    }
    Topic(name, schemaOf(name), Seq("id"), out.map(_.result()).toIndexedSeq,
      hwmHome, log.size.toLong, dups, late, lateMs)
  }

  /** Write files `from until to` of `t` under `dir`, with modification
    * times one second apart so the file source reads them in order.
    */
  def write(t: Topic, dir: Path, from: Int, to: Int, baseMs: Long,
      prefix: String = "part"): Unit = {
    Files.createDirectories(dir)
    for (f <- from until to) {
      val p = dir.resolve(fileName(f, prefix))
      Files.write(p, t.files(f).mkString("", "\n", "\n").getBytes(UTF_8))
      Files.setLastModifiedTime(p, FileTime.fromMillis(baseMs + f * 1000L))
    }
  }

  def fileName(f: Int, prefix: String = "part"): String = f"$prefix-$f%05d.json"

  /** Publish one file atomically: write a hidden temp file, then rename. */
  def publish(t: Topic, dir: Path, f: Int): Unit = {
    val tmp = dir.resolve("." + fileName(f) + ".tmp")
    Files.write(tmp, t.files(f).mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, dir.resolve(fileName(f)), StandardCopyOption.ATOMIC_MOVE)
  }
}
