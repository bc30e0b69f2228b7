package graftbench

import java.lang.management.ManagementFactory
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Job and task counts per request, read from the public listener API.
  * A request is a benchmark query (the `graftbench.req` local property) or
  * a streaming micro-batch (the engine's query-id and batch-id properties).
  * Registered only in the traced run.
  */
final class JobProbe extends SparkListener {
  final class Acc { @volatile var jobs = 0L; @volatile var tasks = 0L; @volatile var taskMs = 0L }
  val byReq = TrieMap.empty[String, Acc]
  private val stageReq = TrieMap.empty[Int, String]
  @volatile private var lastEventNs = System.nanoTime()

  private def acc(req: String): Acc = byReq.getOrElseUpdate(req, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val req = p.flatMap(x => Option(x.getProperty(JobProbe.ReqKey)))
      .orElse(for {
        x <- p; q <- Option(x.getProperty("sql.streaming.queryId"))
        b <- Option(x.getProperty("streaming.sql.batchId"))
      } yield s"$q:$b")
      .getOrElse("other")
    val a = acc(req)
    a.synchronized(a.jobs += 1)
    e.stageIds.foreach(stageReq.put(_, req))
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageReq.getOrElse(e.stageId, "other"))
    a.synchronized {
      a.tasks += 1
      a.taskMs += Option(e.taskMetrics).map(_.executorRunTime).getOrElse(0L)
    }
    lastEventNs = System.nanoTime()
  }

  /** Wait until the listener bus has been quiet for `quietMs`. */
  def settle(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEventNs < quietMs * 1000000L &&
        System.nanoTime() < deadline) Thread.sleep(50)
  }
}

object JobProbe {
  val ReqKey = "graftbench.req"
}

/** Process-level readings: peak resident set, GC time, peak heap. */
object Jvm {
  def peakRssMb: Double = {
    val st = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(st)) Double.NaN
    else java.nio.file.Files.readAllLines(st).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
