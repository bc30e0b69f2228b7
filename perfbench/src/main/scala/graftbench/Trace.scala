package graftbench

import scala.collection.mutable.ArrayBuffer

/** One timed call into a layer. `req` ties the spans of one request: a
  * micro-batch (`topic:batchId`) or a query name.
  */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, req: String) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Disabled, `span` runs its body and records
  * nothing; enabled, nested calls on one thread become parent and child.
  * Spans are written out only when the run ends.
  */
final class Tracer(@volatile var enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private var nextId = 0

  def span[A](name: String, req: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, name, t0, t1, parent, req) }
      }
    }

  /** A span measured elsewhere (a progress phase), returning its id. */
  def add(name: String, startNs: Long, endNs: Long, parent: Int, req: String): Int =
    synchronized {
      nextId += 1
      spans += Span(nextId, name, startNs, endNs, parent, req)
      nextId
    }

  /** Re-parent root spans named `name` under `parentOf(req)`. */
  def adopt(name: String, parentOf: String => Option[Int]): Unit = synchronized {
    for (i <- spans.indices) {
      val s = spans(i)
      if (s.name == name && s.parent == 0)
        parentOf(s.req).foreach(p => spans(i) = s.copy(parent = p))
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"req":"${s.req}"}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {

  /** Self time per span name: each span's duration minus the part of its
    * interval its children cover (overlapping children counted once).
    */
  def selfTimes(spans: Seq[Span]): Map[String, Long] = {
    val kids = spans.filter(_.parent != 0).groupBy(_.parent)
    spans.groupMapReduce(_.name) { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      s.durNs - covered
    }(_ + _)
  }
}
