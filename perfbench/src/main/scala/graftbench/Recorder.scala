package graftbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable.ArrayBuffer

/** Per-layer readings of one run: sample lists (reported as medians) and
  * running totals. Thread-safe; streaming queries record concurrently.
  */
final class Recorder {
  private val samples = TrieMap.empty[String, ArrayBuffer[Double]]
  private val totals = TrieMap.empty[String, Double]

  def sample(name: String, v: Double): Unit = {
    val b = samples.getOrElseUpdate(name, ArrayBuffer.empty[Double])
    b.synchronized(b += v)
  }

  def add(name: String, v: Double): Unit = synchronized {
    totals.put(name, totals.getOrElse(name, 0.0) + v)
  }

  def set(name: String, v: Double): Unit = totals.put(name, v)

  def samplesOf(name: String): Seq[Double] =
    samples.get(name).map(b => b.synchronized(b.toList)).getOrElse(Nil)

  def median(name: String): Double = {
    val xs = samplesOf(name)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }

  def total(name: String): Double = totals.getOrElse(name, 0.0)
}
