package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Correctness checks, run outside the clock. A failed check counts as a
  * failed operation and fails the run.
  */
final class Checks {
  private var attempted, failed = 0L
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  def check(what: String)(ok: => Boolean): Unit = synchronized {
    attempted += 1
    val pass = try ok catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] check $what threw: $e"); false
    }
    if (!pass) { failed += 1; failures += what; System.err.println(s"[perfbench] check FAILED: $what") }
  }

  /** Record one timed operation's outcome. */
  def op(ok: Boolean, what: => String): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; failures += what; System.err.println(s"[perfbench] op FAILED: $what") }
  }

  def counts: (Long, Long) = synchronized((attempted, failed))
}

object Checks {
  /** Order-independent content hash: row count plus the sum of each row's
    * xxhash64 over its columns in name order.
    */
  def contentHash(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(xxhash64(cols.toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}/${r.get(1)}"
  }

  /** `Bench.measure`'s full hash-reduce, returning the hash it computes. */
  def benchReduce(df: DataFrame): Long = {
    val r = df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("h"))
      .agg(bit_xor(col("h"))).collect()
    if (r.isEmpty || r(0).isNullAt(0)) 0L else r(0).getLong(0)
  }
}
