package graft.streaming

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The exactly-once commit every versioned store and sink in this package
  * shares — the foreachBatch + checkpoint pattern the reference
  * approximates with checkpoint + JDBC append (cdc_processor.py:100-124).
  *
  * Batch N of a store at `dir` is committed iff `dir/_manifest/N` exists.
  * [[once]] runs a batch's write and only then creates that marker, so a
  * replay (Structured Streaming redelivers a batch id after a failure)
  * either finds the marker and is a no-op, or finds none and rewrites the
  * same batch-id-named output over whatever a crashed attempt left. Readers
  * resolve versions from the markers alone, which makes such crash orphans
  * invisible by construction, and no second commit record (a pointer
  * file) exists that could disagree with the markers.
  */
object Commit {

  private def manifest(dir: String): Path = Paths.get(dir, "_manifest")

  /** Run `write` for batch `id` unless it is already committed, then commit
    * it. None when the batch was a replay and `write` did not run.
    */
  def once[A](dir: String, id: Long)(write: => A): Option[A] = {
    val marker = manifest(dir).resolve(id.toString)
    if (Files.exists(marker)) None
    else {
      val out = write
      Files.createDirectories(marker.getParent)
      Files.createFile(marker)
      Some(out)
    }
  }

  /** Committed batch ids, ascending. */
  def versions(dir: String): Seq[Long] = {
    val m = manifest(dir)
    if (!Files.isDirectory(m)) Seq.empty
    else {
      val s = Files.list(m)
      try s.iterator().asScala
        .flatMap(_.getFileName.toString.toLongOption).toSeq.sorted
      finally s.close()
    }
  }

  def latest(dir: String): Option[Long] = versions(dir).lastOption

  /** The newest committed batch strictly before `id` — the pre-batch state
    * a replayed batch must read, even when later batches committed since.
    */
  def before(dir: String, id: Long): Option[Long] =
    versions(dir).filter(_ < id).lastOption

  /** The newest committed `dir/v=<id>` version, for stores that write one
    * full version dir per batch.
    */
  def readLatest(s: SparkSession, dir: String): Option[DataFrame] =
    latest(dir).map(v => s.read.parquet(s"$dir/v=$v"))
}
