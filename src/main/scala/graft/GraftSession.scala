package graft

import org.apache.spark.sql.SparkSession

/** Tuned SparkSession factory.
  *
  * The same builder is used by tests, Verify and Bench so every entry point
  * runs with the scale-oriented defaults: AQE on (runtime coalesce + skew-join
  * splitting stand in for the per-cluster tuning we cannot do on local[N]),
  * shuffle partitions sized from the env instead of the 200 default, and UTC
  * so timestamp semantics match the DuckDB oracle.
  */
object GraftSession {
  def builder(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      // Cross-scale parallelism: AQE coalesces DOWN from the initial count
      // but never splits a non-skewed stage up, so the initial number is
      // the ceiling on reduce-side parallelism. Big-SF runs (the sf10
      // smoke) export SPARK_GRAFT_INIT_PARTS to raise the ceiling — small
      // SFs coalesce back to ~64 MB tasks either way; the default stays
      // `cpus` so gate/bench plans at the driver SFs are byte-identical to
      // prior rounds.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INIT_PARTS", cpus))
      // testdata events.parquet stores ts as TIMESTAMP(NANOS); Spark 4 only
      // reads it via this escape hatch (as LongType nanos — see Tables.events)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      // reclaim reliable-checkpoint files (dedup_clusters iteration state)
      // once their RDDs are unreferenced — otherwise every run leaks its
      // checkpoint dirs onto disk
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // the status store retains execution/job/stage data even with the UI
      // off (default: 1000 executions) — across a 120-query bench JVM whose
      // plans embed multi-MB literal codebooks/centroids, that retention is
      // pure heap pressure on later checkpoint-heavy queries
      .config("spark.sql.ui.retainedExecutions", "4")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
