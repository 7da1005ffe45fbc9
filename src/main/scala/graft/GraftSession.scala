package graft

import org.apache.spark.sql.SparkSession

/** Canonical session configuration for the graft engine.
  *
  * The only place a session is built: the CLI and web preview
  * ([[getOrCreate]]), the harness mains Bench, Verify and Dev
  * ([[harness]]), the benchmark package and every ScalaTest suite all
  * start from [[builder]], so they run with identical semantics:
  *  - UTC session timezone (oracle parity with DuckDB);
  *  - AQE on (runtime coalescing + skew-join splitting — the knobs that
  *    matter once this plan runs on a real cluster instead of local[32]);
  *  - shuffle partitions sized to the local core count rather than the
  *    200 default (on a real cluster this would be set per-job or left
  *    to AQE's coalescing);
  *  - nanosecond parquet timestamps surfaced as longs (the events table;
  *    see [[graft.sources.Tables]]);
  *  - graft's SQL functions injected through [[GraftExtensions]];
  *  - the `file:` scheme bound to [[graft.ingest.LocalFs]], which sets
  *    and reads permissions through java.nio instead of starting a
  *    `chmod` or `ls` process per file;
  *  - state-store maintenance effectively disabled: this engine drains
  *    BOUNDED stream replays (parity queries, tests, bench passes),
  *    where background snapshot compaction buys nothing — but the
  *    maintenance thread keeps servicing every provider ever loaded,
  *    including stopped queries whose checkpoint dirs are already
  *    deleted, and its 60 s sweeps landed mid-bench as multi-second
  *    outlier passes (round-6 `unstable` flags on str03/str04/ao03).
  *    A 24/7 streaming deployment would restore the default interval —
  *    snapshot maintenance is what bounds its recovery time.
  */
object GraftSession {
  def builder(cores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.hadoop.fs.file.impl", classOf[graft.ingest.LocalFs].getName)
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
      .config("spark.ui.enabled", "false")

  /** The harness mains' session: `b` over a throwaway warehouse dir, so
    * queries that land managed tables never write into the working
    * directory or collide with an earlier run's tables.
    */
  def harness(b: SparkSession.Builder = builder()): SparkSession = {
    val s = b.config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
