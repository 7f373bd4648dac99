package graft

import org.apache.spark.sql.SparkSession

/** The one session factory every graft main runs on (Bench, Verify, Sql,
  * Explain and the `tools/` mains) — the dbt "profile" of this project:
  * one place decides the core count, shuffle width, time zone, timestamp
  * encoding and whether graft's extensions load, so no two entry points
  * can disagree on them.
  *
  *   - master `local[cpus]`: `SPARK_GRAFT_CPUS` if set, else every core;
  *   - `spark.sql.shuffle.partitions = max(4, cpus/8)`: suite-level
  *     concurrency saturates the cores, so each query needs only a few
  *     partitions and a wide fan-out would just multiply tiny tasks;
  *   - UTC session time zone and TIMESTAMP_MICROS parquet output (the
  *     DuckDB oracle's timestamp encoding);
  *   - `graft.GraftExtensions` loaded, UI off;
  *   - log level ERROR plus [[LogHygiene.suppressKnownBenign]], because
  *     these mains' stdout/stderr become committed artifacts. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS` if set, else all cores on the box. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `conf` adds settings a single main needs on top of the shared ones
    * (Bench's scheduler pools). */
  def apply(conf: (String, String)*): SparkSession = {
    val n = cpus
    val spark = SparkSession.builder()
      .config(conf.toMap)
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", math.max(4, n / 8).toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    LogHygiene.suppressKnownBenign()
    spark
  }
}
