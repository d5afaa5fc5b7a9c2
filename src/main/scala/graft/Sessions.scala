package graft

import org.apache.spark.sql.SparkSession

/** The session configuration Bench runs under, shared by every entry point
  * (Bench, Verify, PlanDump, Smoke, StreamBench, ScaleProbe, ExampleStream)
  * so a dumped, verified or probed plan is planned exactly like the benched
  * one. Callers choose the master, shuffle partition count and app name.
  */
private[graft] object Sessions {
  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the test tables store naive parquet timestamps: read them as
      // TIMESTAMP (UTC session) rather than TIMESTAMP_NTZ so timestamp
      // functions and the DuckDB oracle see identical values
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
}
