package graft

import org.apache.spark.sql.SparkSession

/** The one place an engine session is configured. Bench, Verify, PlanDump
  * and the test suites all start from this builder, so the settings every
  * oracle hash depends on cannot drift between them:
  *  - `local[cores]`, with shuffle width tied to the core count (the
  *    local-mode optimum, SURVEY.md §9);
  *  - [[graft.extensions.GraftExtensions]], so the native expressions are
  *    callable from SQL;
  *  - UTC session time, so date casts match the DuckDB twins;
  *  - `nanosAsLong`, so fixtures written with TIMESTAMP(NANOS) load;
  *  - no UI.
  * A caller adds only settings that are its own (app name, progress
  * window) before `getOrCreate()`. */
object GraftSession {
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.extensions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
