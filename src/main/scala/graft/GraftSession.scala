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
  * window) before `getOrCreate()`.
  *
  * Join policy: Spark's `autoBroadcastJoinThreshold` and AQE choose every
  * join, so a side that outgrows the threshold is shuffled instead of
  * forced into memory. A `broadcast(` hint is allowed only where removing
  * it changes a fixture plan or a plan test asserts it, with a one-line
  * reason at the site naming one of three kinds:
  *  - inflated estimate: the side is small, but its size estimate
  *    (multiplied through joins) is above the threshold, so the join
  *    would become a sort-merge join or flip its build side;
  *  - backwards estimate: the estimates rank the two sides the wrong way
  *    round, so the larger side would be broadcast;
  *  - test-pinned: a plan test asserts the hint.
  * `EntrySpec` holds the per-file hint budget. */
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
