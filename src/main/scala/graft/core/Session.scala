package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's local session settings, shared by every `main` and the
  * test suites. Callers add their own extras (app name, log level,
  * display or codegen switches) on the returned builder. */
object Session {
  /** A builder for `local[cpus]` with `cpus` shuffle partitions and the
    * settings every reader and query of the engine relies on. */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); read as long
      // (Tables.events reconstructs a second-truncated timestamp)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // csv column pruning skips token-count validation for unread
      // fields — readCsvs requires it OFF session-wide for malformed-row
      // parity (see readCsvs contract); set here so the invariant holds
      // regardless of call order
      .config("spark.sql.csv.parser.columnPruning.enabled", "false")
      // SQL surface: strip_accents / dot_product as SQL functions (q78)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
}
