package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Timestamp-type-robust helpers.
  *
  * The synthetic data's timestamp columns have shipped as parquet
  * TIMESTAMP(NANOS), TIMESTAMP(MICROS) tz-naive (→ TimestampNTZType in
  * Spark 4), and could ship tz-aware (→ TimestampType). Table loads
  * normalize to TimestampType at the boundary (the one raw-parquet
  * reader, graft.ingest.RawParquet), but the generic operators (AsOf, Curation)
  * accept arbitrary caller frames, so they must not assume the
  * normalization happened.
  */
object time {

  /** Microseconds since epoch for a TIMESTAMP, TIMESTAMP_NTZ, or DATE
    * column. The cast is a no-op on TimestampType; on TIMESTAMP_NTZ it
    * reinterprets the wall-clock in the session timezone (pinned UTC
    * across this engine), which preserves the instant DuckDB sees when
    * it reads the same tz-naive parquet — so oracle comparisons stay
    * exact. Never pass raw nanos-longs here (cast would read them as
    * seconds); those are converted at read time (RawParquet).
    */
  def epochUs(c: Column): Column = unix_micros(c.cast(TimestampType))
}
