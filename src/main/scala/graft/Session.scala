package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe shared by every main and the test suites.
  *
  * The confs are the ones the library's readers rely on:
  *   - UTC session time, so timestamp literals and the DuckDB oracle agree;
  *   - `nanosAsLong`, because `events.parquet` is TIMESTAMP(NANOS) and
  *     [[Tables.events]] converts the long column back to a timestamp;
  *   - no schema merging, so a footer read names one file's schema.
  * Shuffle partitions equal the core count. The builder is returned
  * unbuilt so a caller can add its own settings before `getOrCreate()`.
  */
object Session {
  def local(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.mergeSchema", "false")

  /** Core count from `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  /** Parses `key=value` session-conf overrides. The value keeps any
    * further `=`; an argument without `=` (or with an empty key) fails
    * with a message naming it. */
  def confOverrides(args: Seq[String]): Seq[(String, String)] =
    args.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => throw new IllegalArgumentException(
          s"expected a key=value session-conf override, got '$kv'")
      }
    }
}
