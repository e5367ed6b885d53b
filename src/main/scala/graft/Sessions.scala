package graft

import org.apache.spark.sql.SparkSession

/** The one local-session builder, for every main and the test suite:
  * `local[cpus]` with `cpus` shuffle partitions, [[GraftExtensions]], UTC,
  * `nanosAsLong` (`events.parquet` holds TIMESTAMP(NANOS), rebuilt by
  * `Tables.events`), no UI, WARN logging. */
object Sessions {

  /** `SPARK_GRAFT_CPUS` if set, else every core the JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
