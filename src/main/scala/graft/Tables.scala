package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet-backed table catalog over a driver testdata dir
  * (`/root/testdata/sf*`, see TESTDATA.md). One parquet file per table.
  *
  * At cluster scale these would be partitioned parquet/iceberg table roots;
  * the API surface (named-table access, column pruning + predicate pushdown
  * via the parquet datasource) is identical.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Per-(session, dir, table) LAZY relation memo (r22, the fixed-floor
    * fix), the cache a catalog's metastore would be: each
    * `spark.read.parquet` call re-lists the path and resolves the relation
    * again. Nothing is materialized: the memoized DataFrame is the lazy scan
    * plan, recomputed on every action. Testdata tables are immutable for a
    * session's life (TESTDATA.md); stopped sessions' keys are pruned. */
  private val relationMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    relationMemo.keySet.removeIf(k => k._1.sparkContext.isStopped)
    relationMemo.computeIfAbsent((spark, dir, name), _ => Schemas.get(name)
      .fold(spark.read)(spark.read.schema).parquet(s"$dir/$name.parquet"))
  }

  /** Declared schemas, so a first load starts no schema-inference job;
    * each equals what inference reads in every testdata dir (TablesSpec).
    * `events` keeps inference: [[normalizeTs]] accepts three `ts` types. */
  private[graft] val Schemas: Map[String, StructType] = Map(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" ->
      "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "documents" ->
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  /** Register every table as a temp view so `spark.sql(...)` works over
    * the catalog (the SQL entry surface next to the DataFrame API). */
  def registerAll(s: SparkSession, d: String): Unit =
    All.foreach { name =>
      val df = if (name == "events") events(s, d) else load(s, d, name)
      df.createOrReplaceTempView(name)
    }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** Normalize an event-time column to `TimestampType` regardless of how
    * the parquet writer annotated it. Real pipelines meet all three
    * shapes, often from different writers of the same logical table:
    *
    *  - `TIMESTAMP(NANOS)` read as `LongType` (via
    *    `spark.sql.legacy.parquet.nanosAsLong=true`, see [[graft.Spark]]):
    *    rebuilt as a microsecond timestamp with integer `DIV` (no double
    *    round-trip — nanos exceed double's 53-bit mantissa).
    *  - `TIMESTAMP_MICROS(isAdjustedToUTC=0)` read as `TimestampNTZType`:
    *    cast to `TimestampType` under session-timezone semantics. Every
    *    graft entry point pins the session timezone to UTC, so the cast
    *    relabels the same instant rather than shifting it. Without this,
    *    `.withWatermark` hard-fails (`EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE`)
    *    — watermarks require `TimestampType`.
    *  - `TIMESTAMP_MICROS(isAdjustedToUTC=1)` read as `TimestampType`:
    *    passed through.
    */
  private[graft] def normalizeTs(df: DataFrame, c: String = "ts"): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    df.schema(c).dataType match {
      case LongType =>
        df.withColumn(c, timestamp_micros(expr(s"$c DIV 1000")))
      case TimestampNTZType =>
        df.withColumn(c, col(c).cast(TimestampType))
      case _ => df
    }
  }

  /** Events with `ts` normalized to `TimestampType` — see [[normalizeTs]]
    * for the writer annotations tolerated. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
