package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** A fixed list of `SparkEntry.queries`, each built and then run into the
  * noop sink.
  *
  * Pass 0 is cold: the first sweep in this fresh JVM and session, so every
  * session memo and the `Tables` relation memo start empty, and each memo
  * build is charged to the query that triggers it. The warm passes that
  * follow run the same order in the same session, reading those memos. A
  * traced run traces the cold pass and every second warm pass. After the
  * timed passes (untimed), each query's rows are written as parquet with
  * its oracle SQL, the layout `tools/check_oracle.py` compares against
  * DuckDB. */
final class QuerySweep(spark: SparkSession, tracer: Tracer, o: Main.Opts)
    extends Workload {
  require(o.queries.nonEmpty, "query_sweep needs --queries")
  o.queries.foreach(q => require(SparkEntry.queries.contains(q), s"no query $q"))

  private def sweep(kind: String): Seq[scala.collection.Map[String, Any]] =
    tracer.span(s"sweep.$kind") {
      o.queries.map { q =>
        tracer.span(s"sweep.$kind.query", q) {
          try {
            val (df, build) = Workload.timed(tracer.span(s"sweep.$kind.build") {
              SparkEntry.queries(q)(spark, o.sf)
            })
            val (_, action) = Workload.timed(tracer.span(s"sweep.$kind.action") {
              df.write.format("noop").mode("overwrite").save()
            })
            Json.obj("query" -> q, "ok" -> true, "build_s" -> build,
              "action_s" -> action)
          } catch {
            case e: Exception =>
              System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
              Json.obj("query" -> q, "ok" -> false)
          }
        }
      }
    }

  def run(): Seq[scala.collection.Map[String, Any]] = {
    val passes = scala.collection.mutable.ArrayBuffer.empty[scala.collection.Map[String, Any]]
    val minWarm = 2
    var timed = 0.0
    var i = 0
    while (i <= minWarm || (timed < o.seconds && i <= 6)) {
      val kind = if (i == 0) "cold" else "warm"
      tracer.active = tracer.enabled && (i == 0 || i % 2 == 0)
      val (per, s, steal) = Workload.timedWithSteal(tracer.span("pass")(sweep(kind)))
      timed += s
      passes += Json.obj("pass" -> i, "s" -> s, "steal_share" -> steal,
        "warmup" -> false, "traced" -> tracer.active, "kind" -> kind,
        "queries" -> per)
      tracer.active = false
      i += 1
    }
    passes.toSeq
  }

  def finish(): scala.collection.Map[String, Any] = {
    val out = s"${o.work}/out"
    val failed = o.queries.filterNot { q =>
      try {
        SparkEntry.queries(q)(spark, o.sf).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/$q")
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $q output failed: ${e.getMessage}")
          false
      }
    }
    val sql = o.queries.map(q => q -> SparkEntry.oracleSql.getOrElse(q, ""))
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json(Json.obj(sql: _*)))
    Json.obj("out" -> out, "output_failed" -> failed)
  }
}
