package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Components, Dedup, Sampling}

/** The near-dup curation chain: MinHash-LSH pairs → connected-component
  * keep ids → leakage-safe train/val/test split, each stage pinned and
  * forced before the next (the stage boundaries of `graft.Soak` chain
  * mode). One pass runs the chain over the whole generated corpus. */
final class CurationChain(spark: SparkSession, tracer: Tracer, o: Main.Opts)
    extends Workload {
  private var last: (DataFrame, DataFrame, DataFrame) = _
  private var warmupCounts = Map.empty[String, Any]

  private def pass(i: Int): scala.collection.Map[String, Any] = {
    val docs = spark.read.parquet(s"${o.input}/docs.parquet")
    val (pairs, nPairs) = tracer.span("dedup.minhash") {
      val p = Dedup.minhashLshPortable(docs, "text", "doc_id",
        ngram = 3, numHashes = 8, bands = 4, jaccardThreshold = 0.5)
        .localCheckpoint(false)
      (p, p.count())
    }
    val (assign, clusters) = tracer.span("components") {
      val a = Components.dedupAssignments(docs, "doc_id", pairs, "id_a", "id_b")
        .localCheckpoint(false)
      (a, a.groupBy(col("keep_id")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2).count())
    }
    val (split, nSplit) = tracer.span("sampling.split") {
      val s = Sampling.leakageSafeSplit(docs, "doc_id", pairs, "id_a", "id_b",
        valPermille = 100, testPermille = 100, seed = 42, maxIter = 40)
        .localCheckpoint(false)
      (s, s.count())
    }
    last = (pairs, assign, split)
    if (i == 0 && tracer.enabled)
      warmupCounts = Map("dedup.minhash.pairs" -> nPairs,
        "components.clusters" -> clusters)
    Json.obj("pairs" -> nPairs, "clusters" -> clusters, "split_rows" -> nSplit)
  }

  def run(): Seq[scala.collection.Map[String, Any]] =
    timedPasses(tracer, o.seconds, warmups = 2, minTimed = 4, maxTimed = 12,
      pinGenerations(spark))(pass)

  def finish(): scala.collection.Map[String, Any] = {
    val (pairs, assign, split) = last
    val out = s"${o.work}/out"
    pairs.write.mode("overwrite").parquet(s"$out/pairs")
    assign.write.mode("overwrite").parquet(s"$out/assignments")
    split.write.mode("overwrite").parquet(s"$out/split")
    Json.obj("out" -> out) ++ warmupCounts
  }
}
