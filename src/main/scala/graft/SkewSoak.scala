package graft

import org.apache.spark.sql.functions._

/** Dev-only skewed-block soak for the fuzzy cascade (`runMain
  * graft.SkewSoak [rightReplicas] [sfDir]`): measures
  * [[graft.operators.Cascade.fuzzyMatch]] on a corpus whose blocking key
  * is Zipf-skewed the way the reference's postcode blocks are (metro
  * 2000/3000 dominating a 3M+-row ABR side —
  * /root/reference/README.md:253), comparing the unsalted path (AQE
  * skew-join splitting) against explicit `saltBlocks` salting.
  *
  * `spark.sql.autoBroadcastJoinThreshold` is disabled: at reference
  * scale the enriched ABR side does not broadcast, and a broadcast join
  * would hide block skew entirely (pairs would be generated at the
  * left's uniform partitioning). The soak exists to measure the
  * sort-merge regime the 100 TB deployment actually runs in.
  *
  * Writes nothing outside /tmp; never part of the driver contract.
  * Results recorded in NOTES_r9.md and SCALE.md §1b.
  */
object SkewSoak {
  def main(args: Array[String]): Unit = {
    val replicas = if (args.length > 0) args(0).toInt else 10
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = Sessions.local()
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    // Zipf-ish postcode assignment, deterministic per id: 40% in metro
    // 2000, 20% in 3000, the rest uniform over 98 suburban codes — the
    // hot block carries ~10^4x the pairs of a median block.
    def zipfPostcode(idCol: String, seed: Int) = {
      val u = pmod(xxhash64(col(idCol), lit(seed)), lit(1000L))
      when(u < 400, "2000")
        .when(u < 600, "3000")
        .otherwise((lit(3001) + pmod(xxhash64(col(idCol), lit(seed + 1)),
          lit(98L))).cast("string"))
    }

    // right = ABR-like: customers replicated `replicas`x with perturbed
    // names (replica marker folded INTO the name so fuzzy scores vary)
    val cust = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"))
    val right = (0 until replicas).map { k =>
      cust.select(
        (col("c_custkey") + lit(k * 10000000L)).as("abr_id"),
        concat_ws(" ",
          regexp_replace(col("c_name"), "[#0]+", " "), lit(s"v$k"))
          .as("abr_name"))
    }.reduce(_.unionByName(_))
      .withColumn("postcode", zipfPostcode("abr_id", 7))
    val rightPath = "/tmp/graft_skew_right"
    right.write.mode("overwrite").parquet(rightPath)
    val abr = spark.read.parquet(rightPath)

    // left = crawl-like: suppliers, same skewed postcode distribution
    val left = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey").as("crawl_id"),
        regexp_replace(col("s_name"), "[#0]+", " ").as("crawl_name"))
      .withColumn("postcode", zipfPostcode("crawl_id", 13))
    val leftPath = "/tmp/graft_skew_left"
    left.write.mode("overwrite").parquet(leftPath)
    val crawl = spark.read.parquet(leftPath)

    val nL = crawl.count(); val nR = abr.count()
    println(s"[skew] left=$nL right=$nR")
    val hist = crawl.groupBy("postcode").agg(count(lit(1)).as("nl"))
      .join(abr.groupBy("postcode").agg(count(lit(1)).as("nr")), Seq("postcode"))
      .withColumn("pairs", col("nl") * col("nr"))
      .orderBy(col("pairs").desc)
    val top = hist.limit(3).collect()
    val med = hist.selectExpr("percentile(pairs, 0.5)").head().getDouble(0)
    top.foreach(r => println(s"[skew] block ${r.getString(0)}: " +
      s"${r.getLong(1)} x ${r.getLong(2)} = ${r.getLong(3)} pairs"))
    println(f"[skew] median block pairs: $med%.0f " +
      f"(hot/median = ${top.head.getLong(3) / med}%.0f)")

    val score = graft.functions.exprs.token_sort_ratio(
      col("crawl_name"), col("abr_name"))
    // threshold low enough that matches survive (the argmax/min_by stage
    // runs on real groups, and the parity require below is non-vacuous)
    val cfg = operators.Cascade.MatchConfig(fuzzyAcceptThreshold = 40.0)
    def run(label: String, salt: Int): Long = {
      val (n, p) = Profile.during(spark)(operators.Cascade.fuzzyMatch(
        crawl, abr, "postcode", score, "crawl_id", Seq("abr_id"),
        cfg = cfg, saltBlocks = salt).count())
      println(f"[skew] $label: ${p.seconds}%.1f s ($n matches)")
      n
    }
    // each variant runs twice: run1 pays codegen, run2 is the warm figure
    val unsalted = Seq(run("unsalted, AQE defaults run1", 1),
      run("unsalted, AQE defaults run2", 1))
    // AQE CAN split this join — but only if its byte thresholds are tuned
    // down to this corpus: the skew is in the join PRODUCT (24M pairs out
    // of a 3MB input partition), and AQE's skewJoin triggers on partition
    // BYTES (256MB default), so at defaults it never fires here. The same
    // blindness holds at 100 TB whenever the blocking key is low-byte but
    // high-fanout.
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256k")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k")
    val aqeTuned = Seq(run("unsalted, AQE tuned run1", 1),
      run("unsalted, AQE tuned run2", 1))
    spark.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    val salted8 = Seq(run("saltBlocks=8 run1", 8), run("saltBlocks=8 run2", 8))
    val salted16 = Seq(run("saltBlocks=16 run1", 16), run("saltBlocks=16 run2", 16))
    // result parity: salting/AQE must be pure execution-strategy changes
    require(unsalted.head > 0, "threshold produced zero matches; soak is vacuous")
    require(unsalted.toSet.size == 1 && unsalted.head == salted8.head &&
      salted8.head == salted16.head && unsalted.head == aqeTuned.head,
      s"match counts diverged: $unsalted / $aqeTuned / $salted8 / $salted16")
    spark.stop()
  }
}
