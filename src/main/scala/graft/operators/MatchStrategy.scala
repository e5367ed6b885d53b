package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** J5 — the reference's optional LLM adjudication stage
  * (/root/reference/transform/entity_matching.py:177-258): for each
  * still-unmatched left row, an external model picks the best candidate key
  * from the blocked right side, and the pick is realized as a plain
  * equi-join on the returned key (entity_matching.py:236-237).
  *
  * The external call is non-deterministic and side-effecting, so it lives
  * behind a strategy trait executed in a Dataset `mapPartitions` — never a
  * Catalyst expression. The production default is a deterministic
  * stub (hermetic tests; mirrors the reference's `enable_llm=False` default,
  * entity_matching.py:303).
  */
trait MatchStrategy extends Serializable {
  /** Given (leftId, leftName, candidate right names-by-key), return the
    * chosen right key, or None to abstain. */
  def adjudicate(leftName: String, candidates: Seq[(String, String)]): Option[String]
}

/** Deterministic stub: picks the candidate with the highest token-sort
  * similarity if any scores above `floor`, else abstains. Stands in for the
  * GPT-4 adjudicator with reproducible behavior. */
final class DeterministicStub(floor: Double = 50.0) extends MatchStrategy {
  override def adjudicate(
      leftName: String, candidates: Seq[(String, String)]): Option[String] = {
    if (leftName == null || candidates.isEmpty) return None
    val best = candidates
      .map { case (k, n) =>
        (k, if (n == null) 0.0 else graft.functions.SimKernel.tokenSortRatio(leftName, n)) }
      .maxBy { case (k, s) => (s, k) }  // deterministic tie-break on key
    if (best._2 > floor) Some(best._1) else None
  }
}

object LlmMatch {
  /** Run the adjudication stage: for each left row, gather the blocked
    * candidate list, call the strategy, then equi-join the picked key back
    * to the right side (the reference's post-LLM ABN lookup) — the
    * [[blockedStages]] plan without a fuzzy stage. `spark` is unused. */
  def apply(
      spark: SparkSession,
      left: DataFrame, right: DataFrame, blockKey: String,
      leftId: String, leftName: String,
      rightKey: String, rightName: String,
      strategy: MatchStrategy,
      llmScore: Double = 95.0,
      maxCandidates: Int = 256): DataFrame =
    blockedStages(left, right, blockKey, leftId, leftName, rightKey,
      rightName, None, Some(strategy), llmScore, maxCandidates)

  /** The cascade's blocked stages over ONE blocking join: the fuzzy argmax
    * (J4, when `fuzzy` gives the score and thresholds) and adjudication (J5)
    * of each left id it leaves unmatched, as one lazy plan. `left`
    * left-outer-joins `right` on the block; one grouping shuffle gathers
    * each id's pairs sorted by (right key, right name, left name), and a
    * Dataset `flatMapSortedGroups` walks them once. The best pair at or
    * over the accept threshold (first in that order on a tie) is the
    * fuzzy match; else the
    * first `maxCandidates` pairs — a total order, so the same ones survive
    * at any partitioning — are the candidates, and the strategy is called
    * once per left name among them. A pick realizes every distinct left
    * row of the id against the right rows with that key, in any block
    * (entity_matching.py:236-237), in one left-outer key join that fuzzy
    * rows pass through. Output: left columns, right columns but the
    * block, match_method / match_score / match_confidence. */
  private[graft] def blockedStages(
      left: DataFrame, right: DataFrame, blockKey: String,
      leftId: String, leftName: String,
      rightKey: String, rightName: String,
      fuzzy: Option[(Column, Cascade.MatchConfig)],
      strategy: Option[MatchStrategy],
      llmScore: Double, maxCandidates: Int): DataFrame = {
    val leftCols = left.columns.toSeq
    val rightCols = right.columns.filter(_ != blockKey).toSeq
    val pairs = left
      .join(right.withColumn("__partner", lit(true)), Seq(blockKey), "left_outer")
      .withColumn("match_score", fuzzy.fold(lit(null).cast("double"))(_._1))
      .select((leftCols ++ rightCols :+ "__partner" :+ "match_score").map(col): _*)
      // without adjudication only accepted pairs can matter
      .filter(lit(strategy.isDefined) || col("match_score") >=
        fuzzy.fold(Double.PositiveInfinity)(_._2.fuzzyAcceptThreshold))

    val in = pairs.schema
    val outSchema = StructType(leftCols.map(in(_)) ++
      rightCols.map(in(_).copy(nullable = true)) ++ Seq(
        StructField("match_score", DoubleType),
        StructField("__picked_key", StringType)))
    val decider = new Decider(leftCols.size, rightCols.size,
      in.fieldIndex(leftName), in.fieldIndex(rightKey), in.fieldIndex(rightName),
      fuzzy.map(_._2.fuzzyAcceptThreshold), strategy, maxCandidates)
    // a grouping operator, not a repartition: Spark keeps its distribution
    // even where AQE turns the upstream shuffle into a local read
    val decided = pairs.groupBy(col(leftId).cast("string"))
      .as[String, Row](Encoders.STRING, Encoders.row(in))
      .flatMapSortedGroups(col(rightKey), col(rightName), col(leftName))(
        (id: String, rows: Iterator[Row]) => decider.decide(id, rows))(
        Encoders.row(outSchema))

    val keyed = right.select(col(rightKey).cast("string").as("__right_key") +:
      rightCols.map(c => col(c).as(s"__r_$c")): _*)
    val isFuzzy = col("__picked_key").isNull
    val high = fuzzy.fold(Double.PositiveInfinity)(_._2.fuzzyHighConfidence)
    decided.join(keyed, col("__picked_key") === col("__right_key"), "left_outer")
      .filter(isFuzzy || col("__right_key").isNotNull)
      .select(leftCols.map(col) ++
        rightCols.map(c => when(isFuzzy, col(c)).otherwise(col(s"__r_$c")).as(c)) ++
        Seq(
          when(isFuzzy, lit("fuzzy")).otherwise(lit("LLM")).as("match_method"),
          when(isFuzzy, col("match_score")).otherwise(lit(llmScore)).as("match_score"),
          when(isFuzzy && col("match_score") >= high, lit("high"))
            .otherwise(lit("medium")).as("match_confidence")): _*)
  }

  /** The per-left-id walk of [[blockedStages]] over one id's rows, laid
    * out as (left columns, right columns, partner flag, score). */
  private final class Decider(nLeft: Int, nRight: Int, nameIx: Int,
      keyIx: Int, rightNameIx: Int, accept: Option[Double],
      strategy: Option[MatchStrategy], maxCandidates: Int) extends Serializable {
    private val partnerIx = nLeft + nRight
    private val scoreIx = partnerIx + 1

    private def str(v: Any): String = if (v == null) null else v.toString

    /** The id's fuzzy match, or its picks realized on its left rows. */
    def decide(id: String, rows: Iterator[Row]): Seq[Row] = {
      val lefts = mutable.LinkedHashSet.empty[Seq[Any]]
      val cands = mutable.ArrayBuffer.empty[Row]
      var best: Row = null
      rows.foreach { r =>
        lefts += (0 until nLeft).map(r.get)
        if (!r.isNullAt(partnerIx)) {
          if (cands.size < maxCandidates) cands += r
          if (accept.exists(a => !r.isNullAt(scoreIx) && r.getDouble(scoreIx) >= a &&
              (best == null || r.getDouble(scoreIx) > best.getDouble(scoreIx))))
            best = r
        }
      }
      if (best != null)
        Seq(Row.fromSeq((0 until nLeft + nRight).map(best.get) :+ best.get(scoreIx) :+ null))
      else strategy.fold(Seq.empty[Row]) { s =>
        val byName = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(String, String)]]
        cands.foreach(r => byName.getOrElseUpdate(r.getString(nameIx),
          mutable.ArrayBuffer.empty) += ((str(r.get(keyIx)), str(r.get(rightNameIx)))))
        val picks = byName.toSeq.flatMap { case (n, cs) => s.adjudicate(n, cs.toSeq) }
        if (id == null) Nil
        else for (k <- picks if k != null; l <- lefts.toSeq)
          yield Row.fromSeq(l ++ Seq.fill[Any](nRight + 1)(null) :+ k)
      }
    }
  }
}
