package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for training-data pipelines: lay the corpus out as
  * one token stream (in a deterministic document order) and chunk it
  * into fixed token-budget shards — the step that turns a cleaned corpus
  * into training-shard assignments.
  *
  * The semantics are a global exclusive prefix sum over token counts;
  * the naive formulation (`sum().over(Window.orderBy(id))` with no
  * partition spec) collapses the whole corpus into ONE window partition
  * — the classic scale killer. This operator computes the same result
  * distributed, the textbook two-phase scan:
  *
  *   1. range-partition by the order column (each partition owns a
  *      contiguous id range, Spark's range partitioner keeps partition
  *      index order aligned with range order);
  *   2. per-partition token subtotals — P rows — go to the driver, which
  *      prefix-sums them into per-partition offsets (model-state
  *      boundary, same as IVF centroids: bytes ∝ partitions, never rows);
  *   3. broadcast the offsets back; each row's global exclusive cumsum =
  *      its within-partition cumsum (a window PARTITIONED by the pinned
  *      partition id — parallel across partitions) + its partition's
  *      offset.
  *
  * The partition id is computed once and the frame localCheckpoint'ed so
  * steps 2 and 3 see the SAME physical partitioning (spark_partition_id
  * is plan-dependent; pinning it is what makes the join key stable).
  * Output is independent of `numParts` — any range partitioning yields
  * the same global order (asserted against the single-window naive form
  * in PackingSpec).
  *
  * Returns (idCol, <tokenCol>, tok_offset, shard_id): `tok_offset` the
  * exclusive global cumsum, `shard_id = floor(tok_offset / maxTokensPerShard)`
  * — documents straddling a boundary belong to the shard their first
  * token lands in (standard contiguous chunking; greedy bin-packing is a
  * different, order-destroying policy).
  */
object Packing {

  /** `orderCol`: optional explicit stream order (ties broken by idCol).
    * The default packs in id order; passing a deterministic hash key
    * (e.g. a 60-bit md5 of the id) packs in a PSEUDORANDOM permutation —
    * the corpus shuffle a training run needs so shards don't inherit the
    * crawl's source/time locality, with zero extra machinery: the same
    * two-phase scan, just range-partitioned on the hash key. */
  def assignShards(
      docs: DataFrame, tokenCol: String, idCol: String,
      maxTokensPerShard: Long, numParts: Int = 0,
      orderCol: Option[String] = None): DataFrame = {
    require(maxTokensPerShard >= 1, "maxTokensPerShard must be >= 1")
    val spark = docs.sparkSession
    val parts =
      if (numParts > 0) numParts else spark.sessionState.conf.numShufflePartitions
    val okey = orderCol.getOrElse(idCol)
    val orderKeys =
      if (okey == idCol) Seq(col(idCol)) else Seq(col(okey), col(idCol))
    val carried =
      if (okey == idCol) Seq(col(idCol), col(tokenCol))
      else Seq(col(idCol), col(tokenCol), col(okey))
    // 1. contiguous order-key ranges per partition; pid pinned by
    // materializing
    val parted = docs
      .select(carried: _*)
      .repartitionByRange(parts, orderKeys: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    // 2. P subtotal rows -> driver -> exclusive offsets (range partitioner
    // assigns ascending ranges to ascending partition ids)
    val subtotals = parted.groupBy(col("__pid"))
      .agg(sum(col(tokenCol)).as("__t"))
      .collect()
      .map(r => (r.getAs[Int]("__pid"), r.getAs[Long]("__t")))
      .sortBy(_._1)
    val offsets = subtotals
      .scanLeft((0, 0L)) { case ((_, acc), (pid, t)) => (pid, acc + t) }
      .init.zip(subtotals)
      .map { case ((_, off), (pid, _)) => (pid, off) }
    val offsetsDf = spark.createDataFrame(offsets.toSeq).toDF("__pid", "__off")
    // 3. within-partition running sum (parallel across partitions) + offset
    val win = Window.partitionBy(col("__pid")).orderBy(orderKeys: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    parted
      .join(broadcast(offsetsDf), Seq("__pid"))
      .withColumn("tok_offset",
        sum(col(tokenCol)).over(win) + col("__off") - col(tokenCol))
      .select(col(idCol), col(tokenCol),
        col("tok_offset"),
        // integral `div`, not floor(double-div): long/long division in
        // Spark promotes to double, which loses exactness once the
        // global token offset exceeds 2^53 — real at the 100 TB target
        expr(s"tok_offset div ${maxTokensPerShard}L").as("shard_id"))
  }

  /** Exact-fill sequence packing WITH document splitting — the
    * GPT-style pretraining packer: the corpus is one token stream and
    * every training sequence holds EXACTLY `seqLen` tokens, documents
    * splitting across sequence boundaries as needed (the spillover
    * whole-doc packing — [[assignShards]] — cannot give: its shards
    * only fill to budget±one doc). Each document emits one row per
    * sequence it touches: `(id, seq_id, piece_start, piece_tokens)`
    * where `piece_start` is the token offset WITHIN the document, so a
    * downstream tokenizer can slice `tokens[piece_start,
    * piece_start + piece_tokens)` and concatenate pieces in `seq_id`
    * order to materialize exact-length sequences.
    *
    * Built directly on the [[assignShards]] two-phase distributed
    * prefix sum (same order contract, same scale shape); the
    * span-to-sequence fan-out is a bounded `sequence` explode
    * (⌈n/seqLen⌉ + 1 rows per doc) — map-only after the scan. Every
    * quantity is exact BIGINT floor arithmetic, replayed by the q194
    * oracle.
    *
    * Invariant (spec-asserted): summing `piece_tokens` per `seq_id`
    * gives exactly `seqLen` for every sequence but the last. */
  def packSequences(
      docs: DataFrame, tokenCol: String, idCol: String, seqLen: Long,
      numParts: Int = 0, orderCol: Option[String] = None,
      baseOffset: Long = 0L): DataFrame = {
    require(seqLen >= 1, "seqLen must be >= 1")
    require(baseOffset >= 0L, "baseOffset must be >= 0")
    // baseOffset shifts the whole stream: the continuous-ingestion twin
    // (`EventStreams.packedIngest`) packs each micro-batch as the
    // continuation of everything packed before it
    val offs = assignShards(docs, tokenCol, idCol, seqLen, numParts,
      orderCol)
      .withColumn("tok_offset", col("tok_offset") + lit(baseOffset))
    offs.filter(col(tokenCol) > 0)
      .select(col(idCol), col(tokenCol), col("tok_offset"),
        explode(sequence(
          expr(s"tok_offset div ${seqLen}L"),
          expr(s"(tok_offset + `$tokenCol` - 1L) div ${seqLen}L")))
          .as("seq_id"))
      .select(col(idCol), col("seq_id"),
        greatest(col("seq_id") * seqLen - col("tok_offset"), lit(0L))
          .as("piece_start"),
        (least((col("seq_id") + 1L) * seqLen,
            col("tok_offset") + col(tokenCol)) -
          greatest(col("seq_id") * seqLen, col("tok_offset")))
          .as("piece_tokens"))
  }

  /** Sequence-MAJOR packing manifest — the artifact a packed-
    * pretraining trainer actually consumes: per (sequence, document
    * piece), where the piece sits WITHIN the sequence
    * (`seq_start ∈ [0, seqLen)`) and how many documents share the
    * sequence — exactly what's needed to build the block-diagonal
    * attention mask and the EOD-boundary positions for packed
    * sequences. Same two-phase scan as [[packSequences]] (the doc-major
    * view); only the projection differs:
    * `seq_start = max(tok_offset − seq_id·seqLen, 0)`.
    *
    * Returns (seq_id, idCol, seq_start, piece_tokens, n_docs):
    * within a sequence the pieces tile [0, Σ piece_tokens) contiguously
    * in `seq_start` order; every non-final sequence has
    * Σ piece_tokens = seqLen (spec-asserted in PackingSpec). `n_docs`
    * (a count over the seq_id hash partitioning — sequences hold
    * ⌈seqLen/1⌉ docs at most, nothing skewed) lets a reader allocate
    * the mask without a second pass. */
  def packManifest(
      docs: DataFrame, tokenCol: String, idCol: String, seqLen: Long,
      numParts: Int = 0, orderCol: Option[String] = None): DataFrame = {
    require(seqLen >= 1, "seqLen must be >= 1")
    val offs = assignShards(docs, tokenCol, idCol, seqLen, numParts,
      orderCol)
    val w = Window.partitionBy(col("seq_id"))
    offs.filter(col(tokenCol) > 0)
      .select(col(idCol), col(tokenCol), col("tok_offset"),
        explode(sequence(
          expr(s"tok_offset div ${seqLen}L"),
          expr(s"(tok_offset + `$tokenCol` - 1L) div ${seqLen}L")))
          .as("seq_id"))
      .select(col("seq_id"), col(idCol),
        greatest(col("tok_offset") - col("seq_id") * seqLen, lit(0L))
          .as("seq_start"),
        (least((col("seq_id") + 1L) * seqLen,
            col("tok_offset") + col(tokenCol)) -
          greatest(col("seq_id") * seqLen, col("tok_offset")))
          .as("piece_tokens"))
      .withColumn("n_docs", count(lit(1)).over(w))
  }

  /** Generalized two-phase scan: the global EXCLUSIVE prefix sum of
    * SEVERAL BIGINT columns in `orderCol` order, all in ONE pass — the
    * [[assignShards]] machinery (range partition → P·|cols| subtotal
    * cells to the driver → broadcast offsets + per-partition windows)
    * lifted to a column list, for consumers that need multiple aligned
    * cumsums over the same ordering (two ECDFs for a KS statistic, a
    * token and a doc counter for a manifest). One extra cumsum costs
    * one more window aggregate over the SAME pinned-pid partitioning —
    * no additional shuffle, no additional driver round trip.
    *
    * `orderCol` must be unique per row (it is the whole sort key).
    * Returns the input columns plus `<c>_offset` (exclusive cumsum)
    * for each `c` in `tokenCols`; driver state is P·|cols| longs (the
    * [[assignShards]] model-state boundary). */
  def prefixSums(df: DataFrame, orderCol: String,
      tokenCols: Seq[String], numParts: Int = 0): DataFrame =
    prefixSumsWithTotals(df, orderCol, tokenCols, numParts)._1

  /** [[prefixSums]] plus each column's grand total, summed on the driver
    * from the subtotals the scan collects anyway: no second input pass. */
  private[graft] def prefixSumsWithTotals(df: DataFrame, orderCol: String,
      tokenCols: Seq[String], numParts: Int): (DataFrame, Seq[Long]) = {
    require(tokenCols.nonEmpty, "need at least one column to scan")
    val spark = df.sparkSession
    val parts =
      if (numParts > 0) numParts
      else spark.sessionState.conf.numShufflePartitions
    val parted = df
      .select((col(orderCol) +: tokenCols.map(col)): _*)
      .repartitionByRange(parts, col(orderCol))
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    val subtotalAggs = tokenCols
      .map(c => sum(col(c)).as(s"__t_$c"))
    val subtotals = parted.groupBy(col("__pid"))
      .agg(subtotalAggs.head, subtotalAggs.tail: _*)
      .collect()
      .map(r => (r.getAs[Int]("__pid"),
        tokenCols.map(c => r.getAs[Long](s"__t_$c"))))
      .sortBy(_._1)
    val offsets = subtotals
      .scanLeft((0, tokenCols.map(_ => 0L))) { case ((_, acc), (pid, ts)) =>
        (pid, acc.zip(ts).map { case (a, t) => a + t }) }
      .init.zip(subtotals)
      .map { case ((_, off), (pid, _)) => Row.fromSeq(pid +: off) }
    val offSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__pid",
        org.apache.spark.sql.types.IntegerType, nullable = false) +:
      tokenCols.map(c => org.apache.spark.sql.types.StructField(
        s"__off_$c", org.apache.spark.sql.types.LongType, nullable = false)))
    val offsetsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offsets.toSeq, 1), offSchema)
    val win = Window.partitionBy(col("__pid")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sums = parted
      .join(broadcast(offsetsDf), Seq("__pid"))
      .select((col(orderCol) +: tokenCols.map(col)) ++
        tokenCols.map(c =>
          (sum(col(c)).over(win) + col(s"__off_$c") - col(c))
            .as(s"${c}_offset")): _*)
    (sums, tokenCols.indices.map(i => subtotals.map(_._2(i)).sum))
  }

  /** The naive single-window executable spec (one window partition = one
    * task; test-only reference, never the production path). */
  private[graft] def assignShardsNaive(
      docs: DataFrame, tokenCol: String, idCol: String,
      maxTokensPerShard: Long): DataFrame = {
    val win = Window.orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col(idCol), col(tokenCol))
      .withColumn("tok_offset",
        sum(col(tokenCol)).over(win) - col(tokenCol))
      .select(col(idCol), col(tokenCol), col("tok_offset"),
        floor(col("tok_offset") / maxTokensPerShard).as("shard_id"))
  }
}
