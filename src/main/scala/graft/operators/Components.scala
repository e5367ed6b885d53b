package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the clustering step that turns
  * near-duplicate PAIRS (from [[Dedup.minhashLsh]] etc.) into dedup
  * groups with one canonical representative each. Label-propagation on
  * DataFrames: every vertex converges to the minimum id reachable from it.
  *
  * Iterations are driver-controlled but each step is a fully distributed
  * join+aggregate; lineage is truncated per step (localCheckpoint) so the
  * plan doesn't grow with iteration count, and superseded checkpoint
  * generations are freed as each round's action materializes the next
  * ([[CheckpointHygiene]]) — live blocks stay bounded at any round
  * count. Near-dup clusters have tiny diameters, so convergence is
  * typically 2–3 rounds.
  */
object Components {

  /** Count-proven small-graph cap for the driver union-find paths
    * (r21): the [[minimumSpanningForest]] `driverMergeCap` idea applied
    * to the WHOLE clustering call — when the deduped edge list is
    * provably at or below this many rows (an exact count over the
    * already-checkpointed frame, never an estimate), the iterative
    * distributed loop (3–5 Spark jobs per round, O(log n) rounds) is
    * replaced by one collect + driver union-find + one tiny
    * one-partition result frame: bounded model state of ≤ cap edge
    * rows, the broadcast-relation bound class. Above the cap the
    * distributed loop runs unchanged — at 100 TB that is the path that
    * engages; the knob exists so production can retune the boundary
    * (`spark.graft.components.small`, default 2¹⁷ ≈ a few MB of ids). */
  private def smallGraphCap(df: DataFrame): Long =
    df.sparkSession.conf.getOption("spark.graft.components.small")
      .map(_.toLong).getOrElse(1L << 17)

  /** Driver-side `<` matching Catalyst's ordering on atomic types:
    * strings compare as UTF-8 bytes (UTF8String semantics — java
    * String.compareTo is UTF-16 code-unit order, which DIVERGES above
    * the BMP), everything else through Comparable. */
  private def atomLt(a: Any, b: Any): Boolean = (a, b) match {
    case (x: String, y: String) =>
      java.util.Arrays.compareUnsigned(
        x.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        y.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
    case (x: Comparable[_], y) =>
      x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
    case _ => throw new IllegalArgumentException(
      s"unorderable id values: ${a.getClass}")
  }

  /** Small paths only engage for id types whose driver values order
    * exactly like Catalyst's (atomic, non-binary) — every production
    * caller (long / string ids). Anything exotic keeps the distributed
    * loop. */
  private def driverOrderable(dt: org.apache.spark.sql.types.DataType)
      : Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType | StringType |
           DoubleType | FloatType | DateType | TimestampType |
           BooleanType | _: DecimalType => true
      case _ => false
    }
  }

  /** Iterative find with path compression (recursion would risk stack
    * depth on cap-sized chains). */
  private def ufFind(parent: scala.collection.mutable.HashMap[Any, Any],
      x: Any): Any = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent(r)
    var c = x
    while (c != r) { val nxt = parent(c); parent(c) = r; c = nxt }
    r
  }

  /** Union-find over collected edge pairs with MIN-id roots: returns
    * every endpoint mapped to the minimum id reachable from it — the
    * exact contract of both CC variants. */
  private def unionFindMinLabels(rows: Array[org.apache.spark.sql.Row])
      : Iterator[(Any, Any)] = {
    val parent = scala.collection.mutable.HashMap[Any, Any]()
    rows.foreach { r =>
      val (ra, rb) = (ufFind(parent, r.get(0)), ufFind(parent, r.get(1)))
      if (ra != rb) {
        if (atomLt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    val nodes = scala.collection.mutable.LinkedHashSet[Any]()
    rows.foreach { r => nodes += r.get(0); nodes += r.get(1) }
    nodes.iterator.map(n => n -> ufFind(parent, n))
  }

  /** The (id, component) result frame for a driver-resolved labeling:
    * one partition, schema matching the id type. */
  private def labelFrame(spark: org.apache.spark.sql.SparkSession,
      dt: org.apache.spark.sql.types.DataType,
      labels: Iterator[(Any, Any)]): DataFrame =
    // broadcast hint: the frame is count-proven ≤ cap rows, but Spark
    // can't estimate an RDD scan — without the hint downstream joins
    // against it plan sort-merge (q154's label join paid 2 extra
    // exchanges + sorts for a 2k-row driver-built side)
    broadcast(spark.createDataFrame(
      spark.sparkContext.parallelize(
        labels.map { case (n, c) =>
          org.apache.spark.sql.Row(n, c) }.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", dt),
        org.apache.spark.sql.types.StructField("component", dt)))))

  /** @param pairs DataFrame with two id columns (edges, undirected)
    * @return (id, component) — component = min id in the component */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 10): DataFrame = {
    val (edges, edgesCkpt) = CheckpointHygiene.checkpointTracked(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .unionByName(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct())
    // count-adaptive (r21): the loop below costs ~2 jobs per round; a
    // count-proven-small edge list resolves in one collect instead
    val dt = edges.schema("src").dataType
    if (driverOrderable(dt)) {
      // one job; SQL count() adds an aggregate + shuffle (2 jobs). Same below
      val n = edges.queryExecution.toRdd.count()
      if (n <= smallGraphCap(edges)) {
        val rows = edges.collect()
        // null endpoints keep the distributed loop (ADVICE r21): unlike
        // the star/MSF variants this entry point never filters nulls, so
        // the driver union-find would NPE in atomLt where the
        // distributed join silently drops the null-keyed rows — parity
        // means falling through, not crashing
        if (!rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
          CheckpointHygiene.free(edgesCkpt)
          return labelFrame(edges.sparkSession, dt, unionFindMinLabels(rows))
        }
      }
    }
    var (labels, prevCkpt) = CheckpointHygiene.checkpointTracked(
      edges.select(col("src").as("id")).distinct()
        .withColumn("component", col("id")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id"))
        .agg(min(col("component")).as("neighbor_min"))
      // the previous label rides along into the checkpoint so the
      // convergence check is a filter+count over the checkpointed frame —
      // one materializing action per iteration instead of a second
      // join+count against the old labels
      val (updated, ckpt) = CheckpointHygiene.checkpointTracked(
        labels.withColumnRenamed("component", "old")
          .join(neighborMin, Seq("id"), "left")
          .select(col("id"),
            least(col("old"), coalesce(col("neighbor_min"), col("old")))
              .as("component"),
            col("old")))
      val changed = updated.filter(col("component") =!= col("old")).count()
      labels = updated.select(col("id"), col("component"))
      // the count above materialized this round's checkpoint; the
      // previous round's blocks are now unreferenced — free them
      CheckpointHygiene.free(prevCkpt)
      prevCkpt = ckpt
      converged = changed == 0
      iter += 1
    }
    // the final labels read only their own checkpoint; the edge copy is
    // done the moment the loop exits
    CheckpointHygiene.free(edgesCkpt)
    // mid-propagation labels are plausible-looking but WRONG (a node may
    // carry a non-minimum reachable id) — fail fast rather than hand a
    // dedup pipeline a silently split clustering. Long-chain graphs that
    // legitimately need many rounds should use [[connectedComponentsStar]].
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter iterations; " +
        "raise maxIter or use connectedComponentsStar (O(log^2 n) rounds)")
    labels
  }

  /** Connected components by alternating large-star / small-star rounds —
    * converges in O(log² n) rounds versus label propagation's
    * O(component diameter), so it is the variant to use when components
    * can be long chains (linked-record graphs, web graphs) rather than
    * the tiny-diameter clusters near-dup pairs produce. Public algorithm:
    * Kiveris et al., "Connected Components in MapReduce and Beyond"
    * (SoCC'14).
    *
    *   - large-star: every node attaches its LARGER neighbors to the
    *     minimum of its neighborhood (incl. itself);
    *   - small-star: in the smaller←larger orientation, every node and
    *     its smaller neighbors attach to the neighborhood minimum.
    *
    * Both steps are distributed groupBy+join passes over the edge list;
    * each round truncates lineage (localCheckpoint). The fixed point is a
    * star forest rooted at each component's minimum id; same output
    * contract as [[connectedComponents]]. */
  def connectedComponentsStar(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20): DataFrame = {
    var (edges, prevCkpt) = CheckpointHygiene.checkpointTracked(
      pairs.select(
          least(col(aCol), col(bCol)).as("lo"),
          greatest(col(aCol), col(bCol)).as("hi"))
        .filter(col("lo") =!= col("hi")).distinct())
    var nEdges = edges.queryExecution.toRdd.count()
    // count-adaptive (r21): the star rounds below cost ~3 jobs each over
    // O(log² n) rounds; a count-proven-small edge list (the count above
    // exists anyway) resolves in one collect + driver union-find — same
    // min-id contract, bounded by the cap
    val dtStar = edges.schema("lo").dataType
    if (nEdges <= smallGraphCap(edges) && driverOrderable(dtStar)) {
      val rows = edges.collect()
      CheckpointHygiene.free(prevCkpt)
      return labelFrame(edges.sparkSession, dtStar, unionFindMinLabels(rows))
    }
    var converged = nEdges == 0
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star over the symmetric adjacency
      val sym = edges.select(col("lo").as("v"), col("hi").as("u"))
        .unionByName(edges.select(col("hi").as("v"), col("lo").as("u")))
      val mins = sym.groupBy("v").agg(min("u").as("minu"))
        .select(col("v"), least(col("v"), col("minu")).as("m"))
      val large = sym.join(mins, Seq("v"))
        .filter(col("u") > col("v"))
        .select(least(col("u"), col("m")).as("lo"),
          greatest(col("u"), col("m")).as("hi"))
        .filter(col("lo") =!= col("hi")).distinct()
      // small-star on the smaller←larger orientation
      val oriented = large.select(col("hi").as("u"), col("lo").as("v"))
      val sm = oriented.groupBy("u").agg(min("v").as("m"))
      val (next, ckpt) = CheckpointHygiene.checkpointTracked(
        oriented.join(sm, Seq("u"))
          .select(col("v").as("a"), col("m").as("b"))
          .unionByName(sm.select(col("u").as("a"), col("m").as("b")))
          .select(least(col("a"), col("b")).as("lo"),
            greatest(col("a"), col("b")).as("hi"))
          .filter(col("lo") =!= col("hi")).distinct())
      // set equality via counts (both sides distinct):
      // |next| == |edges| == |next ∪ edges|  ⇔  next == edges
      val nNext = next.count()
      converged = nNext == nEdges &&
        next.unionByName(edges).distinct().count() == nEdges
      // both counts above read the old generation; now it's superseded
      CheckpointHygiene.free(prevCkpt)
      prevCkpt = ckpt
      edges = next
      nEdges = nNext
      iter += 1
    }
    // the final labeling below is only valid at the star-forest fixed
    // point (every remaining edge's lo IS the component root) — a
    // mid-convergence edge can point at a non-root, so exhausting the
    // iteration budget must be an error, not a wrong answer
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxIter rounds " +
        "(O(log^2 n) expected); raise maxIter")
    // fixed point is a star forest: hi attaches to its root lo; roots
    // label themselves (min() collapses the duplicate root rows)
    edges.select(col("hi").as("id"), col("lo").as("component"))
      .unionByName(edges.select(col("lo").as("id"), col("lo").as("component")))
      .groupBy("id").agg(min("component").as("component"))
  }

  /** Co-occurrence edge construction: distinct unordered item pairs
    * within each group — the bipartite-projection step that turns
    * (group, item) incidence into an item–item graph (co-order,
    * co-purchase, co-citation; feeds [[triangleCounts]] /
    * [[clusteringCoefficients]] / [[kCore]]).
    *
    * THE scale hazard is the per-group pair product: a group of n items
    * emits C(n,2) pairs, so one megagroup (a hub order, a crawl dump
    * touching every item) quadratically dominates the whole job.
    * `maxGroupSize` is the guard: groups above the cap are dropped
    * before the self-join — the standard projection mitigation, and a
    * semantically defensible one (in a group where everything co-occurs
    * with everything, co-occurrence carries no signal). The group-size
    * pre-aggregation is map-side combined; the pair join is equi-keyed
    * on the group. Pass `Int.MaxValue` to disable the cap. */
  def coOccurrenceEdges(df: DataFrame, groupCol: String, itemCol: String,
      maxGroupSize: Int = 1000): DataFrame = {
    require(maxGroupSize >= 2, "maxGroupSize must be >= 2")
    val inc = df.select(col(groupCol).as("__g"), col(itemCol).as("__i"))
      .distinct()
    val keep = inc.groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxGroupSize)
      .select(col("__g"))
    val capped = inc.join(keep, Seq("__g"), "left_semi")
    capped.as("x").join(capped.as("y"),
        col("x.__g") === col("y.__g") && col("x.__i") < col("y.__i"))
      .select(col("x.__i").as("a"), col("y.__i").as("b"))
      .distinct()
  }

  /** Per-node triangle counts over an undirected edge list — the local
    * clustering / community-density signal (a node's triangle count is
    * the numerator of its clustering coefficient; graph-side quality
    * features for link-heavy corpora).
    *
    * Degree-ordered orientation (the standard distributed-triangle
    * trick): each undirected edge is directed from its lower-(degree, id)
    * endpoint to the higher. Every triangle then has exactly one node
    * with two out-edges into it, so it is enumerated exactly once as a
    * wedge (u→v, u→w) with v below w in the same (degree, id) order,
    * closed by the oriented edge (v→w) — no per-triangle dedup needed.
    * Orientation is what makes this scale: total wedge work is
    * Σ_u outdeg(u)², and directing at the higher-degree endpoint bounds
    * it by O(m^1.5) overall — a celebrity node of degree d collects d
    * IN-edges but only out-edges toward even-higher-degree nodes, so the
    * quadratic blowup a naive neighbor self-join suffers on heavy
    * hitters cannot happen. Both joins are equi-keyed (src; (v, w)) —
    * shuffle hash/merge joins, no cartesian anywhere.
    *
    * @param pairs undirected edges as two id columns (self-loops and
    *              duplicate/reversed pairs tolerated — normalized away)
    * @return (id, n_triangles), nodes participating in ≥1 triangle */
  def triangleCounts(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val und = normalizedEdges(pairs, aCol, bCol)
    val deg = und.select(explode(array(col("lo"), col("hi"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // orient lower-(deg, id) → higher; lo < hi already, so the id
    // tie-break at equal degree keeps lo as the source
    val o = und
      .join(deg.select(col("v").as("lo"), col("deg").as("dlo")), Seq("lo"))
      .join(deg.select(col("v").as("hi"), col("deg").as("dhi")), Seq("hi"))
      .select(
        when(col("dhi") < col("dlo"), col("hi")).otherwise(col("lo")).as("src"),
        when(col("dhi") < col("dlo"), col("lo")).otherwise(col("hi")).as("dst"),
        when(col("dhi") < col("dlo"), col("dlo")).otherwise(col("dhi")).as("ddst"))
    val wedges = o.as("e1").join(o.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.ddst") < col("e2.ddst") ||
            (col("e1.ddst") === col("e2.ddst") &&
              col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"),
        col("e2.dst").as("w"))
    val tris = wedges.join(
      o.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    tris.select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))
  }

  /** Local clustering coefficient per node: 2·T(v) / (deg(v)·(deg(v)−1))
    * — the fraction of a node's neighbor pairs that are themselves
    * connected, over the same normalized edge set as
    * [[triangleCounts]]. Zero-triangle and degree-1 nodes report 0.0 (a
    * single neighbor closes nothing). The coefficient is ONE double
    * division of two exact BIGINTs, so any engine reproduces it
    * bit-exactly (IEEE 754 division is correctly rounded) — what makes
    * the q115 gate a hash compare rather than a tolerance check. */
  def clusteringCoefficients(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val und = normalizedEdges(pairs, aCol, bCol)
    val deg = und.select(explode(array(col("lo"), col("hi"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    deg.join(triangleCounts(pairs, aCol, bCol), Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          (coalesce(col("n_triangles"), lit(0L)) * 2L).cast("double") /
            (col("degree") * (col("degree") - 1L)))
          .otherwise(0.0).as("clustering_coeff"))
  }

  /** k-core decomposition: the maximal subgraph where every node keeps
    * degree ≥ k — the standard "dense cohesive core" extraction
    * (community cores, spam-farm detection, graph sparsification before
    * expensive per-node work). Classic iterative peeling: drop every
    * node of degree < k, recompute degrees (removals cascade), repeat to
    * fixpoint.
    *
    * Each round is one degree aggregation + two semi-joins on the edge
    * list — fully distributed, lineage truncated per round
    * (localCheckpoint, the [[connectedComponents]] discipline). Round
    * count is bounded by the peeling depth (typically a handful; a
    * chain contrived to peel one node per round is the worst case), and
    * exhausting `maxIter` throws — a mid-peel edge set looks plausible
    * but overstates the core. The DuckDB oracle (q118) unrolls MORE
    * rounds than the data needs: peeling at fixpoint is the identity,
    * so over-unrolling is harmless and the gate stays exact without
    * data-dependent round counts.
    *
    * @return (id, core_degree): nodes of the k-core with their degree
    *         inside it (≥ k by construction); empty when no core. */
  def kCore(pairs: DataFrame, aCol: String, bCol: String, k: Int,
      maxIter: Int = 30): DataFrame = {
    require(k >= 1, "k must be positive")
    var (edges, prevCkpt) = CheckpointHygiene.checkpointTracked(
      normalizedEdges(pairs, aCol, bCol))
    var nEdges = edges.count()
    var converged = nEdges == 0
    var iter = 0
    while (!converged && iter < maxIter) {
      val deg = edges.select(explode(array(col("lo"), col("hi"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= k).select(col("id"))
      val (next, ckpt) = CheckpointHygiene.checkpointTracked(edges
        .join(keep.withColumnRenamed("id", "lo"), Seq("lo"), "left_semi")
        .join(keep.withColumnRenamed("id", "hi"), Seq("hi"), "left_semi"))
      val m = next.count()
      // the count materialized this round's peel; the previous edge
      // generation is now unreferenced
      CheckpointHygiene.free(prevCkpt)
      prevCkpt = ckpt
      // no edge removed ⇒ every endpoint had degree ≥ k ⇒ fixpoint
      converged = m == nEdges
      edges = next
      nEdges = m
      iter += 1
      if (nEdges == 0) converged = true
    }
    if (!converged) throw new IllegalStateException(
      s"kCore(k=$k) did not converge in $maxIter peeling rounds; " +
        "raise maxIter")
    edges.select(explode(array(col("lo"), col("hi"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("core_degree"))
  }

  /** Undirected edge normalization shared by the triangle family:
    * (lo, hi) ordered endpoints, self-loops and duplicate/reversed pairs
    * removed. */
  private def normalizedEdges(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame =
    pairs.select(
        least(col(aCol), col(bCol)).as("lo"),
        greatest(col(aCol), col(bCol)).as("hi"))
      .filter(col("lo") =!= col("hi")).distinct()

  /** Multi-source BFS hop distance — the frontier-expansion primitive
    * behind "distance to a trusted set" features (seed-proximity quality
    * signals, crawl-depth labeling, blast-radius queries): every node
    * reachable from any seed within `maxHops` gets the MINIMUM hop count
    * to the nearest seed; unreachable nodes are absent from the output.
    * Edges are DIRECTED (`srcCol` → `dstCol`) — symmetrize before the
    * call for undirected reach, as the q99 graph queries do.
    *
    * Classic distributed frontier BFS: round i joins the current
    * frontier against the edge list and anti-joins the settled set, so
    * per-round cost ∝ frontier out-degree — never the whole graph — and
    * the loop exits early the moment a frontier comes back empty. Each
    * round's settled/frontier pair is checkpoint-tracked and the
    * superseded generation freed once its successor materializes
    * ([[CheckpointHygiene]]; bounded blocks at any depth). The per-round
    * driver traffic is one scalar count — the same budget as every
    * other iteration loop here. Distances are exact (a node is settled
    * in the first round that reaches it = its true BFS level), so the
    * recursive-CTE oracle replays them bit-for-bit.
    *
    * @return (node, hops) — hops in [0, maxHops], seeds at 0 */
  def bfsHopDistance(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be non-negative")
    val (e, eCkpt) = CheckpointHygiene.checkpointTracked(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull).distinct())
    var (settled, prevCkpt) = CheckpointHygiene.checkpointTracked(
      seeds.select(col(seedCol).as("node")).distinct()
        .withColumn("hops", lit(0L)))
    var frontier = settled.select("node")
    var nSettled = settled.count()
    var hop = 0L
    var done = maxHops == 0 || nSettled == 0
    while (!done) {
      hop += 1L
      val next = frontier
        .join(e.withColumnRenamed("src", "node"), Seq("node"))
        .select(col("dst").as("node")).distinct()
        .join(settled, Seq("node"), "left_anti")
      val (grown, ckpt) = CheckpointHygiene.checkpointTracked(
        settled.unionByName(next.withColumn("hops", lit(hop))))
      val grownCount = grown.count()
      val frontierSize = grownCount - nSettled
      CheckpointHygiene.free(prevCkpt)
      prevCkpt = ckpt
      settled = grown
      nSettled = grownCount
      frontier = grown.filter(col("hops") === hop).select("node")
      done = frontierSize == 0 || hop >= maxHops
    }
    CheckpointHygiene.free(eCkpt)
    settled
  }

  /** Synchronous label propagation communities (Raghavan, Albert &
    * Kumara 2007, "Near linear time algorithm to detect community
    * structures in large-scale networks") — the cheap community
    * detector a curation pipeline runs where connected components are
    * too coarse (one bridge edge merges two dense near-dup communities
    * into one component; LPA keeps them apart because labels spread by
    * NEIGHBOR MAJORITY, not reachability).
    *
    * Deterministic by construction, unlike the paper's async
    * random-order form: every node starts labeled with its own id, and
    * each round ALL nodes simultaneously adopt the most frequent label
    * among their neighbors, ties broken by the smallest label — a total
    * order, so the result is a pure function of (edges, iters) and an
    * external engine replays it bit-for-bit (q133 unrolls the rounds).
    * Sync LPA can oscillate between two labelings on bipartite-ish
    * structure (the documented trade-off of determinism); `iters` is a
    * fixed budget, 3–5 suffices for near-dup community shapes —
    * [[labelPropagationConverged]] detects the fixed point / the
    * oscillation and stops paying for provably-repeating rounds.
    *
    * Scale shape: the edge list is symmetrized and checkpointed once;
    * each round is one hash join (edges ⋈ labels on the source), one
    * partial-aggregated count on (dst, label), and one `min_by` argmax
    * per dst — two shuffles per round, both on node-id-sized rows, no
    * window sort. Every node has ≥ 1 neighbor after symmetrization, so
    * no outer join is needed. Labels are node ids of ANY orderable
    * type: the argmax negates the COUNT (always numeric), never the
    * label — the generic-id lesson from mutualBestAssignment.
    *
    * @return (node, label) — nodes sharing a label are one community */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, checkpointInterval: Int = 4): DataFrame =
    lpaCore(edges, srcCol, dstCol, None, iters, checkpointInterval,
      convergeDelta = false)._1

  /** Weighted [[labelPropagation]] (the [[PageRank
    * .weightedPageRankFixedPoint]] relationship applied to LPA): each
    * edge carries a POSITIVE weight and a node adopts the label with
    * the largest NEIGHBOR WEIGHT SUM instead of the largest neighbor
    * count — co-occurrence strength, shipment volume, similarity score
    * buckets. Duplicate (src, dst) rows of the SAME orientation pre-sum
    * into one weighted edge (multiplicity as weight or repeated rows,
    * caller's choice); OPPOSITE orientations of a pair then merge by
    * MAX during symmetrization — the undirected weight of {a, b} is the
    * larger of the two directed weights, NOT their sum (so an
    * already-symmetric input isn't doubled). A directed input carrying
    * a→b:3 and b→a:5 therefore propagates weight 5; pre-sum
    * orientations yourself before calling if total-flow semantics are
    * intended. The argmax tie-break stays (weight-sum DESC, label ASC),
    * exact over BIGINT weights, so q137 replays it bit-for-bit. */
  def weightedLabelPropagation(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, iters: Int,
      checkpointInterval: Int = 4): DataFrame =
    lpaCore(edges, srcCol, dstCol, Some(weightCol), iters,
      checkpointInterval, convergeDelta = false)._1

  /** Converged [[labelPropagation]] — the [[PageRank
    * .pageRankConverged]] early exit applied to LPA: iterate until the
    * labeling's terminal orbit — a fixed point (a round that changes no
    * label) or the period-2 oscillation sync LPA enters on
    * bipartite-ish structure (the q135-diagnosed mode: two labelings
    * alternating forever) — or `maxIters`, whichever first. The
    * returned frame is BIT-IDENTICAL to [[labelPropagation]] at
    * `itersRun`, and to every larger budget of the same parity on a
    * cycle / every larger budget outright on a fixed point — each
    * skipped round is two shuffle stages on a cluster.
    *
    * Cost of the check: each round is eagerly localCheckpointed and the
    * orbit test is ONE pass — a single equi-join of the new labeling
    * against the two previous materialized frames + one scalar row to
    * the driver; live checkpoint storage stays ≤ 3 generations.
    *
    * @return (labels, itersRun) — itersRun counts executed rounds,
    *         including the final round that proved the orbit */
  def labelPropagationConverged(edges: DataFrame, srcCol: String,
      dstCol: String, maxIters: Int): (DataFrame, Int) =
    lpaCore(edges, srcCol, dstCol, None, maxIters,
      checkpointInterval = 1, convergeDelta = true)

  /** Converged [[weightedLabelPropagation]] — see
    * [[labelPropagationConverged]] for the orbit-exit contract. */
  def weightedLabelPropagationConverged(edges: DataFrame, srcCol: String,
      dstCol: String, weightCol: String, maxIters: Int): (DataFrame, Int) =
    lpaCore(edges, srcCol, dstCol, Some(weightCol), maxIters,
      checkpointInterval = 1, convergeDelta = true)

  /** true iff `next` is the same labeling as `prev` (fixed point) or as
    * `prev2` (period-2 orbit) — ONE job: a single equi-join against
    * both prior frames and one min-aggregated scalar row. Both
    * comparands label the identical node set by construction, so inner
    * joins lose nothing; an empty node set is trivially converged
    * (`coalesce` over the empty-agg NULLs). */
  private[operators] def orbitReached(prev: DataFrame, prev2: DataFrame,
      next: DataFrame, keyCol: String, valCol: String): Boolean = {
    val p1 = prev.select(col(keyCol), col(valCol).as("__p1"))
    val base = next.join(p1, Seq(keyCol))
    val both = if (prev2 == null) base.withColumn("__p2", lit(null))
      else base.join(
        prev2.select(col(keyCol), col(valCol).as("__p2")), Seq(keyCol))
    val row = both.agg(
      coalesce(min(col(valCol) === col("__p1")), lit(true)).as("__fix"),
      coalesce(min(col(valCol) <=> col("__p2")), lit(true)).as("__cyc"))
      .head()
    row.getBoolean(0) || row.getBoolean(1)
  }

  private def lpaCore(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String], iters: Int,
      checkpointInterval: Int, convergeDelta: Boolean): (DataFrame, Int) = {
    require(iters >= 0 && checkpointInterval >= 1)
    val e0 = (weightCol match {
      case Some(w) => edges
        .select(col(srcCol).as("src"), col(dstCol).as("dst"),
          col(w).cast("long").as("__w"))
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .groupBy(col("src"), col("dst")).agg(sum(col("__w")).as("__w"))
      case None => edges
        .select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .filter(col("src").isNotNull && col("dst").isNotNull)
        .distinct().withColumn("__w", lit(1L))
      // materialized once (r22): both union branches of `sym` read e0,
      // so without the pin the caller's edge-prep subplan (often a
      // corpus-scale join) executes twice into the sym aggregation
    })
    val (e0C, e0Ckpt) = CheckpointHygiene.checkpointTracked(e0)
    // symmetrize with weights; opposite orientations of the same pair
    // merge their weights so an already-symmetric input isn't doubled
    val (sym, symCkpt) = CheckpointHygiene.checkpointTracked(
      e0C.unionByName(e0C.select(col("dst").as("src"),
          col("src").as("dst"), col("__w")))
        .groupBy(col("src"), col("dst")).agg(max(col("__w")).as("__w")))
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    var prev2: DataFrame = null
    var prevCkpt: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    var prevPrevCkpt: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    var i = 0
    var converged = false
    while (i < iters && !converged) {
      val next = sym
        .join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node"), col("label"))
        .agg(sum(col("__w")).as("__c"))
        .groupBy(col("node"))
        .agg(min_by(col("label"),
          struct((-col("__c")).as("__nc"), col("label").as("__tl")))
          .as("label"))
      if (convergeDelta) {
        // converged mode: materialize every round and exit when it
        // reproduces the previous labeling (fixed point) or the one
        // before it (period-2 oscillation) — one join+scalar action
        // against two already-materialized frames
        val (ck, ckpt) = CheckpointHygiene.checkpointTracked(next,
          eager = true)
        converged = orbitReached(labels, prev2, ck, "node", "label")
        CheckpointHygiene.free(prevPrevCkpt)
        prevPrevCkpt = prevCkpt
        prevCkpt = ckpt
        prev2 = labels
        labels = ck
      } else {
        labels = if ((i + 1) % checkpointInterval == 0 && i < iters - 1) {
          val (ck, ckpt) = CheckpointHygiene.checkpointTracked(next,
            eager = true)
          CheckpointHygiene.free(prevCkpt)
          prevCkpt = ckpt
          ck
        } else next
      }
      i += 1
    }
    // exit hygiene — the [[PageRank.weightedCore]] convention: once the
    // result is (or becomes) a materialized checkpoint, the e0/sym pins
    // and superseded generations free on the spot; shallow runs return
    // the live plan, whose pins the ContextCleaner reclaims with it
    if (convergeDelta) {
      CheckpointHygiene.free(prevPrevCkpt)
      if (i >= 1) { CheckpointHygiene.free(e0Ckpt)
        CheckpointHygiene.free(symCkpt) }
      (labels, i)
    } else if (prevCkpt.nonEmpty) {
      val (out, _) = CheckpointHygiene.checkpointTracked(labels,
        eager = true)
      CheckpointHygiene.free(prevCkpt)
      CheckpointHygiene.free(e0Ckpt)
      CheckpointHygiene.free(symCkpt)
      (out, i)
    } else (labels, i)
  }

  /** Newman modularity of a community labeling (Newman & Girvan 2004,
    * "Finding and evaluating community structure in networks") — grade
    * a community assignment (e.g. [[labelPropagation]]'s) BEFORE acting
    * on it, the same evaluate-first discipline as
    * [[Linkage.evaluateBlocking]]:
    *
    *   Q = Σ_c [ L_c/m − (D_c/2m)² ]
    *     = Σ_c (4·m·L_c − D_c²) / (4m²)
    *
    * with m undirected edges, L_c intra-community edges, D_c the
    * community's degree sum. The numerator is an exact BIGINT sum and
    * the result ONE double division of exact integers (the q116/q124
    * convention — engine-exact, replayed by q135). Self-loops are
    * dropped (the simple-graph formulation); edges are symmetrized and
    * deduplicated, each undirected edge counted once. 4m² must fit
    * BIGINT ⇒ m ≤ ~1.5·10⁹ edges; past that, compute per-community
    * terms and divide at higher precision downstream.
    *
    * Scale shape: two hash joins of the undirected edge list on its
    * endpoints' labels + three partial-aggregated groupBys; ONE row
    * out. Nodes absent from `labels` drop out of both L_c and D_c
    * (grade the labeling you have); an empty graph yields modularity
    * 0.0.
    *
    * @return one row (n_communities, m_edges, modularity) */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String, labelCol: String): DataFrame = {
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
    val sym = e0.unionByName(
      e0.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    val und = sym.filter(col("src") < col("dst"))
    val lab = labels.select(col(nodeCol).as("node"),
      col(labelCol).as("label"))
    val mF = und.agg(count(lit(1)).as("m")) // ONE row
    val lc = und
      .join(lab.select(col("node").as("src"), col("label").as("__la")),
        Seq("src"))
      .join(lab.select(col("node").as("dst"), col("label").as("__lb")),
        Seq("dst"))
      .filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("label"))
      .agg(count(lit(1)).as("l_c"))
    val dc = sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("__d"))
      .join(lab, Seq("node"))
      .groupBy(col("label"))
      .agg(sum(col("__d")).as("d_c"))
    dc.join(lc, Seq("label"), "left")
      .select(col("label"), coalesce(col("l_c"), lit(0L)).as("l_c"),
        col("d_c"))
      .crossJoin(broadcast(mF))
      .agg(count(lit(1)).cast("long").as("n_communities"),
        coalesce(max(col("m")), lit(0L)).as("m_edges"),
        coalesce(
          when(max(col("m")) === 0L, lit(0.0)).otherwise(
            sum(expr("4 * m * l_c - d_c * d_c")).cast("double") /
              (lit(4L) * max(col("m")) * max(col("m"))).cast("double")),
          lit(0.0)).as("modularity"))
  }

  /** Rand index between two labelings of the same node set (Rand 1971,
    * "Objective criteria for the evaluation of clustering methods") —
    * the pair-counting agreement measure: over all C(n,2) node pairs,
    * the fraction on which the labelings AGREE (both co-cluster the
    * pair, or both separate it). The clustering-comparison companion
    * to [[modularity]]'s quality score: modularity grades ONE labeling
    * against the graph, the Rand index grades two labelings against
    * each other (LPA vs components, today's run vs yesterday's,
    * algorithm vs ground truth).
    *
    * Everything is exact BIGINT pair counting — a = Σ_cells C(n_ij,2)
    * co-co pairs, the marginals give the co-separated count d by
    * subtraction — and the index is ONE double division of exact
    * integers (the q116/q124/q135 convention, replayed by q140).
    * n·(n−1)/2 fits BIGINT to n ≈ 4.3·10⁹ nodes. Nodes present in
    * only one labeling drop out (inner join — grade the common
    * support).
    *
    * Scale shape: one hash join on the node id + three partial
    * aggregations (cells, two marginals — each bounded by the label
    * cardinality) + scalar combination in ONE output row; nothing
    * driver-side beyond the final literals.
    *
    * @return one row: (n_nodes, agree_both, agree_neither, n_pairs,
    *         rand_index) */
  def randIndex(labelsA: DataFrame, nodeColA: String, labelColA: String,
      labelsB: DataFrame, nodeColB: String, labelColB: String): DataFrame = {
    val joined = labelsA
      .select(col(nodeColA).as("node"), col(labelColA).as("__la"))
      .join(labelsB
        .select(col(nodeColB).as("node"), col(labelColB).as("__lb")),
        Seq("node"))
    val cells = joined.groupBy(col("__la"), col("__lb"))
      .agg(count(lit(1)).as("__m"))
    // C(c,2) in exact integers: c(c−1) is even, so DIV is lossless —
    // a double `/` would round past 2^53
    def pairs(name: String): Column = expr(s"($name * ($name - 1)) DIV 2")
    // coalesce: aggregates over an EMPTY common support yield NULL, and
    // the zero-pair case must land in the defined-1.0 branch below
    val aF = cells.agg(coalesce(sum(pairs("__m")), lit(0L)).as("a"),
      coalesce(sum(col("__m")), lit(0L)).as("n"))
    val rowsA = cells.groupBy(col("__la"))
      .agg(sum(col("__m")).as("__ra"))
      .agg(coalesce(sum(pairs("__ra")), lit(0L)).as("sa"))
    val rowsB = cells.groupBy(col("__lb"))
      .agg(sum(col("__m")).as("__rb"))
      .agg(coalesce(sum(pairs("__rb")), lit(0L)).as("sb"))
    aF.crossJoin(broadcast(rowsA)).crossJoin(broadcast(rowsB))
      .select(col("n").as("n_nodes"), col("a").as("agree_both"),
        (pairs("n") - col("sa") - col("sb") + col("a"))
          .as("agree_neither"),
        pairs("n").as("n_pairs"),
        when(pairs("n") === 0L, lit(1.0)).otherwise(
          (col("a") + (pairs("n") - col("sa") - col("sb") + col("a")))
            .cast("double") / pairs("n").cast("double"))
          .as("rand_index"))
  }

  /** Minimum spanning forest by distributed Borůvka (Borůvka 1926; the
    * textbook parallel MST — e.g. JáJá §5.2): every round each
    * component selects its minimum-order outgoing edge, selected edges
    * join the forest, components merge, repeat until no component has
    * an outgoing edge. Components at least halve per round, so rounds
    * ≤ log₂ V. The MSF is what turns near-dup SIMILARITY pairs into a
    * single-linkage dendrogram: cutting the forest at weight t gives
    * the exact t-threshold clustering for EVERY t in one structure —
    * the threshold sweep ([[connectedComponents]] per t) without
    * re-running anything.
    *
    * Determinism under ties: edges are ordered by the TOTAL order
    * (w, lo, hi) — parallel edges pre-collapse to their min weight, so
    * the order is strict, each component's minimum edge is unique, and
    * the classic cycle argument holds (the max-ordered edge of any
    * would-be cycle is no component's minimum) — the result is THE
    * unique MSF of the perturbed weights, identical for any engine
    * replaying the same order (the q148 DuckDB twin) and any partition
    * count. Weights are BIGINT by contract (cast enforced): integer
    * weights keep the order exact; quantize doubles first (the q83
    * convention).
    *
    * Scale shape per round: two hash joins of the edge list against
    * the (node, comp) labeling + a `min_by` partial-aggregated argmax
    * per component (never a window over edges) + a star-CC
    * ([[connectedComponentsStar]], O(log²) its own rounds) over THIS
    * ROUND'S COMPONENT-LEVEL merge graph — ≤ one edge per surviving
    * component, shrinking geometrically, never the accumulated forest
    * (contracting at the component level is what keeps late rounds
    * from re-resolving every path built so far). The forest append is
    * a bare union: a chosen edge always crosses two components, so it
    * can never duplicate a forest edge. Checkpoint hygiene bounds live
    * generations (forest + labels) per round; the empty-choice exit
    * costs one `isEmpty` scalar.
    *
    * Self-loops and NULL endpoints/weights drop up front. Isolated
    * nodes (no surviving edge) have no forest row — a forest is edges;
    * pair it with the caller's node universe for cluster assignment
    * (the [[dedupAssignments]] coalesce pattern).
    *
    * @return (id_a, id_b, weight), id_a < id_b — the MSF edge list */
  /** Past this many merges in a Borůvka round, component contraction
    * stays fully distributed; at or below it, the round's merge graph
    * is union-found on the driver (≤ 2·cap rows of model state — the
    * Packing-subtotal bound) and broadcast back. */
  private[operators] val driverMergeCap = 4096L

  /** `maxRounds` default: Borůvka halves (at least) the component
    * count per round, so 64 covers any graph a 64-bit id space can
    * hold (2⁶⁴ initial components); converged loops exit on the first
    * empty choice, so the generous budget costs nothing — it exists
    * only so a non-converging bug fails loudly instead of looping
    * (ADVICE r12: the old 20 capped legitimate graphs at ~2²⁰
    * components). */
  def minimumSpanningForest(edges: DataFrame, aCol: String, bCol: String,
      wCol: String, maxRounds: Int = 64): DataFrame = {
    require(maxRounds >= 1, "give Borůvka at least one round")
    val (e0, e0Ckpt) = CheckpointHygiene.checkpointTracked(
      edges.select(least(col(aCol), col(bCol)).as("lo"),
          greatest(col(aCol), col(bCol)).as("hi"),
          col(wCol).cast("long").as("w"))
        .filter(col("lo").isNotNull && col("hi").isNotNull &&
          col("w").isNotNull && col("lo") =!= col("hi"))
        .groupBy("lo", "hi").agg(min("w").as("w")), eager = true)
    // count-adaptive (r21): Borůvka costs ~4 jobs per round over
    // O(log n) rounds; a count-proven-small edge list yields THE unique
    // forest by driver Kruskal instead. The (w, lo, hi) triple is a
    // total order over the deduped edges (lo,hi unique after the
    // groupBy), so the MSF is unique and Borůvka-with-min_by(w,lo,hi)
    // and Kruskal-sorted-by-(w,lo,hi) return the SAME edge set — the
    // equivalence ComponentsSpec's Kruskal-reference test has pinned
    // since r12, now spanning both paths.
    val dtMsf = e0.schema("lo").dataType
    if (driverOrderable(dtMsf)) {
      val nE0 = e0.queryExecution.toRdd.count()
      if (nE0 <= smallGraphCap(e0)) {
        val rows = e0.collect().sortWith { (x, y) =>
          val (wx, wy) = (x.getLong(2), y.getLong(2))
          if (wx != wy) wx < wy
          else if (x.get(0) != y.get(0)) atomLt(x.get(0), y.get(0))
          else atomLt(x.get(1), y.get(1))
        }
        val parent = scala.collection.mutable.HashMap[Any, Any]()
        val kept = rows.filter { r =>
          val (ra, rb) = (ufFind(parent, r.get(0)), ufFind(parent, r.get(1)))
          if (ra == rb) false else { parent(ra) = rb; true }
        }
        CheckpointHygiene.free(e0Ckpt)
        val spark = e0.sparkSession
        return spark.createDataFrame(
          spark.sparkContext.parallelize(kept.toSeq, 1),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id_a", dtMsf),
            org.apache.spark.sql.types.StructField("id_b", dtMsf),
            org.apache.spark.sql.types.StructField("weight",
              org.apache.spark.sql.types.LongType))))
      }
    }
    val (nodes, nodesCkpt) = CheckpointHygiene.checkpointTracked(
      e0.select(col("lo").as("node"))
        .unionByName(e0.select(col("hi").as("node"))).distinct(),
      eager = true)
    var forest = e0.filter(lit(false)) // empty (lo, hi, w)
    var labels = nodes.withColumn("comp", col("node"))
    var forestCkpt: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    var labelsCkpt: Seq[org.apache.spark.rdd.RDD[_]] = Nil
    var done = false
    var round = 0
    while (!done && round < maxRounds) {
      val cross = e0
        .join(labels.select(col("node").as("lo"), col("comp").as("__ca")),
          Seq("lo"))
        .join(labels.select(col("node").as("hi"), col("comp").as("__cb")),
          Seq("hi"))
        .filter(col("__ca") =!= col("__cb"))
      // each component's minimum edge, with its COMPONENT pair riding
      // along — the contraction happens at the component level below
      val chosen = cross
        .select(col("__ca").as("__comp"), col("w"), col("lo"), col("hi"),
          col("__ca"), col("__cb"))
        .unionByName(cross.select(col("__cb").as("__comp"), col("w"),
          col("lo"), col("hi"), col("__ca"), col("__cb")))
        .groupBy(col("__comp"))
        .agg(min_by(struct(col("lo"), col("hi"), col("w"),
            col("__ca"), col("__cb")),
          struct(col("w"), col("lo"), col("hi"))).as("e"))
        .select(col("e.lo").as("lo"), col("e.hi").as("hi"),
          col("e.w").as("w"), col("e.__ca").as("__ca"),
          col("e.__cb").as("__cb"))
        .distinct()
      // read thrice (count, forest append, merge graph) → materialize
      val (chosenM, chCkpt) = CheckpointHygiene.checkpointTracked(
        chosen, eager = true)
      val nChosen = chosenM.count()
      if (nChosen == 0) {
        CheckpointHygiene.free(chCkpt)
        done = true
      } else {
        // a chosen edge always CROSSES components, so it can never
        // duplicate a forest edge — bare union, no distinct shuffle
        val (nextForest, fc) = CheckpointHygiene.checkpointTracked(
          forest.unionByName(chosenM.select("lo", "hi", "w")), eager = true)
        // contract the COMPONENT-level merge graph (<= 1 edge per
        // surviving component — geometrically shrinking), then map old
        // component labels through, never re-resolving the full forest.
        // Merge counts shrink geometrically, so most rounds fit the
        // driver cap: a union-find over <= driverMergeCap comp pairs
        // (bounded model state, the Packing-subtotal convention)
        // replaces a whole star-CC sub-loop of Spark jobs — late
        // Borůvka rounds are scheduling-bound, not data-bound. Rounds
        // above the cap (the early ones on a big graph) stay fully
        // distributed.
        val merged: DataFrame =
          if (nChosen <= driverMergeCap) {
            val mergeRows = chosenM.select(col("__ca"), col("__cb"))
              .collect()
            val parent = scala.collection.mutable.HashMap[Any, Any]()
            def find(x: Any): Any = {
              val p = parent.getOrElse(x, x)
              if (p == x) x
              else { val r = find(p); parent(x) = r; r }
            }
            mergeRows.foreach { r =>
              val (ra, rb) = (find(r.get(0)), find(r.get(1)))
              if (ra != rb) parent(ra) = rb
            }
            val touched = mergeRows
              .flatMap(r => Seq(r.get(0), r.get(1))).distinct
            val dt = chosenM.schema("__ca").dataType
            val spark = chosenM.sparkSession
            // <= 2·cap rows: broadcast is safe by construction here —
            // the distributed branch below must NOT broadcast (its
            // merge map is component-proportional)
            broadcast(spark.createDataFrame(
              spark.sparkContext.parallelize(
                touched.map(c =>
                  org.apache.spark.sql.Row(c, find(c))).toSeq, 1),
              org.apache.spark.sql.types.StructType(Seq(
                org.apache.spark.sql.types.StructField("comp", dt),
                org.apache.spark.sql.types.StructField("component", dt)))))
          } else connectedComponentsStar(
            chosenM.select(col("__ca"), col("__cb")), "__ca", "__cb")
            .withColumnRenamed("id", "comp")
        val (nextLabels, lc) = CheckpointHygiene.checkpointTracked(
          labels.join(merged, Seq("comp"), "left")
            .select(col("node"),
              coalesce(col("component"), col("comp")).as("comp")),
          eager = true)
        CheckpointHygiene.free(chCkpt)
        CheckpointHygiene.free(forestCkpt)
        CheckpointHygiene.free(labelsCkpt)
        forest = nextForest; forestCkpt = fc
        labels = nextLabels; labelsCkpt = lc
        round += 1
      }
    }
    if (!done) throw new IllegalStateException(
      s"minimumSpanningForest did not converge in $maxRounds rounds " +
        "(<= log2 V expected); raise maxRounds")
    // the returned forest is its own checkpoint once a round ran; at
    // round 0 it still aliases e0's blocks, which must then stay live
    if (round > 0) {
      CheckpointHygiene.free(e0Ckpt)
      CheckpointHygiene.free(nodesCkpt)
      CheckpointHygiene.free(labelsCkpt)
    }
    forest.select(col("lo").as("id_a"), col("hi").as("id_b"),
      col("w").as("weight"))
  }

  /** Dedup keep-list from near-dup pairs over a corpus: every id mapped to
    * its canonical representative (component minimum); ids with no dup
    * pair map to themselves. */
  def dedupAssignments(
      corpus: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 10): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol, maxIter)
    corpus.select(col(idCol).as("id"))
      .join(comps, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("keep_id"))
  }

  /** Duplicate-aware downweighting — soft dedup: instead of DROPPING
    * near-duplicates ([[dedupAssignments]] + keep-one), every document
    * keeps a fixed-point weight floor(quant / cluster_size), so each
    * duplicated content unit contributes exactly one document's mass
    * to the training mix (the reweight-not-remove alternative the
    * SoftDeDup line of work argues for: frequency signal preserved,
    * over-representation removed). Singletons weigh `quant`.
    *
    * Scale shape: the CC iteration over the (sparse) near-dup pair
    * list, then ONE cluster-keyed count + join — weights are a
    * map-side projection after that; nothing corpus-quadratic.
    *
    * @return (doc_id, cluster_id, cluster_size, weight_q) — one row
    *         per corpus document */
  def softDedupWeights(
      corpus: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      quant: Long = 1000000L, maxIter: Int = 10): DataFrame = {
    require(quant > 0, "quant must be positive")
    val assign = dedupAssignments(corpus, idCol, pairs, aCol, bCol,
        maxIter)
      .select(col("id").as("doc_id"), col("keep_id").as("cluster_id"))
    val sizes = assign.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    assign.join(sizes, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        expr(s"${quant}L div cluster_size").as("weight_q"))
  }

  /** Degree assortativity (Newman 2002, PRL, "Assortative mixing in
    * networks"): the Pearson correlation of endpoint degrees over the
    * SYMMETRIZED edge list — positive means hubs attach to hubs
    * (social-style graphs), negative means hubs attach to leaves
    * (hub-and-spoke / infrastructure). For a curation pipeline this is
    * the one-number structure check on similarity/co-occurrence graphs:
    * a dedup graph that suddenly turns strongly assortative usually
    * means a template flooded the corpus and is wiring heavy nodes
    * together.
    *
    * All moments are exact BIGINT sums over directed (symmetrized)
    * edges — with symmetrization Σx = Σy and Σx² = Σy², so the Pearson
    * form reduces to r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²), one
    * identically-shaped double chain both engines share (q179).
    * Degenerate graphs (regular: zero degree variance) return NULL.
    *
    * Scale shape: one degree agg + two hash joins of the edge list
    * against the (node, degree) table + one single-row reduce — all
    * partial-aggregated; nothing beyond the edge list shuffles. */
  def degreeAssortativity(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val sym = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("d"))
    sym
      .join(deg, Seq("src"))
      .join(deg.select(col("src").as("dst"), col("d").as("d2")), Seq("dst"))
      .agg(count(lit(1)).as("m"),
        sum(col("d")).as("sum_x"),
        sum(col("d") * col("d2")).as("sum_xy"),
        sum(col("d") * col("d")).as("sum_x2"))
      .select(col("m"), col("sum_x"), col("sum_xy"), col("sum_x2"),
        try_divide(
          col("m").cast("double") * col("sum_xy").cast("double") -
            col("sum_x").cast("double") * col("sum_x").cast("double"),
          col("m").cast("double") * col("sum_x2").cast("double") -
            col("sum_x").cast("double") * col("sum_x").cast("double"))
          .as("assortativity"))
  }
}
