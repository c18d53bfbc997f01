package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Graph algorithm library — the reference's `example_apps/` and
  * `toolkits/graph_analytics/` programs (SURVEY.md §2.10), re-expressed as
  * declarative DataFrame iteration. Each takes an edge DataFrame
  * (`src`, `dst` [, props]) and returns a result DataFrame.
  */
object Algorithms {

  /** PageRank, fixed iterations, damping 0.85 — the reference's
    * `example_apps/pagerank.cpp:73-113` (pr = 0.15 + 0.85·Σ in-values,
    * in-value = neighbor pr / outdeg), as a dense [[Pregel]] program.
    * The update reads only the merged message, so the kernel carries
    * ranks only for vertices that receive mass; the rest sit at the
    * reset floor. Dangling-vertex mass follows the reference (it is
    * dropped, not redistributed — GraphChi vertices with no out-edges
    * simply emit nothing). `iterations` = 0 returns the uniform init.
    */
  def pageRank(edges: DataFrame, iterations: Int = 4,
               resetProb: Double = 0.15): DataFrame = {
    val e = edges.select("src", "dst")
    Pregel.run(Pregel.endpoints(e), e,
      initial = Map("pr" -> lit(1.0)),
      sendMsg = lit(1.0) / col("src_outdeg") * col("src_pr"),
      aggMsg = sum(col("msg")),
      update = Map("pr" -> (lit(resetProb) + lit(1 - resetProb) * coalesce(col("msg"), lit(0.0)))),
      maxIter = iterations)
  }

  /** Connected components by min-label flooding to a fixpoint — the
    * reference's `example_apps/connectedcomponents.cpp:79-138`. A
    * selective [[Pregel]] program (only changed vertices send) that
    * converges when no label changes, mirroring the reference's
    * scheduler-driven termination (`graphchi_engine.hpp:802-810`).
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame =
    connectedComponentsWithDeltaLog(edges, maxIter)._1

  /** Connected components plus the reference's per-iteration delta log
    * (`src/engine/graphchi_engine.hpp:593-599`: iter, nupdates, work) —
    * here (iter, nupdates) with nupdates = labels changed that round,
    * one row per round that changed a label.
    */
  def connectedComponentsWithDeltaLog(edges: DataFrame,
                                      maxIter: Int = 50): (DataFrame, DataFrame) = {
    val fwd = edges.select("src", "dst")
    val (comp, counts) = Pregel.runCounted(Pregel.endpoints(fwd), undirected(fwd),
      initial = Map("component" -> col("id")),
      sendMsg = col("src_component"),
      aggMsg = min(col("msg")),
      update = Map("component" -> least(col("component"), col("msg"))),
      maxIter = maxIter, activeOnly = true)
    (comp, edges.sparkSession.createDataFrame(counts.filter(_ > 0).zipWithIndex
      .map { case (n, i) => (i + 1, n) }).toDF("iter", "nupdates"))
  }

  /** Both directions of every edge. */
  private def undirected(fwd: DataFrame): DataFrame =
    fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))

  /** Community detection by label propagation (most-frequent neighbor
    * label, larger label wins ties) — the reference's
    * `example_apps/communitydetection.cpp:100-171` (tie-break `:150-153`).
    * Synchronous variant; fixed iteration budget like the reference's
    * default.
    */
  def labelPropagation(edges: DataFrame, iterations: Int = 5): DataFrame = {
    val sym = undirected(edges.select("src", "dst")).distinct()
    Pregel.run(Pregel.endpoints(sym), sym,
      initial = Map("label" -> col("id")),
      sendMsg = col("src_label"),
      // mode breaks ties to the smallest value; over bitwise-not labels
      // (order-reversing, no overflow) ties go to the larger label
      aggMsg = bitwise_not(mode(bitwise_not(col("msg")), deterministic = true)),
      // every vertex of the symmetrized graph hears from its neighbors
      update = Map("label" -> col("msg")),
      maxIter = iterations)
  }

  /** k-core decomposition by iterative peeling for a given k — the
    * reference's `toolkits/graph_analytics/kcores.cpp:81-142` (peel:
    * deactivate vertices with active-degree < k until stable). Returns
    * vertices that survive in the k-core.
    */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    val fwd = edges.select("src", "dst").filter(col("src") =!= col("dst"))
    // r16 (guide §2 job cadence): every peel's edge count — the
    // stability test — is harvested from the checkpoint materialization
    // instead of a separate count() action re-scanning the blocks.
    var (sym, prevEdges) = graft.graph.Iterate.ckptN(undirected(fwd).distinct())
    var stable = false
    var iter = 0
    while (!stable && iter < maxIter) {
      val deg = sym.groupBy("src").agg(count(lit(1)).as("d"))
      val keep = deg.filter(col("d") >= k).select(col("src").as("kid"))
      val (pruned, n) = graft.graph.Iterate.ckptN(
        sym
          .join(keep, sym("src") === keep("kid"), "left_semi")
          .join(keep.withColumnRenamed("kid", "kid2"), sym("dst") === col("kid2"), "left_semi"))
      if (n == prevEdges) stable = true
      prevEdges = n
      sym = pruned
      iter += 1
    }
    sym.select(col("src").as("id")).distinct()
  }

  /** Per-vertex core number — the full decomposition the reference's
    * `toolkits/graph_analytics/kcores.cpp:81-142,208-223` emits: each
    * vertex's `kcore` is the peel round (the k) at which it was removed,
    * which equals the standard coreness (v is removed in round k iff it
    * belongs to the k-core but not the (k+1)-core).
    *
    * Spark shape: instead of mirroring the reference's nested
    * peel-to-fixpoint-per-k driver loop (data-dependent round count,
    * each round touching the shrinking remainder), this runs the
    * h-index fixpoint [Lü et al., Nature Communications 7:10168 (2016)]:
    * start from degree, repeatedly replace each label with the H-index
    * of its neighbors' labels; the fixpoint is exactly the coreness.
    * Every superstep is one uniform join + window-aggregate over the
    * full edge set — no shrinking actives needed, extra supersteps past
    * convergence are no-ops, and the round count is small in practice
    * (monotone non-increasing labels bounded below by coreness).
    * Vertices are those incident to ≥1 edge (as in the reference, where
    * the vertex set comes from the edge file).
    */
  def coreness(edges: DataFrame, iterations: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fwd = edges.select("src", "dst").filter(col("src") =!= col("dst"))
    val sym = undirected(fwd).distinct().repartition(col("dst"))
      .transform(graft.graph.Iterate.ckpt)
    // r16 (guide §2 job cadence): the initial label sum rides the same
    // checkpoint job; each round's convergence test compares label sums
    // (see below) instead of running a separate moved-count action.
    var (lab, labSum) = graft.graph.Iterate.ckptSum(
      sym.groupBy("src").agg(count(lit(1)).as("c"))
        .select(col("src").as("id"), col("c")),
      "c")
    // `iterations` is a cap, not an unroll: each round checks whether any
    // label moved and stops at the fixpoint (labels are monotone
    // non-increasing, so once a round is a no-op every later round is
    // too — a capped run that converges early is bit-identical to the
    // full unroll). Hitting the cap unconverged means the result is a
    // (valid upper-bound) approximation; callers needing certainty raise
    // the cap.
    var it = 0
    var converged = false
    while (it < iterations && !converged) {
      // H-index of the neighbor multiset: sort labels desc, take
      // max(min(label, position)) — h neighbors with label ≥ h.
      val nbr = sym.join(lab.select(col("id").as("dst"), col("c").as("nc")), "dst")
        .select(col("src"), col("nc"))
      // r16 (guide §2.3 aggregate before you shuffle): the h-index needs
      // only the per-(src, nc) multiplicity, not every neighbor row —
      // pre-aggregate counts (map-side partials collapse duplicate
      // labels) and run the per-src window over DISTINCT labels. With
      // labels sorted desc and cum = Σ counts so far (= #neighbors with
      // label ≥ nc), max(min(nc, row_number)) over all rows equals
      // max(min(nc, cum)) over distinct labels: within one equal-label
      // run min(nc, rn) is maximal at the run's last row, where rn = cum.
      // Exact same h, smaller sort, no window ties (keys distinct).
      val hist = nbr.groupBy("src", "nc").agg(count(lit(1)).as("m"))
      val w = Window.partitionBy("src").orderBy(desc("nc"))
        .rowsBetween(Window.unboundedPreceding, 0)
      // Convergence folded into the round's ONE materializing job (r16,
      // guide §2 job cadence; supersedes the r9 shape, which still ran a
      // separate moved-count aggregate per round and joined the previous
      // labels just to compute `moved`): labels are monotone
      // non-increasing under the h-index operator (H(f) ≤ f pointwise
      // when f started at degree, and H is monotone — the same property
      // the early-stop equivalence argument above already relies on),
      // so "no label moved" ⟺ "Σc is unchanged" — exact long arithmetic,
      // no increase can mask a decrease. The sum rides the checkpoint
      // via Dataset.observe: one job per round, no prev-join, and the
      // materialized rows shrink to (id, c).
      val (staged, newSum) = graft.graph.Iterate.ckptSum(
        hist.withColumn("cum", sum("m").over(w))
          .groupBy("src").agg(max(least(col("nc"), col("cum"))).as("c"))
          .select(col("src").as("id"), col("c")),
        "c")
      converged = newSum == labSum
      labSum = newSum
      lab = staged
      it += 1
    }
    lab
  }

  /** Triangle count per vertex and the degree-ordering pre-pass — the
    * reference's `example_apps/trianglecounting.cpp:282-427` with
    * `order_by_degree` relabeling
    * (`src/preprocessing/util/orderbydegree.hpp:59`). The classic
    * Spark-first formulation: canonicalize each undirected edge so it
    * points from the lower-degree endpoint to the higher ("degree
    * ordering" — bounds the self-join the same way the reference's
    * relabeling bounds pivot memory), then count wedge closures with one
    * self-join + one semi-join against the edge set.
    */
  /** Shared triangle pre-pass: canonicalize/dedup the undirected edge
    * set, degree-order relabel, and enumerate closed wedges. Returns
    * (closed wedges `(u, x, y)` — one row per triangle — and the
    * newid→id mapping for callers that need original ids).
    */
  /** Shared triangle prep: degree-ordered orientation + per-edge sorted
    * out-adjacency pair — the reference's order_by_degree pre-pass +
    * pivot-scan layout (`examples/trianglecounting.cpp:134-161`), not
    * the wedge self-join: a wedge join materializes Σ_u d_out(u)² rows
    * through a shuffle (≈8·|E| even on a 16-regular graph, quadratic on
    * hubs), while the adjacency form moves each edge once per side
    * (2 shuffles of 8-byte pairs) and intersects sorted arrays inside
    * codegen ([[graft.functions.SortedIntersect]], O(d_u + d_v) per
    * edge). Degree-ordered orientation bounds out-degree by ~2·√|E|
    * (standard orientation bound), so the collected neighbor arrays
    * stay KBs even on hub-skewed graphs — the property that makes
    * `collect_list` safe here when it is banned elsewhere.
    */
  private def triangleEdgeAdj(edges: DataFrame): (DataFrame, DataFrame) = {
    val und = edges.select("src", "dst").filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("src"),
              greatest(col("src"), col("dst")).as("dst"))
      .distinct()
      .transform(graft.graph.Iterate.ckpt)
    // Degree-order relabel: after it, ascending new-id == ascending
    // degree, so orientation is a plain id comparison and every
    // triangle u<v<w is found exactly once, at edge (u, v).
    val (relabeled, mapping) = Generators.orderByDegree(und)
    val oriented = relabeled.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .transform(graft.graph.Iterate.ckpt)
    val adj = oriented.groupBy(col("u").as("w"))
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
      .transform(graft.graph.Iterate.ckpt)
    val emptyNbrs = array().cast("array<bigint>")
    val withAdj = oriented
      .join(adj.select(col("w").as("u"), col("nbrs").as("nu")), "u")
      .join(adj.select(col("w").as("v"), col("nbrs").as("nv")),
        Seq("v"), "left")
      .select(col("u"), col("v"), col("nu"),
        coalesce(col("nv"), emptyNbrs).as("nv"))
    (withAdj, mapping)
  }

  def triangleCounts(edges: DataFrame): DataFrame = {
    val (withAdj, mapping) = triangleEdgeAdj(edges)
    // Edge (u,v) closes one triangle per common out-neighbor w: u and v
    // each gain |∩|, every w gains 1. Rows: 2|E| + #triangles — not the
    // 3-per-wedge explode of the join formulation. The three corner
    // contributions come out of ONE pass over the intersect rows (a
    // per-row concat + explode), NOT a 3-branch union: union branches
    // each re-evaluate their (uncached) input subtree, so the union
    // formulation executed the adjacency joins + intersect kernel
    // THREE times per query (visible as triplicated SortMergeJoins in
    // the final plan).
    val inter = withAdj.select(col("u"), col("v"),
      graft.functions.SortedIntersect.of(col("nu"), col("nv")).as("ws"))
    val c = size(col("ws")).cast("long")
    val corners = inter.select(explode(concat(
        array(struct(col("u").as("newid"), c.as("c")),
              struct(col("v").as("newid"), c.as("c"))),
        transform(col("ws"), w => struct(w.as("newid"), lit(1L).as("c")))))
        .as("p"))
      .select(col("p.newid").as("newid"), col("p.c").as("c"))
      .groupBy("newid").agg(sum("c").as("triangles"))
      .filter(col("triangles") > 0)
    corners.join(mapping, corners("newid") === mapping("newid"))
      .select(mapping("id"), col("triangles"))
  }

  /** Total triangle count (each triangle once): Σ per-edge sorted
    * intersection counts — no wedge materialization, no per-corner
    * explode, one scalar aggregate over |E| rows.
    */
  def totalTriangles(edges: DataFrame): Long = {
    val (withAdj, _) = triangleEdgeAdj(edges)
    val r = withAdj.select(
      graft.functions.SortedIntersect.countOf(col("nu"), col("nv")).as("c"))
      .agg(coalesce(sum("c"), lit(0L)).as("t")).first()
    r.getLong(0)
  }

  /** Random walks: `nWalks` walkers from each source vertex take `steps`
    * uniform random out-edge steps; returns visit counts per vertex —
    * the reference's `example_apps/randomwalks.cpp:57-137`, with the
    * per-edge `chivector` walker buffers re-formulated as a walker
    * Dataset (SURVEY.md §7.5).
    */
  def randomWalks(edges: DataFrame, sources: DataFrame, nWalks: Int,
                  steps: Int, seed: Long = 42L): DataFrame = {
    val e = edges.select("src", "dst").repartition(col("src"))
      .transform(graft.graph.Iterate.ckpt)
    // Walk ids are globally unique (source*nWalks + k), never just the
    // per-vertex index: two walkers meeting at a vertex must keep moving
    // independently, not merge (randomwalks.cpp moves each walker).
    var walkers = sources.select(col(sources.columns.head).as("cur"))
      .withColumn("w", explode(array((0 until nWalks).map(lit): _*)))
      .select(col("cur"), (col("cur") * nWalks + col("w")).as("w"))
    var visits = walkers.groupBy(col("cur").as("id")).agg(count(lit(1)).as("visits"))
    for (step <- 1 to steps) {
      // Pick a uniform random out-edge per walker: join to out-edges,
      // keep min by hash(rand) — one shuffle, no per-vertex adjacency
      // materialization on the driver.
      val moved = walkers.join(e, walkers("cur") === e("src"))
        .withColumn("r", rand(seed + step))
        .groupBy(col("cur"), col("w"))
        .agg(min_by(col("dst"), col("r")).as("next"))
        .select(col("next").as("cur"), col("w"))
        .transform(graft.graph.Iterate.ckpt)
      walkers = moved
      visits = visits.union(
        moved.groupBy(col("cur").as("id")).agg(count(lit(1)).as("visits")))
      // fold the union periodically so lineage stays O(1) in steps
      if (step % 4 == 0)
        visits = visits.groupBy("id").agg(sum("visits").as("visits"))
          .transform(graft.graph.Iterate.ckpt)
    }
    visits.groupBy("id").agg(sum("visits").as("visits"))
  }

  /** Seeded, damped label propagation over a weighted graph — the
    * reference's `toolkits/graph_analytics/label_propagation.cpp:79-101`:
    * seed vertices keep a fixed label distribution; others take the
    * α-damped, renormalized weighted average of their in-neighbors'
    * distributions. State is an `ArrayType(double)` probability vector
    * indexed by label id; a message carries the weighted distribution
    * and its weight, merged by vector sum and sum.
    *
    * @param seeds (id, label) — label ∈ [0, numLabels)
    */
  def seededLabelPropagation(edges: DataFrame, seeds: DataFrame,
                             numLabels: Int, iterations: Int = 10,
                             alpha: Double = 0.15): DataFrame =
      graft.GraftSession.withTrainerAggCapacity(edges.sparkSession) {
    import graft.functions.{VecMath, VecSum}
    val e = edges.select(col("src"), col("dst"),
        (if (edges.columns.contains("weight")) col("weight").cast("double")
         else lit(1.0)).as("w"))
    val oneHot = (l: Column) => transform(sequence(lit(0), lit(numLabels - 1)),
      i => when(i === l, 1.0d).otherwise(0.0d))
    val uniform = array_repeat(lit(1.0d / numLabels), numLabels)
    val seeded = col("__seed").isNotNull
    Pregel.run(
      Pregel.endpoints(e).join(seeds.withColumnRenamed("label", "__seed"), Seq("id"), "left"),
      e,
      initial = Map("fixed" -> seeded,
        "dist" -> when(seeded, oneHot(col("__seed"))).otherwise(uniform)),
      sendMsg = struct(VecMath.scale(col("src_dist"), col("w")).as("v"), col("w").as("w")),
      aggMsg = struct(VecSum.of(col("msg.v"), numLabels).as("v"), sum(col("msg.w")).as("w")),
      update = Map("fixed" -> col("fixed"),
        "dist" -> when(col("fixed") || col("msg").isNull, col("dist"))
          .otherwise(zip_with(col("dist"), VecMath.scaleDiv(col("msg.v"), col("msg.w")),
            (d, m) => lit(alpha) * d + lit(1 - alpha) * m))),
      maxIter = iterations)
      .select(col("id"),
        expr("array_position(dist, array_max(dist)) - 1").as("label"), col("dist"))
  }

  /** Union-find connected components — the reference's in-memory
    * single-pass variant (`example_apps/unionfind_connectedcomps.cpp:
    * 23-31`), which the reference itself restricts to graphs whose
    * vertex array fits in RAM. Mirrored honestly: edges stream to the
    * driver partition-by-partition (`toLocalIterator`, never a full
    * collect), a weighted disjoint-set with path compression labels
    * them, and the labels return as a DataFrame. Unions always root at
    * the smaller id, so each component's label is its minimum member id
    * and the output matches [[connectedComponents]] exactly; use that
    * distributed variant when the vertex set exceeds driver memory.
    */
  def unionFindConnectedComponents(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    val it = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .toLocalIterator()
    while (it.hasNext) {
      val row = it.next()
      val (u, v) = (row.getLong(0), row.getLong(1))
      parent.getOrElseUpdate(u, u)
      parent.getOrElseUpdate(v, v)
      val (a, b) = (find(u), find(v))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val labels = parent.keys.toSeq.map(v => (v, find(v)))
    labels.toDF("id", "component")
  }
}
