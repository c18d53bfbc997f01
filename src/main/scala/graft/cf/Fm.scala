package graft.cf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Factorization machines — the reference's libfm/gensgd family
  * (`toolkits/collaborative_filtering/gensgd.cpp` ~1,035 LoC,
  * `libfm.cpp`): second-order FM over arbitrary hashed feature columns,
  *
  *   ŷ(x) = w₀ + Σ_f w_f + ½ Σ_d [ (Σ_f v_{f,d})² − Σ_f v_{f,d}² ]
  *
  * (features are one-hot, so x_f = 1), trained by deterministic
  * full-batch gradient descent: ∂ŷ/∂v_f = S − v_f with S = Σ_g v_g the
  * per-example factor sum (the classic O(k·|x|) FM trick).
  *
  * Execution shape per iteration: explode features → join weights →
  * groupBy(example) for S/prediction → join the (err, S) scalars back →
  * groupBy(feature) for gradients (∂v_f = err·S − v_f·err, so the
  * weight table never re-joins the gradient pass). Two shuffles.
  *
  * [[featuresFromRatings]] mirrors gensgd's feature construction: each
  * column value is hashed into its own id space (gensgd.cpp feature
  * "rehash"), so (user, item[, time, …]) become distinct feature ids.
  */
object Fm {

  final case class Model(w0: Double, weights: DataFrame, trainRmse: Seq[Double])

  private def vecSum(vec: Column, rank: Int): Column =
    graft.functions.VecSum.of(vec, rank)

  private def initV(ids: DataFrame, rank: Int, seed: Long): DataFrame =
    ids.select(col("feature"),
      transform(sequence(lit(0), lit(rank - 1)),
        k => (pmod(xxhash64(col("feature"), k, lit(seed)), lit(1000000L))
          .cast("double") / 1e7) - 0.05).as("v"))

  /** gensgd-style feature builder: one feature id per (column, value),
    * namespaced by column index so id spaces never collide.
    */
  def featuresFromRatings(ratings: DataFrame, cols: Seq[String]): DataFrame = {
    val feats = cols.zipWithIndex.map { case (c, i) =>
      xxhash64(lit(i), col(c))
    }
    ratings.select(
      monotonically_increasing_id().as("example_id"),
      array(feats: _*).as("features"),
      col("rating").cast("double").as("y"))
  }

  /** gensgd's real feature encoding (`gensgd.cpp` `fc.node_id_maps` +
    * `assign_id` rehash): every VALUE of every feature column — numeric
    * id or arbitrary string alike — gets a dense dictionary id, and the
    * per-column id blocks are laid out consecutively, so a string side
    * feature (a market segment, a category) trains exactly like a
    * user/item id. Dictionary ids are sorted-value order (deterministic
    * where the reference's first-seen order is a single-process
    * artifact). Returns (examples(example_id, features, y),
    * dict(column, value, feature)).
    */
  def featuresWithDictionary(df: DataFrame, targetCol: String,
                             cols: Seq[String]): (DataFrame, DataFrame) = {
    val spark = df.sparkSession
    import org.apache.spark.sql.expressions.Window
    // One pass for ALL per-column dictionaries: tag each column's values
    // with the column's position, distinct, then number inside each
    // column's block with a row_number() window partitioned by ci and
    // add the block's running offset (a #cols-row aggregate, broadcast).
    // Identical numbering to a global (ci, value) sort + zipWithIndex —
    // per-column blocks consecutive, value-sorted within — but the whole
    // pipeline stays in Tungsten (no RDD hop, no InternalRow↔Row
    // conversion), and the sort parallelism is per column rather than a
    // single global range sort.
    val colName = cols.toIndexedSeq
    val tagged = cols.zipWithIndex.map { case (c, i) =>
        df.select(lit(i).as("ci"), col(c).cast("string").as("value"))
      }.reduce(_ union _).distinct()
    // running offset of each column's id block: sum of the lower blocks
    val offsets = tagged.groupBy("ci").agg(count(lit(1)).as("n"))
      .select(col("ci"), (sum("n").over(
        Window.orderBy("ci").rowsBetween(Window.unboundedPreceding, -1)))
        .as("off"))
      .na.fill(0L, Seq("off"))
    val nameCol = element_at(
      array(colName.map(lit): _*), col("ci") + 1)
    val dict = tagged
      .withColumn("rn", row_number().over(
        Window.partitionBy("ci").orderBy("value")))
      .join(broadcast(offsets), "ci")
      .select(nameCol.as("column"), col("value"),
        (col("off") + col("rn") - 1).as("feature"))
      .transform(graft.graph.Iterate.ckpt)
    val base = df.select(
      monotonically_increasing_id().as("example_id") +:
        col(targetCol).cast("double").as("y") +:
        cols.map(c => col(c).cast("string").as(s"__$c")): _*)
    val joined = cols.foldLeft(base) { case (acc, c) =>
      acc.join(broadcast(dict.where(col("column") === c)
        .select(col("value").as(s"__$c"), col("feature").as(s"__f_$c"))), s"__$c")
    }
    val examples = joined.select(col("example_id"),
      array(cols.map(c => col(s"__f_$c")): _*).as("features"), col("y"))
    (examples, dict)
  }

  /** Train on `examples(example_id, features: array<long>, y)`.
    *
    * ASSUMES FIXED-LENGTH FEATURE ARRAYS: every example must carry the
    * same number of features (both in-repo builders —
    * [[featuresFromRatings]], [[featuresWithDictionary]] — construct
    * exactly one feature per column, so they satisfy it). The deferred
    * `trainRmse` trace reads √(Σ_f se2_f / Σ_f n_f) off the per-FEATURE
    * gradient partials, which equals the per-example RMSE only under
    * that assumption; variable-length feature arrays would yield a
    * feature-count-weighted RMSE in `Model.trainRmse` (r15 ADVICE).
    */
  def train(examples: DataFrame, rank: Int = 4, iterations: Int = 10,
            lr: Double = 0.01, reg: Double = 0.01, seed: Long = 42L): Model =
      graft.GraftSession.withTrainerAggCapacity(examples.sparkSession) {
    val ex = examples.repartition(col("example_id"))
      .transform(graft.graph.Iterate.ckpt)
    val flat = ex.select(col("example_id"), col("y"),
        explode(col("features")).as("feature"))
      .transform(graft.graph.Iterate.ckpt)
    val w0 = ex.agg(avg("y")).collect()(0).getDouble(0)
    var w = initV(flat.select("feature").distinct(), rank, seed)
      .withColumn("w", lit(0.0d))
      .transform(graft.graph.Iterate.ckpt)

    // The per-example frame is NEVER materialized (see MfSgd.train):
    // its aggregation is exchange-free (the flat checkpoint declares its
    // hash partitioning on example_id, and the small weight checkpoint
    // broadcasts), so the gradient job
    // recomputes it straight off the cached flat — cheaper than writing
    // and re-reading a |R|-row checkpoint per iteration. With no
    // |R|-row checkpoint to pin, the trace defers safely too: the lazy
    // per-iteration RMSE frames reference only that iteration's
    // |F|-sized weight checkpoint, and collect in one end-of-loop job.
    var rmses = Vector.empty[Double]
    var rmseFrames = Vector.empty[DataFrame]
    val verbose = graft.tools.Proc.envFlag("GRAFT_DEBUG")
    for (iter <- 1 to iterations) {
      val itStart = System.currentTimeMillis
      val joined = flat.join(w, "feature")
      // group on example_id alone (y is constant per example): the
      // grouping key then matches flat's partitioning, so when AQE
      // broadcasts the small weight side the 600k-row re-shuffle per
      // iteration disappears.
      // r15: native kernels for the two per-row HOF sites — the squared
      // term (evaluated per flat feature row) and the prediction fold
      // (per example group); bit-exact mirrors, spec-pinned.
      // r15 batch 2: the S2 ARRAY aggregate became a SCALAR sum. S2
      // entered the prediction only through Σ_d S2_d = Σ_f ‖v_f‖², so
      // sum(v·v) (codegen'd scalar, declarative partial agg) replaces
      // the second TypedImperativeAggregate array buffer AND the
      // per-row hadamard allocation in the trainer's heaviest stage
      // (stage table: the 600k-group per-example ObjectHashAggregate).
      // ½Σ_d(S_d²−S2_d) becomes ½(S·S − s2) — same quantity summed in a
      // different order (ulp-level trace difference only; the declared
      // outputs are counts and wide-margin booleans, oracle-verified).
      val perEx = joined.groupBy("example_id").agg(
          first("y").as("y"),
          vecSum(col("v"), rank).as("S"),
          sum(graft.functions.VecDot.of(col("v"), col("v"))).as("s2"),
          sum("w").as("wsum"))
        .withColumn("pred", lit(w0) + col("wsum") +
          lit(0.5) * (graft.functions.VecDot.of(col("S"), col("S")) - col("s2")))
        .select(col("example_id"), col("S"), (col("y") - col("pred")).as("err"))
      // feature gradients: ∂/∂w_f = err; ∂/∂v_f = err·(S − v_f)
      // = err·S − v_f·err, so the pass aggregates Σ err·S and Σ err per
      // feature (no weight re-join — v_f is constant per group and is
      // applied at the update join).
      // r15 batch 2: the trace reads Σ err² / count partials off the
      // materialized per-feature state instead of deferring lazy frames
      // over `perEx` — whose 600k-group aggregate is THE heavy stage of
      // this trainer — so the end-of-loop trace collect no longer
      // re-executes the heavy aggregate once per iteration. Every
      // example carries exactly |cols| feature rows (fixed-length
      // feature array, inner dictionary joins), so Σ err²/count over the
      // per-FEATURE partials equals the per-example mean:
      // rmse = √(Σ_f se2_f / Σ_f n_f) = √(nf·Σ_ex err² / (nf·N))
      // = √(avg_ex err²). (r16 batch 3 moved the carried partials from a
      // separate grads checkpoint onto the fused w checkpoint below.)
      // r16 (guide §3.3 "join first on the un-exploded key and explode
      // after"): attach (S, err) to the UNEXPLODED example table (|E|
      // rows) and explode features afterwards, instead of joining the
      // |E|·|cols| exploded `flat`. The join processes 2-3× fewer rows
      // (and any sort the planner inserts sorts the narrower side); the
      // exploded (feature, S, err) multiset feeding the aggregate is
      // identical, so the gradients are unchanged.
      // r16 batch 3 (VERDICT #2 superstep fusion): the gradient aggregate
      // is no longer checkpointed separately — the weight update joins it
      // lazily and the ITERATION'S ONLY materialization is the updated w
      // (one job + one |F|-row checkpoint per iteration instead of two).
      // The Σ err²/count trace partials ride the w checkpoint (left join
      // keeps every feature; grads covers all of them — flat is static —
      // so the carried se2/n multiset is exactly grads', summed in w's
      // partition order instead of grads' — ulp-level trace change only).
      // Same gradient values into the same update expressions: the fused
      // job computes the identical agg over the identical input.
      val grads = ex.select(col("example_id"), col("features"))
        .join(perEx.select(col("example_id"), col("S"), col("err")), "example_id")
        .select(explode(col("features")).as("feature"), col("S"), col("err"))
        .groupBy("feature")
        .agg(graft.functions.VecScaleSum.of(col("err"), col("S"), rank).as("es"),
          sum("err").as("gw"), count(lit(1)).as("n"),
          sum(col("err") * col("err")).as("se2"))
      val w2 = w.join(grads, Seq("feature"), "left").select(
          col("feature"),
          when(col("es").isNotNull,
            zip_with(col("v"),
              zip_with(col("es"), col("v"),
                (a, vv) => (a - vv * col("gw")) / col("n")),
              (vv, g) => vv + lit(lr) * (g - lit(reg) * vv)))
            .otherwise(col("v")).as("v"),
          when(col("gw").isNotNull,
            col("w") + lit(lr) * (col("gw") / col("n") - lit(reg) * col("w")))
            .otherwise(col("w")).as("w"),
          col("se2"), col("n"))
        .transform(graft.graph.Iterate.ckpt)
      rmseFrames :+= w2.agg(sqrt(sum("se2") / sum("n")).as("rmse"))
        .select(lit(iter).as("it"), col("rmse"))
      w = w2.drop("se2", "n")
      if (verbose) System.err.println(
        s"[fm] iter $iter ${System.currentTimeMillis - itStart} ms")
    }
    if (rmseFrames.nonEmpty)
      rmses = rmseFrames.reduce(_ unionAll _).orderBy("it").collect()
        .map(_.getDouble(1)).toVector
    Model(w0, w, rmses)
  }
}
