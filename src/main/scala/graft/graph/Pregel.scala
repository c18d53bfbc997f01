package graft.graph

import org.apache.spark.sql.{Column, DataFrame, GraftShims}
import org.apache.spark.sql.functions._

/** BSP vertex-program runner over DataFrames — the Spark-native
  * replacement for the reference's engine loop
  * (`src/engine/graphchi_engine.hpp:718-992`) and its GAS / functional
  * APIs (`src/api/graphlab2_1_GAS_api/graphchi_graphlabv2_1.hpp:42-67`,
  * `src/api/functional/functional_api.hpp:55-137`). It is the one
  * superstep kernel: PageRank, connected components and both label
  * propagations in [[Algorithms]] are programs on it.
  *
  * Semantics: bulk-synchronous. The reference defaults to asynchronous
  * updates (`README.md:30`); fixpoints agree, iteration counts may not
  * (SURVEY.md §7.5).
  *
  * Execution shape per superstep (all declarative, Catalyst-planned):
  * edges are grouped ONCE into chunked out-adjacency rows — GraphChi's
  * own out-edge-shard storage shape (`src/engine/auxdata/`); each
  * superstep joins sender rows (~|V| adjacency rows) instead of |E| edge
  * rows, explodes the chunk inside the task, evaluates `sendMsg` on the
  * restored (edge ⋈ src-state) row, and aggregates:
  *   messages  = adj ⋈ senders ON src → explode(chunk) → msgExpr
  *   inbox     = messages.groupBy(dst).agg(aggExpr)      (one shuffle)
  *   vertices' = vertices LEFT JOIN inbox  →  update columns
  * Chunking bounds a power-law hub's row payload (≤16k edges per row).
  * The adjacency and the initial state are materialized together. The
  * only Spark actions are checkpoints: after every second superstep and
  * the last, and in selective mode after every superstep, whose changed
  * count rides that checkpoint.
  *
  * When no `update` expression reads a state column (PageRank reads only
  * `msg`) and the mode is dense, only message receivers are carried: any
  * other vertex's state is `update` with a null `msg`, evaluated where it
  * is needed, so a superstep skips the join with the vertex table.
  */
object Pregel {

  /** Out-edges per adjacency row; a vertex with more is split. */
  private val Chunk = 16384

  /** Column-expression Pregel, GraphFrames-style.
    *
    * @param vertices   DataFrame with `id` + any columns `initial` reads;
    *                   every edge endpoint must be one of its ids
    * @param edges      DataFrame with `src`, `dst` + property columns
    * @param initial    deterministic per-state-column inits, over `vertices`
    * @param sendMsg    message expression evaluated over the joined row:
    *                   edge cols, `src_<c>` for each sender state column
    *                   `c`, and `src_outdeg`, the sender's out-edge count
    *                   (GraphChi's `num_outedges()`); null means "send
    *                   nothing"
    * @param aggMsg     merge expression over column `msg`
    * @param update     per-state-column new-value expressions, over `id`,
    *                   the vertex state and the aggregated `msg` (null
    *                   `msg` = vertex received nothing)
    * @param maxIter    superstep cap
    * @param activeOnly true = selective scheduling (the reference's
    *                   bitset scheduler, `src/engine/bitset_scheduler.hpp:
    *                   38-96`): every vertex sends in superstep 1,
    *                   afterwards only the vertices whose state changed
    *                   in the previous superstep; a vertex with no inbound
    *                   message keeps its state untouched; the run stops
    *                   after the first superstep that changes nothing
    */
  def run(
      vertices: DataFrame,
      edges: DataFrame,
      initial: Map[String, Column],
      sendMsg: Column,
      aggMsg: Column,
      update: Map[String, Column],
      maxIter: Int,
      activeOnly: Boolean = false): DataFrame =
    runCounted(vertices, edges, initial, sendMsg, aggMsg, update, maxIter, activeOnly)._1

  /** [[run]], also returning in selective mode the number of vertices
    * each superstep changed: they end at the first 0 unless `maxIter`
    * stopped the run first. Empty in dense mode.
    */
  def runCounted(vertices: DataFrame, edges: DataFrame, initial: Map[String, Column],
                 sendMsg: Column, aggMsg: Column, update: Map[String, Column],
                 maxIter: Int, activeOnly: Boolean): (DataFrame, Seq[Long]) = {
    val stateCols = initial.keys.toSeq
    val receiversOnly = !activeOnly &&
      !update.values.exists(u => GraftShims.columnReads(u).exists(stateCols.contains))

    // One row per (src, ≤Chunk-edge chunk): the src's out-degree and its
    // edges' non-src columns as a list (plain dsts when that is all).
    val edgeAttrs = edges.columns.filterNot(_ == "src").toSeq
    val plainDst = edgeAttrs == Seq("dst")
    val odeg = edges.groupBy("src").agg(count(lit(1)).as("__odeg"))
    val Seq(adj, v0) = Iterate.ckptAll(
      edges.join(odeg, "src")
        .groupBy(col("src"), col("__odeg"),
          pmod(col("dst"), (col("__odeg") / Chunk).cast("long") + 1))
        .agg(collect_list(
          if (plainDst) col("dst") else struct(edgeAttrs.map(col): _*)).as("__es"))
        .select("src", "__es", "__odeg")
        .repartition(col("src")).sortWithinPartitions("src"),
      vertices.select((col("id") +: stateCols.map(c => initial(c).as(c))): _*))

    // senders: adjacency rows plus the sender state as `src_<c>`
    val srcCols = Seq(col("src"), col("src_outdeg")) ++ stateCols.map(c => col(s"src_$c"))
    def inbox(senders: DataFrame): DataFrame =
      senders.withColumnRenamed("__odeg", "src_outdeg")
        .select(srcCols :+ explode(col("__es")).as("__e"): _*)
        .select(srcCols ++ (if (plainDst) Seq(col("__e").as("dst"))
          else edgeAttrs.map(a => col(s"__e.$a").as(a))): _*)
        .select(col("dst").as("__dst"), sendMsg.as("msg"))
        .filter(col("msg").isNotNull)
        .groupBy(col("__dst")).agg(aggMsg.as("msg"))
    def join(state: DataFrame): DataFrame =
      adj.join(state.select((col("id").as("__sid") +:
        stateCols.map(c => col(c).as(s"src_$c"))): _*), col("src") === col("__sid"))
    // an initial state of `id` alone is evaluated on the adjacency rows
    val initialById = initial.values.forall(i => GraftShims.columnReads(i).subsetOf(Set("id")))
    def initialSenders: DataFrame = adj.withColumn("id", col("src"))
      .select(adj.columns.toSeq.map(col) ++ stateCols.map(c => initial(c).as(s"src_$c")): _*)

    var v = v0 // the state table: every vertex, or only receivers
    var noMsg: Column = null
    // receiversOnly: `rows` with vertex `key`'s state as `prefix + c`
    def lookup(rows: DataFrame, key: String, prefix: String): DataFrame =
      rows.join(v.withColumnRenamed("id", "__sid"), col(key) === col("__sid"), "left")
        .withColumn("id", col(key)).withColumn("msg", noMsg)
        .select(rows.columns.toSeq.map(col) ++ stateCols.map(c =>
          when(col("__sid").isNull, update(c)).otherwise(col(c)).as(prefix + c)): _*)

    var counts = Vector.empty[Long]
    var step = 0
    while (step < maxIter && !counts.lastOption.contains(0L)) {
      step += 1
      val in = inbox(
        if (step == 1) (if (initialById) initialSenders else join(v0))
        else if (receiversOnly) lookup(adj, "src", "src_")
        else join(if (activeOnly) v.filter(col("__chg") === 1L) else v))
      noMsg = lit(null).cast(in.schema("msg").dataType)
      val base =
        if (receiversOnly) in.withColumnRenamed("__dst", "id")
        else v.join(in, col("id") === col("__dst"), "left")
      if (activeOnly) {
        val changed = stateCols.map(c => !update(c).eqNullSafe(col(c))).reduce(_ || _)
        val (next, n) = Iterate.ckptSum(base.select((col("id") +:
          stateCols.map(c => when(col("msg").isNull, col(c)).otherwise(update(c)).as(c)) :+
          (col("msg").isNotNull && changed).cast("long").as("__chg")): _*), "__chg")
        v = next
        counts :+= n
      } else {
        val next = base.select((col("id") +: stateCols.map(c => update(c).as(c))): _*)
        v = if (step % 2 == 0 || step == maxIter) Iterate.ckpt(next) else next
      }
    }
    val out =
      if (receiversOnly && step > 0)
        lookup(v0.select(col("id").as("__vid")), "__vid", "").withColumnRenamed("__vid", "id")
      else v.select((col("id") +: stateCols.map(col)): _*)
    (out, counts)
  }

  /** The vertex ids of an edge list: every `src` and `dst`, once. */
  private[graph] def endpoints(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id")).union(edges.select(col("dst").as("id"))).distinct()
}
