package org.apache.spark.sql

import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, AttributeSeq, AttributeSet, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Internal shim for graft's iterative drivers.
  *
  * Spark 4's `Dataset.localCheckpoint` truncates the RDD lineage but
  * carries the parent plan's *estimated* statistics onto the resulting
  * `LogicalRDD` (`LogicalRDD.rewriteStatsAndConstraints`). In an
  * iterative join loop the size-in-bytes estimate therefore squares
  * every superstep — after ~25 iterations the BigInt estimate has
  * ~2^30 bits and the stats visitor melts down in BigInteger multiply
  * (observed: minutes of driver CPU, then "BigInteger would overflow
  * supported range"). Under adaptive execution it also reports
  * `UnknownPartitioning`, because the root `AdaptiveSparkPlanExec`
  * does.
  *
  * `freshCheckpointCounted` materializes like localCheckpoint but
  * builds the leaf itself, from what the materializing pass measured:
  * the exact row count and stored bytes (reset at every checkpoint, so
  * nothing compounds), and the partitioning and ordering of the plan
  * that actually ran. The planner can then broadcast a small pinned
  * table, and a later aggregate or join on the checkpoint's own key
  * needs no exchange on that side. [[CheckpointScanExec]] keeps the
  * copies of one checkpoint in a self-join sharing their exchanges once
  * a partitioning is declared.
  */
object GraftShims {
  /** `types.AbstractDataType` is private[sql]; alias it so graft's
    * native expressions can declare `ExpectsInputTypes.inputTypes`.
    */
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType

  /** Column ↔ Expression bridges (the classic helpers are private[sql];
    * graft's native expressions need them to surface as Columns).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Top-level names of the columns `c` reads (`msg` for `msg.v`),
    * through native expressions built over other Columns.
    */
  def columnReads(c: Column): Set[String] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
    import org.apache.spark.sql.classic.{ColumnNodeExpression, ColumnNodeToExpressionConverter}
    def reads(e: Expression): Set[String] = e match {
      case ColumnNodeExpression(node) => reads(ColumnNodeToExpressionConverter(node))
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => Set(a.nameParts.head)
      case a: AttributeReference => Set(a.name)
      case other => other.children.flatMap(reads).toSet
    }
    reads(ColumnNodeToExpressionConverter(c.node))
  }

  /** Flush the scheduler listener bus (private[spark]) so metrics
    * harvested by a SparkListener are complete before they are read —
    * listener delivery is async relative to job completion.
    */
  def waitListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Stop the streaming state-store maintenance thread. Sessions that
    * ran stateful streaming queries (the EdgeStream family) leave it
    * running after `SparkSession.stop()`, and its next tick logs a
    * spurious "SparkEnv not active, cannot do maintenance" [error] into
    * every artifact tail (r11 What's-wrong #3) — call this BEFORE
    * stopping the session.
    */
  def stopStateStoreMaintenance(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  /** Storage level for iterative-driver checkpoints — localCheckpoint's
    * own default (MEMORY_AND_DISK, deserialized), kept after a measured
    * A/B (r15): jstack showed deserialized caching paying
    * `SizeEstimator` object-graph walks during unroll, but a full-suite
    * roll with MEMORY_AND_DISK_SER was strictly worse — these
    * checkpoints exist precisely BECAUSE they are re-read several times
    * per superstep, and serialized blocks pay a per-row deserialization
    * on every read (q135 per-query cpu 13.5→50.9 s, q44 42.7→96.4 s in
    * the A/B roll; Java-serde of rank/dim-length array rows dwarfs the
    * estimation walk it saved). SPARK_GRAFT_CKPT_LEVEL keeps the knob
    * for measurement; values are storage-level-independent either way.
    */
  private lazy val ckptLevel: org.apache.spark.storage.StorageLevel =
    org.apache.spark.storage.StorageLevel.fromString(
      sys.env.getOrElse("SPARK_GRAFT_CKPT_LEVEL", "MEMORY_AND_DISK"))

  def freshCheckpoint(df: DataFrame): DataFrame = freshCheckpointCounted(df)._1

  /** Checkpoint `df` and also return its row count and, when `sumCol`
    * names a long column, that column's sum (nulls skipped). Superstep
    * loops need a convergence/progress count, and both a separate
    * count() job and a `Dataset.observe` read cost more than this: the
    * former re-scans the just-written blocks in one more job, the latter
    * waits on the listener bus every superstep.
    *
    * Mirrors `Dataset.localCheckpoint(eager = true, level)`: execute
    * the physical plan, copy rows, persist at the checkpoint level, mark
    * for local checkpointing and materialize with one job. That job's
    * tasks read back their stored block and return its rows, column sum
    * and stored bytes; a job keeps one result per partition, so the
    * figures are exact under task retries.
    */
  def freshCheckpointCounted(df: DataFrame,
                             sumCol: Option[String] = None): (DataFrame, Long, Long) = {
    import org.apache.spark.storage.RDDBlockId
    val cdf = df.asInstanceOf[CDataset[Row]]
    val spark = cdf.sparkSession.asInstanceOf[CSparkSession]
    val qe = cdf.queryExecution
    val i = sumCol.fold(-1) { c =>
      val i = qe.executedPlan.output.indexWhere(_.name == c)
      require(i >= 0, s"freshCheckpointCounted: no column '$c' in " +
        qe.executedPlan.output.map(_.name).mkString(", "))
      i
    }
    val (rdd, parts) = org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(qe, Some("graftCkpt")) {
        val rdd = qe.executedPlan.execute().map(_.copy())
        rdd.persist(ckptLevel)
        rdd.localCheckpoint()
        val id = rdd.id
        val parts = if (rdd.getNumPartitions == 0) {
          // nothing to store: no job, as in localCheckpoint
          rdd.doCheckpoint()
          Array.empty[(Long, Long, Option[Long])]
        } else spark.sparkContext.runJob(rdd, (ctx: org.apache.spark.TaskContext,
                                                it: Iterator[InternalRow]) => {
          var n, s = 0L
          it.foreach { r => n += 1; if (i >= 0 && !r.isNullAt(i)) s += r.getLong(i) }
          val bytes = org.apache.spark.SparkEnv.get.blockManager
            .getStatus(RDDBlockId(id, ctx.partitionId())).map(b => b.memSize + b.diskSize)
          (n, s, bytes)
        })
        (rdd, parts)
      }
    val n = parts.map(_._1).sum
    // a block missing from its store leaves the size unknown: no stats
    val bytes = if (parts.forall(_._3.isDefined)) Some(parts.flatMap(_._3).sum) else None
    val output = qe.analyzed.output
    val (partitioning, ordering) = layout(qe, output, rdd.getNumPartitions)
    val leaf = LogicalRDD(output, rdd, partitioning, ordering)(spark,
      bytes.map(b => Statistics(sizeInBytes = b, rowCount = Some(n))))
    debugWalk(cdf, leaf, n)
    (CDataset.ofRows(spark, leaf), n, parts.map(_._2).sum)
  }

  /** Partitioning and ordering of the plan that materialized a
    * checkpoint, on the checkpoint's `output`. An adaptive root reports
    * `UnknownPartitioning`; its final plan, once executed, reports the
    * real one. A partitioning is kept only when it describes the
    * materialized RDD (same partition count) and reads output columns
    * only; the ordering keeps its longest such prefix.
    */
  private def layout(qe: org.apache.spark.sql.execution.QueryExecution,
                     output: Seq[Attribute],
                     numPartitions: Int): (Partitioning, Seq[SortOrder]) = {
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val toOut = AttributeMap(plan.output.zip(output))
    val outSet = AttributeSet(output)
    def rewrite(e: Expression): Option[Expression] =
      Some(e.transform { case a: Attribute => toOut.getOrElse(a, a) })
        .filter(_.references.subsetOf(outSet))
    def leaves(p: Partitioning): Seq[Partitioning] = p match {
      case c: PartitioningCollection => c.partitionings.flatMap(leaves)
      case p => Seq(p)
    }
    val partitioning = leaves(plan.outputPartitioning)
      .filter(_.numPartitions == numPartitions)
      .flatMap {
        case e: Expression => rewrite(e).map(_.asInstanceOf[Partitioning])
        case p => Some(p)
      }
      .headOption.getOrElse(UnknownPartitioning(0))
    val ordering = plan.outputOrdering.iterator
      .map(o => rewrite(o.child).map(c => SortOrder(c, o.direction, o.nullOrdering, Nil)))
      .takeWhile(_.isDefined).flatten.toSeq
    (partitioning, ordering)
  }

  /** Plans every `LogicalRDD` as a [[CheckpointScanExec]];
    * `graft.GraftSession.builder` installs it.
    */
  object CheckpointScan extends org.apache.spark.sql.execution.SparkStrategy {
    def apply(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = plan match {
      case r: LogicalRDD => new CheckpointScanExec(r.output, r.rdd, "ExistingRDD",
        r.outputPartitioning, r.outputOrdering, r.stream) :: Nil
      case _ => Nil
    }
  }

  /** `RDDScanExec` whose canonical form also normalizes the attribute ids
    * of its partitioning and ordering. The stock node leaves them as they
    * are, so the copies of one checkpoint that a self-join re-instances
    * (fresh ids) never canonicalize equal once a partitioning is declared,
    * and every exchange or broadcast above them runs once per copy.
    */
  class CheckpointScanExec(o: Seq[Attribute], r: org.apache.spark.rdd.RDD[InternalRow],
                           n: String, p: Partitioning, ord: Seq[SortOrder],
                           s: Option[org.apache.spark.sql.connector.read.streaming.SparkDataStream])
      extends org.apache.spark.sql.execution.RDDScanExec(o, r, n, p, ord, s) {
    override def allAttributes: AttributeSeq = output
  }

  /** Debug hook (GRAFT_DEBUG_CKPT): the iterative drivers' heavy
    * aggregates execute INSIDE the materializing checkpoint action, so
    * their executed-plan metrics are invisible to any walk of the
    * caller's final frame — print them here, where the executed AQE
    * plan (and its populated SQLMetrics, e.g. ObjectHashAggregate's
    * numTasksFallBacked) is still in hand — then the leaf the planner
    * will see: rows, stored bytes and declared partitioning. Diagnostic
    * only.
    */
  private def debugWalk(cdf: CDataset[Row], leaf: LogicalRDD, rows: Long): Unit = {
    if (graft.tools.Proc.envFlag("GRAFT_DEBUG_CKPT")) {
      import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
      import org.apache.spark.sql.execution.adaptive.QueryStageExec
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
        p match {
          case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
          case q: QueryStageExec => walk(q.plan)
          case agg: BaseAggregateExec =>
            val ms = agg.metrics.map { case (k, m) => s"$k=${m.value}" }
              .toSeq.sorted.mkString(" ")
            System.err.println(s"[ckpt-agg] ${agg.getClass.getSimpleName} " +
              s"groups=${agg.groupingExpressions.map(_.name).mkString(",")} $ms")
          // r16: joins/exchanges/sorts too — the trainer supersteps'
          // executed join strategy and shuffle count are otherwise
          // invisible (their plans execute inside the ckpt action)
          case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
            val rows = j.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
            System.err.println(s"[ckpt-join] ${j.getClass.getSimpleName} " +
              s"keys=${j.leftKeys.map(_.sql).mkString(",")} rows=$rows")
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            System.err.println(s"[ckpt-exchange] ${e.outputPartitioning}")
          case so: org.apache.spark.sql.execution.SortExec =>
            System.err.println(s"[ckpt-sort] ${so.sortOrder.map(_.sql).mkString(",")}")
          case _ => ()
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
      }
      // the INPUT frame's physical plan is what the checkpoint action
      // executed (the result frame is just a scan of the materialized RDD)
      walk(cdf.queryExecution.executedPlan)
      val bytes = leaf.stats.sizeInBytes
      System.err.println(s"[ckpt] rows=$rows bytes=$bytes " +
        s"partitioning=${leaf.outputPartitioning}")
    }
  }
}
