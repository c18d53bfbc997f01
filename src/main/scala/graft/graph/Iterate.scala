package graft.graph

import org.apache.spark.sql.{DataFrame, GraftShims}

/** Checkpoint helper for iterative drivers. Always use this instead of
  * `localCheckpoint` inside superstep loops: it materializes the frame
  * and gives the planner exact statistics (stored bytes, row count) and
  * the partitioning the frame was materialized with, instead of
  * estimates inherited through the checkpoint, which square per
  * iteration in join loops and eventually overflow the BigInt size
  * estimate (see [[org.apache.spark.sql.GraftShims]]).
  */
object Iterate {
  def ckpt(df: DataFrame): DataFrame = GraftShims.freshCheckpoint(df)

  /** Checkpoint `df` and return its row count, harvested from the
    * materializing job itself. Superstep loops need a convergence or
    * progress count every round; a separate `count()`/`isEmpty` action
    * costs one more driver-blocking job per superstep, and a
    * `Dataset.observe` variant regressed the many-superstep CC queries
    * 15–25 % (its metric arrives via the listener bus).
    * See [[org.apache.spark.sql.GraftShims.freshCheckpointCounted]].
    */
  def ckptN(df: DataFrame): (DataFrame, Long) = {
    val (out, n, _) = GraftShims.freshCheckpointCounted(df)
    (out, n)
  }

  /** Checkpoint `df` and return the sum of long column `sumCol` (nulls
    * skipped), taken in the materializing job (same mechanism as
    * [[ckptN]]; the column must be materialized in the frame). The sum
    * is built from one result per partition, so task retries cannot
    * double-count it.
    */
  def ckptSum(df: DataFrame, sumCol: String): (DataFrame, Long) = {
    val (out, _, s) = GraftShims.freshCheckpointCounted(df, Some(sumCol))
    (out, s)
  }

  /** Materialize several INDEPENDENT frames concurrently (r15, guide
    * §2.6 "overlap independent jobs"): each `ckpt` is an eager blocking
    * action whose job under-fills the cluster at the tail, so a
    * superstep that updates two or more independent state tables (user
    * and item factors, say) wastes most cores while the second
    * materialization waits for the first. Submitting them from a small
    * thread pool lets the later jobs' tasks back-fill executors freed
    * by the earlier jobs' stragglers — identical results (the jobs do
    * not depend on each other), less wall-clock. Spark's scheduler
    * supports concurrent job submission natively; FIFO scheduling gives
    * exactly the back-fill behavior. Callers MUST pass frames with no
    * data dependency on one another.
    */
  def ckptAll(dfs: DataFrame*): Seq[DataFrame] = {
    if (dfs.size <= 1) return dfs.map(ckpt)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(dfs.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(dfs.map(df => Future(ckpt(df)))), Duration.Inf)
    finally pool.shutdown()
  }
}
