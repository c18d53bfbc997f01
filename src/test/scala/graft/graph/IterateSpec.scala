package graft.graph

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Pins the r16 counted-checkpoint contract (`Iterate.ckptN` /
  * `ckptSum`): the count/sum must come from the materializing pass
  * itself (no separate action), the returned frame must be materialized
  * and row-identical to the input, re-reads must not perturb the
  * harvested values. Every checkpoint leaf reports its stored bytes,
  * row count and the partitioning of the plan that materialized it.
  */
class IterateSpec extends SparkSpec {
  import spark.implicits._

  test("ckptN returns the materialized row count and identical rows") {
    val df = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("a", "b")
    val (out, n) = Iterate.ckptN(df.filter(col("a") > 1L))
    assert(n === 2L)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      === Array((3L, 4L), (5L, 6L)))
    // the returned frame is a bare materialized scan (no lineage)
    assert(out.queryExecution.analyzed.isInstanceOf[
      org.apache.spark.sql.execution.LogicalRDD])
  }

  test("ckptSum accumulates a long column during the same pass") {
    val df = Seq(1L, 2L, 3L, 4L).toDF("x")
      .withColumn("chg", (col("x") % 2 === 0).cast("long"))
    val (out, moved) = Iterate.ckptSum(df.select("x", "chg"), "chg")
    assert(moved === 2L)
    assert(out.count() === 4L)
    // re-reading the frame does not re-fire or change the harvested sum
    assert(out.count() === 4L)
  }

  test("ckptSum skips nulls; empty frames read 0") {
    val df = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L)))
      .toDF("id", "v")
    val (_, s) = Iterate.ckptSum(df, "v")
    assert(s === 12L)
    val empty = Seq(1L).toDF("x").filter(col("x") < 0)
    val (outC, n) = Iterate.ckptN(empty)
    assert(n === 0L)
    assert(outC.isEmpty)
    val (_, s0) = Iterate.ckptSum(
      empty.withColumn("chg", lit(1L)), "chg")
    assert(s0 === 0L)
  }

  test("ckptSum requires the named column to exist") {
    val df = Seq(1L).toDF("x")
    intercept[IllegalArgumentException] {
      Iterate.ckptSum(df, "nope")
    }
  }

  // the adaptive root is a leaf node, so read its printed initial plan
  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.toString.linesIterator.count(_.contains("Exchange"))

  test("ckptN preserves output partitioning like ckpt does") {
    val df = spark.range(0, 2000, 1, 4)
      .select((col("id") % 37).as("k"), col("id").as("v"))
      .repartition(col("k"))
    val want = df.groupBy("k").agg(sum("v").as("s")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    for ((name, ck) <- Seq("ckpt" -> Iterate.ckpt(df), "ckptN" -> Iterate.ckptN(df)._1)) {
      val agg = ck.groupBy("k").agg(sum("v").as("s"))
      assert(exchanges(agg) === 0, s"$name: the checkpoint's hash partitioning " +
        s"on k must satisfy the aggregate, got:\n${agg.queryExecution.executedPlan}")
      assert(agg.collect().map(r => (r.getLong(0), r.getLong(1))).sorted === want, name)
    }
  }

  test("the two copies of a partitioned checkpoint in a self-join scan the same result") {
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
    val ck = Iterate.ckpt(spark.range(0, 1000, 1, 4)
      .select((col("id") % 10).as("k"), col("id").as("v")).repartition(col("k")))
    val j = ck.join(ck.select(col("k").as("k2"), col("v").as("v2")), col("v") === col("v2"))
    val scans = j.queryExecution.sparkPlan.collect { case s: RDDScanExec => s }
    assert(scans.size === 2)
    assert(scans.forall(!_.outputPartitioning.isInstanceOf[UnknownPartitioning]))
    assert(scans(0).output.map(_.exprId) != scans(1).output.map(_.exprId))
    // equal canonical forms are what lets exchanges above them be reused
    assert(scans(0).sameResult(scans(1)))
  }

  test("checkpoint stats are the stored bytes every superstep of a 30-round self-join loop") {
    import org.apache.spark.sql.GraftShims
    import org.apache.spark.sql.execution.LogicalRDD
    var state = Iterate.ckpt(spark.range(0, 200, 1, 4)
      .select(col("id"), (col("id") % 7).as("v")))
    val rounds = (1 to 30).map { _ =>
      val other = state.select(col("id"), col("v").as("w"))
      val next = state.join(other, "id")
        .select(col("id"), ((col("v") + col("w") + 1) % 7).as("v"))
      val t0 = System.nanoTime()
      next.queryExecution.executedPlan
      val planMs = (System.nanoTime() - t0) / 1e6
      state = Iterate.ckpt(next)
      val leaf = state.queryExecution.analyzed.asInstanceOf[LogicalRDD]
      GraftShims.waitListenerBus(spark)
      val stored = spark.sparkContext.getRDDStorageInfo
        .filter(_.id == leaf.rdd.id).map(i => i.memSize + i.diskSize).sum
      assert(leaf.stats.sizeInBytes === BigInt(stored))
      assert(leaf.stats.rowCount === Some(BigInt(200)))
      (stored, planMs)
    }
    val sizes = rounds.map(_._1)
    assert(sizes.forall(_ > 0) && sizes.max <= 2 * sizes.min,
      s"checkpoint bytes must not grow with the round: ${sizes.mkString(",")}")
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val early = median(rounds.take(10).map(_._2))
    val late = median(rounds.takeRight(10).map(_._2))
    assert(late <= 3 * early + 50, s"planning time grew: $early ms -> $late ms")
  }
}
