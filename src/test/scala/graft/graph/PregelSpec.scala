package graft.graph

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The two carrying strategies of [[Pregel]] beyond the BSP smoke test:
  * selective scheduling (only vertices whose state changed send) and
  * dense programs whose update reads no state (only receivers are
  * carried).
  */
class PregelSpec extends SparkSpec {
  import spark.implicits._

  test("selective: an unchanged receiver sends nothing; counts end at the first quiet step") {
    // 1 -> 2 -> 3: in step 1, 2 hears 5 but already holds 5, while 3
    // changes. Had 2 sent again in step 2, vertex 3 would count 2 hits.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val vertices = Seq((1L, 5L), (2L, 5L), (3L, 0L)).toDF("id", "v0")
    def run(maxIter: Int) = Pregel.runCounted(vertices, edges,
      initial = Map("v" -> col("v0"), "hits" -> lit(0L)),
      sendMsg = col("src_v"),
      aggMsg = struct(max(col("msg")).as("m"), count(col("msg")).as("n")),
      update = Map("v" -> greatest(col("v"), col("msg.m")),
        "hits" -> when(col("id") === 3L, col("hits") + col("msg.n")).otherwise(col("hits"))),
      maxIter = maxIter, activeOnly = true)
    val (out, counts) = run(10)
    assert(counts == Seq(1L, 0L))
    assert(out.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap ==
      Map(1L -> (5L, 0L), 2L -> (5L, 0L), 3L -> (5L, 1L)))
    assert(run(1)._2 == Seq(1L))
  }

  test("dense: carrying only receivers equals carrying every vertex") {
    // 6 and 7 receive nothing (7 has no edges at all), 4 sends nothing;
    // the update reads `id`, so a non-receiver's value is vertex-specific
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (5L, 1L), (6L, 5L))
      .toDF("src", "dst")
    val vertices = (1L to 7L).toDF("id")
    val base = lit(0.5) + coalesce(col("msg"), lit(0.0)) + col("id") * 0.01
    def run(update: org.apache.spark.sql.Column) = Pregel.run(vertices, edges,
      initial = Map("x" -> col("id").cast("double")),
      sendMsg = col("src_x") / col("src_outdeg"),
      aggMsg = sum(col("msg")),
      update = Map("x" -> update), maxIter = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val receivers = run(base)
    val full = run(base + lit(0.0) * col("x"))
    assert(receivers.keySet == (1L to 7L).toSet)
    for ((id, x) <- full) assert(math.abs(receivers(id) - x) < 1e-12, s"vertex $id")
    assert(receivers(7L) == 0.5 + 0.07)
  }
}
