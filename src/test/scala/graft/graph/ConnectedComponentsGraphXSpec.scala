package graft.graph

import org.apache.spark.graphx.{Graph => GxGraph}
import org.apache.spark.graphx.lib.{ConnectedComponents => GxConnectedComponents}
import org.scalacheck.{Gen, Prop, Test => Check}
import graft.SparkSpec

/** Differential check of [[Algorithms.connectedComponents]] against
  * GraphX's `ConnectedComponents` (both label every vertex with the
  * smallest id of its undirected component) on generated edge lists:
  * empty, self-loops only, duplicated edges, and ids near Long.MaxValue.
  */
class ConnectedComponentsGraphXSpec extends SparkSpec {
  import spark.implicits._

  private def ours(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Algorithms.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def graphx(edges: Seq[(Long, Long)]): Map[Long, Long] =
    GxConnectedComponents.run(
        GxGraph.fromEdgeTuples(spark.sparkContext.parallelize(edges, 2), 0))
      .vertices.collect().toMap

  private val edgeLists: Gen[Seq[(Long, Long)]] = for {
    base <- Gen.oneOf(0L, Long.MaxValue - 40L)
    n <- Gen.choose(0, 24)
    pairs <- Gen.listOfN(n, Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 30L)))
    dup <- Gen.choose(0, n)
  } yield {
    val es = pairs.map { case (a, b) => (base + a, base + b) }
    es ++ es.take(dup)
  }

  test("connectedComponents agrees with GraphX on generated graphs") {
    val prop = Prop.forAll(edgeLists)(es => ours(es) == graphx(es))
    val res = Check.check(Check.Parameters.default
      .withMinSuccessfulTests(12).withInitialSeed(7L), prop)
    assert(res.passed, res.status.toString)
  }

  test("connectedComponents agrees with GraphX on degenerate graphs") {
    val top = Long.MaxValue
    val cases = Seq(
      Seq.empty[(Long, Long)],
      Seq((1L, 1L), (5L, 5L), (top, top)),
      Seq((3L, 4L), (3L, 4L), (4L, 3L), (4L, 4L)),
      Seq((top, top - 1), (top - 2, top), (top - 5, top - 6)))
    for (es <- cases) assert(ours(es) == graphx(es), s"edges $es")
  }
}
