package graft.graph

import org.apache.spark.sql.functions._
import graft.SparkSpec

class AlgorithmsSpec extends SparkSpec {
  import spark.implicits._

  private def edges(pairs: (Long, Long)*) = pairs.toDF("src", "dst")

  test("pageRank: cycle converges to uniform ranks") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val pr = Algorithms.pageRank(e, iterations = 10).collect()
    assert(pr.length == 3)
    pr.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-6))
  }

  test("pageRank: iterations = 0 returns the uniform init, not an NPE") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val pr = Algorithms.pageRank(e, iterations = 0).collect()
    assert(pr.length == 3)
    pr.foreach(r => assert(r.getDouble(1) == 1.0))
  }

  test("coreness stops at the fixpoint: huge cap equals exact unroll") {
    // chain of triangles: needs a few h-index rounds; a cap of 1000 must
    // terminate early at the fixpoint and equal the capped-at-8 answer
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 5L,
      5L -> 6L, 6L -> 4L, 6L -> 7L)
    val a = Algorithms.coreness(e, iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Algorithms.coreness(e, iterations = 1000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
    assert(a(1L) == 2L && a(7L) == 1L)
  }

  test("pageRank: star center collects mass") {
    val e = edges(1L -> 9L, 2L -> 9L, 3L -> 9L, 9L -> 1L)
    val pr = Algorithms.pageRank(e, iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr(9L) > pr(2L) && pr(9L) > pr(3L))
  }

  test("connectedComponents: two components get min labels") {
    val e = edges(1L -> 2L, 2L -> 3L, 10L -> 11L)
    val cc = Algorithms.connectedComponents(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: chain floods min label to the end") {
    val e = edges((1L to 9L).map(i => i -> (i + 1)): _*)
    val cc = Algorithms.connectedComponents(e).collect()
    assert(cc.forall(_.getLong(1) == 1L))
  }

  test("labelPropagation: clique converges to a single label") {
    val ids = 1L to 4L
    val e = edges((for { a <- ids; b <- ids if a != b } yield a -> b): _*)
    val labels = Algorithms.labelPropagation(e, iterations = 6)
      .select("label").distinct().collect()
    assert(labels.length == 1)
  }

  test("connectedComponentsWithDeltaLog: chain delta log is one fewer update per step") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    val (cc, log) = Algorithms.connectedComponentsWithDeltaLog(e)
    assert(cc.collect().forall(_.getLong(1) == 1L))
    val got = log.orderBy("iter").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(got == Seq((1, 4L), (2, 3L), (3, 2L), (4, 1L)))
  }

  test("labelPropagation: ties go to the larger label, frequency beats size") {
    // undirected 1-2, 1-3, 1-4, 4-5, labels start at the ids. Round 1:
    // 1 sees {2,3,4} and 4 sees {1,5}, all ties, so 1 -> 4 and 4 -> 5.
    // Round 2: 1 sees {1,1,5}, so the more frequent 1 beats the larger 5.
    // The same again with vertex 1 at Long.MinValue.
    for (base <- Seq(0L, Long.MinValue - 1L)) {
      val e = edges(Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 4L -> 5L)
        .map { case (a, b) => (a + base, b + base) }: _*)
      def lpa(n: Int) = Algorithms.labelPropagation(e, iterations = n)
        .collect().map(r => (r.getLong(0) - base) -> (r.getLong(1) - base)).toMap
      assert(lpa(1) == Map(1L -> 4L, 2L -> 1L, 3L -> 1L, 4L -> 5L, 5L -> 4L))
      assert(lpa(2) == Map(1L -> 1L, 2L -> 4L, 3L -> 4L, 4L -> 4L, 5L -> 5L))
    }
  }

  test("seededLabelPropagation: exact labels and distributions") {
    val e = Seq((1L, 2L, 1.0), (2L, 3L, 2.0), (3L, 1L, 0.5), (3L, 4L, 1.0),
      (4L, 5L, 3.0), (5L, 6L, 1.0), (6L, 4L, 0.25), (2L, 5L, 0.5))
      .toDF("src", "dst", "weight")
    val seeds = Seq((1L, 0), (6L, 2)).toDF("id", "label")
    val got = Algorithms.seededLabelPropagation(e, seeds, numLabels = 3,
        iterations = 3)
      .select(col("id"), col("label"), transform(col("dist"), d => round(d, 9)))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Double](2).toSeq))
      .toMap
    assert(got == Map(
      1L -> (0L, Seq(1.0, 0.0, 0.0)),
      2L -> (0L, Seq(0.99775, 0.001125, 0.001125)),
      3L -> (0L, Seq(0.9595, 0.02025, 0.02025)),
      4L -> (0L, Seq(0.594425, 0.103125, 0.30245)),
      5L -> (2L, Seq(0.369114286, 0.234935714, 0.39595)),
      6L -> (2L, Seq(0.0, 0.0, 1.0))))
  }

  test("kCore: triangle survives 2-core, pendant vertex does not") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L)
    val core = Algorithms.kCore(e, 2).collect().map(_.getLong(0)).toSet
    assert(core == Set(1L, 2L, 3L))
  }

  test("coreness: K4 plus tail — clique is 3-core, tail peels at 1") {
    // K4 (ids 1..4) + chain 4-5-6: coreness 3 for the clique, 1 for
    // the tail (the chain peels in round 1).
    val ids = 1L to 4L
    val k4 = for { a <- ids; b <- ids if a < b } yield a -> b
    val e = edges(k4 ++ Seq(4L -> 5L, 5L -> 6L): _*)
    val c = Algorithms.coreness(e, iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 1L, 6L -> 1L))
  }

  test("coreness agrees with kCore membership on a mixed graph") {
    // two triangles sharing a bridge + pendants: {coreness >= k} must
    // equal the k-core peel for every k present.
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L, 4L -> 5L,
      5L -> 6L, 6L -> 4L, 6L -> 7L)
    val c = Algorithms.coreness(e, iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (k <- 1 to 2) {
      val member = Algorithms.kCore(e, k).collect().map(_.getLong(0)).toSet
      assert(c.filter(_._2 >= k).keySet == member, s"k=$k")
    }
    assert(c.values.max == 2L && c(7L) == 1L)
  }

  test("triangleCounts: K4 has 4 triangles, 3 per vertex") {
    val ids = 1L to 4L
    val e = edges((for { a <- ids; b <- ids if a < b } yield a -> b): _*)
    val per = Algorithms.triangleCounts(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(per == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(Algorithms.totalTriangles(e) == 4L)
  }

  test("triangleCounts: bipartite graph has none") {
    val e = edges(1L -> 10L, 2L -> 10L, 1L -> 11L, 2L -> 11L)
    assert(Algorithms.totalTriangles(e) == 0L)
  }

  test("randomWalks: visit mass equals walkers * (steps+1) on a closed graph") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val sources = Seq(1L, 2L).toDF("id")
    val visits = Algorithms.randomWalks(e, sources, nWalks = 10, steps = 5)
    val total = visits.agg(sum("visits")).collect()(0).getLong(0)
    assert(total == 2 * 10 * 6)
  }

  test("pregel: SSSP fixpoint on a small weighted graph") {
    val e = Seq((1L, 2L, 1.0), (2L, 3L, 2.0), (1L, 3L, 10.0), (3L, 4L, 1.0))
      .toDF("src", "dst", "w")
    val v = Seq(1L, 2L, 3L, 4L).toDF("id")
    val dist = Pregel.run(
      vertices = v, edges = e,
      initial = Map("dist" -> when(col("id") === 1L, 0.0).otherwise(lit(Double.PositiveInfinity))),
      sendMsg = when(col("src_dist") + col("w") < lit(Double.PositiveInfinity),
        col("src_dist") + col("w")),
      aggMsg = min(col("msg")),
      update = Map("dist" -> least(col("dist"), col("msg"))),
      maxIter = 10, activeOnly = false)
    val got = dist.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 0.0, 2L -> 1.0, 3L -> 3.0, 4L -> 4.0))
  }

  test("khopSubgraph: one hop from a seed") {
    val e = edges(1L -> 2L, 2L -> 3L, 3L -> 4L)
    val g = PropertyGraph.fromEdges(e)
    val sub = g.khopSubgraph(Seq(1L).toDF("id"), 1)
    val es = sub.edges.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(es == Set((1L, 2L)))
  }

  test("degrees and dedupEdgesMinBy") {
    val e = Seq((1L, 2L, 5.0), (1L, 2L, 3.0), (2L, 3L, 1.0)).toDF("src", "dst", "w")
    val g = PropertyGraph.fromEdges(e)
    val deg = g.degrees.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(deg == Set((1L, 0L, 2L), (2L, 2L, 1L), (3L, 1L, 0L)))
    val dd = g.dedupEdgesMinBy("w").edges.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(dd == Set((1L, 2L, 3.0), (2L, 3L, 1.0)))
  }

  test("clampMaxVertexId drops edges past the declared bound") {
    val e = Seq((1L, 2L), (2L, 9L), (10L, 1L)).toDF("src", "dst")
    val kept = PropertyGraph.fromEdges(e).clampMaxVertexId(5L).edges.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept == Set((1L, 2L)))
  }
}
