package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.cf.{AlsNormal, Fm, MfSgd}
import graft.graph.{Algorithms, Gas, GasProgram, Generators, Iterate}
import graft.streaming.EdgeStream

/** What one op call leaves behind. `digest` and `check` run after the
  * timed region: the digest on every run, the reference check (which
  * returns its findings; empty = pass) only on the warm-up.
  */
final case class Result(steps: Option[Long], digest: () => String,
                        check: () => Seq[String])

/** One op: the span it is measured under (`<layer group>.<op>`), whether
  * its result reports a step count, and the call.
  */
final case class Op(span: String, stepped: Boolean, run: () => Result)

/** Inputs plus the ops that run on them. */
abstract class Part(prefix: String) {
  /** Make sure the fixture tables the inputs are loaded from exist. */
  def prepare(): Unit = ()
  /** Load or generate the inputs and checkpoint them; may be called more
    * than once, each call replacing the previous inputs.
    */
  def setup(): Unit
  def ops: Seq[Op]
  /** Rates (1/s), each computed from the median span walls of the timed runs. */
  def rates: Seq[(String, Map[String, Double] => Double)] = Nil
  protected def op(name: String, stepped: Boolean = false)(run: => Result): Op =
    Op(s"$prefix.$name", stepped, () => run)
}

/** A benchmark workload: one or more parts, run in one process. */
final class Workload(val name: String, val prefix: String, parts: Seq[Part]) {
  def prepare(): Unit = parts.foreach(_.prepare())
  def setup(): Unit = parts.foreach(_.setup())
  val ops: Seq[Op] = parts.flatMap(_.ops)
  val rates: Seq[(String, Map[String, Double] => Double)] = parts.flatMap(_.rates)
}

object Workloads {
  val names: Seq[String] = Seq("graph", "cf-train")

  /** The fixpoint graphs and the ratings share one fixture scale. */
  val TablesScale: Inputs.Scale = Inputs.Scale(0.005)

  def apply(name: String, spark: SparkSession, seed: Long, tablesRoot: String): Workload =
    name match {
      case "graph" => new Workload(name, "graph", Seq(
        new GraphVolume(spark, seed, vertices = 10000L, degree = 16),
        new GraphFixpoint(spark, seed, tablesRoot, TablesScale)))
      case "cf-train" => new Workload(name, "cf", Seq(
        new CfTrain(spark, seed, tablesRoot, TablesScale)))
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (one of ${names.mkString(", ")})")
    }

  /** Vertices whose rounded ranks differ between two (id, pr) frames, or
    * that only one of them has.
    */
  def rankMismatches(a: DataFrame, b: DataFrame, what: String): Seq[String] = {
    val ra = a.select(col("id"), round(col("pr"), 6).as("pa"))
    val rb = b.select(col("id"), round(col("pr"), 6).as("pb"))
    val bad = ra.join(rb, Seq("id"), "full_outer")
      .filter(col("pa").isNull || col("pb").isNull || col("pa") =!= col("pb")).count()
    if (bad == 0L) Nil else Seq(s"$bad vertices differ from $what at round(pr, 6)")
  }

  /** `(id, value)` rows of `df` as a map. */
  def collectMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap

  /** Findings from comparing a per-vertex result with a reference. */
  def compare(got: Map[Long, Long], g: Csr, want: Int => Long): Seq[String] = {
    val wrong = (0 until g.n).count(v => !got.get(g.ids(v)).contains(want(v)))
    (if (wrong == 0) Nil else Seq(s"$wrong of ${g.n} vertices differ from the reference")) ++
      (if (got.size == g.n) Nil else Seq(s"${got.size} result rows for ${g.n} vertices"))
  }
}

/** Per-edge message volume: PageRank (library and GAS forms) and triangle
  * counting over a seeded sparse Erdős–Rényi graph.
  */
final class GraphVolume(spark: SparkSession, seed: Long, vertices: Long, degree: Int)
    extends Part("volume") {
  // GraphChi's published PageRank rate is for 3 iterations
  private val iterations = 3
  private var edges: DataFrame = _
  private var nEdges = 0L
  private var lastPr: DataFrame = _

  def setup(): Unit = {
    val (e, n) = Iterate.ckptN(Inputs.relabelEdges(
      Generators.erdosRenyiSparse(spark, vertices, degree, Inputs.StructureSeed),
      seed, vertices))
    edges = e; nEdges = n
  }

  private def prResult(pr: DataFrame, check: () => Seq[String]) =
    Result(None, () => Digest.of(pr, col("id"), round(col("pr"), 6)), check)

  val ops: Seq[Op] = Seq(
    op("pagerank") {
      val pr = Algorithms.pageRank(edges, iterations).transform(Iterate.ckpt)
      lastPr = pr
      prResult(pr, () => {
        val bad = pr.filter(!(col("pr") >= 0.15 && col("pr") < 1e9)).count()
        if (bad == 0L) Nil else Seq(s"$bad ranks outside [0.15, 1e9)")
      })
    },
    // PageRank as a GAS program, the form of SparkEntry's q90.
    op("pagerank_gas") {
      val verts = edges.select(col("src").as("id"))
        .union(edges.select(col("dst"))).distinct()
      val od = edges.groupBy("src").agg(count(lit(1)).as("odeg"))
      val ew = edges.join(od, "src")
        .select(col("src"), col("dst"), (lit(1.0) / col("odeg")).as("w"))
      val pr = Gas.run(verts, ew, GasProgram(
          initial = Map("pr" -> lit(1.0)),
          gather = col("src_pr") * col("w"),
          sum = sum(col("msg")),
          apply = Map("pr" -> (lit(0.15) + lit(0.85) * coalesce(col("msg"), lit(0.0))))),
        iterations)
      val library = lastPr
      prResult(pr, () => Workloads.rankMismatches(pr, library, "pagerank"))
    },
    op("triangles") {
      val t = Algorithms.totalTriangles(edges)
      Result(None, () => t.toString, () => {
        val want = Reference.triangles(Csr.of(edges, selfLoops = false))
        if (t == want) Nil else Seq(s"$t triangles, reference $want")
      })
    })

  // the GraphChi-comparable rates
  override def rates: Seq[(String, Map[String, Double] => Double)] = Seq(
    "volume.pr_edge_iters_per_s" -> (w => nEdges.toDouble * iterations / w("volume.pagerank")),
    "volume.tc_edges_per_s" -> (w => nEdges.toDouble / w("volume.triangles")))
}

/** Fixed per-superstep cost: ingest through `GraphState` and the
  * fixpoint algorithms over two small TPC-H-derived graphs, supplier→part
  * and customer→supplier, run as one disjoint union (every algorithm here
  * works per component, so each graph's results are unchanged and the
  * per-superstep cost is paid once).
  */
final class GraphFixpoint(spark: SparkSession, seed: Long, tablesRoot: String,
                          scale: Inputs.Scale)
    extends Part("fixpoint") {
  private val k = 10
  private val batches = 4
  private val lpaIterations = 3
  private var graph: DataFrame = _
  private var deltas: DataFrame = _
  private var state: EdgeStream.GraphState = _

  private var dir: String = _
  override def prepare(): Unit = dir = Inputs.tables(spark, scale, tablesRoot)

  def setup(): Unit = {
    val m1 = math.max(scale.suppliers, scale.parts) + 1
    val m2 = math.max(scale.customers, scale.suppliers) + 1
    val sp = Inputs.relabelEdges(Tables.supplierPartEdges(spark, dir), seed, m1)
    val cs = Inputs.relabelEdges(Tables.customerSupplierEdges(spark, dir), seed, m2)
      .select(col("src") + m1 as "src", col("dst") + m1 as "dst")
    graph = sp.union(cs).transform(Iterate.ckpt)
    // the graph also arrives as seeded insert batches plus one tombstone batch
    deltas = graph.select(col("src"), col("dst"),
        pmod(xxhash64(col("src"), col("dst"), lit(seed)), lit(batches)).as("batch"),
        (pmod(xxhash64(col("dst"), col("src"), lit(seed)), lit(7)) === 0).as("tomb"))
      .transform(Iterate.ckpt)
  }

  private def expectedLive = deltas.filter(!col("tomb")).select("src", "dst")

  // driver-side adjacency of the input, with and without self-loops, for the checks
  private lazy val csrLoops = Csr.of(graph, selfLoops = true)
  private lazy val csrSimple = Csr.of(graph, selfLoops = false)

  private def result(out: DataFrame, check: () => Seq[String]) =
    Result(None, () => Digest.of(out, out.columns.map(col).toSeq: _*), check)

  val ops: Seq[Op] = Seq(
    op("ingest") {
      val st = new EdgeStream.GraphState(spark, graph.limit(0))
      for (b <- 0 until batches)
        st.applyDelta(deltas.filter(col("batch") === b)
          .select(col("src"), col("dst"), lit(false).as("deleted")), compactEvery = 2)
      st.applyDelta(deltas.filter(col("tomb"))
        .select(col("src"), col("dst"), lit(true).as("deleted")), compactEvery = 2)
      state = st
      result(st.liveEdges, () => {
        val live = st.liveEdges
        val inserts = deltas.count()
        val tombs = deltas.filter(col("tomb")).count()
        val n = live.count()
        val diff = live.exceptAll(expectedLive).count() + expectedLive.exceptAll(live).count()
        (if (n == inserts - tombs) Nil
         else Seq(s"$n live edges, expected $inserts - $tombs")) ++
          (if (diff == 0L) Nil else Seq(s"live set differs from inserts minus tombstones in $diff rows"))
      })
    },
    op("cc", stepped = true) {
      val (comp, log) = Algorithms.connectedComponentsWithDeltaLog(graph)
      result(comp, () => {
        val got = Workloads.collectMap(comp.select("id", "component"))
        val g = csrLoops
        val split = (0 until g.n).count(v => (g.off(v) until g.off(v + 1))
          .exists(i => got.get(g.ids(v)) != got.get(g.ids(g.nbr(i)))))
        val notMin = got.groupMapReduce(_._2)(_._1)(math.min)
          .count { case (label, m) => label != m }
        (if (split == 0) Nil else Seq(s"$split vertices with a neighbour in another component")) ++
          (if (notMin == 0) Nil else Seq(s"$notMin labels are not their component's minimum member")) ++
          Workloads.compare(got, g, Reference.components(g))
      }).copy(steps = Some(log.collect().length.toLong))
    },
    op("kcore") {
      val core = Algorithms.kCore(graph, k).transform(Iterate.ckpt)
      result(core, () => {
        val got = core.collect().map(_.getLong(0)).toSet
        val g = csrSimple
        val thin = got.count { id =>
          val v = g.index(id)
          v < 0 || (g.off(v) until g.off(v + 1)).count(i => got(g.ids(g.nbr(i)))) < k
        }
        val cn = Reference.coreness(g)
        val want = (0 until g.n).filter(cn(_) >= k).map(g.ids(_)).toSet
        (if (thin == 0) Nil else Seq(s"$thin core vertices with < $k neighbours in the core")) ++
          (if (got == want) Nil else Seq(s"${got.size} vertices, reference ${want.size}"))
      })
    },
    op("lpa") {
      val l = Algorithms.labelPropagation(graph, lpaIterations)
      result(l, () => {
        val g = csrLoops
        Workloads.compare(Workloads.collectMap(l.select("id", "label")), g,
          Reference.labelPropagation(g, lpaIterations))
      })
    },
    op("pagerank_live") {
      val pr = Algorithms.pageRank(state.liveEdges, 4).transform(Iterate.ckpt)
      Result(None, () => Digest.of(pr, col("id"), round(col("pr"), 6)), () => {
        val want = Reference.pageRank(
          expectedLive.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq, 4)
        val got = pr.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        val bad = want.count { case (id, p) =>
          !got.get(id).exists(g => math.round(g * 1e6) == math.round(p * 1e6)) }
        (if (bad == 0) Nil else Seq(s"$bad vertices differ from batch PageRank at 6 decimals")) ++
          (if (got.size == want.size) Nil else Seq(s"${got.size} ranks for ${want.size} vertices"))
      })
    })
}

/** Driver-bound trainers on implicit ratings derived from the same
  * TPC-H-shaped tables (user = customer, item = part).
  */
final class CfTrain(spark: SparkSession, seed: Long, tablesRoot: String, scale: Inputs.Scale)
    extends Part("cf") {
  private var ratings: DataFrame = _
  private var weighted: DataFrame = _

  private var dir: String = _
  override def prepare(): Unit = dir = Inputs.tables(spark, scale, tablesRoot)

  def setup(): Unit = {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey", "l_quantity")
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val user = Inputs.relabel(seed, scale.customers + 1)
    val item = Inputs.relabel(seed + 1, scale.parts + 1)
    ratings = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(user(col("o_custkey")).as("user"), item(col("l_partkey")).as("item"))
      .agg(round(avg("l_quantity"), 4).as("rating"))
      .transform(Iterate.ckpt)
    weighted = ratings.withColumn("weight", lit(1.0) + col("rating") / 10.0)
      .transform(Iterate.ckpt)
  }

  /** RMSE of predicting every rating by the global mean. */
  private def baselineRmse: Double = {
    val mu = ratings.agg(avg("rating")).first().getDouble(0)
    ratings.agg(sqrt(avg(pow(col("rating") - mu, 2)))).first().getDouble(0)
  }

  private def trained(rmse: Seq[Double], factors: DataFrame*): Result =
    Result(Some(rmse.size.toLong),
      () => (rmse.map(Digest.num(_)) ++ factors.map(_.count().toString)).mkString(","),
      () => {
        val base = baselineRmse
        (if (rmse.nonEmpty && rmse.forall(x => !x.isNaN && !x.isInfinite)) Nil
         else Seq(s"trace not finite: $rmse")) ++
          (if (rmse.nonEmpty && rmse.last < rmse.head) Nil
           else Seq(s"trace does not decrease: $rmse")) ++
          (if (rmse.nonEmpty && rmse.last < base) Nil
           else Seq(s"final rmse ${rmse.lastOption} does not beat the global mean's $base"))
      })

  val ops: Seq[Op] = Seq(
    op("mfsgd", stepped = true) {
      val m = MfSgd.train(ratings, rank = 8, iterations = 3)
      trained(m.trainRmse, m.userFactors, m.itemFactors)
    },
    op("wals", stepped = true) {
      val m = AlsNormal.train(weighted, rank = 8, iterations = 3)
      trained(m.trainRmse, m.userFactors, m.itemFactors)
    },
    op("fm", stepped = true) {
      val m = Fm.train(Fm.featuresFromRatings(ratings, Seq("user", "item")),
        rank = 4, iterations = 3, lr = 0.05)
      trained(m.trainRmse, m.weights)
    })
}
