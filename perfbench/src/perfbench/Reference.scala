package perfbench

import org.apache.spark.sql.DataFrame

/** Undirected graph in compressed adjacency form, built on the driver
  * from a collected edge list: `ids(i)` is vertex i's original id and
  * `nbr(off(i) until off(i + 1))` its distinct neighbours, ascending.
  */
final class Csr(val ids: Array[Long], val off: Array[Int], val nbr: Array[Int]) {
  def n: Int = ids.length
  def degree(v: Int): Int = off(v + 1) - off(v)
  def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
}

object Csr {
  /** From `edges(src, dst)`, symmetrized and deduplicated; self-loops are
    * kept (once) only when `selfLoops`.
    */
  def of(edges: DataFrame, selfLoops: Boolean): Csr = {
    val pairs = edges.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => selfLoops || a != b }
    val ids = pairs.flatMap { case (a, b) => Array(a, b) }.distinct.sorted
    val n = ids.length.toLong
    val keys = pairs.flatMap { case (a, b) =>
      val i = java.util.Arrays.binarySearch(ids, a).toLong
      val j = java.util.Arrays.binarySearch(ids, b).toLong
      Array(i * n + j, j * n + i)
    }.distinct.sorted
    val off = new Array[Int](ids.length + 1)
    keys.foreach(k => off((k / n).toInt + 1) += 1)
    for (i <- 1 to ids.length) off(i) += off(i - 1)
    new Csr(ids, off, keys.map(k => (k % n).toInt))
  }
}

/** Sequential driver-side reference algorithms the checks compare the
  * engine's outputs against.
  */
object Reference {

  /** Triangles, each once: orient by (degree, index) and intersect. */
  def triangles(g: Csr): Long = {
    val order = (0 until g.n).sortBy(v => (g.degree(v), v)).toArray
    val pos = new Array[Int](g.n)
    order.indices.foreach(p => pos(order(p)) = p)
    // out(p): higher-ranked neighbours of the vertex at rank p, ascending
    val out = Array.tabulate(g.n) { p =>
      val v = order(p)
      (g.off(v) until g.off(v + 1)).map(i => pos(g.nbr(i)))
        .filter(_ > p).sorted.toArray
    }
    var t = 0L
    for (p <- 0 until g.n; q <- out(p)) {
      val a = out(p); val b = out(q)
      var i = 0; var j = 0
      while (i < a.length && j < b.length) {
        if (a(i) < b(j)) i += 1
        else if (a(i) > b(j)) j += 1
        else { t += 1; i += 1; j += 1 }
      }
    }
    t
  }

  /** PageRank as `Algorithms.pageRank` defines it: `iterations` rounds
    * from pr = 1, pr = 0.15 + 0.85·Σ in-neighbour pr / out-degree, a vertex
    * with no in-edges at 0.15, the mass of vertices without out-edges
    * dropped; edges counted as given.
    */
  def pageRank(edges: Seq[(Long, Long)], iterations: Int): Map[Long, Double] = {
    val ids = edges.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted.toArray
    def ix(id: Long) = java.util.Arrays.binarySearch(ids, id)
    val es = edges.map { case (a, b) => (ix(a), ix(b)) }
    val odeg = new Array[Int](ids.length)
    es.foreach { case (a, _) => odeg(a) += 1 }
    var pr = Array.fill(ids.length)(1.0)
    for (_ <- 1 to iterations) {
      val msg = new Array[Double](ids.length)
      val got = new Array[Boolean](ids.length)
      es.foreach { case (a, b) => msg(b) += pr(a) / odeg(a); got(b) = true }
      pr = Array.tabulate(ids.length)(v => if (got(v)) 0.15 + 0.85 * msg(v) else 0.15)
    }
    ids.indices.map(v => ids(v) -> pr(v)).toMap
  }

  /** Component label per vertex: the minimum id of its component. */
  def components(g: Csr): Array[Long] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    for (v <- 0 until g.n; i <- g.off(v) until g.off(v + 1)) {
      val (a, b) = (find(v), find(g.nbr(i)))
      // ids are sorted, so the smaller index is the smaller id
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    Array.tabulate(g.n)(v => g.ids(find(v)))
  }

  /** Core number per vertex (Batagelj–Zaversnik bucket peeling). */
  def coreness(g: Csr): Array[Int] = {
    val deg = Array.tabulate(g.n)(v =>
      (g.off(v) until g.off(v + 1)).count(i => g.nbr(i) != v))
    val maxD = if (g.n == 0) 0 else deg.max
    val bin = new Array[Int](maxD + 2)
    deg.foreach(d => bin(d) += 1)
    var start = 0
    for (d <- 0 to maxD) { val c = bin(d); bin(d) = start; start += c }
    val vert = new Array[Int](g.n)
    val pos = new Array[Int](g.n)
    for (v <- 0 until g.n) { pos(v) = bin(deg(v)); vert(pos(v)) = v; bin(deg(v)) += 1 }
    for (d <- maxD to 1 by -1) bin(d) = bin(d - 1)
    bin(0) = 0
    for (i <- 0 until g.n) {
      val v = vert(i)
      for (k <- g.off(v) until g.off(v + 1)) {
        val u = g.nbr(k)
        if (u != v && deg(u) > deg(v)) {
          val du = deg(u); val pu = pos(u); val pw = bin(du); val w = vert(pw)
          if (u != w) { pos(u) = pw; vert(pu) = w; pos(w) = pu; vert(pw) = u }
          bin(du) += 1
          deg(u) -= 1
        }
      }
    }
    deg
  }

  /** Synchronous label propagation: each round every vertex takes the
    * most frequent neighbour label, ties to the larger label.
    */
  def labelPropagation(g: Csr, iterations: Int): Array[Long] = {
    var lab = g.ids.clone()
    for (_ <- 1 to iterations) {
      lab = Array.tabulate(g.n) { v =>
        val ls = (g.off(v) until g.off(v + 1)).map(i => lab(g.nbr(i))).sorted
        var best = lab(v); var bestN = 0
        var i = 0
        while (i < ls.length) {
          var j = i
          while (j < ls.length && ls(j) == ls(i)) j += 1
          if (j - i >= bestN) { best = ls(i); bestN = j - i }
          i = j
        }
        best
      }
    }
    lab
  }
}
