package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generation. Structure comes from a fixed generator seed,
  * so every benchmark seed sees inputs of exactly the same size and
  * shape; the benchmark seed picks a bijective relabel of the ids (and
  * the ingest batch assignment), so different seeds give different
  * inputs.
  */
object Inputs {
  val StructureSeed = 42L

  /** A seeded bijection of [0, m): x -> (a·x + b) mod m, gcd(a, m) = 1. */
  def relabel(seed: Long, m: Long): Column => Column = {
    val rnd = new scala.util.Random(seed * 1000003L + m)
    def gcd(x: Long, y: Long): Long = if (y == 0) x else gcd(y, x % y)
    var a = 1L + (rnd.nextDouble() * (m - 1)).toLong
    while (gcd(a, m) != 1L) a += 1
    val b = (rnd.nextDouble() * m).toLong
    c => pmod(c * lit(a) + lit(b), lit(m))
  }

  /** Row counts of the TPC-H-shaped tables at scale factor `sf`: the
    * lineitem/orders/customer/supplier/part proportions of the repo's
    * fixtures (sf0.1 = 600k lineitems, 150k orders, 15k customers, 1k
    * suppliers, 20k parts), with uniform keys and quantities 1..50.
    */
  final case class Scale(sf: Double) {
    val lineitems: Long = math.round(6000000 * sf)
    val orders: Long = math.round(1500000 * sf)
    val customers: Long = math.round(150000 * sf)
    val suppliers: Long = math.round(10000 * sf)
    val parts: Long = math.round(200000 * sf)
  }

  /** The lineitem and orders tables at scale `s` as parquet under
    * `root`, in the layout `graft.Tables` loads. They do not depend on the
    * benchmark seed, so they are written once and reused; returns their
    * directory.
    */
  def tables(spark: SparkSession, s: Scale, root: String): String = {
    val dir = new java.io.File(root, s"sf${s.sf}")
    if (!new java.io.File(dir, ".complete").isFile) {
      val tmp = new java.io.File(root, s"sf${s.sf}.tmp")
      writeTables(spark, s, tmp.getPath)
      new java.io.File(tmp, ".complete").createNewFile()
      if (!tmp.renameTo(dir)) throw new java.io.IOException(s"cannot move tables to $dir")
    }
    dir.getPath
  }

  private def writeTables(spark: SparkSession, s: Scale, dir: String): Unit = {
    def draw(i: Column, salt: Int, n: Long): Column =
      lit(1L) + pmod(xxhash64(i, lit(salt), lit(StructureSeed)), lit(n))
    spark.range(s.lineitems).select(
        draw(col("id"), 1, s.orders).as("l_orderkey"),
        draw(col("id"), 2, s.parts).as("l_partkey"),
        draw(col("id"), 3, s.suppliers).as("l_suppkey"),
        draw(col("id"), 4, 50L).cast("double").as("l_quantity"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    spark.range(1, s.orders + 1).select(
        col("id").as("o_orderkey"),
        draw(col("id"), 5, s.customers).as("o_custkey"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
  }

  /** `edges(src, dst)` with both endpoints relabelled by one bijection of
    * [0, m) — the graph is isomorphic for every seed.
    */
  def relabelEdges(edges: DataFrame, seed: Long, m: Long): DataFrame = {
    val f = relabel(seed, m)
    edges.select(f(col("src")).as("src"), f(col("dst")).as("dst"))
  }
}

/** Order-independent digests of op outputs, compared across runs. */
object Digest {
  /** Row count plus a sum of per-row hashes (each reduced below 2³¹ so
    * the sum cannot overflow).
    */
  def of(df: DataFrame, cols: Column*): String = {
    val r = df.agg(count(lit(1)),
        coalesce(sum(pmod(xxhash64(cols: _*), lit(1L << 31))), lit(0L)))
      .first()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  /** A double rounded to `digits` significant digits, as text. */
  def num(x: Double, digits: Int = 9): String =
    if (x == 0.0 || x.isNaN || x.isInfinite) x.toString
    else BigDecimal(x).round(new java.math.MathContext(digits)).toString
}
