package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the physical-plan SHAPES the 100 TB story depends on — that the
  * small sides of the pipeline operators' joins really broadcast (no
  * full shuffle of the corpus side) — so a refactor that silently turns
  * a broadcast into a sort-merge exchange fails a spec, not a cluster
  * run. Checked on the pre-AQE `sparkPlan`, where explicit `broadcast()`
  * hints are already resolved to BroadcastHashJoin.
  */
class PlanShapeSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the cat sat on the mat"), (1L, "the dog sat on the rug"),
    (2L, "a cat and a dog met"), (3L, "rare zq tokens xv here"))
    .toDF("doc_id", "text")

  private def countJoins(df: DataFrame, kind: String): Int =
    df.queryExecution.sparkPlan.toString.linesIterator
      .count(_.contains(kind))

  test("bigramLmBits: scoring joins broadcast over the materialized bigram stream; probe side never shuffles") {
    val plan = graft.text.TextAnalysis.bigramLmBits(docs, "doc_id", "text",
      vocabSize = 3)
    // r16: the mapped bigram stream and the vocab-bounded count tables
    // are checkpointed once (multi-consumer subtrees), so the final
    // frame reads materialized RDDs; both scoring joins (bigram counts,
    // unigram contexts) must stay broadcast — a sort-merge join here
    // would shuffle the corpus-sized probe side.
    val s = plan.queryExecution.sparkPlan.toString
    assert(countJoins(plan, "BroadcastHashJoin") >= 2,
      "bigram-count and unigram-context joins must broadcast")
    assert(countJoins(plan, "SortMergeJoin") == 0,
      "the bigram-stream probe side must not shuffle for the scoring joins")
    assert(s.linesIterator.exists(_.contains("ExistingRDD")),
      "the mapped bigram stream must be read from its one materialization")
  }

  test("pqTopK: centroid and ADC-table joins broadcast") {
    val vecs = (0 until 16).map { i =>
      (i.toLong, Array.tabulate(8)(d => (i * 8 + d).toFloat / 100f))
    }.toDF("id", "v")
    val plan = graft.similarity.Similarity.pqTopK(vecs, "id", "v", dim = 8,
      k = 2, queryMaxId = 2L, m = 4, ksub = 2)
    assert(countJoins(plan, "BroadcastHashJoin") >= 2,
      "codebook assignment and the per-query distance table must broadcast")
  }

  test("decontaminate: the benchmark n-gram side broadcasts") {
    val bench = Seq((100L, "the cat sat on the mat today ok")).toDF("doc_id", "text")
    val plan = graft.text.Dedup.contamination(docs, bench, "doc_id", "text", n = 3)
    assert(countJoins(plan, "BroadcastHashJoin") >= 1,
      "the bench n-gram set is the structural broadcast side")
  }

  test("tokenPmi: the df-prune join broadcasts") {
    val plan = graft.text.TextAnalysis.tokenPmi(docs, "doc_id", "text",
      minDf = 1L, topPairs = 10)
    assert(countJoins(plan, "BroadcastHashJoin") >= 1)
  }

  test("asofLeft: ONE key exchange, no join operator at all") {
    // spark.range sources (not LocalRelation) so the planner must lay
    // out the real distributed shape, not a collapsed local plan
    val left = spark.range(100).select(col("id"), (col("id") % 7).as("k"),
      col("id").as("ts"))
    val right = spark.range(7).select(col("id").as("k"), lit(0L).as("rts"),
      (col("id") * 1.0).as("s"))
    val plan = graft.operators.AsofJoin.asofLeft(left.toDF(), right.toDF(),
      "k", "ts", "rts", Seq("s" -> "s"))
    // executedPlan: Exchanges exist only after EnsureRequirements
    val s = plan.queryExecution.executedPlan.toString
    assert(!s.contains("Join"),
      "as-of rides the union+window, never a range join")
    assert(s.linesIterator.count(_.contains("Exchange hashpartitioning")) == 1,
      "exactly one shuffle: the window's key partitioning over the union")
  }

  test("packSequences: bucket-offset side broadcasts; no global window") {
    val docs = Seq((0L, 30L), (900L, 50L)).toDF("doc_id", "n")
    val plan = graft.text.Packing.packSequences(docs, "doc_id", "n",
      seqLen = 128, bucketWidth = 64L)
    val s = plan.queryExecution.sparkPlan.toString
    assert(s.contains("BroadcastHashJoin"),
      "per-bucket offsets must broadcast back onto the doc side")
  }

  test("balancedShards: histogram offsets broadcast; data-side windows are (n, bucket)-bounded") {
    val docs = Seq((0L, 30L), (900L, 50L)).toDF("doc_id", "n_tokens")
    val plan = graft.text.Packing.balancedShards(docs, "doc_id",
      "n_tokens", numShards = 4, bucketWidth = 64L)
    val s = plan.queryExecution.sparkPlan.toString
    assert(s.contains("BroadcastHashJoin"),
      "the distinct-token-count offset table must broadcast")
    // every Window over the DATA carries the bucket in its partition
    // spec; the only partition-free window is the histogram running sum
    // (distinct-n rows), which must never see the n_tokens data column
    val windows = s.linesIterator.filter(_.contains("Window")).toSeq
    assert(windows.exists(_.contains("bucket")),
      "the within-n rank must partition by (n, bucket)")
  }

  test("dsirWeights: the bucket log-ratio table broadcasts; no data-sized build side") {
    val plan = graft.text.Sampling.dsirWeights(docs, "doc_id", "text",
      col("doc_id") < 2L, numBuckets = 64)
    assert(countJoins(plan, "BroadcastHashJoin") >= 1,
      "the numBuckets-row lr table must broadcast onto the token stream")
  }

  test("splitAssign: pure projection, zero exchange") {
    val plan = graft.text.Sampling.splitAssign(docs.select("doc_id"), "doc_id")
    assert(!plan.queryExecution.executedPlan.toString.contains("Exchange"),
      "the hash split must not shuffle")
  }

  test("ngramNovelty: membership probe is a semi-join (reference side never inflates rows)") {
    val ref = Seq((100L, "the cat sat on the mat today ok")).toDF("doc_id", "text")
    val plan = graft.text.Dedup.ngramNovelty(docs, ref, "doc_id", "text", n = 3)
    assert(plan.queryExecution.sparkPlan.toString.contains("LeftSemi"),
      "seen-gram counting must ride a left-semi join, not an inner join")
  }

  test("semanticDedup: Lloyd centroid scoring broadcasts the centroids") {
    val vecs = (0 until 16).map { i =>
      (i.toLong, Array.tabulate(8)(d => (i * 8 + d).toFloat / 100f))
    }.toDF("id", "v")
    val plan = graft.similarity.Similarity.semanticDedup(vecs, "id", "v",
      threshold = 0.8, nlist = 4, lloydIterations = 1)
    assert(countJoins(plan, "BroadcastNestedLoopJoin") >= 1,
      "every assignment pass must cross-score against BROADCAST centroids")
  }

  test("semanticDedup: pair stage keys on (cl, b1, b2), never the nlist-valued cl alone") {
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val vecs = (0 until 16).map { i =>
      (i.toLong, Array.tabulate(8)(d => (i * 8 + d).toFloat / 100f))
    }.toDF("id", "v")
    val plan = graft.similarity.Similarity.semanticDedup(vecs, "id", "v",
      threshold = 0.8, nlist = 4, lloydIterations = 1, pairBlocks = 16)
    val joins = plan.queryExecution.sparkPlan
      .collect { case j: BaseJoinExec => j }
    // the all-pairs self-join must carry the secondary blocks in its
    // equi-keys — partitioning cardinality nlist·blocks²/2, so a
    // degenerate corpus never serializes onto nlist tasks
    assert(joins.exists { j =>
      val names = j.leftKeys.flatMap(_.references.map(_.name)).toSet
      Set("cl", "b1", "b2").subsetOf(names)
    }, s"no join keyed on (cl, b1, b2); joins=\n${joins.mkString("\n")}")
    // and no INNER join keys on the bare cluster id alone (the tiny
    // left-anti probe against capBuckets' oversized-key frame may)
    import org.apache.spark.sql.catalyst.plans.Inner
    assert(!joins.exists { j =>
      val names = j.leftKeys.flatMap(_.references.map(_.name)).toSet
      j.joinType == Inner && names == Set("cl")
    }, "an inner join shuffles on the nlist-valued cl alone")
  }

  test("perplexityBuckets: threshold table broadcasts; the per-stratum window runs over the histogram, not the data") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val withLang = docs.withColumn("lang", lit("en"))
    val plan = graft.text.TextAnalysis.perplexityBuckets(withLang,
      "doc_id", "text", "lang", vocabSize = 8)
    assert(countJoins(plan, "BroadcastHashJoin") >= 1,
      "the per-stratum t1/t2 table must broadcast back onto the scan")
    val wins = plan.queryExecution.sparkPlan
      .collect { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the cumulative-count window")
    wins.foreach { w =>
      assert(w.child.exists {
        case _: BaseAggregateExec => true; case _ => false
      }, s"the cumulative window must consume the (stratum, grid) histogram: $w")
    }
  }

  test("quotaSample: within-group rank partitions by (group, key bucket)") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.catalyst.expressions.{Attribute, RowNumber}
    val docs = (0L until 50L).map(i => (i, s"s${i % 2}"))
      .toDF("doc_id", "source")
    val plan = graft.text.Sampling.quotaSample(docs, "doc_id", "source",
      maxPerGroup = 5, keyBucketWidth = 8L)
    val wins = plan.queryExecution.sparkPlan
      .collect { case w: WindowExec => w }
    val (rankWins, otherWins) = wins.partition(_.windowExpression.exists(
      _.exists { case _: RowNumber => true; case _ => false }))
    // the within-group rank runs over the DATA, so its PARTITION spec —
    // not merely its plan string — must carry the key bucket (the
    // hot-domain task bound)
    assert(rankWins.nonEmpty, "expected a row_number window over the data")
    rankWins.foreach { w =>
      assert(w.partitionSpec.exists(_.exists {
        case a: Attribute => a.name == "__bucket"; case _ => false
      }), s"row_number window must partition by __bucket, got: $w")
    }
    // the per-group running-offset window MAY partition on the bare
    // group — but only over the pre-aggregated per-(group, bucket)
    // counts (#buckets rows), never the raw data: its input subtree
    // must contain the count aggregate
    assert(otherWins.nonEmpty, "expected the per-bucket offset window")
    otherWins.foreach { w =>
      assert(w.child.exists {
        case _: BaseAggregateExec => true; case _ => false
      }, s"offset window must consume pre-aggregated bucket counts: $w")
    }
  }

  test("a small checkpoint broadcasts at plan time; above the threshold it does not") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val small = graft.graph.Iterate.ckpt(spark.range(100)
      .select(col("id").as("k"), lit(1L).as("v")))
    // the range side estimates 80 MB: never a broadcast candidate
    def join = spark.range(10000000L).join(small, col("id") === col("k"))
    val bytes = join.queryExecution.optimizedPlan
      .collectFirst { case j: Join => j.right.stats.sizeInBytes }.get
    assert(countJoins(join, "BroadcastHashJoin") == 1,
      s"a $bytes-byte checkpoint must broadcast without a runtime statistic")
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, (bytes - 1).toString)
    try {
      assert(countJoins(join, "BroadcastHashJoin") == 0,
        "a checkpoint above the threshold must not broadcast")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
