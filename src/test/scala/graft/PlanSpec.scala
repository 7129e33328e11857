package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the perf-critical plan shapes the
  * operators were designed around must not silently degrade. String checks
  * on the executed plan — coarse, but they catch the failure modes that
  * matter (a CartesianProduct sneaking back in, pushdown lost, the window
  * top-k losing its partial/final group-limit, codegen falling out).
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(name: String): String = {
    // other suites share the context and may have persisted subtrees that
    // splice InMemoryRelations into these plans — assert against raw scans
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString
  }

  test("sp_masked_matmul generates the mask directly — no CartesianProduct") {
    assert(!plan("sp_masked_matmul").contains("CartesianProduct"))
  }

  test("rel_top3_mktsegment keeps the partial+final window group limit") {
    val p = plan("rel_top3_mktsegment")
    assert(p.contains("WindowGroupLimit"), "per-partition top-k heaps lost")
    assert(p.contains("BroadcastHashJoin"), "dim joins must broadcast")
  }

  test("scans push filters and prune columns (mat_slice)") {
    val p = plan("mat_slice")
    assert(p.contains("GreaterThanOrEqual(vec_id,100)") || p.contains(">= 100"),
      s"row predicate not pushed:\n$p")
    assert(!p.contains("label"), "unused column not pruned from the scan")
  }

  test("mat_gemv_native executes as the columnar dot kernel (valid node)") {
    // Under the extended session GraftDotKernelRule intentionally replaces
    // the codegen'd projection with the batch kernel (the row path's WSCG
    // placement is pinned bit-identically by ColumnarSeamSpec's bare-session
    // comparison). The node must be VALID: no `!` missing-input marker,
    // which producedAttributes on GraftDotKernelExec guarantees.
    val p = plan("mat_gemv_native")
    assert(p.contains("GraftDotKernel"), s"batch kernel missing from plan:\n$p")
    assert(!p.contains("!GraftDotKernel"),
      s"kernel node marked invalid (missingInput — producedAttributes lost):\n$p")
  }

  test("sp_laplacian evaluates the co-occurrence subtree once (2 scans = self-join sides)") {
    val p = plan("sp_laplacian")
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 2, s"expected ≤2 lineitem scans (one per self-join side), got $scans")
  }

  test("sp_spmm aggregates d-vector partials (ObjectHashAggregate, no explode before shuffle)") {
    val p = plan("sp_spmm")
    assert(p.contains("ObjectHashAggregate"), "vector_sum partial aggregation lost")
  }

  test("rel_profile_sketch replaces the Expand with register aggregates") {
    // the sketch profile exists to drop rel_profile's countDistinct Expand
    // (6x row replication into a distinct-keyed shuffle); its plan must be
    // the unpivot + two cascaded keyed aggregates, shuffling registers
    val p = plan("rel_profile_sketch")
    assert(!p.contains("Expand"), s"Expand crept back into the sketch profile:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2, "cascaded aggregates missing")
    // the exact-distinct twin keeps its Expand — the contrast this guards
    assert(plan("rel_profile").contains("Expand"))
  }

  test("LSH bucketing uses literal hyperplane lanes — no per-row md5 draw") {
    // the hyperplane lanes are row-independent driver-side literals; a
    // regression back to the expression draw puts d md5 calls per plane
    // per ROW into the plan (~half the wall time of every LSH query)
    val p = plan("pipe_ann_lsh")
    assert(!p.toLowerCase.contains("md5"),
      s"per-row md5 hyperplane draw is back in the LSH plan:\n${p.take(2000)}")
  }

  test("minhash LSH candidates come from a bucketed equi-join, never all-pairs") {
    // the banding design's whole point: candidate generation must stay a
    // hash/merge join on (band, sig) — a BNLJ or CartesianProduct here is
    // the O(n²) catastrophe the LSH exists to avoid
    val p = plan("pipe_minhash_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LSH candidate join degraded to all-pairs:\n${p.take(2000)}")
  }

  test("txt_pii_redact is scan + project only: no shuffle, pruned columns") {
    val p = plan("txt_pii_redact")
    assert(!p.contains("Exchange"), s"per-row redaction must not shuffle:\n$p")
    assert(!p.contains("n_chars"), "unused column not pruned from the scan")
  }

  test("dup-ngram fraction joins on the shingle hash — no wide-row explode after shuffle") {
    val p = plan("pipe_dup_ngram_fraction")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"shingle DF join degraded:\n${p.take(2000)}")
    // partial aggregation must run before the exchange (map-side combine)
    val firstAgg = p.indexOf("HashAggregate")
    assert(firstAgg >= 0, "hash aggregation missing")
  }

  test("dbscan pair stage uses the fused l2 kernel, never CartesianProduct") {
    // the query checkpoints the pair table eagerly, so assert on the pair
    // GENERATOR's plan (the stage dbscan actually executes)
    spark.catalog.clearCache()
    val pts = graft.operators.RandomOps.makeBlobs(spark, 100, 8, 5, 42)
      .select(org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.col("vec"))
    val p = graft.operators.DistanceOps.epsPairs(pts, 8.0)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "pair join degenerated")
    assert(p.toLowerCase.contains("arrayl2sq"),
      "fused L2 kernel lost from the eps condition")
  }

  test("keyless interval join becomes an equi-join on bucket, never BNLJ") {
    val p = plan("rel_interval_join_global")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "bucket replication lost — the join degenerated to all-pairs")
    assert(!p.contains("CartesianProduct"))
  }

  test("CMS heavy hitters: sketch cells aggregate BEFORE any join (grid is mergeable)") {
    val p = plan("txt_heavy_hitters")
    // the est lookup joins the (already aggregated) grid to the token
    // table — the token stream itself must never be join input pre-agg
    assert(p.contains("HashAggregate"), "cell aggregation missing")
    assert(!p.contains("CartesianProduct"))
  }

  test("sharded Lanczos shuffles the nnz-sized edge table once per solve, not once per step") {
    // eigshBlockCore hash-partitions the edge table on its column once and
    // keeps the basis blocks under the same partitioner, so a step reads
    // its edges in place and shuffles only the row-keyed SpMV partials
    // (one record per source/target partition pair). Over a whole solve
    // exactly one stage may write nnz shuffle records, and the stages that
    // write any are that one, the start block and one per step. A second
    // nnz-sized write means the edge side re-shuffles every step.
    import org.apache.spark.SparkProbe
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
      SparkListenerStageSubmitted}
    import org.apache.spark.sql.functions._
    import graft.operators.SolverOps
    val (n, width) = (100L, 31) // circulant band: 31 edges per row
    val coo = spark.range(n * width).select(expr(s"id div $width").as("row"),
      pmod(expr(s"id div $width") + col("id") % width - width / 2, lit(n)).as("col"),
      when(col("id") % width === width / 2, 40.0)
        .otherwise(lit(-1.0) / (abs(col("id") % width - width / 2) + 1)).as("value"))
    val nnz = n * width
    val group = "plan-spec-edge-shuffle"
    val mine = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val written = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (Option(s.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          mine.add(s.stageInfo.stageId)
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (mine.contains(s.stageInfo.stageId)) written.put(s.stageInfo.stageId,
          s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    val sc = spark.sparkContext
    val steps = Instrument.withExclusive {
      val before = Instrument.snapshot().getOrElse("eigsh.block_steps", 0L)
      sc.addSparkListener(listener)
      sc.setJobGroup(group, "edge shuffle count")
      try SolverOps.eigshSmallestShardedBlock(coo, n, 3, m = 20, b = 2)
      finally { sc.clearJobGroup(); SparkProbe.drainListeners(sc); sc.removeSparkListener(listener) }
      Instrument.snapshot().getOrElse("eigsh.block_steps", 0L) - before
    }
    import scala.jdk.CollectionConverters._
    val writes = written.values.asScala.map(_.longValue).filter(_ > 0).toSeq
    assert(steps > 1, s"the fixture must run several steps, ran $steps")
    assert(writes.count(_ >= nnz) == 1 && writes.max == nnz,
      s"expected one nnz-sized ($nnz) shuffle write, got per-stage records $writes")
    assert(writes.size == steps + 2,
      s"expected edges + start block + one shuffle per step ($steps): $writes")
  }

  test("graph optimize reads the checkpointed edge list — no per-subtree graph rebuild") {
    val p = plan("pipe_ann_graph_opt")
    // before the localCheckpoint the plan re-derived the kNN-graph build
    // (an all-pairs BNLJ + WindowGroupLimit) once per consuming subtree
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "edge-list checkpoint lost: graph build re-derived per subtree")
  }

  test("pHash near-dup candidates come from a band equi-join, never all-pairs") {
    val p = plan("pipe_mm_phash_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "band bucketing lost: pair stage degenerated to all-pairs")
  }

  test("latest-per-key keeps the window group limit (no full sort per user)") {
    assert(plan("rel_latest_per_key").contains("WindowGroupLimit"))
  }

  test("sorted-neighborhood candidates come from a rank equi-join, never BNLJ") {
    assert(!plan("pipe_dedup_snm").contains("BroadcastNestedLoopJoin"),
      "SNM successor window degenerated to an all-pairs range join")
  }

  test("pipe_embed_neardup pair stage: native dot, cheap conjunct first, no HOF fold") {
    val p = plan("pipe_embed_neardup")
    assert(p.contains("arraydot"), s"pair stage lost the native fused dot:\n$p")
    // the interpreted aggregate(zip_with(...)) fold must never reach the
    // O(n²) join — it belongs to the (checkpointed) normalize stage only
    assert(!p.contains("aggregate(zip_with"),
      s"interpreted HOF fold in the executed pair plan:\n$p")
    // a < b must precede the dot in the join condition: pushed the other
    // way round the dot evaluates for all n² ordered pairs instead of half
    val cond = p.linesIterator.find(_.contains("BroadcastNestedLoopJoin"))
      .getOrElse(fail("no BNLJ in plan"))
    val aLtB = cond.indexOf(" < ")
    val dot = cond.indexOf("arraydot")
    assert(aLtB >= 0 && dot > aLtB, s"dot evaluates before a<b:\n$cond")
  }

  // ------------------------------------------------------------------
  // Fleet-wide single-task-window guard (round-7 VERDICT item #1): an
  // unpartitioned window (Window.orderBy with no partitionBy) plans
  // `Exchange SinglePartition` and moves its ENTIRE input through one
  // task — the scale trap RankUtils exists to avoid. The invariant over
  // every declared query: any unpartitioned Window/WindowGroupLimit must
  // sit above an AGGREGATION (its input is an aggregated, bounded set —
  // the HDR sketch's ≤~700 buckets, BPE's vocab-sized pair counts), never
  // over raw data-sized rows. mat_shift and label_monotonic — the two
  // ops rewritten onto RankUtils this round — are additionally required
  // to have NO unpartitioned window at all.
  // ------------------------------------------------------------------

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case o => o.children
    }
    p +: kids.flatMap(flatten)
  }

  private def unpartitionedWindows(p: SparkPlan): Seq[SparkPlan] = flatten(p).filter {
    case w: WindowExec => w.partitionSpec.isEmpty
    case w: WindowGroupLimitExec => w.partitionSpec.isEmpty
    case _ => false
  }

  test("no unpartitioned window over un-aggregated input in ANY declared query") {
    spark.catalog.clearCache()
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val exec = fn(spark, sf).queryExecution.executedPlan
      unpartitionedWindows(exec).collect {
        case w if !flatten(w).tail.exists(_.getClass.getSimpleName.contains("Aggregate")) =>
          s"$name: ${w.getClass.getSimpleName} with empty partitionSpec over raw rows"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("batched silhouette pairs come from a block equi-join, never all-pairs") {
    val p = plan("stat_silhouette_batched")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"tiled pair stage degenerated to all-pairs:\n${p.take(2000)}")
  }

  test("mat_shift and label_monotonic have zero unpartitioned windows (RankUtils shape)") {
    spark.catalog.clearCache()
    Seq("mat_shift", "label_monotonic").foreach { name =>
      val exec = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
      assert(unpartitionedWindows(exec).isEmpty,
        s"$name regressed to a single-task global window")
    }
  }
}
