package graft

import breeze.linalg.{svd => bsvd, DenseMatrix, DenseVector, eigSym}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.SolverOps

/** Golden-value checks for QR/lstsq/rSVD/Lanczos/LAP against Breeze and
  * brute force (the reference's pytest-vs-scipy tier).
  */
class Solver2Spec extends AnyFunSuite {

  /** Serializes counter-window tests against other Instrument users
    * (cross-suite reset race — VERDICT r11 #3). */
  private def ctest(name: String)(body: => Unit): Unit =
    test(name)(graft.Instrument.withExclusive(body))
  import TestSpark._

  private lazy val localMatrix: DenseMatrix[Double] = {
    val rows = graft.Tables.vectors(spark, sf).orderBy(col("id"))
      .select(col("vec")).collect().map(_.getSeq[Double](0).toArray)
    DenseMatrix(rows: _*)
  }

  test("tallSkinnyQR R reproduces A = QR up to sign (RtR = AtA)") {
    val r = SolverOps.qrR(graft.Tables.vectors(spark, sf)).collect()
      .map(x => ((x.getInt(0), x.getInt(1)), x.getDouble(2))).toMap
    val d = localMatrix.cols
    // RᵀR must equal AᵀA regardless of Q sign conventions
    val ata = localMatrix.t * localMatrix
    for (i <- 0 until d; j <- i until d) {
      val rtr = (0 to i).map(t => r.getOrElse((t, i), 0.0) * r.getOrElse((t, j), 0.0)).sum
      assert(math.abs(rtr - ata(i, j)) / (math.abs(ata(i, j)) + 1.0) < 1e-3,
        s"RtR($i,$j)=$rtr vs AtA=${ata(i, j)}")
    }
  }

  test("distributed lstsq matches Breeze normal-equation solve") {
    val pair = graft.Tables.vectors(spark, sf)
      .select(expr("slice(vec, 1, 8)").as("vec"),
        graft.functions.ArrayMath.rowSum(col("vec")).as("y"))
    val got = SolverOps.lstsq(pair)
    val rows = pair.collect()
    val a = DenseMatrix(rows.map(_.getSeq[Double](0).toArray): _*)
    val y = DenseVector(rows.map(_.getDouble(1)))
    val expected = (a.t * a) \ (a.t * y)
    got.zip(expected.toArray).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-6, s"$g vs $e")
    }
  }

  test("randomized SVD matches exact SVD on decaying-spectrum data") {
    // blobs have a few dominant directions — the regime rSVD targets
    val blobs = graft.operators.RandomOps.makeBlobs(spark, 500, 16, 3, 9L)
      .select(col("id"), col("vec"))
    val got = SolverOps.rsvdSingularValues(blobs, 3)
    val local = DenseMatrix(blobs.orderBy(col("id")).select(col("vec"))
      .collect().map(_.getSeq[Double](0).toArray): _*)
    val exact = bsvd(local).S.toArray.take(3)
    got.zip(exact).foreach { case (g, e) =>
      assert(math.abs(g - e) / e < 0.02, s"rsvd sigma $g vs exact $e")
    }
  }

  test("Lanczos smallest eigenvalues of the chain Laplacian match closed form") {
    import spark.implicits._
    val chain = spark.range(29).select(col("id").as("row"), (col("id") + 1).as("col"),
      lit(-1.0).as("value"))
    val sym = chain.unionByName(chain.select(col("col").as("row"),
      col("row").as("col"), col("value")))
    val deg = spark.range(30).select(col("id").as("row"), col("id").as("col"),
      when(col("id") === 0 || col("id") === 29, 1.0).otherwise(2.0).as("value"))
    val got = SolverOps.eigshSmallest(sym.unionByName(deg), 30, 3)
    // path-graph Laplacian eigenvalues: 2 - 2cos(pi*k/n), k = 0..n-1
    val exact = (0 until 3).map(k => 2.0 - 2.0 * math.cos(math.Pi * k / 30))
    got.zip(exact).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-6, s"eig $g vs $e")
    }
  }

  test("tsvd reconstruction error matches Breeze residual") {
    val (err, total) = SolverOps.tsvdReconstructionError(
      graft.Tables.vectors(spark, sf), 8)
    val s = bsvd(localMatrix).S.toArray
    val expectedErr = s.drop(8).map(x => x * x).sum
    val expectedTotal = s.map(x => x * x).sum
    assert(math.abs(err - expectedErr) / expectedErr < 1e-6)
    assert(math.abs(total - expectedTotal) / expectedTotal < 1e-9)
  }

  test("cholesky rank-1 update equals refactorization") {
    val rng = new scala.util.Random(4)
    val d = 6
    val m = DenseMatrix.tabulate(d, d)((_, _) => rng.nextGaussian())
    val a = m * m.t + DenseMatrix.eye[Double](d) * (d * 1.0)
    val x = DenseVector.tabulate(d)(_ => rng.nextGaussian())
    val updated = SolverOps.choleskyRank1Update(breeze.linalg.cholesky(a), x)
    val direct = breeze.linalg.cholesky(a + x * x.t)
    for (i <- 0 until d; j <- 0 to i)
      assert(math.abs(updated(i, j) - direct(i, j)) < 1e-9,
        s"L($i,$j): ${updated(i, j)} vs ${direct(i, j)}")
  }

  test("Hungarian LAP matches brute force on 7x7") {
    val n = 7
    val cost = Array.tabulate(n, n)((i, j) => ((i * 31 + j * 17 + i * j) % 53) / 53.0)
    val (_, total) = SolverOps.hungarian(cost)
    val best = (0 until n).permutations
      .map(p => p.zipWithIndex.map { case (j, i) => cost(i)(j) }.sum).min
    assert(math.abs(total - best) < 1e-12)
  }

  test("LAP assignment is a permutation") {
    val rows = SolverOps.lapAssignment(spark, 50).collect()
    assert(rows.map(_.getInt(1)).distinct.length == 50)
  }

  test("distributed auction LAP total matches Hungarian exactly") {
    val Array(row) = SolverOps.lapAuctionDistributed(spark, 60, topT = 8).collect()
    // same integer cost matrix rebuilt driver-side, solved with Hungarian
    def h32(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val cost = Array.tabulate(60, 60)((i, j) =>
      (h32(s"$i:$j:lap") % 1000000L).toDouble)
    val (_, total) = SolverOps.hungarian(cost)
    assert(row.getLong(0) == 60L, "assignment must be a perfect matching")
    assert(row.getLong(1) == total.toLong,
      s"auction total ${row.getLong(1)} vs Hungarian ${total.toLong}")
  }

  test("keyed (DataFrame-state) final auction phase reaches the exact optimum") {
    // keyedFinal routes the last ε-phase through lapKeyedPhase — Jacobi
    // bids + per-column max_by with prices/assignments as DataFrames; the
    // driver Gauss-Seidel form is the oracle via Hungarian equality
    val Array(row) = SolverOps.lapAuctionDistributed(spark, 60, topT = 8,
      keyedFinal = true).collect()
    def h32(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val cost = Array.tabulate(60, 60)((i, j) =>
      (h32(s"$i:$j:lap") % 1000000L).toDouble)
    val (_, total) = SolverOps.hungarian(cost)
    assert(row.getLong(0) == 60L, "assignment must be a perfect matching")
    assert(row.getLong(1) == total.toLong,
      s"keyed-phase auction ${row.getLong(1)} vs Hungarian ${total.toLong}")
  }

  ctest("keyed LAP frees its per-round checkpoints and certifies sub-quadratically") {
    graft.Instrument.reset()
    val before = spark.sparkContext.getPersistentRDDs.size
    val Array(row) = SolverOps.lapAuctionDistributed(spark, 60, topT = 8,
      keyedFinal = true).collect()
    assert(row.getLong(0) == 60L)
    val after = spark.sparkContext.getPersistentRDDs.size
    // every round's state checkpoint, the phase-local kernel/allI copies,
    // the caller's kernel, and the certificate's profits table must all be
    // unpersisted by the time the summary returns (ADVICE r9) — allow a
    // ±2 slack for unrelated caching in the shared session
    assert(after <= before + 2, s"leaked checkpointed RDD blocks: $before -> $after")
    val snap = graft.Instrument.snapshot()
    // VERDICT r10 item 1: certification is ONE O(n·T) kernel-bound scan
    // plus exact re-scans for the (few) rows the conservative bound can't
    // clear — never the Θ(n²) full pass the old contract pinned
    assert(snap.getOrElse("lap.certificate_kernel_scans", 0L) == 1L,
      s"keyed path must pay exactly ONE kernel-bound scan: $snap")
    assert(snap.getOrElse("lap.certificate_full_scans", 0L) == 0L,
      s"keyed path must not fall back to the full n2 scan: $snap")
    assert(snap.getOrElse("lap.certificate_entries", 0L) < 60L * 60L,
      s"certificate work must stay sub-quadratic: $snap")
    assert(snap.getOrElse("lap.keyed_fallbacks", 0L) == 0L,
      s"keyed path must certify without the driver fallback: $snap")
    assert(snap.getOrElse("lap.keyed_rounds", 0L) > 0L)
  }

  ctest("end-to-end keyed phases (kernel never collected) reach the exact optimum") {
    // keyedPhases chains every ε-phase through DataFrame-resident state —
    // prices flow phase-to-phase as projections, no driver arrays at all
    graft.Instrument.reset()
    val Array(row) = SolverOps.lapAuctionDistributed(spark, 60, topT = 8,
      keyedPhases = true).collect()
    def h32(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val cost = Array.tabulate(60, 60)((i, j) =>
      (h32(s"$i:$j:lap") % 1000000L).toDouble)
    val (_, total) = SolverOps.hungarian(cost)
    assert(row.getLong(0) == 60L, "assignment must be a perfect matching")
    assert(row.getLong(1) == total.toLong,
      s"keyedPhases auction ${row.getLong(1)} vs Hungarian ${total.toLong}")
    val snap = graft.Instrument.snapshot()
    assert(snap.getOrElse("lap.keyed_phases", 0L) > 0L, s"phases not keyed: $snap")
    assert(snap.getOrElse("lap.coarse_phases", 0L) == 0L,
      s"driver coarse phases must not run in keyedPhases mode: $snap")
    assert(snap.getOrElse("lap.keyed_fallbacks", 0L) == 0L,
      s"keyedPhases must certify without the driver fallback: $snap")
  }

  ctest("driver-path certificate certifies from the local kernel bound, sub-quadratically") {
    // VERDICT r10 item 1, driver form: the kernel is already collected, so
    // the ε-CS bound max(bestKernel, −cap − pMin) is a driver computation —
    // a typical solve should certify with NO full n² distributed scan and
    // strictly sub-quadratic generated certificate work
    graft.Instrument.reset()
    val Array(row) = SolverOps.lapAuctionDistributed(spark, 80, topT = 8).collect()
    def h32(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val cost = Array.tabulate(80, 80)((i, j) =>
      (h32(s"$i:$j:lap") % 1000000L).toDouble)
    val (_, total) = SolverOps.hungarian(cost)
    assert(row.getLong(0) == 80L)
    assert(row.getLong(1) == total.toLong,
      s"bound-certified auction ${row.getLong(1)} vs Hungarian ${total.toLong}")
    val snap = graft.Instrument.snapshot()
    assert(snap.getOrElse("lap.certificate_full_scans", 0L) == 0L,
      s"driver path must certify without the full n2 scan: $snap")
    assert(snap.getOrElse("lap.certificate_entries", 0L) < 80L * 80L,
      s"certificate work must stay sub-quadratic: $snap")
  }

  test("auction LAP price-join certificate path matches the literal-array path") {
    // priceJoinThreshold=0 forces the broadcast-join certificate (the
    // beyond-driver-literal-scale form); same fixture, same exact optimum
    val Array(row) = SolverOps.lapAuctionDistributed(spark, 60, topT = 8,
      priceJoinThreshold = 0).collect()
    def h32(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val cost = Array.tabulate(60, 60)((i, j) =>
      (h32(s"$i:$j:lap") % 1000000L).toDouble)
    val (_, total) = SolverOps.hungarian(cost)
    assert(row.getLong(0) == 60L)
    assert(row.getLong(1) == total.toLong,
      s"price-join auction ${row.getLong(1)} vs Hungarian ${total.toLong}")
  }

  ctest("keyedFinal repairs through the instrumented driver fallback on a starved kernel") {
    // topT=2 starves the kernel, so the keyed phase converges on a
    // kernel-optimal assignment the full-matrix certificate must REJECT —
    // forcing the one pathological path the green queries never take:
    // collect state once, column-generate driver-side, still exact
    graft.Instrument.reset()
    val Array(row) = SolverOps.lapAuctionDistributed(spark, 40, topT = 2,
      maxRepair = 30, keyedFinal = true).collect()
    def h32(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val cost = Array.tabulate(40, 40)((i, j) =>
      (h32(s"$i:$j:lap") % 1000000L).toDouble)
    val (_, total) = SolverOps.hungarian(cost)
    assert(row.getLong(0) == 40L)
    assert(row.getLong(1) == total.toLong,
      s"fallback-repaired auction ${row.getLong(1)} vs Hungarian ${total.toLong}")
    val snap = graft.Instrument.snapshot()
    assert(snap.getOrElse("lap.keyed_fallbacks", 0L) == 1L,
      s"starved kernel must take the fallback exactly once: $snap")
    assert(snap.getOrElse("lap.repair_iters", 0L) > 0L,
      s"fallback must column-generate: $snap")
  }

  test("auction LAP repair path: a starved kernel still reaches the exact optimum") {
    // topT=2 is far too small for optimality — the distributed ε-CS
    // certificate must detect the violations and column-generate until exact
    val Array(row) = SolverOps.lapAuctionDistributed(spark, 40, topT = 2,
      maxRepair = 30).collect()
    def h32(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val cost = Array.tabulate(40, 40)((i, j) =>
      (h32(s"$i:$j:lap") % 1000000L).toDouble)
    val (_, total) = SolverOps.hungarian(cost)
    assert(row.getLong(0) == 40L)
    assert(row.getLong(1) == total.toLong,
      s"repaired auction ${row.getLong(1)} vs Hungarian ${total.toLong}")
  }

  test("sharded-basis Lanczos matches planted spectrum at n=1e5, driver memory flat") {
    // diagonal matrix with planted well-separated smallest eigenvalues
    // {1, 5, 9} under a bulk starting at 100 — n is 100k but the driver
    // only ever holds m-sized vectors and the m×m projected matrix
    val n = 100000L
    val diag = spark.range(n).select(col("id").as("row"), col("id").as("col"),
      when(col("id") === 0, 1.0).when(col("id") === 1, 5.0)
        .when(col("id") === 2, 9.0)
        .otherwise(pmod(col("id"), lit(7)).cast("double") + 100.0).as("value"))
    val got = SolverOps.eigshSmallestSharded(diag, n, 3, m = 20, maxRestarts = 2)
    got.zip(Seq(1.0, 5.0, 9.0)).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-6, s"sharded eigsh $g vs $e")
    }
  }

  test("sharded-basis Lanczos agrees with driver-basis eigsh on the chain") {
    import spark.implicits._
    val chain = spark.range(29).select(col("id").as("row"), (col("id") + 1).as("col"),
      lit(-1.0).as("value"))
    val sym = chain.unionByName(chain.select(col("col").as("row"),
      col("row").as("col"), col("value")))
    val deg = spark.range(30).select(col("id").as("row"), col("id").as("col"),
      when(col("id") === 0 || col("id") === 29, 1.0).otherwise(2.0).as("value"))
    val lap = sym.unionByName(deg)
    val sharded = SolverOps.eigshSmallestSharded(lap, 30, 3, m = 30, maxRestarts = 4)
    val exact = (0 until 3).map(q => 2.0 - 2.0 * math.cos(math.Pi * q / 30))
    sharded.zip(exact).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-6, s"sharded $g vs closed form $e")
    }
  }

  test("BLOCK sharded Lanczos: planted spectrum via the certificate, chain via deflation") {
    // certificate-terminated regime (the big-fixture shape): planted
    // {1, 5, 9} under a 100+ bulk — the b=2 block path must certify the
    // same spectrum in ~half the driver round-trips
    val n = 20000L
    val diag = spark.range(n).select(col("id").as("row"), col("id").as("col"),
      when(col("id") === 0, 1.0).when(col("id") === 1, 5.0)
        .when(col("id") === 2, 9.0)
        .otherwise(pmod(col("id"), lit(7)).cast("double") + 100.0).as("value"))
    val got = SolverOps.eigshSmallestShardedBlock(diag, n, 3, m = 20, b = 2)
    got.zip(Seq(1.0, 5.0, 9.0)).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-6, s"block sharded eigsh $g vs $e")
    }
    // space-exhaustion regime: chain Laplacian with lane budget ≥ n — the
    // final odd direction arrives through the rank-deficient deflation
    // path (n=21 odd, b=2: the last block has rank 1)
    val chain = spark.range(20).select(col("id").as("row"), (col("id") + 1).as("col"),
      lit(-1.0).as("value"))
    val sym = chain.unionByName(chain.select(col("col").as("row"),
      col("row").as("col"), col("value")))
    val deg = spark.range(21).select(col("id").as("row"), col("id").as("col"),
      when(col("id") === 0 || col("id") === 20, 1.0).otherwise(2.0).as("value"))
    val lap = sym.unionByName(deg)
    val blockGot = SolverOps.eigshSmallestShardedBlock(lap, 21, 3, m = 25, b = 2)
    val exact = (0 until 3).map(q => 2.0 - 2.0 * math.cos(math.Pi * q / 21))
    blockGot.zip(exact).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-6, s"block chain $g vs closed form $e")
    }
  }

  test("block Lanczos runs close to half the Spark jobs of the single-lane path") {
    // the block form's whole claim is fewer driver round-trips at equal
    // math — wall-clock is host-noise-prone, so count JOBS instead
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = counter.incrementAndGet()
    }
    def jobsOf(body: => Unit): Int = {
      spark.sparkContext.addSparkListener(listener)
      counter.set(0)
      // the listener bus is async; jobs start synchronously with actions,
      // so a short quiesce after the last action suffices for the count
      try { body; Thread.sleep(500) }
      finally spark.sparkContext.removeSparkListener(listener)
      counter.get()
    }
    // chain Laplacian converges slowly, so BOTH paths spend the full lane
    // budget (certificates stay silent) — the fair fixture for comparing
    // round-trips at equal Krylov dimension. (On gap-heavy spectra the
    // single path can certify at a smaller dimension than the block path
    // — the classic per-lane-degree tradeoff — so totals there converge.)
    def chain = {
      val e = spark.range(29).select(col("id").as("row"), (col("id") + 1).as("col"),
        lit(-1.0).as("value"))
      val sym = e.unionByName(e.select(col("col").as("row"),
        col("row").as("col"), col("value")))
      sym.unionByName(spark.range(30).select(col("id").as("row"),
        col("id").as("col"),
        when(col("id") === 0 || col("id") === 29, 1.0).otherwise(2.0).as("value")))
    }
    val single = jobsOf {
      SolverOps.eigshSmallestSharded(chain, 30, 3, m = 16, maxRestarts = 0) }
    val block = jobsOf {
      SolverOps.eigshSmallestShardedBlock(chain, 30, 3, m = 16, b = 2) }
    assert(block < single * 0.65,
      s"block path should run <65% of the single-lane jobs: block=$block single=$single")
  }

  test("sharded Ritz vectors: residual ||Av - lambda*v|| ~ 0 and orthonormal") {
    // random sparse symmetric matrix (deterministic draws): the Ritz
    // vectors from the sharded basis must satisfy the eigen equation and
    // be orthonormal — checked against the matrix itself, not Breeze, so
    // the test covers the basis matvec extraction path end-to-end
    val n = 40
    val up = spark.range(200).select(
      pmod(xxhash64(col("id"), lit(1)), lit(n)).as("row"),
      pmod(xxhash64(col("id"), lit(2)), lit(n)).as("col"),
      (pmod(xxhash64(col("id"), lit(3)), lit(9)).cast("double") - 4.0).as("value"))
      .where(col("row") < col("col"))
      .groupBy(col("row"), col("col")).agg(expr("first(value)").as("value"))
    val sym = up.unionByName(up.select(col("col").as("row"), col("row").as("col"), col("value")))
      .unionByName(spark.range(n).select(col("id").as("row"), col("id").as("col"),
        pmod(xxhash64(col("id"), lit(4)), lit(7)).cast("double").as("value")))
    val (vals, vecsDf) = SolverOps.eigshShardedRitz(sym, n, 3, m = 41, maxRestarts = 4)
    val vecs = vecsDf.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val a = Array.ofDim[Double](n, n)
    sym.collect().foreach(r => a(r.getLong(0).toInt)(r.getLong(1).toInt) += r.getDouble(2))
    for (q <- 0 until 3) {
      val v = (0 until n).map(i => vecs(i.toLong)(q)).toArray
      assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-6, "unit norm")
      val av = (0 until n).map(i => (0 until n).map(j => a(i)(j) * v(j)).sum)
      val res = math.sqrt((0 until n).map(i => math.pow(av(i) - vals(q) * v(i), 2)).sum)
      assert(res < 1e-6, s"eigen residual $res for pair $q")
      for (p <- 0 until q) {
        val dot = (0 until n).map(i => vecs(i.toLong)(p) * vecs(i.toLong)(q)).sum
        assert(math.abs(dot) < 1e-6, s"orthogonality $p,$q = $dot")
      }
    }
  }

  test("thick restart recovers a planted spectrum one lane budget cannot reach") {
    // planted {1, 5, 9} under a 100..196 bulk with m=10: a single cycle of
    // ten lanes leaves the third pair far off, so only the compress-and-
    // continue restart path reaches the answer (no other fixture fires it:
    // each either exhausts the space or certifies inside the budget)
    val n = 2000L
    val diag = spark.range(n).select(col("id").as("row"), col("id").as("col"),
      when(col("id") === 0, 1.0).when(col("id") === 1, 5.0)
        .when(col("id") === 2, 9.0)
        .otherwise(pmod(col("id"), lit(97)).cast("double") + 100.0).as("value"))
    val planted = Seq(1.0, 5.0, 9.0)
    def maxErr(got: Seq[Double]): Double =
      got.zip(planted).map { case (g, e) => math.abs(g - e) }.max
    val restarted = SolverOps.eigshSmallestSharded(diag, n, 3, m = 10, maxRestarts = 3)
    assert(maxErr(restarted) < 1e-6, s"restarted eigsh $restarted vs $planted")
    val oneCycle = SolverOps.eigshSmallestSharded(diag, n, 3, m = 10, maxRestarts = 0)
    assert(maxErr(oneCycle) > 1.0,
      s"one cycle $oneCycle should miss $planted: the fixture must need a restart")
    // the restarted Ritz vectors are the planted eigenvectors e₀, e₁, e₂
    val (_, vecsDf) = SolverOps.eigshShardedRitz(diag, n, 3, m = 10, maxRestarts = 3)
    val vecs = vecsDf.where(col("i") < 3).collect()
      .map(r => r.getLong(0).toInt -> r.getSeq[Double](1)).toMap
    for (q <- 0 until 3) {
      val v2 = vecs(q)(q) * vecs(q)(q)
      assert(v2 > 1.0 - 1e-6, s"Ritz vector $q: v_q($q)^2 = $v2")
    }
  }

  /** the n=1e5 diagonal fixture of `solver_eigsh_b1`: spectrum {1, 2, 3}
    * under a bulk of 1000 + id % 17 */
  private def bigDiag = spark.range(100000L).select(col("id").as("row"), col("id").as("col"),
    when(col("id") < 3, col("id").cast("double") + 1.0)
      .otherwise(lit(1000.0) + pmod(col("id"), lit(17)).cast("double")).as("value"))
  private def bits(xs: Seq[Double]): Seq[Long] = xs.map(java.lang.Double.doubleToRawLongBits)
  /** the 30-node chain Laplacian (both edge directions plus degrees) */
  private def chain30 = {
    val e = spark.range(29).select(col("id").as("row"), (col("id") + 1).as("col"),
      lit(-1.0).as("value"))
    e.unionByName(e.select(col("col").as("row"), col("row").as("col"), col("value")))
      .unionByName(spark.range(30).select(col("id").as("row"), col("id").as("col"),
        when(col("id") === 0 || col("id") === 29, 1.0).otherwise(2.0).as("value")))
  }

  test("sharded solves are bit-stable from run to run at n=1e5 (b=1 and b=2)") {
    // every partial merges in a fixed order (SpMV partials by source
    // partition, c1/c2/Gram partials by partition index), so repeated
    // solves over four partitions agree to the last bit whichever tasks
    // finish first
    def ritz(): (Seq[Double], Seq[(Long, Seq[Long])]) = {
      val (vals, vecs) = SolverOps.eigshShardedRitz(bigDiag, 100000L, 3)
      (vals, vecs.collect().map(r => r.getLong(0) -> bits(r.getSeq[Double](1)))
        .sortBy(_._1).toSeq)
    }
    val (v1, x1) = ritz()
    val (v2, x2) = ritz()
    assert(bits(v1) == bits(v2), s"b=1 values moved between runs: $v1 vs $v2")
    assert(x1.size == 100000 && x1 == x2, "b=1 Ritz vectors moved between runs")
    val b2 = SolverOps.eigshSmallestShardedBlock(bigDiag, 100000L, 3, b = 2)
    val b2Again = SolverOps.eigshSmallestShardedBlock(bigDiag, 100000L, 3, b = 2)
    assert(bits(b2) == bits(b2Again), s"b=2 values moved between runs: $b2 vs $b2Again")
    for (got <- Seq(v1, b2); (g, e) <- got.zip(Seq(1.0, 2.0, 3.0)))
      assert(math.abs(g - e) < 1e-6, s"$got vs {1, 2, 3}")
  }

  test("sharded solves release every block they persist, also when they throw") {
    // the solve persists its edge table, start block and one basis + W per
    // step; none may outlive it. Compared as "nothing new is left": the
    // context cleaner may drop older suites' blocks meanwhile
    import org.apache.spark.SparkProbe
    val sc = spark.sparkContext
    def leftBehind(body: => Unit): Unit = {
      val rdds = sc.getPersistentRDDs.keySet.toSet
      val blocks = SparkProbe.rddBlocks(sc).toSet
      body
      val newRdds = sc.getPersistentRDDs.keySet.toSet -- rdds
      val newBlocks = SparkProbe.rddBlocks(sc).toSet -- blocks
      assert(newRdds.isEmpty && newBlocks.isEmpty,
        s"solve left persisted RDDs $newRdds and blocks $newBlocks behind")
    }
    leftBehind(SolverOps.eigshSmallestSharded(chain30, 30, 3, m = 10, maxRestarts = 2))
    leftBehind(SolverOps.eigshSmallestShardedBlock(chain30, 30, 3, m = 16, b = 2))
    // a null entry fails the first step's edge shuffle, after the start
    // block is already persisted
    val bad = chain30.withColumn("value",
      when(col("row") === 7 && col("col") === 7, lit(null).cast("double"))
        .otherwise(col("value")))
    leftBehind(intercept[Exception](
      SolverOps.eigshSmallestSharded(bad, 30, 3, m = 10)))
  }

  test("two sharded solves on two threads of one session equal the serial ones") {
    // the core sets no session conf, so concurrent solves on one session
    // neither see each other's settings nor leave any behind
    val diag = spark.range(2000).select(col("id").as("row"), col("id").as("col"),
      when(col("id") === 0, 1.0).when(col("id") === 1, 5.0).when(col("id") === 2, 9.0)
        .otherwise(pmod(col("id"), lit(97)).cast("double") + 100.0).as("value"))
    val solves: Seq[() => Seq[Double]] = Seq(
      () => SolverOps.eigshSmallestSharded(chain30, 30, 3, m = 30, maxRestarts = 4),
      () => SolverOps.eigshSmallestSharded(diag, 2000, 3, m = 10, maxRestarts = 3))
    val confs = spark.conf.getAll
    val serial = solves.map(f => bits(f()))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val concurrent = try solves.map(f => pool.submit(
        new java.util.concurrent.Callable[Seq[Long]] { def call() = bits(f()) }))
      .map(_.get()) finally pool.shutdown()
    assert(concurrent == serial, s"concurrent $concurrent vs serial $serial")
    assert(spark.conf.getAll == confs, "a solve left a session conf changed")
  }

  test("sparse two-pass rSVD matches exact SVD on decaying-spectrum COO") {
    val blobs = graft.operators.RandomOps.makeBlobs(spark, 300, 16, 3, 11L)
    val coo = blobs.select(col("id").as("row"),
        posexplode(col("vec")).as(Seq("col", "value")))
      .select(col("row"), col("col").cast("long").as("col"), col("value"))
    val got = SolverOps.rsvdSparse(coo, 3)
    val local = DenseMatrix(blobs.orderBy(col("id")).select(col("vec"))
      .collect().map(_.getSeq[Double](0).toArray): _*)
    val exact = bsvd(local).S.toArray.take(3)
    got.zip(exact).foreach { case (g, e) =>
      assert(math.abs(g - e) / e < 0.02, s"sparse rsvd sigma $g vs exact $e")
    }
  }
}
