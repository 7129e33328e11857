package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, when}
import graft.SparkEntry
import graft.operators.SolverOps

/** One benchmark query: how to build it, which scale it reads, and the
  * DuckDB SQL whose result it must equal. */
final case class Entry(name: String, sf: String,
    build: (SparkSession, String) => DataFrame, oracleSql: String)

/** A named workload. `clients` closed-loop clients share one session; a
  * pass runs every entry once, in an order drawn from the seed. An untraced
  * run times at least `passes` passes: the JVM is still warming up over the
  * first passes, so a pass count that followed host speed would move the
  * metrics with it. */
final case class Workload(name: String, clients: Int, releaseStorage: Boolean,
    passes: Int, entries: Seq[Entry])

object Workloads {
  private def query(name: String, sf: String): Entry =
    Entry(name, sf, SparkEntry.queries(name), SparkEntry.oracleSql(name))

  /** A 3-point eigensolve result rounded as the registered solver queries
    * round it. */
  private def eigs(s: SparkSession, ev: Seq[Double]): DataFrame =
    s.createDataFrame(ev.zipWithIndex.map { case (v, i) =>
      (i, BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) }).toDF("i", "eig")

  /** The sharded-basis driver (`eigshSmallestSharded`) on the chain
    * Laplacian of `solver_eigsh_sharded` at n nodes. With m > n one phase
    * reaches the exact spectrum 2 - 2 cos(pi i / n). */
  def eigshSharded(n: Long): Entry =
    Entry(s"solver_eigsh_sharded_n$n", "sf0.01", (s, _) => {
      val chain = s.range(n - 1).select(col("id").as("row"), (col("id") + 1).as("col"),
        lit(-1.0).as("value"))
      val deg = s.range(n).select(col("id").as("row"), col("id").as("col"),
        when(col("id") === 0 || col("id") === n - 1, 1.0).otherwise(2.0).as("value"))
      val lap = chain.unionByName(chain.select(col("col").as("row"), col("row").as("col"),
        col("value"))).unionByName(deg)
      eigs(s, SolverOps.eigshSmallestSharded(lap, n, 3, m = (n + 2).toInt, maxRestarts = 4))
    }, s"SELECT i, round(2.0 - 2.0 * cos(pi() * i / $n), 6) + 0.0 AS eig FROM range(3) t(i)")

  /** The block driver (`eigshSmallestShardedBlock`, block size 1) on the
    * diagonal fixture of `solver_eigsh_b1` at n rows: spectrum {1, 2, 3} and
    * every other value at least 1000, so the answer is 1, 2, 3 for any n. */
  def eigshBlock(n: Long): Entry =
    Entry(s"solver_eigsh_b1_n$n", "sf0.01", (s, _) => {
      val diag = s.range(n).select(col("id").as("row"), col("id").as("col"),
        when(col("id") < 3, col("id").cast("double") + 1.0)
          .otherwise(lit(1000.0) + pmod(col("id"), lit(17)).cast("double")).as("value"))
      eigs(s, SolverOps.eigshSmallestShardedBlock(diag, n, 3, m = 25, b = 1, tol = 1e-5))
    }, SparkEntry.oracleSql("solver_eigsh_b1"))

  /** Driver loops over tiny inputs, bound by job scheduling: the three
    * Lanczos drivers (driver-side SpMV, sharded basis with thick restart,
    * block). Their inputs are built from fixtures, not read from tables. */
  val solverLoop: Workload = Workload("solver-loop", 1, releaseStorage = true, passes = 2,
    Seq(query("solver_eigsh", "sf0.01"), eigshSharded(10), eigshBlock(2000)))

  /** Shuffle- and checkpoint-heavy text pipeline operators on two clients
    * sharing one long-lived session, with nothing released between
    * queries. A query's latency depends on what the other client runs
    * beside it, so this workload times more passes. */
  val pipelineSoak: Workload = Workload("pipeline-soak", 2, releaseStorage = false,
    passes = 4, Seq(
    "pipe_contamination_cosine", "pipe_minhash_lsh", "pipe_bloom_dedup",
    "pipe_semantic_dedup", "txt_bm25").map(query(_, "sf0.01")))

  val all: Seq[Workload] = Seq(solverLoop, pipelineSoak)

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(s"unknown workload: $name"))
}
