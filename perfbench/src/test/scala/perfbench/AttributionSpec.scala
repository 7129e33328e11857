package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.perfbench.Internals
import org.scalatest.funsuite.AnyFunSuite

/** Two closed-loop clients on one session: every job, and every job span,
  * must land on the query execution that ran it. */
class AttributionSpec extends AnyFunSuite {
  test("jobs are attributed to their query with two concurrent clients") {
    val spark = SparkSession.builder().master("local[4]").appName("attribution")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = Files.createTempDirectory("perfbench-attribution").toString
    try {
      // entry "three" runs three eager counts before its result, "one" runs one
      def eager(n: Int)(s: SparkSession, d: String) = {
        (1 to n).foreach(_ => s.range(0, 200000, 1, 4).where(col("id") % 7 === 0).count())
        s.range(0, 1000, 1, 2).toDF("id")
      }
      val three = Entry("three", "", eager(3), "")
      val one = Entry("one", "", eager(1), "")
      val wl = Workload("attribution", 2, releaseStorage = false, passes = 1, Seq(three, one))
      val args = Main.Args("attribution", 1, 0, trace = true, "", out, 4)
      val clock = new Clock
      val tracer = new Tracer(true, clock)
      val log = new JobLog
      spark.sparkContext.addSparkListener(log)
      val rounds = 6
      val execs = new java.util.concurrent.ConcurrentLinkedQueue[Exec]()
      val clients = Seq(three, one).zipWithIndex.map { case (e, c) =>
        new Thread(() => (1 to rounds).foreach(i =>
          execs.add(Main.runOne(spark, wl, args, clock, tracer, Some(log), "t", c, i, 0, e,
            s"$out/c$c-$i"))))
      }
      clients.foreach(_.start())
      clients.foreach(_.join())
      Internals.drainListeners(spark.sparkContext)

      import scala.jdk.CollectionConverters._
      val all = execs.asScala.toSeq
      assert(all.size == 2 * rounds && all.forall(_.error.isEmpty))
      // the two clients really overlapped
      val (c0, c1) = all.partition(_.client == 0)
      assert(c0.exists(a => c1.exists(b => a.start < b.end && b.start < a.end)))

      val spans = tracer.all
      def eagerJobs(x: Exec): Int = {
        val eagerIds = spans.filter(s => s.group == x.group && s.name == "operators.eager").map(_.id)
        spans.count(s => s.name == "job" && eagerIds.contains(s.parent))
      }
      val jobs = all.map(x => x -> x.layers("jobs").asInstanceOf[Long]).toMap
      all.foreach(x => assert(spans.filter(s => s.group == x.group && s.name == "job")
        .forall(_.client == x.client)))
      // one eager count() may run more than one job (an adaptive shuffle
      // stage first), but "three" runs exactly three times what "one" does
      val perOne = all.filter(_.entry.name == "one").map(eagerJobs).distinct
      assert(perOne.size == 1 && perOne.head >= 1)
      assert(all.filter(_.entry.name == "three").forall(x => eagerJobs(x) == 3 * perOne.head))
      // same sink on both sides, so job counts differ by the eager jobs only
      val perEntry = all.groupBy(_.entry.name).map { case (k, xs) => k -> xs.map(jobs).distinct }
      assert(perEntry("three").size == 1 && perEntry("one").size == 1)
      assert(perEntry("three").head - perEntry("one").head == 2 * perOne.head)
      // nothing ran outside a query's job group
      assert(log.groupStats("").forall(_.jobs == 0))
    } finally spark.stop()
  }
}
