package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.Internals
import graft.{GraftSession, Instrument}

/** One query execution inside a region, with what the traced run saw. */
final case class Exec(client: Int, pass: Int, idx: Int, entry: Entry, group: String,
    start: Double, end: Double, error: Option[String], path: String,
    layers: Map[String, Any])

/** Benchmark process for one workload: creates the session, runs one
  * untimed warm-up pass, then the timed region, and writes raw results for
  * `run.py` to check and summarise.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <testdata dir> --out <dir> --cores <n>
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, out: String, cores: Int)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("data"), kv("out"), kv("cores").toInt)
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def writeJson(dir: String, file: String, v: Any): Unit =
    Files.writeString(Paths.get(dir, file), json.writeValueAsString(v))

  /** Fixed single-thread CPU loop; its time stamps the host's speed. */
  def canary(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 100000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (acc == 42L) System.err.println("[perfbench] canary checksum collision")
    dt
  }

  private def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Bytes and blocks of RDD storage the session still holds. */
  private def held(spark: SparkSession): (Long, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo
    (infos.map(i => i.memSize + i.diskSize).sum, infos.map(_.numCachedPartitions.toLong).sum)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workloads.byName(a.workload)
    new File(a.out).mkdirs()
    val entriesJson = wl.entries.map(e => ListMap(
      "name" -> e.name, "data" -> s"${a.data}/${e.sf}", "oracle_sql" -> e.oracleSql))
    writeJson(a.out, "plan.json", entriesJson)

    val clock = new Clock
    val canaryS = canary()
    // set-up: session creation and one warm-up pass, neither timed
    val tSetup = clock.now()
    val spark = GraftSession.create(a.cores, "perfbench")
    val createS = clock.now() - tSetup
    val untraced = new Tracer(false, clock)
    val warm = region(spark, wl, a, clock, untraced, None, "warm", 0.0, 1, 1)
    val setupS = clock.now() - tSetup

    val timed =
      if (!a.trace) Seq(region(spark, wl, a, clock, untraced, None, "timed", a.seconds,
        wl.passes, Int.MaxValue))
      else {
        // untraced and traced quarters in the order U T T U, so that a JVM
        // still warming up over the run does not bias the tracing overhead
        val log = new JobLog
        val tracer = new Tracer(true, clock)
        def plain(label: String) =
          region(spark, wl, a, clock, untraced, None, label, a.seconds / 4, 1, Int.MaxValue)
        def traced(label: String) = {
          spark.sparkContext.addSparkListener(log)
          try region(spark, wl, a, clock, tracer, Some(log), label, a.seconds / 4, 1, Int.MaxValue)
          finally spark.sparkContext.removeSparkListener(log)
        }
        val rs = Seq(plain("timed-1"), traced("traced-1"), traced("traced-2"), plain("timed-2"))
        writeJson(a.out, "spans.json", tracer.all.map(s => ListMap(
          "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "client" -> s.client,
          "group" -> s.group, "start" -> s.start, "end" -> s.end)))
        rs
      }
    val (heldBytes, heldBlocks) = held(spark)
    val status = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    val peakRssKb = status.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(0L)
    spark.stop()

    val result = ListMap(
      "workload" -> wl.name, "seed" -> a.seed, "clients" -> wl.clients,
      "host" -> ListMap(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
        "spark" -> org.apache.spark.SPARK_VERSION,
        "canary_s" -> canaryS),
      "setup" -> ListMap("create_s" -> createS, "warmup_s" -> warm("wall_s"), "setup_s" -> setupS),
      "regions" -> (warm +: timed),
      "end" -> ListMap("held_bytes" -> heldBytes, "held_blocks" -> heldBlocks,
        "peak_rss_mb" -> peakRssKb / 1024.0))
    writeJson(a.out, "result.json", result)
  }

  /** Runs whole passes on `wl.clients` threads until at least `minPasses`
    * passes ran and `seconds` have passed, or `maxPasses` passes ran. Each
    * pass runs every entry once, in an order drawn from the seed and the
    * pass number. */
  def region(spark: SparkSession, wl: Workload, a: Args, clock: Clock, tracer: Tracer,
      log: Option[JobLog], label: String, seconds: Double, minPasses: Int,
      maxPasses: Int): Map[String, Any] = {
    val resDir = s"${a.out}/res/$label"
    val queue = new Object {
      private var pass = 0
      private var order = IndexedSeq.empty[Entry]
      private var pos = 0
      val t0: Double = clock.now()
      def passes: Int = synchronized(pass)
      def next(): Option[(Int, Int, Entry)] = synchronized {
        if (pos >= order.size) {
          if (pass >= maxPasses || (pass >= minPasses && clock.now() - t0 >= seconds)) return None
          pass += 1
          val rnd = new scala.util.Random(a.seed * 1000003L + label.hashCode * 31L + pass)
          order = rnd.shuffle(wl.entries.toIndexedSeq)
          pos = 0
        }
        pos += 1
        Some((pass, pos - 1, order(pos - 1)))
      }
    }
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[Exec]()
    val counters0 = Instrument.snapshot()
    val codegen0 = Internals.codegenCompiles()
    val cpu0 = cpuSeconds()
    val gc0 = gcSeconds()
    def client(c: Int): Unit = {
      var item = queue.next()
      while (item.nonEmpty) {
        val (pass, idx, e) = item.get
        execs.add(runOne(spark, wl, a, clock, tracer, log, label, c, pass, idx, e,
          s"$resDir/c$c-p$pass-i$idx"))
        item = queue.next()
      }
    }
    val threads = (0 until wl.clients).map(c => new Thread(() => client(c), s"perfbench-client-$c"))
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = clock.now() - queue.t0
    val counters1 = Instrument.snapshot()
    ListMap(
      "label" -> label, "traced" -> tracer.enabled, "wall_s" -> wall,
      "passes" -> queue.passes, "cpu_s" -> (cpuSeconds() - cpu0),
      "jvm_gc_s" -> (gcSeconds() - gc0),
      "codegen_compiles" -> (Internals.codegenCompiles() - codegen0),
      "counters" -> (counters1.keySet ++ counters0.keySet).toSeq.sorted.map(k =>
        k -> (counters1.getOrElse(k, 0L) - counters0.getOrElse(k, 0L))).to(ListMap),
      "execs" -> execs.asScala.toSeq.sortBy(_.start).map(x => ListMap(
        "client" -> x.client, "pass" -> x.pass, "idx" -> x.idx, "entry" -> x.entry.name,
        "group" -> x.group, "start" -> x.start, "end" -> x.end,
        "error" -> x.error, "path" -> x.path, "layers" -> x.layers)))
  }

  /** Runs one entry to its full result under its own job group. */
  def runOne(spark: SparkSession, wl: Workload, a: Args, clock: Clock, tracer: Tracer,
      log: Option[JobLog], label: String, client: Int, pass: Int, idx: Int, e: Entry,
      path: String): Exec = {
    val sc = spark.sparkContext
    val group = s"$label-c$client-p$pass-i$idx-${e.name}"
    sc.setJobGroup(group, e.name, interruptOnCancel = false)
    var planMs = Map.empty[String, Long]
    var shape = (0, 0)
    val t0 = clock.now()
    val error = try {
      tracer.span("query", client, group) {
        val df = tracer.span("operators.eager", client, group)(e.build(spark, s"${a.data}/${e.sf}"))
        tracer.span("plans.plan", client, group)(Internals.executedPlan(df))
        tracer.span("exec.action", client, group)(Internals.writeResult(df, path))
        if (tracer.enabled) {
          planMs = Internals.planPhasesMs(df)
          shape = Internals.planShape(df)
        }
        if (wl.releaseStorage)
          tracer.span("storage.release", client, group)(spark.catalog.clearCache())
      }
      None
    } catch {
      case t: Throwable =>
        System.err.println(s"[perfbench] FAILED ${e.name}: $t")
        Some(Option(t.getMessage).getOrElse(t.getClass.getName).takeWhile(_ != '\n').take(300))
    }
    val t1 = clock.now()
    sc.clearJobGroup()
    System.err.println(f"[perfbench] $group ${t1 - t0}%.3f s")
    val layers: Map[String, Any] = log match {
      case Some(l) =>
        Internals.drainListeners(sc)
        attachJobSpans(tracer, l, group, client, clock)
        val st = l.groupStats(group).getOrElse(new GroupStats)
        val (hb, hblocks) = held(spark)
        ListMap(
          "plan_ms" -> planMs, "exchanges" -> shape._1, "graft_nodes" -> shape._2,
          "jobs" -> st.jobs, "stages" -> st.stages, "tasks" -> st.tasks,
          "failed_tasks" -> st.failedTasks, "task_s" -> st.taskMs / 1e3,
          "task_cpu_s" -> st.taskCpuNs / 1e9, "gc_s" -> st.gcMs / 1e3,
          "shuffle_write_bytes" -> st.shuffleWriteBytes,
          "shuffle_read_bytes" -> st.shuffleReadBytes, "spill_bytes" -> st.spillBytes,
          "input_bytes" -> st.inputBytes, "input_rows" -> st.inputRows,
          "held_bytes" -> hb, "held_blocks" -> hblocks)
      case None => Map.empty
    }
    Exec(client, pass, idx, e, group, t0, t1, error, path, layers)
  }

  /** Adds one `job` span per Spark job of `group`, parented to the layer
    * span of that query execution that was open when the job started. */
  private def attachJobSpans(tracer: Tracer, log: JobLog, group: String, client: Int,
      clock: Clock): Unit = {
    val mine = tracer.all.filter(_.group == group)
    val root = mine.find(_.name == "query")
    val layers = mine.filter(s => root.exists(_.id == s.parent))
    log.jobsOf(group).foreach { j =>
      val start = clock.fromEpochMs(j.startMs)
      val end = if (j.endMs >= 0) clock.fromEpochMs(j.endMs) else start
      val parent = layers.find(s => s.start <= start && start <= s.end)
        .orElse(root).map(_.id).getOrElse(-1)
      tracer.record(parent, "job", client, group, start, end)
    }
  }
}
