package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Nearest-rank percentile; 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (p == 50 && s.size % 2 == 0) (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      else s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }
}

/** Peak heap use: the heap occupancy just before each collection (where
  * it peaks) and at the moment of reading, from the JVM's collection
  * notifications; and the peak live heap, the occupancy just after. */
object Heap {
  @volatile private var peak = 0L
  @volatile private var peakLive = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private def used(): Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  def install(): Unit = {
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          def heap(m: java.util.Map[String, java.lang.management.MemoryUsage]) =
            m.asScala.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          val before = heap(info.getGcInfo.getMemoryUsageBeforeGc)
          val after = heap(info.getGcInfo.getMemoryUsageAfterGc)
          synchronized {
            if (before > peak) peak = before
            if (after > peakLive) peakLive = after
          }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }

  def reset(): Unit = synchronized { peak = used(); peakLive = 0L }
  def peakBytes: Long = synchronized { math.max(peak, used()) }
  def peakLiveBytes: Long = peakLive
}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cpus: Int, work: Path, inputs: Path, results: Path)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cpus").toInt, Paths.get(need("work")),
      Paths.get(need("inputs")), Paths.get(need("results")))
  }
}

/** The benchmark's JVM side: one workload, one seed, one run.
  *
  * A run (1) starts the session, (2) generates or reuses the seeded
  * inputs and loads the expected answers (untimed), (3) runs the
  * program's one-time work [[SetupReps]] times and one warm-up pass;
  * `setup_s` is session start + the median one-time work + the warm-up
  * pass, the wait before the program serves at speed. (4) runs the
  * workload's `warmupPasses` more untimed passes, a count rather than a
  * time so a slow host starts timing as warm as a fast one, then (5)
  * repeats timed passes for `--seconds`; every pass's output is checked
  * after its clock stops. With `--trace 1`, (6) every timed pass is
  * followed by a traced one, with spans and listeners on. The last stdout
  * line is the result. */
object Main {
  val SetupReps = 3
  val MinPasses = 3
  val MinTracedPasses = 2

  def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", o.work.resolve("ckpt").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(' ')(0).toDouble
    catch { case _: Exception => -1.0 }

  /** A fixed CPU-and-shuffle probe (hash 2M ids into 1024 groups), best
    * of three. Recorded only, so host drift between two sets of runs is
    * visible; it never rescales a metric. */
  private def calibrate(spark: SparkSession): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      spark.range(0L, 2000000L, 1L, 8)
        .selectExpr("xxhash64(id) % 1024 AS k", "xxhash64(id + 1) AS v")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("v")).count()
      (System.nanoTime() - t0) / 1e9
    }.min

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def jsonObj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val w = Workload(o.workload)
    val runId = s"${o.workload}-s${o.seed}-t${if (o.trace) 1 else 0}-${System.currentTimeMillis()}"
    val loadStart = loadAvg()
    Heap.install()
    Files.createDirectories(o.work)
    var attempted = 0L
    var failed = 0L

    def tryPass(spark: SparkSession, tracer: Option[Tracer]): PassRun =
      try w.pass(spark, tracer)
      catch { case e: Exception =>
        System.err.println(s"[perfbench] ${o.workload}: pass failed: $e")
        e.printStackTrace()
        PassRun(1, Double.NaN, Nil, () => 1)
      }
    def checkPass(run: PassRun): Unit = {
      attempted += run.ops
      failed +=
        (try run.check()
        catch { case e: Exception =>
          System.err.println(s"[perfbench] ${o.workload}: check failed: $e")
          run.ops
        })
    }

    // (1)-(3): set-up; input generation and expected answers are timed apart
    val t0 = System.nanoTime()
    val spark = session(o)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tg = System.nanoTime()
    val (dir, manifest) = Inputs.cached(o.inputs, o.workload, o.seed)(d =>
      w.generate(spark, d, o.seed))
    w.prepare(spark, dir, o.work)
    val generateS = (System.nanoTime() - tg) / 1e9
    val onceS = (1 to SetupReps).map { rep =>
      val ts = System.nanoTime()
      w.setupOnce(spark, rep)
      (System.nanoTime() - ts) / 1e9
    }
    val tw = System.nanoTime()
    val warm = tryPass(spark, None)
    val warmS = (System.nanoTime() - tw) / 1e9
    checkPass(warm)
    val calib = calibrate(spark)

    // (4)-(6): warm-up, then timed passes
    /** One pass, checked after its clock stops: its wall time (a pass
      * that threw counts its elapsed time), its queries' latencies and its
      * parts' wall times. */
    def onePass(tracer: Option[Tracer]): (Double, Seq[Double], Seq[(String, Double)]) = {
      val p0 = System.nanoTime()
      val run = tryPass(spark, tracer)
      val elapsed = (System.nanoTime() - p0) / 1e9
      checkPass(run)
      (if (run.wallMs.isNaN) elapsed else run.wallMs / 1e3, run.queryMs, run.partMs)
    }
    (1 to w.warmupPasses).foreach(_ => onePass(None))
    // every timed window starts from the live set alone, whatever garbage
    // set-up and warm-up left in the old generation
    System.gc()
    val start = System.nanoTime()
    def timeLeft = System.nanoTime() - start < o.seconds * 1e9
    val plain = mutable.ArrayBuffer.empty[(Double, Seq[Double], Seq[(String, Double)])]
    val traced = mutable.ArrayBuffer.empty[Double]
    val tracer = new Tracer(runId)
    Heap.reset()
    if (!o.trace) while (plain.size < MinPasses || timeLeft) plain += onePass(None)
    else
      // untraced and traced passes alternate, so the JVM's warm-up weighs
      // on both alike; the listeners are attached for traced passes only
      while (traced.size < MinTracedPasses || timeLeft) {
        plain += onePass(None)
        tracer.install(spark)
        traced += tracer.span(spark.sparkContext, "pass")(onePass(Some(tracer)))._1
        tracer.uninstall(spark)
      }
    val peakHeap = Heap.peakBytes
    val peakLive = Heap.peakLiveBytes
    val timedLoad = loadAvg()
    val walls = plain.map(_._1).toSeq
    val lats = plain.flatMap(_._2).toSeq
    val partS = plain.flatMap(_._3).groupBy(_._1).toSeq.sortBy(_._1).map { case (n, ms) =>
      n -> ms.map(m => fmt(m._2 / 1e3)).mkString("[", ",", "]") }
    val wall = Stats.median(walls)
    val layer: Map[String, Double] = if (!o.trace) Map.empty else {
      val a = tracer.attribute()
      Files.createDirectories(o.results)
      Files.writeString(o.results.resolve(s"$runId.trace.json"), a.json)
      Metrics.layers(w, a, traced.toSeq, wall)
    }
    val loadEnd = loadAvg()
    spark.stop()

    val e2e = Seq(
      ("wall_s", wall, "s"),
      ("records_per_s", w.recordsPerPass / wall, "1/s"),
      ("setup_s", sessionS + Stats.median(onceS) + warmS, "s"),
      ("peak_heap_mb", peakHeap / 1048576.0, "MB"),
      ("ok_frac", (attempted - failed).toDouble / attempted, "fraction"),
      ("recall", w.recall, "fraction"),
      ("query_p50_ms", Stats.percentile(lats, 50), "ms"),
      ("query_p95_ms", Stats.percentile(lats, 95), "ms"))
    val layerRows =
      if (o.trace) Metrics.PerLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
      else Nil
    val shown = if (o.trace) layerRows else e2e
    def metricsJson(rows: Seq[(String, Double, String)]): String =
      jsonObj(rows.map { case (n, v, u) => n -> s"""{"value":${fmt(v)},"unit":"$u"}""" })
    val host = jsonObj(Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "cpus_used" -> o.cpus.toString,
      "heap_max_mb" -> fmt(Runtime.getRuntime.maxMemory / 1048576.0),
      "load1_start" -> fmt(loadStart), "load1_timed_end" -> fmt(timedLoad),
      "load1_end" -> fmt(loadEnd),
      "calibration_s" -> fmt(calib)))
    val samples = jsonObj(Seq(
      "warmup_passes" -> w.warmupPasses.toString,
      "passes" -> walls.size.toString, "queries" -> lats.size.toString,
      "pass_s" -> walls.map(fmt).mkString("[", ",", "]"),
      "part_s" -> jsonObj(partS),
      "session_s" -> fmt(sessionS),
      "once_s" -> onceS.map(fmt).mkString("[", ",", "]"),
      "warmup_s" -> fmt(warmS),
      "peak_live_heap_mb" -> fmt(peakLive / 1048576.0),
      "generate_s" -> fmt(generateS)))
    Files.createDirectories(o.results)
    Files.writeString(o.results.resolve(s"$runId.json"), jsonObj(Seq(
      "run_id" -> s""""$runId"""", "manifest" -> manifest.json, "host" -> host,
      "samples" -> samples, "metrics" -> metricsJson(e2e ++ layerRows),
      "attempted" -> attempted.toString, "failed" -> failed.toString)) + "\n")

    println(s"manifest ${manifest.json}")
    println(s"host $host")
    println(s"samples $samples")
    shown.foreach { case (n, v, u) => println(f"  $n%-28s ${fmt(v)}%s $u") }
    println(jsonObj(Seq("correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> metricsJson(shown))))
    System.out.flush()
    sys.exit(0)
  }
}

/** The per-layer metrics a traced run reports, by name and unit: every
  * run reports all of them, 0 where its workload does not exercise the
  * layer. */
object Metrics {
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.task_wait_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.failed_tasks" -> "count",
    "spark.sql_queries" -> "count",
    "facade.map_combine.busy_s" -> "s", "facade.combine.out_ratio" -> "ratio",
    "facade.shuffle.fetch_wait_s" -> "s", "facade.sort_reduce.busy_s" -> "s",
    "facade.reducer.skew" -> "ratio", "facade.write.busy_s" -> "s",
    "facade.write.bytes" -> "bytes",
    "text.verdict.busy_s" -> "s", "text.verdict.keep_ratio" -> "ratio",
    "dedup.lsh.busy_s" -> "s", "dedup.lsh.candidate_pairs" -> "count",
    "dedup.lsh.verified_pairs" -> "count", "dedup.lsh.verify_yield" -> "ratio",
    "dedup.cc.busy_s" -> "s", "dedup.cc.jobs" -> "count",
    "dedup.filter.busy_s" -> "s",
    "sim.index.build_s" -> "s", "sim.probe.rows_scored" -> "count",
    "sim.probe.bytes_read" -> "bytes", "sim.probe.jobs" -> "count",
    "sim.probe.useful_ratio" -> "ratio",
    "stream.batches" -> "count", "stream.batch_ms.p50" -> "ms",
    "stream.batch_ms.p95" -> "ms", "stream.state_rows" -> "count",
    "stream.state_bytes" -> "bytes", "stream.state_commit_ms" -> "ms",
    "sources.upsert.versions" -> "count", "sources.upsert.write_amp" -> "ratio",
    "sources.read.busy_s" -> "s",
    "facade.self_s" -> "s", "text.self_s" -> "s", "dedup.self_s" -> "s",
    "sim.self_s" -> "s", "stream.self_s" -> "s", "sources.self_s" -> "s",
    "trace.wall_s" -> "s", "trace.overhead_s" -> "s", "trace.spans" -> "count")

  /** Per-pass layer metrics of the traced passes. */
  def layers(w: Workload, a: Attributed, tracedWalls: Seq[Double],
      untracedWall: Double): Map[String, Double] = {
    val passes = tracedWalls.size
    val p = passes.toDouble
    val all = a.spans.map(_.id).toSet
    val ts = a.tasksIn(all)
    val self = a.selfByLayer
    val spark = Map(
      "spark.jobs" -> a.jobsIn(all) / p,
      "spark.stages" -> a.stagesIn(all).size / p,
      "spark.tasks" -> ts.size / p,
      "spark.executor_run_s" -> ts.map(_.runS).sum / p,
      "spark.executor_cpu_s" -> ts.map(_.cpuS).sum / p,
      "spark.gc_s" -> ts.map(_.gcS).sum / p,
      "spark.task_wait_s" -> ts.map(t => t.schedDelayS + t.fetchWaitS).sum / p,
      "spark.shuffle_write_bytes" -> ts.map(_.shuffleWriteBytes).sum / p,
      "spark.shuffle_read_bytes" -> ts.map(_.shuffleReadBytes).sum / p,
      "spark.spill_bytes" -> ts.map(_.spillBytes).sum / p,
      "spark.failed_tasks" -> ts.count(_.failed) / p,
      "spark.sql_queries" -> a.queries.size / p)
    val selves = Seq("facade", "text", "dedup", "sim", "stream", "sources")
      .map(l => s"$l.self_s" -> self.getOrElse(l, 0.0) / p).toMap
    // the overhead leaves out the benchmark-only spans (layer "bench")
    // inside each traced pass: that work is measurement, not tracing
    val benchOnly = a.spans.filter(_.layer == "bench")
    val netWalls = a.spans.filter(_.name == "pass").sortBy(_.startNs)
      .zip(tracedWalls).map { case (p, wall) =>
        wall - benchOnly.filter(s => s.startNs >= p.startNs && s.endNs <= p.endNs)
          .map(_.seconds).sum }
    spark ++ w.layerMetrics(a, passes) ++ selves ++ Map(
      "trace.wall_s" -> Stats.median(tracedWalls),
      "trace.overhead_s" -> (Stats.median(netWalls) - untracedWall),
      "trace.spans" -> a.spans.size / p)
  }
}
