package graft.perfbench

import org.apache.spark.sql.SparkSession

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Benchmark entry point: one workload, one seed, one JVM.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Prints every metric as `name value unit`, then one JSON line
  * `{"correct", "attempted", "failed", "metrics"}`; exits 1 when any
  * output check failed. With `--trace 0` the metrics are the end-to-end
  * ones, measured untraced; with `--trace 1` the per-layer ones. */
object Main {
  /** Set-ups per untraced run; `setup_s` is their median. */
  val SetupReps = 3
  /** Timed passes at least, even past `--seconds`. */
  val MinPasses = 3

  /** local[N]: one core is left to the driver, GC and JIT threads (pass
    * times spread half as much as with every core busy); at most 4. */
  def defaultCores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors() - 1))

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val cores = Main.defaultCores
    val work = Paths.get(a("work")).toAbsolutePath
    val dir = work.resolve(s"${a("workload")}-${ProcessHandle.current().pid()}")
    val wl = Workloads.byName(a("workload"), cores, seed)
    val load = Files.readString(Paths.get("/proc/loadavg")).split(" ")
    println(s"workload ${wl.name} seed $seed cores $cores trace ${if (traced) 1 else 0} " +
      s"loadavg_1m ${load(0)} loadavg_5m ${load(1)}")
    println(s"generator ${wl.settings}")
    val run = new Run(wl, dir, work, cores)
    val (metrics, attempted, failed) =
      try if (traced) run.traced(seconds) else run.untraced(seconds)
      finally { run.stop(); deleteTree(dir) }
    val all = if (traced) Metrics.perLayer else Metrics.endToEnd
    for (m <- all) println(f"${m.name}%-36s ${metrics.getOrElse(m.name, 0.0)}%.6f ${m.unit}")
    println(f"${"error_rate"}%-36s ${failed.toDouble / attempted}%.6f ratio ($failed of $attempted passes)")
    run.problems.foreach(p => println(s"CHECK FAILED: $p"))
    val json = all.map(m => s""""${m.name}": {"value": ${metrics.getOrElse(m.name, 0.0)}, "unit": "${m.unit}"}""")
      .mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$json}}""")
    if (failed > 0) sys.exit(1)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** One timed pass: wall seconds, peak memory MB, outcome. */
final case class Timed(wall: Double, memMb: Double, o: Outcome)

/** One run's session, passes and check results. */
final class Run(wl: Workload, dir: Path, work: Path, cores: Int) {
  import Main.median

  private var spark: SparkSession = _
  val problems = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0

  /** A fresh session; scratch files go where SPARK_LOCAL_DIRS points
    * (run.py points it into the checkout). */
  private def start(master: Int): SparkSession = {
    stop()
    spark = SparkSession.builder()
      .master(s"local[$master]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  /** Records a pass's outcome; a thrown pass counts as failed. */
  private def attempt(body: => Outcome): Option[Outcome] = {
    attempted += 1
    val o = try Right(body) catch { case NonFatal(e) => Left(s"${wl.name}: ${e}") }
    val ps = o.fold(Vector(_), _.problems)
    if (ps.nonEmpty) { failed += 1; problems ++= ps }
    o.toOption
  }

  private val heapPoolNames = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  /** Largest heap use right after a collection since the last reset: what
    * the program still held, without the garbage it made in between. A
    * peak between collections would follow when the collector ran: a pass
    * allocates humongous arrays straight into the old pool, and the heap
    * fills to its limit before each young collection. */
  private var liveAfterGc = 0L
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPoolNames(pool) => u.getUsed }.sum
        synchronized { liveAfterGc = math.max(liveAfterGc, used) }
      }, null, null)
    case _ =>
  }

  /** Collects the garbage of earlier passes, then resets the live-heap
    * peak and the resident high-water mark. */
  private def resetPeakMem(): Unit = {
    System.gc()
    synchronized { liveAfterGc = 0L }
    try Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
    catch { case NonFatal(_) => }
  }

  /** Memory a pass held, in MB: the largest heap use after a collection,
    * during the pass or in a full collection at its end, plus the resident
    * high-water mark above the heap. The heap is pre-touched, so all of it
    * is resident; what VmHWM shows beyond it is native memory. */
  private def peakMemMb(): Double = {
    val hwmKb = Files.readAllLines(Paths.get("/proc/self/status"), UTF_8).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    val heapResident = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted
    System.gc()
    val retained = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val live = math.max(retained, synchronized(liveAfterGc))
    (live + math.max(0L, hwmKb * 1024 - heapResident)) / (1024.0 * 1024)
  }

  /** Closed loop, one client: passes back to back until `seconds` have
    * passed and at least [[Main.MinPasses]] ran. */
  private def loop(seconds: Double, minPasses: Int): Seq[Timed] = {
    val out = mutable.ArrayBuffer.empty[Timed]
    val t0 = System.nanoTime()
    var n = 0
    while (n < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      n += 1
      resetPeakMem()
      val s = System.nanoTime()
      val o = attempt(wl.pass(spark, dir))
      val wall = (System.nanoTime() - s) / 1e9
      o.foreach(x => out += Timed(wall, peakMemMb(), x))
    }
    out.toSeq
  }

  /** Set-up is timed [[Main.SetupReps]] times from a stopped session:
    * session start, input generation, one warm-up pass. The workload's
    * one-time set-up (model training) runs in the first and its time is
    * added to the median. The timed passes then run on the last set-up. */
  def untraced(seconds: Double): (Map[String, Double], Int, Int) = {
    var onceS = 0.0
    val setups = (1 to Main.SetupReps).map { rep =>
      stop()
      val t0 = System.nanoTime()
      start(cores)
      wl.prepare(spark, dir)
      if (rep == 1) {
        val t = System.nanoTime()
        wl.once(spark, dir, None)
        onceS = (System.nanoTime() - t) / 1e9
      }
      attempt(wl.pass(spark, dir))
      (System.nanoTime() - t0) / 1e9 - (if (rep == 1) onceS else 0.0)
    }
    wl.reference(spark, dir)
    val passes = loop(seconds, Main.MinPasses)
    val quality = passes.map(p => (p.o.recall, p.o.precision)).distinct
    if (quality.size > 1) {
      failed += 1
      problems += s"${wl.name}: recall/precision differ between passes: $quality"
    }
    val wall = median(passes.map(_.wall))
    val m = Map(
      "wall_s" -> wall,
      "pairs_per_s" -> (if (passes.isEmpty) 0.0 else passes.head.o.pairs / wall),
      "setup_s" -> (median(setups) + onceS),
      "peak_mem_mb" -> median(passes.map(_.memMb)),
      "dup_recall" -> passes.headOption.map(_.o.recall).getOrElse(0.0),
      "dup_precision" -> passes.headOption.map(_.o.precision).getOrElse(0.0))
    println(s"timed passes ${passes.size}, walls ${passes.map(p => f"${p.wall}%.3f").mkString(" ")}")
    println(s"setups ${setups.map(s => f"$s%.3f").mkString(" ")}, once $onceS")
    (m, attempted, failed)
  }

  /** One set-up, untraced passes for the overhead baseline, one traced
    * pass, then one pass at local[1] for the single-core ratio. */
  def traced(seconds: Double): (Map[String, Double], Int, Int) = {
    start(cores)
    val tr = new Tracer(spark.sparkContext)
    wl.prepare(spark, dir)
    wl.once(spark, dir, Some(tr))
    attempt(wl.pass(spark, dir))
    wl.reference(spark, dir)
    val base = median(loop(seconds / 2, Main.MinPasses).map(_.wall))
    val lm = mutable.Map.empty[String, Double]
    attempt(tr.span("run")(wl.tracedPass(spark, dir, tr, lm)))
    val runSpan = tr.get("run").get
    val inRun = tr.spans.filter(s => s.name == "run" || s.parent.contains("run")).map(_.name)
    val st = new SparkStats
    inRun.foreach(n => st.add(tr.stats(n)))
    tr.stop()
    Files.createDirectories(work)
    Files.writeString(work.resolve(s"trace-${wl.name}.json"), tr.toJson)
    for (s <- tr.spans if s.parent.contains("run")) {
      val self = tr.selfSeconds(s)
      println(f"span ${s.name}%-26s self_s $self%.3f share ${self / runSpan.seconds}%.3f")
    }

    start(1)
    val t0 = System.nanoTime()
    attempt(wl.pass(spark, dir))
    val single = (System.nanoTime() - t0) / 1e9

    val m = lm ++ Map(
      "spark.jobs" -> st.jobs.toDouble,
      "spark.stages" -> st.stages.toDouble,
      "spark.tasks" -> st.tasks.toDouble,
      "spark.executor_s" -> st.executorMs / 1e3,
      "spark.scheduler_delay_s" -> st.schedulerDelayMs / 1e3,
      "spark.shuffle_write_bytes" -> st.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> st.spillBytes.toDouble,
      "spark.gc_s" -> st.gcMs / 1e3,
      "spark.failed_tasks" -> st.failedTasks.toDouble,
      "spark.core_busy" -> st.executorMs / 1e3 / (runSpan.seconds * cores),
      "spark.single_core_ratio" -> single / base,
      "trace.overhead" -> runSpan.seconds / base,
      "trace.unattributed_share" -> tr.selfSeconds(runSpan) / runSpan.seconds)
    (m.toMap, attempted, failed)
  }
}
