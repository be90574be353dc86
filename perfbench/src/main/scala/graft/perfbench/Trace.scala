package graft.perfbench

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark task and stage metrics summed over the jobs of one span. */
final class SparkStats {
  var jobs, stages, tasks, failedTasks = 0L
  var executorMs, schedulerDelayMs, gcMs = 0L
  var shuffleWriteBytes, spillBytes, bytesRead, bytesWritten = 0L
  /** stage id → task durations (ms), for the skew of the heaviest stage */
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** stage id → shuffle records written */
  val shuffleRecords = mutable.Map.empty[Int, Long]

  def add(o: SparkStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    executorMs += o.executorMs; schedulerDelayMs += o.schedulerDelayMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    bytesRead += o.bytesRead; bytesWritten += o.bytesWritten
    o.taskMs.foreach { case (s, d) => taskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= d }
    o.shuffleRecords.foreach { case (s, n) => shuffleRecords(s) = shuffleRecords.getOrElse(s, 0L) + n }
  }

  /** Shuffle records written by the stage that wrote the most. */
  def maxStageShuffleRecords: Long = shuffleRecords.values.foldLeft(0L)(math.max)

  /** Max over median task time in the stage with the most task time. */
  def taskSkew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val d = taskMs.values.maxBy(_.sum).sorted
      val med = math.max(1L, d(d.size / 2))
      d.last.toDouble / med
    }
}

/** Attributes every task of the session to the job group its job was
  * submitted under: the benchmark sets one group per span. */
final class SpanListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  val byGroup = mutable.Map.empty[String, SparkStats]

  private def stats(g: String) = byGroup.getOrElseUpdate(g, new SparkStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    stats(g).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stats(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageGroup.getOrElse(e.stageId, ""))
    s.tasks += 1
    if (e.reason != Success) s.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      s.executorMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.schedulerDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.bytesRead += m.inputMetrics.bytesRead
      s.bytesWritten += m.outputMetrics.bytesWritten
      s.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
      s.shuffleRecords(e.stageId) =
        s.shuffleRecords.getOrElse(e.stageId, 0L) + m.shuffleWriteMetrics.recordsWritten
    }
  }
}

/** A named interval; `parent` is the enclosing span's name. */
final case class Span(name: String, parent: Option[String], startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder for one traced pass. Each span runs its body
  * under `setJobGroup(name)`, so the listener bills the body's Spark jobs
  * to it; nested spans restore the enclosing group when they end. */
final class Tracer(sc: SparkContext) {
  val listener = new SpanListener
  sc.addSparkListener(listener)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[String]

  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption
    stack = name :: stack
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      parent match {
        case Some(p) => sc.setJobGroup(p, p)
        case None    => sc.clearJobGroup()
      }
      done += Span(name, parent, t0, t1)
    }
  }

  def spans: Seq[Span] = done.toSeq

  def get(name: String): Option[Span] = done.find(_.name == name)

  /** Duration minus the time its direct children cover (children of one
    * span run one after another, so their durations add). */
  def selfSeconds(s: Span): Double =
    s.seconds - done.filter(_.parent.contains(s.name)).map(_.seconds).sum

  /** Stats of a span's own group. */
  def stats(name: String): SparkStats = {
    Tracer.drainListenerBus(sc)
    listener.synchronized(listener.byGroup.getOrElse(name, new SparkStats))
  }

  def stop(): Unit = sc.removeSparkListener(listener)

  def toJson: String = done.map { s =>
    val self = selfSeconds(s)
    s"""{"name": "${s.name}", "parent": ${s.parent.fold("null")(p => s""""$p"""")}, """ +
      s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "self_s": $self}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  /** Listener events arrive asynchronously; wait until the session's
    * listener bus has delivered everything posted so far. The bus is not
    * public API, so it is reached reflectively; without it the benchmark
    * falls back to a short sleep. */
  def drainListenerBus(sc: SparkContext): Unit =
    try {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch {
      case _: ReflectiveOperationException => Thread.sleep(500)
    }
}
