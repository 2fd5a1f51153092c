package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

final case class Span(id: Long, parent: Long, kind: String, name: String,
                      startMs: Double, endMs: Double)

/** Spans recorded in memory and written out when the run ends. Times are
  * epoch milliseconds, the clock Spark's listener events carry, so harness
  * spans and Spark job spans nest by time. */
final class Spans {
  private val ids = new AtomicLong(0L)
  private val buf = ArrayBuffer.empty[Span]

  def nowMs: Double = System.currentTimeMillis().toDouble

  def add(parent: Long, kind: String, name: String,
          startMs: Double, endMs: Double): Long = synchronized {
    val id = ids.incrementAndGet()
    buf += Span(id, parent, kind, name, startMs, endMs)
    id
  }

  /** Times `body`, which receives the span's id, and records the span;
    * returns the result and the elapsed seconds. */
  def around[T](parent: Long, kind: String, name: String)(body: Long => T): (T, Double) = {
    val id = synchronized(ids.incrementAndGet())
    val t0 = nowMs
    val n0 = System.nanoTime()
    val r = body(id)
    val s = (System.nanoTime() - n0) / 1e9
    synchronized { buf += Span(id, parent, kind, name, t0, nowMs) }
    (r, s)
  }

  def all: Seq[Span] = synchronized(buf.toList)
}

/** Spark engine counters, attributed to the harness phase (a query) that
  * was active on the submitting thread when each job began. */
final class EngineCounters {
  val jobs, stages, tasks, cpuNs, runMs, gcMs, shuffleW, shuffleR, spill =
    new AtomicLong(0L)
  def asMap: Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble, "executor_cpu_s" -> cpuNs.get / 1e9,
    "executor_run_s" -> runMs.get / 1e3, "gc_s" -> gcMs.get / 1e3,
    "shuffle_write_bytes" -> shuffleW.get.toDouble,
    "shuffle_read_bytes" -> shuffleR.get.toDouble,
    "spill_bytes" -> spill.get.toDouble)
}

object Probe {
  val PhaseProperty = "perfbench.phase"
}

/** SparkListener registered only in traced runs. */
final class Probe(spans: Spans) extends SparkListener {
  import Probe.PhaseProperty
  private val byPhase = new ConcurrentHashMap[String, EngineCounters]()
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (Double, String)]()

  def counters(phase: String): EngineCounters =
    byPhase.computeIfAbsent(phase, _ => new EngineCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseProperty)))
      .getOrElse("")
    counters(phase).jobs.incrementAndGet()
    e.stageIds.foreach(id => stagePhase.put(id, phase))
    jobStart.put(e.jobId, (e.time.toDouble, phase))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, phase) =>
      spans.add(0L, "job", s"$phase#${e.jobId}", t0, e.time.toDouble)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = counters(stagePhase.getOrDefault(e.stageInfo.stageId, ""))
    c.stages.incrementAndGet()
    ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counters(stagePhase.getOrDefault(e.stageId, ""))
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.runMs.addAndGet(m.executorRunTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.shuffleW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.shuffleR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    ()
  }
}

/** Samples the pinned (persisted or checkpointed) RDDs the program holds,
  * through SparkContext's public storage view. */
final class PinSampler(sc: SparkContext, periodMs: Long) {
  @volatile private var running = true
  val rddsMax = new AtomicLong(0L)
  val bytesMax = new AtomicLong(0L)

  def sample(): Unit = {
    rddsMax.accumulateAndGet(sc.getPersistentRDDs.size.toLong, math.max)
    val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    bytesMax.accumulateAndGet(bytes, math.max)
    ()
  }

  private val thread = new Thread(() => {
    while (running) {
      try sample() catch { case _: Exception => () }
      Thread.sleep(periodMs)
    }
  }, "perfbench-pins")
  thread.setDaemon(true)
  thread.start()

  def stop(): Unit = { running = false; thread.join(); sample() }
}

/** Collects StreamingQueryProgress of the measured stream. */
final class ProgressLog extends StreamingQueryListener {
  private val buf = ArrayBuffer.empty[StreamingQueryProgress]
  def all: Seq[StreamingQueryProgress] = synchronized(buf.toList)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { buf += e.progress; () }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
