package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** In-memory span recorder. A span is (name, start, end, parent, request
  * id); the parent is the enclosing span on the same thread. Spans stay in
  * memory until [[dump]] writes them out at the end of the run. While
  * disabled, [[span]] is a plain call with no bookkeeping. */
final class Tracer {
  @volatile var enabled: Boolean = false
  final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
                        parent: Long, request: Long)

  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val requestId = ThreadLocal.withInitial[Long](() => 0L)

  def setRequest(id: Long): Unit = requestId.set(id)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        done.add(Span(id, name, t0, t1, parent, requestId.get()))
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq

  /** Duration minus the union of the intervals its direct children cover. */
  def selfTimes: Map[Long, Long] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + (b - math.max(a, reach)), b)
        }._1
      s.id -> ((s.endNs - s.startNs) - covered)
    }.toMap
  }

  /** Durations (seconds) of every span with this name. */
  def durations(name: String): Seq[Double] =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9)

  def dump(path: java.nio.file.Path): Unit = {
    val self = selfTimes
    val lines = spans.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"request":${s.request},""" +
        s""""self_ns":${self(s.id)}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Engine-side counters, as a listener registered by the benchmark sees
  * them: jobs, tasks, shuffle, spill, GC, executor CPU, and how long each
  * task waited between its stage's submission and its own launch. */
final class EngineCounters extends SparkListener {
  val jobs = new LongAdder
  val tasks = new LongAdder
  val shuffleBytes = new LongAdder
  val spillBytes = new LongAdder
  val gcMs = new LongAdder
  val cpuNs = new LongAdder
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val waits = new ConcurrentLinkedQueue[java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val submitted = stageSubmit.get(e.stageId)
    if (submitted != 0L) waits.add(math.max(0L, e.taskInfo.launchTime - submitted))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.add(m.jvmGCTime)
      cpuNs.add(m.executorCpuTime)
    }
  }

  final case class Snapshot(jobs: Long, tasks: Long, shuffleBytes: Long,
                            spillBytes: Long, gcMs: Long, cpuNs: Long,
                            waitsSeen: Int)

  def snapshot: Snapshot = Snapshot(jobs.sum, tasks.sum, shuffleBytes.sum,
    spillBytes.sum, gcMs.sum, cpuNs.sum, waits.size)

  def waitsSince(s: Snapshot): Seq[Double] =
    waits.asScala.toSeq.drop(s.waitsSeen).map(_.toDouble)
}

/** A fixed single-thread CPU kernel. Timed before and after the measured
  * window, it flags a run that landed in a slow window of the host; it
  * never feeds an end-to-end metric. */
object HostProbe {
  def run(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < 20000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xFF
      i += 1
    }
    if (acc == 42) println("") // keeps the loop from being optimized away
    (System.nanoTime() - t0) / 1e6
  }
}

/** Per-workload counters the traced run reports as per-layer metrics. */
final class LayerCounts {
  private val values = mutable.LinkedHashMap.empty[String, Double]
  def add(name: String, v: Double): Unit =
    synchronized(values(name) = values.getOrElse(name, 0d) + v)
  def get(name: String): Option[Double] = synchronized(values.get(name))
}
