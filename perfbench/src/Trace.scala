package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory trace collector: spans around the benchmark's calls into the
  * engine, plus Spark counters attributed to the span that caused them.
  *
  * A span is (id, name, parent, op, start, end). The innermost open span
  * of a thread is published as the Spark local property [[SpanKey]], so
  * every job, stage and task the call launches is charged to it by the
  * listener. Nothing is written until [[dump]] runs at the end of the run.
  */
final class Trace(sc: SparkContext) {
  import Trace._

  private val nextId = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val counters = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { id =>
        val c = countersOf(id)
        c.synchronized { c.jobs += 1; c.stages += e.stageInfos.size }
        e.stageInfos.foreach(s => stageSpan.put(s.stageId, id))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.get(e.stageId)
      if (id != 0L && e.taskMetrics != null) {
        val m = e.taskMetrics
        val c = countersOf(id)
        c.synchronized {
          c.tasks += 1
          c.runNs += m.executorRunTime * 1000000L
          c.cpuNs += m.executorCpuTime
          c.gcNs += m.jvmGCTime * 1000000L
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.input += m.inputMetrics.bytesRead
          c.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }
  sc.addSparkListener(listener)

  private def spanOf(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(q => Option(q.getProperty(SpanKey))).map(_.toLong)

  private def countersOf(id: Long): Counters = counters.computeIfAbsent(id, _ => new Counters)

  /** Run `body` inside a span named `name` for operation `op`, as a child
    * of the thread's innermost open span (or of `parent` when given, for
    * work handed to another thread).
    */
  def span[T](name: String, op: Long, parent: Long = -1L)(body: => T): T = {
    val id = nextId.incrementAndGet()
    val stack = open.get()
    val par = if (parent >= 0) parent else stack.headOption.getOrElse(0L)
    val prevProp = sc.getLocalProperty(SpanKey)
    open.set(id :: stack)
    sc.setLocalProperty(SpanKey, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, name, par, op, t0, System.nanoTime()))
      open.set(stack)
      sc.setLocalProperty(SpanKey, prevProp)
    }
  }

  /** Id of the thread's innermost open span (0 outside any span). */
  def current: Long = open.get().headOption.getOrElse(0L)

  /** Wait for the listener bus so every task of finished jobs is counted. */
  def drain(): Unit = {
    val m = sc.getClass.getMethod("listenerBus")
    val bus = m.invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toSeq }

  def countersFor(id: Long): Counters = Option(counters.get(id)).getOrElse(new Counters)

  /** Every span of the given ops and all their descendants' counters. */
  def totals(ops: Set[Long]): Counters = {
    val sum = new Counters
    all.filter(s => ops(s.op)).foreach(s => sum.add(countersFor(s.id)))
    sum
  }

  /** Write one JSON line per span, with its counters, to `path`. */
  def dump(path: Path): Unit = {
    val lines = all.sortBy(_.start).map { s =>
      val c = countersFor(s.id)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"jobs":${c.jobs},"stages":${c.stages},""" +
        s""""tasks":${c.tasks},"run_ns":${c.runNs},"cpu_ns":${c.cpuNs},"gc_ns":${c.gcNs},""" +
        s""""shuffle_read":${c.shuffleRead},"shuffle_write":${c.shuffleWrite},""" +
        s""""spill":${c.spill},"input":${c.input},"output":${c.output}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  final case class Span(id: Long, name: String, parent: Long, op: Long, start: Long, end: Long) {
    def seconds: Double = (end - start) / 1e9
  }

  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runNs = 0L; var cpuNs = 0L; var gcNs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var input = 0L; var output = 0L

    def add(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      runNs += o.runNs; cpuNs += o.cpuNs; gcNs += o.gcNs
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
      input += o.input; output += o.output
    }
  }
}
