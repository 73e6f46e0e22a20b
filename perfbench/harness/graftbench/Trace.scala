package graftbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one span: counted from the jobs that carry
  * the span's job tag. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var taskNs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var planMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; taskNs += o.taskNs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; planMs += o.planMs
  }
}

final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long,
                      startMs: Long, @volatile var endMs: Long)

/** In-memory span recorder. With `enabled` false (the untraced run)
  * only wall times are kept: no job tags are set and no listener is
  * registered, so the measured calls run exactly as a user's would.
  *
  * Attribution: each span sets the job tag `perfbench-span:<id>` on
  * the calling thread while it is the innermost open span. Spark
  * copies the calling thread's tags into every job it submits,
  * including jobs submitted from helper threads (broadcasts) and from
  * threads the call starts (streaming drains inherit the local
  * properties), so the listener can charge each job's stages and
  * tasks to the span that caused them. A thread created while a span
  * is open inherits its tag for good, so a job counts only if it starts
  * before its span ends; a stage counts for the last job that ran it. */
final class Trace(spark: SparkSession, val enabled: Boolean, runId: String) {
  private val Prefix = "perfbench-span:"
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .getOrElse("")
      val span = tags.split(",").find(_.startsWith(Prefix))
        .map(t => spans.synchronized(spans(t.stripPrefix(Prefix).toInt)))
        .filter(s => s.endMs < 0 || e.time <= s.endMs)
      // a later job can run an earlier job's stage again (same stage id):
      // its tasks belong to the later job's span, or to none
      e.stageIds.foreach { st =>
        span.fold(stageSpan.remove(st))(s => stageSpan.put(st, s.id))
      }
      span.foreach { s =>
        val c = counters.computeIfAbsent(s.id, _ => new Counters)
        c.synchronized { c.jobs += 1; c.stages += e.stageIds.size }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val id = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (id != null && m != null) {
        val c = counters.computeIfAbsent(id, _ => new Counters)
        c.synchronized {
          c.taskNs += m.executorRunTime * 1000000L
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  if (enabled) spark.sparkContext.addSparkListener(Listener)

  private def tag(id: Int) = Prefix + id

  /** Runs `body` inside a new child span of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val parent = open.headOption.getOrElse(-1)
    val s = spans.synchronized {
      val x = Span(spans.length, name, parent, System.nanoTime(), -1L,
        System.currentTimeMillis(), -1L)
      spans += x
      x
    }
    if (enabled) {
      open.headOption.foreach(p => spark.sparkContext.removeJobTag(tag(p)))
      spark.sparkContext.addJobTag(tag(s.id))
    }
    open = s.id :: open
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      if (enabled) {
        spark.sparkContext.removeJobTag(tag(s.id))
        open.headOption.foreach(p => spark.sparkContext.addJobTag(tag(p)))
      }
    }
  }

  /** The span most recently opened under `name`. */
  def last(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)

  /** Planning time of an action, recorded by its caller from the
    * action's QueryPlanningTracker. */
  def addPlanMs(s: Span, ms: Long): Unit =
    if (enabled) {
      val c = counters.computeIfAbsent(s.id, _ => new Counters)
      c.synchronized(c.planMs += ms)
    }

  /** The span's own counters plus those of all its descendants (call
    * [[drain]] first). */
  def totals(s: Span): Counters = {
    val out = new Counters
    val kids = spans.groupBy(_.parent)
    def walk(x: Span): Unit = {
      Option(counters.get(x.id)).foreach(c => c.synchronized(out.add(c)))
      kids.getOrElse(x.id, Nil).foreach(walk)
    }
    walk(s)
    out
  }

  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Every span with its self time (duration minus the union of its
    * children's intervals) and its own Spark counters. */
  def dump: Seq[Map[String, Any]] = {
    val kids = spans.groupBy(_.parent)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.toSeq.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
        .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, hiEnd), (a, b)) =>
          val lo = math.max(a, hiEnd)
          (if (b > lo) sum + (b - lo) else sum, math.max(hiEnd, b))
        }._1
      val c = Option(counters.get(s.id)).getOrElse(new Counters)
      Map[String, Any]("run" -> runId, "id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_s" -> (s.startNs - t0) / 1e9,
        "end_s" -> (s.endNs - t0) / 1e9, "self_s" -> (s.endNs - s.startNs - covered) / 1e9,
        "jobs" -> c.jobs, "stages" -> c.stages, "task_s" -> c.taskNs / 1e9,
        "shuffle_read_bytes" -> c.shuffleRead, "shuffle_write_bytes" -> c.shuffleWrite,
        "spill_bytes" -> c.spill, "plan_ms" -> c.planMs)
    }
  }
}
