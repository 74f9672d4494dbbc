package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the result line and the trace sidecar. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      d.toString
    case f: Float => apply(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ": " + apply(x) }
        .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ", ", "]")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** One timed interval around a call into a layer. Times are wall-clock
  * milliseconds (the clock Spark stamps its own events with, so jobs and
  * planning phases can be attributed to the span they ran inside).
  */
final case class Span(id: Int, name: String, startMs: Long, endMs: Long,
                      parent: Int, run: String)

/** The traced run's in-memory ledger: spans at every layer boundary the
  * benchmark calls into, plus named counters. Disabled, `span` is a plain
  * call and nothing is recorded, so the untraced run pays nothing.
  */
final class Ledger(val enabled: Boolean, val run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var muted = false
  val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def span[T](name: String)(body: => T): T =
    if (!enabled || muted) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.currentTimeMillis()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, t0, System.currentTimeMillis(), parent, run)
      }
    }

  /** A span whose inner spans and counters are not recorded: work that
    * runs the layers outside the measured phase.
    */
  def quiet[T](name: String)(body: => T): T = span(name) {
    muted = true
    try body finally muted = false
  }

  def add(name: String, v: Double): Unit =
    if (enabled && !muted) counters(name) = counters.getOrElse(name, 0.0) + v

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def toJson(extra: Map[String, Any]): String = Json(Map(
    "run" -> run,
    "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name,
      "start" -> s.startMs, "end" -> s.endMs, "parent" -> s.parent,
      "run" -> s.run)),
    "counters" -> counters) ++ extra)
}

/** Engine work attributed to an interval: counts, busy time (union of
  * job intervals) and planning time.
  */
final case class Work(jobs: Int, stages: Int, tasks: Long, inputRows: Long,
                      shuffleWriteBytes: Long, sqlExecs: Int, planMs: Long,
                      busyMs: Long) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    inputRows + o.inputRows, shuffleWriteBytes + o.shuffleWriteBytes,
    sqlExecs + o.sqlExecs, planMs + o.planMs, busyMs + o.busyMs)
}

object Work {
  val zero: Work = Work(0, 0, 0, 0, 0, 0, 0, 0)
}

/** Engine-side event capture for the traced run: one SparkListener (jobs,
  * stages, tasks, SQL executions), one QueryExecutionListener (analysis +
  * optimization + planning phases) and one StreamingQueryListener
  * (micro-batch `durationMs`). Events are stored raw with their own
  * timestamps and attributed to ledger spans after the bus drains.
  */
final class EngineEvents extends SparkListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int],
                       callSite: String)
  final case class StageWork(var tasks: Long = 0, var inputRows: Long = 0,
                             var shuffleWriteBytes: Long = 0)
  final case class Plan(startMs: Long, ms: Long)
  final case class Batch(startMs: Long, inputRows: Long, durations: Map[String, Long])

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  val stageWork = mutable.HashMap.empty[Int, StageWork]
  val sqlStarts = mutable.ArrayBuffer.empty[Long]
  val plans = mutable.ArrayBuffer.empty[Plan]
  val batches = mutable.ArrayBuffer.empty[Batch]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = Option(e.properties).flatMap(p => Option(p.getProperty("callSite.short")))
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageIds, site.getOrElse(""))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = stageWork.getOrElseUpdate(e.stageId, StageWork())
    w.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      w.inputRows += m.inputMetrics.recordsRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlStarts += s.time }
    case _ =>
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) EngineEvents.this.synchronized {
        plans += Plan(phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum)
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      EngineEvents.this.synchronized { batches += Batch(start, p.numInputRows, d) }
    }
  }

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every started job has ended and the counts stop moving —
    * the listener buses are asynchronous.
    */
  def drain(): Unit = {
    var last = -1L
    var stable = 0
    val deadline = System.currentTimeMillis() + 10000
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val (open, sig) = synchronized {
        (jobs.values.count(_.endMs < 0),
          jobs.size.toLong * 1000003 + stageWork.values.map(_.tasks).sum +
            plans.size * 7919L + batches.size * 104729L)
      }
      if (open == 0 && sig == last) stable += 1 else stable = 0
      last = sig
    }
  }

  /** Engine work whose start falls inside [from, to]. */
  def window(from: Long, to: Long): Work = synchronized {
    val js = jobs.values.filter(j => j.startMs >= from && j.startMs <= to).toSeq
    val stages = js.flatMap(_.stages)
    val work = stages.flatMap(stageWork.get)
    // union of job intervals = time at least one job ran
    val ivs = js.map(j => (j.startMs, if (j.endMs < 0) to else math.min(j.endMs, to)))
      .sortBy(_._1)
    var busy = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ivs.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    Work(js.size, stages.size, work.map(_.tasks).sum, work.map(_.inputRows).sum,
      work.map(_.shuffleWriteBytes).sum,
      sqlStarts.count(t => t >= from && t <= to),
      plans.filter(p => p.startMs >= from && p.startMs <= to).map(_.ms).sum, busy)
  }

  /** Every job with its interval and the engine call site that ran it. */
  def jobRecords: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map(j => Map("id" -> j.id, "start" -> j.startMs, "end" -> j.endMs,
      "stages" -> j.stages.size, "site" -> j.callSite))
  }

  def batchesIn(from: Long, to: Long): Seq[Batch] = synchronized {
    batches.filter(b => b.startMs >= from && b.startMs <= to).toSeq
  }
}

/** JVM-level figures that let a reader separate host drift from plan
  * changes using the artifact alone.
  */
object Host {
  @volatile private var sink = 0.0

  /** A fixed pure-JVM kernel (float dot products + md5), timed once. */
  def sentinelSeconds(): Double = {
    val a = Array.tabulate(1536)(i => ((i * 37) % 101).toFloat / 101f)
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = Array.tabulate(4096)(i => (i * 31).toByte)
    var acc = 0.0
    val t0 = System.nanoTime()
    var r = 0
    while (r < 40000) {
      var s = 0.0f
      var i = 0
      while (i < a.length) { s += a(i) * a((i + r) % a.length); i += 1 }
      acc += s
      if (r % 8 == 0) acc += md.digest(buf)(0)
      r += 1
    }
    val secs = (System.nanoTime() - t0) / 1e9
    sink = acc // keep the loop observable to the JIT
    secs
  }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def resetPeakHeap(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .foreach(_.resetPeakUsage())

  /** The machine's CPU time counters (Linux `/proc/stat`: total, steal),
    * if readable. Steal is time the hypervisor gave this machine's virtual
    * CPUs to other guests; it stretches every wall time measured here.
    */
  def cpuTicks(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
      Some((f.sum, if (f.length > 7) f(7) else 0L))
    } catch { case _: Exception => None }

  /** Steal as a share of all CPU time between two [[cpuTicks]] readings. */
  def stealShare(from: Option[(Long, Long)], to: Option[(Long, Long)]): Option[Double] =
    for ((t0, s0) <- from; (t1, s1) <- to if t1 > t0) yield (s1 - s0).toDouble / (t1 - t0)

  def peakHeapMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
