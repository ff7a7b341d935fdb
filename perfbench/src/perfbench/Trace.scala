package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** What a workload calls around each public API call. The untimed
  * implementation runs the body and nothing else, so end-to-end figures
  * are measured with tracing off. */
trait Rec {
  def traced: Boolean
  /** One checked operation of kind `kind`: its own job group and root span. */
  def op[T](kind: String)(body: => T): T
  /** A span around one call into a layer, nested under the enclosing span. */
  def span[T](name: String)(body: => T): T
}

object NoRec extends Rec {
  def traced = false
  def op[T](kind: String)(body: => T): T = body
  def span[T](name: String)(body: => T): T = body
}

/** Spark's own accounting for the jobs of one operation kind. */
final class Acct {
  var ops = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var mapTaskMs = 0L
  var reduceTaskMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var resultBytes = 0L
  var peakExecMem = 0L

  def add(o: Acct): Unit = {
    ops += o.ops; jobs += o.jobs; stages += o.stages; tasks += o.tasks
    mapTaskMs += o.mapTaskMs; reduceTaskMs += o.reduceTaskMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; gcMs += o.gcMs; resultBytes += o.resultBytes
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
}

final case class Span(id: Int, name: String, op: Int, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory tracer built from benchmark-owned code only: a SparkListener
  * that attributes jobs, stages and tasks to operations through job
  * groups, plus driver-side spans around every public call. Streaming
  * micro-batch jobs carry the engine's query id instead of our group and
  * are booked to kind `stream`. */
final class Tracer(spark: SparkSession) extends SparkListener with Rec {
  def traced = true
  private val sc = spark.sparkContext
  private val GroupPrefix = "perfbench|"
  private val FlushKind = "flush"

  private val accts = mutable.Map[String, Acct]()
  private val stageKind = mutable.Map[Int, String]()
  @volatile private var flushed = false
  private var flushJob = -1

  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[Int]()
  private var nextSpan = 0
  private var nextOp = 0
  private var currentOp = -1

  sc.addSparkListener(this)

  private def acct(kind: String): Acct = accts.getOrElseUpdate(kind, new Acct)

  def op[T](kind: String)(body: => T): T = {
    nextOp += 1
    currentOp = nextOp
    synchronized { acct(kind).ops += 1 }
    sc.setJobGroup(s"$GroupPrefix$kind|$nextOp", kind)
    try span(kind)(body)
    finally { sc.clearJobGroup(); currentOp = -1 }
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextSpan
    nextSpan += 1
    val parent = if (stack.isEmpty) -1 else stack.top
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      spans += Span(id, name, currentOp, parent, t0, t1)
    }
  }

  // ---- listener side (runs on Spark's listener-bus thread) ----

  private def kindOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap { p =>
      if (p.getProperty("sql.streaming.queryId") != null) Some("stream")
      else Option(p.getProperty("spark.jobGroup.id"))
        .filter(_.startsWith(GroupPrefix))
        .map(_.stripPrefix(GroupPrefix).takeWhile(_ != '|'))
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    kindOf(e.properties).foreach { k =>
      if (k == FlushKind) flushJob = e.jobId
      else {
        e.stageIds.foreach(s => stageKind(s) = k)
        acct(k).jobs += 1
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (e.jobId == flushJob) flushed = true
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageKind.get(e.stageInfo.stageId).foreach { k =>
      if (e.stageInfo.failureReason.isEmpty) acct(k).stages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageKind.get(e.stageId).foreach { k =>
      val a = acct(k)
      a.tasks += 1
      if (m != null) {
        if (e.taskType == "ShuffleMapTask") a.mapTaskMs += m.executorRunTime
        else a.reduceTaskMs += m.executorRunTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.gcMs += m.jvmGCTime
        a.resultBytes += m.resultSize
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  /** Waits until the listener bus has delivered every event posted so
    * far: a sentinel job's end is queued behind them. */
  def flush(): Unit = {
    flushed = false
    sc.setJobGroup(s"$GroupPrefix$FlushKind|0", FlushKind)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (!flushed && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def close(): Unit = sc.removeSparkListener(this)

  def opCount(kind: String): Long = synchronized(accts.get(kind).map(_.ops).getOrElse(0L))

  /** Accounting for the union of `kinds`. */
  def accounting(kinds: Seq[String]): Acct = synchronized {
    val out = new Acct
    kinds.flatMap(accts.get).foreach(out.add)
    out
  }

  def spanSeconds(name: String): Seq[Double] = spans.filter(_.name == name).map(_.seconds).toSeq

  /** Self time of every span: its duration minus the time its children
    * cover (children run sequentially on the driver thread). */
  def selfSeconds: Map[Int, Double] = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.endNs - s.startNs).sum }
    spans.map(s => s.id -> ((s.endNs - s.startNs) - childNs.getOrElse(s.id, 0L)) / 1e9).toMap
  }

  /** All spans as JSON lines, written out once the benchmark ends. */
  def spanLines: Seq[String] = {
    val self = selfSeconds
    spans.sortBy(_.id).map { s =>
      f"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${self(s.id)}%.6f}"""
    }.toSeq
  }
}

/** Per-query micro-batch clock: the driver-side instant of every
  * progress event. Registered in every run — it is the end-to-end
  * measurement of batch latency, not part of the tracing. */
final class StreamClock extends StreamingQueryListener {
  private val starts = mutable.Map[java.util.UUID, Long]()
  private val events = mutable.Map[java.util.UUID, mutable.ArrayBuffer[Long]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = synchronized {
    starts(e.runId) = System.nanoTime()
  }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    events.getOrElseUpdate(e.progress.runId, mutable.ArrayBuffer[Long]()) += System.nanoTime()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Seconds from the previous event (or the query start) to each of the
    * first `n` progress events of `runId`, once all have arrived. */
  def batchSeconds(runId: java.util.UUID, n: Int): Seq[Double] = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    def ready = synchronized(events.get(runId).exists(_.length >= n) && starts.contains(runId))
    while (!ready && System.nanoTime() < deadline) Thread.sleep(2)
    synchronized {
      require(ready, s"stream progress events missing for run $runId")
      val ts = starts(runId) +: events(runId).take(n).toSeq
      ts.sliding(2).map { case Seq(a, b) => (b - a) / 1e9 }.toSeq
    }
  }
}
