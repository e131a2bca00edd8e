package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** A timed call into one layer. Times are `System.nanoTime`; `parent` is the
  * id of the enclosing span (-1 at the top of a pass).
  */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** One finished Spark job with the counters of its stages. `span` is the
  * innermost benchmark span open on the submitting thread; `group` is the
  * job group the engine set (the Runner names one per index).
  */
final case class JobRec(span: Int, group: String, startNs: Long, endNs: Long,
                        stages: Int, tasks: Long, taskNs: Long,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long,
                        input: Long, output: Long)

/** Spark listener counters, grouped per job. Listener-bus events carry
  * epoch-millisecond times; they are mapped onto the `nanoTime` clock the
  * spans use through an offset taken once.
  */
final class Counters extends SparkListener with QueryExecutionListener {
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def toNs(ms: Long): Long = ms * 1000000L + offsetNs

  private final case class StageAcc(var tasks: Long = 0, var taskNs: Long = 0,
                                    var sw: Long = 0, var sr: Long = 0,
                                    var spill: Long = 0, var in: Long = 0,
                                    var out: Long = 0)
  private final case class Open(span: Int, group: String, startNs: Long,
                                stageIds: Seq[Int])

  private val open = mutable.HashMap.empty[Int, Open]
  private val stageAcc = mutable.HashMap.empty[Int, StageAcc]
  private val done = mutable.ArrayBuffer.empty[JobRec]
  @volatile private var lastEventNs = System.nanoTime()
  private var planNs = 0L
  private var actions = 0L

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    open(e.jobId) = Open(span, group, toNs(e.time), e.stageIds)
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val a = stageAcc.getOrElseUpdate(i.stageId, StageAcc())
    a.tasks += i.numTasks
    Option(i.taskMetrics).foreach { m =>
      a.taskNs += m.executorRunTime * 1000000L
      a.sw += m.shuffleWriteMetrics.bytesWritten
      a.sr += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.in += m.inputMetrics.bytesRead
      a.out += m.outputMetrics.bytesWritten
    }
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { o =>
      val accs = o.stageIds.flatMap(stageAcc.remove)
      done += JobRec(o.span, o.group, o.startNs, toNs(e.time), accs.size,
        accs.map(_.tasks).sum, accs.map(_.taskNs).sum, accs.map(_.sw).sum,
        accs.map(_.sr).sum, accs.map(_.spill).sum, accs.map(_.in).sum,
        accs.map(_.out).sum)
    }
    touch()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      planNs += qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
      actions += 1
      touch()
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    touch()

  /** Wait until every started job has ended and the bus has been quiet for
    * `stableMs` (the bus is asynchronous), or until `timeoutMs` passes.
    */
  def quiesce(timeoutMs: Long = 3000L, stableMs: Long = 40L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def settled = synchronized(open.isEmpty) &&
      System.nanoTime() - lastEventNs > stableMs * 1000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def jobs: Vector[JobRec] = synchronized(done.toVector)
  def planSeconds: Double = synchronized(planNs / 1e9)
  def actionCount: Long = synchronized(actions)
}

/** In-memory span recorder. Disabled, `span` runs its body and `mat` returns
  * its argument: the untraced run pays for nothing. Enabled, `mat` persists
  * and counts a lazy operator result inside the current span, so the work is
  * charged to the layer that defined it (the extra action is part of
  * `trace.overhead_s`).
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val persisted = mutable.ArrayBuffer.empty[DataFrame]
  private var current = -1
  private var nextId = 0
  var pass = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = current
      val sc = spark.sparkContext
      current = id
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        buf += Span(id, name, parent, pass, t0, System.nanoTime())
        current = parent
        sc.setLocalProperty(Tracer.SpanKey,
          if (parent < 0) null else parent.toString)
      }
    }

  /** Record a span measured by the caller (e.g. from an engine hook). */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      buf += Span(nextId, name, current, pass, startNs, endNs)
      nextId += 1
    }

  def mat(df: DataFrame): DataFrame =
    if (!enabled) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      persisted += p
      p
    }

  /** Drop what `mat` pinned during the pass. */
  def release(): Unit = { persisted.foreach(_.unpersist()); persisted.clear() }

  def spans: Vector[Span] = buf.toVector
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Total length of the union of `[start, end)` intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (s, e) = (Long.MinValue, Long.MinValue)
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > e) { if (e > s) total += e - s; s = a; e = b }
      else if (b > e) e = b
    }
    if (e > s) total += e - s
    total
  }

  /** Self time of each span: its duration minus the part of it covered by
    * its direct children.
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionNs(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }
}
