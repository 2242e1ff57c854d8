package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark work caused by one span: jobs started while it was the innermost
  * open span, and the stages and tasks of those jobs. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  /** Tasks that read no input and no shuffle records. */
  var emptyTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  /** Task wall time outside executor run time: scheduling, deserialisation,
    * result fetch. */
  var overheadMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; emptyTasks += o.emptyTasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; overheadMs += o.overheadMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes
  }
}

/** A closed span; parent 0 means none. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the engine's public functions.
  *
  * A span records its name, start, end and parent. Each span runs under its
  * own Spark job group, and a listener charges every job, stage and task to
  * the span whose group started the job. Jobs started on threads without a
  * group (broadcast builds, for instance) are charged to span 0, the
  * untraced remainder. Spans live in memory and are summarised at the end.
  *
  * A disabled trace runs the bodies and records nothing, so untraced runs
  * pay for neither the listener nor the job groups.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {

  private val closed = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack[(Int, String)]((0, ""))
  private var nextId = 1
  private val work = new ConcurrentHashMap[Int, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val groupPrefix = "perfbench-span-"

  private def workOf(span: Int): Work = work.computeIfAbsent(span, _ => new Work)

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val span = Option(j.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(groupPrefix)).map(_.stripPrefix(groupPrefix).toInt).getOrElse(0)
      j.stageIds.foreach(s => stageSpan.put(s, span))
      val w = workOf(span)
      w.synchronized(w.jobs += 1)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val w = workOf(stageSpan.getOrDefault(s.stageInfo.stageId, 0))
      w.synchronized(w.stages += 1)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val w = workOf(stageSpan.getOrDefault(t.stageId, 0))
      val m = t.taskMetrics
      w.synchronized {
        w.tasks += 1
        if (m != null) {
          w.runMs += m.executorRunTime
          w.cpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.overheadMs += math.max(0L, t.taskInfo.duration - m.executorRunTime)
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          w.inputBytes += m.inputMetrics.bytesRead
          if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0)
            w.emptyTasks += 1
        }
      }
    }
  }
  if (enabled) spark.sparkContext.addSparkListener(listener)

  /** Runs `body` inside a span named `name`. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = nextId
      nextId += 1
      val parent = open.top._1
      open.push((id, name))
      sc.setJobGroup(groupPrefix + id, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.pop()
        closed += Span(id, name, parent, t0, t1)
        if (open.top._1 == 0) sc.clearJobGroup()
        else sc.setJobGroup(groupPrefix + open.top._1, open.top._2)
      }
    }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)

  /** Summed wall seconds of the spans called `name`. */
  def seconds(name: String): Double = closed.filter(_.name == name).map(_.seconds).sum

  /** Spark work charged to the spans called `name`, their descendants included. */
  def workUnder(name: String): Work = {
    val roots = closed.filter(_.name == name).map(_.id).toSet
    val parentOf = closed.map(s => s.id -> s.parent).toMap
    def under(id: Int): Boolean = id != 0 && (roots(id) || under(parentOf.getOrElse(id, 0)))
    val total = new Work
    work.forEach((id, w) => if (under(id)) w.synchronized(total.add(w)))
    total
  }

}
