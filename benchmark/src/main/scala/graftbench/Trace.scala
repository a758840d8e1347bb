package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.graftbench.Internals
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/** One timed interval of the benchmark: workload, pass, operation, or one of
  * an operation's layers (construct / exec, and the plan phases inside exec).
  * `counts` collects what Spark reports for the jobs the span started.
  */
final class Span(val id: Int, val parent: Int, val name: String, val kind: String,
                 val startNs: Long) {
  @volatile var endNs: Long = startNs
  val counts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def ms: Double = (endNs - startNs) / 1e6
  def add(k: String, v: Double): Unit = counts.synchronized { counts(k) = counts(k) + v }
}

/** Span recorder. Off, it only runs the body: the untimed and untraced code
  * paths are identical. On, every span tags the Spark jobs it starts with its
  * job group, and a listener files each job's stages, tasks, task metrics and
  * plan phases under the span that caused them.
  */
final class Tracer(sc: SparkContext, val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private var current: Span = _
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()

  def apply[T](name: String, kind: String)(body: => T): T =
    if (!on) body
    else {
      val parent = current
      val s = new Span(spans.size, if (parent == null) -1 else parent.id, name, kind,
        System.nanoTime())
      spans += s; byId.put(s.id, s)
      current = s
      sc.setJobGroup(Tracer.group(s.id), name)
      try body
      finally {
        s.endNs = System.nanoTime()
        current = parent
        if (parent == null) sc.clearJobGroup()
        else sc.setJobGroup(Tracer.group(parent.id), parent.name)
      }
    }

  /** A span for an interval measured elsewhere, in wall-clock milliseconds. */
  private def addChild(parent: Span, name: String, kind: String, startMs: Long, endMs: Long): Unit =
    spans.synchronized {
      val s = new Span(spans.size, parent.id, name, kind, t0Ns + (startMs - t0Ms) * 1000000L)
      s.endNs = t0Ns + (endMs - t0Ms) * 1000000L
      spans += s; byId.put(s.id, s)
    }

  private val jobSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val execSpan = new ConcurrentHashMap[Long, Span]()
  private val pendingPhases = mutable.ArrayBuffer.empty[(Span, String, Long, Long)]

  private def spanOf(group: String): Option[Span] =
    Option(group).filter(_.startsWith(Tracer.Prefix))
      .flatMap(g => Option(byId.get(g.stripPrefix(Tracer.Prefix).toInt)))

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull).foreach { s =>
        jobSpan.put(e.jobId, s); jobStartMs.put(e.jobId, e.time)
        e.stageIds.foreach(stageSpan.put(_, s))
        s.add("jobs", 1)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach(s => s.add("job_ms", e.time - jobStartMs.get(e.jobId)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.add("stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.add("tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          val info = e.taskInfo
          s.add("task_run_ms", m.executorRunTime)
          s.add("task_cpu_ms", m.executorCpuTime / 1e6)
          s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          s.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
          s.add("gc_ms", m.jvmGCTime)
          s.add("records_read", m.inputMetrics.recordsRead)
          s.add("bytes_written", m.outputMetrics.bytesWritten)
          s.add("sched_delay_ms", math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime))
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case st: SparkListenerSQLExecutionStart =>
        spanOf(st.jobGroupId.orNull).foreach(execSpan.put(st.executionId, _))
      case end: SparkListenerSQLExecutionEnd =>
        Option(execSpan.remove(end.executionId)).foreach { s =>
          Internals.queryExecution(end).foreach { qe =>
            qe.tracker.phases.foreach { case (phase, p) =>
              pendingPhases.synchronized {
                pendingPhases += ((s, phase, p.startTimeMs, p.endTimeMs))
              }
            }
            qe.analyzed.collectFirst { case c: InsertIntoHadoopFsRelationCommand =>
              c.fileFormat.toString.toLowerCase
            }.foreach(fmt => s.add(s"sink.$fmt.ms", Internals.durationNs(end) / 1e6))
          }
        }
      case _ =>
    }
  }

  if (on) sc.addSparkListener(listener)

  /** Deliver every pending event, then turn the plan phases into spans. */
  def finish(): Unit = if (on) {
    Internals.drainListenerBus(sc)
    pendingPhases.synchronized {
      pendingPhases.foreach { case (s, phase, a, b) => addChild(s, phase, "plan", a, b) }
      pendingPhases.clear()
    }
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Duration minus the part of it that child spans cover. */
  def selfMs(s: Span): Double = {
    val iv = children(s).map(c => (c.startNs max s.startNs, c.endNs min s.endNs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var until = Long.MinValue
    iv.foreach { case (a, b) =>
      val from = a max until
      if (b > from) { covered += b - from; until = b }
    }
    s.ms - covered / 1e6
  }

  /** All spans of a subtree (the root included). */
  def subtree(root: Span): Seq[Span] = root +: children(root).flatMap(subtree)

  def toJson: String = spans.map { s =>
    val c = s.counts.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"kind":"${s.kind}",""" +
      f""""start_ms":${(s.startNs - t0Ns) / 1e6}%.3f,"ms":${s.ms}%.3f,"self_ms":${selfMs(s)}%.3f,""" +
      s""""counts":{$c}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val Prefix = "graftbench-span-"
  def group(id: Int): String = Prefix + id
}
