package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._

/** One call into a layer, as the benchmark saw it. `iter` is the job index
  * of the timed loop; `parent` is -1 for a top-level span. */
final case class Span(id: Int, name: String, parent: Int, iter: Int,
                      startNs: Long, startMs: Long) {
  var endNs: Long = 0L
  var endMs: Long = 0L
}

/** What the listener saw of one stage: counts, busy time and bytes. */
final class StageRec(val stageId: Int, val span: Int, val name: String) {
  var submittedMs = 0L; var completedMs = 0L
  var tasks = 0; var failedTasks = 0
  var runMs = 0L; var gcMs = 0L
  var shuffleWriteBytes = 0L; var shuffleWriteRecords = 0L
  var shuffleReadBytes = 0L; var spillBytes = 0L; var inputBytes = 0L
}

/** Per-call means of one span name over the traced calls. */
final case class SpanAgg(calls: Int, wallS: Double, taskS: Double,
                         driverGapS: Double, stages: Double, oneTaskStages: Double,
                         shuffleWriteMb: Double, shuffleWriteRecords: Double,
                         spillMb: Double, inputMb: Double,
                         gcS: Double)

/** Spans recorded by the benchmark around each call into a layer, and a
  * listener that attributes every stage (and its tasks) to the span that
  * was innermost when its job was submitted. The span id travels as a
  * SparkContext local property, which Spark copies onto every job the
  * thread submits, AQE and broadcast jobs included.
  *
  * Off by default: `span` then only runs its body, and the listener is not
  * registered, so untraced jobs pay nothing. */
final class Tracer(sc: SparkContext) {
  private val Key = "graft.perfbench.span"
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  var iteration = 0
  private var on = false

  private val listener = new SparkListener {
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.toInt).getOrElse(-1)
      stages.putIfAbsent(e.stageInfo.stageId, new StageRec(e.stageInfo.stageId, id,
        e.stageInfo.name.takeWhile(_ != ' ')))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = stages.get(e.stageInfo.stageId)
      if (s != null) s.synchronized {
        s.submittedMs = e.stageInfo.submissionTime.getOrElse(0L)
        s.completedMs = e.stageInfo.completionTime.getOrElse(0L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stages.get(e.stageId)
      if (s != null) s.synchronized {
        s.tasks += 1
        if (e.reason != Success) s.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          s.runMs += m.executorRunTime; s.gcMs += m.jvmGCTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
  }

  def enabled: Boolean = on

  def start(): Unit = if (!on) { sc.addSparkListener(listener); on = true }

  def stop(): Unit = if (on) {
    ListenerDrain(sc)
    sc.removeSparkListener(listener)
    on = false
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        iteration, System.nanoTime(), System.currentTimeMillis())
      spans += s
      open = s :: open
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(Key, open.headOption.map(_.id.toString).orNull)
      }
    }

  private def stagesOf(spanId: Int): Seq[StageRec] =
    stages.values.asScala.filter(_.span == spanId).toSeq

  /** Span time that no stage of the span covers: planning, collects to
    * the driver, driver-side loops, file commits. */
  private def driverGapMs(s: Span, st: Seq[StageRec]): Long = {
    val iv = st.filter(x => x.submittedMs > 0 && x.completedMs > 0)
      .map(x => (math.max(x.submittedMs, s.startMs), math.min(x.completedMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0L, (s.endMs - s.startMs) - covered)
  }

  def failedTasks: Long = stages.values.asScala.map(_.failedTasks.toLong).sum

  def summary(): Map[String, SpanAgg] = {
    val mb = 1024.0 * 1024.0
    spans.toSeq.groupBy(_.name).map { case (name, ss) =>
      val n = ss.size.toDouble
      val per = ss.map(s => (s, stagesOf(s.id)))
      def mean(f: ((Span, Seq[StageRec])) => Double): Double = per.map(f).sum / n
      name -> SpanAgg(ss.size,
        wallS = mean { case (s, _) => (s.endNs - s.startNs) / 1e9 },
        taskS = mean { case (_, st) => st.map(_.runMs).sum / 1e3 },
        driverGapS = mean { case (s, st) => driverGapMs(s, st) / 1e3 },
        stages = mean { case (_, st) => st.size.toDouble },
        oneTaskStages = mean { case (_, st) => st.count(_.tasks == 1).toDouble },
        shuffleWriteMb = mean { case (_, st) => st.map(_.shuffleWriteBytes).sum / mb },
        shuffleWriteRecords = mean { case (_, st) => st.map(_.shuffleWriteRecords).sum.toDouble },
        spillMb = mean { case (_, st) => st.map(_.spillBytes).sum / mb },
        inputMb = mean { case (_, st) => st.map(_.inputBytes).sum / mb },
        gcS = mean { case (_, st) => st.map(_.gcMs).sum / 1e3 })
    }
  }

  /** Every span with its attributed stage totals, as JSON lines. */
  def dump(): String = spans.map { s =>
    val st = stagesOf(s.id)
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"iter":${s.iter},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${(s.endNs - s.startNs) / 1e9},""" +
      s""""stages":${st.size},"one_task_stages":${st.count(_.tasks == 1)},""" +
      s""""tasks":${st.map(_.tasks).sum},"task_s":${st.map(_.runMs).sum / 1e3},""" +
      s""""gc_s":${st.map(_.gcMs).sum / 1e3},"driver_gap_s":${driverGapMs(s, st) / 1e3},""" +
      s""""shuffle_write_bytes":${st.map(_.shuffleWriteBytes).sum},""" +
      s""""shuffle_read_bytes":${st.map(_.shuffleReadBytes).sum},""" +
      s""""spill_bytes":${st.map(_.spillBytes).sum},"input_bytes":${st.map(_.inputBytes).sum},""" +
      s""""stage_list":[${st.sortBy(_.stageId).map(x => s"""[${x.stageId},${x.tasks},""" +
        s"""${x.runMs / 1e3},${(x.completedMs - x.submittedMs) / 1e3},"${x.name}"]""").mkString(",")}]}"""
  }.mkString("\n")
}
