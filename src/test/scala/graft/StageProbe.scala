package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._

/** Per-stage profile of one registered query: wall-ordered stage table
  * with task time, shuffle read/write bytes, input bytes, records —
  * the "which stage is the time going to" view the Spark UI would give
  * (UI is disabled in this harness). */
object StageProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "StageProbe <query> [query...]")
    val runs = sys.env.getOrElse("GRAFT_PROBE_RUNS", "2").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.range(1000000).selectExpr("sum(hash(id))").collect()

    case class St(name: String, submitted: Long) {
      var completed: Long = 0
      var taskTimeMs: Long = 0; var gcMs: Long = 0
      var shRead: Long = 0; var shWrite: Long = 0
      var input: Long = 0; var records: Long = 0
      var spill: Long = 0; var tasks: Int = 0
    }
    val stages = new ConcurrentHashMap[Int, St]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stages.put(e.stageInfo.stageId,
          St(e.stageInfo.name.take(60), System.nanoTime()))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val s = stages.get(e.stageInfo.stageId)
        if (s != null) s.completed = System.nanoTime()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val s = stages.get(e.stageId)
        val m = e.taskMetrics
        if (s != null && m != null) s.synchronized {
          s.taskTimeMs += m.executorRunTime; s.gcMs += m.jvmGCTime
          s.shRead += m.shuffleReadMetrics.totalBytesRead
          s.shWrite += m.shuffleWriteMetrics.bytesWritten
          s.input += m.inputMetrics.bytesRead
          s.records += m.inputMetrics.recordsRead
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.tasks += 1
        }
      }
    })

    import scala.jdk.CollectionConverters._
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      var wall = 0.0
      (1 to runs).foreach { i =>
        stages.clear()
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        wall = (System.nanoTime() - t0) / 1e9
        println(f"[stageprobe] $name run$i wall=$wall%.2f s")
      }
      // summary of the LAST run: stage count, total task/gc seconds, wall
      // gap not covered by any stage, and the top stages by task time
      val rows = stages.asScala.toSeq.sortBy(_._2.submitted)
      val t0 = rows.map(_._2.submitted).minOption.getOrElse(0L)
      val taskS = rows.map(_._2.taskTimeMs).sum / 1e3
      val single = rows.count(_._2.tasks == 1)
      println(f"[stageprobe] $name SUMMARY stages=${rows.size} " +
        f"single-task=$single task-s=$taskS%.2f wall=$wall%.2f")
      rows.sortBy(-_._2.taskTimeMs).take(5).foreach { case (id, s) =>
        val at = (s.submitted - t0) / 1e9
        val w = if (s.completed > 0) (s.completed - s.submitted) / 1e9 else -1.0
        println(f"[stageprobe]   top s$id at=$at%5.2f wall=$w%5.2f " +
          f"task-s=${s.taskTimeMs / 1e3}%6.2f gc=${s.gcMs / 1e3}%4.1f " +
          f"in=${s.input / 1e6}%6.1fMB shR=${s.shRead / 1e6}%6.1fMB " +
          f"shW=${s.shWrite / 1e6}%6.1fMB spill=${s.spill / 1e6}%5.1fMB " +
          f"tasks=${s.tasks}%4d ${s.name.take(40)}")
      }
      // GRAFT_PROBE_FULL=1: the whole wall-ordered table — the view that
      // exposes SERIAL stage chains and scheduling gaps, which the top-5
      // task-time ranking hides on orchestration-bound queries
      if (sys.env.get("GRAFT_PROBE_FULL").contains("1"))
        rows.foreach { case (id, s) =>
          val at = (s.submitted - t0) / 1e9
          val w = if (s.completed > 0) (s.completed - s.submitted) / 1e9 else -1.0
          println(f"[stageprobe]   all s$id at=$at%6.2f wall=$w%5.2f " +
            f"task-s=${s.taskTimeMs / 1e3}%6.2f " +
            f"in=${s.input / 1e6}%6.1fMB shR=${s.shRead / 1e6}%6.1fMB " +
            f"shW=${s.shWrite / 1e6}%6.1fMB tasks=${s.tasks}%4d " +
            s.name.take(40))
        }
    }
    spark.stop()
  }
}
