package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side counters of one layer, summed over the jobs attributed to it. */
final class LayerAcc {
  var jobs, stages, tasks, ungroupedJobs = 0L
  var taskRunMs, taskCpuNs, schedDelayMs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, peakMem, inputRecords = 0L

  def +=(o: LayerAcc): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    ungroupedJobs += o.ungroupedJobs
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs
    schedDelayMs += o.schedDelayMs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; peakMem = math.max(peakMem, o.peakMem)
    inputRecords += o.inputRecords
  }
}

/** Attributes every Spark job, stage and task to a benchmark layer.
  *
  * The benchmark sets a job group `pb/<layer>/<op>` around each call it
  * times; a job started under such a group belongs to that layer. A job with
  * no benchmark group (one submitted from a thread that did not inherit the
  * group) is attributed to the span that was open when it was submitted,
  * and counted in `ungroupedJobs`. With a trace file, every span, job and
  * stage is also written as one JSON line:
  * run → pass → op → layer call → job → stage. */
final class Trace(sc: SparkContext, traceFile: Option[String]) extends SparkListener {
  private val accs = mutable.Map.empty[String, LayerAcc]
  private val jobLayer = new ConcurrentHashMap[Int, (String, String)]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  // open and closed spans: (startMs, endMs or Long.MaxValue, op, layer)
  private val spans = mutable.ArrayBuffer.empty[(Long, Long, String, String)]
  private val out: Option[BufferedWriter] = traceFile.map(f => new BufferedWriter(new FileWriter(f)))

  sc.addSparkListener(this)

  private def acc(layer: String): LayerAcc = accs.synchronized(accs.getOrElseUpdate(layer, new LayerAcc))

  def emit(line: String): Unit = out.foreach(w => w.synchronized { w.write(line); w.newLine() })

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Time `body` as one span of `layer` within `op`, under its job group. */
  def span[T](parent: String, op: String, layer: String)(body: => T): (T, Long) = {
    val group = s"pb/$layer/$op"
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val idx = spans.synchronized { spans += ((startMs, Long.MaxValue, op, layer)); spans.size - 1 }
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, System.nanoTime() - t0)
    } finally {
      val endMs = System.currentTimeMillis()
      spans.synchronized { spans(idx) = (startMs, endMs, op, layer) }
      sc.clearJobGroup()
      emit(s"""{"span":"layer","parent":${q(parent)},"op":${q(op)},"layer":${q(layer)},""" +
        s""""start_ms":$startMs,"end_ms":$endMs}""")
    }
  }

  /** The innermost span open at `timeMs` (time containment). */
  private def spanAt(timeMs: Long): (String, String) = spans.synchronized {
    var i = spans.size - 1
    while (i >= 0) {
      val (s, e, op, layer) = spans(i)
      if (s <= timeMs && timeMs <= e) return (op, layer)
      i -= 1
    }
    ("none", "idle")
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group: Option[String] = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    val (opLayer, ungrouped): ((String, String), Boolean) = group.filter(_.startsWith("pb/")) match {
      case Some(g) =>
        val parts = g.split("/", 3)
        ((parts(2), parts(1)), false)
      case None => (spanAt(e.time), true)
    }
    jobLayer.put(e.jobId, opLayer)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    val a = acc(opLayer._2)
    a.synchronized { a.jobs += 1; if (ungrouped) a.ungroupedJobs += 1 }
    emit(s"""{"span":"job","id":${e.jobId},"op":${q(opLayer._1)},"layer":${q(opLayer._2)},""" +
      s""""ungrouped":$ungrouped,"start_ms":${e.time},"stages":[${e.stageIds.mkString(",")}]}""")
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    emit(s"""{"span":"job_end","id":${e.jobId},"end_ms":${e.time}}""")

  private def layerOfStage(stageId: Int): String =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobLayer.get(j))).map(_._2).getOrElse("idle")

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val a = acc(layerOfStage(info.stageId))
    a.synchronized { a.stages += 1 }
    emit(s"""{"span":"stage","id":${info.stageId},"job":${Option(stageJob.get(info.stageId)).getOrElse(-1)},""" +
      s""""tasks":${info.numTasks},"submit_ms":${info.submissionTime.getOrElse(0L)},""" +
      s""""end_ms":${info.completionTime.getOrElse(0L)}}""")
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    val a = acc(layerOfStage(e.stageId))
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.taskRunMs += m.executorRunTime
        a.taskCpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        a.inputRecords += m.inputMetrics.recordsRead
        if (info != null)
          a.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
      }
    }
  }

  /** Wait until every event posted so far has been delivered, then return
    * and reset the per-layer counters. */
  def drain(): Map[String, LayerAcc] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    accs.synchronized {
      val snap = accs.toMap
      accs.clear()
      snap
    }
  }

  def clearSpans(): Unit = spans.synchronized(spans.clear())

  def close(): Unit = {
    sc.removeSparkListener(this)
    out.foreach(_.close())
  }
}
