package graft.perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Minimal JSON rendering for the harness's record lines. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) str(d.toString)
      else java.lang.Double.toString(d)
    case i: Int => i.toString
    case l: Long => l.toString
    case r: RawJson => r.text
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** An already-rendered JSON value. */
final case class RawJson(text: String)

/** Append-only JSON-lines record file; lines are flushed on close. */
final class Records(path: String) {
  private val w = new java.io.PrintWriter(java.nio.file.Files.newBufferedWriter(
    java.nio.file.Paths.get(path), java.nio.charset.StandardCharsets.UTF_8))
  def apply(kind: String, fields: (String, Any)*): Unit = synchronized {
    w.println(Json.obj(("kind" -> kind) +: fields))
  }
  def close(): Unit = synchronized(w.close())
}

/** In-memory spans: name, start, end and parent, grouped by request id.
  * Times are nanoseconds from the run's origin. Nothing is written until
  * [[flush]], so recording costs two clock reads and one buffer append.
  */
final class Spans(origin: Long) {
  private final case class Span(id: Int, req: String, name: String,
      parent: Int, t0: Long, var t1: Long)
  private val buf = mutable.ArrayBuffer[Span]()
  private var open = List.empty[Span]
  var enabled = false

  def apply[T](req: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(buf.size, req, name, open.headOption.map(_.id).getOrElse(-1),
        System.nanoTime() - origin, -1L)
      buf += s
      open = s :: open
      try body
      finally { s.t1 = System.nanoTime() - origin; open = open.tail }
    }

  def flush(out: Records): Unit = buf.foreach { s =>
    out("span", "id" -> s.id, "req" -> s.req, "name" -> s.name,
      "parent" -> s.parent, "t0_ns" -> s.t0, "t1_ns" -> s.t1)
  }
}

/** Listener counts, attributed through the job's local properties
  * `perfbench.req` / `perfbench.phase` to the request (and the phase of
  * it) that started the job. Runs on the listener-bus thread only.
  */
final class Collector extends SparkListener {
  final class Stats {
    var jobs, stages, skipped, tasks, taskFailures = 0L
    var runMs, cpuNs, shuffleWrite, shuffleRead, spillDisk, spillMem = 0L
    var inputBytes, outputBytes, peakExecMem = 0L
  }
  private final class Stage(val key: String) {
    val durations = mutable.ArrayBuffer[Long]()
    var inputBytes = 0L
  }

  private val stats = mutable.LinkedHashMap[String, Stats]()
  private val jobKey = mutable.Map[Int, String]()
  private val jobStages = mutable.Map[Int, Set[Int]]()
  private val submittedIn = mutable.Map[Int, mutable.Set[Int]]()
  private val stageOf = mutable.Map[Int, Stage]()
  private val stagesDone = mutable.ArrayBuffer[Stage]()

  private def keyOf(p: java.util.Properties): String =
    if (p == null) "none|none"
    else p.getProperty("perfbench.req", "none") + "|" +
      p.getProperty("perfbench.phase", "none")
  private def at(key: String): Stats = stats.getOrElseUpdate(key, new Stats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = keyOf(e.properties)
    jobKey(e.jobId) = k
    jobStages(e.jobId) = e.stageIds.toSet
    submittedIn(e.jobId) = mutable.Set()
    at(k).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    stageOf.getOrElseUpdate(id, new Stage(keyOf(e.properties)))
    submittedIn.foreach { case (j, s) => if (jobStages(j)(id)) s += id }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageOf.remove(e.stageInfo.stageId).foreach { s =>
      at(s.key).stages += 1
      stagesDone += s
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = stageOf.get(e.stageId)
    val s = at(st.map(_.key).getOrElse(keyOf(null)))
    s.tasks += 1
    if (e.reason != Success) s.taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spillDisk += m.diskBytesSpilled
      s.spillMem += m.memoryBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.outputBytes += m.outputMetrics.bytesWritten
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      st.foreach(_.inputBytes += m.inputMetrics.bytesRead)
    }
    st.foreach(_.durations += e.taskInfo.duration)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val k = jobKey.remove(e.jobId).getOrElse(keyOf(null))
    val all = jobStages.remove(e.jobId).getOrElse(Set.empty)
    val ran = submittedIn.remove(e.jobId).map(_.size).getOrElse(0)
    at(k).skipped += math.max(0, all.size - ran)
  }

  /** Write the per-(request, phase) counts and per-stage task stats. */
  def flush(out: Records): Unit = {
    stats.foreach { case (k, s) =>
      val Array(req, phase) = k.split("\\|", 2)
      out("counts", "req" -> req, "phase" -> phase, "jobs" -> s.jobs,
        "stages" -> s.stages, "stages_skipped" -> s.skipped,
        "tasks" -> s.tasks, "task_failures" -> s.taskFailures,
        "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
        "shuffle_write" -> s.shuffleWrite, "shuffle_read" -> s.shuffleRead,
        "spill_disk" -> s.spillDisk, "spill_mem" -> s.spillMem,
        "input_bytes" -> s.inputBytes, "output_bytes" -> s.outputBytes,
        "peak_exec_mem" -> s.peakExecMem)
    }
    stagesDone.foreach { s =>
      val d = s.durations.sorted
      val Array(req, phase) = s.key.split("\\|", 2)
      out("stage", "req" -> req, "phase" -> phase, "tasks" -> d.size,
        "max_ms" -> d.lastOption.getOrElse(0L),
        "median_ms" -> (if (d.isEmpty) 0L else d(d.size / 2)),
        "input_bytes" -> s.inputBytes)
    }
  }
}
