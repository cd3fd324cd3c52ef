package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** graft layers, named after the modules whose frames pick them. */
object Layers {
  private val byClass: Map[String, String] = Map(
    "FileCatalog" -> "sources", "DateExtract" -> "sources", "Readers" -> "sources",
    "Cleaning" -> "operators", "Enrich" -> "operators",
    "Dedup" -> "dedup",
    "Similarity" -> "similarity", "IvfIndex" -> "similarity",
    "VectorExprs" -> "similarity",
    "Sinks" -> "sinks", "ProcessingLog" -> "sinks",
    "EtlPipeline" -> "pipeline", "Main" -> "pipeline")

  val traced: Seq[String] =
    Seq("sources", "operators", "dedup", "similarity", "sinks", "pipeline")

  private val Frame = """^(graft\.[A-Za-z0-9_.$]*)\.[^.(]+\(""".r

  /** The layer of the innermost `graft.*` frame of a call site; None
    * when the call site holds no graft frame. A graft class outside the
    * map is "other". */
  def find(callSite: String): Option[String] =
    callSite.split('\n').iterator.flatMap(l => Frame.findFirstMatchIn(l.trim)).map { m =>
      byClass.getOrElse(m.group(1).takeWhile(_ != '$').split('.').last, "other")
    }.nextOption()

  /** First line of a call site, for span names. */
  def short(callSite: String): String =
    callSite.split('\n').iterator.map(_.trim).find(_.startsWith("graft."))
      .orElse(callSite.split('\n').headOption).getOrElse("").take(160)
}

final case class JobRec(id: Int, startMs: Long, layer: String, site: String,
                        var endMs: Long = -1L)

final case class StageRec(id: Int, attempt: Int, jobId: Int, layer: String,
                          startMs: Long, endMs: Long, tasks: Int,
                          bytesRead: Long, shuffleRead: Long, shuffleWrite: Long,
                          spill: Long, cpuNs: Long, runMs: Long, gcMs: Long,
                          recordsWritten: Long)

/** Records every job, stage and task the session runs, each job and
  * stage attributed to a layer by its call site: the stage's own
  * (`StageInfo.details`), or, for jobs Spark starts on its own threads
  * (adaptive query stages, broadcasts), whose stacks hold no graft
  * frame, the call site of the SQL execution the job belongs to.
  * Whatever has no graft frame at all is "bench". */
final class LayerListener extends SparkListener {
  private final class Acc {
    var tasks = 0; var bytesRead = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
    var spill = 0L; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L; var written = 0L
  }

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  private val jobsById = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val accs = mutable.Map.empty[(Int, Int), Acc]
  private val execs = mutable.Map.empty[Long, (String, String)] // id -> (layer, site)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val own = Layers.find(s.details).map(l => (l, Layers.short(s.details)))
      execs(s.executionId) = own
        .orElse(s.rootExecutionId.flatMap(execs.get))
        .getOrElse(("bench", Layers.short(s.details)))
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => execs.get(id.toLong))
    val (layer, short) = Layers.find(site).map(l => (l, Layers.short(site)))
      .orElse(exec).getOrElse(("bench", Layers.short(site)))
    val j = JobRec(e.jobId, e.time, layer, short)
    jobs += j
    jobsById(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = accs.getOrElseUpdate((e.stageId, e.stageAttemptId), new Acc)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.bytesRead += m.inputMetrics.bytesRead
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.written += m.outputMetrics.recordsWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val a = accs.remove((i.stageId, i.attemptNumber())).getOrElse(new Acc)
    val jobId = stageJob.getOrElse(i.stageId, -1)
    val layer = Layers.find(i.details)
      .getOrElse(jobsById.get(jobId).map(_.layer).getOrElse("bench"))
    stages += StageRec(i.stageId, i.attemptNumber(), jobId, layer, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L), a.tasks, a.bytesRead, a.shuffleRead,
      a.shuffleWrite, a.spill, a.cpuNs, a.runMs, a.gcMs, a.written)
  }
}

object Intervals {
  /** Length of the union of [start, end] intervals clipped to [lo, hi]. */
  def unionLength(xs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.iterator.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** One span of the trace: times are epoch milliseconds. */
final case class Span(id: Int, name: String, startMs: Double, endMs: Double,
                      parent: Option[Int], layer: String, batch: Option[String]) {
  def toMap: Map[String, Any] = Map("id" -> id, "name" -> name, "start_ms" -> startMs,
    "end_ms" -> endMs, "parent" -> parent.fold[Any](null)(identity), "layer" -> layer,
    "batch" -> batch.orNull)
}
