package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Task totals of one stage, over all its attempts. */
final class StageSums {
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
}

final case class JobRec(jobId: Int, group: String, timeMs: Long, stageIds: Seq[Int])

/** Collects job, stage and task events for the traced run. Spark delivers
  * events on its listener thread; read the collected state only after
  * [[BusDrain.drain]]. */
final class BenchListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stageTimes = mutable.Map.empty[Int, (Long, Long)]
  val stageSums = mutable.Map.empty[Int, StageSums]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs += JobRec(e.jobId, group, e.time, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    for (s <- si.submissionTime; c <- si.completionTime) {
      val prev = stageTimes.get(si.stageId)
      stageTimes(si.stageId) = prev match {
        case Some((ps, pc)) => (math.min(ps, s), math.max(pc, c))
        case None => (s, c)
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val s = stageSums.getOrElseUpdate(e.stageId, new StageSums)
    s.tasks += 1
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.inputRecords += m.inputMetrics.recordsRead
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** What one span and its descendants ran on Spark. */
final case class SpanWork(jobs: Int, tasks: Long, cpuNs: Long,
    shuffleBytes: Long, spillBytes: Long, inputRecords: Long,
    outputBytes: Long, stageIntervals: Seq[(Double, Double)])

/** Assigns Spark jobs to spans. A job belongs to the span named by its job
  * group; a job that carries another group (Spark's broadcast exchange sets
  * its own) belongs to the innermost span open at its submission time.
  * A stage belongs to the first job that lists it. */
final class Attribution(spans: Seq[Span], jobs: Seq[JobRec],
    stageTimes: collection.Map[Int, (Long, Long)],
    stageSums: collection.Map[Int, StageSums]) {

  private val byId = spans.map(s => s.id -> s).toMap
  private val children = spans.groupBy(_.parent)

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + byId.get(s.parent).map(depth).getOrElse(0)

  val jobSpan: Map[Int, Int] = jobs.flatMap { j =>
    Tracer.spanOfGroup(j.group).filter(byId.contains).orElse {
      val t = j.timeMs.toDouble
      val covering = spans.filter(s => s.startMs - 1 <= t && t <= s.endMs + 1)
      if (covering.isEmpty) None else Some(covering.maxBy(depth).id)
    }.map(j.jobId -> _)
  }.toMap

  private val stageJob: Map[Int, Int] = jobs.sortBy(_.jobId).reverse
    .flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap

  /** Span ids of `root` and all its descendants. */
  def subtree(root: Int): Set[Int] = {
    val out = mutable.Set(root)
    var frontier = List(root)
    while (frontier.nonEmpty) {
      val kids = frontier.flatMap(id => children.getOrElse(id, Nil).map(_.id))
      out ++= kids
      frontier = kids
    }
    out.toSet
  }

  def work(root: Int): SpanWork = {
    val ids = subtree(root)
    val myJobs = jobSpan.collect { case (j, s) if ids(s) => j }.toSet
    val myStages = stageJob.collect { case (st, j) if myJobs(j) => st }.toSeq
    val sums = myStages.flatMap(stageSums.get)
    SpanWork(myJobs.size, sums.map(_.tasks).sum, sums.map(_.cpuNs).sum,
      sums.map(_.shuffleBytes).sum, sums.map(_.spillBytes).sum,
      sums.map(_.inputRecords).sum, sums.map(_.outputBytes).sum,
      myStages.flatMap(stageTimes.get).map { case (a, b) => (a.toDouble, b.toDouble) })
  }
}
