package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval of the benchmark: an operation, a phase of one,
  * or (when written out) a Spark job under a phase. */
final class Span(val id: Int, val name: String, val parent: Int,
    val startMs: Long, val startNs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
  def contains(ms: Long): Boolean = startMs <= ms && ms <= endMs
}

final case class StageStat(stageId: Int, jobId: Int, numTasks: Int,
    submitMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteB: Long, shuffleReadB: Long, spillB: Long, inputB: Long,
    outputB: Long)

/** Spark-side counters of a set of jobs, as the per-layer metrics use
  * them. Times in seconds, sizes in bytes. */
final case class SparkCounts(jobs: Int, stages: Int, tasks: Int,
    singleTaskStages: Int, runS: Double, cpuS: Double, gcS: Double,
    shuffleWriteB: Long, shuffleReadB: Long, spillB: Long, inputB: Long,
    outputB: Long, busyS: Double, taskWaitS: Double) {
  def +(o: SparkCounts): SparkCounts = SparkCounts(jobs + o.jobs,
    stages + o.stages, tasks + o.tasks,
    singleTaskStages + o.singleTaskStages, runS + o.runS, cpuS + o.cpuS,
    gcS + o.gcS, shuffleWriteB + o.shuffleWriteB,
    shuffleReadB + o.shuffleReadB, spillB + o.spillB, inputB + o.inputB,
    outputB + o.outputB, busyS + o.busyS, taskWaitS + o.taskWaitS)
}

object SparkCounts {
  val zero: SparkCounts = SparkCounts(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0,
    0, 0)
}

/** The traced run's span recorder and the SparkListener that counts
  * jobs, stages, tasks and cached blocks. Spans live in memory and are
  * written out as JSONL when the run ends ([[writeSpans]]).
  *
  * A job belongs to the span named by the `perfbench.span` local
  * property of the thread that submitted it when that span was open at
  * the job's submission; otherwise (jobs submitted from pool threads,
  * such as the pipeline runner's concurrent stages) to the innermost
  * span open at its submission time. Operations run one at a time, so
  * that span is unique. */
final class Tracer(val runId: String) extends SparkListener {
  private val SpanProp = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobSubmit = mutable.HashMap.empty[Int, (Long, Option[Int])]
  private val jobEnd = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[StageStat]
  // per stage: (launch ms, finish ms) of each finished task
  private val tasks =
    mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
  // cached RDD blocks: current bytes, and (time ms, total bytes) series
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var cachedB = 0L
  private val cacheSeries = mutable.ArrayBuffer((0L, 0L))

  // ---- spans (driver thread) -------------------------------------

  def open(name: String, parent: Int): Span = synchronized {
    val s = new Span(spans.size, name, parent, System.currentTimeMillis(),
      System.nanoTime())
    spans += s
    s
  }

  def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
  }

  /** Run `body` inside a new span, tagging the jobs it submits. */
  def span[T](sc: SparkContext, name: String, parent: Int)(
      body: => T): (T, Span) = {
    val s = open(name, parent)
    val prior = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try (body, s)
    finally {
      close(s)
      sc.setLocalProperty(SpanProp, prior)
    }
  }

  def children(parent: Span): Seq[Span] = synchronized {
    spans.filter(_.parent == parent.id).toSeq
  }

  // ---- listener (listener-bus thread) -----------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p =>
      Option(p.getProperty(SpanProp))).map(_.toInt)
    jobSubmit(e.jobId) = (e.time, tag)
    e.stageIds.foreach(id => stageJob.getOrElseUpdate(id, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnd(e.jobId) = e.time
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
      (e.taskInfo.launchTime -> e.taskInfo.finishTime)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      def opt(v: => Long): Long = if (m == null) 0L else v
      stages += StageStat(i.stageId, stageJob.getOrElse(i.stageId, -1),
        i.numTasks, i.submissionTime.getOrElse(0L), opt(m.executorRunTime),
        opt(m.executorCpuTime), opt(m.jvmGCTime),
        opt(m.shuffleWriteMetrics.bytesWritten),
        opt(m.shuffleReadMetrics.totalBytesRead),
        opt(m.diskBytesSpilled), opt(m.inputMetrics.bytesRead),
        opt(m.outputMetrics.bytesWritten))
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockId.name
        val now = if (info.storageLevel.isValid)
          info.memSize + info.diskSize else 0L
        cachedB += now - blockBytes.getOrElse(key, 0L)
        if (now == 0L) blockBytes.remove(key) else blockBytes(key) = now
        cacheSeries += (System.currentTimeMillis() -> cachedB)
      }
    }

  // unpersist removes an RDD's blocks without posting block updates
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit =
    synchronized {
      val prefix = s"rdd_${e.rddId}_"
      val gone = blockBytes.keys.filter(_.startsWith(prefix)).toSeq
      if (gone.nonEmpty) {
        gone.foreach(k => cachedB -= blockBytes.remove(k).get)
        cacheSeries += (System.currentTimeMillis() -> cachedB)
      }
    }

  // ---- attribution ------------------------------------------------

  private def jobSpan(jobId: Int): Option[Int] = {
    val (at, tag) = jobSubmit(jobId)
    tag.filter(id => id < spans.size && {
      val s = spans(id); s.startMs - 1 <= at && (s.endMs < 0 ||
        at <= s.endMs + 1)
    }).orElse {
      spans.filter(s => s.startMs <= at && (s.endMs < 0 || at <= s.endMs))
        .sortBy(s => (s.startMs, s.id)).lastOption.map(_.id)
    }
  }

  private def under(id: Int, root: Span): Boolean =
    id == root.id || (id >= 0 && spans(id).parent >= 0 &&
      under(spans(id).parent, root))

  /** Jobs attributed to `root` or to a span below it. */
  def jobsUnder(root: Span): Seq[Int] = synchronized {
    jobSubmit.keys.toSeq.sorted.filter(j => jobSpan(j).exists(under(_, root)))
  }

  /** Counters of the given jobs; busy time and gaps clipped to `window`. */
  def counts(jobIds: Seq[Int], window: Span): SparkCounts = synchronized {
    val ids = jobIds.toSet
    val st = stages.filter(s => ids.contains(s.jobId))
    val intervals = st.flatMap(s => tasks.getOrElse(s.stageId, Nil))
      .map { case (a, b) => (math.max(a, window.startMs),
        math.min(b, window.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L; var curA = -1L; var curB = -1L
    intervals.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busy += curB - curA
    val wait = st.map(s => tasks.getOrElse(s.stageId, Nil)
      .map(t => math.max(0L, t._1 - s.submitMs)).sum).sum
    SparkCounts(ids.size, st.size, st.map(_.numTasks).sum,
      st.count(_.numTasks == 1), st.map(_.runMs).sum / 1e3,
      st.map(_.cpuNs).sum / 1e9, st.map(_.gcMs).sum / 1e3,
      st.map(_.shuffleWriteB).sum, st.map(_.shuffleReadB).sum,
      st.map(_.spillB).sum, st.map(_.inputB).sum, st.map(_.outputB).sum,
      busy / 1e3, wait / 1e3)
  }

  /** Peak cached RDD bytes while `s` was open. */
  def cachePeakB(s: Span): Long = synchronized {
    val before = cacheSeries.takeWhile(_._1 < s.startMs).lastOption
      .map(_._2).getOrElse(0L)
    (before +: cacheSeries.filter(x => s.contains(x._1)).map(_._2).toSeq)
      .max
  }

  def cachedBytesNow: Long = synchronized(cachedB)

  /** Write every span, and every job under the span it belongs to, as
    * one JSON object per line. */
  def writeSpans(file: File): Unit = synchronized {
    file.getParentFile.mkdirs()
    val out = new PrintWriter(file, "UTF-8")
    try {
      spans.foreach { s =>
        out.println(Json.render(Json.obj("run_id" -> runId, "id" -> s.id,
          "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs, "seconds" -> s.seconds)))
      }
      jobSubmit.keys.toSeq.sorted.foreach { j =>
        jobSpan(j).foreach { p =>
          out.println(Json.render(Json.obj("run_id" -> runId,
            "id" -> s"job-$j", "parent" -> p, "name" -> s"spark job $j",
            "start_ms" -> jobSubmit(j)._1,
            "end_ms" -> jobEnd.getOrElse(j, -1L))))
        }
      }
    } finally out.close()
  }
}
