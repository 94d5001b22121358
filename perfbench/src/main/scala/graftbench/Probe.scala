package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Executor-side totals of one benchmark segment. */
final class Work {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L

  def add(o: Work): Work = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    this
  }
}

/** One Spark job, tagged with the segment and span that launched it. */
final case class JobRec(id: Int, segment: String, span: Int, startMs: Long, endMs: Long,
                        callSite: String)

/** SparkListener that attributes every job, stage and task to the
  * benchmark segment named by the driver thread's local properties at
  * submission (`graftbench.seg`, e.g. `17:build`; `graftbench.span`, the
  * id of the segment's span). Broadcast and AQE threads inherit local
  * properties, so their jobs land in the segment that caused them. Read
  * the totals only after draining the listener bus (see GraftBenchBridge). */
final class Probe extends SparkListener {
  import Probe.{SegKey, SpanKey}

  private val work = mutable.Map.empty[String, Work]
  private val stageSeg = mutable.Map.empty[Int, String]
  private val open = mutable.Map.empty[Int, JobRec]
  private val done = mutable.ArrayBuffer.empty[JobRec]

  private def seg(key: String): Work = work.getOrElseUpdate(key, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    val key = if (p == null) null else p.getProperty(SegKey)
    if (key != null) {
      val span = Option(p.getProperty(SpanKey)).map(_.toInt).getOrElse(-1)
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      open(e.jobId) = JobRec(e.jobId, key, span, e.time, e.time, site)
      seg(key).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(j => done += j.copy(endMs = e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val p = e.properties
    val key = if (p == null) null else p.getProperty(SegKey)
    if (key != null) stageSeg(e.stageInfo.stageId) = key
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSeg.get(e.stageInfo.stageId).foreach(k => seg(k).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSeg.get(e.stageId).foreach { k =>
      val w = seg(k)
      w.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.runMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
        w.inputBytes += m.inputMetrics.bytesRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Totals of the segments whose key satisfies `p`. */
  def work(p: String => Boolean): Work = synchronized {
    work.collect { case (k, w) if p(k) => w }.foldLeft(new Work)(_ add _)
  }

  def jobs(p: String => Boolean): Seq[JobRec] = synchronized(done.filter(j => p(j.segment)).toList)
}

object Probe {
  val SegKey = "graftbench.seg"
  val SpanKey = "graftbench.span"
}
