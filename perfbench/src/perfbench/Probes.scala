package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Streaming progress listener, registered through the static conf
  * `spark.sql.streaming.streamingQueryListeners`. Spark builds one instance
  * per session's StreamingQueryManager, which is how it also sees the
  * queries the program starts on `newSession()` clones (a listener added
  * with `spark.streams.addListener` only sees the root session). State is
  * therefore kept in the companion object.
  *
  * It only reads events Spark emits anyway, so it stays on in untraced
  * runs. */
class StreamProbe extends StreamingQueryListener {
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    StreamProbe.owner.put(e.runId.toString, StreamProbe.current)
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    StreamProbe.progress.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    StreamProbe.terminated.add(e.runId.toString)
}

object StreamProbe {
  /** id of the query run whose construction is in progress ("" = none) */
  @volatile var current: String = ""
  val owner = new ConcurrentHashMap[String, String]()
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  val terminated = ConcurrentHashMap.newKeySet[String]()

  /** Progress events arrive on the listener bus after `awaitTermination`
    * returns; wait until every started run has reported termination. */
  def settle(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!owner.keySet().asScala.forall(terminated.contains) &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
  }
}

/** One finished task, kept only in traced runs. */
final case class TaskRec(stageId: Int, runMs: Long, gcMs: Long,
    shuffleWriteBytes: Long, spillBytes: Long)

final case class JobRec(jobId: Int, tag: String, stageIds: Seq[Int],
    startMs: Long, var endMs: Long = -1L)

final case class StageRec(stageId: Int, name: String, numTasks: Int,
    submitMs: Long, doneMs: Long)

/** SparkListener for traced runs. Jobs are attributed to a phase exactly:
  * the harness tags each phase with a thread-local property, and the tag
  * comes back in `SparkListenerJobStart.properties`. */
class TraceProbe(tagKey: String) extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  /** stage id → the first job that included it */
  val stageJob = TrieMap.empty[Int, Int]
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(tagKey)))
      .getOrElse("")
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    jobs.put(e.jobId, JobRec(e.jobId, tag, e.stageIds, e.time))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(StageRec(i.stageId, i.name, i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, m.executorRunTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** Listener events are delivered asynchronously: wait until every job
    * seen so far has ended and the counts stop moving. */
  def settle(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val n = tasks.size + jobs.size
      val open = jobs.values().asScala.exists(_.endMs < 0)
      if (n != last) { last = n; stableSince = System.currentTimeMillis() }
      else if (!open && System.currentTimeMillis() - stableSince > 200) return
      Thread.sleep(10)
    }
  }

  def jobsByTag: Map[String, Seq[JobRec]] =
    jobs.values().asScala.toSeq.groupBy(_.tag)

  def tasksByStage: Map[Int, Seq[TaskRec]] =
    tasks.asScala.toSeq.groupBy(_.stageId)

  def stagesById: Map[Int, Seq[StageRec]] =
    stages.asScala.toSeq.groupBy(_.stageId)
}

/** A trace span. Times are epoch milliseconds (Spark's event clock);
  * `qid` is shared by every span of one query run. */
final case class Span(id: Int, parent: Int, qid: String, kind: String,
    name: String, startMs: Double, endMs: Double,
    attrs: Map[String, Any] = Map.empty) {
  def durMs: Double = endMs - startMs
}

object Spans {
  /** Self time: duration minus the union of the children's intervals,
    * each clipped to the parent. */
  def selfMs(parent: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (c.startMs.max(parent.startMs),
      c.endMs.min(parent.endMs))).filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (a, b) =>
      if (curS.isNaN) { curS = a; curE = b }
      else if (a <= curE) curE = curE.max(b)
      else { covered += curE - curS; curS = a; curE = b }
    }
    if (!curS.isNaN) covered += curE - curS
    parent.durMs - covered
  }

  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> selfMs(s, kids.getOrElse(s.id, Nil))).toMap
  }
}
