package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call into a layer. `req` is the id of the root span of the
  * same operation; times are epoch milliseconds so they line up with the
  * listener's job and task times. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

final case class JobRec(id: Int, group: Long, startMs: Long, endMs: Long)

final case class TaskRec(group: Long, stageId: Int, shuffleMap: Boolean,
                         durMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleReadBytes: Long, shuffleWriteBytes: Long,
                         spillBytes: Long)

/** Attributes Spark jobs and task metrics to the span whose id is the
  * job group the job ran under. */
final class StageListener extends SparkListener {
  private val jobStarts = new ConcurrentHashMap[Int, (Long, Long)]()
  private val stageGroup = new ConcurrentHashMap[Int, Long]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  private def groupOf(p: java.util.Properties): Option[Long] =
    Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).foreach { g =>
      jobStarts.put(e.jobId, (g, e.time))
      e.stageIds.foreach(s => stageGroup.put(s, g))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (g, t0) =>
      jobs.add(JobRec(e.jobId, g, t0, e.time))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != 0L && m != null)
      tasks.add(TaskRec(g, e.stageId, e.taskType == "ShuffleMapTask",
        e.taskInfo.duration, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }
}

/** In-memory span recorder. A span sets the Spark job group to its own
  * id for the duration of the call, so the listener can attribute every
  * job the call launches, per client thread. Spans are only recorded
  * when the caller asks (`on`); otherwise `span` is the bare call. */
object Trace {
  private val clockNs0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epochMs0 + (System.nanoTime() - clockNs0) / 1e6

  private val nextId = new AtomicLong(0L)
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[(Long, Long, String)]](() => Nil)
  private val listener = new StageListener

  /** Registers the job listener on a new SparkContext. */
  def attach(sc: SparkContext): Unit = sc.addSparkListener(listener)

  /** Delivers every queued listener event before metrics are read. */
  def drain(): Unit =
    SparkSession.getActiveSession.foreach(s => org.apache.spark.BusDrain(s.sparkContext))

  def span[T](name: String, on: Boolean)(f: => T): T =
    if (!on) f
    else {
      val sc = SparkSession.active.sparkContext
      val id = nextId.incrementAndGet()
      val outer = stack.get()
      val (parent, req) = outer.headOption.map(p => (p._1, p._2)).getOrElse((0L, id))
      stack.set((id, req, name) :: outer)
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      val t0 = nowMs
      try f
      finally {
        recorded.add(Span(id, parent, req, name, t0, nowMs))
        stack.set(outer)
        outer.headOption match {
          case Some((pid, _, pname)) => sc.setJobGroup(pid.toString, pname, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def spans: Seq[Span] = recorded.asScala.toSeq.sortBy(_.id)
  def named(name: String): Seq[Span] = spans.filter(_.name == name)
  def prefixed(prefix: String): Seq[Span] = spans.filter(_.name.startsWith(prefix))

  private def childrenOf: Map[Long, Seq[Span]] = spans.groupBy(_.parent)

  /** Ids of the given spans and of every span below them. */
  def subtree(roots: Seq[Span]): Set[Long] = {
    val kids = childrenOf
    val out = scala.collection.mutable.Set[Long]()
    var todo = roots.map(_.id).toList
    while (todo.nonEmpty) {
      val id = todo.head
      todo = todo.tail
      if (out.add(id)) todo = kids.getOrElse(id, Nil).map(_.id).toList ++ todo
    }
    out.toSet
  }

  /** Jobs launched under the given spans. */
  def jobsOf(roots: Seq[Span]): Seq[JobRec] = {
    val ids = subtree(roots)
    listener.jobs.asScala.toSeq.filter(j => ids(j.group))
  }

  /** Tasks of the jobs launched under the given spans. */
  def tasksOf(roots: Seq[Span]): Seq[TaskRec] = {
    val ids = subtree(roots)
    listener.tasks.asScala.toSeq.filter(t => ids(t.group))
  }

  /** Length of the union of intervals, in the intervals' unit. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Milliseconds of `s` during which one of its jobs was running. */
  def jobWallMs(s: Span): Double =
    unionLength(jobsOf(Seq(s)).map(j =>
      (math.max(j.startMs.toDouble, s.startMs), math.min(j.endMs.toDouble, s.endMs))))

  /** Share of the root spans' wall time that none of their child spans
    * covers. */
  def unattributedShare(roots: Seq[Span]): Double = {
    val kids = childrenOf
    val total = roots.map(_.durMs).sum
    if (total <= 0) return 0.0
    val covered = roots.map(r =>
      unionLength(kids.getOrElse(r.id, Nil).map(c => (c.startMs, c.endMs)))).sum
    math.max(0.0, 1.0 - covered / total)
  }

  /** Writes every span and attributed job as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"span":${s.id},"parent":${s.parent},"req":${s.req},"name":${Json.str(s.name)},"start_ms":${s.startMs},"end_ms":${s.endMs}}""" + "\n"
    }
    listener.jobs.asScala.toSeq.sortBy(_.startMs).foreach { j =>
      sb ++= s"""{"job":${j.id},"span":${j.group},"start_ms":${j.startMs},"end_ms":${j.endMs}}""" + "\n"
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
