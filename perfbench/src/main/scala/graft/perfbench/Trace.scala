package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Spark work attributed to one job group (or summed over several). */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var taskRunMs = 0L
  /** (start, end) wall-clock ms of each finished job. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  /** Job count per job description, as the operators set it. */
  val jobsByDesc = mutable.LinkedHashMap.empty[String, Long]
  /** Summed job wall-clock ms per job description. */
  val msByDesc = mutable.LinkedHashMap.empty[String, Long]

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; gcMs += o.gcMs; taskRunMs += o.taskRunMs
    jobIntervals ++= o.jobIntervals
    o.jobsByDesc.foreach { case (d, n) =>
      jobsByDesc(d) = jobsByDesc.getOrElse(d, 0L) + n }
    o.msByDesc.foreach { case (d, n) =>
      msByDesc(d) = msByDesc.getOrElse(d, 0L) + n }
  }

  /** Milliseconds covered by at least one job. */
  def busyMs: Long = {
    var busy = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) busy += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) busy += curE - curS
    busy
  }
}

/** The benchmark's own listener: attributes every job, stage and task to
  * the job group that was set when its job started. Events arrive on
  * Spark's listener thread; [[sync]] waits until every event posted
  * before it has been seen. */
final class JobTracker extends SparkListener {
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobInfo = mutable.HashMap.empty[Int, (String, String, Long)]
  private val syncsDone = mutable.HashSet.empty[String]
  private var syncs = 0

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val g = props.flatMap(p => Option(p.getProperty(JobTracker.GroupKey)))
      .getOrElse("")
    val desc = props.flatMap(p => Option(p.getProperty(JobTracker.DescKey)))
      .getOrElse("")
    jobInfo(e.jobId) = (g, desc, e.time)
    if (!JobTracker.isSync(g)) {
      val s = stats(g)
      s.jobs += 1
      s.jobsByDesc(desc) = s.jobsByDesc.getOrElse(desc, 0L) + 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (g, desc, start) =>
      if (JobTracker.isSync(g)) { syncsDone += g; notifyAll() }
      else {
        val s = stats(g)
        s.jobIntervals += ((start, e.time))
        s.msByDesc(desc) = s.msByDesc.getOrElse(desc, 0L) + (e.time - start)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(stats(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = stats(g)
      s.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.diskBytesSpilled
        s.gcMs += m.jvmGCTime
        s.taskRunMs += m.executorRunTime
      }
    }
  }

  /** Runs one tiny job in a marker group and waits until its end event
    * arrives: events are delivered in order, so everything posted
    * earlier has then been counted. */
  def sync(sc: SparkContext, timeoutMs: Long = 60000L): Unit = {
    val g = synchronized { syncs += 1; s"${JobTracker.SyncPrefix}$syncs" }
    val prevGroup = sc.getLocalProperty(JobTracker.GroupKey)
    sc.setLocalProperty(JobTracker.GroupKey, g)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(JobTracker.GroupKey, prevGroup)
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      while (!syncsDone(g)) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0)
          throw new IllegalStateException("listener events did not drain")
        wait(left)
      }
    }
  }

  /** Stats of the given groups, summed (a fresh copy). */
  def statsOf(gs: Iterable[String]): GroupStats = synchronized {
    val out = new GroupStats
    gs.foreach(g => groups.get(g).foreach(out.add))
    out
  }
}

object JobTracker {
  val GroupKey = "spark.jobGroup.id"
  val DescKey = "spark.job.description"
  private val SyncPrefix = "perfbench-sync-"
  private def isSync(g: String) = g.startsWith(SyncPrefix)
}

/** One traced interval. `kind` says how its numbers were obtained:
  * `run` — one whole timed run; `call` — a call into a layer that is
  * part of the timed run; `isolated` — an extra call made only in traced
  * runs, to measure one layer on its own. */
final case class Span(id: Int, name: String, kind: String,
    parent: Option[Int], run: Int, startNs: Long) {
  var endNs: Long = startNs
  val counters = mutable.LinkedHashMap.empty[String, Double]
  def seconds: Double = (endNs - startNs) / 1e9
  def group: String = s"perfbench-span-$id"
}

/** Records spans in memory around the benchmark's calls into each layer.
  * Every timed run gets a `run` span, so its Spark work can be read back;
  * inner spans are recorded only in traced runs. Each span sets its own
  * Spark job group, which is how [[JobTracker]] attributes jobs to it. */
final class Tracer(sc: SparkContext) {
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var traced = false

  def spans: Seq[Span] = recorded.toSeq

  private def open[T](name: String, kind: String, run: Int)(f: => T): T = {
    val s = Span(recorded.size, name, kind, stack.headOption.map(_.id), run,
      System.nanoTime())
    recorded += s
    val prev = sc.getLocalProperty(JobTracker.GroupKey)
    sc.setLocalProperty(JobTracker.GroupKey, s.group)
    stack = s :: stack
    try f
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(JobTracker.GroupKey, prev)
    }
  }

  /** Wraps one timed run (or, as `isolated`, the extra calls made after
    * a traced run); returns its result and its root span. */
  def run[T](runId: Int, traced: Boolean, kind: String = "run")(
      f: => T): (T, Span) = {
    require(stack.isEmpty, "runs do not nest")
    this.traced = traced
    var span: Span = null
    val out = open(kind, kind, runId) { span = stack.head; f }
    (out, span)
  }

  /** Records a span around `f` in a traced run; just runs `f` otherwise. */
  def span[T](name: String, kind: String)(f: => T): T =
    if (!traced || stack.isEmpty) f else open(name, kind, stack.head.run)(f)

  /** Records a count on the innermost open span of a traced run. */
  def count(name: String, v: Double): Unit =
    if (traced) stack.headOption.foreach(_.counters(name) = v)

  def children(s: Span): Seq[Span] = recorded.filter(_.parent.contains(s.id))
    .toSeq

  /** `s` and all spans below it. */
  def subtree(s: Span): Seq[Span] = s +: children(s).flatMap(subtree)

  /** Spark work of `s` and every span below it. */
  def work(t: JobTracker, s: Span): GroupStats =
    t.statsOf(subtree(s).map(_.group))
}
