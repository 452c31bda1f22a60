package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable

/** Plan and execution profile of declared queries and Bench workloads,
  * one file per name: a header (wall, jobs, stages, tasks, shuffle
  * bytes), a per-job table (id, wall, description), a per-stage table
  * (id, tasks, submission→completion, shuffle write, name) and the
  * `.explain("formatted")` plan — the plan and per-phase evidence for
  * optimization rounds, read from the real operator run.
  *
  * Usage: `runMain graft.PlanDump <outDir> <suffix> <name1,name2,...>`
  * where a name is a `Bench.registry` workload or a `SparkEntry` query.
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_GRAPH_LOCAL=0 to dump the forced-distributed plans. */
object PlanDump {

  /** `name` as a Bench workload first, then as a SparkEntry query. */
  private[graft] def resolve(sfDir: String, name: String)
      : SparkSession => DataFrame =
    Bench.registry(sfDir).all.find(_._1 == name).map(_._2)
      .orElse(SparkEntry.queries.get(name)
        .map(q => (s: SparkSession) => q(s, sfDir)))
      .getOrElse(throw new IllegalArgumentException(
        s"unknown query or Bench workload: $name"))

  /** Every job and completed stage between `addSparkListener` and
    * `removeSparkListener`. Callbacks run on the listener-bus thread,
    * the report on the main thread: both sides take the lock. */
  private final class Profile extends SparkListener {
    private val running = mutable.Map.empty[Int, (Long, String)]
    val jobs = mutable.ArrayBuffer.empty[(Int, Long, String)]
    val stages = mutable.ArrayBuffer.empty[StageInfo]
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      // an untagged job falls back to its result stage's call site
      val desc = Option(j.properties.getProperty("spark.job.description"))
        .orElse(Option(j.properties.getProperty("callSite.short")))
        .orElse(j.stageInfos.maxByOption(_.stageId).map(_.name))
        .getOrElse("")
      running(j.jobId) = (System.nanoTime(), desc)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      running.remove(j.jobId).foreach { case (t0, desc) =>
        jobs += ((j.jobId, System.nanoTime() - t0, desc))
      }
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized { stages += s.stageInfo }
  }

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // resolve every name before the session starts: a typo fails fast
    val runs = args(2).split(',').map(_.trim).filter(_.nonEmpty)
      .map(name => name -> resolve(sfDir, name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.start(s"local[$cpus]", cpus.toInt)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    runs.foreach { case (name, run) =>
      // profile the WHOLE query: graph operators and Dbscan.run run
      // eager internal jobs while the frame is built and return
      // localCheckpoint'd results, so the final plan alone under-reports
      // the work
      val profile = new Profile
      spark.sparkContext.addSparkListener(profile)
      val t0 = System.nanoTime()
      val df = run(spark)
      df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the async listener bus drain
      spark.sparkContext.removeSparkListener(profile)
      val (jobs, stages) = profile.synchronized {
        (profile.jobs.sortBy(_._1).toVector,
          profile.stages.sortBy(_.stageId).toVector)
      }
      def stageMs(s: StageInfo): Long =
        (for (a <- s.submissionTime; b <- s.completionTime) yield b - a)
          .getOrElse(-1L)
      def shuffleWrite(s: StageInfo): Long =
        s.taskMetrics.shuffleWriteMetrics.bytesWritten
      val nl = System.lineSeparator
      val header = f"== execution profile ($suffix) ==%n" +
        f"wall: $sec%.2f s  jobs: ${jobs.size}  stages: ${stages.size}  " +
        f"tasks: ${stages.map(_.numTasks).sum}  " +
        f"shuffle bytes written: ${stages.map(shuffleWrite).sum}%n%n"
      val jobTable = s"== jobs (${jobs.size}) ==$nl" + jobs.map {
        case (id, ns, desc) => f"job $id%4d  ${ns / 1e9}%8.3f s  $desc$nl"
      }.mkString + nl
      val stageTable = s"== stages (${stages.size}) ==$nl" + stages.map {
        s => f"stage ${s.stageId}%4d  tasks ${s.numTasks}%5d  " +
          f"${stageMs(s) / 1e3}%8.3f s  shuffle write " +
          f"${shuffleWrite(s)}%12d  ${s.name}$nl"
      }.mkString + nl
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        header + jobTable + stageTable + plan)
      println(s"[plandump] $name ($suffix): ${jobs.size} jobs, " +
        f"${stages.size} stages, $sec%.2f s")
      spark.catalog.clearCache(); System.gc()
    }
    spark.stop()
  }
}
