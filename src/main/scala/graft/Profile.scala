package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.FormattedMode
import scala.collection.immutable.ListMap

/** Per-query attribution: runs each named query once warm, then once
  * profiled, and prints ONE JSON line per query saying where the
  * seconds live —
  *   - executed Spark work: jobs, stages, tasks, summed task time, and
  *     the task-metric split (deserialize / run / cpu / gc / result
  *     serialization);
  *   - driver gap: wall time with no Spark job running (planning, FS
  *     metadata, commit protocol, stream start/stop);
  *   - the top stages and jobs by summed wall, by description;
  *   - the top driver-side frames, from a 10 ms stack sampler over the
  *     RUNNABLE non-executor threads, collapsed to the most informative
  *     frame (the first graft.* frame, else parquet, else Spark SQL);
  *   - with `--plan`, the formatted physical plan.
  * A query whose time is 60 tiny jobs needs fewer actions; one whose
  * time is a single fat stage needs a better plan; one that is mostly
  * gap needs driver work removed — and the frames name which.
  *
  * Runs on the bench's session profile ([[GraftSession]]) over
  * `SPARK_GRAFT_SF_DIR` (default sf0.1).
  * Usage: runMain graft.Profile [--plan] <query> [query...]
  */
object Profile {
  private final case class J(desc: String, start: Long, var end: Long,
                             stages: Int, var tasks: Int, var taskMs: Long)
  private final case class St(name: String, ms: Long, tasks: Int, taskMs: Long)

  private final class Acc extends SparkListener {
    val jobs = scala.collection.mutable.LinkedHashMap.empty[Int, J]
    val stageToJob = scala.collection.mutable.Map.empty[Int, Int]
    val stages = scala.collection.mutable.ArrayBuffer.empty[St]
    var deserMs, runMs, cpuMs, gcMs, resSerMs = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      // an explicit job description, else the result stage's call site
      val d = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
        .getOrElse("?")
      jobs(e.jobId) = J(d, e.time, e.time, e.stageIds.size, 0, 0L)
      e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        if (e.taskInfo != null) j.taskMs += e.taskInfo.duration
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val tm = si.taskMetrics
        val ms = (for (a <- si.completionTime; b <- si.submissionTime)
          yield a - b).getOrElse(0L)
        stages += St(si.name, ms, si.numTasks, tm.executorRunTime)
        deserMs += tm.executorDeserializeTime
        runMs += tm.executorRunTime
        cpuMs += tm.executorCpuTime / 1000000L
        gcMs += tm.jvmGCTime
        resSerMs += tm.resultSerializationTime
      }
  }

  /** Samples every RUNNABLE driver-side thread's stack each 10 ms until
    * stopped; `hist` counts samples per collapsed frame.
    */
  private final class Sampler extends Thread("profile-sampler") {
    val hist = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    @volatile var running = true
    setDaemon(true)
    override def run(): Unit = while (running) {
      Thread.getAllStackTraces.forEach { (t, frames) =>
        val n = t.getName
        // executor task threads and idle pools are not driver time
        val isWorker = n.startsWith("Executor task launch") ||
          Seq("dispatcher", "shuffle", "netty", "rpc", "block-manager",
            "sampler").exists(n.contains)
        if (!isWorker && frames.nonEmpty &&
            t.getState == Thread.State.RUNNABLE) {
          // the profiler's own frames say nothing about the query
          val fs = frames.map(f => f.getClassName + "." + f.getMethodName)
            .filterNot(_.startsWith("graft.Profile"))
          val pick = fs.find(_.startsWith("graft."))
            .orElse(fs.find(_.startsWith("org.apache.parquet")))
            .orElse(fs.find(f => f.startsWith("org.apache.spark.sql") &&
              !f.contains("Iterator")))
          // a thread parked in a native call (epoll, reference queue)
          // with no query frame on its stack is idle, not driver work
          pick.orElse(Option.when(!frames.head.isNativeMethod)(fs.head))
            .foreach(p => hist.synchronized(hist(s"[$n] $p") += 1))
        }
      }
      Thread.sleep(10)
    }
  }

  private def r3(v: Double): Double = math.round(v * 1000) / 1000.0

  /** Seconds covered by at least one job: overlapping jobs (AQE
    * broadcast builds, concurrent subqueries) count once.
    */
  private def jobCoverSec(spans: Seq[(Long, Long)]): Double =
    spans.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((acc, reach), (s, e)) =>
        if (e <= reach) (acc, reach)
        else (acc + e - math.max(s, reach), e)
    }._1 / 1e3

  def main(args: Array[String]): Unit = {
    val (flags, names) = args.partition(_.startsWith("--"))
    require((flags.toSet -- Set("--plan")).isEmpty,
      s"unknown flags: ${flags.mkString(", ")} (known: --plan)")
    require(names.nonEmpty, "usage: Profile [--plan] <query> [query...]")
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    val withPlan = flags.contains("--plan")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local("graft-profile", GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(s"$sfDir/region.parquet").count() // warm-up

    for (name <- names) {
      // one unprofiled warm run so JIT/codegen caches don't pollute the
      // attribution (matches the bench's min-of-3 steady state)
      spark.catalog.clearCache()
      SparkEntry.queries(name)(spark, sfDir).count()
      spark.catalog.clearCache()
      val acc = new Acc
      val sampler = new Sampler
      spark.sparkContext.addSparkListener(acc)
      val t0 = System.nanoTime()
      sampler.start()
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.count()
      sampler.running = false
      val wall = (System.nanoTime() - t0) / 1e9
      sampler.join(500)
      Thread.sleep(300) // let the listener bus drain (no public wait API)
      spark.sparkContext.removeSparkListener(acc)

      val js = acc.jobs.values.toSeq
      val topJobs = js.groupBy(_.desc).toSeq.map { case (d, g) =>
        (d, g.size, g.map(j => (j.end - j.start).max(0L)).sum / 1e3,
          g.map(_.tasks).sum)
      }.sortBy(-_._3).take(8).map { case (d, n, sec, tasks) =>
        ListMap("desc" -> d.take(110), "n" -> n, "sec" -> r3(sec),
          "tasks" -> tasks)
      }
      val topStages = acc.stages.toSeq.groupBy(_.name).toSeq.map { case (nm, g) =>
        (nm, g.size, g.map(_.ms).sum / 1e3, g.map(_.tasks).sum,
          g.map(_.taskMs).sum / 1e3)
      }.sortBy(-_._3).take(8).map { case (nm, n, sec, tasks, tsec) =>
        ListMap("name" -> nm.take(95), "n" -> n, "sec" -> r3(sec),
          "tasks" -> tasks, "taskSec" -> r3(tsec))
      }
      val frames = sampler.hist.synchronized(sampler.hist.toSeq)
        .sortBy(-_._2).take(12)
        .map { case (f, n) => ListMap("frame" -> f, "ms" -> n * 10) }
      val jobSec = jobCoverSec(js.map(j => (j.start, j.end)))
      val record = ListMap[String, Any](
        "query" -> name, "sf" -> sfDir, "cpus" -> GraftSession.cpus,
        "wall" -> r3(wall), "jobs" -> js.size,
        "stages" -> js.map(_.stages).sum, "tasks" -> js.map(_.tasks).sum,
        "taskSec" -> r3(js.map(_.taskMs).sum / 1e3),
        "deserSec" -> r3(acc.deserMs / 1e3), "runSec" -> r3(acc.runMs / 1e3),
        "cpuSec" -> r3(acc.cpuMs / 1e3), "gcSec" -> r3(acc.gcMs / 1e3),
        "resSerSec" -> r3(acc.resSerMs / 1e3),
        "jobSec" -> r3(jobSec), "gapSec" -> r3(math.max(0.0, wall - jobSec)),
        "topStages" -> topStages, "topJobs" -> topJobs,
        "driverFrames" -> frames) ++
        (if (withPlan) ListMap("plan" ->
          df.queryExecution.explainString(FormattedMode)) else Nil)
      println(org.json4s.jackson.Serialization.write(record)(
        org.json4s.DefaultFormats))
    }
    spark.stop()
  }
}
