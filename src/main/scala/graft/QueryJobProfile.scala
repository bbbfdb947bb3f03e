package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev-only per-query JOB profiler (not part of the driver contract): runs a
  * registry query once warm, then once instrumented with a SparkListener that
  * records every job's wall time and task count — the tool that separates
  * "few big jobs" (scale-bound work) from "many tiny jobs" (per-action
  * overhead: counts, eager checkpoints, driver-side loop rounds).
  *
  * Usage: runMain graft.QueryJobProfile <sfDir> <query>...
  */
object QueryJobProfile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QueryJobProfile <sfDir> <query>...")
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val spark = Main.session("graft-query-job-profile")

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir).count() // warmup: caches, codegen, JIT

      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
      val ends = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      val stageTasks = new java.util.concurrent.atomic.AtomicLong(0)
      val stageCnt = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          jobs.put(js.jobId, (js.time,
            Option(js.properties)
              .flatMap(p => Option(p.getProperty("spark.job.description")))
              .getOrElse(""), js.stageInfos.size))
        override def onJobEnd(je: SparkListenerJobEnd): Unit =
          ends.put(je.jobId, je.time)
        override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
          stageTasks.addAndGet(sc.stageInfo.numTasks.toLong)
          stageCnt.incrementAndGet()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain
      spark.sparkContext.removeSparkListener(listener)

      import scala.jdk.CollectionConverters._
      val rows = jobs.asScala.toSeq.sortBy(_._1).map { case (id, (st, desc, nStages)) =>
        val dur = ends.asScala.get(id).map(e => (e - st) / 1e3).getOrElse(-1.0)
        (id, dur, nStages, desc)
      }
      println(f"PROFILE $name wall=$wall%.3f jobs=${rows.size} " +
        f"stages=${stageCnt.get} tasks=${stageTasks.get} " +
        f"jobs_sec=${rows.map(_._2).filter(_ > 0).sum}%.3f")
      rows.foreach { case (id, dur, nStages, desc) =>
        println(f"  job $id%3d ${dur}%8.3f s stages=$nStages%2d $desc")
      }
    }
    spark.stop()
  }
}
