package graft

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Dev tool (not part of the driver contract): run named queries N times
  * under a listener that attributes wall time to Spark jobs and stages —
  * the local-mode substitute for the UI's stage page (UI is off in the
  * bench). Prints, per run, total seconds and a per-job breakdown with
  * summed executor task time, so "where does this op's second go" has a
  * measured answer (guide §1: empirical loop).
  *
  * Usage: SPARK_GRAFT_SF_DIR=… sbt "runMain graft.Profile <op> [op…]"
  * (each op runs twice; read the warm run).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Graft.session(s"local[$cpus]", cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    Tables.names.foreach(n => Tables(spark, sfDir, n).limit(1).count())

    case class JobRec(desc: String, t0: Long, var t1: Long = 0L,
        var taskMs: Long = 0L, var tasks: Int = 0,
        var shuffleReadB: Long = 0L, var shuffleWriteB: Long = 0L)
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs(e.jobId) = JobRec(
          Option(e.properties).map(_.getProperty("spark.job.description"))
            .flatMap(Option(_)).getOrElse(""), e.time)
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.t1 = e.time)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
        for {
          jid <- stageToJob.get(e.stageId)
          j <- jobs.get(jid)
          m <- Option(e.taskMetrics)
        } {
          j.taskMs += m.executorRunTime; j.tasks += 1
          j.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val wanted = args.toSet
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted(n) }
      .foreach { case (name, fn) =>
        (1 to 2).foreach { run =>
          jobs.synchronized { jobs.clear(); stageToJob.clear() }
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val wall = (System.nanoTime() - t0) / 1e9
          // listener events are delivered async; give the bus a beat to drain
          Thread.sleep(300)
          println(f"\n== $name run $run: $wall%.2f s, ${jobs.size} jobs ==")
          jobs.synchronized {
            jobs.toSeq.sortBy(_._1).foreach { case (jid, j) =>
              // a job still running (or whose JobEnd event hasn't been
              // delivered) has t1=0 — print 'running' instead of a
              // negative wall
              val w = if (j.t1 > 0) f"${(j.t1 - j.t0) / 1e3}%6.2f s wall" else "  running  "
              val d = if (j.desc.isEmpty) "" else "  " + j.desc.take(60)
              println(f"  job $jid%3d $w  ${j.taskMs}%6d task-ms " +
                f"${j.tasks}%4d tasks  shufR ${j.shuffleReadB / 1024}%7d KB  " +
                f"shufW ${j.shuffleWriteB / 1024}%7d KB$d")
            }
          }
        }
      }
    spark.stop()
  }
}
