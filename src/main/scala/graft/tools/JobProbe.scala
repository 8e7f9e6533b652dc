package graft.tools

import org.apache.spark.sql.SparkSession

/** Deterministic execution-shape evidence for the optimization rounds:
  * run named SparkEntry queries and print, per entry, the number of
  * Spark JOBS, STAGES, TASKS and the total shuffle bytes
  * written/read — counters a host-phase drift cannot move (unlike
  * wall-clock) and formatted-plan text cannot inflate (a cached
  * subtree prints once per consumer but executes once).
  * Usage: runMain graft.tools.JobProbe <sfDir> <name> [<name> ...]
  * (dev tool; the driver contract uses graft.Bench). */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.model.TsdbContext.configure(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val sw = new java.util.concurrent.atomic.AtomicLong
    val sr = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted)
            : Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(e.stageInfo.numTasks.toLong)
          val m = e.stageInfo.taskMetrics
          if (m != null) {
            sw.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            sr.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          }
        }
      })

    // events reach the listener asynchronously: drain the bus so each
    // entry's counter window holds exactly its own jobs
    def waitForListenerBus(s: SparkSession): Unit =
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(s.sparkContext)

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // settle listener events from the previous entry before resetting
      waitForListenerBus(spark)
      jobs.set(0); stages.set(0); tasks.set(0); sw.set(0); sr.set(0)
      val t0 = System.nanoTime()
      val n = try fn(spark, sfDir).count()
        finally graft.pipeline.Dedup.releaseCaches()
      waitForListenerBus(spark)
      println(f"JOBPROBE $name%-28s jobs=${jobs.get}%4d " +
        f"stages=${stages.get}%4d tasks=${tasks.get}%6d " +
        f"shufW=${sw.get}%10d shufR=${sr.get}%10d " +
        f"${(System.nanoTime() - t0) / 1e9}%7.2f s ($n rows)")
    }
    spark.stop()
  }
}
