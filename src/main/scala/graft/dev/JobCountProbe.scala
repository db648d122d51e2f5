package graft.dev

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Fixed-overhead lens on the declared queries: counts Spark JOBS,
  * STAGES and TASKS per steady-state execution (r20 verdict item 3 —
  * the driver's 8-core run beating its 32-core run at sf0.1 means the
  * local wall on the composed capstones is bounded by per-execution
  * fixed costs, job launches first among them, not CPU).
  *
  * The protocol is fixed: each query runs 2 unmeasured warm-up
  * executions first (CachedPlans fills, index fixture builds, broadcast
  * warmups all land there), then 3 measured executions — the steady
  * state the bench's min-of-5 reports. Counts are collected via listener; the listener bus is
  * asynchronous, so a short quiesce wait follows every execution.
  *
  * Usage: JobCountProbe <sfDir> <query> [query ...]
  */
object JobCountProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        { stages.incrementAndGet(); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        { tasks.incrementAndGet(); () }
    })
    val all = graft.SparkEntry.queries ++ graft.SparkEntry.benchExtras
    for (name <- names) {
      val fn = all(name)
      // warm: fixture builds + cache fills, all outside the counted rep
      (1 to 2).foreach(_ => fn(spark, sfDir).count())
      Thread.sleep(500) // listener bus is async — quiesce before counting
      for (rep <- 1 to 3) {
        jobs.set(0); stages.set(0); tasks.set(0)
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(500)
        println(f"$name rep$rep: jobs=${jobs.get}%3d stages=${stages.get}%3d " +
          f"tasks=${tasks.get}%5d wall=$sec%.2f s")
      }
    }
    spark.stop()
  }
}
