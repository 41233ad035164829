package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Post-execution plan + job/stage counts for named SparkEntry keys:
  *
  *   sbt "runMain graft.Probe <dataDir> final cur,v_iq"
  *
  * For each key, two passes under Bench's force methodology, each
  * printing its wall time and job/stage count; the second pass also
  * writes AQE's FINAL plan to `final_<key>.txt` in `java.io.tmpdir` (with the
  * ReusedQueryStage/ReusedExchange nodes runtime reuse actually produced
  * — a pre-execution dump can't show them). */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.length > 2 && args(1) == "final",
      "usage: graft.Probe <dataDir> final <key,key,...>")
    val dir = args(0)
    val spark = Harness.session("local[32]", "32")
    SparkEntry.warmCache(spark, dir)
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size); ()
      }
    })
    for (name <- args(2).split(',').toSeq; pass <- 1 to 2) {
      val forced = Harness.forced(SparkEntry.queries(name)(spark, dir))
      val (j0, s0) = (jobs.get(), stages.get())
      val t0 = System.nanoTime()
      // collect(), not head(): head() executes a limit-wrapped COPY of
      // the plan, leaving `forced.queryExecution` unexecuted — the dump
      // below would then show the initial AQE plan instead of the final
      // one with its runtime codegen spans and reused stages
      forced.collect()
      println(f"FINAL $name%-8s($pass) ${(System.nanoTime() - t0) / 1e9}%6.2f s " +
        f"jobs=${jobs.get() - j0}%3d stages=${stages.get() - s0}%3d")
      if (pass == 2) {
        val txt = forced.queryExecution.executedPlan.toString
        val out = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"), s"final_$name.txt")
        java.nio.file.Files.writeString(out, txt)
        println(s"  wrote $out (${txt.length} chars)")
      }
    }
    spark.stop()
  }
}
