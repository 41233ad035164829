package graft.pipeline

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, ExecutionException,
  ExecutorCompletionService, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.sources.Sinks

/** Config-driven pipeline execution — the ops entry point a user of the
  * reference's `python -m src...` module mains lands on (reference: every
  * module's `if __name__ == "__main__"` block reads config.yaml and runs
  * one stage; graft runs the requested stages off ONE shared silver
  * frame instead of one JVM/session per stage).
  *
  * Stage outputs land under `outputDir/<stage>/<table>` as parquet —
  * frames carrying `event_date` are written date-partitioned (the
  * reference's layout, bronze_loader.py:33-37), everything else plain.
  * The monitoring stage CLASSIFIES from the configured thresholds: PSI
  * severity (ok/warn/critical at psi_warn/psi_crit), missing-rate shift
  * alert, volume-drop alert at 1 − volume_drop_ratio — the reference's
  * monitoring: block (config.yaml:27-31) driving real columns.
  *
  * Scale: one session, one silver frame that every stage derives from.
  * Each table write is a separate action, and Spark reuses no exchange
  * across actions, so `run` pins silver (MEMORY_AND_DISK) for the call:
  * raw events are scanned and deduplicated once, not once per table.
  * Row counts are observed on the write itself, and up to [[WriteSlots]]
  * independent writes run at once, so the scheduler overlaps their small
  * jobs instead of idling between them. At 100 TB the pin costs one
  * silver-sized spill to executor disk; the knob that matters stays
  * `spark.shuffle_partitions`, which the config owns — everything else is
  * per-operator design (see the operator scaladocs). */
object Runner {

  /** Table writes in flight per `run` call (the bound GraftParallelPersist
    * uses): it overlaps the scheduling gaps of small writes without
    * letting one call flood the driver with concurrent jobs. */
  private val WriteSlots = 4

  /** Run the configured stages; returns (qualified table name → rows
    * written), in [[stageFrames]] order. Silver is pinned for the call
    * and released before returning, also on failure. Each count is
    * observed on the written frame, so no table is read back. */
  def run(spark: SparkSession, cfg: GraftConfig): Seq[(String, Long)] = {
    val medallion = Pipeline.runMedallion(spark, cfg.inputDir)
    writeTables(medallion("silver"), framesOver(cfg, medallion), cfg.outputDir)
  }

  /** The lazy frame DAG for the configured stages (no writes) — what
    * `run` materializes, exposed for tests and notebook use. */
  def stageFrames(spark: SparkSession, cfg: GraftConfig): Seq[(String, DataFrame)] =
    framesOver(cfg, Pipeline.runMedallion(spark, cfg.inputDir))

  /** Writes each frame to `outputDir/<name>` with `shared` pinned, at most
    * [[WriteSlots]] at a time, and returns the observed row counts in
    * `frames` order. The pool is created per call, on the caller's thread:
    * Spark copies a thread's local properties (job group, description,
    * scheduler pool) into a thread when it is created, so the write jobs
    * run under the caller's job group. A failed write cancels the writes
    * not yet started; the ones in flight finish, the pool's threads exit
    * and `shared` is released before the first failure is rethrown. A
    * `shared` the caller had already cached stays cached. */
  private[graft] def writeTables(shared: DataFrame, frames: Seq[(String, DataFrame)],
      outputDir: String): Seq[(String, Long)] = {
    val pin = shared.storageLevel == StorageLevel.NONE
    if (pin) shared.persist(StorageLevel.MEMORY_AND_DISK)
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(WriteSlots, frames.size)),
      (r: Runnable) => {
        val t = new Thread(r, s"graft-runner-write-${threads.size}")
        t.setDaemon(true)
        threads.add(t)
        t
      })
    val done = new ExecutorCompletionService[Long](pool)
    try {
      val pending = frames.map { case (name, df) =>
        done.submit((() => {
          df.sparkSession.sparkContext.setJobDescription(s"graft.Runner write $name")
          writeCounted(df, s"$outputDir/$name")
        }): Callable[Long])
      }
      try frames.foreach(_ => done.take().get())
      catch {
        case e: Throwable =>
          pending.foreach(_.cancel(false))
          throw (e match { case x: ExecutionException => x.getCause case _ => e })
      }
      frames.map(_._1).zip(pending.map(_.get()))
    } finally {
      pool.shutdown()
      try threads.asScala.foreach(_.join())
      finally if (pin) shared.unpersist()
    }
  }

  /** One table write; the row count is a metric of the write's own job. */
  private def writeCounted(df: DataFrame, path: String): Long = {
    val rows = Observation()
    val observed = df.observe(rows, count(lit(1)).as("rows"))
    if (df.columns.contains("event_date"))
      Sinks.writePartitioned(observed, path, Seq("event_date"))
    else
      observed.write.mode("overwrite").parquet(path)
    rows.get("rows").asInstanceOf[Long]
  }

  private def framesOver(cfg: GraftConfig,
      medallion: Map[String, DataFrame]): Seq[(String, DataFrame)] = {
    val silver = medallion("silver")
    cfg.stages.flatMap {
      case "medallion" =>
        medallion.toSeq.sortBy(_._1).map { case (n, df) => s"medallion/$n" -> df }
      case "scoring" =>
        Pipeline.runScoring(silver).toSeq.sortBy(_._1)
          .map { case (n, df) => s"scoring/$n" -> df }
      case "mobility" =>
        Pipeline.runMobility(silver).toSeq.sortBy(_._1)
          .map { case (n, df) => s"mobility/$n" -> df }
      case "monitoring" =>
        val mon = Pipeline.runMonitoring(silver, cfg.splitDate)
        val classified = mon.map {
          case ("monitor_psi", df) =>
            "monitor_psi" -> df.withColumn("severity",
              when(col("psi") >= cfg.psiCrit, lit("critical"))
                .when(col("psi") >= cfg.psiWarn, lit("warn"))
                .otherwise(lit("ok")))
          case ("monitor_missing", df) =>
            "monitor_missing" -> df.withColumn("shift_alert",
              (col("shift") > cfg.missingShiftWarn).cast("int"))
          case ("monitor_volume", _) =>
            // rebuild with the configured alert threshold
            "monitor_volume" -> graft.monitoring.Monitoring.volume(
              silver, cfg.splitDate, alertBelow = 1.0 - cfg.volumeDropRatio)
          case other => other
        }
        classified.toSeq.sortBy(_._1).map { case (n, df) => s"monitoring/$n" -> df }
      case other =>
        // unreachable: GraftConfig validates stage names at load
        throw new IllegalArgumentException(s"unknown stage: $other")
    }
  }
}
