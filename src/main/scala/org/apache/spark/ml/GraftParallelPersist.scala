package org.apache.spark.ml

import org.apache.hadoop.fs.Path
import org.apache.spark.ml.util.{DefaultParamsReader, DefaultParamsWriter, MLWritable}
import org.apache.spark.sql.SparkSession
import org.json4s.{JArray, JObject, JString}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Parallel save/load of a fitted [[PipelineModel]], byte-compatible with
  * `PipelineModel.write` / `PipelineModel.load`'s on-disk layout (same
  * `metadata/` JSON shape, same `stages/<idx>_<uid>/` directories via
  * [[Pipeline.SharedReadWrite.getStagePath]], each stage written by its
  * OWN standard `MLWriter`) — models saved here load with stock Spark and
  * vice versa (spec-asserted).
  *
  * Why it exists: `SharedReadWrite.saveImpl`/`load` write and read the
  * pipeline stages SEQUENTIALLY, and each stage persist is a chain of
  * tiny driver-coordinated jobs (a one-row metadata text write plus one
  * or two small parquet writes/reads). On a pipeline whose stages are
  * KB-to-MB artifacts, wall-clock is the SUM of those per-stage job
  * latencies. Spark's scheduler happily overlaps independent jobs
  * submitted from different threads (optimization guide §2.6), and the
  * stage artifacts are independent by construction — so the stage
  * writes/reads fan out on a small bounded pool and wall-clock drops to
  * the slowest single stage. At cluster scale the win is the same
  * mechanism, larger: output-commit latency per stage directory is paid
  * once, concurrently, instead of serially.
  *
  * Lives in `org.apache.spark.ml` because the stage-path layout helper
  * and the metadata reader/writer (`DefaultParamsWriter`/`Reader`,
  * `SharedReadWrite`) are `private[ml]`; everything used is the stock
  * public Spark distribution's own persistence code, just re-driven
  * concurrently.
  */
object GraftParallelPersist {

  /** Bounded daemon pool for stage I/O (pipelines have a handful of
    * stages; the pool bounds concurrent driver jobs, not data). */
  private lazy val pool: ExecutionContext =
    ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(4,
        (r: Runnable) => {
          val t = new Thread(r, "graft-ml-persist")
          t.setDaemon(true)
          t
        }))

  /** Save `model` under `path` (overwriting), stages in parallel. Every
    * stage must be [[MLWritable]]; that is checked before anything at
    * `path` is deleted, so a model that cannot be saved leaves the
    * previous one in place. */
  def save(model: PipelineModel, spark: SparkSession, path: String): Unit = {
    implicit val ec: ExecutionContext = pool
    model.stages.find(!_.isInstanceOf[MLWritable]).foreach { s =>
      throw new UnsupportedOperationException(
        s"cannot save pipeline: stage ${s.uid} of type ${s.getClass} is not MLWritable")
    }
    val fsPath = new Path(path)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(fsPath)) { fs.delete(fsPath, true); () }
    val stages = model.stages
    // the exact metadata SharedReadWrite.saveImpl writes: paramMap
    // overridden with the stage uids (the `stages` param itself is not
    // JSON-encodable), everything else DefaultParamsWriter's standard shape
    val jsonParams = JObject(List(
      "stageUids" -> JArray(stages.map(s => JString(s.uid)).toList)))
    DefaultParamsWriter.saveMetadata(model, path, spark, None, Some(jsonParams))
    val stagesDir = new Path(path, "stages").toString
    val writes = stages.zipWithIndex.toSeq.map { case (stage, idx) =>
      Future {
        val stagePath = Pipeline.SharedReadWrite
          .getStagePath(stage.uid, idx, stages.length, stagesDir)
        stage.asInstanceOf[MLWritable].write.save(stagePath)
      }
    }
    Await.result(Future.sequence(writes), Duration.Inf)
    ()
  }

  /** Load a [[PipelineModel]] from `path`, stages in parallel. */
  def load(spark: SparkSession, path: String): PipelineModel = {
    implicit val ec: ExecutionContext = pool
    val metadata = DefaultParamsReader.loadMetadata(
      path, spark, classOf[PipelineModel].getName)
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    val stageUids = (metadata.params \ "stageUids").extract[Seq[String]]
    val stagesDir = new Path(path, "stages").toString
    val reads = stageUids.zipWithIndex.map { case (uid, idx) =>
      Future {
        val stagePath = Pipeline.SharedReadWrite
          .getStagePath(uid, idx, stageUids.length, stagesDir)
        DefaultParamsReader
          .loadParamsInstanceReader[PipelineStage](stagePath, spark)
          .load(stagePath)
      }
    }
    val stages = Await.result(Future.sequence(reads), Duration.Inf)
    val transformers = stages.map {
      case t: Transformer => t
      case other => throw new IllegalStateException(
        s"PipelineModel stage ${other.uid} is not a Transformer")
    }
    new PipelineModel(metadata.uid, transformers.toArray)
  }
}
