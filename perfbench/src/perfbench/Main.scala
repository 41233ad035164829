package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.dedup.Dedup
import graft.features.FeatureEngineering
import graft.ml.Models
import graft.pipeline.{Bronze, GraftConfig, Pipeline, Runner, Silver}
import graft.similarity.Similarity
import graft.sources.VersionedTable

/** One pass of a workload. `kind` is cold, warmup, timed or traced. */
final case class PassRec(index: Int, kind: String, seconds: Double, root: Span,
    info: Map[String, Any])

final class Ctx(val spark: SparkSession, val work: String, val cores: Int) {
  val in = s"$work/input"
  val out = s"$work/out"
  val recorder = new Recorder(spark.sparkContext)
  val tracer = new Tracer(spark.sparkContext)
  var plans: Option[PlanRecorder] = None

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  def spanOf(p: PassRec, name: String): Seq[Span] = tracer.ofPass(p.index, name)

  def counters(spans: Seq[Span]): Counters =
    recorder.counters(recorder.jobsOf(spans.flatMap(tracer.subtree).toSet))

  /** `<name>_s`, `<name>.jobs` and `<name>.task_cpu_s` of the pass's spans called `name`. */
  def layer(p: PassRec, name: String): Map[String, Double] = {
    val ss = spanOf(p, name)
    val c = counters(ss)
    Map(s"${name}_s" -> ss.map(_.seconds).sum, s"$name.jobs" -> c.jobs.toDouble,
      s"$name.task_cpu_s" -> c.cpuS)
  }
}

/** A closed-loop workload: identical passes over the generated inputs, one
  * after another. `pass` returns what the output checks need. */
trait Workload {
  def pass(i: Int): Map[String, Any]
  def layers(p: PassRec): Map[String, Double]
  /** Untimed, after the last pass: dumps the output checks read. */
  def finish(passes: Seq[PassRec]): Unit = ()
}

/** `graft.Run`'s path: `Runner.run` over the medallion stage. */
final class MedallionRun(c: Ctx) extends Workload {
  private val keys = Map(
    "medallion/brz" -> "brz", "medallion/silver" -> "sil", "medallion/dim_time" -> "d_t",
    "medallion/dim_users" -> "d_u", "medallion/dim_zones" -> "d_z",
    "medallion/fact_events" -> "fc_e", "medallion/fact_payments" -> "fc_p",
    "medallion/agg_demand_hourly" -> "a_dem", "medallion/agg_revenue_daily" -> "a_rev",
    "medallion/agg_user_daily" -> "a_ur")

  def pass(i: Int): Map[String, Any] = {
    val cfg = GraftConfig.Defaults.copy(master = s"local[${c.cores}]",
      shufflePartitions = c.cores, inputDir = c.in, outputDir = s"${c.out}/pass_$i",
      stages = Seq("medallion"))
    val written = c.span("runner.run") { Runner.run(c.spark, cfg) }
    Map("rows" -> written.toMap)
  }

  def layers(p: PassRec): Map[String, Double] = {
    val run = c.spanOf(p, "runner.run")
    val jobs = c.recorder.jobsOf(run.flatMap(c.tracer.subtree).toSet)
    val execs = c.recorder.execsOf(jobs)
    val writeIds = execs.filter(_.isWrite).map(_.id).toSet
    val stage = c.counters(run)
    val scans = run.flatMap(s => c.plans.get.within(s.startMs, s.endMs)).map(_._2).sum
    Map(
      "pipeline.medallion.wall_s" -> run.map(_.seconds).sum,
      "pipeline.medallion.jobs" -> stage.jobs.toDouble,
      "pipeline.medallion.task_cpu_s" -> stage.cpuS,
      "sinks.write_s" -> execs.filter(_.isWrite).map(x => x.endMs - x.startMs).sum / 1e3,
      "sinks.readback_s" -> execs.filterNot(_.isWrite).map(x => x.endMs - x.startMs).sum / 1e3,
      "sinks.readback_jobs" -> jobs.count(j => !writeIds(j.execId)).toDouble,
      "pipeline.events_scans" -> scans.toDouble)
  }

  override def finish(passes: Seq[PassRec]): Unit = {
    val oracle = keys.map { case (table, key) => table -> graft.SparkEntry.oracleSql(key) }
    Main.writeJson(s"${c.work}/oracle_sql.json", oracle)
  }
}

/** Corpus curation, near-duplicate search and the ANN index over a seeded
  * corpus with injected duplicates. */
final class CorpusCuration(c: Ctx) extends Workload {
  private lazy val docs = Tables.documents(c.spark, c.in)
  private lazy val emb = Tables.embeddings(c.spark, c.in)
  private lazy val bench = c.spark.read.parquet(s"${c.in}/benchmark.parquet")
  private lazy val queries = emb.join(c.spark.read.parquet(s"${c.in}/queries.parquet"), "vec_id")

  def pass(i: Int): Map[String, Any] = {
    val o = s"${c.out}/pass_$i"
    val outs = c.span("dedup.curate_build") { Pipeline.runCuration(docs, bench) }
    c.span("curation.write") {
      outs("curated").select("doc_id", "lang").write.parquet(s"$o/curated")
    }
    c.span("dedup.simhash") { Dedup.simhashPairs(docs).write.parquet(s"$o/simhash") }
    c.span("dedup.semantic") { Dedup.semanticDedup(emb).write.parquet(s"$o/semantic") }
    c.span("similarity.index_build") { Similarity.buildAnnIndex(emb, s"$o/ann") }
    c.span("similarity.query") {
      Similarity.queryAnnIndex(c.spark, s"$o/ann", emb, queries).write.parquet(s"$o/topk")
    }
    Map.empty
  }

  def layers(p: PassRec): Map[String, Double] =
    Seq("dedup.curate_build", "curation.write", "dedup.simhash", "dedup.semantic",
      "similarity.index_build", "similarity.query").map(c.layer(p, _)).reduce(_ ++ _)
}

/** The daily ML cycle: build features and retrain on a fresh slice of the
  * events, commit the held-out predictions to a versioned table, then MERGE
  * batches, each followed by a latest read, a time-travel read, the change
  * feed and a skipping read. */
final class ScoringMerge(c: Ctx) extends Workload {
  private val keys = Seq("trip_date", "hour", "zone_id")
  private val skipCond = "trip_date >= DATE'2024-01-29'"
  private lazy val silver =
    Silver.cleanEvents(Bronze.ingestEvents(Tables.events(c.spark, c.in)))
  private lazy val slices = c.spark.read.parquet(s"${c.in}/slices.parquet")
  private lazy val batchFiles = new java.io.File(s"${c.in}/batches").list().sorted.toSeq

  private def table(i: Int) = s"${c.out}/pass_$i"
  private def fileSize(path: String, f: String) = Files.size(Paths.get(path, f))
  private def readAgg(reader: org.apache.spark.sql.DataFrameReader, path: String) = {
    val r = reader.format("graft").load(path).agg(count(lit(1)), sum("prediction")).head()
    Seq(r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
  }

  def pass(i: Int): Map[String, Any] = {
    val path = table(i)
    // a distinct zone slice per pass: the fitted-model memo, keyed by plan,
    // never turns a retrain into a lookup
    val slice = silver.join(slices.filter(col("pass") === i).select("zone_id"), "zone_id")
    val preds = c.span("ml.fit") {
      val p = Models.demandRandomForest(FeatureEngineering.demandFeatures(slice)).cache()
      Models.regressionMetrics(p)
      p
    }
    c.span("sources.commit") {
      VersionedTable.commit(preds.repartitionByRange(c.cores, col("trip_date"), col("hour")),
        path, mode = "overwrite")
    }
    preds.unpersist()
    val merges = batchFiles.filter(_.startsWith(s"p${i}_")).map { f =>
      val batchPath = s"${c.in}/batches/$f"
      val before = VersionedTable.snapshotFiles(c.spark, path)
      val batch = c.spark.read.parquet(batchPath)
      val v = c.span("sources.merge") { VersionedTable.merge(batch, path, keys) }
      val after = VersionedTable.snapshotFiles(c.spark, path)
      val latest = c.span("sources.read") { readAgg(c.spark.read, path) }
      val asOf = c.span("sources.read") {
        readAgg(c.spark.read.option("versionAsOf", (v - 1).toString), path)
      }
      val cdf = c.span("sources.cdf") {
        VersionedTable.changes(c.spark, path, keys, v - 1, v).count()
      }
      val kept = c.span("sources.read_where") {
        VersionedTable.readWhere(c.spark, path, skipCond).count()
      }
      Map("batch" -> f, "version" -> v, "latest" -> latest, "as_of" -> asOf, "cdf_rows" -> cdf,
        "where_rows" -> kept, "files_rewritten" -> before.toSet.diff(after.toSet).size,
        "bytes_written" -> after.toSet.diff(before.toSet).toSeq.map(fileSize(path, _)).sum,
        "batch_bytes" -> new java.io.File(batchPath).length)
    }
    c.recorder.drain()
    val fitJobs = c.recorder.jobsOf(c.tracer.ofPass(i, "ml.fit").flatMap(c.tracer.subtree).toSet).size
    Map("merges" -> merges, "fit_jobs" -> fitJobs)
  }

  def layers(p: PassRec): Map[String, Double] = {
    val fit = c.spanOf(p, "ml.fit")
    val fitC = c.counters(fit)
    val fitS = fit.map(_.seconds).sum
    val merges = p.info("merges").asInstanceOf[Seq[Map[String, Any]]]
    def num(k: String) = merges.map(m => m(k).toString.toDouble).sum
    val reads = c.spanOf(p, "sources.read")
    val readPlan = reads.flatMap(s => c.plans.get.within(s.startMs, s.endMs)).map(_._3).sum
    val path = table(p.index)
    Map(
      "ml.fit_s" -> fitS,
      "ml.fit_jobs" -> fitC.jobs.toDouble,
      "ml.core_busy" -> fitC.cpuS / (fitS * c.cores),
      "sources.commit_s" -> c.spanOf(p, "sources.commit").map(_.seconds).sum,
      "sources.merge_jobs" -> c.counters(c.spanOf(p, "sources.merge")).jobs.toDouble,
      "sources.merge_files_rewritten" -> num("files_rewritten"),
      "sources.write_amp" -> num("bytes_written") / num("batch_bytes"),
      "sources.read_plan_s" -> readPlan / reads.size,
      "sources.skip_ratio" -> VersionedTable.prunedFiles(c.spark, path, skipCond).size.toDouble /
        VersionedTable.snapshotFiles(c.spark, path).size,
      "sources.snapshot_files" -> VersionedTable.snapshotFiles(c.spark, path).size.toDouble,
      "sources.merge_p50_s" -> Main.median(c.spanOf(p, "sources.merge").map(_.seconds)),
      "sources.read_p50_s" -> Main.median(reads.map(_.seconds)),
      "sources.cdf_p50_s" -> Main.median(c.spanOf(p, "sources.cdf").map(_.seconds)))
  }

  override def finish(passes: Seq[PassRec]): Unit = passes.foreach { p =>
    val path = table(p.index)
    c.spark.read.format("graft").option("versionAsOf", "0").load(path)
      .write.parquet(s"${c.work}/check/pass_${p.index}/base")
    c.spark.read.format("graft").load(path).write.parquet(s"${c.work}/check/pass_${p.index}/final")
  }
}

/** Runs one workload: set-up, a cold pass, an untimed warm-up pass, then
  * timed passes for the requested seconds; a traced run then repeats the
  * timed phase with the listeners recording. Writes `result.json`.
  *
  * Usage: perfbench.Main <workload> <work dir> <seconds> <trace 0|1> <cores> */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), json.writerWithDefaultPrettyPrinter().writeValueAsString(v))

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def main(args: Array[String]): Unit = {
    val Array(name, work, secondsArg, traceArg, coresArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = coresArg.toInt
    // the session graft.Run builds, with scratch space kept in the work dir
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val c = new Ctx(spark, work, cores)
    spark.sparkContext.addSparkListener(c.recorder)
    val wl: Workload = name match {
      case "medallion_run" => new MedallionRun(c)
      case "corpus_curation" => new CorpusCuration(c)
      case "scoring_merge" => new ScoringMerge(c)
    }
    val readyMs = System.currentTimeMillis()

    val passes = ArrayBuffer.empty[PassRec]
    def runPass(kind: String): PassRec = {
      val i = passes.size
      c.tracer.pass = i
      var info: Map[String, Any] = Map.empty
      c.span("pass") { info = wl.pass(i) }
      c.recorder.drain()
      val root = c.tracer.ofPass(i, "pass").head
      val spans = c.tracer.spans.filter(s => s.pass == i && s.name != "pass")
        .groupBy(_.name).map { case (n, ss) => n -> ss.map(_.seconds).toSeq }
      val p = PassRec(i, kind, root.seconds, root, info + ("spans" -> spans))
      passes += p
      p
    }
    def timedPhase(kind: String): Seq[PassRec] = {
      val start = System.nanoTime()
      val done = ArrayBuffer(runPass(kind))
      while ((System.nanoTime() - start) / 1e9 < seconds) done += runPass(kind)
      done.toSeq
    }
    runPass("cold")
    runPass("warmup")
    val timed = timedPhase("timed")
    val layers =
      if (!traced) Map.empty[String, Double]
      else {
        val plans = new PlanRecorder("/events.parquet")
        spark.listenerManager.register(plans)
        c.plans = Some(plans)
        c.recorder.full = true
        val tp = timedPhase("traced")
        c.recorder.drain()
        val perPass = tp.map { p =>
          val sp = c.counters(Seq(p.root))
          val busy = sp.cpuS / (p.seconds * cores)
          wl.layers(p) ++ Map(
            "spark.jobs" -> sp.jobs.toDouble, "spark.stages" -> sp.stages.toDouble,
            "spark.tasks" -> sp.tasks.toDouble, "spark.task_cpu_s" -> sp.cpuS,
            "spark.gc_s" -> sp.gcS, "spark.shuffle_write_mb" -> sp.shuffleWriteMb,
            "spark.spill_mb" -> sp.spillMb, "spark.failed_tasks" -> sp.failedTasks.toDouble,
            "spark.core_busy" -> busy, "spark.sched_gap_s" -> math.max(0.0, p.seconds - sp.busyS))
        }
        val merged = perPass.head.keys.map(k => k -> median(perPass.map(_(k)))).toMap
        merged + ("trace.overhead_s" ->
          (median(tp.map(_.seconds)) - median(timed.map(_.seconds))))
      }
    wl.finish(passes.toSeq)

    val spans = c.tracer.spans.toSeq.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "pass" -> s.pass, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "seconds" -> s.seconds))
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    writeJson(s"$work/result.json", Map(
      "workload" -> name, "cores" -> cores,
      "ready_ms" -> readyMs, "peak_rss_mb" -> hwm,
      "passes" -> passes.map(p => Map("index" -> p.index, "kind" -> p.kind,
        "seconds" -> p.seconds, "info" -> p.info)),
      "layers" -> layers,
      "spans" -> (if (traced) spans else Nil)))
    spark.stop()
  }
}
