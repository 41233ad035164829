package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.pipeline.{GraftConfig, Runner}

class ConfigRunnerSpec extends SparkSpec {

  private def writeProps(body: String): String = {
    val f = Files.createTempFile("graft_cfg", ".properties")
    Files.write(f, body.getBytes("UTF-8"))
    f.toString
  }

  test("load: parses overrides, applies defaults, validates stages") {
    val p = writeProps(
      s"""paths.input = $sfDir
         |paths.output = /tmp/graft_cfg_out
         |stages = monitoring , medallion
         |spark.shuffle_partitions = 8
         |monitoring.psi_crit = 0.35
         |""".stripMargin)
    val cfg = GraftConfig.load(p)
    assert(cfg.inputDir === sfDir)
    assert(cfg.stages === Seq("monitoring", "medallion"))
    assert(cfg.shufflePartitions === 8)
    assert(cfg.psiCrit === 0.35)
    // untouched keys fall back to defaults
    assert(cfg.psiWarn === GraftConfig.Defaults.psiWarn)
    assert(cfg.master === GraftConfig.Defaults.master)
  }

  test("load: fails fast on missing file, missing paths, bad stage, bad number") {
    intercept[java.io.FileNotFoundException] {
      GraftConfig.load("/tmp/definitely/not/here.properties")
    }
    val noPaths = writeProps("stages = medallion\n")
    val e1 = intercept[IllegalArgumentException] { GraftConfig.load(noPaths) }
    assert(e1.getMessage.contains("paths.input"))
    val badStage = writeProps(
      s"paths.input = $sfDir\npaths.output = /tmp/x\nstages = medallion,goold\n")
    val e2 = intercept[IllegalArgumentException] { GraftConfig.load(badStage) }
    assert(e2.getMessage.contains("goold"))
    val badNum = writeProps(
      s"paths.input = $sfDir\npaths.output = /tmp/x\nmonitoring.psi_warn = lots\n")
    val e3 = intercept[IllegalArgumentException] { GraftConfig.load(badNum) }
    assert(e3.getMessage.contains("psi_warn"))
  }

  test("runner: writes configured stages, thresholds drive the classification columns") {
    val out = Files.createTempDirectory("graft_run_out").toString
    // psi_warn low enough that the synthetic drift trips at least 'warn';
    // volume_drop_ratio extreme so the alert exercises the configured bound
    val cfg = GraftConfig.load(writeProps(
      s"""paths.input = $sfDir
         |paths.output = $out
         |stages = monitoring
         |monitoring.split_date = 2024-01-15
         |monitoring.psi_warn = 0.0001
         |monitoring.psi_crit = 99.0
         |monitoring.volume_drop_ratio = 0.99
         |""".stripMargin))
    val written = Runner.run(spark, cfg)
    val names = written.map(_._1)
    assert(names.forall(_.startsWith("monitoring/")), s"unexpected tables: $names")
    assert(names.contains("monitoring/monitor_psi"))
    assert(written.forall(_._2 > 0), "every monitoring table must have rows")

    val psi = spark.read.parquet(s"$out/monitoring/monitor_psi")
    assert(psi.columns.contains("severity"))
    // warn threshold ~0 → everything at least 'warn'; crit=99 → nothing critical
    assert(psi.filter(col("severity") === "critical").count() === 0)
    assert(psi.filter(col("severity") === "ok").count() === 0)

    val vol = spark.read.parquet(s"$out/monitoring/monitor_volume")
    // alertBelow = 1 - 0.99 = 0.01: current volume is far above 1% of base
    assert(vol.select("volume_alert").head().getInt(0) === 0)

    val miss = spark.read.parquet(s"$out/monitoring/monitor_missing")
    assert(miss.columns.contains("shift_alert"))
  }

  test("runner: medallion stage writes date-partitioned tables readable back") {
    val out = Files.createTempDirectory("graft_run_med").toString
    val cfg = GraftConfig.load(writeProps(
      s"paths.input = $sfDir\npaths.output = $out\nstages = medallion\n"))
    val written = Runner.run(spark, cfg)
    assert(written.map(_._1).contains("medallion/silver"))
    val silverRows = written.toMap.apply("medallion/silver")
    assert(silverRows > 0)
    // event_date-carrying frames are written partitioned (directory layout)
    val silverDir = new java.io.File(s"$out/medallion/silver")
    assert(silverDir.listFiles().exists(_.getName.startsWith("event_date=")),
      "silver must be written date-partitioned")
  }

  test("runner: mobility stage writes the six trajectory marts off the shared silver") {
    val out = Files.createTempDirectory("graft_run_mob").toString
    val cfg = GraftConfig.load(writeProps(
      s"paths.input = $sfDir\npaths.output = $out\nstages = mobility\n"))
    val written = Runner.run(spark, cfg).toMap
    val expected = Seq("od_matrix", "stay_episodes", "zone_net_flow",
      "location_entropy", "home_zones", "zone_pagerank").map(n => s"mobility/$n")
    assert(expected.forall(written.contains), s"missing marts: ${expected.filterNot(written.contains)}")
    assert(expected.forall(written(_) > 0L), "every mobility mart must be non-empty")
    // PageRank mass conservation survives the write/read round-trip
    val pr = spark.read.parquet(s"$out/mobility/zone_pagerank")
    val mass = pr.agg(org.apache.spark.sql.functions.sum("pr")).head().getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-3, s"rank mass $mass")
  }

  private def runnerThreads(): Set[String] =
    Thread.getAllStackTraces.keySet.asScala.filter(_.isAlive).map(_.getName)
      .filter(_.startsWith("graft")).toSet

  test("runner: all four stages — counts match the files, stageFrames order, no cache left") {
    val out = Files.createTempDirectory("graft_run_all").toString
    val cfg = GraftConfig.load(writeProps(
      s"paths.input = $sfDir\npaths.output = $out\n" +
        "stages = medallion,scoring,monitoring,mobility\n"))
    spark.catalog.clearCache()
    val written = Runner.run(spark, cfg)
    assert(spark.sharedState.cacheManager.isEmpty, "run must release its silver pin")
    assert(written.map(_._1) === Runner.stageFrames(spark, cfg).map(_._1))
    assert(written.size === 26)
    written.foreach { case (name, rows) =>
      assert(rows === spark.read.parquet(s"$out/$name").count(), s"$name row count")
    }
  }

  test("runner: zero-row events write every medallion table with 0 rows") {
    val in = Files.createTempDirectory("graft_run_empty_in").toString
    val out = Files.createTempDirectory("graft_run_empty_out").toString
    spark.read.parquet(s"$sfDir/events.parquet").limit(0)
      .write.parquet(s"$in/events.parquet")
    val cfg = GraftConfig.load(writeProps(
      s"paths.input = $in\npaths.output = $out\nstages = medallion\n"))
    val written = Runner.run(spark, cfg)
    assert(written.size === 10)
    assert(written.forall(_._2 == 0L), s"non-zero counts: $written")
  }

  test("runner: write jobs keep the caller's job group and name their table") {
    val out = Files.createTempDirectory("graft_run_tags").toString
    val cfg = GraftConfig.load(writeProps(
      s"paths.input = $sfDir\npaths.output = $out\nstages = medallion\n"))
    val jobs = ArrayBuffer.empty[(Option[String], Option[String])]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.synchronized { jobs += prop("spark.jobGroup.id") -> prop("spark.job.description") }
      }
    }
    val sc = spark.sparkContext
    def inGroup[T](group: String)(body: => T): T = {
      sc.setJobGroup(group, "caller")
      try body finally sc.clearJobGroup()
    }
    val groups = Seq("graft-runner-spec-a", "graft-runner-spec-b")
    sc.addSparkListener(listener)
    val written = try {
      // planning alone reads the input's schema (a job on the caller's thread)
      inGroup("graft-runner-spec-plan")(Runner.stageFrames(spark, cfg))
      // two calls under two groups: a pool outliving the first call would
      // tag the second call's jobs with the first group
      groups.map(g => inGroup(g)(Runner.run(spark, cfg)))
    } finally {
      // listener events arrive in order: once the marker job is seen,
      // every job run submitted has been seen too
      inGroup("graft-runner-spec-marker")(spark.range(1).collect())
      val deadline = System.currentTimeMillis() + 30000
      while (!jobs.synchronized(jobs.exists(_._1.contains("graft-runner-spec-marker"))) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
      sc.removeSparkListener(listener)
    }
    val seen = jobs.synchronized(jobs.toSeq)
    assert(seen.forall(_._1.isDefined), s"jobs outside any group: $seen")
    val planJobs = seen.count(_._1.contains("graft-runner-spec-plan"))
    groups.zip(written).foreach { case (g, w) =>
      val (writeJobs, callerJobs) = seen.filter(_._1.contains(g))
        .partition(_._2.exists(_.startsWith("graft.Runner write ")))
      // only planning runs on the caller's thread; every other job is a
      // table's write and says which table
      assert(callerJobs.size <= planJobs, s"$g: jobs not tagged with a table: $callerJobs")
      assert(writeJobs.flatMap(_._2).map(_.stripPrefix("graft.Runner write ")).toSet ===
        w.map(_._1).toSet, g)
    }
  }

  test("runner: a failed write surfaces after in-flight writes end, threads gone, pin released") {
    val out = Files.createTempDirectory("graft_run_fail").toString
    spark.catalog.clearCache()
    val threadsBefore = runnerThreads()
    val shared = spark.range(0, 2000, 1, 4).toDF("id")
    val frames = Seq(
      "ok_a" -> shared.withColumn("sq", col("id") * col("id")),
      "bad" -> shared.withColumn("boom",
        when(col("id") === 1500, raise_error(lit("graft-runner-spec failure")))
          .otherwise(col("id"))),
      "ok_b" -> shared.groupBy((col("id") % 7).as("k")).count(),
      "ok_c" -> shared.filter(col("id") > 10),
      "ok_d" -> shared.select(col("id").cast("string").as("s")),
      "ok_e" -> shared.limit(3))
    val e = intercept[Exception] { Runner.writeTables(shared, frames, out) }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(x => Option(x.getMessage).exists(_.contains("graft-runner-spec failure"))), e)
    assert(runnerThreads() === threadsBefore, "no write thread may outlive the call")
    assert(spark.sharedState.cacheManager.isEmpty, "the pin must be released on failure")
    // a frame the caller cached is not the call's to release
    val cached = spark.range(10).toDF("id").cache()
    try {
      assert(Runner.writeTables(cached, Seq("t" -> cached), out) === Seq("t" -> 10L))
      assert(cached.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    } finally cached.unpersist()
  }
}
