package graft

import graft.pipeline.{GraftConfig, Runner}

/** Config-file-driven pipeline main:
  *
  *   sbt "runMain graft.Run /path/to/pipeline.properties"
  *
  * The ops entry point (reference: config/config.yaml + per-module
  * `main()`s building their own sessions from it, spark_session.py:6-23).
  * The session is built FROM the config — app name, master, shuffle
  * partitions, timezone — and the stages in `stages=` run off one shared
  * lineage. See [[graft.pipeline.GraftConfig]] for the key reference.
  *
  * Example properties file:
  * {{{
  * paths.input = /root/testdata/sf0.01
  * paths.output = /tmp/graft_out
  * stages = medallion,scoring,monitoring
  * spark.master = local[8]
  * spark.shuffle_partitions = 8
  * monitoring.split_date = 2024-01-15
  * monitoring.psi_crit = 0.2
  * }}}
  */
object Run {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: graft.Run <config.properties>")
    val cfg = GraftConfig.load(args(0))
    val spark = Harness.session(cfg.master, cfg.shufflePartitions.toString,
      cfg.timezone, cfg.appName, logLevel = "WARN")
    try {
      val written = Runner.run(spark, cfg)
      written.foreach { case (name, rows) => println(f"$name%-40s $rows%10d rows") }
      println(s"wrote ${written.size} tables under ${cfg.outputDir}")
    } finally spark.stop()
  }
}
