package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline.Bronze
import graft.sources.{Sinks, Sources}

class SourcesSinksSpec extends SparkSpec {

  test("csv source: explicit schema, malformed rows flagged not dropped") {
    val dir = Files.createTempDirectory("graft_csv").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/events.csv"),
      """event_id,ts,user_id,event_type,value,props
        |1,2024-01-01 10:00:00,7,click,1.5,"{""k"": 3}"
        |2,2024-01-01 11:00:00,8,view,,"{""k"": 4}"
        |not_a_number,garbage,x,y,z,w
        |""".stripMargin)
    val df = Sources.readEventsCsv(spark, dir).cache()
    assert(df.count() === 3)
    assert(df.filter(col("_corrupt_record").isNotNull).count() === 1)
    val good = df.filter(col("_corrupt_record").isNull)
    assert(good.schema("ts").dataType.typeName === "timestamp")
    // the csv path feeds the same bronze operator as parquet
    val bronze = Bronze.ingestEvents(good.drop("_corrupt_record"))
    assert(bronze.filter(col("event_date").isNull).count() === 0)
  }

  test("jsonl source: typed docs, corrupt lines flagged, feeds the dedup ops directly") {
    val dir = Files.createTempDirectory("graft_jsonl").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/docs.jsonl"),
      """{"doc_id": 1, "text": "alpha beta gamma delta", "lang": "en", "source": "web", "n_chars": 22}
        |{"doc_id": 2, "text": "alpha beta gamma delta", "lang": "en", "source": "web", "n_chars": 22}
        |{this is not json at all
        |{"doc_id": 3, "text": "something else entirely here", "lang": "en"}
        |""".stripMargin)
    val df = Sources.readJsonl(spark, dir, Sources.documentsSchema).cache()
    assert(df.count() === 4)
    assert(df.filter(col("_corrupt_record").isNotNull).count() === 1)
    val good = df.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
    assert(good.schema("doc_id").dataType.typeName === "long")
    // partial documents parse with nulls, not corruption
    assert(good.filter(col("doc_id") === 3 && col("source").isNull).count() === 1)
    // the jsonl path feeds the dedup suite unchanged
    val dups = graft.dedup.Dedup.exactDedup(good).filter(col("is_duplicate") === 1)
    assert(dups.count() === 1)
  }

  test("merged-schema parquet: drifted files union their columns, old files read null") {
    val tmp = Files.createTempDirectory("graft_drift").toString
    spark.range(0, 5L).select(col("id"), (col("id") * 2).as("v1"))
      .write.parquet(s"$tmp/batch=1")
    spark.range(5L, 10L).select(col("id"), (col("id") * 2).as("v1"), lit("new").as("v2"))
      .write.parquet(s"$tmp/batch=2")
    val merged = Sources.readParquetMerged(spark, tmp)
    assert(merged.columns.toSet === Set("id", "v1", "v2", "batch"))
    assert(merged.count() === 10)
    assert(merged.filter(col("v2").isNull).count() === 5, "pre-drift files read null")
    assert(merged.filter(col("v2") === "new").count() === 5)
  }

  test("bucketed tables: equi-join on the bucket key plans with zero shuffle") {
    val tmp = Files.createTempDirectory("graft_bucket").toString
    val a = spark.range(0, 10000L).select(col("id").as("key"), (col("id") * 2).as("va"))
    val b = spark.range(0, 10000L).select(col("id").as("key"), (col("id") * 3).as("vb"))
    Sinks.writeBucketed(a, "bkt_a", s"$tmp/a", "key", nBuckets = 8)
    Sinks.writeBucketed(b, "bkt_b", s"$tmp/b", "key", nBuckets = 8)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bkt_a").join(spark.table("bkt_b"), "key")
      assert(joined.count() === 10000L)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("orc source/sink: partitioned roundtrip preserves rows, pruning reaches the scan") {
    import org.apache.spark.sql.types._
    val out = Files.createTempDirectory("graft_orc").toString
    val docsDf = Tables.documents(spark, sfDir).select("doc_id", "text", "lang")
    Sinks.writeOrcPartitioned(docsDf, out, Seq("lang"))
    assert(new java.io.File(s"$out/lang=en").exists())
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    val back = Sources.readOrc(spark, out, schema)
    assert(back.count() === docsDf.count())
    assert(back.select("doc_id", "text", "lang")
      .exceptAll(docsDf.select("doc_id", "text", "lang")).count() === 0)
    // partition pruning: a lang filter must not scan the other partitions
    val pruned = back.filter(col("lang") === "en").select("doc_id")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("lang=en") || !scan.contains("lang=de"), s"expected pruned scan:\n$scan")
  }

  test("partitioned sink: layout on disk + dynamic partition overwrite") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_sink").toString
    val day1 = Seq((1L, "2024-01-01", 10.0), (2L, "2024-01-01", 20.0))
      .toDF("id", "event_date", "v")
    val day2 = Seq((3L, "2024-01-02", 30.0)).toDF("id", "event_date", "v")
    Sinks.writePartitioned(day1.union(day2), out, Seq("event_date"))
    assert(new java.io.File(s"$out/event_date=2024-01-01").exists())
    assert(new java.io.File(s"$out/event_date=2024-01-02").exists())
    // incremental rewrite of day2 only: day1 rows must survive
    val day2v2 = Seq((3L, "2024-01-02", 99.0)).toDF("id", "event_date", "v")
    Sinks.overwritePartitions(day2v2, out, Seq("event_date"))
    val back = spark.read.parquet(out).cache()
    assert(back.count() === 3)
    assert(back.filter(col("event_date") === "2024-01-02").head().getAs[Double]("v") === 99.0)
    assert(back.filter(col("event_date") === "2024-01-01").count() === 2)
    // replay is idempotent
    Sinks.overwritePartitions(day2v2, out, Seq("event_date"))
    assert(spark.read.parquet(out).count() === 3)
  }

  test("overwritePartitions: dynamic per write, session overwrite mode left untouched") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_sink_conf").toString
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      Seq((1L, "2024-01-01"), (2L, "2024-01-02")).toDF("id", "event_date")
        .write.mode("overwrite").partitionBy("event_date").parquet(out)
      Sinks.overwritePartitions(Seq((3L, "2024-01-02")).toDF("id", "event_date"),
        out, Seq("event_date"))
      assert(spark.conf.get(key) === "static")
      // dynamic despite the static session: day 1 survives
      val back = spark.read.parquet(out).orderBy("id")
        .select(col("id"), col("event_date").cast("string")).as[(Long, String)]
      assert(back.collect().toSeq === Seq((1L, "2024-01-01"), (3L, "2024-01-02")))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("compaction: oversplit partitions coalesce, healthy partitions untouched, rows identical") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_compact").toString
    // day1 oversplit into 16 files; day2 healthy (1 file)
    val day1 = (1 to 64).map(i => (i.toLong, "2024-01-01", i * 1.0)).toDF("id", "event_date", "v")
    val day2 = Seq((100L, "2024-01-02", 5.0)).toDF("id", "event_date", "v")
    day1.repartition(16).write.mode("overwrite").partitionBy("event_date").parquet(out)
    Sinks.overwritePartitions(day2, out, Seq("event_date"))
    def files(p: String) = new java.io.File(s"$out/event_date=$p")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files("2024-01-01") === 16)
    val day2Before = new java.io.File(s"$out/event_date=2024-01-02")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet

    val before = spark.read.parquet(out).orderBy("id").collect().toSeq
    val rewritten = Sinks.compactPartitions(spark, out, "event_date",
      targetFileBytes = 1L << 30, maxFilesPerPartition = 8)
    // audit: only day1 reported, with its pre-compaction file count
    assert(rewritten === Map("2024-01-01" -> 16))
    // day1 coalesced to one file (everything fits the 1 GB target)
    assert(files("2024-01-01") === 1)
    // day2 untouched: same file names on disk
    assert(new java.io.File(s"$out/event_date=2024-01-02")
      .listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet === day2Before)
    // table contents byte-identical
    assert(spark.read.parquet(out).orderBy("id").collect().toSeq === before)
    // idempotent: a second pass finds nothing oversplit
    assert(Sinks.compactPartitions(spark, out, "event_date",
      targetFileBytes = 1L << 30, maxFilesPerPartition = 8).isEmpty)
  }

  test("compaction: hive-escaped partition values are unescaped before the rewrite filter") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_compact_esc").toString
    // a partition value with a colon: written as dept=a%3Ab on disk —
    // a filter on the RAW directory name would match nothing and
    // silently skip the partition (round-8 advice finding)
    val df = (1 to 64).map(i => (i.toLong, "a:b")).toDF("id", "dept")
    df.repartition(16).write.mode("overwrite").partitionBy("dept").parquet(out)
    assert(new java.io.File(s"$out/dept=a%3Ab").exists(), "precondition: hive escaping")
    val before = spark.read.parquet(out).orderBy("id").collect().toSeq
    val rewritten = Sinks.compactPartitions(spark, out, "dept",
      targetFileBytes = 1L << 30, maxFilesPerPartition = 8)
    assert(rewritten === Map("a:b" -> 16), s"got $rewritten")
    assert(new java.io.File(s"$out/dept=a%3Ab")
      .listFiles().count(_.getName.endsWith(".parquet")) === 1)
    assert(spark.read.parquet(out).orderBy("id").collect().toSeq === before)
  }

  test("binaryFile source: glob prunes at listing, payloads round-trip, size guard holds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bin").toString
    val payloads = Map(
      "a.jpg" -> Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 1, 2, 3),
      "b.jpg" -> Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 9),
      "c.txt" -> "not an image".getBytes("UTF-8"))
    payloads.foreach { case (name, bytes) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name), bytes)
    }
    val jpgs = Sources.readBinaryFiles(spark, dir, glob = "*.jpg")
    val rows = jpgs.collect().map(r =>
      r.getAs[String]("path").split('/').last -> r.getAs[Array[Byte]]("content")).toMap
    // the txt file is pruned by the listing-time glob, never read
    assert(rows.keySet === Set("a.jpg", "b.jpg"))
    assert(rows("a.jpg").toSeq === payloads("a.jpg").toSeq, "payload must round-trip byte-exact")
    assert(jpgs.schema.fieldNames.toSet ===
      Set("path", "modificationTime", "length", "content"))
    // size guard: a 1-byte cap drops everything
    assert(Sources.readBinaryFiles(spark, dir, glob = "*.jpg", maxBytes = 1).count() === 0)
    // the content column feeds the multimodal pipeline shape-compatibly
    // (metadata casts its text column to binary; binary→binary is a no-op)
    val meta = graft.multimodal.Multimodal.metadata(
      jpgs.select(col("length").cast("long").as("doc_id"), col("content").as("text")))
    assert(meta.count() === 2)
    assert(meta.filter(col("magic_hex").startsWith("ffd8ff")).count() === 2,
      "JPEG magic bytes must surface in magic_hex")
  }
}
