package graft

import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

import graft.functions.{GraftExtensions, GraftFunctions}
import graft.functions.GraftFunctions._
import graft.similarity.Similarity

class FunctionsSpec extends SparkSpec {

  test("native cosine matches the HOF fold bit-for-bit on real embeddings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val pairs = emb.alias("a").join(emb.alias("b"),
      col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
    def foldDot(x: String, y: String) = aggregate(
      zip_with(col(x), col(y), (u, v) => u.cast("double") * v.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val hof = foldDot("a.embedding", "b.embedding") /
      (sqrt(foldDot("a.embedding", "a.embedding")) * sqrt(foldDot("b.embedding", "b.embedding")))
    val diff = pairs.select(
      (GraftFunctions.cosineSim(col("a.embedding"), col("b.embedding")) - hof).as("d"))
      .agg(max(abs(col("d")))).head().getDouble(0)
    assert(diff === 0.0, "codegen'd cosine must be bit-identical to the fold")
  }

  test("optimizer rule rewrites portable HOF cosine into the native kernel, floats untouched") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    // parquet-backed, not a local Seq — ConvertToLocalRelation would
    // constant-fold a LocalRelation before the plan can be inspected
    val df = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("a"))
      .withColumn("b", reverse(col("a")))
    def foldDot(x: Column, y: Column) =
      aggregate(zip_with(x, y, (u, v) => u * v), lit(0.0), (acc, v) => acc + v)
    def hofCos(a: Column, b: Column) =
      foldDot(a, b) / (sqrt(foldDot(a, a)) * sqrt(foldDot(b, b)))
    val q = df.select(hofCos(col("a"), col("b")).as("cos"))
    assert(q.queryExecution.optimizedPlan.toString.contains("graft_cosine_sim"),
      s"HOF cosine must rewrite to the native kernel:\n${q.queryExecution.optimizedPlan}")
    val native = df.select(GraftFunctions.cosineSim(col("a"), col("b")).as("cos"))
      .collect().map(_.getDouble(0)).toSeq
    assert(q.collect().map(_.getDouble(0)).toSeq === native)
    // float arrays stay un-rewritten: the lambda multiplies in float
    // precision, the kernel in double — a rewrite would change results
    val fdf = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("embedding").as("a")).withColumn("b", reverse(col("a")))
    val fq = fdf.select(hofCos(col("a"), col("b")).as("cos"))
    assert(!fq.queryExecution.optimizedPlan.toString.contains("graft_cosine_sim"))
  }

  test("native cosine participates in whole-stage codegen and evals interpreted too") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f)), (Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
      .toDF("a", "b")
    val out = df.select(GraftFunctions.cosineSim(col("a"), col("b")).as("c")).collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-15)
    assert(math.abs(out(1).getDouble(0)) < 1e-15)
    // plan stays inside WholeStageCodegen (no eval fallback node) — use a
    // parquet-backed frame (a local Seq collapses to LocalTableScan) and
    // execute first so AQE materializes the final stage plan
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.select(GraftFunctions.cosineSim(col("embedding"), col("embedding")))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks a WholeStageCodegen stage; the projection
    // holding our expression must carry it (no eval fallback)
    assert("""\*\(\d+\) Project \[graft_cosine_sim""".r.findFirstIn(plan).isDefined, plan)
  }

  test("native hyperplane bucket matches the per-plane HOF folds exactly") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val dim = 64
    // the reference formulation this expression replaced: one fold per plane
    def hofBucket(nPlanes: Int, planeOffset: Int) = {
      def planeDot(p: Int) = aggregate(
        transform(sequence(lit(0), lit(dim - 1)), d =>
          element_at(col("embedding"), d + lit(1)).cast("double") *
            (((lit(1103515245L) * (lit(p.toLong * dim) + d) + lit(12345L)) % 2048L) - 1024L)
              .cast("double")),
        lit(0.0), (acc, v) => acc + v)
      (0 until nPlanes)
        .map(p => when(planeDot(planeOffset + p) >= 0, lit(1 << p)).otherwise(lit(0)))
        .reduce(_ + _)
    }
    Seq((4, 0), (9, 9)).foreach { case (np, off) =>
      val mismatches = emb.select(
        GraftFunctions.hyperplaneBucket(col("embedding"), np, off).as("native"),
        hofBucket(np, off).as("hof"))
        .filter(col("native") =!= col("hof")).count()
      assert(mismatches === 0, s"bucket mismatch at nPlanes=$np offset=$off")
    }
    // and it stays inside whole-stage codegen
    val q = emb.select(GraftFunctions.hyperplaneBucket(col("embedding"), 9, 0))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[graft_hyperplane_bucket""".r.findFirstIn(plan).isDefined, plan)
  }

  test("bloom contains: zero false negatives, fpp-bounded false positives, SQL-callable") {
    import spark.implicits._
    val keys = spark.range(0, 1000L).select(xxhash64(col("id")).as("h"))
    val bf = keys.stat.bloomFilter("h", 1000L, 0.03)
    val bytes = { val b = new java.io.ByteArrayOutputStream(); bf.writeTo(b); b.toByteArray }
    // every inserted key must probe true (blooms have no false negatives)
    val misses = keys.filter(!GraftFunctions.bloomContains(lit(bytes), col("h"))).count()
    assert(misses === 0L)
    // disjoint probe set: false-positive rate lands in the fpp ballpark
    val fp = spark.range(1000000L, 1010000L)
      .filter(GraftFunctions.bloomContains(lit(bytes), xxhash64(col("id")))).count()
    assert(fp < 10000 * 0.03 * 3, s"fp rate ${fp / 10000.0} far above configured 0.03")
    // SQL-callable like the other graft functions
    keys.limit(5).createOrReplaceTempView("bloom_probe_v")
    val sqlHits = spark.sql(
      s"SELECT count(*) FROM bloom_probe_v WHERE ${GraftFunctions.bloomName}(${
        bytes.map(b => f"$b%02X").mkString("X'", "", "'")}, h)").head().getLong(0)
    assert(sqlHits === 5L)
    // and the probe stays inside whole-stage codegen
    val q = keys.filter(GraftFunctions.bloomContains(lit(bytes), col("h")))
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Filter""".r.findFirstIn(plan).isDefined, plan)
  }

  test("function is SQL-callable after registration and via extensions injector") {
    // a fresh session: its SQL names come from GraftExtensions alone, so
    // no register() call from an earlier test can mask what it installs
    val fresh = spark.newSession()
    import fresh.implicits._
    Seq((Array(3.0f, 4.0f), Array(3.0f, 4.0f))).toDF("a", "b").createOrReplaceTempView("v")
    def check(): Unit = {
      val c = fresh.sql(s"SELECT $cosineName(a, b) AS c FROM v").head().getDouble(0)
      assert(math.abs(c - 1.0) < 1e-15)
      // arity and literal errors name the function: the extensions and
      // register() share one table of validating builders
      val arity = intercept[IllegalArgumentException](
        fresh.sql(s"SELECT $cosineName(a) FROM v").collect())
      assert(arity.getMessage.contains(s"$cosineName expects 2 arguments"), arity.getMessage)
      val notLiteral = intercept[IllegalArgumentException](
        fresh.sql(s"SELECT $bucketName(a, size(a), 0) FROM v").collect())
      assert(notLiteral.getMessage.contains("must be a literal"), notLiteral.getMessage)
    }
    check()
    // register() skips the names the session already has
    GraftFunctions.register(fresh)
    check()
    // the extensions injector accepts our function tuple without error
    new GraftExtensions().apply(new SparkSessionExtensions)
  }

  test("Column API works on a session with no graft function registered") {
    val bare = spark.newSession()
    val registry = bare.sessionState.functionRegistry
    val names = Seq(cosineName, bucketName, bloomName, lnName, pqCodesName).map(FunctionIdentifier(_))
    names.foreach(registry.dropFunction)
    assert(names.forall(!registry.functionExists(_)))
    val bloom = {
      val bf = spark.range(0, 50L).select(xxhash64(col("id")).as("h")).stat.bloomFilter("h", 50L, 0.03)
      val b = new java.io.ByteArrayOutputStream(); bf.writeTo(b); b.toByteArray
    }
    val books = Array.tabulate(2, 4, 32)((s, c, d) => math.sin(100.0 * s + 10.0 * c + d))
    def native(s: SparkSession): Seq[Row] =
      Tables.embeddings(s, sfDir).filter(col("vec_id") < 100)
        .select(col("vec_id"),
          cosineSim(col("embedding"), reverse(col("embedding"))),
          hyperplaneBucket(col("embedding"), 6, 3),
          bloomContains(lit(bloom), xxhash64(col("vec_id"))),
          pqCodesRaw(col("embedding"), books),
          nativeLn(col("vec_id").cast("double")))
        .orderBy("vec_id").collect().toSeq
    def topK(s: SparkSession): Seq[Row] = {
      val emb = Tables.embeddings(s, sfDir)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5))
        .orderBy("query_id", "neighbor_id").collect().toSeq
    }
    assert(native(bare) === native(spark))
    assert(topK(bare) === topK(spark))
    // same auto-name as the registered SQL function
    val named = Tables.embeddings(bare, sfDir)
      .select(col("embedding").as("a"), col("embedding").as("b"))
      .select(cosineSim(col("a"), col("b")))
    assert(named.columns.toSeq === Seq(s"$cosineName(a, b)"))
    // nothing re-registered the names behind the caller's back
    assert(names.forall(!registry.functionExists(_)))
  }
}
