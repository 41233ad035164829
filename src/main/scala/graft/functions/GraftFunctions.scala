package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.graft.Shims.{column, expression}

/** Column-API + SQL-name surface for graft's native expressions.
  *
  * The Column functions build their Catalyst expressions directly, so
  * they work on any session with no setup. SQL names come from ONE table
  * of validating builders ([[sqlFunctions]]), installed either way:
  *   - [[GraftExtensions]] — the SparkSessionExtensions injector
  *     (`spark.sql.extensions=graft.functions.GraftExtensions`), for
  *     every session built with it;
  *   - [[GraftFunctions.register]] — the same names into one existing
  *     session.
  * Both also add the HOF-cosine rewrite rule
  * ([[graft.plans.CosineRewriteRule]]).
  */
object GraftFunctions {

  val cosineName = "graft_cosine_sim"
  val bucketName = "graft_hyperplane_bucket"
  val bloomName  = "graft_bloom_contains"
  val lnName     = "graft_ln"
  val pqCodesName = "graft_pq_codes"

  private def cosineBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, s"$cosineName expects 2 arguments, got ${exprs.length}")
    CosineSimilarity(exprs.head, exprs(1))
  }

  private def intArg(e: Expression, what: String): Int = {
    require(e.foldable, s"$bucketName's $what must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  private def bucketBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3, s"$bucketName expects 3 arguments, got ${exprs.length}")
    HyperplaneBuckets(exprs.head,
      intArg(exprs(1), "nPlanes"), intArg(exprs(2), "planeOffset"))
  }

  private def bloomBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, s"$bloomName expects 2 arguments, got ${exprs.length}")
    BloomFilterMightContain(exprs.head, exprs(1))
  }

  private def lnBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, s"$lnName expects 1 argument, got ${exprs.length}")
    NativeLog(exprs.head)
  }

  private def pqCodesBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2 || exprs.length == 3,
      s"$pqCodesName expects 2 or 3 arguments, got ${exprs.length}")
    require(exprs(1).foldable, s"$pqCodesName's codebooks must be a literal")
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val books = exprs(1).eval().asInstanceOf[ArrayData]
      .toObjectArray(ArrayType(ArrayType(DoubleType)))
      .map(_.asInstanceOf[ArrayData]
        .toObjectArray(ArrayType(DoubleType))
        .map(_.asInstanceOf[ArrayData].toDoubleArray()))
    val unitize = exprs.length == 3 && {
      require(exprs(2).foldable, s"$pqCodesName's unitize flag must be a literal")
      exprs(2).eval().asInstanceOf[Boolean]
    }
    PqCodes(exprs.head, books, unitize)
  }

  private def entry(name: String, cls: Class[_], builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)

  /** Every SQL name with its validating builder: the one table both
    * [[register]] and [[GraftExtensions]] install. */
  private[functions] val sqlFunctions = Seq(
    entry(cosineName, classOf[CosineSimilarity], cosineBuilder),
    entry(bucketName, classOf[HyperplaneBuckets], bucketBuilder),
    entry(bloomName, classOf[BloomFilterMightContain], bloomBuilder),
    entry(lnName, classOf[NativeLog], lnBuilder),
    entry(pqCodesName, classOf[PqCodes], pqCodesBuilder))

  /** Add graft's SQL names to an existing session, skipping any it
    * already has (so a session built with [[GraftExtensions]] is left
    * as it is), plus the HOF-cosine rewrite rule via experimental
    * extraOptimizations. The Column functions below do not need it. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(graft.plans.CosineRewriteRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.CosineRewriteRule
  }

  /** Codegen'd one-pass cosine similarity between two array columns. */
  def cosineSim(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(a), expression(b)))

  /** Codegen'd one-pass hyperplane-LSH bucket id (all plane dot products
    * in a single fused loop — see [[HyperplaneBuckets]]). */
  def hyperplaneBucket(emb: Column, nPlanes: Int, planeOffset: Int): Column =
    column(HyperplaneBuckets(expression(emb), nPlanes, planeOffset))

  /** Codegen'd Bloom-filter membership probe over a serialized
    * `org.apache.spark.util.sketch.BloomFilter` (the format
    * `DataFrame.stat.bloomFilter` produces) — Spark's own
    * `BloomFilterMightContain` runtime-filter expression surfaced as a
    * library function. `value` must be a LONG key (hash the probe column
    * with `xxhash64(...)` using the SAME expression that keyed the
    * sketch build). */
  def bloomContains(filterBytes: Column, value: Column): Column =
    column(BloomFilterMightContain(expression(filterBytes), expression(value)))

  /** Fused PQ code assignment over a unit-vector column — all m subspace
    * argmaxes in one native per-row loop (see [[PqCodes]] for the
    * bit-exactness contract vs the expression-forest formulation it
    * replaces). */
  def pqCodes(unitVec: Column, books: Array[Array[Array[Double]]]): Column =
    column(PqCodes(expression(unitVec), books))

  /** [[pqCodes]] over the RAW `array<float|double>` embedding: the L2
    * normalization folds into the kernel, bit-identical to
    * `unitCol → pqCodes` (see [[PqCodes]]'s `unitize` contract). Use on
    * the corpus/scan side: without the interpreted `transform`/`aggregate`
    * HOFs in the projection the encode stage stays in whole-stage
    * codegen. */
  def pqCodesRaw(rawVec: Column, books: Array[Array[Array[Double]]]): Column =
    column(PqCodes(expression(rawVec), books, unitize = true))

  /** Natural log via the intrinsified `Math.log` — see [[NativeLog]] for
    * why this beats the built-in `log` (StrictMath) when the output faces
    * a cross-engine exact compare. */
  def nativeLn(x: Column): Column = column(NativeLog(expression(x)))
}

/** `spark.sql.extensions` injector (see [[GraftFunctions]]). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.sqlFunctions.foreach(ext.injectFunction)
    // portable HOF cosine → fused native kernel, for every session query
    ext.injectOptimizerRule(_ => graft.plans.CosineRewriteRule)
    // SQL DELETE/UPDATE/MERGE on USING graft tables (see GraftSqlDml)
    ext.injectResolutionRule(session => new graft.plans.GraftSqlDml(session))
    // DESCRIBE HISTORY / VACUUM / OPTIMIZE / RESTORE (see GraftSqlParser)
    ext.injectParser((session, delegate) =>
      new graft.plans.GraftSqlParser(session, delegate))
    // SELECT * FROM table_changes('t', 0, 'id') — the SQL CDF face
    ext.injectTableFunction((
      FunctionIdentifier("table_changes"),
      new ExpressionInfo(classOf[graft.sources.GraftDataSource].getName,
        "table_changes"),
      exprs => graft.plans.GraftSqlDml.tableChanges(exprs)))
    ()
  }
}
