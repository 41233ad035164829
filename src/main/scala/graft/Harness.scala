package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, to_json, xxhash64}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** What every graft main (and the test suite) shares: the session they
  * run on and the way they force a DataFrame to execute. */
object Harness {

  /** The graft session: local-parquet nanosecond timestamps read as
    * longs (`events.parquet`), graft's SQL surface installed through
    * [[graft.functions.GraftExtensions]], no UI. Built once from its
    * settings — the reference's `spark_session.py` shape. */
  def session(master: String, shufflePartitions: String, timeZone: String = "UTC",
      appName: String = "graft", logLevel: String = "ERROR"): SparkSession = {
    val spark = SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", timeZone)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** True when `dt` TRANSITIVELY contains a map (a bare `array<map<…>>`
    * or `struct<…, map, …>` fails xxhash64 analysis just like a
    * top-level map would). */
  private[graft] def containsMap(dt: DataType): Boolean = dt match {
    case _: MapType => true
    case a: ArrayType => containsMap(a.elementType)
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case _ => false
  }

  /** One-row aggregate that materializes EVERY output column: a bare
    * count() lets Catalyst prune unused columns, so map-only queries
    * would be timed as row-count scans instead of real work. Hashing the
    * full row defeats pruning. Map columns are not hashable (undefined
    * entry order), so any column whose type contains a map hashes
    * through to_json; everything else hashes natively. */
  def forced(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      if (containsMap(f.dataType)) to_json(col(f.name)) else col(f.name)
    }
    df.agg(count(xxhash64(cols.toIndexedSeq: _*)))
  }

  /** Execute [[forced]]; returns the row count. */
  def force(df: DataFrame): Long = forced(df).head().getLong(0)
}
