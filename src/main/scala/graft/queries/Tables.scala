package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loader for the driver's deterministic parquet tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings"
  )

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts encoding has varied across driver testdata generations:
      // TIMESTAMP(NANOS) (int64 ns — which Spark's µs TimestampType cannot
      // represent directly) vs TIMESTAMP(MICROS) without timezone (read as
      // TIMESTAMP_NTZ). Normalize both to TimestampType: the session
      // timezone is pinned UTC by GraftSession.builder, which every session uses, so
      // NTZ→timestamp is instant-preserving and matches DuckDB's naive
      // TIMESTAMP semantics. For nanos, integer `div`, not `/`: ~1.7e18 ns
      // exceeds the 2^53 exact-double range.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampType => raw
        case TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case other =>
          // Fail fast on any new encoding: a silent cast (e.g. from string
          // or double) would yield nulls and corrupt every events oracle.
          throw new IllegalStateException(
            s"events.ts has unexpected parquet type $other; " +
              "extend Tables.load with an explicit instant-preserving conversion")
      }
    } else spark.read.parquet(s"$sfDir/$name.parquet")

  /** Register every table as a temp view so queries can be written in SQL —
    * the declarative form Catalyst optimizes best.
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** Fan a narrow projection out to the session's full parallelism WHEN the
    * physical plan would otherwise run it on fewer partitions than cores.
    *
    * Why (r18, guide §2.5/§6): every sf-dir table is ONE parquet file with
    * ONE row group, so a scan stage is a single task no matter what
    * `maxPartitionBytes`/`minPartitionNum` say — a scan-side aggregation
    * then runs serially on a 32-core session (q159's one-pass moment matrix
    * measured cpu/wall ≈ 1.3). The fix must be a PLAN step (an exchange),
    * not a config, and must vanish at scale: this helper repartitions only
    * when the input's partition count is below the session's default
    * parallelism — at 100 TB a scan has thousands of row groups, the
    * condition is false, and the plan is byte-identical to before. Call it
    * on a PROJECTED (narrow) input so the exchange moves key bytes, not
    * payloads (§2.3).
    */
  def fanOut(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
