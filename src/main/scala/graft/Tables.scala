package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table loading + cross-engine-exact numeric helpers.
  *
  * All oracle-checked aggregates use integer cents (`round(x*100)` as
  * BIGINT): every monetary/quantity column in the driver testdata is an
  * exact 2-decimal value, so both Spark and DuckDB recover the same
  * int64 per row and integer aggregation is exact — float summation
  * order can never flip a comparison.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The regenerated testdata stores ALL timestamp columns
    // (events.ts, o_orderdate, l_shipdate) as TIMESTAMP(MICROS,
    // isAdjustedToUTC=false), which Spark 4 infers as TIMESTAMP_NTZ by
    // default. Pin every such column to TIMESTAMP_LTZ for EVERY table
    // read, not just events: otherwise the type a query sees depends
    // on session state — an order-dependent schema is poison for
    // committed plan fingerprints. Pinning is done by re-reading with
    // an EXPLICIT schema (inferred schema with NTZ mapped to LTZ), not
    // by flipping `spark.sql.parquet.inferTimestampNTZ.enabled` on the
    // shared session (which would leak into every other parquet read
    // in the session and is ignored as a per-read option on the v1
    // path). A schema-specified scan of an unadjusted-micros column as
    // LTZ is exactly what the conf-off read produces, so predicates on
    // these columns still push down to parquet.
    if (name == "events") events(spark, dir)
    else pinTimestampsLtz(spark, s"$dir/$name.parquet")
  }

  private def pinTimestampsLtz(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.types._
    val inferred = spark.read.parquet(path).schema
    if (!inferred.exists(_.dataType == TimestampNTZType))
      spark.read.schema(inferred).parquet(path)
    else {
      val pinned = StructType(inferred.map {
        case f if f.dataType == TimestampNTZType => f.copy(dataType = TimestampType)
        case f => f
      })
      spark.read.schema(pinned).parquet(path)
    }
  }

  /** The events table's `ts` physical type has varied across testdata
    * generations — TIMESTAMP(NANOS) (rejected by Spark's reader unless
    * read as long), and TIMESTAMP(MICROS, isAdjustedToUTC=false) (which
    * Spark 4 infers as TIMESTAMP_NTZ, incompatible with the LTZ-typed
    * temporal surface: unix_micros, window(), watermarks). Normalize all
    * of them to TIMESTAMP_LTZ micros, which with the UTC session
    * timezone carries the identical epoch-micros DuckDB's oracle sees.
    * The NTZ generation is pinned to LTZ via an explicit read schema
    * (see [[t]]), so `ts` predicates still push down to parquet and no
    * session conf is mutated. The NANOS generation cannot even be
    * schema-inferred unless the caller's session sets
    * `spark.sql.legacy.parquet.nanosAsLong`; without it the read fails
    * with an error naming the file and that conf (none of the current
    * testdata generations hit it). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val path = s"$dir/events.parquet"
    val df =
      try pinTimestampsLtz(spark, path)
      catch {
        case e: Exception
            if e.getMessage != null && e.getMessage.contains("NANOS") =>
          throw new IllegalStateException(s"$path stores ts as " +
            "TIMESTAMP(NANOS); set spark.sql.legacy.parquet.nanosAsLong=true " +
            "on the session to read it", e)
      }
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => df
    }
  }

  /** Exact integer cents of a 2-decimal double column. */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Exact integer 1e-4 units for price*(1-discount) style products. */
  def revenueC4(price: Column, discount: Column): Column =
    cents(price) * (lit(100L) - cents(discount))
}
