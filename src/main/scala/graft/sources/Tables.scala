package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/**
 * Batch table loader for the driver's parquet tables.
 *
 * Timestamp normalization, both driver schema generations:
 *  - `ts` as parquet INT64 TIMESTAMP(NANOS): Spark 4 refuses it outright
 *    ([PARQUET_TYPE_ILLEGAL]), so we read nanos as Long
 *    (`spark.sql.legacy.parquet.nanosAsLong`) and floor-convert to a
 *    microsecond TimestampType — the same truncation DuckDB applies.
 *  - naive `timestamp[us]` (isAdjustedToUTC=false): Spark reads
 *    TIMESTAMP_NTZ, which refuses numeric casts (`cast(ts AS BIGINT)`)
 *    that the whole query catalog relies on. Every session here pins
 *    `spark.sql.session.timeZone=UTC`, so casting NTZ → TimestampType is a
 *    no-op reinterpretation that matches DuckDB's naive-as-UTC `epoch()`.
 */
object Tables {

  // Session-level schema memo (guide §6 metadata caching): a bare-path
  // parquet read re-infers the footer schema with ONE Spark job per read —
  // a fixed job every catalog query pays per table per invocation (the
  // r20 probe shows 1–5 "parquet at Tables.scala" jobs of ~40 ms on every
  // query). A real deployment holds the table schema in a catalog
  // (metastore / manifest format); this memo is the bare-path stand-in.
  // METADATA only, never rows: the key carries the files' (name, length,
  // mtime) fingerprint, so a regenerated corpus at the same path re-infers
  // and every byte of DATA is still read from parquet on every invocation.
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Fingerprint of a table's files (name + length + mtime, MD5 over the
   * sorted list, 16 hex chars): cache keys for schemas and derived
   * artifacts change whenever the dataset at the same path is regenerated. */
  private[graft] def fingerprint(path: String): String = {
    val root = new java.io.File(path)
    val files = Option(if (root.isDirectory) root.listFiles() else Array(root))
      .getOrElse(Array.empty[java.io.File]).filter(_.isFile)
    val desc = files.map(f => s"${f.getName}:${f.length()}:${f.lastModified()}")
      .sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(desc.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }

  /** Parquet read with the schema served from the memo when the path's
   * file fingerprint is unchanged — for IMMUTABLE inputs (the catalog
   * tables, fingerprint-keyed fixtures). Mutable paths get no benefit
   * (changed files → changed key → re-infer) but stay correct. */
  def readMemoized(spark: SparkSession, path: String): DataFrame = {
    val schema = schemaMemo.computeIfAbsent(
      path + "|" + fingerprint(path),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = readMemoized(spark, s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) { (acc, f) =>
      f.dataType match {
        case LongType if f.name == "ts" =>
          // `div` keeps the whole computation in Long arithmetic: `/` on
          // longs is DOUBLE division, and at ~1.7e18 nanos doubles only
          // resolve ~256 ns, so floor(double) can be off by 1 µs vs
          // DuckDB's integer truncation on sub-microsecond components.
          acc.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          acc.withColumn(f.name, col(f.name).cast(TimestampType))
        case _ => acc
      }
    }
  }
}
