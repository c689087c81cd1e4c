package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Canonical readers for the driver testdata (`TESTDATA.md`).
  *
  * One parquet file per table under `sfDir`. Schemas are fixed by the
  * driver; we never infer in streaming paths. The reference models its
  * relational universe as explicit-schema tables written row-by-row
  * (reference: `cdc-local/src/utils.py:257-261`); here the same role is
  * played by parquet scans whose column pruning + predicate pushdown come
  * from Catalyst for free.
  *
  * Scale note: each table is a single parquet file locally, but every
  * reader goes through `spark.read.parquet` so a directory of thousands
  * of files on a real cluster binds identically.
  *
  * Binding runs no Spark job. Left to infer, `spark.read.parquet`
  * launches one job per read just to open one footer. Instead
  * [[read]] reads that footer on the driver, by Spark's own rule with
  * `mergeSchema` off: the path itself when it is a file, else the
  * first data file by path in the directory (names led by `_` or `.`
  * are skipped). The footer is converted with the session's current
  * `SQLConf` (Spark's row-metadata schema, `nanosAsLong`, NTZ
  * inference), so the bound schema is the one Spark would infer, and
  * it is handed to `spark.read.schema(..).parquet(..)`. [[countOf]]
  * sums the row-group counts of the same footers.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def read(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val conf = spark.sessionState.newHadoopConf()
    val first = dataFiles(conf, path).headOption.getOrElse(
      throw new IllegalArgumentException(s"no parquet data file under $path"))
    val schema = ParquetFileFormat.readSchemaFromFooter(
      footer(conf, first), new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    spark.read.schema(schema).parquet(path)
  }

  /** Session-cached row count of a fixture table: the sum of the
    * row-group counts in its data files' footers (no Spark job).
    * Corpus-derived layer parameters (SimHash banding scheme, SRP band
    * width, IVF k, kNN nProbe, TF-IDF doc total) each ask for it; the
    * value is fixed per (session, sfDir) under the warehouse snapshot
    * assumption [[SessionCache]] already documents for every derived
    * layer, so the footers are read once. */
  def countOf(spark: SparkSession, sfDir: String, name: String): Long =
    SessionCache.value(spark, "table_count", (sfDir, name)) {
      val conf = spark.sessionState.newHadoopConf()
      dataFiles(conf, s"$sfDir/$name.parquet").map(
        footer(conf, _).getParquetMetadata.getBlocks.asScala.map(_.getRowCount).sum).sum
    }

  /** The table's data files in path order, as Spark lists them: the
    * path itself when it is a file, else the files of the (flat)
    * directory whose names are not led by `_` or `.` (`_SUCCESS`,
    * `.crc` checksums). */
  private def dataFiles(conf: Configuration, path: String): Seq[FileStatus] = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val st = fs.getFileStatus(root)
    if (st.isFile) Seq(st)
    else fs.listStatus(root).toSeq.filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.toString)
  }

  private def footer(conf: Configuration, file: FileStatus): Footer =
    new Footer(file.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.NO_FILTER))

  def region(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = read(spark, sfDir, "embeddings")

  /** `events.ts` has shipped in three physical shapes across driver
    * testdata generations: parquet TIMESTAMP(NANOS) (loaded as epoch-ns
    * `LongType` under `spark.sql.legacy.parquet.nanosAsLong=true`),
    * `timestamp[us]` with isAdjustedToUTC=false (loaded as
    * `TimestampNTZType`), and UTC-adjusted `timestamp[us]`
    * (`TimestampType`). The engine standardizes on MICROSECOND
    * precision regardless of the on-disk shape: `ts_us` (epoch-µs long)
    * + a derived `TimestampType` `ts`. Spark timestamps are µs-precision
    * anyway, and other engines (e.g. DuckDB's parquet reader) truncate
    * ns to µs, so µs is the portable event-time grain. Branching on the
    * *loaded* dtype (not an assumed generation) keeps all three shapes
    * readable — the driver regenerates testdata between rounds and the
    * physical type has flipped before. Event-time extraction from a raw
    * payload mirrors the reference's timestamp extractor
    * (`kotlin-examples/orders-stats-streams/.../BidTimeTimestampExtractor.kt:13-37`).
    *
    * NTZ note: the session timezone is pinned to UTC ([[GraftSession]]),
    * so `cast(ntz as timestamp)` reinterprets the wall-clock micros as
    * UTC-instant micros — exactly the epoch value the file stores.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // Runtime-settable SQLConfs; set defensively in case the caller's
    // session was not built through GraftSession. The UTC pin matters
    // for the NTZ branch below: cast(ntz as timestamp) reinterprets
    // wall-clock micros through the SESSION timezone, so a non-UTC
    // session would silently shift every ts_us.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = read(spark, sfDir, "events")
    val withUs = raw.schema("ts").dataType match {
      case LongType => // TIMESTAMP(NANOS) surfaced as epoch-ns long
        raw.withColumnRenamed("ts", "ts_ns_raw")
          .withColumn("ts_us", expr("ts_ns_raw div 1000"))
          .drop("ts_ns_raw")
      case TimestampType | TimestampNTZType =>
        raw.withColumnRenamed("ts", "ts_raw")
          .withColumn("ts_us", unix_micros(col("ts_raw").cast(TimestampType)))
          .drop("ts_raw")
      case other =>
        throw new IllegalStateException(
          s"events.ts loaded as unsupported type $other; expected long (ns) or timestamp (µs)")
    }
    withUs.withColumn("ts", timestamp_micros(col("ts_us")))
  }
}

/** Session factory with the configs every entry point needs. */
object GraftSession {
  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
