package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/**
 * Table catalog over the harness parquet layout (`TESTDATA.md`): one parquet
 * file per table under an sf directory. The Spark analogue of the reference's
 * information_schema introspection (`src/schema/schema-reader.ts:16-37`) —
 * parquet schemas are self-describing, so listing + `df.schema` replaces the
 * two metadata queries. Each table's schema costs one footer read on the
 * driver ([[readParquet]]) and no Spark job.
 */
object Tables {
  /** All harness tables, sorted (the reference sorts by table_name). */
  val names: Seq[String] = Seq(
    "customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  /**
   * Engine-internal convention: an event-time column named `ts` is an
   * epoch-NANOS long. The harness parquet has carried `ts` as
   * TIMESTAMP(NANOS) (readable only as a raw long, via `nanosAsLong`) and
   * later as TIMESTAMP(µs[, NTZ]) — this adapter accepts any of those
   * encodings and re-derives the exact nanos long, so downstream integer
   * arithmetic (`Q.tsCol`/`Q.tsSec`, window bucketing) is encoding-agnostic.
   * `unix_micros` on the µs-precision value is exact; the NTZ→TZ cast is an
   * identity reinterpretation under the UTC session zone every entrypoint
   * sets. Any other encoding fails loudly here, naming the drift, instead
   * of as nine opaque analysis errors downstream.
   *
   * SCOPE: applied only to the `events` table (in [[load]] /
   * [[catalogFromDir]]) — `ts` is the ENGINE's event-time convention, not
   * a claim about arbitrary user tables. A general-purpose connector
   * (`Sources.parquet`) must neither rewrite a user's legitimately
   * timestamp-typed `ts` column nor throw on a string one, so it stays
   * pass-through; callers with an events-shaped table opt in by calling
   * this adapter themselves.
   */
  private[graft] def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) | None => df // already nanos-long (or no ts column)
      case Some(TimestampType) | Some(TimestampNTZType) =>
        df.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000L"))
      case Some(other) =>
        throw new IllegalStateException(
          s"unsupported events.ts encoding $other: expected nanos-long, " +
            "TIMESTAMP or TIMESTAMP_NTZ (testdata drifted?)")
    }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Kept for TIMESTAMP(NANOS)-era data, where the only readable form is a
    // raw nanos-long; a no-op for µs-typed data (normalizeTs handles those).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = readParquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeTs(raw) else raw
  }

  /**
   * `spark.read.parquet(path)` without its schema-inference job. A bare
   * parquet read runs a one-task Spark job to read one footer (Spark's
   * `mergeSchemasInParallel`); here the driver reads that same footer —
   * the file Spark's inference would pick — and converts it with the
   * function that job runs, under the same session flags
   * (`nanosAsLong`, binary-as-string, INT96, NTZ inference), then hands
   * the schema to the reader. The resulting frame equals the plain read's,
   * schema included (`ParquetReadSpec`).
   *
   * Every case inference would resolve differently goes to the plain read:
   * a missing path or one without a visible data file (so Spark's own
   * error surfaces), a directory with subdirectories (partition
   * discovery), summary files (`_metadata`/`_common_metadata`, which
   * inference reads first) and schema merging switched on.
   */
  def readParquet(spark: SparkSession, path: String): DataFrame = {
    val state = spark.sessionState
    val c = state.conf
    val hconf = state.newHadoopConf()
    val source =
      if (c.isParquetSchemaMergingEnabled) None else schemaSource(path, hconf)
    source match {
      case None => spark.read.parquet(path)
      case Some(file) =>
        val footer = new Footer(file.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, hconf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS))
        // the converter flags of ParquetFileFormat.mergeSchemasInParallel
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = c.isParquetBinaryAsString,
          assumeInt96IsTimestamp = c.isParquetINT96AsTimestamp,
          inferTimestampNTZ = c.parquetInferTimestampNTZEnabled,
          nanosAsLong = c.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation =
            c.parquetReaderRespectUnknownTypeAnnotation)
        spark.read
          .schema(ParquetFileFormat.readSchemaFromFooter(footer, converter))
          .parquet(path)
    }
  }

  /** The file whose footer Spark's inference reads for `path`: the path
    * itself, or the first data file in sorted name order (names starting
    * with `_` or `.`, and in-flight `._COPYING_` files, are not data).
    * None sends the read to Spark's own path (see [[readParquet]]). */
  private def schemaSource(path: String,
      conf: Configuration): Option[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return None }
    if (st.isFile) return Some(st)
    val children = fs.listStatus(p)
    def name(s: FileStatus) = s.getPath.getName
    if (children.exists(s => s.isDirectory ||
        name(s) == "_metadata" || name(s) == "_common_metadata")) None
    else children.filterNot { s =>
      name(s).startsWith("_") || name(s).startsWith(".") ||
        name(s).endsWith("._COPYING_")
    }.sortBy(name).headOption
  }

  /** Full catalog for a scale-factor directory. */
  def catalog(spark: SparkSession, dir: String): Map[String, DataFrame] =
    names.map(n => n -> load(spark, dir, n)).toMap

  /**
   * Bucketed materialization — the layout-aware join primitive: write `df`
   * as a bucketed (and per-bucket sorted) catalog table at an explicit
   * external path and read it back. Spark records bucket metadata only in
   * the catalog (a path-based parquet write cannot carry it), so this is
   * the one write shape whose scans report
   * `HashPartitioning(bucketCols, nBuckets)` — two tables bucketed on
   * their join keys with EQUAL bucket counts then join with NO shuffle on
   * either side (EnsureRequirements sees both sides co-partitioned
   * through the join keys). Per-bucket sort order aids row-group
   * min-max skipping; Spark 3+ only ELIDES the SMJ sorts behind the
   * legacy `bucketedTableScan.outputOrdering` flag, so a cheap
   * partition-local sort remains — the shuffle is the scale cost and it
   * is gone. At 100 TB this is THE repeated-join strategy: pay
   * one layout write, then every subsequent join/aggregate on the bucket
   * key is exchange-free. Overwrite-safe for re-runs (external table is
   * dropped and re-created).
   */
  def bucketed(spark: SparkSession, df: DataFrame, table: String,
      path: String, bucketCols: Seq[String], sortCols: Seq[String],
      nBuckets: Int): DataFrame = {
    require(bucketCols.nonEmpty && nBuckets > 0)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    // one file per bucket (hash-repartition on the bucket key first):
    // without it every input partition writes its own slice of every
    // bucket — input-partitions × nBuckets small files — and the
    // per-file sortBy order fragments with them
    val one = df.repartition(nBuckets,
      bucketCols.map(org.apache.spark.sql.functions.col): _*)
    val w = one.write.format("parquet").mode("overwrite")
      .option("path", path)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.drop(1): _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.drop(1): _*)
     else w).saveAsTable(table)
    spark.table(table)
  }

  /**
   * Catalog by directory listing — any `<table>.parquet` under `dir`, sorted
   * by name (the reference's information_schema scan orders by table_name,
   * `schema-reader.ts:22`), each read by [[load]]: one directory listing
   * plus one footer read per table on the driver, and no Spark job.
   */
  def catalogFromDir(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    // ListMap keeps the sorted-name iteration order (a plain Map would
    // rehash it away)
    scala.collection.immutable.ListMap(
      files.map(_.getName).filter(_.endsWith(".parquet")).sorted
        .map(_.stripSuffix(".parquet"))
        .map(name => name -> load(spark, dir, name))
        .toSeq: _*)
  }
}
