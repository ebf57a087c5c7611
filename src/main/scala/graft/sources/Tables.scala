package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, timestamp_diff, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Batch source layer over the driver-generated testdata star schema
  * (TESTDATA.md): one parquet file per table under an `sf` directory.
  *
  * Event-time normalization: the physical encoding of `events.ts` is
  * WRITER-OWNED and has already changed under us once (parquet
  * `TIMESTAMP(NANOS)` through round 8; `timestamp[us]`, surfacing as
  * `TIMESTAMP_NTZ`, from round 9). A scale-grade engine must not leak a
  * physical encoding into query bodies, so this layer normalizes `ts` to
  * ONE logical type — BIGINT nanoseconds since the epoch, UTC — at the
  * source boundary:
  *
  *  - parquet TIMESTAMP(NANOS): readable only under
  *    `spark.sql.legacy.parquet.nanosAsLong=true` (set defensively on
  *    every read — the conf is dynamic and the SparkSession may be
  *    driver-owned); the column then already surfaces as BIGINT nanos.
  *  - parquet timestamp micros/millis, instant-encoded (TIMESTAMP):
  *    `unix_micros(..) * 1000L` — absolute micros, session-TZ-independent;
  *  - parquet timestamp micros/millis, wall-clock (TIMESTAMP_NTZ):
  *    `timestamp_diff(MICROSECOND, NTZ epoch, ..)` — both operands are
  *    NTZ, so the projection never consults the session time zone and the
  *    wall clock is read as UTC (what the fixtures and the DuckDB oracle's
  *    naive `epoch_us(ts)` both mean). No session conf is mutated here
  *    beyond the read-side `NanosConf`.
  *
  * Downstream algebra (`ts div 1000` → micros, window frames, as-of/range
  * joins) and the DuckDB oracle SQL (`epoch_us(ts)` — DuckDB reads either
  * encoding natively at micro precision) agree under all encodings.
  * Date-LEVEL operators downstream (`to_date`, `date_trunc` on rebuilt
  * timestamps) still follow the session time zone — standard Spark
  * semantics; Verify/Bench/PipelineRunner pin UTC at session build time.
  */
object Tables {
  final val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"

  /** If `c` is a wall-clock/instant timestamp column, project it to BIGINT
    * nanos since the epoch (UTC); BIGINT columns pass through unchanged.
    */
  def toEpochNanos(c: Column, dataType: org.apache.spark.sql.types.DataType): Column =
    dataType match {
      case TimestampType =>
        // instant encoding: absolute micros, independent of session TZ
        unix_micros(c) * 1000L
      case TimestampNTZType =>
        // wall-clock encoding: difference from the NTZ epoch — both
        // operands NTZ, so the session TZ is never consulted and the
        // wall clock is read as UTC (an NTZ→LTZ cast would instead
        // interpret it in whatever TZ the driver-owned session runs)
        timestamp_diff("MICROSECOND",
          lit(java.time.LocalDateTime.of(1970, 1, 1, 0, 0)), c) * 1000L
      case LongType => c
      case other => throw new IllegalArgumentException(
        s"unsupported event-time physical type: $other")
    }

  /** Normalize a loaded table: any `ts` column becomes BIGINT epoch nanos
    * regardless of the parquet writer's physical choice.
    */
  def normalizeEventTime(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts") match {
      case Some(f) if f.dataType != LongType =>
        df.withColumn("ts", toEpochNanos(col("ts"), f.dataType))
      case _ => df
    }

  /** Raw reader schema per path and file version — inferred ONCE per
    * process and version (r20). Parquet schema inference runs a
    * footer-reading Spark JOB at every `read.parquet` call; with ~3
    * table reads per query that job plus its scheduling gap was a
    * measured ~0.1 s of fixed cost per query execution (JobProfile:
    * three `parquet at Tables.scala` jobs leading every profile).
    * Passing the cached schema skips inference entirely. A file's
    * version is its (mtime, length); a directory's is the sorted
    * (relative name, mtime, length) of every file under it, since the
    * directory's own length is a filesystem constant and its mtime
    * moves only when entries come and go, at the filesystem's mtime
    * granularity. The cache holds StructTypes only — never data, never
    * results — so every execution still computes from the parquet
    * bytes.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[(String, Long, Long)]),
      org.apache.spark.sql.types.StructType]()

  private def cachedSchema(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType = {
    val root = java.nio.file.Paths.get(path)
    def stat(p: java.nio.file.Path) =
      (root.relativize(p).toString, p.toFile.lastModified, p.toFile.length)
    val version =
      if (java.nio.file.Files.isDirectory(root)) {
        val files = java.nio.file.Files.walk(root)
        try files.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(stat).toSeq.sorted
        finally files.close()
      } else Seq(stat(root))
    schemaCache.computeIfAbsent((path, version), _ => spark.read.parquet(path).schema)
  }

  /** `spark.read.parquet(path)` with the same version-keyed schema
    * cache as [[table]] (no event-time normalization): for
    * process-written materialized inputs. A rewritten path changes the
    * version key and re-infers.
    */
  def readCached(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(cachedSchema(spark, path)).parquet(path)

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // the only session conf this layer touches: read-side decode of
    // legacy TIMESTAMP(NANOS) files (dynamic, harmless for other files)
    spark.conf.set(NanosConf, "true")
    val path = s"$sfDir/$name.parquet"
    normalizeEventTime(spark.read.schema(cachedSchema(spark, path)).parquet(path))
  }

  /** All star-schema table names present in an sf directory. */
  val allNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every table found in `sfDir` as a temp view (missing files
    * are skipped), so `spark.sql` text can query the star schema.
    */
  def registerViews(spark: SparkSession, sfDir: String): Seq[String] =
    allNames.filter { n =>
      val exists = new java.io.File(s"$sfDir/$n.parquet").exists()
      if (exists) table(spark, sfDir, n).createOrReplaceTempView(n)
      exists
    }

  def events(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "events")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")
}
