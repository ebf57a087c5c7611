package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal access bridge into Spark's `private[sql]` Column↔Expression
  * adapters for the engine's custom Catalyst expressions. Living in a
  * subpackage of `org.apache.spark.sql` is the standard technique for
  * Spark extension libraries (the alternatives — reflection or forking —
  * are worse); only thin adapters over Spark internals live here.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Column → Catalyst expression via the classic converter: unlike
    * [[expression]]'s lazy `ColumnNodeExpression` wrapper (fine as a
    * child of an already-resolved custom Expression), this converts the
    * whole node tree into real Catalyst nodes (`UnresolvedFunction` etc.)
    * that the ANALYZER then resolves — required when the tree is returned
    * from a FunctionRegistry builder, where a wrapper node would reach
    * codegen unresolved.
    */
  def convertedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)
  def logicalPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  /** `df.collect()` as Catalyst rows, so strings keep their UTF-8
    * bytes as they are; one SQL execution, as `collect()` runs it.
    */
  def collectInternal(df: org.apache.spark.sql.DataFrame)
      : Array[org.apache.spark.sql.catalyst.InternalRow] = {
    val qe = df.queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe)(
      qe.executedPlan.executeCollect())
  }
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** A parquet scan planned ENTIRELY from manifest metadata: file paths
    * and lengths come from the caller (the snapshot format's committed
    * manifest), so constructing and planning the scan costs ZERO
    * filesystem calls — no directory listing AND no per-path FileStatus
    * stat, the cost `spark.read.parquet(paths*)` pays once per file
    * (measured ~1.8 ms/file driver-side: 18 s to plan a 10⁴-file
    * snapshot). This is the same move the lakehouse formats make (the
    * manifest IS the file index); expressed here as a minimal
    * `FileIndex` handed to the stock `HadoopFsRelation` + parquet
    * format, so split planning, vectorized reading, filter pushdown and
    * column pruning all stay Spark's own.
    *
    * The caller owns length fidelity: lengths come from the staging
    * listing at commit time and files are immutable thereafter (the
    * format never rewrites a committed file in place).
    */
  def manifestParquetScan(spark: SparkSession,
                          schema: org.apache.spark.sql.types.StructType,
                          rootPath: org.apache.hadoop.fs.Path,
                          files: Seq[(org.apache.hadoop.fs.Path, Long)],
                          admit: (String, Seq[org.apache.spark.sql.sources.Filter]) => Boolean =
                            (_, _) => true)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.types.StructType
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val statuses = files.map { case (p, len) =>
      // block size only shapes split alignment; mtime 0 is safe — no
      // cache keys off it (this index is built per query)
      new org.apache.hadoop.fs.FileStatus(len, false, 1, 128L * 1024 * 1024, 0L, p)
    }.toArray
    val index = new FileIndex {
      override def rootPaths: Seq[org.apache.hadoop.fs.Path] = Seq(rootPath)
      // `dataFilters` is Spark's own pushdown handing the scan its
      // conjunction of data predicates — translating them to public
      // `sources.Filter`s and asking the caller's `admit` per file is
      // what turns the manifest's committed stats into AUTOMATIC
      // planning-time file skipping for a plain `.filter(...)`, the
      // same mechanism partition pruning uses. `admit` must be
      // conservative (true when unsure): correctness stays with the
      // row-level predicate Spark re-applies anyway.
      override def listFiles(partitionFilters: Seq[Expression],
                             dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
        val fs = dataFilters.flatMap(e =>
          DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true))
        val kept =
          if (fs.isEmpty) statuses
          else statuses.filter(s => admit(s.getPath.toString, fs))
        Seq(PartitionDirectory(InternalRow.empty, kept))
      }
      override def inputFiles: Array[String] = files.map(_._1.toString).toArray
      override def refresh(): Unit = ()
      override def sizeInBytes: Long = files.map(_._2).sum
      override def partitionSchema: StructType = new StructType()
    }
    val relation = HadoopFsRelation(index, new StructType(), schema, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      Map.empty[String, String])(cs)
    org.apache.spark.sql.classic.Dataset.ofRows(cs,
      LogicalRelation(relation, isStreaming = false))
  }

  /** Write `df` as parquet under the fresh directory `path` and return
    * one [[FileStats]] per written file, gathered INSIDE the write tasks
    * (the `DeltaJobStatisticsTracker` move): no job re-reads the files
    * the write has just produced. The write is the one
    * `InsertIntoHadoopFsRelationCommand` runs for `df.write.parquet` —
    * `FileFormatWriter.write` with `ParquetFileFormat`, the session's
    * commit protocol, the same schema checks and a new SQL execution id
    * — plus a [[StatsJobTracker]].
    *
    * Per file: the row count; per `statsCols` name (exact top-level
    * field; integral, date or string) the (min, max) and non-null
    * count; per `bucketIds` column (an int-valued expression over `df`,
    * evaluated by a bound projection) the distinct non-null values, or
    * None past `bucketIdsMax` of them. Only committed task attempts
    * report: a failed attempt's tracker dies with it.
    */
  def writeParquet(df: org.apache.spark.sql.DataFrame, path: String,
                   statsCols: Seq[String], bucketIds: Seq[Column],
                   bucketIdsMax: Int): Seq[FileStats] = {
    import org.apache.spark.internal.io.FileCommitProtocol
    import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences}
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.execution.SQLExecution
    import org.apache.spark.sql.execution.datasources.{DataSource, FileFormatWriter}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val cs = ds.sparkSession
    val conf = cs.sessionState.conf
    DataSource.validateSchema("parquet", df.schema, conf)
    org.apache.spark.sql.util.SchemaUtils.checkColumnNameDuplication(
      df.schema.fieldNames.toSeq, conf.caseSensitiveAnalysis)
    val cols = statsCols.map { c =>
      val i = df.schema.fieldIndex(c)
      (i, df.schema(i).dataType)
    }
    val output = ds.queryExecution.analyzed.output
    val buckets = if (bucketIds.isEmpty) Nil else
      df.select(bucketIds: _*).queryExecution.analyzed.asInstanceOf[Project]
        .projectList.map {
          case a: Alias => BindReferences.bindReference(a.child, output)
          case e => BindReferences.bindReference(e, output)
        }
    val tracker = new StatsJobTracker(cols, buckets, bucketIdsMax)
    val qe = ds.queryExecution
    val committer = FileCommitProtocol.instantiate(conf.fileCommitProtocolClass,
      jobId = java.util.UUID.randomUUID().toString, outputPath = path)
    // named like Spark's own write commands, so QueryExecutionListeners
    // see this write as they see `df.write.parquet`
    SQLExecution.withNewExecutionId(qe, Some("command")) {
      FileFormatWriter.write(cs, qe.executedPlan, new ParquetFileFormat(), committer,
        FileFormatWriter.OutputSpec(path, Map.empty, qe.executedPlan.output),
        cs.sessionState.newHadoopConf(), Nil, None, Seq(tracker), Map.empty)
    }
    tracker.collected
  }

  /** The single `BaseRelation` leaf of a planned scan — what a V1
    * `RelationProvider.createRelation` must return. The snapshot
    * format's batch reads plan as exactly one relation (a manifest-
    * backed HadoopFsRelation, or the stock parquet relation on the
    * pre-header fallbacks); anything else (joins, local relations) is
    * a caller error surfaced loudly.
    */
  def singleBaseRelation(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val rels = df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation
    }
    require(rels.size == 1,
      s"expected exactly one relation leaf, found ${rels.size}:\n" +
        df.queryExecution.analyzed)
    rels.head
  }

  /** Re-root a BATCH DataFrame as a streaming micro-batch plan: every
    * leaf relation is marked `isStreaming = true`. This is the V1
    * streaming-source contract (the same move Spark's own
    * FileStreamSource and the lakehouse sources make): `Source.getBatch`
    * returns a DataFrame whose plan the MicroBatchExecution splices in
    * place of the stream's logical relation, and it ASSERTS the plan is
    * streaming. The batch plans handed in here are manifest-planned
    * parquet scans (LogicalRelation leaves) plus projections/unions/
    * anti-joins above them, and empty windows are LocalRelations — both
    * leaf kinds carry the flag natively.
    *
    * `staticLeaf` exempts leaves that must STAY batch relations: a
    * snapshot window with pending merge-on-read deletes anti-joins its
    * delete-key scans, and a stream-STATIC LeftAnti join is plannable
    * per micro-batch while a stream-stream LeftAnti is not (Spark's
    * symmetric hash join has no LeftAnti mode) — marking every leaf
    * would crash exactly the erase-crossing streams feed mode exists
    * for. The plan counts as streaming if ANY leaf is marked
    * (`isStreaming` is an exists-fold), which the non-exempt data
    * scans guarantee.
    */
  def asStreaming(df: org.apache.spark.sql.DataFrame,
                  staticLeaf: org.apache.spark.sql.types.StructType => Boolean =
                    _ => false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val plan = df.queryExecution.analyzed.transform {
      case lr: LogicalRelation if !lr.isStreaming && !staticLeaf(lr.relation.schema) =>
        lr.copy(isStreaming = true)
      case l: LocalRelation if !l.isStreaming &&
        !staticLeaf(org.apache.spark.sql.catalyst.types.DataTypeUtils
          .fromAttributes(l.output)) =>
        l.copy(isStreaming = true)
    }
    require(plan.isStreaming,
      s"asStreaming could not mark this plan's leaves streaming:\n$plan")
    ofRows(df.sparkSession, plan)
  }

  /** The inverse of [[asStreaming]], for a V1 streaming SINK's
    * `addBatch` input: re-root the micro-batch's ALREADY-PLANNED
    * execution as a batch Dataset (`LogicalRDD` over
    * `queryExecution.toRdd`, `isStreaming = false`) so batch writers
    * can run against it — the exact move Spark's own ForeachBatchSink
    * makes before handing users the batch. Calling `.write` on the raw
    * addBatch Dataset throws CALL_ON_STREAMING_DATASET_UNSUPPORTED;
    * this also pins the batch to the one incremental execution instead
    * of re-executing the plan per downstream action.
    */
  def asBatch(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    ofRows(df.sparkSession, org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false))
  }

  /** Block until the shared listener bus has delivered every queued
    * event. Audit tooling needs this between queries: the
    * QueryExecutionListener bus is ASYNC, so executions belonging to
    * query N can otherwise deliver into query N+1's freshly-registered
    * listener and contaminate its plan audit (run-order-dependent counts
    * — the ADVICE r13 PLAN_AUDIT drift). Bounded wait, same contract as
    * Spark's own test helper.
    */
  def waitListenerBusEmpty(spark: SparkSession, timeoutMillis: Long = 30000L): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMillis)

  // test access to the (private[sql]) SparkSessionExtensions build hooks,
  // so extension wiring is verifiable without tearing down the shared
  // test session (extensions only apply at session construction)
  def buildStrategies(exts: org.apache.spark.sql.SparkSessionExtensions,
                      spark: SparkSession): Seq[org.apache.spark.sql.execution.SparkStrategy] =
    exts.buildPlannerStrategies(spark)
  def applyExtensionFunctions(exts: org.apache.spark.sql.SparkSessionExtensions,
                              spark: SparkSession): Unit =
    exts.registerFunctions(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.functionRegistry)
}

/** One written file's commit stats (see [[Bridge.writeParquet]]): `file`
  * is the file's name, `lo`/`hi` hold per stats column a `Long`
  * (integral values; dates as epoch days) or a `String`, null when the
  * column has no non-null value in the file.
  */
final case class FileStats(file: String, rows: Long, lo: Seq[Any], hi: Seq[Any],
                           nonNull: Seq[Long], bucketIds: Seq[Option[Seq[Int]]])

private final case class TaskFileStats(files: Seq[FileStats])
  extends org.apache.spark.sql.execution.datasources.WriteTaskStats

/** Driver half: ships the column plan to every write task and collects
  * the committed tasks' per-file stats in `processStats`, which
  * `FileFormatWriter` calls on the driver's own instance.
  */
private final class StatsJobTracker(
    cols: Seq[(Int, org.apache.spark.sql.types.DataType)],
    buckets: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    bucketIdsMax: Int)
  extends org.apache.spark.sql.execution.datasources.WriteJobStatsTracker {
  @transient var collected: Seq[FileStats] = Nil
  override def newTaskInstance(): StatsTaskTracker =
    new StatsTaskTracker(cols, buckets, bucketIdsMax)
  override def processStats(
      stats: Seq[org.apache.spark.sql.execution.datasources.WriteTaskStats],
      jobCommitTime: Long): Unit =
    collected = stats.flatMap { case TaskFileStats(fs) => fs }
}

/** Task half: one accumulator per file the task opens. Rows arrive as
  * reused buffers, so a string bound is copied when it is taken.
  */
private final class StatsTaskTracker(
    cols: Seq[(Int, org.apache.spark.sql.types.DataType)],
    buckets: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    bucketIdsMax: Int)
  extends org.apache.spark.sql.execution.datasources.WriteTaskStatsTracker {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  private val ords = cols.map(_._1).toArray
  // 0 byte, 1 short, 2 int/date, 3 long, 4 string
  private val kinds = cols.map(_._2 match {
    case ByteType => 0
    case ShortType => 1
    case IntegerType | DateType => 2
    case LongType => 3
    case _: StringType => 4
    case other => throw new IllegalArgumentException(s"no stats kind for $other")
  }).toArray
  private val project =
    if (buckets.isEmpty) null
    else org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(buckets)

  private final class FileAcc(val path: String) {
    var rows = 0L
    val nonNull = new Array[Long](ords.length)
    val lo = new Array[Long](ords.length)
    val hi = new Array[Long](ords.length)
    val slo = new Array[UTF8String](ords.length)
    val shi = new Array[UTF8String](ords.length)
    // a set past bucketIdsMax stops growing: its cell is dropped anyway
    val ids = Array.fill(buckets.size)(scala.collection.mutable.HashSet.empty[Int])

    def add(row: InternalRow): Unit = {
      rows += 1
      var i = 0
      while (i < ords.length) {
        val o = ords(i)
        if (!row.isNullAt(o)) {
          val first = nonNull(i) == 0
          if (kinds(i) == 4) {
            val s = row.getUTF8String(o)
            if (first || s.binaryCompare(slo(i)) < 0) slo(i) = s.clone()
            if (first || s.binaryCompare(shi(i)) > 0) shi(i) = s.clone()
          } else {
            val v = kinds(i) match {
              case 0 => row.getByte(o).toLong
              case 1 => row.getShort(o).toLong
              case 2 => row.getInt(o).toLong
              case _ => row.getLong(o)
            }
            if (first || v < lo(i)) lo(i) = v
            if (first || v > hi(i)) hi(i) = v
          }
          nonNull(i) += 1
        }
        i += 1
      }
      if (project != null) {
        val b = project(row)
        var j = 0
        while (j < ids.length) {
          if (!b.isNullAt(j) && ids(j).size <= bucketIdsMax) ids(j) += b.getInt(j)
          j += 1
        }
      }
    }

    def result: FileStats = {
      def bound(i: Int, l: Array[Long], s: Array[UTF8String]): Any =
        if (nonNull(i) == 0) null
        else if (kinds(i) == 4) s(i).toString
        else l(i)
      FileStats(new org.apache.hadoop.fs.Path(path).getName, rows,
        ords.indices.map(bound(_, lo, slo)), ords.indices.map(bound(_, hi, shi)),
        nonNull.toSeq,
        ids.toSeq.map(s => if (s.isEmpty || s.size > bucketIdsMax) None
                           else Some(s.toSeq.sorted)))
    }
  }

  private val files = scala.collection.mutable.LinkedHashMap.empty[String, FileAcc]
  private var current: FileAcc = _

  override def newPartition(partitionValues: InternalRow): Unit = ()
  override def newFile(filePath: String): Unit = {
    current = new FileAcc(filePath)
    files(filePath) = current
  }
  override def closeFile(filePath: String): Unit = ()
  override def newRow(filePath: String, row: InternalRow): Unit = {
    if (current == null || current.path != filePath) current = files(filePath)
    current.add(row)
  }
  override def getFinalStats(taskCommitTime: Long)
      : org.apache.spark.sql.execution.datasources.WriteTaskStats =
    TaskFileStats(files.values.map(_.result).toSeq)
}
