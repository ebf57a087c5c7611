package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, concat, date_add, lit, udf}
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** The per-file stats a commit's write tasks gather ([[Snapshots.stage]])
  * must render the same manifest bytes as the grouped re-read pass they
  * replaced ([[StatsPassOracle]]), on the same staged files.
  */
class StagedStatsParitySpec extends SparkTestBase {

  // failing-assert messages stay ASCII: the JUnit XML report cannot
  // encode a lone surrogate, and a failed encode aborts the whole run
  private def esc(s: String): String = s.flatMap { c =>
    if ((c >= 0x20 && c < 0x7f) || c == '\n' || c == '\t') c.toString
    else f"\\u${c.toInt}%04x"
  }

  /** One partition — so at most one staged file — per group. */
  private def files(schema: StructType, groups: Seq[Row]*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(groups.map(_.toVector), groups.size)
        .flatMap(identity), schema)

  private def staged(df: DataFrame, statsCols: Seq[String],
                     bucketCols: Map[String, Int] = Map.empty): Seq[String] = {
    val table = Files.createTempDirectory("graft_stats_parity").toString
    val got = Snapshots.stage(spark, table, df, statsCols, bucketCols)
    val want = StatsPassOracle.lines(spark, table, got, statsCols, bucketCols)
    assert(got == want, esc(
      s"in-write stats:\n${got.mkString("\n")}\ngrouped pass:\n${want.mkString("\n")}"))
    got
  }

  private def cells(line: String): Seq[String] = line.split('\t').toSeq.drop(2)

  test("integral columns of every width, several stats columns at once") {
    val schema = StructType(Seq(StructField("b", ByteType), StructField("s", ShortType),
      StructField("i", IntegerType), StructField("l", LongType)))
    val got = staged(files(schema,
      Seq(Row(Byte.MinValue, 3.toShort, -7, Long.MinValue), Row(5.toByte, Short.MaxValue, 0, 12L)),
      Seq(Row(Byte.MaxValue, Short.MinValue, Int.MaxValue, Long.MaxValue), Row(null, null, null, null)),
      Seq(Row(0.toByte, 0.toShort, Int.MinValue, -1L))), Seq("b", "s", "i", "l"))
    assert(got.size == 3)
    assert(got.forall(l => Seq("b", "s", "i", "l").forall(c => cells(l).exists(_.startsWith(s"$c=long:")))))
    assert(got.exists(l => cells(l).contains("b=long:-128:5") &&
      cells(l).contains("l=long:-9223372036854775808:12")), got.mkString("\n"))
  }

  test("strings: multi-byte, past the truncation length, an upper bound that cannot be bumped") {
    val schema = StructType(Seq(StructField("k", IntegerType), StructField("s", StringType)))
    val longSplit = "x" * 63 + "\uD83D\uDE00" + "yyy" // a surrogate pair across char 64
    val got = staged(files(schema,
      // UTF-8 order puts U+1F600 above U+FFFD; UTF-16 order would not
      Seq(Row(1, "\u00E9"), Row(2, "\u4E2D\u6587"), Row(3, "\uD83D\uDE00"), Row(4, "\uFFFD"), Row(5, "a")),
      Seq(Row(6, longSplit), Row(7, "a" * 70), Row(8, "b" * 64)),
      Seq(Row(9, "\uFFFF" * 70), Row(10, "\uFFFF" * 65))), Seq("s", "k"))
    assert(got.size == 3)
    assert(!cells(got(2)).exists(_.startsWith("s=")),
      esc(s"an un-bumpable upper bound drops the cell: ${got(2)}"))
    assert(got.take(2).forall(l => cells(l).exists(_.startsWith("s=string:"))), esc(got.mkString("\n")))
  }

  test("dates, and a column that is all NULL in one file") {
    val schema = StructType(Seq(StructField("d", DateType), StructField("v", LongType)))
    def d(s: String) = java.sql.Date.valueOf(s)
    val got = staged(files(schema,
      Seq(Row(d("1900-01-01"), null), Row(d("1969-12-31"), null), Row(null, null)),
      Seq(Row(d("1970-01-01"), 4L), Row(d("2038-01-20"), 9L), Row(d("9999-12-31"), null))),
      Seq("d", "v"))
    assert(cells(got.head).contains("d=date:-25567:-1"), got.head)
    assert(!cells(got.head).exists(_.startsWith("v=")) && cells(got.head).contains("!v=3"), got.head)
    assert(cells(got(1)).contains("!v=1"), got(1))
  }

  test("empty partitions and zero-row files") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("s", StringType)))
    // partition 0 empty: its task still writes a (zero-row) file; the
    // other empty partitions write none
    val got = staged(files(schema, Seq(), Seq(Row(1L, "a")), Seq(), Seq(Row(2L, null), Row(3L, "c"))),
      Seq("k", "s"), Map("k" -> 4))
    assert(got.size == 3, got.mkString("\n"))
    val zero = got.filter(l => cells(l).contains("rc=0"))
    assert(zero.size == 1 && cells(zero.head) == Seq("rc=0", "!k=0", "!s=0"), got.mkString("\n"))
    val none = staged(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema),
      Seq("k", "s"), Map("s" -> 8))
    assert(none.size == 1 && cells(none.head) == Seq("rc=0", "!k=0", "!s=0"), none.mkString("\n"))
  }

  test("a column literally named user.id, with stats and bucket cells") {
    val schema = StructType(Seq(StructField("user.id", LongType), StructField("user", StringType)))
    val got = staged(files(schema,
      Seq(Row(7L, "a"), Row(8L, "b")), Seq(Row(-3L, null), Row(null, "z"))),
      Seq("user.id", "user"), Map("user.id" -> 16))
    assert(got.forall(l => cells(l).exists(_.startsWith("user.id=long:")) &&
      cells(l).exists(_.startsWith("~user.id=16:"))), got.mkString("\n"))
  }

  test("bucketCols with at most 16 and with more than 16 distinct ids per file") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("t", StringType)))
    val got = staged(files(schema,
      Seq(Row(1L, "p"), Row(2L, "q"), Row(2L, "q"), Row(null, null)),
      (0L until 300L).map(i => Row(i, s"t$i"))),
      Seq("k"), Map("k" -> 64, "t" -> 1000))
    assert(cells(got.head).exists(_.startsWith("~k=64:")) &&
      cells(got.head).exists(_.startsWith("~t=1000:")), got.head)
    assert(!cells(got(1)).exists(_.startsWith("~")), got(1))
  }

  test("a retried write task reports only its committed attempt (local[4,2], fresh JVM)") {
    val work = Files.createTempDirectory("graft_stats_retry")
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.toSeq.filter(a => a.startsWith("--add-opens") || a.startsWith("-Dspark."))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ jvm ++
      Seq("-cp", System.getProperty("java.class.path"),
        "graft.sources.StagedStatsRetryMain", work.toString)
    val log = work.resolve("child.log").toFile
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log).start()
    val finished = p.waitFor(300, TimeUnit.SECONDS)
    if (!finished) p.destroyForcibly()
    def read(name: String): Seq[String] =
      Files.readAllLines(work.resolve(name), UTF_8).asScala.toSeq
    assert(finished && p.exitValue() == 0,
      esc(Files.readAllLines(log.toPath, UTF_8).asScala.takeRight(40).mkString("\n")))
    assert(read("failed.txt") == Seq("1"), "exactly one write-task attempt must fail")
    val (injected, clean, oracle) = (read("injected.txt"), read("clean.txt"), read("oracle.txt"))
    assert(injected.size == 4 && injected.forall(l => cells(l).contains("rc=100")),
      injected.mkString("\n"))
    assert(injected == oracle, s"${injected.mkString("\n")}\nvs grouped pass\n${oracle.mkString("\n")}")
    assert(injected == clean, s"${injected.mkString("\n")}\nvs no failure\n${clean.mkString("\n")}")
  }
}

/** The retry half of [[StagedStatsParitySpec]], run in its own JVM: a
  * `local[N,2]` master (one retry per task) cannot share the test JVM's
  * `local[4]` context. Stages the same 4-file frame twice — once with
  * attempt 0 of write task 1 failing after 50 of its 100 rows — and
  * writes both manifests (file paths cut to their `part-NNNNN` index),
  * the grouped pass over the failed-then-retried files and the count of
  * failed task attempts under `args(0)`.
  */
object StagedStatsRetryMain {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = SparkSession.builder().master("local[4,2]").appName("graft-stats-retry")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val failed = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskInfo.failed) failed.incrementAndGet()
    })
    val statsCols = Seq("id", "s", "d")
    val buckets = Map("id" -> 8, "s" -> 64)
    def frame(inject: Boolean): DataFrame = {
      val boom = udf { (v: Long) =>
        val tc = TaskContext.get()
        if (inject && tc.partitionId() == 1 && tc.attemptNumber() == 0 && v == 150L)
          throw new IllegalStateException("injected write-task failure")
        v
      }
      spark.range(0, 400, 1, 4).select(boom(col("id")).as("id"),
        concat(lit("s\u00E9"), (col("id") * 7 % 101).cast("string")).as("s"),
        date_add(lit(java.sql.Date.valueOf("2024-01-01")), (col("id") % 50).cast("int")).as("d"))
    }
    def stage(inject: Boolean, table: String): Seq[String] =
      Snapshots.stage(spark, table, frame(inject), statsCols, buckets)
    def cut(lines: Seq[String]): Seq[String] = lines.map(
      _.replaceFirst("^[^\t]*/(part-\\d{5})[^\t]*", "$1"))
    def write(name: String, lines: Seq[String]): JPath =
      Files.write(java.nio.file.Paths.get(work, name), lines.asJava, UTF_8)
    val injectedTable = s"$work/injected"
    val injected = stage(inject = true, injectedTable)
    write("failed.txt", Seq(failed.get.toString))
    write("injected.txt", cut(injected))
    write("oracle.txt", cut(StatsPassOracle.lines(spark, injectedTable, injected, statsCols, buckets)))
    write("clean.txt", cut(stage(inject = false, s"$work/clean")))
    spark.stop()
  }
}
