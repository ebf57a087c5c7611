package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark JVM entry point. `perfbench/run.py` builds this classpath and
  * launches one JVM per run:
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --work <dir> --out <result.json> [--key value ...]
  * }}}
  *
  * The JVM runs the workload against graft's public entry points, checks
  * every output it times, and writes one JSON result object to `--out`:
  * correctness, attempted/failed counts, the end-to-end metrics, the
  * summary under each workload's own figure names, and (traced) the
  * per-layer metrics and span file.
  */
object Main {

  /** One run's outcome, filled in by a workload. */
  final class Result {
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer.empty[String]
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val summary = mutable.LinkedHashMap.empty[String, Double]
    val layers = mutable.LinkedHashMap.empty[String, Double]

    def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; errors += what }
    }
  }

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def double(k: String): Double = apply(k).toDouble
    def seed: Long = apply("seed").toLong
    def seconds: Double = apply("seconds").toDouble
    def traced: Boolean = apply("trace") == "1"
    /** The expected digest, deliberately corrupted under `--inject digest`
      * (the self-check's proof that a wrong output fails the run).
      */
    def expect(d: (Long, Long)): (Long, Long) =
      if (m.get("inject").contains("digest")) (d._1, d._2 ^ 1L) else d
  }

  def main(argv: Array[String]): Unit = {
    val args = Args(argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val cores = Runtime.getRuntime.availableProcessors()
    val work = args("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val res = new Result
    try {
      args("workload") match {
        case "smt_chain" => SmtChain.run(spark, args, res)
        case "operators" => Operators.run(spark, args, res)
        case "cdc_stream" => CdcStream.run(spark, args, res)
        case other => sys.error(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        res.attempted += 1
        res.failed += 1
        res.errors += s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"
          .linesIterator.take(3).mkString(" | ").take(600)
        e.printStackTrace()
    }
    if (args.traced) res.layers("jvm.peak_heap_mb") = Tracer.peakHeapMb
    Files.writeString(Paths.get(args("out")), toJson(res))
    spark.stop()
  }

  // ------------------------------------------------------------ helpers

  /** Order-independent, overflow-safe content digest: row count plus the
    * XOR of one 64-bit hash per row (no SUM, so ANSI mode cannot trip).
    */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.select(count(lit(1)),
      coalesce(bit_xor(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  def seconds[T](f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** Linear-interpolated quantile (the `statistics.quantiles` inclusive rule). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Runs `unit(i)` for i = 1, 2, ... until `seconds` have passed and at
    * least `minUnits` ran, and returns the results in order.
    */
  def loop[T](seconds: Double, minUnits: Int = 1)(unit: Int => T): Vector[T] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val out = Vector.newBuilder[T]
    var i = 1
    var more = true
    while (more) {
      out += unit(i)
      i += 1
      more = i <= minUnits || System.nanoTime() < deadline
    }
    out.result()
  }

  /** Deterministic permutation of `xs` by `seed`. */
  def permute[T](xs: Seq[T], seed: Long): Seq[T] = new scala.util.Random(seed).shuffle(xs)

  /** Repeat a set-up `n` times (`f(1)` ... `f(n)`; the last result is kept)
    * and return the median set-up time: one slow set-up does not move the
    * figure.
    */
  def setUp[T](n: Int)(teardown: T => Unit)(f: Int => T): (T, Double) = {
    val runs = (1 to n).map { i =>
      val (v, s) = seconds(f(i))
      if (i < n) teardown(v)
      (v, s)
    }
    (runs.last._1, median(runs.map(_._2)))
  }

  /** Writes the span tree and each span name's self time (its wall time
    * minus its children's), the per-layer self-time view of the run.
    */
  def writeSpans(t: Tracer, path: String): Unit = {
    val spans = t.spans
    val childTime = spans.groupBy(_.parent).map { case (p, ks) => p -> ks.map(s => s.end - s.start).sum }
    val self = spans.groupBy(s => s.name.takeWhile(_ != ':'))
      .map { case (n, ss) => n -> ss.map(s => (s.end - s.start) - childTime.getOrElse(s.id, 0.0)).sum / 1e3 }
    val sb = new StringBuilder("{\"self_s\": ")
    sb ++= self.toSeq.sortBy(_._1).map { case (n, v) => s"${q(n)}: $v" }.mkString("{", ", ", "}")
    sb ++= ",\n\"spans\": [\n"
    sb ++= spans.map(s => s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${q(s.name)}, "start_ms": ${s.start}, "end_ms": ${s.end}}""").mkString(",\n")
    sb ++= "]}\n"
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), sb.toString)
  }

  def q(s: String): String = graft.Verify.jsonQuote(s)

  private def obj(m: collection.Map[String, Double]): String =
    m.map { case (k, v) => s"${q(k)}: ${if (v.isNaN || v.isInfinite) "null" else v.toString}" }
      .mkString("{", ", ", "}")

  def toJson(r: Result): String =
    s"""{"attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""errors": ${r.errors.map(q).mkString("[", ", ", "]")}, """ +
      s""""e2e": ${obj(r.e2e)}, "summary": ${obj(r.summary)}, "layers": ${obj(r.layers)}}"""
}
