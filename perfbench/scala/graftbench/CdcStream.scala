package graftbench

import java.io.File
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.config.ConnectProps
import graft.sources.Snapshots

/** `cdc_stream`: change data capture through snapshot tables, open loop.
  *
  * A generator commits to a source snapshot table on a fixed schedule: new
  * keyed envelopes (`commitAppend`), rewrites of live keys with a new
  * generation (`commitAppend` of an existing key), merge-on-read deletes
  * (`eraseMoRCommit`) and periodic maintenance (`compactCommit`;
  * `compactSmallFilesCommit` refuses tables with pending merge-on-read
  * deletes). A `graft-snapshot` change-feed stream (`feed=true`) applies
  * the Connect chain of [[SmtChain]] and writes a replica through the
  * update-mode sink (`mergeKey=id`, `mergeSeq=_seq`, `mergeOp=_op`).
  *
  * Commits are scheduled by due time: a commit's latency runs from its
  * due time to the end of the first micro-batch whose end offset covers
  * its version, so a generator stall counts against the commits behind
  * it, and `gen.late_s.max` reports how late the generator ran. The
  * stream's warm-up (start plus the initial load) is set-up, not latency.
  *
  * After the open-loop window, large commits are drained one at a time:
  * a drain's rows over the trigger time of the batches that apply them is
  * the capacity figure. Finally the replica
  * must equal the chain applied to a model of the generator's op log,
  * with no duplicate keys.
  */
object CdcStream {

  private sealed trait Op extends Product
  private final case class Append(rows: Int) extends Op
  private case object Upsert extends Op
  private case object Erase extends Op
  private case object Compact extends Op

  private final case class Commit(op: Op, due: Double, start: Double, end: Double,
                                  version: Int, rows: Int)

  def run(spark: SparkSession, args: Main.Args, res: Main.Result): Unit = {
    val work = args("work")
    val seed = args.seed
    val initialRows = args.int("initial_rows")
    val rowsPer = args.int("rows")
    val intervalMs = args.double("interval_ms")
    val minCommits = args.int("commits")
    val drains = args.int("drains")
    val drainRows = args.int("drain_rows")
    // the first set-up also warms the JVM and Spark's code generation; the
    // median of three is a warm one
    val setups = 3
    val cores = spark.sparkContext.defaultParallelism
    import spark.implicits._

    def now(): Double = System.currentTimeMillis().toDouble
    def rowsFor(pairs: Seq[(Long, Long)]): DataFrame =
      SmtChain.envelopes(SmtChain.base(pairs.toDF("id", "g"), seed), col("id"), col("g"))

    // the model of the op log: live key -> generation
    val live = mutable.LinkedHashMap.empty[Long, Long]
    var nextId = 0L
    var tracer: Option[Tracer] = None
    def span[T](name: String)(f: => T): T = tracer.fold(f)(_.span(name)(f))

    def startStream(root: String): StreamingQuery = {
      val feed = spark.readStream.format("graft-snapshot").option("feed", "true")
        .load(s"$root/src")
      ConnectProps.compile(SmtChain.props)(feed)
        .writeStream.format("graft-snapshot").outputMode("update")
        .option("mergeKey", "id").option("mergeSeq", "_seq").option("mergeOp", "_op")
        .option("statsCols", "id")
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(Trigger.ProcessingTime(0L))
        .start(s"$root/replica")
    }

    /** Fresh tables, the initial load, and a running stream that has
      * applied it.
      */
    def setUp(i: Int): (String, StreamingQuery) = {
      val root = s"$work/cdc-$i"
      live.clear()
      val first = (0L until initialRows.toLong).map(id => (id, 0L))
      Snapshots.commitOverwrite(spark, s"$root/src", rowsFor(first))
      first.foreach { case (id, g) => live(id) = g }
      nextId = initialRows.toLong
      Snapshots.commitOverwrite(spark, s"$root/replica",
        ConnectProps.compile(SmtChain.props)(rowsFor(Nil)))
      val q = startStream(root)
      q.processAllAvailable()
      (root, q)
    }
    val ((root, query), setupS) = Main.setUp(setups) { (r: (String, StreamingQuery)) =>
      r._2.stop()
      deleteRecursively(new File(r._1))
    }(setUp)
    val src = s"$root/src"
    val replica = s"$root/replica"

    val rng = new scala.util.Random(seed)
    /** `k` live keys among the newest `4 * rowsPer`: changes cluster on
      * recent rows, as they do in a CDC feed.
      */
    def pickLive(k: Int): Seq[Long] = {
      val keys = live.keysIterator.toIndexedSeq.takeRight(4 * rowsPer)
      rng.shuffle(keys.indices.toVector).take(k).map(keys)
    }
    def commit(op: Op, due: Double): Commit = {
      val start = now()
      val (v, rows) = span(s"commit:${op.productPrefix.toLowerCase}") {
        op match {
          case Append(n) =>
            val pairs = (nextId until nextId + n).map(id => (id, 0L))
            nextId += n
            val v = Snapshots.commitAppend(spark, src, rowsFor(pairs))
            pairs.foreach { case (id, g) => live(id) = g }
            (v, n)
          case Upsert =>
            val pairs = pickLive(rowsPer).map(id => (id, live(id) + 1))
            val v = Snapshots.commitAppend(spark, src, rowsFor(pairs))
            pairs.foreach { case (id, g) => live(id) = g }
            (v, pairs.size)
          case Erase =>
            val keys = pickLive(rowsPer / 4)
            val v = Snapshots.eraseMoRCommit(spark, src, "id", keys.toDF("id"))
            keys.foreach(live.remove)
            (v, keys.size)
          case Compact =>
            (Snapshots.compactCommit(spark, src, targetFileBytes = 64L << 20), 0)
        }
      }
      Commit(op, due, start, now(), v, rows)
    }
    // the op mix is a fixed cycle, so every window commits the same mix and
    // the seed only picks the rows
    val cycle: Vector[Op] =
      Vector(Append(rowsPer), Upsert, Append(rowsPer), Erase, Append(rowsPer), Upsert,
        Append(rowsPer), Compact)

    // each commit is due at a fixed random point of its interval: arrivals
    // on an exact period lock into step with the micro-batches, and which
    // step they lock into swings the latency of a whole run
    val jitter = {
      val r = new scala.util.Random(7L)
      Vector.fill(1024)(r.nextDouble())
    }

    /** Commits on schedule for `seconds`, and at least `commits` times;
      * returns the commits in order.
      */
    def openLoop(from: Int, seconds: Double, commits: Int): Vector[Commit] = {
      val t0 = now()
      val n = math.max(commits, (seconds * 1000 / intervalMs).round.toInt)
      (0 until n).map { k =>
        val due = t0 + (k + jitter((from + k) % jitter.size)) * intervalMs
        val wait = due - now()
        if (wait > 0) Thread.sleep(wait.toLong)
        commit(cycle((from + k) % cycle.size), due)
      }.toVector
    }

    def dur(keys: String*)(p: StreamingQueryProgress): Double =
      keys.flatMap(k => Option(p.durationMs.get(k))).map(_.doubleValue).sum / 1e3
    def batchEnd(p: StreamingQueryProgress): Double =
      Instant.parse(p.timestamp).toEpochMilli.toDouble + dur("triggerExecution")(p) * 1e3
    def endVersion(p: StreamingQueryProgress): Long = {
      val e = p.sources.head.endOffset
      if (e == null) -1L
      else if (e.trim.startsWith("{")) "\"v\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(e).get.group(1).toLong - 1
      else e.trim.toLong
    }
    /** Due-to-visible latency (s) of each data commit. */
    def latencies(cs: Seq[Commit], ps: Seq[StreamingQueryProgress]): Seq[Double] = {
      val done = ps.filter(_.numInputRows >= 0).sortBy(_.batchId)
      cs.filter(_.op != Compact).flatMap { c =>
        done.find(p => endVersion(p) >= c.version).map(p => (batchEnd(p) - c.due) / 1e3)
          .orElse { res.check(ok = false, s"cdc_stream: v${c.version} never reached the replica"); None }
      }
    }

    // warm-up, not timed: one commit of each op through the running stream,
    // so that the window does not pay for compiling the paths of its first
    // upsert, erase and compaction
    cycle.distinct.foreach(op => commit(op, now()))
    query.processAllAvailable()
    val warmBatches = query.recentProgress.length

    val plain =
      if (args.traced) openLoop(0, args.seconds / 2, (minCommits + 1) / 2) else Vector.empty
    val plainN = plain.size
    if (args.traced) tracer = Some(new Tracer(spark))
    val loopStart = now()
    val commits = openLoop(plainN, args.seconds, minCommits)
    query.processAllAvailable()
    val loopEnd = now()
    val progress = query.recentProgress.toSeq.drop(warmBatches)
    val lat = latencies(commits, progress)
    val latPlain = latencies(plain, progress)

    // closed-loop drain: one large commit at a time, each applied by the
    // running stream before the next is made; a drain's rate is its rows
    // over the trigger time of the micro-batches that apply them, and the
    // figure is the median over the drains
    val drainRates = (1 to drains).map { _ =>
      val before = query.recentProgress.length
      val c = commit(Append(drainRows), now())
      query.processAllAvailable()
      val ps = query.recentProgress.toSeq.drop(before).filter(_.numInputRows > 0)
      val applied = ps.map(_.numInputRows).sum
      res.check(applied == c.rows && ps.forall(endVersion(_) <= c.version),
        s"cdc_stream drain applied $applied of ${c.rows} rows")
      c.rows / ps.map(dur("triggerExecution")).sum
    }
    val drainRate = Main.median(drainRates)
    query.stop()
    res.check(query.exception.isEmpty, s"cdc_stream stream failed: ${query.exception}")

    // the replica must equal the chain applied to the op-log model
    val model = live.toSeq.toDF("id", "g")
    val want = SmtChain.expected(SmtChain.base(model, seed), col("id"), col("g"))
    val got = Snapshots.read(spark, replica).select(want.columns.toIndexedSeq.map(col): _*)
    val (gotD, wantD) = (Main.digest(got), args.expect(Main.digest(want)))
    res.check(gotD == wantD, s"cdc_stream replica digest $gotD != model $wantD")
    val distinctKeys = got.select(countDistinct(col("id"))).head().getLong(0)
    res.check(distinctKeys == gotD._1, s"cdc_stream replica has duplicate keys: ${gotD._1} rows, $distinctKeys keys")
    res.check(lat.nonEmpty, "cdc_stream: no latency samples")

    val all = plain ++ commits
    val commitS = commits.map(c => (c.end - c.start) / 1e3)
    res.attempted += all.size
    res.e2e("setup_s") = setupS
    res.e2e("work_s.p50") = Main.median(lat)
    res.e2e("work_rate_per_s") = drainRate
    res.summary("setup_s") = setupS
    res.summary("stream.latency_s.p50") = Main.median(lat)
    res.summary("stream.latency_s.p90") = Main.quantile(lat, 0.9)
    res.summary("stream.drain_rows_per_s") = drainRate
    res.summary("table.commit_s.p50") = Main.median(commitS)
    res.summary("table.commit_s.p90") = Main.quantile(commitS, 0.9)
    res.summary("gen.offered_rows_per_s") = commits.map(_.rows).sum / (commits.size * intervalMs / 1e3)
    res.summary("commits") = commits.size.toDouble
    res.summary("gen.late_s.max") = commits.map(c => (c.start - c.due) / 1e3).max

    tracer.foreach { t =>
      t.close()
      val region = Span(0, 0, "open-loop", loopStart, loopEnd)
      val dataCommits = commits.count(_.op != Compact).toDouble
      res.layers ++= t.execMetrics((_, at) => t.within(Seq(region))(at), Seq(region), cores, dataCommits)
      def p50(op: String) =
        Main.median(commits.filter(_.op.productPrefix == op).map(c => (c.end - c.start) / 1e3))
      res.layers("snapshots.append_s.p50") = p50("Append")
      res.layers("snapshots.upsert_s.p50") = p50("Upsert")
      res.layers("snapshots.erase_s.p50") = p50("Erase")
      res.layers("snapshots.compact_s.p50") = p50("Compact")
      val entries = Snapshots.entries(spark, src)
      res.layers("snapshots.versions") = Snapshots.versions(spark, src).size
      res.layers("snapshots.live_files") = entries.size
      val dataBytes = entries.flatMap(_.size).sum.toDouble
      res.layers("snapshots.table_bytes") = dataBytes
      res.layers("snapshots.meta_bytes") = metaBytes(new File(src))
      val inWindow = progress.filter(p => batchEnd(p) >= loopStart && batchEnd(p) <= loopEnd)
      def p50s(keys: String*) = Main.median(inWindow.map(dur(keys: _*)))
      res.layers("stream.latency_s.p90") = Main.quantile(lat, 0.9)
      res.layers("stream.latest_offset_s.p50") = p50s("latestOffset", "getOffset")
      res.layers("stream.get_batch_s.p50") = p50s("getBatch")
      res.layers("stream.query_planning_s.p50") = p50s("queryPlanning")
      res.layers("stream.add_batch_s.p50") = p50s("addBatch")
      res.layers("stream.wal_commit_s.p50") = p50s("walCommit")
      res.layers("stream.commit_offsets_s.p50") = p50s("commitOffsets")
      res.layers("stream.trigger_s.p50") = p50s("triggerExecution")
      res.layers("stream.batches") = inWindow.size
      res.layers("stream.empty_batches") = inWindow.count(_.numInputRows == 0)
      res.layers("stream.rows_per_batch.p50") = Main.median(inWindow.map(_.numInputRows.toDouble))
      res.layers("stream.backlog_versions.max") =
        if (inWindow.isEmpty) 0.0
        else inWindow.map(p => endVersion(p) - Option(p.sources.head.startOffset)
          .map(s => scala.util.Try(s.trim.toLong).getOrElse(0L)).getOrElse(0L)).max.toDouble
      res.layers("gen.late_s.max") = res.summary("gen.late_s.max")
      res.layers("trace.listener_s") = t.listenerSeconds
      res.layers("trace.overhead_ratio") =
        if (latPlain.isEmpty) 0.0 else Main.median(lat) / Main.median(latPlain) - 1
      inWindow.foreach(p => t.addSpan(s"batch:${p.batchId}",
        batchEnd(p) - dur("triggerExecution")(p) * 1e3, batchEnd(p)))
      Main.writeSpans(t, args("spans"))
    }
  }

  /** Bytes of the table's metadata: everything under the root that is not
    * a live or retired parquet data file.
    */
  private def metaBytes(dir: File): Double = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(dir).filterNot(_.getName.endsWith(".parquet")).map(_.length).sum.toDouble
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }
}
