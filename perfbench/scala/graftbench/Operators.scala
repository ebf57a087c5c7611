package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `operators`: graft's pipeline-operator tail, closed loop, one client.
  *
  * Each pass runs the queries through the public query surface
  * `SparkEntry.queries`, in an order permuted by the seed. A query
  * is timed as `build` (constructing the DataFrame, which includes the
  * eager checkpoints, counts and collects some operators run while
  * planning) plus `run` (the digest action).
  *
  * Admission rules (see NOTES.md): only oracle-checkable queries (the md5
  * dedup twins, not the xxhash64 flavors), and none that calls
  * `SparkEntry.materializedDir`, whose work is memoized per JVM and would
  * be timed as a warm read.
  *
  * Every build starts from a JVM that holds no cached Dataset and no
  * persisted RDD: before each query, outside the timed region, the cache
  * is cleared (as `graft.Bench` does between reps) and the RDDs earlier
  * queries left persisted (their eager checkpoints) are released. An
  * intermediate that graft memoizes per session, such as the md5
  * signature frame of `dedup_e2e_md5`, is then recomputed in every pass,
  * and memoized plan state that still pointed at a released checkpoint
  * would fail the run instead of timing a warm read.
  *
  * The first pass runs cold and is charged to set-up: it writes each
  * query's result under `<work>/verify/<query>` with `oracle_sql.json`, and
  * the digest of what it wrote becomes the query's expected digest. run.py
  * then compares those files with the DuckDB oracle outside the timed
  * region, and every timed pass must hash the same.
  */
object Operators {

  val queries: Seq[String] = Seq(
    "q_pagerank_seeded", // LinkGraph
    "q_er_scored", // EntityResolution
    "dedup_e2e_md5", // Dedup (md5 LSH bands) + Components
    "q_span_dedup", // Dedup (span-excision kernel)
    "q_lm_filter") // NgramLm

  def run(spark: SparkSession, args: Main.Args, res: Main.Result): Unit = {
    val dir = args("data")
    val verify = s"${args("work")}/verify"
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism
    val order = Main.permute(queries, args.seed)
    var tracer: Option[Tracer] = None
    def span[T](name: String)(f: => T): T = tracer.fold(f)(_.span(name)(f))

    /** Drops every cached Dataset and persisted RDD, so that the next build
      * reuses nothing an earlier one computed; fails the run if any
      * survives.
      */
    def startCold(q: String): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val left = sc.getPersistentRDDs.keys
      res.check(left.isEmpty, s"operators: $q starts with persisted RDDs ${left.mkString(",")}")
    }

    // cold pass: build each query, write its result for the oracle, and
    // take the digest of what was written as the expected digest
    val (want, coldS) = Main.seconds(order.map { q =>
      startCold(q)
      SparkEntry.queries(q)(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$verify/$q")
      q -> args.expect(Main.digest(spark.read.parquet(s"$verify/$q")))
    }.toMap)
    // SparkEntry.materializedDir stages under java.io.tmpdir as graft_<key>_*:
    // such a query would be timed as a warm read of memoized work
    val memoized = Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
      .toSeq.flatten.filter(_.startsWith("graft_"))
    res.check(memoized.isEmpty, s"operators: memoized staging ${memoized.mkString(",")}")
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
    Files.writeString(Paths.get(s"$verify/oracle_sql.json"),
      oracle.map { case (k, v) => s"${Main.q(k)}: ${Main.q(v)}" }.mkString("{", ", ", "}"))
    res.check(oracle.size == queries.size,
      s"operators: no oracle SQL for ${queries.filterNot(oracle.contains).mkString(",")}")

    /** One pass; returns per-query (build s, run s). */
    def pass(i: Int): Seq[(String, Double, Double)] = span(s"pass:$i") {
      order.map { q =>
        startCold(q)
        span(s"query:$q") {
          val (df, b) = Main.seconds(span(s"build:$q")(SparkEntry.queries(q)(spark, dir)))
          val (got, r) = Main.seconds(span(s"run:$q")(Main.digest(df)))
          res.check(got == want(q), s"operators pass $i: $q digest $got != expected ${want(q)}")
          (q, b, r)
        }
      }
    }

    // a warm pass (about 11 s on 4 cores) outlasts the measuring time, and
    // one pass takes the whole of any burst of CPU steal: the figure is the
    // median of at least two
    val minPasses = 2
    val plain = Main.loop(args.seconds * (if (args.traced) 0.5 else 1.0), minPasses)(pass)
    if (args.traced) tracer = Some(new Tracer(spark))
    val passes = if (args.traced) Main.loop(args.seconds, minPasses)(pass) else plain
    def walls(ps: Seq[Seq[(String, Double, Double)]]) = ps.map(_.map(x => x._2 + x._3).sum)

    val setupS = args.double("prep_s") + coldS
    val passS = Main.median(walls(passes))
    res.e2e("setup_s") = setupS
    res.e2e("work_s.p50") = passS
    res.e2e("work_rate_per_s") = Main.median(walls(passes).map(queries.size / _))
    res.summary("setup_s") = setupS
    res.summary("tail.pass_s.p50") = passS
    res.summary("tail.cold_pass_s") = coldS
    res.summary("passes") = passes.size.toDouble

    tracer.foreach { t =>
      t.close()
      val spans = t.spans
      val passSpans = spans.filter(_.name.startsWith("pass:"))
      val n = passSpans.size.toDouble
      val ids = t.subtree(passSpans)
      // the timed regions are the queries: a pass also holds the untimed
      // cache drops between them
      res.layers ++= t.execMetrics((s, _) => ids(s), spans.filter(_.name.startsWith("query:")), cores, n)
      def jobsOf(prefix: String) = t.jobsIn(spans.filter(_.name.startsWith(prefix)).map(_.id).toSet) / n
      res.layers("operators.build_s") = Main.median(passes.map(_.map(_._2).sum))
      res.layers("operators.build_jobs") = jobsOf("build:")
      res.layers("operators.run_s") = Main.median(passes.map(_.map(_._3).sum))
      queries.foreach { q =>
        res.layers(s"operators.$q.wall_s") =
          Main.median(passes.map(_.filter(_._1 == q).map(x => x._2 + x._3).sum))
        res.layers(s"operators.$q.jobs") = t.jobsIn(t.subtree(spans.filter(_.name == s"query:$q"))) / n
      }
      res.layers("trace.listener_s") = t.listenerSeconds
      res.layers("trace.overhead_ratio") = passS / Main.median(walls(plain)) - 1
      Main.writeSpans(t, args("spans"))
    }
  }
}
