package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.config.ConnectProps

/** `smt_chain`: the Kafka Connect SMT surface, closed loop, one client.
  *
  * Set-up generates a seeded batch of Kafka-style envelopes (struct `key`,
  * nested struct `value`, a JSON-string `props`, a map `attrs`, headers)
  * and pins it in memory. Each timed pass compiles the Connect property
  * chain (`ConnectProps.compile`), applies it, and materializes the output
  * digest. The chain:
  *
  *  1. `DropField$Value` on the nested path `user.email`;
  *  2. `ExtendedHoistField$Value` into `payload`, keeping `amount` and
  *     `meta` at the root;
  *  3. `DropField` on the schemaless JSON column `props` (`trace`);
  *  4. `StructuredSchemalessToJsonString` on the map column `attrs`.
  *
  * The expected digest is built from the generator's columns with plain
  * Spark expressions (no graft code), once per run, outside the timed loop;
  * every pass must reproduce it.
  */
object SmtChain {

  val props: Map[String, String] = Map(
    "transforms" -> "dropEmail,hoist,dropTrace,attrsJson",
    "transforms.dropEmail.type" -> "DropField$Value",
    "transforms.dropEmail.fields" -> "user.email",
    "transforms.hoist.type" -> "ExtendedHoistField$Value",
    "transforms.hoist.field" -> "payload",
    "transforms.hoist.keepInRootFieldNames" -> "amount,meta",
    "transforms.dropTrace.type" -> "DropField",
    "transforms.dropTrace.column" -> "props",
    "transforms.dropTrace.fields" -> "trace",
    "transforms.attrsJson.type" -> "StructuredSchemalessToJsonString",
    "transforms.attrsJson.column" -> "attrs")

  /** A seeded pseudo-random non-negative value below `mod`, a pure function
    * of (row id, seed, salt): independent of partitioning and task order.
    */
  private def h(seed: Long, salt: Int, mod: Long): Column =
    pmod(xxhash64(col("id"), col("g"), lit(seed), lit(salt)), lit(mod))

  /** The generator's primitive columns for each (`id`, `g`) row of `ids`,
    * shared by the input envelope and the expected output; `g` is the
    * row's generation (the cdc workload rewrites a key with a new one).
    */
  def base(ids: DataFrame, seed: Long): DataFrame =
    ids.select(
      col("id"), col("g"),
      concat(lit("orders-"), h(seed, 1, 4)).as("topic"),
      h(seed, 2, 16).cast("int").as("partition"),
      concat(lit("r"), h(seed, 3, 8)).as("region"),
      concat(lit("user"), h(seed, 4, 100000)).as("name"),
      concat(lit("u"), h(seed, 4, 100000), lit("@example.com")).as("email"),
      h(seed, 5, 90).cast("int").as("age"),
      h(seed, 6, 1000000).as("amount"),
      concat(lit("svc-"), h(seed, 7, 10)).as("src"),
      h(seed, 8, 5).cast("int").as("ver"),
      concat(lit("t"), h(seed, 9, 20)).as("tag1"),
      concat(lit("t"), h(seed, 10, 20)).as("tag2"),
      h(seed, 11, 100).as("k"),
      hex(xxhash64(col("id"), col("g"), lit(seed), lit(12))).as("trace"),
      concat(lit("n"), h(seed, 13, 50)).as("note"),
      concat(lit("x"), h(seed, 14, 10)).as("a"),
      concat(lit("y"), h(seed, 15, 10)).as("b"),
      (lit(1700000000000L) + col("id") * 7).as("ts"),
      concat(lit("v"), h(seed, 16, 3)).cast("binary").as("hv"))

  def headers: Column = array(struct(lit("trace").as("key"), col("hv").as("value")))

  /** Envelopes for the rows of `b`, after the `lead` columns. */
  def envelopes(b: DataFrame, lead: Column*): DataFrame = b.select(lead ++ Seq(
    col("topic"), col("partition"),
    struct(col("id"), col("region")).as("key"),
    struct(
      struct(col("name"), col("email"), col("age")).as("user"),
      col("amount"),
      struct(col("src"), col("ver")).as("meta"),
      array(col("tag1"), col("tag2")).as("tags")).as("value"),
    concat(lit("{\"k\":"), col("k"), lit(",\"trace\":\""), col("trace"),
      lit("\",\"note\":\""), col("note"), lit("\"}")).as("props"),
    map(lit("a"), col("a"), lit("b"), col("b")).as("attrs"),
    col("ts").as("timestamp"),
    headers.as("headers")): _*)

  /** What the chain must produce, from the generator's columns alone. */
  def expected(b: DataFrame, lead: Column*): DataFrame = b.select(lead ++ Seq(
    col("topic"), col("partition"),
    struct(col("id"), col("region")).as("key"),
    struct(
      col("amount"),
      struct(col("src"), col("ver")).as("meta"),
      struct(
        struct(col("name"), col("age")).as("user"),
        array(col("tag1"), col("tag2")).as("tags")).as("payload")).as("value"),
    concat(lit("{\"k\":"), col("k"), lit(",\"note\":\""), col("note"), lit("\"}")).as("props"),
    concat(lit("{\"a\":\""), col("a"), lit("\",\"b\":\""), col("b"), lit("\"}")).as("attrs"),
    col("ts").as("timestamp"),
    headers.as("headers")): _*)

  def run(spark: SparkSession, args: Main.Args, res: Main.Result): Unit = {
    val n = args.int("records").toLong
    val cores = spark.sparkContext.defaultParallelism
    def ids(k: Long) = spark.range(0, k, 1, cores).withColumn("g", lit(0L))
    val (input, setupS) = Main.setUp(3)((df: DataFrame) => df.unpersist(true)) { _ =>
      val df = envelopes(base(ids(n), args.seed)).persist(StorageLevel.MEMORY_ONLY)
      require(df.count() == n)
      df
    }
    val want = args.expect(Main.digest(expected(base(ids(n), args.seed))))

    var tracer: Option[Tracer] = None
    def span[T](name: String)(f: => T): T = tracer.fold(f)(_.span(name)(f))

    /** One pass; returns (compile s, apply s, wall s). */
    def pass(i: Int): (Double, Double, Double) = {
      val t = System.nanoTime()
      val (out, compileS, applyS) = span(s"pass:$i") {
        val (chain, c) = Main.seconds(span("config")(ConnectProps.compile(props)))
        val (o, a) = Main.seconds(span("transforms")(chain(input)))
        val got = span("run")(Main.digest(o))
        res.check(got == want, s"smt_chain pass $i digest $got != expected $want")
        (o, c, a)
      }
      if (i == 0) {
        val e = expected(base(ids(1), args.seed)).schema
        res.check(out.schema.map(_.dataType.simpleString) == e.map(_.dataType.simpleString),
          s"smt_chain output schema ${out.schema.simpleString} != ${e.simpleString}")
      }
      (compileS, applyS, (System.nanoTime() - t) / 1e9)
    }

    pass(0) // warm-up: JIT and codegen caches, checked but not timed
    val plain = Main.loop(args.seconds * (if (args.traced) 0.5 else 1.0))(pass)
    if (args.traced) tracer = Some(new Tracer(spark))
    val passes = if (args.traced) Main.loop(args.seconds)(pass) else plain
    val walls = passes.map(_._3)

    res.e2e("setup_s") = setupS
    res.e2e("work_s.p50") = Main.median(walls)
    res.e2e("work_rate_per_s") = Main.median(walls.map(n / _))
    res.summary("setup_s") = setupS
    res.summary("smt.records_per_s") = res.e2e("work_rate_per_s")
    res.summary("smt.pass_s.p50") = res.e2e("work_s.p50")
    res.summary("smt.records") = n.toDouble
    res.summary("passes") = walls.size.toDouble

    tracer.foreach { t =>
      t.close()
      val passSpans = t.spans.filter(s => s.name.startsWith("pass:") && s.name != "pass:0")
      val ids = t.subtree(passSpans)
      res.layers("config.compile_s") = Main.median(passes.map(_._1))
      res.layers("transforms.apply_s") = Main.median(passes.map(_._2))
      res.layers ++= t.execMetrics((s, _) => ids(s), passSpans, cores, passSpans.size)
      res.layers("trace.listener_s") = t.listenerSeconds
      res.layers("trace.overhead_ratio") = Main.median(walls) / Main.median(plain.map(_._3)) - 1
      Main.writeSpans(t, args("spans"))
    }
    input.unpersist(true)
  }
}
