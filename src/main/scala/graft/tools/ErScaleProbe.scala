package graft.tools

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{EntityResolution, Phonetic}

/** Measures entity-resolution BLOCKING at name-universe scales the
  * fixture cannot reach (q_er_scored's 240 names are SF-invariant by
  * construction; a real corpus has 10⁵+ distinct names): synthesizes
  * n names with the phoneticNames mutation structure over an n/3
  * entity space (base `nm` + 5 letters of the entity id, mutation ∈
  * {identity, doubled char at p, 'ey' tail}), then measures the two
  * blocking channels' volumes and the end-to-end candidatePairs cost
  * on both of its paths:
  *
  *   - phonetic bucket histogram (max/p99/avg bucket size): the
  *     phonetic pass is bucket-quadratic, so this is where a scale
  *     cliff would live;
  *   - candidate pair count, and the wall seconds of the full two-pass
  *     [[EntityResolution.candidatePairs]] on the distributed passes
  *     (bound 0) and on the driver path (bound = the universe), with
  *     the heap pools' peak during the driver run (garbage included, so
  *     an upper bound on what the path retains). The two paths must
  *     count the same pairs.
  *
  * The names are checkpointed first, so both paths read the same
  * materialized input. The driver heap is the JVM's `-Xmx` (the sbt
  * fork takes it from `SPARK_DRIVER_MEM`); run once per heap size:
  *
  * {{{ SPARK_DRIVER_MEM=1g sbt 'runMain graft.tools.ErScaleProbe [n ...]' }}}
  *
  * `n` defaults to 10000 and 100000 synthesized names (about 5.4k and
  * 55k distinct).
  *
  * Deterministic (name synthesis is pure id arithmetic); times vary
  * per host, counts re-derive exactly.
  */
object ErScaleProbe {

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)

    println(f"max heap ${Runtime.getRuntime.maxMemory / 1048576}%d MiB")
    println(f"${"shape"}%8s ${"n_names"}%8s ${"n_entities"}%10s " +
      f"${"del_keys"}%9s ${"max_bucket"}%10s ${"p99_bucket"}%10s " +
      f"${"avg_bucket"}%10s ${"n_pairs"}%10s ${"dist_s"}%8s ${"local_s"}%8s " +
      f"${"peak_mib"}%8s")

    def names(n: Long, shape: String) = {
      val ents = n / 3
      val e = col("id") % ents
      // dense: a 10-letter alphabet over near-identical structure — the
      // self-similar worst case (true pair count itself grows fast).
      // diverse: base-26 entity letters — the realistic regime where
      // sound classes and segments actually discriminate.
      val b =
        if (shape == "dense") concat(lit("nm"),
          translate(lpad(e.cast("string"), 5, "0"),
            "0123456789", "abcdefghij"))
        else concat(lit("nm"),
          expr(s"char(97 + (id % $ents) div 17576 % 26)"),
          expr(s"char(97 + (id % $ents) div 676 % 26)"),
          expr(s"char(97 + (id % $ents) div 26 % 26)"),
          expr(s"char(97 + (id % $ents) % 26)"))
      spark.range(0, n)
        .select(col("id"),
          b.as("b"),
          (lit(1) + col("id") % 4).cast("int").as("p"),
          (col("id") % 3).cast("int").as("m"))
        .select(
          when(col("m") === 0, col("b"))
            .when(col("m") === 1,
              concat(expr("substring(b, 1, p)"), expr("substring(b, p)")))
            .otherwise(concat(col("b"), lit("ey"))).as("name"))
        .distinct()
        .localCheckpoint(true)
    }

    /** Wall seconds and pair count of one candidatePairs run. */
    def timed(df: org.apache.spark.sql.DataFrame, bound: Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = EntityResolution.candidatePairs(df, "name", 1, 2, bound).count()
      ((System.nanoTime() - t0) / 1e9, n)
    }

    // warm both paths up once at a small size
    val warm = names(2000L, "diverse")
    timed(warm, 0L)
    timed(warm, Long.MaxValue)

    val sizes = if (args.nonEmpty) args.map(_.toLong).toSeq else Seq(10000L, 100000L)
    for (n <- sizes; shape <- Seq("dense", "diverse")) {
      val ns = names(n, shape)
      val nNames = ns.count()
      // the fuzzy channel's blocking volume: a d=1 deletion neighborhood
      // emits len+1 keys per distinct string (the string + each
      // single-deletion variant)
      val nDelKeys = ns.agg(sum(length(col("name")) + 1)).head().getLong(0)
      val buckets = ns.select(Phonetic.key(col("name")).as("k"))
        .groupBy("k").count().select(col("count").as("c"))
      val stats = buckets.agg(
        max(col("c")).as("mx"),
        expr("percentile(c, 0.99)").as("p99"),
        avg(col("c")).as("av")).head()
      val (distSecs, distPairs) = timed(ns, 0L)
      System.gc()
      heapPools.foreach(_.resetPeakUsage())
      // a driver path that outgrows the heap reads "oom"; the probe
      // goes on with the next size
      val local =
        try {
          val (secs, pairs) = timed(ns, nNames)
          require(pairs == distPairs,
            s"$shape/$n: driver path $pairs pairs, distributed $distPairs")
          f"$secs%8.2f"
        } catch { case _: OutOfMemoryError => f"${"oom"}%8s" }
      val peak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576
      println(f"$shape%8s $nNames%8d ${n / 3}%10d $nDelKeys%9d " +
        f"${stats.getLong(0)}%10d ${stats.getDouble(1)}%10.1f " +
        f"${stats.getDouble(2)}%10.1f $distPairs%10d $distSecs%8.2f $local " +
        f"$peak%8d")
    }
    spark.stop()
  }
}
