package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** Recall/latency/footprint table for the ANN tier (r11) — the
  * which-method-when evidence the near-dup tier already has (SURVEY.md,
  * round-10 near-dup method-choice table): every ANN method searches the SAME corpus with the
  * SAME queries, scored as recall@k against the exact ground truth of
  * ITS OWN metric — LSH/IVF rank by cosine, the PQ tiers by L2 ADC, so
  * each is compared to exact cosine / exact L2 respectively (mixing
  * metrics would fold metric disagreement into what should measure
  * quantization + probing loss only).
  *
  * Exact ground truths are computed probe-locally with a broadcast
  * query side + per-query window (queries × corpus rows — bounded by the
  * query count, fine at probe scale; the ENGINE path for brute search is
  * `bruteForceTopK`, which this reuses for cosine).
  *
  * Per-method bytes/vector is analytic (what a 100 TB store must hold
  * per corpus row for searching): brute/LSH/IVF keep the raw float32
  * vector (LSH adds a bucket int, IVF a cell int); PQ-flat keeps only
  * the m-byte code; IVF-PQ the cell + code.
  *
  * Usage: {{{ sbt 'runMain graft.tools.AnnRecallProbe <sfDir> [reps] [k] [nq]' }}}
  */
object AnnRecallProbe {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val nq = args.lift(3).map(_.toInt).getOrElse(50)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).cache()
    val nCorpus = e.count()
    val q = e.filter(col("vec_id") < nq)
    val dim = Similarity.vecDim(e, "embedding")

    // exact L2 ground truth (probe-local; cosine GT is the engine's brute)
    val l2 = aggregate(zip_with(col("__qv"), col("__cv"),
      (a, b) => (a - b) * (a - b)), lit(0.0d), (acc, x) => acc + x)
    val gtL2 = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("__cv"))
      .crossJoin(broadcast(q.select(col("vec_id").as("query_id"),
        col("embedding").as("__qv"))))
      .select(col("query_id"), col("neighbor_id"), l2.as("d"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("d").asc, col("neighbor_id"))))
      .filter(col("rank") <= k).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gtCos = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    def recall(df: DataFrame, gt: Set[(Long, Long)]): Double = {
      val got = df.select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(gt).size.toDouble / gt.size
    }

    def time(run: () => Unit): Double = {
      run() // warmup
      (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e9
      }.min
    }

    val centroids = Similarity.trainIvfCentroids(e, "embedding", 16)
    val codebooks = Similarity.pqTrainCodebooks(e, "embedding", 8, 16)
    // the two standard remedies for ADC quantization loss, composed from
    // the same engine ops: a byte-wide codebook (ksub=256 — same 8 B/vec
    // code, 16x finer subspace grid) and retrieve-then-rerank (ADC
    // shortlist of 100/query, exact L2 on the shortlist only — the shape
    // every production PQ deployment runs; shortlist size is the knob
    // trading rerank cost for recall)
    val codebooks256 = Similarity.pqTrainCodebooks(e, "embedding", 8, 256)
    def rerank(shortlist: DataFrame): DataFrame =
      shortlist.join(e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("__cv")), "neighbor_id")
        .join(broadcast(q.select(col("vec_id").as("query_id"),
          col("embedding").as("__qv"))), "query_id")
        .select(col("query_id"), col("neighbor_id"), l2.as("d"))
        .withColumn("rank", row_number().over(
          Window.partitionBy("query_id").orderBy(col("d").asc, col("neighbor_id"))))
        .filter(col("rank") <= k)
    val rawB = dim * 4
    val methods: Seq[(String, () => DataFrame, Set[(Long, Long)], Int)] = Seq(
      ("brute cosine", () =>
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k), gtCos, rawB),
      ("lsh planes=8", () =>
        Similarity.lshTopK(e, q, "vec_id", "embedding", k), gtCos, rawB + 4),
      ("ivf 16/3", () =>
        Similarity.ivfTopKWith(e, q, "vec_id", "embedding", k, centroids, 3),
        gtCos, rawB + 4),
      ("ivf 16/6", () =>
        Similarity.ivfTopKWith(e, q, "vec_id", "embedding", k, centroids, 6),
        gtCos, rawB + 4),
      ("pq-flat m=8", () =>
        Similarity.pqTopKWith(e, q, "vec_id", "embedding", k, codebooks),
        gtL2, 8),
      ("ivfpq 16/3", () =>
        Similarity.ivfPqTopKWith(e, q, "vec_id", "embedding", k, centroids,
          codebooks, 3), gtL2, 12),
      ("ivfpq 16/6", () =>
        Similarity.ivfPqTopKWith(e, q, "vec_id", "embedding", k, centroids,
          codebooks, 6), gtL2, 12),
      ("pq-flat ksub=256", () =>
        Similarity.pqTopKWith(e, q, "vec_id", "embedding", k, codebooks256),
        gtL2, 8),
      ("ivfpq 16/6 k256", () =>
        Similarity.ivfPqTopKWith(e, q, "vec_id", "embedding", k, centroids,
          codebooks256, 6), gtL2, 12),
      ("pq256+rerank100", () =>
        rerank(Similarity.pqTopKWith(e, q, "vec_id", "embedding",
          100, codebooks256)), gtL2, 8))

    println(s"[annrecall] corpus=$nCorpus dim=$dim queries=$nq k=$k dir=$dir")
    println("[annrecall] | method | recall@k | warm min s | bytes/vec |")
    methods.foreach { case (name, mk, gt, bytes) =>
      val r = recall(mk(), gt)
      val t = time(() =>
        mk().write.mode("overwrite").format("noop").save())
      println(f"[annrecall] | $name | $r%.3f | $t%.2f | $bytes%d |")
    }
    spark.stop()
  }
}
