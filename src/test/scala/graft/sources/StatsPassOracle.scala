package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import Snapshots.{BucketStat, ColStat}

/** The grouped re-read formulation of a staged commit's per-file stats:
  * re-read the just-staged files, `groupBy(input_file_name)` with one
  * (min, max, count) per stats column, one `collect_set` of bucket ids
  * per bucket column and a row count, then attach each group to its
  * file by name. It was the production path before the write tasks
  * gathered the stats themselves ([[Snapshots.stage]]) and is kept as
  * their parity reference: both must give the same manifest bytes.
  */
object StatsPassOracle {

  private def renderStat(v: Any): String = v match {
    case n: java.lang.Number => n.toString
    case d: java.sql.Date => d.toLocalDate.toEpochDay.toString
    case d: java.time.LocalDate => d.toEpochDay.toString
    case s: String => s
    case other => sys.error(s"unsupported stats value $other")
  }

  private def qcol(name: String) =
    org.apache.spark.sql.functions.col("`" + name.replace("`", "``") + "`")

  /** The manifest lines of the files `staged` names (lines as
    * [[Snapshots.stage]] returns them; only their `path` and `sz=`
    * cells are read), recomputed by re-reading the staged directory.
    */
  def lines(spark: SparkSession, table: String, staged: Seq[String],
            statsCols: Seq[String] = Nil,
            bucketCols: Map[String, Int] = Map.empty): Seq[String] = {
    val rels = staged.map(_.split('\t').take(2).mkString("\t"))
    if ((statsCols.isEmpty && bucketCols.isEmpty) || rels.isEmpty) rels
    else {
      import org.apache.spark.sql.functions.{collect_set, count, input_file_name, lit, max, min}
      val first = rels.head.split('\t').head
      val dir = new Path(table, first.substring(0, first.lastIndexOf('/')))
      val reread = spark.read.parquet(dir.toString)
      val kinds = statsCols.map(c =>
        c -> Snapshots.statKind(c, reread.schema(c).dataType)).toMap
      val bks = bucketCols.toSeq.sortBy(_._1)
      val aggs = statsCols.flatMap(c =>
        Seq(min(qcol(c)).as(s"__lo_$c"), max(qcol(c)).as(s"__hi_$c"))) ++
        bks.map { case (c, m) =>
          collect_set(Snapshots.bucketExpr(c, m).cast("int")).as(s"__bk_$c") } ++
        (count(lit(1)).as("__rc") +:
          statsCols.map(c => count(qcol(c)).as(s"__nn_$c")))
      val byName: Map[String, (Seq[(String, ColStat)], Seq[(String, BucketStat)], Long, Seq[(String, Long)])] =
        reread
          .groupBy(input_file_name().as("__f"))
          .agg(aggs.head, aggs.tail: _*)
          .collect()
          .map { r =>
            val stats = statsCols.zipWithIndex.flatMap { case (c, i) =>
              val lo = r.get(1 + 2 * i)
              val hi = r.get(2 + 2 * i)
              if (lo == null || hi == null) None
              else if (kinds(c) == "string")
                Snapshots.truncateUpper(hi.asInstanceOf[String]).map(h =>
                  c -> ColStat("string",
                    Snapshots.truncateLower(lo.asInstanceOf[String]), h))
              else Some(c -> ColStat(kinds(c), renderStat(lo), renderStat(hi)))
            }
            val base = 1 + 2 * statsCols.size
            val bstats = bks.zipWithIndex.flatMap { case ((c, m), i) =>
              val ids = r.getSeq[Int](base + i).sorted
              if (ids.isEmpty || ids.size > Snapshots.BucketIdsMax) None
              else Some(c -> BucketStat(m, ids))
            }
            val rc = r.getLong(base + bks.size)
            val nulls = statsCols.zipWithIndex.map { case (c, j) =>
              c -> (rc - r.getLong(base + bks.size + 1 + j))
            }
            r.getString(0).split('/').last -> ((stats, bstats, rc, nulls))
          }.toMap
      rels.map { r =>
        val Array(path, sz) = r.split('\t')
        // a staged file absent from the grouped pass holds zero rows
        val (cells, bcells, rc, ncells) = byName.getOrElse(path.split('/').last,
          (Seq.empty[(String, ColStat)], Seq.empty[(String, BucketStat)], 0L,
            statsCols.map(_ -> 0L)))
        Snapshots.renderLine(path, Some(sz.stripPrefix("sz=").toLong), Some(rc),
          cells, bcells, ncells)
      }
    }
  }
}
