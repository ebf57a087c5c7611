package graft.sources

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import graft.SparkTestBase

class TablesSpec extends SparkTestBase {
  import spark.implicits._

  test("readCached sees a directory rewritten in place within the mtime granularity") {
    val root = Files.createTempDirectory("graft_tables").toFile
    try rewriteInPlace(root)
    finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  private def rewriteInPlace(root: File): Unit = {
    val dir = new File(root, "t.parquet")
    dir.mkdirs()
    val part = new File(dir, "part-00000.parquet")
    // one parquet file of `df`, copied to the same name under `dir`
    def put(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      val tmp = new File(root, tag)
      df.coalesce(1).write.parquet(tmp.getPath)
      val written = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
      Files.copy(written.toPath, part.toPath, StandardCopyOption.REPLACE_EXISTING)
    }
    put(Seq(1, 2).toDF("a"), "v1")
    val (dirTime, partTime) = (dir.lastModified, part.lastModified)
    assert(Tables.readCached(spark, dir.getPath).columns.toSeq == Seq("a"))
    // the rewrite keeps the file name, and both mtimes read as before,
    // as on a filesystem with coarse timestamps
    put(Seq(("x", 3L)).toDF("renamed_column", "b"), "v2")
    part.setLastModified(partTime)
    dir.setLastModified(dirTime)
    assert(dir.lastModified == dirTime && part.lastModified == partTime)
    val df = Tables.readCached(spark, dir.getPath)
    assert(df.columns.toSeq == Seq("renamed_column", "b"))
    assert(df.as[(String, Long)].collect().toSeq == Seq(("x", 3L)))
  }
}
