package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.stream.{StreamingContamination, StreamingCrawl, StreamingHostileCrawl}

/** The shared file-stream driver (`graft.stream.FileStream`) as its
  * collecting operators see it. */
class FileStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** `df` written as the parquet files of a fresh stream source dir. */
  private def sourceDir(df: DataFrame, tag: String): String = {
    val d = Files.createTempDirectory(s"graft_filestream_$tag").resolve("in").toString
    df.coalesce(1).write.parquet(d)
    d
  }

  private def columns(df: DataFrame) = df.schema.fields.map(f => (f.name, f.dataType)).toSeq

  test("an arrival of zero-row files yields an empty frame with the columns " +
       "of a non-empty run (crawl, hostile crawl, contamination)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val index = graft.ext.SuffixArray.contaminationIndex(
      docs.filter(col("doc_id") % 50 === 0), "doc_id", "text", k = 64)
      .localCheckpoint(true)
    val cases: Seq[(String, DataFrame, String => DataFrame)] = Seq(
      ("crawl", graft.queries.WebQueries.crawlBlobs(spark, dir).toDF("blob_id", "warc"),
        StreamingCrawl.runToSnapshot(spark, _)),
      ("hostile", graft.queries.WebQueries.hostileCrawlBlobs(spark, dir).toDF("blob_id", "warc"),
        StreamingHostileCrawl.runToSnapshot(spark, _)),
      ("contamination", docs.filter(col("doc_id") % 5 === 1),
        StreamingContamination.runToSnapshot(spark, _, index, minLen = 20)))
    cases.foreach { case (tag, source, run) =>
      val full = run(sourceDir(source, tag))
      assert(full.count() > 0, s"$tag: non-empty run returned no rows")
      val emptyDir = sourceDir(source.limit(0), s"${tag}_empty")
      assert(Files.list(java.nio.file.Paths.get(emptyDir)).toArray
        .exists(_.toString.endsWith(".parquet")), s"$tag: no zero-row file written")
      val empty = run(emptyDir)
      assert(empty.count() == 0, s"$tag: rows from zero-row files")
      assert(columns(empty) == columns(full), s"$tag: empty-arrival columns drifted")
    }
  }
}
