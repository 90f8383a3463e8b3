package graft.sources

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class TableIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("readStatic caches no schema for a path it cannot stat") {
    // A `file:` URI is a path Spark reads but the local stat cannot see:
    // with no mtime to key on, a cached schema would outlive a rewrite.
    val uri = Files.createTempDirectory("graft_tableio").toUri.toString + "t"
    Seq((1, "a")).toDF("k", "v").write.parquet(uri)
    assert(TableIO.readStatic(spark, uri).columns.toSeq == Seq("k", "v"))
    Seq((1, "a", 2.0)).toDF("k", "v", "w").write.mode("overwrite").parquet(uri)
    assert(TableIO.readStatic(spark, uri).columns.toSeq == Seq("k", "v", "w"))
  }
}
