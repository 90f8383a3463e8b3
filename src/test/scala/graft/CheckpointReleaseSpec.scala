package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{BucketedTable, ManagedTable}

/** A table write that materializes its merge through a lazy local
  * checkpoint must drop those blocks when it ends. `Dataset.unpersist`
  * frees nothing for a checkpointed frame (the cache manager never saw
  * it), so a release that goes through it leaves the RDD registered until
  * the ContextCleaner happens to run a GC. Each write below must leave no
  * RDD registered that was not registered before it. */
class CheckpointReleaseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def assertReleases(what: String)(write: => Unit): Unit = {
    val before = persistedIds
    write
    val leaked = persistedIds -- before
    assert(leaked.isEmpty, s"$what left RDD(s) ${leaked.mkString(", ")} " +
      "registered after it returned")
  }

  private def target = (1 to 200).map(i => (i.toLong, s"v$i")).toDF("k", "v")
  private def source =
    Seq((5L, "UPDATED"), (500L, "NEW")).toDF("k", "v")

  test("merge(changeFeed = true) releases its tagged checkpoint") {
    val root = Files.createTempDirectory("graft_rel_cow").toString
    ManagedTable.overwrite(root, target)
    assertReleases("ManagedTable.merge(changeFeed = true)") {
      ManagedTable.merge(spark, root, source, Seq("k"), changeFeed = true)
    }
    assert(ManagedTable.read(spark, root).count() == 201)
  }

  test("mergeVectorized releases its touched-rows checkpoint") {
    val root = Files.createTempDirectory("graft_rel_mor").toString
    ManagedTable.overwrite(root, target)
    assertReleases("ManagedTable.mergeVectorized") {
      ManagedTable.mergeVectorized(spark, root, source, Seq("k"),
        changeFeed = true)
    }
    assert(ManagedTable.read(spark, root).count() == 201)
  }

  test("mergeVectorized releases its source checkpoint when the merge fails") {
    val root = Files.createTempDirectory("graft_rel_mor_fail").toString
    ManagedTable.overwrite(root, target)
    val boom = org.apache.spark.sql.functions.udf { (k: Long) =>
      if (k == 500L) throw new IllegalStateException("source row failed")
      k
    }
    val failing = spark.range(499, 501)
      .select(boom($"id").as("k"), org.apache.spark.sql.functions.lit("NEW").as("v"))
    assertReleases("a failing ManagedTable.mergeVectorized") {
      intercept[Exception] {
        ManagedTable.mergeVectorized(spark, root, failing, Seq("k"))
      }
    }
    assert(ManagedTable.currentVersion(root) == 0)
  }

  test("a bucketed merge with a feed releases its tagged checkpoint") {
    val root = Files.createTempDirectory("graft_rel_bt").toString
    BucketedTable.create(root, target, Seq("k"), nBuckets = 4)
    assertReleases("BucketedTable.merge(changeFeed = true)") {
      BucketedTable.merge(spark, root, source, changeFeed = true)
    }
    assert(BucketedTable.read(spark, root).count() == 201)
  }
}
