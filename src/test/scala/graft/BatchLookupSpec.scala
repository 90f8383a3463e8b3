package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.enrich.BatchLookup

/** Deterministic fake of the external service — top-level so the closure
  * serializes without dragging the suite along. */
class FakeLookupClient extends BatchLookup.LookupClient {
  override def lookup(batch: Seq[Row]): Seq[Row] =
    batch.map(r => Row(r.getInt(0), s"P-${r.getInt(0)}"))
}

/** Tags every output row with its call: (id, the call's first id, the
  * call's row count). */
class CallTaggingClient extends BatchLookup.LookupClient {
  override def lookup(batch: Seq[Row]): Seq[Row] = {
    val call = batch.head.getLong(0)
    batch.map(r => Row(r.getLong(0), call, batch.size))
  }
}

class BatchLookupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val resultSchema = StructType(Seq(
    StructField("id", IntegerType),
    StructField("prop_id", StringType)))

  test("enrich returns one result row per input across sized partitions") {
    val keys = (1 to 97).toDF("id")
    val out = BatchLookup.enrich(spark, keys, new FakeLookupClient, batchSize = 10,
      resultSchema)
    val got = out.as[(Int, String)].collect().sortBy(_._1)
    assert(got.length == 97)
    assert(got.head == (1, "P-1") && got.last == (97, "P-97"))
    // partition count ≈ ceil(97/10); repartition produced ≥ input rows / batch
    assert(out.rdd.getNumPartitions == 10)
  }

  test("calls carry at most batchSize rows over a multi-partition input") {
    val b = 10
    val tagSchema = StructType(Seq(StructField("id", LongType),
      StructField("call", LongType), StructField("size", IntegerType)))
    // 7 uneven input partitions; at n = 2b a round-robin repartition into
    // 2 partitions dealt one call 12 rows. The frame is materialized, as
    // the enrich contract asks.
    for (n <- Seq(b - 1, b, b + 1, 2 * b, 3 * b + 2)) {
      val keys = spark.range(0, n, 1, numPartitions = 7).toDF("id")
        .localCheckpoint()
      val got = BatchLookup.enrich(spark, keys, new CallTaggingClient,
        batchSize = b, tagSchema).as[(Long, Long, Int)].collect().toSeq
      assert(got.map(_._1).sorted == (0L until n.toLong), s"n=$n")
      val calls = got.groupBy(_._2)
      assert(calls.size == (n + b - 1) / b, s"n=$n calls")
      assert(calls.values.forall(rs => rs.size == rs.head._3 && rs.size <= b),
        s"n=$n sizes ${calls.values.map(_.size)}")
    }
  }

  test("empty input yields empty enrichment without calling the service") {
    val out = BatchLookup.enrich(spark, Seq.empty[Int].toDF("id"),
      new FakeLookupClient, batchSize = 10, resultSchema)
    assert(out.count() == 0)
  }
}
