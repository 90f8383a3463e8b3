package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import graft.enrich.BatchLookup

/** Wraps the real lookup client and records every call from outside it:
  * wall time, rows sent, and rows the client could not enrich (its
  * failure contract returns a null id with an error text that is not one
  * of the service's own notes). Tasks run in this JVM (`local[n]`), so the
  * deserialized copies all report into the one [[CountingLookup.calls]]
  * queue. */
final class CountingLookup(inner: BatchLookup.LookupClient)
    extends BatchLookup.LookupClient {
  override def lookup(batch: Seq[Row]): Seq[Row] = {
    val t0 = System.nanoTime()
    val out = inner.lookup(batch)
    val dt = System.nanoTime() - t0
    val failed = out.count(r => r.isNullAt(1) && !r.isNullAt(5) &&
      !CountingLookup.serviceNotes(r.getString(5)))
    CountingLookup.calls.add(CountingLookup.Call(t0, dt, batch.size, failed))
    out
  }
}

object CountingLookup {
  /** Issue texts the stub service itself returns for a served row. */
  val serviceNotes: Set[String] = Set("rate limited")

  final case class Call(startNs: Long, durNs: Long, rows: Int, failedRows: Int)
  val calls = new ConcurrentLinkedQueue[Call]()

  def drain(): Seq[Call] = {
    val out = calls.asScala.toSeq
    calls.clear()
    out
  }
}
