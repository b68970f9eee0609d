package perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** One row of the generated `events` table; `userId` plays the
  * transaction id and a `purchase` row plays the END marker, the mapping
  * `BatchReconstruction` uses.
  */
final case class EventRow(eventId: Long, tsMs: Long, userId: Long,
    eventType: String, value: Double, props: String)

/** A generated CDC input: the lines of each file of the change topic and
  * of the transaction-metadata topic, and the table rows the change
  * envelopes were rendered from.
  *
  * @param endFile per transaction, the index of the metadata file that
  *        carries its END marker, or -1 when it never ends
  */
final class CdcInput(val change: Array[Array[String]],
    val txn: Array[Array[String]], val events: Array[EventRow],
    val txnIds: Array[Long], val txnSizes: Array[Int],
    val endFile: Array[Int]) {
  def lines: Long = change.map(_.length.toLong).sum + txn.map(_.length.toLong).sum
  def bytes: Long =
    (change.iterator ++ txn.iterator).flatMap(_.iterator).map(_.length + 1L).sum
  def ended: Int = endFile.count(_ >= 0)

  /** Transactions by number of change events, in power-of-two buckets. */
  def sizeHistogram: Map[String, Int] =
    txnSizes.groupBy { n =>
      val lo = Integer.highestOneBit(n)
      if (lo == 1) "1" else s"$lo-${lo * 2 - 1}"
    }.map { case (k, v) => k -> v.length }

  def describe: Map[String, Any] = Map(
    "lines" -> lines, "bytes" -> bytes, "change_files" -> change.length,
    "txn_files" -> txn.length, "change_events" -> events.length,
    "transactions" -> txnSizes.length, "ended" -> ended,
    "txn_size_histogram" -> sizeHistogram)
}

/** Seeded generators of Debezium envelopes. The same seed gives the same
  * files, byte for byte.
  */
object Gen {
  private val types = Array("view", "click", "cart", "error")
  private val baseMs = 1704067200000L // 2024-01-01T00:00:00Z

  /** A transaction's change events: `files(j)` is the change-file index of
    * event j (non-decreasing), `end` the metadata file of its END or -1.
    */
  private final case class TxnSpec(id: Long, files: Array[Int], end: Int)

  private def changeLine(e: EventRow, first: Boolean, pos: Long): String = {
    val before =
      if (first) "null"
      else s"""{"event_id":${e.eventId},"value":${e.value / 2}}"""
    val op = if (first) "c" else "u"
    s"""{"schema":null,"payload":{"before":$before,"after":{"event_id":${e.eventId},"user_id":${e.userId},"event_type":"${e.eventType}","value":${e.value},"props":${Json.str(e.props)}},"source":{"version":"2.5.0.Final","connector":"mysql","name":"mysql-server","ts_ms":${e.tsMs},"db":"db_1","table":"events","server_id":1,"file":"mysql-bin.000003","pos":$pos,"row":0},"op":"$op","ts_ms":${e.tsMs},"transaction":{"id":"${e.userId}","total_order":1,"data_collection_order":1}}}"""
  }

  private def marker(id: Long, status: String, count: Option[Int]): String =
    s"""{"schema":null,"payload":{"status":"$status","id":"$id","event_count":${count.fold("null")(_.toString)},"data_collections":${if (count.isEmpty) "null" else s"""[{"data_collection":"db_1.events","event_count":${count.get}}]"""}}}"""

  /** A truncated envelope: the parser must route it to the dead letter. */
  private def malformed(pos: Long): String =
    s"""{"schema":null,"payload":{"before":null,"after":{"event_id":$pos,"user_id":"""

  private def shuffle(a: ArrayBuffer[String], rnd: SplittableRandom): Array[String] = {
    val arr = a.toArray
    var i = arr.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = arr(i); arr(i) = arr(j); arr(j) = t
      i -= 1
    }
    arr
  }

  /** Renders transaction specs into topic files and table rows. BEGIN goes
    * to the metadata file of the first change file, END to `end`; each
    * change file gets one truncated envelope.
    */
  private def render(specs: Seq[TxnSpec], nChange: Int, nTxn: Int,
      rnd: SplittableRandom): CdcInput = {
    val change = Array.fill(nChange)(ArrayBuffer[String]())
    val txn = Array.fill(nTxn)(ArrayBuffer[String]())
    val events = ArrayBuffer[EventRow]()
    var eventId = 0L
    specs.foreach { s =>
      val n = s.files.length
      val ends = s.end >= 0
      var ts = baseMs + rnd.nextLong(86400000L)
      var j = 0
      while (j < n) {
        ts += 1 + rnd.nextInt(3)
        val tpe = if (ends && j == n - 1) "purchase" else types(rnd.nextInt(types.length))
        val e = EventRow(eventId, ts, s.id, tpe, rnd.nextInt(100000) / 100.0,
          s"""{"k": ${rnd.nextInt(100)}}""")
        eventId += 1
        events += e
        change(s.files(j)) += changeLine(e, j == 0, 4000L + eventId * 377L)
        j += 1
      }
      txn(s.files(0)) += marker(s.id, "BEGIN", None)
      if (ends) txn(s.end) += marker(s.id, "END", Some(n))
    }
    change.zipWithIndex.foreach { case (f, i) => f += malformed(i * 1000L) }
    new CdcInput(change.map(shuffle(_, rnd)), txn.map(shuffle(_, rnd)),
      events.toArray, specs.map(_.id).toArray, specs.map(_.files.length).toArray,
      specs.map(_.end).toArray)
  }

  /** The open-loop schedule: change file p carries the transactions that
    * start in slot p, metadata file p their BEGIN markers and the END
    * markers of slot p-1, so an END is written one slot after the last of
    * its changes. The extra last metadata file ends slot `slots - 1`.
    * About 5% of the transactions never send END, and each change file
    * also holds one truncated envelope for the dead letter.
    */
  def live(seed: Long, slots: Int, txnPerSlot: Int): CdcInput = {
    val rnd = new SplittableRandom(seed)
    val specs = (0 until slots * txnPerSlot).map { i =>
      val p = i / txnPerSlot
      val n = 1 + rnd.nextInt(10)
      val end = if (rnd.nextInt(100) < 5) -1 else p + 1
      TxnSpec(3000000L + i, Array.fill(n)(p), end)
    }
    render(specs, slots, slots + 1, rnd)
  }
}
