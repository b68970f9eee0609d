package perfbench

import graft.cdc.{BatchReconstruction, StreamingReconstruction}
import graft.ingest.DebeziumParser
import graft.model.TransactionRecord
import graft.sources.Sinks
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.UUID
import scala.collection.mutable

/** The CDC workload: Debezium envelopes in text files, one directory per
  * topic, through the production composition of `ReferencePipeline`
  * (parse and split per topic, reconstruction without count gating and
  * with a 1 h state TTL, parquet sink with a checkpoint) on a RocksDB
  * state store session.
  */
object Cdc {

  /** Open loop: one slot every `slotMs`, `txnPerSlot` transactions each,
    * on a processing-time trigger of `triggerMs`. A warm micro-batch takes
    * 0.5-0.8 s, so batches start on the trigger's schedule, not back to
    * back, and each reads the slots of one trigger interval.
    */
  val triggerMs = 1000L
  val trigger: Trigger = Trigger.ProcessingTime(triggerMs)
  val slotMs = 100L
  val txnPerSlot = 20
  /** Seconds of schedule at the start of each open-loop run whose
    * transactions are checked but not timed: a new query's micro-batches
    * keep getting faster for about as long, while the JIT compiles them.
    */
  val liveWarmS = 10.0
  /** The set-up drain's input: 500 transactions, all read in one batch. */
  def setupInput(seed: Long): CdcInput = Gen.live(seed, 1, 500)

  private val ttl = java.time.Duration.ofHours(1)
  private val drainTimeoutMs = 60000L

  final case class Drain(runId: UUID, startNs: Long, startMs: Long,
      endNs: Long, out: File, traced: Boolean)

  /** Writes each topic's files under `dir` with strictly increasing mtimes:
    * the file source orders new files by modification time.
    */
  def writeTopics(in: CdcInput, dir: File): Unit = {
    val base = System.currentTimeMillis() - 3600000L
    Seq("change" -> in.change, "txn" -> in.txn).foreach { case (t, files) =>
      val d = new File(dir, t)
      d.mkdirs()
      files.zipWithIndex.foreach { case (lines, i) =>
        val f = new File(d, f"part-$i%05d.json")
        Files.writeString(f.toPath, lines.mkString("\n"))
        f.setLastModified(base + i * 1000L)
      }
    }
  }

  /** The generated rows as the `events` table, in the corpus schema. */
  def writeEvents(spark: SparkSession, rows: Array[EventRow], dir: File): Unit = {
    import spark.implicits._
    spark.createDataset(rows.toSeq).select(col("eventId").as("event_id"),
      timestamp_millis(col("tsMs")).as("ts"), col("userId").as("user_id"),
      col("eventType").as("event_type"), col("value"), col("props"))
      .coalesce(1).write.parquet(new File(dir, "events.parquet").getPath)
  }

  final class Ctx(val h: Harness) {
    def spark: SparkSession = h.spark
    val progress = new ProgressLog

    def pipeline(in: File): Dataset[TransactionRecord] = {
      def topic(t: String) =
        spark.readStream.format("text").load(new File(in, t).getPath).toDF("value")
      val (changes, _, _) = h.tr.span("ingest.parse_split")(
        DebeziumParser.split(DebeziumParser.parse(topic("change"))))
      val (_, txns, _) = h.tr.span("ingest.parse_split")(
        DebeziumParser.split(DebeziumParser.parse(topic("txn"))))
      h.tr.span("cdc.reconstruct")(StreamingReconstruction.reconstruct(
        changes, txns, countGated = false, ttl = Some(ttl)))
    }

    /** Starts the pipeline over `in`, runs `during` while it runs, and
      * ends the drain at the batch that commits the `lines`-th input row.
      */
    def drain(in: File, lines: Long, tag: String)(during: => Unit = ()): Drain =
      h.tr.span("cdc.drain") {
        val out = new File(h.work, s"out-$tag")
        val ckpt = new File(h.work, s"ckpt-$tag")
        val records = pipeline(in)
        val t0 = System.nanoTime()
        val w0 = System.currentTimeMillis()
        val q = h.tr.span("sources.sink_start")(
          Sinks.parquet(records, out.getPath, ckpt.getPath, trigger).start())
        try {
          during
          val end = progress.awaitRows(q.runId, lines, drainTimeoutMs)
          progress.batches(q.runId).filter(_.recvNs <= end).foreach { b =>
            h.tr.add("microbatch", b.recvNs -
              b.p.durationMs.getOrDefault("triggerExecution", 0L) * 1000000L, b.recvNs)
          }
          Drain(q.runId, t0, w0, end, out, h.tr.enabled)
        } finally q.stop()
      }

    /** Batches of a drain up to the one that ended it. */
    def batches(d: Drain): Seq[Batch] =
      progress.batches(d.runId).filter(_.recvNs <= d.endNs)

    /** Session build plus a warm-up drain, which carries the first
      * micro-batch's code generation.
      */
    def setup(warm: File, lines: Long, i: Int): Double = {
      val t0 = System.nanoTime()
      h.newSession(rocksDb = true)
      spark.streams.addListener(progress)
      drain(warm, lines, s"warm$i")()
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** Committed sink files: file name -> (batch id, commit wall time in
    * ms), read from the sink's metadata log, whose file for a batch is
    * written when the batch commits. A compacted log file lists every
    * earlier batch's files too, so a file keeps its first batch.
    */
  def sinkCommits(out: File): Map[String, (Long, Long)] = {
    val logs = Option(new File(out, "_spark_metadata").listFiles()).toSeq.flatten
      .filter(_.getName.matches("[0-9]+(\\.compact)?"))
      .map(f => f.getName.takeWhile(_.isDigit).toLong -> f)
      .sortBy(_._1)
    val path = "\"path\":\"([^\"]+)\"".r
    val seen = mutable.LinkedHashMap[String, (Long, Long)]()
    logs.foreach { case (batch, f) =>
      path.findAllMatchIn(Files.readString(f.toPath)).foreach { m =>
        val name = m.group(1).split('/').last
        if (!seen.contains(name)) seen(name) = batch -> f.lastModified()
      }
    }
    seen.toMap
  }

  final case class Checked(attempted: Long, failed: Long,
      emitted: Seq[(Long, String)]) // (transaction id, sink file name)

  /** Compares a drain's emitted transactions with `reconstructRaw` over the
    * generated events table: the same transaction ids, each with its
    * event count and its event ids in (ts, event_id) order.
    */
  def check(spark: SparkSession, expected: Map[Long, Seq[Long]],
      out: File): Checked = {
    val got = spark.read.parquet(out.getPath)
      .select(col("transactionId"), col("status"), col("eventCount"),
        transform(col("events"), e =>
          get_json_object(e.getField("after"), "$.event_id").cast("long"))
          .as("ids"),
        input_file_name().as("file"))
      .collect()
    val seen = mutable.Set[Long]()
    var failed = 0L
    val emitted = got.toSeq.map { r =>
      val id = scala.util.Try(r.getString(0).toLong).getOrElse(-1L)
      val ids = r.getSeq[Long](3)
      val ok = seen.add(id) && r.getString(1) == "END" &&
        expected.get(id).contains(ids) &&
        !r.isNullAt(2) && r.getLong(2) == ids.size
      if (!ok) failed += 1
      id -> r.getString(4).split('/').last
    }
    val missing = expected.keySet.diff(seen).size
    Checked(expected.size + (seen.size - seen.count(expected.contains)),
      failed + missing, emitted)
  }

  def expected(spark: SparkSession, dataDir: File): Map[Long, Seq[Long]] =
    BatchReconstruction.reconstructRaw(spark, dataDir.getPath)
      .select(col("transaction_id"), col("event_ids")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  /** Forces all three outputs of `parseAndSplit` over the input lines. */
  def ingestDirect(h: Harness, in: File, lines: Long): Map[String, Double] = {
    val spark = h.spark
    import spark.implicits._
    val raw = spark.read.text(new File(in, "change").getPath,
      new File(in, "txn").getPath).as[String]
    val t0 = System.nanoTime()
    val (c, t, dead) = h.tr.span("ingest.parse_and_split")(
      DebeziumParser.parseAndSplit(raw))
    val deadRows = h.tr.span("ingest.force") {
      Fingerprint.of(c.toDF()); Fingerprint.of(t.toDF()); Fingerprint.of(dead)._1
    }
    val busy = (System.nanoTime() - t0) / 1e9
    Map("ingest.rows_per_s" -> lines / busy, "ingest.busy_s" -> busy,
      "ingest.dead_rows" -> deadRows.toDouble)
  }

  def dirBytes(out: File): (Int, Long) = {
    val fs = Option(out.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (fs.size, fs.map(_.length).sum)
  }

  /** Per-layer metrics of the traced drains. */
  def layers(ctx: Ctx, drains: Seq[Drain]): Map[String, Double] = {
    val n = drains.size.toDouble
    val bs = drains.flatMap(ctx.batches)
    def dur(k: String) = bs.map(_.p.durationMs.getOrDefault(k, 0L).toDouble)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val data = bs.filter(_.p.numInputRows > 0)
    val ops = data.flatMap(_.p.stateOperators.headOption)
    val sinks = drains.map(d => dirBytes(d.out))
    Map(
      "microbatch.count" -> bs.size / n,
      "microbatch.nodata_count" -> bs.count(_.p.numInputRows == 0) / n,
      "microbatch.planning_ms" -> mean(dur("queryPlanning")),
      "microbatch.latest_offset_ms" -> mean(dur("latestOffset")),
      "microbatch.get_batch_ms" -> mean(dur("getBatch")),
      "microbatch.wal_commit_ms" -> mean(dur("walCommit")),
      "microbatch.commit_offsets_ms" -> mean(dur("commitOffsets")),
      "microbatch.trigger_ms_p50" -> Stats.median(dur("triggerExecution")),
      "cdc.state_update_ms" -> mean(ops.map(_.allUpdatesTimeMs.toDouble)),
      "cdc.state_commit_ms" -> mean(ops.map(_.commitTimeMs.toDouble)),
      "cdc.state_rows_peak" -> (0L +: ops.map(_.numRowsTotal)).max.toDouble,
      "cdc.state_bytes_peak" -> (0L +: ops.map(_.memoryUsedBytes)).max.toDouble,
      "cdc.rows_removed" -> ops.map(_.numRowsRemoved).sum / n,
      "sources.input_rows" -> bs.map(_.p.numInputRows).sum / n,
      "sources.sink_files" -> sinks.map(_._1).sum / n,
      "sources.sink_bytes" -> sinks.map(_._2).sum / n)
  }

  final case class LiveRun(drain: Drain, checked: Checked,
      latencies: Seq[Double], runS: Double, lines: Long, late: Long,
      backlogMax: Int, backlogEnd: Int, layers: Map[String, Double],
      input: CdcInput)

  /** One open-loop run: a generator thread moves pre-rendered files into
    * the topic directories on a fixed schedule that does not wait for the
    * query, for [[liveWarmS]] plus `seconds`. Each END scheduled after the
    * warm-up is timed from its scheduled write to the commit of the sink
    * batch that emitted its transaction.
    */
  def liveRun(ctx: Ctx, seed: Long, seconds: Double, tag: String,
      traced: Boolean): LiveRun = {
    val h = ctx.h
    val warmSlots = (liveWarmS * 1000 / slotMs).toInt
    val slots = warmSlots + math.max(1, (seconds * 1000 / slotMs).toInt)
    val input = Gen.live(seed, slots, txnPerSlot)
    val stage = new File(h.work, s"staged-$tag")
    val inDir = new File(h.work, s"in-$tag")
    val dataDir = new File(h.work, s"data-$tag")
    writeTopics(input, stage)
    Seq("change", "txn").foreach(t => new File(inDir, t).mkdirs())
    writeEvents(h.spark, input.events, dataDir)
    val exp = expected(h.spark, dataDir)
    val probe = if (traced) Some(h.attachTracing()) else None

    val nChange = input.change.length
    val moved = new Array[Long](nChange + input.txn.length)
    @volatile var late = 0L
    @volatile var t0 = 0L
    def move(t: String, i: Int, at: Long): Long = {
      val name = f"part-$i%05d.json"
      val src = new File(new File(stage, t), name)
      src.setLastModified(at)
      Files.move(src.toPath, new File(new File(inDir, t), name).toPath,
        StandardCopyOption.ATOMIC_MOVE)
      System.currentTimeMillis()
    }
    val gen = new Thread(() => {
      input.txn.indices.foreach { p =>
        val due = t0 + p * slotMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        if (p < nChange) moved(p) = move("change", p, due)
        moved(nChange + p) = move("txn", p, due + 1)
        late = math.max(late, System.currentTimeMillis() - due)
      }
    }, "perfbench-generator")
    var genEndMs = 0L
    val d = ctx.drain(inDir, input.lines, tag) {
      // The trigger fires at whole multiples of its interval; slots sit
      // half a slot after a multiple of `slotMs`, so no file lands as a
      // batch lists its directory and every run waits alike for the next
      // trigger.
      t0 = ((System.currentTimeMillis() + 200) / triggerMs + 1) * triggerMs + slotMs / 2
      gen.start()
      gen.join()
      genEndMs = System.currentTimeMillis()
    }
    val layer = probe.map(p => layers(ctx, Seq(d)) ++ p.detach() ++
      ingestDirect(h, inDir, input.lines)).getOrElse(Map.empty)

    val c = check(h.spark, exp, d.out)
    val commits = sinkCommits(d.out)
    val latencies = c.emitted.flatMap { case (id, file) =>
      val end = input.endFile((id - input.txnIds(0)).toInt)
      if (end < warmSlots) None
      else commits.get(file).map { case (_, t) => (t - (t0 + end * slotMs + 1)).toDouble }
    }
    // Backlog when a batch starts: files moved in by then minus the files
    // that earlier batches consumed, from the per-topic row counts.
    def consumed(files: Array[Array[String]], rows: Long): Int = {
      var acc = 0L
      var k = 0
      while (k < files.length && acc + files(k).length <= rows) {
        acc += files(k).length; k += 1
      }
      k
    }
    def done(bs: Seq[Batch]): Int = {
      val srcs = bs.flatMap(_.p.sources)
      val (c, t) = srcs.partition(_.description.contains(s"$tag/change"))
      consumed(input.change, c.map(_.numInputRows).sum) +
        consumed(input.txn, t.map(_.numInputRows).sum)
    }
    val bs = ctx.batches(d)
    val backlog = bs.indices.map { i =>
      val startMs = java.time.Instant.parse(bs(i).p.timestamp).toEpochMilli
      moved.count(m => m > 0 && m <= startMs) - done(bs.take(i))
    }
    val backlogEnd = moved.length - done(bs.filter(_.recvMs <= genEndMs))
    LiveRun(d, c, latencies, (d.endNs - d.startNs) / 1e9 - (t0 - d.startMs) / 1e3,
      input.lines, late, (0 +: backlog).max, backlogEnd, layer, input)
  }

  /** The open loop at a fixed rate of `txnPerSlot` transactions every
    * `slotMs`, on a processing-time trigger. A traced run splits its time
    * into an untraced and a traced half to report the tracing overhead.
    */
  def open(h: Harness): Result = {
    val ctx = new Ctx(h)
    val warm = setupInput(h.seed ^ 0x5eedL)
    val warmDir = new File(h.work, "warm-in")
    writeTopics(warm, warmDir)
    val setups = (1 to 3).map(i => ctx.setup(warmDir, warm.lines, i))
    val runs =
      if (!h.trace) Seq(liveRun(ctx, h.seed, h.seconds, "live", traced = false))
      else Seq(liveRun(ctx, h.seed, h.seconds / 2, "live0", traced = false),
        liveRun(ctx, h.seed + 1, h.seconds / 2, "live1", traced = true))
    val r = runs.last
    val overhead = if (h.trace) Map("trace.overhead_pct" ->
      (Stats.median(runs(1).latencies) / Stats.median(runs(0).latencies) - 1) * 100)
      else Map.empty
    Result(
      attempted = runs.map(_.checked.attempted).sum,
      failed = runs.map(_.checked.failed).sum,
      endToEnd = Map(
        "setup_s" -> Stats.median(setups),
        "throughput_per_s" -> r.lines / r.runS,
        "latency_p50_ms" -> Stats.hdQuantile(r.latencies, 0.5),
        "latency_p95_ms" -> Stats.hdQuantile(r.latencies, 0.95)),
      perLayer = r.layers ++ overhead ++ Map(
        "session.build_ms" -> h.buildMsMedian,
        "sources.backlog_files" -> r.backlogMax.toDouble,
        "sources.backlog_files_end" -> r.backlogEnd.toDouble,
        "gen.late_ms_max" -> r.late.toDouble),
      details = Map(
        "input" -> r.input.describe, "warmup_input" -> warm.describe,
        "setup_s_each" -> setups, "slot_ms" -> slotMs,
        "txn_per_slot" -> txnPerSlot, "trigger" -> trigger.toString,
        "warmup_s" -> liveWarmS,
        "runs" -> runs.map(x => Map(
          "latency_samples" -> x.latencies.size,
          "latency_p50_ms" -> Stats.hdQuantile(x.latencies, 0.5),
          "latency_p99_ms" -> Stats.hdQuantile(x.latencies, 0.99),
          "throughput_per_s" -> x.lines / x.runS,
          "batches" -> ctx.batches(x.drain).size,
          "batch_trigger_ms" -> ctx.batches(x.drain).map(b =>
            b.p.durationMs.getOrDefault("triggerExecution", 0L)),
          "batch_rows" -> ctx.batches(x.drain).map(_.p.numInputRows),
          "generator_late_ms_max" -> x.late,
          "traced" -> x.drain.traced))))
  }
}
