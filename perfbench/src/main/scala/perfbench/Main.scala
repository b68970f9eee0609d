package perfbench

import graft.GraftSession
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.Files
import scala.collection.mutable

/** What one run measured: end-to-end metrics from untraced work, per-layer
  * metrics from traced work, and how many outputs were checked and wrong.
  */
final case class Result(attempted: Long, failed: Long,
    endToEnd: Map[String, Double], perLayer: Map[String, Double],
    details: Map[String, Any])

/** Session factory and tracing switch shared by the workloads. */
final class Harness(val seed: Long, val seconds: Double, val trace: Boolean,
    val work: File, val benchDir: File) {
  val tr = new Tracer(false)
  val nproc: Int = Runtime.getRuntime.availableProcessors
  var spark: SparkSession = _
  private val buildMs = mutable.ArrayBuffer[Double]()

  /** Stops the current session, if any, and builds a fresh one from the
    * production factory, with its temporary files inside the work directory.
    */
  def newSession(rocksDb: Boolean): SparkSession = {
    if (spark != null) spark.stop()
    val t0 = System.nanoTime()
    spark = tr.span("session.build")(
      GraftSession.builder(master = s"local[$nproc]",
        shufflePartitions = nproc, rocksDbState = rocksDb)
        .config("spark.local.dir", new File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
        .getOrCreate())
    buildMs += (System.nanoTime() - t0) / 1e6
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def buildMsMedian: Double = Stats.median(buildMs.toSeq)

  final class Probe(exec: ExecListener, plan: PlanListener, gc0: Long) {
    /** Detaches the listeners and returns what they counted. */
    def detach(): Map[String, Double] = {
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(exec)
      spark.listenerManager.unregister(plan)
      tr.enabled = false
      val phases = plan.snapshot
      exec.metrics ++ Map(
        "exec.gc_ms" -> (Stats.gcMs - gc0).toDouble,
        "plan.analysis_ms" -> phases("analysis"),
        "plan.optimization_ms" -> phases("optimization"),
        "plan.planning_ms" -> phases("planning"))
    }
  }

  def attachTracing(): Probe = {
    val exec = new ExecListener
    val plan = new PlanListener
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plan)
    tr.enabled = true
    new Probe(exec, plan, Stats.gcMs)
  }

  /** Runs the measurement units (suite passes) that fill the run's
    * seconds at `nominalS` seconds each. The count depends on the seconds
    * only, not on how fast the units run, so that every run and every
    * commit measures the same work: units still speed up as the JVM warms,
    * and a faster run that got more of them would read faster still.
    *
    * A traced run alternates untraced and traced units in the order
    * U T T U, so that warm-up drift weighs on both alike, and runs at least
    * one of each. Returns each unit's result, and for a traced unit what
    * the listeners counted during it.
    */
  def measure[T](nominalS: Double)(unit: Int => T): Seq[(T, Option[Map[String, Double]])] = {
    val n = math.max(if (trace) 2 else 1, math.round(seconds / nominalS).toInt)
    (0 until n).map { k =>
      val probe = if (trace && (k % 4 == 1 || k % 4 == 2)) Some(attachTracing()) else None
      val r = unit(k)
      r -> probe.map(_.detach())
    }
  }
}

/** Benchmark entry point.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --bench <dir> --artifact <file>
  *   [--commit <id>] [--source-hash <sha>]
  *
  * Prints one line starting with `PERFBENCH ` and holding the run's JSON
  * result as its last line of standard output.
  *
  * `perfbench.Main --pin <verify-dump-dir> <out.tsv>` pins the suite's
  * fingerprints from per-query parquet dumps.
  */
object Main {
  val workloads: Map[String, Harness => Result] = Map(
    "cdc-live" -> Cdc.open,
    "suite-sf0.01" -> Suite.run)

  /** Halts the JVM once the process that launched it is gone, so a
    * killed launcher never leaves a workload running.
    */
  private def exitWithParent(): Unit =
    ProcessHandle.current().parent().ifPresent { p =>
      val t = new Thread(() => {
        while (p.isAlive) Thread.sleep(500)
        Runtime.getRuntime.halt(3)
      }, "perfbench-parent-watch")
      t.setDaemon(true)
      t.start()
    }

  def main(args: Array[String]): Unit = {
    exitWithParent()
    if (args.headOption.contains("--pin")) {
      val spark = GraftSession.builder(master = "local[2]", shufflePartitions = 2)
        .getOrCreate()
      Suite.pin(spark, new File(args(1)), new File(args(2)))
      spark.stop()
      return
    }
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val run = workloads.getOrElse(name,
      sys.error(s"unknown workload $name; one of ${workloads.keys.mkString(", ")}"))
    val work = new File(opts("work"))
    work.mkdirs()
    val h = new Harness(opts("seed").toLong, opts("seconds").toDouble,
      opts("trace") == "1", work, new File(opts("bench")))
    val t0 = System.nanoTime()
    val r = try run(h) finally if (h.spark != null) h.spark.stop()
    val wall = (System.nanoTime() - t0) / 1e9

    val metrics = if (h.trace) r.perLayer else r.endToEnd
    val line = Map("correct" -> (r.failed == 0), "attempted" -> r.attempted,
      "failed" -> r.failed, "metrics" -> metrics)
    val conf = Option(h.spark).map(_.sparkContext.getConf.getAll.toMap)
      .getOrElse(Map.empty)
    val artifact = Map(
      "workload" -> name, "seed" -> h.seed, "seconds" -> h.seconds,
      "trace" -> h.trace, "wall_s" -> wall,
      "host" -> java.net.InetAddress.getLocalHost.getHostName,
      "nproc" -> h.nproc, "jvm" -> System.getProperty("java.version"),
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark" -> org.apache.spark.SPARK_VERSION,
      "commit" -> opts.getOrElse("commit", "unknown"),
      "source_sha256" -> opts.getOrElse("source-hash", "unknown"),
      "session_conf" -> conf,
      "attempted" -> r.attempted, "failed" -> r.failed,
      "error_rate" -> r.failed.toDouble / math.max(1L, r.attempted),
      "end_to_end" -> r.endToEnd, "per_layer" -> r.perLayer,
      "details" -> r.details, "spans" -> h.tr.render)
    val af = new File(opts("artifact"))
    af.getParentFile.mkdirs()
    Files.writeString(af.toPath, Json.render(artifact) + "\n")
    println("PERFBENCH " + Json.render(line))
  }
}
