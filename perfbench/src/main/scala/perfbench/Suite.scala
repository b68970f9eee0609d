package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The batch query suite on the sf0.01 corpus: a cold pass in a fresh
  * session, then warm passes, each query timed through an action that
  * consumes every output column and checked against its pinned
  * fingerprint.
  */
object Suite {
  type Query = (SparkSession, String) => DataFrame

  /** Registry module of each query, by the package that defines it. */
  val module: Map[String, String] = {
    import graft._
    Seq(
      "cdc" -> Seq(cdc.BatchReconstruction.queries, cdc.Scd.queries),
      "ops" -> Seq(ops.RelationalQueries.queries, ops.Operational.queries,
        ops.Graph.queries, ops.Tpch.queries, ops.ModernSql.queries,
        ops.LayoutAudit.queries),
      "llm" -> Seq(llm.TextAnalysis.queries, llm.Dedup.queries,
        llm.Similarity.queries, llm.Embeddings.queries, llm.Mixing.queries,
        llm.Multimodal.queries, llm.Sketches.queries, llm.Tokenization.queries))
      .flatMap { case (m, qs) => qs.flatMap(_.keys).map(_ -> m) }.toMap
  }

  /** The measured subset: every `stride`-th registered query by name, so
    * that a cold pass, the warm-up passes and the measured passes fit in
    * one run; the probe query that set-up times is the reconstruction
    * flagship.
    */
  val stride = 24
  val probe = "cdc_reconstruct"
  /** Nominal seconds of one warm pass on a 4-core host. */
  val passS = 3.4
  /** Untimed warm passes between the cold pass and the measured ones. */
  val warmupPasses = 3

  def subset: Seq[(String, Query)] =
    SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex
      .collect { case (q, i) if i % stride == 0 => q }

  /** name -> "rows:sum:xor" from the pinned fingerprint file. */
  def pinned(file: File): Map[String, String] =
    Files.readAllLines(file.toPath).asScala.toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t')).map(a => a(0) -> a.drop(1).mkString(":")).toMap

  final case class Timed(name: String, ms: Double, ok: Boolean)

  def runQuery(h: Harness, dir: String, pins: Map[String, String],
      name: String, fn: Query): Timed = {
    val t0 = System.nanoTime()
    val fp = try {
      val df = h.tr.span("plan.construct")(fn(h.spark, dir))
      val (n, hash) = h.tr.span("exec.run")(Fingerprint.of(df))
      Some(s"$n:$hash")
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
    val t1 = System.nanoTime()
    val ok = fp.isDefined && pins.get(name) == fp
    if (fp.isDefined && !ok)
      System.err.println(s"[perfbench] $name fingerprint ${fp.get} != ${pins.get(name)}")
    Timed(name, (t1 - t0) / 1e6, ok)
  }

  def pass(h: Harness, dir: String, pins: Map[String, String],
      order: Seq[(String, Query)]): Seq[Timed] = {
    val r = h.tr.span("suite.pass")(order.map { case (n, f) => runQuery(h, dir, pins, n, f) })
    // Bench's pass boundary: drop cached intermediates and collect them,
    // so each pass starts from the same cache state.
    h.spark.catalog.clearCache()
    System.gc()
    r
  }

  def run(h: Harness): Result = {
    val dir = new File(h.benchDir, "data/sf0.01").getPath
    val pins = pinned(new File(h.benchDir, "fingerprints/sf0.01.tsv"))
    val all = SparkEntry.queries
    // Each pass runs the queries in its own seeded order, so that a
    // query's median over passes does not inherit one fixed set of
    // neighbours.
    def order(pass: Int): Seq[(String, Query)] =
      new scala.util.Random(h.seed * 1000 + pass).shuffle(subset)
    val setupRuns = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      h.newSession(rocksDb = false)
      val q = runQuery(h, dir, pins, probe, all(probe))
      ((System.nanoTime() - t0) / 1e9, q)
    }
    val codegen = if (h.trace) { val c = new CodegenLog; c.attach(); Some(c) } else None
    val cold = pass(h, dir, pins, order(0))
    codegen.foreach(_.detach())
    // The first warm passes still run partly interpreted code, and queries
    // keep speeding up until about the fourth pass after the cold one;
    // these passes are checked but not timed.
    val warmup = (1 to warmupPasses).flatMap(i => pass(h, dir, pins, order(i)))

    val units = h.measure(passS) { k =>
      val spans0 = h.tr.spans.size
      val r = pass(h, dir, pins, order(k + 1 + warmupPasses))
      (r, h.tr.spans.drop(spans0))
    }
    val warm = units.filter(_._2.isEmpty).map(_._1._1)
    val traced = units.filter(_._2.isDefined)
    val layer = if (!h.trace) Map.empty[String, Double] else {
      val n = traced.size.toDouble
      val spans = traced.flatMap(_._1._2)
      val byModule = traced.flatMap(_._1._1).groupBy(t => module(t.name))
        .map { case (m, ts) => s"suite.${m}_s" -> ts.map(_.ms).sum / 1e3 / n }
      Stats.meanMaps(traced.flatMap(_._2)) ++ byModule ++ Map(
        "plan.construct_ms" -> spans.filter(_.name == "plan.construct").map(_.ms).sum / n,
        "exec.run_ms" -> spans.filter(_.name == "exec.run").map(_.ms).sum / n)
    }

    // Each query's warm time is its median over the untraced passes.
    val measured = warm.flatten.groupBy(_.name).values.map(ts => Stats.median(ts.map(_.ms))).toSeq
    val warmS = warm.map(_.map(_.ms).sum / 1e3)
    val checked = setupRuns.map(_._2) ++ cold ++ warmup ++ units.flatMap(_._1._1)
    val overhead = if (h.trace) {
      val tr = Stats.median(traced.map(_._1._1.map(_.ms).sum))
      Map("trace.overhead_pct" -> (tr / Stats.median(warmS.map(_ * 1e3)) - 1) * 100)
    } else Map.empty
    Result(
      attempted = checked.size, failed = checked.count(!_.ok),
      endToEnd = Map(
        "setup_s" -> Stats.median(setupRuns.map(_._1)),
        "throughput_per_s" -> measured.size / (measured.sum / 1e3),
        "latency_p50_ms" -> Stats.hdQuantile(measured, 0.5),
        "latency_p95_ms" -> Stats.hdQuantile(measured, 0.95)),
      perLayer = layer ++ overhead ++ Map(
        "session.build_ms" -> h.buildMsMedian,
        "suite.cold_s" -> cold.map(_.ms).sum / 1e3,
        "plan.codegen_compile_ms" -> codegen.map(_.ms).getOrElse(0.0)),
      details = Map(
        "queries" -> subset.map(_._1), "stride" -> stride,
        "setup_s_each" -> setupRuns.map(_._1),
        "suite_cold_s" -> cold.map(_.ms).sum / 1e3,
        "suite_warm_s_each" -> warmS,
        "codegen_compiles_cold" -> codegen.map(_.compiles).getOrElse(0L),
        "query_ms" -> checked.groupBy(_.name).map { case (n, ts) =>
          n -> ts.map(_.ms) },
        "failed_queries" -> checked.filterNot(_.ok).map(_.name).distinct))
  }

  /** Pins the fingerprint of every registered query from a directory of
    * per-query parquet dumps (one `<name>/` directory per query, as
    * `graft.Verify` writes them after the DuckDB comparison passed).
    */
  def pin(spark: SparkSession, dumps: File, out: File): Unit = {
    val lines = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val (n, hash) = Fingerprint.of(spark.read.parquet(new File(dumps, name).getPath))
      val Array(s, x) = hash.split(':')
      s"$name\t$n\t$s\t$x"
    }
    Files.writeString(out.toPath,
      ("# query\trows\thash_sum\thash_xor" +: lines).mkString("", "\n", "\n"))
  }
}
