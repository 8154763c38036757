package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The repository benchmark: one seeded, closed-loop workload per run,
  * one client, timed from outside through the engine's public APIs.
  *
  * Usage (through perfbench/run.py, which builds the classpath):
  *   --workload backfill_1m|daemon_steady|pq_serving --seed N
  *   --seconds S --trace 0|1 --work DIR
  *
  * The last line of stdout is the result object: `correct`, `attempted`,
  * `failed`, and `metrics` (the end-to-end set with --trace 0, the
  * per-layer set with --trace 1). Every workload reports every metric;
  * BENCHMARK.json and perfbench/README.md say what each means on each
  * workload.
  */
object Main {

  /** (name, unit). Every workload reports all of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "busy_s_per_cycle" -> "s",
    "write_s_p50" -> "s",
    "sync_s_p50" -> "s",
    "read_s_p50" -> "s",
    "list_s_p50" -> "s",
    "store_bytes_per_point" -> "B")

  private val Full = Seq("jobs", "stages", "tasks", "task_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s",
    "driver_gap_s")
  private val Short = Seq("jobs", "tasks", "task_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "driver_gap_s")

  /** Spans whose Spark cost is reported, with the counters kept. */
  val SpanCounters: Seq[(String, Seq[String])] = Seq(
    "tsdb.sync" -> Full,
    "pq.probe" -> Full,
    "tsdb.insert" -> Short,
    "tsdb.compact" -> Short,
    "tsdb.get_metric" -> Short,
    "tsdb.list_metrics" -> Short,
    "streaming.batch" -> Short,
    "api.graph" -> Seq("jobs", "tasks", "task_s", "driver_gap_s"),
    "pq.append" -> Short,
    "pq.maintain" -> Short,
    "pq.build" -> Short)

  private def unitOf(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("bytes") || name.endsWith("bytes_rewritten")) "B"
    else if (name.endsWith("ratio") || name.endsWith("recall_at_10")) "ratio"
    else "count"

  val PerLayer: Seq[(String, String)] = {
    val named = Seq(
      "ops.failed_ratio", "spark.session_start_s", "warmup_s",
      "ingest.parse_s", "ingest.lines", "ingest.bad_lines",
      "streaming.batch_s", "streaming.engine_overhead_s",
      "tsdb.insert_s", "tsdb.insert_files", "tsdb.insert_bytes",
      "tsdb.sync_s", "tsdb.sync.rows_read", "tsdb.sync.rows_finalized",
      "tsdb.sync.useful_ratio") ++
      graft.core.Periods.all.map(p => s"agg.${p.name}_s") ++ Seq(
      "tsdb.compact_s", "tsdb.compact_bytes_rewritten",
      "tsdb.files_per_day_max.incoming", "tsdb.files_per_day_max.periods",
      "tsdb.get_metric_s", "tsdb.list_metrics_s", "tsdb.read.files_read",
      "tsdb.read.rows_read", "tsdb.read.rows_returned",
      "api.graph_s", "api.graph_data_s", "api.http_overhead_s",
      "api.response_bytes", "api.index_s",
      "pq.build_s", "pq.probe_s", "pq.probe.rows_read", "pq.append_s",
      "pq.append.files", "pq.maintain_s", "pq.maintain_actions",
      "pq.bytes_rewritten", "pq.files_per_partition_max", "pq.ledger_tail",
      "pq.skew_ratio", "pq.recall_at_10", "pq.list_s")
    val counters = SpanCounters.flatMap { case (s, cs) => cs.map(c => s"$s.$c") }
    val traced = EndToEnd.map { case (n, _) => s"trace.$n" }
    (named ++ counters).map(n => n -> unitOf(n)) ++
      traced.zip(EndToEnd.map(_._2))
  }

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: File)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    val trace = need("--trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      trace == "1", new File(need("--work")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val workload: Run => Unit = args.workload match {
      case "backfill_1m" => Backfill.run
      case "daemon_steady" => Daemon.run
      case "pq_serving" => PqServing.run
      case w => sys.error(s"unknown workload $w")
    }
    require(args.work.mkdirs() || args.work.isDirectory, s"cannot create ${args.work}")
    val t0 = System.nanoTime()
    val spark = session(args.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, args.trace,
      s"${args.workload}-${args.seed}-${if (args.trace) "traced" else "plain"}")
    val run = new Run(spark, tracer, args.seed, args.seconds, args.work)
    run.layer("spark.session_start_s") = sessionS
    run.sessionS = sessionS
    try workload(run)
    finally tracer.finish()
    if (args.trace) tracer.writeSpans(new File(args.work.getParentFile,
      s"spans-${args.workload}-${args.seed}.jsonl"))
    val metrics = if (args.trace) {
      Layers.fill(run)
      run.afterTrace.foreach(_())
      // a layer this workload does not run reports 0
      PerLayer.foreach { case (n, _) => run.layer.getOrElseUpdate(n, 0.0) }
      run.layer("ops.failed_ratio") = run.failed.toDouble / run.attempted.max(1)
      EndToEnd.foreach { case (n, _) => run.layer(s"trace.$n") = run.e2e(n) }
      select(run.layer, PerLayer)
    } else select(run.e2e, EndToEnd)
    spark.stop()
    run.failures.foreach(f => System.err.println(s"[perfbench] FAILED: $f"))
    System.err.println(s"[perfbench] unattributed jobs: ${tracer.unattributedJobs}, " +
      s"done at ${(System.currentTimeMillis() - Tracer.jvmStartMs) / 1e3}s")
    println(Json.obj(
      "correct" -> (run.failed == 0 && run.attempted > 0).toString,
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, u, v) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> Json.str(u))
      }: _*)))
  }

  /** The metrics in declaration order; a missing one is a benchmark bug. */
  private def select(values: mutable.Map[String, Double],
      names: Seq[(String, String)]): Seq[(String, String, Double)] =
    names.map { case (n, u) =>
      (n, u, values.getOrElse(n, sys.error(s"metric $n was not measured")))
    }

  private def session(work: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop-tmp").getPath)
      .config("spark.sql.streaming.checkpointLocation",
        new File(work, "checkpoints").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
