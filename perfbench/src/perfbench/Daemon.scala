package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions

import graft.Tsdb
import graft.api.HttpApi
import graft.core.Periods
import graft.ingest.LineParser
import graft.streaming.Ingest

/** daemon_steady: a store already in steady state (more than a day of
  * history, so `incoming` sits at its retention-bounded size) runs the
  * deployed loop. Each virtual minute is one cycle: six flushes of wire
  * lines through `Ingest.start`, one `Tsdb.sync`, a burst of `/graph`
  * requests and one `/`, and one `Tsdb.compact` with its default file
  * threshold, as the CLI's `compact` command run by a per-minute cron
  * job calls it. The warm-up cycle syncs too, so every timed sync
  * finalizes exactly one virtual minute.
  */
object Daemon {
  val Paths = 16
  val Cadence = 10 // seconds between a path's points
  val HistoryHours = 26
  val Graphs = 6
  val MaxFilesPerDay = 16 // Tsdb.compact's default, which the CLI uses
  val Cycles = 3 // timed cycles per run, at least
  val SelfPrefix = "graft.daemon"
  private val Tail = 60L
  private val T = 19000L * 86400 + 86400 + 6 * 3600 // virtual start of the loop

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val start = (T - HistoryHours * 3600L).toDouble
    val wire = new Gen.Wire(r.seed, Paths, Cadence, start)
    @volatile var vnow = T.toDouble
    val root = r.fresh("store")
    val tsdb = new Tsdb(spark, root, tail = Tail, now = () => vnow)

    // set-up: back-fill the whole history in one step, as a bulk load
    // would: generate it, insert it and sync as of its end. It runs
    // once; the run budget goes to the timed cycles (see README.md)
    val (_, setup) = r.timed("setup.prepare") {
      val points = history(r, wire, start, T.toDouble)
      try {
        r.timed("setup.insert")(tsdb.insert(points))
        r.timed("setup.sync")(tsdb.sync())
      } finally points.unpersist()
    }
    @volatile var syncedAt = vnow // `now` of the last sync: what is final
    var ingested = wire.points(start, T.toDouble).size.toLong

    val shadow = new Tsdb(spark, r.fresh("shadow"), tail = Tail, now = () => vnow)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[String]
    val query = r.tracer.withChannel("stream") {
      Ingest.start(tsdb, stream.toDF(), intervalSeconds = 0,
        selfMetricPrefix = Some(SelfPrefix))
    }
    val api = new HttpApi(tsdb).start()
    val http = new Client(api)
    val rnd = new java.util.Random(r.seed ^ 0x2545F4914F6CDD1DL)
    val rl = new TsdbCommon.ReadLayers
    val finalized = ArrayBuffer.empty[(Long, Double)]
    val overhead = ArrayBuffer.empty[Double]
    val lineCounts = ArrayBuffer.empty[Double]
    val badCounts = ArrayBuffer.empty[Double]
    val insertFiles = ArrayBuffer.empty[Double]
    val insertBytes = ArrayBuffer.empty[Double]
    val firstSelf = T + 10 - 0.5
    var requests = 0 // /graph requests so far: rotates period, then stat

    /** End of the final buckets of a period as of the last sync. */
    def finalEnd(seconds: Long): Double =
      math.floor((syncedAt - Tail) / seconds) * seconds

    /** One flush op; returns the lines it sent. */
    def flush(lo: Double, parent: Long): Int = {
      val hi = lo + 10
      vnow = hi - 0.5 // the self-metric row lands inside [lo, hi)
      val lines = wire.lines(lo, hi)
      val before: Set[String] =
        if (r.probing) r.dataFiles(s"$root/incoming").map(_._1).toSet else Set.empty
      val done = r.op("streaming.batch", parent, channel = "stream") {
        stream.addData(lines)
        query.processAllAvailable()
      } { _ => () } // checked per minute by checkFlushes
      ingested += lines.size + 1
      if (r.probing) done.foreach { case (_, span) =>
        val added = r.dataFiles(s"$root/incoming").filterNot(f => before(f._1))
        insertFiles += added.size.toDouble
        insertBytes += added.map(_._2).sum.toDouble
        val (pb, parse) = r.timed("ingest.parse", parent) {
          LineParser.parseCounted(lines.toDF("line"), "line", Some(SelfPrefix))
        }
        lineCounts += pb.total.toDouble
        badCounts += pb.bad.toDouble
        val (_, ins) = r.timed("tsdb.insert", parent)(shadow.insert(pb.rows))
        overhead += span.wallS - parse.wallS - ins.wallS
      }
      lines.size
    }

    /** Each flush's stored rows (its 10 s window of `incoming`, empty
      * before it) against the lines it sent plus its self-metric row,
      * for a minute of flushes in one query.
      */
    def checkFlushes(base: Double, sent: Seq[Int]): Unit = {
      val stored = tsdb.incomingRange(base, base + 60).filter($"timestamp" < base + 60)
        .groupBy(functions.floor(($"timestamp" - base) / 10).as("w")).count()
        .collect().map(row => row.getLong(0).toInt -> row.getLong(1)).toMap
      sent.zipWithIndex.foreach { case (n, j) =>
        val got = stored.getOrElse(j, 0L)
        if (got != n + 1) r.fail("streaming.batch",
          s"flush [${base + 10 * j}, +10): stored $got rows, sent $n + 1 self-metric")
      }
    }

    def sync(parent: Long): Unit = {
      val periodDirs = TsdbCommon.periodDirs(root)
      val before = if (r.probing) periodDirs.flatMap(r.dataFiles).map(_._1).toSet else Set.empty[String]
      r.op("tsdb.sync", parent)(tsdb.sync()) { _ =>
        syncedAt = vnow
        if (r.probing) finalized += ((r.tracer.last.id,
          TsdbCommon.newRows(r, before, periodDirs.flatMap(r.dataFiles)).toDouble))
        // a sampled path's last five finalized minutes of tensecond
        // buckets: every bucket holds exactly the generator's one point
        val i = rnd.nextInt(Paths)
        val hi = finalEnd(10) - 10
        val rows = tsdb.getMetric(wire.names(i), "tensecond", "n", (hi - 290, hi)).collect()
        r.check(rows.length == 30 && rows.forall(_.getDouble(1) == 1.0),
          s"tensecond n of ${wire.names(i)} over (${hi - 290}, $hi): " +
            rows.map(_.getDouble(1)).mkString(","))
      }
    }

    def expected(q: GraphReq): Int = {
      val p = Periods.byName(q.period).seconds
      val fe = finalEnd(p)
      wire.buckets(wire.names.indexOf(q.path), p, q.start, math.min(q.end + p, fe))
        .count(b => b >= q.start && b <= q.end && b < fe)
    }

    def cycle(c: Int, parent: Long, graphs: Int): Unit = {
      val base = T + 60.0 * c
      val sent = (0 until 6).map(j => flush(base + 10 * j, parent))
      checkFlushes(base, sent)
      vnow = base + 60
      sync(parent)
      // once a run: `incoming` holds the same retained day every minute
      if (r.probing && c == 1) TsdbCommon.aggregates(r, tsdb, parent)
      val names = wire.names.toIndexedSeq
      (0 until graphs).foreach { _ =>
        val q = TsdbCommon.request(requests, rnd, names, _ => (start, finalEnd(1)))
        requests += 1
        TsdbCommon.graph(r, tsdb, root, http, q, expected(q), parent, rl)
      }
      val self = if (firstSelf < finalEnd(1)) Set(s"$SelfPrefix.insert") else Set.empty
      TsdbCommon.index(r, tsdb, http, wire.names.toSet ++ self, parent)
      r.op("tsdb.compact", parent)(tsdb.compact()) { _ =>
        val worst = (s"$root/incoming" +: TsdbCommon.periodDirs(root))
          .map(TsdbCommon.filesPerDayMax(r, _)).max
        r.check(worst <= MaxFilesPerDay, s"compact left $worst files in one day partition")
      }
    }

    val (_, warm) = try {
      r.tracer.phase = "warmup"
      // the set-up warmed insert and sync; this warms the
      // streaming flush, the read side and compact, and its sync
      // finalizes the minute after the set-up's last sync
      val w = r.group("warmup")(cycle(0, _, graphs = 2))
      r.loop(cadence = 1, minCycles = Cycles) { i =>
        r.group("cycle")(cycle(i + 1, _, Graphs))
      }
      w
    } finally {
      query.stop()
      http.close()
      api.close()
    }

    val flushes = r.tracer.named("streaming.batch").map(_.wallS)
    val syncs = r.tracer.named("tsdb.sync").map(_.wallS)
    val compacts = r.tracer.named("tsdb.compact").map(_.wallS)
    val timedCycles = r.tracer.named("cycle").size
    r.e2e("setup_s") = r.sessionS + setup.wallS
    r.e2e("write_s_p50") = Stat.median(flushes)
    r.e2e("sync_s_p50") = Stat.median(syncs)
    r.e2e("busy_s_per_cycle") = (flushes.sum + syncs.sum + compacts.sum) / timedCycles
    r.e2e("store_bytes_per_point") =
      r.dataFiles(root).map(_._2).sum.toDouble / ingested
    TsdbCommon.readMetrics(r)

    r.layer("warmup_s") = warm.wallS
    r.layer("ingest.lines") = Stat.layer(lineCounts.toSeq)
    r.layer("ingest.bad_lines") = Stat.layer(badCounts.toSeq)
    r.layer("streaming.engine_overhead_s") = Stat.layer(overhead.toSeq)
    r.layer("tsdb.insert_files") = Stat.layer(insertFiles.toSeq)
    r.layer("tsdb.insert_bytes") = Stat.layer(insertBytes.toSeq)
    r.layer("tsdb.files_per_day_max.incoming") =
      TsdbCommon.filesPerDayMax(r, s"$root/incoming")
    r.layer("tsdb.files_per_day_max.periods") =
      TsdbCommon.periodDirs(root).map(TsdbCommon.filesPerDayMax(r, _)).max
    rl.fill(r)
    r.afterTrace += (() => Layers.syncUseful(r, finalized.toMap))
  }

  /** The generator's points in [lo, hi) as a cached frame, generated by
    * Spark tasks (the points are pure functions of the seed).
    */
  private def history(r: Run, wire: Gen.Wire, lo: Double, hi: Double) = {
    val spark = r.spark
    import spark.implicits._
    val (k0, k1) = (((lo - wire.start) / wire.cadence).toLong - 1,
      ((hi - wire.start) / wire.cadence).toLong + 1)
    val n = wire.nPaths
    val df = spark.range(k0.max(0) * n, k1 * n, 1, spark.sparkContext.defaultParallelism)
      .flatMap { x =>
        val (i, k) = ((x % n).toInt, x / n)
        val t = wire.ts(i, k)
        if (t >= lo && t < hi) Some((wire.names(i), t, wire.value(i, k))) else None
      }.toDF("path", "timestamp", "value").cache()
    df.count()
    df
  }
}
