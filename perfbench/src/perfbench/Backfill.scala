package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.Tsdb
import graft.api.HttpApi
import graft.core.Periods

/** backfill_1m: BASELINE.md's reference workload. Each rep inserts the
  * 1M points into a fresh store, syncs once with `now` past the
  * `oneday` bucket's end plus `tail` (all six tables final), then
  * serves a burst of `/graph` requests and one `/`.
  */
object Backfill {
  val Points = 1000000
  val Graphs = 20
  val Prepares = 3
  private val Day0 = 19000L * 86400
  private val Tail = 60L

  /** The generator's points as a cached frame, one slice per core. */
  private def frame(gen: Gen.A6)(implicit r: Run): org.apache.spark.sql.DataFrame = {
    val spark = r.spark
    import spark.implicits._
    val g = gen
    val df = spark.range(0, g.n, 1, spark.sparkContext.defaultParallelism)
      .map(i => g.point(i)).toDF("path", "timestamp", "value").cache()
    df.count()
    df
  }

  def run(r: Run): Unit = {
    implicit val run: Run = r
    val t0 = Day0 + 60.0
    val nowTs = (Day0 + 86400 + Tail + 1).toDouble

    // set-up, several times: generate the points and hold them as a
    // cached frame in one partition per core, the in-memory batch a
    // client hands to insert
    var gen: Gen.A6 = null
    var points: org.apache.spark.sql.DataFrame = null
    val prep = (0 until Prepares).map { _ =>
      r.timed("setup.prepare") {
        gen = new Gen.A6(r.seed, Points, t0)
        if (points != null) points.unpersist()
        points = frame(gen)
      }._2.wallS
    }
    val rnd = new java.util.Random(r.seed ^ 0x5DEECE66DL)
    val rl = new TsdbCommon.ReadLayers
    val finalized = ArrayBuffer.empty[(Long, Double)]
    val storeBytes = ArrayBuffer.empty[Double]
    val insertFiles = ArrayBuffer.empty[Double]
    val insertBytes = ArrayBuffer.empty[Double]
    val incomingFiles = ArrayBuffer.empty[Double]
    val periodFiles = ArrayBuffer.empty[Double]

    // /graph windows: inside the data hour, widened down to the first
    // bucket start for the coarse periods
    def range(p: Long): (Double, Double) = (math.floor(t0 / p) * p, t0 + 3600)

    def rep(parent: Long, g: Gen.A6, input: org.apache.spark.sql.DataFrame,
        graphs: Int): Unit = {
      val buckets = Periods.all.map(p =>
        p.name -> Array.tabulate(2)(i => g.buckets(i, p.seconds))).toMap
      def expected(q: GraphReq): Int =
        buckets(q.period)(g.paths.indexOf(q.path)).count(x => x >= q.start && x <= q.end)
      val root = r.fresh("store")
      val tsdb = new Tsdb(r.spark, root, tail = Tail, now = () => nowTs)
      r.op("tsdb.insert", parent)(tsdb.insert(input)) { _ =>
        val files = r.dataFiles(s"$root/incoming")
        insertFiles += files.size.toDouble
        insertBytes += files.map(_._2).sum.toDouble
      }
      r.op("tsdb.sync", parent)(tsdb.sync()) { _ =>
        val totals = TsdbCommon.periodTotals(tsdb)
        Periods.all.foreach { p =>
          val n = totals.get(p.name).map(_._1).getOrElse(0.0)
          r.check(n == g.n, s"sum(n) of ${p.name} is $n, expected ${g.n}")
        }
        finalized += ((r.tracer.last.id, totals.values.map(_._2).sum.toDouble))
        checkPercentiles(r, tsdb, g, rnd)
      }
      if (r.probing) TsdbCommon.aggregates(r, tsdb, parent)
      val api = new HttpApi(tsdb).start()
      val http = new Client(api)
      try {
        (0 until graphs).foreach { j =>
          val q = TsdbCommon.request(j, rnd, g.paths.toIndexedSeq, range)
          TsdbCommon.graph(r, tsdb, root, http, q, expected(q), parent, rl)
        }
        TsdbCommon.index(r, tsdb, http, g.paths.toSet, parent)
      } finally { http.close(); api.close() }
      storeBytes += r.dataFiles(root).map(_._2).sum.toDouble / g.n
      incomingFiles += TsdbCommon.filesPerDayMax(r, s"$root/incoming")
      periodFiles += TsdbCommon.periodDirs(root).map(TsdbCommon.filesPerDayMax(r, _)).max
    }

    // warm-up: one rep of a tenth of the load (JIT, codegen, page
    // cache); its ops are checked, its spans stay out of the metrics
    r.tracer.phase = "warmup"
    val (_, warm) = r.group("warmup") { id =>
      val small = new Gen.A6(r.seed + 1, Points / 10, t0)
      val input = frame(small)
      try rep(id, small, input, Periods.all.size) finally input.unpersist()
    }
    Seq(storeBytes, insertFiles, insertBytes, incomingFiles, periodFiles).foreach(_.clear())
    r.loop(cadence = 1, minCycles = 2) { _ =>
      r.group("cycle")(rep(_, gen, points, Graphs))
    }

    val inserts = r.tracer.named("tsdb.insert").map(_.wallS)
    val syncs = r.tracer.named("tsdb.sync").map(_.wallS)
    r.e2e("setup_s") = r.sessionS + Stat.median(prep)
    r.e2e("write_s_p50") = Stat.median(inserts)
    r.e2e("sync_s_p50") = Stat.median(syncs)
    r.e2e("busy_s_per_cycle") = Stat.mean(inserts.zip(syncs).map { case (a, b) => a + b })
    r.e2e("store_bytes_per_point") = Stat.median(storeBytes.toSeq)
    TsdbCommon.readMetrics(r)

    r.layer("warmup_s") = warm.wallS
    r.layer("tsdb.insert_files") = Stat.layer(insertFiles.toSeq)
    r.layer("tsdb.insert_bytes") = Stat.layer(insertBytes.toSeq)
    r.layer("tsdb.files_per_day_max.incoming") = Stat.layer(incomingFiles.toSeq)
    r.layer("tsdb.files_per_day_max.periods") = Stat.layer(periodFiles.toSeq)
    rl.fill(r)
    r.afterTrace += (() => Layers.syncUseful(r, finalized.toMap))
  }

  /** One random bucket's p50/p90/p99 against numpy-linear percentiles
    * of its raw values, computed here from the generator's points.
    */
  private def checkPercentiles(r: Run, tsdb: Tsdb, gen: Gen.A6,
      rnd: java.util.Random): Unit = {
    val p = Periods.all(rnd.nextInt(Periods.all.size))
    val path = rnd.nextInt(2)
    val rows = tsdb.table(p).filter(s"path = '${gen.paths(path)}'")
      .select("timestamp", "p50", "p90", "p99").collect()
    r.check(rows.nonEmpty, s"${p.name} has no rows for ${gen.paths(path)}")
    val row = rows(rnd.nextInt(rows.length))
    val b = row.getDouble(0)
    val raw = (0L until gen.n).iterator
      .filter(i => gen.path(i) == path &&
        math.floor(gen.ts(i).toLong.toDouble / p.seconds) * p.seconds == b)
      .map(gen.value).toArray
    Seq(0.5 -> 1, 0.9 -> 2, 0.99 -> 3).foreach { case (q, c) =>
      val want = Gen.percentile(raw, q)
      val got = row.getDouble(c)
      r.check(math.abs(got - want) <= 1e-9 * math.max(1.0, math.abs(want)),
        s"${p.name} bucket $b p${(q * 100).toInt}: stored $got, numpy-linear $want")
    }
  }
}
