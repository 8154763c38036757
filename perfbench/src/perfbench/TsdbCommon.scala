package perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.Tsdb
import graft.api.{Graph, HttpApi}
import graft.core.{Periods, Stats}
import graft.operators.Agg

/** One `/graph` request: a single metric over a closed window. */
final case class GraphReq(path: String, period: String, stat: String,
    start: Double, end: Double) {
  def query: Map[String, String] = Map(
    "metrics.0.name" -> path, "metrics.0.period" -> period,
    "metrics.0.stat" -> stat, "start" -> start.toString, "end" -> end.toString)
  def url: String = "/graph?" + query.toSeq.sorted.map { case (k, v) =>
    URLEncoder.encode(k, UTF_8) + "=" + URLEncoder.encode(v, UTF_8)
  }.mkString("&")
}

/** One HTTP/1.1 client on one keep-alive connection to an [[HttpApi]]. */
final class Client(api: HttpApi) extends AutoCloseable {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:${api.boundPort}"
  def get(pathAndQuery: String): (Int, String) = {
    val r = client.send(HttpRequest.newBuilder(URI.create(base + pathAndQuery))
      .GET().build(), HttpResponse.BodyHandlers.ofString(UTF_8))
    (r.statusCode(), r.body())
  }
  def close(): Unit = client match {
    case c: AutoCloseable => c.close()
    case _ => ()
  }
}

/** The read side and the per-layer probes both TSDB workloads share. */
object TsdbCommon {
  /** Window length per period: each `/graph` request spans a fixed
    * number of buckets of its period, so the request mix (and its
    * latency distribution) does not depend on the seed.
    */
  val windowSeconds: Map[String, Double] = Map(
    "onesecond" -> 600.0, "tensecond" -> 3600.0, "oneminute" -> 3 * 3600.0,
    "fiveminute" -> 12 * 3600.0, "onehour" -> 86400.0, "oneday" -> 3 * 86400.0)

  /** Request `j` of a burst: the periods and stats rotate, the path and
    * the window's position inside `range(period seconds)` come from `rnd`.
    */
  def request(j: Int, rnd: java.util.Random, paths: IndexedSeq[String],
      range: Long => (Double, Double)): GraphReq = {
    val p = Periods.all(j % Periods.all.size)
    val period = p.name
    val stat = Stats.all((j / Periods.all.size) % Stats.all.size)
    val (lo, hi) = range(p.seconds)
    val len = math.min(windowSeconds(period), hi - lo)
    val start = lo + math.floor(rnd.nextDouble() * (hi - lo - len))
    GraphReq(paths(rnd.nextInt(paths.size)), period, stat, start, start + len)
  }

  /** Element count of the first `"timestamps_ms":[...]` array. */
  def timestampCount(body: String): Int = {
    val i = body.indexOf("\"timestamps_ms\":[")
    if (i < 0) -1 else {
      val from = i + "\"timestamps_ms\":[".length
      val inner = body.substring(from, body.indexOf(']', from))
      if (inner.isEmpty) 0 else inner.count(_ == ',') + 1
    }
  }

  /** The `"metrics":[...]` string list of an index response. */
  def metricNames(body: String): Set[String] = {
    val i = body.indexOf("\"metrics\":[")
    if (i < 0) Set.empty else {
      val from = i + "\"metrics\":[".length
      val inner = body.substring(from, body.indexOf(']', from))
      inner.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty).toSet
    }
  }

  /** Traced-run companions of the `/graph` ops, for the api and
    * tsdb.read layers.
    */
  final class ReadLayers {
    val overheadS = ArrayBuffer.empty[Double]
    val responseBytes = ArrayBuffer.empty[Double]
    val rowsReturned = ArrayBuffer.empty[Double]
    val filesRead = ArrayBuffer.empty[Double]

    def fill(run: Run): Unit = {
      run.layer("api.http_overhead_s") = Stat.layer(overheadS.toSeq)
      run.layer("api.response_bytes") = Stat.layer(responseBytes.toSeq)
      run.layer("tsdb.read.rows_returned") = Stat.layer(rowsReturned.toSeq)
      run.layer("tsdb.read.files_read") = Stat.layer(filesRead.toSeq)
    }
  }

  /** One `/graph` op; `expected` is the bucket count the generator
    * implies. The traced run adds the same request through
    * `Graph.graphData` and `Tsdb.getMetric` directly.
    */
  def graph(run: Run, tsdb: Tsdb, root: String, http: Client, req: GraphReq,
      expected: Int, parent: Long, rl: ReadLayers): Unit = {
    val done = run.op("api.graph", parent, channel = "http")(http.get(req.url)) {
      case (status, body) =>
        run.check(status == 200, s"/graph status $status: ${body.take(200)}")
        // an empty series is served as one [0] placeholder point
        val got = timestampCount(body)
        run.check(got == math.max(expected, 1),
          s"/graph $req: $got timestamps, expected $expected buckets")
    }
    if (run.probing) done.foreach { case ((_, body), span) =>
      val (_, gd) = run.timed("api.graph_data", parent) {
        val r = Graph.parseRequest(req.query, tsdb.now())
        Graph.graphData(tsdb, r.metrics, r.interval)
      }
      val (rows, _) = run.timed("tsdb.get_metric", parent) {
        tsdb.getMetric(req.path, req.period, req.stat, (req.start, req.end)).collect()
      }
      rl.overheadS += span.wallS - gd.wallS
      rl.responseBytes += body.getBytes(UTF_8).length.toDouble
      rl.rowsReturned += rows.length.toDouble
      val days = (math.floor(req.start / 86400).toLong to
        math.floor(req.end / 86400).toLong).toSet
      rl.filesRead += run.dataFiles(s"$root/${req.period}").count { case (p, _) =>
        days.exists(d => p.contains(s"/day=$d/"))
      }.toDouble
    }
  }

  /** One `/` op, checked against the expected path set. */
  def index(run: Run, tsdb: Tsdb, http: Client, expected: Set[String],
      parent: Long): Unit = {
    run.op("api.index", parent, channel = "http")(http.get("/")) {
      case (status, body) =>
        run.check(status == 200, s"/ status $status")
        val got = metricNames(body)
        run.check(got == expected,
          s"/ listed ${got.size} paths, expected ${expected.size}: " +
            s"missing ${(expected -- got).take(3)} extra ${(got -- expected).take(3)}")
    }
    if (run.probing) run.timed("tsdb.list_metrics", parent)(tsdb.listMetrics().collect())
  }

  /** Traced run: each period's aggregation over the current `incoming`,
    * timed alone into a no-op sink.
    */
  def aggregates(run: Run, tsdb: Tsdb, parent: Long): Unit =
    Periods.all.foreach { p =>
      run.timed(s"agg.${p.name}", parent) {
        Agg.aggregate(tsdb.incoming, p).write.format("noop").mode("overwrite").save()
      }
    }

  /** Per period table: sum of `n` and row count, in one job. */
  def periodTotals(tsdb: Tsdb): Map[String, (Double, Long)] =
    Periods.all.map(p => tsdb.table(p).select(lit(p.name).as("t"), col("n")))
      .reduce(_ unionByName _)
      .groupBy("t").agg(sum("n"), count(lit(1)))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2))))
      .toMap

  /** Rows in parquet files that appeared between two listings. */
  def newRows(run: Run, before: Set[String], after: Seq[(String, Long)]): Long = {
    val added = after.map(_._1).filterNot(before)
    if (added.isEmpty) 0L
    else run.spark.read.schema(graft.TsdbSchema.aggregate).parquet(added: _*).count()
  }

  /** Largest number of data files in one `day=` directory. */
  def filesPerDayMax(run: Run, dir: String): Int =
    run.dataFiles(dir).groupBy { case (p, _) => p.substring(0, p.lastIndexOf('/')) }
      .values.map(_.size).maxOption.getOrElse(0)

  def periodDirs(root: String): Seq[String] = Periods.all.map(p => s"$root/${p.name}")

  /** Everything after the run that only needs spans, shared by both
    * TSDB workloads: the e2e read metrics and the generic layers.
    */
  def readMetrics(run: Run): Unit = {
    val graphs = run.tracer.named("api.graph").map(_.wallS)
    run.e2e("read_s_p50") = Stat.median(graphs)
    run.e2e("list_s_p50") = Stat.median(run.tracer.named("api.index").map(_.wallS))
  }
}
