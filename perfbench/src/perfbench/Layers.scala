package perfbench

/** Per-layer metrics derived from spans and their Spark cost, for the
  * traced run, after [[Tracer.finish]].
  */
object Layers {
  private val LayerPhases = Set("setup", "timed")

  /** `<span>_s` walls and `<span>.<counter>` costs, as medians over the
    * span's calls in set-up and the timed phase; 0 for a layer this
    * workload does not run.
    */
  def fill(run: Run): Unit = {
    val t = run.tracer
    def spans(name: String) = t.named(name, LayerPhases)
    Main.PerLayer.map(_._1).filter(_.endsWith("_s")).foreach { m =>
      val s = spans(m.stripSuffix("_s"))
      if (s.nonEmpty) run.layer(m) = Stat.median(s.map(_.wallS))
    }
    Main.SpanCounters.foreach { case (name, counters) =>
      counters.foreach { c =>
        run.layer(s"$name.$c") = Stat.layer(spans(name).map(t.cost(_).field(c)))
      }
    }
    def costOf(name: String, field: String) =
      Stat.layer(spans(name).map(t.cost(_).field(field)))
    def meanCostOf(name: String, field: String) = {
      val s = spans(name)
      if (s.isEmpty) 0.0 else Stat.mean(s.map(t.cost(_).field(field)))
    }
    run.layer("tsdb.sync.rows_read") = costOf("tsdb.sync", "rows_read")
    run.layer("tsdb.read.rows_read") = costOf("tsdb.get_metric", "rows_read")
    run.layer("pq.probe.rows_read") = costOf("pq.probe", "rows_read")
    run.layer("tsdb.compact_bytes_rewritten") = meanCostOf("tsdb.compact", "bytes_written")
    run.layer("pq.bytes_rewritten") = meanCostOf("pq.maintain", "bytes_written")
  }

  /** Rows each sync finalized (by span id) against the rows it read. */
  def syncUseful(run: Run, finalized: Map[Long, Double]): Unit = {
    val syncs = run.tracer.named("tsdb.sync").filter(s => finalized.contains(s.id))
    val read = syncs.map(s => run.tracer.cost(s).rowsRead.toDouble)
    run.layer("tsdb.sync.rows_finalized") = Stat.layer(syncs.map(s => finalized(s.id)))
    run.layer("tsdb.sync.useful_ratio") = Stat.layer(
      syncs.zip(read).filter(_._2 > 0).map { case (s, rd) => finalized(s.id) / rd })
  }
}
