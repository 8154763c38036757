package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame

import graft.operators.Pq

/** pq_serving: a PQ ANN index over a seeded 64-dim corpus, served and
  * maintained. Each round appends one batch (`Pq.appendPqEpoch`), runs
  * `Probes` 16-query `Pq.pqKnnWith` probes and lists the partitions
  * `Lists` times; every `MaintainEvery` rounds a `Pq.pqMaintain` tick
  * runs. Half of a probe's queries come from a fixed pool near the base
  * corpus, half are fresh draws near families of the batch just
  * appended, whose exact top-10 is appended vectors. recall@10 against
  * exact top-10 is computed after the loop.
  */
object PqServing {
  val Dim = 64
  val Base = 20000
  val Family = 10
  val Clusters = 32
  val Batch = 1000
  val Probes = 1
  val Lists = 4 // a listing is ~0.2 s: a median of 16 a run holds steady
  val Rounds = 4 // per run: two maintain ticks, four appends and probes
  val QueriesPerProbe = 16
  val QueryPool = 256
  val K = 10
  val NProbe = 2
  val Codewords = 64
  val MaintainEvery = 2
  val Prepares = 3 // the median set-up is a warm one, not the cold first
  val RecallFloor = 0.8
  private val Policy = Pq.PqMaintainPolicy(maxFilesPerPartition = 2, nprobe = NProbe)

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val gen = new Gen.Vectors(r.seed, Dim, Clusters, Family)
    val corpus = r.work.getAbsolutePath + "/corpus"
    val index = r.work.getAbsolutePath + "/index"
    var vectors: Array[Array[Float]] = null
    def frame(from: Long, n: Int): DataFrame =
      (0 until n).map(i => (from + i, vectors((from + i).toInt).toSeq))
        .toDF("vec_id", "embedding")

    // set-up, `Prepares` times: generate the corpus, write it, build the index
    val prep = (0 until Prepares).map { _ =>
      r.timed("setup.prepare") {
        r.fresh("corpus"); r.fresh("index")
        vectors = Array.tabulate(Base)(i => gen.vector(i.toLong))
        frame(0, Base).write.parquet(corpus)
        r.timed("pq.build")(Pq.writePqIndex(spark.read.parquet(corpus), index, k = Codewords))
      }._2.wallS
    }
    val queries = Array.tabulate(QueryPool)(q => gen.query(q, Base / Family))
    val rnd = new java.util.Random(r.seed ^ 0x9E3779B9L)
    var size = Base
    var emb = spark.read.parquet(corpus)
    var nextQuery = QueryPool // ids of the queries near appended families
    // probe results for the recall check: (queries, corpus size, neighbours)
    val answers = ArrayBuffer.empty[(Map[Int, Array[Float]], Int, Map[Int, Seq[Long]])]
    val appendFiles = ArrayBuffer.empty[Double]
    val actions = ArrayBuffer.empty[Double]

    def round(i: Int, parent: Long): Unit = {
      // the new batch joins the corpus (the rerank source) first
      val grown = vectors ++ Array.tabulate(Batch)(j => gen.vector((size + j).toLong))
      vectors = grown
      frame(size, Batch).write.mode("append").parquet(corpus)
      val batch = frame(size, Batch)
      val before = r.dataFiles(index).map(_._1).toSet
      r.op("pq.append", parent)(Pq.appendPqEpoch(batch, index, s"e$i")) { applied =>
        r.check(applied, s"epoch e$i was not applied")
      }
      appendFiles += r.dataFiles(index).count(f => !before(f._1)).toDouble
      size += Batch
      emb = spark.read.parquet(corpus)

      (0 until Probes).foreach { _ =>
        val pool = Seq.fill(QueriesPerProbe / 2)(rnd.nextInt(QueryPool)).distinct
          .map(q => q -> queries(q))
        val fresh = (0 until QueriesPerProbe / 2).map { _ =>
          nextQuery += 1
          nextQuery -> gen.near(nextQuery, (size - Batch + rnd.nextInt(Batch)) / Family)
        }
        val qv = (pool ++ fresh).toMap
        val qs = qv.keys.toSeq
        val qdf = qs.map(q => (q.toLong, qv(q).toSeq)).toDF("query_id", "embedding")
        r.op("pq.probe", parent) {
          Pq.pqKnnWith(spark, index, emb, qdf, K, nprobe = NProbe)
            .select("query_id", "neighbor_id").collect()
        } { rows =>
          val got = rows.groupBy(_.getLong(0).toInt)
            .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq }
          r.check(got.keySet == qs.toSet && got.values.forall(_.size == K),
            s"probe returned ${rows.length} rows for ${qs.size} queries, expected $K each")
          answers += ((qv, size, got))
        }
      }
      (0 until Lists).foreach { _ =>
        r.op("pq.list", parent)(Pq.pqPartitionStats(spark, index)) { stats =>
          r.check(stats.nonEmpty && stats.forall(_._2 >= 1),
            s"partition listing: $stats")
        }
      }
      if (i % MaintainEvery == MaintainEvery - 1)
        r.op("pq.maintain", parent)(Pq.pqMaintain(spark, index, s"m$i", emb, Policy)) { m =>
          actions += m.actions.size.toDouble
          val worst = Pq.pqPartitionStats(spark, index).map(_._2).max
          r.check(worst <= Policy.maxFilesPerPartition,
            s"maintain left $worst files in one partition (actions ${m.actions})")
        }
    }

    r.tracer.phase = "warmup"
    val (_, warm) = r.group("warmup") { id =>
      round(MaintainEvery - 1, id) // a maintain round
    }
    answers.clear()
    r.loop(cadence = MaintainEvery, minCycles = Rounds) { i =>
      r.group("cycle")(round(i + MaintainEvery, _))
    }

    // the probes' collective output check: a probe that answers with
    // the wrong neighbours fails here, not in its own row-count check
    val recall = recallAt10(answers.toSeq, vectors)
    if (!(recall >= RecallFloor)) r.fail("pq.probe", s"recall@10 $recall below $RecallFloor")
    val appends = r.tracer.named("pq.append").map(_.wallS)
    val maints = r.tracer.named("pq.maintain").map(_.wallS)
    val probes = r.tracer.named("pq.probe").map(_.wallS)
    val stats = Pq.pqPartitionStats(spark, index)
    r.e2e("setup_s") = r.sessionS + Stat.median(prep)
    r.e2e("write_s_p50") = Stat.median(appends)
    r.e2e("sync_s_p50") = Stat.median(maints)
    r.e2e("busy_s_per_cycle") = (appends.sum + maints.sum) / r.tracer.named("cycle").size
    r.e2e("read_s_p50") = Stat.median(probes)
    r.e2e("list_s_p50") = Stat.median(r.tracer.named("pq.list").map(_.wallS))
    r.e2e("store_bytes_per_point") = stats.map(_._3).sum.toDouble / size

    r.layer("warmup_s") = warm.wallS
    r.layer("pq.append.files") = Stat.layer(appendFiles.toSeq)
    r.layer("pq.maintain_actions") = Stat.mean(actions.toSeq)
    r.layer("pq.files_per_partition_max") = stats.map(_._2).max
    if (r.traced) r.layer("pq.skew_ratio") = Pq.pqSkewRatio(spark, index)
    r.layer("pq.ledger_tail") = ledgerTail(r, index)
    r.layer("pq.recall_at_10") = recall
  }

  /** Visible entries of the index's `_epochs` ledger (hidden temps and
    * the rolled-up applied set start with '.' or '_').
    */
  private def ledgerTail(r: Run, index: String): Double = {
    val dir = new java.io.File(index, "_epochs")
    Option(dir.listFiles()).map(_.count(f =>
      !f.getName.startsWith(".") && !f.getName.startsWith("_"))).getOrElse(0).toDouble
  }

  /** Mean recall@10 of every probed query against the exact top-10 of
    * the corpus as it stood at that probe.
    */
  private def recallAt10(answers: Seq[(Map[Int, Array[Float]], Int, Map[Int, Seq[Long]])],
      vectors: Array[Array[Float]]): Double = {
    // exact top-10 over the base corpus once per query, then merged with
    // the vectors appended before each probe
    val vec = (id: Long) => vectors(id.toInt)
    val baseTop = scala.collection.mutable.Map.empty[Int, Seq[Long]]
    val exact = scala.collection.mutable.Map.empty[(Int, Int), Set[Long]]
    val hits = answers.flatMap { case (qv, size, got) =>
      qv.toSeq.map { case (q, query) =>
        val base = baseTop.getOrElseUpdate(q,
          Gen.exactTopK(query, (0L until Base.toLong).iterator, vec, K))
        val truth = exact.getOrElseUpdate((q, size),
          Gen.exactTopK(query, base.iterator ++ (Base.toLong until size.toLong),
            vec, K).toSet)
        got(q).count(truth).toDouble / K
      }
    }
    Stat.mean(hits)
  }
}
