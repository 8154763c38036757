package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** A timed op's output check failed. */
final class CheckFailed(msg: String) extends RuntimeException(msg)

/** State shared by a workload run: the session, the tracer, the op
  * tally and the metrics the workload fills in.
  */
final class Run(
    val spark: SparkSession,
    val tracer: Tracer,
    val seed: Long,
    val seconds: Int,
    val work: File) {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  var sessionS = 0.0
  val e2e = mutable.Map.empty[String, Double]
  val layer = mutable.Map.empty[String, Double]
  def traced: Boolean = tracer.traced
  /** The traced run makes its extra per-layer calls (direct calls into
    * the layers behind an op, file listings, counts) in the timed phase.
    */
  def probing: Boolean = traced && tracer.phase == "timed"

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) throw new CheckFailed(what)

  /** One timed op: counted as attempted, and as failed when the call
    * throws or `verify` (run after the clock stops) rejects its output.
    * Returns the output and span of an op that passed.
    */
  def op[T](name: String, parent: Long = 0, channel: String = "")(call: => T)(
      verify: T => Unit): Option[(T, Span)] = {
    attempted += 1
    try {
      val (out, span) = tracer.time(name, parent, channel)(_ => call)
      verify(out)
      Some((out, span))
    } catch {
      case e: Exception =>
        fail(name, e.toString)
        None
    }
  }

  /** Count a failed output check of an op that already ran. */
  def fail(name: String, msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += s"$name: $msg"
  }

  /** A timed call that is not one of the workload's ops: set-up steps
    * and the traced run's extra per-layer calls.
    */
  def timed[T](name: String, parent: Long = 0)(call: => T): (T, Span) =
    tracer.time(name, parent)(_ => call)

  /** A span that groups ops (a cycle): `f` gets its id as their parent. */
  def group[T](name: String)(f: Long => T): (T, Span) = tracer.time(name)(f)

  /** Work for the traced run that needs the spans' Spark cost, which is
    * known only after the run.
    */
  val afterTrace = ArrayBuffer.empty[() => Unit]

  /** Run `cycle` until `seconds` have passed, in whole blocks of
    * `cadence` cycles (so every run has the same mix of cadenced
    * steps), and at least `minCycles` cycles.
    */
  def loop(cadence: Int, minCycles: Int)(cycle: Int => Unit): Int = {
    tracer.phase = "timed"
    val t0 = System.nanoTime()
    var i = 0
    while (i < minCycles || i % cadence != 0 ||
        (System.nanoTime() - t0) / 1e9 < seconds) {
      cycle(i)
      i += 1
    }
    i
  }

  def fs: FileSystem =
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)

  /** Data files (not sidecars or checksums) under `dir`, recursively. */
  def dataFiles(dir: String): Seq[(String, Long)] = {
    val p = new Path(dir)
    if (!fs.exists(p)) return Nil
    val base = fs.makeQualified(p).toString
    val it = fs.listFiles(p, true)
    val out = ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      val path = f.getPath.toString
      if (path.endsWith(".parquet") && !path.stripPrefix(base).contains("/_"))
        out += ((path, f.getLen))
    }
    out.toSeq
  }

  def fresh(name: String): String = {
    val d = new File(work, name)
    deleteTree(d)
    d.getAbsolutePath
  }

  def deleteTree(d: File): Unit = {
    if (d.isDirectory) Option(d.listFiles()).foreach(_.foreach(deleteTree))
    d.delete()
  }
}

object Stat {
  /** numpy-linear quantile of the samples; NaN when there are none. */
  def q(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN else Gen.percentile(xs.toArray, p)
  def median(xs: Seq[Double]): Double = q(xs, 0.5)
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size
  /** Median of a layer quantity; 0 when the layer did not run here. */
  def layer(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}
