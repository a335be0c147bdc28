package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, the tracer, its own scratch
  * directory inside the run directory, and the run's knobs. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path,
    val seed: Long, val seconds: Int, val nproc: Int) {
  val samples = new Samples

  /** Failed checks, by name; each counts against `success_rate`. */
  val failures = mutable.ArrayBuffer.empty[String]
  private var checks = 0

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = synchronized {
    checks += 1
    if (!ok) {
      failures += name
      System.err.println(s"[graftbench] CHECK FAILED: $name $detail")
    }
  }

  def checksRun: Int = synchronized(checks)

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  def span[A](name: String)(body: => A): A = tracer.span(name)(body)

  /** Time `body` under span `name` and keep the duration (seconds) as a
    * sample of the same name. */
  def timed[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = span(name)(body)
    val dt = (System.nanoTime() - t0) / 1e9
    samples.add(name, dt)
    r
  }
}

/** Named sample lists, safe to add to from several threads. */
final class Samples {
  private val m = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def add(name: String, v: Double): Unit = synchronized {
    m.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }

  def clear(): Unit = synchronized(m.clear())

  def get(name: String): Seq[Double] = synchronized(m.get(name).map(_.toSeq).getOrElse(Nil))

  def sum(name: String): Double = get(name).sum
  def max(name: String): Double = if (get(name).isEmpty) 0.0 else get(name).max
  def p50(name: String): Double = Stats.quantile(get(name), 0.5)
}

object Stats {
  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double = weighted(xs.map(_ -> 1.0), q)

  /** Quantile of a weighted sample: the value below which a share `q` of
    * the total weight lies, interpolating between neighbouring values. */
  def weighted(xs: Seq[(Double, Double)], q: Double): Double = {
    val s = xs.filter(_._2 > 0).sortBy(_._1)
    if (s.isEmpty) return 0.0
    if (s.size == 1) return s.head._1
    // each value sits at the centre of its weight; interpolate between centres
    val total = s.map(_._2).sum
    var acc = 0.0
    val centres = s.map { case (v, w) => val c = (acc + w / 2) / total; acc += w; (c, v) }
    if (q <= centres.head._1) centres.head._2
    else if (q >= centres.last._1) centres.last._2
    else {
      val i = centres.indexWhere(_._1 >= q)
      val (c0, v0) = centres(i - 1)
      val (c1, v1) = centres(i)
      v0 + (v1 - v0) * (q - c0) / (c1 - c0)
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Files2 {
  /** Bytes of every regular file under `p` (0 when absent). */
  def du(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.deleteIfExists)
      finally s.close()
    }
}
