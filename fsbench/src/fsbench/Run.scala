package fsbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** State of one benchmark run: the operation and check counters, the
  * timed samples, and the measured loop. Every operation and every
  * correctness check counts as attempted; a thrown error or a failed
  * check counts as failed. */
final class Run(val seed: Long, val seconds: Double, val tracer: Tracer) {
  var spark: SparkSession = _
  var attempted = 0L
  var failed = 0L
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val checks = mutable.LinkedHashMap.empty[String, Array[Long]]
  val failures = mutable.ArrayBuffer.empty[String]
  val inputs = mutable.LinkedHashMap.empty[String, Any]
  val layerExtra = mutable.LinkedHashMap.empty[String, Double]
  private var pausedNs = 0L
  private var heapPeak = 0L

  def sample(kind: String, v: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += v

  private def note(what: String, msg: String): Unit =
    if (failures.size < 20) failures += s"$what: $msg".take(400)

  /** One timed operation of the workload; its wall time in ms goes to
    * the `kind` samples. A failed operation records no sample. */
  def op[A](kind: String)(body: => A): Option[A] = {
    attempted += 1
    tracer.currentOp = attempted
    val t0 = System.nanoTime()
    try {
      val a = body
      sample(kind, (System.nanoTime() - t0) / 1e6)
      Some(a)
    } catch { case NonFatal(e) => failed += 1; note(kind, String.valueOf(e)); None }
    finally tracer.currentOp = -1L
  }

  /** A call into one layer's public function (a span when traced). */
  def call[A](layer: String)(body: => A): A = tracer.span(spark, layer)(body)

  /** Time spent here does not count against the measured window. */
  def paused[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally pausedNs += System.nanoTime() - t0
  }

  def check(name: String)(ok: => Boolean): Unit = paused {
    attempted += 1
    val c = checks.getOrElseUpdate(name, Array(0L, 0L))
    val pass = try ok catch { case NonFatal(e) => note(name, String.valueOf(e)); false }
    if (pass) c(0) += 1
    else { c(1) += 1; failed += 1; note(name, "check failed") }
  }

  /** Old-generation occupancy after a full collection. The run reports
    * the highest of these checkpoints: the retained heap, which unlike
    * the pool's raw peak does not depend on when G1 last reclaimed old
    * regions. */
  def heapCheckpoint(): Unit = paused {
    System.gc()
    heapPeak = math.max(heapPeak, Run.oldGenUsed())
  }

  def heapPeakMb: Double = heapPeak / 1048576.0

  /** The measured loop: `seconds` of unpaused wall time in `slices`
    * equal slices. Each slice runs `fixed(k)` once, then `fill()` until
    * the slice has ended and `fill` has run at least `minFill` times. So
    * the fixed operations run the same number of times however fast the
    * host is, and the fill operation takes the rest of the time. */
  def loop(slices: Int, minFill: Int)(fixed: Int => Unit)(fill: () => Unit): Unit = {
    val t0 = System.nanoTime()
    pausedNs = 0L
    (0 until slices).foreach { k =>
      fixed(k)
      var n = 0
      while (n < minFill ||
          System.nanoTime() - t0 - pausedNs < (k + 1) * seconds * 1e9 / slices) {
        fill()
        n += 1
      }
    }
  }
}

object Run {
  /** The middle sample, or the mean of the two middle ones. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  /** The highest whole percentile with at least ten samples above it. */
  def tailPercentile(n: Int): Int =
    if (n < 20) 0 else math.floor(100.0 * (n - 10) / n).toInt

  /** Fixed single-thread spin; its wall time tracks effective CPU speed. */
  def canaryMs(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    val t0 = System.nanoTime()
    while (i < 40000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e6
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  private def oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  def oldGenUsed(): Long = oldGen.map(_.getUsage.getUsed).sum

  /** Bytes of the regular files under `dir`. */
  def du(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val st = java.nio.file.Files.walk(p)
      try st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally st.close()
    }
  }

  /** Data files under `dir`: not hidden, not a marker, not a checksum. */
  def dataFiles(dir: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val st = java.nio.file.Files.walk(p)
      try st.iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .filter { f =>
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_") &&
            !p.relativize(f).iterator().asScala.exists(_.toString.startsWith("_"))
        }
        .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
      finally st.close()
    }
  }

  def toJson(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => toJson(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => toJson(k.toString) + ":" + toJson(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(toJson).mkString("[", ",", "]")
    case other => toJson(other.toString)
  }
}
