package graftbench

import org.apache.spark.sql.{DataFrame, Row}

import scala.collection.mutable

/** One timed operation of a workload's closed loop. */
final case class Op(cls: String, ms: Double, ok: Boolean)

/** A metric value with its unit. */
final case class Metric(value: Double, unit: String)

/** What a workload hands back to [[Main]]. `e2e` holds the gated
 *  end-to-end metrics (the same names on every workload); `report` the
 *  workload's own end-to-end figures, printed but not gated; `perLayer`
 *  the traced run's layer metrics. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    errors: Seq[String],
    e2e: Map[String, Metric],
    report: Map[String, Metric],
    perLayer: Map[String, Double],
    setup: Map[String, Double],
    ops: Seq[Op])

/** Records the ops of a closed loop and the failures of the output
 *  checks; both count towards `failed`. */
final class Recorder {
  val ops = mutable.ArrayBuffer.empty[Op]
  private val errs = mutable.ArrayBuffer.empty[String]
  private var checkFailures = 0L
  private var checks = 0L

  def errors: Seq[String] = errs.toSeq
  def attempted: Long = ops.size + checks
  def failed: Long = ops.count(!_.ok) + checkFailures

  private def note(msg: String): Unit = if (errs.size < 20) errs += msg

  /** Time `body` as one op of class `cls`; an exception fails the op. */
  def op[T](cls: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val out = body
      ops += Op(cls, (System.nanoTime() - t0) / 1e6, ok = true)
      Some(out)
    } catch {
      case e: Exception =>
        ops += Op(cls, (System.nanoTime() - t0) / 1e6, ok = false)
        note(s"$cls: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Record one output check; an exception inside it is a failure too. */
  def check(what: String)(ok: => Boolean): Unit = {
    checks += 1
    val passed = try ok catch {
      case e: Exception => note(s"check $what threw ${e.getClass.getSimpleName}: ${e.getMessage}"); false
    }
    if (!passed) { checkFailures += 1; note(s"check failed: $what") }
  }

  /** Times of the successful ops of class `cls` (any class when empty)
   *  among the first `until` ops. */
  def ms(cls: String = "", until: Int = Int.MaxValue): Seq[Double] =
    ops.take(until).filter(o => o.ok && (cls.isEmpty || o.cls == cls)).map(_.ms).toSeq
}

object Harness {

  private val start = System.nanoTime()

  /** Note a phase boundary in the JVM log, with seconds since start. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - start) / 1e9}%.1f s: $name")

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e6)
  }

  /** Linear-interpolated percentile, `p` in [0, 1]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Run `step(i)` for i = 0, 1, ... until `seconds` have passed and at
   *  least `atLeast` steps ran, or `limit` steps ran; returns (steps, wall
   *  seconds). */
  def closedLoop(seconds: Double, limit: Int = Int.MaxValue, atLeast: Int = 0)(
      step: Int => Unit): (Int, Double) = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while (i < limit && (i < atLeast || System.nanoTime() < deadline)) { step(i); i += 1 }
    (i, (System.nanoTime() - t0) / 1e9)
  }

  private def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN) "NaN" else BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    case f: Float => cell(f.toDouble)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"$k=${cell(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case other => other.toString
  }

  /** Order-free answer key of a collected result: row count plus the sum
   *  of per-row hashes over its columns in name order, doubles rounded to
   *  four decimals. Two answers with equal keys hold the same rows. */
  def answerKey(rows: Array[Row]): (Long, Long) = {
    if (rows.isEmpty) return (0L, 0L)
    val names = rows.head.schema.fieldNames
    val idx = names.indices.sortBy(i => names(i))
    val h = rows.iterator.map { r =>
      scala.util.hashing.MurmurHash3.stringHash(idx.map(i => cell(r.get(i))).mkString("|")).toLong
    }.sum
    (rows.length.toLong, h)
  }

  def answerKey(df: DataFrame): (Long, Long) = answerKey(df.collect())

  /** Materialize a stage so the next one starts from stored rows;
   *  returns the persisted frame and its row count. */
  def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    (p, p.count())
  }

  /** Peak resident set of this JVM in MB (Linux VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def ms(v: Double): Metric = Metric(v, "ms")
  def count(v: Double): Metric = Metric(v, "count")

  /** One run's closed loop. Untraced, `untraced(seconds)` is the whole
   *  measurement. Traced, half the time runs untraced — giving the
   *  `core.*` metrics — and half through `traced`, whose per-op layer
   *  records fold into the layer metrics. Returns the untraced loop's
   *  steps, wall seconds and op count, and the layer metrics. */
  def measure(spark: org.apache.spark.sql.SparkSession, counters: Counters, tr: Tracer,
      rec: Recorder, seconds: Double)(untraced: Double => (Int, Double))(
      traced: Double => Seq[Map[String, Double]]): (Int, Double, Int, Map[String, Double]) = {
    if (!tr.enabled) {
      val (n, wall) = untraced(seconds)
      return (n, wall, rec.ops.size, Map.empty)
    }
    val (cores, (n, wall)) = Main.coreMetrics(spark, counters)(untraced(seconds / 2))
    val split = rec.ops.size
    (n, wall, split, cores ++ Main.layerMetrics(traced(seconds / 2)))
  }

  /** The tracing overhead of one operation: `plain` and `traced` do the
   *  same work, `traced` with its spans and listener drains on. The two
   *  run in turn — plain first for an even `i`, traced first for an odd
   *  one — so neither always meets the warmer caches. Returns traced's
   *  result and its time minus plain's, in ms. */
  def overhead[T](i: Int)(plain: => Any)(traced: => T): (T, Double) =
    if (i % 2 == 0) {
      val p = timed(plain)._2
      val (out, t) = timed(traced)
      (out, t - p)
    } else {
      val (out, t) = timed(traced)
      (out, t - timed(plain)._2)
    }

  /** The JSON writer for everything the harness emits; it escapes every
   *  string it writes. */
  val json: com.fasterxml.jackson.databind.ObjectMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** A number as JSON can hold it: NaN and infinities become null. */
  def finite(d: Double): Any = if (d.isNaN || d.isInfinite) null else d
}
