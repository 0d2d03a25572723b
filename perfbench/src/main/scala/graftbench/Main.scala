package graftbench

import org.apache.spark.sql.BenchAccess
import org.apache.spark.sql.SparkSession

/** Where a run's generated inputs live: one directory per set-up
 *  repetition (`rep0`, `rep1`, ...), each written by the generators from
 *  the same seed. */
final case class Inputs(reps: Seq[String])

object Inputs {
  /** The parquet files of a generated directory, in name order. */
  def files(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted
}

/** The benchmark's JVM side: starts one Spark session at local[cores],
 *  runs one workload's set-up, closed loop and output checks, and writes
 *  the outcome as JSON for `run.py`.
 *
 *  {{{
 *  graftbench.Main --workload tsdb_query --seconds 10 --trace 0
 *    --work <dir> --reps 3 --cores 4 --out <result.json>
 *  }}}
 */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = a("cores").toInt
    val in = Inputs((0 until a("reps").toInt).map(i => s"$work/rep$i"))

    val (spark, sessionMs) = Harness.timed {
      graft.core.GraftSession.builder(cores.toString)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    Harness.phase("session started")
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val tracer = new Tracer(spark, counters, trace)
    val out = try {
      val o = workload match {
        case "tsdb_query" => TsdbQueryWorkload.run(spark, in, seconds, tracer, counters)
        case "ingest" => IngestWorkload.run(spark, in, seconds, tracer, counters)
        case "corpus_dedup" => CorpusWorkload.run(spark, in, seconds, tracer, counters)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      }
      if (trace) tracer.write(s"$work/spans.json")
      o.copy(e2e = o.e2e + ("peak_rss_mb" -> Metric(Harness.peakRssMb(), "MB")),
        setup = o.setup + ("session_s" -> sessionMs / 1e3))
    } finally spark.stop()
    Harness.phase("session stopped")

    def metrics(m: Map[String, Metric]) =
      m.map { case (k, v) => k -> Map("value" -> Harness.finite(v.value), "unit" -> v.unit) }
    def numbers(m: Map[String, Double]) = m.map { case (k, v) => k -> Harness.finite(v) }
    Harness.json.writeValue(new java.io.File(a("out")), Map(
      "attempted" -> out.attempted, "failed" -> out.failed, "errors" -> out.errors,
      "e2e" -> metrics(out.e2e), "report" -> metrics(out.report),
      "per_layer" -> numbers(out.perLayer), "setup" -> numbers(out.setup),
      "spans" -> tracer.all.size,
      "ops" -> out.ops.map(o => Seq(o.cls, o.ms, o.ok))))
  }

  /** Run `block` — a closed loop returning (ops, wall seconds) — and
   *  derive the `graft.core` metrics from the Spark counters it accrued:
   *  per-op task seconds, jobs, stages, tasks, shuffle and spill, the
   *  JVM's garbage-collection time, and the CPU utilisation task-seconds
   *  / (wall × cores). */
  def coreMetrics(spark: SparkSession, counters: Counters)(block: => (Int, Double))
      : (Map[String, Double], (Int, Double)) = {
    def gcMs: Double = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .toArray(Array.empty[java.lang.management.GarbageCollectorMXBean])
      .map(_.getCollectionTime.toDouble).sum
    BenchAccess.drain(spark.sparkContext)
    val before = counters.snapshot()
    val gc0 = gcMs
    val (n, wall) = block
    val gc = gcMs - gc0
    BenchAccess.drain(spark.sparkContext)
    val d = Counters.delta(counters.snapshot(), before).withDefaultValue(0.0)
    val ops = math.max(n, 1).toDouble
    val cores = spark.sparkContext.defaultParallelism
    val m = Map(
      "core.task_s" -> d("task_ms") / 1e3 / ops,
      "core.cpu_util" -> d("task_ms") / 1e3 / (wall * cores),
      "core.jobs" -> d("jobs") / ops,
      "core.stages" -> d("stages") / ops,
      "core.tasks" -> d("tasks") / ops,
      "core.shuffle_write_bytes" -> d("shuffle_write_bytes") / ops,
      "core.spill_bytes" -> d("spill_bytes") / ops,
      "core.gc_s" -> gc / 1e3 / ops)
    (m, (n, wall))
  }

  /** Fold the traced ops' layer records into one value per metric: the
   *  median over ops for a time (`_ms`), the mean for a count or share.
   *  Units come from `BENCHMARK.json`. */
  def layerMetrics(records: Seq[Map[String, Double]]): Map[String, Double] =
    records.flatMap(_.keys).distinct.map { k =>
      val xs = records.flatMap(_.get(k))
      k -> (if (k.endsWith("_ms")) Harness.median(xs) else Harness.mean(xs))
    }.toMap
}
