package graftbench

import graft.Graft
import graft.filters.MetricLiteral
import graft.query.{DownsampleSpec, GroupBySpec, TsdbQuery}
import graft.rollup.Rollup
import graft.sources.TsdbViews
import graft.streaming.IngestJob
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Streaming ingest: time-ordered micro-batches through
 *  `IngestJob.processBatch` into a lake with a 1h primary rung, a 1d
 *  ladder rung, one count-min store and one DDSketch store. After each
 *  batch a routed "last 24 h of cpu by colo" query reads the live lake,
 *  timed on its own, and the 1h rung's lag behind the high-water mark is
 *  read; neither is part of the batch time. */
object IngestWorkload {

  /** Batches ingested, per set-up repetition, before timing starts. */
  val WarmUp = 1

  def config(lake: String): IngestJob.Config =
    IngestJob.Config(lakeDir = lake, checkpointDir = s"${lake}_checkpoint",
      rollupInterval = Some("1h"), rollupLadder = Seq("1d"),
      cms = Some(IngestJob.CmsConfig("metric")),
      dds = Seq(IngestJob.DdsConfig("metric")))

  private def batch(spark: SparkSession, file: String, cfg: IngestJob.Config,
      id: Int): IngestJob.BatchStats =
    IngestJob.processBatch(TsdbViews.pointsFromEvents(spark.read.parquet(file)), cfg,
      batchId = id.toLong)

  /** The live dashboard query over the 24 h before the high-water mark. */
  def liveQuery(hwm: Long): TsdbQuery = {
    val end = hwm - Math.floorMod(hwm, 3600L) + 3600
    TsdbQuery(MetricLiteral(Seq("cpu")), end - 86400, end,
      downsample = Some(DownsampleSpec("1h", "sum")),
      groupBy = Some(GroupBySpec(Seq("colo"), "sum")))
  }

  private def lakeBytes(dir: java.io.File): Long =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).map { f =>
      if (f.isDirectory) lakeBytes(f) else f.length
    }.sum

  def run(spark: SparkSession, in: Inputs, seconds: Double, tr: Tracer,
      counters: Counters): Outcome = {
    val setup = mutable.Map.empty[String, Double]
    val warm = in.reps.map { rep =>
      val cfg = config(s"$rep/lake")
      val files = Inputs.files(s"$rep/events")
      Harness.timed(files.take(WarmUp).zipWithIndex.map { case (f, i) => batch(spark, f, cfg, i) })
    }
    setup("warmup_s") = Harness.median(warm.map(_._2)) / 1e3
    val rep = in.reps.last
    val cfg = config(s"$rep/lake")
    val files = Inputs.files(s"$rep/events").toIndexedSeq
    val stats = mutable.ArrayBuffer.empty[IngestJob.BatchStats] ++= warm.last._1
    val lags = mutable.ArrayBuffer.empty[Double]

    Harness.phase("set-up done")
    val rec = new Recorder
    var next = WarmUp // the next batch file to ingest
    def step(traced: Boolean): Map[String, Double] = {
      val id = next
      next += 1
      if (!traced) {
        rec.op("batch")(batch(spark, files(id), cfg, id)).foreach { s =>
          stats += s
          rec.op("live")(Graft.queryRouted(spark, cfg, liveQuery(s.highWaterMark)).collect())
          lags += (s.highWaterMark - IngestJob.rungFrontier(spark, cfg, "1h")).toDouble
        }
        Map.empty
      } else {
        val r = mutable.Map.empty[String, Double]
        rec.op("batch")(tr.operation(id, "ingest.batch") {
          val s = tr.span("streaming.batch")(batch(spark, files(id), cfg, id))
          stats += s
          val c = tr.last.counts
          def stores(what: String)(keep: String => Boolean) = c.collect {
            case (k, v) if k.startsWith("store.") && k.endsWith(s".$what") &&
                keep(k.stripPrefix("store.").stripSuffix(s".$what")) => v
          }.sum
          r("streaming.batch_ms") = tr.last.ms
          r("streaming.append_ms") = stores("ms")(_ == "points")
          r("streaming.series_log_ms") = stores("ms")(_ == "series_log")
          r("streaming.latest_log_ms") = stores("ms")(_ == "latest_log")
          r("streaming.sketch_flush_ms") = stores("ms")(x => x == "cms" || x.startsWith("dds"))
          r("streaming.rung_flush_ms") = stores("ms")(_.startsWith("rollup"))
          r("streaming.rung_windows_flushed") = stores("parts")(_.startsWith("rollup"))
          r("streaming.files_written") = stores("files")(_ => true)
          r("streaming.bytes_written") = stores("bytes")(_ => true)
          r("streaming.admitted_rows") = s.admitted.toDouble
          r("streaming.dropped_rows") = s.dropped.toDouble
          s
        })
        // a batch cannot run twice on one lake state, so the tracing
        // overhead is measured on the live query, run plain and traced
        val live = liveQuery(stats.last.highWaterMark)
        def tracedLive(): Unit = tr.operation(id, "rollup.live_query") {
          val df = Graft.queryRouted(spark, cfg, live)
          tr.span("query.exec")(df.collect())
          val plan = PlanStats.of(df)
          tr.note(plan)
          val lake = (x: String) => x == "points" || x.startsWith("rollup")
          r("lake.files_read") = PlanStats.scans(plan, "files")(lake)
          r("lake.partitions_read") = PlanStats.scans(plan, "partitions")(lake)
          r("lake.bytes_read") = PlanStats.scans(plan, "bytes")(lake)
          r("lake.rows_read") = PlanStats.scans(plan, "rows")(lake)
          r("lake.scan_ms") = PlanStats.scans(plan, "ms")(lake)
          val served = if (PlanStats.scans(plan, "files")(_.startsWith("rollup")) > 0) 1.0 else 0.0
          r("rollup.rung_served_share") = served
          r("rollup.raw_fallbacks") = 1.0 - served
          r("rollup.rung_rows_read") = PlanStats.scans(plan, "rows")(_.startsWith("rollup"))
          r("rollup.tail_rows_read") = PlanStats.scans(plan, "rows")(_ == "points")
        }
        rec.op("live")(Harness.overhead(id)(Graft.queryRouted(spark, cfg, live).collect())(tracedLive()))
          .foreach { case (_, overhead) => r("trace.overhead_ms") = overhead }
        r.toMap
      }
    }

    val (n, _, untracedOps, perLayer) =
      Harness.measure(spark, counters, tr, rec, seconds) { seconds =>
        Harness.closedLoop(seconds, files.size - next)(_ => step(traced = false))
      } { seconds =>
        val records = mutable.ArrayBuffer.empty[Map[String, Double]]
        // two batches at least, so both orders of the overhead pair run
        Harness.closedLoop(seconds, files.size - next, atLeast = 2)(_ =>
          records += step(traced = true))
        records.toSeq
      }

    Harness.phase("measured loop done")
    // output checks, outside the timed loop
    val points = IngestJob.points(spark, cfg)
    val manifest = Harness.json.readTree(new java.io.File(s"$rep/inputs.json"))
    def generated(field: String): Long =
      (0 until next).map(b => manifest.get(field).get(b).asLong).sum
    rec.check("every generated point is admitted or dropped") {
      stats.map(_.total).sum == generated("batch_rows") &&
        stats.map(_.admitted).sum == points.count()
    }
    rec.check("exactly the planted future points are dropped") {
      stats.map(_.dropped).sum == generated("batch_future")
    }
    val dimCols = Seq("series_id", "metric", "tags", "first_seen", "last_seen")
    rec.check("seriesDim equals a recompute over the admitted points") {
      Harness.answerKey(IngestJob.seriesDim(spark, cfg).select(dimCols.map(col): _*)) ==
        Harness.answerKey(TsdbViews.seriesDim(points).select(dimCols.map(col): _*))
    }
    rec.check("latest equals a recompute over the admitted points") {
      val recomputed = points.groupBy(col("series_id"))
        .agg(max(col("ts")).as("last_ts"),
          max_by(col("value"), struct(col("ts"), col("seq"))).as("last_value"))
      Harness.answerKey(IngestJob.latest(spark, cfg).select("series_id", "last_ts", "last_value")) ==
        Harness.answerKey(recomputed)
    }
    cfg.rollupRungs.foreach { iv =>
      rec.check(s"every closed $iv rung window equals a recompute") {
        val stored = IngestJob.rollupRung(spark, cfg, iv)
        val w = IngestJob.rungWindowSeconds(iv)
        val windows = stored.select("segment_start").distinct().collect()
          .map(_.getAs[Number](0).longValue).toSeq
        val recomputed = Rollup.build(points.filter(
          (col("segment_start") - pmod(col("segment_start"), lit(w))).isin(windows: _*)), iv)
        val cols = Seq("series_id", "bucket_ts", "sum", "cnt", "min", "max", "last", "sumsq")
        (iv != "1h" || windows.nonEmpty) &&
          Harness.answerKey(stored.select(cols.map(col): _*)) ==
            Harness.answerKey(recomputed.select(cols.map(col): _*))
      }
    }

    val timed = stats.drop(warm.last._1.size).take(n)
    val batchMs = rec.ms("batch", until = untracedOps)
    val offeredPerS = timed.map(_.total).sum / (batchMs.sum / 1e3)
    val admitted = stats.map(_.admitted).sum
    val e2e = Map(
      "items_per_s" -> Metric(offeredPerS, "1/s"),
      "p50_ms" -> Harness.ms(Harness.median(batchMs)))
    val report = Map(
      "points_per_s" -> Metric(offeredPerS, "1/s"),
      "p90_ms" -> Harness.ms(Harness.percentile(batchMs, 0.9)),
      "samples" -> Harness.count(batchMs.size),
      "live_query_p50_ms" -> Harness.ms(Harness.median(rec.ms("live", until = untracedOps))),
      "rollup_lag_s" -> Metric(Harness.median(lags.toSeq), "s"),
      "stored_bytes_per_point" -> Metric(
        lakeBytes(new java.io.File(cfg.lakeDir)).toDouble / math.max(admitted, 1), "bytes"))
    Harness.phase("checks done")
    Outcome(rec.attempted, rec.failed, rec.errors, e2e, report, perLayer, setup.toMap,
      rec.ops.toSeq)
  }
}
