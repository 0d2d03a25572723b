package graftbench

import graft.Graft
import graft.filters.SeriesFilter
import graft.meta.MetaQueries
import graft.query.{QueryEngine, TsdbJson, TsdbQuery}
import graft.sources.TsdbViews
import graft.streaming.IngestJob
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The query service: one client issues a seeded mix of raw, routed, sql
 *  and meta queries against a lake that set-up ingested with a 1h + 1d
 *  rollup ladder. Every query's rows are collected, as a client would. */
object TsdbQueryWorkload {

  final case class Q(qid: Int, cls: String, json: String, sql: Option[String],
      metaKind: Option[String], metaKey: Option[String])

  val Classes: Seq[String] = Seq("raw", "routed", "sql", "meta")
  val View = "graft_points_routed"
  /** Queries run once before timing starts, so JIT and file-listing
   *  caches are warm. */
  val WarmUp = 3
  /** Routed, sql and meta answers checked per class after the loop. */
  val Checked = 2

  /** A query-service lake keeps 60 days, and admits up to 60 days past a
   *  batch's median time, so the whole generated history is admitted in
   *  one backfill batch (the default one-hour future cutoff would drop
   *  everything after the history's midpoint). */
  def config(lake: String): IngestJob.Config =
    IngestJob.Config(lakeDir = lake, checkpointDir = s"${lake}_checkpoint",
      retentionSec = 60L * 86400, maxFutureSec = 60L * 86400,
      rollupInterval = Some("1h"), rollupLadder = Seq("1d"))

  /** Ingest the whole events directory as one batch: every rung window
   *  before the last closes, the newest stays raw. */
  def buildLake(spark: SparkSession, events: String,
      cfg: IngestJob.Config): IngestJob.BatchStats =
    IngestJob.processBatch(TsdbViews.pointsFromEvents(spark.read.parquet(events)), cfg,
      batchId = 0L)

  def readMix(spark: SparkSession, path: String): IndexedSeq[Q] =
    spark.read.parquet(path).orderBy("qid").collect().map { r =>
      Q(r.getAs[Long]("qid").toInt, r.getAs[String]("cls"), r.getAs[String]("json"),
        Option(r.getAs[String]("sql")), Option(r.getAs[String]("meta_kind")),
        Option(r.getAs[String]("meta_key")))
    }.toIndexedSeq

  private def metaFilter(q: Q): SeriesFilter =
    TsdbJson.filterFromNode(Harness.json.readTree(q.json).get("filter")).filter

  /** A meta query over a series dimension and a latest-value table. */
  def metaFrame(q: Q, dim: DataFrame, latest: DataFrame): DataFrame = {
    val f = metaFilter(q)
    q.metaKind.get match {
      case "tag_values" => MetaQueries.tagValues(dim, f, q.metaKey.get)
      case "basic" => MetaQueries.basic(dim, f)
      case "last_value" =>
        latest.filter(SeriesFilter.compile(f, col("metric"), col("tags")))
          .select("series_id", "last_ts", "last_value")
    }
  }

  /** The frame a query class runs, built through graft's public API. */
  def frame(spark: SparkSession, cfg: IngestJob.Config, q: Q): DataFrame = q.cls match {
    case "raw" => QueryEngine.run(IngestJob.points(spark, cfg), TsdbJson.parseQuery(q.json))
    case "routed" => Graft.queryRouted(spark, cfg, TsdbJson.parseQuery(q.json))
    case "sql" => spark.sql(q.sql.get)
    case "meta" => metaFrame(q, IngestJob.seriesDim(spark, cfg), IngestJob.latest(spark, cfg))
  }

  /** The same answer computed another way: routed and sql by the raw
   *  engine over the LWW points, meta from a recompute over the points. */
  def reference(spark: SparkSession, cfg: IngestJob.Config, q: Q): DataFrame = {
    val points = IngestJob.points(spark, cfg)
    q.cls match {
      case "routed" | "sql" => QueryEngine.run(points, TsdbJson.parseQuery(q.json))
      case "meta" =>
        val latest = points.groupBy(col("series_id"))
          .agg(first(col("metric")).as("metric"), first(col("tags")).as("tags"),
            max(col("ts")).as("last_ts"),
            max_by(col("value"), struct(col("ts"), col("seq"))).as("last_value"))
        metaFrame(q, TsdbViews.seriesDim(points), latest)
    }
  }

  def run(spark: SparkSession, in: Inputs, seconds: Double, tr: Tracer,
      counters: Counters): Outcome = {
    val setup = mutable.Map.empty[String, Double]
    // set-up: one lake per generated input set, timed; the last is served
    val builds = in.reps.map(rep => Harness.timed(buildLake(spark, s"$rep/events",
      config(s"$rep/lake"))))
    val cfg = config(s"${in.reps.last}/lake")
    val mix = readMix(spark, s"${in.reps.last}/queries.parquet")
    setup("build_s") = Harness.median(builds.map(_._2)) / 1e3
    val (_, warmMs) = Harness.timed {
      Graft.registerRouted(spark, cfg, View)
      mix.take(WarmUp).foreach(q => frame(spark, cfg, q).collect())
    }
    setup("warmup_s") = warmMs / 1e3

    Harness.phase("set-up done")
    val rec = new Recorder
    val keys = mutable.LinkedHashMap.empty[Int, (Q, (Long, Long))]
    def untraced(seconds: Double): (Int, Double) = Harness.closedLoop(seconds) { i =>
      val q = mix(i % mix.size)
      rec.op(q.cls)(frame(spark, cfg, q).collect()).foreach { rows =>
        if (q.cls != "raw" && !keys.contains(q.qid) &&
            keys.values.count(_._1.cls == q.cls) < Checked)
          keys(q.qid) = (q, Harness.answerKey(rows))
      }
    }

    val (_, wall, untracedOps, perLayer) =
      Harness.measure(spark, counters, tr, rec, seconds)(untraced) { seconds =>
        // classes in turn, each at least once, so every layer is traced;
        // each query runs plain and traced for the overhead, then a raw
        // one runs again stage by stage
        val byClass = Classes.map(c => mix.filter(_.cls == c))
        val records = mutable.ArrayBuffer.empty[Map[String, Double]]
        Harness.closedLoop(seconds, atLeast = Classes.size) { i =>
          val qs = byClass(i % Classes.size)
          val q = qs(i / Classes.size % qs.size)
          rec.op(q.cls) {
            val (r, overhead) =
              Harness.overhead(i)(frame(spark, cfg, q).collect())(traced(spark, cfg, q, tr, i))
            val staged = if (q.cls != "raw") Map.empty[String, Double]
              else tr.operation(i, "tsdb.raw.stages")(
                stages(spark, cfg, TsdbJson.parseQuery(q.json), tr))
            records += r ++ staged + ("trace.overhead_ms" -> overhead)
          }
        }
        records.toSeq
      }

    Harness.phase("measured loop done")
    // output checks, outside the timed loop
    rec.check("the lake build admits every generated point") {
      builds.forall { case (s, _) => s.total > 0 && s.dropped == 0 }
    }
    keys.values.foreach { case (q, got) =>
      rec.check(s"${q.cls} query ${q.qid} equals its reference answer") {
        Harness.answerKey(reference(spark, cfg, q).collect()) == got
      }
    }
    Classes.filter(_ != "raw").foreach { c =>
      rec.check(s"at least one $c answer was checked")(keys.values.exists(_._1.cls == c))
    }

    val all = rec.ms(until = untracedOps)
    val e2e = Map(
      "items_per_s" -> Metric(all.size / wall, "1/s"),
      "p50_ms" -> Harness.ms(Harness.median(all)))
    val report = Map(
      "queries_per_s" -> Metric(all.size / wall, "1/s"),
      "p90_ms" -> Harness.ms(Harness.percentile(all, 0.9)),
      "samples" -> Harness.count(all.size)) ++
      Classes.map(c => s"${c}_p50_ms" -> Harness.ms(Harness.median(rec.ms(c, until = untracedOps))))
    Harness.phase("checks done")
    Outcome(rec.attempted, rec.failed, rec.errors, e2e, report, perLayer, setup.toMap,
      rec.ops.toSeq)
  }

  /** One query, traced layer by layer: parse, build, plan and execute the
   *  fused plan — the same work as `frame(...).collect()`. Returns the
   *  op's layer record. */
  def traced(spark: SparkSession, cfg: IngestJob.Config, q: Q, tr: Tracer,
      op: Int): Map[String, Double] = tr.operation(op, s"tsdb.${q.cls}") {
    val r = mutable.Map.empty[String, Double]
    def took(k: String): Unit = r(k) = tr.last.ms
    val parsed: Option[TsdbQuery] =
      if (q.cls == "raw" || q.cls == "routed") {
        val p = tr.span("query.parse")(TsdbJson.parseQuery(q.json)); took("query.parse_ms"); Some(p)
      } else None
    val df = tr.span("query.build") {
      val d = q.cls match {
        case "raw" => QueryEngine.run(IngestJob.points(spark, cfg), parsed.get)
        case "routed" => Graft.queryRouted(spark, cfg, parsed.get)
        case _ => frame(spark, cfg, q)
      }
      d.queryExecution.analyzed
      d
    }
    took("query.build_ms")
    if (q.cls == "sql") {
      tr.span("plans.optimize")(df.queryExecution.optimizedPlan); took("plans.optimize_ms")
    }
    tr.span("query.plan")(df.queryExecution.executedPlan); took("query.plan_ms")
    val rows = tr.span("query.exec")(df.collect())
    val plan = PlanStats.of(df)
    tr.note(plan)
    q.cls match {
      case "meta" =>
        r("meta.exec_ms") = tr.last.ms
        r("meta.log_rows_folded") = PlanStats.scans(plan, "rows")(_.endsWith("_log"))
      case c =>
        r("query.exec_ms") = tr.last.ms
        r("query.exchanges") = plan("exchanges")
        r("query.sorts") = plan("sorts")
        val lake = (s: String) => s == "points" || s.startsWith("rollup")
        r("lake.files_read") = PlanStats.scans(plan, "files")(lake)
        r("lake.partitions_read") = PlanStats.scans(plan, "partitions")(lake)
        r("lake.bytes_read") = PlanStats.scans(plan, "bytes")(lake)
        r("lake.rows_read") = PlanStats.scans(plan, "rows")(lake)
        r("lake.scan_ms") = PlanStats.scans(plan, "ms")(lake)
        if (c != "raw") {
          val rung = PlanStats.scans(plan, "rows")(_.startsWith("rollup"))
          val rungScans = PlanStats.scans(plan, "files")(_.startsWith("rollup"))
          val served = if (rungScans > 0) 1.0 else 0.0
          if (c == "routed") {
            r("rollup.rung_served_share") = served
            r("rollup.rung_rows_read") = rung
            r("rollup.tail_rows_read") = PlanStats.scans(plan, "rows")(_ == "points")
            r("rollup.raw_fallbacks") = 1.0 - served
          } else {
            r("plans.sql_rewritten_share") = served
            r("plans.partitions_pruned") =
              PlanStats.scans(plan, "partitions_total")(lake) -
                PlanStats.scans(plan, "partitions")(lake)
          }
        }
    }
    if (q.cls == "raw")
      r("filters.rows_per_result") = r("lake.rows_read") / math.max(1, rows.length)
    r.toMap
  }

  /** The raw pipeline one stage at a time, as `QueryEngine.run` composes
   *  it for the filter -> dedupe -> rate -> downsample -> group-by shape,
   *  each stage materialized before the next starts. */
  private def stages(spark: SparkSession, cfg: IngestJob.Config, q: TsdbQuery,
      tr: Tracer): Map[String, Double] = {
    val r = mutable.Map.empty[String, Double]
    val pred = SeriesFilter.compile(q.filter, col("metric"), col("tags")) &&
      (if (q.explicitTags) SeriesFilter.explicitTagsPredicate(q.filter, col("tags")) else lit(true))
    val base = IngestJob.points(spark, cfg)
      .filter(col("ts") >= lit(q.start) && col("ts") < lit(q.end) && pred)
    val held = mutable.ArrayBuffer.empty[DataFrame]
    def stage(name: String)(df: => DataFrame): DataFrame = {
      val (p, rows) = tr.span(s"query.$name")(Harness.materialize(df))
      r(s"query.${name}_ms") = tr.last.ms
      tr.note(Map("rows" -> rows.toDouble))
      held += p
      p
    }
    val deduped = stage("dedupe")(QueryEngine.dedupeConfigured(base))
    r("filters.series_matched") = deduped.select("series_id").distinct().count().toDouble
    val rated = q.rate.fold(deduped)(spec => stage("rate")(QueryEngine.rate(deduped, spec)))
    val ds = q.downsample.fold(rated)(spec =>
      stage("downsample")(QueryEngine.downsample(rated, spec, q.start, q.end)))
    q.groupBy.foreach(spec => stage("groupby")(QueryEngine.groupBySpatial(ds, spec)))
    held.foreach(_.unpersist())
    r.toMap
  }
}
