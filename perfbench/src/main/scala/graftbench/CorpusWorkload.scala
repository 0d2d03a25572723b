package graftbench

import graft.pipeline.{Corpus, Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** The LLM-data batch job: `Corpus.select` (quality gate, exact canonical,
 *  MinHash-LSH near-duplicate cluster representative) over a seeded
 *  corpus, repeated; each repetition reads the corpus and collects the
 *  kept document ids. */
object CorpusWorkload {

  val NearThreshold = 0.7
  /** Selections run after set-up and before timing. The JIT keeps
   *  compiling this workload's hot paths over its first ~6 selections;
   *  without these the timed ones straddle a step whose position varies. */
  val WarmUp = 3

  private def docs(spark: SparkSession, rep: String): DataFrame =
    spark.read.parquet(s"$rep/corpus.parquet")

  private def select(spark: SparkSession, rep: String): Set[Long] =
    Corpus.select(docs(spark, rep), NearThreshold).select("doc_id").collect()
      .map(_.getLong(0)).toSet

  def run(spark: SparkSession, in: Inputs, seconds: Double, tr: Tracer,
      counters: Counters): Outcome = {
    val setup = mutable.Map.empty[String, Double]
    // set-up: a first selection per generated input set, timed; the last
    // set is the one measured
    val first = in.reps.map(rep => Harness.timed(select(spark, rep))._2)
    setup("first_select_s") = Harness.median(first) / 1e3
    val rep = in.reps.last
    val nDocs = docs(spark, rep).count()
    setup("warmup_s") = Harness.timed((1 to WarmUp).foreach(_ => select(spark, rep)))._2 / 1e3

    Harness.phase("set-up done")
    val rec = new Recorder
    val kept = mutable.ArrayBuffer.empty[Set[Long]]
    def untraced(seconds: Double): (Int, Double) = Harness.closedLoop(seconds) { _ =>
      rec.op("select")(select(spark, rep)).foreach(kept += _)
    }
    val (_, wall, untracedOps, perLayer) =
      Harness.measure(spark, counters, tr, rec, seconds)(untraced) { seconds =>
        // each op selects plain and traced for the overhead, then runs the
        // pipeline again stage by stage for the layer metrics; two ops at
        // least, so both orders of the overhead pair run
        val records = mutable.ArrayBuffer.empty[Map[String, Double]]
        Harness.closedLoop(seconds, atLeast = 2)(i => rec.op("select") {
          val (k, overhead) = Harness.overhead(i)(select(spark, rep))(
            tr.operation(i, "corpus.select")(select(spark, rep)))
          kept += k
          records += stages(spark, rep, tr, i) + ("trace.overhead_ms" -> overhead)
        })
        records.toSeq
      }

    Harness.phase("measured loop done")
    // output checks, outside the timed loop
    val truth = spark.read.parquet(s"$rep/truth.parquet")
    val exactDups = truth.filter(col("kind") === "exact").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    rec.check("at least one selection ran")(kept.nonEmpty)
    rec.check("every planted exact duplicate is removed") {
      exactDups.nonEmpty && kept.forall(k => (k & exactDups).isEmpty)
    }
    rec.check("the kept set is identical across repetitions")(kept.distinct.size <= 1)

    val ms = rec.ms(until = untracedOps)
    val e2e = Map(
      "items_per_s" -> Metric(ms.size * nDocs / wall, "1/s"),
      "p50_ms" -> Harness.ms(Harness.median(ms)))
    val nearDups = truth.filter(col("kind") === "near").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val report = Map(
      "docs_per_s" -> Metric(ms.size * nDocs / wall, "1/s"),
      "p90_ms" -> Harness.ms(Harness.percentile(ms, 0.9)),
      "samples" -> Harness.count(ms.size),
      "kept_docs" -> Harness.count(kept.headOption.map(_.size).getOrElse(0).toDouble),
      "near_dups_removed_share" -> Metric(kept.headOption.map(k =>
        (nearDups -- k).size.toDouble / math.max(nearDups.size, 1)).getOrElse(0.0), "ratio"))
    Harness.phase("checks done")
    Outcome(rec.attempted, rec.failed, rec.errors, e2e, report, perLayer, setup.toMap,
      rec.ops.toSeq)
  }

  /** One selection's pipeline, stage by stage, each stage materialized
   *  before the next starts. `nearDuplicates` takes documents, so its
   *  span re-derives signatures and candidates on its own. */
  def stages(spark: SparkSession, rep: String, tr: Tracer, op: Int): Map[String, Double] =
    tr.operation(op, "corpus.stages") {
      val r = mutable.Map.empty[String, Double]
      val held = mutable.ArrayBuffer.empty[DataFrame]
      def stage(name: String)(df: => DataFrame): (DataFrame, Long) = {
        val (p, rows) = tr.span(s"pipeline.$name")(Harness.materialize(df))
        r(s"pipeline.${name}_ms") = tr.last.ms
        tr.note(Map("rows" -> rows.toDouble))
        held += p
        (p, rows)
      }
      val d = docs(spark, rep)
      stage("quality")(TextAnalysis.quality(d))
      stage("exact")(Dedup.exact(d))
      val (shingles, nShingles) = stage("shingle")(Dedup.shingleRows(d))
      val (sigs, _) = stage("signature")(Dedup.signaturesFromShingles(shingles))
      val (_, nCand) = stage("lsh_join")(Dedup.candidatePairsFromSignatures(sigs, Int.MaxValue))
      val (near, nNear) = stage("near_dup")(Dedup.nearDuplicates(d, NearThreshold))
      stage("collapse")(Dedup.duplicateClusters(near))
      r("pipeline.shingle_rows") = nShingles.toDouble
      r("pipeline.candidate_pairs") = nCand.toDouble
      r("pipeline.near_pairs") = nNear.toDouble
      r("pipeline.verify_yield") = nNear.toDouble / math.max(nCand, 1)
      held.foreach(_.unpersist())
      r.toMap
    }
}
