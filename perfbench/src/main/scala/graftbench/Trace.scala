package graftbench

import org.apache.spark.sql.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, SortExec, FileSourceScanExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.{InsertIntoHadoopFsRelationCommand, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import scala.collection.mutable

/** Session-wide Spark counters: jobs, stages, tasks, task time, shuffle
 *  and spill from the scheduler events, plus per-STORE write time,
 *  files and bytes from each SQL execution whose plan writes under a lake
 *  directory (the store is the path's last component: `points`,
 *  `series_log`, `rollup_1d`, ...). Read through [[snapshot]] after the
 *  bus is drained; a span's counts are the difference of two snapshots. */
final class Counters extends SparkListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val sqlStart = mutable.Map.empty[Long, Long]

  private def add(k: String, v: Double): Unit = c(k) += v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { add("jobs", 1) }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { add("stages", 1) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("task_ms", m.executorRunTime.toDouble)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => sqlStart(s.executionId) = s.time
      case s: SparkListenerSQLExecutionEnd =>
        val t0 = sqlStart.remove(s.executionId)
        val written = BenchAccess.queryExecution(s).flatMap(qe =>
          PlanStats.nodes(qe.executedPlan).collectFirst {
            case DataWritingCommandExec(i: InsertIntoHadoopFsRelationCommand, _) => i
          })
        written.foreach { i =>
          val store = Counters.storeOf(i.outputPath.toString)
          t0.foreach(t => add(s"store.$store.ms", (s.time - t).toDouble))
          def m(k: String) = i.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
          add(s"store.$store.files", m("numFiles"))
          add(s"store.$store.bytes", m("numOutputBytes"))
          add(s"store.$store.parts", m("numParts"))
          add(s"store.$store.rows", m("numOutputRows"))
        }
      case _ =>
    }
  }

  def snapshot(): Map[String, Double] = synchronized(c.toMap)
}

object Counters {
  /** The lake store a path belongs to: the component after `lake/`. */
  def storeOf(path: String): String = {
    val parts = path.split('/')
    val i = parts.lastIndexOf("lake")
    if (i >= 0 && i + 1 < parts.length) parts(i + 1) else parts.last
  }

  def delta(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }.filter(_._2 != 0.0)
}

/** One span: a named interval at a layer boundary, its parent span, the
 *  operation it belongs to, and the Spark counters accrued inside it
 *  (plus any counts the caller attaches). */
final case class Span(id: Int, name: String, parent: Int, op: Long,
    startNs: Long, endNs: Long, counts: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Keeps spans in memory; [[write]] stores them once, at the end of the
 *  run. When disabled every call is a plain pass-through, so the untraced
 *  path pays nothing. */
final class Tracer(spark: SparkSession, counters: Counters, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var op = -1L

  def all: Seq[Span] = spans.toSeq

  /** Run `body` as operation `id`: its spans carry that id. */
  def operation[T](id: Long, name: String)(body: => T): T = {
    op = id
    try span(name)(body) finally op = -1L
  }

  /** Time `body` as a span under the innermost open one, with the Spark
   *  counters accrued inside it. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    BenchAccess.drain(spark.sparkContext)
    val before = counters.snapshot()
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    val out = try body finally stack = stack.tail
    val t1 = System.nanoTime()
    BenchAccess.drain(spark.sparkContext)
    spans += Span(id, name, parent, op, t0, t1, Counters.delta(counters.snapshot(), before))
    out
  }

  /** The span that closed last. */
  def last: Span = spans.last

  /** Attach counts measured outside the timed interval to the span that
   *  closed last (e.g. rows of a materialized stage, plan counts). */
  def note(counts: Map[String, Double]): Unit =
    if (enabled && spans.nonEmpty) spans(spans.size - 1) = last.copy(counts = last.counts ++ counts)

  def write(path: String): Unit = {
    val rows = spans.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "counts" -> s.counts)
    }
    Harness.json.writeValue(new java.io.File(path), Map("spans" -> rows))
  }
}

/** Counts read off an executed physical plan (after the action ran, so
 *  adaptive plans are final and SQL metrics are filled in). */
object PlanStats {

  /** Every node of a physical plan, looking inside adaptive plans and
   *  query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r) // its child was counted where it first ran
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** `exchanges`, `sorts`, and per scanned store `scan.<store>.{rows,
   *  files,bytes,partitions,partitions_total,ms}`. */
  def of(df: DataFrame): Map[String, Double] = {
    val all = nodes(df.queryExecution.executedPlan)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    out("exchanges") = all.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble
    out("sorts") = all.count(_.isInstanceOf[SortExec]).toDouble
    all.collect { case s: FileSourceScanExec => s }.foreach { s =>
      val store = Counters.storeOf(s.relation.location.rootPaths.head.toString)
      def m(k: String) = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
      out(s"scan.$store.rows") += m("numOutputRows")
      out(s"scan.$store.files") += m("numFiles")
      out(s"scan.$store.bytes") += m("filesSize")
      out(s"scan.$store.ms") += m("scanTime")
      val total = s.relation.location match {
        case p: PartitioningAwareFileIndex => p.partitionSpec().partitions.size.toDouble
        case _ => 0.0
      }
      out(s"scan.$store.partitions_total") += total
      out(s"scan.$store.partitions") += (if (total > 0) m("numPartitions") else 0.0)
    }
    out.toMap
  }

  /** Sum of `scan.<store>.<what>` over the stores `keep` selects. */
  def scans(stats: Map[String, Double], what: String)(keep: String => Boolean): Double =
    stats.collect {
      case (k, v) if k.startsWith("scan.") && k.endsWith(s".$what") &&
          keep(k.stripPrefix("scan.").stripSuffix(s".$what")) => v
    }.sum
}
