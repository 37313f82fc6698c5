package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query catalog (`SparkEntry.queries`) over generated tables, one
  * query at a time in an order drawn from the seed. The timed pass is the
  * catalog's first execution in the JVM (plan, code generation and JIT
  * included: each query's cost as an ad-hoc query in a fresh session);
  * each result goes through a Parquet sink whose files the output check
  * reads. The warm passes of traced runs cover the first
  * [[AnalyticsWorkload.OverheadQueries]] queries of that order. */
final class AnalyticsWorkload(spark: SparkSession, dataDir: String,
                              outDir: String, seed: Long) extends Workload {
  val name = "analytics"

  private val catalog = SparkEntry.queries.toSeq.sortBy(_._1)
  private val order = new scala.util.Random(seed).shuffle(catalog)

  private val tables = {
    val s = Files.list(Paths.get(dataDir))
    try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toVector.sorted
    finally s.close()
  }

  /** The session loads its inputs: every table the catalog reads is
    * opened (schema and footers) and scanned in full through a `noop`
    * sink. The first repetition also carries the session's first jobs, so
    * the first query in the seed's order does not; no catalog query runs
    * before the timed pass. */
  def setupOnce(): Unit = tables.foreach { t =>
    spark.read.parquet(t).write.format("noop").mode("overwrite").save()
  }

  override def prepare(): Unit = {
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, "oracle_sql.json"),
      Json(SparkEntry.oracleSql.toSeq.sortBy(_._1)))
  }

  /** A query that throws must count as failed, never as a fast time. */
  def injectFailures(): (Int, Seq[String]) = {
    val failing: (SparkSession, String) => DataFrame = (s, _) =>
      s.range(10).selectExpr("raise_error('injected failure') AS x")
    (1, runOne("q_injected_failure", failing)._2.toSeq)
  }

  private def runOne(q: String, fn: (SparkSession, String) => DataFrame)
      : (Step, Option[String]) = {
    val t0 = Clock.nowUs
    val err = try {
      fn(spark, dataDir).write.mode("overwrite").parquet(s"$outDir/$q")
      None
    } catch { case e: Throwable => Some(s"$q threw: $e") }
    (Step(s"query.$q", t0, Clock.nowUs), err)
  }

  def pass(idx: Int): PassOut = {
    val cpu0 = Clock.processCpuS
    val t0 = Clock.nowUs
    val queries = if (idx == 0) order else order.take(AnalyticsWorkload.OverheadQueries)
    val runs = queries.map { case (q, fn) => runOne(q, fn) }
    val t1 = Clock.nowUs
    val cpuS = Clock.processCpuS - cpu0
    val failures = runs.flatMap(_._2)
    val perQuery = runs.map(_._1.durS)
    PassOut(s"queries.$idx", t0, t1, cpuS, runs.map(_._1),
      (runs.size - failures.size).toLong, runs.size, failures, Seq(
        Figure("query_total_s", (t1 - t0) / 1e6, "s"),
        Figure("query_s.p50", Stats.quantile(perQuery, 0.5), "s"),
        Figure("query_s.p75", Stats.quantile(perQuery, 0.75), "s"),
        Figure("query_cpu_s", cpuS, "CPU-s")))
  }

  def probes(tracer: Tracer, parent: Int): Seq[(String, Any)] = Nil

  /** No crawl warehouse is written: the frontier sizes are zero. */
  def layerFigures: Seq[(String, Double)] = Seq(
    "frontier.warehouse_mb" -> 0.0, "frontier.bloom_mb" -> 0.0,
    "frontier.seen_delta_mb" -> 0.0, "frontier.head_mb" -> 0.0,
    "frontier.backlog_mb" -> 0.0, "frontier.items_mb" -> 0.0,
    "corpus.mb" -> CrawlWorkload.dirBytes(Paths.get(dataDir)) / 1e6)

  override def tracedReport(p: PassOut, rec: JobRecorder): Seq[(String, Any)] = {
    val perQuery = p.steps.map(s => (s, JobTally.of(s.startUs, s.endUs, 1, rec).exec))
    val families = perQuery.groupBy { case (s, _) =>
      AnalyticsWorkload.family(s.name.stripPrefix("query."))
    }.toSeq.sortBy(_._1)
    perQuery.sortBy(_._1.name).map { case (s, _) => s"${s.name}.s" -> s.durS } ++
      families.flatMap { case (f, qs) =>
        val t = qs.map(_._2).foldLeft(ExecTotals())(_ + _)
        Seq(s"ops.$f.s" -> qs.map(_._1.durS).sum, s"ops.$f.cpu_s" -> t.cpuS,
          s"ops.$f.shuffle_mb" -> (t.shuffleWriteMb + t.shuffleReadMb),
          s"ops.$f.spill_mb" -> t.spillMb)
      }
  }
}

object AnalyticsWorkload {
  val OverheadQueries = 8

  /** Operator family of a catalog query, by its name. */
  def family(q: String): String = q match {
    case n if n.startsWith("q_dedup_") || n == "q_decontaminate" => "dedup"
    case n if n.startsWith("q_ann_") => "ann"
    case n if n.startsWith("q_multimodal_") => "multimodal"
    case n if n.startsWith("q_t1_") || n.startsWith("q_t2_") => "stream"
    case n if n.startsWith("q_pipeline_") || n.startsWith("q_weibo_") => "pipeline"
    case n if Seq("q_text_", "q_a2_", "q_j2_", "q_j3_", "q_chart_", "q_f8_",
        "q_sentiment_", "q_summary_").exists(n.startsWith) => "text"
    case _ => "relational"
  }
}
