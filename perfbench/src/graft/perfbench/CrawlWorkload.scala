package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import java.time.YearMonth
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import graft.core.{Crawl, UrlCanon}
import graft.corpus.{CorpusWriter, SyntheticWeb, WebSpec}
import graft.driver.CrawlLoop
import graft.frontier.{ShardedBloom, Snapshots}
import graft.perfbench.CrawlWorkload.deleteTree
import graft.sim.ReferenceSimulator
import org.apache.spark.sql.SparkSession

/** The crawl workload: the corpus, the crawl configuration, and the round
  * after which the crawl is stopped and resumed from its snapshot. */
final case class CrawlShape(spec: WebSpec, cfg: Crawl.CrawlConfig,
                            stopRound: Int, expectedUrls: Long)

object CrawlShape {
  /** Uniform hosts, fat pages, a per-host budget no host reaches: the
    * crawl drains in four rounds of very different sizes (one seed round,
    * then thousands of pages), so the fetch join takes its broadcast branch
    * in the small rounds and its shuffled branch in the large ones (with
    * the gate the benchmark sets). The crawl stops after round 2 and
    * resumes from the committed snapshot. */
  def crawl(seed: Long, smoke: Boolean): CrawlShape = CrawlShape(
    WebSpec(nForums = if (smoke) 4 else 8, indexPagesPerForum = 2,
      postsPerIndexPage = 50, maxRepliesPerPost = 10, commentsPerPage = 5,
      maxCommentPages = 1, nHosts = 64, nUsers = 4000, seed = seed,
      contentScale = 3, hostSkew = false),
    Crawl.CrawlConfig(startMonth = YearMonth.of(2019, 1),
      endMonth = YearMonth.of(2019, 12), today = YearMonth.of(2019, 6),
      indexPageBudget = 1, perHostBudget = 65536, maxRounds = 12,
      verifyText = false),
    stopRound = 2, expectedUrls = 1L << 20)
}

final class CrawlWorkload(spark: SparkSession, val name: String,
                          shape: CrawlShape, work: String)
    extends Workload {

  private val spec = shape.spec
  private val cfg = shape.cfg
  private val seeds = SyntheticWeb.seeds(spec, spec.nForums)
  private val pagesPath = s"$work/pages"
  private lazy val pages = CorpusWriter.read(spark, pagesPath)
  /** The timed pass's warehouse, kept for the layer figures and probes. */
  private val timedWarehouse = s"$work/wh-0"
  private var simS = Double.NaN
  /** Expected outputs from the single-threaded simulator: the seen-set
    * digest and the per-round fetch counts. Computed after the timed
    * pass, on first use. */
  private lazy val (simDigest, simPerRound) = expectFromSimulator()

  def setupOnce(): Unit = CorpusWriter.write(spark, spec, pagesPath)

  private def expectFromSimulator(): ((Long, Long), Seq[Long]) = {
    val s0 = Clock.nowUs
    val sim = ReferenceSimulator.run(spec, seeds, cfg)
    simS = (Clock.nowUs - s0) / 1e6
    val urls = sim.fetchOrder.map(_._2) ++ sim.misses.map(_._2)
    require(urls.map(UrlCanon.urlHash).toSet == sim.seen,
      "simulator: seen set is not the fetched+missed urls (did it drain?)")
    val byRound = sim.fetchOrder.groupBy(_._1).map { case (r, xs) => r -> xs.size.toLong }
    (CrawlWorkload.digest(urls.iterator.map(u =>
      (UrlCanon.urlHash(u), UrlCanon.urlHash2(u)))),
      (1 to sim.rounds).map(r => byRound.getOrElse(r, 0L)))
  }

  /** A crawl capped one round in cannot drain: it must count as failed. */
  def injectFailures(): (Int, Seq[String]) = {
    val wh = s"$work/wh-inject"
    val s = CrawlLoop.run(spark, pages, seeds, cfg.copy(maxRounds = 1), wh,
      shape.expectedUrls)
    deleteTree(Paths.get(wh))
    (1, if (s.pendingAfter > 0) Seq(s"injected crawl did not drain " +
      s"(${s.pendingAfter} urls pending after ${s.rounds} rounds)") else Nil)
  }

  /** The timed pass is one crawl: stopped after the stop round, then
    * resumed until drained. The warm passes of a traced run, which only
    * measure the tracing overhead, crawl up to the stop round. */
  def pass(idx: Int): PassOut = {
    val wh = s"$work/wh-$idx"
    val cpu0 = Clock.processCpuS
    val t0 = Clock.nowUs
    var resumeCall = 0L
    val outcome = try {
      val first = CrawlLoop.run(spark, pages, seeds,
        cfg.copy(maxRounds = shape.stopRound), wh, shape.expectedUrls)
      resumeCall = Clock.nowUs
      Right((first, if (idx > 0) None else Some(CrawlLoop.run(spark, pages,
        seeds, cfg, wh, shape.expectedUrls, resume = true))))
    } catch { case e: Throwable => Left(s"crawl threw: $e") }
    val t1 = Clock.nowUs
    val cpuS = Clock.processCpuS - cpu0

    val commits = commitTimes(wh)
    // round.0 is the seed snapshot: a span, but not a crawl round
    val steps = commits.indices.map { k =>
      Step(s"round.$k", if (k == 0) t0 else commits(k - 1), commits(k),
        counted = k > 0)
    }
    val failures = outcome match {
      case Left(msg) => Seq(msg)
      case Right((first, Some(fin))) => check(wh, first, fin).toSeq
      case Right(_) => Nil
    }
    val fetched = outcome.toOption.map { case (f, s) =>
      f.totalFetched + s.map(_.totalFetched).getOrElse(0L)
    }.getOrElse(0L)
    val resumeS = for {
      (_, Some(_)) <- outcome.toOption
      commit <- commits.lift(shape.stopRound + 1)
    } yield Figure("resume_s", (commit - resumeCall) / 1e6, "s")
    val wallS = (t1 - t0) / 1e6
    val figures = Seq(
      Figure("crawl_pps", fetched / wallS, "pages/s"),
      Figure("crawl_s", wallS, "s"),
      Figure("crawl_cpu_s", cpuS, "CPU-s"),
      Figure("round_s.p50", Stats.median(steps.filter(_.counted).map(_.durS)), "s")) ++
      resumeS :+
      Figure("warehouse_mb", CrawlWorkload.dirBytes(Paths.get(wh)) / 1e6, "MB")
    if (idx > 0) deleteTree(Paths.get(wh))
    PassOut(s"crawl.$idx", t0, t1, cpuS, steps, fetched, 1, failures, figures)
  }

  /** Manifest commit times (file modification time of each round's
    * manifest, written last and published by rename). */
  private def commitTimes(wh: String): IndexedSeq[Long] =
    Snapshots.latestCommittedRound(wh) match {
      case None => IndexedSeq.empty
      case Some(last) => (0 to last).map(r => Files.getLastModifiedTime(
        Paths.get(Snapshots.snapDir(wh, r), "manifest.json"))
        .to(TimeUnit.MICROSECONDS))
    }

  /** Drained, same per-round fetch counts, same seen set as the simulator;
    * what differs, in one message (the crawl is one op). */
  private def check(wh: String, first: CrawlLoop.CrawlSummary,
                    fin: CrawlLoop.CrawlSummary): Option[String] = {
    val out = Seq.newBuilder[String]
    if (fin.pendingAfter != 0)
      out += s"crawl did not drain: ${fin.pendingAfter} pending after ${fin.rounds} rounds"
    if (first.pendingAfter == 0 || first.rounds != shape.stopRound)
      out += s"first leg ended at round ${first.rounds} (pending " +
        s"${first.pendingAfter}), expected a stop at round ${shape.stopRound}"
    val perRound = (1 to fin.rounds).map(r =>
      Snapshots.readManifest(wh, r).map(_.fetched).getOrElse(-1L))
    if (perRound != simPerRound)
      out += s"per-round fetched counts differ from the simulator: " +
        s"${perRound.take(20)} vs ${simPerRound.take(20)}"
    val rows = Snapshots.readLatestTable(spark, wh, "seen_delta").get
      .select("url_hash", "url_hash2").collect()
    val d = CrawlWorkload.digest(rows.iterator.map(r => (r.getLong(0), r.getLong(1))))
    if (d != simDigest)
      out += s"seen-set digest $d differs from the simulator's $simDigest"
    Some(out.result()).filter(_.nonEmpty).map(_.mkString("; "))
  }

  def layerFigures: Seq[(String, Double)] = {
    val by = CrawlWorkload.tableBytes(Paths.get(timedWarehouse))
    def mb(k: String) = by.getOrElse(k, 0L) / 1e6
    Seq("frontier.warehouse_mb" -> by.values.sum / 1e6,
      "frontier.bloom_mb" -> mb("bloom"),
      "frontier.seen_delta_mb" -> mb("seen_delta"),
      "frontier.head_mb" -> mb("head"),
      "frontier.backlog_mb" -> mb("backlog"),
      "frontier.items_mb" -> mb("items"),
      "corpus.mb" -> CrawlWorkload.dirBytes(Paths.get(pagesPath)) / 1e6)
  }

  override def tracedReport(p: PassOut, rec: JobRecorder): Seq[(String, Any)] = {
    val rounds = p.steps.filter(_.counted)
      .map(s => s -> JobTally.of(s.startUs, s.endUs, 1, rec))
    val total = rounds.map(_._2.exec).foldLeft(ExecTotals())(_ + _)
    Seq(
      "driver.rounds" -> rounds.size,
      "driver.round_gap_s.p50" -> Stats.median(rounds.map(_._2.gapS)),
      "driver.round_gap_s.sum" -> rounds.map(_._2.gapS).sum,
      "round.jobs_per_round" -> Stats.median(rounds.map(_._2.jobs.toDouble)),
      "round.exec_cpu_s" -> total.cpuS,
      "round.exec_run_s" -> total.runS,
      "round.gc_s" -> total.gcS,
      "round.input_rows_per_fetched" ->
        (if (p.units > 0) total.inputRows.toDouble / p.units else Double.NaN),
      "round.shuffle_write_mb" -> total.shuffleWriteMb,
      "round.shuffle_read_mb" -> total.shuffleReadMb,
      "round.spill_mb" -> total.spillMb,
      "round.task_failures" -> total.failedTasks,
      "rounds" -> rounds.map { case (s, t) =>
        Seq("round" -> s.name, "wall_s" -> s.durS) ++ t.fields })
  }

  /** Isolated, timed calls on this run's final warehouse and corpus. */
  def probes(tracer: Tracer, parent: Int): Seq[(String, Any)] = {
    def timedMedian(label: String, reps: Int)(f: => Unit): Double = {
      val xs = (1 to reps).map { _ =>
        val t0 = Clock.nowUs
        f
        val t1 = Clock.nowUs
        tracer.add(parent, s"probe.$label", t0, t1)
        (t1 - t0) / 1e6
      }
      Stats.median(xs)
    }
    val out = Seq.newBuilder[(String, Any)]
    val wh = timedWarehouse
    val last = Snapshots.latestCommittedRound(wh).get
    var bloom: Array[Array[Byte]] = null
    out += "frontier.bloom_read_s" -> timedMedian("bloom_read", 3) {
      bloom = Snapshots.readBloomShards(wh, last)
    }
    val probeWh = s"$work/probe-wh"
    out += "frontier.bloom_write_s" -> timedMedian("bloom_write", 3) {
      Snapshots.writeBloomShards(probeWh, 0, bloom)
    }
    deleteTree(Paths.get(probeWh))
    val prev = Snapshots.readBloomShards(wh, math.max(0, last - 1))
    var acc: Array[Array[Byte]] = null
    out += "frontier.bloom_merge_s" -> {
      val xs = (1 to 3).map { _ =>
        acc = prev.map(_.clone())
        val t0 = Clock.nowUs
        ShardedBloom.mergeInto(acc, bloom)
        val t1 = Clock.nowUs
        tracer.add(parent, "probe.bloom_merge", t0, t1)
        (t1 - t0) / 1e6
      }
      Stats.median(xs)
    }
    val (bits, set, k) = CrawlWorkload.bloomFill(bloom)
    out += "frontier.bloom_fill" -> set.toDouble / bits
    out += "frontier.bloom_fpp_est" -> math.pow(set.toDouble / bits, k)

    // a fixed page sample of this workload's corpus, single-threaded
    val n = SyntheticWeb.pageCount(spec)
    val stride = math.max(1L, n / 2000)
    val sample = Iterator.iterate(0L)(_ + stride).takeWhile(_ < n)
      .flatMap(i => SyntheticWeb.pageAt(spec, i)).toVector
    var links: Vector[String] = Vector.empty
    def processAll(): Unit =
      links = sample.flatMap(p => Crawl.process(p.url, p.html, cfg).links.map(_.url))
    processAll() // JIT warm-up
    val procS = timedMedian("process", 3)(processAll())
    out += "core.process_pages_per_s" -> sample.size / procS
    var sink = 0
    val canonS = timedMedian("canon", 3) {
      links.foreach(u => sink += UrlCanon.canonicalize(u).length)
    }
    out += "core.canon_urls_per_s" -> links.size / canonS
    out += "core.sample_pages" -> sample.size
    out += "check.sim_s" -> simS
    out.result()
  }

  override def cleanup(): Unit = {
    deleteTree(Paths.get(timedWarehouse))
    deleteTree(Paths.get(pagesPath))
  }
}

object CrawlWorkload {

  /** Order-insensitive digest of a set of (url_hash, url_hash2) pairs:
    * (count, wrapping sum of a 64-bit mix of each pair). */
  def digest(pairs: Iterator[(Long, Long)]): (Long, Long) = {
    var n = 0L
    var sum = 0L
    pairs.foreach { case (a, b) =>
      var z = a * 0x9E3779B97F4A7C15L ^ b
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      sum += z ^ (z >>> 31)
      n += 1
    }
    (n, sum)
  }

  /** (bits, bits set, hash count) over all shards. */
  def bloomFill(shards: Array[Array[Byte]]): (Long, Long, Int) = {
    var bits = 0L
    var set = 0L
    var k = 1
    shards.foreach { b =>
      val buf = java.nio.ByteBuffer.wrap(b)
      k = buf.getInt(0)
      val words = buf.getInt(4)
      bits += words.toLong * 64
      var i = 0
      while (i < words) { set += java.lang.Long.bitCount(buf.getLong(8 + 8 * i)); i += 1 }
    }
    (bits, set, k)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }

  private def files(p: Path): Seq[(Path, Long)] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f -> Files.size(f)).toSeq
      finally s.close()
    }

  def dirBytes(p: Path): Long = files(p).map(_._2).sum

  /** Warehouse bytes per table family: bloom, seen_delta, head (with
    * host_state), backlog (add/rm/base), items (fetched + misses), meta. */
  def tableBytes(wh: Path): Map[String, Long] =
    files(wh).groupBy { case (f, _) =>
      val rel = wh.relativize(f)
      val top = if (rel.getNameCount > 1) rel.getName(1).toString else rel.toString
      top match {
        case t if t.startsWith("bloom") => "bloom"
        case "seen_delta" => "seen_delta"
        case "head" | "host_state" => "head"
        case t if t.startsWith("backlog_") => "backlog"
        case "fetched" | "misses" => "items"
        case _ => "meta"
      }
    }.map { case (k, fs) => k -> fs.map(_._2).sum }
}
