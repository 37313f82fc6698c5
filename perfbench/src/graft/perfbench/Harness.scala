package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One step of a pass: a crawl round (cut at manifest commits) or one
  * query. Uncounted steps (the crawl's seed snapshot) get a span but stay
  * out of the step-time statistics. */
final case class Step(name: String, startUs: Long, endUs: Long,
                      counted: Boolean = true) {
  def durS: Double = (endUs - startUs) / 1e6
}

/** One end-to-end figure of a pass, under the name the workload's side
  * uses for it (`crawl_pps`, `query_total_s`, ...). */
final case class Figure(name: String, value: Double, unit: String) {
  def fields: Seq[(String, Any)] = Seq("name" -> name, "value" -> value, "unit" -> unit)
}

/** One timed, closed-loop pass of a workload (one drained crawl, or one
  * pass over the query catalog). `units` is the work it completed: pages
  * fetched for crawls, queries run for analytics. `attempted` counts its
  * ops (one crawl, or one per query); `failures` holds one message per
  * failed op. */
final case class PassOut(name: String, startUs: Long, endUs: Long,
                         cpuS: Double, steps: Seq[Step], units: Long,
                         attempted: Int, failures: Seq[String],
                         figures: Seq[Figure]) {
  def wallS: Double = (endUs - startUs) / 1e6
}

trait Workload {
  def name: String
  /** One repetition of the input set-up, run and timed in the JVM. */
  def setupOnce(): Unit
  /** Untimed preparation after set-up (no timed operation may run). */
  def prepare(): Unit = ()
  /** The timed pass (`idx` 0) is the workload's first execution in the
    * JVM. Traced runs add three warm passes (untraced, traced, untraced)
    * for the tracing overhead. */
  def pass(idx: Int): PassOut
  /** Extra operations that must fail (the forced-failure self-check), run
    * after the timed pass; returns (attempted, one message per failed op). */
  def injectFailures(): (Int, Seq[String])
  /** Isolated, timed calls into single layers (traced runs only). */
  def probes(tracer: Tracer, parent: Int): Seq[(String, Any)]
  /** Per-layer figures that need no listener (warehouse sizes, ...). */
  def layerFigures: Seq[(String, Double)]
  /** Per-layer report for one traced pass, from the job recorder. */
  def tracedReport(p: PassOut, rec: JobRecorder): Seq[(String, Any)] = Nil
  def cleanup(): Unit = ()
}

/** Runs a workload: repeated set-up, then one timed pass — the workload's
  * first execution in a fresh JVM, as a batch crawl or an ad-hoc query
  * session meets it (plan, code generation and JIT included). Untraced runs
  * report the end-to-end metrics. Traced runs trace that pass (spans and
  * listener totals give the per-layer metrics), then time warm passes,
  * untraced, traced, untraced: the traced one minus the mean of the two
  * around it is the tracing overhead (the mean cancels the JVM still
  * warming between passes). */
object Harness {

  final case class Opts(workload: String, seed: Long,
                        trace: Boolean, work: String, out: String,
                        smoke: Boolean, injectFailure: Boolean,
                        dataDir: String)

  def run(spark: SparkSession, wl: Workload, o: Opts,
          tracer: Tracer): Seq[(String, Any)] = {
    val root = tracer.reserve()
    val rootStart = Clock.nowUs
    var attempted = 0
    val failures = Seq.newBuilder[String]

    // (wall s, CPU s) of each set-up repetition
    val setupReps = if (o.smoke) 1 else 3
    val setupTimes = (1 to setupReps).map { i =>
      val (s0, c0) = (Clock.nowUs, Clock.processCpuS)
      wl.setupOnce()
      val (wall, cpu) = ((Clock.nowUs - s0) / 1e6, Clock.processCpuS - c0)
      tracer.add(root, s"setup.$i", s0, Clock.nowUs)
      Log(f"setup $i: $wall%.2f s, $cpu%.2f CPU-s")
      (wall, cpu)
    }
    val w0 = Clock.nowUs
    wl.prepare()
    tracer.add(root, "prepare", w0, Clock.nowUs)
    Log(f"prepare: ${(Clock.nowUs - w0) / 1e6}%.2f s")

    val heap = new HeapWatch
    var retainedMb = Double.NaN
    // JIT compilation and GC seconds during the timed pass
    var jitS, gcS = Double.NaN
    val load0 = Machine.loadAvg()
    val cpu0 = Machine.cpuTimes()
    val passes = (0 until (if (o.trace) 4 else 1)).map { idx =>
      val rec = if (o.trace && idx % 2 == 0) {
        val r = new JobRecorder(spark.sparkContext)
        spark.sparkContext.addSparkListener(r)
        Some(r)
      } else None
      heap.active = idx == 0
      val (jit0, gc0) = Machine.jvmTimes()
      val p = try wl.pass(idx) finally heap.active = false
      if (idx == 0) {
        val (jit1, gc1) = Machine.jvmTimes()
        jitS = jit1 - jit0
        gcS = gc1 - gc0
        attempted += p.attempted
        failures ++= p.failures
        retainedMb = HeapWatch.afterFullGcMb()
      }
      Log(f"pass ${p.name}: ${p.wallS}%.2f s, ${p.cpuS}%.1f CPU-s, " +
        s"${p.steps.size} steps, ${p.units} units, traced=${rec.nonEmpty}, " +
        s"${p.failures.size} failed")
      rec.foreach { r =>
        r.drain()
        spark.sparkContext.removeSparkListener(r)
      }
      recordSpans(tracer, root, p, rec.orNull)
      val report = rec.filter(_ => idx == 0).map(r => (wl.tracedReport(p, r),
        JobTally.of(p.startUs, p.endUs, p.steps.count(_.counted), r)))
      (p, report)
    }
    val context = Machine.context(cpu0, Machine.cpuTimes(), load0)

    if (o.injectFailure) {
      val (ia, inf) = wl.injectFailures()
      attempted += ia; failures ++= inf
    }

    val timed = passes.head._1
    val fails = failures.result()
    // The bounded end-to-end metrics are CPU seconds (the pass, the set-up):
    // on a shared VM, CPU steal moves wall time by tens of percent between
    // runs while CPU time moves little. Wall-time figures go to the report.
    val e2e: Seq[(String, Any)] =
      if (o.trace) Nil
      else Seq(
        "pass_cpu_s" -> timed.cpuS,
        "setup_s" -> Stats.median(setupTimes.map(_._2)))
    val figures = timed.figures ++ Seq(
      Figure("setup_s", Stats.median(setupTimes.map(_._2)), "s"),
      Figure("setup_wall_s", Stats.median(setupTimes.map(_._1)), "s"),
      Figure("live_heap_mb", retainedMb, "MB"),
      Figure("peak_heap_mb", heap.peakMb, "MB"),
      Figure("jit_s", jitS, "s"),
      Figure("gc_s", gcS, "s"))

    val layers: Seq[(String, Any)] = passes.head._2 match {
      case None => Nil
      case Some((_, t)) =>
        Seq(
          "driver.steps" -> t.steps.toDouble,
          "driver.gap_s" -> t.gapS,
          "step.jobs" -> t.jobs.toDouble / math.max(1, t.steps),
          "spark.exec_cpu_s" -> t.exec.cpuS,
          "spark.exec_run_s" -> t.exec.runS,
          "spark.gc_s" -> t.exec.gcS,
          "spark.shuffle_write_mb" -> t.exec.shuffleWriteMb,
          "spark.shuffle_read_mb" -> t.exec.shuffleReadMb,
          "spark.spill_mb" -> t.exec.spillMb,
          "spark.input_rows" -> t.exec.inputRows.toDouble,
          "spark.task_failures" -> t.exec.failedTasks.toDouble,
          "jvm.jit_s" -> jitS,
          "jvm.gc_s" -> gcS,
          "trace.overhead_s" -> (passes(2)._1.wallS -
            (passes(1)._1.wallS + passes(3)._1.wallS) / 2),
          "trace.cold_pass_s" -> timed.wallS,
          "trace.warm_traced_pass_s" -> passes(2)._1.wallS) ++
          wl.layerFigures
    }

    val probeOut = if (o.trace) wl.probes(tracer, root) else Nil
    tracer.close(root, 0, s"workload.${wl.name}", rootStart, Clock.nowUs,
      Seq("seed" -> o.seed))

    Seq(
      "workload" -> wl.name,
      "seed" -> o.seed,
      "ops" -> timed.steps.filter(_.counted).map(_.name),
      "trace" -> o.trace,
      "attempted" -> attempted,
      "failed" -> fails.size,
      "failures" -> fails.take(50),
      "setup_reps" -> setupTimes.map { case (w, c) => Seq("wall_s" -> w, "cpu_s" -> c) },
      "e2e" -> e2e,
      "figures" -> figures.map(_.fields),
      "layers" -> layers,
      "passes" -> passes.map { case (p, _) => Seq("pass" -> p.name,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "units" -> p.units,
        "steps" -> p.steps.size) },
      "context" -> context) ++
      passes.head._2.toSeq.flatMap { case (rep, t) =>
        Seq("traced_pass" -> (t.fields ++ rep), "probes" -> probeOut)
      }
  }

  /** Op span, step spans (rounds / queries), and for traced passes the
    * Spark job and stage spans hung under the step whose interval holds
    * the job's start. */
  private def recordSpans(tracer: Tracer, root: Int, p: PassOut,
                          rec: JobRecorder): Unit = {
    if (!tracer.enabled) return
    val op = tracer.reserve()
    val stepIds = p.steps.map(s => s -> tracer.add(op, s.name, s.startUs, s.endUs))
    if (rec != null) {
      val (jobs, stages) = rec.window(p.startUs, p.endUs)
      val jobIds = jobs.map { j =>
        val parent = stepIds.find { case (s, _) =>
          j.startUs >= s.startUs && j.startUs < s.endUs
        }.map(_._2).getOrElse(op)
        j.id -> tracer.add(parent, s"job.${j.id}", j.startUs, j.endUs)
      }.toMap
      stages.foreach { case (s, jobId) =>
        tracer.add(jobIds.getOrElse(jobId, op), s"stage.${s.id}", s.startUs,
          s.endUs, s.totals.fields)
      }
    }
    val roundSum = p.steps.map(_.durS).sum
    tracer.close(op, root, p.name, p.startUs, p.endUs, Seq(
      "traced" -> (rec != null), "cpu_s" -> p.cpuS, "units" -> p.units,
      "steps_cover" -> (if (p.wallS > 0) roundSum / p.wallS else Double.NaN)))
  }
}

/** Listener totals of one traced pass. `gapS` is the pass's wall time
  * with no Spark job running: driver-side planning, merges and writes. */
final case class JobTally(steps: Int, jobs: Int, gapS: Double, exec: ExecTotals) {
  def fields: Seq[(String, Any)] = Seq("steps" -> steps, "jobs" -> jobs,
    "driver_gap_s" -> gapS) ++ exec.fields
}

object JobTally {
  /** Jobs started in [fromUs, toUs) — a pass or one of its steps. */
  def of(fromUs: Long, toUs: Long, steps: Int, rec: JobRecorder): JobTally = {
    val (jobs, stages) = rec.window(fromUs, toUs)
    val busy = Tracer.unionUs(jobs.map(j =>
      (math.max(j.startUs, fromUs), math.min(j.endUs, toUs))))
    JobTally(steps, jobs.size, (toUs - fromUs - busy) / 1e6,
      stages.map(_._1.totals).foldLeft(ExecTotals())(_ + _))
  }
}

/** Progress lines on stderr (stdout belongs to the result). */
object Log {
  def apply(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}
