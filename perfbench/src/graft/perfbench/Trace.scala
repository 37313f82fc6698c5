package graft.perfbench

import java.lang.management.ManagementFactory
import java.time.Instant
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Minimal JSON writer: objects are `Seq[(String, Any)]` so key order is
  * kept; doubles print with all their digits. */
object Json {
  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case o: Option[_] => o.map(apply).getOrElse("null")
    case kv: Seq[_] if kv.nonEmpty && kv.forall {
      case (_: String, _) => true
      case _ => false
    } => kv.map { case (k: String, x) => quote(k) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}

object Clock {
  /** Wall clock in epoch microseconds: the one time base shared by spans,
    * listener events (epoch ms) and manifest file times. */
  def nowUs: Long = {
    val i = Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def processCpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e9
}

/** Medians and quantiles, linear interpolation between order statistics;
  * NaN for no samples. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One span: name, start/end (epoch µs), parent span id (0 = root) and the
  * run id shared by every span of a run. */
final case class Span(id: Int, parent: Int, name: String, startUs: Long,
                      endUs: Long, attrs: Seq[(String, Any)] = Nil)

/** In-memory span store; written once as JSON when the run ends. Disabled
  * tracers record nothing and return span id 0. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1

  def add(parent: Int, name: String, startUs: Long, endUs: Long,
          attrs: Seq[(String, Any)] = Nil): Int = synchronized {
    if (!enabled) 0
    else {
      val id = nextId
      nextId += 1
      buf += Span(id, parent, name, startUs, endUs, attrs)
      id
    }
  }

  /** Reserve an id for a span whose children are recorded before it ends. */
  def reserve(): Int = synchronized {
    if (!enabled) 0 else { val id = nextId; nextId += 1; id }
  }

  def close(id: Int, parent: Int, name: String, startUs: Long, endUs: Long,
            attrs: Seq[(String, Any)] = Nil): Unit = synchronized {
    if (enabled) buf += Span(id, parent, name, startUs, endUs, attrs)
  }

  def spans: Seq[Span] = synchronized(buf.sortBy(s => (s.startUs, s.id)).toSeq)

  /** Self time of a span = its duration minus the union of the intervals
    * its children cover (clipped to the span). */
  def selfTimes: Map[Int, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = Tracer.unionUs(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a })
      s.id -> (s.endUs - s.startUs - covered) / 1e6
    }.toMap
  }

  /** Self time summed per layer; the layer is the span name up to its
    * first '.' (`round.3` → `round`, `query.q_a1` → `query`). */
  def selfByLayer: Seq[(String, Double)] = {
    val self = selfTimes
    spans.groupBy(_.name.takeWhile(_ != '.')).toSeq.sortBy(_._1)
      .map { case (layer, ss) => layer -> ss.map(s => self(s.id)).sum }
  }

  def toJson(extra: Seq[(String, Any)]): String = Json(Seq(
    "run_id" -> runId,
    "time_unit" -> "epoch_us",
    "spans" -> spans.map(s => Seq("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start" -> s.startUs, "end" -> s.endUs,
      "run_id" -> runId) ++ s.attrs),
    "self_s_by_layer" -> selfByLayer) ++ extra)
}

object Tracer {
  /** Total length of the union of [start, end) intervals. */
  def unionUs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Executor-side totals of a set of stages (task metrics summed). */
final case class ExecTotals(tasks: Long = 0, runS: Double = 0, cpuS: Double = 0,
                            gcS: Double = 0, shuffleWriteMb: Double = 0,
                            shuffleReadMb: Double = 0, spillMb: Double = 0,
                            inputRows: Long = 0, failedTasks: Long = 0) {
  def +(o: ExecTotals): ExecTotals = ExecTotals(tasks + o.tasks,
    runS + o.runS, cpuS + o.cpuS, gcS + o.gcS,
    shuffleWriteMb + o.shuffleWriteMb, shuffleReadMb + o.shuffleReadMb,
    spillMb + o.spillMb, inputRows + o.inputRows, failedTasks + o.failedTasks)

  def fields: Seq[(String, Any)] = Seq("tasks" -> tasks, "exec_run_s" -> runS,
    "exec_cpu_s" -> cpuS, "gc_s" -> gcS, "shuffle_write_mb" -> shuffleWriteMb,
    "shuffle_read_mb" -> shuffleReadMb, "spill_mb" -> spillMb,
    "input_rows" -> inputRows, "task_failures" -> failedTasks)
}

final case class JobRec(id: Int, startUs: Long, endUs: Long, stageIds: Seq[Int])
final case class StageRec(id: Int, startUs: Long, endUs: Long, totals: ExecTotals)

/** Records Spark jobs and stages with their executor metrics. Registered
  * only in traced passes; [[drain]] waits for the listener bus instead of
  * sleeping, so no event is lost when a pass is summarised. */
final class JobRecorder(sc: SparkContext) extends SparkListener {
  private val jobStart = mutable.HashMap.empty[Int, (Long, Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stageTotals = mutable.HashMap.empty[Int, ExecTotals]
  private val stages = mutable.ArrayBuffer.empty[StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = (e.time * 1000L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (s, ids) =>
      jobs += JobRec(e.jobId, s, e.time * 1000L, ids)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val t = if (m == null) ExecTotals(tasks = 1) else ExecTotals(
      tasks = 1, runS = m.executorRunTime / 1e3, cpuS = m.executorCpuTime / 1e9,
      gcS = m.jvmGCTime / 1e3,
      shuffleWriteMb = m.shuffleWriteMetrics.bytesWritten / 1e6,
      shuffleReadMb = m.shuffleReadMetrics.totalBytesRead / 1e6,
      spillMb = m.diskBytesSpilled / 1e6,
      inputRows = m.inputMetrics.recordsRead)
    val failed = e.reason match {
      case Success => 0L
      case _ => 1L
    }
    stageTotals(e.stageId) = stageTotals.getOrElse(e.stageId, ExecTotals()) +
      t.copy(failedTasks = failed)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val end = i.completionTime.getOrElse(System.currentTimeMillis()) * 1000L
      stages += StageRec(i.stageId, i.submissionTime.map(_ * 1000L).getOrElse(end),
        end, stageTotals.remove(i.stageId).getOrElse(ExecTotals()))
    }

  def drain(): Unit =
    org.apache.spark.graftbridge.ListenerBridge.waitUntilEmpty(sc, 120000L)

  /** Jobs that started inside [fromUs, toUs), with the stages they ran.
    * Listener times have millisecond resolution: `fromUs` is floored to
    * its millisecond. */
  def window(fromUs: Long, toUs: Long): (Seq[JobRec], Seq[(StageRec, Int)]) =
    synchronized {
      val from = fromUs - fromUs % 1000
      val js = jobs.filter(j => j.startUs >= from && j.startUs < toUs)
        .sortBy(_.startUs).toSeq
      val owner = js.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
      val ss = stages.filter(s => owner.contains(s.id)).map(s => s -> owner(s.id))
      (js, ss.toSeq)
    }
}

/** Heap occupancy right after each garbage collection while active; the
  * maximum is the largest working set seen after a collection. */
final class HeapWatch {
  @volatile var active = false
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (active && n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > peak) peak = used
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def peakMb: Double = peak / 1e6
}

object HeapWatch {
  /** Heap in use after a full collection: what the program still holds. */
  def afterFullGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }
}

/** Machine context across the timed region: nproc, load average and the
  * share of CPU time lost to steal and iowait (from /proc/stat); and the
  * JVM's own JIT and GC time. */
object Machine {
  final case class CpuTimes(total: Long, iowait: Long, steal: Long)

  def cpuTimes(): Option[CpuTimes] = try {
    val line = scala.io.Source.fromFile("/proc/stat").getLines().next()
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    // user nice system idle iowait irq softirq steal [guest guest_nice]
    Some(CpuTimes(f.take(8).sum, f(4), if (f.length > 7) f(7) else 0L))
  } catch { case _: Throwable => None }

  def loadAvg(): Seq[Double] = try {
    scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")
      .take(3).map(_.toDouble).toSeq
  } catch { case _: Throwable => Nil }

  /** Seconds the JVM has spent so far in JIT compilation and in garbage
    * collections: work beside the program's own that its process CPU
    * time includes. */
  def jvmTimes(): (Double, Double) = (
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3)

  def context(from: Option[CpuTimes], to: Option[CpuTimes],
              loadBefore: Seq[Double]): Seq[(String, Any)] = {
    val share = for (a <- from; b <- to if b.total > a.total) yield {
      val d = (b.total - a.total).toDouble
      ((b.steal - a.steal) / d, (b.iowait - a.iowait) / d)
    }
    Seq("nproc" -> Runtime.getRuntime.availableProcessors,
      "loadavg_before" -> loadBefore, "loadavg_after" -> loadAvg(),
      "steal_share" -> share.map(_._1), "iowait_share" -> share.map(_._2))
  }
}
