package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one `local[4]` session, results as JSON.
  *
  * {{{
  * Main --workload crawl|analytics --seed N --trace 0|1 --work DIR
  *      --out FILE [--data DIR] [--smoke] [--inject-failure]
  * }}}
  * `perfbench/run.py` builds the classes, launches this and turns its JSON
  * into the benchmark's result line. */
object Main {

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    val flags = args.filter(_.startsWith("--")).toSet
    val o = Harness.Opts(
      workload = kv("--workload"), seed = kv("--seed").toLong,
      trace = kv("--trace") == "1",
      work = kv("--work"), out = kv("--out"), smoke = flags("--smoke"),
      injectFailure = flags("--inject-failure"),
      dataDir = kv.getOrElse("--data", ""))

    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"graft-perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.parquet.columnarReaderBatchSize", "512")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the golden-pinned queries check their input scale only for the
    // correctness dump; their computation is scale-generic
    System.setProperty("graft.golden.sfcheck", "off")

    val tracer = new Tracer(o.trace,
      s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}")
    val wl: Workload = o.workload match {
      case "crawl" => new CrawlWorkload(spark, o.workload,
        CrawlShape.crawl(o.seed, o.smoke), o.work)
      case "analytics" => new AnalyticsWorkload(spark, o.dataDir,
        s"${o.work}/query-out", o.seed)
      case other => sys.error(s"unknown workload $other")
    }
    val result = try Harness.run(spark, wl, o, tracer) finally wl.cleanup()
    val spanFile = if (o.trace) {
      val f = s"${o.work}/spans.json"
      Files.writeString(Paths.get(f), tracer.toJson(Seq(
        "workload" -> o.workload, "seed" -> o.seed)))
      Some(f)
    } else None
    Files.writeString(Paths.get(o.out), Json(result :+ ("span_file" -> spanFile)))
    spark.stop()
  }
}
