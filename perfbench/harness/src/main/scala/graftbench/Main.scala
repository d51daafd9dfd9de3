package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Settings of one run, from the command line (see run.py). */
final case class Config(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: String,
    nproc: Int,
    out: String,
    spans: Option[String],
    tables: String,
    digests: Option[String],
    dump: Option[String],
)

/** Runs one workload and writes its report as JSON to `--out`. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cfg = Config(
      workload = kv("workload"),
      seed = kv("seed").toLong,
      seconds = kv("seconds").toInt,
      trace = kv.get("trace").contains("1"),
      work = kv("work"),
      nproc = kv.get("nproc").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      out = kv("out"),
      spans = kv.get("spans"),
      tables = kv.getOrElse("tables", ""),
      digests = kv.get("digests"),
      dump = kv.get("dump"),
    )
    val r = new Report
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.build(s"local[${cfg.nproc}]", cfg.nproc)
    val startS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(cfg.trace, spark.sparkContext)
    r.info("workload") = cfg.workload
    r.info("seed") = cfg.seed
    r.info("seconds") = cfg.seconds
    r.info("trace") = cfg.trace
    r.info("master") = spark.sparkContext.master
    r.info("shuffle_partitions") = spark.conf.get("spark.sql.shuffle.partitions")
    r.info("max_heap_mb") = Runtime.getRuntime.maxMemory / (1 << 20)
    r.info("java") = System.getProperty("java.version")
    try {
      cfg.workload match {
        case "lake" => new LakeWorkload(spark, tracer, cfg, r).run()
        case "analytics" => new AnalyticsWorkload(spark, tracer, cfg, r).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      r.metric("session.start_s", startS, "s")
      r.metric("setup_s", startS + r.metrics("session.warmup_s")._1, "s")
      r.metric("peak_rss_mb", peakRssMb(), "MB")
      if (tracer.enabled) {
        val spans = tracer.allSpans()
        Layers.report(spans, tracer, r)
        val measured = spans.filter(_.layer == "bench").map(_.dur).sum
        r.metric("trace.overhead_share", tracer.overheadNs.toDouble / math.max(1L, measured), "share")
        cfg.spans.foreach(p => writeSpans(p, spans))
      }
    } catch {
      case e: Throwable =>
        r.check(false, s"run aborted: $e at ${e.getStackTrace.take(3).mkString(" < ")}")
        e.printStackTrace()
    } finally {
      Files.write(Paths.get(cfg.out), r.toJson.getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val lines = spans.sortBy(_.start).map { s =>
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "attrs" -> s.attrs))
    }
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
