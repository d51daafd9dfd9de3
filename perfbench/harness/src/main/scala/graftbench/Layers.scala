package graftbench

/** Per-layer metrics from a finished trace. Benchmark operations are
  * the spans of layer "bench"; every Spark job is attributed to the
  * operation whose span (or a descendant of it) was open when the job
  * was submitted. Set-up, probe and check spans are left out.
  */
object Layers {
  def report(spans: Seq[Span], tracer: Tracer, r: Report): Unit = {
    val byId = spans.map(s => s.id -> s).toMap
    def opOf(s: Span): Option[Span] = {
      var cur: Option[Span] = Some(s)
      while (cur.exists(c => c.layer != "bench" && c.parent != 0)) cur = cur.flatMap(c => byId.get(c.parent))
      cur.filter(_.layer == "bench")
    }
    val measured = spans.filter(s => opOf(s).isDefined)
    val jobsById = tracer.jobs().map(j => (1000000000L + j.jobId) -> j).toMap
    val ops = measured.filter(_.layer == "bench")
    val jobsByOp = measured.filter(_.layer == "spark").groupBy(j => opOf(j).get.id)

    def sparkMetrics(prefix: String, opSpans: Seq[Span]): Unit = {
      val js = opSpans.flatMap(o => jobsByOp.getOrElse(o.id, Nil)).flatMap(s => jobsById.get(s.id))
      val n = math.max(1, opSpans.size).toDouble
      r.metric(s"$prefix.jobs", js.size / n, "count")
      r.metric(s"$prefix.stages", js.map(_.stages).sum / n, "count")
      r.metric(s"$prefix.tasks", js.map(_.tasks).sum / n, "count")
      r.metric(s"$prefix.task_s", js.map(_.taskNs).sum / 1e9 / n, "s")
      r.metric(s"$prefix.gc_s", js.map(_.gcMs).sum / 1e3 / n, "s")
      r.metric(s"$prefix.input_mb", js.map(_.inputBytes).sum / 1e6 / n, "MB")
      r.metric(s"$prefix.records_read", js.map(_.recordsRead).sum / n, "count")
      r.metric(s"$prefix.shuffle_mb", js.map(_.shuffleBytes).sum / 1e6 / n, "MB")
      r.metric(s"$prefix.output_mb", js.map(_.outputBytes).sum / 1e6 / n, "MB")
      r.metric(s"$prefix.spill_mb", js.map(_.spillBytes).sum / 1e6 / n, "MB")
      // the part of the operations' wall time no job covers: planning,
      // file listing, collects and driver-side work between jobs
      val wall = opSpans.map(_.dur).sum.toDouble
      val covered = opSpans.map(o => Tracer.covered(clip(jobsByOp.getOrElse(o.id, Nil), o))).sum
      r.metric(s"$prefix.driver_only_share", if (wall > 0) 1 - covered / wall else 0.0, "share")
    }
    // per operation type, averaged per operation, and over all of them
    ops.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (kind, os) => sparkMetrics(s"spark.$kind", os) }
    sparkMetrics("spark.op", ops)

    // self time: a span's duration minus what its children cover; for
    // Spark, the time at least one job of a measured operation ran
    val children = measured.groupBy(_.parent)
    measured.filter(_.layer != "spark").groupBy(_.layer).toSeq.sortBy(_._1).foreach { case (layer, ss) =>
      val ns = ss.map(s => s.dur - Tracer.covered(clip(children.getOrElse(s.id, Nil), s))).sum
      r.metric(s"self.$layer.s", ns / 1e9, "s")
    }
    r.metric("self.spark.s", Tracer.covered(measured.filter(_.layer == "spark").map(j => (j.start, j.end))) / 1e9, "s")
  }

  private def clip(inner: Seq[Span], outer: Span): Seq[(Long, Long)] =
    inner.map(c => (c.start max outer.start, c.end min outer.end)).filter { case (a, b) => b > a }
}
