package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The `analytics` workload: a fixed set of `SparkEntry.queries` from
  * different operator modules, over generated tables. It never calls the lake
  * API, so it is the control for lake changes.
  *
  * Every execution materializes the query through an order-insensitive
  * digest aggregate, which reads every row and column of the result, and
  * checks the digest against the expected one recorded with the
  * benchmark. Set-up runs the set once cold, then
  * [[AnalyticsWorkload.WarmRounds]] untimed rounds of the same plans, so
  * the JIT and the code generator have settled before timing. The
  * measured phase runs the set once per [[AnalyticsWorkload.RoundSeconds]]
  * of `--seconds`, each round in a seed-permuted order. `query_total_s`
  * sums each query's median time.
  */
final class AnalyticsWorkload(spark: SparkSession, tracer: Tracer, cfg: Config, r: Report) {
  private val expected = cfg.digests.map(AnalyticsWorkload.readDigests).getOrElse(Map.empty)

  /** Runs query `q` to its digest and checks it. */
  private def checked(q: String): Unit = {
    val d = tracer.span("operators", q)(AnalyticsWorkload.digest(graft.SparkEntry.queries(q)(spark, cfg.tables)))
    spark.catalog.clearCache()
    r.info(s"digest.$q") = d
    r.check(expected.get(q).contains(d), s"$q: digest $d, expected ${expected.getOrElse(q, "none recorded")}")
  }

  def run(): Unit = {
    val queries = AnalyticsWorkload.Queries
    val gen = new Gen(cfg.seed)
    r.info("tables") = cfg.tables

    cfg.dump.foreach { dir =>
      val oracles = graft.SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) }
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "oracle_sql.json"), Json.obj(oracles.toSeq).getBytes("UTF-8"))
      queries.foreach(q => graft.SparkEntry.queries(q)(spark, cfg.tables).write.mode("overwrite").parquet(s"$dir/$q"))
      spark.catalog.clearCache()
    }

    val tSetup = System.nanoTime()
    for (_ <- 0 to AnalyticsWorkload.WarmRounds; q <- queries)
      tracer.span("setup", "warmup_query", Map("query" -> q))(checked(q))
    r.metric("session.warmup_s", (System.nanoTime() - tSetup) / 1e9, "s")

    // Rounds of the whole set, each in its own seed-permuted order.
    val t0 = System.nanoTime()
    val timings = (1 to math.max(2, cfg.seconds / AnalyticsWorkload.RoundSeconds)).flatMap(_ => gen.shuffle(queries)).map { q =>
      val q0 = System.nanoTime()
      tracer.span("bench", "query", Map("query" -> q))(checked(q))
      q -> (System.nanoTime() - q0) / 1e9
    }
    r.metric("run_s", (System.nanoTime() - t0) / 1e9, "s")
    r.info("query_timings") = timings.map { case (q, s) => Seq(q, s) }
    val secs = queries.map(q => q -> Stats.median(timings.collect { case (`q`, s) => s }))
    r.metric("query_total_s", secs.map(_._2).sum, "s")
    // each query's median, averaged over the set: a median pooled over
    // queries of different cost would rest on the middle query's
    // samples alone
    r.metric("op_p50_ms", secs.map(_._2).sum / secs.size * 1e3, "ms")
    if (tracer.enabled) {
      secs.foreach { case (q, s) => r.metric(s"operators.$q.s", s, "s") }
      import spark.implicits._
      val texts = graft.GraftSession.table(spark, cfg.tables, "documents").select($"text").as[String].collect().map(_.getBytes("UTF-8"))
      val parts = Probes.probeSet(Probes.split(texts.toSeq, graft.lake.LakeParams().chunkMax.toInt), LakeWorkload.ProbeBytes)
      Probes.codec(parts, partsPerBlob = 64, r)
      Probes.convergent(spark, tracer, parts, r)
    }
  }
}

object AnalyticsWorkload {
  /** One query from each of three operator modules: the cheapest set
    * whose warm-up and timed rounds fit one run's time budget.
    */
  val Queries: Seq[String] = Seq(
    "dedup_containment", "q_skewjoin", "q_bucket_join",
  )

  /** Untimed rounds after the cold one: with fewer, the timed rounds
    * still get faster as the JIT compiles the planner and operators.
    */
  val WarmRounds = 6
  /** A warm round takes 2-2.5 s on a 4-core VM: one timed round per 3
    * s of `--seconds` keeps a whole run near 45-60 s there.
    */
  val RoundSeconds = 3

  /** Order-insensitive digest of a result: row count, XOR and sum of
    * per-row xxhash64 over the columns in name order.
    */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    val h = xxhash64(cols: _*)
    val row = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)), coalesce(sum(pmod(col("h"), lit(4294967291L))), lit(0L)))
      .head()
    s"${row.getLong(0)}:${java.lang.Long.toHexString(row.getLong(1))}:${row.get(2)}"
  }

  /** `{"query": "digest", ...}` — a flat JSON object of strings. */
  def readDigests(path: String): Map[String, String] = {
    val s = scala.io.Source.fromFile(path, "UTF-8").mkString
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(s).map(m => m.group(1) -> m.group(2)).toMap
  }
}
