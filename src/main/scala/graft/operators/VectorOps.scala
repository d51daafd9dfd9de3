package graft.operators

import graft.GraftSession.{materialized, table}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.4 + §2.3 #26 — similarity search over embedding
  * columns (unit-norm float vectors).
  *
  * Public API: [[annBruteforce]], [[annLsh]], [[annIvf]] take an
  * arbitrary `data` and `queries` frame — each exposing
  * (`id`: long, `embedding`: array<float|double>) — and return the
  * top-`k` neighbors per query as (query_id, rank, neighbor_id,
  * cosine). [[kmeansCentroids]] trains the IVF coarse quantizer. The
  * `(SparkSession, dir)` overloads are the driver-checked named
  * queries over the `embeddings` table (first 20 vectors as queries).
  *
  * Cross-engine determinism trick: scores are computed on
  * round(x*10000) int64-quantized vectors — dot products and norms are
  * then exact integers, and the final double division/sqrt is
  * correctly-rounded IEEE on both engines, so cosine values (and
  * threshold/top-k decisions) hash-match DuckDB bit-for-bit. The
  * quantization error (~1e-4) is far below any semantic threshold.
  *
  * Scale paths: brute-force is the exact baseline (O(n·q), query side
  * broadcast); LSH (random-hyperplane, Charikar'02) and IVF (coarse
  * quantizer probe, Jégou'11) bound the candidate set — their shuffles
  * are on bucket / centroid keys, and centroids are broadcast (tiny by
  * construction at any scale).
  */
object VectorOps {

  private def emb(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "embeddings")

  /** int64-quantized copy of the embedding.
    *
    * floor(x*10000 + 0.5), NOT round(): Spark's round() rounds the
    * shortest decimal repr while DuckDB rounds the binary double — they
    * disagree when the binary value sits just below x.5 but its
    * shortest repr is "x.5" (observed at sf0.1). floor(+0.5) is pure
    * binary IEEE arithmetic, bit-identical in both engines.
    *
    * The float element is explicitly widened to double BEFORE the
    * multiply: without the cast one engine multiplies in float32 and
    * the other in float64, shifting an occasional element by ±1
    * quantum (also observed at sf0.1).
    */
  private val qvec: Column =
    transform(col("embedding"), x => floor(x.cast(DoubleType) * 10000 + 0.5).cast(LongType))

  /** exact integer dot product of two quantized vectors — a codegen'd
    * Catalyst expression ([[graft.functions.LongArrayDot]]); the
    * higher-order `aggregate(zip_with(...))` formulation is interpreted
    * and ~100× slower on the n² pair space.
    */
  private def qdot(a: Column, b: Column): Column =
    graft.functions.ArrayExprs.longDot(a, b)

  /** cosine from precomputed norms: one dot per pair (norms are
    * computed once per vector in [[prep]] — anything per-pair beyond
    * the single dot multiplies the dominant term of the pair space).
    */
  private def pairCos(qa: Column, qb: Column, na: Column, nb: Column): Column =
    qdot(qa, qb).cast(DoubleType) / (na * nb)

  /** (id, embedding) → (id, qv, norm): the normalized internal shape
    * every entry point works on.
    */
  private def prep(df: DataFrame): DataFrame =
    df.select(col("id").cast(LongType).as("id"), qvec.as("qv"))
      .withColumn("norm", sqrt(qdot(col("qv"), col("qv")).cast(DoubleType)))

  /** deterministic top-k per query: (cosine DESC, neighbor_id ASC). */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  // ------------------------------------------------------- brute force

  /** §2.4 #27 — exact cosine top-k of every query against all of
    * `data`. The query side is broadcast (a bounded query batch is the
    * API contract — an unbounded one belongs in [[annLsh]]/[[annIvf]]);
    * the big side streams map-side, so the only wide op is the final
    * per-query top-k.
    */
  def annBruteforce(data: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = prep(queries).select(col("id").as("query_id"), col("qv").as("qa"), col("norm").as("na"))
    val c = prep(data).select(col("id").as("neighbor_id"), col("qv").as("qb"), col("norm").as("nb"))
    val scored = broadcast(q)
      .join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), pairCos(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"))
    topK(scored, k)
  }

  /** named query: first 20 vectors vs the whole table, k=5. */
  def annBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id").as("id"), col("embedding"))
    annBruteforce(e, e.filter(col("id") < 20), 5)
  }

  private val oracleQuantCte: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv
      |  FROM embeddings
      |), p AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
      |      / (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> a.qv[i] * a.qv[i])) AS DOUBLE))
      |         * sqrt(CAST(list_sum(list_transform(range(1, 65), i -> b.qv[i] * b.qv[i])) AS DOUBLE))) AS cosine
      |  FROM q a JOIN q b ON a.vec_id != b.vec_id
      |)""".stripMargin

  val annBruteforceSql: String =
    s"""$oracleQuantCte
      |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine FROM (
      |  SELECT query_id, neighbor_id, cosine,
      |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM p WHERE query_id < 20
      |)
      |WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // --------------------------------------------------- LSH hyperplanes
  // (shared by dedup_embedding and ann_lsh)

  private val NumTables = 8
  private val BitsPerTable = 4

  /** Deterministic random hyperplanes (seed 7): NumTables × BitsPerTable
    * planes of 64 coords each, as literal columns (broadcast-free —
    * they live in the plan).
    */
  private val planes: Seq[Seq[Array[Double]]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(NumTables)(Seq.fill(BitsPerTable)(Array.fill(64)(rnd.nextGaussian())))
  }

  /** int64-quantized planes: bucket bits become exact integer sign
    * tests (qv · qplane), reproducible bit-for-bit in DuckDB SQL.
    */
  private val qplanes: Seq[Seq[Array[Long]]] =
    planes.map(_.map(_.map(x => math.floor(x * 10000 + 0.5).toLong)))

  /** Corpus-size-adaptive bucket width for the ROWS-ONLY seed/graph
    * family: bitsPerTable = max(4, ceil(log2(n/64))), so bucket
    * population stays ≈64 and the per-bucket seed self-join stays
    * LINEAR in corpus size. The fixed 4-bit tables (128 standing
    * buckets) make bucket population n/128 and the seed pair space
    * n²/128 — measured 6.1× per 10× on the sf1 graph-build probe, a
    * genuine 100 TB scale defect. The ORACLED LSH queries
    * (dedup_embedding, ann_lsh) keep the fixed 4-bit planes their
    * DuckDB twins replay; at n ≤ 1024 this returns 4, reproducing the
    * fixed planes draw-for-draw (same seed, same order), so
    * small-corpus results are bit-identical.
    */
  private def adaptiveBits(n: Long): Int =
    math.max(BitsPerTable,
      math.ceil(math.log(math.max(1L, n / 64).toDouble) / math.log(2.0)).toInt)

  /** Quantized plane tensor for `bits` bits/table, same seed-7 draw
    * discipline as [[qplanes]] (tables outer, bits inner), cached per
    * width.
    */
  private val adaptivePlaneCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Long]]]()
  private def qplanesFor(bits: Int): Array[Array[Long]] =
    adaptivePlaneCache.computeIfAbsent(bits, { b =>
      val rnd = new scala.util.Random(7)
      Seq.fill(NumTables)(Seq.fill(b)(Array.fill(64)(rnd.nextGaussian())))
        .flatten.map(_.map(x => math.floor(x * 10000 + 0.5).toLong)).toArray
    })

  /** [[withQBuckets]] at an adaptive bucket width. */
  private def withQBucketsN(d: DataFrame, bits: Int): DataFrame =
    d.select(col("id"), col("qv"), col("norm"),
      posexplode(graft.functions.ArrayExprs.planeSignBuckets(
        col("qv"), qplanesFor(bits), bits)).as(Seq("tbl", "bucket")))

  /** all-table bucket ids of quantized vector `qv` — one compact
    * kernel call ([[graft.functions.PlaneSignBuckets]]): the unrolled
    * per-(table, bit) sign-test columns inlined 2048 plane literals
    * into the generated code, and Janino-compiling that was a
    * multi-second fixed cost on every cold plan.
    */
  private def qbuckets(qv: Column): Column =
    graft.functions.ArrayExprs.planeSignBuckets(
      qv, qplanes.flatten.toArray, BitsPerTable)

  /** (id, qv, norm) → one row per (id, table) with the vector's LSH
    * bucket — integer sign tests on the quantized planes (codegen'd
    * dots; a float-dot sign would also flip on summation-order
    * differences across engines).
    */
  private def withQBuckets(d: DataFrame): DataFrame =
    d.select(col("id"), col("qv"), col("norm"), posexplode(qbuckets(col("qv"))).as(Seq("tbl", "bucket")))

  /** §2.3 #26 — embedding near-dup: each vector's nearest LSH-bucketed
    * candidate + a duplicate flag at cosine ≥ 0.5.
    *
    * Scale design: the only wide ops are the (tbl, bucket) self-join
    * and the final argmax — NO all-pairs cartesian (an n² BNLJ cannot
    * survive 100×; round-1 lesson). Near-dups (the pairs the flag is
    * for) collide in some bucket with probability ≈ 1; a vector whose
    * true NN is far away may report its best *candidate* instead —
    * exactly the LSH trade, and the DuckDB oracle mirrors the same
    * buckets so the contract is still hash-exact.
    */
  def dedupEmbedding(spark: SparkSession, dir: String): DataFrame = {
    // hash-repartition before the quantize+plane-sign kernel: the
    // corpus is one parquet file → 1-task scan, and the cache fill ran
    // the whole kernel serially (StageProbe: 840 ms / 1 task of the
    // 1.84 s query). Width follows defaultParallelism.
    val d = withQBuckets(prep(
      emb(spark, dir).select(col("vec_id").as("id"), col("embedding"))
        .repartition(spark.sparkContext.defaultParallelism, col("id"))))
      .cache() // both sides of the bucket self-join read this
    val q = d.select(col("id").as("query_id"), col("qv").as("qa"), col("norm").as("na"), col("tbl"), col("bucket"))
    val c = d.select(col("id").as("neighbor_id"), col("qv").as("qb"), col("norm").as("nb"), col("tbl"), col("bucket"))
    // Cosine is computed map-side right after the bucket join and the
    // pair is immediately projected to 3 narrow columns: shuffling the
    // 64-long arrays through a dedup + window was the dominant cost
    // (wide-row shuffles). A pair colliding in k tables computes its
    // dot k times — map-side codegen'd work, far cheaper than a wide
    // shuffle — and collapses in the aggregate below.
    val scored = q.join(c, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        pairCos(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"),
      )
    // argmax via max(struct(cosine, -id)): partial aggregation (map-side
    // combine) replaces a row_number window — same (cosine DESC, id ASC)
    // tie-break, one narrow shuffle.
    val out = scored
      .groupBy(col("query_id").as("vec_id"))
      .agg(max(struct(col("cosine"), (-col("neighbor_id")).as("nid"))).as("m"))
      .select(
        col("vec_id"),
        (-col("m.nid")).as("nearest_id"),
        col("m.cosine").as("cosine"),
        (col("m.cosine") >= 0.5).as("is_near_dup"),
      )
    materialized(out, Seq("vec_id"), d)
  }

  /** `[p0, p1, ...]` DuckDB list literal of one quantized plane. */
  private def qplaneSqlList(p: Array[Long]): String = p.mkString("[", ", ", "]")

  /** bucket id of `qv` in table `t` as DuckDB SQL — same integer sign
    * tests as [[qbucketIn]].
    */
  private def bucketSql(t: Int): String =
    qplanes(t).zipWithIndex.map { case (p, bit) =>
      s"(CASE WHEN list_sum(list_transform(range(1, 65), i -> qv[i] * ${qplaneSqlList(p)}[i])) >= 0 THEN ${1 << bit} ELSE 0 END)"
    }.mkString(" + ")

  lazy val dedupEmbeddingSql: String = {
    val bucketSelects = (0 until NumTables)
      .map(t => s"  SELECT vec_id, qv, norm, $t AS tbl, ${bucketSql(t)} AS bucket FROM n")
      .mkString("\n  UNION ALL\n")
    s"""WITH q AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv
       |  FROM embeddings
       |), n AS (
       |  SELECT vec_id, qv, sqrt(CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])) AS DOUBLE)) AS norm
       |  FROM q
       |), b AS (
       |$bucketSelects
       |), cand AS (
       |  SELECT DISTINCT a.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM b a JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket AND a.vec_id != c.vec_id
       |), scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    CAST(list_sum(list_transform(range(1, 65), i -> na.qv[i] * nb.qv[i])) AS DOUBLE) / (na.norm * nb.norm) AS cosine
       |  FROM cand JOIN n na ON na.vec_id = cand.query_id JOIN n nb ON nb.vec_id = cand.neighbor_id
       |)
       |SELECT query_id AS vec_id, neighbor_id AS nearest_id, cosine, cosine >= 0.5 AS is_near_dup FROM (
       |  SELECT query_id, neighbor_id, cosine,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn
       |  FROM scored
       |)
       |WHERE rn = 1
       |ORDER BY vec_id""".stripMargin
  }

  // ---------------------------------------------------------------- LSH ANN

  /** Probes per table for the QUERY side of [[annLsh]] (multi-probe
    * LSH, Lv et al. VLDB'07): each query probes its exact bucket plus
    * the buckets reached by flipping its lowest-|margin| hyperplane
    * bits — the buckets a true neighbor most likely landed in when it
    * fell just across a close plane. 4 probes ≈ the recall of 4× more
    * tables at 1× the index size; the DATA side stays single-bucket,
    * so the index and its build shuffle are unchanged.
    */
  private val LshProbes = 4

  /** query-side multi-probe rows: one (id, tbl, bucket, prn) per
    * probe, `prn` = 1-based position in the table's perturbation
    * sequence — the prefix rank [[annProbeSweep]] derives operating
    * points from (probe p of the kernel's fixed ordering is always
    * probe p, so p-probe candidates are exactly rows with prn ≤ p).
    */
  private def withQProbes(d: DataFrame, nProbes: Int = LshProbes): DataFrame =
    d.select(col("id"), col("qv"), col("norm"),
        posexplode(graft.functions.ArrayExprs.planeSignProbes(
          col("qv"), qplanes.flatten.toArray, BitsPerTable, nProbes)).as(Seq("idx", "bucket")))
      .withColumn("tbl", expr(s"idx div $nProbes").cast(IntegerType))
      .withColumn("prn", (col("idx") % nProbes + 1).cast(IntegerType))
      .drop("idx")

  /** §2.4 #28 — random-hyperplane LSH ANN: 8 tables × 4 bits with
    * `nProbes`-probe multi-probe on the query side (default 4, the
    * operating point [[annProbeSweep]]'s lsh curve justifies); a
    * query's candidates are all data vectors sharing any probed
    * bucket; exact cosine re-rank within candidates. Shuffles only on
    * (table, bucket) keys — no pair space beyond colliding
    * candidates, and the probe factor multiplies only the query-side
    * row count (queries ≪ corpus).
    */
  def annLsh(data: DataFrame, queries: DataFrame, k: Int, nProbes: Int = LshProbes): DataFrame = {
    val q = withQProbes(prep(queries), nProbes)
      .select(col("id").as("query_id"), col("qv").as("qa"), col("norm").as("na"), col("tbl"), col("bucket"))
    val c = withQBuckets(prep(data))
      .select(col("id").as("neighbor_id"), col("qv").as("qb"), col("norm").as("nb"), col("tbl"), col("bucket"))
    val scored = q.join(c, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), pairCos(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"))
      .dropDuplicates("query_id", "neighbor_id")
    topK(scored, k)
  }

  /** named query: first 20 vectors as queries, k=5. Engine-specific
    * candidate set → rows-only + recall ScalaTest vs brute force.
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id").as("id"), col("embedding"))
    annLsh(e, e.filter(col("id") < 20), 5)
  }

  // ------------------------------------------- NN-descent k-NN graph

  /** Approximate k-NN GRAPH of the whole corpus by distributed
    * NN-descent (Dong, Charikar, Li — WWW'11, public): start from LSH
    * bucket-mates (better seeds than the paper's random init — the
    * index we already have) and iteratively improve each node's
    * neighbor list through its neighbors' neighbors, exploiting that a
    * neighbor of a neighbor is likely a neighbor. Two rounds reach the
    * recall class a graph index (HNSW-family) queries at — this is the
    * batch-built, Spark-idiomatic sibling: the same all-join shape a
    * 1000-executor cluster already scales, no sequential insert path.
    *
    * Per round, wide ops and their bounds:
    *  - undirected adjacency = kNN ∪ reverse(kNN), out-degree ≤ pool
    *    (= 2k) and TOTAL per-node degree capped at 2·pool (= 4k) by
    *    deterministic row_number (an
    *    unbounded hub's in-degree would otherwise square in the next
    *    join — the paper's ρ-sampling, made deterministic);
    *  - neighbors-of-neighbors self-join on the middle node: ≤ (2k)²
    *    candidates per node, linear in n for fixed k;
    *  - exact cosine on candidates + top-k: one narrow shuffle each.
    * Every intermediate is (id, id, double) — never a wide-vector
    * shuffle; vectors join back from the cached prep relation.
    *
    * Output: (vec_id, rank, neighbor_id, cosine), rank 1..k by
    * (cosine DESC, neighbor_id) — deterministic. The graph is what
    * semantic dedup, graph-expanded ANN query, and diversity sampling
    * consume downstream.
    */
  def knnGraph(data: DataFrame, k: Int, rounds: Int): DataFrame = {
    // iterate on a 2k-wide pool and emit top-k at the end: descent
    // needs exploration headroom beyond the output width or it
    // plateaus inside the seed buckets (0.78 recall with pool = k,
    // 0.9+ with pool = 2k on the named corpus)
    val pool = 2 * k
    // MEASURED AND REJECTED (r17, guide §1.1): hash-repartitioning
    // prep(data) to defaultParallelism before the cache fill (the
    // 1-task single-file-scan fix that wins elsewhere). It widens the
    // cache fill and the LSH bucketing kernel, but the planner then
    // flips the seed self-join to a broadcast that recomputes the
    // bucketing on both sides and deserializes the ~15 MB broadcast per
    // task (StageProbe: 29 s task CPU vs 5 s; SHUFFLE_HASH and MERGE
    // hints both lose the ReusedExchange the 1-partition plan gets and
    // measured 8-11 s vs 5.6). Interleaved A/B min-of-two: 5.64 s
    // (this shape) vs 5.76 s (repartitioned) — flat wall, 4x task CPU.
    val d = prep(data).cache()
    val withVecs = (cand: DataFrame) => cand
      .join(d.select(col("id").as("query_id"), col("qv").as("qa"), col("norm").as("na")), "query_id")
      .join(d.select(col("id").as("neighbor_id"), col("qv").as("qb"), col("norm").as("nb")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        pairCos(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"))
    // seed: exact top-k within LSH buckets (the annLsh candidate
    // shape) at the corpus-adaptive width — bucket population ≈64, so
    // this self-join stays linear in n (see [[adaptiveBits]])
    val b = withQBucketsN(d, adaptiveBits(d.count()))
    val seedScored = b.select(col("id").as("query_id"), col("qv").as("qa"), col("norm").as("na"), col("tbl"), col("bucket"))
      .join(b.select(col("id").as("neighbor_id"), col("qv").as("qb"), col("norm").as("nb"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), pairCos(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"))
      .dropDuplicates("query_id", "neighbor_id")
    var knn = topK(seedScored, pool)
      .select(col("query_id").as("a"), col("neighbor_id").as("b"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val und = knn.unionAll(knn.select(col("b").as("a"), col("a").as("b"))).distinct()
      // deterministic reverse-degree cap: without it one hub node with
      // in-degree h contributes h² next-join candidates
      val capped = und
        .withColumn("rn", row_number().over(Window.partitionBy(col("a")).orderBy(col("b"))))
        .filter(col("rn") <= 2 * pool).drop("rn")
      val cand = capped.select(col("a"), col("b").as("m"))
        .join(capped.select(col("a").as("m"), col("b").as("c")), "m")
        .select(col("a").as("query_id"), col("c").as("neighbor_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .unionAll(knn.select(col("a").as("query_id"), col("b").as("neighbor_id")))
        .distinct()
      knn = topK(withVecs(cand), pool)
        .select(col("query_id").as("a"), col("neighbor_id").as("b"))
        .localCheckpoint()
    }
    // eager localCheckpoint BEFORE unpersisting prep: the final re-rank
    // join reads the cached relation, so a lazy return + early unpersist
    // would recompute prep from scratch at materialization time
    val out = topK(withVecs(knn.select(col("a").as("query_id"), col("b").as("neighbor_id"))), k)
      .select(col("query_id").as("vec_id"), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy("vec_id", "rank")
      .localCheckpoint()
    d.unpersist()
    out
  }

  /** §2.4 #29m — named query: 5-NN graph of the embeddings corpus,
    * 3 NN-descent rounds (2 measured 0.78 graph recall on the named
    * corpus, 3 converges — each round is one bounded candidate join).
    * Engine-specific (iterative, LSH-seeded) → rows-only; ScalaTest
    * pins recall vs the brute-force true k-NN graph plus determinism.
    */
  def annKnnGraph(spark: SparkSession, dir: String): DataFrame =
    knnGraph(emb(spark, dir).select(col("vec_id").as("id"), col("embedding")), 5, 3)

  /** §2.4 #29n — graph-expanded ANN query: take a cheap seed
    * candidate set (here IVF top-k, recall ≈ 0.86) and repair it by
    * walking `hops` steps of the prebuilt k-NN graph from every seed,
    * then exact-re-rank the expanded set — the query-time half of the
    * graph-index story ([[knnGraph]] is the build-time half). The
    * expansion is a bounded join per hop: |candidates| ≤ seeds·(k+1)^hops,
    * and every wide row stays (query_id, id).
    *
    * On a real deployment the graph is BUILT ONCE and reused across
    * query batches; the named query rebuilds it inline because the
    * harness is stateless per query — its cost is the build, not the
    * expansion.
    */
  def graphExpand(data: DataFrame, queries: DataFrame, k: Int,
      seeds: DataFrame, graph: DataFrame, hops: Int = 2): DataFrame = {
    val g = graph.select(col("vec_id").as("g_src"), col("neighbor_id").as("g_dst"))
    var cand = seeds.select(col("query_id"), col("neighbor_id")).distinct()
    for (_ <- 1 to hops) {
      cand = cand.unionAll(
        cand.join(g, cand("neighbor_id") === col("g_src"))
          .select(col("query_id"), col("g_dst").as("neighbor_id")))
        .distinct()
    }
    val d = prep(data).select(col("id").as("neighbor_id"), col("qv").as("qb"), col("norm").as("nb"))
    val q = prep(queries).select(col("id").as("query_id"), col("qv").as("qa"), col("norm").as("na"))
    val scored = cand
      .join(broadcast(q), "query_id")
      .join(d, "neighbor_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        pairCos(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"))
    topK(scored, k)
  }

  /** The corpus 5-NN graph as a MATERIALIZED index artifact: built
    * once per (session, corpus) by [[knnGraph]] and written to scratch
    * parquet, exactly like `bucketedCopy`'s pay-the-layout-once story
    * — a graph index is reused across query batches, its build
    * amortized, so query-time consumers ([[annGraphExpand]]) read the
    * artifact instead of rebuilding the index inline.
    */
  def knnGraphTable(spark: SparkSession, dir: String, k: Int = 5, rounds: Int = 3): DataFrame = {
    // Key the artifact on a sha-256 of the full corpus dir (a 32-bit
    // hashCode could silently share one cached index between two
    // colliding corpora), and publish build-then-rename: the graph is
    // written to a scratch .tmp path, atomically renamed into place,
    // and only THEN recorded as built — so a concurrent caller blocks
    // on the per-path lock instead of reading a partial artifact, and
    // a failed write leaves the guard unset (the next caller
    // rebuilds) rather than poisoning the session.
    val dirKey = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString
    val path = s"${graft.sources.Ingest.scratchDir(spark)}/knn_graph_${k}_${rounds}_$dirKey"
    val lock = knnGraphLocks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      if (!knnGraphDone.contains(path)) {
        val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
        val dst = new org.apache.hadoop.fs.Path(path)
        knnGraph(emb(spark, dir).select(col("vec_id").as("id"), col("embedding")), k, rounds)
          .write.mode("overwrite").parquet(tmp.toString)
        val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(dst)) fs.delete(dst, true)
        if (!fs.rename(tmp, dst))
          throw new java.io.IOException(s"knnGraphTable: rename $tmp -> $dst failed")
        knnGraphDone.add(path)
      }
    }
    spark.read.parquet(path)
  }
  private val knnGraphDone = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val knnGraphLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** §2.4 #29aa — k-NN graph APPEND maintenance: fold a batch of
    * arriving vectors into a standing NN-descent graph in O(batch)
    * work, closing the one index family that had neither an append
    * nor a delete leg (IVF has 29l/29p/48g). NN-descent is
    * incremental by construction (Dong et al.'11 §2.3 — the local
    * join only ever needs a node's CURRENT neighbor candidates):
    *  1. SEED each arrival from its LSH buckets — the arrival-side
    *     bucket set is batch-bounded and BROADCAST, so the corpus
    *     bucket relation streams map-side and never shuffles;
    *  2. EXPAND one hop through the STANDING graph's lists (a
    *     bounded equi-join: |seeds|·k rows) — the standing index is
    *     the accelerator, exactly how a deployed graph index absorbs
    *     an ingest batch without an O(corpus) rebuild;
    *  3. exact-score the candidates and take the arrivals' top-k;
    *  4. REVERSE-UPDATE: every scored (arrival, base) candidate is
    *     offered back to its base node, whose standing list is merged
    *     and re-cut to k — only nodes in the delta's neighborhoods
    *     are touched (batch-bounded), every other standing row passes
    *     through untouched via a broadcast anti-join.
    * Deletes compose as the broadcast-tombstone anti-join on the
    * output lists (the [[annIvfLive]] merge-on-read shape) — no new
    * operator needed. Engine-specific (LSH-seeded, iterative
    * ancestry) → rows-only; Round23OpsSpec pins conservation (every
    * live node keeps exactly k rows, no self-loops, ranks total) and
    * MEASURED graph recall after append vs the O(corpus) fresh
    * rebuild.
    */
  def knnGraphAppend(base: DataFrame, arrivals: DataFrame, graph: DataFrame, k: Int): DataFrame = {
    val d = prep(base.unionAll(arrivals)).cache()
    val withVecs = (cand: DataFrame) => cand
      .join(d.select(col("id").as("query_id"), col("qv").as("qa"), col("norm").as("na")), "query_id")
      .join(d.select(col("id").as("neighbor_id"), col("qv").as("qb"), col("norm").as("nb")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"),
        pairCos(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"))
    val b = withQBucketsN(d, adaptiveBits(d.count()))
    val arrB = b.join(arrivals.select(col("id")), Seq("id"))
    val seeds = broadcast(arrB.select(col("id").as("query_id"), col("tbl"), col("bucket")))
      .join(b.select(col("id").as("neighbor_id"), col("tbl"), col("bucket")), Seq("tbl", "bucket"))
      .select(col("query_id"), col("neighbor_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
    val g = graph.select(col("vec_id").as("g_src"), col("neighbor_id").as("g_dst"))
    val hop = seeds.join(g, col("neighbor_id") === col("g_src"))
      .select(col("query_id"), col("g_dst").as("neighbor_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
    // scored once, consumed twice (arrival lists + reverse offers)
    val scored = withVecs(seeds.unionAll(hop).distinct()).localCheckpoint()
    val arrKnn0 = topK(scored, k)
    // an out-of-distribution arrival can be a bucket singleton in all
    // tables → zero candidates → it would silently VANISH from the
    // graph, breaking the every-live-node-keeps-k conservation
    // contract. Brute-force-seed exactly the missing set (bounded by
    // the batch, normally EMPTY — the collect is the bounded-
    // candidate-set class and the branch is skipped entirely).
    val missingIds = arrivals.select(col("id"))
      .join(arrKnn0.select(col("query_id").as("id")).distinct(), Seq("id"), "left_anti")
      .collect().map(_.getLong(0)).toSeq
    val arrKnn =
      if (missingIds.isEmpty) arrKnn0
      else {
        val spark = base.sparkSession
        import spark.implicits._
        val cand = broadcast(missingIds.toDF("query_id"))
          .crossJoin(d.select(col("id").as("neighbor_id")))
          .filter(col("query_id") =!= col("neighbor_id"))
        arrKnn0.unionAll(topK(withVecs(cand), k))
      }
    val rev = scored
      .select(col("neighbor_id").as("query_id"), col("query_id").as("neighbor_id"), col("cosine"))
      .join(arrivals.select(col("id").as("query_id")), Seq("query_id"), "left_anti")
    val touched = rev.select(col("query_id")).distinct()
    val standing = graph.select(col("vec_id").as("query_id"), col("neighbor_id"), col("cosine"))
    val updatedTouched = topK(
      standing.join(broadcast(touched), Seq("query_id"), "left_semi")
        .unionAll(rev)
        .dropDuplicates("query_id", "neighbor_id"), k)
    val untouched = graph
      .join(broadcast(touched.select(col("query_id").as("vec_id"))), Seq("vec_id"), "left_anti")
    val out = untouched
      .unionAll(updatedTouched.select(col("query_id").as("vec_id"), col("rank"),
        col("neighbor_id"), col("cosine")))
      .unionAll(arrKnn.select(col("query_id").as("vec_id"), col("rank"),
        col("neighbor_id"), col("cosine")))
      .orderBy("vec_id", "rank")
      .localCheckpoint()
    d.unpersist()
    out
  }

  /** named query: the [[annIncremental]] 90/10 split — standing 5-NN
    * graph over the 90% base (3 descent rounds), the 10% arrival
    * batch folded in by [[knnGraphAppend]]. The standing graph is a
    * MATERIALIZED artifact (the [[knnGraphTable]] idiom, keyed
    * `base90`): on a real deployment the graph EXISTS before the
    * ingest batch arrives, so the steady-state cost of this query is
    * the append itself — the ann_graph_expand 7.77 → 1.96 discipline
    * applied to the maintenance leg.
    */
  def annGraphAppend(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id").as("id"), col("embedding"))
    val base = e.filter(col("id") % 10 =!= 0)
    val fresh = e.filter(col("id") % 10 === 0)
    knnGraphAppend(base, fresh, baseGraphTable(spark, dir), 5)
  }

  /** The 90%-base standing 5-NN graph as a materialized artifact —
    * built once per (session, corpus), sha-keyed, atomic-rename (see
    * [[knnGraphTable]]; separate key because the corpus is the %10
    * base split, not the full table).
    */
  private def baseGraphTable(spark: SparkSession, dir: String): DataFrame = {
    val dirKey = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString
    val path = s"${graft.sources.Ingest.scratchDir(spark)}/knn_graph_base90_$dirKey"
    val lock = knnGraphLocks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      if (!knnGraphDone.contains(path)) {
        val base = emb(spark, dir).select(col("vec_id").as("id"), col("embedding"))
          .filter(col("id") % 10 =!= 0)
        val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
        val dst = new org.apache.hadoop.fs.Path(path)
        knnGraph(base, 5, 3).write.mode("overwrite").parquet(tmp.toString)
        val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(dst)) fs.delete(dst, true)
        if (!fs.rename(tmp, dst))
          throw new java.io.IOException(s"baseGraphTable: rename $tmp -> $dst failed")
        knnGraphDone.add(path)
      }
    }
    spark.read.parquet(path)
  }

  /** named query: IVF seeds for the 20-query workload, 2-hop
    * expansion over the materialized 5-NN graph ([[knnGraphTable]] —
    * built once per session, so steady-state timing measures the true
    * seed+walk+re-rank query cost, not the index build), exact top-5
    * re-rank. Rows-only; ScalaTest pins recall ≥ the IVF seed's and
    * vs brute force.
    */
  def annGraphExpand(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id").as("id"), col("embedding"))
    val queries = e.filter(col("id") < 20)
    graphExpand(e, queries, 5, annIvf(e, queries, 5), knnGraphTable(spark, dir))
  }

  // --------------------------------------- semantic decontamination

  /** §2.3 #26t — SEMANTIC benchmark decontamination (the embedding
    * companion of the 5-gram `decontaminate`: n-gram matching misses
    * paraphrased eval leakage, which is exactly what recent data
    * papers screen with an embedding pass): every corpus vector is
    * scored against the eval-benchmark set (held out as vec_id % 20 =
    * 0) and flagged when its nearest eval neighbor sits at cosine ≥
    * 0.4 — the corpus' near-neighbor band, same convention as
    * `sample_diversity`.
    *
    * Scale shape: the eval suite is BROADCAST (a benchmark set is
    * fixed-size by nature — the ann_bruteforce contract) and every
    * corpus vector scores map-side against it with the codegen'd
    * integer-dot kernel, then one map-side-combinable argmax per
    * vector (the dedup_embedding max-struct idiom) — no shuffle of
    * vectors at all. At a larger eval suite the IVF/LSH prune path
    * (ann_filtered) drops in front unchanged.
    */
  def decontaminateSemantic(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id").as("id"), col("embedding"))
    val evalSet = prep(e.filter(col("id") % 20 === 0))
      .select(col("id").as("eval_id"), col("qv").as("qb"), col("norm").as("nb"))
    val corpus = prep(e.filter(col("id") % 20 =!= 0))
      .select(col("id").as("vec_id"), col("qv").as("qa"), col("norm").as("na"))
    corpus.crossJoin(broadcast(evalSet))
      .select(col("vec_id"), col("eval_id"),
        pairCos(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cosine"), (-col("eval_id")).as("nid"))).as("m"))
      .select(
        col("vec_id"),
        (-col("m.nid")).as("nearest_eval_id"),
        col("m.cosine").as("cosine"),
        (col("m.cosine") >= 0.4).as("contaminated"),
      )
      .orderBy("vec_id")
  }

  val decontaminateSemanticSql: String =
    """WITH q AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, qv,
      |    sqrt(CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])) AS DOUBLE)) AS norm
      |  FROM q
      |), p AS (
      |  SELECT c.vec_id, e.vec_id AS eval_id,
      |    CAST(list_sum(list_transform(range(1, 65), i -> c.qv[i] * e.qv[i])) AS DOUBLE) / (c.norm * e.norm) AS cosine
      |  FROM n c JOIN n e ON e.vec_id % 20 = 0
      |  WHERE c.vec_id % 20 != 0
      |), best AS (
      |  SELECT vec_id, eval_id AS nearest_eval_id, cosine FROM (
      |    SELECT vec_id, eval_id, cosine,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY cosine DESC, eval_id) AS rk
      |    FROM p
      |  ) WHERE rk = 1
      |)
      |SELECT vec_id, nearest_eval_id, cosine, cosine >= 0.4 AS contaminated
      |FROM best
      |ORDER BY vec_id""".stripMargin

  // ------------------------------------------- diversity sampling

  /** §2.4 #29o — diversity / coreset sampling over the k-NN graph
    * (the promised downstream consumer of [[knnGraph]]): a
    * deterministic degree-penalized greedy keep. Nodes are totally
    * ordered by priority (degree ASC, vec_id ASC) — sparse-region
    * points first, hubs of dense near-dup neighborhoods last — and
    * the kept set is the LEXICOGRAPHICALLY-FIRST MAXIMAL INDEPENDENT
    * SET of the similarity graph (edges = graph pairs at cosine ≥
    * `simThreshold`): no two kept points are near-dups of each other,
    * and every dropped point is similar to a kept representative —
    * the k-center-lite coverage guarantee an LLM curation pass wants.
    *
    * Computed distributed, not sequentially: per round, every still-
    * active node that beats ALL its active neighbors is kept and its
    * neighbors dropped (the Luby local-optimum step — provably equal
    * to the sequential greedy in priority order, which is exactly
    * what the ScalaTest replays). Per-round wide ops are (id, degree)
    * shuffles keyed on node id — the q_components shape; vectors
    * never shuffle at all (the graph is the only input). Rounds track
    * the priority-chain depth of a near-dup cluster, far under the
    * loud `maxRounds` bound — exhausting it THROWS (the boruvkaMsf
    * idiom), never a silent partial sample.
    *
    * Output: one row per corpus vector — (vec_id, degree, kept,
    * rep_id); rep_id = itself when kept, else the min-priority kept
    * neighbor covering it (the cluster representative).
    */
  def diversitySample(graph: DataFrame, simThreshold: Double, maxRounds: Int = 40): DataFrame = {
    val half = graph.filter(col("cosine") >= simThreshold)
      .select(col("vec_id").as("a"), col("neighbor_id").as("b"))
    val sym = half.unionAll(half.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint()
    val deg = graph.select(col("vec_id")).distinct()
      .join(sym.groupBy(col("a").as("vec_id")).agg(count(lit(1)).as("degree")),
        Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("degree"), lit(0L)).as("degree"))
      .localCheckpoint()
    var active = deg
    var kept: Option[DataFrame] = None
    var round = 0
    while (round < maxRounds && !active.isEmpty) {
      round += 1
      val pa = active.select(col("vec_id").as("a"), struct(col("degree"), col("vec_id")).as("pa"))
      val pb = active.select(col("vec_id").as("b"), struct(col("degree"), col("vec_id")).as("pb"))
      // best (min-priority) ACTIVE neighbor; a node with none — or that
      // beats it — is a local optimum of the total order and is kept
      val best = sym.join(pb, "b").groupBy(col("a")).agg(min(col("pb")).as("best_nbr"))
      val keep = pa.join(best, Seq("a"), "left")
        .filter(col("best_nbr").isNull || col("pa") < col("best_nbr"))
        .select(col("a").as("vec_id"))
        .localCheckpoint()
      kept = Some(kept.fold(keep)(_.unionAll(keep)))
      val dropped = sym.join(keep.select(col("vec_id").as("a")), "a")
        .select(col("b").as("vec_id")).distinct()
      active = active
        .join(keep.unionAll(dropped).distinct(), Seq("vec_id"), "left_anti")
        .localCheckpoint()
    }
    if (!active.isEmpty)
      throw new IllegalStateException(
        s"diversitySample: $maxRounds rounds exhausted with active nodes remaining — " +
          "the sample would be partial, not a maximal independent set")
    val k = kept.getOrElse(deg.select(col("vec_id")).filter(lit(false)))
    val keptPri = deg.join(k, Seq("vec_id"), "left_semi")
      .select(col("vec_id").as("b"), struct(col("degree"), col("vec_id")).as("pb"))
    val reps = sym.join(keptPri, "b")
      .groupBy(col("a").as("vec_id")).agg(min(col("pb")).as("m"))
      .select(col("vec_id"), col("m.vec_id").as("rep_id"))
    deg
      .join(k.select(col("vec_id"), lit(true).as("is_kept")), Seq("vec_id"), "left")
      .join(reps, Seq("vec_id"), "left")
      .select(col("vec_id"), col("degree"),
        coalesce(col("is_kept"), lit(false)).as("kept"),
        when(coalesce(col("is_kept"), lit(false)), col("vec_id"))
          .otherwise(col("rep_id")).as("rep_id"))
      .orderBy("vec_id")
  }

  /** named query: greedy diversity keep over the materialized 5-NN
    * graph at cosine ≥ 0.4 — the corpus's near-NEIGHBOR band (its max
    * pairwise cosine is ≈ 0.48-0.51 across SFs, so dedup_embedding's
    * 0.5 near-DUP cut leaves this graph nearly edgeless; a diversity
    * pass prunes crowded neighborhoods, not just duplicates). Rows-only
    * by design (iterative greedy selection); ScalaTest replays the
    * sequential greedy MIS and pins independence + coverage +
    * representatives.
    */
  def sampleDiversity(spark: SparkSession, dir: String): DataFrame =
    diversitySample(knnGraphTable(spark, dir), 0.4)

  // ------------------------------------------------------------- k-means

  /** Spherical k-means over the quantized vectors, for the IVF coarse
    * quantizer. Distributed k-means||-style pipeline (Bahmani'12):
    *
    *  1. oversampling init — `oversampleRounds` passes, each sampling
    *     points with probability ∝ their cosine distance to the current
    *     candidate set (deterministic hash-based Bernoulli, so retries
    *     and speculation see the same sample);
    *  2. the (small) candidate set is weighted by cluster population
    *     and reduced to `k` centers driver-side with weighted
    *     k-means++ + local Lloyd;
    *  3. `lloydIters` distributed Lloyd rounds: broadcast centroids →
    *     argmax-cosine assign (map-side partial agg, no window) →
    *     per-position mean.
    *
    * Only the candidate set (≲ 2k·rounds rows) and the k×dim centroid
    * table ever reach the driver — data-side work is map-side against
    * broadcast centroids plus one narrow shuffle per round.
    *
    * Returns (centroid_id: int, cv: array<bigint>, cnorm: double).
    */
  def kmeansCentroids(
      data: DataFrame,
      k: Int,
      oversampleRounds: Int = 2,
      lloydIters: Int = 3,
      driverMaxPoints: Long = 100000L,
  ): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    require(k >= 1, "k must be >= 1")
    val d = prep(data).cache()
    try {
      def centDf(cs: Seq[Array[Long]]): DataFrame =
        cs.zipWithIndex.map { case (cv, i) => (i, cv) }.toDF("cid", "cv")
          .withColumn("cnorm", sqrt(qdot(col("cv"), col("cv")).cast(DoubleType)))

      // Bounded driver fast path: k-means|| exists to avoid collecting
      // the DATA; below the bound the data itself is as small as the
      // candidate set the distributed path collects anyway, and full
      // local k-means++ + Lloyd replaces ~2+rounds+lloydIters sequential
      // Spark jobs with one collect (and trains on every point, not an
      // oversampled subset). Deterministic: points sorted by id, fixed
      // k-means++ seed.
      def asResult(df: DataFrame): DataFrame =
        df.select(col("cid").as("centroid_id"), col("cv"), col("cnorm"))

      // probe with limit(n+1) instead of a full count: the distributed
      // path only needs to know "more than driverMaxPoints rows exist",
      // and CollectLimit stops scanning as soon as n+1 rows are found —
      // a full count job over 100 TB just to pick the branch is waste
      val probeN = math.min(driverMaxPoints, Int.MaxValue - 1L).toInt + 1
      if (d.limit(probeN).count() <= driverMaxPoints) {
        val pts = d.select(col("id"), col("qv")).as[(Long, Seq[Long])].collect()
          .sortBy(_._1).map(_._2.toArray)
        if (pts.isEmpty) return asResult(centDf(Seq.empty))
        val unit = pts.map { p =>
          val nrm = math.max(math.sqrt(p.map(x => x.toDouble * x).sum), 1e-12)
          p.map(_ / nrm)
        }
        // deterministic multi-restart: k-means++ is seed-sensitive; pick
        // the restart with the lowest spherical quantization cost
        def cost(cs: Array[Array[Long]]): Double = {
          val cu = cs.map { c =>
            val nrm = math.max(math.sqrt(c.map(x => x.toDouble * x).sum), 1e-12)
            c.map(_ / nrm)
          }
          unit.map { p =>
            var best = -2.0
            cu.foreach { c =>
              var s = 0.0; var i = 0
              while (i < p.length) { s += p(i) * c(i); i += 1 }
              if (s > best) best = s
            }
            1.0 - best
          }.sum
        }
        val centers = Seq(13, 101, 997)
          .map(s => localWeightedKMeans(pts, Array.fill(pts.length)(1.0), k, iters = 12, seed = s))
          .minBy(cost)
        return asResult(centDf(centers.toSeq))
      }

      /** per-point best (cosine, centroid) against a broadcast centroid set. */
      def assign(cs: Seq[Array[Long]]): DataFrame =
        d.join(broadcast(centDf(cs)), lit(true))
          .withColumn("cos", pairCos(col("qv"), col("cv"), col("norm"), col("cnorm")))
          .groupBy(col("id"))
          .agg(
            max(struct(col("cos"), (-col("cid")).cast(LongType).as("nid"))).as("m"),
            first(col("qv")).as("qv"),
          )
          .select(col("id"), col("qv"), col("m.cos").as("best_cos"), (-col("m.nid")).cast(IntegerType).as("best_cid"))

      // 1. seed with a deterministic pseudo-random point, then
      // oversample (min_by = one partial-agg job, not a global sort)
      val seed = d.agg(min_by(col("qv"), struct(pmod(hash(col("id")), lit(1 << 30)), col("id"))).as("qv"))
        .select("qv").as[Seq[Long]].head().toArray
      var cand = Vector(seed)
      for (r <- 1 to oversampleRounds) {
        val scored = assign(cand)
          .withColumn("dist", greatest(lit(0.0), lit(1.0) - col("best_cos")))
        val cost = math.max(scored.agg(sum(col("dist"))).head.getDouble(0), 1e-12)
        // P(sample) = min(1, 2k·dist/cost) via a deterministic uniform
        // from hash(id, round)
        val fresh = scored
          .withColumn("u", pmod(hash(col("id"), lit(r)), lit(1000003)).cast(DoubleType) / 1000003.0)
          .filter(col("u") * cost < col("dist") * (2.0 * k))
          .select("qv").as[Seq[Long]].collect().map(_.toArray)
        cand = cand ++ fresh
      }

      // 2. weight candidates by population, reduce to k locally
      val weights = assign(cand).groupBy("best_cid").count().as[(Int, Long)].collect().toMap
      var centers: Array[Array[Long]] = localWeightedKMeans(
        cand.toArray,
        cand.indices.map(i => math.max(weights.getOrElse(i, 0L).toDouble, 1e-9)).toArray,
        k,
      )

      // 3. distributed Lloyd refinement
      for (_ <- 1 to lloydIters) {
        val upd = assign(centers.toSeq)
          .select(col("best_cid"), posexplode(col("qv")).as(Seq("pos", "v")))
          .groupBy("best_cid", "pos").agg(avg(col("v")).as("m"))
          .as[(Int, Int, Double)].collect()
        val byC = upd.groupBy(_._1)
        centers = centers.zipWithIndex.map { case (old, i) =>
          byC.get(i) match {
            case Some(rows) =>
              // spherical k-means: project the mean back onto the
              // sphere (the raw mean of unit vectors lies inside it),
              // then re-quantize to the ×10000 grid
              val mean = old.map(_.toDouble)
              rows.foreach { case (_, pos, m) => mean(pos) = m }
              val nrm = math.max(math.sqrt(mean.map(x => x * x).sum), 1e-12)
              mean.map(x => math.floor(x / nrm * 10000 + 0.5).toLong)
            case None => old // empty cluster: keep the previous center
          }
        }
      }
      centDf(centers.toSeq).select(col("cid").as("centroid_id"), col("cv"), col("cnorm"))
    } finally d.unpersist()
  }

  /** Driver-side weighted k-means++ + Lloyd on the (tiny) k-means||
    * candidate set. Cosine geometry: centers live on the unit sphere,
    * re-quantized to the same ×10000 int64 grid as the data.
    */
  private def localWeightedKMeans(
      pts: Array[Array[Long]],
      w: Array[Double],
      k: Int,
      iters: Int = 10,
      seed: Int = 13,
  ): Array[Array[Long]] = {
    val n = pts.length
    if (n <= k) return pts
    val dim = pts(0).length
    val unit = pts.map { p =>
      val nrm = math.max(math.sqrt(p.map(x => x.toDouble * x).sum), 1e-12)
      p.map(_ / nrm)
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { s += a(i) * b(i); i += 1 }
      s
    }
    val rnd = new scala.util.Random(seed)
    val centers = scala.collection.mutable.ArrayBuffer[Array[Double]](unit(rnd.nextInt(n)))
    while (centers.size < k) {
      val dists = unit.indices.map(i => w(i) * math.max(0.0, 1.0 - centers.iterator.map(c => cos(c, unit(i))).max))
      val tot = dists.sum
      if (tot <= 0) centers += unit(rnd.nextInt(n))
      else {
        var t = rnd.nextDouble() * tot
        var i = 0
        while (i < n - 1 && t > dists(i)) { t -= dists(i); i += 1 }
        centers += unit(i)
      }
    }
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val ws = new Array[Double](k)
      unit.indices.foreach { i =>
        var best = 0; var bc = -2.0
        var c = 0
        while (c < k) { val s = cos(centers(c), unit(i)); if (s > bc) { bc = s; best = c }; c += 1 }
        ws(best) += w(i)
        var j = 0
        while (j < dim) { sums(best)(j) += w(i) * unit(i)(j); j += 1 }
      }
      centers.indices.foreach { c =>
        if (ws(c) > 0) {
          val nrm = math.max(math.sqrt(sums(c).map(x => x * x).sum), 1e-12)
          centers(c) = sums(c).map(_ / nrm)
        }
      }
    }
    centers.map(_.map(x => math.floor(x * 10000 + 0.5).toLong)).toArray
  }

  // ---------------------------------------------------------------- IVF ANN

  /** §2.4 #29 — IVF ANN with a supplied coarse quantizer
    * (from [[kmeansCentroids]]): inverted lists by nearest centroid,
    * each query probes the `nProbes` nearest lists, exact cosine
    * re-rank inside. The centroid table is broadcast; the only wide op
    * is the inverted-list shuffle on centroid id.
    */
  def annIvf(data: DataFrame, queries: DataFrame, k: Int, nProbes: Int, centroids: DataFrame): DataFrame = {
    val cs = broadcast(centroids)

    // inverted lists: argmax-cosine centroid per vector (map-side
    // partial agg, no window)
    val assigned = prep(data)
      .join(cs, lit(true))
      .withColumn("cos", pairCos(col("qv"), col("cv"), col("norm"), col("cnorm")))
      .groupBy(col("id"))
      .agg(
        max(struct(col("cos"), (-col("centroid_id")).cast(LongType).as("nid"))).as("m"),
        first(col("qv")).as("qv"),
        first(col("norm")).as("norm"),
      )
      .select(col("id").as("neighbor_id"), col("qv").as("qb"), col("norm").as("nb"), (-col("m.nid")).cast(IntegerType).as("centroid_id"))

    // probes: nProbes nearest centroids per query (query batch is small
    // → window is cheap here and keeps the deterministic tie-break)
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("centroid_id"))
    val probes = prep(queries)
      .select(col("id").as("query_id"), col("qv").as("qa"), col("norm").as("na"))
      .join(cs, lit(true))
      .withColumn("cos", pairCos(col("qa"), col("cv"), col("na"), col("cnorm")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbes)
      .select(col("query_id"), col("qa"), col("na"), col("centroid_id"))

    // each data vector lives in exactly one list and probe lists are
    // distinct, so (query, neighbor) pairs are already unique
    val scored = probes
      .join(assigned, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), pairCos(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"))
    topK(scored, k)
  }

  /** trains the quantizer on `data` itself. nProbes default picked by
    * a sweep of recall@5 against brute force over (numCentroids 8/16/32,
    * nProbes 2-8): 8 of 16 lists holds recall@5 ≥ 0.75 on
    * both the named and held-out query sets (4 probes sat at 0.59-0.67,
    * under the ≥0.7 floor DedupVectorSpec asserts). At corpus scale
    * numCentroids grows ∝ n and the probed FRACTION shrinks — the
    * recall/cost point is the caller's knob, this default is the test
    * corpus's.
    */
  def annIvf(data: DataFrame, queries: DataFrame, k: Int, nProbes: Int = 8, numCentroids: Int = 16): DataFrame =
    annIvf(data, queries, k, nProbes, kmeansCentroids(data, numCentroids))

  /** named query: first 20 vectors as queries, k=5, 16 k-means
    * centroids, 8 probes. Engine-specific candidate set → rows-only +
    * recall ScalaTest vs brute force.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id").as("id"), col("embedding"))
    annIvf(e, e.filter(col("id") < 20), 5)
  }

  /** Materialized IVF index — the physical layout behind the "IVF
    * lists are partition-pruned reads" scale story. The inverted
    * lists (id, qv, norm, centroid_id) are written ONCE per (session,
    * corpus) to scratch parquet PARTITIONED BY centroid_id, and the
    * trained centroid table is persisted next to them so every later
    * consumer probes against the exact frozen quantizer that built
    * the lists (the knnGraphTable pay-the-layout-once + sha-keyed
    * atomic-rename idiom). Returns (lists, centroids), both read from
    * the artifact.
    */
  def ivfIndexTable(spark: SparkSession, dir: String,
      numCentroids: Int = 16): (DataFrame, DataFrame) = {
    val dirKey = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString
    val path = s"${graft.sources.Ingest.scratchDir(spark)}/ivf_index_${numCentroids}_$dirKey"
    val lock = knnGraphLocks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      if (!knnGraphDone.contains(path)) {
        val e = emb(spark, dir).select(col("vec_id").as("id"), col("embedding"))
        val cents = kmeansCentroids(e, numCentroids)
        val assigned = prep(e)
          .join(broadcast(cents), lit(true))
          .withColumn("cos", pairCos(col("qv"), col("cv"), col("norm"), col("cnorm")))
          .groupBy(col("id"))
          .agg(
            max(struct(col("cos"), (-col("centroid_id")).cast(LongType).as("nid"))).as("m"),
            first(col("qv")).as("qv"),
            first(col("norm")).as("norm"),
          )
          .select(col("id"), col("qv"), col("norm"), (-col("m.nid")).cast(IntegerType).as("centroid_id"))
        val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
        val dst = new org.apache.hadoop.fs.Path(path)
        assigned.write.mode("overwrite")
          .partitionBy("centroid_id").parquet(s"$tmp/lists")
        cents.write.mode("overwrite").parquet(s"$tmp/centroids")
        val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(dst)) fs.delete(dst, true)
        if (!fs.rename(tmp, dst))
          throw new java.io.IOException(s"ivfIndexTable: rename $tmp -> $dst failed")
        knnGraphDone.add(path)
      }
    }
    (spark.read.parquet(s"$path/lists"), spark.read.parquet(s"$path/centroids"))
  }

  /** §2.4 #29q — ANN over the MATERIALIZED IVF index: the steady-state
    * production read. The union of probed list ids for the batch —
    * AT MOST numCentroids values, bounded by construction, the
    * whitelisted bounded-driver-collect class — is pushed into the
    * lists scan as a STATIC partition predicate, so "probe 8 of 16
    * lists" reads ONLY the probed `centroid_id=` directories: at
    * 100 TB the index read is proportional to the probed fraction,
    * not the corpus. (Joining on the partition column and leaning on
    * dynamic partition pruning was tried first: Spark planned
    * `dynamicpruningexpression(true)` — considered, then elided — so
    * the scan read every list; the explicit ≤numCentroids-value IN
    * predicate prunes deterministically and is plan-pinned by
    * Round17OpsSpec, along with exact result equality with the
    * inline [[annIvf]] under the same frozen centroids.) Build is
    * amortized across query batches; [[annIvfLive]]'s tombstone anti
    * join composes on top unchanged.
    */
  def annIvfIndexed(spark: SparkSession, dir: String): DataFrame = {
    val queries = emb(spark, dir).select(col("vec_id").as("id"), col("embedding"))
      .filter(col("id") < 20)
    annIvfIndexed(spark, dir, queries, 5, 8)
  }

  /** Parameterized core of [[annIvfIndexed(spark:*]]. */
  def annIvfIndexed(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, nProbes: Int): DataFrame = {
    val (lists, cents) = ivfIndexTable(spark, dir)
    val cs = broadcast(cents)
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("centroid_id"))
    val probes = prep(queries)
      .select(col("id").as("query_id"), col("qv").as("qa"), col("norm").as("na"))
      .join(cs, lit(true))
      .withColumn("cos", pairCos(col("qa"), col("cv"), col("na"), col("cnorm")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbes)
      .select(col("query_id"), col("qa"), col("na"), col("centroid_id"))
      .cache()
    val probedIds = probes.select(col("centroid_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    val scored = probes
      .join(lists.filter(col("centroid_id").isin(probedIds.map(Integer.valueOf): _*)),
        Seq("centroid_id"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        pairCos(col("qa"), col("qv"), col("na"), col("norm")).as("cosine"))
    // materialize-then-release: probes is read twice (the driver-side
    // probed-id collect above and the list join); leaving it cached
    // past the call would leak a block-manager entry per query batch
    // for the session lifetime
    graft.GraftSession.materialized(topK(scored, k), Seq("query_id", "rank"), probes)
  }

  /** §2.4 #29s — materialized IVF-PQ composed index: PQ codes stored
    * INSIDE the centroid_id-partitioned inverted lists — the
    * production memory shape (Jégou '11 §IV: coarse quantizer routes,
    * product codes compress what the lists hold). [[ivfIndexTable]]
    * keeps raw vectors in its lists, so a probed read is
    * raw-vector-sized; here a list row is (id, codes, norm) —
    * numSub bytes of code vs 8·dim of vector: rows ~16× narrower,
    * measured 5.7× smaller on disk after parquet encoding
    * (Round18OpsSpec), at any corpus size. The coarse quantizer, the PQ
    * codebooks, and the encoded lists are all frozen into one
    * sha-keyed atomic-rename artifact so every later consumer scores
    * against the exact quantizers that built it. Codes encode the RAW
    * vector (not the residual): the ADC kernel, its LUT, and the
    * cosine normalization are then shared verbatim with [[annPq]] —
    * one quantization arithmetic to test, one to trust.
    *
    * Returns (lists, centroids, codebooks), lists physically
    * partitioned by `centroid_id`.
    */
  def ivfPqIndexTable(spark: SparkSession, dir: String,
      numCentroids: Int = 16, numSub: Int = 16, ksub: Int = 16): (DataFrame, DataFrame, Array[Array[Long]]) = {
    val dirKey = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString
    val path = s"${graft.sources.Ingest.scratchDir(spark)}/ivfpq_index_${numCentroids}_${numSub}_${ksub}_$dirKey"
    val lock = knnGraphLocks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      if (!knnGraphDone.contains(path)) {
        val e = emb(spark, dir).select(col("vec_id").as("id"), col("embedding"))
        val cb = pqCodebooks(e, numSub, ksub)
        val cents = kmeansCentroids(e, numCentroids)
        val enc = graft.functions.ArrayExprs.pqEncode(col("qv"), cb, numSub, ksub)
        val assigned = prep(e)
          .join(broadcast(cents), lit(true))
          .withColumn("cos", pairCos(col("qv"), col("cv"), col("norm"), col("cnorm")))
          .groupBy(col("id"))
          .agg(
            max(struct(col("cos"), (-col("centroid_id")).cast(LongType).as("nid"))).as("m"),
            first(col("qv")).as("qv"),
            first(col("norm")).as("norm"),
          )
          .select(col("id"), enc.as("codes"), col("norm"),
            (-col("m.nid")).cast(IntegerType).as("centroid_id"))
        import spark.implicits._
        val cbRows = cb.zipWithIndex
          .map { case (center, i) => (i / ksub, i % ksub, center.toSeq) }.toSeq
          .toDF("sub", "code", "center")
        val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
        val dst = new org.apache.hadoop.fs.Path(path)
        assigned.write.mode("overwrite")
          .partitionBy("centroid_id").parquet(s"$tmp/lists")
        cents.write.mode("overwrite").parquet(s"$tmp/centroids")
        cbRows.coalesce(1).write.mode("overwrite").parquet(s"$tmp/codebooks")
        val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(dst)) fs.delete(dst, true)
        if (!fs.rename(tmp, dst))
          throw new java.io.IOException(s"ivfPqIndexTable: rename $tmp -> $dst failed")
        knnGraphDone.add(path)
      }
    }
    val cb = spark.read.parquet(s"$path/codebooks")
      .collect().map(r => (r.getAs[Int]("sub"), r.getAs[Int]("code"),
        r.getAs[Seq[Long]]("center").toArray))
      .sortBy(t => (t._1, t._2)).map(_._3)
    (spark.read.parquet(s"$path/lists"), spark.read.parquet(s"$path/centroids"), cb)
  }

  /** §2.4 #29s — ANN over the composed IVF-PQ index: probe the coarse
    * quantizer, ADC-scan ONLY the probed lists' codes, exact re-rank
    * the shortlist from the raw table. The steady-state read at
    * 100 TB is (probed fraction) × (compressed row width): the probed
    * partition directories are selected by the same bounded static IN
    * predicate [[annIvfIndexed]] pins, and each holds PQ codes + a
    * norm instead of raw vectors, so the scan is ~16× smaller again.
    * Full vectors are touched only for the `shortlistFactor`·k ADC
    * survivors per query (an id semi-join against the raw table — at
    * scale a bounded point-lookup set, never a corpus scan).
    */
  def annIvfPq(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, nProbes: Int, numSub: Int = 16, ksub: Int = 16,
      shortlistFactor: Int = 8, tombstones: Option[DataFrame] = None): DataFrame = {
    val (lists0, cents, cb) = ivfPqIndexTable(spark, dir, numSub = numSub, ksub = ksub)
    // tombstone-aware read (the annIvfLive contract on the composed
    // index): the broadcast anti join filters the PROBED compressed
    // lists before the ADC scan, so corpses never enter the shortlist
    // and never cost a re-rank lookup — the merge-on-read delete
    // model with the compressed scan as the read tax's lower bound
    val lists = tombstones.fold(lists0)(t =>
      lists0.join(broadcast(t.select(col("id"))), Seq("id"), "left_anti"))
    val cs = broadcast(cents)
    val qprep = prep(queries)
      .select(col("id").as("query_id"), col("qv").as("qa"), col("norm").as("na"))
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("centroid_id"))
    val lut = graft.functions.ArrayExprs.pqLut(col("qa"), cb, numSub, ksub)
    val probes = qprep
      .join(cs, lit(true))
      .withColumn("cos", pairCos(col("qa"), col("cv"), col("na"), col("cnorm")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nProbes)
      .select(col("query_id"), lut.as("lut"), col("na"), col("centroid_id"))
      .cache()
    val probedIds = probes.select(col("centroid_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    // stage 1 — compressed ADC scan of the probed lists only: the
    // scan reads codes + norm, never a raw vector
    val adc = probes
      .join(lists.filter(col("centroid_id").isin(probedIds.map(Integer.valueOf): _*)),
        Seq("centroid_id"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (graft.functions.ArrayExprs.pqAdcScore(col("codes"), col("lut"), ksub).cast(DoubleType) /
          (col("na") * col("norm"))).as("adc_cosine"))
    val wAdc = Window.partitionBy(col("query_id")).orderBy(col("adc_cosine").desc, col("neighbor_id"))
    val shortlist = adc
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= shortlistFactor * k)
      .select("query_id", "neighbor_id")
    // stage 2 — exact re-rank of the shortlist from the RAW table
    val raw = prep(emb(spark, dir).select(col("vec_id").as("id"), col("embedding")))
      .select(col("id").as("neighbor_id"), col("qv").as("qb"), col("norm").as("nb"))
    val scored = shortlist
      .join(raw, "neighbor_id")
      .join(broadcast(qprep), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        pairCos(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"))
    graft.GraftSession.materialized(topK(scored, k), Seq("query_id", "rank"), probes)
  }

  /** named query: first 20 vectors, k=5, 8/16 probes over the
    * composed index. Engine-specific quantizers → rows-only;
    * Round18OpsSpec pins recall@5 vs brute force, the probed-list
    * partition pruning, and ADC-arithmetic equality with [[annPq]]'s
    * kernel on the shared codebooks.
    */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val queries = emb(spark, dir).select(col("vec_id").as("id"), col("embedding"))
      .filter(col("id") < 20)
    // shortlist 16·k: the ADC scan runs on probed lists only, so a
    // deeper shortlist costs (bounded) re-rank lookups, not scan — it
    // recovers the in-list ADC approximation loss entirely (recall
    // 0.71 → 0.76 at sf0.001 = ann_ivf's probe ceiling at 8/16)
    annIvfPq(spark, dir, queries, 5, 8, shortlistFactor = 16)
  }

  /** named query: the composed index under the standing tombstone set
    * (ids ≡ 3 mod 7, [[annDelete]]'s delete feed) read by undeleted
    * queries — the steady-state production read between compactions.
    * Rows-only; Round18OpsSpec pins no-corpse-surfaces and
    * empty-tombstones ≡ plain composed read.
    */
  def annIvfPqLive(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id").as("id"), col("embedding"))
    val tomb = e.select(col("id")).filter(col("id") % 7 === 3)
    val queries = e.filter(col("id") < 20 && col("id") % 7 =!= 3)
    annIvfPq(spark, dir, queries, 5, 8, shortlistFactor = 16, tombstones = Some(tomb))
  }

  /** §2.4 #29r — embedding-space hubness audit (Radovanović '10): the
    * distribution of REVERSE k-NN degree over the materialized 5-NN
    * graph. In a healthy space in-degree concentrates near k; a
    * heavy upper tail ("hubs" — points that appear in everyone's
    * neighbor list) is the classic symptom of anisotropic/collapsed
    * embeddings and silently poisons every consumer (near-dup
    * clustering over-merges, diversity sampling under-covers, ANN
    * recall drops on the tail). Report: nodes per clamped in-degree
    * band 0..10+ with exact ppm shares, plus the max in-degree and
    * the hub share (in-degree ≥ 2k) — the two numbers a pipeline
    * alerts on.
    *
    * Scale shape: one groupBy over the (id, id) edge artifact
    * ([[knnGraphTable]] — built once per (session, corpus)), one
    * ≤12-row rollup, one broadcast 1-row total. Rows-only by design
    * (the graph is engine-specific); Round17OpsSpec replays the
    * histogram from the same artifact in plain Scala.
    */
  def embHubness(spark: SparkSession, dir: String): DataFrame = {
    val g = knnGraphTable(spark, dir)
    val n = emb(spark, dir).count()
    val indeg = g.groupBy(col("neighbor_id")).agg(count(lit(1)).as("indeg"))
    // nodes never referenced have in-degree 0: total nodes minus
    // referenced nodes, appended as the band-0 row
    val referenced = indeg.count()
    val bands = indeg
      .select(least(col("indeg"), lit(10L)).as("band"), col("indeg"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_nodes"), max(col("indeg")).as("max_in_band"))
    val zero = {
      import spark.implicits._
      Seq((0L, n - referenced, 0L)).toDF("band", "n_nodes", "max_in_band")
        .filter(col("n_nodes") > 0)
    }
    bands.unionByName(zero)
      .withColumn("share_ppm", expr(s"n_nodes * 1000000L div ${n}L"))
      .withColumn("is_hub_band", col("band") >= lit(10L))
      .orderBy("band")
  }

  // ------------------------------------------------------- filtered ANN

  /** §2.4 #29c — metadata-filtered similarity search: top-k neighbors
    * among the data vectors satisfying a per-query predicate expressed
    * as an equi-key (here: the partition label both sides share). The
    * hybrid-search primitive of a training pipeline — "nearest
    * neighbors within the same language / domain / shard".
    *
    * Scale design: the filter key becomes the JOIN key, so the pair
    * space is pruned to same-key pairs by the shuffle itself — no
    * post-hoc filter over a broadcast-everything cross join (which at
    * 100× data is exactly the all-pairs mistake the bucketed family
    * exists to avoid). Within a hot key the LSH/IVF variants compose
    * (bucket within key); at the test corpus's label cardinality the
    * equi-join is already the right plan.
    */
  def annFiltered(data: DataFrame, queries: DataFrame, k: Int, key: String): DataFrame = {
    val q = prep(queries.select(col("id"), col("embedding")))
      .join(queries.select(col("id"), col(key)), "id")
      .select(col("id").as("query_id"), col("qv").as("qa"), col("norm").as("na"), col(key))
    val c = prep(data.select(col("id"), col("embedding")))
      .join(data.select(col("id"), col(key)), "id")
      .select(col("id").as("neighbor_id"), col("qv").as("qb"), col("norm").as("nb"), col(key))
    val scored = q.join(c, Seq(key))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col(key), col("neighbor_id"),
        pairCos(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"),
      )
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(key), col("rank"), col("neighbor_id"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- PQ ANN

  /** §2.4 #29d — product-quantization codebooks (Jégou'11): the
    * 64-dim grid vectors split into `numSub` subspaces; each gets a
    * `ksub`-centroid Euclidean codebook. Training collects only a
    * DETERMINISTIC BOUNDED SAMPLE to the driver (hash-ordered
    * TakeOrdered — a per-partition heap, not a global sort): PQ
    * codebooks are trained on a fixed-size sample at ANY corpus scale
    * (the standard practice of every production ANN stack), so the
    * driver load is O(sampleMax), never O(n).
    *
    * Returns the flattened tensor codebooks(j*ksub + c), re-quantized
    * to the ×10000 grid — shared by encode, LUT, and the spec.
    */
  def pqCodebooks(
      data: DataFrame,
      numSub: Int,
      ksub: Int,
      sampleMax: Int = 100000,
  ): Array[Array[Long]] = {
    val spark = data.sparkSession
    import spark.implicits._
    val sample = prep(data)
      .orderBy(pmod(hash(col("id")), lit(1 << 30)), col("id"))
      .limit(sampleMax)
      .select(col("qv")).as[Seq[Long]].collect().map(_.toArray)
    require(sample.nonEmpty, "pqCodebooks: empty input")
    val dim = sample(0).length
    require(dim % numSub == 0, s"dim $dim not divisible by numSub $numSub")
    val subDim = dim / numSub
    (0 until numSub).flatMap { j =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * subDim, (j + 1) * subDim))
      localEuclideanKMeans(sub, ksub, iters = 15, seed = 13 + j).toSeq
    }.toArray
  }

  /** Driver-side Euclidean k-means++ + Lloyd for the PQ subquantizers
    * (subvectors are NOT unit-norm, so the spherical variant above
    * would be the wrong geometry). Deterministic: fixed seed, stable
    * point order, lowest-index tie-break.
    */
  private def localEuclideanKMeans(
      pts: Array[Array[Long]],
      k: Int,
      iters: Int,
      seed: Int,
  ): Array[Array[Long]] = {
    val n = pts.length
    if (n <= k) return pts ++ Array.fill(k - n)(pts.head.map(_ => 0L)) take k
    val dim = pts(0).length
    val dpts = pts.map(_.map(_.toDouble))
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val rnd = new scala.util.Random(seed)
    val centers = scala.collection.mutable.ArrayBuffer[Array[Double]](dpts(rnd.nextInt(n)))
    while (centers.size < k) {
      val dists = dpts.map(p => centers.iterator.map(c => d2(p, c)).min)
      val tot = dists.sum
      if (tot <= 0) centers += dpts(rnd.nextInt(n))
      else {
        var t = rnd.nextDouble() * tot
        var i = 0
        while (i < n - 1 && t > dists(i)) { t -= dists(i); i += 1 }
        centers += dpts(i)
      }
    }
    for (_ <- 1 to iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnt = new Array[Long](k)
      dpts.foreach { p =>
        var best = 0; var bd = Double.MaxValue
        var c = 0
        while (c < k) { val d = d2(p, centers(c)); if (d < bd) { bd = d; best = c }; c += 1 }
        cnt(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
      }
      centers.indices.foreach { c =>
        if (cnt(c) > 0) centers(c) = sums(c).map(_ / cnt(c))
      }
    }
    centers.map(_.map(x => math.floor(x + 0.5).toLong)).toArray
  }

  /** §2.4 #29d — PQ-compressed ANN: a two-stage scan, asymmetric
    * distance (ADC) then exact re-rank — the standard production PQ
    * pipeline. Stage 1 touches every vector but reads only its codes
    * + true norm (64×8 B → ~24 B a vector — the memory-bandwidth
    * scale path): the query side precomputes its LUT once and scoring
    * a pair is `numSub` table reads instead of a 64-long dot. Stage 2
    * re-ranks the `shortlistFactor`·k ADC survivors with exact
    * cosines — only the shortlist's full vectors are ever touched, so
    * the expensive pass is O(queries·shortlist), not O(queries·n).
    * Approx cosine uses TRUE data norms (norms don't compress;
    * storing them exactly is standard cosine-PQ). The query batch is
    * broadcast (bounded by API contract, like [[annBruteforce]]); the
    * codes relation streams map-side — no shuffle until the per-query
    * top-k windows.
    */
  def annPq(
      data: DataFrame,
      queries: DataFrame,
      k: Int,
      numSub: Int = 16,
      ksub: Int = 16,
      shortlistFactor: Int = 8,
  ): DataFrame = {
    val cb = pqCodebooks(data, numSub, ksub)
    val enc = graft.functions.ArrayExprs.pqEncode(col("qv"), cb, numSub, ksub)
    val lut = graft.functions.ArrayExprs.pqLut(col("qv"), cb, numSub, ksub)
    val d = prep(data)
    val codes = d.select(col("id").as("neighbor_id"), enc.as("codes"), col("norm").as("nb"))
    val q = prep(queries)
      .select(col("id").as("query_id"), col("qv").as("qa"), lut.as("lut"), col("norm").as("na"))
    // stage 1 — compressed ADC scan: approximate cosine from codes
    // only, shortlist of `shortlistFactor`·k per query. This is the
    // pass that touches every vector, and it reads ~numSub+8 bytes a
    // vector instead of 8·dim.
    val adc = broadcast(q.drop("qa"))
      .join(codes, col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        (graft.functions.ArrayExprs.pqAdcScore(col("codes"), col("lut"), ksub).cast(DoubleType) /
          (col("na") * col("nb"))).as("adc_cosine"),
      )
    val wAdc = Window.partitionBy(col("query_id")).orderBy(col("adc_cosine").desc, col("neighbor_id"))
    val shortlist = adc
      .withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= shortlistFactor * k)
      .select("query_id", "neighbor_id")
    // stage 2 — exact re-rank of the shortlist (standard ADC+re-rank):
    // only shortlistFactor·k·|queries| full vectors are ever touched
    val scored = shortlist
      .join(d.select(col("id").as("neighbor_id"), col("qv").as("qb"), col("norm").as("nb")), "neighbor_id")
      .join(broadcast(q.select(col("query_id"), col("qa"), col("na"))), "query_id")
      .select(col("query_id"), col("neighbor_id"), pairCos(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"))
    topK(scored, k)
  }

  /** named query: first 20 vectors vs the whole table, k=5, 16×16
    * codebooks, 8k shortlist. Engine-specific quantizer → rows-only +
    * recall/error ScalaTests.
    */
  def annPq(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id").as("id"), col("embedding"))
    annPq(e, e.filter(col("id") < 20), 5)
  }

  /** named query: first 20 vectors, top-3 within the query's own
    * `label` partition.
    */
  def annFiltered(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id").as("id"), col("embedding"), col("label"))
    annFiltered(e, e.filter(col("id") < 20), 3, "label")
  }

  val annFilteredSql: String =
    s"""$oracleQuantCte, lbl AS (
      |  SELECT vec_id, label FROM embeddings
      |)
      |SELECT query_id, label, CAST(rank AS BIGINT) AS rank, neighbor_id, cosine FROM (
      |  SELECT p.query_id, la.label, p.neighbor_id, p.cosine,
      |    row_number() OVER (PARTITION BY p.query_id ORDER BY p.cosine DESC, p.neighbor_id) AS rank
      |  FROM p
      |  JOIN lbl la ON la.vec_id = p.query_id
      |  JOIN lbl lb ON lb.vec_id = p.neighbor_id
      |  WHERE p.query_id < 20 AND la.label = lb.label
      |)
      |WHERE rank <= 3
      |ORDER BY query_id, rank""".stripMargin

  /** §2.4 #29b — int8 symmetric quantization of embeddings (the
    * compression step before shipping vectors to an ANN index):
    * scale = max|x_i|, q_i = floor(x_i/scale·127 + 0.5) ∈ [-127,127].
    * Emits an md5 digest of the quantized vector (cross-engine-stable
    * oracle surface; the int8 array itself stays columnar internally),
    * the saturation count, and the max-abs reconstruction error (a
    * max, not a sum — order-independent, so bit-deterministic).
    * Pure map-side column math — no shuffle at any scale.
    */
  def embQuantize(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir)
      .withColumn("scale", array_max(transform(col("embedding"), x => abs(x.cast(DoubleType)))))
      .withColumn(
        "q",
        when(
          col("scale") > 0,
          transform(col("embedding"), x => floor(x.cast(DoubleType) / col("scale") * 127 + 0.5).cast(LongType)),
        ).otherwise(transform(col("embedding"), _ => lit(0L))),
      )
      .select(
        col("vec_id"),
        col("scale"),
        md5(concat_ws(",", col("q"))).as("q_md5"),
        size(filter(col("q"), v => abs(v) === 127)).cast(LongType).as("n_sat"),
        array_max(
          zip_with(col("q"), col("embedding"), (qi, x) => abs(qi.cast(DoubleType) * col("scale") / 127 - x.cast(DoubleType)))
        ).as("err_max"),
      )
      .orderBy("vec_id")

  val embQuantizeSql: String =
    """WITH q AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
      |  FROM embeddings
      |), z AS (
      |  SELECT vec_id, embedding, scale,
      |    CASE WHEN scale > 0
      |      THEN list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) / scale * 127 + 0.5) AS BIGINT))
      |      ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS q
      |  FROM q
      |)
      |SELECT vec_id, scale,
      |  md5(array_to_string(q, ',')) AS q_md5,
      |  CAST(len(list_filter(q, v -> abs(v) = 127)) AS BIGINT) AS n_sat,
      |  list_max(list_transform(range(1, len(q) + 1), i -> abs(q[i] * scale / 127 - CAST(embedding[i] AS DOUBLE)))) AS err_max
      |FROM z
      |ORDER BY vec_id""".stripMargin

  // ------------------------------------------------------- semantic dedup

  /** §2.3 #26i — semantic deduplication (the SemDeDup recipe,
    * Abbas'23): k-means-cluster the embeddings, then compare pairs
    * only WITHIN a cluster; each vector reports its best
    * (max-cosine) lower-id cluster-mate and a duplicate flag at
    * cosine ≥ `tau`. Lower-id survivorship makes the keep-set
    * deterministic.
    *
    * Scale design: the pair space is bucketed by the coarse quantizer —
    * the same shuffle shape as [[annIvf]]'s inverted lists (centroids
    * broadcast, one narrow shuffle on cluster id), so the quadratic
    * term is per-cluster, controlled by `numClusters` ∝ corpus size
    * (SemDeDup's own scaling knob). No all-pairs join at any scale.
    */
  def semDedup(data: DataFrame, numClusters: Int, tau: Double): DataFrame = {
    val cents = kmeansCentroids(data, numClusters).collect().toIndexedSeq
      .map(r => (r.getInt(0), r.getSeq[Long](1), r.getDouble(2)))
    // cluster assignment is MAP-SIDE ([[assignFrozen]]'s argmax kernel
    // with qv/norm kept for the pair stage): the former broadcast-join
    // + per-id max-struct aggregation paid a full |corpus|-row shuffle
    // before the within-cluster join; the row-local argmax pays none,
    // so the op's only wide exchanges are the within-cluster
    // self-join's — the part that IS the operator.
    val packed = graft.functions.ArrayExprs.nearestCentroidPacked(col("qv"), col("norm"), cents)
    val assigned = prep(data)
      .withColumn("p", packed)
      .select(col("id"), col("qv"), col("norm"),
        expr("p DIV 4000000").cast(IntegerType).as("cluster_id"))
      .cache() // both sides of the within-cluster join read this
    val a = assigned.select(col("id").as("vec_id"), col("qv").as("qa"), col("norm").as("na"), col("cluster_id"))
    val b = assigned.select(col("id").as("dup_of"), col("qv").as("qb"), col("norm").as("nb"), col("cluster_id"))
    val best = a.join(b, Seq("cluster_id"))
      .filter(col("dup_of") < col("vec_id"))
      .select(
        col("vec_id"), col("cluster_id"),
        col("dup_of"),
        pairCos(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"),
      )
      .groupBy(col("vec_id"), col("cluster_id"))
      .agg(max(struct(col("cosine"), (-col("dup_of")).as("nid"))).as("m"))
      .select(col("vec_id"), col("cluster_id"), (-col("m.nid")).as("dup_of"), col("m.cosine").as("cosine"))
    val out = assigned.select(col("id").as("vec_id"), col("cluster_id"))
      .join(best, Seq("vec_id", "cluster_id"), "left")
      .select(
        col("vec_id"),
        col("cluster_id").cast(LongType).as("cluster_id"),
        col("dup_of"),
        col("cosine"),
        coalesce(col("cosine") >= tau, lit(false)).as("is_semantic_dup"),
      )
    materialized(out, Seq("vec_id"), assigned)
  }

  /** named query: 16 clusters, tau = 0.5 (the same near-dup threshold
    * as `dedup_embedding`, whose LSH buckets this replaces with learned
    * clusters). Engine-specific quantizer → rows-only + ScalaTest
    * within-cluster brute-force equality.
    */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame =
    semDedup(emb(spark, dir).select(col("vec_id").as("id"), col("embedding")), 16, 0.5)

  /** §2.4 #29e — per-label mean-pooled centroid embeddings in long
    * form (label, pos, n, centroid_q): posexplode the ×10000-quantized
    * vector, one grouped integer sum per (label, dimension) — the
    * class-prototype / cluster-profile primitive (and the aggregation
    * step of any distributed k-means). Map-side partials shrink the
    * shuffle to |labels|·dims rows no matter the input size; the
    * centroid is floor(sum/n) via one exact double division (sums stay
    * far below 2^53), hash-exact cross-engine.
    */
  def embCentroids(spark: SparkSession, dir: String): DataFrame =
    emb(spark, dir)
      .select(col("label"), posexplode(qvec))
      .groupBy(col("label"), col("pos").cast(LongType).as("pos"))
      .agg(count(lit(1)).as("n"), sum(col("col")).as("_sum_q"))
      .select(
        col("label"), col("pos"), col("n"),
        floor(col("_sum_q").cast(DoubleType) / col("n")).cast(LongType).as("centroid_q"),
      )
      .orderBy("label", "pos")

  /** DuckDB zips parallel unnests in one SELECT: element + its
    * 0-based position from range(len) — the posexplode analog.
    */
  val embCentroidsSql: String =
    """WITH exploded AS (
      |  SELECT label,
      |    unnest(range(len(embedding))) AS pos,
      |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS qv
      |  FROM embeddings
      |)
      |SELECT label, pos, count(*) AS n,
      |  CAST(floor(CAST(sum(qv) AS DOUBLE) / count(*)) AS BIGINT) AS centroid_q
      |FROM exploded
      |GROUP BY label, pos
      |ORDER BY label, pos""".stripMargin

  /** §2.4 #29f — kNN-join classification: every held-out vector
    * (vec_id ≡ 0 mod 25) is labeled by the MAJORITY label of its k=5
    * exact-cosine nearest labeled neighbors, ties broken by smaller
    * label — the standard kNN eval / weak-labeling primitive. Reuses
    * the [[annBruteforce]] kernel (broadcast query batch, int64-exact
    * dot products), joins neighbor labels back (equi-join on the
    * candidate side), and votes with an integer count + deterministic
    * window pick, so the whole prediction is bit-exact cross-engine.
    */
  def annClassify(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir)
    val held = e.filter(col("vec_id") % 25 === 0)
    val labeled = e.filter(col("vec_id") % 25 =!= 0)
    val nn = annBruteforce(
      labeled.select(col("vec_id").as("id"), col("embedding")),
      held.select(col("vec_id").as("id"), col("embedding")), 5)
    val votes = nn
      .join(labeled.select(col("vec_id").as("neighbor_id"), col("label").as("n_label")), "neighbor_id")
      .groupBy(col("query_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("votes").desc, col("n_label"))
    votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(broadcast(held.select(col("vec_id").as("query_id"), col("label").as("true_label"))), "query_id")
      .select(
        col("query_id"), col("true_label"),
        col("n_label").cast(LongType).as("pred_label"), col("votes"),
        (col("n_label") === col("true_label")).as("correct"),
      )
      .orderBy("query_id")
  }

  val annClassifySql: String =
    """WITH q AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv
      |  FROM embeddings
      |), p AS (
      |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, b.label AS n_label,
      |    CAST(list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
      |      / (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> a.qv[i] * a.qv[i])) AS DOUBLE))
      |         * sqrt(CAST(list_sum(list_transform(range(1, 65), i -> b.qv[i] * b.qv[i])) AS DOUBLE))) AS cosine
      |  FROM q a JOIN q b ON b.vec_id % 25 != 0
      |  WHERE a.vec_id % 25 = 0
      |), nn AS (
      |  SELECT query_id, neighbor_id, n_label FROM (
      |    SELECT query_id, neighbor_id, n_label,
      |      row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |    FROM p
      |  ) WHERE rank <= 5
      |), votes AS (
      |  SELECT query_id, n_label, count(*) AS votes FROM nn GROUP BY 1, 2
      |), pick AS (
      |  SELECT query_id, n_label, votes FROM (
      |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, n_label) AS rn FROM votes
      |  ) WHERE rn = 1
      |)
      |SELECT p.query_id, q.label AS true_label, CAST(p.n_label AS BIGINT) AS pred_label, p.votes,
      |  p.n_label = q.label AS correct
      |FROM pick p JOIN q ON p.query_id = q.vec_id
      |ORDER BY p.query_id""".stripMargin

  // ------------------------------------------------------------- PCA

  /** Exact-covariance PCA: returns (mu, components, eigenvalues) for
    * the top-`k` principal components of `(id, embedding)`.
    *
    * The covariance moments are EXACT int64 sums on the ×10⁴ grid,
    * accumulated per partition (one d + d(d+1)/2 long array per
    * partition — the d² DataFrame explode would shuffle d²·n rows,
    * this collects 32 fixed-size rows) and merged on the driver; on
    * that exact matrix a deterministic sequential power iteration
    * (fixed all-ones init, 200 rounds, Gram-Schmidt deflation,
    * sign-fixed) yields bit-reproducible components — every float op
    * after the exact sums happens once on the driver in a fixed
    * order. Overflow: |q| ≤ 2·10⁵ per coord (|x| ≤ 20) keeps
    * Σ q_i·q_j under 2⁶³ to ~2·10⁸ rows per job; shard larger
    * corpora and merge the exact partials.
    */
  def pcaComponents(df: DataFrame, k: Int): (Array[Double], Array[Array[Double]], Array[Double]) = {
    val p = prep(df).select(col("qv"))
    val partials = p.rdd.mapPartitions { it =>
      var n = 0L
      var sums: Array[Long] = null
      var prods: Array[Long] = null
      it.foreach { row =>
        val qv = row.getSeq[Long](0)
        val d = qv.length
        if (sums == null) { sums = new Array[Long](d); prods = new Array[Long](d * (d + 1) / 2) }
        var i = 0
        var o = 0
        while (i < d) {
          val qi = qv(i)
          sums(i) += qi
          var j = i
          while (j < d) { prods(o) += qi * qv(j); j += 1; o += 1 }
          i += 1
        }
        n += 1
      }
      if (sums == null) Iterator.empty else Iterator((n, sums, prods))
    }.collect()
    require(partials.nonEmpty, "pcaComponents on an empty frame")
    val d = partials.head._2.length
    val n = partials.map(_._1).sum
    val sums = new Array[Long](d)
    val prods = new Array[Long](d * (d + 1) / 2)
    partials.foreach { case (_, s, pr) =>
      var i = 0
      while (i < d) { sums(i) += s(i); i += 1 }
      i = 0
      while (i < prods.length) { prods(i) += pr(i); i += 1 }
    }
    val mu = sums.map(_ / 10000.0 / n)
    val cov = Array.ofDim[Double](d, d)
    var i = 0
    var o = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val e = prods(o) / 1e8 / n - mu(i) * mu(j)
        cov(i)(j) = e; cov(j)(i) = e
        j += 1; o += 1
      }
      i += 1
    }
    val comps = Array.ofDim[Double](k, d)
    val eigs = new Array[Double](k)
    for (t <- 0 until k) {
      var v = Array.fill(d)(1.0 / math.sqrt(d.toDouble))
      for (_ <- 1 to 200) {
        val av = Array.tabulate(d)(r => { var s = 0.0; var c = 0; while (c < d) { s += cov(r)(c) * v(c); c += 1 }; s })
        // deflate: remove already-found components
        for (u <- 0 until t) {
          var dp = 0.0
          var c = 0
          while (c < d) { dp += av(c) * comps(u)(c); c += 1 }
          c = 0
          while (c < d) { av(c) -= dp * comps(u)(c); c += 1 }
        }
        val nrm = math.sqrt(av.map(x => x * x).sum)
        v = if (nrm == 0.0) v else av.map(_ / nrm)
      }
      // sign fix: first coordinate with |x| > 1e-12 made positive
      val lead = v.indexWhere(x => math.abs(x) > 1e-12)
      if (lead >= 0 && v(lead) < 0) v = v.map(-_)
      comps(t) = v
      var ev = 0.0
      for (r <- 0 until d; c <- 0 until d) ev += v(r) * cov(r)(c) * v(c)
      eigs(t) = ev
    }
    (mu, comps, eigs)
  }

  /** §2.4 #29h — PCA projection of every embedding onto the top-2
    * exact-covariance principal components, micro-quantized for a
    * stable output surface. Rows-only by design (no SQL eigensolver);
    * the spec replays the identical arithmetic bit-for-bit and pins
    * variance ordering + component orthogonality.
    */
  def embPca(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id").as("id"), col("embedding"))
    val (mu, ws, _) = pcaComponents(e, 2)
    prep(e)
      .select(
        col("id").as("vec_id"),
        graft.functions.ArrayExprs.centeredProject(col("qv"), mu, ws).as("pcs"),
      )
      .select(
        col("vec_id"),
        floor(col("pcs").getItem(0) * 1000000.0 + 0.5).cast(LongType).as("pc1_micro"),
        floor(col("pcs").getItem(1) * 1000000.0 + 0.5).cast(LongType).as("pc2_micro"),
      )
      .orderBy("vec_id")
  }

  /** §2.4 #29h — embedding outlier detection: every vector's exact
    * integer squared distance to its label's mean-pooled centroid
    * ([[embCentroids]] broadcast back onto the exploded dimensions),
    * flagged at 2σ of the label's distance distribution — the
    * mislabel / corrupted-embedding audit a curation pipeline runs
    * before training on weak labels.
    *
    * Scale shape: explode is map-side, the centroid join is broadcast
    * (|labels|·dims rows), per-vector distance is one keyed partial
    * agg, and the σ-flag needs only per-label moment sums over the
    * per-VECTOR distance table (corpus-row-count sized, not
    * dims-exploded). Cross-engine exactness: distances are exact
    * int64 on the ×10^4 grid; the 2σ test is the q_anomaly
    * float-cleared comparison (n·d − S)² > 4·(n·S2 − S²) computed in
    * DECIMAL(38,0) (Spark) ≡ HUGEINT (DuckDB) — d² alone overflows
    * int64, exact 128-bit on both sides.
    */
  def embOutliers(spark: SparkSession, dir: String): DataFrame = {
    val cent = embCentroids(spark, dir)
      .select(col("label"), col("pos"), col("centroid_q"))
    val dist = emb(spark, dir)
      .select(col("vec_id"), col("label"), posexplode(qvec))
      .join(broadcast(cent), Seq("label", "pos"))
      .withColumn("dd", (col("col") - col("centroid_q")) * (col("col") - col("centroid_q")))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("dd")).as("dist2_q"))
    val dec = col("dist2_q").cast(DecimalType(38, 0))
    val w = Window.partitionBy(col("label"))
    val n = count(lit(1)).over(w).cast(DecimalType(38, 0))
    val s = sum(dec).over(w)
    val s2 = sum(dec * col("dist2_q")).over(w)
    dist
      .withColumn("dev", n * dec - s)
      .withColumn("is_outlier", col("dev") * col("dev") > lit(4) * (n * s2 - s * s))
      .select(col("vec_id"), col("label"), col("dist2_q"), col("is_outlier"))
      .orderBy("vec_id")
  }

  val embOutliersSql: String =
    """WITH exploded AS (
      |  SELECT vec_id, label,
      |    unnest(range(len(embedding))) AS pos,
      |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000 + 0.5) AS BIGINT) AS qv
      |  FROM embeddings
      |), cent AS (
      |  SELECT label, pos, CAST(floor(CAST(sum(qv) AS DOUBLE) / count(*)) AS BIGINT) AS cq
      |  FROM exploded GROUP BY label, pos
      |), d AS (
      |  SELECT vec_id, e.label, CAST(sum((qv - cq) * (qv - cq)) AS BIGINT) AS dist2_q
      |  FROM exploded e JOIN cent c ON e.label = c.label AND e.pos = c.pos
      |  GROUP BY vec_id, e.label
      |), m AS (
      |  SELECT vec_id, label, dist2_q,
      |    CAST(count(*) OVER w AS HUGEINT) AS n,
      |    sum(CAST(dist2_q AS HUGEINT)) OVER w AS s,
      |    sum(CAST(dist2_q AS HUGEINT) * dist2_q) OVER w AS s2
      |  FROM d WINDOW w AS (PARTITION BY label)
      |)
      |SELECT vec_id, label, dist2_q,
      |  (n * dist2_q - s) * (n * dist2_q - s) > 4 * (n * s2 - s * s) AS is_outlier
      |FROM m
      |ORDER BY vec_id""".stripMargin

  /** Prefix lengths audited by [[embMatryoshka]] (full dim last — its
    * recall is 10^6 by construction, the audit's internal anchor).
    */
  val MatryoshkaDims = Seq(8, 16, 32, 64)

  /** §2.4 #29j — matryoshka / truncated-embedding recall audit: how
    * much ANN quality survives keeping only the first d dims of the
    * 64-dim embedding (MRL-style truncation — the "can I store 8×
    * less vector" question every embedding pipeline asks before
    * shipping an index). For each prefix length, exact cosine top-5
    * over the truncated vectors vs top-5 over the full vectors, recall
    * aggregated across the 20 query vectors in exact ppm — one row per
    * prefix.
    *
    * Scale shape: the pair space is the [[annBruteforce]] broadcast
    * shape ×|dims| (the ×4 rides the broadcast side), the truncated
    * dot reuses the codegen [[graft.functions.LongArrayDot]] kernel on
    * a map-side `slice`, and the recall join is per-(query, dim) top-5
    * sets — 100-row frames. Note the synthetic embeddings spread
    * information uniformly across dims, so recall climbs smoothly with
    * d; MRL-trained embeddings front-load it (that difference is
    * exactly what this audit measures on real vectors).
    */
  def embMatryoshka(spark: SparkSession, dir: String): DataFrame = {
    val dims = MatryoshkaDims.map(d => lit(d)).toArray
    val base = prep(emb(spark, dir).select(col("vec_id").as("id"), col("embedding")))
      .withColumn("dim", explode(array(dims: _*)))
      .withColumn("pv", slice(col("qv"), lit(1), col("dim")))
      .withColumn("pnorm", sqrt(qdot(col("pv"), col("pv")).cast(DoubleType)))
      .select(col("id"), col("dim"), col("pv"), col("pnorm"))
    val q = base.filter(col("id") < 20)
      .select(col("dim").as("qdim"), col("id").as("query_id"), col("pv").as("qa"), col("pnorm").as("na"))
    val scored = broadcast(q)
      .join(base, col("qdim") === col("dim") && col("query_id") =!= col("id"))
      .select(col("dim"), col("query_id"), col("id").as("neighbor_id"),
        (qdot(col("qa"), col("pv")).cast(DoubleType) / (col("na") * col("pnorm"))).as("cosine"))
    val w = Window.partitionBy(col("dim"), col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val top5 = scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
      .select(col("dim"), col("query_id"), col("neighbor_id"))
    val full = top5.filter(col("dim") === 64)
      .select(col("query_id"), col("neighbor_id"))
    top5.join(full, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("hits"))
      .withColumn("recall_ppm", expr("hits * 1000000 div (20 * 5)"))
      .orderBy("dim")
  }

  val embMatryoshkaSql: String = {
    val dimsList = MatryoshkaDims.mkString(", ")
    s"""WITH qe AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv
      |  FROM embeddings
      |), pre AS (
      |  SELECT vec_id, d.dim, list_slice(qv, 1, d.dim) AS pv
      |  FROM qe CROSS JOIN (SELECT unnest([$dimsList]) AS dim) d
      |), scored AS (
      |  SELECT a.dim, a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |    CAST(list_sum(list_transform(range(1, a.dim + 1), i -> a.pv[i] * b.pv[i])) AS DOUBLE)
      |      / (sqrt(CAST(list_sum(list_transform(range(1, a.dim + 1), i -> a.pv[i] * a.pv[i])) AS DOUBLE))
      |         * sqrt(CAST(list_sum(list_transform(range(1, a.dim + 1), i -> b.pv[i] * b.pv[i])) AS DOUBLE))) AS cosine
      |  FROM pre a JOIN pre b ON a.dim = b.dim AND a.vec_id != b.vec_id
      |  WHERE a.vec_id < 20
      |), top5 AS (
      |  SELECT dim, query_id, neighbor_id FROM (
      |    SELECT dim, query_id, neighbor_id,
      |      row_number() OVER (PARTITION BY dim, query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |    FROM scored
      |  ) WHERE rank <= 5
      |), full_ AS (
      |  SELECT query_id, neighbor_id FROM top5 WHERE dim = 64
      |)
      |-- full_ pairs are unique per (query, neighbor), so the inner join
      |-- has semi-join multiplicity
      |SELECT t.dim, count(*) AS hits,
      |  CAST(count(*) * 1000000 // (20 * 5) AS BIGINT) AS recall_ppm
      |FROM top5 t JOIN full_ f ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
      |GROUP BY t.dim
      |ORDER BY t.dim""".stripMargin
  }

  /** Cluster report for [[kmeansCentroids]]'s spherical k-means: every
    * vector assigned to its argmax-cosine centroid (broadcast k-row
    * centroid table — the ann_ivf assignment shape, one map-side pass,
    * no per-point shuffle beyond the id-grain partial agg), rolled up
    * to per-cluster size and cohesion. Cohesion is the integer mean of
    * per-point floor(cos·10^6 + 0.5) — int64 sums then ONE floor
    * division, so the report is order-free bit-deterministic even
    * though cosine itself is a double.
    */
  def embKmeans(data: DataFrame, k: Int): DataFrame = {
    val cents = kmeansCentroids(data, k)
    val d = prep(data)
    d.join(broadcast(cents), lit(true))
      .withColumn("cos", pairCos(col("qv"), col("cv"), col("norm"), col("cnorm")))
      .groupBy(col("id"))
      .agg(max(struct(col("cos"), (-col("centroid_id")).cast(LongType).as("nid"))).as("m"))
      .select(col("id"),
        (-col("m.nid")).cast(LongType).as("centroid_id"),
        floor(col("m.cos") * 1000000 + 0.5).cast(LongType).as("cos_ppm"))
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_points"), sum(col("cos_ppm")).as("sum_cos_ppm"))
      .select(col("centroid_id"), col("n_points"),
        expr("sum_cos_ppm div n_points").as("cohesion_ppm"))
      .orderBy("centroid_id")
  }

  /** §2.4 #28c — named query: 8-cluster k-means report over the
    * embeddings table. Engine-specific rows-only (iterative Lloyd has
    * no SQL oracle); ScalaTest replays the assignment argmax and the
    * integer cohesion from the same centroids.
    */
  def embKmeans(spark: SparkSession, dir: String): DataFrame =
    embKmeans(emb(spark, dir).select(col("vec_id").as("id"), col("embedding")), 8)

  /** §2.4 #29k — index recall audit: each approximate ANN variant
    * (LSH, IVF, PQ, composed IVF-PQ) scored against the exact
    * brute-force top-k on the
    * same query batch — overlap@k in exact ppm (integer counts, ONE
    * floor division). This is the evaluation a pipeline runs before
    * trusting an index at scale: recall is a property of the data
    * distribution, not the algorithm, so it must be re-measured per
    * corpus. The truth set is one broadcast-side table (queries ×
    * k rows); each comparison is a semi-join overlap count on
    * (query_id, neighbor_id) — metadata-sized work on top of the
    * candidate generation itself. Engine-specific candidates →
    * rows-only; ScalaTest pins the recall floors and the exact
    * overlap arithmetic.
    */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r17: ONE normalized-corpus prep shared across the truth pass and
    // all four legs (guide §5). Each leg builds the same canonical
    // prep(corpus) subtree, so persisting that plan makes the cache
    // manager substitute it everywhere: the corpus parquet is scanned
    // (and quantized + normed) once instead of per leg. Disk-backed
    // (the prepped corpus is corpus-sized at scale), populated by the
    // truth count below, released in the finally.
    val sharedPrep = prep(emb(spark, dir).select(col("vec_id").as("id"), col("embedding")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val truth = annBruteforce(spark, dir)
      .select(col("query_id"), col("neighbor_id")).cache()
    try {
      val nTruth = truth.count()
      val methods = Seq(
        "lsh" -> annLsh(spark, dir),
        // the ivf row audits the MATERIALIZED index read — exact
        // result equality with inline annIvf under the same frozen
        // quantizer is pinned by Round17OpsSpec, so the recall number
        // is identical and the audit stops re-training/re-assigning
        // the corpus it already indexed (ivfpq reads its own artifact
        // the same way)
        "ivf" -> annIvfIndexed(spark, dir),
        "pq" -> annPq(spark, dir),
        "ivfpq" -> annIvfPq(spark, dir),
      )
      // ONE counting action for all four legs (was four sequential
      // join+count jobs): the legs are independent subtrees, so the
      // fused job's DAG scheduler runs their stages concurrently and
      // the truth semi-join + per-method count happens once. A method
      // with zero hits simply has no group row — restored as 0 from
      // the driver-side map (identical output either way).
      val hitMap = methods.map { case (name, df) =>
        df.select(lit(name).as("method"), col("query_id"), col("neighbor_id"))
      }.reduce(_.unionAll(_))
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("method")).agg(count(lit(1)).as("h"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      methods.map { case (name, _) =>
        val hits = hitMap.getOrElse(name, 0L)
        (name, nTruth, hits, hits * 1000000L / math.max(nTruth, 1L))
      }.toDF("method", "n_truth", "n_hits", "recall_ppm")
        .orderBy("method")
    } finally { truth.unpersist(); sharedPrep.unpersist(); () }
  }

  /** §2.4 #29u — recall-vs-probes tuning curve: recall@5 at nProbes ∈
    * {4, 8, 16} for each IVF-family index (inline IVF, materialized
    * IVF, composed IVF-PQ) plus nProbes ∈ {1, 2, 4} for multi-probe
    * LSH (probes per table — the knob r8 hand-picked at 4; the lsh
    * rows are the measured justification) against the exact
    * brute-force truth on the same query batch. [[annRecall]] reports ONE operating point per
    * index; nProbes is the knob a deployer actually turns, so the
    * audit must hand back the curve, not a point — at 16-of-16 probes
    * plain IVF degenerates to exhaustive search (recall 1.0 by
    * construction, the sweep's sanity anchor), and the cost/recall
    * trade lives between 4 and 8. Probed-centroid sets NEST as
    * nProbes grows (top-n prefixes of one frozen centroid ordering
    * per query), so candidate sets at higher probe counts contain
    * lower ones — the dedup_lsh_tune discipline; and for the
    * exact-scoring families any candidate that displaces a truth item
    * from top-k under the shared (cosine desc, id) total order ranks
    * above it globally, hence is itself truth, so n_hits is provably
    * non-decreasing in nProbes. Round20OpsSpec pins containment,
    * monotonicity, the exhaustive anchor, and n_hits equality of each
    * sweep point with the standalone operator at that probe count.
    * Each family scores against its own FROZEN quantizer (inline: one
    * kmeans train shared across the sweep; materialized families: the
    * sha-keyed artifact), so rows differ only in nProbes.
    * Engine-specific candidates → rows-only by design.
    */
  def annProbeSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ProbeAxis = Seq(4, 8, 16)
    val MaxP = ProbeAxis.max
    val K = 5
    val e = emb(spark, dir).select(col("vec_id").as("id"), col("embedding"))
    val qs = e.filter(col("id") < 20)
    // r17: the inline-IVF quantizer trains FIRST — kmeansCentroids
    // transiently caches and unpersists the very prep(e) plan the
    // shared persist below pins, so it must not run in between
    val inlineCents = kmeansCentroids(e, 16)
    // ONE normalized-corpus prep shared by the truth pass, the inline
    // assignment, the LSH corpus side and the ivfpq re-rank (guide §5):
    // the cache manager substitutes the persisted canonical prep(e)
    // subtree into every family, so the corpus parquet is scanned and
    // quantized once. Disk-backed; released in the finally.
    val sharedPrep = prep(e)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val truth = annBruteforce(spark, dir)
      .select(col("query_id"), col("neighbor_id")).cache()

    // Fused sweep: each family pays its corpus-side pass ONCE at the
    // widest probe count with the per-query probe rank (`prn`) kept on
    // every scored candidate; the p-probe operating point is then the
    // cheap derivation topK(candidates where prn <= p) — IDENTICAL to
    // the standalone operator at nProbes = p because probes are
    // row_number prefixes of one frozen per-query centroid order
    // (Round20OpsSpec pins that equality at every point for all three
    // families). The naive call-the-operator-per-point form re-scanned
    // the corpus 9 times and measured 2x this.
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("centroid_id"))
    def probes16(cents: DataFrame, extra: Column => Seq[Column]): DataFrame =
      prep(qs)
        .select(col("id").as("query_id"), col("qv").as("qa"), col("norm").as("na"))
        .join(broadcast(cents), lit(true))
        .withColumn("cos", pairCos(col("qa"), col("cv"), col("na"), col("cnorm")))
        .withColumn("prn", row_number().over(wProbe))
        .filter(col("prn") <= MaxP)
        .select(col("query_id") +: col("na") +: col("centroid_id") +: col("prn") +: extra(col("qa")): _*)

    // inline IVF: frozen kmeans (trained above), one assignment pass
    val assigned = prep(e)
      .join(broadcast(inlineCents), lit(true))
      .withColumn("cos", pairCos(col("qv"), col("cv"), col("norm"), col("cnorm")))
      .groupBy(col("id"))
      .agg(
        max(struct(col("cos"), (-col("centroid_id")).cast(LongType).as("nid"))).as("m"),
        first(col("qv")).as("qv"),
        first(col("norm")).as("norm"),
      )
      .select(col("id").as("neighbor_id"), col("qv").as("qb"), col("norm").as("nb"),
        (-col("m.nid")).cast(IntegerType).as("centroid_id"))
    def scoredOf(probes: DataFrame, lists: DataFrame): DataFrame = probes
      .join(lists, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        pairCos(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"), col("prn"))
      .cache()
    val scoredIvf = scoredOf(probes16(inlineCents, qa => Seq(qa.as("qa"))), assigned)

    // materialized IVF: the frozen artifact's lists, statically pruned
    // to the (bounded) 16-probe union like annIvfIndexed
    val (ilists, icents) = ivfIndexTable(spark, dir)
    val probesIdx = probes16(icents, qa => Seq(qa.as("qa"))).cache()
    val probedIdx = probesIdx.select(col("centroid_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    val scoredIdx = scoredOf(
      probesIdx,
      ilists.filter(col("centroid_id").isin(probedIdx.map(Integer.valueOf): _*))
        .select(col("id").as("neighbor_id"), col("qv").as("qb"), col("norm").as("nb"),
          col("centroid_id")))

    // composed IVF-PQ: one ADC scan of the pruned compressed lists
    val (plists, pcents, cb) = ivfPqIndexTable(spark, dir)
    val qprep = prep(qs)
      .select(col("id").as("query_id"), col("qv").as("qa"), col("norm").as("na"))
    val probesPq = probes16(pcents, qa => Seq(
      graft.functions.ArrayExprs.pqLut(qa, cb, 16, 16).as("lut"))).cache()
    val probedPq = probesPq.select(col("centroid_id")).distinct()
      .collect().map(_.getInt(0)).sorted
    val adc = probesPq
      .join(plists.filter(col("centroid_id").isin(probedPq.map(Integer.valueOf): _*)),
        Seq("centroid_id"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (graft.functions.ArrayExprs.pqAdcScore(col("codes"), col("lut"), 16).cast(DoubleType) /
          (col("na") * col("norm"))).as("adc_cosine"), col("prn"))
      .cache()
    val raw = prep(e).select(col("id").as("neighbor_id"), col("qv").as("qb"), col("norm").as("nb"))
    val wAdc = Window.partitionBy(col("query_id")).orderBy(col("adc_cosine").desc, col("neighbor_id"))
    def ivfpqAt(p: Int): DataFrame = {
      val shortlist = adc.filter(col("prn") <= p)
        .withColumn("rn", row_number().over(wAdc))
        .filter(col("rn") <= 16 * K)
        .select("query_id", "neighbor_id")
      topK(
        shortlist.join(raw, "neighbor_id").join(broadcast(qprep), "query_id")
          .select(col("query_id"), col("neighbor_id"),
            pairCos(col("qa"), col("qb"), col("na"), col("nb")).as("cosine")),
        K)
    }

    // LSH multi-probe: the fourth family, same fused shape — ONE
    // widest pass (the kernel's full 4-step perturbation sequence per
    // table), candidates carry the earliest probe rank that reached
    // them (min prn across tables), and the p-probe operating point is
    // the prefix filter prn <= p — identical to the standalone
    // annLsh(nProbes = p) because the kernel's probe ordering is fixed
    // (exact, flip-m0, flip-m1, flip-both). Probe axis {1, 2, 4}: the
    // knob's full range at 4 bits/table (r8 hand-picked 4; this curve
    // is the evidence). Candidate prefixes nest, scoring is exact
    // cosine under the shared total order → n_hits monotone, the same
    // theorem as ivf.
    val LshAxis = Seq(1, 2, 4)
    val scoredLsh = withQProbes(prep(qs), LshProbes)
      .select(col("id").as("query_id"), col("qv").as("qa"), col("norm").as("na"),
        col("tbl"), col("bucket"), col("prn"))
      .join(
        withQBuckets(prep(e))
          .select(col("id").as("neighbor_id"), col("qv").as("qb"), col("norm").as("nb"),
            col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        pairCos(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"), col("prn"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(min(col("prn")).as("prn"), min(col("cosine")).as("cosine"))
      .cache()

    try {
      val nTruth = truth.count()
      val families: Seq[(String, Seq[Int], Int => DataFrame)] = Seq(
        ("ivf", ProbeAxis, p => topK(scoredIvf.filter(col("prn") <= p).drop("prn"), K)),
        ("ivf_indexed", ProbeAxis, p => topK(scoredIdx.filter(col("prn") <= p).drop("prn"), K)),
        ("ivfpq", ProbeAxis, ivfpqAt _),
        ("lsh", LshAxis, p => topK(scoredLsh.filter(col("prn") <= p).drop("prn"), K)),
      )
      // ONE counting action for the whole 12-point sweep (was 12
      // sequential join+count jobs, each paying scheduler + truth-join
      // latency): every operating point's top-k is a bounded subtree
      // over its family's CACHED widest-probe scored relation, so the
      // fused union costs the same per-point work but the DAG
      // scheduler overlaps the independent subtrees and the truth
      // semi-join runs once. A point with zero hits has no group row —
      // restored as 0 from the driver map (identical output).
      val hitMap = families.flatMap { case (name, axis, at) =>
        axis.map(p => at(p).select(lit(name).as("method"), lit(p).as("n_probes"),
          col("query_id"), col("neighbor_id")))
      }.reduce(_.unionAll(_))
        .join(truth, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy(col("method"), col("n_probes")).agg(count(lit(1)).as("h"))
        .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
      val rows = for {
        (name, axis, _) <- families
        p <- axis
      } yield {
        val hits = hitMap.getOrElse((name, p), 0L)
        (name, p, nTruth, hits, hits * 1000000L / math.max(nTruth, 1L))
      }
      rows.toDF("method", "n_probes", "n_truth", "n_hits", "recall_ppm")
        .orderBy("method", "n_probes")
    } finally {
      Seq(truth, scoredIvf, scoredIdx, probesIdx, probesPq, adc, scoredLsh, sharedPrep)
        .foreach(_.unpersist()); ()
    }
  }

  // --------------------------------------------- IVF index maintenance

  /** §2.4 #29l — IVF index maintenance / append-without-retrain: the
    * production append path of a vector index. The coarse quantizer
    * is trained ONCE on the standing corpus; a new batch is assigned
    * to those FROZEN centroids — one broadcast argmax pass, no
    * retrain, no reshuffle of existing inverted lists, old vectors'
    * assignments untouched by construction. The report is the
    * per-list health view that decides WHEN to retrain: old/new list
    * sizes, growth_ppm (skewed growth = arriving data concentrating
    * in few lists), and the new batch's mean assignment cosine vs
    * the old corpus's (drift_ppm < 0 = new vectors sit farther from
    * every centroid — the quantizer is going stale).
    *
    * Scale shape: identical to the [[annIvf]] assign step — 16
    * broadcast centroids, map-side argmax partial agg, one small
    * rollup per side; append cost is O(batch), never O(corpus).
    * Rows-only by design (iterative quantizer, like `ann_ivf`);
    * Round11OpsSpec pins conservation, determinism, and a
    * brute-force frozen-centroid assignment replay.
    */
  def annIncremental(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id").as("id"), col("embedding"))
    val old = e.filter(col("id") % 10 =!= 0)
    val fresh = e.filter(col("id") % 10 === 0)
    // centroids collect (bounded: k rows, and a LocalRelation no-op on
    // the driver fast path); BOTH stat sides stay lazy so the whole
    // report is one materialization job — the streaming twin
    // ([[ivfSnapshot]] + EventsStream.ivfIngestMonitor) is where the
    // old side is eagerly frozen, because there it must outlive the
    // batch session and ride micro-batch plans as literals.
    val cents = kmeansCentroids(old, 16).collect().toIndexedSeq
      .map(r => (r.getInt(0), r.getSeq[Long](1), r.getDouble(2)))
    ivfHealthReport(
      ivfArrivalStats(assignFrozen(old, cents))
        .select(col("centroid_id"), col("n_new").as("n_old"),
          col("mean_new_ppm").as("mean_old_ppm")),
      ivfArrivalStats(assignFrozen(fresh, cents)))
  }

  // --------------------------- frozen-quantizer assignment (map-side)

  /** Nearest frozen centroid per vector — (id, centroid_id, sim_ppm) —
    * with the k centroids riding the plan as LITERALS: one row-local
    * argmax (greatest over (cos, -cid) structs), NO join, NO shuffle,
    * no state. The same (cosine desc, centroid_id asc) tie-break and
    * the same floor(cos·1e6 + 0.5) ppm quantization as the join+agg
    * formulation it replaces (Round11OpsSpec replays it brute-force),
    * but the assignment now costs a map pass at ANY corpus size — and
    * being stateless is what lets the SAME code assign arriving
    * vectors inside a STREAMING ingest (the 48c/48d frozen-model
    * discipline; a stream-static cross join + per-id max agg would be
    * a stateful aggregation).
    */
  private[graft] def assignFrozen(d: DataFrame, cents: Seq[(Int, Seq[Long], Double)]): DataFrame = {
    require(cents.nonEmpty, "assignFrozen needs at least one centroid")
    // one codegen kernel call per row (k·dims multiply-adds inside a
    // compiled method — O(1) generated code at any k; the
    // greatest-of-k-structs Column formulation it replaces paid ~200ms
    // of janino compile at k=16 and would not compile at a production
    // k of thousands); packed decode is exact int64 arithmetic. The
    // ppm quantization is round-half-up, the suite-wide convention
    // (embKmeans uses the same form — the two reports must quantize
    // identically so cohesion/drift numbers are comparable across ops).
    val packed = graft.functions.ArrayExprs.nearestCentroidPacked(col("qv"), col("norm"), cents)
    prep(d)
      .select(col("id"), packed.as("p"))
      .select(col("id"),
        expr("p DIV 4000000").cast(IntegerType).as("centroid_id"),
        (expr("p % 4000000") - 2000000L).cast(LongType).as("sim_ppm"))
  }

  /** per-list arrival stats over an assigned frame: one grouped agg,
    * ≤ k rows out (map-side partial combine makes the shuffle
    * metadata-sized at any arrival rate). Shared by the batch report
    * and the streaming monitor — the stream ≡ batch pin leans on the
    * two legs running literally this code.
    */
  private[graft] def ivfArrivalStats(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_new"),
        expr("sum(sim_ppm) div count(1)").as("mean_new_ppm"))

  /** the retrain-trigger report: standing per-list stats vs arrivals.
    * growth_ppm skew = arriving data concentrating in few lists;
    * drift_ppm < 0 = arrivals sit farther from every centroid than
    * the standing corpus did — the quantizer is going stale.
    */
  private[graft] def ivfHealthReport(oldS: DataFrame, newS: DataFrame): DataFrame =
    oldS.join(newS, Seq("centroid_id"), "full_outer")
      .select(col("centroid_id"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("mean_old_ppm"), lit(0L)).as("mean_old_ppm"),
        coalesce(col("mean_new_ppm"), lit(0L)).as("mean_new_ppm"))
      .withColumn("growth_ppm", expr("n_new * 1000000 div greatest(n_old, 1)"))
      .withColumn("drift_ppm", col("mean_new_ppm") - col("mean_old_ppm"))
      .orderBy("centroid_id")

  /** Frozen-quantizer snapshot for the ingest paths: the k coarse
    * centroids (id, quantized vector, norm — the exact doubles the
    * batch quantizer computed) and the standing corpus' per-list
    * stats. Both BOUNDED BY CONSTRUCTION (k rows each), so they ride
    * any later plan — batch or streaming — as literals; retraining is
    * a batch concern that mints a new snapshot (the `ann_incremental`
    * contract).
    */
  final case class IvfSnapshot(
      centroids: Seq[(Int, Seq[Long], Double)],
      oldStats: Map[Int, (Long, Long)]) // centroid_id -> (n_old, mean_old_ppm)

  def ivfSnapshot(standing: DataFrame, k: Int): IvfSnapshot = {
    val cents = kmeansCentroids(standing, k).collect().toIndexedSeq
      .map(r => (r.getInt(0), r.getSeq[Long](1), r.getDouble(2)))
    val olds = ivfArrivalStats(assignFrozen(standing, cents)).collect().toIndexedSeq
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    IvfSnapshot(cents, olds)
  }

  /** Tombstone-aware IVF read: the delete path of a vector index.
    * Deletes never rewrite inverted lists — the tombstone set is
    * broadcast and anti-joined against the corpus at query time
    * (the `q_delete_vectors` merge-on-read model applied to ANN), so
    * a delete costs O(1) at write time and a broadcast-hash probe at
    * read time. With the SAME frozen centroids, the result is
    * EXACTLY what an index rebuilt over the live corpus returns
    * (assignment is per-vector, so removing rows cannot perturb the
    * others' list membership) — Round17OpsSpec pins that equality.
    */
  def annIvfLive(data: DataFrame, tombstones: DataFrame, queries: DataFrame,
      k: Int, centroids: DataFrame, nProbes: Int = 8): DataFrame =
    annIvf(data.join(broadcast(tombstones.select(col("id"))), Seq("id"), "left_anti"),
      queries, k, nProbes, centroids)

  /** §2.4 #29p — vector-index delete health / compaction trigger: the
    * shrink half of index maintenance ([[annIncremental]] is the
    * grow half). A deterministic tombstone relation (~1/7 of the
    * corpus, standing in for the production delete feed) is broadcast
    * against the frozen-centroid list assignment, and the report is
    * the per-list view that decides WHEN a list is worth rewriting:
    * n_total / n_deleted / n_live, deleted_ppm, and the `compact`
    * flag at the 30% dead-fraction threshold (below it, the
    * anti-join read tax is cheaper than rewriting the list; above
    * it, every probe of that list scans mostly corpses).
    *
    * Scale shape: one broadcast-argmax assignment pass (identical to
    * the [[annIvf]] index build), one broadcast left join against
    * the tombstone set, one 16-row rollup — delete accounting never
    * shuffles vectors. Rows-only by design (iterative quantizer);
    * Round17OpsSpec pins conservation, the flag arithmetic, and the
    * query-time contract (no tombstoned neighbor ever surfaces;
    * undeleted queries return exactly the rebuilt-index results).
    */
  def annDelete(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id").as("id"), col("embedding"))
    val tomb = e.select(col("id")).filter(col("id") % 7 === 3)
    val cs = broadcast(kmeansCentroids(e, 16))
    val assigned = prep(e)
      .join(cs, lit(true))
      .withColumn("cos", pairCos(col("qv"), col("cv"), col("norm"), col("cnorm")))
      .groupBy(col("id"))
      .agg(max(struct(col("cos"), (-col("centroid_id")).cast(LongType).as("nid"))).as("m"))
      .select(col("id"), (-col("m.nid")).cast(IntegerType).as("centroid_id"))
    assigned
      .join(broadcast(tomb.withColumn("dead", lit(1L))), Seq("id"), "left")
      .groupBy(col("centroid_id"))
      .agg(count(lit(1)).as("n_total"),
        sum(coalesce(col("dead"), lit(0L))).as("n_deleted"))
      .withColumn("n_live", col("n_total") - col("n_deleted"))
      .withColumn("deleted_ppm", expr("n_deleted * 1000000 div n_total"))
      .withColumn("compact", col("deleted_ppm") >= lit(300000L))
      .orderBy("centroid_id")
  }

  // ------------------------------------------- 1-bit (sign) quantization

  /** sign-bit pack of the 64-dim embedding into TWO non-negative
    * 32-bit words stored as int64 (`bits_lo` = dims 1-32, `bits_hi` =
    * dims 33-64; bit j-1 set iff dim j is strictly positive). Two
    * halves instead of one 64-bit word ON PURPOSE: bit 63 of a single
    * word is the int64 sign bit, and signed-overflow shift semantics
    * differ across engines — two ≤2^32 words are exact everywhere,
    * and the hamming arithmetic is the same two xor+popcounts.
    * The pack is the codegen [[graft.functions.SignBitsPack]] kernel
    * (the interpreted `aggregate(sequence(…))` HOF it replaces sat on
    * the EVERY-VECTOR path of the whole binary family — the §4
    * 100-400× interpreted-HOF class; kernel ≡ HOF pinned in
    * ArrayExprsSpec). Both words come from ONE kernel evaluation —
    * whole-stage codegen subexpression elimination folds the two
    * element_at projections onto a single SignBitsPack call.
    */
  private val signPack: Column = graft.functions.ArrayExprs.signBitsPack(col("embedding"))
  private val bitsLo: Column = element_at(signPack, 1)
  private val bitsHi: Column = element_at(signPack, 2)

  /** §2.4 #29x — BINARY (1-bit sign) quantization: 64 float32 dims →
    * 64 bits, a 256× memory reduction, the quantization that makes a
    * 100 TB embedding corpus fit RAM-adjacent storage and turns
    * similarity into xor+popcount (the Hamming-space retrieval
    * literature's standard first stage; cosine-sign agreement follows
    * from hyperplane LSH theory — each coordinate IS an axis-aligned
    * hyperplane). Per vector: both packed words, the positive-dim
    * count, and a balance ppm (n_pos/64 — a healthy embedding model
    * sits near 500000; collapse toward 0/1e6 means dead dimensions).
    * Fully integer → hash-oracled (rare for the ANN family, where
    * engine-specific quantizers force rows-only checks).
    */
  /** the pack as a reusable transform over any (vec_id, embedding)
    * frame — STATELESS and data-independent (sign bits need no
    * training pass, no corpus statistics), so the same projection
    * quantizes a STREAMING embedding ingest append-safely at any rate
    * (the 48c frozen-model discipline with nothing to freeze —
    * pinned stream ≡ batch in StreamingSpec).
    */
  /** n_pos + balance_ppm over a packed (vec_id, bits_lo, bits_hi)
    * frame — ONE definition serving both the streaming transform and
    * the batch query (a drifted copy would silently fork the oracle's
    * balance convention).
    */
  private def withPackStats(packed: DataFrame): DataFrame =
    packed
      .withColumn("n_pos", (bit_count(col("bits_lo")) + bit_count(col("bits_hi"))).cast(LongType))
      .withColumn("balance_ppm", expr("n_pos * 1000000 div 64"))

  def bitpackOn(d: DataFrame): DataFrame =
    withPackStats(d.select(col("vec_id"), bitsLo.as("bits_lo"), bitsHi.as("bits_hi")))

  def embBitpack(spark: SparkSession, dir: String): DataFrame =
    withPackStats(bitpackTable(spark, dir)).orderBy("vec_id")

  /** The sign-bit code table as a MATERIALIZED serving artifact:
    * (vec_id, bits_lo, bits_hi), 16 bytes of payload per vector,
    * built once per (session, corpus) with the [[signPack]] codegen
    * kernel and written to sha-keyed scratch parquet with the
    * [[knnGraphTable]] build-then-atomic-rename discipline. This is
    * what makes the binary family's serving story PHYSICAL: at 100 TB
    * the Hamming first pass ([[annHamming]], [[annHammingRerank]]
    * stage 1) scans THIS table — 256× less candidate I/O than the
    * float corpus — and the raw embeddings are only ever read for
    * shortlist rows. Round22OpsSpec pins that the serving plans scan
    * the code table and not `embeddings.parquet`.
    */
  def bitpackTable(spark: SparkSession, dir: String): DataFrame = {
    val dirKey = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString
    val path = s"${graft.sources.Ingest.scratchDir(spark)}/bitpack_$dirKey"
    val lock = bitpackLocks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      if (!bitpackDone.contains(path)) {
        val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
        val dst = new org.apache.hadoop.fs.Path(path)
        emb(spark, dir)
          .select(col("vec_id"), bitsLo.as("bits_lo"), bitsHi.as("bits_hi"))
          .write.mode("overwrite").parquet(tmp.toString)
        val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(dst)) fs.delete(dst, true)
        if (!fs.rename(tmp, dst))
          throw new java.io.IOException(s"bitpackTable: rename $tmp -> $dst failed")
        bitpackDone.add(path)
      }
    }
    spark.read.parquet(path)
  }
  private val bitpackDone = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val bitpackLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private val bitpackCteSql: String =
    """WITH b AS (
      |  SELECT vec_id,
      |    CAST(list_sum(list_transform(range(1, 33),
      |      i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0.0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)) AS BIGINT) AS bits_lo,
      |    CAST(list_sum(list_transform(range(33, 65),
      |      i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0.0 THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END)) AS BIGINT) AS bits_hi
      |  FROM embeddings
      |)""".stripMargin

  val embBitpackSql: String =
    s"""$bitpackCteSql
      |SELECT vec_id, bits_lo, bits_hi,
      |  CAST(bit_count(bits_lo) + bit_count(bits_hi) AS BIGINT) AS n_pos,
      |  CAST((bit_count(bits_lo) + bit_count(bits_hi)) * 1000000 // 64 AS BIGINT) AS balance_ppm
      |FROM b
      |ORDER BY vec_id""".stripMargin

  /** §2.4 #29y — HAMMING-space top-k over the sign-bit code: per
    * query, the k nearest corpus vectors by xor+popcount distance,
    * total order (hamming ASC, neighbor_id ASC). This is the serving
    * arithmetic of every binary-quantized vector store: ~2 CPU
    * instructions per candidate word vs 64 multiply-adds for the
    * float scan — the 100 TB first-pass filter (re-rank the shortlist
    * with exact cosine where precision matters; [[annRpPrefilter]] is
    * that second stage's shape). Broadcast bounded query batch,
    * map-side distances (built-in codegen'd `^` + bit_count), one
    * per-query top-k window — the annBruteforce plan with integer
    * arithmetic. Exact integers end to end → hash-oracled, again rare
    * for the ANN family.
    */
  def annHamming(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    // serving path: read the materialized 16-byte-per-vector code
    // table ([[bitpackTable]]) — the raw float corpus is never
    // scanned (Round22OpsSpec pins the plan reads bitpack_*, not
    // embeddings.parquet)
    val packed = bitpackTable(spark, dir)
    val q = packed.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("bits_lo").as("qlo"), col("bits_hi").as("qhi"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("hamming"), col("neighbor_id"))
    broadcast(q)
      .join(packed.select(col("vec_id").as("neighbor_id"), col("bits_lo"), col("bits_hi")),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming",
        (bit_count(expr("qlo ^ bits_lo")) + bit_count(expr("qhi ^ bits_hi"))).cast(LongType))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("hamming"))
      .orderBy("query_id", "rank")
  }

  val annHammingSql: String =
    s"""$bitpackCteSql, d AS (
      |  SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CAST(bit_count(xor(a.bits_lo, c.bits_lo)) + bit_count(xor(a.bits_hi, c.bits_hi)) AS BIGINT) AS hamming
      |  FROM b a JOIN b c ON a.vec_id < 20 AND a.vec_id != c.vec_id
      |), r AS (
      |  SELECT query_id, neighbor_id, hamming,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS BIGINT) AS rank
      |  FROM d
      |)
      |SELECT query_id, rank, neighbor_id, hamming
      |FROM r WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** §2.4 #29z — the full binary-quantized SERVING path: stage 1
    * shortlists `shortlistFactor`·k candidates per query in Hamming
    * space (xor+popcount over the 29x sign code, (hamming ASC, id
    * ASC) total order — deterministic, so unlike the trained-index
    * shortlists this one is SQL-replayable and the WHOLE two-stage
    * result is hash-oracled); stage 2 re-ranks the shortlist with the
    * exact 64-dim quantized cosine. The [[annRpPrefilter]] /
    * PQ-ADC two-stage shape with the cheapest possible first stage:
    * 2 instructions per candidate word and 256× less candidate I/O —
    * at 100 TB the corpus scan reads 16 bytes/vector instead of
    * 256+, and only shortlist rows ever touch the float data.
    * Exactness anchor: at shortlistFactor ≥ corpus the shortlist is
    * everything and the result equals [[annBruteforce]] bit-for-bit
    * (pinned); measured recall@5 vs exact cosine at the (k=5,
    * factor=8) default lives in Round22OpsSpec/BASELINE.
    */
  def annHammingRerank(data: DataFrame, queries: DataFrame, k: Int,
      shortlistFactor: Int = 8): DataFrame = {
    // qv/norm/bits in ONE projection (prep's exact arithmetic inlined
    // so stage 2's cosine is bit-identical to annBruteforce's) — a
    // prep⋈bits self-join here would pay a pointless |corpus| shuffle
    def packed(d: DataFrame, idAs: String, pfx: String): DataFrame =
      d.select(col("id").as(idAs), qvec.as(s"${pfx}qv"),
        bitsLo.as(s"${pfx}lo"), bitsHi.as(s"${pfx}hi"))
        .withColumn(s"${pfx}norm", sqrt(qdot(col(s"${pfx}qv"), col(s"${pfx}qv")).cast(DoubleType)))
    val q = packed(queries, "query_id", "qa_")
    val c = packed(data, "neighbor_id", "qb_")
    val wHam = Window.partitionBy(col("query_id")).orderBy(col("hamming"), col("neighbor_id"))
    val wCos = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(q)
      .join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming",
        (bit_count(expr("qa_lo ^ qb_lo")) + bit_count(expr("qa_hi ^ qb_hi"))).cast(LongType))
      .withColumn("rn", row_number().over(wHam))
      .filter(col("rn") <= shortlistFactor * k)
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        pairCos(col("qa_qv"), col("qb_qv"), col("qa_norm"), col("qb_norm")).as("cosine"))
      .withColumn("rank", row_number().over(wCos).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("hamming"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  /** named query: first 20 vectors, k=5, 8·k shortlist — served from
    * the MATERIALIZED code table, the physical 100 TB shape: stage 1
    * scans [[bitpackTable]] (16 B/vector, never the floats); the
    * bounded shortlist (≤ |queries|·factor·k = 800 rows by
    * construction) is collected — the bounded-candidate-set collect
    * class — and its ids drive a parquet IN-pushdown read of the
    * float corpus, so only shortlist rows ever touch the embedding
    * data. Results bit-identical to the inline
    * [[annHammingRerank(data:*]] (same codes, same quantized cosine —
    * Round22OpsSpec pins it); the SQL oracle replays both stages.
    */
  def annHammingRerank(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val shortlistFactor = 8
    val codes = bitpackTable(spark, dir)
    val q = codes.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("bits_lo").as("qlo"), col("bits_hi").as("qhi"))
    val wHam = Window.partitionBy(col("query_id")).orderBy(col("hamming"), col("neighbor_id"))
    val shortlist = broadcast(q)
      .join(codes.select(col("vec_id").as("neighbor_id"), col("bits_lo"), col("bits_hi")),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("hamming",
        (bit_count(expr("qlo ^ bits_lo")) + bit_count(expr("qhi ^ bits_hi"))).cast(LongType))
      .withColumn("rn", row_number().over(wHam))
      .filter(col("rn") <= shortlistFactor * k)
      .select(col("query_id"), col("neighbor_id"), col("hamming"))
    val pairs = shortlist.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ids = (pairs.map(_._1) ++ pairs.map(_._2)).distinct.toSeq
    val floats = prep(emb(spark, dir)
      .filter(col("vec_id").isInCollection(ids))
      .select(col("vec_id").as("id"), col("embedding")))
    val pairsDf = {
      import spark.implicits._
      pairs.toSeq.toDF("query_id", "neighbor_id", "hamming")
    }
    val wCos = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(pairsDf)
      .join(floats.select(col("id").as("query_id"), col("qv").as("qa_qv"), col("norm").as("qa_norm")),
        Seq("query_id"))
      .join(floats.select(col("id").as("neighbor_id"), col("qv").as("qb_qv"), col("norm").as("qb_norm")),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        pairCos(col("qa_qv"), col("qb_qv"), col("qa_norm"), col("qb_norm")).as("cosine"))
      .withColumn("rank", row_number().over(wCos).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("hamming"), col("cosine"))
      .orderBy("query_id", "rank")
  }

  val annHammingRerankSql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv,
      |    CAST(list_sum(list_transform(range(1, 33),
      |      i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0.0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)) AS BIGINT) AS bits_lo,
      |    CAST(list_sum(list_transform(range(33, 65),
      |      i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0.0 THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END)) AS BIGINT) AS bits_hi
      |  FROM embeddings
      |), d AS (
      |  SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CAST(bit_count(xor(a.bits_lo, c.bits_lo)) + bit_count(xor(a.bits_hi, c.bits_hi)) AS BIGINT) AS hamming,
      |    CAST(list_sum(list_transform(range(1, 65), i -> a.qv[i] * c.qv[i])) AS DOUBLE)
      |      / (sqrt(CAST(list_sum(list_transform(range(1, 65), i -> a.qv[i] * a.qv[i])) AS DOUBLE))
      |         * sqrt(CAST(list_sum(list_transform(range(1, 65), i -> c.qv[i] * c.qv[i])) AS DOUBLE))) AS cosine
      |  FROM q a JOIN q c ON a.vec_id < 20 AND a.vec_id != c.vec_id
      |), s AS (
      |  SELECT query_id, neighbor_id, hamming, cosine,
      |    row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rn
      |  FROM d
      |), r AS (
      |  SELECT query_id, neighbor_id, hamming, cosine,
      |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
      |  FROM s WHERE rn <= 40
      |)
      |SELECT query_id, rank, neighbor_id, hamming, cosine
      |FROM r WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** §2.3 #26z — embedding near-dup by BINARY code + pigeonhole
    * blocking: pairs within Hamming ≤ 7 over the 29x sign code,
    * candidates from 8 disjoint 8-bit bands (≤7 differing bits cannot
    * touch all 8 bands, so every true pair shares an exact band — a
    * LOSSLESS blocking; the join shuffles (band, value) keys, never
    * the O(n²) pair space — the multimodal_phash_pairs discipline on
    * the embedding domain). This is the no-training near-dup detector
    * that closes the binary family: quantize (29x) → serve (29y/29z)
    * → dedup, all from one 16-byte code, the cross-shard-coordination-
    * free alternative to trained LSH for exact-threshold duplicates.
    * Near-dups are PLANTED the lake_fsck way (vec_id ≡ 0 mod 5 gets a
    * +100000-id copy with coordinate 0 negated — a ≤1-bit code flip,
    * recomputed identically by both engines); the oracle replays the
    * brute-force all-pairs Hamming scan, so the hash match proves the
    * blocking lossless. Skew note: a pathological corpus could pile
    * onto one band value (e.g. all-positive embeddings → band 0xFF);
    * at production scale the band-bucket sizes are the `q_skew_report`
    * audit's job and hot bands get the salting treatment.
    */
  def dedupBinary(spark: SparkSession, dir: String): DataFrame = {
    val base = emb(spark, dir).select(col("vec_id"), col("embedding"))
    val planted = base.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> IF(i = 0, -x, x))").as("embedding"))
    // base codes come from the materialized 16 B/vector artifact
    // ([[bitpackTable]]); only the synthetic planted rows pack inline
    val packed = bitpackTable(spark, dir)
      .select(col("vec_id"), col("bits_lo").as("lo"), col("bits_hi").as("hi"))
      .unionAll(planted.select(col("vec_id"), bitsLo.as("lo"), bitsHi.as("hi")))
    binaryNearDupPairs(packed) // already totally ordered (vec_a, vec_b)
  }

  /** Core of [[dedupBinary]] over an already-packed (vec_id, lo, hi)
    * code frame, with HOT-BAND skew routing: only 8·256 = 2048
    * distinct (band, value) keys EXIST, so at corpus scale every key
    * is hot by pigeonhole and a pathological corpus (all-positive
    * embeddings → every row in band 0xFF) piles onto ONE reducer no
    * matter how many partitions exist. The band histogram is
    * metadata-sized (≤2048 rows — a bounded collect); keys above
    * `hotThreshold` rows take [[Skew.saltedJoin]] (a-side salted,
    * b-side replicated `salts`×, pairs exactly once per (key, salt)),
    * cold keys take the plain equi-join, and the union is
    * row-identical to the unsplit join (Round23OpsSpec plants a
    * hot band and pins pair equality against brute force). The
    * hamming filter runs BEFORE the distinct so the dedup shuffle
    * carries only true near-dups, never the band-collision candidate
    * space (candidates ≫ matches by construction).
    */
  /** (vec_id, lo, hi) → one row per (vec_id, band_key): the 8-band
    * pigeonhole explode shared by the batch and incremental binary
    * near-dup ops (band_key = band_idx·256 + band_val, ≤2048 values).
    */
  private def bandExplode(packed: DataFrame): DataFrame =
    packed.select(
      col("vec_id"), col("lo"), col("hi"),
      explode(array((0 until 8).map { j =>
        val w = if (j < 4) col("lo") else col("hi")
        struct(lit(j).as("band_idx"), pmod(shiftright(w, (j % 4) * 8), lit(256L)).as("band_val"))
      }: _*)).as("b"))
      .select(col("vec_id"), col("lo"), col("hi"),
        (col("b.band_idx") * 256L + col("b.band_val")).as("band_key"))

  def binaryNearDupPairs(packed: DataFrame, maxHamming: Int = 7,
      hotThreshold: Long = 65536L, salts: Int = 8): DataFrame = {
    // cached: read by the hot-key histogram AND both self-join sides —
    // uncached this was three (hot path: five) full packed scans;
    // released via materialize-then-unpersist below
    val bands = bandExplode(packed).cache()
    val aSide = bands.select(col("vec_id").as("vec_a"), col("lo").as("lo_a"),
      col("hi").as("hi_a"), col("band_key"))
    val bSide = bands.select(col("vec_id").as("vec_b"), col("lo").as("lo_b"),
      col("hi").as("hi_b"), col("band_key"))
    val hotKeys = bands.groupBy(col("band_key")).agg(count(lit(1)).as("n"))
      .filter(col("n") > hotThreshold)
      .collect().map(_.getLong(0)).toSet
    val joined =
      if (hotKeys.isEmpty) aSide.join(bSide, Seq("band_key"))
      else {
        val hk = hotKeys.toSeq
        aSide.filter(!col("band_key").isInCollection(hk))
          .join(bSide.filter(!col("band_key").isInCollection(hk)), Seq("band_key"))
          .unionAll(Skew.saltedJoin(
            aSide.filter(col("band_key").isInCollection(hk)),
            bSide.filter(col("band_key").isInCollection(hk)),
            "band_key", salts))
      }
    val pairs = joined
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (bit_count(expr("lo_a ^ lo_b")) + bit_count(expr("hi_a ^ hi_b"))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    graft.GraftSession.materialized(pairs, Seq("vec_a", "vec_b"), bands)
  }

  val dedupBinarySql: String =
    """WITH corpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000,
      |    list_transform(embedding, (x, i) -> CASE WHEN i = 1 THEN -x ELSE x END)
      |  FROM embeddings WHERE vec_id % 5 = 0
      |), b AS (
      |  SELECT vec_id,
      |    CAST(list_sum(list_transform(range(1, 33),
      |      i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0.0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)) AS BIGINT) AS lo,
      |    CAST(list_sum(list_transform(range(33, 65),
      |      i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0.0 THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END)) AS BIGINT) AS hi
      |  FROM corpus
      |)
      |SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
      |  CAST(bit_count(xor(a.lo, c.lo)) + bit_count(xor(a.hi, c.hi)) AS BIGINT) AS hamming
      |FROM b a JOIN b c ON a.vec_id < c.vec_id
      |WHERE bit_count(xor(a.lo, c.lo)) + bit_count(xor(a.hi, c.hi)) <= 7
      |ORDER BY vec_a, vec_b""".stripMargin

  /** §2.3 #26z2 — INCREMENTAL binary near-dup: the O(batch) ingest
    * leg of [[dedupBinary]], completing the incremental symmetry
    * (exact dedup has 26e, MinHash has the band-index stream — the
    * binary family now has its arrival leg too). Reports every
    * near-dup pair TOUCHING an arrival (arrival↔standing and
    * arrival↔arrival, Hamming ≤ 7 over the 29x sign code) — the DELTA
    * of the corpus pair set, which is all an ingest gate needs; the
    * standing↔standing pairs were already reported when THEIR batches
    * arrived. Scale shape: the batch's band rows are BROADCAST and
    * the standing code table ([[bitpackTable]] — 16 B/vector) streams
    * map-side against them — no corpus shuffle, no standing-pair
    * recompute, O(batch) wide work per ingest (the [[knnGraphAppend]]
    * seed discipline). Blocking is the same lossless 8-band
    * pigeonhole; arrivals are the ids ≡ 0 mod 10 with the planted
    * ≤1-bit copies (+100000, coord-0 flip) guaranteeing true pairs at
    * any SF; deterministic integers → hash-oracled (the oracle
    * replays the brute-force delta scan, proving the broadcast probe
    * lossless).
    */
  def dedupBinaryIncremental(spark: SparkSession, dir: String): DataFrame = {
    val codes = bitpackTable(spark, dir)
      .select(col("vec_id"), col("bits_lo").as("lo"), col("bits_hi").as("hi"))
    val planted = emb(spark, dir).filter(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        expr("transform(embedding, (x, i) -> IF(i = 0, -x, x))").as("embedding"))
      .select(col("vec_id"), bitsLo.as("lo"), bitsHi.as("hi"))
    val all = codes.unionAll(planted)
    // one band materialization feeds both the broadcast arrival side
    // and the streamed corpus side
    val bands = bandExplode(all).cache()
    val arrBands = bands.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("arr_id"), col("lo").as("lo_a"), col("hi").as("hi_a"), col("band_key"))
    val allBands = bands
      .select(col("vec_id").as("other_id"), col("lo").as("lo_b"), col("hi").as("hi_b"), col("band_key"))
    val pairs = broadcast(arrBands)
      .join(allBands, Seq("band_key"))
      .filter(col("arr_id") =!= col("other_id"))
      .select(least(col("arr_id"), col("other_id")).as("vec_a"),
        greatest(col("arr_id"), col("other_id")).as("vec_b"),
        (bit_count(expr("lo_a ^ lo_b")) + bit_count(expr("hi_a ^ hi_b"))).cast(LongType).as("hamming"))
      .filter(col("hamming") <= 7)
      .distinct()
    graft.GraftSession.materialized(pairs, Seq("vec_a", "vec_b"), bands)
  }

  val dedupBinaryIncrementalSql: String =
    """WITH corpus AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000,
      |    list_transform(embedding, (x, i) -> CASE WHEN i = 1 THEN -x ELSE x END)
      |  FROM embeddings WHERE vec_id % 10 = 0
      |), b AS (
      |  SELECT vec_id,
      |    CAST(list_sum(list_transform(range(1, 33),
      |      i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0.0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)) AS BIGINT) AS lo,
      |    CAST(list_sum(list_transform(range(33, 65),
      |      i -> CASE WHEN CAST(embedding[i] AS DOUBLE) > 0.0 THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END)) AS BIGINT) AS hi
      |  FROM corpus
      |)
      |SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
      |  CAST(bit_count(xor(a.lo, c.lo)) + bit_count(xor(a.hi, c.hi)) AS BIGINT) AS hamming
      |FROM b a JOIN b c ON a.vec_id < c.vec_id
      |WHERE (a.vec_id % 10 = 0 OR c.vec_id % 10 = 0)
      |  AND bit_count(xor(a.lo, c.lo)) + bit_count(xor(a.hi, c.hi)) <= 7
      |ORDER BY vec_a, vec_b""".stripMargin

  // ------------------------------------------------------- radius search

  /** §2.4 #27b — exact cosine RADIUS search: every (query, corpus)
    * pair with cosine ≥ τ for a bounded query batch — the
    * threshold-query sibling of top-k [[annBruteforce]]. Top-k answers
    * "the 5 closest whatever their quality"; radius answers
    * "everything inside the match band", the shape near-dup mining,
    * retrieval filtering, and collision audits actually consume (a
    * query with no neighbors in the band correctly returns nothing
    * instead of 5 bad ones). Exact by construction: broadcast query
    * batch, one map-side cosine per corpus row, selection happens in
    * the output, so the scan is one full pass — the exact-audit
    * contract, like [[annBruteforce]]; the index path for unbounded
    * query sets is the probed IVF/LSH family with a τ post-filter.
    * Integer-quantized dots → IEEE-exact cosines → hash-oracled.
    */
  def annRange(data: DataFrame, queries: DataFrame, tau: Double): DataFrame = {
    val q = prep(queries).select(col("id").as("query_id"), col("qv").as("qa"), col("norm").as("na"))
    val c = prep(data).select(col("id").as("neighbor_id"), col("qv").as("qb"), col("norm").as("nb"))
    broadcast(q)
      .join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        pairCos(col("qa"), col("qb"), col("na"), col("nb")).as("cosine"))
      .filter(col("cosine") >= tau)
      .orderBy("query_id", "neighbor_id")
  }

  /** named query: first 20 vectors as queries, τ = 0.3 (the band the
    * synthetic corpus actually populates — 0.6 is empty here).
    */
  def annRange(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id").as("id"), col("embedding"))
    annRange(e, e.filter(col("id") < 20), 0.3)
  }

  val annRangeSql: String =
    s"""$oracleQuantCte
      |SELECT query_id, neighbor_id, cosine
      |FROM p
      |WHERE query_id < 20 AND cosine >= 0.3
      |ORDER BY query_id, neighbor_id""".stripMargin

  // -------------------------------------------------- random projection

  /** JL projection width and its deterministic ±1 planes (seed 11 —
    * literal in the plan AND in the oracle SQL, like the LSH planes).
    */
  private val RpDims = 16
  private def rpPlanesOf(dims: Int): Array[Array[Long]] = {
    val rnd = new scala.util.Random(11)
    Array.fill(dims)(Array.fill(64)(if (rnd.nextBoolean()) 1L else -1L))
  }
  private val rpPlanes: Array[Array[Long]] = rpPlanesOf(RpDims)
  /** prefilter width: see [[annRpPrefilter]]'s recall/width trade. */
  private[graft] val RpIndexDims = 32

  /** §2.4 #29v — Johnson-Lindenstrauss random projection 64 → 16
    * dims with Achlioptas ±1 planes (public), plus the per-vector
    * norm-preservation audit the JL lemma promises. The contrast with
    * [[embPca]] is the point at 100 TB: PCA needs a full moment pass
    * over the corpus to TRAIN its basis before it can project; a
    * random projection is data-independent — zero training passes,
    * the planes are 16×64 literals riding in the plan, and any new
    * shard projects with no coordination. The price is optimality
    * (PCA minimizes reconstruction error; JL only bounds distance
    * distortion), which is why both exist.
    *
    * Per vector: the first four projected coords (the projection
    * itself, integer-exact), ‖x‖², ‖y‖², and the norm-preservation
    * ratio in ppm — E[‖y‖²] = 16·‖x‖² for ±1 planes, so
    * ratio_ppm = ‖y‖²·62500 ÷ ‖x‖² concentrates near 1e6 (62500 =
    * 1e6/16 exactly, keeping the arithmetic in int64). One codegen'd
    * map-side kernel ([[graft.functions.ArrayExprs.planeProject]]);
    * no shuffle beyond the output sort.
    */
  def embRp(spark: SparkSession, dir: String): DataFrame =
    prep(emb(spark, dir).select(col("vec_id").as("id"), col("embedding")))
      .withColumn("y", graft.functions.ArrayExprs.planeProject(col("qv"), rpPlanes))
      .withColumn("norm2_orig", qdot(col("qv"), col("qv")))
      .withColumn("norm2_proj", qdot(col("y"), col("y")))
      .select(
        col("id").as("vec_id"),
        col("y").getItem(0).as("y0"), col("y").getItem(1).as("y1"),
        col("y").getItem(2).as("y2"), col("y").getItem(3).as("y3"),
        col("norm2_orig"), col("norm2_proj"),
        expr("norm2_proj * 62500L div norm2_orig").as("ratio_ppm"),
      )
      .orderBy("vec_id")

  val embRpSql: String = {
    def dot(p: Array[Long]): String =
      s"CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * ${p.mkString("[", ", ", "]")}[i])) AS BIGINT)"
    val ys = rpPlanes.zipWithIndex.map { case (p, j) => s"${dot(p)} AS y$j" }.mkString(",\n    ")
    val n2p = (0 until RpDims).map(j => s"y$j * y$j").mkString(" + ")
    s"""WITH q AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS qv
      |  FROM embeddings
      |), proj AS (
      |  SELECT vec_id,
      |    $ys,
      |    CAST(list_sum(list_transform(range(1, 65), i -> qv[i] * qv[i])) AS BIGINT) AS norm2_orig
      |  FROM q
      |)
      |SELECT vec_id, y0, y1, y2, y3, norm2_orig,
      |  CAST($n2p AS BIGINT) AS norm2_proj,
      |  CAST(($n2p) * 62500 // norm2_orig AS BIGINT) AS ratio_ppm
      |FROM proj
      |ORDER BY vec_id""".stripMargin
  }

  /** §2.4 #29w — RP-prefiltered ANN: stage 1 scores every candidate in
    * a `dims`-wide JL projection (integer dots over `dims` longs —
    * half the multiplies and data motion of the 64-dim scan at the
    * default 32) and keeps a `shortlistFactor`·k per-query shortlist;
    * stage 2 re-ranks the shortlist with the exact 64-dim cosine.
    * The two-stage shape of PQ-ADC ([[annPq]]) with a
    * data-INDEPENDENT code, and that independence is the entire
    * point AND the entire price:
    *  - no codebook/quantizer training pass — any new shard projects
    *    locally with zero coordination, so this is the BOOTSTRAP
    *    index (cold start, streaming ingest before the first
    *    training pass lands, corpora too churned to keep a codebook
    *    fresh);
    *  - measured recall@5 at the (dims=32, factor=32) default:
    *    0.89 on the 500-vector corpus, 0.75 at sf0.1 (2000 vectors) —
    *    below trained PQ-ADC's 0.89 at the same re-rank budget, which
    *    is exactly what giving up the training pass costs (the full
    *    grid is in Round21OpsSpec/BASELINE notes; recall falls as the
    *    corpus outgrows a fixed shortlist, so size factor to corpus).
    * Exactness anchor: at shortlistFactor = corpus the shortlist is
    * everything and the operator equals brute force bit-for-bit
    * (pinned). Engine-specific shortlist → rows-only by design.
    */
  def annRpPrefilter(data: DataFrame, queries: DataFrame, k: Int,
      shortlistFactor: Int = 32, dims: Int = RpIndexDims): DataFrame = {
    val planes = rpPlanesOf(dims)
    def projected(d: DataFrame, idAs: String, pyAs: String, pnAs: String): DataFrame =
      prep(d)
        .withColumn("py", graft.functions.ArrayExprs.planeProject(col("qv"), planes))
        .select(col("id").as(idAs), col("qv").as(s"${idAs}_qv"), col("norm").as(s"${idAs}_norm"),
          col("py").as(pyAs), sqrt(qdot(col("py"), col("py")).cast(DoubleType)).as(pnAs))
    val q = projected(queries, "query_id", "qa_py", "qa_pn")
    val c = projected(data, "neighbor_id", "qb_py", "qb_pn")
    val wApprox = Window.partitionBy(col("query_id")).orderBy(col("approx").desc, col("neighbor_id"))
    val shortlist = broadcast(q)
      .join(c, col("query_id") =!= col("neighbor_id"))
      .select(
        col("query_id"), col("neighbor_id"),
        col("query_id_qv").as("qa"), col("query_id_norm").as("na"),
        col("neighbor_id_qv").as("qb"), col("neighbor_id_norm").as("nb"),
        // A zero projected vector (possible: ±1 planes can annihilate a
        // nonzero input) makes the cosine 0/0 = NaN, and NaN sorts ABOVE
        // every double under desc — degenerate vectors would crowd every
        // shortlist. Park them at -1 (below any real cosine) instead.
        when(col("qa_pn") > 0 && col("qb_pn") > 0,
          qdot(col("qa_py"), col("qb_py")).cast(DoubleType) / (col("qa_pn") * col("qb_pn")))
          .otherwise(lit(-1.0)).as("approx"),
      )
      .withColumn("rn", row_number().over(wApprox))
      .filter(col("rn") <= shortlistFactor * k)
    topK(
      shortlist.select(col("query_id"), col("neighbor_id"),
        pairCos(col("qa"), col("qb"), col("na"), col("nb")).as("cosine")),
      k)
  }

  /** named query: first 20 vectors, k=5, 32·k shortlist, 32 dims. */
  def annRpPrefilter(spark: SparkSession, dir: String): DataFrame = {
    val e = emb(spark, dir).select(col("vec_id").as("id"), col("embedding"))
    annRpPrefilter(e, e.filter(col("id") < 20), 5)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_bitpack" -> (embBitpack _),
    "ann_hamming" -> (annHamming(_: SparkSession, _: String)),
    "ann_hamming_rerank" -> (annHammingRerank(_: SparkSession, _: String)),
    "dedup_binary" -> (dedupBinary _),
    "dedup_binary_incremental" -> (dedupBinaryIncremental _),
    "ann_range" -> (annRange(_: SparkSession, _: String)),
    "emb_rp" -> (embRp _),
    "ann_rp" -> (annRpPrefilter(_: SparkSession, _: String)),
    "ann_recall" -> (annRecall _),
    "ann_probe_sweep" -> (annProbeSweep _),
    "ann_incremental" -> (annIncremental _),
    "ann_delete" -> (annDelete _),
    "ann_ivf_indexed" -> (annIvfIndexed _),
    "ann_ivfpq" -> (annIvfPq(_: SparkSession, _: String)),
    "ann_ivfpq_live" -> (annIvfPqLive _),
    "emb_hubness" -> (embHubness _),
    "emb_kmeans" -> (embKmeans(_: SparkSession, _: String)),
    "emb_matryoshka" -> (embMatryoshka _),
    "emb_outliers" -> (embOutliers _),
    "emb_pca" -> (embPca _),
    "ann_classify" -> (annClassify _),
    "emb_centroids" -> (embCentroids _),
    "ann_bruteforce" -> (annBruteforce(_: SparkSession, _: String)),
    "emb_quantize" -> (embQuantize _),
    "dedup_embedding" -> (dedupEmbedding _),
    "decontaminate_semantic" -> (decontaminateSemantic _),
    "ann_lsh" -> (annLsh(_: SparkSession, _: String)),
    "ann_knn_graph" -> (annKnnGraph _),
    "ann_graph_append" -> (annGraphAppend _),
    "sample_diversity" -> (sampleDiversity _),
    "ann_graph_expand" -> (annGraphExpand _),
    "ann_ivf" -> (annIvf(_: SparkSession, _: String)),
    "ann_filtered" -> (annFiltered(_: SparkSession, _: String)),
    "ann_pq" -> (annPq(_: SparkSession, _: String)),
    "dedup_semantic" -> (dedupSemantic _),
  )

  val oracles: Map[String, String] = Map(
    "ann_range" -> annRangeSql,
    "emb_rp" -> embRpSql,
    "emb_bitpack" -> embBitpackSql,
    "ann_hamming" -> annHammingSql,
    "ann_hamming_rerank" -> annHammingRerankSql,
    "dedup_binary" -> dedupBinarySql,
    "dedup_binary_incremental" -> dedupBinaryIncrementalSql,
    "emb_matryoshka" -> embMatryoshkaSql,
    "emb_outliers" -> embOutliersSql,
    "ann_classify" -> annClassifySql,
    "emb_centroids" -> embCentroidsSql,
    "ann_bruteforce" -> annBruteforceSql,
    "emb_quantize" -> embQuantizeSql,
    "dedup_embedding" -> dedupEmbeddingSql,
    "decontaminate_semantic" -> decontaminateSemanticSql,
    "ann_filtered" -> annFilteredSql,
    // ann_lsh / ann_ivf: engine-specific candidate generation → rows-only + recall tests
  )
}
