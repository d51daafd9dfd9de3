package graft.operators

import graft.GraftSession.table
import graft.lake.{ChunkStore, Convergent, Lake, LakeConfig, LakeParams, StoreEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.1 — the reference's content-addressed store semantics
  * as oracle-checkable queries over the `documents` table (each doc's
  * text = one blob). The materialized multi-store paths (§2.1 #7-#9)
  * are exercised in LakeSpec; these queries pin the *algebra* —
  * ladder, chunking, dedup, reassembly, bucketing, convergent
  * encryption — against DuckDB.
  *
  * Test-scale params: inline ≤ 64 B, chunk = 256 B (documents are
  * 48-553 ASCII bytes, so all three ladder kinds occur).
  */
object LakeOps {

  private val P = LakeParams(inlineMax = 64, chunkMax = 256, nBuckets = 64)

  private def docs(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")

  /** §2.1 #1 — put ladder: every blob classified + content-addressed. */
  def lakePutBlob(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .select(
        col("doc_id"),
        octet_length(col("text")).cast(LongType).as("total_len"),
        ChunkStore.kindOf(octet_length(col("text")).cast(LongType), P).as("kind"),
        when(octet_length(col("text")) <= P.inlineMax, lit(0L))
          .otherwise(expr(s"(octet_length(text) + ${P.chunkMax - 1}) DIV ${P.chunkMax}").cast(LongType))
          .as("n_chunks"),
        sha2(col("text"), 256).as("blob_hash"),
      )
      .orderBy("doc_id")

  val lakePutBlobSql: String =
    """SELECT doc_id,
      |  CAST(len(text) AS BIGINT) AS total_len,
      |  CASE WHEN len(text) <= 64 THEN 'inline' WHEN len(text) <= 256 THEN 'single' ELSE 'tree' END AS kind,
      |  CASE WHEN len(text) <= 64 THEN 0 ELSE (len(text) + 255) // 256 END AS n_chunks,
      |  sha256(text) AS blob_hash
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Shared chunk-split relation: one row per (non-inline doc, part). */
  private def chunkSplit(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .filter(octet_length(col("text")) > P.inlineMax)
      .withColumn(
        "part_idx",
        explode(sequence(lit(0L), expr(s"(octet_length(text) + ${P.chunkMax - 1}) DIV ${P.chunkMax}") - 1)),
      )
      .withColumn("part", expr(s"substring(text, cast(part_idx * ${P.chunkMax} + 1 as int), ${P.chunkMax})"))
      .select(
        col("doc_id"),
        col("part_idx"),
        col("part"),
        octet_length(col("part")).cast(LongType).as("part_len"),
        sha2(col("part"), 256).as("chunk_hash"),
      )

  /** Read-back of a scratch store this query just wrote (r17, guide
    * §6): the schema is statically known (it is the frame written a
    * few lines up), so passing it skips the footer-inference jobs; and
    * the fixture is O(100) directories of ONE small file each, so the
    * distributed leaf-file listing (64-128 tasks, ~50 ms of task
    * deserialization each, fired because the directory count exceeds
    * parallelPartitionDiscovery.threshold = 32) is pure overhead —
    * scoped-raise the threshold so the driver lists them in
    * microseconds. Scoped and restored: a REAL 100 TB store read keeps
    * the session default, where distributed listing is the right call.
    */
  private def readScratchStore(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "1024")
    try spark.read.schema(schema).parquet(path)
    finally spark.conf.set(key, prev)
  }

  /** §2.1 #2 — fixed-size chunk split with per-part content addresses. */
  def lakeChunkSplit(spark: SparkSession, dir: String): DataFrame =
    chunkSplit(spark, dir)
      .select(col("doc_id"), col("part_idx"), col("part_len"), col("chunk_hash"))
      .orderBy("doc_id", "part_idx")

  /** Oracle chunk-split CTE: DuckDB's generate_series cannot take
    * lateral column args, so parts come from unnest(range(n)).
    */
  private val oracleChunkCte: String =
    """WITH exploded AS (
      |  SELECT doc_id, text, unnest(range((len(text) + 255) // 256)) AS part_idx
      |  FROM documents WHERE len(text) > 64
      |), chunks AS (
      |  SELECT doc_id, part_idx,
      |    CAST(len(substring(text, CAST(part_idx * 256 + 1 AS INT), 256)) AS BIGINT) AS part_len,
      |    sha256(substring(text, CAST(part_idx * 256 + 1 AS INT), 256)) AS chunk_hash
      |  FROM exploded
      |)""".stripMargin

  val lakeChunkSplitSql: String =
    s"""$oracleChunkCte
      |SELECT doc_id, part_idx, part_len, chunk_hash
      |FROM chunks
      |ORDER BY doc_id, part_idx""".stripMargin

  /** §2.1 #3 — content-addressing dedup stats (idempotent-put effect). */
  def lakeDedupStats(spark: SparkSession, dir: String): DataFrame =
    chunkSplit(spark, dir)
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("cnt"), max(col("part_len")).as("len1"))
      .agg(
        sum(col("cnt")).as("n_chunks"),
        count(lit(1)).as("n_unique_chunks"),
        sum(col("len1") * col("cnt")).as("bytes_total"),
        sum(col("len1")).as("bytes_unique"),
      )

  val lakeDedupStatsSql: String =
    s"""$oracleChunkCte, per AS (
      |  SELECT chunk_hash, count(*) AS cnt, max(part_len) AS len1 FROM chunks GROUP BY chunk_hash
      |)
      |SELECT CAST(sum(cnt) AS BIGINT) AS n_chunks,
      |       count(*) AS n_unique_chunks,
      |       CAST(sum(len1 * cnt) AS BIGINT) AS bytes_total,
      |       CAST(sum(len1) AS BIGINT) AS bytes_unique
      |FROM per""".stripMargin

  /** §2.1 #4 — get_blob: reassemble every blob from its parts (ordered
    * binary concat, the kernel ChunkStore's read assembly uses) and
    * verify the content address survives the roundtrip. The oracle
    * computes the hash from the original text — a mismatch means
    * reassembly broke.
    */
  def lakeGetBlob(spark: SparkSession, dir: String): DataFrame = {
    val reassembled = chunkSplit(spark, dir)
      .groupBy(col("doc_id"))
      .agg(
        graft.lake.Codec.concatBinary(
          transform(
            array_sort(collect_list(struct(col("part_idx"), col("part")))),
            p => p.getField("part").cast(BinaryType),
          )
        ).as("blob")
      )
    val inline = docs(spark, dir)
      .filter(octet_length(col("text")) <= P.inlineMax)
      .select(col("doc_id"), col("text").cast(BinaryType).as("blob"))
    inline
      .unionByName(reassembled)
      .select(
        col("doc_id"),
        sha2(col("blob"), 256).as("blob_hash"),
        octet_length(col("blob")).cast(LongType).as("blob_len"),
      )
      .orderBy("doc_id")
  }

  val lakeGetBlobSql: String =
    """SELECT doc_id, sha256(text) AS blob_hash, CAST(len(text) AS BIGINT) AS blob_len
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** §2.1 #4b — join-size PREFLIGHT for the reassembly join: the
    * manifest⋈store equi-join behind [[lakeGetBlob]] is the lake's
    * biggest shuffle, and this is the `q_join_card2` planner
    * primitive pointed at it — two 256-bucket sketches over the
    * chunk_hash key (bucket = the [[lakeBucketHist]] hex-prefix
    * arithmetic, identical both engines), manifest side n_b = Σ
    * references, store side m_b = distinct content addresses (the
    * idempotent-put invariant makes the store key-unique), joined on
    * bucket: Σ_b n_b·m_b upper-bounds the true join output Σ_k
    * refs(k)·1 = \|manifest\|. The deliberately-reported `over_ppm`
    * is the sketch's resolution loss on a KEY-UNIQUE probe side —
    * ≈ u/B for u distinct chunks over B buckets — which is exactly
    * the number a planner reads to size its bucket count (the
    * reference keeps its index bucket count prime and
    * data-proportional for the same reason — helpers/sieve.rs:4's
    * get_le_prime analog here is B, a knob, not a constant).
    * Pair counts in DECIMAL(38,0)/HUGEINT, emitted as decimal-exact
    * strings; over_ppm BIGINT by split division.
    */
  def lakeJoinPreflight(spark: SparkSession, dir: String): DataFrame = {
    val refs = chunkSplit(spark, dir)
      .groupBy(col("chunk_hash")).agg(count(lit(1)).as("c"))
    val bucketed = refs.withColumn("bucket",
      expr(
        "CAST(((locate(substring(chunk_hash,1,1), '0123456789abcdef') - 1) * 16 + " +
          "locate(substring(chunk_hash,2,1), '0123456789abcdef') - 1) AS BIGINT)"))
      .groupBy(col("bucket"))
      .agg(sum(col("c")).as("nb"), count(lit(1)).as("mb"))
    val exact = refs.agg(
      count(lit(1)).as("n_unique_chunks"),
      sum(expr("CAST(c AS DECIMAL(38,0))")).as("exact_rows"))
    val est = bucketed.agg(
      count(lit(1)).as("n_buckets"),
      sum(expr("CAST(nb AS DECIMAL(38,0)) * mb")).as("est_rows"))
    exact.crossJoin(broadcast(est))
      .withColumn("over_ppm", expr(
        """CAST(((est_rows * 1000) div exact_rows) * 1000
          | + ((est_rows * 1000 % exact_rows) * 1000) div exact_rows - 1000000 AS BIGINT)""".stripMargin))
      .select(
        col("n_unique_chunks"), col("n_buckets"),
        col("exact_rows").cast(StringType).as("exact_rows"),
        col("est_rows").cast(StringType).as("est_rows"),
        col("over_ppm"))
  }

  val lakeJoinPreflightSql: String =
    s"""$oracleChunkCte, refs AS (
      |  SELECT chunk_hash, count(*) AS c FROM chunks GROUP BY chunk_hash
      |), bucketed AS (
      |  SELECT ((strpos('0123456789abcdef', substring(chunk_hash,1,1)) - 1) * 16 +
      |          strpos('0123456789abcdef', substring(chunk_hash,2,1)) - 1) AS bucket,
      |    CAST(sum(c) AS HUGEINT) AS nb, count(*) AS mb
      |  FROM refs GROUP BY 1
      |), ex AS (
      |  SELECT count(*) AS n_unique_chunks, sum(CAST(c AS HUGEINT)) AS ep FROM refs
      |), est AS (
      |  SELECT count(*) AS n_buckets, sum(nb * mb) AS sp FROM bucketed
      |)
      |SELECT n_unique_chunks, n_buckets,
      |  CAST(CAST(ep AS DECIMAL(38,0)) AS VARCHAR) AS exact_rows,
      |  CAST(CAST(sp AS DECIMAL(38,0)) AS VARCHAR) AS est_rows,
      |  CAST((sp * 1000 // ep) * 1000 + ((sp * 1000 % ep) * 1000) // ep - 1000000 AS BIGINT) AS over_ppm
      |FROM ex, est""".stripMargin

  /** §2.1 #5 — hash-prefix bucket histogram (index-modulo analog).
    * Bucket derived from the first two hex chars via a
    * portable char-position trick (identical arithmetic in DuckDB).
    */
  def lakeBucketHist(spark: SparkSession, dir: String): DataFrame =
    chunkSplit(spark, dir)
      .withColumn(
        "bucket",
        expr(
          "CAST(((locate(substring(chunk_hash,1,1), '0123456789abcdef') - 1) * 16 + " +
            "locate(substring(chunk_hash,2,1), '0123456789abcdef') - 1) % 64 AS BIGINT)"
        ),
      )
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_chunks"), countDistinct(col("chunk_hash")).as("n_unique"))
      .orderBy("bucket")

  val lakeBucketHistSql: String =
    s"""$oracleChunkCte
      |SELECT CAST(((strpos('0123456789abcdef', substring(chunk_hash,1,1)) - 1) * 16 +
      |             strpos('0123456789abcdef', substring(chunk_hash,2,1)) - 1) % 64 AS BIGINT) AS bucket,
      |  count(*) AS n_chunks,
      |  count(DISTINCT chunk_hash) AS n_unique
      |FROM chunks
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  /** §2.1 #5b — bucket-resize rebalance plan: what an index-modulo
    * store (the reference's bucketing scheme) PAYS to change its
    * bucket count. A chunk lives in bucket h mod B; resizing to B'
    * moves every chunk whose `h mod B'` lands elsewhere. The plan
    * quantifies two candidate resizes of the 64-bucket layout:
    * doubling to 128 (h mod 128 agrees with h mod 64 for exactly the
    * chunks whose 7th bit is 0 — HALF the store stays put, the
    * consistent-growth story) and a prime 97 (the reference keeps
    * its index count prime for probe quality — but a prime resize
    * keeps a chunk only by arithmetic coincidence; on this store's
    * 8-bit prefix domain that is ~25% stay vs the doubling's exact
    * 50%, and the gap widens with the hash domain). One row per
    * candidate: chunks moved, exact
    * moved_ppm, and the new layout's max/min bucket load (the skew
    * the resize buys). The decision this feeds: growing by doubling
    * is an O(half-store) migration; growing to "a nicer number" is a
    * full rewrite — plan accordingly.
    *
    * Scale shape: one chunk scan, both candidate assignments as
    * map-side columns, two metadata-sized rollups (≤B' rows each).
    * All integer → hash-oracled.
    */
  def lakeRebalance(spark: SparkSession, dir: String): DataFrame = {
    val h = chunkSplit(spark, dir)
      .withColumn("h", expr(
        "CAST((locate(substring(chunk_hash,1,1), '0123456789abcdef') - 1) * 16 + " +
          "locate(substring(chunk_hash,2,1), '0123456789abcdef') - 1 AS BIGINT)"))
      .select(col("h"), expr("h % 64").as("b_old"))
    def plan(bNew: Int): DataFrame = {
      val loads = h.withColumn("b_new", expr(s"h % $bNew"))
        .groupBy(col("b_new"))
        .agg(count(lit(1)).as("load"),
          sum(when(expr(s"h % 64 = h % $bNew"), 0L).otherwise(1L)).as("moved"))
      loads.agg(
        count(lit(1)).as("n_buckets_used"),
        sum(col("load")).as("n_chunks"),
        sum(col("moved")).as("n_moved"),
        max(col("load")).as("max_load"),
        min(col("load")).as("min_load"),
      ).select(
        lit(bNew.toLong).as("new_buckets"),
        col("n_buckets_used"), col("n_chunks"), col("n_moved"),
        expr("n_moved * 1000000L div n_chunks").as("moved_ppm"),
        col("max_load"), col("min_load"),
      )
    }
    // the prime candidate is DERIVED the way the reference derives its
    // index size (helpers/sieve.rs get_le_prime: largest prime ≤ the
    // requested count), not hand-coded: get_le_prime(100) = 97
    plan(128).unionByName(plan(graft.lake.Sieve.getLePrime(100))).orderBy("new_buckets")
  }

  val lakeRebalanceSql: String =
    s"""$oracleChunkCte, hh AS (
      |  SELECT CAST((strpos('0123456789abcdef', substring(chunk_hash,1,1)) - 1) * 16 +
      |              strpos('0123456789abcdef', substring(chunk_hash,2,1)) - 1 AS BIGINT) AS h
      |  FROM chunks
      |), plans AS (
      |  SELECT CAST(b AS BIGINT) AS new_buckets, h % 64 AS b_old, h % b AS b_new
      |  FROM hh, (SELECT unnest([128, 97]) AS b)
      |), loads AS (
      |  SELECT new_buckets, b_new, count(*) AS load,
      |    sum(CASE WHEN b_old = b_new THEN 0 ELSE 1 END) AS moved
      |  FROM plans GROUP BY 1, 2
      |)
      |SELECT new_buckets, count(*) AS n_buckets_used,
      |  CAST(sum(load) AS BIGINT) AS n_chunks,
      |  CAST(sum(moved) AS BIGINT) AS n_moved,
      |  CAST(sum(moved) * 1000000 // sum(load) AS BIGINT) AS moved_ppm,
      |  CAST(max(load) AS BIGINT) AS max_load,
      |  CAST(min(load) AS BIGINT) AS min_load
      |FROM loads
      |GROUP BY new_buckets
      |ORDER BY new_buckets""".stripMargin

  /** §2.1 #5c — bucket-resize rebalance EXECUTION: [[lakeRebalance]]
    * plans the B=64 → B′=128 migration; this op PERFORMS it on a
    * scratch store and reports the post-state FROM THE REWRITTEN
    * FILES — the q_compact_exec plan-then-execute pattern applied to
    * the index-modulo store. The store holds one physical copy per
    * content address (idempotent-put semantics), so the migration
    * routes the UNIQUE chunk set: each chunk to directory
    * `bucket = h mod 128`, one physical file per bucket
    * (repartition-by-bucket before the partitioned write), with its
    * old-bucket membership carried as data so the moved count is
    * derived from what actually landed on disk, not from the plan.
    * The oracle recomputes the expected post-state from the source
    * table — a hash match proves the executed layout IS the plan
    * (doubling moves exactly the bit-6-set half; every stayed chunk's
    * directory equals its old bucket).
    *
    * Scale shape: one exchange of the unique chunk set keyed on the
    * new bucket (the migration is a rewrite — that shuffle IS the
    * work, and it is the O(store) floor any resize pays), then a
    * metadata-sized per-bucket rollup of the rewritten files. At
    * 100 TB the doubling variant can instead move ONLY the bit-6-set
    * half (stayed chunks keep their directories); this op rewrites
    * all buckets so the post-state report covers the full layout.
    */
  def lakeRebalanceExec(spark: SparkSession, dir: String): DataFrame = {
    val uniq = chunkSplit(spark, dir)
      .groupBy(col("chunk_hash"))
      .agg(min(col("part_len")).as("bytes"), count(lit(1)).as("n_refs"))
      .withColumn("h", expr(
        "CAST((locate(substring(chunk_hash,1,1), '0123456789abcdef') - 1) * 16 + " +
          "locate(substring(chunk_hash,2,1), '0123456789abcdef') - 1 AS BIGINT)"))
      .withColumn("moved", expr("CAST(h % 64 != h % 128 AS BIGINT)"))
      .select(col("chunk_hash"), col("bytes"), col("n_refs"), col("moved"),
        expr("h % 128").as("bucket"))
    val out = s"${graft.sources.Ingest.scratchDir(spark)}/store_rebalanced_128_${Integer.toHexString(dir.hashCode)}"
    // EXPLICIT width on the keyed repartition: a bare repartition(col)
    // is AQE-coalescible, and at bench scale the ~600 KB chunk set
    // collapses to ONE task that then creates all 128 bucket
    // directories serially (measured 2.5 s of a 4.1 s query in pure
    // file I/O). With the width pinned to defaultParallelism the
    // rewrite fans out across cores while each bucket still lands in
    // exactly one task (hash on the key), so the one-file-per-bucket
    // physical model is unchanged. Scale-adaptive: the width follows
    // $SPARK_GRAFT_CPUS / cluster size, not a constant.
    uniq.repartition(spark.sparkContext.defaultParallelism, col("bucket"))
      .sortWithinPartitions("bucket", "chunk_hash")
      .write.mode("overwrite").partitionBy("bucket").parquet(out)
    // readScratchStore: skips footer inference + distributed listing;
    // the partition column reads as the same IntegerType partition
    // inference would produce (the downstream cast is unchanged).
    readScratchStore(spark, out, StructType(Seq(
        StructField("chunk_hash", StringType), StructField("bytes", LongType),
        StructField("n_refs", LongType), StructField("moved", LongType),
        StructField("bucket", IntegerType))))
      .withColumn("phys_file", input_file_name())
      .groupBy(col("bucket").cast(LongType).as("bucket"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("n_refs")).as("n_refs"),
        sum(col("bytes")).as("bucket_bytes"),
        sum(col("moved")).as("n_moved"),
        countDistinct(col("phys_file")).as("n_phys_files"),
      )
      .orderBy("bucket")
  }

  val lakeRebalanceExecSql: String =
    s"""$oracleChunkCte, uniq AS (
      |  SELECT chunk_hash, min(part_len) AS bytes, count(*) AS n_refs,
      |    CAST((strpos('0123456789abcdef', substring(chunk_hash,1,1)) - 1) * 16 +
      |         strpos('0123456789abcdef', substring(chunk_hash,2,1)) - 1 AS BIGINT) AS h
      |  FROM chunks GROUP BY chunk_hash
      |)
      |SELECT h % 128 AS bucket, count(*) AS n_chunks,
      |  CAST(sum(n_refs) AS BIGINT) AS n_refs,
      |  CAST(sum(bytes) AS BIGINT) AS bucket_bytes,
      |  CAST(sum(CASE WHEN h % 64 = h % 128 THEN 0 ELSE 1 END) AS BIGINT) AS n_moved,
      |  CAST(1 AS BIGINT) AS n_phys_files
      |FROM uniq
      |GROUP BY 1
      |ORDER BY bucket""".stripMargin

  /** §2.1 #9j — small-file compaction EXECUTION on the index-modulo
    * store, the production gap a long-lived append-ingest store hits
    * first: every put appends its own file per bucket
    * ([[graft.lake.ChunkStore]] `SaveMode.Append`), so after N put
    * batches every pruned point read opens N files per probed bucket;
    * the reference's bump-allocated pages (store/mod.rs:330-390) never
    * fragment, so the Spark translation owes the maintenance op back.
    * This op PERFORMS the compaction on a scratch model store and
    * reports the post-state FROM THE REWRITTEN FILES — the
    * lake_rebalance_exec discipline:
    *
    *  1. BEFORE-state: the unique chunk set arrives in 4 put batches
    *     (a chunk's arrival batch = min over its referencing docs of
    *     doc_id mod 4 — idempotent put writes a chunk only the first
    *     time it is seen), each batch appending one file per touched
    *     bucket, exactly what 4 real puts do. `files_before` is read
    *     from the fragmented files themselves (input_file_name), and
    *     the oracle recomputes it as count(DISTINCT arrival batch) —
    *     the hash match proves the physical fragmentation IS the
    *     append model.
    *  2. Tombstone model: blobs with doc_id mod 7 = 0 are deleted, so
    *     compaction is GC-aware — chunks with zero LIVE refs are
    *     dropped by the rewrite (the fused compact+reclaim of
    *     [[graft.lake.ChunkStore.compact]]), while chunks shared with
    *     any live blob survive (the convergent-store invariant).
    *  3. AFTER-state: live chunks repartitioned by bucket, one
    *     consolidated sorted file per bucket directory; n_chunks,
    *     n_refs_live, bucket_bytes, files_after are all computed from
    *     the rewritten files (input_file_name again), so the oracle
    *     match proves the executed layout: every live chunk landed in
    *     its hash-prefix directory, every dead chunk is gone, every
    *     bucket is one physical file.
    *
    * Scale shape: one exchange of the unique chunk set keyed on
    * bucket — the O(store) floor any rewrite pays — then two
    * metadata-sized per-bucket rollups. The real-store twin (multi-put
    * fragmentation → `gc()` → fsck+scrub green,
    * payload roundtrip, one-file-per-bucket, pruned tree-get plan
    * unchanged) is pinned in Round21OpsSpec.
    */
  def lakeCompactExec(spark: SparkSession, dir: String): DataFrame = {
    val uniq = chunkSplit(spark, dir)
      .groupBy(col("chunk_hash"))
      .agg(
        min(col("part_len")).as("bytes"),
        count(lit(1)).as("n_refs"),
        sum(when(col("doc_id") % 7 =!= 0, 1L).otherwise(0L)).as("n_refs_live"),
        min(col("doc_id") % 4).as("min_batch"),
      )
      .withColumn("bucket", expr(
        "CAST((locate(substring(chunk_hash,1,1), '0123456789abcdef') - 1) * 16 + " +
          "locate(substring(chunk_hash,2,1), '0123456789abcdef') - 1 AS BIGINT) % 64"))
    val base = s"${graft.sources.Ingest.scratchDir(spark)}/store_fragmented_${Integer.toHexString(dir.hashCode)}"
    // fragmented before-state: 4 appended batches, each one file per
    // touched bucket. ONE partitioned write builds the same physical
    // model: partitionBy(min_batch, bucket) after a repartition on the
    // pair puts every (batch, bucket) group in exactly one task → one
    // file per batch per bucket directory, so countDistinct(file) per
    // bucket still equals the number of batches that touched it. The
    // r16 rewrite replaces the four overwrite/append jobs, each of
    // which recomputed the full chunk-split + dedup aggregation (the
    // earlier measured-slower cache note applied to THAT shape: 4
    // scans beat 1 scan + 4 InMemoryRelation reads; with a single
    // write the question is moot — one scan, one exchange, one job).
    // explicit width (lakeRebalanceExec note): AQE coalesced the bare
    // keyed repartition to ONE task that wrote all 4×64 (batch, bucket)
    // directories serially — 3.5 s of the query in file I/O. Pinning
    // the width keeps each (batch, bucket) group in exactly one task
    // (hash on the pair → still one file per directory) while the
    // directory creation fans out across cores.
    uniq.repartition(spark.sparkContext.defaultParallelism, col("min_batch"), col("bucket"))
      .write.mode("overwrite")
      .partitionBy("min_batch", "bucket").parquet(s"$base/chunks")
    // readScratchStore: skips footer inference + distributed listing
    // over the 4×64 (batch, bucket) directories; partition columns
    // read as the IntegerType partition inference would produce
    // (downstream casts unchanged).
    val fragSchema = StructType(Seq(
      StructField("chunk_hash", StringType), StructField("bytes", LongType),
      StructField("n_refs", LongType), StructField("n_refs_live", LongType),
      StructField("min_batch", IntegerType), StructField("bucket", IntegerType)))
    val frag = readScratchStore(spark, s"$base/chunks", fragSchema)
    val beforeStats = frag
      .withColumn("f", input_file_name())
      .groupBy(col("bucket").cast(LongType).as("bucket"))
      .agg(
        countDistinct(col("f")).as("files_before"),
        sum(when(col("n_refs_live") === 0, 1L).otherwise(0L)).as("n_dropped"),
      )
    // the compaction rewrite: live-only, one consolidated file per bucket
    frag.filter(col("n_refs_live") > 0)
      .repartition(spark.sparkContext.defaultParallelism, col("bucket"))
      .sortWithinPartitions("bucket", "chunk_hash")
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$base/chunks_compacted")
    // min_batch travelled through the fragmented read-back as an
    // Integer DATA column (only bucket is a partition dir here)
    val afterStats = readScratchStore(spark, s"$base/chunks_compacted", StructType(
        fragSchema.fields.filterNot(_.name == "bucket").toSeq :+ StructField("bucket", IntegerType)))
      .withColumn("f", input_file_name())
      .groupBy(col("bucket").cast(LongType).as("bucket"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("n_refs_live")).as("n_refs_live"),
        sum(col("bytes")).as("bucket_bytes"),
        countDistinct(col("f")).as("files_after"),
      )
    beforeStats.join(afterStats, Seq("bucket"), "left")
      .na.fill(0L, Seq("n_chunks", "n_refs_live", "bucket_bytes", "files_after"))
      .select(
        col("bucket"), col("n_chunks"), col("n_refs_live"), col("bucket_bytes"),
        col("n_dropped"), col("files_before"), col("files_after"))
      .orderBy("bucket")
  }

  val lakeCompactExecSql: String =
    s"""$oracleChunkCte, uniq AS (
      |  SELECT chunk_hash, min(part_len) AS bytes, count(*) AS n_refs,
      |    sum(CASE WHEN doc_id % 7 <> 0 THEN 1 ELSE 0 END) AS n_refs_live,
      |    min(doc_id % 4) AS min_batch,
      |    CAST((strpos('0123456789abcdef', substring(chunk_hash,1,1)) - 1) * 16 +
      |         strpos('0123456789abcdef', substring(chunk_hash,2,1)) - 1 AS BIGINT) % 64 AS bucket
      |  FROM chunks GROUP BY chunk_hash
      |)
      |SELECT bucket,
      |  CAST(sum(CASE WHEN n_refs_live > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_chunks,
      |  CAST(sum(CASE WHEN n_refs_live > 0 THEN n_refs_live ELSE 0 END) AS BIGINT) AS n_refs_live,
      |  CAST(sum(CASE WHEN n_refs_live > 0 THEN bytes ELSE 0 END) AS BIGINT) AS bucket_bytes,
      |  CAST(sum(CASE WHEN n_refs_live = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
      |  CAST(count(DISTINCT min_batch) AS BIGINT) AS files_before,
      |  CAST(CASE WHEN sum(CASE WHEN n_refs_live > 0 THEN 1 ELSE 0 END) > 0
      |       THEN 1 ELSE 0 END AS BIGINT) AS files_after
      |FROM uniq
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  /** §2.1 #6 — convergent encryption roundtrip. The oracle hashes the
    * original text: equality proves decrypt(encrypt(x)) == x for every
    * document. enc_len pins the GCM layout (12 B IV + payload + 16 B tag).
    */
  def lakeConvergent(spark: SparkSession, dir: String): DataFrame = {
    val ct = Convergent.encrypt(col("text"))
    docs(spark, dir)
      .select(
        col("doc_id"),
        sha2(Convergent.decrypt(ct, Convergent.contentKey(col("text"))), 256).as("round_sha"),
        octet_length(ct).cast(LongType).as("enc_len"),
      )
      .orderBy("doc_id")
  }

  val lakeConvergentSql: String =
    """SELECT doc_id, sha256(text) AS round_sha, CAST(len(text) + 28 AS BIGINT) AS enc_len
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** §2.1 #2b — CONTENT-DEFINED chunk split (gear-hash cut-points,
    * the FastCDC family; min 32 / avg ~96 / max 256 bytes to sit on
    * the same ladder as the fixed splitter): boundaries depend on
    * local content, not absolute offsets, so an insertion re-syncs
    * within one chunk and every downstream chunk keeps its content
    * address — the dedup property fixed-size splitting cannot give
    * (reference splits fixed at store/mod.rs:392-457; CDC is the
    * storage-dedup upgrade of that ladder). The gear scan is a
    * codegen kernel emitting chunk lengths map-side; offsets are one
    * doc-keyed running-sum window; hashes are sha2 over binary
    * slices. Rows-only by design (a rolling-hash scan is not one SQL
    * statement); the spec replays the scan exactly and pins coverage
    * + the insertion-resync property.
    */
  def lakeCdcSplit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val payload = col("text").cast(BinaryType)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("part_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    docs(spark, dir)
      .select(col("doc_id"), payload.as("payload"),
        graft.functions.ArrayExprs.gearCdcChunks(payload, 32, 6, 256).as("lens"))
      .select(col("doc_id"), col("payload"), posexplode(col("lens")).as(Seq("part_idx", "part_len")))
      .withColumn("off", coalesce(sum(col("part_len")).over(w), lit(0)).cast(LongType))
      .select(
        col("doc_id"),
        col("part_idx").cast(LongType).as("part_idx"),
        col("off"),
        col("part_len").cast(LongType).as("part_len"),
        sha2(expr("substring(payload, cast(off + 1 as int), part_len)"), 256).as("chunk_hash"),
      )
      .orderBy("doc_id", "part_idx")
  }

  /** §2.1 #9d — replication plan + post-state reconciliation as
    * oracled algebra, the declarative twin of
    * [[graft.lake.ChunkStore.replicateTo]]/`diff` (semantics pinned
    * on real on-disk stores in LakeSpec; this query pins the same
    * rules against DuckDB). Demo topology: store A holds blobs of
    * docs with id%3≠0 (those whose min doc id is ≡0 mod 7 are
    * tombstoned — deleted but not yet gc'd), store B holds id%2=0.
    * Replication ships A's LIVE blobs that B's RAW catalog lacks
    * (tombstoned blobs must not resurrect; B's own tombstone
    * ownership keeps its deletes deleted — the r6 ADVICE rule), then
    * the diff of A-live vs post-replication B classifies every blob.
    * Blob grain is content-hash (duplicate texts collapse, bytes
    * counted once), so `only_here` being structurally EMPTY after
    * replication is the closure property the oracle re-derives.
    *
    * Scale: three hash-grain aggregations and anti/outer joins on the
    * 16-byte content key — the same shuffle shapes as the real
    * replicateTo, no row-level data movement in the report.
    */
  def lakeReplicate(spark: SparkSession, dir: String): DataFrame = {
    val blobs = docs(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h"), octet_length(col("text")).cast(LongType).as("len"))
    def catalog(pred: org.apache.spark.sql.Column): DataFrame =
      blobs.filter(pred).groupBy(col("h"))
        .agg(min(col("doc_id")).as("min_id"), max(col("len")).as("len"))
    val catA = catalog(col("doc_id") % 3 =!= 0)
    val tombA = catA.filter(col("min_id") % 7 === 0).select(col("h"), col("len"))
    val liveA = catA.filter(col("min_id") % 7 =!= 0).select(col("h"), col("len"))
    val catB = catalog(col("doc_id") % 2 === 0).select(col("h"), col("len"))
    val shipped = liveA.join(catB.select("h"), Seq("h"), "left_anti")
    val postB = catB.unionByName(shipped).groupBy(col("h")).agg(max(col("len")).as("len"))
    val status = liveA.select(col("h"), col("len"), lit(1L).as("in_a"))
      .join(postB.select(col("h"), lit(1L).as("in_b")), Seq("h"), "full_outer")
      .select(col("h"),
        when(col("in_a").isNotNull && col("in_b").isNotNull, "in_sync")
          .when(col("in_b").isNull, "only_here").otherwise("only_other").as("status"))
    val report = status.groupBy(col("status")).agg(count(lit(1)).as("n_blobs"))
    val extras = shipped.agg(count(lit(1)).as("n_blobs")).select(lit("shipped").as("status"), col("n_blobs"))
      .unionByName(tombA.join(catB.select("h"), Seq("h"), "left_anti")
        .agg(count(lit(1)).as("n_blobs")).select(lit("suppressed_tombstone").as("status"), col("n_blobs")))
    report.unionByName(extras).filter(col("n_blobs") > 0).orderBy("status")
  }

  val lakeReplicateSql: String =
    """WITH blobs AS (
      |  SELECT doc_id, md5(text) AS h, CAST(strlen(text) AS BIGINT) AS len FROM documents
      |), catA AS (
      |  SELECT h, min(doc_id) AS min_id FROM blobs WHERE doc_id % 3 <> 0 GROUP BY h
      |), liveA AS (SELECT h FROM catA WHERE min_id % 7 <> 0),
      |tombA AS (SELECT h FROM catA WHERE min_id % 7 = 0),
      |catB AS (SELECT h FROM blobs WHERE doc_id % 2 = 0 GROUP BY h),
      |shipped AS (SELECT h FROM liveA WHERE h NOT IN (SELECT h FROM catB)),
      |postB AS (SELECT h FROM catB UNION SELECT h FROM shipped),
      |st AS (
      |  SELECT coalesce(a.h, b.h) AS h,
      |    CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL THEN 'in_sync'
      |         WHEN b.h IS NULL THEN 'only_here' ELSE 'only_other' END AS status
      |  FROM liveA a FULL JOIN postB b ON a.h = b.h
      |), rep AS (
      |  SELECT status, count(*) AS n_blobs FROM st GROUP BY status
      |  UNION ALL
      |  SELECT 'shipped', count(*) FROM shipped
      |  UNION ALL
      |  SELECT 'suppressed_tombstone', count(*)
      |  FROM tombA WHERE h NOT IN (SELECT h FROM catB)
      |)
      |SELECT status, CAST(n_blobs AS BIGINT) AS n_blobs FROM rep WHERE n_blobs > 0
      |ORDER BY status""".stripMargin

  /** §2.1 #9f — GC plan as oracled algebra, the declarative twin of
    * [[graft.lake.ChunkStore.gc]] (the on-disk sweep is pinned in
    * LakeSpec; this query pins the refcount algebra against DuckDB).
    * Same demo universe as [[lakeReplicate]]: blobs at content-hash
    * grain, tombstoned when their min doc id ≡ 0 mod 7. Each blob's
    * payload splits into 256-char chunks (the manifest), and a chunk
    * is reclaimable iff its LIVE reference count is zero — a chunk
    * shared by a tombstoned and a live blob must survive the sweep,
    * which is exactly the invariant naive per-blob deletion violates
    * in a convergent (deduplicating) store. Report: blob and chunk
    * populations with exact byte totals, the "what does gc buy me"
    * numbers read before paying for the sweep.
    *
    * Scale shape: chunking is a map-side explode; the refcount is one
    * groupBy on the chunk hash (map-side combined); blob stats are a
    * 2-row rollup. Identical shuffle shapes to the real gc's
    * live-closure anti-join, no payload movement in the plan.
    */
  def lakeGcPlan(spark: SparkSession, dir: String): DataFrame = {
    val ChunkChars = 256
    val blobs = docs(spark, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(
        min(col("doc_id")).as("min_id"),
        // members of an md5 group carry identical text; max() is just
        // the aggregate-safe way to keep one copy
        max(col("text")).as("text"),
        max(octet_length(col("text"))).cast(LongType).as("bytes"),
      )
      .withColumn("live", col("min_id") % 7 =!= 0)
    val chunks = blobs
      .withColumn("pi",
        explode(sequence(lit(0L), expr(s"greatest((length(text) - 1) div $ChunkChars, 0)"))))
      .select(col("live"),
        md5(expr(s"substring(text, cast(pi * $ChunkChars + 1 as int), $ChunkChars)")).as("chunk_hash"),
        octet_length(expr(s"substring(text, cast(pi * $ChunkChars + 1 as int), $ChunkChars)"))
          .cast(LongType).as("c_bytes"))
    val rc = chunks.groupBy(col("chunk_hash"))
      .agg(max(col("c_bytes")).as("c_bytes"),
        sum(when(col("live"), 1L).otherwise(0L)).as("n_live"))
    val blobRep = blobs.groupBy(col("live"))
      .agg(count(lit(1)).as("n"), sum(col("bytes")).as("bytes"))
      .select(when(col("live"), "a_live_blobs").otherwise("b_tombstoned_blobs").as("status"),
        col("n"), col("bytes"))
    val chunkRep = rc
      .groupBy(when(col("n_live") > 0, "c_retained_chunks").otherwise("d_reclaimable_chunks").as("status"))
      .agg(count(lit(1)).as("n"), sum(col("c_bytes")).as("bytes"))
    blobRep.unionByName(chunkRep).orderBy("status")
  }

  val lakeGcPlanSql: String =
    """WITH blobs AS (
      |  SELECT md5(text) AS h, min(doc_id) AS min_id, max(text) AS text,
      |    CAST(max(strlen(text)) AS BIGINT) AS bytes
      |  FROM documents GROUP BY md5(text)
      |), b2 AS (SELECT *, min_id % 7 <> 0 AS live FROM blobs),
      |parts AS (
      |  SELECT live, text, unnest(range(0, greatest((len(text) - 1) // 256, 0) + 1)) AS pi
      |  FROM b2
      |), chunks AS (
      |  SELECT live, md5(substr(text, CAST(pi * 256 + 1 AS INT), 256)) AS chunk_hash,
      |    CAST(strlen(substr(text, CAST(pi * 256 + 1 AS INT), 256)) AS BIGINT) AS c_bytes
      |  FROM parts
      |), rc AS (
      |  SELECT chunk_hash, max(c_bytes) AS c_bytes,
      |    sum(CASE WHEN live THEN 1 ELSE 0 END) AS n_live
      |  FROM chunks GROUP BY chunk_hash
      |), rep AS (
      |  SELECT CASE WHEN live THEN 'a_live_blobs' ELSE 'b_tombstoned_blobs' END AS status,
      |    count(*) AS n, sum(bytes) AS bytes FROM b2 GROUP BY 1
      |  UNION ALL
      |  SELECT CASE WHEN n_live > 0 THEN 'c_retained_chunks' ELSE 'd_reclaimable_chunks' END,
      |    count(*), sum(c_bytes) FROM rc GROUP BY 1
      |)
      |SELECT status, CAST(n AS BIGINT) AS n, CAST(bytes AS BIGINT) AS bytes
      |FROM rep ORDER BY status""".stripMargin

  /** §2.1 — the [[graft.lake.ChunkStore.fsck]] consistency audit as
    * oracled algebra (the lake_gc_plan treatment): a synthetic store
    * universe is derived from the documents table at content-hash
    * grain — catalog (ladder kind, length, root ref, inline payload),
    * level-0 manifest (256-byte chunk split), chunk set — and TEN
    * deterministic corruptions are planted, each keyed to a disjoint
    * `min_id mod p` class (p prime, so classes overlap rarely and
    * every invariant fires at sf0.01):
    *   - chunks whose hash starts '0' dropped     → manifest_missing_chunks
    *   - sha256("orphan-"+doc_id), id ≡ 0 mod 17  → orphan_chunks
    *   - manifest rows doubled, min_id ≡ 2 mod 19 → duplicate_manifest_rows
    *   - chunk rows doubled, hash starts 'f'      → duplicate_chunks
    *   - manifests dropped, min_id ≡ 3 mod 23     → catalog_without_manifest
    *   - catalog rows dropped, min_id ≡ 4 mod 29  → manifest_without_catalog
    *   - total_len inflated +1, min_id ≡ 5 mod 31 → blob_length_mismatch
    *   - inline payload nulled, min_id ≡ 6 mod 11 → inline_missing_payload
    *   - root ref nulled, min_id ≡ 7 mod 37       → chunked_missing_root
    *   - tree_depth over-recorded +1, ≡ 8 mod 41  → catalog_tree_depth_mismatch
    * The report runs through the EXACT static audit a real store runs
    * ([[graft.lake.ChunkStore.fsckReport]] — one multi-way
    * aggregation pass that scans each input relation exactly once),
    * and DuckDB replays universe + algebra. The on-disk audit
    * against real healthy/corrupted stores stays pinned in LakeSpec;
    * this query pins the algebra's COUNTS against an independent
    * engine. Root refs in the synthetic catalog point at the part-0
    * chunk (fsck treats root_hash purely as a chunk reference, which
    * part-0 satisfies; real tree roots are node chunks).
    */
  def lakeFsck(spark: SparkSession, dir: String): DataFrame = {
    val ChunkChars = 256
    // r17: fsckReport is now a single multi-way aggregation pass that
    // references each input exactly ONCE (was manifest ×6 / chunks ×3
    // / catalog ×5), and the planted duplications below are emitted by
    // explode-duplication in one scan instead of unionAll self-reads.
    // That leaves the expensive derivations referenced only twice
    // (manifest0: manifest + chunk branches) / thrice (blobs), so the
    // r16 eager localCheckpoints (non-replayable, memory-pinned —
    // VERDICT r16 hazard) are replaced by plain disk-backed persists
    // materialized once: replayable lineage, spills instead of
    // pinning, dropped by the bench's clearCache between queries.
    val blobs = docs(spark, dir)
      .groupBy(sha2(col("text"), 256).as("blob_hash"))
      .agg(
        min(col("doc_id")).as("min_id"),
        max(col("text")).as("text"),
        max(octet_length(col("text"))).cast(LongType).as("true_len"),
      )
      .withColumn("kind", ChunkStore.kindOf(col("true_len"), P))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val catalog = blobs
      .filter(col("min_id") % 29 =!= 4)
      .select(
        col("blob_hash"), col("kind"),
        (col("true_len") +
          when(col("min_id") % 31 === 5 && col("kind") =!= "inline", 1L).otherwise(0L))
          .as("total_len"),
        when(col("kind") === "inline" && col("min_id") % 11 =!= 6, col("text"))
          .otherwise(lit(null).cast(StringType)).as("inline_data"),
        when(col("kind") =!= "inline" && col("min_id") % 37 =!= 7,
          sha2(expr(s"substring(text, 1, $ChunkChars)"), 256))
          .otherwise(lit(null).cast(StringType)).as("root_hash"),
        // the synthetic manifest is flat (all level 0), so the true
        // depth is 0 everywhere; over-record by 1 in the planted class
        when(col("kind") =!= "inline" && col("min_id") % 41 === 8, lit(1))
          .otherwise(lit(0)).as("tree_depth"),
      )
    val manifest0 = blobs
      .filter(col("kind") =!= "inline")
      .withColumn("part_idx",
        explode(sequence(lit(0L), expr(s"(true_len + ${ChunkChars - 1}) DIV $ChunkChars") - 1)))
      .withColumn("part",
        expr(s"substring(text, cast(part_idx * $ChunkChars + 1 as int), $ChunkChars)"))
      .select(col("blob_hash"), col("min_id"), lit(0).as("level"), col("part_idx"),
        octet_length(col("part")).cast(LongType).as("part_len"),
        sha2(col("part"), 256).as("chunk_hash"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the two persisted derivations once, eagerly, so the
    // aggregate's concurrent union branches read the cache instead of
    // racing to compute it
    manifest0.write.format("noop").mode("overwrite").save()
    // duplicate-manifest corruption: kept rows in the min_id ≡ 2 mod 19
    // class are emitted twice (multiset-identical to the old
    // mKept ∪ mKept.filter(...) self-union, in one scan)
    val manifest = manifest0.filter(col("min_id") % 23 =!= 3)
      .withColumn("copy",
        explode(sequence(lit(1), when(col("min_id") % 19 === 2, 2).otherwise(1))))
      .drop("min_id", "copy")
    // duplicate-chunk corruption: same trick on the distinct chunk set
    val chunks = manifest0.select(col("chunk_hash")).distinct()
      .filter(substring(col("chunk_hash"), 1, 1) =!= "0")
      .withColumn("copy",
        explode(sequence(lit(1),
          when(substring(col("chunk_hash"), 1, 1) === "f", 2).otherwise(1))))
      .select(col("chunk_hash"))
      .unionAll(docs(spark, dir).filter(col("doc_id") % 17 === 0)
        .select(sha2(concat(lit("orphan-"), col("doc_id").cast(StringType)), 256).as("chunk_hash")))
    ChunkStore.fsckReport(manifest, chunks, catalog)
  }

  val lakeFsckSql: String =
    """WITH blobs AS (
      |  SELECT sha256(text) AS blob_hash, min(doc_id) AS min_id, max(text) AS text,
      |    CAST(max(strlen(text)) AS BIGINT) AS true_len
      |  FROM documents GROUP BY sha256(text)
      |), b2 AS (
      |  SELECT *, CASE WHEN true_len <= 64 THEN 'inline'
      |                 WHEN true_len <= 256 THEN 'single' ELSE 'tree' END AS kind
      |  FROM blobs
      |), cat AS (
      |  SELECT blob_hash, kind,
      |    true_len + (CASE WHEN min_id % 31 = 5 AND kind <> 'inline' THEN 1 ELSE 0 END) AS total_len,
      |    CASE WHEN kind = 'inline' AND min_id % 11 <> 6 THEN text END AS inline_data,
      |    CASE WHEN kind <> 'inline' AND min_id % 37 <> 7 THEN sha256(substring(text, 1, 256)) END AS root_hash,
      |    CASE WHEN kind <> 'inline' AND min_id % 41 = 8 THEN 1 ELSE 0 END AS tree_depth
      |  FROM b2 WHERE min_id % 29 <> 4
      |), m0 AS (
      |  SELECT blob_hash, min_id, part_idx,
      |    CAST(strlen(substring(text, CAST(part_idx * 256 + 1 AS INT), 256)) AS BIGINT) AS part_len,
      |    sha256(substring(text, CAST(part_idx * 256 + 1 AS INT), 256)) AS chunk_hash
      |  FROM (SELECT blob_hash, min_id, text,
      |          unnest(range((true_len + 255) // 256)) AS part_idx
      |        FROM b2 WHERE kind <> 'inline')
      |), mkept AS (SELECT * FROM m0 WHERE min_id % 23 <> 3),
      |m AS (
      |  SELECT blob_hash, 0 AS level, part_idx, part_len, chunk_hash FROM mkept
      |  UNION ALL
      |  SELECT blob_hash, 0 AS level, part_idx, part_len, chunk_hash FROM mkept WHERE min_id % 19 = 2
      |), ckept AS (
      |  SELECT DISTINCT chunk_hash FROM m0 WHERE substring(chunk_hash, 1, 1) <> '0'
      |), c AS (
      |  SELECT chunk_hash FROM ckept
      |  UNION ALL SELECT chunk_hash FROM ckept WHERE substring(chunk_hash, 1, 1) = 'f'
      |  UNION ALL SELECT sha256('orphan-' || CAST(doc_id AS VARCHAR)) FROM documents WHERE doc_id % 17 = 0
      |), refs AS (
      |  SELECT DISTINCT chunk_hash FROM (
      |    SELECT chunk_hash FROM m
      |    UNION ALL SELECT root_hash FROM cat WHERE root_hash IS NOT NULL)
      |), rep AS (
      |  SELECT 'manifest_missing_chunks' AS chk, count(*) AS violations
      |    FROM m WHERE chunk_hash NOT IN (SELECT chunk_hash FROM c)
      |  UNION ALL
      |  SELECT 'orphan_chunks', count(*) FROM (
      |    SELECT DISTINCT chunk_hash FROM c) d
      |    WHERE d.chunk_hash NOT IN (SELECT chunk_hash FROM refs)
      |  UNION ALL
      |  SELECT 'duplicate_manifest_rows', count(*) FROM (
      |    SELECT blob_hash, part_idx FROM m GROUP BY blob_hash, part_idx HAVING count(*) > 1)
      |  UNION ALL
      |  SELECT 'duplicate_chunks', count(*) FROM (
      |    SELECT chunk_hash FROM c GROUP BY chunk_hash HAVING count(*) > 1)
      |  UNION ALL
      |  SELECT 'catalog_without_manifest', count(*) FROM cat
      |    WHERE kind <> 'inline' AND blob_hash NOT IN (SELECT DISTINCT blob_hash FROM m)
      |  UNION ALL
      |  SELECT 'manifest_without_catalog', count(*) FROM (
      |    SELECT DISTINCT blob_hash FROM m) d
      |    WHERE d.blob_hash NOT IN (SELECT blob_hash FROM cat)
      |  UNION ALL
      |  SELECT 'blob_length_mismatch', count(*) FROM cat
      |    JOIN (SELECT blob_hash, sum(part_len) AS plen FROM (
      |            SELECT DISTINCT blob_hash, part_idx, part_len FROM m)
      |          GROUP BY blob_hash) p USING (blob_hash)
      |    WHERE cat.kind <> 'inline' AND p.plen <> cat.total_len
      |  UNION ALL
      |  SELECT 'inline_missing_payload', count(*) FROM cat
      |    WHERE kind = 'inline' AND inline_data IS NULL
      |  UNION ALL
      |  SELECT 'chunked_missing_root', count(*) FROM cat
      |    WHERE kind <> 'inline' AND root_hash IS NULL
      |  UNION ALL
      |  SELECT 'catalog_tree_depth_mismatch', count(*) FROM cat
      |    JOIN (SELECT blob_hash, max(level) AS actual_depth FROM m GROUP BY blob_hash) md
      |      USING (blob_hash)
      |    WHERE cat.kind <> 'inline' AND coalesce(cat.tree_depth, -1) <> md.actual_depth
      |)
      |SELECT chk AS "check", CAST(violations AS BIGINT) AS violations
      |FROM rep ORDER BY chk""".stripMargin

  /** Tiny ladder for the deep-tree point-read demo: 128-byte chunks
    * and fanout 8 force every multi-KB blob into a depth ≥ 2 LongHkey
    * tree at all test SFs (production would be 1 MiB / 4096 — the
    * DEPTH arithmetic, not the constants, is what the query times).
    */
  private val TreeP = LakeParams(inlineMax = 32, chunkMax = 128, nBuckets = 16, treeFanout = 8)

  private val treeStoreLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]
  private val treeStoreDone = java.util.concurrent.ConcurrentHashMap.newKeySet[String]

  /** The 8 deterministic demo blobs: each doc_id mod 8 class's texts,
    * newline-joined in doc_id order — multi-KB payloads (≈150 parts
    * each at sf0.1) that exercise the recursive manifest for real.
    */
  private def treePayloads(spark: SparkSession, dir: String): DataFrame =
    docs(spark, dir)
      .groupBy((col("doc_id") % 8).as("g"))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("doc_id"), col("text")))),
          e => e.getField("text")),
        "\n").cast(BinaryType).as("data"))

  /** Deep-tree store, built ONCE per (session, corpus) into sha-keyed
    * scratch with an atomic tmp→dst rename (the ivfIndexTable idiom)
    * so repeat calls and the bench pay only the read.
    */
  private[graft] def treeStore(spark: SparkSession, dir: String): ChunkStore = {
    val dirKey = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString
    val path = s"${graft.sources.Ingest.scratchDir(spark)}/tree_store_$dirKey"
    val lock = treeStoreLocks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      if (!treeStoreDone.contains(path)) {
        val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
        val dst = new org.apache.hadoop.fs.Path(path)
        val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(tmp)) fs.delete(tmp, true)
        val building = ChunkStore.init(spark, tmp.toString, params = TreeP)
        building.putBlobs(treePayloads(spark, dir).select(col("data")))
        if (fs.exists(dst)) fs.delete(dst, true)
        if (!fs.rename(tmp, dst))
          throw new java.io.IOException(s"treeStore: rename $tmp -> $dst failed")
        treeStoreDone.add(path)
      }
    }
    ChunkStore.load(spark, path, readonly = true, params = TreeP)
  }

  /** Single-chunk params for the fleet-planner demo store: chunkMax
    * far above every doc, so each non-inline blob is ONE chunk and no
    * manifest tree exists — making the REAL store's chunk-liveness
    * arithmetic exactly replayable by DuckDB without modelling node
    * chunks or convergent ciphertexts (counts only, no hash replay).
    */
  private val MaintP = LakeParams(inlineMax = 64, chunkMax = 1L << 20, nBuckets = 64)
  private val maintStoreLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]
  private val maintStoreDone = java.util.concurrent.ConcurrentHashMap.newKeySet[String]

  /** Degraded demo store for the fleet planner, built ONCE per
    * (session, corpus): every distinct document text put as a blob,
    * then every blob whose min doc_id ≡ 0 mod 3 tombstoned (≈⅓ of
    * chunks stranded — above the 30% reclaim threshold).
    */
  private[graft] def maintStorePath(spark: SparkSession, dir: String): String = {
    val dirKey = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString
    val path = s"${graft.sources.Ingest.scratchDir(spark)}/maint_store_$dirKey"
    val lock = maintStoreLocks.computeIfAbsent(path, _ => new Object)
    lock.synchronized {
      if (!maintStoreDone.contains(path)) {
        val tmp = new org.apache.hadoop.fs.Path(path + ".tmp")
        val dst = new org.apache.hadoop.fs.Path(path)
        val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(tmp)) fs.delete(tmp, true)
        val building = ChunkStore.init(spark, tmp.toString, params = MaintP)
        val blobs = docs(spark, dir)
          .groupBy(col("text")).agg(min(col("doc_id")).as("min_id"))
        building.putBlobs(blobs.select(col("text").cast(BinaryType).as("data")))
        val dead = blobs.filter(col("min_id") % 3 === 0)
          .select(sha2(col("text"), 256)).collect().map(_.getString(0)).toSeq
        building.deleteBlobs(dead)
        if (fs.exists(dst)) fs.delete(dst, true)
        if (!fs.rename(tmp, dst))
          throw new java.io.IOException(s"maintStore: rename $tmp -> $dst failed")
        maintStoreDone.add(path)
      }
    }
    path
  }

  /** §2.1 #9m — the FLEET maintenance planner as an oracled query:
    * [[graft.lake.Lake.maintenanceReport]] over a two-mount lake — the
    * SAME degraded physical store mounted writable and readonly (the
    * writer + read-replica pattern), so one build serves both rows and
    * the planner's readonly routing is observable: identical liveness
    * metrics, `reclaim` for the writable mount, `read_only` for the
    * replica. The fragmentation trigger is disabled for this query
    * (physical file counts depend on task scheduling — not
    * oracle-replayable; the file-side planner behavior stays pinned
    * on real stores in Round21/22 specs), so the oracled half is the
    * chunk-liveness arithmetic the gc/reclaim decision runs on, from
    * a REAL ChunkStore through the REAL planner code.
    */
  def lakeMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val path = maintStorePath(spark, dir)
    val lake = Lake.init(spark, LakeConfig(Seq(
      StoreEntry(path), StoreEntry(path, readonly = true))), MaintP)
    lake.maintenanceReport(maxFilesPerBucketMilli = Long.MaxValue)
      .select(
        when(col("readonly"), "b_readonly_replica").otherwise("a_writable").as("mount"),
        col("readonly"),
        col("n_chunks"), col("n_dead_chunks"), col("dead_ppm"), col("recommend"))
      .orderBy("mount")
  }

  val lakeMaintenanceSql: String =
    """WITH blobs AS (
      |  SELECT text, min(doc_id) AS min_id, max(strlen(text)) AS len
      |  FROM documents GROUP BY text
      |), cl AS (
      |  SELECT len > 64 AS chunked, min_id % 3 = 0 AS dead FROM blobs
      |), m AS (
      |  SELECT CAST(count(*) FILTER (chunked) AS BIGINT) AS n_chunks,
      |    CAST(count(*) FILTER (chunked AND dead) AS BIGINT) AS n_dead_chunks
      |  FROM cl
      |), r AS (
      |  SELECT n_chunks, n_dead_chunks,
      |    CAST(n_dead_chunks * 1000000 // n_chunks AS BIGINT) AS dead_ppm
      |  FROM m
      |)
      |SELECT 'a_writable' AS mount, false AS readonly, n_chunks, n_dead_chunks, dead_ppm,
      |  CASE WHEN dead_ppm > 300000 THEN 'reclaim' ELSE 'none' END AS recommend
      |FROM r
      |UNION ALL
      |SELECT 'b_readonly_replica', true, n_chunks, n_dead_chunks, dead_ppm,
      |  CASE WHEN dead_ppm > 300000 THEN 'read_only' ELSE 'none' END
      |FROM r
      |ORDER BY mount""".stripMargin

  /** §2.1 — point reads through the RECURSIVE manifest tree
    * ([[graft.lake.ChunkStore.getBlobsByHashes]], the reference's
    * LongHkey expansion): three of the eight demo blobs are fetched by
    * content address, walking root → node → leaf with literal
    * (bucket, hash) predicates so every chunk scan statically prunes
    * to its hash-prefix partitions — the walk reads O(log_fanout n)
    * pruned pages, never the chunk table (`lake_get_blob` times the
    * complementary FLAT bulk reassembly). Report: (blob_hash,
    * total_len, verified) per fetched blob. The oracle recomputes the
    * same three payloads directly from the documents table — if any
    * level of the walk or the final reassembly broke, hash, length,
    * and the verify-on-read flag all diverge. The store build is
    * amortized once per (session, corpus); steady-state cost is the
    * walk itself. Round20OpsSpec pins the bucket-partition pruning in
    * the executed plan and depth ≥ 2 of the walked trees.
    */
  def lakeTreeGet(spark: SparkSession, dir: String): DataFrame = {
    val store = treeStore(spark, dir)
    val want = treePayloads(spark, dir)
      .filter(col("g").isin(0L, 3L, 6L))
      .select(sha2(col("data"), 256).as("h"))
      .collect().map(_.getString(0)).toSeq.sorted
    store.getBlobsByHashes(want)
      .select(col("blob_hash"),
        octet_length(col("data")).cast(LongType).as("total_len"),
        col("verified"))
      .orderBy("blob_hash")
  }

  /** §2.1 — scheduled payload scrub ([[graft.lake.ChunkStore.scrub]])
    * over the session's deep-tree demo store: every at-rest chunk
    * payload (leaf AND tree-node, ciphertext and raw alike) re-hashed
    * against its content address in one map-side scan — bit rot,
    * truncation, misfiled buckets (a chunk every pruned point read
    * would MISS while a full scan still sees it), and null payload
    * cells, each as a violation count next to `scanned_chunks`. The
    * structural audit is `lake_fsck`; this is the bytes-at-rest half
    * an object store runs on a schedule. Rows-only by design (the
    * chunk population includes engine-internal tree-node blobs);
    * Round20OpsSpec pins all-zero health here and plants bit-flip /
    * misfile / truncation / null corruption in a scratch store and
    * asserts each lands in exactly its own counter.
    */
  def lakeScrub(spark: SparkSession, dir: String): DataFrame =
    treeStore(spark, dir).scrub()

  val lakeTreeGetSql: String =
    """WITH grp AS (
      |  SELECT doc_id % 8 AS g, string_agg(text, chr(10) ORDER BY doc_id) AS data
      |  FROM documents GROUP BY doc_id % 8
      |)
      |SELECT sha256(data) AS blob_hash,
      |       CAST(strlen(data) AS BIGINT) AS total_len,
      |       TRUE AS verified
      |FROM grp WHERE g IN (0, 3, 6)
      |ORDER BY blob_hash""".stripMargin

  /** Byte offset at which [[lakeDeltaSync]] plants its v2 edit. */
  val DeltaEditOffset = 64

  /** §2.1 — rsync-style delta-sync plan over CDC chunks: for each
    * blob, version 2 is version 1 with a patch string inserted at
    * byte [[DeltaEditOffset]]; both versions are content-defined
    * chunked ([[lakeCdcSplit]]'s gear scan) and the plan reports what
    * an incremental replication would actually ship — new chunks vs
    * chunks the destination already holds by content address. This is
    * the quantitative payoff of CDC over fixed-size splitting: the
    * insertion shifts every downstream byte, yet boundaries re-sync
    * within one chunk and the tail chunks keep their hashes, so
    * bytes_new ≪ bytes_total for any blob larger than a few chunks.
    *
    * Scale shape: both chunkings are the map-side gear kernel + one
    * doc-partitioned running-sum window each; the reuse check is an
    * equi-join on (doc_id, chunk_hash) — co-keyed, no data movement
    * beyond the chunk-metadata shuffle; payload bytes never leave the
    * map side. Rows-only by design (the gear scan is not one SQL
    * statement); the ScalaTest oracle replays both chunkings exactly.
    */
  def lakeDeltaSync(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def chunks(payloadExpr: org.apache.spark.sql.Column): DataFrame = {
      val w = Window.partitionBy(col("doc_id")).orderBy(col("part_idx"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
      docs(spark, dir)
        .filter(octet_length(col("text")) > 0)
        .select(col("doc_id"), payloadExpr.as("payload"),
          graft.functions.ArrayExprs.gearCdcChunks(payloadExpr, 32, 6, 256).as("lens"))
        .select(col("doc_id"), col("payload"),
          posexplode(col("lens")).as(Seq("part_idx", "part_len")))
        .withColumn("off", coalesce(sum(col("part_len")).over(w), lit(0)).cast(LongType))
        .select(col("doc_id"), col("part_len").cast(LongType).as("part_len"),
          sha2(expr("substring(payload, cast(off + 1 as int), part_len)"), 256).as("chunk_hash"))
    }
    val v1 = chunks(col("text").cast(BinaryType))
    val v2 = chunks(
      expr(s"CAST(concat(substring(text, 1, $DeltaEditOffset), ' patched-at-v2 ', substring(text, ${DeltaEditOffset + 1})) AS BINARY)"))
    val have = v1.select(col("doc_id"), col("chunk_hash")).distinct()
    v2.join(have.withColumn("reused", lit(true)), Seq("doc_id", "chunk_hash"), "left")
      .withColumn("reused", coalesce(col("reused"), lit(false)))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks_v2"),
        sum(when(col("reused"), 1L).otherwise(0L)).as("n_reused"),
        sum(col("part_len")).as("bytes_total"),
        sum(when(!col("reused"), col("part_len")).otherwise(0L)).as("bytes_new"),
      )
      .withColumn("reuse_ppm",
        expr("((bytes_total - bytes_new) * 1000000) div bytes_total"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "lake_delta_sync" -> (lakeDeltaSync _),
    "lake_fsck" -> (lakeFsck _),
    "lake_scrub" -> (lakeScrub _),
    "lake_tree_get" -> (lakeTreeGet _),
    "lake_maintenance" -> (lakeMaintenance _),
    "lake_gc_plan" -> (lakeGcPlan _),
    "lake_replicate" -> (lakeReplicate _),
    "lake_cdc_split" -> (lakeCdcSplit _),
    "lake_put_blob" -> (lakePutBlob _),
    "lake_chunk_split" -> (lakeChunkSplit _),
    "lake_dedup_stats" -> (lakeDedupStats _),
    "lake_get_blob" -> (lakeGetBlob _),
    "lake_preflight" -> (lakeJoinPreflight _),
    "lake_bucket_hist" -> (lakeBucketHist _),
    "lake_rebalance" -> (lakeRebalance _),
    "lake_rebalance_exec" -> (lakeRebalanceExec _),
    "lake_compact_exec" -> (lakeCompactExec _),
    "lake_convergent" -> (lakeConvergent _),
  )

  val oracles: Map[String, String] = Map(
    "lake_fsck" -> lakeFsckSql,
    "lake_tree_get" -> lakeTreeGetSql,
    "lake_maintenance" -> lakeMaintenanceSql,
    "lake_gc_plan" -> lakeGcPlanSql,
    "lake_replicate" -> lakeReplicateSql,
    "lake_put_blob" -> lakePutBlobSql,
    "lake_chunk_split" -> lakeChunkSplitSql,
    "lake_dedup_stats" -> lakeDedupStatsSql,
    "lake_get_blob" -> lakeGetBlobSql,
    "lake_preflight" -> lakeJoinPreflightSql,
    "lake_bucket_hist" -> lakeBucketHistSql,
    "lake_rebalance" -> lakeRebalanceSql,
    "lake_rebalance_exec" -> lakeRebalanceExecSql,
    "lake_compact_exec" -> lakeCompactExecSql,
    "lake_convergent" -> lakeConvergentSql,
  )
}
