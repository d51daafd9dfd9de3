package graft.lake

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Errors mirroring the reference's DataLakeError variants
  * (error.rs:5-52), as exceptions since DataFrame pipelines are
  * eager-failing at action time anyway.
  */
final class StoreReadOnlyException(path: String)
    extends RuntimeException(s"store is read-only: $path")
final class StoreOutOfSpaceException(path: String)
    extends RuntimeException(s"store is out of space: $path")
final class StoreLockedException(path: String, holder: String)
    extends RuntimeException(s"store is locked by another writer ($holder): $path")
final class LakeOutOfStoresException(cause: Throwable = null)
    extends RuntimeException("lake is out of writable stores", cause)
final class InvalidMagicException(path: String)
    extends RuntimeException(s"not a graft store (bad magic): $path")
final class BlobNotFoundException(hash: String)
    extends RuntimeException(s"blob not found: $hash")

/** Size-ladder / layout parameters.
  *
  * The reference's ladder (store/mod.rs:430-457): raw-inline below
  * MAX_SIZE_RAW, single encrypted chunk below MAX_DECRYPTED_SIZE,
  * recursive chunk tree (LongHkey) above. `treeFanout` = manifest
  * entries per tree node (the analog of how many part keys fit in one
  * stored LongHkey blob). Defaults here are test-scale; production
  * would use e.g. (256, 1 MiB, 1024 buckets, 4096 fanout).
  */
final case class LakeParams(
    inlineMax: Long = 64L,
    chunkMax: Long = 256L,
    nBuckets: Int = 64,
    treeFanout: Int = 64,
) { require(treeFanout >= 2, "treeFanout must be >= 2") }

object LakeParams {
  /** Reference-parity sizing (helpers/sieve.rs:4 `get_le_prime`): the
    * bucket count derived as the largest prime at or below
    * `indexSize`, the rule the reference applies to its hash index.
    * Optional here — hash-prefix partitioning is uniform under any
    * modulus — but a user porting a reference config gets the same
    * bucket count they had.
    */
  def primeBuckets(indexSize: Int, base: LakeParams = LakeParams()): LakeParams =
    base.copy(nBuckets = Sieve.getLePrime(indexSize))
}

/** A content-addressed, convergently-encrypted chunk store
  * re-expressed Spark-first.
  *
  * Reference analog: one `DataStore` (store/mod.rs) — an mmap'd flat
  * file with a hash index and bump-allocated pages. Here instead:
  *
  *  - `chunks/` — parquet partitioned by `bucket` (the index-modulo
  *    analog, store/mod.rs:252-257): `get(hash)` prunes to a single
  *    hash-prefix partition instead of probing an index, which at
  *    100 TB means a 1/nBuckets partition read, and chunk writes
  *    distribute uniformly with no coordinator. Payloads are stored
  *    deflate-compressed + AES-GCM encrypted with a key derived from
  *    the plaintext (convergent; reference put_chunk → chunk.encrypt(),
  *    store/mod.rs:399-417), falling back to the raw bytes when the
  *    ciphertext would be larger (store/mod.rs:380-385). The chunk is
  *    addressed by the hash of what is actually stored, so dedup
  *    still works across writers (identical plaintext → identical
  *    ciphertext).
  *  - `manifest/` — the LongHkey tree, one row per (level, part):
  *    level 0 rows are data parts carrying the per-part decryption
  *    key (the reference's Hkey::Encrypted(hash, key)); level k > 0
  *    rows are manifest *nodes* — the manifest itself is chunked
  *    recursively in groups of `treeFanout` until a single root
  *    remains (LongHkeyExpanded::from_blob → shrink,
  *    store/mod.rs:419-426).
  *  - `catalog/` — one row per blob: hash, length, kind
  *    (inline|single|tree), inline payload for tiny blobs (the
  *    reference's raw Hkey, which embeds data in the key itself),
  *    and the tree root (hash, key, bucket, depth).
  *  - `tombstones/` — the hashes of deleted blobs ([[deleteBlobs]]).
  *  - `_GRAFT_STORE` — the magic marker (store/mod.rs MAGIC +
  *    lake/util.rs verify_magic). All paths go through Hadoop's
  *    FileSystem, so hdfs:///s3a:// store dirs work like local ones.
  *
  * The four tables form a generation. Generation 0 lives at the store
  * root. Puts and deletes append to the current generation; [[gc]] and
  * [[compact]] never rewrite one in place, they write the next one,
  * `gen-<n>/` with the same four tables in the compacted layout (gc
  * keeps only what is live, compact everything), and publish it
  * with one directory rename (the snapshot commit of a table format
  * such as Delta or Iceberg, without the dependency). Every operation
  * resolves the current generation once, from one listing of the root,
  * and reads only that one, so a reader never sees a half-written
  * store: it sees the generation before a rewrite or the one after.
  * A rewrite keeps the generation it replaced, so a reader that
  * resolved it finishes; the rewrite after that deletes it.
  *
  * A put is two steps. [[ChunkStore.stage]] does the content work,
  * which depends on [[LakeParams]] alone: ladder, parts, convergent
  * encryption, manifest tree. It runs once per put, outside any lock,
  * however many stores a [[Lake]] offers the batch to. [[commit]] does
  * this store's work under its write lock: dedup against its catalog
  * and chunks, the capacity gate, the appends. [[replicateTo]] feeds
  * the same commit.
  *
  * A store's reads are the one-store case of a [[Lake]]'s: the same
  * point read ([[ChunkStore.read]]) and bulk read
  * ([[ChunkStore.readAll]]), under the one read rule stated beside
  * [[ChunkStore.resolve]]. A point read or a delete first resolves its
  * hashes to live catalog rows with one probe job.
  *
  * Write order is chunks → manifest → catalog: a blob becomes visible
  * only once fully written, so a failed-and-retried put (the normal
  * streaming foreachBatch failure mode) re-runs idempotently — chunk
  * appends are anti-joined away, and any manifest rows the failed
  * attempt left behind are dropped on read by the assembly, which takes
  * each blob's parts as a set, and surfaced by [[fsck]]. Writers,
  * rewrites included, hold the store's write lock (the reference's
  * single-writer guard, store/atomic.rs).
  */
final class ChunkStore private (
    val spark: SparkSession,
    val path: String,
    val readonly: Boolean,
    val maxBytes: Long,
    val params: LakeParams,
    lockTtlMs: Long = ChunkStore.LockTtlMs,
) {
  import ChunkStore._

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private lazy val fs: FileSystem = new HPath(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def rowsOf(schema: StructType, rows: Row*): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The directory of generation `n`: the store root for generation 0. */
  private def genDir(n: Long): String = if (n == 0) path else s"$path/$GenPrefix$n"

  /** The generation readers and writers see now, from one listing of
    * the store root: the highest published `gen-<n>`, or generation 0
    * when there is none. Resolved once per operation and never cached,
    * since another handle may publish. A writable handle refuses a store
    * that holds the debris of the per-table swap earlier graft versions
    * ran for gc and compact: there a table may sit renamed aside, and
    * writing on would lose it.
    */
  private def current(): Generation = {
    def dirs(p: String) = fs.listStatus(new HPath(p)).filter(_.isDirectory).map(_.getPath.getName).toSet
    val root = dirs(path)
    val debris = root.intersect(SwapDebris)
    if (!readonly && debris.nonEmpty)
      throw new IllegalStateException(s"$path holds an interrupted table swap (${debris.toSeq.sorted.mkString(", ")}) " +
        "of an earlier graft version; open it writable once with that version, which recovers it, before using this one")
    root.flatMap(genOf).maxOption.fold(new Generation(0, root))(n => new Generation(n, dirs(genDir(n))))
  }

  /** One generation's tables, as one operation reads them: each table
    * is listed at most once, a missing one reads as empty.
    */
  private final class Generation(val n: Long, tables: Set[String]) {
    val dir: String = genDir(n)
    def has(table: String): Boolean = tables(table)
    private def read(table: String, schema: StructType) =
      if (has(table)) spark.read.schema(schema).parquet(s"$dir/$table") else rowsOf(schema)
    lazy val bucketDirs: Seq[HPath] =
      if (!has("chunks")) Seq.empty
      else fs.listStatus(new HPath(s"$dir/chunks")).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("bucket=")).map(_.getPath).sortBy(_.getName)
    lazy val chunks: DataFrame = readChunks(dir, bucketDirs)
    lazy val manifest: DataFrame = read("manifest", manifestSchema)
    lazy val catalog: DataFrame = read("catalog", catalogSchema)
    lazy val tombstones: DataFrame = read("tombstones", tombstoneSchema)
    def liveCatalog: DataFrame = catalog.join(tombstones, Seq("blob_hash"), "left_anti")

    /** What the store keeps alive: the live catalog, the live blobs'
      * manifest rows with replayed duplicates dropped, and the chunks
      * those rows reference, each once. Shared chunks of deleted blobs
      * stay as long as a live blob references them.
      */
    def live: (DataFrame, DataFrame, DataFrame) = {
      val cat = liveCatalog
      val man = manifest
        .dropDuplicates("blob_hash", "level", "part_idx")
        .join(cat.select("blob_hash"), Seq("blob_hash"), "left_semi")
      val chk = chunks
        .dropDuplicates("chunk_hash")
        .join(man.select("chunk_hash").distinct(), Seq("chunk_hash"), "left_semi")
      (cat, man, chk)
    }
  }

  /** The store's tables, over the generation current at the call. A
    * returned frame keeps reading that generation, which stays on disk
    * until the second [[gc]] or [[compact]] after the call.
    */
  def chunks: DataFrame = current().chunks
  def manifest: DataFrame = current().manifest
  def catalog: DataFrame = current().catalog
  def tombstones: DataFrame = current().tombstones

  /** [[chunks]], [[manifest]] and [[catalog]] by name, over one
    * generation: the tables [[LakeCatalog.register]] shows.
    */
  private[lake] def views: Seq[(String, DataFrame)] = {
    val g = current()
    Seq("chunks" -> g.chunks, "manifest" -> g.manifest, "catalog" -> g.catalog)
  }

  /** catalog minus tombstoned blobs — what readers see. Deletes are
    * two-phase (content-addressed chunks are shared, so nothing can be
    * dropped eagerly): [[deleteBlobs]] tombstones, [[gc]] reclaims.
    */
  def liveCatalog: DataFrame = current().liveCatalog

  /** Bytes currently stored (at-rest chunk payloads + inline payloads). */
  def currentBytes: Long = totals._1

  /** What the current generation holds, as (bytes, blobs, chunks), in
    * one aggregate: [[currentBytes]], the raw catalog's rows (tombstoned
    * blobs included) and the chunk table's rows.
    */
  private[lake] def totals: (Long, Long, Long) = {
    val g = current()
    tally(holdings(g.chunks, g.catalog, added = true))
  }

  /** (bytes, blobs, chunks) rows: the at-rest size of each of
    * `chunkRows` and one chunk per row, the inline payload of each of
    * `catalogRows` and, when `added`, one blob per catalog row.
    */
  private def holdings(chunkRows: DataFrame, catalogRows: DataFrame, added: Boolean): DataFrame =
    chunkRows.select(col("size").as("bytes"), lit(0L).as("blobs"), lit(1L).as("chunks")).unionByName(catalogRows.select(
      when(col("kind") === "inline", octet_length(col("inline_data"))).otherwise(lit(0)).cast(LongType).as("bytes"),
      lit(if (added) 1L else 0L).as("blobs"), lit(0L).as("chunks")))

  /** Total bytes, blobs and chunks of `holdings` frames, in one aggregate. */
  private def tally(holdings: DataFrame*): (Long, Long, Long) = {
    val Seq(bytes, blobs, chunks) = Seq("bytes", "blobs", "chunks").map(c => coalesce(sum(col(c)), lit(0L)))
    val r = holdings.reduce(_ unionByName _).agg(bytes, blobs, chunks).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Stores every blob in `blobs` (column `data`: binary): one
    * [[ChunkStore.stage]] of the batch, then one [[commit]] here, then
    * the summary of the blobs asked for. Content-addressed:
    * already-present blobs and chunks are skipped (idempotent put,
    * store/mod.rs:330-344), and a blob deleted here and put again
    * before [[gc]] is live again.
    */
  def putBlobs(blobs: DataFrame): PutResult = {
    if (readonly) throw new StoreReadOnlyException(path)
    val staged = stage(blobs, Seq(this))
    try { commit(staged); staged.summary }
    finally staged.release()
  }

  /** The store half of every write of blobs: a put's and
    * [[replicateTo]]'s. Under the write lock it keeps the staged blobs
    * this store's raw catalog lacks, their manifest rows, and those of
    * their chunks this store lacks. It refuses the batch before any
    * write when that would take a bounded store past `maxBytes`
    * (reference: DataStoreOutOfSpace), then appends chunks → manifest →
    * catalog, each row placed by this store's bucket count. Last, for a
    * put, it lifts this store's tombstones on the staged blobs: a blob
    * tombstoned here is not live here, so the staging always covers it.
    * Returns the number of blobs added.
    */
  private[lake] def commit(batch: Staged): Long = {
    if (readonly) throw new StoreReadOnlyException(path)
    withWriteLock {
      val g = current()
      val rows = batch.rows.join(g.catalog.select("blob_hash"), Seq("blob_hash"), "left_anti")
      try {
        val newCat = rows.filter(col("level").isNull)
        val newMan = rows.filter(col("level").isNotNull)
        // laid out by bucket last, whichever way the anti-join runs; the
        // copies of a chunk meet in its bucket's task, so the dedup needs
        // no shuffle of its own
        val newChunks = byBucket(newMan
          .filter(col("data").isNotNull)
          .select(col("chunk_hash"), col("size"), col("enc"), col("data"), bucketOf(col("chunk_hash"), params.nBuckets).as("bucket"))
          .join(g.chunks.select("chunk_hash"), Seq("chunk_hash"), "left_anti"))
          .dropDuplicates("bucket", "chunk_hash")
        // the blobs to add and, for a bounded store, the bytes it would
        // hold with them: one job either way. The new rows are cached for
        // the appends, but only after a gate, whose two reads of them
        // would each materialize the cache.
        val n =
          if (maxBytes == Long.MaxValue) { rows.cache(); newCat.coalesce(1).count() }
          else {
            val (bytes, blobs, _) = tally(holdings(g.chunks, g.catalog, added = false), holdings(newChunks, newCat, added = true))
            if (blobs > 0 && bytes > maxBytes) throw new StoreOutOfSpaceException(path)
            rows.cache()
            blobs
          }
        if (n > 0) {
          newChunks.write.mode(SaveMode.Append).partitionBy("bucket").parquet(s"${g.dir}/chunks")
          // level-major, so a file keeps each level's rows together
          // (parquet encodes their runs compactly); `level` is never null
          // here, and the coalesce makes the file's column required
          newMan
            .sortWithinPartitions("level", "blob_hash", "part_idx")
            .select(col("blob_hash"), coalesce(col("level"), lit(0)).as("level"), col("part_idx"), col("chunk_hash"), col("key"),
              bucketOf(col("chunk_hash"), params.nBuckets).as("bucket"), col("part_len"))
            .write.mode(SaveMode.Append).parquet(s"${g.dir}/manifest")
          newCat
            .select(col("blob_hash"), col("total_len"), col("kind"), col("inline_data"), col("root_hash"), col("root_key"),
              bucketOf(col("root_hash"), params.nBuckets).as("root_bucket"), col("tree_depth"))
            .write.mode(SaveMode.Append).parquet(s"${g.dir}/catalog")
        }
        if (batch.blobs.isDefined) revive(g, batch.rows.filter(col("level").isNull).select("blob_hash"))
        n
      } finally rows.unpersist()
    }
  }

  /** `chunks` repartitioned for a write into a `chunks/` table, the one
    * layout rule of [[commit]] and [[rewrite]]: by `bucket`, with an
    * explicit count, which AQE keeps. Each bucket lands in one task, so a
    * write puts one file into each bucket directory it touches, and the
    * buckets spread over the cores instead of one task writing them all.
    */
  private def byBucket(chunks: DataFrame): DataFrame =
    chunks.repartition(params.nBuckets min spark.sparkContext.defaultParallelism max 1, col("bucket"))

  /** Lifts the tombstones of generation `g` on `hashes`, so a blob
    * deleted and put again before [[gc]] is live again (its rows stay
    * until gc). Only the tombstone files naming one of them are
    * rewritten: their other rows are appended first and the old files
    * deleted after, so a reader never sees fewer tombstones than survive.
    */
  private def revive(g: Generation, hashes: DataFrame): Unit =
    if (g.has("tombstones")) {
      val files = g.tombstones.withColumn("file", input_file_name())
        .join(hashes, Seq("blob_hash"), "left_semi")
        .select("file").distinct().collect().map(_.getString(0))
      if (files.nonEmpty) {
        spark.read.schema(tombstoneSchema).parquet(files.toIndexedSeq: _*)
          .join(hashes, Seq("blob_hash"), "left_anti")
          .write.mode(SaveMode.Append).parquet(s"${g.dir}/tombstones")
        files.foreach(f => fs.delete(new HPath(new java.net.URI(f)), false))
      }
    }

  private def lockFile = new HPath(path, "_GRAFT_WRITE_LOCK")

  /** A copy of this handle whose write lock expires after `ms` instead
    * of [[ChunkStore.LockTtlMs]], for tests of the lock's lifetime.
    */
  private[graft] def withLockTtl(ms: Long): ChunkStore = new ChunkStore(spark, path, readonly, maxBytes, params, ms)

  /** Single-writer guard, the parquet-dir analog of the reference's
    * exclusive mmap writer (store/atomic.rs, store/shared.rs): two
    * concurrent `putBlobs` against one store dir would race the
    * capacity gate and double-append chunks, and an append racing a
    * rewrite would land in a generation about to be replaced, so the
    * second writer must fail fast instead of losing data silently. The
    * lock file is created with `FileSystem.create(overwrite = false)` —
    * atomic on local/HDFS (an object store without atomic create needs
    * a table format's commit protocol instead). While `body` runs, a
    * heartbeat refreshes the lock file's modification time every
    * quarter of [[ChunkStore.LockTtlMs]], so a live writer keeps its
    * lock however long it runs; a lock not refreshed for that long is
    * presumed to belong to a crashed writer and is taken over. The
    * refresh is `FileSystem.setTimes`, which s3a does not implement:
    * there a writer that runs past the TTL can still lose its lock.
    */
  private[graft] def withWriteLock[T](body: => T): T = {
    if (fs.exists(lockFile)) {
      val st = fs.getFileStatus(lockFile)
      if (System.currentTimeMillis() - st.getModificationTime < lockTtlMs) {
        val holder =
          try {
            val in = fs.open(lockFile)
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
            finally in.close()
          } catch { case _: java.io.IOException => "unknown" }
        throw new StoreLockedException(path, holder)
      }
      fs.delete(lockFile, false) // stale lock from a crashed writer
    }
    val out =
      try fs.create(lockFile, false) // atomic create-if-absent
      catch { case _: java.io.IOException => throw new StoreLockedException(path, "concurrent writer") }
    try out.write(s"pid=${ProcessHandle.current().pid()} ts=${System.currentTimeMillis()}".getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // a failed refresh (say, a filesystem failover) is retried at the
    // next beat; the thread is never interrupted, so no filesystem call
    // of it is cut off midway
    val done = new java.util.concurrent.CountDownLatch(1)
    val heartbeat = new Thread(() =>
      while (!done.await((lockTtlMs / 4) max 1, java.util.concurrent.TimeUnit.MILLISECONDS))
        try fs.setTimes(lockFile, System.currentTimeMillis(), -1)
        catch { case e: java.io.IOException => log.warn(s"refreshing the write lock of $path failed; retrying", e) },
      s"graft-lock-heartbeat $path")
    heartbeat.setDaemon(true)
    heartbeat.start()
    try body
    finally {
      done.countDown()
      heartbeat.join()
      fs.delete(lockFile, false)
    }
  }

  /** Decrypt stored chunk bytes back to the plaintext part. */
  private def decoded(stored: Column, enc: Column, keyHex: Column): Column =
    when(enc === "raw", stored).otherwise(Convergent.decryptDeflated(stored, unhex(keyHex)))

  /** Bulk get: `hashDf` must have a `blob_hash` column. Returns
    * (blob_hash, data, verified) under the contract of
    * [[getBlobsByHashes]]: every live wanted hash has exactly one row, a
    * blob that cannot be read is `verified` false (with null `data` when
    * no part can be read), tombstoned and absent hashes have no row, and
    * corrupt data never raises. [[ChunkStore.readAll]] over this store
    * alone.
    */
  def getBlobs(hashDf: DataFrame): DataFrame = readAll(Seq(this), hashDf)

  /** This store's side of a bulk read: (blob_hash, data, verified) for
    * each live wanted hash, as [[getBlobs]] describes. It reads the flat
    * level-0 manifest rows directly (one distributed join, no tree
    * walk); the recursive tree is the point-lookup path. Both end in the
    * same [[assemble]].
    */
  private def copies(hashDf: DataFrame): DataFrame = {
    val g = current()
    val cat = g.liveCatalog.join(hashDf.select(col("blob_hash")).distinct(), Seq("blob_hash"))
    val own = cat.select(col("blob_hash"), lit(0L).as("part_idx"), when(col("kind") === "inline", col("inline_data")).as("part"))
    val parts = g.manifest
      .filter(col("level") === 0)
      .join(cat.select("blob_hash"), Seq("blob_hash"))
      .join(intact(g.chunks).select(col("chunk_hash"), col("bucket"), col("enc"), col("data")), Seq("chunk_hash", "bucket"))
      .select(col("blob_hash"), col("part_idx"), decoded(col("data"), col("enc"), col("key")).as("part"))
    assemble(own.unionByName(parts), parallel = true)
  }

  /** Point lookups via the recursive manifest tree (reference LongHkey
    * expansion). One catalog probe ([[probe]]: a single job over the
    * catalog and the tombstones, filtered to `hashes`) hands each live
    * blob's catalog row to the driver, which walks the tree from there
    * without re-scanning the catalog: each tree level is one job that
    * reads only the `chunks/bucket=N` directories its nodes hash to
    * ([[chunksIn]]; store/mod.rs:252-257 — the difference between
    * reading 100 TB and reading 100 GB), and the returned frame reads
    * the leaves the same way. Depth is log_fanout(parts), so a point
    * read costs the probe, one job per level and the frame's own job.
    *
    * Returns (blob_hash, data, verified) ordered by blob_hash. Missing
    * and tombstoned hashes are absent; every live hash has a row, and
    * one whose chunks are missing or corrupt reads `verified` false
    * (with null `data` when no part could be read). Nothing is cached.
    */
  def getBlobsByHashes(hashes: Seq[String]): DataFrame =
    readEntries(lookup(hashes).values.toSeq)

  /** This store's live catalog rows for `hashes`: [[ChunkStore.resolve]]
    * over this store alone, one probe job (none for no hashes).
    */
  private def lookup(hashes: Seq[String]): Map[String, CatalogEntry] =
    resolve(Seq(this), hashes).map { case (h, live) => h -> live.head._2 }

  /** (blob_hash, data, verified) for live catalog rows of one probe,
    * ordered by blob_hash, read from the generation it probed. Inline
    * payloads come from the rows themselves; chunked blobs are walked
    * on the driver ([[walk]]) down to their leaves, which the frame
    * fetches bucket-scoped. Each entry also contributes a row of its
    * own (a null part for a chunked blob), so a blob none of whose
    * parts can be read still gets a row, unverified. Up to
    * [[MaxPointRefs]] leaves the parts are assembled in one job with no
    * shuffle; a larger leaf set (a big blob) is assembled in parallel.
    */
  private def readEntries(entries: Seq[CatalogEntry]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val dir = genDir(entries.headOption.fold(0L)(_.gen))
    val leaves = walk(dir, entries)
    val own = spark.createDataFrame(
      entries.map(e => Row(e.blobHash, 0L, if (e.kind == "inline") e.inlineData else null)).asJava,
      partSchema)
    val parts =
      if (leaves.isEmpty) own
      else own.unionByName(fetch(dir, leaves).withColumnRenamed("idx", "part_idx"))
    assemble(parts, parallel = leaves.size > MaxPointRefs).orderBy("blob_hash")
  }

  /** (blob_hash, part_idx, part) rows → (blob_hash, data, verified), the
    * one verify-and-assemble step of every read. Each blob's parts are
    * taken as a set, so a chunk or manifest row stored twice (a replayed
    * append) is one part, and concatenated in order with a single
    * allocation; null parts are dropped. `verified` is whether `data`
    * hashes to the blob's address, false when no part could be read
    * (null `data`). Unless `parallel`, the parts meet in one
    * single-partition aggregate: one job with no shuffle.
    */
  private def assemble(parts: DataFrame, parallel: Boolean): DataFrame =
    (if (parallel) parts else parts.coalesce(1))
      .groupBy(col("blob_hash"))
      .agg(array_sort(collect_set(when(col("part").isNotNull, struct(col("part_idx"), col("part"))))).as("parts"))
      .select(
        col("blob_hash"),
        when(size(col("parts")) > 0, Codec.concatBinary(transform(col("parts"), p => p.getField("part")))).as("data"))
      .withColumn("verified", coalesce(sha2(col("data"), 256) === col("blob_hash"), lit(false)))

  /** The rows of a chunk table whose stored bytes still hash to their
    * address. Every read takes its chunks through it before any decode,
    * so a rotten chunk drops out and its blob fails verification,
    * instead of decrypting garbage or failing the read.
    */
  private def intact(chunks: DataFrame): DataFrame = chunks.filter(sha2(col("data"), 256) === col("chunk_hash"))

  /** Leaf references of the chunked blobs among `entries`, walked from
    * their catalog roots on the driver: one bucket-scoped [[fetch]] job
    * per tree level, whose decrypted node texts are parsed here.
    *
    * The catalog records each tree's depth at put time, but the walk
    * simply runs until the frontier is empty, so a row that
    * under-reports its depth costs nothing extra: the tree may still
    * be intact (every node is checked against its content address as
    * it is read), so availability wins and the walk continues past the
    * recorded depth with a warning. The hard cap of 64 extra levels
    * bounds cyclic or garbage manifests; verify-on-read backstops the
    * payload.
    */
  private def walk(dir: String, entries: Seq[CatalogEntry]): Seq[PartRef] = {
    def root(e: CatalogEntry) = PartRef(e.blobHash, 0L, e.rootHash, e.rootKey, e.rootBucket)
    val trees = entries.filter(_.kind == "tree")
    val maxDepth = (0 +: trees.map(_.treeDepth)).max
    var leaves = entries.filter(_.kind == "single").map(root)
    var frontier = trees.map(root)
    var level = 0
    while (frontier.nonEmpty) {
      level += 1
      if (level > maxDepth + 64)
        throw new InvalidMagicException(
          s"manifest tree does not terminate within tree_depth=$maxDepth+64 in $path")
      if (level > maxDepth)
        log.warn(
          s"tree deeper than recorded tree_depth=$maxDepth in $path " +
            s"(extra level ${level - maxDepth}); continuing depth-agnostic walk")
      // a node whose key does not decrypt it reads null: its subtree is
      // lost, and its blob fails verification
      val children = fetch(dir, frontier).collect().toSeq.filterNot(_.isNullAt(2))
        .flatMap(r => parseNode(r.getString(0), new String(r.getAs[Array[Byte]](2), StandardCharsets.UTF_8)))
        .distinct
      leaves ++= children.collect { case (r, true) => r }
      frontier = children.collect { case (r, false) => r }
    }
    leaves.distinct
  }

  /** One manifest node's entries, as written by the put path's
    * `idx,chunk_hash,key|-,len,L|N` lines; the flag is true for leaves.
    */
  private def parseNode(blobHash: String, text: String): Seq[(PartRef, Boolean)] =
    text.split("\n").toSeq.map { line =>
      line.split(",") match {
        case Array(idx, h, key, _, ck) =>
          (PartRef(blobHash, idx.toLong, h, if (key == "-") null else key, bucketOf(h, params.nBuckets)), ck == "L")
        case _ => throw new InvalidMagicException(s"malformed manifest node line in $path: $line")
      }
    }

  /** (blob_hash, idx, part) for each of `refs`: the decrypted chunks
    * behind them, read from only the bucket directories they hash to in
    * the generation at `dir`.
    * Up to [[MaxPointRefs]] refs, the chunk hashes are a literal IN
    * list (pushed down to parquet) and each match finds its refs and
    * key in a literal map, so the read is one scan. A larger set (a big
    * blob's leaves or lower levels) is matched by a broadcast hash join
    * instead: a literal map is searched linearly, so thousands of
    * entries make the per-row lookup itself the cost. Chunks pass
    * [[intact]] first.
    */
  private def fetch(dir: String, refs: Seq[PartRef]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val stored = intact(chunksIn(dir, refs.map(_.bucket)))
    val matched =
      if (refs.size <= MaxPointRefs) {
        val owners = typedLit(refs.groupBy(_.chunkHash).map { case (h, rs) => h -> rs.map(r => (r.blobHash, r.idx, r.key)) })
        stored.filter(col("chunk_hash").isin(refs.map(_.chunkHash).distinct: _*))
          .select(col("data"), col("enc"), explode(element_at(owners, col("chunk_hash"))).as("o"))
          .select(col("o._1").as("blob_hash"), col("o._2").as("idx"), col("data"), col("enc"), col("o._3").as("key"))
      } else {
        val wanted = spark.createDataFrame(refs.map(r => Row(r.blobHash, r.idx, r.chunkHash, r.key)).asJava, refSchema)
        stored.join(broadcast(wanted), Seq("chunk_hash"))
      }
    matched.select(col("blob_hash"), col("idx"), decoded(col("data"), col("enc"), col("key")).as("part"))
  }

  /** The chunk table of the generation at `dir` restricted to the
    * `bucket=N` directories of `buckets`, each checked for existence on
    * its own (a point read needs a few, and a listing of `chunks/` costs
    * more than that); the literal bucket filter keeps `bucket` in the
    * plan's PartitionFilters.
    */
  private def chunksIn(dir: String, buckets: Seq[Int]): DataFrame = {
    val bs = buckets.distinct.sorted
    readChunks(dir, bs.map(b => new HPath(s"$dir/chunks/bucket=$b")).filter(fs.exists))
      .filter(col("bucket").isin(bs.map(Integer.valueOf): _*))
  }

  /** The chunk table of the generation at `dir` over its bucket
    * directories `dirs`. Spark lists them itself, never the whole
    * `chunks/` tree: its nBuckets subdirectories would exceed the
    * parallel partition discovery threshold and cost a distributed
    * listing job. The directories are read in groups at or below that
    * threshold, so every listing stays on the driver; `basePath` keeps
    * `bucket` a partition column.
    */
  private def readChunks(dir: String, dirs: Seq[HPath]): DataFrame =
    if (dirs.isEmpty) rowsOf(chunkSchema)
    else {
      val perRead = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold", "32").toInt max 1
      dirs.grouped(perRead)
        .map(g => spark.read.schema(chunkSchema).option("basePath", s"$dir/chunks").parquet(g.map(_.toString): _*))
        .reduce(_ unionByName _)
    }

  /** This store's side of a point read's catalog probe: its catalog
    * rows (`dead` false) and tombstones (`dead` true) for `hashes`, as
    * [[ChunkStore.resolve]] reads them, each tagged with `store`, this
    * store's index there, and with the generation it was read from, so
    * the chunks are read from the same one ([[readBlob]]) and a delete
    * tombstones in the same one ([[deleteBlobs]]).
    */
  private def probe(hashes: Seq[String], store: Int): DataFrame = {
    val g = current()
    val wanted = col("blob_hash").isin(hashes.distinct: _*)
    g.catalog.filter(wanted)
      .select(lit(false).as("dead"), col("blob_hash"), col("kind"), col("inline_data"),
        col("root_hash"), col("root_key"), col("root_bucket"), col("tree_depth"))
      .unionByName(g.tombstones.filter(wanted).select(lit(true).as("dead"), col("blob_hash")), allowMissingColumns = true)
      .withColumns(Map("gen" -> lit(g.n), "store" -> lit(store)))
  }

  /** One blob's bytes from one live copy's catalog row, verified on
    * read, from the generation the row was probed in. An inline payload
    * comes straight from the row, with no further job. A payload that is
    * missing or does not hash to its address raises
    * [[InvalidMagicException]], the one failure after which
    * [[ChunkStore.read]] tries the blob's next live copy.
    */
  private[lake] def readBlob(e: CatalogEntry): Array[Byte] = {
    val data =
      if (e.kind == "inline") Option(e.inlineData).filter(d => sha256Hex(d) == e.blobHash)
      else readEntries(Seq(e)).collect().headOption.filter(_.getAs[Boolean]("verified")).map(_.getAs[Array[Byte]]("data"))
    data.getOrElse(throw new InvalidMagicException(s"hash mismatch for ${e.blobHash} in $path"))
  }

  /** Single-blob get with verify-on-read: the catalog probe once (which
    * alone answers a miss or an inline blob), then bucket-scoped chunk
    * reads, one job per tree level plus one for the leaves.
    * [[ChunkStore.read]] over this store alone.
    */
  def getBlob(hash: String): Array[Byte] = read(Seq(this), hash)

  /** Whether the blob is live here: the catalog probe alone, one job. */
  def containsBlob(hash: String): Boolean = lookup(Seq(hash)).contains(hash)

  /** Tombstone blobs for deletion (no data is reclaimed yet — chunks
    * are shared across blobs by content addressing). Under the write
    * lock, the point read's catalog probe ([[probe]]) finds which of
    * `hashes` are live in the current generation, and one file appended
    * to that generation's tombstones names them: one probe job and one
    * append. Unknown, repeated and already-deleted hashes are ignored.
    * The next [[gc]] drops their rows from the current generation, but
    * their payloads stay on disk in the generation it replaced, which
    * readers may still be reading, until the rewrite after that one
    * deletes it. Returns the number of newly tombstoned blobs.
    */
  def deleteBlobs(hashes: Seq[String]): Long = {
    if (readonly) throw new StoreReadOnlyException(path)
    withWriteLock {
      val live = lookup(hashes)
      live.values.headOption.foreach { e =>
        rowsOf(tombstoneSchema, live.keys.toSeq.sorted.map(Row(_)): _*)
          .coalesce(1).write.mode(SaveMode.Append).parquet(s"${genDir(e.gen)}/tombstones")
      }
      live.size.toLong
    }
  }

  /** The one rewrite behind [[gc]] (`reclaim`) and [[compact]], under
    * the write lock. From the current generation n it writes generation
    * n+1 into a temp dir: chunks laid out as a commit lays them out
    * ([[byBucket]]: one file per bucket, so a pruned point read opens one
    * file per probed bucket), manifest, catalog and, unless `reclaim`, tombstones, each
    * repartitioned by `blob_hash`. With `reclaim` it writes only what
    * is live (`Generation.live`) and no tombstones. One directory rename
    * publishes the new generation; every generation older than n is
    * then deleted, while n stays for the readers that resolved it. A
    * rewrite stopped before its rename leaves only the temp dir, which
    * the next rewrite deletes first. `report` runs under the lock too,
    * on (n, n+1).
    */
  private def rewrite[T](reclaim: Boolean)(report: (Generation, Generation) => T): T = {
    if (readonly) throw new StoreReadOnlyException(path)
    withWriteLock {
      val from = current()
      val tmp = s"$path/$RewriteDir"
      fs.delete(new HPath(tmp), true)
      val (cat, man, chk) = if (reclaim) from.live else (from.catalog, from.manifest, from.chunks)
      byBucket(chk).write.partitionBy("bucket").parquet(s"$tmp/chunks")
      val tombs = if (reclaim || !from.has("tombstones")) Nil else Seq("tombstones" -> from.tombstones)
      (Seq("manifest" -> man, "catalog" -> cat) ++ tombs).foreach { case (t, rows) =>
        rows.repartition(col("blob_hash")).write.parquet(s"$tmp/$t")
      }
      if (!fs.rename(new HPath(tmp), new HPath(genDir(from.n + 1))))
        throw new java.io.IOException(s"rewrite: publishing generation ${from.n + 1} failed in $path")
      val root = fs.listStatus(new HPath(path)).map(_.getPath.getName)
      root.flatMap(genOf).filter(_ < from.n).foreach(k => fs.delete(new HPath(genDir(k)), true))
      if (from.n > 0) root.filter(Tables.contains).foreach(t => fs.delete(new HPath(path, t), true))
      report(from, current())
    }
  }

  /** Garbage collection: the reclaiming rewrite, which keeps only the
    * chunks reachable from live (non-tombstoned) catalog entries — one
    * distributed cascade, catalog → manifest rows → referenced chunk
    * hashes — and clears the tombstones. It also drops replayed
    * duplicate manifest rows and orphan chunks from failed puts (the
    * same classes [[fsck]] reports). What it keeps it writes in the
    * layout [[compact]] writes, so one gc serves both layout and
    * reclamation (`recommend` "reclaim" and "compact_reclaim" in
    * [[maintenanceReport]]) for the price of one rewrite. Readers are
    * never blocked and never see a partial store (see the class doc). Returns a one-row
    * stats frame. Its reclaimed counts are logical, the current
    * generation's before and after: the replaced generation, garbage
    * and deleted payloads included, stays on disk until the next
    * rewrite, so right after gc the store's directory holds both, and a
    * bounded store's disk use can exceed `maxBytes`, which bounds the
    * current generation only.
    */
  def gc(): DataFrame =
    rewrite(reclaim = true) { (from, to) =>
      def stats(g: Generation) = g.chunks.agg(count(lit(1)), coalesce(sum(col("size")), lit(0L))).head()
      val (before, after) = (stats(from), stats(to))
      rowsOf(gcSchema, Row(
        from.tombstones.count(),
        before.getLong(0) - after.getLong(0),
        before.getLong(1) - after.getLong(1),
        after.getLong(0),
        after.getLong(1),
      ))
    }

  private def countDataFiles(dir: String): Long = {
    val p = new HPath(dir)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
  }

  /** Maintenance planner — the WHEN for [[compact]]/[[gc]], completing
    * the plan → execute → verify loop ([[gc]], [[compact]] execute,
    * [[fsck]]/[[scrub]] verify). One row of integer health metrics:
    *  - fragmentation: chunk file count, buckets used, files per used
    *    bucket (milli — every put batch appends ~one file per touched
    *    bucket, so this ≈ put batches since the last compact; it is
    *    the number of opens a pruned point read pays per probed
    *    bucket),
    *  - liveness: chunks whose every referencing blob is tombstoned
    *    (what [[gc]] would reclaim), as a count and ppm,
    *  - `recommend` — "compact_reclaim" when both thresholds trip,
    *    "compact" for fragmentation only, "reclaim" for dead mass
    *    only, "none" otherwise. [[gc]] serves "reclaim" and
    *    "compact_reclaim" (its rewrite also writes the compacted
    *    layout), [[compact]] serves "compact". Thresholds:
    *    > `maxFilesPerBucketMilli` (default 2000 = two files/bucket)
    *    and dead_ppm >
    *    `maxDeadPpm` (default 300000 — the q_compact_plan 30%
    *    dead-fraction trigger convention).
    *
    * Cost: one recursive listing of chunks/ (driver-side, bounded by
    * file count — the same listing pressure the report exists to
    * flag) + two metadata-sized aggregates. Read-only; safe on a
    * readonly store.
    */
  def maintenanceReport(maxFilesPerBucketMilli: Long = 2000L, maxDeadPpm: Long = 300000L): DataFrame = {
    val g = current()
    val nFiles = countDataFiles(s"${g.dir}/chunks")
    val nBucketsUsed = g.bucketDirs.size.toLong
    val filesPerBucketMilli = if (nBucketsUsed == 0) 0L else nFiles * 1000L / nBucketsUsed
    // ONE pass over the chunk table for both liveness counts: the
    // distinct chunk set left-joins the live reference set once, and a
    // single scalar aggregate yields total and live together
    val liveRefs = g.live._2.select("chunk_hash").distinct().withColumn("live_", lit(1L))
    val cnts = g.chunks.select(col("chunk_hash")).distinct()
      .join(liveRefs, Seq("chunk_hash"), "left")
      .agg(count(lit(1)).as("n"), coalesce(sum(col("live_")), lit(0L)).as("nl"))
      .head()
    val nChunks = cnts.getLong(0)
    val nLive = cnts.getLong(1)
    val nDead = nChunks - nLive
    val deadPpm = if (nChunks == 0) 0L else nDead * 1000000L / nChunks
    val frag = filesPerBucketMilli > maxFilesPerBucketMilli
    val dead = deadPpm > maxDeadPpm
    val recommend =
      if (frag && dead) "compact_reclaim"
      else if (frag) "compact"
      else if (dead) "reclaim"
      else "none"
    rowsOf(maintenanceSchema, Row(nFiles, nBucketsUsed, filesPerBucketMilli, nChunks, nDead, deadPpm, recommend))
  }

  /** Small-file compaction. Every put appends its own parquet files, so
    * a long-lived store fragments — the classic append-ingest killer at
    * scale (namenode/listing pressure, an open() per tiny file, no
    * row-group locality), and the thing the reference's bump-allocated
    * pages (store/mod.rs:330-390) never suffer: the Spark translation
    * owes this maintenance op back. The same rewrite as [[gc]], but the
    * contents are untouched and only the file layout changes; to
    * reclaim as well, run [[gc]] instead, which writes the same layout,
    * so a 100 TB store pays ONE full rewrite for both. Like every
    * rewrite it leaves the generation it replaced on disk until the
    * next rewrite, so the store's disk use is about doubled in between.
    * Returns per-table before/after file counts: those of the replaced
    * and the new generation.
    */
  def compact(): DataFrame =
    rewrite(reclaim = false) { (from, to) =>
      rowsOf(compactSchema, Seq("chunks", "manifest", "catalog").map { t =>
        Row(t, countDataFiles(s"${from.dir}/$t"), countDataFiles(s"${to.dir}/$t"))
      }: _*)
    }

  /** Store consistency audit — the Spark analog of the reference's
    * load-time corruption checks (store/mod.rs:107-170 bounds/overlap/
    * modulo sanity). Returns one row per invariant with its violation
    * count; a healthy store is all zeros.
    */
  def fsck(): DataFrame = {
    val g = current()
    ChunkStore.fsckReport(g.manifest, g.chunks, g.catalog)
  }

  /** Payload scrub — the bit-rot half of the integrity story
    * ([[fsck]] audits STRUCTURE across the three relations; scrub
    * audits the BYTES at rest). Chunks are addressed by the hash of
    * what is actually stored (ciphertext or raw — see `stage`), so
    * re-hashing every payload against its address detects any flipped
    * bit with no key material and no decryption: the scheduled-scrub
    * pass an object store runs, here ONE map-side scan of the chunk
    * table (conditional int64 sums, no shuffle beyond the final 1-row
    * combine) rolled up to one row per invariant:
    *  - `payload_hash_mismatch` — sha256(data) ≠ chunk_hash (bit rot)
    *  - `size_mismatch` — recorded size ≠ octet_length(data)
    *    (truncated or padded write)
    *  - `misplaced_bucket` — bucket ≠ hash-prefix bucket: the chunk
    *    EXISTS but every pruned point read ([[getBlobsByHashes]])
    *    looks in the wrong partition and misses it — invisible
    *    corruption to the read path, only a scrub finds it
    *  - `missing_payload` — null data cell
    * plus `scanned_chunks` so an empty scan can't read as a clean
    * store. A healthy store is all-zero.
    */
  def scrub(): DataFrame = {
    val agg = current().chunks.agg(
      count(lit(1)).as("n"),
      coalesce(sum(when(sha2(col("data"), 256) =!= col("chunk_hash"), 1L).otherwise(0L)), lit(0L)).as("h"),
      coalesce(sum(when(col("size") =!= octet_length(col("data")).cast(LongType), 1L).otherwise(0L)), lit(0L)).as("s"),
      coalesce(sum(when(col("bucket") =!= ChunkStore.bucketOf(col("chunk_hash"), params.nBuckets), 1L).otherwise(0L)), lit(0L)).as("b"),
      coalesce(sum(when(col("data").isNull, 1L).otherwise(0L)), lit(0L)).as("m"),
    ).head()
    rowsOf(scrubSchema,
      Row("misplaced_bucket", agg.getLong(3)),
      Row("missing_payload", agg.getLong(4)),
      Row("payload_hash_mismatch", agg.getLong(1)),
      Row("scanned_chunks", agg.getLong(0)),
      Row("size_mismatch", agg.getLong(2)),
    ).orderBy("check")
  }

  /** Catalog-level diff vs another store: one row per blob seen by
    * either side with its reconciliation status. Content addressing
    * makes this exact with nothing but a full-outer join on the hash
    * — `length_mismatch` can only mean corruption, since equal hashes
    * imply equal content. Compares the *live* views: a tombstoned
    * blob reads as absent on its side (it is, to readers), so a blob
    * deleted here but live over there reports `only_other`, not
    * `in_sync`.
    */
  def diff(other: ChunkStore): DataFrame =
    liveCatalog.select(col("blob_hash"), col("total_len").as("len_here"))
      .join(
        other.liveCatalog.select(col("blob_hash"), col("total_len").as("len_other")),
        Seq("blob_hash"),
        "full_outer",
      )
      .select(
        col("blob_hash"),
        when(col("len_other").isNull, "only_here")
          .when(col("len_here").isNull, "only_other")
          .when(col("len_here") =!= col("len_other"), "length_mismatch")
          .otherwise("in_sync")
          .as("status"),
        col("len_here"),
        col("len_other"),
      )

  /** Replicate every *live* blob this store has and `target` lacks, by
    * content address: this store's live catalog, manifest and chunk
    * rows go to `target`'s [[commit]], the same one a put ends in. So
    * only the missing catalog rows, their manifest rows (keys travel
    * with them, so convergent-encrypted parts stay decryptable) and the
    * chunk payloads the target does not already hold are written, under
    * the target's capacity gate, write lock and bucket count, in the
    * chunks → manifest → catalog visibility order. Idempotent. Returns
    * the number of blobs copied.
    *
    * Replication is additive and respects deletes on both ends: the
    * source side is what [[gc]] would keep (a blob tombstoned here — even
    * before gc reclaims it — must not resurrect as a readable
    * blob in the replica), while the commit keys on the target's *raw*
    * catalog and lifts no tombstone (a blob the target itself
    * tombstoned still owns its catalog row until gc, so it is not
    * re-shipped and the target's delete stays deleted). Deletes are
    * not pushed to blobs the target already holds — this is a copy,
    * not a delete-sync.
    */
  def replicateTo(target: ChunkStore): Long = {
    val (cat, man, chk) = current().live
    val parts = man.drop("bucket").join(chk.select("chunk_hash", "size", "enc", "data"), Seq("chunk_hash"), "left")
    target.commit(new Staged(cat.drop("root_bucket").unionByName(parts, allowMissingColumns = true), blobs = None))
  }
}

final case class BlobRef(blobHash: String, totalLen: Long, kind: String)
final case class PutResult(blobs: Seq[BlobRef])

/** A batch ready for [[ChunkStore.commit]], as one frame of rows
  * keyed by `blob_hash`: a catalog row per blob (no `level`: total_len,
  * kind, inline_data, root_hash, root_key, tree_depth) and a manifest
  * row per stored part or node (level, part_idx, chunk_hash, key,
  * part_len) carrying its chunk (size, enc, data). No
  * row has a bucket: a bucket is store layout, not content, so the
  * commit derives it from the hash with its own store's bucket count.
  * `blobs` (blob_hash, total_len, kind) is what a put was asked to
  * store, which it reports; a replica has none, and its commit lifts no
  * tombstone. `release` drops the rows from the cache, if a staging
  * cached them.
  */
private[lake] final class Staged(val rows: DataFrame, val blobs: Option[DataFrame]) {
  /** One [[BlobRef]] per distinct blob asked for, deduplicated here
    * rather than by a shuffle.
    */
  def summary: PutResult =
    PutResult(blobs.toSeq.flatMap(_.collect()).map(r => BlobRef(r.getString(0), r.getLong(1), r.getString(2))).distinct)

  def release(): Unit = rows.unpersist()
}

/** A live catalog row, as the point-read walk starts from it, with the
  * generation of the store it was read from.
  */
private[lake] final case class CatalogEntry(
    gen: Long,
    blobHash: String,
    kind: String,
    inlineData: Array[Byte],
    rootHash: String,
    rootKey: String,
    rootBucket: Int,
    treeDepth: Int,
)

/** A stored part of a blob: a leaf (idx = part_idx) or a manifest node
  * (idx = node index in its level); `key` is null for raw chunks.
  */
private[lake] final case class PartRef(blobHash: String, idx: Long, chunkHash: String, key: String, bucket: Int)

object ChunkStore {
  /** Magic marker content (reference: store/mod.rs MAGIC = b"DataLake..."). */
  val Magic = "GraftStore v1"

  /** A write lock not refreshed for this long is presumed to belong to
    * a crashed writer and is taken over (a crashed driver must not brick
    * the store forever). A live writer refreshes its lock every quarter
    * of this, however long its commit or rewrite runs.
    */
  val LockTtlMs: Long = 30L * 60 * 1000

  /** Generation n ≥ 1 of a store lives in `gen-<n>/`; generation 0 is
    * the store root.
    */
  private val GenPrefix = "gen-"

  /** The generation number of a store root entry, if it is one. */
  private def genOf(name: String): Option[Long] =
    if (name.startsWith(GenPrefix)) name.stripPrefix(GenPrefix).toLongOption.filter(_ > 0) else None

  /** Where a rewrite writes the next generation before publishing it. */
  private val RewriteDir = "_GRAFT_REWRITE"

  /** What an interrupted gc or compact of earlier graft versions left
    * in a store root: their temp dirs and the tables renamed aside.
    */
  private val SwapDebris = Set(".gc_tmp", ".compact_tmp", "chunks.old", "manifest.old", "catalog.old")

  /** The tables of a generation. */
  private val Tables = Seq("chunks", "manifest", "catalog", "tombstones")

  val chunkSchema: StructType = StructType(Seq(
    StructField("chunk_hash", StringType),
    StructField("size", LongType),
    StructField("enc", StringType),
    StructField("data", BinaryType),
    StructField("bucket", IntegerType),
  ))
  val manifestSchema: StructType = StructType(Seq(
    StructField("blob_hash", StringType),
    StructField("level", IntegerType),
    StructField("part_idx", LongType),
    StructField("chunk_hash", StringType),
    StructField("key", StringType),
    StructField("bucket", IntegerType),
    StructField("part_len", LongType),
  ))
  val catalogSchema: StructType = StructType(Seq(
    StructField("blob_hash", StringType),
    StructField("total_len", LongType),
    StructField("kind", StringType),
    StructField("inline_data", BinaryType),
    StructField("root_hash", StringType),
    StructField("root_key", StringType),
    StructField("root_bucket", IntegerType),
    StructField("tree_depth", IntegerType),
  ))
  val tombstoneSchema: StructType = StructType(Seq(
    StructField("blob_hash", StringType),
  ))

  /** Result schemas of [[ChunkStore.gc]], [[ChunkStore.compact]],
    * [[ChunkStore.scrub]] and [[ChunkStore.maintenanceReport]];
    * [[Lake]]'s per-store forms add `store`.
    */
  val gcSchema: StructType = StructType(
    Seq("blobs_deleted", "chunks_reclaimed", "bytes_reclaimed", "chunks_live", "bytes_live").map(StructField(_, LongType, nullable = false)))
  val compactSchema: StructType = StructType(Seq(
    StructField("table", StringType),
    StructField("files_before", LongType, nullable = false),
    StructField("files_after", LongType, nullable = false),
  ))
  val scrubSchema: StructType = StructType(Seq(
    StructField("check", StringType),
    StructField("violations", LongType, nullable = false),
  ))
  val maintenanceSchema: StructType = StructType(
    Seq("n_chunk_files", "n_buckets_used", "files_per_bucket_milli", "n_chunks", "n_dead_chunks", "dead_ppm")
      .map(StructField(_, LongType, nullable = false)) :+ StructField("recommend", StringType))

  /** Size ladder (store/mod.rs:430-457). */
  def kindOf(len: Column, p: LakeParams): Column =
    when(len <= p.inlineMax, "inline")
      .when(len <= p.chunkMax, "single")
      .otherwise("tree")

  /** Hash-prefix bucket (the index-modulo analog, store/mod.rs:252-257). */
  def bucketOf(hashHex: Column, nBuckets: Int): Column =
    (conv(substring(hashHex, 1, 4), 16, 10).cast(IntegerType) % nBuckets).cast(IntegerType)

  /** [[bucketOf]] for one hash on the driver. */
  def bucketOf(hashHex: String, nBuckets: Int): Int = Integer.parseInt(hashHex.substring(0, 4), 16) % nBuckets

  /** Bytes one manifest node at level k covers: chunkMax·fanoutᵏ,
    * saturating at Long.MaxValue.
    */
  private def treeCap(p: LakeParams, k: Int): Long =
    (1 to k).foldLeft(p.chunkMax)((c, _) => if (c > Long.MaxValue / p.treeFanout) Long.MaxValue else c * p.treeFanout)

  /** The content half of a put, which depends on [[LakeParams]] alone:
    * the size ladder, the parts, their convergent encryption and the
    * manifest tree above them. It covers the blobs of `blobs` (column
    * `data`) that some of `stores` does not hold live, so an idempotent
    * re-put encrypts nothing. Convergent encryption is deterministic,
    * so the staged rows commit unchanged to whichever of `stores` takes
    * them ([[ChunkStore.commit]]). Staging runs its jobs here, before
    * any lock is taken, and keeps the staged rows cached until
    * [[Staged.release]].
    *
    * Level 0 holds one row per fixed-size part, so no staged row grows
    * with the blob; only the input row holds a whole blob, which Spark
    * caps at 2 GB per binary value. The manifest
    * tree (LongHkeyExpanded::from_blob → shrink, store/mod.rs:419-426)
    * folds each level's entries into nodes of `treeFanout` entries, each
    * stored as a convergently encrypted chunk, until one root remains.
    * Level k holds ⌈len / treeCap(k)⌉ entries, so a blob's depth follows
    * from its length: its root sits at the first level k with
    * len ≤ treeCap(k), and the batch's longest blob, found by one job,
    * sets how many levels to build.
    */
  private[lake] def stage(blobs: DataFrame, stores: Seq[ChunkStore]): Staged = {
    val p = stores.head.params
    val ladder = blobs
      .select(col("data"))
      .filter(col("data").isNotNull)
      .withColumn("blob_hash", sha2(col("data"), 256))
      .withColumn("total_len", octet_length(col("data")).cast(LongType))
      .withColumn("kind", kindOf(col("total_len"), p))
    val chunked = col("kind") =!= "inline"
    // folded on the driver from each partition's maximum: no shuffle
    val longest = ladder.filter(chunked).select(col("total_len")).rdd.map(_.getLong(0)).fold(0L)(math.max)
    val depth = Iterator.from(0).find(k => longest <= treeCap(p, k)).get
    val liveEverywhere = stores.map(_.liveCatalog.select("blob_hash")).reduce(_.join(_, Seq("blob_hash"), "left_semi"))
    // level 0: a catalog row per inline blob, a row per part of the
    // others (Column.substr is 1-based and byte-addressed on BinaryType)
    val nParts = (col("total_len") + lit(p.chunkMax - 1)).divide(lit(p.chunkMax)).cast(LongType)
    val level0 = ladder
      .dropDuplicates("blob_hash")
      .join(liveEverywhere, Seq("blob_hash"), "left_anti")
      .withColumn("part_idx", explode_outer(when(chunked, sequence(lit(0L), nParts - 1))))
      .select(
        col("blob_hash"),
        col("total_len"),
        when(chunked, lit(0)).as("level"),
        col("part_idx"),
        when(!chunked, col("data")).as("inline_data"),
        col("data").substr((col("part_idx") * p.chunkMax + 1).cast(IntegerType), lit(p.chunkMax.toInt)).as("part"),
      )
    val leaves = encrypted(level0).cache()
    // level k: the level k-1 entries of each blob that has more than
    // one there, `treeFanout` to a node of lines
    // `idx,chunk_hash,key|-,len,L|N` (L: the entry is a leaf)
    val levels = (1 to depth).scanLeft(leaves) { (below, k) =>
      val line = concat_ws(",", col("part_idx"), col("chunk_hash"), coalesce(col("key"), lit("-")), col("part_len"),
        lit(if (k == 1) "L" else "N"))
      val nodes = below
        .filter(col("total_len") > treeCap(p, k - 1))
        .groupBy(col("blob_hash"), col("total_len"), expr(s"part_idx DIV ${p.treeFanout}").as("node"))
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("part_idx"), line.as("line")))), e => e("line")),
          "\n",
        ).as("text"))
        .select(
          col("blob_hash"),
          col("total_len"),
          lit(k).as("level"),
          col("node").as("part_idx"),
          col("text").cast(BinaryType).as("part"),
        )
      encrypted(nodes)
    }
    // the one entry of the first level a chunked blob fits in is its
    // root: it yields the blob's catalog row too (no level, no chunk)
    val rootLevel = (0 until depth).foldRight(lit(depth)) { (k, above) =>
      when(col("total_len") <= treeCap(p, k), lit(k)).otherwise(above)
    }
    val entry = (c: Column) => when(!col("catalog"), c)
    val rows = levels
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .withColumn("catalog", explode(
        when(col("level") === rootLevel, array(lit(false), lit(true))).otherwise(array(lit(false)))))
      .select(
        col("blob_hash"),
        col("total_len"),
        kindOf(col("total_len"), p).as("kind"),
        rootLevel.as("tree_depth"),
        col("inline_data"),
        when(col("catalog"), col("chunk_hash")).as("root_hash"),
        when(col("catalog"), col("key")).as("root_key"),
        entry(col("level")).as("level"),
        col("part_idx"),
        col("chunk_hash"),
        col("key"),
        col("part_len"),
        col("size"),
        col("enc"),
        entry(col("data")).as("data"),
      )
      .cache()
    // level 0 stays cached only while `rows` is built, so its parts are
    // encrypted once, and a commit reads one cached frame
    try rows.write.format("noop").mode(SaveMode.Overwrite).save()
    catch { case e: Throwable => rows.unpersist(); throw e }
    finally leaves.unpersist()
    new Staged(rows, Some(ladder.select(col("blob_hash"), col("total_len"), col("kind"))))
  }

  /** Convergent encrypt-at-rest of a frame's `part` column, replaced by
    * part_len (plaintext), enc ('gcm'|'raw'), data (at-rest bytes), key
    * (hex, null when raw), chunk_hash (address of the STORED bytes) and
    * size. Mirrors put_chunk/put_encrypted_chunk: deflate+encrypt, keep
    * raw when that is not smaller.
    */
  private def encrypted(parts: DataFrame): DataFrame = {
    val gcm = octet_length(col("ct")) <= col("part_len")
    parts
      .withColumn("part_len", octet_length(col("part")).cast(LongType))
      .withColumn("ct", Convergent.encryptDeflated(col("part")))
      .withColumn("enc", when(gcm, lit("gcm")).otherwise(lit("raw")))
      .withColumn("data", when(gcm, col("ct")).otherwise(col("part")))
      .withColumn("key", when(gcm, sha2(col("part"), 256)))
      .withColumn("chunk_hash", sha2(col("data"), 256))
      .withColumn("size", octet_length(col("data")).cast(LongType))
      .drop("part", "ct")
  }

  private[lake] def sha256Hex(data: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(data).map("%02x".format(_)).mkString

  /** Above this many chunk references a point read matches chunks with
    * a broadcast join instead of literal lists and maps, and
    * reassembles its leaves in parallel (see `ChunkStore.fetch`).
    */
  private val MaxPointRefs = 256

  private val partSchema: StructType = StructType(Seq(
    StructField("blob_hash", StringType),
    StructField("part_idx", LongType),
    StructField("part", BinaryType),
  ))

  private val refSchema: StructType = StructType(Seq(
    StructField("blob_hash", StringType),
    StructField("idx", LongType),
    StructField("chunk_hash", StringType),
    StructField("key", StringType),
  ))

  /** The live copies of each of `hashes` that some of `stores` holds
    * live (catalogued there and not tombstoned there): each such store,
    * in `stores`' order, with its catalog row. Every store's
    * [[ChunkStore.probe]] is unioned and collected in ONE job however
    * many stores there are (none for no stores or no hashes).
    *
    * The one read rule, of a store (the one-store case) and of a
    * [[Lake]] alike: of a blob's live copies, a read serves the first
    * one in config order that verifies. So a blob deleted in one store,
    * or rotten or lost there, is served by the next store that holds it
    * intact, and a blob is unreadable only when every live copy is.
    * [[read]] applies it to one blob, [[readAll]] to a frame of them.
    */
  private[lake] def resolve(stores: Seq[ChunkStore], hashes: Seq[String]): Map[String, Seq[(ChunkStore, CatalogEntry)]] =
    if (stores.isEmpty || hashes.isEmpty) Map.empty
    else {
      val rows = stores.zipWithIndex.map { case (s, i) => s.probe(hashes, i) }.reduceLeft(_ unionByName _).collect().toSeq
      def key(r: Row) = (r.getAs[Int]("store"), r.getAs[String]("blob_hash"))
      val (dead, present) = rows.partition(_.getAs[Boolean]("dead"))
      val tombstoned = dead.map(key).toSet
      present.filterNot(r => tombstoned(key(r))).distinctBy(key).sortBy(_.getAs[Int]("store")).map { r =>
        val h = r.getAs[String]("blob_hash")
        h -> (stores(r.getAs[Int]("store")), CatalogEntry(
          r.getAs[Long]("gen"), h, r.getAs[String]("kind"), r.getAs[Array[Byte]]("inline_data"), r.getAs[String]("root_hash"),
          r.getAs[String]("root_key"), Option(r.getAs[Integer]("root_bucket")).fold(0)(_.intValue),
          Option(r.getAs[Integer]("tree_depth")).fold(0)(_.intValue)))
      }.groupMap(_._1)(_._2)
    }

  /** The point read of every store and lake: `hash`'s bytes under the
    * read rule ([[resolve]]). The copies are read in turn
    * ([[ChunkStore.readBlob]]) until one verifies, so a healthy read
    * runs its probe and its first copy's reads, and a fallthrough only
    * the next copy's. Raises [[BlobNotFoundException]] when no store
    * holds `hash` live, and the first copy's [[InvalidMagicException]],
    * the later copies' failures suppressed in it, when none verifies.
    * Any other failure, such as an I/O error, propagates at once.
    */
  private[lake] def read(stores: Seq[ChunkStore], hash: String): Array[Byte] = {
    val failed = Seq.newBuilder[InvalidMagicException]
    resolve(stores, Seq(hash)).getOrElse(hash, throw new BlobNotFoundException(hash)).iterator
      .flatMap { case (s, e) => try Some(s.readBlob(e)) catch { case f: InvalidMagicException => failed += f; None } }
      .nextOption()
      .getOrElse {
        val first +: later = failed.result()
        later.foreach(first.addSuppressed)
        throw first
      }
  }

  /** The bulk read of every store and lake: (blob_hash, data, verified)
    * for `hashDf`'s `blob_hash`es under the read rule ([[resolve]]).
    * Each store assembles its own copies ([[ChunkStore.getBlobs]]'s
    * contract), and one window keeps, per blob, a verified copy before
    * an unverified one and then the first store's: a live blob is one
    * row, verified when some live copy is, and corrupt data never raises.
    */
  private[lake] def readAll(stores: Seq[ChunkStore], hashDf: DataFrame): DataFrame = {
    val first = Window.partitionBy(col("blob_hash")).orderBy(col("verified").desc, col("store"))
    stores.zipWithIndex.map { case (s, i) => s.copies(hashDf).withColumn("store", lit(i)) }
      .reduceLeftOption(_ unionByName _)
      .getOrElse(hashDf.select(col("blob_hash"), lit(null).cast(BinaryType).as("data"), lit(false).as("verified"), lit(0).as("store")).limit(0))
      .withColumn("rn", row_number().over(first))
      .filter(col("rn") === 1)
      .drop("rn", "store")
  }

  /** The [[ChunkStore.fsck]] invariant algebra over ARBITRARY
    * (manifest, chunks, catalog) relations — static so the audit can
    * be oracled against DuckDB on a synthetic corrupted universe
    * (`lake_fsck` in LakeOps) with the exact code a real store runs.
    * One row per invariant with its violation count; a healthy store
    * is all zeros. Inputs only need the referenced columns (manifest:
    * blob_hash/level/part_idx/part_len/chunk_hash; chunks: chunk_hash;
    * catalog: blob_hash/kind/total_len/inline_data/root_hash).
    *
    * Shape: ONE multi-way aggregation pass — each input is scanned
    * exactly once (manifest rows explode into their chunk-grain and
    * blob-grain contributions, the catalog into a root reference and
    * a blob payload row), both grains meet in hash aggregations and a
    * single full-outer join, and one scalar aggregate emits every
    * count. At store scale that is 1 scan per relation instead of the
    * ~10 the former union-of-ten-aggregates shape paid, and the
    * report is metadata-sized.
    *
    * The `catalog_tree_depth_mismatch` check (recorded tree_depth vs
    * the manifest's actual max level — the corruption class the read
    * path TOLERATES via its depth-agnostic fallback walk, which is
    * exactly why verification must still surface it) activates only
    * when the inputs carry `tree_depth`/`level`; synthetic universes
    * that model a flat manifest keep the column-minimal contract.
    */
  def fsckReport(m: DataFrame, c: DataFrame, cat: DataFrame): DataFrame = {
    // r17: single-pass multi-way aggregation (guide §1.2/§2.4). The
    // previous shape unioned TEN independent count-aggregates whose
    // subtrees referenced the manifest ×6, chunks ×3 and catalog ×5 —
    // at store scale, ~10 near-full scans per audit. Every check is a
    // count over one of two grains (chunk_hash or blob_hash), so one
    // pass per input suffices: each manifest row explodes into its
    // chunk-grain and blob-grain contributions (ONE scan), the chunk
    // table contributes chunk-grain rows, and the catalog explodes
    // into a root-reference chunk-grain row plus a blob-grain payload
    // row (ONE scan). Two hash aggregations bring both sides to
    // (grain, key); a full-outer join lines each blob's catalog
    // payload groups (kept as a tiny collect_list so duplicate catalog
    // rows keep their per-row semantics) up against that blob's
    // manifest aggregate; one scalar aggregate then emits all ten
    // counts. Anti-/equi-join NULL-key semantics (a null key never
    // matches) are reproduced explicitly in the count conditions.
    val hasDepth = cat.columns.contains("tree_depth") && m.columns.contains("level")
    val nullI = lit(null).cast(IntegerType)
    val nullL = lit(null).cast(LongType)
    val nullS = lit(null).cast(StringType)
    val nullB = lit(null).cast(BooleanType)
    // grain 0 = chunk_hash, grain 1 = blob_hash
    val mBoth = m.select(explode(array(
      struct(lit(0).as("g"), col("chunk_hash").cast(StringType).as("key"),
        nullI.as("lvl"), nullL.as("pidx"), nullL.as("plen")),
      struct(lit(1).as("g"), col("blob_hash").cast(StringType).as("key"),
        col("level").cast(IntegerType).as("lvl"), col("part_idx").cast(LongType).as("pidx"),
        col("part_len").cast(LongType).as("plen")),
    )).as("e"))
      .select(col("e.g").as("g"), col("e.key").as("key"), col("e.lvl").as("lvl"),
        col("e.pidx").as("pidx"), col("e.plen").as("plen"),
        lit(1L).as("mrow"), lit(0L).as("crow"))
    val cRows = c.select(lit(0).as("g"), col("chunk_hash").cast(StringType).as("key"),
      nullI.as("lvl"), nullL.as("pidx"), nullL.as("plen"),
      lit(0L).as("mrow"), lit(1L).as("crow"))
    // (grain, key, level, part_idx) grain first — duplicate-manifest-key
    // detection and the part-length dedup happen here — then (grain, key)
    val left = mBoth.unionByName(cRows)
      .groupBy("g", "key", "lvl", "pidx")
      .agg(sum("mrow").as("mr"), sum("crow").as("cr"), max("plen").as("pl"))
      .groupBy("g", "key")
      .agg(
        sum("mr").as("m_rows"),
        sum("cr").as("c_rows"),
        sum(when(col("mr") > 1, 1L)).as("dup_keys"),
        max(when(col("lvl") === 0, 1)).as("has_l0"),
        sum(when(col("lvl") === 0, col("pl"))).as("plen0"),
        max(col("lvl")).as("max_lvl"),
      )
    val catBoth = cat.select(explode(array(
      struct(lit(0).as("g"), col("root_hash").cast(StringType).as("key"),
        nullS.as("kind"), nullL.as("total_len"), nullB.as("inl_null"),
        nullB.as("root_null"), nullI.as("tdepth")),
      struct(lit(1).as("g"), col("blob_hash").cast(StringType).as("key"),
        col("kind").cast(StringType).as("kind"), col("total_len").cast(LongType).as("total_len"),
        col("inline_data").isNull.as("inl_null"), col("root_hash").isNull.as("root_null"),
        (if (hasDepth) col("tree_depth").cast(IntegerType) else nullI).as("tdepth")),
    )).as("e"))
      .select(col("e.*"))
      // a root reference exists only when root_hash is non-null
      .filter(col("g") === 1 || col("key").isNotNull)
    val right = catBoth
      .groupBy("g", "key", "kind", "total_len", "inl_null", "root_null", "tdepth")
      .agg(count(lit(1)).as("cat_n"))
      .groupBy("g", "key")
      .agg(
        sum(when(col("g") === 0, col("cat_n"))).as("root_refs"),
        collect_list(when(col("g") === 1,
          struct(col("kind"), col("total_len"), col("inl_null"), col("root_null"),
            col("tdepth"), col("cat_n")))).as("cats"),
      )
    val j = left.join(right, Seq("g", "key"), "full_outer")
    def catSum(pred: Column => Column): Column =
      coalesce(aggregate(filter(col("cats"), pred), lit(0L),
        (acc, x) => acc + x.getField("cat_n")), lit(0L))
    val nonInline = (x: Column) => x.getField("kind") =!= "inline"
    val isChunk = col("g") === 0
    val isBlob = col("g") === 1
    val keyNull = col("key").isNull
    val mPresent = col("m_rows").isNotNull
    val catAbsent = col("cats").isNull || size(col("cats")) === 0
    val counts = Seq(
      "manifest_missing_chunks" ->
        sum(when(isChunk && (keyNull || col("c_rows") === 0), col("m_rows"))),
      "orphan_chunks" ->
        sum(when(isChunk && col("c_rows") > 0 &&
          (keyNull || (col("m_rows") === 0 && coalesce(col("root_refs"), lit(0L)) === 0)), 1L)),
      "duplicate_manifest_rows" -> sum(when(isBlob, col("dup_keys"))),
      "duplicate_chunks" -> sum(when(isChunk && col("c_rows") > 1, 1L)),
      "catalog_without_manifest" ->
        sum(when(isBlob && (keyNull || coalesce(col("has_l0"), lit(0)) === 0),
          catSum(x => nonInline(x)))),
      "manifest_without_catalog" ->
        sum(when(isBlob && mPresent && (keyNull || catAbsent), 1L)),
      "blob_length_mismatch" ->
        sum(when(isBlob && !keyNull && coalesce(col("has_l0"), lit(0)) === 1,
          catSum(x => nonInline(x) && x.getField("total_len") =!= col("plen0")))),
      "inline_missing_payload" ->
        sum(catSum(x => x.getField("kind") === "inline" && x.getField("inl_null"))),
      "chunked_missing_root" ->
        sum(catSum(x => nonInline(x) && x.getField("root_null"))),
    ) ++ (
      // recorded depth must equal the tree's actual max level (a null
      // recording counts as a mismatch); manifest presence required so
      // blobs with no manifest stay the catalog_without_manifest finding
      if (hasDepth)
        Seq("catalog_tree_depth_mismatch" ->
          sum(when(isBlob && !keyNull && mPresent,
            catSum(x => nonInline(x) &&
              coalesce(x.getField("tdepth"), lit(-1)) =!= col("max_lvl")))))
      else Seq.empty
    )
    val agg1 = j.agg(
      counts.head._2.as(counts.head._1),
      counts.tail.map { case (n, e) => e.as(n) }: _*)
    agg1.select(explode(array(counts.map { case (n, _) =>
      struct(lit(n).as("check"), coalesce(col(n), lit(0L)).as("violations"))
    }: _*)).as("e"))
      .select(col("e.check").as("check"), col("e.violations").as("violations"))
      .orderBy("check")
  }

  private def markerPath(path: String) = new HPath(path, "_GRAFT_STORE")

  private def hadoopConf(spark: SparkSession) = spark.sessionState.newHadoopConf()

  /** Magic check through Hadoop's FileSystem so hdfs:///s3a:// store
    * paths resolve with the session's configuration (a java.nio check
    * would wrongly report remote stores absent).
    */
  def isStore(spark: SparkSession, path: String): Boolean = marker(spark, path).isDefined

  /** The `_GRAFT_STORE` marker's text, when it starts with the magic. */
  private def marker(spark: SparkSession, path: String): Option[String] = {
    val m = markerPath(path)
    val fs = m.getFileSystem(hadoopConf(spark))
    if (!fs.exists(m)) None
    else {
      val in = fs.open(m)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8)).filter(_.startsWith(Magic))
      finally in.close()
    }
  }

  /** Initialize a fresh store directory (reference: DataStore::init).
    * On a path that already holds a store, the marker's bucket count must
    * be `params`' one: every chunk there was placed by it, so another
    * count would send reads to the wrong buckets. Raises
    * IllegalArgumentException otherwise.
    */
  def init(spark: SparkSession, path: String, maxBytes: Long = Long.MaxValue, params: LakeParams = LakeParams()): ChunkStore = {
    marker(spark, path).flatMap(markedBuckets(path, _)).filter(_ != params.nBuckets).foreach { n =>
      throw new IllegalArgumentException(s"$path already holds a store of $n buckets; init with ${params.nBuckets} would misplace its chunks")
    }
    val root = new HPath(path)
    val fs = root.getFileSystem(hadoopConf(spark))
    fs.mkdirs(root)
    val out = fs.create(markerPath(path), true)
    try out.write(s"$Magic\nnBuckets=${params.nBuckets}\n".getBytes(StandardCharsets.UTF_8))
    finally out.close()
    new ChunkStore(spark, path, readonly = false, maxBytes, params)
  }

  /** Load an existing store, verifying the magic (DataStore::load +
    * verify_magic, lake/util.rs). The bucket count is the one [[init]]
    * wrote into the marker, since every chunk was placed by it;
    * `params` supplies it only for a marker without that line.
    */
  def load(spark: SparkSession, path: String, readonly: Boolean, maxBytes: Long = Long.MaxValue, params: LakeParams = LakeParams()): ChunkStore = {
    val nBuckets = markedBuckets(path, marker(spark, path).getOrElse(throw new InvalidMagicException(path)))
    new ChunkStore(spark, path, readonly, maxBytes, nBuckets.fold(params)(n => params.copy(nBuckets = n)))
  }

  /** The bucket count a marker's text names, if it names one. */
  private def markedBuckets(path: String, text: String): Option[Int] =
    text.linesIterator.collectFirst { case l if l.startsWith("nBuckets=") =>
      l.stripPrefix("nBuckets=").trim.toIntOption.filter(_ > 0).getOrElse(throw new InvalidMagicException(path))
    }
}
