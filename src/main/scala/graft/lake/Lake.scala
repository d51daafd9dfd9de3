package graft.lake

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StringType, StructType}
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

/** Store entry in a lake config (reference: lake/config.rs
  * ConfigStoreEntry {filename, readonly}), extended with a capacity
  * bound so the reference's spill-over-on-full routing
  * (lake/mod.rs:77-118) is expressible.
  */
final case class StoreEntry(path: String, readonly: Boolean = false, maxBytes: Long = Long.MaxValue)

/** Lake config with a minimal TOML round-trip matching the reference's
  * on-disk format (lake/config.rs from_toml_str/to_toml_string). No
  * external TOML dep — the subset used by the config (array-of-tables
  * with string/bool/int keys) is parsed directly.
  */
final case class LakeConfig(stores: Seq[StoreEntry]) {
  def toToml: String =
    stores.map { s =>
      val mb = if (s.maxBytes == Long.MaxValue) "" else s"max_bytes = ${s.maxBytes}\n"
      s"""[[stores]]\nfilename = "${s.path}"\nreadonly = ${s.readonly}\n$mb"""
    }.mkString("\n")
}

object LakeConfig {
  /** Parses the subset [[LakeConfig.toToml]] writes, with `#` comments
    * (a `#` inside a quoted filename is part of it). Unknown keys are
    * ignored; a `readonly` other than true/false or a `max_bytes` that is
    * not an integer raises IllegalArgumentException naming the line.
    */
  def fromToml(toml: String): LakeConfig = {
    val entries = scala.collection.mutable.ListBuffer.empty[StoreEntry]
    var cur: Option[(String, Boolean, Long)] = None
    def flush(): Unit = cur.foreach { case (p, r, m) => if (p.nonEmpty) entries += StoreEntry(p, r, m) }
    val lines = toml.linesIterator.zipWithIndex.map { case (l, i) => (l.replaceFirst(Comment, "$1").trim, i + 1) }
    lines.filter(_._1.nonEmpty).foreach {
      case ("[[stores]]", _) =>
        flush(); cur = Some(("", false, Long.MaxValue))
      case (l, n) if l.contains("=") =>
        val Array(k, v) = l.split("=", 2).map(_.trim)
        def bad(what: String) = new IllegalArgumentException(s"lake config line $n: $what: $l")
        cur = cur.map { case (p, r, m) =>
          k match {
            case "filename" => (v.stripPrefix("\"").stripSuffix("\""), r, m)
            case "readonly" => (p, Map("true" -> true, "false" -> false).getOrElse(v, throw bad("readonly must be true or false")), m)
            case "max_bytes" => (p, r, v.toLongOption.getOrElse(throw bad("max_bytes must be an integer")))
            case _ => (p, r, m)
          }
        }
      case _ => ()
    }
    flush()
    LakeConfig(entries.toList)
  }

  /** A line up to a `#` outside double quotes (group 1) and the comment. */
  private val Comment = "^((?:[^\"#]|\"[^\"]*\")*)#.*$"
}

/** Multi-store lake (reference: DataLake, lake/mod.rs).
  *
  * Routing mirrors lake/mod.rs exactly:
  *  - init: readonly entries load read-only; writable entries are
  *    initialized if the magic is absent, loaded otherwise
  *    (lake/mod.rs:36-53 verify_magic branch);
  *  - get: the lake/mod.rs:59-75 fallback chain, as the one read rule
  *    of stores and lakes (stated beside [[ChunkStore.resolve]]): of a
  *    blob's live copies, the first in config order that verifies is
  *    served, so a blob tombstoned, lost or rotten in one store is
  *    served by the next that holds it intact. The point [[getBlob]]
  *    probes every store in one job; the bulk [[get]] reads every
  *    store's live copies in one plan;
  *  - put: first writable store with space; OutOfSpace/ReadOnly →
  *    try next; none left → LakeOutOfStores, carrying the last
  *    writable store's refusal as its cause, or StoreReadOnly when no
  *    store is writable (lake/mod.rs:77-118).
  */
final class Lake private (val spark: SparkSession, val config: LakeConfig, val stores: Seq[ChunkStore]) {

  def writable: Seq[ChunkStore] = stores.filterNot(_.readonly)

  /** Stores `blobs` (column `data`: binary) in the first writable
    * store that takes the whole batch. The content work — ladder,
    * convergent encryption, manifest tree ([[ChunkStore.stage]]) — runs
    * once; each store tried then costs only its commit, and a store
    * that refuses writes nothing.
    */
  def put(blobs: DataFrame): PutResult = {
    var refusal: Throwable = new StoreReadOnlyException(stores.map(_.path).mkString(", "))
    if (writable.isEmpty) throw new LakeOutOfStoresException(refusal)
    val staged = ChunkStore.stage(blobs, writable)
    try {
      val taken = writable.exists { s =>
        try { s.commit(staged); true }
        catch { case e @ (_: StoreOutOfSpaceException | _: StoreReadOnlyException) => refusal = e; false }
      }
      if (!taken) throw new LakeOutOfStoresException(refusal)
      staged.summary
    } finally staged.release()
  }

  /** Bulk get across all stores ([[ChunkStore.readAll]]): one row per
    * live wanted hash, from the first store whose copy verifies;
    * `verified = false` only when no live copy does. It never raises on
    * corrupt data. Tombstoned and absent hashes have no row.
    */
  def get(hashDf: DataFrame): DataFrame = ChunkStore.readAll(stores, hashDf)

  /** Point read with verify-on-read ([[ChunkStore.read]]): one catalog
    * probe of every store in ONE job however many stores there are, then
    * the live copies in config order until one verifies, each read from
    * the generation its store's probe read. The probe alone answers a
    * miss or an inline blob; a chunked blob then costs one bucket-scoped
    * job per tree level plus one for its leaves, per copy tried. Raises
    * BlobNotFoundException when no store holds the blob live, and
    * InvalidMagicException when no live copy verifies. Nothing is
    * cached across calls.
    */
  def getBlob(hash: String): Array[Byte] = ChunkStore.read(stores, hash)

  /** Tombstone blobs in every writable store that holds them (a blob
    * put before a spill-over may live in several). Returns the number
    * of (store, blob) tombstones written.
    */
  def delete(hashes: Seq[String]): Long =
    writable.map(_.deleteBlobs(hashes)).sum

  /** GC every writable store; returns per-store stats keyed by path.
    * Reads through this lake or any other handle keep working while it
    * runs (see [[ChunkStore.gc]]).
    */
  def gc(): DataFrame = perStore(writable, ChunkStore.gcSchema)(_.gc())

  /** `f` of each of `ss` with a `store` column holding its path; an
    * empty frame of `schema` and `store` when `ss` is empty.
    */
  private def perStore(ss: Seq[ChunkStore], schema: StructType)(f: ChunkStore => DataFrame): DataFrame =
    if (ss.isEmpty) spark.createDataFrame(java.util.List.of[Row](), schema.add("store", StringType, nullable = false))
    else ss.map(s => f(s).withColumn("store", lit(s.path))).reduceLeft(_ unionByName _)

  /** Compact every writable store (small-file consolidation; [[gc]]
    * writes the same layout while it reclaims — see
    * [[ChunkStore.compact]]). The lake-level maintenance sibling of
    * [[gc]]: per-store per-table before/after file counts keyed by path.
    */
  def compact(): DataFrame = perStore(writable, ChunkStore.compactSchema)(_.compact())

  /** Scrub every store, readable included (payload verification needs
    * no write access); per-store per-invariant violation counts keyed
    * by path — the fleet-wide form of the scheduled scrub.
    */
  def scrub(): DataFrame = perStore(stores, ChunkStore.scrubSchema)(_.scrub())

  /** Fleet-level maintenance planner — the WHEN for [[compact]]/[[gc]]
    * at the grain the reference's multi-store routing implies
    * (lake/mod.rs:59-118): one [[ChunkStore.maintenanceReport]] row
    * per store, in store order, keyed by path and flagged `readonly`,
    * through the same per-store fan-out as [[gc]], [[compact]] and
    * [[scrub]] (an empty frame for a lake with no stores). Readonly
    * stores still MEASURE (fragmentation and dead fraction are
    * read-side observable, and a degraded readonly member explains slow
    * lake reads) but never recommend a write action: their tripped
    * recommendation degrades to `read_only` so a scheduler executing
    * this column can never be steered into a StoreReadOnlyException.
    * A writable store's "reclaim" and "compact_reclaim" call for [[gc]],
    * its "compact" for [[compact]].
    * Completes the fleet-level plan → execute ([[gc]], [[compact]]) → verify
    * ([[scrub]]/fsck) loop.
    */
  def maintenanceReport(maxFilesPerBucketMilli: Long = 2000L, maxDeadPpm: Long = 300000L): DataFrame = {
    // Each store's report runs its own listings and liveness jobs; they
    // run side by side (at most one per core), so one store's jobs use
    // the executors another's tail leaves idle: run one after the other,
    // the two-store `lake_maintenance` report at scale 1 took 3.2 s
    // against 2.4 s (medians, 4 cores).
    import scala.concurrent.ExecutionContext.Implicits.global
    val reports = stores.map(s => s -> Future(s.maintenanceReport(maxFilesPerBucketMilli, maxDeadPpm))).toMap
    perStore(stores, ChunkStore.maintenanceSchema.add("readonly", BooleanType, nullable = false)) { s =>
      val r = Await.result(reports(s), Duration.Inf).withColumn("readonly", lit(s.readonly))
      if (!s.readonly) r
      else r.withColumn("recommend", when(col("recommend") === "none", lit("none")).otherwise(lit("read_only")))
    }.select((ChunkStore.maintenanceSchema.fieldNames :+ "store" :+ "readonly").map(col).toIndexedSeq: _*)
  }
}

object Lake {
  /** DataLake::init (lake/mod.rs:32-57). */
  def init(spark: SparkSession, config: LakeConfig, params: LakeParams = LakeParams()): Lake = {
    val stores = config.stores.map { e =>
      if (e.readonly) ChunkStore.load(spark, e.path, readonly = true, e.maxBytes, params)
      else if (ChunkStore.isStore(spark, e.path)) ChunkStore.load(spark, e.path, readonly = false, e.maxBytes, params)
      else ChunkStore.init(spark, e.path, e.maxBytes, params)
    }
    new Lake(spark, config, stores)
  }
}
