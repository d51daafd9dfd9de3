package graftbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.lake._

/** The `lake` workload: the content-addressed store API end to end,
  * on a lake of two stores — hot (capped with `maxBytes`) and spill.
  *
  * Set-up fills the hot store with one `Lake.put` batch (the first,
  * cold put of the JVM). The measured phase then runs, in one
  * closed-loop client thread, a fixed sequence:
  *  1. a put batch, which no longer fits the hot store and spills to
  *     the second one;
  *  2. re-open: a fresh `Lake.init` over the same stores, then one bulk
  *     restore (`Lake.get`, fully materialized) of every acknowledged
  *     blob plus absent hashes: the durability check and the restore
  *     measurement in one;
  *  3. point reads (`getBlob`), Zipf-skewed toward recent puts;
  *  4. one `Lake.delete`, through a handle that opens the hot store
  *     readonly, of two spill blobs and one hot blob: the spill blobs
  *     must be gone, the hot blob must stay readable;
  *  5. point reads again.
  * Traced runs then add maintenance (`Lake.gc`, then `Lake.compact`)
  * and the layer probes.
  */
final class LakeWorkload(spark: SparkSession, tracer: Tracer, cfg: Config, r: Report) {
  import spark.implicits._

  private val gen = new Gen(cfg.seed)
  private val hadoopConf = spark.sessionState.newHadoopConf()
  private val partSize = LakeParams().chunkMax.toInt

  // input shape, fixed per run; the seed picks the content
  private val batchMix = Map("inline" -> 16, "single" -> 12, "tree1" -> 12, "tree2" -> 4)
  private val randomShare = 0.15
  private val zipfS = 1.1
  private val restoreMisses = 12
  private val readSchedule = {
    // one read of each tree kind and one absent hash per ten, the rest
    // small blobs: with the two check reads they are the middle of the
    // sorted latencies, so the median does not depend on which tree was
    // drawn
    val cycle = Seq("tree1", "miss", "inline", "single", "tree2", "inline", "single", "inline", "single", "inline")
    Seq.tabulate(math.max(4, cfg.seconds / 3))(i => cycle(i % cycle.size))
  }

  private val stores = Seq("hot", "spill")
  private def storePath(name: String) = s"${cfg.work}/stores/$name"

  /** Where each blob lives: hash -> indexes (into `stores`) of the
    * stores holding it live. Maintained from put acceptance and deletes.
    */
  private val live = mutable.Map.empty[String, Set[Int]].withDefaultValue(Set.empty)
  private val known = mutable.LinkedHashMap.empty[String, Blob] // put order, oldest first

  private case class Op(kind: String, ms: Double, bytes: Long)
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val probed = mutable.ArrayBuffer.empty[Int] // stores getBlob probes, per read

  /** Times one Lake call as a benchmark operation (set-up calls, named
    * "warmup_*", are traced as set-up, not as operations).
    */
  private def op[A](kind: String, lakeCall: String, bytes: Long = 0L)(call: => A): A =
    tracer.span(if (kind.startsWith("warmup")) "setup" else "bench", kind) {
      val t0 = System.nanoTime()
      try tracer.span("lake", lakeCall)(call)
      finally ops += Op(kind, (System.nanoTime() - t0) / 1e6, bytes)
    }

  def run(): Unit = {
    r.check(Gen.selfTest(cfg.seed, g => new LakeWorkload.Inputs(g, batchMix, randomShare).all).isEmpty, "generator self-test")
    val inputs = new LakeWorkload.Inputs(gen, batchMix, randomShare)
    describeInputs(inputs)
    val hotCap = (inputs.fill.map(_.bytes.length.toLong).sum * LakeWorkload.HotCapPerUserByte).toLong
    val config = LakeConfig(Seq(StoreEntry(storePath("hot"), maxBytes = hotCap), StoreEntry(storePath("spill"))))
    r.info("hot_max_bytes") = hotCap

    // ---- set-up: fill the hot store through the public API
    val tSetup = System.nanoTime()
    val lake = Lake.init(spark, config)
    r.check(putChecked(lake, inputs.fill, "warmup_put") == 0, "set-up batch should land in the hot store")
    ops.clear()
    probed.clear()
    r.metric("session.warmup_s", (System.nanoTime() - tSetup) / 1e9, "s")

    // ---- measured phase
    val t0 = System.nanoTime()
    val putStore = putChecked(lake, inputs.batch, "put")
    val reopened = op("open", "Lake.init")(Lake.init(spark, config))
    restore(reopened)
    val half = (readSchedule.size + 1) / 2
    readSchedule.take(half).foreach(k => read(reopened, k))
    val deleted = deletes(reopened, config)
    readSchedule.drop(half).foreach(k => read(reopened, k))
    val measuredS = (System.nanoTime() - t0) / 1e9

    // ---- end-to-end metrics
    def ms(kind: String) = ops.filter(_.kind == kind).map(_.ms).toSeq
    val putBytes = inputs.batch.map(_.bytes.length.toLong).sum
    r.metric("run_s", measuredS, "s")
    r.metric("put_mb_per_s", putBytes / 1e6 / (ms("put").sum / 1e3), "MB/s")
    r.latency("put", ms("put"))
    r.latency("get", ms("get"))
    r.metric("op_p50_ms", Stats.median(ms("get")), "ms")
    val restores = ops.filter(_.kind == "restore")
    r.metric("restore_mb_per_s", restores.map(_.bytes).sum / 1e6 / (restores.map(_.ms).sum / 1e3), "MB/s")
    r.metric("serve_ops_per_s", ops.size / measuredS, "1/s")
    val userBytes = inputs.all.map(_.bytes.length.toLong).sum
    r.metric("stored_bytes_per_user_byte", stores.map(s => dirBytes(storePath(s))).sum.toDouble / userBytes, "ratio")
    r.info("user_bytes") = userBytes
    r.info("ops") = ops.map(o => Seq(o.kind, o.ms, o.bytes)).toSeq

    // ---- per-layer metrics, traced runs only
    if (tracer.enabled) {
      r.metric("lake.put.store_index_mean", putStore, "index")
      r.metric("lake.get.stores_probed_mean", probed.sum.toDouble / math.max(1, probed.size), "count")
      maintenance(reopened, deleted, inputs)
      chunkStoreProbes(inputs)
      val parts = Probes.probeSet(Probes.split(inputs.all.map(_.bytes), partSize), LakeWorkload.ProbeBytes)
      Probes.codec(parts, partsPerBlob = 64, r)
      Probes.convergent(spark, tracer, parts, r)
    }
  }

  private def describeInputs(in: LakeWorkload.Inputs): Unit = {
    val all = in.all
    val chunked = all.filter(_.kind != "inline")
    r.info("input") = ListMap(
      "blobs" -> all.size,
      "kind_share" -> ListMap.from(Seq("inline", "single", "tree1", "tree2").map(k => k -> all.count(_.kind == k).toDouble / all.size)),
      "tree_depth_max_expected" -> (if (all.exists(_.kind == "tree2")) 2 else 1),
      "exact_dup_share" -> all.count(_.origin == "dup").toDouble / all.size,
      "shared_chunk_share" -> all.count(_.origin == "neardup").toDouble / all.size,
      "incompressible_share" -> chunked.count(_.random).toDouble / math.max(1, chunked.size),
      "read_miss_share" -> readSchedule.count(_ == "miss").toDouble / readSchedule.size,
      "zipf_s" -> zipfS,
      "reads" -> readSchedule.size,
      "restore_absent_hashes" -> restoreMisses,
    )
  }

  /** Puts one batch and checks the summary; returns the index of the
    * store that accepted it.
    */
  private def putChecked(lake: Lake, batch: Seq[Blob], kind: String): Int = {
    val before = catalogFiles()
    val res = op(kind, "Lake.put", batch.map(_.bytes.length.toLong).sum)(lake.put(batch.map(_.bytes).toDF("data")))
    val idx = acceptedBy(before)
    val want = batch.map(b => b.hash -> b.bytes.length.toLong).toMap
    val got = res.blobs.map(b => b.blobHash -> b.totalLen).toMap
    r.check(got == want, s"$kind: put summary does not match the batch (${got.size} vs ${want.size} blobs)")
    batch.foreach { b => live(b.hash) += idx; if (!known.contains(b.hash)) known(b.hash) = b }
    idx
  }

  /** The writable store whose catalog grew during a put. */
  private def acceptedBy(before: Map[String, Int]): Int = {
    val after = catalogFiles()
    stores.indexWhere(s => after(s) > before(s)) match { case -1 => 0; case i => i }
  }
  private def catalogFiles(): Map[String, Int] =
    stores.map(s => s -> dataFiles(s"${storePath(s)}/catalog")).toMap

  /** getBlob; `expect` None means the hash must be absent. */
  private def getChecked(lake: Lake, hash: String, expect: Option[Blob], kind: String): Unit = {
    probed += live(hash).minOption.map(_ + 1).getOrElse(lake.stores.size)
    val got =
      try Right(op(kind, "Lake.getBlob", expect.fold(0L)(_.bytes.length.toLong))(lake.getBlob(hash)))
      catch { case e: BlobNotFoundException => Left(e) }
    expect match {
      case Some(b) => r.check(got.exists(bytes => Gen.sha256Hex(bytes) == hash && java.util.Arrays.equals(bytes, b.bytes)), s"getBlob($hash) returned wrong bytes or failed: $got")
      case None => r.check(got.isLeft, s"getBlob($hash) should raise BlobNotFoundException")
    }
  }

  /** One point read from the schedule: a miss, or a live blob of the
    * given class picked by Zipf rank over recency.
    */
  private def read(lake: Lake, kind: String): Unit =
    if (kind == "miss") getChecked(lake, gen.absentHash(), None, "get")
    else {
      val candidates = known.values.toIndexedSeq.reverse.filter(b => b.kind == kind && live(b.hash).nonEmpty)
      val b = candidates(gen.zipf(candidates.size, zipfS))
      getChecked(lake, b.hash, Some(b), "get")
    }

  /** Bulk-restores every acknowledged live blob plus absent hashes;
    * exactly the present ones must come back, byte for byte.
    */
  private def restore(lake: Lake): Unit = {
    val hits = known.values.filter(b => live(b.hash).nonEmpty).toIndexedSeq
    val want = gen.shuffle(hits.map(_.hash) ++ Seq.fill(restoreMisses)(gen.absentHash()))
    val rows = op("restore", "Lake.get", hits.map(_.bytes.length.toLong).sum)(lake.get(want.toDF("blob_hash")).collect())
    val got = rows.map(row => row.getAs[String]("blob_hash") -> (row.getAs[Array[Byte]]("data"), row.getAs[Boolean]("verified"))).toMap
    r.check(got.keySet == hits.map(_.hash).toSet, s"restore returned ${got.size} blobs, expected exactly the ${hits.size} present")
    hits.foreach { b =>
      r.check(got.get(b.hash).exists { case (d, v) => v && java.util.Arrays.equals(d, b.bytes) }, s"restore: wrong bytes for ${b.hash}")
    }
  }

  /** One delete through a handle that opens the hot store readonly:
    * two spill-only blobs must be gone afterwards, a hot-only blob (of a
    * fixed kind, so the check read costs the same in every run) must
    * stay readable. Returns the deleted hashes.
    */
  private def deletes(lake: Lake, config: LakeConfig): Seq[String] = {
    val spillOnly = known.values.filter(b => live(b.hash) == Set(1)).toIndexedSeq
    val victims = gen.shuffle(spillOnly).take(2).map(_.hash)
    val hotOnly = known.values.filter(b => live(b.hash) == Set(0) && b.kind == "single").toIndexedSeq
    val keep = hotOnly(gen.nextInt(hotOnly.size))
    val hotReadonly = LakeConfig(config.stores.map(s => if (s.path == storePath("hot")) s.copy(readonly = true) else s))
    val n = op("delete", "Lake.delete")(Lake.init(spark, hotReadonly).delete(victims :+ keep.hash))
    r.check(n == victims.size, s"delete wrote $n tombstones, expected ${victims.size}")
    victims.foreach(h => live(h) = Set.empty)
    getChecked(lake, victims.head, None, "get")
    getChecked(lake, keep.hash, Some(keep), "get")
    victims
  }

  // ---- store state (traced runs)

  private def fs(p: String): FileSystem = new HPath(p).getFileSystem(hadoopConf)
  private def files(dir: String): Seq[org.apache.hadoop.fs.LocatedFileStatus] = {
    val p = new HPath(dir)
    if (!fs(dir).exists(p)) Nil
    else {
      val it = fs(dir).listFiles(p, true)
      val out = Seq.newBuilder[org.apache.hadoop.fs.LocatedFileStatus]
      while (it.hasNext) out += it.next()
      out.result().filter(_.getPath.getName.endsWith(".parquet"))
    }
  }
  private def dataFiles(dir: String): Int = files(dir).size
  private def dirBytes(dir: String): Long = files(dir).map(_.getLen).sum
  private val tables = Seq("chunks", "manifest", "catalog", "tombstones")
  private def storeFiles(): Map[String, (Int, Long)] =
    tables.map { t =>
      val fs = stores.flatMap(s => files(s"${storePath(s)}/$t"))
      t -> (fs.size, fs.map(_.getLen).sum)
    }.toMap

  /** Traced runs: GC then compaction over the writable stores, with the
    * store state before and after; a deleted blob must stay gone.
    */
  private def maintenance(lake: Lake, deleted: Seq[String], in: LakeWorkload.Inputs): Unit = {
    val before = storeFiles()
    tables.foreach(t => r.metric(s"store.data_files.$t", before(t)._1, "count"))
    def timed[A](name: String)(f: => A): Double = {
      val t0 = System.nanoTime()
      tracer.span("lake", name)(f)
      (System.nanoTime() - t0) / 1e9
    }
    val gcS = timed("Lake.gc")(lake.gc().collect())
    val compactS = timed("Lake.compact")(lake.compact().collect())
    r.metric("maint.gc_s", gcS, "s")
    r.metric("maint.compact_s", compactS, "s")
    r.metric("maint_s", gcS + compactS, "s")
    val after = storeFiles()
    r.metric("maint.files_removed", tables.map(t => before(t)._1 - after(t)._1).sum, "count")
    r.metric("maint.bytes_rewritten", tables.map(t => after(t)._2).sum / 1e6, "MB")
    r.metric("maint.bytes_reclaimed", tables.map(t => before(t)._2 - after(t)._2).sum / 1e6, "MB")
    deleted.foreach(h => r.check(!lake.stores.exists(_.containsBlob(h)), s"maintenance resurrected deleted blob $h"))

    val handles = stores.map(s => ChunkStore.load(spark, storePath(s), readonly = true))
    val chunks = handles.map(_.chunks).reduce(_ unionByName _)
    val manifest = handles.map(_.manifest).reduce(_ unionByName _)
    val catalog = handles.map(_.catalog).reduce(_ unionByName _)
    val (nChunks, nRaw) = chunks.agg(count(lit(1)), sum(when(col("enc") === "raw", 1L).otherwise(0L))).as[(Long, Long)].head()
    val leafRefs = manifest.filter(col("level") === 0).count()
    val (nBlobs, depth) = catalog.agg(count(lit(1)), max(col("tree_depth"))).as[(Long, Int)].head()
    val userBytes = in.all.map(_.bytes.length.toLong).sum
    val spans = tracer.allSpans()
    val byId = spans.map(x => x.id -> x).toMap
    def underPut(s: Span): Boolean = {
      var cur = byId.get(s.parent)
      while (cur.exists(c => c.layer != "bench" && c.layer != "setup")) cur = cur.flatMap(c => byId.get(c.parent))
      cur.exists(_.name.endsWith("put"))
    }
    val putOut = spans.filter(s => s.layer == "spark" && underPut(s)).map(_.attrs("output_mb").asInstanceOf[Double]).sum * 1e6
    r.metric("store.write_amp", putOut / userBytes, "ratio")
    r.metric("store.blob_dedup_ratio", nBlobs.toDouble / in.all.size, "ratio")
    r.metric("store.chunk_dedup_ratio", nChunks.toDouble / math.max(1L, leafRefs), "ratio")
    r.metric("store.raw_fallback_share", nRaw.toDouble / math.max(1L, nChunks), "share")
    r.metric("store.tree_depth_max", depth, "count")
  }

  /** Direct ChunkStore calls with the workload's own arguments, each
    * timed in a "chunkstore" span.
    */
  private def chunkStoreProbes(in: LakeWorkload.Inputs): Unit = {
    def timed[A](name: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = tracer.span("chunkstore", name)(f)
      (a, (System.nanoTime() - t0) / 1e6)
    }
    val hot = ChunkStore.load(spark, storePath("hot"), readonly = true)
    val hotBlobs = known.values.filter(b => live(b.hash).contains(0)).toIndexedSeq
    val containsMs = hotBlobs.take(3).map(b => timed("containsBlob")(hot.containsBlob(b.hash))._2)
    r.metric("chunkstore.contains_blob_ms", Stats.median(containsMs), "ms")
    Seq("inline", "single", "tree").foreach { k =>
      hotBlobs.find(b => if (k == "tree") b.kind == "tree2" else b.kind == k).foreach { b =>
        val (rows, ms) = timed(s"getBlobsByHashes.$k")(hot.getBlobsByHashes(Seq(b.hash)).collect())
        r.check(rows.length == 1 && java.util.Arrays.equals(rows.head.getAs[Array[Byte]]("data"), b.bytes), s"chunkstore probe: getBlobsByHashes $k")
        r.metric(s"chunkstore.get_by_hashes_ms.$k", ms, "ms")
      }
    }
    val (hotBytes, currentMs) = timed("currentBytes")(hot.currentBytes)
    r.metric("chunkstore.current_bytes_ms", currentMs, "ms")
    r.info("hot_current_bytes") = hotBytes
    val scratch = ChunkStore.init(spark, s"${cfg.work}/stores/probe")
    r.metric("chunkstore.put_blobs_ms", timed("putBlobs")(scratch.putBlobs(in.batch.map(_.bytes).toDF("data")))._2, "ms")
  }
}

object LakeWorkload {
  /** The hot store's cap as a multiple of the set-up batch's user bytes:
    * above what that batch stores (about 0.9-1.1x its user bytes, the
    * manifest nodes included), below what it and the measured batch
    * store together.
    */
  val HotCapPerUserByte = 1.4
  val ProbeBytes = 4L << 20

  /** Every input of one run, drawn from the generator in a fixed order:
    * the set-up batch that fills the hot store, then the measured batch
    * (exact duplicates from both batches, near-duplicates of earlier
    * tree blobs).
    */
  final class Inputs(g: Gen, mix: Map[String, Int], randomShare: Double) {
    // half the measured batch: it warms the same code paths for less time
    val fill: IndexedSeq[Blob] =
      g.batch(mix.map { case (k, n) => k -> n / 2 }, randomShare, dupsWithin = 2, dupsAcross = 0, nearDups = 2, earlier = IndexedSeq.empty)
    val batch: IndexedSeq[Blob] = g.batch(mix, randomShare, dupsWithin = 4, dupsAcross = 4, nearDups = 4, earlier = fill)
    def all: Seq[Blob] = fill ++ batch
  }
}
