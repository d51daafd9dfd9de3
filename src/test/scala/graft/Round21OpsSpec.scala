package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.lake.{BlobNotFoundException, ChunkStore, LakeParams}
import graft.operators.LakeOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-21 pins: the `lake_compact_exec` small-file compaction
  * (per-bucket post-state replayed exactly in plain Scala; physical
  * one-file-per-bucket and batch-count fragmentation read from the
  * files themselves), the real store's `gc()`, compaction fused with
  * reclamation (layout + GC in one rewrite: dead chunks reclaimed,
  * shared chunks survive, fsck+scrub green, payloads intact,
  * tombstones cleared),
  * the under-recorded `tree_depth` read-availability fallback, and
  * the no-cached-state contract of the point-read path.
  */
class Round21OpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def sha256hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(b).map("%02x".format(_)).mkString

  private def tmp(): String = Files.createTempDirectory("graft-r21").toString

  private def blobDf(blobs: (Long, String)*) =
    blobs.toSeq.toDF("blob_id", "s")
      .select(col("blob_id"), col("s").cast("binary").as("data"))

  // ---------------------------------------------------- lake_compact_exec

  test("lake_compact_exec: per-bucket post-state replays exactly in plain Scala") {
    val got = LakeOps.lakeCompactExec(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap

    val docs = GraftSession.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val parts = docs.filter(_._2.length > 64).flatMap { case (id, t) =>
      t.grouped(256).map(p => (id, p))
    }
    def hexVal(c: Char): Int = "0123456789abcdef".indexOf(c)
    case class Uniq(bytes: Long, nRefsLive: Long, minBatch: Long, bucket: Long)
    val uniq = parts.groupBy(p => sha256hex(p._2.getBytes(StandardCharsets.UTF_8)))
      .map { case (h, refs) =>
        Uniq(
          bytes = refs.map(_._2.length.toLong).min,
          nRefsLive = refs.count(_._1 % 7 != 0).toLong,
          minBatch = refs.map(_._1 % 4).min,
          bucket = (hexVal(h(0)).toLong * 16 + hexVal(h(1))) % 64,
        )
      }.toSeq
    val want = uniq.groupBy(_.bucket).map { case (b, cs) =>
      val live = cs.filter(_.nRefsLive > 0)
      b -> ((
        live.size.toLong,
        live.map(_.nRefsLive).sum,
        live.map(_.bytes).sum,
        (cs.size - live.size).toLong,
        cs.map(_.minBatch).distinct.size.toLong,
        if (live.nonEmpty) 1L else 0L,
      ))
    }
    assert(got == want, "per-bucket (n_chunks, n_refs_live, bucket_bytes, n_dropped, files_before, files_after) must replay exactly")
    // the pins that make this an EXECUTION, not a plan: the before-state
    // really fragmented (some bucket holds >1 physical file) and the
    // rewrite really consolidated (every live bucket is ONE file, read
    // back via input_file_name, not asserted from the plan)
    assert(got.values.exists(_._5 > 1L), "fragmentation must be physical: some bucket has >1 file before")
    assert(got.values.forall(v => v._1 == 0L || v._6 == 1L), "every live bucket must be one consolidated file after")
    assert(got.values.map(_._4).sum > 0L, "the tombstone model must actually drop dead chunks")
  }

  // --------------------------------------- fused compact+reclaim (real store)

  test("gc: one rewrite compacts files AND reclaims dead chunks; shared chunks survive") {
    val store = ChunkStore.init(spark, tmp())
    val shared = "s" * 256 // 256-byte aligned prefix → its own chunk
    val blobA = shared + ("a" * 40) // shares chunk(shared) with B
    val blobB = shared + ("b" * 40)
    val blobC = "c" * 300 // independent, fully dead after delete
    val extras = (1L to 4L).map(i => i -> (s"extra-$i-" + ("x" * 280)))
    // six separate puts → six appends per touched bucket
    store.putBlobs(blobDf(1L -> blobA)); store.putBlobs(blobDf(2L -> blobB))
    store.putBlobs(blobDf(3L -> blobC))
    extras.foreach { case (i, s) => store.putBlobs(blobDf(10L + i -> s)) }

    def h(s: String) = sha256hex(s.getBytes(StandardCharsets.UTF_8))
    store.deleteBlobs(Seq(h(blobA), h(blobC)))
    val liveChunksExpected = store.manifest
      .join(store.liveCatalog.select("blob_hash"), Seq("blob_hash"), "left_semi")
      .select("chunk_hash").distinct().count()
    val chunksBefore = store.chunks.count()
    assert(chunksBefore > liveChunksExpected, "the deletes must strand some chunks")

    def chunkFiles() = store.maintenanceReport().head().getAs[Long]("n_chunk_files")
    val filesBefore = chunkFiles()
    store.gc()
    val filesAfter = chunkFiles()
    assert(filesAfter < filesBefore,
      s"chunks must consolidate: ${(filesBefore, filesAfter)}")

    // reclamation: dead-only chunks gone, shared chunk survives (blobB
    // still reassembles through it), tombstones cleared
    assert(store.chunks.count() == liveChunksExpected,
      "exactly the chunks referenced by a live manifest row survive")
    assert(store.tombstones.count() == 0L, "reclaim clears the tombstone table")
    assert(new String(store.getBlob(h(blobB)), StandardCharsets.UTF_8) == blobB,
      "the shared chunk must survive its co-owner's deletion")
    extras.foreach { case (_, s) =>
      assert(new String(store.getBlob(h(s)), StandardCharsets.UTF_8) == s)
    }
    intercept[BlobNotFoundException](store.getBlob(h(blobA)))
    intercept[BlobNotFoundException](store.getBlob(h(blobC)))

    // integrity on the compacted store: structure AND bytes at rest
    assert(store.fsck().filter(col("violations") > 0).count() == 0, "fsck green after compact")
    val scrub = store.scrub().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(scrub("scanned_chunks") == liveChunksExpected)
    assert(Seq("payload_hash_mismatch", "size_mismatch", "misplaced_bucket", "missing_payload")
      .forall(scrub(_) == 0L), s"scrub green after compact: $scrub")
  }

  test("maintenanceReport: fragmented+tombstoned store recommends compact_reclaim; healthy after the rewrite") {
    val store = ChunkStore.init(spark, tmp())
    // 4 put batches of 30 multi-chunk blobs: each batch touches most
    // of the 64 buckets, so buckets accumulate ~one file per batch —
    // the real append-ingest fragmentation shape
    val batches = (0 until 4).map(b =>
      (1L to 30L).map(i => (b * 100L + i) -> (s"maint-$b-$i-" + ("m" * 300))))
    batches.foreach(b => store.putBlobs(blobDf(b: _*)))
    // tombstone the first two batches: half the blobs, all-dead chunks
    store.deleteBlobs(batches.take(2).flatten.map { case (_, s) =>
      sha256hex(s.getBytes(StandardCharsets.UTF_8))
    })
    def report() = store.maintenanceReport().collect().head
    val before = report()
    assert(before.getAs[Long]("files_per_bucket_milli") > 2000L,
      s"six appends must fragment past two files/bucket: $before")
    assert(before.getAs[Long]("dead_ppm") > 300000L,
      s"half the blobs tombstoned must strand >30% of chunks: $before")
    assert(before.getAs[String]("recommend") == "compact_reclaim", before.toString)

    store.gc()
    val after = report()
    assert(after.getAs[String]("recommend") == "none", after.toString)
    assert(after.getAs[Long]("n_dead_chunks") == 0L)
    assert(after.getAs[Long]("files_per_bucket_milli") <= 2000L)
    assert(after.getAs[Long]("n_chunks") > 0L, "live chunks must survive")
  }

  // --------------------------------------- under-recorded tree_depth fallback

  test("getBlobsByHashes: an under-recorded tree_depth degrades to the probe loop, not an error") {
    val dir = tmp()
    val params = LakeParams(inlineMax = 16, chunkMax = 32, nBuckets = 8, treeFanout = 4)
    val store = ChunkStore.init(spark, dir, params = params)
    val payload = ("deep tree payload " * 60).trim // ≈1 KB → 32+ parts → depth ≥ 2
    store.putBlobs(blobDf(1L -> payload))
    val hash = sha256hex(payload.getBytes(StandardCharsets.UTF_8))
    val realDepth = store.catalog.agg(max(col("tree_depth"))).head().getInt(0)
    assert(realDepth >= 2, s"fixture must build a multi-level tree, got depth $realDepth")

    // plant the corruption: the catalog claims the tree is one level
    // shallower than it is
    val lied = store.catalog
      .withColumn("tree_depth", col("tree_depth") - 1)
      .collect().toIndexedSeq
    spark.createDataFrame(spark.sparkContext.parallelize(lied, 1), ChunkStore.catalogSchema)
      .write.mode("overwrite").parquet(s"$dir/catalog")

    val reloaded = ChunkStore.load(spark, dir, readonly = true, params = params)
    assert(reloaded.catalog.agg(max(col("tree_depth"))).head().getInt(0) == realDepth - 1)
    // availability wins: the intact tree is walked to the bottom anyway
    assert(new String(reloaded.getBlob(hash), StandardCharsets.UTF_8) == payload,
      "an intact tree must reassemble despite the lying catalog row")
  }

  // -------------------------------------------- text_langid2 (script-aware)

  test("text_langid2: planted multi-script docs route by script; Latin docs keep the stopword vote") {
    val got = operators.TextAnalysis.textLangid2(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getString(5), r.getString(6)))).toMap

    val stop = Map(
      "en" -> Set("the", "a", "and", "of", "to", "in", "is"),
      "de" -> Set("der", "die", "und", "das", "ist", "ein", "nicht"),
      "es" -> Set("el", "la", "de", "los", "y", "es", "un"),
      "fr" -> Set("le", "les", "et", "de", "un", "est", "dans"),
    )
    val docs = GraftSession.table(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(docs.nonEmpty)
    var sawHan, sawCyr, sawArab = false
    docs.foreach { case (id, text) =>
      val offset = id % 11 match {
        case 0 => Some(0x4E00); case 1 => Some(0x0430); case 2 => Some(0x0627); case _ => None
      }
      val txt = offset match {
        case Some(o) => text.map(c => if (c >= 'a' && c <= 'z') (o + (c - 'a')).toChar else c)
        case None => text
      }
      def cnt(lo: Int, hi: Int) = txt.count(c => c >= lo && c <= hi).toLong
      val (nl, nh, nc, na) = (cnt('a', 'z'), cnt(0x4E00, 0x9FFF), cnt(0x0400, 0x04FF), cnt(0x0600, 0x06FF))
      val script =
        if (nh >= nc && nh >= na && nh > nl) "han"
        else if (nc >= na && nc > nl) "cyrillic"
        else if (na > nl) "arabic"
        else "latin"
      val pred = script match {
        case "han" => sawHan = true; "zh"
        case "cyrillic" => sawCyr = true; "ru"
        case "arabic" => sawArab = true; "ar"
        case _ =>
          val ws = txt.split(' ')
          val s = Seq("en", "de", "es", "fr").map(l => l -> ws.count(w => stop(l)(w)).toLong)
          s.find { case (l, v) => s.dropWhile(_._1 != l).tail.forall(_._2 <= v) }.get._1
      }
      assert(got(id) == ((nl, nh, nc, na, script, pred)), s"doc $id: got ${got(id)}")
      if (offset.isDefined)
        assert(nl == 0L && script != "latin", s"planted doc $id must carry no Latin letters")
    }
    assert(sawHan && sawCyr && sawArab, "all three planted script classes must occur in the corpus")
  }

  // -------------------------------------------------- get_le_prime parity

  test("Sieve.getLePrime: exhaustive vs brute force to 2000, anchors to 1e6, prime-default params") {
    def isPrime(n: Int): Boolean = n >= 2 && (2 to math.sqrt(n).toInt).forall(n % _ != 0)
    var expect = 2
    for (n <- 2 to 2000) {
      if (isPrime(n)) expect = n
      assert(lake.Sieve.getLePrime(n) == expect, s"getLePrime($n)")
    }
    // anchors across the bucket-count range a store would actually use
    assert(lake.Sieve.getLePrime(100) == 97) // the rebalance candidate
    assert(lake.Sieve.getLePrime(1024) == 1021)
    assert(lake.Sieve.getLePrime(65536) == 65521)
    assert(lake.Sieve.getLePrime(1000000) == 999983)
    intercept[IllegalArgumentException](lake.Sieve.getLePrime(1))
    // documented divergence from helpers/sieve.rs: its `factor < q`
    // bound skips the isqrt(limit) factor, so the reference returns
    // the composite limit itself for odd-prime-square limits (9, 25,
    // 49); graft is correct — pin the correct values explicitly
    assert(lake.Sieve.getLePrime(9) == 7)
    assert(lake.Sieve.getLePrime(25) == 23)
    assert(lake.Sieve.getLePrime(49) == 47)
    assert(LakeParams.primeBuckets(100).nBuckets == 97)
    assert(LakeParams.primeBuckets(128, LakeParams(treeFanout = 8)).treeFanout == 8)
  }

  test("lake_rebalance's prime candidate is the derived get_le_prime(100)") {
    val buckets = LakeOps.lakeRebalance(spark, sf).collect().map(_.getLong(0)).sorted
    assert(buckets.toSeq == Seq(lake.Sieve.getLePrime(100).toLong, 128L))
  }

  // ------------------------------------------- lake-level maintenance

  test("Lake.gc and Lake.scrub fan out per store") {
    val root = tmp()
    // store 0 holds ~2 payloads then spills over to store 1
    val lake = graft.lake.Lake.init(spark, graft.lake.LakeConfig(Seq(
      graft.lake.StoreEntry(s"$root/s0", maxBytes = 900L),
      graft.lake.StoreEntry(s"$root/s1"),
    )))
    // incompressible payloads (hex chains) so the 900-byte cap actually
    // spills: deflate+GCM stores ~300 B per blob at rest
    val payloads = (1L to 6L).map(i =>
      i -> (s"lake-compact-$i-" + (1 to 5).map(k => sha256hex(s"$i:$k".getBytes)).mkString))
    payloads.foreach { case (i, s) => lake.put(blobDf(i -> s)) } // six appends
    assert(lake.stores.forall(_.catalog.count() > 0), "spill-over must engage both stores")
    def h(s: String) = sha256hex(s.getBytes(StandardCharsets.UTF_8))
    lake.delete(Seq(h(payloads.head._2)))

    def chunkFiles() = lake.maintenanceReport().collect()
      .map(r => r.getAs[String]("store") -> r.getAs[Long]("n_chunk_files")).toMap
    val filesBefore = chunkFiles()
    val report = lake.gc().collect().map(_.getAs[String]("store"))
    assert(report.toSet.size == 2, "one report block per writable store")
    val store0Chunks = (filesBefore(s"$root/s0"), chunkFiles()(s"$root/s0"))
    assert(store0Chunks._2 <= store0Chunks._1, s"files must not grow: $store0Chunks")
    // deleted blob reclaimed, the rest roundtrip through the lake
    intercept[BlobNotFoundException](lake.getBlob(h(payloads.head._2)))
    payloads.tail.foreach { case (_, s) =>
      assert(new String(lake.getBlob(h(s)), StandardCharsets.UTF_8) == s)
    }
    assert(lake.stores.forall(_.tombstones.count() == 0L))

    val scrub = lake.scrub().collect()
      .map(r => (r.getString(2), r.getString(0)) -> r.getLong(1)).toMap
    assert(scrub.keys.map(_._1).toSet.size == 2, "scrub covers every store")
    assert(scrub.filter(_._1._2 != "scanned_chunks").values.forall(_ == 0L), s"clean: $scrub")
    assert(scrub.count { case ((_, c), v) => c == "scanned_chunks" && v > 0 } == 2)
  }

  // ----------------------------------------------- ann_range and emb_rp

  test("ann_range: plain-Scala replay; band semantics differ from top-k") {
    val got = operators.VectorOps.annRange(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val vecs = GraftSession.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(x => math.floor(x.toDouble * 10000 + 0.5).toLong).toArray)
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.indices.map(i => a(i) * b(i)).sum.toDouble
      dot / (math.sqrt(a.indices.map(i => a(i) * a(i)).sum.toDouble) *
        math.sqrt(b.indices.map(i => b(i) * b(i)).sum.toDouble))
    }
    val want = for {
      (qid, qa) <- vecs if qid < 20
      (nid, qb) <- vecs if nid != qid
      c = cos(qa, qb) if c >= 0.3
    } yield (qid, nid, c)
    assert(got.toSet == want.toSet, s"got ${got.length}, want ${want.length}")
    assert(got.nonEmpty, "the 0.3 band must be populated")
    // the band is a different contract from top-k: per-query match
    // counts follow the data instead of being pinned at k
    val counts = got.groupBy(_._1).view.mapValues(_.length).values.toSet
    assert(counts.size > 1, s"in-band counts must vary across queries, got $counts")
  }

  test("emb_rp: plain-Scala replay; JL norm-preservation concentrates around 1e6 ppm") {
    val got = operators.VectorOps.embRp(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7)))).toMap
    val rnd = new scala.util.Random(11)
    val planes = Array.fill(16)(Array.fill(64)(if (rnd.nextBoolean()) 1L else -1L))
    val vecs = GraftSession.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(x => math.floor(x.toDouble * 10000 + 0.5).toLong).toArray)
    vecs.foreach { case (id, qv) =>
      val y = planes.map(p => qv.indices.map(i => qv(i) * p(i)).sum)
      val n2o = qv.map(v => v * v).sum
      val n2p = y.map(v => v * v).sum
      val want = (y(0), y(1), y(2), y(3), n2o, n2p, n2p * 62500L / n2o)
      assert(got(id) == want, s"vec $id")
    }
    // JL concentration: the mean norm ratio sits near 1e6 ppm and the
    // bulk of vectors inside ±50% (16 dims is coarse; the bound is
    // loose by design — this is a sanity pin, not the lemma's ε)
    val ratios = got.values.map(_._7).toSeq
    val mean = ratios.sum / ratios.size
    assert(mean > 800000L && mean < 1200000L, s"mean ratio_ppm $mean")
    val inBand = ratios.count(r => r > 500000L && r < 1500000L)
    assert(inBand * 10 >= ratios.size * 8, s"≥80% within ±50%: $inBand/${ratios.size}")
  }

  test("ann_rp: degenerates to exact brute force at a corpus-wide shortlist; useful recall at the default 32k/32-dim point") {
    val data = GraftSession.table(spark, sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding"))
    val qs = data.filter(col("id") < 20)
    val bf = operators.VectorOps.annBruteforce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // shortlistFactor = corpus/k → the shortlist IS the corpus, so the
    // exact re-rank must reproduce brute force bit-for-bit
    val n = data.count().toInt
    val full = operators.VectorOps.annRpPrefilter(data, qs, 5, shortlistFactor = n).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(full.toSeq == bf.toSeq, "full-shortlist RP prefilter must equal brute force exactly")
    // the operating point: 32k shortlist from 32-dim integer scoring.
    // Measured grid (this corpus): 0.39@(16,8) … 0.89@(32,32); at
    // sf0.1 the same point reads 0.75 — the price of the zero-training
    // code vs trained PQ. Pin below the measured 0.89 with margin.
    val got = operators.VectorOps.annRpPrefilter(data, qs, 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val truth = bf.map(r => (r._1, r._3)).toSet
    val recall = got.intersect(truth).size.toDouble / truth.size
    assert(recall >= 0.8, s"recall@5 through the JL shortlist: $recall")
  }

  // -------------------------------------------------------- dataset card

  test("pipeline_dataset_card: per-source card replays exactly in plain Scala") {
    val got = operators.Pipeline.datasetCard(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8), r.getLong(9),
        r.getLong(10), r.getString(11)))).toMap
    val docs = GraftSession.table(spark, sf, "documents")
      .select(col("source"), col("lang"), col("text")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val corpusBytes = docs.map(_._3.length.toLong).sum
    val want = docs.groupBy(_._1).map { case (src, rows) =>
      val nDocs = rows.length.toLong
      val dups = nDocs - rows.map(_._3).distinct.length
      val toks = rows.map(_._3.split(' ').length.toLong)
      val bytes = rows.map(_._3.length.toLong).sum
      val topLang = rows.groupBy(_._2).toSeq
        .map { case (l, rs) => (l, rs.length) }
        .sortBy { case (l, c) => (-c, l) }.head._1
      src -> ((nDocs, dups, dups * 1000000L / nDocs, toks.sum,
        toks.sum * 1000L / nDocs, toks.min, toks.max, bytes,
        bytes * 1000000L / corpusBytes, rows.map(_._2).distinct.length.toLong, topLang))
    }
    assert(got == want)
    assert(got.size > 1, "multiple sources must be present for the card to mean anything")
  }

  // ------------------------------------------- point-read cache hygiene

  test("getBlobsByHashes leaves no cached blocks behind") {
    val store = ChunkStore.init(spark, tmp())
    val payloads = (1L to 3L).map(i => i -> (s"cache-hygiene-$i-" + ("q" * 300)))
    store.putBlobs(blobDf(payloads: _*))
    val hashes = payloads.map { case (_, s) => sha256hex(s.getBytes(StandardCharsets.UTF_8)) }
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = store.getBlobsByHashes(hashes).collect()
    assert(got.length == 3 && got.forall(_.getAs[Boolean]("verified")))
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert((after -- before).isEmpty,
      s"point reads must not grow the block manager: leaked RDDs ${after -- before}")
  }
}
