package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.lake._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LakeSpec extends AnyFunSuite {
  import LakeSpec._
  import TestSpark.spark
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-lake").toString

  private def blobDf(blobs: (Long, String)*) =
    blobs.toSeq.toDF("blob_id", "s").select(col("blob_id"), col("s").cast("binary").as("data"))

  private val tiny = "short blob" // inline (≤64)
  private val mid = "m" * 200 // single chunk
  private val big = ("the quick brown fox " * 40).trim // tree (800 B → 4 parts)

  test("put/get roundtrip across the whole size ladder") {
    val store = ChunkStore.init(spark, tmp())
    val res = store.putBlobs(blobDf(1L -> tiny, 2L -> mid, 3L -> big))
    assert(res.blobs.map(_.kind).sorted == Seq("inline", "single", "tree"))
    res.blobs.foreach { b =>
      val back = new String(store.getBlob(b.blobHash), StandardCharsets.UTF_8)
      assert(Set(tiny, mid, big).contains(back), s"roundtrip failed for ${b.kind}")
      assert(back.length.toLong == b.totalLen)
    }
  }

  test("compact: many small puts collapse to few files, contents and fsck intact") {
    val store = ChunkStore.init(spark, tmp())
    val payloads = (1L to 8L).map(i => i -> (s"payload-$i-" + ("z" * 300)))
    payloads.foreach { case (i, s) => store.putBlobs(blobDf(i -> s)) } // 8 separate appends
    val hashes = store.catalog.select("blob_hash").as[String].collect().toSeq
    val report = store.compact().collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    report.foreach { case (t, (before, after)) =>
      assert(after < before, s"$t: $before -> $after files")
    }
    // contents untouched: every blob still roundtrips, audit stays clean
    payloads.foreach { case (i, s) =>
      val h = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
      assert(hashes.contains(h))
      assert(new String(store.getBlob(h), StandardCharsets.UTF_8) == s)
    }
    assert(store.fsck().filter(col("violations") > 0).count() == 0)
  }

  test("fault injection: a rewrite stopped before or after its publish loses nothing") {
    val dir = tmp()
    val root = Paths.get(dir)
    val store = ChunkStore.init(spark, dir)
    val payloads = Seq(tiny, mid, big, "fault-" + ("y" * 300))
    store.putBlobs(blobDf(payloads.zipWithIndex.map { case (s, i) => i.toLong -> s }: _*))
    val dead = "deleted before the rewrites " * 10
    store.putBlobs(blobDf(9L -> dead))
    assert(store.deleteBlobs(Seq(sha(dead))) == 1)
    // every blob byte-identical and fsck clean, through a writable
    // handle, a readonly one and a lake entry opened readonly, by point
    // and by bulk reads; the deleted blob reads through neither
    val wanted = (payloads :+ dead).map(sha).toDF("blob_hash")
    def bulk(rows: org.apache.spark.sql.DataFrame) =
      rows.collect().map(r => r.getString(0) -> new String(r.getAs[Array[Byte]](1), StandardCharsets.UTF_8)).toMap
    def intact(): Unit = {
      Seq(ChunkStore.load(spark, dir, readonly = false), ChunkStore.load(spark, dir, readonly = true)).foreach { s =>
        payloads.foreach(p => assert(new String(s.getBlob(sha(p)), StandardCharsets.UTF_8) == p))
        intercept[BlobNotFoundException](s.getBlob(sha(dead)))
        assert(bulk(s.getBlobs(wanted)) == payloads.map(p => sha(p) -> p).toMap)
        assert(s.fsck().filter(col("violations") > 0).count() == 0)
      }
      val lake = Lake.init(spark, LakeConfig(Seq(StoreEntry(dir, readonly = true))))
      payloads.foreach(p => assert(new String(lake.getBlob(sha(p)), StandardCharsets.UTF_8) == p))
      assert(bulk(lake.get(wanted)) == payloads.map(p => sha(p) -> p).toMap)
    }
    def copy(src: String, dst: String): Unit = {
      val (from, to) = (root.resolve(src), root.resolve(dst))
      Files.walk(from).forEach { p =>
        val q = to.resolve(from.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
      }
    }
    def exists(name: String) = Files.exists(root.resolve(name))

    // stopped before publish: a partial next generation in the temp dir
    copy("chunks", "_GRAFT_REWRITE/chunks")
    copy("manifest", "_GRAFT_REWRITE/manifest")
    intact()
    store.compact(): Unit // the next rewrite removes the debris
    assert(!exists("_GRAFT_REWRITE") && exists("gen-1") && exists("catalog"))
    intact()

    // stopped after publish: generation 2 is out, the older ones are
    // still on disk
    copy("gen-1", "gen-2")
    intact()
    store.gc(): Unit
    assert(Seq("chunks", "manifest", "catalog", "tombstones", "gen-1").forall(!exists(_)), "older generations remain")
    assert(exists("gen-2") && exists("gen-3"), "the replaced generation must stay for its readers")
    intact()
  }

  test("a store left mid-swap by the earlier table-swap protocol is refused by writers, not rewritten") {
    val dir = tmp()
    val root = Paths.get(dir)
    val store = ChunkStore.init(spark, dir)
    store.putBlobs(blobDf(1L -> tiny, 2L -> mid, 3L -> big))
    // that protocol's committed temp dir, with the catalog renamed aside
    // and its new copy not yet renamed in
    Files.createDirectories(root.resolve(".compact_tmp/catalog"))
    Files.list(root.resolve("catalog")).forEach(p => Files.copy(p, root.resolve(".compact_tmp/catalog").resolve(p.getFileName)))
    Files.createFile(root.resolve(".compact_tmp/_COMMIT"))
    Files.move(root.resolve("catalog"), root.resolve("catalog.old"))
    val writers = Seq(store, ChunkStore.load(spark, dir, readonly = false))
    writers.foreach { s =>
      Seq[() => Any](() => s.gc(), () => s.compact(), () => s.putBlobs(blobDf(4L -> "after the swap")),
        () => s.deleteBlobs(Seq(sha(mid)))).foreach { op =>
        val e = intercept[IllegalStateException](op())
        assert(e.getMessage.contains("catalog.old") && e.getMessage.contains(".compact_tmp"))
      }
    }
    assert(Files.exists(root.resolve("catalog.old")) && Files.exists(root.resolve(".compact_tmp/_COMMIT")))
    assert(Files.exists(root.resolve("chunks")) && !Files.exists(root.resolve("catalog")) && !Files.exists(root.resolve("gen-1")))
    // once recovered (here by hand, as that protocol's recovery would),
    // the store is usable again
    Files.move(root.resolve("catalog.old"), root.resolve("catalog"))
    Files.walk(root.resolve(".compact_tmp")).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    store.gc(): Unit
    Seq(tiny, mid, big).foreach(p => assert(new String(store.getBlob(sha(p)), StandardCharsets.UTF_8) == p))
  }

  test("a frame resolved before a rewrite keeps reading its generation; a readonly reader never sees a table missing") {
    val dir = tmp()
    val store = ChunkStore.init(spark, dir)
    store.putBlobs(blobDf(1L -> tiny, 2L -> mid, 3L -> big))
    val hashes = Seq(tiny, mid, big).map(sha)
    val ro = ChunkStore.load(spark, dir, readonly = true)
    val lake = Lake.init(spark, LakeConfig(Seq(StoreEntry(dir, readonly = true))))
    // (blobs, catalog, chunks), each a frame over the current generation
    def frames() = Seq(ro.getBlobsByHashes(hashes), ro.catalog, ro.chunks)
    def check(f: Seq[org.apache.spark.sql.DataFrame]): Unit = {
      val blobs = f(0).collect().map(r => r.getString(0) -> new String(r.getAs[Array[Byte]](1), StandardCharsets.UTF_8)).toMap
      assert(blobs == hashes.zip(Seq(tiny, mid, big)).toMap)
      assert(f(1).count() == 3 && f(2).count() > 0)
    }
    val before = frames()
    store.gc(): Unit
    check(before) // generation 0, kept for its readers
    val between = frames()
    store.compact(): Unit
    check(between)
    check(frames())
    hashes.zip(Seq(tiny, mid, big)).foreach { case (h, s) =>
      assert(new String(ro.getBlob(h), StandardCharsets.UTF_8) == s)
      assert(new String(lake.getBlob(h), StandardCharsets.UTF_8) == s)
    }
  }

  test("readers never see a partial store while gc and compact run") {
    val (p0, p1) = (tmp(), tmp())
    val lake = Lake.init(spark, LakeConfig(Seq(StoreEntry(p0), StoreEntry(p1))))
    val victim = "v" * 150 // a single chunk, deleted midway
    lake.stores(0).putBlobs(blobDf(1L -> tiny, 2L -> mid, 3L -> victim))
    lake.stores(1).putBlobs(blobDf(4L -> big))
    val readonly = Lake.init(spark, LakeConfig(Seq(StoreEntry(p0, readonly = true), StoreEntry(p1, readonly = true))))
    val live = Seq(tiny, mid, big).map(s => sha(s) -> s.getBytes(StandardCharsets.UTF_8)).toMap
    val (hVictim, hMiss) = (sha(victim), sha("in no store"))
    val all = (live.keys.toSeq :+ hVictim :+ hMiss).toDF("blob_hash")
    val deleted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val rounds = new java.util.concurrent.atomic.AtomicInteger()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // a read of the victim may return it only before its delete is
    // acknowledged, and only byte-identical
    def victimOk(gone: Boolean, got: Option[Array[Byte]]) =
      got.forall(b => !gone && java.util.Arrays.equals(b, victim.getBytes(StandardCharsets.UTF_8)))
    val reader = new Thread(() =>
      while (!done.get()) {
        Seq("writable" -> lake, "readonly" -> readonly).foreach { case (name, l) =>
          def read(h: String) = try Some(l.getBlob(h)) catch { case _: BlobNotFoundException => None }
          try {
            val gone = deleted.get()
            live.foreach { case (h, b) =>
              if (!read(h).exists(java.util.Arrays.equals(_, b))) errors.add(s"$name getBlob($h): miss or wrong bytes")
            }
            if (read(hMiss).nonEmpty) errors.add(s"$name getBlob: an absent hash read back")
            if (!victimOk(gone, read(hVictim))) errors.add(s"$name getBlob: the deleted blob read back (acknowledged: $gone)")
            val got = l.get(all).collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
            live.foreach { case (h, b) =>
              if (!got.get(h).exists(java.util.Arrays.equals(_, b))) errors.add(s"$name get($h): miss or wrong bytes")
            }
            if (got.contains(hMiss)) errors.add(s"$name get: an absent hash read back")
            if (!victimOk(gone, got.get(hVictim))) errors.add(s"$name get: the deleted blob read back (acknowledged: $gone)")
          } catch { case e: Exception => errors.add(s"$name: $e") }
        }
        rounds.incrementAndGet()
      })
    reader.setDaemon(true)
    reader.start()
    try {
      lake.gc(): Unit
      lake.compact(): Unit
      lake.gc(): Unit
      assert(lake.delete(Seq(hVictim)) == 1)
      deleted.set(true)
      lake.gc(): Unit
      val r = rounds.get()
      while (rounds.get() < r + 2 && reader.isAlive) Thread.sleep(50) // rounds on the final state
    } finally {
      done.set(true)
      reader.join()
    }
    assert(errors.isEmpty, errors.asScala.take(5).mkString("; "))
    assert(rounds.get() >= 3, s"the reader ran only ${rounds.get()} rounds")
  }

  test("write lock: a writer that outlasts the lock TTL keeps its lock") {
    val p = tmp()
    val ttl = 1000L
    val holder = ChunkStore.init(spark, p).withLockTtl(ttl)
    val other = ChunkStore.load(spark, p, readonly = false).withLockTtl(ttl)
    val (held, release) = (new java.util.concurrent.CountDownLatch(1), new java.util.concurrent.CountDownLatch(1))
    val writer = new Thread(() => holder.withWriteLock { held.countDown(); release.await() })
    writer.start()
    try {
      held.await()
      Thread.sleep(3 * ttl)
      intercept[StoreLockedException](other.putBlobs(blobDf(1L -> tiny)))
    } finally {
      release.countDown()
      writer.join()
    }
    other.putBlobs(blobDf(1L -> tiny))
    assert(other.catalog.count() == 1)
  }

  test("idempotent put: same content twice stores chunks once") {
    val store = ChunkStore.init(spark, tmp())
    store.putBlobs(blobDf(1L -> big))
    val n1 = store.chunks.count()
    store.putBlobs(blobDf(9L -> big))
    assert(store.chunks.count() == n1, "re-put must not add chunks")
    assert(store.catalog.count() == 1)
  }

  test("shared chunks dedup across different blobs (through convergent encryption)") {
    val store = ChunkStore.init(spark, tmp())
    // two blobs sharing their first 256-byte part; convergent encryption
    // must keep the shared part's ciphertext identical → stored once
    val shared = "x" * 256
    store.putBlobs(blobDf(1L -> (shared + "tailA" * 20), 2L -> (shared + "tailB" * 20)))
    val hashes = store.chunks.select("chunk_hash").as[String].collect()
    assert(hashes.length == hashes.distinct.length)
    assert(store.manifest.filter(col("level") === 0).count() == 4, "2 blobs × 2 parts")
    assert(store.manifest.filter(col("level") === 1).count() == 2, "one manifest node per tree blob")
    assert(store.chunks.filter(col("data").isNotNull).count() == 5, "3 unique parts + 2 tree nodes")
  }

  test("chunks are encrypted at rest; keys decrypt them; raw fallback for incompressible parts") {
    val store = ChunkStore.init(spark, tmp())
    val compressible = "repeat me " * 30 // 300 B of text → deflate+GCM < raw
    val rnd = new scala.util.Random(42)
    val incompressible = Array.fill[Byte](300)(rnd.nextInt().toByte) // random bytes grow under deflate+GCM
    store.putBlobs(
      Seq((1L, compressible.getBytes(StandardCharsets.UTF_8)), (2L, incompressible))
        .toDF("blob_id", "data"),
    )
    val encRows = store.chunks.filter(col("enc") === "gcm")
    val rawRows = store.chunks.filter(col("enc") === "raw")
    assert(encRows.count() > 0, "compressible parts must be stored encrypted")
    assert(rawRows.count() > 0, "incompressible parts must fall back to raw")
    // ciphertext at rest: no stored gcm payload equals any plaintext part
    val plainParts = Set(compressible.substring(0, 256), compressible.substring(256))
    encRows.select("data").as[Array[Byte]].collect().foreach { d =>
      assert(!plainParts.contains(new String(d, StandardCharsets.UTF_8)), "plaintext at rest")
    }
    // and the manifest key decrypts back to the plaintext part
    val dec = store.manifest
      .filter(col("level") === 0 && col("key").isNotNull)
      .join(store.chunks.filter(col("enc") === "gcm"), Seq("chunk_hash", "bucket"))
      .select(Convergent.decryptDeflated(col("data"), unhex(col("key"))).cast("string").as("part"))
      .as[String].collect()
    assert(dec.nonEmpty && dec.forall(p => compressible.contains(p)))
    // both roundtrip
    val hashes = store.catalog.select("blob_hash").as[String].collect()
    hashes.foreach(h => assert(store.getBlob(h).nonEmpty))
  }

  test("recursive manifest: many-part blob builds a multi-level tree and roundtrips") {
    val p = LakeParams(inlineMax = 4, chunkMax = 8, treeFanout = 4)
    val store = ChunkStore.init(spark, tmp(), params = p)
    // 600 B → 75 parts → fanout 4: 75 → 19 → 5 → 2 → 1 = depth 4
    val payload = (0 until 75).map(i => f"part$i%04d").mkString
    val res = store.putBlobs(blobDf(1L -> payload))
    val h = res.blobs.head.blobHash
    val depth = store.catalog.select("tree_depth").as[Int].head()
    assert(depth >= 2, s"expected a multi-level tree, got depth $depth")
    assert(store.manifest.filter(col("level") === 2).count() > 0)
    assert(new String(store.getBlob(h), StandardCharsets.UTF_8) == payload)
    // bulk path agrees with the tree path
    val bulk = store.getBlobs(Seq(h).toDF("blob_hash")).select("data").as[Array[Byte]].head()
    assert(new String(bulk, StandardCharsets.UTF_8) == payload)
  }

  test("fsck: healthy store is all-zero; corruption is detected") {
    val store = ChunkStore.init(spark, tmp())
    store.putBlobs(blobDf(1L -> tiny, 2L -> mid, 3L -> big))
    val healthy = store.fsck().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(healthy.values.forall(_ == 0L), s"healthy store reported: $healthy")
    // corrupt: delete the chunks dir → every manifest row dangles
    val chunksPath = Paths.get(store.path, "chunks")
    Files.walk(chunksPath).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(f => Files.delete(f))
    val broken = store.fsck().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(broken("manifest_missing_chunks") > 0)
  }

  test("fsck: under-recorded tree_depth is surfaced even though the read path tolerates it") {
    val store = ChunkStore.init(spark, tmp())
    val h = store.putBlobs(blobDf(1L -> big)).blobs.head.blobHash
    // corrupt the catalog in place: record the tree one level shallower
    // than it is — exactly the class the depth-bounded walk degrades on
    val rows = store.catalog.collect().toIndexedSeq.map { r =>
      val d = r.getInt(r.fieldIndex("tree_depth"))
      org.apache.spark.sql.Row(r(0), r(1), r(2), r(3), r(4), r(5), r(6), math.max(0, d - 1))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows), ChunkStore.catalogSchema)
      .write.mode("overwrite").parquet(s"${store.path}/catalog")
    val reloaded = ChunkStore.load(spark, store.path, readonly = false)
    val rep = reloaded.fsck().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep("catalog_tree_depth_mismatch") == 1, s"depth mismatch must be flagged: $rep")
    assert(rep.count(_._2 > 0) == 1, s"only the depth check may fire: $rep")
    // availability wins on the read path: the depth-agnostic fallback
    // walk still reconstructs the blob the audit just flagged
    assert(new String(reloaded.getBlob(h), StandardCharsets.UTF_8) == big)
  }

  test("delete + gc: tombstone hides the blob, gc reclaims unique chunks, shared chunks survive") {
    val store = ChunkStore.init(spark, tmp())
    val shared = "x" * 256
    val a = shared + ("tailA" * 20)
    val b = shared + ("tailB" * 20)
    val ha = store.putBlobs(blobDf(1L -> a)).blobs.head.blobHash
    val hb = store.putBlobs(blobDf(2L -> b)).blobs.head.blobHash
    val chunksBefore = store.chunks.count()

    assert(store.deleteBlobs(Seq(ha)) == 1)
    assert(store.deleteBlobs(Seq(ha)) == 0, "tombstoning is idempotent")
    intercept[BlobNotFoundException] { store.getBlob(ha) }
    assert(!store.containsBlob(ha) && store.containsBlob(hb))
    assert(new String(store.getBlob(hb), StandardCharsets.UTF_8) == b, "sibling blob unaffected by tombstone")

    val stats = store.gc().collect().head
    assert(stats.getAs[Long]("blobs_deleted") == 1)
    // a's unique tail part + a's manifest node go; the shared first
    // part must survive (b's manifest still references it)
    assert(stats.getAs[Long]("chunks_reclaimed") == 2, s"reclaimed ${stats.getAs[Long]("chunks_reclaimed")}")
    assert(store.chunks.count() == chunksBefore - 2)
    assert(store.tombstones.count() == 0, "gc clears tombstones")
    assert(new String(store.getBlob(hb), StandardCharsets.UTF_8) == b, "sibling blob survives gc")
    val fsckAfter = store.fsck().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fsckAfter.values.forall(_ == 0L), s"gc left inconsistencies: $fsckAfter")

    // deleted content can be re-put and read again
    store.putBlobs(blobDf(3L -> a))
    assert(new String(store.getBlob(ha), StandardCharsets.UTF_8) == a)
  }

  test("write lock: concurrent writer is refused, stale lock is taken over, put releases") {
    val store = ChunkStore.init(spark, tmp())
    val lock = Paths.get(store.path, "_GRAFT_WRITE_LOCK")
    // a fresh foreign lock refuses the put
    Files.write(lock, "pid=9999 ts=now".getBytes(StandardCharsets.UTF_8))
    intercept[StoreLockedException] { store.putBlobs(blobDf(1L -> tiny)) }
    // a stale lock (crashed writer) is taken over
    Files.setLastModifiedTime(
      lock,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ChunkStore.LockTtlMs - 1000),
    )
    store.putBlobs(blobDf(1L -> tiny))
    assert(store.catalog.count() == 1)
    // and a successful put releases the lock
    assert(!Files.exists(lock))
  }

  test("readonly store rejects writes") {
    val p = tmp()
    ChunkStore.init(spark, p)
    val ro = ChunkStore.load(spark, p, readonly = true)
    intercept[StoreReadOnlyException](ro.putBlobs(blobDf(1L -> mid)))
  }

  test("magic verification rejects non-store dirs and corrupted markers") {
    val p = tmp()
    intercept[InvalidMagicException](ChunkStore.load(spark, p, readonly = false))
    Files.write(Paths.get(p, "_GRAFT_STORE"), "not the magic".getBytes)
    intercept[InvalidMagicException](ChunkStore.load(spark, p, readonly = false))
  }

  test("capacity: put exceeding maxBytes raises OutOfSpace before writing") {
    val store = ChunkStore.init(spark, tmp(), maxBytes = 100)
    intercept[StoreOutOfSpaceException](store.putBlobs(blobDf(1L -> big)))
    assert(store.chunks.count() == 0, "failed put must not leave partial chunks")
    // nor any other row, nor lift a tombstone of a blob in the batch
    store.putBlobs(blobDf(2L -> tiny))
    assert(store.deleteBlobs(Seq(sha256hex(tiny.getBytes(StandardCharsets.UTF_8)))) == 1)
    def rows() = Seq(store.chunks, store.manifest, store.catalog, store.tombstones).map(rowsOf)
    val before = rows()
    intercept[StoreOutOfSpaceException](store.putBlobs(blobDf(1L -> big, 2L -> tiny)))
    assert(rows() == before, "a refused put changed the store")
  }

  test("lake routes puts past full stores (spill-over) and reads across stores") {
    val (p1, p2) = (tmp(), tmp())
    val cfg = LakeConfig(Seq(StoreEntry(p1, maxBytes = 300), StoreEntry(p2)))
    val lake = Lake.init(spark, cfg)
    // fills p1 (200 B mid fits; big 800 B spills to p2)
    val r1 = lake.put(blobDf(1L -> mid))
    val r2 = lake.put(blobDf(2L -> big))
    assert(lake.stores(0).containsBlob(r1.blobs.head.blobHash))
    assert(!lake.stores(0).containsBlob(r2.blobs.head.blobHash))
    assert(lake.stores(1).containsBlob(r2.blobs.head.blobHash))
    // fallback read finds both wherever they live
    assert(new String(lake.getBlob(r1.blobs.head.blobHash), StandardCharsets.UTF_8) == mid)
    assert(new String(lake.getBlob(r2.blobs.head.blobHash), StandardCharsets.UTF_8) == big)
    // bulk get across stores
    val got = lake.get(Seq(r1.blobs.head.blobHash, r2.blobs.head.blobHash).toDF("blob_hash"))
    assert(got.count() == 2)
    assert(got.filter(!col("verified")).count() == 0)
  }

  test("lake with no writable store raises LakeOutOfStores") {
    val p = tmp()
    ChunkStore.init(spark, p)
    val lake = Lake.init(spark, LakeConfig(Seq(StoreEntry(p, readonly = true))))
    val e = intercept[LakeOutOfStoresException](lake.put(blobDf(1L -> mid)))
    assert(e.getCause.isInstanceOf[StoreReadOnlyException], s"cause: ${e.getCause}")
  }

  test("a full hot store before a readonly archive: LakeOutOfStores carries the OutOfSpace") {
    val archive = tmp()
    ChunkStore.init(spark, archive)
    val lake = Lake.init(spark, LakeConfig(Seq(StoreEntry(tmp(), maxBytes = 100), StoreEntry(archive, readonly = true))))
    val e = intercept[LakeOutOfStoresException](lake.put(blobDf(1L -> big)))
    assert(e.getCause.isInstanceOf[StoreOutOfSpaceException], s"cause: ${e.getCause}")
  }

  test("config TOML round-trip preserves entries") {
    val cfg = LakeConfig(Seq(StoreEntry("/a", readonly = true), StoreEntry("/b", maxBytes = 12345)))
    val back = LakeConfig.fromToml(cfg.toToml)
    assert(back == cfg)
    // trailing comments, and a `#` that is part of a quoted filename
    val commented = LakeConfig.fromToml(
      "# the lake\n[[stores]]  # hot\nfilename = \"/a\"  # c\nreadonly = true  # archive\n\n" +
        "[[stores]]\nfilename = \"/b#2\" # capped\nmax_bytes = 1000  # cap\nsize_hint = 3 # unknown keys are ignored\n")
    assert(commented == LakeConfig(Seq(StoreEntry("/a", readonly = true), StoreEntry("/b#2", maxBytes = 1000))))
    // malformed values are refused, naming the line
    for ((line, what) <- Seq("readonly = yes" -> "readonly", "max_bytes = 1k" -> "max_bytes")) {
      val e = intercept[IllegalArgumentException](LakeConfig.fromToml(s"[[stores]]\nfilename = \"/a\"\n$line\n"))
      assert(e.getMessage.contains("line 3") && e.getMessage.contains(what) && e.getMessage.contains(line), e.getMessage)
    }
  }

  test("convergent encryption is deterministic (same content → same ciphertext)") {
    val df = Seq("payload one", "payload one", "payload two")
      .toDF("s")
      .select(lake.Convergent.encrypt(col("s")).as("ct"))
    val cts = df.select(hex(col("ct"))).as[String].collect()
    assert(cts(0) == cts(1), "equal plaintexts must encrypt identically")
    assert(cts(0) != cts(2))
  }

  test("file ingest: whole files land content-addressed and read back identical") {
    val dataDir = Files.createTempDirectory("graft-ingest")
    val f1 = dataDir.resolve("a.bin"); Files.write(f1, ("file one " * 40).getBytes)
    val f2 = dataDir.resolve("b.bin"); Files.write(f2, "tiny".getBytes)
    val lake = Lake.init(spark, LakeConfig(Seq(StoreEntry(tmp()))))
    val (res, mapping) = sources.Ingest.ingestFiles(lake, dataDir.toString + "/*.bin")
    assert(res.blobs.size == 2)
    val m = mapping.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m.size == 2)
    m.foreach { case (path, hash) =>
      val orig = Files.readAllBytes(Paths.get(path.stripPrefix("file:")))
      assert(java.util.Arrays.equals(lake.getBlob(hash), orig), s"roundtrip $path")
    }
  }

  test("readAuto/writeAuto roundtrip csv and json with schema intact") {
    val base = Files.createTempDirectory("graft-fmt").toString
    val df = Seq((1L, "alpha", 1.5), (2L, "beta", -2.25)).toDF("id", "name", "score")
    for (ext <- Seq("csv", "json")) {
      val p = s"$base/t.$ext"
      sources.Ingest.writeAuto(df, p)
      val back = sources.Ingest.readAuto(spark, p).orderBy("id")
      assert(back.count() == 2)
      val r = back.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("name"), r.getAs[Double]("score")))
      assert(r.toSeq == Seq((1L, "alpha", 1.5), (2L, "beta", -2.25)), s"$ext roundtrip")
    }
  }

  test("catalog: lake views registered and describable") {
    val lake = Lake.init(spark, LakeConfig(Seq(StoreEntry(tmp()), StoreEntry(tmp(), readonly = false))))
    lake.put(blobDf(1L -> big))
    LakeCatalog.register(lake, "lakespec")
    val tables = LakeCatalog.lakeTables(spark, "lakespec")
    assert(tables.contains("lakespec_chunks") && tables.contains("lakespec_s1_catalog"), tables.mkString(","))
    assert(spark.sql("SELECT count(*) FROM lakespec_chunks").head.getLong(0) > 0)
    val d = LakeCatalog.describe(lake).collect()
    assert(d.length == 2)
    assert(d.map(_.getAs[Long]("n_blobs")).sum == 1)
  }

  test("LakeCatalog.describe: one aggregate per store, each row equal to the store's separate counts") {
    val lake = Lake.init(spark, LakeConfig(Seq(StoreEntry(tmp()), StoreEntry(tmp()))))
    lake.put(blobDf(1L -> tiny, 2L -> mid, 3L -> big))
    lake.stores(1).putBlobs(blobDf(4L -> "another inline blob", 5L -> ("q" * 300)))
    assert(lake.delete(Seq(sha(mid), sha(tiny))) == 2)
    def separate(s: ChunkStore) = (s.catalog.count(), s.chunks.count(), s.currentBytes)
    def check(when: String): Unit = {
      var rows = Array.empty[Row]
      val jobs = jobLog(s"describe-$when") { rows = LakeCatalog.describe(lake).collect() }
      // one aggregate per store: its shuffle stage and its result
      assert(jobs.size == 2 * lake.stores.size, s"$when: ${jobs.size} jobs for ${lake.stores.size} stores")
      assert(rows.toSeq.map(r => (r.getAs[Long]("n_blobs"), r.getAs[Long]("n_chunks"), r.getAs[Long]("bytes"))) ==
        lake.stores.map(separate), when)
      assert(rows.toSeq.map(r => (r.getAs[Int]("store_priority"), r.getAs[String]("path"), r.getAs[Boolean]("readonly"))) ==
        lake.stores.zipWithIndex.map { case (s, i) => (i, s.path, false) }, when)
    }
    check("with tombstones")
    assert(lake.stores(0).catalog.count() == 3, "n_blobs counts the raw catalog, tombstoned blobs included")
    lake.gc(): Unit
    check("after gc")
    assert(lake.stores(0).catalog.count() == 1)
  }

  test("ChunkStore.init refuses a store of another bucket count and leaves it readable") {
    val p = tmp()
    val store = ChunkStore.init(spark, p, params = LakeParams.primeBuckets(100))
    store.putBlobs(blobDf(1L -> big))
    val e = intercept[IllegalArgumentException](ChunkStore.init(spark, p))
    assert(e.getMessage.contains("97") && e.getMessage.contains("64"), e.getMessage)
    assert(new String(ChunkStore.load(spark, p, readonly = true).getBlob(sha(big)), StandardCharsets.UTF_8) == big)
    assert(ChunkStore.load(spark, p, readonly = true).scrub().filter(col("violations") > 0 && col("check") =!= "scanned_chunks").count() == 0)
    // the same count is still allowed
    assert(new String(ChunkStore.init(spark, p, params = LakeParams.primeBuckets(100)).getBlob(sha(big)), StandardCharsets.UTF_8) == big)
  }

  test("replicateTo: missing blobs copy by content address, shared chunks dedup, idempotent") {
    val a = ChunkStore.init(spark, tmp())
    val b = ChunkStore.init(spark, tmp())
    a.putBlobs(blobDf(1L -> tiny, 2L -> mid, 3L -> big))
    b.putBlobs(blobDf(1L -> mid)) // overlap: `mid` already present in target
    assert(a.diff(b).filter(col("status") === "only_here").count() == 2)

    val copied = a.replicateTo(b)
    assert(copied == 2, s"expected 2 missing blobs copied, got $copied")
    // every blob now reads back from the target byte-identically
    Seq(tiny, mid, big).foreach { s =>
      val h = a.catalog.filter(col("total_len") === s.length).select("blob_hash").as[String].head()
      assert(new String(b.getBlob(h), StandardCharsets.UTF_8) == s)
    }
    // fully in sync, target store healthy, no duplicated chunk rows
    assert(a.diff(b).filter(col("status") =!= "in_sync").count() == 0)
    assert(b.fsck().filter(col("violations") > 0).count() == 0)
    // idempotent: nothing left to copy, chunk count stable
    val chunksBefore = b.chunks.count()
    assert(a.replicateTo(b) == 0)
    assert(b.chunks.count() == chunksBefore)
  }

  test("replicateTo and diff respect tombstones: deletes do not resurrect") {
    val a = ChunkStore.init(spark, tmp())
    a.putBlobs(blobDf(1L -> tiny, 2L -> mid, 3L -> big))
    val delHash = a.catalog.filter(col("total_len") === mid.length).select("blob_hash").as[String].head()
    assert(a.deleteBlobs(Seq(delHash)) == 1)

    // fresh-target replicate ships only the live blobs
    val b = ChunkStore.init(spark, tmp())
    assert(a.replicateTo(b) == 2, "tombstoned blob must not replicate")
    assert(!b.containsBlob(delHash), "deleted blob resurrected in replica")
    assert(a.diff(b).filter(col("status") =!= "in_sync").count() == 0)
    assert(b.manifest.filter(col("blob_hash") === delHash).count() == 0, "deleted blob's manifest rows shipped")
    assert(b.fsck().filter(col("violations") > 0).count() == 0, "replica holds rows of no live blob")

    // target that already holds the blob live: diff reports only_other
    // (live views), and replicate does not push the delete
    val c = ChunkStore.init(spark, tmp())
    c.putBlobs(blobDf(2L -> mid))
    assert(a.diff(c).filter(col("blob_hash") === delHash)
      .select("status").as[String].head() == "only_other")
    a.replicateTo(c)
    assert(c.containsBlob(delHash), "replicate is additive, not a delete-sync")

    // target that tombstoned the blob itself: replicate must not
    // resurrect it there (anti-join keys on the raw target catalog)
    val d = ChunkStore.init(spark, tmp())
    d.putBlobs(blobDf(2L -> mid))
    d.deleteBlobs(Seq(delHash))
    val a2 = ChunkStore.init(spark, tmp())
    a2.putBlobs(blobDf(2L -> mid))
    assert(a2.replicateTo(d) == 0)
    assert(!d.containsBlob(delHash), "target's own delete must stay deleted")
  }

  test("replicateTo honors the target capacity gate and readonly flag") {
    val a = ChunkStore.init(spark, tmp())
    a.putBlobs(blobDf(1L -> big))
    val small = ChunkStore.init(spark, tmp(), maxBytes = 100L)
    intercept[StoreOutOfSpaceException](a.replicateTo(small))
    assert(small.catalog.count() == 0, "failed replicate must not leave catalog rows")
    val roDir = tmp()
    ChunkStore.init(spark, roDir)
    val ro = ChunkStore.load(spark, roDir, readonly = true)
    intercept[StoreReadOnlyException](a.replicateTo(ro))
  }

  private def sha256hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  private def sha(s: String): String = sha256hex(s.getBytes(StandardCharsets.UTF_8))

  /** A table's rows as sorted strings, binary cells in hex. */
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case v => String.valueOf(v)
    }.mkString(",")).sorted.toSeq

  /** Jobs `body` runs and the most tasks any of them has. */
  private def jobsOf(group: String)(body: => Unit): (Int, Int) = {
    val jobs = jobLog(group)(body)
    (jobs.size, jobs.map(_._1).maxOption.getOrElse(0))
  }

  /** Each job `body` runs, as its task count and `spark.job.description`
    * (the group's name unless the job set its own), recorded by a
    * listener keyed on a job group. The listener bus is asynchronous,
    * so poll until the count is stable rather than racing it.
    */
  private def jobLog(group: String)(body: => Unit): Seq[(Int, String)] = {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.put(e.jobId, (e.stageInfos.map(_.numTasks).sum, e.properties.getProperty("spark.job.description")))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      var n = -1; var same = 0
      while (same < 3) {
        val m = jobs.size
        if (m == n) same += 1 else { same = 0; n = m }
        Thread.sleep(50)
      }
      jobs.values.asScala.toSeq
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Every read of `hashes` agrees that each is live and cannot be
    * read: `lake.getBlob` and `store.getBlob` raise
    * InvalidMagicException, and `Lake.get`, `getBlobs` and
    * `getBlobsByHashes` return one row per hash, unverified, without
    * raising. `store` is the first store of `lake` holding them live.
    */
  private def unreadable(lake: Lake, store: ChunkStore, hashes: Seq[String]): Unit = {
    hashes.foreach { h =>
      intercept[InvalidMagicException](lake.getBlob(h))
      intercept[InvalidMagicException](store.getBlob(h))
    }
    bulkReads(lake, store, hashes).foreach { case (name, rows) =>
      assert(rows.map(_.getString(0)).sorted.toSeq == hashes.sorted, s"$name: one row per hash")
      assert(rows.forall(r => !r.isNullAt(2) && !r.getBoolean(2)), s"$name: a row reads verified")
    }
  }

  /** Every read of `blobs` (hash → bytes) through `lake` and `store`
    * returns each blob byte-identical, verified.
    */
  private def readable(lake: Lake, store: ChunkStore, blobs: Map[String, Array[Byte]]): Unit = {
    blobs.foreach { case (h, b) =>
      assert(java.util.Arrays.equals(lake.getBlob(h), b), s"Lake.getBlob($h)")
      assert(java.util.Arrays.equals(store.getBlob(h), b), s"getBlob($h)")
    }
    bulkReads(lake, store, blobs.keys.toSeq).foreach { case (name, rows) =>
      assert(rows.map(_.getString(0)).sorted.toSeq == blobs.keys.toSeq.sorted, s"$name: one row per hash")
      rows.foreach { r =>
        assert(r.getBoolean(2) && java.util.Arrays.equals(r.getAs[Array[Byte]](1), blobs(r.getString(0))), s"$name: ${r.getString(0)}")
      }
    }
  }

  /** The rows of `hashes` from the three bulk reads: [[Lake.get]] and
    * `store`'s `getBlobs` and `getBlobsByHashes`.
    */
  private def bulkReads(lake: Lake, store: ChunkStore, hashes: Seq[String]): Seq[(String, Array[Row])] = {
    val want = hashes.toDF("blob_hash")
    Seq("Lake.get" -> lake.get(want), "getBlobs" -> store.getBlobs(want), "getBlobsByHashes" -> store.getBlobsByHashes(hashes))
      .map { case (name, df) => name -> df.collect() }
  }

  /** Rewrites a store's chunk table with one bit flipped in the payload
    * of `chunkHash` (the at-rest bit-rot fixture of the scrub tests).
    */
  private def flipChunk(store: ChunkStore, chunkHash: String): Unit = {
    val rows = store.chunks.collect().map { r =>
      val data = r.getAs[Array[Byte]](3).clone()
      if (r.getString(0) == chunkHash) data(0) = (data(0) ^ 0x7f).toByte
      (r.getString(0), r.getLong(1), r.getString(2), data, r.getInt(4))
    }.toSeq
    assert(rows.exists(_._1 == chunkHash), s"fixture: chunk $chunkHash not stored")
    rows.toDF("chunk_hash", "size", "enc", "data", "bucket")
      .write.mode("overwrite").partitionBy("bucket").parquet(s"${store.path}/chunks")
  }

  test("getBlob job budget: one catalog probe across stores, bucket-scoped chunk reads") {
    val params = LakeParams()
    // ~100-part trees spread each store's chunks over > 32 bucket dirs,
    // past the parallel listing threshold: a read of the whole chunks/
    // tree would show up as a job with >= nBuckets tasks
    def tree(tag: String) = (0 until 4000).map(i => s"$tag-$i-").mkString.take(params.chunkMax.toInt * 100)
    val (p0, p1) = (tmp(), tmp())
    val s0 = ChunkStore.init(spark, p0)
    val s1 = ChunkStore.init(spark, p1)
    s0.putBlobs(blobDf(1L -> tree("hot"), 2L -> tiny))
    s1.putBlobs(blobDf(1L -> tree("spill"), 2L -> mid))
    Seq(p0, p1).foreach { p =>
      val dirs = Files.list(Paths.get(p, "chunks")).toArray.count(_.toString.contains("bucket="))
      assert(dirs > 32, s"fixture: $p has only $dirs bucket dirs")
    }
    val lake = Lake.init(spark, LakeConfig(Seq(StoreEntry(p0), StoreEntry(p1))))
    val h = (s: String) => sha256hex(s.getBytes(StandardCharsets.UTF_8))
    lake.getBlob(h(mid)): Unit // warm the code paths outside the counted groups

    val (miss, missTasks) = jobsOf("budget-miss") {
      intercept[BlobNotFoundException](lake.getBlob(h("absent from every store")))
    }
    val (inline, inlineTasks) = jobsOf("budget-inline") {
      assert(new String(lake.getBlob(h(tiny)), StandardCharsets.UTF_8) == tiny)
    }
    val (single, singleTasks) = jobsOf("budget-single") {
      assert(new String(lake.getBlob(h(mid)), StandardCharsets.UTF_8) == mid)
    }
    val depth = s1.catalog.agg(max(col("tree_depth"))).head().getInt(0)
    val (treeJobs, _) = jobsOf("budget-tree") {
      assert(new String(lake.getBlob(h(tree("spill"))), StandardCharsets.UTF_8) == tree("spill"))
    }
    assert(miss == 1, s"a miss is answered by the probe alone: $miss jobs")
    assert(inline <= 1, s"an inline hit is answered by the probe alone: $inline jobs")
    assert(single <= 2, s"a single-chunk hit in the second store: probe + leaf read, got $single jobs")
    assert(depth == 2, s"fixture: tree depth $depth")
    assert(treeJobs <= depth + 2, s"a depth-$depth tree: probe + one job per level + leaves, got $treeJobs jobs")
    Seq(missTasks, inlineTasks, singleTasks).foreach { t =>
      assert(t < params.nBuckets, s"a job with $t tasks: the whole chunks/ tree was listed")
    }
  }

  test("getBlob resolves the first store holding the blob live; tombstones are seen at once") {
    val (p0, p1) = (tmp(), tmp())
    val cfg = LakeConfig(Seq(StoreEntry(p0), StoreEntry(p1)))
    val lake = Lake.init(spark, cfg)
    lake.stores.foreach(_.putBlobs(blobDf(1L -> big)))
    val hBig = sha256hex(big.getBytes(StandardCharsets.UTF_8))
    // tombstoned in store 0 only: store 1 serves it, byte for byte
    assert(lake.stores(0).deleteBlobs(Seq(hBig)) == 1)
    assert(!lake.stores(0).containsBlob(hBig) && lake.stores(1).containsBlob(hBig))
    assert(java.util.Arrays.equals(lake.getBlob(hBig), big.getBytes(StandardCharsets.UTF_8)))

    // a delete through another handle is seen by this handle's next read
    lake.put(blobDf(2L -> mid))
    val hMid = sha256hex(mid.getBytes(StandardCharsets.UTF_8))
    assert(new String(lake.getBlob(hMid), StandardCharsets.UTF_8) == mid)
    assert(Lake.init(spark, cfg).delete(Seq(hMid)) == 1)
    intercept[BlobNotFoundException](lake.getBlob(hMid))

    intercept[BlobNotFoundException](lake.getBlob(sha256hex("in no store".getBytes(StandardCharsets.UTF_8))))

    // every chunk file of store 1 stored twice: each read returns the
    // blob intact, its parts counted once
    val s1 = lake.stores(1)
    Files.list(Paths.get(p1, "chunks")).iterator().asScala.filter(_.getFileName.toString.startsWith("bucket=")).foreach { dir =>
      Files.list(dir).iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
        .foreach(f => Files.copy(f, dir.resolve(s"copy-${f.getFileName}")))
    }
    assert(s1.fsck().collect().map(r => r.getString(0) -> r.getLong(1)).toMap.apply("duplicate_chunks") > 0)
    readable(lake, s1, Map(hBig -> big.getBytes(StandardCharsets.UTF_8)))

    // a live blob none of whose chunks is left in store 0, intact in
    // store 1: store 0 answers, unreadable, and no read falls through to
    // store 1 or reads as a miss
    val (q0, q1) = (tmp(), tmp())
    val two = Lake.init(spark, LakeConfig(Seq(StoreEntry(q0), StoreEntry(q1))))
    two.stores.foreach(_.putBlobs(blobDf(1L -> big)))
    two.stores(0).manifest.filter(col("blob_hash") === hBig).select("bucket").distinct().as[Int].collect()
      .foreach(b => org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(q0, "chunks", s"bucket=$b").toFile))
    unreadable(two, two.stores(0), Seq(hBig))
    assert(java.util.Arrays.equals(two.stores(1).getBlob(hBig), big.getBytes(StandardCharsets.UTF_8)), "fixture: store 1's copy")
  }

  test("getBlob verifies on read: a flipped bit in a raw single chunk or a tree leaf raises") {
    val rnd = new scala.util.Random(7)
    val raw = Array.fill(200)(rnd.nextInt(256).toByte) // incompressible: stored raw
    val p = tmp()
    val lake = Lake.init(spark, LakeConfig(Seq(StoreEntry(p))))
    val store = lake.stores.head
    store.putBlobs(Seq(raw, big.getBytes(StandardCharsets.UTF_8)).toDF("data"))
    val (hRaw, hBig) = (sha256hex(raw), sha256hex(big.getBytes(StandardCharsets.UTF_8)))
    assert(java.util.Arrays.equals(lake.getBlob(hRaw), raw))

    val rawChunk = store.catalog.filter(col("blob_hash") === hRaw).select("root_hash").as[String].head()
    assert(store.chunks.filter(col("chunk_hash") === rawChunk).select("enc").as[String].head() == "raw")
    flipChunk(store, rawChunk)
    intercept[InvalidMagicException](lake.getBlob(hRaw))

    val leaf = store.manifest.filter(col("blob_hash") === hBig && col("level") === 0 && col("part_idx") === 1L)
      .select("chunk_hash").as[String].head()
    flipChunk(store, leaf)
    intercept[InvalidMagicException](lake.getBlob(hBig))

    // the frame keeps a row for each corrupt blob, flagged unverified:
    // corruption never reads as a miss
    val rows = store.getBlobsByHashes(Seq(hRaw, hBig)).collect()
    assert(rows.map(_.getAs[String]("blob_hash")).toSeq == Seq(hRaw, hBig).sorted)
    assert(rows.forall(!_.getAs[Boolean]("verified")))
    assert(rows.find(_.getAs[String]("blob_hash") == hRaw).get.isNullAt(1), "no part of the raw blob is readable")
    // the bulk reads agree, and the flipped GCM leaf does not abort them
    assert(store.chunks.filter(col("chunk_hash") === leaf).select("enc").as[String].head() == "gcm")
    unreadable(lake, store, Seq(hRaw, hBig))

    // a catalog row of an inline blob whose payload is null
    val hLost = sha("an inline blob whose payload is lost")
    spark.createDataFrame(java.util.List.of(Row(hLost, 36L, "inline", null, null, null, null, null)), ChunkStore.catalogSchema)
      .write.mode("append").parquet(s"$p/catalog")
    unreadable(lake, store, Seq(hLost))
  }

  test("a blob of over 256 leaves reads through the parallel path; a corrupt leaf reads unverified") {
    val p = tmp()
    val store = ChunkStore.init(spark, p)
    val huge = (0 until 30000).map(i => s"h$i.").mkString.take(LakeParams().chunkMax.toInt * 300)
    store.putBlobs(blobDf(1L -> huge, 2L -> big))
    val (hHuge, hBig) = (sha256hex(huge.getBytes(StandardCharsets.UTF_8)), sha256hex(big.getBytes(StandardCharsets.UTF_8)))
    val leaves = store.manifest.filter(col("blob_hash") === hHuge && col("level") === 0)
    assert(leaves.count() > 256, s"fixture: ${leaves.count()} leaves")
    assert(new String(store.getBlob(hHuge), StandardCharsets.UTF_8) == huge)
    def read() = store.getBlobsByHashes(Seq(hHuge, hBig)).collect()
      .map(r => r.getString(0) -> (Option(r.getAs[Array[Byte]](1)).map(new String(_, StandardCharsets.UTF_8)), r.getBoolean(2))).toMap
    assert(read() == Map(hHuge -> (Some(huge), true), hBig -> (Some(big), true)))

    flipChunk(store, leaves.filter(col("part_idx") === 7L).select("chunk_hash").as[String].head())
    intercept[InvalidMagicException](store.getBlob(hHuge))
    val after = read()
    assert(!after(hHuge)._2 && after(hBig) == (Some(big), true), s"only the huge blob is unverified: $after")
  }

  test("bucket pruning: chunk reads filter to the hash-prefix partition") {
    val store = ChunkStore.init(spark, tmp())
    store.putBlobs(blobDf(1L -> big, 2L -> (mid + big)))
    val buckets = store.chunks.select("bucket").distinct().as[Int].collect()
    assert(buckets.nonEmpty && buckets.forall(b => b >= 0 && b < 64))
    // partition layout on disk: chunks/bucket=N/
    val dirs = Files.list(Paths.get(store.path, "chunks")).toArray.map(_.toString)
    assert(dirs.exists(_.contains("bucket=")), dirs.mkString(","))
  }

  test("a blob deleted and put again before gc reads back, through a store and through a lake") {
    val (bigBytes, hBig, hMid) = (big.getBytes(StandardCharsets.UTF_8), sha256hex(big.getBytes(StandardCharsets.UTF_8)),
      sha256hex(mid.getBytes(StandardCharsets.UTF_8)))
    val store = ChunkStore.init(spark, tmp())
    store.putBlobs(blobDf(1L -> big, 2L -> mid))
    assert(store.deleteBlobs(Seq(hBig, hMid)) == 2) // one tombstone file naming both
    assert(store.putBlobs(blobDf(3L -> big)).blobs.map(_.blobHash) == Seq(hBig))
    assert(java.util.Arrays.equals(store.getBlob(hBig), bigBytes))
    intercept[BlobNotFoundException](store.getBlob(hMid)) // its tombstone survives the rewrite
    store.gc(): Unit
    assert(java.util.Arrays.equals(store.getBlob(hBig), bigBytes))
    intercept[BlobNotFoundException](store.getBlob(hMid))
    assert(store.fsck().filter(col("violations") > 0).count() == 0)

    val lake = Lake.init(spark, LakeConfig(Seq(StoreEntry(tmp()))))
    lake.put(blobDf(1L -> big))
    assert(lake.delete(Seq(hBig)) == 1)
    intercept[BlobNotFoundException](lake.getBlob(hBig))
    lake.put(blobDf(1L -> big))
    assert(java.util.Arrays.equals(lake.getBlob(hBig), bigBytes))
    lake.gc(): Unit
    assert(java.util.Arrays.equals(lake.getBlob(hBig), bigBytes))
    assert(lake.stores.head.fsck().filter(col("violations") > 0).count() == 0)
  }

  test("Lake.delete: one probe and one tombstone file per writable store, seen at once through another handle") {
    val (p0, p1) = (tmp(), tmp())
    val cfg = LakeConfig(Seq(StoreEntry(p0), StoreEntry(p1)))
    val lake = Lake.init(spark, cfg)
    val (s0, s1) = (lake.stores(0), lake.stores(1))
    lake.stores.foreach(_.putBlobs(blobDf(1L -> big)))
    s1.putBlobs(blobDf(2L -> mid))
    s0.putBlobs(blobDf(3L -> tiny))
    val hashes = Seq(big, mid, tiny, "in no store").map(sha)
    val Seq(hBig, hMid, hTiny, _) = hashes
    assert(s0.deleteBlobs(Seq(hTiny)) == 1)
    val reader = Lake.init(spark, cfg)
    assert(new String(reader.getBlob(hBig), StandardCharsets.UTF_8) == big && new String(reader.getBlob(hMid), StandardCharsets.UTF_8) == mid)
    def files(p: String) = Option(Paths.get(p, "tombstones").toFile.listFiles).fold(0)(_.count(_.getName.endsWith(".parquet")))
    val before = Seq(p0, p1).map(files)

    // live in both, live in store 1 only, tombstoned in store 0, unknown;
    // each twice
    var n = 0L
    val jobs = jobLog("delete-budget") { n = lake.delete(hashes ++ hashes) }
    assert(n == 3, "store 0 tombstones the blob live in both, store 1 that one and its own")
    assert(rowsOf(s0.tombstones) == Seq(hBig, hTiny).sorted, "store 0 gained one tombstone")
    assert(rowsOf(s1.tombstones) == Seq(hBig, hMid).sorted, "store 1 gained two tombstones")
    assert(Seq(p0, p1).map(files) == before.map(_ + 1), "one new tombstone file per store")
    assert(jobs.size <= 2 * lake.writable.size, s"a delete ran ${jobs.size} jobs: ${jobs.map(_._2).mkString("; ")}")

    hashes.foreach(h => intercept[BlobNotFoundException](reader.getBlob(h)))
    assert(reader.get(hashes.toDF("blob_hash")).count() == 0, "Lake.get through another handle")
    assert(lake.stores.map(_.deleteBlobs(hashes)) == Seq(0L, 0L), "a second delete tombstones nothing")
  }

  test("load takes the bucket count from the store's marker") {
    val p = tmp()
    ChunkStore.init(spark, p, params = LakeParams.primeBuckets(100)).putBlobs(blobDf(1L -> big))
    val h = sha256hex(big.getBytes(StandardCharsets.UTF_8))
    val loaded = ChunkStore.load(spark, p, readonly = true)
    assert(loaded.params.nBuckets == 97)
    assert(new String(loaded.getBlob(h), StandardCharsets.UTF_8) == big)
    assert(new String(Lake.init(spark, LakeConfig(Seq(StoreEntry(p)))).getBlob(h), StandardCharsets.UTF_8) == big)
    // a marker without the line keeps the caller's params
    Files.deleteIfExists(Paths.get(p, "._GRAFT_STORE.crc"))
    Files.write(Paths.get(p, "_GRAFT_STORE"), ChunkStore.Magic.getBytes(StandardCharsets.UTF_8))
    assert(ChunkStore.load(spark, p, readonly = true, params = LakeParams(nBuckets = 97)).params.nBuckets == 97)
    assert(ChunkStore.load(spark, p, readonly = true).params.nBuckets == LakeParams().nBuckets)
  }

  test("a spilling Lake.put stays within its job budget and lists no chunk table remotely") {
    val params = LakeParams()
    // ~100-part trees spread each store's chunks over > 32 bucket dirs,
    // past the parallel listing threshold
    def tree(tag: String) = (0 until 4000).map(i => s"$tag-$i-").mkString.take(params.chunkMax.toInt * 100)
    val (p0, p1) = (tmp(), tmp())
    ChunkStore.init(spark, p0).putBlobs(blobDf(1L -> tree("hot")))
    ChunkStore.init(spark, p1).putBlobs(blobDf(1L -> tree("spill")))
    Seq(p0, p1).foreach { p =>
      val dirs = Files.list(Paths.get(p, "chunks")).toArray.count(_.toString.contains("bucket="))
      assert(dirs > 32, s"fixture: $p has only $dirs bucket dirs")
    }
    val hotBytes = ChunkStore.load(spark, p0, readonly = true).currentBytes
    val lake = Lake.init(spark, LakeConfig(Seq(StoreEntry(p0, maxBytes = hotBytes + 100), StoreEntry(p1))))
    val h = sha256hex(tree("batch").getBytes(StandardCharsets.UTF_8))
    val jobs = jobLog("put-budget")(lake.put(blobDf(1L -> tree("batch"), 2L -> mid, 3L -> tiny)): Unit)
    assert(!lake.stores(0).containsBlob(h) && lake.stores(1).containsBlob(h), "fixture: the batch must spill")
    assert(jobs.size <= PutJobCeiling, s"a spilling put ran ${jobs.size} jobs: ${jobs.map(_._2).mkString("; ")}")
    assert(!jobs.exists(_._2.startsWith("Listing leaf files")), s"a distributed listing: ${jobs.map(_._2).mkString("; ")}")
  }

  test("a spilled batch lands as a direct put into an empty store would; depths follow from length") {
    val p = LakeParams(inlineMax = 4, chunkMax = 8, treeFanout = 4)
    val lake = Lake.init(spark, LakeConfig(Seq(StoreEntry(tmp(), maxBytes = 100), StoreEntry(tmp()))), p)
    // lengths at and around each level's capacity 8·4ᵏ, up to depth 4
    val lens = Seq(3, 4, 5, 8, 9, 32, 33, 128, 129, 512, 513, 800)
    val batch = blobDf(lens.map(n => n.toLong -> (0 until n).map(i => ('a' + (i * 7 + n) % 26).toChar).mkString): _*)
    lake.put(batch)
    val direct = ChunkStore.init(spark, tmp(), params = p)
    direct.putBlobs(batch)
    def rows(s: ChunkStore) = Seq(s.catalog, s.manifest, s.chunks, s.tombstones).map(rowsOf)
    assert(rows(lake.stores(1)) == rows(direct))
    assert(rows(lake.stores(0)).forall(_.isEmpty), "the refused store was written to")
    val depths = direct.catalog.select("total_len", "tree_depth").as[(Long, Int)].collect().toMap
    assert(depths == Map(3L -> 0, 4L -> 0, 5L -> 0, 8L -> 0, 9L -> 1, 32L -> 1, 33L -> 2, 128L -> 2, 129L -> 3,
      512L -> 3, 513L -> 4, 800L -> 4))
    assert(direct.fsck().filter(col("violations") > 0).count() == 0)
  }

  test("no cached block survives a refused store, LakeOutOfStores or a refused replicateTo") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val lake = Lake.init(spark, LakeConfig(Seq(StoreEntry(tmp(), maxBytes = 100), StoreEntry(tmp()))))
    lake.put(blobDf(1L -> big))
    assert(lake.stores(1).containsBlob(sha256hex(big.getBytes(StandardCharsets.UTF_8))))
    assert(persisted == before, "after a put the first store refused")
    intercept[LakeOutOfStoresException](Lake.init(spark, LakeConfig(Seq(StoreEntry(tmp(), maxBytes = 100)))).put(blobDf(1L -> big)))
    assert(persisted == before, "after LakeOutOfStores")
    intercept[StoreOutOfSpaceException](lake.stores(1).replicateTo(ChunkStore.init(spark, tmp(), maxBytes = 100)))
    assert(persisted == before, "after a refused replicateTo")
  }

  test("Lake.gc on a lake without a writable store returns an empty frame") {
    val p = tmp()
    ChunkStore.init(spark, p)
    val out = Lake.init(spark, LakeConfig(Seq(StoreEntry(p, readonly = true)))).gc()
    assert(out.count() == 0 && out.columns.toSeq == ChunkStore.gcSchema.fieldNames.toSeq :+ "store")
  }

  test("Lake.compact on a lake without a writable store returns an empty frame") {
    val p = tmp()
    ChunkStore.init(spark, p)
    val out = Lake.init(spark, LakeConfig(Seq(StoreEntry(p, readonly = true)))).compact()
    assert(out.count() == 0 && out.columns.toSeq == Seq("table", "files_before", "files_after", "store"))
  }

  test("Lake.scrub on a lake without stores returns an empty frame") {
    val out = Lake.init(spark, LakeConfig(Nil)).scrub()
    assert(out.count() == 0 && out.columns.toSeq == Seq("check", "violations", "store"))
  }

  test("Lake.maintenanceReport on a lake without stores returns an empty frame") {
    val out = Lake.init(spark, LakeConfig(Nil)).maintenanceReport()
    assert(out.count() == 0 && out.columns.toSeq == Seq("n_chunk_files", "n_buckets_used", "files_per_bucket_milli", "n_chunks",
      "n_dead_chunks", "dead_ppm", "recommend", "store", "readonly"))
  }

  test("LakeCatalog.register on a lake without stores shows empty views and drops the earlier ones") {
    val two = Lake.init(spark, LakeConfig(Seq(StoreEntry(tmp()), StoreEntry(tmp()))))
    two.put(blobDf(1L -> big))
    LakeCatalog.register(two, "emptyspec")
    assert(LakeCatalog.lakeTables(spark, "emptyspec").contains("emptyspec_s1_catalog"))
    LakeCatalog.register(Lake.init(spark, LakeConfig(Nil)), "emptyspec")
    assert(LakeCatalog.lakeTables(spark, "emptyspec") == Seq("emptyspec_catalog", "emptyspec_chunks", "emptyspec_manifest"))
    for ((t, schema) <- Seq("chunks" -> ChunkStore.chunkSchema, "manifest" -> ChunkStore.manifestSchema,
        "catalog" -> ChunkStore.catalogSchema)) {
      val v = spark.table(s"emptyspec_$t")
      assert(v.count() == 0 && v.columns.toSeq == schema.fieldNames.toSeq :+ "store_priority", t)
    }
  }

  test("model-based: seeded put, delete, gc, compact and reopen sequences agree with a plain model") {
    val takers = Seq(3L, 4L).flatMap(modelRun)
    assert(takers.toSet == Set(0, 1), s"fixture: every batch went to the same store (${takers.mkString(",")})")
  }

  /** One seeded sequence of lake operations on two stores, the first
    * capped at [[LakeSpec.ModelCap]] at-rest bytes, checked against a
    * [[LakeSpec.LakeModel]] after every step. Puts mix the size ladder,
    * exact duplicates (within a batch, of a live blob, of a deleted one)
    * and blobs sharing leading chunks with an earlier one. Two steps go
    * through a second handle: a delete through a lake that opens store 0
    * readonly, and a put into a lake whose only writable store is store
    * 0 capped at what it holds, which must be refused and change
    * nothing. After every step the lake that opens store 0 readonly
    * reads too, and must agree with the model as well. Returns the store
    * that took each put.
    */
  private def modelRun(seed: Long): Seq[Int] = {
    val rnd = new scala.util.Random(seed)
    val chunkMax = LakeParams().chunkMax.toInt
    val cfg = LakeConfig(Seq(StoreEntry(tmp(), maxBytes = ModelCap), StoreEntry(tmp())))
    var lake = Lake.init(spark, cfg)
    // the second handle of the readonly steps and reads
    val ro = Lake.init(spark, LakeConfig(cfg.stores.head.copy(readonly = true) +: cfg.stores.tail))
    val model = new LakeModel(lake.stores.size)
    val never = Seq(sha(s"never put, seed $seed"), sha(s"never put either, seed $seed"))
    val takers = Seq.newBuilder[Int]
    // the second-handle steps and reads draw from their own stream, so
    // the other steps run the same sequence with or without them
    val side = new scala.util.Random(~seed)
    def pick[T](xs: Seq[T], r: scala.util.Random = rnd): T = xs(r.nextInt(xs.size))
    def fresh(len: Int, r: scala.util.Random = rnd): Array[Byte] =
      if (r.nextBoolean()) Array.fill(len)(r.nextInt(256).toByte) // incompressible: raw chunks
      else (s"seed $seed text ${r.nextInt()} " * (len / 8 + 1)).getBytes(StandardCharsets.UTF_8).take(len)
    def blob(): Array[Byte] = {
      val chunked = model.bytes.values.filter(_.length > chunkMax).toSeq
      rnd.nextInt(5) match {
        case 0 if model.bytes.nonEmpty => pick(model.bytes.values.toSeq)
        case 1 if chunked.nonEmpty =>
          val b = pick(chunked)
          b.take(chunkMax * (1 + rnd.nextInt(b.length / chunkMax))) ++ fresh(1 + rnd.nextInt(300))
        case _ => fresh(pick(Seq(rnd.nextInt(65), 65 + rnd.nextInt(192), 257 + rnd.nextInt(1200))))
      }
    }
    def put(): String = {
      val batch = Seq.fill(1 + rnd.nextInt(3))(blob())
      val blobs = if (rnd.nextInt(3) == 0) batch :+ batch.head else batch
      lake.put(blobs.toDF("data")): Unit
      // the store that took the batch holds all of it live, and store 0
      // holding all of it live means that it took it
      val live0 = lake.stores(0).liveCatalog.select("blob_hash").as[String].collect().toSet
      val byHash = blobs.map(b => sha256hex(b) -> b)
      val taker = if (byHash.forall(b => live0(b._1))) 0 else 1
      takers += taker
      model.put(byHash, taker)
      assert(lake.stores(0).currentBytes <= ModelCap, "store 0 holds more than its cap")
      s"put of ${blobs.map(_.length).mkString(", ")} bytes into store $taker"
    }
    val steps = "put" +: rnd.shuffle(Seq("put", "put", "put", "delete", "delete", "gc", "compact", "reopen"))
    val withSide = Seq("readonly delete", "refused put").foldLeft(steps)((ss, k) => ss.patch(1 + side.nextInt(ss.size), Seq(k), 0))
    withSide.zipWithIndex.foreach {
      case (kind, i) =>
        val step = s"seed $seed, step $i: " + (kind match {
          case "put" => put()
          case "delete" =>
            val hs = Seq.fill(1 + rnd.nextInt(2))(pick(model.bytes.keys.toSeq)).distinct :+ never.head
            assert(lake.delete(hs) == model.delete(hs), s"seed $seed, step $i: tombstones written")
            s"delete of ${hs.size}"
          case "readonly delete" =>
            // as the benchmark deletes: through a lake that opens store 0
            // readonly, so only store 1 tombstones
            val hs = (Seq.fill(1 + side.nextInt(2))(pick(model.bytes.keys.toSeq, side)) ++ model.live(1).toSeq.sorted.take(1)).distinct
            assert(ro.delete(hs :+ never.head) == model.delete(hs, stores = Seq(1)), s"seed $seed, step $i: tombstones written")
            s"delete of ${hs.size} through store 1 alone"
          case "refused put" =>
            // the only writable store is capped at what it holds
            val full = Lake.init(spark, LakeConfig(Seq(cfg.stores.head.copy(maxBytes = lake.stores(0).currentBytes),
              cfg.stores(1).copy(readonly = true))))
            val b = fresh(1 + side.nextInt(300), side)
            val e = intercept[LakeOutOfStoresException](full.put(Seq(b).toDF("data")))
            assert(e.getCause.isInstanceOf[StoreOutOfSpaceException], s"seed $seed, step $i: refused with ${e.getCause}")
            intercept[BlobNotFoundException](lake.getBlob(sha256hex(b)))
            s"refused put of ${b.length} bytes"
          case "gc" =>
            lake.gc().collect()
            lake.stores.foreach(s => assert(s.fsck().filter(col("violations") > 0).count() == 0, s"seed $seed, step $i: fsck after gc"))
            "gc"
          case "compact" =>
            // gc is the reclaiming compaction
            if (rnd.nextBoolean()) { lake.gc().collect(); "compact by gc" }
            else { lake.compact().collect(); "compact" }
          case "reopen" =>
            lake = Lake.init(spark, cfg)
            "reopen"
        })
        agrees(lake, model, never, step)
        // the readonly handle reads what the lake reads: every hash in
        // bulk, a few drawn from `side` point by point
        val hashes = model.bytes.keys.toSeq ++ never
        reads(ro, model, hashes, Seq.fill(2)(pick(hashes, side)).distinct, s"$step, through store 0 readonly")
    }
    takers.result()
  }

  /** `lake` agrees with `model` on every hash it was ever given and on
    * `never`: both reads agree ([[reads]]), and each store's live set is
    * the model's.
    */
  private def agrees(lake: Lake, model: LakeModel, never: Seq[String], step: String): Unit = {
    val hashes = model.bytes.keys.toSeq ++ never
    reads(lake, model, hashes, hashes, step)
    lake.stores.zip(model.live).foreach { case (s, live) =>
      assert(s.liveCatalog.select("blob_hash").as[String].collect().toSet == live, s"$step: live set of ${s.path}")
    }
  }

  /** `Lake.get` of `hashes` returns a live one once, verified and
    * byte-identical, and no row otherwise; `Lake.getBlob` of each of
    * `points` returns its bytes or raises BlobNotFoundException.
    */
  private def reads(lake: Lake, model: LakeModel, hashes: Seq[String], points: Seq[String], step: String): Unit = {
    val rows = lake.get(hashes.toDF("blob_hash")).collect()
    assert(rows.map(_.getString(0)).distinct.length == rows.length, s"$step: Lake.get returned a hash twice")
    val bulk = rows.map(r => r.getString(0) -> (Option(r.getAs[Array[Byte]](1)).map(_.toSeq), r.getAs[Any](2))).toMap
    hashes.foreach(h => assert(bulk.get(h) == model.read(h).map(b => (Some(b.toSeq), true)), s"$step: Lake.get of $h"))
    points.foreach { h =>
      val point = try Some(lake.getBlob(h).toSeq) catch { case _: BlobNotFoundException => None }
      assert(point == model.read(h).map(_.toSeq), s"$step: Lake.getBlob of $h")
    }
  }

  test("Lake.get on a lake without stores returns an empty frame") {
    val out = Lake.init(spark, LakeConfig(Nil)).get(Seq(sha256hex(mid.getBytes(StandardCharsets.UTF_8))).toDF("blob_hash"))
    assert(out.count() == 0 && out.columns.toSeq == Seq("blob_hash", "data", "verified"))
  }
}

object LakeSpec {
  /** Jobs of the spilling put in the job-budget test, as measured: the
    * longest-blob probe and the staging (dedup, the stores' live
    * catalogs, one shuffle per tree level, the level-0 and staged
    * caches) run once; the refusing store runs its gate, the taking
    * store its count and three appends.
    */
  val PutJobCeiling = 22

  /** The at-rest bytes the first store of the model-based test holds at
    * most: about two batches, so later ones spill.
    */
  val ModelCap = 2500L

  /** The lake semantics the model-based test checks, in plain Scala:
    * the bytes of every blob ever put, by address, and the blobs each
    * store holds live. A put lands whole in one store; a delete
    * tombstones a blob in every writable store; gc, compact, a reopen
    * and a refused put change nothing a reader sees.
    */
  final class LakeModel(nStores: Int) {
    val bytes = scala.collection.mutable.Map.empty[String, Array[Byte]]
    val live: IndexedSeq[scala.collection.mutable.Set[String]] = IndexedSeq.fill(nStores)(scala.collection.mutable.Set.empty)

    /** `blobs` as (address, bytes), taken whole by `store`. */
    def put(blobs: Seq[(String, Array[Byte])], store: Int): Unit =
      blobs.foreach { case (h, b) => bytes(h) = b; live(store) += h }

    /** The number of (store, blob) tombstones a delete through
      * `stores` writes.
      */
    def delete(hashes: Seq[String], stores: Seq[Int] = live.indices): Long =
      stores.map { i => val n = hashes.distinct.count(live(i)); live(i) --= hashes; n.toLong }.sum

    /** What a read of `h` returns: its bytes while some store holds it live. */
    def read(h: String): Option[Array[Byte]] = bytes.get(h).filter(_ => live.exists(_(h)))
  }
}
