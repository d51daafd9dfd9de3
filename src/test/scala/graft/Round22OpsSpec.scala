package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.lake.{ChunkStore, Lake, LakeConfig, StoreEntry}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-22 pins: the fleet-level maintenance planner
  * (`Lake.maintenanceReport` — one ChunkStore report row per store,
  * readonly stores measure but never recommend writes) and the
  * fleet-level plan → execute → verify loop it completes.
  */
class Round22OpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def sha256hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(b).map("%02x".format(_)).mkString

  private def tmp(): String = Files.createTempDirectory("graft-r22").toString

  private def blobDf(blobs: (Long, String)*) =
    blobs.toSeq.toDF("blob_id", "s")
      .select(col("blob_id"), col("s").cast("binary").as("data"))

  test("Lake.maintenanceReport: degraded writable store recommends compact_reclaim, " +
    "readonly store reports read-only-safe, all-none after Lake.gc") {
    // store A: built degraded, then reopened READONLY in the lake —
    // the planner must still measure it but never recommend a write
    val pathA = tmp()
    val a = ChunkStore.init(spark, pathA)
    val batchesA = (0 until 4).map(b =>
      (1L to 30L).map(i => (b * 100L + i) -> (s"ro-$b-$i-" + ("r" * 300))))
    batchesA.foreach(b => a.putBlobs(blobDf(b: _*)))
    a.deleteBlobs(batchesA.take(2).flatten.map { case (_, s) =>
      sha256hex(s.getBytes(StandardCharsets.UTF_8))
    })

    // store B: writable, same append-ingest fragmentation + tombstones
    val pathB = tmp()
    val b = ChunkStore.init(spark, pathB)
    val batchesB = (0 until 4).map(n =>
      (1L to 30L).map(i => (n * 100L + i) -> (s"rw-$n-$i-" + ("w" * 300))))
    batchesB.foreach(bb => b.putBlobs(blobDf(bb: _*)))
    b.deleteBlobs(batchesB.take(2).flatten.map { case (_, s) =>
      sha256hex(s.getBytes(StandardCharsets.UTF_8))
    })

    val lake = Lake.init(spark, LakeConfig(Seq(
      StoreEntry(pathA, readonly = true), StoreEntry(pathB))))
    def report() = lake.maintenanceReport().collect()
      .map(r => r.getAs[String]("store") -> r).toMap

    val before = report()
    assert(before.size == 2, "one planner row per store")
    val roRow = before(pathA); val rwRow = before(pathB)
    // both stores measure identically degraded...
    Seq(roRow, rwRow).foreach { r =>
      assert(r.getAs[Long]("files_per_bucket_milli") > 2000L, r.toString)
      assert(r.getAs[Long]("dead_ppm") > 300000L, r.toString)
    }
    // ...but only the writable one is told to act
    assert(rwRow.getAs[String]("recommend") == "compact_reclaim", rwRow.toString)
    assert(!rwRow.getAs[Boolean]("readonly"))
    assert(roRow.getAs[String]("recommend") == "read_only", roRow.toString)
    assert(roRow.getAs[Boolean]("readonly"))

    // execute the plan at the fleet grain: only the writable store is
    // rewritten (Lake.gc routes around readonly members), and gc writes
    // the compacted layout while it reclaims
    lake.gc()
    val after = report()
    assert(after(pathB).getAs[String]("recommend") == "none", after(pathB).toString)
    assert(after(pathB).getAs[Long]("n_dead_chunks") == 0L)
    // the readonly member is untouched and still reports (not "none")
    assert(after(pathA).getAs[String]("recommend") == "read_only", after(pathA).toString)
    assert(after(pathA).getAs[Long]("n_dead_chunks") > 0L)
    // verify leg: the executed store's payloads survive the rewrite
    batchesB.drop(2).flatten.foreach { case (_, s) =>
      val h = sha256hex(s.getBytes(StandardCharsets.UTF_8))
      assert(new String(lake.getBlob(h), StandardCharsets.UTF_8) == s)
    }
  }

  // ------------------------------------ 1-bit quantization + hamming ANN

  private def packedBits: Map[Long, (Long, Long)] =
    GraftSession.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val e = r.getSeq[Float](1)
        def pack(from: Int, until: Int): Long =
          (from until until).foldLeft(0L) { (acc, i) =>
            if (e(i).toDouble > 0.0) acc | (1L << (i - from)) else acc
          }
        r.getLong(0) -> ((pack(0, 32), pack(32, 64)))
      }.toMap

  test("emb_bitpack: packed words replay bit-exactly in plain Scala, balance arithmetic exact") {
    val want = packedBits
    val got = operators.VectorOps.queries("emb_bitpack")(spark, sf).collect()
    assert(got.length == want.size)
    got.foreach { r =>
      val (lo, hi) = want(r.getLong(0))
      assert(r.getLong(1) == lo && r.getLong(2) == hi, s"pack mismatch for ${r.getLong(0)}")
      val nPos = java.lang.Long.bitCount(lo) + java.lang.Long.bitCount(hi)
      assert(r.getLong(3) == nPos.toLong)
      assert(r.getLong(4) == nPos.toLong * 1000000L / 64L)
      assert(lo >= 0 && hi >= 0, "two half-words must never touch the int64 sign bit")
    }
  }

  test("ann_hamming: top-5 replays the brute-force xor+popcount scan with the (dist, id) tie-break") {
    val bits = packedBits
    val got = operators.VectorOps.queries("ann_hamming")(spark, sf).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getLong(3))).toSeq }
    val queries = bits.keys.filter(_ < 20)
    assert(got.keySet == queries.toSet)
    queries.foreach { q =>
      val (qlo, qhi) = bits(q)
      val want = bits.toSeq.filter(_._1 != q)
        .map { case (id, (lo, hi)) =>
          (id, (java.lang.Long.bitCount(qlo ^ lo) + java.lang.Long.bitCount(qhi ^ hi)).toLong)
        }
        .sortBy { case (id, d) => (d, id) }.take(5)
      assert(got(q) == want, s"hamming top-5 diverges for query $q")
    }
  }

  test("ann_hamming_rerank: corpus-wide shortlist equals brute force bit-for-bit; default recall measured") {
    val e = GraftSession.table(spark, sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding"))
    val q = e.filter(col("id") < 20)
    val n = e.count().toInt
    // exactness anchor: shortlist = everything → the two-stage path IS
    // the exact scan (same (cosine desc, id) final order)
    val anchor = operators.VectorOps.annHammingRerank(e, q, 5, shortlistFactor = n)
      .select("query_id", "rank", "neighbor_id", "cosine").collect().toSeq
    val brute = operators.VectorOps.annBruteforce(e, q, 5).collect().toSeq
    assert(anchor.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))) ==
      brute.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))),
      "corpus-wide shortlist must reduce to exact brute force")
    // measured recall@5 at the (k=5, factor=8) default vs exact cosine
    val got = operators.VectorOps.queries("ann_hamming_rerank")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val truth = brute.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recallPpm = got.intersect(truth).size.toLong * 1000000L / truth.size
    info(s"hamming-rerank recall@5 at factor=8: ${recallPpm / 10000.0}%")
    // the sign code keeps most of the cosine signal on this corpus;
    // gate loosely (the honest measured number lives in BASELINE.md)
    assert(recallPpm >= 500000L, s"recall collapsed: $recallPpm ppm")
  }

  test("binary serving path scans the materialized code table, never the full float corpus") {
    // the 100 TB claim made physical (r16): stage 1 of the serving
    // family reads bitpackTable's 16 B/vector parquet, not the raw
    // embeddings; the rerank touches floats only through the
    // shortlist-id IN-pushdown
    val ham = operators.VectorOps.queries("ann_hamming")(spark, sf)
    val hamPlan = ham.queryExecution.executedPlan.toString
    assert(hamPlan.contains("bitpack_"), "ann_hamming must read the bitpackTable artifact")
    assert(!hamPlan.contains("embeddings.parquet"),
      "ann_hamming's plan must not scan the float corpus")
    val rr = operators.VectorOps.queries("ann_hamming_rerank")(spark, sf)
    val rrPlan = rr.queryExecution.executedPlan.toString
    assert(rrPlan.contains("In(vec_id"),
      "rerank's float read must carry the shortlist-id pushdown filter")
  }

  test("ann_hamming_rerank: materialized-artifact serving path equals the inline two-stage plan") {
    val e = GraftSession.table(spark, sf, "embeddings")
      .select(col("vec_id").as("id"), col("embedding"))
    val inline = operators.VectorOps.annHammingRerank(e, e.filter(col("id") < 20), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val named = operators.VectorOps.queries("ann_hamming_rerank")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(named.toSeq == inline.toSeq,
      "code-table serving path must be bit-identical to the inline two-stage plan")
  }

  // ------------------------------------------------ collocation mining

  test("text_collocations: top-100 PMI lift replays in plain Scala with the exact double formula") {
    val docs = GraftSession.table(spark, sf, "documents")
      .select(col("text")).collect().map(_.getString(0).split(" ", -1).toSeq)
    val uni = docs.flatten.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val big = docs.filter(_.size >= 2).flatMap(ws => ws.zip(ws.tail))
      .groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
      .filter(_._2 >= 5)
    val nTok = docs.map(_.size.toLong).sum
    val nBig = docs.map(ws => math.max(ws.size - 1, 0).toLong).sum
    val want = big.toSeq.map { case ((w1, w2), c12) =>
      val lift = math.floor(
        c12.toDouble * nTok / uni(w1) * nTok / uni(w2) / nBig * 1000000.0 + 0.5).toLong
      (w1, w2, c12, uni(w1), uni(w2), lift)
    }.sortBy { case (w1, w2, _, _, _, l) => (-l, w1, w2) }.take(100)
    val got = operators.TextAnalysis.queries("text_collocations")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == want, "collocation top-100 diverges from the plain-Scala replay")
    assert(got.nonEmpty && got.forall(_._3 >= 5))
  }

  test("Lake.maintenanceReport: healthy two-store lake is all-none, readonly included") {
    val cfg = LakeConfig(Seq(StoreEntry(tmp()), StoreEntry(tmp())))
    val lake0 = Lake.init(spark, cfg)
    lake0.put(blobDf(1L -> ("healthy " * 50)).select(col("data")))
    // reopen with the second store readonly: a HEALTHY readonly store
    // reports plain "none" (read_only only replaces a tripped action)
    val lake = Lake.init(spark, LakeConfig(Seq(
      cfg.stores.head, cfg.stores(1).copy(readonly = true))))
    val rows = lake.maintenanceReport().collect()
    assert(rows.length == 2)
    assert(rows.forall(_.getAs[String]("recommend") == "none"), rows.mkString("; "))
  }
}
