package graftbench

import java.security.MessageDigest

/** One generated blob. `kind` is the ladder rung the generator aimed
  * for (inline, single, tree1, tree2), `origin` how it was made
  * (fresh, dup, neardup), `random` marks incompressible bytes.
  */
final case class Blob(bytes: Array[Byte], kind: String, origin: String, random: Boolean) {
  lazy val hash: String = Gen.sha256Hex(bytes)
}

/** Seeded, deterministic input generator for the lake workload. Every
  * input the program sees is derived from the seed here, in one thread,
  * so the same seed gives byte-identical inputs.
  *
  * Size classes follow the default [[graft.lake.LakeParams]] ladder
  * (inline <= 64 B, single <= 256 B, tree above; a tree of more than 64
  * leaf parts needs a second manifest level, so `tree2` blobs are
  * 18-30 KB). Size ranges are narrow so that read latency depends on
  * the blob's kind more than on the seed. A batch's shape is fixed:
  * the count and total size of each kind, how many are incompressible,
  * and the kinds that get duplicated. The seed picks the content.
  */
final class Gen(seed: Long) {
  private val rnd = new scala.util.Random(seed)
  private val vocab = Array(
    "graft", "chunk", "store", "lake", "blob", "hash", "tree", "spill", "merge", "scan", "batch", "query",
    "table", "parquet", "spark", "stream", "window", "bucket", "manifest", "catalog", "key", "value", "row",
    "column", "the", "a", "of", "and", "to", "in", "data", "index", "page", "file", "write", "read")

  private def text(n: Int): Array[Byte] = {
    val sb = new StringBuilder(n + 16)
    while (sb.length < n) {
      sb.append(vocab(rnd.nextInt(vocab.length)))
      if (rnd.nextInt(9) == 0) sb.append(rnd.nextInt(100000))
      sb.append(if (rnd.nextInt(12) == 0) '\n' else ' ')
    }
    sb.toString.take(n).getBytes("UTF-8")
  }

  private def randomBytes(n: Int): Array[Byte] = { val b = new Array[Byte](n); rnd.nextBytes(b); b }

  private def between(lo: Int, hi: Int): Int = lo + rnd.nextInt(hi - lo + 1)

  private def range(kind: String): (Int, Int) = kind match {
    case "inline" => (8, 64)
    case "single" => (65, 256)
    case "tree1" => (2000, 8000)
    case "tree2" => (18000, 30000)
  }

  /** `n` sizes of a kind, one from each of `n` equal slices of its
    * range, in random order: the kind's total barely depends on the seed.
    */
  private def sizes(kind: String, n: Int): Seq[Int] = {
    val (lo, hi) = range(kind)
    rnd.shuffle(Seq.tabulate(n)(i => lo + ((i + rnd.nextDouble()) * (hi - lo + 1) / n).toInt))
  }

  /** `n` fresh blobs of one kind; `round(n * randomShare)` of the
    * chunked kinds are incompressible (they take the raw, unencrypted
    * path).
    */
  private def fresh(kind: String, n: Int, randomShare: Double): Seq[Blob] = {
    val nRandom = if (kind == "inline") 0 else math.round(n * randomShare).toInt
    val isRandom = rnd.shuffle(Seq.tabulate(n)(_ < nRandom))
    sizes(kind, n).zip(isRandom).map { case (size, r) =>
      Blob(if (r) randomBytes(size) else text(size), kind, "fresh", r)
    }
  }

  /** A near-duplicate of a tree blob: its leading 256-byte chunks are
    * kept, the tail is rewritten, so the two share leading chunks.
    */
  def nearDup(of: Blob): Blob = {
    val keepParts = math.max(1, (of.bytes.length / 256) / 2)
    val head = of.bytes.take(keepParts * 256)
    val tail = text(between(300, 3000))
    Blob(head ++ tail, of.kind, "neardup", false)
  }

  /** One put batch: fixed counts per kind, then exact duplicates from
    * inside the batch and from `earlier`, and near-duplicates of earlier
    * compressible tree blobs. Duplicates cycle through the kinds, so
    * each batch duplicates the same kinds. The order is shuffled.
    */
  def batch(mix: Map[String, Int], randomShare: Double, dupsWithin: Int, dupsAcross: Int, nearDups: Int, earlier: IndexedSeq[Blob]): IndexedSeq[Blob] = {
    val kinds = Seq("inline", "single", "tree1", "tree2")
    val base = kinds.flatMap(k => fresh(k, mix.getOrElse(k, 0), randomShare)).toIndexedSeq
    def pick(from: Seq[Blob], kind: String): Option[Blob] = {
      val of = from.filter(_.kind == kind).toIndexedSeq
      if (of.isEmpty) None else Some(of(rnd.nextInt(of.size)))
    }
    def cycle(n: Int, ks: Seq[String], from: Seq[Blob]): Seq[Blob] =
      if (from.isEmpty) Nil else Seq.tabulate(n)(i => ks(i % ks.size)).flatMap(k => pick(from, k))
    val within = cycle(dupsWithin, kinds, base).map(_.copy(origin = "dup"))
    val across = cycle(dupsAcross, kinds, earlier).map(_.copy(origin = "dup"))
    val near = cycle(nearDups, Seq("tree1", "tree2"), (earlier ++ base).filter(!_.random)).map(nearDup)
    rnd.shuffle(base ++ within ++ across ++ near)
  }

  def nextInt(n: Int): Int = rnd.nextInt(n)
  def shuffle[A](xs: Seq[A]): Seq[A] = rnd.shuffle(xs)

  /** Zipf(s) rank in [0, n): rank 0 is the most likely. */
  def zipf(n: Int, s: Double): Int = {
    val weights = (1 to n).map(k => 1.0 / math.pow(k, s))
    var u = rnd.nextDouble() * weights.sum
    var i = 0
    while (i < n - 1 && u >= weights(i)) { u -= weights(i); i += 1 }
    i
  }

  /** A 32-byte hash that no generated blob has (a miss). */
  def absentHash(): String = Gen.sha256Hex(("absent-" + rnd.nextLong()).getBytes("UTF-8"))
}

object Gen {
  def sha256Hex(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map(x => f"${x & 0xff}%02x").mkString

  /** Self-test: the same seed gives byte-identical inputs, a different
    * seed different ones. Returns the failures (empty when it passes).
    */
  def selfTest(seed: Long, make: Gen => Seq[Blob]): Seq[String] = {
    def digest(s: Long): String = sha256Hex(make(new Gen(s)).flatMap(b => b.bytes.toSeq :+ 0.toByte).toArray)
    val a = digest(seed)
    val errs = Seq.newBuilder[String]
    if (digest(seed) != a) errs += s"seed $seed did not reproduce its inputs"
    if (digest(seed + 1) == a) errs += s"seeds $seed and ${seed + 1} gave identical inputs"
    errs.result()
  }
}
