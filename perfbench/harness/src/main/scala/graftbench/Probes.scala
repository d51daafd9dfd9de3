package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{Codec, Convergent}

/** Single-thread kernel probes on a workload's own parts: the byte
  * kernels of [[graft.lake.Codec]] called directly, and the
  * [[graft.lake.Convergent]] column functions run as one-task Spark
  * jobs, timed by the task's run time from the trace listener.
  */
object Probes {
  /** Cycles `parts` until they hold about `targetBytes`. */
  def probeSet(parts: Seq[Array[Byte]], targetBytes: Long): IndexedSeq[Array[Byte]] = {
    val nonEmpty = parts.filter(_.nonEmpty).toIndexedSeq
    val total = nonEmpty.map(_.length.toLong).sum
    if (total == 0) IndexedSeq.empty
    else {
      val reps = math.max(1L, targetBytes / total).toInt
      (0 until reps).flatMap(_ => nonEmpty)
    }
  }

  /** Splits blobs into the store's fixed-size parts. */
  def split(blobs: Seq[Array[Byte]], partSize: Int): Seq[Array[Byte]] =
    blobs.flatMap(b => b.grouped(partSize).toSeq)

  private def mbPerS(bytes: Long, ns: Long): Double = if (ns <= 0) Double.NaN else bytes / 1e6 / (ns / 1e9)

  def codec(parts: IndexedSeq[Array[Byte]], partsPerBlob: Int, r: Report): Unit = {
    val plain = parts.map(_.length.toLong).sum
    var t0 = System.nanoTime()
    val deflated = parts.map(Codec.deflate)
    val deflateNs = System.nanoTime() - t0
    t0 = System.nanoTime()
    val inflated = deflated.map(Codec.inflate)
    val inflateNs = System.nanoTime() - t0
    r.check(inflated.zip(parts).forall { case (a, b) => java.util.Arrays.equals(a, b) }, "codec probe: inflate(deflate(x)) != x")
    val groups = parts.grouped(partsPerBlob).map(g => new GenericArrayData(g.toArray[Any])).toIndexedSeq
    t0 = System.nanoTime()
    val concatenated = groups.map(Codec.concatAll).map(_.length.toLong).sum
    val concatNs = System.nanoTime() - t0
    r.check(concatenated == plain, "codec probe: concatAll lost bytes")
    r.metric("codec.deflate_mb_per_s", mbPerS(plain, deflateNs), "MB/s")
    r.metric("codec.inflate_mb_per_s", mbPerS(plain, inflateNs), "MB/s")
    r.metric("codec.concat_mb_per_s", mbPerS(plain, concatNs), "MB/s")
    r.metric("codec.deflate_ratio", deflated.map(_.length.toLong).sum.toDouble / plain, "ratio")
  }

  def convergent(spark: SparkSession, tracer: Tracer, parts: IndexedSeq[Array[Byte]], r: Report): Unit = {
    val plain = parts.map(_.length.toLong).sum
    def oneTask(rows: Seq[Row], schema: StructType) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    val in = oneTask(parts.map(Row(_)), StructType(Seq(StructField("part", BinaryType))))
    val (encrypted, encNs) = taskTime(tracer, "convergent.encryptDeflated") {
      in.select(Convergent.encryptDeflated(col("part")).as("ct"), unhex(sha2(col("part"), 256)).as("key")).collect()
    }
    val ctSchema = StructType(Seq(StructField("ct", BinaryType), StructField("key", BinaryType)))
    val (decrypted, decNs) = taskTime(tracer, "convergent.decryptDeflated") {
      oneTask(encrypted.toSeq, ctSchema).select(Convergent.decryptDeflated(col("ct"), col("key"))).collect()
    }
    r.check(decrypted.length == parts.size && decrypted.zip(parts).forall { case (row, p) => java.util.Arrays.equals(row.getAs[Array[Byte]](0), p) },
      "convergent probe: decrypt(encrypt(x)) != x")
    r.metric("convergent.encrypt_mb_per_s", mbPerS(plain, encNs), "MB/s")
    r.metric("convergent.decrypt_mb_per_s", mbPerS(plain, decNs), "MB/s")
  }

  /** Runs `body` in a probe span; returns its result and the summed
    * task run time of the Spark jobs it submitted.
    */
  private def taskTime[A](tracer: Tracer, name: String)(body: => A): (A, Long) = {
    val before = tracer.jobs().map(_.jobId).toSet
    val out = tracer.span("probe", name)(body)
    org.apache.spark.graftbench.Bus.drain(tracer.sc)
    (out, tracer.jobs().filterNot(j => before(j.jobId)).map(_.taskNs).sum)
  }
}
