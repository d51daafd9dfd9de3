package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Catalog integration (the metadata-management half of the reference's
  * lake: config lists stores, here surfaced as queryable views through
  * Spark's catalog so `spark.sql` / `spark.catalog` see the lake).
  */
object LakeCatalog {

  /** Registers per-store and lake-wide views:
    *   {prefix}_chunks / {prefix}_manifest / {prefix}_catalog  (union)
    *   {prefix}_s{i}_chunks / ...                              (per store)
    * Lake-wide unions carry a `store_priority` column matching the
    * read-fallback order. Each view reads the generation of its store
    * that was current at registration (see [[ChunkStore.chunks]]): a
    * later put is not in it, and it stays readable until the second
    * `gc` or `compact` of that store after the call; register again to
    * see the store as it is now.
    */
  def register(lake: Lake, prefix: String = "graft"): Unit = {
    val parts = lake.stores.zipWithIndex.map { case (s, i) =>
      s.chunks.createOrReplaceTempView(s"${prefix}_s${i}_chunks")
      s.manifest.createOrReplaceTempView(s"${prefix}_s${i}_manifest")
      s.catalog.createOrReplaceTempView(s"${prefix}_s${i}_catalog")
      (
        s.chunks.withColumn("store_priority", lit(i)),
        s.manifest.withColumn("store_priority", lit(i)),
        s.catalog.withColumn("store_priority", lit(i)),
      )
    }
    parts.map(_._1).reduceLeft(_ unionByName _).createOrReplaceTempView(s"${prefix}_chunks")
    parts.map(_._2).reduceLeft(_ unionByName _).createOrReplaceTempView(s"${prefix}_manifest")
    parts.map(_._3).reduceLeft(_ unionByName _).createOrReplaceTempView(s"${prefix}_catalog")
  }

  /** Lake-wide stats: per store, blob/chunk counts and byte totals —
    * the `DataLake` health view.
    */
  def describe(lake: Lake): DataFrame = {
    val spark = lake.spark
    import spark.implicits._
    lake.stores.zipWithIndex.map { case (s, i) =>
      val nBlobs = s.catalog.count()
      val nChunks = s.chunks.count()
      (i, s.path, s.readonly, nBlobs, nChunks, s.currentBytes)
    }.toDF("store_priority", "path", "readonly", "n_blobs", "n_chunks", "bytes")
  }

  /** Names of registered lake views in the session catalog. */
  def lakeTables(spark: SparkSession, prefix: String = "graft"): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq.filter(_.startsWith(prefix + "_")).sorted
}
