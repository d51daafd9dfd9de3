package graft.lake

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Catalog integration (the metadata-management half of the reference's
  * lake: config lists stores, here surfaced as queryable views through
  * Spark's catalog so `spark.sql` / `spark.catalog` see the lake).
  */
object LakeCatalog {

  /** Registers per-store and lake-wide views:
    *   {prefix}_chunks / {prefix}_manifest / {prefix}_catalog  (union)
    *   {prefix}_s{i}_chunks / ...                              (per store)
    * Lake-wide unions carry a `store_priority` column matching the
    * read-fallback order; on a lake with no stores they are empty.
    * The views replace every view an earlier call made under `prefix`,
    * so none shows a store the lake no longer has. Each store is
    * resolved once, and its per-store views and its part of the
    * lake-wide ones are the same frames: they read the generation of
    * the store that was current at registration (see
    * [[ChunkStore.chunks]]). A later put is not in them, and they stay
    * readable until the second `gc` or `compact` of that store after
    * the call; register again to see the store as it is now.
    */
  def register(lake: Lake, prefix: String = "graft"): Unit = {
    val spark = lake.spark
    val perStoreView = s"\\Q${prefix}\\E_s\\d+_(chunks|manifest|catalog)"
    lakeTables(spark, prefix).filter(_.matches(perStoreView)).foreach(spark.catalog.dropTempView)
    val parts = lake.stores.zipWithIndex.flatMap { case (s, i) =>
      s.views.map { case (table, df) =>
        df.createOrReplaceTempView(s"${prefix}_s${i}_$table")
        table -> df.withColumn("store_priority", lit(i))
      }
    }
    Seq("chunks" -> ChunkStore.chunkSchema, "manifest" -> ChunkStore.manifestSchema, "catalog" -> ChunkStore.catalogSchema)
      .foreach { case (table, schema) =>
        parts.collect { case (`table`, df) => df }.reduceLeftOption(_ unionByName _)
          .getOrElse(spark.createDataFrame(java.util.List.of[Row](), schema.add("store_priority", IntegerType, nullable = false)))
          .createOrReplaceTempView(s"${prefix}_$table")
      }
  }

  /** Lake-wide stats: per store, blob/chunk counts and byte totals —
    * the `DataLake` health view. `n_blobs` counts the raw catalog,
    * tombstoned blobs included; `bytes` is [[ChunkStore.currentBytes]].
    * Each row is one resolution of its store and one aggregate
    * ([[ChunkStore.totals]]), so it describes one generation.
    */
  def describe(lake: Lake): DataFrame = {
    val spark = lake.spark
    import spark.implicits._
    lake.stores.zipWithIndex.map { case (s, i) =>
      val (bytes, nBlobs, nChunks) = s.totals
      (i, s.path, s.readonly, nBlobs, nChunks, bytes)
    }.toDF("store_priority", "path", "readonly", "n_blobs", "n_chunks", "bytes")
  }

  /** Names of registered lake views in the session catalog. */
  def lakeTables(spark: SparkSession, prefix: String = "graft"): Seq[String] =
    spark.catalog.listTables().collect().map(_.name).toSeq.filter(_.startsWith(prefix + "_")).sorted
}
