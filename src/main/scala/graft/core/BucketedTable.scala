package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed managed tables — the co-located-join tool (SURVEY.md §4,
  * "Partitioning & shuffle").
  *
  * A repeated equi-join key (household_key joins fact↔features↔spine in
  * every pipeline stage) earns a physical layout: writing both sides
  * bucketed by that key lets Spark plan the join with NO shuffle on the
  * bucketed sides (each bucket pair joins locally). At 100 TB this removes
  * the dominant exchange of the training-set build; the cost is paid once
  * at write time and amortized over every downstream join.
  *
  * Uses `saveAsTable` (bucket metadata lives in the catalog). Readers must
  * come from `spark.table`, not `read.parquet` — raw parquet has no bucket
  * spec.
  */
object BucketedTable {

  def write(df: DataFrame, name: String, bucketCol: String, buckets: Int): Unit = {
    drop(df.sparkSession, name)
    df.write.mode("overwrite")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(name)
  }

  /** Drop table `name` and its warehouse directory. An in-memory catalog
    * can forget a table whose warehouse dir survived a previous JVM, so
    * the orphan location is cleared even when the catalog has no entry.
    */
  def drop(spark: SparkSession, name: String): Unit =
    try spark.sql(s"DROP TABLE IF EXISTS $name")
    finally {
      val warehouse = spark.conf.get("spark.sql.warehouse.dir")
        .stripPrefix("file:")
      val loc = java.nio.file.Paths.get(warehouse, name.toLowerCase)
      if (java.nio.file.Files.exists(loc)) {
        import scala.jdk.CollectionConverters._
        val walk = java.nio.file.Files.walk(loc)
        try walk.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
        finally walk.close()
      }
    }

  def read(spark: SparkSession, name: String): DataFrame = spark.table(name)
}
