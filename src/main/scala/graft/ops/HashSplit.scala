package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reproducible content-hash partitioning of a dataset — the standard way
  * a large-scale training pipeline assigns train/validation/test splits
  * (or a stable downsample) so that membership is a pure function of the
  * record key: independent of row order, partitioning, engine, and time,
  * and stable across incremental reruns (a document keeps its split
  * forever; no seeded-RNG drift between Spark and any other system).
  *
  * The bucket is the first 8 hex digits of md5(key) read as an integer,
  * mod `buckets` — a per-row codegen'd expression, no shuffle, no state.
  * The same arithmetic renders to DuckDB SQL (`hash_split` oracle), so
  * assignments are verified engine-exact, not just "some hash".
  *
  * (The reference has no analogue — it splits with seeded `randomSplit`,
  * `04b:366-367`, which is partition-count-dependent; this operator is
  * the scale-correct replacement. The engine's own `PropensityTrainer.split`
  * still calls `randomSplit`: no trainer path splits by key yet.)
  */
object HashSplit {

  /** Stable bucket ∈ [0, buckets) from the key's content hash. */
  def bucket(key: Column, buckets: Int): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long") % buckets

  /** Same bucket arithmetic in DuckDB SQL (for oracle rendering). */
  def bucketSql(keyExpr: String, buckets: Int): String =
    s"CAST(('0x' || substr(md5(CAST($keyExpr AS VARCHAR)), 1, 8)) AS BIGINT) % $buckets"

  /** Add `bucket` and a `split` label: train / val / test with the given
    * per-mille boundaries (defaults 800/100/100).
    */
  def split(df: DataFrame, keyCol: String,
      trainPerMille: Int = 800, valPerMille: Int = 100,
      buckets: Int = 1000): DataFrame = {
    require(trainPerMille + valPerMille < buckets,
      s"split boundaries ($trainPerMille + $valPerMille) must leave room for test within $buckets buckets")
    val b = bucket(col(keyCol), buckets)
    // A null key has no stable content hash: its null bucket would fail
    // every `<` comparison and fall through to 'test', silently
    // concentrating unkeyed records in one split (and leaking them into
    // evaluation). Split assignment is a correctness boundary — fail loud.
    df.withColumn("bucket",
        when(col(keyCol).isNull,
          raise_error(lit(s"HashSplit.split: null $keyCol — split membership " +
            "requires a non-null key; filter or impute upstream")))
          .otherwise(b))
      .withColumn("split",
        when(col("bucket") < trainPerMille, "train")
          .when(col("bucket") < trainPerMille + valPerMille, "val")
          .otherwise("test"))
  }

  /** The matching SQL CASE for the oracle. */
  def splitSql(trainPerMille: Int = 800, valPerMille: Int = 100): String =
    s"""CASE WHEN bucket < $trainPerMille THEN 'train'
       | WHEN bucket < ${trainPerMille + valPerMille} THEN 'val'
       | ELSE 'test' END""".stripMargin.replaceAll("\n", "")

  /** Deterministic downsample: keep keys whose bucket falls below
    * `keepPerMille` — the reproducible alternative to `df.sample`.
    */
  def downsample(df: DataFrame, keyCol: String, keepPerMille: Int,
      buckets: Int = 1000): DataFrame =
    df.filter(bucket(col(keyCol), buckets) < keepPerMille)

  /** Deterministic per-class (stratified) downsample: within each class,
    * keep keys whose bucket falls below that class's per-mille keep rate
    * — the class-rebalancing primitive (cap the majority class, keep the
    * tail) with the same reproducibility contract as [[split]]: a pure
    * per-row function, no shuffle, no seeded-RNG drift. Classes absent
    * from `keepPerMille` keep `defaultPerMille`.
    */
  def stratified(df: DataFrame, keyCol: String, classCol: String,
      keepPerMille: Map[String, Int], defaultPerMille: Int = 1000,
      buckets: Int = 1000): DataFrame = {
    val rate = keepPerMille.toSeq.sortBy(_._1).foldLeft(lit(defaultPerMille)) {
      case (acc, (cls, r)) => when(col(classCol) === cls, lit(r)).otherwise(acc)
    }
    df.filter(bucket(col(keyCol), buckets) < rate)
  }

  /** The matching SQL keep-rate CASE for the oracle. */
  def stratifiedRateSql(classExpr: String, keepPerMille: Map[String, Int],
      defaultPerMille: Int = 1000): String =
    keepPerMille.toSeq.sortBy(_._1)
      .map { case (cls, r) => s"WHEN $classExpr = '$cls' THEN $r" }
      .mkString("CASE ", " ", s" ELSE $defaultPerMille END")
}
