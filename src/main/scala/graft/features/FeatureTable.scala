package graft.features

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDate
import java.util.UUID
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.DateType

/** Keyed, upsert-able parquet table — the engine's stand-in for the
  * reference's Feature Store tables (`04a:604-630`: declared primary keys,
  * `write_table(mode='merge')` upsert) and Delta MERGE (`04c:189-202`),
  * neither of which is available in this environment (no Delta jar).
  *
  * Upsert = `existing LEFT ANTI JOIN incoming ON pk` ∪ `incoming`
  * (SURVEY.md S7/S8), with `unionByName(allowMissingColumns = true)` so a
  * new column appearing in `incoming` evolves the schema (Delta
  * `schema.autoMerge` semantics, `04c:156`) — missing values become null.
  *
  * Write protocol: stage → swap, with crash recovery. A crash can only
  * land in one of three states: staging present (ignored and re-staged
  * next write), data present (normal), or data mid-swap (data dir absent,
  * previous generation parked at `.old-*`) — `recover()` rolls the parked
  * generation back on the next access, so history is never silently lost.
  * At cluster scale the same protocol is an object-store rename commit (or
  * a real table format); the operator shape — anti-join + union — is the
  * scalable part: one shuffle on the PK, broadcast when the incoming
  * batch is small relative to the table.
  *
  * When the trailing PK column is a `day: DATE`, writes are partitioned by
  * it, so per-day reads (`04a:639-643` pattern) prune partitions instead
  * of scanning history.
  */
final case class FeatureTable(root: String, keys: Seq[String]) {
  require(keys.nonEmpty, "a keyed table needs at least one key column")

  private def dataDir: Path = Paths.get(root, "data")

  /** Roll back a generation parked by a crash mid-swap, and sweep staging
    * dirs orphaned by crashed writes (each would otherwise leak a full
    * table copy per crash). Like the swap protocol itself, the sweep
    * assumes single-writer discipline — it would delete a concurrent
    * writer's live staging dir.
    */
  private def recover(): Unit = {
    if (!Files.isDirectory(Paths.get(root))) return
    def list(prefix: String): Seq[Path] = {
      val listing = Files.list(Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        listing.iterator().asScala.toSeq
          .filter(_.getFileName.toString.startsWith(prefix))
          .sortBy(_.getFileName.toString)
      } finally listing.close()
    }
    list(".staging-").foreach(delete)
    if (Files.isDirectory(dataDir)) return
    val parked = list(".old-")
    if (parked.nonEmpty) {
      Files.move(parked.last, dataDir, StandardCopyOption.ATOMIC_MOVE)
      parked.init.foreach(delete)
    }
  }

  def exists: Boolean = { recover(); Files.isDirectory(dataDir) }

  def read(spark: SparkSession): DataFrame = {
    require(exists, s"feature table $root does not exist")
    spark.read.parquet(dataDir.toString)
  }

  /** Whether the table holds a snapshot of `day`: its `day=<day>` partition
    * directory holds a parquet file. A file-system probe, no Spark job — a
    * table keyed by a trailing `day` is always written partitioned by it.
    */
  def hasDay(day: LocalDate): Boolean = {
    require(keys.last == "day", s"feature table $root is not keyed by day")
    val dir = dataDir.resolve(s"day=$day")
    exists && Files.isDirectory(dir) && {
      val listing = Files.list(dir)
      try listing.anyMatch(_.getFileName.toString.endsWith(".parquet"))
      finally listing.close()
    }
  }

  private def writeAtomic(df: DataFrame): Unit = {
    val staging = Paths.get(root, s".staging-${UUID.randomUUID()}")
    val writer = df.write.mode("overwrite")
    val partitioned =
      if (keys.last == "day" &&
          df.schema.fields.exists(f => f.name == "day" && f.dataType == DateType))
        writer.partitionBy("day")
      else writer
    partitioned.parquet(staging.toString)
    // monotonic (timestamped) parking name: if multiple parked generations
    // ever coexist (crash during old-gen delete + another mid-swap crash),
    // recover()'s lexicographic max picks the NEWEST generation, never an
    // arbitrary one (UUID alone sorts randomly)
    val old = Paths.get(root,
      f".old-${System.currentTimeMillis()}%015d-${UUID.randomUUID()}")
    if (Files.exists(dataDir)) Files.move(dataDir, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(staging, dataDir, StandardCopyOption.ATOMIC_MOVE)
    if (Files.exists(old)) delete(old)
  }

  private def delete(p: Path): Unit = {
    // walk + reverse = children before parents; stream closed deterministically
    val walk = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    } finally walk.close()
  }

  /** Full refresh (S3/S10). */
  def overwrite(df: DataFrame): Unit = { recover(); writeAtomic(df) }

  /** Keyed upsert with schema evolution (S7/S8). Incoming rows replace
    * existing rows with the same PK; other rows are kept.
    */
  def upsert(spark: SparkSession, incoming: DataFrame): Unit = {
    if (!exists) { writeAtomic(incoming); return }
    val existing = read(spark)
    val kept = existing.join(
      incoming.select(keys.head, keys.tail: _*).distinct(), keys, "left_anti")
    writeAtomic(kept.unionByName(incoming, allowMissingColumns = true))
  }
}
