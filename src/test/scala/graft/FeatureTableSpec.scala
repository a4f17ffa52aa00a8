package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.features.FeatureTable

class FeatureTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("ft-spec").toString + "/t"

  test("upsert replaces matching PKs, keeps others, inserts new") {
    val t = FeatureTable(tmp(), Seq("k"))
    t.upsert(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    t.upsert(spark, Seq((2L, "B"), (3L, "c")).toDF("k", "v"))
    val got = t.read(spark).as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "a"), (2L, "B"), (3L, "c")))
  }

  test("upsert is idempotent: upsert(x) ∘ upsert(x) = upsert(x)") {
    val t = FeatureTable(tmp(), Seq("k"))
    val df = Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
    t.upsert(spark, df)
    t.upsert(spark, df)
    assert(t.read(spark).count() == 2)
  }

  test("schema evolution: new column appears, old rows null there") {
    val t = FeatureTable(tmp(), Seq("k"))
    t.upsert(spark, Seq((1L, "a")).toDF("k", "v"))
    t.upsert(spark, Seq((2L, "b", 9.9)).toDF("k", "v", "extra"))
    val got = t.read(spark)
    assert(got.columns.toSet == Set("k", "v", "extra"))
    assert(got.filter(col("k") === 1 && col("extra").isNull).count() == 1)
    assert(got.filter(col("k") === 2 && col("extra") === 9.9).count() == 1)
  }

  test("crash mid-swap recovers the parked generation on next access") {
    val t = FeatureTable(tmp(), Seq("k"))
    t.upsert(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // simulate a crash between the two moves: data parked at .old-*, no data dir
    val root = java.nio.file.Paths.get(t.root)
    java.nio.file.Files.move(root.resolve("data"), root.resolve(".old-crash"))
    assert(t.exists) // recover() rolls the parked generation back
    assert(t.read(spark).count() == 2)
    // and a subsequent upsert sees the recovered history (no silent reset)
    t.upsert(spark, Seq((3L, "c")).toDF("k", "v"))
    assert(t.read(spark).count() == 3)
  }

  test("DateType trailing day PK partitions the table by day") {
    val t = FeatureTable(tmp(), Seq("k", "day"))
    val df = Seq((1L, java.sql.Date.valueOf("2024-01-01"), 1.0),
      (1L, java.sql.Date.valueOf("2024-01-02"), 2.0)).toDF("k", "day", "v")
    t.upsert(spark, df)
    val dataDir = java.nio.file.Paths.get(t.root, "data")
    val listing = java.nio.file.Files.list(dataDir)
    val parts = try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala.map(_.getFileName.toString).toSet
    } finally listing.close()
    assert(parts.exists(_.startsWith("day=2024-01-01")), s"no day partition dirs: $parts")
    assert(t.read(spark).count() == 2) // partition column restored on read
  }

  test("composite PK: same key-prefix different day coexists") {
    val t = FeatureTable(tmp(), Seq("k", "day"))
    t.upsert(spark, Seq((1L, "2024-01-01", 1.0)).toDF("k", "day", "v"))
    t.upsert(spark, Seq((1L, "2024-01-02", 2.0)).toDF("k", "day", "v"))
    assert(t.read(spark).count() == 2)
    t.upsert(spark, Seq((1L, "2024-01-02", 3.0)).toDF("k", "day", "v"))
    val v = t.read(spark).filter(col("day") === "2024-01-02")
      .select("v").as[Double].head()
    assert(v == 3.0 && t.read(spark).count() == 2)
  }

  test("hasDay: a day's partition with a parquet file is present, others absent") {
    val t = FeatureTable(tmp(), Seq("k", "day"))
    val day = java.time.LocalDate.parse("2024-01-01")
    assert(!t.hasDay(day), "a table never written holds no day")
    t.upsert(spark, Seq((1L, java.sql.Date.valueOf(day), 1.0)).toDF("k", "day", "v"))
    assert(t.hasDay(day))
    assert(!t.hasDay(day.plusDays(1)))
    // a partition directory without a data file is no snapshot
    val empty = java.nio.file.Paths.get(t.root, "data", s"day=${day.plusDays(2)}")
    java.nio.file.Files.createDirectories(empty)
    assert(!t.hasDay(day.plusDays(2)))
  }
}
