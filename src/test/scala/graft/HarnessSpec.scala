package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Catalog, SilverStore}

/** The shared prologue of the harness mains: fault-isolated preparation and
  * the query selector.
  */
class HarnessSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("prepare without events.parquet registers the rest and pins silver") {
    val dir = Files.createTempDirectory("harness-spec")
    val present = Catalog.fixtureTables.filterNot(_ == "events")
    present.foreach { t =>
      Files.copy(Paths.get(s"$sf/$t.parquet"),
        dir.resolve(s"$t.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }
    spark.catalog.dropTempView("events")
    val wasEnabled = SilverStore.isEnabled
    try {
      // a missing fixture table must not abort a bench before its JSON line
      Harness.prepare(spark, dir.toString, "harness-spec")
      assert(present.forall(spark.catalog.tableExists))
      assert(!spark.catalog.tableExists("events"))
      assert(SilverStore.isEnabled)
      val silver = graft.silver.TransactionsAdj(spark, dir.toString)
      assert(silver.storageLevel == StorageLevel.MEMORY_AND_DISK)
      // the pinned frame itself, not a re-derived one
      assert(silver eq graft.silver.TransactionsAdj(spark, dir.toString))
      silver.unpersist()
    } finally {
      if (!wasEnabled) SilverStore.disable()
      Catalog.registerAll(spark, sf, force = true)
    }
  }

  test("select rejects an unknown name, listing the known ones") {
    val e = intercept[IllegalArgumentException] {
      Harness.select(Seq("household_features", "no_such_query"))
    }
    assert(e.getMessage.contains("unknown queries: no_such_query;"))
    assert(e.getMessage.contains("known: ") && e.getMessage.contains("hash_split"))
  }

  test("select keeps exactly the known names") {
    val names = Seq("household_features", "hash_split")
    val got = Harness.select(names)
    assert(got.keySet == names.toSet)
    names.foreach(n => assert(got(n) eq SparkEntry.queries(n)))
  }
}
