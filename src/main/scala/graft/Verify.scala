package graft
import java.nio.file.{Files, Paths, StandardOpenOption}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Dump order is chosen so a DRIVER TIMEOUT TRUNCATES the record instead
  * of zeroing it (two official rounds came back `{}` — r02, r06):
  * `oracle_sql.json` is written FIRST (before any query runs), results
  * stream one directory at a time, and `progress.jsonl` appends one line
  * per query as it lands — whatever survives a kill is a valid partial
  * record the compare can still score.
  */
object Verify {
  /** Heaviest queries at sf0.01 (the measured top-10 of the round-9
    * official dump, progress.jsonl: 22.3s down to 2.7s — together ~40%
    * of the ~190s total), skipped by the dev-only `--fast` selector when
    * wall-clock is the constraint.
    */
  val heavyQueries: Set[String] = Set(
    "training_set", "ab_cmh_stratified", "approx_distinct_audit",
    "household_commodity_features", "household_features",
    "household_features_reference_exact", "theil_sen_trend",
    "ann_ivf_append", "commodity_features", "product_pagerank")

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: Verify <sfDir> <outDir> [--fast | name1,name2,...]")
    val sfDir = args(0); val outDir = args(1)
    // dev-only selector (the driver always passes 2 args): restrict the
    // dump — and the emitted oracle json — to the named queries, or with
    // `--fast` skip the pinned heaviest set
    val selected: Map[String, Harness.Query] =
      if (args.length == 3 && args(2) == "--fast")
        SparkEntry.queries.view.filterKeys(!heavyQueries.contains(_)).toMap
      else if (args.length == 3) Harness.select(args(2).split(",").map(_.trim))
      else SparkEntry.queries
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle json BEFORE any query runs: if the dump is killed mid-way
    // the compare still has the contract for every result that landed
    val json = SparkEntry.oracleSql.view.filterKeys(selected.keySet)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val progress = Paths.get(s"$outDir/progress.jsonl")
    Files.deleteIfExists(progress)
    def record(name: String, ok: Boolean, sec: Double, err: String): Unit =
      Files.writeString(progress,
        // Locale.ROOT: a comma-decimal default locale (de_DE) would emit
        // "sec":0,42 — invalid JSON — via the f interpolator
        s"""{"query":${q(name)},"ok":$ok,"sec":${
          String.format(java.util.Locale.ROOT, "%.2f", Double.box(sec))}""" +
          (if (err.isEmpty) "}\n" else s""","error":${q(err)}}""" + "\n"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)

    // registered catalog + one bucketed, pinned silver fact for the whole
    // dump (values identical; see core.SilverStore) — the first Spark jobs,
    // so they run after oracle_sql.json has landed
    Harness.prepare(spark, sfDir, "verify")
    // self-record rows: (name, ok, rows, cols, sec) — the DuckDB-less
    // summary written at dump end (and incrementally), so even a round
    // whose driver artifact truncates to `{}` leaves a machine-readable,
    // HEAD-accurate record (r2/r6/r8/r9 all lost the official artifact)
    val selfRows = scala.collection.mutable.ArrayBuffer
      .empty[(String, Boolean, Long, Int, Double)]
    def writeSelfRecord(): Unit = {
      val oracled = SparkEntry.oracleSql.keySet
      val pass = selfRows.count(_._2)
      val body = selfRows.sortBy(_._1).map { case (n, ok, rows, cols, sec) =>
        s"${q(n)}:{" +
          s""""ok":$ok,"rows":$rows,"cols":$cols,"oracled":${oracled(n)},""" +
          s""""sec":${String.format(java.util.Locale.ROOT, "%.2f",
            Double.box(sec))}}"""
      }.mkString(",")
      val json = s"""{"sf":${q(sfDir)},"declared":${selected.size},""" +
        s""""oracled":${(selected.keySet & oracled).size},""" +
        s""""completed":${selfRows.size},"pass":$pass,""" +
        s""""fail":${selfRows.size - pass},"queries":{$body}}"""
      Files.writeString(Paths.get(s"$outDir/CORRECTNESS_SELF.json"), json)
      // only full official-shaped dumps update the in-repo copy — a
      // dev-selector run must not overwrite the round record
      if (args.length == 2)
        Files.writeString(Paths.get("CORRECTNESS_SELF.json"), json)
    }
    // heavy queries LAST: under a driver timeout the truncated record then
    // holds the MAXIMUM number of per-query results
    selected.toSeq.sortBy { case (name, _) =>
      (heavyQueries.contains(name), name)
    }.foreach { case (name, fn) =>
      // Remove any previous run's result FIRST: a query that now fails
      // must not leave its old (stale) parquet behind, or the compare
      // would silently report a false PASS for a broken query.
      val target = Paths.get(outDir, name)
      if (Files.exists(target)) {
        val walk = Files.walk(target)
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
        } finally walk.close()
      }
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        val sec = (System.nanoTime() - t0) / 1e9
        record(name, ok = true, sec, "")
        // row/col counts from the JUST-WRITTEN parquet (footer reads —
        // no recompute), so the self-record reflects what actually landed
        val written = spark.read.parquet(s"$outDir/$name")
        selfRows += ((name, true, written.count(), written.columns.length, sec))
      } catch { case e: Throwable =>
        // e.toString keeps the exception class (getMessage is null for NPEs)
        System.err.println(s"[verify] $name failed: $e")
        val sec = (System.nanoTime() - t0) / 1e9
        record(name, ok = false, sec, e.toString)
        selfRows += ((name, false, -1L, -1, sec))
      }
      // rewrite after EVERY query (cheap — one small file): a kill mid-
      // dump still leaves a valid self-record covering what completed
      try writeSelfRecord()
      catch { case e: Throwable =>
        System.err.println(s"[verify] self-record write failed: $e")
      }
    }
    spark.stop()
  }
}
