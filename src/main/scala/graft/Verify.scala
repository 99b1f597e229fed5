package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated query subset (dev loop — oracle-check
    // one new query without dumping all 180+). Driver always passes 2 args.
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    }
    val spark = Session.start("WARN")
    new java.io.File(outDir).mkdirs()
    // Failures must be LOUD in the artifact, not just stderr: a query that
    // throws leaves no parquet dir, and a checker that only walks dirs then
    // under-counts silently (this shrank two rounds' correctness records).
    // So: record every failure in _ERRORS.json and the full registered key
    // set in _QUERIES.json — the checker diffs dumped dirs against the key
    // set so "missing" is a visible failure, not an absence.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val selected = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None        => SparkEntry.queries
    }
    // Subset dumps must not masquerade as (or contaminate) a full verify:
    // pointed at a dir holding an earlier dump, stale per-query dirs
    // outside the subset would linger while _QUERIES.json only covers the
    // subset — so refuse that mix, and stamp subset dumps with
    // _SUBSET.json so downstream tooling can tell them apart.
    val outFile = new java.io.File(outDir)
    only match {
      case Some(names) =>
        val stale = Option(outFile.listFiles()).toSeq.flatten
          .filter(f => f.isDirectory && !names.contains(f.getName))
          .map(_.getName)
        require(stale.isEmpty,
          s"outDir $outDir holds query dirs outside the subset " +
            s"(${stale.sorted.take(5).mkString(", ")}…) — use a fresh dir")
      case None =>
        val marker = new java.io.File(outFile, "_SUBSET.json")
        if (marker.exists()) marker.delete()
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
      // Same lesson as Bench: queries that cache intermediates would
      // otherwise pin dead blocks for the rest of the dump and every
      // later query pays the GC pressure.
      spark.catalog.clearCache()
    }
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
    val oracles = only match {
      case Some(names) => SparkEntry.oracleSql.view.filterKeys(names).toMap
      case None        => SparkEntry.oracleSql
    }
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/_QUERIES.json"),
      selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    // Vacuity allowlist for the checker: an oracled query returning 0 rows
    // is an empty-vs-empty hash match that proves nothing unless declared.
    Files.writeString(Paths.get(s"$outDir/_EMPTY_ALLOWED.json"),
      SparkEntry.emptyAllowed.toSeq.sorted.map(q).mkString("[", ",", "]"))
    only.foreach { names =>
      Files.writeString(Paths.get(s"$outDir/_SUBSET.json"),
        names.toSeq.sorted.map(q).mkString("[", ",", "]"))
    }
    Files.writeString(Paths.get(s"$outDir/_ERRORS.json"),
      errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    // Deliberately rc 0 even with failures: the dump itself completed, and a
    // nonzero rc could make a driver skip the DuckDB compare and lose the
    // 150+ queries that DID pass. The checker turns _QUERIES/_ERRORS into
    // explicit MISSING failures and rc 1.
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED: " +
        errors.keys.mkString(", "))
    spark.stop()
  }
}
