package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional extra args = query names for focused re-verification; the
    // driver passes none and dumps the full sweep
    val picked =
      if (rest.nonEmpty) SparkEntry.queries.filter(kv => rest.contains(kv._1))
      else SparkEntry.queries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(parallelism = cpus)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    picked.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // free this query's persisted/localCheckpoint blocks (see Bench):
      // deregister cached plans, then drop checkpoint blocks
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
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
    // a focused run (explicit query names) declares only those queries in
    // oracle_sql.json — check.py's universe is the declared keys (fail-
    // closed), so the dump must match what was actually attempted
    val json = SparkEntry.oracleSql.filter(kv => picked.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // the FULL attempted-query list (r8 verdict #2): oracle_sql.json alone
    // leaves the ~7 rows-only queries outside the fail-closed universe — one
    // that dies before writing its output dir would appear in neither set
    // and vanish silently. check.py iterates this list, so a missing output
    // is a FAIL even for queries with no oracle.
    val attempted = picked.keys.toSeq.sorted.map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/queries.json"), attempted)
    spark.stop()
  }
}
