package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes — dump only those
    // (local iteration aid; the driver always passes 2 args)
    val filter = args.lift(2).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = filter match {
      case Some(f) => SparkEntry.queries.filter { case (n, _) => f.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      val err = try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        Some(name)
      }
      // block hygiene (the Bench discipline): drop checkpoint/persist
      // blocks a query leaves pinned so hundreds of dumps don't accumulate
      Harness.clearBlocks(spark)
      err
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
    // filtered runs (local iteration) restrict the oracle map to the
    // selected names too — otherwise check.py FAILs every unselected
    // query with "no spark output"
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    System.err.println(
      s"[verify] failed ${failed.size}/${selected.size}: ${failed.mkString(",")}")
  }
}
