package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter (exact or
    // prefix match) for a targeted local oracle loop; the driver's
    // 2-arg call dumps everything
    val only: String => Boolean =
      if (args.length < 3) _ => true
      else { val pats = args(2).split(",").toSeq
        name => pats.exists(p => name == p || name.startsWith(p)) }
    val spark = LocalSession("graft-verify", 4, "WARN")
    new java.io.File(outDir).mkdirs()
    var sinceGc = 0
    SparkEntry.queries.filter(kv => only(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      Sweep.transientStorage(spark) // results are on disk; free checkpoints
      // dead broadcasts need a driver GC before ContextCleaner frees
      // them (see Bench.timeOne) — keep the long sweep's memory flat
      sinceGc += 1
      if (sinceGc >= 25) { sinceGc = 0; System.gc() }
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
    val json = SparkEntry.oracleSql.filter(kv => only(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
