package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query filter (local iteration);
    // the driver invokes with two args → full suite
    val keep: String => Boolean =
      if (args.length < 3) _ => true else args(2).split(",").toSet
    val spark = tools.Measure.start(GraftSession.local("graft-verify")
      .config("spark.sql.session.timeZone", "UTC")
      // same broadcast band as Bench/GraftSession so the verified
      // plans are the benched plans
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      // write µs (not INT96) so dumped timestamps carry the same
      // arrow dtype DuckDB produces for the oracle side
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter { case (n, _) => keep(n) }.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
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
    // {SFDIR} resolves to this run's data dir: oracles that need a
    // literal path (DuckDB table functions) stay scale-portable
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("{SFDIR}", sfDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
