package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [substr…] — with substrings,
  * only the queries whose name contains one of them (and their oracle
  * entries) are dumped: the fast inner loop for authoring a query/oracle
  * pair (`scripts/check_oracle.py <sfDir> <outDir>` compares just those). */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [substr…]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.run.Sessions.local(cpus, cpus, "graft-verify")
    val names = dump(spark, args(0), args(1), args.drop(2).toSeq)
    println(s"[verify] dumped ${names.size} quer(ies)")
    spark.stop()
  }

  /** Write every query whose name contains one of `only` (all when empty)
    * to `outDir/<name>` and their oracle SQL to `outDir/oracle_sql.json`;
    * returns the dumped names. A failing query is reported and skipped. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      only: Seq[String]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    def keep(name: String) = only.isEmpty || only.exists(name.contains)
    val picked = SparkEntry.queries.filter { case (n, _) => keep(n) }
    picked.foreach { case (name, fn) =>
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
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    picked.keys.toSeq.sorted
  }
}
