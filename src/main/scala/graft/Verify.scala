package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (tools/check.py). Exits non-zero
  * when any selected key fails. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      s"usage: Verify <sfDir> <outDir> [names,comma,separated] (got ${args.mkString(" ")})")
    val sfDir = args(0)
    val outDir = args(1)
    // optional subset for local iteration; without it every key runs
    val selected = SparkEntry.select(if (args.length >= 3) args(2).split(",").toSeq else Nil)
    val names = selected.map(_._1).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the engine's standard tuning (AQE, 64MB broadcast threshold,
    // extensions) — results must come from the same profile a cluster
    // deployment would run
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // each key's earlier output is deleted before it is computed, so a
    // key that fails leaves no stale answer for the compare to pass on
    val failed = selected.flatMap { case (name, fn) =>
      val out = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
      try {
        fn(spark, sfDir).coalesce(1).write.parquet(out.toString)
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
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
      .filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} key(s) failed: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
