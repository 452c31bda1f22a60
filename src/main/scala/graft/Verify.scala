package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER=local-cluster[4,8,6144] runs the WHOLE query
    // surface multi-JVM (forked executors, remote shuffle, broadcast
    // transport) — diff the two outDirs for full-surface parity
    // evidence (needs SPARK_HOME + SPARK_SCALA_VERSION, see
    // Sessions.start)
    val spark = Sessions.start(
      sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"), cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // comma-separated substring filter for focused iteration (mirrors
    // Bench's SPARK_GRAFT_BENCH_ONLY); unset = the driver's full dump
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>

      // written at the query's natural partitioning — the driver's
      // DuckDB compare reads the directory glob, so shard count is
      // irrelevant to the hash and the gate itself scales past sf0.01
      try fn(spark, sfDir).write.mode("overwrite")
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
