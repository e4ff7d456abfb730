package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare
  * (`tools/check_oracle.py`). Usage:
  * `runMain graft.Verify <sfDir> <outDir> [query...]`. Named queries
  * restrict the dump and the oracle file to those, and the dynamic
  * (Verify-time trained) oracles are trained only when a named query has
  * no static one; with no names, every query is dumped. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, names) = (args(0), args(1), args.drop(2).toSet)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    def wanted(name: String): Boolean = names.isEmpty || names(name)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (wanted(name))
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
    val static = SparkEntry.oracleSql
    // a dynamic-oracle failure must not zero the round: fall back to the
    // static set and let the affected query degrade to rows-only
    val dynamic =
      if (names.nonEmpty && names.forall(static.contains)) Map.empty[String, String]
      else try SparkEntry.dynamicOracleSql(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[verify] dynamic oracles skipped: ${e.getMessage}")
        Map.empty[String, String]
      }
    val json = (static ++ dynamic).iterator.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
