package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Local-iteration subset `SPARK_GRAFT_ONLY=q1,q2`, shared by Verify
    * and Bench (gate runs never set it, so they stay complete).
    * Blank/empty values are treated as unset — a leaked empty var must
    * not silently filter out every query — unknown names are refused,
    * and an active filter warns loudly so a partial run can never
    * masquerade as a gate run. */
  private[graft] def onlyRows(tag: String, doing: String, partial: String)
      : Option[Set[String]] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: " +
          s"${unknown.toSeq.sorted.mkString(", ")} — a typo here would " +
          "silently drop that row")
      System.err.println(
        s"[$tag] WARNING: SPARK_GRAFT_ONLY is active — $doing ONLY " +
          s"${names.toSeq.sorted.mkString(", ")}. $partial")
    }
    only
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val only = onlyRows("verify", "dumping", "This is a PARTIAL dump, not a gate run.")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // name first, THEN execute: engine warnings (large task binary,
      // codegen fallback…) land after the name in the log, so a grep
      // attributes them to the right query.
      System.err.println(s"[verify] running $name")
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
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
