package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The `summary.json` body: run counts + wall time, so a downstream
    * consumer can distinguish "Verify finished and dumped N results"
    * from a truncated or absent artifact (round 11's correctness file
    * shipped as `{}` with no way to tell which side died). Failed
    * query names are JSON-escaped with the same escaper as the oracle
    * SQL dump.
    */
  private[graft] def summaryJson(
      nOk: Int, failed: Seq[String], wallSec: Double): String = {
    // Locale.ROOT: the f-interpolator uses the JVM default locale, and
    // a comma decimal separator (de_DE, fr_FR, ...) would make the
    // artifact invalid JSON — the exact silent-zeroing failure this
    // file exists to prevent
    val wall = String.format(java.util.Locale.ROOT, "%.1f",
      Double.box(wallSec))
    s"""{"n_queries": ${nOk + failed.size}, "n_ok": $nOk, """ +
    s""""n_failed": ${failed.size}, "wall_sec": $wall, """ +
    s""""failed": ${failed.map(jsonStr).mkString("[", ",", "]")}}"""
  }

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness.
    */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev only): comma-separated query names — dump and
    // oracle-list just those. The driver's two-arg call is unchanged.
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    val t0 = System.nanoTime()
    var nOk = 0
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        nOk += 1
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally {
        // queries stay self-contained: a query that cache()s an
        // intermediate (e.g. the scrubbed corpus) must not leak it
        // into the rest of the sweep — the Bench/ScaleSmoke isolation
        // discipline
        spark.sqlContext.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    }
    val wallSec = (System.nanoTime() - t0) / 1e9
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/summary.json"),
      summaryJson(nOk, failed.toSeq, wallSec))
    spark.stop()
  }
}
