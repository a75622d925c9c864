package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * failures.json naming every query that threw. */
object Verify {

  /** Dumps each query `only` admits (all when None) to `outDir/<name>`,
    * writes oracle_sql.json and failures.json beside them, and returns
    * the failed queries with their errors. A failed query's output
    * directory is removed, so a stale dump from an earlier run cannot
    * pass the compare. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      only: Option[Set[String]] = None): Seq[(String, String)] = {
    def keep(name: String): Boolean = only.forall(_.contains(name))
    new java.io.File(outDir).mkdirs()
    val failures = SparkEntry.queries.toSeq.filter { case (n, _) => keep(n) }
      .flatMap { case (name, fn) =>
        val failed =
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            None
          } catch { case e: Throwable =>
            org.apache.commons.io.FileUtils.deleteQuietly(
              new java.io.File(s"$outDir/$name"))
            Some(name -> String.valueOf(e.getMessage))
          }
        // bound storage occupancy to one query's working set (see
        // Harness.reclaim): orphaned localCheckpoint blocks otherwise
        // accumulate across the 180-query dump
        Harness.reclaim(spark)
        failed
      }
    def obj(kv: Iterable[(String, String)]): String = kv
      .map { case (k, v) => s"${Harness.jsonString(k)}: ${Harness.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      obj(SparkEntry.oracleSql.filter { case (k, _) => keep(k) }))
    Files.writeString(Paths.get(s"$outDir/failures.json"), obj(failures))
    failures
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev loop)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Harness.session(Harness.cpus)
    val failures = try run(spark, sfDir, outDir, only) finally spark.stop()
    failures.foreach { case (name, msg) =>
      System.err.println(s"[verify] $name failed: $msg")
    }
    if (failures.nonEmpty) {
      System.err.println(s"[verify] ${failures.size} queries failed; " +
        s"see $outDir/failures.json")
      sys.exit(1)
    }
  }
}
