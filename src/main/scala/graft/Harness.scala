package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The one session profile and the run hygiene every graft entry point
  * shares — `Bench`, `Verify`, `StoreBench`, `StreamBench` and the
  * tests' `SparkSuite` — so the configuration that is verified is the
  * one that is benchmarked. */
object Harness {

  /** Local cores to run on: `SPARK_GRAFT_CPUS` if set, otherwise every
    * processor the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The local session on `cpus` cores, one shuffle partition per core. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // split large single files across the cores: the default 128 MB
      // yields ~14 scan partitions for a 1.7 GB fact file — under half
      // of local[32] — and the scan-bound aggregates pay for it
      // (measured: q_agg_pushdown at 100x lineitem 0.82 -> 0.67 s at
      // 64m, flat for shuffle-bound queries and for sf0.1's small
      // files). The same sizing rule §5 prescribes for the cluster.
      .config("spark.sql.files.maxPartitionBytes", "64m")
      // let SMALL files split to the cores too: maxSplitBytes floors at
      // openCostInBytes (default 4 MB), which caps a 20 MB single-file
      // scan at ~5 tasks on local[32]; 256 KB lets totalBytes/parallelism
      // set the split instead (measured: the 10x-events scans behind
      // q_asof_join/q_tfidf drop ~10%, flat elsewhere — same §5 sizing
      // rule as maxPartitionBytes, applied at the small end)
      .config("spark.sql.files.openCostInBytes", "262144")
      // the bucketed landing (Layout.landBucketed) writes ONE file per
      // bucket, so the write-time in-bucket sort order is real at read
      // time; this flag lets the scan report it and the co-located SMJ
      // plan sort-free (Spark disabled the default because MULTI-file
      // buckets interleave — not our layout; LayoutSpec pins both
      // shapes, measured 4.3-6.6 -> ~1.0 s on the 60M-row fact join)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Storage hygiene between queries: Materialize.frame localCheckpoints
    * (alert frames, per-round cluster state) are only reclaimed when the
    * JVM GCs the RDD reference and the async ContextCleaner runs. Over
    * 280 query executions the orphaned blocks accumulate in the unified
    * memory region, evicting to disk under pressure — which serializes
    * later checkpoint/broadcast builds behind disk I/O on a contended
    * host (observed: the three Materialize/broadcast-heavy queries at
    * 5-19x their steady time in a driver-side run, BASELINE.md
    * host-variance note). Explicitly unpersisting after each query keeps
    * storage occupancy bounded by ONE query's working set; SharedFrames
    * views use df.persist (not localCheckpoint) and are kept. */
  def reclaim(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values
      .filter(graft.RddCheckpointAccess.isLocallyCheckpointed)
      .foreach(_.unpersist(blocking = false))

  /** Hypervisor steal from a `/proc/stat` text: the aggregate `cpu`
    * line's 8th value (cumulative jiffies at 100 Hz, summed over every
    * host CPU) and the number of per-CPU `cpuN` lines, which is the
    * host CPU count that steal is summed over — a cgroup-limited JVM
    * may see fewer processors. -1 for a value the text does not hold. */
  private[graft] def parseStat(stat: String): (Long, Int) = {
    val lines = stat.linesIterator.toSeq
    val jiffies = lines.map(_.trim.split("\\s+"))
      .collectFirst { case t if t(0) == "cpu" => t }
      .flatMap(t => if (t.length > 8) t(8).toLongOption else None)
      .getOrElse(-1L)
    val hostCpus = lines.count(_.matches("cpu\\d+\\s.*"))
    (jiffies, if (hostCpus > 0) hostCpus else -1)
  }

  /** [[parseStat]] of the running host's `/proc/stat`; (-1, -1) if unreadable. */
  def readStat(): (Long, Int) =
    try parseStat(Files.readString(Paths.get("/proc/stat")))
    catch { case _: Exception => (-1L, -1) }

  /** Cumulative host steal jiffies; -1 if unreadable. */
  def steal(): Long = readStat()._1

  /** Steal jiffies between two [[steal]] samples; -1 if either is. */
  def stealBetween(start: Long, end: Long): Long =
    if (start >= 0 && end >= 0) end - start else -1L

  /** `s` as a JSON string literal: quote, backslash and ALL control
    * chars escaped — Spark error messages and builder-authored SQL
    * routinely carry tabs and newlines, which would otherwise make a
    * consumer's json.load fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
