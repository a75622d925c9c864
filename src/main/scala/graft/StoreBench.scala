package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A/B evidence harness for the stored IVF-PQ index (SURVEY §2
  * #34e/#34f): builds the cell-partitioned, code-carrying store from an
  * embeddings table (the batch analogue of
  * [[graft.streaming.StreamingCorpus.landVectorsPq]]'s layout), then
  * times — in ONE JVM, best-of-N per side — the query-time-encode
  * [[Ann.ivfPqAnn]] against the codes-only [[Ann.ivfPqAnnStore]].
  * Same-process A/B is the only timing shape this host's documented
  * steal bursts can't corrupt differentially (BASELINE.md
  * host-variance note). Driver-side evidence tooling like [[Bench]];
  * not part of any query surface. */
object StoreBench {
  def main(args: Array[String]): Unit = {
    val spark = Harness.session(Harness.cpus)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val storeDir = args.headOption.getOrElse("/tmp/graft_pq_store")

    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val seeds = Ann.seedCentroidsOf(e, 32)
    val cbs = Ann.pqCodebookOf(e)
    // marker-keyed build: a leftover store from a different sf dir (or
    // regenerated data under the same path) is rebuilt, never silently
    // reused — the A/B must measure the same rows on both sides
    Ann.ensurePqStore(e, seeds, cbs, storeDir,
      Ann.sourceTagOf(s"$dir/embeddings.parquet"))
    val probeV = e.filter(col("vec_id") === 0L)
      .select(col("v")).head.getSeq[Double](0).toArray

    def run(tag: String, f: => DataFrame): Double = {
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        f.write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      // scalastyle:off println
      println(f"$tag: best ${ts.min}%.3f s of " +
        ts.map(t => f"$t%.3f").mkString("[", ", ", "]"))
      // scalastyle:on println
      ts.min
    }
    run("warmup", Ann.ivfPqAnn(spark, dir))
    val a = run("ivf_pq_query_time_encode", Ann.ivfPqAnn(spark, dir))
    // excludeId makes the stored side return EXACTLY ivfPqAnn's rows
    // (the query-time path filters the probe out) — the A/B compares
    // identical outputs, not k-vs-k+self
    val b = run("ivf_pq_stored_codes",
      Ann.ivfPqAnnStore(spark, storeDir, probeV, seeds, cbs,
        excludeId = Some(0L)))
    // scalastyle:off println
    println(f"""{"encode_s": $a%.3f, "stored_s": $b%.3f, """ +
      f""""stored_speedup": ${a / b}%.2f, "sf": "$dir"}""")
    // scalastyle:on println
    spark.stop()
  }
}
