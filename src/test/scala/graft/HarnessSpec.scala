package graft

import java.nio.file.{Files, Paths}

/** The shared entry-point harness: steal accounting and Verify's
  * failure reporting. */
class HarnessSpec extends SparkSuite {

  test("parseStat reads steal from the aggregate line, cpus from cpuN lines") {
    // eight per-CPU lines: a cgroup-limited JVM may report fewer
    // processors, but host steal is summed over all eight
    val stat = ("cpu  4342857 0 218210 6548744 2168 0 107878 122430 0 0\n" +
      (0 until 8).map(i => s"cpu$i 1047790 0 59299 1668559 658 0 32449 3369 0 0")
        .mkString("\n") +
      "\nintr 45338543 0 0\nctxt 72197723\nbtime 1792225070\n")
    assert(Harness.parseStat(stat) == ((122430L, 8)))
    // no steal column (pre-2.6.11 kernels) or no text: -1, not a throw
    assert(Harness.parseStat("cpu  1 2 3 4\ncpu0 1 2 3 4\n") == ((-1L, 1)))
    assert(Harness.parseStat("") == ((-1L, -1)))
    assert(Harness.stealBetween(-1L, 5L) == -1L)
    assert(Harness.stealBetween(3L, 5L) == 2L)
  }

  test("Verify.run reports a throwing query and writes the manifest") {
    val out = Files.createTempDirectory("graft_verify").toString
    val q = "q_agg_pushdown"
    // a stale dump from an earlier run must not survive the failure
    Files.createDirectories(Paths.get(out, q))
    val failures = Verify.run(spark, "/nonexistent/sf", out, Some(Set(q)))
    assert(failures.map(_._1) == Seq(q))
    assert(!Files.exists(Paths.get(out, q)))
    val manifest = Files.readString(Paths.get(out, "failures.json"))
    assert(manifest.startsWith("{\"" + q + "\": \""))
    val oracle = Files.readString(Paths.get(out, "oracle_sql.json"))
    assert(oracle.startsWith("{\"" + q + "\": "))
  }
}
