package graft

import java.nio.file.{Files, Paths}

import scala.sys.process.{Process, ProcessLogger}

/** The value-level oracle inside the suite: every oracled SparkEntry
  * query, dumped by Verify over the sf0.01 tables, must match its DuckDB
  * twin under tools/check.py. A missing python3 or duckdb fails the
  * spec; it is never skipped. */
class OracleSpec extends SparkSuite {

  test("Verify at sf0.01 matches the DuckDB oracle on every query") {
    val sf = Paths.get(Sf).resolveSibling("sf0.01").toString
    val check = Paths.get("tools", "check.py")
    assert(Files.isRegularFile(check),
      s"no $check under ${Paths.get("").toAbsolutePath}")
    val out = Files.createTempDirectory("graft_oracle")
    try {
      val failures = Verify.run(spark, sf, out.toString)
      assert(failures.isEmpty, s"queries threw in Verify: $failures")
      val report = new StringBuilder
      val line = (l: String) =>
        report.synchronized { report.append(l).append('\n'); () }
      val rc = Process(Seq("python3", check.toString, sf, out.toString))
        .!(ProcessLogger(line, line))
      // 180 oracled queries: a query that lost its oracle or its output
      // moves the count
      val expected = "180 ok, 0 fail"
      assert(rc == 0 && report.toString.contains(expected),
        s"check.py exited $rc, expected '$expected':\n$report")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(out.toFile)
  }
}
