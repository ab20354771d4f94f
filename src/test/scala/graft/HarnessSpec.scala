package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  import TestSpark._

  test("Probe prints the timing and layer line and writes the plan") {
    val dir = Files.createTempDirectory("graft-probe")
    val line = Probe.probe(spark, sf, "q1_agg", Some(dir.toString))
    assert(line.startsWith("q1_agg "), line)
    for (field <- Seq("median=", "build=", "plan=", "jobs="))
      assert(line.contains(field), s"no $field in: $line")
    val jobs = raw"jobs=(\d+)".r.findFirstMatchIn(line).map(_.group(1).toInt)
    assert(jobs.exists(_ >= 1), line)
    val plan = dir.resolve("q1_agg.txt")
    assert(Files.exists(plan))
    assert(Files.readString(plan).contains("== Physical Plan =="))
  }

  test("Verify writes one parquet dir and the oracle entry per selected query (forked JVM)") {
    // must fork: Verify stops its session
    val out = Files.createTempDirectory("graft-verify")
    val (rc, log) = ForkedJvm.run("graft.Verify", sf, out.toString, "q1_agg")
    assert(rc == 0, s"Verify exited $rc:\n${log.takeRight(3000)}")
    assert(Files.isDirectory(out.resolve("q1_agg")))
    assert(Files.exists(out.resolve("q1_agg/_SUCCESS")))
    val oracle = new ObjectMapper().readTree(out.resolve("oracle_sql.json").toFile)
    assert(oracle.fieldNames().asScala.toSeq == Seq("q1_agg"))
  }
}
