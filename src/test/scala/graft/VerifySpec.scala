package graft

import java.nio.file.Files

class VerifySpec extends SparkSpec {

  test("Verify.run returns every failed query and still writes oracle_sql.json") {
    val out = Files.createTempDirectory("graft-verify-").toString
    val missing = s"$out/no-such-sf"
    val failed = Verify.run(spark, missing, out, Some(Set("q1_agg", "q_tpch_q7")))
    assert(failed.sorted == Seq("q1_agg", "q_tpch_q7"))
    assert(Files.exists(java.nio.file.Paths.get(s"$out/oracle_sql.json")))
  }
}
