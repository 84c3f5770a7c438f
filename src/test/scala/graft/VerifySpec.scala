package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** [[Verify.runRow]], one catalog row's dump: a row that fails leaves no
  * output behind, so tools/check.py reports "no spark output" for it
  * instead of comparing an earlier run's files.
  */
class VerifySpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("a row that throws before its write deletes the row's stale " +
      "output; a row that succeeds writes it") {
    val out = Files.createTempDirectory("graft_verify").toString
    val stale = Paths.get(out, "row", "part-0.parquet")
    Files.createDirectories(stale.getParent)
    Files.writeString(stale, "earlier run")
    // fails in analysis: the column does not exist
    Verify.runRow(spark, "unused", out, "row",
      (s, _) => s.range(1).select(col("missing")))
    assert(!Files.exists(Paths.get(out, "row")))
    Verify.runRow(spark, "unused", out, "row", (s, _) => s.range(3).toDF())
    assert(spark.read.parquet(s"$out/row").count() == 3)
  }
}
