package graft

import org.apache.spark.sql.SparkSession

/** The corpus-card CLI composes gate-verified operators into one JSON
  * artifact; the spec checks the composition and serialization, not the
  * operators (each has its own oracle/spec). It runs the tool on an
  * active child session with its own width and zone, which the tool
  * must use as it stands: a CLI reconfiguring a session it did not
  * build re-widens it for everything that runs after it. */
class CorpusReportSpec extends SparkSpec {

  test("corpus report writes the four sections as valid JSON") {
    val child = spark.newSession()
    child.conf.set("spark.sql.shuffle.partitions", "7")
    child.conf.set("spark.sql.session.timeZone", "America/New_York")
    val out = java.nio.file.Files.createTempDirectory("graft-report")
      .resolve("report.json").toString
    SparkSession.setActiveSession(child)
    try {
      graft.tools.CorpusReport.main(Array("/root/testdata/sf0.001", out))
      assert(child.conf.get("spark.sql.shuffle.partitions") == "7")
      assert(child.conf.get("spark.sql.session.timeZone") == "America/New_York")
    } finally {
      SparkSession.setActiveSession(spark)
      CacheBook.releaseAll(child)
    }
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out)))
    assert(json.startsWith("{") && json.trim.endsWith("}"))
    Seq("\"sources\":", "\"near_dup_pairs\":", "\"dq_profile\":",
      "\"top_source_overlaps\":", "\"est_jaccard_micro\"",
      "\"n_vocab\"", "\"minhash_lsh\"", "\"n_distinct\"").foreach { k =>
      assert(json.contains(k), s"missing $k in $json")
    }
  }
}
