package graft

/** The `graft.Dev` commands, run through [[Dev.run]] on the shared session
  * (`Dev.main` would stop it). */
class DevSpec extends SparkSpec {

  test("an unknown command fails and names every command") {
    val e = intercept[IllegalArgumentException](Dev.run(spark, Array("nope")))
    for (c <- Seq("smoke", "plan", "jobs", "parity", "sql", "tile",
        "checkpoint", "hotband"))
      assert(e.getMessage.contains(c), e.getMessage)
  }

  test("plan writes the named query's formatted plan") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-dev-plan-")
    Dev.run(spark, Array("plan", tmp.toString, "t", "feat_rsi"))
    val f = tmp.resolve("feat_rsi_t.txt")
    assert(java.nio.file.Files.size(f) > 0)
  }

  test("jobs prints a per-job timeline") {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(
      Dev.run(spark, Array("jobs", "feat_rsi", "/root/testdata/sf0.001")))
    val out = buf.toString("UTF-8")
    assert(out.linesIterator.exists(_.matches("""\[profjobs\]\s+job\s.*""")), out)
  }
}
