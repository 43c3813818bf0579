package graft.tools

import java.nio.file.Files

import graft.SparkSpec

/** The developer diagnostics main: evidence files, name validation, and
  * listener-counted jobs with a deterministic bus drain (no sleeps). */
class DiagSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("formatted writes one physical-plan file per query") {
    val out = Files.createTempDirectory("graft_diag_fmt").toString
    val qs = Seq("q_find", "q_agg_pricing")
    val paths = Diag.formatted(spark, dir, out, "t", qs)
    assert(paths.map(_.getFileName.toString) == qs.map(q => s"${q}_t.txt"))
    paths.foreach { p =>
      val txt = Files.readString(p)
      assert(txt.contains("== Physical Plan =="), s"$p has no physical plan:\n$txt")
    }
  }

  test("an unknown query name fails before any session starts and lists the known names") {
    val e = intercept[IllegalArgumentException] {
      Diag.main(Array("run", dir, "q_find,q_no_such_query"))
    }
    assert(e.getMessage.contains("q_no_such_query"))
    assert(e.getMessage.contains("known: ") && e.getMessage.contains("q_agg_pricing"))
    // the shared session is still alive
    assert(spark.range(3).count() == 3)
    intercept[IllegalArgumentException](Diag.main(Array("run", dir)))
  }

  test("run counts q_find's warm jobs exactly, with no sleep") {
    // a warm q_find is one job (a filtered point read); sample 1 may also
    // pay cold catalog set-up
    val samples = Diag.run(spark, dir, Seq("q_find"), 3)
    assert(samples.map(_.sample) == Seq(1, 2, 3))
    assert(samples.head.jobs >= 1)
    assert(samples.tail.forall(s => s.jobs == 1 && s.stages == 1), samples.mkString("\n"))
    assert(samples.forall(_.seconds > 0))
  }
}
