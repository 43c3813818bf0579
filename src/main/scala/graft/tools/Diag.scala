package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import graft.{SparkEntry, Tables}
import org.apache.spark.graftshim.BusShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, ExtendedMode, FormattedMode}

/** Developer diagnostics over registered queries ([[SparkEntry.queries]]):
  * plan printing, plan evidence files, and per-sample jobs/stages/wall time
  * (the decomposition behind BASELINE.md's job-floor arguments — a 2-second
  * query that is 4 jobs of launch floor needs a different fix than one slow
  * stage). The sf dir is always the first argument after the mode.
  *
  * Usage:
  *   runMain graft.tools.Diag extended  <sfDir> <q>[,<q>...]
  *   runMain graft.tools.Diag formatted <sfDir> <outDir> <suffix> <q>[,<q>...]
  *   runMain graft.tools.Diag run       <sfDir> <q>[,<q>...] [samples]
  *
  * `extended` prints `explain(extended)`; `formatted` writes
  * `explain("formatted")` to `<outDir>/<q>_<suffix>.txt` (the
  * `plans/rNN/` evidence files); `run` writes each query `samples` times
  * (default 3) to a noop sink and prints one line per sample. Sample 1 is
  * cold (JIT, catalog and stored-artifact set-up); later samples are warm.
  */
object Diag {
  final case class Sample(query: String, sample: Int, seconds: Double, jobs: Int, stages: Int) {
    override def toString: String =
      f"[diag] $query%-24s sample $sample jobs=$jobs%-3d stages=$stages%-3d $seconds%.3f s"
  }

  /** Split a comma list of query names; an unknown name fails listing the
    * known ones. */
  def queryNames(csv: String): Seq[String] = {
    val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(names.nonEmpty, "no query names given")
    require(unknown.isEmpty,
      s"unknown query '${unknown.mkString(",")}'; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    names
  }

  def explain(spark: SparkSession, sfDir: String, name: String, mode: ExplainMode): String =
    try SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(mode)
    catch { case scala.util.control.NonFatal(e) => s"FAILED to plan: ${e.getMessage}" }

  /** Write one `<q>_<suffix>.txt` formatted plan per query; returns the paths. */
  def formatted(spark: SparkSession, sfDir: String, outDir: String, suffix: String,
                names: Seq[String]): Seq[Path] = {
    Files.createDirectories(Paths.get(outDir))
    names.map { n =>
      Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
        explain(spark, sfDir, n, FormattedMode).getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Run each query `samples` times into a noop sink, counting the jobs
    * started and stages completed by each sample (query construction
    * included: eager probes are part of the query's cost). */
  def run(spark: SparkSession, sfDir: String, names: Seq[String], samples: Int): Seq[Sample] = {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try names.flatMap { n =>
      (1 to samples).map { i =>
        BusShim.drain(sc)
        jobs.set(0); stages.set(0)
        val t0 = System.nanoTime()
        SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        BusShim.drain(sc)
        val s = Sample(n, i, sec, jobs.get, stages.get)
        println(s)
        s
      }
    } finally sc.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    def session[A](sfDir: String)(f: SparkSession => A): A = {
      val spark = Tables.harnessSessionFor(sfDir)
      try f(spark) finally spark.stop()
    }
    args.toList match {
      case "extended" :: sfDir :: qs :: Nil =>
        val names = queryNames(qs)
        session(sfDir)(s => names.foreach { n =>
          println(s"==== $n ====")
          println(explain(s, sfDir, n, ExtendedMode))
        })
      case "formatted" :: sfDir :: outDir :: suffix :: qs :: Nil =>
        val names = queryNames(qs)
        session(sfDir)(s => formatted(s, sfDir, outDir, suffix, names)
          .foreach(p => println(s"[diag] wrote $p")))
      case "run" :: sfDir :: qs :: rest if rest.size <= 1 =>
        val names = queryNames(qs)
        val samples = rest.headOption.fold(3)(_.toInt)
        session(sfDir)(s => run(s, sfDir, names, samples))
      case _ =>
        throw new IllegalArgumentException(
          "usage: Diag extended <sfDir> <q,...> | formatted <sfDir> <outDir> <suffix> <q,...> " +
            "| run <sfDir> <q,...> [samples]")
    }
  }
}
