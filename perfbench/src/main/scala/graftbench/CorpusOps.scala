package graftbench

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{Decontam, Dedup, Pii}

/** LLM-corpus curation inside `analytics`, on the `documents` table. A
  * `corpus_batch` op takes a seeded tenth of the documents as a new batch
  * and runs it through five stages — quality gates, exact dedup, MinHash
  * near-dedup against the other nine tenths, decontamination against a
  * seeded benchmark set, PII redaction — into a parquet sink that run.py
  * checks.
  *
  * Traced runs materialize each stage on its own (localCheckpoint) so every
  * stage gets a time, row counts and its own jobs; untraced runs execute the
  * batch as the library composes it.
  */
final class CorpusOps {
  private var docs: DataFrame = _
  val slices = 10
  val benchMod = 1000

  def catalog(ctx: Ctx): Unit = {
    docs = Tables.load(ctx.spark, ctx.data, "documents")
    docs.schema; ()
  }

  private val stages: Seq[(String, (DataFrame, DataFrame, DataFrame) => DataFrame)] = Seq(
    "gates" -> ((b, _, _) => b
      .filter(TextFunctions.langId(col("text")) =!= "und")
      .filter(TextFunctions.qualityScore(col("text")) >= 0.3)
      .filter(TextFunctions.gopherPass(TextFunctions.gopherStats(col("text")),
        minWords = 25, minStopwords = 1))),
    "exact" -> ((b, _, _) => Dedup.exactCorpusOnePass(b)),
    "minhash" -> ((b, corpus, _) => Dedup.minhashIncremental(b, corpus)),
    "decontam" -> ((b, _, bench) => Decontam.decontaminate(b, bench, w = 4)),
    "pii" -> ((b, _, _) => b.select(col("doc_id"), col("lang"), Pii.redact(col("text")).as("text"))))

  private def batch(ctx: Ctx, id: String, r: Int, bench: Int): OpOut = {
    val input = docs.filter(col("doc_id") % slices === r)
    val corpus = docs.filter(col("doc_id") % slices =!= r)
    val benchSet = docs.filter(col("doc_id") % benchMod === bench)
    val path = ctx.file(s"results/$id").getAbsolutePath
    val check = Map[String, Any]("slices" -> slices, "slice" -> r, "bench_mod" -> benchMod,
      "bench" -> bench, "path" -> path)
    ctx.trace match {
      case None =>
        val out = stages.foldLeft(input) { case (b, (_, f)) => f(b, corpus, benchSet) }
        out.write.mode("overwrite").parquet(path)
        OpOut(check = check)
      case Some(t) =>
        var cur = input
        var rowsIn = input.count()
        val per = stages.map { case (name, f) =>
          val g = s"$id/$name"
          val t0 = System.nanoTime
          val (next, rowsOut) = ctx.grouped(g, id) {
            val n = f(cur, corpus, benchSet).localCheckpoint(eager = true)
            (n, n.count())
          }
          val stageMs = (System.nanoTime - t0) / 1e6
          val acc = t.collect(g)
          val m = Map("ms" -> stageMs, "rows_in" -> rowsIn, "rows_out" -> rowsOut, "trace" -> acc.toMap)
          cur = next; rowsIn = rowsOut
          name -> m
        }.toMap
        cur.write.mode("overwrite").parquet(path)
        OpOut(check = check + ("stages" -> per))
    }
  }

  def op(ctx: Ctx, id: String, rng: Random): Op = {
    val r = rng.nextInt(slices)
    // the benchmark set comes from the other nine tenths
    val bench = Iterator.continually(rng.nextInt(benchMod)).find(_ % slices != r).get
    Op(id, "corpus_batch", () => batch(ctx, id, r, bench))
  }

  /** Traced runs only: LSH precision on one batch and per-kernel rows/s. */
  def finish(ctx: Ctx): Map[String, Any] = ctx.trace match {
    case None => Map.empty
    case Some(_) =>
      val b = docs.filter(col("doc_id") % slices === 0)
      val pairs = Dedup.minhashLsh(b, jaccardThreshold = 0.0).localCheckpoint(eager = true)
      val candidates = pairs.count()
      val verified = pairs.filter(col("jaccard") >= 0.7).count()
      // 10 copies of every text, so each kernel's time stands well above
      // the timer's resolution
      val rows = docs.select(col("doc_id"), col("text"))
        .withColumn("copy", explode(sequence(lit(1), lit(10))))
      val n = rows.count()
      def timed(df: DataFrame): Double = (1 to 2).map { _ =>
        val t0 = System.nanoTime
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime - t0) / 1e6
      }.min
      val scanMs = timed(rows.select(length(col("text"))))
      val t = col("text")
      val kernels = Map(
        "langid" -> rows.select(TextFunctions.langId(t)),
        "quality" -> rows.select(TextFunctions.qualityScore(t)),
        "gopher" -> rows.select(TextFunctions.gopherStats(t)),
        "pii" -> rows.select(Pii.redact(t)),
        "minhash" -> Dedup.minhashed(rows).select(col("band_hashes")))
      Map("lsh_candidates" -> candidates, "lsh_verified" -> verified, "kernel_docs" -> n,
        "kernel_scan_ms" -> scanMs,
        "kernel_ms" -> kernels.map { case (k, df) => k -> timed(df) })
  }
}
