package graftbench

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets

import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}

import graft.Tables

/** What an op hands back: its result rows (written in canonical JSON after
  * the op's clock stops, see [[Json]]) and what run.py checks them against. */
final case class OpOut(result: Seq[Row] = Nil, check: Map[String, Any] = Map.empty)

final case class Op(id: String, kind: String, run: () => OpOut)

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      data: String, work: File, cpus: Int)

/** Shared state of one run: the session (replaced on every set-up
  * repetition), the data directory and the working directory. */
final class Ctx(val args: Args) {
  var spark: SparkSession = _
  var trace: Option[Trace] = None
  def data: String = args.data
  def work: File = args.work
  def file(name: String): File = new File(args.work, name)

  /** Run `body` with its Spark jobs tagged `group`, restoring the op's
    * group afterwards (the traced corpus stages use this). */
  def grouped[T](group: String, restore: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group, interruptOnCancel = false)
    try body finally spark.sparkContext.setJobGroup(restore, restore, interruptOnCancel = false)
  }
}

trait Workload {
  /** Ops per round: the timed loop only stops between rounds, so every run
    * measures the same mix whatever the seed. */
  def roundOps: Int
  def catalog(ctx: Ctx): Unit
  /** Stored-artifact builds; returns bytes written. */
  def artifacts(ctx: Ctx): Long = 0L
  def ops(ctx: Ctx, rng: Random): Iterator[Op]
  /** One round on a fixed seed, run once after the set-ups: every op kind
    * has compiled and cached its plans before timing starts. */
  def warmup(ctx: Ctx): Unit = ops(ctx, new Random(0)).take(roundOps).foreach(_.run())
  /** Untimed figures read after the loop (written to summary.json). */
  def finish(ctx: Ctx): Map[String, Any] = Map.empty
}

/** Benchmark driver: set-up (repeated, fresh session and working state each
  * time), one warm-up, then a closed loop of seeded ops for `--seconds`, one
  * op at a time. Every op's latency and canonical result go to ops.jsonl;
  * set-up times, memory and end-of-run figures go to summary.json. With
  * `--trace 1` a listener attributes every job, stage and task to its op.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *             --work DIR --cpus C
  */
object Main {
  /** Hard stop of the timed loop, far inside the 180 s a run may take. */
  val MaxLoopMs = 100000L
  val SetupReps = 3

  def workload(name: String): Workload = name match {
    case "serve"     => new Serve
    case "analytics" => new Analytics
    case other       => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      new File(m("data")).getAbsolutePath, new File(m("work")).getAbsoluteFile, m("cpus").toInt)
  }

  private def ms(t0: Long): Double = (System.nanoTime - t0) / 1e6

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  def main(argv: Array[String]): Unit = {
    val jvmMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    val args = parse(argv)
    val wl = workload(args.workload)
    val ctx = new Ctx(args)
    args.work.mkdirs()

    // ---- set-up, repeated from an empty working state -----------------------
    val setups = (1 to SetupReps).map { rep =>
      if (ctx.spark != null) {
        ctx.spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      Seq("spark-warehouse", "artifacts", "results").foreach(d => deleteTree(ctx.file(d)))
      val t0 = System.nanoTime
      ctx.spark = Tables.harnessSessionFor(args.data, s"local[${args.cpus}]")
      val sessionMs = ms(t0)
      val t1 = System.nanoTime
      wl.catalog(ctx)
      val catalogMs = ms(t1)
      val t2 = System.nanoTime
      val bytes = wl.artifacts(ctx)
      val artifactsMs = ms(t2)
      Map("rep" -> rep, "session_ms" -> sessionMs, "catalog_ms" -> catalogMs,
        "artifacts_ms" -> artifactsMs, "artifacts_bytes" -> bytes)
    }
    val w0 = System.nanoTime
    wl.warmup(ctx)
    val warmupMs = ms(w0)
    val spark = ctx.spark
    ctx.trace = if (args.trace) Some(Trace.install(spark)) else None
    ctx.trace.foreach(_.reset())

    // ---- timed closed loop ----------------------------------------------------
    val out = new PrintWriter(ctx.file("ops.jsonl"), StandardCharsets.UTF_8)
    val rng = new Random(args.seed)
    val ops = wl.ops(ctx, rng)
    val budgetMs = args.seconds * 1000L
    val loop0 = System.nanoTime
    var n = 0
    var harnessNs = 0L
    while ((ms(loop0) < budgetMs || n % wl.roundOps != 0) && ms(loop0) < MaxLoopMs) {
      val op = ops.next()
      spark.sparkContext.setJobGroup(op.id, op.kind, interruptOnCancel = false)
      val start = System.currentTimeMillis
      val t0 = System.nanoTime
      val res = try Right(op.run()) catch { case NonFatal(e) => Left(e) }
      val opMs = ms(t0)
      val h0 = System.nanoTime
      spark.sparkContext.clearJobGroup()
      val traced = ctx.trace.map(_.collect(op.id))
      val fields = Seq(
        "i" -> n, "id" -> op.id, "kind" -> op.kind, "ms" -> opMs, "start" -> start) ++ (res match {
        case Right(o) => Seq("ok" -> true, "rows" -> o.result.size, "check" -> o.check)
        case Left(e)  => Seq("ok" -> false, "error" -> s"${e.getClass.getName}: ${e.getMessage}")
      }) ++ traced.map(a => "trace" -> a.toMap).toSeq
      val line = fields.map { case (k, v) => s"${Json.str(k)}:${Json(v)}" }
        .mkString("{", ",", "") +
        res.toOption.map(o => s""","result":${Json.rows(o.result)}""").getOrElse("") + "}"
      out.println(line)
      harnessNs += System.nanoTime - h0
      n += 1
    }
    // the loop's wall time minus the driver's own bookkeeping between ops
    // (trace collection, serializing and writing each result)
    val loopS = (ms(loop0) - harnessNs / 1e6) / 1000.0
    out.close()

    val extras = try wl.finish(ctx) catch {
      case NonFatal(e) => Map("finish_error" -> s"${e.getClass.getName}: ${e.getMessage}")
    }
    val rssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    val summary = Map(
      "workload" -> args.workload, "seed" -> args.seed, "ops" -> n, "loop_s" -> loopS,
      "jvm_ms" -> jvmMs, "setup" -> setups, "warmup_ms" -> warmupMs, "peak_rss_kb" -> rssKb,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024), "cpus" -> args.cpus,
      "extras" -> extras)
    val w = new PrintWriter(ctx.file("summary.json"), StandardCharsets.UTF_8)
    w.println(Json(summary)); w.close()
    spark.stop()
  }
}

/** File helpers for artifact sizes and the index listing. */
object Files {
  def bytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(bytes).sum).getOrElse(0L)
    else if (f.isFile) f.length else 0L

  def write(f: java.io.File, s: String): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }

  /** Regular files under `f` with size and modification time, by path. */
  def listing(f: java.io.File): Map[String, (Long, Long)] =
    if (f.isDirectory) Option(f.listFiles).map(_.flatMap(c => listing(c)).toMap).getOrElse(Map.empty)
    else if (f.isFile) Map(f.getPath -> ((f.length, f.lastModified))) else Map.empty
}
