package graftbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.api._
import graft.operators.Indexing

/** Index maintenance inside `serve`: writes beside reads on the Indexing
  * layer. A prefix index on `part.p_name` is built at set-up; an `update` op
  * applies one seeded snapshot change (modified, deleted and added parts)
  * with `Indexing.updateIndexFromSnapshots`; the reads — exact and prefix
  * `Indexing.lookup`s and an indexed `where` page over the current snapshot
  * — must see the last write, and half of them read a value it wrote.
  * Only the lookups read the index: graft's `where` never does (a source's
  * `indexedFields` only decides which fields may be filtered on), so the
  * `where` page sees the last write through the snapshot below.
  *
  * The snapshot is the base table plus a small overrides relation, so its
  * plan stays the same size however many writes came before. Every write
  * logs its change list; run.py replays the changes in DuckDB and checks
  * each read and each update's diff against the replayed state.
  */
final class IndexOps {
  private var base: DataFrame = _
  private val overrides = mutable.LinkedHashMap.empty[Long, Option[String]]
  private val live = mutable.LinkedHashMap.empty[Long, String]
  private var nextKey = 1000000L
  private var lastWritten = Seq.empty[String]
  private val applied = mutable.ArrayBuffer.empty[(Long, Option[String])]
  private var warmupChanges = Seq.empty[(Long, Option[String])]
  private val adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small",
    "iron", "tiny", "zinc")
  private val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")

  private def path(ctx: Ctx) = ctx.file("artifacts/index").getAbsolutePath

  def catalog(ctx: Ctx): Unit = {
    base = Tables.load(ctx.spark, ctx.data, "part").select("p_partkey", "p_name")
    overrides.clear(); live.clear(); applied.clear(); nextKey = 1000000L; lastWritten = Nil
    base.collect().foreach(r => live(r.getLong(0)) = r.getString(1))
  }

  private val ovrSchema = StructType(Seq(StructField("p_partkey", LongType),
    StructField("o_name", StringType), StructField("o_del", BooleanType)))

  /** The current snapshot: base rows, overridden or deleted, plus additions. */
  private def snapshot(ctx: Ctx): DataFrame = {
    val rows = overrides.toSeq.map { case (k, v) => Row(k, v.orNull, v.isEmpty) }
    val ovr = ctx.spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      ovrSchema)
    base.join(ovr, Seq("p_partkey"), "full_outer")
      .filter(!coalesce(col("o_del"), lit(false)))
      .select(col("p_partkey"), coalesce(col("o_name"), col("p_name")).as("p_name"))
  }

  val kinds: Seq[String] = Seq("update", "lookup_exact", "lookup_prefix", "where_indexed")

  /** Marks the end of the warm-up: its writes are part of the state the
    * timed ops (and run.py's replay) start from. */
  def warmedUp(): Unit = warmupChanges = applied.toList

  def artifacts(ctx: Ctx): Long = {
    Indexing.writeIndex(snapshot(ctx), "p_partkey", Seq("p_name"), path(ctx))
    Files.bytes(new java.io.File(path(ctx)))
  }

  private def name(rng: Random) =
    s"${adjectives(rng.nextInt(adjectives.size))} ${nouns(rng.nextInt(nouns.size))}"

  private def liveKey(rng: Random): Long = {
    val ks = live.keysIterator.drop(rng.nextInt(live.size))
    ks.next()
  }

  private def update(ctx: Ctx, rng: Random, id: String): OpOut = {
    val changes = mutable.ArrayBuffer.empty[(Long, Option[String])]
    (1 to 3).foreach(_ => changes += liveKey(rng) -> Some(name(rng)))
    changes += liveKey(rng) -> None
    (1 to 2).foreach { _ => changes += nextKey -> Some(name(rng)); nextKey += 1 }
    val before = ctx.trace.map(_ => Files.listing(new java.io.File(path(ctx))))
    val oldDf = snapshot(ctx)
    changes.foreach { case (k, v) =>
      overrides(k) = v
      v match { case Some(n) => live(k) = n; case None => live.remove(k) }
    }
    lastWritten = changes.flatMap(_._2).toSeq
    applied ++= changes
    val diff = Indexing.updateIndexFromSnapshots(ctx.spark, path(ctx), oldDf, snapshot(ctx),
      "p_partkey", Seq("p_name"))
    val written = before.map { b =>
      val after = Files.listing(new java.io.File(path(ctx)))
      val fresh = after.filter { case (p, st) => !b.get(p).contains(st) }
      val parts = fresh.keys.map(p => new java.io.File(p).getParent).toSet
      Map("bytes" -> fresh.values.map(_._1).sum, "files" -> fresh.size, "partitions" -> parts.size)
    }
    val out = diff.map(d => Row(d.status, d.slug, d.values.toSeq.sortBy(_._1).map {
      case (f, vs) => Row(f, vs.sorted)
    }))
    OpOut(out, Map(
      "changes" -> changes.map { case (k, v) => Seq(k, v.orNull) }) ++
      written.map("written" -> _).toSeq)
  }

  /** A value to read: half the time one the last write produced. */
  private def target(rng: Random, recent: Seq[String]): String =
    if (recent.nonEmpty && rng.nextBoolean()) recent(rng.nextInt(recent.size))
    else live.valuesIterator.drop(rng.nextInt(live.size)).next()

  def op(ctx: Ctx, kind: String, id: String, rng: Random): Op = kind match {
    case "update" =>
      Op(id, kind, () => update(ctx, rng, id))
    case "lookup_exact" | "lookup_prefix" =>
      val prefix = kind == "lookup_prefix"
      val t = target(rng, lastWritten)
      val v = if (prefix) t.take(2 + rng.nextInt(3)) else t
      Op(id, kind, () => {
        val rs = Indexing.lookup(ctx.spark, path(ctx), "p_name", v, startsWith = prefix)
          .select("field", "prefix", "slug", "value").collect().toSeq
        OpOut(rs, Map("lookup" -> v, "starts_with" -> prefix))
      })
    case "where_indexed" =>
      val v = target(rng, lastWritten).takeWhile(_ != ' ')
      Op(id, kind, () => {
        val cat = new Catalog(Seq(SourceDef("parts", snapshot(ctx), slugField = "p_partkey",
          indexedFields = Some(Set("p_name")))))
        val rs = cat.from("parts").where("p_name", StartsWith, v).orderBy("p_name")
          .pageSize(20).exec().data
        OpOut(rs, Map("where_prefix" -> v))
      })
  }

  /** Index bytes on disk per byte of indexed source values, and the
    * warm-up's writes for run.py's replay. */
  def finish(ctx: Ctx): Map[String, Any] = {
    val src = snapshot(ctx).agg(sum(octet_length(col("p_name")))).head().getLong(0)
    val idx = Files.bytes(new java.io.File(path(ctx)))
    Map("index_bytes" -> idx, "source_bytes" -> src, "live_rows" -> live.size,
      "warmup_changes" -> warmupChanges.map { case (k, v) => Seq(k, v.orNull) })
  }
}
