package graftbench

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.api._

/** `serve`: the staticql read surface on the sf0.1-shaped data — find,
  * filtered pages, cursor walks in both directions, relation pages, peek and
  * a keyset page over a flat join — with prefix-index maintenance beside it
  * ([[IndexOps]]). Each read scans almost nothing, so latency is plan
  * building, planning and the per-job floor.
  *
  * Every read carries its twin: DuckDB SQL over the same parquet files that
  * returns the rows the op must return, in the same canonical form.
  */
final class Serve extends Workload {
  import Serve._

  private var cat: Catalog = _

  // table -> (slug column, key count)
  private val keys = Map("customer" -> ("c_custkey", 15000), "orders" -> ("o_orderkey", 150000),
    "part" -> ("p_partkey", 20000), "supplier" -> ("s_suppkey", 1000))
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val adjectives = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")

  private def pick[T](rng: Random, xs: Seq[T]): T = xs(rng.nextInt(xs.size))

  /** Per op kind, how many ops of that kind were made: filter shapes and
    * relations rotate by this count, so every seed runs the same shapes and
    * the seed only picks their parameters and the order. */
  private val turns = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
  private def turn(kind: String): Int = { val t = turns(kind); turns(kind) = t + 1; t }

  private def spec(kind: String, rng: Random): Spec = turn(kind) % 6 match {
    case 0 => Spec("customer", "c_custkey",
      Seq(Pred("c_mktsegment", Eq, Seq(pick(rng, segments)), numeric = false)),
      "c_acctbal", rng.nextBoolean())
    case 1 => Spec("customer", "c_custkey",
      Seq(Pred("c_name", StartsWith, Seq(f"Customer#0000${rng.nextInt(150)}%03d"), numeric = false)),
      "c_name", rng.nextBoolean())
    case 2 => Spec("orders", "o_orderkey",
      Seq(Pred("o_orderpriority", In, rng.shuffle(priorities).take(2), numeric = false)),
      "o_totalprice", rng.nextBoolean())
    case 3 => Spec("orders", "o_orderkey",
      Seq(Pred("o_custkey", Eq, Seq(rng.nextInt(15000).toString), numeric = true)),
      "o_totalprice", rng.nextBoolean())
    case 4 => Spec("part", "p_partkey",
      Seq(Pred("p_name", StartsWith, Seq(pick(rng, adjectives)), numeric = false)),
      "p_retailprice", rng.nextBoolean())
    case _ => Spec("part", "p_partkey",
      Seq(Pred("p_brand", In, Seq.fill(3)(s"Brand#${1 + rng.nextInt(25)}").distinct, numeric = false)),
      "p_size", rng.nextBoolean())
  }

  /** Relation pages: (source spec, relation, foreign key column of the
    * related rows, twin SQL of the related keys per base row). */
  private def joinSpec(rng: Random): (Spec, String, String, String) = {
    val seg = Pred("c_mktsegment", Eq, Seq(pick(rng, segments)), numeric = false)
    val cust = Spec("customer", "c_custkey", Seq(seg), "c_acctbal", rng.nextBoolean())
    val ord = Spec("orders", "o_orderkey",
      Seq(Pred("o_orderpriority", In, rng.shuffle(priorities).take(2), numeric = false)),
      "o_totalprice", rng.nextBoolean())
    def direct(fTable: String, fKey: String, local: String, key: String) =
      s"LEFT JOIN (SELECT CAST($fKey AS VARCHAR) AS __k, $key AS __v FROM $fTable) r " +
        s"ON r.__k = CAST(b.$local AS VARCHAR)"
    def through(thr: String, thrSrc: String, thrTgt: String, tgt: String, tgtKey: String,
                local: String, key: String) =
      s"LEFT JOIN (SELECT DISTINCT CAST(t.$thrSrc AS VARCHAR) AS __k, g.$key AS __v FROM $thr t " +
        s"JOIN $tgt g ON CAST(g.$tgtKey AS VARCHAR) = CAST(t.$thrTgt AS VARCHAR)) r " +
        s"ON r.__k = CAST(b.$local AS VARCHAR)"
    turn("join") % 6 match {
      case 0 => (cust, "nation", "n_nationkey", direct("nation", "n_nationkey", "c_nationkey", "n_nationkey"))
      case 1 => (cust, "orders", "o_orderkey", direct("orders", "o_custkey", "c_custkey", "o_orderkey"))
      case 2 => (cust, "region", "r_regionkey",
        through("nation", "n_nationkey", "n_regionkey", "region", "r_regionkey", "c_nationkey", "r_regionkey"))
      case 3 => (ord, "customer", "c_custkey", direct("customer", "c_custkey", "o_custkey", "c_custkey"))
      case 4 => (Spec("region", "r_regionkey", Nil, "r_name", rng.nextBoolean()), "nations", "n_nationkey",
        direct("nation", "n_regionkey", "r_regionkey", "n_nationkey"))
      case _ => (Spec("supplier", "s_suppkey",
          Seq(Pred("s_nationkey", Eq, Seq(rng.nextInt(25).toString), numeric = true)),
          "s_acctbal", rng.nextBoolean()), "region", "r_regionkey",
        through("nation", "n_nationkey", "n_regionkey", "region", "r_regionkey", "s_nationkey", "r_regionkey"))
    }
  }

  private def rowsOut(rs: Seq[Row], twin: String, extra: Map[String, Any] = Map.empty): OpOut =
    OpOut(rs, Map("sql" -> twin) ++ extra)

  private val index = new IndexOps

  /** One round: the cheap kinds in fixed proportion and two heavier kinds
    * taken in turn from `heavy`, shuffled by the seed. So every seed runs the
    * same mix; the seed picks order and parameters. */
  private val cheap = Seq("find", "find", "find", "where_page", "where_page", "peek",
    "lookup_exact", "lookup_prefix", "where_indexed")
  private val heavy = Seq("update", "cursor_walk", "join", "pagedf_flatjoin", "update",
    "cursor_walk_back", "join", "find_lineitem")
  def roundOps: Int = cheap.size + 2

  def catalog(ctx: Ctx): Unit = {
    cat = Tables.catalog(ctx.spark, ctx.data)
    cat.sources.values.foreach(_.df.schema)
    index.catalog(ctx)
  }

  override def artifacts(ctx: Ctx): Long = index.artifacts(ctx)

  /** Every kind once, on a fixed seed. */
  override def warmup(ctx: Ctx): Unit = {
    val rng = new Random(0)
    (cheap ++ heavy).distinct.zipWithIndex.foreach { case (k, i) =>
      op(ctx, k, s"warmup-$i", rng).run()
    }
    turns.clear()
    index.warmedUp()
  }

  def ops(ctx: Ctx, rng: Random): Iterator[Op] = {
    turns.clear()
    Iterator.from(0).flatMap { r =>
      rng.shuffle(cheap ++ Seq(heavy((2 * r) % heavy.size), heavy((2 * r + 1) % heavy.size)))
    }.zipWithIndex.map { case (k, i) => op(ctx, k, s"serve-$i", rng) }
  }

  override def finish(ctx: Ctx): Map[String, Any] = index.finish(ctx)

  private def op(ctx: Ctx, kind: String, id: String, rng: Random): Op = kind match {
    case k if index.kinds.contains(k) => index.op(ctx, k, id, rng)
    case "find" =>
      val (table, (slug, n)) = pick(rng, keys.toSeq.sortBy(_._1))
      val k = if (rng.nextInt(5) == 0) n + rng.nextInt(n) else rng.nextInt(n)
      Op(id, kind, () => rowsOut(cat.from(table).find(k.toString).collect().toSeq,
        s"SELECT * FROM $table WHERE $slug = $k"))
    case "find_lineitem" =>
      val ok = rng.nextInt(150000)
      Op(id, kind, () => rowsOut(cat.from("lineitem").find(s"$ok-1").collect().toSeq,
        s"SELECT *, CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS slug " +
          s"FROM lineitem WHERE l_orderkey = $ok AND l_linenumber = 1"))
    case "where_page" =>
      val s = spec(kind, rng)
      Op(id, kind, () => rowsOut(s.builder(cat).pageSize(20).exec().data, s.sql(20)))
    case "cursor_walk" | "cursor_walk_back" =>
      val s = spec(kind, rng)
      val back = kind == "cursor_walk_back"
      val pages = if (back) 3 else 4
      Op(id, kind, () => {
        val ps = 10
        var res = s.builder(cat).pageSize(ps).exec()
        val fwd = scala.collection.mutable.ArrayBuffer(res)
        while (fwd.size < pages && res.pageInfo.endCursor.isDefined) {
          res = s.builder(cat).pageSize(ps).cursor(res.pageInfo.endCursor.get, "after").exec()
          fwd += res
        }
        val bwd = scala.collection.mutable.ArrayBuffer.empty[PageResult]
        if (back) {
          var cur = fwd.last
          while (bwd.size < fwd.size - 1 && cur.pageInfo.startCursor.isDefined) {
            cur = s.builder(cat).pageSize(ps).cursor(cur.pageInfo.startCursor.get, "before").exec()
            bwd += cur
          }
        }
        rowsOut((fwd ++ bwd).flatMap(_.data).toSeq, s.sql(ps * pages),
          Map("walk" -> Map("size" -> ps, "pages" -> fwd.size, "back" -> bwd.size)))
      })
    case "join" =>
      val (s, rel, fkey, joinSql) = joinSpec(rng)
      Op(id, s"join_${rel}", () => {
        val page = s.builder(cat).join(rel).pageSize(10).exec().data
        val out = page.map { r =>
          val related = r.get(r.fieldIndex(rel)) match {
            case null                           => Nil
            case x: Row                         => Seq(x)
            case xs: scala.collection.Seq[_]    => xs.collect { case x: Row => x }
          }
          Row(r.get(r.fieldIndex(s.slug)), related.map(x => x.get(x.fieldIndex(fkey))))
        }
        rowsOut(out, s"SELECT b.${s.slug}, list(r.__v) FILTER (WHERE r.__v IS NOT NULL) " +
          s"FROM (SELECT *, row_number() OVER (ORDER BY ${s.orderSql}) AS __rn " +
          s"FROM (${s.sql(10)})) b $joinSql GROUP BY b.__rn, b.${s.slug} ORDER BY b.__rn",
          Map("unordered_lists" -> true))
      })
    case "peek" =>
      val s = spec(kind, rng)
      val ordAlias = if (s.order == s.slug) None else Some(s.order)
      Op(id, "peek", () => rowsOut(s.builder(cat).pageSize(20).peek().collect().toSeq,
        s"SELECT CAST(${s.slug} AS VARCHAR) AS slug${ordAlias.map(o => s", $o").getOrElse("")} " +
          s"FROM (${s.sql(20)})"))
    case _ =>
      val pri = pick(rng, priorities)
      val desc = rng.nextBoolean()
      val dir = if (desc) "DESC" else "ASC"
      Op(id, "pagedf_flatjoin", () => {
        val orders = cat("orders").df.filter(col("o_orderpriority") === pri)
        val joined = Relations.flatJoin(orders, cat("customer").df, "o_custkey", "c_custkey",
          broadcastForeign = true)
        rowsOut(Pagination.pageDf(joined, "o_totalprice", "o_orderkey", desc, 20, None, After)
            .collect().toSeq,
          s"SELECT * FROM orders o JOIN customer c ON CAST(o.o_custkey AS VARCHAR) = " +
            s"CAST(c.c_custkey AS VARCHAR) WHERE o.o_orderpriority = ${Sql.quote(pri)} " +
            s"ORDER BY o_totalprice $dir NULLS LAST, o_orderkey $dir LIMIT 20")
      })
  }
}

object Serve {
  /** A filtered, ordered source: the builder side and the SQL side. */
  final case class Pred(field: String, op: FilterOp, values: Seq[String], numeric: Boolean) {
    private def lit(v: String) = if (numeric) v else Sql.quote(v)
    def sql: String = op match {
      case Eq         => s"$field = ${lit(values.head)}"
      case StartsWith => s"starts_with(CAST($field AS VARCHAR), ${Sql.quote(values.head)})"
      case In         => values.map(lit).mkString(s"$field IN (", ", ", ")")
    }
  }
  final case class Spec(table: String, slug: String, preds: Seq[Pred], order: String, desc: Boolean) {
    def builder(cat: Catalog): QueryBuilder =
      preds.foldLeft(cat.from(table))((q, p) => q.where(p.field, p.op, p.values))
        .orderBy(order, if (desc) "desc" else "asc")
    private def dir = if (desc) "DESC" else "ASC"
    def orderSql: String = s"$order $dir NULLS LAST, $slug $dir"
    def whereSql: String = if (preds.isEmpty) "TRUE" else preds.map(_.sql).mkString(" AND ")
    def sql(limit: Int): String =
      s"SELECT * FROM $table WHERE $whereSql ORDER BY $orderSql LIMIT $limit"
  }
}

object Sql {
  def quote(s: String): String = "'" + s.replace("'", "''") + "'"
}
