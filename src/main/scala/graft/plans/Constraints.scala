package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** RELY constraint registry feeding the RI-aware optimizer rules
  * ([[RiRules]]): declared-but-unvalidated uniqueness and foreign-key facts
  * about base tables, keyed by scan identity (the parquet root paths).
  *
  * This is the same contract as Oracle/Snowflake `RELY` constraints: the
  * engine TRUSTS the declaration and uses it to rewrite plans (top-N
  * pushdown through FK joins, FK join elimination); a declaration the data
  * violates yields wrong results, exactly as RELY does. graft derives these
  * declarations from the catalog's relation config
  * ([[graft.Tables.catalog]] — the reference's `relations` map, reference
  * src/SourceConfigResolver.ts:22-31, already asserts this shape: a
  * `belongsTo` whose parent slug is the unique key IS an FK declaration),
  * and library users can register their own via [[register]].
  *
  * Scale note: the registry is driver-side metadata (a few entries per
  * table), consulted only during optimization — nothing here touches
  * executors or data paths.
  */
object Constraints {

  /** Declared (RELY) foreign key on a child table: every row of the child
    * whose `childCol` is non-null has EXACTLY ONE matching row in the parent
    * scan identified by `parentTag` on `parentCol` (referential totality;
    * uniqueness of the parent side is declared separately via
    * [[TableConstraints.uniqueCols]]).
    */
  final case class Fk(childCol: String, parentTag: String, parentCol: String)

  /** Per-table declarations: columns that are unique + non-null
    * (single-column keys only), outgoing foreign keys, and declared
    * distinct-value upper bounds (`ndv`: "this column has at most N
    * distinct values, nulls included" — domain facts like TPC-H's
    * l_returnflag ∈ {A,N,R}). NDV bounds feed
    * [[PreAggregateGroupingSets]]'s cardinality evidence; like every RELY
    * fact they are trusted, not checked (an UNDER-declared bound cannot
    * produce wrong results there — only a bigger-than-promised
    * pre-aggregate — but [[validateRely]] audits them anyway). */
  final case class TableConstraints(uniqueCols: Set[String], fks: Seq[Fk],
                                    ndv: Map[String, Long] = Map.empty) {
    def merge(other: TableConstraints): TableConstraints =
      TableConstraints(uniqueCols ++ other.uniqueCols,
        (fks ++ other.fks).distinct,
        // two declarations for one column: both are promised upper bounds,
        // so the tighter one carries
        (ndv.keySet ++ other.ndv.keySet).map { k =>
          k -> (ndv.get(k) ++ other.ndv.get(k)).min }.toMap)
  }

  private val registry =
    scala.collection.concurrent.TrieMap.empty[String, TableConstraints]

  /** Scan identity of a plan subtree that IS a single v1 file scan: the
    * sorted root paths. None for anything else (multi-scan plans, in-memory
    * frames, v2 sources) — callers must treat None as "no constraints".
    */
  def scanTag(plan: LogicalPlan): Option[String] = plan match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        Some(fs.location.rootPaths.map(_.toString).sorted.mkString(","))
      case _ => None
    }
    case _ => None
  }

  /** Scan identity of a DataFrame whose plan contains exactly one file scan
    * (possibly under projections/filters). None if zero or several scans —
    * a frame built from joins has no single identity to hang constraints on.
    */
  def tagOf(df: DataFrame): Option[String] = {
    val scans = df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr }
    scans match {
      case Seq(one) => scanTag(one)
      case _        => None
    }
  }

  def register(tag: String, c: TableConstraints): Unit =
    registry.updateWith(tag) {
      case Some(prev) => Some(prev.merge(c))
      case None       => Some(c)
    }

  def get(tag: String): Option[TableConstraints] = registry.get(tag)

  /** Declare distinct-value upper bounds for columns of a single-scan
    * frame. Returns false (no registration) when the frame has no scan
    * identity to hang the facts on. */
  def declareNdv(df: DataFrame, bounds: Map[String, Long]): Boolean =
    tagOf(df) match {
      case Some(tag) =>
        register(tag, TableConstraints(Set.empty, Nil, bounds)); true
      case None => false
    }

  /** Carry a table's declarations onto a REWRITTEN copy of it — the layout
    * companion rule. Facts are keyed by scan identity, so
    * [[graft.operators.Layout.writeSorted]] / `writeZOrdered` /
    * [[graft.operators.Bucketing.writeBucketed]] output is a NEW scan with
    * no facts, and every fact-licensed rewrite silently switches off over
    * it: measured at sf100, the q_agg_rollup shape on a freshly sorted
    * lineitem ran 37% SLOWER than on the original purely because
    * [[PreAggregateGroupingSets]] lost its NDV license (BASELINE.md r19).
    * Sound because a layout rewrite is row-preserving: uniqueness,
    * FK totality and NDV bounds all survive any permutation of the same
    * rows. Facts about columns the rewrite dropped are filtered out (a
    * projection can invalidate nothing it keeps, but a fact about an
    * absent column would never match anyway — dropping them keeps
    * [[validateRely]] runnable on the copy). FKs pointing AT the original
    * (other tables' children) are intentionally not retargeted: the copy
    * is a new parent identity; declare those explicitly if the copy
    * replaces the original as the join target.
    *
    * Returns false when either frame lacks a single-scan identity.
    */
  def redeclare(original: DataFrame, rewritten: DataFrame): Boolean =
    (tagOf(original), tagOf(rewritten)) match {
      case (Some(from), Some(to)) =>
        // REPLACE the destination's facts, never merge: the registry is
        // keyed by file path, and a reused path (SaveMode.Overwrite) may
        // previously have held a rewrite of a DIFFERENT table. Merging
        // would retain the old occupant's uniqueness/NDV facts and
        // license fact-based rewrites the new data violates.
        registry.get(from) match {
          case Some(c) =>
            val cols = rewritten.columns.toSet
            registry.update(to, TableConstraints(
              c.uniqueCols.filter(cols),
              c.fks.filter(f => cols(f.childCol)),
              c.ndv.filter { case (col, _) => cols(col) }))
            true
          case None =>
            // nothing declared on the source — drop any stale facts a
            // previous occupant of this path left behind
            registry.remove(to)
            true
        }
      case _ => false
    }

  /** Test hook — constraints are global (keyed by file paths, which are
    * globally meaningful), so specs that plant conflicting declarations
    * reset between cases. */
  def clear(): Unit = registry.clear()

  /** One RELY declaration the data contradicts (see [[validateRely]]). */
  final case class RelyViolation(tag: String, constraint: String, detail: String) {
    override def toString: String = s"[$tag] $constraint: $detail"
  }

  /** Audit every registered RELY declaration against the actual data.
    *
    * RELY constraints are TRUSTED, never checked, during optimization — a
    * declaration the data violates silently yields the declared semantics
    * (dropped rows from an eliminated join, a wrong top-N). This is the
    * explicit, on-demand audit for that trust contract: run it after loads
    * or schema changes, before relying on the RI rules in production.
    *
    *  - unique col `u`: `count(*) == count(u) == approx-free count(DISTINCT u)`
    *    (uniqueness AND non-null, the exact fact [[RiRules]] consumes);
    *  - FK `c → parent.p`: no non-null `c` value without a matching parent
    *    row (referential totality), checked with a LEFT ANTI join on the
    *    distinct child keys — O(|child|) one shuffle, never a fan-out.
    *
    * Tags are root-path lists (see [[scanTag]]), so the audit re-reads each
    * table directly from its paths. Cost is one pass per table plus one
    * anti-join per FK — an explicit audit job, never on the query path.
    * Returns all violations found (empty = every declaration holds).
    * `tagFilter` restricts the audit to a subset of registered tables (the
    * registry is process-global — a service auditing one newly loaded
    * catalog shouldn't re-scan every table ever registered).
    */
  def validateRely(spark: SparkSession,
                   tagFilter: String => Boolean = _ => true): Seq[RelyViolation] = {
    def read(tag: String): Option[DataFrame] =
      try Some(spark.read.parquet(tag.split(","): _*))
      catch { case scala.util.control.NonFatal(_) => None }
    registry.toSeq.filter(kv => tagFilter(kv._1)).sortBy(_._1).flatMap { case (tag, tc) =>
      read(tag) match {
        case None =>
          Seq(RelyViolation(tag, "scan", "registered paths are not readable"))
        case Some(df) =>
          val cols = df.columns.toSet
          val uniqueViolations = tc.uniqueCols.toSeq.sorted.flatMap { u =>
            if (!cols(u)) Seq(RelyViolation(tag, s"unique($u)", "column missing"))
            else {
              val r = df.agg(count(lit(1)).as("n"), count(col(u)).as("nn"),
                countDistinct(col(u)).as("nd")).head()
              val (n, nn, nd) = (r.getLong(0), r.getLong(1), r.getLong(2))
              (if (nn < n) Seq(RelyViolation(tag, s"unique($u)",
                s"${n - nn} null values (declared unique cols are non-null)")) else Nil) ++
              (if (nd < nn) Seq(RelyViolation(tag, s"unique($u)",
                s"${nn - nd} duplicate values")) else Nil)
            }
          }
          val fkViolations = tc.fks.flatMap { f =>
            (read(f.parentTag), cols(f.childCol)) match {
              case (_, false) =>
                Seq(RelyViolation(tag, s"fk(${f.childCol})", "child column missing"))
              case (None, _) =>
                Seq(RelyViolation(tag, s"fk(${f.childCol})",
                  s"parent ${f.parentTag} not readable"))
              case (Some(parent), _) if !parent.columns.contains(f.parentCol) =>
                Seq(RelyViolation(tag, s"fk(${f.childCol})",
                  s"parent column ${f.parentCol} missing"))
              case (Some(parent), _) =>
                val orphans = df.select(col(f.childCol).as("__k"))
                  .filter(col("__k").isNotNull).distinct()
                  .join(parent.select(col(f.parentCol).cast(
                    df.schema(f.childCol).dataType).as("__k")), Seq("__k"), "left_anti")
                  .count()
                if (orphans > 0)
                  Seq(RelyViolation(tag, s"fk(${f.childCol} → ${f.parentTag}.${f.parentCol})",
                    s"$orphans child key values have no parent row"))
                else Nil
            }
          }
          val ndvViolations = tc.ndv.toSeq.sortBy(_._1).flatMap { case (c, bound) =>
            if (!cols(c)) Seq(RelyViolation(tag, s"ndv($c)", "column missing"))
            else {
              val actual = df.agg(countDistinct(col(c)).as("nd")).head().getLong(0)
              // the declaration counts nulls as a value (grouping treats
              // null as its own group); countDistinct does not
              val hasNull = df.filter(col(c).isNull).limit(1).count() > 0
              val total = actual + (if (hasNull) 1 else 0)
              if (total > bound)
                Seq(RelyViolation(tag, s"ndv($c)",
                  s"$total distinct values (null-inclusive) exceed the declared bound $bound"))
              else Nil
            }
          }
          uniqueViolations ++ fkViolations ++ ndvViolations
      }
    }
  }
}
