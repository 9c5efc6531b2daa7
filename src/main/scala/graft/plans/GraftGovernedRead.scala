package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.operators.Snapshots
import graft.sources.v2.{GraftSnapshotTable, ScanRefusal}

/** SQL reads over GOVERNED snapshot faces — the analyzer rule that
  * makes `SELECT * FROM graft.t` work right after `DELETE FROM graft.t`
  * (a deletion-vector commit) with no `CALL system.optimize`, the way
  * Delta and Iceberg serve their merge-on-read faces directly.
  *
  * A [[GraftSnapshotTable]] whose face the plain file-list parquet scan
  * cannot serve (live deletion vectors, a column mapping, a multi-root
  * partition layout, equality-delete tombstones) refuses at `toBatch`
  * ([[ScanRefusal]]). In READ position only, this rule substitutes the
  * ANALYZED plan of the table's OWN resolved face — no second manifest
  * read or sidecar listing: [[Snapshots.readFace]] (what
  * [[Snapshots.readAsOf]] plans: the files no DV touches read through
  * a stock parquet relation, the DV anti-join over the dirty files
  * only), or for tombstones [[Snapshots.readMorFace]] (what
  * [[Snapshots.readMorAsOf]] plans), keyed on the face's newest live
  * sidecar. The substitution happens at analysis, so predicate
  * pushdown and column pruning reach the underlying parquet scans. A
  * face the resolved read itself refuses (a fold-expired history
  * window, a mid-lineage foreign commit) keeps the loud `toBatch`
  * refusal.
  *
  * DML targets are exempt (collected by reference before the
  * transform): `DELETE FROM` / `UPDATE` / `MERGE INTO` / `INSERT` plan
  * against the original relation, whose verbs own the DV/mapping/MOR
  * composition — only true read occurrences rewrite. The `toBatch`
  * refusal itself also stays, as the backstop for sessions built
  * WITHOUT [[graft.GraftExtensions]]. */
object GraftGovernedReadRule extends Rule[LogicalPlan] {

  /** A relation over a face the plain scan refuses. */
  private object Refused {
    def unapply(r: DataSourceV2Relation): Option[GraftSnapshotTable] =
      Some(r.table).collect {
        case t: GraftSnapshotTable if t.refusal.nonEmpty => t
      }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (plan.find { case Refused(_) => true; case _ => false }.isEmpty)
      return plan
    // WRITE/DML-position relations, by reference — a MERGE whose source
    // reads the same governed table still rewrites the source leg while
    // the target leg stays verb-owned
    val dmlTargets: Seq[LogicalPlan] = plan.collect {
      case a: AppendData => a.table
      case o: OverwriteByExpression => o.table
      case o: OverwritePartitionsDynamic => o.table
      case d: DeleteFromTable => d.table
      case u: UpdateTable => u.table
      case m: MergeIntoTable => m.targetTable
      case i: InsertIntoStatement => i.table
    }
    val exempt = dmlTargets.flatMap(_.collect {
      case r: DataSourceV2Relation => r
    })
    val spark = SparkSession.active
    plan.transformUp {
      case r @ Refused(t) if !exempt.exists(_ eq r) =>
        // a face the resolved read itself refuses (fold-expired
        // window, foreign mid-lineage commit) keeps the loud toBatch
        // refusal rather than failing analysis with a stack. ONLY the
        // refusal types degrade — a genuine IO/listing failure must
        // propagate, or the toBatch message ('deletion vectors' /
        // 'equality-delete') would misdiagnose the real fault
        val resolved =
          try {
            val df =
              if (t.refusal.contains(ScanRefusal.Eq))
                Snapshots.readMorFace(spark, t.face, t.face.eqKeyCols(spark))
              else Snapshots.readFace(spark, t.face)
            Some(df.queryExecution.analyzed)
          } catch {
            case _: IllegalArgumentException | _: IllegalStateException =>
              None
          }
        val substituted = resolved.flatMap { res =>
          val byName = res.output.map(a => a.name -> a).toMap
          val aligned = r.output.forall(o =>
            byName.get(o.name).exists(a =>
              org.apache.spark.sql.types.DataType
                .equalsIgnoreNullability(a.dataType, o.dataType)))
          // a resolved read surfacing different columns than the
          // catalog schema (shouldn't happen; belt-and-braces) keeps
          // the loud refusal instead of a silently-wrong rebind
          if (!aligned) None
          else Some(Project(r.output.map(o =>
            Alias(byName(o.name), o.name)(exprId = o.exprId)), res))
        }
        substituted.getOrElse(r)
    }
  }
}
