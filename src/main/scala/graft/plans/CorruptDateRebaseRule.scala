package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, DateSub, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.DateType

import graft.sources.ParquetIO

/** SURVEY §7.3's stretch goal for R18–R20: make the corrupt-date rescue
  * transparent under plain `spark.read.option(...)` / SQL — a
  * `Rule[LogicalPlan]` instead of a wrapper API.
  *
  * Fires on parquet `LogicalRelation`s carrying a `corruptDateRebase`
  * read option ([[ParquetIO.readCorruptDateAware]] sets it): runs the
  * per-footer DRILL-4203 verdict [[ParquetIO.rebaseNeeded]] and, when
  * shifting is needed,
  * wraps the relation in a Project that `date_sub`s every DATE column,
  * re-using each attribute's exprId so references above stay valid.
  * The option is stripped from the rewritten relation, making the rule
  * a fixpoint (it cannot re-fire on its own output).
  *
  * Placement note: injected into the user-provided optimizer batch
  * (or via `withExtensions`). For V1 file sources predicate pushdown
  * into the scan happens later, in FileSourceStrategy, and honors the
  * inserted Project — a user filter on a rebased date column is
  * evaluated against REBASED values (it inlines to
  * `date_sub(col) > lit`, which parquet can't push, trading scan
  * pushdown for correctness on exactly the affected predicates).
  */
case class CorruptDateRebaseRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private val OptionKey = "corruptdaterebase"

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUpWithNewOutput {
    case lr: LogicalRelation if wantsRebase(lr) =>
      val fsRel = lr.relation.asInstanceOf[HadoopFsRelation]
      val mode = fsRel.options.collectFirst {
        case (k, v) if k.toLowerCase == OptionKey => v
      }.get
      val cleaned = fsRel.copy(
        options = fsRel.options.filterNot(_._1.toLowerCase == OptionKey))(spark)
      val newLr = lr.copy(relation = cleaned)
      // partition DATE columns come from directory names, never from the
      // DRILL-4203-shifted file encodings — rebase DATA columns only
      val partitionCols = fsRel.partitionSchema.fieldNames.toSet
      val dateAttrs = lr.output.filter(a =>
        a.dataType == DateType && !partitionCols.contains(a.name))
      val noop = dateAttrs.isEmpty || mode == "off" || {
        val paths = fsRel.location.rootPaths.map(_.toString)
        !ParquetIO.rebaseNeeded(spark, paths, dateAttrs.map(_.name).toSet, mode)
      }
      if (noop) newLr -> Nil
      else {
        // FRESH exprIds for the rewritten date columns — reusing the
        // child's ids would make the Project's output equal its input
        // attribute-wise and later phases would eliminate it as a noop;
        // transformUpWithNewOutput rewrites ancestor references for us.
        val rebaseSet = dateAttrs.map(_.exprId).toSet
        val projList = lr.output.map { a =>
          if (rebaseSet.contains(a.exprId))
            Alias(DateSub(a, Literal(ParquetIO.CorrectCorruptDateShiftDays)), a.name)(
              qualifier = a.qualifier)
          else a
        }
        val proj = Project(projList, newLr)
        val remapped = lr.output.zip(proj.output).filter { case (o, n) => o.exprId != n.exprId }
        proj -> remapped
      }
  }

  private def wantsRebase(lr: LogicalRelation): Boolean = lr.relation match {
    case fs: HadoopFsRelation =>
      fs.fileFormat.isInstanceOf[ParquetFileFormat] &&
        fs.options.keys.exists(_.toLowerCase == OptionKey)
    case _ => false
  }
}
