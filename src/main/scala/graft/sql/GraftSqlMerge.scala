package graft.sql

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.GraftSqlBridge.{column, ofRows}
import org.apache.spark.sql.types.LongType

import graft.sources.{GraftRelation, GraftSource}
import graft.sources.GraftSource.{cols, opt}

/** `MERGE INTO` for graft tables at the SQL surface — the write half of
  * the Athena-shaped contract the reference hive-syncs its Hudi tables
  * for (`README.md:203-204`, `terraform/glue.tf:119-122`; the read half
  * is q43). Spark only plans MERGE natively for DSv2 row-level-operation
  * tables, so — exactly like the pre-DSv2 Delta/Hudi integrations — a
  * post-hoc resolution rule intercepts the analyzer-resolved
  * [[MergeIntoTable]] whose target is a graft relation and replaces it
  * with a runnable command that executes through the engine's own merge
  * machinery ([[graft.merge.Merge.upsert]]/[[graft.merge.Merge.delete]]).
  *
  * Semantics (Hudi-faithful):
  *  - The ON condition must equality-constrain EVERY record-key column
  *    of the target (Hudi's "merge key = record key" rule) — this is
  *    what makes matched-UPDATE ≡ upsert and matched-DELETE ≡ delete by
  *    key, so the command never rewrites untouched file groups.
  *  - Record identity is (keys, partition): an UPDATE that reassigns a
  *    partition column writes the row under the NEW partition and the
  *    old record survives — the same orphan behavior as Hudi without a
  *    global index (documented, not detected).
  *  - WHEN clauses apply first-match-wins; a matched row no clause
  *    accepts stays untouched (no write amplification for it).
  *  - ANSI cardinality: if any matched action exists, a target row
  *    matched by >1 source row fails loudly (disable the extra pass
  *    with OPTIONS mergeCardinalityCheck 'false').
  *
  * Scale shape: matched updates/deletes and unmatched inserts are each
  * a filter+project over a key-equality join of the target SNAPSHOT
  * with the source — Catalyst plans them like any equi-join (broadcast
  * when the source is small, shuffle otherwise), and the resulting
  * payloads flow into the same bloom-gated file-group-scoped upsert
  * commit every DataFrame write uses. Nothing here materializes the
  * table on the driver.
  */
case class GraftMergeCommand(
    target: LogicalPlan,
    source: LogicalPlan,
    condition: Expression,
    matchedActions: Seq[MergeAction],
    notMatchedActions: Seq[MergeAction],
    notMatchedBySourceActions: Seq[MergeAction],
    options: Map[String, String]) extends LeafRunnableCommand {
  import GraftSqlCommands._

  override val output: Seq[Attribute] = Seq(
    AttributeReference("num_upserted", LongType)(),
    AttributeReference("num_deleted", LongType)())

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val keys = cols(options, "keys")
    val parts = cols(options, "partition")
    require(keys.nonEmpty && parts.nonEmpty,
      "MERGE INTO a graft table requires its keys + partition options " +
        "(declare them in CREATE TABLE ... USING graft OPTIONS (...))")
    val tCols = target.output

    // Hudi's rule: the ON clause must pin every record key with an
    // equality whose other side is source-only — key-scoped actions are
    // what keep the rewrite file-group-bounded.
    val targetIds = target.outputSet
    val eqConstrained = conjuncts(condition).collect {
      case EqualTo(a: AttributeReference, other)
          if targetIds.contains(a) && other.references.subsetOf(source.outputSet) => a
      case EqualTo(other, a: AttributeReference)
          if targetIds.contains(a) && other.references.subsetOf(source.outputSet) => a
    }
    keys.foreach { k =>
      val ka = targetAttr(spark, tCols, k)
      require(eqConstrained.exists(_.exprId == ka.exprId),
        s"MERGE INTO a graft table must equality-constrain record key " +
          s"'$k' in the ON clause (got: ${condition.sql})")
    }

    val targetDf = ofRows(spark, target)
    val sourceDf = ofRows(spark, source)
    val cond = column(condition)
    val idCols = (keys ++ parts).map(targetAttr(spark, tCols, _))

    // ANSI cardinality guard: >1 source row per matched target row.
    // One extra aggregation over the matched join; disable by option.
    if (matchedActions.nonEmpty &&
        !opt(options, "mergeCardinalityCheck")
          .exists(_.equalsIgnoreCase("false"))) {
      val dup = targetDf.join(sourceDf, cond, "inner")
        .groupBy(idCols.map(column): _*).count()
        .filter(col("count") > 1).limit(1)
      if (!dup.isEmpty) throw new IllegalStateException(
        "MERGE INTO failed: a target row matches more than one source " +
          "row (ANSI cardinality violation); dedup the source on the " +
          "merge keys, or set OPTIONS mergeCardinalityCheck 'false'")
    }

    // First-match-wins clause dispatch: pair each action with the
    // predicate "my condition holds and no earlier clause's did".
    def firstMatch(actions: Seq[MergeAction]): Seq[(MergeAction, Column)] = {
      var prev: Column = lit(false)
      actions.map { a =>
        val c = a.condition.map(column).getOrElse(lit(true))
        val mine = c && !prev
        prev = prev || c
        (a, mine)
      }
    }

    /** Full target-schema row for an update/insert action: assigned
      * columns take the assignment value, the rest fall back to
      * `default` (the current target value for UPDATE; null for
      * INSERT's unassigned columns). Assignments resolve by exprId
      * first (the analyzer binds them to target attributes), name as
      * fallback. */
    def projectRow(assigns: Seq[Assignment],
        default: Attribute => Column): Seq[Column] = {
      val byId = assigns.collect {
        case Assignment(k: AttributeReference, v) => (k.exprId, v)
      }.toMap
      val byName = assigns.collect {
        case Assignment(k: AttributeReference, v) => (k.name.toLowerCase, v)
      }.toMap
      tCols.map { tc =>
        byId.get(tc.exprId).orElse(byName.get(tc.name.toLowerCase))
          .map(v => column(v).cast(tc.dataType))
          .getOrElse(default(tc))
          .as(tc.name)
      }
    }

    val matched = targetDf.join(sourceDf, cond, "inner")
    val matchedDispatch = firstMatch(matchedActions)
    val updateFrames = matchedDispatch.collect {
      case (UpdateAction(_, assigns, _), mine) =>
        matched.filter(mine).select(projectRow(assigns, a => column(a)): _*)
    }
    val deleteFrames = matchedDispatch.collect {
      case (DeleteAction(_), mine) =>
        matched.filter(mine).select(idCols.map(a => column(a).as(a.name)): _*)
    }

    val unmatchedSource = sourceDf.join(targetDf, cond, "left_anti")
    val insertFrames = firstMatch(notMatchedActions).collect {
      case (InsertAction(_, assigns), mine) =>
        unmatchedSource.filter(mine).select(
          projectRow(assigns,
            a => lit(null).cast(a.dataType)): _*)
    }

    val unmatchedTarget = targetDf.join(sourceDf, cond, "left_anti")
    val nmbsDispatch = firstMatch(notMatchedBySourceActions)
    val nmbsUpdateFrames = nmbsDispatch.collect {
      case (UpdateAction(_, assigns, _), mine) =>
        unmatchedTarget.filter(mine)
          .select(projectRow(assigns, a => column(a)): _*)
    }
    val nmbsDeleteFrames = nmbsDispatch.collect {
      case (DeleteAction(_), mine) =>
        unmatchedTarget.filter(mine)
          .select(idCols.map(a => column(a).as(a.name)): _*)
    }

    val upserts = (updateFrames ++ insertFrames ++ nmbsUpdateFrames)
      .reduceOption(_ unionAll _)
    val deletes = (deleteFrames ++ nmbsDeleteFrames)
      .reduceOption(_ unionAll _)

    // BOTH payloads must be staged before EITHER commit runs: the
    // lazily-resolved relation re-reads the current snapshot per scan,
    // so a delete payload planned after the upsert commit would see the
    // just-inserted rows and capture them in its WHEN clauses.
    val stagedUpserts = staged(spark, upserts, "upserts")
    val stagedDeletes = staged(spark, deletes, "deletes")
    val nUp = commit(spark, options, "upsert", stagedUpserts)
    val nDel = commit(spark, options, "delete", stagedDeletes)
    Seq(Row(nUp, nDel))
  }
}

/** Shared helpers for the SQL row-level commands. */
private[sql] object GraftSqlCommands {
  def targetAttr(spark: SparkSession, tCols: Seq[Attribute], name: String)
      : Attribute =
    tCols.find(a => spark.sessionState.conf.resolver(a.name, name))
      .getOrElse(throw new IllegalArgumentException(
        s"graft SQL command: option column '$name' is not in the " +
          "target schema"))

  /** Stage a payload to scratch parquet before any table mutation: its
    * plan scans the target's CURRENT files, which the first commit
    * retires, so executing it lazily afterwards would read files the
    * commit already retired (the reason Delta materializes the merge
    * source). Staged files are payload-sized, land in scratch, and are
    * swept on JVM exit. None when empty. */
  def staged(spark: SparkSession, df: Option[DataFrame], name: String)
      : Option[DataFrame] =
    df.flatMap { d =>
      val dir = graft.util.Scratch.fresh("graft_sql_stage_") + s"/$name"
      d.write.parquet(dir)
      val back = spark.read.parquet(dir)
      if (back.isEmpty) None else Some(back)
    }

  /** Commit a staged payload as `op` (`upsert` or `delete`) through the
    * shared write dispatch [[GraftSource.write]]; returns the
    * payload's row count (0 for no payload). */
  def commit(spark: SparkSession, options: Map[String, String], op: String,
      payload: Option[DataFrame]): Long =
    payload.map { p =>
      GraftSource.write(spark.sqlContext, SaveMode.Append,
        options.filterNot(_._1.equalsIgnoreCase("op")) + ("op" -> op), p)
      p.count()
    }.getOrElse(0L)
}

/** SQL `UPDATE t SET ... [WHERE ...]` on a graft table: the matching
  * snapshot rows, re-projected through the assignments, become an
  * upsert payload — a key-scoped file-group rewrite, not a table
  * rewrite. Assignments may not touch key or partition columns (a
  * changed identity would orphan the old record, turning UPDATE into
  * insert — Hudi's record-key immutability rule). */
case class GraftUpdateCommand(
    table: LogicalPlan,
    assignments: Seq[Assignment],
    condition: Option[Expression],
    options: Map[String, String]) extends LeafRunnableCommand {
  import GraftSqlCommands._

  override val output: Seq[Attribute] =
    Seq(AttributeReference("num_updated", LongType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val keys = cols(options, "keys")
    val parts = cols(options, "partition")
    require(opt(options, "precombine").isDefined,
      "UPDATE on a graft table requires its precombine option")
    require(keys.nonEmpty && parts.nonEmpty,
      "UPDATE on a graft table requires its keys + partition options")
    val tCols = table.output
    val immutable = (keys ++ parts)
      .map(n => targetAttr(spark, tCols, n).exprId).toSet
    assignments.foreach {
      case Assignment(k: AttributeReference, _) =>
        require(!immutable.contains(k.exprId),
          s"UPDATE may not assign key/partition column '${k.name}' " +
            "(record identity is immutable; use DELETE + INSERT)")
      case other => throw new IllegalArgumentException(
        s"unsupported UPDATE assignment target: ${other.sql}")
    }
    val byId = assignments.collect {
      case Assignment(k: AttributeReference, v) => (k.exprId, v)
    }.toMap
    val targetDf = ofRows(spark, table)
    val payload = condition.map(c => targetDf.filter(column(c)))
      .getOrElse(targetDf)
      .select(tCols.map { tc =>
        byId.get(tc.exprId).map(v => column(v).cast(tc.dataType))
          .getOrElse(column(tc)).as(tc.name)
      }: _*)
    Seq(Row(commit(spark, options, "upsert",
      staged(spark, Some(payload), "updates"))))
  }
}

/** SQL `DELETE FROM t [WHERE ...]` on a graft table: the matching
  * snapshot rows' identities ((keys, partition) tuples) feed the
  * engine's delete commit — again file-group-scoped, not a table
  * rewrite. */
case class GraftDeleteCommand(
    table: LogicalPlan,
    condition: Option[Expression],
    options: Map[String, String]) extends LeafRunnableCommand {
  import GraftSqlCommands._

  override val output: Seq[Attribute] =
    Seq(AttributeReference("num_deleted", LongType)())

  override def run(spark: SparkSession): Seq[Row] = {
    val keys = cols(options, "keys")
    val parts = cols(options, "partition")
    require(keys.nonEmpty && parts.nonEmpty,
      "DELETE on a graft table requires its keys + partition options")
    val tCols = table.output
    val idCols = (keys ++ parts).map(targetAttr(spark, tCols, _))
    val targetDf = ofRows(spark, table)
    val ks = condition.map(c => targetDf.filter(column(c)))
      .getOrElse(targetDf)
      .select(idCols.map(a => column(a).as(a.name)): _*)
    Seq(Row(commit(spark, options, "delete",
      staged(spark, Some(ks), "deletes"))))
  }
}

/** Analyzer post-hoc rule: swap fully-resolved row-level SQL commands
  * ([[MergeIntoTable]], [[UpdateTable]], [[DeleteFromTable]]) over a
  * graft relation for the engine's runnable commands before Spark's
  * planner rejects them on a v1 table. Injected by
  * [[graft.GraftExtensions]]. */
case class ResolveGraftMerge(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case m: MergeIntoTable if m.resolved =>
        graftOptions(m.targetTable) match {
          case Some(opts) =>
            GraftMergeCommand(m.targetTable, m.sourceTable,
              m.mergeCondition, m.matchedActions, m.notMatchedActions,
              m.notMatchedBySourceActions, opts)
          case None => m
        }
      case u: UpdateTable if u.resolved =>
        graftOptions(u.table) match {
          case Some(opts) =>
            GraftUpdateCommand(u.table, u.assignments, u.condition, opts)
          case None => u
        }
      case d: DeleteFromTable if d.resolved =>
        graftOptions(d.table) match {
          case Some(opts) =>
            GraftDeleteCommand(d.table, Some(d.condition), opts)
          case None => d
        }
      // DDL: Spark's stock command verifies the provider is a file
      // format and would reject graft; swap it for the engine's
      // metadata-only evolution when the catalog says the table is ours
      case a: org.apache.spark.sql.execution.command.AlterTableAddColumnsCommand
          if isGraftCatalogTable(a.table) =>
        GraftAddColumnsCommand(a.table, a.colsToAdd)
    }

  private def isGraftCatalogTable(
      ident: org.apache.spark.sql.catalyst.TableIdentifier): Boolean =
    try {
      spark.sessionState.catalog.tableExists(ident) &&
        spark.sessionState.catalog.getTableMetadata(ident)
          .provider.exists(_.equalsIgnoreCase("graft"))
    } catch { case _: Exception => false }

  private def graftOptions(p: LogicalPlan): Option[Map[String, String]] =
    p match {
      case SubqueryAlias(_, child) => graftOptions(child)
      case lr: LogicalRelation => lr.relation match {
        case g: GraftRelation => Some(g.parameters)
        case _ => None
      }
      // catalog-resolved (DSv2) graft tables take the SAME mutation
      // commands — one MERGE/UPDATE/DELETE code path for both surfaces
      case r: org.apache.spark.sql.execution.datasources.v2
          .DataSourceV2Relation => r.table match {
        case t: graft.sources.GraftTable => Some(t.parameters)
        case _ => None
      }
      case _ => None
    }
}
