package graft.sources

import org.apache.spark.sql.{Column, GraftShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{AsOfTimestamp, RelationTimeTravel, TimeTravelSpec,
  UnresolvedAttribute, UnresolvedIdentifier, UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo,
  Expression, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{AddColumns, AlterColumnSpec, AlterColumns,
  Assignment, DeleteAction, DeleteFromTable, DropColumns, DropTable, InsertAction,
  InsertIntoStatement, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, RenameColumn,
  SubqueryAlias, UnresolvedWith, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.execution.command.{ExplainCommand, LeafRunnableCommand}
import org.apache.spark.sql.graftshim.RelationShim
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

/** SQL DML over lakehouse tables — the surface the reference gets from
  * Iceberg's SparkSessionExtensions (reference: gold_reporting.py:70
  * `IcebergSparkSessionExtensions` is what makes `MERGE INTO` /
  * `DELETE FROM` real SQL there). [[graft.GraftExtensions]] injects
  * [[GraftSqlParser]], which maps the DML and column DDL Spark's
  * grammar parses on REGISTERED lakehouse views onto the snapshot-
  * committing lakehouse commands below; every other statement
  * delegates to Spark's parser.
  */
object LakehouseRegistry {
  // keyed by (session UUID, lowercase view name): two sessions over two
  // lakehouse roots can register the same view name without routing
  // each other's DML to whichever registered last. The UUID (not the
  // SparkSession object) keeps the process-global map from pinning
  // every session it ever saw; unregisterSession drops a dying
  // session's entries so long-lived drivers churning short-lived
  // sessions don't accumulate them.
  private val tables =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Lakehouse, Seq[String])]()

  // The KEY side is a weak session id ([[SessionIds]]) so the map never
  // pins a session through its keys — but the VALUE side holds Lakehouse
  // handles, which reference their SparkSession. Collection of a retired
  // session therefore still requires unregisterSession; the weak keying
  // only guarantees the registry adds no pin of its own.
  private def key(spark: SparkSession, view: String): (String, String) =
    (SessionIds.idOf(spark), view.toLowerCase(java.util.Locale.ROOT))

  /** Register `view` as DML-addressable in `spark`, with the partition
    * layout its copy-on-write rewrites should preserve. */
  def register(spark: SparkSession, view: String, lake: Lakehouse,
      partitionBy: Seq[String] = Nil): Unit =
    tables.put(key(spark, view), (lake, partitionBy))

  def lookup(spark: SparkSession, view: String): Option[(Lakehouse, Seq[String])] =
    Option(tables.get(key(spark, view)))

  /** Drop one view's DML registration. */
  def unregister(spark: SparkSession, view: String): Unit =
    tables.remove(key(spark, view))

  /** Drop every registration of `spark` — call when retiring a
    * session so its Lakehouse handles become collectable. */
  def unregisterSession(spark: SparkSession): Unit = {
    val id = SessionIds.idOf(spark)
    tables.keySet.removeIf(_._1 == id)
  }

  /** View names registered in `spark` (statement-pinning scan). */
  def names(spark: SparkSession): Seq[String] = {
    val id = SessionIds.idOf(spark)
    import scala.jdk.CollectionConverters._
    tables.keySet.asScala.toSeq.collect { case (sid, n) if sid == id => n }
  }

  /** Parser-time check: is `view` registered in the ACTIVE session? */
  def isRegistered(view: String): Boolean =
    SparkSession.getActiveSession.exists(s => lookup(s, view).isDefined)

  /** Distinct lakes registered in `spark`, as (catalog name, handle).
    * The catalog name is the lake root's final path segment — the role
    * the Nessie catalog name plays in the reference's
    * `SHOW CATALOGS` / `USE nessie` notebook cells. */
  def lakes(spark: SparkSession): Seq[(String, Lakehouse)] = {
    val id = SessionIds.idOf(spark)
    import scala.jdk.CollectionConverters._
    tables.entrySet().asScala.toSeq
      .collect { case e if e.getKey._1 == id => e.getValue._1 }
      .groupBy(_.root).map { case (root, ls) =>
        (new java.io.File(root).getName, ls.head)
      }.toSeq.sortBy(_._1)
  }
}

/** Row-level write-mode selection for the parsed SQL DML surface —
  * the Iceberg table-property analog (`write.delete.mode` /
  * `write.update.mode`): session confs `spark.graft.delete-mode` and
  * `spark.graft.update-mode`, value `copy-on-write` (default,
  * read-optimized) or `merge-on-read` (write-optimized: tombstones /
  * deltas, zero data files rewritten — compaction materializes). */
private object WriteMode {
  def isMor(spark: SparkSession, op: String): Boolean =
    spark.conf.get(s"spark.graft.$op-mode", "copy-on-write") match {
      case "copy-on-write" => false
      case "merge-on-read" => true
      case other => throw new IllegalArgumentException(
        s"spark.graft.$op-mode must be copy-on-write or merge-on-read; got: $other")
    }
}

/** `DELETE FROM <lakehouse view> [WHERE <pred>]` — row-level delete
  * committed as a new snapshot; no WHERE deletes every row (the form
  * Iceberg supports); returns the snapshot id. Copy-on-write by
  * default; `spark.graft.delete-mode=merge-on-read` routes through
  * the positional-tombstone path ([[WriteMode]]). */
case class LakehouseDeleteCommand(view: String, condition: Column)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("snapshot_id", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (lake, partitionBy) = LakehouseRegistry.lookup(spark, view)
      .getOrElse(throw new IllegalStateException(s"$view is not a registered lakehouse view"))
    val snap =
      if (WriteMode.isMor(spark, "delete")) lake.deleteWhereMor(condition, view, lake.sessionBranch)
      else lake.deleteWhere(condition, view, partitionBy, lake.sessionBranch)
    lake.registerView(view, partitionBy)
    Seq(Row(snap))
  }
}

/** `UPDATE <lakehouse view> SET col = expr[, …] [WHERE <pred>]` —
  * stat-pruned row-level update committed as a new snapshot.
  * Copy-on-write by default; `spark.graft.update-mode=merge-on-read`
  * routes through the tombstone+delta path ([[WriteMode]]). */
case class LakehouseUpdateCommand(view: String, assignments: Seq[(String, Column)],
    condition: Column) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("snapshot_id", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (lake, partitionBy) = LakehouseRegistry.lookup(spark, view)
      .getOrElse(throw new IllegalStateException(s"$view is not a registered lakehouse view"))
    val snap =
      if (WriteMode.isMor(spark, "update"))
        lake.updateWhereMor(assignments, condition, view, partitionBy, lake.sessionBranch)
      else lake.updateWhere(assignments, condition, view, partitionBy, lake.sessionBranch)
    lake.registerView(view, partitionBy)
    Seq(Row(snap))
  }
}

/** `INSERT INTO <lakehouse view> [(col, …)] <SELECT …|VALUES …>` —
  * O(rows) append committed as a new snapshot. Without a column list
  * the query maps positionally onto the whole schema; with one, onto
  * the listed columns, and unlisted columns insert NULL (must be
  * nullable) — the partial-insert shape an evolved schema makes
  * routine (new columns exist, old INSERT statements keep working).
  * `query` is the parsed query plan, analyzed when the command runs. */
case class LakehouseInsertCommand(view: String, query: LogicalPlan,
    cols: Seq[String] = Nil) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("snapshot_id", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (lake, partitionBy) = LakehouseRegistry.lookup(spark, view)
      .getOrElse(throw new IllegalStateException(s"$view is not a registered lakehouse view"))
    Seq(Row(lake.sqlInsert(view, RelationShim.ofRows(spark, query), partitionBy, cols)))
  }
}

/** `MERGE INTO <lakehouse view> USING <view> ON t.k = s.k [AND …]
  * WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *` —
  * the canonical upsert-all shape, committed as a new snapshot. */
case class LakehouseMergeCommand(view: String, sourceView: String, keyCols: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("snapshot_id", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (lake, partitionBy) = LakehouseRegistry.lookup(spark, view)
      .getOrElse(throw new IllegalStateException(s"$view is not a registered lakehouse view"))
    Seq(Row(lake.sqlMerge(view, sourceView, keyCols, partitionBy)))
  }
}

/** Conditional MERGE: ordered `WHEN MATCHED [AND cond] THEN
  * UPDATE SET * | UPDATE SET col = expr, … | DELETE` clauses, an
  * optional `WHEN NOT MATCHED [AND cond] THEN INSERT …`, and ordered
  * `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET … | DELETE`
  * clauses (the full-sync side), routed through
  * [[Lakehouse.sqlMergeClauses]] as ONE snapshot commit. */
case class LakehouseMergeCondCommand(view: String, sourceView: String, keyCols: Seq[String],
    matched: Seq[MergeMatched], notMatchedInsert: Option[MergeInsert],
    notMatchedBySource: Seq[MergeMatched] = Nil)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("snapshot_id", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (lake, partitionBy) = LakehouseRegistry.lookup(spark, view)
      .getOrElse(throw new IllegalStateException(s"$view is not a registered lakehouse view"))
    Seq(Row(lake.sqlMergeClauses(
      view, sourceView, keyCols, matched, notMatchedInsert, partitionBy,
      lake.sessionBranch, notMatchedBySource)))
  }
}

/** `ALTER TABLE t SET PARTITION SPEC (days(ts)[, bucket(8,k)…])` —
  * PARTITION EVOLUTION through SQL (Iceberg's `ALTER TABLE … ADD/
  * REPLACE PARTITION FIELD` surface, collapsed to a whole-spec
  * replace): the registry's layout for the view changes, so the NEXT
  * write takes the new spec while committed dirs keep their own
  * self-describing layouts until a rewrite touches them. Specs may be
  * identity columns or hidden-partitioning transforms
  * ([[Transforms]]); each entry is validated at parse time. */
case class LakehouseAlterSpecCommand(view: String, spec: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("table", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (lake, _) = LakehouseRegistry.lookup(spark, view)
      .getOrElse(throw new IllegalStateException(s"$view is not a registered lakehouse view"))
    spec.foreach(Transforms.parse) // reject unknown transforms before registering
    lake.registerView(view, spec)
    Seq(Row(view))
  }
}

/** `ALTER TABLE t ADD COLUMNS (c1 type1, c2 type2, …)` — SQL SCHEMA
  * EVOLUTION (the Iceberg DDL the reference's catalog tables get for
  * free): an additive, metadata-only snapshot commit. Existing dirs
  * are untouched and read NULL (or the column's DEFAULT) for the new
  * columns; subsequent INSERT/MERGE take the evolved schema; time
  * travel below the commit shows the old schema. Narrowing is refused
  * by construction (no type-change surface) and added columns must be
  * nullable. A dotted name (`shipping_address.country`) is a NESTED
  * add; a `DEFAULT` rides the field metadata ([[ColumnDefaults]]). */
case class LakehouseAddColumnsCommand(view: String, cols: StructType)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("snapshot_id", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (lake, partitionBy) = LakehouseRegistry.lookup(spark, view)
      .getOrElse(throw new IllegalStateException(s"$view is not a registered lakehouse view"))
    val snap = lake.addColumns(view, cols, lake.sessionBranch)
    lake.registerView(view, partitionBy) // temp view takes the evolved schema
    Seq(Row(snap))
  }
}

/** `ALTER TABLE t RENAME COLUMN a TO b` — metadata-only snapshot;
  * dirs written before it resolve the old physical name at read. */
case class LakehouseRenameColumnCommand(view: String, from: String, to: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("snapshot_id", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (lake, partitionBy) = LakehouseRegistry.lookup(spark, view)
      .getOrElse(throw new IllegalStateException(s"$view is not a registered lakehouse view"))
    val snap = lake.renameColumn(view, from, to, lake.sessionBranch)
    lake.registerView(view, partitionBy)
    Seq(Row(snap))
  }
}

/** `ALTER TABLE t DROP COLUMN c` — metadata-only snapshot: the
  * column vanishes from reads and new writes; history keeps it. */
case class LakehouseDropColumnCommand(view: String, col: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("snapshot_id", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (lake, partitionBy) = LakehouseRegistry.lookup(spark, view)
      .getOrElse(throw new IllegalStateException(s"$view is not a registered lakehouse view"))
    val snap = lake.dropColumn(view, col, lake.sessionBranch)
    lake.registerView(view, partitionBy)
    Seq(Row(snap))
  }
}

/** `ALTER TABLE t CREATE BRANCH b [AS OF VERSION n]` / `DROP BRANCH b`
  * — branch lifecycle through SQL (Iceberg's branch DDL, the surface
  * behind the reference's NESSIE_REF workflow): CREATE points a new
  * branch at the session branch's head (or an explicit snapshot);
  * DROP removes the pointer, snapshots stay in history. */
case class LakehouseBranchCommand(view: String, create: Boolean, branch: String,
    asOfVersion: Option[Long]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("branch", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (lake, _) = LakehouseRegistry.lookup(spark, view)
      .getOrElse(throw new IllegalStateException(s"$view is not a registered lakehouse view"))
    if (create) {
      val snap = asOfVersion.getOrElse(
        lake.currentSnapshot(view, lake.sessionBranch).getOrElse(
          throw new IllegalStateException(s"$view has no snapshot to branch from")))
      lake.createBranch(view, branch, snap)
    } else lake.dropBranch(view, branch)
    Seq(Row(branch))
  }
}

/** `ALTER TABLE t FAST FORWARD [BRANCH] b [INTO target]` — the
  * `fast_forward` procedure as a statement: moves `target` (default:
  * the session branch) to `b`'s head. Snapshots are immutable and
  * shared, so the merge is a pointer move. */
case class LakehouseFastForwardCommand(view: String, from: String,
    into: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("snapshot_id", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (lake, partitionBy) = LakehouseRegistry.lookup(spark, view)
      .getOrElse(throw new IllegalStateException(s"$view is not a registered lakehouse view"))
    val snap = lake.mergeBranch(view, from, into.getOrElse(lake.sessionBranch))
    lake.registerView(view, partitionBy) // refresh the temp view to the merged head
    Seq(Row(snap))
  }
}

/** `ALTER TABLE t ALTER COLUMN c TYPE <wider>` — widening type
  * promotion (int→bigint, float→double, decimal precision) as a
  * metadata-only snapshot; everything else refused. */
case class LakehouseAlterTypeCommand(view: String, col: String, dataType: DataType)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("snapshot_id", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (lake, partitionBy) = LakehouseRegistry.lookup(spark, view)
      .getOrElse(throw new IllegalStateException(s"$view is not a registered lakehouse view"))
    val snap = lake.alterColumnType(view, col, dataType, lake.sessionBranch)
    lake.registerView(view, partitionBy)
    Seq(Row(snap))
  }
}

/** `CREATE [OR REPLACE] TABLE t [PARTITIONED BY (spec,…)]
  * [SORTED BY (col,…)] AS <query>` against the session's DEFAULT LAKE
  * (`spark.graft.lake-root` — the catalog-role conf; the parser
  * intercepts CTAS only when it is set). Partition specs take
  * identity columns or hidden-partitioning transforms
  * ([[Transforms]]); SORTED BY declares the write sort order
  * ([[Lakehouse.declareSortOrder]] — under range distribution,
  * writes land key-clustered). Plain CREATE refuses an existing
  * table; OR REPLACE commits a replacing snapshot (history stays
  * travel-readable). Registers the view for DML/SQL on success. */
case class LakehouseCtasCommand(table: String, replace: Boolean, spec: Seq[String],
    sortBy: Seq[String], query: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("snapshot_id", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val root = spark.conf.get(LakehouseCtasCommand.RootConf)
    val lake = new Lakehouse(spark, root)
    spec.foreach(Transforms.parse) // reject unknown transforms first
    if (!replace && lake.currentSnapshot(table, lake.sessionBranch).isDefined)
      throw new IllegalStateException(
        s"table $table already exists in lake $root; use CREATE OR REPLACE TABLE")
    if (sortBy.nonEmpty) lake.declareSortOrder(table, sortBy)
    // CTAS lands on the session branch (NESSIE_REF semantics): a
    // branch-scoped session creates tables main never sees until a
    // fast-forward
    val snap = lake.createOrReplace(spark.sql(query), table, spec, lake.sessionBranch)
    lake.registerView(table, spec)
    Seq(Row(snap))
  }
}

/** `CREATE MATERIALIZED VIEW v AS SELECT … FROM t [WHERE …] GROUP BY …`
  * — materializes the restricted aggregate shape [[MaterializedView]]
  * maintains incrementally, persists the definition in the source
  * lake's `_mviews.jsonl`, and registers the view table for SQL
  * access. Refresh via `CALL system.refresh_mview('v')`. */
case class LakehouseCreateMviewCommand(view: String, src: String,
    groups: Seq[String], aggs: Seq[(String, Option[String], String)],
    where: Option[String],
    joins: Seq[(String, String, String, String)] = Nil)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("snapshot_id", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    import MaterializedView._
    val (lake, _) = LakehouseRegistry.lookup(spark, src)
      .getOrElse(throw new IllegalStateException(s"$src is not a registered lakehouse view"))
    val aggCols = aggs.map {
      case ("sum", Some(c), al) => SumCol(c, al)
      case ("count", _, al) => CountAll(al)
      case ("min", Some(c), al) => MinCol(c, al)
      case ("max", Some(c), al) => MaxCol(c, al)
      case other => throw new UnsupportedOperationException(s"unsupported aggregate: $other")
    }
    val d = ViewDef(view, src, groups, aggCols, where,
      joins.map { case (dim, fk, dk, jt) => JoinSpec(dim, fk, dk, jt) })
    val snap = MaterializedView.create(lake, d)
    MaterializedView.persist(lake, d)
    lake.registerView(view)
    Seq(Row(snap))
  }
}

object LakehouseCtasCommand {
  val RootConf = "spark.graft.lake-root"
  /** CTAS routes to the lakehouse only when the session declared a
    * default lake — otherwise Spark's own parser handles CREATE. */
  def enabled: Boolean = SparkSession.getActiveSession
    .exists(_.conf.getOption(RootConf).exists(_.nonEmpty))
}

/** `VACUUM t [RETAIN n SNAPSHOTS]` — table maintenance through SQL:
  * expires all but the last n snapshots (default 1; tags stay pinned,
  * branch heads survive) and deletes orphaned dirs no kept snapshot
  * references (stale-grace 0 here: everything unreferenced after
  * expiry goes). The Iceberg `expire_snapshots` + `remove_orphan_files`
  * procedures collapsed into the familiar statement. Returns the
  * number of snapshots expired (expiry itself collects their
  * now-unreferenced dirs; the orphan sweep then reaps dead writers'
  * leavings). */
case class LakehouseVacuumCommand(view: String, retain: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("expired_snapshots", LongType)())
  override def run(spark: SparkSession): Seq[Row] = {
    require(retain >= 1, s"VACUUM must retain at least 1 snapshot, got $retain")
    val (lake, _) = LakehouseRegistry.lookup(spark, view)
      .getOrElse(throw new IllegalStateException(s"$view is not a registered lakehouse view"))
    val before = lake.snapshots(view).size
    lake.expireSnapshots(view, keepLast = retain)
    lake.removeOrphans(view, staleMillis = 0L)
    Seq(Row((before - lake.snapshots(view).size).toLong))
  }
}

/** `SHOW CATALOGS` — the reference notebook's literal first cell
  * (query_iceberg.ipynb: list the Nessie catalog before USE-ing it).
  * One row per distinct lake root registered in the session plus the
  * built-in `spark_catalog`, with the lake root as the location — a
  * driver-side metadata listing, no data scan. */
case class LakehouseShowCatalogsCommand() extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("catalog", StringType)(),
    AttributeReference("location", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    // native V2 catalogs first (spark.sql.catalog.* plugins +
    // spark_catalog) — intercepting must not HIDE configured catalogs
    // the delegate statement would have listed
    val native = scala.util.Try(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.catalogManager.listCatalogs(None))
      .getOrElse(Seq("spark_catalog")).sorted
    val lakeNames = LakehouseRegistry.lakes(spark)
    val nativeRows = native.filterNot(n => lakeNames.exists(_._1 == n)).map(Row(_, null))
    nativeRows ++ lakeNames.map { case (name, lake) => Row(name, lake.root) }
  }
}

/** `SHOW NAMESPACES IN <lake>` — a graft lake is a flat,
  * single-namespace catalog (tables live directly under the root), so
  * the listing is the one implicit namespace; the statement exists so
  * the reference's catalog-browsing cells run unchanged. */
case class LakehouseShowNamespacesCommand(catalog: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("namespace", StringType)())
  override def run(spark: SparkSession): Seq[Row] = Seq(Row("default"))
}

/** `CREATE [OR REPLACE] VIEW v AS <select>` over registered lake
  * tables (r16) — the Iceberg view-spec analog (the reference's saved
  * ad-hoc queries, query_iceberg.ipynb): the SQL text persists in the
  * owning lake's `_views.jsonl`, analyzes eagerly (a broken view
  * refuses at CREATE), and [[Lakehouse.openCatalog]] restores it in a
  * fresh session. NO data is stored — every read re-plans against the
  * base tables' current state. */
case class LakehouseCreateViewCommand(view: String, body: String,
    orReplace: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("view", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val lake = LakehouseSqlUtil.bodyLake(spark, body).getOrElse(
      throw new IllegalStateException(
        s"CREATE VIEW $view: the body references no registered lakehouse table"))
    lake.createSqlView(view, body, orReplace)
    Seq(Row(view))
  }
}

/** `DROP VIEW v` on a persisted lake view. */
case class LakehouseDropViewCommand(view: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("view", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val lake = LakehouseSqlUtil.viewLake(spark, view).getOrElse(
      throw new IllegalStateException(s"$view is not a persisted lakehouse view"))
    lake.dropSqlView(view)
    Seq(Row(view))
  }
}

private[sources] object LakehouseSqlUtil {
  /** The lake a view body belongs to: the first registered lake table
    * — or, for views over views, persisted view — in TABLE POSITION
    * (after FROM/JOIN), and ONLY there. A broad identifier scan would
    * hijack native CREATE VIEW statements whose body merely mentions a
    * column/alias matching some registered lake table's name — when no
    * table-position identifier resolves, the statement belongs to
    * Spark's own catalog and must delegate untouched. */
  def bodyLake(spark: SparkSession, body: String): Option[Lakehouse] = {
    // table position = after FROM/JOIN, including comma-join lists and
    // qualified names (every dot segment is a candidate — registered
    // names are bare, so `lake.orders` resolves through `orders`)
    val fromIds = """(?i)\b(?:from|join)\s+([`A-Za-z_][\w.`]*(?:\s*,\s*[`A-Za-z_][\w.`]*)*)""".r
      .findAllMatchIn(body).map(_.group(1)).toSeq
      .flatMap(_.split(',').toSeq).map(_.trim.replace("`", ""))
      .flatMap(q => q +: q.split('.').toSeq).filter(_.nonEmpty).distinct
    fromIds.collectFirst(scala.Function.unlift(t =>
        LakehouseRegistry.lookup(spark, t).map(_._1)))
      .orElse(fromIds.collectFirst(scala.Function.unlift(viewLake(spark, _))))
  }

  /** The lake holding persisted view `v`, if any. */
  def viewLake(spark: SparkSession, v: String): Option[Lakehouse] =
    LakehouseRegistry.lakes(spark).map(_._2).distinct
      .find(_.sqlViews().exists(_._1.equalsIgnoreCase(v)))
}

/** `SHOW TABLES IN <lake>` — the `SHOW TABLES IN nessie.sales` analog
  * through the parsed surface: routes to [[Lakehouse.tablesDf]]
  * (table, current snapshot, snapshot count, branches, type — table |
  * materialized_view | view). Pure manifest metadata; bounded by
  * table count, not data size. */
case class LakehouseShowTablesCommand(catalog: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("table_name", StringType)(),
    AttributeReference("current_snapshot", LongType)(),
    AttributeReference("n_snapshots", LongType)(),
    AttributeReference("branches", StringType)(),
    AttributeReference("type", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val lake = LakehouseRegistry.lakes(spark).collectFirst {
      case (name, l) if name.equalsIgnoreCase(catalog) => l
    }.getOrElse(throw new IllegalStateException(s"$catalog is not a registered lake catalog"))
    lake.tablesDf().collect().toSeq
  }
}

/** `SHOW CREATE TABLE t` (r16) — the full declared state as an
  * executable statement list: [[Lakehouse.showCreateStatements]] for
  * tables; the recorded `CREATE VIEW … AS <text>` for persisted views. */
case class LakehouseShowCreateCommand(view: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("createtab_stmt", StringType)())
  override def run(spark: SparkSession): Seq[Row] =
    LakehouseRegistry.lookup(spark, view) match {
      case Some((lake, _)) => lake.showCreateStatements(view).map(Row(_))
      case None =>
        val lake = LakehouseSqlUtil.viewLake(spark, view).getOrElse(
          throw new IllegalStateException(
            s"$view is not a registered lakehouse table or persisted view"))
        val sql = lake.sqlViews().find(_._1.equalsIgnoreCase(view)).get._2
        Seq(Row(s"CREATE VIEW $view AS $sql"))
    }
}

/** `DESCRIBE EXTENDED t` (r16) — columns (with DEFAULTs) plus the
  * declared-state block ([[Lakehouse.describeRows]]); persisted views
  * describe their analyzed schema plus the view text. */
case class LakehouseDescribeCommand(view: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("col_name", StringType)(),
    AttributeReference("data_type", StringType)(),
    AttributeReference("comment", StringType)())
  override def run(spark: SparkSession): Seq[Row] =
    LakehouseRegistry.lookup(spark, view) match {
      case Some((lake, _)) =>
        lake.describeRows(view).map { case (a, b, c) => Row(a, b, c) }
      case None =>
        val lake = LakehouseSqlUtil.viewLake(spark, view).getOrElse(
          throw new IllegalStateException(
            s"$view is not a registered lakehouse table or persisted view"))
        val sql = lake.sqlViews().find(_._1.equalsIgnoreCase(view)).get._2
        spark.table(view).schema.fields.toSeq
          .map(f => Row(f.name, f.dataType.sql, null)) ++ Seq(
          Row("", "", null),
          Row("# Detailed Table Information", "", null),
          Row("Type", "view", null),
          Row("View Text", sql, null))
    }
}

/** `DROP TABLE t [PURGE]` on a registered lakehouse view: unregisters
  * the temp view, the DML routing, and the persistent catalog line;
  * PURGE also deletes the table directory. Without PURGE the
  * immutable snapshots stay on disk and the table can be re-attached
  * later — Iceberg's external-table drop semantics. */
case class LakehouseDropCommand(view: String, purge: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(AttributeReference("table", StringType)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (lake, _) = LakehouseRegistry.lookup(spark, view)
      .getOrElse(throw new IllegalStateException(s"$view is not a registered lakehouse view"))
    lake.dropTable(view, purge)
    Seq(Row(view))
  }
}

/** Statement front end for REGISTERED lakehouse views. DML (`DELETE`,
  * `UPDATE`, `INSERT INTO`, `MERGE INTO`), column DDL (`ADD`/`RENAME`/
  * `DROP COLUMN`, `ALTER COLUMN … TYPE`) and `DROP TABLE` are parsed
  * by Spark's grammar and mapped from the parsed plan onto the
  * lakehouse commands ([[lakeCommand]]). Statements Spark's grammar
  * lacks — partition-spec and branch DDL, `FAST FORWARD`, `VACUUM`,
  * materialized views, CTAS into the default lake, persisted views,
  * `SHOW`/`DESCRIBE` and `CALL` — still match regexes first.
  * Everything else, including DML on unregistered tables (Spark's
  * analyzer then reports its usual error), is Spark's own plan. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  private val AlterSpecRe =
    """(?is)\s*ALTER\s+TABLE\s+`?([A-Za-z_]\w*)`?\s+SET\s+PARTITION\s+SPEC\s*\((.*)\)\s*;?\s*""".r
  private val BranchDdlRe =
    ("""(?is)\s*ALTER\s+TABLE\s+`?([A-Za-z_]\w*)`?\s+(CREATE|DROP)\s+BRANCH\s+""" +
      """`?([A-Za-z_]\w*)`?(?:\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*""").r
  private val FastForwardRe =
    ("""(?is)\s*ALTER\s+TABLE\s+`?([A-Za-z_]\w*)`?\s+FAST\s+FORWARD\s+(?:BRANCH\s+)?""" +
      """`?([A-Za-z_]\w*)`?(?:\s+INTO\s+`?([A-Za-z_]\w*)`?)?\s*;?\s*""").r
  private val VacuumRe =
    """(?is)\s*VACUUM\s+`?([A-Za-z_]\w*)`?(?:\s+RETAIN\s+(\d+)\s+SNAPSHOTS)?\s*;?\s*""".r
  private val CtasRe =
    ("""(?is)\s*CREATE\s+(OR\s+REPLACE\s+)?TABLE\s+`?([A-Za-z_]\w*)`?""" +
      """(?:\s+PARTITIONED\s+BY\s*\((.*?)\))?""" +
      """(?:\s+SORTED\s+BY\s*\((.*?)\))?""" +
      """\s+AS\s+((?:SELECT|WITH|VALUES|FROM|TABLE)\b.+?)\s*;?\s*""").r
  // CREATE MATERIALIZED VIEW v AS SELECT <groups + mergeable aggs>
  // FROM <lake table> [WHERE <row predicate>] GROUP BY <groups> —
  // the restricted aggregate shape MaterializedView maintains
  // incrementally (sum/count(*)/min/max only, single source table)
  private val CreateMviewRe =
    ("""(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+`?([A-Za-z_]\w*)`?\s+AS\s+""" +
      """SELECT\s+(.+?)\s+FROM\s+`?([A-Za-z_]\w*)`?""" +
      """(?:\s+WHERE\s+((?:(?!\bGROUP\b).)+?))?""" +
      """\s+GROUP\s+BY\s+(.+?)\s*;?\s*""").r
  // join-shaped variant: FROM <fact> ([LEFT [OUTER]|INNER] JOIN <dim>
  // ON <equality>)+ — the silver_enrich shape (and its snowflake
  // chains), maintained by the same delta machinery (fact appends
  // incremental through the pinned dim chain; single-hop dim changes
  // incremental, multi-hop dim movement recomputes)
  private val CreateMviewJoinRe =
    ("""(?is)\s*CREATE\s+MATERIALIZED\s+VIEW\s+`?([A-Za-z_]\w*)`?\s+AS\s+""" +
      """SELECT\s+(.+?)\s+FROM\s+`?([A-Za-z_]\w*)`?""" +
      """((?:\s+(?:LEFT\s+(?:OUTER\s+)?|INNER\s+)?JOIN\s+`?[A-Za-z_]\w*`?""" +
      """\s+ON\s+(?:(?!\bWHERE\b|\bGROUP\b|\bJOIN\b).)+?)+)""" +
      """(?:\s+WHERE\s+((?:(?!\bGROUP\b).)+?))?""" +
      """\s+GROUP\s+BY\s+(.+?)\s*;?\s*""").r
  // one hop of the join chain, re-scanned out of the captured blob
  private val MviewJoinHopRe =
    ("""(?is)\s*(LEFT\s+(?:OUTER\s+)?|INNER\s+)?JOIN\s+`?([A-Za-z_]\w*)`?""" +
      """\s+ON\s+((?:(?!\bWHERE\b|\bGROUP\b|\bJOIN\b).)+)""").r
  private val MviewAggRe =
    """(?is)\s*(sum|min|max)\s*\(\s*`?([A-Za-z_]\w*)`?\s*\)\s+AS\s+`?([A-Za-z_]\w*)`?\s*""".r
  private val MviewCountRe =
    """(?is)\s*count\s*\(\s*\*\s*\)\s+AS\s+`?([A-Za-z_]\w*)`?\s*""".r
  private val MviewBareColRe = """\s*`?([A-Za-z_]\w*)`?\s*""".r
  private val OnConjunct =
    """(?i)\s*(?:([A-Za-z_]\w*)\.)?([A-Za-z_]\w*)\s*=\s*(?:([A-Za-z_]\w*)\.)?([A-Za-z_]\w*)\s*""".r
  // Iceberg-style maintenance procedures; the optional `graft.` prefix
  // mirrors Iceberg's `CALL <catalog>.system.<proc>` form
  private val CallRe =
    """(?is)\s*CALL\s+(?:graft\.)?system\.([A-Za-z_]\w*)\s*\((.*)\)\s*;?\s*""".r
  // catalog/namespace browsing (the reference notebook's first cells);
  // SHOW NAMESPACES/TABLES intercept only when IN names a registered
  // lake — Spark's native statements keep working for everything else
  private val ShowCatalogsRe = """(?is)\s*SHOW\s+CATALOGS\s*;?\s*""".r
  private val ShowNamespacesRe =
    """(?is)\s*SHOW\s+(?:NAMESPACES|DATABASES|SCHEMAS)\s+IN\s+`?([A-Za-z_][\w.-]*)`?\s*;?\s*""".r
  private val ShowTablesRe =
    """(?is)\s*SHOW\s+TABLES\s+IN\s+`?([A-Za-z_][\w.-]*)`?\s*;?\s*""".r
  // plain persisted views (r16): CREATE VIEW must NOT swallow Spark's
  // own TEMP/GLOBAL TEMP view forms, and CREATE MATERIALIZED VIEW has
  // its own grammar above — the pattern admits only the bare keyword
  private val CreateViewRe =
    """(?is)\s*CREATE\s+(OR\s+REPLACE\s+)?VIEW\s+`?([A-Za-z_]\w*)`?\s+AS\s+(.+?)\s*;?\s*""".r
  private val DropViewRe =
    """(?is)\s*DROP\s+VIEW\s+`?([A-Za-z_]\w*)`?\s*;?\s*""".r
  private val ShowCreateRe =
    """(?is)\s*SHOW\s+CREATE\s+TABLE\s+`?([A-Za-z_]\w*)`?\s*;?\s*""".r
  private val DescribeExtRe =
    """(?is)\s*DESC(?:RIBE)?\s+EXTENDED\s+`?([A-Za-z_]\w*)`?\s*;?\s*""".r
  private def isLake(name: String): Boolean =
    SparkSession.getActiveSession.exists(s =>
      LakehouseRegistry.lakes(s).exists(_._1.equalsIgnoreCase(name)))
  private val NamedArgRe = """(?s)\s*([A-Za-z_]\w*)\s*=>\s*(.+?)\s*""".r

  /** The restricted mview select shape shared by the plain and join
    * CREATE MATERIALIZED VIEW forms: bare group columns (must match
    * GROUP BY) + aliased mergeable aggregates. */
  private def parseMviewSelect(selectList: String, groupBy: String)
      : (Seq[String], Seq[(String, Option[String], String)]) = {
    val groups = splitSpecs(groupBy).map(_.trim.stripPrefix("`").stripSuffix("`"))
    var bare = Seq.empty[String]
    var aggs = Seq.empty[(String, Option[String], String)]
    splitSpecs(selectList).foreach {
      case MviewAggRe(op, c, al) => aggs :+= ((op.toLowerCase, Some(c), al))
      case MviewCountRe(al) => aggs :+= (("count", None, al))
      case MviewBareColRe(c) => bare :+= c
      case other => throw new UnsupportedOperationException(
        s"CREATE MATERIALIZED VIEW supports group columns and sum/min/max(col) " +
          s"/ count(*) with AS aliases (mergeable aggregates only); got: $other")
    }
    if (bare.sorted != groups.sorted) throw new UnsupportedOperationException(
      s"CREATE MATERIALIZED VIEW: non-aggregate select columns ${bare.mkString(", ")} " +
        s"must match GROUP BY ${groups.mkString(", ")}")
    if (aggs.isEmpty) throw new UnsupportedOperationException(
      "CREATE MATERIALIZED VIEW needs at least one aggregate column")
    (groups, aggs)
  }

  /** `CALL` argument list → (name, raw value) pairs; positional args
    * carry None. Split is quote-aware ([[splitSpecs]]), so a string
    * literal holding a comma survives. */
  private def callArgs(argstr: String): Seq[(Option[String], String)] =
    splitSpecs(argstr).map {
      case NamedArgRe(k, v) => (Some(k), v)
      case v => (None, v)
    }

  /** The table a CALL addresses (first positional or `table => …`),
    * unquoted — the parser intercepts only registered views. */
  private def callTable(argstr: String): Option[String] = {
    val as = callArgs(argstr)
    as.collectFirst { case (Some(k), v) if k.equalsIgnoreCase("table") => v }
      .orElse(as.collectFirst { case (None, v) => v })
      .map { v =>
        val t = v.trim
        if (t.length >= 2 && t.head == '\'' && t.last == '\'')
          t.substring(1, t.length - 1).replace("''", "'")
        else t
      }
  }

  /** Split a partition-spec / argument list on TOP-LEVEL commas
    * only — transform entries carry commas inside their parens
    * (`bucket(8,k)`), and CALL arguments carry string literals whose
    * commas, parens and doubled-quote escapes (`where => 'x = ','`)
    * must not split or unbalance. */
  private def splitSpecs(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0
    var inQuote = false
    val cur = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQuote) {
        cur += c
        if (c == '\'') {
          // SQL escapes a quote by doubling it — consume the pair
          if (i + 1 < s.length && s.charAt(i + 1) == '\'') { cur += '\''; i += 1 }
          else inQuote = false
        }
      } else if (c == ',' && depth == 0) {
        out += cur.toString; cur.clear()
      } else {
        if (c == '\'') inQuote = true
        if (c == '(') depth += 1
        if (c == ')') depth -= 1
        cur += c
      }
      i += 1
    }
    out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  override def parsePlan(sqlText: String): LogicalPlan =
    parseStripped(GraftSqlParser.stripComments(sqlText), sqlText)

  /** The intercept regexes match the COMMENT-STRIPPED text (`stripped`;
    * quote-aware, so comment markers inside a string literal survive) —
    * a trailing `-- note` must not make a registered-view VACUUM fall
    * through to the delegate. Captured fragments therefore come
    * comment-free; the DELEGATE always receives the ORIGINAL statement,
    * so delegation stays byte-exact (fuzz-pinned by SqlParserFuzzSpec). */
  private def parseStripped(stripped: String, sqlText: String): LogicalPlan = stripped match {
    case CallRe(proc, argstr) if callTable(argstr).exists(LakehouseRegistry.isRegistered) =>
      LakehouseCallCommand(proc.toLowerCase, callArgs(argstr))
    case ShowCatalogsRe() => LakehouseShowCatalogsCommand()
    case ShowNamespacesRe(cat) if isLake(cat) => LakehouseShowNamespacesCommand(cat)
    case ShowTablesRe(cat) if isLake(cat) => LakehouseShowTablesCommand(cat)
    case CreateViewRe(orRepl, view, body)
        if SparkSession.getActiveSession
          .exists(s => LakehouseSqlUtil.bodyLake(s, body).isDefined) =>
      LakehouseCreateViewCommand(view, body.trim, orRepl != null)
    case DropViewRe(view)
        if SparkSession.getActiveSession
          .exists(s => LakehouseSqlUtil.viewLake(s, view).isDefined) =>
      LakehouseDropViewCommand(view)
    case ShowCreateRe(table)
        if LakehouseRegistry.isRegistered(table) ||
          SparkSession.getActiveSession
            .exists(s => LakehouseSqlUtil.viewLake(s, table).isDefined) =>
      LakehouseShowCreateCommand(table)
    case DescribeExtRe(table)
        if LakehouseRegistry.isRegistered(table) ||
          SparkSession.getActiveSession
            .exists(s => LakehouseSqlUtil.viewLake(s, table).isDefined) =>
      LakehouseDescribeCommand(table)
    case AlterSpecRe(table, specs) if LakehouseRegistry.isRegistered(table) =>
      LakehouseAlterSpecCommand(table, splitSpecs(specs))
    case BranchDdlRe(table, verb, branch, asOf) if LakehouseRegistry.isRegistered(table) =>
      val create = verb.equalsIgnoreCase("CREATE")
      if (!create && asOf != null) throw new UnsupportedOperationException(
        s"DROP BRANCH takes no AS OF VERSION")
      LakehouseBranchCommand(table, create, branch, Option(asOf).map(_.toLong))
    case FastForwardRe(table, from, into) if LakehouseRegistry.isRegistered(table) =>
      LakehouseFastForwardCommand(table, from, Option(into))
    case CreateMviewJoinRe(view, selectList, src, joinChain, where, groupBy)
        if LakehouseRegistry.isRegistered(src) &&
          MviewJoinHopRe.findAllMatchIn(joinChain).forall(m =>
            LakehouseRegistry.isRegistered(m.group(2))) =>
      var leftTables = Seq(src) // src + earlier dims: the LEFT side grows per hop
      val hops = MviewJoinHopRe.findAllMatchIn(joinChain).map { m =>
        val (jt, dim, on) = (m.group(1), m.group(2), m.group(3))
        val (fk, dk) = on match {
          case OnConjunct(q1, c1, q2, c2) =>
            def is(q: String, t: String) = q != null && q.equalsIgnoreCase(t)
            // a qualifier naming THIS hop's dim marks that side as the
            // dim key; one naming the fact or an EARLIER dim marks the
            // LEFT side (snowflake chains); bare columns read
            // left-first (`ON left_key = dim_key`)
            if (is(q1, dim) || leftTables.exists(is(q2, _))) (c2, c1) else (c1, c2)
          case _ => throw new UnsupportedOperationException(
            s"materialized join view supports ON <left.key = dim.key>; got: ON $on")
        }
        val joinType =
          if (jt != null && jt.trim.toUpperCase.startsWith("LEFT")) "left" else "inner"
        leftTables = leftTables :+ dim
        (dim, fk, dk, joinType)
      }.toSeq
      val (groups, aggs) = parseMviewSelect(selectList, groupBy)
      LakehouseCreateMviewCommand(view, src, groups, aggs,
        Option(where).map(_.trim), hops)
    case CreateMviewRe(view, selectList, src, where, groupBy)
        if LakehouseRegistry.isRegistered(src) =>
      val (groups, aggs) = parseMviewSelect(selectList, groupBy)
      LakehouseCreateMviewCommand(view, src, groups, aggs, Option(where).map(_.trim))
    case CtasRe(replace, table, specs, sortBy, query) if LakehouseCtasCommand.enabled =>
      LakehouseCtasCommand(table, replace != null,
        Option(specs).map(splitSpecs).getOrElse(Nil),
        Option(sortBy).map(splitSpecs).getOrElse(Nil), query)
    case VacuumRe(table, retain) if LakehouseRegistry.isRegistered(table) =>
      LakehouseVacuumCommand(table, Option(retain).map(_.toInt).getOrElse(1))
    case _ => lakeCommand(delegate.parsePlan(sqlText))
  }

  /** Spark's parsed plan, with DML and column DDL on a single-part
    * registered name mapped onto the lakehouse commands. Predicates,
    * SET right-hand sides and INSERT values stay Catalyst expressions
    * (as `Column`s), so a string literal holding `WHERE`, `WHEN` or
    * `(SELECT` is only ever a literal. Shapes the commands do not take
    * — an aliased target, `INSERT OVERWRITE`, `BY NAME`, a partition
    * spec, a MERGE source other than a bare view name — stay Spark's
    * plan. A DML target is never pinned ([[pinReferencedViews]]): the
    * commands read the table through the lakehouse, and the
    * copy-on-write rewrite's files depend on that read. */
  private def lakeCommand(plan: LogicalPlan): LogicalPlan = plan match {
    case DeleteFromTable(Registered(t), cond) =>
      LakehouseDeleteCommand(t, rowLocal(cond,
        s"lakehouse DELETE supports row-local WHERE predicates, not subqueries; got: WHERE ${cond.sql}"))
    case UpdateTable(Registered(t), asgs, cond) =>
      val where = cond.getOrElse(Literal.TrueLiteral)
      LakehouseUpdateCommand(t,
        setList("UPDATE SET", asgs, e => s"lakehouse UPDATE supports row-local SET expressions, " +
          s"not subqueries; got: SET ${e.sql}"),
        rowLocal(where,
          s"lakehouse UPDATE supports row-local WHERE predicates, not subqueries; got: WHERE ${where.sql}"))
    case InsertIntoStatement(Registered(t), part, cols, query, false, false, false) if part.isEmpty =>
      LakehouseInsertCommand(t, resolveLakeRefs(query, pin = true), cols)
    case MergeIntoTable(Registered(t), UnresolvedRelation(Seq(src), _, _), on,
        matched, notMatched, bySource, false) =>
      mergeCommand(t, src, on, matched, notMatched, bySource)
    case AddColumns(Registered(t), cols) =>
      LakehouseAddColumnsCommand(t, StructType(cols.map { c =>
        if (c.position.isDefined) throw new UnsupportedOperationException(
          s"lakehouse ADD COLUMNS appends; FIRST/AFTER positions are not supported: ${c.colName}")
        val f = StructField(c.name.mkString("."), c.dataType, c.nullable)
        val commented = c.comment.fold(f)(f.withComment)
        c.default.fold(commented)(d => ColumnDefaults.withDefault(commented, d.originalSQL))
      }))
    case RenameColumn(Registered(t), col, to) =>
      LakehouseRenameColumnCommand(t, col.name.mkString("."), to)
    case DropColumns(Registered(t), Seq(col), false) =>
      LakehouseDropColumnCommand(t, col.name.mkString("."))
    case AlterColumns(Registered(t), Seq(AlterColumnSpec(col, Some(dt), None, None, None, None, false))) =>
      LakehouseAlterTypeCommand(t, col.name.mkString("."), dt)
    case DropTable(Registered(t), false, purge) => LakehouseDropCommand(t, purge)
    case other => resolveLakeRefs(other, pin = true)
  }

  /** A write target naming a registered view by one unqualified part. */
  private object Registered {
    def unapply(p: LogicalPlan): Option[String] = (p match {
      case UnresolvedRelation(Seq(n), _, _) => Some(n)
      case UnresolvedTable(Seq(n), _, _) => Some(n)
      case UnresolvedIdentifier(Seq(n), _) => Some(n)
      case _ => None
    }).filter(LakehouseRegistry.isRegistered)
  }

  /** `e` as a `Column` for the row-local lakehouse paths, which read
    * one table (and the MERGE source) row by row: a subquery is
    * refused with `refusal`, never planned. */
  private def rowLocal(e: Expression, refusal: => String): Column =
    if (e.exists(_.isInstanceOf[SubqueryExpression])) throw new UnsupportedOperationException(refusal)
    else GraftShim.column(e)

  /** `SET col = expr, …` (or `INSERT (cols) VALUES (…)`) as
    * (column, value) pairs; a qualified or nested key is refused. */
  private def setList(stmt: String, asgs: Seq[Assignment],
      refusal: Expression => String): Seq[(String, Column)] = asgs.map {
    case Assignment(UnresolvedAttribute(Seq(c)), v) => c -> rowLocal(v, refusal(v))
    case a => throw new UnsupportedOperationException(
      s"unsupported $stmt assignment: ${a.sql} (expected col = expr)")
  }

  /** `MERGE INTO t USING s ON <t.k = s.k AND …> WHEN …`: the canonical
    * `UPDATE SET * / INSERT *` pair goes to [[Lakehouse.sqlMerge]],
    * every other clause list to [[Lakehouse.sqlMergeClauses]]. The ON
    * clause must be a conjunction of equalities between same-named
    * columns, each side bare or qualified by `t` or `s`. */
  private def mergeCommand(t: String, src: String, on: Expression, matched: Seq[MergeAction],
      notMatched: Seq[MergeAction], bySource: Seq[MergeAction]): LogicalPlan = {
    object KeyCol {
      def unapply(e: Expression): Option[String] = e match {
        case UnresolvedAttribute(Seq(c)) => Some(c)
        case UnresolvedAttribute(Seq(q, c)) if q.equalsIgnoreCase(t) || q.equalsIgnoreCase(src) => Some(c)
        case _ => None
      }
    }
    def keysOf(e: Expression): Option[Seq[String]] = e match {
      case And(l, r) => for (a <- keysOf(l); b <- keysOf(r)) yield a ++ b
      case EqualTo(KeyCol(a), KeyCol(b)) if a.equalsIgnoreCase(b) => Some(Seq(a))
      case _ => None
    }
    val keys = keysOf(on).getOrElse(throw new UnsupportedOperationException(
      s"lakehouse MERGE supports ON <equi-key conjunction>; got: ON ${on.sql}"))
    def cond(a: MergeAction): Option[Column] = a.condition.map(c => rowLocal(c,
      s"lakehouse MERGE clause conditions are row-local predicates, not subqueries; got: AND ${c.sql}"))
    def sets(asgs: Seq[Assignment]) = setList("MERGE SET", asgs,
      e => s"lakehouse MERGE SET expressions are row-local, not subqueries; got: SET ${e.sql}")
    def unsupported(a: MergeAction) = throw new UnsupportedOperationException(
      s"unsupported MERGE clause: $a")
    def rowAction(a: MergeAction): MergeMatched = a match {
      case _: UpdateStarAction => MergeMatched(cond(a), isDelete = false)
      case _: DeleteAction => MergeMatched(cond(a), isDelete = true)
      case u: UpdateAction => MergeMatched(cond(a), isDelete = false, Some(sets(u.assignments)))
      case _ => unsupported(a)
    }
    (matched, notMatched, bySource) match {
      case (Seq(UpdateStarAction(None)), Seq(InsertStarAction(None)), Seq()) =>
        LakehouseMergeCommand(t, src, keys)
      case _ =>
        if (notMatched.length > 1) throw new UnsupportedOperationException(
          "lakehouse MERGE takes at most one WHEN NOT MATCHED clause")
        val insert = notMatched.headOption.map {
          case a: InsertStarAction => MergeInsert(cond(a))
          case a: InsertAction =>
            val vals = setList("MERGE INSERT", a.assignments, e => "lakehouse MERGE INSERT " +
              s"values are row-local, not subqueries; got: VALUES (${e.sql})")
            MergeInsert(cond(a), Some((vals.map(_._1), vals.map(_._2))))
          case a => unsupported(a)
        }
        LakehouseMergeCondCommand(t, src, keys, matched.map(rowAction), insert,
          bySource.map(rowAction))
    }
  }

  // Iceberg-style metadata tables, addressable as `<registered view>.<m>`
  private val MetaTables: Map[String, (Lakehouse, String) => org.apache.spark.sql.DataFrame] = Map(
    "history" -> (_.history(_)), "snapshots" -> (_.snapshotsDf(_)),
    "files" -> (_.filesDf(_)), "tags" -> (_.tagsDf(_)), "refs" -> (_.refsDf(_)),
    "partitions" -> (_.partitionsDf(_)), "partition_stats" -> (_.partitionStatsDf(_)),
    "mviews" -> (_.mviewsDf(_)), "views" -> ((lake, _) => lake.viewsDf()))

  /** Registered-name reads on the PARSED plan, in one walk that also
    * reaches subquery expressions, `WITH` bodies and `EXPLAIN`'s plan:
    *
    *  - SQL time travel — the Iceberg query surface `t VERSION AS OF
    *    <v>` / `t TIMESTAMP AS OF '<ts>'`, which Spark's grammar parses
    *    to a [[RelationTimeTravel]] — becomes a relation named `t` over
    *    [[Lakehouse.sqlRelation]] at the snapshot the programmatic API
    *    resolves (`readSnapshot` / `readTag` / `readAsOf`). A version
    *    that is all digits is a snapshot id, else a tag, else a branch
    *    head (Iceberg's `SparkCatalog` order): `t VERSION AS OF 'dev'`
    *    reads the dev branch without touching the session branch conf.
    *    A timestamp other than a literal is left to Spark.
    *  - `t.history` / `t.snapshots` / … become a relation over the
    *    matching metadata DataFrame.
    *  - Every other single-part registered name is pinned for the
    *    statement ([[pinReferencedViews]]) when `pin` is set.
    *
    * Travel composes with any SELECT, including joins of two versions
    * of one table, and `t.col` qualifiers keep resolving. Unregistered
    * and catalog-qualified names (`cat.t VERSION AS OF 3`, served by
    * the catalog itself) are left to Spark, and the walk adds nothing
    * to the session catalog beyond the pin. */
  private def resolveLakeRefs(plan: LogicalPlan, pin: Boolean): LogicalPlan = {
    val spark = SparkSession.getActiveSession.getOrElse(return plan)
    // a registered name → (registry key, which is also the table name, lake)
    object Lake {
      def unapply(name: String): Option[(String, Lakehouse)] = {
        val key = name.toLowerCase(java.util.Locale.ROOT)
        LakehouseRegistry.lookup(spark, key).map(e => (key, e._1))
      }
    }
    val pinned = scala.collection.mutable.Map.empty[String, Lakehouse]
    def walk(p: LogicalPlan): LogicalPlan = p.transformDownWithSubqueries {
      case tt @ RelationTimeTravel(UnresolvedRelation(Seq(t @ Lake(name, lake)), _, _), ts, version) =>
        def at(snap: Long) = lake.sqlRelation(name, lake.sessionBranch, Some(snap))
        val rel = (ts, version) match {
          case (None, Some(v)) if v.forall(_.isDigit) && v.toLongOption.isDefined =>
            Some(at(v.toLong))
          case (None, Some(v)) =>
            Some(lake.tags(name).find(_._1 == v).fold(lake.sqlRelation(name, v))(tag => at(tag._2)))
          // Spark's own cast, in the SESSION timezone like every other
          // timestamp literal in the statement
          case (Some(lit: Literal), None) =>
            TimeTravelSpec.create(Some(lit), None, spark.sessionState.conf.sessionLocalTimeZone)
              .collect { case AsOfTimestamp(micros) =>
                at(lake.asOfSnapshotOrFail(name, Math.floorDiv(micros, 1000L)))
              }
          case _ => None
        }
        rel.fold[LogicalPlan](tt)(df => SubqueryAlias(t, df.queryExecution.analyzed))
      case UnresolvedRelation(Seq(t @ Lake(name, lake), m), _, _)
          if MetaTables.contains(m.toLowerCase(java.util.Locale.ROOT)) =>
        val df = MetaTables(m.toLowerCase(java.util.Locale.ROOT))(lake, name)
        SubqueryAlias(Seq(t, m), df.queryExecution.analyzed)
      case r @ UnresolvedRelation(Seq(Lake(name, lake)), _, _) =>
        pinned(name) = lake
        r
      // plans Spark keeps as inner children, outside the transform
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, q, d) =>
          (n, walk(q).asInstanceOf[SubqueryAlias], d)
        })
      case e: ExplainCommand => e.copy(logicalPlan = walk(e.logicalPlan))
    }
    val resolved = walk(plan)
    if (pin) pinReferencedViews(pinned.toMap)
    resolved
  }

  /** SNAPSHOT-ISOLATION pinning (Iceberg's per-query snapshot rule):
    * every registered lakehouse view the statement REFERENCES is
    * re-resolved ONCE, at statement start, to the table's current
    * snapshot (on the session branch — see [[Lakehouse.sessionBranch]]).
    * All references within the statement — a self-join, repeated
    * subqueries, `WITH` bodies — then read one consistent snapshot,
    * and a concurrent writer committing between two references can
    * never produce a mixed read; it also means plain SQL reads are
    * always FRESH, not pinned to registration time. The temp view's
    * plan is inlined at analysis, so re-pinning for a later statement
    * never disturbs an already-analyzed Dataset; data dirs are
    * immutable once committed, so the pinned snapshot stays valid
    * whatever commits race it.
    *
    * The pinned relation is [[Lakehouse.sqlRelation]]: the DSv2 scan
    * `<catalog>.<table>` plans, over the layout cached for that
    * snapshot, when the layout is servable — no manifest walk or
    * data-dir open per statement — and the ordinary per-dir union of
    * `Lakehouse.read` otherwise. Either way the view is read-only:
    * DML on the name keeps routing through the lakehouse commands.
    *
    * `refs` come from [[resolveLakeRefs]]'s walk of the parsed plan,
    * not a word-regex over the SQL text: a registered name inside a
    * string literal or comment never triggers a manifest read. */
  private def pinReferencedViews(refs: Map[String, Lakehouse]): Unit =
    refs.foreach { case (name, lake) =>
      // a vacuumed/retired table must not fail statements that
      // reference a same-named non-lake relation
      scala.util.Try(lake.sqlRelation(name, lake.sessionBranch).createOrReplaceTempView(name))
    }

  /** The text of a view created by SQL re-parses here each time the
    * view is referenced: its travel and metadata references resolve as
    * in [[parsePlan]], but nothing is pinned, since that would replace a
    * temp view while another statement is being analyzed. */
  override def parseQuery(sqlText: String): LogicalPlan =
    resolveLakeRefs(delegate.parseQuery(sqlText), pin = false)
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {
  /** Remove SQL comments QUOTE-AWARELY: `-- …\n` line comments and
    * slash-star bracketed comments (nested, as Spark's lexer allows)
    * are replaced by a single space; comment markers inside `'…'`,
    * `"…"` and `` `…` `` survive untouched (both `''`-doubling and
    * backslash escapes respected). Only the intercept MATCHING reads
    * this text — the delegate always parses the original — so the
    * worst a stripper bug can do is delegate a statement the intercept
    * could have served, never corrupt one. */
  private[sources] def stripComments(sql: String): String = {
    val out = new java.lang.StringBuilder(sql.length)
    val n = sql.length
    var i = 0
    var state = 0 // 0 normal, 1 inside '…', 2 inside "…", 3 inside `…`
    var depth = 0 // bracketed-comment nesting
    while (i < n) {
      val c = sql.charAt(i)
      if (depth > 0) {
        if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') { depth += 1; i += 2 }
        else if (c == '*' && i + 1 < n && sql.charAt(i + 1) == '/') {
          depth -= 1; i += 2
          if (depth == 0) out.append(' ')
        } else i += 1
      } else if (state == 0) {
        if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
          while (i < n && sql.charAt(i) != '\n') i += 1 // keep the newline
          out.append(' ')
        } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
          depth = 1; i += 2
        } else {
          if (c == '\'') state = 1
          else if (c == '"') state = 2
          else if (c == '`') state = 3
          out.append(c); i += 1
        }
      } else {
        // inside a quoted region: backslash escapes the next char;
        // a doubled closer reads as exit-then-reenter, which is safe
        if (c == '\\' && state != 3 && i + 1 < n) {
          out.append(c).append(sql.charAt(i + 1)); i += 2
        } else {
          if ((state == 1 && c == '\'') || (state == 2 && c == '"') ||
            (state == 3 && c == '`')) state = 0
          out.append(c); i += 1
        }
      }
    }
    out.toString
  }
}
