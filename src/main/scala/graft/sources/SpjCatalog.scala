package graft.sources.spj

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import graft.sources.{Lakehouse, SpjFile, SpjLayout}

/** STORAGE-PARTITIONED JOINS over hidden lakehouse layouts —
  * `bucket(n,k)`, identity, or the two-level `(identity, bucket)`
  * fact canon — the Iceberg-SPJ analog, done the way Iceberg does it:
  * a DSv2 catalog whose scans report [[KeyGroupedPartitioning]] keyed
  * by the layout's transforms, with the bucket hash exposed as a
  * catalog V2 function. When two tables share the spec and the join
  * keys cover the partition columns, Spark's `EnsureRequirements`
  * proves both sides are already co-located partition-by-partition
  * and plans the join with NO Exchange — at 100 TB that deletes the
  * dominant shuffle of every fact-fact equi-join that the layout
  * already paid for at write time, without the separate
  * Spark-native-bucketed companion copy ([[Lakehouse.writeBucketed]])
  * this repo used before. The rest of the DSv2 read path rides the
  * same write-time metadata: complete (grouped) aggregate pushdown,
  * reported ordering, exact statistics, static + runtime pruning,
  * LIMIT/TopN file caps, SQL time travel and branch namespaces —
  * every claim declining to the bit-identical ordinary scan when its
  * metadata proof doesn't hold.
  *
  * Register once per session:
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft_spj", classOf[GraftSpjCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft_spj.root", lakeRoot)
  *   spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
  *   spark.table("graft_spj.t1").join(spark.table("graft_spj.t2"), ...)
  * }}}
  *
  * The scan serves the table's CURRENT main-branch snapshot, resolved
  * at `loadTable` time (plan-time pinning: concurrent commits never
  * shift a running query). File lists come from the snapshot ledger
  * grouped by bucket-dir value — one metadata walk, zero data opens at
  * plan time — and EVERY bucket in [0, n) is emitted (empty buckets
  * as empty partitions) so the two sides' partition-value sets always
  * align position-for-position. Reference analog: the silver layer's
  * enrichment join (silver_transformation.py) re-shuffles both sides
  * every run; a bucket-layout table pays that shuffle once at write.
  */
class GraftSpjCatalog extends TableCatalog with FunctionCatalog {
  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = options.get("root")
    require(root != null,
      s"catalog $name needs option 'root' (spark.sql.catalog.$name.root = <lakehouse root>)")
  }
  override def name(): String = catalogName

  /** CREATE TABLE with column DEFAULTs (r16): Spark folds a declared
    * default into the column metadata under its own
    * CURRENT_DEFAULT/EXISTS_DEFAULT keys — exactly the representation
    * [[graft.sources.ColumnDefaults]] stores and both read paths
    * bind, so advertising the capability is all it takes. */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** `SHOW TABLES IN <cat>` lists every lake table whose layout this
    * catalog can SERVE ([[Lakehouse.spjServableSpec]], a manifest-only
    * probe — tombstoned and schema-evolved tables each serve; their
    * combination, mixed layouts and renamed partition columns don't) —
    * advertising a table the scan would refuse at load would make
    * SHOW/USE workflows dead-end. A branch namespace lists the tables
    * servable AT that branch. */
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val lake = new Lakehouse(SparkSession.active, root)
    val branch = namespace match {
      case Array() => "main"
      case Array(b) => b
      // deeper namespaces can never load — an empty listing, not
      // dead-end identifiers
      case _ => return Array.empty
    }
    lake.tableNames()
      .filter(t => lake.spjServableSpec(t, branch).isDefined)
      .map(t => Identifier.of(namespace, t)).toArray
  }

  override def loadTable(ident: Identifier): Table = loadAt(ident, None)

  /** SQL time travel, the DSv2 way: `SELECT … FROM cat.t VERSION AS
    * OF <snapshot-id>` routes here — the layout (files, stats, sums,
    * sort markers) is resolved AT that snapshot, so every read-path
    * feature (SPJ planning, pushed aggregates, ordering, pruning)
    * works over history exactly as over the head. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val snap = scala.util.Try(version.toLong).getOrElse(
      throw new IllegalArgumentException(
        s"VERSION AS OF on ${ident.name()} takes a snapshot id, got: $version"))
    loadAt(ident, Some(snap))
  }

  /** `TIMESTAMP AS OF` — Spark hands MICROSECONDS since epoch; the
    * latest snapshot committed at-or-before it ON THE NAMED BRANCH
    * serves ([[Lakehouse.asOfSnapshot]], the same resolution
    * `readAsOf` uses, so SQL and DataFrame time travel agree). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val lake = new Lakehouse(SparkSession.active, root)
    val millis = timestamp / 1000L
    val branch = ident.namespace() match {
      case Array(b) => b
      case _ => "main"
    }
    val snap = lake.asOfSnapshot(ident.name(), millis, branch).getOrElse(
      throw new IllegalArgumentException(
        s"${ident.name()}@$branch has no snapshot committed at or before " +
          java.time.Instant.ofEpochMilli(millis)))
    loadAt(ident, Some(snap))
  }

  private def loadAt(ident: Identifier, atSnapshot: Option[Long]): Table = {
    val lake = new Lakehouse(SparkSession.active, root)
    // `graft_spj.<table>` reads main; `graft_spj.<branch>.<table>`
    // reads a branch (namespace = branch name, Iceberg-style)
    val branch = ident.namespace() match {
      case Array() => "main"
      case Array(b) => b
      case _ => throw new NoSuchTableException(ident)
    }
    val layout =
      try lake.spjLayout(ident.name(), branch, atSnapshot)
      catch {
        case e: IllegalArgumentException if e.getMessage.startsWith("no such table") =>
          throw new NoSuchTableException(ident)
      }
    new GraftSpjTable(ident.name(), layout, root, branch)
  }

  /** `CREATE TABLE cat.t (…) PARTITIONED BY (…)` — and the create leg
    * of CTAS: the declared V2 transforms map to a lakehouse layout
    * spec (the same strings every write path takes), the spec is
    * gated to the shapes the SPJ scan can SERVE (bucket | identity |
    * identity-or-calendar × bucket — creating an unservable table
    * would dead-end every later read), and the table commits as an
    * empty schema-bearing snapshot plus a durable catalog line. The
    * empty table loads immediately ([[Lakehouse.spjLayout]]'s
    * declared-spec fallback), so `INSERT INTO` / the CTAS write can
    * plan against it. */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    require(ident.namespace().isEmpty,
      s"CREATE TABLE lands on main — got namespace ${ident.namespace().mkString(".")}")
    val spark = SparkSession.active
    val lake = new Lakehouse(spark, root)
    if (lake.tableNames().contains(ident.name()))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(ident)
    val spec = SpjDdl.specOf(partitions, schema)
    // reserved properties Spark itself injects pass through; anything
    // user-meaningful refuses rather than silently dropping
    val reserved = Set(TableCatalog.PROP_OWNER, TableCatalog.PROP_PROVIDER,
      TableCatalog.PROP_COMMENT, TableCatalog.PROP_EXTERNAL,
      TableCatalog.PROP_LOCATION, TableCatalog.PROP_IS_MANAGED_LOCATION)
    val unknown = properties.keySet().asScala.toSet -- reserved
    require(unknown.isEmpty,
      s"unsupported table properties: ${unknown.mkString(", ")}")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    lake.createOrReplace(empty, ident.name()) // unpartitioned schema marker
    lake.registerView(ident.name(), spec) // the declared layout, durable
    loadTable(ident)
  }
  /** `ALTER TABLE cat.t ADD COLUMNS … / RENAME COLUMN … / DROP
    * COLUMN … / ALTER COLUMN … TYPE …` in plain SQL — each V2
    * [[TableChange]] maps onto the lakehouse's metadata-only evolution
    * commits (addColumns / renameColumn / dropColumn /
    * alterColumnType: schema lines + carried entries, zero data files
    * touched), and the evolved table keeps serving through the SPJ
    * read path's per-dir conform projections. A multi-change statement
    * commits ONE grouped snapshot (r14 — Iceberg's atomic grouped
    * commit: no torn window where a reader sees change 1 without
    * change 2, and a failed later change leaves NOTHING applied).
    * COLUMN POSITIONS serve too (r14): `ADD COLUMNS (x int FIRST |
    * AFTER c)` composes as add-then-move inside the grouped snapshot,
    * and `ALTER COLUMN c FIRST | AFTER b` is a pure metadata REORDER —
    * every reader conforms dirs by name into declared order already,
    * so committed data of any physical order keeps serving. NESTED
    * (struct-field) references are served too (r15): ADD/RENAME/DROP/
    * widen/MOVE on a dotted path commits the same metadata-only
    * snapshot kind, and dirs written before it conform their struct
    * shapes per dir on both read paths. Anything the evolution surface
    * can't honor exactly (paths crossing arrays/maps, defaults,
    * non-widening type changes, nullability tightening) refuses
    * loudly rather than silently dropping the request. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    require(ident.namespace().isEmpty,
      s"ALTER TABLE lands on main — got namespace ${ident.namespace().mkString(".")}")
    val lake = new Lakehouse(SparkSession.active, root)
    if (!lake.tableNames().contains(ident.name())) throw new NoSuchTableException(ident)
    // NESTED references (r15) pass through as DOTTED paths — the
    // evolution steps navigate struct scopes and both read paths
    // conform per dir ([[graft.sources.NestedSchema]]); paths crossing
    // arrays/maps refuse inside the step
    def dotted(names: Array[String]): String = names.mkString(".")
    val steps: Seq[Lakehouse#SchemaStep] = changes.toSeq.flatMap {
      case a: TableChange.AddColumn =>
        require(a.isNullable || a.defaultValue() != null,
          s"ADD COLUMNS ${dotted(a.fieldNames())}: added columns must be " +
            "nullable or carry a DEFAULT (existing rows read NULL otherwise)")
        // `ADD COLUMN ... DEFAULT <literal>` (r15): Iceberg-v3-style
        // initial defaults as metadata — old dirs read the literal on
        // both paths, omitting writes get it, travel below sees neither
        val f0 = StructField(dotted(a.fieldNames()), a.dataType())
        val f = Option(a.defaultValue()) match {
          case None => f0
          case Some(d) =>
            val sql = Option(d.getSql).getOrElse(throw new UnsupportedOperationException(
              s"ADD COLUMNS ${f0.name}: DEFAULT without SQL text is unsupported"))
            graft.sources.ColumnDefaults.withDefault(f0, sql)
        }
        // FIRST/AFTER composes as add-then-move INSIDE the one grouped
        // snapshot — the declared order is pure metadata (r14)
        Seq(lake.addColumnsStep(ident.name(),
          StructType(Seq(if (a.comment() == null) f
          else f.withComment(a.comment()))))) ++
          Option(a.position()).map(p =>
            lake.moveColumnStep(ident.name(), f.name, p))
      case r: TableChange.RenameColumn =>
        Seq(lake.renameColumnStep(ident.name(), dotted(r.fieldNames()), r.newName()))
      case d: TableChange.DeleteColumn =>
        Seq(lake.dropColumnStep(ident.name(), dotted(d.fieldNames()), "main"))
      case u: TableChange.UpdateColumnType =>
        Seq(lake.alterColumnTypeStep(ident.name(), dotted(u.fieldNames()), u.newDataType()))
      case p: TableChange.UpdateColumnPosition =>
        Seq(lake.moveColumnStep(ident.name(), dotted(p.fieldNames()), p.position()))
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change ${other.getClass.getSimpleName} — the " +
          "catalog maps ADD/RENAME/DROP COLUMN, widening ALTER COLUMN TYPE, " +
          "and FIRST/AFTER column positions")
    }
    lake.alterSchemaGrouped(ident.name(), steps)
    loadTable(ident)
  }
  /** `DROP TABLE cat.t` — MANAGED semantics (the catalog owns its
    * tables): metadata and data both go. The lakehouse surface keeps
    * the external-style `dropTable(purge = false)` for re-attachable
    * drops. */
  override def dropTable(ident: Identifier): Boolean = {
    if (ident.namespace().nonEmpty) return false // branches are read/DML surfaces
    val lake = new Lakehouse(SparkSession.active, root)
    if (!lake.tableNames().contains(ident.name())) false
    else { lake.dropTable(ident.name(), purge = true); true }
  }
  override def purgeTable(ident: Identifier): Boolean = dropTable(ident)
  /** `ALTER TABLE cat.t RENAME TO cat.u` — a pure metadata move
    * ([[Lakehouse.renameTable]]: directory rename + catalog-line
    * re-key; every ledger is path-relative so history, branches, tags
    * and tombstones all travel). The next `loadTable(u)` resolves the
    * moved table; `t` stops resolving atomically. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    require(oldIdent.namespace().isEmpty && newIdent.namespace().isEmpty,
      "RENAME TABLE operates on main-namespace tables " +
        s"(got ${oldIdent.namespace().mkString(".")} -> ${newIdent.namespace().mkString(".")})")
    val lake = new Lakehouse(SparkSession.active, root)
    if (!lake.tableNames().contains(oldIdent.name()))
      throw new NoSuchTableException(oldIdent)
    if (lake.tableNames().contains(newIdent.name()))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(newIdent)
    lake.renameTable(oldIdent.name(), newIdent.name())
  }

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    ("bucket" +: GraftTimeFunction.Names).map(Identifier.of(Array.empty, _)).toArray
  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name().equalsIgnoreCase("bucket")) GraftBucketFunction
    else if (GraftTimeFunction.Names.contains(ident.name().toLowerCase))
      new GraftTimeFunction(ident.name().toLowerCase)
    else throw new NoSuchFunctionException(ident)
}

/** One lakehouse snapshot presented as a DSv2 table partitioned by
  * `bucket(n, keyCol)` or `identity(keyCol)`. Reads serve the snapshot
  * pinned at load; writes route through the Lakehouse writer UNDER THE
  * SAME LAYOUT (the V1Write escape hatch Spark provides for exactly
  * this), so `INSERT INTO cat.t` / `df.writeTo(cat.t).append()` land
  * as ordinary hidden-partition commits — optimistic concurrency,
  * stats, time travel and SPJ planning all keep working, and the next
  * read re-resolves the table at its new snapshot. `DELETE FROM cat.t
  * WHERE …` rides [[SupportsDelete]] into the writer's COPY-ON-WRITE
  * [[Lakehouse.deleteWhere]] (partition-leaf-scoped rewrite, clean
  * leaves carried by reference, history time-travels) by default, or
  * the MERGE-ON-READ `deleteWhereMor` (positional tombstones, zero
  * leaves rewritten) under `spark.graft.delete-mode=merge-on-read` —
  * the SPJ scan serves tombstoned tables via per-file anti-filters,
  * so a wide low-selectivity delete can take the O(matched rows) path
  * Iceberg would. Conditions outside the translatable filter algebra
  * refuse loudly (`canDeleteWhere` false) instead of deleting the
  * wrong rows. */
private[spj] class GraftSpjTable(tableName: String, layout: SpjLayout, root: String,
    branch: String = "main")
  extends Table with SupportsRead with SupportsWrite with SupportsDelete
  with SupportsRowLevelOperations
  with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  import org.apache.spark.sql.sources.Filter

  /** Row-id metadata columns (`_file`, `_pos` — the Iceberg position
    * shape), hidden unless named; omitted entirely when a data column
    * shadows the name (that table then serves CoW row-level ops
    * only). What the DELTA row-level operations key position deletes
    * on. Plus `_change_type` (r15): the CDC tag column — constant
    * `insert` on batch reads (a snapshot IS its inserts), and the
    * insert/delete discriminator on a CDC stream
    * (`readStream.option("cdc", "true").table("cat.t")`). */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    def mk(f: StructField) =
      new org.apache.spark.sql.connector.catalog.MetadataColumn {
        override def name(): String = f.name
        override def dataType(): DataType = f.dataType
        override def isNullable: Boolean = false
      }
    val rowId =
      if (layout.schema.fieldNames.exists(SpjMetaColumns.Names.contains))
        Array.empty[org.apache.spark.sql.connector.catalog.MetadataColumn]
      else SpjMetaColumns.Fields.map(mk)
    val cdc =
      if (layout.schema.fieldNames.exists(_.equalsIgnoreCase(SpjMetaColumns.ChangeType)))
        Array.empty[org.apache.spark.sql.connector.catalog.MetadataColumn]
      else Array(mk(SpjMetaColumns.ChangeTypeField))
    rowId ++ cdc
  }

  /** Spark-native UPDATE / MERGE INTO (and the DELETE fallback for
    * conditions beyond the [[SupportsDelete]] filter algebra). Two
    * write modes, the Iceberg pair, routed by the session's
    * `spark.graft.update-mode` / `spark.graft.delete-mode`:
    *  - COPY-ON-WRITE (default): group-based [[GraftSpjRowLevelOp]] —
    *    CoW scan over the pinned snapshot's entries, staged
    *    replace-data write, conditional entry-swap commit;
    *  - MERGE-ON-READ: delta-based [[GraftSpjDeltaOp]] — matched rows
    *    scan with their `(_file, _pos)` row ids, deletes land as a
    *    positional tombstone and new images as one layout-spec data
    *    dir, ZERO existing leaves rewritten. Positional tombstones
    *    compose with schema evolution (a row index needs no name),
    *    so evolved tables take the delta path too; only a data
    *    column shadowing the row-id names falls back to CoW. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build(): org.apache.spark.sql.connector.write.RowLevelOperation = {
        import org.apache.spark.sql.connector.write.RowLevelOperation.Command
        val conf = SparkSession.active.conf
        val knob = if (info.command() == Command.DELETE) "spark.graft.delete-mode"
          else "spark.graft.update-mode"
        val mor = conf.get(knob, "copy-on-write") == "merge-on-read"
        // the delta path needs the ROW-ID pair specifically (the CDC
        // tag column's presence proves nothing about position deletes)
        if (mor && metadataColumns().exists(_.name == SpjMetaColumns.File))
          new GraftSpjDeltaOp(root, tableName, branch, layout, info.command())
        else
          new GraftSpjRowLevelOp(root, tableName, branch, layout, info.command())
      }
    }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => SpjDml.toColumn(f).isDefined)
  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    val cond = filters.toSeq.map(f => SpjDml.toColumn(f).getOrElse(
      throw new UnsupportedOperationException(s"untranslatable DELETE condition: $f")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    // the BRANCH the table was loaded from is the one the rewrite
    // commits to — `DELETE FROM cat.dev.t` must never move main
    val lake = new Lakehouse(spark, root)
    // write-mode routing, same session knob as the lakehouse SQL
    // surface: merge-on-read tombstones the matched positions (zero
    // leaves rewritten — the SPJ scan anti-filters them; positional
    // tombstones compose with schema evolution), copy-on-write
    // rewrites the matched partition leaves.
    if (spark.conf.get("spark.graft.delete-mode", "copy-on-write") == "merge-on-read")
      lake.deleteWhereMor(cond, tableName, branch)
    else
      lake.deleteWhere(cond, tableName, layout.spec, branch)
  }

  override def name(): String = tableName
  override def schema(): StructType = layout.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)
  override def partitioning(): Array[Transform] =
    (SpjTransforms.outer(layout).toSeq ++
      layout.identityCol.map(Expressions.identity) ++
      layout.bucketLevel.map { case (n, k) => Expressions.bucket(n, k) }).toArray
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftSpjScanBuilder(layout, Some((root, tableName, branch)),
      // Iceberg's option, Iceberg's default (false = fail loudly on a
      // mid-stream MoR delete): only the streaming path consults it
      skipDeleteSnapshots =
        options.getBoolean("streaming-skip-delete-snapshots", false),
      // `option("cdc", "true")` on readStream.table: the CHANGELOG
      // stream — MoR deletes/updates between batches arrive as
      // `_change_type`-tagged row deltas instead of failing the
      // interval ([[GraftSpjCdcMicroBatchStream]])
      cdc = options.getBoolean("cdc", false),
      // plain table reads may CLAIM dir-exact identity filters; the
      // row-level DML scans (their own builders) never do
      claimExact = true)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftSpjWriteBuilder(root, tableName, layout.spec, branch, info.schema())
}

/** The registered-name SQL read ([[Lakehouse.sqlRelation]]): a
  * DataFrame over a `DataSourceV2Relation` of the table's layout
  * pinned at one snapshot, planned exactly as `<catalog>.<table>` is
  * (the same scan builder, so the same pushdowns), but READ-ONLY — the
  * relation sits behind a session temp view, and DML on that name must
  * reach the lakehouse intercepts, never Spark's row-level or V2-write
  * path through this relation. */
object SpjRelation {
  def read(spark: SparkSession, root: String, table: String, branch: String,
      layout: SpjLayout): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graftshim.RelationShim.ofRows(spark,
      org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation.create(
        new GraftSpjReadTable(new GraftSpjTable(table, layout, root, branch)), None, None))
}

/** [[GraftSpjTable]]'s read surface and nothing else. */
private[spj] class GraftSpjReadTable(table: GraftSpjTable) extends Table with SupportsRead {
  override def name(): String = table.name()
  override def schema(): StructType = table.schema()
  override def partitioning(): Array[Transform] = table.partitioning()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    table.newScanBuilder(options)
}

/** Appends and truncating overwrites, routed to the Lakehouse writer
  * with the table's own partition spec — one commit per insert, same
  * layout, so the write needs no DSv2 DataWriter machinery of its
  * own and inherits the writer's conflict retries and ledgers. */
private[spj] class GraftSpjWriteBuilder(root: String, tableName: String,
    spec: Seq[String], branch: String,
    writeSchema: StructType) extends WriteBuilder with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = new V1Write {
    override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
      (data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], ow: Boolean) => {
        val lake = new Lakehouse(SparkSession.active, root)
        // commits land on the branch the table was LOADED from:
        // `INSERT INTO cat.dev.t` must never move main
        if (overwrite || ow) lake.createOrReplace(data.toDF(), tableName, spec, branch)
        else lake.append(data.toDF(), tableName, spec, branch)
        ()
      }
    /** `df.writeStream.toTable("cat.t")` — epoch-keyed exactly-once
      * streaming writes; see [[GraftSpjStreamingWrite]]. */
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new GraftSpjStreamingWrite(root, tableName, spec, branch, writeSchema,
        truncate = overwrite)
  }
}

/** Column pruning AND filter pushdown reach the scan. Filters do
  * triple duty, every leg conservative:
  *  - FILE pruning against each file's stats-ledger bounds (may-match
  *    ranges — a file is dropped only when its recorded [lo, hi]
  *    PROVES no row can satisfy a conjunct);
  *  - BUCKET pruning: an equality/IN on the bucket column maps through
  *    the layout hash to the only buckets that can hold matches (the
  *    partition STRUCTURE is kept — pruned buckets plan as empty
  *    partitions, so SPJ alignment with the other side is untouched);
  *  - ROW-GROUP skipping: the accepted filters ride into the parquet
  *    reader, which skips row groups by footer stats.
  * Filters return as residual by DEFAULT — pruning is may-match, so
  * Spark keeps the exact predicate on top — with ONE carved-out
  * exception: on the plain table read path (`claimExact`),
  * [[dirExact]] conjuncts (identity equality/IN/null-tests, integral+
  * date identity ranges, aligned calendar-transform ranges) are
  * CLAIMED — dir-level pruning is row-exact for precisely those
  * shapes, the Filter node vanishes, and a claim reaching `build()`
  * without a matching enforcement set fails loudly closed (the
  * tripwire in [[SpjScanBuilderClaims]]). Everything outside that
  * accept set keeps the residual contract: a wrong-but-fast pushdown
  * is still the one bug class this surface must never have. */
private[spj] class GraftSpjScanBuilder(layout: SpjLayout,
    streamInfo: Option[(String, String, String)] = None,
    skipDeleteSnapshots: Boolean = false,
    cdc: Boolean = false,
    claimExact: Boolean = false)
  extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters
  with SupportsPushDownAggregates with SupportsPushDownLimit with SupportsPushDownTopN {

  import org.apache.spark.sql.sources.Filter

  private var required: StructType = layout.schema
  private var pushed: Array[Filter] = Array.empty
  private var claimed: Array[Filter] = Array.empty
  private var aggAnswer: Option[(StructType, Array[InternalRow], String)] = None
  private var limit: Option[Int] = None
  // the longest prefix of the requested sort that binds to plain
  // schema columns, as (column, ascending, nullsFirst) triples
  private var topN: Option[(Seq[(String, Boolean, Boolean)], Int)] = None
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  /** Is this conjunct DIR-EXACT on the identity column — the one
    * filter class this source fully handles instead of keeping
    * residual? Every row of an identity dir carries the dir's decoded
    * value, and `=`/`IN`/`IS [NOT] NULL` tests against it compare in
    * the canonical string domain the writer encoded (injective per
    * canonicalizable type), so partition pruning drops EXACTLY the
    * non-matching rows: the filter can vanish from the plan. Claimed
    * only on the plain TABLE read path (`claimExact` — never the
    * row-level DML scans, whose rewrite contracts own their
    * conditions), and mirrors [[SpjPruning.allowedIdentity]]'s accept
    * set exactly — a conjunct claimed here must be one that pruning
    * provably enforces. */
  private def dirExact(f: Filter): Boolean = {
    import org.apache.spark.sql.sources._
    val idCol = if (layout.identityKeys.isDefined) layout.identityCol else None
    // the CALENDAR family ([[SpjScanBuilderClaims]]): on days(DATE)
    // every comparison conjunct on the source column decides at dir
    // level (a DATE is day-granular); on months/years(DATE) and
    // hours(TIMESTAMP), RANGE conjuncts claim exactly when the bound
    // lands ON a period boundary — an unaligned bound splits a dir
    // and stays residual
    val cal = SpjScanBuilderClaims.calendarSource(layout)
    def calOk(c: Filter) = cal.exists(cc =>
      SpjScanBuilderClaims.keyPred(cc, c).isDefined)
    // identity RANGE conjuncts claim in the unambiguous ordering
    // domain only (integral/date — see rangeImage's string caveat)
    def idRange(c0: String, v: Any) = idCol.contains(c0) &&
      SpjScanBuilderClaims.rangeImage(v).isDefined &&
      layout.identityField.exists(f => f.dataType match {
        case ByteType | ShortType | IntegerType | LongType | DateType => true
        case _ => false
      })
    def ok(c: Filter): Boolean = c match {
      case And(l, r) => ok(l) && ok(r)
      case EqualTo(c0, v) => (idCol.contains(c0) && v != null &&
        SpjPruning.canonicalOf(v).isDefined) || calOk(c)
      case In(c0, vs) => (idCol.contains(c0) && vs.nonEmpty &&
        vs.forall(v => v != null && SpjPruning.canonicalOf(v).isDefined)) ||
        calOk(c)
      case GreaterThan(c0, v) => idRange(c0, v) || calOk(c)
      case GreaterThanOrEqual(c0, v) => idRange(c0, v) || calOk(c)
      case LessThan(c0, v) => idRange(c0, v) || calOk(c)
      case LessThanOrEqual(c0, v) => idRange(c0, v) || calOk(c)
      case IsNull(c0) => idCol.contains(c0) || calOk(c)
      case IsNotNull(c0) => idCol.contains(c0) || calOk(c)
      case _ => false
    }
    (idCol.isDefined || cal.isDefined) && ok(f)
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(SpjPruning.usable)
    claimed = if (claimExact) filters.filter(dirExact) else Array.empty
    // claimed conjuncts are FULLY handled (identity-dir pruning is
    // row-exact for them); everything else stays residual — pruning
    // on those is may-match only
    filters.filterNot(claimed.contains)
  }
  override def pushedFilters(): Array[Filter] = pushed
  /** Every pushed filter claimed — kept files' rows ALL match, so
    * recorded counts/stats of the pruned file map stay exact. */
  private def allClaimed: Boolean = pushed.forall(claimed.contains)

  /** Aggregates answered from the ledgers by [[SpjMetaAgg]] — global
    * or grouped count / min / max / sum / avg / count(DISTINCT) read
    * out of the row-count, null-count, bound and sum ledgers the
    * writer recorded, zero data opens (the Iceberg
    * `SupportsPushDownAggregates` shape). Accepted ONLY when the
    * answer is provably bit-equal to the ordinary scan-and-aggregate:
    * every pushed filter CLAIMED (so the kept dirs' rows all match),
    * every file's ledger complete for every referenced column —
    * anything else declines and Spark plans the ordinary scan.
    * Complete pushdown (never partial): the scan returns the finished
    * rows, one per group. */
  // Spark probes supportCompletePushDown BEFORE pushAggregation with
  // the same Aggregation instance — cache the ledger fold so the
  // O(files × agg-legs) metadata walk prices once per query, and only
  // pushAggregation commits the answer to the build
  private var probedAgg: Option[(AnyRef, Option[(StructType, Array[InternalRow], String)])] = None
  /** The layout the metadata readout folds over: with CLAIMED filters
    * the non-matching identity dirs drop first (partition-exact — the
    * same allowedIdentity set the scan enforces; kept dirs' rows ALL
    * match, so the ledger folds stay exact answers to the FILTERED
    * query). An unclaimable mix declines at the gates below. */
  private def aggLayout: Option[SpjLayout] =
    if (claimed.isEmpty) Some(layout)
    else {
      val sets: Seq[Set[Int]] = Seq(
        for {
          ic <- layout.identityCol
          keys <- layout.identityKeys
          s0 <- SpjPruning.allowedIdentity(ic, keys, claimed.toSeq)
        } yield s0,
        for {
          ic <- layout.identityCol
          keys <- layout.identityKeys
          s0 <- SpjScanBuilderClaims.allowedIdentityRange(keys, ic, claimed.toSeq)
        } yield s0,
        for {
          cc <- SpjScanBuilderClaims.calendarSource(layout)
          keys <- layout.identityKeys
          s0 <- SpjScanBuilderClaims.allowedDerivedCal(keys, cc, claimed.toSeq)
        } yield s0).flatten
      sets.reduceOption(_ intersect _).map(keep =>
        layout.copy(files = layout.files.map { case (b, fs) =>
          b -> (if (layout.keepPartition(b, Some(keep), None)) fs
          else Seq.empty[SpjFile])
        }))
    }
  private def probe(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[InternalRow], String)] = probedAgg match {
    case Some((ref, ans)) if ref eq agg => ans
    case _ =>
      val ans = aggLayout.flatMap(SpjMetaAgg.answer(_, agg))
      probedAgg = Some((agg, ans))
      ans
  }
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    allClaimed && probe(agg).isDefined
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (!allClaimed) return false
    aggAnswer = probe(agg)
    // NOTE if Spark takes this as a PARTIAL pushdown (it probed
    // supportCompletePushDown first, so it won't — but the contract
    // allows it), the finished rows fold correctly for the
    // count/min/max/sum legs, global AND grouped (Spark's partial
    // rewrite folds Count as Sum-of-counts per group, one row per
    // group here), and for group-only DISTINCT (re-grouping distinct
    // rows is idempotent). The avg and count-DISTINCT legs would NOT
    // be valid partials — those rely on Spark's own
    // supportPartialAggPushDown gate, which refuses partial pushdown
    // for exactly the avg/DISTINCT-aggregate shapes
    aggAnswer.isDefined
  }

  /** LIMIT pushdown caps the FILE LIST: with per-file row counts
    * recorded, a `SELECT ... LIMIT n` plans just enough files to cover
    * n rows (the notebook's peek-at-a-table shape reads one file, not
    * the table). Partially pushed — Spark keeps the exact limit on
    * top; this leg only prunes I/O, so unrecorded counts simply keep
    * every file. */
  override def pushLimit(n: Int): Boolean = {
    // recorded row counts OVER-state a tombstoned snapshot's served
    // rows — a count-based file cap could under-cover the limit.
    // CLAIMED identity filters keep the cap sound: the pruned map's
    // kept files' rows all match, so their counts are exact
    if (!allClaimed || aggAnswer.isDefined || layout.tombstoned) return false
    limit = Some(n)
    true
  }

  /** TopN pushdown caps the file list by SORT-BOUND coverage:
    * `ORDER BY c1, c2 LIMIT k` keeps only the files whose bound
    * tuples can still reach the k-th row — at 100 TB, `ORDER BY ts
    * DESC LIMIT 100` reads the newest file(s), not the table. The
    * FULL column prefix prunes lexicographically when every prefix
    * column carries complete, same-tagged, zero-null stats
    * ([[SpjPruning.capForTopNPrefix]]) — prefix pruning is sound for
    * any prefix length because the true order only refines the prefix
    * order; otherwise the cap degrades to the LEADING key alone
    * ([[SpjPruning.capForTopN]], which also handles lead-column
    * nulls). Declared partial, so Spark's own TopN picks exact rows. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
    // same decline as pushLimit: tombstoned row counts can under-cover k
    if (!allClaimed || aggAnswer.isDefined || n <= 0 || layout.tombstoned) return false
    if (orders.isEmpty) return false
    // bind the longest prefix of plain single-part schema columns;
    // boundary-tied files are kept (every keep test is inclusive)
    val prefix = orders.toSeq.map { o =>
      o.expression() match {
        case nr: NamedReference if nr.fieldNames().length == 1 &&
            layout.schema.fieldNames.contains(nr.fieldNames()(0)) =>
          Some((nr.fieldNames()(0),
            o.direction() == SortDirection.ASCENDING,
            o.nullOrdering() == NullOrdering.NULLS_FIRST))
        case _ => None
      }
    }.takeWhile(_.isDefined).flatten
    if (prefix.isEmpty) return false
    topN = Some((prefix, n))
    true
  }
  // one override serves both SupportsPushDownLimit and ...TopN: the
  // caps only prune I/O, Spark always keeps the exact operator on top
  override def isPartiallyPushed(): Boolean = true

  override def build(): Scan = aggAnswer match {
    case Some((aggSchema, rows, desc)) =>
      GraftSpjAggScan(aggSchema, rows, desc)
    case None =>
      // static partition pruning, one set per LEVEL: identity values
      // match the key dirs, bucket values map through the layout hash.
      // CLAIMED conjuncts join the identity set explicitly — IS [NOT]
      // NULL is claimable but not a stats-usable filter, and a claimed
      // conjunct's ONLY enforcement is this pruning (its Filter node
      // is gone from the plan)
      val allowedId = for {
        ic <- layout.identityCol
        keys <- layout.identityKeys
        a <- SpjPruning.allowedIdentity(ic, keys, (pushed ++ claimed).distinct.toSeq)
      } yield a
      // claimed calendar conjuncts decide at the derived-key level:
      // the outer identityKeys ARE the periods (epoch days / months /
      // years / hours), and the claim classification only accepted
      // dir-exact bounds (this pruning is the claim's only enforcement)
      val allowedDays = for {
        cc <- SpjScanBuilderClaims.calendarSource(layout)
        keys <- layout.identityKeys
        if claimed.nonEmpty
        a <- SpjScanBuilderClaims.allowedDerivedCal(keys, cc, claimed.toSeq)
      } yield a
      // claimed identity RANGE conjuncts (integral/date ordering
      // domain) enforce on the decoded key values
      val allowedIdRange = for {
        ic <- layout.identityCol
        keys <- layout.identityKeys
        if claimed.nonEmpty
        a <- SpjScanBuilderClaims.allowedIdentityRange(keys, ic, claimed.toSeq)
      } yield a
      val allowedBk = layout.bucketLevel.flatMap { case (n, k) =>
        SpjPruning.allowedBuckets(k, n, pushed.toSeq)
      }
      val outerAllowed = (allowedId.toSeq ++ allowedIdRange.toSeq ++
        allowedDays.toSeq).reduceOption(_ intersect _)
      // a claimed filter's ONLY enforcement is this pruning (its
      // Filter node is gone): no enforcement set means silent wrong
      // rows — refuse loudly instead (unreachable while dirExact and
      // the enforcement helpers accept the same shapes)
      require(claimed.isEmpty || outerAllowed.isDefined,
        s"claimed filters lack an enforcement set: ${claimed.mkString(", ")}")
      val pruned = layout.files.map { case (b, fs) =>
        b -> (if (!layout.keepPartition(b, outerAllowed, allowedBk)) Seq.empty[SpjFile]
        else fs.filter(f => pushed.forall(SpjPruning.mayMatch(f.stats, _))))
      }
      val capped0 = limit.fold(pruned)(SpjPruning.capForLimit(pruned, _))
      val capped = topN.fold(capped0) { case (ords, k) =>
        // multi-column prefixes try the lexicographic cap first; any
        // unprovable leg degrades to the leading-key cap (which owns
        // the lead-null algebra), never to a wrong answer
        (if (ords.length > 1)
          SpjPruning.capForTopNPrefix(capped0, ords.map(o => (o._1, o._2)), k)
        else None).getOrElse {
          val (c, asc, nf) = ords.head
          SpjPruning.capForTopN(capped0, c, asc, nf, k)
        }
      }
      new GraftSpjScan(layout, required, capped, pushed.toSeq, limit,
        topN.map { case (ords, k) =>
          ords.map { case (c, asc, _) =>
            s"$c ${if (asc) "ASC" else "DESC"}" }.mkString(", ") + s" LIMIT $k" },
        streamInfo, skipDeleteSnapshots, cdc, claimed.toSeq)
  }
}

/** Splices the constant `_change_type` tag into each row at the
  * requested ordinal (r15): the BATCH serving of the CDC tag column —
  * a snapshot IS its inserts — and the insert leg of the CDC stream.
  * The inner factory reads the data columns only; the splice is one
  * row copy (delta-priced on streams; on batch reads the column is
  * rare enough that the copy is acceptable). */
private[spj] class GraftSpjTagFactory(inner: PartitionReaderFactory,
    tagOrdinal: Int, outLen: Int, tag: String,
    innerTypes: Array[DataType]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val in = inner.createReader(partition)
    val tagU = org.apache.spark.unsafe.types.UTF8String.fromString(tag)
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private val out =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(outLen)
      override def next(): Boolean = in.next()
      override def get(): InternalRow = {
        val r = in.get()
        var i = 0; var j = 0
        while (i < outLen) {
          if (i == tagOrdinal) out.update(i, tagU)
          else { out.update(i, r.get(j, innerTypes(j))); j += 1 }
          i += 1
        }
        out
      }
      override def close(): Unit = in.close()
    }
  }
}

/** A metadata-answered aggregate as a driver-local scan: Spark turns
  * [[LocalScan]] into a LocalTableScanExec — the finished row ships
  * from the driver, no executors, no files. */
private[graft] case class GraftSpjAggScan(aggSchema: StructType,
    rows: Array[InternalRow], desc: String) extends LocalScan {
  override def readSchema(): StructType = aggSchema
  override def description(): String = s"GraftSpjAggScan $desc"
}

private[graft] class GraftSpjScan(layout: SpjLayout, required: StructType,
    files0: Map[Int, Seq[SpjFile]],
    pushed: Seq[org.apache.spark.sql.sources.Filter], limit: Option[Int] = None,
    topN: Option[String] = None,
    streamInfo: Option[(String, String, String)] = None,
    skipDeleteSnapshots: Boolean = false,
    cdc: Boolean = false,
    claimed: Seq[org.apache.spark.sql.sources.Filter] = Seq.empty)
  extends Scan with Batch with SupportsReportPartitioning
  with SupportsReportStatistics with SupportsRuntimeV2Filtering
  with SupportsReportOrdering {

  /** PER-PARTITION ORDERING claim ([[SupportsReportOrdering]]) — what
    * deletes the SortExec under sort-merge plans the way
    * KeyGroupedPartitioning deletes the Exchange: rows come out of
    * each scan partition already sorted by the table's declared write
    * sort chain. Claimed ONLY when provable from write-time metadata:
    *  - EVERY file carries the same `_sortorder` marker (its rows were
    *    written `sortWithinPartitions(chain)` — dirs from before the
    *    declaration lack the marker and kill the claim);
    *  - the chain's columns survive column pruning (the ordering must
    *    resolve against the scan output);
    *  - the LEAD column has recorded zero-null ledgers and stat bounds
    *    on every file, all under one comparable tag;
    *  - within each partition the files' [lo, hi] lead ranges are
    *    STRICTLY disjoint once sorted — cross-file lead ties could
    *    interleave on the tie-breaker columns, so a shared boundary
    *    value conservatively claims nothing.
    * Strict lead disjointness makes the FULL chain claimable: across
    * files lead order decides, within a file the marker guarantees the
    * chain. The claim re-orders each partition's file list (emission
    * must match the promise); pruning hooks only ever REMOVE files, so
    * runtime filters and limit/TopN caps preserve it. At 100 TB this
    * turns a co-partitioned fact-fact merge join over range-distributed
    * sorted layouts into a zero-Exchange, zero-Sort plan. */
  private val orderClaim: Option[(Seq[String], Map[Int, Seq[SpjFile]])] = {
    val all = files0.valuesIterator.flatten.toSeq
    val chain = all.headOption.map(_.sortedBy).getOrElse(Seq.empty)
    if (chain.isEmpty || !all.forall(_.sortedBy == chain) ||
      !chain.forall(required.fieldNames.contains)) None
    else {
      val lead = chain.head
      val tags = all.flatMap(_.stats.get(lead).map(_._1)).distinct
      if (tags.length != 1 ||
        all.exists(f => f.stats.get(lead).isEmpty || !f.nulls.get(lead).contains(0L)))
        None
      else scala.util.Try {
        def key(s: String): Any = if (tags.head == "string") s else BigDecimal(s)
        def lt(a: Any, b: Any): Boolean = (a, b) match {
          case (x: String, y: String) => x < y
          case (x: BigDecimal, y: BigDecimal) => x < y
        }
        Some(chain -> files0.map { case (b, fs) =>
          val ranged = fs.map { f =>
            val (_, lo, hi) = f.stats(lead)
            (key(lo), key(hi), f)
          }.sortWith((x, y) => lt(x._1, y._1))
          ranged.sliding(2).foreach {
            case Seq(a, c) => require(lt(a._2, c._1), "overlapping lead ranges")
            case _ =>
          }
          b -> ranged.map(_._3)
        })
      }.getOrElse(None)
    }
  }

  override def outputOrdering(): Array[
      org.apache.spark.sql.connector.expressions.SortOrder] =
    orderClaim.fold(Array.empty[org.apache.spark.sql.connector.expressions.SortOrder]) {
      case (chain, _) => chain.toArray.map(c =>
        Expressions.sort(Expressions.column(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
    }

  /** Mutated ONLY by [[filter]] (Spark's runtime-filtering hook, called
    * on the driver before partition planning at execution). Seeded with
    * the ordering claim's re-sorted file lists when one holds.
    * Protected for the CoW subclass ([[GraftSpjCowScan]]), whose
    * runtime filtering re-expands survivors to whole entries. */
  @volatile protected var files: Map[Int, Seq[SpjFile]] =
    orderClaim.fold(files0)(_._2)

  private[graft] def plannedFileCount: Int = files.valuesIterator.map(_.size).sum

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftSpj ${layout.spec.mkString("/")} $plannedFileCount files" +
      (if (pushed.isEmpty) "" else s" PushedFilters: [${pushed.mkString(", ")}]") +
      (if (claimed.isEmpty) "" else s" ClaimedFilters: [${claimed.mkString(", ")}]") +
      limit.fold("")(n => s" PushedLimit: $n") +
      topN.fold("")(t => s" PushedTopN: [$t]")

  /** Exact post-pruning statistics from the ledgers, so the planner
    * sizes this side honestly: a small (or well-pruned) SPJ table
    * auto-broadcasts instead of hiding behind the v2 default estimate.
    * Row counts are reported only for an unfiltered scan — with
    * residual predicates the true cardinality is lower, and a too-big
    * row estimate is the safe direction only for sizes, not rows. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val fs = files.valuesIterator.flatten.toSeq
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(math.max(1L, fs.map(_.length).sum))
    override def numRows(): java.util.OptionalLong =
      // CLAIMED identity filters keep the count exact: every kept
      // file's rows all match, non-matching dirs were emptied
      if (pushed.forall(claimed.contains) && limit.isEmpty && topN.isEmpty &&
        !layout.tombstoned && fs.forall(_.rows.isDefined))
        java.util.OptionalLong.of(fs.map(_.rows.get).sum)
      else java.util.OptionalLong.empty()
  }

  /** RUNTIME filtering (dynamic partition pruning, DSv2 shape): when
    * this scan joins a filtered dim on the bucket column, Spark ships
    * the dim's key set here before execution. The keys map through the
    * layout hash to their buckets — every other bucket's files drop —
    * and each surviving file is additionally range-checked against its
    * stats bounds. The partition STRUCTURE is untouched (all n buckets
    * still plan, pruned ones empty), so SPJ co-partition alignment and
    * [[outputPartitioning]] stay valid; only I/O shrinks. At 100 TB
    * this is the join-shaped twin of static bucket pruning: a
    * dim-filtered fact scan reads O(matching buckets), not the fact.
    * Only PROJECTED key columns are offered: Spark resolves the
    * attributes against the scan's output, and a pruned-away bucket
    * column (a join on another key) would fail that resolution. */
  override def filterAttributes(): Array[
      org.apache.spark.sql.connector.expressions.NamedReference] =
    (layout.identityCol.toSeq ++ layout.bucketLevel.map(_._2)).distinct
      .filter(required.fieldNames.contains)
      .map(Expressions.column).toArray

  override def filter(filters: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    // each recognized predicate yields (stat-comparable value,
    // canonical string) per key; unrecognized shapes or unmappable
    // types drop the whole predicate — prune nothing. Each LEVEL
    // prunes its own component: identity values match the key dirs,
    // bucket values map through the layout hash (a null partition
    // never matches an IN semijoin key set).
    val idSets = layout.identityCol.toSeq.flatMap { ic =>
      filters.toSeq.flatMap(SpjPruning.runtimeInValues(_, ic))
        .map(vs => SpjPruning.identityIndicesIn(
          layout.identityKeys.get, vs.map(_._2).toSet))
    }
    val bkSets = layout.bucketLevel.toSeq.flatMap { case (n, k) =>
      filters.toSeq.flatMap(SpjPruning.runtimeInValues(_, k))
        .map(_.map(p => SpjPruning.bucketOf(p._2, n)).toSet)
    }
    // stats re-check rides only on columns present IN the files (an
    // identity column isn't — its pruning is the dir match above)
    val inFilters = layout.bucketLevel.toSeq.flatMap { case (_, k) =>
      filters.toSeq.flatMap(SpjPruning.runtimeInValues(_, k))
        .map(vs => org.apache.spark.sql.sources.In(k, vs.map(_._1).toArray))
    }
    if (idSets.isEmpty && bkSets.isEmpty) return
    val idAllowed = idSets.reduceOption(_ intersect _)
    val bkAllowed = bkSets.reduceOption(_ intersect _)
    files = files.map { case (b, fs) =>
      b -> (if (!layout.keepPartition(b, idAllowed, bkAllowed)) Seq.empty[SpjFile]
      else fs.filter(f => inFilters.forall(SpjPruning.mayMatch(f.stats, _))))
    }
  }

  /** The contract that deletes the Exchange: each scan partition IS
    * one partition of the layout, keyed by its transform values —
    * (identity value), (bucket number), or (identity, bucket) for the
    * two-level fact shape. DEGRADED flat-group layouts (mixed specs)
    * claim nothing: their indices are arbitrary file groups. */
  override def outputPartitioning(): Partitioning =
    if (layout.flatGroups)
      new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(
        layout.nParts)
    else new KeyGroupedPartitioning(
      (SpjTransforms.outer(layout).toSeq ++
        layout.identityCol.map(Expressions.identity) ++
        layout.bucketLevel.map { case (n, k) => Expressions.bucket(n, k) }).toArray,
      layout.nParts)

  /** All partitions, in layout order, EMPTY ones included — both
    * join sides must present identical partition-value sets or the
    * planner falls back to a shuffle (identity sides with disjoint
    * value sets need `v2.bucketing.pushPartValues.enabled`). */
  override def planInputPartitions(): Array[InputPartition] =
    (0 until layout.nParts).map { i =>
      GraftBucketPartition(
        layout.identityKeyAt(i).map(_._2).toSeq ++ layout.bucketAt(i),
        files.getOrElse(i, Seq.empty).toArray)
    }.toArray

  /** The reader function is Spark's own parquet reader, built ONCE on
    * the driver (it broadcasts the hadoop conf internally and is
    * designed to ship to executors — the same mechanism FileSourceScan
    * uses), so per-file reading gets predicate-free footer decode,
    * column pruning and the vectorized path for free. Identity layouts
    * read files that DON'T contain the partition column (Hive dirs
    * strip it) — its value rides `partitionSchema`/`partitionValues`
    * through the same reader, then a projection restores the pruned
    * column order Spark asked for. */
  override def createReaderFactory(): PartitionReaderFactory = {
    // a BATCH read naming `_change_type` serves the constant `insert`
    // (a snapshot IS its inserts): the inner factory reads the data
    // columns, the wrapper splices the tag at the requested ordinal
    val ctIdx = required.fieldNames.indexWhere(_ == SpjMetaColumns.ChangeType)
    if (ctIdx < 0) SpjReaders.factory(layout, required, pushed)
    else {
      val dataRequired = StructType(
        required.fields.zipWithIndex.filter(_._2 != ctIdx).map(_._1))
      new GraftSpjTagFactory(
        SpjReaders.factory(layout, dataRequired, pushed), ctIdx,
        required.length, "insert", dataRequired.fields.map(_.dataType))
    }
  }

  /** Micro-batch streaming of the catalog table —
    * `spark.readStream.table("cat.t")`; see [[GraftSpjMicroBatchStream]]. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // the micro-batch planners read dirs by snapshot interval and do
    // NOT apply claimed filters; a claimed filter reaching a stream
    // would silently drop enforcement -- refuse loudly (Spark's
    // streaming plans keep filters residual today, so this is a
    // tripwire, not a path)
    require(claimed.isEmpty,
      s"claimed-exact filters cannot serve a streaming read: $claimed")
    streamInfo match {
      case Some((root, table, branch)) if cdc =>
        new GraftSpjCdcMicroBatchStream(root, table, branch, required)
      case Some((root, table, branch)) =>
        new GraftSpjMicroBatchStream(root, table, branch, required,
          skipDeleteSnapshots)
      case None => throw new UnsupportedOperationException(
        "this scan cannot stream (row-level operation scans are batch-only)")
    }
  }
}

/** Shared parquet reader-factory construction for the batch scan, the
  * CoW row-level scan and the micro-batch stream. The reader pipeline
  * per file:
  *   parquet decode (pruned physical columns, pushed filters)
  *   → identity-column injection (partition value, files don't store it)
  *   → positional-tombstone skip (recorded row indexes; these dirs read
  *     with ZERO pushed filters so iteration order IS file row order)
  *   → equality-tombstone anti-filter (canonical key-tuple probe
  *     against the broadcast sets, sequence-gated per file)
  *   → conform projection (declared order/types: reverse-renamed
  *     columns, null-filled added columns, up-cast widened types).
  * One reader VARIANT per distinct physical dir shape — a never-
  * evolved, never-tombstoned table builds exactly one, and its
  * pipeline is the bare decode + optional injection of before. */
private[spj] object SpjReaders {
  import org.apache.spark.sql.sources.Filter
  import graft.sources.{SpjDirConform, SpjEqTombstone, SpjEqTombstoneFiles, SpjPosTombstone, SpjPosTombstoneFiles}

  def factory(layout: SpjLayout, required: StructType,
      pushed: Seq[Filter]): PartitionReaderFactory = {
    val spark = SparkSession.active
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    // row-returning contract: the PartitionReader hands rows to
    // DataSourceRDD (vectorized decode still happens inside the
    // reader; only the hand-off is row-shaped)
    val rowOpt = Map(
      org.apache.spark.sql.execution.datasources.FileFormat.OPTION_RETURNING_BATCH -> "false")
    val idCol = layout.identityCol
    val keyField = layout.identityField
    val eqDels = layout.deletes.collect { case t: SpjEqTombstone => t }
    val posDels = layout.deletes.collect { case t: SpjPosTombstone => t }
    // ABOVE-the-gate positional tombstones: the payload never touched
    // the driver — tasks anti-join their own file's slices executor-
    // side (see [[graft.sources.SpjPosTombstoneFiles]])
    val lazyPos = layout.deletes.collect { case t: SpjPosTombstoneFiles => t }
    // ABOVE-the-gate EQUALITY tombstones (r17): binding is identical
    // to the broadcast subtype's — only WHERE the key set lives
    // differs (per-executor materialization via [[SpjEqKeyCache]]).
    // `eqAll` is the one (seq, keyCols) view the binding code sees;
    // index order matters: broadcast specs first, lazy specs after,
    // so a spec's delIdx resolves bcEq below `eqDels.length` and the
    // lazy loads above it.
    val lazyEq = layout.deletes.collect { case t: SpjEqTombstoneFiles => t }
    val eqAll: Seq[(Long, Seq[(String, DataType)])] =
      eqDels.map(t => (t.seq, t.keyCols)) ++ lazyEq.map(t => (t.seq, t.keyCols))
    def lcEq(a: String, b: String) = a.equalsIgnoreCase(b)

    // ROW-ID metadata columns (`_file`, `_pos` — the Iceberg position
    // shape): virtual, appended by the reader per row, never decoded
    // from parquet. The delta row-level ops key position deletes on
    // them; `_pos` additionally forces zero reader-side filters so the
    // iteration index IS the raw file row index.
    val metaNames: Seq[String] =
      required.fieldNames.toSeq.filter(SpjMetaColumns.Names.contains)
        .filterNot(layout.schema.fieldNames.contains)
    val posRequested = metaNames.contains(SpjMetaColumns.Pos)

    // columns the equality anti-filter needs BEYOND Spark's required
    // set — read alongside, dropped by the final projection
    val extra: Seq[StructField] = eqAll.flatMap(_._2.map(_._1)).distinct
      .filterNot(n => required.fieldNames.contains(n))
      .map(n => layout.schema.fields.find(_.name == n).getOrElse(
        throw new IllegalStateException(
          s"equality-tombstone key column $n is not in the table schema")))
    // the identity value rides along when required OR a tombstone keys
    // on it (it is a partition constant, injected — never in the files)
    val needId = keyField.isDefined && (
      required.fieldNames.contains(idCol.get) ||
        eqAll.exists(_._2.exists(_._1 == idCol.get)))
    val partSchema =
      if (needId) StructType(Seq(keyField.get)) else new StructType()
    // declared data columns to decode, in required order plus extras
    val readDeclared: Seq[StructField] =
      (required.fields.toSeq ++ extra).filterNot(f =>
        idCol.contains(f.name) || metaNames.contains(f.name))

    val dataDirs: Seq[String] =
      layout.files.valuesIterator.flatten.map(_.dataDir).toSeq.distinct.sorted

    // per-dir physical mapping: declared column -> physical file field.
    // `stripped` = the FLAT path's per-dir identity levels this dir's
    // files don't store — their values ride each file's path segment
    // ([[graft.sources.SpjFile.pathVals]]) and re-inject through the
    // reader's partitionValues, exactly like the uniform identity
    // injection (at most one of the two mechanisms is live: uniform
    // layouts have no dirStrips, flat layouts have no identityCol)
    case class DirShape(maps: Seq[(StructField, Option[StructField])],
        noFilters: Boolean, fileSchema: StructType,
        stripped: Seq[StructField], renames: Seq[(String, String)])
    def shapeOf(dir: String): DirShape = {
      val conform: Option[SpjDirConform] = layout.dirConforms.get(dir)
      // any positional tombstone outranking the dir (broadcast OR
      // lazy) forces filter-free reads: iteration order must be the
      // raw file row order for the index anti-join to be sound
      val noFilters = posRequested ||
        posDels.exists(_.seq > graft.sources.SpjFile.seqOfDir(dir)) ||
        lazyPos.exists(_.seq > graft.sources.SpjFile.seqOfDir(dir))
      val stripNames = layout.dirStrips.getOrElse(dir, Nil)
      val fileFields: Seq[StructField] = conform match {
        case None => layout.schema.fields.toSeq.filterNot(f =>
          idCol.contains(f.name) || stripNames.exists(lcEq(_, f.name)))
        case Some(c) =>
          c.physFileSchema.fields.toSeq.filterNot(f =>
            idCol.exists(lcEq(_, f.name)) || stripNames.exists(lcEq(_, f.name)))
      }
      val renames = conform.map(_.renames).getOrElse(Seq.empty)
      // a dir's physical name for a DECLARED column: walk the renames
      // committed after the dir backwards (from -> to chains invert)
      def physNameOf(declared: String): String =
        renames.reverse.foldLeft(declared) { case (cur, (from, to)) =>
          if (lcEq(to, cur)) from else cur
        }
      // only the strips the QUERY needs inject (required or tombstone
      // keys — the same set readDeclared carries), in declared order
      val stripped = readDeclared.filter(f => stripNames.exists(lcEq(_, f.name)))
      DirShape(readDeclared.map { f =>
        val pn = physNameOf(f.name)
        f -> (if (stripNames.exists(lcEq(_, f.name))) None
        else fileFields.find(ff => lcEq(ff.name, pn)))
      }, noFilters, StructType(fileFields), stripped, renames)
    }
    val dirShapes: Map[String, DirShape] = dataDirs.map(d => d -> shapeOf(d)).toMap
    // `renames` joins the key: two dirs with IDENTICAL physical file
    // schemas can still need DIFFERENT struct conforms when a nested
    // rename was committed between them (top-level maps don't see it)
    def keyOf(s: DirShape)
        : (Seq[(String, Option[StructField])], Boolean, String, Seq[String],
           Seq[(String, String)]) =
      (s.maps.map { case (d, p) => (d.name, p) }, s.noFilters, s.fileSchema.json,
        s.stripped.map(_.name), s.renames)
    val variantKeys = dataDirs.map(d => keyOf(dirShapes(d))).distinct
    val variantIdx: Map[String, Int] =
      dataDirs.map(d => d -> variantKeys.indexOf(keyOf(dirShapes(d)))).toMap

    val variants: Array[SpjReadVariant] = variantKeys.map { vk =>
      val rep = dataDirs.find(d => keyOf(dirShapes(d)) == vk).get
      val DirShape(maps, noFilters, fileSchema, stripped, dirRenames) = dirShapes(rep)
      val physRequired = StructType(maps.flatMap(_._2))
      // filters ride into the parquet reader only when they resolve
      // UNCHANGED in this dir (same name, same type — a renamed or
      // widened column's filter stays residual-only for it), never for
      // positional-tombstoned dirs (row order must be preserved), and
      // never naming the identity column (partition pruning applied it)
      val dirFilters: Seq[Filter] =
        if (noFilters) Seq.empty
        else pushed.filter(_.references.forall { r =>
          !idCol.contains(r) && maps.exists { case (d, p) =>
            d.name == r && p.exists(pf => pf.name == r && pf.dataType == d.dataType)
          }
        })
      // the variant's injected columns: the global identity field (its
      // value is the partition key) plus this dir's stripped levels
      // (their values ride each file's pathVals)
      val partSchemaV = StructType(partSchema.fields ++ stripped)
      // a FRESH Configuration per variant: buildReaderWithPartitionValues
      // embeds the requested schema into the conf it is handed — two
      // variants sharing one conf would clobber each other's projection
      val conf: Configuration = spark.sessionState.newHadoopConf()
      val readerFn = new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, fileSchema, partSchemaV, physRequired, dirFilters, rowOpt, conf)
      val outBase = StructType(physRequired.fields ++ partSchemaV.fields)
      // row-id metadata fields append LAST (the reader joins them on);
      // the eq-tombstone ordinals below reference the base prefix only
      val outSchema =
        if (metaNames.isEmpty) outBase
        else StructType(outBase.fields ++ SpjMetaColumns.Fields)
      def stripOrd(name: String): Int = {
        val si = stripped.indexWhere(sf => lcEq(sf.name, name))
        if (si < 0) -1 else physRequired.length + partSchema.fields.length + si
      }
      // final projection source ordinals in `out`, -1 = null-fill
      val srcOrdinals: Array[Int] = required.fields.map { f =>
        if (metaNames.contains(f.name))
          outBase.length + SpjMetaColumns.Names.indexOf(f.name)
        else if (idCol.contains(f.name)) physRequired.length
        else if (stripOrd(f.name) >= 0) stripOrd(f.name)
        else {
          val mi = maps.indexWhere(_._1.name == f.name)
          if (maps(mi)._2.isEmpty) -1
          else maps.take(mi).count(_._2.isDefined)
        }
      }
      // equality-tombstone key ordinals/types in `out` (PHYSICAL types —
      // [[SpjLayout.canonKey]] widens them into the same canonical
      // domain the layout gate proved against the declared schema). A
      // dir written BEFORE a key column was ADDED has no physical field
      // for it: every row in that dir reads NULL there, so the key
      // binds as a null literal (ordinal -1) — a tombstone tuple with
      // NULL in that slot null-safely matches, exactly as the ordinary
      // path's `<=>` anti-join does over the aligned (null-filled) dir.
      val eqSpecs: Array[SpjEqSpec] = eqAll.zipWithIndex.map { case ((tseq, tkeyCols), di) =>
        val binds = tkeyCols.map { case (n, _) =>
          if (idCol.contains(n)) (physRequired.length, keyField.get.dataType)
          else if (stripOrd(n) >= 0)
            (stripOrd(n), stripped(stripped.indexWhere(sf => lcEq(sf.name, n))).dataType)
          else {
            val mi = maps.indexWhere(_._1.name == n)
            require(mi >= 0,
              s"equality-tombstone key $n unresolvable in dir $rep")
            // a DEFAULTED added column reads its default in old dirs,
            // not NULL — the null-literal bind would silently miss;
            // refuse (compact() materializes the deletes)
            require(maps(mi)._2.nonEmpty ||
              graft.sources.ColumnDefaults.existsSql(maps(mi)._1).isEmpty,
              s"equality-tombstone key $n has a DEFAULT and dir $rep predates " +
                "the ADD — compact() to materialize the deletes first")
            if (maps(mi)._2.isEmpty) (-1, NullType) // dir predates the ADD
            else (maps.take(mi).count(_._2.isDefined), maps(mi)._2.get.dataType)
          }
        }
        SpjEqSpec(tseq, di, binds.map(_._1).toArray, binds.map(_._2).toArray)
      }.toArray
      SpjReadVariant(readerFn, outSchema, srcOrdinals, eqSpecs,
        metaAppended = metaNames.nonEmpty, stripped = stripped.toArray,
        renames = dirRenames)
    }.toArray

    // tombstone payloads ship ONCE per executor (broadcast), not per
    // task closure — deleted-row-sized by the MoR write contract and
    // gated by spjTombstones (above the gate, positional payloads stay
    // on disk: only slice paths + bounds ship, via the factory itself)
    val sc = spark.sparkContext
    val bcEq = if (eqDels.isEmpty) null
      else sc.broadcast(eqDels.map(_.keys).toArray)
    val bcPos = if (posDels.isEmpty) null
      else sc.broadcast(posDels.map(t => (t.seq, t.byFile)).toArray)
    // one reader function for the position-delete slices, built on the
    // driver like the data variants' (it broadcasts its conf and ships)
    val lazyReaderFn: PartitionedFile => Iterator[InternalRow] =
      if (lazyPos.isEmpty) null
      else new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, GraftSpjDeltaWrite.PosSchema, new StructType(),
        GraftSpjDeltaWrite.PosSchema, Seq.empty, rowOpt,
        spark.sessionState.newHadoopConf())
    // ABOVE-GATE equality tombstones ship as load descriptors: slices
    // + recorded key types + a per-tombstone parquet reader (each dir
    // keeps its own write-time key schema). The key SET materializes
    // executor-side, once per JVM ([[SpjEqKeyCache]]); delIdx order in
    // eqSpecs puts these after the `eqDels.length` broadcast sets.
    val lazyEqLoads: Array[SpjEqLazyLoad] = lazyEq.map { t =>
      SpjEqLazyLoad(t.slices, t.fileSchema.fields.map(_.dataType),
        new ParquetFileFormat().buildReaderWithPartitionValues(
          spark, t.fileSchema, new StructType(), t.fileSchema, Seq.empty,
          rowOpt, spark.sessionState.newHadoopConf()))
    }.toArray
    new GraftSpjReaderFactory(variants, variantIdx, required,
      keyed = partSchema.nonEmpty, tz, bcEq, bcPos,
      lazyPos.map(t => (t.seq, t.slices)), lazyReaderFn,
      nBcEq = eqDels.length, lazyEq = lazyEqLoads)
  }
}

/** One planned scan partition: `keys` are the partition-transform
  * values Spark co-locates on, in [[GraftSpjTable.partitioning]]
  * order — (identity value), (bucket number), or (identity, bucket).
  * The identity value, when present, is FIRST (the reader injects it
  * into rows). */
private[graft] case class GraftBucketPartition(keys: Seq[Any], files: Array[SpjFile])
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = InternalRow.fromSeq(keys)
}

/** The row-id metadata columns every SPJ table exposes (unless a data
  * column shadows the name): `_file` the absolute data file path in
  * URL-ENCODED SparkPath form — bit-identical to what
  * `_metadata.file_path` yields for the same file on the ordinary read
  * path (NOT Hadoop `Path.toString`, which leaves e.g. spaces
  * unencoded), so position deletes keyed on it anti-join there with
  * plain string equality — and `_pos` the raw row index within the
  * file. The delta row-level operations use them as the row id. */
private[graft] object SpjMetaColumns {
  val File = "_file"
  val Pos = "_pos"
  val Names: Seq[String] = Seq(File, Pos)
  val Fields: Array[StructField] = Array(
    StructField(File, StringType, nullable = false),
    StructField(Pos, LongType, nullable = false))
  /** The CDC tag metadata column (r15): `insert` | `delete`. Batch
    * reads serve the constant `insert`; the CDC micro-batch stream
    * ([[GraftSpjCdcMicroBatchStream]]) tags per leg. */
  val ChangeType = "_change_type"
  val ChangeTypeField: StructField =
    StructField(ChangeType, StringType, nullable = false)
}

/** One reader variant: the parquet decode function for one physical
  * dir shape, its output schema (pruned physical columns, injected
  * identity/strip columns LAST, row-id metadata fields after that when
  * requested), the final-projection source ordinals (-1 = null-fill an
  * added column) and the equality-tombstone bindings. `stripped` names
  * the FLAT path's per-dir identity levels whose values ride each
  * file's path segments — the reader decodes them into the per-file
  * partitionValues row. */
private[spj] case class SpjReadVariant(
    readerFn: PartitionedFile => Iterator[InternalRow],
    outSchema: StructType, srcOrdinals: Array[Int], eqSpecs: Array[SpjEqSpec],
    metaAppended: Boolean = false,
    stripped: Array[StructField] = Array.empty,
    renames: Seq[(String, String)] = Seq.empty)

/** Equality-tombstone key binding within a variant's output rows:
  * `delIdx` indexes the broadcast key-set array below the factory's
  * `nBcEq`, the lazy load descriptors (minus `nBcEq`) at or above. */
private[spj] case class SpjEqSpec(seq: Long, delIdx: Int,
    ords: Array[Int], types: Array[DataType])

/** One ABOVE-GATE equality tombstone's executor-side load materials
  * (r17): the tombstone dir's parquet slices, the RECORDED key types
  * (the canonicalization domain — [[SpjLayout.canonKey]] widens both
  * the tombstone rows and the probed data rows into one comparable
  * image) and the parquet reader that opens the slices. Ships in the
  * reader factory; the key payload stays on disk until a task needs
  * it ([[SpjEqKeyCache.keysOf]]). */
private[graft] case class SpjEqLazyLoad(
    slices: Seq[(String, Long)],
    keyTypes: Array[DataType],
    readerFn: PartitionedFile => Iterator[InternalRow]) {
  /** Stable payload identity: tombstone dirs are write-once, so the
    * sorted slice-path set plus total bytes identify the key set
    * across factories, queries and stream micro-batches. */
  lazy val cacheKey: (String, Long) =
    (slices.map(_._1).sorted.mkString("\n"), slices.map(_._2).sum)
}

/** Compact probe-only image of one equality tombstone's key set —
  * what [[SpjEqKeyCache]] materializes per executor. Keys arrive as
  * [[SpjLayout.canonKey]] tuples on both sides (load and probe), so a
  * representation only has to be exact over the canonical domain. */
private[graft] sealed trait SpjKeySet {
  def contains(key: Seq[Any]): Boolean
  def size: Int
  /** Approximate retained heap bytes — the cache's budget currency. */
  def bytes: Long
}

/** Single LONG-domain key column (integral/date/timestamp canonical
  * families): a sorted deduplicated primitive array + binary-search
  * probe. 8 bytes/key, zero boxing — the representation a 100 TB
  * table's billion-row tombstone needs. */
private[graft] final class SpjLongKeySet(sorted: Array[Long], hasNull: Boolean)
    extends SpjKeySet {
  def contains(key: Seq[Any]): Boolean = key.head match {
    case null => hasNull
    case l: Long => java.util.Arrays.binarySearch(sorted, l) >= 0
    case _ => false
  }
  def size: Int = sorted.length + (if (hasNull) 1 else 0)
  def bytes: Long = 32L + 8L * sorted.length
}

/** Single STRING key column: sorted deduplicated array, natural-order
  * binary search. */
private[graft] final class SpjStringKeySet(sorted: Array[String],
    hasNull: Boolean, val bytes: Long) extends SpjKeySet {
  def contains(key: Seq[Any]): Boolean = key.head match {
    case null => hasNull
    case s: String =>
      java.util.Arrays.binarySearch(
        sorted.asInstanceOf[Array[AnyRef]], s) >= 0
    case _ => false
  }
  def size: Int = sorted.length + (if (hasNull) 1 else 0)
}

/** Fallback for multi-column / boolean / double / decimal keys: one
  * flat tuple array sorted by hash code, probed by binary search on
  * the hash then an equal-hash run scan. Still several-fold smaller
  * than a hash set (no table, no node objects), structurally exact
  * (`Seq` equality over canonical values). */
private[graft] final class SpjGenericKeySet(hashes: Array[Int],
    tuples: Array[Seq[Any]], val bytes: Long) extends SpjKeySet {
  def size: Int = tuples.length
  def contains(key: Seq[Any]): Boolean = {
    val h = key.hashCode()
    var i = java.util.Arrays.binarySearch(hashes, h)
    if (i < 0) return false
    while (i > 0 && hashes(i - 1) == h) i -= 1
    while (i < hashes.length && hashes(i) == h) {
      if (tuples(i) == key) return true
      i += 1
    }
    false
  }
}

/** Per-EXECUTOR materialized key sets for ABOVE-GATE equality
  * tombstones: N tasks on one executor pay ONE slice read per
  * tombstone (single-flight via an in-flight future map), the
  * representation is compact ([[SpjLongKeySet]] primitive arrays for
  * the dominant integral/date/timestamp single-key shape —
  * 8 bytes/key instead of a boxed-tuple hash set), and the cache is
  * BYTE-BOUNDED (r18): total retained bytes stay under
  * `spark.graft.spj.eq-key-cache-bytes` (default 512 MiB) by LRU
  * eviction — an evicted set reloads on next probe (correct, just
  * re-priced). A SINGLE tombstone whose key set alone exceeds the
  * budget fails LOUDLY at load with the documented exit
  * (`CALL system.rewrite_position_deletes`) named, instead of
  * OOMing mid-task. The driver never holds a key on this path.
  *
  * The budget reads a system property first (executors in a real
  * cluster receive `spark.executor.extraJavaOptions -D` flags; local
  * mode shares the driver JVM), then the SparkEnv conf. */
private[graft] object SpjEqKeyCache {
  private[graft] val BudgetKey = "spark.graft.spj.eq-key-cache-bytes"
  private val DefaultBudgetBytes = 512L << 20

  private[graft] def budgetBytes: Long =
    Option(System.getProperty(BudgetKey))
      .orElse(Option(org.apache.spark.SparkEnv.get)
        .flatMap(_.conf.getOption(BudgetKey)))
      .map(_.toLong).getOrElse(DefaultBudgetBytes)

  // access-ordered for LRU; all mutation under `sets.synchronized`
  private val sets =
    new java.util.LinkedHashMap[(String, Long), SpjKeySet](8, 0.75f, true)
  private var retained = 0L
  private val inflight = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), java.util.concurrent.CompletableFuture[SpjKeySet]]()
  /** Materializations actually performed (test hook: proves N tasks
    * share one load). */
  private[graft] val loads = new java.util.concurrent.atomic.AtomicLong()
  /** Current retained bytes (test hook). */
  private[graft] def cachedBytes: Long = sets.synchronized(retained)

  private def overBudget(bytes: Long, budget: Long, load: SpjEqLazyLoad): Nothing =
    throw new IllegalStateException(
      s"equality-tombstone key set needs >$bytes bytes materialized per executor, " +
        s"over the $BudgetKey budget of $budget — " +
        "CALL system.rewrite_position_deletes('<table>') to convert the " +
        "equality deletes to positional form (served slice-local, never " +
        s"materialized), or raise the budget. Tombstone slices: " +
        load.slices.map(_._1).take(3).mkString(", "))

  /** Build the compact representation for `load`, aborting loudly the
    * moment accumulation crosses `budget`. */
  private def materialize(load: SpjEqLazyLoad, budget: Long): SpjKeySet = {
    val rows: Iterator[InternalRow] = load.slices.iterator.flatMap {
      case (sp, slen) =>
        load.readerFn(PartitionedFile(InternalRow.empty,
          SparkPath.fromPathString(sp), 0L, slen,
          Array.empty[String], 0L, slen, Map.empty))
          .asInstanceOf[Iterator[Any]]
          .flatMap {
            case cb: ColumnarBatch => cb.rowIterator().asScala
            case r: InternalRow => Iterator.single(r)
          }
    }
    val built: SpjKeySet = load.keyTypes match {
      case Array(dt @ (ByteType | ShortType | IntegerType | LongType |
          DateType | TimestampType)) =>
        var arr = new Array[Long](1024)
        var n = 0
        var hasNull = false
        rows.foreach { r =>
          if (r.isNullAt(0)) hasNull = true
          else {
            if (n == arr.length) {
              if (16L + 16L * n > budget) overBudget(8L * n, budget, load)
              arr = java.util.Arrays.copyOf(arr, n * 2)
            }
            // primitive read mirroring canonKey's integral widening
            arr(n) = dt match {
              case LongType | TimestampType => r.getLong(0)
              case IntegerType | DateType => r.getInt(0).toLong
              case ShortType => r.getShort(0).toLong
              case ByteType => r.getByte(0).toLong
            }
            n += 1
          }
        }
        java.util.Arrays.sort(arr, 0, n)
        var w = 0
        var i = 0
        while (i < n) { // dedupe in place (slices may repeat a key)
          if (w == 0 || arr(w - 1) != arr(i)) { arr(w) = arr(i); w += 1 }
          i += 1
        }
        new SpjLongKeySet(java.util.Arrays.copyOf(arr, w), hasNull)
      case Array(StringType) =>
        val b = scala.collection.mutable.ArrayBuffer.empty[String]
        var est = 0L
        var hasNull = false
        rows.foreach { r =>
          if (r.isNullAt(0)) hasNull = true
          else {
            val s = r.getUTF8String(0).toString
            est += 48L + 2L * s.length
            if (est > budget) overBudget(est, budget, load)
            b += s
          }
        }
        val arr = b.toArray
        java.util.Arrays.sort(arr.asInstanceOf[Array[AnyRef]])
        var w = 0
        var i = 0
        var bytes = 32L
        while (i < arr.length) {
          if (w == 0 || arr(w - 1) != arr(i)) {
            arr(w) = arr(i); bytes += 48L + 2L * arr(i).length; w += 1
          }
          i += 1
        }
        new SpjStringKeySet(java.util.Arrays.copyOf(
          arr.asInstanceOf[Array[AnyRef]], w).asInstanceOf[Array[String]],
          hasNull, bytes)
      case kts =>
        val b = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
        var est = 0L
        rows.foreach { r =>
          val tup: Seq[Any] = kts.indices.map(i =>
            SpjLayout.canonKey(kts(i), r, i)).toVector
          est += 48L + 40L * kts.length // vector + boxed elements, rough
          if (est > budget) overBudget(est, budget, load)
          b += tup
        }
        val distinct = b.distinct
        val perTuple = 48L + 40L * kts.length
        val pairs = distinct.map(t => (t.hashCode(), t)).sortBy(_._1).toArray
        new SpjGenericKeySet(pairs.map(_._1), pairs.map(_._2),
          32L + perTuple * distinct.length)
    }
    // the authoritative single-set bound — the in-flight checks above
    // only fire at growth points, this one always does
    if (built.bytes > budget) overBudget(built.bytes, budget, load)
    built
  }

  def keysOf(load: SpjEqLazyLoad): SpjKeySet = {
    val k = load.cacheKey
    sets.synchronized(Option(sets.get(k))).getOrElse {
      val fut = new java.util.concurrent.CompletableFuture[SpjKeySet]()
      val prev = inflight.putIfAbsent(k, fut)
      if (prev != null) prev.join()
      else try {
        loads.incrementAndGet()
        val budget = budgetBytes
        val s = materialize(load, budget)
        sets.synchronized {
          if (!sets.containsKey(k)) {
            sets.put(k, s)
            retained += s.bytes
            // evict LRU until back under budget — never the set a
            // task is about to probe
            val it = sets.entrySet().iterator()
            while (retained > budget && sets.size() > 1 && it.hasNext) {
              val e = it.next()
              if (e.getKey != k) { retained -= e.getValue.bytes; it.remove() }
            }
          }
        }
        fut.complete(s)
        s
      } catch {
        // a failed load must not poison the key: joiners see the
        // failure, the next task retries fresh
        case e: Throwable => fut.completeExceptionally(e); throw e
      } finally inflight.remove(k)
    }
  }

  private[graft] def clear(): Unit =
    sets.synchronized { sets.clear(); retained = 0L }
}

private[spj] class GraftSpjReaderFactory(
    variants: Array[SpjReadVariant], variantIdx: Map[String, Int],
    required: StructType, keyed: Boolean, tz: String,
    bcEq: org.apache.spark.broadcast.Broadcast[Array[Set[Seq[Any]]]],
    bcPos: org.apache.spark.broadcast.Broadcast[Array[(Long, Map[String, Array[Long]])]],
    lazyPos: Seq[(Long, Seq[(String, Long, Option[(String, String)])])] = Seq.empty,
    lazyReaderFn: PartitionedFile => Iterator[InternalRow] = null,
    nBcEq: Int = 0,
    lazyEq: Array[SpjEqLazyLoad] = Array.empty)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Literal, UnsafeProjection}
    val p = partition.asInstanceOf[GraftBucketPartition]
    val pv = if (keyed) InternalRow(p.keys.head) else InternalRow.empty
    // per-variant final projection, built lazily once per task; null =
    // rows already match `required` bit-for-bit (the common fast path
    // hands the vectorized row view through un-copied)
    val projs = new Array[Option[UnsafeProjection]](variants.length)
    def projOf(vi: Int): Option[UnsafeProjection] = {
      if (projs(vi) == null) {
        val v = variants(vi)
        projs(vi) =
          if (!v.metaAppended && v.outSchema == required &&
            v.srcOrdinals.zipWithIndex.forall { case (o, i) => o == i }) None
          else Some(UnsafeProjection.create(
            required.fields.toIndexedSeq.zip(v.srcOrdinals.toIndexedSeq).map {
              case (f, ord) =>
                // a dir written before the column reads its
                // EXISTS_DEFAULT when declared, else a typed NULL
                if (ord < 0) graft.sources.ColumnDefaults.fillExpr(f, tz)
                else {
                  val srcT = v.outSchema.fields(ord).dataType
                  val src = BoundReference(ord, srcT, nullable = true)
                  if (srcT == f.dataType) src
                  else (srcT, f.dataType) match {
                    // physical struct shape differs (nested evolution,
                    // array-element evolution, or a nested-pruned
                    // required type): conform BY NAME — a Cast resolves
                    // struct fields POSITIONALLY, which is exactly
                    // wrong when names moved
                    case (p: org.apache.spark.sql.types.StructType,
                          d: org.apache.spark.sql.types.StructType) =>
                      graft.sources.NestedSchema.conformExpr(
                        src, p, d, f.name, v.renames, tz)
                    case (p, d) if graft.sources.NestedSchema.structConform(p, d) =>
                      graft.sources.NestedSchema.conformExpr(
                        src, p, d, f.name, v.renames, tz)
                    case _ => Cast(src, f.dataType, Some(tz))
                  }
                }
            }))
      }
      projs(vi)
    }
    val rows: Iterator[InternalRow] = p.files.iterator.flatMap { f =>
      val vi = variantIdx(f.dataDir)
      val v = variants(vi)
      // the per-FILE partition-values row: the uniform identity value
      // (a partition constant) plus any FLAT-path strip columns this
      // dir's files don't store, decoded from the file's own path
      // segments — the same decode the uniform identity keys take
      val pvF =
        if (v.stripped.isEmpty) pv
        else InternalRow.fromSeq(
          (if (keyed) Seq(p.keys.head) else Nil) ++
            v.stripped.toSeq.map { sf =>
              val raw = f.pathVals.find(_._1.equalsIgnoreCase(sf.name))
                .getOrElse(throw new IllegalStateException(
                  s"${f.path} carries no path value for stripped column ${sf.name}"))
                ._2
              graft.sources.SpjLayout.decodeIdentity(sf.dataType, raw)._2
            })
      // the vectorized reader hands back ColumnarBatch under an
      // InternalRow-typed iterator (the FileScanRDD convention) —
      // flatten batches to their row view, exactly as ColumnarToRow does
      var it: Iterator[InternalRow] =
        v.readerFn(PartitionedFile(pvF, SparkPath.fromPathString(f.path),
          0L, f.length, Array.empty[String], 0L, f.length, Map.empty))
          .asInstanceOf[Iterator[Any]]
          .flatMap {
            case b: ColumnarBatch => b.rowIterator().asScala
            case r: InternalRow => Iterator.single(r)
          }
      // RAW row index, counted before any filtering (meta variants
      // read with zero pushed filters, so the pull-model pipeline
      // keeps rawIdx current for the row in flight at every stage)
      var rawIdx = -1L
      if (v.metaAppended) it = it.map { r => rawIdx += 1; r }
      // POSITIONAL tombstones: drop recorded row indexes. Sound only
      // because tombstoned dirs read with zero pushed filters — the
      // iteration index IS the file row index. BOTH representations
      // (driver-broadcast under the gate, on-disk slices above it)
      // fold into ONE set so a single index counter filters once.
      if (bcPos != null || lazyPos.nonEmpty) {
        val dirSeq = f.dirSeq
        val set = new java.util.HashSet[java.lang.Long]()
        if (bcPos != null) {
          val norm = new org.apache.hadoop.fs.Path(f.path).toString
          bcPos.value.iterator
            .filter(_._1 > dirSeq).flatMap(_._2.get(norm)).flatten
            .foreach(set.add(_))
        }
        // lazy slices: open only those whose recorded-`__file` footer
        // bounds admit THIS file (slices are naturally file-clustered
        // — the writers derive positions per scan task), filter to
        // exact matches on the URL-encoded path both writers record.
        // The bounds compare in the STATS' domain — unsigned UTF-8
        // bytes via UTF8String — not Java String (UTF-16 code unit)
        // order: Path.toUri leaves non-ASCII unencoded, and the two
        // orders diverge past the BMP, which would wrongly prune a
        // slice and resurrect deleted rows.
        if (lazyPos.exists(_._1 > dirSeq)) {
          val enc = SparkPath.fromPathString(f.path).urlEncoded
          val encU = org.apache.spark.unsafe.types.UTF8String.fromString(enc)
          def u8(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
          lazyPos.iterator.filter(_._1 > dirSeq).flatMap(_._2).foreach {
            case (sp, slen, bounds)
                if bounds.forall { case (lo, hi) =>
                  u8(lo).compareTo(encU) <= 0 && encU.compareTo(u8(hi)) <= 0 } =>
              lazyReaderFn(PartitionedFile(InternalRow.empty,
                SparkPath.fromPathString(sp), 0L, slen,
                Array.empty[String], 0L, slen, Map.empty))
                .asInstanceOf[Iterator[Any]]
                .flatMap {
                  case b: ColumnarBatch => b.rowIterator().asScala
                  case r: InternalRow => Iterator.single(r)
                }
                .foreach { r =>
                  if (r.getUTF8String(0) == encU) set.add(r.getLong(1))
                }
            case _ => ()
          }
        }
        if (!set.isEmpty) {
          var idx = -1L
          it = it.filter { _ => idx += 1; !set.contains(idx) }
        }
      }
      // EQUALITY tombstones: null-safe canonical key-tuple probe,
      // sequence-gated (later appends re-insert deleted keys freely).
      // delIdx < nBcEq resolves the driver-broadcast sets; at or
      // above it, the ABOVE-GATE sets — materialized once per
      // executor from the tombstone's own slices (SpjEqKeyCache),
      // resolved per FILE so a partition with no applicable lazy
      // tombstone never triggers a load
      if (v.eqSpecs.nonEmpty) {
        val dirSeq = f.dirSeq
        val applicable = v.eqSpecs.filter(_.seq > dirSeq)
        if (applicable.nonEmpty) {
          val keySets: Array[Seq[Any] => Boolean] =
            applicable.map(e =>
              if (e.delIdx < nBcEq) bcEq.value(e.delIdx)
              else {
                val ks = SpjEqKeyCache.keysOf(lazyEq(e.delIdx - nBcEq))
                (t: Seq[Any]) => ks.contains(t)
              })
          it = it.filter { r =>
            !applicable.indices.exists { ai =>
              val e = applicable(ai)
              val tup: Seq[Any] = e.ords.indices
                .map(i => if (e.ords(i) < 0) null // key column postdates this dir: reads NULL
                else SpjLayout.canonKey(e.types(i), r, e.ords(i))).toVector
              keySets(ai)(tup)
            }
          }
        }
      }
      // row-id metadata join: (_file, _pos) ride a per-file meta row
      // through a JoinedRow into the final projection
      if (v.metaAppended) {
        val meta = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)
        // `_file` carries the URL-ENCODED SparkPath form — the exact
        // string `_metadata.file_path` yields for the same file on the
        // ordinary read path, so position deletes recorded from either
        // surface anti-join on the other with plain string equality
        // (a root with e.g. spaces encodes as %20 there; the raw
        // Hadoop Path.toString form would silently never match)
        meta.update(0, org.apache.spark.unsafe.types.UTF8String.fromString(
          SparkPath.fromPathString(f.path).urlEncoded))
        val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow()
        val proj = projOf(vi).getOrElse(throw new IllegalStateException(
          "metadata-appended reads always project"))
        it.map { r => meta.setLong(1, rawIdx); proj(joined(r, meta)) }
      } else projOf(vi).fold(it)(proj => it.map(proj))
    }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (rows.hasNext) { cur = rows.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}

/** The bucket transform as a catalog V2 function — what lets Spark
  * resolve the `bucket(n,k)` in [[KeyGroupedPartitioning]] to a
  * concrete, comparable expression: two scans are co-partitioned iff
  * their transforms carry the same `canonicalName` and bucket count.
  * The hash is the ENGINE's bucket hash ([[graft.sources.Transforms]]
  * Bucket: `pmod(h62(cast(k AS STRING)), n)`), so `produceResult`
  * agrees bit-for-bit with the directory layout the writer produced —
  * that identity is what makes partially-clustered SPJ correct when
  * Spark evaluates the function on join-key values. */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): pmod(md5_lower64(cast(col AS STRING)) >>> 2, n) — the graft layout hash"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket takes (numBuckets INT, col), got ${inputType.simpleString}")
    inputType.fields(1).dataType match {
      // the same type whitelist as the write-side transform: only
      // session-independent cast-to-string types may feed the hash
      case t @ (StringType | ByteType | ShortType | IntegerType | LongType | DateType) =>
        GraftBucketBound(t)
      case t => throw new UnsupportedOperationException(
        s"bucket() needs a string, integral or date column; got ${t.simpleString}")
    }
  }
}

private[spj] case class GraftBucketBound(keyType: DataType)
  extends ScalarFunction[Integer] {
  override def name(): String = "bucket"
  override def canonicalName(): String = "graft.bucket"
  override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
  override def resultType(): DataType = IntegerType
  override def isResultNullable: Boolean = false

  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    val s = keyType match {
      case StringType => input.getUTF8String(1).toString
      case LongType => input.getLong(1).toString
      case IntegerType => input.getInt(1).toString
      case ShortType => input.getShort(1).toString
      case ByteType => input.getByte(1).toString
      case DateType => java.time.LocalDate.ofEpochDay(input.getInt(1).toLong).toString
      case t => throw new IllegalStateException(s"unbindable key type $t")
    }
    val h = graft.functions.HashImpl.md5Lower64(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8)) >>> 2
    (h % n).toInt
  }
}

/** The outer-level transform of a two-level layout as a V2
  * `Transform` — what [[GraftSpjTable.partitioning]] and the scan's
  * `KeyGroupedPartitioning` report for `days/months/years/hours`
  * outer levels. */
private[spj] object SpjTransforms {
  private val Re = """(\w+)\((.+)\)""".r
  def outer(layout: SpjLayout): Option[Transform] =
    layout.outerTransformSpec.map {
      case Re("days", c) => Expressions.days(c)
      case Re("months", c) => Expressions.months(c)
      case Re("years", c) => Expressions.years(c)
      case Re("hours", c) => Expressions.hours(c)
      case other => throw new IllegalStateException(s"unmapped outer transform $other")
    }
}

/** The calendar transforms as catalog V2 functions — what lets Spark
  * resolve `days(ts)` etc. in [[KeyGroupedPartitioning]]: two scans
  * co-partition iff their transforms bind to the same
  * `canonicalName`. `produceResult` mirrors the WRITE-side derivation
  * bit-for-bit (graft.sources.Transforms: UTC epoch arithmetic,
  * never session-calendar fields), so partially-clustered SPJ and
  * pushed partition values stay correct when Spark evaluates the
  * function on join-key values. */
private[spj] object GraftTimeFunction {
  val Names: Seq[String] = Seq("days", "months", "years", "hours")
  private[spj] val DayMicros = 86400000000L
  private[spj] val HourMicros = 3600000000L
}

private[spj] class GraftTimeFunction(fname: String) extends UnboundFunction {
  override def name(): String = fname
  override def description(): String =
    s"$fname(col): UTC calendar bucket (epoch arithmetic), the graft layout transform"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1,
      s"$fname takes one DATE/TIMESTAMP column, got ${inputType.simpleString}")
    inputType.fields(0).dataType match {
      case t @ (DateType | TimestampType) if fname != "hours" || t == TimestampType =>
        GraftTimeBound(fname, t)
      case t => throw new UnsupportedOperationException(
        s"$fname() needs a ${if (fname == "hours") "timestamp" else "date/timestamp"} " +
          s"column; got ${t.simpleString}")
    }
  }
}

private[spj] case class GraftTimeBound(fname: String, srcType: DataType)
  extends ScalarFunction[java.lang.Long] {
  import GraftTimeFunction.{DayMicros, HourMicros}
  override def name(): String = fname
  override def canonicalName(): String = s"graft.$fname"
  override def inputTypes(): Array[DataType] = Array(srcType)
  override def resultType(): DataType = LongType
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): java.lang.Long = {
    // epoch days: a DATE's internal form IS days; a TIMESTAMP floors
    // its UTC micros — identical to Transforms.epochDays
    def days: Long = srcType match {
      case DateType => input.getInt(0).toLong
      case _ => Math.floorDiv(input.getLong(0), DayMicros)
    }
    fname match {
      case "days" => days
      case "hours" => Math.floorDiv(input.getLong(0), HourMicros)
      case "months" =>
        val d = java.time.LocalDate.ofEpochDay(days)
        ((d.getYear - 1970) * 12 + d.getMonthValue - 1).toLong
      case "years" => (java.time.LocalDate.ofEpochDay(days).getYear - 1970).toLong
    }
  }
}

/** Conservative plan-time pruning against pushed V1 filters. The only
  * permitted error direction is KEEPING a file that holds no matches —
  * dropping one that might is the silent-wrong-results bug class, so
  * every unknown (missing stat, unmapped type, unparseable bound,
  * unsupported filter shape) answers "may match". */
/** V1 source Filter → Column translation for the DSv2 DML surface —
  * total over the filter algebra Spark can hand `SupportsDelete`
  * (literals arrive as EXTERNAL values, which `lit` round-trips);
  * None for anything else, which makes `canDeleteWhere` refuse the
  * whole statement rather than delete the wrong rows. */
/** V2 partition Transform[] → lakehouse layout spec, gated to the
  * shapes the SPJ scan serves. Total-or-loud: an unmapped transform,
  * a nested field reference, a missing column, or an unservable
  * combination all refuse at CREATE time — a table the catalog can
  * never load again must not come into existence. */
private[spj] object SpjDdl {
  import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, Literal => V2Lit, NamedReference}

  private def colOf(t: Transform, schema: StructType): String = {
    val refs = t.references()
    require(refs.length == 1 && refs(0).fieldNames().length == 1,
      s"partition transform $t must reference exactly one top-level column")
    val c = refs(0).fieldNames()(0)
    require(schema.fieldNames.contains(c),
      s"partition column $c is not in the table schema")
    c
  }

  private def one(t: Transform, schema: StructType): String = t.name() match {
    case "identity" => colOf(t, schema)
    case "bucket" =>
      val ns = t.arguments().collect {
        case l: V2Lit[_] if l.value().isInstanceOf[Number] =>
          l.value().asInstanceOf[Number].intValue()
      }
      require(ns.length == 1 && ns.head > 0,
        s"bucket transform needs one positive bucket count, got $t")
      s"bucket(${ns.head},${colOf(t, schema)})"
    case n @ ("days" | "months" | "years" | "hours") => s"$n(${colOf(t, schema)})"
    case other => throw new UnsupportedOperationException(
      s"unsupported partition transform $other — the SPJ catalog serves " +
        "identity, bucket(n,col) and days/months/years/hours layouts")
  }

  /** The full spec, shape-gated to what [[Lakehouse.spjLayout]] can
    * serve: (bucket) | (identity) | (identity-or-calendar, bucket). */
  def specOf(partitions: Array[Transform], schema: StructType): Seq[String] = {
    require(partitions.nonEmpty,
      "the SPJ catalog serves partitioned tables — declare PARTITIONED BY")
    val spec = partitions.toSeq.map(one(_, schema))
    val shapeOk = partitions.toSeq.map(_.name()) match {
      case Seq("bucket") | Seq("identity") => true
      case Seq("identity" | "days" | "months" | "years" | "hours", "bucket") => true
      case _ => false
    }
    require(shapeOk,
      s"unservable layout ${spec.mkString(", ")} — the SPJ scan serves " +
        "bucket(n,k) | identity | (identity|days|months|years|hours) x bucket(n,k)")
    spec
  }
}

private[spj] object SpjDml {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(c, v) => Some(col(c) === lit(v))
    case EqualNullSafe(c, v) => Some(col(c) <=> lit(v))
    case GreaterThan(c, v) => Some(col(c) > lit(v))
    case GreaterThanOrEqual(c, v) => Some(col(c) >= lit(v))
    case LessThan(c, v) => Some(col(c) < lit(v))
    case LessThanOrEqual(c, v) => Some(col(c) <= lit(v))
    case In(c, vs) => Some(col(c).isin(vs.toIndexedSeq: _*))
    case IsNull(c) => Some(col(c).isNull)
    case IsNotNull(c) => Some(col(c).isNotNull)
    case StringStartsWith(c, v) => Some(col(c).startsWith(v))
    case StringEndsWith(c, v) => Some(col(c).endsWith(v))
    case StringContains(c, v) => Some(col(c).contains(v))
    case And(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a && b
    case Or(l, r) => for (a <- toColumn(l); b <- toColumn(r)) yield a || b
    case Not(x) => toColumn(x).map(!_)
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

/** The claim-classification helpers shared by the scan builder's
  * `dirExact` test and the enforcement sets `build()`/`aggLayout`
  * derive — one accept set, two consumers, so a claimable conjunct is
  * by construction one the pruning enforces. */
private[spj] object SpjScanBuilderClaims {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.types.{DateType, TimestampType}

  private val HourMicros = 3600L * 1000000L

  /** A calendar-claimable outer transform: days/months/years over a
    * DATE source (unit domain: epoch days — a DATE is day-granular,
    * so unit arithmetic is exact row arithmetic) or hours over a
    * TIMESTAMP source (unit domain: UTC epoch micros — the storage
    * granularity, so `ts > v` is exactly `ts >= v + 1µs`). */
  final case class CalClaim(tname: String, src: String, isTs: Boolean)

  def calendarSource(layout: SpjLayout): Option[CalClaim] =
    layout.outerTransformSpec.flatMap { sp =>
      val i = sp.indexOf('(')
      if (i < 0) None
      else {
        val t = sp.substring(0, i)
        val src = sp.substring(i + 1).stripSuffix(")")
        layout.schema.fields.find(_.name.equalsIgnoreCase(src)).flatMap { f =>
          (t, f.dataType) match {
            case ("days" | "months" | "years", DateType) =>
              Some(CalClaim(t, src, isTs = false))
            case ("hours", TimestampType) => Some(CalClaim(t, src, isTs = true))
            case _ => None
          }
        }
      }
    }

  def epochDay(v: Any): Option[Long] = v match {
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }

  private def unitOf(cc: CalClaim, v: Any): Option[Long] =
    if (cc.isTs) v match {
      case t: java.sql.Timestamp =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t))
      case i: java.time.Instant =>
        Some(org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i))
      case _ => None
    } else epochDay(v)

  private def periodOf(cc: CalClaim, u: Long): Long = cc.tname match {
    case "days" => u
    case "months" =>
      val ld = java.time.LocalDate.ofEpochDay(u)
      (ld.getYear - 1970) * 12L + ld.getMonthValue - 1
    case "years" => java.time.LocalDate.ofEpochDay(u).getYear - 1970L
    case "hours" => Math.floorDiv(u, HourMicros)
  }

  private def periodStart(cc: CalClaim, p: Long): Long = cc.tname match {
    case "days" => p
    case "months" => java.time.LocalDate.of(
      (1970 + Math.floorDiv(p, 12)).toInt, Math.floorMod(p, 12).toInt + 1, 1).toEpochDay
    case "years" => java.time.LocalDate.of((1970 + p).toInt, 1, 1).toEpochDay
    case "hours" => p * HourMicros
  }

  private def aligned(cc: CalClaim, u: Long): Boolean =
    u == periodStart(cc, periodOf(cc, u))

  /** A conjunct's image as a predicate on the DERIVED OUTER KEY —
    * defined exactly when the conjunct is DIR-EXACT for the layout:
    * every row of a period dir satisfies the conjunct iff the key
    * does. Equality/IN only on days(DATE) (the one transform whose
    * period IS the value granularity); range conjuncts on any
    * calendar transform when the bound lands ON a period boundary
    * (an unaligned bound splits a dir and declines); IS [NOT] NULL
    * always (the Hive null dir). A comparison against NULL is never
    * claimable — those literals fail unitOf. */
  sealed trait KeyPred
  case class KeyGe(p: Long) extends KeyPred
  case class KeyLt(p: Long) extends KeyPred
  case class KeyIn(s: Set[Long]) extends KeyPred
  case object KeyNull extends KeyPred
  case object KeyNotNull extends KeyPred

  def keyPred(cc: CalClaim, f: Filter): Option[KeyPred] = {
    def onSrc(c0: String) = c0.equalsIgnoreCase(cc.src)
    f match {
      case EqualTo(c0, v) if onSrc(c0) && cc.tname == "days" =>
        unitOf(cc, v).map(u => KeyIn(Set(u)))
      case In(c0, vs) if onSrc(c0) && cc.tname == "days" && vs.nonEmpty =>
        val us = vs.toSeq.map(unitOf(cc, _))
        if (us.forall(_.isDefined)) Some(KeyIn(us.flatten.toSet)) else None
      case GreaterThanOrEqual(c0, v) if onSrc(c0) =>
        unitOf(cc, v).filter(aligned(cc, _)).map(u => KeyGe(periodOf(cc, u)))
      case GreaterThan(c0, v) if onSrc(c0) =>
        unitOf(cc, v).map(_ + 1L).filter(aligned(cc, _))
          .map(u => KeyGe(periodOf(cc, u)))
      case LessThan(c0, v) if onSrc(c0) =>
        unitOf(cc, v).filter(aligned(cc, _)).map(u => KeyLt(periodOf(cc, u)))
      case LessThanOrEqual(c0, v) if onSrc(c0) =>
        unitOf(cc, v).map(_ + 1L).filter(aligned(cc, _))
          .map(u => KeyLt(periodOf(cc, u)))
      case IsNull(c0) if onSrc(c0) => Some(KeyNull)
      case IsNotNull(c0) if onSrc(c0) => Some(KeyNotNull)
      case _ => None
    }
  }

  /** RANGE claims on the IDENTITY column itself: an identity dir is
    * single-valued, so any comparison decides at dir level — but only
    * in an unambiguous ordering domain: integral and DATE identity
    * columns compare as longs (epoch days for dates). STRING identity
    * ranges never claim (Spark compares strings in UTF8 binary order,
    * Java in UTF-16 code units — they diverge outside ASCII, and a
    * divergence here would silently drop rows). Returns the numeric
    * image, None when the value is outside the claimable domain. */
  def rangeImage(v: Any): Option[Long] = v match {
    case i: java.lang.Long => Some(i.longValue())
    case i: java.lang.Integer => Some(i.longValue())
    case i: java.lang.Short => Some(i.longValue())
    case i: java.lang.Byte => Some(i.longValue())
    case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
    case d: java.time.LocalDate => Some(d.toEpochDay)
    case _ => None
  }

  /** Identity-key indices a claimed RANGE conjunct admits (the
    * equality/null shapes stay with [[SpjPruning.allowedIdentity]]);
    * null keys never satisfy a comparison. None when a conjunct shape
    * slipped past `dirExact` — callers treat that as unprovable. */
  def allowedIdentityRange(keys: IndexedSeq[(String, Any)], idCol: String,
      fs: Seq[Filter]): Option[Set[Int]] = {
    def flat(f: Filter): Seq[Filter] = f match {
      case And(l, r) => flat(l) ++ flat(r)
      case other => Seq(other)
    }
    def keep(test: Long => Boolean): Set[Int] =
      keys.indices.filter(i => rangeImage(keys(i)._2).exists(test)).toSet
    def onId(c0: String) = c0 == idCol
    val sets: Seq[Option[Set[Int]]] = fs.flatMap(flat).flatMap {
      case GreaterThan(c0, v) if onId(c0) =>
        Some(rangeImage(v).map(b => keep(_ > b)))
      case GreaterThanOrEqual(c0, v) if onId(c0) =>
        Some(rangeImage(v).map(b => keep(_ >= b)))
      case LessThan(c0, v) if onId(c0) =>
        Some(rangeImage(v).map(b => keep(_ < b)))
      case LessThanOrEqual(c0, v) if onId(c0) =>
        Some(rangeImage(v).map(b => keep(_ <= b)))
      case _ => None // equality/null shapes: allowedIdentity's domain
    }
    if (sets.exists(_.isEmpty)) None
    else Some(sets.flatten.foldLeft(keys.indices.toSet)(_ intersect _))
  }

  /** Outer-key indices the CLAIMED calendar conjuncts admit: each
    * derived key is the dir's period (null for the Hive null dir —
    * matched only by IS NULL, exactly like row semantics). Conjuncts
    * intersect. None only when a conjunct shape slipped past
    * `dirExact` — callers must treat that as unprovable, never as
    * admit-all. */
  def allowedDerivedCal(keys: IndexedSeq[(String, Any)], cc: CalClaim,
      fs: Seq[Filter]): Option[Set[Int]] = {
    def flat(f: Filter): Seq[Filter] = f match {
      case And(l, r) => flat(l) ++ flat(r)
      case other => Seq(other)
    }
    def kOf(i: Int): Option[Long] = keys(i)._2 match {
      case k: java.lang.Long => Some(k.longValue())
      case _ => None
    }
    val sets: Seq[Option[Set[Int]]] = fs.flatMap(flat).map { c =>
      keyPred(cc, c).map {
        case KeyGe(p) => keys.indices.filter(i => kOf(i).exists(_ >= p)).toSet
        case KeyLt(p) => keys.indices.filter(i => kOf(i).exists(_ < p)).toSet
        case KeyIn(ps) => keys.indices.filter(i => kOf(i).exists(ps.contains)).toSet
        case KeyNull => keys.indices.filter(i => keys(i)._2 == null).toSet
        case KeyNotNull => keys.indices.filter(i => keys(i)._2 != null).toSet
      }
    }
    if (sets.isEmpty || sets.exists(_.isEmpty)) None
    else Some(sets.flatten.reduce(_ intersect _))
  }
}

private[spj] object SpjPruning {
  import org.apache.spark.sql.sources._

  /** Filters safe to carry: stats-comparable scalar shapes. These also
    * ride into the parquet reader for row-group skipping. */
  def usable(f: Filter): Boolean = f match {
    case EqualTo(_, v) => scalar(v)
    case GreaterThan(_, v) => scalar(v)
    case GreaterThanOrEqual(_, v) => scalar(v)
    case LessThan(_, v) => scalar(v)
    case LessThanOrEqual(_, v) => scalar(v)
    case In(_, vs) => vs.nonEmpty && vs.forall(scalar)
    case And(l, r) => usable(l) && usable(r)
    case _ => false
  }

  private def scalar(v: Any): Boolean = v match {
    case null => false
    case _: String | _: Long | _: Int | _: Short | _: Byte | _: Double | _: Float => true
    // temporal literals compare against the ledgers' internal numeric
    // stats (timestamps: UTC micros; dates: epoch days) — the
    // time-range scan over a daily layout is THE pruning shape
    case _: java.sql.Timestamp | _: java.time.Instant |
         _: java.sql.Date | _: java.time.LocalDate => true
    case _ => false
  }

  /** A filter literal's numeric image in the ledgers' domain —
    * timestamps to UTC epoch micros, dates to epoch days (exactly the
    * forms the stat writer records for TIMESTAMP/DATE columns). */
  private def numericImage(v: Any): Option[BigDecimal] = v match {
    case _: Long | _: Int | _: Short | _: Byte | _: Double | _: Float =>
      scala.util.Try(BigDecimal(v.toString)).toOption
    case ts: java.sql.Timestamp => Some(BigDecimal(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(ts)))
    case i: java.time.Instant => Some(BigDecimal(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i)))
    case d: java.sql.Date => Some(BigDecimal(
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong))
    case d: java.time.LocalDate => Some(BigDecimal(d.toEpochDay))
    case _ => None
  }

  /** Compare a recorded stat bound to a filter value under the stat's
    * type tag; None = not comparable (degrade to may-match). */
  private def cmp(t: String, bound: String, v: Any): Option[Int] = t match {
    case "string" => v match {
      case s: String => Some(bound.compareTo(s))
      case _ => None
    }
    case "long" | "double" =>
      numericImage(v).flatMap(n =>
        scala.util.Try(BigDecimal(bound).compare(n)).toOption)
    case _ => None
  }

  /** May ANY row of a file with these recorded bounds satisfy `f`? */
  def mayMatch(stats: Map[String, (String, String, String)], f: Filter): Boolean = f match {
    case And(l, r) => mayMatch(stats, l) && mayMatch(stats, r)
    case EqualTo(c, v) => stats.get(c).forall { case (t, lo, hi) =>
      (for { a <- cmp(t, lo, v); b <- cmp(t, hi, v) } yield a <= 0 && b >= 0).getOrElse(true)
    }
    case GreaterThan(c, v) => stats.get(c).forall { case (t, _, hi) =>
      cmp(t, hi, v).forall(_ > 0)
    }
    case GreaterThanOrEqual(c, v) => stats.get(c).forall { case (t, _, hi) =>
      cmp(t, hi, v).forall(_ >= 0)
    }
    case LessThan(c, v) => stats.get(c).forall { case (t, lo, _) =>
      cmp(t, lo, v).forall(_ < 0)
    }
    case LessThanOrEqual(c, v) => stats.get(c).forall { case (t, lo, _) =>
      cmp(t, lo, v).forall(_ <= 0)
    }
    case In(c, vs) => vs.isEmpty || vs.exists(v => mayMatch(stats, EqualTo(c, v)))
    case _ => true
  }

  /** Buckets an equality/IN on the bucket column can reach through the
    * layout hash; None = no usable bucket-column conjunct (all
    * buckets). Conjuncts intersect. */
  def allowedBuckets(keyCol: String, n: Int, fs: Seq[Filter]): Option[Set[Int]] = {
    def flat(f: Filter): Seq[Filter] = f match {
      case And(l, r) => flat(l) ++ flat(r)
      case other => Seq(other)
    }
    val sets = fs.flatMap(flat).flatMap {
      case EqualTo(c, v) if c == keyCol =>
        canonical(v).map(s => Set(bucketOf(s, n)))
      case In(c, vs) if c == keyCol && vs.nonEmpty =>
        val cs = vs.toSeq.map(canonical)
        if (cs.forall(_.isDefined)) Some(cs.flatten.map(bucketOf(_, n)).toSet) else None
      case _ => None
    }
    sets.reduceOption(_ intersect _)
  }

  /** [[canonical]], exposed for the CDC stream's per-tombstone bucket
    * pruning (r16) — the canonical layout-hash string of an external
    * value, what the writer encoded into dir names and [[bucketOf]]
    * hashes. */
  private[spj] def canonicalOf(v: Any): Option[String] = canonical(v)

  /** The write-side transform's cast-to-string canonical form — only
    * session-independent types map (same whitelist as Transforms;
    * dates print ISO, matching both `cast(d AS STRING)` and the
    * identity partition dir encoding). */
  private def canonical(v: Any): Option[String] = v match {
    case s: String => Some(s)
    case i: Long => Some(i.toString)
    case i: Int => Some(i.toString)
    case i: Short => Some(i.toString)
    case i: Byte => Some(i.toString)
    case d: java.sql.Date => Some(d.toString)
    case d: java.time.LocalDate => Some(d.toString)
    case _ => None
  }

  /** Indices of the identity keys whose canonical (unescaped-dir)
    * string is in `canon`; null keys never match a value set. */
  def identityIndicesIn(keys: IndexedSeq[(String, Any)],
      canon: Set[String]): Set[Int] =
    keys.zipWithIndex.collect {
      case ((dv, k), i) if k != null && canon(dv) => i
    }.toSet

  /** Partition indices of an IDENTITY layout an equality/IN/null test
    * on the partition column can reach; None = no usable conjunct
    * (all partitions). Conjuncts intersect. Comparison happens in the
    * canonical string domain — the unescaped dir value, which is
    * exactly how the writer encoded the key. */
  def allowedIdentity(keyCol: String, keys: IndexedSeq[(String, Any)],
      fs: Seq[Filter]): Option[Set[Int]] = {
    def flat(f: Filter): Seq[Filter] = f match {
      case And(l, r) => flat(l) ++ flat(r)
      case other => Seq(other)
    }
    val sets = fs.flatMap(flat).flatMap {
      case EqualTo(c, v) if c == keyCol =>
        canonical(v).map(s => identityIndicesIn(keys, Set(s)))
      case In(c, vs) if c == keyCol && vs.nonEmpty =>
        val cs = vs.toSeq.map(canonical)
        if (cs.forall(_.isDefined)) Some(identityIndicesIn(keys, cs.flatten.toSet))
        else None
      case IsNull(c) if c == keyCol =>
        Some(keys.zipWithIndex.collect { case ((_, k), i) if k == null => i }.toSet)
      case IsNotNull(c) if c == keyCol =>
        Some(keys.zipWithIndex.collect { case ((_, k), i) if k != null => i }.toSet)
      case _ => None
    }
    sets.reduceOption(_ intersect _)
  }

  def bucketOf(s: String, n: Int): Int =
    ((graft.functions.HashImpl.md5Lower64(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8)) >>> 2) % n).toInt

  /** Runtime-filter IN values over `keyCol`: Spark ships DPP key sets
    * as V2 `IN` predicates whose literals carry INTERNAL values
    * (UTF8String, epoch-day ints). Returns per key both the
    * stat-comparable external value (for [[mayMatch]]) and the
    * canonical layout-hash string (for [[bucketOf]]); None when the
    * predicate isn't an IN over exactly `keyCol` or any literal's type
    * falls outside the transform's session-independent whitelist —
    * the caller then prunes nothing. */
  def runtimeInValues(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate,
      keyCol: String): Option[Seq[(Any, String)]] = {
    import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
    if (!p.name().equalsIgnoreCase("IN")) return None
    val ch = p.children()
    if (ch.length < 2) return None
    ch.head match {
      case nr: NamedReference if nr.fieldNames().sameElements(Array(keyCol)) =>
        val vals = ch.tail.toSeq.map {
          case l: V2Literal[_] => (l.dataType(), l.value()) match {
            case (_, null) => None // null never matches an IN semijoin key
            case (StringType, u) => Some((u.toString, u.toString))
            case (LongType, v: java.lang.Long) => Some((v.longValue(), v.toString))
            case (IntegerType, v: java.lang.Integer) => Some((v.intValue(), v.toString))
            case (ShortType, v: java.lang.Short) => Some((v.shortValue(), v.toString))
            case (ByteType, v: java.lang.Byte) => Some((v.byteValue(), v.toString))
            case (DateType, v: java.lang.Integer) => Some((v.intValue(),
              java.time.LocalDate.ofEpochDay(v.longValue()).toString))
            case _ => None
          }
          case _ => None
        }
        if (vals.forall(_.isDefined)) Some(vals.flatten) else None
      case _ => None
    }
  }

  /** File cover for a pushed TopN (`ORDER BY col [ASC|DESC] LIMIT k`):
    * sort the files by the bound CLOSEST TO THE TOP of the requested
    * order (hi for DESC, lo for ASC would under-cover — we take the
    * LAST bound of each file so the taken set provably holds ≥ k rows
    * at-or-before it), accumulate until k rows are covered, and drop
    * every file whose entire range starts after that threshold.
    * Null rows ride the recorded null counts: NULLS FIRST nulls
    * occupy top-k slots (null-bearing files always kept), NULLS LAST
    * nulls can only matter when the non-null rows don't cover k — in
    * which case nothing is pruned. Any unrecorded count/stat, mixed
    * stat tags or unparsable bound keeps the list whole; Spark's own
    * TopN on top picks the exact rows. The 100 TB shape: `ORDER BY ts
    * DESC LIMIT 100` reads the newest file(s), not the table. */
  def capForTopN(files: Map[Int, Seq[SpjFile]], col: String, asc: Boolean,
      nullsFirst: Boolean, k: Int): Map[Int, Seq[SpjFile]] = {
    val flat = files.toSeq.flatMap { case (b, fs) => fs.map(b -> _) }
    if (flat.isEmpty || k <= 0) return files
    if (flat.exists { case (_, f) => f.rows.isEmpty || !f.nulls.contains(col) })
      return files
    val tags = flat.flatMap(_._2.stats.get(col).map(_._1)).distinct
    if (tags.length > 1) return files
    def key(s: String): Option[Any] = tags.headOption.flatMap {
      case "string" => Some(s)
      case "long" | "double" => scala.util.Try(BigDecimal(s)).toOption
      case _ => None
    }
    // compare in SORT direction: negative = closer to the top
    def cmpDir(a: Any, b: Any): Int = {
      val c = (a, b) match {
        case (x: String, y: String) => x.compareTo(y)
        case (x: BigDecimal, y: BigDecimal) => x.compare(y)
        case _ => 0
      }
      if (asc) c else -c
    }
    case class F(bucket: Int, f: SpjFile, nn: Long, first: Option[Any],
      last: Option[Any])
    val fs = flat.map { case (b, f) =>
      val nn = f.rows.get - f.nulls(col)
      f.stats.get(col) match {
        case Some((_, lo, hi)) =>
          val (kl, kh) = (key(lo), key(hi))
          if (kl.isEmpty || kh.isEmpty) return files // unparsable bound
          if (asc) F(b, f, nn, kl, kh) else F(b, f, nn, kh, kl)
        case None =>
          if (nn > 0) return files // values without bounds: unprovable
          F(b, f, nn, None, None)
      }
    }
    def group(keep: Seq[F]): Map[Int, Seq[SpjFile]] =
      keep.groupBy(_.bucket).map { case (b, g) => b -> g.map(_.f) }
    val totalNulls = flat.map { case (_, f) => f.nulls(col) }.sum
    var acc = if (nullsFirst) totalNulls else 0L
    if (acc >= k) // the whole top-k is nulls: only null-bearers matter
      return group(fs.filter(_.f.nulls(col) > 0L))
    var bound: Option[Any] = None
    val it = fs.filter(_.nn > 0).sortWith((a, b) =>
      cmpDir(a.last.get, b.last.get) < 0).iterator
    while (bound.isEmpty && it.hasNext) {
      val f = it.next(); acc += f.nn
      if (acc >= k) bound = f.last
    }
    // k exceeds the rows the bounds can cover (incl. NULLS LAST nulls
    // entering the tail): prune nothing
    if (bound.isEmpty) return files
    group(fs.filter(f => (nullsFirst && f.f.nulls(col) > 0L) ||
      (f.nn > 0 && cmpDir(f.first.get, bound.get) <= 0)))
  }

  /** Lexicographic file cover for a MULTI-COLUMN pushed TopN
    * (`ORDER BY c1 [ASC|DESC], c2 … LIMIT k`): every row of a file is
    * bounded by the file's per-column stat tuples — in prefix order,
    * each row sorts at-or-after `best = (best_1, …, best_m)` and
    * at-or-before `worst = (worst_1, …, worst_m)` (best_i/worst_i the
    * lo or hi bound per the column's direction; row-wise values are
    * independently bounded per column, which makes the TUPLE bound
    * valid lexicographically). Accumulate files by `worst` until k
    * rows are covered; drop every file whose `best` sorts strictly
    * after that threshold — its rows all lose to ≥ k covered rows in
    * prefix order, and the full order only refines the prefix order.
    * Where the leading-key cap keeps every file of a lead-value tie,
    * the tuple threshold splits the tie on the later columns. Proof
    * obligations (any failure → None, caller falls back to the
    * leading-key cap): recorded row counts, complete same-tagged
    * parsable stats AND zero recorded nulls for every prefix column
    * on every file (the null-order algebra stays with the
    * single-column cap). */
  def capForTopNPrefix(files: Map[Int, Seq[SpjFile]],
      cols: Seq[(String, Boolean)], k: Int): Option[Map[Int, Seq[SpjFile]]] = {
    val flat = files.toSeq.flatMap { case (b, fs) => fs.map(b -> _) }
    if (flat.isEmpty || k <= 0 || cols.isEmpty) return None
    if (flat.exists { case (_, f) =>
      f.rows.isEmpty || cols.exists { case (c, _) =>
        !f.nulls.get(c).contains(0L) || f.stats.get(c).isEmpty }
    }) return None
    // one comparable tag per column across every file
    val tags: Seq[String] = cols.map { case (c, _) =>
      flat.map(_._2.stats(c)._1).distinct match {
        case Seq(t @ ("string" | "long" | "double")) => t
        case _ => return None
      }
    }
    def key(t: String, s: String): Option[Any] = t match {
      case "string" => Some(s)
      case _ => scala.util.Try(BigDecimal(s)).toOption
    }
    // compare tuples in SORT direction: negative = closer to the top
    def cmpTup(a: Seq[Any], b: Seq[Any]): Int = {
      var i = 0
      while (i < a.length) {
        val c = (a(i), b(i)) match {
          case (x: String, y: String) => x.compareTo(y)
          case (x: BigDecimal, y: BigDecimal) => x.compare(y)
          case _ => 0
        }
        val d = if (cols(i)._2) c else -c
        if (d != 0) return d
        i += 1
      }
      0
    }
    case class F(bucket: Int, f: SpjFile, rows: Long, best: Seq[Any], worst: Seq[Any])
    val fs = flat.map { case (b, f) =>
      val bounds: Seq[(Any, Any)] = cols.zip(tags).map { case ((c, asc), t) =>
        val (_, lo, hi) = f.stats(c)
        val pair = for { kl <- key(t, lo); kh <- key(t, hi) } yield
          if (asc) (kl, kh) else (kh, kl)
        pair.getOrElse(return None) // unparsable bound: unprovable
      }
      F(b, f, f.rows.get, bounds.map(_._1), bounds.map(_._2))
    }
    var acc = 0L
    var bound: Option[Seq[Any]] = None
    val it = fs.filter(_.rows > 0).sortWith((a, b) => cmpTup(a.worst, b.worst) < 0).iterator
    while (bound.isEmpty && it.hasNext) {
      val f = it.next(); acc += f.rows
      if (acc >= k) bound = Some(f.worst)
    }
    if (bound.isEmpty) return None // k exceeds the recorded rows: prune nothing
    Some(fs.filter(f => f.rows > 0 && cmpTup(f.best, bound.get) <= 0)
      .groupBy(_.bucket).map { case (b, g) => b -> g.map(_.f) })
  }

  /** Minimal file cover for a pushed LIMIT: keep the fewest files whose
    * recorded row counts reach `n` (largest-first, path-tiebroken for
    * determinism). Any file without a recorded count keeps the list
    * whole — the cap only ever prunes provably-spare I/O; Spark's own
    * limit on top trims the exact rows. Bucket structure is preserved
    * (uncovered buckets plan empty). */
  def capForLimit(files: Map[Int, Seq[SpjFile]], n: Int): Map[Int, Seq[SpjFile]] = {
    val flat = files.toSeq.flatMap { case (b, fs) => fs.map(b -> _) }
    if (flat.exists(_._2.rows.isEmpty)) return files
    if (flat.map(_._2.rows.get).sum <= n) return files
    val sorted = flat.sortBy { case (_, f) => (-f.rows.get, f.path) }
    val keep = scala.collection.mutable.Buffer.empty[(Int, SpjFile)]
    var acc = 0L
    val it = sorted.iterator
    while (acc < n && it.hasNext) {
      val e = it.next(); keep += e; acc += e._2.rows.get
    }
    keep.groupBy(_._1).map { case (b, fs) => b -> fs.map(_._2).toSeq }
  }
}

/** Pushed-aggregate readouts from the write-time ledgers — graft's
  * one metadata-aggregate engine, reached by every SQL aggregate on a
  * registered name or a `lakecat.` table through
  * [[GraftSpjScanBuilder]]'s `pushAggregation`. The answer is a pure
  * metadata fold over the scan's file map: count(*) from row counts,
  * count(col) from null counts, min/max from stat bounds, sum from the
  * per-file decimal-exact sums ledger, avg over non-negative integral
  * columns, and count(DISTINCT) over per-file constants. GROUP BY
  * answers when every group column is provably constant per file (an
  * identity dir, a DATE calendar derivation of the layout's transform,
  * or a ledger single-valuedness proof). Claimed identity/calendar
  * filters fold in by dropping the non-matching dirs first (the
  * builder's `aggLayout`); any other filter leaves a residual, and
  * Spark then never pushes the aggregate. The exactness contract:
  * answer bit-for-bit what the ordinary scan-and-aggregate would, or
  * decline (None) and let Spark plan that scan. Tombstoned snapshots,
  * unrecorded ledgers, double sums, Long/decimal overflow and
  * un-provable groupings decline — the one bug class this surface
  * must never have is a fast wrong answer. */
private[spj] object SpjMetaAgg {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.unsafe.types.UTF8String

  def answer(layout: SpjLayout,
      agg: Aggregation): Option[(StructType, Array[InternalRow], String)] = {
    // a tombstoned snapshot's ledgers over-state every leg (counts,
    // bounds, sums were recorded pre-delete) — only the real scan,
    // which anti-filters per file, can answer exactly
    if (layout.tombstoned) return None

    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[StructField] = e match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        layout.schema.fields.find(_.name == nr.fieldNames()(0))
      case _ => None
    }

    def tagOf(dt: DataType): String = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType | TimestampType => "long"
      case FloatType | DoubleType => "double"
      case StringType => "string"
      case _ => ""
    }

    // a ledger bound decoded to the column's INTERNAL value
    def internal(dt: DataType, tag: String, s: String): Option[Any] =
      scala.util.Try[Any]((tag, dt) match {
        case ("long", DateType) => s.toLong.toInt
        case ("long", TimestampType) => s.toLong
        case ("long", LongType) => s.toLong
        case ("long", IntegerType) => s.toLong.toInt
        case ("long", ShortType) => s.toLong.toShort
        case ("long", ByteType) => s.toLong.toByte
        case ("double", DoubleType) => s.toDouble
        case ("double", FloatType) => s.toDouble.toFloat
        case ("string", StringType) => UTF8String.fromString(s)
        case _ => throw new IllegalArgumentException(s"unmapped ($tag, $dt)")
      }).toOption

    def groupable(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | StringType => true
      case _ => false
    }

    // Per-file CONSTANT value of a column, when provable: the identity
    // dir path (which the files don't store), or the LEDGER proof --
    // zero recorded nulls and min == max under the declared type's tag
    // (sound: evolution never reuses a column name, so a dir's ledger
    // line under a declared name is always that logical column, and
    // recorded bounds are exact footer values -- the same exactness
    // the min/max readout rests on); an all-null file is the NULL
    // constant. Callers must have checked rows.isDefined.
    def fileConst(i: Int, sf: SpjFile, f: StructField): Option[Any] =
      if (layout.identityCol.contains(f.name)) layout.identityKeyAt(i).map(_._2)
      else sf.nulls.get(f.name).flatMap { n =>
        if (n == sf.rows.get) Some(null)
        else if (n != 0L) None // mixed null/value: not single-valued
        else sf.stats.get(f.name) match {
          case Some((t, lo, hi)) if t == tagOf(f.dataType) && lo == hi =>
            internal(f.dataType, t, lo)
          case _ => None
        }
      }

    /** The aggregate legs folded over `files` only. `keyConsts` holds
      * the GROUP-CONSTANT columns: inside one group every file's value
      * of a group column is the same known constant (from the identity
      * dir path, which the files don't store, or from a per-file
      * single-valuedness proof over the ledgers), so legs referencing
      * one answer from that constant instead of the ledgers. */
    def legsOver(files: Seq[(Int, SpjFile)], keyConsts: Map[String, Any])
        : Option[Seq[(Any, DataType, String)]] = {
      if (files.exists(_._2.rows.isEmpty)) return None
      val totalRows = files.map(_._2.rows.get).sum
      def isKey(f: StructField) = keyConsts.contains(f.name)

      // count(col): non-null totals need every file's null count
      // recorded; a group-constant column is all-or-nothing null
      def nonNull(f: StructField): Option[Long] =
        if (isKey(f)) Some(if (keyConsts(f.name) == null) 0L else totalRows)
        else {
          val per = files.map { case (_, sf) =>
            sf.nulls.get(f.name).map(n => sf.rows.get - n) }
          if (per.forall(_.isDefined)) Some(per.flatten.sum) else None
        }

      // min/max: every file holding ≥1 non-null value of the column
      // must carry a usable bound (absence is indistinguishable from
      // unrecorded — unprovable, decline); all-null and empty files
      // are skipped exactly as SQL min/max skips them
      def bound(f: StructField, wantMin: Boolean): Option[Any] = {
        if (isKey(f)) return Some(keyConsts(f.name)) // constant (null group: SQL NULL)
        val tag = tagOf(f.dataType)
        if (tag.isEmpty) return None
        val legs = files.flatMap { case (_, sf) =>
          val nn = sf.nulls.get(f.name) match {
            case Some(nulls) => sf.rows.get - nulls
            case None => return None
          }
          if (nn == 0L) None
          else sf.stats.get(f.name) match {
            case Some((t, lo, hi)) if t == tag => Some(if (wantMin) lo else hi)
            case _ => return None
          }
        }
        if (legs.isEmpty) return Some(null) // zero non-null values: SQL NULL
        val pick = scala.util.Try(tag match {
          case "string" => if (wantMin) legs.min else legs.max
          case _ => if (wantMin) legs.minBy(BigDecimal(_)) else legs.maxBy(BigDecimal(_))
        }).toOption.getOrElse(return None)
        internal(f.dataType, tag, pick)
      }

      // sum: integral/decimal only (double addition is order-dependent);
      // the exact ledger total must restate Spark's own result type or
      // the readout declines (Long wrap / decimal overflow can only be
      // reproduced by the real scan)
      def sumOf(f: StructField): Option[(Any, DataType)] = {
        val resultType: DataType = f.dataType match {
          case ByteType | ShortType | IntegerType | LongType => LongType
          case d: DecimalType => DecimalType(math.min(38, d.precision + 10), d.scale)
          case _ => return None
        }
        if (isKey(f)) { // constant × row count, exactly
          if (keyConsts(f.name) == null) return Some((null, resultType))
          val total = new java.math.BigDecimal(keyConsts(f.name).toString)
            .multiply(java.math.BigDecimal.valueOf(totalRows))
          return resultType match {
            case LongType => scala.util.Try(total.longValueExact()).toOption
              .map(v => (v, LongType))
            case _ => None // group-constant columns are never decimal-typed
          }
        }
        var acc = java.math.BigDecimal.ZERO
        var any = false
        files.foreach { case (_, sf) =>
          sf.sums.get(f.name) match {
            case Some(Some(v)) => acc = acc.add(v); any = true
            case Some(None) => // recorded all-null file: contributes nothing
            case None => if (sf.rows.get > 0L) return None // unrecorded
          }
        }
        if (!any) return Some((null, resultType))
        resultType match {
          case LongType =>
            scala.util.Try(acc.longValueExact()).toOption.map(v => (v, LongType))
          case dt: DecimalType =>
            val d = org.apache.spark.sql.types.Decimal(acc)
            if (d.changePrecision(dt.precision, dt.scale)) Some((d, dt)) else None
          case _ => None
        }
      }

      // count(DISTINCT col): the distinct non-null constants across
      // the files -- provable only when EVERY non-empty file is
      // single-valued on the column (identity dirs, write-clustered
      // columns); one multi-valued file sinks the leg to the scan
      def distinctOf(f: StructField): Option[Long] = {
        if (isKey(f)) return nonNull(f).map(nn => if (nn == 0L) 0L else 1L)
        if (!groupable(f.dataType)) return None
        val seen = scala.collection.mutable.Set.empty[Any]
        files.foreach { case (i, sf) =>
          if (sf.rows.get > 0L) fileConst(i, sf, f) match {
            case Some(null) => // all-null file: DISTINCT skips NULLs
            case Some(v) => seen += v
            case None => return None
          }
        }
        Some(seen.size.toLong)
      }

      // avg(col): Spark's Average over an integral column accumulates
      // the sum in DOUBLE -- order-dependent in general, but every
      // partial sum of NON-NEGATIVE integers bounded by a total
      // <= 2^53 is an exactly-representable integer, so the fold is
      // order-independent and the ledger restatement is bit-exact.
      // Gate: integral input, every non-empty file's recorded lower
      // bound >= 0, exact total <= 2^53; divide by the NON-NULL count
      // (avg skips nulls), both as the same IEEE double division
      // Spark's Divide(sum, count) performs. Decimal and double
      // inputs decline (decimal AVG divides at a shifted scale;
      // double sums are order-lossy).
      val MaxExactDouble = java.math.BigDecimal.valueOf(1L << 53)
      def avgOf(f: StructField): Option[Any] = {
        f.dataType match {
          case ByteType | ShortType | IntegerType | LongType => ()
          case _ => return None
        }
        val nn = nonNull(f).getOrElse(return None)
        if (nn == 0L) return Some(null) // zero non-null values: SQL NULL
        if (isKey(f)) {
          val c = new java.math.BigDecimal(keyConsts(f.name).toString)
          val total = c.multiply(java.math.BigDecimal.valueOf(nn))
          if (c.signum() < 0 || total.compareTo(MaxExactDouble) > 0) return None
          return Some(total.doubleValue() / nn.toDouble)
        }
        files.foreach { case (_, sf) => // non-negativity proof per file
          if (sf.rows.get > 0L && !sf.nulls.get(f.name).contains(sf.rows.get)) {
            sf.stats.get(f.name) match {
              case Some((t, lo, _)) if t == "long" &&
                scala.util.Try(BigDecimal(lo) >= 0).getOrElse(false) => ()
              case _ => return None
            }
          }
        }
        var acc = java.math.BigDecimal.ZERO
        files.foreach { case (_, sf) =>
          sf.sums.get(f.name) match {
            case Some(Some(v)) => acc = acc.add(v)
            case Some(None) => ()
            case None => if (sf.rows.get > 0L) return None // unrecorded
          }
        }
        if (acc.compareTo(MaxExactDouble) > 0) return None
        Some(acc.doubleValue() / nn.toDouble)
      }

      val legs: Seq[Option[(Any, DataType, String)]] =
        agg.aggregateExpressions().toSeq.map {
          case _: CountStar => Some((totalRows, LongType, "count(*)"))
          case c: Count if !c.isDistinct =>
            colOf(c.column).flatMap(f =>
              nonNull(f).map(n => (n, LongType, s"count(${f.name})")))
          case c: Count if c.isDistinct =>
            colOf(c.column).flatMap(f => distinctOf(f).map(n =>
              (n, LongType, s"count(distinct ${f.name})")))
          case a: Avg if !a.isDistinct =>
            colOf(a.column).flatMap(f => avgOf(f).map(v =>
              (v, DoubleType, s"avg(${f.name})")))
          case m: Min => colOf(m.column).flatMap(f =>
            bound(f, wantMin = true).map(v => (v, f.dataType, s"min(${f.name})")))
          case m: Max => colOf(m.column).flatMap(f =>
            bound(f, wantMin = false).map(v => (v, f.dataType, s"max(${f.name})")))
          case s: Sum if !s.isDistinct =>
            colOf(s.column).flatMap(f =>
              sumOf(f).map { case (v, dt) => (v, dt, s"sum(${f.name})") })
          case _ => None
        }
      // ZERO legs is valid for a GROUPED call — `SELECT DISTINCT c`
      // pushes as a group-only aggregation and the answer is just the
      // group tuples; the GLOBAL branch guards against it itself
      if (legs.exists(_.isEmpty)) None else Some(legs.map(_.get))
    }

    def aggFields(vals: Seq[(Any, DataType, String)]): Seq[StructField] =
      vals.zipWithIndex.map { case ((_, dt, _), i) =>
        StructField(s"agg_$i", dt, nullable = true)
      }

    agg.groupByExpressions().toSeq match {
      case Seq() => // GLOBAL: one finished row over every file
        if (agg.aggregateExpressions().isEmpty) return None // nothing to answer
        legsOver(layout.files.toSeq.flatMap { case (i, fs) => fs.map(i -> _) },
            Map.empty).map { vals =>
          (StructType(aggFields(vals)),
            Array(InternalRow.fromSeq(vals.map(_._1))),
            vals.map(_._3).mkString(", "))
        }
      // GROUPED: every group column must be PER-FILE CONSTANT with the
      // constant provable per file — the layout's IDENTITY column (its
      // value known from the dir path; the r12 shape, identity×bucket
      // included) or ANY column whose ledgers prove single-valuedness:
      // zero recorded nulls and min == max under the declared type's
      // tag (sound because evolution never reuses a column name, so a
      // dir's ledger line under a declared name is always that logical
      // column, and recorded bounds are exact values — the same
      // exactness the min/max readout already rests on), with an
      // all-null file keying the NULL group (nulls == rows). Files are
      // grouped by their constant tuples and each group's aggregates
      // are the same ledger fold over its files. Any file the proof
      // can't reach sinks the whole pushdown — the real scan answers.
      // Float/double group columns decline: SQL groups -0.0 with 0.0
      // and NaN with NaN, which bit-printed bounds can't witness.
      // Covers the reference's gold rollup (gold_reporting.py:70 GROUP
      // BY city) as a metadata readout, and prices a write-clustered
      // GROUP BY (per-status appends, sorted-by-day files) the same
      // way on ANY layout shape — flat-group tables included — without
      // a partition level for it. Complete pushdown output contract:
      // group columns first (pushed order), then aggregate columns,
      // one row per group.
      case gbs =>
        val idCol = layout.identityCol
        // PATH-DERIVED calendar groupings: year(d) / month(d) / day(d)
        // over the layout's own calendar transform -- the derived dir
        // key (epoch days / months / years since 1970) determines the
        // value exactly when the SOURCE column is a DATE (the
        // transform computes off epoch days, timezone-free, which is
        // precisely SQL's year()/month()/day() on a date; TIMESTAMP
        // sources decline -- SQL extracts in the SESSION zone, the
        // transform in UTC). GROUP BY year(d) on a years(d) x bucket
        // fact reads the year dirs' ledgers, zero data opens.
        val outerT: Option[(String, String)] = layout.outerTransformSpec.collect {
          case s if s.contains("(") =>
            (s.takeWhile(_ != '('), s.dropWhile(_ != '(').drop(1).stripSuffix(")"))
        }
        def derived(e: org.apache.spark.sql.connector.expressions.Expression)
            : Option[(StructField, Long => Any)] = {
          // catalyst Year/Month/DayOfMonth translate to the V2
          // Extract(field, source) node; trunc(d, fmt) to a two-child
          // TRUNC general scalar whose format literal folds into the
          // synthetic name; EXTRACT-style one-child general scalars
          // share the Extract shape
          val named: Option[(String,
              org.apache.spark.sql.connector.expressions.Expression)] = e match {
            case x: org.apache.spark.sql.connector.expressions.Extract =>
              Some((x.field(), x.source()))
            case g: org.apache.spark.sql.connector.expressions.GeneralScalarExpression
                if g.name() == "TRUNC" && g.children().length == 2 =>
              g.children()(1) match {
                case l: org.apache.spark.sql.connector.expressions.Literal[_]
                    if l.dataType() == StringType && l.value() != null =>
                  Some((s"TRUNC_${l.value().toString.toUpperCase(java.util.Locale.ROOT)}",
                    g.children()(0)))
                case _ => None
              }
            case g: org.apache.spark.sql.connector.expressions.GeneralScalarExpression
                if g.children().length == 1 =>
              Some((g.name(), g.children()(0)))
            case _ => None
          }
          // trunc formats normalize to the period they start (Spark's
          // own alias sets); the group value is a DATE (epoch days)
          def truncPeriod(fmt: String): Option[String] = fmt match {
            case "TRUNC_YEAR" | "TRUNC_YYYY" | "TRUNC_YY" => Some("Y")
            case "TRUNC_MONTH" | "TRUNC_MON" | "TRUNC_MM" => Some("M")
            case "TRUNC_QUARTER" => Some("Q")
            case _ => None
          }
          def yearStart(y: Int): Int = java.time.LocalDate.of(y, 1, 1).toEpochDay.toInt
          def monthStart(y: Int, m: Int): Int =
            java.time.LocalDate.of(y, m, 1).toEpochDay.toInt
          named.flatMap { case (fname, child) =>
            for {
              (tname, src) <- outerT
              nr <- child match {
                case r: NamedReference if r.fieldNames().length == 1 =>
                  Some(r.fieldNames()(0))
                case _ => None
              }
              if nr.equalsIgnoreCase(src)
              srcF <- layout.schema.fields.find(_.name.equalsIgnoreCase(src))
              if srcF.dataType == DateType
              fieldFn <- (tname, fname) match {
                case ("days", "YEAR") => Some((IntegerType: DataType,
                  (k: Long) => java.time.LocalDate.ofEpochDay(k).getYear))
                case ("days", "MONTH") => Some((IntegerType: DataType,
                  (k: Long) => java.time.LocalDate.ofEpochDay(k).getMonthValue))
                case ("days", "DAY") => Some((IntegerType: DataType,
                  (k: Long) => java.time.LocalDate.ofEpochDay(k).getDayOfMonth))
                case ("months", "YEAR") => Some((IntegerType: DataType,
                  (k: Long) => (1970 + Math.floorDiv(k, 12)).toInt))
                case ("months", "MONTH") => Some((IntegerType: DataType,
                  (k: Long) => (Math.floorMod(k, 12) + 1).toInt))
                case ("years", "YEAR") => Some((IntegerType: DataType,
                  (k: Long) => (1970 + k).toInt))
                case (t, f0) => truncPeriod(f0).flatMap { per =>
                  (t, per) match {
                    case ("years", "Y") => Some((DateType: DataType,
                      (k: Long) => yearStart(1970 + k.toInt)))
                    case ("months", "Y") => Some((DateType: DataType,
                      (k: Long) => yearStart(1970 + Math.floorDiv(k, 12).toInt)))
                    case ("months", "M") => Some((DateType: DataType, (k: Long) =>
                      monthStart(1970 + Math.floorDiv(k, 12).toInt,
                        Math.floorMod(k, 12).toInt + 1)))
                    case ("months", "Q") => Some((DateType: DataType, (k: Long) =>
                      monthStart(1970 + Math.floorDiv(k, 12).toInt,
                        (Math.floorMod(k, 12).toInt / 3) * 3 + 1)))
                    case ("days", "Y") => Some((DateType: DataType, (k: Long) =>
                      yearStart(java.time.LocalDate.ofEpochDay(k).getYear)))
                    case ("days", "M") => Some((DateType: DataType, (k: Long) => {
                      val ld = java.time.LocalDate.ofEpochDay(k)
                      monthStart(ld.getYear, ld.getMonthValue) }))
                    case ("days", "Q") => Some((DateType: DataType, (k: Long) => {
                      val ld = java.time.LocalDate.ofEpochDay(k)
                      monthStart(ld.getYear, ((ld.getMonthValue - 1) / 3) * 3 + 1) }))
                    case _ => None
                  }
                }
              }
            } yield (StructField(s"${fname.toLowerCase(java.util.Locale.ROOT)}_$src",
              fieldFn._1, nullable = true), fieldFn._2)
          }
        }
        // each group expression resolves to (output field, per-file
        // constant extractor, schema-column name when the constant IS
        // that column's value -- those feed legsOver's keyConsts)
        val cols: Seq[(StructField, (Int, SpjFile) => Option[Any], Option[String])] =
          gbs.map { e =>
            colOf(e) match {
              case Some(f) if idCol.contains(f.name) =>
                // identity column: the constant is the dir-path key
                (f, (i: Int, _: SpjFile) => layout.identityKeyAt(i).map(_._2),
                  Some(f.name))
              case Some(f) if groupable(f.dataType) =>
                // ledger-proven single-valuedness (fileConst); an
                // all-null file keys the NULL group. Float/double
                // decline: SQL groups -0.0 with 0.0 and NaN with NaN,
                // which bit-printed bounds can't witness.
                (f, (i: Int, sf: SpjFile) => fileConst(i, sf, f), Some(f.name))
              case Some(_) => return None // un-groupable column type
              case None => derived(e) match {
                case Some((f, fn)) =>
                  (f, (i: Int, _: SpjFile) => layout.identityKeyAt(i).map {
                    case (_, k: java.lang.Long) => fn(k.longValue())
                    case (_, null) => null // Hive null dir: NULL group
                    case _ => return None // non-long derived key: unprovable
                  }, None)
                case None => return None // unprovable grouping: the scan answers
              }
            }
          }
        if (cols.map(_._1.name).distinct.length != cols.length) return None
        val withIdx: Seq[(Int, SpjFile)] =
          layout.files.toSeq.flatMap { case (i, fs) => fs.map(i -> _) }
        if (withIdx.exists(_._2.rows.isEmpty)) return None // unrecorded: unprovable
        // a zero-row file contributes no group, exactly like the scan
        val live = withIdx.filter(_._2.rows.get > 0L)
        val keyed: Seq[(Seq[Any], (Int, SpjFile))] = live.map { case (i, sf) =>
          (cols.map(c => c._2(i, sf) match {
            case Some(v) => v
            case None => return None // one un-provable file sinks all
          }), (i, sf))
        }
        if (keyed.isEmpty) return None // empty table: let the scan answer
        val perGroup = keyed.groupBy(_._1).toSeq.map { case (key, fs) =>
          val consts = cols.zip(key).collect {
            case ((_, _, Some(name)), v) => name -> v
          }.toMap
          legsOver(fs.map(_._2), consts) match {
            case None => return None
            case Some(vals) => (key, vals)
          }
        }.sortBy(_._1.map(v => if (v == null) "0" else "1" + v.toString))(
          // stable emission order across runs: element-wise Seq
          // ordering (never concatenated — ("ab","c") vs ("a","bc")
          // must not collide), nulls tagged "0" ahead of values "1"+v
          scala.math.Ordering.Implicits.seqOrdering[Seq, String])
        val schema = StructType(
          cols.map(_._1.copy(nullable = true)) ++ aggFields(perGroup.head._2))
        Some((schema,
          perGroup.map { case (key, vals) =>
            InternalRow.fromSeq(key ++ vals.map(_._1))
          }.toArray,
          s"GROUP BY ${cols.map(_._1.name).mkString(", ")}: " +
            perGroup.head._2.map(_._3).mkString(", ")))
    }
  }
}
