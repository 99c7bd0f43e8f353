package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.sources.Tables

/** Medallion (bronze → silver → gold) operators, re-expressing the
  * reference pipeline's semantics on the testdata star schema.
  *
  * Reference mapping:
  *  - bronze: spark_jobs/mongo_to_iceberg.py:143-169 reads nested Mongo
  *    order documents (order_id, items[], shipping_address{...}) and
  *    lands them in a catalog table. [[bronzeOrderDocs]] assembles the
  *    same document shape from the relational tables (orders +
  *    lineitem → items array) — schema-on-write document assembly.
  *  - silver: spark_jobs/silver_transformation.py:104-112 rebuilds the
  *    shipping_address struct adding a literal country. [[silverEnrich]]
  *    does the identical struct surgery on the address analog
  *    (customer → nation → region).
  *  - gold: spark_jobs/gold_reporting.py:117-131 groups by
  *    (city, country), aggregates sum(total_amount) AS total_revenue,
  *    count(order_id) AS order_count, orders by revenue desc.
  *    [[goldSalesReport]] is the same plan shape.
  *
  * Scale notes: nation/region are broadcast (tiny dims — no shuffle of
  * the fact side); the orders→customer join shuffles on the customer
  * key only once; document assembly groups lineitem by order key — a
  * single hash aggregation whose partial (map-side) combine keeps the
  * shuffle proportional to distinct orders, not line items.
  */
object Medallion {

  /** Run the whole reference pipeline operationally: bronze document
    * table → silver enriched table → gold report, each committed as a
    * lakehouse snapshot (create-or-replace, like the reference's
    * `writeTo(...).createOrReplace()`), with the gold result also
    * exported through the JDBC-analog sink (reference:
    * gold_reporting.py:82, mode=overwrite). Returns the gold report
    * read back FROM the lakehouse — the round-trip is part of the
    * contract. */
  def runPipeline(spark: SparkSession, dir: String, lakeRoot: String): DataFrame = {
    val lake = new graft.sources.Lakehouse(spark, lakeRoot)
    inParallel( // three independent layer tables: overlap the writes (§2.6)
      () => { lake.createOrReplace(bronzeOrderDocs(spark, dir), "bronze_orders"); () },
      () => { lake.createOrReplace(silverEnrich(spark, dir), "silver_customers"); () },
      () => { lake.createOrReplace(goldSalesReport(spark, dir), "gold_sales"); () })
    graft.sources.Sinks.exportCsv(lake.read("gold_sales"), s"$lakeRoot/export/gold_sales_csv")
    lake.registerView("gold_sales")
    lake.read("gold_sales")
  }

  /** Decimal-exact sum surfaced as double: associative decimal addition
    * makes the result independent of partition order (cross-engine and
    * cross-run deterministic), unlike a naive double sum. */
  private def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  /** Assemble nested order documents (the Mongo/bronze document shape):
    * one row per order with an `items` array of structs. */
  def bronzeOrderDocs(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    val items = lineitem.select(
      col("l_orderkey"),
      struct(
        col("l_partkey").as("product_id"),
        col("l_quantity").as("quantity"),
        col("l_extendedprice").as("unit_price")
      ).as("item"))
    orders
      .join(items, col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_orderdate"), col("o_totalprice"))
      .agg(collect_list(col("item")).as("items"))
  }

  /** Flattened verification view of the bronze documents (array results
    * hash poorly across engines; the oracle checks the roll-up). */
  def bronzeVerification(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    orders
      .join(lineitem, col("o_orderkey") === col("l_orderkey"), "left")
      .groupBy(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      .agg(
        count(col("l_orderkey")).as("item_count"),
        dsum(col("l_extendedprice")).as("items_total"))
      .orderBy(col("o_orderkey"))
  }

  /** Silver: rebuild the shipping-address struct, adding the literal
    * country — identical struct surgery to the reference silver job. */
  def silverEnrich(spark: SparkSession, dir: String): DataFrame = {
    val customer = Tables.customer(spark, dir)
    val nation = Tables.nation(spark, dir)
    val region = Tables.region(spark, dir)
    val withAddr = customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(
        col("c_custkey"), col("c_name"), col("c_acctbal"),
        struct(
          col("n_name").as("city"),
          col("r_name").as("state"),
          col("c_custkey").cast("string").as("zip")
        ).as("shipping_address"))
    // The reference's transformation verbatim: rebuild the struct with a
    // country literal appended (silver_transformation.py:104-112).
    withAddr
      .withColumn("shipping_address",
        struct(
          col("shipping_address.city"),
          col("shipping_address.state"),
          col("shipping_address.zip"),
          lit("INDIA").as("country")))
  }

  /** Flattened silver output for the oracle. */
  def silverVerification(spark: SparkSession, dir: String): DataFrame =
    silverEnrich(spark, dir)
      .select(
        col("c_custkey"),
        col("shipping_address.city").as("city"),
        col("shipping_address.state").as("state"),
        col("shipping_address.zip").as("zip"),
        col("shipping_address.country").as("country"))
      .orderBy(col("c_custkey"))

  /** Gold: revenue report by (city, country) — the reference gold job's
    * exact plan shape (groupBy struct fields → sum/count → order desc). */
  def goldSalesReport(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val silver = silverEnrich(spark, dir)
    orders
      .join(silver, col("o_custkey") === col("c_custkey"))
      .groupBy(
        col("shipping_address.city").as("city"),
        col("shipping_address.country").as("country"))
      .agg(
        dsum(col("o_totalprice")).as("total_revenue"),
        count(col("o_orderkey")).as("order_count"))
      .orderBy(col("total_revenue").desc, col("city"))
  }

  /** SQL catalog access — the query_iceberg.ipynb path: register the
    * scale-factor dir as a namespace and query it with SQL. */
  def sqlCatalogQuery(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    // (r16) the ad-hoc query SAVES as a persisted view (`_views.jsonl`,
    // the Iceberg view-spec analog of the reference's notebook
    // queries), the catalog re-opens cold, and the saved query serves —
    // the oracle pins that the whole round-trip returns exactly the
    // plain SELECT's rows
    val root = java.nio.file.Files.createTempDirectory("graft-sqlcat").toString
    spark.conf.set(graft.sources.LakehouseCtasCommand.RootConf, root)
    try {
      spark.sql(
        """CREATE TABLE lhq_orders AS
          |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          |FROM orders""".stripMargin)
      spark.sql(
        """CREATE VIEW lhq_top AS
          |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
          |FROM lhq_orders
          |ORDER BY o_totalprice DESC, o_orderkey
          |LIMIT 10""".stripMargin)
      // cold restore: the session forgets, the catalog remembers
      spark.catalog.dropTempView("lhq_top")
      spark.catalog.dropTempView("lhq_orders")
      graft.sources.LakehouseRegistry.unregister(spark, "lhq_orders")
      graft.sources.Lakehouse.openCatalog(spark, root)
      spark.sql("SELECT * FROM lhq_top")
    } finally spark.conf.unset(graft.sources.LakehouseCtasCommand.RootConf)
  }

  /** `sql_lakehouse_ddl` — the SQL DDL/DML lifecycle of a lakehouse
    * table (the reference's `CREATE OR REPLACE` / `INSERT` / catalog
    * listing notebook surface, query_iceberg.ipynb): create a table
    * from a SQL SELECT, append a second SQL SELECT, upsert a third
    * through the MERGE-shaped SQL plan ([[graft.sources.Lakehouse
    * .sqlMerge]]), then aggregate the final state through the
    * registered view — all driver-checkable because every step is a
    * deterministic function of `orders`. */
  def sqlLakehouseDdl(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft-sqlddl").toString
    // the WHOLE lifecycle is parsed SQL now: CREATE TABLE AS routes to
    // the session's default lake, then INSERT / MERGE / UPDATE /
    // DELETE route through the snapshot-committing DML paths (the
    // reference issues the same statements through Iceberg's parser
    // extensions); the conf is scoped to this operator
    spark.conf.set(graft.sources.LakehouseCtasCommand.RootConf, root)
    try {
    spark.sql(
      """CREATE TABLE lh_orders AS
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin)
    spark.sql(
      """INSERT INTO lh_orders
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderstatus = 'O'""".stripMargin)
    spark.sql(
      """SELECT o_orderkey, o_orderstatus, o_totalprice * 2 AS o_totalprice
        |FROM orders WHERE o_custkey % 97 = 0""".stripMargin)
      .createOrReplaceTempView("merge_src")
    spark.sql(
      """MERGE INTO lh_orders USING merge_src
        |ON lh_orders.o_orderkey = merge_src.o_orderkey
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // conditional MERGE clauses (Iceberg's extended grammar): ordered
    // WHEN MATCHED [AND cond] THEN DELETE / UPDATE SET *, plus a
    // conditional INSERT — one snapshot commit, first-applicable-
    // clause semantics against the pre-merge state
    spark.sql(
      """SELECT o_orderkey, o_orderstatus, o_totalprice + 10 AS o_totalprice
        |FROM orders WHERE o_custkey % 89 = 0""".stripMargin)
      .createOrReplaceTempView("cond_src")
    spark.sql(
      """MERGE INTO lh_orders USING cond_src
        |ON lh_orders.o_orderkey = cond_src.o_orderkey
        |WHEN MATCHED AND lh_orders.o_totalprice > 150000 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED AND cond_src.o_totalprice < 100000 THEN INSERT *""".stripMargin)
    spark.sql("UPDATE lh_orders SET o_totalprice = o_totalprice + 1 WHERE o_orderkey % 11 = 0")
    spark.sql("DELETE FROM lh_orders WHERE o_orderkey % 7 = 0")
    // maintenance as parsed SQL: expire the 5 historical snapshots the
    // lifecycle created and sweep their dirs — the final aggregate
    // below proves the CURRENT state is untouched by retention
    spark.sql("VACUUM lh_orders RETAIN 1 SNAPSHOTS")
    spark.sql(
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM lh_orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)
    } finally spark.conf.unset(graft.sources.LakehouseCtasCommand.RootConf)
  }

  /** `sql_schema_evolution` — the SQL ALTER TABLE column lifecycle
    * (Iceberg's schema-evolution DDL, the capability the reference's
    * catalog tables inherit at mongo_to_iceberg.py:140 when the
    * document schema grows a field): CTAS → `ADD COLUMNS` (metadata
    * snapshot; pre-evolution rows read NULL) → UPDATE fills the new
    * columns on old rows → INSERT writes them on new rows →
    * `RENAME COLUMN` → `DROP COLUMN` → `ALTER COLUMN TYPE` widening
    * promotion (int→bigint; old int dirs up-cast at read) → a
    * PARTIAL-column-list INSERT (unlisted columns land NULL — the
    * shape an evolved schema makes routine) → aggregate through the
    * evolved schema. Every step is parsed SQL and a deterministic
    * function of `customer`, so the oracle replays the final state
    * relationally. */
  def sqlSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft-sqlevo").toString
    spark.conf.set(graft.sources.LakehouseCtasCommand.RootConf, root)
    try {
      spark.sql(
        """CREATE TABLE se_cust AS
          |SELECT c_custkey, c_name, c_acctbal
          |FROM customer WHERE c_custkey <= 500""".stripMargin)
      // additive evolution: metadata-only snapshot, no data rewritten
      spark.sql("ALTER TABLE se_cust ADD COLUMNS (tier STRING, bonus DOUBLE, visits INT)")
      // pre-evolution rows surface the new columns as NULL — fill via DML
      spark.sql("UPDATE se_cust SET tier = 'legacy', bonus = 0.0, visits = 1 WHERE tier IS NULL")
      // post-evolution INSERT takes the evolved 6-column schema
      spark.sql(
        """INSERT INTO se_cust
          |SELECT c_custkey + 100000, c_name, c_acctbal, 'fresh', c_acctbal * 2, 2
          |FROM customer WHERE c_custkey <= 200""".stripMargin)
      // rename resolves old dirs' physical name at read; drop is
      // metadata-only (history below it still shows the column)
      spark.sql("ALTER TABLE se_cust RENAME COLUMN c_acctbal TO balance")
      spark.sql("ALTER TABLE se_cust DROP COLUMN c_name")
      // widening promotion: committed int dirs stay int physically and
      // up-cast at read; the next INSERT writes bigint values
      spark.sql("ALTER TABLE se_cust ALTER COLUMN visits TYPE bigint")
      // partial column list: unlisted balance/bonus insert NULL
      spark.sql(
        """INSERT INTO se_cust (c_custkey, tier, visits)
          |SELECT c_custkey + 200000, 'partial', 4000000000
          |FROM customer WHERE c_custkey <= 100""".stripMargin)
      spark.sql(
        """SELECT tier, count(*) AS n,
          |  CAST(coalesce(sum(CAST(balance AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_balance,
          |  CAST(coalesce(sum(CAST(bonus AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_bonus,
          |  CAST(sum(visits) AS BIGINT) AS total_visits
          |FROM se_cust
          |GROUP BY tier
          |ORDER BY tier""".stripMargin)
    } finally spark.conf.unset(graft.sources.LakehouseCtasCommand.RootConf)
  }

  /** `sql_time_travel` — SQL time travel on a lakehouse table
    * (Iceberg's `VERSION AS OF` query surface): CTAS a table, INSERT
    * a second tranche as parsed SQL, then read the PRE-insert
    * snapshot via `VERSION AS OF` in the same statement as the
    * current state — both resolved by [[graft.sources
    * .GraftSqlParser]] on Spark's parsed plan, and checkable against
    * the oracle because every step is a deterministic function of
    * `orders`. */
  def sqlTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft-sqltt").toString
    val lake = new graft.sources.Lakehouse(spark, root)
    val v1 = lake.createOrReplace(spark.sql(
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'F'"),
      "tt_orders")
    lake.registerView("tt_orders")
    spark.sql(
      """INSERT INTO tt_orders
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderstatus = 'O'""".stripMargin)
    spark.sql(
      s"""SELECT 'v1' AS at, o_orderstatus, count(*) AS n
         |FROM tt_orders VERSION AS OF $v1
         |GROUP BY o_orderstatus
         |UNION ALL
         |SELECT 'now' AS at, o_orderstatus, count(*) AS n
         |FROM tt_orders
         |GROUP BY o_orderstatus
         |ORDER BY at, o_orderstatus""".stripMargin)
  }

  /** `sql_hidden_partition` — HIDDEN PARTITIONING through the SQL
    * surface (Iceberg partition transforms, the layout machinery
    * behind the reference's catalog tables at mongo_to_iceberg.py:140):
    * an events table lands with a daily hidden layout (`days(ts)` —
    * the layout column never appears in the schema), `ALTER TABLE …
    * SET PARTITION SPEC` evolves it to hourly for subsequent writes,
    * a parsed INSERT takes the evolved layout, a parsed UPDATE
    * rewrites across BOTH hidden layouts, and the final time-range
    * read prunes day/hour leaves from a predicate on the raw `ts`
    * column alone. Deterministic function of `events` — the oracle
    * replays update + range + aggregate in plain SQL. */
  def sqlHiddenPartition(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    Tables.registerAll(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft-hidden").toString
    val lake = new graft.sources.Lakehouse(spark, root)
    // hash write distribution keeps every hidden layout at one file
    // per leaf (the events span ~30 days: an undistributed daily
    // write would emit tasks×days files; prior value restored in
    // finally so a user's session-level setting survives)
    val priorDist = spark.conf.getOption("spark.graft.write-distribution")
    spark.conf.set("spark.graft.write-distribution", "hash")
    spark.conf.set(graft.sources.LakehouseCtasCommand.RootConf, root)
    try {
      // parsed CTAS with a hidden transform spec — the daily layout is
      // declared in SQL and never appears in the schema
      spark.sql(
        """CREATE TABLE lh_events PARTITIONED BY (days(ts))
          |AS SELECT * FROM events WHERE event_type = 'click'""".stripMargin)
      // SQL partition evolution: subsequent writes hash into 16
      // user buckets; the committed daily dir keeps its layout
      spark.sql("ALTER TABLE lh_events SET PARTITION SPEC (bucket(16, user_id))")
      spark.sql("INSERT INTO lh_events SELECT * FROM events WHERE event_type <> 'click'")
      spark.sql("UPDATE lh_events SET value = value * 2 WHERE event_type = 'purchase'")
      lake.readWhere(
        col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-05 00:00:00")) &&
          col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-12 00:00:00")),
        "lh_events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy("event_type")
    } finally {
      priorDist match {
        case Some(v) => spark.conf.set("spark.graft.write-distribution", v)
        case None => spark.conf.unset("spark.graft.write-distribution")
      }
      spark.conf.unset(graft.sources.LakehouseCtasCommand.RootConf)
    }
  }

  /** `sql_branch_workflow` — the reference's NESSIE_REF branch
    * workflow (gold_reporting.py:26: every job selects its branch by
    * env var and main only sees merged work) run END TO END as parsed
    * SQL: CTAS on main → `ALTER TABLE … CREATE BRANCH etl` →
    * branch-scoped INSERT + UPDATE (session conf `spark.graft.branch`)
    * → isolation readout (main unchanged, branch addressable via
    * `VERSION AS OF 'etl'`) → `ALTER TABLE … FAST FORWARD etl` →
    * main sees the merge. Deterministic over `orders`, so the oracle
    * replays the three states relationally. */
  def sqlBranchWorkflow(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft-branchwf").toString
    spark.conf.set(graft.sources.LakehouseCtasCommand.RootConf, root)
    try {
      spark.sql(
        """CREATE TABLE bw_orders AS
          |SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM orders WHERE o_orderstatus = 'F'""".stripMargin)
      spark.sql("ALTER TABLE bw_orders CREATE BRANCH etl")
      spark.conf.set("spark.graft.branch", "etl")
      try {
        // branch-scoped DML: main must not see either statement
        spark.sql(
          """INSERT INTO bw_orders
            |SELECT o_orderkey, o_orderstatus, o_totalprice
            |FROM orders WHERE o_orderstatus = 'O'""".stripMargin)
        // exact double arithmetic (integer subtract) — a fractional
        // multiplier like *0.9 diverges between engines at the
        // DECIMAL cast (shortest-repr vs binary rounding)
        spark.sql(
          "UPDATE bw_orders SET o_totalprice = o_totalprice - 50000 WHERE o_totalprice > 200000")
      } finally spark.conf.unset("spark.graft.branch")
      def agg(label: String, from: String) = spark.sql(
        s"""SELECT '$label' AS at, count(*) AS n,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM $from""".stripMargin)
      // the isolation readout pins BEFORE the merge (analysis inlines
      // the pinned snapshot; immutable dirs keep it valid after)
      val before = agg("main_before", "bw_orders")
      val branch = agg("branch", "bw_orders VERSION AS OF 'etl'")
      spark.sql("ALTER TABLE bw_orders FAST FORWARD etl")
      val after = agg("main_after", "bw_orders")
      before.unionAll(branch).unionAll(after).orderBy("at")
    } finally spark.conf.unset(graft.sources.LakehouseCtasCommand.RootConf)
  }

  /** `sql_maintenance` — the Iceberg maintenance-procedure lifecycle
    * as parsed SQL (`CALL system.…`, the statements a scheduler runs
    * against the reference's catalog tables): CTAS → two INSERT
    * appends → `rewrite_data_files` (binpack folds the append chain;
    * state must be bit-identical) → `rollback_to_snapshot` (undo the
    * last insert; readout sees the old state) → roll forward →
    * `expire_snapshots` + `remove_orphan_files` (history truncated to
    * the head; data still intact). Deterministic over `orders`, so
    * the oracle replays the three states relationally. */
  def sqlMaintenance(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft-maint").toString
    spark.conf.set(graft.sources.LakehouseCtasCommand.RootConf, root)
    try {
      spark.sql(
        """CREATE TABLE mt_orders AS
          |SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM orders WHERE o_orderstatus = 'F'""".stripMargin)
      spark.sql(
        """INSERT INTO mt_orders
          |SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM orders WHERE o_orderstatus = 'O'""".stripMargin)
      spark.sql(
        """INSERT INTO mt_orders
          |SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM orders WHERE o_orderstatus = 'P'""".stripMargin)
      // binpack fold: 3 dirs -> 1, data unchanged (snapshot 4)
      spark.sql("CALL system.rewrite_data_files('mt_orders')").collect()
      // each readout is ONE row — freeze it eagerly, because the
      // expiry below physically deletes the dirs a lazy plan pinned
      def agg(label: String) = {
        val df = spark.sql(
          s"""SELECT '$label' AS at, count(*) AS n,
             |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
             |FROM mt_orders""".stripMargin)
        spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
      }
      val compacted = agg("after_compact")
      spark.sql("CALL system.rollback_to_snapshot('mt_orders', 2)").collect()
      val rolledBack = agg("after_rollback")
      spark.sql("CALL system.rollback_to_snapshot('mt_orders', 4)").collect()
      spark.sql("CALL system.expire_snapshots('mt_orders', retain_last => 1)").collect()
      spark.sql("CALL system.remove_orphan_files('mt_orders', older_than_ms => 0)").collect()
      val fin = agg("final")
      compacted.unionAll(rolledBack).unionAll(fin).orderBy("at")
    } finally spark.conf.unset(graft.sources.LakehouseCtasCommand.RootConf)
  }

  /** `sql_stats_agg` — METADATA-ONLY AGGREGATES through plain SQL
    * on a registered name (the Iceberg aggregate-pushdown surface):
    * three INSERT batches land, then `SELECT count(*) / min / max /
    * sum FROM t` plans through the name's DSv2 relation, whose pushed
    * aggregate ([[graft.sources.spj.SpjMetaAgg]]) answers from the
    * row-count, stats and sums ledgers. The readout reports
    * `meta_only = 1` only when the executed plan is a
    * LocalTableScanExec with NO BatchScanExec ([[metaOnlyPlan]]) —
    * and the DuckDB oracle pins that as a literal 1.0, so the scale
    * property (a 100 TB table's count is a driver-side metadata
    * readout) is hash-checked cross-engine, not just spec-asserted.
    * The predicated count plans like any filtered read: stats pruning,
    * then a scan of the surviving files. */
  def sqlStatsAgg(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft-statsagg").toString
    spark.conf.set(graft.sources.LakehouseCtasCommand.RootConf, root)
    try {
      spark.sql(
        """CREATE TABLE sa_orders AS
          |SELECT o_orderkey, o_orderstatus, o_totalprice,
          |  CAST(o_totalprice AS DECIMAL(12,2)) AS price
          |FROM orders WHERE o_orderstatus = 'F'""".stripMargin)
      spark.sql(
        """INSERT INTO sa_orders
          |SELECT o_orderkey, o_orderstatus, o_totalprice,
          |  CAST(o_totalprice AS DECIMAL(12,2)) AS price
          |FROM orders WHERE o_orderstatus = 'O'""".stripMargin)
      // declare + backfill write-time sums (the compute-stats
      // procedure): the first two dirs backfill with one pass each,
      // the third INSERT below records its sums inline at write time
      spark.sql("CALL system.compute_sums(table => 'sa_orders', columns => 'price,o_orderkey')")
        .collect()
      spark.sql(
        """INSERT INTO sa_orders
          |SELECT o_orderkey, o_orderstatus, o_totalprice,
          |  CAST(o_totalprice AS DECIMAL(12,2)) AS price
          |FROM orders WHERE o_orderstatus = 'P'""".stripMargin)
      val q = spark.sql(
        """SELECT count(*) AS n_total, min(o_orderkey) AS k_lo, max(o_orderkey) AS k_hi,
          |  min(o_totalprice) AS p_lo, max(o_totalprice) AS p_hi,
          |  sum(o_orderkey) AS s_key, sum(price) AS s_price
          |FROM sa_orders""".stripMargin)
      val meta = q.collect().head
      val metaOnly = metaOnlyPlan(q)
      val cheap = spark.sql(
        "SELECT count(*) AS n FROM sa_orders WHERE o_totalprice < 150000.0").head().getLong(0)
      import spark.implicits._
      Seq(
        ("k_hi", meta.getAs[Number]("k_hi").doubleValue()),
        ("k_lo", meta.getAs[Number]("k_lo").doubleValue()),
        ("meta_only", metaOnly),
        ("n_cheap", cheap.toDouble),
        ("n_total", meta.getAs[Number]("n_total").doubleValue()),
        ("p_hi", meta.getAs[Number]("p_hi").doubleValue()),
        ("p_lo", meta.getAs[Number]("p_lo").doubleValue()),
        ("s_key", meta.getAs[Number]("s_key").doubleValue()),
        ("s_price", meta.getAs[java.math.BigDecimal]("s_price").doubleValue())
      ).toDF("metric", "value").orderBy("metric")
    } finally spark.conf.unset(graft.sources.LakehouseCtasCommand.RootConf)
  }

  /** `sql_group_agg` — GROUPED AGGREGATE PUSHDOWN at the driver
    * surface (the reference's gold query made metadata-priced;
    * reference: spark_jobs/gold_reporting.py:70 recomputes
    * `groupBy(city).agg(sum, count)` by scanning every run): orders
    * land in a lakehouse table PARTITIONED by `o_orderstatus` across
    * three commits with declared write-time sums, and the SQL
    * `SELECT status, count, sum, min, max … GROUP BY status ORDER BY
    * total DESC` answers from the partition paths + rowcount + sums +
    * stats ledgers through the registered name's DSv2 relation
    * ([[graft.sources.spj.SpjMetaAgg]]'s grouped path). The readout
    * pins `meta_only = 1.0` — a LocalTableScanExec and no
    * BatchScanExec in the executed plan — alongside the per-group
    * values, so the oracle hash-checks both the
    * SEMANTICS (the grouped scan's exact rows) and the SCALE PROPERTY
    * (at 100 TB the daily report is a driver-side metadata fold over
    * O(partitions), not a table scan). */
  def sqlGroupAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Lakehouse
    val root = java.nio.file.Files.createTempDirectory("graft-groupagg").toString
    val lake = new Lakehouse(spark, root)
    lake.declareSumColumns("ga_orders", Seq("price", "o_orderkey"))
    val orders = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(12,2)").as("price"))
    lake.createOrReplace(orders.where(col("o_orderkey") % 3 === 0), "ga_orders",
      partitionBy = Seq("o_orderstatus"))
    lake.append(orders.where(col("o_orderkey") % 3 === 1), "ga_orders",
      partitionBy = Seq("o_orderstatus"))
    lake.append(orders.where(col("o_orderkey") % 3 === 2), "ga_orders",
      partitionBy = Seq("o_orderstatus"))
    lake.registerView("ga_orders", Seq("o_orderstatus"))
    val grouped = spark.sql(
      """SELECT o_orderstatus, count(*) AS n_orders, sum(price) AS total_price,
        |  min(o_orderkey) AS k_lo, max(o_orderkey) AS k_hi
        |FROM ga_orders GROUP BY o_orderstatus ORDER BY total_price DESC""".stripMargin)
    val rows = grouped.collect()
    val metaOnly = metaOnlyPlan(grouped)
    import spark.implicits._
    rows.toSeq.map { r =>
      (r.getString(0), r.getLong(1),
        r.getDecimal(2).doubleValue(), r.getLong(3), r.getLong(4), metaOnly)
    }.toDF("o_orderstatus", "n_orders", "total_price", "k_lo", "k_hi", "meta_only")
      .orderBy("o_orderstatus")
  }

  /** `q_bucket_join` — CO-LOCATED JOIN over catalog-persisted
    * BUCKETED tables at the driver surface: both sides land
    * pre-bucketed on the join key (8 buckets), broadcast is disabled
    * so the planner must choose between a shuffled and a bucket-local
    * merge join, and the readout reports `colocated = 1` only when
    * the executed join plan contains NO Exchange — the oracle pins
    * that as a literal 1.0, so the shuffle-free property (the point
    * of bucketing: at 100 TB the fact-fact equi-join moves zero
    * bytes) is hash-checked cross-engine alongside the join's
    * per-segment rollup. */
  def qBucketJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Lakehouse
    val root = java.nio.file.Files.createTempDirectory("graft-bjoin").toString
    val lake = new Lakehouse(spark, root)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      inParallel( // independent tables: overlap the setup writes (§2.6)
        () => { lake.writeBucketed(Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
          "bj_orders", Seq("o_custkey"), 8); () },
        () => { lake.writeBucketed(Tables.customer(spark, dir)
          .select(col("c_custkey"), col("c_mktsegment")),
          "bj_customer", Seq("c_custkey"), 8); () })
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bj_orders")
        .join(spark.table("bj_customer"), col("o_custkey") === col("c_custkey"))
      val colocated = if (Medallion.plansShuffle(joined)) 0.0 else 1.0
      joined
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .withColumn("colocated", lit(colocated))
        .orderBy("c_mktsegment")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bj_orders")
      spark.sql("DROP TABLE IF EXISTS bj_customer")
    }
  }

  /** Run INDEPENDENT setup writes concurrently (guide §2.6: the
    * scheduler happily overlaps jobs — actions are sequential only
    * because the driver calls them sequentially). Used for lifecycle
    * queries whose source tables are DISTINCT (per-table commit locks
    * never contend); each write's job tail back-fills the other's
    * idle cores. Failures rethrow the original cause. */
  private def inParallel(tasks: (() => Unit)*): Unit =
    if (tasks.length <= 1) tasks.foreach(_.apply())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(tasks.length)
      try tasks.map(t => pool.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = t()
      })).foreach { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
      }
      finally pool.shutdown()
    }

  // each q_spj_join call builds a fresh lakehouse root; Spark caches
  // catalog instances by NAME with first-use options, so every call
  // registers a fresh catalog name
  private val spjCatalogSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** `q_spj_join` — STORAGE-PARTITIONED JOIN over hidden `bucket(n,k)`
    * layouts ([[graft.sources.spj.GraftSpjCatalog]], the Iceberg-SPJ
    * analog): orders and customer land as lakehouse tables hidden-
    * partitioned by the SAME `bucket(8, custkey)` transform — no
    * Spark-native bucketed companion copy — and the join planned
    * through the DSv2 catalog reports `KeyGroupedPartitioning` on both
    * scans, so `EnsureRequirements` proves bucket-by-bucket
    * co-location and plans NO Exchange. The readout pins
    * `colocated = 1.0` (a [[plansShuffle]] tree walk over plan node
    * classes, not a string match) alongside the grouped join results,
    * so the oracle hash-checks both the SEMANTICS (same rows as the
    * shuffled join) and the SCALE PROPERTY (at 100 TB the fact-fact
    * equi-join's dominant shuffle is deleted — paid once at write
    * time by the layout, like [[qBucketJoin]] but straight off the
    * hidden-partitioned table). */
  def qSpjJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Lakehouse
    import graft.sources.spj.GraftSpjCatalog
    val root = java.nio.file.Files.createTempDirectory("graft-spjjoin").toString
    val lake = new Lakehouse(spark, root)
    inParallel( // independent tables: overlap the setup writes (§2.6)
      () => { lake.createOrReplace(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
        "spjq_orders", Seq("bucket(8,o_custkey)")); () },
      () => { lake.createOrReplace(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        "spjq_customer", Seq("bucket(8,c_custkey)")); () })
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevBucketing = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table(s"$cat.spjq_orders")
        .join(spark.table(s"$cat.spjq_customer"),
          col("o_custkey") === col("c_custkey"))
      val colocated = if (plansShuffle(joined)) 0.0 else 1.0
      // freeze inside the conf scope (≤ |mktsegments| rows): the
      // Exchange-free plan must be the one that EXECUTES, not just the
      // one inspected — a lazy return would re-plan after the finally
      // restores the session confs
      val rows = joined
        .groupBy(col("c_mktsegment"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("c_mktsegment")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), colocated))
      import spark.implicits._
      rows.toSeq.toDF("c_mktsegment", "n", "total", "colocated")
        .orderBy("c_mktsegment")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      prevBucketing match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    }
  }

  /** ONE-PASS multiset equality of two same-schema relations: tag each
    * side ±1, aggregate net counts per full row, any nonzero ⇒ differ.
    * Equivalent to `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty`
    * (groupBy and exceptAll share null-safe row equality) but costs ONE
    * union-aggregate job + a limit-1 probe instead of two full
    * union-aggregate passes (optimization guide §1.2/§2.4: remove
    * redundant passes — at 100 TB a replica-reconciliation check reads
    * both tables once, not twice). */
  private[graft] def sameMultiset(a: DataFrame, b: DataFrame): Boolean = {
    val cols = a.columns.toSeq
    // withColumn silently REPLACES an existing column: an input that
    // already carried either tag name would drop that column from the
    // comparison (possible false "equal") — refuse loudly instead
    require(!cols.contains("__side") && !cols.contains("__net"),
      s"sameMultiset inputs must not carry reserved tag columns __side/__net: $cols")
    a.select(cols.map(col): _*).withColumn("__side", lit(1L))
      .unionByName(b.select(cols.map(col): _*).withColumn("__side", lit(-1L)))
      .groupBy(cols.map(col): _*)
      .agg(sum(col("__side")).as("__net"))
      .where(col("__net") =!= 0L)
      .isEmpty
  }

  // plan probes for the SPJ DSv2 readouts below: does the executed
  // (possibly adaptive) plan contain the given node / a file scan?
  // AQE query stages are LEAVES whose subtree hangs off `.plan`.
  private[graft] def collectExec[T](df: DataFrame)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[T] =
      (if (pf.isDefinedAt(p)) Seq(pf(p)) else Nil) ++ (p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => (other.children ++ other.subqueries).flatMap(walk)
      })
    walk(df.queryExecution.executedPlan)
  }

  /** 1.0 when `df`'s executed plan answered from the ledgers — a
    * LocalTableScanExec holding the pushed aggregate's finished rows
    * and NO BatchScanExec — else 0.0: the `meta_only` readout. */
  private[graft] def metaOnlyPlan(df: DataFrame): Double = {
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    if (collectExec(df) { case l: LocalTableScanExec => l }.nonEmpty &&
      collectExec(df) { case b: BatchScanExec => b }.isEmpty) 1.0 else 0.0
  }

  /** `q_spj_agg` — DSv2 AGGREGATE PUSHDOWN answered from the ledgers
    * ([[graft.sources.spj.SpjMetaAgg]], the Iceberg
    * `SupportsPushDownAggregates` analog): a global
    * count/min/max/sum over a bucket-layout table plans as ONE
    * driver-local row — no file scan, no executors — read out of the
    * row-count, null-count, bound and sum ledgers the writer recorded.
    * The readout pins `meta_only = 1.0` from a plan-node walk (a
    * LocalTableScanExec and NO BatchScanExec), so the oracle
    * hash-checks both the VALUES (bit-equal to DuckDB's scan) and the
    * SCALE PROPERTY: at 100 TB the whole readout is a metadata fold
    * over O(files) ledger lines on the driver. [[sqlStatsAgg]] reaches
    * the same pushdown through a registered name; this one addresses
    * the catalog directly — any DataFrame/SQL client of it gets it. */
  def qSpjAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Lakehouse
    import graft.sources.spj.GraftSpjCatalog
    val root = java.nio.file.Files.createTempDirectory("graft-spjagg").toString
    val lake = new Lakehouse(spark, root)
    // sums are opt-in per table: declared before the write (the
    // Iceberg compute_table_stats flow), recorded while the data is hot
    lake.declareSumColumns("spjq_agg", Seq("o_orderkey", "o_price_d"))
    lake.createOrReplace(Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(12,2)").as("o_price_d")),
      "spjq_agg", Seq("bucket(8,o_custkey)"))
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val q = spark.sql(
      s"""SELECT count(*) AS n_total,
         |  min(o_orderkey) AS k_lo, max(o_orderkey) AS k_hi,
         |  min(o_orderstatus) AS s_lo, max(o_orderstatus) AS s_hi,
         |  sum(o_orderkey) AS s_key, sum(o_price_d) AS s_price
         |FROM $cat.spjq_agg""".stripMargin)
    val r = q.collect().head
    val metaOnly = metaOnlyPlan(q)
    import spark.implicits._
    Seq((r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4),
      r.getLong(5), r.getDecimal(6).doubleValue(), metaOnly))
      .toDF("n_total", "k_lo", "k_hi", "s_lo", "s_hi", "s_key", "s_price", "meta_only")
  }

  /** `q_spj_group_agg` — GROUPED DSv2 aggregate pushdown over an
    * IDENTITY partition layout ([[graft.sources.spj.SpjMetaAgg]]
    * grouped path): orders lands hidden-partitioned by
    * `o_orderstatus`, so `GROUP BY o_orderstatus` with
    * count/min/max/sum legs is answered ENTIRELY from the per-file
    * ledgers — each partition dir is one group, its key read off the
    * path, its aggregates the same provable ledger fold restricted to
    * that dir's files. This is the reference's literal gold-layer
    * rollup (gold_reporting.py:70 groups by a low-cardinality
    * dimension) priced as a driver-side metadata readout: at 100 TB
    * the query plans ONE LocalTableScanExec with |statuses| rows, no
    * executors, no files. The readout pins `meta_only = 1.0` from a
    * plan-node walk (LocalTableScanExec present, no BatchScanExec), so
    * the oracle hash-checks values and the scale property together. */
  def qSpjGroupAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Lakehouse
    import graft.sources.spj.GraftSpjCatalog
    val root = java.nio.file.Files.createTempDirectory("graft-spjga").toString
    val lake = new Lakehouse(spark, root)
    lake.declareSumColumns("spjq_gagg", Seq("o_orderkey", "o_price_d"))
    lake.createOrReplace(Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(12,2)").as("o_price_d")),
      "spjq_gagg", Seq("o_orderstatus"))
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val q = spark.sql(
      s"""SELECT o_orderstatus, count(*) AS n_orders,
         |  min(o_orderkey) AS k_lo, max(o_orderkey) AS k_hi,
         |  sum(o_orderkey) AS s_key, sum(o_price_d) AS s_price
         |FROM $cat.spjq_gagg
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    val rows = q.collect()
    val metaOnly = metaOnlyPlan(q)
    import spark.implicits._
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getDecimal(5).doubleValue(), metaOnly)).toSeq
      .toDF("o_orderstatus", "n_orders", "k_lo", "k_hi", "s_key", "s_price", "meta_only")
      .orderBy("o_orderstatus")
  }

  /** `q_spj_two_level` — IDENTITY × BUCKET layouts (the Iceberg fact
    * canon, `PARTITIONED BY (status, bucket(8, custkey))`): the DSv2
    * scan reports a TWO-transform `KeyGroupedPartitioning`
    * (identity(status), bucket(8,custkey)) whose partition tuples
    * align position-for-position across tables sharing the spec, so a
    * join on BOTH dimensions plans NO Exchange; and the grouped
    * aggregate pushdown answers `GROUP BY status` by unioning each
    * status's bucket cells — still a driver-local ledger readout. The
    * readout pins `colocated = 1.0` (plan-node walk on the two-dim
    * join) and `meta_only = 1.0` (LocalTableScanExec, no
    * BatchScanExec) alongside the rollup. At 100 TB this is the
    * standard time/status-partitioned bucketed fact: per-dimension
    * file pruning, shuffle-free fact-fact joins, and metadata-priced
    * gold rollups off ONE layout paid at write time. */
  def qSpjTwoLevel(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Lakehouse
    import graft.sources.spj.GraftSpjCatalog
    val root = java.nio.file.Files.createTempDirectory("graft-spj2l").toString
    val lake = new Lakehouse(spark, root)
    lake.declareSumColumns("spjq_2l", Seq("o_price_d"))
    val orders = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(12,2)").as("o_price_d"))
    inParallel( // independent tables: overlap the setup writes (§2.6)
      () => { lake.createOrReplace(orders, "spjq_2l",
        Seq("o_orderstatus", "bucket(8,o_custkey)")); () },
      () => { lake.createOrReplace(orders.select(
        col("o_orderkey").as("p_orderkey"), col("o_custkey").as("p_custkey"),
        col("o_orderstatus").as("p_status")),
        "spjq_2lp", Seq("p_status", "bucket(8,p_custkey)")); () })
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevBucketing = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val colocated = try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table(s"$cat.spjq_2l")
        .join(spark.table(s"$cat.spjq_2lp"),
          col("o_custkey") === col("p_custkey") &&
            col("o_orderstatus") === col("p_status"))
      // the two-dim join must EXECUTE Exchange-free inside the scope
      val flag = if (!plansShuffle(j)) 1.0 else 0.0
      require(j.count() > 0)
      flag
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      prevBucketing match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    }
    val g = spark.sql(
      s"""SELECT o_orderstatus, count(*) AS n_orders,
         |  min(o_orderkey) AS k_lo, max(o_orderkey) AS k_hi,
         |  sum(o_price_d) AS s_price
         |FROM $cat.spjq_2l GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    val rows = g.collect()
    val metaOnly = metaOnlyPlan(g)
    import spark.implicits._
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getDecimal(4).doubleValue(), metaOnly, colocated)).toSeq
      .toDF("o_orderstatus", "n_orders", "k_lo", "k_hi", "s_price",
        "meta_only", "colocated")
      .orderBy("o_orderstatus")
  }

  /** `q_spj_group_stats` — GROUPED AGGREGATE PUSHDOWN BEYOND the
    * identity shapes (r17): the DSv2 grouped readout accepts ANY group
    * column set whose columns are PER-FILE CONSTANT — here a pure
    * `bucket(4, o_orderkey)` layout (no identity level) written one
    * order-status per commit, the write-clustered pattern: each file's
    * ledger records min == max with zero nulls, proving
    * single-valuedness, and an all-null commit keys the NULL group
    * (nulls == rows) — so `GROUP BY o_orderstatus, gen` answers from
    * the stats/rowcount/sums ledgers with ZERO data opens
    * (`meta_only = 1.0` pins the driver-local LocalTableScan plan).
    * At 100 TB a per-source/per-day append pipeline gets its GROUP BY
    * source rollup as a metadata readout without declaring a
    * partition level for the column. */
  def qSpjGroupStats(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Lakehouse
    import graft.sources.spj.GraftSpjCatalog
    val root = java.nio.file.Files.createTempDirectory("graft-spjgs").toString
    val lake = new Lakehouse(spark, root)
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"))
    lake.declareSumColumns("spjq_gs", Seq("o_orderkey"))
    lake.createOrReplace(
      orders.where(col("o_orderstatus") === "F").withColumn("gen", lit(1L)),
      "spjq_gs", Seq("bucket(4,o_orderkey)"))
    lake.append(
      orders.where(col("o_orderstatus") === "O").withColumn("gen", lit(2L)),
      "spjq_gs", Seq("bucket(4,o_orderkey)"))
    lake.append(
      orders.where(col("o_orderkey") % 10 === 0)
        .withColumn("o_orderstatus", lit(null).cast("string"))
        .withColumn("gen", lit(3L)),
      "spjq_gs", Seq("bucket(4,o_orderkey)"))
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val g = spark.sql(
      s"""SELECT o_orderstatus, gen, count(*) AS cnt,
         |  min(o_orderkey) AS k_lo, max(o_orderkey) AS k_hi,
         |  sum(o_orderkey) AS s_key, avg(o_orderkey) AS a_key,
         |  count(DISTINCT o_orderstatus) AS d_status
         |FROM $cat.spjq_gs GROUP BY o_orderstatus, gen""".stripMargin)
    val rows = g.collect()
    val metaOnly = metaOnlyPlan(g)
    import spark.implicits._
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6), r.getLong(7),
      metaOnly)).toSeq
      .toDF("o_orderstatus", "gen", "cnt", "k_lo", "k_hi", "s_key", "a_key",
        "d_status", "meta_only")
      .orderBy("gen")
  }

  /** `q_spj_filter_claim` — CLAIMED-EXACT IDENTITY FILTERS (r17): an
    * `=`/`IN`/`IS [NOT] NULL` conjunct on the identity partition
    * column is FULLY handled by dir pruning (every row of an identity
    * dir carries the dir's decoded value; comparison happens in the
    * injective canonical string domain the writer encoded), so the
    * filter VANISHES from the plan instead of staying residual — and
    * composes with the grouped metadata readout: a filtered rollup
    * over an identity-partitioned fact answers from the kept dirs'
    * ledgers with ZERO data opens and NO Filter node. `meta_only`
    * pins the LocalTableScan plan, `no_filter` pins the vanished
    * conjunct. At 100 TB this is the dashboard query — count/sum by
    * segment WHERE segment IN (...) — priced as a driver-local
    * metadata fold. */
  def qSpjFilterClaim(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.FilterExec
    import graft.sources.Lakehouse
    import graft.sources.spj.GraftSpjCatalog
    val root = java.nio.file.Files.createTempDirectory("graft-spjfc").toString
    val lake = new Lakehouse(spark, root)
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"))
    lake.declareSumColumns("spjq_fc", Seq("o_orderkey"))
    lake.createOrReplace(orders, "spjq_fc", Seq("o_orderstatus"))
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val g = spark.sql(
      s"""SELECT o_orderstatus, count(*) AS n, sum(o_orderkey) AS sk,
         |  avg(o_orderkey) AS ak
         |FROM $cat.spjq_fc WHERE o_orderstatus IN ('F', 'O')
         |GROUP BY o_orderstatus""".stripMargin)
    val rows = g.collect()
    val metaOnly = metaOnlyPlan(g)
    val noFilter =
      if (collectExec(g) { case f: FilterExec => f }.isEmpty) 1.0 else 0.0
    import spark.implicits._
    rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
      metaOnly, noFilter)).toSeq
      .toDF("o_orderstatus", "n", "sk", "ak", "meta_only", "no_filter")
      .orderBy("o_orderstatus")
  }

  /** `q_spj_time_claim` — CLAIMED days(DATE) TIME-WINDOW FILTERS
    * (r17): on a `days(d) × bucket` daily fact whose source column is
    * a DATE, EVERY comparison conjunct on `d` — ranges included — is
    * DIR-EXACT (a DATE is day-granular, so a day dir's rows all carry
    * exactly the dir's date): the window predicate VANISHES from the
    * plan and a windowed rollup answers from the kept day dirs'
    * ledgers with ZERO data opens. The dominant dashboard shape at
    * 100 TB — `count/sum WHERE d BETWEEN …` over years of daily
    * partitions — priced as a driver-local metadata fold over O(window)
    * dirs. `meta_only` pins the LocalTableScan plan, `no_filter` the
    * vanished conjuncts. */
  def qSpjTimeClaim(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.FilterExec
    import graft.sources.Lakehouse
    import graft.sources.spj.GraftSpjCatalog
    val root = java.nio.file.Files.createTempDirectory("graft-spjtc").toString
    val lake = new Lakehouse(spark, root)
    // a two-month slice keeps the day-dir count bench-sized (the day
    // count is date-span-bound, not SF-bound)
    val orders = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1995-03-01")
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("date").as("d"))
    lake.declareSumColumns("spjq_tc", Seq("o_orderkey"))
    // hash write distribution (Iceberg write.distribution-mode=hash):
    // the 59-day × 4-bucket layout is ~236 leaves — an undistributed
    // write from the narrow orders scan serializes all leaf writers in
    // one task (measured 4.5 s of this query's 5.5 s) and at scale
    // emits tasks×leaves files; one shuffle clusters rows per leaf so
    // the leaf writers run in parallel, one file per leaf either way
    val priorDistTc = spark.conf.getOption("spark.graft.write-distribution")
    spark.conf.set("spark.graft.write-distribution", "hash")
    try lake.createOrReplace(orders, "spjq_tc", Seq("days(d)", "bucket(4,o_custkey)"))
    finally priorDistTc match {
      case Some(v) => spark.conf.set("spark.graft.write-distribution", v)
      case None => spark.conf.unset("spark.graft.write-distribution")
    }
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val g = spark.sql(
      s"""SELECT count(*) AS n, sum(o_orderkey) AS sk,
         |  min(o_orderkey) AS k_lo, max(o_orderkey) AS k_hi
         |FROM $cat.spjq_tc
         |WHERE d BETWEEN DATE'1995-01-15' AND DATE'1995-02-14'""".stripMargin)
    val rows = g.collect()
    val metaOnly = metaOnlyPlan(g)
    val noFilter =
      if (collectExec(g) { case f: FilterExec => f }.isEmpty) 1.0 else 0.0
    import spark.implicits._
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      metaOnly, noFilter)).toSeq
      .toDF("n", "sk", "k_lo", "k_hi", "meta_only", "no_filter")
  }

  /** `q_spj_daily_join` — CALENDAR-TRANSFORM × BUCKET layouts at the
    * driver surface (`years(o_orderdate) × bucket(8, o_custkey)` —
    * the time-partitioned bucketed fact canon; `days()` is the same
    * machinery, spec-exercised, kept off the bench for leaf-count
    * sanity at tiny SFs): two facts sharing the spec JOIN ON THE
    * BUCKET KEY ALONE — Spark groups the (year, bucket) partition
    * tuples by the subset key under
    * `allowJoinKeysSubsetOfPartitionKeys` and still proves
    * co-location, NO Exchange (`colocated = 1.0`); and a DATE-RANGE
    * predicate prunes the other years' files at plan time through the
    * per-file date ledgers — temporal literals map to the ledger's
    * epoch-days domain (`pruned = 1.0`). At 100 TB this is the
    * everyday query pair over ONE write-time layout: the daily fact
    * joins on id without a shuffle, and the time-windowed scan reads
    * O(window), not the table. */
  def qSpjDailyJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.sources.Lakehouse
    import graft.sources.spj.{GraftSpjCatalog, GraftSpjScan}
    val root = java.nio.file.Files.createTempDirectory("graft-spjdj").toString
    val lake = new Lakehouse(spark, root)
    // the driver's o_orderdate arrives TIMESTAMP_NTZ; the calendar
    // transform wants DATE/TIMESTAMP — date-cast (date-valued anyway)
    val orders = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"),
      col("o_orderdate").cast("date").as("o_orderdate"),
      col("o_totalprice"))
    // hash write distribution for the two 7-year × 8-bucket facts
    // (~56 leaves each): parallel leaf writers instead of one serial
    // task, one file per leaf — same rationale as q_spj_time_claim
    val priorDistDj = spark.conf.getOption("spark.graft.write-distribution")
    spark.conf.set("spark.graft.write-distribution", "hash")
    try {
      inParallel( // independent tables: overlap the setup writes (§2.6)
        () => { lake.createOrReplace(orders, "spjq_dj",
          Seq("years(o_orderdate)", "bucket(8,o_custkey)")); () },
        () => { lake.createOrReplace(orders.select(
          col("o_orderkey").as("p_orderkey"), col("o_custkey").as("p_custkey"),
          col("o_orderdate").as("p_date")),
          "spjq_djp", Seq("years(p_date)", "bucket(8,p_custkey)")); () })
    } finally priorDistDj match {
      case Some(v) => spark.conf.set("spark.graft.write-distribution", v)
      case None => spark.conf.unset("spark.graft.write-distribution")
    }
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.allowJoinKeysSubsetOfPartitionKeys.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false")
      .map { case (c, v) => (c, v, spark.conf.getOption(c)) }
    val colocated = try {
      confs.foreach { case (c, v, _) => spark.conf.set(c, v) }
      // the everyday join: on the id ALONE over (year, bucket) tuples
      val j = spark.table(s"$cat.spjq_dj")
        .join(spark.table(s"$cat.spjq_djp"), col("o_custkey") === col("p_custkey"))
      val flag = if (!plansShuffle(j)) 1.0 else 0.0
      require(j.count() > 0) // execute inside the conf scope
      flag
    } finally confs.foreach {
      case (c, _, Some(v)) => spark.conf.set(c, v)
      case (c, _, None) => spark.conf.unset(c)
    }
    // the time-windowed scan: one year's files plan, the rest drop
    def planned(df: DataFrame): Int = collectExec(df) {
      case b: BatchScanExec => b.scan.asInstanceOf[GraftSpjScan].plannedFileCount
    }.head
    val t = spark.table(s"$cat.spjq_dj")
    val total = planned(t.select(col("o_orderkey")))
    val yearQ = t.where(col("o_orderdate") >= lit("1995-01-01").cast("date") &&
      col("o_orderdate") < lit("1996-01-01").cast("date"))
    val pruned = if (planned(yearQ.select(col("o_orderkey"))) < total) 1.0 else 0.0
    import spark.implicits._
    val r = yearQ.agg(count(lit(1)).as("n"),
      sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .collect().head
    Seq((r.getLong(0), r.getDouble(1), pruned, colocated))
      .toDF("n_1995", "total_1995", "pruned", "colocated")
  }

  /** `q_spj_sorted_join` — SPJ + REPORTED ORDERING: both join sides
    * land `bucket(8, key)`-partitioned with a DECLARED write sort
    * order on the key and range write distribution, so every data dir
    * carries the `_sortorder` marker and strictly disjoint per-file
    * key ranges — the DSv2 scans report per-partition ordering
    * ([[graft.sources.spj.GraftSpjScan.outputOrdering]]) on top of
    * `KeyGroupedPartitioning`, and the sort-merge join plans with NO
    * Exchange AND NO Sort on either side. The readout pins
    * `presorted = 1.0` (plan-node walk: zero ShuffleExchangeExec and
    * zero SortExec under the executed join). At 100 TB this is the
    * full Iceberg bucketed-sorted-table win: the fact-fact merge join
    * costs a streaming zip of pre-sorted co-located partitions —
    * no shuffle bytes, no sort spill, paid once at write time. */
  def qSpjSortedJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.SortExec
    import graft.sources.Lakehouse
    import graft.sources.spj.GraftSpjCatalog
    val root = java.nio.file.Files.createTempDirectory("graft-spjsj").toString
    val lake = new Lakehouse(spark, root)
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    lake.declareSortOrder("spjq_so", Seq("o_custkey"))
    lake.declareSortOrder("spjq_sc", Seq("c_custkey"))
    val prevDist = spark.conf.getOption("spark.graft.write-distribution")
    spark.conf.set("spark.graft.write-distribution", "range")
    try {
      inParallel( // independent tables: overlap the setup writes (§2.6)
        () => { lake.createOrReplace(orders, "spjq_so", Seq("bucket(8,o_custkey)")); () },
        () => { lake.createOrReplace(cust, "spjq_sc", Seq("bucket(8,c_custkey)")); () })
    } finally prevDist match {
      case Some(v) => spark.conf.set("spark.graft.write-distribution", v)
      case None => spark.conf.unset("spark.graft.write-distribution")
    }
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevBucketing = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table(s"$cat.spjq_so")
        .join(spark.table(s"$cat.spjq_sc"), col("o_custkey") === col("c_custkey"))
      val presorted = if (!plansShuffle(joined) &&
        collectExec(joined) { case s: SortExec => s }.isEmpty) 1.0 else 0.0
      // freeze inside the conf scope (≤ |mktsegments| rows): the
      // Exchange-and-Sort-free plan must be the one that EXECUTES
      val rows = joined
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
        .orderBy("c_mktsegment")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), presorted))
      import spark.implicits._
      rows.toSeq.toDF("c_mktsegment", "n", "total", "presorted")
        .orderBy("c_mktsegment")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      prevBucketing match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    }
  }

  /** `q_spj_runtime_filter` — DSv2 RUNTIME FILTERING (dynamic
    * partition pruning) on the SPJ scan
    * ([[graft.sources.spj.GraftSpjScan.filter]]): the fact table is
    * bucket(16, o_custkey)-laid-out; joining it to a selectively
    * filtered dim makes Spark ship the dim's key set to the scan
    * before execution, where the keys map through the layout hash to
    * their buckets — every other bucket's files DROP, then per-file
    * stat bounds prune the rest. The readout pins `pruned = 1.0`
    * (a DynamicPruningExpression reached the scan AND the planned
    * file count shrank), so the oracle checks semantics and the scale
    * property together: at 100 TB a dim-filtered fact join reads
    * O(matching buckets), not the fact. Broadcast stays ENABLED here
    * — DPP rides the dim's broadcast exchange. */
  def qSpjRuntimeFilter(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.sources.Lakehouse
    import graft.sources.spj.{GraftSpjCatalog, GraftSpjScan}
    val root = java.nio.file.Files.createTempDirectory("graft-spjrf").toString
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace(Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      "spjq_fact", Seq("bucket(16,o_custkey)"))
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .where(col("c_custkey") < 3)
    val agg = spark.table(s"$cat.spjq_fact")
      .join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy("c_mktsegment")
    val rows = agg.collect()
    val scans = collectExec(agg) { case b: BatchScanExec => b }
    val planned = scans.map(_.scan).collectFirst {
      case s: GraftSpjScan => s.plannedFileCount }
    val total = lake.spjLayout("spjq_fact").files.valuesIterator.map(_.size).sum
    val pruned = if (scans.exists(_.runtimeFilters.nonEmpty) &&
      planned.exists(_ < total)) 1.0 else 0.0
    import spark.implicits._
    rows.map(r => (r.getString(0), r.getLong(1), r.getDouble(2), pruned)).toSeq
      .toDF("c_mktsegment", "n", "total", "pruned")
      .orderBy("c_mktsegment")
  }

  /** `q_spj_limit` — DSv2 LIMIT PUSHDOWN capped at the FILE LIST
    * ([[graft.sources.spj.SpjPruning.capForLimit]]): with per-file row
    * counts in the ledger, `SELECT * FROM t LIMIT n` plans just enough
    * files to cover n rows (largest-first) instead of the table — the
    * notebook's peek-at-a-table cell reads one file at 100 TB. Spark
    * keeps the exact limit on top (the pushdown is declared partial),
    * so the row count is exact however the cap lands; the readout pins
    * `limited = 1.0` (planned files < the layout's total). */
  def qSpjLimit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.sources.Lakehouse
    import graft.sources.spj.{GraftSpjCatalog, GraftSpjScan}
    val root = java.nio.file.Files.createTempDirectory("graft-spjlim").toString
    val lake = new Lakehouse(spark, root)
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    // four commits: the cap must pick across a multi-file, multi-dir layout
    (0 until 4).foreach { i =>
      val slice = orders.where(col("o_orderkey") % 4 === i)
      if (i == 0) lake.createOrReplace(slice, "spjq_lim", Seq("bucket(4,o_custkey)"))
      else lake.append(slice, "spjq_lim", Seq("bucket(4,o_custkey)"))
    }
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val df = spark.table(s"$cat.spjq_lim").limit(500)
    val n = df.collect().length.toLong
    val planned = collectExec(df) { case b: BatchScanExec => b }
      .map(_.scan).collectFirst { case s: GraftSpjScan => s.plannedFileCount }
    val total = lake.spjLayout("spjq_lim").files.valuesIterator.map(_.size).sum
    val limited = if (planned.exists(_ < total)) 1.0 else 0.0
    import spark.implicits._
    Seq((n, limited)).toDF("cnt", "limited")
  }

  /** `q_spj_topn` — DSv2 TOP-N PUSHDOWN capped by sort bounds
    * ([[graft.sources.spj.SpjPruning.capForTopN]]): `ORDER BY
    * o_orderkey DESC LIMIT 50` over a range-committed table keeps only
    * the files whose recorded [lo, hi] can still reach the 50th row —
    * the "read the newest files, not the table" shape every
    * time-ordered 100 TB log query needs. Spark's own TopN picks the
    * exact rows on top (the pushdown is declared partial), so the
    * result is bit-deterministic (unique sort key); the readout pins
    * `pruned = 1.0` (planned files < the layout's total). */
  def qSpjTopn(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.sources.Lakehouse
    import graft.sources.spj.{GraftSpjCatalog, GraftSpjScan}
    val root = java.nio.file.Files.createTempDirectory("graft-spjtn").toString
    val lake = new Lakehouse(spark, root)
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    val maxK = orders.agg(max("o_orderkey")).head().getLong(0)
    // four RANGE-sliced commits: per-file key bounds are disjoint, so
    // the DESC top-50 lives entirely in the last slice's files
    (0 until 4).foreach { i =>
      val slice = orders.where(col("o_orderkey") > lit(i * maxK / 4) &&
        col("o_orderkey") <= lit((i + 1) * maxK / 4))
      if (i == 0) lake.createOrReplace(slice, "spjq_tn", Seq("bucket(8,o_custkey)"))
      else lake.append(slice, "spjq_tn", Seq("bucket(8,o_custkey)"))
    }
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val df = spark.table(s"$cat.spjq_tn")
      .orderBy(col("o_orderkey").desc).limit(50)
    val rows = df.collect()
    val planned = collectExec(df) { case b: BatchScanExec => b }
      .map(_.scan).collectFirst { case s: GraftSpjScan => s.plannedFileCount }
    val total = lake.spjLayout("spjq_tn").files.valuesIterator.map(_.size).sum
    val pruned = if (planned.exists(_ < total)) 1.0 else 0.0
    import spark.implicits._
    rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3), pruned))
      .toSeq.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "pruned")
      .orderBy(col("o_orderkey").desc)
  }

  /** `q_spj_ddl` — the DSv2 catalog's DDL lifecycle, Spark-native
    * ([[graft.sources.spj.GraftSpjCatalog.createTable]]): CREATE
    * TABLE … PARTITIONED BY (bucket) declares an immediately-loadable
    * EMPTY table (the declared-spec fallback), INSERT INTO statements
    * append under the layout, SQL DELETE prunes via the metadata
    * filter path, and the final rollup reads back — the notebook's
    * whole create→load→clean→query flow (query_iceberg.ipynb) with
    * ZERO engine-specific API calls: every statement is plain Spark
    * SQL against the catalog, exactly how a reference user would
    * migrate. A second same-spec created table pins `colocated = 1.0`
    * (the DDL-declared layouts SPJ-plan with no Exchange). */
  def qSpjDdl(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.spj.GraftSpjCatalog
    val root = java.nio.file.Files.createTempDirectory("graft-spjddl").toString
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevBucketing = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      Tables.orders(spark, dir).createOrReplaceTempView("spjddl_orders")
      Tables.customer(spark, dir).createOrReplaceTempView("spjddl_customer")
      spark.sql(s"""CREATE TABLE $cat.ddl_o (
        |  o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
        |  o_price_d DECIMAL(12,2)) PARTITIONED BY (bucket(8, o_custkey))""".stripMargin)
      spark.sql(s"""INSERT INTO $cat.ddl_o
        |SELECT o_orderkey, o_custkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2))
        |FROM spjddl_orders WHERE o_orderkey % 2 = 0""".stripMargin)
      spark.sql(s"""INSERT INTO $cat.ddl_o
        |SELECT o_orderkey, o_custkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(12,2))
        |FROM spjddl_orders WHERE o_orderkey % 2 = 1""".stripMargin)
      spark.sql(s"DELETE FROM $cat.ddl_o WHERE o_orderstatus = 'P'")
      spark.sql(s"CREATE TABLE $cat.ddl_c PARTITIONED BY (bucket(8, c_custkey)) " +
        "AS SELECT c_custkey, c_mktsegment FROM spjddl_customer")
      val joined = spark.table(s"$cat.ddl_o")
        .join(spark.table(s"$cat.ddl_c"), col("o_custkey") === col("c_custkey"))
      val colocated = if (plansShuffle(joined)) 0.0 else 1.0
      val rows = joined.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("o_price_d")).cast("double").as("total"))
        .orderBy("c_mktsegment")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), colocated))
      import spark.implicits._
      rows.toSeq.toDF("c_mktsegment", "n", "total", "colocated")
        .orderBy("c_mktsegment")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      prevBucketing match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    }
  }

  /** `q_spj_update` — Spark-native SQL UPDATE through the DSv2
    * catalog ([[graft.sources.spj.GraftSpjRowLevelOp]], the Iceberg
    * copy-on-write `UPDATE t SET … WHERE …` analog the reference's
    * stack leans on): orders lands hidden-partitioned by
    * `bucket(8, o_custkey)`, one customer's rows double their price,
    * and the statement plans through Spark's own group-based rewrite —
    * CoW scan over the pinned snapshot, staged replace-data write,
    * conditional entry-swap commit. The readout aggregates the FINAL
    * table state (bit-restated by the oracle from the raw rows) and
    * pins `rewrote_leaves = 1`: static bucket pruning bounded the
    * rewrite to the ONE partition leaf that can hold the key — at
    * 100 TB a keyed UPDATE prices O(1 leaf), never a table rewrite,
    * with every other leaf carried by ledger reference. */
  def qSpjUpdate(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Lakehouse
    import graft.sources.spj.GraftSpjCatalog
    val root = java.nio.file.Files.createTempDirectory("graft-spjupd").toString
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace(Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(12,2)").as("o_price_d")),
      "spjq_upd", Seq("bucket(8,o_custkey)"))
    val before = lake.spjLayout("spjq_upd").files
      .valuesIterator.flatten.map(_.path).toSet
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val k0 = Tables.orders(spark, dir).agg(min("o_custkey")).head().getLong(0)
    spark.sql(s"UPDATE $cat.spjq_upd SET o_price_d = o_price_d * 2 WHERE o_custkey = $k0")
    val after = lake.spjLayout("spjq_upd").files
      .valuesIterator.flatten.map(_.path).toSet
    // carry-by-reference, hash-pinned: exactly ONE leaf dir rewritten
    val rewroteLeaves = (before -- after).map(p => p.take(p.lastIndexOf('/'))).size.toLong
    val rows = spark.table(s"$cat.spjq_upd")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_price_d")).cast("double").as("total"))
      .orderBy("o_orderstatus")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), rewroteLeaves))
    import spark.implicits._
    rows.toSeq.toDF("o_orderstatus", "n", "total", "rewrote_leaves")
      .orderBy("o_orderstatus")
  }

  /** `q_spj_update_mor` — Spark-native SQL UPDATE in MERGE-ON-READ
    * mode through the DSv2 catalog ([[graft.sources.spj
    * .GraftSpjDeltaOp]], Iceberg's `write.update.mode=merge-on-read`):
    * the same statement as `q_spj_update`, but WIDE (every 'P'-status
    * order doubles) and routed by `spark.graft.update-mode` onto the
    * delta path — matched rows scan with their `(_file, _pos)` row
    * ids, deletes land as ONE positional tombstone and images as ONE
    * layout-spec delta dir, and `rewrote_leaves = 0` pins that every
    * original file survived by reference (the CoW path would have
    * rewritten every leaf holding a 'P' row — at 100 TB, the
    * difference between O(matched rows) and a near-table rewrite for
    * low-selectivity updates). `tombstoned = 1` pins the snapshot
    * carries the tombstone; the readout aggregates the final state
    * through the SPJ scan's per-file anti-filters. */
  def qSpjUpdateMor(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Lakehouse
    import graft.sources.spj.GraftSpjCatalog
    val root = java.nio.file.Files.createTempDirectory("graft-spjupdm").toString
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace(Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(12,2)").as("o_price_d")),
      "spjq_updm", Seq("bucket(8,o_custkey)"))
    val before = lake.spjLayout("spjq_updm").files
      .valuesIterator.flatten.map(_.path).toSet
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.conf.set("spark.graft.update-mode", "merge-on-read")
    try spark.sql(
      s"UPDATE $cat.spjq_updm SET o_price_d = o_price_d * 2 WHERE o_orderstatus = 'P'")
    finally spark.conf.unset("spark.graft.update-mode")
    val layoutAfter = lake.spjLayout("spjq_updm")
    val after = layoutAfter.files.valuesIterator.flatten.map(_.path).toSet
    val rewroteLeaves =
      (before -- after).map(p => p.take(p.lastIndexOf('/'))).size.toLong
    val tombstoned = if (layoutAfter.tombstoned) 1L else 0L
    val rows = spark.table(s"$cat.spjq_updm")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_price_d")).cast("double").as("total"))
      .orderBy("o_orderstatus")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), rewroteLeaves, tombstoned))
    import spark.implicits._
    rows.toSeq.toDF("o_orderstatus", "n", "total", "rewrote_leaves", "tombstoned")
      .orderBy("o_orderstatus")
  }

  /** `q_spj_merge` — Spark-native SQL MERGE INTO through the DSv2
    * catalog (the reference's exact upsert statement shape,
    * mongo_to_iceberg.py's `MERGE INTO … WHEN MATCHED … WHEN NOT
    * MATCHED`): a per-customer order-count source upserts into a
    * bucket-layout summary seeded with only the EVEN customer keys —
    * matched keys take the fresh count, unmatched keys insert as
    * segment 'NEW'. Plans through Spark's group-based MERGE rewrite
    * (CoW scan ⟕ source, runtime group filtering pruning the rewrite
    * to buckets the source actually touches) and commits as one
    * conditional entry swap; the oracle restates the final state as a
    * FULL OUTER join over the raw tables. */
  def qSpjMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Lakehouse
    import graft.sources.spj.GraftSpjCatalog
    val root = java.nio.file.Files.createTempDirectory("graft-spjmrg").toString
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace(Tables.customer(spark, dir)
      .where(col("c_custkey") % 2 === 0)
      .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
        lit(0L).as("n_ord")),
      "spjq_mrg", Seq("bucket(8,k)"))
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.orders(spark, dir).groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("n_ord"))
      .createOrReplaceTempView("spjq_mrg_src")
    spark.sql(
      s"""MERGE INTO $cat.spjq_mrg t USING spjq_mrg_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET t.n_ord = s.n_ord
         |WHEN NOT MATCHED THEN INSERT (k, seg, n_ord) VALUES (s.k, 'NEW', s.n_ord)""".stripMargin)
    spark.table(s"$cat.spjq_mrg")
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("n_ord")).as("orders"))
      .orderBy("seg")
  }

  /** `q_spj_mor` — MERGE-ON-READ maintenance SERVED through the DSv2
    * catalog (round 13's headline: Iceberg serves tombstoned tables,
    * and now so does this catalog instead of refusing until
    * compaction). Orders lands bucket-hidden-partitioned in TWO
    * commits (real sequence gating), a Spark-native `DELETE FROM
    * cat.t WHERE status='P'` routes MERGE-ON-READ under
    * `spark.graft.delete-mode` (positional tombstones —
    * [[graft.sources.Lakehouse.deleteWhereMor]]), an equality-key MoR
    * delete follows ([[graft.sources.Lakehouse.deleteByKeyMor]]), and
    * the SPJ join + rollup runs over the tombstoned table directly:
    * the reader anti-filters per file, the co-partitioned join stays
    * Exchange-free (`colocated = 1.0` pinned via plan walk), and ZERO
    * data entries were rewritten (`rewrote_leaves = 0` pinned against
    * the layout's file set). At 100 TB this is the write-optimized
    * maintenance path: deletes price O(matched rows), reads stay
    * shuffle-free, and compaction becomes a throughput optimization
    * instead of a serving prerequisite. */
  def qSpjMor(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Lakehouse
    import graft.sources.spj.GraftSpjCatalog
    val root = java.nio.file.Files.createTempDirectory("graft-spjmor").toString
    val lake = new Lakehouse(spark, root)
    val orders = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(12,2)").as("o_price_d"))
    inParallel( // the fact chain is sequential (same table); the dim is
      // independent of it: overlap the two (§2.6)
      () => {
        lake.createOrReplace(orders.where(col("o_orderstatus") === "F"),
          "spjq_mor", Seq("bucket(8,o_custkey)"))
        lake.append(orders.where(col("o_orderstatus") =!= "F"),
          "spjq_mor", Seq("bucket(8,o_custkey)"))
        ()
      },
      () => { lake.createOrReplace(Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        "spjq_mor_c", Seq("bucket(8,c_custkey)")); () })
    val before = lake.spjLayout("spjq_mor").files
      .valuesIterator.flatten.map(_.path).toSet
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevBucketing = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.graft.delete-mode", "merge-on-read")
      try spark.sql(s"DELETE FROM $cat.spjq_mor WHERE o_orderstatus = 'P'")
      finally spark.conf.unset("spark.graft.delete-mode")
      lake.deleteByKeyMor(
        orders.where(col("o_orderkey") % 97 === 0).select("o_orderkey").distinct(),
        "spjq_mor")
      val after = lake.spjLayout("spjq_mor").files
        .valuesIterator.flatten.map(_.path).toSet
      val rewroteLeaves =
        (before -- after).map(p => p.take(p.lastIndexOf('/'))).size.toLong
      val joined = spark.table(s"$cat.spjq_mor")
        .join(spark.table(s"$cat.spjq_mor_c"), col("o_custkey") === col("c_custkey"))
      val colocated = if (plansShuffle(joined)) 0.0 else 1.0
      val rows = joined.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("o_price_d")).cast("double").as("total"))
        .orderBy("c_mktsegment")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), colocated, rewroteLeaves))
      import spark.implicits._
      rows.toSeq.toDF("c_mktsegment", "n", "total", "colocated", "rewrote_leaves")
        .orderBy("c_mktsegment")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      prevBucketing match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    }
  }

  /** `q_spj_alter` — SCHEMA EVOLUTION through the DSv2 catalog in
    * plain SQL ([[graft.sources.spj.GraftSpjCatalog.alterTable]]):
    * CREATE + INSERT the pre-evolution shape, `ALTER TABLE ADD
    * COLUMNS` / `RENAME COLUMN` as metadata-only commits, INSERT the
    * post-evolution shape, and read the mixed table back through the
    * SPJ scan's per-dir conform projections — old dirs null-fill the
    * added column and reverse-map the rename, new dirs read as
    * written, one declared schema over both. The reference's ALTER
    * lifecycle (Iceberg DDL on catalog tables) with zero
    * engine-specific calls. */
  def qSpjAlter(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.spj.GraftSpjCatalog
    val root = java.nio.file.Files.createTempDirectory("graft-spjalt").toString
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.orders(spark, dir).createOrReplaceTempView("spjalt_orders")
    spark.sql(s"""CREATE TABLE $cat.alt (
      |  o_orderkey BIGINT, o_custkey BIGINT, o_price_d DECIMAL(12,2))
      |PARTITIONED BY (bucket(8, o_custkey))""".stripMargin)
    spark.sql(s"""INSERT INTO $cat.alt
      |SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(12,2))
      |FROM spjalt_orders WHERE o_orderkey % 2 = 0""".stripMargin)
    spark.sql(s"ALTER TABLE $cat.alt ADD COLUMNS (o_status STRING)")
    spark.sql(s"ALTER TABLE $cat.alt RENAME COLUMN o_price_d TO o_amount")
    spark.sql(s"""INSERT INTO $cat.alt
      |SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(12,2)), o_orderstatus
      |FROM spjalt_orders WHERE o_orderkey % 2 = 1""".stripMargin)
    // (r14) GROUPED ALTER: a two-column ADD in one statement must land
    // exactly ONE snapshot (Iceberg's atomic grouped commit)
    val lake = new graft.sources.Lakehouse(spark, root)
    val before = lake.snapshots("alt").length
    spark.sql(s"ALTER TABLE $cat.alt ADD COLUMNS (o_tag STRING, o_weight DOUBLE)")
    val grouped = if (lake.snapshots("alt").length == before + 1) 1.0 else 0.0
    // (r14) RENAME TO: a pure metadata move — the full history travels,
    // the old name stops resolving, the moved table keeps serving
    spark.sql(s"ALTER TABLE $cat.alt RENAME TO alt_moved")
    val renamed =
      if (scala.util.Try(spark.table(s"$cat.alt").count()).isFailure &&
        lake.snapshots("alt_moved").length == before + 1) 1.0 else 0.0
    spark.table(s"$cat.alt_moved")
      .groupBy(coalesce(col("o_status"), lit("PRE")).as("status_g"))
      .agg(count(lit(1)).as("n"), sum(col("o_amount")).cast("double").as("total"))
      .withColumn("grouped_commit", lit(grouped))
      .withColumn("renamed", lit(renamed))
      .orderBy("status_g")
  }

  /** `sql_nested_evolution` — NESTED (struct-field) schema evolution
    * end-to-end (r15): the reference's own document shape
    * (mongo_to_iceberg.py:36-60 declares `shipping_address{city,state,
    * zip}`; silver_transformation.py:47-58 does struct surgery on it)
    * evolves through `ALTER TABLE … ADD/RENAME/DROP COLUMN` on DOTTED
    * paths, with DML between every DDL step. The table ends up mixing
    * TWO physical struct shapes plus a merge-on-read delete; the final
    * aggregate must read both shapes conformed — added nested fields
    * NULL for pre-evolution dirs, renamed fields resolved, dropped
    * fields gone — identically on the ordinary AND the DSv2/SPJ read
    * paths. Pins: `nested_meta_only` (the nested DROP committed one
    * snapshot and zero data dirs — pure metadata, Iceberg's rule) and
    * `paths_agree` (both read paths produce the same aggregate). */
  def qSqlNestedEvolution(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.spj.GraftSpjCatalog
    val root = java.nio.file.Files.createTempDirectory("graft-nestevo").toString
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    Tables.orders(spark, dir).createOrReplaceTempView("nestevo_orders")
    // NOTE (r18): hash write distribution was tried here and REVERTED —
    // shuffling the built nested rows (struct+array+map) cost more than
    // the parallel parquet encode saved (measured 2.0 s of exchange+write
    // vs 1.2 s serial write per insert); nested-row shuffle bytes are the
    // dominant term, exactly guide §2.3's "shuffle fewer bytes"
    // the reference's FULL document shape: a struct (shipping_address)
    // AND an array of structs (items[]) — mongo_to_iceberg.py:36-60
    spark.sql(s"""CREATE TABLE $cat.nev (
      |  o_orderkey BIGINT, o_custkey BIGINT, o_price DECIMAL(12,2),
      |  meta STRUCT<status: STRING, prio: STRING>,
      |  items ARRAY<STRUCT<sku: BIGINT, qty: INT>>,
      |  attrs MAP<STRING, STRUCT<qty: INT, unit: STRING>>)
      |PARTITIONED BY (bucket(8, o_custkey))""".stripMargin)
    spark.sql(s"""INSERT INTO $cat.nev
      |SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(12,2)),
      |  named_struct('status', o_orderstatus, 'prio', o_orderpriority),
      |  array(named_struct('sku', o_orderkey % 100, 'qty', CAST(o_orderkey % 7 AS INT)),
      |        named_struct('sku', o_custkey % 100, 'qty', CAST(o_custkey % 5 AS INT))),
      |  map('w', named_struct('qty', CAST(o_orderkey % 11 AS INT), 'unit', 'kg'))
      |FROM nestevo_orders WHERE o_orderkey % 2 = 0""".stripMargin)
    // nested ADD + RENAME (dotted paths through the DSv2 ALTER
    // surface), struct, array-element AND map-value scopes (r16)
    spark.sql(s"ALTER TABLE $cat.nev ADD COLUMNS (meta.grade STRING)")
    spark.sql(s"ALTER TABLE $cat.nev RENAME COLUMN meta.prio TO priority")
    spark.sql(s"ALTER TABLE $cat.nev ADD COLUMNS (items.element.qty2 INT)")
    spark.sql(s"ALTER TABLE $cat.nev RENAME COLUMN items.element.qty TO amount")
    spark.sql(s"ALTER TABLE $cat.nev ADD COLUMNS (attrs.value.note STRING)")
    spark.sql(s"ALTER TABLE $cat.nev RENAME COLUMN attrs.value.unit TO uom")
    // a post-evolution INSERT writes the full new shape physically
    spark.sql(s"""INSERT INTO $cat.nev
      |SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DECIMAL(12,2)),
      |  named_struct('status', o_orderstatus, 'priority', o_orderpriority,
      |    'grade', substring(o_orderpriority, 1, 1)),
      |  array(named_struct('sku', o_orderkey % 100, 'amount', CAST(o_orderkey % 7 AS INT),
      |        'qty2', CAST(o_orderkey % 3 AS INT))),
      |  map('w', named_struct('qty', CAST(o_orderkey % 11 AS INT), 'uom', 'm', 'note', 'x'))
      |FROM nestevo_orders WHERE o_orderkey % 2 = 1""".stripMargin)
    // merge-on-read DELETE composes (positional tombstones are
    // name-free — struct shape changes can't desync them)
    val lake = new graft.sources.Lakehouse(spark, root)
    lake.deleteWhereMor(col("o_orderkey") % 97 === 0, "nev")
    // nested DROP must be a PURE METADATA commit: one snapshot, zero
    // new data dirs
    def dataDirs(): Int = {
      val snaps = lake.snapshots("nev")
      snaps.maxBy(_._1)._2.map(_.takeWhile(_ != '/')).distinct.length
    }
    val (snapsBefore, dirsBefore) = (lake.snapshots("nev").length, dataDirs())
    spark.sql(s"ALTER TABLE $cat.nev DROP COLUMN meta.priority")
    val metaOnly = if (lake.snapshots("nev").length == snapsBefore + 1 &&
      dataDirs() == dirsBefore) 1.0 else 0.0
    // ADD COLUMN ... DEFAULT (r15): every existing dir predates the
    // add, so BOTH paths must bind the EXISTS_DEFAULT literal — the
    // readout's src_tag pins it cross-engine
    spark.sql(s"ALTER TABLE $cat.nev ADD COLUMNS (src STRING DEFAULT 'mongo')")
    def agg(df: DataFrame): DataFrame = df
      .groupBy(col("meta.status").as("status_g"),
        when(col("meta.grade").isNotNull, 1L).otherwise(0L).as("has_grade"))
      .agg(count(lit(1)).as("n"), sum(col("o_price")).cast("double").as("total"),
        // element-level readout: the RENAMED array field (`amount`)
        // aggregates across BOTH physical element shapes, and the
        // ADDED one (`qty2`) reads NULL in pre-evolution elements —
        // aggregate(..) sums per row, then the group totals pin both
        sum(expr("aggregate(items.amount, 0L, (a, x) -> a + coalesce(x, 0))"))
          .as("amount_sum"),
        sum(expr("aggregate(items.qty2, 0L, (a, x) -> a + coalesce(x, 0))"))
          .as("qty2_sum"),
        // map-value readouts (r16): `qty` aggregates across BOTH
        // physical value shapes; the RENAMED `uom` resolves the old
        // dirs' physical `unit` ('kg' rows all predate the rename)
        sum(expr("aggregate(transform(map_values(attrs), v -> coalesce(v.qty, 0L)), " +
          "0L, (a, x) -> a + x)")).as("map_qty_sum"),
        sum(expr("size(filter(map_values(attrs), v -> v.uom = 'kg'))")
          .cast("long")).as("uom_kg"),
        max(col("src")).as("src_tag"))
    val viaCatalog = agg(spark.table(s"$cat.nev"))
    val viaOrdinary = agg(lake.read("nev"))
    val pathsAgree = if (sameMultiset(viaCatalog, viaOrdinary)) 1.0 else 0.0
    viaCatalog
      .withColumn("nested_meta_only", lit(metaOnly))
      .withColumn("paths_agree", lit(pathsAgree))
      .orderBy("status_g", "has_grade")
  }

  /** `stream_spj_cdc` — CDC ON THE DSv2 CATALOG STREAM (r15):
    * `readStream.option("cdc", "true").table("cat.t")` emits
    * `_change_type`-tagged row deltas over snapshot-id offsets
    * ([[graft.sources.spj.GraftSpjCdcMicroBatchStream]]) — the
    * Iceberg-parity ergonomics the round-14 verdict ranked #3: delete
    * propagation on the catalog surface itself, no format string. A
    * primary BUCKET-partitioned catalog table seeds from orders; a
    * follower lake applies the changelog via `applyChangesOnce` over
    * ONE checkpoint across three AvailableNow runs — bootstrap, a
    * catch-up whose single interval nets an append + a MoR UPDATE
    * (price×3 on okey%13=4) + a MoR DELETE (O-status okey%9=2), and
    * an idle run. Readout = the replica's status rollup with
    * `replica_exact` (full-multiset equality vs the primary) and
    * `exactly_once` (idle-run invariance) pinned; the oracle restates
    * the net final state straight from raw orders. */
  def qStreamSpjCdc(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.spj.GraftSpjCatalog
    import org.apache.spark.sql.streaming.Trigger
    val srcRoot = java.nio.file.Files.createTempDirectory("graft-scdc-src").toString
    val dstRoot = java.nio.file.Files.createTempDirectory("graft-scdc-dst").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-scdc-ck").toString
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", srcRoot)
    val src = new graft.sources.Lakehouse(spark, srcRoot)
    val dst = new graft.sources.Lakehouse(spark, dstRoot)
    val spec = Seq("bucket(8,o_orderkey)")
    val orders = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(12,2)").as("price"))
    src.createOrReplace(orders.where(col("o_orderkey") % 7 =!= 0), "scdc", spec)
    def sync(): Unit = {
      val q = spark.readStream.option("cdc", "true").table(s"$cat.scdc")
        .select(col("o_orderkey"), col("o_orderstatus"), col("price"),
          col("_change_type"))
        .writeStream.option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, id: Long) =>
          dst.applyChangesOnce(df, "scdc_rep", Seq("o_orderkey"), id); ()
        }
        .start()
      try {
        require(q.awaitTermination(180000), "stream_spj_cdc run timed out")
      } finally q.stop()
    }
    sync() // bootstrap: the full snapshot as insert images
    // three primary commits while the stream is down — one interval
    src.append(orders.where(col("o_orderkey") % 7 === 0), "scdc", spec)
    src.updateWhereMor(
      Seq("price" -> (col("price") * 3).cast("decimal(12,2)")),
      col("o_orderkey") % 13 === 4, "scdc", spec)
    src.deleteWhereMor(
      col("o_orderstatus") === "O" && col("o_orderkey") % 9 === 2, "scdc")
    sync() // catch-up
    val rows2 = dst.read("scdc_rep").count()
    val snaps2 = dst.snapshots("scdc_rep").size
    sync() // idle
    val exactlyOnce =
      if (dst.read("scdc_rep").count() == rows2 &&
        dst.snapshots("scdc_rep").size == snaps2) 1.0 else 0.0
    val replicaExact =
      if (sameMultiset(dst.read("scdc_rep"), src.read("scdc"))) 1.0 else 0.0
    dst.read("scdc_rep")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("total"))
      .withColumn("replica_exact", lit(replicaExact))
      .withColumn("exactly_once", lit(exactlyOnce))
      .orderBy("o_orderstatus")
  }

  /** `q_cdc_read` — the CDC CHANGELOG read at the driver surface
    * ([[graft.sources.Lakehouse.readChangesCdc]], the Iceberg
    * `changelog` / Delta CDF analog): baseline lands, a batch
    * appends, a merge-on-read DELETE tombstones every fifth key, and
    * the changelog over the whole interval nets out — appended rows
    * that were also deleted inside the interval emit NOTHING, deleted
    * pre-existing rows emit `delete` records, surviving appends emit
    * `insert`s. Delta-priced: the interval read opens only the
    * appended dirs plus tombstone-matched pre-existing dirs, never
    * the table. The oracle restates the net effect from the raw
    * source — hash equality proves the changelog a replica would
    * apply reproduces exactly the set-difference of the two
    * snapshots. */
  def qCdcRead(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Lakehouse
    val root = java.nio.file.Files.createTempDirectory("graft-cdcread").toString
    val lake = new Lakehouse(spark, root)
    val orders = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val s1 = lake.createOrReplace(orders.where(col("o_orderstatus") === "F"), "cdc_orders")
    lake.append(orders.where(col("o_orderstatus") === "O"), "cdc_orders")
    val s3 = lake.deleteWhereMor(col("o_orderkey") % 5 === 0, "cdc_orders")
    lake.readChangesCdc("cdc_orders", s1, s3)
      .groupBy(col("_change_type"), col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy("_change_type", "o_orderstatus")
  }

  /** `q_runtime_filter` — RUNTIME JOIN FILTERING (dynamic file
    * pruning; [[graft.sources.Lakehouse.readJoinPruned]]): lineitem
    * lands in a lakehouse table as four key-range appends; the
    * dimension side (finished orders in the lowest orderkey quartile)
    * narrows the join keys, and the fact scan prunes to the ONE dir
    * whose key range can match — a dimension filter skipping fact
    * files at plan time, which static pruning cannot do. The readout
    * counts data-dir opens and reports `pruned = 1` only when the
    * join opened exactly one of the four dirs; the oracle pins that
    * as a literal 1.0 alongside the join's row count and
    * decimal-exact revenue, so both the SEMANTICS (same rows as the
    * plain join) and the SCALE PROPERTY (3 of 4 dirs never opened)
    * are hash-checked cross-engine. */
  def qRuntimeFilter(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Lakehouse
    val root = java.nio.file.Files.createTempDirectory("graft-rtf").toString
    val lake = new Lakehouse(spark, root)
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val b = orders.agg(max(col("o_orderkey"))).head().getLong(0) / 4
    // four ONE-FILE dirs with disjoint l_orderkey ranges, landed by
    // ONE distributed pass ([[graft.sources.Lakehouse.appendSlices]],
    // guide §1.2): the old shape re-scanned lineitem once per range
    // and serialized four single-task write jobs; the fused pass scans
    // once and writes the four slices in parallel, committing the same
    // four snapshots with the same one-stats-unit dirs — the demo
    // analog of time/key-clustered ingest, which is what makes any
    // file skipping work at scale. isNotNull keeps the old predicates'
    // null-dropping semantics (a null key matched no range).
    lake.appendSlices(lineitem.where(col("l_orderkey").isNotNull),
      when(col("l_orderkey") <= b, 0)
        .when(col("l_orderkey") <= 2 * b, 1)
        .when(col("l_orderkey") <= 3 * b, 2)
        .otherwise(3),
      nSlices = 4, "li", replaceFirst = true)
    val dim = orders.where(col("o_orderkey") <= b && col("o_orderstatus") === "F")
      .select(col("o_orderkey"))
    // maxKeys sized to THIS dim (distinct finished-order keys grow
    // with sf; the 10k default cap binds above ~sf0.01 and would
    // silently degrade the bench to an unpruned scan while the
    // correctness run still pinned pruned=1.0)
    val dimKeys = dim.distinct().count().toInt
    val before = Lakehouse.dataDirOpens.get()
    val joined = lake.readJoinPruned("li", "l_orderkey", dim, "o_orderkey",
        maxKeys = dimKeys max 1)
      .join(broadcast(dim), col("l_orderkey") === col("o_orderkey"))
      .agg(
        count(lit(1)).as("cnt"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("rev"))
      .head()
    val opened = Lakehouse.dataDirOpens.get() - before
    import spark.implicits._
    Seq(
      ("n", joined.getLong(0).toDouble),
      // exactly ONE of the four dirs opened — zero would mean the
      // scale property was never exercised (testdata drift, counter
      // regression) and must fail loudly, not pass vacuously
      ("pruned", if (opened == 1) 1.0 else 0.0),
      ("revenue", joined.getDouble(1))
    ).toDF("metric", "value").orderBy("metric")
  }

  /** `mview_incremental` — the incrementally-maintained gold rollup
    * lifecycle ([[graft.sources.MaterializedView]]): a third of
    * `orders` lands in a lakehouse table and the per-status sales
    * view materializes over it; two more appends each REFRESH the
    * view by reading only the appended delta and merging partial
    * aggregates into the touched groups (never re-scanning the
    * table). The output is the final view contents — and the ORACLE
    * is a plain GROUP BY over ALL of `orders`, so the hash compare
    * proves two incremental merges land bit-exactly on the full
    * recompute. Reference analog: gold_reporting.py:70 recomputes
    * this rollup from scratch every run; at 100 TB only the
    * delta-priced refresh survives. Decimal sums keep the total
    * partition-order-free (§3); the stored decimal(28,2) casts back
    * to DOUBLE 2-dp for the oracle-comparable readout. */
  def mviewIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Lakehouse, MaterializedView => MV}
    val root = java.nio.file.Files.createTempDirectory("graft-mview").toString
    val lake = new Lakehouse(spark, root)
    val orders = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(18,2)").as("price"))
    val d = MV.ViewDef("mv_sales", "mv_orders", Seq("o_orderstatus"), Seq(
      MV.SumCol("price", "total_price"), MV.CountAll("n_orders"),
      MV.MinCol("price", "min_price"), MV.MaxCol("price", "max_price")))
    lake.createOrReplace(orders.where(col("o_orderkey") % 3 === 0), "mv_orders")
    MV.create(lake, d)
    lake.append(orders.where(col("o_orderkey") % 3 === 1), "mv_orders")
    MV.refresh(lake, d)
    lake.append(orders.where(col("o_orderkey") % 3 === 2), "mv_orders")
    MV.refresh(lake, d)
    lake.read("mv_sales")
      .select(col("o_orderstatus"),
        round(col("total_price").cast("double"), 2).as("total_price"),
        col("n_orders"),
        round(col("min_price").cast("double"), 2).as("min_price"),
        round(col("max_price").cast("double"), 2).as("max_price"))
      .orderBy("o_orderstatus")
  }

  /** `mview_join` — JOIN-SHAPED incremental materialized view (the
    * silver_enrich shape maintained delta-wise;
    * [[graft.sources.MaterializedView.JoinSpec]]): the per-segment
    * sales view materializes over `orders ⋈ customer`, fact appends
    * refresh it by joining ONLY the delta against the pinned dim and
    * merging partial aggregates, and a DIM change (the customer table
    * growing) forces the sound full recompute before delta refreshes
    * resume at the new dim pin. The ORACLE is a plain grouped join
    * over ALL of orders × customer — hash equality proves two delta
    * merges plus one dim-change recompute land bit-exactly on the
    * from-scratch answer. Reference analog:
    * silver_transformation.py + gold_reporting.py recompute the
    * enrichment and the rollup every run; at 100 TB only the
    * delta-priced maintenance survives. */
  def mviewJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Lakehouse, MaterializedView => MV}
    val root = java.nio.file.Files.createTempDirectory("graft-mvjoin").toString
    val lake = new Lakehouse(spark, root)
    val orders = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("decimal(18,2)").as("price"))
    val customer = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val d = MV.ViewDef("mvj_sales", "mvj_orders", Seq("c_mktsegment"),
      Seq(MV.SumCol("price", "total_price"), MV.CountAll("n_orders")),
      joins = Seq(MV.JoinSpec("mvj_customer", "o_custkey", "c_custkey")))
    // dim starts HALF-populated: even customer keys only
    inParallel( // independent tables: overlap the setup writes (§2.6)
      () => { lake.createOrReplace(customer.where(col("c_custkey") % 2 === 0), "mvj_customer"); () },
      () => { lake.createOrReplace(orders.where(col("o_orderkey") % 3 === 0), "mvj_orders"); () })
    MV.create(lake, d)
    lake.append(orders.where(col("o_orderkey") % 3 === 1), "mvj_orders")
    MV.refresh(lake, d) // fact delta ⋈ pinned dim, merged
    lake.append(customer.where(col("c_custkey") % 2 === 1), "mvj_customer")
    MV.refresh(lake, d) // dim moved: applied by the dim-delta leg (or a
    // sound recompute when its key-cap gate binds at larger SFs)
    lake.append(orders.where(col("o_orderkey") % 3 === 2), "mvj_orders")
    MV.refresh(lake, d) // delta path resumes
    lake.read("mvj_sales").select(
      col("c_mktsegment"), col("n_orders"),
      col("total_price").cast("double").as("total_price"))
      .orderBy("c_mktsegment")
  }

  /** `mview_star` — MULTI-HOP (snowflake) incremental materialized
    * view (`orders ⋈ customer ⋈ nation`, the classic star rollup —
    * hop 2 joins on `c_nationkey`, a column hop 1's dim introduced):
    * fact appends stay DELTA-PRICED through the whole pinned dim
    * chain (the delta joins both dims at their recorded snapshots and
    * merges partial aggregates), and a hop-2 dim re-label (nations
    * regrouped into a zone) triggers the sound recompute at the new
    * pins — DEEP-hop movement refuses the subtractive leg, whose
    * changed-key set would have to propagate backward through the
    * other hops (HEAD-hop movement of an all-inner chain DOES apply
    * subtractively, spec-pinned in MaterializedViewSpec;
    * [[graft.sources.MaterializedView]]).
    * The oracle restates the final state as a from-scratch two-join
    * rollup with the re-label as CASE — hash equality proves two
    * delta merges plus one chain recompute land bit-exactly. At
    * 100 TB the everyday star-schema gold rollup refreshes at
    * O(fact delta ⋈ dims), never a fact re-scan. */
  def mviewStar(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Lakehouse, MaterializedView => MV}
    val root = java.nio.file.Files.createTempDirectory("graft-mvstar").toString
    val lake = new Lakehouse(spark, root)
    val orders = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("decimal(18,2)").as("price"))
    val customer = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val nation = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"))
    val d = MV.ViewDef("mvs_sales", "mvs_orders", Seq("n_name"),
      Seq(MV.SumCol("price", "total_price"), MV.CountAll("n_orders")),
      joins = Seq(MV.JoinSpec("mvs_customer", "o_custkey", "c_custkey"),
        MV.JoinSpec("mvs_nation", "c_nationkey", "n_nationkey")))
    inParallel( // independent tables: overlap the setup writes (§2.6)
      () => { lake.createOrReplace(customer, "mvs_customer"); () },
      () => { lake.createOrReplace(nation, "mvs_nation"); () },
      () => { lake.createOrReplace(orders.where(col("o_orderkey") % 3 === 0), "mvs_orders"); () })
    MV.create(lake, d)
    lake.append(orders.where(col("o_orderkey") % 3 === 1), "mvs_orders")
    MV.refresh(lake, d) // fact delta ⋈ pinned (customer, nation), merged
    // hop-2 dim movement: low-key nations regroup into one zone (MoR,
    // CDC-readable — but the CHAIN recomputes at the new pins by rule)
    lake.updateWhereMor(Seq("n_name" -> lit("ZONE_A")),
      col("n_nationkey") < 5, "mvs_nation")
    MV.refresh(lake, d)
    lake.append(orders.where(col("o_orderkey") % 3 === 2), "mvs_orders")
    MV.refresh(lake, d) // delta path resumes at the new pins
    lake.read("mvs_sales").select(
      col("n_name"), col("n_orders"),
      col("total_price").cast("double").as("total_price"))
      .orderBy("n_name")
  }

  /** `mview_dim_delta` — DIM-SIDE INCREMENTAL maintenance of a
    * join-shaped materialized view
    * ([[graft.sources.MaterializedView.dimDelta]]): an MoR dim update
    * re-labels 1% of customers into a new segment, and the refresh
    * applies it SUBTRACTIVELY — the CDC changelog of the dim interval
    * names the changed keys, the fact rows joining those keys are
    * re-read IN-pruned at the pinned fact snapshot, and each touched
    * group adds the inserted-side contribution minus the deleted-side
    * one. The readout pins `incremental = 1.0` (the dim-keyed
    * negative idempotency batch id committed), so the oracle
    * hash-checks semantics AND the scale property: at 100 TB a
    * 50-key dim backfill costs O(those keys' fact rows), never a fact
    * re-aggregation — the reference's silver_enrich shape
    * (spark_jobs/silver_transformation.py) made dim-update-priced. */
  def mviewDimDelta(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Lakehouse, MaterializedView => MV}
    val root = java.nio.file.Files.createTempDirectory("graft-mvdim").toString
    val lake = new Lakehouse(spark, root)
    val orders = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("decimal(18,2)").as("price"))
    val customer = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val d = MV.ViewDef("mvd_sales", "mvd_orders", Seq("c_mktsegment"),
      Seq(MV.SumCol("price", "total_price"), MV.CountAll("n_orders")),
      joins = Seq(MV.JoinSpec("mvd_customer", "o_custkey", "c_custkey")))
    inParallel( // independent tables: overlap the setup writes (§2.6)
      () => { lake.createOrReplace(customer, "mvd_customer"); () },
      () => { lake.createOrReplace(orders, "mvd_orders"); () })
    MV.create(lake, d)
    // MoR re-label (tombstone + updated image, CDC-readable): fifty
    // fixed customers move to the PROMO segment, fact untouched — the
    // key set is SF-INDEPENDENT so the 1024-key delta cost gate can
    // never flip this query onto the recompute path at a larger SF
    lake.updateWhereMor(Seq("c_mktsegment" -> lit("PROMO")),
      col("c_custkey") <= 100 && col("c_custkey") % 2 === 0, "mvd_customer")
    MV.refresh(lake, d)
    val incremental =
      if (lake.committedBatches("mvd_sales").exists(_ < 0)) 1.0 else 0.0
    lake.read("mvd_sales").select(
      col("c_mktsegment"), col("n_orders"),
      col("total_price").cast("double").as("total_price"),
      lit(incremental).as("incremental"))
      .orderBy("c_mktsegment")
  }

  /** `mview_left_delta` — LEFT-OUTER join view, dim-delta maintained
    * ([[graft.sources.MaterializedView.JoinSpec]] `joinType = "left"`):
    * the enrichment posture where facts must NOT vanish because the
    * dim lags — unmatched orders land in an `UNMATCHED` bucket. The
    * dim starts missing every 7th customer, then an MoR update
    * re-labels every 100th present customer; the refresh applies BOTH
    * the matched-pair subtraction and the null-extension legs (two
    * key-filtered pinned dim probes decide which changed keys matched
    * nothing before/after) — exact for any dim-key cardinality.
    * `incremental = 1.0` pins the subtractive path committed. */
  def mviewLeftDelta(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Lakehouse, MaterializedView => MV}
    val root = java.nio.file.Files.createTempDirectory("graft-mvleft").toString
    val lake = new Lakehouse(spark, root)
    val orders = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("decimal(18,2)").as("price"))
    val customer = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .where(col("c_custkey") % 7 =!= 0) // a LAGGING dim: every 7th missing
    val d = MV.ViewDef("mvl_sales", "mvl_orders", Seq("c_mktsegment"),
      Seq(MV.SumCol("price", "total_price"), MV.CountAll("n_orders")),
      joins = Seq(MV.JoinSpec("mvl_customer", "o_custkey", "c_custkey",
        joinType = "left")))
    inParallel( // independent tables: overlap the setup writes (§2.6)
      () => { lake.createOrReplace(customer, "mvl_customer"); () },
      () => { lake.createOrReplace(orders, "mvl_orders"); () })
    MV.create(lake, d)
    // SF-independent key set, same reason as mview_dim_delta
    lake.updateWhereMor(Seq("c_mktsegment" -> lit("PROMO")),
      col("c_custkey") <= 100 && col("c_custkey") % 2 === 0, "mvl_customer")
    MV.refresh(lake, d)
    val incremental =
      if (lake.committedBatches("mvl_sales").exists(_ < 0)) 1.0 else 0.0
    lake.read("mvl_sales").select(
      coalesce(col("c_mktsegment"), lit("UNMATCHED")).as("c_mktsegment"),
      col("n_orders"),
      col("total_price").cast("double").as("total_price"),
      lit(incremental).as("incremental"))
      .orderBy("c_mktsegment")
  }

  /** `mview_vanish` (r17) — a dim retraction that EMPTIES a whole
    * group stays on the incremental path: relabeling every BUILDING
    * customer to PROMO zeroes the BUILDING group, whose key rides the
    * keyed DELETE LEG of the same snapshot commit as the upsert
    * ([[graft.sources.Lakehouse.upsertDeleteOnce]] — atomic, batch-id
    * idempotent) instead of forcing the whole-view recompute this
    * cost through r16. `incremental_vanish = 1.0` pins BOTH claims:
    * the refresh committed through the subtractive path (negative
    * dim-keyed batch id) AND the emptied group is GONE from the
    * stored view (not lingering as a zero row). At 100 TB a
    * segment-merge backfill on a dashboard view is O(changed keys),
    * not a fact re-aggregate. */
  def mviewVanish(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Lakehouse, MaterializedView => MV}
    val root = java.nio.file.Files.createTempDirectory("graft-mvvan").toString
    val lake = new Lakehouse(spark, root)
    val orders = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("decimal(18,2)").as("price"))
    val customer = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val d = MV.ViewDef("mvv_sales", "mvv_orders", Seq("c_mktsegment"),
      Seq(MV.SumCol("price", "total_price"), MV.CountAll("n_orders")),
      joins = Seq(MV.JoinSpec("mvv_customer", "o_custkey", "c_custkey")))
    inParallel( // independent tables: overlap the setup writes (§2.6)
      () => { lake.createOrReplace(customer, "mvv_customer"); () },
      () => { lake.createOrReplace(orders, "mvv_orders"); () })
    MV.create(lake, d)
    lake.updateWhereMor(Seq("c_mktsegment" -> lit("PROMO")),
      col("c_mktsegment") === "BUILDING", "mvv_customer")
    MV.refresh(lake, d)
    val incremental =
      if (lake.committedBatches("mvv_sales").exists(_ < 0)) 1.0 else 0.0
    val vanished = if (lake.read("mvv_sales")
      .where(col("c_mktsegment") === "BUILDING").head(1).isEmpty) 1.0 else 0.0
    lake.read("mvv_sales").select(
      col("c_mktsegment"), col("n_orders"),
      col("total_price").cast("double").as("total_price"),
      lit(incremental * vanished).as("incremental_vanish"))
      .orderBy("c_mktsegment")
  }

  /** `mview_fact_mor` (r17) — a FACT MoR delete applies to the view
    * SUBTRACTIVELY: the refresh interval carries tombstones (which
    * the append-only reader refuses), so the CDC changelog restates
    * it net and the per-group delta merges in — sum/count subtract,
    * min/max ride extremum survivorship with exhausted groups
    * re-derived alone against the target snapshot. `incremental =
    * 1.0` pins that the refresh did NOT fall back to the fact
    * re-aggregation this cost through r16; the rollup (min/max
    * included — a %5 slice certainly carries some status's extremum)
    * is hash-exact vs DuckDB's anti-restatement. At 100 TB a
    * GDPR-style fact retraction against a dashboard view is
    * O(deleted rows + touched groups). */
  def mviewFactMor(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Lakehouse, MaterializedView => MV}
    val root = java.nio.file.Files.createTempDirectory("graft-mvfm").toString
    val lake = new Lakehouse(spark, root)
    val orders = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(18,2)").as("price"))
    val d = MV.ViewDef("mvfm_sales", "mvfm_orders", Seq("o_orderstatus"),
      Seq(MV.SumCol("price", "total"), MV.CountAll("n"),
        MV.MinCol("price", "lo"), MV.MaxCol("price", "hi")))
    lake.createOrReplace(orders, "mvfm_orders")
    MV.create(lake, d); MV.persist(lake, d)
    lake.deleteWhereMor(col("o_orderkey") % 5 === 0, "mvfm_orders")
    MV.refresh(lake, d)
    val incremental = if (lake.mviewsDf("mvfm_orders")
      .where(col("mview") === "mvfm_sales").head()
      .getAs[String]("last_refresh") == "incremental") 1.0 else 0.0
    lake.read("mvfm_sales").select(
      col("o_orderstatus"), col("n"),
      col("total").cast("double").as("total"),
      col("lo").cast("double").as("lo"),
      col("hi").cast("double").as("hi"),
      lit(incremental).as("incremental"))
      .orderBy("o_orderstatus")
  }

  /** `q_spj_lazy_eq` (r17) — ABOVE-GATE EQUALITY MoR deletes served
    * lazily: a delete-by-key whose on-disk key payload exceeds the
    * SPJ broadcast gate (forced to 1 byte here) reads through the
    * DSv2 catalog with the key set materialized PER EXECUTOR from the
    * tombstone's own slices ([[graft.sources.spj.SpjEqKeyCache]] —
    * single-flight, shared by every task on the JVM) — the driver
    * never holds a key, closing the refusal this path carried through
    * r16. `lazy_eq = 1.0` pins the REPRESENTATION (every tombstone of
    * the layout stayed on disk as
    * [[graft.sources.SpjEqTombstoneFiles]]); the rollup values are
    * hash-exact vs DuckDB's anti-restatement, proving the executor
    * probe drops exactly the deleted keys. At 100 TB a 100M-key
    * equality delete plans with one schema-footer read. */
  def qSpjLazyEq(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{Lakehouse, SpjEqTombstoneFiles}
    import graft.sources.spj.GraftSpjCatalog
    val root = java.nio.file.Files.createTempDirectory("graft-spjlzeq").toString
    val lake = new Lakehouse(spark, root)
    val orders = Tables.orders(spark, dir).select(
      col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(18,2)").as("price"))
    lake.createOrReplace(orders, "lzeq_orders", Seq("bucket(8,o_orderkey)"))
    lake.deleteByKeyMor(orders.where(col("o_orderkey") % 7 === 0)
      .select("o_orderkey"), "lzeq_orders")
    val cat = s"graft_spj_${spjCatalogSeq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val gateKey = "spark.graft.spj.tombstone-broadcast-bytes"
    spark.conf.set(gateKey, "1")
    try {
      val dels = lake.spjLayout("lzeq_orders").deletes
      val lazyRep = if (dels.nonEmpty &&
        dels.forall(_.isInstanceOf[SpjEqTombstoneFiles])) 1.0 else 0.0
      // freeze inside the conf scope: the LAZY representation must be
      // the one that EXECUTES, not just the one inspected — a lazy
      // return would re-plan after the finally restores the gate
      val rows = spark.table(s"$cat.lzeq_orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("price")).cast("double").as("total"))
        .orderBy("o_orderstatus").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), lazyRep))
      import spark.implicits._
      rows.toSeq.toDF("o_orderstatus", "n", "total", "lazy_eq")
        .orderBy("o_orderstatus")
    } finally spark.conf.unset(gateKey)
  }

  /** `sql_wap` — WRITE-AUDIT-PUBLISH through parsed SQL (the Iceberg
    * WAP pattern; the reference environment's Nessie branches exist
    * for exactly this): the clean baseline lands on main, the
    * incoming batch lands on a STAGING branch (`spark.graft.branch`
    * session scoping — NESSIE_REF semantics), the audit finds and
    * repairs violations ON THE BRANCH with row-level DELETE while
    * main keeps serving readers untouched, and publishing is
    * `FAST FORWARD` — a branch-pointer move over immutable shared
    * snapshots, zero data rewritten. The oracle restates the net
    * effect (everything except the audited-out rows), so the hash
    * compare proves the corrupt rows never reached main AND the
    * audited batch fully did. */
  def sqlWap(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft-wap").toString
    spark.conf.set(graft.sources.LakehouseCtasCommand.RootConf, root)
    try {
      spark.sql(
        """CREATE TABLE wap_orders AS
          |SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM orders WHERE o_orderstatus = 'F'""".stripMargin)
      spark.sql("ALTER TABLE wap_orders CREATE BRANCH staging")
      spark.conf.set("spark.graft.branch", "staging")
      try {
        spark.sql(
          """INSERT INTO wap_orders
            |SELECT o_orderkey, o_orderstatus, o_totalprice
            |FROM orders WHERE o_orderstatus <> 'F'""".stripMargin)
        // audit rule: P-status rows may not publish — repaired on the
        // branch; main has not seen any of this batch yet
        spark.sql("DELETE FROM wap_orders WHERE o_orderstatus = 'P'")
      } finally spark.conf.unset("spark.graft.branch")
      spark.sql("ALTER TABLE wap_orders FAST FORWARD staging INTO main")
      spark.sql(
        """SELECT o_orderstatus, count(*) AS n,
          |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM wap_orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    } finally spark.conf.unset(graft.sources.LakehouseCtasCommand.RootConf)
  }

  /** `sql_mview` — the same incremental-view lifecycle driven ENTIRELY
    * through parsed SQL (the operator-facing surface): CTAS half of
    * `orders` into the session lake, `CREATE MATERIALIZED VIEW`
    * (persists the definition in `_mviews.jsonl` + materializes),
    * `INSERT INTO` the other half, `CALL system.refresh_mview` (loads
    * the definition by name, delta-merges, re-registers the view),
    * read the view back. Same oracle as [[mviewIncremental]]: the
    * final view must hash-match DuckDB's full GROUP BY over all
    * orders. */
  def sqlMview(spark: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("graft-sqlmv").toString
    spark.conf.set(graft.sources.LakehouseCtasCommand.RootConf, root)
    try {
      spark.sql(
        """CREATE TABLE mvq_orders AS
          |SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS price
          |FROM orders WHERE o_orderkey % 2 = 0""".stripMargin)
      spark.sql(
        """CREATE MATERIALIZED VIEW mvq_sales AS
          |SELECT o_orderstatus, sum(price) AS total_price, count(*) AS n_orders,
          |  min(price) AS min_price, max(price) AS max_price
          |FROM mvq_orders GROUP BY o_orderstatus""".stripMargin)
      spark.sql(
        """INSERT INTO mvq_orders
          |SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS price
          |FROM orders WHERE o_orderkey % 2 = 1""".stripMargin)
      spark.sql("CALL system.refresh_mview('mvq_sales')").collect()
      spark.sql(
        """SELECT o_orderstatus,
          |  round(CAST(total_price AS DOUBLE), 2) AS total_price, n_orders,
          |  round(CAST(min_price AS DOUBLE), 2) AS min_price,
          |  round(CAST(max_price AS DOUBLE), 2) AS max_price
          |FROM mvq_sales ORDER BY o_orderstatus""".stripMargin)
    } finally spark.conf.unset(graft.sources.LakehouseCtasCommand.RootConf)
  }

  /** Does the executed plan contain a shuffle? A tree walk over plan
    * NODE CLASSES — a `toString.contains("Exchange")` probe would flip
    * on a node rename or an unrelated substring. AQE wraps the plan in
    * `AdaptiveSparkPlanExec`; its pre-execution inner plan is what the
    * static bucketed-scan decision shows, so walk into it too. */
  private[graft] def plansShuffle(df: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def walk(p: SparkPlan): Boolean = p match {
      case s: ShuffleExchangeLike => true
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan) || walk(a.initialPlan)
      case other => other.children.exists(walk) ||
        other.subqueries.exists(walk)
    }
    walk(df.queryExecution.executedPlan)
  }
}
