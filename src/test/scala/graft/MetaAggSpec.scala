package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.Medallion.{collectExec, metaOnlyPlan}
import graft.sources.Lakehouse

/** Metadata-only aggregates (Iceberg aggregate-pushdown analog):
  * `count` / `min` / `max` / `sum` answered by the DSv2 aggregate
  * pushdown ([[graft.sources.spj.SpjMetaAgg]]) from the
  * `_stats.jsonl` + `_rowcounts.jsonl` + `_sums.jsonl` ledgers. Every
  * case reads through the relation SQL statements use
  * (`Lakehouse.sqlRelation`, the registered name's DSv2 scan). The
  * scale property under test: a fully-ledgered aggregate plans NO file
  * scan (`metaOnlyPlan = 1.0` — the 100 TB table's row count is a
  * driver-side readout), and a predicated aggregate prunes files by
  * their stats and scans the survivors. Exactness is non-negotiable:
  * every answer must equal the ordinary `lake.read` scan's, and every
  * shape the ledgers cannot prove declines to that scan. */
class MetaAggSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-metaagg").toString

  /** `aggs` over the table's SQL relation (the DSv2 scan) and over the
    * ordinary `lake.read` scan, both under `pred`: (answer, scan
    * answer, the answer's metadata-only verdict, its plan). */
  private def both(lake: Lakehouse, t: String, pred: Option[Column] = None)(
      aggs: Column*): (Row, Row, Double, DataFrame) = {
    def q(df: DataFrame) = pred.fold(df)(df.where).agg(aggs.head, aggs.tail: _*)
    val got = q(lake.sqlRelation(t, "main"))
    (got.head(), q(lake.read(t)).head(), metaOnlyPlan(got), got)
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("count(*) with no predicate: zero data-dir opens, exact across appends") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.createOrReplace((0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "v"), "t")
    lake.append((100 until 250).map(i => (i.toLong, s"v$i")).toDF("k", "v"), "t")
    lake.append((250 until 260).map(i => (i.toLong, s"v$i")).toDF("k", "v"), "t")
    val before = Lakehouse.dataDirOpens.get()
    val q = lake.sqlRelation("t", "main").agg(count(lit(1)))
    val n = q.head().getLong(0)
    assert(Lakehouse.dataDirOpens.get() - before === 0,
      "unpredicated count(*) must not open any data dir")
    assert(metaOnlyPlan(q) === 1.0, plan(q))
    assert(n === 260)
    assert(n === lake.read("t").count())
  }

  /** Four ONE-FILE dirs with disjoint k-ranges [0,100) [100,200)
    * [200,300) [300,400) and a declared sum column `x = 2k`: one file
    * per dir, so [200,300) genuinely straddles a `k < 250` boundary. */
  private def fourDirs(): Lakehouse = {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("t", Seq("x"))
    lake.createOrReplace(
      (0 until 100).map(i => (i.toLong, i * 2L)).toDF("k", "x").repartition(1), "t")
    (1 to 3).foreach { d =>
      lake.append((d * 100 until (d + 1) * 100).map(i => (i.toLong, i * 2L))
        .toDF("k", "x").repartition(1), "t")
    }
    lake
  }

  /** `aggs` under `pred` over the SQL relation. Asserts the answer
    * equals the filtered `lake.read` scan's, that the plan is not
    * metadata-only (a residual predicate: Spark never pushes the
    * aggregate) and that every item reads ONE DSv2 scan of `planned`
    * files (the rest pruned by their stats); returns the answer. */
  private def prunedExact(lake: Lakehouse, pred: Column, planned: Int)(aggs: Column*): Row = {
    val (got, want, metaOnly, q) = both(lake, "t", Some(pred))(aggs: _*)
    assert(got === want, s"pred=$pred")
    assert(metaOnly === 0.0, plan(q))
    val scans = collectExec(q) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.collect { case s: graft.sources.spj.GraftSpjScan => s }
    assert(scans.size === 1, plan(q))
    assert(scans.head.plannedFileCount === planned, s"pred=$pred\n${plan(q)}")
    got
  }

  // The interior dirs (all rows match) are read by the same scan as the
  // boundary dir: the stats prune only the dirs no row of which matches.
  test("predicated count scans ONLY the boundary dir, not the interior") {
    val lake = fourDirs()
    // dir 3 straddles 250, dir 4 is pruned: three files planned
    val r = prunedExact(lake, col("k") < 250, 3)(count(lit(1)))
    assert(r.getLong(0) === 250)
  }

  test("predicated sum scans ONLY the boundary dir; interior dirs answer from the ledger") {
    val lake = fourDirs()
    val r = prunedExact(lake, col("k") < 250, 3)(sum(col("x")))
    assert(r.getLong(0) === (0 until 250).map(_ * 2L).sum)
    // the same sum unpredicated is a ledger readout
    val (all, allScan, metaOnly, q) = both(lake, "t")(sum(col("x")))
    assert(metaOnly === 1.0, plan(q))
    assert(all === allScan && all.getLong(0) === (0 until 400).map(_ * 2L).sum)
  }

  test("count+sum+min/max in one call share scans: one open per boundary dir") {
    val lake = fourDirs()
    val r = prunedExact(lake, col("k") < 250, 3)(count(lit(1)), sum(col("x")),
      min(col("x")), max(col("x")), min(col("k")), max(col("k")))
    assert(r.getLong(0) === 250)
    assert(r.getLong(1) === (0 until 250).map(_ * 2L).sum)
    assert(r.getLong(2) === 0L && r.getLong(3) === 498L)
    assert(r.getLong(4) === 0L && r.getLong(5) === 249L)
  }

  test("predicated min/max: all-match dirs answer from the ledger, boundary dirs scan") {
    val lake = fourDirs()
    // k >= 100 AND k < 250 prunes dirs 1 and 4
    val r = prunedExact(lake, col("k") >= 100 && col("k") < 250, 2)(
      min(col("k")), max(col("k")), max(col("x")))
    assert(r.getLong(0) === 100L && r.getLong(1) === 249L && r.getLong(2) === 498L)
    // SQL surface: the same shape through a registered view
    lake.registerView("t")
    val s = spark.sql("SELECT min(k) AS lo, max(k) AS hi FROM t WHERE k >= 100 AND k < 250").head()
    assert(s.getLong(0) === 100L && s.getLong(1) === 249L)
  }

  test("recorded nulls block all-match: null rows are excluded, count stays exact") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val rows = (0 until 50).map(i =>
      (i.toLong, if (i % 5 == 0) None else Some(i * 1.0))).toDF("k", "x")
    lake.createOrReplace(rows, "t")
    // every non-null x is >= 0, but a null fails x >= 0: the scan
    // answers the predicated count exactly
    val (n, want, _, _) = both(lake, "t", Some(col("x") >= 0.0))(count(lit(1)))
    assert(n.getLong(0) === 40)
    assert(n === want)
    // unpredicated count(x) is the recorded NULL counts' readout
    val (nx, wantX, metaOnly, q) = both(lake, "t")(count(col("x")))
    assert(nx.getLong(0) === 40 && nx === wantX)
    assert(metaOnly === 1.0, plan(q))
  }

  test("min/max answer from the ledger: long, double, string — zero data opens") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.createOrReplace(Seq((5L, 2.5, "mango"), (17L, -3.25, "apple")).toDF("k", "x", "s"), "t")
    lake.append(Seq((2L, 9.75, "zebra"), (11L, 0.5, "kiwi")).toDF("k", "x", "s"), "t")
    val (r, want, metaOnly, q) = both(lake, "t")(
      min(col("k")), max(col("k")), min(col("x")), max(col("x")),
      min(col("s")), max(col("s")), count(lit(1)))
    assert(metaOnly === 1.0, "no file scan, so no data opens:\n" + plan(q))
    assert(r.getLong(0) === 2L && r.getLong(1) === 17L)
    assert(r.getDouble(2) === -3.25 && r.getDouble(3) === 9.75)
    assert(r.getString(4) === "apple" && r.getString(5) === "zebra")
    assert(r.getLong(6) === 4L)
    assert(r === want)
  }

  test("timestamp min/max surface at TimestampType, equal to the scan's") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val ts = Seq("2024-03-01 10:00:00", "2024-03-05 23:59:59", "2024-02-28 00:00:01")
      .map(java.sql.Timestamp.valueOf)
    lake.createOrReplace(ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("k", "ts"), "t")
    val (got, want, metaOnly, q) = both(lake, "t")(min(col("ts")), max(col("ts")))
    assert(metaOnly === 1.0, plan(q))
    assert(q.schema.fields.map(_.dataType).toSeq ===
      Seq(org.apache.spark.sql.types.TimestampType, org.apache.spark.sql.types.TimestampType))
    assert(got === want)
  }

  test("tombstoned snapshots refuse the metadata path (MoR delete changed the counts)") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.createOrReplace((0 until 20).map(i => (i.toLong, s"v$i")).toDF("k", "v"), "tmetatomb")
    lake.deleteWhereMor(col("k") < 5, "tmetatomb")
    val (n, want, metaOnly, q) = both(lake, "tmetatomb")(count(lit(1)))
    assert(metaOnly === 0.0, plan(q))
    assert(n.getLong(0) === 15 && n === want)
    // and the SQL surface still answers correctly through its scan
    lake.registerView("tmetatomb")
    assert(spark.sql("SELECT count(*) FROM tmetatomb").head().getLong(0) === 15)
  }

  test("coverage gap (missing stats ledger): min/max decline to the scan, stay exact") {
    import spark.implicits._
    val root = freshRoot()
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace(Seq((3L, "a"), (9L, "b")).toDF("k", "v"), "t")
    lake.append(Seq((1L, "c")).toDF("k", "v"), "t")
    // blind the LAST dir's ledger (it holds k=1, the true min): the
    // bounds are no longer provable from metadata, so the scan answers
    // — never a wrong metadata answer
    val statsFiles = new java.io.File(root, "t").listFiles().filter(_.isDirectory)
      .map(d => new java.io.File(d, "_stats.jsonl")).filter(_.exists)
    assert(statsFiles.nonEmpty)
    val last = statsFiles.maxBy(_.getParentFile.getName.stripPrefix("data-").toLong)
    assert(last.delete())
    val (r, want, metaOnly, q) = both(lake, "t")(min(col("k")), max(col("k")))
    assert(metaOnly === 0.0, plan(q))
    assert(r.getLong(0) === 1L && r.getLong(1) === 9L && r === want)
    // the row-count ledger is intact: count(*) still answers from it
    val (n, _, nMeta, nq) = both(lake, "t")(count(lit(1)))
    assert(nMeta === 1.0, plan(nq))
    assert(n.getLong(0) === 3)
  }

  test("rowcounts ledger absent (pre-ledger dir): count declines to the scan, exact") {
    import spark.implicits._
    val root = freshRoot()
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace((0 until 30).map(i => (i.toLong, s"v$i")).toDF("k", "v"), "t")
    new java.io.File(root, "t").listFiles().filter(_.isDirectory)
      .map(d => new java.io.File(d, "_rowcounts.jsonl")).filter(_.exists).foreach(_.delete())
    // an unrecorded row count is unknown, never zero: the scan counts
    val (n, want, metaOnly, q) = both(lake, "t")(count(lit(1)))
    assert(metaOnly === 0.0, plan(q))
    assert(n.getLong(0) === 30 && n === want)
  }

  test("partition-predicate count over a partitioned table: all-match partitions by metadata") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val df = (0 until 90).map(i => (i.toLong, Seq("a", "b", "c")(i % 3))).toDF("k", "p")
    lake.createOrReplace(df, "t", partitionBy = Seq("p"))
    val (n, want, metaOnly, q) = both(lake, "t", Some(col("p") === "b"))(count(lit(1)))
    assert(n.getLong(0) === 30 && n === want)
    assert(metaOnly === 1.0,
      "a partition-exact predicate needs no data scan: the path value IS the stat\n" + plan(q))
  }

  test("SQL: SELECT count(*)/min/max FROM t matches Spark and keeps Spark's names") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.createOrReplace((0 until 40).map(i => (i.toLong, i * 3.0)).toDF("k", "x"), "tsqlagg")
    lake.append((40 until 60).map(i => (i.toLong, i * 3.0)).toDF("k", "x"), "tsqlagg")
    lake.registerView("tsqlagg")
    val r = spark.sql("SELECT count(*), min(k) AS klo, max(x) FROM tsqlagg").head()
    assert(r.getLong(0) === 60 && r.getLong(1) === 0L && r.getDouble(2) === 177.0)
    // default output names are Spark's own
    val names = spark.sql("SELECT count(*), min(k), max(x) FROM tsqlagg").columns.toSeq
    assert(names === Seq("count(1)", "min(k)", "max(x)"))
    // predicated count through SQL
    assert(spark.sql("SELECT count(*) AS n FROM tsqlagg WHERE k >= 50").head().getLong(0) === 10)
    // grouped and sum shapes answer through the same relation
    assert(spark.sql("SELECT count(*) AS n FROM tsqlagg GROUP BY k % 2 ORDER BY n").count() === 2)
    assert(spark.sql("SELECT sum(x) FROM tsqlagg").head().getDouble(0) ===
      (0 until 60).map(_ * 3.0).sum)
  }

  test("sql_stats_agg lifecycle: every metric equals the scan recomputation; meta_only = 1") {
    val out = graft.operators.Medallion.sqlStatsAgg(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val orders = graft.sources.Tables.orders(spark, sf)
    val r = orders.agg(
      min(col("o_orderkey")), max(col("o_orderkey")),
      min(col("o_totalprice")), max(col("o_totalprice")),
      sum(when(col("o_totalprice") < 150000.0, 1L).otherwise(0L)), count(lit(1)),
      sum(col("o_orderkey")),
      sum(col("o_totalprice").cast("decimal(12,2)"))).head()
    assert(out("meta_only") === 1.0,
      "the unpredicated SQL aggregate planned a file scan — the ledger pushdown did not fire")
    assert(out("k_lo") === r.getAs[Number](0).doubleValue())
    assert(out("k_hi") === r.getAs[Number](1).doubleValue())
    assert(out("p_lo") === r.getAs[Number](2).doubleValue())
    assert(out("p_hi") === r.getAs[Number](3).doubleValue())
    assert(out("n_cheap") === r.getAs[Number](4).doubleValue())
    assert(out("n_total") === r.getAs[Number](5).doubleValue())
    assert(out("s_key") === r.getAs[Number](6).doubleValue())
    assert(out("s_price") === r.getAs[Number](7).doubleValue())
  }

  test("SQL fast path and scan agree on an empty table (count 0, NULL min)") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.createOrReplace(Seq((1L, "x")).toDF("k", "v").limit(0), "tempty")
    lake.registerView("tempty")
    val r = spark.sql("SELECT count(*) AS n, min(k) AS lo FROM tempty").head()
    assert(r.getLong(0) === 0 && r.isNullAt(1))
  }

  test("declared sums: unpredicated sum(long)+sum(decimal) is metadata-only and exact") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("t", Seq("k", "price"))
    def df(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, BigDecimal(i) * BigDecimal("1.25"))).toDF("k", "price")
      .withColumn("price", col("price").cast("decimal(18,2)"))
    lake.createOrReplace(df(0, 100), "t")
    lake.append(df(100, 250), "t")
    val (r, exact, metaOnly, q) =
      both(lake, "t")(sum(col("k")), sum(col("price")), count(lit(1)))
    assert(metaOnly === 1.0, "declared-sum aggregate must not scan data:\n" + plan(q))
    assert(r.getLong(0) === exact.getLong(0))
    assert(r.getDecimal(1) === exact.getDecimal(1))
    assert(r.getLong(2) === exact.getLong(2))
  }

  test("sum over an all-NULL file contributes nothing; all-NULL table sums to SQL NULL") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("t", Seq("x"))
    lake.createOrReplace(
      (0 until 10).map(i => (i.toLong, Option.empty[Long])).toDF("k", "x"), "t")
    val (r0, want0, meta0, q0) = both(lake, "t")(sum(col("x")))
    assert(r0.isNullAt(0) && r0 === want0, "sum over only NULLs must be SQL NULL")
    assert(meta0 === 1.0, plan(q0))
    lake.append((0 until 10).map(i => (i.toLong, Some(i.toLong))).toDF("k", "x"), "t")
    val (r1, want1, meta1, q1) = both(lake, "t")(sum(col("x")))
    assert(meta1 === 1.0, plan(q1))
    assert(r1.getLong(0) === 45L && r1 === want1)
  }

  test("double sums refuse the metadata path (order-dependent addition is not restatable)") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("t", Seq("x"))
    lake.createOrReplace((0 until 10).map(i => (i.toLong, i * 1.5)).toDF("k", "x"), "t")
    val (r, want, metaOnly, q) = both(lake, "t")(sum(col("x")))
    assert(metaOnly === 0.0, plan(q))
    assert(r === want)
  }

  test("undeclared table: sum item scans (still exact), declaration is per-table opt-in") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.createOrReplace((0 until 50).map(i => (i.toLong, i * 3L)).toDF("k", "x"), "t")
    val (r, want, metaOnly, q) = both(lake, "t")(sum(col("x")))
    assert(metaOnly === 0.0, "no recorded sums: must scan\n" + plan(q))
    assert(r.getLong(0) === (0 until 50).map(_ * 3L).sum && r === want)
  }

  test("compute_sums CALL backfills existing dirs; sum then answers metadata-only") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.createOrReplace((0 until 100).map(i => (i.toLong, i * 2L)).toDF("k", "x"), "t")
    lake.append((100 until 150).map(i => (i.toLong, i * 2L)).toDF("k", "x"), "t")
    lake.registerView("t")
    // plan once before the backfill: the CALL commits no snapshot, so
    // the scan layout cached here must not outlive the new ledgers
    assert(spark.sql("SELECT count(*) AS n FROM t").head().getLong(0) === 150L)
    spark.sql("CALL system.compute_sums(table => 't', columns => 'x')").collect()
    val q = spark.sql("SELECT sum(x) AS s, count(*) AS n FROM t")
    val r = q.head()
    assert(metaOnlyPlan(q) === 1.0,
      "backfilled sums must answer SELECT sum() from the ledgers, with no file scan:\n" +
        q.queryExecution.executedPlan)
    assert(r.getLong(0) === (0 until 150).map(_ * 2L).sum)
    assert(r.getLong(1) === 150L)
  }

  test("tombstoned snapshot: sum falls back to the scan path, stays exact") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("t", Seq("x"))
    lake.createOrReplace((0 until 100).map(i => (i.toLong, i * 2L)).toDF("k", "x"), "t")
    lake.deleteWhereMor(col("k") % 10 === 0, "t")
    val (s, want, metaOnly, q) = both(lake, "t")(sum(col("x")))
    assert(metaOnly === 0.0, "MoR tombstones change sums — metadata must refuse\n" + plan(q))
    assert(s === want)
    lake.registerView("t")
    val r = spark.sql("SELECT sum(x) AS s FROM t").head()
    assert(r.getLong(0) === (0 until 100).filter(_ % 10 != 0).map(_ * 2L).sum)
  }

  test("sum whose exact total overflows Long refuses the fast path (Spark wraps; we must not differ)") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("t", Seq("x"))
    lake.createOrReplace(Seq((1L, Long.MaxValue - 10L)).toDF("k", "x"), "t")
    lake.append(Seq((2L, Long.MaxValue - 10L)).toDF("k", "x"), "t")
    val q = lake.sqlRelation("t", "main").agg(sum(col("x")))
    assert(metaOnlyPlan(q) === 0.0, plan(q))
    // the same outcome as the ordinary scan: its wrapped total, or the
    // same overflow error under ANSI arithmetic
    def outcome(df: DataFrame) = scala.util.Try(df.head()).toEither.left.map(_.getClass)
    assert(outcome(q) === outcome(lake.read("t").agg(sum(col("x")))))
  }
}
