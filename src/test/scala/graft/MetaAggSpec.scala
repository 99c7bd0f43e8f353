package graft

import org.apache.spark.sql.functions._

import graft.sources.Lakehouse

/** Metadata-only aggregates (Iceberg aggregate-pushdown analog):
  * `count(*)` / `min` / `max` answered from the manifest +
  * `_stats.jsonl` + `_rowcounts.jsonl` ledgers. The scale property
  * under test: a fully-covered aggregate opens ZERO data dirs (the
  * 100 TB table's row count is a driver-side metadata readout), and a
  * predicated count scans only the files whose ranges STRADDLE the
  * predicate boundary — never the interior. Exactness is
  * non-negotiable: every fast-path answer must equal the scan's. */
class MetaAggSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-metaagg").toString

  private def items(specs: (String, String, String)*): Seq[Lakehouse.MetaAggItem] =
    specs.map { case (op, c, al) =>
      Lakehouse.MetaAggItem(op, if (c.isEmpty) None else Some(c), al)
    }

  test("count(*) with no predicate: zero data-dir opens, exact across appends") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.createOrReplace((0 until 100).map(i => (i.toLong, s"v$i")).toDF("k", "v"), "t")
    lake.append((100 until 250).map(i => (i.toLong, s"v$i")).toDF("k", "v"), "t")
    lake.append((250 until 260).map(i => (i.toLong, s"v$i")).toDF("k", "v"), "t")
    val before = Lakehouse.dataDirOpens.get()
    val df = lake.metaAgg("t", items(("count", "", "n")), None)
    assert(df.isDefined)
    val n = df.get.head().getLong(0)
    assert(Lakehouse.dataDirOpens.get() - before === 0,
      "unpredicated count(*) must not open any data dir")
    assert(n === 260)
    assert(n === lake.read("t").count())
  }

  test("predicated count scans ONLY the boundary dir, not the interior") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    // four ONE-FILE dirs with disjoint k-ranges: [0,100) [100,200)
    // [200,300) [300,400) — single files so [200,300) genuinely
    // straddles the 250 boundary (a multi-file dir would split into
    // all-match + pruned files and need no scan at all)
    lake.createOrReplace(
      (0 until 100).map(i => (i.toLong, i * 2.0)).toDF("k", "x").repartition(1), "t")
    (1 to 3).foreach { d =>
      lake.append((d * 100 until (d + 1) * 100).map(i => (i.toLong, i * 2.0))
        .toDF("k", "x").repartition(1), "t")
    }
    val before = Lakehouse.dataDirOpens.get()
    val df = lake.metaAgg("t", items(("count", "", "n")), Some(col("k") < 250))
    val n = df.get.head().getLong(0)
    val opened = Lakehouse.dataDirOpens.get() - before
    assert(n === 250)
    // dirs 1+2 are ALL-MATCH (metadata), dir 3 straddles 250 (scanned),
    // dir 4 is pruned — exactly one data-dir open
    assert(opened === 1, s"expected 1 boundary dir open, got $opened")
    assert(n === lake.read("t").where(col("k") < 250).count())
  }

  test("recorded nulls block all-match: null rows are excluded, count stays exact") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val rows = (0 until 50).map(i =>
      (i.toLong, if (i % 5 == 0) None else Some(i * 1.0))).toDF("k", "x")
    lake.createOrReplace(rows, "t")
    // every non-null x is >= 0, but the file has nulls → all-match must
    // NOT fire (a null fails x >= 0); the scan gives the exact answer
    val n = lake.metaAgg("t", items(("count", "", "n")), Some(col("x") >= 0.0)).get.head().getLong(0)
    assert(n === 40)
    assert(n === lake.read("t").where(col("x") >= 0.0).count())
  }

  test("min/max answer from the ledger: long, double, string — zero data opens") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.createOrReplace(Seq((5L, 2.5, "mango"), (17L, -3.25, "apple")).toDF("k", "x", "s"), "t")
    lake.append(Seq((2L, 9.75, "zebra"), (11L, 0.5, "kiwi")).toDF("k", "x", "s"), "t")
    val before = Lakehouse.dataDirOpens.get()
    val df = lake.metaAgg("t", items(
      ("min", "k", "klo"), ("max", "k", "khi"),
      ("min", "x", "xlo"), ("max", "x", "xhi"),
      ("min", "s", "slo"), ("max", "s", "shi"), ("count", "", "n")), None)
    assert(df.isDefined)
    val r = df.get.head()
    assert(Lakehouse.dataDirOpens.get() - before === 0)
    assert(r.getLong(0) === 2L && r.getLong(1) === 17L)
    assert(r.getDouble(2) === -3.25 && r.getDouble(3) === 9.75)
    assert(r.getString(4) === "apple" && r.getString(5) === "zebra")
    assert(r.getLong(6) === 4L)
  }

  test("timestamp min/max surface at TimestampType, equal to the scan's") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val ts = Seq("2024-03-01 10:00:00", "2024-03-05 23:59:59", "2024-02-28 00:00:01")
      .map(java.sql.Timestamp.valueOf)
    lake.createOrReplace(ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("k", "ts"), "t")
    val got = lake.metaAgg("t", items(("min", "ts", "lo"), ("max", "ts", "hi")), None)
    assert(got.isDefined)
    val expect = lake.read("t").agg(min(col("ts")), max(col("ts"))).head()
    assert(got.get.head() === expect)
  }

  test("tombstoned snapshots refuse the metadata path (MoR delete changed the counts)") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.createOrReplace((0 until 20).map(i => (i.toLong, s"v$i")).toDF("k", "v"), "tmetatomb")
    lake.deleteWhereMor(col("k") < 5, "tmetatomb")
    assert(lake.metaAgg("tmetatomb", items(("count", "", "n")), None).isEmpty)
    // and the SQL surface still answers correctly through its scan
    lake.registerView("tmetatomb")
    assert(spark.sql("SELECT count(*) FROM tmetatomb").head().getLong(0) === 15)
  }

  test("coverage gap (missing stats ledger): min scans ONLY the blinded dir, stays exact") {
    import spark.implicits._
    val root = freshRoot()
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace(Seq((3L, "a"), (9L, "b")).toDF("k", "v"), "t")
    lake.append(Seq((1L, "c")).toDF("k", "v"), "t")
    // blind the LAST dir's ledger (it holds k=1, the true min): the
    // ledger leg answers the covered dir, the blinded dir scans —
    // exact answer, one data-dir open, never a wrong metadata answer
    val statsFiles = new java.io.File(root, "t").listFiles().filter(_.isDirectory)
      .map(d => new java.io.File(d, "_stats.jsonl")).filter(_.exists)
    assert(statsFiles.nonEmpty)
    val last = statsFiles.maxBy(_.getParentFile.getName.stripPrefix("data-").toLong)
    assert(last.delete())
    val before = Lakehouse.dataDirOpens.get()
    val got = lake.metaAgg("t", items(("min", "k", "lo"), ("max", "k", "hi")), None)
    assert(got.isDefined)
    val r = got.get.head()
    assert(r.getLong(0) === 1L && r.getLong(1) === 9L)
    assert(Lakehouse.dataDirOpens.get() - before <= 2, // one per min/max leg
      "only the blinded dir may be scanned")
    val n = lake.metaAgg("t", items(("count", "", "n")), None)
    assert(n.isDefined && n.get.head().getLong(0) === 3)
  }

  test("predicated min/max: all-match dirs answer from the ledger, boundary dirs scan") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    // three one-file dirs: [0,100) [100,200) [200,300)
    lake.createOrReplace((0 until 100).map(i => (i.toLong, i * 1.5)).toDF("k", "x")
      .repartition(1), "t")
    lake.append((100 until 200).map(i => (i.toLong, i * 1.5)).toDF("k", "x").repartition(1), "t")
    lake.append((200 until 300).map(i => (i.toLong, i * 1.5)).toDF("k", "x").repartition(1), "t")
    val before = Lakehouse.dataDirOpens.get()
    val got = lake.metaAgg("t",
      items(("min", "k", "lo"), ("max", "k", "hi"), ("max", "x", "xhi")),
      Some(col("k") >= 100 && col("k") < 250))
    assert(got.isDefined)
    val r = got.get.head()
    assert(r.getLong(0) === 100L && r.getLong(1) === 249L && r.getDouble(2) === 249 * 1.5)
    // dir 2 is all-match (ledger); dir 3 straddles 250 (scan, once per
    // bound that needs it); dir 1 pruned
    val opened = Lakehouse.dataDirOpens.get() - before
    assert(opened <= 3 && opened >= 1, s"boundary-only scans expected, got $opened opens")
    val want = lake.read("t").where(col("k") >= 100 && col("k") < 250)
      .agg(min(col("k")), max(col("k")), max(col("x"))).head()
    assert(r === want)
    // SQL surface: the same shape through a registered view
    lake.createOrReplace(lake.read("t"), "tpredmm")
    lake.registerView("tpredmm")
    val s = spark.sql("SELECT min(k) AS lo, max(k) AS hi FROM tpredmm WHERE k >= 100 AND k < 250").head()
    assert(s.getLong(0) === 100L && s.getLong(1) === 249L)
  }

  test("rowcounts ledger absent (pre-ledger dir): footer fallback keeps it metadata-only") {
    import spark.implicits._
    val root = freshRoot()
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace((0 until 30).map(i => (i.toLong, s"v$i")).toDF("k", "v"), "t")
    new java.io.File(root, "t").listFiles().filter(_.isDirectory)
      .map(d => new java.io.File(d, "_rowcounts.jsonl")).filter(_.exists).foreach(_.delete())
    val before = Lakehouse.dataDirOpens.get()
    val n = lake.metaAgg("t", items(("count", "", "n")), None)
    assert(n.isDefined && n.get.head().getLong(0) === 30)
    assert(Lakehouse.dataDirOpens.get() - before === 0,
      "footer row counts are metadata reads, not data-dir opens")
  }

  test("partition-predicate count over a partitioned table: all-match partitions by metadata") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val df = (0 until 90).map(i => (i.toLong, Seq("a", "b", "c")(i % 3))).toDF("k", "p")
    lake.createOrReplace(df, "t", partitionBy = Seq("p"))
    val before = Lakehouse.dataDirOpens.get()
    val n = lake.metaAgg("t", items(("count", "", "n")), Some(col("p") === "b")).get.head().getLong(0)
    assert(n === 30)
    assert(Lakehouse.dataDirOpens.get() - before === 0,
      "a partition-exact predicate needs no data scan: the path value IS the stat")
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
    val before = Lakehouse.dataDirOpens.get()
    val out = lake.metaAgg("t",
      items(("sum", "k", "sk"), ("sum", "price", "sp"), ("count", "", "n")), None)
    assert(out.isDefined)
    val r = out.get.head()
    assert(Lakehouse.dataDirOpens.get() - before === 0,
      "declared-sum aggregate must not open any data dir")
    val exact = lake.read("t").agg(sum(col("k")), sum(col("price")), count(lit(1))).head()
    assert(r.getLong(0) === exact.getLong(0))
    assert(r.getDecimal(1) === exact.getDecimal(1))
    assert(r.getLong(2) === exact.getLong(2))
  }

  test("predicated sum scans ONLY the boundary dir; interior dirs answer from the ledger") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("t", Seq("x"))
    lake.createOrReplace(
      (0 until 100).map(i => (i.toLong, i * 2L)).toDF("k", "x").repartition(1), "t")
    (1 to 3).foreach { d =>
      lake.append((d * 100 until (d + 1) * 100).map(i => (i.toLong, i * 2L))
        .toDF("k", "x").repartition(1), "t")
    }
    val before = Lakehouse.dataDirOpens.get()
    val out = lake.metaAgg("t", items(("sum", "x", "s")), Some(col("k") < 250)).get.head()
    val opened = Lakehouse.dataDirOpens.get() - before
    assert(opened === 1, s"expected 1 boundary dir open, got $opened")
    assert(out.getLong(0) === (0 until 250).map(_ * 2L).sum)
  }

  test("count+sum+min/max in one call share scans: one open per boundary dir") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("t", Seq("x"))
    lake.createOrReplace(
      (0 until 100).map(i => (i.toLong, i * 2L)).toDF("k", "x").repartition(1), "t")
    (1 to 3).foreach { d =>
      lake.append((d * 100 until (d + 1) * 100).map(i => (i.toLong, i * 2L))
        .toDF("k", "x").repartition(1), "t")
    }
    val before = Lakehouse.dataDirOpens.get()
    val r = lake.metaAgg("t", items(
      ("count", "", "n"), ("sum", "x", "s"),
      ("min", "x", "lo"), ("max", "x", "hi"),
      ("min", "k", "klo"), ("max", "k", "khi")), Some(col("k") < 250)).get.head()
    val opened = Lakehouse.dataDirOpens.get() - before
    // count and sum share one exact-set scan of the straddling dir;
    // the four bounds share one union scan of the same dir — 2 opens,
    // never one per item (the old shape paid 5)
    assert(opened <= 2, s"expected at most 2 boundary opens for 6 items, got $opened")
    assert(r.getLong(0) === 250)
    assert(r.getLong(1) === (0 until 250).map(_ * 2L).sum)
    assert(r.getLong(2) === 0L && r.getLong(3) === 498L)
    assert(r.getLong(4) === 0L && r.getLong(5) === 249L)
  }

  test("sum over an all-NULL file contributes nothing; all-NULL table sums to SQL NULL") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("t", Seq("x"))
    lake.createOrReplace(
      (0 until 10).map(i => (i.toLong, Option.empty[Long])).toDF("k", "x"), "t")
    val r0 = lake.metaAgg("t", items(("sum", "x", "s")), None).get.head()
    assert(r0.isNullAt(0), "sum over only NULLs must be SQL NULL")
    lake.append((0 until 10).map(i => (i.toLong, Some(i.toLong))).toDF("k", "x"), "t")
    val before = Lakehouse.dataDirOpens.get()
    val r1 = lake.metaAgg("t", items(("sum", "x", "s")), None).get.head()
    assert(Lakehouse.dataDirOpens.get() - before === 0)
    assert(r1.getLong(0) === 45L)
  }

  test("double sums refuse the metadata path (order-dependent addition is not restatable)") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("t", Seq("x"))
    lake.createOrReplace((0 until 10).map(i => (i.toLong, i * 1.5)).toDF("k", "x"), "t")
    assert(lake.metaAgg("t", items(("sum", "x", "s")), None).isEmpty)
  }

  test("undeclared table: sum item scans (still exact), declaration is per-table opt-in") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.createOrReplace((0 until 50).map(i => (i.toLong, i * 3L)).toDF("k", "x"), "t")
    val before = Lakehouse.dataDirOpens.get()
    val r = lake.metaAgg("t", items(("sum", "x", "s")), None).get.head()
    assert(Lakehouse.dataDirOpens.get() - before >= 1, "no recorded sums: must scan")
    assert(r.getLong(0) === (0 until 50).map(_ * 3L).sum)
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
    assert(graft.operators.Medallion.metaOnlyPlan(q) === 1.0,
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
    assert(lake.metaAgg("t", items(("sum", "x", "s")), None).isEmpty,
      "MoR tombstones change sums — metadata must refuse")
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
    assert(lake.metaAgg("t", items(("sum", "x", "s")), None).isEmpty)
  }
}
