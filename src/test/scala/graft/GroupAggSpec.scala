package graft

import org.apache.spark.sql.functions._

import graft.sources.Lakehouse

/** Grouped metadata aggregates ([[Lakehouse.metaGroupAgg]]): the
  * reference's gold query shape (`GROUP BY city … sum/count`,
  * reference: spark_jobs/gold_reporting.py:70) answered from the
  * partition-path + rowcount + sums + stats ledgers. Scale property:
  * grouping by a partition column over an all-match snapshot opens
  * ZERO data dirs; anything metadata can't answer for falls to ONE
  * grouped scan of exactly those files. Exactness is non-negotiable:
  * every merged answer must equal the plain grouped scan's. */
class GroupAggSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-groupagg").toString

  private def items(specs: (String, String, String)*): Seq[Lakehouse.MetaAggItem] =
    specs.map { case (op, c, al) =>
      Lakehouse.MetaAggItem(op, if (c.isEmpty) None else Some(c), al)
    }

  private def sorted(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(df.columns.map(col): _*).collect().toSeq

  test("partition-grouped count/sum/min/max: zero data-dir opens, equals the grouped scan") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("t", Seq("x"))
    def df(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, s"g${i % 3}", i * 2L)).toDF("k", "g", "x")
    lake.createOrReplace(df(0, 100), "t", partitionBy = Seq("g"))
    lake.append(df(100, 250), "t", partitionBy = Seq("g"))
    val before = Lakehouse.dataDirOpens.get()
    val out = lake.metaGroupAgg("t", Seq("g"),
      items(("count", "", "n"), ("sum", "x", "s"), ("min", "k", "lo"), ("max", "k", "hi")),
      None)
    assert(out.isDefined)
    val got = sorted(out.get)
    assert(Lakehouse.dataDirOpens.get() - before === 0,
      "partition-grouped aggregate over an all-match snapshot must not open data")
    val want = sorted(lake.read("t").groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        min(col("k")).as("lo"), max(col("k")).as("hi")))
    assert(got === want)
  }

  test("predicate straddling a file boundary: boundary files scan, interior stays metadata") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("t", Seq("x"))
    // four appends with disjoint k-ranges, partitioned by g: the
    // k < 250 predicate makes dirs 1-2 all-match, dir 3 boundary,
    // dir 4 pruned
    (0 to 3).foreach { d =>
      val df = (d * 100 until (d + 1) * 100)
        .map(i => (i.toLong, s"g${i % 2}", i * 3L)).toDF("k", "g", "x").coalesce(1)
      if (d == 0) lake.createOrReplace(df, "t", partitionBy = Seq("g"))
      else lake.append(df, "t", partitionBy = Seq("g"))
    }
    val before = Lakehouse.dataDirOpens.get()
    val out = lake.metaGroupAgg("t", Seq("g"),
      items(("count", "", "n"), ("sum", "x", "s")), Some(col("k") < 250)).get
    val got = sorted(out)
    val opened = Lakehouse.dataDirOpens.get() - before
    assert(opened === 1, s"expected only the straddling dir to open, got $opened")
    val want = sorted(lake.read("t").where(col("k") < 250).groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s")))
    assert(got === want)
  }

  test("partition-column predicate: matching partitions answer metadata-only") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("t", Seq("x"))
    val df = (0 until 300).map(i => (i.toLong, s"g${i % 3}", i * 2L)).toDF("k", "g", "x")
    lake.createOrReplace(df, "t", partitionBy = Seq("g"))
    val before = Lakehouse.dataDirOpens.get()
    val out = lake.metaGroupAgg("t", Seq("g"),
      items(("count", "", "n"), ("sum", "x", "s")), Some(col("g") === "g1")).get
    val got = sorted(out)
    assert(Lakehouse.dataDirOpens.get() - before === 0)
    val want = sorted(lake.read("t").where(col("g") === "g1").groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s")))
    assert(got === want)
    assert(got.size === 1)
  }

  test("NULL partition values form their own group, exactly as the scan's") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val df = (0 until 90).map(i =>
      (i.toLong, if (i % 3 == 0) None else Some(s"g${i % 2}"))).toDF("k", "g")
    lake.createOrReplace(df, "t", partitionBy = Seq("g"))
    val out = lake.metaGroupAgg("t", Seq("g"),
      items(("count", "", "n"), ("max", "k", "hi")), None).get
    val want = sorted(lake.read("t").groupBy("g")
      .agg(count(lit(1)).as("n"), max(col("k")).as("hi")))
    assert(sorted(out) === want)
    assert(want.exists(_.isNullAt(0)), "test data must exercise the null group")
  }

  test("group column not in the partition path: falls to the grouped scan leg, stays exact") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val df = (0 until 120).map(i => (i.toLong, s"g${i % 4}", i * 5L)).toDF("k", "g", "x")
    lake.createOrReplace(df, "t") // unpartitioned: no path values for g
    val before = Lakehouse.dataDirOpens.get()
    val out = lake.metaGroupAgg("t", Seq("g"), items(("count", "", "n")), None).get
    val got = sorted(out)
    assert(Lakehouse.dataDirOpens.get() - before >= 1, "no path-keyed groups: must scan")
    assert(got === sorted(lake.read("t").groupBy("g").agg(count(lit(1)).as("n"))))
  }

  test("mixed layout (one partitioned dir, one not): legs merge to the exact answer") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("t", Seq("x"))
    def df(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, s"g${i % 2}", i * 2L)).toDF("k", "g", "x")
    lake.createOrReplace(df(0, 100), "t", partitionBy = Seq("g"))
    lake.append(df(100, 160), "t") // unpartitioned append: scan leg
    val out = lake.metaGroupAgg("t", Seq("g"),
      items(("count", "", "n"), ("sum", "x", "s"), ("min", "k", "lo")), None).get
    val want = sorted(lake.read("t").groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"), min(col("k")).as("lo")))
    assert(sorted(out) === want)
  }

  test("date group column round-trips the path encoding") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val df = (0 until 60).map { i =>
      (i.toLong, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1 + i % 3)))
    }.toDF("k", "d")
    lake.createOrReplace(df, "t", partitionBy = Seq("d"))
    val out = lake.metaGroupAgg("t", Seq("d"),
      items(("count", "", "n"), ("max", "k", "hi")), None).get
    val want = sorted(lake.read("t").groupBy("d")
      .agg(count(lit(1)).as("n"), max(col("k")).as("hi")))
    assert(sorted(out) === want)
  }

  test("refusals: double sums, tombstones, unknown columns → None (caller scans)") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val df = (0 until 50).map(i => (i.toLong, s"g${i % 2}", i * 1.5)).toDF("k", "g", "x")
    lake.createOrReplace(df, "t", partitionBy = Seq("g"))
    assert(lake.metaGroupAgg("t", Seq("g"), items(("sum", "x", "s")), None).isEmpty,
      "double sum must refuse")
    assert(lake.metaGroupAgg("t", Seq("nope"), items(("count", "", "n")), None).isEmpty,
      "unknown group column must refuse")
    lake.deleteWhereMor(col("k") % 10 === 0, "t")
    assert(lake.metaGroupAgg("t", Seq("g"), items(("count", "", "n")), None).isEmpty,
      "tombstoned snapshot must refuse")
  }

  test("SQL: SELECT g, count/sum/min/max … GROUP BY g matches Spark, plans no scan") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("tg", Seq("x"))
    val df = (0 until 150).map(i => (i.toLong, s"g${i % 3}", i * 2L)).toDF("k", "g", "x")
    lake.createOrReplace(df, "tg", partitionBy = Seq("g"))
    lake.registerView("tg", Seq("g"))
    val got = spark.sql(
      """SELECT g, count(*) AS n, sum(x) AS s, min(k) AS lo, max(k) AS hi
        |FROM tg GROUP BY g ORDER BY s DESC""".stripMargin)
    val rows = got.collect().toSeq
    assert(graft.operators.Medallion.metaOnlyPlan(got) === 1.0,
      "the grouped SQL aggregate planned a file scan — the ledger pushdown did not fire:\n" +
        got.queryExecution.executedPlan)
    val want = lake.read("tg").groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        min(col("k")).as("lo"), max(col("k")).as("hi"))
      .orderBy(col("s").desc).collect().toSeq
    assert(rows.map(_.toSeq) === want.map(_.toSeq))
    assert(got.columns.toSeq === Seq("g", "n", "s", "lo", "hi"))
  }

  test("SQL: grouped shapes the pushdown declines still answer through Spark") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val df = (0 until 60).map(i => (i.toLong, s"g${i % 2}", i * 2L)).toDF("k", "g", "x")
    lake.createOrReplace(df, "tg2", partitionBy = Seq("g"))
    lake.registerView("tg2", Seq("g"))
    // expression aggregate input: no ledger answers it, the scan does
    val a = spark.sql("SELECT g, sum(x + 1) AS s FROM tg2 GROUP BY g ORDER BY g").collect()
    assert(a.map(_.getLong(1)).sum === (0 until 60).map(_ * 2L + 1).sum)
    // HAVING filters the grouped rows above the scan
    val b = spark.sql(
      "SELECT g, count(*) AS n FROM tg2 GROUP BY g HAVING count(*) > 10 ORDER BY g").collect()
    assert(b.length === 2 && b.forall(_.getLong(1) === 30))
    // grouping by a non-grouped select column is Spark's error, not ours
    intercept[Exception] {
      spark.sql("SELECT k, count(*) FROM tg2 GROUP BY g").collect()
    }
  }

  test("SQL: WHERE + GROUP BY: pruned partitions never open, boundary scans stay exact") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("tg3", Seq("x"))
    (0 to 3).foreach { d =>
      val df = (d * 100 until (d + 1) * 100)
        .map(i => (i.toLong, s"g${i % 2}", i * 3L)).toDF("k", "g", "x").coalesce(1)
      if (d == 0) lake.createOrReplace(df, "tg3", partitionBy = Seq("g"))
      else lake.append(df, "tg3", partitionBy = Seq("g"))
    }
    lake.registerView("tg3", Seq("g"))
    val q = spark.sql(
      "SELECT g, count(*) AS n, sum(x) AS s FROM tg3 WHERE k < 250 GROUP BY g ORDER BY g")
    val rows = q.collect().toSeq
    // the k-ranges prune the fourth commit's two files (k >= 300) from
    // the DSv2 scan at plan time; the other six files are planned
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.sources.spj.GraftSpjScan
    val scans = graft.operators.Medallion.collectExec(q) {
      case b: BatchScanExec => b.scan
    }.collect { case s: GraftSpjScan => s }
    assert(scans.size === 1, s"expected one DSv2 scan:\n${q.queryExecution.executedPlan}")
    assert(lake.spjLayout("tg3").files.valuesIterator.map(_.size).sum === 8)
    assert(scans.head.plannedFileCount === 6,
      s"expected the two k >= 300 files pruned, planned ${scans.head.plannedFileCount}")
    val want = lake.read("tg3").where(col("k") < 250).groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s")).orderBy("g").collect().toSeq
    assert(rows.map(_.toSeq) === want.map(_.toSeq))
  }

  test("two-level grouping (both partition columns): metadata-only, exact") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("t", Seq("x"))
    val df = (0 until 200)
      .map(i => (i.toLong, s"c${i % 3}", i % 2 == 0, i * 2L)).toDF("k", "city", "flag", "x")
    lake.createOrReplace(df, "t", partitionBy = Seq("city", "flag"))
    val before = Lakehouse.dataDirOpens.get()
    val out = lake.metaGroupAgg("t", Seq("city", "flag"),
      items(("count", "", "n"), ("sum", "x", "s")), None).get
    val got = sorted(out)
    assert(Lakehouse.dataDirOpens.get() - before === 0)
    assert(got === sorted(lake.read("t").groupBy("city", "flag")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))))
  }
}
