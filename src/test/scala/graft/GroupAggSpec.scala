package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.Medallion.metaOnlyPlan
import graft.sources.Lakehouse

/** Grouped metadata aggregates: the reference's gold query shape
  * (`GROUP BY city … sum/count`, reference:
  * spark_jobs/gold_reporting.py:70) answered by the DSv2 aggregate
  * pushdown ([[graft.sources.spj.SpjMetaAgg]]) from the partition-path
  * + rowcount + sums + stats ledgers. Every case reads through the
  * relation SQL statements use (`Lakehouse.sqlRelation`). Scale
  * property: grouping by a partition column plans NO file scan
  * (`metaOnlyPlan = 1.0`); a grouping the ledgers cannot prove
  * declines to the ordinary grouped scan. Exactness is
  * non-negotiable: every answer must equal the plain grouped scan's. */
class GroupAggSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-groupagg").toString

  private def sorted(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.map(col): _*).collect().toSeq

  /** `aggs` grouped by `groupCols` over the table's SQL relation (the
    * DSv2 scan) and over the ordinary `lake.read` scan, both under
    * `pred`: (sorted answer, sorted scan answer, the answer's
    * metadata-only verdict, its plan). */
  private def both(lake: Lakehouse, t: String, groupCols: Seq[String],
      pred: Option[Column] = None)(aggs: Column*): (Seq[Row], Seq[Row], Double, String) = {
    def q(df: DataFrame) = pred.fold(df)(df.where)
      .groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val got = q(lake.sqlRelation(t, "main"))
    (sorted(got), sorted(q(lake.read(t))), metaOnlyPlan(got),
      got.queryExecution.executedPlan.toString)
  }

  test("partition-grouped count/sum/min/max: zero data-dir opens, equals the grouped scan") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("t", Seq("x"))
    def df(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, s"g${i % 3}", i * 2L)).toDF("k", "g", "x")
    lake.createOrReplace(df(0, 100), "t", partitionBy = Seq("g"))
    lake.append(df(100, 250), "t", partitionBy = Seq("g"))
    val before = Lakehouse.dataDirOpens.get()
    lake.sqlRelation("t", "main").groupBy("g").agg(count(lit(1))).collect()
    assert(Lakehouse.dataDirOpens.get() - before === 0)
    val (got, want, metaOnly, plan) = both(lake, "t", Seq("g"))(
      count(lit(1)).as("n"), sum(col("x")).as("s"), min(col("k")).as("lo"), max(col("k")).as("hi"))
    assert(metaOnly === 1.0,
      "partition-grouped aggregate over a fully-ledgered snapshot must not scan data:\n" + plan)
    assert(got === want)
    assert(got.size === 3)
  }

  test("predicate straddling a file boundary: boundary files scan, interior stays metadata") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("t", Seq("x"))
    // four appends with disjoint k-ranges, partitioned by g: under
    // k < 250 dirs 1-2 match every row, dir 3 straddles the boundary
    // and dir 4 is pruned by its stats. The residual predicate keeps
    // the grouped aggregate off the ledgers: dirs 1-3 are read by one
    // DSv2 scan, exactly as the grouped scan reads them.
    (0 to 3).foreach { d =>
      val df = (d * 100 until (d + 1) * 100)
        .map(i => (i.toLong, s"g${i % 2}", i * 3L)).toDF("k", "g", "x").coalesce(1)
      if (d == 0) lake.createOrReplace(df, "t", partitionBy = Seq("g"))
      else lake.append(df, "t", partitionBy = Seq("g"))
    }
    val aggs = Seq(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val (got, want, metaOnly, plan) = both(lake, "t", Seq("g"), Some(col("k") < 250))(aggs: _*)
    assert(got === want)
    assert(got.map(_.getLong(1)).sum === 250L)
    assert(metaOnly === 0.0, plan)
    val q = lake.sqlRelation("t", "main").where(col("k") < 250).groupBy("g").agg(aggs.head, aggs.tail: _*)
    val scans = graft.operators.Medallion.collectExec(q) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
    }.collect { case s: graft.sources.spj.GraftSpjScan => s }
    assert(scans.size === 1, plan)
    // two files (one per g) in each of the three unpruned dirs
    assert(scans.head.plannedFileCount === 6, plan)
    // unpredicated, the same grouping is a ledger readout
    val (all, allScan, allMeta, allPlan) = both(lake, "t", Seq("g"))(aggs: _*)
    assert(allMeta === 1.0, allPlan)
    assert(all === allScan)
  }

  test("partition-column predicate: matching partitions answer metadata-only") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("t", Seq("x"))
    val df = (0 until 300).map(i => (i.toLong, s"g${i % 3}", i * 2L)).toDF("k", "g", "x")
    lake.createOrReplace(df, "t", partitionBy = Seq("g"))
    val (got, want, metaOnly, plan) = both(lake, "t", Seq("g"), Some(col("g") === "g1"))(
      count(lit(1)).as("n"), sum(col("x")).as("s"))
    assert(metaOnly === 1.0, plan)
    assert(got === want)
    assert(got.size === 1)
  }

  test("NULL partition values form their own group, exactly as the scan's") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val df = (0 until 90).map(i =>
      (i.toLong, if (i % 3 == 0) None else Some(s"g${i % 2}"))).toDF("k", "g")
    lake.createOrReplace(df, "t", partitionBy = Seq("g"))
    val (got, want, metaOnly, plan) = both(lake, "t", Seq("g"))(
      count(lit(1)).as("n"), max(col("k")).as("hi"))
    assert(got === want)
    assert(metaOnly === 1.0, plan)
    assert(want.exists(_.isNullAt(0)), "test data must exercise the null group")
  }

  test("group column not in the partition path: falls to the grouped scan leg, stays exact") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val df = (0 until 120).map(i => (i.toLong, s"g${i % 4}", i * 5L)).toDF("k", "g", "x")
    lake.createOrReplace(df, "t") // unpartitioned: every file holds every g
    val (got, want, metaOnly, plan) = both(lake, "t", Seq("g"))(count(lit(1)).as("n"))
    assert(metaOnly === 0.0, "no per-file constant for g: must scan\n" + plan)
    assert(got === want)
  }

  test("mixed layout (one partitioned dir, one not): legs merge to the exact answer") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.declareSumColumns("t", Seq("x"))
    def df(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, s"g${i % 2}", i * 2L)).toDF("k", "g", "x")
    lake.createOrReplace(df(0, 100), "t", partitionBy = Seq("g"))
    lake.append(df(100, 160), "t") // unpartitioned append: g is not per-file constant
    val (got, want, metaOnly, plan) = both(lake, "t", Seq("g"))(
      count(lit(1)).as("n"), sum(col("x")).as("s"), min(col("k")).as("lo"))
    assert(metaOnly === 0.0, plan)
    assert(got === want)
  }

  test("date group column round-trips the path encoding") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val df = (0 until 60).map { i =>
      (i.toLong, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1 + i % 3)))
    }.toDF("k", "d")
    lake.createOrReplace(df, "t", partitionBy = Seq("d"))
    val (got, want, metaOnly, plan) = both(lake, "t", Seq("d"))(
      count(lit(1)).as("n"), max(col("k")).as("hi"))
    assert(metaOnly === 1.0, plan)
    assert(got === want)
  }

  test("refusals: double sums, tombstones, unknown columns → None (caller scans)") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val df = (0 until 50).map(i => (i.toLong, s"g${i % 2}", i * 1.5)).toDF("k", "g", "x")
    lake.createOrReplace(df, "t", partitionBy = Seq("g"))
    val (s, sWant, sMeta, sPlan) = both(lake, "t", Seq("g"))(sum(col("x")).as("s"))
    assert(sMeta === 0.0, "double sum must refuse\n" + sPlan)
    assert(s === sWant)
    // an unknown group column is Spark's analysis error on either path
    intercept[org.apache.spark.sql.AnalysisException] {
      lake.sqlRelation("t", "main").groupBy("nope").agg(count(lit(1))).collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      lake.read("t").groupBy("nope").agg(count(lit(1))).collect()
    }
    lake.deleteWhereMor(col("k") % 10 === 0, "t")
    val (n, nWant, nMeta, nPlan) = both(lake, "t", Seq("g"))(count(lit(1)).as("n"))
    assert(nMeta === 0.0, "tombstoned snapshot must refuse\n" + nPlan)
    assert(n === nWant)
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
      .map(i => (i.toLong, s"c${i % 3}", (i % 2).toLong, i * 2L)).toDF("k", "city", "shard", "x")
    lake.createOrReplace(df, "t", partitionBy = Seq("city", "shard"))
    val (got, want, metaOnly, plan) = both(lake, "t", Seq("city", "shard"))(
      count(lit(1)).as("n"), sum(col("x")).as("s"))
    assert(metaOnly === 1.0, plan)
    assert(got === want)
    assert(got.size === 6)
    // a BOOLEAN partition level is not served by the DSv2 scan
    // (not a supported identity key type): the same grouping reads the
    // ordinary per-dir scan, exactly
    val flags = df.withColumn("flag", col("shard") === 0L).drop("shard")
    lake.declareSumColumns("tb", Seq("x"))
    lake.createOrReplace(flags, "tb", partitionBy = Seq("city", "flag"))
    val (gotB, wantB, metaB, _) = both(lake, "tb", Seq("city", "flag"))(
      count(lit(1)).as("n"), sum(col("x")).as("s"))
    assert(metaB === 0.0)
    assert(gotB === wantB)
  }
}
