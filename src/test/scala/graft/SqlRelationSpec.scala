package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRowLevelOperations, SupportsWrite, TableCapability}
import org.apache.spark.sql.execution.SparkSqlParser
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._

import graft.sources.{Lakehouse, LakehouseDeleteCommand, LakehouseInsertCommand,
  LakehouseMergeCommand, LakehouseUpdateCommand}
import graft.sources.spj.GraftSpjCatalog

/** Registered-name SQL reads ([[Lakehouse.sqlRelation]]): a name the
  * session registered reads through the catalog's DSv2 scan when the
  * table's layout is servable, and through the ordinary per-dir union
  * when it is not. Every shape of the catalog SQL mix must return the
  * same rows through the registered name, through `lake.read` /
  * `readSnapshot`, and through `<catalog>.<table>`; a servable read
  * opens no data dir and runs its catalog twin's Spark jobs; pinning
  * keeps one snapshot per statement; DML on the name keeps routing
  * through the lakehouse intercepts. */
class SqlRelationSpec extends SparkSpec {
  import spark.implicits._

  private val Cat = "sqlrcat"

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  private def cells(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq

  private def orders(from: Int, until: Int): DataFrame =
    (from until until).map { i =>
      (i.toLong, (i % 13).toLong, Seq("pune", "agra", "goa", "kochi")(i % 4),
        BigDecimal(i * 37 % 1000) + BigDecimal("0.25"))
    }.toDF("id", "cust", "city", "amount")
      .withColumn("amount", col("amount").cast("decimal(12,2)"))

  /** `sr_orders`: five commits — two appends around a merge-on-read
    * delete, a third append, then a second MoR delete — plus a
    * one-commit `sr_cust`; both registered, both in catalog [[Cat]]. */
  private lazy val fixture: (Lakehouse, Seq[Long]) = {
    val root = freshRoot("sqlrel")
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace(orders(0, 60), "sr_orders", Seq("bucket(4,id)"))
    lake.append(orders(60, 120), "sr_orders", Seq("bucket(4,id)"))
    lake.deleteWhereMor(col("id").isin(3L, 17L, 64L, 99L), "sr_orders")
    lake.append(orders(120, 150), "sr_orders", Seq("bucket(4,id)"))
    lake.deleteWhereMor(col("city") === "goa" && col("id") > 100L, "sr_orders")
    lake.createOrReplace((0L until 13L).map(c => (c, if (c % 3 == 0) "gold" else "std"))
      .toDF("cust", "segment"), "sr_cust")
    lake.registerView("sr_orders", Seq("bucket(4,id)"))
    lake.registerView("sr_cust")
    spark.conf.set(s"spark.sql.catalog.$Cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$Cat.root", root)
    (lake, lake.snapshots("sr_orders").map(_._1))
  }

  /** The catalog SQL mix over (orders, customers) names; `true` marks
    * a statement whose row ORDER is part of its answer. */
  private def shapes(t: String, c: String): Seq[(String, String, Boolean)] = Seq(
    ("limit", s"SELECT id, amount FROM $t ORDER BY id LIMIT 7", true),
    ("point", s"SELECT id, cust, city, amount FROM $t WHERE id = 42", false),
    ("point_deleted", s"SELECT id, cust, city, amount FROM $t WHERE id = 64", false),
    ("agg", s"SELECT count(*) AS n, min(amount) AS lo, max(amount) AS hi FROM $t", false),
    ("report", s"SELECT city, sum(amount) AS revenue, count(*) AS orders FROM $t " +
      "GROUP BY city ORDER BY revenue DESC, city", true),
    ("join", s"SELECT c.segment, count(*) AS orders, sum(o.amount) AS revenue " +
      s"FROM $t o JOIN $c c ON o.cust = c.cust WHERE o.city <> 'agra' " +
      "GROUP BY c.segment ORDER BY c.segment", true))

  private def answer(sql: String, ordered: Boolean): Seq[String] = {
    val got = cells(spark.sql(sql))
    if (ordered) got else got.sorted
  }

  /** Millis as a `TIMESTAMP AS OF` literal in the session time zone. */
  private def tsLiteral(millis: Long): String =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone")))
      .format(java.time.Instant.ofEpochMilli(millis))

  test("every shape of the SQL mix returns the same rows via the registered name, lake.read and the catalog") {
    val (lake, snaps) = fixture
    assert(lake.spjServableSpec("sr_orders").isDefined && snaps.size == 5)
    lake.read("sr_orders").createOrReplaceTempView("sr_orders_plain")
    lake.read("sr_cust").createOrReplaceTempView("sr_cust_plain")
    val view = shapes("sr_orders", "sr_cust")
    val plain = shapes("sr_orders_plain", "sr_cust_plain")
    val twin = shapes(s"$Cat.sr_orders", s"$Cat.sr_cust")
    view.indices.foreach { i =>
      val (kind, sql, ordered) = view(i)
      val expect = answer(plain(i)._2, ordered)
      assert(expect.nonEmpty || kind == "point_deleted", kind)
      assert(answer(sql, ordered) === expect, s"$kind through the registered name")
      assert(answer(twin(i)._2, ordered) === expect, s"$kind through $Cat")
    }
    assert(answer("SELECT * FROM sr_orders WHERE id = 64", false).isEmpty,
      "a merge-on-read delete must hold through the registered name")
    // time travel: every snapshot by number, and by commit time
    val times = lake.snapshotTimes("sr_orders").toMap
    snaps.foreach { s =>
      val q = "SELECT count(*) AS n, sum(amount) AS total, min(id) AS lo FROM %s"
      lake.readSnapshot("sr_orders", s).createOrReplaceTempView("sr_orders_snap")
      val expect = answer(q.format("sr_orders_snap"), false)
      assert(answer(q.format(s"sr_orders VERSION AS OF $s"), false) === expect, s"snapshot $s")
      assert(answer(q.format(s"$Cat.sr_orders VERSION AS OF $s"), false) === expect,
        s"snapshot $s through $Cat")
      val at = tsLiteral(times(s))
      lake.readAsOf("sr_orders", times(s)).createOrReplaceTempView("sr_orders_asof")
      val expectAt = answer(q.format("sr_orders_asof"), false)
      assert(answer(q.format(s"sr_orders TIMESTAMP AS OF '$at'"), false) === expectAt,
        s"TIMESTAMP AS OF '$at'")
      assert(answer(q.format(s"$Cat.sr_orders TIMESTAMP AS OF '$at'"), false) === expectAt,
        s"TIMESTAMP AS OF '$at' through $Cat")
    }
    // two versions of one table in one statement
    val (s1, s3) = (snaps.head, snaps(2))
    val diff = spark.sql(s"SELECT count(*) FROM sr_orders VERSION AS OF $s3 a " +
      s"LEFT ANTI JOIN sr_orders VERSION AS OF $s1 b ON a.id = b.id").head().getLong(0)
    assert(diff === lake.readSnapshot("sr_orders", s3)
      .join(lake.readSnapshot("sr_orders", s1), Seq("id"), "left_anti").count())
  }

  test("a table state the catalog refuses still answers through the ordinary read, same rows") {
    val lake = new Lakehouse(spark, freshRoot("sqlrel-refused"))
    lake.createOrReplace(orders(0, 40), "sr_evo", Seq("bucket(4,id)"))
    val before = lake.currentSnapshot("sr_evo").get
    // an EQUALITY tombstone, then a rename of the bucket key column
    lake.deleteByKeyMor(Seq("goa").toDF("city"), "sr_evo")
    lake.append(orders(40, 52), "sr_evo", Seq("bucket(4,id)"))
    lake.renameColumn("sr_evo", "id", "order_id")
    lake.registerView("sr_evo", Seq("bucket(4,order_id)"))
    assert(lake.spjServableSpec("sr_evo").isEmpty, "the probe must refuse this state")
    lake.read("sr_evo").createOrReplaceTempView("sr_evo_plain")
    Seq(
      ("SELECT order_id, amount FROM %s ORDER BY order_id LIMIT 6", true),
      ("SELECT * FROM %s WHERE order_id = 41", false),
      ("SELECT count(*) AS n, min(amount) AS lo, max(amount) AS hi FROM %s", false),
      ("SELECT city, sum(amount) AS revenue, count(*) AS orders FROM %s GROUP BY city ORDER BY city",
        true),
      ("SELECT * FROM %s", false)
    ).foreach { case (q, ordered) =>
      val opens = Lakehouse.dataDirOpens.get()
      val got = answer(q.format("sr_evo"), ordered)
      assert(Lakehouse.dataDirOpens.get() > opens, s"$q must read through the ordinary union")
      assert(got === answer(q.format("sr_evo_plain"), ordered), q)
    }
    assert(answer("SELECT * FROM sr_evo WHERE city = 'goa' AND order_id < 40", false).isEmpty)
    lake.readSnapshot("sr_evo", before).createOrReplaceTempView("sr_evo_before")
    assert(answer(s"SELECT * FROM sr_evo VERSION AS OF $before", false) ===
      answer("SELECT * FROM sr_evo_before", false))
  }

  /** Spark jobs the statements run by `body` start, counted by a
    * SparkListener on their job group. Listener events arrive
    * asynchronously but in order, so the count is final once a
    * sentinel job posted after the body has ended. */
  private def jobsOf(body: => Unit): Int = {
    val group = s"sqlrel-${java.util.UUID.randomUUID()}"
    val started = new AtomicInteger()
    @volatile var sentinelDone = false
    val listener = new SparkListener {
      private def groupOf(p: java.util.Properties) =
        Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      private val sentinels = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      override def onJobStart(e: SparkListenerJobStart): Unit = groupOf(e.properties) match {
        case Some(`group`) => started.incrementAndGet()
        case Some(g) if g == group + "-end" => sentinels.add(e.jobId)
        case _ =>
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (sentinels.contains(e.jobId)) sentinelDone = true
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-end", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sentinelDone && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinelDone, "listener events did not arrive")
      started.get()
    } finally sc.removeSparkListener(listener)
  }

  test("a servable registered-name SELECT opens no data dir and runs its catalog twin's job count") {
    fixture
    val view = shapes("sr_orders", "sr_cust")
    val twin = shapes(s"$Cat.sr_orders", s"$Cat.sr_cust")
    view.indices.foreach { i =>
      val (kind, sql, _) = view(i)
      // first runs warm the layout cache on both sides
      spark.sql(sql).collect(); spark.sql(twin(i)._2).collect()
      val opens = Lakehouse.dataDirOpens.get()
      val viewJobs = jobsOf(spark.sql(sql).collect())
      assert(Lakehouse.dataDirOpens.get() === opens, s"$kind opened data dirs")
      val twinJobs = jobsOf(spark.sql(twin(i)._2).collect())
      assert(viewJobs === twinJobs, s"$kind: registered name vs $Cat twin")
    }
    val snap = fixture._2(1)
    val opens = Lakehouse.dataDirOpens.get()
    spark.sql(s"SELECT count(*) FROM sr_orders VERSION AS OF $snap").collect()
    assert(Lakehouse.dataDirOpens.get() === opens, "time travel opened data dirs")
  }

  test("a self-join reads one snapshot when commits land between parse and execution") {
    val lake = new Lakehouse(spark, freshRoot("sqlrel-pin"))
    lake.createOrReplace(orders(0, 30), "sr_pin", Seq("bucket(4,id)"))
    lake.registerView("sr_pin", Seq("bucket(4,id)"))
    // parsed (and pinned) now, executed after two more commits
    val selfJoin = spark.sql("SELECT count(*) AS n, sum(b.amount) AS s FROM sr_pin a " +
      "JOIN sr_pin b ON a.id = b.id")
    val twoScans = spark.sql(
      "SELECT (SELECT count(*) FROM sr_pin) AS a, (SELECT count(*) FROM sr_pin) AS b")
    val expect = lake.read("sr_pin").agg(count(lit(1)), sum("amount")).head()
    lake.append(orders(30, 45), "sr_pin", Seq("bucket(4,id)"))
    lake.deleteWhereMor(col("id") < 10L, "sr_pin")
    val got = selfJoin.head()
    assert(got.getLong(0) === 30L && got.get(1) === expect.get(1),
      "a statement must read the snapshot it was parsed at")
    val scans = twoScans.head()
    assert(scans.getLong(0) === 30L && scans.getLong(1) === 30L)
    // the next statement is fresh
    assert(spark.sql("SELECT count(*) FROM sr_pin").head().getLong(0) === 35L)
  }

  test("DML on a pinned registered name routes through the lakehouse intercepts, never the DSv2 relation") {
    val lake = new Lakehouse(spark, freshRoot("sqlrel-dml"))
    lake.createOrReplace((1L to 6L).map(k => (k, s"v$k")).toDF("k", "v"), "sr_dml",
      Seq("bucket(4,k)"))
    lake.registerView("sr_dml", Seq("bucket(4,k)"))
    Seq((5L, "m5"), (9L, "m9")).toDF("k", "v").createOrReplaceTempView("sr_dml_src")
    def pin(): Unit = {
      spark.sql("SELECT k FROM sr_dml WHERE v IS NOT NULL").collect()
      val rels = spark.table("sr_dml").queryExecution.analyzed.collect {
        case r: DataSourceV2Relation => r.table
      }
      assert(rels.size == 1, "the pinned view must read through the DSv2 scan")
      val t = rels.head
      assert(!t.isInstanceOf[SupportsWrite] && !t.isInstanceOf[SupportsDelete] &&
        !t.isInstanceOf[SupportsRowLevelOperations] &&
        t.capabilities() == java.util.EnumSet.of(TableCapability.BATCH_READ),
        "the relation behind the temp view must be read-only")
    }
    def contents: Map[Long, String] =
      lake.read("sr_dml").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val parser = spark.sessionState.sqlParser
    Seq(
      ("DELETE FROM sr_dml WHERE k = 2", classOf[LakehouseDeleteCommand]),
      ("UPDATE sr_dml SET v = 'u3' WHERE k = 3", classOf[LakehouseUpdateCommand]),
      ("MERGE INTO sr_dml USING sr_dml_src ON sr_dml.k = sr_dml_src.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        classOf[LakehouseMergeCommand]),
      ("INSERT INTO sr_dml VALUES (20, 'n20')", classOf[LakehouseInsertCommand])
    ).foreach { case (sql, cmd) =>
      pin()
      assert(parser.parsePlan(sql).getClass === cmd, sql)
      val snaps = lake.snapshots("sr_dml").size
      spark.sql(sql).collect()
      assert(lake.snapshots("sr_dml").size === snaps + 1, s"$sql must commit one snapshot")
    }
    assert(contents === Map(1L -> "v1", 3L -> "u3", 4L -> "v4", 5L -> "m5", 6L -> "v6",
      9L -> "m9", 20L -> "n20"))
    // Spark's own DELETE over the pinned view cannot write through it
    pin()
    val snaps = lake.snapshots("sr_dml").size
    intercept[Exception] {
      val qe = spark.sessionState.executePlan(
        new SparkSqlParser().parsePlan("DELETE FROM sr_dml WHERE k = 1"))
      qe.assertAnalyzed()
      qe.toRdd
    }
    assert(lake.snapshots("sr_dml").size === snaps && contents.contains(1L))
  }
}
