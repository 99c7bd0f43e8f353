package graft

import org.apache.spark.sql.functions._

import graft.sources.{JsonDocSource, Lakehouse, Sinks, Tables}

class LakehouseSpec extends SparkSpec {

  private def freshRoot(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-lake").toString
    d
  }

  test("createOrReplace + read round-trip, partitioned") {
    val lake = new Lakehouse(spark, freshRoot())
    val nation = Tables.nation(spark, sf)
    lake.createOrReplace(nation, "nation", partitionBy = Seq("n_regionkey"))
    assert(lake.read("nation").count() === nation.count())
    assert(lake.read("nation").columns.toSet === nation.columns.toSet)
  }

  test("replace creates a new snapshot; time travel reads the old one") {
    val lake = new Lakehouse(spark, freshRoot())
    val orders = Tables.orders(spark, sf)
    val s1 = lake.createOrReplace(orders.limit(10), "orders")
    val s2 = lake.createOrReplace(orders.limit(25), "orders")
    assert(s1 === 1L && s2 === 2L)
    assert(lake.currentSnapshot("orders") === Some(2L))
    assert(lake.read("orders").count() === 25)
    assert(lake.readSnapshot("orders", s1).count() === 10)
    assert(lake.snapshots("orders").map(_._1) === Seq(1L, 2L))
  }

  test("append writes only a delta dir and unions with history") {
    val lake = new Lakehouse(spark, freshRoot())
    val orders = Tables.orders(spark, sf)
    lake.createOrReplace(orders.limit(10), "orders")
    val s2 = lake.append(orders.limit(40).where(col("o_orderkey") > 1000), "orders")
    val expected = 10 + orders.limit(40).where(col("o_orderkey") > 1000).count()
    assert(lake.read("orders").count() === expected)
    // the append snapshot references two dirs, the first references one
    assert(lake.snapshots("orders").find(_._1 == s2).get._2.length === 2)
  }

  test("schema evolution: appended column appears, old rows read null") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, "a")).toDF("k", "v"), "evo")
    lake.append(Seq((2L, "b", 9.5)).toDF("k", "v", "score"), "evo")
    val got = lake.read("evo")
    assert(got.columns.toSet === Set("k", "v", "score"))
    assert(got.where(org.apache.spark.sql.functions.col("k") === 1)
      .head().isNullAt(got.columns.indexOf("score")))
  }

  test("compact folds an append chain into one data dir, preserving data and history") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, "a")).toDF("k", "v"), "c")
    lake.append(Seq((2L, "b")).toDF("k", "v"), "c")
    lake.append(Seq((3L, "c")).toDF("k", "v"), "c")
    val before = lake.snapshots("c").last._2.length
    assert(before === 3)
    val snap = lake.compact("c")
    assert(lake.snapshots("c").find(_._1 == snap).get._2.length === 1)
    assert(lake.read("c").count() === 3)
    assert(lake.readSnapshot("c", 3).count() === 3) // pre-compaction history intact
  }

  test("branches: isolated commits, time-shared history, fast-forward merge") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, "a")).toDF("k", "v"), "b")            // snap 1 on main
    lake.createBranch("b", "dev", fromSnap = 1)
    lake.append(Seq((2L, "x")).toDF("k", "v"), "b", branch = "dev")     // snap 2 on dev
    assert(lake.read("b").count() === 1, "main must not see dev commits")
    assert(lake.read("b", "dev").count() === 2)
    assert(lake.branches("b") === Seq("main", "dev").sorted || lake.branches("b") === Seq("main", "dev"))
    lake.mergeBranch("b", from = "dev", into = "main")
    assert(lake.read("b").count() === 2, "merge fast-forwards main")
  }

  test("partition-pruned read: a filter on the partition column skips other partitions") {
    val lake = new Lakehouse(spark, freshRoot())
    lake.createOrReplace(Tables.nation(spark, sf), "nation_p", partitionBy = Seq("n_regionkey"))
    val q = lake.read("nation_p").where(org.apache.spark.sql.functions.col("n_regionkey") === 2)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("n_regionkey"),
      s"partition filter not pushed:\n${plan.take(500)}")
    assert(q.count() === Tables.nation(spark, sf)
      .where(org.apache.spark.sql.functions.col("n_regionkey") === 2).count())
  }

  test("upsert merges on key: updates win, unmatched rows survive, inserts land") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "kv")
    lake.upsert(Seq((2L, "B"), (3L, "c")).toDF("k", "v"), "kv", Seq("k"))
    val got = lake.read("kv").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // history preserved: snapshot 1 still has the pre-merge state
    assert(lake.readSnapshot("kv", 1).count() === 2)
  }

  test("MERGE cardinality violation: duplicate-key source errors, table unchanged") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "card")
    val snapsBefore = lake.snapshots("card").length
    val before = lake.read("card").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // k=2 appears twice in the source AND matches a target row →
    // Spark/Iceberg MERGE_CARDINALITY_VIOLATION, not a multi-update
    val dup = Seq((2L, "B1"), (2L, "B2"), (3L, "c")).toDF("k", "v")
    val e1 = intercept[IllegalStateException] { lake.upsert(dup, "card", Seq("k")) }
    assert(e1.getMessage.contains("cardinality violation"))
    // same through the parsed MERGE INTO surface (conditional clauses)
    lake.registerView("card")
    dup.createOrReplaceTempView("card_src")
    val e2 = intercept[Exception] {
      spark.sql(
        """MERGE INTO card USING card_src ON card.k = card_src.k
          |WHEN MATCHED AND card_src.v = 'B1' THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    }
    assert(e2.getMessage.contains("cardinality violation"))
    // the violation aborted BEFORE any snapshot was reserved
    assert(lake.snapshots("card").length === snapsBefore)
    assert(lake.read("card").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === before)
    // duplicate source keys that match NO target row are legal: SQL
    // MERGE's NOT MATCHED INSERT fires once per source row
    lake.upsert(Seq((9L, "x1"), (9L, "x2")).toDF("k", "v"), "card", Seq("k"))
    assert(lake.read("card").where(col("k") === 9L).count() === 2)
  }

  test("registerView exposes the table to spark.sql") {
    val lake = new Lakehouse(spark, freshRoot())
    lake.createOrReplace(Tables.region(spark, sf), "region_lake")
    lake.registerView("region_lake")
    assert(spark.sql("SELECT count(*) FROM region_lake").head().getLong(0) === 5)
  }

  test("sinks export csv and parquet with overwrite") {
    val out = freshRoot()
    val df = Tables.region(spark, sf)
    Sinks.exportCsv(df, s"$out/r.csv")
    Sinks.exportCsv(df, s"$out/r.csv") // overwrite works
    Sinks.exportParquet(df, s"$out/r.parquet")
    assert(spark.read.option("header", "true").csv(s"$out/r.csv").count() === 5)
    assert(spark.read.parquet(s"$out/r.parquet").count() === 5)
  }

  test("partition-scoped upsert rewrites only touched partitions; others keep their original files") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(
      Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"), (4L, "d", "p3"))
        .toDF("k", "v", "p"), "pt", partitionBy = Seq("p"))
    // snapshot-1 file inventory per partition (path, length, mtime)
    def files(entrySuffix: String): Seq[(String, Long, Long)] = {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      val dir = new org.apache.hadoop.fs.Path(lake.tableRoot("pt"), entrySuffix)
      fs.listStatus(dir).toSeq.filter(_.isFile).filter(_.getPath.getName.endsWith(".parquet"))
        .map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
    }
    val p2Before = files("data-1/p=p2")
    val p3Before = files("data-1/p=p3")
    // touch ONLY p1: update k=2, insert k=9
    lake.upsert(Seq((2L, "B", "p1"), (9L, "z", "p1")).toDF("k", "v", "p"),
      "pt", keyCols = Seq("k"), partitionBy = Seq("p"))
    val got = lake.read("pt").select("k", "v", "p").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set((1L, "a", "p1"), (2L, "B", "p1"), (9L, "z", "p1"),
      (3L, "c", "p2"), (4L, "d", "p3")))
    // untouched partitions are THE SAME FILES (path+size+mtime), referenced from snapshot 2
    assert(files("data-1/p=p2") === p2Before)
    assert(files("data-1/p=p3") === p3Before)
    val entries = lake.snapshots("pt").find(_._1 == 2L).get._2
    assert(entries.contains("data-1/p=p2") && entries.contains("data-1/p=p3"))
    assert(entries.contains("data-2") && !entries.exists(_ == "data-1"))
    // history: snapshot 1 still reads the pre-merge state
    assert(lake.readSnapshot("pt", 1L).count() === 4)
  }

  test("snapshot expiry deletes orphaned data, keeps current + branch-referenced history") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, "a")).toDF("k", "v"), "ex")   // snap 1
    lake.createBranch("ex", "pin", fromSnap = 1)
    lake.createOrReplace(Seq((2L, "b")).toDF("k", "v"), "ex")   // snap 2
    lake.createOrReplace(Seq((3L, "c")).toDF("k", "v"), "ex")   // snap 3
    lake.createOrReplace(Seq((4L, "d")).toDF("k", "v"), "ex")   // snap 4
    lake.expireSnapshots("ex", keepLast = 2)
    // snaps 3,4 kept by recency; snap 1 kept by the pin branch; snap 2 expired
    assert(lake.snapshots("ex").map(_._1) === Seq(1L, 3L, 4L))
    intercept[IllegalArgumentException] { lake.readSnapshot("ex", 2L) }
    assert(lake.read("ex").collect().map(_.getLong(0)).toSeq === Seq(4L))
    assert(lake.read("ex", "pin").collect().map(_.getLong(0)).toSeq === Seq(1L))
    // snap 2's data dir is gone from disk; kept dirs remain
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(lake.tableRoot("ex"), "data-2")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(lake.tableRoot("ex"), "data-1")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(lake.tableRoot("ex"), "data-4")))
  }

  test("file-level data skipping: a key-range read opens only overlapping files") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    // 4 appends of disjoint key ranges → 4 files with disjoint min/max
    lake.createOrReplace((0L until 100L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1), "sk")
    (1 to 3).foreach { i =>
      lake.append((i * 100L until (i + 1) * 100L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1), "sk")
    }
    val pruned = lake.prunedRead("sk", "k", 250L, 260L)
    assert(pruned.inputFiles.length === 1,
      s"expected 1 of 4 files after stats pruning, read ${pruned.inputFiles.length}")
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq === (250L to 260L).toSeq)
    // conservative on a column with no overlap constraint violated
    assert(lake.prunedRead("sk", "k", 0L, 399L).count() === 400L)
  }

  test("SQL surface: tablesDf lists tables; sqlMerge upserts through a SQL plan") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "mt")
    Seq((2L, "B"), (3L, "c")).toDF("k", "v").createOrReplaceTempView("mt_src")
    lake.sqlMerge("mt", "mt_src", Seq("k"))
    assert(spark.sql("SELECT v FROM mt WHERE k = 2").head().getString(0) === "B")
    assert(spark.table("mt").count() === 3)
    val listing = lake.tablesDf().collect()
    val row = listing.find(_.getAs[String]("table_name") == "mt").get
    assert(row.getAs[Long]("current_snapshot") === 2L)
    assert(row.getAs[Long]("n_snapshots") === 2L)
    assert(row.getAs[String]("branches").contains("main"))
  }

  test("jdbc sink round-trips the gold report through embedded Derby") {
    val dbDir = freshRoot()
    val url = s"jdbc:derby:$dbDir/goldb;create=true"
    val gold = graft.operators.Medallion.goldSalesReport(spark, sf)
    Sinks.exportJdbc(gold, url, "gold_sales")
    Sinks.exportJdbc(gold, url, "gold_sales") // overwrite mode works
    val back = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "gold_sales")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver").load()
    assert(back.count() === gold.count())
    assert(back.agg(sum("order_count")).head().getLong(0)
      === gold.agg(sum("order_count")).head().getLong(0))
  }

  test("medallion flow on document source: bronze docs → lakehouse → gold report") {
    val lake = new Lakehouse(spark, freshRoot())
    val fixture = getClass.getResource("/orders_fixture.jsonl").getPath
    val docs = JsonDocSource.readValid(spark, fixture)
    lake.createOrReplace(docs, "bronze_orders")
    val gold = lake.read("bronze_orders")
      .groupBy(col("shipping_address.city").as("city"))
      .agg(sum("total_amount").as("total_revenue"), count("order_id").as("order_count"))
      .orderBy(col("total_revenue").desc)
    val top = gold.head()
    assert(top.getAs[String]("city") === "Hyderabad")
    assert(top.getAs[Long]("order_count") === 2L)
  }

  test("concurrent appends: optimistic commits retry, no snapshot is lost") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((0L, "seed")).toDF("k", "v"), "cc")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val writers = (1 to 6).map { i =>
      Future { lake.append(Seq((i.toLong, s"w$i")).toDF("k", "v"), "cc") }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    // every writer's row survives — a lost read-modify-write commit
    // would silently drop one
    assert(lake.read("cc").count() === 7L)
    assert(lake.read("cc").select("k").collect().map(_.getLong(0)).toSet === (0L to 6L).toSet)
    // 7 committed snapshots, all distinct ids, no leftover reservations
    assert(lake.snapshots("cc").map(_._1).distinct.length === 7)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(lake.tableRoot("cc")).exists(_.getPath.getName.startsWith("_reserve-")))
  }

  test("readers racing the pointer swap never crash or read a torn state (r14)") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((0L, "seed")).toDF("k", "v"), "swp")
    // one thread hammers the `_current` pointer read while commits swap
    // it via delete+rename — the window a stream's polling thread hits:
    // every read must return a COMMITTED snapshot id, never throw
    // FileNotFound and never see the pointer as absent mid-swap
    @volatile var failure: Option[Throwable] = None
    @volatile var emptyReads = 0
    @volatile var stop = false
    val reader = new Thread(() => {
      try {
        while (!stop) {
          if (lake.currentSnapshot("swp").isEmpty) emptyReads += 1
        }
      } catch { case t: Throwable => failure = Some(t) }
    })
    reader.start()
    try (1 to 40).foreach(i =>
      lake.append(Seq((i.toLong, s"w$i")).toDF("k", "v"), "swp"))
    finally { stop = true; reader.join(30000) }
    assert(failure.isEmpty, s"pointer reader crashed: ${failure.map(_.toString)}")
    assert(emptyReads === 0,
      s"$emptyReads reads saw the pointer absent mid-swap (a stream would stop)")
    assert(lake.read("swp").count() === 41L)
  }

  test("concurrent MoR deletes racing appends: no commit lost, tombstones apply consistently") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace((0L until 10L).map(i => (i, s"v$i")).toDF("k", "v"), "ccm")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // 3 writers append NEW keys while 3 writers MoR-delete SEED keys
    val writers =
      (1 to 3).map { i =>
        Future { lake.append(Seq((100L + i, s"a$i")).toDF("k", "v"), "ccm") }
      } ++ (1 to 3).map { i =>
        Future { lake.deleteByKeyMor(Seq(Tuple1(i.toLong)).toDF("k"), "ccm") }
      }
    Await.result(Future.sequence(writers), 120.seconds)
    // every append survived, every MoR-deleted seed key is gone
    val got = lake.read("ccm").select("k").collect().map(_.getLong(0)).toSet
    assert(got === ((0L until 10L).toSet -- Set(1L, 2L, 3L)) ++ Set(101L, 102L, 103L))
    // the current snapshot carries all three tombstones
    val cur = lake.currentSnapshot("ccm").get
    assert(lake.snapshotDeletes("ccm")(cur).length === 3)
    // 7 distinct committed snapshots, no leftover reservations
    assert(lake.snapshots("ccm").map(_._1).distinct.length === 7)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(lake.tableRoot("ccm")).exists(_.getPath.getName.startsWith("_reserve-")))
  }

  test("appendOnce is exactly-once: a replayed micro-batch id commits nothing") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.appendOnce(Seq((1L, "a")).toDF("k", "v"), "eo", batchId = 0L)
    lake.appendOnce(Seq((2L, "b")).toDF("k", "v"), "eo", batchId = 1L)
    val snapBefore = lake.currentSnapshot("eo")
    // restart replays batch 1 (foreachBatch is at-least-once)
    lake.appendOnce(Seq((2L, "b")).toDF("k", "v"), "eo", batchId = 1L)
    assert(lake.currentSnapshot("eo") === snapBefore)
    assert(lake.read("eo").count() === 2L)
    assert(lake.committedBatches("eo") === Set(0L, 1L))
  }

  test("deleteWhere on a partition predicate rewrites nothing: untouched partitions carry by reference") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(
      Seq((1L, "a", "p1"), (2L, "b", "p1"), (3L, "c", "p2"), (4L, "d", "p3"))
        .toDF("k", "v", "p"), "dp", partitionBy = Seq("p"))
    def files(suffix: String): Seq[(String, Long, Long)] = {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(lake.tableRoot("dp"), suffix)).toSeq
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(s => (s.getPath.toString, s.getLen, s.getModificationTime))
    }
    val p2Before = files("data-1/p=p2")
    lake.deleteWhere(col("p") === "p1", "dp", partitionBy = Seq("p"))
    assert(lake.read("dp").select("k").collect().map(_.getLong(0)).toSet === Set(3L, 4L))
    // p2's original files survive byte-identical, referenced from snapshot 2
    assert(files("data-1/p=p2") === p2Before)
    val entries = lake.snapshots("dp").find(_._1 == 2L).get._2
    assert(entries.contains("data-1/p=p2") && entries.contains("data-1/p=p3"))
    assert(!entries.exists(_.endsWith("p=p1")))
    // history: snapshot 1 still has the deleted rows
    assert(lake.readSnapshot("dp", 1L).count() === 4L)
  }

  test("deleteWhere range predicate touches only overlapping dirs of an append chain") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace((0L until 100L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1), "dr")
    (1 to 3).foreach { i =>
      lake.append((i * 100L until (i + 1) * 100L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1), "dr")
    }
    lake.deleteWhere(col("k") >= 250L && col("k") < 260L, "dr")
    assert(lake.read("dr").count() === 390L)
    // dirs 1,2,4 (ranges 0-99, 100-199, 300-399) carried by reference
    val entries = lake.snapshots("dr").find(_._1 == 5L).get._2
    assert(entries.count(_.startsWith("data-")) === 4)
    assert(entries.contains("data-1") && entries.contains("data-2") && entries.contains("data-4"))
    assert(!entries.contains("data-3"))
    assert(lake.read("dr").where(col("k") >= 250L && col("k") < 260L).count() === 0L)
  }

  test("deleteByKey removes matched keys (MERGE WHEN MATCHED DELETE)") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), "dk")
    lake.deleteByKey(Seq((2L, "ignored")).toDF("k", "x"), "dk", keyCols = Seq("k"))
    assert(lake.read("dk").select("k").collect().map(_.getLong(0)).toSet === Set(1L, 3L))
  }

  test("readWhere prunes files through multi-conjunct predicates incl. strings") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(
      (0L until 100L).map(k => (k, if (k < 50) "alpha" else "beta")).toDF("k", "tag").coalesce(1), "rw")
    lake.append(
      (100L until 200L).map(k => (k, "gamma")).toDF("k", "tag").coalesce(1), "rw")
    // k-range restricts to file 2; tag equality can only match file 2
    val got = lake.readWhere(col("k") >= 150L && col("tag") === "gamma", "rw")
    assert(got.inputFiles.length === 1)
    assert(got.count() === 50L)
    // a tag that matches no file's [min,max] reads zero files
    val none = lake.readWhere(col("tag") === "zzz", "rw")
    assert(none.inputFiles.length === 0)
    assert(none.count() === 0L)
    assert(none.columns.toSet === Set("k", "tag"))
  }

  test("bloom skipping prunes point lookups on UNCLUSTERED keys where min/max cannot") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    // deterministic pseudo-random key interleave: every file's (min,
    // max) spans nearly the whole key space, so range stats are useless
    val keys = (0L until 800L).map(i => (i * 2654435761L) % 100000L)
    val df = keys.zipWithIndex.map { case (k, i) => (k, s"v$i") }.toDF("k", "v")
      .repartition(8)
    lake.createOrReplace(df, "bl")
    val probe = keys(137) // mid-range: inside every file's (min, max)
    // range stats alone: the interleave defeats min/max — most files open
    val before = lake.readWhere(col("k") === probe, "bl").inputFiles.length
    assert(before >= 4, s"interleaved keys should defeat range stats, opened $before of 8")
    lake.addBloom("bl", Seq("k"))
    val after = lake.readWhere(col("k") === probe, "bl")
    assert(after.inputFiles.length < before,
      s"bloom must skip files range stats cannot (opened ${after.inputFiles.length})")
    // exactness: the full predicate still filters precisely
    assert(after.count() === keys.count(_ == probe))
    // a key that exists nowhere: bloom prunes everything (mod false
    // positives), result is empty either way
    val miss = lake.readWhere(col("k") === 99999999L, "bl")
    assert(miss.count() === 0L)
    // string columns prune through the same ledger
    lake.addBloom("bl", Seq("v"))
    val sv = lake.readWhere(col("v") === "v7", "bl")
    assert(sv.inputFiles.length <= 2 && sv.count() === 1L)
    // the second addBloom MERGED with the first — k pruning survives
    val kAgain = lake.readWhere(col("k") === probe, "bl")
    assert(kAgain.inputFiles.length < before,
      "addBloom for a second column discarded the first column's blooms")
    assert(kAgain.count() === keys.count(_ == probe))
    // non-equality ops ignore blooms; range stats still apply
    assert(lake.readWhere(col("k") >= 0L, "bl").count() === 800L)
  }

  test("NATIVE parquet blooms: declared columns skip files on a fresh table, zero build passes") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    // declare BEFORE the write: the filters ride the ordinary data
    // pass (parquet-mr), no addBloom ledger build ever runs
    lake.declareBloomColumns("nb", Seq("k", "v"))
    val keys = (0L until 800L).map(i => (i * 2654435761L) % 100000L)
    val df = keys.zipWithIndex.map { case (k, i) => (k, s"v$i") }.toDF("k", "v")
      .repartition(8)
    lake.createOrReplace(df, "nb")
    val probe = keys(137) // interleave defeats min/max in every file
    val hit = lake.readWhere(col("k") === probe, "nb")
    assert(hit.count() === keys.count(_ == probe))
    assert(hit.inputFiles.length < 8,
      s"native bloom must skip files range stats cannot (opened ${hit.inputFiles.length}/8)")
    // string column through the same footers
    val sv = lake.readWhere(col("v") === "v7", "nb")
    assert(sv.count() === 1L && sv.inputFiles.length < 8)
    // IN-lists prune value-wise; a miss everywhere reads ~nothing
    assert(lake.readWhere(col("k").isin(probe, 99999999L), "nb")
      .count() === keys.count(_ == probe))
    assert(lake.readWhere(col("k") === 99999999L, "nb").count() === 0L)
    // non-equality ops never consult blooms; full scans stay correct
    assert(lake.readWhere(col("k") >= 0L, "nb").count() === 800L)
    // undeclared tables never open footers (byte-identical behavior):
    // deleting the declaration file disables the native path
    val dml = lake.updateWhere(Seq("v" -> lit("x")), col("k") === probe, "nb")
    assert(lake.read("nb").where(col("v") === "x").count() === keys.count(_ == probe))
    assert(dml > 0)
  }

  test("declared sort order + range distribution: writes are born clustered and prune") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.declareSortOrder("so", Seq("k"))
    val prior = spark.conf.getOption("spark.graft.write-distribution")
    spark.conf.set("spark.graft.write-distribution", "range")
    // at test scale AQE coalesces the range shuffle to ONE partition
    // (correct for 800 rows, vacuous for this spec) — hold it off so
    // the write genuinely fans out into multiple key-sliced files
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // interleaved input across 8 tasks: an undistributed write would
      // give every file a full-domain (min, max) — useless stats
      val keys = (0L until 800L).map(i => (i * 2654435761L) % 100000L)
      val df = keys.zipWithIndex.map { case (k, i) => (k, s"v$i") }.toDF("k", "v")
        .repartition(8)
      lake.createOrReplace(df, "so")
      val total = lake.read("so").inputFiles.length
      assert(total > 1)
      val probe = keys(137)
      val hit = lake.readWhere(col("k") === probe, "so")
      assert(hit.count() === keys.count(_ == probe))
      assert(hit.inputFiles.length === 1,
        s"a clustered write answers a point lookup from one file, opened ${hit.inputFiles.length}")
      // a key range opens only its overlapping slices — the
      // compactClustered read-amplification win with zero compaction
      val ranged = lake.readWhere(col("k") >= 10000L && col("k") < 20000L, "so")
      assert(ranged.count() === keys.count(k => k >= 10000L && k < 20000L))
      assert(ranged.inputFiles.length < total / 2,
        s"range query opened ${ranged.inputFiles.length} of $total files")
      // appends cluster too (each write clusters its own delta)
      lake.append(Seq((100001L, "x"), (100002L, "y")).toDF("k", "v"), "so")
      assert(lake.readWhere(col("k") === 100001L, "so").count() === 1)
    } finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      prior match {
        case Some(v) => spark.conf.set("spark.graft.write-distribution", v)
        case None => spark.conf.unset("spark.graft.write-distribution")
      }
    }
  }

  test("CTAS SORTED BY declares the write sort order through SQL") {
    val ctasRoot = freshRoot()
    val lake = new Lakehouse(spark, ctasRoot)
    import spark.implicits._
    spark.conf.set(graft.sources.LakehouseCtasCommand.RootConf, ctasRoot)
    val prior = spark.conf.getOption("spark.graft.write-distribution")
    spark.conf.set("spark.graft.write-distribution", "range")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      (0L until 400L).map(i => ((i * 2654435761L) % 10000L, i))
        .toDF("k", "n").createOrReplaceTempView("cts_src")
      spark.sql("CREATE TABLE cts SORTED BY (k) AS SELECT * FROM cts_src")
      assert(lake.sortOrderOf("cts") === Seq("k"))
      assert(lake.read("cts").inputFiles.length > 1)
      val hit = lake.readWhere(col("k") === ((137L * 2654435761L) % 10000L), "cts")
      assert(hit.count() >= 1)
      assert(hit.inputFiles.length === 1,
        "SQL-declared sort order must cluster the CTAS write")
    } finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      prior match {
        case Some(v) => spark.conf.set("spark.graft.write-distribution", v)
        case None => spark.conf.unset("spark.graft.write-distribution")
      }
      spark.conf.unset(graft.sources.LakehouseCtasCommand.RootConf)
    }
  }

  test("readWhere stays correct when the predicate cannot prune (OR trees, column arithmetic)") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace((0L until 50L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1), "np")
    lake.append((50L until 100L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1), "np")
    // OR: no conjunct is extractable — all files read, result exact
    val orRead = lake.readWhere(col("k") === 5L || col("k") === 95L, "np")
    assert(orRead.collect().map(_.getLong(0)).toSet === Set(5L, 95L))
    assert(orRead.inputFiles.length === 2)
    // column arithmetic: not a plain comparison — conservative, exact
    assert(lake.readWhere(col("k") % 10 === 0, "np").count() === 10L)
    // mixed: the AND'd plain conjunct still prunes to one file
    val mixed = lake.readWhere(col("k") >= 80L && col("k") % 2 === 0, "np")
    assert(mixed.inputFiles.length === 1)
    assert(mixed.count() === 10L)
  }

  test("upsert detects a key that moved partitions: the old row is removed too") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(
      Seq((1L, "a", "p1"), (3L, "c", "p2"), (4L, "d", "p3")).toDF("k", "v", "p"),
      "mv", partitionBy = Seq("p"))
    // key 3 moves p2 -> p1: without moved-key detection the p2 copy
    // survives by reference and the table ends up with duplicate keys
    lake.upsert(Seq((3L, "C", "p1")).toDF("k", "v", "p"), "mv",
      keyCols = Seq("k"), partitionBy = Seq("p"))
    val got = lake.read("mv").select("k", "v", "p").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(got === Set((1L, "a", "p1"), (3L, "C", "p1"), (4L, "d", "p3")))
    // untouched p3 still carried by reference
    assert(lake.snapshots("mv").find(_._1 == 2L).get._2.contains("data-1/p=p3"))
  }

  test("readChanges reads only the appended delta between snapshots; rejects rewritten intervals") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    val s1 = lake.createOrReplace(Seq((1L, "a")).toDF("k", "v"), "cdc")
    val s2 = lake.append(Seq((2L, "b"), (3L, "c")).toDF("k", "v"), "cdc")
    val s3 = lake.append(Seq((4L, "d")).toDF("k", "v"), "cdc")
    assert(lake.readChanges("cdc", s1, s2).select("k").collect().map(_.getLong(0)).toSet
      === Set(2L, 3L))
    assert(lake.readChanges("cdc", s1, s3).select("k").collect().map(_.getLong(0)).toSet
      === Set(2L, 3L, 4L))
    assert(lake.readChanges("cdc", s3, s3).count() === 0L)
    // the delta scan must touch only the delta dirs
    assert(lake.readChanges("cdc", s2, s3).inputFiles.forall(_.contains("data-3")))
    // a rewrite (upsert) between snapshots breaks append-only: refuse
    val s4 = lake.upsert(Seq((2L, "B")).toDF("k", "v"), "cdc", keyCols = Seq("k"))
    val e = intercept[IllegalArgumentException] { lake.readChanges("cdc", s3, s4) }
    assert(e.getMessage.contains("append-only"))
  }

  test("compactClustered makes file stats selective: interleaved keys go from all-files to one-file reads") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    // 4 appended files, each spanning the WHOLE key range (stride 4):
    // min/max stats are useless, every range read opens all 4 files
    (0 to 3).foreach { i =>
      lake.append((0L until 100L).map(j => (j * 4 + i, s"v$i-$j")).toDF("k", "v").coalesce(1), "cl")
    }
    val before = lake.prunedRead("cl", "k", 100L, 110L)
    assert(before.inputFiles.length === 4, "interleaved files: stats cannot prune")
    assert(before.count() === 11L)
    // cluster on k: 4 range-disjoint files; the same read opens 1
    lake.compactClustered("cl", Seq("k"), nFiles = 4)
    val after = lake.prunedRead("cl", "k", 100L, 110L)
    assert(after.inputFiles.length === 1,
      s"clustered table should prune to 1 file, read ${after.inputFiles.length}")
    assert(after.count() === 11L)
    assert(lake.read("cl").count() === 400L)
  }

  test("partition evolution: unpartitioned history and partitioned appends read as one table") {
    // Iceberg's partition-evolution property falls out of the design:
    // partitioning is DIR layout, not data. Old dirs carry p as a data
    // column; a later append partitioned BY p stores it in the path.
    // readSnapshot unions by name, so both layouts surface identically.
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("k", "v", "p"), "pe")
    lake.append(Seq((3L, "c", "p1"), (4L, "d", "p3")).toDF("k", "v", "p"), "pe",
      partitionBy = Seq("p"))
    val got = lake.read("pe").select("k", "p").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "p1"), (2L, "p2"), (3L, "p1"), (4L, "p3")))
    // stat pruning spans both layouts: p=p3 can only live in the new
    // dir's p=p3 leaf (path-derived stats) or old files whose recorded
    // p-range covers it (footer stats exclude data-1 here)
    val pruned = lake.readWhere(col("p") === "p3", "pe")
    assert(pruned.count() === 1L)
    assert(pruned.inputFiles.forall(f => f.contains("data-2")))
  }

  test("rollback moves the branch pointer back; history lists every snapshot with metadata") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, "a")).toDF("k", "v"), "rb")
    lake.append(Seq((2L, "bad")).toDF("k", "v"), "rb")
    lake.appendOnce(Seq((3L, "c")).toDF("k", "v"), "rb", batchId = 7L)
    assert(lake.read("rb").count() === 3L)
    lake.rollback("rb", 1L)
    assert(lake.read("rb").collect().map(_.getLong(0)).toSeq === Seq(1L))
    // rolled-past snapshots remain readable history
    assert(lake.readSnapshot("rb", 3L).count() === 3L)
    val h = lake.history("rb").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq.sortBy(_._1)
    assert(h.map(_._1) === Seq(1L, 2L, 3L))
    assert(h.head._3 === "main")          // rollback target is main's current
    assert(h(2)._4 === "7")               // stream batch id surfaces
    assert(h(2)._2 === 3L)                // snapshot 3 references 3 entries
    // writes after rollback fork cleanly from the restored base
    lake.append(Seq((9L, "z")).toDF("k", "v"), "rb")
    assert(lake.read("rb").collect().map(_.getLong(0)).toSet === Set(1L, 9L))
  }

  test("removeOrphans deletes uncommitted data dirs and stale markers, never referenced data") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, "a")).toDF("k", "v"), "vac")
    lake.append(Seq((2L, "b")).toDF("k", "v"), "vac")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    // a writer that died after writing data but before committing
    val orphan = new org.apache.hadoop.fs.Path(lake.tableRoot("vac"), "data-99")
    Seq((9L, "x")).toDF("k", "v").write.parquet(orphan.toString)
    val staleMarker = new org.apache.hadoop.fs.Path(lake.tableRoot("vac"), "_reserve-99")
    fs.create(staleMarker, true).close()
    val removed = lake.removeOrphans("vac", staleMillis = -1)
    assert(removed.toSet === Set("data-99", "_reserve-99"))
    assert(!fs.exists(orphan) && !fs.exists(staleMarker))
    assert(lake.read("vac").count() === 2L)
    assert(lake.readSnapshot("vac", 1L).count() === 1L)
  }

  test("partition evolution: upsert with partitionBy migrates an unpartitioned table") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("k", "v", "p"), "lm")
    // the old dir's layout can't prove non-overlap with the touched
    // partitions, so its rows migrate wholly into the new layout —
    // no row is lost, no compaction prerequisite
    lake.upsert(Seq((1L, "A", "p1")).toDF("k", "v", "p"), "lm",
      keyCols = Seq("k"), partitionBy = Seq("p"))
    val got = lake.read("lm").select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "A"), (2L, "b")))
    // the rewrite took the declared layout: the new dir has p= leaves
    val entries = lake.snapshots("lm").last._2
    assert(entries.size === 1 && lake.dirLayout("lm", entries.head) === Seq("p"),
      s"expected a single p-partitioned dir, got $entries")
  }

  test("partition evolution: new writes take the evolved layout, untouched old leaves carry") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    // v1 layout: by day only
    lake.createOrReplace(
      Seq((1L, "a", "d1", 0), (2L, "b", "d2", 1)).toDF("k", "v", "day", "hour"),
      "pevo", partitionBy = Seq("day"))
    // EVOLVE: appends now declare (day, hour); the old dir keeps its layout
    lake.append(Seq((3L, "c", "d1", 2)).toDF("k", "v", "day", "hour"),
      "pevo", partitionBy = Seq("day", "hour"))
    lake.registerView("pevo", Seq("day", "hour"))
    assert(lake.read("pevo").count() === 3)
    assert(lake.dirLayout("pevo", "data-1") === Seq("day"))
    assert(lake.dirLayout("pevo", "data-2") === Seq("day", "hour"))
    // readWhere prunes across BOTH layouts (path-derived stats)
    val pruned = lake.readWhere(col("day") === "d1", "pevo")
    assert(pruned.collect().map(_.getAs[Long]("k")).toSet === Set(1L, 3L))
    // upsert under the NEW layout: touches (d1, h2) — the old dir's
    // d1 leaf overlaps on the shared column and migrates wholly; its
    // d2 leaf carries BY REFERENCE (byte-identical old entry)
    lake.upsert(Seq((3L, "C", "d1", 2)).toDF("k", "v", "day", "hour"),
      "pevo", keyCols = Seq("k"), partitionBy = Seq("day", "hour"))
    val got = lake.read("pevo").select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "a"), (2L, "b"), (3L, "C")))
    val entries3 = lake.snapshots("pevo").last._2
    assert(entries3.contains("data-1/day=d2"),
      s"untouched old-layout leaf should carry by reference: $entries3")
    // parsed SQL UPDATE through the registered (evolved) layout still
    // preserves each dir's own layout for untouched partitions
    spark.sql("UPDATE pevo SET v = 'B' WHERE k = 2").collect()
    val after = lake.read("pevo").select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(after === Set((1L, "a"), (2L, "B"), (3L, "C")))
    assert(lake.read("pevo").where(col("day") === "d1").count() === 2)
  }

  test("partition evolution: deleteWhere classifies mixed-layout dirs at their own leaves") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(
      Seq((1L, "a", "d1"), (2L, "b", "d2")).toDF("k", "v", "day"),
      "pdel", partitionBy = Seq("day"))
    lake.append(Seq((3L, "c", "d1"), (4L, "d", "d3")).toDF("k", "v", "day"),
      "pdel", partitionBy = Seq("day"))
    // evolve to unpartitioned appends, then delete across the mix
    lake.append(Seq((5L, "e", "d1")).toDF("k", "v", "day"), "pdel")
    assert(lake.read("pdel").count() === 5)
    lake.deleteWhere(col("day") === "d1", "pdel", partitionBy = Seq("day"))
    val got = lake.read("pdel").select("k").collect().map(_.getLong(0)).toSet
    assert(got === Set(2L, 4L))
  }

  test("parsed SQL DML: DELETE FROM and MERGE INTO execute over registered lakehouse views") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), "dml")
    lake.registerView("dml")
    // DELETE FROM parses, routes through the copy-on-write delete, and
    // commits a snapshot (returned as the command's result row)
    val delSnap = spark.sql("DELETE FROM dml WHERE k = 2").collect().head.getLong(0)
    assert(delSnap === 2L)
    assert(lake.read("dml").select("k").collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    // MERGE INTO upserts: k=3 updates, k=9 inserts
    Seq((3L, "C"), (9L, "z")).toDF("k", "v").createOrReplaceTempView("dml_src")
    spark.sql(
      """MERGE INTO dml USING dml_src ON dml.k = dml_src.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    val got = lake.read("dml").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((1L, "a"), (3L, "C"), (9L, "z")))
    // the SQL view tracks the post-DML snapshot
    assert(spark.sql("SELECT count(*) n FROM dml").head().getLong(0) === 3L)
    // history: create + delete + merge = 3 snapshots
    assert(lake.snapshots("dml").length >= 3)
    // statements over UNregistered tables delegate to Spark's parser
    Seq((1L, "x")).toDF("k", "v").createOrReplaceTempView("plain_view")
    intercept[Exception] { spark.sql("DELETE FROM plain_view WHERE k = 1") }
    // non-canonical MERGE over a lakehouse view is rejected loudly
    intercept[UnsupportedOperationException] {
      spark.sql(
        """MERGE INTO dml USING dml_src ON dml.k > dml_src.k
          |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
  }

  test("compactBinPack folds only small dirs; large dirs carry by reference, byte-identical") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    // one big dir (many rows) + three tiny appends
    lake.createOrReplace((0L until 5000L).map(i => (i, s"v$i")).toDF("k", "v").repartition(1), "bp")
    lake.append(Seq((9001L, "x")).toDF("k", "v"), "bp")
    lake.append(Seq((9002L, "y")).toDF("k", "v"), "bp")
    lake.append(Seq((9003L, "z")).toDF("k", "v"), "bp")
    val bigDirSize = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(lake.tableRoot("bp"), "data-1")).getLength
    val bigMtimes = fs.listStatus(new org.apache.hadoop.fs.Path(lake.tableRoot("bp"), "data-1"))
      .map(s => s.getPath.getName -> s.getModificationTime).toMap
    val snap = lake.compactBinPack("bp", smallBytes = bigDirSize / 2)
    val entries = lake.snapshots("bp").find(_._1 == snap).get._2
    // big dir carried by reference, small dirs folded into ONE new dir
    assert(entries.contains("data-1"), s"big dir must be referenced untouched: $entries")
    assert(entries.length === 2, s"three small dirs should fold to one: $entries")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(lake.tableRoot("bp"), "data-1"))
      .map(s => s.getPath.getName -> s.getModificationTime).toMap === bigMtimes,
      "big dir files were rewritten")
    assert(lake.read("bp").count() === 5003L)
    // folding again is a no-op (only one small dir remains)
    assert(lake.compactBinPack("bp", smallBytes = bigDirSize / 2) === snap)
  }

  test("compactZOrdered prunes file reads on EITHER of two interleaved columns") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    // two independent keys; four appends that each span BOTH full
    // ranges, so per-file stats are useless before clustering
    val rows = (0 until 4096).map(i => (i.toLong, (i % 64).toLong, ((i * 37) % 64).toLong))
    rows.grouped(1024).zipWithIndex.foreach { case (chunk, i) =>
      val df = chunk.toDF("id", "x", "y").repartition(1)
      if (i == 0) lake.createOrReplace(df, "zo") else lake.append(df, "zo")
    }
    val predX = col("x") < 8L
    val predY = col("y") < 8L
    assert(lake.readWhere(predX, "zo").inputFiles.length === 4,
      "interleaved appends: x stats should prune nothing")
    assert(lake.readWhere(predY, "zo").inputFiles.length === 4)
    val wantX = lake.read("zo").where(predX).collect().map(_.getLong(0)).toSet
    val wantY = lake.read("zo").where(predY).collect().map(_.getLong(0)).toSet
    lake.compactZOrdered("zo", Seq("x", "y"), nFiles = 16)
    val gotX = lake.readWhere(predX, "zo")
    val gotY = lake.readWhere(predY, "zo")
    // a 1/8-range predicate on either column must touch at most half
    // the files (single-sort clustering would prune only its lead key)
    assert(gotX.inputFiles.length <= 8,
      s"x-predicate read ${gotX.inputFiles.length} of 16 z-ordered files")
    assert(gotY.inputFiles.length <= 8,
      s"y-predicate read ${gotY.inputFiles.length} of 16 z-ordered files")
    // and the pruned reads stay exact
    assert(gotX.collect().map(_.getLong(0)).toSet === wantX)
    assert(gotY.collect().map(_.getLong(0)).toSet === wantY)
  }

  test("merge-on-read delete: zero data files touched, keys gone at read, time travel intact, compaction materializes") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    lake.createOrReplace(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "mor")
    lake.append(Seq((3L, "c"), (4L, "d")).toDF("k", "v"), "mor")
    def dataFiles(): Set[String] = {
      def walk(p: org.apache.hadoop.fs.Path): Seq[String] =
        fs.listStatus(p).toSeq.flatMap {
          case s if s.isFile && s.getPath.getName.endsWith(".parquet") => Seq(s.getPath.toString)
          case s if s.isDirectory => walk(s.getPath)
          case _ => Seq.empty
        }
      fs.listStatus(lake.tableRoot("mor")).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("data-"))
        .flatMap(s => walk(s.getPath)).map(f => (f, fs.getFileStatus(
          new org.apache.hadoop.fs.Path(f)).getModificationTime).toString).toSet
    }
    val before = dataFiles()
    val morSnap = lake.deleteByKeyMor(Seq(Tuple1(2L)).toDF("k"), "mor")
    // the delete wrote a tombstone, not a data rewrite
    assert(dataFiles() === before, "merge-on-read delete rewrote data files")
    assert(lake.snapshotDeletes("mor")(morSnap) === Seq(s"_deletes-$morSnap"))
    assert(lake.read("mor").select("k").collect().map(_.getLong(0)).toSet === Set(1L, 3L, 4L))
    // stat-pruned reads apply the tombstone too
    assert(lake.readWhere(col("k") === 2L, "mor").count() === 0L)
    // time travel BEFORE the delete still sees the key
    assert(lake.readSnapshot("mor", morSnap - 1).select("k").collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L))
    // a LATER append legitimately re-inserts the key (sequence rule)
    lake.append(Seq((2L, "b2")).toDF("k", "v"), "mor")
    val reinserted = lake.read("mor").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(reinserted === Set((1L, "a"), (3L, "c"), (4L, "d"), (2L, "b2")))
    // copy-on-write deleteWhere must not resurrect MoR-deleted rows
    lake.deleteByKeyMor(Seq(Tuple1(4L)).toDF("k"), "mor")
    lake.deleteWhere(col("k") === 3L, "mor")
    assert(lake.read("mor").collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a"), (2L, "b2")))
    // compaction materializes tombstones away
    val compacted = lake.compact("mor")
    assert(lake.snapshotDeletes("mor").getOrElse(compacted, Seq.empty) === Seq.empty)
    assert(lake.read("mor").collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a"), (2L, "b2")))
    // expiry of pre-compaction history garbage-collects the tombstone dirs
    lake.expireSnapshots("mor", keepLast = 1)
    assert(!fs.listStatus(lake.tableRoot("mor"))
      .exists(_.getPath.getName.startsWith("_deletes-")), "orphan tombstone dirs survive expiry")
    assert(lake.read("mor").count() === 2L)
  }

  test("CDC readChanges refuses an interval that added merge-on-read tombstones") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    val s1 = lake.createOrReplace(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "cdm")
    val s2 = lake.deleteByKeyMor(Seq(Tuple1(1L)).toDF("k"), "cdm")
    val s3 = lake.append(Seq((3L, "c")).toDF("k", "v"), "cdm")
    // dirs are append-only across s1 -> s3, but rows were DELETED: the
    // incremental scan must refuse rather than silently skip the delete
    val e = intercept[IllegalArgumentException] { lake.readChanges("cdm", s1, s3) }
    assert(e.getMessage.contains("tombstones"))
    // within the tombstone-stable interval the delta reads fine
    assert(lake.readChanges("cdm", s2, s3).collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("positional merge-on-read delete: predicate delete with zero data files rewritten") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    lake.createOrReplace(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "pmor")
    lake.append(Seq((3L, "b"), (4L, "c")).toDF("k", "v"), "pmor")
    def dataFileCount(): Int =
      fs.listStatus(lake.tableRoot("pmor")).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("data-"))
        .flatMap(s => fs.listStatus(s.getPath))
        .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val filesBefore = dataFileCount()
    // arbitrary predicate (not a key): both dirs hold a matching row
    val snap = lake.deleteWhereMor(col("v") === "b", "pmor")
    assert(dataFileCount() === filesBefore, "positional MoR delete rewrote data files")
    assert(lake.snapshotDeletes("pmor")(snap) === Seq(s"_deletes-$snap"))
    assert(lake.read("pmor").select("k").collect().map(_.getLong(0)).toSet === Set(1L, 4L))
    // stat-pruned path applies positions too
    assert(lake.readWhere(col("k") <= 2L, "pmor").count() === 1L)
    // time travel before the delete is intact
    assert(lake.readSnapshot("pmor", snap - 1).count() === 4L)
    // later appends are untouched by the positional tombstone
    lake.append(Seq((5L, "b")).toDF("k", "v"), "pmor")
    assert(lake.read("pmor").select("k").collect().map(_.getLong(0)).toSet === Set(1L, 4L, 5L))
    // CoW delete over a positionally-tombstoned table doesn't resurrect
    lake.deleteWhere(col("k") === 4L, "pmor")
    assert(lake.read("pmor").select("k").collect().map(_.getLong(0)).toSet === Set(1L, 5L))
    // a second MoR delete stacks; tombstones are visible in history
    lake.deleteWhereMor(col("k") === 5L, "pmor")
    assert(lake.read("pmor").select("k").collect().map(_.getLong(0)).toSet === Set(1L))
    val hist = lake.history("pmor").collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(hist.values.max >= 1L, "history must surface merge-on-read delete files")
    // compaction materializes the positions away
    val compacted = lake.compact("pmor")
    assert(lake.snapshotDeletes("pmor").getOrElse(compacted, Seq.empty) === Seq.empty)
    assert(lake.read("pmor").select("k").collect().map(_.getLong(0)).toSet === Set(1L))
  }

  test("DELETE keeps rows where the predicate is NULL (SQL semantics, not NOT(pred))") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    // v is null for k=3: `v === "a"` evaluates NULL there, and SQL
    // DELETE only removes rows where the predicate is TRUE
    lake.createOrReplace(
      Seq((1L, Some("a")), (2L, Some("b")), (3L, None)).toDF("k", "v"), "nd")
    lake.deleteWhere(col("v") === "a", "nd")
    assert(lake.read("nd").select("k").collect().map(_.getLong(0)).toSet === Set(2L, 3L))
    // same semantics through the SQL surface
    lake.registerView("nd")
    spark.sql("DELETE FROM nd WHERE v = 'b'").collect()
    assert(lake.read("nd").select("k").collect().map(_.getLong(0)).toSet === Set(3L))
  }

  test("string partition column with numeric-looking values prunes lexically, not numerically") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(
      Seq((1L, "9"), (2L, "10")).toDF("k", "p"), "sp", partitionBy = Seq("p"))
    // lexically "9" > "10", so the p="9" partition MUST be read; a
    // parseability-typed stat would compare 9 > 10 numerically and skip it
    val got = lake.readWhere(col("p") > "10", "sp")
    assert(got.collect().map(_.getLong(0)).toSet === Set(1L))
    // and equality still prunes to the single matching partition file
    assert(lake.readWhere(col("p") === "10", "sp").inputFiles.length === 1)
  }

  test("removeOrphans never deletes a data dir whose reserve marker is live") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, "a")).toDF("k", "v"), "vr")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    // a writer mid-flight: data written, commit not yet done, marker fresh
    val inflight = new org.apache.hadoop.fs.Path(lake.tableRoot("vr"), "data-50")
    Seq((5L, "x")).toDF("k", "v").write.parquet(inflight.toString)
    fs.create(new org.apache.hadoop.fs.Path(lake.tableRoot("vr"), "_reserve-50"), true).close()
    // even with staleMillis making everything "stale-aged", the live
    // marker itself is fresh only by mtime — use a large staleMillis so
    // the marker survives pass 1, which must then protect the dir
    val removed = lake.removeOrphans("vr", staleMillis = 3600 * 1000L)
    assert(!removed.contains("data-50") && fs.exists(inflight),
      "vacuum deleted an in-flight writer's data dir")
    // once the writer is truly dead (marker stale), both go
    val removed2 = lake.removeOrphans("vr", staleMillis = -1)
    assert(removed2.toSet === Set("_reserve-50", "data-50"))
  }

  test("non-finite double stats and non-numeric literals degrade to no-pruning, never crash") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    // Infinity bounds: append must not throw folding row-group stats
    lake.createOrReplace(
      Seq((1L, Double.PositiveInfinity), (2L, 1.5), (3L, Double.NegativeInfinity))
        .toDF("k", "x"), "inf")
    lake.append(Seq((4L, 2.5)).toDF("k", "x"), "inf")
    // readWhere over the Infinity-bounded file: no crash, exact result
    assert(lake.readWhere(col("x") > 1.0, "inf").count() === 3L)
    // non-numeric string literal coerced against a numeric column: the
    // eager driver-side prune inside readWhere must degrade to
    // may-match instead of throwing NumberFormatException (executing
    // the comparison is the engine's ANSI business, not the prune's)
    val df = lake.readWhere(col("k") === "abc", "inf")
    assert(df.columns.contains("k"))
  }

  test("expireSnapshots never deletes an in-flight writer's dirs (live reserve marker)") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    lake.createOrReplace(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "exr")
    lake.append(Seq((3L, "c")).toDF("k", "v"), "exr")
    val root = lake.tableRoot("exr")
    // simulate in-flight writers caught between file write and commit:
    // a MoR delete's tombstone and an append's data dir, markers live
    fs.create(new org.apache.hadoop.fs.Path(root, "_reserve-99"), false).close()
    Seq(Tuple1(1L)).toDF("k").write
      .parquet(new org.apache.hadoop.fs.Path(root, "_deletes-99").toString)
    fs.create(new org.apache.hadoop.fs.Path(root, "_reserve-98"), false).close()
    Seq((4L, "d")).toDF("k", "v").write
      .parquet(new org.apache.hadoop.fs.Path(root, "data-98").toString)
    lake.expireSnapshots("exr", keepLast = 1)
    // both survive expiry: their commits can still land safely
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "_deletes-99")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(root, "data-98")))
    assert(lake.read("exr").count() === 3L)
    // once the markers drop without a commit they are ordinary garbage
    fs.delete(new org.apache.hadoop.fs.Path(root, "_reserve-99"), false)
    fs.delete(new org.apache.hadoop.fs.Path(root, "_reserve-98"), false)
    lake.expireSnapshots("exr", keepLast = 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "_deletes-99")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, "data-98")))
  }

  test("parsed DML preserves the registered partition layout across statements") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(
      Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("k", "v", "p"), "pml",
      partitionBy = Seq("p"))
    lake.registerView("pml", Seq("p"))
    Seq((2L, "B", "p2")).toDF("k", "v", "p").createOrReplaceTempView("pml_src")
    spark.sql(
      """MERGE INTO pml USING pml_src ON pml.k = pml_src.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
    // partition-scoped merge: untouched p1 leaf carried by reference
    assert(lake.snapshots("pml").last._2.exists(_.contains("p=p1")))
    // the MERGE must NOT clobber the registration's layout: a second
    // parsed statement still rewrites partition-scoped
    spark.sql("DELETE FROM pml WHERE k = 1").collect()
    assert(lake.snapshots("pml").last._2.exists(_.contains("p=p2")))
    val got = lake.read("pml").select("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((2L, "B")))
  }

  test("metadata tables: t.snapshots / t.files / t.tags / t.history through SQL") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    val v1 = lake.createOrReplace(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "mt")
    lake.registerView("mt")
    spark.sql("INSERT INTO mt VALUES (3, 'c')")
    lake.tagSnapshot("mt", "rel", v1)
    val snaps = spark.sql("SELECT snapshot_id FROM mt.snapshots ORDER BY snapshot_id")
      .collect().map(_.getLong(0))
    assert(snaps.length === 2 && snaps.head === v1)
    assert(spark.sql("SELECT count(*) AS n FROM mt.snapshots WHERE committed_at IS NOT NULL")
      .head.getLong(0) === 2L, "fresh commits must carry wall-clock")
    // current snapshot = two data dirs, at least one parquet file each
    val files = spark.sql("SELECT entry, file, bytes FROM mt.files").collect()
    assert(files.length >= 2 && files.forall(_.getLong(2) > 0L))
    assert(files.map(_.getString(0)).distinct.length === 2, "files must span both entries")
    assert(spark.sql("SELECT tag FROM mt.tags").head.getString(0) === "rel")
    assert(spark.sql("SELECT count(*) AS n FROM mt.history").head.getLong(0) === 2L)
    // t.refs: branches AND tags in one relation with their snapshots
    lake.createBranch("mt", "dev", v1)
    val refs = spark.sql("SELECT name, type, snapshot_id FROM mt.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(refs.toSeq === Seq(
      ("dev", "BRANCH", v1), ("main", "BRANCH", v1 + 1), ("rel", "TAG", v1)))
    // a metadata ref on an unregistered name falls through to Spark
    intercept[Exception] { spark.sql("SELECT * FROM nosuch_mt.files").collect() }
  }

  test("snapshot tags: immutable named refs, SQL travel, and expiry protection") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    val v1 = lake.createOrReplace(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "tg")
    lake.registerView("tg")
    lake.tagSnapshot("tg", "v1.0", v1)
    spark.sql("INSERT INTO tg VALUES (3, 'c')")
    spark.sql("INSERT INTO tg VALUES (4, 'd')")
    spark.sql("INSERT INTO tg VALUES (5, 'e')")
    // programmatic + SQL reads of the tag see the pinned state
    assert(lake.readTag("tg", "v1.0").count() === 2L)
    assert(spark.sql("SELECT count(*) AS n FROM tg VERSION AS OF 'v1.0'")
      .head.getLong(0) === 2L)
    assert(lake.read("tg").count() === 5L)
    // tags are immutable: re-tagging the name is refused
    intercept[IllegalArgumentException] { lake.tagSnapshot("tg", "v1.0", v1 + 1) }
    // expiry keeps the TAGGED snapshot alive even outside keepLast
    lake.expireSnapshots("tg", keepLast = 1)
    assert(lake.readTag("tg", "v1.0").collect().map(_.getLong(0)).toSet === Set(1L, 2L))
    assert(lake.read("tg").count() === 5L)
    // an UNTAGGED intermediate snapshot did expire
    assert(lake.snapshots("tg").length === 2, "expiry kept more than tag + head")
    // dropping the tag releases the pin: the next expiry reclaims it
    lake.dropTag("tg", "v1.0")
    lake.expireSnapshots("tg", keepLast = 1)
    intercept[Exception] { lake.readTag("tg", "v1.0") }
    assert(lake.snapshots("tg").length === 1)
    assert(lake.read("tg").count() === 5L)
  }

  test("persistent catalog: a fresh session re-registers tables with their layouts") {
    val root = freshRoot()
    val lake = new Lakehouse(spark, root)
    import spark.implicits._
    lake.createOrReplace(
      Seq((1L, "a", "p1"), (2L, "b", "p2")).toDF("k", "v", "p"), "pc",
      partitionBy = Seq("p"))
    lake.registerView("pc", Seq("p"))
    lake.createOrReplace(Seq((1L, 1.0)).toDF("k", "x"), "flat")
    lake.registerView("flat")
    // a brand-new session has neither the temp views nor the registry
    val s2 = spark.newSession()
    org.apache.spark.sql.SparkSession.setActiveSession(s2)
    try {
      assert(!s2.catalog.tableExists("pc"))
      val lake2 = Lakehouse.openCatalog(s2, root)
      assert(s2.table("pc").count() === 2L)
      assert(s2.table("flat").count() === 1L)
      assert(graft.sources.LakehouseRegistry.lookup(s2, "pc").get._2 === Seq("p"))
      // parsed DML in the fresh session keeps the PERSISTED layout:
      // the untouched partition still carries by reference
      s2.sql("DELETE FROM pc WHERE k = 2").collect()
      assert(lake2.snapshots("pc").last._2.exists(_.contains("p=p1")),
        "re-opened catalog lost the partition layout")
      assert(lake2.read("pc").select("k").collect().map(_.getLong(0)).toSet === Set(1L))
    } finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF resolve through the parser") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    val v1 = lake.createOrReplace(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "tt")
    lake.registerView("tt")
    val between = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(5) // the next commit's wall-clock must exceed `between`
    spark.sql("INSERT INTO tt VALUES (3, 'c')")
    assert(spark.sql(s"SELECT count(*) AS n FROM tt VERSION AS OF $v1")
      .head.getLong(0) === 2L)
    assert(spark.table("tt").count() === 3L)
    // TIMESTAMP AS OF picks the LATEST snapshot committed at or before
    assert(spark.sql(s"SELECT count(*) AS n FROM tt TIMESTAMP AS OF '$between'")
      .head.getLong(0) === 2L)
    // two versions of one table compose inside a single statement
    val newKeys = spark.sql(
      s"SELECT cur.k FROM tt cur LEFT ANTI JOIN tt VERSION AS OF $v1 old ON cur.k = old.k")
    assert(newKeys.collect().map(_.getLong(0)).toSet === Set(3L))
    // a travel ref on an unregistered name falls through to Spark's error
    intercept[Exception] { spark.sql("SELECT * FROM nosuch_tt VERSION AS OF 1").collect() }
  }

  test("catalog-persisted bucketed tables: a reopened catalog keeps the shuffle-free join") {
    val root = freshRoot()
    val lake = new Lakehouse(spark, root)
    lake.writeBucketed(Tables.orders(spark, sf), "orders_cbkt", Seq("o_custkey"), 8)
    lake.writeBucketed(Tables.customer(spark, sf), "customer_cbkt", Seq("c_custkey"), 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // simulate a fresh process: the shared external catalog forgets
      // the tables entirely; only files + _catalog.jsonl survive
      spark.sql("DROP TABLE orders_cbkt")
      spark.sql("DROP TABLE customer_cbkt")
      assert(!spark.catalog.tableExists("orders_cbkt"))
      Lakehouse.openCatalog(spark, root)
      assert(spark.catalog.tableExists("orders_cbkt"))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_cbkt").join(
        spark.table("customer_cbkt"), col("o_custkey") === col("c_custkey"))
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"),
        s"reopened bucketed join shuffles again:\n${p.take(600)}")
      assert(p.contains("Bucketed: true"), s"bucketing metadata lost:\n${p.take(600)}")
      assert(joined.count() === Tables.orders(spark, sf).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS orders_cbkt")
      spark.sql("DROP TABLE IF EXISTS customer_cbkt")
    }
  }

  test("merge-on-read UPDATE: zero data files rewritten, stacked deltas, compaction materializes") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(
      Seq((1L, "a", 10.0), (2L, "b", 200.0), (3L, "c", 30.0)).toDF("k", "v", "x"), "umor")
    lake.registerView("umor")
    val dirsBefore = lake.snapshots("umor").last._2
    val snap = lake.updateWhereMor(
      Seq("v" -> upper(col("v")), "x" -> (col("x") + 1)), col("x") > 100, "umor")
    // ONE snapshot; every pre-existing data entry carried BY REFERENCE
    // plus one matched-rows-sized delta — no data file rewritten
    val entries = lake.snapshots("umor").find(_._1 == snap).get._2
    assert(dirsBefore.forall(entries.contains),
      s"existing data dirs must carry by reference: $dirsBefore vs $entries")
    // SET read the ORIGINAL values (x = x + 1 on the pre-update x)
    val got = lake.read("umor").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got === Set((1L, "a", 10.0), (2L, "B", 201.0), (3L, "c", 30.0)))
    // time travel still sees the pre-update state
    assert(lake.readSnapshot("umor", 1).collect().map(_.getString(1)).toSet
      === Set("a", "b", "c"))
    // a SECOND MoR update stacks over the first's tombstone + delta
    lake.updateWhereMor(Seq("v" -> concat(col("v"), lit("!"))), col("k") === 1L, "umor")
    val got2 = lake.read("umor").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got2 === Set((1L, "a!"), (2L, "B"), (3L, "c")))
    // compaction materializes deltas and tombstones away, same rows
    lake.compact("umor")
    assert(lake.read("umor").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === got2)
    assert(lake.snapshots("umor").last._2.size === 1)
  }

  test("write-mode property routes parsed UPDATE/DELETE through merge-on-read") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), "wm")
    lake.registerView("wm")
    try {
      spark.conf.set("spark.graft.update-mode", "merge-on-read")
      spark.conf.set("spark.graft.delete-mode", "merge-on-read")
      val before = lake.snapshots("wm").last._2
      spark.sql("UPDATE wm SET v = 'B' WHERE k = 2").collect()
      val afterUpd = lake.snapshots("wm").last
      assert(before.forall(afterUpd._2.contains),
        "MoR update must carry every data dir by reference")
      assert(lake.snapshotDeletes("wm").getOrElse(afterUpd._1, Nil).nonEmpty,
        "MoR update must commit a tombstone")
      spark.sql("DELETE FROM wm WHERE k = 1").collect()
      val afterDel = lake.snapshots("wm").last
      assert(lake.snapshotDeletes("wm").getOrElse(afterDel._1, Nil).size >= 2,
        "MoR delete must add a second tombstone")
      assert(lake.read("wm").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet === Set((2L, "B"), (3L, "c")))
      // an unknown mode is refused loudly, not silently defaulted
      spark.conf.set("spark.graft.update-mode", "bogus")
      intercept[Exception] { spark.sql("UPDATE wm SET v = 'x' WHERE k = 3").collect() }
    } finally {
      spark.conf.unset("spark.graft.update-mode")
      spark.conf.unset("spark.graft.delete-mode")
    }
    // default restored: copy-on-write rewrites instead of tombstoning
    spark.sql("UPDATE wm SET v = 'Z' WHERE k = 3").collect()
    val cow = lake.snapshots("wm").last
    assert(lake.snapshotDeletes("wm").getOrElse(cow._1, Nil).size
      === lake.snapshotDeletes("wm").getOrElse(cow._1 - 1, Nil).size,
      "copy-on-write must not add tombstones")
    assert(lake.read("wm").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet === Set((2L, "B"), (3L, "Z")))
  }

  test("snapshot isolation: statement-start pinning reads fresh and never mixes snapshots") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "pin")
    lake.registerView("pin")
    // a programmatic append WITHOUT re-registering: the next statement
    // still sees the table's CURRENT snapshot (resolution happens at
    // statement start, not registration time)
    lake.append(Seq((3L, "c")).toDF("k", "v"), "pin")
    val fresh = spark.sql("SELECT count(*) FROM pin").head().getLong(0)
    assert(fresh === 3, "statement must resolve the current snapshot, not a stale pin")
    // racing appends: each statement resolves ONE snapshot for ALL its
    // references — two subquery scans can never observe a mixed read
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failed = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val writer = new Thread(() => {
      try {
        var i = 4L
        while (!stop.get && i < 40L) {
          lake.append(Seq((i, "x")).toDF("k", "v"), "pin"); i += 1
        }
      } catch { case t: Throwable => failed.set(t) }
    })
    writer.start()
    try {
      for (_ <- 1 to 8) {
        val row = spark.sql(
          """SELECT (SELECT count(*) FROM pin) a,
            |       (SELECT count(*) FROM pin) b""".stripMargin).head()
        assert(row.getLong(0) === row.getLong(1),
          s"mixed-snapshot read: ${row.getLong(0)} vs ${row.getLong(1)}")
      }
    } finally { stop.set(true); writer.join() }
    assert(failed.get() == null, s"concurrent writer failed: ${failed.get()}")
  }

  test("travel and metadata statements add no temp view to the session catalog") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    val s1 = lake.createOrReplace(Seq((1L, "a")).toDF("k", "v"), "tvb")
    val s2 = lake.append(Seq((2L, "b")).toDF("k", "v"), "tvb")
    lake.registerView("tvb")
    lake.tagSnapshot("tvb", "first", s1)
    def tvbViews(): Set[String] = spark.catalog.listTables().collect()
      .map(_.name).filter(_.startsWith("tvb")).toSet
    val before = tvbViews()
    // distinct future timestamps, every version form, every metadata table
    val base = System.currentTimeMillis() + 60000
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
    val stamps = (0 until 30).map { i =>
      val ts = java.time.Instant.ofEpochMilli(base + i * 1000L)
        .atZone(java.time.ZoneOffset.UTC).format(fmt)
      s"SELECT * FROM tvb TIMESTAMP AS OF '$ts'"
    }
    val versions = Seq(s"SELECT * FROM tvb VERSION AS OF $s1",
      s"SELECT * FROM tvb VERSION AS OF $s2", "SELECT * FROM tvb VERSION AS OF 'first'")
    val meta = Seq("history", "snapshots", "files", "tags", "partition_stats",
      "partitions", "refs", "mviews", "views").map(m => s"SELECT * FROM tvb.$m")
    val statements = stamps ++ versions ++ meta
    assert(statements.distinct.size === 42)
    statements.foreach(sql => spark.sql(sql).collect())
    assert(tvbViews() === before, s"travel/metadata statements left views behind")
    // a view created by SQL over travel and metadata references keeps
    // resolving them each time it is read
    spark.sql(s"CREATE OR REPLACE TEMP VIEW tvb_v1 AS SELECT * FROM tvb VERSION AS OF '$s1'")
    spark.sql("CREATE OR REPLACE TEMP VIEW tvb_refs AS SELECT * FROM tvb.refs")
    try {
      assert(spark.table("tvb_v1").count() === 1L)
      assert(spark.sql("SELECT count(*) FROM tvb_refs").head().getLong(0) === 2L)
    } finally Seq("tvb_v1", "tvb_refs").foreach(spark.catalog.dropTempView)
  }

  test("registered-name qualifiers: metadata-table-named columns and travel aliases resolve") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    val s1 = lake.createOrReplace(Seq((1L, "x"), (2L, "y")).toDF("id", "tags"), "pm")
    lake.append(Seq((3L, "z")).toDF("id", "tags"), "pm")
    lake.registerView("pm")
    def ids(sql: String): Seq[Long] = spark.sql(sql).collect().map(_.getLong(0)).toSeq.sorted
    // `pm.tags` is a column of pm here, not the tags metadata table
    assert(spark.sql("SELECT pm.tags FROM pm").collect().map(_.getString(0)).toSeq.sorted
      === Seq("x", "y", "z"))
    assert(ids("SELECT pm.id FROM pm WHERE pm.tags <> 'y'") === Seq(1L, 3L))
    // a travel reference keeps its table name and its alias as qualifiers
    assert(ids(s"SELECT pm.id FROM pm VERSION AS OF $s1") === Seq(1L, 2L))
    assert(ids(s"SELECT o.id FROM pm VERSION AS OF $s1 AS o WHERE o.tags = 'x'") === Seq(1L))
    // and a metadata table answers under `<table>.<m>` and its last part
    assert(ids("SELECT pm.snapshots.snapshot_id FROM pm.snapshots") ===
      lake.snapshots("pm").map(_._1).sorted)
    assert(ids("SELECT snapshots.snapshot_id FROM pm.snapshots") ===
      lake.snapshots("pm").map(_._1).sorted)
  }

  test("WITH bodies and EXPLAIN pin the registered name to the current snapshot") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "ctef")
    lake.registerView("ctef")
    // programmatic appends WITHOUT re-registering the view
    lake.append(Seq((3L, "c")).toDF("k", "v"), "ctef")
    lake.append(Seq((4L, "d")).toDF("k", "v"), "ctef")
    assert(spark.sql("WITH x AS (SELECT * FROM ctef) SELECT count(*) FROM x")
      .head().getLong(0) === lake.read("ctef").count())
    lake.append(Seq((5L, "e")).toDF("k", "v"), "ctef")
    // a name referenced only under EXPLAIN is pinned too
    spark.sql("EXPLAIN SELECT count(*) FROM ctef").collect()
    assert(spark.table("ctef").count() === 5L)
    val plan = spark.sql("EXPLAIN WITH x AS (SELECT * FROM ctef VERSION AS OF " +
      s"${lake.snapshots("ctef").head._1}) SELECT count(*) FROM x").head().getString(0)
    assert(!plan.contains("Error"), plan)
  }

  test("TIMESTAMP AS OF parses in the session timezone, not the JVM default") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, "a")).toDF("k", "v"), "tzt")
    lake.registerView("tzt")
    Thread.sleep(5)
    val between = System.currentTimeMillis()
    Thread.sleep(5)
    lake.append(Seq((2L, "b")).toDF("k", "v"), "tzt")
    // a wall-clock literal in the SESSION zone (UTC), between the commits
    val asOf = java.time.Instant.ofEpochMilli(between)
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    val prev = java.util.TimeZone.getDefault
    try {
      // under a UTC+9 JVM default, a Timestamp.valueOf parse would read
      // the literal 9h early and find NO committed snapshot; the
      // session-zone parse must still resolve snapshot 1
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("Asia/Tokyo"))
      val rows = spark.sql(s"SELECT * FROM tzt TIMESTAMP AS OF '$asOf'").collect()
      assert(rows.map(_.getLong(0)).toSet === Set(1L))
    } finally java.util.TimeZone.setDefault(prev)
    // an explicit offset in the literal wins over the session zone
    val asOfZoned = java.time.Instant.ofEpochMilli(between)
      .atZone(java.time.ZoneId.of("+09:00"))
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS'+09:00'"))
    val rows2 = spark.sql(s"SELECT * FROM tzt TIMESTAMP AS OF '$asOfZoned'").collect()
    assert(rows2.map(_.getLong(0)).toSet === Set(1L))
  }

  test("conditional MERGE: ordered MATCHED clauses + conditional INSERT in one snapshot") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(
      Seq((1L, 10.0, "a"), (2L, 200.0, "b"), (3L, 30.0, "c")).toDF("k", "x", "v"), "cm")
    lake.registerView("cm")
    Seq((1L, 11.0, "A"), (2L, 2.0, "B"), (4L, 40.0, "D"), (5L, 500.0, "E"))
      .toDF("k", "x", "v").createOrReplaceTempView("cm_src")
    val snapsBefore = lake.snapshots("cm").length
    spark.sql(
      """MERGE INTO cm USING cm_src ON cm.k = cm_src.k
        |WHEN MATCHED AND cm.x > 100 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED AND cm_src.x < 100 THEN INSERT *""".stripMargin).collect()
    // k=1 matched, x=10: first clause false → updated from source
    // k=2 matched, x=200: first clause true → deleted (clause ORDER,
    //     evaluated on the PRE-merge value, decides)
    // k=3 unmatched target → survives unchanged
    // k=4 unmatched source, x=40 < 100 → inserted
    // k=5 unmatched source, x=500 → insert condition false, ignored
    val got = lake.read("cm").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(got === Set((1L, 11.0, "A"), (3L, 30.0, "c"), (4L, 40.0, "D")))
    assert(lake.snapshots("cm").length === snapsBefore + 1,
      "a conditional MERGE must commit exactly ONE snapshot")
    // DELETE-only merge: no NOT MATCHED clause → unmatched source ignored
    Seq((1L, 0.0, "x"), (9L, 0.0, "y")).toDF("k", "x", "v")
      .createOrReplaceTempView("cm_del")
    spark.sql("MERGE INTO cm USING cm_del ON cm.k = cm_del.k WHEN MATCHED THEN DELETE")
      .collect()
    assert(lake.read("cm").select("k").collect().map(_.getLong(0)).toSet === Set(3L, 4L))
    // subqueries in clause conditions are refused at parse time
    intercept[UnsupportedOperationException] {
      spark.sql(
        """MERGE INTO cm USING cm_del ON cm.k = cm_del.k
          |WHEN MATCHED AND cm.x > (SELECT avg(x) FROM cm) THEN DELETE""".stripMargin)
    }
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: full-sync delete/update in the same snapshot") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(
      Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"), (4L, 400.0, "d"))
        .toDF("k", "x", "v"), "fs")
    lake.registerView("fs")
    Seq((1L, 11.0, "A"), (5L, 50.0, "E")).toDF("k", "x", "v")
      .createOrReplaceTempView("fs_src")
    val snapsBefore = lake.snapshots("fs").length
    // the full-sync shape: matched rows update, new rows insert, rows
    // the source no longer carries get retired — stale small ones
    // delete, stale big ones get flagged instead
    spark.sql(
      """MERGE INTO fs USING fs_src ON fs.k = fs_src.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE AND fs.x > 100 THEN UPDATE SET v = 'stale'
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin).collect()
    // k=1 matched → updated; k=5 inserted; k=2,3 unmatched-by-source,
    // x ≤ 100 → first BY SOURCE clause false, second deletes;
    // k=4 unmatched-by-source, x=400 → flagged 'stale', survives
    val got = lake.read("fs").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(got === Set((1L, 11.0, "A"), (4L, 400.0, "stale"), (5L, 50.0, "E")))
    assert(lake.snapshots("fs").length === snapsBefore + 1,
      "all five clauses must commit exactly ONE snapshot")
    // BY TARGET is accepted as the insert side's explicit alias
    Seq((6L, 60.0, "F")).toDF("k", "x", "v").createOrReplaceTempView("fs_src2")
    spark.sql(
      """MERGE INTO fs USING fs_src2 ON fs.k = fs_src2.k
        |WHEN NOT MATCHED BY TARGET THEN INSERT *""".stripMargin).collect()
    assert(lake.read("fs").where(col("k") === 6L).count() === 1)
    // UPDATE SET * is meaningless without a source row: Spark's grammar
    // refuses it
    val e = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      spark.sql(
        """MERGE INTO fs USING fs_src2 ON fs.k = fs_src2.k
          |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *""".stripMargin).collect()
    }
    assert(e.getMessage.contains("PARSE_SYNTAX_ERROR"))
  }

  test("conditional MERGE stays partition-scoped: untouched partitions carry by reference") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(
      Seq((1L, 5.0, "p1"), (2L, 150.0, "p2"), (3L, 8.0, "p2")).toDF("k", "x", "p"), "cmp",
      partitionBy = Seq("p"))
    lake.registerView("cmp", Seq("p"))
    Seq((2L, 1.0, "p2"), (3L, 2.0, "p2")).toDF("k", "x", "p")
      .createOrReplaceTempView("cmp_src")
    spark.sql(
      """MERGE INTO cmp USING cmp_src ON cmp.k = cmp_src.k
        |WHEN MATCHED AND cmp.x > 100 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *""".stripMargin).collect()
    // only p2 was touched: p1's original leaf rides into the new
    // snapshot by reference
    assert(lake.snapshots("cmp").last._2.exists(_.contains("p=p1")),
      "untouched partition must be carried by reference, not rewritten")
    val got = lake.read("cmp").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(got === Set((1L, 5.0, "p1"), (3L, 2.0, "p2")))
  }

  test("MoR SQL delete keeps the registered partition layout for subsequent DML") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(
      Seq((1L, "a", "p1"), (2L, "b", "p2"), (3L, "c", "p2")).toDF("k", "v", "p"), "morp",
      partitionBy = Seq("p"))
    lake.registerView("morp", Seq("p"))
    try {
      spark.conf.set("spark.graft.delete-mode", "merge-on-read")
      spark.sql("DELETE FROM morp WHERE k = 3").collect()
    } finally spark.conf.unset("spark.graft.delete-mode")
    // the MoR path must NOT re-register with an empty layout
    assert(graft.sources.LakehouseRegistry.lookup(spark, "morp").get._2 === Seq("p"))
    // and a subsequent parsed CoW statement still rewrites partition-scoped
    spark.sql("DELETE FROM morp WHERE k = 2").collect()
    assert(lake.snapshots("morp").last._2.exists(_.contains("p=p1")),
      "post-MoR parsed DML lost the partition directory layout")
    assert(lake.read("morp").select("k").collect().map(_.getLong(0)).toSet === Set(1L))
  }

  test("INSERT INTO up-casts to the table schema and refuses lossy writes") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, 1.5)).toDF("k", "x"), "ti")
    lake.registerView("ti")
    // int literals up-cast to the declared BIGINT; column type is stable
    spark.sql("INSERT INTO ti VALUES (2, 2.5)").collect()
    assert(lake.read("ti").schema("k").dataType === org.apache.spark.sql.types.LongType)
    assert(lake.read("ti").count() === 2L)
    // a double into the BIGINT column would silently union-widen every
    // later read — refused, table intact
    intercept[Exception] { spark.sql("INSERT INTO ti SELECT x, x FROM ti") }
    assert(lake.read("ti").schema("k").dataType === org.apache.spark.sql.types.LongType)
    assert(lake.read("ti").count() === 2L)
  }

  test("UPDATE with a subquery in SET is refused; unregister drops DML routing") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "usq")
    lake.registerView("usq")
    intercept[UnsupportedOperationException] {
      spark.sql("UPDATE usq SET v = (SELECT max(v) FROM usq) WHERE k = 1")
    }
    assert(lake.read("usq").collect().length === 2)
    graft.sources.LakehouseRegistry.unregister(spark, "usq")
    // no longer DML-addressable: falls through to Spark's parser, which
    // rejects DELETE on a plain temp view
    intercept[Exception] { spark.sql("DELETE FROM usq WHERE k = 1") }
  }

  test("MoR equality delete with a NULL key removes NULL-key rows (null-safe match)") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(
      Seq((Option(1L), "a"), (Option.empty[Long], "b"), (Option(3L), "c")).toDF("k", "v"), "nk")
    lake.deleteByKeyMor(Seq(Tuple1(Option.empty[Long])).toDF("k"), "nk")
    assert(lake.read("nk").select("v").collect().map(_.getString(0)).toSet === Set("a", "c"))
    // non-null keys unaffected by the null-safe comparison
    lake.deleteByKeyMor(Seq(Tuple1(Option(1L))).toDF("k"), "nk")
    assert(lake.read("nk").select("v").collect().map(_.getString(0)).toSet === Set("c"))
  }

  test("DELETE FROM without WHERE wipes the table; backquoted names and subqueries handled") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "fulldel")
    lake.registerView("fulldel")
    // subquery WHERE: rejected with a clear message at parse time, not
    // a downstream expr() failure
    intercept[UnsupportedOperationException] {
      spark.sql("DELETE FROM fulldel WHERE k IN (SELECT k FROM fulldel)")
    }
    // backquoted name + no WHERE = full-table delete (Iceberg's form)
    spark.sql("DELETE FROM `fulldel`").collect()
    assert(lake.read("fulldel").count() === 0L)
    assert(lake.readSnapshot("fulldel", 1L).count() === 2L) // time travel intact
  }

  test("updateWhere: SET reads original values, NULL-pred rows survive, clean entries carry by reference") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    // two appends so stats can prove one dir clean
    lake.createOrReplace(Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "x", "v"), "upd")
    lake.append(Seq((100L, 1000L, "z")).toDF("k", "x", "v"), "upd")
    val mtimes = fs.listStatus(new org.apache.hadoop.fs.Path(lake.tableRoot("upd"), "data-2"))
      .map(s => s.getPath.getName -> s.getModificationTime).toMap
    // swap semantics: SET k = x, x = k must use ORIGINAL values on both
    // right-hand sides; k < 50 stat-prunes data-2 (min k = 100)
    lake.updateWhere(Seq("k" -> col("x"), "x" -> col("k")), col("k") < 50L, "upd")
    val got = lake.read("upd").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((10L, 1L), (20L, 2L), (100L, 1000L)))
    // the clean dir carried byte-identical (same entry, untouched files)
    assert(lake.snapshots("upd").last._2.contains("data-2"))
    fs.listStatus(new org.apache.hadoop.fs.Path(lake.tableRoot("upd"), "data-2")).foreach { s =>
      assert(s.getModificationTime === mtimes(s.getPath.getName), "clean dir was rewritten")
    }
    // NULL predicate rows keep their values (SQL UPDATE semantics)
    val lake2 = new Lakehouse(spark, freshRoot())
    lake2.createOrReplace(
      Seq((Option(1L), "a"), (Option.empty[Long], "b")).toDF("k", "v"), "nu")
    lake2.updateWhere(Seq("v" -> lit("UPDATED")), col("k") === 1L, "nu")
    val gotNu = lake2.read("nu").collect().map(r => (Option(r.get(0)), r.getString(1))).toSet
    assert(gotNu === Set((Some(1L), "UPDATED"), (None, "b")))
  }

  test("parsed UPDATE and INSERT INTO execute over registered lakehouse views") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("k", "x", "v"), "udml")
    lake.registerView("udml")
    // UPDATE with WHERE: only k=2 changes; RHS cast back to the column type
    spark.sql("UPDATE udml SET x = x * 2, v = 'B' WHERE k = 2").collect()
    assert(lake.read("udml").collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
      === Set((1L, 10.0, "a"), (2L, 40.0, "B")))
    // INSERT INTO … VALUES appends positionally as a new delta dir
    val entriesBefore = lake.snapshots("udml").last._2.length
    spark.sql("INSERT INTO udml VALUES (3, 30.0, 'c'), (4, 40.0, 'd')").collect()
    assert(lake.read("udml").count() === 4L)
    assert(lake.snapshots("udml").last._2.length === entriesBefore + 1, "INSERT must be O(1) append")
    // INSERT INTO … SELECT
    spark.sql("INSERT INTO udml SELECT k + 10, x, v FROM udml WHERE k <= 2").collect()
    assert(lake.read("udml").where(col("k") > 10).count() === 2L)
    // UPDATE without WHERE touches every row
    spark.sql("UPDATE udml SET v = 'all'").collect()
    assert(lake.read("udml").where(col("v") === "all").count() === 6L)
    // history time-travels across all of it
    assert(lake.readSnapshot("udml", 1L).count() === 2L)
    // subquery WHERE rejected at parse time
    intercept[UnsupportedOperationException] {
      spark.sql("UPDATE udml SET v = 'x' WHERE k IN (SELECT k FROM udml)")
    }
  }

  test("DML registry is session-scoped: same-named views in two sessions route to their own lakes") {
    val s2 = spark.newSession()
    val lakeA = new Lakehouse(spark, freshRoot())
    val lakeB = new Lakehouse(s2, freshRoot())
    import spark.implicits._
    lakeA.createOrReplace(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "iso")
    lakeA.registerView("iso")
    lakeB.createOrReplace(
      s2.range(5).withColumnRenamed("id", "k").withColumn("v", lit("x")), "iso")
    lakeB.registerView("iso")
    // each session's DML hits its own lake, not whoever registered last
    spark.sql("DELETE FROM iso WHERE k = 1").collect()
    s2.sql("DELETE FROM iso WHERE k < 3").collect()
    assert(lakeA.read("iso").count() === 1L)
    assert(lakeB.read("iso").count() === 2L)
  }

  test("deleting every row of a partitioned table leaves a readable empty snapshot") {
    val lake = new Lakehouse(spark, freshRoot())
    import spark.implicits._
    lake.createOrReplace(
      Seq((1L, "p1"), (2L, "p2")).toDF("k", "p"), "wipe", partitionBy = Seq("p"))
    lake.deleteWhere(col("k") >= 0L, "wipe", partitionBy = Seq("p"))
    assert(lake.read("wipe").count() === 0L)
    assert(lake.read("wipe").columns.contains("k"))
    // history before the wipe still time-travels
    assert(lake.readSnapshot("wipe", 1L).count() === 2L)
  }

  test("MERGE UPDATE SET with explicit assignments: accumulate, not replace") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.createOrReplace(
      Seq((1L, "a", 10L), (2L, "b", 20L), (4L, "d", 40L)).toDF("k", "v", "cnt"), "acc")
    lake.registerView("acc")
    Seq((1L, "A", 5L), (3L, "c", 7L), (4L, "D", 4L))
      .toDF("k", "v", "cnt").createOrReplaceTempView("acc_src")
    // the upsert-accumulate shape: matched rows ADD counts (and only
    // low-count matches also take the source's v via a second clause);
    // unassigned columns keep the TARGET row's values
    spark.sql(
      """MERGE INTO acc USING acc_src ON acc.k = acc_src.k
        |WHEN MATCHED AND acc.cnt >= 10 THEN UPDATE SET cnt = acc.cnt + acc_src.cnt
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = lake.read("acc").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === Seq(
      (1L, "a", 15L), // accumulated; v untouched (not assigned)
      (2L, "b", 20L), // unmatched target row survives
      (3L, "c", 7L),  // inserted
      (4L, "d", 44L))) // first clause wins: accumulated, v untouched
  }

  test("MERGE SET assignments take function calls and cast to declared types") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.createOrReplace(Seq((1L, "ab", 1.5)).toDF("k", "v", "x"), "fx")
    lake.registerView("fx")
    Seq((1L, "cd", 9)).toDF("k", "v", "x").createOrReplaceTempView("fx_src")
    spark.sql(
      """MERGE INTO fx USING fx_src ON fx.k = fx_src.k
        |WHEN MATCHED THEN UPDATE SET v = concat(fx.v, fx_src.v),
        |  x = greatest(fx.x, fx_src.x)""".stripMargin)
    val r = lake.read("fx").head()
    assert(r.getString(1) === "abcd")
    assert(r.getDouble(2) === 9.0) // int source value cast back to DOUBLE column
    // unknown assigned column refused
    intercept[IllegalArgumentException] {
      spark.sql("MERGE INTO fx USING fx_src ON fx.k = fx_src.k " +
        "WHEN MATCHED THEN UPDATE SET nope = 1")
    }
  }

  test("MERGE SET assignments keep commas/parens inside string literals") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.createOrReplace(Seq((1L, "a", "x")).toDF("k", "v", "w"), "ql")
    lake.registerView("ql")
    Seq((1L, "b", "y")).toDF("k", "v", "w").createOrReplaceTempView("ql_src")
    // the assignment-list splitter must not split on the comma inside
    // ',' nor unbalance on '(' in a literal; '''s' exercises the
    // doubled-quote escape
    spark.sql(
      """MERGE INTO ql USING ql_src ON ql.k = ql_src.k
        |WHEN MATCHED THEN UPDATE SET v = concat(ql.v, ',', ql_src.v),
        |  w = concat('(', ql_src.w, ')''s')""".stripMargin)
    val r = lake.read("ql").head()
    assert(r.getString(1) === "a,b")
    assert(r.getString(2) === "(y)'s")
  }

  test("MERGE INSERT with an explicit column list: listed get VALUES, rest NULL") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.createOrReplace(Seq((1L, "a", 10L)).toDF("k", "v", "cnt"), "insx")
    lake.registerView("insx")
    Seq((1L, "A", 5L), (2L, "b", 7L), (3L, "c", 9L))
      .toDF("k", "v", "cnt").createOrReplaceTempView("insx_src")
    spark.sql(
      """MERGE INTO insx USING insx_src ON insx.k = insx_src.k
        |WHEN MATCHED THEN UPDATE SET cnt = insx.cnt + insx_src.cnt
        |WHEN NOT MATCHED AND insx_src.cnt < 8
        |  THEN INSERT (k, cnt) VALUES (insx_src.k, insx_src.cnt * 100)""".stripMargin)
    val got = lake.read("insx").orderBy("k").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSeq
    assert(got === Seq(
      (1L, Some("a"), 15L), // matched: accumulated, v kept
      (2L, None, 700L)))    // conditional insert: v unlisted -> NULL; k=3 filtered
    // unknown column in the INSERT list refused
    intercept[IllegalArgumentException] {
      spark.sql("MERGE INTO insx USING insx_src ON insx.k = insx_src.k " +
        "WHEN NOT MATCHED THEN INSERT (nope) VALUES (1)")
    }
  }
}
