package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Medallion
import graft.sources.Lakehouse
import graft.sources.spj.GraftSpjCatalog

/** The round-13 strictness gaps closed: the SPJ/DSv2 catalog SERVES
  * merge-on-read tombstoned tables (equality and positional, per-file
  * sequence-gated anti-filters in the reader) and schema-evolved
  * tables (per-dir conform projections) instead of refusing them —
  * with every ledger-exactness claim (pushed aggregates, LIMIT/TopN
  * caps, exact row counts) correctly DECLINING where tombstones make
  * the ledgers over-state, and the Exchange-free join property
  * retained (row filtering never moves a partition). Iceberg serves
  * all of this on the reference's own tables (gold_reporting.py:71-75
  * configures SparkCatalog); compaction is no longer the price of
  * re-entry to the DSv2 surface. */
class SpjMorEvolutionSpec extends SparkSpec {

  private def withSpj[T](root: String, cat: String)(body: => T): T = {
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftSpjCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val prevBucketing = spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body
    finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      prevBucketing match {
        case Some(v) => spark.conf.set("spark.sql.sources.v2.bucketing.enabled", v)
        case None => spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
      }
    }
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  private def freshRoot(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString

  import spark.implicits._

  test("SPJ read over EQUALITY tombstones equals the ordinary read; later appends re-insert the key") {
    val root = freshRoot("spj-moreq")
    val lake = new Lakehouse(spark, root)
    val rows = (1L to 40L).map(k => (k, s"v$k", k * 10.0)).toDF("k", "v", "w")
    lake.createOrReplace(rows, "t", Seq("bucket(8,k)"))
    lake.deleteByKeyMor(Seq(3L, 7L, 20L).toDF("k"), "t")
    // a re-insert AFTER the tombstone must survive (seq gating: the
    // tombstone only outranks the older dir)
    lake.append(Seq((7L, "back", 7.0)).toDF("k", "v", "w"), "t", Seq("bucket(8,k)"))
    withSpj(root, "spj_me1") {
      val got = spark.table("spj_me1.t")
      assert(sortedRows(got) === sortedRows(lake.read("t")))
      assert(got.count() === 38) // 40 - 3 deleted + 1 re-inserted
      assert(got.where(col("k") === 7L).count() === 1)
      assert(got.where(col("k") === 3L).count() === 0)
      // pruned projection that does NOT include the tombstone key:
      // the reader must still fetch k internally to anti-filter
      assert(got.select("v").count() === 38)
      assert(!sortedRows(got.select("v")).contains("v3"))
    }
  }

  test("SPJ read over POSITIONAL tombstones (MoR delete + MoR update) equals the ordinary read") {
    val root = freshRoot("spj-morpos")
    val lake = new Lakehouse(spark, root)
    val rows = (1L to 60L).map(k => (k, k % 5, k * 1.5)).toDF("k", "g", "w")
    lake.createOrReplace(rows, "t", Seq("bucket(4,k)"))
    lake.deleteWhereMor(col("g") === 2, "t")
    // MoR update writes the delta dir UNDER the table's own layout so
    // the SPJ read keeps serving (a spec-less delta would mix layouts)
    lake.updateWhereMor(Seq("w" -> (col("w") + 1000.0)), col("g") === 3, "t",
      Seq("bucket(4,k)"))
    withSpj(root, "spj_me2") {
      val got = spark.table("spj_me2.t")
      assert(sortedRows(got) === sortedRows(lake.read("t")))
      assert(got.where(col("g") === 2).count() === 0)
      assert(got.where(col("g") === 3 && col("w") < 1000.0).count() === 0)
      // residual filters stay exact even though tombstoned dirs read
      // with zero pushed parquet filters
      assert(got.where(col("k") <= 10).count() ===
        lake.read("t").where(col("k") <= 10).count())
    }
  }

  test("SPJ join over a MoR-maintained table keeps the Exchange-free plan and matches the shuffled join") {
    val root = freshRoot("spj-morjoin")
    val lake = new Lakehouse(spark, root)
    val fact = (1L to 80L).map(k => (k, k % 11, s"f$k")).toDF("fk", "fg", "fv")
    val dim = (1L to 80L).map(k => (k, s"d$k")).toDF("dk", "dv")
    lake.createOrReplace(fact, "f", Seq("bucket(8,fk)"))
    lake.createOrReplace(dim, "d", Seq("bucket(8,dk)"))
    lake.deleteByKeyMor((1L to 80L by 9).toDF("fk"), "f")
    withSpj(root, "spj_me3") {
      val joined = spark.table("spj_me3.f")
        .join(spark.table("spj_me3.d"), col("fk") === col("dk"))
      assert(!Medallion.plansShuffle(joined),
        "tombstone anti-filters must not cost the SPJ join its co-partitioning:\n" +
          joined.queryExecution.executedPlan)
      val plain = lake.read("f").join(lake.read("d"), col("fk") === col("dk"))
      assert(sortedRows(joined) === sortedRows(plain))
      assert(joined.count() === 80 - (1L to 80L by 9).size)
    }
  }

  test("pushed aggregates and LIMIT/TopN caps DECLINE on a tombstoned snapshot; answers stay exact") {
    val root = freshRoot("spj-mordec")
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace((1L to 50L).map(k => (k, k * 2.0)).toDF("k", "w"),
      "t", Seq("bucket(4,k)"))
    lake.deleteByKeyMor((1L to 10L).toDF("k"), "t")
    withSpj(root, "spj_me4") {
      val cnt = spark.sql("SELECT count(*) AS n FROM spj_me4.t")
      // ledger readout would say 50; the real scan must answer 40
      assert(!cnt.queryExecution.executedPlan.toString.contains("GraftSpjAggScan"),
        "a tombstoned snapshot must not answer aggregates from ledgers")
      assert(cnt.collect().head.getLong(0) === 40L)
      assert(spark.sql("SELECT min(k) AS mn, max(k) AS mx FROM spj_me4.t")
        .collect().head.toSeq === Seq(11L, 50L))
      // LIMIT/TopN caps must not under-cover: 40 real rows remain
      assert(spark.table("spj_me4.t").limit(45).count() === 40)
      assert(spark.sql("SELECT k FROM spj_me4.t ORDER BY k LIMIT 12")
        .collect().map(_.getLong(0)).toSeq === (11L to 22L))
    }
  }

  test("Spark-native UPDATE on a tombstoned catalog table carries the tombstones (CoW over MoR)") {
    val root = freshRoot("spj-morupd")
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace((1L to 30L).map(k => (k, s"v$k", 0.0)).toDF("k", "v", "w"),
      "t", Seq("bucket(4,k)"))
    lake.deleteByKeyMor(Seq(5L, 6L).toDF("k"), "t")
    withSpj(root, "spj_me5") {
      spark.sql("UPDATE spj_me5.t SET w = 99.0 WHERE k = 10")
      val got = spark.table("spj_me5.t")
      assert(got.count() === 28) // tombstoned rows stay deleted
      assert(got.where(col("k").isin(5L, 6L)).count() === 0)
      assert(got.where(col("k") === 10L).select("w").collect().head.getDouble(0) === 99.0)
      // the rewrite materialized deletes for the leaves it touched and
      // CARRIED the tombstones for the ones it didn't — either way the
      // ordinary read agrees
      assert(sortedRows(got) === sortedRows(lake.read("t")))
    }
  }

  test("DSv2 DELETE routes merge-on-read under spark.graft.delete-mode: zero leaves rewritten") {
    val root = freshRoot("spj-mordel")
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace((1L to 30L).map(k => (k, k % 3)).toDF("k", "g"),
      "t", Seq("bucket(4,k)"))
    val entriesBefore = lake.snapshots("t").map(_._2).head
    withSpj(root, "spj_me6") {
      spark.conf.set("spark.graft.delete-mode", "merge-on-read")
      try spark.sql("DELETE FROM spj_me6.t WHERE g = 1")
      finally spark.conf.unset("spark.graft.delete-mode")
      val snap = lake.currentSnapshot("t").get
      val entriesAfter = lake.snapshots("t").find(_._1 == snap).get._2
      assert(entriesAfter.toSet === entriesBefore.toSet,
        "MoR delete must rewrite zero data entries")
      assert(lake.snapshotDeletes("t").getOrElse(snap, Seq.empty).nonEmpty,
        "MoR delete must commit a tombstone")
      assert(spark.table("spj_me6.t").where(col("g") === 1).count() === 0)
      assert(spark.table("spj_me6.t").count() ===
        (1L to 30L).count(_ % 3 != 1))
    }
  }

  test("SPJ read of a schema-EVOLVED table: add, rename, widen, drop all conform per dir") {
    val root = freshRoot("spj-evo")
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace((1L to 20L).map(k => (k, k.toInt, s"v$k")).toDF("k", "n", "v"),
      "t", Seq("bucket(4,k)"))
    lake.addColumns("t", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.DoubleType))))
    lake.renameColumn("t", "v", "label")
    lake.alterColumnType("t", "n", org.apache.spark.sql.types.LongType)
    // a post-evolution append writes the NEW physical shape — the scan
    // must serve both shapes under one declared schema
    lake.append(Seq((21L, 21L, "v21", 2.5)).toDF("k", "n", "label", "extra"),
      "t", Seq("bucket(4,k)"))
    withSpj(root, "spj_me7") {
      val got = spark.table("spj_me7.t")
      assert(got.schema.fieldNames.toSeq === Seq("k", "n", "label", "extra"))
      assert(got.schema("n").dataType === org.apache.spark.sql.types.LongType)
      assert(sortedRows(got) === sortedRows(lake.read("t")))
      assert(got.count() === 21)
      assert(got.where(col("extra").isNotNull).count() === 1)
      assert(got.where(col("label") === "v7").count() === 1)
      // pruned single-column reads across both physical shapes
      assert(got.select("label").count() === 21)
      lake.dropColumn("t", "extra")
      val after = spark.table("spj_me7.t")
      assert(after.schema.fieldNames.toSeq === Seq("k", "n", "label"))
      assert(sortedRows(after) === sortedRows(lake.read("t")))
    }
  }

  test("SPJ join over an evolved table keeps the Exchange-free plan; filters on renamed columns stay exact") {
    val root = freshRoot("spj-evojoin")
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace((1L to 40L).map(k => (k, s"a$k")).toDF("k", "name"),
      "f", Seq("bucket(8,k)"))
    lake.createOrReplace((1L to 40L).map(k => (k, k * 3.0)).toDF("dk", "w"),
      "d", Seq("bucket(8,dk)"))
    lake.renameColumn("f", "name", "title")
    withSpj(root, "spj_me8") {
      val joined = spark.table("spj_me8.f")
        .join(spark.table("spj_me8.d"), col("k") === col("dk"))
      assert(!Medallion.plansShuffle(joined),
        "conform projections must not cost the SPJ join its co-partitioning:\n" +
          joined.queryExecution.executedPlan)
      assert(joined.count() === 40)
      // filter on the renamed column: pushed stats live under the OLD
      // name, so file pruning abstains — rows must still be exact
      assert(spark.table("spj_me8.f").where(col("title") === "a5").count() === 1)
      assert(sortedRows(joined) ===
        sortedRows(lake.read("f").join(lake.read("d"), col("k") === col("dk"))))
    }
  }

  test("EQUALITY tombstones compose with evolution when keys survive canonically; dropped keys refuse") {
    val root = freshRoot("spj-combo")
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace(
      (1L to 10L).map(k => (k, k.toInt * 10, s"v$k")).toDF("k", "u", "v"),
      "t", Seq("bucket(4,k)"))
    lake.deleteByKeyMor(Seq(20, 50).toDF("u"), "t") // keyed on a NON-partition int
    // renames of OTHER columns never touch the key; the key itself may
    // even RENAME or WIDEN (canonKey unifies integral families) and
    // the tombstone still lands — forward-mapped at load
    lake.renameColumn("t", "v", "label")
    lake.renameColumn("t", "u", "uid")
    lake.alterColumnType("t", "uid", org.apache.spark.sql.types.LongType)
    withSpj(root, "spj_me9") {
      assert(spark.sql("SHOW TABLES IN spj_me9").collect()
        .map(_.getString(1)).contains("t"))
      assert(spark.table("spj_me9.t").count() === 8)
      assert(spark.table("spj_me9.t").where(col("uid").isin(20L, 50L)).count() === 0)
      assert(sortedRows(spark.table("spj_me9.t")) === sortedRows(lake.read("t")))
      // DROPPING the key column would sever the only thing the
      // tombstone can match on (silent resurrection on every read
      // path) — the DROP itself refuses until compaction materializes
      val e = intercept[Exception](lake.dropColumn("t", "uid"))
      assert(e.getMessage.contains("equality tombstone"),
        s"wanted the live-tombstone drop refusal, got: ${e.getMessage}")
      lake.compact("t", Seq("bucket(4,k)"))
      lake.dropColumn("t", "uid") // deletes materialized: drop lands
      assert(spark.table("spj_me9.t").schema.fieldNames.toSeq === Seq("k", "label"))
      assert(spark.table("spj_me9.t").count() === 8)
      assert(sortedRows(spark.table("spj_me9.t")) === sortedRows(lake.read("t")))
    }
  }

  test("POSITIONAL tombstones compose with schema evolution: MoR DML after ALTER TABLE serves") {
    val root = freshRoot("spj-poscombo")
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace((1L to 30L).map(k => (k, k % 3, s"v$k")).toDF("k", "g", "v"),
      "t", Seq("bucket(4,k)"))
    withSpj(root, "spj_me12") {
      spark.sql("ALTER TABLE spj_me12.t RENAME COLUMN v TO label")
      spark.sql("ALTER TABLE spj_me12.t ADD COLUMNS (extra DOUBLE)")
      // a (file, row-index) pair names its row under ANY schema — MoR
      // delete and MoR update both serve over the evolved dirs
      lake.deleteWhereMor(col("g") === 0, "t")
      spark.conf.set("spark.graft.update-mode", "merge-on-read")
      try spark.sql("UPDATE spj_me12.t SET extra = 7.5 WHERE g = 1")
      finally spark.conf.unset("spark.graft.update-mode")
      // SHOW TABLES keeps advertising (the probe reads the tombstone kind)
      assert(spark.sql("SHOW TABLES IN spj_me12").collect()
        .map(_.getString(1)).contains("t"))
      val expect = (1L to 30L).filterNot(_ % 3 == 0).map(k =>
        s"$k|${k % 3}|v$k|${if (k % 3 == 1) "7.5" else "null"}").sorted
      assert(sortedRows(spark.table("spj_me12.t")) === expect)
      assert(sortedRows(lake.read("t")) === expect)
      // SPJ join over the evolved+tombstoned table stays Exchange-free
      lake.createOrReplace((1L to 30L).map(k => (k, k * 2.0)).toDF("dk", "w"),
        "d", Seq("bucket(4,dk)"))
      val j = spark.table("spj_me12.t")
        .join(spark.table("spj_me12.d"), col("k") === col("dk"))
      assert(!Medallion.plansShuffle(j),
        "positional tombstones + evolution must keep co-partitioning:\n" +
          j.queryExecution.executedPlan)
      assert(j.count() === 20)
    }
  }

  test("streaming bootstrap from a tombstoned catalog table emits the anti-filtered snapshot") {
    val root = freshRoot("spj-morstream")
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace((1L to 20L).map(k => (k, k % 4)).toDF("k", "g"),
      "t", Seq("bucket(4,k)"))
    lake.deleteWhereMor(col("g") === 0, "t")
    withSpj(root, "spj_me10") {
      val ckpt = freshRoot("spj-morstream-ckpt")
      val out = freshRoot("spj-morstream-out")
      spark.readStream.table("spj_me10.t").writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination(120000)
      val emitted = spark.read.parquet(out)
      assert(emitted.count() === (1L to 20L).count(_ % 4 != 0))
      assert(emitted.where(col("g") === 0).count() === 0)
    }
  }

  test("row-id metadata columns: _file and _pos serve per raw file row") {
    val root = freshRoot("spj-meta")
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace((1L to 40L).map(k => (k, s"v$k")).toDF("k", "v"),
      "t", Seq("bucket(4,k)"))
    withSpj(root, "spj_md1") {
      val m = spark.sql("SELECT _file, _pos, k FROM spj_md1.t").collect()
      assert(m.length === 40)
      val files = lake.spjLayout("t").files.valuesIterator.flatten.map(_.path).toSet
      assert(m.map(_.getString(0)).toSet === files,
        "_file must be the layout's exact file paths")
      // positions are dense 0..n-1 within each file
      m.groupBy(_.getString(0)).foreach { case (_, rows) =>
        assert(rows.map(_.getLong(1)).sorted.toSeq === (0L until rows.length))
      }
    }
  }

  test("MERGE-ON-READ UPDATE through the catalog: position deletes + one delta dir, zero leaves rewritten") {
    val root = freshRoot("spj-dupd")
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace(
      (1L to 50L).map(k => (k, k % 5, k * 1.0)).toDF("k", "g", "w"),
      "t", Seq("bucket(4,k)"))
    val entriesBefore = lake.snapshots("t").map(_._2).head.toSet
    withSpj(root, "spj_md2") {
      spark.conf.set("spark.graft.update-mode", "merge-on-read")
      try spark.sql("UPDATE spj_md2.t SET w = w + 1000 WHERE g = 2")
      finally spark.conf.unset("spark.graft.update-mode")
      val snap = lake.currentSnapshot("t").get
      val entriesAfter = lake.snapshots("t").find(_._1 == snap).get._2
      // every original entry carried by reference + exactly one delta dir
      assert(entriesAfter.toSet.intersect(entriesBefore) === entriesBefore,
        "MoR update must carry every original entry")
      assert((entriesAfter.toSet -- entriesBefore)
        .map(_.takeWhile(_ != '/')).size === 1, "one delta data dir expected")
      assert(lake.snapshotDeletes("t").getOrElse(snap, Seq.empty).nonEmpty,
        "MoR update must commit a positional tombstone")
      // BOTH read paths agree on the final state (pins that the delta
      // writer's _file form matches _metadata.file_path)
      val expect = (1L to 50L).map(k =>
        (k, k % 5, if (k % 5 == 2) k * 1.0 + 1000 else k * 1.0))
        .map(t => s"${t._1}|${t._2}|${t._3}").sorted
      assert(sortedRows(spark.table("spj_md2.t")) === expect)
      assert(sortedRows(lake.read("t")) === expect)
    }
  }

  test("MERGE-ON-READ MERGE INTO: matched rows tombstone + re-image, unmatched insert, entries carried") {
    val root = freshRoot("spj-dmrg")
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace(
      (1L to 20L).map(k => (k, s"v$k", 0L)).toDF("k", "v", "n"),
      "t", Seq("bucket(4,k)"))
    val entriesBefore = lake.snapshots("t").map(_._2).head.toSet
    withSpj(root, "spj_md3") {
      Seq((5L, "five", 50L), (15L, "fifteen", 150L), (25L, "new", 250L))
        .toDF("k", "v", "n").createOrReplaceTempView("dmrg_src")
      spark.conf.set("spark.graft.update-mode", "merge-on-read")
      try spark.sql(
        """MERGE INTO spj_md3.t t USING dmrg_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET t.v = s.v, t.n = s.n
          |WHEN NOT MATCHED THEN INSERT (k, v, n) VALUES (s.k, s.v, s.n)""".stripMargin)
      finally spark.conf.unset("spark.graft.update-mode")
      val snap = lake.currentSnapshot("t").get
      val entriesAfter = lake.snapshots("t").find(_._1 == snap).get._2
      assert(entriesAfter.toSet.intersect(entriesBefore) === entriesBefore)
      assert(lake.snapshotDeletes("t").getOrElse(snap, Seq.empty).nonEmpty)
      val got = spark.table("spj_md3.t")
      assert(got.count() === 21)
      assert(sortedRows(got.where(col("k").isin(5L, 15L, 25L))) ===
        Seq("15|fifteen|150", "25|new|250", "5|five|50"))
      assert(sortedRows(got) === sortedRows(lake.read("t")))
    }
  }

  test("MERGE-ON-READ DELETE beyond the filter algebra: the delta op tombstones matched positions") {
    val root = freshRoot("spj-ddel")
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace((1L to 30L).map(k => (k, s"v$k")).toDF("k", "v"),
      "t", Seq("bucket(4,k)"))
    val entriesBefore = lake.snapshots("t").map(_._2).head.toSet
    withSpj(root, "spj_md4") {
      spark.conf.set("spark.graft.delete-mode", "merge-on-read")
      // pmod is beyond SupportsDelete's filter algebra — this must
      // take the row-level path, which routes DELTA under the knob
      try spark.sql("DELETE FROM spj_md4.t WHERE pmod(k, 7) = 3")
      finally spark.conf.unset("spark.graft.delete-mode")
      val snap = lake.currentSnapshot("t").get
      assert(lake.snapshots("t").find(_._1 == snap).get._2.toSet === entriesBefore,
        "a delete-only delta commit carries the entries unchanged")
      assert(lake.snapshotDeletes("t").getOrElse(snap, Seq.empty).nonEmpty)
      val expect = (1L to 30L).filterNot(_ % 7 == 3).map(k => s"$k|v$k").sorted
      assert(sortedRows(spark.table("spj_md4.t")) === expect)
      assert(sortedRows(lake.read("t")) === expect)
    }
  }

  test("stacked MoR maintenance: a delta UPDATE over an already-tombstoned table serves on both paths") {
    val root = freshRoot("spj-dstack")
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace((1L to 40L).map(k => (k, k % 4, k * 1.0)).toDF("k", "g", "w"),
      "t", Seq("bucket(4,k)"))
    lake.deleteWhereMor(col("g") === 0, "t")
    withSpj(root, "spj_md5") {
      spark.conf.set("spark.graft.update-mode", "merge-on-read")
      try spark.sql("UPDATE spj_md5.t SET w = -1 WHERE g = 1")
      finally spark.conf.unset("spark.graft.update-mode")
      val expect = (1L to 40L).filterNot(_ % 4 == 0).map(k =>
        s"$k|${k % 4}|${if (k % 4 == 1) -1.0 else k * 1.0}").sorted
      assert(sortedRows(spark.table("spj_md5.t")) === expect)
      assert(sortedRows(lake.read("t")) === expect)
      // compaction closes the chapter: same rows, tombstones gone
      lake.compact("t", Seq("bucket(4,k)"))
      assert(!lake.spjLayout("t").tombstoned)
      assert(sortedRows(spark.table("spj_md5.t")) === expect)
    }
  }

  test("streaming from a schema-EVOLVED catalog table conforms mixed physical shapes per batch") {
    val root = freshRoot("spj-evostream")
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace((1L to 15L).map(k => (k, s"v$k")).toDF("k", "v"),
      "evs", Seq("bucket(4,k)"))
    lake.renameColumn("evs", "v", "label")
    lake.addColumns("evs", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.DoubleType))))
    lake.append(Seq((16L, "v16", 1.5)).toDF("k", "label", "extra"),
      "evs", Seq("bucket(4,k)"))
    withSpj(root, "spj_me13") {
      val ckpt = freshRoot("spj-evostream-ckpt")
      val out = freshRoot("spj-evostream-out")
      // bootstrap drains BOTH physical shapes through one declared
      // schema: pre-evolution dirs reverse-rename v->label and
      // null-fill extra, the post-evolution dir reads as written
      spark.readStream.table("spj_me13.evs").writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination(120000)
      val emitted = spark.read.parquet(out)
      assert(emitted.schema.fieldNames.sorted.toSeq === Seq("extra", "k", "label"))
      assert(emitted.count() === 16)
      assert(emitted.where(col("label") === "v7").count() === 1)
      assert(emitted.where(col("extra").isNotNull).count() === 1)
      // a tailing batch over a post-evolution append stays conformed
      lake.append(Seq((17L, "v17", 2.5)).toDF("k", "label", "extra"),
        "evs", Seq("bucket(4,k)"))
      spark.readStream.table("spj_me13.evs").writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination(120000)
      assert(spark.read.parquet(out).count() === 17)
    }
  }

  test("MIXED layouts degrade to the claim-free flat scan: reads, DML and tombstones all serve") {
    val root = freshRoot("spj-flat")
    val lake = new Lakehouse(spark, root)
    // partition evolution: bucket(4) history, bucket(8) tail, plus an
    // unpartitioned delta — three specs in one snapshot
    lake.createOrReplace((1L to 20L).map(k => (k, s"v$k", 0.0)).toDF("k", "v", "w"),
      "mixt", Seq("bucket(4,k)"))
    lake.append((21L to 40L).map(k => (k, s"v$k", 0.0)).toDF("k", "v", "w"),
      "mixt", Seq("bucket(8,k)"))
    lake.append((41L to 50L).map(k => (k, s"v$k", 0.0)).toDF("k", "v", "w"), "mixt")
    withSpj(root, "spj_me14") {
      // the listing advertises it and the read serves, claim-free
      assert(spark.sql("SHOW TABLES IN spj_me14").collect()
        .map(_.getString(1)).contains("mixt"))
      val got = spark.table("spj_me14.mixt")
      assert(sortedRows(got) === sortedRows(lake.read("mixt")))
      assert(got.count() === 50)
      // no co-location claim: a join against a uniform bucket table
      // must SHUFFLE and stay correct
      lake.createOrReplace((1L to 50L).map(k => (k, k * 2.0)).toDF("dk", "x"),
        "mixd", Seq("bucket(8,dk)"))
      val j = got.join(spark.table("spj_me14.mixd"), col("k") === col("dk"))
      assert(Medallion.plansShuffle(j),
        "a flat-group scan must not claim co-partitioning")
      assert(j.count() === 50)
      // stats pruning still applies per file; filters stay exact
      assert(got.where(col("k") === 25L).count() === 1)
      // row-level DML over the mixed snapshot: CoW UPDATE and MoR
      // DELETE both serve (flat entries rewrite/carry like any other)
      spark.sql("UPDATE spj_me14.mixt SET w = 9.0 WHERE k = 7")
      spark.conf.set("spark.graft.delete-mode", "merge-on-read")
      try spark.sql("DELETE FROM spj_me14.mixt WHERE k > 45")
      finally spark.conf.unset("spark.graft.delete-mode")
      val after = spark.table("spj_me14.mixt")
      assert(after.count() === 45)
      assert(after.where(col("k") === 7L).select("w").collect().head.getDouble(0) === 9.0)
      assert(sortedRows(after) === sortedRows(lake.read("mixt")))
    }
  }

  test("IDENTITY-mixed layouts serve claim-free: path-borne values re-inject per file (r14)") {
    val root = freshRoot("spj-flatid")
    val lake = new Lakehouse(spark, root)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("k", LongType), StructField("status", StringType),
      StructField("w", DoubleType)))
    def df(rows: Seq[(Long, String, Double)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(t => Row(t._1, t._2, t._3)), 2), schema)
    // partition evolution AWAY from an identity spec — the round-13
    // refusal ("the stripped column is unrecoverable") was wrong: each
    // identity dir's value is in its path segment, incl. the Hive null dir
    lake.createOrReplace(
      df((1L to 20L).map(k => (k, if (k % 5 == 0) null else s"s${k % 3}", k * 1.0))),
      "flid", Seq("status"))
    lake.append(df((21L to 40L).map(k => (k, s"s${k % 3}", k * 1.0))),
      "flid", Seq("bucket(8,k)"))
    withSpj(root, "spj_fi1") {
      assert(spark.sql("SHOW TABLES IN spj_fi1").collect()
        .map(_.getString(1)).contains("flid"),
        "the probe must advertise an identity-mixed table")
      val got = spark.table("spj_fi1.flid")
      assert(sortedRows(got) === sortedRows(lake.read("flid")))
      assert(got.count() === 40)
      // the path-borne column round-trips exactly, nulls included
      assert(got.where(col("status").isNull).count() === 4)
      // s1 = k%3==1 minus the first batch's null-status k%5==0 slots
      assert(got.where(col("status") === "s1").count() === 13)
      // pruned projection that SKIPS the injected column still serves
      assert(got.select("w").count() === 40)
      // no co-location claim: joins shuffle and stay correct
      lake.createOrReplace(
        (1L to 40L).map(k => (k, k * 2.0)).toDF("dk", "x"), "flidd", Seq("bucket(8,dk)"))
      val j = got.join(spark.table("spj_fi1.flidd"), col("k") === col("dk"))
      assert(Medallion.plansShuffle(j), "a flat-group scan must not claim co-partitioning")
      assert(j.count() === 40)
      // EQUALITY tombstone keyed on the STRIPPED column: the reader
      // binds it from the injected per-file value
      lake.deleteByKeyMor(Seq("s2").toDF("status"), "flid")
      assert(sortedRows(spark.table("spj_fi1.flid")) === sortedRows(lake.read("flid")))
      assert(spark.table("spj_fi1.flid").where(col("status") === "s2").count() === 0)
      // row-level DML over the mixed snapshot
      spark.sql("UPDATE spj_fi1.flid SET w = -1 WHERE k = 4")
      assert(spark.table("spj_fi1.flid").where(col("k") === 4)
        .select("w").collect().head.getDouble(0) === -1.0)
      assert(sortedRows(spark.table("spj_fi1.flid")) === sortedRows(lake.read("flid")))
      // a RENAMED strip column SERVES since r15: the path segment's
      // dir-time physical name forward-maps to the declared field, so
      // the probe keeps advertising and the rows stay path-equal —
      // including the equality tombstone recorded under the OLD name
      lake.renameColumn("flid", "status", "st")
      assert(lake.spjServableSpec("flid").nonEmpty,
        "the probe must keep advertising a renamed flat-identity strip column")
      val renamedGot = spark.table("spj_fi1.flid")
      assert(renamedGot.columns.contains("st"))
      assert(sortedRows(renamedGot) === sortedRows(lake.read("flid")))
      assert(renamedGot.where(col("st") === "s2").count() === 0) // tombstone holds
    }
  }

  test("time travel through the catalog serves the pre-delete snapshot un-filtered") {
    val root = freshRoot("spj-mortt")
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace((1L to 15L).map(k => (k, s"v$k")).toDF("k", "v"),
      "mortt", Seq("bucket(4,k)"))
    val before = lake.currentSnapshot("mortt").get
    lake.deleteByKeyMor(Seq(1L, 2L).toDF("k"), "mortt")
    withSpj(root, "spj_me11") {
      assert(spark.sql(s"SELECT count(*) AS n FROM spj_me11.mortt VERSION AS OF $before")
        .collect().head.getLong(0) === 15L)
      assert(spark.table("spj_me11.mortt").count() === 13L)
    }
  }

  test("RENAMED partition-source columns serve on the flat path: strips forward-map to declared names (r15)") {
    val root = freshRoot("spj-renstrip")
    val lake = new Lakehouse(spark, root)
    // identity-partitioned history, then partition-evolve AWAY, then
    // rename the old source column — the round-14 dead end
    val rows = (1L to 30L).map(k => (k, if (k % 3 == 0) "F" else "O", k * 1.0))
      .toDF("k", "status", "w")
    lake.createOrReplace(rows, "rns", Seq("status"))
    lake.registerView("rns", Seq("status"))
    spark.sql("ALTER TABLE rns SET PARTITION SPEC (bucket(4, k))")
    lake.append((31L to 40L).map(k => (k, "P", k * 1.0)).toDF("k", "status", "w"),
      "rns", Seq("bucket(4,k)"))
    // the old identity source is no longer a layout source: rename lands
    lake.renameColumn("rns", "status", "state")
    withSpj(root, "spj_me16") {
      val got = spark.table("spj_me16.rns")
      // the renamed strip injects its path-borne values under the NEW name
      assert(got.columns.toSeq === Seq("k", "state", "w"))
      assert(sortedRows(got) === sortedRows(lake.read("rns")))
      assert(got.where(col("state") === "F").count() === 10L)
      assert(got.where(col("state") === "P").count() === 10L)
      // SHOW TABLES advertises it (the probe agrees with the load)
      assert(spark.sql("SHOW TABLES IN spj_me16").collect()
        .map(_.getString(1)).contains("rns"))
      // DML keeps working over the renamed-strip snapshot
      spark.sql("UPDATE spj_me16.rns SET w = 0.0 WHERE k = 3")
      assert(spark.table("spj_me16.rns").where(col("k") === 3L)
        .select("w").head().getDouble(0) === 0.0)
      // MoR delete composes
      lake.deleteWhereMor(col("k") === 40L, "rns")
      assert(spark.table("spj_me16.rns").count() === 39L)
      assert(sortedRows(spark.table("spj_me16.rns")) === sortedRows(lake.read("rns")))
    }
  }

  test("NESTED evolution serves on the SPJ path: struct shapes conform per dir, Exchange-free joins survive") {
    val root = freshRoot("spj-nested")
    val lake = new Lakehouse(spark, root)
    val rows = (1L to 30L).map(k => (k, s"c$k", s"z$k")).toDF("k", "city", "zip")
      .select(col("k"), struct(col("city"), col("zip")).as("addr"))
    lake.createOrReplace(rows, "nt", Seq("bucket(4,k)"))
    withSpj(root, "spj_me15") {
      // nested ADD + RENAME through the DSv2 ALTER surface (the
      // TableChange fieldNames arrays arrive multi-segment)
      spark.sql("ALTER TABLE spj_me15.nt ADD COLUMNS (addr.country STRING)")
      spark.sql("ALTER TABLE spj_me15.nt RENAME COLUMN addr.zip TO postal")
      // a post-evolution INSERT writes the full new shape physically —
      // the table now mixes two struct shapes
      spark.sql("INSERT INTO spj_me15.nt VALUES " +
        "(31, named_struct('city','LA','postal','90001','country','US'))")
      val got = spark.table("spj_me15.nt")
      assert(got.schema("addr").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.toSeq === Seq("city", "postal", "country"))
      // both read paths agree row-for-row across the mixed shapes
      assert(sortedRows(got.select(col("k"), col("addr.city"), col("addr.postal"),
        col("addr.country"))) ===
        sortedRows(lake.read("nt").select(col("k"), col("addr.city"),
          col("addr.postal"), col("addr.country"))))
      assert(got.where(col("addr.country").isNull).count() === 30L)
      assert(got.where(col("addr.postal") === "z7").count() === 1L)
      // nested DROP: the field vanishes on the catalog read too
      spark.sql("ALTER TABLE spj_me15.nt DROP COLUMN addr.city")
      assert(spark.table("spj_me15.nt").schema("addr").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.toSeq === Seq("postal", "country"))
      assert(spark.table("spj_me15.nt").count() === 31L)
      // the bucket layout claim survives nested evolution: same-key
      // join against a same-spec table plans no Exchange
      val dim = (1L to 31L).map(k => (k, k % 5)).toDF("k2", "grp")
      lake.createOrReplace(dim, "nd", Seq("bucket(4,k2)"))
      val j = spark.table("spj_me15.nt")
        .join(spark.table("spj_me15.nd"), col("k") === col("k2"))
      assert(!Medallion.plansShuffle(j),
        "nested-evolved table must keep co-locating:\n" + j.queryExecution.executedPlan)
      assert(j.count() === 31L)
      // nested evolution composes with MoR deletes (positional
      // tombstones are name-free): delete two rows, shapes still serve
      lake.deleteWhereMor(col("k").isin(3L, 31L), "nt")
      val after = spark.table("spj_me15.nt")
      assert(after.count() === 29L)
      assert(sortedRows(after.select(col("k"), col("addr.postal"), col("addr.country")))
        === sortedRows(lake.read("nt").select(col("k"), col("addr.postal"),
          col("addr.country"))))
    }
  }

  test("ARRAY-ELEMENT evolution serves on the SPJ path: per-element conforms ride the projection (r15)") {
    val root = freshRoot("spj-arrel")
    val lake = new Lakehouse(spark, root)
    val rows = (1L to 20L).map(k => (k, Seq((s"s$k", k.toInt))))
      .toDF("k", "raw")
      .select(col("k"), expr(
        "transform(raw, x -> named_struct('sku', x._1, 'qty', x._2))").as("items"))
    lake.createOrReplace(rows, "art", Seq("bucket(4,k)"))
    withSpj(root, "spj_me17") {
      spark.sql("ALTER TABLE spj_me17.art ADD COLUMNS (items.element.discount DOUBLE)")
      spark.sql("ALTER TABLE spj_me17.art RENAME COLUMN items.element.sku TO code")
      spark.sql("INSERT INTO spj_me17.art VALUES " +
        "(21, array(named_struct('code','s21','qty',21,'discount',0.5)))")
      val got = spark.table("spj_me17.art")
      assert(got.schema("items").dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.toSeq === Seq("code", "qty", "discount"))
      // both read paths agree element-for-element across the two shapes
      assert(sortedRows(got.select(col("k"), explode(col("items")).as("it"))
        .select(col("k"), col("it.code"), col("it.qty"), col("it.discount"))) ===
        sortedRows(lake.read("art").select(col("k"), explode(col("items")).as("it"))
          .select(col("k"), col("it.code"), col("it.qty"), col("it.discount"))))
      assert(got.select(explode(col("items.discount")).as("d"))
        .where(col("d").isNull).count() === 20L)
      // element-field DROP serves too
      spark.sql("ALTER TABLE spj_me17.art DROP COLUMN items.element.qty")
      assert(spark.table("spj_me17.art").select(explode(col("items")).as("it"))
        .select(col("it.code")).count() === 21L)
      // co-location claims survive array-element evolution
      val j = spark.table("spj_me17.art").join(
        spark.table("spj_me17.art").select(col("k").as("k2")), col("k") === col("k2"))
      assert(!Medallion.plansShuffle(j),
        "array-element evolution must keep co-locating:\n" + j.queryExecution.executedPlan)
    }
  }

  test("MAP-VALUE evolution serves on the SPJ path: per-entry conforms ride the projection (r16)") {
    val root = freshRoot("spj-mapval")
    val lake = new Lakehouse(spark, root)
    val rows = (1L to 20L).map(k => (k, Seq((s"a$k", (k.toInt, "kg")))))
      .toDF("k", "raw")
      .select(col("k"), expr(
        "map_from_entries(transform(raw, x -> struct(x._1 as key, " +
          "named_struct('qty', x._2._1, 'unit', x._2._2) as value)))").as("attrs"))
    lake.createOrReplace(rows, "mpt", Seq("bucket(4,k)"))
    withSpj(root, "spj_me18") {
      spark.sql("ALTER TABLE spj_me18.mpt ADD COLUMNS (attrs.value.note STRING)")
      spark.sql("ALTER TABLE spj_me18.mpt RENAME COLUMN attrs.value.unit TO uom")
      spark.sql("INSERT INTO spj_me18.mpt VALUES " +
        "(21, map('a21', named_struct('qty', 21, 'uom', 's', 'note', 'n21')))")
      val got = spark.table("spj_me18.mpt")
      assert(got.schema("attrs").dataType.asInstanceOf[org.apache.spark.sql.types.MapType]
        .valueType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.toSeq === Seq("qty", "uom", "note"))
      // both read paths agree entry-for-entry across the two shapes
      def flat(df: org.apache.spark.sql.DataFrame) =
        df.select(col("k"), explode(col("attrs")).as(Seq("mk", "mval")))
          .select(col("k"), col("mk"), col("mval.qty"), col("mval.uom"), col("mval.note"))
      assert(sortedRows(flat(got)) === sortedRows(flat(lake.read("mpt"))))
      assert(flat(got).where(col("note").isNull).count() === 20L)
      // value-field DROP serves too
      spark.sql("ALTER TABLE spj_me18.mpt DROP COLUMN attrs.value.qty")
      assert(spark.table("spj_me18.mpt")
        .select(explode(col("attrs")).as(Seq("mk", "mval")))
        .select(col("mval.uom")).count() === 21L)
      // co-location claims survive map-value evolution
      val j = spark.table("spj_me18.mpt").join(
        spark.table("spj_me18.mpt").select(col("k").as("k2")), col("k") === col("k2"))
      assert(!Medallion.plansShuffle(j),
        "map-value evolution must keep co-locating:\n" + j.queryExecution.executedPlan)
    }
  }
}
