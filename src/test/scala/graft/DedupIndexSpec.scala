package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.sources.{Lakehouse, Tables}

/** The incrementally-maintained MinHash-LSH near-dup index
  * ([[Dedup.indexCreate]]/[[Dedup.indexRefresh]]): O(delta) refresh
  * reports exactly the pairs a from-scratch LSH run attributes to the
  * new batch, replays no-op, and the advanced index equals a fresh
  * build over the full corpus. */
class DedupIndexSpec extends SparkSpec {

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("one refresh reports the from-scratch pairs with a new side, exactly") {
    val root = java.nio.file.Files.createTempDirectory("graft-ndix1").toString
    val lake = new Lakehouse(spark, root)
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    lake.createOrReplace(docs.where(col("doc_id") % 3 =!= 0), "nds")
    Dedup.indexCreate(lake, "nds")
    lake.append(docs.where(col("doc_id") % 3 === 0), "nds")
    val got = Dedup.indexRefresh(lake, "nds")
    // independent reference: the GROUP-level full-corpus pipeline
    // (dup-group collapse + prefix machinery - a different code path),
    // restricted to pairs with at least one delta side
    val want = Dedup.dedupMinhashLsh(spark, sf)
      .where(col("doc_a") % 3 === 0 || col("doc_b") % 3 === 0)
    assert(rows(got) === rows(want))
    assert(got.count() > 0, "testdata should contain cross-batch near-dups")
  }

  test("replay no-ops: same-snapshot refresh returns nothing and moves nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft-ndix2").toString
    val lake = new Lakehouse(spark, root)
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .where(col("doc_id") < 200)
    lake.createOrReplace(docs.where(col("doc_id") % 2 === 0), "ndr")
    Dedup.indexCreate(lake, "ndr")
    lake.append(docs.where(col("doc_id") % 2 === 1), "ndr")
    val first = Dedup.indexRefresh(lake, "ndr").collect()
    val bandsSnaps = lake.snapshots("ndr_nd_bands").size
    // watermark == current snapshot: nothing to do, nothing committed
    assert(Dedup.indexRefresh(lake, "ndr").count() === 0)
    assert(lake.snapshots("ndr_nd_bands").size === bandsSnaps)
    // and the committed batch ids are exactly the two source snapshots
    assert(lake.committedBatches("ndr_nd_bands").size === 2)
    assert(first.nonEmpty || docs.count() > 0) // refresh itself ran
  }

  test("the advanced index equals a from-scratch build over the full corpus") {
    val root = java.nio.file.Files.createTempDirectory("graft-ndix3").toString
    val lake = new Lakehouse(spark, root)
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .where(col("doc_id") < 300)
    lake.createOrReplace(docs.where(col("doc_id") % 2 === 0), "nda")
    Dedup.indexCreate(lake, "nda")
    lake.append(docs.where(col("doc_id") % 2 === 1), "nda")
    Dedup.indexRefresh(lake, "nda")
    // fresh build of the SAME corpus in a second lake
    val root2 = java.nio.file.Files.createTempDirectory("graft-ndix3b").toString
    val lake2 = new Lakehouse(spark, root2)
    lake2.createOrReplace(docs, "nda")
    Dedup.indexCreate(lake2, "nda")
    assert(rows(lake.read("nda_nd_bands")) === rows(lake2.read("nda_nd_bands")))
    assert(rows(lake.read("nda_nd_posts").select(col("doc_id"), col("gs"))) ===
      rows(lake2.read("nda_nd_posts").select(col("doc_id"), col("gs"))))
  }

  test("streaming maintenance: commits land, pairs ledger fills, replays no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft-ndix5").toString
    val ck = java.nio.file.Files.createTempDirectory("graft-ndix5-ck").toString
    val lake = new Lakehouse(spark, root)
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    lake.createOrReplace(docs.where(col("doc_id") % 3 === 1), "ndm")
    Dedup.indexCreate(lake, "ndm")
    lake.append(docs.where(col("doc_id") % 3 === 2), "ndm")
    lake.append(docs.where(col("doc_id") % 3 === 0), "ndm")
    val q = graft.streaming.EventStream.maintainDedupIndex(spark, root, "ndm", ck)
    try q.awaitTermination(120000) finally q.stop()
    // index advanced to the source head; the pairs ledger holds the
    // admission readout of the maintained interval
    assert(lake.committedBatches("ndm_nd_bands").max ===
      lake.currentSnapshot("ndm").get)
    val ledger = lake.read("ndm_nd_pairs")
    assert(ledger.count() > 0)
    // a second pass over an unchanged source commits nothing
    val snaps = lake.snapshots("ndm_nd_pairs").size
    val q2 = graft.streaming.EventStream.maintainDedupIndex(spark, root, "ndm",
      java.nio.file.Files.createTempDirectory("graft-ndix5-ck2").toString)
    try q2.awaitTermination(120000) finally q2.stop()
    assert(lake.snapshots("ndm_nd_pairs").size === snaps)
  }

  test("CALL system.refresh_dedup_index advances the index through SQL") {
    val root = java.nio.file.Files.createTempDirectory("graft-ndix6").toString
    val lake = new Lakehouse(spark, root)
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .where(col("doc_id") < 400)
    lake.createOrReplace(docs.where(col("doc_id") % 2 === 0), "ndq")
    lake.registerView("ndq")
    Dedup.indexCreate(lake, "ndq")
    lake.append(docs.where(col("doc_id") % 2 === 1), "ndq")
    val out = spark.sql("CALL system.refresh_dedup_index('ndq')").collect()
    assert(out.length === 1)
    assert(out(0).getLong(0) === lake.currentSnapshot("ndq").get)
    // the ledger holds the create-time bootstrap pairs PLUS this
    // step's new ones
    assert(lake.read("ndq_nd_pairs").count() >= out(0).getLong(1))
    // replay reports zero new pairs and commits nothing
    val again = spark.sql("CALL system.refresh_dedup_index('ndq')").collect()
    assert(again(0).getLong(1) === 0L)
  }

  test("admission decisions from the ledger equal a from-scratch global dedup") {
    val root = java.nio.file.Files.createTempDirectory("graft-ndix8").toString
    val lake = new Lakehouse(spark, root)
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    lake.createOrReplace(docs.where(col("doc_id") % 3 =!= 0), "ndad")
    Dedup.indexCreate(lake, "ndad")
    lake.append(docs.where(col("doc_id") % 3 === 0), "ndad")
    Dedup.indexMaintainStep(lake, "ndad")
    val got = Dedup.indexAdmission(lake, "ndad")
    // reference: components over the full-corpus group-level pipeline's
    // pairs (different code path), singletons labeled by left join
    val comp = Dedup.connectedComponents(
      Dedup.dedupMinhashLsh(spark, sf).select("doc_a", "doc_b"))
    val want = docs.select(col("doc_id"))
      .join(comp.select(col("doc_id"), col("rep_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep_id"), col("doc_id")).as("canonical_id"))
      .withColumn("keep", col("doc_id") === col("canonical_id"))
    assert(rows(got) === rows(want))
    // the policy actually drops something at this sf
    assert(got.where(!col("keep")).count() > 0)
  }

  test("compacting the index tables preserves content and the watermark") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .where(col("doc_id") < 300)
    // two lakes with the same history: base + three refreshed batches,
    // i.e. three level-0 segments per index table
    def build(prefix: String): Lakehouse = {
      val lake = new Lakehouse(spark,
        java.nio.file.Files.createTempDirectory(prefix).toString)
      lake.createOrReplace(docs.where(col("doc_id") % 5 === 0), "ndc")
      Dedup.indexCreate(lake, "ndc")
      for (r <- 1 to 3) {
        lake.append(docs.where(col("doc_id") % 5 === r), "ndc")
        Dedup.indexRefresh(lake, "ndc")
      }
      lake
    }
    val lake = build("graft-ndix7")
    val twin = build("graft-ndix7b")
    val bands = Dedup.bandsTable("ndc")
    val posts = "ndc_nd_posts"
    val before = rows(lake.read(bands))
    val beforePosts = rows(lake.read(posts).select(col("doc_id"), col("gs")))
    val wm = lake.committedBatches(bands).max
    // fold the segments: bin-pack the bands, range-cluster the posts
    lake.compactBinPack(bands, 1L << 30)
    lake.compactClustered(posts, Seq("doc_id"), 4)
    assert(lake.snapshots(bands).last._2.size === 1)
    assert(rows(lake.read(bands)) === before)
    assert(rows(lake.read(posts).select(col("doc_id"), col("gs"))) === beforePosts)
    // the commit-batch watermark survives compaction: a refresh after
    // it still sees "nothing new" instead of re-deriving from zero
    assert(lake.committedBatches(bands).max === wm)
    assert(Dedup.indexRefresh(lake, "ndc").count() === 0)
    // and the compacted index serves the next batch exactly like the
    // uncompacted twin
    lake.append(docs.where(col("doc_id") % 5 === 4), "ndc")
    twin.append(docs.where(col("doc_id") % 5 === 4), "ndc")
    val got = Dedup.indexRefresh(lake, "ndc")
    assert(rows(got) === rows(Dedup.indexRefresh(twin, "ndc")))
    assert(got.count() > 0)
  }

  /** Data dirs of a table's current snapshot. */
  private def liveDirs(lake: Lakehouse, table: String): Set[String] =
    lake.snapshots(table).last._2.map(_.takeWhile(_ != '/')).toSet

  private def filesUnder(lake: Lakehouse, table: String, dir: String): Seq[java.io.File] =
    new java.io.File(lake.tableRoot(table).toUri.getPath, dir).listFiles().toSeq

  test("each refresh appends one unpartitioned sorted segment per index table") {
    val root = java.nio.file.Files.createTempDirectory("graft-ndix9").toString
    val lake = new Lakehouse(spark, root)
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val tables = Seq("nds9_nd_posts", Dedup.bandsTable("nds9"))
    // range coalescing off, so the clustered base keeps one file per
    // shuffle partition and the bounds check below has files to tell apart
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(coalesce, "false")
    try {
      lake.createOrReplace(docs.where(col("doc_id") % 3 === 0), "nds9")
      Dedup.indexCreate(lake, "nds9")
    } finally spark.conf.set(coalesce, "true")
    val maxFiles = spark.sessionState.conf.numShufflePartitions
    for (r <- 1 to 2) {
      val before = tables.map(t => t -> liveDirs(lake, t)).toMap
      lake.append(docs.where(col("doc_id") % 3 === r), "nds9")
      Dedup.indexRefresh(lake, "nds9").collect()
      for (t <- tables) {
        val added = liveDirs(lake, t) -- before(t)
        assert(added.size === 1, s"$t: one new data dir per refresh")
        assert(lake.snapshots(t).last._2.toSet === before(t) + added.head,
          s"$t: the old segments are carried, none rewritten")
        val files = filesUnder(lake, t, added.head)
        assert(!files.exists(_.isDirectory), s"$t: no partition subdirs")
        val parquet = files.filter(_.getName.endsWith(".parquet"))
        assert(parquet.nonEmpty && parquet.size <= maxFiles)
      }
    }
    // the create-time posts base is range-clustered on doc_id: disjoint
    // file bounds, so a one-id lookup opens exactly one base file
    val posts = "nds9_nd_posts"
    val base = lake.snapshots(posts).head._2.head
    val bounds = filesUnder(lake, posts, base).filter(_.getName.endsWith(".parquet"))
      .map { f =>
        val r = spark.read.parquet(f.getPath).agg(min("doc_id"), max("doc_id")).head()
        (r.getLong(0), r.getLong(1))
      }.sortBy(_._1)
    assert(bounds.size > 1, "the base should span several files")
    bounds.sliding(2).foreach { case Seq(a, b) => assert(a._2 < b._1) }
    import spark.implicits._
    val probe = lake.readJoinPruned(posts, "doc_id", Seq(bounds.last._1).toDF("id"), "id")
    assert(probe.inputFiles.count(_.contains(s"/$base/")) === 1)
    assert(probe.count() === 1)
  }

  test("a delta over the key cap refreshes through the unpruned read, exactly") {
    val root = java.nio.file.Files.createTempDirectory("graft-ndix10").toString
    val lake = new Lakehouse(spark, root)
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    lake.createOrReplace(docs.where(col("doc_id") % 5 === 0), "ndo")
    Dedup.indexCreate(lake, "ndo")
    lake.append(docs.where(col("doc_id") % 5 =!= 0), "ndo")
    val got = Dedup.indexRefresh(lake, "ndo")
    val want = Dedup.dedupMinhashLsh(spark, sf)
      .where(col("doc_a") % 5 =!= 0 || col("doc_b") % 5 =!= 0)
    assert(rows(got) === rows(want))
    // the delta's band keys exceed the 1,024-key prune cap
    assert(lake.read(Dedup.bandsTable("ndo")).where(col("doc_id") % 5 =!= 0)
      .select("bkey").distinct().count() > 1024)
  }

  test("an index whose base has the old bucket(32) layout refreshes like a fresh one") {
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .where(col("doc_id") < 400)
    val base = docs.where(col("doc_id") % 3 === 0)
    val fresh = new Lakehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-ndix11").toString)
    fresh.createOrReplace(base, "ndl")
    Dedup.indexCreate(fresh, "ndl")
    // the old lake: same corpus, index tables written bucket-partitioned
    // under the source snapshot's batch id, as earlier index builds did
    val old = new Lakehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-ndix11b").toString)
    old.createOrReplace(base, "ndl")
    val s0 = old.currentSnapshot("ndl").get
    old.replaceOnce(fresh.read("ndl_nd_posts"), "ndl_nd_posts", batchId = s0,
      partitionBy = Seq("bucket(32,doc_id)"))
    old.replaceOnce(fresh.read(Dedup.bandsTable("ndl")), Dedup.bandsTable("ndl"),
      batchId = s0, partitionBy = Seq("bucket(32,bkey)"))
    old.replaceOnce(fresh.read(Dedup.pairsTable("ndl")), Dedup.pairsTable("ndl"),
      batchId = s0)
    val oldBase = liveDirs(old, Dedup.bandsTable("ndl")).head
    assert(old.dirLayout(Dedup.bandsTable("ndl"), oldBase).nonEmpty)
    // first batch: the refresh readouts agree
    for (l <- Seq(fresh, old)) l.append(docs.where(col("doc_id") % 3 === 1), "ndl")
    val got = Dedup.indexRefresh(old, "ndl")
    assert(rows(got) === rows(Dedup.indexRefresh(fresh, "ndl")))
    assert(got.count() > 0)
    // second batch through the maintained ledger: pairs and admission agree
    for (l <- Seq(fresh, old)) {
      l.append(docs.where(col("doc_id") % 3 === 2), "ndl")
      Dedup.indexMaintainStep(l, "ndl")
    }
    assert(rows(old.read(Dedup.pairsTable("ndl"))) ===
      rows(fresh.read(Dedup.pairsTable("ndl"))))
    assert(rows(Dedup.indexAdmission(old, "ndl")) ===
      rows(Dedup.indexAdmission(fresh, "ndl")))
  }

  test("rewritten source interval rebuilds idempotently instead of crashing") {
    val root = java.nio.file.Files.createTempDirectory("graft-ndix4").toString
    val lake = new Lakehouse(spark, root)
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .where(col("doc_id") < 150)
    lake.createOrReplace(docs.where(col("doc_id") % 2 === 0), "ndw")
    Dedup.indexCreate(lake, "ndw")
    // a REWRITE (not an append): the changes interval no longer exists
    lake.createOrReplace(docs, "ndw")
    assert(Dedup.indexRefresh(lake, "ndw").count() === 0)
    // index now serves the rewritten corpus: a fresh build agrees
    val root2 = java.nio.file.Files.createTempDirectory("graft-ndix4b").toString
    val lake2 = new Lakehouse(spark, root2)
    lake2.createOrReplace(docs, "ndw")
    Dedup.indexCreate(lake2, "ndw")
    assert(rows(lake.read("ndw_nd_bands")) === rows(lake2.read("ndw_nd_bands")))
  }

  test("pairs-ahead crash window: the next step finishes the advancement exactly-once") {
    val root = java.nio.file.Files.createTempDirectory("graft-ndix5").toString
    val lake = new Lakehouse(spark, root)
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .where(col("doc_id") < 400)
    val base = docs.where(col("doc_id") % 3 === 1)
    val d1 = docs.where(col("doc_id") % 3 === 2)
    val d2 = docs.where(col("doc_id") % 3 === 0)

    // honest twin: create -> step(d1) -> step(d2)
    lake.createOrReplace(base, "ndh"); Dedup.indexCreate(lake, "ndh")
    val boot = lake.read(Dedup.pairsTable("ndh")).localCheckpoint(true)
    lake.append(d1, "ndh"); Dedup.indexMaintainStep(lake, "ndh")
    val d1Pairs = lake.read(Dedup.pairsTable("ndh")).exceptAll(boot)
      .localCheckpoint(true)
    lake.append(d2, "ndh"); Dedup.indexMaintainStep(lake, "ndh")

    // crash twin: identical commits, but batch d1's step "dies" right
    // after the pairs ledger lands — the ONLY window the pairs-first
    // commit order leaves (ledger ahead, index watermark behind)
    lake.createOrReplace(base, "ndz"); Dedup.indexCreate(lake, "ndz")
    lake.append(d1, "ndz")
    val cur1 = lake.currentSnapshot("ndz").get
    lake.appendOnce(d1Pairs, Dedup.pairsTable("ndz"), batchId = cur1)
    // the next step recovers: index advances, nothing re-ledgered
    val (s1, n1) = Dedup.indexMaintainStep(lake, "ndz")
    assert(s1 === cur1 && n1 === 0L)
    // and the recovered index serves batch d2 exactly like the honest twin
    lake.append(d2, "ndz"); Dedup.indexMaintainStep(lake, "ndz")
    assert(rows(lake.read(Dedup.pairsTable("ndz"))) ===
      rows(lake.read(Dedup.pairsTable("ndh"))))
    assert(rows(lake.read(Dedup.bandsTable("ndz"))) ===
      rows(lake.read(Dedup.bandsTable("ndh"))))
    assert(rows(Dedup.indexAdmission(lake, "ndz")) ===
      rows(Dedup.indexAdmission(lake, "ndh")))
  }
}
