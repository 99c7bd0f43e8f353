package graft

import org.apache.spark.sql.functions._
import graft.sources.Lakehouse

/** The write-pass sums fusion ([[graft.sources.WriteSumsFusion]]) must
  * produce a `_sums.jsonl` BIT-IDENTICAL to the second-pass scan it
  * replaces — same per-file keys, same exact decimal values, same
  * null-for-all-NULL convention — and must actually FIRE on the
  * declared-sums write shapes (a silent 100% fallback would be an
  * invisible performance regression). Fallback safety rides the same
  * machinery: a non-renderable partition type skips the observation
  * and the scan pass still writes the ledger. */
class WriteSumsFusionSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-sumsfusion").toString

  private def ledger(root: String, table: String): Seq[String] = {
    val dirs = new java.io.File(s"$root/$table").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("data-"))
    dirs.flatMap { d =>
      val f = new java.io.File(d, "_sums.jsonl")
      if (f.exists) scala.io.Source.fromFile(f).getLines().toSeq.map(d.getName + ":" + _)
      else Seq.empty
    }.toSeq.sorted
  }

  /** `sum` of each column through the table's SQL relation, which
    * must answer from the sums ledger (no file scan) and equal the
    * ordinary scan. */
  private def metaSum(lake: Lakehouse, table: String, cols: String*): Seq[Any] = {
    val sums = cols.map(c => sum(col(c)))
    val q = lake.sqlRelation(table, "main").agg(sums.head, sums.tail: _*)
    assert(graft.operators.Medallion.metaOnlyPlan(q) === 1.0,
      "metadata sum must answer:\n" + q.queryExecution.executedPlan)
    val r = q.head()
    assert(r === lake.read(table).agg(sums.head, sums.tail: _*).head())
    cols.indices.map(r.get)
  }

  test("fused ledger is bit-identical to the scan ledger (partitioned, nulls, all-null)") {
    import spark.implicits._
    val rows = (0 until 500).map { i =>
      (i.toLong,
        if (i % 10 == 0) "A" else if (i % 3 == 0) "B" else "C",
        if (i % 7 == 0) null else java.math.BigDecimal.valueOf(i * 13L, 2),
        null: java.lang.Long) // all-null declared sum column
    }
    val df = rows.toDF("k", "grp", "price", "dead")
      .withColumn("price", col("price").cast("decimal(12,2)"))

    // fused write
    val rootF = freshRoot()
    val lakeF = new Lakehouse(spark, rootF)
    lakeF.declareSumColumns("t", Seq("k", "price", "dead"))
    val fusedBefore = Lakehouse.fusedSumsLedgers.get()
    lakeF.createOrReplace(df, "t", partitionBy = Seq("grp"))
    lakeF.append(df.where(col("k") % 2 === 0), "t", partitionBy = Seq("grp"))
    assert(Lakehouse.fusedSumsLedgers.get() - fusedBefore === 2,
      "both declared-sums writes must take the fused path")

    // scan-pass write of the SAME data: computeSums backfills dirs
    // that lack a ledger, which is exactly the old second-pass code
    val rootS = freshRoot()
    val lakeS = new Lakehouse(spark, rootS)
    lakeS.createOrReplace(df, "t", partitionBy = Seq("grp"))
    lakeS.append(df.where(col("k") % 2 === 0), "t", partitionBy = Seq("grp"))
    lakeS.computeSums("t", Seq("k", "price", "dead"))

    // ledgers compare modulo the file-name UUID: normalize part names
    def norm(ls: Seq[String]) =
      ls.map(_.replaceAll("part-(\\d+)-[^.]*\\.", "part-$1."))
    assert(norm(ledger(rootF, "t")) === norm(ledger(rootS, "t")),
      "fused and scanned ledgers must be bit-identical modulo file uuid")
    assert(metaSum(lakeF, "t", "k", "price", "dead") ===
      metaSum(lakeS, "t", "k", "price", "dead"))
  }

  test("unpartitioned and bucket-transform writes fuse; metadata sums stay exact") {
    import spark.implicits._
    val df = (0 until 300).map(i => (i.toLong, (i % 5).toString, i * 3L))
      .toDF("k", "tag", "v")
    val root = freshRoot()
    val lake = new Lakehouse(spark, root)
    lake.declareSumColumns("u", Seq("v"))
    val fusedBefore = Lakehouse.fusedSumsLedgers.get()
    lake.createOrReplace(df, "u") // unpartitioned
    lake.append(df, "u", partitionBy = Seq("bucket(4,k)")) // hidden transform
    assert(Lakehouse.fusedSumsLedgers.get() - fusedBefore === 2)
    assert(metaSum(lake, "u", "v") === Seq(2L * (0 until 300).map(_ * 3L).sum))
  }

  test("non-renderable partition type falls back to the scan pass, ledger still lands") {
    import spark.implicits._
    val df = (0 until 50).map(i =>
      (i.toLong, new java.sql.Timestamp(1700000000000L + i * 1000L), i * 2L))
      .toDF("k", "ts", "v")
    val root = freshRoot()
    val lake = new Lakehouse(spark, root)
    lake.declareSumColumns("w", Seq("v"))
    val fusedBefore = Lakehouse.fusedSumsLedgers.get()
    val scanBefore = Lakehouse.scannedSumsLedgers.get()
    lake.createOrReplace(df, "w", partitionBy = Seq("ts")) // identity TIMESTAMP partition
    assert(Lakehouse.fusedSumsLedgers.get() === fusedBefore, "must not fuse")
    assert(Lakehouse.scannedSumsLedgers.get() - scanBefore === 1, "scan pass must record")
    // identity-TIMESTAMP dirs are not served by the DSv2 scan, so the
    // SQL sum scans; the ledger the scan pass wrote holds the exact total
    val want = (0 until 50).map(_ * 2L).sum
    val q = lake.sqlRelation("w", "main").agg(sum(col("v")))
    assert(graft.operators.Medallion.metaOnlyPlan(q) === 0.0)
    assert(q.head().getLong(0) === want)
    val recorded = ledger(root, "w").flatMap(l =>
      """"v":"(-?\d+)"""".r.findFirstMatchIn(l).map(_.group(1).toLong))
    assert(recorded.nonEmpty && recorded.sum === want)
  }
}
