package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.prop.TableDrivenPropertyChecks

import graft.functions.{HashFunctions, HashImpl, VectorFunctions}
import graft.operators.TextAnalysis

/** Property-based checks: the native Catalyst expressions must agree
  * with straightforward reference implementations on randomized
  * inputs — the codegen'd hot paths are only fast versions of simple
  * definitions, and these properties pin that equivalence. */
class PropertySpec extends SparkSpec with TableDrivenPropertyChecks {
  import spark.implicits._

  private val seed = org.scalacheck.rng.Seed(42L)

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.iterate((g.pureApply(Gen.Parameters.default, seed), seed.next)) {
      case (_, s) => (g.pureApply(Gen.Parameters.default, s), s.next)
    }.map(_._1).take(n).toSeq

  test("BoundedHist.cumSum equals the naive unpartitioned window on random histograms") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7L)
    (0 until 6).foreach { trial =>
      val desc = trial % 2 == 0
      val parts = if (trial < 2) Nil else Seq("g")
      val nGroups = if (parts.isEmpty) 1 else 3
      // keys include negatives and shard-boundary neighbors; one row
      // per (group, key) — the histogram contract
      val rows = (0 until nGroups).flatMap { g =>
        rnd.shuffle((-40000 to 40000 by 997).toList).take(150).map { k =>
          (s"g$g", k.toLong, rnd.nextInt(1000).toLong + 1)
        }
      }
      val hist = rows.toDF("g", "k", "v")
      val got = graft.operators.BoundedHist
        .cumSum(hist, parts, "k", "v", "cum", descending = desc, shardWidth = 1000L)
        .select((parts :+ "k" :+ "cum").map(col): _*)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val ord = if (desc) col("k").desc else col("k").asc
      val w = (if (parts.isEmpty) Window.orderBy(ord)
        else Window.partitionBy(parts.map(col): _*).orderBy(ord))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = hist.withColumn("cum", sum(col("v")).over(w))
        .select((parts :+ "k" :+ "cum").map(col): _*)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      assert(got == want, s"trial $trial (desc=$desc, parts=$parts)")
    }
  }

  test("BoundedHist.cumSum shards exactly beyond 2^53 where doubles round") {
    import org.apache.spark.sql.expressions.Window
    // keys hug shard-boundary multiples near ±2^62: double division
    // rounds the dividend by up to 2^10 there, enough to misplace a
    // boundary-1 key into the next shard and corrupt the prefix order
    val w = 1000L
    val rnd = new scala.util.Random(11L)
    val bases = Seq(1L << 62, -(1L << 62), (1L << 62) - (1L << 40))
    val keys = bases.flatMap { b =>
      val m = b / w
      (0 until 60).flatMap { i =>
        val edge = (m + i * 7) * w
        Seq(edge, edge - 1, edge + 1, edge + w / 2)
      }
    }.distinct
    val hist = keys.map(k => (k, rnd.nextInt(1000).toLong + 1)).toDF("k", "v")
    Seq(true, false).foreach { desc =>
      val got = graft.operators.BoundedHist
        .cumSum(hist, Nil, "k", "v", "cum", descending = desc, shardWidth = w)
        .select(col("k"), col("cum"))
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      val ord = if (desc) col("k").desc else col("k").asc
      val win = Window.orderBy(ord)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val want = hist.withColumn("cum", sum(col("v")).over(win))
        .select(col("k"), col("cum"))
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
      assert(got == want, s"desc=$desc")
    }
  }

  test("ArrayDotLong equals the naive zip-multiply-sum on random vectors") {
    val vecs = sample(for {
      n <- Gen.choose(0, 80)
      a <- Gen.listOfN(n, Gen.choose(-1000000L, 1000000L))
      b <- Gen.listOfN(n, Gen.choose(-1000000L, 1000000L))
    } yield (a, b), 60)
    val df = vecs.toDF("a", "b")
      .select(col("a"), col("b"), VectorFunctions.dotQ(col("a"), col("b")).as("got"))
    df.collect().foreach { r =>
      val want = r.getSeq[Long](0).zip(r.getSeq[Long](1)).map { case (x, y) => x * y }.sum
      assert(r.getLong(2) === want)
    }
  }

  test("Shingles equals the naive sliding-window-distinct on random token lists") {
    val tokss = sample(for {
      n <- Gen.choose(0, 30)
      t <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "ab", "x9"))
    } yield t, 60)
    val df = tokss.toDF("toks")
      .select(col("toks"), TextAnalysis.shingles(col("toks")).as("got"))
    df.collect().foreach { r =>
      val toks = r.getSeq[String](0)
      val want =
        if (toks.length < 3) Seq.empty
        else toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
      assert(r.getSeq[String](1) === want, s"toks=$toks")
    }
  }

  test("Md5Lower64 kernel equals MessageDigest-based reference on random strings") {
    val strs = sample(Gen.asciiPrintableStr.map(_.take(64)), 80)
    strs.foreach { s =>
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      var want = 0L
      var i = 15
      while (i >= 8) { want = (want << 8) | (d(i) & 0xffL); i -= 1 }
      assert(HashImpl.md5Lower64(s.getBytes("UTF-8")) === want, s"input=$s")
    }
  }

  test("affine mix family stays inside [0, p) and distinct seeds disagree somewhere") {
    val hs = sample(Gen.choose(0L, (1L << 62) - 1), 40).map(_ % HashFunctions.MixP)
    val df = hs.toDF("hp").select(
      col("hp") +: (0 until 16).map(i => HashFunctions.affineMix(col("hp"), i).as(s"g$i")): _*)
    val rows = df.collect()
    rows.foreach { r =>
      (1 to 16).foreach { i =>
        val g = r.getLong(i)
        assert(g >= 0 && g < HashFunctions.MixP)
      }
    }
    // the 16 mixes are not all identical functions
    val firstRowMixes = rows.head.toSeq.drop(1).distinct
    assert(firstRowMixes.length > 8)
  }

  test("ArraySortedIntersectCount equals set intersection on random sorted distinct arrays") {
    val pairs = sample(for {
      n <- Gen.choose(0, 60)
      m <- Gen.choose(0, 60)
      a <- Gen.listOfN(n, Gen.choose(0L, 80L))
      b <- Gen.listOfN(m, Gen.choose(0L, 80L))
    } yield (a.distinct.sorted, b.distinct.sorted), 60)
    val df = pairs.toDF("a", "b")
      .select(col("a"), col("b"), HashFunctions.sortedIntersectCount(col("a"), col("b")).as("got"))
    df.collect().foreach { r =>
      val want = r.getSeq[Long](0).toSet.intersect(r.getSeq[Long](1).toSet).size.toLong
      assert(r.getLong(2) === want)
    }
  }

  test("TopKByScore equals sort-and-take per group on random scored rows (incl. merge path)") {
    val rows = sample(for {
      q <- Gen.choose(0L, 6L)
      c <- Gen.choose(-1000, 1000).map(_ / 997.0)
    } yield (q, c), 400).zipWithIndex
      .map { case ((q, c), i) => (q, i.toLong, c) }
    val k = 5
    // many input partitions force partial heaps + serialize/merge
    val scored = rows.toDF("q_id", "vec_id", "cosine").repartition(13)
    val got = graft.operators.Similarity.topkPerQuery(scored, k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong, r.getDouble(3)))
    val want = rows.groupBy(_._1).toSeq.flatMap { case (q, rs) =>
      rs.map { case (_, id, c) => (c, id) }
        .sorted(Ordering.by[(Double, Long), (Double, Long)] { case (c, id) => (-c, id) })
        .take(k).zipWithIndex
        .map { case ((c, id), i) => (q, id, (i + 1).toLong, c) }
    }.sortBy(t => (t._1, t._3))
    assert(got.toSeq === want)
  }

  test("conditional MERGE equals a straightforward first-applicable-clause model") {
    // randomized target/source tables + clause lists, executed through
    // sqlMergeClauses (cond Columns -> the copy-on-write cores) and
    // compared against a direct Scala evaluation of SQL MERGE
    // semantics. The conds cover target-only, source-only, and
    // cross-side predicates.
    type R = (Long, Long, String)
    // cond pool: index -> (Column over mtp/mtp_src, Scala semantics)
    val conds: Seq[(Option[org.apache.spark.sql.Column], (R, R) => Boolean)] = Seq(
      (None, (_, _) => true),
      (Some(col("mtp.x") > 5), (t, _) => t._2 > 5),
      (Some(col("mtp_src.x") % 2 === 0), (_, s) => s._2 % 2 == 0),
      (Some(col("mtp.x") < col("mtp_src.x")), (t, s) => t._2 < s._2))
    val insertConds: Seq[(Option[org.apache.spark.sql.Column], R => Boolean)] = Seq(
      (None, _ => true),
      (Some(col("mtp_src.x") > 3), s => s._2 > 3))
    val cases = sample(for {
      tn <- Gen.choose(0, 8)
      tKeys <- Gen.pick(tn, 0L until 12L)
      tRows <- Gen.sequence[Seq[R], R](tKeys.map(k => for {
        x <- Gen.choose(0L, 10L); v <- Gen.oneOf("p", "q", "r")
      } yield (k, x, v)))
      sn <- Gen.choose(0, 8)
      sKeys <- Gen.pick(sn, 0L until 12L)
      sRows <- Gen.sequence[Seq[R], R](sKeys.map(k => for {
        x <- Gen.choose(0L, 10L); v <- Gen.oneOf("P", "Q", "R")
      } yield (k, x, v)))
      nm <- Gen.choose(0, 2)
      matched <- Gen.listOfN(nm, for {
        c <- Gen.choose(0, conds.length - 1); d <- Gen.oneOf(true, false)
      } yield (c, d))
      ins <- Gen.option(Gen.choose(0, insertConds.length - 1))
    } yield (tRows, sRows, matched, ins), 12)
    val root = java.nio.file.Files.createTempDirectory("graft-merge-prop").toString
    val lake = new graft.sources.Lakehouse(spark, root)
    cases.zipWithIndex.foreach { case ((tRows, sRows, matched, ins), i) =>
      val tTyped: Seq[(Long, Long, String)] = tRows.toSeq
      val sTyped: Seq[(Long, Long, String)] = sRows.toSeq
      lake.createOrReplace(tTyped.toDF("k", "x", "v"), "mtp")
      sTyped.toDF("k", "x", "v").createOrReplaceTempView("mtp_src")
      lake.sqlMergeClauses("mtp", "mtp_src", Seq("k"),
        matched.map { case (c, d) => graft.sources.MergeMatched(conds(c)._1, d) },
        ins.map(i => graft.sources.MergeInsert(insertConds(i)._1)))
      val got = lake.read("mtp").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      // the model: per matched target row, first clause whose cond
      // holds applies; unmatched source rows insert iff the clause
      // exists and its cond holds
      val srcByK = sRows.map(r => r._1 -> r).toMap
      val kept = tRows.flatMap { t =>
        srcByK.get(t._1) match {
          case None => Some(t)
          case Some(s) =>
            matched.find { case (c, _) => conds(c)._2(t, s) } match {
              case None => Some(t)
              case Some((_, isDelete)) => if (isDelete) None else Some(s)
            }
        }
      }
      val tKeys = tRows.map(_._1).toSet
      val inserted = sRows.filterNot(s => tKeys.contains(s._1))
        .filter(s => ins.exists(ic => insertConds(ic)._2(s)))
      val want = (kept ++ inserted).toSet
      assert(got === want,
        s"case $i: target=$tRows source=$sRows matched=${
          matched.map { case (c, d) => (conds(c)._1, if (d) "DELETE" else "UPDATE") }
        } insert=${ins.map(insertConds(_)._1)}")
    }
  }

  test("DSv2 aggregate pushdown equals the full scan on randomized predicates") {
    import graft.operators.Medallion.metaOnlyPlan
    import graft.sources.Lakehouse
    import graft.sources.spj.GraftSpjCatalog
    val root = java.nio.file.Files.createTempDirectory("graft-maprop").toString
    val lake = new Lakehouse(spark, root)
    // three appends, overlapping k ranges, nulls in x, a string col; the
    // flat table `pt` and its identity-partitioned twin `pp` (on p)
    def mk(lo: Int, hi: Int) = (lo until hi).map { i =>
      (i.toLong, if (i % 7 == 0) None else Some(i * 0.5), s"s${i % 13}", (i % 5).toLong)
    }.toDF("k", "x", "s", "p")
    Seq("pt" -> Nil, "pp" -> Seq("p")).foreach { case (t, part) =>
      lake.declareSumColumns(t, Seq("k"))
      lake.createOrReplace(mk(0, 120).repartition(2), t, partitionBy = part)
      lake.append(mk(80, 200).repartition(1), t, partitionBy = part)
      lake.append(mk(150, 260).repartition(2), t, partitionBy = part)
      lake.registerView(t, part)
      // the ordinary per-dir scan, as a plain temp view
      lake.read(t).createOrReplaceTempView(s"${t}_scan")
    }
    spark.conf.set("spark.sql.catalog.propcat", classOf[GraftSpjCatalog].getName)
    spark.conf.set("spark.sql.catalog.propcat.root", root)

    val ledgerAggs = "count(*) AS n, min(k) AS klo, max(k) AS khi, sum(k) AS sk, " +
      "avg(k) AS ak, min(x) AS xlo, max(s) AS shi"
    val distinctAggs = "count(DISTINCT p) AS dp, count(DISTINCT s) AS ds"
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    /** Runs `sql` (`%T` = table) on the registered name and through the
      * catalog, asserts both equal the scan, and returns the verdicts. */
    def check(t: String, sql: String): Seq[Double] = {
      val want = rows(spark.sql(sql.replace("%T", s"${t}_scan")))
      Seq(t, s"propcat.$t").map { name =>
        val q = spark.sql(sql.replace("%T", name))
        assert(rows(q) === want, s"$name: $sql")
        metaOnlyPlan(q)
      }
    }

    val bounds = sample(Gen.chooseNum(-10L, 270L), 24)
    val pairs = bounds.grouped(2).toSeq.map { case Seq(a, b) => (a, b) }
    // flat predicates: pruned by file stats, the residual scans
    val flatPreds = pairs.flatMap { case (a, b) =>
      Seq(
        s"k >= ${math.min(a, b)} AND k < ${math.max(a, b)}",
        s"x > ${a * 0.5}",
        s"k = $a",
        s"s IN ('s${math.floorMod(a, 13)}', 's${math.floorMod(b, 13)}')",
        s"k <= $b AND s > 's3'")
    }
    // partition predicates the scan CLAIMS (identity equality, IN and
    // integral ranges): the aggregate folds over the kept dirs only
    val claimedPreds = pairs.flatMap { case (a, b) =>
      val (lo, hi) = (math.floorMod(a, 7) - 1, math.floorMod(b, 7) - 1)
      Seq(
        s"p = ${math.floorMod(a, 5)}",
        s"p IN (${math.floorMod(a, 5)}, ${math.floorMod(b, 5)})",
        s"p >= ${math.min(lo, hi)} AND p < ${math.max(lo, hi)}")
    }
    val mixedPreds = pairs.map { case (a, b) => s"p = ${math.floorMod(a, 5)} AND k < $b" }

    // unpredicated: every ledger leg answers from metadata
    Seq("pt", "pp").foreach { t =>
      assert(check(t, s"SELECT $ledgerAggs FROM %T").forall(_ == 1.0), s"$t unpredicated")
    }
    // s varies inside every file: its DISTINCT count is the scan's
    assert(check("pp", s"SELECT $distinctAggs FROM %T").forall(_ == 0.0))
    assert(check("pp", "SELECT count(DISTINCT p) AS dp FROM %T").forall(_ == 1.0))
    flatPreds.foreach { p =>
      Seq("pt", "pp").foreach { t =>
        check(t, s"SELECT $ledgerAggs FROM %T WHERE $p")
        check(t, s"SELECT $distinctAggs FROM %T WHERE $p")
      }
    }
    claimedPreds.foreach { p =>
      assert(check("pp", s"SELECT $ledgerAggs, count(DISTINCT p) AS dp FROM %T WHERE $p")
        .forall(_ == 1.0), s"claimed: $p")
      check("pp", s"SELECT $distinctAggs FROM %T WHERE $p")
      val grouped = s"SELECT p, count(*) AS n, sum(k) AS sk, max(x) AS xhi FROM %T " +
        s"WHERE $p GROUP BY p"
      val verdicts = check("pp", grouped)
      if (spark.sql(grouped.replace("%T", "pp_scan")).head(1).nonEmpty)
        assert(verdicts.forall(_ == 1.0), s"claimed grouped: $p")
    }
    mixedPreds.foreach { p =>
      assert(check("pp", s"SELECT $ledgerAggs FROM %T WHERE $p").forall(_ == 0.0),
        s"a residual conjunct must scan: $p")
    }
  }
}
