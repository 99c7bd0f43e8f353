package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.catalyst.parser.{ParseException, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkSqlParser
import org.apache.spark.sql.functions._

import graft.sources.{GraftSqlParser, Lakehouse}
import graft.sources.spj.GraftSpjCatalog

/** Parser-equivalence fuzzing for [[graft.sources.GraftSqlParser]].
  * Registered-name DML and column DDL are parsed by Spark's grammar and
  * mapped from the parsed plan; the remaining regex statements match
  * comment-stripped text. Neither may silently mis-route a statement
  * Spark would have handled. Four contracts, each over generated
  * adversarial statements (>1000 total):
  *
  *  1. DELEGATION IS EXACT — statements outside the intercept surface
  *     (including ones carrying registered view names, DML keywords,
  *     `WHEN MATCHED`, and intercept-shaped text inside string
  *     literals and comments) parse to a plan `==` the delegate's. No
  *     SELECT over a registered name parses to a `graft.*` command.
  *  2. ONE READ ENGINE — aggregate and near-miss SELECT shapes execute
  *     to the same rows and column names through the registered name
  *     (pinned to its DSv2 relation, whose pushed aggregates answer
  *     from the ledgers), through the same table in the DSv2 catalog,
  *     and against an UNREGISTERED twin of the same data (plain Spark).
  *  3. EVERY MUTATION OF AN INTERCEPT PLANS TO A `graft.*` COMMAND —
  *     Spark's grammar parses each one, so none may fall through to
  *     the delegate or fail to parse.
  *  4. REFUSALS ARE LOUD — the documented unsupported corners
  *     (subqueries in row-local predicates) throw
  *     `UnsupportedOperationException`, never parse to a command that
  *     would quietly do the wrong thing.
  */
class SqlParserFuzzSpec extends SparkSpec {

  private lazy val delegate: ParserInterface = new SparkSqlParser()
  private lazy val graftParser: ParserInterface = new GraftSqlParser(delegate)

  // deterministic corpus: same statements every run
  private val rnd = new scala.util.Random(0x5eedL)

  private def mixCase(s: String): String =
    s.map(c => if (c.isLetter && rnd.nextBoolean()) c.toUpper else if (c.isLetter) c.toLower else c)

  /** Random keyword-preserving mutation: case-flip keywords, stretch
    * whitespace, append `;`, and drop trap text into comments. */
  private def mutate(sql: String): String = {
    var s = sql
    if (rnd.nextInt(3) == 0)
      s = s.split(' ').map(w => if (rnd.nextBoolean()) mixCase(w) else w).mkString(" ")
    if (rnd.nextInt(3) == 0) s = s.replace(" ", "  ")
    if (rnd.nextInt(4) == 0) s = s + " ;"
    if (rnd.nextInt(4) == 0) s = s + "\n-- DELETE FROM fz WHERE 1=1"
    s
  }

  private sealed trait Outcome
  private case class Planned(p: LogicalPlan) extends Outcome
  private case class Errored(cls: Class[_]) extends Outcome
  private def outcome(p: ParserInterface, sql: String): Outcome =
    Try(p.parsePlan(sql)) match {
      case Success(plan) => Planned(plan)
      case Failure(e) => Errored(e.getClass)
    }

  private lazy val setupRoot: String = {
    val root = java.nio.file.Files.createTempDirectory("graft-sqlfuzz").toString
    val lake = new Lakehouse(spark, root)
    import spark.implicits._
    val df = (0L until 120L).map { i =>
      (i, s"name_$i WHERE x", Seq("red", "green", "blue")(i.toInt % 3), i * 7 % 100)
    }.toDF("k", "s", "p", "m")
    // registered, identity-partitioned (grouped pushdown on p), two commits
    lake.createOrReplace(df.where(col("k") < 70), "fz", Seq("p"))
    lake.append(df.where(col("k") >= 70), "fz", Seq("p"))
    lake.registerView("fz", Seq("p"))
    // the same table through the DSv2 catalog
    spark.conf.set("spark.sql.catalog.fzcat", classOf[GraftSpjCatalog].getName)
    spark.conf.set("spark.sql.catalog.fzcat.root", root)
    // the unregistered twin: same rows, plain Spark
    df.createOrReplaceTempView("fz_twin")
    root
  }

  // aggregate SELECTs the ledger pushdown may answer, and near-misses
  // that must scan; `%T` is the table reference (`mutate` may lower it)
  private val selectShapes = Seq(
    "SELECT count(*) FROM %T",
    "SELECT count(*) AS n FROM %T",
    "SELECT COUNT( * ) AS n FROM %T WHERE k >= 17",
    "SELECT min(k) AS lo, max(k) AS hi FROM %T",
    "SELECT min(k) AS lo, max(k) AS hi, count(*) AS n FROM %T WHERE m < 50",
    "SELECT sum(k) AS sk FROM %T",
    "SELECT sum(m) AS sm, count(*) AS n FROM %T WHERE p = 'red'",
    "SELECT min(s) AS lo FROM %T WHERE s LIKE 'name_1%%'",
    "SELECT p, count(*) AS n FROM %T GROUP BY p",
    "SELECT p, count(*) AS n, sum(m) AS sm FROM %T GROUP BY p ORDER BY p",
    "SELECT p, min(k) AS lo, max(k) AS hi FROM %T WHERE k > 3 GROUP BY p",
    "SELECT p, sum(k) AS sk FROM %T GROUP BY p ORDER BY sk DESC",
    "SELECT count(*) + 1 AS n FROM %T",
    "SELECT count(*) AS `a,b` FROM %T",
    "SELECT min(k + 1) AS lo FROM %T",
    "SELECT p, avg(m) AS am FROM %T GROUP BY p",
    "SELECT upper(p) AS p2, count(*) AS n FROM %T GROUP BY upper(p)",
    "SELECT count(*) AS n FROM %T WHERE s = 'DELETE FROM fz'",
    "SELECT count(*) AS n FROM %T WHERE s LIKE '%%WHERE%%'",
    "SELECT min(k) AS lo FROM %T WHERE p IN ('red', 'blue')")

  test("delegation is exact on >600 adversarial non-intercept statements") {
    setupRoot
    val traps = Seq(
      "DELETE FROM fz WHERE k = 1",
      "MERGE INTO fz USING fz_twin ON a = b WHEN MATCHED THEN UPDATE SET *",
      "WHEN MATCHED THEN UPDATE SET *",
      "INSERT INTO fz VALUES (1)",
      "CALL rewrite_data_files(table => 'fz')",
      "CREATE MATERIALIZED VIEW mv AS SELECT count(*) AS n FROM fz GROUP BY p",
      "ALTER TABLE fz ADD COLUMNS (z INT)",
      "VACUUM fz RETAIN 1 SNAPSHOTS",
      // travel/meta-table syntax on a REGISTERED name: trapped in a
      // literal or comment it must reach the delegate byte-exact, not
      // become a lakehouse relation
      "fz VERSION AS OF 3",
      "fz.history",
      "fz.snapshots",
      "fz TIMESTAMP AS OF '2020-01-01 00:00:00'")
    val templates: Seq[String] = Seq(
      // registered name + DML text trapped in string literals
      traps.map(t => s"SELECT '$t' AS s1 FROM fz_twin"),
      traps.map(t => s"SELECT k, '$t' AS s1 FROM fz_twin WHERE k < 5"),
      // trapped in comments
      traps.map(t => s"SELECT k FROM fz_twin /* $t */ WHERE k < 9"),
      traps.map(t => s"-- $t\nSELECT k FROM fz_twin"),
      // quoted alias containing a comma and keywords
      Seq("SELECT k AS `a,b`, s AS `WHEN MATCHED` FROM fz_twin",
        "SELECT max(k) AS `x, WHERE y` FROM fz_twin",
        "SELECT 1 AS `DELETE FROM fz`"),
      // DML on UNregistered names must delegate to Spark's own commands
      Seq("DELETE FROM not_reg WHERE k = 1",
        "UPDATE not_reg SET s = 'a' WHERE k = 2",
        "INSERT INTO not_reg VALUES (1, 'x')",
        "MERGE INTO not_reg USING src ON not_reg.k = src.k " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        "DROP TABLE not_reg",
        "ALTER TABLE not_reg ADD COLUMNS (z INT)"),
      // the r16 statement kinds on NON-lake names must delegate: a
      // native CREATE VIEW whose body merely MENTIONS a registered
      // lake table as a column/alias is Spark's, not ours
      Seq("CREATE VIEW nv AS SELECT k FROM not_reg",
        "CREATE OR REPLACE VIEW nv AS SELECT fz FROM not_reg",
        "CREATE VIEW nv AS SELECT k AS fz_twin FROM not_reg",
        "CREATE TEMPORARY VIEW tv AS SELECT k FROM not_reg",
        "DROP VIEW not_a_view",
        "SHOW CREATE TABLE not_reg",
        "DESCRIBE EXTENDED not_reg",
        "DESC EXTENDED not_reg"),
      // aggregate-looking statements over registered and plain names
      Seq("SELECT count(*) FROM not_reg",
        "SELECT count(*) FROM fz_twin",
        "SELECT min(k) OVER () FROM fz_twin",
        "SELECT count(*) FROM fz JOIN fz_twin ON fz.k = fz_twin.k",
        "SELECT count(DISTINCT k) AS n, p FROM fz GROUP BY p HAVING n > 1",
        "SELECT p, count(*) FROM fz GROUP BY p ORDER BY rand()",
        "SELECT count(*) FROM (SELECT k FROM fz WHERE k < 10)",
        "WITH c AS (SELECT k FROM fz) SELECT count(*) FROM c"),
      // every SELECT shape over the registered name reaches Spark's parser
      selectShapes.map(_.replace("%T", "fz"))
    ).flatten
    var n = 0
    val statements = templates.flatMap(t => Seq(t) ++ (1 to 20).map(_ => mutate(t)))
    statements.foreach { sql =>
      (outcome(graftParser, sql), outcome(delegate, sql)) match {
        case (Planned(g), Planned(d)) =>
          assert(!g.getClass.getName.startsWith("graft"),
            s"silently intercepted a statement outside the surface: $sql\n-> $g")
          // each parse mints fresh exprIds (Alias#N) — compare the
          // id-normalized trees
          def norm(p: LogicalPlan): String = p.treeString.replaceAll("#\\d+", "#")
          assert(norm(g) == norm(d), s"delegated plan differs from Spark's for: $sql")
        case (Errored(gc), Errored(_)) =>
          // both refuse (e.g. Spark can't parse a trap comment tail);
          // graft must surface the DELEGATE's error, not its own
          assert(classOf[ParseException].isAssignableFrom(gc)
            || gc == classOf[UnsupportedOperationException], s"odd error class $gc for: $sql")
        case (g, d) =>
          fail(s"asymmetric outcomes for: $sql\n graft=$g\n spark=$d")
      }
      n += 1
    }
    assert(n >= 600, s"corpus too small: $n")
  }

  test("registered, catalog and plain SELECTs agree (>200 executed pairs)") {
    setupRoot
    var pairs = 0
    selectShapes.foreach { shape =>
      val variants = Seq(shape) ++ (1 to 5).map(_ => mutate(shape))
      variants.foreach { v =>
        val Seq(twin, viaName, viaCatalog) =
          Seq("fz_twin", "fz", "fzcat.fz").map(t => t -> Try(spark.sql(v.replaceAll("(?i)%T", t))))
        Seq(viaName, viaCatalog).foreach { case (t, run) =>
          (run, twin._2) match {
            case (Success(a), Success(b)) =>
              assert(a.columns.toSeq == b.columns.toSeq,
                s"column names diverge on $t for: $v\n ${a.columns.toSeq} vs ${b.columns.toSeq}")
              val ra = a.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
              val rb = b.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
              assert(ra == rb, s"results diverge on $t for: $v")
            case (Failure(_), Failure(_)) => // all refuse the mutation: fine
            case (a, b) =>
              fail(s"asymmetric run outcomes on $t for: $v\n $t=$a\n twin=$b")
          }
          pairs += 1
        }
      }
    }
    assert(pairs >= 200, s"executed corpus too small: $pairs")
  }

  test("DML on the registered view routes to a graft command or refuses loudly (>300 statements)") {
    setupRoot
    val intercepts = Seq(
      "DELETE FROM fz WHERE k = 1",
      "DELETE FROM fz",
      "UPDATE fz SET m = m + 1 WHERE k < 5",
      "UPDATE fz SET s = 'x' WHERE p = 'red'",
      "UPDATE fz SET m = CASE WHEN m > 5 THEN 0 ELSE m END WHERE k < 5",
      "INSERT INTO fz VALUES (1000, 'v', 'red', 1)",
      "INSERT INTO fz (k, s) VALUES (1001, 'v')",
      "INSERT INTO fz SELECT k + 5000, s, p, m FROM fz_twin",
      "MERGE INTO fz USING fz_twin ON fz.k = fz_twin.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
      "MERGE INTO fz USING fz_twin ON fz.k = fz_twin.k " +
        "WHEN NOT MATCHED BY SOURCE THEN DELETE",
      "ALTER TABLE fz ADD COLUMNS (z INT)",
      "ALTER TABLE fz ADD COLUMNS (addr.city STRING)",
      "ALTER TABLE fz ADD COLUMNS (tag STRING DEFAULT 'a,b')",
      "ALTER TABLE fz RENAME COLUMN m TO m2",
      "ALTER TABLE fz DROP COLUMN m",
      "ALTER TABLE fz ALTER COLUMN m TYPE BIGINT",
      "VACUUM fz",
      "DROP TABLE fz",
      "DROP TABLE fz PURGE")
    val refusals = Seq(
      "DELETE FROM fz WHERE k IN (SELECT k FROM fz_twin)",
      "UPDATE fz SET m = 1 WHERE k IN (SELECT k FROM fz_twin)",
      "UPDATE fz SET m = (SELECT max(k) FROM fz_twin)",
      "MERGE INTO fz USING fz_twin ON fz.k = fz_twin.k " +
        "WHEN MATCHED AND fz.k IN (SELECT k FROM fz_twin) THEN DELETE")
    var n = 0
    intercepts.foreach { sql =>
      (Seq(sql) ++ (1 to 19).map(_ => mutate(sql))).foreach { v =>
        outcome(graftParser, v) match {
          case Planned(p) => assert(p.getClass.getName.startsWith("graft"),
            s"registered-view DML fell through to the delegate: $v\n-> $p")
          case Errored(c) => fail(s"registered-view DML failed to plan ($c): $v")
        }
        n += 1
      }
    }
    refusals.foreach { sql =>
      (Seq(sql) ++ (1 to 9).map(_ => mutate(sql))).foreach { v =>
        val e = intercept[UnsupportedOperationException] { graftParser.parsePlan(v) }
        assert(e.getMessage.toLowerCase.contains("subquer"), s"for: $v")
        n += 1
      }
    }
    assert(n >= 240, s"DML corpus too small: $n")
  }

  test("string literals inside row-local predicates survive the intercept executably") {
    setupRoot
    // a WHERE literal containing keywords: the intercepted command must
    // either apply EXACTLY the predicate Spark would, or error loudly
    // before touching data — never corrupt rows
    val root = java.nio.file.Files.createTempDirectory("graft-sqlfuzz-lit").toString
    val lake = new Lakehouse(spark, root)
    import spark.implicits._
    val df = Seq((1L, "keep WHERE me"), (2L, "plain"), (3L, "WHEN MATCHED")).toDF("k", "v")
    lake.createOrReplace(df, "fzlit")
    lake.registerView("fzlit")
    spark.sql("DELETE FROM fzlit WHERE v = 'keep WHERE me'")
    assert(spark.table("fzlit").orderBy("k").collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
    spark.sql("UPDATE fzlit SET v = 'WHEN NOT MATCHED' WHERE v = 'WHEN MATCHED'")
    assert(spark.table("fzlit").where(col("v") === "WHEN NOT MATCHED").count() == 1)
    // keywords, parens and CASE inside SET values, WHERE literals and
    // MERGE assignments: each statement commits exactly the rows the
    // matching programmatic call commits on a twin table in a second
    // (unregistered) lake
    val sqlLake = new Lakehouse(spark, java.nio.file.Files.createTempDirectory("graft-sqlfuzz-pr").toString)
    val apiLake = new Lakehouse(spark, java.nio.file.Files.createTempDirectory("graft-sqlfuzz-api").toString)
    val pr = Seq((1L, "a", 1L), (2L, "(SELECT", 2L), (3L, "c", 3L)).toDF("k", "v", "x")
    sqlLake.createOrReplace(pr, "pr")
    sqlLake.registerView("pr")
    apiLake.createOrReplace(pr, "pr")
    Seq((1L, "s1", 5L), (3L, "s3", -1L), (4L, "s4", 4L)).toDF("k", "v", "x")
      .createOrReplaceTempView("pr_src")
    def rowsOf(l: Lakehouse): Seq[String] =
      l.read("pr").collect().map(_.toSeq.mkString("|")).toSeq.sorted
    import graft.sources.{MergeInsert, MergeMatched}
    Seq[(String, () => Long, Seq[String] => Boolean)](
      ("UPDATE pr SET v = 'p WHERE q' WHERE k = 1",
        () => apiLake.updateWhere(Seq("v" -> lit("p WHERE q")), col("k") === 1L, "pr"),
        _.contains("1|p WHERE q|1")),
      ("DELETE FROM pr WHERE v = '(SELECT'",
        () => apiLake.deleteWhere(col("v") === "(SELECT", "pr"),
        !_.exists(_.startsWith("2|"))),
      ("MERGE INTO pr USING pr_src ON pr.k = pr_src.k WHEN MATCHED THEN UPDATE SET " +
        "x = CASE WHEN pr_src.x > 0 THEN pr_src.x ELSE pr.x END WHEN NOT MATCHED THEN INSERT *",
        () => apiLake.sqlMergeClauses("pr", "pr_src", Seq("k"),
          Seq(MergeMatched(None, isDelete = false, Some(Seq(
            "x" -> when(col("pr_src.x") > 0, col("pr_src.x")).otherwise(col("pr.x")))))),
          Some(MergeInsert(None))),
        r => r.contains("1|p WHERE q|5") && r.contains("3|c|3") && r.contains("4|s4|4")),
      ("MERGE INTO pr USING pr_src ON pr.k = pr_src.k WHEN MATCHED THEN UPDATE SET v = 'WHEN'",
        () => apiLake.sqlMergeClauses("pr", "pr_src", Seq("k"),
          Seq(MergeMatched(None, isDelete = false, Some(Seq("v" -> lit("WHEN"))))), None),
        r => r.count(_.contains("|WHEN|")) == 3)
    ).foreach { case (sql, api, expected) =>
      spark.sql(sql).collect()
      api()
      val got = rowsOf(sqlLake)
      assert(got == rowsOf(apiLake), s"SQL and API rows diverge after: $sql")
      assert(expected(got), s"unexpected rows after: $sql\n$got")
    }
  }

  test("programmatic writes on a second lake leave the registered name's lake in place") {
    import spark.implicits._
    import graft.sources.{MergeInsert, MergeMatched}
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val home = new Lakehouse(spark, tmp("graft-sqlfuzz-home"))
    val other = new Lakehouse(spark, tmp("graft-sqlfuzz-other"))
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    home.createOrReplace(base, "tl")
    home.registerView("tl")
    other.createOrReplace(base, "tl")
    Seq((2L, "o2"), (3L, "o3")).toDF("k", "v").createOrReplaceTempView("tl_src")
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(r => s"${r.getLong(0)}|${r.getString(1)}").toSeq.sorted
    // each programmatic write commits to `other`'s own table ...
    other.sqlMergeClauses("tl", "tl_src", Seq("k"),
      Seq(MergeMatched(None, isDelete = false, None)), Some(MergeInsert(None)))
    other.sqlMerge("tl", "tl_src", Seq("k"))
    other.sqlInsert("tl", Seq((9L, "o9")).toDF("k", "v"))
    assert(rowsOf(other.read("tl")) === Seq("1|a", "2|o2", "3|o3", "9|o9"))
    // ... and the SQL name still reads and commits `home`
    assert(rowsOf(spark.sql("SELECT * FROM tl")) === Seq("1|a", "2|b"))
    spark.sql("MERGE INTO tl USING tl_src ON tl.k = tl_src.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *").collect()
    assert(rowsOf(home.read("tl")) === Seq("1|a", "2|o2", "3|o3"))
    assert(rowsOf(other.read("tl")) === Seq("1|a", "2|o2", "3|o3", "9|o9"))
    // a write through the lake the name IS registered to refreshes it
    home.sqlInsert("tl", Seq((7L, "h7")).toDF("k", "v"))
    assert(rowsOf(spark.sql("SELECT * FROM tl")) === Seq("1|a", "2|o2", "3|o3", "7|h7"))
  }

  test("travel syntax inside literals/comments survives execution byte-exact") {
    setupRoot
    // `fz` IS registered and the statement DOES contain travel syntax,
    // but only the parsed travel reference resolves, never a literal
    val lit = spark.sql("SELECT 'fz VERSION AS OF 1' AS s, 'fz.history' AS h " +
      "FROM fz_twin LIMIT 1 -- fz VERSION AS OF 2").head()
    assert(lit.getString(0) == "fz VERSION AS OF 1")
    assert(lit.getString(1) == "fz.history")
    // and REAL travel through the same path still resolves: the
    // registered view's first snapshot is readable by number
    val snap0 = new Lakehouse(spark, setupRoot).snapshots("fz").head._1
    assert(spark.sql(s"SELECT count(*) AS n FROM fz VERSION AS OF $snap0").head().getLong(0) > 0)
  }

  test("travel and metadata rewrites leave a catalog-qualified name alone, even when it is registered") {
    val lake = new Lakehouse(spark, setupRoot)
    val snap0 = lake.snapshots("fz").head._1
    // one case per rewrite pattern: `fz` IS registered, so matching
    // the last part of the dotted name would rewrite the statement
    Seq(
      s"SELECT * FROM fzcat.fz VERSION AS OF $snap0",
      "SELECT * FROM fzcat.fz VERSION AS OF 'main'",
      "SELECT * FROM fzcat.fz TIMESTAMP AS OF '2999-01-01 00:00:00'",
      "SELECT * FROM fzcat.fz.history"
    ).foreach { sql =>
      assert(outcome(graftParser, sql) == outcome(delegate, sql), sql)
    }
    // ... and the catalog answers them
    assert(spark.sql(s"SELECT count(*) AS n FROM fzcat.fz VERSION AS OF $snap0")
      .head().getLong(0) === lake.readSnapshot("fz", snap0).count())
    assert(spark.sql("SELECT count(*) AS n FROM fzcat.fz TIMESTAMP AS OF '2999-01-01 00:00:00'")
      .head().getLong(0) === lake.read("fz").count())
  }

  test("travel and metadata references match the programmatic API in every statement position") {
    setupRoot
    val root = java.nio.file.Files.createTempDirectory("graft-sqlfuzz-ref").toString
    val lake = new Lakehouse(spark, root)
    import spark.implicits._
    // columns named like metadata tables: `fzq.tags` must stay a column
    def rows(from: Int, until: Int) = (from until until).map { i =>
      (i.toLong, s"t$i", s"f${i % 3}", s"h${i % 2}")
    }.toDF("id", "tags", "files", "history")
    val s1 = lake.createOrReplace(rows(0, 10), "fzq")
    Thread.sleep(5)
    val between = System.currentTimeMillis()
    Thread.sleep(5)
    val s2 = lake.append(rows(10, 25), "fzq")
    lake.deleteWhere(col("id") < 3L, "fzq")
    val snaps = lake.snapshots("fzq").map(_._1)
    lake.createBranch("fzq", "dev", s1)
    lake.tagSnapshot("fzq", "rel", s2)
    lake.registerView("fzq")
    val tz = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val at = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(tz).format(java.time.Instant.ofEpochMilli(between))
    // keywords and the table name vary in case; ref names and literals do not
    def kw(s: String): String = if (rnd.nextBoolean()) mixCase(s) else s
    def t: String = if (rnd.nextInt(3) == 0) "FZQ" else "fzq"
    val data: Seq[(() => String, () => org.apache.spark.sql.DataFrame)] =
      snaps.flatMap(s => Seq(
        (() => s"$t ${kw("VERSION AS OF")} $s", () => lake.readSnapshot("fzq", s)),
        (() => s"$t ${kw("VERSION AS OF")} '$s'", () => lake.readSnapshot("fzq", s)))) ++ Seq(
        (() => s"$t ${kw("VERSION AS OF")} 'rel'", () => lake.readTag("fzq", "rel")),
        (() => s"$t ${kw("VERSION AS OF")} 'dev'", () => lake.read("fzq", "dev")),
        (() => s"$t ${kw("TIMESTAMP AS OF")} '$at'", () => lake.readAsOf("fzq", between)),
        (() => s"$t ${kw("TIMESTAMP AS OF")} ${kw("TIMESTAMP")} '$at'",
          () => lake.readAsOf("fzq", between)))
    val meta: Seq[(() => String, () => org.apache.spark.sql.DataFrame)] = Seq(
      (() => s"$t.history", () => lake.history("fzq")),
      (() => s"$t.snapshots", () => lake.snapshotsDf("fzq")),
      (() => s"$t.files", () => lake.filesDf("fzq")),
      (() => s"$t.tags", () => lake.tagsDf("fzq")),
      (() => s"$t.refs", () => lake.refsDf("fzq")))
    def cellsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    def check(sql: String, expect: Seq[String]): Unit =
      assert(cellsOf(spark.sql(sql)) == expect.sorted, s"rows diverge for: $sql")
    val sink = java.nio.file.Files.createTempDirectory("graft-sqlfuzz-sink").toString
    spark.sql(s"CREATE TABLE fzq_sink (n BIGINT) USING parquet LOCATION '$sink/n'")
    var inserted = Seq.empty[String]
    var n = 0
    try {
      (data ++ meta).zipWithIndex.foreach { case ((ref, expected), i) =>
        val exp = cellsOf(expected())
        val count = exp.size.toString
        check(s"SELECT * FROM ${ref()}", exp)
        check(s"SELECT a.* FROM ${ref()} AS a", exp)
        check(s"WITH c AS (SELECT * FROM ${ref()}) SELECT * FROM c", exp)
        check(s"WITH c AS (SELECT * FROM ${ref()}), d AS (SELECT * FROM c) SELECT * FROM d", exp)
        check(s"SELECT (SELECT count(*) FROM ${ref()}) AS n", Seq(count))
        check(s"SELECT k FROM fz_twin WHERE k IN (SELECT count(*) FROM ${ref()})",
          if (exp.size < 120) Seq(count) else Nil)
        check(s"SELECT * FROM ${ref()} UNION ALL SELECT * FROM ${ref()}", exp ++ exp)
        val explained = spark.sql(s"EXPLAIN EXTENDED SELECT * FROM ${ref()}").head().getString(0)
        assert(!explained.contains("Error occurred") && !explained.contains("UNRESOLVED"),
          s"EXPLAIN failed to resolve ${ref()}:\n$explained")
        spark.sql(s"INSERT INTO fzq_sink SELECT count(*) FROM ${ref()}")
        inserted :+= count
        spark.sql(s"CREATE TABLE fzq_ctas_$i USING parquet LOCATION '$sink/c$i' " +
          s"AS SELECT * FROM ${ref()}")
        try check(s"SELECT * FROM fzq_ctas_$i", exp)
        finally spark.sql(s"DROP TABLE fzq_ctas_$i")
        n += 10
      }
      check("SELECT n FROM fzq_sink", inserted)
    } finally spark.sql("DROP TABLE fzq_sink")
    // qualified column references on travel refs, with metadata-named columns
    data.foreach { case (ref, expected) =>
      val exp = expected()
      val qual = cellsOf(exp.select("id", "tags", "files", "history"))
      val tags = cellsOf(exp.select("tags"))
      check(s"SELECT fzq.id, fzq.tags, fzq.files, fzq.history FROM ${ref()}", qual)
      check(s"SELECT a.id, a.tags, a.files, a.history FROM ${ref()} a", qual)
      check(s"SELECT x.tags FROM ${ref()} AS x WHERE x.id IN (SELECT fzq.id FROM fzq)",
        cellsOf(exp.join(lake.read("fzq").select("id"), "id").select("tags")))
      check(s"SELECT fzq.tags FROM ${ref()} UNION ALL SELECT fzq.tags FROM fzq WHERE false", tags)
      n += 4
    }
    // the current state under column qualifiers named like metadata tables
    check("SELECT fzq.tags, fzq.files, fzq.history FROM fzq",
      cellsOf(lake.read("fzq").select("tags", "files", "history")))
    check("SELECT fzq.history FROM fzq WHERE fzq.files = 'f1'",
      cellsOf(lake.read("fzq").where(col("files") === "f1").select("history")))
    assert(n >= 180, s"reference corpus too small: $n")
  }
}
