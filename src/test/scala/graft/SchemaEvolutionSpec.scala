package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Lakehouse

/** SQL schema evolution (Iceberg's ALTER TABLE column DDL): additive
  * ADD COLUMNS, RENAME COLUMN, DROP COLUMN as metadata-only snapshot
  * commits — old dirs conform at read, time travel below an evolution
  * sees the old schema, and every historical name is permanently
  * reserved (name-based resolution must never resurrect old data).
  * Reference: the Iceberg DDL surface behind mongo_to_iceberg.py:140's
  * catalog tables. */
class SchemaEvolutionSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-evo").toString

  private def mk(lake: Lakehouse, table: String = "t"): Long = {
    import spark.implicits._
    val snap = lake.createOrReplace(
      Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "v", "x"), table)
    lake.registerView(table)
    snap
  }

  test("addColumns: old dirs read typed NULLs; writes fill them; time travel keeps the old schema") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val v1 = mk(lake)
    lake.addColumns("t", StructType.fromDDL("tag STRING, score DOUBLE"))
    val got = lake.read("t")
    assert(got.columns.toSeq === Seq("k", "v", "x", "tag", "score"))
    assert(got.schema("score").dataType === DoubleType)
    assert(got.where(col("tag").isNull).count() === 2) // pre-evolution rows
    // an append AFTER evolution carries values for the new columns
    lake.append(Seq((3L, "c", 30.0, "fresh", 0.5)).toDF("k", "v", "x", "tag", "score"), "t")
    val r3 = lake.read("t").where(col("k") === 3L).head()
    assert(r3.getString(3) === "fresh" && r3.getDouble(4) === 0.5)
    // mixed read: old rows NULL, new row filled
    assert(lake.read("t").where(col("tag").isNotNull).count() === 1)
    // time travel BELOW the evolution snapshot shows the old 3-column schema
    assert(lake.readSnapshot("t", v1).columns.toSeq === Seq("k", "v", "x"))
  }

  test("CoW and MoR DML preserve an evolved schema") {
    val lake = new Lakehouse(spark, freshRoot())
    mk(lake)
    lake.addColumns("t", StructType.fromDDL("tag STRING"))
    // CoW update fills the evolved column on old rows
    lake.updateWhere(Seq("tag" -> lit("old")), col("tag").isNull, "t")
    assert(lake.read("t").where(col("tag") === "old").count() === 2)
    // MoR update keeps the evolved schema too (delta dir materializes it)
    lake.updateWhereMor(Seq("tag" -> lit("hot")), col("k") === 1L, "t")
    val got = lake.read("t").orderBy("k").collect()
    assert(got.map(_.getString(3)).toSeq === Seq("hot", "old"))
    assert(lake.read("t").columns.toSeq === Seq("k", "v", "x", "tag"))
  }

  test("renameColumn: old and new dirs resolve to the new name; travel below shows the old one") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    mk(lake)
    val vRen = lake.renameColumn("t", "x", "amount")
    assert(lake.read("t").columns.toSeq === Seq("k", "v", "amount"))
    assert(lake.read("t").where(col("k") === 2L).head().getDouble(2) === 20.0)
    // a dir written AFTER the rename carries the new physical name
    lake.append(Seq((3L, "c", 30.0)).toDF("k", "v", "amount"), "t")
    assert(lake.read("t").agg(sum("amount")).head().getDouble(0) === 60.0)
    // pre-rename history still shows x
    assert(lake.readSnapshot("t", vRen - 1).columns.toSeq === Seq("k", "v", "x"))
  }

  test("dropColumn: vanishes from reads and writes; history below the drop keeps it") {
    val lake = new Lakehouse(spark, freshRoot())
    mk(lake)
    val vDrop = lake.dropColumn("t", "v")
    assert(lake.read("t").columns.toSeq === Seq("k", "x"))
    assert(lake.readSnapshot("t", vDrop - 1).columns.toSeq === Seq("k", "v", "x"))
    // the dropped name is reserved forever
    val e = intercept[IllegalArgumentException](
      lake.addColumns("t", StructType.fromDDL("v STRING")))
    assert(e.getMessage.contains("once existed"))
  }

  test("evolution refusals: duplicates, non-nullable, historical names, layout sources") {
    val lake = new Lakehouse(spark, freshRoot())
    mk(lake)
    // existing name
    intercept[IllegalArgumentException](
      lake.addColumns("t", StructType.fromDDL("v STRING")))
    // duplicate within the ADD list
    intercept[IllegalArgumentException](
      lake.addColumns("t", StructType(Seq(
        StructField("n1", IntegerType), StructField("N1", LongType)))))
    // non-nullable added column (existing rows would violate it)
    intercept[IllegalArgumentException](
      lake.addColumns("t", StructType(Seq(
        StructField("req", IntegerType, nullable = false)))))
    // rename target may not be an ever-used name; unknown source refused
    lake.renameColumn("t", "x", "amount")
    intercept[IllegalArgumentException](lake.renameColumn("t", "v", "x"))
    intercept[IllegalArgumentException](lake.renameColumn("t", "nope", "other"))
    // dropping an unknown column refused
    intercept[IllegalArgumentException](lake.dropColumn("t", "nope"))
  }

  test("evolution on a hidden-partitioned table: layout sources are protected, pruning survives") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val df = Seq(
      (1L, java.sql.Date.valueOf("2024-01-01"), 1.0),
      (2L, java.sql.Date.valueOf("2024-02-01"), 2.0)
    ).toDF("k", "d", "x")
    lake.createOrReplace(df, "pt", partitionBy = Seq("months(d)"))
    lake.registerView("pt", Seq("months(d)"))
    // the layout's source column can be neither renamed nor dropped
    intercept[IllegalArgumentException](lake.renameColumn("pt", "d", "day"))
    intercept[IllegalArgumentException](lake.dropColumn("pt", "d"))
    lake.addColumns("pt", StructType.fromDDL("note STRING"))
    // source-predicate pruning still opens one month leaf post-evolution
    val pruned = lake.readWhere(col("d") >= "2024-02-01", "pt")
    assert(pruned.collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(pruned.inputFiles.length === 1)
    assert(pruned.columns.toSeq === Seq("k", "d", "x", "note"))
  }

  test("parsed SQL lifecycle: ADD COLUMNS / RENAME COLUMN / DROP COLUMN with DML between") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.createOrReplace(Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "v", "x"), "sq")
    lake.registerView("sq")
    spark.sql("ALTER TABLE sq ADD COLUMNS (tag STRING, score DOUBLE)")
    // the registered temp view refreshes to the evolved schema
    assert(spark.table("sq").columns.toSeq === Seq("k", "v", "x", "tag", "score"))
    spark.sql("UPDATE sq SET tag = 'old', score = 0.0 WHERE tag IS NULL")
    spark.sql("INSERT INTO sq SELECT 3, 'c', 30.0, 'new', 9.5")
    spark.sql("ALTER TABLE sq RENAME COLUMN x TO amount")
    spark.sql("ALTER TABLE sq DROP COLUMN v")
    val got = spark.sql(
      """SELECT tag, count(*) AS n, sum(amount) AS total, sum(score) AS s
        |FROM sq GROUP BY tag ORDER BY tag""".stripMargin).collect()
    assert(got.map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
      === Seq(("new", 1L, 30.0, 9.5), ("old", 2L, 30.0, 0.0)))
    // unparsable column list is refused loudly, by Spark's grammar
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      spark.sql("ALTER TABLE sq ADD COLUMNS (bad nosuchtype)"))
  }

  test("alterColumnType: widening promotion — old int dirs read long, new writes are long, travel sees int") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val v1 = lake.createOrReplace(Seq((1, "a"), (2, "b")).toDF("n", "v"), "w")
    lake.registerView("w")
    spark.sql("ALTER TABLE w ALTER COLUMN n TYPE bigint")
    assert(lake.read("w").schema("n").dataType === LongType)
    // a value beyond int range now inserts fine
    spark.sql("INSERT INTO w VALUES (4000000000, 'big')")
    val got = spark.sql("SELECT n FROM w ORDER BY n").collect().map(_.getLong(0))
    assert(got.toSeq === Seq(1L, 2L, 4000000000L))
    // time travel below the promotion sees the old physical type
    assert(lake.readSnapshot("w", v1).schema("n").dataType === IntegerType)
    // file skipping stays sound across mixed int/long dirs
    val pruned = lake.readWhere(col("n") > 3000000000L, "w")
    assert(pruned.collect().map(_.getLong(0)).toSeq === Seq(4000000000L))
  }

  test("alterColumnType refuses narrowing, cross-family, scale changes and layout sources") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.createOrReplace(
      Seq((1L, 1.5f, BigDecimal("1.50"))).toDF("k", "f", "d")
        .select(col("k"), col("f"), col("d").cast(DecimalType(10, 2))), "w2")
    lake.registerView("w2")
    // float -> double widens; decimal precision widens with same scale
    lake.alterColumnType("w2", "f", DoubleType)
    lake.alterColumnType("w2", "d", DecimalType(20, 2))
    assert(lake.read("w2").schema("f").dataType === DoubleType)
    assert(lake.read("w2").schema("d").dataType === DecimalType(20, 2))
    intercept[IllegalArgumentException]( // narrowing
      lake.alterColumnType("w2", "k", IntegerType))
    intercept[IllegalArgumentException]( // cross-family
      lake.alterColumnType("w2", "k", StringType))
    intercept[IllegalArgumentException]( // scale change
      lake.alterColumnType("w2", "d", DecimalType(20, 4)))
    intercept[IllegalArgumentException]( // no-op
      lake.alterColumnType("w2", "f", DoubleType))
    // layout source columns refuse promotion
    val parted = new Lakehouse(spark, freshRoot())
    parted.createOrReplace(Seq((1, "x")).toDF("b", "v"), "p", Seq("bucket(4,b)"))
    parted.registerView("p", Seq("bucket(4,b)"))
    intercept[IllegalArgumentException](parted.alterColumnType("p", "b", LongType))
  }

  test("INSERT with an explicit column list: unlisted columns NULL, unknown/arity/non-null refused") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    mk(lake)
    lake.addColumns("t", StructType.fromDDL("tag STRING"))
    // the evolved-schema shape: an old 3-column INSERT keeps working
    spark.sql("INSERT INTO t (k, v, x) VALUES (7, 'g', 70.0)")
    val r7 = spark.table("t").where(col("k") === 7L).head()
    assert(r7.getString(1) === "g" && r7.isNullAt(3))
    // arbitrary order + subset via SELECT
    spark.sql("INSERT INTO t (tag, k) SELECT 'only', 9")
    val r9 = spark.table("t").where(col("k") === 9L).head()
    assert(r9.getString(3) === "only" && r9.isNullAt(1) && r9.isNullAt(2))
    intercept[Exception](spark.sql("INSERT INTO t (nope) VALUES (1)"))
    intercept[Exception](spark.sql("INSERT INTO t (k, v) VALUES (1)"))
    intercept[Exception](spark.sql("INSERT INTO t (k, k) VALUES (1, 2)"))
    // lossy write into a listed column still refused
    intercept[Exception](spark.sql("INSERT INTO t (k, x) VALUES (1.5, 2.0)"))
  }

  test("NESTED evolution: add/rename/drop struct fields as metadata; mixed dirs conform; travel sees old shapes") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val df = Seq((1L, "NYC", "10001"), (2L, "SF", "94105")).toDF("k", "city", "zip")
      .select(col("k"), struct(col("city"), col("zip")).as("addr"))
    val v1 = lake.createOrReplace(df, "n")
    lake.registerView("n")
    // ADD a nested field (the reference's own shape: shipping_address
    // grows a field) — old rows read NULL inside the struct
    spark.sql("ALTER TABLE n ADD COLUMNS (addr.country STRING)")
    assert(spark.table("n").schema("addr").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq === Seq("city", "zip", "country"))
    assert(spark.table("n").where(col("addr.country").isNull).count() === 2)
    // a dir written AFTER the add carries the full shape physically
    lake.append(Seq((3L, "LA", "90001", "US")).toDF("k", "city", "zip", "country")
      .select(col("k"), struct(col("city"), col("zip"), col("country")).as("addr")), "n")
    // RENAME a nested field: values resolve from BOTH physical shapes
    spark.sql("ALTER TABLE n RENAME COLUMN addr.zip TO postal")
    val rows = spark.table("n")
      .select(col("k"), col("addr.postal"), col("addr.country")).orderBy("k").collect()
    assert(rows.map(_.getString(1)).toSeq === Seq("10001", "94105", "90001"))
    assert(rows.map(r => Option(r.getString(2))).toSeq === Seq(None, None, Some("US")))
    // DML over the evolved nested shape (CoW rewrite conforms + rewrites)
    spark.sql("UPDATE n SET addr = named_struct('city', addr.city, 'postal', " +
      "addr.postal, 'country', 'USA') WHERE addr.country IS NULL")
    assert(spark.table("n").where(col("addr.country") === "USA").count() === 2)
    // DROP a nested field: vanishes from reads; travel below keeps it
    val vDrop = lake.dropColumn("n", "addr.city")
    assert(lake.read("n").schema("addr").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq === Seq("postal", "country"))
    assert(lake.readSnapshot("n", vDrop - 1).schema("addr").dataType
      .asInstanceOf[StructType].fieldNames.toSeq === Seq("city", "postal", "country"))
    // travel below EVERYTHING sees the original nested shape and values
    val old = lake.readSnapshot("n", v1)
    assert(old.schema("addr").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq === Seq("city", "zip"))
    assert(old.select(col("addr.zip")).orderBy(col("addr.zip")).collect()
      .map(_.getString(0)).toSeq === Seq("10001", "94105"))
  }

  test("NESTED evolution composes with a parent rename; recycled names, array crossings, empty structs refuse") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val df = Seq((1L, "NYC", "10001")).toDF("k", "city", "zip")
      .select(col("k"), struct(col("city"), col("zip")).as("addr"),
        array(struct(lit("sku1").as("sku"), lit(2).as("qty"))).as("items"))
    lake.createOrReplace(df, "p")
    lake.registerView("p")
    // nested rename, THEN the parent renames: the prefix-aware fold
    // re-roots the earlier nested rename under the new parent name
    lake.renameColumn("p", "addr.zip", "postal")
    lake.renameColumn("p", "addr", "address")
    lake.append(Seq((2L, "SF", "94105")).toDF("k", "city", "postal")
      .select(col("k"), struct(col("city"), col("postal")).as("address"),
        array(struct(lit("sku2").as("sku"), lit(1).as("qty"))).as("items")), "p")
    val got = lake.read("p").select(col("k"), col("address.postal"))
      .orderBy("k").collect()
    assert(got.map(_.getString(1)).toSeq === Seq("10001", "94105"))
    // adding under the NEW parent name lands; the OLD parent is gone
    lake.addColumns("p", StructType(Seq(StructField("address.country", StringType))))
    assert(lake.read("p").schema("address").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq === Seq("city", "postal", "country"))
    intercept[IllegalArgumentException](
      lake.addColumns("p", StructType(Seq(StructField("addr.x", StringType)))))
    // a dropped nested name is reserved forever in its scope — but the
    // SAME leaf name under a DIFFERENT struct stays free
    lake.dropColumn("p", "address.city")
    val e = intercept[IllegalArgumentException](
      lake.addColumns("p", StructType(Seq(StructField("address.city", StringType)))))
    assert(e.getMessage.contains("once existed"))
    // an ARRAY OF STRUCTS is addressed via '.element' (Iceberg's
    // form); by-field-name addressing refuses with the pointer
    val ea = intercept[IllegalArgumentException](
      lake.addColumns("p", StructType(Seq(StructField("items.sku2", StringType)))))
    assert(ea.getMessage.contains("element"))
    intercept[IllegalArgumentException](lake.renameColumn("p", "items.sku", "s"))
    // dropping the LAST field of a struct refuses (drop the parent)
    lake.dropColumn("p", "address.postal")
    val el = intercept[IllegalArgumentException](lake.dropColumn("p", "address.country"))
    assert(el.getMessage.contains("only field"))
    // rename target must be SIMPLE (same-scope rule)
    intercept[IllegalArgumentException](
      lake.renameColumn("p", "address.country", "other.country"))
  }

  test("ARRAY-ELEMENT evolution: items.element fields add/rename/drop; both dirs' elements conform") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val df = Seq((1L, Seq(("sku1", 2), ("sku2", 5))), (2L, Seq(("sku3", 1))))
      .toDF("k", "raw")
      .select(col("k"), expr(
        "transform(raw, x -> named_struct('sku', x._1, 'qty', x._2))").as("items"))
    val v1 = lake.createOrReplace(df, "ae")
    lake.registerView("ae")
    // ADD a field inside the array's element struct: every existing
    // element reads NULL there
    spark.sql("ALTER TABLE ae ADD COLUMNS (items.element.discount DOUBLE)")
    val shape = lake.read("ae").schema("items").dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
    assert(shape.fieldNames.toSeq === Seq("sku", "qty", "discount"))
    assert(lake.read("ae")
      .select(explode(col("items")).as("it")).where(col("it.discount").isNull)
      .count() === 3)
    // a post-evolution append carries the full element shape
    lake.append(Seq((3L, Seq(("sku9", 7, 0.25)))).toDF("k", "raw")
      .select(col("k"), expr(
        "transform(raw, x -> named_struct('sku', x._1, 'qty', x._2, 'discount', x._3))")
        .as("items")), "ae")
    // RENAME an element field: values resolve from BOTH physical shapes
    lake.renameColumn("ae", "items.element.sku", "code")
    val codes = lake.read("ae").select(explode(col("items.code")).as("c"))
      .collect().map(_.getString(0)).sorted
    assert(codes.toSeq === Seq("sku1", "sku2", "sku3", "sku9"))
    // DROP an element field; travel below sees the original shape
    val vDrop = lake.dropColumn("ae", "items.element.qty")
    assert(lake.read("ae").schema("items").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType].fieldNames.toSeq === Seq("code", "discount"))
    assert(lake.readSnapshot("ae", v1).schema("items").dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
      .fieldNames.toSeq === Seq("sku", "qty"))
    assert(lake.readSnapshot("ae", v1)
      .select(explode(col("items.qty")).as("q")).collect()
      .map(_.getInt(0)).sorted.toSeq === Seq(1, 2, 5))
    // the dropped element name is reserved in its scope
    val e = intercept[IllegalArgumentException](lake.addColumns("ae",
      StructType(Seq(StructField("items.element.qty", IntegerType)))))
    assert(e.getMessage.contains("once existed"))
    // SQL dotted-path surface reaches elements too
    spark.sql("ALTER TABLE ae ADD COLUMNS (items.element.note STRING)")
    assert(lake.read("ae").select(explode(col("items.note")).as("n"))
      .where(col("n").isNull).count() === 4)
  }

  test("MAP-VALUE evolution: attrs.value fields add/rename/drop; both dirs' entries conform; keys stay structural") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    // MAP<STRING, STRUCT<qty INT, unit STRING>> — the document-model
    // shape the reference's Mongo-style data carries
    val df = Seq((1L, Seq("a" -> (2, "kg"), "b" -> (5, "m"))), (2L, Seq("c" -> (1, "kg"))))
      .toDF("k", "raw")
      .select(col("k"), expr(
        "map_from_entries(transform(raw, x -> struct(x._1 as key, " +
          "named_struct('qty', x._2._1, 'unit', x._2._2) as value)))").as("attrs"))
    val v1 = lake.createOrReplace(df, "mv")
    lake.registerView("mv")
    // ADD a field inside the map's value struct: every existing entry
    // reads NULL there
    spark.sql("ALTER TABLE mv ADD COLUMNS (attrs.value.note STRING)")
    val shape = lake.read("mv").schema("attrs").dataType
      .asInstanceOf[MapType].valueType.asInstanceOf[StructType]
    assert(shape.fieldNames.toSeq === Seq("qty", "unit", "note"))
    assert(lake.read("mv")
      .select(explode(col("attrs")).as(Seq("mk", "mval")))
      .where(col("mval.note").isNull).count() === 3)
    // a post-evolution append carries the full value shape
    lake.append(Seq((3L, Seq("d" -> (7, "s", "fragile")))).toDF("k", "raw")
      .select(col("k"), expr(
        "map_from_entries(transform(raw, x -> struct(x._1 as key, " +
          "named_struct('qty', x._2._1, 'unit', x._2._2, 'note', x._2._3) as value)))")
        .as("attrs")), "mv")
    // RENAME a value field: values resolve from BOTH physical shapes
    lake.renameColumn("mv", "attrs.value.unit", "uom")
    val uoms = lake.read("mv")
      .select(explode(col("attrs")).as(Seq("mk", "mval")))
      .select(col("mval.uom")).collect().map(_.getString(0)).sorted
    assert(uoms.toSeq === Seq("kg", "kg", "m", "s"))
    // DROP a value field; travel below sees the original shape
    lake.dropColumn("mv", "attrs.value.qty")
    assert(lake.read("mv").schema("attrs").dataType.asInstanceOf[MapType]
      .valueType.asInstanceOf[StructType].fieldNames.toSeq === Seq("uom", "note"))
    assert(lake.readSnapshot("mv", v1).schema("attrs").dataType
      .asInstanceOf[MapType].valueType.asInstanceOf[StructType]
      .fieldNames.toSeq === Seq("qty", "unit"))
    assert(lake.readSnapshot("mv", v1)
      .select(explode(col("attrs")).as(Seq("mk", "mval")))
      .select(col("mval.qty")).collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2, 5))
    // the dropped value-field name is reserved in its scope
    val e = intercept[IllegalArgumentException](lake.addColumns("mv",
      StructType(Seq(StructField("attrs.value.qty", IntegerType)))))
    assert(e.getMessage.contains("once existed"))
    // by-field-name addressing under a map refuses with the pointer;
    // map KEYS do not evolve
    val em = intercept[IllegalArgumentException](lake.addColumns("mv",
      StructType(Seq(StructField("attrs.qty2", IntegerType)))))
    assert(em.getMessage.contains("value"))
    intercept[IllegalArgumentException](lake.renameColumn("mv", "attrs.key", "id"))
  }

  test("ADD COLUMN ... DEFAULT: old rows read the default, omitting INSERTs materialize it, travel sees neither") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    val v1 = lake.createOrReplace(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "dft")
    lake.registerView("dft")
    spark.sql("ALTER TABLE dft ADD COLUMNS (tier STRING DEFAULT 'basic', score INT DEFAULT 10)")
    // pre-evolution rows read the DEFAULT (not NULL) on the ordinary path
    val old = lake.read("dft").orderBy("k").collect()
    assert(old.map(_.getString(2)).toSeq === Seq("basic", "basic"))
    assert(old.map(_.getInt(3)).toSeq === Seq(10, 10))
    // an INSERT omitting the defaulted columns materializes them
    spark.sql("INSERT INTO dft (k, v) VALUES (3, 'c')")
    val r3 = lake.read("dft").where(col("k") === 3L).head()
    assert(r3.getString(2) === "basic" && r3.getInt(3) === 10)
    // an INSERT providing values keeps them
    spark.sql("INSERT INTO dft (k, v, tier, score) VALUES (4, 'd', 'gold', 99)")
    val r4 = lake.read("dft").where(col("k") === 4L).head()
    assert(r4.getString(2) === "gold" && r4.getInt(3) === 99)
    // filters over the defaulted column see the filled values
    assert(lake.read("dft").where(col("tier") === "basic").count() === 3)
    // time travel below the add sees neither column
    assert(lake.readSnapshot("dft", v1).columns.toSeq === Seq("k", "v"))
    // refusals: non-literal defaults, non-castable defaults
    intercept[Exception](
      spark.sql("ALTER TABLE dft ADD COLUMNS (bad INT DEFAULT rand())"))
    intercept[Exception](
      spark.sql("ALTER TABLE dft ADD COLUMNS (bad2 INT DEFAULT 'zap')"))
    // a NESTED add with a default fills inside the struct too
    val lake2 = new Lakehouse(spark, freshRoot())
    lake2.createOrReplace(
      Seq((1L, "NYC")).toDF("k", "city")
        .select(col("k"), struct(col("city")).as("addr")), "dftn")
    lake2.registerView("dftn")
    spark.sql("ALTER TABLE dftn ADD COLUMNS (addr.country STRING DEFAULT 'US')")
    assert(lake2.read("dftn").select(col("addr.country")).head().getString(0) === "US")
  }

  test("ADD COLUMNS parsing is quote-aware: commas inside DEFAULT literals, 'default' inside COMMENT text") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    lake.createOrReplace(Seq((1L, "a")).toDF("k", "v"), "qa")
    lake.registerView("qa")
    // a comma INSIDE the quoted default must not split the column list
    spark.sql("ALTER TABLE qa ADD COLUMNS (lbl STRING DEFAULT 'a,b', n INT DEFAULT 7)")
    val r = lake.read("qa").head()
    assert(r.getString(2) === "a,b" && r.getInt(3) === 7)
    // ' default ' inside a COMMENT string must not reroute the item
    // into the hand parser (the stock DDL parser handles COMMENT)
    spark.sql("ALTER TABLE qa ADD COLUMNS (note STRING COMMENT 'the default path')")
    assert(lake.read("qa").columns.toSeq ===
      Seq("k", "v", "lbl", "n", "note"))
    // an escaped quote inside the default survives the scan
    spark.sql("ALTER TABLE qa ADD COLUMNS (q STRING DEFAULT 'it''s, fine')")
    assert(lake.read("qa").select(col("q")).head().getString(0) === "it's, fine")
    // DOUBLE-quoted literals (Spark's default dialect) scan identically
    spark.sql("ALTER TABLE qa ADD COLUMNS (dq STRING DEFAULT \"x,y\", dn INT DEFAULT 3)")
    val rdq = lake.read("qa").head()
    assert(rdq.getAs[String]("dq") === "x,y" && rdq.getAs[Int]("dn") === 3)
    spark.sql("ALTER TABLE qa ADD COLUMNS (note2 STRING COMMENT \"the default path\")")
    assert(lake.read("qa").columns.contains("note2"))
    // a bare DEFAULT with no literal refuses loudly
    val e = intercept[Exception](
      spark.sql("ALTER TABLE qa ADD COLUMNS (bad STRING DEFAULT)"))
    assert(e.getMessage.toLowerCase.contains("default"))
  }

  test("metadata schema merges nullability permissively: a null-element array dir never narrows the read type") {
    import spark.implicits._
    val lake = new Lakehouse(spark, freshRoot())
    // dir 1: containsNull=false (Scala Seq[Long] infers non-null elements)
    lake.createOrReplace(Seq((1L, Seq(1L, 2L))).toDF("k", "xs"), "nna")
    // dir 2: containsNull=true with a REAL null element
    lake.append(Seq((2L, Seq(Option(3L), Option.empty[Long]))).toDF("k", "xs"), "nna")
    // the metadata-derived schema must take the permissive flag — the
    // first-seen containsNull=false would make downstream conforms
    // cast-narrow and fail analysis
    val xsType = lake.tableSchema("nna").fields.find(_.name == "xs").get.dataType
    assert(xsType.asInstanceOf[org.apache.spark.sql.types.ArrayType].containsNull,
      s"merged array type must keep containsNull=true, got $xsType")
    val rows = lake.read("nna").orderBy("k").collect()
    assert(rows.length === 2 && rows(1).getSeq[Any](1).contains(null))
  }

  test("ADD COLUMN ... DEFAULT serves on the SPJ path: old dirs read the default, DML composes") {
    import spark.implicits._
    import graft.sources.spj.GraftSpjCatalog
    val root = freshRoot()
    val lake = new Lakehouse(spark, root)
    lake.createOrReplace((1L to 20L).map(k => (k, s"v$k")).toDF("k", "v"),
      "sdft", Seq("bucket(4,k)"))
    spark.conf.set("spark.sql.catalog.sdftc", classOf[GraftSpjCatalog].getName)
    spark.conf.set("spark.sql.catalog.sdftc.root", root)
    spark.sql("ALTER TABLE sdftc.sdft ADD COLUMNS (tier STRING DEFAULT 'basic')")
    val got = spark.table("sdftc.sdft")
    assert(got.where(col("tier") === "basic").count() === 20L)
    assert(got.where(col("tier").isNull).count() === 0L)
    // a post-evolution INSERT omitting the column gets the default via
    // Spark's own CURRENT_DEFAULT resolution on the catalog surface
    spark.sql("INSERT INTO sdftc.sdft (k, v) VALUES (21, 'v21')")
    spark.sql("INSERT INTO sdftc.sdft VALUES (22, 'v22', 'gold')")
    assert(spark.table("sdftc.sdft").where(col("tier") === "basic").count() === 21L)
    assert(spark.table("sdftc.sdft").where(col("tier") === "gold").count() === 1L)
    // both read paths agree row-for-row
    val a = spark.table("sdftc.sdft").collect().map(_.toSeq.mkString("|")).sorted
    val b = lake.read("sdft").collect().map(_.toSeq.mkString("|")).sorted
    assert(a.toSeq === b.toSeq)
    // MoR delete composes with a defaulted column (positional = name-free)
    lake.deleteWhereMor(col("k") === 5L, "sdft")
    assert(spark.table("sdftc.sdft").count() === 21L)
    assert(spark.table("sdftc.sdft").where(col("k") === 5L).count() === 0L)
  }

  test("evolution commits are snapshots: history records them and VACUUM keeps the schema") {
    val lake = new Lakehouse(spark, freshRoot())
    mk(lake)
    val before = lake.snapshots("t").size
    lake.addColumns("t", StructType.fromDDL("tag STRING"))
    assert(lake.snapshots("t").size === before + 1)
    // expiry keeps the current (evolved) read intact
    lake.expireSnapshots("t", keepLast = 1)
    lake.removeOrphans("t", staleMillis = 0L)
    assert(lake.read("t").columns.toSeq === Seq("k", "v", "x", "tag"))
    assert(lake.read("t").count() === 2)
  }
}
