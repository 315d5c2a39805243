package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.{DataFrame, functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Vectorized (ColumnarBatch) decode path of graft-avro.
  *
  * Contract: flat primitive-leaf projections with no merge-on-read
  * state decode into OnHeapColumnVectors (the scan reports columnar and
  * Spark inserts ColumnarToRow); nested/metadata/delete-bearing reads
  * fall back to the row decoder with identical results.
  */
class ColumnarDecodeSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp() = graft.operators.Catalog.tempDir("graft_columnar")

  private def scanOf(df: DataFrame): BatchScanExec = {
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case o => o.children
      }
      p +: kids.flatMap(walk)
    }
    val scans = walk(df.queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b }
    scans should not be empty
    scans.head
  }

  private def isColumnar(df: DataFrame): Boolean = scanOf(df).supportsColumnar

  test("flat primitive projection scans columnar and round-trips exactly") {
    val dir = tmp()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs.repartition(3).write.format("graft-avro").mode("append").save(dir)
    val back = spark.read.format("graft-avro").load(dir)
    assert(isColumnar(back), "flat primitive scan should be columnar")

    def sig(df: DataFrame) = df
      .select(F.md5(F.concat_ws("|",
        F.col("doc_id"), F.col("text"), F.col("lang"),
        F.col("source"), F.col("n_chars"))).as("h"))
      .agg(F.sum(F.conv(F.substring(F.col("h"), 1, 8), 16, 10).cast("long")))
      .head().getLong(0)
    sig(back) shouldBe sig(docs)
  }

  test("columnar survives sync-range splits of one large file") {
    val dir = tmp()
    spark.range(200000)
      .selectExpr("id", "cast(id % 97 as double) as d",
        "repeat(cast(id as string), 8) as s")
      .coalesce(1)
      .write.format("graft-avro").mode("append").save(dir)
    val back = spark.read.format("graft-avro")
      .option("maxSplitBytes", 256 * 1024).load(dir)
    ScanSplits.count(back) should be > 1
    assert(isColumnar(back))
    back.count() shouldBe 200000
    back.agg(F.sum("id")).head().getLong(0) shouldBe
      (0L until 200000L).sum
  }

  test("residual filters still apply on the columnar path") {
    val dir = tmp()
    spark.range(1000).selectExpr("id", "id % 10 as m")
      .write.format("graft-avro").mode("append").save(dir)
    val f = spark.read.format("graft-avro").load(dir)
      .filter(F.col("m") === 3 && F.col("id") < 500)
    assert(isColumnar(f))
    f.count() shouldBe 50
    // nulls: vector putNull path
    val dir2 = tmp()
    spark.range(100)
      .selectExpr("id", "if(id % 3 = 0, null, cast(id as string)) as s")
      .write.format("graft-avro").mode("append").save(dir2)
    val back = spark.read.format("graft-avro").load(dir2)
    assert(isColumnar(back))
    back.filter(F.col("s").isNull).count() shouldBe 34
  }

  test("struct/array projections are columnar; metadata columns are not") {
    import spark.implicits._
    val dir = tmp()
    Seq((1L, ("alice", 10.5), Seq("a", "b")), (2L, ("bob", -3.0), Seq("c")))
      .toDF("id", "info", "tags")
      .write.format("graft-avro").mode("append").save(dir)
    val nested = spark.read.format("graft-avro").load(dir)
    assert(isColumnar(nested), "struct projections decode columnar (r18)")
    nested.select("info._1").collect().map(_.getString(0)).sorted
      .toSeq shouldBe Seq("alice", "bob")
    val flat = spark.read.format("graft-avro").load(dir)
      .select("id", "tags")
    assert(isColumnar(flat))
    flat.agg(F.sum("id")).head().getLong(0) shouldBe 3L
    flat.select(F.explode(F.col("tags"))).collect()
      .map(_.getString(0)).sorted.toSeq shouldBe Seq("a", "b", "c")

    val withMeta = spark.read.format("graft-avro").load(dir)
      .select(F.col("id"), F.col("_graft_file"))
    assert(!isColumnar(withMeta), "metadata columns must stay row-based")
    withMeta.count() shouldBe 2
  }

  test("primitive arrays decode columnar, matching the row path exactly") {
    val dir = tmp()
    // embeddings-like payload: nullable array column, nullable float
    // elements, empty arrays — across several files and a split
    spark.range(20000)
      .selectExpr("id",
        """CASE WHEN id % 17 = 0 THEN NULL
           WHEN id % 13 = 0 THEN array()
           ELSE transform(sequence(0, CAST(id % 7 AS INT)),
             x -> CASE WHEN (id + x) % 11 = 0 THEN NULL
                  ELSE CAST(id * 0.5 + x AS FLOAT) END)
           END as emb""",
        "transform(sequence(0, CAST(id % 3 AS INT)), " +
          "x -> concat('t', cast(id % 29 as string))) as tags")
      .repartition(3)
      .write.format("graft-avro").mode("append").save(dir)
    val cold = spark.read.format("graft-avro").load(dir)
    assert(isColumnar(cold), "primitive-array projection should be columnar")
    def sig(df: DataFrame): Long = df
      .select(F.md5(F.concat_ws("|",
        F.col("id"),
        F.coalesce(F.col("emb").cast("string"), F.lit("<null>")),
        F.col("tags").cast("string"))).as("h"))
      .agg(F.sum(F.conv(F.substring(F.col("h"), 1, 8), 16, 10).cast("long")))
      .head().getLong(0)
    val rowPath = spark.read.format("graft-avro")
      .option("columnar", "false").load(dir)
    sig(cold) shouldBe sig(rowPath)
    // drift: an OLDER file without the array column (the newest file's
    // schema wins inference) serves null arrays on the columnar path
    val dirD = tmp()
    spark.range(10).selectExpr("id")
      .write.format("graft-avro").mode("append").save(dirD)
    spark.range(10, 20)
      .selectExpr("id", "array(id, id * 2) as emb")
      .write.format("graft-avro").mode("append").save(dirD)
    val drifted = spark.read.format("graft-avro").load(dirD)
    assert(isColumnar(drifted))
    drifted.filter(F.col("emb").isNull).count() shouldBe 10L
    drifted.select(F.explode(F.col("emb")).as("e"))
      .agg(F.sum("e")).head().getLong(0) shouldBe
      (10L until 20L).map(i => i + i * 2).sum
    // arrays of structs stay on rows
    import spark.implicits._
    val dir2 = tmp()
    Seq((1L, Seq((1, "x")))).toDF("id", "pairs")
      .write.format("graft-avro").mode("append").save(dir2)
    assert(!isColumnar(spark.read.format("graft-avro").load(dir2)))
  }

  test("structs and maps decode columnar, matching the row path exactly") {
    import spark.implicits._
    val dir = tmp()
    spark.range(20000)
      .selectExpr("id",
        // nullable struct with nullable fields, incl. a nested array
        """CASE WHEN id % 19 = 0 THEN NULL ELSE named_struct(
             'name', CASE WHEN id % 7 = 0 THEN NULL
                     ELSE concat('u', cast(id % 977 as string)) END,
             'score', id * 0.25,
             'hist', transform(sequence(0, CAST(id % 4 AS INT)),
                       x -> id + x)) END as info""",
        // string-keyed map with nullable values, sometimes empty/null
        """CASE WHEN id % 23 = 0 THEN NULL
           WHEN id % 13 = 0 THEN map()
           ELSE map('a', id, 'b',
             CASE WHEN id % 11 = 0 THEN NULL ELSE id * 2 END) END as m""")
      .repartition(3)
      .write.format("graft-avro").mode("append").save(dir)
    val cold = spark.read.format("graft-avro").load(dir)
    assert(isColumnar(cold), "struct/map projection should be columnar")
    def sig(df: DataFrame): Long = df
      .select(F.md5(F.concat_ws("|",
        F.col("id"),
        F.coalesce(F.col("info").cast("string"), F.lit("<null>")),
        F.coalesce(F.to_json(F.col("m")), F.lit("<null>")))).as("h"))
      .agg(F.sum(F.conv(F.substring(F.col("h"), 1, 8), 16, 10).cast("long")))
      .head().getLong(0)
    val rowPath = spark.read.format("graft-avro")
      .option("columnar", "false").load(dir)
    sig(cold) shouldBe sig(rowPath)
    // nested-field aggregates line up
    cold.agg(F.sum(F.col("info.hist")(0))).head() shouldBe
      rowPath.agg(F.sum(F.col("info.hist")(0))).head()
    // multi-branch tagged-union structs vectorize since r16: both
    // decode tiers dispatch on the wire's union index — a foreign
    // [string, long] union file infers as the tagged struct AND reads
    // columnar, matching the row path exactly
    val dir2 = tmp()
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.generic.{GenericData, GenericDatumWriter,
      GenericRecord}
    val unionS = Schema.createUnion(java.util.Arrays.asList(
      Schema.create(Schema.Type.STRING), Schema.create(Schema.Type.LONG)))
    val recS = SchemaBuilder.record("U").namespace("fix").fields()
      .requiredLong("uid")
      .name("v").`type`(unionS).noDefault()
      .endRecord()
    val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](recS))
    w.create(recS, new java.io.File(dir2, "foreign.avro"))
    try (0 until 10).foreach { i =>
      val r = new GenericData.Record(recS)
      r.put("uid", i.toLong)
      r.put("v", if (i % 2 == 0) s"s$i" else Long.box(i * 10L))
      w.append(r)
    } finally w.close()
    val uread = spark.read.format("graft-avro").load(dir2)
    assert(isColumnar(uread), "tagged-union structs vectorize (r16)")
    val urows = uread.select("uid", "v.tag", "v.string", "v.long")
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)))).sortBy(_._1)
    urows.length shouldBe 10
    urows.foreach { case (uid, tag, s, l) =>
      if (uid % 2 == 0) {
        tag shouldBe "string"
        s shouldBe Some(s"s$uid")
        l shouldBe None
      } else {
        tag shouldBe "long"
        s shouldBe None
        l shouldBe Some(uid * 10L)
      }
    }
    // row/columnar equality on the union column
    val urow = spark.read.format("graft-avro")
      .option("columnar", "false").load(dir2)
      .select("uid", "v.tag", "v.string", "v.long").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.get(2)), Option(r.get(3)))).sortBy(_._1)
    urows.toSeq shouldBe urow.toSeq
  }

  test("struct null-bit scrub survives dead rows from deletes") {
    val dir = tmp()
    spark.range(100)
      .selectExpr("id",
        "named_struct('a', CASE WHEN id % 2 = 0 THEN NULL " +
          "ELSE cast(id as string) END, 'b', id * 3) as st")
      .coalesce(1)
      .write.format("graft-avro").mode("overwrite").save(dir)
    // kill odd ids (whose st.a is NON-null): the next occupant of each
    // scrubbed slot is an even id with st.a NULL — and vice versa risks
    // stale child null bits without the recursive scrub
    AvroMaintenance.deleteWhere(spark, dir, "id",
      (1L until 100L by 2).toSeq)
    val back = spark.read.format("graft-avro").load(dir)
    assert(isColumnar(back))
    val rows = back.select("id", "st.a", "st.b").collect()
    rows.length shouldBe 50
    rows.foreach { r =>
      r.getLong(0) % 2 shouldBe 0L
      r.isNullAt(1) shouldBe true
      r.getLong(2) shouldBe r.getLong(0) * 3
    }
  }

  test("arrays compose with equality deletes on the columnar path") {
    val dir = tmp()
    spark.range(100)
      .selectExpr("id", "array(id, id + 1) as a")
      .write.format("graft-avro").mode("overwrite").save(dir)
    AvroMaintenance.deleteWhere(spark, dir, "id", Seq(7L, 50L))
    val back = spark.read.format("graft-avro").load(dir)
    assert(isColumnar(back))
    back.count() shouldBe 98
    back.select(F.explode(F.col("a")).as("e"))
      .agg(F.sum("e")).head().getLong(0) shouldBe
      (0L until 100L).filterNot(Set(7L, 50L))
        .map(i => i + (i + 1)).sum
  }

  test("schema drift across files serves nulls on the columnar path") {
    val dir = tmp()
    // older file: two columns; newer file adds a third
    spark.range(10).selectExpr("id", "cast(id as string) as s")
      .write.format("graft-avro").mode("append").save(dir)
    spark.range(10, 20)
      .selectExpr("id", "cast(id as string) as s", "id * 2 as extra")
      .write.format("graft-avro").mode("append").save(dir)
    val back = spark.read.format("graft-avro").load(dir)
    assert(isColumnar(back))
    back.count() shouldBe 20
    back.filter(F.col("extra").isNull).count() shouldBe 10
    back.agg(F.sum("extra")).head().getLong(0) shouldBe
      (10L until 20L).map(_ * 2).sum
  }

  test("ADD COLUMN DEFAULT literals survive the columnar path") {
    // the direct plan refuses non-null declared defaults; the resolver
    // fallback inside the columnar reader must serve the literal
    val root = tmp()
    spark.conf.set("spark.sql.catalog.gcol",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcol.root", root)
    spark.sql("DROP TABLE IF EXISTS gcol.ns.defaults")
    spark.sql("CREATE TABLE gcol.ns.defaults (id BIGINT)")
    spark.sql("INSERT INTO gcol.ns.defaults VALUES (1), (2)")
    spark.sql("ALTER TABLE gcol.ns.defaults ADD COLUMN tag STRING DEFAULT 'x'")
    spark.sql("INSERT INTO gcol.ns.defaults VALUES (3, 'y')")
    val rows = spark.sql(
        "SELECT id, tag FROM gcol.ns.defaults ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    rows shouldBe Array((1L, "x"), (2L, "x"), (3L, "y"))
  }

  test("widened column + ADD COLUMN DEFAULT decodes on the resolver fallback") {
    // The non-null declared default pushes old files onto the
    // resolver path, where resolveReader keeps the writer's NARROW
    // int/float schema for present fields — the appenders must widen
    // at decode (readInt().toLong), never readLong into an INT
    // grammar terminal (the r13 AvroTypeException regression).
    val root = tmp()
    spark.conf.set("spark.sql.catalog.gwide",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gwide.root", root)
    spark.sql("DROP TABLE IF EXISTS gwide.ns.w")
    spark.sql("CREATE TABLE gwide.ns.w (id BIGINT, x INT, f FLOAT)")
    spark.sql("INSERT INTO gwide.ns.w VALUES (1, 10, 1.5), (2, 20, 2.5)")
    spark.sql("ALTER TABLE gwide.ns.w ALTER COLUMN x TYPE BIGINT")
    spark.sql("ALTER TABLE gwide.ns.w ALTER COLUMN f TYPE DOUBLE")
    spark.sql("ALTER TABLE gwide.ns.w ADD COLUMN tag STRING DEFAULT 'x'")
    spark.sql("INSERT INTO gwide.ns.w VALUES (3, 30, 3.5, 'y')")
    val rows = spark.sql(
        "SELECT id, x, f, tag FROM gwide.ns.w ORDER BY id")
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3)))
    rows shouldBe Array((1L, 10L, 1.5, "x"), (2L, 20L, 2.5, "x"),
      (3L, 30L, 3.5, "y"))
  }

  test("column renames decode columnar (alias name indirection)") {
    val dir = tmp()
    spark.range(10).selectExpr("id", "cast(id as string) as old_s")
      .write.format("graft-avro").mode("append").save(dir)
    AvroMaintenance.renameColumn(dir, "old_s", "s")
    // post-rename file carries the new name natively
    spark.range(10, 20).selectExpr("id", "cast(id as string) as s")
      .write.format("graft-avro").mode("append").save(dir)
    val back = spark.read.format("graft-avro").load(dir)
    assert(isColumnar(back), "rename views vectorize since r20")
    back.count() shouldBe 20
    back.select("s").collect().map(_.getString(0)).sorted shouldBe
      (0L until 20L).map(_.toString).toArray.sorted
    // renamed column pruned OUT: the old files' field skips cleanly
    back.select("id").agg(F.sum("id")).head().getLong(0) shouldBe
      (0L until 20L).sum
  }

  test("tier-1 direct plan translates writer names through aliases") {
    import org.apache.spark.sql.types._
    val struct = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StringType)))
    val writerStruct = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("old_s", StringType)))
    val writer = graft.avro.AvroSchemaConverter
      .toAvro(writerStruct, "r", None, None)
    val reader = AvroReaderFactory.resolveReader(writer, struct, "test",
      renamedAway = Set("old_s"),
      fileNameOf = n => if (n == "s") "old_s" else n)
    // the parser-free tier plans (no resolver fallback) under the alias
    DirectVectorPlan.build(writer, reader, struct) should not be null
  }

  test("tier-1 direct plan covers tagged unions and shadow fields") {
    import org.apache.spark.sql.types._
    import org.apache.avro.Schema
    // tagged union: writer [string, long] column, catalyst carrier
    val unionS = Schema.createUnion(java.util.Arrays.asList(
      Schema.create(Schema.Type.STRING), Schema.create(Schema.Type.LONG)))
    val recS = org.apache.avro.SchemaBuilder.record("U").namespace("t1")
      .fields()
      .requiredLong("uid")
      .name("v").`type`(unionS).noDefault()
      .endRecord()
    val (dt, _, md) = graft.avro.AvroSchemaConverter.toDataType(unionS)
    val struct = StructType(Seq(
      StructField("uid", LongType, nullable = false),
      StructField("v", dt, nullable = true, metadata = md)))
    val reader = AvroReaderFactory.resolveReader(recS, struct, "test")
    DirectVectorPlan.build(recS, reader, struct) should not be null
    // shadow case (alias consumer 'b' PRUNED from the projection, old
    // name 'a' re-added): the renamed-away writer field compiles to a
    // typed skip and the re-added column null-fills — direct-plan-able
    val pruned = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("a", StringType)))
    val writerStruct = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("a", StringType)))
    val writer = graft.avro.AvroSchemaConverter
      .toAvro(writerStruct, "r", None, None)
    val shReader = AvroReaderFactory.resolveReader(writer, pruned, "test",
      renamedAway = Set("a"),
      fileNameOf = identity)
    // the shadow field exists on the reader (id, a, __graft_shadow_a)…
    shReader.getFields.size shouldBe pruned.fields.length + 1
    // …and tier-1 still plans (old-name bytes skip, re-added 'a' nulls)
    DirectVectorPlan.build(writer, shReader, pruned) should not be null
  }

  test("rename + widen + declared default rides the resolver tier, columnar") {
    val root = tmp()
    spark.conf.set("spark.sql.catalog.grw", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grw.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS grw.ns")
    spark.sql("DROP TABLE IF EXISTS grw.ns.t")
    spark.sql("CREATE TABLE grw.ns.t (id BIGINT, x INT, old_s STRING)")
    spark.sql("INSERT INTO grw.ns.t VALUES (1, 10, 'a'), (2, 20, 'b')")
    spark.sql("ALTER TABLE grw.ns.t RENAME COLUMN old_s TO s")
    spark.sql("ALTER TABLE grw.ns.t ALTER COLUMN x TYPE BIGINT")
    // the non-null default forces old files onto the resolver tier —
    // which must apply the alias AND the narrow int terminal together
    spark.sql("ALTER TABLE grw.ns.t ADD COLUMN tag STRING DEFAULT 'x'")
    spark.sql("INSERT INTO grw.ns.t VALUES (3, 30, 'c', 'y')")
    val df = spark.sql("SELECT id, x, s, tag FROM grw.ns.t ORDER BY id")
    assert(isColumnar(df))
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))) shouldBe
      Array((1L, 10L, "a", "x"), (2L, 20L, "b", "x"), (3L, 30L, "c", "y"))
  }

  test("re-added historical names decode columnar (shadow discards)") {
    import org.apache.spark.sql.types._
    val dir = tmp()
    spark.range(5).selectExpr("id", "cast(id as string) as a")
      .write.format("graft-avro").mode("append").save(dir)
    AvroMaintenance.renameColumn(dir, "a", "b")
    AvroMaintenance.addColumn(dir, StructField("a", StringType)) // re-add
    spark.range(5, 8)
      .selectExpr("id", "cast(id as string) as b", "concat('n', id) as a")
      .write.format("graft-avro").mode("append").save(dir)
    val back = spark.read.format("graft-avro").load(dir)
    // r16: shadow fields are typed discards on both tiers — the old
    // file's renamed-away bytes are consumed, never land in the
    // re-added column, and the scan stays columnar
    assert(isColumnar(back),
      "shadow-bearing rename views vectorize (r16)")
    back.filter(F.col("a").isNull).count() shouldBe 5
    back.filter(F.col("a").isNotNull).count() shouldBe 3
    back.agg(F.count("b")).head().getLong(0) shouldBe 8
    // exact equality against the row path, all three columns
    val sigOf = (df: org.apache.spark.sql.DataFrame) =>
      df.select("id", "a", "b").collect()
        .map(r => (r.getLong(0), Option(r.getString(1)),
          r.getString(2))).sortBy(_._1).toSeq
    sigOf(back) shouldBe sigOf(spark.read.format("graft-avro")
      .option("columnar", "false").load(dir))
    // the PRUNED projection (alias consumer dropped) is the case the
    // shadow exists for: the writer's old-name bytes must not resolve
    // into the re-added same-named column
    spark.read.format("graft-avro").load(dir).select("a")
      .collect().flatMap(r => Option(r.getString(0))).sorted.toSeq shouldBe
      Seq("n5", "n6", "n7")
  }

  test("equality deletes apply ON the columnar path, batches stay dense") {
    val dir = tmp()
    spark.range(100).selectExpr("id", "id % 4 as g")
      .write.format("graft-avro").mode("append").save(dir)
    val pre = spark.read.format("graft-avro").load(dir)
    assert(isColumnar(pre))
    AvroMaintenance.deleteWhere(spark, dir, "g", Seq(1L))
    val post = spark.read.format("graft-avro").load(dir)
    assert(isColumnar(post),
      "equality deletes decode columnar since r16 (slot re-decode)")
    post.count() shouldBe 75
    post.agg(F.sum("id")).head().getLong(0) shouldBe
      (0L until 100L).filter(_ % 4 != 1).sum
    // the delete column pruned from the projection still kills exactly
    // (widened into the decode schema, exposed-batch prefix unchanged)
    val pruned = spark.read.format("graft-avro").load(dir).select("id")
    assert(isColumnar(pruned))
    pruned.collect().map(_.getLong(0)).sorted shouldBe
      (0L until 100L).filter(_ % 4 != 1).toArray
  }

  test("positional deletes apply on the columnar path across splits") {
    val dir = tmp()
    spark.range(20000)
      .selectExpr("id as k", "repeat('x', 200) as pad").coalesce(1)
      .write.format("graft-avro").option("codec", "null")
      .mode("overwrite").save(dir)
    val rel = AvroFileSource.listAvro(new java.io.File(dir)).head.getName
    val dead = Seq(0L, 5L, 4999L, 5000L, 9999L, 15000L, 19999L)
    AvroMaintenance.deleteAtPositions(dir, rel, dead)
    val df = spark.read.format("graft-avro")
      .option("maxSplitBytes", "262144").load(dir).select("k")
    assert(isColumnar(df), "posdel-bearing read decodes columnar")
    df.count() shouldBe (20000 - dead.size)
    df.agg(F.sum("k")).head().getLong(0) shouldBe
      ((0L until 20000L).sum - dead.sum)
  }

  test("an all-dead stretch longer than one batch stays exact") {
    val dir = tmp()
    // one file, 10k rows; kill rows 1000..8999 (8000 consecutive —
    // spans two 4096-row batch windows entirely)
    spark.range(10000)
      .selectExpr("id as k", "if(id >= 1000 and id < 9000, 1L, 0L) as z")
      .coalesce(1).write.format("graft-avro").mode("overwrite").save(dir)
    AvroMaintenance.deleteWhere(spark, dir, "z", Seq(1L))
    val df = spark.read.format("graft-avro").load(dir).select("k")
    assert(isColumnar(df))
    df.collect().map(_.getLong(0)).sorted shouldBe
      ((0L until 1000L) ++ (9000L until 10000L)).toArray
  }

  test("decimal columns decode columnar and round-trip exactly") {
    val dir = tmp()
    spark.range(1000)
      .selectExpr("id",
        "CAST(CAST(id AS DECIMAL(9,2)) / 7 AS DECIMAL(12,4)) AS small",
        "CAST(CAST(id AS DECIMAL(30,0)) * 1234567890123456789 AS DECIMAL(38,6)) AS big",
        "CAST(-id AS DECIMAL(18,3)) AS neg")
      .write.format("graft-avro").mode("overwrite").save(dir)
    val back = spark.read.format("graft-avro").load(dir)
    assert(isColumnar(back), "decimal projection should be columnar")
    val row = spark.read.format("graft-avro").option("columnar", "false")
      .load(dir)
    back.orderBy("id").collect() shouldBe row.orderBy("id").collect()
    // spot values: exact decimal arithmetic survived both paths
    val d = back.filter("id = 700").head()
    d.getDecimal(1) shouldBe new java.math.BigDecimal("100.0000")
    d.getDecimal(3) shouldBe new java.math.BigDecimal("-700.000")
  }
}
