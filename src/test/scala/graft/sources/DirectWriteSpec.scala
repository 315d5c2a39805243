package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, functions => F}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Direct InternalRow→BinaryEncoder write path (AvroDirectDatumWriter).
  *
  * Contract: for every supported shape the direct tier produces files
  * BYTE-IDENTICAL to the GenericRecord fallback tier (same schema JSON,
  * same block layout given the same row stream and task layout), and
  * the stat/zone sidecars match too — so the r21 encode fast path can
  * never change what a reader or the pruning machinery sees. Maps are
  * exempt from the byte check (Avro maps are unordered; the old path
  * iterated a HashMap) and are checked by round-trip equality instead.
  */
class DirectWriteSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp() = graft.operators.Catalog.tempDir("graft_directwrite")

  /** Run `write` twice — direct on, direct off — into sibling dirs and
    * return both roots. Single-partition inputs keep file sets aligned.
    */
  private def writeBoth(df: DataFrame, opts: Map[String, String] = Map.empty)
      : (String, String) = {
    val (a, b) = (tmp(), tmp())
    def save(dir: String, direct: Boolean): Unit = {
      System.setProperty("graft.avro.directWrite", direct.toString)
      try {
        val w = df.write.format("graft-avro")
        opts.foreach { case (k, v) => w.option(k, v) }
        w.mode("append").save(dir)
      } finally System.clearProperty("graft.avro.directWrite")
    }
    save(a, direct = true)
    save(b, direct = false)
    (a, b)
  }

  private def dataFiles(root: String): Seq[java.io.File] =
    AvroFileSource.listAvro(new java.io.File(root))
      .sortBy(f => f.getName.replaceAll("-[0-9a-f]{8}\\.avro$", ""))

  /** Byte equality modulo the header's 16-byte random sync marker and
    * its repetition after every block: normalize by substituting the
    * file's own sync bytes with zeros before comparing.
    */
  private def normalizedBytes(f: java.io.File): Array[Byte] = {
    val bytes = java.nio.file.Files.readAllBytes(f.toPath)
    val r = new org.apache.avro.file.DataFileReader(f,
      new org.apache.avro.generic.GenericDatumReader[AnyRef]())
    try {
      // DataFileReader exposes no sync accessor: find it as the final
      // 16 bytes (every container file ends with a sync marker)
      val sync = bytes.takeRight(16)
      val out = bytes.clone()
      var i = 0
      while (i <= out.length - 16) {
        if (java.util.Arrays.equals(out, i, i + 16, sync, 0, 16)) {
          java.util.Arrays.fill(out, i, i + 16, 0.toByte)
          i += 16
        } else i += 1
      }
      out
    } finally r.close()
  }

  private def assertFilesIdentical(a: String, b: String): Unit = {
    val (fa, fb) = (dataFiles(a), dataFiles(b))
    fa.size shouldBe fb.size
    fa.zip(fb).foreach { case (x, y) =>
      assert(java.util.Arrays.equals(normalizedBytes(x), normalizedBytes(y)),
        s"direct vs generic bytes differ: ${x.getName} vs ${y.getName}")
    }
  }

  private def sidecar(root: String, name: String): Option[String] = {
    val f = new java.io.File(root, name)
    if (!f.isFile) None
    else Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .replace(root, "<root>")
      // file names carry (taskId, random-suffix) noise across the two
      // write jobs — the CONTENT per file is what must match
      .replaceAll("part-[0-9]+-[0-9]+-[0-9a-f]{8}", "part"))
  }

  private def assertSidecarsMatch(a: String, b: String): Unit =
    Seq("_graft_zones_cols", "_graft_zones", "_graft_rows",
      "_graft_blockidx").foreach { s =>
      sidecar(a, s) shouldBe sidecar(b, s)
    }

  test("flat mixed primitives: byte-identical files and sidecars") {
    val df = spark.range(20000).coalesce(1).selectExpr(
      "id",
      "cast(id % 97 as int) as i",
      "cast(id % 2 = 0 as boolean) as b",
      "cast(id % 9973 as double) as d",
      "cast(id % 31 as float) as f",
      "md5(cast(id as string)) as s",
      "if(id % 11 = 0, null, repeat('x', cast(id % 5 as int))) as sn",
      "unhex(md5(cast(id as string))) as bin",
      "date_add(date'2020-01-01', cast(id % 3650 as int)) as dt",
      "timestamp_micros(1500000000000000 + id * 1000) as ts",
      "cast(cast(id as decimal(12,2)) / 7 as decimal(12,2)) as dec")
    val (a, b) = writeBoth(df)
    assertFilesIdentical(a, b)
    assertSidecarsMatch(a, b)
  }

  test("sorted write: zones, block index and sort marker identical") {
    val df = spark.range(30000).coalesce(1)
      .selectExpr("id", "md5(cast(id as string)) as s",
        "date_add(date'2020-01-01', cast(id % 3650 as int)) as dt")
      .sortWithinPartitions("id")
    val (a, b) = writeBoth(df, Map("sortedBy" -> "id"))
    assertFilesIdentical(a, b)
    assertSidecarsMatch(a, b)
    sidecar(a, "_graft_blockidx") should not be empty
  }

  test("nested structs and arrays: byte-identical") {
    val df = spark.range(5000).coalesce(1).selectExpr(
      "id",
      """named_struct('name', md5(cast(id as string)),
           'score', cast(id % 97 as double),
           'inner', named_struct('a', id * 2,
             'b', if(id % 3 = 0, null, cast(id as string)))) as info""",
      "transform(sequence(0, cast(id % 7 as int)), x -> id + x) as xs",
      "if(id % 5 = 0, null, array(cast(id as float))) as fs")
    val (a, b) = writeBoth(df)
    assertFilesIdentical(a, b)
  }

  test("maps: round-trip equality (entry order is representation-only)") {
    val dir = tmp()
    val df = spark.range(5000).coalesce(1).selectExpr(
      "id",
      "map(concat('k', id % 3), id, concat('q', id % 5), id * 2) as m")
    df.write.format("graft-avro").mode("append").save(dir)
    val back = spark.read.format("graft-avro").load(dir)
      .selectExpr("id", "m['k0']", "m['k1']", "m['k2']", "m['q0']", "m['q4']")
    val want = df
      .selectExpr("id", "m['k0']", "m['k1']", "m['k2']", "m['q0']", "m['q4']")
    back.exceptAll(want).count() shouldBe 0
    want.exceptAll(back).count() shouldBe 0
  }

  test("multi-branch union round-trips through a rewrite byte-identically") {
    // forge a foreign union file, read it (tagged struct), rewrite it
    // through graft-avro with both tiers
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.generic.{GenericData, GenericDatumWriter,
      GenericRecord}
    val unionS = Schema.createUnion(java.util.Arrays.asList(
      Schema.create(Schema.Type.STRING), Schema.create(Schema.Type.LONG)))
    val recS = SchemaBuilder.record("U").namespace("ab").fields()
      .requiredLong("uid")
      .name("v").`type`(unionS).noDefault()
      .endRecord()
    val src = tmp()
    val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](recS))
    w.create(recS, new java.io.File(src, "u.avro"))
    try {
      (0 until 4000).foreach { i =>
        val r = new GenericData.Record(recS)
        r.put("uid", i.toLong)
        r.put("v", if (i % 2 == 0) s"s$i" else Long.box(i * 10L))
        w.append(r)
      }
    } finally w.close()
    val df = spark.read.format("graft-avro").load(src).coalesce(1)
      .orderBy("uid")
    val (a, b) = writeBoth(df)
    assertFilesIdentical(a, b)
    // and the rewrite still reads back as the original union values
    val back = spark.read.format("graft-avro").load(a)
    back.where("v.tag = 'string'").count() shouldBe 2000
    back.agg(F.sum("v.long")).head().getLong(0) shouldBe
      (0 until 4000 by 1).filter(_ % 2 == 1).map(_ * 10L).sum
  }

  test("hive partitioning + buckets: identical layout and bytes") {
    val df = spark.range(8000).coalesce(1).selectExpr(
      "id", "cast(id % 3 as int) as p", "md5(cast(id as string)) as s")
    val (a, b) = writeBoth(df,
      Map("partitionBy" -> "p", "bucketBy" -> "id:4"))
    assertFilesIdentical(a, b)
    assertSidecarsMatch(a, b)
  }

  test("a null in a non-nullable primitive column fails the write") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    // DataFrame writes declare every column nullable, so drive the datum
    // writer directly with a non-nullable schema, in both tiers: the
    // direct tier must fail loudly like the GenericRecord tier, never
    // write a silent 0/false
    val cols = Seq[(DataType, Any)](LongType -> 1L, BooleanType -> true,
      IntegerType -> 1, DateType -> 1, TimestampType -> 1L,
      TimestampNTZType -> 1L, FloatType -> 1f, DoubleType -> 1d)
    for ((dt, ok) <- cols; direct <- Seq(true, false)) {
      val struct = StructType(Seq(StructField("c", dt, nullable = false),
        StructField("s", StringType, nullable = true)))
      val avro = graft.avro.AvroSchemaConverter.toAvro(struct, "r", None, None)
      System.setProperty("graft.avro.directWrite", direct.toString)
      val w =
        try new org.apache.avro.file.DataFileWriter[InternalRow](
          graft.avro.AvroDirectDatumWriter(struct, avro))
        finally System.clearProperty("graft.avro.directWrite")
      w.create(avro, new java.io.ByteArrayOutputStream)
      try {
        w.append(new GenericInternalRow(Array[Any](ok, null)))
        withClue(s"$dt (direct=$direct): ") {
          val ex = intercept[Exception](
            w.append(new GenericInternalRow(Array[Any](null, null))))
          ex.getCause shouldBe a[NullPointerException]
        }
      } finally w.close()
    }
  }
}
