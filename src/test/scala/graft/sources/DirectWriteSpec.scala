package graft.sources

import graft.SparkSpec
import graft.avro.{AvroDirectDatumWriter, AvroInternalCodec,
  AvroSchemaConverter}
import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumWriter,
  GenericRecord}
import org.apache.avro.io.{BinaryEncoder, EncoderFactory}
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The graft-avro datum writer (AvroDirectDatumWriter).
  *
  * Contract: for every supported shape, each row's encoding is
  * BYTE-IDENTICAL to the reference — `GenericDatumWriter` over the
  * GenericRecord that [[AvroInternalCodec.encoderFor]] builds from the
  * same internal row — so the encode fast path can never change what a
  * reader sees. Maps are exempt from the byte check (Avro maps are
  * unordered; the reference iterates a HashMap) and are checked by
  * round-trip equality instead. Every shape `toAvro` emits must plan
  * when the writer is created; a pair outside that set fails right
  * there with an IllegalArgumentException.
  */
class DirectWriteSpec extends AnyFunSuite with SparkSpec with Matchers {

  private def tmp() = graft.operators.Catalog.tempDir("graft_directwrite")

  private def writerSchema(struct: StructType): Schema =
    AvroSchemaConverter.toAvro(struct, "topLevelRecord", None, None)

  private def encode(write: BinaryEncoder => Unit): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    write(enc)
    enc.flush()
    out.toByteArray
  }

  /** Every row of `df`, encoded by the direct writer and by the
    * reference, must give the same bytes.
    */
  private def assertDatumsIdentical(df: DataFrame): Unit = {
    val struct = df.schema
    val avro = writerSchema(struct)
    val direct = AvroDirectDatumWriter(struct, avro)
    val toRecord = AvroInternalCodec.encoderFor(struct, avro)
    val reference = new GenericDatumWriter[GenericRecord](avro)
    val rows = df.queryExecution.toRdd.map(_.copy()).collect()
    rows should not be empty
    rows.iterator.zipWithIndex.foreach { case (r, i) =>
      val got = encode(direct.write(r, _))
      val want = encode(reference.write(toRecord(r), _))
      assert(java.util.Arrays.equals(got, want),
        s"row $i: direct and reference bytes differ for $r")
    }
  }

  /** Write `df` through graft-avro and read it back unchanged. */
  private def roundTrip(df: DataFrame,
      opts: Map[String, String] = Map.empty): String = {
    val dir = tmp()
    df.write.format("graft-avro").options(opts).mode("append").save(dir)
    val back = spark.read.format("graft-avro").load(dir)
      .select(df.columns.map(F.col).toIndexedSeq: _*)
    back.exceptAll(df).count() shouldBe 0
    df.exceptAll(back).count() shouldBe 0
    dir
  }

  test("flat mixed primitives: datum bytes identical to the reference") {
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
    assertDatumsIdentical(df)
    roundTrip(df)
  }

  test("timestamps: NTZ and millis metadata identical to the reference") {
    def millis(name: String) = new MetadataBuilder()
      .putString("avro.logicalType", name).build()
    // sub-millisecond parts and pre-epoch values: a millis column must
    // floor, not truncate or pass micros through
    val base = spark.range(-3000, 3000).coalesce(1).selectExpr(
      "timestamp_micros(id * 1000003 + 7) as ts",
      "cast(timestamp_micros(id * 999983 - 11) as timestamp_ntz) as ntz")
    val df = base.select(F.col("ts"), F.col("ntz"),
      F.col("ts").as("ts_ms", millis("timestamp-millis")),
      F.col("ntz").as("ntz_ms", millis("local-timestamp-millis")))
    val avro = writerSchema(df.schema)
    avro.getField("ts_ms").schema().toString should include("\"timestamp-millis\"")
    avro.getField("ntz_ms").schema().toString should include(
      "\"local-timestamp-millis\"")
    assertDatumsIdentical(df)
  }

  test("sorted write: datums identical, block index published") {
    val df = spark.range(30000).coalesce(1)
      .selectExpr("id", "md5(cast(id as string)) as s",
        "date_add(date'2020-01-01', cast(id % 3650 as int)) as dt")
      .sortWithinPartitions("id")
    assertDatumsIdentical(df)
    val dir = roundTrip(df, Map("sortedBy" -> "id"))
    AvroFileSource.blockIdxFile(new java.io.File(dir)).length() should be > 0L
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
    assertDatumsIdentical(df)
    roundTrip(df)
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

  /** Forge a foreign container file of `n` records and load it. */
  private def foreign(schema: Schema, n: Int)(fill: (GenericRecord, Int) => Unit)
      : DataFrame = {
    val src = tmp()
    val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new java.io.File(src, "f.avro"))
    try (0 until n).foreach { i =>
      val r = new GenericData.Record(schema)
      fill(r, i)
      w.append(r)
    } finally w.close()
    spark.read.format("graft-avro").load(src).coalesce(1)
  }

  test("multi-branch union round-trips through a rewrite byte-identically") {
    import org.apache.avro.SchemaBuilder
    val unionS = Schema.createUnion(java.util.Arrays.asList(
      Schema.create(Schema.Type.STRING), Schema.create(Schema.Type.LONG)))
    val recS = SchemaBuilder.record("U").namespace("ab").fields()
      .requiredLong("uid")
      .name("v").`type`(unionS).noDefault()
      .endRecord()
    val df = foreign(recS, 4000) { (r, i) =>
      r.put("uid", i.toLong)
      r.put("v", if (i % 2 == 0) s"s$i" else Long.box(i * 10L))
    }.orderBy("uid")
    assertDatumsIdentical(df)
    val dir = tmp()
    df.write.format("graft-avro").mode("append").save(dir)
    val back = spark.read.format("graft-avro").load(dir)
    back.where("v.tag = 'string'").count() shouldBe 2000
    back.agg(F.sum("v.long")).head().getLong(0) shouldBe
      (0 until 4000).filter(_ % 2 == 1).map(_ * 10L).sum
  }

  test("enum and fixed columns from a foreign file: datums identical") {
    import org.apache.avro.SchemaBuilder
    val colour = SchemaBuilder.enumeration("Colour").namespace("ab")
      .symbols("RED", "GREEN", "BLUE")
    val digest = SchemaBuilder.fixed("Digest").namespace("ab").size(4)
    val recS = SchemaBuilder.record("E").namespace("ab").fields()
      .requiredLong("id")
      .name("c").`type`(colour).noDefault()
      .name("d").`type`(digest).noDefault()
      .name("oc").`type`().optional().`type`(colour)
      .endRecord()
    val df = foreign(recS, 3000) { (r, i) =>
      r.put("id", i.toLong)
      r.put("c", new GenericData.EnumSymbol(colour, colour.getEnumSymbols.get(i % 3)))
      r.put("d", new GenericData.Fixed(digest,
        java.nio.ByteBuffer.allocate(4).putInt(i * 7919).array()))
      r.put("oc", if (i % 4 == 0) null
        else new GenericData.EnumSymbol(colour, colour.getEnumSymbols.get(i % 2)))
    }
    val avro = writerSchema(df.schema)
    avro.getField("c").schema().getType shouldBe Schema.Type.ENUM
    avro.getField("d").schema().getType shouldBe Schema.Type.FIXED
    assertDatumsIdentical(df)
    roundTrip(df)
  }

  test("hive partitioning + buckets: datums identical, layout reads back") {
    val df = spark.range(8000).coalesce(1).selectExpr(
      "id", "cast(id % 3 as int) as p", "md5(cast(id as string)) as s")
    assertDatumsIdentical(df)
    val dir = roundTrip(df, Map("partitionBy" -> "p", "bucketBy" -> "id:4"))
    new java.io.File(dir).list().count(_.startsWith("p=")) shouldBe 3
  }

  test("every shape toAvro emits plans at writer creation") {
    def md(kv: (String, String)*): Metadata = {
      val b = new MetadataBuilder()
      kv.foreach { case (k, v) => b.putString(k, v) }
      b.build()
    }
    val lt = "avro.logicalType"
    val enumMd = new MetadataBuilder().putString("avro.enum.name", "ab.Colour")
      .putStringArray("avro.enum.symbols", Array("RED", "GREEN")).build()
    val fixedMd = new MetadataBuilder().putString("avro.fixed.name", "ab.Digest")
      .putLong("avro.fixed.size", 4L).build()
    val carrier = StructType(Seq(
      StructField(AvroSchemaConverter.UnionTagField, StringType, nullable = false),
      StructField("string", StringType), StructField("long", LongType)))
    val unionMd = new MetadataBuilder()
      .putStringArray(AvroSchemaConverter.MetaUnionBranches,
        Array("string", "long")).build()
    // one (type, metadata) per fieldSchema branch of toAvro
    val leaves: Seq[(String, DataType, Metadata)] = Seq(
      ("boolean", BooleanType, Metadata.empty),
      ("double", DoubleType, Metadata.empty),
      ("float", FloatType, Metadata.empty),
      ("int", IntegerType, Metadata.empty),
      ("time_millis", IntegerType, md(lt -> "time-millis")),
      ("long", LongType, Metadata.empty),
      ("time_micros", LongType, md(lt -> "time-micros")),
      ("null", NullType, Metadata.empty),
      ("string", StringType, Metadata.empty),
      ("enum", StringType, enumMd),
      ("uuid", StringType, md(lt -> "uuid")),
      ("bytes", BinaryType, Metadata.empty),
      ("fixed", BinaryType, fixedMd),
      ("decimal", DecimalType(12, 3), Metadata.empty),
      ("date", DateType, Metadata.empty),
      ("ts_micros", TimestampType, Metadata.empty),
      ("ts_millis", TimestampType, md(lt -> "timestamp-millis")),
      ("ntz_micros", TimestampNTZType, Metadata.empty),
      ("ntz_millis", TimestampNTZType, md(lt -> "local-timestamp-millis")),
      ("record", StructType(Seq(StructField("a", LongType),
        StructField("b", StringType, nullable = false))), Metadata.empty),
      ("union", carrier, unionMd))
    for ((name, dt, meta) <- leaves) {
      // toAvro cannot build [null, null] for a nullable null element
      val nullableElem = dt != NullType
      val placements = Seq(
        StructField(name, dt, nullable = false, meta),
        StructField(name, dt, nullable = true, meta),
        StructField(name, ArrayType(dt, nullableElem), nullable = true, meta),
        StructField(name, MapType(StringType, dt, nullableElem),
          nullable = true, meta))
      for (f <- placements) withClue(s"${f.dataType.simpleString} ($name): ") {
        val struct = StructType(Seq(f))
        noException should be thrownBy
          AvroDirectDatumWriter(struct, writerSchema(struct))
      }
    }
  }

  test("a mismatched pair fails at writer creation, naming the field") {
    val struct = StructType(Seq(StructField("id", LongType),
      StructField("n", LongType)))
    val avro = writerSchema(StructType(Seq(StructField("id", LongType),
      StructField("n", StringType))))
    val ex = intercept[IllegalArgumentException](
      AvroDirectDatumWriter(struct, avro))
    ex.getMessage should include("'n'")
    val nested = StructType(Seq(StructField("r",
      StructType(Seq(StructField("x", ArrayType(LongType)))))))
    val nestedAvro = writerSchema(StructType(Seq(StructField("r",
      StructType(Seq(StructField("x", ArrayType(DoubleType))))))))
    intercept[IllegalArgumentException](
      AvroDirectDatumWriter(nested, nestedAvro)).getMessage should
      include("'r.x[]'")
  }

  test("a null in a non-nullable primitive column fails the write") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    // DataFrame writes declare every column nullable, so drive the datum
    // writer directly with a non-nullable schema: it must fail loudly,
    // never write a silent 0/false
    val cols = Seq[(DataType, Any)](LongType -> 1L, BooleanType -> true,
      IntegerType -> 1, DateType -> 1, TimestampType -> 1L,
      TimestampNTZType -> 1L, FloatType -> 1f, DoubleType -> 1d)
    for ((dt, ok) <- cols) {
      val struct = StructType(Seq(StructField("c", dt, nullable = false),
        StructField("s", StringType, nullable = true)))
      val avro = writerSchema(struct)
      val w = new org.apache.avro.file.DataFileWriter[InternalRow](
        AvroDirectDatumWriter(struct, avro))
      w.create(avro, new java.io.ByteArrayOutputStream)
      try {
        w.append(new GenericInternalRow(Array[Any](ok, null)))
        withClue(s"$dt: ") {
          val ex = intercept[Exception](
            w.append(new GenericInternalRow(Array[Any](null, null))))
          ex.getCause shouldBe a[NullPointerException]
        }
      } finally w.close()
    }
  }
}
