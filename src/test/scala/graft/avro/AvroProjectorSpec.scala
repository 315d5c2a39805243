package graft.avro

import java.nio.ByteBuffer
import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.generic.{GenericData, GenericRecord, IndexedRecord}
import org.apache.spark.sql.DataFrame
import org.scalatest.matchers.should.Matchers
import org.scalatest.wordspec.AnyWordSpec

import graft.SparkSpec
import graft.sql.{Field, FlattenPlanner, GraftSql, SelectQuery}

import scala.jdk.CollectionConverters._

class AvroProjectorSpec extends AnyWordSpec with Matchers with SparkSpec {

  private val streetSchema = SchemaBuilder.record("Street").namespace("fix")
    .fields().requiredString("name").endRecord()
  private val addressSchema = SchemaBuilder.record("Address").namespace("fix")
    .fields()
    .name("street").`type`(streetSchema).noDefault()
    .name("street2").`type`().optional().`type`(streetSchema)
    .requiredString("city")
    .endRecord()
  private val personSchema = SchemaBuilder.record("Person").namespace("fix")
    .fields()
    .requiredString("name")
    .name("address").`type`(addressSchema).noDefault()
    .requiredInt("age")
    .endRecord()

  private def mk(i: Int) = {
    val st = new GenericData.Record(streetSchema)
    st.put("name", s"Street $i")
    val ad = new GenericData.Record(addressSchema)
    ad.put("street", st)
    ad.put("street2", null)
    ad.put("city", s"City ${i % 7}")
    val p = new GenericData.Record(personSchema)
    p.put("name", s"P$i"); p.put("address", ad); p.put("age", 20 + i % 60)
    p
  }

  // --- the parity suites' fixtures and query lists (AvroParitySpec,
  // AvroBridgeSpec), for the bulk-path oracle ----------------------------

  private val bAddressSchema = SchemaBuilder.record("Address").namespace("fix")
    .doc("where someone lives")
    .fields()
    .name("street").`type`(streetSchema).noDefault()
    .name("street2").`type`().optional().`type`(streetSchema)
    .requiredString("city").requiredString("state").requiredString("zip")
    .endRecord()
  private val bPersonSchema = SchemaBuilder.record("Person").namespace("fix")
    .fields()
    .requiredString("name")
    .name("address").`type`(bAddressSchema).noDefault()
    .endRecord()

  /** Both branches of the `[null, Street]` union. */
  private def bPersons: Seq[GenericData.Record] = Seq(true, false).map { with2 =>
    def street(n: String) = {
      val r = new GenericData.Record(streetSchema); r.put("name", n); r
    }
    val a = new GenericData.Record(bAddressSchema)
    a.put("street", street("Rose Ave"))
    a.put("street2", if (with2) street("Back Alley") else null)
    a.put("city", "Springfield"); a.put("state", "IL"); a.put("zip", "62701")
    val p = new GenericData.Record(bPersonSchema)
    p.put("name", "Homer"); p.put("address", a)
    p
  }

  private val ingredientSchema = SchemaBuilder.record("Ingredient")
    .namespace("fix").fields()
    .requiredString("name").requiredDouble("sugar").requiredDouble("fat")
    .endRecord()
  private val pizzaSchema = SchemaBuilder.record("Pizza").namespace("fix")
    .fields()
    .requiredString("name")
    .name("ingredients").`type`().array().items(ingredientSchema).noDefault()
    .requiredBoolean("vegetarian")
    .requiredLong("vegan")
    .requiredInt("calories")
    .endRecord()

  private def pizza() = {
    def ing(n: String, su: Double, f: Double) = {
      val r = new GenericData.Record(ingredientSchema)
      r.put("name", n); r.put("sugar", su); r.put("fat", f); r
    }
    val p = new GenericData.Record(pizzaSchema)
    p.put("name", "pepperoni")
    val arr = new java.util.ArrayList[Any]()
    arr.add(ing("pepperoni", 12.0, 4.4)); arr.add(ing("onions", 1.0, 0.4))
    p.put("ingredients", arr)
    p.put("vegetarian", false); p.put("vegan", 0L); p.put("calories", 98)
    p
  }

  private val simpleAddressSchema = SchemaBuilder.record("SimpleAddress")
    .namespace("fix").fields()
    .requiredString("street").requiredString("city").requiredString("state")
    .requiredString("zip").requiredString("country")
    .endRecord()

  private def simpleAddress() = {
    val r = new GenericData.Record(simpleAddressSchema)
    r.put("street", "1911 Musselman"); r.put("city", "Altoona")
    r.put("state", "PA"); r.put("zip", "16601"); r.put("country", "US")
    r
  }

  private val logicalSchema = SchemaBuilder.record("L").namespace("fix").fields()
    .name("dec").`type`(LogicalTypes.decimal(10, 2)
      .addToSchema(Schema.create(Schema.Type.BYTES))).noDefault()
    .name("d").`type`(LogicalTypes.date()
      .addToSchema(Schema.create(Schema.Type.INT))).noDefault()
    .name("tsu").`type`(LogicalTypes.timestampMicros()
      .addToSchema(Schema.create(Schema.Type.LONG))).noDefault()
    .endRecord()

  private def logical() = {
    val r = new GenericData.Record(logicalSchema)
    r.put("dec", ByteBuffer.wrap(
      new java.math.BigDecimal("12345.67").unscaledValue().toByteArray))
    r.put("d", 20000)
    r.put("tsu", 1700000000123456L)
    r
  }

  private val colour = Schema.createEnum("Color", null, "fix",
    java.util.Arrays.asList("RED", "GREEN"))
  private val hash = Schema.createFixed("Hash", null, "fix", 4)
  private val valuesSchema = SchemaBuilder.record("V").namespace("fix").fields()
    .name("c").`type`(colour).noDefault()
    .name("h").`type`(hash).noDefault()
    .name("m").`type`().map().values(Schema.create(Schema.Type.INT)).noDefault()
    .requiredString("keep")
    .endRecord()

  private def values() = {
    val r = new GenericData.Record(valuesSchema)
    r.put("c", new GenericData.EnumSymbol(colour, "GREEN"))
    r.put("h", new GenericData.Fixed(hash, Array[Byte](1, 2, 3, 4)))
    val m = new java.util.HashMap[String, Int]()
    m.put("x", 7); m.put("y", 9)
    r.put("m", m)
    r.put("keep", "yes")
    r
  }

  private val unionSchema = SchemaBuilder.record("Holder").namespace("fix")
    .fields()
    .requiredLong("id")
    .name("val").`type`(Schema.createUnion(java.util.Arrays.asList(
      Schema.create(Schema.Type.STRING),
      Schema.create(Schema.Type.INT)))).noDefault()
    .name("opt").`type`(Schema.createUnion(java.util.Arrays.asList(
      Schema.create(Schema.Type.NULL),
      Schema.create(Schema.Type.LONG),
      Schema.create(Schema.Type.BOOLEAN)))).noDefault()
    .endRecord()

  private def holders: Seq[GenericData.Record] =
    Seq[(Long, Any, Any)]((1L, "abc", 7L), (2L, Int.box(42), Boolean.box(true)),
      (3L, "xyz", null)).map { case (id, v, o) =>
      val r = new GenericData.Record(unionSchema)
      r.put("id", id); r.put("val", v); r.put("opt", o); r
    }

  /** (records, queries): every query runs over every record. */
  private def cases: Seq[(Seq[GenericData.Record], Seq[String])] = Seq(
    Seq(pizza()) -> Seq(
      // withstructure (AvroParitySpec, AvroBridgeSpec)
      "SELECT * FROM topic withstructure",
      "SELECT *, name as fieldName FROM topic withstructure",
      "SELECT *, ingredients as stuff FROM topic withstructure",
      "SELECT name as fieldName, * FROM topic withstructure",
      "SELECT vegan FROM topic withstructure",
      "SELECT ingredients.name FROM topic withstructure",
      "SELECT ingredients.name as fieldName, ingredients.sugar as fieldSugar FROM topic withstructure",
      "SELECT ingredients.*, ingredients.name as fieldName, ingredients.sugar as fieldSugar FROM topic withstructure",
      "SELECT ingredients.name as fieldName, ingredients.*, ingredients.sugar as fieldSugar FROM topic withstructure",
      "SELECT name, ingredients.name as fieldName, ingredients.sugar as fieldSugar, ingredients.*, calories as cals FROM topic withstructure",
      "SELECT name, ingredients.name as iname FROM t withstructure",
      // flatten
      "SELECT name, vegan, calories",
      "SELECT name as fieldName, vegan as V, calories as C",
      "SELECT calories as C ,vegan as V ,name as fieldName FROM topic"),
    Seq(simpleAddress()) -> Seq(
      "SELECT * FROM simpleAddress",
      "SELECT street as S, city, state, zip as Z, country as C FROM simpleAddress",
      "SELECT zip as Z, * FROM simpleAddress",
      "SELECT zip as Z, *, state as S FROM simpleAddress"),
    bPersons -> Seq(
      "SELECT *",
      "SELECT name, address.street.name as streetName, address.city",
      "SELECT address.street2.name as streetName2",
      "SELECT address.zip as Z, address.*",
      "SELECT * FROM t withstructure",
      "SELECT name, address.street2.name as s2 FROM t withstructure",
      "SELECT address.city, address.street2 FROM t withstructure"),
    Seq(logical()) -> Seq("SELECT dec as amount, d, tsu"),
    Seq(values()) -> Seq("SELECT c as colour, h, m, keep FROM t withstructure"),
    holders -> Seq(
      "SELECT id, val.tag as t, val.string as s, val.int as i, opt.tag as ot",
      "SELECT * FROM t withstructure"))

  /** The bulk path — one DataFrame, `df.sql`, back to records — as an
    * oracle independent of the compiled per-record kernel.
    */
  private def viaBulk(r: GenericRecord, plan: DataFrame => DataFrame): GenericRecord = {
    val df = plan(AvroBridge.toDF(spark, r.getSchema, Seq(r)))
    val (name, ns, doc) = AvroSchemaConverter.recordInfo(r.getSchema)
    val (_, back) = AvroBridge.fromDF(df, name, ns, doc)
    back.head
  }

  private def sameRecord(got: GenericRecord, want: GenericRecord): Unit = {
    got.getSchema shouldBe want.getSchema
    got.toString shouldBe want.toString
  }

  "record.sql" should {

    "agree with the bulk DataFrame path" in {
      import AvroSql.implicits._
      implicit val s: org.apache.spark.sql.SparkSession = spark
      import GraftSql.implicits._
      for ((recs, queries) <- cases; q <- queries; r <- recs)
        withClue(s"$q over $r: ") {
          sameRecord(r.sql(q), viaBulk(r, _.sql(q)))
          // second call is served by the cached plan
          sameRecord(r.sql(q), viaBulk(r, _.sql(q)))
        }
    }

    "agree with the bulk path for pre-parsed fields (EP3), both modes" in {
      implicit val s: org.apache.spark.sql.SparkSession = spark
      val ep3 = Seq(
        (Seq(Field("name", "who", Nil), Field("name", "streetName", Seq("address", "street"))), true),
        (Seq(Field("name", "s2", Seq("address", "street2")), Field("city", "city", Seq("address"))), true),
        (Seq(Field("city", "city", Seq("address"))), false),
        (Seq(Field("name", "who", Nil), Field("street2", "street2", Seq("address"))), false))
      for ((fields, flatten) <- ep3; r <- bPersons) withClue(s"$fields/$flatten: ") {
        val q = SelectQuery(fields, None, withStructure = !flatten)
        sameRecord(AvroSql.sql(r, fields, flatten), viaBulk(r, df =>
          GraftSql.plan(q, df.schema) match {
            case FlattenPlanner.Identity => df
            case FlattenPlanner.Columns(cols) => df.select(cols: _*)
          }))
      }
    }

    "return fresh output records on every call" in {
      import AvroSql.implicits._
      implicit val s: org.apache.spark.sql.SparkSession = spark
      val q = "SELECT name, address.city FROM t withstructure"
      val (a, b) = (mk(1).sql(q), mk(1).sql(q))
      a should not be theSameInstanceAs(b)
      a.get("address") should not be theSameInstanceAs(b.get("address"))
      a.put("name", "changed")
      b.get("name").toString shouldBe "P1"
    }

    "answer 8 threads with mixed queries over shared records like one thread" in {
      implicit val s: org.apache.spark.sql.SparkSession = spark
      val work: IndexedSeq[(GenericRecord, String)] = (for {
        (recs, queries) <- cases.take(3); q <- queries; r <- recs
      } yield (r: GenericRecord, q)).toIndexedSeq ++
        (0 until 16).map(i => (mk(i): GenericRecord,
          if (i % 2 == 0) "SELECT name, address.street.name as sn, age"
          else "SELECT address.city, age FROM t withstructure"))
      val expected = work.map { case (r, q) => AvroSql.sql(r, q).toString }
      val pool = Executors.newFixedThreadPool(8)
      try {
        val futures = (0 until 8).map { t =>
          pool.submit(new Callable[Seq[(Int, String)]] {
            def call(): Seq[(Int, String)] = {
              val order = new scala.util.Random(t).shuffle(
                (0 until 4).flatMap(_ => work.indices))
              order.map(i => i -> AvroSql.sql(work(i)._1, work(i)._2).toString)
            }
          })
        }
        futures.foreach { f =>
          f.get(5, TimeUnit.MINUTES).foreach { case (i, got) =>
            withClue(s"${work(i)._2}: ") { got shouldBe expected(i) }
          }
        }
      } finally pool.shutdownNow()
    }

    "plan each record under its own writer schema when two share a name" in {
      import AvroSql.implicits._
      implicit val s: org.apache.spark.sql.SparkSession = spark
      val v1 = SchemaBuilder.record("msg").namespace("drift").fields()
        .requiredString("name").requiredInt("age")
        .endRecord()
      val v2 = SchemaBuilder.record("msg").namespace("drift").fields()
        .requiredInt("age").requiredLong("extra").requiredString("name")
        .endRecord()
      def r1(i: Int) = { val r = new GenericData.Record(v1); r.put("name", s"a$i"); r.put("age", i); r }
      def r2(i: Int) = {
        val r = new GenericData.Record(v2)
        r.put("age", 100 + i); r.put("extra", i.toLong); r.put("name", s"b$i"); r
      }
      (0 until 4).foreach { i =>
        val o1 = r1(i).sql("SELECT *")
        o1.getSchema.getFields.asScala.map(_.name()) shouldBe Seq("name", "age")
        o1.get("name").toString shouldBe s"a$i"
        val o2 = r2(i).sql("SELECT *")
        o2.getSchema.getFields.asScala.map(_.name()) shouldBe Seq("age", "extra", "name")
        o2.get("extra") shouldBe i.toLong
        val p1 = r1(i).sql("SELECT name, age")
        p1.get("name").toString shouldBe s"a$i"
        p1.get("age") shouldBe i
        val p2 = r2(i).sql("SELECT name, age")
        p2.get("name").toString shouldBe s"b$i"
        p2.get("age") shouldBe 100 + i
        // a query only the wider schema can answer
        r2(i).sql("SELECT extra").get("extra") shouldBe i.toLong
        an[IllegalArgumentException] should be thrownBy r1(i).sql("SELECT extra")
      }
      // an equal schema parsed separately (a distinct instance) answers alike
      val c = new GenericData.Record(new Schema.Parser().parse(v1.toString))
      c.put("name", "c"); c.put("age", 7)
      val oc = c.sql("SELECT name, age")
      oc.getSchema shouldBe r1(7).sql("SELECT name, age").getSchema
      oc.get("name").toString shouldBe "c"
    }

    "throw IllegalArgumentException on every call for a bad query" in {
      import AvroSql.implicits._
      implicit val s: org.apache.spark.sql.SparkSession = spark
      (0 until 3).foreach { _ =>
        an[IllegalArgumentException] should be thrownBy mk(1).sql("SELECT nope")
        an[IllegalArgumentException] should be thrownBy mk(1).sql("SELEC name")
        an[IllegalArgumentException] should be thrownBy
          pizza().sql("SELECT *, name as fieldName") // flatten of an array
        an[IllegalArgumentException] should be thrownBy
          AvroSql.sql(mk(1), Seq(Field("nope")), flatten = true)
      }
      // the failures cached nothing: the good query still answers
      mk(1).sql("SELECT name").get("name").toString shouldBe "P1"
    }

    "keep the null and non-RECORD contracts" in {
      implicit val s: org.apache.spark.sql.SparkSession = spark
      AvroSql.sql(null, "SELECT *") shouldBe null
      AvroSql.sql(null, Seq(Field("name")), flatten = true) shouldBe null
      val notRecord = new IndexedRecord {
        private val schema = Schema.createEnum("E", null, "fix",
          java.util.Arrays.asList("A"))
        def put(i: Int, v: Any): Unit = ()
        def get(i: Int): AnyRef = null
        def getSchema: Schema = schema
      }
      (0 until 2).foreach { _ =>
        an[IllegalArgumentException] should be thrownBy AvroSql.sql(notRecord, "SELECT *")
      }
    }

    "stay at its bound after more distinct queries than the bound" in {
      import AvroSql.implicits._
      implicit val s: org.apache.spark.sql.SparkSession = spark
      val n = AvroSql.PlanCacheBound + 8
      (0 until n).foreach { i =>
        mk(i).sql(s"SELECT name as n$i, age").get(s"n$i").toString shouldBe s"P$i"
        AvroSql.cachedPlans should be <= AvroSql.PlanCacheBound
      }
      AvroSql.cachedPlans shouldBe AvroSql.PlanCacheBound
    }

    "keep no session reachable once its caller drops it" in {
      var other = spark.newSession()
      val ref = new java.lang.ref.WeakReference(other)
      AvroSql.sql(mk(1), "SELECT name")(other).get("name").toString shouldBe "P1"
      AvroSql.cachedPlans should be > 0
      other = null
      val collected = (0 until 20).exists { _ =>
        System.gc(); Thread.sleep(50); ref.get == null
      }
      collected shouldBe true
    }

    "derive outputSchema from the same plan record.sql runs" in {
      import AvroSql.implicits._
      implicit val s: org.apache.spark.sql.SparkSession = spark
      val q = "SELECT name, address.street2.name as s2"
      AvroSql.outputSchema(spark, personSchema, q) shouldBe mk(2).sql(q).getSchema
      an[IllegalArgumentException] should be thrownBy
        AvroSql.outputSchema(spark, personSchema, "SELECT nope")
    }
  }

  "AvroProjector" should {
    "build from a pre-parsed SelectQuery like from its text" in {
      val q = "SELECT name, address.street.name as streetName, age"
      val fromText = new AvroProjector(spark, personSchema, q)
      val fromQuery = new AvroProjector(spark, personSchema,
        graft.sql.SelectParser.parse(q))
      fromQuery.outputAvroSchema shouldBe fromText.outputAvroSchema
      (0 until 5).foreach(i => fromQuery(mk(i)).toString shouldBe fromText(mk(i)).toString)
    }

    "handle withstructure and nullable parents" in {
      val proj = new AvroProjector(spark, personSchema,
        "SELECT name, address.street2.name as s2")
      val out = proj(mk(1))
      out.get("s2") shouldBe null
      out.getSchema.getField("s2").schema().getType shouldBe
        org.apache.avro.Schema.Type.UNION
      val ws = new AvroProjector(spark, personSchema,
        "SELECT address.city FROM t withstructure")
      ws(mk(3)).get("address").asInstanceOf[GenericData.Record]
        .get("city").toString shouldBe "City 3"
    }

    "null in, null out" in {
      val proj = new AvroProjector(spark, personSchema, "SELECT name")
      proj(null) shouldBe null
    }

    "beat per-record job dispatch by orders of magnitude (plan once)" in {
      val q = "SELECT name, address.street.name as streetName, age"
      val proj = new AvroProjector(spark, personSchema, q)
      val recs = (0 until 5000).map(mk)
      proj(recs.head) // warm codegen
      val t0 = System.nanoTime()
      var i = 0
      while (i < recs.length) { proj(recs(i)); i += 1 }
      val perRecordMicros = (System.nanoTime() - t0) / 1e3 / recs.length
      info(f"compiled projector: $perRecordMicros%.1f us/record")
      // a one-row Spark job costs ~10-100 ms; the projector must be far
      // under a millisecond per record
      perRecordMicros should be < 1000.0
    }
  }
}
