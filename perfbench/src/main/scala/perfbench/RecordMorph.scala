package perfbench

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow

import graft.avro.{AvroInternalCodec, AvroProjector, AvroSchemaConverter, AvroSql}
import graft.sql.GraftSql

/** Person/Pizza-shaped Avro records: a 3-deep struct, a `[null, record]`
  * union, arrays of records, a map, and decimal and timestamp logical types.
  * `Truth` keeps the generator's values so outputs can be checked exactly.
  */
object People {
  val ingredient: Schema = SchemaBuilder.record("Ingredient").namespace("bench").fields()
    .requiredString("name").requiredDouble("sugar").requiredDouble("fat").endRecord()
  val pizza: Schema = SchemaBuilder.record("Pizza").namespace("bench").fields()
    .requiredString("name").requiredBoolean("vegetarian").requiredInt("calories")
    .name("ingredients").`type`().array().items(ingredient).noDefault()
    .endRecord()
  val geo: Schema = SchemaBuilder.record("Geo").namespace("bench").fields()
    .requiredDouble("lat").requiredDouble("lon").requiredString("zone").endRecord()
  val address: Schema = SchemaBuilder.record("Address").namespace("bench").fields()
    .requiredString("street").requiredInt("number")
    .name("geo").`type`(geo).noDefault().endRecord()
  private val balanceSchema =
    LogicalTypes.decimal(12, 2).addToSchema(Schema.create(Schema.Type.BYTES))
  private val createdSchema =
    LogicalTypes.timestampMillis().addToSchema(Schema.create(Schema.Type.LONG))
  val person: Schema = SchemaBuilder.record("Person").namespace("bench").fields()
    .requiredString("name").requiredInt("age")
    .name("address").`type`(address).noDefault()
    .name("favourite").`type`().optional().`type`(pizza)
    .name("toppings").`type`().array().items(ingredient).noDefault()
    .name("scores").`type`().map().values().longType().noDefault()
    .name("balance").`type`(balanceSchema).noDefault()
    .name("created").`type`(createdSchema).noDefault()
    .endRecord()

  final case class Truth(name: String, age: Int, street: String, number: Int, lat: Double,
      lon: Double, zone: String, pizza: Option[(String, Int, Int)], toppings: Int,
      scores: Int, balanceCents: Long, createdMs: Long)

  private val words = Vector("margherita", "diavola", "funghi", "capricciosa", "marinara",
    "quattro", "napoli", "calzone", "bianca", "ortolana")

  private def ing(r: java.util.Random): GenericData.Record = {
    val g = new GenericData.Record(ingredient)
    g.put("name", words(r.nextInt(words.size)))
    g.put("sugar", r.nextInt(200) / 10.0); g.put("fat", r.nextInt(300) / 10.0)
    g
  }

  /** One record and its truth, from a seeded generator. */
  def make(r: java.util.Random, i: Int): (GenericData.Record, Truth) = {
    val name = s"person-$i-${r.nextInt(100000)}"
    val age = 18 + r.nextInt(70)
    val street = s"${words(r.nextInt(words.size))} street"
    val number = 1 + r.nextInt(999)
    val lat = r.nextInt(1800) / 10.0 - 90; val lon = r.nextInt(3600) / 10.0 - 180
    val zone = s"z${r.nextInt(40)}"
    val g = new GenericData.Record(geo); g.put("lat", lat); g.put("lon", lon); g.put("zone", zone)
    val a = new GenericData.Record(address)
    a.put("street", street); a.put("number", number); a.put("geo", g)
    // roughly a third of people have no favourite: both union branches occur
    val fav = if (r.nextInt(3) == 0) None else {
      val p = new GenericData.Record(pizza)
      val pn = words(r.nextInt(words.size)); val kcal = 200 + r.nextInt(900)
      val n = 1 + r.nextInt(4)
      p.put("name", pn); p.put("vegetarian", r.nextBoolean()); p.put("calories", kcal)
      p.put("ingredients", (0 until n).map(_ => ing(r)).asJava)
      Some((p, (pn, kcal, n)))
    }
    val nTop = r.nextInt(5)
    val nScores = r.nextInt(4)
    val scores = (0 until nScores).map(j => s"s$j" -> java.lang.Long.valueOf(r.nextInt(1000).toLong))
      .toMap.asJava
    val cents = r.nextInt(100000000).toLong
    val created = 1700000000000L + r.nextInt(1000000000).toLong
    val p = new GenericData.Record(person)
    p.put("name", name); p.put("age", age); p.put("address", a)
    p.put("favourite", fav.map(_._1).orNull)
    p.put("toppings", (0 until nTop).map(_ => ing(r)).asJava)
    p.put("scores", scores)
    p.put("balance", ByteBuffer.wrap(java.math.BigInteger.valueOf(cents).toByteArray))
    p.put("created", created)
    (p, Truth(name, age, street, number, lat, lon, zone, fav.map(_._2), nTop, nScores, cents, created))
  }

  /** The query mix: flatten and `withstructure`, with renamed fields. */
  val queries: Vector[String] = Vector(
    "SELECT name AS who, age, address.street AS street, address.geo.lat AS lat, " +
      "address.geo.zone AS zone, favourite.name AS pizza, favourite.calories AS kcal, " +
      "balance, created FROM person",
    "SELECT name, address.number AS num, address.geo.lat AS latitude, favourite, toppings, " +
      "scores FROM person withstructure",
    "SELECT *, name AS fieldName FROM person withstructure",
    "SELECT name AS who, address.geo.*, favourite.vegetarian AS veg, created FROM person")

  private def s(v: Any): String = if (v == null) null else v.toString
  private def rec(v: Any): GenericRecord = v.asInstanceOf[GenericRecord]
  private def cents(v: Any): Long = v match {
    case b: ByteBuffer => new java.math.BigInteger(
      java.util.Arrays.copyOfRange(b.array(), b.arrayOffset() + b.position(), b.arrayOffset() + b.limit())).longValue
    case d: java.math.BigDecimal => d.movePointRight(2).longValueExact()
    case other => throw new IllegalStateException(s"balance as ${other.getClass}")
  }

  /** Whether a projected record matches the generator's values for query `q`. */
  def check(q: Int, out: GenericRecord, t: Truth): Boolean =
    scala.util.Try(matches(q, out, t)).getOrElse(false)

  private def matches(q: Int, out: GenericRecord, t: Truth): Boolean = q match {
    case 0 =>
      s(out.get("who")) == t.name && out.get("age") == t.age && s(out.get("street")) == t.street &&
        out.get("lat") == t.lat && s(out.get("zone")) == t.zone &&
        s(out.get("pizza")) == t.pizza.map(_._1).orNull &&
        out.get("kcal") == t.pizza.map(p => Int.box(p._2)).orNull &&
        cents(out.get("balance")) == t.balanceCents && out.get("created") == t.createdMs
    case 1 =>
      val a = rec(out.get("address"))
      val fav = rec(out.get("favourite"))
      s(out.get("name")) == t.name && a.get("num") == t.number &&
        rec(a.get("geo")).get("latitude") == t.lat &&
        (if (t.pizza.isEmpty) fav == null
        else s(fav.get("name")) == t.pizza.get._1 &&
          fav.get("ingredients").asInstanceOf[java.util.List[_]].size == t.pizza.get._3) &&
        out.get("toppings").asInstanceOf[java.util.List[_]].size == t.toppings &&
        out.get("scores").asInstanceOf[java.util.Map[_, _]].size == t.scores
    case 2 =>
      val g = rec(rec(out.get("address")).get("geo"))
      // the star keeps every field but `name`, which moves to the end as `fieldName`
      out.getSchema.getField("name") == null && s(out.get("fieldName")) == t.name &&
        out.get("age") == t.age && s(g.get("zone")) == t.zone && g.get("lon") == t.lon &&
        (out.get("favourite") == null) == t.pizza.isEmpty &&
        cents(out.get("balance")) == t.balanceCents
    case 3 =>
      s(out.get("who")) == t.name && out.get("lat") == t.lat && out.get("lon") == t.lon &&
        s(out.get("zone")) == t.zone && (out.get("veg") == null) == t.pizza.isEmpty &&
        out.get("created") == t.createdMs
  }
}

/** `record_morph`: seeded records pushed one at a time through compiled
  * `AvroProjector`s (the per-record kernel), with a small seeded share of
  * ops going through the parity API `record.sql(...)`, which plans a
  * one-row DataFrame per record.
  */
final class RecordMorph(spark: SparkSession, cfg: Cfg, tr: Tracer, rec: Recorder)
    extends Workload(spark, cfg, tr, rec) {
  import People._

  val roles: Roles = Roles(fast = "morph", slow = "record_sql", throughput = "morph")

  private val poolSize = 4096
  private val rng = new java.util.Random(cfg.seed)
  private var pool: Array[GenericData.Record] = _
  private var truth: Array[Truth] = _
  private val queryOf = Array.fill(poolSize)(rng.nextInt(queries.size))
  /** Mean number of morph ops between two record.sql ops. */
  private val sqlGap = math.max(1, (8000 * cfg.scale).toInt)
  private val checkPhase = rng.nextInt(1024)
  private var projectors: Array[AvroProjector] = _
  private var i = 0L
  private var nextSql = 0L
  private val struct = AvroSchemaConverter.toStruct(person)
  private lazy val decoder = AvroInternalCodec.decoderFor(person, struct)
  private implicit val session: SparkSession = spark

  def setup(rep: Int): Unit = {
    val r = new java.util.Random(cfg.seed ^ 0x5eedL)
    val xs = (0 until poolSize).map(i => make(r, i))
    pool = xs.map(_._1).toArray
    truth = xs.map(_._2).toArray
    projectors = queries.map(q => tr.measure("avro.projector_build")(
      new AvroProjector(spark, person, q))).toArray
    val warm = (200000 * cfg.scale).toLong
    var j = 0L
    while (j < warm) { morph(j, traced = false, live = false); j += 1 }
    (0 until 6).foreach(k => recordSql(k, traced = false, live = false))
    nextSql = i + 1 + rng.nextInt(2 * sqlGap)
  }

  private def morph(j: Long, traced: Boolean, live: Boolean): Unit = {
    val idx = (j & (poolSize - 1)).toInt
    val q = queryOf(idx)
    val p = projectors(q)
    val out =
      if (!traced) {
        val t0 = System.nanoTime()
        val o = p(pool(idx))
        if (live) rec.add("morph", traced, System.nanoTime() - t0, 1) else rec.attempted += 1
        o
      } else timed("morph", traced, 1, jobs = false)(tr.span("avro.apply")(p(pool(idx))))
    if ((j & 1023) == checkPhase) rec.check(check(q, out, truth(idx)), s"morph q$q record $idx: $out")
  }

  private def recordSql(k: Long, traced: Boolean, live: Boolean): Unit = {
    val idx = ((k * 2654435761L) & (poolSize - 1)).toInt
    val q = queryOf(idx)
    tr.measure("sql.plan")(GraftSql.plan(queries(q), struct))
    val t0 = System.nanoTime()
    val out = tr.op("record_sql")(tr.span("avro.record_sql")(AvroSql.sql(pool(idx), queries(q))))
    if (live) rec.add("record_sql", traced, System.nanoTime() - t0, 1) else rec.attempted += 1
    rec.check(check(q, out, truth(idx)) && out.toString == projectors(q)(pool(idx)).toString,
      s"record.sql q$q record $idx")
  }

  /** Codec and apply cost per record, measured on a batch outside any op. */
  private def measureCodec(): Unit = {
    val n = 256
    val base = (i & (poolSize - 1)).toInt & ~(n - 1)
    val q = queryOf(base)
    val p = projectors(q)
    val recs = (0 until n).map(k => pool(base + k)).toArray
    val outDec = AvroInternalCodec.decoderFor(p.outputAvroSchema, p.outputStruct)
    val enc = AvroInternalCodec.encoderFor(p.outputStruct, p.outputAvroSchema)
    val rows: Array[InternalRow] = recs.map(r => outDec(p(r)).copy())
    tr.measure("avro.decode_batch", n) { var k = 0; while (k < n) { decoder(recs(k)); k += 1 } }
    tr.measure("avro.apply_batch", n) { var k = 0; while (k < n) { p(recs(k)); k += 1 } }
    tr.measure("avro.encode_batch", n) { var k = 0; while (k < n) { enc(rows(k)); k += 1 } }
  }

  def step(traced: Boolean): Unit = {
    if (i == nextSql) {
      recordSql(i, traced, live = true)
      nextSql = i + 1 + rng.nextInt(2 * sqlGap)
    } else morph(i, traced, live = true)
    if (traced && (i & 4095) == 4095) measureCodec()
    i += 1
  }

  def named(): Seq[(String, Double, String, Int)] = {
    val m = rec.get("morph", traced = false).ns.sorted
    val s = rec.get("record_sql", traced = false).ns.sorted
    Seq(
      ("morph_records_per_s", rec.unitsPerS("morph", traced = false), "1/s", m.length),
      ("morph_p50_us", Stats.pct(m, 50) / 1e3, "us", m.length),
      ("morph_p99_us", Stats.pct(m, 99) / 1e3, "us", m.length),
      ("record_sql_p50_ms", Stats.pct(s, 50) / 1e6, "ms", s.length),
      ("record_sql_p90_ms", Stats.pct(s, 90) / 1e6, "ms", s.length))
  }

  /** Avro binary size of the record pool. */
  private def poolBytes: Long = {
    val out = new java.io.ByteArrayOutputStream
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    val w = new GenericDatumWriter[GenericRecord](person)
    pool.foreach(w.write(_, enc))
    enc.flush()
    out.size().toLong
  }

  def bases(): Map[String, Any] = Map(
    "pool_records" -> poolSize,
    "pool_bytes" -> poolBytes,
    "queries" -> queries.size,
    "records_projected" -> (rec.count("morph", false) + rec.count("morph", true)),
    "record_sql_calls" -> (rec.count("record_sql", false) + rec.count("record_sql", true)))

  private var probeTable: TableWrite = _

  /** Layers this mix never reaches (the table format's write and scan
    * paths): a short append/readback loop on a small table.
    */
  def probe(): Unit = {
    val r = new Recorder
    probeTable = new TableWrite(spark, cfg.copy(scale = 0.1 * cfg.scale), tr, r, "probe_table")
    probeTable.setup(0)
    (0 until 6).foreach(_ => probeTable.step(traced = true))
    rec.attempted += r.attempted; rec.failed += r.failed; rec.failures ++= r.failures
  }

  override def tableStats(): Map[String, Double] =
    if (probeTable == null) Map.empty else probeTable.tableStats()

  override def close(): Unit = if (probeTable != null) probeTable.close()
}

object RecordMorph {
  /** A short traced record_morph loop with its own projectors, for mixes
    * that never reach the per-record Avro path or `record.sql`.
    */
  def probe(spark: SparkSession, cfg: Cfg, tr: Tracer, rec: Recorder): Unit = {
    val r = new Recorder
    val w = new RecordMorph(spark, cfg.copy(scale = 0.05), tr, r)
    w.setup(0)
    var j = 0
    while (j < 20000 || r.count("record_sql", traced = true) < 3) { w.step(traced = true); j += 1 }
    rec.attempted += r.attempted; rec.failed += r.failed; rec.failures ++= r.failures
  }
}
