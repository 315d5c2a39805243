package graft.avro

import java.lang.ref.WeakReference

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericRecord, IndexedRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sql.{Field, SelectParser, SelectQuery}

import scala.jdk.CollectionConverters._

/** A bare primitive value + its schema — the engine's analogue of the
  * reference's `NonRecordContainer` input kind (AvroSql.scala:70; the
  * Confluent class itself is a Kafka-serializer type not present here).
  */
final case class AvroPrimitive(value: Any, schema: Schema)

/** The reference's public surface, re-expressed on the Spark engine
  * (reference: `record.sql("SELECT …")`, AvroSql.scala:43-65, README.md:8-13).
  *
  * `record.sql` plans once per (session, writer schema, query): the first
  * call compiles an [[AvroProjector]] (parse → GraftSql plan → Catalyst
  * analysis → codegen'd `UnsafeProjection` → derived output Avro schema,
  * names/docs/props restored from `avro.*` metadata, O15), and every
  * later record with the same schema and query runs through that kernel
  * with no DataFrame, no planning and no job. Compiled projectors live in
  * a per-thread LRU of at most [[PlanCacheBound]] entries, keyed by the
  * record's own `Schema` (identity, then `equals`), so two writer schemas
  * that share a record name never share a plan. Contract parity:
  *  - `null` input → `null` output (AvroSql.scala:68)
  *  - only RECORD containers; anything else is an `IllegalArgumentException`
  *  - primitive containers accept only `SELECT *` (AvroSql.scala:106-131)
  *  - all planning errors are `IllegalArgumentException`s, raised on every
  *    call (failures are never cached)
  *  - every call returns a fresh output record
  *
  * For many records under one schema, the bulk path
  * [[AvroBridge.toDF]] → `df.sql(query)` → [[AvroBridge.fromDF]] lets
  * Catalyst/Tungsten execute the same plan over a whole DataFrame.
  */
object AvroSql {

  object implicits {
    implicit class AvroRecordSqlOps(val record: IndexedRecord) {
      def sql(query: String)(implicit spark: SparkSession): GenericRecord =
        AvroSql.sql(record, query)
      /** EP3 parity (reference AvroSql.scala:86-103): pre-parsed fields —
        * the host-integration path where the caller already parsed KCQL.
        */
      def sql(fields: Seq[Field], flatten: Boolean)(implicit spark: SparkSession): GenericRecord =
        AvroSql.sql(record, fields, flatten)
    }
    implicit class AvroPrimitiveSqlOps(val p: AvroPrimitive) {
      def sql(query: String): AvroPrimitive = AvroSql.sqlPrimitive(p, query)
    }
  }

  def sql(record: IndexedRecord, query: String)(implicit spark: SparkSession): GenericRecord =
    run(record, query)

  /** EP3: pre-parsed select-list fields + explicit mode. */
  def sql(record: IndexedRecord, fields: Seq[Field], flatten: Boolean)(
      implicit spark: SparkSession): GenericRecord =
    run(record, SelectQuery(fields, None, withStructure = !flatten))

  private def run(record: IndexedRecord, query: AnyRef)(
      implicit spark: SparkSession): GenericRecord = {
    if (record == null) return null
    val inSchema = record.getSchema
    require(inSchema.getType == Schema.Type.RECORD,
      s"only RECORD containers are supported, got ${inSchema.getType}")
    projector(spark, inSchema, query)(record)
  }

  /** Primitive container: only `SELECT *` is legal and is the identity
    * (AvroSql.scala:106-131); any named selection throws.
    */
  def sqlPrimitive(p: AvroPrimitive, query: String): AvroPrimitive = {
    if (p == null) return null
    val q = SelectParser.parse(query)
    val bare = q.fields match {
      case Seq(f) => f.isStar && !f.hasParents
      case _ => false
    }
    require(bare, s"only SELECT * is supported for primitive containers: $query")
    p
  }

  /** Derive the output Avro schema a query would produce for an input
    * schema — the reference's schema phase alone (AvroSchemaSql.scala) —
    * from the same cached plan `record.sql` uses (no data is touched).
    */
  def outputSchema(spark: SparkSession, inSchema: Schema, query: String): Schema =
    projector(spark, inSchema, query).outputAvroSchema

  // --- plan cache ---------------------------------------------------------

  /** Most compiled projectors one thread keeps; the least recently used
    * plan is evicted beyond it.
    */
  val PlanCacheBound = 64

  /** (session, writer schema, query) — `query` is the query string or,
    * for EP3, the pre-parsed [[SelectQuery]]. The session is held weakly
    * (a stopped, dropped session stays collectable); a key whose session
    * was collected matches nothing and ages out of the LRU.
    */
  private final class PlanKey(val session: WeakReference[SparkSession],
      val schema: Schema, val query: AnyRef) {
    override val hashCode: Int =
      (System.identityHashCode(session.get) * 31 + schema.hashCode) * 31 +
        query.hashCode
    override def equals(o: Any): Boolean = o match {
      case k: PlanKey =>
        val s = session.get
        s != null && (s eq k.session.get) &&
          ((schema eq k.schema) || schema == k.schema) && query == k.query
      case _ => false
    }
  }

  /** One thread's plans: an access-ordered LRU, plus the weak reference
    * its keys share for the session the thread last used.
    */
  private final class ThreadPlans
      extends java.util.LinkedHashMap[PlanKey, AvroProjector](16, 0.75f, true) {
    var session = new WeakReference[SparkSession](null)
    override def removeEldestEntry(
        e: java.util.Map.Entry[PlanKey, AvroProjector]): Boolean =
      size > PlanCacheBound
  }

  // projectors are thread-confined, so each thread compiles its own
  private val plans = ThreadLocal.withInitial[ThreadPlans](() => new ThreadPlans)

  /** The calling thread's projector for (session, schema, query),
    * compiled on a miss. A failed build throws and caches nothing.
    */
  private def projector(spark: SparkSession, schema: Schema, query: AnyRef): AvroProjector = {
    val m = plans.get
    if (m.session.get ne spark) m.session = new WeakReference(spark)
    val key = new PlanKey(m.session, schema, query)
    var p = m.get(key)
    if (p == null) {
      p = query match {
        case q: String => new AvroProjector(spark, schema, q)
        case q: SelectQuery => new AvroProjector(spark, schema, q)
      }
      m.put(key, p)
    }
    p
  }

  /** Number of plans the calling thread holds (tests). */
  private[avro] def cachedPlans: Int = plans.get.size
}

/** Bulk Avro ⇄ DataFrame bridge — the Spark-first path: plan once, let
  * Catalyst execute over all records.
  */
object AvroBridge {

  /** Records (all sharing `schema`) → DataFrame with `avro.*` metadata. */
  def toDF(spark: SparkSession, schema: Schema, records: Seq[IndexedRecord]): DataFrame = {
    val struct = AvroSchemaConverter.toStruct(schema)
    spark.createDataFrame(
      records.map(AvroRowCodec.toRow(_, struct)).asJava, struct)
  }

  /** DataFrame → records under a derived Avro schema. Driver-side collect:
    * intended for bounded results (tests, per-message sinks) — large sinks
    * should keep writing with DataFrame writers instead.
    */
  def fromDF(df: DataFrame, name: String, namespace: Option[String] = None,
      doc: Option[String] = None): (Schema, Seq[GenericRecord]) = {
    val avro = AvroSchemaConverter.toAvro(df.schema, name, namespace, doc)
    (avro, df.collect().toSeq.map(AvroRowCodec.fromRow(_, df.schema, avro)))
  }
}
