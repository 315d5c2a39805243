package graft.avro

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericRecord, IndexedRecord}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.Project

import graft.sql.{FlattenPlanner, GraftSql, SelectParser, SelectQuery}

/** Compiled per-record projection — the engine on the reference's own
  * per-message turf (a Kafka Connect SMT transforms one record at a time,
  * reference AvroSql.scala:44), and the kernel behind `record.sql(...)`
  * (see [[AvroSql]], which caches one projector per (session, writer
  * schema, query)).
  *
  * The projector PLANS ONCE: the query is resolved by Catalyst against
  * the record schema, the resolved project list is compiled to an
  * `UnsafeProjection` (Janino codegen — the same Tungsten kernel a
  * DataFrame execution would run), and each `apply` is then
  * row-in/row-out with no job, no scheduler, no RDD. The reference
  * re-derives schema + projection for EVERY record (AvroSql.scala:74-82);
  * here per-record work is codec + one generated function call, while
  * staying semantically identical to the DataFrame path (same planner,
  * same expressions).
  *
  * Planning errors (parse failure, unknown field, illegal flatten) are
  * `IllegalArgumentException`s. The projector keeps no reference to the
  * session it was planned in.
  */
final class AvroProjector(spark: SparkSession, inSchema: Schema, query: SelectQuery) {

  def this(spark: SparkSession, inSchema: Schema, query: String) =
    this(spark, inSchema, SelectParser.parse(query))

  private val struct = AvroSchemaConverter.toStruct(inSchema)

  // Resolve the planned Columns with Catalyst against an empty relation —
  // analysis only, nothing is executed.
  private val analyzed = {
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), struct)
    (GraftSql.plan(query, struct) match {
      case FlattenPlanner.Identity => empty
      case FlattenPlanner.Columns(cols) => empty.select(cols: _*)
    }).queryExecution.analyzed
  }

  /** Output schema as Spark sees it. */
  val outputStruct: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(analyzed.output.map(a =>
      org.apache.spark.sql.types.StructField(
        a.name, a.dataType, a.nullable, a.metadata)))

  /** Derived output Avro schema (record identity preserved, O15). */
  val outputAvroSchema: Schema = {
    val (name, ns, doc) = AvroSchemaConverter.recordInfo(inSchema)
    AvroSchemaConverter.toAvro(outputStruct, name, ns, doc)
  }

  // The analyzed plan for a projection is Project(list, LocalRelation);
  // identity (SELECT *) analyzes to the bare relation.
  private val (projectList, childOutput) = analyzed match {
    case p: Project => (p.projectList, p.child.output)
    case other => (other.output, other.output)
  }

  private val projection = UnsafeProjection.create(projectList, childOutput)

  // fused codecs: record → InternalRow → (UnsafeProjection) → record,
  // with no external Row or ExpressionEncoder on either side. The
  // decoder resolves field POSITIONS per writer schema, so a record
  // whose actual schema reorders fields (schema drift on the topic)
  // re-plans against that schema — cached on the last-seen instance,
  // one plan per distinct schema in practice.
  private var decodeSchema: Schema = inSchema
  private var decode: IndexedRecord => InternalRow =
    AvroInternalCodec.decoderFor(inSchema, struct)
  private val encode = AvroInternalCodec.encoderFor(outputStruct, outputAvroSchema)

  /** Project one record into a fresh output record. Thread-confined (the
    * compiled projection reuses its output buffer); create one projector
    * per thread for parallel use.
    */
  def apply(record: IndexedRecord): GenericRecord = {
    if (record == null) return null
    val rs = record.getSchema
    if ((rs ne decodeSchema) && rs != decodeSchema) {
      decode = AvroInternalCodec.decoderFor(rs, struct)
      decodeSchema = rs
    }
    val internal: InternalRow = decode(record)
    encode(projection(internal))
  }
}
