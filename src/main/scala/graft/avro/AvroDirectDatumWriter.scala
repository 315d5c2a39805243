package graft.avro

import org.apache.avro.Schema
import org.apache.avro.Schema.Type
import org.apache.avro.io.{DatumWriter, Encoder}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** The graft-avro `DatumWriter[InternalRow]`: encodes Catalyst internal
  * rows STRAIGHT into Avro's `Encoder`, with no per-row
  * InternalRow → external value → GenericRecord materialization (the
  * [[AvroInternalCodec.encoderFor]] conversion, which was the single
  * hottest allocation site of every graft-avro write).
  *
  * Planning happens once per (struct, writer schema): each field
  * resolves to a closure over [[SpecializedGetters]] so rows and array
  * elements share value writers. The writer schema is always the one
  * [[AvroSchemaConverter.toAvro]] derives from the SAME struct (both
  * writer call sites), so the supported shapes are closed: primitives,
  * string/enum, bytes/fixed, decimal-as-bytes, date, (local)
  * timestamp millis/micros, nested records, arrays, string-keyed maps,
  * nullable `[null, T]` unions and tagged multi-branch unions. A pair
  * outside that set throws `IllegalArgumentException` naming the field
  * when the writer is created, never at the first row. Value semantics
  * are pinned to [[AvroInternalCodec.encoderFor]] +
  * `GenericDatumWriter` by DirectWriteSpec's per-datum byte comparison.
  *
  * Maps: entries are written in Catalyst `MapData` order (the
  * GenericRecord reference iterates a `java.util.HashMap`, so its entry
  * order is hash order). Avro maps are unordered — readers (and every
  * oracle) see identical contents.
  */
object AvroDirectDatumWriter {

  def apply(struct: StructType, avro: Schema): DatumWriter[InternalRow] =
    new DirectRowWriter(struct, avro)

  /** (getters, ordinal, encoder) → emit the value at `ordinal`. */
  private type VW = (SpecializedGetters, Int, Encoder) => Unit

  private final class DirectRowWriter(struct: StructType, avro: Schema)
      extends DatumWriter[InternalRow] {
    private val writers: Array[VW] = recordWriters(struct, avro, "")
    override def setSchema(s: Schema): Unit = ()
    override def write(r: InternalRow, out: Encoder): Unit = {
      var i = 0
      while (i < writers.length) { writers(i)(r, i, out); i += 1 }
    }
  }

  /** Per-field writers in AVRO field order (binary format order),
    * mapped to struct ordinals by name. The two orders coincide for
    * toAvro-derived schemas, but the closure bakes the struct ordinal
    * in so a permuted foreign schema would still encode correctly.
    */
  private def recordWriters(struct: StructType, avro0: Schema, path: String)
      : Array[VW] = {
    val rec =
      if (avro0.getType == Type.UNION) AvroSchemaConverter.fromUnion(avro0)._1
      else avro0
    if (rec.getType != Type.RECORD) unplannable(path, s"$rec is not a record")
    rec.getFields.asScala.toArray.map { af =>
      val name = if (path.isEmpty) af.name else s"$path.${af.name}"
      val si = column(struct, af.name, name)
      val vw = valueWriter(struct.fields(si).dataType, af.schema(), name)
      // rebase the planned ordinal: record writers receive the record's
      // own getters, so the closure must read the STRUCT ordinal
      ((r: SpecializedGetters, _: Int, out: Encoder) => vw(r, si, out)): VW
    }
  }

  private def valueWriter(dt: DataType, schema0: Schema, path: String): VW = {
    if (schema0.getType == Type.UNION) return unionWriter(dt, schema0, path)
    (dt, schema0.getType) match {
      // primitive getters read a null slot as 0/false: check first, so
      // a null in a non-nullable field fails the write like
      // GenericDatumWriter does instead of landing as a silent zero
      case (BooleanType, Type.BOOLEAN) =>
        (r, i, out) =>
          if (r.isNullAt(i)) nullIn(schema0) else out.writeBoolean(r.getBoolean(i))
      case (IntegerType | DateType, Type.INT) => // dates: days since epoch
        (r, i, out) =>
          if (r.isNullAt(i)) nullIn(schema0) else out.writeInt(r.getInt(i))
      case (LongType, Type.LONG) =>
        (r, i, out) =>
          if (r.isNullAt(i)) nullIn(schema0) else out.writeLong(r.getLong(i))
      case (TimestampType | TimestampNTZType, Type.LONG) =>
        schema0.getLogicalType match {
          case _: org.apache.avro.LogicalTypes.TimestampMillis |
               _: org.apache.avro.LogicalTypes.LocalTimestampMillis =>
            (r, i, out) =>
              if (r.isNullAt(i)) nullIn(schema0)
              else out.writeLong(Math.floorDiv(r.getLong(i), 1000L))
          case _ => // (local-)timestamp-micros IS the internal form
            (r, i, out) =>
              if (r.isNullAt(i)) nullIn(schema0) else out.writeLong(r.getLong(i))
        }
      case (FloatType, Type.FLOAT) =>
        (r, i, out) =>
          if (r.isNullAt(i)) nullIn(schema0) else out.writeFloat(r.getFloat(i))
      case (DoubleType, Type.DOUBLE) =>
        (r, i, out) =>
          if (r.isNullAt(i)) nullIn(schema0) else out.writeDouble(r.getDouble(i))
      case (StringType, Type.STRING) =>
        // UTF8String already holds UTF-8 bytes: wrap, never transcode
        // through java.lang.String (the old path's toString + re-encode)
        (r, i, out) => out.writeString(new Utf8(r.getUTF8String(i).getBytes))
      case (StringType, Type.ENUM) =>
        (r, i, out) =>
          out.writeEnum(schema0.getEnumOrdinal(r.getUTF8String(i).toString))
      case (BinaryType, Type.BYTES) =>
        (r, i, out) => {
          val b = r.getBinary(i)
          out.writeBytes(b, 0, b.length)
        }
      case (BinaryType, Type.FIXED) =>
        (r, i, out) => out.writeFixed(r.getBinary(i))
      case (d: DecimalType, Type.BYTES) =>
        (r, i, out) => {
          val bytes = r.getDecimal(i, d.precision, d.scale)
            .toJavaBigDecimal.setScale(d.scale).unscaledValue().toByteArray
          out.writeBytes(bytes, 0, bytes.length)
        }
      case (NullType, Type.NULL) =>
        (_, _, out) => out.writeNull()
      case (st: StructType, Type.RECORD) =>
        val fws = recordWriters(st, schema0, path)
        val n = st.length
        (r, i, out) => {
          val row = r.getStruct(i, n)
          var f = 0
          while (f < fws.length) { fws(f)(row, f, out); f += 1 }
        }
      case (ArrayType(et, _), Type.ARRAY) =>
        val ew = valueWriter(et, schema0.getElementType, s"$path[]")
        (r, i, out) => {
          val a = r.getArray(i)
          val n = a.numElements()
          out.writeArrayStart()
          out.setItemCount(n.toLong)
          var j = 0
          while (j < n) { out.startItem(); ew(a, j, out); j += 1 }
          out.writeArrayEnd()
        }
      case (MapType(StringType, vt, _), Type.MAP) =>
        val vw = valueWriter(vt, schema0.getValueType, s"$path{}")
        (r, i, out) => {
          val m = r.getMap(i)
          val ks = m.keyArray()
          val vs = m.valueArray()
          val n = m.numElements()
          out.writeMapStart()
          out.setItemCount(n.toLong)
          var j = 0
          while (j < n) {
            out.startItem()
            out.writeString(new Utf8(ks.getUTF8String(j).getBytes))
            vw(vs, j, out)
            j += 1
          }
          out.writeMapEnd()
        }
      case _ =>
        unplannable(path, s"Spark ${dt.simpleString} as Avro $schema0")
    }
  }

  private def column(st: StructType, name: String, path: String): Int = {
    val i = st.fieldNames.indexOf(name)
    if (i < 0) unplannable(path, s"no '$name' column in ${st.simpleString}")
    i
  }

  private def unplannable(path: String, why: String): Nothing =
    throw new IllegalArgumentException(
      s"cannot write field '${if (path.isEmpty) "<root>" else path}': $why")

  private def nullIn(schema: Schema): Nothing =
    throw new NullPointerException(s"null value for non-nullable $schema")

  /** Union writer. `[null, T]`-style (one non-null branch): null check
    * + index + inner. Multi-branch: the Catalyst value is the tagged
    * carrier struct — resolve the union index from the tag, mirroring
    * [[AvroInternalCodec.outUnionConverter]] + GenericData.resolveUnion
    * (a null ACTIVE branch value resolves to the null branch).
    */
  private def unionWriter(dt: DataType, union: Schema, path: String): VW = {
    val types = union.getTypes.asScala.toArray
    val nullIdx = types.indexWhere(_.getType == Type.NULL)
    val nonNull = types.zipWithIndex.filter(_._1.getType != Type.NULL)
    if (nonNull.length == 1 && nullIdx >= 0) {
      val (branch, valIdx) = nonNull.head
      val inner = valueWriter(dt, branch, path)
      (r, i, out) =>
        if (r.isNullAt(i)) { out.writeIndex(nullIdx); out.writeNull() }
        else { out.writeIndex(valIdx); inner(r, i, out) }
    } else {
      val st = dt match {
        case st: StructType if nonNull.length >= 2 => st
        case _ => unplannable(path, s"Spark ${dt.simpleString} as Avro $union")
      }
      val tagIdx = column(st, AvroSchemaConverter.UnionTagField, path)
      val byTag: Map[String, (Int, Int, VW)] = nonNull.map { case (b, j) =>
        val name = AvroSchemaConverter.branchName(b)
        val fi = column(st, name, path)
        name -> ((j, fi, valueWriter(st.fields(fi).dataType, b, s"$path.$name")))
      }.toMap
      val stLen = st.length
      (r, i, out) => {
        if (r.isNullAt(i)) {
          if (nullIdx < 0) throw new NullPointerException(
            s"null value for non-nullable union $union")
          out.writeIndex(nullIdx); out.writeNull()
        } else {
          val row = r.getStruct(i, stLen)
          val tag = row.getUTF8String(tagIdx).toString
          val (j, fi, w) = byTag.getOrElse(tag,
            throw new IllegalArgumentException(
              s"tag '$tag' names no branch of $union"))
          if (row.isNullAt(fi)) {
            if (nullIdx < 0) throw new NullPointerException(
              s"null branch value for non-nullable union $union")
            out.writeIndex(nullIdx); out.writeNull()
          } else { out.writeIndex(j); w(row, fi, out) }
        }
      }
    }
  }
}
