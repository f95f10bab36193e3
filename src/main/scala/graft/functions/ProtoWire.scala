package graft.functions

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** U6: protobuf wire-format codec for the `TripCancellation` sink payload
  * (src/main/protobuf/trip_cancellation.proto — the reference's output IS
  * protobuf bytes, OmmCancellationHandler.java:236).
  *
  * `spark-protobuf` is not on this classpath, so the wire format (varint
  * tags + length-delimited strings — the whole message is flat) is encoded
  * directly by a pair of static kernels called through [[Kernel]] — the
  * sink projection stays inside whole-stage codegen, and the byte layout
  * lives in one auditable place.
  *
  * CONFORMANCE: the encoding is SCHEMA-faithful but not WIRE-compatible
  * with the reference's downstream consumers. The reference serializes
  * `transitdata-common`'s `InternalMessages.TripCancellation` (a maven
  * dependency, reference pom.xml — its `.proto` is not present in the
  * reference checkout and not obtainable in this sandbox), whose field
  * NUMBERING is unknown here and whose enum-typed fields
  * (deviation_cases_type, affected_departures_type, category,
  * sub_category, and status' exact variant set) go on the wire as VARINT
  * enum ordinals. This codec assigns field numbers 1–14 in
  * [[payloadSchema]] order and encodes those five fields as
  * length-delimited strings (except status, varint with the proto2
  * `[default = RUNNING]` omission rule honored). A consumer compiled
  * against the upstream proto could NOT decode these payloads; consumers
  * compiled against this repo's src/main/protobuf/trip_cancellation.proto
  * can (round-trip + hand-derived golden bytes are spec'd). If the
  * upstream `internal-messages.proto` ever becomes available, adopt its
  * numbering/enum ordinals here and re-pin ProtoWireSpec's golden bytes.
  */
object ProtoWire {

  /** Field layout of trip_cancellation.proto, in field-number order —
    * also the exact field order of the envelope payload struct. */
  val payloadSchema: StructType = StructType(Seq(
    StructField("deviation_case_id", LongType),
    StructField("route_id", StringType),
    StructField("direction_id", IntegerType),
    StructField("start_date", StringType),
    StructField("start_time", StringType),
    StructField("status", StringType),
    StructField("schema_version", IntegerType),
    StructField("trip_id", StringType),
    StructField("deviation_cases_type", StringType),
    StructField("affected_departures_type", StringType),
    StructField("title", StringType),
    StructField("description", StringType),
    StructField("category", StringType),
    StructField("sub_category", StringType)))

  private val WireVarint = 0
  private val WireLen = 2

  // proto2 enum Status
  private val StatusRunning = 1
  private val StatusCanceled = 2

  private def writeVarint(out: ByteArrayOutputStream, value: Long): Unit = {
    var v = value
    while ((v & ~0x7FL) != 0L) {
      out.write(((v & 0x7F) | 0x80).toInt)
      v >>>= 7
    }
    out.write(v.toInt)
  }

  private def writeTag(out: ByteArrayOutputStream, field: Int, wire: Int): Unit =
    writeVarint(out, ((field << 3) | wire).toLong)

  private def writeVarintField(out: ByteArrayOutputStream, field: Int, v: Long): Unit = {
    writeTag(out, field, WireVarint)
    writeVarint(out, v)
  }

  private def writeBytesField(out: ByteArrayOutputStream, field: Int, b: Array[Byte]): Unit = {
    writeTag(out, field, WireLen)
    writeVarint(out, b.length.toLong)
    out.write(b, 0, b.length)
  }

  /** Encode one payload row (layout = `payloadSchema`). Null fields are
    * skipped (proto2 optional); fields are emitted in ascending field
    * number, the canonical serialization order. */
  def encode(row: InternalRow): Array[Byte] = {
    val out = new ByteArrayOutputStream(128)
    def str(i: Int): Array[Byte] = row.getUTF8String(i).getBytes
    if (!row.isNullAt(0)) writeVarintField(out, 1, row.getLong(0))
    if (!row.isNullAt(1)) writeBytesField(out, 2, str(1))
    if (!row.isNullAt(2)) writeVarintField(out, 3, row.getInt(2).toLong)
    if (!row.isNullAt(3)) writeBytesField(out, 4, str(3))
    if (!row.isNullAt(4)) writeBytesField(out, 5, str(4))
    if (!row.isNullAt(5)) {
      val status = row.getUTF8String(5).toString match {
        case "RUNNING" => StatusRunning
        case "CANCELED" => StatusCanceled
        case other => throw new IllegalArgumentException(
          s"unknown TripCancellation status '$other'")
      }
      writeVarintField(out, 6, status.toLong)
    }
    if (!row.isNullAt(6)) writeVarintField(out, 7, row.getInt(6).toLong)
    var f = 8
    var i = 7
    while (i < 14) {
      if (!row.isNullAt(i)) writeBytesField(out, f, str(i))
      f += 1; i += 1
    }
    out.toByteArray
  }

  /** Decode wire bytes back to a `payloadSchema` row. Unknown fields are
    * skipped by wire type (standard protobuf forward compatibility). */
  def decode(bytes: Array[Byte]): InternalRow = {
    val values = new Array[Any](14)
    var pos = 0
    def readVarint(): Long = {
      var shift = 0; var acc = 0L; var b = 0
      do {
        b = bytes(pos) & 0xFF; pos += 1
        acc |= (b & 0x7FL) << shift; shift += 7
      } while ((b & 0x80) != 0)
      acc
    }
    def readBytes(): Array[Byte] = {
      val len = readVarint().toInt
      val b = java.util.Arrays.copyOfRange(bytes, pos, pos + len)
      pos += len
      b
    }
    while (pos < bytes.length) {
      val tag = readVarint()
      val field = (tag >>> 3).toInt
      val wire = (tag & 7).toInt
      (field, wire) match {
        case (1, WireVarint) => values(0) = readVarint()
        case (3, WireVarint) => values(2) = readVarint().toInt
        case (6, WireVarint) =>
          values(5) = UTF8String.fromString(readVarint().toInt match {
            case StatusRunning => "RUNNING"
            case StatusCanceled => "CANCELED"
            case other => s"UNKNOWN_$other"
          })
        case (7, WireVarint) => values(6) = readVarint().toInt
        case (f, WireLen) if f == 2 || f == 4 || f == 5 || (f >= 8 && f <= 14) =>
          val idx = if (f == 2) 1 else if (f == 4) 3 else if (f == 5) 4 else f - 1
          values(idx) = UTF8String.fromBytes(readBytes())
        case (_, WireVarint) => readVarint() // unknown field: skip
        case (_, WireLen) => readBytes()
        case (f, w) => throw new IllegalArgumentException(
          s"unsupported wire type $w for field $f")
      }
    }
    // proto2 declared default: `schema_version [default = 1]` — a
    // spec-compliant decoder reports 1, not null, when field 7 is absent
    if (values(6) == null) values(6) = 1
    InternalRow.fromSeq(values.toIndexedSeq)
  }

  /** `to_protobuf`-shaped Column API. */
  def toProto(payload: Column): Column =
    Kernel.call("trip_cancellation_to_proto", this, "encode", BinaryType,
      Seq(payload -> Seq(payloadSchema)))

  /** `from_protobuf`-shaped Column API. */
  def fromProto(bytes: Column): Column =
    Kernel.call("trip_cancellation_from_proto", this, "decode",
      payloadSchema, Seq(bytes -> Seq(BinaryType)))
}
