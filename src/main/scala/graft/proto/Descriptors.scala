package graft.proto

/** Self-owned protobuf descriptor IR.
  *
  * The environment has no protobuf-java (SURVEY.md §7.0), so the engine
  * ships its own minimal descriptor model mirroring the public
  * `google.protobuf.descriptor` semantics the reference consumes
  * (reference: protarrow/proto_to_arrow.py:267-323 walks
  * `Descriptor`/`FieldDescriptor`; this IR carries exactly the properties
  * that walk reads: name, number, type, label, presence, map-entry shape).
  *
  * Message/enum cross-references are by full name, resolved through a
  * [[ProtoRegistry]] — descriptor graphs may be cyclic (recursive schemas),
  * a name-indexed pool is the standard way to represent that.
  */
sealed trait PType extends Serializable

object PType {
  case object PDouble extends PType
  case object PFloat extends PType
  case object PInt32 extends PType
  case object PInt64 extends PType
  case object PUInt32 extends PType
  case object PUInt64 extends PType
  case object PSInt32 extends PType
  case object PSInt64 extends PType
  case object PFixed32 extends PType
  case object PFixed64 extends PType
  case object PSFixed32 extends PType
  case object PSFixed64 extends PType
  case object PBool extends PType
  case object PString extends PType
  case object PBytes extends PType
  /** Enum reference by full name. */
  final case class PEnum(enumName: String) extends PType
  /** Message reference by full name (includes well-known types). */
  final case class PMessage(messageName: String) extends PType

  /** The 15 scalar (non-enum, non-message) types. */
  val scalars: Seq[PType] = Seq(PDouble, PFloat, PInt32, PInt64, PUInt32,
    PUInt64, PSInt32, PSInt64, PFixed32, PFixed64, PSFixed32, PSFixed64,
    PBool, PString, PBytes)

  /** Proto default value for a scalar type (proto3 semantics). */
  def defaultOf(t: PType): Any = t match {
    case PDouble => 0.0d
    case PFloat => 0.0f
    case PInt32 | PSInt32 | PSFixed32 => 0
    case PInt64 | PSInt64 | PSFixed64 => 0L
    case PUInt32 | PFixed32 => 0L // value-preserving: unsigned 32 held in Long
    case PUInt64 | PFixed64 => 0L // bit-preserving
    case PBool => false
    case PString => ""
    case PBytes => Bytes.empty
    case PEnum(_) => 0
    case PMessage(_) =>
      throw new IllegalArgumentException("message fields have no scalar default")
  }
}

/** One field of a message.
  *
  * Maps are modeled directly (`mapKV`) rather than as synthetic entry
  * messages; `isMap`/key/value accessors mirror the reference's
  * `is_map`/`get_map_descriptors` (proto_to_arrow.py:219-233).
  */
final case class PField(
    name: String,
    number: Int,
    typ: PType,
    repeated: Boolean = false,
    explicitOptional: Boolean = false,
    mapKV: Option[(PType, PType)] = None) extends Serializable {
  def isMap: Boolean = mapKV.isDefined
  def mapKey: PType = mapKV.get._1
  def mapValue: PType = mapKV.get._2

  /** proto3 `has_presence`: explicit optional or a singular message field
    * (wrappers are messages). Mirrors _proto_field_nullable
    * (proto_to_arrow.py:593-601). */
  def hasPresence: Boolean =
    !repeated && !isMap && (explicitOptional || typ.isInstanceOf[PType.PMessage])
}

/** A message type. A field's *ordinal* is its position in `fields`; it
  * indexes the slot array of a [[DynamicMessage]] and the compiled codec
  * closures. The ordinal tables are `@transient lazy`, so a deserialized
  * descriptor rebuilds them on first use. */
final case class PMessageDesc(fullName: String, fields: Seq[PField]) extends Serializable {
  @transient lazy val byName: Map[String, PField] = fields.map(f => f.name -> f).toMap
  @transient lazy val byNumber: Map[Int, PField] = fields.map(f => f.number -> f).toMap
  /** Fields indexed by ordinal. */
  @transient lazy val fieldArray: Array[PField] = fields.toArray
  /** Field numbers indexed by ordinal. */
  @transient lazy val numbers: Array[Int] = fields.map(_.number).toArray
  /** Ordinals in ascending field-number order: the wire encoder's canonical
    * field order, and (with `numbersAsc`) the number → ordinal index. */
  @transient lazy val ordinalsByNumber: Array[Int] =
    fields.indices.sortBy(fields(_).number).toArray
  @transient private lazy val numbersAsc: Array[Int] = ordinalsByNumber.map(numbers(_))
  /** Ordinal of field `number`, or -1 when the message has no such field
    * (binary search over the ascending field numbers). */
  def ordinalOf(number: Int): Int = {
    val i = java.util.Arrays.binarySearch(numbersAsc, number)
    if (i < 0) -1 else ordinalsByNumber(i)
  }
  def name: String = fullName.substring(fullName.lastIndexOf('.') + 1)
}

final case class PEnumDesc(fullName: String, values: Seq[(String, Int)]) extends Serializable {
  @transient lazy val nameToNumber: Map[String, Int] = values.toMap
  @transient lazy val numberToName: Map[Int, String] = values.map(_.swap).toMap
  /** Fallback for unknown numbers in name-repr encodes: the FIRST declared
    * value's name (reference: proto_to_arrow.py:236-264). */
  def firstName: String = values.head._1
}

/** Descriptor pool. Message/enum lookups by full name. */
final class ProtoRegistry(
    val messages: Map[String, PMessageDesc],
    val enums: Map[String, PEnumDesc]) extends Serializable {
  def message(fullName: String): PMessageDesc =
    messages.getOrElse(fullName,
      throw new IllegalArgumentException(s"unknown message type: $fullName"))
  def enum(fullName: String): PEnumDesc =
    enums.getOrElse(fullName,
      throw new IllegalArgumentException(s"unknown enum type: $fullName"))

  def ++(other: ProtoRegistry): ProtoRegistry =
    new ProtoRegistry(messages ++ other.messages, enums ++ other.enums)
}

/** Well-known types, modeled as ordinary messages with reserved full names
  * (their special Spark mappings live in SchemaConversion). */
object WellKnown {
  import PType._

  val TimestampName = "google.protobuf.Timestamp"
  val DurationName = "google.protobuf.Duration"
  val EmptyName = "google.protobuf.Empty"
  val DateName = "google.type.Date"
  val TimeOfDayName = "google.type.TimeOfDay"

  val wrapperNames: Map[String, PType] = Map(
    "google.protobuf.DoubleValue" -> PDouble,
    "google.protobuf.FloatValue" -> PFloat,
    "google.protobuf.Int32Value" -> PInt32,
    "google.protobuf.Int64Value" -> PInt64,
    "google.protobuf.UInt32Value" -> PUInt32,
    "google.protobuf.UInt64Value" -> PUInt64,
    "google.protobuf.BoolValue" -> PBool,
    "google.protobuf.StringValue" -> PString,
    "google.protobuf.BytesValue" -> PBytes)

  def isWrapper(fullName: String): Boolean = wrapperNames.contains(fullName)
  def isWellKnown(fullName: String): Boolean =
    wrapperNames.contains(fullName) || fullName == TimestampName ||
      fullName == DurationName || fullName == EmptyName ||
      fullName == DateName || fullName == TimeOfDayName

  val timestamp = PMessageDesc(TimestampName, Seq(
    PField("seconds", 1, PInt64), PField("nanos", 2, PInt32)))
  val duration = PMessageDesc(DurationName, Seq(
    PField("seconds", 1, PInt64), PField("nanos", 2, PInt32)))
  val empty = PMessageDesc(EmptyName, Seq.empty)
  val date = PMessageDesc(DateName, Seq(
    PField("year", 1, PInt32), PField("month", 2, PInt32), PField("day", 3, PInt32)))
  val timeOfDay = PMessageDesc(TimeOfDayName, Seq(
    PField("hours", 1, PInt32), PField("minutes", 2, PInt32),
    PField("seconds", 3, PInt32), PField("nanos", 4, PInt32)))

  val registry: ProtoRegistry = new ProtoRegistry(
    Seq(timestamp, duration, empty, date, timeOfDay)
      .map(d => d.fullName -> d).toMap ++
      wrapperNames.map { case (n, t) =>
        n -> PMessageDesc(n, Seq(PField("value", 1, t)))
      },
    Map.empty)
}

/** Immutable byte-string with structural equality (protobuf `bytes`).
  * Array[Byte] has reference equality; message equality needs value
  * equality, so bytes travel as this wrapper inside [[DynamicMessage]]. */
final class Bytes private (private val arr: Array[Byte]) extends Serializable {
  def toArray: Array[Byte] = arr.clone()
  /** The backing array, uncopied — for codecs that only read it. */
  private[proto] def unsafeArray: Array[Byte] = arr
  def length: Int = arr.length
  def isEmpty: Boolean = arr.isEmpty
  override def equals(o: Any): Boolean = o match {
    case b: Bytes => java.util.Arrays.equals(arr, b.arr)
    case _ => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(arr)
  override def toString: String = s"Bytes(${arr.length})"
}

object Bytes {
  val empty: Bytes = new Bytes(Array.emptyByteArray)
  def apply(a: Array[Byte]): Bytes = new Bytes(a.clone())
  /** Takes ownership (no copy) — for internal codec use. */
  def owned(a: Array[Byte]): Bytes = new Bytes(a)
}
