package graft.proto

/** A protobuf message value over the descriptor IR, with proto3
  * default/presence semantics baked into equality.
  *
  * Canonical value types per field kind:
  *  - int32/sint32/sfixed32 → Int; int64/sint64/sfixed64 → Long
  *  - uint32/fixed32 → Long (value-preserving, 0..2^32-1)
  *  - uint64/fixed64 → Long (bit-preserving two's complement)
  *  - float → Float, double → Double, bool → Boolean, string → String
  *  - bytes → [[Bytes]], enum → Int (raw number, unknown values preserved)
  *  - message → DynamicMessage (well-known types included)
  *  - repeated → Vector[Any]; map → Map[Any, Any]
  *
  * Representation: one slot per field ordinal (the field's position in
  * `descriptor.fields`, see [[PMessageDesc]]), `null` meaning absent. The
  * codecs read and fill slots by ordinal; `values` is a derived
  * number-keyed `Map` view for callers that want one.
  *
  * Normalization happens once, in the package-private `fromSlots`
  * constructor that every path (the `Map` constructor, `set`, wire and
  * JSON decode, the catalyst reader) goes through. It makes `==`
  * structural under proto3 rules: plain scalar fields equal to their
  * default are dropped (absent ⇔ default, no presence; float and double
  * compare by raw bits, so `-0.0` is kept as protobuf-java keeps it),
  * empty repeated/map fields are dropped, presence fields (optional /
  * message / wrapper) are kept even when default-valued. This mirrors
  * protobuf message equality that the reference's round-trip tests rely
  * on (tests/test_conversion.py:127-134).
  */
final class DynamicMessage private (
    val descriptor: PMessageDesc,
    private val slots: Array[Any]) extends Serializable {

  /** Slot `ordinal`: the value, or null when absent. */
  private[graft] def slot(ordinal: Int): Any = slots(ordinal)

  /** Slot `ordinal`, or the field's proto3 default when absent. */
  private[graft] def slotOrDefault(ordinal: Int): Any = {
    val v = slots(ordinal)
    if (v != null) v else DynamicMessage.defaultFor(descriptor.fieldArray(ordinal))
  }

  /** The slots laid out by `md`'s ordinals. The message's own array when
    * its descriptor has the same field numbers in the same order (always
    * for messages built against `md`); otherwise remapped by number. */
  private[graft] def slotsIn(md: PMessageDesc): Array[Any] =
    if ((md eq descriptor) || java.util.Arrays.equals(md.numbers, descriptor.numbers)) slots
    else md.numbers.map(get(_).orNull)

  def has(number: Int): Boolean = get(number).isDefined
  def get(number: Int): Option[Any] = {
    val o = descriptor.ordinalOf(number)
    if (o < 0) None else Option(slots(o))
  }

  /** Value or proto3 default (plain fields read as defaults when absent). */
  def getOrDefault(f: PField): Any = get(f.number).getOrElse(DynamicMessage.defaultFor(f))

  def set(f: PField, v: Any): DynamicMessage = {
    val o = descriptor.ordinalOf(f.number)
    if (o < 0) this
    else {
      val s = slots.clone()
      s(o) = v
      DynamicMessage.fromSlots(descriptor, s)
    }
  }

  /** The present fields keyed by number. */
  def values: Map[Int, Any] = {
    val b = Map.newBuilder[Int, Any]
    var i = 0
    while (i < slots.length) {
      if (slots(i) != null) b += descriptor.numbers(i) -> slots(i)
      i += 1
    }
    b.result()
  }

  override def equals(o: Any): Boolean = o match {
    case m: DynamicMessage =>
      (this eq m) || ((descriptor eq m.descriptor) || descriptor == m.descriptor) && {
        var i = 0
        while (i < slots.length && slots(i) == m.slots(i)) i += 1
        i == slots.length
      }
    case _ => false
  }

  override def hashCode: Int = {
    var h = descriptor.fullName.hashCode
    var i = 0
    while (i < slots.length) { h = 31 * h + slots(i).##; i += 1 }
    h
  }

  override def toString: String =
    s"${descriptor.name}(${values.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(", ")})"
}

object DynamicMessage {

  def empty(descriptor: PMessageDesc): DynamicMessage =
    new DynamicMessage(descriptor, new Array[Any](descriptor.fieldArray.length))

  /** Build with normalization; entries for unknown field numbers are
    * dropped. */
  def apply(descriptor: PMessageDesc, values: Map[Int, Any]): DynamicMessage = {
    val slots = new Array[Any](descriptor.fieldArray.length)
    values.foreach { case (num, v) =>
      val o = descriptor.ordinalOf(num)
      if (o >= 0) slots(o) = v
    }
    fromSlots(descriptor, slots)
  }

  /** The one normalizing constructor. Takes ownership of `slots` (one per
    * field ordinal, null = absent) and clears every absent-equivalent
    * entry in place. */
  private[graft] def fromSlots(descriptor: PMessageDesc, slots: Array[Any]): DynamicMessage = {
    val fields = descriptor.fieldArray
    require(slots.length == fields.length,
      s"${descriptor.fullName}: ${slots.length} slots for ${fields.length} fields")
    var i = 0
    while (i < slots.length) {
      val v = slots(i)
      if (v != null && absentEquivalent(fields(i), v)) slots(i) = null
      i += 1
    }
    new DynamicMessage(descriptor, slots)
  }

  private def absentEquivalent(f: PField, v: Any): Boolean =
    if (f.repeated || f.isMap) v match {
      case s: Iterable[_] => s.isEmpty
      case _ => false
    }
    else if (f.hasPresence) false
    else v match {
      // raw bits, not `==`: -0.0 == 0.0 numerically but is a distinct value
      case d: Double => java.lang.Double.doubleToRawLongBits(d) == 0L
      case x: Float => java.lang.Float.floatToRawIntBits(x) == 0
      case _ => v == PType.defaultOf(f.typ) // plain scalar: default ⇔ absent
    }

  def defaultFor(f: PField): Any =
    if (f.isMap) Map.empty[Any, Any]
    else if (f.repeated) Vector.empty[Any]
    else f.typ match {
      case PType.PMessage(_) => null // singular message default: unset
      case t => PType.defaultOf(t)
    }
}
