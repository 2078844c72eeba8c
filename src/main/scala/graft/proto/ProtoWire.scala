package graft.proto

import scala.collection.mutable
import graft.proto.PType._

/** Proto3 wire-format codec over the descriptor IR (the public protobuf
  * encoding spec: varint / zigzag / fixed32 / fixed64 / length-delimited;
  * packed repeated scalars; maps as repeated entry messages).
  *
  * Needed because the environment has no protobuf-java (SURVEY.md §7.0);
  * powers `to_proto`/`from_proto` binary parity
  * ([[graft.Protarrow.toProtoBinary]] / fromProtoBinary).
  */
object ProtoWire {

  private final val Varint = 0
  private final val Fixed64 = 1
  private final val Len = 2
  private final val Fixed32 = 5

  private def wireType(t: PType): Int = t match {
    case PDouble | PFixed64 | PSFixed64 => Fixed64
    case PFloat | PFixed32 | PSFixed32 => Fixed32
    case PString | PBytes | PMessage(_) => Len
    case _ => Varint
  }

  private def packable(t: PType): Boolean = t match {
    case PString | PBytes | PMessage(_) => false
    case _ => true
  }

  // ---------------------------------------------------------------- encode

  /** One growable buffer per top-level message. A length-delimited payload
    * (nested message, packed run, map entry) is written in place behind a
    * 1-byte length slot; `closeLen` back-patches the slot and shifts the
    * payload right only when its length needs a longer varint. An inner
    * shift happens before its parent closes, so the parent's length
    * already counts it. */
  private final class Writer {
    private var buf = new Array[Byte](512)
    private var pos = 0
    private def ensure(n: Int): Unit =
      if (n > buf.length - pos)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, pos + n))
    def varint(v: Long): Unit = {
      ensure(10)
      var x = v
      while ((x & ~0x7FL) != 0) {
        buf(pos) = ((x & 0x7F) | 0x80).toByte
        pos += 1
        x = x >>> 7
      }
      buf(pos) = x.toByte
      pos += 1
    }
    def tag(field: Int, wt: Int): Unit = varint((field.toLong << 3) | wt)
    def fixed32(v: Int): Unit = {
      ensure(4)
      buf(pos) = v.toByte; buf(pos + 1) = (v >>> 8).toByte
      buf(pos + 2) = (v >>> 16).toByte; buf(pos + 3) = (v >>> 24).toByte
      pos += 4
    }
    def fixed64(v: Long): Unit = { fixed32(v.toInt); fixed32((v >>> 32).toInt) }
    def bytes(b: Array[Byte]): Unit = {
      varint(b.length.toLong)
      ensure(b.length)
      System.arraycopy(b, 0, buf, pos, b.length)
      pos += b.length
    }
    /** Reserves the length slot; returns where the payload starts. */
    def openLen(): Int = { ensure(1); pos += 1; pos }
    def closeLen(start: Int): Unit = {
      val len = pos - start
      if (len < 0x80) buf(start - 1) = len.toByte
      else {
        val extra = varintSize(len) - 1
        ensure(extra)
        System.arraycopy(buf, start, buf, start + extra, len)
        val end = pos + extra
        pos = start - 1
        varint(len.toLong)
        pos = end
      }
    }
    def result: Array[Byte] = java.util.Arrays.copyOf(buf, pos)
  }

  private def varintSize(n: Int): Int =
    if (n < (1 << 7)) 1 else if (n < (1 << 14)) 2 else if (n < (1 << 21)) 3
    else if (n < (1 << 28)) 4 else 5

  def zigzag32(v: Int): Long = ((v << 1) ^ (v >> 31)).toLong & 0xFFFFFFFFL
  def zigzag64(v: Long): Long = (v << 1) ^ (v >> 63)
  def unzigzag32(v: Long): Int = (((v >>> 1) ^ -(v & 1)).toInt)
  def unzigzag64(v: Long): Long = (v >>> 1) ^ -(v & 1)

  private def writeScalar(w: Writer, t: PType, v: Any): Unit = t match {
    case PDouble => w.fixed64(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))
    case PFloat => w.fixed32(java.lang.Float.floatToIntBits(v.asInstanceOf[Float]))
    case PInt32 => w.varint(v.asInstanceOf[Int].toLong) // sign-extended per spec
    case PInt64 => w.varint(v.asInstanceOf[Long])
    case PUInt32 => w.varint(v.asInstanceOf[Long] & 0xFFFFFFFFL)
    case PFixed32 => w.fixed32(v.asInstanceOf[Long].toInt)
    case PUInt64 => w.varint(v.asInstanceOf[Long])
    case PFixed64 => w.fixed64(v.asInstanceOf[Long])
    case PSInt32 => w.varint(zigzag32(v.asInstanceOf[Int]))
    case PSInt64 => w.varint(zigzag64(v.asInstanceOf[Long]))
    case PSFixed32 => w.fixed32(v.asInstanceOf[Int])
    case PSFixed64 => w.fixed64(v.asInstanceOf[Long])
    case PBool => w.varint(if (v.asInstanceOf[Boolean]) 1L else 0L)
    case PString => w.bytes(v.asInstanceOf[String]
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    case PBytes => w.bytes(v.asInstanceOf[Bytes].unsafeArray)
    case PEnum(_) => w.varint(v.asInstanceOf[Int].toLong)
    case PMessage(_) =>
      val start = w.openLen()
      writeMessage(w, v.asInstanceOf[DynamicMessage])
      w.closeLen(start)
  }

  // ascending field number: canonical, deterministic output
  private def writeMessage(w: Writer, m: DynamicMessage): Unit = {
    val fields = m.descriptor.fieldArray
    val order = m.descriptor.ordinalsByNumber
    var i = 0
    while (i < order.length) {
      val v = m.slot(order(i))
      if (v != null) writeField(w, fields(order(i)), v)
      i += 1
    }
  }

  private def writeField(w: Writer, f: PField, v: Any): Unit =
    if (f.isMap) {
      v.asInstanceOf[Map[Any, Any]].foreachEntry { (k, mv) =>
        // both entry fields are ALWAYS serialized, defaults included —
        // protobuf-java/C++ map-entry serialization does the same, so
        // byte-for-byte parity holds for maps like {0 -> 0}
        w.tag(f.number, Len)
        val start = w.openLen()
        w.tag(1, wireType(f.mapKey)); writeScalar(w, f.mapKey, k)
        w.tag(2, wireType(f.mapValue)); writeScalar(w, f.mapValue, mv)
        w.closeLen(start)
      }
    } else if (f.repeated) {
      val xs = v.asInstanceOf[Vector[Any]]
      if (packable(f.typ)) {
        // proto3 default: packed
        w.tag(f.number, Len)
        val start = w.openLen()
        xs.foreach(x => writeScalar(w, f.typ, x))
        w.closeLen(start)
      } else xs.foreach { x =>
        w.tag(f.number, wireType(f.typ)); writeScalar(w, f.typ, x)
      }
    } else {
      w.tag(f.number, wireType(f.typ)); writeScalar(w, f.typ, v)
    }

  def encode(m: DynamicMessage, reg: ProtoRegistry = WellKnown.registry): Array[Byte] = {
    val w = new Writer()
    writeMessage(w, m)
    w.result
  }

  // ---------------------------------------------------------------- decode

  /** Bounds-checked reader: every read is confined to [pos, end). Corrupt
    * input (a truncated record off Kafka, a length prefix pointing past the
    * payload) must raise a clear, catchable error — unchecked reads would
    * zero-pad truncated bytes (Arrays.copyOfRange pads) and let a nested
    * message with an oversized length prefix parse its PARENT's adjacent
    * bytes as its own fields. A nested payload narrows `end` with `push`
    * and restores it with `pop`, so one reader serves the whole message. */
  private final class Reader(buf: Array[Byte]) {
    private var pos = 0
    private var end = buf.length
    def hasMore: Boolean = pos < end
    // n > end - pos, NOT pos + n > end: the latter wraps for n near
    // Int.MaxValue and lets a corrupt length prefix fabricate an empty
    // nested message before crashing with an unrelated exception
    private def need(n: Int): Unit =
      if (n < 0 || n > end - pos) throw new IllegalArgumentException(
        s"truncated message: need $n bytes at offset $pos, end $end")
    // length prefixes are read as Long then range-checked BEFORE toInt:
    // a corrupt 64-bit length like 2^32+5 would otherwise truncate to 5
    // and silently misparse
    private def lenPrefix(): Int = {
      val len = varint()
      if (len < 0 || len > Int.MaxValue) throw new IllegalArgumentException(
        s"bad length prefix $len at offset $pos")
      need(len.toInt)
      len.toInt
    }
    def varint(): Long = {
      var shift = 0; var result = 0L
      while (shift < 64) {
        need(1)
        val b = buf(pos); pos += 1
        result |= (b & 0x7FL) << shift
        if (b >= 0) return result
        shift += 7
      }
      throw new IllegalArgumentException("malformed varint")
    }
    def fixed32(): Int = {
      need(4)
      val v = (buf(pos) & 0xFF) | ((buf(pos + 1) & 0xFF) << 8) |
        ((buf(pos + 2) & 0xFF) << 16) | ((buf(pos + 3) & 0xFF) << 24)
      pos += 4; v
    }
    def fixed64(): Long =
      (fixed32().toLong & 0xFFFFFFFFL) | (fixed32().toLong << 32)
    def bytes(): Array[Byte] = {
      val len = lenPrefix()
      val b = java.util.Arrays.copyOfRange(buf, pos, pos + len)
      pos += len; b
    }
    def string(): String = {
      val len = lenPrefix()
      val s = new String(buf, pos, len, java.nio.charset.StandardCharsets.UTF_8)
      pos += len; s
    }
    /** Narrows the readable range to the next length-delimited payload;
      * returns the enclosing end for `pop`. */
    def push(): Int = {
      val len = lenPrefix()
      val outer = end
      end = pos + len
      outer
    }
    def pop(outer: Int): Unit = end = outer
    def skip(wt: Int): Unit = wt match {
      case Varint => varint(); ()
      case Fixed64 => need(8); pos += 8
      case Fixed32 => need(4); pos += 4
      case Len => val len = lenPrefix(); pos += len
      case other => throw new IllegalArgumentException(s"bad wire type $other")
    }
  }

  private def readScalar(r: Reader, t: PType, reg: ProtoRegistry,
      depth: Int): Any = t match {
    case PDouble => java.lang.Double.longBitsToDouble(r.fixed64())
    case PFloat => java.lang.Float.intBitsToFloat(r.fixed32())
    case PInt32 => r.varint().toInt
    case PInt64 => r.varint()
    case PUInt32 => r.varint() & 0xFFFFFFFFL
    case PUInt64 => r.varint()
    case PSInt32 => unzigzag32(r.varint())
    case PSInt64 => unzigzag64(r.varint())
    case PFixed32 => r.fixed32().toLong & 0xFFFFFFFFL
    case PFixed64 => r.fixed64()
    case PSFixed32 => r.fixed32()
    case PSFixed64 => r.fixed64()
    case PBool => r.varint() != 0L
    case PString => r.string()
    case PBytes => Bytes.owned(r.bytes())
    case PEnum(_) => r.varint().toInt
    case PMessage(name) =>
      val outer = r.push()
      val m = decodeMessage(r, reg.message(name), reg, depth + 1)
      r.pop(outer)
      m
  }

  /** Nesting cap on decode, matching protobuf-java's default: a crafted
    * deeply-recursive payload must raise, not blow the executor's stack. */
  val MaxDecodeDepth = 100

  def decode(bytes: Array[Byte], md: PMessageDesc,
      reg: ProtoRegistry = WellKnown.registry): DynamicMessage =
    decodeMessage(new Reader(bytes), md, reg, 0)

  /** proto merge semantics for repeated occurrences of a singular message
    * field: scalars last-win, nested singular messages merge recursively,
    * repeated/map fields concatenate (a conformant encoder may emit a
    * message field twice — e.g. the standard concatenate-two-partials
    * merge idiom — and the parse result must be their merge). Both sides
    * were decoded against the same descriptor, so they merge slot by slot. */
  private def mergeMessages(a: DynamicMessage, b: DynamicMessage): DynamicMessage = {
    val fields = a.descriptor.fieldArray
    val slots = new Array[Any](fields.length)
    var i = 0
    while (i < fields.length) {
      val av = a.slot(i)
      val bv = b.slot(i)
      val f = fields(i)
      slots(i) =
        if (av == null) bv
        else if (bv == null) av
        else if (f.isMap) av.asInstanceOf[Map[Any, Any]] ++ bv.asInstanceOf[Map[Any, Any]]
        else if (f.repeated) av.asInstanceOf[Vector[Any]] ++ bv.asInstanceOf[Vector[Any]]
        else f.typ match {
          case PMessage(_) => mergeMessages(av.asInstanceOf[DynamicMessage],
            bv.asInstanceOf[DynamicMessage])
          case _ => bv
        }
      i += 1
    }
    DynamicMessage.fromSlots(a.descriptor, slots)
  }

  /** Does the tag's wire type match what the descriptor declares? A
    * mismatch (schema evolution, corrupt tag) means the payload is NOT the
    * declared field — protobuf-java treats it as an unknown field and
    * skips it rather than misparsing the bytes. Packed repeated scalars
    * legitimately arrive as either Len (packed) or their scalar wire type
    * (unpacked), so both are accepted. */
  private def wireTypeMatches(f: PField, wt: Int): Boolean =
    if (f.isMap) wt == Len
    else if (f.repeated && packable(f.typ)) wt == Len || wt == wireType(f.typ)
    else wt == wireType(f.typ)

  /** Decodes the reader's current range into one slot per field ordinal.
    * Repeated and map fields collect into builders held in their slots
    * until the range is consumed. */
  private def decodeMessage(r: Reader, md: PMessageDesc, reg: ProtoRegistry,
      depth: Int): DynamicMessage = {
    if (depth > MaxDecodeDepth) throw new IllegalArgumentException(
      s"message nesting exceeds $MaxDecodeDepth levels")
    val fields = md.fieldArray
    val slots = new Array[Any](fields.length)
    while (r.hasMore) {
      val t = r.varint()
      val wt = (t & 7).toInt
      val o = md.ordinalOf((t >>> 3).toInt)
      if (o < 0) r.skip(wt) // unknown field
      else {
        val f = fields(o)
        if (!wireTypeMatches(f, wt)) r.skip(wt) // wrong wire type → unknown
        else if (f.isMap) {
          val outer = r.push()
          var k: Any = PType.defaultOf(f.mapKey)
          var v: Any = f.mapValue match {
            case PMessage(name) => DynamicMessage.empty(reg.message(name))
            case mt => PType.defaultOf(mt)
          }
          while (r.hasMore) {
            val et = r.varint()
            (et >>> 3).toInt match {
              case 1 => k = readScalar(r, f.mapKey, reg, depth)
              case 2 => v = readScalar(r, f.mapValue, reg, depth)
              case _ => r.skip((et & 7).toInt)
            }
          }
          r.pop(outer)
          if (slots(o) == null) slots(o) = Map.newBuilder[Any, Any]
          slots(o).asInstanceOf[mutable.Builder[(Any, Any), Map[Any, Any]]] += k -> v
        } else if (f.repeated) {
          if (slots(o) == null) slots(o) = Vector.newBuilder[Any]
          val xs = slots(o).asInstanceOf[mutable.Builder[Any, Vector[Any]]]
          if (wt == Len && packable(f.typ)) {
            val outer = r.push()
            while (r.hasMore) xs += readScalar(r, f.typ, reg, depth)
            r.pop(outer)
          } else xs += readScalar(r, f.typ, reg, depth)
        } else {
          val v = readScalar(r, f.typ, reg, depth)
          slots(o) = slots(o) match {
            case prev: DynamicMessage => mergeMessages(prev, v.asInstanceOf[DynamicMessage])
            case _ => v
          }
        }
      }
    }
    var i = 0
    while (i < fields.length) {
      if (slots(i) != null && (fields(i).repeated || fields(i).isMap))
        slots(i) = slots(i).asInstanceOf[mutable.Builder[_, _]].result()
      i += 1
    }
    DynamicMessage.fromSlots(md, slots)
  }
}
