package graft.proto

import java.time.Instant
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import scala.jdk.CollectionConverters._

/** Proto3 JSON codec over the descriptor IR (the public proto3 JSON
  * mapping; the reference's fixtures are proto-JSON lines parsed with
  * `google.protobuf.json_format.Parse`, tests/test_conversion.py:99-105).
  *
  * Conventions handled (visible in the fixtures, FIXTURES.md §1):
  * int64/uint64/fixed64 as strings (numbers also accepted), bytes as
  * base64 (std or URL-safe), enums by name (or number), Timestamp as
  * RFC3339 strings, Duration as "1.5s" strings, Date/TimeOfDay as plain
  * objects, wrappers as bare values, Empty as {}, original field names
  * (camelCase also accepted on read).
  */
object ProtoJson {

  private val mapper = new ObjectMapper()

  def parse(json: String, md: PMessageDesc, reg: ProtoRegistry): DynamicMessage =
    fromNode(mapper.readTree(json), md, reg)

  def fromNode(node: JsonNode, md: PMessageDesc, reg: ProtoRegistry): DynamicMessage = {
    require(node.isObject, s"expected object for ${md.fullName}, got $node")
    val fields = md.fieldArray
    val slots = new Array[Any](fields.length)
    fields.indices.foreach { o =>
      val f = fields(o)
      val n = if (node.has(f.name)) node.get(f.name) else node.get(camel(f.name))
      if (n != null && !n.isNull) {
        slots(o) =
          if (f.isMap) {
            n.asInstanceOf[ObjectNode].properties().asScala.map { e =>
              parseMapKey(e.getKey, f.mapKey) -> parseValue(e.getValue, f.mapValue, reg)
            }.toMap
          } else if (f.repeated) {
            n.asInstanceOf[ArrayNode].elements().asScala
              .map(e => parseValue(e, f.typ, reg)).toVector
          } else parseValue(n, f.typ, reg)
      }
    }
    DynamicMessage.fromSlots(md, slots)
  }

  private def camel(snake: String): String = {
    val parts = snake.split('_')
    parts.head + parts.tail.map(_.capitalize).mkString
  }

  private def parseMapKey(key: String, t: PType): Any = t match {
    case PType.PString => key
    case PType.PBool => key == "true"
    case PType.PInt32 | PType.PSInt32 | PType.PSFixed32 => key.toInt
    case PType.PInt64 | PType.PSInt64 | PType.PSFixed64 => key.toLong
    case PType.PUInt32 | PType.PFixed32 => key.toLong
    case PType.PUInt64 | PType.PFixed64 => java.lang.Long.parseUnsignedLong(key)
    case other => throw new IllegalArgumentException(s"bad map key type $other")
  }

  private def base64(s: String): Bytes = {
    val dec = if (s.contains('-') || s.contains('_'))
      java.util.Base64.getUrlDecoder else java.util.Base64.getDecoder
    Bytes.owned(dec.decode(s))
  }

  def parseValue(n: JsonNode, t: PType, reg: ProtoRegistry): Any = t match {
    case PType.PDouble => n.asDouble()
    case PType.PFloat => n.asDouble().toFloat
    case PType.PInt32 | PType.PSInt32 | PType.PSFixed32 =>
      if (n.isTextual) n.asText.toInt else n.asInt()
    case PType.PInt64 | PType.PSInt64 | PType.PSFixed64 =>
      if (n.isTextual) n.asText.toLong else n.asLong()
    case PType.PUInt32 | PType.PFixed32 =>
      if (n.isTextual) n.asText.toLong else n.asLong()
    case PType.PUInt64 | PType.PFixed64 =>
      if (n.isTextual) java.lang.Long.parseUnsignedLong(n.asText)
      else n.bigIntegerValue().longValue()
    case PType.PBool => n.asBoolean()
    case PType.PString => n.asText()
    case PType.PBytes => base64(n.asText())
    case PType.PEnum(name) =>
      if (n.isTextual) reg.enum(name).nameToNumber.getOrElse(n.asText(), 0)
      else n.asInt()
    case PType.PMessage(WellKnown.TimestampName) =>
      // proto3 JSON accepts any RFC 3339 offset, not just 'Z'
      // (json_format normalizes "+08:00" etc. to UTC); Instant.parse is
      // ISO_INSTANT and would reject those
      val i = java.time.OffsetDateTime.parse(n.asText()).toInstant
      DynamicMessage(WellKnown.timestamp, Map(1 -> i.getEpochSecond, 2 -> i.getNano))
    case PType.PMessage(WellKnown.DurationName) =>
      val s = n.asText().stripSuffix("s")
      val bd = new java.math.BigDecimal(s)
      val secs = bd.longValue() // truncation toward zero: proto sign rule
      val nanos = bd.subtract(java.math.BigDecimal.valueOf(secs))
        .movePointRight(9).intValueExact()
      DynamicMessage(WellKnown.duration, Map(1 -> secs, 2 -> nanos))
    case PType.PMessage(name) if WellKnown.isWrapper(name) =>
      DynamicMessage(reg.message(name),
        Map(1 -> parseValue(n, WellKnown.wrapperNames(name), reg)))
    case PType.PMessage(name) => fromNode(n, reg.message(name), reg)
  }

  // ------------------------------------------------------------------ write

  def toJson(m: DynamicMessage, reg: ProtoRegistry): String =
    mapper.writeValueAsString(toNode(m, reg))

  def toNode(m: DynamicMessage, reg: ProtoRegistry): ObjectNode = {
    val node = mapper.createObjectNode()
    m.descriptor.fields.foreach { f =>
      m.get(f.number).foreach { v =>
        if (f.isMap) {
          val o = node.putObject(f.name)
          v.asInstanceOf[Map[Any, Any]].foreach { case (k, mv) =>
            writeValue(o, mapKeyString(k), mv, f.mapValue, reg)
          }
        } else if (f.repeated) {
          val a = node.putArray(f.name)
          v.asInstanceOf[Vector[Any]].foreach(e => appendValue(a, e, f.typ, reg))
        } else writeValue(node, f.name, v, f.typ, reg)
      }
    }
    node
  }

  private def mapKeyString(k: Any): String = k match {
    case l: Long => l.toString
    case other => other.toString
  }

  private def scalarNode(v: Any, t: PType, reg: ProtoRegistry): JsonNode = t match {
    case PType.PDouble => mapper.getNodeFactory.numberNode(v.asInstanceOf[Double])
    case PType.PFloat => mapper.getNodeFactory.numberNode(v.asInstanceOf[Float])
    case PType.PInt32 | PType.PSInt32 | PType.PSFixed32 =>
      mapper.getNodeFactory.numberNode(v.asInstanceOf[Int])
    case PType.PInt64 | PType.PSInt64 | PType.PSFixed64 =>
      mapper.getNodeFactory.textNode(v.toString)
    case PType.PUInt32 | PType.PFixed32 =>
      mapper.getNodeFactory.numberNode(v.asInstanceOf[Long])
    case PType.PUInt64 | PType.PFixed64 =>
      mapper.getNodeFactory.textNode(
        java.lang.Long.toUnsignedString(v.asInstanceOf[Long]))
    case PType.PBool => mapper.getNodeFactory.booleanNode(v.asInstanceOf[Boolean])
    case PType.PString => mapper.getNodeFactory.textNode(v.asInstanceOf[String])
    case PType.PBytes => mapper.getNodeFactory.textNode(
      java.util.Base64.getEncoder.encodeToString(v.asInstanceOf[Bytes].toArray))
    case PType.PEnum(name) =>
      val ed = reg.enum(name)
      val num = v.asInstanceOf[Int]
      ed.numberToName.get(num) match {
        case Some(nm) => mapper.getNodeFactory.textNode(nm)
        case None => mapper.getNodeFactory.numberNode(num)
      }
    // well-known types read their fields by ordinal: seconds/nanos are 0/1
    // in Timestamp and Duration, a wrapper's value is 0
    case PType.PMessage(WellKnown.TimestampName) =>
      val m = v.asInstanceOf[DynamicMessage]
      val i = Instant.ofEpochSecond(
        m.slotOrDefault(0).asInstanceOf[Long], m.slotOrDefault(1).asInstanceOf[Int])
      mapper.getNodeFactory.textNode(i.toString)
    case PType.PMessage(WellKnown.DurationName) =>
      val m = v.asInstanceOf[DynamicMessage]
      val secs = m.slotOrDefault(0).asInstanceOf[Long]
      val nanos = m.slotOrDefault(1).asInstanceOf[Int]
      val bd = java.math.BigDecimal.valueOf(secs)
        .add(java.math.BigDecimal.valueOf(nanos.toLong, 9))
      mapper.getNodeFactory.textNode(bd.stripTrailingZeros().toPlainString + "s")
    case PType.PMessage(name) if WellKnown.isWrapper(name) =>
      scalarNode(v.asInstanceOf[DynamicMessage].slotOrDefault(0),
        WellKnown.wrapperNames(name), reg)
    case PType.PMessage(_) => toNode(v.asInstanceOf[DynamicMessage], reg)
  }

  private def writeValue(o: ObjectNode, name: String, v: Any, t: PType,
      reg: ProtoRegistry): Unit = { o.set(name, scalarNode(v, t, reg)); () }

  private def appendValue(a: ArrayNode, v: Any, t: PType, reg: ProtoRegistry): Unit = {
    a.add(scalarNode(v, t, reg)); ()
  }
}
