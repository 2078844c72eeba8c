package graft.proto

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import org.scalatest.funsuite.AnyFunSuite
import graft.conv.{Codecs, GraftConfig, SchemaConversion}
import PType._

/** The message model: one slot per field ordinal, normalized once in the
  * constructor every path shares, so equality does not depend on how a
  * message was built. */
class DynamicMessageSpec extends AnyFunSuite {

  private val inner = PMessageDesc("t.Inner", Seq(
    PField("id", 1, PInt32), PField("tags", 2, PString, repeated = true)))
  // fields declared out of number order, so ordinal ≠ number order
  private val outer = PMessageDesc("t.Outer", Seq(
    PField("name", 3, PString),
    PField("score", 1, PDouble),
    PField("count", 2, PInt64),
    PField("ids", 4, PInt32, repeated = true),
    PField("attrs", 5, PInt64, mapKV = Some((PString, PInt64))),
    PField("inner", 6, PMessage(inner.fullName)),
    PField("opt", 7, PInt32, explicitOptional = true),
    PField("wrapped", 8, PMessage("google.protobuf.Int32Value"))))
  private val reg = new ProtoRegistry(
    Map(inner.fullName -> inner, outer.fullName -> outer), Map.empty) ++ WellKnown.registry
  private val int32Value = reg.message("google.protobuf.Int32Value")

  private val viaMap = DynamicMessage(outer, Map(
    3 -> "a", 1 -> 1.5, 2 -> 7L, 4 -> Vector(1, 2), 5 -> Map("k" -> 3L),
    6 -> DynamicMessage(inner, Map(1 -> 4, 2 -> Vector("x"))),
    7 -> 0, 8 -> DynamicMessage(int32Value, Map(1 -> 0))))

  private def serialized(m: DynamicMessage): DynamicMessage = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(m)
    out.close()
    new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[DynamicMessage]
  }

  test("Map, wire, JSON and catalyst-row construction give equal messages and hashes") {
    val viaWire = ProtoWire.decode(ProtoWire.encode(viaMap, reg), outer, reg)
    val viaJson = ProtoJson.parse(
      """{"name": "a", "score": 1.5, "count": "7", "ids": [1, 2], "attrs": {"k": "3"},
        | "inner": {"id": 4, "tags": ["x"]}, "opt": 0, "wrapped": 0}""".stripMargin, outer, reg)
    val cfg = GraftConfig()
    val row = Codecs.internalRowWriter(outer, cfg, reg)(viaMap)
    val viaRow = Codecs.internalRowReader(outer,
      SchemaConversion.messageTypeToSchema(outer, cfg, reg), cfg, reg)(row)
    for ((how, m) <- Seq("wire" -> viaWire, "json" -> viaJson, "row" -> viaRow)) {
      assert(m === viaMap, how)
      assert(m.hashCode === viaMap.hashCode, how)
    }
    assert(viaMap.values.keySet === Set(1, 2, 3, 4, 5, 6, 7, 8))
  }

  test("unknown field numbers are dropped") {
    val m = DynamicMessage(outer, Map(3 -> "a", 99 -> 5, 0 -> 1))
    assert(m === DynamicMessage(outer, Map(3 -> "a")))
    assert(!m.has(99) && m.get(99).isEmpty)
    assert(m.values === Map(3 -> "a"))
    // on the wire: field 99 (varint 5) before field 3 (string "a")
    val wire = Array[Byte](0x98.toByte, 0x06, 5, 0x1A, 1, 'a')
    assert(ProtoWire.decode(wire, outer, reg) === m)
  }

  test("default plain scalars and empty repeated/map fields drop; presence fields keep defaults") {
    val m = DynamicMessage(outer, Map(
      3 -> "", 1 -> 0.0, 2 -> 0L, 4 -> Vector.empty, 5 -> Map.empty,
      6 -> DynamicMessage.empty(inner), 7 -> 0, 8 -> DynamicMessage(int32Value, Map(1 -> 0))))
    assert(m.values.keySet === Set(6, 7, 8))
    assert(m.get(8) === Some(DynamicMessage.empty(int32Value)))
    assert(m.getOrDefault(outer.byName("count")) === 0L)
    assert(m.getOrDefault(outer.byName("ids")) === Vector.empty)
    // `set` goes through the same normalization
    assert(m.set(outer.byName("count"), 0L) === m)
    assert(!m.set(outer.byName("ids"), Vector.empty).has(4))
    assert(m.set(outer.byName("count"), 9L).get(2) === Some(9L))
    assert(DynamicMessage(outer, Map(1 -> 0.0)) === DynamicMessage.empty(outer))
  }

  test("sparse field numbers (1, 19000, 536870911) round-trip through the wire") {
    val md = PMessageDesc("t.Sparse", Seq(
      PField("max", 536870911, PInt32), PField("mid", 19000, PString), PField("low", 1, PBool)))
    val m = DynamicMessage(md, Map(536870911 -> 5, 19000 -> "s", 1 -> true))
    val bytes = ProtoWire.encode(m, reg)
    // ascending numbers: field 1 (tag 08) first, field 536870911's 5-byte
    // tag (varint of 536870911 << 3) last
    assert(bytes.take(2).toSeq === Seq[Byte](0x08, 1))
    assert(bytes.takeRight(6).toSeq ===
      Seq(0xF8, 0xFF, 0xFF, 0xFF, 0x0F, 5).map(_.toByte))
    val back = ProtoWire.decode(bytes, md, reg)
    assert(back === m)
    assert(back.get(19000) === Some("s") && back.get(536870911) === Some(5))
    assert(md.ordinalOf(536870911) === 0 && md.ordinalOf(1) === 2 && md.ordinalOf(2) === -1)
  }

  test("Java serialization round trip is equal and still resolves fields") {
    val back = serialized(viaMap)
    assert(back.descriptor ne viaMap.descriptor)
    assert(back === viaMap && back.hashCode === viaMap.hashCode)
    // the ordinal tables are rebuilt on the deserialized descriptor
    assert(back.get(7) === Some(0) && back.get(99).isEmpty)
    assert(back.getOrDefault(outer.byName("name")) === "a")
    assert(ProtoWire.encode(back, reg).toSeq === ProtoWire.encode(viaMap, reg).toSeq)
    // a codec compiled against the original descriptor reads the copy
    val cfg = GraftConfig()
    val read = Codecs.internalRowReader(outer,
      SchemaConversion.messageTypeToSchema(outer, cfg, reg), cfg, reg)
    assert(read(Codecs.internalRowWriter(outer, cfg, reg)(back)) === viaMap)
  }
}
