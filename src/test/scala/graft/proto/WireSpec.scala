package graft.proto

import scala.io.Source
import org.scalatest.funsuite.AnyFunSuite

/** Wire-format codec round trips over the golden fixtures (the codec is
  * the engine's protobuf-java replacement, SURVEY.md §7.0). */
class WireSpec extends AnyFunSuite {

  private val reg = Schemas.registry

  private def fixture(name: String): Seq[DynamicMessage] = {
    val md = Schemas.msg(name)
    val in = getClass.getResourceAsStream(s"/protarrow/$name.jsonl")
    Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty)
      .map(l => ProtoJson.parse(l, md, reg)).toVector
  }

  for (name <- Seq("ExampleMessage", "NestedExampleMessage",
    "RecursiveSelfReferentialMessage", "RecursiveNestedMessageLevel1",
    "RecursiveSelfReferentialRepeatedMessage", "RecursiveSelfReferentialMapMessage")) {
    test(s"$name: wire round trip") {
      val md = Schemas.msg(name)
      fixture(name).zipWithIndex.foreach { case (m, i) =>
        val bytes = ProtoWire.encode(m, reg)
        val back = ProtoWire.decode(bytes, md, reg)
        assert(back === m, s"row $i")
      }
    }
  }

  test("zigzag") {
    for (v <- Seq(0, -1, 1, Int.MinValue, Int.MaxValue))
      assert(ProtoWire.unzigzag32(ProtoWire.zigzag32(v)) === v)
    for (v <- Seq(0L, -1L, 1L, Long.MinValue, Long.MaxValue))
      assert(ProtoWire.unzigzag64(ProtoWire.zigzag64(v)) === v)
  }

  test("unknown fields are skipped") {
    val myProto = Schemas.msg("MyProto")
    val m = DynamicMessage(myProto, Map(1 -> "x", 2 -> 3, 3 -> Vector(1, 2)))
    val bytes = ProtoWire.encode(m, reg)
    // decode against a narrower descriptor: only field 2 known
    val narrow = PMessageDesc("narrow", Seq(PField("id", 2, PType.PInt32)))
    val back = ProtoWire.decode(bytes, narrow, reg)
    assert(back === DynamicMessage(narrow, Map(2 -> 3)))
  }

  test("malformed input raises a clear error, never a silent misparse") {
    // a Kafka-shaped ingestion path sees corrupt records; they must fail
    // loudly. Pre-fix behavior: truncated bytes fields were silently
    // ZERO-PADDED (Arrays.copyOfRange pads past the end) and an oversized
    // nested length prefix let the child parse the parent's bytes.
    val myProto = Schemas.msg("MyProto")
    val m = DynamicMessage(myProto, Map(1 -> "hello world", 2 -> 7, 3 -> Vector(1, 2)))
    val bytes = ProtoWire.encode(m, reg)
    // every strict prefix either decodes to a PREFIX of the fields (clean
    // field boundary) or raises IllegalArgumentException — never fabricates
    for (cut <- 1 until bytes.length) {
      val truncated = java.util.Arrays.copyOfRange(bytes, 0, cut)
      try {
        val back = ProtoWire.decode(truncated, myProto, reg)
        back.values.foreach { case (num, v) =>
          assert(m.values(num) === v,
            s"cut=$cut field $num: fabricated value $v")
        }
      } catch { case _: IllegalArgumentException => /* loud failure: fine */ }
    }
    // oversized nested length prefix: field 1 wire type Len, length 100,
    // only 3 payload bytes present → must raise, not read beyond
    val bad = Array[Byte](0x0A, 100, 'a', 'b', 'c')
    intercept[IllegalArgumentException] {
      ProtoWire.decode(bad, myProto, reg)
    }
    // negative length prefix (varint 2^64-1 → toInt -1) must raise too
    val neg = Array[Byte](0x0A) ++ Array.fill(9)(0xFF.toByte) ++ Array[Byte](1)
    intercept[IllegalArgumentException] {
      ProtoWire.decode(neg, myProto, reg)
    }
    // length = Int.MaxValue: pos + n overflows int — the bounds check must
    // not wrap (fabricated-empty-message-then-AIOOBE pre-fix)
    val big = Array[Byte](0x0A, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte,
      0xFF.toByte, 0x07)
    intercept[IllegalArgumentException] {
      ProtoWire.decode(big, myProto, reg)
    }
    // 64-bit length 2^32+5: toInt would truncate to 5 and silently parse
    // 5 bytes as the field — must raise on the prefix itself
    val wide = Array[Byte](0x0A, 0x85.toByte, 0x80.toByte, 0x80.toByte,
      0x80.toByte, 0x10, 'a', 'b', 'c', 'd', 'e')
    intercept[IllegalArgumentException] {
      ProtoWire.decode(wide, myProto, reg)
    }
  }

  test("repeated occurrences of a singular message field MERGE (concatenation idiom)") {
    // concatenating two encoded partials is the standard proto merge
    // idiom; the parse result must be their merge, not last-wins
    val md = Schemas.recursiveSelf
    val a = DynamicMessage(md, Map(1 -> DynamicMessage(md, Map(2 -> 5))))
    val b = DynamicMessage(md,
      Map(1 -> DynamicMessage(md, Map(1 -> DynamicMessage(md, Map(2 -> 1))))))
    val merged = ProtoWire.decode(
      ProtoWire.encode(a, reg) ++ ProtoWire.encode(b, reg), md, reg)
    assert(merged === DynamicMessage(md, Map(1 -> DynamicMessage(md,
      Map(2 -> 5, 1 -> DynamicMessage(md, Map(2 -> 1)))))),
      "nested singular messages must merge field-wise across occurrences")
  }

  test("wire-type mismatch on a known field is skipped as unknown, not misparsed") {
    // protobuf-java parity: old data encoded field 2 as a varint; the
    // current descriptor says string. The payload is not the declared
    // field — treat as unknown, don't read the varint as a length prefix.
    val myProto = Schemas.msg("MyProto")
    val bytes = ProtoWire.encode(
      DynamicMessage(myProto, Map(1 -> "keep", 2 -> 300)), reg)
    val evolved = PMessageDesc("evolved", Seq(
      PField("name", 1, PType.PString),
      PField("id", 2, PType.PString))) // was int32, now string
    val back = ProtoWire.decode(bytes, evolved, reg)
    assert(back === DynamicMessage(evolved, Map(1 -> "keep")),
      "the mismatched field must be absent, the rest intact")
  }

  test("map entries serialize both fields, defaults included (protobuf-java parity)") {
    val md = PMessageDesc("m", Seq(
      PField("im", 1, PType.PInt32, mapKV = Some((PType.PInt32, PType.PInt32)))))
    val bytes = ProtoWire.encode(DynamicMessage(md, Map(1 -> Map(0 -> 0))), reg)
    // tag(1,Len)=0x0A, len=4, then tag(1,Varint)=0x08 key 0, tag(2,Varint)=0x10 value 0
    assert(bytes.toSeq === Seq[Byte](0x0A, 4, 0x08, 0, 0x10, 0),
      "default key and value must both be on the wire, like protobuf-java")
    assert(ProtoWire.decode(bytes, md, reg) === DynamicMessage(md, Map(1 -> Map(0 -> 0))))
  }

  test("proto3 JSON timestamps accept RFC 3339 offsets, normalized to UTC") {
    val md = Schemas.msg("ExampleMessage")
    val f = md.byName("timestamp_value")
    val withOffset = ProtoJson.parse(
      s"""{"${f.name}": "2023-01-01T08:00:00+08:00"}""", md, reg)
    val utc = ProtoJson.parse(
      s"""{"${f.name}": "2023-01-01T00:00:00Z"}""", md, reg)
    assert(withOffset === utc, "+08:00 form must normalize to the same instant")
  }

  test("decode nesting is capped: crafted deep recursion raises, not StackOverflow") {
    val md = Schemas.recursiveSelf
    def deep(n: Int): DynamicMessage =
      if (n == 0) DynamicMessage(md, Map(2 -> n))
      else DynamicMessage(md, Map(1 -> deep(n - 1), 2 -> n))
    val ok = deep(50)
    assert(ProtoWire.decode(ProtoWire.encode(ok, reg), md, reg) === ok)
    intercept[IllegalArgumentException] {
      ProtoWire.decode(ProtoWire.encode(deep(150), reg), md, reg)
    }
  }

  test("json writer round trips") {
    val md = Schemas.msg("ExampleMessage")
    fixture("ExampleMessage").foreach { m =>
      val back = ProtoJson.parse(ProtoJson.toJson(m, reg), md, reg)
      assert(back === m)
    }
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xFF}%02X").mkString(" ")

  test("negative zero doubles and floats are kept, not dropped as the default") {
    // protobuf-java keeps a plain float/double field whenever its raw bits
    // are non-zero; -0.0 == 0.0 numerically, so a boxed `!=` lost it
    val d = PMessageDesc("t.D", Seq(PField("d", 1, PType.PDouble)))
    val dBytes = Array[Byte](0x09, 0, 0, 0, 0, 0, 0, 0, 0x80.toByte)
    val dm = ProtoWire.decode(dBytes, d, reg)
    assert(dm.get(1).map(v => java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double])) ===
      Some(0x8000000000000000L))
    assert(hex(ProtoWire.encode(dm, reg)) === hex(dBytes))
    assert(hex(ProtoWire.encode(DynamicMessage(d, Map(1 -> -0.0)), reg)) === hex(dBytes))
    assert(ProtoWire.encode(DynamicMessage(d, Map(1 -> 0.0)), reg).isEmpty)

    val f = PMessageDesc("t.F", Seq(PField("f", 1, PType.PFloat)))
    val fBytes = Array[Byte](0x0D, 0, 0, 0, 0x80.toByte)
    val fm = ProtoWire.decode(fBytes, f, reg)
    assert(fm.get(1).map(v => java.lang.Float.floatToRawIntBits(v.asInstanceOf[Float])) ===
      Some(0x80000000))
    assert(hex(ProtoWire.encode(fm, reg)) === hex(fBytes))
    assert(hex(ProtoWire.encode(DynamicMessage(f, Map(1 -> -0.0f)), reg)) === hex(fBytes))
    assert(ProtoWire.encode(DynamicMessage(f, Map(1 -> 0.0f)), reg).isEmpty)
  }

  // ---- length back-patching: each expected encoding is assembled here
  // from tag, varint length and body, independently of the encoder

  private def varint(n: Long): Array[Byte] = {
    val out = Array.newBuilder[Byte]
    var x = n
    while ((x & ~0x7FL) != 0) { out += ((x & 0x7F) | 0x80).toByte; x >>>= 7 }
    out += x.toByte
    out.result()
  }
  private def delimited(tag: Int, body: Array[Byte]): Array[Byte] =
    varint(tag.toLong) ++ varint(body.length.toLong) ++ body

  /** The `n` (0 ≤ n ≤ len) whose `fixed` + varint(n) + n bytes make `len`. */
  private def fill(len: Int, fixed: Int): Int =
    (0 to len).find(n => fixed + varint(n.toLong).length + n == len)
      .getOrElse(throw new IllegalArgumentException(s"no filler for $len"))

  private val Lengths = Seq(0, 127, 128, 16383, 16384)

  // Node { Node child = 1; bytes data = 2; }
  private val node = PMessageDesc("t.Node", Seq(
    PField("child", 1, PType.PMessage("t.Node")), PField("data", 2, PType.PBytes)))
  private val nodeReg = new ProtoRegistry(Map(node.fullName -> node), Map.empty)

  private def assertWire(m: DynamicMessage, expected: Array[Byte], r: ProtoRegistry): Unit = {
    assert(hex(ProtoWire.encode(m, r)) === hex(expected))
    assert(ProtoWire.decode(expected, m.descriptor, r) === m)
  }

  for (len <- Lengths) test(s"nested message payload of $len bytes is length-prefixed exactly") {
    val (child, body) =
      if (len == 0) (DynamicMessage.empty(node), Array.emptyByteArray)
      else {
        val data = Array.fill(fill(len, 1))(7.toByte)
        (DynamicMessage(node, Map(2 -> Bytes(data))), delimited(0x12, data))
      }
    assert(body.length === len)
    assertWire(DynamicMessage(node, Map(1 -> child)), delimited(0x0A, body), nodeReg)
  }

  for (len <- Lengths) test(s"packed repeated payload of $len bytes is length-prefixed exactly") {
    val md = PMessageDesc("t.P", Seq(PField("xs", 1, PType.PInt32, repeated = true)))
    val m = DynamicMessage(md, Map(1 -> Vector.fill(len)(1))) // one byte per element
    // an empty repeated field is absent; a zero-length packed record decodes to it
    val expected = if (len == 0) Array.emptyByteArray else delimited(0x0A, Array.fill(len)(1.toByte))
    assertWire(m, expected, reg)
    if (len == 0) assert(ProtoWire.decode(Array[Byte](0x0A, 0), md, reg) === m)
  }

  for (len <- Lengths) test(s"map entry payload of $len bytes is length-prefixed exactly") {
    val md = PMessageDesc("t.M", Seq(
      PField("m", 1, PType.PBytes, mapKV = Some((PType.PInt32, PType.PBytes)))))
    if (len == 0) {
      // both entry fields are always written, so an encoded entry is never
      // empty; an empty entry on the wire decodes to the default key/value
      val m = DynamicMessage(md, Map(1 -> Map(0 -> Bytes.empty)))
      assert(ProtoWire.decode(Array[Byte](0x0A, 0), md, reg) === m)
      assertWire(m, delimited(0x0A, Array[Byte](0x08, 0, 0x12, 0)), reg)
    } else {
      val data = Array.fill(fill(len, 3))(9.toByte) // key 08 01, value tag 12
      val body = Array[Byte](0x08, 1) ++ delimited(0x12, data)
      assert(body.length === len)
      assertWire(DynamicMessage(md, Map(1 -> Map(1 -> Bytes(data)))), delimited(0x0A, body), reg)
    }
  }

  test("three nested length prefixes: an inner shift cascades into its parent") {
    // innermost payload 16383 bytes (2-byte prefix) makes its parent's
    // payload 16386 bytes (3-byte prefix), which the grandparent then counts
    val data = Array.fill(16380)(3.toByte)
    val inner = delimited(0x12, data)
    val middle = delimited(0x0A, inner)
    val outer = delimited(0x0A, middle)
    assert((inner.length, middle.length) === ((16383, 16386)))
    val m = DynamicMessage(node, Map(1 -> DynamicMessage(node, Map(1 ->
      DynamicMessage(node, Map(1 -> DynamicMessage(node, Map(2 -> Bytes(data)))))))))
    assertWire(m, delimited(0x0A, outer), nodeReg)
  }
}
