package graft.conv

import scala.io.Source
import graft.proto._
import graft.{Protarrow, SparkSpec}
import graft.conv.GraftConfig.{EnumRepr, TimeUnit}

/** Golden-fixture round trips: messages → DataFrame → messages must be
  * structurally equal, across the config matrix — the backbone of the
  * reference's test suite (tests/test_conversion.py:54-161).
  *
  * Temporal truncation: expected messages are truncated to the configured
  * unit before comparison, exactly like the reference's `truncate_nanos`
  * (tests/random_generator.py:158-227) — plus µs for timestamps, since
  * Spark's TimestampType is µs (SURVEY.md §7.0 unit policy).
  */
class RoundTripSpec extends SparkSpec {

  private val reg = Schemas.registry

  def fixture(name: String): Seq[DynamicMessage] = {
    val md = Schemas.msg(name)
    val in = getClass.getResourceAsStream(s"/protarrow/$name.jsonl")
    if (in == null)
      // no jsonl fixture shipped — generated randomly, deterministic seed,
      // like the reference's test_with_random (tests/test_conversion.py:128)
      TestGen.sample(org.scalacheck.Gen.listOfN(6, TestGen.genMessage(md)), 7L)
    else {
      val lines = Source.fromInputStream(in, "UTF-8").getLines().toVector
      lines.filter(_.nonEmpty).map(l => ProtoJson.parse(l, md, reg))
    }
  }

  val configs: Seq[GraftConfig] = RoundTripSpec.configs

  /** Truncate temporal fields to what the config (and µs timestamps) can
    * hold, mirroring tests/random_generator.py:158-227. */
  def truncate(m: DynamicMessage, cfg: GraftConfig): DynamicMessage =
    Truncation.truncate(m, cfg)

  def roundTrip(name: String, cfg: GraftConfig): Unit = {
    val md = Schemas.msg(name)
    val msgs = fixture(name)
    val df = Protarrow.messagesToDataFrame(spark, msgs, md, cfg, reg)
    val back = Protarrow.dataFrameToMessages(df, md, cfg, reg)
    assert(back.size === msgs.size)
    msgs.zip(back).zipWithIndex.foreach { case ((orig, got), i) =>
      val expected = truncate(orig, cfg)
      assert(got === expected, s"row $i of $name under $cfg")
    }
  }

  // the reference's MESSAGES × CONFIGS cross product
  // (tests/test_conversion.py:54-58 × 60-96): 3 messages × 35 configs
  for ((cfg, i) <- configs.zipWithIndex) {
    test(s"ExampleMessage round trip [#${i + 1} $cfg]") {
      roundTrip("ExampleMessage", cfg)
    }
    test(s"NestedExampleMessage round trip [#${i + 1} $cfg]") {
      roundTrip("NestedExampleMessage", cfg)
    }
    test(s"SuperNestedExampleMessage round trip [#${i + 1} $cfg]") {
      roundTrip("SuperNestedExampleMessage", cfg)
    }
  }

  test("recursive fixtures round trip under skipRecursiveMessages") {
    // pruned fields drop their payload but the rest must survive
    for (name <- Seq("RecursiveSelfReferentialMessage",
      "RecursiveSelfReferentialRepeatedMessage")) {
      val md = Schemas.msg(name)
      val cfg = GraftConfig(skipRecursiveMessages = true)
      val msgs = fixture(name)
      val df = Protarrow.messagesToDataFrame(spark, msgs, md, cfg, reg)
      val back = Protarrow.dataFrameToMessages(df, md, cfg, reg)
      assert(back.size === msgs.size)
      // non-recursive scalar fields survive
      msgs.zip(back).foreach { case (orig, got) =>
        md.fields.filter(f => !f.typ.isInstanceOf[PType.PMessage]).foreach { f =>
          assert(got.getOrDefault(f) === orig.getOrDefault(f))
        }
      }
    }
  }

  test("empty messages: presence by struct mask (tests/test_conversion.py:710-753)") {
    val md = Schemas.msg("NestedEmptyMessage")
    val emptyMsg = DynamicMessage.empty(Schemas.msg("EmptyMessage"))
    val present = DynamicMessage(md, Map(
      1 -> emptyMsg,
      2 -> Vector(emptyMsg, emptyMsg),
      4 -> Map(7 -> emptyMsg)))
    val absent = DynamicMessage.empty(md)
    val df = Protarrow.messagesToDataFrame(spark, Seq(present, absent), md, GraftConfig(), reg)
    val back = Protarrow.dataFrameToMessages(df, md, GraftConfig(), reg)
    assert(back(0) === present)
    assert(back(1) === absent)
  }

  test("optional presence triad (tests/test_protobuf.py:26-61)") {
    val md = Schemas.msg("MessageWithOptional")
    val sv = Schemas.registry.message("google.protobuf.StringValue")
    val m1 = DynamicMessage(md, Map(
      1 -> "", // optional set to default: presence kept
      2 -> "plain",
      3 -> DynamicMessage(sv, Map(1 -> "")))) // wrapper set to default
    val m2 = DynamicMessage.empty(md) // all unset
    val df = Protarrow.messagesToDataFrame(spark, Seq(m1, m2), md, GraftConfig(), reg)
    val back = Protarrow.dataFrameToMessages(df, md, GraftConfig(), reg)
    assert(back(0) === m1)
    assert(back(0).has(1) && back(0).has(3))
    assert(back(1) === m2)
    assert(!back(1).has(1) && !back(1).has(3))
  }

  test("negative zero doubles and floats survive messagesToDataFrame → dataFrameToMessages") {
    // -0.0 == 0.0 under `==`, so every value is also checked by raw bits
    val md = Schemas.msg("ExampleMessage")
    val dv = Schemas.registry.message("google.protobuf.DoubleValue")
    def field(n: String) = md.byName(n).number
    val m = DynamicMessage(md, Map(
      field("double_value") -> -0.0,
      field("float_value") -> -0.0f,
      field("double_values") -> Vector(-0.0, 0.0),
      field("float_int32_map") -> Map(1 -> -0.0f),
      field("optional_double_value") -> -0.0,
      field("wrapped_double_value") -> DynamicMessage(dv, Map(1 -> -0.0))))
    val df = Protarrow.messagesToDataFrame(spark, Seq(m), md, GraftConfig(), reg)
    val back = Protarrow.dataFrameToMessages(df, md, GraftConfig(), reg).head
    assert(back === m)
    def bits(v: Any): Long = v match {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case f: Float => java.lang.Float.floatToRawIntBits(f).toLong & 0xFFFFFFFFL
      case x: DynamicMessage => bits(x.get(1).get)
    }
    for (name <- Seq("double_value", "float_value", "optional_double_value",
      "wrapped_double_value"))
      assert(back.get(field(name)).map(bits) === m.get(field(name)).map(bits), name)
    assert(back.get(field("double_values")).get.asInstanceOf[Vector[Any]].map(bits) ===
      Vector(0x8000000000000000L, 0L))
    assert(back.get(field("float_int32_map")).get.asInstanceOf[Map[Any, Any]].map {
      case (k, v) => k -> bits(v) } === Map(1 -> 0x80000000L))
  }

  test("missing columns are tolerated on decode (tests/test_coverage.py:345-369)") {
    val md = Schemas.msg("MyProto")
    val m = DynamicMessage(md, Map(1 -> "foo", 2 -> 7, 3 -> Vector(1, 2)))
    val df = Protarrow.messagesToDataFrame(spark, Seq(m), md, GraftConfig(), reg)
      .drop("values")
    val back = Protarrow.dataFrameToMessages(df, md, GraftConfig(), reg)
    assert(back.head === DynamicMessage(md, Map(1 -> "foo", 2 -> 7)))
  }

  test("enum fallbacks (tests/test_coverage.py:226-257, 400-413)") {
    val md = Schemas.msg("WithEnum")
    val unknown = DynamicMessage(md, Map(1 -> 150))
    // int repr: unknown value survives as its number
    val dfInt = Protarrow.messagesToDataFrame(spark, Seq(unknown), md, GraftConfig(), reg)
    assert(dfInt.collect().head.getInt(0) === 150)
    assert(Protarrow.dataFrameToMessages(dfInt, md, GraftConfig(), reg).head === unknown)
    // string repr: unknown number → first declared name; decodes to 0
    val cfg = GraftConfig(enumType = EnumRepr.StringRepr)
    val dfStr = Protarrow.messagesToDataFrame(spark, Seq(unknown), md, cfg, reg)
    assert(dfStr.collect().head.getString(0) === "UNKNOWN_TEST_ENUM")
    assert(Protarrow.dataFrameToMessages(dfStr, md, cfg, reg).head ===
      DynamicMessage.empty(md))
  }

  test("date year-0 sentinel (tests/test_coverage.py:668-721)") {
    val md = Schemas.msg("ExampleMessage")
    val dateDesc = WellKnown.date
    val unset = DynamicMessage(md, Map(27 -> DynamicMessage.empty(dateDesc)))
    val year0 = DynamicMessage(md, Map(27 -> DynamicMessage(dateDesc, Map(2 -> 1, 3 -> 1))))
    val real = DynamicMessage(md,
      Map(27 -> DynamicMessage(dateDesc, Map(1 -> 2020, 2 -> 2, 3 -> 29))))
    val df = Protarrow.messagesToDataFrame(spark, Seq(unset, year0, real), md, GraftConfig(), reg)
    val days = df.select("date_value").collect()
      .map(r => org.apache.spark.sql.catalyst.util.DateTimeUtils
        .fromJavaDate(r.getDate(0)).toLong) // proleptic days (toLocalDate is hybrid)
    assert(days(0) === SchemaConversion.DateSentinelEpochDay)
    assert(days(1) === SchemaConversion.DateSentinelEpochDay)
    val back = Protarrow.dataFrameToMessages(df, md, GraftConfig(), reg)
    assert(back(0).get(27).get === DynamicMessage.empty(dateDesc)) // Date()
    assert(back(1).get(27).get === DynamicMessage.empty(dateDesc)) // year-0 → Date()
    assert(back(2) === real)
  }

  test("MessageExtractor row lookup (message_extractor.py:144-162)") {
    val md = Schemas.msg("MyProto")
    val msgs = Seq(
      DynamicMessage(md, Map(1 -> "foo", 2 -> 1, 3 -> Vector(1, 2, 4))),
      DynamicMessage(md, Map(1 -> "bar", 2 -> 2, 3 -> Vector(3, 4, 5))))
    val df = Protarrow.messagesToDataFrame(spark, msgs, md, GraftConfig(), reg)
    val ex = new Protarrow.MessageExtractor(df.schema, md, GraftConfig(), reg)
    assert(ex.readTableRow(df, 0) === msgs(0))
    assert(ex.readTableRow(df, 1) === msgs(1))
    Seq(-1, -2).foreach { i =>
      intercept[IndexOutOfBoundsException] { ex.readTableRow(df, i) }
    }
  }

  test("Row edge: rowsToMessages and MessageExtractor.apply read both datetime APIs") {
    val md = Schemas.msg("ExampleMessage")
    // pre-1582 instants and dates (hybrid vs proleptic calendars differ
    // there) and the year-0 Date sentinel, in plain, repeated and map cells
    val msgs = Seq(
      """{"timestamp_value": "1500-03-01T10:00:00.123456Z",
        | "date_value": {"year": 1200, "month": 2, "day": 29},
        | "timestamp_values": ["0001-01-01T00:00:00Z", "2024-06-30T23:59:59.999999Z"],
        | "date_values": [{"year": 1582, "month": 10, "day": 4}]}""",
      """{"date_value": {"month": 1, "day": 1},
        | "timestamp_string_map": {"a": "1066-10-14T09:00:00Z"},
        | "date_string_map": {"b": {"year": 1, "month": 1, "day": 1}}}""",
      """{"timestamp_value": "2020-02-29T12:00:00Z",
        | "date_value": {"year": 2020, "month": 2, "day": 29}}"""
    ).map(j => ProtoJson.parse(j.stripMargin.replace("\n", " "), md, reg))
    val key = "spark.sql.datetime.java8API.enabled"
    Seq(false -> classOf[java.sql.Timestamp], true -> classOf[java.time.Instant])
      .foreach { case (java8, tsClass) =>
        spark.conf.set(key, java8)
        try {
          val df = Protarrow.messagesToDataFrame(spark, msgs, md, GraftConfig(), reg)
          val rows = df.collect().toSeq
          assert(tsClass.isInstance(rows.head.getAs[Any]("timestamp_value")))
          val expected = Protarrow.dataFrameToMessages(df, md, GraftConfig(), reg)
          assert(expected.head === msgs.head)
          assert(expected(1).get(27).get === DynamicMessage.empty(WellKnown.date))
          assert(Protarrow.rowsToMessages(rows, df.schema, md, GraftConfig(), reg) === expected,
            s"java8API=$java8")
          val ex = new Protarrow.MessageExtractor(df.schema, md, GraftConfig(), reg)
          assert(rows.map(ex.apply) === expected, s"java8API=$java8")
        } finally spark.conf.unset(key)
      }
  }
}

/** Temporal truncation helper mirroring tests/random_generator.py:158-227. */
object Truncation {
  import graft.conv.GraftConfig.TimeUnit

  def truncate(m: DynamicMessage, cfg: GraftConfig): DynamicMessage = {
    val newValues = m.values.map { case (num, v) =>
      val f = m.descriptor.byNumber(num)
      num -> truncValue(v, f.typ, f, cfg)
    }
    DynamicMessage(m.descriptor, newValues)
  }

  private def truncValue(v: Any, t: PType, f: PField, cfg: GraftConfig): Any = {
    def one(x: Any, t: PType): Any = t match {
      case PType.PMessage(WellKnown.TimestampName) =>
        val m = x.asInstanceOf[DynamicMessage]
        val unit = math.max(cfg.timestampUnit.nanos, 1000L) // Spark: µs floor
        val nanos = m.getOrDefault(WellKnown.timestamp.byName("nanos")).asInstanceOf[Int]
        DynamicMessage(WellKnown.timestamp, m.values.updated(2, nanos - (nanos % unit).toInt))
      case PType.PMessage(WellKnown.TimeOfDayName) =>
        val m = x.asInstanceOf[DynamicMessage]
        val unit = cfg.timeOfDayUnit.nanos
        val nanos = m.getOrDefault(WellKnown.timeOfDay.byName("nanos")).asInstanceOf[Int]
        DynamicMessage(WellKnown.timeOfDay, m.values.updated(4, nanos - (nanos % unit).toInt))
      case PType.PMessage(WellKnown.DurationName) =>
        // mirror encode (truncate-to-unit) + floor decode: nanos >= 0
        val m = x.asInstanceOf[DynamicMessage]
        val unit = cfg.durationUnit.nanos
        val ticksPerSec = 1000000000L / unit
        val secs = m.getOrDefault(WellKnown.duration.byName("seconds")).asInstanceOf[Long]
        val nanos = m.getOrDefault(WellKnown.duration.byName("nanos")).asInstanceOf[Int]
        val ticks = secs * ticksPerSec + nanos / unit
        DynamicMessage(WellKnown.duration, Map(
          1 -> Math.floorDiv(ticks, ticksPerSec),
          2 -> (Math.floorMod(ticks, ticksPerSec) * unit).toInt))
      case PType.PMessage(n) if !WellKnown.isWellKnown(n) =>
        truncate(x.asInstanceOf[DynamicMessage], cfg)
      case _ => x
    }
    if (f.isMap) v.asInstanceOf[Map[Any, Any]].map { case (k, mv) => k -> one(mv, f.mapValue) }
    else if (f.repeated) v.asInstanceOf[Vector[Any]].map(one(_, t))
    else one(v, t)
  }
}

/** Companion holding the shared 35-config matrix so the
  * deterministic-fixture matrix (this spec) and the random matrix
  * (RandomRoundTripSpec) parametrize over the SAME list. */
object RoundTripSpec {
  /** The full 35-config matrix, one entry per reference row IN ORDER
    * (tests/test_conversion.py:60-96). Storage-level knobs (large_* widths,
    * dictionary enums, Arrow tz/field-name metadata) are documented Spark
    * collapses — the point of running them all is precisely to prove the
    * no-ops are no-ops: every one must still round-trip bit-identically.
    * Rows 8-11 (no-tz timestamps) collapse onto rows 12-15 (UTC) because
    * Spark TimestampType is always an instant; they are still run. */
  val configs: Seq[GraftConfig] = Seq(
    /* 1 */ GraftConfig(),
    /* 2 */ GraftConfig(enumType = EnumRepr.Binary),
    /* 3 */ GraftConfig(enumType = EnumRepr.StringRepr),
    /* 4 */ GraftConfig(enumType = EnumRepr.DictBinary),
    /* 5 */ GraftConfig(enumType = EnumRepr.DictString),
    /* 6 */ GraftConfig(enumType = EnumRepr.LargeBinary,
      binaryType = GraftConfig.Width.Large),
    /* 7 */ GraftConfig(enumType = EnumRepr.LargeString,
      stringType = GraftConfig.Width.Large),
    /* 8 */ GraftConfig(timestampUnit = TimeUnit.Seconds),
    /* 9 */ GraftConfig(timestampUnit = TimeUnit.Millis),
    /* 10 */ GraftConfig(timestampUnit = TimeUnit.Micros),
    /* 11 */ GraftConfig(timestampUnit = TimeUnit.Nanos),
    /* 12 */ GraftConfig(timestampUnit = TimeUnit.Seconds, timestampTz = "UTC"),
    /* 13 */ GraftConfig(timestampUnit = TimeUnit.Millis, timestampTz = "UTC"),
    /* 14 */ GraftConfig(timestampUnit = TimeUnit.Micros, timestampTz = "UTC"),
    /* 15 */ GraftConfig(timestampUnit = TimeUnit.Nanos, timestampTz = "UTC"),
    /* 16 */ GraftConfig(timestampUnit = TimeUnit.Nanos,
      timestampTz = "America/New_York"), // tz is arrow metadata; instants unchanged
    /* 17 */ GraftConfig(timeOfDayUnit = TimeUnit.Nanos),
    /* 18 */ GraftConfig(timeOfDayUnit = TimeUnit.Micros),
    /* 19 */ GraftConfig(timeOfDayUnit = TimeUnit.Millis),
    /* 20 */ GraftConfig(timeOfDayUnit = TimeUnit.Seconds),
    /* 21 */ GraftConfig(durationUnit = TimeUnit.Seconds),
    /* 22 */ GraftConfig(durationUnit = TimeUnit.Millis),
    /* 23 */ GraftConfig(durationUnit = TimeUnit.Micros),
    /* 24 */ GraftConfig(durationUnit = TimeUnit.Nanos),
    /* 25 */ GraftConfig(listNullable = true),
    /* 26 */ GraftConfig(mapNullable = true),
    /* 27 */ GraftConfig(mapValueNullable = true),
    /* 28 */ GraftConfig(listValueNullable = true),
    /* 29 */ GraftConfig(listValueName = "list_value"), // names: metadata-only
    /* 30 */ GraftConfig(mapValueName = "map_value"),
    /* 31 */ GraftConfig(fieldNumberKey = Some("PARQUET:field_id")),
    /* 32 */ GraftConfig(stringType = GraftConfig.Width.Large),
    /* 33 */ GraftConfig(binaryType = GraftConfig.Width.Large),
    /* 34 */ GraftConfig(mapAsList = true),
    /* 35 */ GraftConfig(listArrayType = GraftConfig.Width.Large))
}
