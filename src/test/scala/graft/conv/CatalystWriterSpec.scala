package graft.conv

import org.apache.spark.sql.Encoders
import org.scalacheck.Gen
import graft.proto._
import graft.{Protarrow, SparkSpec}
import graft.conv.GraftConfig.{EnumRepr, TimeUnit}

/** The two transports that take messages into a frame must agree cell
  * by cell: the driver one (messagesToDataFrame: internalRowWriter →
  * LocalRelation) and the distributed one (fromProtoBinary over
  * ProtoWire.encode bytes: wire decode → internalRowWriter in executor
  * tasks → internalCreateDataFrame). RoundTripSpec pins the driver path
  * against golden fixtures across the full config matrix; THIS spec pins
  * the two transports against each other on random messages over the
  * representative leaf configs. `collect()` runs Spark's own deserializer
  * over every cell, so a wrong internal representation from the writer
  * throws here instead of hiding behind the graft reader. In the test
  * names "internal" is the driver-local transport and "external" the
  * ingest from wire bytes. */
class CatalystWriterSpec extends SparkSpec {

  private val reg = Schemas.registry

  // one config per distinct leaf representation the writer owns: string
  // enums (UTF8String), binary enums (bytes), temporal units
  // (micros/days/long ticks), map-as-list vs MapData, nullability knobs
  private val configs = Seq(
    GraftConfig(),
    GraftConfig(enumType = EnumRepr.StringRepr),
    GraftConfig(enumType = EnumRepr.Binary),
    GraftConfig(mapAsList = true),
    GraftConfig(timestampUnit = TimeUnit.Seconds),
    GraftConfig(timeOfDayUnit = TimeUnit.Seconds),
    GraftConfig(durationUnit = TimeUnit.Nanos),
    GraftConfig(listNullable = true, mapValueNullable = true))

  /** Collected cells normalized for deep equality (Array[Byte] compares
    * by reference inside Row.equals). */
  private def norm(v: Any): Any = v match {
    case a: Array[_] => a.toSeq.map(norm) // incl. primitive arrays: Row
    // cells for ArrayType may surface as raw arrays, which compare by ref
    case r: org.apache.spark.sql.Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.map(norm).toList // mutable.ArraySeq
    // from collect() is NOT scala.Seq (= immutable.Seq) in 2.13
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => norm(k) -> norm(x) }.toMap
    case other => other
  }

  for {
    name <- Seq("ExampleMessage", "NestedExampleMessage", "SuperNestedExampleMessage")
    (cfg, i) <- configs.zipWithIndex
  } test(s"$name: internal == external encode [#${i + 1} $cfg]") {
    val md = Schemas.msg(name)
    val msgs = TestGen.sample(Gen.listOfN(8, TestGen.genMessage(md)), 11L + i)
    val schema = Protarrow.messageTypeToSchema(md, cfg, reg)
    val internal = Protarrow.messagesToDataFrame(spark, msgs, md, cfg, reg)
    val wire = spark.createDataset(msgs.map(m => ProtoWire.encode(m, reg)))(Encoders.BINARY)
    val external = Protarrow.fromProtoBinary(wire, md, cfg, reg)
    assert(internal.schema === external.schema)
    val (iRows, eRows) = (internal.collect(), external.collect())
    assert(iRows.length === eRows.length)
    iRows.zip(eRows).zipWithIndex.foreach { case ((a, b), r) =>
      schema.fieldNames.indices.foreach { c =>
        assert(norm(a.get(c)) === norm(b.get(c)),
          s"row $r field ${schema.fieldNames(c)} of $name under $cfg")
      }
    }
  }
}
