package graft.conv

import java.time.{Instant, LocalDate}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.proto._
import graft.proto.PType._
import GraftConfig.TimeUnit

/** Encode (messages → rows, SURVEY.md §2 A2) and decode (rows → messages,
  * A3/A5), as schema-compiled converter trees: all dispatch happens once
  * per (descriptor, config) on the driver — mirroring the reference's
  * compile-once discipline (`_get_converter` proto_to_arrow.py:386-414,
  * `MessageExtractor.__init__` message_extractor.py:144-154) — and the
  * per-row closures are Serializable so they run inside executors
  * (mapPartitions) as well as on collected rows.
  *
  * There is one tree per direction and it speaks catalyst's internal
  * representations (UTF8String, epoch micros / days, InternalRow,
  * ArrayData / MapData): every path — driver LocalRelation, executor
  * ingest, streaming, `executeCollect` / `toRdd` egress — builds or reads
  * `InternalRow`s directly, so no per-row `ExpressionEncoder` pass runs
  * between the codec and Spark. External `Row`s are converted at the
  * facade's edge (`rowsToMessages`, `MessageExtractor.apply`).
  */
object Codecs {

  // ---------------------------------------------------------------- encode

  private def microsFloor(unit: TimeUnit): Long = math.max(unit.nanos, 1000L)

  /** Scalar/WKT encoder for a single (non-repeated) value of type `t`:
    * proto value (canonical DynamicMessage repr) → catalyst internal value.
    * `trace` mirrors schema derivation: a recursive message type under
    * skipRecursiveMessages writes the pruned empty struct. The temporal
    * leaves go through the same `DateTimeUtils` conversions Spark applies
    * to `Instant`/`LocalDate`. */
  private def catalystValueWriter(t: PType, cfg: GraftConfig, reg: ProtoRegistry,
      trace: Vector[String]): Any => Any = t match {
    case PDouble | PFloat | PInt32 | PSInt32 | PSFixed32 | PInt64 | PSInt64 |
         PSFixed64 | PUInt32 | PFixed32 | PUInt64 | PFixed64 | PBool =>
      identity
    case PString => v => UTF8String.fromString(v.asInstanceOf[String])
    case PBytes => v => v.asInstanceOf[Bytes].toArray
    case PEnum(name) =>
      val ed = reg.enum(name)
      // unknown number → name of the first declared value
      // (proto_to_arrow.py:236-264)
      def nameOf(v: Any) = ed.numberToName.getOrElse(v.asInstanceOf[Int], ed.firstName)
      if (!cfg.enumType.nameBased) identity
      else if (cfg.enumType.binary) v => nameOf(v).getBytes(UTF_8)
      else v => UTF8String.fromString(nameOf(v))
    case PMessage(WellKnown.TimestampName) =>
      val floor = microsFloor(cfg.timestampUnit)
      v => {
        val m = v.asInstanceOf[DynamicMessage]
        val secs = m.getOrDefault(WellKnown.timestamp.byName("seconds")).asInstanceOf[Long]
        val nanos = m.getOrDefault(WellKnown.timestamp.byName("nanos")).asInstanceOf[Int]
        DateTimeUtils.instantToMicros(Instant.ofEpochSecond(secs, nanos - nanos % floor))
      }
    case PMessage(WellKnown.DateName) =>
      v => {
        val m = v.asInstanceOf[DynamicMessage]
        val y = m.getOrDefault(WellKnown.date.byName("year")).asInstanceOf[Int]
        // year 0 = unset → sentinel day (docs/types.md:79-84)
        if (y == 0) SchemaConversion.DateSentinelEpochDay.toInt
        else DateTimeUtils.localDateToDays(LocalDate.of(y,
          m.getOrDefault(WellKnown.date.byName("month")).asInstanceOf[Int],
          m.getOrDefault(WellKnown.date.byName("day")).asInstanceOf[Int]))
      }
    case PMessage(WellKnown.TimeOfDayName) =>
      val unit = cfg.timeOfDayUnit.nanos
      v => {
        val m = v.asInstanceOf[DynamicMessage]
        def i(n: String) = m.getOrDefault(WellKnown.timeOfDay.byName(n)).asInstanceOf[Int]
        val totalNanos = (i("hours") * 3600L + i("minutes") * 60L + i("seconds")) *
          1000000000L + i("nanos")
        totalNanos / unit
      }
    case PMessage(WellKnown.DurationName) =>
      val ticksPerSec = 1000000000L / cfg.durationUnit.nanos
      val unit = cfg.durationUnit.nanos
      v => {
        val m = v.asInstanceOf[DynamicMessage]
        val secs = m.getOrDefault(WellKnown.duration.byName("seconds")).asInstanceOf[Long]
        val nanos = m.getOrDefault(WellKnown.duration.byName("nanos")).asInstanceOf[Int]
        secs * ticksPerSec + nanos / unit
      }
    case PMessage(name) if WellKnown.isWrapper(name) =>
      val inner = catalystValueWriter(WellKnown.wrapperNames(name), cfg, reg, trace)
      val field = reg.message(name).byName("value")
      v => inner(v.asInstanceOf[DynamicMessage].getOrDefault(field))
    case PMessage(WellKnown.EmptyName) => _ => InternalRow.empty
    case PMessage(name) if trace.contains(name) =>
      // recursion pruned to struct<> (proto_to_arrow.py:341-345): the
      // payload is dropped, presence survives as an empty row
      _ => InternalRow.empty
    case PMessage(name) =>
      val rw = catalystRowWriter(reg.message(name), cfg, reg, trace :+ name)
      v => rw(v.asInstanceOf[DynamicMessage])
  }

  /** One field of a message → the cell value (null for absent presence
    * fields; defaults for absent plain fields — proto_to_arrow.py:417-453,
    * 604-616), in internal containers (GenericArrayData /
    * ArrayBasedMapData). */
  private def catalystFieldWriter(f: PField, cfg: GraftConfig, reg: ProtoRegistry,
      trace: Vector[String]): DynamicMessage => Any = {
    if (f.isMap) {
      val kw = catalystValueWriter(f.mapKey, cfg, reg, trace)
      val vw = catalystValueWriter(f.mapValue, cfg, reg, trace)
      if (cfg.mapAsList) { m =>
        new GenericArrayData(m.getOrDefault(f).asInstanceOf[Map[Any, Any]]
          .map { case (k, v) => InternalRow(kw(k), vw(v)) }.toArray[Any])
      } else { m =>
        val kvs = m.getOrDefault(f).asInstanceOf[Map[Any, Any]].toArray
        new ArrayBasedMapData(
          new GenericArrayData(kvs.map(kv => kw(kv._1))),
          new GenericArrayData(kvs.map(kv => vw(kv._2))))
      }
    } else if (f.repeated) {
      val vw = catalystValueWriter(f.typ, cfg, reg, trace)
      m => new GenericArrayData(
        m.getOrDefault(f).asInstanceOf[Vector[Any]].map(vw).toArray[Any])
    } else if (f.hasPresence) {
      val vw = catalystValueWriter(f.typ, cfg, reg, trace)
      m => m.get(f.number) match {
        case Some(v) => vw(v)
        case None => null
      }
    } else {
      val vw = catalystValueWriter(f.typ, cfg, reg, trace)
      m => vw(m.getOrDefault(f))
    }
  }

  private def catalystRowWriter(md: PMessageDesc, cfg: GraftConfig, reg: ProtoRegistry,
      trace: Vector[String]): DynamicMessage => InternalRow = {
    val writers = md.fields.map(f => catalystFieldWriter(f, cfg, reg, trace)).toArray
    m => new GenericInternalRow(writers.map(w => w(m)))
  }

  /** Compiled message → InternalRow writer (top-level entry). */
  def internalRowWriter(md: PMessageDesc, cfg: GraftConfig, reg: ProtoRegistry)
      : DynamicMessage => InternalRow =
    catalystRowWriter(md, cfg, reg, Vector(md.fullName))

  /** Message → external `Row`: [[internalRowWriter]] followed by the
    * schema's `ExpressionEncoder` deserializer. No library path uses it;
    * it is kept only because the benchmark's traced ingest
    * (`perfbench/src/graft/perfbench/Workloads.scala`) compiles against it. */
  def rowWriter(md: PMessageDesc, cfg: GraftConfig, reg: ProtoRegistry): DynamicMessage => Row = {
    val write = internalRowWriter(md, cfg, reg)
    val toRow = ExpressionEncoder(SchemaConversion.messageTypeToSchema(md, cfg, reg))
      .resolveAndBind().createDeserializer()
    m => toRow(write(m))
  }

  // ---------------------------------------------------------------- decode

  private def toLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case other => throw new IllegalArgumentException(s"not integral: $other")
  }

  /** Scalar/WKT decoder: catalyst internal value of type `dt` (a cell of
    * an `executeCollect()` / `toRdd` row) → canonical proto value. Reading
    * internal rows directly skips the whole-row internal→external
    * deserializer and its per-cell Timestamp/LocalDate/Row/Map object
    * churn. */
  private def catalystValueReader(t: PType, dt: DataType, cfg: GraftConfig,
      reg: ProtoRegistry): Any => Any = t match {
    case PDouble | PFloat | PBool => identity
    case PString => v => v.asInstanceOf[UTF8String].toString
    case PInt32 | PSInt32 | PSFixed32 => v => v.asInstanceOf[Int]
    case PInt64 | PSInt64 | PSFixed64 => v => v.asInstanceOf[Long]
    case PUInt32 | PFixed32 | PUInt64 | PFixed64 => v => toLong(v)
    case PBytes => v => Bytes(v.asInstanceOf[Array[Byte]])
    case PEnum(name) =>
      val ed = reg.enum(name)
      // unknown name → 0 (arrow_to_proto.py:279-291)
      if (!cfg.enumType.nameBased) v => v.asInstanceOf[Int]
      else if (cfg.enumType.binary)
        v => ed.nameToNumber.getOrElse(new String(v.asInstanceOf[Array[Byte]], UTF_8), 0)
      else v => ed.nameToNumber.getOrElse(v.asInstanceOf[UTF8String].toString, 0)
    case PMessage(WellKnown.TimestampName) =>
      v => {
        val micros = v.asInstanceOf[Long]
        DynamicMessage(WellKnown.timestamp, Map(
          1 -> Math.floorDiv(micros, 1000000L),
          2 -> (Math.floorMod(micros, 1000000L) * 1000L).toInt))
      }
    case PMessage(WellKnown.DateName) =>
      v => {
        val days = v.asInstanceOf[Int]
        if (days == SchemaConversion.DateSentinelEpochDay)
          DynamicMessage.empty(WellKnown.date) // sentinel → unset Date()
        else {
          val ld = LocalDate.ofEpochDay(days.toLong)
          DynamicMessage(WellKnown.date,
            Map(1 -> ld.getYear, 2 -> ld.getMonthValue, 3 -> ld.getDayOfMonth))
        }
      }
    case PMessage(WellKnown.TimeOfDayName) =>
      val unit = cfg.timeOfDayUnit.nanos
      v => {
        val totalNanos = toLong(v) * unit
        DynamicMessage(WellKnown.timeOfDay, Map(
          1 -> (totalNanos / 3600000000000L).toInt,
          2 -> ((totalNanos / 60000000000L) % 60).toInt,
          3 -> ((totalNanos / 1000000000L) % 60).toInt,
          4 -> (totalNanos % 1000000000L).toInt))
      }
    case PMessage(WellKnown.DurationName) =>
      val ticksPerSec = 1000000000L / cfg.durationUnit.nanos
      val unit = cfg.durationUnit.nanos
      v => {
        // floor decomposition — nanos always >= 0, like the reference's
        // Python // and % (arrow_to_proto.py:84-104)
        val ticks = toLong(v)
        DynamicMessage(WellKnown.duration, Map(
          1 -> Math.floorDiv(ticks, ticksPerSec),
          2 -> (Math.floorMod(ticks, ticksPerSec) * unit).toInt))
      }
    case PMessage(name) if WellKnown.isWrapper(name) =>
      val wrapperDesc = reg.message(name)
      val inner = catalystValueReader(WellKnown.wrapperNames(name), dt, cfg, reg)
      v => DynamicMessage(wrapperDesc, Map(1 -> inner(v)))
    case PMessage(WellKnown.EmptyName) =>
      _ => DynamicMessage.empty(WellKnown.empty)
    case PMessage(name) =>
      // nested messages decode against the *actual* struct type in the
      // data, which may have fewer columns than the descriptor
      // (tests/test_coverage.py:345-369)
      val st = dt match {
        case s: StructType => s
        case other => throw new IllegalArgumentException(
          s"message $name needs a struct column, got ${other.simpleString}")
      }
      val rr = internalRowReader(reg.message(name), st, cfg, reg)
      v => rr(v.asInstanceOf[InternalRow])
  }

  private def catalystFieldReader(f: PField, idx: Int, dt: DataType,
      cfg: GraftConfig, reg: ProtoRegistry): InternalRow => Option[(Int, Any)] = {
    if (f.isMap) {
      val (kDt, vDt) = dt match {
        case ArrayType(StructType(fields), _) if cfg.mapAsList =>
          (fields(0).dataType, fields(1).dataType)
        case MapType(kt, vt, _) => (kt, vt)
        case other => (other, other)
      }
      val kr = catalystValueReader(f.mapKey, kDt, cfg, reg)
      val vr = catalystValueReader(f.mapValue, vDt, cfg, reg)
      // null map VALUE → entry with the proto default (mirrors the
      // reference's _merge_assign_map: a None message value materializes
      // the key with a default entry, arrow_to_proto.py:399-404)
      val defaultV: Any = f.mapValue match {
        case PMessage(name) => DynamicMessage.empty(reg.message(name))
        case t => PType.defaultOf(t)
      }
      def vOrDefault(v: Any): Any = if (v == null) defaultV else vr(v)
      if (cfg.mapAsList) { (row: InternalRow) =>
        if (row.isNullAt(idx)) None
        else {
          val entries = row.getArray(idx)
          val n = entries.numElements()
          var m = Map.empty[Any, Any]
          var i = 0
          while (i < n) {
            val e = entries.getStruct(i, 2)
            m += kr(e.get(0, kDt)) -> vOrDefault(e.get(1, vDt))
            i += 1
          }
          if (m.isEmpty) None else Some(f.number -> m)
        }
      } else { (row: InternalRow) =>
        if (row.isNullAt(idx)) None
        else {
          val md = row.getMap(idx)
          val ks = md.keyArray().toObjectArray(kDt)
          val vs = md.valueArray().toObjectArray(vDt)
          var m = Map.empty[Any, Any]
          var i = 0
          while (i < ks.length) { m += kr(ks(i)) -> vOrDefault(vs(i)); i += 1 }
          if (m.isEmpty) None else Some(f.number -> m)
        }
      }
    } else if (f.repeated) {
      val elemType = dt match {
        case ArrayType(et, _) => et
        case other => other
      }
      val vr = catalystValueReader(f.typ, elemType, cfg, reg)
      (row: InternalRow) =>
        if (row.isNullAt(idx)) None
        else {
          // a null ELEMENT raises loudly: proto repeated fields cannot
          // hold nulls, and silently dropping the element would shrink
          // the list and break positional correlation (the reference
          // errors on the same input — AppendAssigner converts the null
          // scalar and protobuf rejects the None append)
          val xs = row.getArray(idx).toObjectArray(elemType).map { v =>
            if (v == null) throw new IllegalArgumentException(
              s"null element in repeated field ${f.name}: proto repeated " +
                "fields cannot represent null")
            vr(v)
          }.toVector
          if (xs.isEmpty) None else Some(f.number -> xs)
        }
    } else {
      val vr = catalystValueReader(f.typ, dt, cfg, reg)
      (row: InternalRow) =>
        if (row.isNullAt(idx)) None // null → unset (presence) / default (plain)
        else Some(f.number -> vr(row.get(idx, dt)))
    }
  }

  /** Compiled InternalRow → message reader against a concrete row schema.
    * Columns missing from the schema are skipped (the reference's
    * tolerate-missing-columns semantics, arrow_to_proto.py:633-656);
    * null cells in non-presence positions read as proto defaults. */
  def internalRowReader(md: PMessageDesc, schema: StructType, cfg: GraftConfig,
      reg: ProtoRegistry): InternalRow => DynamicMessage = {
    val steps = md.fields.flatMap { f =>
      val idx = schema.fieldNames.indexOf(f.name)
      if (idx < 0) None // column absent: skip field
      else Some(catalystFieldReader(f, idx, schema.fields(idx).dataType, cfg, reg))
    }.toArray
    row => {
      var values = Map.empty[Int, Any]
      steps.foreach { step =>
        step(row).foreach { case (num, v) => values += (num -> v) }
      }
      DynamicMessage(md, values)
    }
  }
}
