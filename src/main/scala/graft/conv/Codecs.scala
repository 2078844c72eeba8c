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
    // well-known types are read by field ordinal (their layouts are fixed
    // in WellKnown): Timestamp/Duration seconds 0, nanos 1; Date year 0,
    // month 1, day 2; TimeOfDay hours 0 .. nanos 3; a wrapper's value 0
    case PMessage(WellKnown.TimestampName) =>
      val floor = microsFloor(cfg.timestampUnit)
      v => {
        val m = v.asInstanceOf[DynamicMessage]
        val secs = m.slotOrDefault(0).asInstanceOf[Long]
        val nanos = m.slotOrDefault(1).asInstanceOf[Int]
        DateTimeUtils.instantToMicros(Instant.ofEpochSecond(secs, nanos - nanos % floor))
      }
    case PMessage(WellKnown.DateName) =>
      v => {
        val m = v.asInstanceOf[DynamicMessage]
        val y = m.slotOrDefault(0).asInstanceOf[Int]
        // year 0 = unset → sentinel day (docs/types.md:79-84)
        if (y == 0) SchemaConversion.DateSentinelEpochDay.toInt
        else DateTimeUtils.localDateToDays(LocalDate.of(y,
          m.slotOrDefault(1).asInstanceOf[Int], m.slotOrDefault(2).asInstanceOf[Int]))
      }
    case PMessage(WellKnown.TimeOfDayName) =>
      val unit = cfg.timeOfDayUnit.nanos
      v => {
        val m = v.asInstanceOf[DynamicMessage]
        def i(o: Int) = m.slotOrDefault(o).asInstanceOf[Int]
        val totalNanos = (i(0) * 3600L + i(1) * 60L + i(2)) * 1000000000L + i(3)
        totalNanos / unit
      }
    case PMessage(WellKnown.DurationName) =>
      val ticksPerSec = 1000000000L / cfg.durationUnit.nanos
      val unit = cfg.durationUnit.nanos
      v => {
        val m = v.asInstanceOf[DynamicMessage]
        val secs = m.slotOrDefault(0).asInstanceOf[Long]
        val nanos = m.slotOrDefault(1).asInstanceOf[Int]
        secs * ticksPerSec + nanos / unit
      }
    case PMessage(name) if WellKnown.isWrapper(name) =>
      val inner = catalystValueWriter(WellKnown.wrapperNames(name), cfg, reg, trace)
      v => inner(v.asInstanceOf[DynamicMessage].slotOrDefault(0))
    case PMessage(WellKnown.EmptyName) => _ => InternalRow.empty
    case PMessage(name) if trace.contains(name) =>
      // recursion pruned to struct<> (proto_to_arrow.py:341-345): the
      // payload is dropped, presence survives as an empty row
      _ => InternalRow.empty
    case PMessage(name) =>
      val rw = catalystRowWriter(reg.message(name), cfg, reg, trace :+ name)
      v => rw(v.asInstanceOf[DynamicMessage])
  }

  /** Field `ordinal` of a message's slots → the cell value (null for
    * absent presence fields; defaults for absent plain fields —
    * proto_to_arrow.py:417-453, 604-616), in internal containers
    * (GenericArrayData / ArrayBasedMapData). */
  private def catalystFieldWriter(f: PField, ordinal: Int, cfg: GraftConfig,
      reg: ProtoRegistry, trace: Vector[String]): Array[Any] => Any = {
    if (f.isMap) {
      val kw = catalystValueWriter(f.mapKey, cfg, reg, trace)
      val vw = catalystValueWriter(f.mapValue, cfg, reg, trace)
      def entries(s: Array[Any]): Map[Any, Any] =
        if (s(ordinal) == null) Map.empty else s(ordinal).asInstanceOf[Map[Any, Any]]
      if (cfg.mapAsList) { s =>
        val kvs = entries(s)
        val out = new Array[Any](kvs.size)
        var i = 0
        kvs.foreachEntry { (k, v) => out(i) = InternalRow(kw(k), vw(v)); i += 1 }
        new GenericArrayData(out)
      } else { s =>
        val kvs = entries(s)
        val ks = new Array[Any](kvs.size)
        val vs = new Array[Any](kvs.size)
        var i = 0
        kvs.foreachEntry { (k, v) => ks(i) = kw(k); vs(i) = vw(v); i += 1 }
        new ArrayBasedMapData(new GenericArrayData(ks), new GenericArrayData(vs))
      }
    } else if (f.repeated) {
      val vw = catalystValueWriter(f.typ, cfg, reg, trace)
      s => {
        val xs = if (s(ordinal) == null) Vector.empty else s(ordinal).asInstanceOf[Vector[Any]]
        val out = new Array[Any](xs.length)
        var i = 0
        xs.foreach { x => out(i) = vw(x); i += 1 }
        new GenericArrayData(out)
      }
    } else if (f.hasPresence) {
      val vw = catalystValueWriter(f.typ, cfg, reg, trace)
      s => if (s(ordinal) == null) null else vw(s(ordinal))
    } else {
      val vw = catalystValueWriter(f.typ, cfg, reg, trace)
      val default = DynamicMessage.defaultFor(f)
      s => vw(if (s(ordinal) == null) default else s(ordinal))
    }
  }

  private def catalystRowWriter(md: PMessageDesc, cfg: GraftConfig, reg: ProtoRegistry,
      trace: Vector[String]): DynamicMessage => InternalRow = {
    val writers = md.fieldArray.zipWithIndex.map { case (f, o) =>
      catalystFieldWriter(f, o, cfg, reg, trace)
    }
    m => {
      val slots = m.slotsIn(md)
      val cells = new Array[Any](writers.length)
      var i = 0
      while (i < cells.length) { cells(i) = writers(i)(slots); i += 1 }
      new GenericInternalRow(cells)
    }
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
        DynamicMessage.fromSlots(WellKnown.timestamp, Array[Any](
          Math.floorDiv(micros, 1000000L), (Math.floorMod(micros, 1000000L) * 1000L).toInt))
      }
    case PMessage(WellKnown.DateName) =>
      v => {
        val days = v.asInstanceOf[Int]
        if (days == SchemaConversion.DateSentinelEpochDay)
          DynamicMessage.empty(WellKnown.date) // sentinel → unset Date()
        else {
          val ld = LocalDate.ofEpochDay(days.toLong)
          DynamicMessage.fromSlots(WellKnown.date,
            Array[Any](ld.getYear, ld.getMonthValue, ld.getDayOfMonth))
        }
      }
    case PMessage(WellKnown.TimeOfDayName) =>
      val unit = cfg.timeOfDayUnit.nanos
      v => {
        val totalNanos = toLong(v) * unit
        DynamicMessage.fromSlots(WellKnown.timeOfDay, Array[Any](
          (totalNanos / 3600000000000L).toInt,
          ((totalNanos / 60000000000L) % 60).toInt,
          ((totalNanos / 1000000000L) % 60).toInt,
          (totalNanos % 1000000000L).toInt))
      }
    case PMessage(WellKnown.DurationName) =>
      val ticksPerSec = 1000000000L / cfg.durationUnit.nanos
      val unit = cfg.durationUnit.nanos
      v => {
        // floor decomposition — nanos always >= 0, like the reference's
        // Python // and % (arrow_to_proto.py:84-104)
        val ticks = toLong(v)
        DynamicMessage.fromSlots(WellKnown.duration, Array[Any](
          Math.floorDiv(ticks, ticksPerSec), (Math.floorMod(ticks, ticksPerSec) * unit).toInt))
      }
    case PMessage(name) if WellKnown.isWrapper(name) =>
      val wrapperDesc = reg.message(name)
      val inner = catalystValueReader(WellKnown.wrapperNames(name), dt, cfg, reg)
      v => DynamicMessage.fromSlots(wrapperDesc, Array[Any](inner(v)))
    case PMessage(WellKnown.EmptyName) =>
      val empty = DynamicMessage.empty(WellKnown.empty)
      _ => empty
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

  /** One column → the value for the field's slot, or null when absent
    * (empty repeated/map values are dropped by the message constructor). */
  private def catalystFieldReader(f: PField, idx: Int, dt: DataType,
      cfg: GraftConfig, reg: ProtoRegistry): InternalRow => Any = {
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
        if (row.isNullAt(idx)) null
        else {
          val entries = row.getArray(idx)
          val m = Map.newBuilder[Any, Any]
          var i = 0
          while (i < entries.numElements()) {
            val e = entries.getStruct(i, 2)
            m += kr(e.get(0, kDt)) -> vOrDefault(e.get(1, vDt))
            i += 1
          }
          m.result()
        }
      } else { (row: InternalRow) =>
        if (row.isNullAt(idx)) null
        else {
          val md = row.getMap(idx)
          val ks = md.keyArray()
          val vs = md.valueArray()
          val m = Map.newBuilder[Any, Any]
          var i = 0
          while (i < ks.numElements()) {
            m += kr(ks.get(i, kDt)) -> vOrDefault(if (vs.isNullAt(i)) null else vs.get(i, vDt))
            i += 1
          }
          m.result()
        }
      }
    } else if (f.repeated) {
      val elemType = dt match {
        case ArrayType(et, _) => et
        case other => other
      }
      val vr = catalystValueReader(f.typ, elemType, cfg, reg)
      (row: InternalRow) =>
        if (row.isNullAt(idx)) null
        else {
          val a = row.getArray(idx)
          val xs = Vector.newBuilder[Any]
          var i = 0
          while (i < a.numElements()) {
            // a null ELEMENT raises loudly: proto repeated fields cannot
            // hold nulls, and silently dropping the element would shrink
            // the list and break positional correlation (the reference
            // errors on the same input — AppendAssigner converts the null
            // scalar and protobuf rejects the None append)
            if (a.isNullAt(i)) throw new IllegalArgumentException(
              s"null element in repeated field ${f.name}: proto repeated " +
                "fields cannot represent null")
            xs += vr(a.get(i, elemType))
            i += 1
          }
          xs.result()
        }
    } else {
      val vr = catalystValueReader(f.typ, dt, cfg, reg)
      // null → unset (presence) / default (plain)
      (row: InternalRow) => if (row.isNullAt(idx)) null else vr(row.get(idx, dt))
    }
  }

  /** Compiled InternalRow → message reader against a concrete row schema.
    * Columns missing from the schema are skipped (the reference's
    * tolerate-missing-columns semantics, arrow_to_proto.py:633-656);
    * null cells in non-presence positions read as proto defaults. Each
    * present column fills its field's slot directly. */
  def internalRowReader(md: PMessageDesc, schema: StructType, cfg: GraftConfig,
      reg: ProtoRegistry): InternalRow => DynamicMessage = {
    val (ordinals, readers) = md.fieldArray.zipWithIndex.flatMap { case (f, o) =>
      val idx = schema.fieldNames.indexOf(f.name)
      if (idx < 0) None // column absent: skip field
      else Some(o -> catalystFieldReader(f, idx, schema.fields(idx).dataType, cfg, reg))
    }.unzip
    val width = md.fieldArray.length
    row => {
      val slots = new Array[Any](width)
      var i = 0
      while (i < readers.length) { slots(ordinals(i)) = readers(i)(row); i += 1 }
      DynamicMessage.fromSlots(md, slots)
    }
  }
}
