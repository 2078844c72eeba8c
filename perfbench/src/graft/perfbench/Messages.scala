package graft.perfbench

import graft.proto._

/** Seeded full-shape message generator, the same shape as the repo's
  * `Bench` generator: every field of the ~190-field `ExampleMessage`,
  * random presence for presence fields, repeated/map sizes 0..10, full
  * numeric ranges. Deterministic for a given seed. */
final class MsgGen(seed: Long) {
  import PType._
  private val rnd = new java.util.Random(seed)
  private val reg = Schemas.registry
  private val alphabet =
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-_"
  private def randString(): String = {
    val n = rnd.nextInt(11)
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(alphabet.charAt(rnd.nextInt(64))); i += 1 }
    sb.toString
  }
  private def randBytes(): Bytes = {
    val b = new Array[Byte](rnd.nextInt(11)); rnd.nextBytes(b); Bytes.owned(b)
  }
  private def randRange(lo: Long, hi: Long): Long =
    Math.floorMod(rnd.nextLong(), hi - lo + 1) + lo

  private def scalar(t: PType): Any = t match {
    case PDouble => rnd.nextDouble() * 2 - 1
    case PFloat => rnd.nextFloat() * 2 - 1
    case PInt32 | PSInt32 | PSFixed32 => rnd.nextInt()
    case PInt64 | PSInt64 | PSFixed64 => rnd.nextLong()
    case PUInt32 | PFixed32 => rnd.nextInt().toLong & 0xFFFFFFFFL
    case PUInt64 | PFixed64 => rnd.nextLong()
    case PBool => rnd.nextBoolean()
    case PString => randString()
    case PBytes => randBytes()
    case PEnum(name) =>
      val vs = reg.enum(name).values; vs(rnd.nextInt(vs.size))._2
    case PMessage(WellKnown.TimestampName) =>
      DynamicMessage(WellKnown.timestamp, Map(
        1 -> randRange(-62135596800L, 253402300799L),
        2 -> rnd.nextInt(1000000000)))
    case PMessage(WellKnown.DurationName) =>
      DynamicMessage(WellKnown.duration, Map(
        1 -> randRange(-9223372036L, 9223372035L),
        2 -> rnd.nextInt(1000000000)))
    case PMessage(WellKnown.DateName) =>
      DynamicMessage(WellKnown.date, Map(
        1 -> (1 + rnd.nextInt(9999)), 2 -> (1 + rnd.nextInt(12)),
        3 -> (1 + rnd.nextInt(28))))
    case PMessage(WellKnown.TimeOfDayName) =>
      DynamicMessage(WellKnown.timeOfDay, Map(
        1 -> rnd.nextInt(24), 2 -> rnd.nextInt(60), 3 -> rnd.nextInt(60),
        4 -> rnd.nextInt(1000000000)))
    case PMessage(WellKnown.EmptyName) => DynamicMessage.empty(WellKnown.empty)
    case PMessage(name) if WellKnown.isWrapper(name) =>
      DynamicMessage(reg.message(name), Map(1 -> scalar(WellKnown.wrapperNames(name))))
    case PMessage(name) => message(reg.message(name))
  }

  def message(md: PMessageDesc): DynamicMessage = {
    val vals = md.fields.flatMap { f =>
      if (f.isMap) {
        val n = rnd.nextInt(11)
        Some(f.number -> (0 until n).map(_ => scalar(f.mapKey) -> scalar(f.mapValue)).toMap)
      } else if (f.repeated) {
        Some(f.number -> Vector.fill(rnd.nextInt(11))(scalar(f.typ)))
      } else if (f.hasPresence) {
        if (rnd.nextBoolean()) Some(f.number -> scalar(f.typ)) else None
      } else Some(f.number -> scalar(f.typ))
    }.toMap
    DynamicMessage(md, vals)
  }

  def nextInt(n: Int): Int = rnd.nextInt(n)
}

object MsgGen {
  /** Generator for one input partition: partitions are generated
    * independently (in parallel on executors) yet reproducibly. */
  def forPartition(seed: Long, partition: Int): MsgGen =
    new MsgGen(seed * 1000003L + partition)
}

/** Outcome of comparing output messages with their inputs. */
final case class CheckStats(messages: Long, mismatched: Long,
    truncatedTimestamps: Long, firstMismatch: String) {
  def +(o: CheckStats): CheckStats = CheckStats(messages + o.messages,
    mismatched + o.mismatched, truncatedTimestamps + o.truncatedTimestamps,
    if (firstMismatch.nonEmpty) firstMismatch else o.firstMismatch)
}

object CheckStats {
  val zero: CheckStats = CheckStats(0, 0, 0, "")
}

/** Field-by-field comparison of an output message with its input. The one
  * difference accepted is the documented microsecond truncation of
  * `google.protobuf.Timestamp` nanos (Spark's TimestampType holds
  * microseconds); each truncated value is counted, not masked. */
final class MessageCheck {
  import PType._
  private var truncated = 0L

  /** Compares one pair; returns the truncated-timestamp count of the pair
    * or -1 when they differ in any other way. */
  def compare(in: DynamicMessage, out: DynamicMessage): Long = {
    truncated = 0L
    if (sameMessage(in, out)) truncated else -1L
  }

  private def sameMessage(a: DynamicMessage, b: DynamicMessage): Boolean =
    a.descriptor.fullName == b.descriptor.fullName &&
      a.descriptor.fields.forall { f =>
        (a.get(f.number), b.get(f.number)) match {
          case (None, None) => true
          case (Some(x), Some(y)) =>
            if (f.isMap) {
              val (mx, my) = (x.asInstanceOf[Map[Any, Any]], y.asInstanceOf[Map[Any, Any]])
              mx.size == my.size && mx.forall { case (k, v) =>
                my.get(k).exists(w => sameValue(f.mapValue, v, w))
              }
            } else if (f.repeated) {
              val (vx, vy) = (x.asInstanceOf[Seq[Any]], y.asInstanceOf[Seq[Any]])
              vx.size == vy.size && vx.lazyZip(vy).forall((v, w) => sameValue(f.typ, v, w))
            } else sameValue(f.typ, x, y)
          case _ => false
        }
      }

  private def sameValue(t: PType, x: Any, y: Any): Boolean = t match {
    case PMessage(WellKnown.TimestampName) =>
      val (a, b) = (x.asInstanceOf[DynamicMessage], y.asInstanceOf[DynamicMessage])
      val secs = WellKnown.timestamp.fields(0)
      val nanos = WellKnown.timestamp.fields(1)
      val n = a.getOrDefault(nanos).asInstanceOf[Int]
      val ok = a.getOrDefault(secs) == b.getOrDefault(secs) &&
        b.getOrDefault(nanos).asInstanceOf[Int] == n - n % 1000
      if (ok && n % 1000 != 0) truncated += 1
      ok
    case PMessage(_) =>
      sameMessage(x.asInstanceOf[DynamicMessage], y.asInstanceOf[DynamicMessage])
    case _ => x == y
  }
}
