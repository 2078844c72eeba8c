package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import graft.{Protarrow, SparkEntry}
import graft.conv.{Codecs, GraftConfig}
import graft.proto._

/** Wall and process-CPU time of the timed sections of a pass, plus the
  * latency of each call. Output checks run outside [[timed]]. */
final class Meter {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  var wallNs = 0L
  var cpuNs = 0L
  val callMs = ArrayBuffer[Double]()

  def timed[T](body: => T): T = {
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    try body finally {
      val dt = System.nanoTime() - t0
      wallNs += dt
      cpuNs += os.getProcessCpuTime - c0
      callMs += dt / 1e6
    }
  }
}

/** What a workload reports besides its timings. */
final class Tally {
  var passes = 0L
  var attempted = 0L
  var failed = 0L
  var checks = 0L
  var messages = 0L
  var truncated = 0L
  var firstError = ""
  def fail(what: String): Unit = {
    failed += 1
    if (firstError.isEmpty) firstError = what.take(300)
  }
}

/** One benchmark workload over a live session. A pass is the workload's
  * fixed unit of work; `traced` passes compose the same public calls with
  * spans around each layer. */
trait Workload {
  def setup(): Unit
  def pass(traced: Boolean, m: Meter, t: Tally): Unit
  /** Workload-specific end-to-end figures, by name: (value, unit). */
  def report(untraced: Seq[Meter]): Seq[(String, Double, String)]
  /** Call latencies of a pass, for the call median. */
  def calls(m: Meter): Seq[Double] = m.callMs.toSeq
  /** Planning time of each call, and storage memory in use after each
    * call or pass, in the current phase. */
  val planMs = ArrayBuffer[Double]()
  val cachedMb = ArrayBuffer[Double]()
  def startPhase(): Unit = { planMs.clear(); cachedMb.clear() }
}

object Workload {
  val Md: PMessageDesc = Schemas.msg("ExampleMessage")
  val Reg: ProtoRegistry = Schemas.registry
  val Cfg: GraftConfig = GraftConfig()

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Linear-interpolated percentile, as `statistics.quantiles` inclusive. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else {
      val pos = p * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def planMsOf(df: Dataset[_]): Double =
    df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  def threadAllocated(): Long = threads.getCurrentThreadAllocatedBytes
  /** Bytes allocated so far by the live threads of the JVM. */
  def allAllocated(): Long =
    threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0).sum
}

/** Kafka-shaped distributed path: wire bytes cached over 4 partitions →
  * `fromProtoBinary` (ingest, materialized into the frame's in-memory
  * cache, which builds every column) → `toProtoBinary` over the cached
  * frame (egress, consumed by a sink that reads every output byte). */
final class WireRoundtrip(spark: SparkSession, seed: Long, perPartition: Int)
    extends Workload {
  import Workload._
  private val parts = 4
  private var input: Dataset[Array[Byte]] = _
  var wireBytes = 0L
  def messages: Long = perPartition.toLong * parts

  def setup(): Unit = {
    val (s, n) = (seed, perPartition)
    val rdd = spark.sparkContext.parallelize(0 until parts, parts)
      .mapPartitionsWithIndex { (p, _) =>
        val gen = MsgGen.forPartition(s, p)
        Iterator.fill(n)(ProtoWire.encode(gen.message(Md), Reg))
      }
    input = spark.createDataset(rdd)(Encoders.BINARY).persist(StorageLevel.MEMORY_ONLY)
    wireBytes = input.rdd.map(_.length.toLong).reduce(_ + _)
  }

  private def ingest(): DataFrame = {
    val df = Protarrow.fromProtoBinary(input, Md, Cfg, Reg)
      .persist(StorageLevel.MEMORY_ONLY)
    df.count()
    planMs += planMsOf(df)
    df
  }

  /** Reads every output byte; per partition: (messages, bytes, CRC32). */
  private def sink(out: Dataset[Array[Byte]]): Seq[(Long, Long, Long)] = {
    val fp = out.queryExecution.toRdd.mapPartitions { rows =>
      val crc = new java.util.zip.CRC32
      var (n, bytes) = (0L, 0L)
      rows.foreach { r =>
        val b = r.getBinary(0)
        crc.update(b); n += 1; bytes += b.length
      }
      Iterator((n, bytes, crc.getValue))
    }.collect().toSeq
    planMs += planMsOf(out)
    fp
  }

  def pass(traced: Boolean, m: Meter, t: Tally): Unit = {
    val sc = spark.sparkContext
    t.attempted += 1
    var df: DataFrame = null
    try {
      sc.setJobGroup("wire_roundtrip.ingest", "ingest")
      df = m.timed { if (traced) tracedIngest() else ingest() }
      sc.setJobGroup("wire_roundtrip.egress", "egress")
      val fp = m.timed {
        if (traced) tracedEgress(df) else sink(Protarrow.toProtoBinary(df, Md, Cfg, Reg))
      }
      sc.setJobGroup("check", "check")
      checked match {
        case None => check(df, fp, t)
        case Some(ref) =>
          // same input, deterministic conversion: the output must be
          // byte-identical to the fully checked one
          t.checks += 1
          t.messages += messages
          t.truncated += checkedTruncated
          if (fp != ref) t.fail("wire_roundtrip: output differs from the checked pass")
      }
    } catch { case e: Exception => t.fail(s"wire_roundtrip: $e") }
    finally {
      if (df != null) df.unpersist(blocking = true)
      sc.clearJobGroup()
    }
  }

  /** Per-partition fingerprint and truncated-timestamp count of the first
    * pass, whose every output message was compared with its input. */
  private var checked: Option[Seq[(Long, Long, Long)]] = None
  private var checkedTruncated = 0L

  /** Every output message against the generated input it came from; the
    * checked output must be the one the timed egress produced (same
    * per-partition fingerprint). */
  private def check(df: DataFrame, timed: Seq[(Long, Long, Long)], t: Tally): Unit = {
    val (s, reg) = (seed, Reg)
    val out = Protarrow.toProtoBinary(df, Md, Cfg, Reg).queryExecution.toRdd
    val res = out.mapPartitionsWithIndex { (p, rows) =>
      val gen = MsgGen.forPartition(s, p)
      val cmp = new MessageCheck
      val crc = new java.util.zip.CRC32
      var st = CheckStats.zero
      var bytes = 0L
      rows.foreach { r =>
        val b = r.getBinary(0)
        crc.update(b); bytes += b.length
        val in = gen.message(Md)
        val got = ProtoWire.decode(b, Md, reg)
        val tr = cmp.compare(in, got)
        st = st + (if (tr >= 0) CheckStats(1, 0, tr, "")
          else CheckStats(1, 1, 0, s"partition $p message ${st.messages}: $in != $got"))
      }
      Iterator((st, (st.messages, bytes, crc.getValue)))
    }.collect().toSeq
    val st = res.map(_._1).foldLeft(CheckStats.zero)(_ + _)
    t.checks += 1
    t.messages += st.messages
    t.truncated += st.truncatedTimestamps
    if (st.messages != messages) t.fail(s"wire_roundtrip: ${st.messages} of $messages messages came back")
    else if (st.mismatched > 0) t.fail(s"wire_roundtrip: ${st.mismatched} messages differ; ${st.firstMismatch}")
    else if (res.map(_._2) != timed) t.fail("wire_roundtrip: timed egress output differs from the checked output")
    else { checked = Some(timed); checkedTruncated = st.truncatedTimestamps }
  }

  // ---- traced compositions of the same public calls

  private def tracedIngest(): DataFrame = {
    val call = Trace.newId()
    Trace.span(call, 0, call, "bench.ingest") {
      val schema = Trace.child(call, call, "conv.schema_derive")(
        Protarrow.messageTypeToSchema(Md, Cfg, Reg))
      val writer = Trace.child(call, call, "conv.compile")(Codecs.rowWriter(Md, Cfg, Reg))
      val toRow = ExpressionEncoder(schema, lenient = true).createSerializer()
      val (job, reg) = (Trace.newId(), Reg)
      val rows = input.rdd.mapPartitions(it => new IngestTask(it, job, call, reg, writer, toRow))
      val df = org.apache.spark.sql.PerfBenchBridge.fromInternalRows(spark, rows, schema)
        .persist(StorageLevel.MEMORY_ONLY)
      Trace.span(job, call, call, "spark.job")(df.count())
      planMs += planMsOf(df)
      df
    }
  }

  private def tracedEgress(df: DataFrame): Seq[(Long, Long, Long)] = {
    val call = Trace.newId()
    Trace.span(call, 0, call, "bench.egress") {
      val reader = Trace.child(call, call, "conv.compile")(
        Codecs.internalRowReader(Md, df.schema, Cfg, Reg))
      val job = Trace.newId()
      val bytes = df.queryExecution.toRdd.mapPartitions(it => new EgressTask(it, job, call, reader))
      val out = spark.createDataset(bytes)(Encoders.BINARY)
      Trace.span(job, call, call, "spark.job")(sink(out))
    }
  }

  /** One call is one round trip. */
  override def calls(m: Meter): Seq[Double] = Seq(m.wallNs / 1e6)

  def report(untraced: Seq[Meter]): Seq[(String, Double, String)] = {
    val done = untraced.filter(_.callMs.size == 2)
    val ingest = done.map(_.callMs(0))
    val egress = done.map(_.callMs(1))
    Seq(("ingest_msgs_per_s", messages / (median(ingest) / 1e3), "msg/s"),
      ("egress_msgs_per_s", messages / (median(egress) / 1e3), "msg/s"),
      ("messages_per_pass", messages.toDouble, "count"),
      ("wire_bytes_per_pass", wireBytes.toDouble, "bytes"))
  }

}

/** Executor-side iterator that records one `spark.task` span for the
  * partition and leaf spans for each element's layer calls. */
abstract class TracedTask[A, B](it: Iterator[A], job: Long, call: Long) extends Iterator[B] {
  private val id = Trace.newId()
  private val t0 = System.nanoTime()
  private var open = true
  protected def step(a: A): B
  protected def leaf(name: String, start: Long, end: Long): Unit =
    Trace.record(Trace.newId(), id, call, name, start, end)
  def hasNext: Boolean = {
    val h = it.hasNext
    if (!h && open) { open = false; Trace.record(id, job, call, "spark.task", t0, System.nanoTime()) }
    h
  }
  def next(): B = step(it.next())
}

/** `fromProtoBinary`'s per-row work: wire decode, external row writer,
  * then the ExpressionEncoder pass `createDataFrame` applies. */
final class IngestTask(it: Iterator[Array[Byte]], job: Long, call: Long,
    reg: ProtoRegistry, writer: DynamicMessage => Row,
    toRow: ExpressionEncoder.Serializer[Row])
    extends TracedTask[Array[Byte], InternalRow](it, job, call) {
  protected def step(b: Array[Byte]): InternalRow = {
    val a0 = Workload.threadAllocated()
    val t0 = System.nanoTime()
    val msg = ProtoWire.decode(b, Workload.Md, reg)
    val t1 = System.nanoTime()
    Trace.add("proto.wire_decode_alloc", Workload.threadAllocated() - a0)
    val row = writer(msg)
    val t2 = System.nanoTime()
    val ir = toRow(row)
    val t3 = System.nanoTime()
    leaf("proto.wire_decode", t0, t1)
    leaf("conv.row_writer", t1, t2)
    leaf("conv.catalyst_convert", t2, t3)
    ir
  }
}

/** `toProtoBinary`'s per-row work: catalyst reader, then wire encode. */
final class EgressTask(it: Iterator[InternalRow], job: Long, call: Long,
    reader: InternalRow => DynamicMessage)
    extends TracedTask[InternalRow, Array[Byte]](it, job, call) {
  protected def step(r: InternalRow): Array[Byte] = {
    val t0 = System.nanoTime()
    val msg = reader(r)
    val t1 = System.nanoTime()
    val b = ProtoWire.encode(msg)
    val t2 = System.nanoTime()
    leaf("conv.internal_reader", t0, t1)
    leaf("proto.wire_encode", t1, t2)
    b
  }
}

/** Service-shaped driver-local API, one client in a closed loop: each call
  * is `messagesToDataFrame` → `dataFrameToMessages` on one batch. */
final class DriverBatches(spark: SparkSession, seed: Long, sizes: Seq[Int])
    extends Workload {
  import Workload._
  private var pool: Vector[DynamicMessage] = _
  /** One pass: (batch size, offset into the pool), in seeded order. */
  private var cycle: Seq[(Int, Int)] = _

  def setup(): Unit = {
    val gen = new MsgGen(seed)
    pool = Vector.fill(sizes.max * 2)(gen.message(Md))
    val rnd = new scala.util.Random(seed)
    cycle = rnd.shuffle(sizes).map(s => s -> rnd.nextInt(pool.size - s + 1))
  }

  def pass(traced: Boolean, m: Meter, t: Tally): Unit = {
    val sc = spark.sparkContext
    val cmp = new MessageCheck
    sc.setJobGroup("driver_batches", "driver_batches")
    cycle.foreach { case (n, off) =>
      t.attempted += 1
      val batch = pool.slice(off, off + n)
      try {
        val (df, out) = m.timed { if (traced) tracedCall(batch) else call(batch) }
        planMs += planMsOf(df)
        t.checks += 1
        t.messages += out.size
        if (out.size != batch.size) t.fail(s"driver_batches: ${out.size} of ${batch.size} messages came back")
        else {
          val tr = batch.lazyZip(out).map((a, b) => cmp.compare(a, b))
          val bad = tr.indexWhere(_ < 0)
          if (bad >= 0) t.fail(s"driver_batches: message $bad differs: ${batch(bad)} != ${out(bad)}")
          else t.truncated += tr.sum
        }
      } catch { case e: Exception => t.fail(s"driver_batches: $e") }
    }
    sc.clearJobGroup()
  }

  private def call(batch: Seq[DynamicMessage]): (DataFrame, Seq[DynamicMessage]) = {
    val df = Protarrow.messagesToDataFrame(spark, batch, Md, Cfg, Reg)
    (df, Protarrow.dataFrameToMessages(df, Md, Cfg, Reg))
  }

  /** The same calls `messagesToDataFrame` and `dataFrameToMessages` make,
    * each inside its layer's span. */
  private def tracedCall(batch: Seq[DynamicMessage]): (DataFrame, Seq[DynamicMessage]) = {
    val call = Trace.newId()
    Trace.span(call, 0, call, "bench.call") {
      val schema = Trace.child(call, call, "conv.schema_derive")(
        Protarrow.messageTypeToSchema(Md, Cfg, Reg))
      val writer = Trace.child(call, call, "conv.compile")(Codecs.internalRowWriter(Md, Cfg, Reg))
      val rows = Trace.child(call, call, "conv.internal_writer")(batch.map(writer))
      val df = Trace.child(call, call, "spark.local_relation")(
        org.apache.spark.sql.GraftBridge.localDataFrame(spark, schema, rows))
      val reader = Trace.child(call, call, "conv.compile")(
        Codecs.internalRowReader(Md, df.schema, Cfg, Reg))
      val plan = Trace.child(call, call, "spark.plan")(df.queryExecution.executedPlan)
      val collected = Trace.child(call, call, "spark.execute_collect")(
        org.apache.spark.sql.GraftBridge.withExecutionId(df.queryExecution, "dataFrameToMessages") {
          plan.executeCollect()
        })
      val out = Trace.child(call, call, "conv.internal_reader")(
        collected.iterator.map(reader).toVector)
      Trace.add("conv.internal_reader_msgs", out.size)
      Trace.add("conv.internal_writer_msgs", batch.size)
      (df, out)
    }
  }

  def report(untraced: Seq[Meter]): Seq[(String, Double, String)] = {
    val calls = untraced.flatMap(_.callMs)
    val msgs = cycle.map(_._1).sum.toDouble * untraced.size
    Seq(("rt_p50_ms", percentile(calls, 0.5), "ms"),
      ("rt_p95_ms", percentile(calls, 0.95), "ms"),
      ("rt_samples", calls.size.toDouble, "count"),
      ("batch_msgs_per_s", msgs / (untraced.map(_.wallNs).sum / 1e9), "msg/s"))
  }
}

/** The analytical layer: registered operator entries run back to back on
  * the fixed parquet tables, session cache and memos cleared before each. */
final class OperatorMix(spark: SparkSession, dataDir: String, entries: Seq[String])
    extends Workload {
  import Workload._
  /** Per entry: wall seconds of each pass, the last pass's rows, and the
    * row counts seen (they must not vary). */
  val wallS = entries.map(_ -> ArrayBuffer[Double]()).toMap
  val lastRows = scala.collection.mutable.Map[String, (StructType, Array[Row])]()
  val rowCounts = entries.map(_ -> scala.collection.mutable.Set[Long]()).toMap

  override def startPhase(): Unit = { super.startPhase(); wallS.values.foreach(_.clear()) }

  def setup(): Unit = {
    // first-query initialization (codegen, parquet reader), as the repo's Bench does
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dataDir/region.parquet").count()
  }

  private def clearAll(): Unit = {
    spark.catalog.clearCache()
    graft.operators.Relational2.clearMemos()
  }

  def pass(traced: Boolean, m: Meter, t: Tally): Unit = {
    val sc = spark.sparkContext
    entries.foreach { name =>
      clearAll()
      t.attempted += 1
      sc.setJobGroup(name, name)
      try {
        val t0 = m.wallNs
        val (df, rows) = m.timed { if (traced) tracedEntry(name) else run(name) }
        wallS(name) += (m.wallNs - t0) / 1e9
        planMs += planMsOf(df)
        cachedMb += sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
        lastRows(name) = (df.schema, rows)
        rowCounts(name) += rows.length.toLong
        t.checks += 1
        if (rows.isEmpty) t.fail(s"$name: no rows")
      } catch { case e: Exception => t.fail(s"$name: $e") }
    }
    sc.clearJobGroup()
  }

  private def run(name: String): (DataFrame, Array[Row]) = {
    val df = SparkEntry.queries(name)(spark, dataDir)
    (df, df.collect())
  }

  private def tracedEntry(name: String): (DataFrame, Array[Row]) = {
    val call = Trace.newId()
    Trace.span(call, 0, call, "bench.entry") {
      val df = Trace.child(call, call, s"operators.$name")(SparkEntry.queries(name)(spark, dataDir))
      Trace.child(call, call, "spark.plan")(df.queryExecution.executedPlan)
      (df, Trace.child(call, call, "spark.collect")(df.collect()))
    }
  }

  def report(untraced: Seq[Meter]): Seq[(String, Double, String)] =
    Seq(("query_set_s", median(untraced.map(_.wallNs / 1e9)), "s"))

  /** Writes each entry's last result as parquet for the DuckDB oracle,
    * plus the oracle SQL; entries whose row count changed between passes
    * fail here. */
  def writeResults(outDir: String, t: Tally): Unit = {
    val oracle = SparkEntry.oracleSql
    lastRows.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      if (rowCounts(name).size > 1) t.fail(s"$name: row count varies across passes: ${rowCounts(name)}")
    }
    val sql = oracle.filter { case (k, _) => lastRows.contains(k) }
    Json.writeFile(s"$outDir/oracle_sql.json", Json.obj(sql.toSeq.map { case (k, v) => k -> Json.str(v) }))
    lastRows.clear()
  }
}
