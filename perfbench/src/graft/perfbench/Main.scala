package graft.perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Benchmark JVM: sets up one workload several times (timing each
  * set-up), runs closed-loop passes for the given seconds, checks every
  * output, and writes one JSON result file. With `--trace 1` the seconds
  * are split between an untraced and a traced phase; the per-layer
  * figures come from the traced phase and the difference between the two
  * is the tracing overhead.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *   --work DIR --out FILE [--spans FILE] [--tiny]
  */
object Main {
  val Entries: Seq[String] = Seq("d46_prefix_join", "q81_winsorized_agg",
    "q83_mad_outliers", "m47_scene_cuts", "d30_simhash_pairs",
    "d35_components_star", "x129_dsir_weights", "x133_dsir_selection",
    "q32_tpch02", "x90_corpus_pipeline")
  val Canary = "q09_customers_without_big_orders"
  /** Job groups that are not the workload's own calls. */
  val Overhead = Set("setup", "check", "canary", "none")

  private def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4000000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private final class Phase(val meters: Seq[Meter], val gcS: Double, val allocMb: Double,
      val jitS: Double, val codegen: Double)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val tiny = args.contains("--tiny")
    val (data, work, out) = (opt("data"), opt("work"), opt("out"))
    import Workload.median

    def make(spark: SparkSession): Workload = workload match {
      case "wire_roundtrip" => new WireRoundtrip(spark, seed, if (tiny) 16 else 256)
      case "driver_batches" =>
        new DriverBatches(spark, seed, if (tiny) Seq(1, 10, 100) else Seq(10, 100, 1000))
      case "operator_mix" => new OperatorMix(spark, data, Entries)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up, several times; the last one is kept
    val setupS = ArrayBuffer[Double]()
    var spark: SparkSession = null
    var w: Workload = null
    var jobs: JobMetrics = null
    for (_ <- 1 to (if (tiny) 1 else 3)) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(work)
      jobs = new JobMetrics
      spark.sparkContext.addSparkListener(jobs)
      spark.sparkContext.setJobGroup("setup", "setup")
      w = make(spark)
      w.setup()
      spark.sparkContext.clearJobGroup()
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext

    // one untimed pass, so that JIT, codegen and caches are warm; its
    // outputs are checked like every other pass
    val tally = new Tally
    if (!tiny) { w.pass(false, new Meter, tally); tally.passes += 1 }
    w.startPhase()

    // host canary (untimed, traced runs): marks degraded host windows
    sc.setJobGroup("canary", "canary")
    val canaryS = (1 to (if (traced) 3 else 0)).map { _ =>
      val t0 = System.nanoTime()
      SparkEntry.queries(Canary)(spark, data).collect()
      (System.nanoTime() - t0) / 1e9
    }
    sc.clearJobGroup()
    jobs.reset()

    def phase(trace: Boolean, budget: Double): Phase = {
      val (gc0, alloc0, jit0, cg0, start) =
        (gcMs(), Workload.allAllocated(), jitMs(), codegenCompiles(), System.nanoTime())
      val meters = ArrayBuffer[Meter]()
      var timedS = 0.0
      def wallS = (System.nanoTime() - start) / 1e9
      Trace.enabled = trace
      while (meters.isEmpty || (timedS < budget && wallS < 3 * budget + 30)) {
        val m = new Meter
        w.pass(trace, m, tally)
        tally.passes += 1
        meters += m
        timedS += m.wallNs / 1e9
        w.cachedMb += sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
      }
      Trace.enabled = false
      new Phase(meters.toSeq, (gcMs() - gc0) / 1e3 / meters.size,
        (Workload.allAllocated() - alloc0) / 1048576.0 / meters.size,
        (jitMs() - jit0) / 1e3 / meters.size, (codegenCompiles() - cg0).toDouble / meters.size)
    }
    val plain = phase(trace = false, if (traced) seconds / 2 else seconds)
    org.apache.spark.sql.GraftBridge.awaitListenerBus(spark)
    val plainJobs = jobs.sum(g => !Overhead(g))
    val tracedPhase = if (!traced) None else {
      jobs.reset()
      w.startPhase()
      val p = phase(trace = true, seconds / 2)
      org.apache.spark.sql.GraftBridge.awaitListenerBus(spark)
      Some(p)
    }

    w match {
      case om: OperatorMix => om.writeResults(s"$work/results", tally)
      case _ =>
    }

    // the context cleaner frees unreachable broadcast and shuffle state
    // asynchronously after a GC notices it, so collect a few times
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val passS = plain.meters.map(_.wallNs / 1e9)
    val e2e = Seq(
      ("setup_s", median(setupS.toSeq), "s"),
      ("pass_s", median(passS), "s"),
      ("cpu_s", median(plain.meters.map(_.cpuNs / 1e9)), "s"),
      ("call_p50_ms", median(plain.meters.flatMap(w.calls)), "ms"),
      ("retained_heap_mb", heapMb, "MB"))
    val attempted = math.max(tally.attempted, 1L)
    val report = e2e ++ w.report(plain.meters) ++ Seq(
      ("error_rate", tally.failed.toDouble / attempted, "ratio"),
      ("passes", plain.meters.size.toDouble, "count"),
      ("gc_s_per_pass", plain.gcS, "s"),
      ("jit_s_per_pass", plain.jitS, "s"),
      ("codegen_compiles_per_pass", plain.codegen, "count"),
      ("executor_cpu_s_per_pass", plainJobs.executorCpuNs / 1e9 / plain.meters.size, "s")) ++
      (if (traced) Seq(("canary_s", median(canaryS), "s")) else Nil)

    val layers = tracedPhase.map { tp =>
      val (spans, counters) = Trace.drain()
      opt.get("spans").foreach(p => Trace.write(java.nio.file.Paths.get(p), spans))
      Layers(spans, counters, tp.meters, plain.meters, w, jobs, tp.gcS, tp.allocMb,
        tp.codegen, median(canaryS), tally)
    }.getOrElse(Nil)

    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> tally.attempted.toString,
      "failed" -> tally.failed.toString,
      "checks" -> tally.checks.toString,
      "checked_messages" -> tally.messages.toString,
      "first_error" -> Json.str(tally.firstError),
      "pass_walls_s" -> passS.map(Json.num).mkString("[", ",", "]"),
      "end_to_end" -> Json.metrics(e2e),
      "report" -> Json.metrics(report),
      "per_layer" -> Json.metrics(layers)))
    Json.writeFile(out, json)
    spark.stop()
  }
}

/** Per-layer figures of the traced phase. Layers a workload does not call
  * read 0. */
object Layers {
  def apply(spans: Seq[Span], counters: Map[String, Long],
      traced: Seq[Meter], plain: Seq[Meter], w: Workload, jobs: JobMetrics,
      gcS: Double, allocMb: Double, codegen: Double, canaryS: Double, tally: Tally)
      : Seq[(String, Double, String)] = {
    import Workload.median
    val passes = traced.size.toDouble
    val calls = traced.map(_.callMs.size).sum.toDouble
    val byName = spans.groupBy(_.name)
    def total(name: String): Double = byName.getOrElse(name, Nil).map(_.nanos).sum.toDouble
    def count(name: String): Double = byName.getOrElse(name, Nil).size.toDouble
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    /** Mean per message: span time over the messages the spans covered. */
    def perMsgUs(name: String): Double =
      ratio(total(name), counters.get(s"${name}_msgs").map(_.toDouble).getOrElse(count(name))) / 1e3
    def perSpanMs(name: String): Double = ratio(total(name), count(name)) / 1e6

    val self = Trace.selfNanos(spans)
    val selfByLayer = spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 }
    def selfS(layer: String): Double = selfByLayer.getOrElse(layer, 0.0) / passes
    val allSelf = selfByLayer.values.sum

    val own = jobs.sum(g => !Main.Overhead(g))
    val base = Seq(
      ("proto.wire_decode_us", perMsgUs("proto.wire_decode"), "us"),
      ("proto.wire_decode_alloc_bytes",
        ratio(counters.getOrElse("proto.wire_decode_alloc", 0L).toDouble, count("proto.wire_decode")), "bytes"),
      ("proto.wire_encode_us", perMsgUs("proto.wire_encode"), "us"),
      ("conv.row_writer_us", perMsgUs("conv.row_writer"), "us"),
      ("conv.catalyst_convert_us", perMsgUs("conv.catalyst_convert"), "us"),
      ("conv.internal_reader_us", perMsgUs("conv.internal_reader"), "us"),
      ("conv.internal_writer_us", perMsgUs("conv.internal_writer"), "us"),
      ("conv.schema_derive_ms", perSpanMs("conv.schema_derive"), "ms"),
      ("conv.ts_truncated_values", tally.truncated.toDouble / tally.passes, "count"),
      ("spark.plan_ms", if (w.planMs.isEmpty) 0.0 else w.planMs.sum / w.planMs.size, "ms"),
      ("spark.local_relation_ms", perSpanMs("spark.local_relation"), "ms"),
      ("spark.execute_collect_ms", perSpanMs("spark.execute_collect"), "ms"),
      ("spark.jobs", ratio(own.jobs, calls), "count"),
      ("spark.stages", ratio(own.stages, calls), "count"),
      ("spark.tasks", ratio(own.tasks, calls), "count"),
      ("spark.executor_cpu_s", own.executorCpuNs / 1e9 / passes, "s"),
      ("spark.executor_run_s", own.executorRunMs / 1e3 / passes, "s"),
      ("spark.shuffle_read_bytes", own.shuffleReadBytes / passes, "bytes"),
      ("spark.shuffle_write_bytes", own.shuffleWriteBytes / passes, "bytes"),
      ("spark.spill_bytes", own.spillBytes / passes, "bytes"),
      ("spark.peak_exec_mem_mb", own.peakExecMemBytes / 1048576.0, "MB"),
      ("spark.cached_mb_after_entry", if (w.cachedMb.isEmpty) 0.0 else w.cachedMb.max, "MB"),
      ("spark.codegen_compiles", codegen, "count"))
    val entries = Main.Entries.flatMap { e =>
      val walls = w match {
        case om: OperatorMix => om.wallS(e).toSeq
        case _ => Nil
      }
      Seq((s"operators.$e.wall_s", if (walls.isEmpty) 0.0 else median(walls), "s"),
        (s"operators.$e.executor_cpu_s", jobs.sum(_ == e).executorCpuNs / 1e9 / passes, "s"))
    }
    val pass = median(traced.map(_.wallNs / 1e9))
    val tail = Seq(
      ("jvm.gc_s", gcS, "s"),
      ("jvm.alloc_mb", allocMb, "MB"),
      ("host.canary_s", canaryS, "s"),
      ("proto.self_s", selfS("proto"), "s"),
      ("conv.self_s", selfS("conv"), "s"),
      ("spark.self_s", selfS("spark"), "s"),
      ("operators.self_s", selfS("operators"), "s"),
      ("bench.self_s", selfS("bench"), "s"),
      ("trace.codec_share_pct",
        100 * ratio(selfByLayer.getOrElse("proto", 0.0) + selfByLayer.getOrElse("conv", 0.0), allSelf), "%"),
      ("trace.overhead_pct", 100 * (pass / median(plain.map(_.wallNs / 1e9)) - 1), "%"),
      ("trace.spans", spans.size / passes, "count"))
    base ++ entries ++ tail
  }
}
