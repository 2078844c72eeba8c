package graft

import org.apache.spark.sql.functions.{col, udf}
import graft.operators.Relational2

/** The harness core every main and spec runs on: the session policy is
  * pinned, and the cold-run measure starts from an empty cache, times
  * only what ran, and reports a failure as an error, never as a time. */
class HarnessSpec extends SparkSpec {

  test("session: local[cpus], shuffle partitions = cpus, UTC, UI off, fallback threshold") {
    val s = Harness.session()
    assert(s eq spark, "the factory hands back the one session of the JVM")
    val cpus = Harness.cpus.toString
    assert(s.sparkContext.master == s"local[$cpus]")
    assert(s.conf.get("spark.sql.shuffle.partitions") == cpus)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(s.sparkContext.uiWebUrl.isEmpty)
    assert(s.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "4000000")
  }

  test("coldRun: no cached frame and an empty centsHist memo when timing starts") {
    spark.range(100).toDF("id").cache().count()
    // building q81 memoizes its lineitem histogram
    SparkEntry.queries("q81_winsorized_agg")(spark, sfDir)
    assert(!spark.sharedState.cacheManager.isEmpty)
    assert(Relational2.memoCount > 0)
    var cacheEmpty = false
    var memos = -1
    val r = Harness.coldRun(spark) {
      cacheEmpty = spark.sharedState.cacheManager.isEmpty
      memos = Relational2.memoCount
      spark.range(10).toDF("id")
    }
    assert(cacheEmpty)
    assert(memos == 0)
    assert(r.exists(_ >= 0.0))
  }

  test("coldRun: a throwing entry comes back as its error text, not a time") {
    val long = "x" * 500
    assert(Harness.coldRun(spark)(throw new IllegalStateException(long)) ==
      Left("IllegalStateException: " + "x" * 120))
    assert(Harness.coldRun(spark)(throw new RuntimeException()) ==
      Left("RuntimeException: "))
    // a frame that builds but fails when counted is an error too
    val boom = udf((id: Long) => if (id >= 0) throw new IllegalStateException("boom") else id)
    val failed = Harness.coldRun(spark)(spark.range(1).toDF("id").where(boom(col("id")) > 0))
    assert(failed.swap.exists(_.startsWith("SparkException: ")), failed)
  }

  test("measure: seconds on success") {
    val r = Harness.measure(Thread.sleep(20))
    assert(r.exists(_ >= 0.015), r)
  }

  test("JsonOut.obj/arr: compact renderers, keys escaped, values as given") {
    assert(JsonOut.obj(Seq("a" -> "1", "b\"c" -> JsonOut.str("x\ny"))) ==
      "{\"a\":1,\"b\\\"c\":\"x\\ny\"}")
    assert(JsonOut.obj(Nil) == "{}")
    assert(JsonOut.arr(Seq("1.0000", JsonOut.str("q"))) == "[1.0000,\"q\"]")
    assert(JsonOut.arr(Nil) == "[]")
  }
}
