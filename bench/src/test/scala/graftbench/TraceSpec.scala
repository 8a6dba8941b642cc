package graftbench

import graft.etl.Scd1
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  test("a call site's innermost engine frame names the layer") {
    val site = """org.apache.spark.sql.classic.Dataset.collect(Dataset.scala:1)
                 |graft.etl.Scd1$.changedKeyBuckets(Scd1.scala:85)
                 |graft.etl.Pipeline.$anonfun$run$3(Pipeline.scala:123)
                 |graftbench.Nightly.run(Nightly.scala:84)""".stripMargin
    assert(Trace.layerOf(site) == "etl.Scd1")
    assert(Trace.layerOf("graft.operators.BloomJoin$$anonfun$1.apply(BloomJoin.scala:3)") ==
      "operators.BloomJoin")
    assert(Trace.layerOf("graftbench.Main$.main(Main.scala:1)") == "other")
  }

  test("jobs of a live Scd1.changedKeyBuckets call are attributed to etl.Scd1") {
    val work = java.nio.file.Files.createTempDirectory("bench-trace").toString
    val spark = BenchSession.local("trace-spec", 2, work)
    import spark.implicits._
    val trace = new Trace
    trace.register(spark)
    try {
      val dim = Seq(("k1", "a"), ("k2", "b")).toDF("k", "v")
      val stg = Seq(("k1", "a"), ("k2", "c"), ("k3", "d")).toDF("k", "v")
      val touched = Scd1.changedKeyBuckets(dim, stg, Seq("k"), Seq("v"), 16, deletesVisible = true)
      assert(touched.nonEmpty)
      // listener events arrive asynchronously
      def layers = trace.synchronized(trace.jobs.values.map(trace.layerOf).toSet)
      val deadline = System.currentTimeMillis() + 10000
      while (!layers.contains("etl.Scd1") && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(layers.contains("etl.Scd1"), layers)
    } finally {
      trace.unregister(spark)
      spark.stop()
    }
  }
}
