package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.streaming.Trigger

/** The deployment wiring itself: the shared test session is built
  * through [[GraftSession.builder]] (≈ `spark.sql.extensions=GraftExtensions`
  * on a cluster), like every main's, so it must expose the native
  * functions in plain SQL and carry the custom optimizer rule, planner
  * strategy and parser — no Scala-API registration calls anywhere.
  */
class GraftSessionSpec extends SparkSpec {

  test("GraftSession: SQL functions, optimizer rule, and strategy installed") {
    val s = spark
    // native functions resolve and evaluate from plain SQL
    val sim = s.sql(
      "SELECT simhash(array('alpha','beta','gamma')) AS h").head().getLong(0)
    assert(sim != 0L)
    val dot = s.sql(
      "SELECT long_dot(array(1L,2L,3L), array(4L,5L,6L)) AS d").head().getLong(0)
    assert(dot == 32L)
    assert(s.catalog.functionExists("min_rolling_hash"))
    assert(s.catalog.functionExists("srp_bits"))
    // sign_project: 64->16 JL kernel at the q197 geometry, from SQL
    val sp = s.sql(
      "SELECT sign_project(transform(sequence(1, 64), i -> CAST(i AS LONG))) AS p")
      .head().getSeq[Long](0)
    assert(sp.length == 16 && sp.exists(_ != 0L),
      s"sign_project must emit 16 non-degenerate integer sums: $sp")
    // bloom_bits: k in-range positions, identical to the driver-side
    // probe kernel (the property the store's sidecars depend on)
    val bb = s.sql(
      "SELECT bloom_bits('fp-37', 1024, 5) AS p").head()
      .getSeq[Int](0)
    assert(bb.length == 5 && bb.forall(p => p >= 0 && p < 1024))
    assert(bb.toArray.sameElements(
      graft.functions.HashKernels.bloomPositions(
        graft.functions.HashKernels.fnv1a64(
          org.apache.spark.unsafe.types.UTF8String.fromString("fp-37")),
        1024, 5)))

    // optimizer rule, planner strategy and parser rode in with the extensions
    assert(s.sessionState.optimizer.extendedOperatorOptimizationRules
      .exists(_.isInstanceOf[graft.plans.RangeJoinRewrite]),
      "RangeJoinRewrite must be injected")
    assert(s.sessionState.planner.strategies
      .contains(graft.plans.TopKStrategy),
      "TopKStrategy must be injected")
    assert(s.sessionState.sqlParser.isInstanceOf[graft.plans.TimeTravelParser],
      "TimeTravelParser must be injected")
  }

  test("GraftSession: sessions and stream clones share one executor classloader") {
    val isolation = "spark.sql.artifact.isolation.enabled"
    assert(spark.conf.get(isolation) == "false")
    val input = tmpDir("loader-in")
    Files.write(Paths.get(input, "a.txt"), "x\n".getBytes)
    val loader = udf(() =>
      System.identityHashCode(Thread.currentThread.getContextClassLoader))
      .asNondeterministic()
    // two sequential queries, each run by Spark in its own session clone
    val seen = (1 to 2).map { _ =>
      val got = new java.util.concurrent.atomic.AtomicReference[(String, Int)]
      spark.readStream.text(input).writeStream
        .option("checkpointLocation", tmpDir("loader-ckpt"))
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          got.set(batch.sparkSession.conf.get(isolation) ->
            batch.select(loader()).head().getInt(0))
        }
        .start().awaitTermination()
      Option(got.get).getOrElse(fail("the query ran no batch"))
    }
    assert(seen.map(_._1) == Seq("false", "false"), "a stream clone turned isolation on")
    assert(seen(0)._2 == seen(1)._2,
      "each query's tasks ran under its own classloader, so neither reuses the other's generated code")
  }
}
