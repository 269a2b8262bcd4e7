package graft

import java.sql.Timestamp

import org.apache.spark.sql.catalyst.analysis.RelationTimeTravel
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

import graft.sync.{BucketedTableStore, LocalFs}

/** SQL time travel: `t VERSION AS OF n` over a store table reads the
  * store's manifest `n` (delta chains included); qualified names and
  * non-store identifiers keep the delegate grammar's own time-travel node. */
class TimeTravelParserSpec extends SparkSpec {
  import spark.implicits._

  /** The session's own parser (GraftSession installs it), armed with `root`. */
  private def withStoreRoot[A](root: String)(body: ParserInterface => A): A =
    GraftSession.withConf(spark, "spark.graft.store.root" -> root) {
      body(spark.sessionState.sqlParser)
    }

  private def rows(p: ParserInterface, sql: String): Seq[(Long, String)] =
    org.apache.spark.sql.graftshim.PlanBridge.ofRows(spark, p.parsePlan(sql))
      .as[(Long, String)].collect().toSeq.sorted

  /** True when the plan still holds the delegate's time-travel node, i.e.
    * the store did not answer it. */
  private def untouched(plan: LogicalPlan): Boolean =
    plan.collectFirst { case r: RelationTimeTravel => r }.isDefined

  private def oneBucket(root: String) = new BucketedTableStore(spark, root, nBuckets = 1)

  test("store table rewrites to the versioned snapshot path") {
    val root = tmpDir("ttp")
    val store = oneBucket(root)
    store.writeAll("t", Seq((1L, "a")).toDF("id", "v"), "id") // v0
    store.writeAll("t", Seq((2L, "b")).toDF("id", "v"), "id") // v1 = live
    withStoreRoot(root) { p =>
      assert(rows(p, "SELECT id, v FROM t VERSION AS OF 0") == Seq((1L, "a")))
      // the relation is aliased as the table and carries no `_bucket`
      assert(rows(p, "SELECT t.* FROM t VERSION AS OF 1") == Seq((2L, "b")))
      // CTEs and subqueries travel too
      assert(rows(p, "WITH old AS (SELECT * FROM t VERSION AS OF 0) " +
        "SELECT id, v FROM old WHERE id IN (SELECT id FROM t VERSION AS OF 0)") ==
        Seq((1L, "a")))
      // a version the store does not retain fails the parse, naming both
      val e = intercept[IllegalArgumentException](
        p.parsePlan("SELECT * FROM t VERSION AS OF 7"))
      assert(e.getMessage.contains("t VERSION AS OF 7"), e.getMessage)
    }
    LocalFs.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("time travel to a version that carries a delta chain reads it resolved") {
    val t0 = new Timestamp(1660000000000L)
    val t1 = new Timestamp(1660000060000L)
    val root = tmpDir("ttp-mor")
    val store = new BucketedTableStore(spark, root, nBuckets = 4,
      deltaMerges = true, autoCompactAfter = 100)
    store.init("t", Seq((1L, "a", t0), (2L, "b", t0), (3L, "c", t0))
      .toDF("id", "v", "approximateUpdateTimestamp")
      .withColumn("syncTimestamp", lit(t0)), "id")                 // v0
    store.applyMerge("t", Seq((2L, "b2", t1, "MODIFY"), (3L, "c", t1, "REMOVE"),
        (4L, "d", t1, "INSERT"))
      .toDF("id", "v", "approximateUpdateTimestamp", "eventName"), "id", t1) // v1
    assert(store.bucketStates("t").get.values.exists(_.deltas.nonEmpty),
      "version 1 must carry a delta chain to mean anything")
    store.compact("t")                                               // v2
    withStoreRoot(root) { p =>
      assert(rows(p, "SELECT id, v FROM t VERSION AS OF 1") ==
        Seq((1L, "a"), (2L, "b2"), (4L, "d")))
      assert(rows(p, "SELECT id, v FROM t VERSION AS OF 0") ==
        Seq((1L, "a"), (2L, "b"), (3L, "c")))
    }
    LocalFs.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("qualified names and non-store identifiers are not rewritten") {
    val root = tmpDir("ttp")
    oneBucket(root).writeAll("t", Seq((1L, "a")).toDF("id", "v"), "id")
    withStoreRoot(root) { p =>
      // trailing segment of a qualified name equals a store table — must
      // pass through to the delegate (Spark's native catalog time travel)
      val qualified = p.parsePlan("SELECT * FROM db.t VERSION AS OF 3")
      assert(untouched(qualified), s"qualified name was rewritten: $qualified")
      // identifier that is no store table — untouched even with conf set
      val foreign = p.parsePlan("SELECT * FROM elsewhere VERSION AS OF 1")
      assert(untouched(foreign), s"non-store identifier was rewritten: $foreign")
    }
    LocalFs.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("registered-table list overrides directory probing") {
    val root = tmpDir("ttp")
    oneBucket(root).writeAll("t", Seq((1L, "a")).toDF("id", "v"), "id") // exists on disk
    withStoreRoot(root) { p =>
      GraftSession.withConf(spark, "spark.graft.store.tables" -> "other") {
        // `t` exists under the root but is NOT registered → the conf
        // shields it (the DSv2 name-collision escape hatch)
        val shielded = p.parsePlan("SELECT * FROM t VERSION AS OF 0")
        assert(untouched(shielded), s"unregistered name was rewritten: $shielded")
        // a registered name is a store table even with no directory yet:
        // the store answers, and it retains no such version
        val e = intercept[IllegalArgumentException](
          p.parsePlan("SELECT * FROM other VERSION AS OF 2"))
        assert(e.getMessage.contains("other VERSION AS OF 2"), e.getMessage)
      }
    }
    LocalFs.deleteRecursively(java.nio.file.Paths.get(root))
  }
}
