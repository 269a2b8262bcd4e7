package graft

import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.functions._

import graft.sync.TableStore

/** The textual VERSION-AS-OF rewrite: store tables rewrite to versioned
  * parquet paths; qualified names and non-store identifiers pass through to
  * the delegate grammar untouched. */
class TimeTravelParserSpec extends SparkSpec {

  /** The session's own parser (GraftSession installs it), armed with `root`. */
  private def withStoreRoot[A](root: String)(body: ParserInterface => A): A =
    GraftSession.withConf(spark, "spark.graft.store.root" -> root) {
      body(spark.sessionState.sqlParser)
    }

  test("store table rewrites to the versioned snapshot path") {
    val s = spark
    import s.implicits._
    val root = tmpDir("ttp")
    val store = new TableStore(spark, root)
    store.write("t", Seq((1L, "a")).toDF("id", "v")) // v0
    store.write("t", Seq((2L, "b")).toDF("id", "v")) // v1 = live
    val rows = withStoreRoot(root) { p =>
      org.apache.spark.sql.graftshim.PlanBridge
        .ofRows(spark, p.parsePlan("SELECT id, v FROM t VERSION AS OF 0"))
        .collect()
    }
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a")))
    TableStore.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("qualified names and non-store identifiers are not rewritten") {
    val root = tmpDir("ttp")
    val store = new TableStore(spark, root)
    val s = spark
    import s.implicits._
    store.write("t", Seq((1L, "a")).toDF("id", "v"))
    withStoreRoot(root) { p =>
      // trailing segment of a qualified name equals a store table — must
      // pass through to the delegate (Spark's native catalog time travel)
      val qualified = p.parsePlan("SELECT * FROM db.t VERSION AS OF 3")
      assert(!qualified.toString.contains("parquet."),
        s"qualified name was rewritten: $qualified")
      // identifier that is no store table — untouched even with conf set
      val foreign = p.parsePlan("SELECT * FROM elsewhere VERSION AS OF 1")
      assert(!foreign.toString.contains("parquet."),
        s"non-store identifier was rewritten: $foreign")
    }
    TableStore.deleteRecursively(java.nio.file.Paths.get(root))
  }

  test("registered-table list overrides directory probing") {
    val root = tmpDir("ttp")
    val store = new TableStore(spark, root)
    val s = spark
    import s.implicits._
    store.write("t", Seq((1L, "a")).toDF("id", "v"))   // exists on disk
    withStoreRoot(root) { p =>
      GraftSession.withConf(spark, "spark.graft.store.tables" -> "other") {
        // `t` exists under the root but is NOT registered → the conf
        // shields it (the DSv2 name-collision escape hatch)
        val shielded = p.parsePlan("SELECT * FROM t VERSION AS OF 0")
        assert(!shielded.toString.contains("parquet."),
          s"unregistered name was rewritten: $shielded")
        // a registered name rewrites even with no directory present yet
        val registered = p.parsePlan("SELECT * FROM other VERSION AS OF 2")
        assert(registered.toString.contains(s"$root/other/v2"),
          s"registered name was not rewritten: $registered")
      }
    }
    TableStore.deleteRecursively(java.nio.file.Paths.get(root))
  }
}
