package graft.sync

import java.sql.{Connection, DriverManager, Timestamp}
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.types.{StringType, StructType}

/** JDBC warehouse sink under the [[SyncStore]] contract — the deployment
  * shape the reference actually ships (a Redshift cluster as the merge
  * target: ref sql/create_target_tables.sql:1-37 creates the tables,
  * ref sql/incremental_sync_members.sql:44-52 upserts via
  * `DELETE ... USING stage` + `INSERT INTO ... SELECT`), next to the
  * parquet stores that serve the engine-local path. [[graft.pipeline
  * .Pipeline]] takes any SyncStore, so the same orchestration drives
  * either target.
  *
  * Verb mapping, each the warehouse-native form of the parquet verb:
  *   - init       → load a writer-private staging table, then publish by
  *                  DROP + RENAME inside one transaction — the pointer
  *                  swap of [[BucketedTableStore]]'s `_CURRENT` flip,
  *                  expressed as DDL.
  *   - applyMerge → upload the staged batch, then `DELETE WHERE key IN
  *                  (stage keys)` + `INSERT ... WHERE eventName <>
  *                  'REMOVE'` in ONE transaction (the reference procedure
  *                  verbatim, ref :44-52); the commit is the atomic
  *                  publish. Anti-join NULL semantics match
  *                  [[Merge.applyStage]]: a NULL stage key deletes
  *                  nothing (SQL IN never matches NULL), NULL-keyed
  *                  target rows always survive.
  *   - retain     → no-op: a warehouse table holds only its live state
  *                  (time travel is the parquet stores' affordance).
  *
  * Scale shape: the stage upload is O(batch); the DELETE+INSERT is the
  * warehouse's own bounded-scan upsert (Redshift executes it as a hash
  * join against the stage — the very plan this library's parquet merge
  * reimplements). Spark-side nothing is collected; the driver holds only
  * the SQL strings.
  *
  * String columns are created as VARCHAR(`maxVarchar`) rather than the
  * dialect default CLOB: Derby (the in-JVM test engine) cannot compare
  * CLOBs, and the merge's key-IN and eventName predicates are
  * comparisons. Redshift has the same constraint (VARCHAR columns, no
  * comparable LOBs), so the override is deployment-faithful, not a test
  * shim.
  *
  * Single-writer per table, like every store here (the reference's
  * procedures are called sequentially). Identifier case: table names are
  * passed UNQUOTED (the engine folds them, consistently on both the
  * Spark write and this class's SQL); column names are QUOTED
  * everywhere, preserving the exact case parquet-side readers see.
  *
  * Dialects: the one statement that differs across the deployment
  * targets is the publish rename — PostgreSQL/Redshift (the reference's
  * actual target, ref sql/create_target_tables.sql) spell it
  * `ALTER TABLE x RENAME TO y`, Derby (the in-JVM test engine) spells it
  * `RENAME TABLE x TO y`. [[JdbcTableStore.renameSql]] keys the form off
  * the JDBC URL scheme, defaulting to the ANSI-adjacent ALTER form for
  * unknown engines. Executed coverage (r18): Derby executes its own
  * rename form, and the PG-form statements — the ALTER publish rename
  * and the DELETE-by-stage-keys + INSERT..SELECT upsert — EXECUTE
  * against DuckDB's PostgreSQL-compatible grammar when its cached JDBC
  * jar is present (JdbcDialectSpec's PG-grammar cases; a live
  * PostgreSQL/Redshift remains string-pinned only). The pins assert
  * PostgreSQL/Redshift DOCUMENTED syntax: the reference's own sql/
  * procedures use DROP TABLE IF EXISTS + CREATE rather than a rename,
  * so the pinned statements are this library's chosen publish protocol
  * expressed in the target dialect — not transcribed reference text.
  */
final class JdbcTableStore(spark: org.apache.spark.sql.SparkSession,
    url: String, driver: String, maxVarchar: Int = 4096,
    connProps: Map[String, String] = Map.empty,
    // Spark-writer-only options (numPartitions, batchsize, …): applied to
    // the stage upload but NEVER forwarded to DriverManager — engines
    // like DuckDB reject unknown connection properties outright, and the
    // split mirrors Spark's own JDBCOptions layering
    writeOptions: Map[String, String] = Map.empty) extends SyncStore {

  private def props: Properties = {
    val p = new Properties()
    p.setProperty("driver", driver)
    connProps.foreach { case (k, v) => p.setProperty(k, v) }
    p
  }

  private def withConn[T](body: Connection => T): T = {
    Class.forName(driver)
    val p = new Properties()
    connProps.foreach { case (k, v) => p.setProperty(k, v) }
    val c = DriverManager.getConnection(url, p)
    try body(c) finally c.close()
  }

  private def tableExists(c: Connection, name: String): Boolean = {
    // unquoted identifiers are stored case-folded; probe both folds so
    // the check works against upper-folding (Derby) and lower-folding
    // engines alike. getTables takes a LIKE pattern, so `_` in the name
    // (member_quest!) is a single-char wildcard — and Derby's
    // getSearchStringEscape is EMPTY, so escaping is not portably
    // available. Instead, post-filter the (possibly wildcard-widened)
    // result set by exact TABLE_NAME equality: a similarly-shaped table
    // (memberXquest) can no longer false-positive.
    val md = c.getMetaData
    def has(n: String) =
      scala.util.Using.resource(md.getTables(null, null, n, null)) { rs =>
        Iterator.continually(rs).takeWhile(_.next())
          .exists(_.getString("TABLE_NAME") == n)
      }
    has(name.toUpperCase) || has(name.toLowerCase) || has(name)
  }

  private def q(col: String): String = "\"" + col + "\""

  /** Per-write column-type overrides: every string column → VARCHAR. */
  private def varcharTypes(schema: StructType): Option[String] = {
    val ss = schema.fields.filter(_.dataType == StringType)
      .map(f => s"${f.name} VARCHAR($maxVarchar)")
    if (ss.isEmpty) None else Some(ss.mkString(", "))
  }

  private def writeTable(name: String, df: DataFrame): Unit = {
    val w = df.write.format("jdbc")
      .option("url", url).option("driver", driver)
      .option("dbtable", name)
    (connProps ++ writeOptions).foreach { case (k, v) => w.option(k, v) }
    varcharTypes(df.schema).fold(w)(t =>
        w.option("createTableColumnTypes", t))
      .mode(SaveMode.Overwrite).save()
  }

  def read(name: String): Option[DataFrame] =
    if (!withConn(tableExists(_, name))) None
    else Some(spark.read.jdbc(url, name, props))

  /** Full load, published by DROP + RENAME in one transaction — readers
    * see the old table or the new one, never a half-loaded state. */
  def init(name: String, df: DataFrame, key: String,
      sortBy: Option[String] = None): Unit = {
    val stageName = s"${name}_swap"
    writeTable(stageName, sortBy.fold(df)(c => df.sortWithinPartitions(c)))
    withConn { c =>
      c.setAutoCommit(false)
      val st = c.createStatement()
      try {
        if (tableExists(c, name)) st.executeUpdate(s"DROP TABLE $name")
        st.executeUpdate(JdbcTableStore.renameSql(url, stageName, name))
        c.commit()
      } catch { case e: Throwable => c.rollback(); throw e }
      finally st.close()
    }
  }

  /** The reference's upsert procedure against a live JDBC target: stage
    * upload, then DELETE-by-stage-keys + INSERT-non-REMOVEs committed as
    * one transaction (ref sql/incremental_sync_members.sql:44-52). */
  def applyMerge(name: String, stage: DataFrame, key: String,
      syncTime: Timestamp, sortBy: Option[String] = None): Unit = {
    val target = read(name).getOrElse(
      throw new IllegalStateException(s"$name not initialized — init first"))
    val stageName = s"${name}_stage"
    writeTable(stageName, stage)
    try withConn { c =>
      c.setAutoCommit(false)
      try {
        val del = c.prepareStatement(
          s"DELETE FROM $name WHERE ${q(key)} IN " +
            s"(SELECT ${q(key)} FROM $stageName)")
        try del.executeUpdate() finally del.close()
        // target column order drives both lists; syncTimestamp comes from
        // the parameter (stage carries target-minus-syncTimestamp, the
        // SyncStore contract)
        val cols = target.schema.fieldNames
        val selectSide = cols.map {
          case "syncTimestamp" => "CAST(? AS TIMESTAMP)"
          case c2 => q(c2)
        }
        val ins = c.prepareStatement(
          s"INSERT INTO $name (${cols.map(q).mkString(", ")}) " +
            s"SELECT ${selectSide.mkString(", ")} FROM $stageName " +
            s"WHERE ${q("eventName")} <> 'REMOVE'")
        try {
          if (cols.contains("syncTimestamp")) ins.setTimestamp(1, syncTime)
          ins.executeUpdate()
        } finally ins.close()
        c.commit()
      } catch { case e: Throwable => c.rollback(); throw e }
    } finally withConn { c =>
      // stage cleanup outside the publish transaction: a crash between
      // commit and this drop leaves a stale stage table the next
      // writeTable overwrites — debris, never corruption
      if (tableExists(c, stageName)) {
        val st = c.createStatement()
        try st.executeUpdate(s"DROP TABLE $stageName") finally st.close()
      }
    }
  }

  /** No version history on a JDBC target — the live state is the only
    * state (Redshift semantics); nothing to sweep. */
  def retain(name: String, keep: Int): Unit = ()
}

object JdbcTableStore {
  /** Dialect-keyed publish rename. Derby is the odd one out
    * (`RENAME TABLE x TO y`); PostgreSQL, Redshift, and most ANSI-ish
    * engines take `ALTER TABLE x RENAME TO y`, so that is also the
    * unknown-scheme default (fail loud on a truly alien engine rather
    * than silently Derby-ify). Package-visible for dialect pin tests. */
  def renameSql(url: String, from: String, to: String): String = {
    val scheme = url.stripPrefix("jdbc:").takeWhile(_ != ':').toLowerCase
    scheme match {
      case "derby" => s"RENAME TABLE $from TO $to"
      case _       => s"ALTER TABLE $from RENAME TO $to"
    }
  }
}
