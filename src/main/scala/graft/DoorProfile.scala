package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** Diagnostic main: per-LEG wall time and Spark-job counts for the
  * sequential ingest doors (the q150/q160/q165/q227/q229 family), the
  * instrumentation behind the door-overhead work — at toy SFs the doors
  * are FIXED-OVERHEAD-dominated (per-batch job count × scheduler/IO
  * floor, not data volume), so the lever is jobs-per-batch, and this
  * main is how a change proves it moved that number.
  *
  *   sbt "runMain graft.DoorProfile /root/testdata/sf0.1 q160"
  *
  * Legs reported per batch: DERIVE (probe-frame persist + bucket
  * collect), DECIDE (index read + candidate join + verdict
  * materialization), APPLY (delta commit incl. sidecars + any
  * auto-compaction). A Spark listener counts jobs per leg; wall time is
  * driver-side around each call, which is exactly what the bench pays.
  */
object DoorProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val which = args.drop(1).headOption.getOrElse("q160")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    @volatile var jobs = 0
    @volatile var taskSum = 0
    val verbose = sys.env.get("DOOR_PROFILE_VERBOSE").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        jobs += 1; taskSum += s.stageInfos.map(_.numTasks).sum
        if (verbose) println(s"[door-profile]   job ${s.jobId} " +
          s"tasks=${s.stageInfos.map(_.numTasks).sum} " +
          s"${Option(s.properties).map(_.getProperty("callSite.short")).getOrElse("")}")
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ()
    })
    def leg[T](name: String)(body: => T): T = {
      val j0 = jobs; val t0 = System.nanoTime()
      val r = body
      // listener events are async; give the queue a beat so job counts
      // attribute to the right leg (diagnostic precision, not protocol)
      Thread.sleep(50)
      println(f"[door-profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s  jobs=${jobs - j0}")
      r
    }

    which match {
      case "q160" | "q150" | "q165" =>
        // two ROUNDS: round 1 absorbs JVM/codegen warmup, round 2 is
        // what a warm bench pass pays — read round 2
        (1 to 2).foreach { round =>
          val (door, src, idc) =
            if (which == "q150")
              (graft.operators.DedupIngest.door(),
                graft.tables.Tables.documents(spark, dir)
                  .repartition(spark.sparkContext.defaultParallelism, col("doc_id")), "doc_id")
            else if (which == "q165")
              // same no-wrapper-repartition shape as q165SpanIngest
              (graft.operators.SpanIngest.door(8),
                graft.tables.Tables.documents(spark, dir), "doc_id")
            else
              (graft.operators.SemanticDedupIngest.door(),
                graft.tables.Tables.embeddings(spark, dir), "vec_id")
          val corpus = src.filter(pmod(col(idc), lit(4)) <= 1)
          val batches = Seq(2, 3).map(r =>
            src.filter(pmod(col(idc), lit(4)) === r))
          val root = Files.createTempDirectory("graft-doorprof").toString
          val store = new graft.sync.BucketedTableStore(spark, root, 16,
            deltaMerges = true, autoCompactAfter = 4)
          try {
            leg(s"r$round seed")(door.seedIndex(spark, store, corpus,
              new java.sql.Timestamp(1660000000000L)))
            batches.zipWithIndex.foreach { case (b, i) =>
              val probe = leg(s"r$round b${i + 1} derive")(
                door.probeFrame(spark, b)
                  .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
              val dec = leg(s"r$round b${i + 1} decide")(
                door.decide(spark, store, b, probe, i + 1L))
              leg(s"r$round b${i + 1} apply")(door.applyAdmissions(store,
                probe, dec,
                new java.sql.Timestamp(1660000000000L + (i + 1) * 60000L)))
              probe.unpersist()
            }
          } finally graft.sync.TableStore.deleteRecursively(Paths.get(root))
        }
      case "q225" =>
        // leakage-gate legs: freeze (index build, amortized in prod) vs
        // the two per-batch gates (the steady-state cost). Two rounds;
        // read round 2 (round 1 absorbs warmup).
        import graft.streaming.LeakageGateStream
        (1 to 2).foreach { round =>
          val docs = graft.tables.Tables.documents(spark, dir)
          val root = Files.createTempDirectory("graft-leakprof").toString
          val store = new graft.sync.BucketedTableStore(spark, root, 16)
          try {
            leg(s"r$round freeze")(LeakageGateStream.freeze(spark, docs,
              store, new java.sql.Timestamp(1660000000000L)))
            val train = docs.filter(
              graft.queries.StatsQueries.splitOf(col("doc_id")) === "train")
            Seq(0, 1).foreach { r =>
              leg(s"r$round gate$r")(LeakageGateStream.gate(spark, store,
                train.filter(pmod(col("doc_id"), lit(2)) === r)).count())
            }
          } finally graft.sync.TableStore.deleteRecursively(Paths.get(root))
        }
      case other =>
        // generic path: run each named query TWICE under the job counter
        // (round 1 absorbs JVM/codegen warmup — read round 2, which is
        // what a warm bench pass pays); several names may be passed in
        // one invocation to amortize the sbt/SparkSession startup
        (Seq(other) ++ args.drop(2)).foreach { name =>
          (1 to 2).foreach { round =>
            leg(s"r$round $name")(SparkEntry.queries(name)(spark, dir).count())
            spark.sharedState.cacheManager.clearCache()
          }
        }
    }
    println(f"[door-profile] TOTAL jobs=$jobs tasks=$taskSum")
    spark.stop()
  }
}
