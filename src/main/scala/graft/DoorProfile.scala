package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Diagnostic main: per-LEG wall time and Spark-job counts for the
  * sequential ingest doors (the q150/q160/q165/q227/q229 family), the
  * instrumentation behind the door-overhead work — at toy SFs the doors
  * are FIXED-OVERHEAD-dominated (per-batch job count × scheduler/IO
  * floor, not data volume), so the lever is jobs-per-batch, and this
  * main is how a change proves it moved that number.
  *
  *   sbt "runMain graft.DoorProfile /root/testdata/sf0.1 q160"
  *
  * The legs are the job tags [[graft.operators.IngestDoor.step]] sets:
  * DERIVE (probe-frame persist), DECIDE (index read + candidate join +
  * verdict materialization), APPLY (delta commit incl. sidecars + any
  * auto-compaction). A Spark listener reads each job's tags, so every
  * caller of the step — `ingestAll` here, or any door query in generic
  * mode — is priced per leg without a copy of the loop. Each measured
  * call prints its wall time and jobs, then one line per run of
  * consecutive jobs in the same leg (`other` = outside any step, e.g.
  * the seed) with its jobs and summed job time.
  */
object DoorProfile {
  private val Legs = Seq("door.derive", "door.decide", "door.apply")

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

    // per job, in start order: its id and door leg; its start time and,
    // once it ends, its duration (ms)
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val startMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val durMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    @volatile var taskSum = 0
    val verbose = sys.env.get("DOOR_PROFILE_VERBOSE").contains("1")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = {
        val props = Option(s.properties)
        val leg = props.flatMap(p => Option(p.getProperty("spark.job.tags")))
          .toSeq.flatMap(_.split(",")).find(Legs.contains)
          .fold("other")(_.stripPrefix("door."))
        startMs.put(s.jobId, s.time)
        started.add(s.jobId -> leg)
        taskSum += s.stageInfos.map(_.numTasks).sum
        if (verbose) println(s"[door-profile]   job ${s.jobId} $leg " +
          s"tasks=${s.stageInfos.map(_.numTasks).sum} " +
          s"${props.map(_.getProperty("callSite.short")).getOrElse("")}")
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        durMs.put(e.jobId, e.time - startMs.getOrDefault(e.jobId, e.time))
    })
    def leg[T](name: String)(body: => T): T = {
      val j0 = started.size; val t0 = System.nanoTime()
      val r = body
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events are async; give the queue a beat so job counts
      // attribute to the right call (diagnostic precision, not protocol)
      Thread.sleep(50)
      val jobs = started.asScala.drop(j0).toSeq
      println(f"[door-profile] $name%-28s $wall%6.2f s  jobs=${jobs.size}")
      // consecutive jobs of one leg form one run: seed, then decide and
      // apply per batch
      val runs = jobs.foldLeft(List.empty[(String, Seq[Int])]) {
        case ((l, ids) :: rest, (id, jl)) if l == jl => (l, ids :+ id) :: rest
        case (acc, (id, jl)) => (jl, Seq(id)) :: acc
      }.reverse
      if (runs.exists(_._1 != "other")) runs.foreach { case (l, ids) =>
        val s = ids.map(durMs.getOrDefault(_, 0L)).sum / 1e3
        println(f"[door-profile]   $l%-8s jobs=${ids.size}%3d  job time $s%6.2f s")
      }
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
          try leg(s"r$round $which")(door.ingestAll(spark, root, corpus, batches, 16))
          finally graft.sync.TableStore.deleteRecursively(Paths.get(root))
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
    println(f"[door-profile] TOTAL jobs=${started.size} tasks=$taskSum")
    spark.stop()
  }
}
