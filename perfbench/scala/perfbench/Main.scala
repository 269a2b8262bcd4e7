package perfbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, run once per workload in its own JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --root DIR --out FILE [--query-data DIR --gen-s S]
  *
  * Builds the session users get from `GraftSession`, sets up the
  * workload, runs its closed loop for `S` seconds and writes one JSON
  * object to FILE: the metrics (end-to-end with trace 0, per-layer with
  * trace 1), the operations attempted and failed, and a detail record.
  * Every byte it writes lives under DIR.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(opt("root"))
    val t0 = System.nanoTime()
    val nproc = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, root, opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", sessionS, opt)
    val result = opt("workload") match {
      case "cdc_trickle" => new CdcTrickle(ctx).run()
      case "query_surface" => new QuerySurface(ctx).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.driver.memory")
    }
    val detail = result.detail ++ Map(
      "spark_version" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "nproc" -> nproc,
      "spark_conf" -> conf,
      "session" -> "graft.GraftSession.builder() (installs GraftExtensions)",
      "peak_rss_mb" -> Rss.peakMb)
    val json = Json.render(Map(
      "metrics" -> result.metrics,
      "attempted" -> result.attempted,
      "failed" -> result.failed,
      "errors" -> result.errors.take(20),
      "detail" -> detail))
    Files.write(Paths.get(opt("out")), json.getBytes("UTF-8"))
    spark.stop()
  }
}

final case class Ctx(spark: SparkSession, root: Path, seed: Long, seconds: Double,
    trace: Boolean, sessionS: Double, opt: Map[String, String])

/** What one workload run produced. */
final case class Result(metrics: Map[String, Double], attempted: Long, failed: Long,
    errors: Seq[String], detail: Map[String, Any])

/** Closed-loop bookkeeping shared by the workloads: operation counts and
  * the first few mismatch messages. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]
  def op(): Unit = attempted += 1
  def expect(ok: Boolean, what: => String): Unit =
    if (!ok) { failed += 1; if (errors.size < 50) errors += what }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}

object Rss {
  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

object Dirs {
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum)

  def dataFiles(p: Path): Map[String, Long] =
    if (!Files.exists(p)) Map.empty
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
      .map(f => f.toString -> Files.size(f)).toMap)

  def delete(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.toSeq)
        .reverse.foreach(Files.deleteIfExists(_))
}

/** Minimal JSON writer for the result file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => quote(o.toString)
  }
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

/** A whole-second virtual clock for `Pipeline(now = ...)`: sync stamps
  * are set by the workload, so the same seed gives the same stored rows. */
final class Clock(startMs: Long) {
  @volatile var ms: Long = startMs
  def apply(): Timestamp = new Timestamp(ms)
}
