package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.CdcGen

/** Seeded CDC input for the benchmark, built from `gen.CdcGen`, and the
  * latest-change-per-key model the outputs are checked against.
  *
  * Event time is whole-second and strictly increasing between batches: the
  * merge keeps only changes newer than the target's watermark with a strict
  * `>` on whole seconds, so a batch stamped in the same second as the last
  * one would be dropped as late. Within a batch every change shares one
  * second and `sequence_number` orders them, which is the merge's tiebreak.
  */
final class Changes(seed: Long) {
  import Changes.Mq
  private val gen = new CdcGen.Gen(seed)
  private val rnd = new scala.util.Random(seed ^ 0x5DEECE66DL)

  /** Load time of the initial export; the first batch is one second later. */
  val loadMs: Long = 1893456000000L // 2030-01-01T00:00:00Z
  private var nextSecond = loadMs / 1000 + 1

  val members = mutable.HashMap.empty[String, (String, Long)]
  val quests = mutable.HashMap.empty[String, (String, Long)]
  val memberQuests = mutable.HashMap.empty[String, Mq]
  private val liveMq = mutable.ArrayBuffer.empty[String]
  private val liveIdx = mutable.HashMap.empty[String, Int]
  private val mqItem = mutable.HashMap.empty[String, CdcGen.Item]

  private def addLive(k: String): Unit = { liveIdx(k) = liveMq.size; liveMq += k }
  private def dropLive(k: String): Unit = {
    val i = liveIdx.remove(k).get
    val last = liveMq.remove(liveMq.size - 1)
    if (last != k) { liveMq(i) = last; liveIdx(last) = i }
  }

  private def idOf(item: CdcGen.Item, attr: String): String = item.attrs(attr).swap.toOption.get

  private def applyTick(ts: Long, stamp: Long): Seq[CdcGen.Item] = {
    val (m, q, mq) = gen.tick()
    members(idOf(m, "memberId")) = (m.sk, ts)
    quests(idOf(q, "questId")) = (q.sk, ts)
    val key = mq.sk.stripPrefix("MQ_")
    memberQuests(key) = Mq(idOf(m, "memberId"), idOf(mq, "questId"),
      mq.attrs("dollarsEarned").toOption.get, ts, stamp)
    mqItem(key) = mq
    addLive(key)
    Seq(m, q, mq)
  }

  /** Initial export of `ticks` ticks (three items each) as one gzipped
    * DynamoDB-export file under `dir`. */
  def writeExport(dir: Path, ticks: Int): Long = {
    Files.createDirectories(dir)
    val out = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(dir.resolve("export-000.json.gz")), 1 << 16)
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(out, UTF_8), 1 << 16)
    try (0 until ticks).foreach { _ =>
      applyTick(loadMs / 1000, loadMs / 1000).foreach { it =>
        w.write(gen.exportLine(it)); w.write('\n')
      }
    } finally w.close()
    ticks * 3L
  }

  /** One batch of about `n` envelopes: 60% INSERT ticks over the three
    * entities, 30% MODIFY and 10% REMOVE of live member_quests, each drawn
    * uniformly from the live keys. Returns the lines and the batch's event
    * second; the batch is synced at `Changes.stampOf` that second, which
    * the model keeps for the lag report. */
  def batch(n: Int, poison: Int = 0): (Seq[String], Long) = {
    val sec = nextSecond
    val stamp = Changes.stampOf(sec)
    nextSecond += 2
    val ms = sec * 1000
    val lines = mutable.ArrayBuffer.empty[String]
    val inserts = (n * 6 / 10) / 3
    val modifies = n * 3 / 10
    val removes = n - inserts * 3 - modifies
    val ops = rnd.shuffle(Seq.fill(inserts)(0) ++ Seq.fill(modifies)(1) ++ Seq.fill(removes)(2))
    ops.foreach {
      case 0 => applyTick(sec, stamp).foreach(it => lines += gen.envelope("INSERT", it, ms + lines.size % 1000))
      case 1 =>
        val key = liveMq(rnd.nextInt(liveMq.size))
        val old = memberQuests(key)
        val item = mqItem(key)
        val dollars = gen.dollars()
        val next = item.copy(attrs = item.attrs.updated("dollarsEarned", Right(dollars)))
        mqItem(key) = next
        memberQuests(key) = old.copy(dollars = dollars, ts = sec, stamp = stamp)
        lines += gen.envelope("MODIFY", next, ms + lines.size % 1000)
      case _ =>
        val key = liveMq(rnd.nextInt(liveMq.size))
        lines += gen.envelope("REMOVE", mqItem(key), ms + lines.size % 1000)
        memberQuests.remove(key); mqItem.remove(key); dropLive(key)
    }
    (0 until poison).foreach { i =>
      lines.insert(rnd.nextInt(lines.size + 1), s"""{"eventName": "MODIFY", "dynamodb": {"Keys": """ + i)
    }
    (lines.toSeq, sec)
  }

  /** Write `lines` to `staging` with its mtime set to the event second.
    * The caller renames it into the CDC dir: the file source admits files
    * in mtime order, which must follow event time. */
  def stage(lines: Seq[String], sec: Long, staging: Path, name: String): Path = {
    Files.createDirectories(staging)
    val tmp = staging.resolve(name)
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.setLastModifiedTime(tmp, FileTime.fromMillis(sec * 1000))
    tmp
  }

  /** The model's rows for `entity`, in the target's columns minus
    * `syncTimestamp`. */
  def modelFrame(spark: SparkSession, entity: String): DataFrame = {
    import spark.implicits._
    def t(s: Long) = new Timestamp(s * 1000)
    entity match {
      case "member" => members.toSeq.map { case (k, (n, s)) => (k, n, t(s)) }
          .toDF("memberId", "memberName", "approximateUpdateTimestamp")
      case "quest" => quests.toSeq.map { case (k, (n, s)) => (k, n, t(s)) }
          .toDF("questId", "questName", "approximateUpdateTimestamp")
      case _ => memberQuests.toSeq.map { case (k, r) =>
          (k, r.memberId, r.questId, r.dollars, t(r.ts)) }
          .toDF("memberQuestId", "memberId", "questId", "dollarsEarned",
            "approximateUpdateTimestamp")
    }
  }
}

object Changes {
  /** Sync time of the batch with event second `sec`: one second later, so
    * the sync stamp is never in the batch's own second. */
  def stampOf(sec: Long): Long = sec + 1

  /** The model's member_quest row: event second and sync stamp second. */
  final case class Mq(memberId: String, questId: String, dollars: Double, ts: Long, stamp: Long)

  /** Row count and two order-insensitive hashes of `df` over `cols`: the
    * XOR of the row hashes, and the sum of their low 32 bits (which cannot
    * overflow, and catches the duplicate rows XOR cancels). */
  def fingerprint(df: DataFrame, cols: Seq[String]): (Long, Long, Long) = {
    val h = xxhash64(cols.map(col): _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)),
        coalesce(sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), lit(0L))).first()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
}
