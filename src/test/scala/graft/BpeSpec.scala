package graft

import graft.obs.Census
import graft.operators.BpeOps

/** Pins BPE training on the classic Sennrich low/lower/newest/widest
  * corpus, hand-traced:
  *
  * words (freq): low 5, lower 2, newest 6, widest 3; symbols get a </w>
  * terminal. Round-by-round argmax (count desc, left asc, right asc):
  *   1. (e,s)   9   [newest 6 + widest 3; ties (s,t),(t,</w>) lose lex]
  *   2. (es,t)  9   [tie (t,</w>) loses lex]
  *   3. (est,</w>) 9
  *   4. (l,o)   7   [tie (o,w) loses lex]
  *   5. (lo,w)  7
  * Encoding "lowest" with those merges → low est</w> (via lo-w after l-o,
  * then the est chain) — the canonical generalization example.
  */
class BpeSpec extends SparkSpec {

  private def corpus = {
    val s = spark
    import s.implicits._
    Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
      .toDF("word", "freq")
  }

  test("merge sequence matches the hand-traced Sennrich example") {
    val model = BpeOps.train(spark, corpus, nMerges = 5)
    assert(model.merges === Seq(
      ("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o"), ("lo", "w")))
  }

  test("encodeWord generalizes to an unseen word") {
    val model = BpeOps.train(spark, corpus, nMerges = 5)
    // merges apply in rank order — the est chain fires inside "lowest",
    // then l-o, lo-w
    assert(model.encodeWord("lowest") === Seq("low", "est</w>"))
  }

  test("wordFreq aggregates the corpus once, train is deterministic") {
    val s = spark
    import s.implicits._
    val docs = Seq((0L, "low low newest"), (1L, "newest widest lower"))
      .toDF("doc_id", "text")
    val wf = BpeOps.wordFreq(docs, "text").as[(String, Long)].collect().toMap
    assert(wf === Map("low" -> 2L, "newest" -> 2L, "widest" -> 1L, "lower" -> 1L))
    val m1 = BpeOps.train(spark, BpeOps.wordFreq(docs, "text"), 3).merges
    val m2 = BpeOps.train(spark,
      BpeOps.wordFreq(docs.repartition(7), "text"), 3).merges
    assert(m1 === m2)
  }

  test("encode emits per-doc BPE tokens") {
    val s = spark
    import s.implicits._
    val model = BpeOps.train(spark, corpus, nMerges = 5)
    val docs = Seq((0L, "lowest low")).toDF("doc_id", "text")
    val out = BpeOps.encode(docs, "text", model)
      .as[(Long, Seq[String])].collect().toMap
    assert(out(0L) === Seq("low", "est</w>", "low", "</w>"))
  }

  test("train schedules ~1 Spark job per merge round, not 2") {
    // A 32k-merge production vocab is driver-job-bound: the scale fix is
    // lazy per-round rewrites with a checkpoint every ckptEvery rounds,
    // so 5 merges must cost 5 argmax jobs + 1 checkpoint job — the old
    // eager-checkpoint loop scheduled 10.
    // AQE splits each argmax into shuffle-stage + final jobs, so absolute
    // counts are config-dependent; the invariant is the CADENCE: eager
    // checkpointing pays one extra job per round, lazy pays 1/ckptEvery.
    var lazyMerges: Seq[(String, String)] = Nil
    var eagerMerges: Seq[(String, String)] = Nil
    val lazyJobs = jobsDuring {
      lazyMerges = BpeOps.trainDistributed(spark, corpus,
        nMerges = 5, ckptEvery = 4).merges
    }
    val eagerJobs = jobsDuring {
      eagerMerges = BpeOps.trainDistributed(spark, corpus,
        nMerges = 5, ckptEvery = 1).merges
    }
    info(s"jobs: lazy-checkpoint $lazyJobs, eager-per-round $eagerJobs")
    assert(lazyMerges === eagerMerges, "checkpoint cadence must not change training")
    assert(lazyJobs <= eagerJobs - 3,
      s"lazy cadence must drop ~1 job per non-checkpoint round ($lazyJobs vs $eagerJobs)")
  }

  test("property: driver-local merges ≡ distributed merges on random corpora") {
    // the localized tier (vocab fits the driver bound) must be sequence-
    // identical to the distributed loop — same argmax, same tiebreak —
    // on corpora it did not hand-trace: random words over a small
    // alphabet force heavy pair collisions and ties
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(4217)
    (1 to 5).foreach { trial =>
      val vocab = (0 until (5 + rnd.nextInt(20))).map { _ =>
        val len = 1 + rnd.nextInt(7)
        (Seq.fill(len)("abc".charAt(rnd.nextInt(3))).mkString,
          1L + rnd.nextInt(9))
      }.distinct
      val wf = vocab.toDF("word", "freq")
      val n = 1 + rnd.nextInt(12)
      val local = BpeOps.trainLocal(vocab.toArray, n).merges
      val dist = BpeOps.trainDistributed(spark, wf, n).merges
      assert(local === dist,
        s"trial $trial (n=$n, vocab=${vocab.size}): local $local vs dist $dist")
    }
  }

  test("utf8Compare orders supplementary characters like Spark, not UTF-16") {
    // U+10000 (surrogate pair 𐀀) sorts ABOVE U+FFFD by code
    // point / UTF-8 bytes (Spark's UTF8String order) but BELOW it under
    // String.compareTo's UTF-16 code-unit order — the exact divergence
    // the local trainer's tiebreak must not inherit
    val supp = new String(Character.toChars(0x10000))
    val bmp = "\uFFFD"
    assert(BpeOps.utf8Compare(supp, bmp) > 0, "code-point order required")
    assert(supp.compareTo(bmp) < 0, "UTF-16 order differs (sanity)")
    assert(BpeOps.utf8Compare("a", "b") < 0 && BpeOps.utf8Compare("b", "a") > 0)
    assert(BpeOps.utf8Compare("ab", "ab") == 0)
    assert(BpeOps.utf8Compare("a", "ab") < 0, "prefix sorts first")
  }

  test("property: local ≡ distributed merges with supplementary-plane symbols") {
    // force ties between a supplementary char and high-BMP chars: a
    // UTF-16-ordered local argmax would pick a different merge sequence
    val s = spark
    import s.implicits._
    val supp = new String(Character.toChars(0x10000))
    val bmp = "\uFFFD"
    val vocab = Seq(
      (s"$supp${bmp}a", 3L), (s"$bmp${supp}a", 3L),
      (s"a$supp", 2L), (s"a$bmp", 2L), ("aa", 1L))
    val local = BpeOps.trainLocal(vocab.toArray, 6).merges
    val dist = BpeOps.trainDistributed(spark, vocab.toDF("word", "freq"), 6).merges
    assert(local === dist, s"local $local vs dist $dist")
  }

  test("code-point split keeps distinct astral characters distinct (no '?' collapse)") {
    // r17 advice: a per-char split turns every supplementary character
    // into two lone surrogates → '??', conflating unrelated text. The
    // code-point split must keep two DIFFERENT emoji as two different
    // symbols, train without any '?' symbol, and encode losslessly.
    val s = spark
    import s.implicits._
    val a = new String(Character.toChars(0x1F600)) // 😀
    val b = new String(Character.toChars(0x1F680)) // 🚀
    assert(a != b)
    val vocab = Seq((a + a, 5L), (b + b, 4L))
    val local = BpeOps.trainLocal(vocab.toArray, 10)
    assert(local.merges.forall { case (l, r) =>
      !l.contains("?") && !r.contains("?") },
      s"no symbol may degrade to '?': ${local.merges}")
    assert(local.encodeWord(a + a) == Seq(a + a + BpeOps.EndOfWord),
      "well-formed astral text encodes losslessly")
    assert(local.encodeWord(a + a) != local.encodeWord(b + b),
      "distinct emoji words must not conflate")
    val dist = BpeOps.trainDistributed(spark, vocab.toDF("word", "freq"), 10)
    assert(local.merges === dist.merges, "tiers agree on astral symbols")
  }

  test("a 1024-merge schedule runs without 1024 Spark jobs (localized tier)") {
    // the r16 verdict's scale ask: after the one corpus aggregation the
    // word table is vocabulary-sized; past jobs-per-round pricing, a
    // production merge schedule must not be a driver-sequenced job loop
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(99)
    val vocab = (0 until 800).map { i =>
      (s"${('a' + rnd.nextInt(26)).toChar}${('a' + rnd.nextInt(26)).toChar}" +
        s"${('a' + rnd.nextInt(26)).toChar}w$i", 1L + rnd.nextInt(50))
    }
    val (model, census) = Census.during(spark)(
      BpeOps.train(spark, vocab.toDF("word", "freq"), nMerges = 1024))
    val jobs = census.jobs.size
    assert(model.merges.nonEmpty)
    info(s"1024-merge train scheduled $jobs Spark jobs")
    assert(jobs <= 8,
      s"localized training must cost O(1) jobs, saw $jobs")
  }

  test("train stops early when no pairs remain") {
    val s = spark
    import s.implicits._
    val tiny = Seq(("a", 3L)).toDF("word", "freq") // a</w> → one pair, then none
    val model = BpeOps.train(spark, tiny, nMerges = 10)
    assert(model.merges === Seq(("a", "</w>")))
  }
}
