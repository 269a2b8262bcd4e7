package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One serving interface over the ANN tiers (r16 verdict ask #7).
  *
  * VectorOps grew seven ways to answer "top-k neighbors of these query
  * vectors" — brute, SRP-LSH, IVF, PQ, IVF-PQ, plus the two incremental
  * variants — each the right tool at a different corpus scale, all with
  * the same logical signature. This trait is that signature, and
  * [[AnnIndex.select]] is the corpus-stats policy that picks the tier,
  * following the public FAISS index-selection guidance (the "Guidelines
  * to choose an index" doc) translated to this engine's measured
  * constants:
  *
  *   - n < [[AnnIndex.BruteMax]] — exact scan. A flat scan of a small
  *     corpus beats paying any index build; it is also the only tier
  *     with recall 1.0 by construction.
  *   - n ≤ [[AnnIndex.IvfFlatMax]] — IVF-Flat with √n cells
  *     ([[VectorOps.sizedNlist]]) and the matching nprobe: cell pruning
  *     cuts the scan ~√n-fold while the in-cell scoring stays exact
  *     over raw vectors (re-rank-free).
  *   - above — IVF-PQ: at ≥ millions of vectors the raw vectors stop
  *     fitting executor memory next to the rest of the query, so the
  *     in-cell scan runs over m-byte PQ codes with an exact re-rank of
  *     the survivors.
  *
  * SRP-LSH and flat PQ stay available as EXPLICIT choices (they are
  * deliberately not in the auto policy: SRP serves the no-training-pass
  * streaming context, flat PQ the memory-bound-but-small corpus), and
  * the graph/append tiers keep their own maintenance-protocol entry
  * points. Since round 18 the selector IS index-aware for the IVF
  * family: [[AnnIndex.select]] consults the persisted
  * [[AnnIndexStore]] registry and routes to a standing version-matched
  * quantizer before falling back to the stats policy (q247 gates both
  * paths).
  *
  * Every tier returns the same shape: (query_id, neighbor_id, cosine,
  * rank), rank 1-based by (cosine desc, neighbor_id asc) per query.
  */
sealed trait AnnIndex {
  /** Tier tag — stable, lowercase, lands in query output columns. */
  def tier: String
  /** Top-k neighbors per query vector (`queries`: vec_id, embedding). */
  def topK(queries: DataFrame, k: Int): DataFrame
}

object AnnIndex {
  /** Below this corpus size an exact scan beats any index build. */
  val BruteMax: Long = 1L << 14
  /** Above this, raw in-cell vectors give way to PQ codes. */
  val IvfFlatMax: Long = 1L << 20

  final case class Brute(spark: SparkSession, corpus: DataFrame)
      extends AnnIndex {
    val tier = "brute"
    def topK(queries: DataFrame, k: Int): DataFrame =
      VectorOps.bruteForceTopK(queries, corpus, k)
  }

  final case class SrpLsh(spark: SparkSession, corpus: DataFrame,
      planes: Int = 48, bands: Int = 12) extends AnnIndex {
    val tier = "srp"
    def topK(queries: DataFrame, k: Int): DataFrame =
      VectorOps.lshTopK(queries, corpus, k, planes, bands)
  }

  final case class Ivf(spark: SparkSession, corpus: DataFrame,
      nlist: Int, nprobe: Int, indexKey: Option[String]) extends AnnIndex {
    val tier = "ivf"
    def topK(queries: DataFrame, k: Int): DataFrame =
      VectorOps.ivfTopK(spark, queries, corpus, k, nlist, nprobe,
        indexKey = indexKey)
  }

  final case class Pq(spark: SparkSession, corpus: DataFrame,
      m: Int = 16, kCodes: Int = 32, rerank: Int = 200,
      indexKey: Option[String] = None) extends AnnIndex {
    val tier = "pq"
    def topK(queries: DataFrame, k: Int): DataFrame =
      VectorOps.pqTopK(spark, queries, corpus, k, m, kCodes, rerank,
        indexKey = indexKey)
  }

  final case class IvfPq(spark: SparkSession, corpus: DataFrame,
      nlist: Int, nprobe: Int, m: Int = 16, kCodes: Int = 32,
      rerank: Int = 200, indexKey: Option[String] = None) extends AnnIndex {
    val tier = "ivfpq"
    def topK(queries: DataFrame, k: Int): DataFrame =
      VectorOps.ivfPqTopK(spark, queries, corpus, k, nlist, nprobe,
        m, kCodes, rerank, indexKey = indexKey)
  }

  /** Pure selection policy — a function of the corpus ROW COUNT only,
    * so it is testable without Spark and replicable in an oracle. */
  def tierFor(n: Long): String =
    if (n < BruteMax) "brute"
    else if (n <= IvfFlatMax) "ivf"
    else "ivfpq"

  /** Full-corpus IVF quantizers persisted for the dataset dir at its
    * current version in the configured [[AnnIndexStore]] — the nlists
    * whose standing index a selector can route to without any build.
    * Empty when the store is off. */
  def registeredIvfNlists(dir: String): Seq[Int] =
    AnnIndexStore.registered("ivf", dir).flatMap(_.params match {
      case Seq("full", s"nlist=$n", _*) => n.toIntOption
      case _ => None
    }).distinct.sorted

  /** Stats-and-registry-driven selection for a dataset directory's
    * embedding corpus (loaded internally — taking the dir alone is what
    * keeps the memoized row count honest: a caller-supplied frame could
    * be a filtered derivative whose count would silently poison, or be
    * poisoned by, the per-dataset memo).
    *
    * The row count is memoized per dataset version (one count job per
    * dataset per session — and persisted through the disk store, since
    * at 100 TB the count behind a tier decision is itself a full scan
    * worth amortizing). The dataset dir flows into the chosen tier as
    * its index key, so trained artifacts ride the existing memo/disk
    * families.
    *
    * REGISTRY AWARENESS (`registryAware = true`): when the configured
    * [[AnnIndexStore]] already holds a full-corpus IVF quantizer for
    * this dataset AT THE CURRENT VERSION, the selector routes to it
    * instead of re-deciding from stats alone — an index a nightly build
    * already paid for beats the one the policy would build, and a
    * version mismatch falls back to the stats policy (stale indexes are
    * never served). Two routing cases:
    *   - stats tier is brute (small corpus): a registered index serves
    *     with nprobe = nlist — every cell probed, exact re-rank, so the
    *     answer stays EXACT while the serve runs through the standing
    *     index's postings;
    *   - stats tier is ivf/ivfpq: the registered nlist closest to the
    *     √n policy size replaces it (the persisted quantizer needs no
    *     training pass; a policy-sized one would).
    * Pass `registryAware = false` to gate the pure stats policy (q246
    * does — its oracle replays tierFor in SQL, which no SQL replay of
    * registry state could). The graph tiers keep their own maintenance
    * protocols (q242/q245) and are not routed here. */
  def select(spark: SparkSession, dir: String,
      registryAware: Boolean = true): AnnIndex = {
    val corpus = graft.tables.Tables.embeddings(spark, dir)
    val stats = IndexMemo.Key("annstats", dir, Nil, session = false)
    val n = IndexMemo(stats)(AnnIndexStore.orBuildLong(stats)(corpus.count()))
    val key = Some(dir)
    val statsNlist = VectorOps.sizedNlist(n)
    val registered =
      if (registryAware) registeredIvfNlists(dir) else Seq.empty
    // closest registered nlist to the policy size; ties → the smaller
    val regNlist = registered
      .minByOption(r => (math.abs(r.toLong - statsNlist), r))
    tierFor(n) match {
      case "brute" =>
        regNlist match {
          case Some(nl) => Ivf(spark, corpus, nl, nprobe = nl, key)
          case None => Brute(spark, corpus)
        }
      case "ivf" =>
        val nlist = regNlist.getOrElse(statsNlist)
        Ivf(spark, corpus, nlist, VectorOps.sizedNprobe(nlist), key)
      case _ =>
        val nlist = regNlist.getOrElse(statsNlist)
        IvfPq(spark, corpus, nlist, VectorOps.sizedNprobe(nlist),
          indexKey = key)
    }
  }
}
