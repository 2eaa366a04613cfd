package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for document corpora, from exact to
  * approximate: content-hash, MinHash+LSH, SimHash, blocked n-gram
  * Jaccard, and embedding-cosine near-dup.
  *
  * Extension scope (SURVEY.md §7.5): scale-up of the reference's
  * content-addressed dedup idea — `habits_raw`'s SHA-256 row hash
  * (`/root/reference/etl/transform.py:16-18`,
  * `/root/reference/sql/001_schema.sql:7-11`) — to near-duplicate
  * detection over text and vectors.
  *
  * Scale notes (100 TB): every stage is a hash-partitioned groupBy/join
  * on a derived key (hash, band key, block id) — no driver-side state,
  * no cross product except *within* blocks/buckets, which banding and
  * blocking keep small by construction. All expressions are built-ins
  * (codegen'd); md5/sha2 are the only per-row heavyweight ops.
  */
object Dedup {

  private val Spill = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  // Caching contract for the pair-finders (minhash / ngram / simhash):
  // each persists O(corpus-token) intermediates that feed multiple DAG
  // branches. The persists are LAZY — populated during the caller's
  // first action and reused across branches within it — and they REMAIN
  // in the session cache afterwards. Long-lived sessions running many
  // dedups back-to-back should release them between runs via
  // `spark.catalog.clearCache()` (Verify/Bench do exactly this) or by
  // re-deriving and unpersisting. An eager materialize-then-release
  // inside the operator was tried and reverted: forcing a count() before
  // the caller's own terminal action evaluates the whole pipeline twice
  // and doubled the end-to-end dedup times (round-2 bench).

  // ── Exact (hash) dedup ─────────────────────────────────────────────────

  /** Exact dedup groups by content digest; `repCol`'s min is the
    * surviving representative (deterministic). Generalizes S4
    * (`/root/reference/etl/etl_habits.py:27-30`). */
  def exactGroups(df: DataFrame, contentCol: String, repCol: String): DataFrame =
    df.groupBy(sha2(col(contentCol), 256).as("row_hash"))
      .agg(min(col(repCol)).as(repCol), count(lit(1)).as("n_copies"))

  // ── MinHash + LSH ──────────────────────────────────────────────────────

  /** (id, distinct word-n-gram shingle set) via a typed partition-local
    * shingler. Semantically identical to
    * `array_distinct(TextAnalysis.wordShingles(...))` (regex split with
    * -1 limit, first-occurrence distinct, whole-text fallback under n
    * tokens) but ~3× faster: shingling is per-row string CPU, and the
    * interpreted higher-order-function path pays lambda dispatch per
    * token. Requires a numeric/long-castable id. */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(java.lang.Long, String)]
      .flatMap { case (id, text) =>
        // null id: no dedup identity — drop. null text: no shingles —
        // the doc simply never matches (documented operator contract).
        if (id == null) None
        else if (text == null) Some((id.longValue, Array.empty[String]))
        else Some((id.longValue, shinglesOf(text, n)))
      }.toDF(idCol, "ss")
  }

  /** Distinct word-n-gram shingles of one document — the single shared
    * definition behind [[shingleSets]] and the per-row signature
    * kernels, so every consumer hashes identical strings. */
  private def shinglesOf(text: String, n: Int): Array[String] = {
    val toks = text.split(" ", -1)
    if (toks.length >= n) {
      val out = new Array[String](toks.length - n + 1)
      var i = 0
      while (i <= toks.length - n) {
        val sb = new java.lang.StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        out(i) = sb.toString
        i += 1
      }
      out.distinct
    } else Array(text)
  }

  /** One row per (id, distinct word-n-gram shingle). The explode is the
    * only data expansion: ~tokens-per-doc rows per doc. */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    shingleSets(docs, idCol, textCol, n)
      .select(col(idCol), explode(col("ss")).as("shingle"))

  /** MinHash permutation modulus: 2^31 − 1 (Mersenne prime). */
  val MinhashP = 2147483647L

  /** k permutation min-aggs over exploded (id, shingle) rows, one wide
    * `_h0.._h{k-1}` LONG column per permutation — ONE hash-aggregate
    * pass. Each shingle is md5'd ONCE (the dominant per-row cost);
    * permutation j is the affine map `(h·(2j+1) + j) mod (2^31−1)` over
    * the shared 60-bit digest — the classic one-hash + k-universal-maps
    * MinHash, 16× cheaper than salting md5 per permutation and equally
    * engine-reproducible (`('0x'||substr(md5(s),1,15))::UBIGINT %
    * 2147483647` in DuckDB, then the same affine arithmetic).
    * Permutation quality only moves candidate RECALL; precision is
    * immune — every emitted pair is verified against exact Jaccard.
    * Shared by [[minhashSignature]] and [[minhashDupPairs]]. */
  private def signatureWide(rows: DataFrame, idCol: String,
      k: Int): DataFrame = {
    val h = pmod(conv(substring(md5(col("shingle")), 1, 15), 16, 10)
      .cast("long"), lit(MinhashP))
    val mins = (0 until k).map(j =>
      min((h * (2 * j + 1) + j) % MinhashP).as(s"_h$j"))
    rows.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  private def signatureFromRows(rows: DataFrame, idCol: String,
      k: Int): DataFrame =
    signatureWide(rows, idCol, k)
      .select(col(idCol),
        array((0 until k).map(j => col(s"_h$j")): _*).as("sig"))

  /** Exact Jaccard from precomputed (id, ss) shingle-set relations for
    * given (id_a, id_b) pairs. Shared by [[jaccardForPairs]] and
    * [[minhashDupPairs]]. */
  private def jaccardFromSets(pairs: DataFrame, sets: DataFrame): DataFrame =
    pairs
      .join(sets.withColumnRenamed("ss", "ss_a"), col("id_a") === col("id"))
      .drop("id")
      .join(sets.withColumnRenamed("ss", "ss_b"), col("id_b") === col("id"))
      .drop("id")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("ss_a"), col("ss_b"))).cast("double") /
          size(array_union(col("ss_a"), col("ss_b"))).cast("double"))
          .as("jaccard"))

  /** k-permutation MinHash signature as `sig: array<long>`. Each
    * "permutation" is the min of an affine map over the shingle's
    * 60-bit md5 (see [[signatureWide]]) — deterministic and
    * engine-independent. */
  def minhashSignature(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, n: Int = 3): DataFrame =
    signatureFromRows(shingleRows(docs, idCol, textCol, n), idCol, k)

  /** LSH banding: split the k-signature into `bands` bands of
    * `k / bands` rows; band key = md5 of the band slice. Docs sharing
    * any (band, key) become candidate pairs. */
  def bandKeys(sig: DataFrame, idCol: String, k: Int = 16,
      bands: Int = 4): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"k=$k must divide evenly into bands=$bands: an empty band slice " +
        "would give every doc the same key (degenerate n^2 join) and a " +
        "remainder would silently ignore signature tail elements")
    val r = k / bands
    sig.select(col(idCol), posexplode(
        array((0 until bands).map(b =>
          md5(concat_ws(",", transform(slice(col("sig"), b * r + 1, r),
            x => x.cast("string"))))): _*))
        .as(Seq("band", "band_key")))
  }

  /** Band keys straight from the wide `_h` signature agg columns —
    * value-identical to [[bandKeys]]-over-the-array (md5 of the
    * comma-joined slice) but skips building + re-slicing the signature
    * array per band. The ONE banding derivation shared by the full and
    * incremental pipelines, so they cannot silently diverge. */
  private def bandedFromSets(sets: DataFrame, idCol: String, k: Int,
      bands: Int): DataFrame = {
    val r = k / bands
    signatureWide(
        sets.select(col(idCol), explode(col("ss")).as("shingle")), idCol, k)
      .select(col(idCol), posexplode(
        array((0 until bands).map(b =>
          md5(concat_ws(",",
            (b * r until (b + 1) * r)
              .map(j => col(s"_h$j").cast("string")): _*))): _*))
        .as(Seq("band", "band_key")))
  }

  /** Distinct candidate pairs (a < b) from shared LSH buckets. The
    * self-join shuffles on (band, band_key) — bucket-local cross
    * products only. */
  def candidatePairs(bands: DataFrame, idCol: String): DataFrame =
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()

  /** Exact Jaccard over distinct shingle sets for given (id_a, id_b)
    * pairs. Collect each doc's shingle set once, join it to the (few)
    * candidate pairs, and intersect in-memory per pair. */
  def jaccardForPairs(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame =
    jaccardFromSets(pairs,
      shingleSets(docs, idCol, textCol, n).withColumnRenamed(idCol, "id"))

  /** MinHash+LSH near-dup pairs, exact-Jaccard-verified at `threshold`.
    * With k=16, bands=4 (r=4): P(candidate) ≈ 98.6% at J=0.9, ≈ 0.6% at
    * J=0.2 — high recall on true dups, tiny false-candidate load on the
    * verifier.
    *
    * The (id, shingle-set) relation feeds three DAG branches (signature,
    * banding self-join, Jaccard verify); Spark re-executes unshared
    * branches, so it is persisted for the duration of the plan —
    * shingling is ~4× the cost of everything else combined. Size is
    * O(corpus tokens); MEMORY_AND_DISK spills rather than OOMs at scale.
    * Caching contract: the persists are lazy and REMAIN in the session
    * cache after the caller's action — release with
    * `spark.catalog.clearCache()` between runs (see the note above
    * [[exactGroups]]).
    */
  def minhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, k: Int = 16, bands: Int = 4,
      n: Int = 3): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"k=$k must divide evenly into bands=$bands")
    val sets = shingleSets(docs, idCol, textCol, n).persist(Spill)
    // the banding self-join references its input twice, so persist the
    // (small, bands-rows-per-doc) band relation so the k-min-md5
    // aggregate — the pipeline's dominant cost — runs once
    val banded = bandedFromSets(sets, idCol, k, bands).persist(Spill)
    val cand = candidatePairs(banded, idCol)
    jaccardFromSets(cand, sets.withColumnRenamed(idCol, "id"))
      .filter(round(col("jaccard"), 6) >= threshold)
  }

  /** INCREMENTAL MinHash+LSH dedup: near-dup pairs TOUCHING a new
    * batch — (batch × existing) ∪ (batch × batch) — without ever
    * comparing existing × existing. This is the daily-ingest shape: the
    * corpus is already deduplicated; only pairs involving new documents
    * matter, so candidate generation joins the batch's band keys
    * against each side instead of self-joining the whole corpus.
    *
    * Result contract (what the oracle proves): identical to
    * `minhashDupPairs(batch ∪ existing, …)` filtered to pairs with at
    * least one batch id. At 100 TB the existing side's band relation is
    * computed once and STORED (a signature table maintained by the
    * ingest job) — that form is [[minhashBandRelation]] (the stored
    * relation) + [[minhashDupPairsFromLedger]] (the probe), which
    * [[graft.streaming.Streaming.clusterLedgerIngest]] maintains; each
    * batch then pays O(batch) hashing plus a batch-sized
    * (broadcastable) join against it — per-batch cost independent of
    * corpus size. This convenience form re-derives the existing side's
    * bands from text (both sides ad hoc — right when no ledger is
    * maintained). Ids must be disjoint across the two inputs. Caching
    * contract as [[minhashDupPairs]]: lazy persists, caller releases
    * via `clearCache`.
    */
  def minhashDupPairsIncremental(batch: DataFrame, existing: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5,
      k: Int = 16, bands: Int = 4, n: Int = 3): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"k=$k must divide evenly into bands=$bands")
    // shingle each side ONCE; bands and the Jaccard verify both read
    // from these persisted relations
    val setsB = shingleSets(batch, idCol, textCol, n).persist(Spill)
    val setsE = shingleSets(existing, idCol, textCol, n).persist(Spill)
    val bb = bandedFromSets(setsB, idCol, k, bands).persist(Spill)
    val be = bandedFromSets(setsE, idCol, k, bands)
    // batch × existing: either id order is possible — normalize; the
    // self-pair guard makes an accidentally re-ingested id (violating
    // the documented disjointness) yield nothing instead of a phantom
    // (x, x) dup at jaccard 1.0
    val newOld = bb.as("a").join(be.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("id_a"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("id_b"))
    val cand = newOld.union(candidatePairs(bb, idCol)).distinct()
    jaccardFromSets(cand,
        setsB.unionByName(setsE).withColumnRenamed(idCol, "id"))
      .filter(round(col("jaccard"), 6) >= threshold)
  }

  /** The (id, band, band_key) LSH band relation for `docs` — exactly
    * what [[minhashDupPairs]] derives internally, exposed so an ingest
    * job can STORE it per tick: this is the "signature table maintained
    * by the ingest job" the [[minhashDupPairsIncremental]] contract
    * describes, and the per-tick product
    * [[graft.streaming.Streaming.clusterLedgerIngest]] now maintains.
    * One shingle pass + one k-min hash aggregate per call — batch-sized
    * when called on a batch; never call it on accumulated history
    * (read the stored relation instead: that is the point). */
  def minhashBandRelation(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, n: Int = 3): DataFrame = {
    require(bands > 0 && k % bands == 0,
      s"k=$k must divide evenly into bands=$bands")
    bandedFromSets(shingleSets(docs, idCol, textCol, n), idCol, k, bands)
  }

  /** Ledger-probing incremental MinHash dedup — the stored-signature
    * form of [[minhashDupPairsIncremental]]: near-dup pairs touching
    * `batch`, with the existing side's band relation read from
    * `ledger` (a maintained [[minhashBandRelation]] store) instead of
    * re-shingled from text. Per-tick hashing cost is O(batch) — the
    * corpus is NEVER re-shingled: candidate generation is the batch's
    * band keys joined against the stored keys, and the exact-Jaccard
    * verify re-reads only the corpus docs that appear in some
    * candidate pair (a semi-join BEFORE shingling, so the text scan
    * materializes candidate-sized work; at cluster scale the
    * broadcastable candidate-id side becomes a runtime scan filter).
    *
    * Result contract: identical to `minhashDupPairsIncremental(batch,
    * corpus, …)` with the same (k, bands, n) — the ledger IS that
    * call's `bandedFromSets(existing)` relation, stored — so both
    * share the one batch-union oracle. `ledger` must cover exactly the
    * docs in `corpus` (ids disjoint from the batch); pass prior-tick
    * subdirs of the ingest job's band store. Caching contract as
    * [[minhashDupPairs]]: lazy persists, caller releases via
    * `clearCache`. */
  def minhashDupPairsFromLedger(batch: DataFrame, ledger: DataFrame,
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, k: Int = 16, bands: Int = 4,
      n: Int = 3): DataFrame =
    minhashLedgerImpl(batch, ledger, corpus, idCol, textCol, threshold,
      k, bands, n)._1

  /** [[minhashDupPairsFromLedger]] plus the probe's CANDIDATE count
    * (distinct band-collision pairs, the verify's input volume) — the
    * instrumented-tick form: [[graft.streaming.Streaming.clusterLedgerIngest]]
    * records the count on each tick's stage line so band-bucket
    * degradation (boilerplate shingles funneling into few band keys)
    * shows up as a rising per-tick candidates column in the artifact,
    * the MinHash twin of [[simhashLedgerProbeCensus]]'s census. The
    * count is an extra action over the internally persisted candidate
    * relation — candidate-sized, not corpus-sized. */
  def minhashLedgerProbeCensus(batch: DataFrame, ledger: DataFrame,
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, k: Int = 16, bands: Int = 4,
      n: Int = 3): (DataFrame, Long) = {
    val (pairs, cand) = minhashLedgerImpl(batch, ledger, corpus, idCol,
      textCol, threshold, k, bands, n)
    // the candidate census and the verified-pair materialization are
    // independent consumers of the internally persisted candidate
    // relation — overlap them (r16, guide §2.6), returning the pairs
    // PINNED (the caller previously checkpointed them itself; it now
    // just releases the pin once the fold consumed them)
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val candF = Future(blocking(cand.count()))
    val pinned = pairs.localCheckpoint(true)
    (pinned, Await.result(candF, Duration.Inf))
  }

  private def minhashLedgerImpl(batch: DataFrame, ledger: DataFrame,
      corpus: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int, bands: Int, n: Int)
      : (DataFrame, DataFrame) = {
    require(bands > 0 && k % bands == 0,
      s"k=$k must divide evenly into bands=$bands")
    val setsB = shingleSets(batch, idCol, textCol, n).persist(Spill)
    val bb = bandedFromSets(setsB, idCol, k, bands).persist(Spill)
    val le = ledger.select(col(idCol), col("band"), col("band_key"))
    val newOld = bb.as("a").join(le.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_key") === col("b.band_key") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("id_a"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("id_b"))
    // candidate pairs feed the verify's BOTH set joins and the
    // touched-id semi-join — persist (candidate-sized, tiny)
    val cand = newOld.union(candidatePairs(bb, idCol)).distinct()
      .persist(Spill)
    val candIds = cand.select(col("id_a").as(idCol))
      .union(cand.select(col("id_b").as(idCol))).distinct()
    val setsTouched = shingleSets(
      corpus.join(candIds, Seq(idCol), "left_semi"), idCol, textCol, n)
    (jaccardFromSets(cand,
        setsB.unionByName(setsTouched).withColumnRenamed(idCol, "id"))
      .filter(round(col("jaccard"), 6) >= threshold), cand)
  }

  // ── Blocked n-gram Jaccard (exact, no hashing) ─────────────────────────

  /** Asymmetric n-gram CONTAINMENT (Broder's resemblance's sibling):
    * `cont_a = |A∩B| / |A|` and `cont_b = |A∩B| / |B|` per pair — the
    * quote/subset detector. Jaccard misses a short doc wholly embedded
    * in a long one (the union dwarfs the intersection); containment of
    * the short side hits 1.0 exactly there, which is why contamination
    * and quote-mining pipelines run containment, not resemblance.
    *
    * Length blocking is INVALID for containment (the contained doc can
    * be any fraction of the container's length), so the candidate bound
    * comes from a document-frequency gate instead: shingles appearing
    * in more than `maxShingleDf` docs are dropped BEFORE the join (the
    * stopword-shingle drop every production dedup runs), and both the
    * intersection and the normalizing set sizes are computed over
    * RETAINED shingles — internally consistent and exactly mirrored by
    * the oracle. Semantics: "containment over rare shingles".
    *
    * Scale (100 TB): the inverted-index self-join fans out at most
    * `maxShingleDf²/2` pairs per shingle type — the df gate is the
    * skew ceiling (ngramDupPairs gets its bound from blocking; this op
    * buys generality with the df cap). One shuffle on shingle for the
    * census + join, one on the pair key for the count, set sizes ride
    * a doc-keyed partial agg. */
  def ngramContainment(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5,
      maxShingleDf: Long = 40): DataFrame = {
    require(threshold > 0.0, "zero-overlap pairs are never materialized")
    require(maxShingleDf >= 2, "df gate below 2 drops every shared shingle")
    val rows = shingleSets(docs, idCol, textCol, n)
      .select(col(idCol).cast("long").as("id"), explode(col("ss")).as("shingle"))
    val rare = rows.groupBy(col("shingle"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf)
      .select(col("shingle"))
    val kept = rows.join(rare, "shingle").persist(Spill)
    val sz = kept.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val inter = kept.as("a")
      .join(kept.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sz.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sz.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("inter"),
        round(col("inter").cast("double") / col("sz_a"), 6).as("cont_a"),
        round(col("inter").cast("double") / col("sz_b"), 6).as("cont_b"))
      .filter(col("cont_a") >= threshold || col("cont_b") >= threshold)
  }

  /** Exact n-gram Jaccard dedup with length blocking: the build side of
    * the self-join lands in buckets floor(len/w) and floor(len/w)+1,
    * the probe side only in its own, so any pair within `w` chars of
    * each other meets in EXACTLY ONE bucket (the meet-once banding of
    * `Fuzzy.editDistancePairs`: a same-bucket pair meets in one
    * orientation by id order, a cross-bucket pair meets with the probe
    * on the higher bucket); pairs farther apart are assumed non-dups.
    *
    * Computed as an inverted-index equi-join on (block, shingle) —
    * |A ∩ B| falls out of the join + count, |A ∪ B| from the
    * precomputed set sizes — NOT per-pair array intersections, which
    * would do O(|set|) work per blocked pair and die at scale. Meeting
    * once means a plain `count(*)` gives the intersection (the previous
    * both-sides-exploded form needed a two-phase `count(DISTINCT)` to
    * undo double counting — an Expand over the whole pair relation).
    * Pairs sharing zero shingles never materialize (their Jaccard is
    * 0 < threshold by contract). At 100 TB (block, shingle) is the
    * shuffle key; hot shingles bound the skew, so shingle width n sets
    * the worst-case fan-in. Caching contract: the persisted
    * inverted-index relation stays in the session cache after the
    * caller's action — `clearCache()` between runs. */
  def ngramDupPairs(docs: DataFrame, idCol: String, textCol: String,
      lenCol: String, threshold: Double = 0.5, blockWidth: Int = 50,
      n: Int = 3): DataFrame = {
    require(threshold > 0.0, "zero-overlap pairs are never materialized")
    val rows = shingleSets(docs, idCol, textCol, n)
      .withColumnRenamed(idCol, "id")
      .join(docs.select(col(idCol).cast("long").as("id"),
        (col(lenCol) / blockWidth).cast("long").as("blk")), "id")
      .select(col("id"), size(col("ss")).as("sz"), col("blk"),
        explode(col("ss")).as("shingle"))
      // referenced on both sides of the self-join below; persist so the
      // (lambda-interpreted, relatively costly) shingling runs once
      .persist(Spill)
    val probe = rows.select(col("id").as("id_p"), col("sz").as("sz_p"),
      col("blk").as("block"), col("shingle"))
    val build = rows.select(col("id").as("id_b"), col("sz").as("sz_b"),
      col("blk").as("_b_orig"), col("shingle"))
      .withColumn("block", explode(array(col("_b_orig"), col("_b_orig") + 1)))
    val pFirst = col("id_p") < col("id_b")
    probe.join(build, Seq("block", "shingle"))
      .filter((col("_b_orig") === col("block") && pFirst) ||
        col("_b_orig") < col("block"))
      .groupBy(least(col("id_p"), col("id_b")).as("_ga"),
        greatest(col("id_p"), col("id_b")).as("_gb"))
      // every shared shingle of a pair meets exactly once → plain count
      .agg(count(lit(1)).as("inter"),
        first(when(pFirst, col("sz_p")).otherwise(col("sz_b"))).as("sz_a"),
        first(when(pFirst, col("sz_b")).otherwise(col("sz_p"))).as("sz_b"))
      .select(col("_ga").as("id_a"), col("_gb").as("id_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
          .as("jaccard"))
      .filter(round(col("jaccard"), 6) >= threshold)
  }

  // ── SimHash ────────────────────────────────────────────────────────────

  /** 60-bit SimHash over the distinct shingle set: per shingle take the
    * top-60-bit md5 value, per bit position sum ±1, keep the sign bits.
    * 60 bits (15 hex chars) so the value is portable in a signed int64.
    *
    * One typed pass, per ROW: a document's signature depends only on
    * its own text, so there is no exploded-shingle aggregate and no
    * corpus-wide shuffle. Every dedup entry point uses this form; the
    * `q_dedup_simhash` oracle (Oracles3) replays it in DuckDB. Docs
    * with a null id or a null/zero-shingle text are absent. */
  def simhashSignaturesLocal(docs: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(java.lang.Long, String)]
      .flatMap { case (id, text) =>
        if (id == null || text == null) None
        else {
          val shingles = shinglesOf(text, n)
          if (shingles.isEmpty) None
          else {
            val votes = new Array[Int](60)
            shingles.foreach { s =>
              val h = Sampling.md5Top60Local(s)
              var p = 0
              while (p < 60) {
                votes(p) += (((h >>> p) & 1L).toInt * 2 - 1); p += 1
              }
            }
            var sig = 0L
            var p = 0
            while (p < 60) { if (votes(p) > 0) sig |= 1L << p; p += 1 }
            Some((id.longValue, sig))
          }
        }
      }.toDF(idCol, "simhash")
  }

  /** Hamming distance between two SimHash values — pair filter for
    * near-dup candidates (e.g. ≤ 3 of 60 bits). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** Fingerprint-table GEOMETRY of the chunk pair-finders — the knob
    * Manku, Jain & Das Sarma (WWW 2007, "Detecting Near-Duplicates for
    * Web Crawling") tune when scaling SimHash dedup: split the
    * signature into `chunks` keys of `chunkBits` bits each. The
    * pigeonhole guarantee is exact for any geometry with
    * `maxHamming < chunks` (at most `maxHamming` chunks can contain a
    * differing bit, so some chunk agrees on every true near-dup pair),
    * and the candidate volume is what the geometry trades: the join
    * key is (chunk INDEX, chunk value), so only same-position chunks
    * collide and expected batch×ledger candidates scale as
    * `chunks · |batch|·|ledger| / 2^chunkBits` (the exact analytic the
    * scale probe's occupancy guard uses) — FEWER, WIDER chunks cut the
    * constant by (8/2^8)/(4/2^16) = 2·2^8 ≈ 512× for 4×16 vs 8×8
    * (measured ~250-290× on the probe corpora, where planted dups pad
    * both), at the price of a lower admissible `maxHamming` (< 4
    * instead of < 8). That is the published mitigation for the one
    * honest asymptotic caveat on the signature ledger: at fixed batch
    * size the candidate count still grows LINEARLY with stored
    * history, and the geometry sets the constant (measured in
    * SCALING.md's fixed-batch probe, candidates column).
    *
    * Constraints: `chunkBits` ≤ 32 and `chunks·chunkBits` ≤ 64 (the
    * top shift must stay inside the long), `chunks·chunkBits` ≥
    * `sigBits` so every signature bit lands in some chunk (not needed
    * for recall — the pigeonhole holds regardless — but an uncovered
    * bit is thrown-away signal and inflates candidates for free). */
  private def requireGeometry(maxHamming: Int, chunks: Int,
      chunkBits: Int, sigBits: Int): Unit = {
    require(chunks >= 1 && chunkBits >= 1 && chunkBits <= 32,
      s"chunk geometry needs 1<=chunkBits<=32, got ${chunks}x$chunkBits")
    require(chunks * chunkBits <= 64,
      s"chunk geometry ${chunks}x$chunkBits exceeds the 64-bit signature")
    require(chunks * chunkBits >= sigBits,
      s"chunk geometry ${chunks}x$chunkBits does not cover the " +
        s"$sigBits-bit signature")
    require(maxHamming < chunks,
      s"pigeonhole needs maxHamming < chunks ($maxHamming !< $chunks)")
  }

  /** Signature → one row per (chunk index, chunk key) under the given
    * geometry — the join key relation of every chunk pair-finder. */
  private[graft] def sigChunks(sig: DataFrame, idCol: String,
      sigCol: String, chunks: Int, chunkBits: Int): DataFrame = {
    val mask = (1L << chunkBits) - 1
    sig.select(col(idCol), col(sigCol),
      posexplode(array((0 until chunks).map(c =>
        expr(s"shiftright($sigCol, ${c * chunkBits}) & $mask")): _*))
        .as(Seq("chunk", "ckey")))
  }

  /** SimHash near-dup pairs at `maxHamming` via the pigeonhole chunk
    * join: split the 60-bit signature into `chunks` keys of `chunkBits`
    * bits ([[requireGeometry]] — default 8×8-bit) — any pair within
    * Hamming < chunks must agree on at least one whole chunk — then
    * equi-join on (chunk index, chunk value) and verify exact Hamming.
    * No all-pairs scan: the shuffle key is the chunk, bucket sizes are
    * corpus/2^chunkBits per position. The PAIR SET is geometry-
    * invariant (the pigeonhole is exact), so the q_dedup_simhash_pairs
    * oracle gates every admissible geometry. Caching contract: the
    * persisted signature relation stays in the session cache after the
    * caller's action — `clearCache()` between runs. */
  def simhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 7, n: Int = 3, chunks: Int = 8,
      chunkBits: Int = 8): DataFrame = {
    requireGeometry(maxHamming, chunks, chunkBits, sigBits = 60)
    val sig = simhashSignaturesLocal(docs, idCol, textCol, n).persist(Spill)
    val chunked = sigChunks(sig, idCol, "simhash", chunks, chunkBits)
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        hammingDistance(col("a.simhash"), col("b.simhash")).as("hamming"))
      // verify BEFORE the dedup shuffle: hamming is a function of the
      // pair, so filter-then-distinct equals distinct-then-filter, and
      // the distinct exchange now carries only true near-dups instead
      // of every chunk-collision candidate (the dominant row count as
      // bucket occupancy grows with the corpus)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SIGNATURE-LEDGER arm of [[simhashDupPairs]]: find every near-dup
    * pair TOUCHING `batch` (batch-internal ∪ batch×ledger) by probing a
    * STORED `(id, simhash)` relation — the corpus text is never re-read
    * at all, because unlike MinHash the SimHash signature is by itself
    * the verify statistic (exact Hamming needs only the two 60-bit
    * values). Per-tick cost is the batch's own shingling plus a chunk
    * equi-join against ledger-resident 16-byte rows: the at-ingest
    * sufficient statistic an accreting 100 TB dedup pipeline maintains
    * (the SimHash twin of [[minhashDupPairsFromLedger]], one column
    * instead of k-min signatures + bands).
    *
    * `ledgerSig` rows are prior ticks' [[simhashSignaturesLocal]]
    * output; batch/ledger id spaces must be disjoint
    * ([[assertDisjointIds]] on the signature relations). Output shape
    * and semantics match [[simhashDupPairs]] over the union corpus,
    * restricted to batch-touching pairs — exactly the
    * [[dupClustersIncremental]] caller contract. */
  def simhashDupPairsFromLedger(batch: DataFrame, ledgerSig: DataFrame,
      idCol: String, textCol: String, maxHamming: Int = 7, n: Int = 3,
      chunks: Int = 8, chunkBits: Int = 8): DataFrame =
    simhashDupPairsFromSigLedger(
      simhashSignaturesLocal(batch, idCol, textCol, n).persist(Spill),
      ledgerSig, idCol, maxHamming, chunks, chunkBits)

  /** [[simhashDupPairsFromLedger]] when the batch's OWN signature
    * relation is already at hand (an ingest tick computes and stores it
    * anyway — recomputing would double the tick's dominant shingling
    * cost): both sides are pure `(id, simhash)` relations, no text is
    * touched at all. */
  def simhashDupPairsFromSigLedger(batchSig: DataFrame,
      ledgerSig: DataFrame, idCol: String, maxHamming: Int = 7,
      chunks: Int = 8, chunkBits: Int = 8): DataFrame = {
    requireGeometry(maxHamming, chunks, chunkBits, sigBits = 60)
    simhashLedgerScored(batchSig, ledgerSig, idCol, chunks, chunkBits)
      // verify before the dedup shuffle — the [[simhashDupPairs]] plan
      // note; candidates here grow with LEDGER bucket occupancy, so
      // shedding them pre-exchange is what keeps the per-tick probe
      // cheap as stored history accumulates
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The PRE-VERIFY candidate relation behind
    * [[simhashDupPairsFromSigLedger]]: every chunk-collision row
    * (batch-internal ∪ batch×ledger) with its exact Hamming, before the
    * `maxHamming` filter and the pair-dedup exchange — one row PER
    * COLLIDING CHUNK, so its cardinality is exactly the work the probe
    * join shuffles. Factored out so the scale probe can COUNT
    * candidates under a given geometry instead of inferring them from
    * wall time. */
  private def simhashLedgerScored(batchSig: DataFrame,
      ledgerSig: DataFrame, idCol: String, chunks: Int,
      chunkBits: Int): DataFrame = {
    val sig = batchSig
    assertDisjointIds(sig, ledgerSig, idCol)
    val cb = sigChunks(sig, idCol, "simhash", chunks, chunkBits)
    // batch-internal pairs: the plain pigeonhole over the batch side
    val internal = cb.as("a").join(cb.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        hammingDistance(col("a.simhash"), col("b.simhash")).as("hamming"))
    // cross pairs: batch chunks probe the stored ledger chunks; ids are
    // disjoint so least/greatest restores the canonical orientation
    val cross = cb.as("a").join(
        sigChunks(ledgerSig, idCol, "simhash", chunks, chunkBits).as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey"))
      .select(
        least(col(s"a.$idCol"), col(s"b.$idCol")).as("id_a"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("id_b"),
        hammingDistance(col("a.simhash"), col("b.simhash")).as("hamming"))
    internal.unionByName(cross)
  }

  /** Candidate-vs-pair census of one signature-ledger probe under a
    * given geometry — the growth guard the fixed-batch scale probe
    * records: `candidates` is the pre-verify chunk-collision row count
    * (the shuffled work), `pairs` the verified near-dup pair count
    * (the useful output). A corpus whose bucket occupancy degrades —
    * boilerplate-heavy signatures piling into few chunk keys — shows
    * up as a rising candidates:pairs ratio in the SCALING.md artifact
    * instead of as a silent slowdown. */
  def simhashLedgerCandidateStats(batchSig: DataFrame,
      ledgerSig: DataFrame, idCol: String, maxHamming: Int = 7,
      chunks: Int = 8, chunkBits: Int = 8): (Long, Long) = {
    requireGeometry(maxHamming, chunks, chunkBits, sigBits = 60)
    val scored = simhashLedgerScored(batchSig, ledgerSig, idCol,
      chunks, chunkBits).persist(Spill)
    try {
      val candidates = scored.count()
      val pairs =
        scored.filter(col("hamming") <= maxHamming).distinct().count()
      (candidates, pairs)
    } finally { scored.unpersist(); () }
  }

  /** The FULL Manku-Jain-Das Sarma table construction (WWW 2007 §3) —
    * [[simhashDupPairs]]' `(chunks, chunkBits)` geometry is its
    * `keyBlocks = 1` special case: split the signature into `blocks`
    * fields of `blockBits` bits, and use every `keyBlocks`-subset of
    * fields, CONCATENATED, as one TABLE's exact-match key. A pair
    * within Hamming ≤ `maxHamming` has differing bits in at most
    * `maxHamming` fields, so any subset drawn from the other
    * `blocks − maxHamming` clean fields matches verbatim — recall is
    * exact iff `keyBlocks ≤ blocks − maxHamming` (the generalized
    * pigeonhole). The trade: C(blocks, keyBlocks) tables, each with a
    * `keyBlocks·blockBits`-bit key, so per-table bucket occupancy
    * falls by 2^((keyBlocks−1)·blockBits) relative to single-field
    * keys — the construction Manku et al. size at 64-bit fingerprints
    * / k = 3 / 20 tables for web-scale dedup. The default here
    * (6 fields × 10 bits, 3-field keys → C(6,3) = 20 tables of
    * 30-bit keys) is that paper's shape scaled to the 60-bit
    * signature.
    *
    * Same output contract as [[simhashDupPairs]] at the same
    * `maxHamming` — the pair SET is construction-invariant (exact
    * recall + exact Hamming verify), so the parameterized simhash
    * oracle gates it; only the candidate volume moves (measured next
    * to the single-field geometries in SCALING.md). */
  def simhashDupPairsMultiTable(docs: DataFrame, idCol: String,
      textCol: String, maxHamming: Int = 3, n: Int = 3,
      blocks: Int = 6, blockBits: Int = 10, keyBlocks: Int = 3)
      : DataFrame = {
    val sig = simhashSignaturesLocal(docs, idCol, textCol, n).persist(Spill)
    val keyed = multiTableKeys(sig, idCol, blocks, blockBits, keyBlocks,
      maxHamming)
    keyed.as("a").join(keyed.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.tkey") === col("b.tkey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        hammingDistance(col("a.simhash"), col("b.simhash")).as("hamming"))
      // verify before the pair-dedup exchange (the family's plan note)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Signature → one row per (table id, concatenated key) under the
    * multi-table construction; validates the generalized pigeonhole
    * geometry. */
  private def multiTableKeys(sig: DataFrame, idCol: String,
      blocks: Int, blockBits: Int, keyBlocks: Int, maxHamming: Int)
      : DataFrame = {
    require(blocks >= 1 && blockBits >= 1 && blockBits <= 32,
      s"multi-table geometry needs 1<=blockBits<=32, got ${blocks}x$blockBits")
    require(blocks * blockBits <= 64,
      s"multi-table geometry ${blocks}x$blockBits exceeds the 64-bit signature")
    require(blocks * blockBits >= 60,
      s"multi-table geometry ${blocks}x$blockBits does not cover the " +
        "60-bit signature")
    require(keyBlocks >= 1 && keyBlocks <= blocks,
      s"keyBlocks must be in [1, blocks], got $keyBlocks of $blocks")
    require(maxHamming <= blocks - keyBlocks,
      s"generalized pigeonhole needs maxHamming <= blocks - keyBlocks " +
        s"($maxHamming !<= $blocks - $keyBlocks)")
    require(keyBlocks * blockBits <= 62,
      "concatenated key must fit a long")
    val combos = (0 until blocks).combinations(keyBlocks).toSeq
    require(combos.size <= 256,
      s"C($blocks, $keyBlocks) = ${combos.size} tables — cap the fan-out")
    val mask = (1L << blockBits) - 1
    val keyExprs = combos.map { combo =>
      combo.map(b => s"(shiftright(simhash, ${b * blockBits}) & $mask)")
        .reduceLeft((acc, v) => s"(($acc << $blockBits) | $v)")
    }
    sig.select(col(idCol), col("simhash"),
      posexplode(array(keyExprs.map(expr): _*)).as(Seq("tbl", "tkey")))
  }

  /** [[simhashDupPairsFromSigLedger]] probed through the MULTI-TABLE
    * keys instead of single-field chunks — the same stored `(id,
    * simhash)` relation (keys derive from the signature at probe time,
    * so the ledger needs NO new state), the same batch-touching pair
    * output, but per-table bucket occupancy 2^((keyBlocks−1)·blockBits)
    * sparser: the probe shape a corpus large enough to feel the
    * chunk-collision term switches to (SCALING.md's measured table —
    * candidates collapse to pairs × tables). Spec-pinned equal to the
    * chunk-geometry probe at the same `maxHamming`. */
  def simhashDupPairsFromSigLedgerTables(batchSig: DataFrame,
      ledgerSig: DataFrame, idCol: String, maxHamming: Int = 3,
      blocks: Int = 6, blockBits: Int = 10, keyBlocks: Int = 3)
      : DataFrame = {
    assertDisjointIds(batchSig, ledgerSig, idCol)
    tableLedgerScored(batchSig, ledgerSig, idCol, blocks, blockBits,
        keyBlocks, maxHamming)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Pre-verify candidate relation of the multi-table ledger probe —
    * the [[simhashLedgerScored]] twin for table keys: one row per
    * colliding (table, key), exact Hamming attached, before the
    * `maxHamming` filter and the pair-dedup exchange. */
  private def tableLedgerScored(batchSig: DataFrame, ledgerSig: DataFrame,
      idCol: String, blocks: Int, blockBits: Int, keyBlocks: Int,
      maxHamming: Int): DataFrame = {
    val kb = multiTableKeys(batchSig, idCol, blocks, blockBits,
      keyBlocks, maxHamming)
    val kl = multiTableKeys(ledgerSig, idCol, blocks, blockBits,
      keyBlocks, maxHamming)
    val internal = kb.as("a").join(kb.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.tkey") === col("b.tkey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        hammingDistance(col("a.simhash"), col("b.simhash")).as("hamming"))
    val cross = kb.as("a").join(kl.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.tkey") === col("b.tkey"))
      .select(
        least(col(s"a.$idCol"), col(s"b.$idCol")).as("id_a"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("id_b"),
        hammingDistance(col("a.simhash"), col("b.simhash")).as("hamming"))
    internal.unionByName(cross)
  }

  /** Candidate-vs-pair census of [[simhashDupPairsMultiTable]] over a
    * whole relation — the multi-table analogue of
    * [[simhashLedgerCandidateStats]], for the geometry probe. */
  def simhashMultiTableCandidateStats(sig: DataFrame, idCol: String,
      maxHamming: Int = 3, blocks: Int = 6, blockBits: Int = 10,
      keyBlocks: Int = 3): (Long, Long) = {
    val keyed = multiTableKeys(sig, idCol, blocks, blockBits, keyBlocks,
      maxHamming)
    val scored = keyed.as("a").join(keyed.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.tkey") === col("b.tkey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        hammingDistance(col("a.simhash"), col("b.simhash")).as("hamming"))
      .persist(Spill)
    try {
      val candidates = scored.count()
      val pairs =
        scored.filter(col("hamming") <= maxHamming).distinct().count()
      (candidates, pairs)
    } finally { scored.unpersist(); () }
  }

  /** Probe GEOMETRY selector for the signature-ledger pair finders —
    * the deployment knob the streaming ingests take: the same stored
    * `(id, simhash)` ledger can be probed through single-field chunk
    * keys ([[simhashDupPairsFromSigLedger]]) or the Manku multi-table
    * keys ([[simhashDupPairsFromSigLedgerTables]]); the verified PAIR
    * SET is geometry-invariant (both pigeonholes are exact), only the
    * candidate volume moves. `keyRows · 1/2^keyBits` is the geometry's
    * candidate constant — the uniform-occupancy analytic the
    * [[requireLedgerOccupancy]] guard scales from. */
  sealed trait SigProbeGeometry {
    /** key rows each signature explodes into (chunks, or table count) */
    def keyRows: Int
    /** effective bits per join key */
    def keyBits: Int
    def label: String
    /** The geometry actually probed for a tick of this shape — identity
      * for the concrete geometries; [[AutoGeometry]] applies the
      * measured cost model. */
    def resolve(nBatch: Long, nLedger: Long): SigProbeGeometry = this
  }
  /** Single-field chunk keys — [[requireGeometry]]'s constraints apply
    * at probe time (`maxHamming < chunks`). */
  final case class ChunkGeometry(chunks: Int = 8, chunkBits: Int = 8)
      extends SigProbeGeometry {
    def keyRows: Int = chunks
    def keyBits: Int = chunkBits
    def label: String = s"chunks_${chunks}x$chunkBits"
  }
  /** Manku multi-table keys (WWW 2007 §3) — generalized pigeonhole
    * `maxHamming ≤ blocks − keyBlocks` applies at probe time. The
    * streaming default that admits the ingests' Hamming ≤ 7 contract
    * is 9 fields × 7 bits with 2-field keys: C(9,2) = 36 tables of
    * 14-bit keys, candidate constant 36/2^14 ≈ 0.0022 vs the 8×8
    * chunk default's 8/2^8 ≈ 0.031 (~14× fewer random collisions at
    * the same exact recall). */
  final case class TableGeometry(blocks: Int = 6, blockBits: Int = 10,
      keyBlocks: Int = 3) extends SigProbeGeometry {
    def keyRows: Int = (0 until blocks).combinations(keyBlocks).size
    def keyBits: Int = keyBlocks * blockBits
    def label: String = s"tables_${blocks}x${blockBits}x$keyBlocks"
  }
  /** The measured geometry rule AS POLICY (r14 SCALING.md recorded it
    * as a deployment rule in prose; this applies it per tick): probe
    * through chunk keys while the key-explode term dominates, switch
    * to the wider table keys once the collision term outgrows it.
    *
    * Cost model, fit to the r14 funnel measurements (2.5k docs/tick:
    * chunks 0.73 s / tables 2.02 s; 25k docs/tick: chunks 6.5 s /
    * tables 1.85 s, SCALING.md "STREAMING probe geometry" table):
    * `cost(g) = keyRowCost · keyRows·(nb + nl) + analytic(g)` where
    * `analytic = keyRows·(nb·nl + nb²/2)/2^keyBits` is the
    * uniform-occupancy candidate estimate — a shuffled/sorted key row
    * costs ~8× a codegen'd candidate-verify row (α ≈ 13 µs vs
    * γ ≈ 1.4 µs back-solved from the four measured walls). With the
    * streaming defaults the model picks chunks at 2.5k docs/tick and
    * tables at 25k (crossover ≈ 10k with batch ≈ ledger), matching
    * the measured crossover from both sides. The resolved pick rides
    * the stats label (`auto->…`) onto the tick's stage line.
    *
    * Default table arm is the Hamming ≤ 7 streaming construction
    * (9 blocks × 7 bits, 2-block keys: C(9,2) = 36 tables, 14-bit
    * keys) — both arms admit the ingests' h ≤ 7 contract, so the
    * verified pair set is identical whichever arm a tick picks (the
    * oracle-gated geometry-invariance claim). */
  final case class AutoGeometry(chunk: ChunkGeometry = ChunkGeometry(),
      table: TableGeometry = TableGeometry(blocks = 9, blockBits = 7,
        keyBlocks = 2),
      keyRowCost: Double = 8.0) extends SigProbeGeometry {
    def keyRows: Int = chunk.keyRows
    def keyBits: Int = chunk.keyBits
    def label: String = s"auto(${chunk.label}|${table.label})"
    override def resolve(nBatch: Long, nLedger: Long): SigProbeGeometry = {
      def cost(g: SigProbeGeometry): Double =
        keyRowCost * g.keyRows.toDouble * (nBatch + nLedger) +
          g.keyRows.toDouble *
            (nBatch.toDouble * nLedger + nBatch.toDouble * nBatch / 2) /
            math.pow(2.0, g.keyBits)
      if (cost(table) < cost(chunk)) table else chunk
    }
  }

  /** One ledger probe's measured shape: pre-verify candidate rows (the
    * shuffled work), verified pairs (the useful output), the two input
    * cardinalities, and the uniform-occupancy analytic
    * `keyRows · (nBatch·nLedger + nBatch²/2) / 2^keyBits`. */
  final case class LedgerProbeStats(geometry: String, candidates: Long,
      pairs: Long, nBatch: Long, nLedger: Long, analytic: Double) {
    /** The loose occupancy bound: planted dups and skewed vocabularies
      * land 3-6× over the analytic on real corpora; 20× plus a
      * 100×-pairs allowance (true near-dups collide in every agreeing
      * key by construction) is DEGRADATION — signatures piling into
      * few keys. */
    def bound: Double = 20.0 * analytic + 100.0 * math.max(pairs, 1L)
    def degraded: Boolean = candidates > bound
  }

  /** Geometry-dispatched pre-verify candidate relation of one ledger
    * probe (batch-internal ∪ batch×ledger, exact Hamming attached). */
  private def ledgerScoredFor(batchSig: DataFrame, ledgerSig: DataFrame,
      idCol: String, maxHamming: Int, geo: SigProbeGeometry): DataFrame =
    geo match {
      case ChunkGeometry(c, b) =>
        requireGeometry(maxHamming, c, b, sigBits = 60)
        simhashLedgerScored(batchSig, ledgerSig, idCol, c, b)
      case TableGeometry(bl, bb, kb) =>
        assertDisjointIds(batchSig, ledgerSig, idCol)
        tableLedgerScored(batchSig, ledgerSig, idCol, bl, bb, kb,
          maxHamming)
      // Auto is resolved to a concrete arm by the census probe BEFORE
      // this dispatch; reaching here means a caller skipped resolve —
      // fall back to resolving on the spot (one extra count per side)
      case a: AutoGeometry =>
        ledgerScoredFor(batchSig, ledgerSig, idCol, maxHamming,
          a.resolve(batchSig.count(), ledgerSig.count()))
    }

  /** The PRODUCTION-INGEST ledger probe: find the batch-touching
    * near-dup pairs AND census the probe's candidate volume in one
    * materialization — the scored relation persists once, the
    * candidate count and the verified pairs both read its blocks, and
    * the pairs come back PINNED (eager localCheckpoint; the caller
    * releases via [[Pinned.release]] once the fold consumed them).
    * This is what the instrumented streaming ticks run so every tick's
    * stage line carries its candidate count and the occupancy guard
    * ([[requireLedgerOccupancy]]) fires AT INGEST — a degraded corpus
    * must fail the tick loudly, not surface as a mystery slowdown with
    * no artifact to land in. An empty `ledgerSig` (first tick) censuses
    * the batch-internal probe alone. */
  def simhashLedgerProbeCensus(batchSig: DataFrame, ledgerSig: DataFrame,
      idCol: String, maxHamming: Int = 7,
      geo: SigProbeGeometry = ChunkGeometry())
      : (DataFrame, LedgerProbeStats) = {
    // sizes first: the analytic needs them anyway, and AutoGeometry's
    // per-tick arm pick is a function of exactly these two numbers
    // (batch is tick-sized and pinned by the ingests; the ledger count
    // is a stored-parquet count). The resolved arm is recorded in the
    // stats label (`auto-><arm>`) so every tick's stage line carries
    // its decision.
    // overlap the independent size probes and, below, the candidate
    // census with the pair materialization (r16, guide §2.6 — the
    // probe's per-tick wall was a chain of small sequential jobs;
    // concurrent consumers of the lazily persisted `scored` compute
    // it once under the block manager's per-partition locks)
    import scala.concurrent.{Await, Future, blocking}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val nlF = Future(blocking(ledgerSig.count()))
    val nb = batchSig.count()
    val nl = Await.result(nlF, Duration.Inf)
    val resolved = geo.resolve(nb, nl)
    val lbl =
      if (resolved eq geo) geo.label else s"auto->${resolved.label}"
    val scored = ledgerScoredFor(batchSig, ledgerSig, idCol, maxHamming,
      resolved).persist(Spill)
    try {
      // ONE census job yields BOTH stats (r17, the r16 verdict's
      // probe-action cut): candidates = scored rows, pairs = distinct
      // full rows under the verify filter — count_distinct over the
      // row struct is exactly the filter().distinct().count() the
      // stats used to pay a third job for. The pin and the census
      // still overlap (§2.6) and compute `scored` once under the
      // block manager's per-partition locks.
      val pairsF = Future(blocking(
        scored.filter(col("hamming") <= maxHamming).distinct()
          .localCheckpoint(true)))
      val censusRow = scored.agg(
        count(lit(1)).as("cand"),
        count_distinct(when(col("hamming") <= maxHamming,
          struct(scored.columns.map(col): _*))).as("pairs")).head()
      val (candidates, nPairs) = (censusRow.getLong(0), censusRow.getLong(1))
      val pairs = Await.result(pairsF, Duration.Inf)
      val analytic = resolved.keyRows.toDouble *
        (nb.toDouble * nl + nb.toDouble * nb / 2) /
        math.pow(2.0, resolved.keyBits)
      (pairs,
        LedgerProbeStats(lbl, candidates, nPairs, nb, nl, analytic))
    } finally { scored.unpersist(); () }
  }

  /** The loose occupancy guard, production form (the scale probe
    * RECORDS the same bound as a flagged artifact field; an ingest
    * tick fails it loudly): candidate mass beyond 20× the
    * uniform-occupancy analytic plus 100× the true pairs means bucket
    * occupancy has collapsed — boilerplate-skewed signatures piling
    * into few keys — and every later tick would quietly pay it. */
  def requireLedgerOccupancy(stats: LedgerProbeStats,
      context: String): Unit =
    require(!stats.degraded,
      s"$context: signature-ledger candidate blow-up under " +
        s"${stats.geometry}: ${stats.candidates} candidates for " +
        s"${stats.pairs} pairs over batch=${stats.nBatch} x " +
        s"ledger=${stats.nLedger} " +
        f"(uniform-occupancy analytic ${stats.analytic}%.1f, bound " +
        f"${stats.bound}%.1f) — bucket occupancy has collapsed " +
        "(boilerplate-skewed signatures); strip the boilerplate " +
        "before signing, or probe through a wider-key TableGeometry")

  /** Near-dup pairs at Hamming ≤ `maxHamming` over an arbitrary 64-bit
    * hash relation — the [[simhashDupPairs]] pigeonhole generalized to
    * any fingerprint column (SimHash, image aHash, any 64-bit LSH):
    * split the hash into `chunks` keys of `chunkBits` bits (default
    * 8×8; [[requireGeometry]] — any pair within Hamming < chunks
    * agrees on ≥ 1 whole chunk), equi-join on (chunk, value), verify
    * exact Hamming. Shuffle key is the chunk — bucket sizes are
    * corpus/2^chunkBits per position, never all-pairs. `maxHamming`
    * must stay below `chunks` for the pigeonhole guarantee. */
  def hammingDupPairs(sig: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 7, chunks: Int = 8, chunkBits: Int = 8)
      : DataFrame = {
    requireGeometry(maxHamming, chunks, chunkBits, sigBits = 64)
    val chunked = sigChunks(sig, idCol, hashCol, chunks, chunkBits)
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ckey") === col("b.ckey") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        hammingDistance(col(s"a.$hashCol"), col(s"b.$hashCol"))
          .cast("long").as("hamming"))
      // verify before the dedup shuffle (see [[simhashDupPairs]])
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ── Embedding-cosine near-dup ──────────────────────────────────────────

  /** Dot product of two equal-length double arrays via higher-order
    * functions. NB: lambda expressions are interpreted, not whole-stage
    * codegen'd — this is the no-extensions fallback form; every hot path
    * uses [[dotNative]], which is bit-identical (spec-pinned). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Codegen'd native dot product ([[graft.plans.DotProduct]]): the same
    * left-to-right double summation as [[dot]] — same value bit for bit,
    * same NULL contract (null input/element or length mismatch → NULL) —
    * without the interpreted per-element lambda dispatch (~10× on the
    * ANN/near-dup scoring loops). Sessions that never registered
    * `graft.plans.GraftExtensions` transparently fall back to the HOF
    * form (checked once per Column construction, driver-side), so the
    * public vector APIs stay usable on a plain SparkSession. */
  def dotNative(a: Column, b: Column): Column =
    if (org.apache.spark.sql.SparkSession.getActiveSession
        .exists(_.catalog.functionExists("graft_dot")))
      call_function("graft_dot", a, b)
    else dot(a, b)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  /** Plain cosine composition. Caller must exclude zero-norm vectors
    * first (as [[withNorm]] does): under ANSI mode (Spark 4 default)
    * `0/0` raises `DIVIDE_BY_ZERO` rather than returning NaN. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Id + double vector + precomputed L2 norm. The norm is materialized
    * on the join INPUT (once per row, n rows) so the n² pair loop pays
    * one dot product per pair, not dot + two fresh norms — Catalyst
    * can't hoist an aggregate out of a join condition for us.
    *
    * Zero-norm (and null) vectors are EXCLUDED here, at the shared
    * entry of every expression-level cosine: their cosine is undefined,
    * and under ANSI mode (Spark 4's default) the downstream
    * `dot / (na * nb)` would not quietly produce the NaN the old
    * `!isnan` guards assumed — `0.0 / 0.0` now RAISES
    * `DIVIDE_BY_ZERO` and kills the job (a ScalaCheck seed caught
    * exactly this). Filtering up front gives the same observable
    * contract the guards always promised — zero-norm vectors pair with
    * nothing — without the landmine. NaN-element vectors still flow
    * through (NaN norm is non-zero, division yields NaN, the `!isnan`
    * filters drop them). */
  def withNorm(embs: DataFrame, idCol: String, vecCol: String,
      idAlias: String, vecAlias: String): DataFrame =
    embs.select(col(idCol).as(idAlias),
        col(vecCol).cast("array<double>").as(vecAlias))
      // dotNative(v, v) sums x_i * x_i left to right — the identical
      // accumulation the HOF l2Norm performs, codegen'd
      .withColumn(s"${vecAlias}_nrm", sqrt(dotNative(col(vecAlias), col(vecAlias))))
      .filter(col(s"${vecAlias}_nrm") > 0d)

  /** Bucketed embedding near-dup — the 100 TB path. Random-hyperplane
    * LSH over `bands` independent plane sets: each vector is hashed into
    * one bucket per band (bands × nPlanes codegen-safe dot products per
    * row), candidate pairs are ids sharing ANY (band, bucket), and each
    * candidate is exact-cosine-verified at `threshold` (4 dp rounding so
    * the cut is engine-reproducible). No driver-side state: the corpus
    * is scanned once to hash, the candidate self-join shuffles on
    * (band, bucket) — bucket-local cross products only — and the verify
    * join touches only the (few) candidates.
    *
    * Recall at cosine c is 1 − (1 − p^nPlanes)^bands with
    * p = 1 − acos(c)/π: ≈ 95% at c = 0.9 under the 4×4 default. At
    * scale size nPlanes ≈ log2(corpus / target-bucket-size) so
    * per-bucket cross products stay bounded, and add bands to buy back
    * recall. Planes come from the deterministic md5 derivation
    * ([[Similarity.planes]]) — any engine reproduces the exact
    * candidate set. Caching contract: the persisted normalized-corpus
    * and bucket relations stay in the session cache after the caller's
    * action — `clearCache()` between runs. */
  /** The nPlanes sizing rule the scaladoc above states, as code:
    * `ceil(log2(corpus / targetBucket))`, floored at 1. The ScaleProbe
    * measured why this matters: at a FIXED 4-plane geometry, growing
    * the corpus 10× grew [[embeddingDupPairsLsh]]'s wall time 56×
    * (bucket occupancy scales linearly, candidate pairs quadratically);
    * re-sizing planes to the corpus restores near-linear growth at the
    * documented recall trade (add bands to buy it back). */
  def lshPlanesFor(corpusRows: Long, targetBucket: Int = 150): Int =
    math.max(1, math.ceil(
      math.log(corpusRows.toDouble / targetBucket) / math.log(2.0)).toInt)

  /** MinHash-LSH BAND PLAN for a target Jaccard threshold: among the
    * divisors `b` of `k` (bands must tile the signature), pick the
    * (bands, rowsPerBand) whose S-curve inflection `(1/b)^(1/r)` —
    * the similarity at which a pair's candidate probability
    * `1 − (1 − s^r)^b` crosses ~50% — sits closest to `threshold`
    * (ties to the larger band count: more bands = recall-leaning,
    * the safer dedup default). The standard MMDS ch.3 sizing rule as
    * a checked function instead of folklore; [[minhashDupPairs]]'s
    * `(k = 16, bands = 4)` default is the b = 4 plan (inflection
    * ≈ 0.71, precision-leaning for threshold 0.5) — callers chasing
    * recall at a lower threshold should re-plan with this.
    *
    * Driver-side arithmetic over the divisors of `k` — config math,
    * no data touched. */
  def lshBandPlanFor(k: Int, threshold: Double): (Int, Int) = {
    require(k >= 1, "k must be positive")
    require(threshold > 0 && threshold < 1, "threshold must be in (0,1)")
    val plans = (1 to k).filter(k % _ == 0).map { b =>
      val r = k / b
      (b, r, math.pow(1.0 / b, 1.0 / r))
    }
    // minBy with the (distance, -bands) tuple: exact tie → more bands
    val best = plans.minBy { case (b, _, s) =>
      (math.abs(s - threshold), -b)
    }
    (best._1, best._2)
  }

  def embeddingDupPairsLsh(embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 4, bands: Int = 4,
      dim: Int = Similarity.Dim): DataFrame = {
    // normalized corpus feeds both the bucketing scan and the two verify
    // joins; persist so the norm pass runs once
    val e = withNorm(embs, idCol, vecCol, "id", "v").persist(Spill)
    // (id, band, bucket) is tiny (bands rows per id) but referenced on
    // both sides of the self-join — persist so the bands × nPlanes
    // plane dots per row run once, not twice
    val bucketed = e.select(col("id"), posexplode(
        array((0 until bands).map(b =>
          Similarity.lshBucketBand(col("v"), b, nPlanes, dim)): _*))
        .as(Seq("band", "bucket")))
      .persist(Spill)
    val cand = bucketed.as("a").join(bucketed.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(e.select(col("id").as("id_a"), col("v").as("va"),
        col("v_nrm").as("na")), "id_a")
      .join(e.select(col("id").as("id_b"), col("v").as("vb"),
        col("v_nrm").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(dotNative(col("va"), col("vb")) / (col("na") * col("nb")), 4)
          .as("cos_sim"))
      // zero-norm vectors never reach this division (withNorm excludes
      // them — under ANSI their 0/0 would RAISE, not NaN); the isnan
      // guard remains for NaN-ELEMENT vectors, whose NaN cosine would
      // otherwise pass a bare >= threshold (NaN sorts above all doubles)
      .filter(!isnan(col("cos_sim")) && col("cos_sim") >= threshold)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    * pairs via k-means cells — cluster the embeddings, then compare
    * pairs only WITHIN each cell, on the observation that semantic
    * duplicates land in the same cluster. The corpus-scale alternative
    * to [[embeddingDupPairs]]'s all-pairs n²: cost is Σ|cell|² ≈ n²/k,
    * and k grows with the corpus (the paper uses k ≈ √n · const), so
    * the per-cell work stays bounded. Recall differs from
    * [[embeddingDupPairsLsh]]'s guarantee-by-construction: a pair
    * split across a cell boundary is missed — the price the paper pays
    * deliberately, because true semantic dups sit far inside cells.
    *
    * Clustering is [[Similarity.kmeansFitInt8]] — every step integer
    * or correctly-rounded-double exact, so the CELLS (and therefore
    * the exact pair set) replay in any engine; cosines are scored on
    * the ORIGINAL float vectors at 4-dp rounding like every other
    * cosine cut here. Zero-norm vectors cluster but pair with nothing
    * ([[withNorm]] contract).
    *
    * Scale shape: one kmeans fit (map-side argmin over broadcast
    * centroids + bounded per-iteration rollups), one equi-join of the
    * normalized corpus with the assignment, then a cluster-keyed
    * self-join — cell-local cross products only, never a corpus-wide
    * cartesian; AQE splits a skewed (over-full) cell's join like any
    * skewed equi-join. */
  def semanticDupPairs(embs: DataFrame, idCol: String, vecCol: String,
      k: Int, iterations: Int, threshold: Double): DataFrame = {
    val (_, assign) =
      Similarity.kmeansFitInt8(embs, idCol, vecCol, k, iterations)
    val e = withNorm(embs, idCol, vecCol, "id", "v")
      .join(assign.withColumnRenamed(idCol, "id"), "id")
      .persist(Spill)
    val a = e.select(col("cluster"), col("id").as("id_a"),
      col("v").as("va"), col("v_nrm").as("na"))
    val b = e.select(col("cluster"), col("id").as("id_b"),
      col("v").as("vb"), col("v_nrm").as("nb"))
    a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(dotNative(col("va"), col("vb")) / (col("na") * col("nb")), 4)
          .as("cos_sim"))
      .filter(!isnan(col("cos_sim")) && col("cos_sim") >= threshold)
  }

  /** Embedding near-dup pairs at `threshold` cosine (rounded to 4 dp so
    * the cut is reproducible across engines). Brute-force all-pairs with
    * norms precomputed per row — the exact small-corpus kernel; at
    * 100 TB use [[embeddingDupPairsLsh]] (bucketed, no collect). */
  def embeddingDupPairs(embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val sp = embs.sparkSession
    import sp.implicits._
    val e = embs.select(col(idCol).cast("long"),
        col(vecCol).cast("array<double>"))
      .as[(Long, Array[Double])]
    // The n² pair loop is a pure numeric kernel. A self-join would
    // materialize + decode both vectors PER PAIR (~2 GB of tuple traffic
    // for 2M pairs); instead broadcast the whole normalized matrix once
    // — bounded by the same constraint brute force already imposes (an
    // n² scan means the corpus is broadcast-sized; LSH buckets / IVF
    // cells are the scale paths) — and stream the corpus against it.
    // Left-to-right summation and BigDecimal HALF_UP rounding reproduce
    // `round(aggregate(zip_with(...)), 4)` bit for bit.
    val collected = e.collect()
    require(collected.length <= 200000,
      "brute-force pair scan is the small-corpus baseline; use " +
        "embeddingDupPairsLsh (bucketed, no collect) at scale")
    val mat = collected.map { case (id, v) =>
      var s = 0.0
      var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      (id, v, math.sqrt(s))
    }.sortBy(_._1)
    val bc = sp.sparkContext.broadcast(mat)
    e.mapPartitions { it =>
      val m = bc.value
      it.flatMap { case (ia, va) =>
        var sn = 0.0
        var i = 0
        while (i < va.length) { sn += va(i) * va(i); i += 1 }
        val na = math.sqrt(sn)
        m.iterator.filter(_._1 > ia).flatMap { case (ib, vb, nb) =>
          var s = 0.0
          var j = 0
          while (j < va.length) { s += va(j) * vb(j); j += 1 }
          // zero-norm (or otherwise degenerate) vectors: the builtin
          // expression round(cosine, 4) yields NaN/null and the pair is
          // filtered out; BigDecimal.valueOf(NaN) would instead THROW and
          // kill the job, so skip before rounding
          val c = s / (na * nb)
          // cheap pre-cut before the exact (allocating) BigDecimal
          // rounding: HALF_UP can lift a value by at most 0.5e-4, so
          // anything below threshold − 1e-4 can never round across it —
          // that's almost every pair, so the BigDecimal path runs only
          // for the handful of near/above-threshold candidates
          if (!java.lang.Double.isFinite(c) || c < threshold - 1e-4)
            Iterator.empty
          else {
            val r = java.math.BigDecimal.valueOf(c)
              .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
            if (r >= threshold) Iterator.single((ia, ib, r))
            else Iterator.empty
          }
        }
      }
    }.toDF("id_a", "id_b", "cos_sim")
  }

  // ── Cluster resolution ─────────────────────────────────────────────────

  /** Resolve near-duplicate PAIRS into duplicate CLUSTERS — the step
    * between any pair-finder above and actually dropping documents: a
    * corpus keeps ONE survivor per connected component of the duplicate
    * graph, not per pair (pairs chain: a≈b, b≈c ⇒ {a,b,c} is one
    * cluster even when a,c were never compared).
    *
    * Distributed connected components by ALTERNATING STAR contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): each round rewires every node's strictly-larger
    * neighbors onto its neighborhood minimum (large-star), then
    * contracts every node's smaller neighbors onto its minimum parent
    * (small-star). Both steps preserve connectivity and keep the edge
    * relation oriented child > parent; the fixed point is ONE star per
    * component, rooted at the component's minimum id, reached in
    * O(log diameter) rounds. Plain min-label propagation needs rounds
    * = diameter, which is unbounded at 100 TB — a single chained dup
    * component (crawl-boilerplate chains do this) turns it into an
    * unbounded sequence of full-relation shuffles; the star variant's
    * round count only grows logarithmically with the worst chain.
    * Each round is two aggregate+join passes over the edge relation,
    * hash-partitioned on node id — no driver-side state. Convergence
    * is an exact STRUCTURAL test, not a fixpoint-diff: the edge set is
    * a star forest iff no child has two distinct parents and no parent
    * is itself a child — two short-circuit probes (`limit(1).isEmpty`)
    * against the round's already-checkpointed blocks.
    *
    * Ids keep their ORIGINAL type — the algorithm needs only an
    * ordered min (`least`/`greatest`/`min`), which works for numeric
    * and string keys alike (a lossy cast-to-long would silently drop
    * string-keyed pairs). Lineage is cut every round
    * (`localCheckpoint`) so plans don't grow with iterations, and each
    * round's checkpointed blocks are explicitly unpersisted once the
    * next round has materialized — RDD-checkpoint storage is outside
    * `spark.catalog.clearCache`'s reach, so without this a
    * high-iteration run would hold up to `maxIterations` copies of the
    * edge relation until the ContextCleaner happened to GC them. Only
    * the RETURNED result's blocks stay live (the caller is reading them).
    *
    * Output: `(id, cluster_id)` for every node that appears in a pair
    * — singletons are their own implicit cluster and don't need rows.
    */
  def dupClusters(pairs: DataFrame, idACol: String = "id_a",
      idBCol: String = "id_b", maxIterations: Int = 50): DataFrame =
    dupClustersWithRounds(pairs, idACol, idBCol, maxIterations,
      smallGraphMax = SmallGraphMaxEdges)._1

  /** Distinct-edge bound under which [[dupClusters]] resolves the
    * component labels with a DRIVER-side union-find instead of the
    * alternating-star iteration — the broadcast-join-style adaptive
    * arm pick. 200k edges is ~3 MB of key payload (the same
    * driver-size bound [[embeddingDupPairs]]'s brute baseline uses);
    * the decision costs one bounded `head(max+1)` against the
    * already-checkpointed edge blocks, never a scan of a large edge
    * relation. At 100 TB this arm is NOT a small-scale crutch: the
    * streaming cluster-ledger folds run [[dupClustersIncremental]]
    * over tick-sized pair deltas every tick — exactly the small-graph
    * case — while a full-corpus backfill blows past the bound on the
    * first probe and takes the iterative arm. Labels are identical by
    * construction (union-find with min-id roots == the star forest's
    * component-minimum roots; ExtSpec pins the two arms equal), and
    * the fast arm only engages for integral id types, where driver
    * `Long` ordering matches the column ordering (string ids keep the
    * iterative arm — UTF8 binary order is not `String.compareTo`). */
  private val SmallGraphMaxEdges: Int = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_CC_SMALL_MAX", "200000").trim
    // the bound drives a driver `head(n + 1)` — an unvalidated large
    // value silently turns every dupClusters call into a driver
    // collect (OOM risk), and a typo'd value would throw a bare
    // NumberFormatException at class init. Cap at 5M edges (~120 MB
    // of driver rows), far above any tick-sized fold.
    val n = try raw.toInt catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"SPARK_GRAFT_CC_SMALL_MAX must be an integer, got '$raw'")
    }
    require(n > 0 && n <= 5000000,
      s"SPARK_GRAFT_CC_SMALL_MAX must be in (0, 5000000], got $n — " +
        "the bound sizes a driver-side edge collect")
    n
  }

  /** [[dupClusters]] plus the number of alternating-star rounds it took
    * — exposed so the spec can pin the O(log diameter) bound on a
    * deliberately long path graph. */
  private[graft] def dupClustersWithRounds(pairs: DataFrame,
      idACol: String, idBCol: String,
      maxIterations: Int, smallGraphMax: Int = 0): (DataFrame, Int) = {
    require(maxIterations > 0)
    // persist the caller's pair pipeline (often itself an expensive
    // dedup DAG): it feeds both the initial edge set and the node
    // relation, and must not be recomputed for each
    val raw = pairs
      .select(col(idACol).as("a"), col(idBCol).as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .persist(Spill)
    // free a round's localCheckpoint blocks: the checkpointed RDD lives
    // under the LogicalRDD leaf the checkpoint returned (catalog
    // clearCache only covers Dataset-level cache entries, not these)
    def releaseCheckpoint(df: DataFrame): Unit =
      df.queryExecution.analyzed.collectLeaves().foreach {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
    try {
      // every node that appears in a pair gets an output row, including
      // nodes only ever seen in self-pairs (which carry no edge)
      val nodes = raw.select(col("a").as("id"))
        .union(raw.select(col("b").as("id")))
        .distinct()
      var edges = raw
        .select(greatest(col("a"), col("b")).as("u"),
          least(col("a"), col("b")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true)
      // small-graph fast arm (see [[SmallGraphMaxEdges]]): bounded
      // head() probe against the checkpointed blocks; driver
      // union-find with min-id roots reproduces the star forest's
      // labels exactly, skipping the per-round shuffle jobs AND the
      // structural convergence probes
      val idType = edges.schema("u").dataType
      val integral = idType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType => true
        case _ => false
      }
      if (smallGraphMax > 0 && integral) {
        val sample = edges.head(smallGraphMax + 1)
        if (sample.length <= smallGraphMax) {
          val parent = new java.util.HashMap[Long, Long]()
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrDefault(r, r) != r)
              r = parent.getOrDefault(r, r)
            // path compression
            var c = x
            while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
            r
          }
          sample.foreach { e =>
            val u = e.get(0).asInstanceOf[Number].longValue
            val v = e.get(1).asInstanceOf[Number].longValue
            val (ru, rv) = (find(u), find(v))
            if (ru != rv) {
              // attach the LARGER root under the smaller — roots stay
              // component minima, the star forest's invariant
              if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
            }
          }
          val sp = pairs.sparkSession
          import sp.implicits._
          import scala.jdk.CollectionConverters._
          val labels = parent.keySet.asScala.toSeq
            .map(id => (id, find(id)))
          val labelDf = labels.toDF("id", "_cid")
            .select(col("id").cast(idType).as("id"),
              col("_cid").cast(idType).as("_cid"))
          val out = nodes
            .join(org.apache.spark.sql.functions.broadcast(labelDf),
              Seq("id"), "left")
            .select(col("id"),
              coalesce(col("_cid"), col("id")).as("cluster_id"))
            .localCheckpoint(true)
          releaseCheckpoint(edges)
          return (out, 0)
        }
      }
      var round = 0
      var converged = isStarForest(edges)
      while (!converged && round < maxIterations) {
        val next = smallStar(largeStar(edges)).localCheckpoint(true)
        // next is fully materialized in its own blocks — the previous
        // round's copy is unreachable from here on; free it now instead
        // of stacking maxIterations copies for the ContextCleaner
        releaseCheckpoint(edges)
        edges = next
        round += 1
        converged = isStarForest(edges)
      }
      require(converged,
        s"dupClusters did not converge in $maxIterations rounds — " +
          "raise maxIterations")
      // at the fixed point every child has exactly one parent (min is
      // defensive) and parents never appear as children, so a left join
      // labels children with their root and roots/singletons with self
      val asg = edges.groupBy(col("u").as("id"))
        .agg(min(col("v")).as("cid"))
      val out = nodes.join(asg, Seq("id"), "left")
        .select(col("id"), coalesce(col("cid"), col("id")).as("cluster_id"))
        .localCheckpoint(true)
      releaseCheckpoint(edges)
      (out, round)
    } finally raw.unpersist()
  }

  /** Canonical-survivor filter over a [[dupClusters]] label relation:
    * keep `df`'s rows that are in no duplicate pair (absent from the
    * labels) plus each cluster's min-id canonical. The one idiom every
    * curation consumer shares (batch curate, the streaming pipeline
    * ledger head, the filter funnel) — the labels' column names are
    * rebound internally so caller columns can't capture. */
  def keepCanonical(df: DataFrame, idCol: String,
      clusters: DataFrame): DataFrame = {
    val c = clusters.toDF("_dup_id", "_dup_cluster")
    df.join(c, df(idCol) === col("_dup_id"), "left")
      .filter(col("_dup_id").isNull || col("_dup_cluster") === df(idCol))
      .drop("_dup_id", "_dup_cluster")
  }

  /** Incremental arm of [[dupClusters]]: fold a NEW batch's duplicate
    * pairs into the maintained `(id, cluster_id)` LABEL relation
    * without replaying historical pairs. Star edges `(id →
    * cluster_id)` carry exactly the old components' connectivity, so
    * CC over `starEdges(labels) ∪ newPairs` equals CC over the full
    * pair history — and the label relation is NODE-sized while
    * `newPairs` is batch-sized, so per-ingest cost is independent of
    * how many historical pairs produced those labels (the at-ingest
    * cluster ledger a 100 TB dedup pipeline maintains). Min-id
    * canonicality is preserved because each `cluster_id` is itself its
    * component's min id, and the alternating-star relabel takes mins.
    *
    * Caller contract: `newPairs` covers every pair TOUCHING the batch
    * (e.g. [[minhashDupPairsIncremental]]'s output — its result is
    * exactly the union corpus's pairs restricted to batch-touching
    * ones, which is the complement of what `labels` already encodes),
    * and batch/corpus id spaces are disjoint
    * ([[assertDisjointIds]]). */
  def dupClustersIncremental(labels: DataFrame, newPairs: DataFrame,
      idACol: String = "id_a", idBCol: String = "id_b"): DataFrame =
    dupClusters(
      labels.select(col("id").as(idACol), col("cluster_id").as(idBCol))
        .unionByName(newPairs.select(col(idACol), col(idBCol))),
      idACol, idBCol)

  /** Duplicate-aware SAMPLING WEIGHTS over a [[dupClusters]] relation —
    * the down-weight-instead-of-drop policy several pretraining
    * pipelines prefer to hard dedup: each member of an n-document
    * near-dup cluster trains with weight 1/n, so the cluster as a
    * whole contributes one document's worth of gradient signal while
    * keeping every variant available to the sampler. Exact integer
    * quantization (`weight_ppm = 10⁶ div n`) keeps the oracle replay
    * bit-identical. Only clustered docs appear (the clusters relation's
    * domain); callers give singletons weight 10⁶ via a left join.
    *
    * Scale: one count aggregate + one equi-join, both keyed on
    * `cluster_id` — a single logical shuffle key, partial aggs absorb
    * the skewed giant-cluster case. */
  def dupWeights(clusters: DataFrame): DataFrame = {
    val sz = clusters.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    clusters.join(sz, "cluster_id")
      .select(col("id"), col("cluster_id"), col("cluster_size"),
        expr("1000000 div cluster_size").as("weight_ppm"))
  }

  /** Cluster-CAPPED keep over a [[dupClusters]] relation — the middle
    * ground between keep-everything and keep-one canonical: retain at
    * most `cap` members per near-dup cluster, chosen in the portable
    * md5-rank order (a deterministic pseudo-random pick, not always
    * the min id — variant diversity matters when duplicates differ in
    * formatting noise). Output: the kept `(id, cluster_id, keep_rank)`
    * rows, `keep_rank` 1-based within the cluster.
    *
    * Scale: one window partitioned on `cluster_id` — partitions are
    * cluster-sized, and a pathological giant cluster only pays rank
    * work up to its own size (row_number is streaming within the
    * partition sort, no buffering beyond the sort spill). */
  def capDupClusters(clusters: DataFrame, cap: Int): DataFrame = {
    require(cap >= 1, "cap must be at least 1")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(Sampling.md5Top60(col("id")), col("id"))
    clusters
      .withColumn("keep_rank", row_number().over(w).cast("long"))
      .filter(col("keep_rank") <= cap)
  }

  /** Large-star step: for each node, attach all STRICTLY LARGER
    * neighbors to the minimum of its closed neighborhood. Emitted edges
    * satisfy child > parent by construction (m ≤ u < v). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("u"), col("v"))
      .union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy(col("u").as("lu"))
      .agg(min(col("v")).as("mv"))
      .select(col("lu"), least(col("lu"), col("mv")).as("m"))
    sym.join(mins, col("u") === col("lu"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Small-star step: contract each node's (all smaller, by the
    * child > parent invariant) parents onto its minimum parent, keeping
    * the node attached to that minimum as well. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy(col("u").as("su")).agg(min(col("v")).as("mv"))
    e.join(mins, col("u") === col("su"))
      .filter(col("v") =!= col("mv"))
      .select(col("v").as("u"), col("mv").as("v"))
      .union(mins.select(col("su").as("u"), col("mv").as("v")))
      .distinct()
  }

  /** Exact convergence test: a child>parent-oriented edge set is a
    * star forest iff (a) no child has two distinct parents and (b) no
    * parent is itself a child. Since both star steps preserve
    * connectivity, each star then spans a whole component and its root
    * is the component minimum. Both probes short-circuit on the first
    * violation and read the round's checkpointed blocks, not a
    * recompute. */
  private def isStarForest(e: DataFrame): Boolean = {
    val noMultiParent = e.groupBy("u")
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .limit(1).isEmpty
    noMultiParent && e.select(col("v"))
      .join(e.select(col("u").as("v")), Seq("v"), "left_semi")
      .limit(1).isEmpty
  }

  // ── Repeated-segment removal (sub-document dedup) ──────────────────────

  /** Remove SEGMENTS (consecutive `n`-word windows) that recur across
    * the corpus — the sub-document dedup step of web-corpus pipelines
    * (CCNet/RefinedWeb drop duplicated lines/paragraphs: boilerplate,
    * navigation, license blocks that whole-document dedup never
    * catches). Documents here carry no newlines, so the segmentation
    * unit is the non-overlapping `n`-word window; with newline-delimited
    * text, pass the lines relation to the same pipeline.
    *
    * Per doc: split into word windows `[0,n) [n,2n) …` (tail kept),
    * count each distinct segment's occurrences corpus-wide, drop
    * segments occurring `>= maxOccurrences` times, reassemble the
    * survivors in document order.
    *
    * Scale notes (100 TB): the segment-frequency aggregate partially
    * aggregates map-side (segment dup counts collapse per partition
    * before the shuffle); the frequency join keys on the segment hash
    * and the reassembly groups on the doc id — two bounded shuffles, no
    * driver state, no blocklist collect (a corpus-wide hot-segment list
    * can exceed driver memory at scale, so it stays distributed; AQE
    * broadcasts the count side when it turns out small).
    *
    * Output: `(id, kept_segments, dropped_segments, clean_text)` — one
    * row per input doc with a non-null id (clean_text is the empty
    * string when everything was dropped).
    */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 8, maxOccurrences: Int = 2): DataFrame = {
    require(n > 0, "segment width must be positive")
    require(maxOccurrences > 1, "maxOccurrences must be > 1 " +
      "(1 would drop every segment)")
    // null text reads as empty: split(null) is null and posexplode of a
    // null array emits NO rows, which would silently drop the doc from
    // the output instead of honoring the one-row-per-doc contract
    val toks = split(coalesce(col(textCol).cast("string"), lit("")),
      " ", -1)
    // window starts 0, n, 2n, …; slice() is 1-based and caps at the end
    val segs = transform(
      sequence(lit(0), floor((size(toks) - 1) / lit(n)).cast("int")),
      w => array_join(slice(toks, w * n + 1, lit(n)), " "))
    // feeds three branches (frequency agg, survivor join, per-doc
    // totals) — persist under the operator caching contract above
    val segRows = docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).as("id"), posexplode(segs).as(Seq("pos", "seg")))
      // hash once before the persist: the frequency aggregate AND the
      // probe side of its join both key on it
      .withColumn("_sh", md5(col("seg")))
      .persist(Spill)
    // corpus-wide occurrence count per segment — md5 keys the shuffle so
    // skew from a giant hot segment stays bounded by the hash, and the
    // wide segment string itself is not the shuffle key
    val freq = segRows.groupBy(col("_sh")).agg(count(lit(1)).as("_n_occ"))
    segRows.join(freq, Seq("_sh"))
      .filter(col("_n_occ") < maxOccurrences)
      .groupBy(col("id"))
      .agg(
        count(lit(1)).as("kept_segments"),
        array_join(transform(array_sort(collect_list(
          struct(col("pos"), col("seg")))), s => s("seg")), " ")
          .as("clean_text"))
      // docs whose every segment was dropped vanish from the join —
      // restore them with an empty clean_text (right side of the
      // per-doc segment count gives dropped_segments for everyone)
      .join(segRows.groupBy(col("id"))
        .agg(count(lit(1)).as("_total")), Seq("id"), "right")
      .select(col("id"),
        coalesce(col("kept_segments"), lit(0L)).as("kept_segments"),
        (col("_total") - coalesce(col("kept_segments"), lit(0L)))
          .as("dropped_segments"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Content-defined chunking: split each document at positions where
    * the hash of the `window`-char substring starting there draws 0
    * mod `mask` — the rolling-hash boundary rule (rsync/LBFS/borg)
    * that makes chunk boundaries a function of LOCAL CONTENT, so an
    * insertion early in a document shifts only the chunk it lands in,
    * not every fixed-width block after it. Expected chunk length ≈
    * `mask` chars. The boundary draw is the portable md5 idiom
    * ([[Sampling.md5Top60]]), so the split replays engine-exactly.
    *
    * Position 1 is always a chunk start; candidate boundaries run from
    * 2 to len−window+1 (a window must fit), so documents shorter than
    * window+1 chars stay whole. Returns the input columns plus one
    * exploded `chunk` per row.
    *
    * Scale (100 TB): the candidate scan is a NARROW per-row expression
    * chain (O(chars) hashes per document, no join, no shuffle) — the
    * corpus-sized work rides the scan. Downstream dedup aggregates on
    * the chunk, which is the whole point: shared chunks collapse
    * map-side. */
  def contentChunks(docs: DataFrame, textCol: String,
      window: Int = 8, mask: Int = 32): DataFrame = {
    require(window >= 1 && mask >= 1, s"bad knobs window=$window mask=$mask")
    val n = length(col(textCol))
    val cand = when(n >= window + 1,
      sequence(lit(2), n - (window - 1))).otherwise(
      array().cast("array<int>"))
    val starts = concat(array(lit(1)),
      filter(transform(cand, i =>
          when(Sampling.md5Top60(col(textCol).substr(i, lit(window)))
            % mask === 0, i)),
        x => x.isNotNull))
    docs.withColumn("_starts", starts)
      .withColumn("chunk", explode(transform(
        sequence(lit(0), size(col("_starts")) - 1), j => {
          val s = get(col("_starts"), j)
          val next = coalesce(get(col("_starts"), j + 1), n + 1)
          col(textCol).substr(s, next - s)
        })))
      .drop("_starts")
  }

  /** Chunk-level dedup accounting over [[contentChunks]], per value of
    * `groupCol`: total and distinct chunk counts and the bytes a
    * chunk-store would save (every occurrence of a chunk beyond its
    * first). Dedup scope is WITHIN each group, so the report is
    * deterministic — no cross-group first-occurrence attribution.
    *
    * Scale: one hash aggregate keyed on (group, chunk) with map-side
    * partials (hot chunks collapse before the shuffle), then a
    * group-domain-sized summary. At petabyte scale key the first
    * aggregate on `sha2(chunk, 256)` instead of the chunk text to cap
    * shuffle row width — kept as raw text here so the oracle compare
    * stays definitionally exact. */
  def chunkDedupStats(docs: DataFrame, groupCol: String, textCol: String,
      window: Int = 8, mask: Int = 32): DataFrame =
    chunkStatsFromCensus(
      contentChunks(docs, textCol, window, mask)
        .groupBy(col(groupCol), col("chunk"))
        .agg(count(lit(1)).as("cnt"), min(length(col("chunk"))).as("len")),
      groupCol)

  /** [[chunkDedupStats]] from an ALREADY-MAINTAINED
    * `(group, chunk, cnt, len)` census — the ingest-time form: chunk
    * occurrence counts are ADDITIVE across micro-batches, so a stream
    * that appends per-batch chunk censuses holds the dedup
    * accounting's sufficient statistic (the chunk-store index itself)
    * and the current stats derive without rescanning the corpus. */
  def chunkStatsFromCensus(census: DataFrame, groupCol: String)
      : DataFrame =
    census
      // re-aggregate: a maintained census holds one row per
      // (group, chunk) PER BATCH
      .groupBy(col(groupCol), col("chunk"))
      .agg(sum(col("cnt")).as("cnt"), min(col("len")).as("len"))
      .groupBy(col(groupCol))
      .agg(sum(col("cnt")).as("n_chunks"),
        count(lit(1)).as("n_distinct"),
        (sum(col("cnt")) - count(lit(1))).as("dup_chunks"),
        coalesce(sum((col("cnt") - 1) * col("len")), lit(0L))
          .as("dup_bytes"))

  /** Incremental chunk-level dedup — the per-batch arm of
    * [[chunkDedupStats]]: how many of the NEW batch's chunks (and
    * bytes) already exist in the corpus chunk store. Cost is
    * batch-chunks × (semi-join against the census), never
    * corpus × corpus — the chunk-granular sibling of the incremental
    * MinHash dedup.
    *
    * @return per group: (group, new_chunks, known_chunks, known_bytes) */
  def chunkIncremental(batch: DataFrame, corpus: DataFrame,
      groupCol: String, textCol: String,
      window: Int = 8, mask: Int = 32): DataFrame = {
    val store = contentChunks(corpus, textCol, window, mask)
      .select(col("chunk")).distinct()
    contentChunks(batch, textCol, window, mask)
      .join(store.withColumn("__known", lit(1L)), Seq("chunk"), "left")
      .groupBy(col(groupCol))
      .agg(
        count(when(col("__known").isNull, 1)).as("new_chunks"),
        count(when(col("__known").isNotNull, 1)).as("known_chunks"),
        coalesce(sum(when(col("__known").isNotNull,
          length(col("chunk")))), lit(0L)).as("known_bytes"))
  }

  /** Per-document shingle NOVELTY census — the template/boilerplate
    * detector's per-doc view: of a doc's distinct word-n-gram
    * shingles, how many appear in NO other document. `novelty_ppm`
    * near 10⁶ is fresh text; near 0 is recycled template. The dual of
    * the corpus-level diversity/Zipf monitors: same census, attributed
    * per document so curation can gate on it.
    *
    * Scale (100 TB): one shingle census shuffle + one doc-keyed
    * aggregate — the exact same plan family as [[ngramDupPairs]]'s
    * build side, no joins beyond the df lookup. */
  def noveltyCensus(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val rows = shingleRows(docs, idCol, textCol, n)
      .select(col(idCol).cast("long").as("doc_id"), col("shingle"))
    val dfc = rows.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    rows.join(dfc, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("df") === 1, 1)).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        expr("(n_unique * 1000000) div n_shingles").as("novelty_ppm"))
  }

  /** Incremental arm of [[noveltyCensus]]: novelty of the NEW batch's
    * documents against batch ∪ corpus — equals the full census
    * restricted to batch docs (df is computed over the union), at
    * batch-sized aggregate cost. At scale the union df census is the
    * maintained shingle ledger (the vocabIngest pattern — distinct
    * shingles per doc are doc-additive), so only the batch is ever
    * shingled at ingest time. */
  def noveltyIncremental(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val bRows = shingleRows(batch, idCol, textCol, n)
      .select(col(idCol).cast("long").as("doc_id"), col("shingle"))
    val cRows = shingleRows(corpus, idCol, textCol, n)
      .select(col(idCol).cast("long").as("doc_id"), col("shingle"))
    val dfc = bRows.unionByName(cRows)
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    bRows.join(dfc, "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("df") === 1, 1)).as("n_unique"))
      .select(col("doc_id"), col("n_shingles"), col("n_unique"),
        expr("(n_unique * 1000000) div n_shingles").as("novelty_ppm"))
  }

  // ── PPJoin: prefix-filtered set-similarity self-join ───────────────────

  /** EXACT token-set Jaccard self-join via prefix filtering (PPJoin,
    * Xiao/Wang/Lin/Yu, WWW 2008) — every pair with Jaccard ≥ tNum/tDen
    * over distinct word sets, with NO length blocking and NO hashing
    * approximation. The three published filters, in order:
    *
    *  1. PREFIX filter: order each doc's tokens globally by ascending
    *     document frequency (rarest first, token string tie-break); a
    *     pair at threshold t MUST share a token among each side's first
    *     `sz − ceil(t·sz) + 1` tokens, so only those prefixes enter the
    *     candidate self-join. Rare-first ordering is also the SKEW
    *     bound: the join key is by construction each doc's rarest
    *     tokens, so no stop-word key ever fans out.
    *  2. LENGTH filter: |A| and |B| within factor t of each other
    *     (`t·max ≤ min`), applied on the join.
    *  3. POSITIONAL filter: a meeting at prefix positions (i, j) caps
    *     the overlap at `1 + min(szA−i, szB−j)`, which must reach the
    *     equivalent overlap threshold `α = ceil(t/(1+t)·(szA+szB))`.
    *
    * Survivors are verified with an exact intersection count (inverted
    * index restricted to candidate pairs — per-pair O(|A|) shuffle rows,
    * never per-pair array scans). The threshold is a RATIONAL tNum/tDen
    * and every filter is integer arithmetic (`ceil(n/d)` as
    * `(n+d−1) div d`, the Jaccard test as `tDen·inter ≥
    * tNum·(szA+szB−inter)`) — zero float drift against the SQL oracle,
    * and the result equals brute force exactly (ExtSpec property).
    *
    * vs [[ngramDupPairs]]: that op bounds candidates by a length BLOCK
    * (pairs beyond `blockWidth` chars apart are assumed non-dups —
    * a recall cutoff); PPJoin's filters are LOSSLESS, so this is the
    * exact-answer path when the corpus's length spread makes blocking
    * either unsound (wide dup pairs) or useless (uniform lengths).
    *
    * Scale (100 TB): one shuffle for the token census, a per-DOC window
    * for prefix positions (partitioned by id — never a global window),
    * the candidate equi-join on prefix tokens (df-ascending order keeps
    * hot keys out of prefixes), and one (id, token) shuffle to verify.
    * Driver state: none. */
  def ppjoinDupPairs(docs: DataFrame, idCol: String, textCol: String,
      tNum: Int = 7, tDen: Int = 10): DataFrame = {
    require(tNum > 0 && tNum < tDen, "threshold must be in (0,1)")
    import org.apache.spark.sql.expressions.Window
    val tok = docs
      .select(col(idCol).cast("long").as("id"),
        explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
      .distinct()
      .persist(Spill)
    val sz = tok.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val dfc = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val ordered = tok.join(dfc, "token").join(sz, "id")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("token"))))
    val pfx = ordered
      .filter(col("pos") <=
        expr(s"sz - (($tNum * sz + ${tDen - 1}) div $tDen) + 1"))
      .select(col("id"), col("sz"), col("pos"), col("token"))
    val a = pfx.select(col("id").as("id_a"), col("sz").as("sz_a"),
      col("pos").as("pos_a"), col("token"))
    val b = pfx.select(col("id").as("id_b"), col("sz").as("sz_b"),
      col("pos").as("pos_b"), col("token"))
    val cand = a.join(b, Seq("token"))
      .filter(col("id_a") < col("id_b"))
      .filter(lit(tNum) * greatest(col("sz_a"), col("sz_b")) <=
        lit(tDen) * least(col("sz_a"), col("sz_b")))
      .filter(lit(1) + least(col("sz_a") - col("pos_a"),
        col("sz_b") - col("pos_b")) >=
        expr(s"($tNum * (sz_a + sz_b) + ${tNum + tDen - 1})" +
          s" div ${tNum + tDen}"))
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .distinct()
    val ta = tok.select(col("id").as("id_a"), col("token"))
    val tb = tok.select(col("id").as("id_b"), col("token"))
    cand.join(ta, "id_a").join(tb, Seq("id_b", "token"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("inter"))
      .filter(lit(tDen) * col("inter") >=
        lit(tNum) * (col("sz_a") + col("sz_b") - col("inter")))
      .select(col("id_a"), col("id_b"), col("inter"),
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 6)
          .as("jaccard"))
  }

  /** Incremental arm of [[ppjoinDupPairs]]: only pairs TOUCHING the
    * new batch — batch × corpus and batch × batch, never corpus ×
    * corpus (the per-ingest cost, the PPJoin sibling of
    * [[minhashDupPairsIncremental]]). Document-frequency ordering,
    * prefixes, and every filter are computed over batch ∪ corpus, so
    * accepted pairs carry exactly the full-corpus semantics: the
    * result equals [[ppjoinDupPairs]] over the union restricted to
    * batch-touching pairs (PropertiesSpec pins it). The prefix-share
    * theorem is orientation-free (both filters are symmetric), so
    * probing batch prefixes against all prefixes is complete.
    * Caller contract: batch and corpus id spaces are DISJOINT — a
    * colliding id silently merges two documents' token sets (the
    * self-pair guard only suppresses (x, x) pairs, not the cross-doc
    * pairs the merged id then mints). [[assertDisjointIds]] is the
    * cheap debug/ingest-path check; a production ingest job enforces
    * this structurally (monotone batch id ranges). */
  def ppjoinDupPairsIncremental(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      tNum: Int = 7, tDen: Int = 10): DataFrame = {
    require(tNum > 0 && tNum < tDen, "threshold must be in (0,1)")
    import org.apache.spark.sql.expressions.Window
    def toks(df: DataFrame, isBatch: Boolean) =
      df.select(col(idCol).cast("long").as("id"),
          explode(split(col(textCol), " ")).as("token"))
        .filter(col("token") =!= "")
        .distinct()
        .withColumn("is_batch", lit(isBatch))
    val tok = toks(batch, isBatch = true)
      .unionByName(toks(corpus, isBatch = false))
      .persist(Spill)
    val sz = tok.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val dfc = tok.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val pfx = tok.join(dfc, "token").join(sz, "id")
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("token"))))
      .filter(col("pos") <=
        expr(s"sz - (($tNum * sz + ${tDen - 1}) div $tDen) + 1"))
      .select(col("id"), col("sz"), col("pos"), col("token"),
        col("is_batch"))
    val a = pfx.filter(col("is_batch"))
      .select(col("id").as("id_a"), col("sz").as("sz_a"),
        col("pos").as("pos_a"), col("token"))
    val b = pfx.select(col("id").as("id_b"), col("sz").as("sz_b"),
      col("pos").as("pos_b"), col("token"), col("is_batch").as("bb"))
    // batch×batch pairs would meet in both orientations — id order on
    // the batch build side dedups; batch×corpus meets exactly once
    val cand = a.join(b, Seq("token"))
      .filter(col("id_a") =!= col("id_b") &&
        (!col("bb") || col("id_a") < col("id_b")))
      .filter(lit(tNum) * greatest(col("sz_a"), col("sz_b")) <=
        lit(tDen) * least(col("sz_a"), col("sz_b")))
      .filter(lit(1) + least(col("sz_a") - col("pos_a"),
        col("sz_b") - col("pos_b")) >=
        expr(s"($tNum * (sz_a + sz_b) + ${tNum + tDen - 1})" +
          s" div ${tNum + tDen}"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        when(col("id_a") < col("id_b"), col("sz_a"))
          .otherwise(col("sz_b")).as("sz_a"),
        when(col("id_a") < col("id_b"), col("sz_b"))
          .otherwise(col("sz_a")).as("sz_b"))
      .distinct()
    val ta = tok.select(col("id").as("id_a"), col("token"))
    val tb = tok.select(col("id").as("id_b"), col("token"))
    cand.join(ta, "id_a").join(tb, Seq("id_b", "token"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg(count(lit(1)).as("inter"))
      .filter(lit(tDen) * col("inter") >=
        lit(tNum) * (col("sz_a") + col("sz_b") - col("inter")))
      .select(col("id_a"), col("id_b"), col("inter"),
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 6)
          .as("jaccard"))
  }

  // ── Winnowing (MOSS) fingerprints ──────────────────────────────────────

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    * SIGMOD 2003 — the MOSS algorithm): hash every code-point k-gram,
    * slide a window of `w` consecutive k-gram positions, and in each
    * window select the MINIMUM hash (ties → the RIGHTMOST minimal
    * position, the paper's robust-winnowing rule). The distinct selected
    * (position, hash) pairs are the document's fingerprint set, with
    * the guarantee the paper proves: any substring shared between two
    * documents of length ≥ w + k − 1 chars contributes at least one
    * IDENTICAL fingerprint hash to both — a LOCAL overlap detector
    * (plagiarism / quote mining), where whole-set MinHash only sees
    * global resemblance. Density: ~2/(w+1) of all k-grams survive.
    *
    * Documents shorter than w + k − 1 chars (fewer than w k-grams) are
    * winnowed as a single window — the natural boundary convention, and
    * the one the oracle replays. Docs under k chars emit nothing.
    *
    * Implementation: a document's fingerprint set depends only on its
    * own text, so the selection runs per ROW in one typed pass —
    * sliding-window minimum via a monotonic deque (amortized O(1) per
    * k-gram). Pop-while `back.h ≥ new.h` keeps exactly the RIGHTMOST
    * minimal position at the front, i.e. the paper's robust-winnowing
    * tie-break. Zero shuffle before the caller's census aggregate; the
    * hash is the portable md5-top-60 idiom every detector here shares.
    * `OracleBuilders.winnowFpChainSql` replays it in DuckDB.
    *
    * @return (id, pos, fp) — 1-based k-gram position and 60-bit hash */
  def winnowFingerprintsLocal(docs: DataFrame, idCol: String,
      textCol: String, k: Int = 8, w: Int = 8): DataFrame = {
    require(k >= 1 && w >= 1, "k-gram size and window must be positive")
    val sp = docs.sparkSession
    import sp.implicits._
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(java.lang.Long, String)]
      .flatMap { case (id, text) =>
        val n = if (text == null) 0 else text.codePointCount(0, text.length)
        if (id == null || n < k) Iterator.empty
        else {
          // k-grams count CODE POINTS, as the DuckDB replay does: off(c)
          // is code point c's UTF-16 offset, so a surrogate pair is one
          // character and never split across two grams
          val off = new Array[Int](n + 1)
          var c = 0
          while (c < n) {
            off(c + 1) = off(c) + Character.charCount(text.codePointAt(off(c)))
            c += 1
          }
          val nGrams = n - k + 1
          val hs = new Array[Long](nGrams)
          var p = 0
          while (p < nGrams) {
            hs(p) = Sampling.md5Top60Local(text.substring(off(p), off(p + k)))
            p += 1
          }
          val out = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
          if (nGrams <= w) {
            // single window over all grams: rightmost min
            var best = 0
            var i = 1
            while (i < nGrams) { if (hs(i) <= hs(best)) best = i; i += 1 }
            out += (((best + 1).toLong, hs(best)))
          } else {
            // monotonic deque of gram indices, h strictly increasing
            val dq = new java.util.ArrayDeque[Int]()
            var i = 0
            while (i < nGrams) {
              while (!dq.isEmpty && hs(dq.peekLast) >= hs(i)) dq.pollLast()
              dq.addLast(i)
              if (dq.peekFirst <= i - w) dq.pollFirst()
              // window [i-w+1, i] complete once i >= w-1
              if (i >= w - 1) {
                val sel = dq.peekFirst
                out += (((sel + 1).toLong, hs(sel)))
              }
              i += 1
            }
          }
          out.iterator.map { case (pos, h) => (id.longValue, pos, h) }
        }
      }.toDF("id", "pos", "fp")
  }

  /** Cross-document LOCAL overlap via shared winnowing fingerprints:
    * pairs of documents sharing ≥ `minShared` distinct fingerprint
    * hashes, with a document-frequency gate dropping hashes present in
    * more than `maxFpDf` docs before the self-join (the same boilerplate
    * guard as [[ngramContainment]]'s shingle-df gate — a fingerprint in
    * half the corpus is template text, not plagiarism, and it's also
    * the join's fan-out ceiling). By the winnowing guarantee, a shared
    * span of `minShared` disjoint (w+k−1)-char windows cannot be missed.
    *
    * Scale (100 TB): fingerprint census (one shuffle), df gate, then an
    * inverted-index equi-join whose per-key fan-out the df cap bounds —
    * never all-pairs. */
  def winnowOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 8, minShared: Long = 3,
      maxFpDf: Long = 40): DataFrame = {
    require(maxFpDf >= 2, "df gate below 2 drops every shared fingerprint")
    val fps = winnowFingerprintsLocal(docs, idCol, textCol, k, w)
      .select(col("id"), col("fp")).distinct().persist(Spill)
    val rare = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxFpDf)
      .select(col("fp"))
    val kept = fps.join(rare, "fp")
    kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Span reconstruction for [[winnowOverlapPairs]] survivors — the
    * "WHERE does the overlap live" report MOSS renders: for each
    * qualifying pair, the extent of matched k-gram positions on both
    * sides (`*_start` = first matched position, `*_end` = last matched
    * position + k − 1, i.e. 1-based inclusive char bounds). Shared
    * count is DISTINCT hashes, matching [[winnowOverlapPairs]] exactly
    * (same pairs, same gate) — this op just refuses to throw the
    * positions away. A fingerprint hash repeated within a document
    * contributes all its positions to the extent, which is the honest
    * reading (the span covers every place the match occurs).
    *
    * Scale: identical plan family to the pair detector (df-gated
    * inverted self-join); positions ride the join as payload. */
  def winnowOverlapSpans(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 8, minShared: Long = 3,
      maxFpDf: Long = 40): DataFrame = {
    require(maxFpDf >= 2, "df gate below 2 drops every shared fingerprint")
    val fps = winnowFingerprintsLocal(docs, idCol, textCol, k, w)
      .persist(Spill)
    val rare = fps.select(col("id"), col("fp")).distinct()
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxFpDf)
      .select(col("fp"))
    val kept = fps.join(rare, "fp")
    kept.as("a")
      .join(kept.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(countDistinct(col("a.fp")).as("shared"),
        min(col("a.pos")).as("a_start"),
        (max(col("a.pos")) + (k - 1)).as("a_end"),
        min(col("b.pos")).as("b_start"),
        (max(col("b.pos")) + (k - 1)).as("b_end"))
      .filter(col("shared") >= minShared)
  }

  /** Incremental arm of [[winnowOverlapPairs]]: only pairs TOUCHING the
    * new batch are found — batch × corpus and batch × batch, never
    * corpus × corpus (the per-ingest cost at scale, the winnowing
    * sibling of [[minhashDupPairsIncremental]] / [[chunkIncremental]]).
    * The df gate is computed over batch ∪ corpus, so accepted pairs
    * carry exactly the full-corpus semantics: the result equals
    * [[winnowOverlapPairs]] over the union, restricted to pairs with a
    * batch member. Probe-side fan-out is batch-fingerprints × the
    * df-capped posting lists — independent of corpus².
    *
    * At scale the corpus side is the maintained (id, fp) ledger — the
    * overlap detector's sufficient statistic — not a rescan; this
    * entry point accepts the raw corpus table for gate parity and
    * fingerprints it once.
    *
    * Caller contract: batch and corpus id spaces are DISJOINT (as for
    * [[ppjoinDupPairsIncremental]] — a colliding id merges two
    * documents' fingerprint sets into phantom pairs);
    * [[assertDisjointIds]] is the debug-path check. */
  def winnowOverlapIncremental(batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, k: Int = 8, w: Int = 8,
      minShared: Long = 3, maxFpDf: Long = 40): DataFrame = {
    require(maxFpDf >= 2, "df gate below 2 drops every shared fingerprint")
    val bf = winnowFingerprintsLocal(batch, idCol, textCol, k, w)
      .select(col("id"), col("fp")).distinct()
    val cf = winnowFingerprintsLocal(corpus, idCol, textCol, k, w)
      .select(col("id"), col("fp")).distinct()
    val all = bf.withColumn("is_batch", lit(true))
      .unionByName(cf.withColumn("is_batch", lit(false)))
      .persist(Spill)
    val rare = all.groupBy(col("fp"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxFpDf)
      .select(col("fp"))
    val keptB = bf.join(rare, "fp")
    val keptAll = all.join(rare, "fp")
    // probe = batch fps only. A batch×batch pair would meet in both
    // orientations — the id order on the batch build side dedups it;
    // a batch×corpus pair meets exactly once (corpus never probes).
    keptB.as("a")
      .join(keptAll.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") =!= col("b.id") &&
          (!col("b.is_batch") || col("a.id") < col("b.id")))
      .groupBy(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Loud check of the incremental ops' shared caller contract: batch
    * and corpus id spaces must be DISJOINT (a colliding id silently
    * merges two documents). One semi-join + limit-1 action — a
    * debug/ingest-path assertion, not hot-path work; production
    * ingest should enforce the contract structurally (monotone batch
    * id ranges) and skip the pass. */
  def assertDisjointIds(batch: DataFrame, corpus: DataFrame,
      idCol: String): Unit = {
    val collided = batch.select(col(idCol))
      .join(corpus.select(col(idCol)), Seq(idCol), "left_semi")
      .limit(1).collect()
    require(collided.isEmpty,
      s"incremental dedup: batch and corpus share id " +
        s"'${collided.head.get(0)}' — id spaces must be disjoint")
  }
}
