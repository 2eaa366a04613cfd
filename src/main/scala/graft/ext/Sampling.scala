package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-independent sampling and dataset splitting —
  * the reproducible train/val/test assignment a training-data pipeline
  * needs: the same row gets the same split on every run, on every
  * engine, regardless of partitioning (unlike `rand()`-based
  * `randomSplit`, which is seed- and partitioning-dependent).
  *
  * The bucket is the top-60-bit md5 of the key modulo `buckets` — the
  * same portable hash used across this codebase (reproducible in DuckDB
  * as `('0x' || substr(md5(k), 1, 15))::UBIGINT % buckets`).
  *
  * Scale notes: pure per-row expression work, no shuffle; a split is a
  * pushdown-friendly filter, so reading one split scans row groups the
  * predicate can skip.
  */
object Sampling {

  /** Top 60 bits of md5 of the string form of `key`, as a non-negative
    * long — THE portable-hash idiom of this codebase (one definition;
    * DuckDB replays it as `('0x' || substr(md5(k), 1, 15))::UBIGINT`). */
  def md5Top60(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long")

  /** Stable bucket in [0, buckets) from the string form of `key`. */
  def hashBucket(key: Column, buckets: Int = 100): Column = {
    require(buckets > 0)
    pmod(md5Top60(key), lit(buckets.toLong))
  }

  /** Split label from cumulative percentage cut points, e.g.
    * `Seq("train" -> 80, "val" -> 90)` + default "test" ⇒ 80/10/10. */
  def splitLabel(key: Column, cuts: Seq[(String, Int)],
      lastLabel: String): Column = {
    require(cuts.nonEmpty && cuts.map(_._2) == cuts.map(_._2).sorted &&
      cuts.last._2 <= 100, "cuts must be ascending percentages <= 100")
    val b = hashBucket(key, 100)
    cuts.foldRight(lit(lastLabel): Column) { case ((label, cut), rest) =>
      when(b < cut, lit(label)).otherwise(rest)
    }
  }

  /** Deterministic `pct`% sample: keep rows whose bucket falls below the
    * cut. Complementary cuts partition exactly (no overlap, no gaps). */
  def hashSample(df: DataFrame, key: Column, pct: Int): DataFrame = {
    require(pct >= 0 && pct <= 100)
    df.filter(hashBucket(key, 100) < pct)
  }

  /** Deterministic WEIGHTED top-k sample per group (Efraimidis–
    * Spirakis A-ES): each row draws a reproducible uniform
    * `u = (md5₆₀(key) + 1) / 2⁶⁰ ∈ (0, 1]` and ranks by `ln(u) / w` —
    * the classic `u^(1/w)` priority in log space — so a row's selection
    * probability is proportional to its weight, yet the draw depends
    * only on the key (same sample on any engine, any partitioning, and
    * re-running with a larger k grows the sample monotonically instead
    * of reshuffling it).
    *
    * Rows with null, zero, or negative weight are excluded (they have
    * no weighted-sampling interpretation).
    *
    * Scale notes: the priority is per-row expression work; the per-group
    * cut is one ranking window partitioned by the group key — for
    * heavily skewed groups route through `Skew.saltedTopK` with the same
    * priority column.
    *
    * Output: input columns + `sample_rank` (1-based within group).
    */
  def weightedTopK(df: DataFrame, key: Column, weight: Column,
      groups: Seq[Column], k: Int): DataFrame = {
    require(k > 0)
    val u = (md5Top60(key).cast("double") + 1d) / 1152921504606846976d // 2^60
    val priority = log(u) / weight.cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groups: _*).orderBy(priority.desc, key)
    df.filter(weight.isNotNull && weight > 0)
      .withColumn("sample_rank",
        org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("sample_rank") <= k)
  }

  /** Deterministic SHARDED EXPORT ORDER — the global shuffle a training
    * run consumes: every row gets a shard in `[0, numShards)` and a
    * dense 1-based position within its shard, both pure functions of
    * the key (md5 bucket for the shard, md5-rank with id tie-break for
    * the position). Writing shard `i` sorted by `shard_pos` yields the
    * same byte-identical training order on any engine, any
    * partitioning, any run — reshuffling epochs is just re-keying with
    * a different salt prefix on `key`.
    *
    * Scale shape: exactly the export writer's own cost and nothing
    * more — one hash shuffle on the shard id and a per-shard sort for
    * the dense rank. Shards are hash-balanced by construction (no skew
    * beyond hash variance), so the per-shard sorts are uniform; at
    * 100 TB pick `numShards` so a shard fits an executor's sort spill
    * budget (shards ≈ files, thousands are normal).
    *
    * Output: input columns + `shard` (long) + `shard_pos` (long). */
  def exportShards(df: DataFrame, key: Column, numShards: Int): DataFrame = {
    require(numShards > 0)
    // same contract as Packing.checkNames: the generated columns must
    // not silently overwrite caller data
    val clash = df.columns.filter(Set("shard", "shard_pos"))
    require(clash.isEmpty,
      "exportShards reserves output column names shard, shard_pos; " +
        s"rename input column(s) ${clash.mkString(", ")}")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(md5Top60(key), key)
    df.withColumn("shard", hashBucket(key, numShards))
      .withColumn("shard_pos", row_number().over(w).cast("long"))
  }

  /** Per-EPOCH training order: shard membership stays a pure function
    * of the key — epoch-stable, so shard-to-worker placement and any
    * per-shard caches survive across epochs — while the WITHIN-shard
    * order reshuffles per epoch through an epoch-salted md5 draw
    * (multi-epoch training wants a different permutation each pass,
    * reproducibly). Same single-shuffle cost as [[exportShards]];
    * emitting k epochs is k independent rankings of the same shard
    * partition. */
  def exportShardsEpoch(df: DataFrame, key: Column, numShards: Int,
      epoch: Int): DataFrame = {
    require(numShards > 0 && epoch >= 0)
    val clash = df.columns.filter(Set("shard", "shard_pos"))
    require(clash.isEmpty,
      "exportShardsEpoch reserves output column names shard, " +
        s"shard_pos; rename input column(s) ${clash.mkString(", ")}")
    val salted = concat(key.cast("string"), lit(s":$epoch"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(md5Top60(salted), key)
    df.withColumn("shard", hashBucket(key, numShards))
      .withColumn("shard_pos", row_number().over(w).cast("long"))
  }

  /** Deterministic STRATIFIED sample: a keep-percentage per stratum
    * value (`defaultPct` for unlisted strata) — up-/down-weighting
    * languages or sources in a training mix. Same contract as
    * [[hashSample]]: assignment depends only on the key, so changing a
    * stratum's rate monotonically grows/shrinks its kept set instead of
    * resampling it (rows kept at 10% stay kept at 20%). */
  def stratifiedSample(df: DataFrame, key: Column, stratum: Column,
      pcts: Map[String, Int], defaultPct: Int): DataFrame = {
    require((pcts.values ++ Seq(defaultPct)).forall(p => p >= 0 && p <= 100),
      "percentages must be in [0, 100]")
    val rate = pcts.toSeq.sortBy(_._1).foldLeft(lit(defaultPct): Column) {
      case (acc, (v, p)) => when(stratum === v, lit(p)).otherwise(acc)
    }
    df.filter(hashBucket(key, 100) < rate)
  }

  /** Scalar mirror of [[md5Top60]], driver- or executor-side — for
    * plan-time ring construction ([[ringShard]]) and the per-shingle /
    * per-k-gram hashes of the dedup kernels; the same value the column
    * expression (and its DuckDB rendering) computes for the key. The
    * top 60 bits of md5 (the first 15 hex digits) are the first 8
    * digest bytes read big-endian, shifted right 4. */
  private[graft] def md5Top60Local(key: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Consistent-hash ring shard assignment — the STABLE alternative to
    * `hash(key) % shards` for export sharding: growing the fleet from
    * S to S+1 shards moves only the keys whose ring successor becomes
    * one of the NEW shard's vnodes (≈ 1/(S+1) of the corpus), where
    * the modulo reassigns nearly everything. Each shard projects
    * `vnodes` virtual points `md5("shard:<s>:<v>")` onto the 2^60
    * ring; a key belongs to the clockwise-nearest vnode.
    *
    * Pure per-row expression over a plan-time literal ring (S·V
    * structs) — no join, no shuffle, no broadcast table; the argmin is
    * one `array_min` over lexicographic (distance, shard) structs, so
    * ties (measure-zero but defined) break to the smaller shard id.
    * The md5 idiom keeps assignment engine-replayable. */
  def ringShard(key: Column, shards: Int, vnodes: Int): Column = {
    require(shards >= 1 && vnodes >= 1,
      s"bad ring: shards=$shards vnodes=$vnodes")
    val ringSize = 1L << 60
    val h = md5Top60(key)
    val points = for (s <- 0 until shards; v <- 0 until vnodes)
      yield (md5Top60Local(s"shard:$s:$v"), s.toLong)
    val cands = points.map { case (vh, s) =>
      struct(((lit(vh) - h + lit(ringSize)) % lit(ringSize)).as("d"),
        lit(s).as("s"))
    }
    array_min(array(cands: _*)).getField("s")
  }
}
