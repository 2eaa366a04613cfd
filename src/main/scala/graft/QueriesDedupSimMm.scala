package graft

import graft.analytics.Habits
import graft.config.{EtlConfig, HabitSpec}
import graft.ext.{Classify, Dedup, History, MediaRecord, Multimodal, Similarity, Skew, TextAnalysis}
import graft.functions.Aggregators
import graft.load.Merge
import graft.streaming.Streaming
import graft.transform.HabitTransform
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryHelpers._

/** Dedup family, similarity search, and multimodal binary columns (SURVEY §7.5) — one slice of [[SparkEntry.queries]], split from the monolithic
  * registry for maintainability (no behavior change). Conventions for
  * hash-stable compares are documented on [[SparkEntry]]. */
private[graft] object QueriesDedupSimMm {

  /** The part-group co-order pair graph behind q_triangles and
    * q_graph_health (l_partkey % 200 folds the part domain onto a
    * fixed SF-invariant node set; edges need pair support >= 2 so the
    * graph keeps structure instead of saturating). Shared with
    * PlanSpec's no-cartesian pin so the pinned shape IS the shipped
    * shape (the registrations run inside Pinned.scoped, whose
    * materialized plan hides the joins from a registry-level pin). */
  private[graft] def coOrderPairs(s: SparkSession, dir: String)
      : DataFrame = {
    val it = Tables.read(s, dir, "lineitem")
      .select(col("l_orderkey").as("b"),
        (col("l_partkey") % 200).as("i"))
      .distinct()
    it.as("x")
      .join(it.as("y"), col("x.b") === col("y.b") && col("x.i") < col("y.i"))
      .groupBy(col("x.i").as("id_a"), col("y.i").as("id_b"))
      .agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= 2)
  }

  val map: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── Extension scope: dedup family (SURVEY §7.5) ────────────────────
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashDupPairs(Tables.read(s, dir, "documents"),
          "doc_id", "text", threshold = 0.5)
        .select(col("id_a"), col("id_b"), r6(col("jaccard")).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))),

    // Incremental ingest dedup: only pairs touching the new batch
    // (doc_id % 10 = 0) are found — existing × existing is never
    // compared, the per-batch cost at scale.
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      Dedup.minhashDupPairsIncremental(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", threshold = 0.5)
        .select(col("id_a"), col("id_b"), r6(col("jaccard")).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramDupPairs(Tables.read(s, dir, "documents"),
          "doc_id", "text", "n_chars", threshold = 0.5, blockWidth = 50)
        .select(col("id_a"), col("id_b"), r6(col("jaccard")).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))),

    // Asymmetric containment over rare shingles — the quote/subset
    // detector Jaccard misses; df-gated instead of length-blocked.
    "q_dedup_containment" -> ((s, dir) =>
      Dedup.ngramContainment(Tables.read(s, dir, "documents"),
          "doc_id", "text", n = 3, threshold = 0.5, maxShingleDf = 40)
        .orderBy(col("id_a"), col("id_b"))),

    // PPJoin: EXACT Jaccard ≥ 0.9 over distinct word sets via the
    // three lossless prefix/length/positional filters — no length
    // blocking, no hashing; all-integer threshold math, so the result
    // equals brute force and the oracle replays it exactly. Gated on a
    // deterministic fifth of the corpus (the q_mutual_knn precedent):
    // this synthetic corpus's duplication is DENSE — the full table
    // carries ~1M data-intrinsic qualifying pairs at sf0.1, which
    // measures the data, not the operator.
    "q_dedup_ppjoin" -> ((s, dir) =>
      Dedup.ppjoinDupPairs(
          Tables.read(s, dir, "documents").filter(col("doc_id") % 5 === 0),
          "doc_id", "text", tNum = 9, tDen = 10)
        .orderBy(col("id_a"), col("id_b"))),

    // Per-doc shingle novelty: fraction of a doc's distinct 3-gram
    // shingles seen nowhere else — the template detector's per-doc
    // view, ppm-quantized for the exact oracle compare.
    "q_novelty" -> ((s, dir) =>
      Dedup.noveltyCensus(Tables.read(s, dir, "documents"),
          "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))),

    // Per-source novelty rollup: which SOURCES are template farms —
    // truncated-integer mean of the per-doc ppm plus the n_unique /
    // n_shingles totals (the exact corpus-level ratio).
    "q_novelty_by_source" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      Dedup.noveltyCensus(docs, "doc_id", "text", n = 3)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_shingles")).as("n_shingles"),
          sum(col("n_unique")).as("n_unique"),
          expr("sum(novelty_ppm) div count(1)").as("mean_novelty_ppm"))
        .orderBy(col("source"))
    }),

    // Incremental novelty: the batch's docs scored against the union
    // census — the at-ingest freshness gate, batch-sized cost.
    "q_novelty_incremental" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      Dedup.noveltyIncremental(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))
    }),

    // Incremental PPJoin: the %5 gate corpus splits into batch
    // (doc_id % 10 = 0) and existing; only batch-touching pairs are
    // found, with full-union df/prefix semantics.
    "q_ppjoin_incremental" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
        .filter(col("doc_id") % 5 === 0)
      Dedup.ppjoinDupPairsIncremental(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", tNum = 9, tDen = 10)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Winnowing (MOSS) fingerprint census: per-doc count of selected
    // (pos, hash) fingerprints, distinct hash count, and a mod-prime
    // checksum — the compact replayable digest of the fingerprint set.
    "q_winnow_census" -> ((s, dir) =>
      Dedup.winnowFingerprintsLocal(Tables.read(s, dir, "documents"),
          "doc_id", "text", k = 16, w = 16)
        .groupBy(col("id").as("doc_id"))
        .agg(count(lit(1)).as("n_fp"),
          countDistinct(col("fp")).as("n_distinct_fp"),
          sum(col("fp") % 1000000007L).as("fp_checksum"))
        .orderBy(col("doc_id"))),

    // Local-overlap pairs (plagiarism/quote detector): docs sharing ≥ 4
    // rare winnowing fingerprints — catches shared SPANS ≥ 31 chars
    // (w + k − 1) that whole-set MinHash resemblance dilutes away.
    "q_winnow_overlap" -> ((s, dir) =>
      Dedup.winnowOverlapPairs(Tables.read(s, dir, "documents"),
          "doc_id", "text", k = 16, w = 16, minShared = 4, maxFpDf = 20)
        .orderBy(col("id_a"), col("id_b"))),

    // Top principal component by 8-round integer power iteration —
    // the whitening/drift direction, engine-exact by construction
    // (milli-quantized scatter, truncating rescale each round).
    "q_embed_top_pc" -> ((s, dir) =>
      graft.ext.Similarity.topComponentPower(
          Tables.read(s, dir, "embeddings"), "vec_id", "embedding",
          iterations = 8)
        .orderBy(col("d"))),

    // Second principal component via deflated integer power iteration
    // — the whitening axis PAIR; dot_v1 reports the residual alignment
    // (≈ 0) a consumer checks before trusting the axes.
    "q_embed_pc2" -> ((s, dir) =>
      graft.ext.Similarity.secondComponentPower(
          Tables.read(s, dir, "embeddings"), "vec_id", "embedding",
          iterations = 8)
        .orderBy(col("d"))),

    // Per-label mean projection onto that direction: class drift along
    // the dominant embedding axis, truncated-integer means.
    "q_pc_project_label" -> ((s, dir) =>
      graft.ext.Similarity.pcProjectionByLabel(
          Tables.read(s, dir, "embeddings"), "vec_id", "embedding",
          "label", iterations = 8)
        .orderBy(col("label"))),

    // 2-D class-drift map: per-label truncated-integer mean projection
    // onto BOTH whitening axes — where each class sits in the (v1, v2)
    // plane.
    "q_whiten_project" -> ((s, dir) =>
      graft.ext.Similarity.whitenProjectionByLabel(
          Tables.read(s, dir, "embeddings"), "vec_id", "embedding",
          "label", iterations = 8)
        .orderBy(col("label"))),

    // Class-separability census: per-label E||x−mu||^2 from mergeable
    // integer sufficient statistics (milli-quantized component sums) —
    // the embedding-space drift alarm next to the label-hygiene gates.
    "q_label_centroids" -> ((s, dir) =>
      graft.ext.Similarity.labelCentroidCensus(
          Tables.read(s, dir, "embeddings"), "embedding", "label")
        .orderBy(col("label"))),

    // Class-confusability matrix: pairwise inter-centroid squared
    // distances over truncated integer means (45 rows at 10 labels).
    "q_centroid_dist" -> ((s, dir) =>
      graft.ext.Similarity.labelCentroidDistances(
          Tables.read(s, dir, "embeddings"), "embedding", "label")
        .orderBy(col("label_a"), col("label_b"))),

    // Span reconstruction for the overlap survivors: matched-position
    // extents on both sides (MOSS's "where" report) — same pairs and
    // gate as q_winnow_overlap, positions kept as join payload.
    "q_winnow_spans" -> ((s, dir) =>
      Dedup.winnowOverlapSpans(Tables.read(s, dir, "documents"),
          "doc_id", "text", k = 16, w = 16, minShared = 4, maxFpDf = 20)
        .orderBy(col("id_a"), col("id_b"))),

    // Incremental ingest arm: only overlap pairs touching the new
    // batch (doc_id % 10 = 0) are found — existing × existing is never
    // compared, the per-batch cost at scale.
    "q_winnow_incremental" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      Dedup.winnowOverlapIncremental(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", k = 16, w = 16, minShared = 4, maxFpDf = 20)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Typo-tolerant record linkage: Levenshtein ≤ 2 pairs over part
    // names, blocked on brand + length band (no all-pairs compare);
    // the oracle brute-forces the same predicate within brands.
    "q_fuzzy_dedup" -> ((s, dir) =>
      graft.ext.Fuzzy.editDistancePairs(Tables.read(s, dir, "part"),
          "p_partkey", "p_name", Seq("p_brand"), maxDist = 2)
        .orderBy(col("id_a"), col("id_b"))),

    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashSignaturesLocal(Tables.read(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("doc_id"))),

    "q_dedup_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashDupPairs(Tables.read(s, dir, "documents"),
          "doc_id", "text", maxHamming = 7)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))),

    // NON-DEFAULT fingerprint geometry (the Manku et al. 2007 knob,
    // Dedup.requireGeometry): the same pair semantics at Hamming <= 3
    // through 4 chunks x 16 bits — 2^16 buckets per chunk position,
    // ~512x fewer chunk-collision candidates than the default 8x8 on a
    // uniform corpus (~250-290x measured with planted dups),
    // admissible because the pigeonhole only needs maxHamming < chunks. Shares the parameterized simhash oracle:
    // the pair SET is geometry-invariant, only the candidate volume
    // (measured in SCALING.md's probe) moves.
    "q_dedup_simhash_geo" -> ((s, dir) =>
      Dedup.simhashDupPairs(Tables.read(s, dir, "documents"),
          "doc_id", "text", maxHamming = 3, chunks = 4, chunkBits = 16)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))),

    // The FULL Manku table construction (C(6,3) = 20 tables of
    // concatenated 30-bit keys — the WWW 2007 shape scaled to the
    // 60-bit signature): exact recall at Hamming <= 3 via the
    // generalized pigeonhole (any 3 clean fields of 6 match verbatim),
    // with per-table occupancy 2^20x sparser than single-field keys.
    // Construction-invariant pair set -> same shared oracle.
    "q_dedup_simhash_tables" -> ((s, dir) =>
      Dedup.simhashDupPairsMultiTable(Tables.read(s, dir, "documents"),
          "doc_id", "text", maxHamming = 3)
        .select(col("id_a"), col("id_b"),
          col("hamming").cast("long").as("hamming"))
        .orderBy(col("id_a"), col("id_b"))),

    // Pair→cluster resolution (iterative distributed min-label
    // propagation): duplicate clusters are CONNECTED COMPONENTS of the
    // pair graph — a≈b, b≈c chains into {a,b,c} even though (a,c) was
    // never compared. cluster_id = component min id; is_canonical marks
    // the survivor a curation pass would keep. Oracle = recursive
    // min-label closure over the identical simhash pair SQL.
    // PageRank over the simhash near-dup graph — which copy of a
    // duplicated passage is the hub. All-integer ranks (1e-12 units,
    // per-edge `rank div deg`, long damping arithmetic) make every
    // iteration order-insensitive and the 3-step unrolled oracle
    // bit-exact. Each iteration is one edges⋈ranks equi-join plus a
    // partial-aggregating sum — the Pregel superstep as relational
    // algebra, rank state O(nodes).
    // Triangle census of the part-group co-order graph (l_partkey %
    // 200 folds the part domain onto a fixed SF-invariant node set —
    // see q_assoc_rules). Degree-ordered node-iterator; the oracle
    // brute-forces the u<v<w 3-way join — same triangle set by
    // construction, orientation is plan, not semantics. Edges need
    // pair support ≥ 2 so the graph keeps non-trivial structure
    // instead of saturating into a complete graph at large SF.
    // Pinned.scoped: triangleCounts eagerly checkpoints its edge/
    // degree/orientation relations — the scope releases those
    // intermediates once the node-sized result has materialized, so a
    // library caller holds ONE releasable handle instead of three
    // hidden pins (the harness sweep covered this; loops outside it
    // did not).
    "q_triangles" -> ((s, dir) => graft.ext.Pinned.scoped(s) {
      graft.ext.Graph.triangleCounts(coOrderPairs(s, dir), "id_a", "id_b")
        .orderBy(col("node"))
    }),

    // Graph-health summary of the same co-order graph: node/edge/
    // triangle censuses + average local clustering coefficient. Per-node
    // cc quantizes to integer 1e-6 units BEFORE the sum (long div, the
    // engine-exact discipline), so the only float op is one final
    // division — deterministic on both engines.
    "q_graph_health" -> ((s, dir) => graft.ext.Pinned.scoped(s) {
      graft.ext.Graph.triangleCounts(coOrderPairs(s, dir), "id_a", "id_b")
        .withColumn("cc_e6", expr("CASE WHEN degree >= 2 THEN " +
          "(n_triangles * 2000000) div (degree * (degree - 1)) END"))
        .agg(count(lit(1)).as("n_nodes"),
          expr("sum(degree) div 2").as("n_edges"),
          expr("sum(n_triangles) div 3").as("n_triangles"),
          when(count(col("cc_e6")) > 0,
            round(sum(col("cc_e6")).cast("double") /
              (count(col("cc_e6")) * lit(1000000.0)), 6))
            .as("avg_clustering"))
    }),

    "q_pagerank" -> ((s, dir) => graft.ext.Pinned.scoped(s) {
      val docs = Tables.read(s, dir, "documents")
      graft.ext.Graph.pageRank(docs, "doc_id",
          Dedup.simhashDupPairs(docs, "doc_id", "text", maxHamming = 7))
        .orderBy(col("doc_id"))
    }),

    "q_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.simhashDupPairs(Tables.read(s, dir, "documents"),
        "doc_id", "text", maxHamming = 7)
      Dedup.dupClusters(pairs)
        .select(col("id").as("doc_id"), col("cluster_id"),
          (col("id") === col("cluster_id")).as("is_canonical"))
        .orderBy(col("doc_id"))
    }),

    // Incremental cluster maintenance: labels from the 90% corpus fold
    // with the batch-touching MinHash pairs of the 10% batch — CC over
    // star edges + new pairs, never the historical pair set. The
    // oracle is the FULL-corpus CC (recursive min-label over all
    // MinHash pairs), so the gate proves incremental == batch exactly.
    "q_cluster_incremental" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val batch = docs.filter(col("doc_id") % 10 === 0)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val labels = Dedup.dupClusters(
        Dedup.minhashDupPairs(corpus, "doc_id", "text", threshold = 0.5))
      val newPairs = Dedup.minhashDupPairsIncremental(batch, corpus,
        "doc_id", "text", threshold = 0.5)
      Dedup.dupClustersIncremental(labels, newPairs)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    // Duplicate-aware sampling weights: every member of an n-doc
    // near-dup cluster trains at weight 1/n (ppm-quantized integer
    // div), singletons at 1 — the down-weight-instead-of-drop policy.
    // Composes the proven cluster relation; one cluster_id-keyed
    // aggregate + join on top.
    "q_dedup_weights" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val w = Dedup.dupWeights(Dedup.dupClusters(
        Dedup.simhashDupPairs(docs, "doc_id", "text", maxHamming = 7)))
      docs.select(col("doc_id"))
        .join(w.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
          coalesce(col("weight_ppm"), lit(1000000L)).as("weight_ppm"))
        .orderBy(col("doc_id"))
    }),

    // The duplication PROFILE — the dedup report a curation team reads:
    // how many clusters (and how much of the corpus) sit at each
    // duplication level, singletons included via the left join,
    // 5+ folded into one tail bucket. Two cluster-keyed aggregates on
    // top of the proven cluster relation.
    "q_dup_profile" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val clusters = Dedup.dupClusters(Dedup.simhashDupPairs(docs,
        "doc_id", "text", maxHamming = 7))
      docs.select(col("doc_id"))
        .join(clusters.withColumnRenamed("id", "doc_id"),
          Seq("doc_id"), "left")
        .select(coalesce(col("cluster_id"), col("doc_id")).as("cid"))
        .groupBy(col("cid")).agg(count(lit(1)).as("sz"))
        .select(least(col("sz"), lit(5L)).as("size_bucket"), col("sz"))
        .groupBy(col("size_bucket"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("sz")).as("n_docs"))
        .orderBy(col("size_bucket"))
    }),

    // Composition capstone for the round-11 operators: dedup-DISCOUNTED
    // token counts (each doc's tokens scaled by its 1/cluster-size
    // weight, integer ppm math) feed the size-BALANCED sharder — the
    // "shard the effective training tokens evenly" pipeline. Per-shard
    // doc and token censuses gate the composition cell-exact; every
    // stage is individually oracle-proven (q_dedup_weights,
    // q_pack_balanced).
    "q_pipeline_balanced" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val w = Dedup.dupWeights(Dedup.dupClusters(
        Dedup.simhashDupPairs(docs, "doc_id", "text", maxHamming = 7)))
      val eff = docs
        .select(col("doc_id"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
        .join(w.select(col("id").as("doc_id"), col("weight_ppm")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          expr("(n_tokens * coalesce(weight_ppm, 1000000)) div 1000000")
            .as("eff_tokens"))
        .filter(col("eff_tokens") > 0)
      graft.ext.Packing.packBalanced(eff, "doc_id", "eff_tokens",
          shards = 4)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("eff_tokens")).as("shard_tokens"))
        .orderBy(col("shard"))
    }),

    // Cluster-capped keep: at most 2 members per near-dup cluster, in
    // md5-rank order (deterministic pseudo-random pick — variant
    // diversity, not always the min id); singletons always survive.
    // The middle ground between keep-everything and keep-one.
    "q_cluster_cap" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      // dupClusters localCheckpoints its output, so the two consumers
      // below (membership + capped keep) share one materialization
      val clusters = Dedup.dupClusters(Dedup.simhashDupPairs(docs,
        "doc_id", "text", maxHamming = 7))
      val kept = Dedup.capDupClusters(clusters, cap = 2)
        .select(col("id").as("doc_id"), col("keep_rank"))
      docs.select(col("doc_id"))
        .join(clusters.select(col("id").as("doc_id"),
          col("cluster_id")), Seq("doc_id"), "left")
        .join(kept, Seq("doc_id"), "left")
        .filter(col("cluster_id").isNull || col("keep_rank").isNotNull)
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
          coalesce(col("keep_rank"), lit(1L)).as("keep_rank"))
        .orderBy(col("doc_id"))
    }),

    // Canonical-copy selection: the dedup story's last mile — cluster
    // the near-dup graph, then keep each cluster's PageRank HUB (the
    // most-linked copy, the one other copies derive from) instead of
    // the arbitrary min-id. Ties break by id ascending. Composes two
    // oracle-proven relations; only clustered (size >= 2) docs appear.
    "q_canonical_select" -> ((s, dir) => graft.ext.Pinned.scoped(s) {
      val docs = Tables.read(s, dir, "documents")
      // the SimHash pair DAG is the expensive part and feeds BOTH
      // consumers (clustering + ranking, which also scans it twice for
      // its bidirectional edge union) — pin it once; round 10 measured
      // the unpinned form at 3.2× its prior cost from per-consumer
      // rematerialization
      val pairs = Dedup.simhashDupPairs(docs, "doc_id", "text",
        maxHamming = 7).localCheckpoint(true)
      val clusters = Dedup.dupClusters(pairs)
      val ranks = graft.ext.Graph.pageRank(docs, "doc_id", pairs)
      // (the registration wraps this in Pinned.scoped — the pairs pin
      // and pageRank's result pin are both released once the
      // cluster-sized pick below materializes)
      val byCluster = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cluster_id"))
      val pick = byCluster.orderBy(col("rank_e12").desc, col("id"))
      clusters.join(ranks, clusters("id") === ranks("doc_id"))
        .withColumn("rk", row_number().over(pick))
        .withColumn("n_members", count(lit(1)).over(byCluster))
        .filter(col("rk") === 1)
        .select(col("cluster_id"), col("id").as("canonical_id"),
          col("rank_e12"), col("n_members"))
        .orderBy(col("cluster_id"))
    }),

    // Capstone composition — the full curation pipeline (language gate
    // → quality gate → cluster-dedup survivors → deterministic split),
    // every stage individually oracle-proven; this query proves the
    // COMPOSITION end to end.
    "q_curation" -> ((s, dir) =>
      graft.ext.Curation.curate(Tables.read(s, dir, "documents"),
          "doc_id", "text", lang = "en", minQuality = 60.0)
        .select(col("doc_id"), r6(col("quality")).as("quality"),
          col("n_tokens").cast("long").as("n_tokens"), col("split"))
        .orderBy(col("doc_id"))),

    // THE composed pretraining pipeline, end to end as one query:
    // curate (gates → dedup survivors → split) → token-budget mixture
    // over the train split → BPE tokenizer trained ON the mixed corpus
    // and applied to it → boundary-free packing into 512-token bins →
    // deterministic export-shard order over the bins. Every stage is
    // individually oracle-proven; this gates the COMPOSITION (stage
    // interfaces, row multiplicity, ordering) cell-exact.
    "q_pipeline_export" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val curated = graft.ext.Curation.curate(docs, "doc_id", "text",
        lang = "en", minQuality = 60.0)
      val withSrc = curated.filter(col("split") === "train")
        .select(col("doc_id"), col("n_tokens"))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
      // the factored tail (mixture → BPE train+encode on the mixed
      // corpus → 512-token concat packing → md5 export order) — the
      // SAME code the ledger-driven q_pipeline_incremental runs, so
      // the two compositions share this oracle by construction
      graft.ext.Curation.mixPackExport(withSrc,
        docs.select(col("doc_id"), col("text")), "doc_id", "text")
    }),

    // The WEB capstone: the r14 crawl families COMPOSED as one lazy
    // plan — URL canonicalize → URL dedup (keeper per canonical URL,
    // dead-letter NULLs dropped: invalid/credentialed/IPv6 URLs never
    // reach a fetcher) → render → block extraction + jusText
    // link-density gate → CCNet paragraph dedup → doc text REASSEMBLED
    // from surviving blocks in block order → the IDENTICAL
    // curate-gates/near-dup-CC/mixture/BPE/pack/export tail the batch
    // pipeline runs (Curation.curate + mixPackExport, shared code).
    // Every stage is the component query's own operator, so the
    // composed oracle is built from the same shared SQL builders.
    // Scale shape: URL dedup and para dedup are hash aggregations on
    // canonical keys; the reassembly is one (doc)-keyed aggregate;
    // everything else inherits the proven component plans — no
    // cartesian, no corpus-wide window.
    "q_pipeline_web" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val urls = docs.select(col("doc_id"),
        graft.ext.Urls.urlCanonical(
          graft.ext.Urls.demoUrl(col("doc_id"), col("source")))
          .as("url_canon"))
      // render/extract ONLY the URL keepers (the batch form knows
      // keeper status up front and prunes the expensive extraction;
      // the helper's internal keeper join is then the identity) —
      // the streaming twin extracts every fetched doc at ingest and
      // lets the same join restrict at the head
      val keepers = urls.filter(col("url_canon").isNotNull)
        .groupBy(col("url_canon")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val blocks = TextAnalysis.htmlBlocksLocal(
          TextAnalysis.htmlSyntheticPage(
            docs.join(keepers, "doc_id"), "doc_id", "text"),
          "doc_id", "page")
        .filter(col("kept"))
        .select(col("doc_id"), col("block_idx"), col("block_text"))
      graft.ext.Curation.webAssembleExport(urls, blocks,
        docs.select(col("doc_id"), col("source")), "doc_id")
    }),

    // ...the same final training-data export driven from WEB LEDGERS
    // maintained at ingest: each tick canonicalizes its URLs (typed
    // kernel + verdict) and renders/extracts/gates its pages' blocks
    // EXACTLY ONCE, appending url/block/meta state under the
    // idempotent batch=<id> discipline; the head derives the global
    // URL- and paragraph-keeper rules from the SUMMED ledgers (hash
    // aggregations — pages are never re-rendered) and runs the
    // IDENTICAL Curation.webAssembleExport tail. Shares
    // q_pipeline_web's oracle cell-exactly: the at-ingest extraction
    // statistics provably compose into the same export.
    "q_pipeline_web_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_webs_")
      try
        Streaming.webStreamAvailableNow(s, dir, tmp.toString,
            Streaming.nextQueryName("graft_webs"))
          .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // The INCREMENTAL capstone: the same corpus→training-shards
    // pipeline, but driven per tick from MAINTAINED LEDGERS instead of
    // a batch pass — documents stream in two micro-batches; each tick
    // (1) gates its own rows (language + quality, evaluated exactly
    // once, at ingest), (2) appends the gated rows and their SimHash
    // signatures to idempotent batch=<id> stores (the signature IS the
    // dedup verify statistic — history is never re-shingled OR re-read),
    // (3) finds batch-touching near-dup pairs by probing the stored
    // signature ledger and folds them into the node-sized cluster-label
    // snapshot. The head then runs the identical mixture→BPE→pack→
    // export tail over the accumulated state. Gated cell-exact against
    // the batch q_pipeline_export composition (SHARED oracle): the
    // at-ingest statistics provably compose into the same final
    // training-data product, which is the whole point of maintaining
    // them.
    "q_pipeline_incremental" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_pinc_")
      try {
        Streaming.pipelineIncrementalAvailableNow(s, dir, tmp.toString,
            Streaming.nextQueryName("graft_pinc"))
          .localCheckpoint(true)
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // The capstone composition: curated survivors (language gate →
    // quality gate → cluster dedup → deterministic split) packed into
    // fixed-token-budget training bins, split-scoped so no bin mixes
    // train and val. This is the full corpus→training-shards pipeline
    // in one lazy plan — gates shed rows before any shuffle, dedup
    // touches survivors only, and packing adds exactly one shuffle on
    // (split, shard) — with the bin layout itself under the oracle.
    "q_pack_curated" -> ((s, dir) => {
      val surv = graft.ext.Curation.curate(Tables.read(s, dir, "documents"),
          "doc_id", "text", lang = "en", minQuality = 60.0)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("split"))
      graft.ext.Packing.packSequences(surv, "doc_id", "n_tokens",
          budget = 256L, shards = 4, extraKeys = Seq("split"))
        .groupBy(col("split"), col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("bin_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("split"), col("shard"), col("bin"))
    }),

    "q_dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingDupPairs(Tables.read(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))),

    // The bucketed (no-collect) scale path: same near-dup contract, but
    // candidates restricted to pairs sharing an LSH bucket in any band.
    "q_dedup_embedding_lsh" -> ((s, dir) =>
      Dedup.embeddingDupPairsLsh(Tables.read(s, dir, "embeddings"),
          "vec_id", "embedding", threshold = 0.4, nPlanes = 4, bands = 4)
        .orderBy(col("id_a"), col("id_b"))),

    // SemDeDup: semantic near-dup pairs via integer-exact k-means
    // cells — pairs compared only within a cell (Σ|cell|² work, not
    // n²). The cells replay cell-exact in the oracle, so the pair set
    // is deterministic; cosines score the original float vectors.
    "q_dedup_semantic" -> ((s, dir) =>
      Dedup.semanticDupPairs(Tables.read(s, dir, "embeddings"),
          "vec_id", "embedding", k = 8, iterations = 2, threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))),

    // ── Extension scope: similarity search (SURVEY §7.5) ───────────────
    // Embedding-space eval contamination: eval slice (vec_id ≡ 0 mod
    // 37) vs the train rest, top-1 cosine, flag ≥ 0.999. The synthetic
    // vectors have no natural near-dups, so the gate PLANTS them
    // (the q_mojibake/cdcFeed precedent): every second eval vector is
    // replaced by an exact copy of its successor train vector, whose
    // cosine is exactly 1.0 on both engines.
    "q_contamination_embed" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      val train = emb.filter(col("vec_id") % 37 =!= 0)
      val evalSet = emb.filter(col("vec_id") % 37 === 0)
        .join(emb.select((col("vec_id") - 1).as("join_id"),
          col("embedding").as("plant")),
          col("vec_id") === col("join_id"), "left")
        .select(col("vec_id"),
          when(col("vec_id") % 74 === 0 && col("plant").isNotNull,
            col("plant")).otherwise(col("embedding")).as("embedding"))
      Similarity.knnBruteForce(train, evalSet, "vec_id", "embedding", k = 1)
        .select(col("query_id"), col("nn_id"), col("cos_sim"),
          (col("cos_sim") >= 0.999).cast("long").as("contaminated"))
        .orderBy(col("query_id"))
    }),

    "q_knn_bruteforce" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.knnBruteForce(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("nn_id"), col("cos_sim"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Matryoshka truncation eval (Kusupati et al. 2022): how much of
    // the full-dimension top-5 survives when the index stores only the
    // leading 32 of 64 dims — the storage/recall knob an embedding
    // store tunes. Per query: overlap count + recall ppm between the
    // full-dim and truncated-dim brute-force top-5 sets (both
    // rank-deterministic: rounded cosine, id tiebreak).
    "q_ann_matryoshka" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      def trunc(df: DataFrame) = df.select(col("vec_id"),
        slice(col("embedding"), 1, 32).as("embedding"))
      val q = emb.filter(col("vec_id") < 8)
      val full = Similarity.knnBruteForce(emb, q,
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("nn_id"))
      val half = Similarity.knnBruteForce(trunc(emb), trunc(q),
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("nn_id"), lit(1L).as("hit"))
      full.join(half, Seq("query_id", "nn_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          coalesce(sum(col("hit")), lit(0L)).as("n_overlap"))
        .select(col("query_id"), col("k"), col("n_overlap"),
          expr("1000000 * n_overlap div k").as("recall_ppm"))
        .orderBy(col("query_id"))
    }),

    "q_knn_ivf" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.knnIvf(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("nn_id"), col("cos_sim"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // STREAMING ANN-index maintenance: tick 0 freezes the centroids,
    // every tick appends its own cell assignments to the inverted
    // lists; probing the accumulated index must equal the batch
    // build-and-search — shared oracle. Per-tick cost tracks the tick;
    // existing vectors are never re-assigned.
    "q_knn_ivf_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivfs_")
      try
        Streaming.knnIvfStreamAvailableNow(s, dir, tmp.toString,
            Streaming.nextQueryName("graft_ivfs"))
          .select(col("query_id"), col("rank").cast("long").as("rank"),
            col("nn_id"), col("cos_sim"))
          .orderBy(col("query_id"), col("rank"))
          .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    "q_knn_lsh" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      Similarity.knnLsh(emb, emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, nPlanes = 4)
        .select(col("query_id"), col("bucket"),
          col("rank").cast("long").as("rank"), col("nn_id"), col("cos_sim"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Hybrid retrieval: BM25 keyword top-20 fused with embedding kNN
    // top-20 (embeddings align 1:1 with documents) by reciprocal-rank
    // fusion — 1e-6-quantized contributions, so the fused order is
    // engine-exact. The modern search stack's first-stage shape.
    "q_hybrid_rrf" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val emb = Tables.read(s, dir, "embeddings")
      val kwW = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id"))
      // the rank window runs on the already-top-20 relation — 20 rows,
      // not the corpus
      val kw = TextAnalysis.bm25(docs, "doc_id", "text",
          Seq("spark", "merge", "window"), topK = 20)
        .withColumn("rank", row_number().over(kwW).cast("long"))
        .select(col("doc_id"), col("rank"))
      val vr = Similarity.knnBruteForce(emb,
          emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = 20)
        .select(col("nn_id").as("doc_id"),
          col("rank").cast("long").as("rank"))
      Similarity.rrfFuse(Seq(kw, vr), "doc_id", topK = 10)
        .select(col("doc_id"), col("rrf_e6"), col("n_lists"))
        .orderBy(col("rrf_e6").desc, col("doc_id"))
    }),

    // ANN-pipeline evaluation: LSH and IVF top-5 scored against the
    // exact brute-force top-5 as ground truth — per-query hit counts,
    // the tuning harness for nPlanes/nProbes (the ANN analog of
    // q_dedup_recall). Composes three proven, oracle-gated rankings.
    "q_ann_recall" -> ((s, dir) => {
      val emb = Tables.read(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 8)
      val brute = Similarity.knnBruteForce(emb, queries, "vec_id",
        "embedding", k = 5).select(col("query_id"), col("nn_id"))
      def recall(approx: org.apache.spark.sql.DataFrame, name: String) =
        brute.join(approx.withColumn("hit", lit(1L)),
            Seq("query_id", "nn_id"), "left")
          .groupBy(col("query_id"))
          .agg(count(lit(1)).as("n_true"),
            sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
          .withColumn("method", lit(name))
      recall(Similarity.knnLsh(emb, queries, "vec_id", "embedding",
          k = 5, nPlanes = 4).select(col("query_id"), col("nn_id")), "lsh")
        .unionByName(
          recall(Similarity.knnIvf(emb, queries, "vec_id", "embedding",
            k = 5).select(col("query_id"), col("nn_id")), "ivf"))
        .select(col("method"), col("query_id"), col("n_true"),
          col("n_hit"))
        .orderBy(col("method"), col("query_id"))
    }),

    // ── Extension scope: multimodal binary columns (SURVEY §7.5) ───────
    "q_media_frames" -> ((s, dir) =>
      Multimodal.framesWithBytes(
          Multimodal.packDocuments(Tables.read(s, dir, "documents"),
            "doc_id", "text"), n = 4)
        .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("frame_len"), col("frame_md5"))
        .orderBy(col("media_id"), col("frame_idx"))),

    // Real image decode: each document's bytes packed into a VALID
    // binary PPM (P6) via pure expressions, then parsed back by a real
    // header scanner — width/height/maxval come from the HEADER BYTES,
    // the mean/checksum from the pixel payload. The oracle recomputes
    // the identical header+payload arithmetic from the source text, so
    // a parser that misreads any field hash-mismatches.
    "q_media_features" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      Multimodal.decodePpm(
          Multimodal.packPpm(Tables.read(s, dir, "documents"),
            "doc_id", "text", width = 16).as[MediaRecord])
        .toDF()
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("maxval").cast("long").as("maxval"),
          col("n_pixels"), r6(col("mean_px")).as("mean_px"),
          col("checksum"))
        .orderBy(col("media_id"))
    }),

    // Real 2-D nearest-neighbor image downscale: every second pixel of
    // every second row, re-encoded as a VALID P6 whose md5 the oracle
    // reproduces by sampling the same source bytes and hashing the
    // rebuilt small file — decode → transform → re-encode, gated on
    // the exact output BYTES, not just stats.
    "q_media_resize" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      Multimodal.ppmResize(
          Multimodal.packPpm(Tables.read(s, dir, "documents"),
            "doc_id", "text", width = 16).as[MediaRecord],
          factor = 2)
        .orderBy(col("media_id"))
    }),

    // Perceptual image hash: all-integer 8×8 average-hash recomputed
    // byte-for-byte by the oracle from the same payload (hex string —
    // the unsigned 64-bit form both engines can build exactly).
    "q_media_ahash" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      Multimodal.ppmAHash(
          Multimodal.packPpm(Tables.read(s, dir, "documents"),
            "doc_id", "text", width = 16).as[MediaRecord])
        .select(col("media_id"),
          format_string("%016x", col("ahash")).as("ahash_hex"))
        .orderBy(col("media_id"))
    }),

    // Image near-dup pairs: the aHash relation through the pigeonhole
    // chunk join (Hamming ≤ 7 ⇒ some byte chunk agrees) — the same
    // no-all-pairs machinery as SimHash, now over image fingerprints.
    "q_media_ahash_pairs" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      graft.ext.Dedup.hammingDupPairs(
          Multimodal.ppmAHash(
            Multimodal.packPpm(Tables.read(s, dir, "documents"),
              "doc_id", "text", width = 16).as[MediaRecord]),
          "media_id", "ahash", maxHamming = 7)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Perceptual AUDIO hash: the image aHash's sibling over the 8-bit
    // PCM stream — 64 equal-count segments, floor-mean thresholding,
    // all-integer; the oracle rebuilds the same grid from the bytes.
    "q_media_wavhash" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      Multimodal.wavAHash(
          Multimodal.packWav(Tables.read(s, dir, "documents"),
            "doc_id", "text", sampleRate = 8000).as[MediaRecord])
        .select(col("media_id"),
          format_string("%016x", col("ahash")).as("ahash_hex"))
        .orderBy(col("media_id"))
    }),

    // Audio near-dup pairs: the wav-hash relation through the same
    // pigeonhole chunk join as SimHash/image pairs — no all-pairs.
    // The corpus carries an exact re-encode of every 7th document
    // under a shifted id, so identical payloads prove the Hamming-0
    // path at every scale factor.
    "q_media_wavhash_pairs" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      val docs = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("text"))
      val echoed = docs.unionByName(
        docs.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000000L)))
      graft.ext.Dedup.hammingDupPairs(
          Multimodal.wavAHash(
            Multimodal.packWav(echoed, "doc_id", "text",
              sampleRate = 8000).as[MediaRecord]),
          "media_id", "ahash", maxHamming = 7)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Real audio decimation: every 2nd sample of the 8-bit mono PCM
    // stream, re-encoded as a VALID RIFF/WAVE at half the sample rate
    // — the data-chunk md5 gates the exact kept bytes.
    "q_media_decimate" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      Multimodal.wavDecimate(
          Multimodal.packWav(Tables.read(s, dir, "documents"),
            "doc_id", "text", sampleRate = 8000).as[MediaRecord],
          factor = 2)
        .select(col("media_id"), col("rate_small"),
          col("n_samples_small"), col("sum_small"), col("data_md5"))
        .orderBy(col("media_id"))
    }),

    // Real audio decode: the same corpus packed as VALID 8-bit mono
    // RIFF/WAVE PCM files (LE size fields built by expression), parsed
    // back by a real chunk walker — channels/rate/bits come from the
    // fmt CHUNK BYTES, sample stats from the data chunk.
    // Sobel gradient energy over REAL PPM pixel bytes — the image-DSP
    // sibling of the tone probe: integer |gx|+|gy| over r+g+b
    // luminance, the flat-vs-noisy image signal a curation pipeline
    // thresholds. Pure integer arithmetic, partition-local kernel.
    "q_media_gradient" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      Multimodal.ppmGradient(
          Multimodal.packPpm(Tables.read(s, dir, "documents"),
            "doc_id", "text", width = 16).as[MediaRecord])
        .toDF()
        .orderBy(col("media_id"))
    }),

    // Single-bin integer DFT tone probe over REAL WAV sample bytes:
    // 1e-4-quantized twiddles keep the correlation sums exact longs,
    // so a genuine DSP feature (not header metadata) replays
    // engine-exactly. Partition-local kernel, no shuffle.
    "q_media_tone" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      Multimodal.wavTone(
          Multimodal.packWav(Tables.read(s, dir, "documents"),
            "doc_id", "text", sampleRate = 8000).as[MediaRecord],
          cycles = 8)
        .toDF()
        .orderBy(col("media_id"))
    }),

    "q_media_wav" -> ((s, dir) => {
      val sp = s
      import sp.implicits._
      Multimodal.decodeWav(
          Multimodal.packWav(Tables.read(s, dir, "documents"),
            "doc_id", "text", sampleRate = 8000).as[MediaRecord])
        .toDF()
        .select(col("media_id"),
          col("channels").cast("long").as("channels"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("bits_per_sample").cast("long").as("bits_per_sample"),
          col("n_samples"), r6(col("mean_amp")).as("mean_amp"),
          col("checksum"))
        .orderBy(col("media_id"))
    }),

  )
}
