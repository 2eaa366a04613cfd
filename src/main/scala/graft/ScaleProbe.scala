package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Empirical scale probe behind SCALING.md's measured section: the
  * 100 TB claims elsewhere rest on plan-shape arguments (bucketed
  * candidate generation, broadcast-sized state, partial aggregation);
  * this main MEASURES them by timing the headline families on
  * seed-deterministic corpora at two scales (tools/gen_scale_corpus.py
  * writes sf0.1-shaped tables at 1× and 10×) and printing one JSON
  * line of per-op seconds, output rows, and the 10×/1× growth ratio.
  *
  * Linear-ish growth (ratio ≈ 10, modulo fixed costs that amortize)
  * validates the bucketed design; a super-linear ratio flags a
  * candidate-generation blow-up that plan reading missed. Output-row
  * counts are printed because some ops' WORK is intrinsically
  * super-linear when the duplicate structure grows with the corpus
  * (e.g. planted dup clusters generate pairs quadratically in cluster
  * size) — the reader needs both numbers to attribute a ratio.
  *
  * Usage: `runMain graft.ScaleProbe <dir1x> <dir10x>`; each dir holds
  * documents.parquet + embeddings.parquet.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val (dir1, dir10) = (args(0), args(1))
    val spark = DriverSession.session(DriverSession.cpus())

    def docs(d: String) = spark.read.parquet(s"$d/documents.parquet")
    def embs(d: String) = spark.read.parquet(s"$d/embeddings.parquet")

    import graft.ext.{Curation, Dedup, Sampling, Similarity}
    // 200 deterministic 2-word phrases drawn from the corpus's own
    // bigrams (so hits actually occur); cached per dir, shared by both
    // blocklist forms so the mint cost cancels in the comparison
    val phraseCache = scala.collection.mutable.Map.empty[String, Seq[String]]
    def phrases200(d: String): Seq[String] =
      phraseCache.getOrElseUpdate(d, {
        docs(d).filter(size(split(col("text"), " ")) >= 2)
          .select(explode(expr("transform(sequence(1, size(split(text, ' ')) - 1), " +
            "i -> concat_ws(' ', slice(split(text, ' '), i, 2)))")).as("p"))
          .distinct().orderBy(col("p")).limit(200)
          .collect().map(_.getString(0)).toSeq
      })
    // the ledgers the probe arms READ as maintained state: written to
    // parquet once per (ledger, dir), outside every timed region and
    // out of the per-op sweep's reach; deleted at exit
    val stored = scala.collection.mutable.Map.empty[(String, String), String]
    def storeOnce(name: String, d: String)(build: => DataFrame): String =
      stored.getOrElseUpdate((name, d), {
        val out = java.nio.file.Files
          .createTempDirectory(s"graft_${name}_").toString
        build.write.mode("overwrite").parquet(out)
        out
      })
    // the 90%-corpus label ledger: the incremental probe must time the
    // FOLD, not the ledger build
    def labels90(d: String): DataFrame =
      spark.read.parquet(storeOnce("labels", d)(
        Dedup.dupClusters(Dedup.minhashDupPairs(
          docs(d).filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", threshold = 0.5))))
    // the band ledger over the corpus side (doc_id >= 500): the probe
    // arm times a READ of maintained state + the batch-sized probe
    def bandLedger(d: String): String =
      storeOnce("bands", d)(Dedup.minhashBandRelation(
        docs(d).filter(col("doc_id") >= 500), "doc_id", "text"))
    // the simhash signature ledger over the corpus side — for SimHash
    // the 60-bit signature alone is the verify statistic, so the probe
    // arm's whole corpus-side footprint is a 16-byte-per-doc parquet
    // read (no text, not even for candidates)
    def sigLedger(d: String): String =
      storeOnce("sigs", d)(Dedup.simhashSignaturesLocal(
        docs(d).filter(col("doc_id") >= 500), "doc_id", "text"))
    val ops: Seq[(String, String => DataFrame)] = Seq(
      // the signature-ledger scale claim, measured directly: a FIXED
      // 500-doc batch (same ids at both scales) dedups against a
      // corpus that grows 10× underneath it. The ledger-probe arm
      // should stay FLAT (per-tick cost tracks the batch: batch
      // hashing + a band-key join against stored state + a
      // candidate-semi-joined verify); the re-shingle arm pays the
      // corpus k-min hash pass every call and should grow ~linearly.
      "band_ledger_fixed_batch" -> (d =>
        Dedup.minhashDupPairsFromLedger(
          docs(d).filter(col("doc_id") < 500),
          spark.read.parquet(bandLedger(d)),
          docs(d).filter(col("doc_id") >= 500),
          "doc_id", "text", threshold = 0.5)),
      "dedup_reshingle_fixed_batch" -> (d =>
        Dedup.minhashDupPairsIncremental(
          docs(d).filter(col("doc_id") < 500),
          docs(d).filter(col("doc_id") >= 500),
          "doc_id", "text", threshold = 0.5)),
      // the pipeline ledger's SimHash twin: stored 16-byte signatures
      // probed by a fixed batch (flat arm) vs re-signaturing the whole
      // corpus side per call (growing arm) — same output pairs
      "sig_ledger_fixed_batch" -> (d =>
        Dedup.simhashDupPairsFromLedger(
          docs(d).filter(col("doc_id") < 500),
          spark.read.parquet(sigLedger(d)),
          "doc_id", "text")),
      "simhash_reshingle_fixed_batch" -> (d =>
        Dedup.simhashDupPairsFromLedger(
          docs(d).filter(col("doc_id") < 500),
          Dedup.simhashSignaturesLocal(
            docs(d).filter(col("doc_id") >= 500), "doc_id", "text"),
          "doc_id", "text")),
      "dedup_minhash" -> (d =>
        Dedup.minhashDupPairs(docs(d), "doc_id", "text", threshold = 0.5)),
      "dedup_ngram" -> (d =>
        Dedup.ngramDupPairs(docs(d), "doc_id", "text", "n_chars",
          threshold = 0.5)),
      "dedup_embedding_lsh_fixed4" -> (d =>
        Dedup.embeddingDupPairsLsh(embs(d), "vec_id", "embedding",
          threshold = 0.95)),
      // the scaled geometry the operator's scaladoc prescribes:
      // nPlanes = log2(corpus / bucket-target), re-sized per corpus
      "dedup_embedding_lsh_scaled" -> { d =>
        val e = embs(d)
        Dedup.embeddingDupPairsLsh(e, "vec_id", "embedding",
          threshold = 0.95, nPlanes = Dedup.lshPlanesFor(e.count()))
      },
      "knn_ivf" -> { d =>
        val e = embs(d)
        Similarity.knnIvf(e, e.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5)
      },
      "knn_pq" -> { d =>
        val e = embs(d)
        Similarity.knnPq(e, e.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 5, m = 4, kSub = 8, iterations = 2)
      },
      "substring_contamination" -> { d =>
        val t = docs(d).withColumn("split",
          Sampling.splitLabel(col("doc_id"),
            Seq("train" -> 80, "val" -> 90), lastLabel = "test"))
        Curation.substringContamination(
          t.filter(col("split") === "train"),
          t.filter(col("split") === "test"),
          "doc_id", "text", minLen = 31)
      },
      // longer windows → sparser true matches: if contamination's
      // growth is output-bound (not candidate-bound), this variant's
      // time ratio should fall with its match count
      "substring_contamination_len95" -> { d =>
        val t = docs(d).withColumn("split",
          Sampling.splitLabel(col("doc_id"),
            Seq("train" -> 80, "val" -> 90), lastLabel = "test"))
        Curation.substringContamination(
          t.filter(col("split") === "train"),
          t.filter(col("split") === "test"),
          "doc_id", "text", minLen = 95)
      },
      "bpe_train" -> (d =>
        graft.ext.Bpe.bpeTrain(docs(d), "text", numMerges = 8)),
      // the incremental cluster fold: labels are the PRE-WARMED ledger
      // (at real scale a maintained relation, not a recompute — cached
      // below so the probe times the per-ingest arm), so the timed
      // work is batch-touching pair generation + CC over node-sized
      // star edges + batch pairs. NB the pair arm still shingles the
      // corpus side here; a production ledger stores band signatures,
      // so this number UPPER-bounds the per-ingest cost.
      "cluster_incremental" -> (d =>
        Dedup.dupClustersIncremental(labels90(d),
          Dedup.minhashDupPairsIncremental(
            docs(d).filter(col("doc_id") % 10 === 0),
            docs(d).filter(col("doc_id") % 10 =!= 0),
            "doc_id", "text", threshold = 0.5))),
      // the blocklist pattern-count claim: at 200 phrases the
      // Aho-Corasick pass (one automaton walk per doc) vs the
      // compositional BNLJ (200 instr probes per doc) — corpus growth
      // is linear for both, the gap is the per-row constant
      "blocklist_ac200" -> (d =>
        Curation.blocklistHits(docs(d), "doc_id", "text", phrases200(d))),
      "blocklist_join200" -> (d =>
        Curation.blocklistHitsJoin(docs(d), "doc_id", "text",
          phrases200(d))),
      // PPJoin's claim: candidates bound by rare-prefix fan-out, never
      // all-pairs. CAVEAT measured here on purpose: the probe corpus
      // is word-salad over a 30-WORD vocabulary, so "rarest token of
      // each doc" still lands in thousands of prefixes — the filter's
      // candidate bound assumes a natural long-tail vocabulary. The
      // probe therefore runs the gated query's deterministic fifth
      // (full-corpus 10× on this degenerate vocabulary fans out
      // ~vocab·(N·pfx/vocab)² candidate rows — the data's shape, not
      // the operator's); the time ratio still reads candidate growth.
      "dedup_ppjoin_fifth" -> (d =>
        Dedup.ppjoinDupPairs(docs(d).filter(col("doc_id") % 5 === 0),
          "doc_id", "text", tNum = 9, tDen = 10)),
      // winnowing is embarrassingly per-doc (deque kernel, no shuffle
      // before the census aggregate): time should track corpus size
      "winnow_census" -> (d =>
        Dedup.winnowFingerprintsLocal(docs(d), "doc_id", "text", 16, 16)
          .groupBy(col("id"))
          .agg(count(lit(1)).as("n_fp"))),
      // balanced sharding is one band-partitioned rank window over the
      // doc-count relation — time should track corpus size; the salted
      // form adds only the broadcast-sized offset lift
      "pack_balanced_salted" -> (d =>
        graft.ext.Packing.packBalanced(
          docs(d).select(col("doc_id"),
            size(split(col("text"), " ", -1)).cast("long").as("n_tokens")),
          "doc_id", "n_tokens", shards = 8, saltBuckets = 16)),
      // the overlap detector's df gate is the fan-out ceiling: pairs
      // may grow with planted duplication, candidates may not exceed
      // df²/2 per fingerprint
      "winnow_overlap" -> (d =>
        Dedup.winnowOverlapPairs(docs(d), "doc_id", "text", 16, 16,
          minShared = 4, maxFpDf = 20)))

    // iteration aid: SPARK_GRAFT_ONLY=op_a,op_b probes just those ops.
    // Unknown names fail fast (Bench's rule): a typo must not select
    // zero ops and report an empty probe as a clean run
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(ops) { names =>
      val missing = names.diff(ops.map(_._1).toSet)
      require(missing.isEmpty, s"SPARK_GRAFT_ONLY unknown: $missing")
      ops.filter(o => names(o._1))
    }

    // one untimed warm-up pass on the SMALL corpus absorbs session
    // costs (codegen, JIT, parquet footers) so ratios compare steady
    // states, mirroring Bench's min-of-2 discipline; the 10x phrase
    // mint is pre-paid too so neither blocklist form times it
    if (selected.exists(_._1.startsWith("blocklist"))) phrases200(dir10)
    if (selected.exists(_._1 == "cluster_incremental"))
      { labels90(dir1); labels90(dir10); () }
    if (selected.exists(_._1 == "band_ledger_fixed_batch"))
      { bandLedger(dir1); bandLedger(dir10); () }
    if (selected.exists(_._1 == "sig_ledger_fixed_batch"))
      { sigLedger(dir1); sigLedger(dir10); () }
    selected.foreach { case (_, f) => f(dir1).write.format("noop")
      .mode("overwrite").save() }

    def timed(f: => DataFrame): (Double, Long) = {
      val t0 = System.nanoTime()
      val df = f
      val n = df.count()
      ((System.nanoTime() - t0) / 1e9, n)
    }

    val results = selected.map { case (name, f) =>
      val (s1, n1) = timed(f(dir1))
      val (s10, n10) = timed(f(dir10))
      DriverSession.sweep(spark)
      (name, s1, n1, s10, n10)
    }

    val body = results.map { case (name, s1, n1, s10, n10) =>
      val ratio = if (s1 > 0) s10 / s1 else -1.0
      f""""$name":{"s_1x":$s1%.2f,"rows_1x":$n1,"s_10x":$s10%.2f,"rows_10x":$n10,"time_ratio":$ratio%.2f}"""
    }.mkString(",")

    // CANDIDATE census of the signature-ledger probe under both
    // fingerprint geometries (Dedup.requireGeometry): the honest
    // asymptotic caveat on the sig ledger is that chunk-collision
    // candidates grow linearly with stored history even at fixed batch
    // size — this measures the constant the geometry knob sets
    // (2^16 buckets per chunk position at 4x16 vs 2^8 at 8x8) instead
    // of asserting it. maxHamming = 3 on both arms so the verified
    // pair set is identical and only the candidate volume moves.
    // Candidate:pair ratio is the degradation guard: a corpus whose
    // bucket occupancy collapses (boilerplate signatures piling into
    // few chunk keys) shows up HERE as a ratio blow-up, not as a
    // silent slowdown in some downstream tick.
    val candBody =
      if (selected.exists(_._1 == "sig_ledger_fixed_batch")) {
        val geos = Seq(("geo_8x8", 8, 8), ("geo_4x16", 4, 16))
        // the batch signatures are geometry-independent — compute the
        // 500-doc kernel once per dir, not once per (geometry, count,
        // scored) consumer
        val batchSigCache = Seq(dir1, dir10).map { d =>
          d -> Dedup.simhashSignaturesLocal(
              docs(d).filter(col("doc_id") < 500), "doc_id", "text")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        }.toMap
        val stats = for ((gname, ch, bits) <- geos) yield {
          val per = Seq(dir1, dir10).map { d =>
            val batchSig = batchSigCache(d)
            val ledger = spark.read.parquet(sigLedger(d))
            val (nb, nl) = (batchSig.count(), ledger.count())
            val (cand, pairs) = Dedup.simhashLedgerCandidateStats(
              batchSig, ledger, "doc_id",
              maxHamming = 3, chunks = ch, chunkBits = bits)
            // (no clearCache here — it would drop the hoisted batch
            // signatures; the stats call unpersists its own scored
            // relation in a finally)
            // the loose occupancy guard: under uniform bucket
            // occupancy the expected candidate count is
            // chunks·(batch·ledger + batch²/2)/2^chunkBits plus one
            // row per true near-dup chunk agreement; planted dups and
            // a skewed vocabulary land 3-6× over that on these corpora
            // — 20× is DEGRADATION (signatures piling into few chunk
            // keys). The probe RECORDS the blow-up as a flagged field
            // (a legitimately skewed corpus must not abort the run and
            // lose every other arm's measurement); the loud `require`
            // lives in the production ingest path
            // ([[graft.ext.Dedup.requireLedgerOccupancy]]), where a
            // degraded tick has no artifact to land in. The
            // LINEAR-in-ledger term itself is the documented caveat —
            // the bound scales with it on purpose, flagging only a
            // collapsing bucket distribution.
            val analytic = ch.toDouble *
              (nb.toDouble * nl + nb.toDouble * nb / 2) / (1L << bits)
            val bound = 20.0 * analytic + 100.0 * math.max(pairs, 1L)
            (cand, pairs, if (bound > 0) cand / bound else 0.0)
          }
          val ((c1, p1, o1), (c10, p10, o10)) = (per(0), per(1))
          val degraded = o1 > 1.0 || o10 > 1.0
          s""""$gname":{"cand_1x":$c1,"pairs_1x":$p1,"cand_10x":$c10,""" +
            s""""pairs_10x":$p10,"cand_ratio":${if (c1 > 0)
              f"${c10.toDouble / c1}%.2f" else "-1"},""" +
            f""""cand_over_bound_1x":$o1%.3f,""" +
            f""""cand_over_bound_10x":$o10%.3f,"degraded":$degraded}"""
        }
        batchSigCache.values.foreach(_.unpersist())
        spark.catalog.clearCache()
        // full-corpus candidate mass across the three constructions at
        // the SAME pair set (h=3): single-field 8x8 and 4x16 (via the
        // ledger census with an empty ledger — internal pairs only)
        // vs the Manku 20-table 30-bit-key construction. This is the
        // knob's whole trade surface on one corpus.
        val corpusStats = Seq(dir1, dir10).map { d =>
          val sig = Dedup
            .simhashSignaturesLocal(docs(d), "doc_id", "text")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val empty = sig.limit(0)
          val g88 = Dedup.simhashLedgerCandidateStats(sig, empty,
            "doc_id", maxHamming = 3)
          val g416 = Dedup.simhashLedgerCandidateStats(sig, empty,
            "doc_id", maxHamming = 3, chunks = 4, chunkBits = 16)
          val mt = Dedup.simhashMultiTableCandidateStats(sig, "doc_id",
            maxHamming = 3)
          sig.unpersist()
          spark.catalog.clearCache()
          (g88, g416, mt)
        }
        val corpusBody = Seq("geo_8x8" -> corpusStats.map(_._1),
            "geo_4x16" -> corpusStats.map(_._2),
            "tables_6x10x3" -> corpusStats.map(_._3))
          .map { case (n, Seq((c1, p1), (c10, p10))) =>
            s""""$n":{"cand_1x":$c1,"pairs_1x":$p1,"cand_10x":$c10,"pairs_10x":$p10}""" }
          .mkString(",")
        s""","sig_ledger_candidates":{${stats.mkString(",")}},""" +
          s""""corpus_candidates":{$corpusBody}"""
      } else ""
    println(s"""{"metric":"scale_probe","ops":{$body}$candBody}""")
    stored.values.foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    spark.stop()
  }
}
