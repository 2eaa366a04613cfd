package graft

import graft.analytics.Habits
import graft.config.{EtlConfig, HabitSpec}
import graft.ext.{Assoc, Classify, Dedup, History, MediaRecord, Multimodal, Similarity, Skew, TextAnalysis}
import graft.functions.Aggregators
import graft.load.Merge
import graft.streaming.Streaming
import graft.transform.HabitTransform
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryHelpers._

/** Scale-workload joins/aggs/windows over the TPC-H-ish tables + text analysis (SURVEY §7.5) — one slice of [[SparkEntry.queries]], split from the monolithic
  * registry for maintainability (no behavior change). Conventions for
  * hash-stable compares are documented on [[SparkEntry]]. */
private[graft] object QueriesScaleText {
  val map: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ── Scale workload: joins / aggs / window top-k over TPC-H-ish ─────
    "q1_pricing_summary" -> ((s, dir) =>
      Tables.read(s, dir, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00"))
          .cast("timestamp_ntz"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        // large-magnitude sums round to 2 dp: at ~1e9 magnitude the
        // engines' different summation orders disagree beyond 6 dp
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          r6(avg(col("l_quantity"))).as("avg_qty"),
          r6(avg(col("l_discount"))).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // Correlated subquery through spark.sql — Catalyst decorrelates it
    // into an aggregate + join (no per-row re-execution).
    "q_above_avg_orders" -> ((s, dir) => {
      Tables.read(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_custkey, count(*) AS n_above, round(max(o_totalprice), 6)
          AS max_price
        FROM orders_v o
        WHERE o_totalprice > (SELECT avg(o2.o_totalprice) FROM orders_v o2
                              WHERE o2.o_custkey = o.o_custkey)
        GROUP BY o_custkey ORDER BY o_custkey""")
    }),

    "q_revenue_by_nation" -> ((s, dir) => {
      val orders = Tables.read(s, dir, "orders")
      val customer = Tables.read(s, dir, "customer")
      val nation = Tables.read(s, dir, "nation")
      // orders⋈customer co-shuffle on custkey (both scale with SF);
      // nation is a fixed 25-row dim — always broadcast.
      orders.join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("n_name"))
    }),

    // TPC-H Q3 shape: three filtered fact/dim scans meet on equi-joins,
    // revenue per urgent order, distributed top-10. Every filter sits
    // below its join; customer is NOT force-broadcast (it scales with
    // SF — segment-filtered it still reaches 3e9 rows at 100 TB, so
    // the shuffle-vs-broadcast call belongs to stats/AQE, not the
    // query author).
    "q_shipping_priority" -> ((s, dir) => {
      val c = Tables.read(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.read(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1996-03-15"))
      val l = Tables.read(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1996-03-15"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") *
          (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderdate"),
          col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("revenue"),
          ntz(col("o_orderdate")).as("o_orderdate"),
          col("o_orderpriority"))
    }),

    // TPC-H Q5 shape: the six-table "local supplier" join — the
    // customer and the supplier must share a nation, expressed as a
    // second equality on the supplier join. The two fixed-size dims
    // (nation 25, region 5) broadcast explicitly; the SF-scaled
    // relations co-shuffle on their keys and Catalyst orders them.
    "q_local_supplier_revenue" -> ((s, dir) => {
      val o = Tables.read(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
      val r = Tables.read(s, dir, "region")
        .filter(col("r_name") === "ASIA")
      Tables.read(s, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.read(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.read(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.read(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") *
          (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    "q_top_orders_per_segment" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val orders = Tables.read(s, dir, "orders")
      val customer = Tables.read(s, dir, "customer")
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders.join(customer, col("o_custkey") === col("c_custkey"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("c_mktsegment"), col("rank").cast("long").as("rank"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_mktsegment"), col("rank"))
    }),

    // Columnar-format breadth: the event store round-trips through ORC
    // (Spark's other built-in columnar format) — types, timestamps, and
    // aggregates must survive the format change bit-exact vs the oracle
    // reading the original parquet.
    "q_orc_roundtrip" -> ((s, dir) => {
      // per-process (pid) + per-sfDir path: stable within a process so
      // repeated runs overwrite in place, yet two concurrent processes
      // (e.g. Verify and Bench) can never clobber each other mid-query
      val path = s"${sys.props("java.io.tmpdir")}/graft_orc_" +
        s"${ProcessHandle.current().pid()}_" +
        java.lang.Integer.toHexString(dir.hashCode)
      Tables.eventsAsHabits(s, dir)
        .select(col("event_id"), col("ts"), col("user_email"),
          col("habit"), col("value"))
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .groupBy(col("habit"))
        .agg(count(lit(1)).as("n"), r6(avg(col("value"))).as("avg_value"),
          max(col("ts")).as("last_ts"))
        .select(col("habit"), col("n"), col("avg_value"),
          ntz(col("last_ts")).as("last_ts"))
        .orderBy(col("habit"))
    }),

    // JSON-lines round-trip — the interchange format training corpora
    // actually ship in. Timestamps ride as ISO-8601 strings (JSON has
    // no timestamp type) and are re-parsed on read with an explicit
    // schema-less scan + cast, so the aggregate must survive
    // format → text → format unchanged vs the parquet-reading oracle.
    "q_jsonl_roundtrip" -> ((s, dir) => {
      val path = s"${sys.props("java.io.tmpdir")}/graft_jsonl_" +
        s"${ProcessHandle.current().pid()}_" +
        java.lang.Integer.toHexString(dir.hashCode)
      Tables.eventsAsHabits(s, dir)
        .select(col("event_id"), col("ts").cast("string").as("ts"),
          col("user_email"), col("habit"), col("value"))
        .write.mode("overwrite").json(path)
      s.read.json(path)
        .select(col("event_id"), to_timestamp(col("ts")).as("ts"),
          col("user_email"), col("habit"), col("value"))
        .groupBy(col("habit"))
        .agg(count(lit(1)).as("n"), r6(avg(col("value"))).as("avg_value"),
          max(col("ts")).as("last_ts"))
        .select(col("habit"), col("n"), col("avg_value"),
          ntz(col("last_ts")).as("last_ts"))
        .orderBy(col("habit"))
    }),

    // Variant landing payload — the reference's jsonb events column
    // (sql/001_schema.sql:10) in its 100 TB-native form. The payload is
    // parsed ONCE into VariantType and written SHREDDED: Spark 4's
    // parquet writer (writeShredding + inferShreddingSchema, both
    // default-on) splits the inferred paths into typed subcolumns with
    // an untyped spill for non-conforming rows, so later readers scan
    // columnar typed values instead of re-parsing JSON text per row.
    // The read side is the payoff: PushVariantIntoScan rewrites the
    // requested `variant_get` paths into a struct read and the `$.k`
    // predicate lands in the scan's PushedFilters — predicate pushdown
    // INTO a semi-structured column (PlanSpec pins both properties).
    "q_variant_shredded" -> ((s, dir) => {
      // per-process + per-sfDir path, same rationale as q_orc_roundtrip
      val path = s"${sys.props("java.io.tmpdir")}/graft_variant_" +
        s"${ProcessHandle.current().pid()}_" +
        java.lang.Integer.toHexString(dir.hashCode)
      Tables.eventsAsHabits(s, dir)
        .select(col("event_id"),
          expr("parse_json(to_json(named_struct(" +
            "'t', habit, 'v', value, " +
            "'k', cast(get_json_object(props, '$.k') as long))))")
            .as("payload"))
        .write.mode("overwrite").parquet(path)
      s.read.parquet(path)
        .select(
          expr("variant_get(payload, '$.t', 'string')").as("habit"),
          expr("variant_get(payload, '$.v', 'double')").as("value"),
          expr("variant_get(payload, '$.k', 'long')").as("k"))
        .filter(col("k") >= 50)
        .groupBy(col("habit"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          r6(avg(col("value"))).as("avg_value"))
        .orderBy(col("habit"))
    }),

    // Bucketed-table co-located join: both sides written hash-bucketed
    // on the join key (Bucketing.writeBucketed), so the fact⋈fact join
    // plans with ZERO exchange into the join — the 100 TB answer to
    // repeated large⋈large joins on a stable key. PlanSpec pins the
    // no-shuffle contract; the oracle proves the layout changes nothing.
    "q_bucket_join" -> ((s, dir) => {
      // per-process + per-sfDir location: repeated invocations (plan
      // printing, verify, bench×2) overwrite in place instead of
      // accumulating orphaned table copies, while concurrent processes
      // stay isolated from each other
      val tmp = s"${sys.props("java.io.tmpdir")}/graft_buckets_" +
        s"${ProcessHandle.current().pid()}_" +
        java.lang.Integer.toHexString(dir.hashCode)
      val orders = Tables.read(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderdate"))
      val li = Tables.read(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      graft.load.Bucketing.writeBucketed(orders, "g_orders_b",
        s"$tmp/orders", "o_orderkey", buckets = 8)
      graft.load.Bucketing.writeBucketed(li, "g_lineitem_b",
        s"$tmp/lineitem", "l_orderkey", buckets = 8)
      s.table("g_lineitem_b")
        .join(s.table("g_orders_b").hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderdate"))
        // exact integer arithmetic: prices/discounts are 2-dp so the
        // product is an exact 4-dp value — summing it scaled to 1e-4
        // units as LONG is order-independent, where a double sum lands
        // on half-way round boundaries and flips per engine
        .agg(sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 10000).cast("long")).as("revenue_e4"),
          count(lit(1)).as("n"))
        .select(ntz(col("o_orderdate")).as("o_orderdate"),
          col("revenue_e4"), col("n"))
        .orderBy(col("o_orderdate"))
    }),

    // Bloom-pruned fact⋈dim: lineitem rows shed map-side through a
    // bloom of the qualifying orders' keys before the exact join — the
    // explicit form of runtime row-level filtering. False positives are
    // dropped by the join, so the oracle is the plain unpruned SQL.
    "q_bloom_join" -> ((s, dir) => {
      val hot = Tables.read(s, dir, "orders")
        .filter(col("o_totalprice") > 450000)
      graft.ext.Bloom.bloomPrunedJoin(
          Tables.read(s, dir, "lineitem"), hot,
          "l_orderkey", "o_orderkey", expectedKeys = 20000L)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy(col("o_orderpriority"))
    }),

    // One-scan dataset profile (rows/nulls/NDV/min/max per column) in
    // long form — the pre-ingest statistics sweep. Exact NDVs ride a
    // single Expand-based aggregate, not one query per column.
    "q_profile" -> ((s, dir) =>
      graft.ext.Profile.profile(Tables.read(s, dir, "events"),
          Seq("event_id", "user_id", "event_type", "value"))
        .orderBy(col("col_name"))),

    // Single-pass approximate profile (no Expand — the wide-table
    // path): exact-comparable stats plus an HLL-NDV 5%-band invariant
    // (the exact profile supplies the band's reference inside the
    // query, like q_approx_distinct).
    "q_profile_approx" -> ((s, dir) => {
      val cols = Seq("event_id", "user_id", "event_type", "value")
      val ev = Tables.read(s, dir, "events")
      val ap = graft.ext.Profile.profileApprox(ev, cols)
      val ex = graft.ext.Profile.profile(ev, cols)
        .select(col("col_name"), col("n_distinct"))
      ap.join(ex, "col_name")
        .select(col("col_name"), col("n_rows"), col("n_null"),
          r6(col("min_num")).as("min_num"), r6(col("max_num")).as("max_num"),
          (abs(col("approx_distinct") - col("n_distinct")).cast("double") <=
            lit(0.05) * col("n_distinct").cast("double")).as("approx_ok"))
        .orderBy(col("col_name"))
    }),

    // Declarative data-quality expectation suite (the Deequ idea):
    // completeness, key uniqueness, range, format, and domain checks
    // over orders, ALL evaluated in one aggregate scan; each reports
    // its measured fraction and pass flag. Two checks fail by design
    // (o_orderstatus is 3-valued, not unique; prices exceed 100k) so
    // the report proves failure surfacing, not just green paths.
    "q_expectations" -> ((s, dir) => {
      import graft.ext.Expectations._
      check(Tables.read(s, dir, "orders"), Seq(
        Complete("o_custkey"),
        Unique("o_orderkey"),
        Unique("o_orderstatus"),
        InRange("o_totalprice", 0, 100000, minRatio = 0.9),
        MatchesRegex("o_orderpriority", "^[1-5]-"),
        InSet("o_orderstatus", Seq("F", "O"), minRatio = 0.6)))
        .select(col("check"), col("col_name"),
          r6(col("metric")).as("metric"), col("passed"))
        .orderBy(col("check"), col("col_name"))
    }),

    // Native Morton (Z-order) key over two scaled dimensions — the
    // clustering key behind Layout.writeZOrdered; the oracle rebuilds
    // the identical bit interleave arithmetically.
    "q_zorder" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          graft.load.Layout.zValue(
            col("value"), 0.0, 500.0,
            pmod(col("event_id"), lit(256)).cast("double"), 0.0, 256.0,
            bits = 8).as("z"))
        .orderBy(col("event_id"))),

    // Fixed-width value histogram per event_type: 20 buckets over
    // [0, 500) — distribution profiling as one count aggregate.
    "q_histogram" -> ((s, dir) =>
      graft.ext.Profile.histogram(Tables.read(s, dir, "events"),
          "value", lo = 0.0, hi = 500.0, buckets = 20,
          groupCols = Seq("event_type"))
        .orderBy(col("event_type"), col("bucket"))),

    // Mergeable-quantile rollup — the percentile analog of the HLL
    // sketch rollup: per-(habit, day) fixed-bin histograms built in
    // ONE raw pass merge to per-habit sketches by summing bin counts,
    // and p50/p90/p99 come off the merged cumulative histogram —
    // raw rows touched once, every count an exact integer, the whole
    // estimate replayed across engines (rank threshold in ppm longs,
    // estimate = upper edge of the crossing bucket).
    "q_quantile_rollup" -> ((s, dir) => {
      val ev = Tables.eventsAsHabits(s, dir)
        .withColumn("day", Habits.dayBucket(col("ts")))
      val daily = graft.ext.Profile.histogram(ev, "value",
        lo = 0.0, hi = 640.0, buckets = 64,
        groupCols = Seq("habit", "day"))
      graft.ext.Profile.histogramQuantiles(daily, Seq("habit"),
          qs = Seq(0.5, 0.9, 0.99), lo = 0.0, hi = 640.0, buckets = 64)
        .select(col("habit"), col("q_ppm"), col("bucket"),
          col("n_total"), col("est"))
        .orderBy(col("habit"), col("q_ppm"))
    }),

    // ── Extension scope: text analysis (SURVEY §7.5) ───────────────────
    "q_token_count" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tokens"),
          col("n_chars"))
        .orderBy(col("doc_id"))),

    "q_lang_id" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_guess"))
        .orderBy(col("doc_id"))),

    // Language ID with a CONFIDENCE MARGIN — the thresholded gate
    // CCNet-class pipelines run (fastText's probability threshold; the
    // marker heuristic's analogue is best-vs-runner-up count gap).
    // The corpus is deterministically dirtied with foreign marker
    // spans on id % 7 residues so ambiguous bilingual rows exist at
    // every SF: their argmax stays a coin-flip of one stopword, and
    // lang_conf demotes them to 'und' instead of claiming them.
    // All-integer scores; second-best via a descending sort (exact
    // ties → margin 0), engine-exact replay.
    "q_lang_margin" -> ((s, dir) => {
      val dirty = concat(col("text"),
        when(col("doc_id") % 7 === 0, " el la de que y en un")
          .when(col("doc_id") % 7 === 1, " der die und das ist")
          .when(col("doc_id") % 7 === 2, " le les des et est")
          .otherwise(""))
      TextAnalysis.langIdMarginLocal(
          Tables.read(s, dir, "documents")
            .select(col("doc_id"), dirty.as("text")),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Tokenizer FERTILITY by language — tokens-per-word per marker-ID'd
    // language, the standard multilingual tokenizer-bias report (2×
    // fertility = 2× sequence length for the same text). Composes two
    // oracle-proven relations (lang ID + BPE encode) into one ppm
    // integer ratio per language; the encode chain is persisted-free
    // here because each relation is consumed once.
    "q_tokenizer_fertility" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val enc = graft.ext.Bpe.bpeEncode(docs, "doc_id", "text",
        graft.ext.Bpe.bpeTrain(docs, "text", numMerges = 8))
      docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"))
        .join(enc, "doc_id")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
          expr("(1000000 * sum(n_bpe_tokens)) div sum(n_words)")
            .as("fertility_ppm"))
        .orderBy(col("lang"))
    }),

    // one shuffle-free typed corpus pass against the literal trigram
    // profile; the oracle replays it as explode + profile join + rank
    // window (all-long arithmetic, so the two agree exactly)
    "q_lang_id_ngram" -> ((s, dir) =>
      TextAnalysis.langIdNgramLocal(Tables.read(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("doc_id"))),

    "q_text_quality" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.nTokens(col("text")).cast("long").as("n_tokens"),
          r6(TextAnalysis.meanTokenLen(col("text"))).as("mean_token_len"),
          r6(TextAnalysis.punctRatio(col("text"))).as("punct_ratio"),
          r6(TextAnalysis.stopwordRatio(col("text"))).as("stopword_ratio"),
          r6(TextAnalysis.qualityScore(col("text"))).as("quality"))
        .orderBy(col("doc_id"))),

    "q_token_stats" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.nTokens(col("text")).cast("long").as("n_ws_tokens"),
          TextAnalysis.regexTokenCount(col("text")).cast("long")
            .as("n_re_tokens"))
        .orderBy(col("doc_id"))),

    // Uses the NATIVE codegen'd PolyHash expression (graft.plans) —
    // values identical to the pure-builtin form, pinned by ExtSpec.
    "q_fingerprint" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.polyFingerprintNative(col("text")).as("poly_fp"),
          TextAnalysis.minKgramFingerprintNative(col("text"), 8)
            .as("kgram_min_fp"))
        .orderBy(col("doc_id"))),

    // The SQL-FUNCTION surface end to end: the engine's injected native
    // expressions (GraftExtensions → FunctionRegistry) called from
    // plain `spark.sql` TEXT over a temp view — what a SQL-only user
    // of the library writes. Same expressions the DataFrame gates
    // already prove; this gate proves the registry resolution,
    // argument binding (incl. the literal k), and codegen under the
    // SQL parser path.
    "q_sql_functions" -> ((s, dir) => {
      Tables.read(s, dir, "documents")
        .createOrReplaceTempView("documents_sqlfn")
      s.sql(
        """SELECT doc_id,
             round(graft_entropy(text), 6) AS char_entropy,
             graft_polyhash(text) AS poly_fp,
             graft_minkgram(text, 8) AS kgram_min_fp
           FROM documents_sqlfn ORDER BY doc_id""")
    }),

    // Sequence packing: each doc split into consecutive 32-token
    // training chunks; chunk md5 proves byte-identical chunking.
    "q_chunk_tokens" -> ((s, dir) =>
      TextAnalysis.tokenChunks(Tables.read(s, dir, "documents"),
          "doc_id", "text", chunkSize = 32)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          size(split(col("chunk"), " ", -1)).cast("long").as("n_tokens"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // Sequence packing — documents into fixed-token-budget training
    // bins (the concat-and-chunk stage of a pretraining pipeline,
    // document-intact next-fit by start offset). Shard-LOCAL windows:
    // one shuffle on the shard key, per-shard prefix sums — never a
    // global ordered window (which would funnel the corpus through one
    // task at 100 TB). Deterministic, so the bin layout itself is
    // under the oracle: per (shard, bin) document counts, token loads,
    // and an id-chain digest must all match DuckDB's packing.
    "q_pack_sequences" -> ((s, dir) => {
      val toks = Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
      graft.ext.Packing.packSequences(toks, "doc_id", "n_tokens",
          budget = 512L, shards = 8)
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("bin_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("shard"), col("bin"))
    }),

    // Boundary-free concat packing (GPT-style): the shard token stream
    // cuts every `budget` tokens and documents may span bins — zero
    // padding waste, exact `budget` tokens per non-tail bin. Oracle
    // checks the per-bin composition (docs overlapping, token loads,
    // split-doc accounting) cell-exact.
    "q_pack_concat" -> ((s, dir) => {
      val toks = Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
      graft.ext.Packing.packConcat(toks, "doc_id", "n_tokens",
          budget = 512L, shards = 8)
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok_in_bin")).as("bin_tokens"),
          // attention-mask metadata under the oracle: the bin's
          // document-boundary offsets, checked via their sum and max
          // (cell-exact across every (doc,bin) span in the group)
          sum(col("start_in_bin")).as("sum_starts"),
          max(col("start_in_bin")).as("max_start"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("shard"), col("bin"))
    }),

    // Corpus-statistics quality: mean unigram log2-probability per doc
    // under the corpus's own distribution (the cheap CCNet-perplexity
    // stand-in; very negative = rare-token-heavy).
    "q_unigram_logprob" -> ((s, dir) =>
      TextAnalysis.unigramLogProb(Tables.read(s, dir, "documents"),
          "doc_id", "text")
        .select(col("doc_id"), r6(col("avg_logprob")).as("avg_logprob"))
        .orderBy(col("doc_id"))),

    // Cohort retention matrix: users grouped by their first active
    // week, distinct-user counts per (cohort, week offset) — the
    // classic product-analytics rollup over the events stream. Two
    // user-keyed aggregates; the (user, week) relation is deduped
    // map-side before either shuffle.
    "q_retention" -> ((s, dir) => {
      val weeks = Tables.events(s, dir)
        .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
        .distinct()
      val cohorts = weeks.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      weeks.join(cohorts, "user_id")
        .groupBy(col("cohort_week"),
          (datediff(col("week"), col("cohort_week")) / 7).cast("long")
            .as("week_offset"))
        .agg(count(lit(1)).as("n_users"))
        .select(ntz(col("cohort_week")).as("cohort_week"),
          col("week_offset"), col("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // Gopher-style rule gate: per-document rule measures + flags + the
    // conjunction, rule-per-column so rejections are attributable. The
    // cheap narrow pre-filter ahead of the dedup stages.
    "q_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(Tables.read(s, dir, "documents"),
          "doc_id", "text", minWords = 50, maxWords = 100000,
          minStopHits = 2)
        .orderBy(col("doc_id"))),

    // The COMPLETE Gopher gate: the published repetition-rule family
    // (dup line/paragraph count+char fractions over fixed word
    // segments, top-2/3/4-gram char mass, Rae et al. 2021 App. A1.1
    // thresholds) joined with the format-rule gate above into one
    // attributable pass column — rule-per-column, ppm-exact. Both
    // sides are per-row passes; the join keys the corpus once on
    // doc_id.
    "q_gopher_repetition" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      TextAnalysis.gopherRepetitionLocal(docs, "doc_id", "text")
        .join(TextAnalysis.gopherRules(docs, "doc_id", "text",
            minWords = 50, maxWords = 100000, minStopHits = 2)
          .select(col("doc_id"), col("pass").as("pass_format")), "doc_id")
        .withColumn("pass", col("pass_format") && col("pass_repetition"))
        .orderBy(col("doc_id"))
    }),

    // The published C4 cleaning rules (Raffel et al. 2020 §2.2) over a
    // deterministically RENDERED page (the corpus is single-line
    // no-punctuation prose, so terminal-punct/sentence/boilerplate
    // rules would be vacuous raw — the q_mojibake planting precedent):
    // 6-word lines, md5-coin terminal periods, planted "lorem ipsum"
    // (doc_id % 97) and "{" (doc_id % 89). Rule-per-column + pass.
    "q_c4_rules" -> ((s, dir) =>
      TextAnalysis.c4Rules(
          TextAnalysis.c4SyntheticPage(Tables.read(s, dir, "documents"),
            "doc_id", "text"),
          "doc_id", "page")
        .orderBy(col("doc_id"))),

    // The FILTER FUNNEL — the attrition report every production
    // curation pipeline publishes: documents and tokens surviving each
    // successive published gate (Gopher format → Gopher repetition →
    // C4 → language+quality → near-dup canonical), each stage's
    // predicate individually oracle-proven elsewhere. Scale shape:
    // stages 2-5 are pure per-row flags computed in one pass over the
    // corpus (persisted — the tall union re-reads the flag relation
    // once per stage); stage 6 is the simhash dedup on the all-gates
    // survivor set only (the curate discipline: pairs among rejected
    // docs are wasted work). Empty stages drop from the report on both
    // engines (inner aggregate), keeping the gate total.
    // Pinned.scoped: the persisted flag frame (and the dedup stage's
    // cached signature relation) release once the 6-row report has
    // materialized — one handle out, nothing left for the harness
    // sweep to find.
    "q_filter_funnel" -> ((s, dir) => graft.ext.Pinned.scoped(s) {
      val docs = Tables.read(s, dir, "documents")
      // the per-row gates (Gopher format, language+quality) stack as
      // COLUMNS on one documents scan; only the repetition kernel and
      // the rendered-page C4 gate are separate relations to join. The
      // persisted flag frame carries no text — the dedup stage joins
      // text back for its survivor set only.
      val gr = TextAnalysis.gopherRepetitionLocal(docs, "doc_id", "text")
        .select(col("doc_id"), col("pass_repetition").as("p_gr"))
      val c4 = TextAnalysis.c4Rules(
          TextAnalysis.c4SyntheticPage(docs, "doc_id", "text"),
          "doc_id", "page")
        .select(col("doc_id"), col("pass").as("p_c4"))
      // flag trio in one typed pass — interpreted per-token isin/rlike
      // HOFs dominated this scan as Catalyst expressions
      val flags = TextAnalysis.gopherLangFlagsLocal(docs, "doc_id",
          "text", "en", 60.0)
        .join(gr, "doc_id").join(c4, "doc_id")
        .withColumn("p3", col("p_gf") && col("p_gr"))
        .withColumn("p4", col("p3") && col("p_c4"))
        .withColumn("p5", col("p4") && col("p_lq"))
        // seven consumers (six stage counts + the dedup arm) over the
        // full gate chain (gopher repetition + c4 + lang/quality) —
        // eager disk-backed pin (r15, the q_ccnet eviction-class fix):
        // a lazy persist can drop blocks between consumers under heap
        // pressure and replay the gates per stage line
        .localCheckpoint(true)
      val s5 = flags.filter(col("p5"))
      val s6 = Dedup.keepCanonical(s5, "doc_id",
        Dedup.dupClusters(Dedup.simhashDupPairs(
          s5.select(col("doc_id"))
            .join(docs.select(col("doc_id"), col("text")), "doc_id"),
          "doc_id", "text")))
      // ONE aggregate pass over the pinned flag frame builds stages
      // 1-5 (r17): the union-of-filters form re-scanned the frame five
      // times and shuffled for a 5-row groupBy; count(when)/sum(when)
      // are exactly each filter's count/sum, and `n_docs > 0`
      // reproduces the inner groupBy's empty-stage drop. Stage 6 is
      // the dedup arm's own relation, aggregated separately as before.
      val stages5 = Seq(
        "1_all" -> lit(true), "2_gopher_format" -> col("p_gf"),
        "3_gopher_repetition" -> col("p3"), "4_c4" -> col("p4"),
        "5_lang_quality" -> col("p5"))
      val aggs = stages5.flatMap { case (n, p) => Seq(
        count(when(p, 1)).as(s"c_$n"),
        sum(when(p, col("n_tokens"))).as(s"t_$n")) }
      val rows5 = flags.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(stages5.map { case (n, _) =>
          struct(lit(n).as("stage"), col(s"c_$n").as("n_docs"),
            col(s"t_$n").as("n_tokens")) }: _*)).as("s"))
        .select(col("s.stage"), col("s.n_docs"), col("s.n_tokens"))
      rows5.unionByName(
          s6.agg(count(lit(1)).as("n_docs"),
              sum(col("n_tokens")).as("n_tokens"))
            .select(lit("6_dedup_canonical").as("stage"),
              col("n_docs"), col("n_tokens")))
        .filter(col("n_docs") > 0)
        .orderBy(col("stage"))
    }),

    // STREAMING filter funnel: the same attrition report derived from
    // state MAINTAINED at ingest — per-tick additive stage censuses
    // (gates are pure per-row, so tick counts sum to the batch report)
    // plus the signature/label ledger over all-gates survivors for the
    // dedup stage. The run report a production ingest publishes
    // continuously; shares q_filter_funnel's oracle cell-exactly.
    "q_filter_funnel_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_funnels_")
      try
        Streaming.funnelStreamAvailableNow(s, dir, tmp.toString,
            Streaming.nextQueryName("graft_funnels"))
          .orderBy(col("stage"))
          .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // The SAME streaming funnel with its per-tick ledger probes keyed
    // through the Manku multi-table construction instead of 8×8-bit
    // chunks — 9 fields × 7 bits, 2-field keys: C(9,2) = 36 tables of
    // 14-bit keys, the widest-key geometry that still admits the
    // ingest's Hamming ≤ 7 contract (generalized pigeonhole
    // maxHamming ≤ blocks − keyBlocks). Candidate constant 36/2^14 vs
    // the chunk default's 8/2^8 (~14× fewer random collisions per
    // probe at identical exact recall); the verified pair set — and so
    // the whole attrition report — is geometry-invariant, which is why
    // this gate shares q_filter_funnel's oracle cell-exactly. The
    // at-scale deployment shape: table keys derive from the SAME
    // stored 60-bit signature at probe time, so switching geometry
    // needs no ledger migration.
    "q_funnel_stream_tables" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_funnelt_")
      try
        Streaming.funnelStreamAvailableNow(s, dir, tmp.toString,
            Streaming.nextQueryName("graft_funnelt"),
            geometry = graft.ext.Dedup.TableGeometry(
              blocks = 9, blockBits = 7, keyBlocks = 2))
          .orderBy(col("stage"))
          .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // The measured geometry rule AS POLICY, gated: the same streaming
    // funnel probing through `Dedup.AutoGeometry` — each tick picks
    // chunk keys or the Manku table keys from its own batch/ledger
    // sizes via the cost model fit to the r14 crossover measurements
    // (chunks at 2.5k docs/tick, tables at 25k; SCALING.md "STREAMING
    // probe geometry"), recording the pick on the tick's stage line
    // (`geo_auto-><arm>`). The verified pair set is
    // construction-invariant whichever arm a tick picks, so this gate
    // shares q_filter_funnel's oracle cell-exactly — correctness of
    // the POLICY, not just of each arm.
    "q_funnel_stream_auto" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_funnela_")
      try
        Streaming.funnelStreamAvailableNow(s, dir, tmp.toString,
            Streaming.nextQueryName("graft_funnela"),
            geometry = graft.ext.Dedup.AutoGeometry())
          .orderBy(col("stage"))
          .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // BM25 retrieval ranking for a literal query (Okapi k1=1.2,
    // b=0.75) — the search-side counterpart of the tf-idf profile.
    // Scores round to 6 dp BEFORE the rank cut so the top-k set is
    // engine-reproducible.
    "q_bm25" -> ((s, dir) =>
      TextAnalysis.bm25(Tables.read(s, dir, "documents"), "doc_id",
          "text", Seq("spark", "merge", "window"), topK = 25)
        .orderBy(col("score").desc, col("doc_id"))),

    // RM3 pseudo-relevance feedback: 5 feedback docs from the seed
    // BM25 pass, 5 most-frequent non-seed terms mined from them
    // (count DESC, term ASC — reproducible), re-ranked with the
    // expanded query. Two corpus-shedding passes, no corpus shuffle.
    "q_bm25_rm3" -> ((s, dir) =>
      TextAnalysis.bm25Rm3(Tables.read(s, dir, "documents"), "doc_id",
          "text", Seq("spark", "merge", "window"),
          fbDocs = 5, fbTerms = 5, topK = 25)
        .orderBy(col("score").desc, col("doc_id"))),

    // STREAMING text-index maintenance: per-tick postings + lengths
    // (the BM25 sufficient statistic) in idempotent subdirs; scoring
    // the maintained index equals the ad-hoc corpus scan — shared
    // oracle, corpus never rescanned at query time.
    "q_bm25_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_bm25s_")
      try
        Streaming.bm25StreamAvailableNow(s, dir, tmp.toString,
            Streaming.nextQueryName("graft_bm25s"),
            Seq("spark", "merge", "window"), topK = 25)
          .orderBy(col("score").desc, col("doc_id"))
          .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Exact phrase search: the positional-index conjunction as ONE
    // doc-keyed aggregate — the corpus sheds to the phrase's own terms
    // before the shuffle, and per-doc position-set intersection (term
    // t_i at p+i for all i) counts every word-position occurrence.
    "q_phrase_search" -> ((s, dir) =>
      TextAnalysis.phraseSearch(Tables.read(s, dir, "documents"),
          "doc_id", "text", Seq("merge", "sort"))
        .orderBy(col("doc_id"))),

    // Dedup-pipeline evaluation: score the MinHash-LSH pipeline
    // against the exact length-blocked n-gram Jaccard relation as
    // ground truth — the recall/precision harness for tuning bands and
    // thresholds before a 100 TB run.
    "q_dedup_recall" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val truth = Dedup.ngramDupPairs(docs, "doc_id", "text", "n_chars",
          threshold = 0.5, blockWidth = 50)
        .select(col("id_a"), col("id_b"), lit(1L).as("t"))
      val found = Dedup.minhashDupPairs(docs, "doc_id", "text",
          threshold = 0.5)
        .select(col("id_a"), col("id_b"), lit(1L).as("f"))
      truth.join(found, Seq("id_a", "id_b"), "full_outer")
        .agg(sum(col("t")).as("n_truth"), sum(col("f")).as("n_found"),
          sum(col("t") * col("f")).as("n_hit"))
        .select(col("n_truth"), col("n_found"), col("n_hit"),
          r6(col("n_hit").cast("double") / col("n_truth").cast("double"))
            .as("recall"),
          r6(col("n_hit").cast("double") / col("n_found").cast("double"))
            .as("precision"))
    }),

    // Bigram conditional log2-probability quality (one Markov order up
    // from q_unigram_logprob): shuffled-word text scores very negative
    // even when its unigrams are common. Docs with < 2 tokens have no
    // bigrams and drop out.
    "q_bigram_logprob" -> ((s, dir) =>
      TextAnalysis.bigramLogProb(Tables.read(s, dir, "documents"),
          "doc_id", "text")
        .select(col("doc_id"), r6(col("avg_logprob")).as("avg_logprob"))
        .orderBy(col("doc_id"))),

    // Pruned trigram LM with STUPID BACKOFF (Brants et al. 2007) — the
    // perplexity-style quality gate completing the unigram/bigram
    // ladder: per-doc mean of micro-quantized log2 scores under the
    // corpus's own pruned trigram/bigram/unigram statistics, backoff
    // α = 0.4 per level.
    "q_lm_backoff" -> ((s, dir) =>
      TextAnalysis.stupidBackoffLogProb(Tables.read(s, dir, "documents"),
          "doc_id", "text")
        .orderBy(col("doc_id"))),

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): per-source
    // TERTILES of the stupid-backoff doc score — "head" is the
    // lowest-perplexity third, the slice CCNet keeps preferentially.
    // ntile runs over the engine-exact rounded score with a doc_id
    // tiebreak, so the bucket boundary replays deterministically. The
    // per-source rank window is the mixtureByTokens shape — its salted
    // two-level escape applies verbatim if one source dominates; at
    // production scale CCNet instead freezes the two cutoff scores from
    // a sample and buckets by broadcast threshold compare (no window).
    "q_ccnet_buckets" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val lm = TextAnalysis.stupidBackoffLogProb(docs, "doc_id", "text")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("avg_logprob").desc, col("doc_id"))
      lm.join(docs.select(col("doc_id"), col("source")), "doc_id")
        .withColumn("_t", ntile(3).over(w))
        .select(col("doc_id"), col("source"), col("n_scored"),
          col("avg_logprob"),
          when(col("_t") === 1, "head").when(col("_t") === 2, "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("doc_id"))
    }),

    // CCNet's PRODUCTION bucketing form — the shape the tertile
    // window's comment names, now gated: freeze the two per-source
    // cutoff scores from a DETERMINISTIC 10% sample (md5 bucket 0 of
    // 10), then bucket the FULL corpus by broadcast threshold compare.
    // The corpus-sized pass is window-free (one dominant source cannot
    // funnel a rank partition); the only window runs on the SAMPLE,
    // which is exactly why CCNet computes its percentile cutoffs on a
    // sample. head = score >= the sample head-tertile floor; a source
    // whose sample is too small to seat tertile 2 leaves c2 NULL and
    // the compare falls through to tail — identical CASE semantics on
    // both engines; a source with NO sampled docs at all left-joins to
    // NULL cutoffs and likewise buckets 'tail' (never silently dropped
    // from the output). Thresholding differs from exact ntile by
    // design (ties and sampling error sit at the boundary), so the
    // gate has its own oracle replaying the same sample + compare.
    "q_ccnet_frozen" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val lm = TextAnalysis.stupidBackoffLogProb(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        // two consumers (sample cutoffs + full compare) over the
        // expensive LM chain — pinned ONCE as an eager disk-backed
        // checkpoint (a MEMORY_AND_DISK persist can be evicted between
        // the consumers, recomputing the suite's most expensive chain
        // 2-4×; checkpoint blocks cannot). Released by the harness's
        // persistent-RDD sweep after the query.
        .localCheckpoint(true)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("avg_logprob").desc, col("doc_id"))
      val cuts = lm
        .filter(graft.ext.Sampling.hashBucket(col("doc_id"), 10) === 0)
        .withColumn("_t", ntile(3).over(w))
        .groupBy(col("source"))
        .agg(min(when(col("_t") === 1, col("avg_logprob"))).as("c1"),
          min(when(col("_t") === 2, col("avg_logprob"))).as("c2"))
      lm.join(broadcast(cuts), Seq("source"), "left")
        .select(col("doc_id"), col("source"), col("n_scored"),
          col("avg_logprob"),
          when(col("avg_logprob") >= col("c1"), "head")
            .when(col("avg_logprob") >= col("c2"), "middle")
            .otherwise("tail").as("bucket"))
        .orderBy(col("doc_id"))
    }),

    // Sliding-window chunking: 32-token windows stepping 16, so
    // consecutive chunks share 16 tokens of left context — the overlap
    // form of q_chunk_tokens for long-document splitting.
    "q_chunk_overlap" -> ((s, dir) =>
      TextAnalysis.tokenChunksOverlap(Tables.read(s, dir, "documents"),
          "doc_id", "text", chunkSize = 32, step = 16)
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          size(split(col("chunk"), " ", -1)).cast("long").as("n_tokens"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // Gopher-style repeated-n-gram quality signal: fraction of a doc's
    // word 3-grams that repeat an earlier shingle (typed kernel).
    "q_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionRatios(Tables.read(s, dir, "documents"),
          "doc_id", "text", 3)
        .select(col("doc_id"), r6(col("rep_ratio")).as("rep_ratio"))
        .orderBy(col("doc_id"))),

    // PII scan + redaction: match counts on the raw text plus the md5 of
    // the masked text — a cross-engine proof the redaction is identical.
    "q_pii_scan" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.countMatches(col("text"), TextAnalysis.EmailRegex)
            .cast("long").as("n_emails"),
          TextAnalysis.countMatches(col("text"), TextAnalysis.UrlRegex)
            .cast("long").as("n_urls"),
          TextAnalysis.countMatches(col("text"), TextAnalysis.LongNumberRegex)
            .cast("long").as("n_long_numbers"),
          md5(TextAnalysis.maskPii(col("text"))).as("masked_md5"))
        .orderBy(col("doc_id"))),

    // CHECKSUM-VALIDATED card-number detection + redaction — the
    // precision upgrade over q_pii_scan's blanket digit-run rule: a
    // 13-19-digit run is only PII when it passes the Luhn checksum
    // (ISO/IEC 7812), so invoice/serial numbers survive and real card
    // shapes redact. The corpus is deterministically dirtied with a
    // valid 16-digit card, a checksum-broken twin, a valid 13-digit
    // card, and a 20-digit run (boundary rule: no candidate at all) on
    // id % 11 residues. n_candidates/n_valid replay through the
    // oracle's own Luhn arithmetic; the masked hash pins the redaction
    // byte-exactly via the fixture rebuild (valid runs → <CARD>,
    // everything else untouched).
    "q_pii_luhn" -> ((s, dir) => {
      val dirty = concat(col("text"),
        when(col("doc_id") % 11 === 0, " 4111111111111111")
          .when(col("doc_id") % 11 === 1, " 4111111111111112")
          .when(col("doc_id") % 11 === 2, " 4222222222222")
          .when(col("doc_id") % 11 === 3, " 41111111111111111111")
          .otherwise(""))
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), dirty.as("_t"))
        .select(col("doc_id"),
          size(TextAnalysis.luhnCandidateRuns(col("_t")))
            .cast("long").as("n_candidates"),
          size(filter(TextAnalysis.luhnCandidateRuns(col("_t")),
            r => TextAnalysis.luhnValid(r))).cast("long").as("n_valid"),
          md5(TextAnalysis.maskLuhn(col("_t"))).as("masked_md5"))
        .orderBy(col("doc_id"))
    }),

    // Exact corpus heavy hitters through the pigeonhole candidate
    // pre-filter (local count ≥ ⌈minCount/P⌉ guarantees a candidate
    // superset); the oracle is the plain exact GROUP BY ... HAVING.
    "q_heavy_hitters" -> ((s, dir) =>
      TextAnalysis.heavyHitters(Tables.read(s, dir, "documents"),
          "text", minCount = 200L)
        .select(col("term"), col("cnt"))
        .orderBy(col("term"))),

    // BPE iteration-0 pair statistics: adjacent code-point pairs within
    // whitespace words, counted corpus-wide — the distributed inner
    // step of tokenizer training. The shuffle key space is alphabet^2
    // (map-side partials collapse each partition to that bound), so the
    // aggregate is sketch-sized at any corpus size. Top-30 by count
    // with pair tiebreak keeps the cut total-order deterministic.
    "q_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(Tables.read(s, dir, "documents"), "text")
        .orderBy(col("n").desc, col("pair")).limit(30)),

    // Full BPE tokenizer training — the iterative merge loop over the
    // pair census: 8 merges, each an arg-max under the pinned
    // (count DESC, lhs, rhs) total order followed by a greedy
    // left-to-right re-segmentation of the vocabulary-sized word
    // table. The oracle replays the identical deterministic sequence
    // as 8 unrolled argmax+replace CTE stages.
    "q_bpe_train" -> ((s, dir) =>
      graft.ext.Bpe.bpeTrain(Tables.read(s, dir, "documents"), "text",
          numMerges = 8)
        .orderBy(col("step"))),

    // LEDGER-FED training: the identical merge sequence from the
    // per-doc word census (Bpe.docWordCensus — the relation the
    // pipeline ledger maintains per tick) instead of corpus text. The
    // census IS the trainer's whole input, so the gate shares
    // q_bpe_train's oracle verbatim — proving a refresh can train from
    // maintained state without a corpus re-read.
    "q_bpe_train_census" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      graft.ext.Bpe.bpeTrainFromWords(
          graft.ext.Bpe.docWordCensus(docs, "doc_id", "text"),
          "w", "cnt", numMerges = 8)
        .orderBy(col("step"))
    }),

    // Tokenizer APPLY: train 8 merges, then encode the corpus with
    // them — per-document word and BPE-token counts. The merge chain
    // runs once per distinct word (vocabulary-sized), then one hash
    // join back to the exploded corpus.
    "q_bpe_encode" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      graft.ext.Bpe.bpeEncode(docs, "doc_id", "text",
          graft.ext.Bpe.bpeTrain(docs, "text", numMerges = 8))
        .orderBy(col("doc_id"))
    }),

    // Unigram-LM (SentencePiece-style) vocabulary — the OTHER subword
    // family next to BPE: substring census over the distinct-word
    // relation (bounded len×maxPieceLen fan-out per word), top-40
    // pieces under the (cnt DESC, piece) total order plus every
    // single character (the required-character rule), integer-
    // quantized log2 costs. Top-V is a TakeOrderedAndProject — local
    // per-partition heads merged on the driver, no global rank window.
    "q_unigram_vocab" -> ((s, dir) =>
      graft.ext.Unigram.unigramSeed(Tables.read(s, dir, "documents"),
          "text")
        .orderBy(col("piece"))),

    // The persistable unigram id table (the bpeVocab analog): dense
    // ids under the (cost ASC, piece ASC) total order — cheapest
    // pieces get the smallest ids, ties impossible since piece is
    // unique. Window over the vocabulary-sized relation only.
    "q_unigram_ids" -> ((s, dir) => {
      val vocab = graft.ext.Unigram.unigramSeed(
        Tables.read(s, dir, "documents"), "text")
      vocab.withColumn("id",
          (row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("cost"), col("piece"))) - 1).cast("long"))
        .select(col("id"), col("piece"), col("cnt"), col("cost"))
        .orderBy(col("id"))
    }),

    // STREAMING vocabulary maintenance: per-tick word censuses in
    // idempotent batch subdirs sum to the trainer's sufficient
    // statistic; the vocabulary derived from the maintained state must
    // equal the batch seed — shared oracle, corpus never rescanned.
    "q_unigram_vocab_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_uvs_")
      try
        Streaming.unigramVocabAvailableNow(s, dir, tmp.toString,
            Streaming.nextQueryName("graft_uvs"))
          .orderBy(col("piece"))
          .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Tokenizer APPLY, unigram style: Viterbi minimum-cost
    // segmentation of every DISTINCT word under the broadcast
    // vocabulary (narrow mapPartitions DP — the corpus side never
    // shuffles), then one AQE-broadcast join back to the exploded
    // corpus for per-document piece counts and total quantized cost.
    // The packed (cost·64 + pieces) metric makes both outputs unique
    // under segmentation ties; the oracle replays the same search as
    // an unrolled 16-step Bellman-Ford chain over the same metric.
    "q_unigram_encode" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      graft.ext.Unigram.unigramEncode(docs, "doc_id", "text",
          graft.ext.Unigram.unigramSeed(docs, "text"))
        .orderBy(col("doc_id"))
    }),

    // WordPiece greedy encode (BERT's longest-match-first runtime
    // rule) under the SAME seeded vocabulary as the unigram gate —
    // membership-only segmentation, one greedy pass per distinct
    // word, per-doc piece + unknown-word counts.
    "q_wordpiece" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      graft.ext.WordPiece.wordPieceEncode(docs, "doc_id", "text",
          graft.ext.Unigram.unigramSeed(docs, "text"))
        .orderBy(col("doc_id"))
    }),

    // Mixture-weighted interleaving: the deterministic global training
    // order via stride scheduling — ikey = rank/weight as exact
    // integers, so src0 (weight 3) appears 3× as often as src3
    // (weight 1) at any stream prefix. One source-keyed window; the
    // key itself is narrow.
    "q_interleave" -> ((s, dir) =>
      graft.ext.Curation.interleaveBySource(
          Tables.read(s, dir, "documents"), "doc_id", "source",
          Map("src0" -> 3L, "src1" -> 1L, "src2" -> 1L, "src3" -> 1L))
        .orderBy(col("ikey"), col("source"), col("rank_in_source"))),

    // word2vec's discard rule, md5-deterministic: frequent-word
    // occurrences thin at 1 − √(t/f), rare words always survive;
    // per-doc kept-stream digest gates exact survivor text.
    "q_subsample" -> ((s, dir) =>
      TextAnalysis.subsampleFrequent(Tables.read(s, dir, "documents"),
          "doc_id", "text", tE6 = 10000L)
        .orderBy(col("doc_id"))),

    // Skip-gram co-occurrence pairs (word2vec training relation):
    // ±2-token contexts, one narrow explode + one observed-pairs-
    // bounded aggregate with map-side partials.
    "q_skipgram" -> ((s, dir) =>
      TextAnalysis.skipGramPairs(Tables.read(s, dir, "documents"),
          "doc_id", "text", window = 2)
        .orderBy(col("center"), col("context"))),

    // Deterministic negative sampling over the skip-gram pairs: k=2
    // frequency-proportional draws per pair via md5 inverse-CDF on the
    // vocabulary mass table — every draw a pure function of (pair, j),
    // replayable across engines and reruns.
    "q_negative_samples" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val vocab = docs
        .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
        .filter(col("word") =!= "")
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      TextAnalysis.negativeSamples(
          TextAnalysis.skipGramPairs(docs, "doc_id", "text", window = 2)
            .select(col("center"), col("context")),
          vocab, k = 2)
        .orderBy(col("center"), col("context"), col("j"))
    }),

    // Tokenizer EVAL — the selection metric both trainers share:
    // corpus compression (total emitted units) for the BPE-8 and
    // unigram-40 tokenizers trained on the same corpus. Each side is
    // its proven encode pipeline collapsed to one partial-aggregated
    // sum; fewer units at equal vocab budget = better compression.
    "q_tokenizer_eval" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val bpe = graft.ext.Bpe.bpeEncode(docs, "doc_id", "text",
          graft.ext.Bpe.bpeTrain(docs, "text", numMerges = 8))
        .agg(sum(col("n_bpe_tokens")).as("total_units"))
        .select(lit("bpe8").as("tokenizer"), col("total_units"))
      // one seed census, two consumers (each encoder COLLECTS the
      // vocab, so an unpinned seed would run the candidate-piece
      // census once per tokenizer) — r16, vocab-sized pin
      val seed = graft.ext.Unigram.unigramSeed(docs, "text")
        .localCheckpoint(true)
      val uni = graft.ext.Unigram.unigramEncode(docs, "doc_id", "text",
          seed)
        .agg(sum(col("n_pieces")).as("total_units"))
        .select(lit("unigram40").as("tokenizer"), col("total_units"))
      val wp = graft.ext.WordPiece.wordPieceEncode(docs, "doc_id", "text",
          seed)
        .agg(sum(col("n_pieces")).as("total_units"))
        .select(lit("wordpiece40").as("tokenizer"), col("total_units"))
      bpe.unionByName(uni).unionByName(wp).orderBy(col("tokenizer"))
    }),

    // THE exportable end product: real token-id streams cut into
    // 512-token training bins — bpeEncodeIds supplies per-doc id
    // arrays, packConcatWithOffsets says which contiguous piece of
    // each array lands in which bin (closed-form doc_off slice
    // offset), and the per-bin stream digests under the oracle.
    "q_export_token_shards" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      // consumed by BOTH the packing pass and the token_ids join back —
      // unpinned, the whole train→segment→encode chain replays per
      // consumer (the q_pipeline_export pattern); eager disk-backed pin
      // (r15) so heap pressure cannot evict between the two consumers
      val ids = graft.ext.Bpe.bpeEncodeIds(docs, "doc_id", "text",
          graft.ext.Bpe.bpeTrain(docs, "text", numMerges = 8))
        .localCheckpoint(true)
      graft.ext.Packing.packConcatWithOffsets(
          ids.select(col("doc_id"), col("n_tokens")),
          "doc_id", "n_tokens", budget = 512L, shards = 4)
        .join(ids.select(col("doc_id"), col("token_ids")), "doc_id")
        .withColumn("__piece", expr(
          "slice(token_ids, cast(doc_off + 1 as int), cast(tok_in_bin as int))"))
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok_in_bin")).as("bin_tokens"),
          md5(array_join(flatten(transform(
            array_sort(collect_list(struct(col("start_in_bin"),
              col("__piece")))),
            x => x.getField("__piece"))), " ")).as("ids_md5"))
        .orderBy(col("shard"), col("bin"))
    }),

    // Same export with an END-OF-DOCUMENT separator token appended to
    // every document before packing — the form trainers actually
    // consume (document boundaries must survive the concat-and-chunk
    // cut so the model can reset attention). The EOD id is the next
    // free vocabulary id; appending BEFORE packing means the spans,
    // bin token counts, and stream digests all shift — the oracle
    // re-derives them with the same +1 arithmetic.
    "q_export_token_shards_eod" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val merges = graft.ext.Bpe.bpeTrain(docs, "text", numMerges = 8)
      // next-free-id via the one-pass char census (bpeVocabSize), not a
      // full bpeVocab().count() distinct-word pass; and `ids` is pinned
      // because packing + the token_ids join consume it twice — round
      // 10 measured the unpinned triple-replay at 2× the non-EOD export
      // (eager disk-backed since r15: eviction-proof under heap
      // pressure, the q_ccnet class fix)
      val eodId = graft.ext.Bpe.bpeVocabSize(docs, "text", merges)
      val ids = graft.ext.Bpe.bpeEncodeIds(docs, "doc_id", "text", merges)
        .withColumn("token_ids",
          concat(col("token_ids"), array(lit(eodId).cast("int"))))
        .withColumn("n_tokens", col("n_tokens") + 1)
        .localCheckpoint(true)
      graft.ext.Packing.packConcatWithOffsets(
          ids.select(col("doc_id"), col("n_tokens")),
          "doc_id", "n_tokens", budget = 512L, shards = 4)
        .join(ids.select(col("doc_id"), col("token_ids")), "doc_id")
        .withColumn("__piece", expr(
          "slice(token_ids, cast(doc_off + 1 as int), cast(tok_in_bin as int))"))
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok_in_bin")).as("bin_tokens"),
          md5(array_join(flatten(transform(
            array_sort(collect_list(struct(col("start_in_bin"),
              col("__piece")))),
            x => x.getField("__piece"))), " ")).as("ids_md5"))
        .orderBy(col("shard"), col("bin"))
    }),

    // Balanced sharding by TOKEN count (the LPT/makespan complement of
    // id-mod sharding): magnitude bands (length(bin(n)) — integer ops,
    // engine-identical) round-robined across shards in md5-rank order;
    // shard token totals stay within ~2× the largest document of each
    // other regardless of the length distribution. The salted twin runs
    // the identical selection through the two-level rank (window-skew
    // escape) and shares this oracle — output is bit-identical.
    "q_pack_balanced" -> ((s, dir) =>
      graft.ext.Packing.packBalanced(
          Tables.read(s, dir, "documents").select(col("doc_id"),
            size(split(col("text"), " ", -1)).cast("long").as("n_tokens")),
          "doc_id", "n_tokens", shards = 4)
        .orderBy(col("doc_id"))),

    "q_pack_balanced_salted" -> ((s, dir) =>
      graft.ext.Packing.packBalanced(
          Tables.read(s, dir, "documents").select(col("doc_id"),
            size(split(col("text"), " ", -1)).cast("long").as("n_tokens")),
          "doc_id", "n_tokens", shards = 4, saltBuckets = 8)
        .orderBy(col("doc_id"))),

    // Per-bin POSITION-ID streams for packed attention: each packed
    // piece contributes positions doc_off .. doc_off+tok_in_bin-1, so
    // a document's positions restart at 0 at its own start and CONTINUE
    // across a bin split (the doc_off closed form) — exactly the
    // position_ids a trainer zips with the token stream. Same spans
    // arithmetic as the token-shard export; the oracle replays it.
    "q_pack_positions" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val ids = graft.ext.Bpe.bpeEncodeIds(docs, "doc_id", "text",
        graft.ext.Bpe.bpeTrain(docs, "text", numMerges = 8))
      graft.ext.Packing.packConcatWithOffsets(
          ids.select(col("doc_id"), col("n_tokens")),
          "doc_id", "n_tokens", budget = 512L, shards = 4)
        .withColumn("__pos", expr(
          "sequence(doc_off, doc_off + tok_in_bin - 1)"))
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("tok_in_bin")).as("bin_tokens"),
          md5(array_join(flatten(transform(
            array_sort(collect_list(struct(col("start_in_bin"),
              col("__pos")))),
            x => x.getField("__pos"))), " ")).as("pos_md5"))
        .orderBy(col("shard"), col("bin"))
    }),

    // Tokenizer apply, ID form: per-document array<int> token-id
    // sequences under the deterministic vocabulary (sorted corpus
    // alphabet, then merge-order minted ids) — what a training
    // pipeline actually feeds the model. Gate compares the
    // space-joined string form of the arrays cell-exact.
    "q_bpe_encode_ids" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      graft.ext.Bpe.bpeEncodeIds(docs, "doc_id", "text",
          graft.ext.Bpe.bpeTrain(docs, "text", numMerges = 8))
        .select(col("doc_id"),
          array_join(col("token_ids"), " ").as("token_ids"),
          col("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Tokenizer round-trip: decode(encodeIds(text)) must reproduce the
    // text's characters exactly (minus the word separators encode
    // splits on) — the integrity gate a pipeline runs before training.
    // The oracle is GROUND TRUTH, not a replay: it hashes
    // replace(text, ' ', '') straight off the table, so any drift
    // anywhere in train → vocab → encode → decode breaks the match.
    "q_bpe_roundtrip" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val merges = graft.ext.Bpe.bpeTrain(docs, "text", numMerges = 8)
      val enc = graft.ext.Bpe.bpeEncodeIds(docs, "doc_id", "text", merges)
      val vocab = graft.ext.Bpe.bpeVocab(docs, "text", merges)
      graft.ext.Bpe.bpeDecode(enc, "doc_id", "token_ids", vocab)
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // BYTE-LEVEL tokenizer round-trip (the GPT-2 family): train on the
    // fixed 256-byte alphabet, encode under the merge-list-pure id
    // table (no corpus alphabet, no unknown path), decode back through
    // unhex. Same ground-truth gate as q_bpe_roundtrip: any drift in
    // byte train → byte vocab → byte encode → byte decode breaks the
    // md5 match against the raw table.
    "q_bpe_bytes_roundtrip" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val merges = graft.ext.Bpe.bpeTrainBytes(docs, "text", numMerges = 8)
      val enc = graft.ext.Bpe.bpeEncodeIdsBytes(docs, "doc_id", "text", merges)
      val vocab = graft.ext.Bpe.bpeVocabBytes(s, merges)
      graft.ext.Bpe.bpeDecodeBytes(enc, "doc_id", "token_ids", vocab)
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy(col("doc_id"))
    }),

    // Character-distribution Shannon entropy via the native codegen'd
    // graft_entropy expression — per-row, shuffle-free; the oracle
    // recomputes the same log2 formula from per-char counts.
    "q_char_entropy" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          r6(TextAnalysis.charEntropy(col("text"))).as("char_entropy"))
        .orderBy(col("doc_id"))),

    "q_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.read(s, dir, "documents"),
          "doc_id", "text", k = 3)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), col("rank").cast("long").as("rank"),
          col("term"), col("tfidf"))
        .orderBy(col("doc_id"), col("rank"))),

    // Encoding-anomaly census over a deterministically mojibake-planted
    // corpus (the synthetic docs are clean ASCII, so the gate plants
    // its own corruption — the cdcFeed precedent): docs ≡3 (mod 7) get
    // a Latin-1-mojibake suffix, docs ≡5 (mod 13) a U+FFFD. The first
    // CASE branch wins overlaps on both engines.
    "q_mojibake" -> ((s, dir) => {
      val planted = Tables.read(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 7 === 3,
          concat(col("text"),
            lit(" caf\u00c3\u00a9 \u00e2\u0080\u0099")))
        .when(col("doc_id") % 13 === 5,
          concat(col("text"), lit(" \ufffd")))
        .otherwise(col("text")))
      TextAnalysis.mojibakeScan(planted, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    // Per-domain quota: CommonCrawl-style cap of 10 docs per source,
    // preferring longer docs (n_chars), ties by doc_id.
    "q_source_cap" -> ((s, dir) =>
      graft.ext.Curation.sourceCap(Tables.read(s, dir, "documents"),
          "doc_id", "source", "n_chars", cap = 10)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("source_rank"))
        .orderBy(col("source"), col("source_rank"))),

    // Safety blocklist: flag docs containing any banned phrase
    // (case-insensitive literal substring), with hit count + first
    // matching phrase as review evidence.
    "q_blocklist" -> ((s, dir) =>
      graft.ext.Curation.blocklistHits(Tables.read(s, dir, "documents"),
          "doc_id", "text",
          Seq("vector", "merge batch", "slow scan", "big query"))
        .orderBy(col("doc_id"))),

    // Collocation mining: top-50 adjacent-pair PMI over the document
    // corpus. Top-k via orderBy+limit (TakeOrderedAndProject), not a
    // global rank window; both engines cut on the same total order
    // (rounded pmi DESC, then the pair), so the k-set is reproducible.
    "q_pmi_collocations" -> ((s, dir) =>
      TextAnalysis.pmiCollocations(Tables.read(s, dir, "documents"),
          "doc_id", "text", minCount = 5)
        .orderBy(col("pmi").desc, col("w1"), col("w2"))
        .limit(50)),

    // Market-basket association rules over order → part-group baskets.
    // l_partkey % 200 folds the part domain onto a fixed 200-key item
    // space, so basket density (and the oracle's join cost) is
    // SF-INVARIANT — a < 200 slice instead thins with SF and went
    // 0-row at sf0.1.
    "q_assoc_rules" -> ((s, dir) =>
      Assoc.pairRules(
          Tables.read(s, dir, "lineitem")
            .withColumn("part_grp", col("l_partkey") % 200),
          "l_orderkey", "part_grp", minSupport = 2)
        .select(col("item_a"), col("item_b"), col("supp_ab"),
          col("conf_ab"), col("conf_ba"), col("lift"))
        .orderBy(col("item_a"), col("item_b"))),

    // Deterministic word-dropout augmentation: token (d, p) drops iff
    // md5bucket("d:p") < 15 — the augmented corpus is a pure function
    // of the data, reproducible on any engine/partitioning. Gated on
    // the augmented text's md5.
    "q_aug_dropout" -> ((s, dir) =>
      graft.ext.Curation.wordDropout(Tables.read(s, dir, "documents"),
          "doc_id", "text", dropPct = 15)
        .orderBy(col("doc_id"))),

    // Deterministic adjacent-word swap over disjoint pairs — the
    // second EDA augmentation arm, same reproducibility contract.
    "q_aug_swap" -> ((s, dir) =>
      graft.ext.Curation.wordSwap(Tables.read(s, dir, "documents"),
          "doc_id", "text", swapPct = 30)
        .orderBy(col("doc_id"))),

    // Fill-in-the-middle (PSM re-ordering at md5-drawn cut points, 50%
    // rate) — the infilling-data transform, byte-gated by the md5 of
    // the transformed text; same id-only determinism contract as the
    // EDA arms.
    "q_fim_transform" -> ((s, dir) =>
      graft.ext.Curation.fimTransform(Tables.read(s, dir, "documents"),
          "doc_id", "text", ratePct = 50)
        .orderBy(col("doc_id"))),

    // Preference pairs minted from the corpus's own duplication: near-
    // dup pairs labeled chosen/rejected by the deterministic quality
    // score (rounded ties dropped) — DPO/reward-model data from dedup
    // byproducts.
    "q_preference_pairs" -> ((s, dir) =>
      graft.ext.Curation.preferencePairs(Tables.read(s, dir, "documents"),
          "doc_id", "text", maxHamming = 7)
        .orderBy(col("chosen_id"), col("rejected_id"))),

    // Label hygiene: a deterministic 3-annotator panel (a·10% md5-drawn
    // noise each) collapsed by majority vote with a smallest-label tie
    // break; the confusion census vs truth is the panel's quality
    // report. Per-item facts → narrow explode + two hash aggregates.
    "q_label_vote" -> ((s, dir) => {
      val e = Tables.read(s, dir, "embeddings")
      val panel = graft.ext.Agreement
        .annotatorLabels(e, "vec_id", "label", nAnnotators = 3, nCats = 10)
      graft.ext.Agreement.majorityVote(panel, nRaters = 3)
        .join(e.select(col("vec_id").cast("long").as("id"),
          col("label").cast("long").as("true_label")), "id")
        .groupBy(col("true_label"), col("voted"))
        .agg(count(lit(1)).as("n_items"),
          count(when(col("unanimous"), 1)).as("n_unanimous"))
        .orderBy(col("true_label"), col("voted"))
    }),

    // Fleiss' kappa over the same panel — the batch-level agreement
    // gate, one exact integer ratio (ppm-quantized floor division
    // mirrored in the oracle).
    "q_fleiss_kappa" -> ((s, dir) =>
      graft.ext.Agreement.fleissKappa(
        graft.ext.Agreement.annotatorLabels(
          Tables.read(s, dir, "embeddings"),
          "vec_id", "label", nAnnotators = 3, nCats = 10),
        nRaters = 3)),

    // URL canonicalization (graft.ext.Urls) — the stage RefinedWeb/
    // CCNet run before any text operator: per-doc canonical URL + host
    // over the deterministic URL fixture (documents carries no URL
    // column; the fixture exercises every rule — mixed-case schemes,
    // www., default/non-default ports, doubled and trailing slashes,
    // unsorted params, utm_/gclid/ref decoration, fragments). Pure
    // narrow expressions, shuffle-free.
    "q_url_canonical" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          graft.ext.Urls.demoUrl(col("doc_id"), col("source")).as("url"))
        .select(col("doc_id"), col("url"),
          graft.ext.Urls.urlCanonical(col("url")).as("url_canon"),
          graft.ext.Urls.urlHost(col("url")).as("host"))
        .orderBy(col("doc_id"))),

    // URL dedup proper (the RefinedWeb stage): one surviving doc per
    // CANONICAL URL — smallest doc_id is the keeper (the house
    // keep-canonical convention), every fixture collision collapses.
    // One hash aggregation on url_canon + a broadcast-size join back;
    // no window, no skew hazard (a canonical URL's group is refetch
    // multiplicity, never corpus-sized).
    "q_url_dedup" -> ((s, dir) => {
      val u = Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          graft.ext.Urls.urlCanonical(
            graft.ext.Urls.demoUrl(col("doc_id"), col("source")))
            .as("url_canon"))
      val keepers = u.groupBy(col("url_canon"))
        .agg(min(col("doc_id")).as("keeper"),
          count(lit(1)).as("n_fetches"))
      u.join(keepers, "url_canon")
        .select(col("doc_id"), col("url_canon"),
          (col("doc_id") === col("keeper")).as("keep"),
          col("n_fetches"))
        .orderBy(col("doc_id"))
    }),

    // STREAMING twin: the same URL-dedup report derived from the
    // urls/batch=<id> ledger maintained at ingest (rows canonicalized
    // exactly once, by the typed kernel, in their own tick) — shares
    // q_url_dedup's oracle cell-exactly.
    "q_url_dedup_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_urls_")
      try
        Streaming.urlStreamAvailableNow(s, dir, tmp.toString,
            Streaming.nextQueryName("graft_urls"))
          .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // Host-level rollup + URL dedup: docs keyed by canonical host,
    // n_urls = DISTINCT canonical URLs (the URL-dedup statistic —
    // fixture collisions collapse here), joined to the novelty census
    // (q_novelty_by_source's truncated-mean convention) — the
    // template-farm report per HOST instead of per source label. Two
    // hash aggregations, both map-side combinable; the distinct-URL
    // count plans as a (host, url_canon) partial dedup then a host
    // agg, so heavy-hitter hosts arrive pre-combined.
    "q_host_rollup" -> ((s, dir) => {
      val docs = Tables.read(s, dir, "documents")
      val u = docs.select(col("doc_id"),
          graft.ext.Urls.demoUrl(col("doc_id"), col("source")).as("url"),
          TextAnalysis.nTokens(col("text")).cast("long").as("n_tokens"))
        .select(col("doc_id"), col("n_tokens"),
          graft.ext.Urls.urlCanonical(col("url")).as("url_canon"),
          graft.ext.Urls.urlHost(col("url")).as("host"))
      u.join(Dedup.noveltyCensus(docs, "doc_id", "text", n = 3)
            .select(col("doc_id"), col("novelty_ppm")), "doc_id")
        .groupBy(col("host"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("url_canon")).as("n_urls"),
          sum(col("n_tokens")).as("n_tokens"),
          expr("sum(novelty_ppm) div count(1)").as("mean_novelty_ppm"))
        .orderBy(col("host"))
    }),

    // RefinedWeb-style URL FILTER over the canonical form — the
    // frontier gate a crawl runs before fetching: non-document
    // extensions, admin/tag/feed surfaces, parameter explosions,
    // calendar-trap path depth, over-long URLs, each rule its own
    // column + keep + FIRST failing reason (dropped URLs are
    // attributable; per-reason attrition is one aggregation away).
    // The dead-letter plant lands as reason='invalid'. Pure narrow
    // expressions over the canonical string — zero shuffles.
    "q_url_filter" -> ((s, dir) => {
      val c = Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          graft.ext.Urls.urlCanonical(
            graft.ext.Urls.demoCrawlUrl(col("doc_id"), col("source")))
            .as("url_canon"))
        .withColumn("f", graft.ext.Urls.urlFilter(col("url_canon")))
      // rule flags cast to long: the dead-letter rows carry NULL
      // flags, and nullable booleans hash as mixed dtypes in the
      // driver compare (the house cast-to-BIGINT convention)
      c.select(col("doc_id"), col("url_canon"),
          col("f.ext_blocked").cast("long").as("ext_blocked"),
          col("f.part_banned").cast("long").as("part_banned"),
          col("f.too_many_params").cast("long").as("too_many_params"),
          col("f.too_deep").cast("long").as("too_deep"),
          col("f.too_long").cast("long").as("too_long"),
          col("f.keep").cast("long").as("keep"), col("f.reason"))
        .orderBy(col("doc_id"))
    }),

    // Frontier ATTRITION report — how much of the crawl each filter
    // rule sheds (the run report a frontier publishes): one row per
    // reason (kept incluced) with URL and distinct-canonical counts.
    // One hash aggregation over the per-URL verdicts.
    "q_url_frontier" -> ((s, dir) =>
      Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          graft.ext.Urls.urlCanonical(
            graft.ext.Urls.demoCrawlUrl(col("doc_id"), col("source")))
            .as("url_canon"))
        .select(col("url_canon"),
          graft.ext.Urls.urlFilter(col("url_canon"))
            .getField("reason").as("reason"))
        .groupBy(coalesce(col("reason"), lit("kept")).as("stage"))
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("url_canon")).as("n_canonical"))
        .orderBy(col("stage"))),

    // ...the same report derived from the urls/batch=<id> ledger
    // maintained at ingest (verdict stored next to the canonical by
    // the typed-kernel tick) — shares q_url_frontier's oracle
    // cell-exactly: the at-ingest verdicts provably sum to the batch
    // report.
    "q_url_frontier_stream" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_urlf_")
      try
        Streaming.urlFrontierStreamAvailableNow(s, dir, tmp.toString,
            Streaming.nextQueryName("graft_urlf"))
          .localCheckpoint(true)
      finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }),

    // REGISTRABLE-domain (PLD / eTLD+1) rollup + cap — the RefinedWeb
    // move q_host_rollup's comment names: a host-level cap still lets
    // one registrant flood the corpus through subdomain farms, so the
    // quota keys on the registrable domain (news.bbc.co.uk and
    // m.bbc.co.uk are one budget). PLD = longest matching embedded
    // public-suffix-sample entry + one label (unknown TLDs fall back
    // to the prevailing-'*' last-two-labels rule; bare suffixes and
    // single-label hosts land in the NULL dead-letter group, reported
    // but never capped). The cap composes the existing sourceCap
    // machinery keyed on pld (rank = n_tokens desc, doc_id tiebreak,
    // cap 3 — binding at sf0.01's ~4 docs/PLD). Two hash aggregations
    // plus a PLD-keyed window whose partitions are domain-count many.
    "q_pld_rollup" -> ((s, dir) => {
      import s.implicits._
      // PLD via the typed kernel (O(labels) set lookups per row); the
      // oracle replays it with OracleBuilders.pldSql's flat CASE
      val h = Tables.read(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.nTokens(col("text")).cast("long").as("n_tokens"),
          graft.ext.Urls.demoHost(col("doc_id"), col("source")).as("host"))
        .as[(java.lang.Long, java.lang.Long, String)]
        .map { case (id, nt, host) =>
          (id, nt, host, graft.ext.Urls.registrableDomainLocal(host)) }
        .toDF("doc_id", "n_tokens", "host", "pld")
      val capped = graft.ext.Curation.sourceCap(
          h.filter(col("pld").isNotNull), "doc_id", "pld", "n_tokens",
          cap = 3)
        .groupBy(col("pld"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("kept_tokens"))
      h.groupBy(col("pld"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("host")).as("n_hosts"),
          sum(col("n_tokens")).as("n_tokens"))
        .join(capped, Seq("pld"), "left")
        .orderBy(col("pld"))
    }),

  )
}
