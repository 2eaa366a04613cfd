package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * language ID, quality scoring, token counting, fingerprinting.
  *
  * Extension scope beyond the reference (SURVEY.md §7.5) — the reference
  * stores free text only as an opaque `notes` column
  * (`/root/reference/sql/001_schema.sql:20`); these operators generalize
  * the engine to document corpora (driver table `documents`).
  *
  * Everything here except [[TextAnalysis.tfidfTopTerms]] is a pure
  * `Column` expression built from `org.apache.spark.sql.functions` —
  * codegen-friendly, no UDFs, fully pushdown/prune-transparent, and
  * embarrassingly parallel at 100 TB (per-row work, no shuffle).
  * tf-idf is the one corpus-level operator (aggregates + a join).
  */
object TextAnalysis {

  /** Canonical whitespace tokenizer (documents are single-space joined). */
  def tokens(text: Column): Column = split(text, " ")

  /** Word n-gram shingles, in order, possibly repeated. Documents shorter
    * than n tokens contribute one shingle: the whole text. NB
    * `sequence(1, 0)` yields a DESCENDING [1,0] in Spark, not an empty
    * array — the `when` guard is load-bearing. */
  def wordShingles(text: Column, n: Int): Column = {
    val t = tokens(text)
    // r16: positional-zip form. The old lambda (`transform(sequence,
    // i => concat_ws(" ", slice(t, i, n)))`) re-evaluated `t` — the
    // whole-document split — at EVERY shingle position (Catalyst
    // re-evaluates lambda-captured expressions per element): O(tokens²)
    // per doc. Zipping n whole-array slices evaluates the split a
    // constant (2n+2) times per row and the per-element work is struct
    // field reads — output-sized. Values and order are identical:
    // position i of the zip joins tokens i..i+n-1, exactly the old
    // slice.
    val m = size(t) - (n - 1)
    when(size(t) >= n,
      transform(
        arrays_zip((1 to n).map(j => slice(t, lit(j), m).as(s"_w$j")): _*),
        s => concat_ws(" ", (1 to n).map(j => s(s"_w$j")): _*)))
      .otherwise(array(text))
  }

  /** Distinct shingle set — the unit of Jaccard similarity. */
  def shingleSet(text: Column, n: Int = 3): Column =
    array_distinct(wordShingles(text, n))

  /** Canonical text normalization — the pass every corpus pipeline runs
    * before hashing/dedup so that case, stray punctuation, and ragged
    * whitespace don't defeat content addressing: lowercase, strip
    * non-alphanumeric characters (keeping spaces), collapse whitespace
    * runs, trim. Pure codegen'd expression work, no shuffle; apply
    * BEFORE [[shingleSet]]/`Dedup.*` so near-dup detection sees
    * canonical forms. (Unicode NFC/NFKC folding belongs here too when
    * inputs are not already ASCII-ish — compose with a normalizer
    * expression; the synthetic corpus is ASCII so this keeps to the
    * portable-SQL subset the oracle can replay.) */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Unicode compatibility fold: strip zero-width characters (ZWSP /
    * ZWNJ / ZWJ / ZWNBSP-BOM — stripped FIRST so they cannot sit
    * between a base character and its combining mark during
    * composition), then NFKC-normalize. This is the pass [[normalize]]
    * cannot express as portable SQL: an NFD sequence (`e` + U+0301)
    * and its precomposed NFC form are byte-DIFFERENT but visually
    * identical, so without the fold they hash to different row_hashes
    * and a leaked span in the other form evades the normalized
    * decontamination gate (ExtSpec pins exactly that catch); NFKC
    * additionally folds compatibility variants — fullwidth forms,
    * ligatures — that the same evasion can hide behind. */
  def foldUnicode(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c != 0x200B.toChar && c != 0x200C.toChar &&
          c != 0x200D.toChar && c != 0xFEFF.toChar)
        sb.append(c)
      i += 1
    }
    java.text.Normalizer.normalize(sb, java.text.Normalizer.Form.NFKC)
  }

  /** [[foldUnicode]] as a typed per-row kernel over `(idCol, textCol)`
    * — the JVM normalizer is not expressible as a Catalyst expression
    * tree, so this is the one normalize-path stage that runs as a
    * Dataset map (narrow, shuffle-free, text-size-linear; same scale
    * shape as [[graft.ext.Dedup.simhashSignaturesLocal]]). Compose
    * with [[normalize]] AFTER folding for the full canonical form.
    * Null text rows pass through null (the [[normalize]] contract). */
  def normalizeUnicodeLocal(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(java.lang.Long, String)]
      .map { case (id, t) =>
        (id, if (t == null) null else foldUnicode(t)) }
      .toDF(idCol, textCol)
  }

  // ── Language ID ────────────────────────────────────────────────────────

  /** Marker stopwords per language, checked in this fixed precedence
    * order (earlier wins ties). Tiny curated sets — the heuristic is
    * n-gram/stopword counting, not a trained model. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "it", "that", "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "no"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein"),
    "fr" -> Seq("le", "les", "des", "et", "une", "est", "pour", "dans", "qui", "pas"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有", "和", "就", "不", "人"))

  /** Number of tokens that are markers of `lang` (with multiplicity). */
  def langScore(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => t.isin(markers: _*)))

  /** Argmax language by marker-token count; ties resolve by precedence
    * order; all-zero scores → "und". */
  def langId(text: Column): Column = {
    val scores = LangMarkers.map { case (l, m) => l -> langScore(text, m) }
    val best = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((l, s), rest) =>
      when(s > 0 && s === best, lit(l)).otherwise(rest)
    }
  }

  // ── Char-n-gram language ID (the CLD/textcat profile family) ──────────

  /** Per-language seed corpora the trigram profiles train from — a few
    * hand-written sentences each (authored here; no external data).
    * Order is the tie-break precedence, matching [[LangMarkers]]. The
    * marker heuristic above needs a stopword to FIRE; this family
    * scores every character trigram, so marker-free text still
    * classifies (the ExtSpec confusion matrix pins that advantage). */
  val LangSeeds: Seq[(String, String)] = Seq(
    "en" -> ("the quick brown fox jumps over the lazy dog while the old " +
      "man walks down the long road to the market and buys some fresh " +
      "bread for his family because they are waiting at home and the " +
      "children want to hear another story about the sea before night " +
      "falls over the quiet town and everything becomes calm and still " +
      "yesterday morning we watched the rain from the kitchen window " +
      "and talked about the things we would do together in the summer"),
    "es" -> ("el zorro marrón salta sobre el perro perezoso mientras el " +
      "viejo camina por el largo camino hacia el mercado y compra pan " +
      "fresco para su familia porque están esperando en casa y los " +
      "niños quieren escuchar otra historia sobre el mar antes de que " +
      "caiga la noche sobre el pueblo tranquilo y todo quede en calma " +
      "una señora miraba hacia la calle desde la ventana abierta cuando " +
      "los vecinos hablaban del tiempo durante el desayuno aquella " +
      "mañana fría y después todos salieron juntos a trabajar en el " +
      "campo porque había mucho que hacer antes de la fiesta del pueblo"),
    "de" -> ("der schnelle braune fuchs springt über den faulen hund " +
      "während der alte mann die lange straße zum markt entlang geht " +
      "und frisches brot für seine familie kauft weil sie zu hause " +
      "warten und die kinder noch eine geschichte über das meer hören " +
      "wollen bevor die nacht über die stille stadt hereinbricht " +
      "gestern haben wir zusammen im garten gearbeitet und abends " +
      "saßen alle noch lange am großen tisch und sprachen über den tag"),
    "fr" -> ("le renard brun saute par dessus le chien paresseux pendant " +
      "que le vieil homme descend la longue route vers le marché et " +
      "achète du pain frais pour sa famille parce que les enfants " +
      "attendent à la maison et veulent entendre une autre histoire " +
      "sur la mer avant que la nuit tombe sur la ville tranquille " +
      "hier matin nous avons regardé la pluie depuis la fenêtre de la " +
      "cuisine et parlé de ce que nous ferions ensemble pendant l été"),
    "zh" -> ("敏捷的棕色狐狸跳过懒惰的狗 老人沿着长长的路走到市场 为家人买新鲜的" +
      "面包 因为他们在家里等着 孩子们想再听一个关于大海的故事 夜晚降临之前 安静" +
      "的小镇变得平静 我们明天一起去公园散步 天气很好 大家都很开心 " +
      "昨天早上我们在厨房看外面下雨 说起夏天想一起做的事情 晚饭后大家坐在院子里" +
      "聊天 直到月亮升起来才回屋休息"))

  /** Micro-log2 cost for a trigram absent from a language's profile —
    * strictly below any in-profile log-probability (profiles are ≤ a
    * few hundred trigrams, so min lp ≈ −11e6 ≫ this). */
  val LangOovLp: Long = -20000000L

  /** Driver-side normalization twin of [[langNormalize]] (used only on
    * the literal seeds at profile-build time). */
  private def normalizeSeed(s: String): String =
    s.toLowerCase.replaceAll("[^\\p{L} ]", " ").replaceAll(" +", " ").trim

  /** Train one trigram profile: the top-`topN` trigrams by count (ties
    * by trigram ascending) with micro-quantized (1e-6) log2 relative
    * frequency. Quantized ONCE here on the driver — both engines
    * consume the same literal longs, so the classifier has no
    * cross-engine float surface at all (the `bigramLogProb` quantized
    * log-prob discipline, applied at train time instead of query time). */
  def trigramProfile(seed: String, topN: Int = 96): Seq[(String, Long)] = {
    val n = normalizeSeed(seed)
    val tgs = (0 to n.length - 3).map(i => n.substring(i, i + 3))
    val total = tgs.size.toDouble
    tgs.groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (tg, c) => (-c, tg) }
      .take(topN)
      .map { case (tg, c) =>
        tg -> math.round(math.log(c / total) / math.log(2.0) * 1e6) }
  }

  /** The literal profile relation: (lang, precedence, trigram, micro-lp).
    * ≤ 5 × 96 rows — broadcast-sized by construction, like a centroid
    * table; a production 100-language profile is still only ~10 k rows. */
  lazy val LangProfiles: Seq[(String, Int, String, Long)] =
    LangSeeds.zipWithIndex.flatMap { case ((lang, seed), prec) =>
      trigramProfile(seed).map { case (tg, lp) => (lang, prec, tg, lp) } }

  /** Lowercase, keep Unicode letters + spaces, collapse runs, trim —
    * the language-agnostic twin of [[normalize]] (which is ASCII-only
    * by design and would erase every non-Latin script). */
  def langNormalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^\\p{L} ]", " "), " +", " "))

  /** Char-trigram profile language classifier (the CLD/textcat shape):
    * every trigram of the [[langNormalize]]d text scores
    * `count × profile-lp` (absent trigram → [[LangOovLp]]), summed per
    * language; argmax wins, precedence breaks exact ties, documents
    * with no trigram (normalized length < 3, or null text) are "und".
    *
    * One partition-local pass and no shuffle: normalization stays the
    * Catalyst expression, then per row the code-point trigrams
    * accumulate `Σ c·lp` and the hit mass per language off a
    * driver-built trigram → per-language-lp table, and the OOV mass is
    * added arithmetically (`(n − m)·OOV`). All-long arithmetic, so the
    * `q_lang_id_ngram` oracle (Oracles2: trigram explode, profile join,
    * rank window) replays it exactly. The id column keeps its type and
    * a null id rides through. Output: `(idCol, lang_guess)`. */
  def langIdNgramLocal(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val nLangs = LangSeeds.length
    // trigram → dense per-lang lp vector (Long.MinValue = absent);
    // profiles are ≤ 5×96 entries, broadcast-by-closure is KBs
    val profMap: Map[String, Array[Long]] = LangProfiles
      .groupBy(_._3)
      .map { case (tg, rows) =>
        val v = Array.fill(nLangs)(Long.MinValue)
        rows.foreach { case (_, prec, _, lp) => v(prec) = lp }
        tg -> v
      }
    val langNames = LangSeeds.map(_._1).toArray
    val in = docs.select(col(idCol), langNormalize(col(textCol)).as("_t"))
    val enc = org.apache.spark.sql.Encoders.row(StructType(Array(
      in.schema.fields.head, StructField("lang_guess", StringType))))
    in.mapPartitions { it =>
      it.map { r =>
        val t = r.getString(1)
        val cps = if (t == null) Array.emptyIntArray else t.codePoints().toArray
        val n = cps.length - 2
        var lang = "und"
        if (n > 0) {
          val hit = new Array[Long](nLangs)
          val m = new Array[Long](nLangs)
          var i = 0
          while (i < n) {
            val v = profMap.getOrElse(new String(cps, i, 3), null)
            if (v != null) {
              var l = 0
              while (l < nLangs) {
                if (v(l) != Long.MinValue) { hit(l) += v(l); m(l) += 1 }
                l += 1
              }
            }
            i += 1
          }
          // argmax by score desc, precedence asc — the oracle's rank
          // window order, exactly: strict > keeps the earliest
          // (lowest-prec) language on ties
          var bestL = 0
          var bestScore = Long.MinValue
          var l = 0
          while (l < nLangs) {
            val score = hit(l) + (n - m(l)) * LangOovLp
            if (score > bestScore) { bestScore = score; bestL = l }
            l += 1
          }
          lang = langNames(bestL)
        }
        org.apache.spark.sql.Row(r.get(0), lang)
      }
    }(enc)
  }

  /** [[langId]] with a CONFIDENCE MARGIN — the thresholded form
    * CCNet-class pipelines actually gate on (fastText emits a
    * probability; this heuristic's analogue is the best-vs-runner-up
    * marker-count gap): `lang` is the plain argmax (precedence
    * tie-break), `margin = best − second` over the per-language
    * [[langScoresLocal]] counts (exact ties → 0), and `lang_conf`
    * keeps the argmax only when at least one marker fired AND the
    * margin clears `minMargin` — ambiguous bilingual text demotes to
    * "und" instead of being claimed by whichever language wins by one
    * stopword. One partition-local pass of integer counts, so the
    * `q_lang_margin` oracle (Oracles2) replays it exactly. Null text →
    * ("und", null, null, null, "und"). Output:
    * `(idCol, lang, best, second, margin, lang_conf)`. */
  def langIdMarginLocal(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, minMargin: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val in = docs.select(col(idCol), col(textCol).cast("string").as(textCol))
    val outSchema = StructType(Array(
      in.schema.fields.head,
      StructField("lang", StringType),
      StructField("best", LongType),
      StructField("second", LongType),
      StructField("margin", LongType),
      StructField("lang_conf", StringType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { it =>
      it.map { r =>
        val id = r.get(0)
        val text = r.getAs[String](1)
        if (text == null)
          org.apache.spark.sql.Row(id, "und", null, null, null, "und")
        else {
          val scores = langScoresLocal(text.split(" ", -1))
          val lang = langIdOf(scores)
          val sorted = scores.clone()
          java.util.Arrays.sort(sorted)
          val best = sorted(sorted.length - 1).toLong
          val second = sorted(sorted.length - 2).toLong
          val margin = best - second
          val conf =
            if (best > 0 && margin >= minMargin) lang else "und"
          org.apache.spark.sql.Row(id, lang, best, second, margin, conf)
        }
      }
    }(enc)
  }

  // ── Quality scoring ────────────────────────────────────────────────────

  def nTokens(text: Column): Column = size(tokens(text))

  /** Mean token length in chars (token chars = total minus separators). */
  def meanTokenLen(text: Column): Column =
    (length(text) - (nTokens(text) - lit(1))).cast("double") /
      nTokens(text).cast("double")

  /** Fraction of characters outside [a-z0-9 ] (punctuation-ish). */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[a-z0-9 ]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Fraction of tokens that are English stopwords. */
  def stopwordRatio(text: Column): Column =
    langScore(text, LangMarkers.head._2).cast("double") /
      greatest(nTokens(text), lit(1)).cast("double")

  /** Composite quality score in [0, 100]: length, word-shape,
    * cleanliness, and stopword-presence terms, equally weighted. The
    * formula is this engine's own deterministic heuristic (the usual
    * length/punct/stopword-ratio family). */
  def qualityScore(text: Column): Column =
    lit(25.0) * least(nTokens(text).cast("double") / lit(50.0), lit(1.0)) +
      lit(25.0) * least(meanTokenLen(text) / lit(6.0), lit(1.0)) +
      lit(25.0) * (lit(1.0) - punctRatio(text)) +
      lit(25.0) * least(stopwordRatio(text) * lit(8.0), lit(1.0))

  // ── Typed kernels of the curate language/quality gates ──────────────

  /** Per-row marker scores in [[LangMarkers]] order (multiplicity
    * counted — the [[langScore]] definition). */
  private def langScoresLocal(toks: Array[String]): Array[Int] = {
    val out = new Array[Int](LangMarkerSets.length)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      var l = 0
      while (l < LangMarkerSets.length) {
        if (LangMarkerSets(l).contains(t)) out(l) += 1
        l += 1
      }
      i += 1
    }
    out
  }
  private lazy val LangMarkerSets: Array[Set[String]] =
    LangMarkers.map(_._2.toSet).toArray

  /** Driver/executor-side twin of [[langId]] over pre-split tokens:
    * argmax marker count, precedence tie-break, all-zero → "und". */
  private def langIdOf(scores: Array[Int]): String = {
    var mx = 0
    var i = 0
    while (i < scores.length) { if (scores(i) > mx) mx = scores(i); i += 1 }
    if (mx <= 0) "und"
    else {
      var l = 0
      while (scores(l) != mx) l += 1
      LangMarkers(l)._1
    }
  }

  /** Bit-exact local twin of [[qualityScore]]: every division,
    * `least`, multiply and the left-associated sum mirror the
    * expression's IEEE operation order, so the double compares the
    * gate makes (`quality >= minQuality`) cannot flip between forms.
    * `scoreEn` is the en-marker count (stopwordRatio's numerator). */
  private def qualityScoreOf(text: String, toks: Array[String],
      scoreEn: Int): Double = {
    val n = toks.length
    val nd = n.toDouble
    // lengths in CODE POINTS, not UTF-16 units, like the expression's
    // length()/regexp_replace: a supplementary-plane char (emoji, rare
    // CJK) counts once, or the quality double — and the `>= minQuality`
    // gate — would diverge on non-BMP text (the specs' emoji fixtures)
    val cpLen = text.codePointCount(0, text.length)
    var punct = 0
    var j = 0
    while (j < text.length) {
      val cp = text.codePointAt(j)
      if (!((cp >= 'a' && cp <= 'z') || (cp >= '0' && cp <= '9') || cp == ' '))
        punct += 1
      j += Character.charCount(cp)
    }
    25.0 * math.min(nd / 50.0, 1.0) +
      25.0 * math.min(((cpLen - (n - 1)).toDouble / nd) / 6.0, 1.0) +
      25.0 * (1.0 - punct.toDouble / math.max(cpLen, 1).toDouble) +
      25.0 * math.min(
        (scoreEn.toDouble / math.max(n, 1).toDouble) * 8.0, 1.0)
  }

  /** The funnel's per-row flag trio — `n_tokens`, `p_gf` (the
    * [[gopherRules]] `pass` conjunction) and `p_lq` (`langId === lang
    * && qualityScore >= minQuality`) — as ONE typed partition-local
    * pass. Same rationale as [[langQualityGateLocal]]; values are
    * bit-identical to those expressions (ExtSpec-pinned) and the
    * `q_filter_funnel` oracle (Oracles2 `filterFunnelOracle`) replays
    * them. Null text mirrors the expressions exactly: `n_tokens` and
    * `p_gf` are NULL, but `p_lq` is FALSE — `langId(null)` falls
    * through every `when` to the literal "und", so `langId === lang`
    * is a non-null false and three-valued `&&` collapses the null
    * quality compare to false.
    * Output: `(idCol[, textCol], n_tokens long, p_gf, p_lq)`. */
  def gopherLangFlagsLocal(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, lang: String, minQuality: Double,
      minWords: Int = 50, maxWords: Int = 100000, minStopHits: Int = 2,
      keepText: Boolean = false): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val in = docs.select(col(idCol), col(textCol).cast("string").as(textCol))
    val outSchema = StructType(
      (in.schema.fields.take(if (keepText) 2 else 1) :+
        StructField("n_tokens", LongType) :+
        StructField("p_gf", BooleanType) :+
        StructField("p_lq", BooleanType)).toArray)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val enMarkers = LangMarkers.head._2.toSet
    in.mapPartitions { it =>
      it.map { r =>
        val id = r.get(0)
        val text = r.getAs[String](1)
        val prefix = if (keepText) Seq(id, text) else Seq(id)
        if (text == null) {
          // expression replay: "und" === lang is false → p_lq false;
          // but a (pathological) lang == "und" gate turns the compare
          // true and `true && null-quality` stays NULL
          val pLqNull: Any = if (lang == "und") null else false
          org.apache.spark.sql.Row.fromSeq(
            prefix ++ Seq(null, null, pLqNull))
        } else {
          val toks = text.split(" ", -1)
          val nw = toks.length
          // code points, matching the expression twin's length() (see
          // qualityScoreOf's note)
          val mwl = (text.codePointCount(0, text.length) - (nw - 1))
            .toDouble / nw.toDouble
          var alpha = 0
          val stopSeen =
            new java.util.HashSet[String](enMarkers.size * 2)
          var i = 0
          while (i < nw) {
            val t = toks(i)
            var hasA = false
            var j = 0
            while (!hasA && j < t.length) {
              val c = t.charAt(j)
              if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z'))
                hasA = true
              j += 1
            }
            if (hasA) alpha += 1
            if (enMarkers.contains(t)) { stopSeen.add(t); () }
            i += 1
          }
          val alphaRatio = alpha.toDouble / math.max(nw, 1).toDouble
          val pGf = nw >= minWords && nw <= maxWords &&
            mwl >= 3.0 && mwl <= 10.0 &&
            alphaRatio >= 0.8 && stopSeen.size >= minStopHits
          val scores = langScoresLocal(toks)
          val pLq = langIdOf(scores) == lang &&
            qualityScoreOf(text, toks, scores(0)) >= minQuality
          org.apache.spark.sql.Row.fromSeq(
            prefix ++ Seq(nw.toLong, pGf, pLq))
        }
      }
    }(enc)
  }

  /** The curate stage-1/2 gate (`langId === lang && qualityScore >=
    * minQuality`, appending `quality` + `n_tokens`) as ONE typed
    * partition-local pass — the hot per-tick expression of the
    * pipeline/funnel ledger ingests and [[graft.ext.Curation.curate]].
    *
    * Why a kernel: [[langScore]]'s higher-order `filter` runs an
    * INTERPRETED `isin` per (token, language) pair and the composite
    * expression re-splits the text several times (0.87 s per sf0.1
    * corpus pass against ~0.05 s here). Values are bit-identical to the
    * expressions, `quality` doubles included (ExtSpec-pinned); the
    * DuckDB replay is `OracleBuilders.curationGateCtesFrom`.
    *
    * Row contract mirrors the expression pipeline: null text never
    * passes the gate (its `langId` is "und" and its quality is null);
    * all `carryCols` ride through untouched. Output columns:
    * `(idCol, textCol, carryCols..., quality, n_tokens)`. */
  def langQualityGateLocal(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, lang: String, minQuality: Double,
      carryCols: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val in = docs.select(
      (Seq(col(idCol), col(textCol).cast("string").as(textCol)) ++
        carryCols.map(col)): _*)
    val outSchema = in.schema
      .add("quality", org.apache.spark.sql.types.DoubleType)
      .add("n_tokens", org.apache.spark.sql.types.IntegerType)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { it =>
      it.flatMap { r =>
        val text = r.getAs[String](1)
        if (text == null) Iterator.empty
        else {
          val toks = text.split(" ", -1)
          val scores = langScoresLocal(toks)
          if (langIdOf(scores) != lang) Iterator.empty
          else {
            val q = qualityScoreOf(text, toks, scores(0))
            if (q >= minQuality)
              Iterator.single(org.apache.spark.sql.Row.fromSeq(
                r.toSeq :+ q :+ toks.length))
            else Iterator.empty
          }
        }
      }
    }(enc)
  }

  /** Gopher-style rule gate (Rae et al. 2021, the repetition/format
    * filter table, adapted to the word-level signals a single-line
    * corpus carries): each rule reports its measured value AND its
    * flag, plus the conjunction `pass` — the cheap pre-filter a
    * pretraining pipeline runs before the heavier dedup stages, kept
    * rule-per-column so rejected documents are attributable. Rules:
    * word count within [minWords, maxWords]; mean word length within
    * [3, 10]; fraction of words containing an alphabetic character
    * ≥ 0.8; at least `minStopHits` DISTINCT English stopword markers
    * ([[LangMarkers]] head). Flags compare the UNROUNDED measures (the
    * 6-dp rounding is display-only, mirrored by the oracle).
    *
    * Scale: pure per-row expressions — narrow, codegen'd, shuffle-free;
    * run it first so later stages see only survivors. */
  def gopherRules(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minWords: Int = 50, maxWords: Int = 100000,
      minStopHits: Int = 2): org.apache.spark.sql.DataFrame = {
    val t = col(textCol)
    val nw = nTokens(t)
    val mwl = meanTokenLen(t)
    val alphaRatio =
      size(filter(tokens(t), w => w.rlike("[A-Za-z]"))).cast("double") /
        greatest(nw, lit(1)).cast("double")
    val stopHits = size(array_intersect(array_distinct(tokens(t)),
      typedLit(LangMarkers.head._2)))
    val okWords = nw >= minWords && nw <= maxWords
    val okWordLen = mwl >= 3.0 && mwl <= 10.0
    val okAlpha = alphaRatio >= 0.8
    val okStop = stopHits >= minStopHits
    docs.select(col(idCol),
      nw.cast("long").as("n_words"),
      round(mwl, 6).as("mean_word_len"),
      round(alphaRatio, 6).as("alpha_word_ratio"),
      stopHits.cast("long").as("stop_hits"),
      okWords.as("ok_words"),
      okWordLen.as("ok_word_len"),
      okAlpha.as("ok_alpha"),
      okStop.as("ok_stop"),
      (okWords && okWordLen && okAlpha && okStop).as("pass"))
  }

  /** Fraction of word n-gram shingles that are repeats of an earlier
    * shingle in the same document — the classic repeated-n-gram
    * quality signal for training corpora (high ratio = boilerplate /
    * degenerate repetition) — as one typed partition-local pass.
    * Shingles are [[wordShingles]]' (a text under n tokens is one
    * whole-text shingle, ratio 0); the `q_repetition` oracle (Oracles2)
    * replays it. Contract mirrors [[Dedup.shingleSets]]:
    * numeric/long-castable ids, null id or null text drops the row. */
  def repetitionRatios(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int = 3): org.apache.spark.sql.DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(java.lang.Long, String)]
      .flatMap { case (id, text) =>
        if (id == null || text == null) None
        else {
          val toks = text.split(" ", -1)
          var ratio = 0.0
          if (toks.length >= n) {
            val total = toks.length - n + 1
            val seen = new java.util.HashSet[String](total * 2)
            var distinct = 0
            var i = 0
            while (i <= toks.length - n) {
              val sb = new java.lang.StringBuilder(toks(i))
              var j = 1
              while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
              if (seen.add(sb.toString)) distinct += 1
              i += 1
            }
            // exact int division in double — the oracle's
            // `1.0 - distinct / total`, bit for bit
            ratio = 1.0 - distinct.toDouble / total.toDouble
          } // under n tokens: one whole-text shingle, 1 distinct -> 0.0
          Some((id.longValue, ratio))
        }
      }.toDF(idCol, "rep_ratio")
  }

  /** The published Gopher REPETITION rule family (Rae et al. 2021,
    * Appendix A1.1) — the signals [[gopherRules]] deliberately left
    * out: duplicate-line fraction, duplicate-paragraph fraction, their
    * character-mass variants, and the top-2/3/4-gram character-mass
    * fractions, each against the paper's published threshold. This
    * corpus is single-line (no '\n'), so "line" and "paragraph" are the
    * [[Dedup.segmentDedup]] convention: fixed `lineWords`- /
    * `paraWords`-word windows at offsets 0, w, 2w, … re-joined with a
    * space (the natural segment unit for a whitespace corpus; a real
    * web corpus splits on '\n' / '\n\n' instead — only the
    * segmentation column changes).
    *
    * Definitions (ppm-quantized integer math so the oracle replays
    * exactly):
    *  - `dup_line_ppm`   = 10⁶·(n_lines − n_distinct_lines) div n_lines
    *    (every occurrence beyond a value's first is a duplicate);
    *  - `dup_line_char_ppm` = 10⁶·Σ_values (cnt−1)·len(value) div
    *    max(doc_chars, 1) — the character mass of those beyond-first
    *    occurrences;
    *  - `topN_char_ppm` = 10⁶·max{cnt·len(g) : g has the doc's maximal
    *    sliding-N-gram count} div max(doc_chars, 1) — the tie rule
    *    (max mass among top-count grams) keeps the value well-defined
    *    without an ordering convention. Docs under N words have no
    *    N-gram and score 0.
    * Thresholds (flag = measure ≤ bound, matching the paper's removal
    * bounds): lines 0.30 / 0.20 (count/char), paragraphs 0.30 / 0.20,
    * top-2/3/4-gram char 0.20 / 0.18 / 0.16.
    *
    * One typed per-row pass — zero shuffles, zero joins; the duplicate
    * walk is one sort + adjacent-equality pass (O(k log k) per doc,
    * never the O(k²) value-by-value recount), and the top-gram walk is
    * a single sorted-run fold. All measures are integer math, so the
    * oracle (Oracles2 `gopherRepetitionOracle`, per-(doc, segment)
    * GROUP BY counts) replays them exactly. Long-castable ids; a null
    * id drops the row, null text reads as "". */
  def gopherRepetitionLocal(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, lineWords: Int = 8,
      paraWords: Int = 32): org.apache.spark.sql.DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    docs.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(java.lang.Long, String)]
      .flatMap { case (id, textOrNull) =>
        if (id == null) None
        else {
          val text = if (textOrNull == null) "" else textOrNull
          val toks = text.split(" ", -1)
          // code POINTS, not UTF-16 units — Spark's length() and
          // DuckDB's length() both count code points, and the ppm
          // denominators must agree on astral-plane text too
          def cp(x: String): Long =
            x.codePointCount(0, x.length).toLong
          val nChars = math.max(cp(text), 1L)
          def segsOf(w: Int): Array[String] = {
            val out = new Array[String]((toks.length - 1) / w + 1)
            var i = 0
            while (i < out.length) {
              out(i) = toks.slice(i * w,
                math.min(i * w + w, toks.length)).mkString(" ")
              i += 1
            }
            out
          }
          // sorted adjacency: in a sorted array every element equal to
          // its predecessor is an occurrence beyond its value's first
          def dup(segs: Array[String]): (Long, Long, Long) = {
            val s = segs.clone(); java.util.Arrays.sort(
              s, java.util.Comparator.naturalOrder[String]())
            var d = 0L; var dc = 0L; var i = 1
            while (i < s.length) {
              if (s(i) == s(i - 1)) { d += 1; dc += cp(s(i)) }
              i += 1
            }
            (s.length.toLong, d, dc)
          }
          // run fold over sorted n-grams carrying (prev, run count,
          // best count, best mass): a run that passes the best count
          // resets the mass, a tie takes the max mass
          def topMass(n: Int): Long = {
            if (toks.length < n) return 0L
            val grams = new Array[String](toks.length - n + 1)
            var i = 0
            while (i <= toks.length - n) {
              val sb = new java.lang.StringBuilder(toks(i))
              var j = 1
              while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
              grams(i) = sb.toString; i += 1
            }
            java.util.Arrays.sort(
              grams, java.util.Comparator.naturalOrder[String]())
            var prev = ""; var cnt = 0L; var bc = 0L; var bm = 0L
            i = 0
            while (i < grams.length) {
              val g = grams(i)
              cnt = if (g == prev && i > 0) cnt + 1 else 1L
              val mass = cnt * cp(g)
              if (cnt > bc) bm = mass
              else if (cnt == bc) bm = math.max(bm, mass)
              bc = math.max(bc, cnt)
              prev = g; i += 1
            }
            bm
          }
          val (nl, dl, dlc) = dup(segsOf(lineWords))
          val (np, dp, dpc) = dup(segsOf(paraWords))
          val (t2, t3, t4) = (topMass(2), topMass(3), topMass(4))
          val dlp = 1000000L * dl / nl
          val dlcp = 1000000L * dlc / nChars
          val dpp = 1000000L * dp / np
          val dpcp = 1000000L * dpc / nChars
          val t2p = 1000000L * t2 / nChars
          val t3p = 1000000L * t3 / nChars
          val t4p = 1000000L * t4 / nChars
          Some((id.longValue, nl, np, dlp, dlcp, dpp, dpcp, t2p, t3p, t4p,
            dlp <= 300000L, dlcp <= 200000L, dpp <= 300000L,
            dpcp <= 200000L, t2p <= 200000L, t3p <= 180000L,
            t4p <= 160000L,
            dlp <= 300000L && dlcp <= 200000L && dpp <= 300000L &&
              dpcp <= 200000L && t2p <= 200000L && t3p <= 180000L &&
              t4p <= 160000L))
        }
      }.toDF(idCol, "n_lines", "n_paras",
        "dup_line_ppm", "dup_line_char_ppm",
        "dup_para_ppm", "dup_para_char_ppm",
        "top2_char_ppm", "top3_char_ppm", "top4_char_ppm",
        "ok_dup_line", "ok_dup_line_char", "ok_dup_para",
        "ok_dup_para_char", "ok_top2", "ok_top3", "ok_top4",
        "pass_repetition")
  }

  /** Deterministic SYNTHETIC page rendering for the C4 gate — query-
    * fixture logic, deliberately SEPARATE from the rule operator: this
    * corpus is single-line prose with no punctuation, so every
    * published C4 rule would be vacuous on the raw text. The rendering
    * (the q_mojibake planting precedent — both engines replay it
    * exactly): words re-wrap at `wordsPerLine` per line; line `i` of
    * doc `d` ends in '.' iff md5Top60("d:i") % 4 ≠ 0 (≈ 75% of lines,
    * so the terminal-punct rule has both outcomes at every SF); docs
    * with id % 97 = 0 carry a planted "lorem ipsum" and id % 89 = 0 a
    * planted "{" — PREPENDED so the plant always lands inside line 1
    * (appending could straddle a line boundary and dodge the page
    * scan). Output: `(idCol, page)` — newline-joined lines, the shape
    * [[c4Rules]] consumes. */
  def c4SyntheticPage(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, wordsPerLine: Int = 6)
      : org.apache.spark.sql.DataFrame = {
    require(wordsPerLine > 0)
    val base = filter(
      split(coalesce(col(textCol).cast("string"), lit("")), " ", -1),
      w => w =!= "")
    val withBrace = when(col(idCol) % 89 === 0,
      concat(array(lit("{")), base)).otherwise(base)
    val words = when(col(idCol) % 97 === 0,
      concat(array(lit("lorem"), lit("ipsum")), withBrace))
      .otherwise(withBrace)
    docs.select(col(idCol), words.as("_w"))
      .withColumn("_nl", greatest(
        expr(s"(size(_w) + ${wordsPerLine - 1}) div $wordsPerLine")
          .cast("long"), lit(1L)))
      .select(col(idCol),
        array_join(transform(sequence(lit(1L), col("_nl")), i => {
          val lw = slice(col("_w"),
            ((i - lit(1L)) * wordsPerLine + lit(1L)).cast("int"),
            lit(wordsPerLine))
          val terminal =
            Sampling.md5Top60(concat_ws(":", col(idCol), i)) % 4 =!= 0
          concat(array_join(lw, " "),
            when(terminal, lit(".")).otherwise(lit("")))
        }), "\n").as("page"))
  }

  /** The published C4 CLEANING rule family (Raffel et al. 2020 §2.2)
    * over an ALREADY-RENDERED multi-line page column — real web pages,
    * or [[c4SyntheticPage]] for this corpus's gate: retain only lines
    * ending in a terminal punctuation mark (. ! ? ") AND containing ≥
    * `minLineWords` whitespace-separated words; discard any page with
    * fewer than `minSentences` retained lines, any page containing the
    * boilerplate marker "lorem ipsum", and any page containing a curly
    * brace (code). Rule-per-column so rejected pages are attributable,
    * `pass` is the conjunction.
    *
    * Scale (100 TB): pure per-row expression chain — zero shuffles,
    * zero joins; runs in the same scan as [[gopherRules]] /
    * [[gopherRepetitionLocal]]. */
  def c4Rules(docs: org.apache.spark.sql.DataFrame, idCol: String,
      pageCol: String, minLineWords: Int = 5, minSentences: Int = 3)
      : org.apache.spark.sql.DataFrame = {
    require(minLineWords > 0 && minSentences > 0)
    val page = coalesce(col(pageCol).cast("string"), lit(""))
    val lineStats = transform(split(page, "\n", -1), l => {
      val nW = size(filter(split(l, " ", -1), w => w =!= ""))
      val terminal = substring(l, -1, 1).isin(".", "!", "?", "\"")
      struct(nW.cast("long").as("len"),
        (terminal && nW >= minLineWords).as("kept"))
    })
    docs.select(col(idCol), page.as("_pg"), lineStats.as("_ls"))
      .select(col(idCol),
        size(col("_ls")).cast("long").as("n_lines"),
        size(filter(col("_ls"), l => l("kept"))).cast("long")
          .as("n_sentences"),
        aggregate(filter(col("_ls"), l => l("kept")), lit(0L),
          (acc, l) => acc + l("len")).as("retained_words"),
        col("_pg").contains("lorem ipsum").as("has_lorem"),
        col("_pg").contains("{").as("has_brace"))
      .withColumn("pass",
        col("n_sentences") >= minSentences &&
          !col("has_lorem") && !col("has_brace"))
  }

  /** HTML → text extraction — the stage a crawl pipeline runs before
    * language ID ever sees a byte: drop `<script>`/`<style>` blocks
    * WITH their content (code and CSS are not prose; a brace-counting
    * quality gate downstream must not be fed them), drop comments,
    * replace every remaining tag with a space, decode the common
    * entities (`&amp;` LAST, so literal `&amp;lt;` correctly renders
    * `&lt;` and never double-decodes), collapse whitespace, trim.
    * Deliberately the deterministic regex subset both engines share
    * (RE2 and Java agree on `(?is)`, non-greedy `.*?`, and explicit
    * classes — the [[EmailRegex]] compatibility note applies): this is
    * the Common-Crawl-WET-style extraction, not a DOM parser — no
    * charset sniffing, no readability scoring (those are I/O-adjacent
    * concerns a real ingest solves before the engine).
    *
    * Real-crawl hardening (r15): (a) the tag-strip regex skips QUOTED
    * attribute spans, so `<a title="a>b">` strips as one tag instead
    * of terminating at the quoted `>`; (b) NUMERIC character
    * references decode over the enumerated [[HtmlNumericRefs]] set —
    * decimal and hex forms, case-insensitive, leading zeros — with
    * `&#38;`/`&#x26;` folded into the `&amp;`-LAST step so
    * `&#38;lt;`, like `&amp;lt;`, renders the literal `&lt;` and
    * never double-decodes. The entity table stays deliberately
    * bounded (named seven + the enumerated numeric points): a full
    * HTML5 table is a DOM parser's job.
    *
    * Scale (100 TB): pure per-row regexp chain — zero shuffles, runs
    * in the same scan as the quality gates. */
  def htmlExtract(html: Column): Column = {
    val noScript = regexp_replace(
      coalesce(html.cast("string"), lit("")),
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle =
      regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    // the quote-aware tag regex's alternation costs ~3× the plain
    // class scan, and quoted attributes are absent from most BLOCK
    // bodies (the htmlBlocksLocal per-<p> path) — gate it on a cheap
    // contains-quote test, the same discipline as the numeric-ref
    // chain's contains("&#") below. Semantics-free: on a string with
    // no '"' and no '\'' the hardened alternation's quoted branches
    // can never fire, so it degenerates to exactly `<[^>]*>` — the
    // two branches strip identical spans. CaseWhen evaluates the
    // chosen branch lazily, so the skip is real. The oracle needs no
    // mirror: the output is pointwise identical for every input.
    val noTags = when(
      instr(noComment, "\"") > 0 || instr(noComment, "'") > 0,
      regexp_replace(noComment, HtmlTagRegex, " "))
      .otherwise(regexp_replace(noComment, "<[^>]*>", " "))
    val named = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&apos;" -> "'", "&nbsp;" -> " ")
      .foldLeft(noTags) { case (c, (e, v)) => replace(c, lit(e), lit(v)) }
    // the numeric-reference chain is ~14 regexp passes — gate it on a
    // cheap contains("&#"): rows without any numeric ref (most of a
    // real crawl after tag-strip) skip the whole chain, and the guard
    // is semantics-free (a ref-free string is a fixed point of every
    // pass). CaseWhen evaluates the THEN branch lazily, so the skip is
    // real, not just plan-cosmetic. Mirrored textually in the oracle.
    val chain = HtmlNumericRefs.foldLeft(named) { case (c, (cp, v)) =>
      regexp_replace(c, htmlNumericRefPattern(cp), v)
    }
    val numeric = when(instr(named, "&#") > 0, chain).otherwise(named)
    val decoded = regexp_replace(numeric, HtmlAmpRegex, "&")
    trim(regexp_replace(decoded, "[ \\t\\n\\r]+", " "))
  }

  /** Tag-strip regex that skips quoted attribute values — `"…"` and
    * `'…'` spans may contain `>` without terminating the tag (the
    * `<a title="a>b">` real-crawl case). Alternation branches are
    * first-character-disjoint, so both RE2 and Java scan linearly. */
  val HtmlTagRegex: String = "<(?:[^>\"']|\"[^\"]*\"|'[^']*')*>"

  /** The enumerated numeric-reference codepoints [[htmlExtract]]
    * decodes (the bounded table: ASCII marks crawls actually escape +
    * the common typographic points), paired with their decoded text.
    * 160 (nbsp) maps to a plain space exactly as `&nbsp;` does; 38
    * (`&`) is deliberately ABSENT — it decodes in the amp-LAST step
    * ([[HtmlAmpRegex]]) to preserve no-double-decode semantics. */
  val HtmlNumericRefs: Seq[(Int, String)] = Seq(
    34 -> "\"", 39 -> "'", 60 -> "<", 62 -> ">", 160 -> " ",
    8211 -> "\u2013", 8212 -> "\u2014", 8216 -> "\u2018",
    8217 -> "\u2019", 8220 -> "\u201c", 8221 -> "\u201d",
    8226 -> "\u2022", 8230 -> "\u2026")

  /** `(?i)&#(0*<dec>|x0*<hex>);` — both numeric forms of one
    * codepoint, case-insensitive, tolerating leading zeros. */
  def htmlNumericRefPattern(cp: Int): String =
    s"(?i)&#(0*$cp|x0*${cp.toHexString});"

  /** The LAST decode step: `&amp;` and its numeric spellings — after
    * every other entity, so `&amp;lt;`/`&#38;lt;` render the literal
    * `&lt;`. */
  val HtmlAmpRegex: String = "(?i)&(amp|#0*38|#x0*26);"

  /** Deterministic SYNTHETIC page markup for the extraction gate (the
    * [[c4SyntheticPage]] fixture precedent — the corpus carries no
    * HTML, so the query renders every rule's trigger: script WITH a
    * stray `<` and braces inside, style with braces, a comment plant
    * on id % 5, attribute-carrying tags, all seven entities PLUS the
    * r15 numeric-reference forms — decimal, hex, leading-zero, and
    * the `&#38;lt;` no-double-decode edge — on id % 3, and a tag
    * whose quoted attributes contain `>` in both quote styles on
    * id % 7). Output `(idCol, page)`. */
  def htmlSyntheticPage(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol), concat(
      lit("<html><head><title>Doc</title>" +
        "<style>p { margin: 0; }</style>" +
        "<script>if (1 < 2) { alert(\"x &amp; y\"); }</script></head>" +
        "<body>"),
      when(col(idCol) % 5 === 0,
        "<!-- boilerplate comment words -->").otherwise(""),
      lit("<h1 class=\"hd\">Heading &amp; intro</h1><p>"),
      coalesce(col(textCol).cast("string"), lit("")),
      lit("</p>"),
      when(col(idCol) % 3 === 0,
        "<p>Tail &lt;tagged&gt; &quot;quoted&quot;&nbsp;" +
          "entity&#39;s &apos;end&apos; hex&#x27;s zero&#039;d " +
          "dash&#8211;here amp&#38;lt;kept &#x2019;curly&#8217;</p>")
        .otherwise(""),
      when(col(idCol) % 7 === 0,
        "<a title=\"a>b\" class='c>d'>quoted attr text</a>")
        .otherwise(""),
      lit("</body></html>")).as("page"))

  /** [[htmlExtract]] over a plain String: the SAME java.util.regex
    * patterns (compiled once per JVM) in the same order with the same
    * replacements and the same two semantics-free instr gates, so
    * outputs are pointwise identical. The Column form compiles into
    * one enormous codegen method and converts UTF8String ⇄ String at
    * every step; the per-block kernels call this form instead. */
  private[graft] object HtmlPatterns {
    import java.util.regex.Pattern
    val script: Pattern = Pattern.compile("(?is)<script[^>]*>.*?</script>")
    val style: Pattern = Pattern.compile("(?is)<style[^>]*>.*?</style>")
    val comment: Pattern = Pattern.compile("(?s)<!--.*?-->")
    val tagQuoted: Pattern = Pattern.compile(HtmlTagRegex)
    val tagPlain: Pattern = Pattern.compile("<[^>]*>")
    val numeric: Seq[(Pattern, String)] = HtmlNumericRefs.map {
      case (cp, v) => Pattern.compile(htmlNumericRefPattern(cp)) -> v }
    val amp: Pattern = Pattern.compile(HtmlAmpRegex)
    val ws: Pattern = Pattern.compile("[ \\t\\n\\r]+")
    val para: Pattern = Pattern.compile("(?is)<p[^>]*>(.*?)</p>")
    val anchor: Pattern = Pattern.compile("(?is)<a[^>]*>(.*?)</a>")
  }

  def htmlExtractLocal(html: String): String = {
    import HtmlPatterns._
    val x0 = if (html == null) "" else html
    val x1 = script.matcher(x0).replaceAll(" ")
    val x2 = style.matcher(x1).replaceAll(" ")
    val x3 = comment.matcher(x2).replaceAll(" ")
    val x4 =
      if (x3.indexOf('"') >= 0 || x3.indexOf('\'') >= 0)
        tagQuoted.matcher(x3).replaceAll(" ")
      else tagPlain.matcher(x3).replaceAll(" ")
    val x5 = x4.replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&apos;", "'")
      .replace("&nbsp;", " ")
    val x6 =
      if (x5.contains("&#"))
        numeric.foldLeft(x5) { case (c, (p, v)) =>
          p.matcher(c).replaceAll(java.util.regex.Matcher.quoteReplacement(v)) }
      else x5
    val x7 = amp.matcher(x6).replaceAll("&")
    val x8 = ws.matcher(x7).replaceAll(" ")
    // Spark's trim() strips the SPACE character only — String.trim
    // would also strip other controls and diverge
    var a = 0
    var b = x8.length
    while (a < b && x8.charAt(a) == ' ') a += 1
    while (b > a && x8.charAt(b - 1) == ' ') b -= 1
    x8.substring(a, b)
  }

  /** Block-level boilerplate removal (jusText/trafilatura's core
    * signal, the deterministic slice): per `<p>` block, LINK DENSITY =
    * characters of anchor text / characters of block text (both
    * measured on the EXTRACTED text, ppm-quantized) — navigation and
    * footer blocks are link-dominated, prose is not. A block is kept
    * when density ≤ `maxLinkPpm` AND it carries ≥ `minWords` words.
    * One row per (doc, block) with the measures AND the flag, so
    * dropped blocks are attributable (the rule-per-column house
    * convention). Zero-char blocks (markup-only) report density 1e6 —
    * all link, never prose.
    *
    * One partition-local pass per page — [[htmlExtractLocal]] on each
    * block and its anchor text, lengths in code points like Spark's
    * and DuckDB's length(), integer ppm arithmetic — with the patterns
    * compiled once per JVM; no shuffle beyond the caller's. The
    * `q_html_blocks` oracle (Oracles1) replays it over
    * `OracleBuilders.htmlExtractSql`. */
  def htmlBlocksLocal(docs: org.apache.spark.sql.DataFrame, idCol: String,
      htmlCol: String, maxLinkPpm: Long = 500000L, minWords: Int = 5)
      : org.apache.spark.sql.DataFrame = {
    require(maxLinkPpm >= 0 && minWords >= 0)
    import org.apache.spark.sql.types._
    val in = docs.select(col(idCol), col(htmlCol).cast("string").as("_h"))
    val outSchema = StructType(Array(
      in.schema.fields.head,
      StructField("block_idx", LongType, nullable = false),
      StructField("block_text", StringType),
      StructField("n_chars", LongType),
      StructField("n_words", LongType),
      StructField("link_ppm", LongType),
      StructField("kept", BooleanType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    in.mapPartitions { it =>
      import HtmlPatterns.{anchor, para}
      it.flatMap { r =>
        val page = { val h = r.getAs[String](1); if (h == null) "" else h }
        val id = r.get(0)
        val m = para.matcher(page)
        val out = scala.collection.mutable.ArrayBuffer
          .empty[org.apache.spark.sql.Row]
        var idx = 0L
        while (m.find()) {
          val raw = m.group(1)
          val text = htmlExtractLocal(raw)
          val links = {
            val am = anchor.matcher(raw)
            val sb = new java.lang.StringBuilder()
            var first = true
            while (am.find()) {
              if (!first) sb.append(' ')
              sb.append(am.group(1)); first = false
            }
            htmlExtractLocal(sb.toString)
          }
          val nChars = text.codePointCount(0, text.length).toLong
          var nWords = 0L
          val toks = text.split(" ", -1)
          var i = 0
          while (i < toks.length) { if (toks(i).nonEmpty) nWords += 1; i += 1 }
          val ppm =
            if (nChars == 0L) 1000000L
            else links.codePointCount(0, links.length).toLong * 1000000L / nChars
          out += org.apache.spark.sql.Row(id, idx, text, nChars, nWords,
            ppm, ppm <= maxLinkPpm && nWords >= minWords)
          idx += 1L
        }
        out
      }
    }(enc)
  }

  // ── PII scanning / redaction ───────────────────────────────────────────

  /** ASCII-only regexes shared verbatim with the oracle (Java regex and
    * RE2 agree on this subset: explicit character classes, bounded
    * repeats, alternation — no lookaround, no backrefs, and no `\s`,
    * which the engines define differently: Java's includes `\x0B`,
    * RE2's does not — hence the spelled-out whitespace class). */
  val EmailRegex = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRegex = "https?://[^ \\t\\n\\r\\f]+"
  val LongNumberRegex = "[0-9]{7,}"

  /** Non-overlapping match count of `regex` in `text`. */
  def countMatches(text: Column, regex: String): Column =
    size(regexp_extract_all(text, lit(regex), lit(0)))

  /** Card-number-shaped digit runs: 13-19 contiguous digits with
    * NON-DIGIT boundaries expressed via capture groups (RE2 has no
    * lookaround) — a 20-digit run yields no match instead of a
    * truncated false positive. Boundary caveat: two runs separated by
    * a SINGLE non-digit share the boundary character, so the second
    * is not re-matched (non-overlapping scan); card numbers in prose
    * do not abut that way. */
  def luhnCandidateRuns(text: Column): Column =
    regexp_extract_all(text, lit("(^|[^0-9])([0-9]{13,19})([^0-9]|$)"),
      lit(2))

  /** Luhn checksum (ISO/IEC 7812) of a digit-run column: double every
    * second digit from the RIGHT, subtract 9 from doubles over 9, sum
    * ≡ 0 (mod 10). Pure integer expression work per run (runs are
    * rare — the HOF cost is bounded by match count, not text size);
    * mirrored arithmetic in the oracle. */
  def luhnValid(run: Column): Column = {
    val total = aggregate(
      sequence(lit(1), length(run)), lit(0),
      (acc, i) => {
        val d = ascii(run.substr(i, lit(1))) - 48
        val fromRight = length(run) - i + 1
        acc + when(fromRight % 2 === 0,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      })
    total % 10 === 0
  }

  /** Replace every Luhn-VALID card-shaped run with `<CARD>` — the
    * precision upgrade over [[maskPii]]'s blanket digit-run redaction:
    * invoice/serial numbers that fail the checksum survive, real card
    * numbers do not. */
  def maskLuhn(text: Column): Column =
    aggregate(filter(luhnCandidateRuns(text), r => luhnValid(r)),
      text, (acc, r) => replace(acc, r, lit("<CARD>")))

  /** Redact URLs, then emails, then long digit runs (that order: the
    * placeholder tokens contain no digits or '@', so later passes can't
    * re-match inside an earlier replacement). Deterministic, per-row,
    * shuffle-free — the standard pre-training PII scrub pass. */
  def maskPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlRegex, "<URL>"),
        EmailRegex, "<EMAIL>"),
      LongNumberRegex, "<NUM>")

  /** Shannon entropy (bits) of the text's character distribution via
    * the native codegen'd expression (`graft.plans.CharEntropy`) —
    * per-row, shuffle-free. Requires `graft.plans.GraftExtensions`. */
  def charEntropy(text: Column): Column =
    call_function("graft_entropy", text)

  // ── Token counting ─────────────────────────────────────────────────────

  /** BPE-ish pre-tokenizer: letter runs, digit runs, and single
    * non-alphanumeric marks (the GPT-2 pre-tokenizer family, ASCII-only
    * regex so Java and RE2-style engines agree). */
  val TokenRegex = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit(TokenRegex), lit(0))

  def regexTokenCount(text: Column): Column = size(regexTokens(text))

  /** Adjacent-symbol pair counts over whitespace-delimited words — the
    * inner primitive of BPE tokenizer training (each BPE iteration
    * counts pairs, merges the most frequent, repeats). Symbols here are
    * Unicode CODE POINTS (the iteration-0 alphabet); pairs never cross
    * a word boundary, the classic space-pre-tokenized formulation.
    *
    * Scale notes (100 TB): the pair emit is a partition-local typed
    * kernel (narrow, like [[repetitionRatios]]'s shingler — per-row
    * string CPU without per-character interpreted lambdas); the only
    * shuffle is the pair-count hash aggregate, whose key space is the
    * ALPHABET², not the corpus — map-side partials collapse each
    * partition to at most \|alphabet\|² rows, so the shuffle is
    * sketch-sized regardless of corpus size. A full BPE train loops
    * this k times, applying the argmax merge between rounds; counts
    * per iteration are what distribute, and this operator is that
    * iteration. */
  def bpePairCounts(docs: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    docs.select(col(textCol).cast("string")).as[String]
      .flatMap { text =>
        if (text == null) Iterator.empty
        else text.split(" ", -1).iterator.flatMap { w =>
          val cps = w.codePoints().toArray
          (0 until cps.length - 1).iterator.map { i =>
            val sb = new java.lang.StringBuilder()
            sb.appendCodePoint(cps(i)).appendCodePoint(cps(i + 1))
            sb.toString
          }
        }
      }
      .toDF("pair")
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
  }

  // ── Sequence chunking ──────────────────────────────────────────────────

  /** Split each document's token stream into consecutive fixed-size
    * training chunks of `chunkSize` tokens (final partial chunk kept) —
    * the sequence-packing step of a pre-training pipeline. One output
    * row per (doc, chunk_idx); per-row expression work only, no
    * shuffle, so it scales as a narrow map over the corpus. */
  def tokenChunks(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, chunkSize: Int): org.apache.spark.sql.DataFrame =
    tokenChunksOverlap(docs, idCol, textCol, chunkSize, step = chunkSize)

  /** [[tokenChunks]] with a sliding step: windows of `chunkSize` tokens
    * starting every `step` tokens, so consecutive chunks share
    * `chunkSize − step` tokens of context — the overlap form used when
    * long documents are split for a fixed context window but boundary
    * tokens must not lose their left context (e.g. 512-token windows
    * stepping 256). `step == chunkSize` degenerates to the disjoint
    * chunker. Every emitted window contributes at least one NEW token:
    * the last start index is `ceil((n − chunkSize) / step)` (0 for
    * short docs), so a would-be tail window that is a pure suffix of
    * its predecessor — same tokens, strictly less context — is never
    * emitted. The final window may still run short of `chunkSize` when
    * the doc doesn't divide evenly (or is shorter than one window),
    * matching the disjoint form's final-partial-chunk contract. Same
    * scale shape: per-row expression work, no shuffle; output volume
    * grows by `chunkSize / step`, the caller's explicit knob. */
  def tokenChunksOverlap(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, chunkSize: Int,
      step: Int): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    require(step > 0 && step <= chunkSize,
      "step must be in [1, chunkSize]: a larger step would silently " +
        "drop the tokens between consecutive windows")
    // r16: token array materialized ONCE per row (`_t`) — the lambda
    // below slices it per window, and a lambda-captured EXPRESSION is
    // re-evaluated per element (the whole-doc split would run once per
    // window: O(tokens²/step) per doc; see stupidBackoffLogProb's
    // rewrite note). Values identical: slice of the materialized array
    // is the same slice.
    val tk = col("_t")
    // ceil((n - chunkSize) / step) via (n - chunkSize + step - 1) div
    // step, clamped at 0; step == chunkSize reduces to (n-1) div step,
    // the disjoint chunker's index bound exactly
    val last = greatest(lit(0),
      ((size(tk) - lit(chunkSize) + lit(step) - 1) / lit(step)).cast("int"))
    docs.select(col(idCol), tokens(col(textCol)).as("_t"))
      .select(col(idCol), posexplode(
        transform(
          sequence(lit(0), last),
          i => concat_ws(" ",
            slice(tk, i * step + lit(1), lit(chunkSize)))))
        .as(Seq("chunk_idx", "chunk")))
  }

  /** Corpus-statistics quality score: each document's mean unigram
    * log2-probability under the corpus's own empirical distribution —
    * the cheap stand-in for CCNet-style LM-perplexity filtering
    * (documents full of corpus-rare tokens score very negative; bland
    * high-frequency text scores near the corpus ceiling). Pair with a
    * threshold or quantile cut downstream.
    *
    * Scale notes (100 TB): one token-explode pass feeds BOTH the
    * frequency table and the per-doc average; the frequency aggregate
    * is vocabulary-sized with map-side partials (hot stopwords collapse
    * per partition), the probability join is vocab⋈tokens (AQE
    * broadcasts the vocab side when it fits), the corpus total rides a
    * broadcast 1-row cross join, and the final per-doc average shuffles
    * on the doc id. No driver-side state beyond the 1-row total.
    *
    * Caching: the exploded token relation feeds three DAG branches, so
    * it must be materialized ONCE. Lifecycle is API, not convention:
    * build the relation with [[tokenRelation]], persist it, pass it
    * here, and `unpersist()` it when done — no global `clearCache()`
    * needed. The no-argument overload pins internally with an eager
    * disk-backed `localCheckpoint` (r15 — a lazy persist could drop
    * blocks under heap pressure between the three consumers and
    * recompute the explode per branch; checkpoint blocks spill but
    * never recompute), released by the harness's persistent-RDD
    * sweep. */
  def unigramLogProb(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      tokenRel: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val tok = tokenRel.getOrElse(
      // three consumers (freq, total, the probability join's scan) over
      // the corpus-sized explode — pinned as an eager disk-backed
      // checkpoint (r15): a lazy MEMORY_AND_DISK persist can drop
      // blocks under heap pressure between consumers and recompute the
      // scan per branch (the r14 q_ccnet eviction class); checkpoint
      // blocks spill but never fall back to recompute. Released by the
      // harness's persistent-RDD sweep. (Distinct from the reverted
      // round-2 materialize-then-RELEASE: these blocks are KEPT, so the
      // prefix still runs exactly once.)
      tokenRelation(docs, idCol, textCol).localCheckpoint(true))
    val freq = tok.groupBy(col("token"))
      .agg(count(lit(1)).cast("double").as("_cnt"))
    val total = tok.agg(count(lit(1)).cast("double").as("_tot"))
    tok
      .join(freq, "token")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(avg(log2(col("_cnt") / col("_tot"))).as("avg_logprob"))
  }

  /** Mean bigram conditional log2-probability per document under the
    * corpus's OWN bigram distribution — one Markov order up from
    * [[unigramLogProb]] and a step closer to the CCNet/KenLM
    * perplexity filter: fluent text scores near 0, shuffled-word or
    * rare-phrase text scores very negative even when its unigrams are
    * common. `P(w_i | w_{i-1}) = c(w_{i-1} w_i) / c(w_{i-1} ·)` — pure
    * MLE, no smoothing needed because every SCORED bigram was observed
    * in the corpus (it contributes to its own count), so the ratio is
    * always in (0, 1]. Documents with fewer than 2 tokens have no
    * bigrams and are absent from the output.
    *
    * Scale rationale: ONE narrow pass builds the (doc, prev, cur)
    * adjacency relation (zip_with over two slices — no window function,
    * no per-doc shuffle); the bigram frequency aggregate's key space is
    * the distinct adjacent PAIRS (vocabulary²-bounded in theory,
    * observed-pairs-bounded in practice, map-side partials collapse hot
    * pairs); prefix counts derive from the bigram table itself
    * (pairs-sized input — the corpus is never scanned a second time);
    * AQE broadcasts both frequency sides when they fit. */
  def bigramLogProb(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val t = tokens(col(textCol))
    val big = docs
      .filter(size(t) >= 2)
      .select(col(idCol),
        explode(zip_with(
          slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
          (a, b) => struct(a.as("prev"), b.as("cur")))).as("bg"))
      .select(col(idCol), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      // two consumers (bigram counts + the scoring join's scan) over
      // the corpus-sized adjacency explode — eager disk-backed pin,
      // same eviction-class rationale as [[stupidBackoffLogProb]]'s
      // inst relation (r15); freed by the harness RDD sweep
      .localCheckpoint(true)
    val bc = big.groupBy(col("prev"), col("cur"))
      .agg(count(lit(1)).cast("double").as("_bcnt"))
    val pc = bc.groupBy(col("prev")).agg(sum(col("_bcnt")).as("_pcnt"))
    big
      .join(bc, Seq("prev", "cur"))
      .join(pc, Seq("prev"))
      .groupBy(col(idCol))
      .agg(avg(log2(col("_bcnt") / col("_pcnt"))).as("avg_logprob"))
  }

  /** Pruned trigram language model with STUPID BACKOFF (Brants et al.
    * 2007, "Large Language Models in Machine Translation") — the
    * web-scale backoff scheme: score(w₃|w₁w₂) uses the trigram relative
    * frequency when the (count-pruned) trigram table has it, else
    * α·(bigram rel. freq.), else α²·(unigram rel. freq.), α = 0.4. The
    * completion of the CCNet-style quality ladder that
    * [[unigramLogProb]]/[[bigramLogProb]] start: a pruned higher-order
    * model with graceful degradation instead of a hard zero.
    *
    * Self-scoring form: the model trains on the scored corpus itself
    * (perplexity-under-corpus-statistics, the in-engine quality gate);
    * at production scale the count tables train once on a reference
    * corpus and persist — the scoring join below is unchanged.
    *
    * Replay exactness: per-token log2 scores are quantized to
    * micro-units (floor(lp·1e6 + 0.5), a LONG) BEFORE the per-doc sum,
    * so the aggregate is order-independent and bit-equal across
    * engines; the only libm call per token is one log2 of a count
    * rational, and the α constants ship as full-precision literals in
    * BOTH engines (log2(0.4) is never re-derived at query time).
    *
    * Pruning: trigram/bigram numerator tables keep count ≥ `prune`
    * entries (the KenLM-style size bound — backoff covers the tail);
    * DENOMINATOR tables stay unpruned so every ratio is well-defined
    * (a scored instance's prefix occurs at least in that instance).
    *
    * Scale shape (100 TB): count tables are n-gram-vocabulary-sized
    * aggregates with map-side partials; scoring is the token-instance
    * relation equi-joined against them on n-gram keys (hash joins, the
    * standard distributed LM-scoring shape) and one (doc) aggregate.
    * No windows, no broadcast of corpus-sized state, no driver state.
    *
    * Output: `(idCol, n_scored, avg_logprob)` for docs with ≥ 3
    * tokens — positions 3..n score (interior tokens; the two
    * boundary tokens have no trigram context by definition). */
  def stupidBackoffLogProb(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, prune: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    val t = tokens(col(textCol))
    // token-instance trigram relation (corpus-sized, the scan pass).
    // r16: the token array is materialized ONCE per row into `_t`
    // before any per-position work — the r15 form's lambda
    // (`transform(sequence(...), i => element_at(t, i))`) referenced
    // the raw `tokens(text)` EXPRESSION per element, and Catalyst
    // re-evaluates a lambda-captured expression at every element, so
    // each trigram position re-split the whole document: O(tokens²)
    // per doc. CollapseProject keeps the split in its own Project
    // (non-cheap expression referenced more than once), so `_t` is
    // computed once; the trigram build is then three output-sized
    // array slices zipped positionally. Measured (sf0.1, 260k
    // instances, `git show 428e7a8:src/main/scala/graft/LmProbe.scala`):
    // explode 3.76 s → 0.46 s.
    val tk = col("_t")
    val inst = docs
      .select(col(idCol), t.as("_t"))
      .filter(size(tk) >= 3)
      .select(col(idCol), explode(arrays_zip(
        slice(tk, lit(1), size(tk) - 2).as("w1"),
        slice(tk, lit(2), size(tk) - 2).as("w2"),
        slice(tk, lit(3), size(tk) - 2).as("w3"))).as("g"))
      .select(col(idCol), col("g.w1"), col("g.w2"), col("g.w3"))
      // two consumers below (tri counts and the scoring join) over the
      // suite's most expensive corpus-sized relation — pinned
      // COLUMNAR (scratch parquet, [[Pinned.columnarPin]]): same
      // eviction-and-recompute immunity as the r15 eager checkpoint
      // (files can neither be dropped under heap pressure nor
      // recomputed — the r14 q_ccnet eviction class stays closed) but
      // consumers scan compressed columnar batches with per-consumer
      // column pruning (tri reads only w1..w3) instead of full-width
      // heap row objects, and the pin carries ZERO heap residency —
      // r15's row-object form cost q_lm_backoff 4.65 → 7.95 s and held
      // the session heap at ~8 GB into the next queries.
      .transform(df => Pinned.columnarPin(df, "lm-inst"))
    // count tables: unigrams/bigrams unpruned (denominators), pruned
    // trigram/bigram numerators
    val toks = docs.select(explode(t).as("w")).filter(col("w") =!= "")
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val n = toks.count()
    // same materialize-once + positional-zip rewrite as `inst` (the
    // r15 element_at-lambda form re-split the doc per bigram position;
    // the same retired probe measured this table's build at 2.55 s →
    // output-sized)
    val big = docs
      .select(t.as("_t"))
      .filter(size(tk) >= 2)
      .select(explode(zip_with(
        slice(tk, lit(1), size(tk) - 1), slice(tk, lit(2), size(tk) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("g"))
      .select(col("g.w1"), col("g.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val tri = inst.groupBy(col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("c3"))
      .filter(col("c3") >= prune)
    val bigP = big.filter(col("c2") >= prune)
      .select(col("w1").as("w2"), col("w2").as("w3"), col("c2").as("c2p"))
    // full-precision α literals, shared textually with the oracle
    val log2Alpha = -1.3219280948873622      // log2(0.4)
    val log2Alpha2 = -2.6438561897747244     // 2·log2(0.4)
    val scored = inst
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(big.select(col("w1"), col("w2"), col("c2")), Seq("w1", "w2"), "left")
      .join(bigP, Seq("w2", "w3"), "left")
      .join(uni.select(col("w").as("w2"), col("c1").as("c1_2")), Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("c1").as("c1_3")), Seq("w3"), "left")
      .select(col(idCol),
        when(col("c3").isNotNull,
          log2(col("c3").cast("double") / col("c2").cast("double")))
          .when(col("c2p").isNotNull,
            lit(log2Alpha) +
              log2(col("c2p").cast("double") / col("c1_2").cast("double")))
          .otherwise(lit(log2Alpha2) +
            log2(col("c1_3").cast("double") / lit(n.toDouble)))
          .as("lp"))
      // micro-quantize BEFORE the sum: order-independent, engine-exact
      .select(col(idCol),
        floor(col("lp") * 1e6 + 0.5).cast("long").as("qlp"))
    // caching contract: `inst` is pinned above as scratch parquet
    // (columnarPin) — every consumer (q_lm_backoff, q_ccnet_buckets,
    // q_ccnet_frozen's inner pass, the funnel's LM stage) reads the
    // one materialization; the scratch dir is freed by the session
    // shutdown hook (no block-manager state for the harness to sweep)
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_scored"),
        round(sum(col("qlp")).cast("double") / 1e6 /
          count(lit(1)).cast("double"), 6).as("avg_logprob"))
  }

  /** The `(idCol, token)` exploded relation [[unigramLogProb]] scans
    * three times — exposed so callers OWN its cache lifecycle:
    * `val tok = tokenRelation(d, "id", "text").persist()`, run
    * `unigramLogProb(d, "id", "text", Some(tok))` (and any other
    * consumer), then `tok.unpersist()` — releasing exactly this
    * relation, with no session-wide `clearCache()`. */
  def tokenRelation(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))

  /** BM25 document ranking for a literal query-term set (Robertson et
    * al.; the Okapi defaults k1 = 1.2, b = 0.75) — the retrieval-side
    * counterpart of the tf-idf profile: `score(d, Q) = Σ_t idf(t) ·
    * tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))` with the standard
    * smoothed `idf = ln(1 + (N − df + ½)/(df + ½))`. Scores are
    * rounded to 6 dp BEFORE the rank cut, so the top-k set is
    * engine-reproducible (ties break on id ascending).
    *
    * Scale rationale: the corpus is shed FIRST — the token explode
    * keeps only query terms (an `isin` over a literal set, pushed into
    * the narrow pass), so the tf aggregate's relation is
    * matching-tokens-sized, not corpus-sized. df derives from the tf
    * table (≤ |Q| rows, broadcast); doc lengths are a narrow
    * projection joined only to MATCHING docs; N and avgdl ride a
    * broadcast 1-row. The final rank is a top-k sort (Spark plans
    * TakeOrderedAndProject), never a full global sort. */
  def bm25(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75, topK: Int = 10)
      : org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    val lens = docs.select(col(idCol),
      size(tokens(col(textCol))).cast("double").as("_dl"))
    val stats = docs.agg(
      count(lit(1)).cast("double").as("_n"),
      avg(size(tokens(col(textCol)))).as("_avgdl"))
    val tf = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).cast("double").as("_tf"))
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("_df"))
    val score = tf
      .join(broadcast(df), "term")
      .join(lens, idCol)
      .crossJoin(broadcast(stats))
      .select(col(idCol),
        (log(lit(1.0) + (col("_n") - col("_df") + 0.5) /
            (col("_df") + 0.5)) *
          (col("_tf") * (k1 + 1)) /
          (col("_tf") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl") / col("_avgdl"))))
          .as("_s"))
      .groupBy(col(idCol))
      .agg(round(sum(col("_s")), 6).as("score"))
    score.orderBy(col("score").desc, col(idCol)).limit(topK)
  }

  /** RM3-style pseudo-relevance feedback on top of [[bm25]]: retrieve
    * `fbDocs` feedback documents with the seed query, mine the
    * `fbTerms` most frequent NON-SEED terms from them (count DESC,
    * term ASC — a total order, so the expansion set is
    * engine-reproducible), and re-run BM25 with the expanded term set.
    * This is the classical two-pass query-expansion shape
    * (Lavrenko/Croft relevance models, simplified to unweighted
    * expansion — the interpolation weight λ is deliberately dropped so
    * every intermediate stays integer/6dp-deterministic).
    *
    * The feedback ids and expansion terms are (fbDocs + fbTerms)-sized
    * driver pulls — config-sized collects by the house rule. Both BM25
    * passes shed the corpus to matching tokens before any shuffle. */
  def bm25Rm3(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String], fbDocs: Int = 5,
      fbTerms: Int = 5, k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 10): org.apache.spark.sql.DataFrame = {
    require(fbDocs >= 1 && fbTerms >= 0)
    // collect the raw id values (no .getLong — the id column's type is
    // the caller's, int/long/string all valid) and probe with isin on
    // the untyped values, matching the sibling ops' id handling
    val fbIds = bm25(docs, idCol, textCol, queryTerms, k1, b, fbDocs)
      .select(col(idCol)).collect().map(_.get(0)).toSeq
    val expansion = docs.filter(col(idCol).isin(fbIds: _*))
      .select(explode(tokens(col(textCol))).as("term"))
      .filter(!col("term").isin(queryTerms: _*) && col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(fbTerms)
      .collect().map(_.getString(0)).toSeq
    bm25(docs, idCol, textCol, queryTerms ++ expansion, k1, b, topK)
  }

  /** The BM25 SUFFICIENT STATISTIC as two maintainable relations: full
    * postings `(id, term, tf)` and per-doc lengths `(id, _dl)`. Doc
    * ids are disjoint across ingest batches, so per-batch indexes
    * simply UNION into the corpus index — which is what lets a stream
    * maintain it ([[graft.streaming.Streaming]]'s ingest gates). The
    * ad-hoc [[bm25]] deliberately does NOT build this (it sheds the
    * corpus to the query's own terms before any shuffle); the index
    * pays the full (doc, term) aggregate ONCE to amortize over every
    * future query. */
  def invertedIndex(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val lens = docs.select(col(idCol),
      size(tokens(col(textCol))).cast("double").as("_dl"))
    val postings = docs
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    (postings, lens)
  }

  /** BM25 over a PREBUILT index — scoring reads the postings and
    * length relations instead of the corpus, so a maintained index
    * serves any query at matching-postings cost. Identical scoring
    * arithmetic to [[bm25]] (gate-shared oracle). */
  def bm25FromIndex(postings: org.apache.spark.sql.DataFrame,
      lens: org.apache.spark.sql.DataFrame, idCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 10): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty, "need at least one query term")
    val stats = lens.agg(
      count(lit(1)).cast("double").as("_n"), avg(col("_dl")).as("_avgdl"))
    val tf = postings
      .filter(col("term").isin(queryTerms: _*))
      .select(col(idCol), col("term"), col("tf").cast("double").as("_tf"))
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("_df"))
    val score = tf
      .join(broadcast(df), "term")
      .join(lens, idCol)
      .crossJoin(broadcast(stats))
      .select(col(idCol),
        (log(lit(1.0) + (col("_n") - col("_df") + 0.5) /
            (col("_df") + 0.5)) *
          (col("_tf") * (k1 + 1)) /
          (col("_tf") +
            lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl") / col("_avgdl"))))
          .as("_s"))
      .groupBy(col(idCol))
      .agg(round(sum(col("_s")), 6).as("score"))
    score.orderBy(col("score").desc, col(idCol)).limit(topK)
  }

  // ── Heavy hitters ──────────────────────────────────────────────────────

  /** EXACT heavy hitters (tokens with corpus count ≥ `minCount`) via a
    * pigeonhole candidate pre-filter: pass 1 counts tokens
    * partition-locally and keeps those with local count ≥
    * ⌈minCount / P⌉ — any token with GLOBAL count ≥ minCount must clear
    * that bar in at least one of the P partitions, so the candidate set
    * is a guaranteed superset. Pass 2 exact-counts only the candidates
    * (broadcast semi-join) and applies the true threshold.
    *
    * Scale rationale: a plain `groupBy(token).count().filter(...)`
    * shuffles one partial count per (partition, distinct token) — at
    * web-corpus vocabulary sizes that is the dominant cost even after
    * map-side combine. Here the shuffle carries only locally-frequent
    * candidates (bounded by partitionTokens / localMin per partition)
    * at the price of a second corpus scan; results are identical, which
    * is what the oracle checks. */
  def heavyHitters(docs: org.apache.spark.sql.DataFrame, textCol: String,
      minCount: Long): org.apache.spark.sql.DataFrame = {
    require(minCount > 0, "minCount must be positive")
    val sp = docs.sparkSession
    import sp.implicits._
    val toks = docs.select(explode(tokens(col(textCol))).as("term"))
    val p = toks.rdd.getNumPartitions.max(1)
    val localMin = (minCount + p - 1) / p
    // Local counting rides a partition-LOCAL sort (Spark's spillable
    // external sorter — no shuffle) + a streaming run-length scan, so
    // candidate generation is memory-bounded even when a partition's
    // vocabulary dwarfs the heap (a hash-map pass would hold every
    // distinct token and could OOM exactly where plain groupBy spills).
    val candidates = toks.sortWithinPartitions(col("term")).as[String]
      .mapPartitions { it =>
        var current: String = null
        var run = 0L
        it.flatMap { t =>
          if (t == current) {
            run += 1L
            // emit exactly once, at the moment the run clears the bar
            if (run == localMin) Iterator.single(t) else Iterator.empty
          } else {
            current = t
            run = 1L
            if (localMin == 1L) Iterator.single(t) else Iterator.empty
          }
        }
      }.toDF("term").distinct()
    toks.join(broadcast(candidates), Seq("term"), "left_semi")
      .groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
  }

  // ── Corpus statistics ──────────────────────────────────────────────────

  /** Top-k terms per document by tf·idf (idf = ln(N/df)). Corpus size N
    * rides along as a broadcast 1-row aggregate — no driver action, no
    * collect. Unlike the rest of this file this is a DataFrame-level
    * corpus operator WITH shuffles: tf on (doc, term), df on term (hot
    * stopword terms concentrate there — partial agg absorbs it), the df
    * join, and the top-k window on doc. df is derived from the tf
    * relation (one row per distinct (doc, term)), NOT from a second
    * corpus scan. Ranking uses the 6-dp-rounded score with term tiebreak
    * so the cut is reproducible across engines. */
  def tfidfTopTerms(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(col(idCol),
        explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .select(col(idCol), col("term"),
        round(col("tf") * log(col("n_docs").cast("double") /
          col("df").cast("double")), 6).as("tfidf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Encoding-anomaly census — the mojibake gate every web-crawl
    * pipeline runs before tokenization. Counts per-document occurrences
    * of the three highest-precision corruption signatures:
    * `latin1_marks` (U+00C3, UTF-8 accented Latin read as Latin-1:
    * "cafe" mis-decoded), `punct_marks` (U+00E2 U+0080, the
    * smart-punctuation mojibake prefix), and
    * `replacement_marks` (U+FFFD, a decoder already gave up). `suspect`
    * is 1 when any marker fired. Null text scans as clean (0s), not
    * null — the gate's job is to pass clean rows through.
    *
    * Counting is the replace-and-measure identity
    * `(len(t) − len(replace(t, m, ''))) / len(m)` — pure codegen'd
    * string ops, no regex engine (whose semantics differ across
    * engines). Scale (100 TB): per-row narrow expressions, shuffle-free,
    * embarrassingly parallel. */
  def mojibakeScan(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    def cnt(m: String) =
      ((length(t) - length(replace(t, lit(m), lit("")))) / lit(m.length))
        .cast("long")
    docs.select(col(idCol),
        cnt("\u00c3").as("latin1_marks"),
        cnt("\u00e2\u0080").as("punct_marks"),
        cnt("\ufffd").as("replacement_marks"))
      .withColumn("suspect",
        (col("latin1_marks") + col("punct_marks") +
          col("replacement_marks") > 0).cast("long"))
  }

  /** Pointwise mutual information over ADJACENT token pairs — the
    * classic collocation statistic (Church & Hanks 1990): which word
    * pairs co-occur far more often than their unigram frequencies
    * predict. In a curation pipeline high-PMI pairs surface templated
    * boilerplate and domain phrases; low/negative PMI at high count
    * flags tokenizer-hostile glue.
    *
    * Contract: unigram counts come from ALL tokens (single-token docs
    * included), bigram counts from all adjacent pairs;
    * `pmi = ln(c(w1,w2)·N² / (B·c(w1)·c(w2)))` with N total tokens and
    * B total bigrams, rounded to 6 dp (counts are integers, so the
    * quotient sits in the cross-engine-stable range — the q_tfidf
    * precedent). Pairs below `minCount` are dropped BEFORE scoring but
    * AFTER the B census, so rare-pair noise never reaches the log.
    *
    * Scale (100 TB): two narrow explodes and two partial-aggregating
    * group-bys (hot pairs absorb map-side); the unigram join keys on
    * the vocabulary, the two 1-row censuses broadcast back. No windows,
    * no driver state — callers wanting top-k should
    * `orderBy(...).limit(k)` (TakeOrderedAndProject), not rank the
    * vocabulary² relation through a global window. */
  def pmiCollocations(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minCount: Long): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(tokens(col(textCol)).as("t"))
      .filter(col("t").isNotNull)
    val uni = toks.select(explode(col("t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cw"))
    val pairCounts = toks.filter(size(col("t")) >= 2)
      // sequence(1, 0) is DESCENDING [1,0], not empty — the size filter
      // above is load-bearing (the wordShingles precedent)
      .select(explode(expr("transform(sequence(1, size(t)-1), " +
        "i -> named_struct('w1', t[i-1], 'w2', t[i]))")).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("cww"))
    pmiFromCensus(uni, pairCounts, minCount)
  }

  /** [[pmiCollocations]] from pre-computed censuses — the consumer of
    * the maintained-at-ingest collocation ledger
    * (`Streaming.collocationIngest`): `uni(w, cw)` and
    * `pairs(w1, w2, cww)` are both ADDITIVE across doc-partitioned
    * ticks, so PMI off the summed ledger equals the batch scan (shared
    * oracle). Totals derive from the censuses, not a corpus rescan. */
  def pmiFromCensus(uni: org.apache.spark.sql.DataFrame,
      pairCounts: org.apache.spark.sql.DataFrame,
      minCount: Long): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1, "pmiFromCensus: minCount must be >= 1")
    val nTok = uni.agg(sum(col("cw")).as("n_tokens"))
    val nBig = pairCounts.agg(sum(col("cww")).as("n_bigrams"))
    pairCounts
      .filter(col("cww") >= minCount)
      .join(uni.select(col("w").as("w1"), col("cw").as("cw1")), "w1")
      .join(uni.select(col("w").as("w2"), col("cw").as("cw2")), "w2")
      .crossJoin(broadcast(nTok))
      .crossJoin(broadcast(nBig))
      .select(col("w1"), col("w2"), col("cww").as("pair_count"),
        round(log((col("cww").cast("double") * col("n_tokens") *
            col("n_tokens")) /
          (col("n_bigrams").cast("double") * col("cw1") * col("cw2"))), 6)
          .as("pmi"))
  }

  // ── Fingerprinting ─────────────────────────────────────────────────────

  /** Polynomial rolling hash (base 31, mod 1e9+7) over the string's
    * code points — a content fingerprint cheaper than a cryptographic
    * digest and incrementally computable — as the native codegen'd
    * Catalyst expression [[graft.plans.PolyHash]]. Requires the
    * session to register `graft.plans.GraftExtensions`; the
    * `q_fingerprint` oracle (Oracles2) replays it as a `list_reduce`. */
  def polyFingerprintNative(text: Column): Column =
    call_function("graft_polyhash", text)

  /** Winnowing-style minimum over the rolling hashes of all code-point
    * k-grams, as ONE native pass ([[graft.plans.MinKgramHash]]): robust
    * to local edits (an edit perturbs only k windows). Texts shorter
    * than k fall back to the whole-string hash. */
  def minKgramFingerprintNative(text: Column, k: Int = 8): Column =
    call_function("graft_minkgram", text, lit(k))

  /** Exact PHRASE search — the positional-index conjunction of classic
    * IR, expressed as ONE aggregate instead of a k-way self-join: a
    * phrase `t_0 … t_{k-1}` matches at word position p iff term `t_i`
    * sits at `p + i` for every i, i.e. p lies in the intersection of
    * the per-term position sets shifted by −i. Counts every
    * word-position match (overlapping occurrences included — `"b b"`
    * hits twice in `"b b b"`), which is what the word-array oracle
    * counts too.
    *
    * Output: `(idCol, n_hits)` for documents with ≥ 1 match.
    *
    * Scale design (100 TB): the corpus sheds to the PHRASE'S OWN terms
    * in the narrow tokenize pass — only matching tokens reach the one
    * doc-keyed aggregate (map-side partials collapse per-doc position
    * lists), and the intersection arithmetic runs per document on
    * arrays bounded by that document's own term frequency. No join, no
    * index materialization, no second corpus pass; k widens the
    * per-row expression, never the shuffle. */
  def phraseSearch(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, phrase: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    require(phrase.forall(t => t.nonEmpty && !t.contains(" ")),
      "phrase terms must be non-empty single tokens")
    val terms = phrase.distinct
    val toks = docs
      .select(col(idCol),
        posexplode(filter(split(col(textCol).cast("string"), " ", -1),
          x => x =!= "")).as(Seq("__graft_pos", "__graft_term")))
      .filter(col("__graft_term").isin(terms: _*)) // query-term shed
    // one conditional position-list per DISTINCT term
    val agged = toks.groupBy(col(idCol))
      .agg(
        collect_list(when(col("__graft_term") === terms.head,
          col("__graft_pos"))).as("__graft_p0"),
        terms.tail.zipWithIndex.map { case (t, j) =>
          collect_list(when(col("__graft_term") === t,
            col("__graft_pos"))).as(s"__graft_p${j + 1}")
        }: _*)
    val termIdx = terms.zipWithIndex.toMap
    val shifted = phrase.zipWithIndex.map { case (t, i) =>
      transform(col(s"__graft_p${termIdx(t)}"), p => p - i)
    }
    val matches = shifted.reduce((a, b) => array_intersect(a, b))
    agged
      .select(col(idCol), size(matches).cast("long").as("n_hits"))
      .filter(col("n_hits") > 0)
  }

  // ── Skip-gram training-pair generation (word2vec-style) ────────────────

  /** (center, context) co-occurrence pairs within a ±`window` token
    * span, aggregated to counts — the skip-gram relation word2vec /
    * GloVe-style embedding training consumes (Mikolov et al. 2013).
    * One narrow partition-local typed kernel emits each token's
    * ≤ 2·window in-bounds neighbors (the shingler discipline — an
    * equivalent nested transform/filter HOF chain pays the measured
    * ~16× interpreter penalty on a corpus-sized scan), then ONE hash
    * aggregate whose key space is the observed ordered pair vocabulary
    * (vocab²-bounded in theory, observed-pairs-bounded in practice —
    * the [[bigramLogProb]] shuffle story at window ≥ 2). Map-side
    * partials collapse hot pairs before the shuffle.
    *
    * @return (center, context, n) */
  def skipGramPairs(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, window: Int = 2): org.apache.spark.sql.DataFrame = {
    require(window >= 1, "window must be positive")
    val sp = docs.sparkSession
    import sp.implicits._
    docs.select(col(textCol).cast("string")).as[String]
      .flatMap { text =>
        if (text == null) Iterator.empty
        else {
          val toks = text.split(" ", -1)
          val n = toks.length
          if (n < 2) Iterator.empty
          else {
            val out = new scala.collection.mutable.ArrayBuffer[
              (String, String)](n * 2 * window)
            var i = 0
            while (i < n) {
              var d = -window
              while (d <= window) {
                val j = i + d
                if (d != 0 && j >= 0 && j < n) out += ((toks(i), toks(j)))
                d += 1
              }
              i += 1
            }
            out.iterator
          }
        }
      }
      .toDF("center", "context")
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
  }

  /** Deterministic frequent-word SUBSAMPLING — word2vec's third data
    * stage next to [[skipGramPairs]] and [[negativeSamples]]: drop
    * each occurrence of word w with probability `1 − min(1, √(t/f_w))`
    * (Mikolov et al. 2013's discard rule — stopword occurrences thin
    * out, rare words always survive), with the draw replaced by the
    * repo's md5 idiom so every keep/drop decision is a pure function
    * of (doc, position, word) — reproducible across engines,
    * partitionings, and reruns, and SQL-replayable.
    *
    * Exactness note: keep thresholds quantize `round(1e6·√…)` and the
    * inner value is a fixed left-associated chain of IEEE ops —
    * unlike pow/log, `sqrt` is CORRECTLY ROUNDED on every conforming
    * platform, so the ppm thresholds are engine-exact, not
    * merely-agreeing.
    *
    * One narrow posexplode, one vocabulary-sized frequency aggregate
    * (map-side partials), one AQE-broadcast threshold join back, one
    * per-doc aggregate. Positions index the RAW token array (1-based,
    * empties filtered after), and the per-doc digest joins survivors
    * in position order.
    *
    * @param tE6 the t threshold in 1e-6 units (10000 ⇒ t = 0.01)
    * @return (idCol, n_tokens, n_kept, kept_md5) */
  def subsampleFrequent(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, tE6: Long = 10000L)
      : org.apache.spark.sql.DataFrame = {
    require(tE6 >= 1, "tE6 must be positive")
    val tok = docs
      .select(col(idCol), posexplode(
        split(col(textCol).cast("string"), " ", -1)).as(Seq("pos0", "word")))
      .filter(col("word") =!= "")
      .withColumn("pos", (col("pos0") + 1).cast("long"))
    val freq = tok.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val tot = freq.agg(sum(col("cnt")).as("N"))
    val keep = freq.crossJoin(broadcast(tot))
      .withColumn("keep_ppm", least(lit(1000000L),
        round(lit(1e6) *
          sqrt(lit(tE6.toDouble) * col("N") / col("cnt") / lit(1e6)))
          .cast("long")))
      .select(col("word"), col("keep_ppm"))
    tok.join(keep, "word")
      .withColumn("k",
        pmod(Sampling.md5Top60(
          concat_ws(" ", col(idCol), col("pos"), col("word"))),
          lit(1000000L)) < col("keep_ppm"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("k"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        md5(array_join(transform(
          array_sort(collect_list(
            when(col("k"), struct(col("pos"), col("word"))))),
          x => x.getField("word")), " ")).as("kept_md5"))
  }

  /** Deterministic frequency-proportional NEGATIVE samples for a
    * skip-gram pair relation — the other half of the word2vec training
    * batch: for each (center, context) pair, `k` words drawn from the
    * corpus unigram distribution by inverse-CDF lookup at the md5-
    * derived position `md5(center, context, j) mod total_mass`. The
    * standard implementation draws with a mutable RNG; the md5 idiom
    * (the repo's [[Sampling.md5Top60]] split/sampling discipline) makes
    * every draw a pure function of (pair, j) — reproducible across
    * engines, partitionings, and reruns, and replayable by the SQL
    * oracle.
    *
    * Scale: the cumulative-mass table is VOCABULARY-sized (bounded —
    * the broadcast-centroid contract) and broadcasts to an interval-
    * containment join; samples are pairs × k rows. Masses are raw
    * counts (α = 1) to stay integer-exact end to end; a 3/4-power α
    * would quantize `round(cnt^α · 1e6)` the way
    * [[graft.ext.Curation.mixtureByTemperature]] quantizes its weights.
    *
    * The running-mass prefix sum is DISTRIBUTED: the CDF domain is
    * ordered by the md5 rank key of the word (any total order the
    * oracle can mirror defines a valid inverse-CDF layout), whose high
    * 4 bits are monotone in that order — so each of the 16 salt
    * buckets is a contiguous CDF range, local running sums run on 16
    * partitions in parallel, and bucket offsets (computed by a
    * broadcast inequality self-join over the 16-row bucket relation,
    * not a window) lift them to exact global values. A 1e8-term
    * vocabulary never funnels through one task — the
    * [[graft.ext.Curation.mixtureByTokens]] salted two-level pattern.
    *
    * @param pairs (center, context, n) as from [[skipGramPairs]]
    * @param vocab (word, cnt) unigram counts, e.g. from the corpus's
    *              token census
    * @return (center, context, j, neg) */
  def negativeSamples(pairs: org.apache.spark.sql.DataFrame,
      vocab: org.apache.spark.sql.DataFrame, k: Int)
      : org.apache.spark.sql.DataFrame = {
    require(k >= 1, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    // md5Top60 < 2^60, so the top 4 bits (shift 56) give 16 buckets;
    // shiftright is exact integer math — no double-division flooring
    val salted = vocab
      .select(col("word"), col("cnt").cast("long").as("m"))
      .withColumn("__ord", Sampling.md5Top60(col("word")))
      .withColumn("__salt", shiftright(col("__ord"), 56))
    val localW = Window.partitionBy(col("__salt"))
      .orderBy(col("__ord"), col("word"))
    val buckets = salted.groupBy(col("__salt"))
      .agg(sum(col("m")).as("__bm"))
    val offsets = buckets.as("a")
      .join(broadcast(buckets.select(col("__salt").as("__s2"),
          col("__bm").as("__bm2"))),
        col("__s2") < col("a.__salt"), "left")
      .groupBy(col("a.__salt"))
      .agg(coalesce(sum(col("__bm2")), lit(0L)).as("__off"))
    val cum = salted.join(broadcast(offsets), Seq("__salt"))
      .withColumn("hi", col("__off") + sum(col("m")).over(localW))
      .withColumn("lo", col("hi") - col("m"))
      .select(col("word"), col("lo"), col("hi"))
    // total mass from the 16-row bucket relation — max(hi) over cum
    // would re-run the whole prefix-sum pipeline for one scalar
    val tot = buckets.agg(sum(col("__bm")).as("M"))
    pairs
      .select(col("center"), col("context"),
        explode(sequence(lit(1L), lit(k.toLong))).as("j"))
      .crossJoin(broadcast(tot))
      .withColumn("r",
        pmod(Sampling.md5Top60(
          concat_ws(" ", col("center"), col("context"), col("j"))),
          col("M")))
      .join(broadcast(cum), col("r") >= col("lo") && col("r") < col("hi"))
      .select(col("center"), col("context"), col("j"),
        col("word").as("neg"))
  }

  /** Zipf rank–frequency fit — the corpus health check: least-squares
    * slope/intercept of log2(freq) against log2(rank) over the word
    * census. Natural text sits near slope −1; a corpus whose slope
    * collapses toward 0 (boilerplate flooding) or runs steep (template
    * spam) drifted from natural language, so the slope is a one-number
    * ingest monitor alongside PSI/KS.
    *
    * Exactness: each point quantizes to MILLI-units
    * (`round(1e3·log2 ·)`) BEFORE any sum — log2 is not correctly
    * rounded across engines, but sub-ULP disagreement cannot survive a
    * 1e-3 grid — then every OLS sum (n, Σx, Σy, Σxy, Σxx) and both
    * closed-form numerators/denominator stay in exact LONG arithmetic;
    * the only doubles are the two final 1e-6-unit divisions (one fixed
    * correctly-rounded chain each). Ranks tie-break (cnt DESC, word),
    * so the point set is engine-identical.
    *
    * Scale (100 TB): one corpus-sized census aggregate; the ranking
    * window and OLS run on the VOCABULARY domain. Milli-unit points
    * bound |x|,|y| ≤ ~64e3, so Σxy stays exact long territory past
    * 2^31 terms.
    *
    * @return one row (n_terms, slope_e6, intercept_e6) */
  def zipfFit(docs: org.apache.spark.sql.DataFrame, textCol: String)
      : org.apache.spark.sql.DataFrame =
    zipfFitFromCensus(docs
      .select(explode(split(col(textCol).cast("string"), " ", -1)).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt")))

  /** [[zipfFit]] from an ALREADY-MAINTAINED `(w, cnt)` word census —
    * the ingest-time form: the per-batch word census a stream keeps
    * ([[graft.streaming.Streaming.vocabIngest]]) is the fit's
    * sufficient statistic, so the corpus-health slope is available
    * continuously at census cost, the same state that already feeds
    * the tokenizer trainer. */
  def zipfFitFromCensus(census: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    // vocabulary-domain window, not corpus-sized
    val pts = census
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("w"))).cast("long"))
      .select(
        round(lit(1e3) * log2(col("rank").cast("double")))
          .cast("long").as("x"),
        round(lit(1e3) * log2(col("cnt").cast("double")))
          .cast("long").as("y"))
    pts.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n").as("n_terms"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num_s"),
        (col("sy") * col("sxx") - col("sx") * col("sxy")).as("num_i"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("den"))
      .select(col("n_terms"),
        when(col("den") === 0, lit(0L)).otherwise(
          round(lit(1e6) * col("num_s") / col("den").cast("double"))
            .cast("long")).as("slope_e6"),
        when(col("den") === 0, lit(0L)).otherwise(
          round(lit(1e3) * col("num_i") / col("den").cast("double"))
            .cast("long")).as("intercept_e6"))
  }
}
