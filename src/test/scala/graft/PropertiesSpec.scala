package graft

import java.time.LocalDate
import java.time.temporal.ChronoUnit

import graft.ext.{Dedup, TextAnalysis}
import graft.functions.Dates
import graft.load.Merge
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}
import org.scalacheck.Test.Parameters

/** ScalaCheck properties (SURVEY §5 strategy item 2). Each property
  * batches its generated cases into ONE DataFrame evaluation so the
  * Spark-job count stays sane. */
object PropertiesSpec extends Properties("graft") {

  override def overrideParameters(p: Parameters): Parameters =
    p.withMinSuccessfulTests(8)

  private lazy val spark = SparkTestSession.session

  private val epoch = LocalDate.of(1899, 12, 30)
  private val dateGen: Gen[LocalDate] = for {
    y <- Gen.choose(2000, 2030)
    m <- Gen.choose(1, 12)
    d <- Gen.choose(1, 28)
  } yield LocalDate.of(y, m, d)

  private val monthNames = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")

  property("parseReportDate: all date-only spellings agree with the serial") =
    forAll(Gen.listOfN(12, dateGen)) { dates =>
      val s = spark
      import s.implicits._
      val rows = dates.map { dt =>
        val serial = ChronoUnit.DAYS.between(epoch, dt).toString
        val mdy = s"${dt.getMonthValue}/${dt.getDayOfMonth}/${dt.getYear}"
        val iso = dt.toString
        val mon = s"${monthNames(dt.getMonthValue - 1)} ${dt.getDayOfMonth}, ${dt.getYear}"
        (serial, mdy, iso, mon)
      }
      val parsed = rows.toDF("serial", "mdy", "iso", "mon")
        .select(Seq("serial", "mdy", "iso", "mon").map(c =>
          Dates.parseReportDate(col(c), "America/Chicago").as(c)): _*)
        .collect()
      parsed.forall { r =>
        val ts = (0 until 4).map(r.getTimestamp)
        ts.forall(_ != null) && ts.distinct.size == 1
      }
    }

  property("typed shingler == expression shingler on random token lists") =
    forAll(Gen.listOfN(6,
      Gen.listOf(Gen.oneOf("a", "bb", "ccc", "d", "", "ee"))
        .map(_.mkString(" ")))) { texts =>
      val s = spark
      import s.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val typed = Dedup.shingleSets(docs, "doc_id", "text", 3)
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
      val exprForm = docs.select(col("doc_id"),
          TextAnalysis.shingleSet(col("text"), 3).as("ss"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
      typed == exprForm
    }

  property("native PolyHash == builtin form == driver-side reference") =
    forAll(Gen.listOfN(8, Gen.asciiPrintableStr)) { strs =>
      val s = spark
      import s.implicits._
      val out = strs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
        .select(col("text"),
          TextAnalysis.polyFingerprintNative(col("text")).as("b"))
        .collect()
      // the builtin-expression form is retired; the driver-side
      // reference fold stays the independent check
      out.forall(r =>
        r.getLong(1) == graft.plans.PolyHash.hash(r.getString(0)))
    }

  property("upsertEvents is idempotent under batch replay") =
    forAll(Gen.listOfN(10, for {
      u <- Gen.oneOf("a@x", "b@x", "c@x")
      h <- Gen.oneOf("workout", "mood")
      day <- Gen.choose(1, 5)
      v <- Gen.choose(0.0, 9.0)
    } yield (u, h, day, v))) { tuples =>
      val s = spark
      import s.implicits._
      def mk(ts: Seq[(String, String, Int, Double)]) =
        ts.map { case (u, h, d, v) =>
          (java.sql.Timestamp.valueOf(f"2024-01-0$d%d 10:00:00"), u, h, v,
            None: Option[String])
        }.toDF("ts", "user_email", "habit", "value", "notes")
      val existing = mk(tuples.take(5)).dropDuplicates(Merge.EventKeys)
      val batch = mk(tuples.drop(5)).dropDuplicates(Merge.EventKeys)
      val once = Merge.upsertEvents(existing, batch)
      val twice = Merge.upsertEvents(once, batch)
      val k = Seq("ts", "user_email", "habit", "value")
      once.select(k.map(col): _*).collect().map(_.toSeq).toSet ==
        twice.select(k.map(col): _*).collect().map(_.toSeq).toSet
    }

  property("asofJoin == per-left-row max(right.ts <= left.ts) reference") =
    forAll(
      Gen.listOfN(8, for {
        u <- Gen.oneOf("u1", "u2"); s <- Gen.choose(0, 50)
      } yield (u, s)),
      Gen.listOfN(6, for {
        u <- Gen.oneOf("u1", "u2"); s <- Gen.choose(0, 50)
      } yield (u, s))) { (ls, rsRaw) =>
      val s = spark
      import s.implicits._
      def t(sec: Int) =
        java.sql.Timestamp.valueOf(f"2024-01-01 10:${sec / 60}%02d:${sec % 60}%02d")
      val rs = rsRaw.distinct // right unique per (key, ts) by contract
      val left = ls.zipWithIndex
        .map { case ((u, sec), i) => (i.toLong, u, t(sec)) }
        .toDF("event_id", "user_email", "ts")
      val right = rs.map { case (u, sec) => (u, t(sec), sec.toDouble) }
        .toDF("user_email", "ts", "pvalue")
      val got = graft.ext.AsOf.asofJoin(left, right, "user_email", "ts",
          Seq("pvalue")).collect()
        .map(r => r.getLong(0) -> Option(r.get(4))).toMap
      // naive reference: scan the right list per left row
      ls.zipWithIndex.forall { case ((u, sec), i) =>
        val cands = rs.filter { case (ru, rsec) => ru == u && rsec <= sec }
        val expect =
          if (cands.isEmpty) None
          else Some(cands.maxBy(_._2)._2.toDouble)
        got(i.toLong) == expect
      }
    }

  property("asofJoinNative == composed asofJoin on random inputs") =
    forAll(
      Gen.listOfN(8, for {
        u <- Gen.oneOf("u1", "u2", "u3"); s <- Gen.choose(0, 50)
      } yield (u, s)),
      Gen.listOfN(6, for {
        u <- Gen.oneOf("u1", "u2", "u4"); s <- Gen.choose(0, 50)
      } yield (u, s))) { (ls, rsRaw) =>
      val s = spark
      import s.implicits._
      def t(sec: Int) =
        java.sql.Timestamp.valueOf(f"2024-01-01 10:${sec / 60}%02d:${sec % 60}%02d")
      val rs = rsRaw.distinct
      val left = ls.zipWithIndex
        .map { case ((u, sec), i) => (i.toLong, u, t(sec)) }
        .toDF("event_id", "user_email", "ts")
      val right = rs.map { case (u, sec) => (u, t(sec), sec.toDouble) }
        .toDF("user_email", "ts", "pvalue")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), Option(r.get(3)),
          Option(r.get(4)))).toSet
      val ref = rows(graft.ext.AsOf.asofJoin(left, right, "user_email",
        "ts", Seq("pvalue")))
      // merge and broadcast physical forms both equal the composed form
      rows(graft.ext.AsOf.asofJoinNative(left, right, "user_email", "ts",
        Seq("pvalue"), broadcast = Some(false))) == ref &&
      rows(graft.ext.AsOf.asofJoinNative(left, right, "user_email", "ts",
        Seq("pvalue"), broadcast = Some(true))) == ref
    }

  property("pointInInterval == naive theta join, any bucket width") =
    forAll(
      Gen.listOfN(8, for {
        u <- Gen.oneOf("a", "b"); s <- Gen.choose(0, 3000)
      } yield (u, s)),
      Gen.listOfN(5, for {
        u <- Gen.oneOf("a", "b"); s <- Gen.choose(0, 3000)
        w <- Gen.choose(0, 1200)
      } yield (u, s, s + w)),
      Gen.oneOf(60L, 600L, 3600L)) { (ps, is, width) =>
      val s = spark
      import s.implicits._
      def t(sec: Int) = java.sql.Timestamp.valueOf(
        f"2024-01-01 ${10 + sec / 3600}%02d:${(sec / 60) % 60}%02d:${sec % 60}%02d")
      val points = ps.zipWithIndex
        .map { case ((u, sec), i) => (i.toLong, u, t(sec)) }
        .toDF("event_id", "k", "ts")
      val intervals = is.map { case (u, s0, s1) => (u, t(s0), t(s1)) }
        .toDF("k", "w_start", "w_end")
      val got = graft.ext.RangeJoin.pointInInterval(points, intervals,
          "k", "ts", "w_start", "w_end", width)
        .select(col("event_id"), col("w_start")).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1))).toSet
      val expect = (for {
        ((u, sec), i) <- ps.zipWithIndex
        (iu, s0, s1) <- is if iu == u && sec >= s0 && sec < s1
      } yield (i.toLong, t(s0))).toSet
      got == expect
    }

  property("tokenChunks reassembles to the original text, any chunk size") =
    forAll(
      Gen.listOfN(5, Gen.listOf(Gen.oneOf("a", "bb", "ccc", "", "dd"))
        .map(_.mkString(" "))),
      Gen.choose(1, 5)) { (texts, chunkSize) =>
      val s = spark
      import s.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val rejoined = TextAnalysis.tokenChunks(docs, "doc_id", "text", chunkSize)
        .groupBy(col("doc_id"))
        .agg(array_join(array_sort(collect_list(
          struct(col("chunk_idx"), col("chunk")))).getField("chunk"), " ")
          .as("re"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      texts.zipWithIndex.forall { case (t, i) => rejoined(i.toLong) == t }
    }

  property("embeddingDupPairsLsh never exceeds brute force, cosines equal") =
    forAll(Gen.listOfN(12,
      Gen.listOfN(4, Gen.choose(-5, 5).map(_.toFloat / 5.0f)))) { vecsRaw =>
      val s = spark
      import s.implicits._
      // zero vectors are kept in the GENERATOR on purpose: they exercise
      // the zero-norm exclusion (withNorm filter on the LSH side, finite
      // check in the brute kernel — under ANSI an unguarded 0/0 cosine
      // RAISES rather than NaN-ing; a seed caught exactly that)
      val vecs = vecsRaw.zipWithIndex
        .map { case (v, i) => (i.toLong, v) }
      val e = vecs.toDF("vec_id", "embedding")
      val lsh = Dedup.embeddingDupPairsLsh(e, "vec_id", "embedding", 0.5,
          nPlanes = 2, bands = 2, dim = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      val brute = Dedup.embeddingDupPairs(e, "vec_id", "embedding", 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      lsh.keySet.subsetOf(brute.keySet) &&
        lsh.forall { case (k, v) => brute(k) == v }
    }

  property("ppjoinDupPairs == brute-force Jaccard over word sets") =
    forAll(for {
      n <- Gen.choose(4, 12)
      docs <- Gen.listOfN(n,
        Gen.listOf(Gen.oneOf("alpha", "bravo", "carol", "delta", "echo",
          "fox", "golf", "hotel")).map(_.mkString(" ")))
      tn <- Gen.oneOf(1, 2, 7)
      td <- Gen.oneOf(2, 3, 10)
    } yield (docs, math.min(tn, td - 1).max(1), td)) {
      case (docs, tn, td) =>
        val s = spark
        import s.implicits._
        val d = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val got = Dedup.ppjoinDupPairs(d, "doc_id", "text", tn, td)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        val sets = docs.zipWithIndex.map { case (t, i) =>
          i.toLong -> t.split(" ").filter(_.nonEmpty).toSet
        }
        val brute = (for {
          (a, sa) <- sets; (b, sb) <- sets
          if a < b && sa.nonEmpty && sb.nonEmpty
          inter = (sa & sb).size
          if inter >= 1 && td * inter >= tn * (sa.size + sb.size - inter)
        } yield (a, b) -> inter.toLong).toMap
        got == brute
    }

  // the executor-side md5-top-60 idiom, replicated for the reference
  private def md5Top60Ref(str: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(str.getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  property("winnowFingerprints == reference winnowing, any k/w") =
    forAll(for {
      k <- Gen.choose(2, 4)
      w <- Gen.choose(1, 6)
      docs <- Gen.listOfN(6,
        Gen.choose(0, 30).flatMap(len =>
          Gen.listOfN(len, Gen.oneOf('a', 'b', 'c')).map(_.mkString)))
    } yield (k, w, docs)) { case (k, w, docs) =>
      val s = spark
      import s.implicits._
      val d = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      // the deque kernel must match the reference winnowing below
      val gotLocal = Dedup.winnowFingerprintsLocal(d, "doc_id", "text", k, w)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val expect = docs.zipWithIndex.flatMap { case (t, i) =>
        val nGrams = t.length - k + 1
        if (nGrams < 1) Seq.empty
        else {
          val hs = (1 to nGrams)
            .map(p => p -> md5Top60Ref(t.substring(p - 1, p - 1 + k)))
          val nStarts = math.max(1, nGrams - w + 1)
          (1 to nStarts).map { st =>
            val win = hs.slice(st - 1, math.min(st - 1 + w, nGrams))
            val mh = win.map(_._2).min
            // robust winnowing: rightmost minimal position wins
            val pos = win.filter(_._2 == mh).map(_._1).max
            (i.toLong, pos.toLong, mh)
          }.distinct
        }
      }.toSet
      gotLocal == expect
    }

  property("wordDropout at 0% is the identity; reference drop at any pct") =
    forAll(for {
      docs <- Gen.listOfN(5,
        Gen.listOf(Gen.oneOf("aa", "bb", "cc", "dd")).map(_.mkString(" ")))
      pct <- Gen.choose(0, 100)
    } yield (docs, pct)) { case (docs, pct) =>
      val s = spark
      import s.implicits._
      val d = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      def run(p: Int) = graft.ext.Curation.wordDropout(d, "doc_id", "text", p)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getString(3)))).toMap
      def md5Hex(t: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      val id0 = run(0)
      val identityOk = docs.zipWithIndex.forall { case (t, i) =>
        id0(i.toLong) == ((t.split(" ", -1).length.toLong,
          t.split(" ", -1).length.toLong, md5Hex(t)))
      }
      // reference drop: same md5-bucket rule replayed in plain Scala
      def bucket(key: String): Long = {
        val dg = java.security.MessageDigest.getInstance("MD5")
          .digest(key.getBytes("UTF-8"))
        var v = 0L
        var k = 0
        while (k < 8) { v = (v << 8) | (dg(k) & 0xffL); k += 1 }
        (v >>> 4) % 100L
      }
      val got = run(pct)
      val refOk = docs.zipWithIndex.forall { case (t, i) =>
        val toks = t.split(" ", -1)
        val kept = toks.zipWithIndex
          .filter { case (_, p) => bucket(s"$i:$p") >= pct }.map(_._1)
        got(i.toLong) == ((toks.length.toLong, kept.length.toLong,
          md5Hex(kept.mkString(" "))))
      }
      identityOk && refOk
    }

  property("winnowOverlapSpans pairs+shared == winnowOverlapPairs") =
    forAll(for {
      docs <- Gen.listOfN(6,
        Gen.choose(5, 25).flatMap(len =>
          Gen.listOfN(len, Gen.oneOf('a', 'b')).map(_.mkString)))
      minSh <- Gen.choose(1, 3)
    } yield (docs, minSh)) { case (docs, minSh) =>
      val s = spark
      import s.implicits._
      val d = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val spans = Dedup.winnowOverlapSpans(d, "doc_id", "text",
          k = 3, w = 3, minShared = minSh, maxFpDf = 10)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val pairs = Dedup.winnowOverlapPairs(d, "doc_id", "text",
          k = 3, w = 3, minShared = minSh, maxFpDf = 10)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      spans == pairs
    }

  property("wordSwap == plain-Scala disjoint-pair reference") =
    forAll(for {
      docs <- Gen.listOfN(5,
        Gen.listOf(Gen.oneOf("p", "qq", "rrr")).map(_.mkString(" ")))
      pct <- Gen.choose(0, 100)
    } yield (docs, pct)) { case (docs, pct) =>
      val s = spark
      import s.implicits._
      val d = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = graft.ext.Curation.wordSwap(d, "doc_id", "text", pct)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      def bucket(key: String): Long = {
        val dg = java.security.MessageDigest.getInstance("MD5")
          .digest(key.getBytes("UTF-8"))
        var v = 0L
        var k = 0
        while (k < 8) { v = (v << 8) | (dg(k) & 0xffL); k += 1 }
        (v >>> 4) % 100L
      }
      def md5Hex(t: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      docs.zipWithIndex.forall { case (t, i) =>
        val toks = t.split(" ", -1)
        val out = toks.clone()
        var sw = 0L
        var p = 0
        while (p + 1 < toks.length) {
          if (bucket(s"$i:s:${p / 2}") < pct) {
            out(p) = toks(p + 1); out(p + 1) = toks(p); sw += 2
          }
          p += 2
        }
        got(i.toLong) == ((sw, md5Hex(out.mkString(" "))))
      }
    }

  property("noveltyCensus == brute-force shingle-df reference") =
    forAll(Gen.listOfN(6,
      Gen.listOf(Gen.oneOf("x", "y", "z", "w")).map(_.mkString(" ")))) {
      docs =>
        val s = spark
        import s.implicits._
        val d = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val got = graft.ext.Dedup.noveltyCensus(d, "doc_id", "text", n = 3)
          .collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
            r.getLong(3)))).toMap
        def shingles(t: String): Array[String] = {
          val toks = t.split(" ", -1)
          if (toks.length >= 3)
            (0 to toks.length - 3).map(i =>
              toks.slice(i, i + 3).mkString(" ")).toArray.distinct
          else Array(t)
        }
        val all = docs.zipWithIndex.flatMap { case (t, i) =>
          shingles(t).map(sh => (i.toLong, sh))
        }
        val df = all.groupBy(_._2).map { case (sh, xs) => sh -> xs.size }
        val expect = docs.zipWithIndex.map { case (t, i) =>
          val ss = shingles(t)
          val uniq = ss.count(sh => df(sh) == 1)
          i.toLong -> ((ss.length.toLong, uniq.toLong,
            uniq.toLong * 1000000L / ss.length))
        }.toMap
        got == expect
    }

  property("ppjoinDupPairsIncremental == full PPJoin restricted to batch") =
    forAll(for {
      nb <- Gen.choose(1, 4)
      nc <- Gen.choose(1, 8)
      mk = Gen.listOf(Gen.oneOf("alpha", "bravo", "carol", "delta",
        "echo", "fox")).map(_.mkString(" "))
      bat <- Gen.listOfN(nb, mk)
      cor <- Gen.listOfN(nc, mk)
      tn <- Gen.oneOf(1, 2)
      td <- Gen.oneOf(2, 3)
    } yield (bat, cor, math.min(tn, td - 1), td)) {
      case (bat, cor, tn, td) =>
        val s = spark
        import s.implicits._
        val bd = bat.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val cd = cor.zipWithIndex.map { case (t, i) => (100L + i, t) }
          .toDF("doc_id", "text")
        def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        val inc = pairs(Dedup.ppjoinDupPairsIncremental(bd, cd,
          "doc_id", "text", tn, td))
        val full = pairs(Dedup.ppjoinDupPairs(bd.unionByName(cd),
          "doc_id", "text", tn, td))
          .filter { case ((a, b), _) => a < 100L || b < 100L }
        inc == full
    }

  property("winnowOverlapIncremental == full overlap restricted to batch") =
    forAll(for {
      nb <- Gen.choose(1, 4)
      nc <- Gen.choose(1, 6)
      mk = Gen.choose(5, 25).flatMap(len =>
        Gen.listOfN(len, Gen.oneOf('a', 'b')).map(_.mkString))
      bat <- Gen.listOfN(nb, mk)
      cor <- Gen.listOfN(nc, mk)
      minSh <- Gen.choose(1, 3)
    } yield (bat, cor, minSh)) { case (bat, cor, minSh) =>
      val s = spark
      import s.implicits._
      // binary alphabet at k=3 forces heavy fingerprint collisions
      val bd = bat.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val cd = cor.zipWithIndex.map { case (t, i) => (100L + i, t) }
        .toDF("doc_id", "text")
      def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val inc = pairs(Dedup.winnowOverlapIncremental(bd, cd,
        "doc_id", "text", k = 3, w = 3, minShared = minSh, maxFpDf = 10))
      val full = pairs(Dedup.winnowOverlapPairs(bd.unionByName(cd),
        "doc_id", "text", k = 3, w = 3, minShared = minSh, maxFpDf = 10))
        .filter { case ((a, b), _) => a < 100L || b < 100L }
      inc == full
    }

  property("dupClustersIncremental == full CC on random edge sets") =
    forAll(for {
      nc <- Gen.choose(1, 12)
      nb <- Gen.choose(1, 6)
      ne <- Gen.choose(0, 25)
      edges <- Gen.listOfN(ne, for {
        a <- Gen.choose(0L, (nc + nb - 1).toLong)
        b <- Gen.choose(0L, (nc + nb - 1).toLong)
      } yield (a, b))
    } yield (nc.toLong, edges.filter(e => e._1 != e._2))) {
      case (nc, edges0) =>
        val s = spark
        import s.implicits._
        // ids >= nc are the "batch"; remap them past 100 for disjointness
        def remap(x: Long) = if (x >= nc) 100L + x else x
        val edges = edges0.map { case (a, b) => (remap(a), remap(b)) }
        val corpusPairs = edges.filter(e => e._1 < nc && e._2 < nc)
        val touching = edges.filter(e => e._1 >= 100L || e._2 >= 100L)
        def df(ps: Seq[(Long, Long)]) =
          (ps :+ ((-1L, -1L))).toDF("id_a", "id_b") // sentinel keeps schema
            .filter(col("id_a") >= 0)
        def labelMap(d: org.apache.spark.sql.DataFrame) = d.collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val labels = Dedup.dupClusters(df(corpusPairs))
        val inc = labelMap(Dedup.dupClustersIncremental(labels, df(touching)))
        val full = labelMap(Dedup.dupClusters(df(edges)))
        inc == full
    }

  property("dupWeights and capDupClusters algebra on random pair sets") =
    forAll(for {
      n <- Gen.choose(2, 14)
      ne <- Gen.choose(1, 20)
      edges <- Gen.listOfN(ne, for {
        a <- Gen.choose(0L, (n - 1).toLong)
        b <- Gen.choose(0L, (n - 1).toLong)
      } yield (a, b))
      cap <- Gen.choose(1, 3)
    } yield (edges.filter(e => e._1 != e._2), cap)) {
      case (edges, cap) =>
        (edges.nonEmpty: Boolean) ==> {
          val s = spark
          import s.implicits._
          val clusters = Dedup.dupClusters(edges.toDF("id_a", "id_b"))
          val members = clusters.collect()
            .map(r => r.getLong(0) -> r.getLong(1))
          val bySize = members.groupBy(_._2).view.mapValues(_.size).toMap
          val w = Dedup.dupWeights(clusters).collect()
            .map(r => (r.getAs[Long]("id"), r.getAs[Long]("cluster_id"),
              r.getAs[Long]("cluster_size"), r.getAs[Long]("weight_ppm")))
          // every member carries its component's true size and the exact
          // integer down-weight
          val weightsOk = w.length == members.length && w.forall {
            case (_, cid, sz, ppm) =>
              bySize(cid).toLong == sz && ppm == 1000000L / sz
          }
          val kept = Dedup.capDupClusters(clusters, cap).collect()
            .map(r => (r.getAs[Long]("id"), r.getAs[Long]("cluster_id"),
              r.getAs[Long]("keep_rank")))
          // per cluster: exactly min(cap, size) survivors, dense ranks
          // from 1, all genuine members
          val capOk = kept.groupBy(_._2).forall { case (cid, rows) =>
            rows.length == math.min(cap, bySize(cid)) &&
              rows.map(_._3).sorted.toSeq ==
                (1L to rows.length.toLong) &&
              rows.forall(r => members.contains((r._1, cid)))
          }
          // cap >= 1 means every cluster keeps at least one survivor
          weightsOk && capOk && kept.map(_._2).distinct.toSet ==
            bySize.keySet
        }
    }

  property("assertDisjointIds: loud on collision, silent on disjoint") =
    forAll(Gen.choose(0L, 50L), Gen.choose(1, 5)) { (base, n) =>
      val s = spark
      import s.implicits._
      val batch = (base until base + n).toDF("doc_id")
      val corpusDisjoint = (base + 100 until base + 100 + n).toDF("doc_id")
      val corpusColliding = corpusDisjoint
        .unionByName(Seq(base + n - 1).toDF("doc_id"))
      Dedup.assertDisjointIds(batch, corpusDisjoint, "doc_id") // no throw
      val ex = try {
        Dedup.assertDisjointIds(batch, corpusColliding, "doc_id"); None
      } catch { case e: IllegalArgumentException => Some(e) }
      ex.exists(_.getMessage.contains("disjoint"))
    }

  property("salted mixtureByTokens == plain path on random corpora") =
    forAll(for {
      n <- Gen.choose(5, 60)
      rows <- Gen.listOfN(n, for {
        src <- Gen.oneOf("a", "b", "c")
        tok <- Gen.choose(1, 40)
      } yield (src, tok.toLong))
      buckets <- Gen.oneOf(2, 3, 7, 64)
      total <- Gen.choose(10L, 500L)
    } yield (rows, buckets, total)) { case (rows, buckets, total) =>
      val s = spark
      import s.implicits._
      val d = rows.zipWithIndex
        .map { case ((src, tok), i) => (s"doc-$i", src, tok) }
        .toDF("doc_id", "source", "n_tokens")
      val weights = Map("a" -> 2.0, "b" -> 1.0)  // "c" unweighted
      def run(sb: Int) = graft.ext.Curation.mixtureByTokens(
          d, "doc_id", "source", "n_tokens", weights, total, sb)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(t => (t._2, t._4)).toSeq
      run(buckets) == run(1)
    }

  property("packBalanced: salted == plain, and shard token totals stay " +
      "within one band-max per band") =
    forAll(for {
      n <- Gen.choose(4, 80)
      toks <- Gen.listOfN(n, Gen.choose(1L, 5000L))
      shards <- Gen.oneOf(2, 3, 4)
      buckets <- Gen.oneOf(2, 7, 64)
    } yield (toks, shards, buckets)) { case (toks, shards, buckets) =>
      val s = spark
      import s.implicits._
      val d = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "n_tokens")
      def run(sb: Int) = graft.ext.Packing.packBalanced(
          d, "doc_id", "n_tokens", shards, sb)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
      val plain = run(1)
      // the telescoping bound: sorted-desc round-robin within a band
      // keeps any two shards' token totals within one band-max document
      val bandOk = plain.groupBy(_._3).forall { case (_, rows) =>
        val byShard = (0 until shards).map(sh =>
          rows.filter(_._4 == sh.toLong).map(_._2).sum)
        byShard.max - byShard.min <= rows.map(_._2).max
      }
      run(buckets) == plain && bandOk
    }

  property("redactWindows == per-character reference on random windows") =
    forAll(for {
      len <- Gen.choose(0, 40)
      text <- Gen.listOfN(len, Gen.alphaNumChar).map(_.mkString)
      minLen <- Gen.choose(1, 6)
      nw <- Gen.choose(0, 8)
      wins <- Gen.listOfN(nw,
        Gen.choose(1, math.max(1, len - minLen + 1)))
    } yield (text, minLen, wins.distinct)) { case (text, minLen, wins) =>
      val s = spark
      import s.implicits._
      val d = Seq((1L, text)).toDF("doc_id", "text")
      val validWins = wins.filter(p => p + minLen - 1 <= text.length)
      val wdf = validWins.map(p => (1L, p.toLong)).toDF("doc_id", "pos")
      val out = graft.ext.Curation.redactWindows(d, wdf, "doc_id", "text",
          minLen).head()
      // reference: drop every char covered by any [p, p+minLen) window
      val covered = validWins
        .flatMap(p => p until p + minLen).toSet // 1-based char positions
      val expected = text.zipWithIndex
        .collect { case (c, i) if !covered(i + 1) => c }.mkString
      out.getString(1) == expected &&
        out.getLong(2) == (text.length - expected.length).toLong
    }

  property("bpeEncodeIds token counts equal bpeEncode's on random corpora") =
    forAll(for {
      nDocs <- Gen.choose(1, 6)
      docsG <- Gen.listOfN(nDocs, Gen.listOfN(6,
        Gen.listOfN(3, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
        .map(_.mkString(" ")))
      m <- Gen.choose(1, 6)
    } yield (docsG, m)) { case (texts, m) =>
      val s = spark
      import s.implicits._
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val merges = graft.ext.Bpe.bpeTrain(d, "text", m)
      val counts = graft.ext.Bpe.bpeEncode(d, "doc_id", "text", merges)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val ids = graft.ext.Bpe.bpeEncodeIds(d, "doc_id", "text", merges)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      ids == counts
    }

  property("bpeDecode ∘ bpeEncodeIds == strip-spaces on random corpora") =
    forAll(for {
      nDocs <- Gen.choose(1, 5)
      docsG <- Gen.listOfN(nDocs, Gen.listOfN(5,
        Gen.listOfN(3, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
        .map(_.mkString(" ")))
      m <- Gen.choose(1, 6)
    } yield (docsG, m)) { case (texts, m) =>
      val s = spark
      import s.implicits._
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val merges = graft.ext.Bpe.bpeTrain(d, "text", m)
      val enc = graft.ext.Bpe.bpeEncodeIds(d, "doc_id", "text", merges)
      val vocab = graft.ext.Bpe.bpeVocab(d, "text", merges)
      val decoded = graft.ext.Bpe.bpeDecode(enc, "doc_id", "token_ids", vocab)
        .collect().map(r => r.getLong(0) -> r.getAs[String]("text")).toMap
      texts.zipWithIndex.forall { case (t, i) =>
        decoded(i.toLong) == t.replace(" ", "")
      }
    }

  property("byte-level bpeDecodeBytes ∘ bpeEncodeIdsBytes == strip-spaces, " +
      "and the vocabulary is train-corpus-independent") =
    forAll(for {
      nDocs <- Gen.choose(1, 5)
      docsG <- Gen.listOfN(nDocs, Gen.listOfN(5,
        Gen.listOfN(3, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
        .map(_.mkString(" ")))
      // encode corpus can contain symbols the TRAIN corpus never saw —
      // byte level must still round-trip (the no-unknown-path property)
      extraG <- Gen.listOfN(4, Gen.oneOf('x', 'y', 'z')).map(_.mkString)
      m <- Gen.choose(1, 6)
    } yield (docsG, extraG, m)) { case (texts, extra, m) =>
      val s = spark
      import s.implicits._
      val train = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val all = (texts :+ extra).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val merges = graft.ext.Bpe.bpeTrainBytes(train, "text", m)
      val enc = graft.ext.Bpe.bpeEncodeIdsBytes(all, "doc_id", "text", merges)
      val vocab = graft.ext.Bpe.bpeVocabBytes(s, merges)
      val decoded = graft.ext.Bpe.bpeDecodeBytes(enc, "doc_id", "token_ids",
          vocab)
        .collect().map(r => r.getLong(0) -> r.getAs[String]("text")).toMap
      (texts :+ extra).zipWithIndex.forall { case (t, i) =>
        decoded(i.toLong) == t.replace(" ", "")
      }
    }

  property("scd2 intervals chain per key and merge equal runs") =
    forAll(Gen.listOfN(10, Gen.option(Gen.choose(0, 2)))) { vals =>
      val s = spark
      import s.implicits._
      val rows = vals.zipWithIndex.map { case (v, i) =>
        ("k1", java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 00:00:00"),
          v.map(_.toDouble))
      }
      val out = graft.ext.History.scd2(rows.toDF("k", "ts", "v"),
          Seq("k"), "ts", "v")
        .orderBy(col("valid_from")).collect()
        .map(r => (r.getTimestamp(1), Option(r.getTimestamp(2)),
          Option(r.get(3)).map(_.asInstanceOf[Double])))
      // naive run compression over the input order
      val runs = rows.map(r => (r._2, r._3)).foldLeft(
        List.empty[(java.sql.Timestamp, Option[Double])]) {
        case (acc, (ts, v)) =>
          if (acc.nonEmpty && acc.head._2 == v) acc else (ts, v) :: acc
      }.reverse
      val expect = runs.zipWithIndex.map { case ((ts, v), i) =>
        (ts, runs.lift(i + 1).map(_._1), v)
      }
      out.toSeq == expect
    }

  property("qualityScore stays within [0, 100]") =
    forAll(Gen.listOfN(8, Gen.asciiPrintableStr.suchThat(_.nonEmpty))) { ts =>
      val s = spark
      import s.implicits._
      ts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
        .select(TextAnalysis.qualityScore(col("text")).as("q"))
        .collect().forall { r =>
          val q = r.getDouble(0); q >= 0.0 && q <= 100.0
        }
    }

  property("dupClusters == driver-side union-find on random edge lists") =
    forAll(Gen.listOfN(12,
        Gen.zip(Gen.choose(0L, 15L), Gen.choose(0L, 15L)))) { edges =>
      val s = spark
      import s.implicits._
      val nonLoop = edges.filter(e => e._1 != e._2)
      nonLoop.isEmpty || {
        val got = Dedup.dupClusters(nonLoop.toDF("id_a", "id_b")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        // reference: classic union-find with min-id roots
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        def union(a: Long, b: Long): Unit = {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        nonLoop.foreach { case (a, b) => union(a, b) }
        val want = parent.keys.map(x => x -> find(x)).toMap
        got == want
      }
    }

  property("editDistancePairs == brute-force levenshtein over random words") =
    forAll(Gen.listOfN(10,
        Gen.listOfN(5, Gen.alphaLowerChar).map(_.mkString)
          .flatMap(w => Gen.choose(0, 3).map(k => w.take(2 + k))))) { words =>
      val s = spark
      import s.implicits._
      val df = words.zipWithIndex
        .map { case (w, i) => (i.toLong, w) }.toDF("id", "name")
        .withColumn("blk", lit("x"))
      val got = graft.ext.Fuzzy.editDistancePairs(df, "id", "name",
          Seq("blk"), maxDist = 1)
        .select("id_a", "id_b", "dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0
        }
        for (i <- 1 to a.length; j <- 1 to b.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        d(a.length)(b.length)
      }
      val want = (for {
        (a, i) <- words.zipWithIndex; (b, j) <- words.zipWithIndex
        if i < j && lev(a, b) <= 1
      } yield (i.toLong, j.toLong, lev(a, b).toLong)).toSet
      got == want
    }

  // ── Model-based versioned store: a random op sequence against an
  // in-memory reference model; after EVERY op the snapshot must hold
  // exactly the model's rows, and restore must reproduce any recorded
  // earlier state. Op payloads are instructions resolved against the
  // running state (append only targets non-live keys — the blind-
  // append contract). ──
  private val storeKeyDomain: Vector[(String, String, Int)] = (for {
    u <- Seq("a@x", "b@x", "c@x"); h <- Seq("h1", "h2"); d <- 1 to 3
  } yield (u, h, d)).toVector

  private sealed trait StoreOp
  private case class OpAppend(keyIdx: Set[Int], seed: Int) extends StoreOp
  private case class OpUpsert(keyIdx: Set[Int], seed: Int) extends StoreOp
  private case class OpDelete(userIdx: Int) extends StoreOp
  private case class OpRestore(frac: Double) extends StoreOp
  private case object OpCompact extends StoreOp

  private val storeOpGen: Gen[StoreOp] = Gen.frequency(
    3 -> (for { ks <- Gen.someOf(storeKeyDomain.indices); s <- Gen.choose(1, 99) }
      yield OpAppend(ks.toSet, s)),
    3 -> (for { ks <- Gen.someOf(storeKeyDomain.indices); s <- Gen.choose(1, 99) }
      yield OpUpsert(ks.toSet, s)),
    2 -> Gen.choose(0, 2).map(OpDelete),
    1 -> Gen.choose(0.0, 1.0).map(OpRestore),
    1 -> Gen.const(OpCompact))

  property("applyJoinDelta == recompute under random two-sided deltas") =
    forAll(for {
      // A keyed by (k, g); B keyed by k; ops drawn independently
      aRows <- Gen.mapOf(Gen.zip(
        Gen.zip(Gen.choose(1L, 6L), Gen.oneOf("x", "y")),
        Gen.choose(1, 9).map(_.toDouble)))
      bRows <- Gen.mapOf(Gen.zip(Gen.choose(1L, 6L),
        Gen.choose(1, 9).map(_.toDouble)))
      aOps <- Gen.mapOf(Gen.zip(
        Gen.zip(Gen.choose(1L, 6L), Gen.oneOf("x", "y")),
        Gen.oneOf("ins", "del", "upd")))
      bOps <- Gen.mapOf(Gen.zip(Gen.choose(1L, 6L),
        Gen.oneOf("ins", "del", "upd")))
    } yield (aRows, bRows, aOps, bOps)) {
      case (aRows, bRows, aOps, bOps) =>
        val s = spark
        import s.implicits._
        import graft.load.IncrementalView
        // apply ops to the in-memory model, deriving the cdf rows
        def step[K](rows: Map[K, Double], ops: Map[K, String], nv: Double)
            : (Map[K, Double], Seq[(K, String, Option[Double], Option[Double])]) =
          ops.foldLeft((rows, Seq.empty[(K, String, Option[Double], Option[Double])])) {
            case ((m, cdf), (k, op)) => (op, m.get(k)) match {
              case ("ins", None) =>
                (m + (k -> nv), cdf :+ ((k, "insert", None, Some(nv))))
              case ("del", Some(v)) =>
                (m - k, cdf :+ ((k, "delete", Some(v), None)))
              case ("upd", Some(v)) =>
                (m + (k -> (v + 1)), cdf :+ ((k, "update", Some(v), Some(v + 1))))
              case _ => (m, cdf) // no-op: ins on present, del/upd on absent
            }
          }
        val (a1, cdfA) = step(aRows, aOps, 5.0)
        val (b1, cdfB) = step(bRows, bOps, 3.0)
        def aDf(m: Map[(Long, String), Double]) = m.toSeq
          .map { case ((k, g), v) => (k, g, v) }.toDF("k", "g", "v")
        def bDf(m: Map[Long, Double]) = m.toSeq.toDF("k", "w")
        val contrib = round(col("v") * col("w") * 1e6).cast("long")
        val mv0 = IncrementalView.fromSnapshot(
          aDf(aRows).join(bDf(bRows), "k"), Seq("g"), contrib)
        val zA = IncrementalView.zRelation(cdfA
          .map { case ((k, g), op, o, n) => (k, g, op, o, n) }
          .toDF("k", "g", "op", "v_old", "v_new"))
        val zB = IncrementalView.zRelation(cdfB
          .map { case (k, op, o, n) => (k, op, o, n) }
          .toDF("k", "op", "w_old", "w_new"))
        val inc = IncrementalView.applyJoinDelta(mv0, zA, bDf(b1),
            aDf(aRows), zB, Seq("k"), Seq("g"), contrib)
          .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
          .toMap
        val full = IncrementalView.fromSnapshot(
            aDf(a1).join(bDf(b1), "k"), Seq("g"), contrib)
          .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
          .toMap
        inc == full
    }

  property("phraseSearch == naive word-position scan on random corpora") =
    forAll(for {
      nDocs <- Gen.choose(1, 6)
      docsG <- Gen.listOfN(nDocs, Gen.listOfN(8,
        Gen.oneOf("a", "b", "c")).map(_.mkString(" ")))
      k <- Gen.choose(1, 3)
      phrase <- Gen.listOfN(k, Gen.oneOf("a", "b", "c"))
    } yield (docsG, phrase)) { case (texts, phrase) =>
      val s = spark
      import s.implicits._
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val out = graft.ext.TextAnalysis
        .phraseSearch(d, "doc_id", "text", phrase)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = texts.zipWithIndex.flatMap { case (t, i) =>
        val ws = t.split(" ").filter(_.nonEmpty)
        val hits = (0 to ws.length - phrase.length).count(p =>
          phrase.indices.forall(j => ws(p + j) == phrase(j)))
        if (hits > 0) Some(i.toLong -> hits.toLong) else None
      }.toMap
      out == expected
    }

  property("ppmAHash == naive integer grid recompute on random images") =
    forAll(for {
      w <- Gen.choose(8, 13)
      h <- Gen.choose(8, 13)
      bytes <- Gen.listOfN(3, Gen.choose(0, 255)) // rgb pattern seed
    } yield (w, h, bytes)) { case (w, h, seed) =>
      val s = spark
      import s.implicits._
      // deterministic pseudo-random pixels from the seed (no RNG here)
      val px = Array.tabulate(w * h * 3)(k =>
        ((seed(k % 3) * 31 + k * 17) % 256).toByte)
      val payload = s"P6\n$w $h\n255\n".getBytes("US-ASCII") ++ px
      val out = graft.ext.Multimodal.ppmAHash(
        Seq(graft.ext.MediaRecord(1L, "image/ppm", payload)).toDS())
        .head().getLong(1)
      // naive reference
      val off = payload.length - w * h * 3
      val ca = for (ci <- 0 until 8; cj <- 0 until 8) yield {
        val (y0, y1) = (ci * h / 8, (ci + 1) * h / 8)
        val (x0, x1) = (cj * w / 8, (cj + 1) * w / 8)
        val gs = for (y <- y0 until y1; x <- x0 until x1) yield {
          val p = off + 3 * (y * w + x)
          ((payload(p) & 0xff) + (payload(p + 1) & 0xff) +
            (payload(p + 2) & 0xff)) / 3
        }
        gs.map(_.toLong).sum / gs.length
      }
      val m = ca.sum / 64
      val expected = ca.zipWithIndex.foldLeft(0L) { case (acc, (c, i)) =>
        if (c > m) acc | (1L << i) else acc
      }
      out == expected
    }

  property("hammingDupPairs == brute force within the pigeonhole bound") =
    forAll(Gen.listOfN(8, Gen.choose(Long.MinValue, Long.MaxValue))) {
      hs =>
        val s = spark
        import s.implicits._
        val sig = hs.zipWithIndex.map { case (h, i) => (i.toLong, h) }
          .toDF("id", "h")
        val out = graft.ext.Dedup.hammingDupPairs(sig, "id", "h", 7)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
        val expected = (for {
          i <- hs.indices; j <- hs.indices if i < j
          d = java.lang.Long.bitCount(hs(i) ^ hs(j)) if d <= 7
        } yield (i.toLong, j.toLong, d.toLong)).toSet
        out == expected
    }

  property("mergeInto == clause-by-clause in-memory model on random " +
      "batches and conditions") =
    forAll(for {
      tgt <- Gen.nonEmptyMap(Gen.zip(Gen.choose(1L, 8L),
        Gen.choose(0, 9).map(_.toDouble)))
      src <- Gen.mapOf(Gen.zip(Gen.choose(1L, 12L),
        Gen.choose(0, 9).map(_.toDouble)))
      delThr <- Gen.choose(0, 9) // delete matched when s.value < delThr
      updThr <- Gen.choose(0, 9) // update matched when s.value > t.value - updThr
      insThr <- Gen.choose(0, 9) // insert unmatched when s.value <= insThr
    } yield (tgt, src, delThr, updThr, insThr)) {
      case (tgt, src, delThr, updThr, insThr) =>
        val s = spark
        import s.implicits._
        import graft.load.VersionedStore
        val tmp = java.nio.file.Files.createTempDirectory("graft_mprop_")
        try {
          val store = tmp.toString + "/store"
          def df(m: Map[Long, Double]) = m.toSeq.map { case (k, v) =>
            (k, java.sql.Timestamp.valueOf("2024-01-01 09:00:00"),
              s"u$k", "h", v)
          }.toDF("event_id", "ts", "user_email", "habit", "value")
          VersionedStore.create(df(tgt), store)
          VersionedStore.mergeInto(spark, store, df(src),
            matchedUpdate = expr(s"s.value > t.value - $updThr"),
            matchedDelete = expr(s"s.value < $delThr"),
            notMatchedInsert = expr(s"s.value <= $insThr"))
          val out = VersionedStore.snapshot(spark, store).collect()
            .map(r => r.getAs[Long]("event_id") ->
              r.getAs[Double]("value")).toMap
          // reference model, SQL clause order: delete, update, keep
          val expected = tgt.flatMap { case (k, tv) => src.get(k) match {
            case Some(sv) if sv < delThr => None
            case Some(sv) if sv > tv - updThr => Some(k -> sv)
            case _ => Some(k -> tv)
          }} ++ src.collect { case (k, sv)
            if !tgt.contains(k) && sv <= insThr => k -> sv }
          out == expected
        } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }

  property("versioned store == in-memory model under random " +
      "append/upsert/delete/restore/compact sequences") =
    forAll(Gen.listOfN(5, storeOpGen)) { ops =>
      import graft.load.VersionedStore
      val s = spark
      import s.implicits._
      def ts(d: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d 09:00:00")
      def df(rows: Seq[((String, String, Int), Double)]) =
        rows.zipWithIndex.map { case (((u, h, d), v), i) =>
          (i.toLong, ts(d), u, h, v)
        }.toDF("event_id", "ts", "user_email", "habit", "value")
      type Key = (String, String, Int)
      val tmp = java.nio.file.Files.createTempDirectory("graft_model_")
      try {
        val store = tmp.toString + "/store"
        var model = Map[Key, Double](storeKeyDomain(0) -> 1.0)
        VersionedStore.create(df(model.toSeq), store)
        var states = Map(0 -> model)
        var ok = true
        ops.foreach { op =>
          op match {
            case OpAppend(ks, seed) =>
              val fresh = ks.toSeq.sorted.map(storeKeyDomain)
                .filterNot(model.contains)
              if (fresh.nonEmpty) {
                val rows = fresh.map(k => k -> (seed + k.hashCode % 7).toDouble)
                val v = VersionedStore.append(spark, store, df(rows))
                model = model ++ rows
                states += v -> model
              }
            case OpUpsert(ks, seed) if ks.nonEmpty =>
              val rows = ks.toSeq.sorted.map(storeKeyDomain)
                .map(k => k -> (seed * 2 + k.hashCode % 5).toDouble)
              val v = VersionedStore.upsert(spark, store, df(rows))
              model = model ++ rows
              states += v -> model
            case OpUpsert(_, _) => ()
            case OpDelete(ui) if model.nonEmpty =>
              val user = Seq("a@x", "b@x", "c@x")(ui)
              val v = VersionedStore.delete(spark, store,
                col("user_email") === user)
              model = model.filter { case ((u, _, _), _) => u != user }
              states += v -> model
            case OpDelete(_) => ()
            case OpRestore(frac) =>
              val vs = VersionedStore.versions(spark, store)
              val target = vs((frac * (vs.size - 1)).toInt)
              val v = VersionedStore.restore(spark, store, target)
              model = states(target)
              states += v -> model
            case OpCompact =>
              val v = VersionedStore.compact(spark, store,
                maxFilesPerDay = 1)
              states += v -> model
          }
          val got =
            if (model.isEmpty)
              // a delete can empty the store; snapshot requires files,
              // so assert via the manifest-level row count instead
              VersionedStore.versions(spark, store).nonEmpty
            else {
              val rows = VersionedStore.snapshot(spark, store)
                .select("user_email", "habit", "ts", "value").collect()
                .map(r => ((r.getString(0), r.getString(1),
                  r.getTimestamp(2).toLocalDateTime.getDayOfMonth),
                  r.getDouble(3)))
              // length check first: duplicate rows must not hide in toMap
              rows.length == model.size && rows.toMap == model
            }
          ok &&= got
        }
        ok
      } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }

  property("temporalJoin: each fact with key history matches exactly " +
    "once, none twice, on random SCD2 streams") =
    forAll(
      Gen.listOfN(12, for {
        k <- Gen.oneOf("k1", "k2", "k3")
        d <- Gen.choose(1, 28)
        v <- Gen.choose(0, 3)
      } yield (k, d, v.toDouble)),
      Gen.listOfN(10, for {
        k <- Gen.oneOf("k1", "k2", "k3", "k4")
        d <- Gen.choose(1, 28)
      } yield (k, d))) { (changesRaw, facts) =>
      val s = spark
      import s.implicits._
      // one value per (key, day): scd2 orders by ts, so same-day
      // duplicates would make the window nondeterministic
      val changes = changesRaw.groupBy(t => (t._1, t._2))
        .map(_._2.head).toSeq
      changes.nonEmpty ==> {
        def t(d: Int, h: Int) =
          java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
        val dim = graft.ext.History.scd2(
          changes.map { case (k, d, v) => (k, t(d, 0), v) }
            .toDF("k", "ts", "v"),
          Seq("k"), "ts", "v")
        val fdf = facts.zipWithIndex
          .map { case ((k, d), i) => (i.toLong, k, t(d, 12)) }
          .toDF("fid", "k", "ts")
        val out = graft.ext.History.temporalJoin(fdf, dim, Seq("k"), "ts")
          .collect().map(_.getAs[Long]("fid"))
        // a fact (at noon) is covered iff its key changed on/before its day
        val firstDay = changes.groupBy(_._1)
          .map { case (k, cs) => k -> cs.map(_._2).min }
        val expected = facts.zipWithIndex.collect {
          case ((k, d), i) if firstDay.get(k).exists(_ <= d) => i.toLong
        }
        out.sorted.toSeq == expected.sorted
      }
    }

  property("histogramQuantiles: per-day rollup == one-pass sketch on " +
    "random values") =
    forAll(Gen.listOfN(30, for {
      day <- Gen.oneOf("d1", "d2", "d3")
      v <- Gen.choose(-10.0, 110.0)
    } yield (day, v))) { rows =>
      val s = spark
      import s.implicits._
      val df = rows.map { case (d, v) => ("g", d, v) }
        .toDF("grp", "day", "v")
      val qs = Seq(0.25, 0.5, 0.75, 1.0)
      def quant(groupCols: Seq[String]) =
        graft.ext.Profile.histogramQuantiles(
            graft.ext.Profile.histogram(df, "v", 0.0, 100.0, 10, groupCols),
            Seq("grp"), qs, 0.0, 100.0, 10)
          .collect().map(r => r.getAs[Long]("q_ppm") ->
            ((r.getAs[Long]("bucket"), r.getAs[Long]("n_total"),
              r.getAs[Double]("est")))).toMap
      quant(Seq("grp", "day")) == quant(Seq("grp"))
    }

  property("rrfFuse is invariant to ranking-list order") =
    forAll(
      Gen.listOfN(8, Gen.choose(0L, 15L)).map(_.distinct),
      Gen.listOfN(8, Gen.choose(0L, 15L)).map(_.distinct)) { (ia, ib) =>
      (ia.nonEmpty && ib.nonEmpty) ==> {
        val s = spark
        import s.implicits._
        def ranked(ids: Seq[Long]) = ids.zipWithIndex
          .map { case (id, i) => (id, (i + 1).toLong) }
          .toDF("doc_id", "rank")
        val (a, b) = (ranked(ia), ranked(ib))
        def fused(ls: Seq[org.apache.spark.sql.DataFrame]) =
          graft.ext.Similarity.rrfFuse(ls, "doc_id", topK = 20)
            .collect().map(r =>
              (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        fused(Seq(a, b)) == fused(Seq(b, a))
      }
    }

  property("unigram Viterbi: path DP and packed DP agree, pieces " +
    "rebuild the word, no cheaper two-split exists") =
    forAll(
      Gen.listOfN(6, Gen.listOfN(6, Gen.oneOf('a', 'b', 'c')).map(_.mkString)),
      Gen.mapOf(for {
        p <- Gen.listOfN(2, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
        c <- Gen.choose(1L, 9L)
      } yield p -> c * 1000000L)) { (words, pairCosts) =>
      // all single chars present (the required-character rule), random
      // subset of 2-grams priced
      val vocab = pairCosts ++ Map("a" -> 2000000L, "b" -> 3000000L,
        "c" -> 4000000L)
      words.forall { w =>
        val packed = graft.ext.Unigram.viterbiPacked(w, vocab,
          maxPieceLen = 2, maxWordLen = 16, unkCost = 99L)
        graft.ext.Unigram.viterbiPath(w, vocab, maxPieceLen = 2) match {
          case None => false // singles guarantee a path
          case Some(path) =>
            val rebuilt = path.mkString == w
            val pathPacked = path.map(p => vocab(p) * 64L + 1L).sum
            // exhaustive check over all 2^(n-1) segmentations
            val best = (0 until (1 << (w.length - 1))).map { mask =>
              val cuts = (0 until w.length - 1).filter(i => (mask & (1 << i)) != 0)
              val bounds = (-1 +: cuts) :+ (w.length - 1)
              val pieces = bounds.sliding(2).map { case Seq(i, j) =>
                w.substring(i + 1, j + 1) }.toList
              if (pieces.exists(p => !vocab.contains(p))) Long.MaxValue
              else pieces.map(p => vocab(p) * 64L + 1L).sum
            }.min
            rebuilt && pathPacked == packed && packed == best
        }
      }
    }

  property("kcenterSelect == driver-side greedy farthest-point on " +
    "random vectors") =
    forAll(Gen.listOfN(10, Gen.listOfN(4, Gen.choose(-100, 100)))) { vecss =>
      val s = spark
      import s.implicits._
      val rows = vecss.zipWithIndex.map { case (v, i) =>
        (i.toLong, v.map(_.toFloat / 10f)) }
      val k = 5
      val out = graft.ext.Similarity
        .kcenterSelect(rows.toDF("vec_id", "embedding"), "vec_id",
          "embedding", k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toList
      // driver replica: same quantization arithmetic, same greedy, same
      // (dist DESC, id ASC) tie-break
      def quant(v: Seq[Float]): Seq[Long] = {
        val d = v.map(_.toDouble)
        val ma = d.map(math.abs).max
        if (ma == 0) d.map(_ => 0L)
        else d.map(x => math.floor(x / ma * 127 + 0.5).toLong)
      }
      val q = rows.map { case (id, v) => id -> quant(v) }.toMap
      def dist(a: Seq[Long], b: Seq[Long]): Long =
        a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
      var centers = List(rows.map(_._1).min)
      var expect = List((1L, centers.head, 0L))
      for (r <- 2 to k) {
        val (bid, bd) = rows.map(_._1)
          .map(id => id -> centers.map(c => dist(q(id), q(c))).min)
          .maxBy { case (id, dd) => (dd, -id) }
        centers = centers :+ bid
        expect = expect :+ ((r.toLong, bid, bd))
      }
      out == expect
    }

  private val asciiTextGen: Gen[String] =
    Gen.chooseNum(0, 60).flatMap(n =>
      Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))

  property("contentChunks: chunks always reassemble to the text, and " +
      "every chunk except possibly the first starts at a boundary draw") =
    forAll(Gen.listOfN(6, asciiTextGen)) { texts =>
      val s = spark
      import s.implicits._
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = Dedup.contentChunks(df.filter(length(col("text")) > 0),
          "text", window = 5, mask = 4)
        .collect().groupBy(_.getLong(0))
        .map { case (k, v) =>
          k -> v.map(_.getString(v.head.fieldIndex("chunk"))).toSeq }
      got.forall { case (id, chunks) =>
        chunks.mkString == texts(id.toInt) && chunks.forall(_.nonEmpty)
      }
    }

  property("ringShard: assignment in range; S -> S+1 growth only ever " +
      "moves keys TO the new shard") =
    forAll(Gen.listOfN(24, Gen.choose(Long.MinValue, Long.MaxValue))) { ks =>
      val s = spark
      import s.implicits._
      val out = ks.distinct.toDF("k")
        .select(graft.ext.Sampling.ringShard(col("k"), 5, 3).as("s5"),
          graft.ext.Sampling.ringShard(col("k"), 6, 3).as("s6"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      out.forall { case (s5, s6) =>
        s5 >= 0 && s5 < 5 && s6 >= 0 && s6 < 6 &&
          (s5 == s6 || s6 == 5)
      }
    }

  property("WordPiece.greedyPieces: counts bounded by " +
      "ceil(len/maxPieceLen) .. len when every substring is in vocab") =
    forAll(Gen.listOfN(8, asciiTextGen.map(_.take(12)))) { words =>
      words.filter(_.nonEmpty).forall { w =>
        val vocab = (for {
          i <- 0 until w.length; l <- 1 to math.min(4, w.length - i)
        } yield w.substring(i, i + l)).toSet
        val (n, unk) = graft.ext.WordPiece.greedyPieces(w, vocab, 4, 16)
        unk == 0L && n >= (w.length + 3) / 4 && n <= w.length
      }
    }

  property("Assoc.pairRules == brute-force census on random baskets") =
    forAll(Gen.listOfN(30, for {
      b <- Gen.choose(1L, 6L); i <- Gen.choose(1, 5)
    } yield (b, s"i$i"))) { rows =>
      val s = spark
      import s.implicits._
      val out = graft.ext.Assoc
        .pairRules(rows.toDF("b", "i"), "b", "i", minSupport = 1)
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      // brute force: distinct items per basket, all unordered pairs
      val baskets = rows.distinct.groupBy(_._1).view
        .mapValues(_.map(_._2).distinct.sorted).toMap
      val brute = baskets.values.toSeq
        .flatMap(is => for (a <- is; c <- is if a < c) yield (a, c))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      out == brute
    }

  property("Graph.triangleCounts == brute-force enumeration on " +
      "random graphs") =
    forAll(Gen.listOfN(20, for {
      a <- Gen.choose(0L, 8L); b <- Gen.choose(0L, 8L)
    } yield (a, b))) { rawEdges =>
      val s = spark
      import s.implicits._
      val out = graft.ext.Graph
        .triangleCounts(rawEdges.toDF("id_a", "id_b"), "id_a", "id_b")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val edges = rawEdges.collect {
        case (a, b) if a != b => (math.min(a, b), math.max(a, b))
      }.distinct
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val eset = edges.toSet
      val deg = nodes.map(n =>
        n -> edges.count(e => e._1 == n || e._2 == n).toLong).toMap
      val sorted = nodes.sorted
      val tris = for {
        ia <- sorted.indices; ib <- (ia + 1) until sorted.length
        ic <- (ib + 1) until sorted.length
        if eset((sorted(ia), sorted(ib))) &&
          eset((sorted(ib), sorted(ic))) && eset((sorted(ia), sorted(ic)))
      } yield (sorted(ia), sorted(ib), sorted(ic))
      val tcount = nodes.map(n => n -> tris.count(t =>
        t._1 == n || t._2 == n || t._3 == n).toLong).toMap
      out == nodes.map(n => n -> ((deg(n), tcount(n)))).toMap
    }

  property("Dedup.ngramContainment == brute set arithmetic under the " +
      "df gate") =
    forAll(Gen.listOfN(6, Gen.listOfN(8,
      Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))) { texts =>
      val s = spark
      import s.implicits._
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val out = Dedup.ngramContainment(docs.toDF("doc_id", "text"),
          "doc_id", "text", n = 3, threshold = 0.25, maxShingleDf = 4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
      def shingles(t: String): Set[String] = {
        val w = t.split(" ")
        if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSet
        else Set(t)
      }
      val sets = docs.map { case (id, t) => id -> shingles(t) }.toMap
      val df = sets.values.flatten.groupBy(identity).view
        .mapValues(_.size).toMap
      val kept = sets.view.mapValues(_.filter(df(_) <= 4)).toMap
      def r6d(x: Double) = BigDecimal(x)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val brute = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        inter = (kept(a) & kept(b)).size.toLong if inter > 0
        ca = r6d(inter.toDouble / kept(a).size)
        cb = r6d(inter.toDouble / kept(b).size)
        if ca >= 0.25 || cb >= 0.25
      } yield (a, b) -> ((inter, ca, cb))).toMap
      out == brute
    }

  property("AhoCorasick matches == String.contains census on random " +
      "pattern sets") =
    forAll(
      Gen.nonEmptyListOf(Gen.nonEmptyListOf(Gen.oneOf('a', 'b', 'c'))
        .map(_.mkString).map(_.take(4))).map(_.distinct.take(6)),
      Gen.listOf(Gen.oneOf('a', 'b', 'c')).map(_.mkString)) { (pats, text) =>
      pats.nonEmpty ==> {
        val ac = new graft.plans.AhoCorasick(pats.toArray)
        val u = org.apache.spark.unsafe.types.UTF8String.fromString(text)
        val expected = pats.filter(text.contains(_)).sorted
        ac.count(u) == expected.size.toLong &&
          Option(ac.first(u)).map(_.toString) == expected.headOption
      }
    }
}
