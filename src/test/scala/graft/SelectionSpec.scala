package graft

import graft.operators.Selection
import java.security.MessageDigest

/** Brute-force twins for the training-data SELECTION operators (§2 #35):
  * every value the operators emit at sf0.001 is recomputed here in plain
  * Scala collections — tokenizer, bigram LM, CCNet tertile cuts, DSIR
  * hashed-unigram model and Kneser–Ney smoothing all re-derived from the
  * raw parquet text with no Spark expression shared with the production
  * path (only the corpus read itself). */
class SelectionSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  // ---- shared brute-force corpus model -----------------------------------

  /** (doc_id, lang, tokens) — same tokenizer contract as TextFns.toks:
    * split on \s+, lowercase, drop empties. */
  private lazy val corpus: Seq[(Long, String, Array[String])] = {
    spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split("\\s+").filter(_.nonEmpty).map(_.toLowerCase)))
      .toSeq
  }

  private def round4(d: Double): BigDecimal =
    BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)

  /** Per-document exact nll_e4 under the corpus bigram LM — the integer
    * score perplexityBuckets cuts on (docs with <2 tokens have no bigrams
    * and are absent, as in the operator). */
  private lazy val bruteNllE4: Map[Long, Long] = {
    val docBigrams = corpus.map { case (id, _, t) =>
      id -> t.sliding(2).filter(_.length == 2).map(p => p(0) + " " + p(1)).toSeq
    }.filter(_._2.nonEmpty)
    val n2 = docBigrams.flatMap(_._2).groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    val n1 = n2.toSeq.groupBy(_._1.split(" ", 2)(0)).map { case (w, xs) => w -> xs.map(_._2).sum }
    val lp = n2.map { case (b, n) =>
      b -> round4(math.log(n.toDouble / n1(b.split(" ", 2)(0))))
    }
    docBigrams.map { case (id, bs) =>
      val sumLp = bs.map(lp).sum // exact 4-dp decimals: fold-order free
      id -> (-sumLp * 10000).toLongExact / bs.size
    }.toMap
  }

  // ---- CCNet perplexity buckets ------------------------------------------

  /** Spark `percentile` exact semantics: sort, index p·(n−1), linear
    * interpolation — then the operator's decimal(14,4) narrowing. */
  private def pct(sorted: IndexedSeq[Long], p: Double): Double = {
    val idx = p * (sorted.length - 1)
    val lo = math.floor(idx).toInt
    val hi = math.ceil(idx).toInt
    val v = sorted(lo) + (idx - lo) * (sorted(hi) - sorted(lo))
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("perplexity_buckets matches a brute-force CCNet tertile cut") {
    val byLang = corpus.filter(c => bruteNllE4.contains(c._1))
      .groupBy(_._2).map { case (l, ds) =>
        l -> ds.map(d => bruteNllE4(d._1)).sorted.toIndexedSeq
      }
    val expected = corpus.filter(c => bruteNllE4.contains(c._1)).map { case (id, lang, _) =>
      val s = byLang(lang)
      val (h, t) = (pct(s, Selection.HeadPct), pct(s, Selection.TailPct))
      val v = bruteNllE4(id)
      val bucket = if (v <= h) "head" else if (v <= t) "middle" else "tail"
      Seq[Any](id, lang, v, bucket)
    }.toSet
    val got = collectSet(Selection.perplexityBuckets(spark, dir))
    assert(got == expected)
    // and every language shows all three buckets at this SF
    val langsWithAll = got.groupBy(_(1)).filter(_._2.map(_(3)).size >= 3)
    assert(langsWithAll.nonEmpty)
  }

  // ---- DSIR --------------------------------------------------------------

  /** Test-side md5Long: first 15 hex digits of md5, base-16 → long. */
  private def md5Long15(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map("%02x".format(_)).mkString.take(15), 16)
  }

  private lazy val bruteDsir: Map[Long, (Long, Double)] = {
    val occ = corpus.flatMap { case (id, lang, t) =>
      t.map(tok => (id, lang, md5Long15(tok) % Selection.DsirBuckets))
    }
    val byB = occ.groupBy(_._3)
    val nrTot = occ.size.toLong
    val ntTot = occ.count(_._2 == Selection.DsirTargetLang).toLong
    val lr: Map[Long, BigDecimal] = byB.map { case (b, xs) =>
      val nRaw = xs.size.toLong
      val nTgt = xs.count(_._2 == Selection.DsirTargetLang).toLong
      b -> round4(
        math.log((nTgt + 1).toDouble / (ntTot + Selection.DsirBuckets)) -
          math.log((nRaw + 1).toDouble / (nrTot + Selection.DsirBuckets)))
    }
    occ.groupBy(_._1).map { case (id, xs) =>
      id -> (xs.size.toLong, xs.map(x => lr(x._3)).sum.toDouble)
    }
  }

  test("dsir_weights matches a brute-force hashed-unigram importance model") {
    val expected = bruteDsir.map { case (id, (n, llr)) => Seq[Any](id, n, llr) }.toSet
    assert(collectSet(Selection.dsirWeights(spark, dir)) == expected)
    // weights must discriminate: target-language docs should average higher
    val byLang = corpus.map(c => c._1 -> c._2).toMap
    val (tgt, rest) = bruteDsir.partition { case (id, _) => byLang(id) == Selection.DsirTargetLang }
    assert(tgt.nonEmpty && rest.nonEmpty)
    assert(tgt.values.map(_._2).sum / tgt.size > rest.values.map(_._2).sum / rest.size)
  }

  test("dsir_select is the exact top-k by weight with recovered ranks") {
    val expected = bruteDsir.toSeq
      .sortBy { case (id, (_, llr)) => (-llr, id) }
      .take(Selection.DsirTopK).zipWithIndex
      .map { case ((id, (n, llr)), i) => Seq[Any](id, n, llr, (i + 1).toLong) }
      .toSet
    assert(collectSet(Selection.dsirSelect(spark, dir)) == expected)
  }

  // ---- Kneser–Ney --------------------------------------------------------

  test("kn_bigram_top matches brute-force Kneser-Ney smoothing") {
    val bigrams = corpus.flatMap(_._3.sliding(2).filter(_.length == 2)
      .map(p => p(0) + " " + p(1)))
    val c2 = bigrams.groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    val c1 = c2.toSeq.groupBy(_._1.split(" ", 2)(0))
      .map { case (w, xs) => w -> (xs.map(_._2).sum, xs.size.toLong) }
    val cont = c2.toSeq.groupBy(_._1.split(" ", 2)(1))
      .map { case (w, xs) => w -> xs.size.toLong }
    val tTypes = c2.size.toDouble
    val pkn = c2.map { case (b, n) =>
      val Array(w1, w2) = b.split(" ", 2)
      val (n1, nfollow) = c1(w1)
      val p = math.max(n - Selection.KnDiscount, 0d) / n1 +
        (Selection.KnDiscount * nfollow / n1) * (cont(w2) / tTypes)
      (b, n, BigDecimal(p).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val expected = pkn.toSeq.sortBy { case (b, _, p) => (-p, b) }
      .take(Selection.KnTopN).zipWithIndex
      .map { case ((b, n, p), i) => Seq[Any](b, n, p, (i + 1).toLong) }
      .toSet
    assert(collectSet(Selection.knTop(2)(spark, dir)) == expected)
    // smoothing sanity: P_KN(w2|w1) over all observed w2 for one w1 is < 1
    val w1 = c2.keysIterator.next().split(" ", 2)(0)
    val mass = pkn.collect { case (b, _, p) if b.startsWith(w1 + " ") => p }.sum
    assert(mass < 1.0 + 1e-9)
  }

  test("kn_perplexity matches an independent in-memory KN scorer; " +
      "kn_buckets tertile-cuts it per language") {
    // the smoothed model, re-derived from scratch (no shared Spark code)
    val byDoc = corpus.map { case (id, _, t) =>
      id -> t.sliding(2).filter(_.length == 2).map(p => p(0) + " " + p(1)).toSeq
    }.filter(_._2.nonEmpty)
    val c2 = byDoc.flatMap(_._2).groupBy(identity)
      .map { case (b, xs) => b -> xs.size.toLong }
    val c1 = c2.toSeq.groupBy(_._1.split(" ", 2)(0))
      .map { case (w, xs) => w -> (xs.map(_._2).sum, xs.size.toLong) }
    val cont = c2.toSeq.groupBy(_._1.split(" ", 2)(1))
      .map { case (w, xs) => w -> xs.size.toLong }
    val tTypes = c2.size.toDouble
    val lp = c2.map { case (b, n) =>
      val Array(w1, w2) = b.split(" ", 2)
      val (n1, nfollow) = c1(w1)
      val p = math.max(n - Selection.KnDiscount, 0d) / n1 +
        (Selection.KnDiscount * nfollow / n1) * (cont(w2) / tTypes)
      val p6 = BigDecimal(p).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      // the scoring floor (Selection.KnPFloor): p6 can round to exactly 0
      b -> round4(math.log(math.max(p6, Selection.KnPFloor)))
    }
    val sumLp = byDoc.map { case (id, bs) => id -> bs.map(lp).sum }.toMap
    val expected = byDoc.map { case (id, bs) =>
      Seq[Any](id, bs.size.toLong, sumLp(id).toDouble)
    }.toSet
    assert(collectSet(Selection.knPerplexity(2)(spark, dir)) == expected)

    // tertile buckets over the KN nll, per language
    val langOf = corpus.map(c => c._1 -> c._2).toMap
    val nll = byDoc.map { case (id, bs) =>
      id -> (-sumLp(id) * 10000).toLongExact / bs.size
    }.toMap
    val thr = nll.toSeq.groupBy { case (id, _) => langOf(id) }
      .map { case (l, xs) =>
        val sorted = xs.map(_._2).sorted.toIndexedSeq
        l -> ((pct(sorted, Selection.HeadPct), pct(sorted, Selection.TailPct)))
      }
    val expB = nll.map { case (id, v) =>
      val (h, t) = thr(langOf(id))
      Seq[Any](id, langOf(id), v,
        if (v <= h) "head" else if (v <= t) "middle" else "tail")
    }.toSet
    assert(collectSet(Selection.knBuckets(2)(spark, dir)) == expB)
    // the smoothed score must actually differ from the MLE one somewhere —
    // otherwise this operator family would be redundant with lm_perplexity
    assert(nll.exists { case (id, v) => bruteNllE4.get(id).exists(_ != v) })
  }

  test("mink_prob matches a brute-force min-K% tail over the KN scores") {
    val byDoc = corpus.map { case (id, _, t) =>
      id -> t.sliding(2).filter(_.length == 2).map(p => p(0) + " " + p(1)).toSeq
    }.filter(_._2.nonEmpty)
    val c2 = byDoc.flatMap(_._2).groupBy(identity)
      .map { case (b, xs) => b -> xs.size.toLong }
    val c1 = c2.toSeq.groupBy(_._1.split(" ", 2)(0))
      .map { case (w, xs) => w -> (xs.map(_._2).sum, xs.size.toLong) }
    val cont = c2.toSeq.groupBy(_._1.split(" ", 2)(1))
      .map { case (w, xs) => w -> xs.size.toLong }
    val tTypes = c2.size.toDouble
    val nllE4 = c2.map { case (b, n) =>
      val Array(w1, w2) = b.split(" ", 2)
      val (n1c, nfollow) = c1(w1)
      val p = math.max(n - Selection.KnDiscount, 0d) / n1c +
        (Selection.KnDiscount * nfollow / n1c) * (cont(w2) / tTypes)
      val p6 = BigDecimal(p).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      b -> (round4(math.log(math.max(p6, Selection.KnPFloor))) * -10000)
        .toLongExact
    }
    val expected = byDoc.map { case (id, bs) =>
      val nlls = bs.map(nllE4).sorted
      val n = bs.size.toLong
      val k = math.max(n * Selection.MinkPct / 100, 1L)
      val sum = nlls.takeRight(k.toInt).sum
      Seq[Any](id, n, k, sum, sum / k)
    }.toSet
    assert(collectSet(Selection.minkProb(spark, dir)) == expected)
    // the K% tail mean strictly exceeds the overall mean for at least one
    // doc — the membership signal separates from plain perplexity
    val full = byDoc.map { case (id, bs) =>
      id -> bs.map(nllE4).sum / bs.size }.toMap
    assert(expected.exists(r =>
      r(4).asInstanceOf[Long] > full(r(0).asInstanceOf[Long])))
  }

  // ---- composed end product ----------------------------------------------

  test("selected_corpus composes the three signals exactly, keep-by-default semantics") {
    val buckets = Selection.perplexityBuckets(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val weights = Selection.dsirWeights(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val top = Selection.dsirSelect(spark, dir).collect()
      .map(_.getLong(0)).toSet
    val sem = graft.operators.Similarity.semdedup(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    val langs = corpus.map(c => c._1 -> c._2).toMap
    val expected = langs.keySet.map { id =>
      val bucket = buckets.getOrElse(id, "none")
      val keep = sem.getOrElse(id, true)
      Seq[Any](id, langs(id), bucket, weights.getOrElse(id, 0.0), top(id), keep,
        Selection.SelKeepBuckets.contains(bucket) && top(id) && keep)
    }
    val got = collectSet(Selection.selectedCorpus(spark, dir))
    assert(got == expected)
    // the verdict must discriminate at this SF: some kept, some cut, and
    // every cut is attributable to at least one failing signal
    val sel = got.count(_(6) == true)
    assert(sel > 0 && sel < got.size)
    got.filter(_(6) == false).foreach { r =>
      assert(!Selection.SelKeepBuckets.contains(r(2))
        || r(4) == false || r(5) == false)
    }
  }

  test("mix_temperature matches a brute-force sqrt-tempered rate table " +
      "and flattens the language distribution") {
    // brute-force the whole integer pipeline from raw per-lang counts
    val counts = corpus.groupBy(_._2).map { case (l, xs) => l -> xs.size.toLong }
    val nn = counts.values.sum
    val wi = counts.map { case (l, n) =>
      l -> (round4(math.sqrt(n.toDouble)) * 10000).toLongExact }
    val ww = wi.values.sum
    val rawBp = counts.map { case (l, n) => l -> n * 10000 / nn }
    val targetBp = wi.map { case (l, x) => l -> x * 10000 / ww }
    val rr = counts.keys.map { l =>
      l -> targetBp(l) * 100000000L / math.max(rawBp(l), 1L) }.toMap
    val maxrr = rr.values.max
    val keepBp = rr.map { case (l, x) => l -> math.min(10000L, x * 10000 / maxrr) }
    val kept = corpus.groupBy(_._2).map { case (l, xs) =>
      l -> xs.count { case (id, _, _) =>
        math.floorMod(md5Long15(s"$id\u0001mixtemp"), 10000L) < keepBp(l) }.toLong
    }
    val kt = kept.values.sum
    val expected = counts.keys.map { l =>
      Seq[Any](l, counts(l), rawBp(l), targetBp(l), keepBp(l), kept(l),
        kept(l) * 10000 / math.max(kt, 1L))
    }.toSet
    val got = collectSet(Selection.mixTemperature(spark, dir))
    assert(got == expected)
    // the mix must actually temper at this SF: the dominant language is
    // downsampled (keep_bp < 10000), the rarest keeps everything, and the
    // achieved shares sit between raw and target for the dominant lang
    val byLang = got.map(r => r(0).asInstanceOf[String] ->
      r.map(_.asInstanceOf[Any])).toMap
    val maxLang = counts.maxBy(_._2)._1
    val minLang = counts.minBy(_._2)._1
    def f(l: String, i: Int): Long = byLang(l)(i).asInstanceOf[Long]
    assert(f(maxLang, 4) < 10000L && f(minLang, 4) == 10000L)
    assert(f(maxLang, 6) < f(maxLang, 2))   // achieved below raw share
    assert(f(maxLang, 6) >= f(maxLang, 3) - 200) // and near the target
  }

  test("epoch_plan: exact temperature-weighted token budget on a " +
      "controlled two-source fixture") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-epoch").toString
    Seq(
      (1L, "a b c d e f g h", "en", "big"),
      (2L, "i j k l m n o p", "en", "big"),
      (3L, "q r s t", "en", "small"))
      .toDF("doc_id", "text", "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val got = Selection.epochPlan(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    // big: 16 tokens (wi = sqrt*1e4 = 40000), small: 4 (wi = 20000);
    // tt = 20, ww = 60000; budget = 1,000,000 tokens
    assert(Selection.EpochPlanBudgetTokens == 1000000L)
    assert(got("big") == ((2L, 16L, 8000L, 6666L, 666600L, 416625000L)))
    assert(got("small") == ((1L, 4L, 2000L, 3333L, 333300L, 833250000L)))
    // temperature compresses the mix toward uniform: the big source's
    // target share sits below its raw share, the small one's above
    assert(got("big")._4 < got("big")._3 && got("small")._4 > got("small")._3)
  }

  test("excess_loss is exactly the KN-minus-MLE per-doc nll delta") {
    // independent KN nll (re-derived as in the kn_perplexity test)
    val byDoc = corpus.map { case (id, _, t) =>
      id -> t.sliding(2).filter(_.length == 2).map(p => p(0) + " " + p(1)).toSeq
    }.filter(_._2.nonEmpty)
    val c2 = byDoc.flatMap(_._2).groupBy(identity)
      .map { case (b, xs) => b -> xs.size.toLong }
    val c1 = c2.toSeq.groupBy(_._1.split(" ", 2)(0))
      .map { case (w, xs) => w -> ((xs.map(_._2).sum, xs.size.toLong)) }
    val cont = c2.toSeq.groupBy(_._1.split(" ", 2)(1))
      .map { case (w, xs) => w -> xs.size.toLong }
    val tTypes = c2.size.toDouble
    val lp = c2.map { case (b, n) =>
      val Array(w1, w2) = b.split(" ", 2)
      val (n1, nfollow) = c1(w1)
      val pr = math.max(n - Selection.KnDiscount, 0d) / n1 +
        (Selection.KnDiscount * nfollow / n1) * (cont(w2) / tTypes)
      val p6 = BigDecimal(pr).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      b -> round4(math.log(math.max(p6, Selection.KnPFloor)))
    }
    val knE4 = byDoc.map { case (id, bs) =>
      id -> (-bs.map(lp).sum * 10000).toLongExact / bs.size
    }.toMap
    val expected = knE4.map { case (id, kn) =>
      Seq[Any](id, bruteNllE4(id), kn, kn - bruteNllE4(id))
    }.toSet
    assert(collectSet(Selection.excessLoss(spark, dir)) == expected)
    // smoothing must cost something somewhere: excess is non-zero for at
    // least one doc and the delta column is internally consistent
    assert(knE4.exists { case (id, kn) => kn != bruteNllE4(id) })
  }

  // ---- trigram Kneser–Ney -------------------------------------------------

  /** From-scratch interpolated trigram KN: every table re-derived from the
    * raw tokens with plain collections, each level the exact e6-grid
    * integer ⌊(max(4·num−3,0)·10⁶ + 3·w·lower_e6)/(4·den)⌋ the operator
    * documents (D = 3/4). */
  private lazy val bruteKn3: Map[String, (Long, Double)] = {
    def lvl(num: Long, w: Long, lowerE6: Long, den: Long): Long =
      (math.max(4L * num - 3L, 0L) * 1000000L + 3L * w * lowerE6) / (4L * den)
    val tri = corpus.flatMap(_._3.sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")))
    val c3 = tri.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val cctx = c3.toSeq.groupBy { case (t, _) =>
      val a = t.split(" ", 3); a(0) + " " + a(1) }
      .map { case (ctx, xs) => ctx -> ((xs.map(_._2).sum, xs.size.toLong)) }
    val contBg = c3.keysIterator.map(_.split(" ", 3)).toSeq
      .groupBy(a => (a(1), a(2))).map { case (k, xs) => k -> xs.size.toLong }
    val midTot = contBg.toSeq.groupBy(_._1._1)
      .map { case (w2, xs) => w2 -> xs.map(_._2).sum }
    val bigrams = corpus.flatMap(_._3.sliding(2).filter(_.length == 2)
      .map(p => p(0) + " " + p(1))).distinct
    val follow2 = bigrams.map(_.split(" ", 2)).groupBy(_(0))
      .map { case (w, xs) => w -> xs.size.toLong }
    val cont1 = bigrams.map(_.split(" ", 2)).groupBy(_(1))
      .map { case (w, xs) => w -> xs.size.toLong }
    val tTypes = bigrams.size.toLong
    c3.map { case (t, n) =>
      val a = t.split(" ", 3)
      val (nctx, nf3) = cctx(a(0) + " " + a(1))
      val pcE6 = 1000000L * cont1(a(2)) / tTypes
      val pmE6 = lvl(contBg((a(1), a(2))), follow2(a(1)), pcE6, midTot(a(1)))
      t -> ((n, lvl(n, nf3, pmE6, nctx).toDouble / 1000000d))
    }
  }

  test("kn3_trigram_top matches brute-force interpolated trigram KN") {
    val expected = bruteKn3.toSeq
      .sortBy { case (t, (_, p)) => (-p, t) }.take(Selection.KnTopN)
      .zipWithIndex
      .map { case ((t, (n, p)), i) => Seq[Any](t, n, p, (i + 1).toLong) }
      .toSet
    assert(collectSet(Selection.knTop(3)(spark, dir)) == expected)
    // smoothing sanity one order up: the probability mass P₃(·|ctx) over
    // the observed continuations of one context stays below 1
    val ctx = bruteKn3.keysIterator.next().split(" ", 3).take(2).mkString(" ")
    val mass = bruteKn3.collect {
      case (t, (_, p)) if t.startsWith(ctx + " ") => p }.sum
    assert(mass < 1.0 + 1e-9)
  }

  test("kn3_perplexity + kn3_buckets match the independent scorer") {
    val lp = bruteKn3.map { case (t, (_, p)) =>
      t -> round4(math.log(math.max(p, Selection.KnPFloor)))
    }
    val byDoc = corpus.map { case (id, _, t) =>
      id -> t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq
    }.filter(_._2.nonEmpty)
    val sumLp = byDoc.map { case (id, ts) => id -> ts.map(lp).sum }.toMap
    val expected = byDoc.map { case (id, ts) =>
      Seq[Any](id, ts.size.toLong, sumLp(id).toDouble)
    }.toSet
    assert(collectSet(Selection.knPerplexity(3)(spark, dir)) == expected)

    val langOf = corpus.map(c => c._1 -> c._2).toMap
    val nll = byDoc.map { case (id, ts) =>
      id -> (-sumLp(id) * 10000).toLongExact / ts.size
    }.toMap
    val thr = nll.toSeq.groupBy { case (id, _) => langOf(id) }
      .map { case (l, xs) =>
        val sorted = xs.map(_._2).sorted.toIndexedSeq
        l -> ((pct(sorted, Selection.HeadPct), pct(sorted, Selection.TailPct)))
      }
    val expB = nll.map { case (id, v) =>
      val (h, t) = thr(langOf(id))
      Seq[Any](id, langOf(id), v,
        if (v <= h) "head" else if (v <= t) "middle" else "tail")
    }.toSet
    assert(collectSet(Selection.knBuckets(3)(spark, dir)) == expB)
  }

  test("domain_reweight matches a from-scratch DoReMi closed form and " +
      "up-weights the hardest domain") {
    val srcOf = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // per-doc excess (KN − MLE nll_e4), re-derived from the two existing
    // brute-force models
    val byDoc = corpus.map { case (id, _, t) =>
      id -> t.sliding(2).filter(_.length == 2).map(p => p(0) + " " + p(1)).toSeq
    }.filter(_._2.nonEmpty)
    val c2 = byDoc.flatMap(_._2).groupBy(identity)
      .map { case (b, xs) => b -> xs.size.toLong }
    val c1 = c2.toSeq.groupBy(_._1.split(" ", 2)(0))
      .map { case (w, xs) => w -> ((xs.map(_._2).sum, xs.size.toLong)) }
    val cont = c2.toSeq.groupBy(_._1.split(" ", 2)(1))
      .map { case (w, xs) => w -> xs.size.toLong }
    val tTypes = c2.size.toDouble
    val lpKn = c2.map { case (b, n) =>
      val Array(w1, w2) = b.split(" ", 2)
      val (n1, nfollow) = c1(w1)
      val pr = math.max(n - Selection.KnDiscount, 0d) / n1 +
        (Selection.KnDiscount * nfollow / n1) * (cont(w2) / tTypes)
      val p6 = BigDecimal(pr).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
      b -> round4(math.log(math.max(p6, Selection.KnPFloor)))
    }
    val excess = byDoc.map { case (id, bs) =>
      id -> ((-bs.map(lpKn).sum * 10000).toLongExact / bs.size
        - bruteNllE4(id))
    }
    val nToks = corpus.groupBy(c => srcOf(c._1)).view
      .mapValues(_.map(_._3.length.toLong).sum).toMap
    val exsBySrc = excess.groupBy { case (id, _) => srcOf(id) }
      .map { case (s, xs) => s -> ((xs.size.toLong, xs.map(_._2).sum)) }
    val total = nToks.values.sum
    def pin(d: Double, s: Int) =
      BigDecimal(d).setScale(s, BigDecimal.RoundingMode.HALF_UP)
    val wRaw = exsBySrc.map { case (s, (n, sumE)) =>
      val boost = pin(math.exp((sumE.toDouble / n) / 10000.0), 6).toDouble
      s -> ((boost, pin((nToks(s).toDouble / total) * boost, 8)))
    }
    val wTotal = wRaw.values.map(_._2).sum
    val expected = exsBySrc.map { case (s, (n, sumE)) =>
      val (boost, raw) = wRaw(s)
      Seq[Any](s, nToks(s), n, sumE, nToks(s) * 10000L / total, boost,
        pin(raw.toDouble / wTotal.toDouble, 6).toDouble)
    }.toSet
    val got = collectSet(Selection.domainReweight(spark, dir))
    assert(got == expected)
    // direction: the max-mean-excess source's weight beats its baseline
    // share (in bp), i.e. the reweight actually up-weights hard domains
    val hardest = exsBySrc.maxBy { case (_, (n, sumE)) => sumE.toDouble / n }._1
    val row = got.find(_.head == hardest).get
    assert(row(6).asInstanceOf[Double] * 10000
      > row(4).asInstanceOf[Long].toDouble)
  }

  test("domain_reweight keeps an UNSCORED source at neutral boost instead " +
      "of silently dropping it (review r12)") {
    import spark.implicits._
    // source s2's only doc is single-token: no bigrams -> no excess rows
    val d = java.nio.file.Files.createTempDirectory("graft-drw").toString
    Seq((1L, "alpha beta alpha beta gamma", "s1"),
        (2L, "beta gamma alpha beta alpha", "s1"),
        (3L, "solo", "s2"))
      .toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val rows = Selection.domainReweight(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet == Set("s1", "s2"), "unscored source vanished")
    val s2 = rows("s2")
    assert(s2.getLong(2) == 0L && s2.getLong(3) == 0L) // n_scored, excess
    assert(s2.getDouble(5) == 1.0, "neutral boost must be exp(0) = 1")
    // and its token joins the denominator: shares sum to ~10000 bp
    val shareSum = rows.values.map(_.getLong(4)).sum
    assert(shareSum >= 9998L && shareSum <= 10000L)
  }

  // ---- 4-gram Kneser–Ney ---------------------------------------------------

  /** From-scratch interpolated 4-gram KN: every table re-derived from the
    * raw tokens with plain collections, each level the exact e6-grid
    * integer ⌊(max(4·num−3,0)·10⁶ + 3·w·lower_e6)/(4·den)⌋ the operator
    * documents (D = 3/4). */
  private lazy val bruteKn4: Map[String, (Long, Double)] = {
    def lvl(num: Long, w: Long, lowerE6: Long, den: Long): Long =
      (math.max(4L * num - 3L, 0L) * 1000000L + 3L * w * lowerE6) / (4L * den)
    val four = corpus.flatMap(_._3.sliding(4).filter(_.length == 4)
      .map(_.mkString(" ")))
    val c4 = four.groupBy(identity).map { case (f, xs) => f -> xs.size.toLong }
    val cctx4 = c4.toSeq.groupBy { case (f, _) =>
      f.split(" ", 4).take(3).mkString(" ") }
      .map { case (ctx, xs) => ctx -> ((xs.map(_._2).sum, xs.size.toLong)) }
    val cont3 = c4.keysIterator.map(_.split(" ", 4)).toSeq
      .groupBy(a => (a(1), a(2), a(3))).map { case (k, xs) => k -> xs.size.toLong }
    val midTot3 = cont3.toSeq.groupBy { case ((w2, w3, _), _) => (w2, w3) }
      .map { case (k, xs) => k -> xs.map(_._2).sum }
    val triTypes = corpus.flatMap(_._3.sliding(3).filter(_.length == 3)
      .map(_.mkString(" "))).distinct.map(_.split(" ", 3))
    val fol3 = triTypes.groupBy(a => (a(0), a(1)))
      .map { case (k, xs) => k -> xs.size.toLong }
    val contBg = triTypes.groupBy(a => (a(1), a(2)))
      .map { case (k, xs) => k -> xs.size.toLong }
    val midTot2 = contBg.toSeq.groupBy(_._1._1)
      .map { case (w3, xs) => w3 -> xs.map(_._2).sum }
    val bigrams = corpus.flatMap(_._3.sliding(2).filter(_.length == 2)
      .map(p => p(0) + " " + p(1))).distinct
    val follow2 = bigrams.map(_.split(" ", 2)).groupBy(_(0))
      .map { case (w, xs) => w -> xs.size.toLong }
    val cont1 = bigrams.map(_.split(" ", 2)).groupBy(_(1))
      .map { case (w, xs) => w -> xs.size.toLong }
    val tTypes = bigrams.size.toLong
    c4.map { case (f, n) =>
      val a = f.split(" ", 4)
      val (nctx, nf4) = cctx4(a.take(3).mkString(" "))
      val pcE6 = 1000000L * cont1(a(3)) / tTypes
      val pm2E6 = lvl(contBg((a(2), a(3))), follow2(a(2)), pcE6, midTot2(a(2)))
      val pm3E6 =
        lvl(cont3((a(1), a(2), a(3))), fol3((a(1), a(2))), pm2E6,
          midTot3((a(1), a(2))))
      f -> ((n, lvl(n, nf4, pm3E6, nctx).toDouble / 1000000d))
    }
  }

  test("kn4_fourgram_top matches brute-force interpolated 4-gram KN") {
    val expected = bruteKn4.toSeq
      .sortBy { case (f, (_, p)) => (-p, f) }.take(Selection.KnTopN)
      .zipWithIndex
      .map { case ((f, (n, p)), i) => Seq[Any](f, n, p, (i + 1).toLong) }
      .toSet
    assert(collectSet(Selection.knTop(4)(spark, dir)) == expected)
    // conditional mass over the observed continuations of one context <1
    val ctx = bruteKn4.keysIterator.next().split(" ", 4).take(3).mkString(" ")
    val mass = bruteKn4.collect {
      case (f, (_, p)) if f.startsWith(ctx + " ") => p }.sum
    assert(mass < 1.0 + 1e-9)
  }

  test("kn4_perplexity + kn4_buckets match the independent scorer") {
    val lp = bruteKn4.map { case (f, (_, p)) =>
      f -> round4(math.log(math.max(p, Selection.KnPFloor)))
    }
    val byDoc = corpus.map { case (id, _, t) =>
      id -> t.sliding(4).filter(_.length == 4).map(_.mkString(" ")).toSeq
    }.filter(_._2.nonEmpty)
    val sumLp = byDoc.map { case (id, fs) => id -> fs.map(lp).sum }.toMap
    val expected = byDoc.map { case (id, fs) =>
      Seq[Any](id, fs.size.toLong, sumLp(id).toDouble)
    }.toSet
    assert(collectSet(Selection.knPerplexity(4)(spark, dir)) == expected)

    val langOf = corpus.map(c => c._1 -> c._2).toMap
    val nll = byDoc.map { case (id, fs) =>
      id -> (-sumLp(id) * 10000).toLongExact / fs.size
    }.toMap
    val thr = nll.toSeq.groupBy { case (id, _) => langOf(id) }
      .map { case (l, xs) =>
        val sorted = xs.map(_._2).sorted.toIndexedSeq
        l -> ((pct(sorted, Selection.HeadPct), pct(sorted, Selection.TailPct)))
      }
    val expB = nll.map { case (id, v) =>
      val (h, t) = thr(langOf(id))
      Seq[Any](id, langOf(id), v,
        if (v <= h) "head" else if (v <= t) "middle" else "tail")
    }.toSet
    assert(collectSet(Selection.knBuckets(4)(spark, dir)) == expB)
  }

  test("kn4 discriminates where the trigram model cannot: deterministic " +
      "4-gram structure under ambiguous trigram context") {
    // 10×"a x b c" + 10×"d x b e": after "x b", the trigram model splits
    // mass between c and e (~1/2 each); the 4-gram context "a x b" is
    // deterministic. The probe doc must score a strictly lower mean nll
    // under the 4-gram model.
    val d = java.nio.file.Files.createTempDirectory("graft-kn4disc").toString
    import spark.implicits._
    val rows = (1L to 10L).map(i => (i, "a x b c")) ++
      (11L to 20L).map(i => (i, "d x b e")) :+ (99L, "a x b c")
    rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'s' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val r4 = Selection.knPerplexity(4)(spark, d).where("doc_id = 99").collect()(0)
    val r3 = Selection.knPerplexity(3)(spark, d).where("doc_id = 99").collect()(0)
    val nll4 = -r4.getAs[Double]("sum_lp") / r4.getAs[Long]("n_fourgrams")
    val nll3 = -r3.getAs[Double]("sum_lp") / r3.getAs[Long]("n_trigrams")
    assert(nll4 < nll3,
      s"4-gram mean nll $nll4 should beat trigram $nll3 on this corpus")
  }

  // ---- 5-gram Kneser–Ney ---------------------------------------------------

  /** From-scratch interpolated 5-gram KN on the exact e6 grid. */
  private lazy val bruteKn5: Map[String, (Long, Double)] = {
    def lvl(num: Long, w: Long, lowerE6: Long, den: Long): Long =
      (math.max(4L * num - 3L, 0L) * 1000000L + 3L * w * lowerE6) / (4L * den)
    val five = corpus.flatMap(_._3.sliding(5).filter(_.length == 5)
      .map(_.mkString(" ")))
    val c5 = five.groupBy(identity).map { case (f, xs) => f -> xs.size.toLong }
    val cctx5 = c5.toSeq.groupBy { case (f, _) =>
      f.split(" ", 5).take(4).mkString(" ") }
      .map { case (ctx, xs) => ctx -> ((xs.map(_._2).sum, xs.size.toLong)) }
    val cont4 = c5.keysIterator.map(_.split(" ", 5)).toSeq
      .groupBy(a => (a(1), a(2), a(3), a(4)))
      .map { case (k, xs) => k -> xs.size.toLong }
    val midTot4 = cont4.toSeq.groupBy { case ((w2, w3, w4, _), _) =>
      (w2, w3, w4) }.map { case (k, xs) => k -> xs.map(_._2).sum }
    val fourTypes = corpus.flatMap(_._3.sliding(4).filter(_.length == 4)
      .map(_.mkString(" "))).distinct.map(_.split(" ", 4))
    val fol4 = fourTypes.groupBy(a => (a(0), a(1), a(2)))
      .map { case (k, xs) => k -> xs.size.toLong }
    val cont3p = fourTypes.groupBy(a => (a(1), a(2), a(3)))
      .map { case (k, xs) => k -> xs.size.toLong }
    val midTot3p = cont3p.toSeq.groupBy { case ((w3, w4, _), _) => (w3, w4) }
      .map { case (k, xs) => k -> xs.map(_._2).sum }
    val triTypes = corpus.flatMap(_._3.sliding(3).filter(_.length == 3)
      .map(_.mkString(" "))).distinct.map(_.split(" ", 3))
    val fol3 = triTypes.groupBy(a => (a(0), a(1)))
      .map { case (k, xs) => k -> xs.size.toLong }
    val contBg = triTypes.groupBy(a => (a(1), a(2)))
      .map { case (k, xs) => k -> xs.size.toLong }
    val midTot2 = contBg.toSeq.groupBy(_._1._1)
      .map { case (w4, xs) => w4 -> xs.map(_._2).sum }
    val bigrams = corpus.flatMap(_._3.sliding(2).filter(_.length == 2)
      .map(p => p(0) + " " + p(1))).distinct
    val follow2 = bigrams.map(_.split(" ", 2)).groupBy(_(0))
      .map { case (w, xs) => w -> xs.size.toLong }
    val cont1 = bigrams.map(_.split(" ", 2)).groupBy(_(1))
      .map { case (w, xs) => w -> xs.size.toLong }
    val tTypes = bigrams.size.toLong
    c5.map { case (f, n) =>
      val a = f.split(" ", 5)
      val (nctx, nf5) = cctx5(a.take(4).mkString(" "))
      val pc = 1000000L * cont1(a(4)) / tTypes
      val p2 = lvl(contBg((a(3), a(4))), follow2(a(3)), pc, midTot2(a(3)))
      val p3 = lvl(cont3p((a(2), a(3), a(4))), fol3((a(2), a(3))), p2,
        midTot3p((a(2), a(3))))
      val p4 = lvl(cont4((a(1), a(2), a(3), a(4))), fol4((a(1), a(2), a(3))),
        p3, midTot4((a(1), a(2), a(3))))
      f -> ((n, lvl(n, nf5, p4, nctx).toDouble / 1000000d))
    }
  }

  test("kn5_fivegram_top matches brute-force interpolated 5-gram KN") {
    val expected = bruteKn5.toSeq
      .sortBy { case (f, (_, p)) => (-p, f) }.take(Selection.KnTopN)
      .zipWithIndex
      .map { case ((f, (n, p)), i) => Seq[Any](f, n, p, (i + 1).toLong) }
      .toSet
    assert(collectSet(Selection.knTop(5)(spark, dir)) == expected)
    val ctx = bruteKn5.keysIterator.next().split(" ", 5).take(4).mkString(" ")
    val mass = bruteKn5.collect {
      case (f, (_, p)) if f.startsWith(ctx + " ") => p }.sum
    assert(mass < 1.0 + 1e-9)
  }

  test("kn5_perplexity + kn5_buckets match the independent scorer") {
    val lp = bruteKn5.map { case (f, (_, p)) =>
      f -> round4(math.log(math.max(p, Selection.KnPFloor)))
    }
    val byDoc = corpus.map { case (id, _, t) =>
      id -> t.sliding(5).filter(_.length == 5).map(_.mkString(" ")).toSeq
    }.filter(_._2.nonEmpty)
    val sumLp = byDoc.map { case (id, fs) => id -> fs.map(lp).sum }.toMap
    val expected = byDoc.map { case (id, fs) =>
      Seq[Any](id, fs.size.toLong, sumLp(id).toDouble)
    }.toSet
    assert(collectSet(Selection.knPerplexity(5)(spark, dir)) == expected)

    val langOf = corpus.map(c => c._1 -> c._2).toMap
    val nll = byDoc.map { case (id, fs) =>
      id -> (-sumLp(id) * 10000).toLongExact / fs.size
    }.toMap
    val thr = nll.toSeq.groupBy { case (id, _) => langOf(id) }
      .map { case (l, xs) =>
        val sorted = xs.map(_._2).sorted.toIndexedSeq
        l -> ((pct(sorted, Selection.HeadPct), pct(sorted, Selection.TailPct)))
      }
    val expB = nll.map { case (id, v) =>
      val (h, t) = thr(langOf(id))
      Seq[Any](id, langOf(id), v,
        if (v <= h) "head" else if (v <= t) "middle" else "tail")
    }.toSet
    assert(collectSet(Selection.knBuckets(5)(spark, dir)) == expB)
  }

  test("kn5 discriminates where the 4-gram model cannot: deterministic " +
      "5-gram structure under ambiguous 4-gram context") {
    // 10×"a p q r c" + 10×"d p q r e": after "p q r", the 4-gram model
    // splits mass between c and e; the 5-gram context "a p q r" is
    // deterministic.
    val d = java.nio.file.Files.createTempDirectory("graft-kn5disc").toString
    import spark.implicits._
    val rows = (1L to 10L).map(i => (i, "a p q r c")) ++
      (11L to 20L).map(i => (i, "d p q r e")) :+ (99L, "a p q r c")
    rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'s' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val r5 = Selection.knPerplexity(5)(spark, d).where("doc_id = 99").collect()(0)
    val r4 = Selection.knPerplexity(4)(spark, d).where("doc_id = 99").collect()(0)
    val nll5 = -r5.getAs[Double]("sum_lp") / r5.getAs[Long]("n_fivegrams")
    val nll4 = -r4.getAs[Double]("sum_lp") / r4.getAs[Long]("n_fourgrams")
    assert(nll5 < nll4,
      s"5-gram mean nll $nll5 should beat 4-gram $nll4 on this corpus")
  }

  test("kn3 discriminates where the bigram model cannot: deterministic " +
      "trigram structure under ambiguous bigram context") {
    // 10×"a b c" + 10×"d b e": after "b", the bigram model splits mass
    // between c and e (~1/2 each); the trigram context "a b" is
    // deterministic. The probe doc must score a strictly lower mean nll
    // under the trigram model.
    val d = java.nio.file.Files.createTempDirectory("graft-kn3disc").toString
    import spark.implicits._
    val rows = (1L to 10L).map(i => (i, "a b c")) ++
      (11L to 20L).map(i => (i, "d b e")) :+ (99L, "a b c")
    rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'s' AS source",
        "CAST(length(text) AS BIGINT) AS n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    val r3 = Selection.knPerplexity(3)(spark, d).where("doc_id = 99").collect()(0)
    val r2 = Selection.knPerplexity(2)(spark, d).where("doc_id = 99").collect()(0)
    val nll3 = -r3.getAs[Double]("sum_lp") / r3.getAs[Long]("n_trigrams")
    val nll2 = -r2.getAs[Double]("sum_lp") / r2.getAs[Long]("n_bigrams")
    assert(nll3 < nll2,
      s"trigram mean nll $nll3 should beat bigram $nll2 on this corpus")
  }

  test("the KN keys and mink_prob keep their output column names and types") {
    def top(g: String, p: String) =
      Seq(g -> "string", "n" -> "bigint", p -> "double", "rk" -> "bigint")
    def ppl(n: String) =
      Seq("doc_id" -> "bigint", n -> "bigint", "sum_lp" -> "double")
    val buckets = Seq("doc_id" -> "bigint", "lang" -> "string",
      "nll_e4" -> "bigint", "bucket" -> "string")
    val expected = Map(
      "kn_bigram_top" -> top("bigram", "p_kn"),
      "kn_perplexity" -> ppl("n_bigrams"),
      "kn_buckets" -> buckets,
      "kn3_trigram_top" -> top("trigram", "p_kn3"),
      "kn3_perplexity" -> ppl("n_trigrams"),
      "kn3_buckets" -> buckets,
      "kn4_fourgram_top" -> top("fourgram", "p_kn4"),
      "kn4_perplexity" -> ppl("n_fourgrams"),
      "kn4_buckets" -> buckets,
      "kn5_fivegram_top" -> top("fivegram", "p_kn5"),
      "kn5_perplexity" -> ppl("n_fivegrams"),
      "kn5_buckets" -> buckets,
      "mink_prob" -> Seq("doc_id" -> "bigint", "n_bigrams" -> "bigint",
        "k" -> "bigint", "mink_sum_nll_e4" -> "bigint",
        "mink_mean_nll_e4" -> "bigint"))
    expected.foreach { case (key, cols) =>
      val got = SparkEntry.queries(key)(spark, dir).schema.fields
        .map(f => f.name -> f.dataType.simpleString).toSeq
      assert(got == cols, s"$key output schema changed")
    }
  }
}
