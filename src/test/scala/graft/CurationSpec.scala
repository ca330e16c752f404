package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sim.RandomProjection
import graft.text.{Blocklist, SegmentDedup}

/** Round-8 curation additions: corpus-wide repeated-segment excision,
  * blocklist screening (literal ≡ data-form), and JL random projection. */
class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("segment dedup: repeated segments excised from every doc, tail " +
    "remainder is its own segment, empty docs round-trip") {
    val docs = Seq(
      (1L, "a b c d e"),   // segs(2): [a b][c d][e]
      (2L, "a b x y"),     // segs(2): [a b][x y] — 'a b' repeats
      (3L, "")
    ).toDF("doc_id", "text")
    val out = SegmentDedup.dedup(docs, "doc_id", "text",
      segWords = 2, maxOccurrences = 1)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == (3L, 1L, "c d e"))
    assert(out(2L) == (2L, 1L, "x y"))
    assert(out(3L) == (0L, 0L, ""))
  }

  test("segment dedup: a doc whose every segment is boilerplate " +
    "empties; maxOccurrences governs the threshold") {
    val docs = Seq(
      (1L, "p q p q"), (2L, "p q p q"), (3L, "p q z z")
    ).toDF("doc_id", "text")
    // 'p q' occurs 5 times corpus-wide; with maxOccurrences = 5 it
    // survives, with 2 it dies everywhere
    val loose = SegmentDedup.dedup(docs, "doc_id", "text", 2, 5)
      .where(col("doc_id") === 1L).head()
    assert(loose.getLong(2) == 0L && loose.getString(3) == "p q p q")
    val strict = SegmentDedup.dedup(docs, "doc_id", "text", 2, 2)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(strict(1L) == "" && strict(2L) == "" && strict(3L) == "z z")
  }

  test("blocklist: literal and data-form paths agree, occurrence " +
    "counts (not distinct), clean and empty docs keep") {
    val docs = Seq(
      (1L, "slow slow fast"), (2L, "fast clean text"), (3L, "")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getBoolean(2))).toSet
    val lit = Blocklist.screen(docs, "doc_id", "text", Seq("slow", "dup"))
    val data = Blocklist.screenDf(docs, "doc_id", "text",
      Seq("slow", "dup").toDF("term"))
    assert(rows(lit) == rows(data))
    assert(rows(lit) ==
      Set((1L, 2L, false), (2L, 0L, true), (3L, 0L, true)))
  }

  test("rate sampling: rate 1 keeps all, rate 0 drops all, lower rates " +
    "keep SUBSETS of higher ones (same deterministic draw), unlisted " +
    "strata take the default") {
    import graft.text.CorpusSplit
    val docs = (0L until 200L).map(i =>
      (i, if (i % 2 == 0) "a" else "b")).toDF("doc_id", "src")
    def kept(rates: Map[String, Double], dflt: Double = 1.0) =
      CorpusSplit.sampleByRate(docs, "doc_id", "src", rates, dflt)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept(Map("a" -> 1.0, "b" -> 1.0)).size == 200)
    assert(kept(Map("a" -> 0.0, "b" -> 0.0)).isEmpty)
    val half = kept(Map("a" -> 0.5, "b" -> 0.5))
    val quarter = kept(Map("a" -> 0.25, "b" -> 0.25))
    assert(quarter.subsetOf(half),
      "same md5 draw: lower rate must nest inside higher rate")
    assert(half.size > 60 && half.size < 140, s"~uniform: ${half.size}")
    // unlisted stratum 'b' takes defaultRate
    assert(kept(Map("a" -> 1.0), dflt = 0.0) ==
      (0L until 200L by 2).toSet)
    // determinism
    assert(kept(Map("a" -> 0.3, "b" -> 0.7)) ==
      kept(Map("a" -> 0.3, "b" -> 0.7)))
  }

  test("interleave: per-shard positions are contiguous from 1, every " +
    "doc appears exactly once, order is md5-derived not id order") {
    import graft.text.CorpusSplit
    val docs = (0L until 100L).map(i => Tuple1(i)).toDF("doc_id")
    val out = CorpusSplit.interleave(docs, "doc_id", nShards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSet == (0L until 100L).toSet)
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        "positions must be 1..n within each shard")
    }
    // a uniform hash order essentially never equals id order
    val shard0 = out.filter(_._2 == 0L).sortBy(_._3).map(_._1)
    assert(shard0 != shard0.sorted, "interleave must actually shuffle")
  }

  test("source KL: hand-computed two-source divergence; identical " +
    "distributions give zero") {
    import graft.text.SourceKl
    val docs = Seq((1L, "a", "x x y"), (2L, "b", "x y"))
      .toDF("doc_id", "source", "text")
    val out = SourceKl.unigramKl(docs, "source", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    def t(p: Double, q: Double) = p * math.log(p / q)
    val klA = t(2.0 / 3, 3.0 / 5) + t(1.0 / 3, 2.0 / 5)
    val klB = t(1.0 / 2, 3.0 / 5) + t(1.0 / 2, 2.0 / 5)
    assert(out("a")._1 == 3L && out("a")._2 == 2L)
    assert(math.abs(out("a")._3 - klA) < 1e-12)
    assert(math.abs(out("b")._3 - klB) < 1e-12)
    val same = Seq((1L, "a", "x y z"), (2L, "b", "x y z"))
      .toDF("doc_id", "source", "text")
    val zero = SourceKl.unigramKl(same, "source", "text")
      .collect().map(_.getDouble(3))
    assert(zero.forall(v => math.abs(v) < 1e-15))
  }

  test("jl projection: basis vectors read the matrix exactly; pairwise " +
    "squared distances are preserved within the JL band at k = 16") {
    val dim = 64; val k = 16
    val m = RandomProjection.matrix(k, dim)
    // e_c projects to column c of the matrix, bit for bit
    val basis = (0 until 4).map(c =>
      (c.toLong, Array.tabulate(dim)(d => if (d == c) 1.0 else 0.0)))
      .toDF("vec_id", "v")
    val pb = RandomProjection.project(basis, "vec_id", "v", k, dim)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    for (c <- 0 until 4; r <- 0 until k)
      assert(pb(c.toLong)(r) == m(r)(c))
    // distance preservation: random vectors, ratio of projected to
    // original squared distance stays in a loose (k = 16) band and
    // centers near 1
    val rnd = new scala.util.Random(11)
    val vecs = (0 until 20).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
    val proj = RandomProjection.project(
      vecs.toDF("vec_id", "v"), "vec_id", "v", k, dim)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val ratios = for {
      i <- vecs.indices; j <- vecs.indices if i < j
    } yield d2(proj(i.toLong), proj(j.toLong)) /
      d2(vecs(i)._2.toSeq, vecs(j)._2.toSeq)
    assert(ratios.forall(r => r > 0.2 && r < 2.5),
      s"distortion outside the loose JL band: ${ratios.min}..${ratios.max}")
    val mean = ratios.sum / ratios.size
    assert(mean > 0.75 && mean < 1.25, s"mean distortion $mean")
  }

  test("domain cap: topk_by keeps the k best (score DESC, id ASC) per " +
    "group, agrees with the window mirror, and merges across partitions") {
    import graft.text.DomainCap
    val rnd = new scala.util.Random(7)
    val rows = (0 until 500).map(i =>
      (i.toLong, s"g${i % 5}", rnd.nextInt(40).toLong))
    // 8 partitions so partial buffers genuinely merge; scores collide
    // heavily (40 distinct values per ~100-row group) so the id ASC
    // tiebreak is doing real work
    val df = spark.createDataFrame(rows).toDF("id", "g", "s")
      .repartition(8)
    val got = DomainCap.cap(df, "g", col("s"), col("id"), k = 7)
      .collect().map(r => (r.getString(0), r.getInt(3)) ->
        (r.getLong(1), r.getDouble(2))).toMap
    // window mirror on the driver
    val want = rows.groupBy(_._2).flatMap { case (g, rs) =>
      rs.sortBy { case (id, _, s) => (-s, id) }.take(7).zipWithIndex
        .map { case ((id, _, s), i) => (g, i + 1) -> (id, s.toDouble) }
    }
    assert(got.size == 35)
    assert(got == want)
    // SQL surface
    GraftFunctions.register(spark)
    df.createOrReplaceTempView("capfix")
    val viaSql = spark.sql(
      "SELECT g, topk_by(CAST(s AS DOUBLE), id, 3) AS t FROM capfix GROUP BY g")
      .collect().map(r => r.getString(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).map(e =>
          (e.getDouble(0), e.getLong(1)))).toMap
    for ((g, ps) <- viaSql)
      assert(ps == want.collect { case ((`g`, rk), (id, s)) if rk <= 3 =>
        (rk, (s, id)) }.toSeq.sortBy(_._1).map(_._2),
        s"sql path differs for $g")
    // fewer rows than k: the whole group comes back, ordered
    val tiny = Seq((1L, "a", 5L), (2L, "a", 9L)).toDF("id", "g", "s")
    val t = DomainCap.cap(tiny, "g", col("s"), col("id"), 10)
      .orderBy(col("rk")).collect()
    assert(t.map(_.getLong(1)).toSeq == Seq(2L, 1L))
  }

  test("dsir: target-everything gives zero log-weights, target-affine " +
    "docs outrank off-target ones, n_feats counts unigrams + bigrams") {
    import graft.text.Dsir
    val docs = Seq(
      (1L, "alpha beta alpha beta alpha", "good"),
      (2L, "alpha beta gamma alpha beta", "good"),
      (3L, "zeta eta theta zeta eta", "bad"),
      (4L, "zeta eta theta theta zeta", "bad"),
      (5L, "alpha beta alpha zeta eta", "mixed")
    ).toDF("doc_id", "text", "src")
    // degenerate fit: target == raw → every smoothed ratio is exactly 1
    val zero = Dsir.importanceWeights(docs, "doc_id", "text", lit(true))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // "alpha beta ..." 5 words → 5 unigrams + 4 bigrams
    assert(zero.values.forall(_._1 == 9L))
    assert(zero.values.forall(_._2 == 0.0))
    // real fit: docs made of target tokens score above the mixed doc,
    // which scores above the off-target docs
    val w = Dsir.importanceWeights(docs, "doc_id", "text",
        col("src") === "good")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(w(1L) > w(5L) && w(2L) > w(5L), s"target docs must outrank: $w")
    assert(w(5L) > w(3L) && w(5L) > w(4L), s"mixed must outrank bad: $w")
    // resample: keep is (key >= cut) for a cut at the right quantile —
    // with 5 docs and keepFrac 0.4, at most 2-3 survive (ties at the
    // rounded cut can add one) and reruns are bit-identical
    val r1 = Dsir.resample(docs, "doc_id", "text",
        col("src") === "good", keepFrac = 0.4)
      .collect().map(r => r.getLong(0) -> (r.getDouble(3), r.getBoolean(4)))
      .toMap
    val kept = r1.count(_._2._2)
    assert(kept >= 1 && kept <= 3, s"kept $kept of 5 at frac 0.4")
    val r2 = Dsir.resample(docs, "doc_id", "text",
        col("src") === "good", keepFrac = 0.4)
      .collect().map(r => r.getLong(0) -> (r.getDouble(3), r.getBoolean(4)))
      .toMap
    assert(r1 == r2)
  }

  test("text normalize: decomposed and precomposed forms clean to the " +
    "same bytes, NFC leaves compatibility variants alone, control and " +
    "whitespace runs collapse, and the result is idempotent") {
    import graft.text.TextNormalize
    val docs = Seq(
      (1L, "caf\u00e9 du monde"),            // precomposed U+00E9
      (2L, "cafe\u0301 du\u000B monde"),     // decomposed e + U+0301, VT
      (3L, "  \tcaf\u00e9   du \u0007monde "), // runs, BEL, edges
      (4L, "\ufb01ne \uff21 day"),           // ﬁ ligature + fullwidth A
      (5L, "")
    ).toDF("doc_id", "text")
    val out = TextNormalize(docs, "text")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "caf\u00e9 du monde")
    assert(out(2L) == out(1L), "NFC must unify the two encodings")
    assert(out(3L) == out(1L), "control/runs/edges must collapse away")
    // NFC != NFKC: compatibility characters survive
    assert(out(4L) == "\ufb01ne \uff21 day")
    assert(out(5L) == "")
    // idempotence: cleaning the cleaned column is the identity
    val twice = TextNormalize(
      TextNormalize(docs, "text").select(col("doc_id"),
        col("clean_text").as("text")), "text")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(twice == out)
    // the downstream effect that motivates the operator: exact dedup
    // unifies the three surface forms once text is canonicalized
    val fps = TextNormalize(docs, "text")
      .where(col("doc_id") <= 3)
      .select(md5(col("clean_text"))).distinct().count()
    assert(fps == 1L)
  }

  test("collocations: hand-computed PMI on a fixed corpus, minCount " +
    "suppresses rare pairs, rank is (pmi DESC, bigram)") {
    import graft.text.Collocations
    // corpus: "new york" always adjacent (3×), "of the" frequent but
    // independent-ish, "rare pair" once
    val docs = Seq(
      (1L, "new york is big"),
      (2L, "new york of the north"),
      (3L, "the best of new york"),
      (4L, "rare pair of the day")
    ).toDF("doc_id", "text")
    val out = Collocations.topPmi(docs, "text", minCount = 2, k = 10)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getInt(5))).toMap
    // N = 19 tokens; c(new)=3, c(york)=3, c12(new york)=3
    val n = 19.0
    assert(out.contains("new york"))
    val (c12, c1, c2, pmi, rank) = out("new york")
    assert((c12, c1, c2) == (3L, 3L, 3L))
    assert(math.abs(pmi - math.log(3 * n / 9.0)) < 1e-12)
    assert(rank == 1, "the always-adjacent pair must top the ranking")
    // "rare pair" occurs once: below minCount, excluded
    assert(!out.contains("rare pair"))
    // every surviving bigram respects minCount, ranks are 1..size
    assert(out.values.forall(_._1 >= 2))
    assert(out.values.map(_._5).toSeq.sorted == (1 to out.size).toSeq)
  }

  test("hashing vectorizer: signed bucket sums match a driver md5 " +
    "mirror, repeats accumulate, empty docs are zero, l2 normalizes") {
    import graft.text.HashingVectorizer
    val dim = 8
    def h(t: String): (Int, Double) = {
      val m = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val b = (java.lang.Long.parseLong(m.substring(0, 13), 16) % dim).toInt
      val s = (java.lang.Long.parseLong(m.substring(13, 14), 16) % 2) * 2 - 1
      (b, s.toDouble)
    }
    val docs = Seq((1L, "alpha beta alpha"), (2L, "")).toDF("doc_id", "text")
    val out = HashingVectorizer.vectorize(docs, "text", dim, l2 = true)
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Double](2), r.getSeq[Double](3))).toMap
    val want = Array.fill(dim)(0.0)
    Seq("alpha", "beta", "alpha").foreach { t =>
      val (b, s) = h(t); want(b) += s
    }
    assert(out(1L)._1 == want.toSeq, s"${out(1L)._1} vs ${want.toSeq}")
    assert(out(2L)._1 == Seq.fill(dim)(0.0))
    assert(out(2L)._2 == Seq.fill(dim)(0.0), "zero vector stays zero")
    val nrm = math.sqrt(want.map(x => x * x).sum)
    out(1L)._2.zip(want).foreach { case (g, w) =>
      assert(math.abs(g - w / nrm) < 1e-15)
    }
    // the compose this operator exists for: hashed vectors feed the
    // data-form ANN path end to end
    val vecs = HashingVectorizer.vectorize(
      Seq((1L, "spark join query"), (2L, "spark join table"),
        (3L, "entirely different words here")).toDF("doc_id", "text"),
      "text", 16, l2 = true)
      .select(col("doc_id").as("vec_id"), col("hvec_l2").as("embedding"))
    val cents = graft.sim.IvfCosine.pinnedCentroids(2, 16)
    val pruned = graft.sim.ProtoPrune.prune(vecs, "vec_id", "embedding",
      cents, keepFrac = 0.5).collect()
    assert(pruned.length == 3)
  }

  test("curation pipeline compose: each stage only narrows the corpus, " +
    "survivors are exactly the blocklist-clean sampled docs, shards " +
    "partition the survivors") {
    import graft.text.{Blocklist, CorpusSplit, TextNormalize}
    val docs = (0L until 60L).map(i => (i, s"src${i % 3}",
      if (i % 5 == 0) s"slow doc $i body" else s"clean doc $i body"))
      .toDF("doc_id", "source", "text")
    val clean = TextNormalize(docs, "text")
      .select(col("doc_id"), col("source"), col("clean_text"))
    val kept = clean.join(
      Blocklist.screen(clean, "doc_id", "clean_text", Seq("slow"))
        .where(col("keep")).select("doc_id"), Seq("doc_id"))
    val sampled = CorpusSplit.sampleByRate(kept, "doc_id", "source",
      Map("src0" -> 1.0), defaultRate = 0.5)
    val out = CorpusSplit.interleave(sampled, "doc_id", nShards = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val sampledIds = sampled.select("doc_id").collect()
      .map(_.getLong(0)).toSet
    // funnel: blocked docs gone, sampling narrows, shards partition
    assert(keptIds == (0L until 60L).filterNot(_ % 5 == 0).toSet)
    assert(sampledIds.subsetOf(keptIds) && sampledIds.size < keptIds.size)
    assert(out.map(_._1).toSet == sampledIds)
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
  }

  test("dsir edge: an empty target set still yields finite weights " +
    "(pure smoothing), and topk_by handles k = 1 and negative scores") {
    import graft.text.{DomainCap, Dsir}
    val docs = Seq((1L, "x", "a b"), (2L, "y", "c d")).toDF(
      "doc_id", "src", "text")
    val w = Dsir.importanceWeights(docs, "doc_id", "text", lit(false))
      .collect().map(r => r.getDouble(2))
    assert(w.forall(v => !v.isNaN && !v.isInfinite),
      s"empty-target weights must stay finite: ${w.toSeq}")
    val capped = DomainCap.cap(
      Seq((1L, "g", -5L), (2L, "g", -1L), (3L, "g", -9L))
        .toDF("id", "g", "s"),
      "g", col("s"), col("id"), k = 1).collect()
    assert(capped.length == 1 && capped.head.getLong(1) == 2L,
      "k=1 must keep the single best (least negative) row")
  }

  test("dup-span excision: covered tokens cut and remainder reassembled, " +
    "unique docs untouched, fully-covered docs empty, short docs safe") {
    import graft.text.DupSpans
    // k = 3: 'a b c' is the shared 3-gram; doc 1 has a unique tail
    val docs = Seq(
      (1L, "a b c x y z w"),   // spans at pos 1 dup → cut [1,3]
      (2L, "a b c"),           // whole doc is the dup gram → empties
      (3L, "p q r s t u v"),   // no dup grams → untouched
      (4L, "x y")              // shorter than k → no spans
    ).toDF("doc_id", "text")
    val out = DupSpans.excise(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L) == (7L, 3L, "x y z w"))
    assert(out(2L) == (3L, 3L, ""))
    assert(out(3L) == (7L, 0L, "p q r s t u v"))
    assert(out(4L) == (2L, 0L, "x y"))
  }
}

/** Round-9: the TRAINED quality classifier (CCNet-style logistic
  * regression over hashed features, deterministic full-batch GD). */
class QualityClassifierSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.text.QualityClassifier

  // two separable vocabularies: "quality prose" vs "spam boilerplate"
  private def fixture = (0 until 120).map { i =>
    if (i % 2 == 0)
      (i.toLong, s"thoughtful essay prose argument evidence v$i", 1.0)
    else
      (i.toLong, s"click buy cheap pills winner prize v$i", 0.0)
  }.toSeq.toDF("doc_id", "text", "label")

  test("fit separates two vocabularies: every positive outscores every " +
    "negative after enough epochs; keep flags follow the threshold") {
    val out = QualityClassifier.fitScore(fixture, "text",
      col("label") === 1.0, dim = 32, iters = 60, lr = 2.0)
      .select(col("y"), col("clf_score"), col("clf_keep"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getBoolean(2)))
    val pos = out.filter(_._1 == 1.0).map(_._2)
    val neg = out.filter(_._1 == 0.0).map(_._2)
    assert(pos.nonEmpty && neg.nonEmpty)
    assert(pos.min > neg.max,
      s"classes must separate: min-pos ${pos.min} vs max-neg ${neg.max}")
    out.foreach { case (_, s, keep) => assert(keep == (s >= 0.5)) }
  }

  test("fit is deterministic: identical weights across two runs, " +
    "round-6 snapped (the property the unrolled oracle rests on)") {
    val feats = QualityClassifier.features(fixture, "text",
      col("label") === 1.0, dim = 16).localCheckpoint()
    val w1 = QualityClassifier.fit(feats, dim = 16, iters = 5, lr = 1.0)
    val w2 = QualityClassifier.fit(
      feats.repartition(7), dim = 16, iters = 5, lr = 1.0)
    assert(w1.toSeq == w2.toSeq,
      "weights must not depend on partitioning")
    assert(w1.forall(w =>
      w == graft.functions.FastRound.compute(w, 1e6, 6)))
  }
}

/** UniMax budget allocation (text.CorpusSplit.unimaxAllocation): the
  * waterfilling contract on hand-computed fixtures — ascending capped
  * prefix, uniform leftover share, both degenerate regimes. */
class UnimaxSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.text.CorpusSplit

  // one doc per source whose token count IS the source size
  private def corpus(sizes: (String, Int)*) =
    sizes.toSeq.toDF("source", "n")
      .select(col("source"),
        concat_ws(" ", transform(sequence(lit(1), col("n")),
          _ => lit("w"))).as("text"))

  private def alloc(df: org.apache.spark.sql.DataFrame, budget: Double,
      cap: Double) =
    CorpusSplit.unimaxAllocation(df, "source",
      size(graft.text.CorpusOps.words(col("text"))).cast("long"),
      budget, cap)
      .select("source", "n_tokens", "alloc_tokens", "epochs", "capped")
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
      .toMap

  test("hand-computed waterfilling: small sources cap at maxEpochs, the " +
    "rest split the leftover uniformly") {
    // sizes 10/100/1000, budget 2000, cap 4: share1 = 666.7 -> 10 caps
    // (40); share2 = 980 -> 100 caps (400); 1000 takes the rest (1560)
    val out = alloc(corpus("a" -> 10, "b" -> 100, "c" -> 1000), 2000.0, 4.0)
    assert(out("a") == ((10L, 40.0, 4.0, true)))
    assert(out("b") == ((100L, 400.0, 4.0, true)))
    assert(out("c") == ((1000L, 1560.0, 1.56, false)))
  }

  test("budget exceeding cap * corpus: everything caps, no division " +
    "blow-up on the empty uncapped set") {
    val out = alloc(corpus("a" -> 10, "b" -> 20), 1000.0, 2.0)
    assert(out("a") == ((10L, 20.0, 2.0, true)))
    assert(out("b") == ((20L, 40.0, 2.0, true)))
  }

  test("budget too small for any cap: uniform split across all sources") {
    val out = alloc(corpus("a" -> 100, "b" -> 100, "c" -> 100), 30.0, 4.0)
    assert(out.values.forall(v => v._2 == 10.0 && v._3 == 0.1 && !v._4))
  }

  test("allocations sum to the budget when any source is share-limited") {
    val out = alloc(
      corpus("a" -> 10, "b" -> 100, "c" -> 1000, "d" -> 800), 3000.0, 4.0)
    assert(math.abs(out.values.map(_._2).sum - 3000.0) < 1e-9)
    assert(!out("c")._4 && out("a")._4)
  }
}

/** Efraimidis–Spirakis weighted sampling (CorpusSplit.weightedSample):
  * key construction, weight bias, and agreement with the window mirror
  * across a shuffle. */
class WeightedSampleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.text.CorpusSplit

  test("exactly k per stratum, heavier rows dominate the selection") {
    // 20 heavy (w=1000) + 20 light (w=1) docs in one stratum: the
    // ES key u^(1/w) is ~1 for heavy rows, ~u for light ones
    val df = (0 until 40).map(i =>
      (i.toLong, "s", if (i < 20) 1000.0 else 1.0))
      .toDF("doc_id", "source", "w")
    val sel = CorpusSplit.weightedSample(df, "doc_id", "source",
      col("w"), k = 10).collect()
    assert(sel.length == 10)
    assert(sel.map(_.getInt(3)).sorted.toSeq == (1 to 10))
    val heavy = sel.count(_.getLong(1) < 20)
    assert(heavy >= 8, s"expected heavy-weight dominance, got $heavy/10")
  }

  test("log-form key keeps resolution at 1e5+ weights, where round-6 " +
    "of the raw power u^(1/w) would collapse keys onto a few levels") {
    val df = (0 until 100).map(i => (i.toLong, "s", 200000.0))
      .toDF("doc_id", "source", "w")
    val sel = CorpusSplit.weightedSample(df, "doc_id", "source",
      col("w"), k = 100).collect()
    val keys = sel.map(_.getDouble(2)).distinct
    assert(keys.length >= 95,
      s"log key should stay distinct per u at w=2e5; got ${keys.length}" +
        " distinct of 100")
    // the power form at this weight spans (1-1.6e-4, 1): round-6 leaves
    // at most ~160 representable levels and collides heavily on 100
    // draws — the failure mode the log key removes
    val powDistinct = df.select(graft.functions.FastRound(
        pow(CorpusSplit.hashUniform(col("doc_id")),
          lit(1.0) / col("w")), 6).as("k"))
      .distinct().count()
    assert(powDistinct < keys.length,
      s"expected the power form to collide more ($powDistinct) than " +
        s"the log form (${keys.length})")
  }

  test("bounded-aggregate path equals the window mirror across an " +
    "8-partition shuffle") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .repartition(8)
    val viaAgg = CorpusSplit.weightedSample(docs, "doc_id", "source",
      col("n_chars").cast("double"), k = 10)
      .select("source", "rank", "doc_id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val key = graft.functions.FastRound(
      log(greatest(CorpusSplit.hashUniform(col("doc_id")), lit(1e-300))),
      6) / col("n_chars").cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("k").desc, col("doc_id"))
    val viaWindow = docs.select(col("source"), col("doc_id"), key.as("k"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= 10)
      .select("source", "rank", "doc_id").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(viaAgg == viaWindow)
  }
}

/** First-fit-decreasing packing (CorpusSplit.packFfd): the hand-traced
  * FFD fixture, capacity/oversize invariants, the classic at-most-one-
  * half-empty-bin property, and determinism across partitionings. */
class FfdPackSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import graft.text.CorpusSplit

  private def pack(items: Seq[(Long, Long)], cap: Int) =
    CorpusSplit.packFfd(
      items.toDF("doc_id", "t").withColumn("source", lit("s")),
      "doc_id", "source", col("t"), cap)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap

  test("hand-traced FFD: 8,5,4,3,2 into capacity 10") {
    // desc order: 8->bin1; 5->bin2; 4->bin2 (9); 3->bin3 (no fit);
    // 2->bin1 (10)
    val got = pack(Seq(1L -> 8L, 2L -> 5L, 3L -> 4L, 4L -> 3L, 5L -> 2L),
      cap = 10)
    assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 3L, 5L -> 1L))
  }

  test("oversized items sit alone in their bin and never absorb others") {
    val got = pack(Seq(1L -> 15L, 2L -> 9L, 3L -> 9L), cap = 10)
    assert(got(1L) != got(2L) && got(1L) != got(3L) && got(2L) != got(3L))
  }

  test("corpus invariants: no bin over capacity (except singleton " +
    "oversize), at most ONE bin at most half-full per source") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val out = CorpusSplit.packFfd(docs, "doc_id", "source",
      size(graft.text.CorpusOps.words(col("text"))).cast("long"), 128)
    val bins = out.groupBy("source", "bin")
      .agg(sum(col("n_tokens")).as("fill"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3)))
    assert(bins.forall { case (_, fill, n) => fill <= 128 || n == 1 })
    val halfEmpty = bins.groupBy(_._1).map { case (_, bs) =>
      bs.count(_._2 <= 64)
    }
    assert(halfEmpty.forall(_ <= 1),
      "FFD leaves at most one at-most-half-full bin")
    // Johnson's bound: FFD <= 11/9·OPT + 1, with OPT >= ceil(total/cap).
    // (The running-sum pack() is NOT a comparison point: it splits
    // documents fractionally across bin boundaries, so its bin count is
    // the fractional lower bound no integral packing can reach.)
    val totals = out.groupBy("source")
      .agg(sum(col("n_tokens")).as("tot"),
        countDistinct(col("bin")).as("nb"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(totals.forall { case (_, tot, nb) =>
      nb <= (11.0 / 9.0) * ((tot + 127) / 128) + 1
    })
  }

  test("deterministic across partitionings") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val tok = size(graft.text.CorpusOps.words(col("text"))).cast("long")
    val a = CorpusSplit.packFfd(docs, "doc_id", "source", tok, 128)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
      .toSet
    val b = CorpusSplit.packFfd(docs.repartition(13), "doc_id", "source",
      tok, 128)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3)))
      .toSet
    assert(a == b)
  }
}
