package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.NearestCentroid
import graft.sim.{IvfCosine, IvfPq, PqCosine, SemDedup}

/** The nearest-centroid kernel behind every IVF path (assignment and
  * probe routing for IvfCosine, IvfPq, SemDedup, ProtoPrune, KMeans,
  * UmapAnalog): its outputs equal a plain driver-side argmin / top-n
  * reference bit for bit, it fails fast on contract violations, and its
  * plan size is INDEPENDENT of nlist — an unrolled centroid plan grows
  * O(nlist) and dies at production cluster counts. */
class DataFormAnnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8
  // spark.range-based, NOT a local Seq: ConvertToLocalRelation folds
  // projections over LocalRelation at optimize time, which would both
  // fake the plan-size measurements and bypass the operators entirely
  private def corpus(n: Int) = spark.range(n).select(
    col("id").as("vec_id"),
    array((0 until dim).map(d => sin((col("id") + 1) * lit(d + 1))): _*)
      .as("embedding"))

  // float vectors at the embedding table's width (float elements widen
  // to double per term in the kernel, as in vec_dot)
  private lazy val floatEmb = spark.range(500).select(col("id").as("vec_id"),
    array((0 until 64).map(d =>
      cos((col("id") + 3) * lit(d + 1)).cast("float")): _*).as("embedding"))

  // ---- driver-side reference: the same folds, orders and tie rules

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** argmin of d² = (v·v − 2·v·c) + c·c, ties to the lower cell. */
  private def refCell(v: Array[Double], g: Array[Array[Double]]): Int = {
    val vv = dot(v, v)
    var best = 0
    var bestD = Double.NaN
    for (c <- g.indices) {
      val d = vv - 2.0 * dot(v, g(c)) + dot(g(c), g(c))
      if (c == 0 || java.lang.Double.compare(d, bestD) < 0) {
        best = c; bestD = d
      }
    }
    best
  }

  /** top-nprobe cells by cosine (desc, ties to the lower cell), with
    * the raw dot(q, c). */
  private def refProbe(q: Array[Double], g: Array[Array[Double]],
      nprobe: Int): Seq[(Int, Double)] = {
    val qn = math.sqrt(dot(q, q))
    g.indices.map(c => (c, dot(q, g(c)),
        dot(q, g(c)) / (qn * math.sqrt(dot(g(c), g(c))))))
      .sortWith { (a, b) =>
        val cmp = java.lang.Double.compare(a._3, b._3)
        cmp > 0 || (cmp == 0 && a._1 < b._1)
      }
      .take(nprobe).map(x => (x._1, x._2))
  }

  private def vecOf(r: Row, i: Int): Array[Double] = r.get(i) match {
    case s: scala.collection.Seq[_] => s.map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray
  }

  private def checkAssign(df: DataFrame, g: Array[Array[Double]]): Int = {
    val rows = df.select(col("vec_id"), col("embedding"),
        NearestCentroid.assign("embedding", g).as("cell"))
      .collect()
    rows.foreach(r => assert(r.getInt(2) == refCell(vecOf(r, 1), g),
      s"nlist ${g.length}: id ${r.get(0)}"))
    rows.map(_.getInt(2)).distinct.length
  }

  test("kernel assignment equals a driver-side (d2, cell) argmin at " +
    "nlist 8, 1024, 16") {
    val g8 = IvfCosine.pinnedCentroids(8, dim)
    val g1024 = IvfCosine.pinnedCentroids(1024, dim)
    val g16 = IvfCosine.pinnedCentroids(16, 64)
    assert(checkAssign(corpus(200), g8) > 1)
    assert(checkAssign(corpus(300), g1024) > 8)
    assert(checkAssign(floatEmb, g16) > 1) // float vectors
    // the operators route through the same kernel: their cells agree
    val emb = corpus(150)
    val want = emb.collect().map(r =>
      r.getLong(0) -> refCell(vecOf(r, 1), g1024)).toMap
    val sem = SemDedup.dedup(emb, "vec_id", "embedding", g1024,
      threshold = 0.8).collect()
    assert(sem.length == 150)
    sem.foreach(r => assert(r.getAs[Int]("cell") == want(r.getLong(0))))
    val enc = IvfPq.encode(emb, "vec_id", "embedding", g1024,
      PqCosine.pinnedCodebooks(m = 4, subDim = 2, k = 8)).collect()
    enc.foreach(r => assert(r.getAs[Int]("cell") == want(r.getLong(0))))
  }

  test("kernel probe routing equals a driver-side top-nprobe by cosine, " +
    "with raw dots") {
    for ((df, g, nprobe) <- Seq(
        (corpus(60), IvfCosine.pinnedCentroids(8, dim), 3),
        (corpus(40), IvfCosine.pinnedCentroids(1024, dim), 5),
        (floatEmb, IvfCosine.pinnedCentroids(16, 64), 4),
        (corpus(10), IvfCosine.pinnedCentroids(8, dim), 20))) {
      val rows = df.select(col("embedding"),
        NearestCentroid.probe("embedding", g, nprobe).as("p")).collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val got = r.getSeq[Row](1).map(x => (x.getInt(0), x.getDouble(1)))
        val want = refProbe(vecOf(r, 0), g, nprobe)
        assert(got.map(_._1) == want.map(_._1), s"nlist ${g.length}")
        assert(got.map(x => java.lang.Double.doubleToRawLongBits(x._2)) ==
          want.map(x => java.lang.Double.doubleToRawLongBits(x._2)))
      }
    }
  }

  test("ivf-pq encode equals a driver-side residual argmin; full-probe " +
    "search exact") {
    val emb = corpus(80)
    val coarse = IvfCosine.pinnedCentroids(8, dim)
    val books = PqCosine.pinnedCodebooks(m = 4, subDim = 2, k = 8)
    val vs = emb.collect().map(r => r.getLong(0) -> vecOf(r, 1)).toMap
    val enc = IvfPq.encode(emb, "vec_id", "embedding", coarse, books)
    val got = enc.collect()
    assert(got.length == 80)
    got.foreach { r =>
      val v = vs(r.getLong(0))
      val cell = refCell(v, coarse)
      assert(r.getAs[Int]("cell") == cell)
      val codes = books.indices.map { mi =>
        val s = v.slice(mi * 2, mi * 2 + 2)
        val cs = coarse(cell).slice(mi * 2, mi * 2 + 2)
        val d = books(mi).map(ck =>
          dot(ck, ck) - 2.0 * (dot(s, ck) - dot(cs, ck)))
        d.indices.reduce((a, b) =>
          if (java.lang.Double.compare(d(b), d(a)) < 0) b else a)
      }
      assert(r.getSeq[Int](2) == codes)
      assert(r.getAs[Double]("nrm") == math.sqrt(dot(v, v)))
    }
    // at nprobe == nlist and a full shortlist the re-ranked top-k is the
    // exact cosine top-k (the routing admits every cell)
    val probes = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val s = IvfPq.search(enc, emb, probes, "vec_id", "embedding", "qid",
      "qvec", coarse, books, k = 3, nprobe = 8, shortlist = 80).collect()
    assert(s.length == 30)
    s.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      val qv = vs(q)
      val want = vs.toSeq.filter(_._1 != q).map { case (id, v) =>
        (id, dot(qv, v) / (math.sqrt(dot(qv, qv)) * math.sqrt(dot(v, v))))
      }.sortBy(x => (-x._2, x._1)).take(3).map(_._1)
      assert(rs.sortBy(_.getInt(4)).map(_.getLong(1)).toSeq == want)
    }
  }

  test("kernel fails fast on a null vector; a NaN vector keeps cell 0 " +
    "like array_min") {
    val g = IvfCosine.pinnedCentroids(8, dim)
    val withNull = spark.range(3).select(col("id").as("vec_id"),
      when(col("id") === 1, lit(null).cast("array<double>"))
        .otherwise(array((0 until dim).map(d => lit(d * 0.1)): _*))
        .as("embedding"))
    for (run <- Seq(
        () => IvfCosine.assignByCentroids(withNull, "vec_id", "embedding",
          g).assigned.collect(),
        () => withNull.select(NearestCentroid.probe("embedding", g, 2))
          .collect())) {
      val e = intercept[Exception](run())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage)
          .contains("null vector in column embedding")), e.toString)
    }
    // every d² of a NaN-bearing vector is NaN: the (d², cell) order ties
    // them all, so the lowest cell wins — the choice of the
    // array_min(struct(d², cell)) form, evaluated here as the reference
    val nan = spark.range(2).select(col("id").as("vec_id"),
      array((0 until dim).map(d =>
        if (d == 3) lit(Double.NaN) else col("id") + lit(d * 0.3)): _*)
        .as("embedding"))
    val vv = graft.functions.VecDot(col("embedding"), col("embedding"))
    val arrayMin = array_min(array(g.indices.map { i =>
      struct((vv - lit(2.0) * graft.functions.VecDot(col("embedding"),
        typedlit(g(i))) + lit(g(i).map(x => x * x).sum)).as("d2"),
        lit(i).as("cell"))
    }: _*)).getField("cell")
    nan.select(NearestCentroid.assign("embedding", g), arrayMin).collect()
      .foreach(r => assert(r.getInt(0) == 0 && r.getInt(1) == 0))
  }

  test("appendToIndex assigns each delta row by its own vector, " +
    "repeated ids included") {
    val g = IvfCosine.pinnedCentroids(8, dim)
    val p = java.nio.file.Files.createTempDirectory("graft-dupid")
      .resolve("idx").toString
    IvfCosine.saveIndex(p,
      IvfCosine.assignByCentroids(corpus(40), "vec_id", "embedding", g),
      "vec_id", "embedding")
    // two rows share id 1000, with vectors in different cells
    val pool = corpus(200).collect().map(r => vecOf(r, 1))
    val (a, b) = {
      val byCell = pool.groupBy(v => refCell(v, g))
      val cs = byCell.keys.toSeq.sorted
      (byCell(cs(0)).head, byCell(cs(1)).head)
    }
    val delta = Seq((1000L, a), (1000L, b), (1001L, b))
      .toDF("vec_id", "embedding")
    IvfCosine.appendToIndex(p, delta)
    val stored = IvfCosine.loadIndex(spark, p, "vec_id", "embedding")
      .assigned.where(col("vec_id") >= 1000).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        vecOf(r, r.fieldIndex("embedding")).toSeq, r.getAs[Int]("cell")))
      .toSet
    assert(stored == Set((1000L, a.toSeq, refCell(a, g)),
      (1000L, b.toSeq, refCell(b, g)), (1001L, b.toSeq, refCell(b, g))))
    assert(refCell(a, g) != refCell(b, g))
  }

  // total Catalyst expression-node count of the optimized plan —
  // immune to toString truncation, which is exactly what a growing
  // literal plan triggers
  private def exprNodes(df: DataFrame): Long =
    df.queryExecution.optimizedPlan.collect { case p =>
      p.expressions.map(_.collect { case _ => 1L }.sum).sum
    }.sum

  test("kernel plan size does not grow from nlist 16 to 1024") {
    val emb = corpus(20)
    val probes = emb.where(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def plans(nlist: Int): Seq[Long] = {
      val g = IvfCosine.pinnedCentroids(nlist, dim)
      val idx = IvfCosine.assignByCentroids(emb, "vec_id", "embedding", g)
      Seq(exprNodes(idx.assigned),
        exprNodes(SemDedup.dedup(emb, "vec_id", "embedding", g,
          threshold = 0.8)),
        exprNodes(IvfCosine.search(idx, probes, "vec_id", "embedding",
          "qid", "qvec", k = 3, nprobe = 4, dim = dim)))
    }
    val (p16, p1024) = (plans(16), plans(1024))
    p16.zip(p1024).foreach { case (a, b) =>
      assert(b <= a, s"kernel plan must not grow with nlist: $p16 -> $p1024")
    }
  }

  test("ivf-pq data-form search plan size is independent of nlist and nk") {
    val emb = corpus(20)
    val probes = emb.where(col("vec_id") < 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def planLen(nlist: Int, nk: Int): Long = {
      val coarse = IvfCosine.pinnedCentroids(nlist, dim)
      val books = PqCosine.pinnedCodebooks(m = 4, subDim = 2, k = nk)
      val enc = IvfPq.encode(emb, "vec_id", "embedding", coarse, books)
      exprNodes(IvfPq.search(enc, emb, probes, "vec_id", "embedding",
        "qid", "qvec", coarse, books, k = 3, nprobe = 3, shortlist = 10))
    }
    val small = planLen(8, 8)
    val big = planLen(1024, 64)
    assert(big <= small * 11 / 10,
      s"ivf-pq plan must not grow with nlist/nk: $small -> $big")
  }

  test("kmeans: distributed Lloyd separates two obvious clusters, an " +
    "empty cell keeps its init centroid, fitAssign matches a driver run") {
    import graft.sim.KMeans
    // two tight blobs around +1 and -1 on every coordinate, plus a
    // third init centroid far away that never wins a member
    val pts = (0 until 40).map { i =>
      val c = if (i % 2 == 0) 1.0 else -1.0
      (i.toLong, (0 until dim).map(d =>
        c + 0.01 * math.sin(i * 31 + d)).toArray)
    }
    val df = spark.createDataFrame(pts).toDF("vec_id", "embedding")
      .repartition(5)
    val init = Array(Array.fill(dim)(0.9), Array.fill(dim)(-0.9),
      Array.fill(dim)(100.0))
    val cents = KMeans.lloyd(df, "vec_id", "embedding", init, iters = 3)
    // cells 0/1 move to the blob means; cell 2 never assigned → pinned
    assert(cents(2).forall(_ == 100.0), "empty cell must keep its init")
    assert(cents(0).forall(x => math.abs(x - 1.0) < 0.02),
      cents(0).mkString(","))
    assert(cents(1).forall(x => math.abs(x + 1.0) < 0.02),
      cents(1).mkString(","))
    val got = KMeans.fitAssign(df, "vec_id", "embedding", init, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.size == 40)
    assert((0 until 40).forall(i =>
      got(i.toLong) == (if (i % 2 == 0) 0 else 1)))
  }

  test("kmeans convergence mode: separated blobs stop well before the " +
    "round cap, centroids match the fixed-iteration fit") {
    import graft.sim.KMeans
    val pts = (0 until 40).map { i =>
      val c = if (i % 2 == 0) 1.0 else -1.0
      (i.toLong, (0 until dim).map(d =>
        c + 0.01 * math.sin(i * 31 + d)).toArray)
    }
    val df = spark.createDataFrame(pts).toDF("vec_id", "embedding")
      .repartition(5)
    val init = Array(Array.fill(dim)(0.9), Array.fill(dim)(-0.9))
    val (cents, rounds) = KMeans.lloydConverged(df, "vec_id", "embedding",
      init, maxIters = 50, tol = 1e-9)
    // round 1 moves init → blob means; round 2 moves nothing (the
    // assignment is already stable) → movement 0 < tol stops at round 2
    assert(rounds == 2, s"expected early stop at round 2, got $rounds")
    assert(cents(0).forall(x => math.abs(x - 1.0) < 0.02))
    assert(cents(1).forall(x => math.abs(x + 1.0) < 0.02))
    // identical fit to the fixed-iteration trainer at the same depth
    val fixed = KMeans.lloyd(df, "vec_id", "embedding", init, iters = 2)
    assert(cents.map(_.toSeq).toSeq == fixed.map(_.toSeq).toSeq)
  }

  test("proto prune: per cell, exactly the least-prototypical rows at " +
    "or below the keepFrac quantile survive; every row is labeled") {
    import graft.sim.ProtoPrune
    val df = corpus(200)
    val out = ProtoPrune.prune(df, "vec_id", "embedding",
        IvfCosine.pinnedCentroids(4, dim), keepFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getBoolean(3)))
    assert(out.length == 200, "every row labeled")
    out.groupBy(_._2).foreach { case (cell, rows) =>
      val sims = rows.map(_._3).sorted
      // driver mirror of the interpolated median over rounded sims
      val q = {
        val h = 0.5 * (sims.length - 1)
        val lo = sims(h.toInt)
        val hi = sims(math.ceil(h).toInt)
        BigDecimal(lo + (h - h.toInt) * (hi - lo))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      rows.foreach { case (id, _, sim, keep) =>
        assert(keep == (sim <= q),
          s"cell $cell id $id sim $sim cut $q keep $keep")
      }
      val kept = rows.count(_._4)
      assert(kept >= rows.length / 2 - 1 && kept <= rows.length / 2 + 2,
        s"cell $cell kept $kept of ${rows.length}")
    }
  }
}
