package pipebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Dedup, DupClusters}
import graft.text.{Bpe, GopherRules, TextNormalize}
import Corpus._

/** `corpus_ann`: curate a document corpus, then index and serve the
  * embeddings of the documents it keeps. Curation is clean + Gopher
  * filter, exact dedup, MinHash LSH candidates, connected components over
  * the candidates (one document kept per component) and BPE training;
  * serving is one [[Serve]] index lifecycle over the kept documents.
  * Checks use the planted duplicates and drops in `truth.json`. */
final class Corpus(spark: SparkSession, rec: Recorder, dir: String,
    work: String) extends Workload(spark, rec, dir, work) {
  private var docs: DataFrame = _
  private var rows = 0L
  private var merges0: Seq[(String, String)] = Nil
  def inputRows: Long = rows
  /** Two: the overhead is measured on the ops called several times a
    * pass (sim.search, sim.load); a third pass would push a traced run
    * towards the 180 s limit. */
  def tracedPasses: Int = 2
  private val numMerges = 10
  private val serve = new Serve(spark, rec, dir, work)

  private val truth = Main.readJson(s"$dir/truth.json")
  private def groups(key: String): Seq[Seq[Long]] =
    truth(key).asInstanceOf[Seq[Seq[Number]]].map(_.map(_.longValue))
  private val exactGroups = groups("exact_groups")
  private val nearGroups = groups("near_groups")
  private val dropped = truth("dropped").asInstanceOf[Seq[Number]]
    .map(_.longValue).toSet
  private val nearPairs = nearGroups.flatMap(g =>
    for (a <- g; b <- g if a < b) yield (a, b)).toSet

  def load(): Unit = {
    docs = input("docs.parquet")
    rows = docs.count()
    serve.load(input("embeddings.parquet"), input("queries.parquet"))
  }

  def pass(): Unit = {
    val (kept, nk) = rec.op("text.filter") {
      hold(GopherRules.battery(docs.select(col("doc_id"),
          TextNormalize.clean(col("text")).as("text")), "text")
        .where(col("keep")).select("doc_id", "text"))
    }
    val gone = docs.select("doc_id").join(kept, Seq("doc_id"), "left_anti")
      .collect().map(_.getLong(0)).toSet
    rec.verify(nk + gone.size == rows && gone == dropped,
      s"filter: dropped ${gone.size} docs, expected ${dropped.size}; " +
        s"missing ${(dropped -- gone).take(5)}, extra ${(gone -- dropped).take(5)}")

    val (survivors, ns) = rec.op("dedup.exact") {
      val g = Dedup.exactGroups(kept, "doc_id", "text")
      hold(kept.join(g.select(col("keeper").as("doc_id")), "doc_id"))
    }
    val expectGroups = exactGroups.map(g => (g.min, g.size.toLong)).toSet
    val dupGroups = Dedup.exactGroups(kept, "doc_id", "text")
      .where(col("n_dups") > 1).select("keeper", "n_dups").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val removed = exactGroups.map(_.size - 1).sum
    rec.verify(dupGroups == expectGroups && ns == nk - removed,
      s"exact: ${dupGroups.size} groups, expected ${expectGroups.size}; " +
        s"$ns survivors, expected ${nk - removed}")

    val (cands, nc) = rec.op("dedup.minhash") {
      hold(Dedup.lshCandidates(
        Dedup.minHashSignatures(survivors, "doc_id", "text", Hashes),
        "doc_id", Hashes, RowsPerBand, MaxBucket))
    }
    val pairs = cands.collect().map(r => (r.getLong(0), r.getLong(1)))
    val oracle = lshPairs(survivors.collect()
      .map(r => (r.getLong(0), r.getString(1))), Hashes, RowsPerBand,
      MaxBucket)
    val got = pairs.toSet
    rec.verify(pairs.length == got.size && got == oracle,
      s"minhash: ${pairs.length} candidate pairs, oracle ${oracle.size}; " +
        s"missing ${(oracle -- got).take(3)}, extra ${(got -- oracle).take(3)}")
    rec.count("candidates", nc.toDouble)
    rec.count("confirmed", pairs.count(nearPairs).toDouble)

    val (comps, _) = rec.op("dedup.components") {
      hold(DupClusters.connectedComponents(cands, "id_a", "id_b"))
    }
    val cluster = comps.collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    val expect = components(pairs)
    rec.verify(cluster == expect, s"components: ${cluster.size} labelled " +
      s"ids, expected ${expect.size}, or a label differs from the " +
      "union-find labelling of the candidate pairs")
    // quality: share of planted near-duplicate groups found whole
    val together = nearGroups.count(g =>
      g.forall(cluster.contains) && g.map(cluster).distinct.size == 1)
    rec.count("planted_recall", together.toDouble / nearGroups.size)

    val merges = rec.op("text.bpe") {
      Bpe.learnMerges(survivors, "doc_id", "text", numMerges)
    }
    if (merges0.isEmpty) merges0 = merges
    rec.verify(merges.size == numMerges && merges == merges0,
      s"bpe: ${merges.size} merges, or a different sequence than pass one")

    // index the documents curation keeps: exact-dedup survivors minus
    // every near-duplicate component member but its smallest id
    val nearDrop = cluster.collect { case (id, c) if id != c => id }.toSet
    val keep = survivors.select("doc_id").collect().map(_.getLong(0))
      .filterNot(nearDrop)
    serve.lifecycle(keep)
  }
}

object Corpus {
  val Hashes = 16
  val RowsPerBand = 4
  /** LSH buckets above this size are dropped (the hot-bucket guard). */
  val MaxBucket = 50

  /** The MinHash LSH candidate pairs of `docs`, computed on the driver
    * from the definition: character 3-shingles of the normalised text,
    * h_i = h1 + i·h2 over hex digits [1,10] and [11,20] of each
    * shingle's md5, signature = per-i minimum, pairs (a < b) sharing a
    * band of `rowsPerBand` signature values in a bucket of at most
    * `cap` documents. */
  def lshPairs(docs: Seq[(Long, String)], hashes: Int, rowsPerBand: Int,
      cap: Int): Set[(Long, Long)] = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    def hex40(d: Array[Byte], from: Int): Long =
      (from until from + 5).foldLeft(0L)((acc, i) => (acc << 8) | (d(i) & 0xff))
    val buckets = scala.collection.mutable.HashMap[Seq[Long], List[Long]]()
    for ((id, text) <- docs) {
      val t = text.replaceAll("\\s+", " ").trim.toLowerCase
      val shingles = (0 until math.max(t.length - 2, 1))
        .map(i => t.substring(i, math.min(i + 3, t.length))).distinct
      val sig = Array.fill(hashes)(Long.MaxValue)
      for (s <- shingles) {
        val d = md5.digest(s.getBytes("UTF-8"))
        val (h1, h2) = (hex40(d, 0), hex40(d, 5))
        for (i <- 0 until hashes) sig(i) = math.min(sig(i), h1 + i * h2)
      }
      for (b <- 0 until hashes / rowsPerBand) {
        val key = b.toLong +: sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand)
          .toSeq
        buckets(key) = id :: buckets.getOrElse(key, Nil)
      }
    }
    buckets.values.filter(_.size <= cap).flatMap { ids =>
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
  }

  /** Connected components of `pairs`, each id labelled with the smallest
    * id of its component (union-find). */
  def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }
}
