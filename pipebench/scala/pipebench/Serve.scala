package pipebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.sim.IvfCosine
import graft.streaming.IndexMaintain

/** The serving half of `corpus_ann`: one index lifecycle over a given
  * set of documents — build a trained IVF index from their embeddings and
  * save it, then single-query searches interleaved with the CDC writes of
  * `truth.json`'s plan (an append batch and an upsert/delete batch), each
  * write followed by a load. Every load is checked against the expected
  * live rows, and every search against the same-centroid IVF oracle and
  * exact cosine top-k. */
final class Serve(spark: SparkSession, rec: Recorder, dir: String,
    work: String) {
  import spark.implicits._
  import Serve._

  private var embeddings: DataFrame = _
  private var vecs: Map[Long, Array[Float]] = Map.empty
  private var queries: Array[(Long, Array[Float])] = Array.empty
  private var nextQuery = 0

  private val truth = Main.readJson(s"$dir/truth.json")
  private val dim = truth("dim").asInstanceOf[Number].intValue
  private val plan = truth("plan").asInstanceOf[Seq[Map[String, Any]]]
    .map(m => (m("kind").toString, s"$dir/batches/${m("file")}"))

  private def vectors(df: DataFrame): Array[(Long, Array[Float])] =
    df.select("vec_id", "embedding").collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1).toArray))

  def load(emb: DataFrame, qs: DataFrame): Unit = {
    embeddings = emb
    vecs = vectors(emb).toMap
    queries = vectors(qs)
  }

  // --------------------------------------------------------- the oracle

  /** The loaded index's rows as the oracle sees them. */
  private final class State(rows: Array[(Long, Array[Float], Int)],
      val centroids: Array[Array[Double]]) {
    private val norms = rows.map(r => math.sqrt(dot(r._2, r._2)))

    /** Top-k (id, cosine) over rows whose cell passes `keep`, ordered by
      * cosine descending then id, as IvfCosine ranks them. */
    def topK(q: Array[Float], keep: Int => Boolean, qid: Long)
        : Seq[(Long, Double)] = {
      val qn = math.sqrt(dot(q, q))
      rows.indices.iterator
        .filter(i => keep(rows(i)._3) && rows(i)._1 != qid)
        .map(i => (rows(i)._1, dot(q, rows(i)._2) / (qn * norms(i))))
        .toSeq.sortBy(t => (-t._2, t._1)).take(K)
    }

    /** The `NProbe` cells IvfCosine.search routes `q` to. */
    def probed(q: Array[Float]): Set[Int] = {
      val qn = math.sqrt(dot(q, q))
      centroids.indices.map { c =>
        val cv = centroids(c)
        (c, dotD(q, cv) / (qn * math.sqrt(dotD(cv, cv))))
      }.sortBy(t => (-t._2, t._1)).take(NProbe).map(_._1).toSet
    }
  }

  private var expect = mutable.LinkedHashMap[Long, Array[Float]]()
  private var state: State = _

  private def loadAndCheck(path: String, what: String): IvfCosine.Index = {
    val idx = rec.op("sim.load") {
      IvfCosine.loadIndex(spark, path, "vec_id", "embedding")
    }
    val rows = idx.assigned.select("vec_id", "embedding", "cell").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    val same = rows.length == expect.size && rows.forall { case (id, v, _) =>
      expect.get(id).exists(java.util.Arrays.equals(_, v)) }
    rec.verify(same, s"load after $what: ${rows.length} rows, expected " +
      s"${expect.size}, or a row's vector differs")
    state = new State(rows, idx.centroids)
    idx
  }

  private def search(idx: IvfCosine.Index): Unit = {
    val (qid, q) = queries(nextQuery % queries.length)
    nextQuery += 1
    val got = rec.op("sim.search") {
      IvfCosine.search(idx, Seq((qid, q.toSeq)).toDF("qid", "qvec"),
        "vec_id", "embedding", "qid", "qvec", k = K, nprobe = NProbe,
        dim = dim).select("nid", "cosine", "rank").collect()
    }.sortBy(_.getInt(2)).map((r: Row) => (r.getLong(0), r.getDouble(1)))
    val cells = state.probed(q)
    val oracle = state.topK(q, cells, qid)
    val agree = got.length == oracle.length &&
      got.zip(oracle).forall { case ((gi, gc), (oi, oc)) =>
        math.abs(gc - oc) <= 1e-12 && (gi == oi || gc == oc) }
    rec.verify(agree, s"search $qid: ${got.toSeq} != oracle $oracle")
    val exact = state.topK(q, _ => true, qid).map(_._1).toSet
    rec.count("result_rows", got.length.toDouble)
    rec.count("recall", got.count(g => exact(g._1)).toDouble / K)
  }

  private val path = s"$work/index"

  /** Build an index over `ids`' embeddings, then search and write. */
  def lifecycle(ids: Seq[Long]): Unit = {
    deleteTree(new java.io.File(path))
    expect = mutable.LinkedHashMap(ids.map(i => i -> vecs(i)): _*)
    val docs = ids.toDF("vec_id")
    rec.op("sim.build") {
      val idx = rec.sub("sim.build.train") {
        IvfCosine.buildIndex(embeddings.join(docs, "vec_id"), "vec_id",
          "embedding", NList, seed = 11L)
      }
      rec.sub("sim.build.save") {
        IvfCosine.saveIndex(path, idx, "vec_id", "embedding")
      }
    }
    rec.count("rows", ids.size.toDouble)
    var idx = loadAndCheck(path, "build")
    for ((kind, file) <- plan) {
      (1 to Searches).foreach(_ => search(idx))
      val batch = spark.read.parquet(file)
      val change = vectorsWithOp(batch)
      if (kind == "append") {
        rec.op("sim.append") {
          IvfCosine.appendToIndex(path, batch.select("vec_id", "embedding"))
        }
        change.foreach { case (id, v, _) => expect(id) = v }
      } else {
        rec.op("streaming.apply_batch") {
          IndexMaintain.applyBatch(spark, path, batch, "vec_id",
            "embedding", "op", "D")
        }
        change.foreach { case (id, v, op) =>
          if (op == "D") expect.remove(id) else expect(id) = v }
      }
      rec.count("rows", change.length.toDouble)
      idx = loadAndCheck(path, kind)
    }
    (1 to Searches).foreach(_ => search(idx))
  }

  private def vectorsWithOp(df: DataFrame): Array[(Long, Array[Float], String)] =
    df.select(col("vec_id"), col("embedding"),
        if (df.columns.contains("op")) col("op") else lit("U")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getString(2)))
}

object Serve {
  val NList = 32
  val NProbe = 8
  val K = 10
  /** Single-query searches before each write and after the last. */
  val Searches = 6

  /** VecDot's arithmetic: index-ascending double accumulation from 0.0. */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  def dotD(a: Array[Float], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  def dotD(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
