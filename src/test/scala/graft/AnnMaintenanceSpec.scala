package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sim.IvfCosine
import graft.sources.SnapshotDiff

/** Incremental ANN-index maintenance — the composition SnapshotDiff's
  * doc promises ("`added ∪ changed` is exactly the delta batch ... the
  * ANN index updaters take"): only the DELTA is re-assigned against the
  * (fixed) coarse quantizer, the index table is maintained merge-on-read
  * via resolveLatest, and the maintained index is row-identical to a
  * full batch rebuild — so searches over it are too. The re-assignment
  * job is delta-proportional by construction (assignByCentroids runs
  * on the delta frame alone; the corpus at rest is never re-scored). */
class AnnMaintenanceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val DIM = 64
  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))
  private lazy val cents = IvfCosine.pinnedCentroids(8, DIM)

  private def assign(df: DataFrame): DataFrame =
    IvfCosine.assignByCentroids(df, "vec_id", "embedding", cents).assigned

  test("delta-only re-assignment + MOR resolve == full index rebuild; " +
    "IVF search over the maintained index matches the rebuilt one") {
    import spark.implicits._
    // yesterday's corpus: ids not divisible by 11
    val base = emb.where(col("vec_id") % 11 =!= 0)
    val baseIdx = assign(base)
    // today's delta: additions (the % 11 ids), re-embedded docs (the
    // % 7 ids, vectors negated — content change), and a few deletes
    val added = emb.where(col("vec_id") % 11 === 0)
    val changed = base.where(col("vec_id") % 7 === 0)
      .select(col("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    val deltaDocs = added.unionByName(changed)
    val deltaIdx = assign(deltaDocs)
      .withColumn("version", lit(1L)).withColumn("op", lit("U"))
    // deletes at version 2: a handful of the delta ids are divisible by
    // 13 too, and the retention delete must beat their same-day upsert
    val deletes = emb.where(col("vec_id") % 13 === 0)
      .select(col("vec_id"), col("embedding"),
        lit(-1).as("cell"), lit(2L).as("version"), lit("D").as("op"))
    // delta-proportional: the assignment job saw ONLY the delta rows
    assert(deltaIdx.count() == deltaDocs.count())

    val maintained = SnapshotDiff.resolveLatest(baseIdx,
      deltaIdx.unionByName(deletes), "vec_id", "version", "op")
      .select("vec_id", "embedding", "cell")

    // ground truth: rebuild the index over today's corpus content
    val todays = base
      .where(col("vec_id") % 7 =!= 0 && col("vec_id") % 13 =!= 0)
      .unionByName(deltaDocs.where(col("vec_id") % 13 =!= 0))
    val rebuilt = assign(todays)
    assert(maintained.exceptAll(rebuilt).isEmpty &&
      rebuilt.exceptAll(maintained).isEmpty,
      "maintained index must be row-identical to a batch rebuild")

    // and the search path consumes the maintained index unchanged
    val probes = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def top(idx: DataFrame) = IvfCosine.search(
      IvfCosine.Index(IvfCosine.pinnedCentroids(8, DIM), idx), probes,
      "vec_id", "embedding", "qid", "qvec", k = 5, nprobe = 3, dim = DIM)
      .select(col("qid"), col("nid"),
        graft.functions.FastRound(col("cosine"), 6).as("c"), col("rank"))
    assert(top(maintained).exceptAll(top(rebuilt)).isEmpty,
      "search results must not see the maintenance seam")
  }

  test("applyChanges on a PERSISTED index: upserts + deletes rewrite " +
    "only the affected cell partitions, unaffected cell files are " +
    "byte-untouched, an emptied cell's directory is removed, and the " +
    "loaded index searches identically to a full rebuild") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dim = 8
    def vecs(ids: Seq[Int], seed: Int) = {
      val rr = new scala.util.Random(seed)
      ids.map(i => (i.toLong, Array.fill(dim)(rr.nextGaussian().toFloat)))
        .toDF("vec_id", "embedding")
    }
    val grid = IvfCosine.pinnedCentroids(4, dim)
    val base = vecs(0 until 80, 7).cache()
    val p = java.nio.file.Files.createTempDirectory("graft-ivfmaint")
      .resolve("idx").toString
    val baseAssigned =
      IvfCosine.assignByCentroids(base, "vec_id", "embedding", grid)
    IvfCosine.saveIndex(p, baseAssigned, "vec_id", "embedding")

    // victim = the smallest cell; delete EVERY member -> its dir must
    // vanish. Re-embedded ids come from the largest other cell, and
    // their NEW vector is a copy of a donor member's vector — so the
    // upserts deterministically re-assign into the donor cell, never
    // the victim (the emptiness premise holds by construction, not by
    // seed luck).
    val byCell = baseAssigned.assigned.select("vec_id", "cell").collect()
      .groupBy(_.getInt(1)).map { case (c, rs) =>
        c -> rs.map(_.getLong(0)).toSeq }
    val victimCell = byCell.minBy(_._2.size)._1
    val deleteIds = byCell(victimCell)
    val (donorCell, donorMembers) =
      byCell.filter(_._1 != victimCell).maxBy(_._2.size)
    val donorVec = base.where(col("vec_id") === donorMembers.head)
      .select("embedding").collect()(0).getSeq[Float](0).toArray
    val changeIds = donorMembers.tail.take(3)
    val upserts = changeIds.map(id => (id, donorVec))
      .toDF("vec_id", "embedding").cache()
    val affectedCells = (Set(victimCell, donorCell) ++
      baseAssigned.assigned.join(
        broadcast(upserts.select("vec_id")), Seq("vec_id"))
        .select("cell").collect().map(_.getInt(0)).toSet)
    def cellFiles(): Map[String, Long] = {
      val root = java.nio.file.Paths.get(s"$p/assigned")
      val s = java.nio.file.Files.walk(root)
      try s.filter(_.toString.endsWith(".parquet"))
        .iterator().asScala
        .map(f => f.toString -> java.nio.file.Files
          .getLastModifiedTime(f).toMillis).toMap
      finally s.close()
    }
    val before = cellFiles()
    IvfCosine.applyChanges(spark, p,
      upserts, deleteIds.toDF("vec_id"))
    val after = cellFiles()
    // unaffected cells: identical file sets, identical mtimes
    def unaffected(files: Map[String, Long]) = files.filterNot { case (f, _) =>
      affectedCells.exists(c => f.contains(s"cell=$c/")) }
    assert(unaffected(before) == unaffected(after),
      "files of unaffected cells must be byte-untouched")
    // the emptied victim cell's directory is gone
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$p/assigned/cell=$victimCell")),
      s"emptied cell=$victimCell must be removed")
    // loaded (row-count verified) search == full rebuild over today's
    val loaded = IvfCosine.loadIndex(spark, p, "vec_id", "embedding")
    val todays = base
      .where(!col("vec_id").isin(deleteIds ++ changeIds: _*))
      .unionByName(upserts)
    val rebuilt =
      IvfCosine.assignByCentroids(todays, "vec_id", "embedding", grid)
    val probes = todays.where(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    def res(ix: IvfCosine.Index) = IvfCosine.search(ix, probes,
      "vec_id", "embedding", "qid", "qvec", k = 3, nprobe = 2, dim = dim)
      .collect().map(row => (row.getLong(0), row.getLong(1),
        java.lang.Double.doubleToRawLongBits(row.getDouble(2)),
        row.getInt(3))).toSet
    assert(res(loaded) == res(rebuilt),
      "maintained persisted index must search identically to a rebuild")
  }
}
