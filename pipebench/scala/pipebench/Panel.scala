package pipebench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.MLPRegressor
import graft.operators._
import graft.solvers.{FeatureNeutralizer, FeaturePenalizer}

/** `panel_pipeline`: window features, era-wise neutralisation and
  * penalisation, then an MLP fit and predict over a date x ticker panel
  * (eras = dates). */
final class Panel(spark: SparkSession, rec: Recorder, dir: String,
    work: String) extends Workload(spark, rec, dir, work) {
  private var panel: DataFrame = _
  private var rows = 0L
  private var lastFeatures: DataFrame = _
  private var signalExposure = Double.NaN
  private val refs = scala.collection.mutable.HashMap[String, Seq[Double]]()
  def inputRows: Long = rows
  def tracedPasses: Int = 3

  private val raw = Seq("f1", "f2", "f3", "f4")
  private val exposed = Seq("f1_rank", "f2_rank", "f3_rank")
  private val ord = Seq("era")
  private val pipeline = Pipeline(Seq(
    LogReturnTransformer(Seq("price"), "ticker", ord),
    RankTransformer("price_logreturn" +: raw, "era"),
    LagTransformer(Seq("price_logreturn_rank"), Seq(1, 2), "ticker", ord),
    MovingAverageTransformer(Seq("price_logreturn_rank"), Seq(5), "ticker",
      ord),
    GroupStatsTransformer(Map("f" -> raw.map(_ + "_rank")))))
  private val neutralizer = FeatureNeutralizer(Seq("signal"), exposed,
    Seq(0.5, 1.0), "era", "rid")
  private val penalizer = FeaturePenalizer(Seq("signal"), exposed,
    Seq(0.1), "era", "rid")
  private val mlCols = raw.map(_ + "_rank") ++ Seq("f_groupstats_mean",
    "f_groupstats_std", "price_logreturn_rank_ma5", "neut_half", "pen")

  def load(): Unit = {
    panel = input("panel.parquet")
    rows = panel.count()
  }

  /** `values` must equal the first pass's within 1e-9 relative: every
    * pass computes the same outputs from the same inputs. */
  private def stable(key: String, values: Seq[Double]): Unit = {
    val ref = refs.getOrElseUpdate(key, values)
    rec.verify(ref.size == values.size && ref.zip(values).forall {
      case (a, b) => a == b || math.abs(a - b) <= 1e-9 * math.max(
        math.abs(a), math.abs(b))
    }, s"$key differs from the first pass: $values vs $ref")
  }

  /** count, then per column: non-null count, sum, min, max. */
  private def summary(df: DataFrame, cols: Seq[String]): Seq[Double] = {
    val aggs = count(lit(1)) +: cols.flatMap { c =>
      val v = col(s"`$c`").cast("double")
      Seq(count(v), sum(v), min(v), max(v))
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    (0 until r.length).map(i =>
      if (r.isNullAt(i)) Double.NaN else r.getAs[Number](i).doubleValue)
  }

  /** Mean over eras of the largest |corr(c, exposed feature)|. */
  private def exposure(df: DataFrame, c: String): Double = {
    val aggs = exposed.map(e => corr(col(s"`$c`"), col(e)))
    val per = df.groupBy("era").agg(aggs.head, aggs.tail: _*).collect()
      .map(r => exposed.indices.map(i => math.abs(r.getDouble(i + 1))).max)
    per.sum / per.length
  }

  /** Outputs present for every row and inside [0, 1]. */
  private def unitInterval(s: Seq[Double], n: Long): Boolean =
    s.drop(1).grouped(4).forall { case Seq(nn, _, lo, hi) =>
      nn == n && lo >= 0.0 && hi <= 1.0 }

  def pass(): Unit = {
    val (f, nf) = rec.op("operators.features") {
      hold(pipeline.transform(panel))
    }
    rec.verify(nf == rows, s"features: $nf rows, expected $rows")
    stable("features", summary(f, pipeline.outputNames))
    lastFeatures = f
    if (signalExposure.isNaN) signalExposure = exposure(f, "signal")

    val (neut, nn) = rec.op("solvers.neutralize") {
      hold(neutralizer.outputsOnly(f))
    }
    val neutSummary = summary(neut, neutralizer.outputNames)
    rec.verify(nn == rows && unitInterval(neutSummary, rows),
      s"neutralize: outputs missing or outside [0, 1]: $neutSummary")
    stable("neutralize", neutSummary)
    val withNeut = f.select("rid", "era" +: exposed: _*).join(neut, "rid")
    neutralizer.outputNames.foreach { c =>
      val e = exposure(withNeut, c)
      rec.verify(e < signalExposure,
        s"neutralize: $c exposure $e not below the input's $signalExposure")
    }

    val (pen, np) = rec.op("solvers.penalize") {
      hold(penalizer.outputsOnly(f))
    }
    val penSummary = summary(pen, penalizer.outputNames)
    rec.verify(np == rows && unitInterval(penSummary, rows),
      s"penalize: outputs missing or outside [0, 1]: $penSummary")
    stable("penalize", penSummary)
    val e = exposure(f.select("rid", "era" +: exposed: _*).join(pen, "rid"),
      penalizer.outputNames.head)
    rec.verify(e < signalExposure,
      s"penalize: exposure $e not below the input's $signalExposure")

    val train = f.join(neut.select(col("rid"),
        col("`signal_neutralized_0.5`").as("neut_half")), "rid")
      .join(pen.select(col("rid"),
        col("`signal_penalized_0.1`").as("pen")), "rid")
    val model = rec.op("ml.fit") {
      new MLPRegressor(mlCols, "target", hidden = 16, lr = 0.03,
        epochs = 10, seed = 7L).fit(train)
    }
    val w = model.fittedWeights
    rec.verify((w.w1.flatten ++ w.b1 ++ w.w2 :+ w.b2).forall(!_.isNaN),
      "fit: non-finite weights")

    val (pred, npred) = rec.op("ml.predict") {
      hold(model.predict(train).select("rid", "prediction", "target"))
    }
    val r = pred.agg(count(col("prediction")),
      corr(col("prediction"), col("target"))).head()
    rec.verify(npred == rows && r.getLong(0) >= rows * 0.95,
      s"predict: ${r.getLong(0)} of $rows rows scored")
    val predCorr = r.getDouble(1)
    rec.verify(predCorr > 0.1,
      s"predict: corr(prediction, target) $predCorr")
    rec.count("corr", predCorr)
    stable("predict", summary(pred, Seq("prediction")))
  }

  /** The penalizer's convergence certificate (per era: final exposure
    * within cap + 0.01, loss improved, outputs in [0, 1]) and the
    * features of the last pass, written for the DuckDB recomputation. */
  override def finish(): Unit = {
    val bad = rec.op("solvers.penalize.certificate") {
      penalizer.certificate(lastFeatures).where(!(col("exposure_ok") &&
        col("loss_improved") && col("in_unit") && col("corr_ok"))).count()
    }
    rec.verify(bad == 0, s"penalize certificate: $bad eras fail")
    lastFeatures.select("rid", pipeline.outputNames: _*)
      .write.mode("overwrite").parquet(s"$work/features.parquet")
  }
}
