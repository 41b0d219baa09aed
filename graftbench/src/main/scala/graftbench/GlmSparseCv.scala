package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.ml.{CvSgdNet, SgdNet, SgdNetParams}

/** CSR design (dim 400, 16 nonzeros a row, planted 5-feature support): a
  * sparse binomial path fit and three 5-fold cross-validations. */
final class GlmSparseCv(tiny: Boolean) extends Workload {
  import GlmSparseCv._

  private val rows = if (tiny) 2000 else Rows
  // the driver-side solves cost O(dim^2) and more whatever the row count,
  // so the warm-up input is narrow as well as short
  private val Dim = if (tiny) 40 else FullDim
  private val Nnz = if (tiny) 8 else FullNnz

  val name = "glm_sparse_cv"
  private val fitSpan = "ml.SgdNet.fitSparse.binomial"
  private val cvs = Seq(
    ("ml.CvSgdNet.fitSparse.binomial-deviance", "binomial", "y_b", "deviance", 10),
    ("ml.CvSgdNet.fitSparse.binomial-auc", "binomial", "y_b", "auc", 10),
    ("ml.CvSgdNet.fitSparse.gaussian", "gaussian", "y_g", "deviance", 20))
  private def params(family: String, nlambda: Int) =
    if (tiny) WarmUp.params(family) else SgdNetParams(family = family, nlambda = nlambda)
  val spanNames: Seq[String] = fitSpan +: cvs.map(_._1)
  override val pathFitSpans: Set[String] = Set(fitSpan)

  private var data: DataFrame = _
  private var support: Array[Int] = _

  def setup(spark: SparkSession, seed: Long, dir: String): Unit = {
    val rnd = new SplittableRandom(seed * 104729L + 3)
    support = GlmDense.shuffled(rnd, Dim).take(Support).sorted
    val inSupport = support.toSet
    val beta = Array.fill(Dim)(0.0)
    support.zipWithIndex.foreach { case (j, i) =>
      beta(j) = 1.5 * GlmDense.Magnitudes(i) * (if (rnd.nextBoolean()) 1 else -1)
    }
    val others = (0 until Dim).filterNot(inSupport).toArray
    val out = (0 until rows).map { _ =>
      // each planted feature is present in half the rows; the rest of the
      // row's 16 nonzeros are spread uniformly over the other columns
      val picked = scala.collection.mutable.TreeSet.empty[Int]
      support.foreach(j => if (rnd.nextBoolean()) picked += j)
      while (picked.size < Nnz) picked += others(rnd.nextInt(others.length))
      val idx = picked.toArray
      val vals = idx.map(_ => rnd.nextGaussian())
      var eta = -0.2
      for (k <- idx.indices) eta += beta(idx(k)) * vals(k)
      val yb = if (rnd.nextDouble() < 1.0 / (1.0 + math.exp(-eta))) 1 else 0
      val yg = eta + 0.5 * rnd.nextGaussian()
      Row(idx.toSeq, vals.toSeq, yb, yg)
    }
    val schema = StructType(Seq(
      StructField("idx", ArrayType(IntegerType, containsNull = false)),
      StructField("val", ArrayType(DoubleType, containsNull = false)),
      StructField("y_b", IntegerType), StructField("y_g", DoubleType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(out, GlmDense.Files), schema)
    data = Workload.roundTrip(df, s"$dir/sparse")
  }

  def cycle(r: Runner): Unit = {
    val devs = mutable.ArrayBuffer.empty[Double]
    r.op(fitSpan) {
      SgdNet.fitSparse(data, "idx", "val", Dim, "y_b", params("binomial", 10))
    }.foreach { m =>
      r.record(s"$fitSpan.passes", m.npasses)
      r.record(s"$fitSpan.passes_per_lambda", m.npasses.toDouble / m.nLambda)
      devs += m.devRatio.last
      r.checking(fitSpan)(GlmChecks.path(r, fitSpan, m, support))
      r.deep(fitSpan) {
        val (kkt, _) = Kkt.check(Kkt.sparseRows(data, "idx", "val", "y_b"), m, Dim,
          GlmDense.checkedLambdas(m))
        GlmChecks.kkt(r, fitSpan, kkt)
      }
    }
    for ((span, family, label, measure, nlambda) <- cvs) {
      r.op(span) {
        CvSgdNet.fitSparse(data, "idx", "val", Dim, label,
          params(family, nlambda), nfolds = Folds, measure = measure)
      }.foreach { cv =>
        val best = cv.best
        devs += best.fit.devRatio.last
        r.checking(span) {
          r.check(span, best.lambda.contains(best.lambdaMin),
            s"lambda.min ${best.lambdaMin} is not on the path")
          r.check(span, best.cvm.nonEmpty && best.cvm.forall(java.lang.Double.isFinite),
            "cvm is not finite")
          GlmChecks.path(r, span, best.fit, support)
        }
      }
    }
    r.record("fit_dev_ratio_min", devs.minOption.getOrElse(Double.NaN))
  }

  def measures(opWall: collection.Map[String, Double],
               values: collection.Map[String, Double]): Seq[(String, Double, String)] = Seq(
    ("path_fit_s", sumOf(opWall, Seq(fitSpan)), "s"),
    ("cv_s", sumOf(opWall, cvs.map(_._1)), "s"),
    ("fit_dev_ratio_min", values.getOrElse("fit_dev_ratio_min", Double.NaN), "ratio"))

  def qualityMin(values: collection.Map[String, Double]): Double =
    values.getOrElse("fit_dev_ratio_min", Double.NaN)
}

object GlmSparseCv {
  val Rows = 10000
  val FullDim = 400
  val FullNnz = 16
  val Support = 5
  val Folds = 5
}
