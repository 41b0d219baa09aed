package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.ml.{SgdNet, SgdNetModel, SgdNetParams}

/** Dense design with a planted 5-feature support: four path fits, then
  * scoring and prediction with the binomial path. Calls `graft.ml` only. */
final class GlmDense(tiny: Boolean) extends Workload {
  import GlmDense._

  private val rows = if (tiny) 2000 else Rows
  val name = "glm_dense"
  private val fits = Seq(
    "gaussian" -> ("y_g", 100), "binomial" -> ("y_b", 10),
    "poisson" -> ("y_p", 10), "multinomial" -> ("y_m", 3))
  private val fitSpan = fits.map { case (f, _) => f -> s"ml.SgdNet.fit.$f" }.toMap
  val spanNames: Seq[String] = fits.map(f => fitSpan(f._1)) ++
    Seq("ml.SgdNetModel.score", "ml.SgdNetModel.predict")
  override val pathFitSpans: Set[String] = fitSpan.values.toSet

  private val features = (0 until P).map(j => s"x$j")
  private var data: DataFrame = _
  private var support: Array[Int] = _

  def setup(spark: SparkSession, seed: Long, dir: String): Unit = {
    val rnd = new SplittableRandom(seed * 7919L + 1)
    support = shuffled(rnd, P).take(Support).sorted
    val beta = Array.fill(P)(0.0)
    // fixed magnitudes, random signs: every seed poses a problem of the same
    // difficulty, so solver work does not swing from seed to seed
    support.zipWithIndex.foreach { case (j, i) => beta(j) = Magnitudes(i) * (if (rnd.nextBoolean()) 1 else -1) }
    val scale = Array.fill(P)(0.5 + 1.5 * rnd.nextDouble())
    // the multinomial's second class: the same support with the magnitudes
    // rotated and a fixed sign pattern relative to beta, so that the pair
    // (eta, eta2) has the same distribution for every seed
    val beta2 = Array.fill(P)(0.0)
    support.indices.foreach { i =>
      val j = support(i)
      beta2(j) = math.signum(beta(j)) * (if (i % 2 == 0) 1 else -1) * Magnitudes((i + 2) % Support)
    }
    val out = (0 until rows).map { _ =>
      val x = Array.tabulate(P)(j => scale(j) * rnd.nextGaussian())
      var eta = 0.0
      var eta2 = 0.0
      support.foreach { j => eta += beta(j) * x(j) / scale(j); eta2 += beta2(j) * x(j) / scale(j) }
      val yg = 1.0 + eta + rnd.nextGaussian()
      val yb = if (rnd.nextDouble() < 1.0 / (1.0 + math.exp(0.3 - eta))) 1 else 0
      val yp = poisson(rnd, math.exp(0.5 + 0.3 * eta))
      val z = Array(math.exp(eta), math.exp(eta2), 1.0)
      val u = rnd.nextDouble() * z.sum
      val ym = if (u < z(0)) 0 else if (u < z(0) + z(1)) 1 else 2
      Row.fromSeq(x.toSeq ++ Seq[Any](yg, yb, yp, ym))
    }
    val schema = StructType(features.map(StructField(_, DoubleType)) ++ Seq(
      StructField("y_g", DoubleType), StructField("y_b", IntegerType),
      StructField("y_p", IntegerType), StructField("y_m", IntegerType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(out, Files), schema)
    data = Workload.roundTrip(df, s"$dir/dense")
  }

  def cycle(r: Runner): Unit = apply(r, fits.map(fit(r, _)))

  private def fit(r: Runner, spec: (String, (String, Int))): Option[SgdNetModel] = {
    val (family, (label, nlambda)) = spec
    val span = fitSpan(family)
    val params =
      if (tiny) WarmUp.params(family)
      else if (family == "multinomial")
        SgdNetParams(family = family, nlambda = nlambda, lambdaMinRatio = MultinomialMinRatio)
      else SgdNetParams(family = family, nlambda = nlambda)
    val model = r.op(span)(SgdNet.fit(data, features, label, params))
    model.foreach { m =>
      r.record(s"$span.passes", m.npasses)
      r.record(s"$span.passes_per_lambda", m.npasses.toDouble / m.nLambda)
      r.checking(span)(GlmChecks.path(r, span, m, support))
      r.deep(span) {
        val (kkt, _) = Kkt.check(Kkt.denseRows(data, features, label), m, P, checkedLambdas(m))
        GlmChecks.kkt(r, span, kkt)
      }
    }
    model
  }

  /** Scores and predicts with the binomial path. */
  private def apply(r: Runner, models: Seq[Option[SgdNetModel]]): Unit = {
    r.record("fit_dev_ratio_min", models.flatten.map(_.devRatio.last).minOption.getOrElse(Double.NaN))
    val binomial = models(fits.indexWhere(_._1 == "binomial"))
    val scoreSpan = "ml.SgdNetModel.score"
    r.op(scoreSpan) {
      binomial.get.score(data, "deviance").orderBy("lambda_idx").collect()
    }.foreach { rows =>
      val m = binomial.get
      r.checking(scoreSpan) {
        r.check(scoreSpan, rows.length == m.nLambda, s"${rows.length} score rows")
        r.check(scoreSpan, rows.forall(row => java.lang.Double.isFinite(row.getDouble(2))),
          "non-finite score")
      }
      r.deep(scoreSpan) {
        val (_, dev) = Kkt.check(Kkt.denseRows(data, features, "y_b"), m, P, checkedLambdas(m))
        for ((l, own) <- checkedLambdas(m).zip(dev)) {
          val got = rows(l).getDouble(2)
          r.check(scoreSpan, math.abs(got - own) <= 1e-6 * math.max(1.0, own),
            s"deviance at lambda $l: $got vs $own")
        }
      }
    }

    val predictSpan = "ml.SgdNetModel.predict"
    r.op(predictSpan) {
      val m = binomial.get
      val out = m.predict(data, "response", checkedLambdas(m))
      Workload.drain(out)
      out
    }.foreach { out =>
      r.deep(predictSpan) {
        val m = binomial.get
        val ls = checkedLambdas(m)
        val worst = out.select(features.map(col) ++ ls.map(l => col(s"pred_$l")): _*)
          .rdd.map { row =>
            val x = Array.tabulate(P)(row.getDouble)
            ls.indices.map { i =>
              val eta = m.a0(ls(i))(0) + Corpus.dot(m.beta(ls(i))(0), x)
              math.abs(row.getDouble(P + i) - Kkt.mean("binomial", Array(eta), 0))
            }.max
          }.max()
        r.check(predictSpan, worst <= 1e-9, s"prediction differs by $worst")
      }
    }
  }

  def measures(opWall: collection.Map[String, Double],
               values: collection.Map[String, Double]): Seq[(String, Double, String)] = Seq(
    ("path_fit_s", sumOf(opWall, fits.map(f => fitSpan(f._1))), "s"),
    ("score_s", sumOf(opWall, Seq("ml.SgdNetModel.score", "ml.SgdNetModel.predict")), "s"),
    ("fit_dev_ratio_min", values.getOrElse("fit_dev_ratio_min", Double.NaN), "ratio"))

  def qualityMin(values: collection.Map[String, Double]): Double =
    values.getOrElse("fit_dev_ratio_min", Double.NaN)
}

object GlmDense {
  val Rows = 20000
  val P = 32
  val Support = 5
  val Magnitudes: Array[Double] = Array(1.0, 0.9, 0.8, 0.7, 0.6)
  val Files = 8
  /** Multinomial proximal-gradient fits take ~40 passes per lambda, so
    * that path stops at 20% of lambda_max to keep a cycle short. */
  val MultinomialMinRatio = 0.2

  /** Three path points checked in depth: a quarter in, mid-path, last. */
  def checkedLambdas(m: SgdNetModel): Seq[Int] = {
    val n = m.nLambda
    Seq(n / 4, n / 2, n - 1).distinct
  }

  def shuffled(rnd: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.range(0, n)
    for (i <- n - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  def poisson(rnd: SplittableRandom, mean: Double): Int = {
    val l = math.exp(-mean)
    var k = 0
    var p = rnd.nextDouble()
    while (p > l) { k += 1; p *= rnd.nextDouble() }
    k
  }
}

/** Warm-up fits: two path points and at most five solver iterations, so
  * every code path runs once without the pass count of a real path. */
object WarmUp {
  def params(family: String): SgdNetParams =
    SgdNetParams(family = family, nlambda = 2, maxit = 5)
}

/** Checks every path fit gets, from the model alone. */
object GlmChecks {
  def path(r: Runner, span: String, m: SgdNetModel, support: Array[Int]): Unit = {
    val last = m.nLambda - 1
    val missing = support.filterNot(j => m.beta(last).exists(_(j) != 0.0))
    r.check(span, missing.isEmpty,
      s"planted features ${missing.mkString(",")} are zero at the smallest lambda")
    val drops = (1 until m.nLambda).filter(l => m.devRatio(l) < m.devRatio(l - 1) - 1e-9)
    r.check(span, drops.isEmpty,
      s"devRatio decreases at path points ${drops.take(5).mkString(",")}")
    // 1e-9 of slack: the first path point's ratio is 0 up to round-off
    r.check(span, m.devRatio.forall(d => d >= -1e-9 && d <= 1.0), "devRatio outside [0, 1]")
  }

  /** Largest KKT violation allowed at a checked lambda, as a share of that
    * lambda (see [[Kkt]]). */
  val KktTolerance = 1e-3

  /** Prints the KKT residuals of `span` and fails it if one is too large. */
  def kkt(r: Runner, span: String, residuals: Seq[Double]): Unit = {
    val shown = residuals.map(v => f"$v%.3g").mkString(" ")
    println(s"[graftbench] KKT residual / lambda of $span at the checked lambdas: $shown")
    r.check(span, residuals.forall(_ <= KktTolerance), s"KKT residual / lambda $shown > $KktTolerance")
  }
}
