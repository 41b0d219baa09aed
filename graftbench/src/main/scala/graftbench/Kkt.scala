package graftbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.SgdNetModel

/** Independent optimality check of a fitted lasso path (alpha = 1).
  *
  * With standardized features x~_j = (x_j - m_j) / sd_j (population sd)
  * and r = y - mu(eta), the KKT conditions of
  * loss/n + lambda * |beta|_1 are
  *   g_j = sum_i x~_ij r_i / n = lambda * sign(beta_j)  if beta_j != 0,
  *   |g_j| <= lambda                                      otherwise.
  * The residual at one lambda is the largest violation over j and
  * classes, divided by that lambda, so it is as strict at the end of the
  * path as at its start. Everything here is the benchmark's own
  * arithmetic; nothing calls the solver. */
object Kkt {

  /** The sums one aggregate gathers: per feature sum and sum of squares,
    * per (lambda, class) the residual sum and x-weighted residual sums. */
  final case class Sums(n: Double, s: Array[Double], q: Array[Double],
                        r: Array[Array[Double]], g: Array[Array[Array[Double]]])

  /** The relative KKT residual at each of the path points `ls`. */
  def residuals(m: SgdNetModel, ls: Seq[Int], sums: Sums): Seq[Double] = {
    val p = sums.s.length
    val worst = Array.fill(ls.length)(0.0)
    for ((l, li) <- ls.zipWithIndex; t <- 0 until m.nResponses; j <- 0 until p) {
      val mj = sums.s(j) / sums.n
      val sd = math.sqrt(math.max(sums.q(j) / sums.n - mj * mj, 0.0))
      if (sd > 0) {
        val g = (sums.g(li)(t)(j) - mj * sums.r(li)(t)) / (sums.n * sd)
        val b = m.beta(l)(t)(j)
        val lam = m.lambda(l)
        val v =
          if (b != 0.0) math.abs(g - lam * math.signum(b))
          else math.max(math.abs(g) - lam, 0.0)
        worst(li) = math.max(worst(li), v / lam)
      }
    }
    worst.toSeq
  }

  /** Mean of class `t` from the linear predictors `eta` of all classes. */
  def mean(family: String, eta: Array[Double], t: Int): Double = family match {
    case "binomial"    => 1.0 / (1.0 + math.exp(-eta(t)))
    case "poisson"     => math.exp(eta(t))
    case "multinomial" =>
      val mx = eta.max
      math.exp(eta(t) - mx) / eta.map(e => math.exp(e - mx)).sum
    case _             => eta(t)
  }

  /** KKT residuals of `m` at path points `ls`, from one aggregate over
    * rows (indices, values, label) of width `dim`; `indices` null means a
    * dense row. Also returns, per checked lambda, the mean deviance with
    * the probability clamped to [1e-5, 1 - 1e-5] (binomial models only:
    * what `SgdNetModel.score(.., "deviance")` must report). */
  def check(rows: RDD[(Array[Int], Array[Double], String)], m: SgdNetModel,
            dim: Int, ls: Seq[Int]): (Seq[Double], Seq[Double]) = {
    val family = m.family
    val k = m.nResponses
    val labels = m.classLabels
    val coef = ls.map(l => (m.a0(l), m.beta(l))).toArray
    val nl = coef.length
    // layout: n | s(dim) | q(dim) | r(nl, k) | g(nl, k, dim) | dev(nl)
    val rOff = 1 + 2 * dim
    val gOff = rOff + nl * k
    val dOff = gOff + nl * k * dim
    val width = dOff + nl
    val acc = rows.treeAggregate(new Array[Double](width))(
      seqOp = { case (a, (ix, vx, lab)) =>
        val nnz = vx.length
        def at(q: Int): Int = if (ix == null) q else ix(q)
        a(0) += 1
        var q = 0
        while (q < nnz) {
          a(1 + at(q)) += vx(q)
          a(1 + dim + at(q)) += vx(q) * vx(q)
          q += 1
        }
        val eta = new Array[Double](k)
        var li = 0
        while (li < nl) {
          val (a0, b) = coef(li)
          var t = 0
          while (t < k) {
            var e = a0(t)
            q = 0
            while (q < nnz) { e += b(t)(at(q)) * vx(q); q += 1 }
            eta(t) = e
            t += 1
          }
          t = 0
          while (t < k) {
            val y = family match {
              case "binomial"    => if (lab == labels(1)) 1.0 else 0.0
              case "multinomial" => if (lab == labels(t)) 1.0 else 0.0
              case _             => lab.toDouble
            }
            val mu = mean(family, eta, t)
            val r = y - mu
            a(rOff + li * k + t) += r
            val base = gOff + (li * k + t) * dim
            q = 0
            while (q < nnz) { a(base + at(q)) += vx(q) * r; q += 1 }
            if (family == "binomial") {
              val pc = math.min(math.max(mu, 1e-5), 1 - 1e-5)
              a(dOff + li) += -2.0 * (y * math.log(pc) + (1 - y) * math.log(1 - pc))
            }
            t += 1
          }
          li += 1
        }
        a
      },
      combOp = (a, b) => { var i = 0; while (i < width) { a(i) += b(i); i += 1 }; a },
      depth = 2)
    val n = acc(0)
    val sums = Sums(n, acc.slice(1, 1 + dim), acc.slice(1 + dim, 1 + 2 * dim),
      Array.tabulate(nl, k)((li, t) => acc(rOff + li * k + t)),
      Array.tabulate(nl, k)((li, t) =>
        acc.slice(gOff + (li * k + t) * dim, gOff + (li * k + t + 1) * dim)))
    val dev = if (family == "binomial") (0 until nl).map(li => acc(dOff + li) / n) else Nil
    (residuals(m, ls, sums), dev)
  }

  /** Rows of a dense frame: feature columns plus the label as a string. */
  def denseRows(df: DataFrame, features: Seq[String],
                label: String): RDD[(Array[Int], Array[Double], String)] =
    df.select(features.map(f => col(f).cast("double")) :+ col(label).cast("string"): _*)
      .rdd.map(row => (null, Array.tabulate(features.length)(row.getDouble), row.getString(features.length)))

  /** Rows of a CSR frame (indices, values, label). */
  def sparseRows(df: DataFrame, idxCol: String, valCol: String,
                 label: String): RDD[(Array[Int], Array[Double], String)] =
    df.select(col(idxCol), col(valCol).cast("array<double>"), col(label).cast("string"))
      .rdd.map(row => (row.getSeq[Int](0).toArray, row.getSeq[Double](1).toArray, row.getString(2)))
}
