package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Ann, Dedup, TextAnalysis}

/** Training-corpus pipeline: near-duplicate removal in both cutover tiers,
  * the text quality filters, and IVF search. Calls `graft.ops` only. */
final class Corpus(tiny: Boolean) extends Workload {
  import Corpus._

  private val sz = if (tiny) TinySizes else FullSizes
  val name = "corpus"
  private val S = Spans
  val spanNames: Seq[String] = Seq(S.minhash, S.ccLocal, S.ccDistributed, S.keeper,
    S.gopher, S.c4, S.tfidf, S.trainIvf, S.ivfTopK)

  private var docs: DataFrame = _
  private var emb: DataFrame = _
  private var queries: DataFrame = _
  /** Each document's words exactly as they appear in its text. */
  private var words: Array[Array[String]] = _
  private var lineLens: Array[Array[Int]] = _
  private var quality: Array[Double] = _
  private var planted: Array[(Long, Long)] = _
  private var vecs: Array[Array[Double]] = _
  private var qvecs: Array[Array[Double]] = _
  private var exact: Array[Array[Long]] = _
  private var tfidfTruth: (Long, Long, Double) = _

  def setup(spark: SparkSession, seed: Long, dir: String): Unit = {
    val rnd = new SplittableRandom(seed * 15485863L + 5)
    genDocs(rnd)
    val docRows = (0 until sz.docs).map(i => Row(i.toLong, text(i), quality(i)))
    val docSchema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType), StructField("quality", DoubleType)))
    docs = Workload.roundTrip(spark.createDataFrame(
      spark.sparkContext.parallelize(docRows, GlmDense.Files), docSchema), s"$dir/docs")
    genVectors(rnd)
    val vecSchema = StructType(Seq(StructField("id", LongType),
      StructField("vec", ArrayType(DoubleType, containsNull = false))))
    def vecDf(vs: Array[Array[Double]], base: Long, path: String) =
      Workload.roundTrip(spark.createDataFrame(spark.sparkContext.parallelize(
        vs.indices.map(i => Row(base + i, vs(i).toSeq)), GlmDense.Files), vecSchema), path)
    emb = vecDf(vecs, 0L, s"$dir/emb")
    queries = vecDf(qvecs, QueryIdBase, s"$dir/queries")
    exact = exactTopK(vecs, qvecs, K)
    tfidfTruth = ownTfidf()
  }

  private def genDocs(rnd: SplittableRandom): Unit = {
    val tokens = new Array[Array[String]](sz.docs)
    lineLens = new Array[Array[Int]](sz.docs)
    quality = Array.fill(sz.docs)(rnd.nextDouble())
    val pairs = mutable.ArrayBuffer.empty[(Long, Long)]
    for (i <- 0 until sz.docs) {
      if (i % 10 == 9) {
        // planted near-copy of an earlier original: one token replaced,
        // which keeps the 3-shingle Jaccard near 0.9 (LSH threshold 0.6)
        var src = rnd.nextInt(i)
        while (src % 10 == 9) src = rnd.nextInt(i)
        val t = tokens(src).clone()
        val at = rnd.nextInt(t.length)
        var w = Vocab(zipf(rnd))
        while (w == t(at)) w = Vocab(zipf(rnd))
        t(at) = w
        tokens(i) = t
        lineLens(i) = lineLens(src)
        pairs += ((src.toLong, i.toLong))
      } else {
        val n = 50 + rnd.nextInt(21)
        tokens(i) = Array.fill(n)(Vocab(zipf(rnd)))
        val ls = mutable.ArrayBuffer.empty[Int]
        var left = n
        while (left > 0) {
          val l = math.min(left, 8 + rnd.nextInt(7))
          ls += l
          left -= l
        }
        // a short trailing line merges into the previous one
        if (ls.length > 1 && ls.last < 5) { val l = ls.remove(ls.length - 1); ls(ls.length - 1) += l }
        lineLens(i) = ls.toArray
      }
    }
    planted = pairs.toArray
    // every line ends in a period, attached to its last word
    words = tokens.indices.map { i =>
      val w = tokens(i).clone()
      lineLens(i).scanLeft(-1)(_ + _).tail.foreach(end => w(end) += ".")
      w
    }.toArray
  }

  /** Text of a document: its lines of words, joined by newlines. */
  private def text(i: Int): String = {
    val ends = lineLens(i).scanLeft(0)(_ + _)
    ends.sliding(2).map { case Array(a, b) => words(i).slice(a, b).mkString(" ") }.mkString("\n")
  }

  private def shingles(i: Int): Set[String] = {
    val ws = words(i)
    (0 to math.max(ws.length - Shingle, 0))
      .map(s => ws.slice(s, math.min(s + Shingle, ws.length)).mkString(" ")).toSet
  }

  private def genVectors(rnd: SplittableRandom): Unit = {
    // the cluster layout is the same for every seed (only the points are
    // drawn from it), so index quality and k-means work stay comparable
    val layout = new SplittableRandom(CentersSeed)
    val centers = Array.fill(Clusters, VecDim)(layout.nextGaussian())
    def point(): Array[Double] = {
      val c = centers(rnd.nextInt(Clusters))
      Array.tabulate(VecDim)(d => c(d) + Noise * rnd.nextGaussian())
    }
    vecs = Array.fill(sz.vectors)(point())
    qvecs = Array.fill(sz.queries)(point())
  }

  /** Exact top-k by cosine (ties to the lower id), on the driver. */
  private def exactTopK(c: Array[Array[Double]], q: Array[Array[Double]],
                        k: Int): Array[Array[Long]] = {
    val cn = c.map(norm)
    val out = new Array[Array[Long]](q.length)
    java.util.stream.IntStream.range(0, q.length).parallel().forEach { qi =>
      val qv = q(qi)
      val qn = norm(qv)
      // insertion into a sorted k-slot buffer; scanning ids in increasing
      // order with a strict comparison keeps the lower id on ties
      val best = Array.fill(k)(Double.NegativeInfinity)
      val ids = Array.fill(k)(-1L)
      for (i <- c.indices) {
        val s = dot(qv, c(i)) / (qn * cn(i))
        if (s > best(k - 1)) {
          var at = k - 1
          while (at > 0 && s > best(at - 1)) {
            best(at) = best(at - 1); ids(at) = ids(at - 1); at -= 1
          }
          best(at) = s; ids(at) = i
        }
      }
      out(qi) = ids
    }
    out
  }

  /** (rows, sum of tf, sum of tf-idf) of the tf-idf table. */
  private def ownTfidf(): (Long, Long, Double) = {
    val tf = (0 until sz.docs).map { i =>
      val m = mutable.HashMap.empty[String, Int]
      words(i).foreach(w => m(w) = m.getOrElse(w, 0) + 1)
      m
    }
    val df = mutable.HashMap.empty[String, Long]
    tf.foreach(_.keys.foreach(w => df(w) = df.getOrElse(w, 0L) + 1))
    val n = sz.docs.toDouble
    var sum = 0.0
    tf.foreach(_.foreach { case (w, c) => sum += c * math.log(n / df(w)) })
    (tf.map(_.size.toLong).sum, tf.map(_.values.sum.toLong).sum, sum)
  }

  def cycle(r: Runner): Unit = {
    dedup(r)
    textFilters(r)
    search(r)
  }

  /** minhashLsh, then both connectedComponentsStar tiers and keeperTable
    * on its pairs. */
  private def dedup(r: Runner): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = r.op(S.minhash) {
      Dedup.minhashLsh(docs, "id", "text").select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect()
    }.map { ps =>
      r.checking(S.minhash) {
        val found = ps.map(p => (math.min(p._1, p._2), math.max(p._1, p._2))).toSet
        val recall = planted.count(found.contains).toDouble / planted.length
        r.record("dedup_pair_recall", recall)
        // the share found samples LSH's per-pair hit rate, so the floor
        // sits 3 standard errors below MinPairRecall for this many pairs
        val floor = MinPairRecall -
          3 * math.sqrt(MinPairRecall * (1 - MinPairRecall) / planted.length)
        r.check(S.minhash, recall >= floor, f"planted pair recall $recall%.3f < $floor%.3f")
        val cache = mutable.HashMap.empty[Long, Set[String]]
        def sh(id: Long) = cache.getOrElseUpdate(id, shingles(id.toInt))
        val bad = ps.filter { case (a, b, j) =>
          val (x, y) = (sh(a), sh(b))
          val own = (x intersect y).size.toDouble / (x union y).size
          own < Threshold - 1e-9 || math.abs(own - j) > 1e-9
        }
        r.check(S.minhash, bad.isEmpty, s"${bad.length} pairs fail the Jaccard check, e.g. ${bad.headOption}")
      }
      ps.map(p => (p._1, p._2)).toSeq
    }
    val pairDf = pairs.map(_.toDF("id_a", "id_b"))
    val truth = pairs.map(components)
    def stars(span: String, bound: Long): Unit =
      r.op(span) {
        Dedup.connectedComponentsStar(pairDf.get, "id_a", "id_b", maxLocalEdges = bound)
          .as[(Long, Long)].collect()
      }.foreach { got =>
        r.checking(span) {
          val m = got.toMap
          r.check(span, got.length == m.size && m == truth.get,
            s"labels differ from union-find on ${(m.keySet ++ truth.get.keySet)
              .count(id => m.get(id) != truth.get.get(id))} ids")
        }
      }
    stars(S.ccLocal, 1L << 20)
    stars(S.ccDistributed, 0L)
    r.op(S.keeper) {
      Dedup.keeperTable(pairDf.get, "id_a", "id_b", docs, "id", "quality")
        .select("id", "cluster_id", "keeper_id", "keep")
        .as[(Long, Long, Long, Boolean)].collect()
    }.foreach { got =>
      r.checking(S.keeper) {
        val t = truth.get
        val keeperOf = t.toSeq.groupBy(_._2).view.mapValues(ms =>
          ms.map(_._1).maxBy(id => (quality(id.toInt), -id))).toMap
        val wrong = got.count { case (id, c, k, keep) =>
          !t.get(id).contains(c) || keeperOf(c) != k || keep != (id == k)
        }
        r.check(S.keeper, got.length == t.size && wrong == 0,
          s"${got.length} rows for ${t.size} ids, $wrong wrong")
      }
    }
  }

  /** The text filters; each output is computed whole (noop sink). */
  private def textFilters(r: Runner): Unit = {
    def filter(span: String, f: => DataFrame)(check: DataFrame => Unit): Unit =
      r.op(span) { val out = f; Workload.drain(out); out }
        .foreach(out => r.deep(span)(check(out)))
    filter(S.gopher, TextAnalysis.gopherRules(docs, "text")) { out =>
      val row = out.agg(count(lit(1)), sum("n_words")).head()
      val own = words.map(_.length.toLong).sum
      r.check(S.gopher, row.getLong(0) == sz.docs && row.getLong(1) == own,
        s"rows ${row.get(0)}, words ${row.get(1)} vs $own")
    }
    filter(S.c4, TextAnalysis.c4Filters(docs, "text")) { out =>
      val row = out.agg(sum("n_lines"), sum("n_kept_lines"),
        sum(col("c4_keep").cast("long"))).head()
      val own = lineLens.map(_.length.toLong).sum
      val keep = lineLens.count(_.length >= 3).toLong
      r.check(S.c4, row.getLong(0) == own && row.getLong(1) == own && row.getLong(2) == keep,
        s"lines ${row.get(0)}/${row.get(1)} vs $own, kept docs ${row.get(2)} vs $keep")
    }
    filter(S.tfidf, TextAnalysis.tfidf(docs, "id", "text")) { out =>
      val row = out.agg(count(lit(1)), sum("tf"), sum("tfidf")).head()
      val (n, tf, s) = tfidfTruth
      r.check(S.tfidf, row.getLong(0) == n && row.getLong(1) == tf &&
        math.abs(row.getDouble(2) - s) <= 1e-9 * math.abs(s),
        s"(${row.get(0)}, ${row.get(1)}, ${row.get(2)}) vs ($n, $tf, $s)")
    }
  }

  /** IVF training, then the top-k search with its centroids. */
  private def search(r: Runner): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val centers = r.op(S.trainIvf)(Ann.trainIvf(emb, "id", "vec", nlist = NList)).map { cs =>
      r.check(S.trainIvf, cs.length == NList && cs.forall(c =>
        c.length == VecDim && c.forall(java.lang.Double.isFinite)), "bad centroid table")
      cs
    }
    r.op(S.ivfTopK) {
      Ann.ivfTopKFixed(emb, queries, "id", "vec", K, centers.get, nprobe = NProbe)
        .select("query_id", "neighbor_id", "rank", "cos")
        .as[(Long, Long, Int, Double)].collect()
    }.foreach { got =>
      r.checking(S.ivfTopK) {
        val byQ = got.groupBy(_._1)
        var hits = 0
        var bad = 0
        for (qi <- qvecs.indices) {
          val rows = byQ.getOrElse(QueryIdBase + qi, Array.empty).sortBy(_._3)
          val qv = qvecs(qi)
          if (rows.length > K || rows.map(_._3).toSeq != (1 to rows.length) ||
              rows.map(_._2).distinct.length != rows.length) bad += 1
          rows.foreach { case (_, nb, _, c) =>
            val v = vecs(nb.toInt)
            if (math.abs(dot(qv, v) / (norm(qv) * norm(v)) - c) > 1e-9) bad += 1
          }
          val want = exact(qi).toSet
          hits += rows.count(x => want.contains(x._2))
        }
        val recall = hits.toDouble / (K * qvecs.length)
        r.record("ann_recall_at_10", recall)
        r.check(S.ivfTopK, bad == 0, s"$bad malformed result rows")
        r.check(S.ivfTopK, recall >= MinRecall, f"recall@10 $recall%.3f < $MinRecall")
      }
    }
  }

  def measures(opWall: collection.Map[String, Double],
               values: collection.Map[String, Double]): Seq[(String, Double, String)] = Seq(
    ("dedup_s", sumOf(opWall, Seq(S.minhash, S.ccLocal, S.ccDistributed, S.keeper)), "s"),
    ("text_filter_s", sumOf(opWall, Seq(S.gopher, S.c4, S.tfidf)), "s"),
    ("ann_build_s", sumOf(opWall, Seq(S.trainIvf)), "s"),
    ("ann_qps", sz.queries / opWall.getOrElse(S.ivfTopK, Double.NaN), "queries/s"),
    ("ann_recall_at_10", values.getOrElse("ann_recall_at_10", Double.NaN), "ratio"),
    ("dedup_pair_recall", values.getOrElse("dedup_pair_recall", Double.NaN), "ratio"))

  def qualityMin(values: collection.Map[String, Double]): Double =
    math.min(values.getOrElse("ann_recall_at_10", Double.NaN),
      values.getOrElse("dedup_pair_recall", Double.NaN))
}

object Corpus {
  final case class Sizes(docs: Int, vectors: Int, queries: Int)
  val FullSizes = Sizes(docs = 4000, vectors = 8000, queries = 500)
  // 100 queries keep the warm-up's recall@10 within reach of MinRecall
  val TinySizes = Sizes(docs = 400, vectors = 1000, queries = 100)

  object Spans {
    val minhash = "ops.Dedup.minhashLsh"
    val ccLocal = "ops.Dedup.connectedComponentsStar.local"
    val ccDistributed = "ops.Dedup.connectedComponentsStar.distributed"
    val keeper = "ops.Dedup.keeperTable"
    val gopher = "ops.TextAnalysis.gopherRules"
    val c4 = "ops.TextAnalysis.c4Filters"
    val tfidf = "ops.TextAnalysis.tfidf"
    val trainIvf = "ops.Ann.trainIvf"
    val ivfTopK = "ops.Ann.ivfTopKFixed"
  }

  val Threshold = 0.6 // Dedup.minhashLsh default
  val Shingle = 3     // Dedup.minhashLsh default
  val K = 10
  val NList = 64
  val NProbe = 8
  /** Planted-pair recall of minhashLsh below which it fails (about 0.96
    * is usual here). */
  val MinPairRecall = 0.9
  /** Least recall@10 the search must reach (about 0.86 is usual here). */
  val MinRecall = 0.7
  val VecDim = 64
  val Clusters = 20
  val Noise = 2.0
  val QueryIdBase = 10000000L
  val CentersSeed = 7L

  /** 4,000 lower-case words; common English stop words take the top ranks. */
  val Vocab: Array[String] = {
    val stops = Seq("the", "of", "and", "to", "a", "in", "that", "is", "with",
      "be", "have", "for", "it", "as", "was", "on", "by", "this", "are", "from")
    val rnd = new SplittableRandom(20240611L)
    val seen = mutable.LinkedHashSet.empty[String] ++= stops
    while (seen.size < 4000)
      seen += Array.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString
    seen.toArray
  }
  private val zipfCdf: Array[Double] = {
    val w = Vocab.indices.map(r => 1.0 / (r + 1)).scanLeft(0.0)(_ + _).tail
    w.map(_ / w.last).toArray
  }
  def zipf(rnd: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rnd.nextDouble())
    if (i >= 0) i else math.min(-i - 1, Vocab.length - 1)
  }

  /** Component label (smallest id) of every node of an edge list. */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(id => id -> find(id)).toMap
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
  def norm(a: Array[Double]): Double = math.sqrt(dot(a, a))
}
