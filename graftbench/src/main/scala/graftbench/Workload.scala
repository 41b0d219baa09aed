package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark workload: seeded inputs plus the ops of one cycle. */
trait Workload {
  def name: String

  /** The spans of one cycle, in call order. */
  def spanNames: Seq[String]

  /** Path-fit spans: they also report passes and passes per lambda. */
  def pathFitSpans: Set[String] = Set.empty

  /** Generates the inputs from `seed`, writes them to parquet under `dir`,
    * reads them back and computes the ground truth the checks use. */
  def setup(spark: SparkSession, seed: Long, dir: String): Unit

  /** Runs every op once, in order, checking each output. */
  def cycle(r: Runner): Unit

  /** Named end-to-end measures of one cycle: (name, value, unit). */
  def measures(opWall: collection.Map[String, Double],
               values: collection.Map[String, Double]): Seq[(String, Double, String)]

  /** The workload's worst output-quality ratio in one cycle. */
  def qualityMin(values: collection.Map[String, Double]): Double

  protected def sumOf(opWall: collection.Map[String, Double],
                      spans: Seq[String]): Double =
    spans.map(s => opWall.getOrElse(s, Double.NaN)).sum
}

object Workload {
  val names: Seq[String] = Seq("glm_dense", "glm_sparse_cv", "corpus")

  /** The workload at full size, or at a tiny size for warm-up. */
  def apply(name: String, tiny: Boolean): Workload = name match {
    case "glm_dense"     => new GlmDense(tiny)
    case "glm_sparse_cv" => new GlmSparseCv(tiny)
    case "corpus"        => new Corpus(tiny)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  /** Writes `df` to parquet at `path` and returns the re-read frame, so
    * every op pays its own scan as a user's job would. */
  def roundTrip(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Materializes every column of `df` without keeping the rows. */
  def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
