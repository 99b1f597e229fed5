package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSql

import graft.functions.TopKAgg
import graft.ops.Scoring

/** Rows-per-second rates of single public functions. Each input frame is
  * built with `spark.range` and materialized before timing; the function's
  * output goes to a noop sink (which forces the derived column — a plain
  * count() would prune it away) and a first pass is discarded.
  */
object Kernels {

  private def rate(tr: Tracer, layer: String, name: String, rows: Long,
                   input: DataFrame)(f: DataFrame => DataFrame): (String, Double) = {
    Session.noop(f(input))
    tr.span(layer, name) { Session.noop(f(input)) }
    s"$layer.$name.rows_per_s" -> rows / tr.get(layer, name).wallS
  }

  private val Vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the",
    "agg", "key", "query", "a", "scan", "batch")

  /** Deterministic pseudo-random word / double from (id, i). */
  private def word(id: Column, i: Column): Column =
    element_at(typedLit(Vocab), (pmod(hash(id, i), lit(Vocab.size)) + 1).cast("int"))
  private def unit(id: Column, i: Column): Column =
    pmod(xxhash64(id, i), lit(1000003L)).cast("double") / 1000003.0 - 0.5

  private def texts(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id"),
      concat_ws(" ", transform(sequence(lit(1), lit(40)), i => word(col("id"), i)))
        .as("text")).localCheckpoint()

  private def vectors(spark: SparkSession, n: Long, dim: Int): DataFrame =
    spark.range(n).select(col("id"),
      transform(sequence(lit(1), lit(dim)), i => unit(col("id"), i)).as("v"),
      transform(sequence(lit(1), lit(dim)), i => unit(col("id"), i + 1000)).as("w"))
      .withColumn("nrm", sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)))
      .localCheckpoint()

  /** The native Catalyst expressions, through their GraftSql wrappers. */
  def catalyst(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    val nText = 200000L
    val nVec = 200000L
    val dim = 64
    val t = texts(spark, nText)
    val v = vectors(spark, nVec, dim)
    val rnd = new scala.util.Random(7)
    val planes = Array.fill(16, dim)(rnd.nextGaussian())
    val cents = array((0 until 64).map { c =>
      val cv = Array.fill(dim)(rnd.nextGaussian())
      struct(lit(c.toLong).as("cid"), typedLit(cv.toSeq).as("cv"),
        lit(math.sqrt(cv.map(x => x * x).sum)).as("cnrm"))
    }: _*)
    val words = t.select(explode(split(col("text"), " ")).as("w")).limit(400000)
      .select(filter(split(col("w"), ""), c => length(c) > 0).as("syms")).localCheckpoint()
    val rules = Seq(("s", "p"), ("sp", "a"), ("a", "r"), ("e", "r"), ("t", "a"),
      ("o", "r"), ("i", "n"), ("c", "o"))
    Seq(
      rate(tr, "catalyst", "shingles", nText, t)(_.select(GraftSql.shingles(col("text"), 3))),
      rate(tr, "catalyst", "md5_hash64", nText, t)(_.select(GraftSql.md5Hash64(col("text")))),
      rate(tr, "catalyst", "sign_buckets", nVec, v)(
        _.select(GraftSql.signBuckets(col("v"), planes, 4))),
      rate(tr, "catalyst", "argmax_cos", nVec, v)(
        _.select(GraftSql.argmaxCos(cents, col("v"), col("nrm"), lit(-1L)))),
      rate(tr, "catalyst", "bpe_merge", words.count(), words)(
        _.select(GraftSql.bpeMerge(col("syms"), rules))),
      rate(tr, "catalyst", "dot_fast", nVec, v)(_.select(GraftSql.dotFast(col("v"), col("w")))),
      rate(tr, "catalyst", "deflate_len", nText, t)(_.select(GraftSql.deflateLen(col("text"))))
    ).toMap
  }

  /** The scoring fold (graft.ops.Scoring) and the bounded top-K aggregator
    * (graft.functions.TopKAgg) the association stage runs per group.
    */
  def scoring(spark: SparkSession, tr: Tracer): Map[String, Double] = {
    val nArr = 1000000L
    val arrays = spark.range(nArr)
      .select(sort_array(transform(sequence(lit(1), lit(12)),
        i => unit(col("id"), i) + 0.5), asc = false).as("s"))
      .localCheckpoint()
    val nRows = 1000000L
    val scores = spark.range(nRows)
      .select(pmod(col("id"), lit(nRows / 8)).as("g"), (unit(col("id"), lit(0)) + 0.5).as("s"))
      .localCheckpoint()
    Seq(
      rate(tr, "ops", "harmonic_fold", nArr, arrays)(
        _.select(Scoring.harmonicFold(col("s")))),
      rate(tr, "functions", "topk_agg", nRows, scores)(
        _.groupBy(col("g")).agg(TopKAgg.topK(col("s"), 100)))
    ).toMap
  }
}
