package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Derives a larger testdata directory from a driver-generated one by
  * replicating every table `factor`× with per-copy decorrelation, for scale
  * smokes one order of magnitude above the biggest shipped fixture
  * (SCALE.md "sf1 smoke"). Copy 0 is the identity, so the source data is a
  * subset of the output.
  *
  * Decorrelation choices (the point is to keep the WORKLOAD SHAPE of each
  * operator family realistic at 10×, not just its row count):
  * - relational tables: keys offset by copy·10¹² — foreign-key structure,
  *   skew, and modular fixtures (e.g. l_orderkey % 4) survive because the
  *   offset is divisible by the moduli the queries use;
  * - documents: ~half the tokens get a copy-specific suffix, so cross-copy
  *   Jaccard lands ≈ 0.33 — BELOW the 0.5 LSH near-dup bar. Naive text
  *   replication would put every doc in a factor-sized dup cluster and blow
  *   the candidate-pair table up quadratically — a different (and wrong)
  *   workload;
  * - embeddings: elementwise Rademacher sign flip per (copy, dimension) —
  *   norms preserved exactly, expected cross-copy cosine 0, so the ANN
  *   near-dup rate stays per-copy instead of exploding;
  * - events: ids/users offset, `ts` passed through UNCONVERTED in whatever
  *   physical form the source fixture uses (long nanos or timestamp[us] —
  *   Core.table branches on the scanned type either way).
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <outDir> <factor> [stage]
  *
  * `stage` (default 1) composes sweeps: a stage-2 run takes a stage-1
  * OUTPUT as its source and shifts every decorrelation constant past the
  * range stage 1 used — key offset 10^14 (> any stage-1 factor-100 id),
  * time shift 6400 days (> stage 1's 30 + 99·64-day horizon), fresh
  * salt/sign seeds (offset by 1024 so no stage-2 copy reuses a stage-1
  * mask — dim-64 sign masks make accidental xor-collisions ~2^-64).
  * Copy 0 stays the identity at every stage, so sf0.1 ⊂ sf10 ⊂ sf100.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args.take(3)
    val factor = factorS.toInt
    val stage = if (args.length > 3) args(3).toInt else 1
    require(factor >= 1, s"factor must be >= 1: $factor")
    require(stage == 1 || stage == 2, s"stage must be 1 or 2: $stage")
    // 10^12 / 10^14: both divisible by the moduli fixtures use (4, 100)
    val KeyOffset = if (stage == 1) 1000000000000L else 100000000000000L
    val ShiftDaysPerCopy = if (stage == 1) 64L else 6400L
    val SeedOff = if (stage == 1) 0 else 1024
    val spark = graft.Session.start("WARN")

    def raw(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    /** Union of `factor` transformed copies; copy 0 must be the identity. */
    def replicate(name: String)(tf: (DataFrame, Int) => DataFrame): Unit = {
      val base = raw(name)
      val full = (0 until factor).map(c => tf(base, c)).reduce(_ unionByName _)
      full.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name -> ${factor}x")
    }

    def off(c: Int) = lit(c.toLong * KeyOffset)

    // pure dims: copy once, unchanged
    Seq("region", "nation").foreach { t =>
      raw(t).write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t -> 1x (dim)")
    }

    // c_name gets a per-copy suffix so the DISTINCT name domain grows with
    // the factor (keys decorrelate like everything else): without it the
    // fuzzy-join's variant table is constant-domain at any factor and its
    // scale rows prove nothing (r8 verdict). Suffix -NN keeps each copy's
    // internal edit-distance structure intact and adds only
    // adjacent-digit cross-copy pairs; copy 0 stays the identity.
    replicate("customer")((df, c) =>
      df.withColumn("c_custkey", col("c_custkey") + off(c))
        .withColumn("c_name",
          if (c == 0) col("c_name")
          else concat(col("c_name"),
            lit(if (stage == 1) f"-$c%02d" else f"=$c%02d"))))
    replicate("supplier")((df, c) =>
      df.withColumn("s_suppkey", col("s_suppkey") + off(c)))
    replicate("part")((df, c) =>
      df.withColumn("p_partkey", col("p_partkey") + off(c)))
    replicate("orders")((df, c) =>
      df.withColumn("o_orderkey", col("o_orderkey") + off(c))
        .withColumn("o_custkey", col("o_custkey") + off(c)))
    replicate("lineitem")((df, c) =>
      df.withColumn("l_orderkey", col("l_orderkey") + off(c))
        .withColumn("l_partkey", col("l_partkey") + off(c))
        .withColumn("l_suppkey", col("l_suppkey") + off(c)))
    // ts MUST decorrelate along with the ids: the fixture spans 30 days, and
    // replicating users into the SAME wall-clock windows multiplies every
    // (time-window, event_type) co-occurrence group by `factor` — the
    // derived user-pair graph then grows ~factor², which OOM'd triangle
    // counting at 10× (measured r7). A copy-sized time shift models the
    // realistic shape — 10× more events over a longer horizon — so graph
    // sizes grow linearly like a real corpus. 64 days > the 30-day span;
    // works on both physical vintages (long nanos / timestamp[us]).
    replicate("events")((df, c) => {
      val shiftDays = c.toLong * ShiftDaysPerCopy
      val shifted = df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // driver-side Scala multiplication has no ANSI guard: at
          // ShiftDaysPerCopy=6400 the nanos shift wraps Long past copy
          // ~16 and silently corrupts the fixture (both engines would
          // read the same garbage, so oracles stay green). Fail fast.
          val shiftNanos = Math.multiplyExact(shiftDays, 86400L * 1000000000L)
          df.withColumn("ts", col("ts") + lit(shiftNanos))
        case _ =>
          df.withColumn("ts", col("ts") + expr(s"INTERVAL $shiftDays DAYS"))
      }
      shifted
        .withColumn("event_id", col("event_id") + off(c))
        .withColumn("user_id", col("user_id") + off(c))
    })

    replicate("documents")((df, c) =>
      if (c == 0) df
      else {
        val salted = array_join(
          transform(split(col("text"), " "), t =>
            when(pmod(hash(t, lit(c + SeedOff)), lit(2)) === 0,
              concat(t, lit(if (stage == 1) s"_c$c" else s"_d$c")))
              .otherwise(t)),
          " ")
        df.withColumn("doc_id", col("doc_id") + off(c))
          .withColumn("text", salted)
          .withColumn("n_chars", length(col("text")).cast("long"))
      })

    replicate("embeddings")((df, c) =>
      if (c == 0) df
      else df
        .withColumn("vec_id", col("vec_id") + off(c))
        .withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            when(pmod(hash(i, lit(c + SeedOff)), lit(2)) === 0, x).otherwise(-x)
              .cast("float"))))

    spark.stop()
  }
}
