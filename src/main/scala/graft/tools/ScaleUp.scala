package graft.tools

import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bench-only fixture scale-up: replicates a driver-generated sf
  * directory K× with per-replica transforms chosen so query WORK scales
  * linearly instead of degenerating:
  *
  *  - every key column shifts by replica·stride, so joins and
  *    grouping stay intra-replica (no cross-replica fan-out);
  *  - document words get a per-replica suffix, so replica shingle
  *    spaces are disjoint — the LSH/jaccard/simhash pair structure
  *    becomes K independent copies of the source corpus rather than a
  *    K²-quadratic pile of exact duplicates;
  *  - embeddings apply a per-replica deterministic diagonal ±1 sign
  *    flip (an orthogonal transform): intra-replica cosines/distances
  *    are preserved EXACTLY, cross-replica vectors decorrelate, so ANN
  *    work scales like real corpus growth;
  *  - fixed-size dims (region, nation) copy unchanged.
  *
  * This measures CONSTANTS at 10× (the point of a larger-sf bench run);
  * it is not a correctness fixture — the DuckDB gate stays on the
  * driver-generated sf0.01.
  *
  * Skew mode (optional 4th arg, percent): real event logs are zipfian,
  * not uniform — `skewPct` routes that percentage of each replica's
  * `events` rows to ONE hot user (`r·stride + 1`, a key that exists in
  * customer so enrichment joins still match). Selection is
  * `hash(event_id) % 100 < skewPct` — deterministic, and the hot rows
  * keep their original timestamps/types so per-user work is real. Only
  * `events` is skewed; every other table is identical to the benign
  * fixture, isolating the skew variable for A/B benchmarks.
  *
  * Long-doc mode (optional 5th arg, group size): corpora are
  * heavy-tailed in document LENGTH, the text-pipeline analog of hot
  * keys — replica 1's documents are concatenated in groups of
  * `longDocGroup` (ordered by doc_id, id = group min), producing docs
  * ~group× the median length while every other replica stays normal.
  * Exercises the per-row array ops (shingle zip_with, simhash fold,
  * banded levenshtein) on outlier rows without changing total tokens.
  *
  * Hub mode (optional 6th arg, copy count): zipfian LSH graphs have
  * super-hub documents — boilerplate near-duplicated thousands of
  * times whose band collisions form a near-clique and whose degree-d
  * node contributes d² wedges to a triangle join. `hubCopies` appends
  * that many near-copies of the lexicographically-first source doc
  * (original text + one copy-specific tail token, so copies collide in
  * most but not all bands — a realistic near-dup family, not an exact
  * clique), with fresh doc_ids in the `reps·stride` space. This is the
  * fixture that actually STRESSES the wedge join — the benign replica
  * suffixing deliberately keeps replica shingle spaces disjoint, so
  * graph ops never see a hub there.
  *
  * Usage: ScaleUp <srcSfDir> <outDir> <replicas> [skewPct=0] [longDocGroup=0] [hubCopies=0]
  */
object ScaleUp {

  private val stride = 100000000L

  def main(args: Array[String]): Unit = {
    val (src, out, repStr, skewPct, longDocGroup, hubCopies) = args match {
      case Array(a, b, c) => (a, b, c, 0, 0, 0)
      case Array(a, b, c, d) => (a, b, c, d.toInt, 0, 0)
      case Array(a, b, c, d, e) => (a, b, c, d.toInt, e.toInt, 0)
      case Array(a, b, c, d, e, f) => (a, b, c, d.toInt, e.toInt, f.toInt)
    }
    val reps = repStr.toInt
    // events.ts is parquet TIMESTAMP(NANOS) (see Tables.t): read it as
    // raw long nanos and write it back as plain INT64 — Tables.t's
    // `ts div 1000` conversion handles both representations
    val spark = GraftSession.local(
      extra = Map("spark.sql.legacy.parquet.nanosAsLong" -> "true"))

    def replicate(table: String, finish: DataFrame => DataFrame = identity)(
        xform: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val all = (0 until reps).map(r => xform(base, r)).reduce(_ unionByName _)
      finish(all).write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"[scaleup] $table x$reps")
    }
    def shift(df: DataFrame, r: Int, keys: String*): DataFrame =
      keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(r * stride)))

    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    replicate("customer")((df, r) => shift(df, r, "c_custkey"))
    replicate("supplier")((df, r) => shift(df, r, "s_suppkey"))
    replicate("part")((df, r) => shift(df, r, "p_partkey"))
    replicate("orders")((df, r) => shift(df, r, "o_orderkey", "o_custkey"))
    replicate("lineitem")((df, r) =>
      shift(df, r, "l_orderkey", "l_partkey", "l_suppkey"))
    replicate("events") { (df, r) =>
      val shifted = shift(df, r, "event_id", "user_id")
      if (skewPct <= 0) shifted
      else shifted.withColumn("user_id",
        when(pmod(hash(col("event_id")), lit(100)) < lit(skewPct),
          lit(r * stride + 1L)).otherwise(col("user_id")))
    }
    def appendHub(all: DataFrame): DataFrame =
      if (hubCopies <= 0) all
      else {
        val seed = spark.read.parquet(s"$src/documents.parquet")
          .orderBy("doc_id").limit(1)
        val copies = seed.crossJoin(
            spark.range(hubCopies).select(col("id").as("copy")))
          .select((lit(reps * stride) + col("copy")).as("doc_id"),
            concat(col("text"), lit(" hubvariant"), col("copy")).as("text"),
            col("lang"), col("source"))
          .withColumn("n_chars", length(col("text")))
        all.unionByName(copies)
      }

    replicate("documents", appendHub) { (df, r) =>
      val tagged =
        if (r == 0) df
        else df.withColumn("text",
          concat_ws(" ", transform(split(col("text"), " "),
            w => concat(w, lit(s"_$r")))))
      val shaped =
        if (longDocGroup > 0 && r == 1)
          tagged
            .groupBy((col("doc_id") - col("doc_id") % longDocGroup).as("gid"))
            .agg(
              concat_ws(" ", array_sort(collect_list(
                struct(col("doc_id"), col("text")))).getField("text")).as("text"),
              first(col("lang")).as("lang"), first(col("source")).as("source"))
            .select(col("gid").as("doc_id"), col("text"), col("lang"), col("source"),
              length(col("text")).as("n_chars"))
        else tagged
      shift(shaped, r, "doc_id")
    }
    replicate("embeddings") { (df, r) =>
      val flipped =
        if (r == 0) df
        else df.withColumn("embedding",
          transform(col("embedding"), (x, i) =>
            when(pmod(hash(i, lit(r)), lit(2)) === 0, x).otherwise(negate(x))))
      shift(flipped, r, "vec_id")
    }
    spark.stop()
  }
}
