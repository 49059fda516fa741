package graft.tools

import graft.GraftSession
import org.apache.spark.sql.functions._

/** Signal-bearing classifier fixture (bench-only, like [[ScaleUp]]):
  * the driver's synthetic `documents` corpus draws every source from
  * the SAME word soup, so a curated-vs-crawl classifier trained on it
  * converges to the majority class and keeps nothing — honest, but it
  * means the curation chain's `classifier_filter` stage never
  * exercised a nonzero kept set end-to-end (round-11 verdict's one
  * evidence gap). Real corpora are the opposite: curated sources
  * (Wikipedia-like) and crawl sources have visibly different word
  * distributions — that distributional gap IS what the CCNet/GPT-3
  * quality classifier learns.
  *
  * This tool plants that gap deterministically: for each document, a
  * `signalPct`% slice of word POSITIONS (chosen by
  * `xxhash64(doc_id, pos) % 100`, so the choice is a pure function of
  * the row — no RNG, identical across runs and engines) is replaced
  * with a word from the class vocabulary — `cw<j>` for documents from
  * positive sources (src0..src3, the [[graft.ops.TextAnalysis]]
  * curated proxy), `kw<j>` for the rest, j from a second position
  * hash over a 40-word vocabulary. The remaining (100−signalPct)% of
  * positions keep the original shared soup — the classes overlap
  * everywhere except the planted signal, so the classifier has to
  * learn the vocabularies, not memorize documents. Applied AFTER
  * [[ScaleUp]] replication the signal vocabulary is shared across
  * replicas (replica word-suffixing only applies to the surviving
  * soup words), so a 10× signal fixture trains the same concept at
  * 10× the evidence.
  *
  * Only `documents.parquet` is written — every curation stage
  * (`tools/curation_bench_r12_signal.jsonl`) reads just the documents
  * table.
  *
  * Usage: SignalFixture <srcSfDir> <outDir> [signalPct=30]
  */
object SignalFixture {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val signalPct = if (args.length > 2) args(2).toInt else 30
    require(signalPct > 0 && signalPct <= 100, s"signalPct in (0,100]: $signalPct")
    val spark = GraftSession.local()
    import spark.implicits._

    val pos = graft.ops.TextAnalysis.perceptronPosSources
    val docs = spark.read.parquet(s"$src/documents.parquet")
    docs
      .withColumn("__vocab", when($"source".isin(pos: _*), lit("cw")).otherwise(lit("kw")))
      .withColumn("text", concat_ws(" ",
        transform(split($"text", " "), (w, i) =>
          when(pmod(xxhash64($"doc_id", i), lit(100)) < lit(signalPct),
            concat($"__vocab", pmod(xxhash64($"doc_id", i, lit(1)), lit(40))))
            .otherwise(w))))
      .withColumn("n_chars", length($"text"))
      .drop("__vocab")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    println(s"[signal] $src -> $out at $signalPct% signal positions")
    spark.stop()
  }
}
