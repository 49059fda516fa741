package graft.ops

import graft.SparkSpec

/** Differential pin for the hard-negatives attach formulation: the
  * merged two-join attach (one (vec_id, xq, n2, label) side table per
  * endpoint) must be row-identical to the four-join reference it
  * replaced — base and labels are key-unique on vec_id, so merging the
  * 1:1 attaches cannot change the candidate set, the label filter, or
  * any cosine. The catalog row's DuckDB oracle checks the same thing
  * end-to-end per scale factor; this spec keeps the equivalence
  * exercised in-suite, both formulations in one JVM.
  */
class HardNegativesJoinSpec extends SparkSpec {

  test("merged two-join attach == four-join reference, row for row") {
    val dir = "/root/testdata/sf0.001"
    def rows(fourJoinRef: Boolean): Seq[String] =
      Similarity.hardNegativesImpl(spark, dir, fourJoinRef)
        .collect().map(_.toString).toSeq
    val merged = rows(fourJoinRef = false)
    val ref = rows(fourJoinRef = true)
    assert(merged.nonEmpty, "fixture produced no hard negatives")
    assert(merged == ref,
      s"attach formulations diverge: merged ${merged.size} rows vs " +
        s"reference ${ref.size}")
  }
}
