package graft

import graft.CacheScope._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for the operator catalog.
  *
  * == The integer bridge (deterministic float aggregation) ==
  * Summing doubles is order-dependent; Spark's partial/final hash
  * aggregation and DuckDB's single-threaded sum visit rows in different
  * orders, so `SUM(double)` hash-mismatches the oracle in the last bits.
  * (A decimal-typed sum is exact, but the final DECIMAL→DOUBLE conversion
  * is correctly rounded in the JVM and 1-ulp-off in DuckDB's int128
  * path, so decimals don't bridge either — measured, not speculation.)
  * Bridge: round each addend to a fixed decimal scale and cast to BIGINT
  * (deterministic per row — IEEE multiply + half-away-from-zero round in
  * both engines), sum exactly in int64 (order-independent), then one
  * deterministic int64→double conversion and a final divide. Both engines
  * produce bit-identical doubles. Per-row *double* arithmetic before the
  * bridge (e.g. `price * (1 - disc)`) is IEEE-deterministic and safe.
  * Capacity: scaled sum must fit int64 — scale 4 holds ~9e14 in unit
  * terms, far past sf100 sums.
  */
package object ops {

  /** Deterministic SUM over a double column: integer bridge, see above. */
  def dsum(c: Column, scale: Int = 4): Column = {
    val f = math.pow(10, scale)
    sum(round(c * lit(f)).cast("long")).cast("double") / lit(f)
  }

  /** Deterministic AVG: exact int64 sum divided by count, in double. */
  def davg(c: Column, scale: Int = 4): Column =
    dsum(c, scale) / count(c)

  /** SQL-side twin of [[dsum]] for the DuckDB oracle strings.
    * DuckDB sums BIGINT into HUGEINT, hence the inner re-cast. */
  def dsumSql(expr: String, scale: Int = 4): String = {
    val f = s"1e$scale"
    s"(CAST(CAST(SUM(CAST(round(($expr) * $f) AS BIGINT)) AS BIGINT) AS DOUBLE) / $f)"
  }

  /** SQL-side twin of [[davg]]. */
  def davgSql(expr: String, scale: Int = 4): String =
    s"(${dsumSql(expr, scale)} / COUNT($expr))"

  /** Lineage cut for iterate-until-converge loops: truncate the plan
    * (a registered `CacheScope` cut) AND rebuild the result as a
    * fresh leaf so the origin plan's SIZE ESTIMATE is
    * dropped along with its lineage. Without the rebuild,
    * `LogicalRDD.fromDataset` carries the source plan's `sizeInBytes`
    * forward — and size-only join estimation is a PRODUCT over
    * children, so each round's estimate multiplies estimates that
    * already contain every earlier round's: the BigInt digit count
    * DOUBLES per round, and past ~20 rounds the driver spends minutes
    * per cut inside `BigInteger.multiply` during stats visitation
    * (hit for real: pagerankConverged on the 10× fixture, jstack'd
    * mid-hang in ToomCook3 — PLANS.md r9). The rebuilt leaf reports
    * the session-default size, so per-round stats work is constant
    * forever. Data cost: one extra row decode/encode per consumption
    * of the cut table — node-table-sized, paid once per round, far
    * below the round's own shuffle.
    *
    * Broadcast implication of the rebuilt leaf: session-default
    * sizeInBytes is effectively "huge", so the STATIC planner will
    * never size-based-broadcast a cut frame — join strategy for the
    * per-round state inside the converge loops comes from AQE's
    * runtime stats (on in every engine session). If AQE were disabled,
    * hint small hot frames explicitly (`broadcast(...)`) instead of
    * relying on the estimate this rebuild deliberately drops.
    */
  def lineageCut(df: DataFrame, reliable: Boolean): DataFrame =
    freshLeaf(df.cutScoped(reliable))

  /** [[lineageCut]]'s rebuild of a cut `ck`, whose blocks it reads. */
  private[ops] def freshLeaf(ck: DataFrame): DataFrame =
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)

  /** Rounds between reliable checkpoints in [[untilStable]]. */
  private val reliableEvery = 5

  /** The one iterate-until-stable driver behind the converge loops
    * (connected components, star contraction, PageRank, k-core, LPA).
    * Runs `step` from `init` until it reports a stable state and
    * returns that state with the number of rounds it took.
    *
    * Each round, `step` gets the current state and that round's
    * [[lineageCut]], and returns (next state, stable?, detail for the
    * error message). Every cut truncates the plan (and its size
    * estimate); the loop would otherwise re-execute and re-plan its
    * whole history every round. With `checkpointDir` set, every 5th
    * round's cut (`reliableEvery`) is a RELIABLE checkpoint (written to
    * the dir — typically HDFS/S3 — via `SparkContext.setCheckpointDir`),
    * so an executor death replays at most 5 rounds instead of losing
    * the executor-local blocks `localCheckpoint` keeps; the rounds in
    * between cut locally. `maxRounds` is a runaway guard, not
    * a semantic bound: hitting it without a stable state is an error,
    * never a silent partial result. `stable = true` returns `init`
    * after zero rounds.
    * Round r's cuts are released once round r+1's step has returned
    * (its state reads its own cuts), so the loop holds one round's
    * blocks whatever its round count; the final state's stay registered.
    */
  private[ops] def untilStable[S](what: String, maxRounds: Int,
      checkpointDir: Option[String])(init: S, stable: Boolean = false)(
      step: (S, DataFrame => DataFrame) => (S, Boolean, String)): (S, Int) = {
    checkpointDir.foreach(SparkSession.active.sparkContext.setCheckpointDir)
    var state = init
    var done = stable
    var detail = ""
    var round = 0
    var held = List.empty[DataFrame]
    while (!done && round < maxRounds) {
      round += 1
      val reliable = checkpointDir.isDefined && round % reliableEvery == 0
      var cuts = List.empty[DataFrame]
      val (next, ok, why) = step(state,
        df => { val ck = df.cutScoped(reliable); cuts ::= ck; freshLeaf(ck) })
      held.foreach(CacheScope.release)
      held = cuts
      state = next
      done = ok
      detail = why
    }
    require(done,
      s"$what did not converge to a fixpoint in $maxRounds rounds ($detail)")
    (state, round)
  }
}
