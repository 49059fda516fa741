package graft.ops

import graft.SparkSpec

/** Power-iteration PCA: the catalog row gates numeric equality with
  * DuckDB; this spec checks the MATH does what PCA should — the
  * iteration converges onto a planted dominant axis and is invariant
  * to a constant shift (centering).
  */
class PcaSpec extends SparkSpec {
  import spark.implicits._

  private def vecsToDf(rows: Seq[(Long, Seq[Float])]) =
    rows.toDF("vec_id", "embedding")

  test("power iteration finds a planted dominant axis") {
    // variance concentrated on dim 2: x2 = ±1 alternating, all other
    // dims tiny deterministic jitter — the top principal direction is
    // e2, so the trained component must be ±1000 on dim 2 and small
    // elsewhere
    val d = 8
    val rows = (0 until 200).map { i =>
      val big = if (i % 2 == 0) 1.0f else -1.0f
      val v = (0 until d).map { j =>
        if (j == 1) big else ((i * 7 + j * 3) % 5 - 2) * 0.001f
      }
      (i.toLong, v)
    }
    val out = Similarity.pcaPowerOn(spark, vecsToDf(rows), rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == d)
    assert(math.abs(out(2L)) == 1000L, s"dominant dim must saturate the grid: $out")
    (1 to d).filter(_ != 2).foreach { j =>
      assert(math.abs(out(j.toLong)) < 100L,
        s"off-axis component $j too large: ${out(j.toLong)}")
    }
  }

  test("deflated top-2: two planted axes recovered in variance order") {
    // axis 2 carries the most variance (±1.0), axis 5 the second most
    // (±0.5); component 1 must saturate on axis 2, component 2 on
    // axis 5, and the off-axis mass stays small despite the grid
    // rounding deflation introduces
    val d = 8
    val rows = (0 until 240).map { i =>
      val a = if (i % 2 == 0) 1.0f else -1.0f
      val b = if ((i / 2) % 2 == 0) 0.5f else -0.5f
      (i.toLong, (0 until d).map { j =>
        if (j == 1) a else if (j == 4) b
        else ((i * 3 + j * 7) % 5 - 2) * 0.001f
      })
    }
    // components are trained in order, so c1 and c2 do not depend on
    // k; each k's deflation cuts are released by a drain
    def persistent = spark.sparkContext.getPersistentRDDs.keySet.toSet
    for (k <- 2 to 4) {
      val before = persistent
      val out = Similarity.pcaTopKOn(spark, vecsToDf(rows), k = k, rounds = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(math.abs(out((1L, 2L))) == 1000L, s"c1 must saturate axis 2: $out")
      assert(math.abs(out((2L, 5L))) == 1000L, s"c2 must saturate axis 5: $out")
      (1 to d).filter(_ != 2).foreach(j =>
        assert(math.abs(out((1L, j.toLong))) < 150L, s"c1 off-axis $j: ${out((1L, j.toLong))}"))
      (1 to d).filter(_ != 5).foreach(j =>
        assert(math.abs(out((2L, j.toLong))) < 150L, s"c2 off-axis $j: ${out((2L, j.toLong))}"))
      graft.CacheScope.drain()
      assert((persistent -- before).isEmpty, s"k=$k left ${persistent -- before} persisted")
    }
  }

  test("centering: a constant shift of every vector leaves the component unchanged") {
    val d = 6
    def mk(shift: Float) = (0 until 100).map { i =>
      val big = if (i % 2 == 0) 0.8f else -0.8f
      (i.toLong, (0 until d).map { j =>
        (if (j == 3) big else ((i + j) % 3 - 1) * 0.002f) + shift
      })
    }
    val a = Similarity.pcaPowerOn(spark, vecsToDf(mk(0.0f)), rounds = 3).collect().toSeq
    graft.CacheScope.drain()
    val b = Similarity.pcaPowerOn(spark, vecsToDf(mk(0.5f)), rounds = 3).collect().toSeq
    graft.CacheScope.drain()
    assert(a.map(r => (r.getLong(0), r.getLong(1))) ==
      b.map(r => (r.getLong(0), r.getLong(1))))
  }
}
