package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup internals: shingle construction, the Jaccard df cap actually
  * binding, and the pigeonhole-block completeness property behind
  * q_dedup_simhash_hamming's candidate join.
  */
class DedupSpec extends SparkSpec {

  test("shinglesFromWords emits ordered distinct 3-grams; short docs empty") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d"),
      (2L, "x y"),
      (3L, "p"),
      (4L, "r r r r r")).toDF("doc_id", "text")
    val got = Dedup.withShingles(df, "sh")
      .select($"doc_id", $"sh")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq("a b c", "b c d"))
    assert(got(2L).isEmpty)
    assert(got(3L).isEmpty)
    assert(got(4L) == Seq("r r r")) // distinct collapses repeats
  }

  test("jaccard df cap excludes hot shingles from the pair universe") {
    import spark.implicits._
    val dir = tmpDir("dedup-cap").toString
    // docs 1/2 share only the hot shingle "h h h" (present in all 4
    // docs); docs 3/4 additionally share the rare "r r r"
    val docs = Seq(
      (1L, "h h h", "en"),
      (2L, "h h h z", "en"),
      (3L, "h h h r r r", "en"),
      (4L, "h h h q r r r", "en"))
      .toDF("doc_id", "text", "lang")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // cap 3 < 4 docs ⇒ every shingle containing only h's (df=4) is out
    val rows = Dedup.ngramJaccardCapped(spark, dir, dfCap = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    assert(rows.forall { case (d1, d2) => Set(d1, d2).subsetOf(Set(3L, 4L)) },
      s"hot-shingle-only pairs must be excluded, got ${rows.toSeq}")
    // uncapped: the hot shingle fans out into every doc pair
    val uncapped = Dedup.ngramJaccardCapped(spark, dir, dfCap = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(uncapped.length > rows.length)
  }

  test("dedupClusters collapses transitive near-dup chains to one canonical id") {
    import spark.implicits._
    val dir = tmpDir("dedup-cc").toString
    // A≈B and B≈C share enough shingles to land in a common LSH band,
    // but A and C need the TRANSITIVE step; doc 9 is unrelated
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, s"$base one", "en"),
      (2L, s"$base one two", "en"),
      (3L, s"$base one two three", "en"),
      (9L, "totally different words nothing shared here at all", "en"))
      .toDF("doc_id", "text", "lang")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.dedupClusters(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val clusterOf1 = out(1L)._1
    // all three chained docs resolve to one component, canonical = min id
    assert(Seq(1L, 2L, 3L).map(out(_)._1).distinct == Seq(clusterOf1))
    assert(clusterOf1 == 1L)
    assert(out(1L)._2 >= 3) // cluster_size counts the whole component
    assert(out(9L)._1 == 9L && out(9L)._2 == 1)
  }

  test("dedupClusters fixed rounds are a fixpoint on the fixture (round 4 changes nothing)") {
    // ccRounds resolves components of diameter <= ccRounds; this audits
    // the truncation on the real fixture graph instead of assuming it —
    // if the LSH pair graph ever grows a longer chain, this goes red
    val dir = "/root/testdata/sf0.001"
    def labelMap(rounds: Int) =
      Dedup.dedupClustersRounds(spark, dir, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val atN = labelMap(Dedup.ccRounds)
    val atN1 = labelMap(Dedup.ccRounds + 1)
    assert(atN == atN1, "an extra propagation round changed labels — chain longer than ccRounds")
  }

  test("edit-distance candidacy excludes docs beyond the length ceiling") {
    // the long-doc probe's lesson, pinned: a matching giant pair costs
    // full O(n·m) DP, so character-level dedup is length-gated and long
    // docs belong to the shingle/minhash family
    val dir = "/root/testdata/sf0.001"
    val out = Dedup.editDistancePairs(spark, dir).collect()
    assert(out.nonEmpty) // fixture dups still pair below the ceiling
    val maxLen = graft.Tables.t(spark, dir, "documents")
      .selectExpr("max(length(text))").head().getInt(0)
    assert(maxLen <= Dedup.editDistMaxLen,
      "fixture grew docs beyond the ceiling — gate rows would silently shrink")
  }

  private def persistentRdds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** After `connectedComponents` returns, the loop holds its two inputs
    * (the symmetrized edges and the initial labels) plus the final
    * round's cut, whatever its round count; a drain releases them. */
  private def assertHoldsOneRound(before: Set[Int]): Unit = {
    val held = persistentRdds() -- before
    assert(held.size == 3, s"connectedComponents left ${held.size} persisted RDDs: $held")
    graft.CacheScope.drain()
    assert((persistentRdds() -- before).isEmpty, "a drain left cut RDDs persisted")
  }

  test("connectedComponents resolves a 6-link chain (diameter > ccRounds) to one component") {
    import spark.implicits._
    // 1-2-3-4-5-6-7 chain: fixed 3-round propagation CANNOT fully
    // resolve this (diameter 6), the convergence-counter variant must
    val nodes = (1L to 9L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L),
      (8L, 9L)).toDF("src", "dst")
    val before = persistentRdds()
    val labels = Dedup.connectedComponents(spark, nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 7L).forall(labels(_) == 1L), s"chain not fully resolved: $labels")
    assertHoldsOneRound(before)
    assert(labels(8L) == 8L && labels(9L) == 8L)
    // and it agrees with the fixed-round variant's semantics on a clique
    val cliqueEdges = Seq((10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    val clique = Dedup.connectedComponents(spark, Seq(10L, 11L, 12L).toDF("id"), cliqueEdges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clique.values.toSet == Set(10L))
    // and a too-small maxRounds is an ERROR, not a partial labeling
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(spark, nodes, edges, maxRounds = 3)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connectedComponents with a reliable checkpoint dir: 20-link chain resolves, checkpoints written") {
    import spark.implicits._
    // a 21-node chain needs 20 propagation rounds — with a reliable
    // checkpoint every 5th round (rounds 5/10/15/20) the label table
    // must be RELIABLY checkpointed several times mid-run; results must
    // be identical to the local-only path and the dir must actually
    // contain checkpoint data (proving df.checkpoint() engaged, not the
    // local fallback)
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toFile
    try {
      val nodes = (1L to 21L).toDF("id")
      val edges = (1L until 21L).map(i => (i, i + 1)).toDF("src", "dst")
      val before = persistentRdds()
      val labels = Dedup.connectedComponents(spark, nodes, edges,
        checkpointDir = Some(dir.getAbsolutePath))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert((1L to 21L).forall(labels(_) == 1L), s"chain not fully resolved: $labels")
      assertHoldsOneRound(before)
      def files(f: java.io.File): Seq[java.io.File] = {
        val kids = Option(f.listFiles).map(_.toSeq).getOrElse(Seq.empty)
        kids.filter(_.isFile) ++ kids.filter(_.isDirectory).flatMap(files)
      }
      assert(files(dir).nonEmpty, "no reliable checkpoint data written")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("star CC resolves a 64-link chain in logarithmic rounds (linear variant's guard could not)") {
    import spark.implicits._
    // diameter 64: label propagation needs 64 rounds — beyond its own
    // default 50-round runaway guard. Star contraction must finish in
    // ~log2(64) alternations; 12 is a generous pin that still fails
    // loudly if the contraction ever degrades to linear.
    val nodes = (1L to 65L).toDF("id")
    val edges = (1L until 65L).map(i => (i, i + 1)).toDF("src", "dst")
    val (labelsDf, rounds) = Dedup.connectedComponentsStar(spark, nodes, edges)
    val labels = labelsDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 65L).forall(labels(_) == 1L), s"chain not fully resolved: $labels")
    assert(rounds <= 12, s"star contraction took $rounds rounds — not logarithmic")
    // and a too-small maxRounds is an ERROR, not a partial labeling
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponentsStar(spark, nodes, edges, maxRounds = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("star CC agrees with label-propagation CC on a mixed multi-component graph") {
    import spark.implicits._
    // chain + triangle + star + isolated nodes, shuffled ids
    val nodes = (1L to 30L).toDF("id")
    val edges = (
      Seq((21L, 3L), (3L, 17L), (17L, 9L), (9L, 25L)) ++ // chain, min 3
        Seq((10L, 12L), (12L, 14L), (14L, 10L)) ++       // triangle, min 10
        Seq((28L, 5L), (28L, 6L), (28L, 7L))             // star center 28, min 5
      ).toDF("src", "dst")
    val simple = Dedup.connectedComponents(spark, nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Dedup.connectedComponentsStar(spark, nodes, edges)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == simple, s"star=$star\nsimple=$simple")
    assert(star(25L) == 3L && star(14L) == 10L && star(28L) == 5L && star(1L) == 1L)
  }

  test("nearDupFilterOn keeps one doc per family within the pinned stage count") {
    import spark.implicits._
    // two exact-copy families ({1,2,3}, {4,5}) and two singletons: the
    // band join links each family, CC resolves it in one changing
    // round plus the no-change round that proves the fixpoint
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "a stitch in time saves nine they always said"),
      (5L, "a stitch in time saves nine they always said"),
      (6L, "colorless green ideas sleep furiously every night"),
      (7L, "pack my box with five dozen liquor jugs today")).toDF("doc_id", "text")
    val before = persistentRdds()
    val (kept, m) = graft.exec.SparkMetrics.measure(spark) {
      Dedup.nearDupFilterOn(docs).select($"doc_id").as[Long].collect().toSet
    }
    graft.CacheScope.drain()
    assert(kept == Set(1L, 4L, 6L, 7L))
    // 29 = the stages this frame ran in when the pin was set (4 local
    // cores): more means a CC round or the keep tail grew a job or an
    // exchange
    assert(m.stages <= 29, s"nearDupFilterOn ran ${m.stages} stages")
    // a drain releases the loop's cuts along with its persists, call
    // after call
    for (i <- 1 to 3) {
      if (i > 1) { Dedup.nearDupFilterOn(docs).collect(); graft.CacheScope.drain() }
      val left = persistentRdds() -- before
      assert(left.isEmpty, s"call $i: $left persisted after a drain")
    }
  }

  test("pigeonhole blocks: every 16-bit pair at hamming <= 4 shares a block") {
    val blockDefs = Seq((0, 4), (4, 3), (7, 3), (10, 3), (13, 3))
    def blocks(v: Long): Seq[Long] =
      blockDefs.map { case (off, w) => (v >> off) & ((1L << w) - 1) }
    val rnd = new scala.util.Random(7)
    (1 to 2000).foreach { _ =>
      val a = rnd.nextInt(1 << 16).toLong
      // flip up to 4 random bit positions
      val nFlips = rnd.nextInt(5)
      val b = (1 to nFlips).foldLeft(a)((v, _) => v ^ (1L << rnd.nextInt(16)))
      val h = java.lang.Long.bitCount(a ^ b)
      if (h <= 4)
        assert(blocks(a).zip(blocks(b)).exists { case (x, y) => x == y },
          f"pair $a%x/$b%x at hamming $h shares no block")
    }
  }

  test("clusterSplit: every near-dup family lands wholly in one split, keyed on the representative") {
    import spark.implicits._
    val dir = tmpDir("dedup-cluster-split").toString
    // chain 1≈2≈3 is one family (transitive); 9 and 11 are singletons
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    Seq(
      (1L, s"$base one", "en"),
      (2L, s"$base one two", "en"),
      (3L, s"$base one two three", "en"),
      (9L, "totally different words nothing shared here at all", "en"),
      (11L, "another unrelated island with its own private words", "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.clusterSplit(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // the whole chained family carries one label (its min id) and
    // therefore exactly one split — the no-straddle guarantee
    val fam = out.filter(t => Set(1L, 2L, 3L).contains(t._1))
    assert(fam.map(_._2).toSet == Set(1L))
    assert(fam.map(_._3).toSet.size == 1)
    assert(out.groupBy(_._2).forall { case (_, ms) => ms.map(_._3).toSet.size == 1 })
    // the assignment is the md5-prefix rule on the LABEL, recomputed
    // independently JVM-side (contract, not plan replay)
    def expSplit(label: Long): String = {
      val b = java.security.MessageDigest.getInstance("MD5")
        .digest(label.toString.getBytes("UTF-8")).map("%02x".format(_))
        .mkString.substring(0, 2)
      if (b < FeatureOps.valLoBucket) "train"
      else if (b < FeatureOps.testLoBucket) "val" else "test"
    }
    out.foreach { case (_, label, split) => assert(split == expSplit(label)) }
  }

  test("exact-dedup admission index: arrival-order exact dedup across batches, replay-safe") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val pool = ('a' to 'z').map(c => s"t$c")
    def doc(n: Int) = Seq.fill(n)(pool(rnd.nextInt(pool.size))).mkString(" ")
    // three arrival batches over one random corpus: uniques + families
    // whose members are spread ACROSS batches (the cross-tick case)
    val texts = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    var id = 0L
    (0 until 6).foreach { _ =>
      val base = doc(15 + rnd.nextInt(10))
      texts += ((id, base)); id += 1
      texts += ((id, base)); id += 1            // exact copy, later batch
      texts += ((id, base + " " + doc(1))); id += 1 // near copy
    }
    (0 until 10).foreach { _ => texts += ((id, doc(12 + rnd.nextInt(20)))); id += 1 }
    val all = texts.toSeq
    val batches = all.grouped((all.size + 2) / 3).toSeq
    val tau = 700L

    val idxPath = tmpDir("exact-dedup-idx").resolve("i").toString
    Dedup.createExactDedupIndex(spark, idxPath,
      batches.head.toDF("doc_id", "text"), tau)
    graft.CacheScope.drain()
    var admitted = Set.empty[Long]
    var perBatch = Vector.empty[Set[Long]]
    batches.zipWithIndex.foreach { case (b, i) =>
      val adm = Dedup.admitExactDedup(b.toDF("doc_id", "text"), idxPath, i.toLong)
        .select($"doc_id").as[Long].collect().toSet
      graft.CacheScope.drain()
      admitted ++= adm
      perBatch :+= adm
    }
    // EXACTNESS both ways, against a JVM brute force:
    def shingles(t: String): Set[String] = {
      val w = t.split(" ")
      (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }
    val sets = all.toMap.view.mapValues(shingles).toMap
    def isDup(a: Long, b: Long): Boolean = {
      val (sa, sb) = (sets(a), sets(b))
      val inter = (sa & sb).size
      sa.nonEmpty && sb.nonEmpty &&
        1000L * inter >= tau * (sa.size + sb.size - inter)
    }
    // 1. no two ADMITTED docs are tau-duplicates (no false negatives)
    for (a <- admitted; b <- admitted if a < b)
      assert(!isDup(a, b), s"admitted near-dups $a,$b")
    // 2. every REJECTED doc is connected by a tau-dup CHAIN to some
    //    admitted doc (no false rejections, family-collapse semantics:
    //    in-batch dedup keeps one representative per family, and if
    //    the representative is an index duplicate the whole family is
    //    rejected THROUGH it — so the guarantee is chain connectivity,
    //    not a direct edge; see admitExactDedup's scaladoc)
    val rejected = all.map(_._1).toSet -- admitted
    assert(rejected.nonEmpty && admitted.nonEmpty)
    val allIds = all.map(_._1)
    rejected.foreach { r =>
      var frontier = Set(r)
      var seen = Set(r)
      var hit = false
      while (!hit && frontier.nonEmpty) {
        hit = frontier.exists(f => admitted.exists(a => isDup(f, a)))
        if (!hit) {
          val next = allIds.filter(x =>
            !seen.contains(x) && frontier.exists(isDup(_, x))).toSet
          seen ++= next
          frontier = next
        }
      }
      assert(hit, s"doc $r rejected without a tau-dup chain to an admitted doc")
    }
    // 3. replay is IDEMPOTENT per batch id: re-running the last batch
    //    under its own id re-admits exactly the same set (the partial-
    //    failure path — index written, sink not — must not lose docs)
    val lastId = (batches.size - 1).toLong
    val replaySame = Dedup.admitExactDedup(
      batches.last.toDF("doc_id", "text"), idxPath, lastId)
      .select($"doc_id").as[Long].collect().toSet
    graft.CacheScope.drain()
    assert(replaySame == perBatch.last,
      s"replay under the same batch id admitted $replaySame, " +
        s"first run admitted ${perBatch.last}")
    // and the replay rewrote (not duplicated) its index rows: a SECOND
    // replay still agrees
    val replayAgain = Dedup.admitExactDedup(
      batches.last.toDF("doc_id", "text"), idxPath, lastId)
      .select($"doc_id").as[Long].collect().toSet
    graft.CacheScope.drain()
    assert(replayAgain == perBatch.last)
    // 4. the same rows arriving as a NEW batch id self-reject entirely
    //    (a doc is a tau-dup of its own indexed copy)
    val replayNew = Dedup.admitExactDedup(
      batches.last.toDF("doc_id", "text"), idxPath, lastId + 1)
      .select($"doc_id").as[Long].collect()
    graft.CacheScope.drain()
    assert(replayNew.isEmpty,
      s"re-arrival under a new batch id re-admitted ${replayNew.toSeq}")
  }

  test("exact-dedup admission index: compaction folds batch dirs, admissions unchanged") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val pool = ('a' to 'z').map(c => s"u$c")
    def doc(n: Int) = Seq.fill(n)(pool(rnd.nextInt(pool.size))).mkString(" ")
    val idxPath = tmpDir("exact-dedup-compact").resolve("i").toString
    val seed = (0L to 3L).map(i => (i, doc(20)))
    Dedup.createExactDedupIndex(spark, idxPath, seed.toDF("doc_id", "text"), 700L)
    // six one-doc ticks: five uniques + one exact copy of tick 0's doc
    val ticks: Seq[(Long, String)] =
      (0 until 5).map(i => (100L + i, doc(18 + i))) :+ (200L, null)
    val mat = ticks.zipWithIndex.map { case ((id, t), i) =>
      (id, if (t == null) ticks.head._2 else t, i.toLong)
    }
    mat.foreach { case (id, text, bid) =>
      Dedup.admitExactDedup(Seq((id, text)).toDF("doc_id", "text"), idxPath, bid)
      graft.CacheScope.drain()
    }
    val fs = graft.connect.Hfs.fs(spark, idxPath)
    def batchDirs(sub: String) = graft.connect.Hfs.listDirs(fs,
      new org.apache.hadoop.fs.Path(idxPath, sub))
      .map(_.getName).filter(_.startsWith("batch=")).sorted
    val before = batchDirs("docs")
    assert(before.size >= 5, s"expected >=5 batch dirs, got $before")
    val probe = Seq((300L, ticks(2)._2), (301L, doc(25)))
    def admitProbe(bid: Long) = {
      val r = Dedup.admitExactDedup(probe.toDF("doc_id", "text"), idxPath, bid)
        .select($"doc_id").as[Long].collect().toSet
      graft.CacheScope.drain()
      // roll the probe back out so before/after comparisons see the
      // same index (delete-own-batch makes this exact)
      graft.connect.Hfs.deleteIfExists(fs,
        new org.apache.hadoop.fs.Path(idxPath, s"docs/batch=$bid"))
      graft.connect.Hfs.deleteIfExists(fs,
        new org.apache.hadoop.fs.Path(idxPath, s"prefix/batch=$bid"))
      r
    }
    val admBefore = admitProbe(50L)
    assert(admBefore == Set(301L), s"probe before compaction: $admBefore")
    val folded = Dedup.compactExactDedupIndex(spark, idxPath)
    assert(folded >= 4, s"expected >=4 folded batch dirs, got $folded")
    val after = batchDirs("docs")
    assert(after.size == 2, s"expected [consolidated, live], got $after")
    assert(after.exists(_.stripPrefix("batch=").toLong < 0))
    // identical admission decisions served from the compacted layout
    val admAfter = admitProbe(51L)
    assert(admAfter == admBefore,
      s"compaction changed admissions: $admBefore -> $admAfter")
    // a second compaction folds the consolidated gen + remaining live-1
    // set only when there is something to fold; idempotent otherwise
    val again = Dedup.compactExactDedupIndex(spark, idxPath)
    assert(again == 0 || batchDirs("docs").size <= 2)
  }

  test("exactDedupApply: ccRounds truncation audited against the fixpoint (r15 advice)") {
    // The gate row truncates min-label propagation at ccRounds=3 and
    // its DuckDB oracle MIRRORS the truncation, so a family whose
    // pair-graph diameter exceeds 3 would under-merge on BOTH sides —
    // invisible at the gate by construction. In-gate audits were
    // measured and REJECTED (PLANS r15): every formulation costs
    // seconds (re-analysis of the 3-round self-join lineage per extra
    // action at 1x; an O(edges) per-edge label comparison at the
    // dup-saturated 100x fixture). This spec is the audit instead —
    // the advice's "reuse the fixpoint" alternative:
    // 1. the gate fixtures CONVERGE in ccRounds (JVM union-find
    //    fixpoint == JVM 3-round propagation on the collected pairs,
    //    at both gate scales), so gate == fixpoint where the gate runs;
    // 2. an adversarial diameter-4 chain family really DOES diverge
    //    (gate keeps 2, fixpoint keeps 1) — proving check 1 is
    //    load-bearing, not vacuous.
    import spark.implicits._
    def collectedPairs(dir: String): Seq[(Long, Long)] = {
      val docs = graft.Tables.t(spark, dir, "documents").select($"doc_id", $"text")
      val p = Dedup.prefixJoinPairsOn(docs, 800L)
        .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSeq
      graft.CacheScope.drain(); p
    }
    def threeRoundClusters(ids: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val nbrs = (pairs ++ pairs.map(_.swap)).groupMap(_._1)(_._2)
      var l = ids.map(i => i -> i).toMap
      (1 to Dedup.ccRounds).foreach { _ =>
        l = ids.map(i => i -> math.min(l(i),
          nbrs.getOrElse(i, Nil).map(l).reduceOption(_ min _).getOrElse(l(i)))).toMap
      }
      l
    }
    def fixpointClusters(ids: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      ids.map(i => i -> find(i)).toMap
    }
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      val ids = graft.Tables.t(spark, dir, "documents")
        .select($"doc_id").as[Long].collect().toSeq
      graft.CacheScope.drain()
      val pairs = collectedPairs(dir)
      assert(pairs.nonEmpty, s"$dir: fixture must plant qualifying pairs")
      val tr = threeRoundClusters(ids, pairs)
      val fp = fixpointClusters(ids, pairs)
      assert(tr == fp,
        s"$dir: ${Dedup.ccRounds}-round labels != fixpoint — a fixture " +
          "family's diameter exceeds ccRounds; the gate row and its " +
          "oracle now under-merge where the filter stage would not")
    }
    // 2. the adversarial chain: five 47-word docs sliding by 5 words —
    // consecutive Jaccard = 40/50 = exactly tau (>= 800 with integer
    // math), distance-2 = 35/55 = 636 < tau, so the pair graph is a
    // path with diameter 4
    val words = (0 until 67).map(i => f"chain$i%03d")
    val chain = (0L to 4L).map { i =>
      val t = words.slice(i.toInt * 5, i.toInt * 5 + 47).mkString(" ")
      (i, t, "xx", t.length.toLong)
    }
    val dir = tmpDir("exact-apply-chain").toString
    chain.toDF("doc_id", "text", "lang", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val cp = collectedPairs(dir)
    assert(cp.toSet == Set((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)),
      s"chain fixture must be a diameter-4 path, got $cp")
    val rollup = Dedup.exactDedupApply(spark, dir)
      .select($"n_kept").as[Long].collect().sum
    graft.CacheScope.drain()
    val fixpointKept = Dedup.exactDedupFilterOn(
      chain.toDF("doc_id", "text", "lang", "n_chars"), 800L,
      keepBestByChars = true).count()
    graft.CacheScope.drain()
    assert(fixpointKept == 1L, s"fixpoint must merge the chain to 1, got $fixpointKept")
    assert(rollup == 2L,
      s"the 3-round gate row must keep 2 on a diameter-4 path (the " +
        s"documented truncation boundary check 1 guards), got $rollup")
  }

  test("exactDedupApply: gate rollup consistent with the run-to-fixpoint filter stage") {
    import spark.implicits._
    // the gate row truncates label propagation at ccRounds=3 (so the
    // oracle can mirror it); the pipeline stage runs CC to fixpoint.
    // On the fixture they MUST agree — near-dup families are
    // near-cliques — or the fixed-round truncation is silently wrong.
    val dir = "/root/testdata/sf0.001"
    val rollup = Dedup.exactDedupApply(spark, dir)
      .select($"lang", $"n_docs", $"n_kept").as[(String, Long, Long)]
      .collect().toSeq
    graft.CacheScope.drain()
    val docs = graft.Tables.t(spark, dir, "documents")
      .select($"doc_id", $"text", $"lang", $"n_chars")
    val keptTotal = Dedup.exactDedupFilterOn(docs, 800L, keepBestByChars = true)
      .count()
    graft.CacheScope.drain()
    assert(rollup.nonEmpty)
    // one survivor per cluster regardless of WHICH member survives, so
    // the totals must agree even though the stage keys best-ness on
    // length(text) and the gate row on n_chars
    assert(rollup.map(_._3).sum == keptTotal,
      s"gate rollup kept ${rollup.map(_._3).sum}, fixpoint filter kept $keptTotal")
    rollup.foreach { case (lang, nDocs, nKept) =>
      assert(nKept >= 1 && nKept <= nDocs, s"lang=$lang: $nKept of $nDocs")
    }
    // and the rollup accounts for every document exactly once
    val total = rollup.map(_._2).sum
    assert(total == docs.count())
  }
}
