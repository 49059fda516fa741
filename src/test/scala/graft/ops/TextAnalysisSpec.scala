package graft.ops

import graft.SparkSpec

/** Function-level PII-scrub checks on realistic variants — the catalog
  * row (q_text_pii) gate-checks one planted form against DuckDB; this
  * covers the match breadth (subdomains, +tags, country codes) and the
  * no-PII identity case.
  */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("gram-based rows survive docs shorter than the gram width; big ids don't overflow sampling") {
    // regression: sequence(1, greatest(n, 0)) DESCENDS ([1, 0]) when
    // n = 0, so short docs crashed the 5-gram and bigram transforms
    // (ANSI slice/index errors) instead of yielding empty gram lists;
    // and the weighted-sample Knuth multiply overflowed 64-bit doc ids
    val dir = tmpDir("graft-short-docs").toString
    val spark2 = spark
    import spark2.implicits._
    Seq(
      (1L, "solo", "en", "s", 4L),
      (2L, "a b c", "en", "s", 5L),
      (5000000000000000000L, "big id doc", "en", "s", 10L),
      (3L, "one two three four five six", "en", "s", 27L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val d = TextAnalysis.dupNgramFrac(spark, dir).collect()
    assert(d.map(_.getLong(0)).toSet == Set(3L)) // short docs absent, not crashed
    val c = TextAnalysis.collocations(spark, dir).collect()
    assert(c.length >= 0) // no bigram reaches min-count 5; surviving IS the test
    val w = SetSortLimit.weightedSample(spark, dir).collect()
    assert(w.map(_.getLong(2)).toSet.contains(5000000000000000000L))
  }

  test("CDC chunking is shift-robust: a front insertion preserves downstream chunk sigs") {
    // 120 deterministic words; doc 2 = the same text with one word
    // prepended. Content-defined boundaries (trailing-3-gram hash)
    // realign after the edit, so most chunk signatures survive — the
    // property fixed tumbling windows (spanDedup's 5-word spans, which
    // ALL shift) cannot have.
    val words = (0 until 120).map(i => s"w${i * 7 % 23}")
    val docs = Seq(
      (1L, words.mkString(" ")),
      (2L, ("INSERTED" +: words).mkString(" "))).toDF("doc_id", "text")
    val sigs = TextAnalysis.cdcChunkSigs(docs)
      .select("doc_id", "sig").as[(Long, String)].collect()
    val s1 = sigs.filter(_._1 == 1L).map(_._2).toSet
    val s2 = sigs.filter(_._1 == 2L).map(_._2).toSet
    val shared = (s1 & s2).size
    assert(s1.size >= 4, s"need several chunks for the property, got ${s1.size}")
    // everything after the first boundary past the edit must match:
    // at least half the original chunks survive the insertion
    assert(shared * 2 >= s1.size, s"shared $shared of ${s1.size} chunks")
  }

  test("spanDedup keeps canonical first occurrences, drops cross- and in-doc repeats") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),        // both spans canonical
      (2L, "a b c d e x"),                 // span0 duplicates doc1's → dropped; tail "x" kept
      (3L, "a b c d e f g h i j"),         // full duplicate of doc1 → everything dropped
      (4L, "p q r s t p q r s t")          // in-document duplicate span → second dropped
    ).toDF("doc_id", "text")
    val out = TextAnalysis.spanDedupOf(docs)
      .select("doc_id", "n_spans", "n_dropped", "clean_text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((2L, 0L, "a b c d e f g h i j")))
    assert(out(2L) == ((2L, 1L, "x")))
    assert(out(3L) == ((2L, 2L, "")))     // all spans dropped → empty, not null
    assert(out(4L) == ((2L, 1L, "p q r s t")))
  }

  test("scrubPii redacts email/phone variants and counts per category") {
    val rows = Seq(
      (1L, "mail a.b_c%d+tag@sub.example.co.uk and +44-020-7946 done"),
      (2L, "two mails x@y.io z@w.dev one phone +1-555-0100"),
      (3L, "no pii here at all"),
      (4L, "ALMOST@pii (uppercase local part not matched) and +1-55-01")) // wrong shapes
      .toDF("doc_id", "text")
    val out = TextAnalysis.scrubPii(rows, "text")
      .select($"doc_id", $"n_emails", $"n_phones", $"clean")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((1L, 1L, "mail <EMAIL> and <PHONE> done")))
    assert(out(2L) == ((2L, 1L, "two mails <EMAIL> <EMAIL> one phone <PHONE>")))
    assert(out(3L) == ((0L, 0L, "no pii here at all")))
    // the lowercase-only email class must not match an uppercase local
    // part, and a malformed phone must survive — redaction is precise,
    // not greedy
    assert(out(4L)._1 == 0L && out(4L)._2 == 0L)
    assert(out(4L)._3.contains("ALMOST@pii") && out(4L)._3.contains("+1-55-01"))
  }

  test("bpeMerges reproduces hand-computed greedy BPE on the classic corpus") {
    // word freqs: low:3 lower:2 newest:5 widest:3. Hand-derivation
    // (cnt desc, then l asc, r asc on ties):
    //   r1 (e,s,8)   — ties (e,s)/(s,t) at 8, 'e' < 's'
    //   r2 (es,t,8)  — est completes in newest+widest
    //   r3 (e,w,5)   — five-way tie at 5, 'e' smallest left symbol
    //   r4 (ew,est,5) — "ew" < "l" < "n" < "o"
    //   r5 (l,o,5)
    //   r6 (lo,w,5)
    val docs = Seq((1L,
      ("low " * 3 + "lower " * 2 + "newest " * 5 + "widest " * 3).trim))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeMergesOn(spark, docs, 6)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "e", "s", 8L), (2L, "es", "t", 8L), (3L, "e", "w", 5L),
      (4L, "ew", "est", 5L), (5L, "l", "o", 5L), (6L, "lo", "w", 5L)))
  }

  test("bpeMerges is greedy-leftmost on self-pair runs and stops when pairs exhaust") {
    // "aaa" → pairs (a,a) counted twice; the merge must produce
    // <aa><a> (leftmost non-overlapping), so round 2 merges (aa,a) —
    // the reversed (a,aa) would prove a right-to-left scan. Round 3
    // has no pairs left: no row, not a crash.
    val docs = Seq((1L, "aaa")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeMergesOn(spark, docs, 3)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got == Seq((1L, "a", "a", 2L), (2L, "aa", "a", 1L)))
  }

  test("batched BPE ≡ unbatched greedy on the classic corpus (any batch width)") {
    // the strict-dominance acceptance rule must reproduce the exact
    // sequential merge list — including through the (ew,est)-ties-(l,o)
    // trap where a pair CREATED by an earlier in-batch merge ties a
    // lower-ranked original pair at cnt 5 and wins lexically; plain
    // symbol-disjoint batching reorders there, dominance must not
    val docs = Seq((1L,
      ("low " * 3 + "lower " * 2 + "newest " * 5 + "widest " * 3).trim))
      .toDF("doc_id", "text")
    val sequential = TextAnalysis.bpeMergesOn(spark, docs, 6)
      .as[(Long, String, String, Long)].collect().toSeq
    for (b <- Seq(2, 8, 16)) {
      val batched = TextAnalysis.bpeTrainBatchedOn(spark, docs, 6, b)
        ._1
      assert(batched == sequential, s"batch=$b diverged from sequential greedy")
    }
  }

  test("batched BPE ≡ unbatched prefix when the budget truncates mid-batch") {
    val docs = Seq((1L,
      ("low " * 3 + "lower " * 2 + "newest " * 5 + "widest " * 3).trim))
      .toDF("doc_id", "text")
    val sequential = TextAnalysis.bpeMergesOn(spark, docs, 6)
      .as[(Long, String, String, Long)].collect().toSeq
    val batched = TextAnalysis.bpeTrainBatchedOn(spark, docs, 4, 16)._1
    assert(batched == sequential.take(4))
  }

  test("batched BPE handles self-pair runs and pair exhaustion like unbatched") {
    val docs = Seq((1L, "aaa")).toDF("doc_id", "text")
    val batched = TextAnalysis.bpeTrainBatchedOn(spark, docs, 3, 8)._1
    assert(batched == Seq((1L, "a", "a", 2L), (2L, "aa", "a", 1L)))
  }

  test("bpeTokenCounts encodes with the trained vocabulary, per document") {
    // after the 6 hand-derived merges: low=1 token (<low>), lower=3
    // (<low><e><r>), newest=2 (<n><ewest>), widest=4 (<w><i><d><est>)
    val docs = Seq(
      (1L, ("low " * 3 + "lower " * 2 + "newest " * 5 + "widest " * 3).trim),
      (2L, "low newest"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeTokenCountsOn(spark, docs, 6)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // training runs on the UNION corpus (freqs low:4 lower:2 newest:6
    // widest:3) — hand-rederived, the merge sequence is unchanged.
    // doc1: 13 words, 3·1+2·3+5·2+3·4 = 31 tokens, 9+10+30+18 = 67 chars
    val byDoc = got.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(byDoc(1L) == ((13L, 31L, 67L)))
    assert(byDoc(2L) == ((2L, 3L, 9L))) // low(1) + newest(2); 3+6 chars
  }

  test("binned token-budget selection equals the exact greedy at two scale factors") {
    // the binned path sorts ONLY the boundary bin — the gate's claim is
    // bit-equality with the full-sort greedy, not approximation
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { dir =>
      val exact = TextAnalysis.tokenBudgetSelect(spark, dir).collect().toSeq
      graft.CacheScope.drain()
      val binned = TextAnalysis.tokenBudgetSelectBinned(spark, dir).collect().toSeq
      graft.CacheScope.drain()
      assert(binned == exact, s"binned != exact at $dir")
    }
  }

  test("batch perceptron learns a separable curated-vs-crawl split") {
    // synthetic separable corpus: curated sources emit 'alpha'-family
    // tokens, crawl sources 'zeta'-family — linearly separable in the
    // hashed bag space, so the trained weights must classify every doc
    // correctly by the final round (perceptron convergence theorem:
    // finitely many mistakes on separable data)
    val rows = (0 until 120).map { i =>
      val src = s"src${i % 6}"
      val curated = (i % 6) < 3
      val words =
        if (curated) Seq("alpha", "beta", "gamma", s"tok${i % 7}")
        else Seq("zeta", "eta", "theta", s"tok${i % 7}")
      (i.toLong, words.mkString(" "), "en", src, 20L)
    }
    val docs = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.perceptronOn(spark, docs,
      posSources = Seq("src0", "src1", "src2"), rounds = 3).collect()
    val nDocs = out.map(_.getAs[Long]("n_docs")).sum
    val nCorrect = out.map(_.getAs[Long]("n_correct")).sum
    assert(nDocs == 120L)
    assert(nCorrect == 120L,
      s"separable data must reach 100% train accuracy, got $nCorrect/120")
    out.foreach { r =>
      val pos = Set("src0", "src1", "src2").contains(r.getAs[String]("source"))
      assert(r.getAs[Long]("n_pred_pos") ==
        (if (pos) r.getAs[Long]("n_docs") else 0L))
    }
  }

  test("frozen quality model: stateless scoring == training margins, incl. parquet round-trip and a stream") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.t(spark, dir, "documents")
    val pos = Seq("src0", "src1", "src2", "src3")
    val model = TextAnalysis.trainQualityModel(spark, docs, pos)
    graft.CacheScope.drain()
    val path = tmpDir("quality-model").toString
    TextAnalysis.saveQualityModel(spark, model, path)
    val loaded = TextAnalysis.loadQualityModel(spark, path)
    assert(loaded.weights == model.weights)

    // batch: the per-row fold must equal the join-based training margins
    val scored = TextAnalysis.scoreDocs(docs, loaded)
      .select($"doc_id", $"margin")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (_, margins) = TextAnalysis.perceptronMarginsOn(spark, docs, pos, 3)
    val expected = margins.select($"doc_id", $"m")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.CacheScope.drain()
    assert(scored == expected)

    // stream: same column over a readStream frame, no state, no shuffle
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val streamDocs = mem.toDF().toDF("doc_id", "text")
    val name = s"qscore_${System.nanoTime()}"
    val rows = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    val q = TextAnalysis.scoreDocs(streamDocs, loaded)
      .select($"doc_id", $"margin")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData(rows.take(50)); q.processAllAvailable()
      mem.addData(rows.drop(50)); q.processAllAvailable()
      val streamed = spark.table(name)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == expected)
    } finally q.stop()
  }

  test("frozen BPE model: stateless serve == lookup encode, parquet round-trip, stream") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.Tables.t(spark, dir, "documents")
    val model = TextAnalysis.trainBpeModel(spark, docs)
    graft.CacheScope.drain()
    assert(model.merges.size == TextAnalysis.bpeRounds)
    val path = tmpDir("bpe-model").toString
    TextAnalysis.saveBpeModel(spark, model, path)
    val loaded = TextAnalysis.loadBpeModel(spark, path)
    assert(loaded.merges == model.merges, "rank ORDER must survive the round-trip")

    // serving fold == the training-vocab lookup join on every doc of
    // the corpus the model was trained on (all words in-vocabulary)
    val served = TextAnalysis.bpeServeDocs(docs, loaded)
      .select($"doc_id", $"bpe_words", $"bpe_tokens", $"bpe_chars")
      .as[(Long, Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    val lookup = TextAnalysis.bpeTokenCountsOn(spark, docs, TextAnalysis.bpeRounds)
      .as[(Long, Long, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    graft.CacheScope.drain()
    assert(served == lookup)

    // stream: the same stateless columns over a readStream frame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val name = s"bpeserve_${System.nanoTime()}"
    val rows = docs.select($"doc_id", $"text").as[(Long, String)].collect()
    val q = TextAnalysis.bpeServeDocs(mem.toDF().toDF("doc_id", "text"), loaded)
      .select($"doc_id", $"bpe_words", $"bpe_tokens", $"bpe_chars")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData(rows.take(30)); q.processAllAvailable()
      mem.addData(rows.drop(30)); q.processAllAvailable()
      val streamed = spark.table(name).as[(Long, Long, Long, Long)]
        .collect().map(t => t._1 -> ((t._2, t._3, t._4))).toMap
      assert(streamed == served)
    } finally q.stop()
  }

  test("frozen BPE model encodes OUT-OF-VOCABULARY words by the merge rules") {
    // train on 'lolo' x4: round 1 pair counts lo=8, ol=4 -> merge (l,o);
    // round 2 vocab <lo><lo> -> merge (lo,lo). Hand-derived model.
    val train = Seq((1L, "lolo lolo lolo lolo", "en", "s", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val model = TextAnalysis.trainBpeModel(spark, train, rounds = 2)
    assert(model.merges == Seq(("l", "o"), ("lo", "lo")))
    // OOV doc: 'lol' -> <lo><l> (2 tokens; the (lo,lo) merge cannot
    // apply), 'ooo' -> no merge applies (3 tokens). The lookup join
    // would DROP both words (never seen in training); the fold serves
    // them with the standard BPE fallback.
    val oov = Seq((9L, "lol ooo")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeServeDocs(oov, model)
      .select($"bpe_words", $"bpe_tokens", $"bpe_chars")
      .as[(Long, Long, Long)].head()
    assert(got == ((2L, 5L, 6L)))
    // guard: a production-budget merge list must be refused loudly
    val big = TextAnalysis.BpeModel((1 to 1025).map(i => (s"a$i", s"b$i")))
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.bpeServeDocs(oov, big)
    }
    assert(e.getMessage.contains("dictionary join"))
  }

  test("perceptron round-1 weights are the class-conditional count difference") {
    // w₀ = 0 makes every doc misclassified in round 1, so the 1-round
    // model is exactly Σ_d y_d·count_d(bucket) — checkable by hand:
    // buckets x (c=2 in doc1), y (1 in each), z (1 in doc2), bias 1 each
    // w1: x=+2, y=1-1=0, z=-1, bias=1-1=0
    // margin(doc1) = 2·2 + 1·0 + 0 = 4 ; margin(doc2) = 1·0 + 1·(-1) + 0 = -1
    val docs = Seq(
      (1L, "x x y", "en", "pos", 5L),
      (2L, "y z", "en", "neg", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.perceptronOn(spark, docs, Seq("pos"), rounds = 1)
      .collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("sum_margin")).toMap
    assert(out("pos") == 4L)
    assert(out("neg") == -1L)
  }

  /** Independent JVM-side md5 permille — the same 5-nibble reduction
    * [[TextAnalysis.permilleHash]] computes in Spark SQL, recomputed
    * with MessageDigest so the spec checks the CONTRACT, not the plan.
    */
  private def epochPermille(id: Long): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"epoch:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 5), 16) % 1000
  }

  test("epoch replication: hashed fractional rounding, exact per doc and repartition-invariant") {
    val spark2 = spark; import spark2.implicits._
    // source A at 2.4 epochs (each doc 2 or 3 copies), B at 0.6
    // (each doc 0 or 1 — a fractional pass)
    val docs = (1L to 40L).map(i => (i, if (i <= 20) "A" else "B", 10L))
      .toDF("doc_id", "source", "toks")
    val w = Seq(("A", 2400L), ("B", 600L)).toDF("source", "epochs_permille")
    val out = TextAnalysis.replicateByEpochs(docs, w)
      .select($"doc_id", $"rep").as[(Long, Long)].collect()
    val counts = out.groupBy(_._1).view.mapValues(_.length).toMap
    (1L to 20L).foreach { i =>
      assert(counts(i) == 2 + (if (epochPermille(i) < 400) 1 else 0),
        s"doc $i (permille ${epochPermille(i)}) got ${counts(i)} copies") }
    (21L to 40L).foreach { i =>
      assert(counts.getOrElse(i, 0) == (if (epochPermille(i) < 600) 1 else 0)) }
    // rep is a dense 1-based copy index
    assert(out.groupBy(_._1).forall { case (_, rs) =>
      rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq })
    // both fractional regimes actually fire on this fixture
    assert(counts.filter(_._1 <= 20L).values.toSet == Set(2, 3))
    assert((21L to 40L).exists(i => !counts.contains(i)) &&
      (21L to 40L).exists(counts.contains))
    // pure function of the row: physical layout cannot move a decision
    val out2 = TextAnalysis.replicateByEpochs(docs.repartition(7), w)
      .select($"doc_id", $"rep").as[(Long, Long)].collect()
    assert(out.sorted.toSeq == out2.sorted.toSeq)
  }

  test("corpus report: within-source exact-dup accounting, langs, quality grid") {
    val spark2 = spark; import spark2.implicits._
    val dir = tmpDir("graft-report").toString
    // docs 1/2 duplicate WITHIN source a; doc 3 carries the same text
    // in source b, where it is unique — the report is a per-source
    // dashboard, so it must NOT count as redundancy there (cross-source
    // duplication is the dedup family's job)
    Seq(
      (1L, "same text here", "en", "a", 14L),
      (2L, "same text here", "en", "a", 14L),
      (3L, "same text here", "en", "b", 14L),
      (4L, "w w w w", "fr", "a", 7L),
      (5L, "unique two words", "en", "b", 16L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.corpusReport(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    graft.CacheScope.drain()
    assert(out("a").getLong(1) == 3L && out("a").getLong(7) == 2L) // n_docs, dup_docs
    assert(out("b").getLong(1) == 2L && out("b").getLong(7) == 0L)
    assert(out("a").getLong(3) == 2L && out("b").getLong(3) == 1L) // n_langs
    // mean TTR permille: a = (1000 + 250 + 1000) div 3 = 750
    assert(out("a").getLong(4) == 750L)
  }

  test("epoch replication streams with a frozen spec == batch; unseen source errors loudly") {
    val spark2 = spark; import spark2.implicits._
    val docs = (1L to 30L).map(i => (i, if (i <= 15) "A" else "B", 10L))
    val w = Seq(("A", 2400L), ("B", 600L)).toDF("source", "epochs_permille")
    val batch = TextAnalysis
      .replicateByEpochs(docs.toDF("doc_id", "source", "toks"), w)
      .select($"doc_id", $"rep").as[(Long, Long)].collect().sorted.toSeq

    // streaming: the FROZEN weights (a mix spec is decided offline)
    // broadcast onto each micro-batch — same rows as batch, append mode
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val name = s"epochs_${System.nanoTime()}"
    val q = TextAnalysis
      .replicateByEpochs(mem.toDF().toDF("doc_id", "source", "toks"), w)
      .select($"doc_id", $"rep")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData(docs.take(10)); q.processAllAvailable()
      mem.addData(docs.drop(10)); q.processAllAvailable()
      val streamed = spark.table(name).as[(Long, Long)].collect().sorted.toSeq
      assert(streamed == batch && streamed.nonEmpty)
    } finally q.stop()

    // drift guard: a source the frozen spec never saw must ERROR, not
    // silently vanish (the inner-join failure mode, made loud)
    val drift = Seq((99L, "C", 10L)).toDF("doc_id", "source", "toks")
    val e = intercept[Exception] {
      TextAnalysis.replicateByEpochs(drift, w).collect()
    }
    assert(e.getMessage != null &&
      e.getMessage.contains("has no epoch weight"),
      s"expected the loud drift guard, got: ${e.getMessage}")
  }

  test("epoch weights: integer permille toward the token target, cap binding") {
    val spark2 = spark; import spark2.implicits._
    val docs = Seq((1L, "tiny", 100L), (2L, "tiny", 100L), (3L, "big", 4000L))
      .toDF("doc_id", "source", "toks")
    val w = TextAnalysis
      .epochWeightsForTokenTarget(docs, 1000L, capPermille = 3000L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w("tiny") == 3000L) // 1000·1000/200 = 5000 → capped at 3 epochs
    assert(w("big") == 250L)   // a quarter pass of the abundant source
  }

  test("window chunking: coverage, exact interior overlap, tail, and cross-doc sig equality") {
    val spark2 = spark; import spark2.implicits._
    def words(n: Int, p: String) = (0 until n).map(i => s"$p$i").mkString(" ")
    val docs = Seq(
      (1L, words(10, "w")), // 3 windows at (4,3): [0,4) [3,7) [6,10)
      (2L, words(4, "w")),  // exactly win → 1 window
      (3L, words(5, "w")),  // one past win → 2 windows, tail len 2
      (4L, words(2, "w")),  // short doc → 1 window of its own length
      (5L, words(10, "w"))  // identical to doc 1 → every sig shared
    ).toDF("doc_id", "text")
    val out = TextAnalysis.windowChunksOf(docs, win = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))

    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0L, 0L, 4L), (1L, 3L, 4L), (2L, 6L, 4L)))
    // every token position of doc 1 lands in >= 1 window; interior
    // neighbours overlap by exactly win - stride
    val covered = d1.flatMap(c => c._3 until (c._3 + c._4)).toSet
    assert(covered == (0L until 10L).toSet)
    assert(d1.sortBy(_._2).sliding(2).forall { case Array(a, b) =>
      (a._3 + a._4) - b._3 == 1L })
    assert(out.filter(_._1 == 2L).map(c => (c._2, c._4)).toSeq == Seq((0L, 4L)))
    assert(out.filter(_._1 == 3L).map(c => (c._2, c._4)).toSeq ==
      Seq((0L, 4L), (1L, 2L)))
    assert(out.filter(_._1 == 4L).map(c => (c._2, c._4)).toSeq == Seq((0L, 2L)))
    // identical text => identical sigs per chunk index (the identity
    // key chunk-level exact dedup consumes)
    val sig1 = d1.map(c => c._2 -> c._5).toMap
    val sig5 = out.filter(_._1 == 5L).map(c => c._2 -> c._5).toMap
    assert(sig1 == sig5 && sig1.values.toSet.size == 3)
    // degenerate stride is refused loudly, not silently quadratic
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.windowChunksOf(docs, win = 4, stride = 5)
    }
    assert(e.getMessage.contains("stride"))
  }

  test("BM25 ranking: idf beats common terms, length norm beats padding, ties on doc_id") {
    // Hand-computable corpus. doc 3 is the only id ≡ 3 (mod 97), so the
    // fixed query batch is exactly its first 8 distinct tokens
    // {rare1, rare2, common}. Expected ranking from BM25 axioms:
    //   3  — matches both rare terms (highest idf mass) → top
    //   10 — rare1 + common in a SHORT doc
    //   11 — same tf as 10 but 2× longer → length-normalized below 10
    //   12 — only the common term → last
    val dir = tmpDir("graft-bm25").toString
    val spark2 = spark
    import spark2.implicits._
    Seq(
      (3L, "rare1 rare2 common common common"),
      (10L, "rare1 common fillerA fillerB"),
      (11L, "rare1 common fillerA fillerB fillerC fillerD fillerE fillerF"),
      (12L, "common common common common"))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.bm25(spark, dir)
      .select("query_id", "rank", "doc_id", "n_terms")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.map(_._1).toSet == Set(3L)) // one query: doc 3
    assert(out.sortBy(_._2).map(_._3).toSeq == Seq(3L, 10L, 11L, 12L))
    // matched-term counts: doc 3 all three, 10/11 two, 12 one
    assert(out.map(r => r._3 -> r._4).toMap ==
      Map(3L -> 3L, 10L -> 2L, 11L -> 2L, 12L -> 1L))

    // frozen-index serving ≡ in-row, bit for bit (same query batch,
    // same corpus, both via bm25Tail) — scores included
    val inRow = TextAnalysis.bm25(spark, dir).collect().toSeq
    val idx = tmpDir("graft-bm25-idx").toString
    TextAnalysis.saveBm25Index(
      spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"), idx)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id", "split(text, ' ') AS words")
    val served = TextAnalysis.bm25Serve(spark,
      docs.filter($"doc_id" % 97 === 3)
        .selectExpr("doc_id AS query_id", "explode(slice(words, 1, 8)) AS term")
        .distinct(), idx).collect().toSeq
    assert(served == inRow, s"frozen != in-row:\n$served\n$inRow")
    // bucket count is pure LAYOUT: a 5-bucket index serves the exact
    // same rows as the 64-bucket default (and as the in-row query) —
    // if results ever depended on the partitioning, the serving path
    // would silently fork from the gate row
    val idx5 = tmpDir("graft-bm25-idx5").toString
    TextAnalysis.saveBm25Index(
      spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"),
      idx5, buckets = 5)
    val served5 = TextAnalysis.bm25Serve(spark,
      docs.filter($"doc_id" % 97 === 3)
        .selectExpr("doc_id AS query_id", "explode(slice(words, 1, 8)) AS term")
        .distinct(), idx5).collect().toSeq
    assert(served5 == inRow, "bucket count leaked into results")
    // a non-index path is refused loudly, not served as empty
    val err = intercept[IllegalArgumentException] {
      TextAnalysis.bm25Serve(spark, docs.limit(0)
        .selectExpr("doc_id AS query_id", "'x' AS term"), tmpDir("not-an-index").toString)
    }
    assert(err.getMessage.contains("_bm25_buckets"))
  }

  test("BM25 index lifecycle: append == rebuild bit-for-bit, compaction exact, crash intent replays") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val queries = spark.read.parquet(s"$dir/documents.parquet")
      .filter("doc_id % 97 = 3 AND doc_id < 100000")
      .selectExpr("doc_id AS query_id",
        "explode(slice(split(text, ' '), 1, 8)) AS term").distinct()
    def servedRows(idx: String) =
      TextAnalysis.bm25Serve(spark, queries, idx).collect().toSeq
    // one-shot build = the reference output
    val oneShot = tmpDir("bm25-oneshot").toString
    TextAnalysis.saveBm25Index(docs, oneShot)
    val ref = servedRows(oneShot)
    assert(ref.nonEmpty)
    // split build: three disjoint maintain appends — identical rows,
    // scores included (df/N/token roll-forward is exact, not approximate)
    val incr = tmpDir("bm25-incr").toString
    (0 to 2).foreach { r =>
      TextAnalysis.maintainBm25Index(
        docs.filter(s"doc_id % 3 = $r"), incr, r.toLong)
    }
    assert(servedRows(incr) == ref, "append != rebuild")
    // batch replay is idempotent: re-appending batch 1 replaces its
    // generation instead of double-counting its docs
    TextAnalysis.maintainBm25Index(docs.filter("doc_id % 3 = 1"), incr, 1L)
    assert(servedRows(incr) == ref, "batch replay double-counted")
    // compaction folds batches 0,1 into a generation (2 stays live as
    // the replayable batch) and serving stays bit-identical
    assert(TextAnalysis.compactBm25Index(spark, incr) == 2)
    assert(servedRows(incr) == ref, "compaction changed scores")
    val fs = graft.connect.Hfs.fs(spark, incr)
    def batches(sub: String) = graft.connect.Hfs.listDirs(fs,
      new org.apache.hadoop.fs.Path(incr, sub)).map(_.getName).sorted
    assert(batches("postings") == Seq("batch=-1", "batch=2"))
    // df is the postings row count: no per-batch df table is written
    assert(!fs.exists(new org.apache.hadoop.fs.Path(incr, "dfreq")))
    // a second compaction has a single foldable batch -> no-op
    assert(TextAnalysis.compactBm25Index(spark, incr) == 0)
    // the bucket modulus is part of the layout: a conflicting request
    // fails loudly BEFORE touching anything (ivfpq width convention)
    val conflict = intercept[IllegalArgumentException] {
      TextAnalysis.maintainBm25Index(docs.limit(1), incr, 5L, Some(7))
    }
    assert(conflict.getMessage.contains("bucket modulus is fixed"))
    // a MATCHING explicit request is accepted
    TextAnalysis.maintainBm25Index(docs.limit(0), incr, 5L,
      Some(TextAnalysis.defaultBm25Buckets))
    assert(servedRows(incr) == ref, "guard path disturbed the index")
    // crash-window replay: stage a compaction by hand (temps + intent,
    // sources still present — the state right after the commit point)
    // and serving must first fold it to completion, never double-count
    val crash = tmpDir("bm25-crash").toString
    (0 to 1).foreach { r =>
      TextAnalysis.maintainBm25Index(
        docs.filter(s"doc_id % 3 = $r"), crash, r.toLong)
    }
    TextAnalysis.maintainBm25Index(docs.filter("doc_id % 3 = 2"), crash, 2L)
    val cfs = graft.connect.Hfs.fs(spark, crash)
    stageCrashedCompaction(crash, legacyDfreq = false)
    // serve entry replays the intent: same rows, sources folded
    assert(servedRows(crash) == ref, "intent replay double-counted")
    assert(!cfs.exists(new org.apache.hadoop.fs.Path(crash, "_bm25_compact_intent")))
    assert(batches("postings") == Seq("batch=-1", "batch=2")) // incr untouched
    val crashBatches = graft.connect.Hfs.listDirs(cfs,
      new org.apache.hadoop.fs.Path(crash, "postings")).map(_.getName).sorted
    assert(crashBatches == Seq("batch=-1", "batch=2"))
  }

  /** Stage a compaction of batches 0+1 of the three-batch index at
    * `idx` by hand: copy their consolidations into temps exactly as
    * compactBm25Index would, then write the intent and STOP (the
    * simulated crash before any delete/rename). `legacyDfreq` first
    * gives every batch the per-batch `dfreq/` sub earlier layouts wrote
    * ((term, df) per bucket, df = the batch's postings rows per term)
    * and stages its summed `.compact-tmp` as their compaction did. */
  private def stageCrashedCompaction(idx: String, legacyDfreq: Boolean): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    val fs = graft.connect.Hfs.fs(spark, idx)
    spark.read.option("basePath", s"$idx/postings")
      .parquet(s"$idx/postings/batch=0", s"$idx/postings/batch=1")
      .drop("batch")
      .repartition(col("bucket"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$idx/postings/.compact-tmp")
    if (legacyDfreq) {
      (0 to 2).foreach { b =>
        spark.read.parquet(s"$idx/postings/batch=$b")
          .groupBy("term", "bucket").agg(count(lit(1)).as("df"))
          .repartition(col("bucket"))
          .sortWithinPartitions("bucket", "term")
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$idx/dfreq/batch=$b")
      }
      spark.read.option("basePath", s"$idx/dfreq")
        .parquet(s"$idx/dfreq/batch=0", s"$idx/dfreq/batch=1")
        .groupBy("term", "bucket").agg(sum("df").as("df"))
        .repartition(col("bucket"))
        .sortWithinPartitions("bucket", "term")
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$idx/dfreq/.compact-tmp")
    }
    val s01 = Seq(0L, 1L).map { b =>
      graft.connect.Hfs.readSmall(fs,
        new org.apache.hadoop.fs.Path(idx, s"stats/batch=$b"))
        .trim.split(" ").map(_.toLong)
    }
    graft.connect.Hfs.writeSmall(fs,
      new org.apache.hadoop.fs.Path(idx, "stats/.compact-tmp"),
      s"${s01.map(_(0)).sum} ${s01.map(_(1)).sum}", overwrite = true)
    graft.connect.Hfs.writeSmall(fs,
      new org.apache.hadoop.fs.Path(idx, "_bm25_compact_intent"),
      "-1 0,1", overwrite = true)
  }

  test("BM25 index with a legacy dfreq/ sub and a pending compaction: served as a fresh index, dfreq dropped by the next writer") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val queries = spark.read.parquet(s"$dir/documents.parquet")
      .filter("doc_id % 97 = 3 AND doc_id < 100000")
      .selectExpr("doc_id AS query_id",
        "explode(slice(split(text, ' '), 1, 8)) AS term").distinct()
    def servedRows(idx: String) = {
      val out = TextAnalysis.bm25Serve(spark, queries, idx).collect().toSeq
      graft.CacheScope.drain()
      out
    }
    val fresh = tmpDir("bm25-legacy-ref").toString
    TextAnalysis.saveBm25Index(docs, fresh)
    val ref = servedRows(fresh)
    assert(ref.nonEmpty)
    def legacy(name: String): (String, org.apache.hadoop.fs.FileSystem) = {
      val idx = tmpDir(name).toString
      (0 to 2).foreach { r =>
        TextAnalysis.maintainBm25Index(docs.filter(s"doc_id % 3 = $r"), idx, r.toLong)
      }
      stageCrashedCompaction(idx, legacyDfreq = true)
      graft.CacheScope.drain()
      (idx, graft.connect.Hfs.fs(spark, idx))
    }
    def has(fs: org.apache.hadoop.fs.FileSystem, idx: String, sub: String) =
      fs.exists(new org.apache.hadoop.fs.Path(idx, sub))
    // the serve replays the pending intent and ignores dfreq/
    val (a, afs) = legacy("bm25-legacy-compact")
    assert(servedRows(a) == ref, "legacy layout served different rows")
    assert(!has(afs, a, "_bm25_compact_intent"))
    assert(has(afs, a, "dfreq"), "a reader must not rewrite the index")
    // the next writer verb deletes dfreq/, staged temp included
    assert(TextAnalysis.compactBm25Index(spark, a) == 0)
    assert(!has(afs, a, "dfreq"))
    assert(servedRows(a) == ref, "dropping dfreq/ changed served rows")
    // maintain is a writer verb too, with the intent still pending; an
    // empty batch still writes nothing
    val (b, bfs) = legacy("bm25-legacy-maintain")
    TextAnalysis.maintainBm25Index(docs.limit(0), b, 7L)
    assert(!has(bfs, b, "dfreq") && !has(bfs, b, "_bm25_compact_intent"))
    assert(!has(bfs, b, "postings/batch=7") && !has(bfs, b, "stats/batch=7"))
    assert(servedRows(b) == ref, "maintain over a legacy layout changed served rows")
  }

  test("bm25 serving-batch ceiling: oversized query vocabulary fails loudly, names the routes") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val err = intercept[IllegalArgumentException] {
      // ceiling of 3 distinct terms makes any real target set oversized
      TextAnalysis.bm25RanksOn(docs, docs.limit(5), maxQueryTerms = 3L).count()
    }
    assert(err.getMessage.contains("serving-batch broadcast ceiling"))
    assert(err.getMessage.contains("exact_decontaminate"))
    // under the ceiling nothing changes: default guard admits the batch
    assert(TextAnalysis.bm25TopKOn(docs, docs.limit(2), 3).collect().nonEmpty)
    val idx = tmpDir("bm25-guard-idx").toString
    TextAnalysis.saveBm25Index(docs, idx)
    val q = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id AS query_id",
        "explode(slice(split(text, ' '), 1, 8)) AS term").distinct()
    val err2 = intercept[IllegalArgumentException] {
      TextAnalysis.bm25Serve(spark, q, idx, maxQueryTerms = 3L)
    }
    assert(err2.getMessage.contains("serving-batch broadcast ceiling"))
  }

  test("bm25Serve idfMode=lucene: ranks pin to an independent ln-idf computation off the same frozen index") {
    // r17 verdict ask #6: serve-time rank-compatibility with external
    // ln-idf retrievers, computable from the SAME additive stats —
    // the index artifact and its append ≡ rebuild invariant untouched.
    val dir = "/root/testdata/sf0.001"
    val docsDf = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val queries = spark.read.parquet(s"$dir/documents.parquet")
      .filter("doc_id % 97 = 3 AND doc_id < 100000")
      .selectExpr("doc_id AS query_id",
        "explode(slice(split(text, ' '), 1, 8)) AS term").distinct()
    val idx = tmpDir("bm25-lucene-idx").toString
    TextAnalysis.saveBm25Index(docsDf, idx)
    val exact = TextAnalysis.bm25Serve(spark, queries, idx)
      .as[(Long, Long, Long, Double, Long)].collect().toSeq
    graft.CacheScope.drain()
    val lucene = TextAnalysis.bm25Serve(spark, queries, idx, idfMode = "lucene")
      .as[(Long, Long, Long, Double, Long)].collect().toSeq
    graft.CacheScope.drain()
    assert(lucene.nonEmpty)

    // INDEPENDENT recomputation: pure-Scala tokenize/tf/df over the
    // collected corpus, Lucene's ln(1 + (N-df+1/2)/(df+1/2)), the same
    // saturation factor, rank by score desc / doc_id asc, top 5.
    // split(text, ' ') with limit -1 mirrors Spark's split semantics.
    val corpus = docsDf.as[(Long, String)].collect()
      .map { case (id, t) => id -> t.split(" ", -1).toSeq }
    val n = corpus.length.toDouble
    val toks = corpus.map(_._2.length.toLong).sum.toDouble
    val dfMap = corpus.flatMap { case (_, ws) => ws.distinct }
      .groupBy(identity).map { case (t, xs) => t -> xs.length.toDouble }
    val qrows = queries.as[(Long, String)].collect()
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val expected = qrows.toSeq.flatMap { case (qid, terms) =>
      val hits = corpus.flatMap { case (docId, ws) =>
        val len = ws.length.toDouble
        val matched = terms.toSeq.filter(t => ws.contains(t))
        if (matched.isEmpty) None else {
          val s = matched.map { t =>
            val df = dfMap(t)
            val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            val denom = {
              val tf = ws.count(_ == t).toDouble
              tf + 1.2 * (0.25 + 0.75 * (len * n / toks))
            }
            val tf = ws.count(_ == t).toDouble
            idf * ((tf * 2.2) / denom)
          }.sum
          Some((docId, s, matched.size.toLong))
        }
      }
      hits.sortBy { case (d, s, _) => (-s, d) }.take(5).zipWithIndex
        .map { case ((d, s, m), i) => (qid, (i + 1).toLong, d, s, m) }
    }.sortBy(r => (r._1, r._2))
    val got = lucene.sortBy(r => (r._1, r._2))
    assert(got.map(r => (r._1, r._2, r._3, r._5)) ==
      expected.map(r => (r._1, r._2, r._3, r._5)),
      "lucene-mode ranks diverge from the independent ln-idf computation")
    // scores agree through the s6 fixed point: the engine rounds each
    // term weight to the 1e-6 grid before summing, so the gap is at
    // most terms-per-query x half a grid step
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._4 - e._4) < 1e-5, s"score ${g._4} vs ${e._4} at $g")
    }
    // the mode actually switches: ln weights != odds-ratio weights
    assert(exact.map(_._4).toSet != lucene.map(_._4).toSet,
      "lucene scores identical to exact-mode scores — mode not applied")
    // unknown modes are refused loudly
    val err = intercept[IllegalArgumentException] {
      TextAnalysis.bm25Serve(spark, queries, idx, idfMode = "robertson").count()
    }
    assert(err.getMessage.contains("idfMode"))
  }

  test("bm25 s6 fixed-point headroom is enforced, not narrated (r16 ask #6)") {
    // the exact worst case: termsPerQuery * 2.2 * (2N+1)/3 * 1e6 must
    // keep 4x headroom under Long.Max. At 8 terms/query the ceiling
    // sits near N ~ 2e11 docs; a 10^12-doc corpus (the docstring's
    // singleton-df bound) must fail loudly with the rescale guidance.
    TextAnalysis.requireBm25Headroom(1_000_000_000L, 8L, "spec") // ~10^9: fine
    val err = intercept[IllegalArgumentException] {
      TextAnalysis.requireBm25Headroom(1_000_000_000_000L, 8L, "spec")
    }
    assert(err.getMessage.contains("fixed-point sum past the Long headroom"))
    assert(err.getMessage.contains("Rescale the fixed point"))
    // longer queries tighten the corpus bound proportionally
    intercept[IllegalArgumentException] {
      TextAnalysis.requireBm25Headroom(1_000_000_000L, 10000L, "spec")
    }
    // the serve path wires the guard with per-query term counts: a
    // normal fixture serve passes through it untouched (regression)
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
    val idx = tmpDir("bm25-headroom-idx").toString
    TextAnalysis.saveBm25Index(docs, idx)
    val q = spark.read.parquet(s"$dir/documents.parquet")
      .selectExpr("doc_id AS query_id",
        "explode(slice(split(text, ' '), 1, 8)) AS term")
      .distinct().limit(50)
    assert(TextAnalysis.bm25Serve(spark, q, idx).collect().nonEmpty)
  }

  test("hybrid RRF: fused score is exactly the rank formula; lexical ranks agree with bm25") {
    val dir = "/root/testdata/sf0.001"
    val out = TextAnalysis.hybridRrf(spark, dir)
      .select("query_id", "rank", "doc_id", "rrf", "lex_rank", "vec_rank")
      .as[(Long, Long, Long, Double, Long, Long)].collect()
    assert(out.nonEmpty)
    // per query: ranks are 1..k contiguous, per-system ranks in [0, 20]
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1L to rows.length).toSeq)
    }
    assert(out.forall(r => r._5 >= 0 && r._5 <= 20 && r._6 >= 0 && r._6 <= 20))
    // a doc in the top-5 was returned by at least one system
    assert(out.forall(r => r._5 > 0 || r._6 > 0))
    // the fused score IS the RRF formula over the emitted ranks —
    // recompute 1/(60+r) fixed-point from the output and match exactly
    out.foreach { r =>
      val expect = (if (r._5 > 0) math.round(1e6 / (60 + r._5)) else 0L) +
        (if (r._6 > 0) math.round(1e6 / (60 + r._6)) else 0L)
      assert(math.round(r._4 * 1e6) == expect, s"row $r")
    }
    // cross-operator consistency: where a fused doc carries a lexical
    // rank <= 5, the standalone bm25 row reports the SAME rank
    val bm = TextAnalysis.bm25(spark, dir)
      .select("query_id", "doc_id", "rank")
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val checked = out.filter(r => r._5 >= 1 && r._5 <= 5)
    assert(checked.nonEmpty)
    checked.foreach { r =>
      assert(bm.get((r._1, r._3)).contains(r._5),
        s"lex rank disagrees with bm25 for query ${r._1} doc ${r._3}")
    }
  }

  test("hybrid frozen-index serving == in-row fusion, bit for bit") {
    // the q_text_hybrid_serve argument: the frozen index serves
    // bit-identical lexical ranks (shared bm25Ranks tree, additive
    // stats), so the whole fused frame — scores included — must equal
    // the in-row row. Collected equality, not set equality: ordering
    // is part of both rows' contracts.
    val dir = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "doc_id", "rrf", "lex_rank", "vec_rank")
      .as[(Long, Long, Long, Double, Long, Long)].collect().toSeq
    val served = rows(TextAnalysis.hybridServeRow(spark, dir))
    graft.CacheScope.drain()
    val inRow = rows(TextAnalysis.hybridRrf(spark, dir))
    graft.CacheScope.drain()
    assert(served.nonEmpty && served == inRow)
  }
}
