package graft

/** Operator-level checks for the dedup family over the sf0.001 corpus —
  * semantic invariants, not golden values (the DuckDB oracle pins values). */
class DedupSpec extends SparkSpec {

  test("minhash LSH candidates agree with exact jaccard at the 0.5 threshold") {
    val lsh = SparkEntry.queries("dedup_minhash_lsh")(spark, sf001)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf001)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH at 4 bands × 4 rows catches jaccard ≳ 0.5 w.h.p.: every exact
    // pair must be found; est-jaccard ≥ 0.5 pairs must be a superset-free
    // match modulo banding noise — require symmetric difference small.
    assert(exact.subsetOf(lsh), s"LSH missed exact pairs: ${exact -- lsh}")
    assert((lsh -- exact).size <= exact.size, "LSH produced excessive false candidates")
  }

  test("minhash estimate approximates exact jaccard within binomial bounds") {
    val est = SparkEntry.queries("dedup_minhash_lsh")(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("est_jaccard")).toMap
    val exact = SparkEntry.queries("dedup_ngram_jaccard")(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard")).toMap
    // 16 permutations: sd of the estimate is sqrt(j(1-j)/16) <= 0.125;
    // allow 3 sd. Every exact pair was recovered (asserted above), so the
    // estimates must also be numerically sane.
    exact.foreach { case (pair, j) =>
      est.get(pair).foreach { e =>
        assert(math.abs(e - j) <= 3 * 0.125 + 0.01,
          s"pair $pair: est=$e exact=$j diverges beyond 3sd")
      }
    }
  }

  test("exact dedup: keep flag marks exactly one doc per fingerprint group") {
    val df = SparkEntry.queries("dedup_exact")(spark, sf001)
    val byFp = df.collect().groupBy(_.getAs[String]("fp"))
    byFp.foreach { case (_, rows) =>
      assert(rows.count(_.getAs[Boolean]("keep")) == 1)
      assert(rows.forall(_.getAs[Long]("group_size") == rows.length))
    }
  }

  test("simhash: docs with identical token multisets share a fingerprint") {
    import org.apache.spark.sql.functions._
    val fp = SparkEntry.queries("dedup_simhash")(spark, sf001)
    val clean = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), md5(array_join(graft.functions.Text.tokens(col("text")), " ")).as("fp"))
    val joined = clean.as("a").join(clean.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("x"), col("b.doc_id").as("y")).collect()
    val sim = fp.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    joined.foreach { r =>
      assert(sim(r.getAs[Long]("x")) == sim(r.getAs[Long]("y")),
        "identical-content docs must have equal simhash")
    }
  }

  test("simhash: small perturbations move few bits, disjoint content moves many") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def simhashOf(texts: Seq[String]): Seq[Long] = {
      // same construction as dedup_simhash, driven through the query on a temp view
      val hi = Seq("8", "9", "a", "b", "c", "d", "e", "f")
      texts.map { t =>
        val toks = t.split(" ").toSeq
        val sums = (1 to 16).map { i =>
          toks.map { tok =>
            val h = java.security.MessageDigest.getInstance("MD5")
              .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
            if (hi.contains(h.substring(i - 1, i))) 1 else -1
          }.sum
        }
        (1 to 16).map(i => if (sums(i - 1) > 0) 1L << (i - 1) else 0L).sum
      }
    }
    val base = "spark query scan merge join sort table row key value filter group"
    val Seq(h1, h2, h3) = simhashOf(Seq(
      base, base + " extra", "zebra yak xylophone wombat vulture unicorn"))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(h1, h2) <= 6, s"near-identical docs too far: ${hamming(h1, h2)}")
    assert(hamming(h1, h3) >= hamming(h1, h2),
      "disjoint content must not be closer than a near-duplicate")
  }

  test("components reaches fixpoint on a chain deeper than any fixed round count") {
    import spark.implicits._
    // a 6-node path graph has diameter 5: the old fixed-3-round propagation
    // left the tail labeled by an intermediate node (split component); the
    // fixpoint loop must converge every node to the component min
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("id_a", "id_b")
    val nodes = (1L to 6L).toDF("id")
    val labels = ops.Dedup.components(pairs, nodes).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(labels == (1L to 6L).map(_ -> 1L).toMap,
      s"chain must collapse to one cluster rooted at 1, got $labels")
  }

  test("components: frontier propagation matches driver union-find on random graphs") {
    import spark.implicits._
    // After round 1 only CHANGED labels are joined against edges (delta
    // iteration); a frontier bug would under-propagate and strand nodes on
    // intermediate labels — invisible on symmetric chains, so check random
    // graphs (mixed component sizes, cycles, isolated nodes) against an
    // exact driver-side union-find.
    val rnd = new scala.util.Random(1337)
    (1 to 3).foreach { trial =>
      val n = 60 + trial * 40
      val edges = (1 to n * 2).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter { case (a, b) => a != b }.distinct
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
      val got = ops.Dedup.components(
        edges.toDF("id_a", "id_b"), (0L until n.toLong).toDF("id")).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
      assert(got == expected, s"trial $trial (n=$n): frontier CC diverged from union-find")
    }
  }

  test("components: pointer-jumping branch (rounds >= 8) converges a deep chain") {
    import spark.implicits._
    // a 24-node path (diameter 23) cannot converge in the 8 plain rounds,
    // so the adaptive pointer-jumping join (label ← min(label,
    // label(label))) MUST run and be correct for this to reach the
    // fixpoint within the 50-round bound — plus a second component and an
    // isolated node to check jumping never merges across components
    val chain = (1L until 24L).map(i => (i, i + 1))
    val pairs = (chain ++ Seq((100L, 101L))).toDF("id_a", "id_b")
    val nodes = ((1L to 24L) ++ Seq(100L, 101L, 200L)).toDF("id")
    val labels = ops.Dedup.components(pairs, nodes).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    val expected = (1L to 24L).map(_ -> 1L).toMap ++
      Map(100L -> 100L, 101L -> 100L, 200L -> 200L)
    assert(labels == expected,
      s"deep chain must collapse to min label without cross-component merges, got $labels")
  }

  test("components: lineage is checkpoint-bounded on a deep chain (plan depth stays O(1))") {
    import spark.implicits._
    // 40-node path: ~12 propagation rounds (8 plain + jumping) — enough to
    // cross two checkpoint boundaries (every 5 rounds). Without the
    // localCheckpoint, the returned frame's plan nests one join per round
    // and its depth grows with the graph diameter; with it, the plan
    // bottoms out at the last materialized checkpoint, so total tree size
    // stays small and — the real 100×-scale property — independent of how
    // many rounds ran before the last checkpoint window.
    val chain = (1L until 40L).map(i => (i, i + 1))
    val pairs = chain.toDF("id_a", "id_b")
    val nodes = (1L to 40L).toDF("id")
    val result = ops.Dedup.components(pairs, nodes)
    val labels = result.collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(labels == (1L to 40L).map(_ -> 1L).toMap,
      s"40-chain must collapse to one cluster rooted at 1, got $labels")
    // bounded-plan-depth assertion on the ANALYZED plan (cache substitution
    // hasn't run there, so it reflects the tree the analyzer walks on every
    // action): at most the ≤4 post-checkpoint rounds' worth of operators —
    // each round nests a join+agg plus a full copy of the edges subtree —
    // on top of a LogicalRDD checkpoint scan, independent of how many
    // rounds ran before the last checkpoint. Uncheckpointed, a ~12-round
    // chain carries every round's copy and blows well past the threshold.
    val planSize = result.queryExecution.analyzed.collect { case p => p }.size
    assert(planSize < 100,
      s"components() plan carries $planSize operators — lineage checkpoint not applied?")
  }

  test("components: reliable checkpoint dir survives-executor-loss path (conf-gated)") {
    import spark.implicits._
    // same 40-node chain as the localCheckpoint test, but with
    // spark.graft.cc.checkpointDir set: the fixpoint must checkpoint into
    // the RELIABLE directory (files on the fault-tolerant store, not
    // executor-local blocks) and still converge to the same labels with
    // the same bounded plan
    val cpDir = TmpDirs.create("graft_cc_cp").toString
    spark.conf.set("spark.graft.cc.checkpointDir", cpDir)
    try {
      val chain = (1L until 40L).map(i => (i, i + 1))
      val pairs = chain.toDF("id_a", "id_b")
      val nodes = (1L to 40L).toDF("id")
      val result = ops.Dedup.components(pairs, nodes)
      val labels = result.collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
      assert(labels == (1L to 40L).map(_ -> 1L).toMap,
        s"40-chain must collapse to one cluster rooted at 1, got $labels")
      val planSize = result.queryExecution.analyzed.collect { case p => p }.size
      assert(planSize < 100,
        s"plan carries $planSize operators — reliable checkpoint not applied?")
      // the checkpoint actually landed in the reliable dir
      def rddFiles(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(rddFiles)
        else if (f.getName.startsWith("part-")) Seq(f) else Nil
      val files = rddFiles(new java.io.File(cpDir))
      assert(files.nonEmpty,
        s"no checkpoint partition files under $cpDir — localCheckpoint used instead?")
    } finally {
      spark.conf.unset("spark.graft.cc.checkpointDir")
      // don't leave the context checkpoint dir pointing at this test's
      // temp dir for the rest of the shared session (ADVICE)
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("components: reliable checkpoint survives total block eviction (executor loss); local does not") {
    import spark.implicits._
    // The executor-loss scenario the conf exists for, simulated the only
    // way local[n] allows: evict EVERY cached/checkpoint BLOCK after the
    // fixpoint (localCheckpoint data is ordinary ephemeral block storage —
    // exactly what dies with an executor) and act on the returned frame
    // again. The reliable path must recompute from the checkpoint FILES
    // alone; the localCheckpoint path must fail — which makes this test
    // fail if checkpoint(true) is ever swapped back to localCheckpoint.
    val chain = (1L until 40L).map(i => (i, i + 1)) // ~12 rounds, 2 checkpoints
    val expected = (1L to 40L).map(_ -> 1L).toMap
    def evictAllBlocks(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    // reliable path: conf set -> post-eviction recompute succeeds
    val cpDir = TmpDirs.create("graft_cc_evict").toString
    spark.conf.set("spark.graft.cc.checkpointDir", cpDir)
    try {
      val result = ops.Dedup.components(
        chain.toDF("id_a", "id_b"), (1L to 40L).toDF("id"))
      result.count() // run the fixpoint, then lose every block
      evictAllBlocks()
      val labels = result.collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
      assert(labels == expected,
        s"post-eviction recompute from reliable checkpoint files diverged: $labels")
    } finally {
      spark.conf.unset("spark.graft.cc.checkpointDir")
      spark.sparkContext.setCheckpointDir(null)
    }
    // local path: same eviction kills the recompute (blocks were the only
    // copy) — the failure mode the reliable conf exists to remove
    val local = ops.Dedup.components(
      chain.toDF("id_a", "id_b"), (1L to 40L).toDF("id"))
    local.count()
    evictAllBlocks()
    val e = intercept[org.apache.spark.SparkException](local.collect())
    assert(e.getMessage != null && e.getMessage.toLowerCase.contains("checkpoint"),
      s"expected lost-checkpoint-block failure, got: ${e.getMessage}")
  }

  test("incremental dedup against the persisted index equals the direct cross-split pairs") {
    // The persisted-LSH-index probe must be LOSSLESS: every near-dup link
    // between the batch half and the corpus half that the direct
    // (recompute-everything) pair builder finds, and nothing else. Compare
    // dedup_incremental to dedup_minhash_lsh restricted to cross-split
    // pairs at the same threshold.
    val half = graft.Tables.documents(spark, sf001).count() / 2
    val direct = SparkEntry.queries("dedup_minhash_lsh")(spark, sf001)
      .filter(org.apache.spark.sql.functions.col("id_a") < half &&
        org.apache.spark.sql.functions.col("id_b") >= half)
      .collect()
      .map(r => (r.getAs[Long]("id_b"), r.getAs[Long]("id_a"),
        r.getAs[Double]("est_jaccard"))).toSet
    val viaIndex = SparkEntry.queries("dedup_incremental")(spark, sf001)
      .collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"),
        r.getAs[Double]("est_jaccard"))).toSet
    assert(viaIndex == direct,
      s"index probe diverged from direct pairs: only-index=${viaIndex -- direct}, " +
        s"missed=${direct -- viaIndex}")
  }

  test("lsh index: probing arrivals in separate batches equals one combined probe") {
    // The streaming-intake soundness claim: because a doc's signature
    // depends only on its own shingles, splitting the arriving half into
    // any number of micro-batches and probing each independently yields
    // exactly the union of links the one-shot probe yields.
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, sf001)
    val n = docs.count()
    val (half, q3) = (n / 2, 3 * n / 4)
    val idx = TmpDirs.create("graft_idx_split").toString
    ops.Dedup.buildLshIndex(
      ops.Dedup.sigWithArray(docs.filter(col("doc_id") < half)), idx)
    def probe(df: org.apache.spark.sql.DataFrame) =
      ops.Dedup.probeLshIndex(spark, ops.Dedup.sigWithArray(df), idx)
        .collect()
        .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"),
          r.getAs[Double]("est_jaccard"))).toSet
    val combined = probe(docs.filter(col("doc_id") >= half))
    val batchwise =
      probe(docs.filter(col("doc_id") >= half && col("doc_id") < q3)) ++
        probe(docs.filter(col("doc_id") >= q3))
    assert(batchwise == combined,
      s"batchwise != combined: only-batchwise=${batchwise -- combined}, " +
        s"missed=${combined -- batchwise}")
    assert(combined.nonEmpty, "fixture must produce at least one cross-split link")
  }

  test("minhash pair graph: distinct-text dictionary tier ≡ direct path") {
    // r19 (from the first 1000× watch sweep: the doc-level pair pipeline
    // and artifact are output-quadratic under duplication and ran the
    // sandbox out of disk). On a 3×-duplicated corpus the gated
    // rep-graph decomposition must emit the IDENTICAL pair set, labels,
    // and levenshtein stats as the direct doc-level plan.
    import org.apache.spark.sql.functions.{col, lit}
    val docs = graft.Tables.documents(spark, sf001).select(col("doc_id"), col("text"))
    val maxId = docs.agg(org.apache.spark.sql.functions.max(col("doc_id")))
      .head.getLong(0) + 1L
    val dup = (0 until 3).map(i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * maxId))).reduce(_ unionAll _)
    // sorted SEQUENCES, not sets (r19 ADVICE #4): the registered queries
    // emit ordered lists pinned by the DuckDB oracle, where a duplicate
    // row from the expansion would be a correctness break a set compare
    // masks — sequence equality pins multiplicity too.
    def pairSet() = ops.Dedup.minhashPairs(dup).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    def labelSet() = ops.Dedup.labelsOf(dup).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    sys.props("graft.minhash.dict.minfactor") = Long.MaxValue.toString
    val (directPairs, directLabels) =
      try (pairSet(), labelSet())
      finally sys.props.remove("graft.minhash.dict.minfactor")
    // 3x duplication passes the default 2.0 gate: dictionary tier active
    assert(ops.Dedup.minhashDict(dup).isDefined,
      "3x-duplicated corpus must trip the default gate")
    val (dictPairs, dictLabels) = (pairSet(), labelSet())
    assert(dictPairs == directPairs,
      s"pair divergence: only-dict=${dictPairs.diff(directPairs)}, missed=${directPairs.diff(dictPairs)}")
    assert(dictPairs.nonEmpty && dictLabels == directLabels)
    // levenshtein: rep-level verify + expansion ≡ doc-level verify
    val Some((rp, m)) = ops.Dedup.minhashDict(dup)
    def levSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getDouble(5))).toSeq.sorted
    val dictLev = levSet(ops.Dedup.expandLevenshtein(rp, m, dup))
    sys.props("graft.minhash.dict.minfactor") = Long.MaxValue.toString
    val directLev =
      try levSet(ops.Dedup.levenshteinCore(dup))
      finally sys.props.remove("graft.minhash.dict.minfactor")
    assert(dictLev == directLev,
      s"lev divergence: only-dict=${dictLev.diff(directLev).take(3)}, missed=${directLev.diff(dictLev).take(3)}")
  }

  test("fuzzy contamination: rep-level aggregation ≡ expand-then-aggregate on a duplicated corpus") {
    // r20: the registered report aggregates the probe's rep_links BEFORE
    // member expansion (the expanded link list is quadratic under corpus
    // duplication — 1000× watch ratio 97.8 in r19 — and the report
    // immediately collapses it to one row per test doc). On a
    // 3×-duplicated corpus, where batch and corpus groups both hold
    // multiple members, the registered query must emit row-for-row the
    // legacy expand-then-aggregate report over the SAME probe frames.
    import org.apache.spark.sql.functions.{col, lit}
    val base = graft.Tables.documents(spark, sf001).select(col("doc_id"), col("text"))
    val maxId = base.agg(org.apache.spark.sql.functions.max(col("doc_id")))
      .head.getLong(0) + 1L
    val dup = (0 until 3).map(i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * maxId))).reduce(_ unionAll _)
    val dir = TmpDirs.create("graft_contam_dup").toString
    dup.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_matches"),
        r.getAs[Long]("best_train_id"), r.getAs[Double]("best_est"),
        r.getAs[Boolean]("contaminated"))).toSeq.sorted
    val out = rows(SparkEntry.queries("dedup_contamination")(spark, dir))
    val docs = graft.Tables.documents(spark, dir)
    // 3× duplication trips the default 2.0 gate: rep-level path active
    val (nD, nDd) = ops.Dedup.duplicationOf(docs)
    assert(nD >= 2L * nDd, "fixture must trip the default duplication gate")
    val half = docs.count() / 2
    val testSig = ops.Dedup.sigWithArray(docs.filter(col("doc_id") >= half))
    val idx = ops.Dedup.corpusLshIndex(dir,
      ops.Dedup.sigWithArray(docs.filter(col("doc_id") < half)))
    val legacy = rows(ops.Dedup.contaminationReport(
      ops.Dedup.probeLshIndex(spark, testSig, idx)
        .select(col("batch_id").as("test_id"), col("corpus_id").as("train_id"),
          col("est_jaccard")),
      testSig.select(col("doc_id"))))
    assert(out == legacy,
      s"report divergence: only-new=${out.diff(legacy).take(3)}, missed=${legacy.diff(out).take(3)}")
    // the fixture must actually exercise multi-member aggregation: some
    // test doc matching >1 member of one corpus group
    assert(out.exists(_._2 > 1), "fixture must produce a multi-match test doc")
  }

  test("fit-once lsh index: dataset regeneration replaces the memo entry") {
    // r18 ADVICE: fingerprint-in-key memos (lshIndexes, idxRepCounts)
    // accreted one entry per dataset regeneration at the same path for
    // the JVM lifetime. The index memo now keys on the dataset DIR with
    // the (path, mtime, size) snapshot as a replace-on-mismatch validity
    // check, and replacing evicts the superseded tree's rep-count row.
    import spark.implicits._
    val dir = TmpDirs.create("graft_idx_evict").toString
    def gen(n: Int): Unit =
      (0 until n).map(i => (i.toLong, s"some repeated text body $i alpha beta gamma delta"))
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    gen(8)
    def docs = spark.read.parquet(s"$dir/documents.parquet")
    val idx1 = ops.Dedup.corpusLshIndex(dir, ops.Dedup.sigWithArray(docs))
    assert(ops.Dedup.corpusLshIndex(dir, ops.Dedup.sigWithArray(docs)) == idx1,
      "same snapshot must serve the memoized tree")
    ops.Dedup.idxRepCounts.put(idx1, 99L) // simulate a probe's rep-count memo
    Thread.sleep(20) // ensure the (mtime, size) snapshot moves
    gen(12)
    val idx2 = ops.Dedup.corpusLshIndex(dir, ops.Dedup.sigWithArray(docs))
    assert(idx2 != idx1, "a regenerated dataset must get a fresh tree")
    assert(ops.Dedup.lshIndexes.get(dir).exists(_._2 == idx2) &&
      !ops.Dedup.lshIndexes.values.exists(_._2 == idx1),
      "the superseded entry must be REPLACED, not accreted")
    assert(!ops.Dedup.idxRepCounts.contains(idx1),
      "the superseded tree's rep-count memo must be evicted")
  }

  test("native minhash16 signatures ≡ declarative dict-join chain, element-exact") {
    // r18: the fused per-doc native pass (one md5 per (shingle, perm),
    // map-only) must reproduce the retired explode → distinct-shingle
    // dict join → 16-way min groupBy chain hex-for-hex — on the fixture
    // corpus AND on torture rows (unicode tokens, duplicate-heavy text,
    // sub-shingle docs which BOTH paths must exclude).
    import spark.implicits._
    def sigs(df: org.apache.spark.sql.DataFrame) =
      ops.Dedup.sigWithArray(df).select("doc_id", "sig").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    def sigsDecl(df: org.apache.spark.sql.DataFrame) =
      ops.Dedup.sigWithArrayDeclarative(df).select("doc_id", "sig").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val fixture = graft.Tables.documents(spark, sf001)
    val (n, d) = (sigs(fixture), sigsDecl(fixture))
    assert(n.keySet == d.keySet)
    assert(n.nonEmpty, "fixture must produce signatures")
    n.keys.foreach(k => assert(n(k) == d(k), s"doc $k: ${n(k)} vs ${d(k)}"))
    val torture = Seq(
      (1L, "alpha beta gamma alpha beta gamma alpha beta gamma delta"),
      (2L, "únïcødé tøkens ærøse únïcødé tøkens ærøse wieder"),
      (3L, "two tokens"), // < 3 tokens: no shingle, excluded by BOTH paths
      (4L, "The QUICK brown FOX jumps OVER the lazy DOG again and again"))
      .toDF("doc_id", "text")
    val (tn, td) = (sigs(torture), sigsDecl(torture))
    assert(tn.keySet == td.keySet && !tn.contains(3L))
    tn.keys.foreach(k => assert(tn(k) == td(k), s"torture doc $k diverged"))
    tn.values.foreach(v => assert(v.length == 16 &&
      v.forall(_.matches("[0-9a-f]{32}"))))
  }

  test("lsh index probe: hash-prefiltered two-phase verify ≡ single-phase exact verify") {
    // r18 (r17 verdict #1): past the rep-count gate the probe prefilters
    // band candidates on compact per-position xxhash64 arrays and fetches
    // the md5-string arrays only for survivors. Hash agreement is a
    // superset of string agreement (equal strings => equal hashes
    // position-for-position), so the two plans must emit IDENTICAL links.
    // Force each plan via the gate's system property on the same index.
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.documents(spark, sf001)
    val half = docs.count() / 2
    val idx = TmpDirs.create("graft_idx_prefilter").toString
    ops.Dedup.buildLshIndex(
      ops.Dedup.sigWithArray(docs.filter(col("doc_id") < half)), idx)
    def probe(): Set[(Long, Long, Double)] =
      ops.Dedup.probeLshIndex(spark,
          ops.Dedup.sigWithArray(docs.filter(col("doc_id") >= half)), idx)
        .collect()
        .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"),
          r.getAs[Double]("est_jaccard"))).toSet
    sys.props("graft.lsh.prefilter.minreps") = Long.MaxValue.toString
    val singlePhase = try probe() finally sys.props.remove("graft.lsh.prefilter.minreps")
    sys.props("graft.lsh.prefilter.minreps") = "0"
    val twoPhase = try probe() finally sys.props.remove("graft.lsh.prefilter.minreps")
    assert(twoPhase == singlePhase,
      s"prefilter diverged: only-two-phase=${twoPhase -- singlePhase}, " +
        s"missed=${singlePhase -- twoPhase}")
    assert(singlePhase.nonEmpty, "fixture must produce at least one link")
  }

  test("malformed numeric knobs fall back to their defaults") {
    // a knob value that does not parse must act as if unset, never crash
    // the query: each query's rows under "abc" equal its default rows
    import spark.implicits._
    def rows(q: String, dir: String) =
      SparkEntry.queries(q)(spark, dir).collect().map(_.toSeq).toSeq
    // the phash64 cap is read only when there are edges: one near pair
    // (Hamming distance 1, the MultimodalSpec tier fixture) makes one
    val dir = TmpDirs.create("graft_knob_fallback")
    Seq((1L, ("a" * 32) + ("b" * 32)), (2L, ("a" * 31) + "b" + ("b" * 32)),
        (9L, "q" * 96))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(dir.resolve("documents.parquet").toString)
    for ((knob, q, d) <- Seq(
        ("graft.phash64.uf.cap", "mm_phash64_cluster", dir.toString),
        ("graft.lsh.prefilter.minreps", "dedup_incremental", sf001))) {
      val default = rows(q, d)
      sys.props(knob) = "abc"
      val malformed = try rows(q, d) finally sys.props.remove(knob)
      assert(default.nonEmpty && malformed == default, s"$knob=abc changed $q")
    }
  }

  test("ngram jaccard: duplication-gated dictionary tier ≡ direct path") {
    // r18: identical texts have identical shingle sets, so past the
    // measured gate the capped universe / sizes / pair stats compute at
    // distinct-text scale with weighted df and expand through id-only
    // member joins; within-group pairs carry (k surviving shingles,
    // jaccard 1.0). Force both paths and pin the exact pair set.
    import spark.implicits._
    val t1 = "alpha beta gamma delta epsilon zeta"
    val t2 = "alpha beta gamma delta epsilon eta"
    val t3 = "one two three four five six"
    val docs = Seq((1L, t1), (2L, t2), (3L, t3), (4L, t1), (5L, t3), (6L, t3))
      .toDF("doc_id", "text")
    def run(factor: String) = {
      sys.props("graft.ngram.dict.minfactor") = factor
      try ops.Dedup.ngramJaccardCore(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      finally sys.props.remove("graft.ngram.dict.minfactor")
    }
    val direct = run("1e18")
    val dict = run("1.0")
    assert(dict == direct, s"dict=$dict direct=$direct")
    assert(direct == Set(
      (1L, 2L, 3L, 0.6), (2L, 4L, 3L, 0.6), // cross-group: 3 of 5 shingles
      (1L, 4L, 4L, 1.0),                    // within t1's pair
      (3L, 5L, 4L, 1.0), (3L, 6L, 4L, 1.0), (5L, 6L, 4L, 1.0)),
      s"got $direct")
  }

  test("substring dedup: duplication-gated dictionary tier ≡ direct path") {
    // r18: on a measurably duplicated corpus the anchor pipeline runs at
    // distinct-text scale with multiplicity weights and expands per-doc
    // rows through an id-only member join. Output must be IDENTICAL to
    // the direct path — force each via the gate's system property.
    import spark.implicits._
    val block = "x" * 60
    val t1 = "a" * 50 + block + "b" * 50
    val t2 = "c" * 50 + block + "d" * 50
    val t3 = "e" * 160
    val docs = Seq((1L, t1), (2L, t2), (3L, t3), (4L, t1), (5L, t3), (6L, t3))
      .toDF("doc_id", "text")
    def run(factor: String) = {
      sys.props("graft.substring.dict.minfactor") = factor
      try ops.Dedup.substringCoverage(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5))).toSeq
      finally sys.props.remove("graft.substring.dict.minfactor")
    }
    val direct = run("1e18")
    val dict = run("1.0")
    assert(dict == direct, s"dict=$dict direct=$direct")
    // full-copy docs must be fully covered, and copies carry their
    // rep's stats exactly
    val byId = direct.map(r => r._1 -> r).toMap
    Seq(3L, 5L, 6L).foreach(id => assert(byId(id)._6 == 1.0, s"doc $id"))
    assert(byId(4L)._2 == byId(1L)._2 && byId(4L)._4 == byId(1L)._4 &&
      byId(4L)._6 == byId(1L)._6)
  }

  test("substring dedup: anchor recompute (r21 default) ≡ DISK_ONLY-cached anchors") {
    // r21: the per-position anchor frame is recomputed per consumer
    // instead of cached to disk — a pure storage decision; coverage rows
    // must be identical under the forced-cached legacy path.
    import spark.implicits._
    val block = "y" * 60
    val docs = Seq((1L, "a" * 50 + block + "b" * 50),
      (2L, "c" * 50 + block + "d" * 50), (3L, "e" * 160), (4L, "f" * 30))
      .toDF("doc_id", "text")
    def run() = ops.Dedup.substringCoverage(docs).collect().map(_.toSeq).toSeq
    val recomputed = run()
    sys.props("graft.substring.anchors") = "cached"
    val cached = try run() finally sys.props.remove("graft.substring.anchors")
    assert(recomputed.nonEmpty && recomputed == cached,
      s"anchor storage decision changed results ($recomputed vs $cached)")
  }

  test("substring dedup: coverage is the interval union of duplicated 40-char spans") {
    import spark.implicits._
    // doc 1 and 2 share one exact 60-char block (=> 21 anchor windows
    // each, merging into ONE island of 60 chars); doc 3 shares nothing.
    // Unique prefixes/suffixes are longer than SpanL so no accidental
    // cross-doc window alignment, and every char is distinct filler.
    val block = "the quick brown fox jumps over the lazy dog again and again!" // 60 chars
    assert(block.length == 60)
    def filler(seed: Long): String = {
      // seeded => deterministic; random => no accidental shared or
      // self-repeated 40-char windows among the fillers
      val r = new java.util.Random(seed)
      (0 until 50).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val docs = Seq(
      (1L, filler(1) + block + filler(2)),
      (2L, filler(3) + block + filler(4)),
      (3L, filler(5) + filler(6) + filler(7))
    ).toDF("doc_id", "text")
    val out = ops.Dedup.substringCoverage(docs).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_anchors"),
        r.getAs[Long]("dup_islands"), r.getAs[Long]("dup_chars"),
        r.getAs[Double]("dup_ratio")))
    // a shared 60-char block yields 60-40+1 = 21 duplicated windows that
    // union to exactly the 60 shared chars; doc 3 must be absent
    assert(out.map(_._1).toSeq == Seq(1L, 2L))
    out.foreach { case (_, anchors, islands, chars, ratio) =>
      assert(anchors == 21, s"anchors=$anchors")
      assert(islands == 1, s"islands=$islands")
      assert(chars == 60, s"chars=$chars")
      assert(ratio == math.round(60.0 / 160 * 10000) / 10000.0)
    }
  }

  test("embed near-dup: LSH-banded pairs are exact-threshold pairs with high recall") {
    import org.apache.spark.sql.functions._
    graft.functions.CosineSim.register(spark)
    // exact all-pairs twin, test-only (fixture scale): every pair at cos>=0.45
    val e = graft.Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding"))
    val exact = e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", round(
        graft.functions.CosineSim.cosine_sim(col("a.embedding"), col("b.embedding")), 4))
      .filter(col("cos") >= 0.45)
      .select(col("a.vec_id"), col("b.vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("dedup_embed_cosine")(spark, sf001)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision 1 by construction (candidates are cosine-verified)...
    assert(lsh.subsetOf(exact), s"false positives: ${lsh -- exact}")
    // ...and the 16-band x 4-bit scheme must recover nearly all true pairs
    assert(exact.isEmpty || (exact & lsh).size.toDouble / exact.size >= 0.9,
      s"recall too low: found ${(exact & lsh).size}/${exact.size}")
  }

  test("embed pairs: a duplicated zero vector is dropped, matching the oracle") {
    // r17 ADVICE: the within-group (identical-vector) fast path used to
    // hardcode cos = 1.0 and so EMITTED a duplicated all-zero embedding
    // pair — but the DuckDB oracle's generic formula divides 0/0, which
    // is NULL in DuckDB and fails its WHERE, and the shared cosine_sim
    // expression zero-guards the denominator to 0.0, which fails the
    // same ≥ 0.45 predicate. The group cos now flows through cosine_sim
    // and the shared threshold — pin both the drop and the 1.0 case.
    import spark.implicits._
    val zero = Array.fill(64)(0f)
    val ones = Array.fill(64)(1f)
    val emb = Seq((1L, zero), (2L, zero), (3L, ones), (4L, ones))
      .toDF("vec_id", "embedding")
    val rows = graft.ops.Dedup.embedPairs(spark, emb).collect()
    val m = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(m.keySet == Set((3L, 4L)),
      s"zero-vector pair must be dropped like the oracle drops it; got ${m.keySet}")
    assert(m((3L, 4L)) == 1.0)
  }

  test("cluster rep: one keeper per cluster, and it is the max-quality member") {
    val rows = SparkEntry.queries("dedup_cluster_rep")(spark, sf001).collect()
    val clusters = SparkEntry.queries("dedup_clusters")(spark, sf001).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    // every document appears exactly once (singletons included)
    val nDocs = graft.Tables.documents(spark, sf001).count()
    assert(rows.length.toLong == nDocs, "rep table must cover every doc")
    // clustered docs carry the CC label; unclustered docs are their own cluster
    rows.foreach { r =>
      val doc = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("cluster_id") == clusters.getOrElse(doc, doc))
    }
    rows.groupBy(_.getAs[Long]("cluster_id")).foreach { case (c, members) =>
      val keepers = members.filter(_.getAs[Boolean]("keep"))
      assert(keepers.length == 1, s"cluster $c must elect exactly one keeper")
      val best = members.map(m =>
        (Option(m.getAs[java.lang.Double]("quality")).map(-_.doubleValue).getOrElse(1.0),
          m.getAs[Long]("doc_id"))).min
      assert(keepers.head.getAs[Long]("doc_id") == best._2,
        s"cluster $c keeper is not the max-quality (ties: min id) member")
      assert(members.forall(m =>
        m.getAs[Long]("rep_id") == keepers.head.getAs[Long]("doc_id")),
        s"cluster $c members must all point at the keeper")
    }
  }

  test("fuzzy contamination: near-copy and exact-copy test docs flag, disjoint does not") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // train: 0..2, test: 3..5 (half=3). Doc 3 is doc 0 with one token
    // swapped (near-verbatim leak — the case exact n-gram audits
    // under-count), doc 5 is doc 1 verbatim, doc 4 shares nothing.
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (0L, base),
      (1L, "one two three four five six seven eight nine ten eleven twelve"),
      (2L, "red orange yellow green blue indigo violet crimson amber teal"),
      (3L, base.replace("theta", "thetan")),
      (4L, "spark flink trino presto duck goose heron storm samza beam"),
      (5L, "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val out = ops.Dedup.fuzzyContaminationCore(docs, 3L).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.keySet == Set(3L, 4L, 5L))
    assert(out(3L).getAs[Boolean]("contaminated") &&
      out(3L).getAs[Long]("best_train_id") == 0L)
    assert(!out(4L).getAs[Boolean]("contaminated") &&
      out(4L).getAs[Long]("best_train_id") == -1L &&
      out(4L).getAs[Double]("best_est") == 0.0 &&
      out(4L).getAs[Long]("n_matches") == 0L)
    assert(out(5L).getAs[Boolean]("contaminated") &&
      out(5L).getAs[Long]("best_train_id") == 1L &&
      out(5L).getAs[Double]("best_est") == 1.0)
  }

  test("fuzzy contamination agrees with the cross-split restriction of minhash pairs") {
    // The audit is definitionally the per-test-doc aggregation of
    // dedup_minhash_lsh's verified pairs restricted to cross-split:
    // n_matches = count, best_est = max est (ties -> lowest train id).
    import org.apache.spark.sql.functions.col
    val half = graft.Tables.documents(spark, sf001).count() / 2
    val cross = SparkEntry.queries("dedup_minhash_lsh")(spark, sf001)
      .filter(col("id_a") < half && col("id_b") >= half)
      .collect()
      .map(r => (r.getAs[Long]("id_b"), r.getAs[Long]("id_a"),
        r.getAs[Double]("est_jaccard")))
      .groupBy(_._1)
    val out = SparkEntry.queries("dedup_contamination")(spark, sf001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val doc = r.getAs[Long]("doc_id")
      cross.get(doc) match {
        case Some(links) =>
          assert(r.getAs[Long]("n_matches") == links.length)
          val bestEst = links.map(_._3).max
          assert(r.getAs[Double]("best_est") == bestEst)
          assert(r.getAs[Long]("best_train_id") ==
            links.filter(_._3 == bestEst).map(_._2).min)
          assert(r.getAs[Boolean]("contaminated"))
        case None =>
          assert(!r.getAs[Boolean]("contaminated") &&
            r.getAs[Long]("n_matches") == 0L)
      }
    }
    assert(out.count(_.getAs[Boolean]("contaminated")) ==
      cross.size, "every cross-split linked test doc must flag")
  }

  test("knn: brute-force rank-1 neighbor has the highest cosine; lsh is a subset of candidates") {
    val bf = SparkEntry.queries("sim_knn_bruteforce")(spark, sf001).collect()
    val byQuery = bf.groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      val cosines = sorted.map(_.getAs[Double]("cos"))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b },
        "cosines must be non-increasing in rank")
    }
  }

  test("ngram jaccard: corpus-hot shingles past the df cap generate no pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 150 docs (> NgramDfCap = 100) share exactly ONE shingle ("zebra
    // zebra zebra"); each doc's second shingle is unique. Without the cap
    // the hot shingle alone yields C(150,2) = 11,175 candidates; with it,
    // the hot shingle leaves the universe and those docs share nothing.
    // Two extra identical docs (200, 201) share only low-df shingles and
    // must still pair at jaccard 1.0 over the capped universe.
    def filler(i: Int) = "filler" + ('a' + i / 26).toChar + ('a' + i % 26).toChar
    val docs = ((0 until 150).map(i =>
      (i.toLong, s"zebra zebra zebra ${filler(i)}")) ++
      Seq((200L, "apple mango cherry durian"),
        (201L, "apple mango cherry durian"))).toDF("doc_id", "text")
    val out = graft.ops.Dedup.ngramJaccardCore(docs)
      .select(col("id_a"), col("id_b"), col("jaccard")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((200L, 201L, 1.0)),
      s"only the low-df identical pair may survive the cap: ${out.toSeq}")
  }

  test("signature dictionary tier ≡ direct sigWithArray on a duplicated corpus") {
    // r21 verdict #4: identical texts ⇒ identical signatures, so past the
    // gate the 16-md5-per-shingle pass runs once per DISTINCT text and
    // doc rows come back through an id-only member join. Pin row-exact
    // equality (ids, every mh column, the sig array) with the gate
    // forced both ways, including shingle-less docs (no row either way).
    import spark.implicits._
    val t1 = "alpha beta gamma delta epsilon zeta"
    val t2 = "one two three four five six seven"
    val docs = Seq((1L, t1), (2L, t2), (3L, t1), (4L, t1), (5L, t2),
      (6L, ""), (7L, "xy")).toDF("doc_id", "text")
    def run(factor: String) = {
      sys.props("graft.sig.dict.minfactor") = factor
      try graft.ops.Dedup.sigWithArrayDict(docs).collect()
        .map(r => (r.getLong(0), r.toSeq.drop(1).toList)).sortBy(_._1).toSeq
      finally {
        sys.props.remove("graft.sig.dict.minfactor")
        spark.catalog.clearCache()
      }
    }
    val direct = run("1e18")
    val dict = run("1.0")
    assert(dict == direct, s"dict=$dict direct=$direct")
    assert(direct.map(_._1) == Seq(1L, 2L, 3L, 4L, 5L),
      s"shingle-less docs must drop: ${direct.map(_._1)}")
    assert(graft.ops.Dedup.sigWithArrayDict(docs).columns.toSeq ==
      graft.ops.Dedup.sigWithArray(docs).columns.toSeq)
  }

  test("ngram jaccard: postings expansion ≡ legacy self-join (direct + dict tiers)") {
    // r21: ONE corpus-scale exchange + in-place C(df,2) pair expansion
    // (PostingsAgg, buffer capped at NgramDfCap) replaces the corpus
    // distinct + hot-list anti-join + shingle self-join. Pin the exact
    // pair multiset fused ≡ legacy on a corpus that crosses the df cap
    // (150 docs sharing one hot shingle), contains identical texts (so
    // the forced dict tier exercises the WEIGHTED postings), and real
    // sf0.001 rows (unicode, empties, long docs).
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def filler(i: Int) = "filler" + ('a' + i / 26).toChar + ('a' + i % 26).toChar
    val synth = ((0 until 150).map(i =>
      (1000L + i, s"zebra zebra zebra ${filler(i)}")) ++
      Seq((2000L, "apple mango cherry durian"),
        (2001L, "apple mango cherry durian"))).toDF("doc_id", "text")
    val docs = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).union(synth)
    def run(impl: Option[String], factor: String) = {
      impl.foreach(v => sys.props("graft.ngram.impl") = v)
      sys.props("graft.ngram.dict.minfactor") = factor
      try graft.ops.Dedup.ngramJaccardCore(docs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      finally {
        sys.props.remove("graft.ngram.impl")
        sys.props.remove("graft.ngram.dict.minfactor")
        spark.catalog.clearCache()
      }
    }
    for (factor <- Seq("1e18", "1.0")) { // direct tier, then dict tier forced
      val legacy = run(Some("legacy"), factor)
      val fused = run(None, factor)
      assert(fused == legacy, s"factor=$factor fused=$fused legacy=$legacy")
      assert(fused.nonEmpty, "fixture must produce pairs")
    }
  }

  test("native simhash16 ≡ declarative md5-vote chain, bit-exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, size}
    // real corpus rows + adversarial synthetics: unicode letters (the
    // tokenizer keeps them, md5 runs over multi-byte UTF-8), a
    // single-token doc (all votes from one hash), and a vote-tie-heavy
    // doc (repeated token pairs — ties resolve to bit 0 via votes > 0)
    val synth = Seq(
      (9001L, "héllo wörld ünïcode tokens éé"),
      (9002L, "solo"),
      (9003L, "tie tie breaker breaker tie breaker"),
      (9004L, "𝕊upplementary 𝕡lane 𝕤ymbols here"),
      (9005L, "the the the the a a a a")).toDF("doc_id", "text")
    val docs = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).union(synth)
    val native = docs
      .select(col("doc_id"), graft.functions.Text.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 1)
      .select(col("doc_id"),
        graft.functions.VectorExprs.graft_simhash16(col("toks")).as("simhash"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val decl = graft.ops.Dedup.simhashDeclarative(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(native.keySet == decl.keySet,
      "native and declarative must keep the same (token-bearing) docs")
    val diff = native.collect { case (id, h) if decl(id) != h => id }
    assert(diff.isEmpty, s"fingerprint mismatch for docs: ${diff.take(5)}")
    assert(native.nonEmpty && native.values.toSet.size > 1)
  }

  test("native span hashes ≡ xxhash64(substr) chain, bit-exact") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val L = 7 // small span so short synthetics exercise boundaries
    val synth = Seq(
      (9301L, "abcdefg"),                      // exactly one span
      (9302L, "abcdef"),                       // shorter than span -> empty
      (9303L, "héllo wörld ünïcode span walk"), // 2-byte chars
      (9304L, "𝕊upp𝕃ement𝔸ry plane bytes"),     // 4-byte chars
      (9305L, "plain ascii text with several spans here")).toDF("doc_id", "text")
    val docs = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).union(synth)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val native = rows(docs.select(col("doc_id"),
      posexplode(graft.functions.VectorExprs.graft_span_hashes(col("text"), L))
        .as(Seq("pos", "h"))))
    val decl = rows(docs
      .filter(length(col("text")) >= L)
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(0), length(col("text")) - L)).as(Seq("pos", "i")))
      .select(col("doc_id"), col("pos"),
        xxhash64(col("text").substr(col("i") + 1, lit(L))).as("h")))
    assert(native == decl,
      s"span hash rows diverge: native-only=${(native -- decl).take(3)}, " +
        s"decl-only=${(decl -- native).take(3)}")
    assert(native.nonEmpty)
  }

  test("simhash16 interpreted eval matches codegen path and rejects null tokens") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val toks = new GenericArrayData(
      Array[Any](UTF8String.fromString("alpha"), UTF8String.fromString("béta")))
    val expr = graft.functions.GraftSimhash16(
      Literal(toks, ArrayType(StringType)))
    val interp = expr.eval(null).asInstanceOf[Long]
    assert(interp == graft.functions.GraftVec.simhash16(toks))
    val withNull = new GenericArrayData(
      Array[Any](UTF8String.fromString("alpha"), null))
    intercept[IllegalArgumentException] {
      graft.functions.GraftVec.simhash16(withNull)
    }
  }
}
