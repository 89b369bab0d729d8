package graft

/** ANN recall: the bucketed paths (sign-LSH, IVF) against brute force —
  * approximate searches must return true neighbors when they return
  * anything, and IVF's cell-restricted rank-1 should usually agree with
  * the global rank-1 (embeddings are near-orthogonal noise, so we assert
  * the structural contracts, not a recall percentage). */
class SimilaritySpec extends SparkSpec {

  // raw operator frames (neighbor rows with cand_id/cos/cell...): the
  // registered queries are now the driver-gated verification frames, so
  // the structural assertions here exercise the raw API directly
  private def raw(name: String) = name match {
    case "sim_knn_bruteforce" => SparkEntry.queries(name)(spark, sf001)
    case "sim_knn_ivf" => ops.Similarity.knnIvf(spark, sf001)
    case "sim_knn_pq" => ops.Similarity.knnPq(spark, sf001)
    case "sim_knn_ivfpq" => ops.Similarity.knnIvfPq(spark, sf001)
    case "sim_knn_pca" => ops.Similarity.knnPca(spark, sf001)
  }

  private def resultMap(name: String) =
    raw(name).collect().groupBy(_.getAs[Long]("query_id"))

  test("IVF: neighbors come from at most nprobe cells and scores are true cosines") {
    val bf = resultMap("sim_knn_bruteforce")
    val ivf = resultMap("sim_knn_ivf")
    assert(ivf.nonEmpty)
    ivf.foreach { case (q, rows) =>
      val cells = rows.map(_.getAs[Int]("cell")).toSet
      assert(cells.size <= 3, s"query $q searched more than nprobe=3 cells")
      // every IVF hit's cosine must equal the brute-force cosine for the
      // same (query, candidate) pair when present there
      val bfCos = bf(q).map(r => r.getAs[Long]("cand_id") -> r.getAs[Double]("cos")).toMap
      rows.foreach { r =>
        bfCos.get(r.getAs[Long]("cand_id")).foreach { c =>
          assert(c == r.getAs[Double]("cos"), "cosines must agree with brute force")
        }
      }
    }
  }

  test("LSH: candidates share the query's sign bucket") {
    val lsh = SparkEntry.queries("sim_knn_lsh")(spark, sf001).collect()
    lsh.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rows) =>
      assert(rows.map(_.getAs[Long]("bucket")).toSet.size == 1)
    }
  }

  test("IVF recall metric: deterministic, bounded, and non-trivial") {
    val r1 = ops.Similarity.ivfRecall(spark, sf001).collect()(0)
    val r2 = ops.Similarity.ivfRecall(spark, sf001).collect()(0)
    assert(r1 == r2, "seeded kmeans must make the metric deterministic")
    val avg = r1.getAs[Double]("avg_recall")
    assert(avg > 0.2 && avg <= 1.0, s"IVF nprobe-3 recall out of range: $avg")
    assert(r1.getAs[Long]("n_queries") > 0)
  }

  test("PQ: deterministic, re-ranked cosines are true cosines, top-K per query") {
    val r1 = ops.Similarity.knnPq(spark, sf001).collect()
    val r2 = ops.Similarity.knnPq(spark, sf001).collect()
    assert(r1.toSeq == r2.toSeq, "seeded codebooks must make PQ deterministic")
    val bf = resultMap("sim_knn_bruteforce")
    r1.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      assert(rows.length <= 5, s"query $q returned more than K rows")
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rows.length),
        "ranks must be dense from 1")
      // the refine stage computes exact cosine, so any PQ hit that brute
      // force also returned must carry the identical score
      val bfCos = bf(q).map(r => r.getAs[Long]("cand_id") -> r.getAs[Double]("cos")).toMap
      rows.foreach { r =>
        bfCos.get(r.getAs[Long]("cand_id")).foreach { c =>
          assert(c == r.getAs[Double]("cos"), "re-ranked cosine must match brute force")
        }
      }
    }
  }

  test("PQ contract: recall floor crossed at test scale") {
    val r = SparkEntry.queries("sim_pq_contract")(spark, sf001).collect()(0)
    assert(r.getAs[Boolean]("pq_recall_ok"),
      s"PQ recall under floor ${ops.Similarity.PQ_RECALL_FLOOR}")
    assert(r.getAs[Long]("n_queries") > 0)
  }

  test("PCA: deterministic, re-ranked cosines are true cosines, top-K per query") {
    val r1 = ops.Similarity.knnPca(spark, sf001).collect()
    val r2 = ops.Similarity.knnPca(spark, sf001).collect()
    assert(r1.toSeq == r2.toSeq, "covariance PCA must make the search deterministic")
    val bf = resultMap("sim_knn_bruteforce")
    r1.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      assert(rows.length <= 5)
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rows.length))
      val bfCos = bf(q).map(r => r.getAs[Long]("cand_id") -> r.getAs[Double]("cos")).toMap
      rows.foreach { r =>
        bfCos.get(r.getAs[Long]("cand_id")).foreach { c =>
          assert(c == r.getAs[Double]("cos"), "re-ranked cosine must match brute force")
        }
      }
    }
  }

  test("PCA contract: variance and recall floors crossed at test scale") {
    val r = SparkEntry.queries("sim_pca_contract")(spark, sf001).collect()(0)
    assert(r.getAs[Boolean]("pca_var_ok"),
      s"explained variance under floor ${ops.Similarity.PCA_VAR_FLOOR}")
    assert(r.getAs[Boolean]("pca_recall_ok"),
      s"PCA recall under floor ${ops.Similarity.PCA_RECALL_FLOOR}")
    assert(r.getAs[Long]("n_queries") > 0)
  }

  test("IVFPQ: probed-cell restriction, dense ranks, refined cosines are true cosines") {
    val r1 = ops.Similarity.knnIvfPq(spark, sf001).collect()
    val r2 = ops.Similarity.knnIvfPq(spark, sf001).collect()
    assert(r1.toSeq == r2.toSeq, "seeded coarse+residual codebooks must be deterministic")
    val bf = resultMap("sim_knn_bruteforce")
    r1.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      assert(rows.length <= 5, s"query $q returned more than K rows")
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to rows.length),
        "ranks must be dense from 1")
      assert(rows.map(_.getAs[Int]("cell")).toSet.size <= 3,
        s"query $q scanned more than nprobe=3 cells")
      val bfCos = bf(q).map(r => r.getAs[Long]("cand_id") -> r.getAs[Double]("cos")).toMap
      rows.foreach { r =>
        bfCos.get(r.getAs[Long]("cand_id")).foreach { c =>
          assert(c == r.getAs[Double]("cos"), "re-ranked cosine must match brute force")
        }
      }
    }
  }

  test("IVFPQ contract: recall floor crossed at test scale") {
    val r = SparkEntry.queries("sim_ivfpq_contract")(spark, sf001).collect()(0)
    assert(r.getAs[Boolean]("ivfpq_recall_ok"),
      s"IVFPQ recall under floor ${ops.Similarity.IVFPQ_RECALL_FLOOR}")
    assert(r.getAs[Long]("n_queries") > 0)
  }

  test("topic clusters: deterministic, shares sum to 1, dominant labels sane") {
    val r1 = ops.Similarity.topicClusters(spark, sf001).collect()
    val r2 = ops.Similarity.topicClusters(spark, sf001).collect()
    assert(r1.toSeq == r2.toSeq, "seeded fit-once model must make the report deterministic")
    assert(r1.length == 10, "all 10 clusters must be nonempty at fixture scale")
    assert(r1.map(_.getAs[Int]("cluster_id")).toSeq == (0 until 10))
    val n = graft.Tables.embeddings(spark, sf001).count()
    assert(r1.map(_.getAs[Long]("n_docs")).sum == n, "every vector in exactly one cluster")
    assert(math.abs(r1.map(_.getAs[Double]("share")).sum - 1.0) < 0.01)
    r1.foreach { r =>
      val top = r.getAs[Double]("top_label_share")
      assert(top >= 1.0 / 10 - 0.01 && top <= 1.0,
        "dominant-label share must be at least the uniform floor")
      assert((0 until 10).contains(r.getAs[Int]("top_label")))
    }
  }

  test("topic contract: coverage, variance-explained, and purity gates hold") {
    val r = SparkEntry.queries("sim_topic_contract")(spark, sf001).collect()(0)
    assert(r.getAs[Long]("n_vectors") ==
      graft.Tables.embeddings(spark, sf001).count())
    assert(r.getAs[Boolean]("coverage_ok"), "expected exactly TK nonempty clusters")
    assert(r.getAs[Boolean]("gain_ok"),
      s"wcss/tss above ceiling ${ops.Similarity.TOPIC_WCSS_CEIL}")
    assert(r.getAs[Boolean]("purity_ok"),
      s"purity under floor ${ops.Similarity.TOPIC_PURITY_FLOOR}")
  }
}
