package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Overlap, QuerySpec, Tables => T, TmpDirs}
import graft.functions.CosineSim
import graft.functions.CosineSim.cosine_sim

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (builder-prompt first-class component). Two paths:
  *
  *  - brute-force cosine top-k: the correctness baseline — broadcast the
  *    (small) query set against the full corpus, one shuffle for the
  *    per-query top-k;
  *  - sign-LSH bucketed top-k: the 100 TB path — random-hyperplane-style
  *    bucketing on the signs of the leading dimensions; candidate set is
  *    the query's bucket only, so scoring cost is Σ bucket² instead of q·n.
  *
  * Cosine scoring runs through the native codegen'd [[graft.functions
  * .CosineSim]] expression (single left-to-right pass), bit-identical to
  * the DuckDB oracle's list_reduce fold.
  */
object Similarity {

  private val K = 5        // neighbors per query
  private val NQ = 10      // query vectors: vec_id < 10
  private val LSH_BITS = 8 // sign bits → 256 buckets

  // native codegen'd fold (r15 — the declarative aggregate/zip_with pair
  // is CodegenFallback, interpreted per element; PlanAudit flags it now)
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.graft_dot(a, b)

  /** Empty result frame from a DDL schema string — the shared empty-
    * corpus early-return shape (KMeans.fit rejects empty input; the ANN
    * of an empty corpus is the empty result, not an error). One-line
    * schemas beat five hand-built StructType literals (r10 review
    * finding); the DDL is visibly diffable against each query's select. */
  private def emptyResult(s: SparkSession, ddl: String): DataFrame =
    s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  private def withNorm(s: SparkSession, d: String): DataFrame =
    T.embeddings(s, d).withColumn("norm", sqrt(dot(col("embedding"), col("embedding"))))

  /** Embeddings with `nvec` = the L2-normalized embedding (array<double>)
    * and `features` = its MLlib vector form — the shared input of every
    * spherical consumer (IVF / PQ / PCA / topic KMeans all cluster in the
    * normalized space, where euclidean order ≡ cosine order). Consumers
    * that don't read `features` lose it to column pruning. */
  private def withNormalized(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.ml.functions.array_to_vector
    val nrm = sqrt(graft.functions.VectorExprs.graft_dot(col("embedding"), col("embedding")))
    // zero-norm guard: Spark's non-ANSI Divide yields NULL on a zero
    // divisor, and array_to_vector over an all-null array THROWS — one
    // all-zero embedding would crash every normalized consumer (r10
    // review finding). A zero vector has no direction; it normalizes to
    // the zero vector (same convention CosineSim uses: cos = 0 on a zero
    // denominator) and lands in whatever cell the quantizer assigns it.
    T.embeddings(s, d)
      .withColumn("nvec",
        graft.functions.VectorExprs.graft_vnorm_div(col("embedding"), nrm))
      .withColumn("features", array_to_vector(col("nvec")))
  }

  private val normSqlFrag =
    """sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |    (acc, v) -> acc + v))""".stripMargin

  private val dotSqlFrag =
    """list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |    list_transform(range(1, len(q.embedding) + 1),
      |      i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))),
      |    (acc, v) -> acc + v)""".stripMargin

  /** Brute-force cosine top-k for the first NQ vectors as queries. The
    * native cosine_sim expression computes both norms internally, so no
    * norm column rides along (the SQL twin's separate-norm formulation is
    * the ORACLE's shape, not the engine's — r10 review finding: dead
    * qn/cn plumbing suggested the norms mattered here). */
  private def knnBruteforce(s: SparkSession, d: String): DataFrame = {
    CosineSim.register(s)
    val e = T.embeddings(s, d)
    val q = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val c = e.select(col("vec_id").as("cand_id"), col("embedding").as("ce"))
    val scored = broadcast(q).join(c, col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosine_sim(col("qe"), col("ce")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("cand_id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val knnBruteforceSql =
    s"""WITH e AS (SELECT vec_id, embedding, $normSqlFrag AS norm FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
       |    ($dotSqlFrag) / (q.norm * c.norm) AS cos
       |  FROM e q JOIN e c ON q.vec_id < $NQ AND q.vec_id <> c.vec_id)
       |SELECT query_id, CAST(rank AS INT) AS rank, cand_id, round(cos, 4) AS cos FROM (
       |  SELECT query_id, cand_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
       |  FROM scored)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** Sign-LSH bucketed ANN: bucket key = sign bits of the first LSH_BITS
    * dimensions (axis-aligned hyperplanes — deterministic and portable);
    * queries only score candidates in their own bucket. */
  private def knnLsh(s: SparkSession, d: String): DataFrame = {
    CosineSim.register(s)
    val bucketExpr = (1 to LSH_BITS).map(j =>
      when(element_at(col("embedding"), j) > 0f, lit(1L << (j - 1))).otherwise(0L))
      .reduce(_ + _)
    val e = T.embeddings(s, d).withColumn("bucket", bucketExpr)
    val q = e.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("bucket"),
        col("embedding").as("qe"))
    val c = e.select(col("vec_id").as("cand_id"), col("bucket"),
      col("embedding").as("ce"))
    val scored = broadcast(q).join(c, Seq("bucket"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosine_sim(col("qe"), col("ce")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("cand_id"), col("bucket"),
        round(col("cos"), 4).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val knnLshSql = {
    val bucket = (1 to LSH_BITS).map(j =>
      s"CASE WHEN embedding[$j] > 0 THEN ${1L << (j - 1)} ELSE 0 END").mkString(" + ")
    s"""WITH e AS (
       |  SELECT vec_id, embedding, $normSqlFrag AS norm,
       |    CAST($bucket AS BIGINT) AS bucket
       |  FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, q.bucket,
       |    ($dotSqlFrag) / (q.norm * c.norm) AS cos
       |  FROM e q JOIN e c ON q.bucket = c.bucket
       |    AND q.vec_id < $NQ AND q.vec_id <> c.vec_id)
       |SELECT query_id, CAST(rank AS INT) AS rank, cand_id, bucket, round(cos, 4) AS cos FROM (
       |  SELECT query_id, cand_id, bucket, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
       |  FROM scored)
       |WHERE rank <= $K ORDER BY query_id, rank""".stripMargin
  }

  private val NPROBE = 3 // cells searched per query (IVF multi-probe)

  // IVF coarse quantizer, built once per dataset and reused — an IVF
  // index's whole point is fit-once/probe-many, and three registered
  // queries (sim_knn_ivf, sim_ivf_recall, sim_ann_contract) probe it.
  // The model is k×dim doubles (16×64), driver-resident and tiny.
  // Keyed on (path, mtime, file size) so a regenerated dataset at the
  // same path within one JVM session invalidates the cached quantizer
  // instead of silently assigning cells from the old corpus — the shared
  // Tables.datasetKey convention, not a private copy (r10 review
  // finding: a future key-scheme change must hit every artifact cache).
  private def ivfKey(d: String): String = T.datasetKey(d, "embeddings")
  private val ivfModels =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.ml.clustering.KMeansModel]

  // ------------------- cross-JVM persistence of the fit-once models
  // (r12 verdict #1): the TrieMaps above/below stay as the L1 in-JVM
  // cache; on an L1 miss the model is LOADED from the content-keyed
  // ModelStore when a previous JVM already fit it, and only fit (then
  // saved) otherwise — so a bench whose warmup budget trips under box
  // load pays a parquet read inside the timed query, not a KMeans/PCA
  // refit (the r12 official artifact's 1.5× inflation mode).
  private def storedKm(key: String, tag: String)(
      fit: => org.apache.spark.ml.clustering.KMeansModel)
      : org.apache.spark.ml.clustering.KMeansModel =
    graft.ModelStore.getOrFit(key, tag)(fit)(
      (m, p) => m.write.overwrite().save(p.resolve("model").toString),
      p => org.apache.spark.ml.clustering.KMeansModel.load(p.resolve("model").toString))

  private def storedKmSeq(key: String, tag: String, n: Int)(
      fit: => Seq[org.apache.spark.ml.clustering.KMeansModel])
      : Seq[org.apache.spark.ml.clustering.KMeansModel] =
    graft.ModelStore.getOrFit(key, tag)(fit)(
      (ms, p) => ms.zipWithIndex.foreach { case (m, i) =>
        m.write.overwrite().save(p.resolve(s"m$i").toString) },
      p => (0 until n).map(i =>
        org.apache.spark.ml.clustering.KMeansModel.load(p.resolve(s"m$i").toString)))

  /** The coarse quantizer's fit spec lives HERE and nowhere else: knnIvf
    * and knnIvfPq share the ivfModels cache key, so a second literal at
    * either call site could silently serve the other's model after an
    * edit (r10 review finding). */
  private def coarseQuantizer(d: String, e: DataFrame)
      : org.apache.spark.ml.clustering.KMeansModel =
    ivfModels.getOrElseUpdate(ivfKey(d),
      storedKm(ivfKey(d), "ivf_coarse")(
        new org.apache.spark.ml.clustering.KMeans()
          .setK(16).setSeed(42L).setMaxIter(5)
          .setFeaturesCol("features").setPredictionCol("cell")
          .fit(e)))

  /** PQ sub-vector width, with the divisibility the slicing assumes made
    * LOUD: silent integer division would drop the trailing dim % PQ_M
    * dimensions from codes and LUT and quietly degrade recall (r10
    * review finding). */
  private def pqSubDim(dim: Int): Int = {
    require(dim % PQ_M == 0,
      s"PQ requires dim % PQ_M == 0; got dim=$dim, PQ_M=$PQ_M")
    dim / PQ_M
  }

  // Memoized PERSISTED corpus frames (cells / PQ codes / IVF-PQ codes),
  // one per (dataset, session) like the fitted models: each invocation
  // used to persist() a fresh copy of the corpus codes with no matching
  // unpersist, so every correctness/oracle call outside the bench warm
  // path accumulated another cached copy for the JVM lifetime (r9
  // ADVICE). Now repeated calls reuse a single cached frame; if an
  // external clearCache (the harnesses run one between queries) dropped
  // the blocks, the SAME frame is re-persisted rather than duplicated.
  // Session identity is part of the key: a DataFrame is bound to the
  // session that built it, and test suites cycle sessions within one JVM
  // — entries of STOPPED sessions are purged on each access so dead
  // sessions' plans don't accumulate for the JVM lifetime (review
  // finding: the map strongly references each session via its plans).
  private val corpusFrames =
    scala.collection.concurrent.TrieMap.empty[String, (SparkSession, DataFrame)]
  private def cachedCorpusFrame(s: SparkSession, key: String)
      (build: => DataFrame): DataFrame = {
    corpusFrames.filterInPlace { case (_, (sess, _)) =>
      !sess.sparkContext.isStopped }
    val k = s"$key|${System.identityHashCode(s)}"
    // identityHashCode is not unique across a GC'd-then-reallocated
    // session — verify the stored SESSION identity, not just the key
    // (r10 review finding), and rebuild for the live session on mismatch
    val f = corpusFrames.get(k) match {
      case Some((sess, cached)) if sess eq s => cached
      case _ =>
        val built = build.persist()
        corpusFrames.put(k, (s, built))
        built
    }
    if (f.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      f.persist()
    f
  }

  /** Untimed index-build hook for Bench: fit the coarse quantizer before
    * the timed loop, so the one-time KMeans fit (an index BUILD — a
    * deployment runs it once per corpus, then probes it for every query)
    * doesn't land on whichever IVF consumer the bench's map order runs
    * first (r4: sim_ivf_recall, first in map order, wore the fit and crept
    * 4.5→7.5 s while its probe-side work was unchanged). */
  def warmIndex(s: SparkSession, d: String): Unit = {
    // ground-truth pair table FIRST and alone: every fit below probes it
    // for its recall contract, and a concurrent getOrElseUpdate race
    // would build the (expensive) table once per racer
    exactKnnPairs(s, d).count()
    // the five model fits are independent (disjoint fit-once caches) and
    // each leaves most of local[32] idle — run them as concurrent Spark
    // jobs (FIFO scheduler interleaves stages) instead of serially.
    // Measured r12: the serial phase crept to 108 s once the r12 recall
    // contracts joined each query against the pair table, blowing the
    // 150 s warmup budget (5 phases skipped, 5 first-use suspects in
    // BENCH); concurrent, the phase is bounded by the slowest fit.
    // Barrier: the branches share only the pair table counted above; each
    // fills its own model cache and cached corpus frame. knnIvf and
    // knnIvfPq both reach the coarse quantizer, whose fit ModelStore
    // serializes per key (the second branch loads the first's model).
    Overlap.all(s)(Seq(
      () => knnIvf(s, d).count(),
      () => knnPq(s, d).count(), // PQ codebook fit — fit-once/probe-many
      () => knnIvfPq(s, d).count(), // residual-PQ codebook fit
      () => topicClusters(s, d).count(), // topic-model fit
      () => knnPca(s, d).count())) // PCA fit
    // after the fits: rides the now-cached ivf model + pair table, but
    // has its own recall-join first-use (flagged suspect in-bench when
    // unwarmed); running it concurrently with knnIvf would instead race
    // the model cache into a duplicate KMeans fit
    ivfRecall(s, d).count()
    s.catalog.clearCache()
  }

  /** IVF-style ANN: a coarse quantizer (seeded MLlib KMeans over the
    * corpus) assigns every vector to a cell; each query searches its
    * NPROBE nearest cells by centroid distance — standard IVF multi-probe
    * (single-probe recall degrades as the corpus outgrows the cell count:
    * measured 0.66 → 0.22 avg recall@5 from sf0.01 to sf0.1; nprobe=3
    * restores 0.58–0.66 at both; the remainder is data-inherent — most
    * fixture queries' true top-5 are only weakly closer than random, so
    * no cell layout can contain them). Quantization is spherical (KMeans
    * over L2-normalized vectors) to match the cosine scoring metric.
    * This is the inverted-file layout ANN indexes
    * use at scale: cells ≈ partitions, a cluster deployment partitions the
    * corpus by cell id so each probe touches nprobe partitions, and the
    * centroid table (k×dim) stays broadcast-small. Centroids are
    * model-derived, so no DuckDB oracle (rows-only); recall is asserted
    * against brute force in SimilaritySpec and hard-gated by
    * sim_ann_contract. */
  private[graft] def knnIvf(s: SparkSession, d: String): DataFrame = {
    CosineSim.register(s)
    import org.apache.spark.ml.clustering.KMeans
    // Spherical quantization: the scoring metric is cosine, so cluster the
    // L2-NORMALIZED vectors (euclidean distance on the unit sphere orders
    // identically to cosine) — an unnormalized quantizer puts cosine-near
    // but magnitude-far vectors in different cells, capping recall no
    // matter how many cells are probed.
    val e = withNormalized(s, d)
    // KMeans.fit rejects an empty dataset; the IVF of an empty corpus is
    // the empty result, not an error (incremental runs start there).
    // Single-column limit(1) probe, not isEmpty — same hot-path fix as
    // annMllib (isEmpty runs the projection plus an executeTake ramp).
    if (e.select(lit(1)).limit(1).collect().isEmpty)
      return emptyResult(s,
        "query_id BIGINT, rank INT, cand_id BIGINT, cell INT, cos DOUBLE")
    val km = coarseQuantizer(d, e)
    val cells = cachedCorpusFrame(s, s"cells|${ivfKey(d)}")(km.transform(e)
      .select(col("vec_id"), col("embedding"), col("nvec"), col("cell")))
    // probe list: rank the k centroids per query by euclidean distance in
    // the normalized space (≡ cosine order), keep the NPROBE nearest.
    // k×dim doubles — broadcast-tiny at any corpus size.
    import s.implicits._
    val cents = km.clusterCenters.zipWithIndex.toSeq
      .map { case (ctr, i) => (i, ctr.toArray) }.toDF("cell", "centroid")
    val d2 = graft.functions.VectorExprs.graft_l2sq(col("qn"), col("centroid"))
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("cell"))
    val probes = cells.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nvec").as("qn"))
      .crossJoin(broadcast(cents))
      .withColumn("d2", d2)
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= NPROBE)
      .select(col("query_id"), col("qe"), col("cell"))
    // each candidate lives in exactly one cell, so probing NPROBE disjoint
    // cells never duplicates a candidate — no distinct needed
    val c = cells.select(col("vec_id").as("cand_id"), col("embedding").as("ce"), col("cell"))
    val scored = broadcast(probes).join(c, Seq("cell"))
      .filter(col("query_id") =!= col("cand_id"))
      .withColumn("cos", cosine_sim(col("qe"), col("ce")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cell"),
        round(col("cos"), 4).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Per-vector feature stats — exercises array higher-order functions
    * (norm/mean via fold, min/max via array builtins). */
  private def vectorStats(s: SparkSession, d: String): DataFrame =
    withNorm(s, d)
      .select(
        col("vec_id"), col("label"),
        size(col("embedding")).as("dim"),
        round(col("norm"), 4).as("norm"),
        round(graft.functions.VectorExprs.graft_vsum(col("embedding"))
          / size(col("embedding")), 4).as("mean"),
        round(array_min(col("embedding")).cast("double"), 4).as("mn"),
        round(array_max(col("embedding")).cast("double"), 4).as("mx"))
      .orderBy(col("vec_id"))

  private val vectorStatsSql =
    s"""SELECT vec_id, label, CAST(len(embedding) AS INT) AS dim,
       |  round($normSqlFrag, 4) AS norm,
       |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(embedding, x -> CAST(x AS DOUBLE))),
       |      (acc, v) -> acc + v) / len(embedding), 4) AS mean,
       |  round(CAST(list_aggregate(embedding, 'min') AS DOUBLE), 4) AS mn,
       |  round(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 4) AS mx
       |FROM embeddings ORDER BY vec_id""".stripMargin

  /** ANN quality metric: recall@K of the IVF path against the exact
    * brute-force top-K, per query and overall — the evaluation loop an ANN
    * deployment runs before trading accuracy for speed. No oracle (kmeans
    * cells are MLlib-internal); SimilaritySpec bounds the recall floor and
    * pins determinism. */
  /** Fit-once exact brute-force top-K pair set (query_id, cand_id) per
    * dataset, materialized to parquet: the recall report and all four
    * ANN contract twins (IVF/MLlib/PQ/PCA) compare an approximate path
    * against the SAME deterministic baseline, so it is computed once per
    * JVM per dataset and read back as a table — the ground-truth eval
    * set an ANN deployment maintains beside its index, not a per-audit
    * recompute. Explicit read schema for the empty-corpus write. */
  private val exactKnnDirs = scala.collection.concurrent.TrieMap.empty[String, String]

  private def exactKnnPairs(s: SparkSession, d: String): DataFrame = {
    val path = exactKnnDirs.getOrElseUpdate(ivfKey(d),
      // rank + cos ride along (r11 verdict #2): the per-rank exact cosine
      // is the oracle-computable baseline the upgraded sim_knn_* queries
      // compare against, so the fit-once artifact carries it. Persisted
      // through the content-keyed ModelStore (r12 verdict #1) so a cold
      // JVM reads the table instead of recomputing the brute-force pass.
      graft.ModelStore.ensureTree(ivfKey(d), "exact_knn") { build =>
        knnBruteforce(s, d)
          .select(col("query_id"), col("rank"), col("cand_id"), col("cos"))
          .coalesce(1).write.mode("overwrite")
          .parquet(build.resolve("pairs").toString)
      } + "/pairs")
    s.read.schema("query_id BIGINT, rank INT, cand_id BIGINT, cos DOUBLE")
      .parquet(path)
  }

  private[graft] def ivfRecall(s: SparkSession, d: String): DataFrame = {
    val exact = exactKnnPairs(s, d)
    val approx = knnIvf(s, d).select(col("query_id").as("q2"), col("cand_id").as("c2"))
    val hits = exact.join(approx,
        exact("query_id") === col("q2") && exact("cand_id") === col("c2"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("k"),
        sum(when(col("q2").isNotNull, 1L).otherwise(0L)).as("found"))
      .withColumn("recall", round(col("found") / col("k"), 4))
    hits.agg(
      count(lit(1)).as("n_queries"),
      round(avg(col("recall")), 4).as("avg_recall"),
      round(min(col("recall")), 4).as("min_recall"),
      round(max(col("recall")), 4).as("max_recall"))
  }

  /** Hybrid (lexical + semantic) search — the fused retrieval op a RAG
    * stack runs: candidates scored by BOTH token containment against the
    * query's token set (lexical) and embedding cosine against the query
    * vector (semantic), fused 50/50, top-10. The query is document 0
    * (its tokens + its embedding), so everything is deterministic and
    * the DuckDB oracle replays both scores exactly. Execution shape: the
    * one-row query frame broadcasts to a map-only scoring pass over the
    * documents⋈embeddings join (equi-join on doc_id=vec_id — co-located
    * under the same partitioning at scale), then TakeOrderedAndProject
    * for the top-k. */
  private def hybridSearch(s: SparkSession, d: String): DataFrame = {
    CosineSim.register(s)
    import graft.functions.Text
    val docs = T.documents(s, d)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    val corpus = docs
      .join(T.embeddings(s, d).select(col("vec_id").as("doc_id"), col("embedding")),
        "doc_id")
    val qry = corpus.filter(col("doc_id") === 0)
      .select(col("toks").as("q_toks"), col("embedding").as("q_emb"))
    corpus.filter(col("doc_id") =!= 0)
      .crossJoin(broadcast(qry)) // 1-row query frame
      .withColumn("lex",
        // greatest(…,1) guards the degenerate all-stopword query document
        // (empty q_toks): lex becomes 0 for every candidate instead of a
        // null that DuckDB's division would render differently
        round(size(array_intersect(array_distinct(col("toks")), array_distinct(col("q_toks"))))
          .cast("double") / greatest(size(array_distinct(col("q_toks"))), lit(1)), 4))
      .withColumn("sem", round(cosine_sim(col("embedding"), col("q_emb")), 4))
      .withColumn("fused", round(col("lex") + col("sem"), 4))
      .orderBy(col("fused").desc, col("doc_id"))
      .limit(10)
      .select(col("doc_id"), col("lex"), col("sem"), col("fused"))
  }

  private val hybridSearchSql =
    s"""WITH docs AS (
       |  SELECT doc_id, list_distinct(${graft.functions.Text.toksSql}) AS toks FROM documents),
       |corpus AS (
       |  SELECT d.doc_id, d.toks, e.embedding, $normSqlFrag AS norm
       |  FROM docs d JOIN embeddings e ON e.vec_id = d.doc_id),
       |qry AS (SELECT toks AS q_toks, embedding AS q_emb, norm AS q_norm
       |        FROM corpus WHERE doc_id = 0),
       |scored AS (
       |  SELECT c.doc_id,
       |    round(len(list_intersect(c.toks, q.q_toks)) * 1.0
       |        / greatest(len(q.q_toks), 1), 4) AS lex,
       |    round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(range(1, len(c.embedding) + 1),
       |          i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.q_emb[i] AS DOUBLE))),
       |        (acc, v) -> acc + v) / (c.norm * q.q_norm), 4) AS sem
       |  FROM corpus c, qry q WHERE c.doc_id <> 0)
       |SELECT doc_id, lex, sem, round(lex + sem, 4) AS fused
       |FROM scored ORDER BY fused DESC, doc_id LIMIT 10""".stripMargin

  // Pinned recall floors for sim_ann_contract: the measured fixture values
  // (IVF probe-1 ≈ 0.66, BRP ANN-join ≈ 1.0 at sf0.01/sf0.1) with enough
  // margin to absorb float-summation jitter from KMeans under different
  // partitionings. Seeds are pinned, so whether the floor holds is
  // deterministic per dataset.
  private val IVF_RECALL_FLOOR = 0.3
  private val ANN_RECALL_FLOOR = 0.7

  /** Shared recall scaffold for every *_contract query: the
    * oracle-compatible query count, and the pooled recall of each approx
    * (query_id, cand_id) frame against the exact top-K (1.0 on an empty
    * baseline). ONE definition of "recall" for all five contracts, so a
    * future change (e.g. per-query averaging) cannot be applied to some
    * and not others (r10 review finding: five copies). nQueries is
    * derived exactly as the oracle derives it (embeddings with
    * vec_id < NQ), NOT as distinct query ids in the brute-force output —
    * on a degenerate corpus the two diverge.
    *
    * The two scaffold counts (exact-pair baseline, query count) and every
    * recall join are independent jobs: one [[Overlap.all]] runs them
    * together, wall ≈ the slowest recall chain instead of the sum (r21,
    * guide §2.6). Each approx frame is built inside its own branch, so
    * its model fits overlap too. Barrier: the branches share only the
    * fit-once file-backed pair table, written before the fan-out by
    * [[exactKnnPairs]]; everything else a branch reads it builds itself. */
  private def recallScaffold(s: SparkSession, d: String)(
      approxes: (() => DataFrame)*): (Long, Seq[Double]) = {
    val exact = exactKnnPairs(s, d)
    def hits(approx: DataFrame) =
      exact.join(approx.select(col("query_id"), col("cand_id")),
        Seq("query_id", "cand_id"), "left_semi").count()
    val counts = Overlap.all(s)(
      Seq(() => exact.count(),
        () => T.embeddings(s, d).filter(col("vec_id") < NQ).count()) ++
        approxes.map(approx => () => hits(approx())))
    val base = counts.head
    (counts(1), counts.drop(2).map(h => if (base == 0) 1.0 else h.toDouble / base))
  }

  /** ANN quality contract, oracle-checkable (the sketch_hll_contract
    * pattern): the recall *values* are model-internal (kmeans cells, BRP
    * hash buckets), but "recall@K against the exact brute-force top-K
    * clears the pinned floor" is a deterministic boolean for the fixed
    * seeds and dataset — so the driver hard-gates both approximate ANN
    * paths instead of relying on ScalaTest alone. */
  private def annContract(s: SparkSession, d: String): DataFrame = {
    // the two recall measurements are INDEPENDENT job chains over
    // disjoint pipelines (IVF probe vs BRP join); in one scaffold call
    // they overlap with each other and with the scaffold counts (r21,
    // verdict #5)
    val (nQueries, Seq(ivfRec, annRec)) = recallScaffold(s, d)(
      () => knnIvf(s, d), () => MllibOps.annMllib(s, d))
    import s.implicits._
    Seq((nQueries, ivfRec >= IVF_RECALL_FLOOR, annRec >= ANN_RECALL_FLOOR))
      .toDF("n_queries", "ivf_recall_ok", "ann_recall_ok")
  }

  private val annContractSql =
    s"""SELECT count(*) AS n_queries, TRUE AS ivf_recall_ok,
       |  TRUE AS ann_recall_ok
       |FROM embeddings WHERE vec_id < $NQ""".stripMargin

  /** Dedicated contract twin for `mllib_ann_join` (r7 verdict #2) — the one
    * rows-only query that had no registered `*_contract` gate of its own
    * (sim_ann_contract folds it into ann_recall_ok, but a reader auditing
    * mllib_ann_join should find a driver-checked gate named for it).
    * Recall@K of the MLlib BRP ANN join against the exact brute-force
    * top-K: seeds are pinned, so the floor crossing is deterministic per
    * dataset and the driver hash-gates the boolean. */
  private def mllibAnnContract(s: SparkSession, d: String): DataFrame = {
    val (nQueries, Seq(recall)) = recallScaffold(s, d)(() => MllibOps.annMllib(s, d))
    import s.implicits._
    Seq((nQueries, recall >= ANN_RECALL_FLOOR))
      .toDF("n_queries", "mllib_recall_ok")
  }

  private val mllibAnnContractSql =
    s"""SELECT count(*) AS n_queries, TRUE AS mllib_recall_ok
       |FROM embeddings WHERE vec_id < $NQ""".stripMargin

  // --------------------------------------------------- product quantization

  private val PQ_M = 8          // subspaces (dim must divide evenly)
  private val PQ_KC = 16        // codebook centroids per subspace
  private val PQ_SHORTLIST = 64 // ADC shortlist re-ranked with exact cosine
  private[graft] val PQ_RECALL_FLOOR = 0.5

  private val pqModels =
    scala.collection.concurrent.TrieMap.empty[String, Seq[org.apache.spark.ml.clustering.KMeansModel]]

  /** Product-quantization ANN — the memory-compressed form of the 100 TB
    * vector path: each dim-d float vector (4·d bytes) is stored as PQ_M
    * one-byte codebook codes (d=64 → 32× compression), and the candidate
    * scan reads ONLY the codes plus a per-query lookup table of
    * PQ_M×PQ_KC partial distances (asymmetric distance computation —
    * Jégou et al., "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011). Codebooks are per-subspace seeded KMeans over the
    * L2-NORMALIZED subvectors (spherical, matching the cosine metric —
    * same argument as [[knnIvf]]), fit once per dataset and cached like
    * the IVF quantizer. The ADC shortlist is re-ranked with exact cosine
    * over the original vectors (standard PQ + refine).
    *
    * Plan shape at scale: the LUT is NQ×PQ_M×PQ_KC rows (broadcast-tiny,
    * corpus-size-invariant), the ADC scan is a broadcast join + partial
    * agg over the code table (PQ_M smallints per corpus row — the ONLY
    * corpus-sized input), and the original vectors are touched for
    * PQ_SHORTLIST rows per query. Codes are model-derived → rows-only;
    * hard-gated by `sim_pq_contract` (recall floor vs brute force). */
  private[graft] def knnPq(s: SparkSession, d: String): DataFrame = {
    CosineSim.register(s)
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val e = withNormalized(s, d)
    // single-row probe doubles as the empty guard (KMeans.fit rejects
    // empty input; the PQ of an empty corpus is the empty result)
    val head = e.select(size(col("embedding")).as("dim")).limit(1).collect()
    if (head.isEmpty)
      return emptyResult(s,
        "query_id BIGINT, rank INT, cand_id BIGINT, adc DOUBLE, cos DOUBLE")
    val subDim = pqSubDim(head(0).getInt(0))
    val withSubs = (0 until PQ_M).foldLeft(e)((df, m) =>
      df.withColumn(s"f$m", array_to_vector(slice(col("nvec"), m * subDim + 1, subDim))))
    val models = pqModels.getOrElseUpdate(ivfKey(d),
      storedKmSeq(ivfKey(d), "pq_codebooks", PQ_M)(
        (0 until PQ_M).map(m =>
          new KMeans().setK(PQ_KC).setSeed(42L + m).setMaxIter(5)
            .setFeaturesCol(s"f$m").setPredictionCol(s"code$m")
            .fit(withSubs))))
    val codes = cachedCorpusFrame(s, s"pqcodes|${ivfKey(d)}")(
      models.foldLeft(withSubs)((df, km) => km.transform(df))
        .select(Seq(col("vec_id"), col("embedding"), col("nvec")) ++
          (0 until PQ_M).map(m => col(s"code$m")): _*))
    // codebook table: PQ_M×PQ_KC rows of subDim doubles — broadcast-tiny
    import s.implicits._
    val cents = models.zipWithIndex.flatMap { case (km, m) =>
      km.clusterCenters.zipWithIndex.map { case (ctr, c) => (m, c, ctr.toArray.toSeq) }
    }.toDF("m", "code", "ctr")
    val queries = codes.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("nvec").as("qn"))
    // per-query ADC lookup table: partial squared distance from the query
    // subvector to every (subspace, centroid) — NQ×PQ_M×PQ_KC rows
    val lut = queries.crossJoin(broadcast(cents))
      .withColumn("pdist",
        graft.functions.VectorExprs.graft_l2sq(
          slice(col("qn"), col("m") * subDim + 1, lit(subDim)), col("ctr")))
      .select(col("query_id"), col("m"), col("code"), col("pdist"))
    // ADC scan: codes only on the corpus side
    val candCodes = codes.select(col("vec_id").as("cand_id"),
      explode(array((0 until PQ_M).map(m =>
        struct(lit(m).as("m"), col(s"code$m").as("code"))): _*)).as("mc"))
      .select(col("cand_id"), col("mc.m").as("m"), col("mc.code").as("code"))
    val adc = candCodes.join(broadcast(lut), Seq("m", "code"))
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"), col("cand_id")).agg(sum(col("pdist")).as("adc"))
    val wAdc = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("cand_id"))
    val shortlist = adc.withColumn("pr", row_number().over(wAdc))
      .filter(col("pr") <= PQ_SHORTLIST)
      .select(col("query_id"), col("cand_id"), col("adc"))
    // refine: exact cosine over the original vectors, shortlist rows only
    val rer = shortlist
      .join(codes.select(col("vec_id").as("cand_id"), col("embedding").as("ce")), "cand_id")
      .join(broadcast(queries.select(col("query_id"), col("qe"))), "query_id")
      .withColumn("cos", cosine_sim(col("qe"), col("ce")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("cand_id"),
        round(col("adc"), 4).as("adc"), round(col("cos"), 4).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Contract twin for `sim_knn_pq`: recall@K against the exact
    * brute-force top-K crosses the pinned floor. Seeds are fixed, so the
    * boolean is deterministic per dataset and the driver hash-gates it. */
  private def pqContract(s: SparkSession, d: String): DataFrame = {
    val (nQueries, Seq(recall)) = recallScaffold(s, d)(() => knnPq(s, d))
    import s.implicits._
    Seq((nQueries, recall >= PQ_RECALL_FLOOR))
      .toDF("n_queries", "pq_recall_ok")
  }

  private val pqContractSql =
    s"""SELECT count(*) AS n_queries, TRUE AS pq_recall_ok
       |FROM embeddings WHERE vec_id < $NQ""".stripMargin

  // --------------------------------------------------- IVF + PQ (IVFADC)

  private val ivfpqModels =
    scala.collection.concurrent.TrieMap.empty[String, Seq[org.apache.spark.ml.clustering.KMeansModel]]

  /** IVF+PQ ANN (IVFADC) — the composition the billion-vector indexes
    * actually deploy (Jégou et al. 2011, §IV): the coarse IVF quantizer
    * (the SAME fit-once 16-cell model [[knnIvf]] probes) restricts the
    * scan to NPROBE cells per query, and within those cells candidates
    * are scored from PQ codes of the RESIDUAL (vector − cell centroid) —
    * residual energy is much smaller than vector energy, so the same
    * code budget quantizes finer than whole-vector PQ. Per (query,
    * probed cell) the LUT holds partial distances from the query's
    * residual in THAT cell to the shared residual codebooks
    * (NQ×NPROBE×PQ_M×PQ_KC rows — broadcast-tiny, corpus-invariant).
    * The ADC scan touches only code rows in probed cells (join on
    * (cell, m, code) against the broadcast LUT), and the exact-cosine
    * refine fetches original vectors for the shortlist only. At 100 TB:
    * corpus partitioned by cell id, probes touch NPROBE partitions, and
    * per-row storage is PQ_M bytes + a cell id. Codes are model-derived
    * → rows-only; hard-gated by `sim_ivfpq_contract`. */
  private[graft] def knnIvfPq(s: SparkSession, d: String): DataFrame = {
    CosineSim.register(s)
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val e = withNormalized(s, d)
    val head = e.select(size(col("embedding")).as("dim")).limit(1).collect()
    if (head.isEmpty)
      return emptyResult(s,
        "query_id BIGINT, rank INT, cand_id BIGINT, cell INT, adc DOUBLE, cos DOUBLE")
    val subDim = pqSubDim(head(0).getInt(0))
    val coarse = coarseQuantizer(d, e)
    import s.implicits._
    val cents = coarse.clusterCenters.zipWithIndex
      .map { case (ctr, i) => (i, ctr.toArray.toSeq) }.toSeq
      .toDF("cell", "centroid")
    // residual in the normalized space, against the assigned cell centroid
    val resid = coarse.transform(e)
      .join(broadcast(cents), "cell")
      .withColumn("rvec",
        graft.functions.VectorExprs.graft_vsub(col("nvec"), col("centroid")))
    val withSubs = (0 until PQ_M).foldLeft(resid)((df, m) =>
      df.withColumn(s"rf$m", array_to_vector(slice(col("rvec"), m * subDim + 1, subDim))))
    val models = ivfpqModels.getOrElseUpdate(ivfKey(d),
      storedKmSeq(ivfKey(d), "ivfpq_codebooks", PQ_M)(
        (0 until PQ_M).map(m =>
          new KMeans().setK(PQ_KC).setSeed(71L + m).setMaxIter(5)
            .setFeaturesCol(s"rf$m").setPredictionCol(s"code$m")
            .fit(withSubs))))
    val codes = cachedCorpusFrame(s, s"ivfpqcodes|${ivfKey(d)}")(
      models.foldLeft(withSubs)((df, km) => km.transform(df))
        .select(Seq(col("vec_id"), col("embedding"), col("nvec"), col("cell")) ++
          (0 until PQ_M).map(m => col(s"code$m")): _*))
    // probe list: NPROBE nearest cells per query by centroid distance in
    // the normalized space (identical probe rule to knnIvf)
    val d2 = graft.functions.VectorExprs.graft_l2sq(col("qn"), col("centroid"))
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("cell"))
    val queries = codes.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nvec").as("qn"))
    val probes = queries
      .crossJoin(broadcast(cents))
      .withColumn("d2", d2)
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= NPROBE)
      // query residual against EACH probed cell's centroid — ADC distances
      // are computed in that cell's residual frame
      .withColumn("qr",
        graft.functions.VectorExprs.graft_vsub(col("qn"), col("centroid")))
      .select(col("query_id"), col("cell"), col("qr"))
    // residual codebooks: PQ_M×PQ_KC rows of subDim doubles
    val codebooks = models.zipWithIndex.flatMap { case (km, m) =>
      km.clusterCenters.zipWithIndex.map { case (ctr, c) => (m, c, ctr.toArray.toSeq) }
    }.toDF("m", "code", "ctr")
    val lut = probes.crossJoin(broadcast(codebooks))
      .withColumn("pdist",
        graft.functions.VectorExprs.graft_l2sq(
          slice(col("qr"), col("m") * subDim + 1, lit(subDim)), col("ctr")))
      .select(col("query_id"), col("cell"), col("m"), col("code"), col("pdist"))
    // ADC scan: code rows of probed cells only; the (cell) key in the join
    // restricts candidates to the query's probe list with no extra filter
    val candCodes = codes.select(col("vec_id").as("cand_id"), col("cell"),
      explode(array((0 until PQ_M).map(m =>
        struct(lit(m).as("m"), col(s"code$m").as("code"))): _*)).as("mc"))
      .select(col("cand_id"), col("cell"), col("mc.m").as("m"), col("mc.code").as("code"))
    val adc = candCodes.join(broadcast(lut), Seq("cell", "m", "code"))
      .filter(col("query_id") =!= col("cand_id"))
      .groupBy(col("query_id"), col("cand_id"), col("cell"))
      .agg(sum(col("pdist")).as("adc"))
    val wAdc = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("cand_id"))
    val shortlist = adc.withColumn("pr", row_number().over(wAdc))
      .filter(col("pr") <= PQ_SHORTLIST)
      .select(col("query_id"), col("cand_id"), col("cell"), col("adc"))
    val rer = shortlist
      .join(codes.select(col("vec_id").as("cand_id"), col("embedding").as("ce")), "cand_id")
      .join(broadcast(queries.select(col("query_id"), col("qe"))), "query_id")
      .withColumn("cos", cosine_sim(col("qe"), col("ce")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("cand_id"), col("cell"),
        round(col("adc"), 4).as("adc"), round(col("cos"), 4).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  // IVFPQ recall is bounded above by the IVF probe recall (it scans the
  // same NPROBE cells) and below by PQ quantization error on the
  // shortlist; measured at sf0.001/0.01/0.1 this round — floor shared
  // with the plain-IVF gate since the cell restriction dominates.
  private[graft] val IVFPQ_RECALL_FLOOR = 0.3

  /** Contract twin for `sim_knn_ivfpq`: recall@K against the exact
    * brute-force top-K crosses the pinned floor; seeds fixed, boolean
    * deterministic per dataset, driver-hash-gated. */
  private def ivfpqContract(s: SparkSession, d: String): DataFrame = {
    val (nQueries, Seq(recall)) = recallScaffold(s, d)(() => knnIvfPq(s, d))
    import s.implicits._
    Seq((nQueries, recall >= IVFPQ_RECALL_FLOOR))
      .toDF("n_queries", "ivfpq_recall_ok")
  }

  private val ivfpqContractSql =
    s"""SELECT count(*) AS n_queries, TRUE AS ivfpq_recall_ok
       |FROM embeddings WHERE vec_id < $NQ""".stripMargin

  // --------------------------------------------------- PCA compression

  private val PCA_K = 16          // retained dims (64 → 16 = 4× compression)
  private val PCA_SHORTLIST = 256 // PCA-space shortlist re-ranked exactly
  // Floors measured this round (numpy SVD replay, all three SFs):
  // cumulative explained variance 0.307-0.376 at k=16; recall@5 with the
  // 256 shortlist 0.72 / 0.96 / 0.98 (sf0.1/0.01/0.001) — the fixture
  // embeddings are weakly clustered (same data-inherent ceiling the IVF
  // scaladoc documents), so the floors leave real margin.
  private[graft] val PCA_VAR_FLOOR = 0.25
  private[graft] val PCA_RECALL_FLOOR = 0.5

  private val pcaModels =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.ml.feature.PCAModel]

  /** Corpus frame with `pca` = the PCA_K-dim projection (array<double>),
    * from the fit-once cached model. None on an empty corpus. */
  private def pcaProject(s: SparkSession, d: String): Option[DataFrame] = {
    import org.apache.spark.ml.feature.PCA
    import org.apache.spark.ml.functions.vector_to_array
    val e = withNormalized(s, d)
    if (e.select(lit(1)).limit(1).collect().isEmpty) return None
    val model = pcaModels.getOrElseUpdate(ivfKey(d),
      graft.ModelStore.getOrFit(ivfKey(d), "pca_model")(
        new PCA().setK(PCA_K).setInputCol("features").setOutputCol("pcaVec").fit(e))(
        (m, p) => m.write.overwrite().save(p.resolve("model").toString),
        p => org.apache.spark.ml.feature.PCAModel.load(p.resolve("model").toString)))
    Some(model.transform(e)
      .select(col("vec_id"), col("embedding"),
        vector_to_array(col("pcaVec")).as("pca")))
  }

  /** PCA-compressed ANN — the third compressed-vector path beside the
    * sign-LSH bits and the PQ codes: project the corpus onto the top
    * PCA_K principal directions of the L2-normalized vectors (64 → 16
    * doubles; at 100 TB the SCAN stores only the projections — 4× less
    * memory/compute per comparison), take the PCA-space euclidean
    * shortlist per query, re-rank it with exact cosine over the original
    * vectors (fetched for PCA_SHORTLIST rows per query only). The model
    * is fit once per dataset (cached like the IVF quantizer, pre-fit by
    * `warmIndex`) and is dim×k doubles — broadcast-tiny. Centering
    * inside MLlib's covariance PCA shifts every projection by the same
    * constant, which cancels in the euclidean differences the shortlist
    * ranks on. Projections are model-derived → rows-only; hard-gated by
    * `sim_pca_contract` (variance + recall floors). */
  private[graft] def knnPca(s: SparkSession, d: String): DataFrame = {
    CosineSim.register(s)
    val prj0 = pcaProject(s, d).getOrElse(
      return emptyResult(s,
        "query_id BIGINT, rank INT, cand_id BIGINT, pca_d2 DOUBLE, cos DOUBLE"))
    // query slice + candidate scan + refine fetch share one cached copy
    val prj = cachedCorpusFrame(s, s"pcaprj|${ivfKey(d)}")(prj0)
    val q = prj.filter(col("vec_id") < NQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("pca").as("qp"))
    val cand = prj.select(col("vec_id").as("cand_id"), col("pca").as("cp"))
    val d2 = graft.functions.VectorExprs.graft_l2sq(col("qp"), col("cp"))
    val wShort = Window.partitionBy(col("query_id")).orderBy(col("pca_d2"), col("cand_id"))
    val shortlist = broadcast(q).join(cand, col("query_id") =!= col("cand_id"))
      .withColumn("pca_d2", d2)
      .withColumn("pr", row_number().over(wShort))
      .filter(col("pr") <= PCA_SHORTLIST)
      .select(col("query_id"), col("qe"), col("cand_id"), col("pca_d2"))
    val rer = shortlist
      .join(prj.select(col("vec_id").as("cand_id"), col("embedding").as("ce")), "cand_id")
      .withColumn("cos", cosine_sim(col("qe"), col("ce")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("cand_id"))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("rank"), col("cand_id"),
        round(col("pca_d2"), 4).as("pca_d2"), round(col("cos"), 4).as("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Contract twin for `sim_knn_pca`: cumulative explained variance of
    * the retained components and recall@K against brute force both cross
    * their pinned floors. Deterministic per dataset (covariance PCA has
    * no random init). */
  private def pcaContract(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (nQueries, Seq(recall)) = recallScaffold(s, d)(() => knnPca(s, d))
    // Fit via pcaProject (cache-aware): with an empty corpus the recall
    // join ran over empty frames, so the model may not have been fit yet.
    val cumVar =
      if (nQueries == 0) 1.0
      else pcaProject(s, d)
        .map(_ => pcaModels(ivfKey(d)).explainedVariance.toArray.sum)
        .getOrElse(1.0)
    Seq((nQueries, cumVar >= PCA_VAR_FLOOR, recall >= PCA_RECALL_FLOOR))
      .toDF("n_queries", "pca_var_ok", "pca_recall_ok")
  }

  private val pcaContractSql =
    s"""SELECT count(*) AS n_queries, TRUE AS pca_var_ok,
       |  TRUE AS pca_recall_ok
       |FROM embeddings WHERE vec_id < $NQ""".stripMargin

  // --------------------------------------------------- topic clustering

  private val TK = 10 // topic clusters (matches the fixture label cardinality)
  // Pinned quality floors — measured at sf0.001/0.01/0.1 this round:
  // purity 0.138-0.172 (random assignment over 10 balanced labels ≈ 0.105),
  // wcss/tss 0.914-0.940; floors leave margin for kmeans|| init jitter
  // under different partition counts while still rejecting a broken fit
  // (purity at random = fail, no variance explained = fail).
  private[graft] val TOPIC_PURITY_FLOOR = 0.12
  private[graft] val TOPIC_WCSS_CEIL = 0.98

  private val topicModels =
    scala.collection.concurrent.TrieMap.empty[String, org.apache.spark.ml.clustering.KMeansModel]

  /** Assignments (vec_id, label, nvec, cluster_id) from the fit-once
    * spherical KMeans topic model — shared by the report and the
    * contract. Returns None on an empty corpus (KMeans.fit rejects it). */
  private def topicAssign(s: SparkSession, d: String): Option[DataFrame] = {
    import org.apache.spark.ml.clustering.KMeans
    val e = withNormalized(s, d)
    if (e.select(lit(1)).limit(1).collect().isEmpty) return None
    val km = topicModels.getOrElseUpdate(ivfKey(d),
      storedKm(ivfKey(d), "topic_kmeans")(
        new KMeans().setK(TK).setSeed(7L).setMaxIter(10)
          .setFeaturesCol("features").setPredictionCol("cluster_id")
          .fit(e)))
    Some(km.transform(e)
      .select(col("vec_id"), col("label"), col("nvec"), col("cluster_id")))
  }

  /** Topic-mix report — the corpus-composition check a training-data
    * pipeline runs before setting mixture weights: spherical KMeans
    * (fit-once cached, same L2-normalization argument as [[knnIvf]])
    * assigns every embedding to a topic cluster; output is per-cluster
    * size, corpus share, and the dominant ground-truth label with its
    * within-cluster share (the auditor's "what is this cluster" column).
    * At 100 TB this is the canonical map-side job: the model is k×dim
    * doubles broadcast to every task, assignment is one pass over the
    * corpus, and the report aggregation is cluster-cardinality-sized.
    * Centroids are model-derived → rows-only; quality is hard-gated by
    * the oracle-exact `sim_topic_contract` (purity + variance-explained
    * + coverage floors). */
  private[graft] def topicClusters(s: SparkSession, d: String): DataFrame = {
    val asg = topicAssign(s, d).getOrElse(
      return emptyResult(s,
        "cluster_id INT, n_docs BIGINT, share DOUBLE, top_label INT, top_label_share DOUBLE"))
    val byClusterLabel = asg.groupBy(col("cluster_id"), col("label"))
      .agg(count(lit(1)).as("n"))
    val wc = Window.partitionBy(col("cluster_id"))
    val wOrd = wc.orderBy(col("n").desc, col("label"))
    byClusterLabel
      .withColumn("n_docs", sum(col("n")).over(wc))
      .withColumn("rn", row_number().over(wOrd))
      .filter(col("rn") === 1)
      .withColumn("total", sum(col("n_docs")).over())
      .select(col("cluster_id"), col("n_docs"),
        round(col("n_docs").cast("double") / col("total"), 4).as("share"),
        col("label").as("top_label"),
        round(col("n").cast("double") / col("n_docs"), 4).as("top_label_share"))
      .orderBy(col("cluster_id"))
  }

  /** Contract twin for `sim_topic_clusters` (model-derived → rows-only):
    * the deterministic quality guarantees, driver-hash-gated.
    *  - coverage: every vector assigned, exactly TK nonempty clusters;
    *  - variance explained: within-cluster SSE / total SSE ≤ ceil — a
    *    fit that learned nothing (wcss ≈ tss) fails;
    *  - label purity: Σ_c max_l |c ∩ l| / n ≥ floor — random assignment
    *    over the 10 balanced fixture labels (≈0.105) fails.
    * Seeds are pinned, so every boolean is deterministic per dataset. */
  private def topicContract(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val asgOpt = topicAssign(s, d)
    if (asgOpt.isEmpty)
      return Seq((0L, true, true, true))
        .toDF("n_vectors", "coverage_ok", "gain_ok", "purity_ok")
    val asg = asgOpt.get.persist()
    val n = asg.count()
    // r21 (guide §2.6): the three audit chains — coverage (distinct
    // clusters), variance (mean → wcss/tss), purity — are independent
    // reads of the cached frame, run together by one Overlap.all.
    // Barrier: `asg` is materialized by the count above; the model they
    // read was fit by topicAssign.
    def coverageJob() = asg.select(col("cluster_id")).distinct().count()
    def varianceJob(): (Double, Double) = {
      // global mean of the normalized vectors (dim doubles — driver-tiny)
      val dim = asg.select(size(col("nvec"))).first().getInt(0)
      val mean = asg
        .select(posexplode(col("nvec")).as(Seq("i", "x")))
        .groupBy(col("i")).agg(avg(col("x")).as("mu"))
        .orderBy(col("i")).collect().map(_.getAs[Double]("mu"))
      require(mean.length == dim)
      val meanCol = array(mean.map(lit(_)): _*)
      // centroids of the fitted model, matched to assignments by cluster id
      val km = topicModels(ivfKey(d))
      val cents = km.clusterCenters.zipWithIndex
        .map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
        .toDF("cluster_id", "ctr")
      def sq(a: Column, b: Column): Column =
        graft.functions.VectorExprs.graft_l2sq(a, b)
      val sums = asg.join(broadcast(cents), "cluster_id")
        .select(sq(col("nvec"), col("ctr")).as("d2c"),
          sq(col("nvec"), meanCol).as("d2m"))
        .agg(sum(col("d2c")).as("wcss"), sum(col("d2m")).as("tss"))
        .first()
      (sums.getAs[Double]("wcss"), sums.getAs[Double]("tss"))
    }
    def purityJob() = asg.groupBy(col("cluster_id"), col("label"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("cluster_id")).agg(max(col("cnt")).as("top"))
      .agg(sum(col("top"))).first().getLong(0).toDouble / n
    val (nClusters, (wcss, tss), purity) =
      Overlap.all(s, coverageJob(), varianceJob(), purityJob())
    asg.unpersist() // every dependent aggregate is materialized above
    Seq((n, nClusters == TK.toLong, wcss / tss <= TOPIC_WCSS_CEIL,
      purity >= TOPIC_PURITY_FLOOR))
      .toDF("n_vectors", "coverage_ok", "gain_ok", "purity_ok")
  }

  private val topicContractSql =
    """SELECT count(*) AS n_vectors, TRUE AS coverage_ok, TRUE AS gain_ok,
      |  TRUE AS purity_ok
      |FROM embeddings""".stripMargin

  // --------------------------------------- driver-gated verification rows
  //
  // r11 verdict #2: the sim_knn_* / sim_ivf_recall / sim_topic_clusters
  // registered queries used to dump the raw model-derived frames
  // (cand_ids, cells, centroid shares — not oracle-computable → rows-only
  // driver check). The registered queries are now VERIFICATION frames the
  // DuckDB oracle hash-matches per row; the raw neighbor/report frames
  // stay the operator API (the private[graft] functions above, exercised
  // by every verified query and spec-tested directly in SimilaritySpec).

  /** One row per (query_id, rank) — enumerable by the oracle — for an
    * approximate kNN result:
    *  - `exact_cos`: the brute-force rank-r cosine (from the fit-once
    *    [[exactKnnPairs]] artifact; the oracle replays it in SQL);
    *  - `cos_dominated`: the approximate rank-r cosine can never exceed
    *    the exact rank-r cosine — if it did, r candidates would all beat
    *    the r-th best, contradiction — so TRUE is deterministic (rounding
    *    to 4dp is monotone, so the comparison survives the rounding);
    *  - `structure_ok`: the index-specific per-row invariants
    *    (self-exclusion, |cos| ≤ 1, cell/adc/d2 bounds).
    * The inner join on (query_id, rank) makes row MULTIPLICITY part of
    * the gate: an index that returns fewer/more than K rows per query
    * hash-mismatches. WHICH candidates were returned stays gated by the
    * *_contract recall floors. */
  private def knnVerified(s: SparkSession, d: String, approx: DataFrame,
      structureOk: Column): DataFrame = {
    val exact = exactKnnPairs(s, d)
      .select(col("query_id"), col("rank"), col("cos").as("exact_cos"))
    approx
      .withColumn("structure_ok", structureOk)
      .select(col("query_id"), col("rank"), col("cos"), col("structure_ok"))
      .join(broadcast(exact), Seq("query_id", "rank"))
      .select(col("query_id"), col("rank"), col("exact_cos"),
        (col("cos") <= col("exact_cos") + lit(1e-9)).as("cos_dominated"),
        col("structure_ok"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val knnVerifiedSql =
    s"""SELECT query_id, rank, cos AS exact_cos,
       |  TRUE AS cos_dominated, TRUE AS structure_ok
       |FROM ($knnBruteforceSql) ORDER BY query_id, rank""".stripMargin

  private def knnIvfVerified(s: SparkSession, d: String): DataFrame =
    knnVerified(s, d, knnIvf(s, d),
      col("cand_id") =!= col("query_id") && abs(col("cos")) <= 1.0001 &&
        col("cell").between(0, 15))

  private def knnPqVerified(s: SparkSession, d: String): DataFrame =
    knnVerified(s, d, knnPq(s, d),
      col("cand_id") =!= col("query_id") && abs(col("cos")) <= 1.0001 &&
        col("adc") >= -1e-9)

  private def knnIvfPqVerified(s: SparkSession, d: String): DataFrame =
    knnVerified(s, d, knnIvfPq(s, d),
      col("cand_id") =!= col("query_id") && abs(col("cos")) <= 1.0001 &&
        col("cell").between(0, 15) && col("adc") >= -1e-9)

  private def knnPcaVerified(s: SparkSession, d: String): DataFrame =
    knnVerified(s, d, knnPca(s, d),
      col("cand_id") =!= col("query_id") && abs(col("cos")) <= 1.0001 &&
        col("pca_d2") >= -1e-9)

  /** [[ivfRecall]]'s driver-gated form: the recall VALUES are
    * model-internal, but the floor crossing and the [0,1] ∧ min≤avg≤max
    * ordering are deterministic for the pinned seeds (rounding at 4dp is
    * monotone, so the ordering survives it). n_queries is derived the
    * way the oracle derives it (embeddings with vec_id < NQ). */
  private def ivfRecallVerified(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nQueries = T.embeddings(s, d).filter(col("vec_id") < NQ).count()
    if (nQueries == 0)
      return Seq((0L, true, true)).toDF("n_queries", "avg_floor_ok", "bounds_ok")
    val r = ivfRecall(s, d).collect()(0) // 1-row summary — driver-bounded
    val (avg, mn, mx) = (r.getAs[Double]("avg_recall"),
      r.getAs[Double]("min_recall"), r.getAs[Double]("max_recall"))
    Seq((nQueries, avg >= IVF_RECALL_FLOOR,
      0.0 <= mn && mn <= avg && avg <= mx && mx <= 1.0))
      .toDF("n_queries", "avg_floor_ok", "bounds_ok")
  }

  private val ivfRecallVerifiedSql =
    s"""SELECT count(*) AS n_queries, TRUE AS avg_floor_ok, TRUE AS bounds_ok
       |FROM embeddings WHERE vec_id < $NQ""".stripMargin

  /** [[topicClusters]]'s driver-gated form: one row per cluster id
    * (enumerable — the contract's coverage gate certifies all TK clusters
    * nonempty on this fixture) with the per-cluster structural
    * invariants. `dominance_ok`'s floor is mathematical, not measured:
    * the dominant label's within-cluster share is ≥ 1/#labels-present
    * ≥ 1/10 for the fixture's 10-label domain. */
  private def topicClustersVerified(s: SparkSession, d: String): DataFrame =
    topicClusters(s, d).select(col("cluster_id"),
      (col("n_docs") >= 1L).as("nonempty"),
      (col("share") > 0.0 && col("share") <= 1.0).as("share_ok"),
      col("top_label").between(0, 9).as("label_ok"),
      (col("top_label_share") >= 0.1 - 1e-9 && col("top_label_share") <= 1.0)
        .as("dominance_ok"))
      .orderBy(col("cluster_id"))

  private val topicClustersVerifiedSql =
    s"""SELECT CAST(range AS INT) AS cluster_id, TRUE AS nonempty,
       |  TRUE AS share_ok, TRUE AS label_ok, TRUE AS dominance_ok
       |FROM range($TK) WHERE (SELECT count(*) FROM embeddings) > 0
       |ORDER BY cluster_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("sim_knn_bruteforce", knnBruteforce, Some(knnBruteforceSql)),
    QuerySpec("sim_knn_lsh", knnLsh, Some(knnLshSql)),
    QuerySpec("sim_knn_ivf", knnIvfVerified, Some(knnVerifiedSql)),
    QuerySpec("sim_vector_stats", vectorStats, Some(vectorStatsSql)),
    QuerySpec("sim_ivf_recall", ivfRecallVerified, Some(ivfRecallVerifiedSql)),
    QuerySpec("sim_ann_contract", annContract, Some(annContractSql)),
    QuerySpec("mllib_ann_contract", mllibAnnContract, Some(mllibAnnContractSql)),
    QuerySpec("sim_knn_pq", knnPqVerified, Some(knnVerifiedSql)),
    QuerySpec("sim_pq_contract", pqContract, Some(pqContractSql)),
    QuerySpec("sim_knn_ivfpq", knnIvfPqVerified, Some(knnVerifiedSql)),
    QuerySpec("sim_ivfpq_contract", ivfpqContract, Some(ivfpqContractSql)),
    QuerySpec("sim_hybrid_search", hybridSearch, Some(hybridSearchSql)),
    QuerySpec("sim_topic_clusters", topicClustersVerified, Some(topicClustersVerifiedSql)),
    QuerySpec("sim_topic_contract", topicContract, Some(topicContractSql)),
    QuerySpec("sim_knn_pca", knnPcaVerified, Some(knnVerifiedSql)),
    QuerySpec("sim_pca_contract", pcaContract, Some(pcaContractSql)))
}
