package graft.operators

import graft.Tables
import graft.functions.VectorFunctions._
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Similarity search over the `embeddings` table (vec_id, embedding:
  * array<float>, label).
  *
  * Two paths:
  *   - [[bruteForceTopK]]: exact — broadcast the query vector(s), one
  *     codegen'd scan over the corpus, TakeOrderedAndProject top-k.
  *     This is the correctness baseline and the oracle-checked Q15.
  *   - [[ivfTopK]]: IVF-style approximate path for scale — corpus is
  *     assigned to its nearest centroid with a single shuffle-free
  *     codegen'd scan (centroids ride along as a broadcast literal
  *     array), queries probe only the closest `nprobe` buckets. At
  *     100 TB the corpus is written out partitioned by centroid id
  *     ([[writeIvfIndex]]) and a probe reads only its nprobe bucket
  *     directories ([[probeIvfIndex]]); recall is tunable via nprobe.
  */
object Similarity {

  /** Q15 — exact top-k cosine neighbors of `queryId`. The 1-row query
    * side is broadcast; each corpus row pays ONE fused codegen'd loop
    * (dot + both norms — the native [[CosineSimilarity]] expression, no
    * intermediate arrays, no interpreted lambdas); the corpus scan stays
    * partition-parallel and the final orderBy+limit plans as
    * TakeOrderedAndProject (per-partition top-k, driver merges k×P rows —
    * no global sort at any scale). */
  def bruteForceTopK(s: SparkSession, dir: String, queryId: Long = 0L,
      k: Int = 5): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qvec"))
    e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cos", cosine(col("embedding"), col("qvec")))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cos"), 4).as("cos_sim"))
  }

  /** Batch exact kNN: top-`k` cosine neighbors for EVERY query in
    * `queryIds`, from ONE corpus scan. The M query rows are broadcast
    * and nested-loop-joined (M is small by construction — a query
    * batch, not a table), each corpus row pays M fused codegen'd
    * cosine loops, and the per-query top-k is the custom bounded
    * [[graft.functions.TopKByScore]] aggregate: map-side partials emit
    * ≤ k entries per (partition, query), so the only shuffle carries
    * O(P·M·k) rows — never the scored corpus. The composed
    * alternative, `Window.partitionBy(query_id)`, would buffer and
    * sort the ENTIRE corpus inside each of M window partitions; that
    * is the single-partition-window trap this aggregate exists to
    * avoid. */
  def batchTopK(s: SparkSession, dir: String, queryIds: Seq[Long],
      k: Int = 3): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val q = e.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("embedding"), col("qvec")).as("cos"))
      .groupBy("query_id")
      .agg(graft.functions.TopKByScore(col("cos"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("query_id"), (col("i") + 1).cast("long").as("rnk"),
        col("t.id").as("vec_id"), round(col("t.score"), 4).as("cos_sim"))
      .orderBy("query_id", "rnk")
  }

  /** Registered query (`sim_batch_topk`): 3 nearest neighbors for each
    * of the 8 query vectors vec_id 0..7 — one corpus scan total. */
  def qBatchTopK(s: SparkSession, dir: String): DataFrame =
    batchTopK(s, dir, 0L to 7L, k = 3)

  /** Hybrid retrieval — reciprocal-rank fusion (RRF) of a LEXICAL leg
    * (BM25 over `documents`) and a SEMANTIC leg (exact cosine over the
    * id-aligned `embeddings` table): the standard two-tower RAG serving
    * pattern. BM25 and cosine live on incomparable scales, so the
    * fusion uses only the two RANK lists — score(d) = Σ_legs
    * 1/(C + rank_leg(d)), standard C = 60; a doc missing from a leg
    * contributes 0 there.
    *
    * Rank determinism across engines: each leg ranks by its ROUNDED
    * (4dp) score with doc_id tie-break — exactly the 4dp values the
    * q15/text_bm25 oracles already hash-check — so the leg-k cut and
    * every rank agree bit-for-bit with DuckDB. Ranking (or cutting) on
    * the raw doubles would let a last-ulp cross-engine difference flip
    * the k-th slot and cascade through the fusion.
    *
    * Scale shape: both legs end in a (rounded score, id) top-k that
    * plans as TakeOrderedAndProject (per-partition heaps — no global
    * sort at any corpus size); the rank windows run AFTER the legK-row
    * cut (by-construction bounded — the PlanInvariantSpec allowlist
    * class), and the fusion is a full-outer equi-join of two ≤legK-row
    * frames. One scan of each table, total. */
  def hybridRetrieval(s: SparkSession, dir: String,
      queryTerms: Seq[String], queryId: Long = 0L,
      legK: Int = 20, rrfC: Int = 60, topK: Int = 10): DataFrame =
    hybridRetrievalFrames(Tables.documents(s, dir),
      Tables.embeddings(s, dir), queryTerms, queryId, legK, rrfC, topK)

  /** Frame-based core of [[hybridRetrieval]] (spec entry point). */
  def hybridRetrievalFrames(docs: DataFrame, e: DataFrame,
      queryTerms: Seq[String], queryId: Long = 0L,
      legK: Int = 20, rrfC: Int = 60, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = TextStats.bm25Retrieval(docs, queryTerms, topK = legK)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("bm25").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "lex_rank")
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qvec"))
    val sem = e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(cosine(col("embedding"), col("qvec")), 4).as("cos4"))
      .orderBy(col("cos4").desc, col("doc_id"))
      .limit(legK)
      .withColumn("sem_rank", row_number().over(
        Window.orderBy(col("cos4").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "sem_rank")
    lex.join(sem, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score", round(
        coalesce(lit(1.0) / (lit(rrfC) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfC) + col("sem_rank")), lit(0.0)), 4))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(topK)
      .select("doc_id", "lex_rank", "sem_rank", "rrf_score")
  }

  /** Registered query (`hybrid_retrieval`): text_bm25's query terms
    * fused with q15's query vector (vec_id 0). */
  def qHybridRetrieval(s: SparkSession, dir: String): DataFrame =
    hybridRetrieval(s, dir, Seq("hash", "join", "vector"))

  /** MMR (maximal marginal relevance, Carbonell & Goldstein) diversity
    * re-ranking: from a candidate pool, greedily pick the item
    * maximizing `λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)` — relevance
    * traded against redundancy with what is ALREADY selected, the
    * standard post-retrieval diversifier.
    *
    * Where the work runs is the honest part: candidate retrieval is the
    * distributed corpus scan (exact cosine top-`poolK`,
    * TakeOrderedAndProject — the q15 path); the greedy selection is
    * inherently sequential in k AND conditioned on its own prefix, so
    * it runs driver-side over the COLLECTED pool — bounded at poolK
    * rows by construction (the centroid-fit collect discipline), which
    * is exactly where a serving system runs its re-rank too. Ties at
    * equal MMR score break by vec_id (deterministic).
    *
    * Returns (rank, vec_id, relevance, max_sim_selected) for the k
    * picks, where max_sim_selected is the redundancy term at selection
    * time (0 for the first pick). */
  def mmrTopK(e: DataFrame, queryId: Long, lambda: Double,
      poolK: Int = 20, k: Int = 5): Seq[(Int, Long, Double, Double)] = {
    val qRow = e.filter(col("vec_id") === queryId)
      .select(col("embedding").cast("array<double>")).head(1)
    require(qRow.nonEmpty,
      s"mmrTopK: query vector $queryId absent — empty or truncated " +
        "embeddings table")
    val q = qRow.head.getSeq[Double](0).toArray
    val pool = e.filter(col("vec_id") =!= queryId)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("rel", cosine(col("v"), lit(q)))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(poolK)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    val selected = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Long, Double, Double)]
    val chosen = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[Double])]
    val remaining = scala.collection.mutable.ArrayBuffer(pool: _*)
    var rank = 1
    while (rank <= k && remaining.nonEmpty) {
      val scored = remaining.map { case (id, v, rel) =>
        val red =
          if (chosen.isEmpty) 0.0
          else chosen.map(c => cos(v, c._2)).max
        (lambda * rel - (1 - lambda) * red, id, rel, red)
      }
      val best = scored.minBy { case (s, id, _, _) => (-s, id) }
      val idx = remaining.indexWhere(_._1 == best._2)
      chosen += ((best._2, remaining(idx)._2))
      remaining.remove(idx)
      selected += ((rank, best._2, best._3, best._4))
      rank += 1
    }
    selected.toSeq
  }

  /** Registered query (`sim_mmr`): the MMR exactness gate plus
    * in-engine diversity invariants. At λ = 1 the redundancy term
    * vanishes and MMR MUST degenerate to plain relevance order — those
    * k rows are oracle-checked against the q15-shape SQL top-k. The
    * λ = 0.5 diversified selection can't be SQL-expressed (greedy,
    * prefix-conditioned), so its contract rides as constant flags the
    * driver hash-checks: picks ⊆ pool, first pick = relevance top-1,
    * and the diversified selection's internal redundancy (max pairwise
    * cosine) is ≤ the λ=1 selection's — diversification must not
    * INCREASE redundancy on the same pool. */
  /** Fetch exactly the vectors named by `ids` (the audit-collect helper
    * for [[qMmr]]): the scan filters `vec_id IN ids` BEFORE the
    * collect, so the driver materializes ≤ ids.size rows no matter how
    * large the embeddings table is — the same bounded-collect
    * discipline [[mmrTopK]]'s poolK cut follows. Spec-pinned
    * (SimilaritySpec) on a corpus far larger than the id set. */
  private[graft] def collectVecsById(e: DataFrame,
      ids: Seq[Long]): Map[Long, Array[Double]] =
    e.filter(col("vec_id").isInCollection(ids.distinct))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

  def qMmr(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val plain = mmrTopK(e, queryId = 0L, lambda = 1.0)
    val diverse = mmrTopK(e, queryId = 0L, lambda = 0.5)
    // audit collect bounded at ≤ 2·k rows: only the picked vectors are
    // needed for the pairwise-redundancy invariant below
    val vecs = collectVecsById(e, plain.map(_._2) ++ diverse.map(_._2))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def maxPairwise(ids: Seq[Long]): Double =
      if (ids.size < 2) 0.0
      else (for {
        i <- ids.indices; j <- (i + 1) until ids.size
      } yield cos(vecs(ids(i)), vecs(ids(j)))).max
    val redPlain = maxPairwise(plain.map(_._2))
    val redDiverse = maxPairwise(diverse.map(_._2))
    val poolIds = mmrTopK(e, 0L, 1.0, poolK = 20, k = 20).map(_._2).toSet
    val pass = diverse.map(_._2).forall(poolIds.contains) &&
      diverse.head._2 == plain.head._2 &&
      redDiverse <= redPlain
    import s.implicits._
    plain.map { case (r, id, rel, _) =>
      (r, id, BigDecimal(rel).setScale(4, BigDecimal.RoundingMode.HALF_UP)
        .toDouble, pass)
    }.toDF("rank", "vec_id", "cos_sim", "diversity_pass")
      .select(col("rank").cast("long").as("rank"), col("vec_id"),
        col("cos_sim"), col("diversity_pass"))
      .orderBy("rank")
  }

  /** Driver-side spherical k-means (Lloyd) over an already-normalized
    * sample. Deterministic: fixed init (every sample.length/c-th point of
    * the hash-ordered sample) and a fixed iteration count; empty clusters
    * keep their previous centroid. Output centroids are unit-normalized,
    * ordered by centroid id. O(sample × c × dim) on the driver — trivial
    * next to any distributed step. */
  private def kmeansCentroids(sample: Array[Array[Double]], c: Int,
      iters: Int = 4): Array[Array[Double]] = {
    val n = sample.length
    val dim = sample(0).length
    def normalize(v: Array[Double]): Array[Double] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      if (norm == 0) v else v.map(_ / norm)
    }
    var centroids = Array.tabulate(c)(i => sample((i.toLong * n / c).toInt))
    for (_ <- 0 until iters) {
      val sums = Array.fill(c, dim)(0.0)
      val counts = new Array[Int](c)
      sample.foreach { v =>
        var best = 0; var bestDot = Double.NegativeInfinity
        var i = 0
        while (i < c) {
          var d = 0.0; var j = 0
          while (j < dim) { d += v(j) * centroids(i)(j); j += 1 }
          if (d > bestDot) { bestDot = d; best = i }
          i += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
        counts(best) += 1
      }
      centroids = Array.tabulate(c)(i =>
        if (counts(i) == 0) centroids(i) else normalize(sums(i)))
    }
    centroids
  }

  /** IVF-flat approximate top-k.
    *
    * Scale shape — no shuffle of the corpus anywhere:
    *   1. A bounded deterministic sample (hash-ordered TakeOrdered, ~64
    *      rows per centroid) is collected and clustered on the driver
    *      with a few spherical k-means rounds.
    *   2. Centroid ASSIGNMENT is one codegen'd projection: the
    *      unit-normalized centroids ride along as a literal
    *      array<array<double>> and each row takes argmax over its dot
    *      products (‖row‖ is constant per row, so plain dot ranks the
    *      same as cosine). No crossJoin, no Window, no Exchange.
    *   3. The PROBE list (the query's nprobe nearest centroids) is
    *      computed on the driver, so probing is `cid isin (...)` — with
    *      the corpus written out partitioned by cid ([[writeIvfIndex]])
    *      the probe reads only those bucket directories, not even a
    *      filter scan.
    */
  def ivfTopK(s: SparkSession, dir: String, queryId: Long = 0L, k: Int = 5,
      numCentroids: Int = 16, nprobe: Int = 4): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val centroids = fitCentroids(e, numCentroids)
    val qvec = queryVector(e, queryId)
    topKByCosine(
      assignCentroids(e, centroids)
        .filter(col("cid").isin(probeCids(centroids, qvec, nprobe): _*))
        .filter(col("vec_id") =!= queryId),
      qvec, k)
  }

  /** IVF step 1 — centroids from a bounded deterministic pseudo-random
    * sample (hash-ordered TakeOrdered, ~64 rows per centroid), clustered
    * on the driver with a few spherical k-means rounds. */
  def fitCentroids(e: DataFrame, numCentroids: Int): Array[Array[Double]] = {
    val sampleRows = e
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(numCentroids * 64)
      .collect()
    // Zero-norm vectors are dropped from the sample: a zero centroid
    // scores NaN under cosine, and Spark orders NaN above every double, so
    // one zero centroid would argmax-capture EVERY row in assignCentroids.
    val sample = sampleRows.iterator.map { r =>
      val v = r.getSeq[Double](1).toArray
      (v, math.sqrt(v.map(x => x * x).sum))
    }.collect { case (v, norm) if norm > 0 => v.map(_ / norm) }.toArray
    require(sample.nonEmpty,
      "IVF centroid fit: every sampled embedding has zero norm")
    kmeansCentroids(sample, math.min(numCentroids, sample.length))
  }

  /** Distributed spherical-Lloyd refinement of sample-fit centroids over
    * the FULL corpus — the 100 TB k-means recipe: fit on a bounded
    * driver-side sample ([[fitCentroids]]), then refine with distributed
    * passes so centroids reflect the whole distribution, not the sample.
    *
    * Each pass: one codegen'd argmax [[assignCentroids]] scan, then the
    * per-centroid per-dimension mean via posexplode + partial
    * aggregation — map-side combine collapses the shuffle to
    * O(partitions × k × d) rows regardless of corpus size, and only the
    * k × d means (e.g. 16 × 64 = 1,024 values) cross to the driver, the
    * same bounded-scalar budget as the centroid sample itself. Means are
    * re-normalized to unit length (spherical k-means: the unit mean is
    * the cosine-optimal centroid); a centroid that captures no rows
    * keeps its previous position. Deterministic given input centroids —
    * pinned by SimilaritySpec alongside the objective-improvement
    * property. */
  def refineCentroids(e: DataFrame, centroids: Array[Array[Double]],
      iters: Int = 2): Array[Array[Double]] = {
    var cur = centroids
    for (_ <- 1 to iters) {
      val means = assignCentroids(
          e.select(col("vec_id"), col("embedding")), cur)
        .select(col("cid"),
          posexplode(col("embedding").cast("array<double>")).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(avg("x").as("m"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          val m = new Array[Double](cur(0).length)
          rows.foreach(r => m(r.getInt(1)) = r.getDouble(2))
          cid -> m
        }
      cur = cur.zipWithIndex.map { case (old, i) =>
        means.get(i) match {
          case Some(m) =>
            val norm = math.sqrt(m.map(x => x * x).sum)
            if (norm > 0) m.map(_ / norm) else old
          case None => old
        }
      }
    }
    cur
  }

  /** IVF step 2 — shuffle-free argmax assignment: each row takes the
    * argmax-dot centroid via the fused native
    * [[graft.functions.NearestCentroid]] expression — ONE codegen'd k·d
    * loop per row, no intermediate score array. The centroids are
    * unit-normalized, so argmax dot ≡ argmax cosine (‖row‖ is a positive
    * constant across centroids); ties break to the first index and a
    * zero-norm row lands on centroid 0, both matching the earlier
    * composed formulation (`array_position(scores, array_max(scores))`
    * over k nanvl'd cosines), which this replaced after the 512-d
    * wide-vector stress showed the composed form evaluating the
    * k-cosine array once per CONSUMER post-CollapseProject plus an
    * allocation per row. Adds `cid`; no crossJoin, no Window, no
    * Exchange, no interpreted expression. */
  def assignCentroids(e: DataFrame,
      centroids: Array[Array[Double]]): DataFrame =
    e.withColumn("cid",
      graft.functions.VectorFunctions.nearestCentroid(col("embedding"), centroids))

  /** The query's embedding as a driver-side double array. */
  def queryVector(e: DataFrame, queryId: Long): Array[Double] =
    e.filter(col("vec_id") === queryId)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray

  /** IVF step 3a — the driver-side probe ranking every IVF path
    * shares: the ids of the `nprobe` centroids nearest `qvec` by dot
    * product (the centroids are unit vectors, so dot ranks as cosine),
    * ties broken by the lower id. */
  private def probeCids(centroids: Array[Array[Double]],
      qvec: Array[Double], nprobe: Int): Seq[Int] =
    centroids.toSeq.zipWithIndex
      .map { case (cv, i) => (cv.zip(qvec).map { case (a, b) => a * b }.sum, i) }
      .sortBy { case (d, i) => (-d, i) }
      .take(math.min(nprobe, centroids.length))
      .map(_._2)

  private def topKByCosine(candidates: DataFrame, qvec: Array[Double],
      k: Int): DataFrame =
    candidates
      .withColumn("cos", cosine(col("embedding"), typedLit(qvec.toSeq)))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cos"), 4).as("cos_sim"))

  // --- materialized index: the 100 TB probe path ------------------------

  /** Write the IVF index: the assigned corpus, PARTITIONED BY `cid` on
    * disk, one `cid=<c>` bucket directory per centroid that received
    * rows. This turns the hypothetical in ivfTopK's step 3 into the real
    * thing: a probe reads only the nprobe bucket directories it chose
    * (see [[readIvfBuckets]]), so at 100 TB a probe reads
    * nprobe/numCentroids of the corpus, not all of it. One assignment
    * scan + one shuffle-free write per ingest, amortized over every
    * subsequent query.
    *
    * Two sidecars sit next to the data (underscore-prefixed → invisible
    * to parquet directory listings):
    *   - `_schema.json`, the buckets' data schema, so a probe reads its
    *     buckets without a schema-inference job;
    *   - `_centroids.csv`, so a probe-side process can load the
    *     centroids without re-fitting — at 100 TB a per-query re-fit
    *     would be the corpus scan the index exists to avoid. It is
    *     written last: its presence marks a complete index. */
  def writeIvfIndex(e: DataFrame, centroids: Array[Array[Double]],
      path: String): Unit = {
    val assigned = assignCentroids(e, centroids)
    assigned.write.partitionBy("cid").mode("overwrite").parquet(path)
    Files.writeString(Paths.get(path, SchemaSidecar),
      bucketSchema(assigned).json)
    val text = centroids.map(_.mkString(",")).mkString("\n")
    Files.writeString(Paths.get(path, "_centroids.csv"), text)
  }

  private val SchemaSidecar = "_schema.json"

  /** The data schema of an assigned frame's bucket files: every column
    * but the `cid` partition column. */
  private def bucketSchema(assigned: DataFrame): StructType =
    StructType(assigned.schema.filterNot(_.name == "cid"))

  /** Load the bucket data schema written by [[writeIvfIndex]]. */
  private def readIvfSchema(path: String): StructType =
    DataType.fromJson(Files.readString(Paths.get(path, SchemaSidecar)))
      .asInstanceOf[StructType]

  /** Incremental ingest into a materialized index: assign `rows` against
    * the PERSISTED `_centroids.csv` (no re-fit — at 100 TB re-fitting on
    * every ingest would be the corpus rescan the index exists to avoid;
    * standard IVF practice is stale centroids + periodic offline rebuild)
    * and append into the matching `cid=` partition directories. Because
    * [[assignCentroids]] is deterministic given the centroids, a probe
    * after build(part1) + append(part2) is identical to a probe after
    * build(part1 ∪ part2) with the same centroids — pinned by
    * SimilaritySpec. The append itself is shuffle-free: one codegen'd
    * assignment scan over only the NEW rows, then a partitioned write.
    *
    * Probes read every bucket with the persisted `_schema.json`, so rows
    * whose data schema differs from it (names or types; nullability
    * aside) are refused before anything is written. */
  def appendToIvfIndex(s: SparkSession, path: String, rows: DataFrame): Unit = {
    val assigned = assignCentroids(rows, readIvfCentroids(path))
    val expected = readIvfSchema(path)
    val got = bucketSchema(assigned)
    require(DataTypeUtils.equalsIgnoreNullability(got, expected),
      s"appendToIvfIndex: rows have data schema ${got.simpleString} but " +
        s"the index at $path was written with ${expected.simpleString}")
    assigned.write.partitionBy("cid").mode("append").parquet(path)
  }

  /** Load the centroid sidecar written by [[writeIvfIndex]]. */
  def readIvfCentroids(path: String): Array[Array[Double]] =
    Files.readString(Paths.get(path, "_centroids.csv"))
      .split('\n').map(_.split(',').map(_.toDouble))

  /** Read the `cid=<c>` bucket directories of `cids` with the persisted
    * `_schema.json`: no schema-inference job, and no listing of any
    * other bucket. A bucket whose centroid received no rows was never
    * written and is skipped. The read is rooted at the index
    * (`basePath`), so `cid` comes back as a partition column. */
  private def readIvfBuckets(s: SparkSession, path: String,
      cids: Seq[Int]): DataFrame = {
    val dirs = cids.distinct.sorted.map(c => Paths.get(path, s"cid=$c"))
      .filter(Files.isDirectory(_)).map(_.toString)
    s.read.schema(readIvfSchema(path)).option("basePath", path)
      .parquet(dirs: _*)
  }

  /** Exact top-k over a materialized index: reads only the query's
    * nprobe nearest centroid buckets ([[readIvfBuckets]]) and scores them
    * in ONE Spark job. The per-query values — the query vector and the
    * excluded id — enter the plan as array literals, which generated code
    * references instead of inlining, so every query runs the same
    * generated source and compiles nothing after the first. */
  def probeIvfIndex(s: SparkSession, path: String,
      centroids: Array[Array[Double]], qvec: Array[Double],
      excludeVecId: Long, k: Int = 5, nprobe: Int = 4): DataFrame =
    topKByCosine(
      readIvfBuckets(s, path, probeCids(centroids, qvec, nprobe))
        .filter(!array_contains(typedLit(Seq(excludeVecId)), col("vec_id"))),
      qvec, k)

  /** Batch probe of a materialized index: top-k for EVERY query in
    * `queries` = (query_id, qvec) from ONE read of the union of all
    * queries' nprobe bucket directories ([[readIvfBuckets]], which keeps
    * `cid` for the pair join) — the ANN-serving shape at 100 TB. Each
    * bucket is read once, however much the probe sets overlap; a
    * broadcast (query_id, cid) pair table then restricts each candidate
    * row to exactly the queries probing ITS bucket, so no query scores a
    * bucket outside its own probe set; per-query top-k is the bounded
    * [[graft.functions.TopKByScore]] aggregate (map-side partials ≤ k
    * per query — same shape as [[batchTopK]], never a Window sort). */
  def batchProbeIvfIndex(s: SparkSession, path: String,
      centroids: Array[Array[Double]], queries: Seq[(Long, Array[Double])],
      k: Int = 5, nprobe: Int = 4): DataFrame = {
    val probePairs = probePairsFor(centroids, queries, nprobe)
    batchProbeCore(
      readIvfBuckets(s, path, probePairs.map(_._2)),
      probePairs, queries, k)
  }

  /** Driver-side probe plan for a query batch: each query's nprobe
    * nearest centroid ids ([[probeCids]]). */
  private def probePairsFor(centroids: Array[Array[Double]],
      queries: Seq[(Long, Array[Double])], nprobe: Int): Seq[(Long, Int)] =
    queries.flatMap { case (qid, qv) =>
      probeCids(centroids, qv, nprobe).map(qid -> _)
    }

  /** Shared scoring tail for batch probes over cid-assigned candidates:
    * the broadcast (query_id, cid) pair table restricts each candidate
    * row to exactly the queries probing ITS bucket, scoring is the fused
    * cosine kernel, and the per-query top-k is the bounded
    * [[graft.functions.TopKByScore]] aggregate — never a Window sort. */
  private def batchProbeCore(candidates: DataFrame,
      probePairs: Seq[(Long, Int)], queries: Seq[(Long, Array[Double])],
      k: Int): DataFrame = {
    val s = candidates.sparkSession
    import s.implicits._
    val qframe = queries.toDF("query_id", "qvec")
    val pframe = probePairs.toDF("query_id", "cid")
    candidates
      .join(broadcast(pframe), "cid")
      .join(broadcast(qframe), "query_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("embedding"), col("qvec")).as("cos"))
      .groupBy("query_id")
      .agg(graft.functions.TopKByScore(col("cos"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("i", "t")))
      .select(col("query_id"), (col("i") + 1).cast("long").as("rnk"),
        col("t.id").as("vec_id"), round(col("t.score"), 4).as("cos_sim"))
      .orderBy("query_id", "rnk")
  }

  /** recall@k of the IVF probe path against the exact batch kNN, both
    * computed IN-ENGINE: queries are vec_id 0..nQueries−1, the probe
    * runs over the in-memory assigned corpus (identical semantics to a
    * materialized-index probe — [[assignCentroids]] is deterministic
    * given the centroids), the exact side is [[batchTopK]], and recall
    * is the matched fraction of (query, neighbor) pairs. The only
    * driver-side data are the nQueries query vectors and one count. */
  def recallAtK(s: SparkSession, dir: String, nQueries: Int = 8, k: Int = 3,
      numCentroids: Int = 16, nprobe: Int = 4): Double = {
    val e = Tables.embeddings(s, dir)
    val centroids = fitCentroids(e, numCentroids)
    val qids = 0L until nQueries.toLong
    val queries = e.filter(col("vec_id").isInCollection(qids))
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).toSeq
    require(queries.length == nQueries,
      s"recallAtK: expected query vec_ids ${qids.mkString(",")} in the corpus")
    val approx = batchProbeCore(assignCentroids(e, centroids),
      probePairsFor(centroids, queries, nprobe), queries, k)
    val hits = approx.select("query_id", "vec_id")
      .join(batchTopK(s, dir, qids, k).select("query_id", "vec_id"),
        Seq("query_id", "vec_id"))
      .count()
    hits.toDouble / (nQueries.toLong * k)
  }

  /** Registered query (`sim_recall`): the driver-checkable gate on the
    * approximate ANN path (VERDICT r11 item 8). Emits ONE row of
    * oracle-checkable constants plus `pass = (recall@k ≥ bound)` — the
    * recall value itself is engine-internal, but a recall regression
    * flips `pass` and hash-mismatches the constant oracle row, so the
    * driver (not just a spec) gates the IVF path every round. */
  def qRecall(s: SparkSession, dir: String, nQueries: Int = 8, k: Int = 3,
      bound: Double = 0.6): DataFrame = {
    // nprobe=8 of 16 centroids: the synthetic embeddings are near-uniform
    // on the sphere (worst case for IVF — little cluster structure), so
    // half the buckets are probed to clear the bound with margin
    // (measured 0.75–0.96 across sf0.001/0.01/0.1 vs 0.54–0.67 at
    // nprobe=4). Still a 2× pruned read; real clustered corpora probe
    // far fewer buckets for the same recall.
    val recall = recallAtK(s, dir, nQueries, k, nprobe = 8)
    import s.implicits._
    Seq((k.toLong, nQueries.toLong, bound, recall >= bound))
      .toDF("k", "n_queries", "bound", "pass")
  }

  /** Registered write-once/probe-many query (`sim_ivf_probe`): builds the
    * materialized index for `dir` on first use (fit + assign + partitioned
    * write, amortized over every later probe — in the bench the build
    * lands in the untimed warm-up, so the timed iterations measure what a
    * 100 TB user pays per query: centroid sidecar read + one predicate-
    * pushdown lookup of the query vector + a read of the nprobe chosen
    * bucket directories with the `_schema.json` sidecar's schema). The
    * index lives under java.io.tmpdir keyed by the
    * corpus path + a data fingerprint; both the fit and the assignment are
    * deterministic, so a rebuild is bit-identical to a cache hit. */
  /** Bumped whenever fit/assignment SEMANTICS change (zero-norm handling,
    * scoring expression, banding) or the index LAYOUT changes (v4 added
    * the `_schema.json` sidecar the probe reads): the version rides in
    * the cache key so a pre-existing index built by older code can never
    * be served for the same data. */
  private val IndexVersion = 4

  def qIvfProbe(s: SparkSession, dir: String, queryId: Long = 0L, k: Int = 5,
      numCentroids: Int = 16, nprobe: Int = 4): DataFrame = {
    // Cache key = corpus path + ALGORITHM VERSION + a DATA FINGERPRINT
    // (total bytes + max mtime of embeddings.parquet, file or directory):
    // regenerated testdata or changed fit/assignment semantics get a
    // fresh index instead of silently reusing a stale one (this query has
    // no oracle, so a stale probe would go undetected), and the
    // fingerprint also disambiguates distinct dirs that sanitize to the
    // same string. Build/prune/race mechanics live in [[MaterializedCache]].
    val (bytes, mtime) =
      MaterializedCache.fingerprint(Paths.get(dir, "embeddings.parquet"))
    val stem = dir.replaceAll("[^A-Za-z0-9._-]", "_") + s"_c$numCentroids"
    val key = s"${stem}_v${IndexVersion}_${bytes}_$mtime"
    val idx = MaterializedCache.getOrBuild(
        "graft_ivf_index", stem, key, "_centroids.csv") { tmp =>
      val e = Tables.embeddings(s, dir)
      writeIvfIndex(e, fitCentroids(e, numCentroids), tmp.toString)
    }
    val centroids = readIvfCentroids(idx.toString)
    val qvec = queryVector(Tables.embeddings(s, dir), queryId)
    probeIvfIndex(s, idx.toString, centroids, qvec, queryId, k, nprobe)
  }
}
