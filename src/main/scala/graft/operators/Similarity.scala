package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Paths:
  *   - brute-force cosine top-k: exact baseline. Queries are broadcast;
  *     the corpus is scanned once, scored with codegen'd higher-order
  *     functions, and ranked per query. At 100 TB the corpus scan
  *     parallelizes perfectly (no shuffle until the tiny top-k agg).
  *   - LSH (sign-random-projection) bucketing: each vector hashes to a
  *     `bits`-bit signature; candidates share the query's bucket,
  *     reranked exactly. Sub-linear probe cost at scale.
  *
  * All math is double precision, left-to-right folds — bit-compatible
  * with the DuckDB oracle's `list_dot_product` on `DOUBLE[]`.
  */
object Similarity {

  /** The BROADCAST-QUERIES contract, enforced (the seedBound
    * discipline of `TextAnalysis.modelQualityScores`): every top-k
    * path in this object ships the QUERY side to the driver and/or
    * executors whole — collected ADC tables, broadcast probe sets —
    * so the query side must be mining-set-sized (anchors, probes),
    * never corpus-sized. A corpus-sized frame passed as `queries`
    * would OOM the driver silently at scale; this helper makes it a
    * loud, cheap error instead: it fetches at most `bound + 1` rows
    * (LIMIT pushes into the collect — the check never materializes
    * an unbounded frame) and rejects anything over the bound. Callers
    * with genuinely larger mining sets raise `queryBound` explicitly,
    * sized to driver memory (~1 KB/query for the PQ ADC tables). */
  private[operators] def collectBounded[T](ds: org.apache.spark.sql.Dataset[T],
      bound: Int, op: String): Array[T] = {
    val rows = ds.limit(bound + 1).collect()
    require(rows.length <= bound,
      s"$op: the queries side is collected/broadcast and must stay " +
        s"mining-set-sized — got > $bound rows (queryBound). Pass a " +
        "sampled anchor set, or raise queryBound with driver memory to match.")
    rows
  }

  /** Left-to-right dot product of two array<numeric> columns
    * (higher-order-function formulation; works on any session). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** The EXACT scalar twin of graft_dot's fold — acc += a(i)·b(i),
    * ascending index, double accumulation — for pair scoring that
    * happens inside typed per-group folds ([[knnGraph]]'s in-bucket
    * scoring). Bit-equal to the codegen'd expression and to DuckDB's
    * `list_dot_product` on DOUBLE[]. */
  private[operators] def dotD(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** Same fold via the codegen'd native expression (graft_dot) —
    * identical arithmetic/order, tight primitive loop instead of
    * per-element lambda frames. Requires VectorExpressions.register
    * on the session (the top-k entry points below do this). */
  def nativeDot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dot_product(a, b)

  /** Zero-norm safe: a zero vector has no direction — its cosine is
    * NULL (nulls sort LAST under the rank windows' `cos DESC`, so
    * zero vectors can never win a similarity rank). Spark 4 ANSI
    * throws DIVIDE_BY_ZERO even for double division, so the unguarded
    * form CRASHES the whole job on the first zero vector — found by
    * the tools/stress_docs.py adversarial corpus, not by any SF of
    * the clean testdata (100 TB corpora contain zero vectors). */
  def cosine(a: Column, b: Column): Column =
    nativeDot(a, b) / nullif(sqrt(nativeDot(a, a)) * sqrt(nativeDot(b, b)),
      lit(0.0))

  /** Exact top-k cosine neighbors for each query row (small query set,
    * broadcast) against the corpus. Output: q_id, neighbor_id, cos_sim,
    * rnk (1-based). Excludes self-matches.
    *
    * Broadcast-queries contract (see [[collectBounded]]): `queries`
    * must be mining-set-sized. This path ships it via `broadcast()`,
    * so an oversized frame fails at Spark's broadcast-size guard
    * (loud, pre-OOM) rather than silently; the per-executor cost is
    * |queries| x dim floats. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    graft.functions.VectorExpressions.register(corpus.sparkSession)
    val q = broadcast(queries.select(col("vec_id").as("q_id"), col("embedding").as("qe")))
    val scored = corpus.crossJoin(q)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("cos"))
    rerankTopK(scored, k)
  }

  /** Scalar-quantized (SQ8-style) brute-force top-k: every vector is
    * L2-normalized and quantized to `levels`-range integer codes ONCE
    * (`graft_quantize`, one codegen'd pass), then candidates rank by
    * the EXACT integer dot product of the codes (`graft_idot`) —
    * (iscore DESC, neighbor_id ASC), no float comparisons anywhere in
    * the ranking. Output: q_id, neighbor_id, iscore (Long), rnk.
    *
    * This is the scan-cost path for brute-force ANN at 100 TB: scoring
    * is memory-bandwidth-bound, and int8-range codes are 4x smaller
    * than float32 (the array<long> carrier here is a local-mode
    * stand-in; columnar int8 storage is the production layout). The
    * ranking it produces approximates cosine order with ~1e-2 relative
    * score error (quantization noise) — the standard recall/cost
    * trade; compose with an exact float rerank of the top candidates
    * when cosine-exact order is needed. Integer scores make the result
    * bit-portable: ties cannot depend on engine float rounding.
    * Reference has no ANN at all (beyond-reference surface, SURVEY
    * §2-adjacent). */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      levels: Int = 127): DataFrame = {
    graft.functions.VectorExpressions.register(corpus.sparkSession)
    import graft.functions.VectorExpressions.{int_dot, quantize_vec}
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      quantize_vec(col("embedding"), levels).as("qq")))
    val c = corpus.select(col("vec_id"),
      quantize_vec(col("embedding"), levels).as("qv"))
    val scored = c.crossJoin(q)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        int_dot(col("qq"), col("qv")).as("iscore"))
    rerankTopKLong(scored, k, "iscore", asc = false)
  }

  /** Shared exact-rerank tail: per-query top-k under (cos desc,
    * neighbor_id asc, nulls last), 6dp rounding (the oracle-parity
    * output shape used by every top-k path).
    *
    * NOT a rank window: `row_number().over(partitionBy(q_id))` shuffles
    * EVERY scored row into |queries| partitions — with a broadcast
    * query side the scored set is corpus-sized, so ten anchors mean ten
    * tasks each sorting corpus/10 rows (measured: the brute arm of
    * emb_ann_recall at 38s/2M vectors was this shuffle, not the dot
    * products). [[TopKCosAgg]] is a typed aggregate instead: partial
    * aggregation keeps k candidates per (map partition, query) BEFORE
    * the exchange, so the shuffle carries numPartitions * |queries| * k
    * rows and the scan stays the only corpus-sized pass. Output is
    * bit-identical to the window form — top-k under a TOTAL order is
    * order-insensitive, so map-side selection cannot change it. */
  private def rerankTopK(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.select(col("q_id").cast("long"), col("neighbor_id").cast("long"),
        col("cos").cast("double"))
      .as[(Long, Long, Option[Double])]
      .groupByKey(_._1)
      .agg(new TopKCosAgg(k).toColumn)
      .flatMap { case (q, arr) =>
        arr.iterator.zipWithIndex.map { case ((nid, c, isNull), i) =>
          (q, nid, if (isNull) None else Some(c), i + 1)
        }
      }
      .toDF("q_id", "neighbor_id", "cos", "rnk")
      .select(col("q_id"), col("neighbor_id"),
        round(col("cos"), 6).as("cos_sim"), col("rnk"))
  }

  /** [[rerankTopK]] for INTEGER-scored paths (PQ ADC distances,
    * quantized dot products): per-query top-k under (value asc|desc,
    * neighbor_id asc) via the same map-side-combined aggregate.
    * `valueCol` names the score column in AND out. */
  private def rerankTopKLong(scored: DataFrame, k: Int, valueCol: String,
      asc: Boolean): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored.select(col("q_id").cast("long"), col("neighbor_id").cast("long"),
        col(valueCol).cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .agg(new TopKLongAgg(k, asc).toColumn)
      .flatMap { case (q, arr) =>
        arr.iterator.zipWithIndex.map { case ((nid, v), i) => (q, nid, v, i + 1) }
      }
      .toDF("q_id", "neighbor_id", valueCol, "rnk")
  }

  /** FILTERED exact top-k: neighbors must match the query row on every
    * column in `matchCols` (the filtered-search shape: same-language
    * retrieval, per-tenant search, same-shard lookup). The match is an
    * equi-join key, so the plan is a broadcast HASH join on the match
    * columns — each corpus row is scored only against the queries in
    * its own filter class, not all queries (a post-filter would score
    * all |corpus|x|queries| pairs and throw most away). Output shape =
    * [[bruteForceTopK]]; self-matches excluded. */
  def bruteForceTopKFiltered(corpus: DataFrame, queries: DataFrame, k: Int,
      matchCols: Seq[String]): DataFrame = {
    require(matchCols.nonEmpty, "matchCols must be non-empty")
    graft.functions.VectorExpressions.register(corpus.sparkSession)
    val q = broadcast(queries.select(
      (col("vec_id").as("q_id") +: col("embedding").as("qe") +:
        matchCols.map(c => col(c).as(s"q_$c"))): _*))
    val cond = matchCols.map(c => col(c) <=> col(s"q_$c")).reduce(_ && _)
    val scored = corpus.join(q, cond)
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("cos"))
    rerankTopK(scored, k)
  }

  /** HARD-NEGATIVE mining for contrastive/retrieval training: for each
    * query vector, the top-k most-similar corpus vectors that (a)
    * carry a DIFFERENT label (same-label neighbors are potential
    * positives, not negatives) and (b) sit below the near-duplicate
    * band (`cos < dupCos` — a mislabeled copy of the anchor is a FALSE
    * negative that poisons the contrastive loss, the SemDeDup/CCNet
    * false-negative discipline). What remains is exactly the
    * "hardest" negatives: maximally confusable, certifiably wrong.
    *
    * Scale shape: queries broadcast (the mining set is small — anchors
    * are sampled); the label-inequality + dup-band predicates run
    * INSIDE the scored scan before the per-query top-k window, so only
    * admissible pairs reach the rank shuffle. Brute-force scoring here
    * is the exact baseline; with L distinct labels the candidate
    * generation composes with [[ivfTopK]]-style probing plus this
    * post-predicate (label inequality is not an equi-join key, so the
    * filtered-join trick of [[bruteForceTopKFiltered]] does not
    * apply). Output shape = [[bruteForceTopK]], including its
    * broadcast-queries contract — the anchor set (and therefore
    * [[tripletMine]]'s, which composes this) must be mining-set-sized,
    * never the corpus. */
  def hardNegativesTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dupCos: Double): DataFrame = {
    graft.functions.VectorExpressions.register(corpus.sparkSession)
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      col("embedding").as("qe"), col("label").as("q_label")))
    val scored = corpus.crossJoin(q)
      .filter(col("vec_id") =!= col("q_id") &&
        col("label") =!= col("q_label"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("cos"))
      .filter(col("cos") < lit(dupCos))
    rerankTopK(scored, k)
  }

  /** TRIPLET mining — the (anchor, positive, negatives) training-set
    * builder for contrastive embedding training: per anchor, the
    * rank-1 SAME-label neighbor as the positive
    * ([[bruteForceTopKFiltered]] at k=1) and the top-kNeg hard
    * negatives ([[hardNegativesTopK]]: different label, below the
    * near-dup band). One long-format frame (role = 'pos' | 'neg') —
    * the shape a dataloader consumes. Anchors whose label class has
    * no second member emit negatives only (matches real mining: such
    * anchors are dropped downstream). */
  def tripletMine(corpus: DataFrame, queries: DataFrame, kNeg: Int,
      dupCos: Double): DataFrame = {
    val pos = bruteForceTopKFiltered(corpus, queries, 1, Seq("label"))
      .withColumn("role", lit("pos"))
    val neg = hardNegativesTopK(corpus, queries, kNeg, dupCos)
      .withColumn("role", lit("neg"))
    pos.unionByName(neg)
      .select(col("q_id"), col("role"), col("neighbor_id"),
        col("cos_sim"), col("rnk"))
  }

  /** FILTERED IVF-ANN: [[ivfTopK]] with the match predicate pushed
    * into the candidate join — a corpus row is scored only when it
    * shares BOTH a probed list and the query's match-column values, so
    * the filter prunes candidates before any cosine is computed (the
    * "pre-filter" strategy; a post-filter ANN under-fills k when the
    * filter is selective because filtered-out rows consume probe
    * budget). Full probe (nProbe = nLists) provably equals
    * [[bruteForceTopKFiltered]] — the driver-oracled regime; partial
    * probes are the scale path (recall spec'd). */
  def ivfTopKFiltered(corpus: DataFrame, queries: DataFrame, k: Int,
      nLists: Int, nProbe: Int, matchCols: Seq[String],
      iters: Int = 3): DataFrame = {
    require(matchCols.nonEmpty, "matchCols must be non-empty")
    val spark = corpus.sparkSession
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    val centroids = trainIvfCentroids(corpus, nLists, iters)
    val bc = spark.sparkContext.broadcast(centroids)
    // match columns ride along through the list-assignment map (a Row
    // encoder with a dynamic schema) — no corpus self-join to re-attach
    // them, so the corpus is read and shuffled exactly as in ivfTopK
    val base = corpus.select(
      (col("vec_id").cast("long").as("neighbor_id") +: col("embedding") +:
        matchCols.map(col)): _*)
    val outSchema = org.apache.spark.sql.types.StructType(
      base.schema.fields :+ org.apache.spark.sql.types.StructField(
        "lst", org.apache.spark.sql.types.IntegerType, nullable = false))
    val assigned = base.map { r =>
      val e = r.getSeq[Float](1).toArray
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ nearestList(bc.value, e))
    }(org.apache.spark.sql.Encoders.row(outSchema))
    val probes = queries
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, e) =>
        nearestLists(bc.value, e, math.min(nProbe, nLists)).map(l => (id, l))
      }
      .toDF("q_id", "lst")
      .join(queries.select(
        (col("vec_id").as("q_id") +: matchCols.map(c => col(c).as(s"q_$c"))): _*),
        "q_id")
    val cond = col("lst") === col("p_lst") &&
      matchCols.map(c => col(c) <=> col(s"q_$c")).reduce(_ && _)
    val cand = assigned.join(
        broadcast(probes.withColumnRenamed("lst", "p_lst")), cond)
      .filter(col("neighbor_id") =!= col("q_id"))
      .join(broadcast(queries.select(col("vec_id").as("q_id"),
        col("embedding").as("qe"))), "q_id")
      .select(col("q_id"), col("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("cos"))
    rerankTopK(cand, k)
  }

  /** Deterministic ±1 sign-random-projection hyperplanes (seeded). */
  private def hyperplanes(bits: Int, dim: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(bits, dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
  }

  /** Per-table SRP bucket array for an embedding column — the shared
    * bucketing used by lshTopK and the LSH-fed near-dup path
    * (Dedup.embeddingNearDupPairsLsh). Element t is table t's bucket;
    * `posexplode` yields (tbl, bkt) pairs. Computed by the native
    * `graft_srp` expression: one codegen'd loop instead of
    * tables x bits expression trees per row (~2x on the LSH queries),
    * bit-identical values (same fold order / sign rule / seeding).
    * A NULL embedding yields a NULL bucket array, so posexplode DROPS
    * the row from every LSH path — intended: a row without an
    * embedding cannot be a similarity candidate (the old composed form
    * silently bucketed NULLs at 0; SimilaritySpec pins the drop). */
  def bucketArray(emb: Column, bits: Int, dim: Int, tables: Int,
      seed: Long = 42L): Column =
    graft.functions.VectorExpressions.srp_buckets(emb, bits, tables, dim, seed)

  /** `bits`-bit SRP-LSH bucket id for an embedding column (requires
    * VectorExpressions.register on the session — lshTopK does it). */
  def lshBucket(emb: Column, bits: Int, dim: Int, seed: Long = 42L): Column = {
    val planes = hyperplanes(bits, dim, seed)
    planes.zipWithIndex.map { case (p, j) =>
      val proj = nativeDot(emb, typedlit(p.toSeq))
      when(proj >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
  }

  /** IVF coarse-quantizer training: `nLists` centroids from
    * deterministically hash-picked seed vectors (order-free sample, the
    * Sampling.hashSample spirit), refined by `iters` Lloyd rounds under
    * the search metric (max cosine; assignment ties break to the lowest
    * list index). Each round is one map + reduceByKey over the corpus;
    * the centroid table collects to the driver — it is index METADATA
    * (nLists x dim doubles, e.g. 65536 x 64 = 32 MB at warehouse
    * scale), not data. Mean-update float sums are data-parallel and
    * therefore order-sensitive at the 1e-16 level — the INDEX is
    * approximate by construction; search results stay exact because
    * candidates are always reranked with exact cosine. */
  def trainIvfCentroids(corpus: DataFrame, nLists: Int,
      iters: Int): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val init = corpus
      .orderBy(xxhash64(concat(lit("ivf-seed"), col("vec_id"))).asc,
        col("vec_id").asc)
      .limit(nLists)
      .select(col("embedding")).as[Array[Float]]
      .collect().map(_.map(_.toDouble))
    refineLloyd(corpus, init, iters)
  }

  /** `iters` Lloyd rounds from the `init` centroid table under the
    * max-cosine assignment metric (the refinement half of
    * [[trainIvfCentroids]], shared with Dedup.semanticDedupPairs which
    * seeds differently). Each round is one map + reduceByKey over the
    * corpus; see the centroid-determinism note on trainIvfCentroids —
    * mean-update float sums are reduce-order-sensitive, so refined
    * centroids are an approximate INDEX, not an oracle-comparable
    * value (callers that need cross-engine exactness pass iters=0). */
  def refineLloyd(corpus: DataFrame, init: Array[Array[Double]],
      iters: Int): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    var centroids = init
    for (_ <- 0 until iters) {
      val bc = spark.sparkContext.broadcast(centroids)
      val sums = vecs.rdd
        .map { case (_, e) =>
          (nearestList(bc.value, e), (e.map(_.toDouble), 1L))
        }
        .reduceByKey { (x: (Array[Double], Long), y: (Array[Double], Long)) =>
          val (a, ca) = x
          val (b, cb) = y
          var i = 0
          while (i < a.length) { a(i) += b(i); i += 1 }
          (a, ca + cb)
        }
        .collect()
      val next = centroids.clone() // empty lists keep their centroid
      sums.foreach { case (lst, (s, c)) => next(lst) = s.map(_ / c) }
      centroids = next
      bc.destroy()
    }
    centroids
  }

  /** Index of the max-cosine centroid for a vector; ties to the lowest
    * list index (deterministic given the centroid table). */
  private[graft] def nearestList(cs: Array[Array[Double]],
      e: Array[Float]): Int = {
    var best = 0
    var bestScore = Double.NegativeInfinity
    var l = 0
    while (l < cs.length) {
      val c = cs(l)
      var dot = 0.0
      var nc = 0.0
      var i = 0
      while (i < c.length) {
        dot += c(i) * e(i); nc += c(i) * c(i); i += 1
      }
      val score = if (nc == 0.0) Double.NegativeInfinity else dot / math.sqrt(nc)
      if (score > bestScore) { bestScore = score; best = l }
      l += 1
    }
    best
  }

  /** [[nearestList]] for a DOUBLE vector (centroid-to-centroid
    * assignment in the two-level quantizer) — the same loop, the same
    * left-to-right folds, the same lowest-index tie rule. */
  private[graft] def nearestListD(cs: Array[Array[Double]],
      e: Array[Double]): Int = {
    var best = 0
    var bestScore = Double.NegativeInfinity
    var l = 0
    while (l < cs.length) {
      val c = cs(l)
      var dot = 0.0
      var nc = 0.0
      var i = 0
      while (i < c.length) {
        dot += c(i) * e(i); nc += c(i) * c(i); i += 1
      }
      val score = if (nc == 0.0) Double.NegativeInfinity else dot / math.sqrt(nc)
      if (score > bestScore) { bestScore = score; best = l }
      l += 1
    }
    best
  }

  private[graft] def nearestLists(cs: Array[Array[Double]], e: Array[Float],
      n: Int): Array[Int] =
    cs.indices
      .map { l =>
        val c = cs(l)
        var dot = 0.0
        var nc = 0.0
        var i = 0
        while (i < c.length) { dot += c(i) * e(i); nc += c(i) * c(i); i += 1 }
        (if (nc == 0.0) Double.NegativeInfinity else dot / math.sqrt(nc), l)
      }
      .sortBy { case (s, l) => (-s, l) }
      .take(n).map(_._2).toArray

  /** ANN top-k via an IVF (inverted-file) index — the other classic
    * scale path next to LSH (SURVEY: "IVF or LSH-bucketed variant"):
    * every corpus vector lives in exactly ONE centroid list, a query
    * probes its `nProbe` nearest lists, and the probed candidates are
    * reranked by exact cosine. Probe cost ~ corpus * nProbe/nLists on
    * balanced lists — tunable sub-linear scan, and because each row is
    * in one list a (query, row) candidate pair is generated at most
    * once: NO dedup shuffle at all (LSH needs one). With
    * nProbe = nLists the probe is the whole corpus and the result
    * PROVABLY equals brute force — the driver-oracled plumbing regime
    * (emb_ivf_topk), same pattern as the LSH dedup oracles; realistic
    * recall is spec'd on seeded near-dups (identical vectors share a
    * list structurally). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nLists: Int,
      nProbe: Int, iters: Int = 3): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    val centroids = trainIvfCentroids(corpus, nLists, iters)
    val bc = spark.sparkContext.broadcast(centroids)
    val assigned = corpus
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, e) => (id, e, nearestList(bc.value, e)) }
      .toDF("neighbor_id", "embedding", "lst")
    val probes = queries
      .select(col("vec_id").cast("long").as("q_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .flatMap { case (id, e) =>
        nearestLists(bc.value, e, math.min(nProbe, nLists)).map(l => (id, l))
      }
      .toDF("q_id", "lst")
    val cand = assigned.join(broadcast(probes), "lst")
      .filter(col("neighbor_id") =!= col("q_id"))
      .join(broadcast(queries.select(col("vec_id").as("q_id"),
        col("embedding").as("qe"))), "q_id")
      .select(col("q_id"), col("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("cos"))
    rerankTopK(cand, k)
  }

  /** ANN top-k via multi-table SRP-LSH: `tables` independent `bits`-bit
    * signatures; a corpus row is a candidate if it shares any table's
    * bucket with the query, then candidates are reranked by exact
    * cosine. Recall/probe-cost is tuned by (bits, tables): clustered
    * real-world embeddings probe sub-linearly; on near-orthogonal data
    * (like the synthetic testdata, top-cos ~0.35) the same structure
    * degrades gracefully toward a larger candidate set. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int,
      dim: Int, tables: Int = 24, seed: Long = 42L,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    graft.functions.VectorExpressions.register(corpus.sparkSession)
    def bucketCols(emb: Column): Column = bucketArray(emb, bits, dim, tables, seed)
    // candidates are deduped as bare id pairs (narrow shuffle) and the
    // embedding payloads re-attached only for the final rerank — the
    // bucket join must not drag two 64-float arrays through the
    // dropDuplicates exchange
    val bucketed = Dedup.capBuckets(
      corpus.select(col("vec_id"),
        posexplode(bucketCols(col("embedding"))).as(Seq("tbl", "bkt"))),
      Seq("tbl", "bkt"), maxBucket, col("vec_id"))
    val qb = queries
      .select(col("vec_id").as("q_id"),
        posexplode(bucketCols(col("embedding"))).as(Seq("qtbl", "qbkt")))
    val candIds = bucketed.join(broadcast(qb),
        col("tbl") === col("qtbl") && col("bkt") === col("qbkt"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
      .dropDuplicates("q_id", "neighbor_id")
    val cand = candIds
      .join(corpus.select(col("vec_id").as("neighbor_id"), col("embedding")),
        "neighbor_id")
      .join(broadcast(queries.select(col("vec_id").as("q_id"),
        col("embedding").as("qe"))), "q_id")
      .select(col("q_id"), col("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("cos"))
    rerankTopK(cand, k)
  }

  /** CORPUS-TO-CORPUS kNN graph: every vector's top-k neighbors among
    * its SRP-LSH bucket candidates — the all-pairs shape [[lshTopK]]
    * cannot take (its query side is broadcast; here BOTH sides are the
    * corpus, so nothing may broadcast). This is the input structure of
    * graph-based curation: SemDeDup-style clustering, kNN
    * classification, label propagation, connectivity analysis.
    *
    * Plan shape at 100 TB: one bucket self-join keyed on (tbl, bkt) —
    * the only corpus-sized shuffles are the bucket exchange and the
    * two payload re-attach joins, all on narrow keys; candidates
    * dedup as bare id pairs BEFORE embeddings re-attach (the lshTopK
    * rule); `maxBucket` caps hot buckets; bucket space (bits, tables)
    * must scale with the corpus (SCALE.md rule) — pass `bits <= 0` to
    * auto-size it from a corpus count (~32 rows/bucket/table).
    * Candidate volume is
    * sum-of-bucket-squares — sub-quadratic whenever buckets stay
    * sparse, degrading gracefully (more candidates, same answer) on
    * clustered data. Directed output: (src_id, neighbor_id) and
    * (neighbor_id, src_id) both appear iff they share a bucket —
    * exactly the distinct != self-join the SQL oracle replays. */
  /** Leave-one-out kNN label check over the [[knnGraph]]: each
    * vector's label is re-predicted by majority vote of its k nearest
    * LSH neighbors (ties -> fewest votes wins lowest label — a total
    * deterministic order), and compared to its stored label. The
    * classic label-noise / mislabeled-sample detector of a curation
    * pipeline: `agree = false` rows are review candidates.
    *
    * Scale shape: everything rides the knnGraph plan (bucket
    * self-join, narrow keys) plus one label re-attach join and one
    * per-vector vote aggregation — the vote frame is k rows per
    * vector, output-linear. Vote = row_number over
    * (votes DESC, label ASC): ties break to the LOWEST label, the
    * same total order the SQL oracle replays. */
  def knnLabelCheck(corpus: DataFrame, k: Int, bits: Int, dim: Int,
      tables: Int = 24, seed: Long = 42L,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val g = knnGraph(corpus.select(col("vec_id"), col("embedding")),
      k, bits, dim, tables, seed, maxBucket)
    val labels = corpus.select(col("vec_id").cast("long").as("vec_id"),
      col("label").cast("long").as("label"))
    val votes = g
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), "neighbor_id")
      .groupBy(col("src_id").as("vec_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
    val vw = Window.partitionBy(col("vec_id"))
      .orderBy(col("votes").desc, col("n_label").asc)
    val pred = votes.withColumn("vr", row_number().over(vw))
      .filter(col("vr") === 1)
      .select(col("vec_id"), col("n_label").as("pred_label"))
    labels.join(pred, "vec_id")
      .select(col("vec_id"), col("label"), col("pred_label"),
        (col("label") === col("pred_label")).as("agree"))
  }

  /** Corpus-scaled SRP bit width: the smallest b in [1, maxBits] with
    * targetPerBucket * 2^b >= n — i.e. expected bucket occupancy at
    * most `targetPerBucket` rows per table, so LSH candidate volume
    * stays ~targetPerBucket x linear instead of n^2/2^bits (the
    * auto-sized-knob rule; the pinned-bits regime measured 83x for a
    * 10x decade, SCALE.md). PURE INTEGER arithmetic so a SQL oracle
    * can re-derive the identical value from count(*) — no
    * ceil(log2(...)) float on either side. The plane family is
    * prefix-nested per table (each table's Random stream is consumed
    * in j-major order), so planes for autoBits(n) are the first b
    * planes of any wider inlined literal set. */
  def autoBits(n: Long, maxBits: Int = 30, targetPerBucket: Long = 32L): Int = {
    var b = 1
    while (b < maxBits && (targetPerBucket << b) < n) b += 1
    b
  }

  /** Default hot-bucket guard for the corpus kNN-graph family: LSH
    * buckets holding more than this many rows are SUBSAMPLED to ~cap
    * expected members by md5 threshold (Dedup.capBuckets). autoBits sizes
    * buckets to ~32 expected rows, so 16x that only ever fires on
    * degenerate mass — near-identical vectors that collide in EVERY
    * table, where the self-join would otherwise go quadratic in the
    * replica count (the sf10eq dup-heavy probe: 211s on emb_pagerank,
    * candidate generation hostage to hot buckets). A CONSTANT is the
    * right derivation here: expected occupancy is count-independent by
    * autoBits construction, so any bucket past 16x expectation is
    * duplicate mass at every corpus size — and a cap-sized
    * content-hash sample of that mass keeps ~cap candidates per
    * surviving anchor (drop-bucket cost recall@5 0.45 at 20M vectors /
    * 27% capped rows, SCALE.md). Replayed verbatim in the SQL oracles
    * (row_number() OVER (PARTITION BY t, bkt ORDER BY md5(vec_id),
    * vec_id) <= cap). */
  val KnnHotBucketCap: Int = 512

  /** Corpus kNN graph over capped LSH buckets, scored IN-BUCKET.
    *
    * The obvious formulation — materialize distinct candidate id
    * pairs, re-join both embeddings, rank per src — is the one that
    * died at the third decade: candidate volume is tables x corpus x
    * occupancy/2 (~700M pairs at 2M vectors), and the pair
    * `distinct()`, the two corpus-sized sort-merge joins, and the
    * rank-window exchange each sort that whole set (the probe filled
    * the spill disk before finishing). This shape instead:
    *
    *   1. explode (tbl, bkt) WITH the embedding riding along — ONE
    *      shuffle of tables x corpus rows, hash-grouped per bucket
    *      (collect_list, no sort); the cap bounds every group;
    *   2. score all pairs INSIDE the bucket group (a true per-group
    *      fold — the documented typed-flatMap exemption), each pair's
    *      cosine computed once, credited to both members' bounded
    *      PER-BUCKET top-k lists — so the fold emits members x k
    *      rows, never the O(members^2) pair stream (lossless: a
    *      neighbor outside a member's in-bucket top-k cannot enter
    *      its cross-bucket top-k under the same total order);
    *   3. merge the per-bucket winners with the per-src top-k
    *      aggregate ([[rerankTopK]]); the same pair surfacing from
    *      several tables dedups INSIDE the aggregator (its order is
    *      total, so duplicates are identical tuples).
    *
    * Nothing pair-sized is ever sorted, shuffled, or persisted — and
    * step 2's local cut matters beyond the shuffle: typed aggregates
    * (ObjectHashAggregate) FALL BACK TO SORT-BASED aggregation past a
    * small per-partition key threshold, so without it the "map-side"
    * top-k sorts the whole pair stream on disk (~70 GB of spill at
    * the fourth-decade probe before this cut). Same output as the
    * join form: same candidate set (bucket-sharing pairs under the
    * same cap), same cosine fold ([[dotD]] is graft_dot's scalar
    * twin), same (cos desc, id asc, nulls last) total order. */
  def knnGraph(corpus: DataFrame, k: Int, bits: Int, dim: Int,
      tables: Int = 24, seed: Long = 42L,
      maxBucket: Int = Int.MaxValue): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    graft.functions.VectorExpressions.register(spark)
    // bits <= 0: auto-size the bucket space to the corpus (the
    // auto-sized range-exchange rule — every parallelism/bucket knob
    // must scale with the data). The count is one metadata-cheap
    // action, the same bounded boundary as IVF's centroid collect.
    val b = if (bits > 0) bits else autoBits(corpus.count())
    val exploded = corpus.select(col("vec_id").cast("long").as("id"),
      col("embedding"),
      posexplode(bucketArray(col("embedding"), b, dim, tables, seed))
        .as(Seq("tbl", "bkt")))
    val capped = Dedup.capBuckets(exploded, Seq("tbl", "bkt"), maxBucket,
      col("id"))
    val scored = capped.groupBy(col("tbl"), col("bkt"))
      .agg(collect_list(struct(col("id").as("_1"),
        col("embedding").as("_2"))).as("members"))
      .select(col("members")).as[Array[(Long, Array[Float])]]
      .flatMap { m =>
        // PER-BUCKET LOCAL TOP-K — the decisive volume cut. Emitting
        // every in-bucket pair hands O(members^2) rows per bucket to
        // the downstream aggregate, and ObjectHashAggregate FALLS BACK
        // TO SORT-BASED past its per-partition key threshold — i.e.
        // the "partial" top-k SORTS the whole pair stream on disk
        // (~10^9+ pairs filled 70 GB of spill at the fourth-decade
        // probe; the map-side-combine assumption broke exactly where
        // it mattered). Keeping each member's k best WITHIN the bucket
        // first is lossless for the global top-k (a neighbor outside a
        // member's in-bucket top-k cannot enter its cross-bucket
        // top-k: ranking is the same total order) and caps the fold's
        // output at members x k rows — bucket memory O(members x k).
        val n = m.length
        val norms = new Array[Double](n)
        var p = 0
        while (p < n) { norms(p) = math.sqrt(dotD(m(p)._2, m(p)._2)); p += 1 }
        // per-member bounded best lists, filled from each unordered
        // pair once (cos is direction-symmetric)
        val ord = new Ordering[(Long, Double, Boolean)] {
          def compare(a: (Long, Double, Boolean), b: (Long, Double, Boolean)): Int = {
            if (a._3 != b._3) { if (a._3) 1 else -1 }
            else {
              val c = if (a._3) 0 else java.lang.Double.compare(b._2, a._2)
              if (c != 0) c else java.lang.Long.compare(a._1, b._1)
            }
          }
        }
        val best = Array.fill(n)(
          new scala.collection.mutable.ArrayBuffer[(Long, Double, Boolean)](k + 1))
        def add(slot: Int, nid: Long, cos: Double, isNull: Boolean): Unit = {
          val b = best(slot)
          b += ((nid, cos, isNull))
          if (b.length > 4 * k) {
            val kept = b.sorted(ord).take(k)
            b.clear(); b ++= kept
          }
        }
        var i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            if (m(i)._1 != m(j)._1) {
              val den = norms(i) * norms(j)
              // zero-norm safe: no direction -> null, sorts last
              val isNull = den == 0.0
              val cos = if (isNull) 0.0 else dotD(m(i)._2, m(j)._2) / den
              add(i, m(j)._1, cos, isNull)
              add(j, m(i)._1, cos, isNull)
            }
            j += 1
          }
          i += 1
        }
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Long, Option[Double])]
        i = 0
        while (i < n) {
          best(i).sorted(ord).take(k).foreach { case (nid, c, isNull) =>
            out += ((m(i)._1, nid, if (isNull) None else Some(c)))
          }
          i += 1
        }
        out
      }
      .toDF("q_id", "neighbor_id", "cos")
    rerankTopK(scored, k)
      .select(col("q_id").as("src_id"), col("neighbor_id"),
        col("cos_sim"), col("rnk"))
  }

  /** INTEGER PageRank over a directed edge frame — centrality-based
    * data selection (score documents by how often their neighbors
    * point at them; the web-graph importance idea applied to the kNN
    * graph: high-centrality docs are cluster cores, low-centrality
    * ones are outliers/noise). Fixed `rounds` power iterations in
    * PURE INTEGER micros: pr_{r+1}(v) = base + damp·Σ_u (pr_r(u) div
    * deg(u)) div 100 with base = 1e6·(100−damp)/100 — floor division
    * at every step, order-independent sums, so the scores are
    * bit-identical across engines/partitionings and the whole loop
    * unrolls into the SQL oracle (the BPE/unigram discipline).
    * Dangling mass (nodes with no out-edges) is dropped, not
    * redistributed — the deterministic simplification, documented.
    *
    * Scale shape: each round is one edge-keyed join + one
    * neighbor-keyed sum — the CC/large-star execution family; rounds
    * are a build-time constant. The appended `rnk` is a DISTRIBUTED
    * global rank: a range-partitioned total sort on (pr_micro desc,
    * vec_id asc) + zipWithIndex, NOT `row_number()` over an
    * unpartitioned window (which would serialize the corpus-sized
    * node set through one sort task — the global-window shape the
    * repo's scale rules forbid). Rank values are identical either way
    * because the order key is total (vec_id breaks every tie), and
    * they cannot depend on the range boundaries — a node's rank is
    * its position in the one global order whatever partition it lands
    * in. Node count must fit an Int (the row_number contract the
    * oracle's CAST AS INT pins); ranking 2B+ nodes means dropping the
    * rank column and keying on pr_micro directly. */
  def pageRankMicros(edges: DataFrame, rounds: Int = 3,
      dampPct: Int = 85): DataFrame = {
    require(rounds >= 1 && dampPct > 0 && dampPct < 100, "bad pagerank knobs")
    val e0 = edges.select(col("src_id").cast("long").as("src_id"),
        col("neighbor_id").cast("long").as("neighbor_id"))
      .distinct()
    // DEGREE RIDES THE EDGE (r16, guide §2.4): deg is a function of the
    // edge set alone, so attach it ONCE (a window over the src-keyed
    // exchange the distinct already paid) and persist edges WITH their
    // deg — each power-iteration round then plans one join + one
    // aggregate instead of two joins + a per-round deg recompute.
    // Same integer arithmetic, same contributions, same scores.
    val e = e0.withColumn("deg",
        org.apache.spark.sql.functions.count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("src_id")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("src_id").as("vec_id"))
      .union(e.select(col("neighbor_id").as("vec_id"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val base = 1000000L * (100 - dampPct) / 100
    var pr = nodes.withColumn("pr", lit(1000000L))
    var r = 0
    while (r < rounds) {
      val contrib = e.join(pr, e("src_id") === pr("vec_id"))
        .select(col("neighbor_id").as("vec_id"), expr("pr div deg").as("t"))
        .groupBy("vec_id").agg(sum(col("t")).as("in_t"))
      pr = nodes.join(contrib, Seq("vec_id"), "left")
        .select(col("vec_id"),
          (lit(base) + expr(s"$dampPct * coalesce(in_t, 0L) div 100"))
            .as("pr"))
      r += 1
    }
    val spark = edges.sparkSession
    import spark.implicits._
    val ranked = pr.select(col("vec_id").cast("long"), col("pr").cast("long"))
      .as[(Long, Long)]
      .orderBy(col("pr").desc, col("vec_id").asc)
      .rdd.zipWithIndex()
      .map { case ((v, p), i) => (v, p, (i + 1).toInt) }
      .toDF("vec_id", "pr_micro", "rnk")
      // materialize before releasing the iteration caches (zipWithIndex
      // already paid one full pass for partition sizes; this pins the
      // result so callers never re-run the round lineage uncached)
      .localCheckpoint(true)
    e.unpersist(false)
    nodes.unpersist(false)
    ranked
  }

  /** PRODUCT-QUANTIZATION top-k (Jégou et al. 2011, public knowledge) —
    * the memory-compression ANN path beyond SQ8: the vector splits
    * into `m` subspaces, each encoded as the index of its nearest
    * codebook centroid, so a 64-dim float32 vector becomes `m` = 8
    * code bytes (32x smaller). Queries score candidates by ASYMMETRIC
    * DISTANCE (ADC): per query, a (m x numCentroids) table of exact
    * query-subvector-to-centroid distances is precomputed
    * (metadata-sized) and broadcast; scoring a candidate is then `m`
    * table lookups + adds — no per-pair float math at all.
    *
    * Codebooks here are md5-seeded sample vectors (the semanticDedup
    * seed rule — deterministic, replayable in SQL); a production build
    * refines them with [[refineLloyd]]-style rounds and composes an
    * exact float rerank of the top candidates, exactly like
    * [[quantizedTopK]]'s contract.
    *
    * Vectors are L2-NORMALIZED before quantization (the
    * [[quantizedTopK]] discipline), so ADC's L2 order is cosine order
    * up to quantization error: ||a-b||^2 = 2 - 2cos on unit vectors.
    *
    * Determinism: ALL arithmetic is integer micros — normalized
    * elements round to `round(1e6 * e/||v||)` Longs via exact decimal
    * HALF_UP (BigDecimal == DuckDB/std::round away-from-zero halves;
    * the norm is the same left-to-right double fold as
    * `list_dot_product`), distances are integer sums of squared diffs
    * (<= 4e12 per dim), argmin ties take the lowest centroid index,
    * ranking ties the lowest neighbor id. No float enters any
    * comparison.
    *
    * At 100 TB: the encoded corpus is the scan (m bytes/vector — the
    * fit-in-RAM index a 1000-executor cluster serves interactively);
    * encode is one broadcast-codebook typed map, scoring one typed
    * flatMap over codes, and only (q_id, id, dist) candidates reach
    * the per-query top-k window. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, numCentroids: Int = 16,
      queryBound: Int = 10000): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val um = corpus.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding")).as[(Long, Seq[Float])]
      .map { case (id, e) => (id, normalizedMicros(e)) }
      .toDF("vec_id", "v")
    val seeds: Array[Array[Long]] = um
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(numCentroids)
      .select("v").collect().map(_.getSeq[Long](0).toArray)
    require(seeds.nonEmpty, "empty corpus")
    val dim = seeds(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val nSub = m
    val bcSeeds = spark.sparkContext.broadcast(seeds)
    val codes = um.as[(Long, Seq[Long])].map { case (id, vs) =>
      (id, pqEncodeRow(vs.toArray, bcSeeds.value, nSub, subDim))
    }
    // per-query ADC tables: (m x numCentroids) integer distances
    val qRows = collectBounded(
        queries.select(col("vec_id").cast("long").as("vec_id"),
          col("embedding")).as[(Long, Seq[Float])], queryBound, "pqTopK")
      .map { case (id, e) => (id, normalizedMicros(e).toSeq) }
    val tabs: Array[(Long, Array[Array[Long]])] = qRows.map { case (qid, qs) =>
      (qid, pqTable(qs.toArray, seeds, nSub, subDim))
    }
    val bcTabs = spark.sparkContext.broadcast(tabs)
    val scored = codes.flatMap { case (id, cs) =>
      bcTabs.value.iterator.filter(_._1 != id).map { case (qid, tab) =>
        var s = 0L
        var j = 0
        while (j < nSub) { s += tab(j)(cs(j)); j += 1 }
        (qid, id, s)
      }
    }.toDF("q_id", "neighbor_id", "dist_um2")
    rerankTopKLong(scored, k, "dist_um2", asc = true)
  }

  /** Per-subspace argmin encode (ties -> lowest centroid index):
    * integer squared-L2 against the codebook's micro vectors. */
  private def pqEncodeRow(v: Array[Long], cb: Array[Array[Long]],
      m: Int, subDim: Int): Array[Int] = {
    val cs = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Long.MaxValue
      var i = 0
      while (i < cb.length) {
        var d = 0L
        var p = j * subDim
        val end = p + subDim
        while (p < end) {
          val diff = v(p) - cb(i)(p); d += diff * diff; p += 1
        }
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      cs(j) = best; j += 1
    }
    cs
  }

  /** A query's (m x numCentroids) ADC distance table — exact integer
    * subspace distances to every codebook centroid. */
  private def pqTable(q: Array[Long], seeds: Array[Array[Long]],
      m: Int, subDim: Int): Array[Array[Long]] = {
    val t = Array.ofDim[Long](m, seeds.length)
    var j = 0
    while (j < m) {
      var i = 0
      while (i < seeds.length) {
        var d = 0L
        var p = j * subDim
        val end = p + subDim
        while (p < end) {
          val diff = q(p) - seeds(i)(p); d += diff * diff; p += 1
        }
        t(j)(i) = d; i += 1
      }
      j += 1
    }
    t
  }

  /** IVF-PQ top-k — the production-scale ANN composition (the FAISS
    * IVFPQ shape, Jégou et al. 2011): a COARSE inverted file prunes
    * the corpus to `nProbe` of `nLists` cells, and PQ-ADC scores only
    * the probed candidates — scan cost ~ corpus * nProbe/nLists, per
    * candidate m table adds, index size m bytes/vector + one list id.
    * Cells are the md5-seeded fine seeds (nLists derived from the
    * corpus count — the SemDeDup k ∝ n contract) routed TWO-LEVEL
    * (`Dedup.routeTwoLevel`): a flat row-to-cell argmax would cost
    * n*nLists = n²/64 dots — the exact super-linearity the probe
    * caught on emb_centroid_drift — while the two-level route costs
    * ~2*sqrt(nLists) dots/row (measured 18.7x at n=200k, ClusterProbe).
    * Queries probe the top `nProbe` children of their coarse cell: an
    * identical copy of a query takes the identical route, so its cell
    * is always probed (the structural-safety contract, spec-pinned).
    * Codebooks are the [[pqTopK]] md5-seeded subvector codebooks. One
    * typed map computes BOTH the cell and the PQ codes per row (one
    * corpus pass); queries broadcast probed-cell sets with ADC tables.
    *
    * Same determinism as [[pqTopK]] (all-integer ADC, lowest-index /
    * lowest-id ties); the routing argmaxes are the replayable
    * fixed-order double folds the SemDeDup oracles already pin. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nProbe: Int = 2, m: Int = 8, numCentroids: Int = 16,
      targetPerList: Long = 64L, queryBound: Int = 10000): DataFrame =
    ivfPqTopKFrom(corpus, corpus, queries, k, nProbe, m, numCentroids,
      targetPerList, queryBound)

  /** INCREMENTAL IVF-PQ insert + search — index MAINTENANCE, the
    * production path between full rebuilds: the coarse/fine routing
    * cells and the PQ codebooks are FROZEN from `indexCorpus` (the
    * vectors the index was built on — rebuilding codebooks would
    * invalidate every stored code, so a real deployment never does it
    * per insert), and `newCorpus` rows are encoded and routed with
    * those frozen structures, exactly as an insert API would. Search
    * covers the union. The trade is the standard one: inserted mass
    * shifts the data distribution away from the frozen quantizers and
    * recall decays — `centroidDrift` is the monitor, a batch rebuild
    * the remedy. Knobs (nLists, seed ranks) derive from the INDEX
    * side only, so the whole operation — build, insert, search — is
    * replayable in SQL from the index/new split rule. */
  def ivfPqInsertTopK(indexCorpus: DataFrame, newCorpus: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int = 2, m: Int = 8,
      numCentroids: Int = 16, targetPerList: Long = 64L,
      queryBound: Int = 10000): DataFrame =
    ivfPqTopKFrom(indexCorpus, indexCorpus.unionByName(newCorpus), queries,
      k, nProbe, m, numCentroids, targetPerList, queryBound)

  private def ivfPqTopKFrom(structSrc: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int, m: Int, numCentroids: Int,
      targetPerList: Long, queryBound: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val nLists = Dedup.autoClusters(structSrc.count(), targetPerList)
    val fine = Dedup.semanticSeeds(structSrc, col("vec_id"),
      col("embedding"), nLists)
    val cells = Dedup.twoLevelCells(fine)
    val um = corpus.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding")).as[(Long, Seq[Float])]
    val seeds: Array[Array[Long]] = structSrc
      .select(col("vec_id").cast("long").as("vec_id"),
        col("embedding").as("e"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(numCentroids)
      .as[(Long, Seq[Float])].collect()
      .map { case (_, e) => normalizedMicros(e) }
    require(seeds.nonEmpty, "empty corpus")
    val dim = seeds(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val subDim = dim / m
    val nSub = m
    val bcFine = spark.sparkContext.broadcast(fine)
    val bcCells = spark.sparkContext.broadcast(cells)
    val bcSeeds = spark.sparkContext.broadcast(seeds)
    // ONE pass: two-level cell + PQ codes per row
    val indexed = um.map { case (id, e) =>
      val ea = e.toArray
      (id, Dedup.routeTwoLevel(bcFine.value, bcCells.value, ea, 1)(0),
        pqEncodeRow(normalizedMicros(ea), bcSeeds.value, nSub, subDim))
    }
    val qRows = collectBounded(
      queries.select(col("vec_id").cast("long").as("vec_id"),
        col("embedding")).as[(Long, Seq[Float])], queryBound, "ivfPqTopK")
    val probes: Array[(Long, Array[Int], Array[Array[Long]])] =
      qRows.map { case (qid, e) =>
        val ea = e.toArray
        (qid, Dedup.routeTwoLevel(fine, cells, ea, nProbe),
          pqTable(normalizedMicros(ea), seeds, nSub, subDim))
      }
    // cell-keyed probe routing: group the broadcast probes by the cells
    // they probe, so each corpus row looks up ITS cell's probes in O(1)
    // instead of scanning the whole probe array per row (the r8 shape
    // was O(|queries|)/row — bounded by queryBound but needlessly
    // linear). Per-row work is now the actual probe fan-in of the
    // row's cell; routeTwoLevel emits distinct cells, so no (q, row)
    // pair can surface twice.
    val probesByCell: Map[Int, Array[(Long, Array[Array[Long]])]] = probes
      .iterator
      .flatMap { case (qid, ls, tab) => ls.iterator.map(c => c -> (qid, tab)) }
      .toArray.groupBy(_._1).map { case (c, a) => c -> a.map(_._2) }
    val bcProbes = spark.sparkContext.broadcast(probesByCell)
    val noProbes = Array.empty[(Long, Array[Array[Long]])]
    val scored = indexed.flatMap { case (id, lst, cs) =>
      bcProbes.value.getOrElse(lst, noProbes).iterator
        .filter { case (qid, _) => qid != id }
        .map { case (qid, tab) =>
          var s = 0L
          var j = 0
          while (j < nSub) { s += tab(j)(cs(j)); j += 1 }
          (qid, id, s)
        }
    }.toDF("q_id", "neighbor_id", "dist_um2")
    rerankTopKLong(scored, k, "dist_um2", asc = true)
  }

  /** Unit-normalize then micro-round: `round(1e6 * e_p / ||e||)` with
    * the norm as the same left-to-right double fold as DuckDB's
    * `list_dot_product(e::DOUBLE[], e::DOUBLE[])` and EXACT decimal
    * HALF_UP rounding (BigDecimal of the binary double == DuckDB/libm
    * round's away-from-zero halves — `floor(x + 0.5)` would misround
    * doubles adjacent to .5). Zero vectors map to all-zero codes. */
  private def normalizedMicros(e: Seq[Float]): Array[Long] = {
    val n = e.length
    val v = new Array[Double](n)
    var i = 0
    var ss = 0.0
    while (i < n) {
      val x = e(i).toDouble
      v(i) = x
      ss += x * x
      i += 1
    }
    val nrm = math.sqrt(ss)
    val out = new Array[Long](n)
    if (nrm == 0.0) return out
    i = 0
    while (i < n) {
      out(i) = new java.math.BigDecimal(1000000.0 * v(i) / nrm)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
      i += 1
    }
    out
  }
}

/** Bounded exact top-k of (neighbor_id, cos, cosIsNull) under
  * (nulls last, cos desc, neighbor_id asc) — the typed aggregate
  * behind [[Similarity.rerankTopK]]. The buffer is a plain growable
  * array compacted (sort + dedup + truncate to k) whenever it reaches
  * 8k, so per-group state is O(k) however many rows stream through;
  * because the order is TOTAL (neighbor_id breaks every tie) the
  * surviving k set is independent of arrival and merge order —
  * partial aggregation is safe and the result matches the rank-window
  * form bit-for-bit. Duplicate candidates (the same neighbor surfacing
  * from several LSH tables in [[Similarity.knnGraph]]) dedup on
  * neighbor_id REGARDLESS of score (seen-set during compaction, best-
  * ordered tuple wins) — structural since r9, not a precondition on
  * callers: the r8 adjacent-after-sort skip was exact only for
  * bit-identical duplicate tuples (true of every current caller, but
  * enforced nowhere — ADVICE r8). Best-per-id-then-truncate keeps
  * partial aggregation order-independent even for differing-score
  * duplicates: if an id's best tuple is ever compacted away, k
  * better distinct ids existed in that buffer and still dominate
  * every worse duplicate at the final merge. */
private[operators] final class TopKCosAgg(k: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      (Long, Long, Option[Double]),
      scala.collection.mutable.ArrayBuffer[(Long, Double, Boolean)],
      Array[(Long, Double, Boolean)]] {
  type Buf = scala.collection.mutable.ArrayBuffer[(Long, Double, Boolean)]
  private val cap = math.max(8 * k, 64)
  private val ord = new Ordering[(Long, Double, Boolean)] {
    def compare(a: (Long, Double, Boolean), b: (Long, Double, Boolean)): Int = {
      if (a._3 != b._3) { if (a._3) 1 else -1 }
      else {
        val c = if (a._3) 0 else java.lang.Double.compare(b._2, a._2)
        if (c != 0) c else java.lang.Long.compare(a._1, b._1)
      }
    }
  }
  private def compact(b: Buf): Buf = {
    if (b.length > 1) {
      val sorted = b.sorted(ord)
      b.clear()
      val seen = new java.util.HashSet[java.lang.Long](k * 2)
      var i = 0
      while (i < sorted.length && b.length < k) {
        val t = sorted(i)
        if (seen.add(t._1)) b += t
        i += 1
      }
    }
    b
  }
  def zero: Buf = new Buf
  def reduce(b: Buf, a: (Long, Long, Option[Double])): Buf = {
    b += ((a._2, a._3.getOrElse(0.0), a._3.isEmpty))
    if (b.length >= cap) compact(b) else b
  }
  def merge(x: Buf, y: Buf): Buf = compact(x ++= y)
  def finish(b: Buf): Array[(Long, Double, Boolean)] = compact(b).toArray
  def bufferEncoder = org.apache.spark.sql.Encoders.kryo[Buf]
  def outputEncoder = org.apache.spark.sql.Encoders.kryo[Array[(Long, Double, Boolean)]]
}

/** [[TopKCosAgg]] for integer scores: top-k of (neighbor_id, value)
  * under (value asc|desc, neighbor_id asc). */
private[operators] final class TopKLongAgg(k: Int, asc: Boolean)
    extends org.apache.spark.sql.expressions.Aggregator[
      (Long, Long, Long),
      scala.collection.mutable.ArrayBuffer[(Long, Long)],
      Array[(Long, Long)]] {
  type Buf = scala.collection.mutable.ArrayBuffer[(Long, Long)]
  private val cap = math.max(8 * k, 64)
  private val ord = new Ordering[(Long, Long)] {
    def compare(a: (Long, Long), b: (Long, Long)): Int = {
      val c =
        if (asc) java.lang.Long.compare(a._2, b._2)
        else java.lang.Long.compare(b._2, a._2)
      if (c != 0) c else java.lang.Long.compare(a._1, b._1)
    }
  }
  // same structural per-neighbor dedup as TopKCosAgg (best-ordered
  // tuple wins before truncation): every current caller feeds unique
  // (group, neighbor) candidates, so this is a no-op today, but the
  // invariant no longer rests on callers
  private def compact(b: Buf): Buf = {
    if (b.length > 1) {
      val sorted = b.sorted(ord)
      b.clear()
      val seen = new java.util.HashSet[java.lang.Long](k * 2)
      var i = 0
      while (i < sorted.length && b.length < k) {
        val t = sorted(i)
        if (seen.add(t._1)) b += t
        i += 1
      }
    }
    b
  }
  def zero: Buf = new Buf
  def reduce(b: Buf, a: (Long, Long, Long)): Buf = {
    b += ((a._2, a._3))
    if (b.length >= cap) compact(b) else b
  }
  def merge(x: Buf, y: Buf): Buf = compact(x ++= y)
  def finish(b: Buf): Array[(Long, Long)] = compact(b).toArray
  def bufferEncoder = org.apache.spark.sql.Encoders.kryo[Buf]
  def outputEncoder = org.apache.spark.sql.Encoders.kryo[Array[(Long, Long)]]
}
