package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {

  lazy val spark = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  private lazy val emb = Tables.embeddings(spark, dir)
  private lazy val queries = emb.filter(col("vec_id") < 10)

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("brute-force top-k: k rows per query, self excluded, cos in [-1,1]") {
    val bf = Similarity.bruteForceTopK(emb, queries, 5)
    val rows = bf.collect()
    assert(rows.length == 10 * 5)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    assert(rows.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-9))
  }

  test("null embedding rows are dropped from LSH paths, not bucketed") {
    val spark0 = spark
    import spark0.implicits._
    val withNull = emb.select(col("vec_id"), col("embedding"))
      .unionByName(Seq((99999L, null: Array[Float])).toDF("vec_id", "embedding"))
    // threshold -1: every bucket-mate pair verifies, so the output is
    // exactly the pairs the buckets formed
    val pairs = graft.operators.Dedup.embeddingNearDupPairsLsh(withNull,
        col("vec_id"), col("embedding"), threshold = -1.0, bits = 6,
        tables = 4, dim = 64)
    assert(!pairs.isEmpty, "vacuous fixture: no bucket formed a pair")
    assert(pairs.filter(col("a_id") === 99999L || col("b_id") === 99999L)
      .count() == 0)
    // and the bucket array itself is null, not zeros
    val arr = withNull.filter(col("vec_id") === 99999L)
      .select(graft.functions.VectorExpressions.srp_buckets(
        col("embedding"), 6, 4, 64, 42L))
      .collect()(0)
    assert(arr.isNullAt(0))
  }

  test("IVF full probe equals brute force exactly") {
    val bf = Similarity.bruteForceTopK(emb, queries, 5)
      .collect().map(_.toSeq).toSet
    val ivf = Similarity.ivfTopK(emb, queries, 5, nLists = 16, nProbe = 16)
      .collect().map(_.toSeq).toSet
    assert(ivf == bf)
  }

  test("IVF realistic probes: structural recall of seeded near-dups, sub-linear scan") {
    val spark0 = spark
    import spark0.implicits._
    // identical copies land in the SAME list as their original (same
    // vector -> same nearest centroid), so nProbe >= 1 must find them:
    // recall here is structural, like the LSH realistic-regime query.
    val base = emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
    val n = base.count()
    val aug = base.flatMap { case (id, e) =>
      Iterator((id, e), (id + 1000000L, e))
    }.toDF("vec_id", "embedding")
    val q = aug.filter(col("vec_id") < 10)
    val out = Similarity.ivfTopK(aug, q, 1, nLists = 16, nProbe = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
    assert(out.length == 10)
    out.foreach { case (qid, (nid, cos)) =>
      assert(nid == qid + 1000000L && cos == 1.0,
        s"query $qid: expected its identical copy at cos 1.0, got $nid @ $cos")
    }
    // probing 4/16 lists scans a strict subset of the corpus
    val centroids = Similarity.trainIvfCentroids(aug, 16, 3)
    val assigned = aug.as[(Long, Array[Float])]
      .map { case (_, e) => Similarity.nearestList(centroids, e) }
      .groupByKey(identity).count().collect().toMap
    assert(assigned.size > 4, s"centroids collapsed: ${assigned.size} lists in use")
    val largest4 = assigned.values.toSeq.sortBy(-_).take(4).sum
    assert(largest4 < 2 * n, s"4 largest lists hold $largest4 of ${2 * n} rows")
  }

  test("LSH top-k recalls a useful fraction of true neighbors") {
    val truth = pairSet(Similarity.bruteForceTopK(emb, queries, 5))
    // The synthetic embeddings are near-orthogonal (top cos ~0.35), the
    // hardest case for SRP-LSH; 24 tables x 6 bits targets ~0.7 recall
    // there, and far better on clustered real-world embeddings.
    val approx = pairSet(Similarity.lshTopK(emb, queries, 5, bits = 6, dim = 64))
    val recall = (truth & approx).size.toDouble / truth.size
    assert(recall >= 0.5, s"LSH recall@5 = $recall")
  }

  test("filtered top-k: every neighbor satisfies the filter; IVF full probe == brute") {
    val bf = Similarity.bruteForceTopKFiltered(emb, queries, 5, Seq("label"))
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = bf.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => labels(r.getLong(0)) == labels(r.getLong(1))),
      "a neighbor crossed the label filter")
    // full-probe filtered IVF is exactly the filtered brute force
    val ivf = Similarity.ivfTopKFiltered(emb, queries, 5,
      nLists = 8, nProbe = 8, Seq("label")).collect()
    assert(ivf.map(_.toSeq).toSet == rows.map(_.toSeq).toSet)
  }

  test("filtered IVF at partial probe: filter safety + structural recall of seeded dups") {
    // seed an identical same-label copy of every vector; an identical
    // vector maps to the same nearest list, so even nProbe=1 must
    // surface it at rank 1 with cos 1.0 — and never across labels
    val corpus = emb.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(emb.select((col("vec_id") + 1000000L).as("vec_id"),
        col("embedding"), col("label")))
    val out = Similarity.ivfTopKFiltered(corpus, queries, 3,
      nLists = 8, nProbe = 1, Seq("label")).collect()
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.forall(r =>
      labels(r.getLong(0) % 1000000L) == labels(r.getLong(1) % 1000000L)))
    val top = out.filter(_.getInt(3) == 1)
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    for (q <- queries.select("vec_id").collect().map(_.getLong(0)))
      assert(top(q) == (q + 1000000L, 1.0), s"query $q top = ${top.get(q)}")
  }

  test("knnLabelCheck: planted mislabels flagged, consistent clusters agree") {
    import spark.implicits._
    // 10 clusters of 6 identical vectors: 5 labeled (cluster id), one
    // mislabeled (cluster id + 100). Each member's 5-NN are its 5
    // copies, so majority vote recovers the true label — the planted
    // mislabel must disagree, everything else must agree.
    val bases = emb.filter(col("vec_id") < 10)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getAs[scala.collection.Seq[Float]](1).toArray)
    val rows = bases.flatMap { case (b, e) =>
      (0 until 6).map { i =>
        val label = if (i == 5) b + 100L else b
        (b * 10 + i, e, label)
      }
    }.toSeq
    val corpus = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelCheck(corpus, 5, bits = 6, dim = 64)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    assert(out.size == 60)
    for ((b, _) <- bases; i <- 0 until 6) {
      val (label, pred, agree) = out(b * 10 + i)
      assert(pred == b, s"cluster $b member $i predicted $pred")
      assert(agree == (label == b), s"vec ${b * 10 + i}: $label vs $pred")
    }
    assert(out.count(!_._2._3) == 10, "exactly the 10 planted mislabels")
  }

  test("knnGraph: directed symmetry, identical copies rank first, cap bites") {
    // seed an identical copy of every vector: copies share every LSH
    // bucket with the original, so the graph MUST contain both
    // directions at rank 1 with cos 1.0
    val corpus = emb.select(col("vec_id"), col("embedding"))
      .unionByName(emb.select((col("vec_id") + 1000000L).as("vec_id"),
        col("embedding")))
    val g = Similarity.knnGraph(corpus, 3, bits = 6, dim = 64)
    val top1 = g.filter(col("rnk") === 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val ids = emb.select("vec_id").collect().map(_.getLong(0))
    for (v <- ids) {
      assert(top1(v) == (v + 1000000L, 1.0), s"src $v top = ${top1.get(v)}")
      assert(top1(v + 1000000L) == (v, 1.0),
        s"src ${v + 1000000L} top = ${top1.get(v + 1000000L)}")
    }
    // rnk dense from 1, at most k per src, no self edges
    val bySrc = g.collect().groupBy(_.getLong(0))
    assert(bySrc.values.forall(rows =>
      rows.map(_.getInt(3)).sorted.toSeq == (1 to rows.length)))
    assert(bySrc.values.forall(_.length <= 3))
    assert(g.filter(col("src_id") === col("neighbor_id")).count() == 0)
    // auto-sized bucket space (bits <= 0): the knob-scaling default
    // still puts every identical copy at rank 1
    val ga = Similarity.knnGraph(corpus, 1, bits = -1, dim = 64)
    val ga1 = ga.filter(col("rnk") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (v <- ids.take(20))
      assert(ga1(v) == v + 1000000L, s"auto-bits: src $v top = ${ga1.get(v)}")
    // the hot-bucket cap SUBSAMPLES an all-identical corpus: every
    // table's bucket keeps the same md5-threshold sample (all buckets
    // share size 50, so verdicts agree across tables/bands), and the
    // graph is that sample's survivors x top-3, not empty. The kept
    // set is replayed in pure Scala, independent of the engine.
    val one = emb.filter(col("vec_id") === 0).select(col("embedding")).head
      .getAs[scala.collection.Seq[Float]](0)
    import spark.implicits._
    val flat = (0L until 50L).map(i => (i, one.toArray)).toDF("vec_id", "embedding")
    val gflat = Similarity.knnGraph(flat, 3, bits = 6, dim = 64, maxBucket = 10)
      .collect()
    val keep = (0L until 50L).filter(TestSpark.md5Keeps(_, 50L, 10L)).toSet
    assert(keep.size >= 4, s"threshold sample too small: ${keep.size}")
    assert(gflat.length == keep.size * 3,
      s"${keep.size} survivors x top-3, got ${gflat.length}")
    assert(gflat.forall(r => keep(r.getLong(0)) && keep(r.getLong(1))))
  }

  test("quantize_vec: hand-checked codes, zero vector, interpreted == codegen") {
    graft.functions.VectorExpressions.register(spark)
    import graft.functions.VectorExpressions.quantize_vec
    import spark.implicits._
    // (3,4) normalizes to (0.6, 0.8): codes trunc(76.2)=76, trunc(101.6)=101
    val df = Seq((1L, Array(3.0f, 4.0f)), (2L, Array(0.0f, 0.0f)),
      (3L, Array(-3.0f, 4.0f))).toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"), quantize_vec(col("embedding"), 127))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(got(1L) == List(76L, 101L))
    assert(got(2L) == List(0L, 0L), "zero vector -> zero codes")
    assert(got(3L) == List(-76L, 101L), "negative truncates toward zero")
    // interpreted path (wholeStage off) must agree bit-for-bit
    val rows = emb.select(col("vec_id"),
      quantize_vec(col("embedding"), 127).as("q"))
    val cg = rows.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    withSQLConf("spark.sql.codegen.wholeStage" -> "false") {
      val ip = rows.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(cg == ip)
    }
  }

  private def withSQLConf(kv: (String, String))(f: => Unit): Unit = {
    val (k, v) = kv
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try f finally old match {
      case Some(o) => spark.conf.set(k, o)
      case None => spark.conf.unset(k)
    }
  }

  test("quantizedTopK: k rows per query, high agreement with exact top-k") {
    val exact = Similarity.bruteForceTopK(emb, queries, 10)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity.quantizedTopK(emb, queries, 10)
    val counts = quant.groupBy("q_id").count().collect()
    assert(counts.nonEmpty && counts.forall(_.getLong(1) == 10L))
    val qset = quant.select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = (exact & qset).size.toDouble / exact.size
    assert(overlap >= 0.7, s"quantized top-10 recall vs exact: $overlap")
  }

  test("pqTopK: identical copies land at ADC distance 0 rank 1; useful recall") {
    val spark0 = spark
    import spark0.implicits._
    // plant exact copies of the queries under shifted ids: a copy's
    // codes equal the query's codes, so its ADC distance is exactly
    // the query's own table self-distance — the minimum any candidate
    // can reach — and the (dist, id) tiebreak ranks it first among
    // distance-ties.
    val copies = queries.select((col("vec_id") + 5000L).as("vec_id"),
      col("embedding"))
    val aug = emb.select(col("vec_id"), col("embedding")).unionByName(copies)
    val pq = Similarity.pqTopK(aug, queries, 10)
    val top1 = pq.filter(col("rnk") === 1)
      .select("q_id", "neighbor_id", "dist_um2").collect()
    assert(top1.length == 10)
    top1.foreach { r =>
      assert(r.getLong(1) == r.getLong(0) + 5000L,
        s"query ${r.getLong(0)} top-1 is ${r.getLong(1)}")
    }
    // k rows per query, self excluded
    val counts = pq.groupBy("q_id").count().collect()
    assert(counts.length == 10 && counts.forall(_.getLong(1) == 10L))
    assert(pq.filter(col("q_id") === col("neighbor_id")).count() == 0)
    // structural recall: 3 jittered near-copies planted per query
    // (cos ~ 0.999) must dominate the PQ top-10 — the near-dup
    // retrieval regime 32-bit codes exist for. (Exact-cosine top-k
    // agreement on an ISOTROPIC random corpus is not asserted: all
    // cosines there are ~0 with margins below quantization noise —
    // the documented pathological case for any fixed-bit code.)
    val qrows = queries.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val jit = (for {
      (qid, e) <- qrows.toSeq
      j <- 1 to 3
    } yield (qid * 1000L + j, e.zipWithIndex.map { case (x, i) =>
      x + 0.03f * math.sin((qid + j + i).toDouble).toFloat
    }.toSeq)).toDF("vec_id", "embedding")
    val aug2 = emb.select(col("vec_id"), col("embedding")).unionByName(jit)
    val got = pairSet(Similarity.pqTopK(aug2, queries, 10))
    val planted = (for {
      (qid, _) <- qrows.toSeq; j <- 1 to 3
    } yield (qid, qid * 1000L + j)).toSet
    val rec = (planted & got).size.toDouble / planted.size
    assert(rec >= 0.8, s"PQ planted near-dup recall: $rec")
  }

  test("ivfPqTopK: identical copies probed and ranked first; ADC dists agree with full PQ") {
    val spark0 = spark
    import spark0.implicits._
    // an identical copy shares the query's coarse cell (identical
    // argmax path), so the query's own-cell probe always reaches it,
    // and its ADC distance is the minimum any candidate can score
    val copies = queries.select((col("vec_id") + 5000L).as("vec_id"),
      col("embedding"))
    val aug = emb.select(col("vec_id"), col("embedding")).unionByName(copies)
    val ivf = Similarity.ivfPqTopK(aug, queries, 10, nProbe = 2)
    val top1 = ivf.filter(col("rnk") === 1)
      .select("q_id", "neighbor_id").collect()
    assert(top1.length == 10)
    top1.foreach(r => assert(r.getLong(1) == r.getLong(0) + 5000L,
      s"query ${r.getLong(0)} top-1 is ${r.getLong(1)}"))
    assert(ivf.filter(col("q_id") === col("neighbor_id")).count() == 0)
    // the probe only restricts CANDIDATES — on shared (q, neighbor)
    // pairs the integer ADC distance must equal the full-PQ scan's
    val pq = Similarity.pqTopK(aug, queries, 10)
      .select("q_id", "neighbor_id", "dist_um2").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val ivfd = ivf.select("q_id", "neighbor_id", "dist_um2").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val common = pq.keySet & ivfd.keySet
    assert(common.nonEmpty)
    common.foreach(kk => assert(pq(kk) == ivfd(kk),
      s"ADC distance diverged on $kk"))
  }

  test("ivfPqTopK: cell-keyed probe routing yields exactly the cell-membership candidate set") {
    // Pins the r9 cell-keyed routing rewrite against the routing
    // DEFINITION: a (query, row) pair is a candidate iff the row's
    // two-level cell is among the query's nProbe probed cells (the r8
    // per-row linear scan's predicate). With k large enough the rerank
    // keeps every candidate, so the returned pair set must EQUAL the
    // predicate set — a wrong cell key or a dropped probe map entry
    // breaks this equality in either direction.
    val spark0 = spark
    import spark0.implicits._
    import graft.operators.Dedup
    val base = emb.select(col("vec_id"), col("embedding"))
    val nProbe = 2
    val nLists = Dedup.autoClusters(base.count())
    val fine = Dedup.semanticSeeds(base, col("vec_id"), col("embedding"), nLists)
    val cells = Dedup.twoLevelCells(fine)
    val rows = base.as[(Long, Seq[Float])].collect()
    val cellOf = rows.map { case (id, e) =>
      id -> Dedup.routeTwoLevel(fine, cells, e.toArray, 1)(0) }.toMap
    val probesOf = queries.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect()
      .map { case (qid, e) =>
        qid -> Dedup.routeTwoLevel(fine, cells, e.toArray, nProbe).toSet }
    val expected = (for {
      (qid, probed) <- probesOf.iterator
      (id, _) <- rows.iterator
      if id != qid && probed.contains(cellOf(id))
    } yield (qid, id)).toSet
    val got = Similarity.ivfPqTopK(base, queries, k = 100000, nProbe = nProbe)
      .select("q_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"candidate sets diverge: missing=${(expected -- got).take(5)} " +
      s"extra=${(got -- expected).take(5)}")
  }

  test("ivfPqInsertTopK: frozen structures route inserted copies to rank 1") {
    val base = emb.select(col("vec_id"), col("embedding"))
    // insert exact copies of the query vectors under NEW ids: the
    // frozen coarse/fine routing sends an identical input down the
    // identical path, so the copy always lands in a probed cell and
    // shares the query's own codes — its ADC distance is the query's
    // quantization error, the minimum any candidate can score, and
    // the id tie-break ranks it 1 — the structural-safety contract
    // extended to the insert path (codebooks/cells never saw the
    // inserted rows)
    val copies = base.filter(col("vec_id") < 3)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    val out = Similarity.ivfPqInsertTopK(base, copies,
      base.filter(col("vec_id") < 3), 5)
    val byQ = out.collect()
      .groupBy(_.getLong(0)).view.mapValues(_.sortBy(_.getInt(3))).toMap
    (0L until 3L).foreach { q =>
      val rows = byQ(q)
      assert(rows.head.getLong(1) == q + 100000L, s"query $q rank1 ${rows.head}")
      // the copy's ADC distance is the min of the whole result
      assert(rows.forall(_.getLong(2) >= rows.head.getLong(2)))
    }
    // and with an EMPTY insert the search equals the plain build
    val a = Similarity.ivfPqTopK(base, base.filter(col("vec_id") < 5), 5)
      .collect().map(_.toSeq).toSet
    val b = Similarity.ivfPqInsertTopK(base, base.limit(0),
        base.filter(col("vec_id") < 5), 5)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("broadcast-queries contract: oversized query side fails loud, not OOM") {
    // the queries side of the PQ family is collected to the driver for
    // ADC tables — a corpus-sized frame must be a cheap, explicit error
    val big = emb // 60 rows: over the tiny bound below
    val e1 = intercept[IllegalArgumentException] {
      Similarity.pqTopK(emb, big, 5, queryBound = 10)
    }
    assert(e1.getMessage.contains("queryBound"))
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopK(emb, big, 5, queryBound = 10)
    }
    assert(e2.getMessage.contains("queryBound"))
    // within the bound: unchanged behavior
    assert(Similarity.pqTopK(emb, emb.filter(col("vec_id") < 3), 5,
      queryBound = 10).count() > 0)
  }

  test("pageRankMicros: hand-checked star graph, integer-exact, invariant") {
    val spark0 = spark
    import spark0.implicits._
    // 2,3,4 -> 1 and 1 -> 2: after 3 integer rounds (damp 85):
    // pr3(1)=2483250, pr3(2)=1216750, pr3(3)=pr3(4)=150000
    val edges = Seq((2L, 1L), (3L, 1L), (4L, 1L), (1L, 2L))
      .toDF("src_id", "neighbor_id")
    val out = Similarity.pageRankMicros(edges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out == Map(
      1L -> ((2483250L, 1)), 2L -> ((1216750L, 2)),
      3L -> ((150000L, 3)), 4L -> ((150000L, 4))))
    val again = Similarity.pageRankMicros(edges.repartition(5))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    assert(out == again)
  }

  test("triplet mining: one same-label positive, hard negatives, roles disjoint") {
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = Similarity.tripletMine(emb, queries, kNeg = 3, dupCos = 2.0)
      .collect()
    val byAnchor = rows.groupBy(_.getLong(0))
    byAnchor.foreach { case (q, rs) =>
      val pos = rs.filter(_.getString(1) == "pos")
      val neg = rs.filter(_.getString(1) == "neg")
      assert(pos.length <= 1 && neg.length <= 3)
      pos.foreach(p => assert(labels(p.getLong(2)) == labels(q)))
      neg.foreach(n => assert(labels(n.getLong(2)) != labels(q)))
    }
    assert(rows.exists(_.getString(1) == "pos") &&
      rows.exists(_.getString(1) == "neg"))
  }

  test("hard negatives: different-label only, dup band excludes a planted copy") {
    val spark0 = spark
    import spark0.implicits._
    // plant a mislabeled identical copy of anchor 0 — a FALSE negative
    val anchor0 = emb.filter(col("vec_id") === 0L)
      .select("vec_id", "embedding", "label").collect()(0)
    val copy = Seq((99999L, anchor0.getAs[Seq[Float]]("embedding").toArray,
        (anchor0.getInt(2) + 1) % 10))
      .toDF("vec_id", "embedding", "label")
    val corpus = emb.select("vec_id", "embedding", "label").unionByName(copy)
    val qs = corpus.filter(col("vec_id") < 10)
    val hard = Similarity.hardNegativesTopK(corpus, qs, k = 5, dupCos = 0.99)
    val rows = hard.collect()
    // the planted copy has a different label and cosine 1.0 — without
    // the band it would rank 1 for anchor 0; the band kills it
    assert(!rows.exists(r => r.getLong(0) == 0L && r.getLong(1) == 99999L))
    // every neighbor's label differs from its query's label
    val labels = corpus.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.forall(r => labels(r.getLong(0)) != labels(r.getLong(1))))
    // and with the band open, the copy IS the rank-1 hard negative
    val open = Similarity.hardNegativesTopK(corpus, qs, k = 5, dupCos = 2.0)
      .collect()
    assert(open.exists(r => r.getLong(0) == 0L && r.getLong(1) == 99999L
      && r.getInt(3) == 1))
  }
}
