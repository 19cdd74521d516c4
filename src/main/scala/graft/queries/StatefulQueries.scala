package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.L2Book

/** Stateful-operator and consumer coverage: the L2 order-book replay
  * (batch fold AND its streaming fMGWS twin, both under the recursive
  * per-level-fold SQL oracle), the backtester trade log, and the
  * trainer's normal-equations pass — driven by deterministic streams
  * derived from the `events` table (no L2 market data exists in the
  * environment — FIXTURES.md §4). L2BookSpec/BacktesterSpec pin the
  * operator semantics; every query here is exact-hash-compared.
  */
object StatefulQueries {

  private val H = 3600000000L

  /** The ml_normal_eq design: x0 = intercept, x1/x2 integer-valued
    * features, y an exact linear combination — every product and sum
    * is an integer below 2^53, so the distributed accumulation is
    * order-independent and matches DuckDB bit-for-bit. */
  private val NE_XS = Seq("1.0", "round(value)", "CAST(event_id % 97 AS DOUBLE)")
  private val NE_Y = "(round(value)*2 + (event_id % 97)*3 + 5)"

  /** Deterministic L2 update stream derived from the events table
    * (shared by the batch replay; the streaming twin derives the same
    * expressions over `readStream` inline below). */
  private def l2Updates(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.events(s, dir)
      .withColumn("ts_us", expr("ts div 1000"))
      .select(
        col("event_type").as("instrument"),
        col("ts_us"),
        col("event_id").as("seq"),
        when(col("event_id") % 50 === 0, "SNAPSHOT")
          .when(col("event_id") % 3 === 0, "ADD")
          .when(col("event_id") % 3 === 1, "SET")
          .otherwise("SUB").as("update_type"),
        when(col("event_id") % 2 === 0, "bid").otherwise("ask").as("side"),
        round(col("value")).as("price"),
        (lit(1.0) + col("event_id") % 5).as("size"))

  /** The full ADD/SET/SUB replay oracle (recursive per-level fold in
    * snapshot-wipe windows) — shared verbatim by `l2_book_replay`
    * (batch secondary-sort fold) and `l2_book_stream` (fMGWS twin). */
  private val L2_REPLAY_SQL: String =
      s"""WITH RECURSIVE u AS (
         |  SELECT event_type AS instrument, epoch_us(ts) AS ts_us, event_id AS seq,
         |    CASE WHEN event_id % 50 = 0 THEN 'SNAPSHOT'
         |         WHEN event_id % 3 = 0 THEN 'ADD'
         |         WHEN event_id % 3 = 1 THEN 'SET'
         |         ELSE 'SUB' END AS update_type,
         |    CASE WHEN event_id % 2 = 0 THEN 'bid' ELSE 'ask' END AS side,
         |    round(value) AS price,
         |    1.0 + event_id % 5 AS size,
         |    CAST(epoch_us(ts) AS HUGEINT)*1000000000 + event_id AS k
         |  FROM events),
         |ordered AS (
         |  SELECT *, lag(update_type) OVER w AS prev_ut, lag(ts_us) OVER w AS prev_ts
         |  FROM u WINDOW w AS (PARTITION BY instrument ORDER BY ts_us, seq)),
         |wipes AS (
         |  SELECT instrument, ts_us, k FROM ordered
         |  WHERE update_type = 'SNAPSHOT'
         |    AND (prev_ut IS DISTINCT FROM 'SNAPSHOT' OR prev_ts IS DISTINCT FROM ts_us)),
         |em AS (SELECT instrument, (ts_us // ${H}) * ${H} AS bucket_us, max(ts_us) AS t_end
         |  FROM u GROUP BY 1, 2),
         |wk AS (
         |  SELECT e.instrument, e.bucket_us, e.t_end, coalesce(max(w.k), 0) AS wipe_k
         |  FROM em e LEFT JOIN wipes w
         |    ON w.instrument = e.instrument AND w.ts_us <= e.t_end
         |  GROUP BY 1, 2, 3),
         |win AS (
         |  SELECT wk.instrument, wk.bucket_us, o.side, o.price, o.update_type, o.size,
         |    row_number() OVER (PARTITION BY wk.instrument, wk.bucket_us, o.side, o.price
         |      ORDER BY o.k) AS rn
         |  FROM wk JOIN ordered o
         |    ON o.instrument = wk.instrument AND o.ts_us <= wk.t_end AND o.k >= wk.wipe_k),
         |fold AS (
         |  SELECT instrument, bucket_us, side, price, rn,
         |    CASE WHEN update_type = 'SUB' THEN -size ELSE size END AS s
         |  FROM win WHERE rn = 1
         |  UNION ALL
         |  SELECT w.instrument, w.bucket_us, w.side, w.price, w.rn,
         |    CASE WHEN w.update_type IN ('SNAPSHOT','SET') THEN w.size
         |         WHEN w.update_type = 'ADD' THEN greatest(f.s, 0) + w.size
         |         ELSE greatest(f.s, 0) - w.size END
         |  FROM fold f JOIN win w
         |    ON w.instrument = f.instrument AND w.bucket_us = f.bucket_us
         |   AND w.side = f.side AND w.price = f.price AND w.rn = f.rn + 1),
         |final AS (
         |  SELECT instrument, bucket_us, side, price, s FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY instrument, bucket_us, side, price ORDER BY rn DESC) AS rr
         |    FROM fold) t WHERE rr = 1),
         |ranked AS (
         |  SELECT instrument, bucket_us, side, price,
         |    row_number() OVER (PARTITION BY instrument, bucket_us, side
         |      ORDER BY CASE WHEN side = 'bid' THEN -price ELSE price END) AS rnk
         |  FROM final WHERE s > 0),
         |agg AS (
         |  SELECT instrument, bucket_us,
         |    count(CASE WHEN side = 'bid' AND rnk <= 5 THEN 1 END) AS bid_depth,
         |    count(CASE WHEN side = 'ask' AND rnk <= 5 THEN 1 END) AS ask_depth,
         |    max(CASE WHEN side = 'bid' AND rnk = 1 THEN price END) AS bb,
         |    max(CASE WHEN side = 'ask' AND rnk = 1 THEN price END) AS ba
         |  FROM ranked GROUP BY 1, 2)
         |SELECT e.instrument, e.t_end AS ts_us,
         |  coalesce(a.bid_depth, 0) AS bid_depth,
         |  coalesce(a.ask_depth, 0) AS ask_depth,
         |  (a.bb + a.ba) / 2 AS mid_price,
         |  CASE WHEN a.bb + a.ba <> 0 THEN abs(a.ba - a.bb) * 2 / (a.ba + a.bb) END AS spread
         |FROM wk e LEFT JOIN agg a
         |  ON a.instrument = e.instrument AND a.bucket_us = e.bucket_us""".stripMargin

  // ----- ml_tree_fit / ml_tree_predict (r16): the exact-tree oracle -----
  // The depth-bounded integer-exact regression tree (Trainer.fitTree;
  // the nonlinear trainer leg, svoe trainer_manager.py:128-141) under
  // the driver's hash gate. The oracle UNROLLS the 3 greedy split
  // levels as chained MATERIALIZED CTEs (the BPE-merge discipline):
  // per level, a per-(node, feature, value) histogram with prefix-sum
  // windows enumerates every candidate threshold, integer-mean SSE
  // scores it ( // on nonnegative sums = trunc = floor in both
  // engines), row_number picks the (sse, fi, v) argmin, and a LEFT
  // JOIN reassigns rows to heap children. Designed + cross-checked in
  // tools/design_tree.py (DuckDB chain == pure-python replay, 15
  // node rows at sf0.01) BEFORE the Scala implementation existed.

  private val TREE_D = 3

  private val TREE_BASE_SQL =
    """
    |  SELECT CAST(round(value) AS BIGINT) AS f1,
    |         event_id % 97 AS f2,
    |         CASE WHEN round(value) <= 245 THEN 10 * (event_id % 97)
    |              ELSE 1000 - (event_id % 97) END
    |           + CAST(round(value) AS BIGINT) AS y
    |  FROM events
    |""".stripMargin

  private def treeLevelCtes(l: Int): String =
    s"""c$l AS MATERIALIZED (
       |  SELECT node, fi, v,
       |    sum(c)  OVER w AS cl,  sum(sy)  OVER w AS syl,  sum(syy) OVER w AS syyl,
       |    sum(c)  OVER t AS ct,  sum(sy)  OVER t AS syt,  sum(syy) OVER t AS syyt
       |  FROM (
       |    SELECT node, 0 AS fi, f1 AS v, count(*) AS c, sum(y) AS sy,
       |      sum(y*y) AS syy FROM a$l GROUP BY 1, 3
       |    UNION ALL
       |    SELECT node, 1 AS fi, f2 AS v, count(*) AS c, sum(y) AS sy,
       |      sum(y*y) AS syy FROM a$l GROUP BY 1, 3)
       |  WINDOW w AS (PARTITION BY node, fi ORDER BY v),
       |         t AS (PARTITION BY node, fi)),
       |s$l AS MATERIALIZED (
       |  SELECT node, fi, v, ct, syt, syyt FROM (
       |    SELECT *, row_number() OVER (PARTITION BY node ORDER BY sse, fi, v) AS rk
       |    FROM (
       |      SELECT *,
       |        (syyl - 2*(syl // cl)*syl + (syl // cl)*(syl // cl)*cl)
       |        + ((syyt - syyl) - 2*((syt - syl) // (ct - cl))*(syt - syl)
       |           + ((syt - syl) // (ct - cl))*((syt - syl) // (ct - cl))*(ct - cl))
       |          AS sse
       |      FROM c$l WHERE ct - cl > 0) x) z WHERE rk = 1),
       |a${l + 1} AS MATERIALIZED (
       |  SELECT CASE WHEN s.node IS NULL THEN a.node
       |    ELSE a.node * 2 + CASE WHEN (s.fi = 0 AND a.f1 <= s.v)
       |                            OR (s.fi = 1 AND a.f2 <= s.v) THEN 0 ELSE 1 END
       |    END AS node, a.f1, a.f2, a.y
       |  FROM a$l a LEFT JOIN s$l s ON s.node = a.node)""".stripMargin

  private def treeChain: String =
    (Seq(s"base AS MATERIALIZED ($TREE_BASE_SQL)",
      "a0 AS MATERIALIZED (SELECT CAST(1 AS BIGINT) AS node, f1, f2, y FROM base)") ++
      (0 until TREE_D).map(treeLevelCtes)).mkString(",\n")

  private def treeSplitSelect(l: Int): String =
    s"""SELECT node, CAST($l AS BIGINT) AS depth,
       |  CAST(ct AS BIGINT) AS n, CAST(syt AS BIGINT) AS sum_y,
       |  CAST(syyt - 2*(syt // ct)*syt + (syt // ct)*(syt // ct)*ct AS BIGINT) AS sse,
       |  CASE fi WHEN 0 THEN 'f1' ELSE 'f2' END AS feature,
       |  v AS threshold,
       |  CAST((syt * 1000000) // ct AS BIGINT) AS pred_micros,
       |  FALSE AS is_leaf
       |FROM s$l""".stripMargin

  private def TREE_FIT_SQL: String =
    s"""WITH $treeChain,
       |leafstats AS (SELECT node, count(*) AS c, sum(y) AS sy,
       |    sum(y*y) AS syy FROM a$TREE_D GROUP BY 1)
       |${(0 until TREE_D).map(treeSplitSelect).mkString("\nUNION ALL\n")}
       |UNION ALL
       |SELECT node, CAST(length(bin(node)) - 1 AS BIGINT) AS depth,
       |  CAST(c AS BIGINT) AS n, CAST(sy AS BIGINT) AS sum_y,
       |  CAST(syy - 2*(sy // c)*sy + (sy // c)*(sy // c)*c AS BIGINT) AS sse,
       |  CAST(NULL AS VARCHAR) AS feature, CAST(NULL AS BIGINT) AS threshold,
       |  CAST((sy * 1000000) // c AS BIGINT) AS pred_micros,
       |  TRUE AS is_leaf
       |FROM leafstats""".stripMargin

  private def TREE_PREDICT_SQL: String =
    s"""WITH $treeChain,
       |leafpred AS (SELECT node,
       |    (CAST(sum(y) AS HUGEINT) * 1000000) // count(*) AS pm
       |  FROM a$TREE_D GROUP BY 1)
       |SELECT CAST(p.pm AS BIGINT) AS pred_micros, count(*) AS n,
       |  CAST(sum(a.y) AS BIGINT) AS sum_y
       |FROM a$TREE_D a JOIN leafpred p USING (node) GROUP BY 1""".stripMargin

  // ----- ml_boost_fit / ml_boost_predict (r16): the exact ensemble -----
  // Gradient boosting with squared loss over the exact tree
  // (Trainer.fitBoosted — the graded twin of the MLlib fitGBT leg;
  // the reference's XGBoost slot, trainer_manager.py:128-141, is a
  // boosted-TREE trainer, so the exact-replay family now covers the
  // ensemble semantics, not just one tree). The oracle chains
  // BOOST_R rounds of the tree-level CTE machinery through per-round
  // residual/offset CTEs: round g shifts the residual by its corpus
  // min (split decisions are shift-invariant for integer offsets —
  // floor means shift exactly), fits the depth-BOOST_D tree on the
  // shifted label, and folds leaf floor-mean + offset back into the
  // running prediction. Designed + cross-checked in
  // tools/design_boost.py (DuckDB chain == pure-python replay, 22
  // node rows + predict census at sf0.01/sf0.001) BEFORE the Scala
  // implementation existed.

  private val BOOST_R = 3
  private val BOOST_D = 2

  // The chain generators are shared by THREE variants: the plain fit
  // (ml_boost_fit/predict; carry = Nil), the holdout evaluation
  // (ml_eval_holdout; carry = is_train — fitting aggregates filter to
  // train rows, the assignment CASE routes ALL rows; every reachable
  // leaf holds >= 1 train row by construction since children of a
  // chosen split are nonempty in train), and the tuner trials
  // (ml_tuner_best; carry = is_train + is_valid, one prefixed chain
  // per sampled candidate). Designed + cross-checked in
  // tools/design_boost.py / design_eval.py / design_tuner.py
  // (DuckDB == pure-python replay, each).
  private def boostLevelCtes(pfx: String, g: Int, l: Int,
      carry: Seq[String]): String = {
    val p = s"$pfx$g"
    val tf = if (carry.nonEmpty) " WHERE is_train" else ""
    val carryA = carry.map(c => s", a.$c").mkString
    s"""${p}c$l AS MATERIALIZED (
       |  SELECT node, fi, v,
       |    sum(c)  OVER w AS cl,  sum(sy)  OVER w AS syl,  sum(syy) OVER w AS syyl,
       |    sum(c)  OVER t AS ct,  sum(sy)  OVER t AS syt,  sum(syy) OVER t AS syyt
       |  FROM (
       |    SELECT node, 0 AS fi, f1 AS v, count(*) AS c, sum(yy) AS sy,
       |      sum(yy*yy) AS syy FROM ${p}a$l$tf GROUP BY 1, 3
       |    UNION ALL
       |    SELECT node, 1 AS fi, f2 AS v, count(*) AS c, sum(yy) AS sy,
       |      sum(yy*yy) AS syy FROM ${p}a$l$tf GROUP BY 1, 3)
       |  WINDOW w AS (PARTITION BY node, fi ORDER BY v),
       |         t AS (PARTITION BY node, fi)),
       |${p}s$l AS MATERIALIZED (
       |  SELECT node, fi, v, ct, syt, syyt FROM (
       |    SELECT *, row_number() OVER (PARTITION BY node ORDER BY sse, fi, v) AS rk
       |    FROM (
       |      SELECT *,
       |        (syyl - 2*(syl // cl)*syl + (syl // cl)*(syl // cl)*cl)
       |        + ((syyt - syyl) - 2*((syt - syl) // (ct - cl))*(syt - syl)
       |           + ((syt - syl) // (ct - cl))*((syt - syl) // (ct - cl))*(ct - cl))
       |          AS sse
       |      FROM ${p}c$l WHERE ct - cl > 0) x) z WHERE rk = 1),
       |${p}a${l + 1} AS MATERIALIZED (
       |  SELECT CASE WHEN s.node IS NULL THEN a.node
       |    ELSE a.node * 2 + CASE WHEN (s.fi = 0 AND a.f1 <= s.v)
       |                            OR (s.fi = 1 AND a.f2 <= s.v) THEN 0 ELSE 1 END
       |    END AS node, a.f1, a.f2, a.y, a.pred, a.yy$carryA
       |  FROM ${p}a$l a LEFT JOIN ${p}s$l s ON s.node = a.node)""".stripMargin
  }

  private def boostRoundCtes(pfx: String, g: Int, depth: Int,
      carry: Seq[String]): String = {
    val p = s"$pfx$g"
    val prev = if (g == 1) "r0" else s"$pfx${g - 1}next"
    val tf = if (carry.nonEmpty) " WHERE is_train" else ""
    val carry0 = carry.map(c => s", $c").mkString
    val carryA = carry.map(c => s", a.$c").mkString
    (Seq(
      s"${p}off AS (SELECT min(y - pred) AS o FROM $prev$tf)",
      s"""${p}a0 AS MATERIALIZED (
         |  SELECT CAST(1 AS BIGINT) AS node, f1, f2, y, pred,
         |    y - pred - (SELECT o FROM ${p}off) AS yy$carry0 FROM $prev)""".stripMargin) ++
      (0 until depth).map(boostLevelCtes(pfx, g, _, carry)) ++
      Seq(
        s"""${p}leaf AS (SELECT node, count(*) AS c, sum(yy) AS sy,
           |  sum(yy*yy) AS syy FROM ${p}a$depth$tf GROUP BY 1)""".stripMargin,
        s"""${p}next AS MATERIALIZED (
           |  SELECT a.f1, a.f2, a.y,
           |    a.pred + (l.sy // l.c) + (SELECT o FROM ${p}off) AS pred$carryA
           |  FROM ${p}a$depth a JOIN ${p}leaf l USING (node))""".stripMargin))
      .mkString(",\n")
  }

  private val EVAL_BASE_SQL =
    """
    |  SELECT CAST(round(value) AS BIGINT) AS f1,
    |         event_id % 97 AS f2,
    |         CASE WHEN round(value) <= 245 THEN 10 * (event_id % 97)
    |              ELSE 1000 - (event_id % 97) END
    |           + CAST(round(value) AS BIGINT) AS y,
    |         substr(md5(CAST(event_id AS VARCHAR)), 1, 1) < 'c' AS is_train
    |  FROM events
    |""".stripMargin

  private def boostChain(holdout: Boolean = false): String = {
    val baseSql = if (holdout) EVAL_BASE_SQL else TREE_BASE_SQL
    val tf = if (holdout) " WHERE is_train" else ""
    val carry0 = if (holdout) ",\n  is_train" else ""
    val carry = if (holdout) Seq("is_train") else Nil
    (Seq(s"base AS MATERIALIZED ($baseSql)",
      s"""r0 AS MATERIALIZED (SELECT f1, f2, y,
        |  (SELECT sum(y) // count(*) FROM base$tf) AS pred$carry0 FROM base)""".stripMargin) ++
      (1 to BOOST_R).map(boostRoundCtes("g", _, BOOST_D, carry))).mkString(",\n")
  }

  private def boostSplitSelect(g: Int, l: Int): String = {
    val p = s"g$g"
    s"""SELECT CAST($g AS BIGINT) AS round, node,
       |  CAST($l AS BIGINT) AS depth,
       |  CAST(ct AS BIGINT) AS n, CAST(syt AS BIGINT) AS sum_y,
       |  CAST(syyt - 2*(syt // ct)*syt + (syt // ct)*(syt // ct)*ct AS BIGINT) AS sse,
       |  CASE fi WHEN 0 THEN 'f1' ELSE 'f2' END AS feature,
       |  v AS threshold,
       |  CAST((syt // ct) + (SELECT o FROM ${p}off) AS BIGINT) AS contrib,
       |  FALSE AS is_leaf
       |FROM ${p}s$l""".stripMargin
  }

  private def boostLeafSelect(g: Int): String = {
    val p = s"g$g"
    s"""SELECT CAST($g AS BIGINT) AS round, node,
       |  CAST(length(bin(node)) - 1 AS BIGINT) AS depth,
       |  CAST(c AS BIGINT) AS n, CAST(sy AS BIGINT) AS sum_y,
       |  CAST(syy - 2*(sy // c)*sy + (sy // c)*(sy // c)*c AS BIGINT) AS sse,
       |  CAST(NULL AS VARCHAR) AS feature, CAST(NULL AS BIGINT) AS threshold,
       |  CAST((sy // c) + (SELECT o FROM ${p}off) AS BIGINT) AS contrib,
       |  TRUE AS is_leaf
       |FROM ${p}leaf""".stripMargin
  }

  private def boostNodesUnion: String =
    s"""SELECT CAST(0 AS BIGINT) AS round, CAST(1 AS BIGINT) AS node,
       |  CAST(0 AS BIGINT) AS depth,
       |  count(*) AS n, CAST(sum(y) AS BIGINT) AS sum_y,
       |  CAST(sum(y*y) - 2*(sum(y) // count(*))*sum(y)
       |    + (sum(y) // count(*))*(sum(y) // count(*))*count(*) AS BIGINT) AS sse,
       |  CAST(NULL AS VARCHAR) AS feature, CAST(NULL AS BIGINT) AS threshold,
       |  CAST(sum(y) // count(*) AS BIGINT) AS contrib,
       |  TRUE AS is_leaf
       |FROM base
       |UNION ALL
       |${(1 to BOOST_R).map(g =>
           (0 until BOOST_D).map(boostSplitSelect(g, _)).mkString("\nUNION ALL\n")
             + "\nUNION ALL\n" + boostLeafSelect(g))
         .mkString("\nUNION ALL\n")}""".stripMargin

  private def BOOST_FIT_SQL: String =
    s"""WITH ${boostChain()}
       |$boostNodesUnion""".stripMargin

  // Gain-based importance replayed from the SAME node union: per
  // internal node, sse - sse(left) - sse(right), summed per feature
  // (offsets cancel in the difference — gains are shift-invariant).
  private def BOOST_IMPORTANCE_SQL: String =
    s"""WITH ${boostChain()},
       |nodesall AS MATERIALIZED (
       |$boostNodesUnion)
       |SELECT p.feature,
       |  CAST(sum(p.sse - l.sse - r.sse) AS BIGINT) AS gain
       |FROM nodesall p
       |JOIN nodesall l ON l.round = p.round AND l.node = p.node * 2
       |JOIN nodesall r ON r.round = p.round AND r.node = p.node * 2 + 1
       |WHERE NOT p.is_leaf
       |GROUP BY 1""".stripMargin

  private def BOOST_PREDICT_SQL: String =
    s"""WITH ${boostChain()}
       |SELECT CAST(pred AS BIGINT) AS pred, count(*) AS n,
       |  CAST(sum(y) AS BIGINT) AS sum_y
       |FROM g${BOOST_R}next GROUP BY 1""".stripMargin

  // ----- ml_tuner_best (r16): the TrainerManager tuner slice -----
  // Reference-shaped config (TrainerConfig/TunerConfig,
  // trainer_manager.py:21-48) parsed by ConfigParser.parseTrainerYaml;
  // candidates sample deterministically from the randint param space
  // (Trainer.sampleCandidates — md5-prefix ints keyed by sample
  // index, data-independent, so the trial list is shared literal
  // metadata with the oracle); each candidate's exact ensemble fits
  // on the TRAIN split of a three-way md5 side rule (hex-quantized
  // ~[0.5, 0.31, 0.19] = the reference's train_valid_test_split),
  // metric = integer SSE on the VALID split, winner = argmin
  // (sse, trial). Designed + cross-checked in tools/design_tuner.py.

  private val TRAINER_YAML =
    """boost:
      |  num_boost_rounds: 3
      |  train_valid_test_split: [0.5, 0.31]
      |tuner_config:
      |  param_space:
      |    params:
      |      num_boost_rounds:
      |        randint: {lower: 1, upper: 3}
      |      max_depth:
      |        randint: {lower: 1, upper: 3}
      |  num_samples: 3
      |  metric: sse_valid
      |  mode: min
      |""".stripMargin

  private lazy val TUNER_SPEC =
    graft.core.ConfigParser.parseTrainerYaml(TRAINER_YAML).tunerSpec

  private val TUNER_BASE_SQL =
    """
    |  SELECT CAST(round(value) AS BIGINT) AS f1,
    |         event_id % 97 AS f2,
    |         CASE WHEN round(value) <= 245 THEN 10 * (event_id % 97)
    |              ELSE 1000 - (event_id % 97) END
    |           + CAST(round(value) AS BIGINT) AS y,
    |         substr(md5(CAST(event_id AS VARCHAR)), 1, 1) < '8' AS is_train,
    |         substr(md5(CAST(event_id AS VARCHAR)), 1, 1) >= '8'
    |           AND substr(md5(CAST(event_id AS VARCHAR)), 1, 1) < 'd' AS is_valid
    |  FROM events
    |""".stripMargin

  private def tunerChain: String = {
    val carry = Seq("is_train", "is_valid")
    (Seq(s"base AS MATERIALIZED ($TUNER_BASE_SQL)",
      """r0 AS MATERIALIZED (SELECT f1, f2, y,
        |  (SELECT sum(y) // count(*) FROM base WHERE is_train) AS pred,
        |  is_train, is_valid FROM base)""".stripMargin) ++
      graft.consumers.Trainer.sampleCandidates(TUNER_SPEC)
        .flatMap { case (t, r, d) =>
          (1 to r).map(g => boostRoundCtes(s"t${t}g", g, d, carry))
        }).mkString(",\n")
  }

  private def tunerTrialSelect(t: Int, r: Int, d: Int): String =
    s"""SELECT CAST($t AS BIGINT) AS trial, CAST($r AS BIGINT) AS rounds,
       |  CAST($d AS BIGINT) AS max_depth, count(*) AS n_valid,
       |  CAST(sum((y - pred) * (y - pred)) AS BIGINT) AS sse_valid
       |FROM t${t}g${r}next WHERE is_valid""".stripMargin

  private def TUNER_SQL: String =
    s"""WITH $tunerChain,
       |trials AS MATERIALIZED (
       |${graft.consumers.Trainer.sampleCandidates(TUNER_SPEC)
           .map { case (t, r, d) => tunerTrialSelect(t, r, d) }
           .mkString("\nUNION ALL\n")})
       |SELECT trial, rounds, max_depth, n_valid, sse_valid,
       |  row_number() OVER (ORDER BY sse_valid, trial) = 1 AS is_best
       |FROM trials""".stripMargin

  // ----- ml_early_stop (r16): XGBoost early_stopping_rounds -----
  // Fit round by round on the train split, stop once `patience`
  // rounds fail to improve the integer valid SSE, keep the best
  // round's prefix. The fixture is SEPARABLE (8 groups of (f1<=245,
  // f2)) so the integer ensemble converges exactly in round 1 and the
  // stop fires deterministically at round 2; the nonmonotone-series
  // patience rule itself is pinned by BacktesterSpec on crafted
  // series. Designed + cross-checked in tools/design_earlystop.py.

  private val ES_R = 4
  private val ES_D = 3
  private val ES_PATIENCE = 1

  private val ES_BASE_SQL =
    """
    |  SELECT CAST(round(value) AS BIGINT) AS f1,
    |         event_id % 4 AS f2,
    |         CASE WHEN round(value) <= 245 THEN 10 * (event_id % 4)
    |              ELSE 1000 - (event_id % 4) END AS y,
    |         substr(md5(CAST(event_id AS VARCHAR)), 1, 1) < 'c' AS is_train
    |  FROM events
    |""".stripMargin

  private def esMetricSelect(k: Int): String = {
    val src = if (k == 0) "r0" else s"g${k}next"
    s"""SELECT CAST($k AS BIGINT) AS round, count(*) AS n_valid,
       |  CAST(sum((y - pred) * (y - pred)) AS BIGINT) AS sse_valid
       |FROM $src WHERE NOT is_train""".stripMargin
  }

  private def ES_SQL: String = {
    val chain = (Seq(s"base AS MATERIALIZED ($ES_BASE_SQL)",
      """r0 AS MATERIALIZED (SELECT f1, f2, y,
        |  (SELECT sum(y) // count(*) FROM base WHERE is_train) AS pred,
        |  is_train FROM base)""".stripMargin) ++
      (1 to ES_R).map(boostRoundCtes("g", _, ES_D, Seq("is_train"))))
      .mkString(",\n")
    s"""WITH $chain,
       |series AS MATERIALIZED (
       |${(0 to ES_R).map(esMetricSelect).mkString("\nUNION ALL\n")}),
       |besta AS (SELECT s1.round,
       |    (SELECT min(s2.round) FROM series s2 WHERE s2.round <= s1.round
       |       AND s2.sse_valid = (SELECT min(s3.sse_valid) FROM series s3
       |                            WHERE s3.round <= s1.round)) AS best_so_far
       |  FROM series s1),
       |stopr AS (SELECT coalesce(
       |    (SELECT min(round) FROM besta WHERE round - best_so_far >= $ES_PATIENCE),
       |    $ES_R) AS stop)
       |SELECT s.round, s.n_valid, s.sse_valid,
       |  s.round = (SELECT best_so_far FROM besta
       |             WHERE round = (SELECT stop FROM stopr)) AS is_best
       |FROM series s WHERE s.round <= (SELECT stop FROM stopr)""".stripMargin
  }

  // ----- ml_doc_quality_tree (r16): the nonlinear quality filter -----
  // The DCLM shape (doc_model_quality) with the TREE model: fit the
  // exact depth-3 regression tree on the md5-hash-bounded seed's
  // (n_words, n_distinct) -> is-english label, score EVERY document
  // with the compiled nested-CASE column, keep = leaf micro-mean >=
  // 0.5 — a fastText-style quality classifier whose every split and
  // verdict sits under the exact hash gate. The oracle reuses the
  // boost level machinery in its seed-filtered (holdout) variant with
  // doc_id carried through the assignment frames.

  private val DQT_D = 3

  private def DQT_SQL: String = {
    val carry = Seq("is_train", "doc_id")
    val levels = (0 until DQT_D).map(boostLevelCtes("dq", 0, _, carry))
      .mkString(",\n")
    s"""WITH f AS (SELECT doc_id,
       |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS f1,
       |    CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT) AS f2,
       |    CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y,
       |    substr(md5(text), 1, 6) < '${graft.operators.Sampling.hashBound(0.6)}' AS is_train
       |  FROM documents),
       |dq0a0 AS MATERIALIZED (SELECT CAST(1 AS BIGINT) AS node, f1, f2,
       |  y, CAST(0 AS BIGINT) AS pred, y AS yy, is_train, doc_id FROM f),
       |$levels,
       |leafpred AS (SELECT node,
       |    (CAST(sum(yy) AS HUGEINT) * 1000000) // count(*) AS pm
       |  FROM dq0a$DQT_D WHERE is_train GROUP BY 1)
       |SELECT a.doc_id, a.f1 AS n_words, a.f2 AS n_distinct, a.y,
       |  a.is_train AS is_seed, CAST(p.pm AS BIGINT) AS pred_micros,
       |  CAST(p.pm AS BIGINT) >= 500000 AS keep
       |FROM dq0a$DQT_D a JOIN leafpred p USING (node)""".stripMargin
  }

  private def evalMetricSelect(k: Int): String = {
    val src = if (k == 0) "r0" else s"g${k}next"
    s"""SELECT CAST($k AS BIGINT) AS round, count(*) AS n_test,
       |  CAST(sum((y - pred) * (y - pred)) AS BIGINT) AS sse_test,
       |  CAST(sum(abs(y - pred)) AS BIGINT) AS sae_test
       |FROM $src WHERE NOT is_train""".stripMargin
  }

  private def EVAL_HOLDOUT_SQL: String =
    s"""WITH ${boostChain(holdout = true)}
       |${(0 to BOOST_R).map(evalMetricSelect).mkString("\nUNION ALL\n")}""".stripMargin

  /** The fixture frame both tree queries fit over — integer features
    * with a designed f1<=245 breakpoint and an f2 interaction, so the
    * greedy tree recovers real structure (root splits f2, depth-2
    * nodes split f1 at 245/242 — design_tree.py's census). */
  private def treeCols(df: org.apache.spark.sql.DataFrame) =
    df.select(
      round(col("value")).cast("long").as("f1"),
      (col("event_id") % 97).cast("long").as("f2"),
      (when(round(col("value")) <= 245, (col("event_id") % 97) * 10)
        .otherwise(lit(1000) - col("event_id") % 97)
        + round(col("value")).cast("long")).cast("long").as("y"))

  private def treeBase(s: org.apache.spark.sql.SparkSession, dir: String) =
    treeCols(Tables.events(s, dir))

  /** The shared ensemble fit — computed PER BUILD CALL, deliberately
    * NOT memoized across queries (r16 optimization round): a
    * session-scoped model memo let every timed bench run skip the fit
    * it claims to measure (the warm-up pass paid it once; ml_boost_fit
    * then "cost" 0.02 s). Every query that consumes the fit pays its
    * own corpus pass — the honest measurement; the fit itself was made
    * cheaper instead: one joint-histogram pass per fit, every level and
    * round on the driver (Trainer's "Scale shape" block). */
  private def fittedBoost(s: org.apache.spark.sql.SparkSession,
      dir: String): graft.consumers.Trainer.BoostedModel =
    graft.consumers.Trainer.fitBoosted(treeBase(s, dir),
      Seq("f1", "f2"), "y", rounds = BOOST_R, maxDepth = BOOST_D)

  val defs: Map[String, QueryDef] = Map(

    // The nonlinear trainer leg (r16, r15 verdict #1): Trainer.fitTree's
    // full fit — every split decision, node stat, and leaf prediction —
    // hash-compared against the unrolled greedy replay. The distributed
    // work (one joint-histogram pass) and the driver's level-by-level
    // argmin are both under the gate.
    "ml_tree_fit" -> QueryDef(TREE_FIT_SQL) { (s, dir) =>
      graft.consumers.Trainer
        .fitTree(treeBase(s, dir), Seq("f1", "f2"), "y", maxDepth = TREE_D)
        .treeFrame(s)
    },

    // The tree's DISTRIBUTED scorer under the same gate: predictColumn
    // compiles the fit to ONE nested CASE expression (codegen'd, zero
    // shuffle), applied over the full corpus and grouped by prediction
    // — a scorer bug diverges the census even where the fit is right.
    "ml_tree_predict" -> QueryDef(TREE_PREDICT_SQL) { (s, dir) =>
      val base = treeBase(s, dir)
      val model = graft.consumers.Trainer
        .fitTree(base, Seq("f1", "f2"), "y", maxDepth = TREE_D)
      base.withColumn("pred_micros", model.predictColumn)
        .groupBy("pred_micros")
        .agg(count(lit(1)).as("n"), sum("y").as("sum_y"))
    },

    // The exact ENSEMBLE (r16): every per-round split decision,
    // residual offset, and contribution of the boosted fit under the
    // driver's hash gate — the boosted-tree semantics of the
    // reference's XGBoost slot, exactly replayable.
    "ml_boost_fit" -> QueryDef(BOOST_FIT_SQL) { (s, dir) =>
      fittedBoost(s, dir).boostFrame(s)
    },

    // The ensemble's DISTRIBUTED scorer under the same gate:
    // predictColumn compiles base + all rounds to ONE column of
    // chained CASE expressions (codegen'd, zero shuffle) — a census
    // over the integer predictions catches a scorer bug anywhere in
    // the base/tree/offset composition.
    "ml_boost_predict" -> QueryDef(BOOST_PREDICT_SQL) { (s, dir) =>
      treeBase(s, dir).withColumn("pred", fittedBoost(s, dir).predictColumn)
        .groupBy("pred")
        .agg(count(lit(1)).as("n"), sum("y").as("sum_y"))
    },

    // EARLY STOPPING (r16) — the XGBoost early_stopping_rounds
    // semantic over the exact ensemble: the fit stops once `patience`
    // rounds fail to improve the integer valid SSE, and the graded
    // output is the metric series UP TO the stop with the kept round
    // flagged — series, stop round, and election all under the exact
    // hash gate.
    "ml_early_stop" -> QueryDef(ES_SQL) { (s, dir) =>
      import s.implicits._
      val c = substring(md5(col("event_id").cast("string")), 1, 1)
      val frame = Tables.events(s, dir).select(
        round(col("value")).cast("long").as("f1"),
        (col("event_id") % 4).cast("long").as("f2"),
        when(round(col("value")) <= 245, (col("event_id") % 4) * 10)
          .otherwise(lit(1000) - col("event_id") % 4).cast("long").as("y"),
        (c < "c").as("is_train"),
        (c >= "c").as("is_valid"))
      val (_, metrics) = graft.consumers.Trainer.fitBoostedEarlyStop(
        frame, Seq("f1", "f2"), "y", "is_train", "is_valid",
        maxRounds = ES_R, maxDepth = ES_D, patience = ES_PATIENCE)
      metrics.map(m => (m.round.toLong, m.nValid, m.sseValid, m.isBest))
        .toDF("round", "n_valid", "sse_valid", "is_best")
    },

    // THE TUNER SLICE (r16) — the reference TrainerManager's
    // hyperparameter search exactly graded end to end: a
    // reference-shaped YAML config (TrainerConfig/TunerConfig) parsed
    // by ConfigParser.parseTrainerYaml, candidates sampled
    // deterministically from its randint param space, one exact
    // ensemble fit per candidate on the train split and every
    // candidate's integer valid-SSE, all from ONE corpus pass (the
    // joint histogram keyed by the split flags), winner = argmin
    // (sse, trial). The oracle replays every trial's full boost chain
    // (prefixed CTE families) + the ranked election.
    "ml_tuner_best" -> QueryDef(TUNER_SQL) { (s, dir) =>
      import s.implicits._
      val c = substring(md5(col("event_id").cast("string")), 1, 1)
      val frame = Tables.events(s, dir).select(
        round(col("value")).cast("long").as("f1"),
        (col("event_id") % 97).cast("long").as("f2"),
        (when(round(col("value")) <= 245, (col("event_id") % 97) * 10)
          .otherwise(lit(1000) - col("event_id") % 97)
          + round(col("value")).cast("long")).cast("long").as("y"),
        (c < "8").as("is_train"),
        (c >= "8" && c < "d").as("is_valid"))
      val (_, trials) = graft.consumers.Trainer.tune(frame,
        Seq("f1", "f2"), "y", "is_train", "is_valid", TUNER_SPEC)
      trials.map(t => (t.trial.toLong, t.rounds.toLong, t.maxDepth.toLong,
          t.nValid, t.sseValid, t.isBest))
        .toDF("trial", "rounds", "max_depth", "n_valid", "sse_valid",
          "is_best")
    },

    // HONEST HOLDOUT EVALUATION (r16) — the learning curve a real
    // training run watches, exactly graded: rows split train/test by
    // the md5(event_id) side rule (75% train), the exact ensemble fits
    // on TRAIN ONLY, and every round-prefix ensemble 0..R scores the
    // HELD-OUT rows — integer n/SSE/sum-abs-error per round, one
    // corpus pass for all rounds (the prefix predictions are chained
    // CASE columns, codegen'd side by side). Oracle: the holdout
    // variant of the boost chain (fitting aggregates filter to train,
    // assignment routes all rows); designed + cross-checked in
    // tools/design_eval.py.
    "ml_eval_holdout" -> QueryDef(EVAL_HOLDOUT_SQL) { (s, dir) =>
      import s.implicits._
      val frame = Tables.events(s, dir).select(
        round(col("value")).cast("long").as("f1"),
        (col("event_id") % 97).cast("long").as("f2"),
        (when(round(col("value")) <= 245, (col("event_id") % 97) * 10)
          .otherwise(lit(1000) - col("event_id") % 97)
          + round(col("value")).cast("long")).cast("long").as("y"),
        (substring(md5(col("event_id").cast("string")), 1, 1) < "c")
          .as("is_train"))
      val model = graft.consumers.Trainer
        .fitBoosted(frame.filter(col("is_train")), Seq("f1", "f2"), "y",
          rounds = BOOST_R, maxDepth = BOOST_D)
      val aggs = (0 to BOOST_R).flatMap { k =>
        val d = col("y").cast("long") -
          model.copy(rounds = model.rounds.take(k)).predictColumn
        Seq(sum(d * d).as(s"sse$k"), sum(abs(d)).as(s"sae$k"))
      } :+ count(lit(1)).as("n")
      val r = frame.filter(!col("is_train"))
        .agg(aggs.head, aggs.tail: _*).collect()(0)
      (0 to BOOST_R).map { k =>
        (k.toLong, r.getAs[Long]("n"), r.getAs[Long](s"sse$k"),
          r.getAs[Long](s"sae$k"))
      }.toDF("round", "n_test", "sse_test", "sae_test")
    },

    // Gain-based feature importance (r16) — the XGBoost
    // get_score(importance_type='gain') surface over the exact
    // ensemble: per internal node sse - sse(left) - sse(right) (all
    // integer node stats), summed per feature across rounds; the
    // driver-side fold must match the oracle's parent-child join over
    // the replayed node union exactly.
    "ml_boost_importance" -> QueryDef(BOOST_IMPORTANCE_SQL) { (s, dir) =>
      import s.implicits._
      fittedBoost(s, dir).featureImportance.toSeq.sortBy(_._1)
        .toDF("feature", "gain")
    },

    // STREAMING MODEL INFERENCE (r16): the reference's
    // trainer -> inference_loop composition at ingest cadence — fit
    // the exact ensemble OFFLINE on the batch frame (the
    // doc_model_quality_stream discipline), then score every ARRIVING
    // event with the compiled predictColumn: base + one nested CASE
    // per round, stateless, zero streaming state, append drain. Same
    // BOOST_PREDICT_SQL oracle — the arrival engine must not change
    // one prediction (St4 kappa parity extended to model inference).
    "ml_boost_predict_stream" -> QueryDef(BOOST_PREDICT_SQL) { (s, dir) =>
      val model = fittedBoost(s, dir)
      val scored = treeCols(graft.streaming.Streaming.eventsStream(s, dir))
        .withColumn("pred", model.predictColumn)
      // noDataBatch off: stateless scoring map — nothing to finalize
      graft.streaming.Streaming.runAvailableNow(scored,
          outputMode = "append", noDataBatch = false)
        .groupBy("pred")
        .agg(count(lit(1)).as("n"), sum("y").as("sum_y"))
    },

    // THE NONLINEAR QUALITY FILTER (r16) — the trainer family composed
    // with the LLM-pipeline surface: doc_model_quality's DCLM shape
    // (hash-bounded seed, corpus-wide scoring) with the exact TREE in
    // place of the linear probe; every split decision and per-doc
    // verdict under the gate.
    "ml_doc_quality_tree" -> QueryDef(DQT_SQL) { (s, dir) =>
      import graft.operators.{TextAnalysis => TA}
      val feats = TA.modelFeatures(Tables.documents(s, dir), col("text"),
        col("doc_id"), (col("lang") === "en").cast("long"),
        graft.operators.Sampling.hashBound(0.6))
      val model = graft.consumers.Trainer.fitTree(
        feats.filter(col("is_seed")), Seq("n_words", "n_distinct"), "y",
        maxDepth = DQT_D)
      feats.withColumn("pred_micros", model.predictColumn)
        .withColumn("keep", col("pred_micros") >= 500000L)
        .select(col("doc_id"), col("n_words"), col("n_distinct"),
          col("y"), col("is_seed"), col("pred_micros"), col("keep"))
    },

    // REGISTRY-LOADED INFERENCE (r16): the full production loop —
    // fit -> ModelRegistry.register (typed frames as versioned
    // BlockCatalog blocks) -> loadAsOf -> score the STREAM with the
    // LOADED artifact — under the SAME oracle as the direct scorer:
    // a single micro-scaled serialization bug anywhere in the
    // registry round trip diverges the census. The svoe_mlflow_client
    // reproducibility surface graded end to end, not just spec-pinned.
    "ml_registry_predict_stream" -> QueryDef(BOOST_PREDICT_SQL) { (s, dir) =>
      val root = java.nio.file.Files.createTempDirectory("graft_regq")
      graft.streaming.Streaming.sweepOnExit(root)
      val cat = new graft.sources.BlockCatalog(s, root.toString)
      val ver = graft.consumers.ModelRegistry.register(cat, "boost_q",
        fittedBoost(s, dir))
      val loaded = graft.consumers.ModelRegistry
        .loadAsOf(cat, "boost_q", ver)
        .asInstanceOf[graft.consumers.Trainer.BoostedModel]
      val scored = treeCols(graft.streaming.Streaming.eventsStream(s, dir))
        .withColumn("pred", loaded.predictColumn)
      // noDataBatch off: stateless scoring map — nothing to finalize
      graft.streaming.Streaming.runAvailableNow(scored,
          outputMode = "append", noDataBatch = false)
        .groupBy("pred")
        .agg(count(lit(1)).as("n"), sum("y").as("sum_y"))
    },

    // §3.3 Trainer under the driver's exact compare: the distributed
    // normal-equations pass of the closed-form ridge fit (the
    // scale-critical treeAggregate; the driver-side solve is O(d^3)
    // local trivia). Integer-valued features make the sums exact, so
    // the (i, j, value) frame hash-matches 12 plain SQL sums.
    "ml_normal_eq" -> QueryDef(
      (for { i <- 0 until 3; j <- 0 to 3 } yield
        s"SELECT $i AS i, $j AS j, " +
          s"sum(${NE_XS(i)} * ${if (j < 3) NE_XS(j) else NE_Y}) AS value FROM events")
        .mkString("\nUNION ALL\n")) { (s, dir) =>
      val f = Tables.events(s, dir).select(
        round(col("value")).as("f1"),
        (col("event_id") % 97).cast("double").as("f2"),
        (round(col("value")) * 2 + (col("event_id") % 97) * 3 + lit(5)).as("y"))
      graft.consumers.Trainer.normalEquations(f, Seq("f1", "f2"), "y")
    },

    // The backtester consumer (§3.3) under the driver's exact compare:
    // one independent portfolio per instrument replaying a
    // deterministic long/flat strategy (target 1 when value > 50) at
    // mid price = round(value) with 0.1% commission — the full trade
    // log, cash/position state included. The Spark side runs the REAL
    // Simulator fold (Backtester.runKeyedTrades); the oracle replays
    // the identical state machine as a recursive CTE (same trick as
    // doc_pack_greedy/l2_book_replay). Every arithmetic op is replayed
    // in the same order with the same IEEE doubles, so cash matches
    // bit-for-bit with no rounding.
    "bt_trades" -> QueryDef(
      """WITH RECURSIVE e AS (
        |  SELECT event_type AS instrument, epoch_us(ts) AS ts_us,
        |    event_id AS seq, round(value) AS price,
        |    CASE WHEN value > 50 THEN 1.0 ELSE 0.0 END AS target,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events),
        |r AS (
        |  SELECT instrument, rn, ts_us, seq, price,
        |    target AS qty,
        |    abs(target) * price * 0.001 AS commission,
        |    CASE WHEN target = 0.0 THEN 0.0
        |         ELSE 0.0 - (target * price + abs(target) * price * 0.001)
        |    END AS cash,
        |    target AS position
        |  FROM e WHERE rn = 1
        |  UNION ALL
        |  SELECT e.instrument, e.rn, e.ts_us, e.seq, e.price,
        |    e.target - r.position,
        |    abs(e.target - r.position) * e.price * 0.001,
        |    CASE WHEN e.target = r.position THEN r.cash
        |         ELSE r.cash - ((e.target - r.position) * e.price
        |              + abs(e.target - r.position) * e.price * 0.001) END,
        |    e.target
        |  FROM r JOIN e ON e.instrument = r.instrument AND e.rn = r.rn + 1)
        |SELECT instrument, ts_us, seq, qty, price, commission, cash, position
        |FROM r WHERE qty <> 0""".stripMargin) { (s, dir) =>
      val fls = Tables.events(s, dir)
        .withColumn("ts_us", expr("ts div 1000"))
        .select(col("event_type").as("instrument"), col("ts_us"),
          col("event_id").as("seq"), round(col("value")).as("price"),
          when(col("value") > 50, 1.0).otherwise(0.0).as("target"))
      graft.consumers.Backtester.runKeyedTrades(fls, "instrument", "ts_us",
        "seq", "price", "target")
    },

    // A4 with a DuckDB oracle: restricted to SET/SNAPSHOT updates the
    // book fold is SQL-expressible (per level: last write <= T, alive
    // iff written at/after the last SNAPSHOT <= T). The Spark side runs
    // the REAL state machine (L2Book.replay) — so the stateful operator
    // itself is hash-checked against a declarative reconstruction.
    // Reconstruction must follow the fold's APPLY order (ts_us, seq) —
    // NOT okey, whose seq%1000 component inverts at same-microsecond
    // id wraps — and its wipe rule: the book clears at each SNAPSHOT
    // row that starts a run (different ts from the previous SNAPSHOT,
    // or any non-snapshot row intervened). Both caught by the
    // collision-stress corpus (a same-ts SET with seq below the
    // snapshot's is wiped; the old >= snap_ts rule kept it). The
    // HUGEINT key ts_us*1e9 + seq is exact for seq < 1e9.
    "l2_book_oracle" -> QueryDef(
      s"""WITH u AS (
         |  SELECT event_type AS instrument, epoch_us(ts) AS ts_us,
         |    event_id AS seq,
         |    CASE WHEN event_id % 50 = 0 THEN 'SNAPSHOT' ELSE 'SET' END AS update_type,
         |    CASE WHEN event_id % 2 = 0 THEN 'bid' ELSE 'ask' END AS side,
         |    round(value) AS price,
         |    1.0 + event_id % 5 AS size,
         |    epoch_us(ts)*1000 + event_id % 1000 AS okey
         |  FROM events),
         |em AS (
         |  SELECT instrument, (ts_us // ${H}) * ${H} AS bucket_us,
         |    max(ts_us) AS t_end
         |  FROM u GROUP BY 1, 2),
         |ordered AS (
         |  SELECT *, CAST(ts_us AS HUGEINT)*1000000000 + seq AS k,
         |    lag(update_type) OVER w AS prev_ut,
         |    lag(ts_us) OVER w AS prev_ts
         |  FROM u WINDOW w AS (PARTITION BY instrument ORDER BY ts_us, seq)),
         |wipes AS (
         |  SELECT instrument, ts_us, k FROM ordered
         |  WHERE update_type = 'SNAPSHOT'
         |    AND (prev_ut IS DISTINCT FROM 'SNAPSHOT'
         |         OR prev_ts IS DISTINCT FROM ts_us)),
         |lvl AS (
         |  SELECT e.instrument, e.bucket_us, o.side, o.price,
         |    arg_max(o.size, o.k) AS size,
         |    max(o.k) AS last_k
         |  FROM em e JOIN ordered o ON o.instrument = e.instrument AND o.ts_us <= e.t_end
         |  GROUP BY 1, 2, 3, 4),
         |wp AS (
         |  SELECT e.instrument, e.bucket_us, max(w.k) AS wipe_k
         |  FROM em e LEFT JOIN wipes w
         |    ON w.instrument = e.instrument AND w.ts_us <= e.t_end
         |  GROUP BY 1, 2),
         |alive AS (
         |  SELECT l.instrument, l.bucket_us, l.side, l.price, l.size
         |  FROM lvl l JOIN wp
         |    ON wp.instrument = l.instrument AND wp.bucket_us = l.bucket_us
         |  WHERE l.last_k >= coalesce(wp.wipe_k, 0))
         |SELECT instrument, bucket_us, side, rnk, price, size FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY instrument, bucket_us, side
         |    ORDER BY CASE WHEN side = 'bid' THEN -price ELSE price END) AS rnk
         |  FROM alive) t
         |WHERE rnk <= 5""".stripMargin) { (s, dir) =>
      val updates = graft.Tables.events(s, dir)
        .withColumn("ts_us", expr("ts div 1000"))
        .select(
          col("event_type").as("instrument"),
          col("ts_us"),
          col("event_id").as("seq"),
          when(col("event_id") % 50 === 0, "SNAPSHOT").otherwise("SET")
            .as("update_type"),
          when(col("event_id") % 2 === 0, "bid").otherwise("ask").as("side"),
          round(col("value")).as("price"),
          (lit(1.0) + col("event_id") % 5).as("size"))
      val snaps = L2Book.replay(updates, depth = 5, samplingUs = Some(H)).toDF()
        .withColumn("bucket_us", (col("ts_us") / H).cast("long") * H)
      def sideRows(arr: String, side: String) =
        snaps.select(col("instrument"), col("bucket_us"),
            posexplode(col(arr)).as(Seq("pos", "lvl")))
          .select(col("instrument"), col("bucket_us"), lit(side).as("side"),
            (col("pos") + 1).as("rnk"),
            col("lvl.price").as("price"), col("lvl.size").as("size"))
      sideRows("bids", "bid").unionByName(sideRows("asks", "ask"))
    },

    // A4 order-book replay + P6 mid-price + P7 spread, sampled hourly.
    // The FULL ADD/SET/SUB book replay, oracled — upgraded from
    // py-oracle in round 3. Key insight making it SQL-expressible:
    // level operations are independent ACROSS prices, so instead of
    // one recursive fold carrying the whole book, each (instrument,
    // bucket, side, price) level folds over ITS OWN updates within the
    // bucket's wipe window (wipe points as in l2_book_oracle; windows
    // stay short because snapshots recur every 50 events). The
    // recursive step replays exactly BookState.apply: SET/SNAPSHOT set
    // size, ADD adds to max(s,0), SUB subtracts from max(s,0), level
    // present iff s > 0 (overdrawn SUB removes; a later ADD restarts
    // from 0 — the non-linearity that forces a true fold).
    "l2_book_replay" -> QueryDef(L2_REPLAY_SQL) { (s, dir) =>
      val snaps = L2Book.replay(l2Updates(s, dir), depth = 5,
        samplingUs = Some(3600000000L)).toDF()
      snaps.select(
        col("instrument"), col("ts_us"),
        size(col("bids")).as("bid_depth"),
        size(col("asks")).as("ask_depth"),
        L2Book.midPrice(col("bids"), col("asks")).as("mid_price"),
        L2Book.relSpread(col("bids"), col("asks")).as("spread"))
    },

    // A4's STREAMING twin under the SAME oracle: the fMGWS book state
    // machine (Streaming.l2BookStream) drained over the events file
    // stream with AvailableNow emits one snapshot per distinct ts;
    // keeping the bucket-LAST snapshot per (instrument, hour)
    // reproduces the sampled batch replay exactly, so the recursive
    // per-level fold SQL that checks l2_book_replay checks the
    // streaming engine's state machine too.
    "l2_book_stream" -> QueryDef(L2_REPLAY_SQL) { (s, dir) =>
      import s.implicits._
      val updates = graft.streaming.Streaming.eventsStream(s, dir)
        .withColumn("ts_us", expr("ts div 1000"))
        .select(
          col("event_type").as("instrument"), col("ts_us"),
          col("event_id").as("seq"),
          when(col("event_id") % 50 === 0, "SNAPSHOT")
            .when(col("event_id") % 3 === 0, "ADD")
            .when(col("event_id") % 3 === 1, "SET")
            .otherwise("SUB").as("update_type"),
          when(col("event_id") % 2 === 0, "bid").otherwise("ask").as("side"),
          round(col("value")).as("price"),
          (lit(1.0) + col("event_id") % 5).as("size"))
        .as[L2Book.Update]
      // noDataBatch off: fMGWS emits per arrival; statePartitions =
      // |instruments| bound (the per-instrument book fold caps usable
      // parallelism at the instrument count whatever the shard count)
      val sink = graft.streaming.Streaming.runAvailableNow(
        graft.streaming.Streaming.l2BookStream(updates, depth = 5).toDF(),
        outputMode = "append", noDataBatch = false,
        statePartitions = Some(8))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("instrument"), (col("ts_us") / H).cast("long"))
        .orderBy(col("ts_us").desc)
      sink.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
        .select(
          col("instrument"), col("ts_us"),
          size(col("bids")).as("bid_depth"),
          size(col("asks")).as("ask_depth"),
          L2Book.midPrice(col("bids"), col("asks")).as("mid_price"),
          L2Book.relSpread(col("bids"), col("asks")).as("spread"))
    })

}

