package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Sessions.withConf
import graft.Staging.StagedDataFrame

/** Markov-chain (removal-effect) marketing attribution (Anderl, Becker,
  * v. Wangenheim & Schumann, "Mapping the customer journey", 2014; the
  * standard data-driven alternative to last-touch): model user journeys
  * as a first-order Markov chain over event types with absorbing CONV
  * (first purchase) and NULL (journey ends unconverted) states, compute
  * the chain's conversion probability from START, and credit each
  * channel/state x by its REMOVAL EFFECT — how much conversion drops
  * when every path through x is redirected to NULL.
  *
  * Arithmetic is EXACT scaled-integer end to end (the pagerank
  * contract): transition probabilities are nano-scaled integer
  * quotients (c·10⁹ DIV tot), and the K=24-step absorption fixed point
  * iterates p' = Σ_d P·val(d) DIV 10⁹ — products ≤ 10¹⁸ stay in int64,
  * every step is an order-independent BIGINT fold + integer division,
  * bit-identical across engines and partitionings. K-step truncation is
  * part of the operator definition (the k-step absorption probability,
  * monotone nondecreasing in K), not a float tolerance.
  *
  * 100 TB shape: the ONLY corpus-scale work is one events scan into
  * per-user windows (all PARTITION BY user_id — one exchange) that is
  * STAGED (localCheckpoint; two consumers: the LAG-pair branch and the
  * journey-terminal branch — the multi-consumer staging contract, DSIR
  * lesson). Everything downstream — the ≤(T+1)² transition matrix, the
  * ≤(T+1)-scenario replication, 24 iterations of ≤T²-row joins, the
  * single-row base join — is bounded by the event-type DOMAIN, never by
  * N. The scenario×matrix replication and final base join broadcast
  * (GlobalPlanSweepSpec allowlist).
  */
object MarkovAttribution {

  /** Per-user journey rows, truncated at the first purchase (inclusive):
    * (user_id, st, rn) with st = 'CONV' for purchase. Both downstream
    * consumers read the STAGED result of this text, never re-derive it.
    * The two windows (rn, first-CONV position) share one user_id
    * exchange.
    */
  private val keptSql: String =
    """WITH e AS (SELECT user_id, ts, event_id,
      |                  CASE WHEN event_type = 'purchase' THEN 'CONV' ELSE event_type END AS st
      |           FROM events),
      |r AS (SELECT user_id, st,
      |             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |      FROM e),
      |x AS (SELECT user_id, st, rn,
      |             MIN(CASE WHEN st = 'CONV' THEN rn END)
      |               OVER (PARTITION BY user_id) AS crn
      |      FROM r)
      |SELECT user_id, st, rn FROM x WHERE crn IS NULL OR rn <= crn""".stripMargin

  /** Scenario-replicated nano-scaled transition matrix over the staged
    * journey rows: (scn, s, d, p9) for scn ∈ {BASE} ∪ transient states,
    * with scenario x dropping every transition OUT OF x (paths reaching
    * x then find no continuation → the LEFT-join val treats x as an
    * absorbing 0, exactly the removal-effect definition).
    */
  private def matrixSql(kept: String, intDiv: String): String =
    s"""WITH t AS (SELECT COALESCE(LAG(st) OVER (PARTITION BY user_id ORDER BY rn), 'START') AS s,
       |                  st AS d
       |           FROM $kept
       |           UNION ALL
       |           SELECT st AS s, 'NULL' AS d
       |           FROM (SELECT user_id, st, rn,
       |                        MAX(rn) OVER (PARTITION BY user_id) AS mx
       |                 FROM $kept) z
       |           WHERE rn = mx AND st <> 'CONV'),
       |c AS (SELECT s, d, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY s, d),
       |pm AS (SELECT s, d,
       |              CAST((c * 1000000000) $intDiv SUM(c) OVER (PARTITION BY s) AS BIGINT) AS p9
       |       FROM c),
       |scn AS (SELECT DISTINCT s AS scn FROM pm WHERE s <> 'START'
       |        UNION ALL SELECT 'BASE' AS scn)
       |SELECT scn.scn, pm.s, pm.d, pm.p9 FROM scn JOIN pm ON pm.s <> scn.scn""".stripMargin

  /** One absorption iteration: p'(scn, s) = Σ_d P(s,d)·val(d) DIV 10⁹
    * with val(CONV) = 10⁹, val(NULL) = val(removed) = 0 (no p-row).
    */
  private def iterSql(m: String, p: String, intDiv: String): String =
    s"""SELECT m.scn, m.s,
       |       CAST(SUM(m.p9 * CASE WHEN m.d = 'CONV' THEN 1000000000
       |                            ELSE COALESCE(p.v, CAST(0 AS BIGINT)) END)
       |            $intDiv 1000000000 AS BIGINT) AS v
       |FROM $m m LEFT JOIN $p p ON m.scn = p.scn AND m.d = p.s
       |GROUP BY m.scn, m.s""".stripMargin

  /** Final readout rides windows over the ≤(T+1)-row START column of the
    * absorption table — no join at all (a CROSS JOIN against the 1-row
    * BASE slice planned as CartesianProduct; the sweep pins its absence).
    */
  private def finalSql(p: String, intDiv: String): String =
    s"""WITH st AS (SELECT scn, v,
       |                   MAX(CASE WHEN scn = 'BASE' THEN v END) OVER () AS vb
       |            FROM $p WHERE s = 'START'),
       |re AS (SELECT scn AS state, vb, v,
       |              GREATEST(CAST(0 AS BIGINT), vb - v) AS eff
       |       FROM st WHERE scn <> 'BASE')
       |SELECT state, vb AS base_conv_nano, v AS removed_conv_nano, eff AS effect_nano,
       |       CAST((eff * 10000) $intDiv GREATEST(CAST(1 AS BIGINT), SUM(eff) OVER ()) AS BIGINT) AS share_bp
       |FROM re ORDER BY state""".stripMargin

  private val K = 24

  private def markovSpark(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    // Staged journey rows: ONE corpus exchange, two bounded consumers.
    s.sql(keptSql).staged().createOrReplaceTempView("graft_mk_kept")
    s.sql(matrixSql("graft_mk_kept", "DIV"))
      .staged().createOrReplaceTempView("graft_mk_m")
    // The K=24 absorption rounds run over the ≤(T+1)²-row matrix —
    // domain-bounded at ANY corpus scale, so the right shuffle width is 1
    // and AQE's per-stage re-optimization is pure overhead (guide §2.2
    // task-count floor / §1.2 config after algorithm; r11 verdict #6).
    // Neither knob can change results: every round is a deterministic
    // integer fold + division, order-independent under any partitioning.
    withConf(s, "spark.sql.shuffle.partitions" -> "1", "spark.sql.adaptive.enabled" -> "false") {
      var p = s.sql(
        "SELECT scn, s, CAST(0 AS BIGINT) AS v FROM graft_mk_m WHERE 1 = 0")
      for (_ <- 1 to K) {
        p.createOrReplaceTempView("graft_mk_p")
        p = s.sql(iterSql("graft_mk_m", "graft_mk_p", "DIV")).staged()
      }
      p.createOrReplaceTempView("graft_mk_p")
    }
    s.sql(finalSql("graft_mk_p", "DIV"))
  }

  /** Unrolled K-iteration DuckDB oracle: identical integer arithmetic
    * over MATERIALIZED kept/matrix CTEs (multi-consumer staging on the
    * oracle side too — the kcore lesson).
    */
  private def markovDuck: String = {
    val iters = (1 to K).map { i =>
      val prev =
        if (i == 1) "(SELECT mm.scn AS scn, mm.s AS s, CAST(0 AS BIGINT) AS v FROM mm WHERE 1 = 0)"
        else s"p${i - 1}"
      s"p$i AS (${iterSql("mm", prev, "//")})"
    }.mkString(",\n")
    s"""WITH kept AS MATERIALIZED ($keptSql),
       |mm AS MATERIALIZED (${matrixSql("kept", "//")}),
       |$iters,
       |${finalSql(s"p$K", "//").stripPrefix("WITH ")}""".stripMargin
  }

  val specs: Map[String, QuerySpec] = Map(
    "q_events_markov_attribution" -> QuerySpec.df(markovSpark, markovDuck))
}
