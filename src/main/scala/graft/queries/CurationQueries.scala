package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.{AsOfJoin, Raking, Sampling}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Corpus-curation plane (round 3): the operators a training-data
  * pipeline runs BETWEEN ingest and training — temporal feature joins,
  * deterministic sampling/rebalancing, corpus statistics, and the
  * composed filter→dedup→report pipeline. All oracle-checked; the
  * sampling queries derive randomness from md5(id) so every engine
  * draws the identical sample (no rand()).
  */
object CurationQueries {

  // ---- as-of join (temporal feature attachment) ----

  /** Each purchase paired with the same user's most recent view
    * at-or-before the purchase (null when none) — the "state as of
    * event time" join, via AsOfJoin's single-shuffle union-scan shape
    * (never the exploding range join). */
  def asofViewBeforePurchase(t: Tables): DataFrame = {
    import t.spark.implicits._
    val purchases = t.events.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts")
    val views = t.events.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts",
              unix_millis($"ts").as("view_ms"))
    AsOfJoin.asOfBackward(purchases, views, key = "user_id",
        leftTs = "ts", rightTs = "ts", rightSeq = "view_id",
        rightCols = Seq("view_id", "view_ms"))
      .select($"user_id", $"purchase_id", unix_millis($"ts").as("purchase_ms"),
              $"asof_view_id".as("view_id"), $"asof_view_ms".as("view_ms"))
      .orderBy($"user_id", $"purchase_id")
  }

  /** qa06: the NEAREST view around each purchase — either side of the
    * probe ([[AsOfJoin.asOfNearest]]): attribution semantics where a
    * view 1 s after the purchase event (clock skew, late arrival)
    * beats one 2 h before. Two union-scan passes joined on the unique
    * probe id, winner picked scan-locally from each match's carried
    * epoch-ms; backward wins exact distance ties. The oracle ranks all
    * same-user views by |Δms| with the operator's side-specific seq
    * tie rules spelled out in the ORDER BY. */
  def asofNearestView(t: Tables): DataFrame = {
    import t.spark.implicits._
    val purchases = t.events.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts",
              unix_millis($"ts").as("purchase_ms"))
    val views = t.events.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts",
              unix_millis($"ts").as("view_ms"))
    AsOfJoin.asOfNearest(purchases, views, key = "user_id",
        probeId = "purchase_id", leftTs = "ts", rightTs = "ts",
        rightSeq = "view_id", rightCols = Seq("view_id", "view_ms"),
        rightMs = "view_ms", leftMsCol = "purchase_ms")
      .select($"user_id", $"purchase_id", $"purchase_ms",
              $"asof_view_id".as("view_id"), $"asof_view_ms".as("view_ms"))
      .orderBy($"user_id", $"purchase_id")
  }

  val asofNearestViewSql: String =
    """WITH p AS (SELECT user_id, event_id purchase_id,
      |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) pms
      |  FROM events WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, event_id view_id,
      |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) vms
      |  FROM events WHERE event_type = 'view'),
      |cand AS (SELECT p.purchase_id, v.view_id, v.vms,
      |    row_number() OVER (PARTITION BY p.purchase_id
      |      ORDER BY abs(v.vms - p.pms),
      |               CASE WHEN v.vms <= p.pms THEN 0 ELSE 1 END,
      |               CASE WHEN v.vms <= p.pms THEN -v.view_id ELSE v.view_id END) rn
      |  FROM p JOIN v ON v.user_id = p.user_id)
      |SELECT p.user_id, p.purchase_id, p.pms AS purchase_ms,
      |  c.view_id, c.vms AS view_ms
      |FROM p LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c
      |  ON c.purchase_id = p.purchase_id
      |ORDER BY p.user_id, p.purchase_id""".stripMargin

  /** qa07: feature-serving coverage census — the SLO read over the
    * as-of family: every purchase probe classified FRESH (a view
    * within the 30-minute tolerance), STALE (a view exists but too
    * old — qa05 would null it), or MISS (no view at all), with
    * fractions. One backward as-of join (the stale/miss split is a
    * scan-local test on the match's carried epoch-ms — qa05's
    * machinery read as a census instead of a null-out), one 3-row
    * aggregation. The number a feature-store dashboard actually
    * shows. */
  def asofCoverage(t: Tables): DataFrame = {
    import t.spark.implicits._
    val purchases = t.events.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts",
              unix_millis($"ts").as("purchase_ms"))
    val views = t.events.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts",
              unix_millis($"ts").as("view_ms"))
    val joined = AsOfJoin.asOfBackward(purchases, views, key = "user_id",
        leftTs = "ts", rightTs = "ts", rightSeq = "view_id",
        rightCols = Seq("view_id", "view_ms"))
      .select(
        when($"asof_view_id".isNull, lit("miss"))
          .when($"purchase_ms" - $"asof_view_ms" > 1800000L, lit("stale"))
          .otherwise(lit("fresh")).as("verdict"))
    val total = joined.agg(count(lit(1)).as("n_total"))
    joined.groupBy($"verdict").agg(count(lit(1)).as("n_probes"))
      .crossJoin(broadcast(total))
      .select($"verdict", $"n_probes",
        round($"n_probes".cast("double") / $"n_total".cast("double"), 6)
          .as("frac"))
      .orderBy($"verdict")
  }

  val asofCoverageSql: String =
    """WITH e AS (
      |  SELECT user_id, CASE WHEN event_type='view' THEN 0 ELSE 1 END m,
      |         event_id, CAST(ts AS TIMESTAMP) ts
      |  FROM events WHERE event_type IN ('view','purchase')),
      |p AS (SELECT user_id, event_id purchase_id, ts,
      |    CAST(epoch_ms(ts) AS BIGINT) pms FROM e WHERE m = 1),
      |v AS (SELECT user_id, event_id view_id, ts,
      |    CAST(epoch_ms(ts) AS BIGINT) vms FROM e WHERE m = 0),
      |best AS (SELECT p.purchase_id, p.pms, v.vms,
      |    ROW_NUMBER() OVER (PARTITION BY p.purchase_id
      |      ORDER BY v.vms DESC, v.view_id DESC) rn
      |  FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.vms <= p.pms),
      |cls AS (SELECT CASE WHEN vms IS NULL THEN 'miss'
      |                    WHEN pms - vms > 1800000 THEN 'stale'
      |                    ELSE 'fresh' END verdict
      |  FROM best WHERE rn = 1),
      |tot AS (SELECT CAST(COUNT(*) AS BIGINT) n_total FROM cls)
      |SELECT verdict, CAST(COUNT(*) AS BIGINT) n_probes,
      |  round(CAST(COUNT(*) AS DOUBLE) / CAST(tot.n_total AS DOUBLE), 6) frac
      |FROM cls CROSS JOIN tot GROUP BY verdict, tot.n_total
      |ORDER BY verdict""".stripMargin

  /** qa05: qa01's join under a 30-minute staleness tolerance — the
    * feature-store serving contract: a last view older than 30 minutes
    * at purchase time is as good as absent, so the attached columns
    * null out. Same one-exchange union scan; the staleness test is a
    * scan-local projection over the match's own carried epoch-ms. */
  def asofViewBeforePurchaseTolerant(t: Tables): DataFrame = {
    import t.spark.implicits._
    val purchases = t.events.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts")
    val views = t.events.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts",
              unix_millis($"ts").as("view_ms"))
    AsOfJoin.asOfBackwardTolerant(purchases, views, key = "user_id",
        leftTs = "ts", rightTs = "ts", rightSeq = "view_id",
        rightCols = Seq("view_id", "view_ms"), rightMs = "view_ms",
        toleranceMs = 1800000L)
      .select($"user_id", $"purchase_id", unix_millis($"ts").as("purchase_ms"),
              $"asof_view_id".as("view_id"), $"asof_view_ms".as("view_ms"))
      .orderBy($"user_id", $"purchase_id")
  }

  val asofViewBeforePurchaseTolerantSql: String =
    """WITH e AS (
      |  SELECT user_id, CASE WHEN event_type='view' THEN 0 ELSE 1 END m,
      |         event_id, CAST(ts AS TIMESTAMP) ts
      |  FROM events WHERE event_type IN ('view','purchase')),
      |t AS (SELECT *, CASE WHEN m=0 THEN event_id END seq FROM e),
      |w AS (SELECT *,
      |    last_value(CASE WHEN m=0 THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts ASC, m ASC, seq ASC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) view_id,
      |    last_value(CASE WHEN m=0 THEN epoch_ms(ts) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts ASC, m ASC, seq ASC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) view_ms
      |  FROM t)
      |SELECT user_id, event_id AS purchase_id, epoch_ms(ts) AS purchase_ms,
      |  CASE WHEN epoch_ms(ts) - view_ms <= 1800000 THEN view_id END AS view_id,
      |  CASE WHEN epoch_ms(ts) - view_ms <= 1800000 THEN view_ms END AS view_ms
      |FROM w WHERE m = 1 ORDER BY user_id, purchase_id""".stripMargin

  /** qa02: the SAME join through the skew-safe salted path (8 time-range
    * salts + boundary carry-in) — checked against the IDENTICAL oracle
    * as qa01, which is the cross-engine proof that salting is an
    * execution-layout choice with zero semantic surface. */
  def asofViewBeforePurchaseSalted(t: Tables): DataFrame = {
    import t.spark.implicits._
    val purchases = t.events.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts")
    val views = t.events.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts",
              unix_millis($"ts").as("view_ms"))
    AsOfJoin.asOfBackwardSalted(purchases, views, key = "user_id",
        leftTs = "ts", rightTs = "ts", rightSeq = "view_id",
        rightCols = Seq("view_id", "view_ms"), salts = 8)
      .select($"user_id", $"purchase_id", unix_millis($"ts").as("purchase_ms"),
              $"asof_view_id".as("view_id"), $"asof_view_ms".as("view_ms"))
      .orderBy($"user_id", $"purchase_id")
  }

  /** qa03: forward as-of — each purchase paired with the user's FIRST
    * view at-or-after it (the "next action" join: follow-up behavior,
    * conversion attribution windows). */
  def asofViewAfterPurchase(t: Tables): DataFrame = {
    import t.spark.implicits._
    val purchases = t.events.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts")
    val views = t.events.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts",
              unix_millis($"ts").as("view_ms"))
    AsOfJoin.asOfForward(purchases, views, key = "user_id",
        leftTs = "ts", rightTs = "ts", rightSeq = "view_id",
        rightCols = Seq("view_id", "view_ms"))
      .select($"user_id", $"purchase_id", unix_millis($"ts").as("purchase_ms"),
              $"asof_view_id".as("view_id"), $"asof_view_ms".as("view_ms"))
      .orderBy($"user_id", $"purchase_id")
  }

  /** qa04: the forward join through ITS salted path — qa03's oracle
    * byte-identical, the same execution-layout-invisibility proof as
    * qa02. */
  def asofViewAfterPurchaseSalted(t: Tables): DataFrame = {
    import t.spark.implicits._
    val purchases = t.events.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts")
    val views = t.events.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), $"ts",
              unix_millis($"ts").as("view_ms"))
    AsOfJoin.asOfForwardSalted(purchases, views, key = "user_id",
        leftTs = "ts", rightTs = "ts", rightSeq = "view_id",
        rightCols = Seq("view_id", "view_ms"), salts = 8)
      .select($"user_id", $"purchase_id", unix_millis($"ts").as("purchase_ms"),
              $"asof_view_id".as("view_id"), $"asof_view_ms".as("view_ms"))
      .orderBy($"user_id", $"purchase_id")
  }

  /** Oracle mirrors the union-scan construction itself: one running
    * last-non-null per user over (ts, marker, seq) — views (marker 0)
    * sort before same-ts purchases so "at-or-before" is inclusive;
    * among equal-ts views the NATIVE-type max seq wins in both engines
    * (purchase rows carry a NULL seq — their mutual order is
    * irrelevant, the marker already separates them from views). */
  val asofViewBeforePurchaseSql: String =
    """WITH e AS (
      |  SELECT user_id, CASE WHEN event_type='view' THEN 0 ELSE 1 END m,
      |         event_id, CAST(ts AS TIMESTAMP) ts
      |  FROM events WHERE event_type IN ('view','purchase')),
      |t AS (SELECT *, CASE WHEN m=0 THEN event_id END seq FROM e),
      |w AS (SELECT *,
      |    last_value(CASE WHEN m=0 THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts ASC, m ASC, seq ASC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) view_id,
      |    last_value(CASE WHEN m=0 THEN epoch_ms(ts) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts ASC, m ASC, seq ASC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) view_ms
      |  FROM t)
      |SELECT user_id, event_id AS purchase_id, epoch_ms(ts) AS purchase_ms, view_id, view_ms
      |FROM w WHERE m = 1 ORDER BY user_id, purchase_id""".stripMargin

  /** qa03 oracle: the mirrored scan — ts DESC so the running last
    * becomes "earliest at-or-after", seq DESC so the smallest view id
    * wins equal-ts ties (the deterministic argmin). */
  val asofViewAfterPurchaseSql: String =
    """WITH e AS (
      |  SELECT user_id, CASE WHEN event_type='view' THEN 0 ELSE 1 END m,
      |         event_id, CAST(ts AS TIMESTAMP) ts
      |  FROM events WHERE event_type IN ('view','purchase')),
      |t AS (SELECT *, CASE WHEN m=0 THEN event_id END seq FROM e),
      |w AS (SELECT *,
      |    last_value(CASE WHEN m=0 THEN event_id END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts DESC, m ASC, seq DESC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) view_id,
      |    last_value(CASE WHEN m=0 THEN epoch_ms(ts) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts DESC, m ASC, seq DESC
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) view_ms
      |  FROM t)
      |SELECT user_id, event_id AS purchase_id, epoch_ms(ts) AS purchase_ms, view_id, view_ms
      |FROM w WHERE m = 1 ORDER BY user_id, purchase_id""".stripMargin

  // ---- deterministic sampling ----

  private val StratRates = Map(
    "en" -> 0.25, "de" -> 0.5, "es" -> 0.5, "fr" -> 0.75, "zh" -> 0.75)

  /** Stratified Bernoulli sample at fixed per-language rates — a pure
    * scan-level filter, zero shuffle. */
  def stratifiedSample(t: Tables): DataFrame = {
    import t.spark.implicits._
    Sampling.stratifiedSample(t.documents, "lang", "doc_id", StratRates)
      .select($"doc_id", $"lang").orderBy($"doc_id")
  }

  val stratifiedSampleSql: String =
    """WITH u AS (SELECT doc_id, lang,
      |    list_sum(list_transform(range(0,4), i ->
      |      (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), i+1, 1)) - 1) * power(16, 3-i)
      |    )) / 65536.0 AS u
      |  FROM documents)
      |SELECT doc_id, lang FROM u
      |WHERE u < CASE lang WHEN 'en' THEN 0.25 WHEN 'de' THEN 0.5 WHEN 'es' THEN 0.5
      |                    WHEN 'fr' THEN 0.75 WHEN 'zh' THEN 0.75 END
      |ORDER BY doc_id""".stripMargin

  /** qp17: temperature-based mixture sampling APPLIED — qp11 prices
    * the temperature weights; this EXECUTES the mix:
    * [[Sampling.temperatureMix]] (α=0.5, budget=2000 docs) over the
    * source strata. q_s ∝ n_s^α flattens the source distribution (the
    * XLM/mT5 low-resource upsampling move), each source keeps
    * min(1, budget·q_s/n_s) of its docs via the md5 draw. Output is
    * the per-source mix table + exact kept counts; the oracle replays
    * the census → pow → normalize → rate → draw chain with the same
    * 1e-9 rate rounding the engine applies before comparing (pow can
    * differ in the last ulp across engines — the Unigram-logp
    * discipline). */
  def temperatureMixApplied(t: Tables): DataFrame = {
    import t.spark.implicits._
    Sampling.temperatureMix(t.documents, "source", "doc_id", alpha = 0.5, budget = 2000L)
      .groupBy($"source")
      .agg(first($"n_orig").as("n_orig"), first($"q_temp").as("q_temp"),
        first($"rate").as("rate"), sum($"kept".cast("long")).as("n_kept"))
      .orderBy($"source")
  }

  val temperatureMixAppliedSql: String =
    """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) n_orig FROM documents GROUP BY source),
      |p AS (SELECT source, n_orig, pow(CAST(n_orig AS DOUBLE), 0.5) w FROM c),
      |z AS (SELECT CAST(SUM(CAST(w AS DECIMAL(30,9))) AS DOUBLE) z FROM p),
      |r AS (SELECT source, n_orig, round(w / z, 9) q_temp,
      |    round(least(1.0, 2000.0 * (w / z) / CAST(n_orig AS DOUBLE)), 9) rate
      |  FROM p, z),
      |u AS (SELECT doc_id, source,
      |    list_sum(list_transform(range(0,4), i ->
      |      (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), i+1, 1)) - 1) * power(16, 3-i)
      |    )) / 65536.0 AS u
      |  FROM documents)
      |SELECT r.source AS source, r.n_orig, r.q_temp, r.rate,
      |  CAST(SUM(CASE WHEN u.u < r.rate THEN 1 ELSE 0 END) AS BIGINT) n_kept
      |FROM u JOIN r ON u.source = r.source
      |GROUP BY r.source, r.n_orig, r.q_temp, r.rate
      |ORDER BY source""".stripMargin

  /** qx01: the corpus-build pipeline COMPOSED end to end — every stage
    * is an operator the gate already proves in isolation, now chained
    * the way a real training-data build runs them, with the oracle
    * replaying the ENTIRE funnel so stage boundaries can't hide drift:
    *   1. quality gate (qt discipline): wc ≥ 20 and 3 ≤ chars/token
    *      ≤ 12 as pure INTEGER comparisons (tl between 3·wc and
    *      12·wc) — no float thresholds to disagree on;
    *   2. exact dedup (qd01 discipline): min doc_id per
    *      md5(lower(trim(text))) via one window;
    *   3. temperature mix ([[Sampling.temperatureMix]], α=0.5,
    *      budget=1000) over the SURVIVORS — the composed operator
    *      itself, not a re-implementation;
    *   4. report: per source, the funnel's shape (n_raw → n_quality →
    *      n_unique → n_sampled) + sampled whitespace tokens.
    * At 100 TB each stage is the same scan-local/window/broadcast
    * plan the individual gates pin; the composition adds NO new
    * shuffle beyond its stages' own. */
  def corpusBuild(t: Tables): DataFrame =
    corpusBuildFrom(t.documents)

  /** [[corpusBuild]] over ANY documents-shaped frame (doc_id, source,
    * text) — the same composed funnel fed by other ingestion fronts:
    * [[graft.sources.WarcSource.asDocuments]] bridges a raw crawl
    * straight into this (WarcCorpusSpec pins crawl→curation end to
    * end, batch and streaming). */
  def corpusBuildFrom(documents: DataFrame, budget: Long = 1000L): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    import graft.functions.TextFunctions.tokens
    // ONE pass over the text bytes: token count, trimmed length, and
    // the dedup hash in the same scan-local projection, checkpointed
    // as ~100 B/doc metadata. Everything downstream (gate, window
    // dedup, all report counts) reads the narrow frame — the corpus
    // is tokenized once and its bytes never enter a shuffle (measured
    // in NOTES_r10: curate wall 52.6 s → metadata-sized once the
    // text column stops riding through the window).
    val raw = documents.select($"doc_id", $"source",
      size(tokens($"text")).cast("long").as("wc"),
      length(trim($"text")).cast("long").as("tl"),
      md5(lower(trim($"text"))).as("h"))
      .localCheckpoint()
    val qualityCond = $"wc" >= 20 && $"tl" >= $"wc" * 3 && $"tl" <= $"wc" * 12
    val quality = raw.filter(qualityCond)
    val w = Window.partitionBy($"h").orderBy($"doc_id")
    val unique = quality.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"doc_id", $"source", $"wc").localCheckpoint()
    val mixed = graft.operators.Sampling
      .temperatureMix(unique, "source", "doc_id", alpha = 0.5, budget = budget)
    val sampled = mixed.filter($"kept").select($"doc_id", $"source")
      .join(unique.select($"doc_id", $"wc"), Seq("doc_id"))
    // raw + quality counts from one map-side-combined pass over the
    // checkpointed metadata
    val rqC = raw.groupBy($"source").agg(
      count(lit(1)).as("n_raw"),
      count(when(qualityCond, 1)).as("n_quality"))
    val uC = unique.groupBy($"source").agg(count(lit(1)).as("n_unique"))
    val sC = sampled.groupBy($"source")
      .agg(count(lit(1)).as("n_sampled"), sum($"wc").as("tokens_sampled"))
    // the per-source count frames are metadata-sized — broadcast them
    // so the report is exchange-free regardless of stats
    rqC.join(broadcast(uC), Seq("source"), "left")
      .join(broadcast(sC), Seq("source"), "left")
      .select($"source", $"n_raw", $"n_quality",
        coalesce($"n_unique", lit(0L)).as("n_unique"),
        coalesce($"n_sampled", lit(0L)).as("n_sampled"),
        coalesce($"tokens_sampled", lit(0L)).as("tokens_sampled"))
      .orderBy($"source")
  }

  val corpusBuildSql: String =
    """WITH raw AS (SELECT doc_id, source, text,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) wc,
      |    CAST(length(trim(text)) AS BIGINT) tl FROM documents),
      |q AS (SELECT * FROM raw WHERE wc >= 20 AND tl >= wc*3 AND tl <= wc*12),
      |u AS (SELECT doc_id, source, wc FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) rn
      |    FROM q) WHERE rn = 1),
      |cnt AS (SELECT source, CAST(COUNT(*) AS BIGINT) n_orig FROM u GROUP BY 1),
      |p AS (SELECT source, n_orig, pow(CAST(n_orig AS DOUBLE), 0.5) w FROM cnt),
      |z AS (SELECT CAST(SUM(CAST(w AS DECIMAL(30,9))) AS DOUBLE) z FROM p),
      |r AS (SELECT source, round(least(1.0, 1000.0 * (w / z) / CAST(n_orig AS DOUBLE)), 9) rate
      |  FROM p, z),
      |d AS (SELECT u.doc_id, u.source, u.wc,
      |    list_sum(list_transform(range(0,4), i ->
      |      (strpos('0123456789abcdef', substr(md5(u.doc_id::VARCHAR), i+1, 1)) - 1) * power(16, 3-i)
      |    )) / 65536.0 AS uu FROM u),
      |s AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) n_sampled, CAST(SUM(d.wc) AS BIGINT) tokens
      |  FROM d JOIN r USING (source) WHERE d.uu < r.rate GROUP BY 1),
      |rc AS (SELECT source, CAST(COUNT(*) AS BIGINT) n_raw FROM raw GROUP BY 1),
      |qc AS (SELECT source, CAST(COUNT(*) AS BIGINT) n_quality FROM q GROUP BY 1)
      |SELECT rc.source AS source, rc.n_raw,
      |  CAST(COALESCE(qc.n_quality, 0) AS BIGINT) AS n_quality,
      |  CAST(COALESCE(cnt.n_orig, 0) AS BIGINT) AS n_unique,
      |  CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled,
      |  CAST(COALESCE(s.tokens, 0) AS BIGINT) AS tokens_sampled
      |FROM rc LEFT JOIN qc USING (source) LEFT JOIN cnt USING (source) LEFT JOIN s USING (source)
      |ORDER BY source""".stripMargin

  /** qp18: sequence-packing placements — [[Packing.packPlacements]]
    * under the GPT concat-and-chunk layout (seqLen=512, one separator
    * token per doc, md5 pack order): where every doc lands in the
    * fixed-length training-sequence stream. All-integer prefix-sum
    * math, oracle-exact. */
  def sequencePacking(t: Tables): DataFrame = {
    import t.spark.implicits._
    val costed = t.documents.select($"doc_id",
      graft.operators.Packing.wsTokens($"text").as("n_toks"))
    graft.operators.Packing.packPlacements(costed, "doc_id", "n_toks", seqLen = 512)
      .select($"doc_id", $"n_tokens", $"start_off", $"first_seq", $"last_seq",
        $"crosses_boundary")
      .orderBy($"doc_id")
  }

  private val packedStreamSql: String =
    """t AS (SELECT doc_id,
      |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0)) AS BIGINT) n_tokens
      |  FROM documents),
      |s AS (SELECT doc_id, n_tokens,
      |    SUM(n_tokens + 1) OVER (ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
      |  FROM t),
      |pl AS (SELECT doc_id, n_tokens,
      |    CAST(e - n_tokens - 1 AS BIGINT) AS start_off,
      |    CAST((e - n_tokens - 1) // 512 AS BIGINT) AS first_seq,
      |    CAST(greatest(e - 2, e - n_tokens - 1) // 512 AS BIGINT) AS last_seq
      |  FROM s)""".stripMargin

  val sequencePackingSql: String =
    s"""WITH $packedStreamSql
       |SELECT doc_id, n_tokens, start_off, first_seq, last_seq,
       |  first_seq <> last_seq AS crosses_boundary
       |FROM pl ORDER BY doc_id""".stripMargin

  /** qp19: the packing-efficiency report ([[Packing.packingReport]]):
    * sequence count, straddle fraction, tail-padding waste — the
    * numbers a context-length/batch decision actually consumes. */
  def packingReport(t: Tables): DataFrame = {
    import t.spark.implicits._
    val costed = t.documents.select($"doc_id",
      graft.operators.Packing.wsTokens($"text").as("n_toks"))
    graft.operators.Packing.packingReport(costed, "doc_id", "n_toks", seqLen = 512)
  }

  val packingReportSql: String =
    s"""WITH $packedStreamSql
       |SELECT CAST(COUNT(*) AS BIGINT) n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) n_tokens,
       |  CAST(MAX(last_seq) + 1 AS BIGINT) n_sequences,
       |  CAST(SUM(CASE WHEN first_seq <> last_seq THEN 1 ELSE 0 END) AS BIGINT) n_straddling,
       |  round(AVG(CASE WHEN first_seq <> last_seq THEN 1.0 ELSE 0.0 END), 6) straddle_frac,
       |  round(CAST(GREATEST((MAX(last_seq) + 1) * 512 - (SUM(n_tokens) + COUNT(*)), 0) AS DOUBLE) /
       |        CAST((MAX(last_seq) + 1) * 512 AS DOUBLE), 6) pad_frac
       |FROM pl""".stripMargin

  /** Fixed-size-20 deterministic reservoir per language (two-phase
    * salted top-k: no task ever sorts a whole stratum). */
  def reservoirSample(t: Tables): DataFrame = {
    import t.spark.implicits._
    Sampling.reservoirPerKey(t.documents, "lang", "doc_id", k = 20)
      .orderBy($"lang", $"rk")
  }

  val reservoirSampleSql: String =
    """SELECT lang, doc_id, rk FROM (
      |  SELECT lang, doc_id,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC) AS BIGINT) rk
      |  FROM documents)
      |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin

  /** Mixture rebalance audit: every language deterministically
    * downsampled to the smallest stratum's size (rate = min/n). */
  def mixtureSample(t: Tables): DataFrame = {
    import t.spark.implicits._
    Sampling.mixtureEqualize(t.documents, "lang", "doc_id").orderBy($"lang")
  }

  val mixtureSampleSql: String =
    """WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) n_orig FROM documents GROUP BY lang),
      |m AS (SELECT MIN(n_orig) mn FROM c),
      |r AS (SELECT lang, n_orig, CAST(mn AS DOUBLE)/CAST(n_orig AS DOUBLE) rate FROM c CROSS JOIN m),
      |u AS (SELECT d.lang, d.doc_id, r.n_orig, r.rate,
      |    list_sum(list_transform(range(0,4), i ->
      |      (strpos('0123456789abcdef', substr(md5(d.doc_id::VARCHAR), i+1, 1)) - 1) * power(16, 3-i)
      |    )) / 65536.0 AS u
      |  FROM documents d JOIN r USING (lang))
      |SELECT lang, MAX(n_orig) AS n_orig, round(MAX(rate), 6) AS rate, CAST(COUNT(*) AS BIGINT) AS n_kept
      |FROM u WHERE u < rate GROUP BY lang ORDER BY lang""".stripMargin

  /** Train/val/test census per language over the deterministic
    * hash-based holdout split. */
  def holdoutSplit(t: Tables): DataFrame = {
    import t.spark.implicits._
    Sampling.holdoutSplit(t.documents, "doc_id")
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"split")
  }

  val holdoutSplitSql: String =
    """WITH u AS (SELECT doc_id, lang,
      |    list_sum(list_transform(range(0,4), i ->
      |      (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), i+1, 1)) - 1) * power(16, 3-i)
      |    )) / 65536.0 AS u
      |  FROM documents),
      |s AS (SELECT lang, CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END split FROM u)
      |SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM s GROUP BY lang, split ORDER BY lang, split""".stripMargin

  /** Per-language document-length quantiles via the ANSI ordered-set
    * aggregate PERCENTILE_DISC — discrete (an actual data value, no
    * interpolation arithmetic), hence bit-stable cross-engine. */
  def lengthQuantiles(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.documents.groupBy($"lang")
      .agg(
        expr("cast(percentile_disc(0.25) within group (order by n_chars) as bigint)").as("p25"),
        expr("cast(percentile_disc(0.5)  within group (order by n_chars) as bigint)").as("p50"),
        expr("cast(percentile_disc(0.75) within group (order by n_chars) as bigint)").as("p75"),
        expr("cast(percentile_disc(0.9)  within group (order by n_chars) as bigint)").as("p90"),
        count(lit(1)).as("n_docs"))
      .orderBy($"lang")
  }

  val lengthQuantilesSql: String =
    """SELECT lang,
      |  CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p25,
      |  CAST(percentile_disc(0.5)  WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p50,
      |  CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p75,
      |  CAST(percentile_disc(0.9)  WITHIN GROUP (ORDER BY n_chars) AS BIGINT) AS p90,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---- benchmark decontamination ----

  /** Every doc with its count of word 5-grams shared with the
    * "benchmark" set (doc_id % 50 == 0 stands in for an eval suite):
    * the exact n-gram-collision test-set-leakage guard. Broadcast
    * semi-join on the corpus scan — see operators.Decontaminate. */
  def decontaminate(t: Tables): DataFrame = {
    import t.spark.implicits._
    val bench = t.documents.filter($"doc_id" % 50 === 0)
    graft.operators.Decontaminate.flag(t.documents, bench, n = 5)
      .orderBy($"doc_id")
  }

  val decontaminateSql: String =
    """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') ws FROM documents),
      |g AS (SELECT doc_id, list_distinct([md5(ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4])
      |    for i in range(1, len(ws)-3)]) gs FROM w),
      |bg AS (SELECT DISTINCT unnest(gs) g FROM g WHERE doc_id % 50 = 0),
      |dg AS (SELECT doc_id, unnest(gs) g FROM g),
      |h AS (SELECT dg.doc_id, CAST(COUNT(*) AS BIGINT) n_hits FROM dg JOIN bg USING (g) GROUP BY dg.doc_id)
      |SELECT d.doc_id, COALESCE(h.n_hits, 0) AS n_hits, h.doc_id IS NOT NULL AS contaminated
      |FROM documents d LEFT JOIN h ON h.doc_id = d.doc_id ORDER BY d.doc_id""".stripMargin

  /** qc12: cluster-aware decontamination — qc02 composed with qd06's
    * transitive near-dup clusters: a contaminated doc poisons its
    * WHOLE cluster, because a near-duplicate of a leaked benchmark
    * item carries the leak even when its own 5-grams dodge the exact
    * check (paraphrase/typo forms). The same composition argument as
    * qp12's cluster holdout: per-doc decisions leak through near-dup
    * structure unless the decision coordinate is the cluster. Shapes:
    * the audited funnel + CC labels, the broadcast n-gram guard, then
    * one cluster-keyed bool aggregation joined back — no new shuffle
    * class ([[graft.operators.Decontaminate.clusterFlag]] is the same
    * decision over caller-supplied pairs).
    *
    * Shared tokenization (guide §2.3): ONE pass over the corpus text
    * computes, per doc, the funnel's 3-gram hashes + MinHash band keys
    * AND the guard's 5-gram hashes from a single let-bound token array
    * — composing the operators tokenized the text once for the
    * near-dup funnel and again for the exact n-gram guard (and a third
    * time for the guard's bench side). The combined projection is
    * materialized exactly as the signature table alone was; the funnel
    * and both guard sides read the cache. Adopted after an interleaved
    * A/B at sf0.1 (OPTIMIZATION_r15.md). */
  def clusterDecontaminate(t: Tables): DataFrame = {
    import t.spark.implicits._
    val proj = graft.operators.Dedup.materialized(
      t.documents.select($"doc_id",
        letBound(tokens($"text")) { w =>
          struct(
            call_function("graft_shingle_hashes", w, lit(5)).as("g5"),
            call_function("graft_shingle_hashes", w, lit(3)).as("hashes"),
            letBound(call_function("graft_minhash_signature",
              shinglesFromTokens(w, 3), lit(16))) { sig =>
              minhashBands(sig, 4, 4)
            }.as("bands"))
        }.as("s"))
        .select($"doc_id", $"s.g5", $"s.hashes", $"s.bands"),
      None)
    val pairs = graft.operators.Dedup.nearDupsMinhashFromSigs(
        proj.select($"doc_id", $"hashes", $"bands"), threshold = 0.3)
      .select($"a_id", $"b_id")
    val clusters = graft.operators.ConnectedComponents
      .dedupDecisions(t.documents, pairs, "doc_id")
      .select($"doc_id", $"cluster_id")
    val hits = graft.operators.Decontaminate
      .flagFromGrams(proj.select($"doc_id", $"g5"), $"doc_id" % 50 === 0,
        gramsCol = "g5")
      .select($"doc_id", $"contaminated".as("self_hit"))
    val joined = clusters.join(hits, Seq("doc_id")).localCheckpoint()
    val clusterHit = joined.groupBy($"cluster_id")
      .agg(max($"self_hit").as("cluster_hit"))
    joined.join(clusterHit, "cluster_id")
      .select($"doc_id", $"cluster_id", $"self_hit",
        $"cluster_hit", (!$"cluster_hit").as("keep"))
      .orderBy($"doc_id")
  }

  val clusterDecontaminateSql: String =
    """WITH RECURSIVE
      |toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
      |shr AS (SELECT doc_id, [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)] sh FROM toks),
      |hsh AS (SELECT doc_id, list_distinct([md5(x) for x in sh]) hashes FROM shr),
      |sig AS (SELECT doc_id, [list_aggregate([md5(s::VARCHAR || ':' || x) for x in sh], 'min') for s in range(0,16)] sg FROM shr),
      |bands AS (SELECT doc_id, [md5(sg[4*b+1] || '|' || sg[4*b+2] || '|' || sg[4*b+3] || '|' || sg[4*b+4]) for b in range(0,4)] bs FROM sig),
      |bt AS (SELECT doc_id, i band_idx, bs[i] band_hash FROM bands, range(1,5) t(i)),
      |cand AS (SELECT DISTINCT a.doc_id a_id, b.doc_id b_id FROM bt a
      |  JOIN bt b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
      |p AS (SELECT a_id, b_id FROM (SELECT a_id, b_id,
      |    round(CAST(len(list_intersect(ha.hashes, hb.hashes)) AS DOUBLE) /
      |          (len(ha.hashes) + len(hb.hashes) - CAST(len(list_intersect(ha.hashes, hb.hashes)) AS DOUBLE)), 6) jaccard
      |  FROM cand JOIN hsh ha ON ha.doc_id = a_id JOIN hsh hb ON hb.doc_id = b_id)
      |  WHERE jaccard >= 0.3),
      |e AS (SELECT a_id s, b_id d FROM p UNION ALL SELECT b_id, a_id FROM p),
      |reach(id, comp) AS (
      |  SELECT DISTINCT s, s FROM e
      |  UNION
      |  SELECT e.d, r.comp FROM reach r JOIN e ON e.s = r.id),
      |c AS (SELECT id, MIN(comp) comp FROM reach GROUP BY id),
      |cl AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) cluster_id
      |  FROM documents d LEFT JOIN c ON c.id = d.doc_id),
      |dtok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') ws FROM documents),
      |dgrams AS (SELECT doc_id, list_distinct([md5(ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4])
      |    for i in range(1, len(ws)-3)]) gs FROM dtok),
      |bg AS (SELECT DISTINCT unnest(gs) g FROM dgrams WHERE doc_id % 50 = 0),
      |dg AS (SELECT doc_id, unnest(gs) g FROM dgrams),
      |h AS (SELECT DISTINCT dg.doc_id FROM dg JOIN bg USING (g)),
      |sh2 AS (SELECT cl.doc_id, cl.cluster_id, h.doc_id IS NOT NULL self_hit
      |  FROM cl LEFT JOIN h ON h.doc_id = cl.doc_id),
      |ch AS (SELECT cluster_id, bool_or(self_hit) cluster_hit FROM sh2 GROUP BY 1)
      |SELECT s.doc_id, s.cluster_id, s.self_hit, ch.cluster_hit,
      |  NOT ch.cluster_hit AS keep
      |FROM sh2 s JOIN ch USING (cluster_id) ORDER BY s.doc_id""".stripMargin

  // ---- repetition quality metrics (Gopher-style) ----

  /** Per-doc repetition metrics over lowercased tokens: most-frequent
    * word share, most-frequent bigram share, duplicate-word fraction.
    * Shape: explode → (doc, term) count → per-doc max/sum — the
    * aggregation form that scales (never a per-row quadratic lambda);
    * ratios are int/int double divisions rounded to 6, bit-stable
    * cross-engine. */
  def repetitionStats(t: Tables): DataFrame = {
    import t.spark.implicits._
    val uni = t.documents
      .select($"doc_id", explode(tokens(lower($"text"))).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(
        sum($"c").as("n_tokens"), max($"c").as("top_word_n"),
        count(lit(1)).as("n_distinct"))
    val bi = t.documents
      .select($"doc_id", explode(shingles(lower($"text"), 2)).as("bg"))
      .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id").agg(max($"c").as("top_bigram_n"), sum($"c").as("n_bigrams"))
    uni.join(bi, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tokens",
        round($"top_word_n" / $"n_tokens", 6).as("top_word_frac"),
        round(coalesce($"top_bigram_n" / $"n_bigrams", lit(0.0)), 6).as("top_bigram_frac"),
        round(lit(1.0) - $"n_distinct" / $"n_tokens", 6).as("dup_word_frac"))
      .orderBy($"doc_id")
  }

  val repetitionStatsSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) tok FROM documents),
      |uni AS (SELECT doc_id, tok, COUNT(*) c FROM toks GROUP BY 1, 2),
      |u AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) n_tokens, MAX(c) top_word_n, COUNT(*) n_distinct
      |  FROM uni GROUP BY 1),
      |w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') ws FROM documents),
      |bg AS (SELECT doc_id, unnest([ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))]) b FROM w),
      |bgc AS (SELECT doc_id, b, COUNT(*) c FROM bg GROUP BY 1, 2),
      |bu AS (SELECT doc_id, MAX(c) top_bigram_n, SUM(c) n_bigrams FROM bgc GROUP BY 1)
      |SELECT u.doc_id, n_tokens,
      |  round(top_word_n / CAST(n_tokens AS DOUBLE), 6) AS top_word_frac,
      |  round(COALESCE(top_bigram_n / CAST(n_bigrams AS DOUBLE), 0), 6) AS top_bigram_frac,
      |  round(1.0 - n_distinct / CAST(n_tokens AS DOUBLE), 6) AS dup_word_frac
      |FROM u LEFT JOIN bu ON bu.doc_id = u.doc_id ORDER BY u.doc_id""".stripMargin

  // ---- chunking + sequence packing ----

  /** 32-token chunks with 8-token overlap over every doc — the
    * RAG/embedding segmentation step. Pure projection + explode:
    * zero shuffle. */
  def chunking(t: Tables): DataFrame = {
    import t.spark.implicits._
    graft.operators.Chunking.chunkByTokens(t.documents, chunkSize = 32, overlap = 8)
      .orderBy($"doc_id", $"chunk_idx")
  }

  val chunkingSql: String =
    """WITH w0 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
      |c AS (SELECT doc_id, unnest(range(0, len(w), 24)) s, w FROM w0)
      |SELECT doc_id, CAST(s // 24 AS BIGINT) AS chunk_idx,
      |  CAST(len(w[s+1:s+32]) AS BIGINT) AS chunk_tokens,
      |  array_to_string(w[s+1:s+32], ' ') AS chunk_text
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  /** Sequence-packing audit: docs laid out in id order within md5
    * shards, cut into 256-token bins; per bin its doc count and token
    * total. One shard shuffle + one running-sum window. */
  def packing(t: Tables): DataFrame = {
    import t.spark.implicits._
    graft.operators.Chunking.packSequences(t.documents, budget = 256, shards = 8)
      .orderBy($"shard", $"bin")
  }

  val packingSql: String =
    """WITH s AS (SELECT doc_id,
      |    CAST(list_sum(list_transform(range(0,4), i ->
      |      (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), i+1, 1)) - 1) * power(16, 3-i)
      |    )) AS BIGINT) % 8 AS shard,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) n_tokens
      |  FROM documents),
      |c AS (SELECT shard, doc_id, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
      |  FROM s)
      |SELECT CAST(shard AS INT) AS shard, CAST((cum - n_tokens) // 256 AS BIGINT) AS bin,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
      |FROM c GROUP BY 1, 2 ORDER BY shard, bin""".stripMargin

  /** qp15: packing-efficiency census — the audit a packer reads AFTER
    * laying out bins and BEFORE shipping shards to trainers: per shard,
    * how many bins, how full they are on average, how many bins a
    * single over-budget doc blew past the budget, and the fattest bin.
    * A shard whose fill_pct sags (fragmentation) or whose overflow
    * count spikes (long-doc skew) gets re-packed with a different
    * budget or a chunking pre-pass (qc03). One |bins|-row aggregation
    * on top of qc04's already-audited layout — constant-size output,
    * no new shuffle shape; at 100 TB the bins table is ~corpus/budget
    * rows and this is a single map-side-combined pass over it. */
  def packStats(t: Tables): DataFrame = {
    import t.spark.implicits._
    val budget = 256
    val bins = graft.operators.Chunking.packSequences(t.documents, budget = budget, shards = 8)
    bins.groupBy($"shard")
      .agg(
        count(lit(1)).as("n_bins"),
        sum($"n_docs").as("n_docs"),
        sum($"bin_tokens").as("tokens_total"),
        sum(when($"bin_tokens" > budget, 1L).otherwise(0L)).as("overflow_bins"),
        max($"bin_tokens").as("max_bin_tokens"))
      .select($"shard", $"n_bins", $"n_docs", $"tokens_total", $"overflow_bins",
        $"max_bin_tokens",
        round($"tokens_total".cast("double") / ($"n_bins" * budget).cast("double"), 6)
          .as("fill_pct"))
      .orderBy($"shard")
  }

  val packStatsSql: String =
    """WITH s AS (SELECT doc_id,
      |    CAST(list_sum(list_transform(range(0,4), i ->
      |      (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), i+1, 1)) - 1) * power(16, 3-i)
      |    )) AS BIGINT) % 8 AS shard,
      |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) n_tokens
      |  FROM documents),
      |c AS (SELECT shard, doc_id, n_tokens,
      |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum
      |  FROM s),
      |b AS (SELECT CAST(shard AS INT) AS shard, CAST((cum - n_tokens) // 256 AS BIGINT) AS bin,
      |    CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
      |  FROM c GROUP BY 1, 2)
      |SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_bins,
      |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
      |  CAST(SUM(bin_tokens) AS BIGINT) AS tokens_total,
      |  CAST(SUM(CASE WHEN bin_tokens > 256 THEN 1 ELSE 0 END) AS BIGINT) AS overflow_bins,
      |  MAX(bin_tokens) AS max_bin_tokens,
      |  round(CAST(SUM(bin_tokens) AS DOUBLE) / (COUNT(*) * 256), 6) AS fill_pct
      |FROM b GROUP BY shard ORDER BY shard""".stripMargin

  /** qc13: dedup ROI — per source, exactly how many tokens exact
    * dedup removes (the "is the dedup pass worth its wall-clock"
    * read, reported BEFORE paying for the near-dup funnel): qd01's
    * keeper decisions joined to token counts, aggregated per source
    * with the savings fraction. The decision-table discipline
    * (qz04/qe11/qj02) applied to the dedup plane's cheapest member —
    * sha-keyed, no pair join anywhere. */
  def dedupRoi(t: Tables): DataFrame = {
    import t.spark.implicits._
    val dec = graft.operators.Dedup.exactCanonical(t.documents)
      .select($"doc_id", $"is_dup")
    t.documents
      .select($"doc_id", $"source", bpeTokenCount($"text").cast("long").as("tok"))
      .join(dec, "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"is_dup".cast("long")).as("n_dups"),
        sum($"tok").cast("long").as("tokens_total"),
        sum(when($"is_dup", $"tok").otherwise(lit(0L))).cast("long").as("tokens_removable"))
      .select($"source", $"n_docs", $"n_dups", $"tokens_total", $"tokens_removable",
        round($"tokens_removable".cast("double") / $"tokens_total".cast("double"), 6)
          .as("savings_frac"))
      .orderBy($"source")
  }

  val dedupRoiSql: String =
    """WITH d AS (SELECT doc_id, source,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) tok,
      |    doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) is_dup
      |  FROM documents)
      |SELECT source, CAST(COUNT(*) AS BIGINT) n_docs,
      |  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) n_dups,
      |  CAST(SUM(tok) AS BIGINT) tokens_total,
      |  CAST(SUM(CASE WHEN is_dup THEN tok ELSE 0 END) AS BIGINT) tokens_removable,
      |  round(CAST(SUM(CASE WHEN is_dup THEN tok ELSE 0 END) AS DOUBLE) /
      |        CAST(SUM(tok) AS DOUBLE), 6) savings_frac
      |FROM d GROUP BY source ORDER BY source""".stripMargin

  // ---- PII scrubbing ----

  /** PII scrub over a corpus with deterministic planted PII (the
    * synthetic testdata has none, so every 10th doc gets an email and
    * every 25th a URL appended IN THE QUERY — both engines plant
    * identically, making the oracle exercise real matches): per doc,
    * match counts and the redacted text's fingerprint. Pure
    * projection, zero shuffle; regexes stay in the portable
    * char-class/quantifier subset (Java regex == RE2 semantics). */
  def piiScrub(t: Tables): DataFrame = {
    import t.spark.implicits._
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val urlRe = "https?://[a-z0-9./_-]+"
    val planted = t.documents.select($"doc_id",
      concat($"text",
        when($"doc_id" % 10 === 0,
          concat(lit(" contact user"), $"doc_id", lit("@example.com"))).otherwise(lit("")),
        when($"doc_id" % 25 === 0,
          concat(lit(" see https://data.example.org/doc/"), $"doc_id")).otherwise(lit("")))
        .as("text"))
    planted.select($"doc_id",
        regexp_count($"text", lit(emailRe)).cast("long").as("n_emails"),
        regexp_count($"text", lit(urlRe)).cast("long").as("n_urls"),
        md5(regexp_replace(regexp_replace($"text", emailRe, "<EMAIL>"), urlRe, "<URL>"))
          .as("redacted_md5"))
      .orderBy($"doc_id")
  }

  val piiScrubSql: String =
    """WITH p AS (SELECT doc_id, text ||
      |    CASE WHEN doc_id % 10 = 0 THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
      |    CASE WHEN doc_id % 25 = 0 THEN ' see https://data.example.org/doc/' || doc_id ELSE '' END AS text
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(text, 'https?://[a-z0-9./_-]+')) AS BIGINT) AS n_urls,
      |  md5(regexp_replace(regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
      |      'https?://[a-z0-9./_-]+', '<URL>', 'g')) AS redacted_md5
      |FROM p ORDER BY doc_id""".stripMargin

  // ---- snapshot diff ----

  /** Census of what a simulated "next month" snapshot changed: v2 is
    * derived from v1 deterministically IN THE QUERY (drop %7, edit %5,
    * add %11 with shifted ids) so both engines diff identical
    * snapshots; output is the per-change-type count. One full-outer
    * join on the id — see operators.CorpusDiff. */
  def corpusDiff(t: Tables): DataFrame = {
    import t.spark.implicits._
    val v1 = t.documents.select($"doc_id", $"text")
    val v2 = t.documents.filter($"doc_id" % 7 =!= 0)
      .select($"doc_id",
        when($"doc_id" % 5 === 0, concat($"text", lit(" edited"))).otherwise($"text").as("text"))
      .union(t.documents.filter($"doc_id" % 11 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"), concat($"text", lit(" new")).as("text")))
    graft.operators.CorpusDiff.diff(v1, v2)
      .groupBy($"change_type").agg(count(lit(1)).as("n_docs"))
      .orderBy($"change_type")
  }

  val corpusDiffSql: String =
    """WITH v1 AS (SELECT doc_id, text FROM documents),
      |v2 AS (
      |  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' edited' ELSE text END AS text
      |  FROM documents WHERE doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, text || ' new' FROM documents WHERE doc_id % 11 = 0),
      |j AS (SELECT COALESCE(v1.doc_id, v2.doc_id) doc_id,
      |    CASE WHEN v1.doc_id IS NULL THEN 'added'
      |         WHEN v2.doc_id IS NULL THEN 'removed'
      |         WHEN md5(v1.text) <> md5(v2.text) THEN 'modified'
      |         ELSE 'unchanged' END change_type
      |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
      |SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_docs
      |FROM j GROUP BY change_type ORDER BY change_type""".stripMargin

  // ---- training export: deterministic shuffle + token budgets ----

  /** qp05: reproducible global shuffle of the corpus into 8 training
    * shards — shard and in-shard position both pure functions of
    * md5(seed:id), so every engine and every re-run exports the
    * identical byte order. */
  def shuffleShards(t: Tables): DataFrame = {
    import t.spark.implicits._
    Sampling.shuffleShards(t.documents, "doc_id", nShards = 8, seed = 42L)
      .select($"doc_id", $"sort_key", $"shard")
      .orderBy($"shard", $"sort_key", $"doc_id")
  }

  val shuffleShardsSql: String =
    """WITH h AS (SELECT doc_id, md5('42:' || doc_id::VARCHAR) sort_key FROM documents)
      |SELECT doc_id, sort_key,
      |  CAST(list_sum(list_transform(range(0,4), i ->
      |    (strpos('0123456789abcdef', substr(sort_key, i+1, 1)) - 1) * power(16, 3-i)
      |  )) AS INTEGER) % 8 AS shard
      |FROM h ORDER BY shard, sort_key, doc_id""".stripMargin

  /** qp06: token-budget selection — keep a deterministic ~1000 BPE
    * tokens per language, the unit real training mixes are specified
    * in. Running-sum window ordered by the md5 draw; each kept doc's
    * own tokens count against the budget. */
  def tokenBudget(t: Tables): DataFrame = {
    import t.spark.implicits._
    val withTokens = t.documents
      .select($"lang", $"doc_id", bpeTokenCount($"text").cast("long").as("tokens"))
    Sampling.tokenBudgetPerKey(withTokens, "lang", "doc_id", "tokens", budget = 1000L)
      .orderBy($"lang", $"running_tokens")
  }

  val tokenBudgetSql: String =
    """WITH d AS (SELECT lang, doc_id,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) tokens
      |  FROM documents),
      |r AS (SELECT lang, doc_id, tokens,
      |    CAST(SUM(tokens) OVER (PARTITION BY lang ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) running_tokens
      |  FROM d)
      |SELECT lang, doc_id, tokens, running_tokens FROM r
      |WHERE running_tokens <= 1000 ORDER BY lang, running_tokens""".stripMargin

  /** qp07: quality-WEIGHTED sampling — keep each doc with probability
    * proportional to its quality score, scaled to an expected 30% of
    * the corpus (the DCLM/FineWeb mix-weighting move). Pure per-row
    * decision from one broadcast scalar; the md5 draw makes the kept
    * set engine-exact. */
  def weightedSample(t: Tables): DataFrame = {
    import t.spark.implicits._
    val scored = t.documents.select($"doc_id",
      qualityScore($"text").as("quality"))
    Sampling.weightedSample(scored, "doc_id", "quality", targetFrac = 0.3)
      .select($"doc_id", $"quality", $"keep_p")
      .orderBy($"doc_id")
  }

  val weightedSampleSql: String =
    """WITH s AS (SELECT doc_id, text, string_split_regex(trim(lower(text)), '\s+') toks FROM documents),
      |m AS (SELECT doc_id,
      |    CAST(len(toks) AS DOUBLE) n,
      |    CAST(len(list_distinct(toks)) AS DOUBLE) d,
      |    CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE) sw,
      |    CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) chars
      |  FROM s),
      |q AS (SELECT doc_id,
      |    floor((0.25 * least(1.0, n / 100.0) + 0.25 * (d / n) +
      |          0.25 * least(1.0, sw * 5.0 / n) + 0.25 * least(1.0, chars / n / 8.0)) * 1e6 + 0.5) / 1e6 AS quality
      |  FROM m),
      |t AS (SELECT CAST(SUM(CAST(quality AS DECIMAL(24,8))) AS DOUBLE) sumw,
      |             CAST(COUNT(*) AS DOUBLE) n FROM q),
      |k AS (SELECT doc_id, quality, floor(quality * (0.3 * t.n / t.sumw) * 1e9 + 0.5) / 1e9 keep_p
      |  FROM q CROSS JOIN t),
      |u AS (SELECT *, list_sum(list_transform(range(0,4), i ->
      |    (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), i+1, 1)) - 1) * power(16, 3-i)
      |  )) / 65536.0 AS u FROM k)
      |SELECT doc_id, quality, keep_p FROM u WHERE u < keep_p ORDER BY doc_id""".stripMargin

  /** qp08: curriculum-ordered export — md5 shards (each sees the same
    * difficulty distribution) ordered easy→hard within the shard by
    * BPE token count; the curriculum-learning training layout. */
  def curriculumShards(t: Tables): DataFrame = {
    import t.spark.implicits._
    val scored = t.documents.select($"doc_id",
      bpeTokenCount($"text").cast("long").as("score"))
    Sampling.curriculumShards(scored, "doc_id", "score", nShards = 4)
      .select($"doc_id", $"score", $"shard", $"position")
      .orderBy($"shard", $"position")
  }

  val curriculumShardsSql: String =
    """WITH d AS (SELECT doc_id,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) score
      |  FROM documents),
      |s AS (SELECT doc_id, score,
      |    CAST(list_sum(list_transform(range(0,4), i ->
      |      (strpos('0123456789abcdef', substr(md5(doc_id::VARCHAR), i+1, 1)) - 1) * power(16, 3-i)
      |    )) AS INTEGER) % 4 AS shard
      |  FROM d)
      |SELECT doc_id, score, shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY score ASC, doc_id ASC) AS BIGINT) AS position
      |FROM s ORDER BY shard, position""".stripMargin

  // ---- composed training-mix build (capstone) ----

  /** qc06: the end-to-end mix build a training run starts from —
    * "800 BPE tokens per source, shuffled into 4 shards" — composing
    * [[Sampling.tokenBudgetPerKey]] (the mix specification) with
    * [[Sampling.shuffleShards]] (the reproducible export layout) into
    * one declarative plan, reported as the per-shard manifest
    * (docs, tokens, distinct sources). Every stage is a pure function
    * of md5(id), so two engines — or two re-runs on different
    * clusters — build byte-identical mixes. */
  def trainingMix(t: Tables): DataFrame = {
    import t.spark.implicits._
    val withTokens = t.documents
      .select($"source", $"doc_id", bpeTokenCount($"text").cast("long").as("tokens"))
    val selected = Sampling.tokenBudgetPerKey(withTokens, "source", "doc_id", "tokens",
      budget = 800L)
    // shuffleShards appends its columns, so the expensive selection
    // subtree (scan + token count + budget window) runs exactly once —
    // no self-join back onto it
    Sampling.shuffleShards(selected, "doc_id", nShards = 4, seed = 7L)
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
           sum($"tokens").as("sum_tokens"),
           countDistinct($"source").as("n_sources"))
      .orderBy($"shard")
  }

  val trainingMixSql: String =
    """WITH d AS (SELECT source, doc_id,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) tokens
      |  FROM documents),
      |r AS (SELECT source, doc_id, tokens,
      |    SUM(tokens) OVER (PARTITION BY source ORDER BY md5(doc_id::VARCHAR) ASC, doc_id ASC
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) running
      |  FROM d),
      |sel AS (SELECT source, doc_id, tokens FROM r WHERE running <= 800),
      |h AS (SELECT source, doc_id, tokens, md5('7:' || doc_id::VARCHAR) sort_key FROM sel),
      |s AS (SELECT *, CAST(list_sum(list_transform(range(0,4), i ->
      |    (strpos('0123456789abcdef', substr(sort_key, i+1, 1)) - 1) * power(16, 3-i)
      |  )) AS INTEGER) % 4 AS shard FROM h)
      |SELECT shard, COUNT(*) AS n_docs, CAST(SUM(tokens) AS BIGINT) AS sum_tokens,
      |       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      |FROM s GROUP BY shard ORDER BY shard""".stripMargin

  // ---- corpus data card (rollup) ----

  /** qr01: the "data card" a corpus release ships with — doc, token,
    * and char totals at every (source, lang) granularity PLUS per-source
    * subtotals and the grand total, in ONE aggregation pass (Spark
    * ROLLUP plans partial aggregates for all levels together — no
    * self-union of three groupBys, no second scan). `grouping()` flags
    * disambiguate subtotal rows from literal NULL group values, and
    * null ordering is explicit because engines disagree on the
    * default. */
  def dataCard(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.documents
      .rollup($"source", $"lang")
      .agg(grouping($"source").cast("int").as("g_source"),
           grouping($"lang").cast("int").as("g_lang"),
           count(lit(1)).as("n_docs"),
           sum(bpeTokenCount($"text")).cast("long").as("sum_bpe_tokens"),
           sum($"n_chars").cast("long").as("sum_chars"))
      .select($"source", $"lang", $"g_source", $"g_lang",
              $"n_docs", $"sum_bpe_tokens", $"sum_chars")
      .orderBy($"g_source", $"g_lang",
               $"source".asc_nulls_first, $"lang".asc_nulls_first)
  }

  val dataCardSql: String =
    """SELECT source, lang,
      |  CAST(GROUPING(source) AS INTEGER) AS g_source,
      |  CAST(GROUPING(lang) AS INTEGER) AS g_lang,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS sum_bpe_tokens,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY ROLLUP (source, lang)
      |ORDER BY g_source, g_lang, source NULLS FIRST, lang NULLS FIRST""".stripMargin

  /** qr02: snapshot drift report — the pipeline-monitoring query run
    * between two crawl/ingest snapshots before a corpus is promoted.
    * The two "snapshots" are the first and second halves of the event
    * timeline (split at the integer midpoint of the epoch-µs range —
    * `us*2 <= lo+hi` keeps the comparison pure 64-bit integer math,
    * identical in both engines). Per event type: counts and shares in
    * each half, the KL(first‖second) contribution, and the two-sample
    * chi-square contribution ((o−e)²/e summed over both halves'
    * cells); one TOTAL row carries the DECIMAL-exact sums. Shapes: one
    * scan + one hash agg on (type); the min/max frame and the totals
    * are broadcast scalars; the transcendental `ln` follows the
    * round-6-per-term → DECIMAL-sum contract (qt12/qt21); the
    * chi-square terms are pure IEEE arithmetic with an identical
    * expression tree in both engines. Types absent from either half
    * are excluded from the report (their KL term is undefined) — at
    * these volumes all types appear in both halves. */
  def driftReport(t: Tables): DataFrame = {
    import t.spark.implicits._
    val e = t.events.select($"event_type", unix_micros($"ts").as("us"))
    val mm = e.agg(min($"us").as("lo"), max($"us").as("hi"))
    // materialize the |types|-row counts once: every downstream frame
    // (totals, terms, TOTAL row — two union branches) derives from it,
    // so the corpus is scanned exactly twice (min/max + counts), not
    // once per branch
    val c = e.crossJoin(broadcast(mm))
      .select($"event_type", when($"us" * 2 <= $"lo" + $"hi", 1L).otherwise(0L).as("in_a"))
      .groupBy($"event_type")
      .agg(sum($"in_a").as("c_a"), sum(lit(1L) - $"in_a").as("c_b"))
      .filter($"c_a" > 0 && $"c_b" > 0)
      .localCheckpoint()
    val tt = c.agg(sum($"c_a").cast("double").as("ta"), sum($"c_b").cast("double").as("tb"))
    val terms = c.crossJoin(broadcast(tt))
      .select($"event_type", $"c_a", $"c_b",
        ($"c_a".cast("double") / $"ta").as("share_a"),
        ($"c_b".cast("double") / $"tb").as("share_b"),
        $"ta", $"tb")
      .select($"event_type", $"c_a", $"c_b", $"share_a", $"share_b",
        round($"share_a" * log($"share_a" / $"share_b"), 6)
          .cast("decimal(24,6)").as("kl_term"),
        letBound(($"c_a" + $"c_b").cast("double") * $"ta" / ($"ta" + $"tb")) { ea =>
          letBound(($"c_a" + $"c_b").cast("double") * $"tb" / ($"ta" + $"tb")) { eb =>
            round(($"c_a".cast("double") - ea) * ($"c_a".cast("double") - ea) / ea +
                  ($"c_b".cast("double") - eb) * ($"c_b".cast("double") - eb) / eb, 6)
          }
        }.cast("decimal(24,6)").as("chi2_term"))
      .localCheckpoint()
    val total = terms.agg(
        sum($"c_a").as("c_a"), sum($"c_b").as("c_b"),
        sum($"kl_term").as("klS"), sum($"chi2_term").as("chiS"))
      .select(lit("TOTAL").as("event_type"), $"c_a", $"c_b",
        lit(1.0).as("share_a"), lit(1.0).as("share_b"),
        $"klS".cast("double").as("kl_term"), $"chiS".cast("double").as("chi2_term"))
    terms
      .select($"event_type", $"c_a", $"c_b", $"share_a", $"share_b",
        $"kl_term".cast("double").as("kl_term"), $"chi2_term".cast("double").as("chi2_term"))
      .unionByName(total)
      .orderBy($"event_type")
  }

  val driftReportSql: String =
    """WITH e AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) us FROM events),
      |mm AS (SELECT MIN(us) lo, MAX(us) hi FROM e),
      |c0 AS (SELECT event_type,
      |    CAST(SUM(CASE WHEN us * 2 <= lo + hi THEN 1 ELSE 0 END) AS BIGINT) c_a,
      |    CAST(SUM(CASE WHEN us * 2 <= lo + hi THEN 0 ELSE 1 END) AS BIGINT) c_b
      |  FROM e CROSS JOIN mm GROUP BY 1),
      |c AS (SELECT * FROM c0 WHERE c_a > 0 AND c_b > 0),
      |tt AS (SELECT CAST(SUM(c_a) AS DOUBLE) ta, CAST(SUM(c_b) AS DOUBLE) tb FROM c),
      |terms AS (SELECT event_type, c_a, c_b,
      |    CAST(c_a AS DOUBLE) / ta share_a, CAST(c_b AS DOUBLE) / tb share_b,
      |    CAST(round((CAST(c_a AS DOUBLE) / ta) * ln((CAST(c_a AS DOUBLE) / ta) / (CAST(c_b AS DOUBLE) / tb)), 6)
      |         AS DECIMAL(24,6)) kl_term,
      |    CAST(round(
      |      (CAST(c_a AS DOUBLE) - CAST(c_a + c_b AS DOUBLE) * ta / (ta + tb)) *
      |      (CAST(c_a AS DOUBLE) - CAST(c_a + c_b AS DOUBLE) * ta / (ta + tb)) /
      |        (CAST(c_a + c_b AS DOUBLE) * ta / (ta + tb)) +
      |      (CAST(c_b AS DOUBLE) - CAST(c_a + c_b AS DOUBLE) * tb / (ta + tb)) *
      |      (CAST(c_b AS DOUBLE) - CAST(c_a + c_b AS DOUBLE) * tb / (ta + tb)) /
      |        (CAST(c_a + c_b AS DOUBLE) * tb / (ta + tb)), 6)
      |         AS DECIMAL(24,6)) chi2_term
      |  FROM c CROSS JOIN tt),
      |tot AS (SELECT 'TOTAL' event_type,
      |    CAST(SUM(c_a) AS BIGINT) c_a, CAST(SUM(c_b) AS BIGINT) c_b,
      |    1.0 share_a, 1.0 share_b,
      |    CAST(SUM(kl_term) AS DOUBLE) kl_term, CAST(SUM(chi2_term) AS DOUBLE) chi2_term
      |  FROM terms)
      |SELECT event_type, c_a, c_b, share_a, share_b,
      |  CAST(kl_term AS DOUBLE) kl_term, CAST(chi2_term AS DOUBLE) chi2_term FROM terms
      |UNION ALL SELECT * FROM tot ORDER BY event_type""".stripMargin

  /** qr03: per-source Kolmogorov-Smirnov drift — the continuous-
    * distribution complement to qr02's categorical KL: for each
    * source, the two-sample KS statistic (max CDF gap) between its
    * document-length distribution and the REST of the corpus, plus the
    * length where the gap is attained (min such value — deterministic
    * argmax). Shapes: one (source, value) hash agg, then CDFs on the
    * DENSE |sources|×|values| frame (sources cross-joined with the
    * distinct value domain so zero-count values still advance both
    * CDFs); running sums partition per source — never a corpus-scale
    * window. The CDF gaps are IEEE divisions of exact longs with
    * mirrored expression trees, so max/argmin agree bitwise
    * cross-engine. At 100 TB a continuous value column gets bucketed
    * (qt07's quantile sketch) before this — the dense frame's size IS
    * the |values| knob. */
  def ksDrift(t: Tables): DataFrame = {
    import t.spark.implicits._
    // ONE corpus scan: the (source, value) counts are materialized and
    // every other frame (value domain, per-source totals, per-value
    // totals, grand total) is an aggregate of that tiny table — the
    // naive shape scans the corpus five times
    val counts = t.documents.groupBy($"source", $"n_chars").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val values = counts.select($"n_chars").distinct()
    val sources = counts.groupBy($"source").agg(sum($"c").as("n_s"))
    val totals = counts.groupBy($"n_chars").agg(sum($"c").as("ct"))
    val n = counts.agg(sum($"c").as("n"))
    val dense = sources.crossJoin(values)
      .join(counts, Seq("source", "n_chars"), "left").na.fill(0L, Seq("c"))
      .join(totals, Seq("n_chars"))
      .crossJoin(broadcast(n))
    val w = Window.partitionBy($"source").orderBy($"n_chars".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val diff = dense
      .select($"source", $"n_chars", $"n_s", $"n",
        sum($"c").over(w).as("cum_s"), sum($"ct").over(w).as("cum_t"))
      .select($"source", $"n_chars", $"n_s",
        abs($"cum_s".cast("double") / $"n_s".cast("double") -
            ($"cum_t" - $"cum_s").cast("double") / ($"n" - $"n_s").cast("double")).as("d"))
      .localCheckpoint()  // read twice: the max agg and the argmin join
    val ks = diff.groupBy($"source").agg(max($"d").as("ks"))
    diff.join(ks, "source").filter($"d" === $"ks")
      .groupBy($"source", $"ks").agg(min($"n_chars").as("at_value"))
      .join(sources, "source")
      .select($"source", $"n_s", $"ks", $"at_value")
      .orderBy($"source")
  }

  val ksDriftSql: String =
    """WITH counts AS (SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) c FROM documents GROUP BY 1, 2),
      |vals AS (SELECT DISTINCT n_chars FROM documents),
      |srcs AS (SELECT source, CAST(COUNT(*) AS BIGINT) n_s FROM documents GROUP BY 1),
      |tot AS (SELECT n_chars, CAST(COUNT(*) AS BIGINT) ct FROM documents GROUP BY 1),
      |nn AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM documents),
      |dense AS (SELECT s.source, v.n_chars, s.n_s, COALESCE(c.c, 0) c, t.ct, nn.n
      |  FROM srcs s CROSS JOIN vals v
      |  LEFT JOIN counts c ON c.source = s.source AND c.n_chars = v.n_chars
      |  JOIN tot t ON t.n_chars = v.n_chars CROSS JOIN nn),
      |cdf AS (SELECT source, n_chars, n_s, n,
      |    SUM(c) OVER (PARTITION BY source ORDER BY n_chars
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum_s,
      |    SUM(ct) OVER (PARTITION BY source ORDER BY n_chars
      |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum_t
      |  FROM dense),
      |diff AS (SELECT source, n_chars, n_s,
      |    abs(CAST(cum_s AS DOUBLE) / CAST(n_s AS DOUBLE) -
      |        CAST(cum_t - cum_s AS DOUBLE) / CAST(n - n_s AS DOUBLE)) d
      |  FROM cdf),
      |ks AS (SELECT source, MAX(d) ks FROM diff GROUP BY 1)
      |SELECT d.source, s.n_s, k.ks, MIN(d.n_chars) AS at_value
      |FROM diff d JOIN ks k ON d.source = k.source AND d.d = k.ks
      |JOIN srcs s ON s.source = d.source
      |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin

  /** qr06: per-source Population Stability Index — the third drift
    * lens next to qr02's KL/χ² (categorical) and qr03's KS
    * (distributional max-gap): PSI = Σ_buckets (p_s − p_rest) ·
    * ln(p_s / p_rest) over 500-char length buckets, the symmetric
    * monitoring statistic scorecards threshold at 0.1/0.25. Zero-count
    * buckets are Laplace-smoothed (+1 over the dense source×bucket
    * grid — PSI is undefined on empty cells, and the smoothing choice
    * is part of the statistic's contract, stated here and mirrored in
    * the oracle). Shapes: qr03's single-scan discipline — one
    * (source, bucket) hash agg materialized once, every other frame an
    * aggregate of that tiny table; shares are exact-long divisions,
    * each term rounds to 6 and sums as DECIMAL, so the verdict band is
    * a pure function of the corpus. At 100 TB the bucket domain is the
    * knob (it bounds the dense grid), exactly like qr03's value
    * domain. */
  def psiDrift(t: Tables): DataFrame = {
    import t.spark.implicits._
    val counts = t.documents
      .groupBy($"source", floor($"n_chars" / 500).cast("long").as("bkt"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val buckets = counts.select($"bkt").distinct()
    val nb = buckets.agg(count(lit(1)).as("nb"))
    val sources = counts.groupBy($"source").agg(sum($"c").as("n_s"))
    val totals = counts.groupBy($"bkt").agg(sum($"c").as("ct"))
    val n = counts.agg(sum($"c").as("n"))
    val dense = sources.crossJoin(buckets)
      .join(counts, Seq("source", "bkt"), "left").na.fill(0L, Seq("c"))
      .join(totals, Seq("bkt"))
      .crossJoin(broadcast(n)).crossJoin(broadcast(nb))
    val shareS = ($"c" + lit(1L)).cast("double") / ($"n_s" + $"nb").cast("double")
    val shareR = ($"ct" - $"c" + lit(1L)).cast("double") /
      ($"n" - $"n_s" + $"nb").cast("double")
    val terms = dense.select($"source", $"n_s", $"nb",
      round((shareS - shareR) * log(shareS / shareR), 6)
        .cast("decimal(24,6)").as("psi_term"))
    terms.groupBy($"source", $"n_s", $"nb".as("n_buckets"))
      .agg(sum($"psi_term").cast("double").as("psi"))
      .withColumn("band",
        when($"psi" < 0.1, lit("stable"))
          .when($"psi" < 0.25, lit("moderate"))
          .otherwise(lit("major")))
      .orderBy($"source")
  }

  val psiDriftSql: String =
    """WITH counts AS (SELECT source, CAST(FLOOR(n_chars / 500) AS BIGINT) bkt,
      |    CAST(COUNT(*) AS BIGINT) c FROM documents GROUP BY 1, 2),
      |bks AS (SELECT DISTINCT bkt FROM counts),
      |nb AS (SELECT CAST(COUNT(*) AS BIGINT) nb FROM bks),
      |srcs AS (SELECT source, CAST(SUM(c) AS BIGINT) n_s FROM counts GROUP BY 1),
      |tot AS (SELECT bkt, CAST(SUM(c) AS BIGINT) ct FROM counts GROUP BY 1),
      |nn AS (SELECT CAST(SUM(c) AS BIGINT) n FROM counts),
      |dense AS (SELECT s.source, s.n_s, nb.nb, b.bkt, COALESCE(c.c, 0) c, t.ct, nn.n
      |  FROM srcs s CROSS JOIN bks b
      |  LEFT JOIN counts c ON c.source = s.source AND c.bkt = b.bkt
      |  JOIN tot t ON t.bkt = b.bkt CROSS JOIN nn CROSS JOIN nb),
      |terms AS (SELECT source, n_s, nb,
      |    CAST(round(
      |      (CAST(c + 1 AS DOUBLE) / CAST(n_s + nb AS DOUBLE) -
      |       CAST(ct - c + 1 AS DOUBLE) / CAST(n - n_s + nb AS DOUBLE)) *
      |      ln((CAST(c + 1 AS DOUBLE) / CAST(n_s + nb AS DOUBLE)) /
      |         (CAST(ct - c + 1 AS DOUBLE) / CAST(n - n_s + nb AS DOUBLE))), 6)
      |      AS DECIMAL(24,6)) psi_term
      |  FROM dense),
      |agg AS (SELECT source, n_s, nb AS n_buckets,
      |    CAST(SUM(psi_term) AS DOUBLE) psi
      |  FROM terms GROUP BY 1, 2, 3)
      |SELECT source, n_s, n_buckets, psi,
      |  CASE WHEN psi < 0.1 THEN 'stable'
      |       WHEN psi < 0.25 THEN 'moderate' ELSE 'major' END band
      |FROM agg ORDER BY source""".stripMargin

  /** qp13: target-mix solver — the inverse of qp11's descriptive
    * temperature weights: given TARGET shares (here derived
    * deterministically from the source name: weight = suffix+1,
    * integer-summed so the normalization is exact), compute the
    * largest token budget B achievable at exactly those proportions
    * without upsampling — B = min over sources of avail/share, binding
    * on the scarcest source — and each source's take and acceptance
    * rate. One corpus scan into the per-source token counts; every
    * derived frame aggregates that |sources|-row table; the min and
    * the rates are IEEE expressions mirrored in the oracle (the
    * binding source's rate lands at 1.0 up to one ulp, identically in
    * both engines). */
  def targetMix(t: Tables): DataFrame = {
    import t.spark.implicits._
    val c = t.documents.groupBy($"source")
      .agg(sum(bpeTokenCount($"text")).cast("long").as("tokens_avail"))
      .withColumn("w", regexp_extract($"source", "(\\d+)", 1).cast("long") + 1L)
      .localCheckpoint()
    val tot = c.agg(sum($"w").as("sw"))
    val s = c.crossJoin(broadcast(tot))
      .select($"source", $"tokens_avail",
        ($"w".cast("double") / $"sw".cast("double")).as("target_share"))
    val b = s.agg(min($"tokens_avail".cast("double") / $"target_share").as("b"))
    s.crossJoin(broadcast(b))
      .select($"source", $"tokens_avail", $"target_share",
        ($"target_share" * $"b").as("budget_tokens"),
        (($"target_share" * $"b") / $"tokens_avail".cast("double")).as("rate"))
      .orderBy($"source")
  }

  /** qp16: data-constrained epoch allocation (Muennighoff et al. 2023)
    * — qp13's complement: there the budget is capped so no source
    * repeats; here the budget EXCEEDS the unique supply (B = 2× total
    * unique tokens) and each source is repeated up to the 4-epoch
    * value cap, with the unfillable remainder surfaced as `deficit`
    * (what the mix designer must re-source or re-weight). Same
    * |sources|-row arithmetic frame as qp13: one corpus scan, then
    * pure IEEE expressions mirrored in the oracle. */
  def epochMix(t: Tables): DataFrame = {
    import t.spark.implicits._
    val maxEpochs = 4.0
    val c = t.documents.groupBy($"source")
      .agg(sum(bpeTokenCount($"text")).cast("long").as("unique_tokens"))
      .withColumn("w", regexp_extract($"source", "(\\d+)", 1).cast("long") + 1L)
      .localCheckpoint()
    val tot = c.agg(sum($"w").as("sw"), sum($"unique_tokens").as("su"))
    c.crossJoin(broadcast(tot))
      .select($"source", $"unique_tokens",
        ($"w".cast("double") / $"sw".cast("double")).as("target_share"),
        (lit(2.0) * $"su".cast("double")).as("b"))
      .select($"source", $"unique_tokens", $"target_share",
        ($"target_share" * $"b").as("target_tokens"),
        (($"target_share" * $"b") / $"unique_tokens".cast("double")).as("epochs_uncapped"))
      .select($"source", $"unique_tokens", $"target_share", $"target_tokens",
        least(lit(maxEpochs), $"epochs_uncapped").as("epochs"),
        ($"epochs_uncapped" > maxEpochs).as("capped"),
        greatest(lit(0.0),
          $"target_tokens" - lit(maxEpochs) * $"unique_tokens".cast("double")).as("deficit"))
      .orderBy($"source")
  }

  val epochMixSql: String =
    """WITH c0 AS (SELECT source,
      |    CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) unique_tokens
      |  FROM documents GROUP BY source),
      |c AS (SELECT source, unique_tokens,
      |    CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) + 1 w FROM c0),
      |tot AS (SELECT CAST(SUM(w) AS BIGINT) sw, CAST(SUM(unique_tokens) AS BIGINT) su FROM c),
      |s AS (SELECT source, unique_tokens,
      |    CAST(w AS DOUBLE) / CAST(sw AS DOUBLE) target_share,
      |    2.0 * CAST(su AS DOUBLE) b FROM c CROSS JOIN tot),
      |e AS (SELECT source, unique_tokens, target_share,
      |    target_share * b AS target_tokens,
      |    (target_share * b) / CAST(unique_tokens AS DOUBLE) AS epochs_uncapped FROM s)
      |SELECT source, unique_tokens, target_share, target_tokens,
      |  least(4.0, epochs_uncapped) AS epochs,
      |  epochs_uncapped > 4.0 AS capped,
      |  greatest(0.0, target_tokens - 4.0 * CAST(unique_tokens AS DOUBLE)) AS deficit
      |FROM e ORDER BY source""".stripMargin

  /** qp21: iterative proportional fitting ([[Raking.rake]]) — fit the
    * (source × lang) document-count grid to UNIFORM source marginals
    * AND uniform language marginals simultaneously (3 sweeps): the
    * two-dimensional mix solver qp13 (one dimension) can't express.
    * Output per occupied cell: observed n, fitted mass, and the
    * per-cell resampling rate fitted/n a downstream md5-draw sampler
    * (qp07's discipline) would execute. Oracle: all 3 row+column
    * sweeps replayed as unrolled CTEs — every scaled mass re-quantized
    * to the 1e-6 grid, marginal sums DECIMAL-exact, so each step's
    * inputs are bit-identical cross-engine. */
  def ipfRaking(t: Tables): DataFrame = {
    import t.spark.implicits._
    val grid = t.documents.groupBy($"source", $"lang")
      .agg(count(lit(1)).cast("long").as("n")).localCheckpoint()
    val sc = grid.agg(sum($"n").cast("long").as("tn"),
      countDistinct($"source").as("nr"), countDistinct($"lang").as("nc"))
    val rowT = grid.select($"source").distinct().crossJoin(broadcast(sc))
      .select($"source", ($"tn".cast("double") / $"nr".cast("double")).as("target"))
    val colT = grid.select($"lang").distinct().crossJoin(broadcast(sc))
      .select($"lang", ($"tn".cast("double") / $"nc".cast("double")).as("target"))
    val fitted = Raking.rake(grid, "source", "lang", "n", rowT, colT, sweeps = 3)
    grid.join(fitted, Seq("source", "lang"))
      .select($"source", $"lang", $"n", $"m".as("fitted"),
        round($"m" / $"n".cast("double"), 6).as("rate"))
      .orderBy($"source", $"lang")
  }

  /** One IPF sweep (rows then columns) over the previous mass table. */
  private def rakeSweepSql(k: Int): String = {
    val prev = if (k == 1) "m0" else s"c${k - 1}"
    s"""r$k AS MATERIALIZED (SELECT m.source, m.lang, round(m.m * (rt.target / rs.ms), 6) m
       |  FROM $prev m
       |  JOIN (SELECT source, CAST(SUM(CAST(m AS DECIMAL(28,6))) AS DOUBLE) ms FROM $prev GROUP BY 1) rs USING (source)
       |  JOIN rt USING (source)),
       |c$k AS MATERIALIZED (SELECT m.source, m.lang, round(m.m * (ct.target / cs.ms), 6) m
       |  FROM r$k m
       |  JOIN (SELECT lang, CAST(SUM(CAST(m AS DECIMAL(28,6))) AS DOUBLE) ms FROM r$k GROUP BY 1) cs USING (lang)
       |  JOIN ct USING (lang))""".stripMargin
  }

  val ipfRakingSql: String = {
    val sweeps = (1 to 3).map(rakeSweepSql).mkString(",\n")
    s"""WITH g AS MATERIALIZED (SELECT source, lang, CAST(COUNT(*) AS BIGINT) n FROM documents GROUP BY 1, 2),
       |sc AS MATERIALIZED (SELECT CAST(SUM(n) AS BIGINT) tn,
       |  CAST(COUNT(DISTINCT source) AS BIGINT) nr, CAST(COUNT(DISTINCT lang) AS BIGINT) nc FROM g),
       |rt AS (SELECT source, CAST(tn AS DOUBLE) / CAST(nr AS DOUBLE) target
       |  FROM (SELECT DISTINCT source FROM g) CROSS JOIN sc),
       |ct AS (SELECT lang, CAST(tn AS DOUBLE) / CAST(nc AS DOUBLE) target
       |  FROM (SELECT DISTINCT lang FROM g) CROSS JOIN sc),
       |m0 AS (SELECT source, lang, CAST(n AS DOUBLE) m FROM g),
       |$sweeps
       |SELECT g.source AS source, g.lang AS lang, g.n AS n, c3.m AS fitted,
       |  round(c3.m / CAST(g.n AS DOUBLE), 6) AS rate
       |FROM g JOIN c3 USING (source, lang) ORDER BY source, lang""".stripMargin
  }

  val targetMixSql: String =
    """WITH c0 AS (SELECT source,
      |    CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) tokens_avail
      |  FROM documents GROUP BY source),
      |c AS (SELECT source, tokens_avail,
      |    CAST(regexp_extract(source, '(\d+)', 1) AS BIGINT) + 1 w FROM c0),
      |tot AS (SELECT CAST(SUM(w) AS BIGINT) sw FROM c),
      |s AS (SELECT source, tokens_avail,
      |    CAST(w AS DOUBLE) / CAST(sw AS DOUBLE) target_share FROM c CROSS JOIN tot),
      |b AS (SELECT MIN(CAST(tokens_avail AS DOUBLE) / target_share) b FROM s)
      |SELECT source, tokens_avail, target_share,
      |  target_share * b AS budget_tokens,
      |  (target_share * b) / CAST(tokens_avail AS DOUBLE) AS rate
      |FROM s CROSS JOIN b ORDER BY source""".stripMargin

  // ---- corpus statistics: TF-IDF top terms per language ----

  /** Top-5 TF-IDF terms per language. Canonical shapes: explode →
    * hash-agg tf on (lang, term); distinct → hash-agg df on term;
    * shuffle join on term (df is vocabulary-sized — NOT broadcast at
    * 100 TB); scalar N broadcast; per-lang top-k window over the
    * already-rounded score so cross-engine ordering is stable. */
  def tfidfTopTerms(t: Tables): DataFrame = {
    import t.spark.implicits._
    val toks = t.documents.select(
      $"lang", $"doc_id", explode(tokens(lower($"text"))).as("term"))
    val tf = toks.groupBy($"lang", $"term").agg(count(lit(1)).as("tf"))
    val dfreq = toks.select($"term", $"doc_id").distinct()
      .groupBy($"term").agg(count(lit(1)).as("df"))
    val n = t.documents.agg(count(lit(1)).cast("double").as("n"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .select($"lang", $"term", $"tf",
        round($"tf".cast("double") * log($"n" / $"df".cast("double")), 4).as("tfidf"))
    val w = Window.partitionBy($"lang").orderBy($"tfidf".desc, $"term".asc)
    scored.withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 5)
      .select($"lang", $"term", $"tf", $"tfidf", $"rk")
      .orderBy($"lang", $"rk")
  }

  val tfidfTopTermsSql: String =
    """WITH t AS (SELECT lang, doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term FROM documents),
      |tf AS (SELECT lang, term, CAST(COUNT(*) AS BIGINT) tf FROM t GROUP BY lang, term),
      |dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) df FROM (SELECT DISTINCT term, doc_id FROM t) GROUP BY term),
      |n AS (SELECT CAST(COUNT(*) AS DOUBLE) n FROM documents),
      |s AS (SELECT lang, term, tf, round(CAST(tf AS DOUBLE) * ln(n.n / CAST(df AS DOUBLE)), 4) tfidf
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
      |SELECT lang, term, tf, tfidf, rk FROM (
      |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY tfidf DESC, term ASC) AS BIGINT) rk FROM s)
      |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin

  // ---- composed curation pipeline ----

  /** The end-to-end curation run as ONE declarative plan: language
    * gate (predicted, not labeled) → quality gate → exact dedup
    * (keepers only) → per-source audit stats. Catalyst fuses the three
    * scalar gates into the scan projection; the only shuffles are the
    * dedup hash-partition and the final per-source agg. Decimal-exact
    * quality sum keeps the average bit-stable cross-engine. */
  def curationPipeline(t: Tables): DataFrame = {
    import t.spark.implicits._
    val scored = t.documents.select($"doc_id", $"source", $"text",
        langIdHeuristic($"text").as("pred_lang"),
        qualityScore($"text").as("quality"))
      .filter($"pred_lang" === "en" && $"quality" >= 0.45)
    val keepers = scored
      .withColumn("keeper", min($"doc_id").over(Window.partitionBy(md5($"text"))))
      .filter($"doc_id" === $"keeper")
    keepers.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
           sum(bpeTokenCount($"text").cast("long")).as("sum_bpe_tokens"),
           (sum($"quality".cast(DecimalType(12, 6))).cast("double") / count(lit(1)))
             .as("avg_quality"))
      .orderBy($"source")
  }

  val curationPipelineSql: String =
    """WITH s AS (SELECT doc_id, source, text, string_split_regex(trim(lower(text)), '\s+') toks FROM documents),
      |m AS (SELECT doc_id, source, text,
      |  CAST(len(toks) AS DOUBLE) n, CAST(len(list_distinct(toks)) AS DOUBLE) d,
      |  CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE) sw,
      |  len(list_filter(toks, t -> t IN ('el','la','de','y','que','en','los'))) sc_es,
      |  len(list_filter(toks, t -> t IN ('le','les','des','et','une','dans','est'))) sc_fr,
      |  len(list_filter(toks, t -> t IN ('der','die','das','und','ist','von','nicht'))) sc_de,
      |  CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) chars
      |FROM s),
      |q AS (SELECT doc_id, source, text,
      |  floor((0.25*least(1.0, n/100.0) + 0.25*(d/n) + 0.25*least(1.0, sw*5.0/n) + 0.25*least(1.0, chars/n/8.0)) * 1e6 + 0.5) / 1e6 quality,
      |  CASE WHEN sw=0 AND sc_es=0 AND sc_fr=0 AND sc_de=0 THEN 'und'
      |       WHEN sw>=sc_es AND sw>=sc_fr AND sw>=sc_de THEN 'en'
      |       WHEN sc_es>=sc_fr AND sc_es>=sc_de THEN 'es'
      |       WHEN sc_fr>=sc_de THEN 'fr' ELSE 'de' END pred_lang
      |FROM m),
      |f AS (SELECT * FROM q WHERE pred_lang='en' AND quality >= 0.45),
      |k AS (SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) keeper FROM f)
      |SELECT source, CAST(COUNT(*) AS BIGINT) n_docs,
      |  CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) sum_bpe_tokens,
      |  CAST(SUM(CAST(quality AS DECIMAL(12,6))) AS DOUBLE)/COUNT(*) AS avg_quality
      |FROM k WHERE doc_id = keeper GROUP BY source ORDER BY source""".stripMargin

  /** qp14: per-domain cap — the web-corpus quota every crawl pipeline
    * applies before mixing (a handful of mega-domains otherwise
    * dominate the token budget). The fixture has no URLs, so
    * deterministic ones are planted IN THE QUERY (the qt09 precedent:
    * domain = doc_id mod 7); each domain keeps its first `cap` docs in
    * md5-coordinate order (the qp04 discipline — never rand()), the
    * rest are marked dropped but all rows are emitted for audit.
    *
    * Scale shape: one window keyed by domain. Fine while per-domain
    * cardinality is bounded; a true mega-domain (hundreds of millions
    * of rows under one key) would use qz02's per-partition-count +
    * offset-join ordinal instead of a single-key window — same
    * md5 coordinate, no hot partition. */
  /** qp22: weighted sampling WITHOUT replacement
    * ([[graft.operators.Sampling.weightedReservoirPerKey]], the
    * Efraimidis–Spirakis exponential-key reservoir) — exactly 25 docs
    * per language, selection biased by document length (n_chars as the
    * weight: the "sample long documents preferentially, but exactly k
    * of them" curation read neither qp02's unweighted reservoir nor
    * qp07's Bernoulli weighting can produce). The oracle replays the
    * md5 uniform, the −ln(u)/w key on the 1e-6 grid, and the per-lang
    * rank window. */
  def weightedReservoir(t: Tables): DataFrame = {
    import t.spark.implicits._
    graft.operators.Sampling
      .weightedReservoirPerKey(t.documents, "lang", "doc_id", "n_chars", k = 25)
      .orderBy($"lang", $"rk")
  }

  val weightedReservoirSql: String =
    """WITH s AS (SELECT lang, doc_id,
      |    CAST(floor(-ln((CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS DOUBLE) + 1.0) / 4294967296.0)
      |      / CAST(n_chars AS DOUBLE) * 1e6 + 0.5) AS BIGINT) es_key
      |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
      |r AS (SELECT lang, doc_id, es_key,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY es_key ASC, doc_id ASC) AS BIGINT) rk FROM s)
      |SELECT lang, doc_id, es_key, rk FROM r WHERE rk <= 25
      |ORDER BY lang, rk""".stripMargin

  def domainCap(t: Tables): DataFrame = {
    import t.spark.implicits._
    val planted = t.documents.select($"doc_id",
      concat(lit("https://d"), ($"doc_id" % 7).cast("string"),
             lit(".example.com/p/"), $"doc_id".cast("string")).as("url"))
    val dom = planted.withColumn("domain",
      regexp_extract($"url", "^https?://([^/]+)/", 1))
    val w = Window.partitionBy($"domain")
      .orderBy(md5(concat(lit("14:"), $"doc_id".cast("string"))).asc, $"doc_id".asc)
    dom.withColumn("dom_rank", row_number().over(w).cast("long"))
      .select($"doc_id", $"domain", $"dom_rank", ($"dom_rank" <= 40).as("kept"))
      .orderBy($"doc_id")
  }

  val domainCapSql: String =
    """WITH u AS (SELECT doc_id,
      |    'https://d' || (doc_id % 7) || '.example.com/p/' || doc_id AS url
      |  FROM documents),
      |d AS (SELECT doc_id, regexp_extract(url, '^https?://([^/]+)/', 1) AS domain FROM u),
      |r AS (SELECT doc_id, domain,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY domain
      |      ORDER BY md5('14:' || doc_id::VARCHAR) ASC, doc_id ASC) AS BIGINT) dom_rank
      |  FROM d)
      |SELECT doc_id, domain, dom_rank, dom_rank <= 40 AS kept
      |FROM r ORDER BY doc_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qp14_domain_cap"        -> ((s: SparkSession, d: String) => domainCap(Tables(s, d))),
    "qa01_asof_join"         -> ((s: SparkSession, d: String) => asofViewBeforePurchase(Tables(s, d))),
    "qa02_asof_salted"       -> ((s: SparkSession, d: String) => asofViewBeforePurchaseSalted(Tables(s, d))),
    "qa03_asof_forward"      -> ((s: SparkSession, d: String) => asofViewAfterPurchase(Tables(s, d))),
    "qa04_asof_fwd_salted"   -> ((s: SparkSession, d: String) => asofViewAfterPurchaseSalted(Tables(s, d))),
    "qp01_stratified_sample" -> ((s: SparkSession, d: String) => stratifiedSample(Tables(s, d))),
    "qp17_temperature_mix"   -> ((s: SparkSession, d: String) => temperatureMixApplied(Tables(s, d))),
    "qp18_sequence_packing"  -> ((s: SparkSession, d: String) => sequencePacking(Tables(s, d))),
    "qp19_packing_report"    -> ((s: SparkSession, d: String) => packingReport(Tables(s, d))),
    "qp02_reservoir_sample"  -> ((s: SparkSession, d: String) => reservoirSample(Tables(s, d))),
    "qp03_mixture_sample"    -> ((s: SparkSession, d: String) => mixtureSample(Tables(s, d))),
    "qp04_holdout_split"     -> ((s: SparkSession, d: String) => holdoutSplit(Tables(s, d))),
    "qt06_tfidf_terms"       -> ((s: SparkSession, d: String) => tfidfTopTerms(Tables(s, d))),
    "qt07_length_quantiles"  -> ((s: SparkSession, d: String) => lengthQuantiles(Tables(s, d))),
    "qc01_curation_pipeline" -> ((s: SparkSession, d: String) => curationPipeline(Tables(s, d))),
    "qc02_decontaminate"     -> ((s: SparkSession, d: String) => decontaminate(Tables(s, d))),
    // r15: shared-tokenization form — one corpus text scan feeds the
    // funnel and both guard sides; an interleaved A/B at sf0.1
    // (n=5) min 3.32 -> 2.93 s, won 4/5 passes. Oracle-verified
    // sf0.01 + sf0.1.
    "qc12_cluster_decontam"  -> ((s: SparkSession, d: String) => clusterDecontaminate(Tables(s, d))),
    "qc13_dedup_roi"         -> ((s: SparkSession, d: String) => dedupRoi(Tables(s, d))),
    "qt08_repetition"        -> ((s: SparkSession, d: String) => repetitionStats(Tables(s, d))),
    "qc03_chunking"          -> ((s: SparkSession, d: String) => chunking(Tables(s, d))),
    "qc04_packing"           -> ((s: SparkSession, d: String) => packing(Tables(s, d))),
    "qp15_pack_stats"        -> ((s: SparkSession, d: String) => packStats(Tables(s, d))),
    "qt09_pii_scrub"         -> ((s: SparkSession, d: String) => piiScrub(Tables(s, d))),
    "qc05_corpus_diff"       -> ((s: SparkSession, d: String) => corpusDiff(Tables(s, d))),
    "qp05_shuffle_shards"    -> ((s: SparkSession, d: String) => shuffleShards(Tables(s, d))),
    "qp06_token_budget"      -> ((s: SparkSession, d: String) => tokenBudget(Tables(s, d))),
    "qp07_weighted_sample"   -> ((s: SparkSession, d: String) => weightedSample(Tables(s, d))),
    "qp08_curriculum"        -> ((s: SparkSession, d: String) => curriculumShards(Tables(s, d))),
    "qr01_data_card"         -> ((s: SparkSession, d: String) => dataCard(Tables(s, d))),
    "qr02_drift_report"      -> ((s: SparkSession, d: String) => driftReport(Tables(s, d))),
    "qa05_asof_tolerant"     -> ((s: SparkSession, d: String) => asofViewBeforePurchaseTolerant(Tables(s, d))),
    "qa06_asof_nearest"      -> ((s: SparkSession, d: String) => asofNearestView(Tables(s, d))),
    "qa07_asof_coverage"     -> ((s: SparkSession, d: String) => asofCoverage(Tables(s, d))),
    "qr03_ks_drift"          -> ((s: SparkSession, d: String) => ksDrift(Tables(s, d))),
    "qr06_psi_drift"         -> ((s: SparkSession, d: String) => psiDrift(Tables(s, d))),
    "qp13_target_mix"        -> ((s: SparkSession, d: String) => targetMix(Tables(s, d))),
    "qp16_epoch_mix"         -> ((s: SparkSession, d: String) => epochMix(Tables(s, d))),
    "qp21_ipf_raking"        -> ((s: SparkSession, d: String) => ipfRaking(Tables(s, d))),
    "qp22_weighted_reservoir" -> ((s: SparkSession, d: String) => weightedReservoir(Tables(s, d))),
    "qx01_corpus_build"      -> ((s: SparkSession, d: String) => corpusBuild(Tables(s, d))),
    "qc06_training_mix"      -> ((s: SparkSession, d: String) => trainingMix(Tables(s, d))),
    "qt17_source_overlap"    -> ((s: SparkSession, d: String) => sourceOverlap(Tables(s, d))),
    "qp11_temperature_mix"   -> ((s: SparkSession, d: String) => temperatureMix(Tables(s, d))),
  )

  def oracles: Map[String, String] = Map(
    "qp14_domain_cap"        -> domainCapSql,
    "qa01_asof_join"         -> asofViewBeforePurchaseSql,
    "qa02_asof_salted"       -> asofViewBeforePurchaseSql, // same oracle: salting must be invisible
    "qa03_asof_forward"      -> asofViewAfterPurchaseSql,
    "qa04_asof_fwd_salted"   -> asofViewAfterPurchaseSql, // same oracle: salting invisible
    "qp01_stratified_sample" -> stratifiedSampleSql,
    "qp17_temperature_mix"   -> temperatureMixAppliedSql,
    "qp18_sequence_packing"  -> sequencePackingSql,
    "qp19_packing_report"    -> packingReportSql,
    "qp02_reservoir_sample"  -> reservoirSampleSql,
    "qp03_mixture_sample"    -> mixtureSampleSql,
    "qp04_holdout_split"     -> holdoutSplitSql,
    "qt06_tfidf_terms"       -> tfidfTopTermsSql,
    "qt07_length_quantiles"  -> lengthQuantilesSql,
    "qc01_curation_pipeline" -> curationPipelineSql,
    "qc02_decontaminate"     -> decontaminateSql,
    "qc12_cluster_decontam"  -> clusterDecontaminateSql,
    "qc13_dedup_roi"         -> dedupRoiSql,
    "qt08_repetition"        -> repetitionStatsSql,
    "qc03_chunking"          -> chunkingSql,
    "qc04_packing"           -> packingSql,
    "qp15_pack_stats"        -> packStatsSql,
    "qt09_pii_scrub"         -> piiScrubSql,
    "qc05_corpus_diff"       -> corpusDiffSql,
    "qp05_shuffle_shards"    -> shuffleShardsSql,
    "qp06_token_budget"      -> tokenBudgetSql,
    "qp07_weighted_sample"   -> weightedSampleSql,
    "qp08_curriculum"        -> curriculumShardsSql,
    "qr01_data_card"         -> dataCardSql,
    "qr02_drift_report"      -> driftReportSql,
    "qa05_asof_tolerant"     -> asofViewBeforePurchaseTolerantSql,
    "qa06_asof_nearest"      -> asofNearestViewSql,
    "qa07_asof_coverage"     -> asofCoverageSql,
    "qr03_ks_drift"          -> ksDriftSql,
    "qr06_psi_drift"         -> psiDriftSql,
    "qp13_target_mix"        -> targetMixSql,
    "qp16_epoch_mix"         -> epochMixSql,
    "qp21_ipf_raking"        -> ipfRakingSql,
    "qp22_weighted_reservoir" -> weightedReservoirSql,
    "qx01_corpus_build"      -> corpusBuildSql,
    "qc06_training_mix"      -> trainingMixSql,
    "qt17_source_overlap"    -> sourceOverlapSql,
    "qp11_temperature_mix"   -> temperatureMixSql,
  )

  /** qp11: temperature-scaled mixture weights — sampling weight per
    * source ∝ share^α (α = 0.3, the multilingual temperature-sampling
    * recipe: upsample the tail, downsample the head, α = 1 recovers
    * natural sampling). One aggregation + a |sources|-row projection;
    * the α-power is the one transcendental (round-6, decimal-summed
    * denominator), the normalized weight an unrounded IEEE quotient,
    * and the 10k-doc allocation its floor. */
  def temperatureMix(t: Tables): DataFrame = {
    import t.spark.implicits._
    val counts = t.documents.groupBy($"source").agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum($"n_docs").cast("double").as("n"))
    val raw = counts.crossJoin(broadcast(total))
      .select($"source", $"n_docs",
        round(pow($"n_docs" / $"n", lit(0.3)), 6).cast("decimal(18,6)").as("w_raw"))
    val denom = raw.agg(sum($"w_raw").as("denom"))
    raw.crossJoin(broadcast(denom))
      .select($"source", $"n_docs",
        ($"w_raw".cast("double") / $"denom".cast("double")).as("weight"))
      .withColumn("alloc_10k", floor($"weight" * 10000).cast("long"))
      .orderBy($"source")
  }

  val temperatureMixSql: String =
    """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) n_docs FROM documents GROUP BY 1),
      |t AS (SELECT CAST(SUM(n_docs) AS DOUBLE) n FROM c),
      |raw AS (SELECT source, n_docs,
      |    CAST(round(pow(n_docs / n, CAST(0.3 AS DOUBLE)), 6) AS DECIMAL(18,6)) w_raw
      |  FROM c CROSS JOIN t),
      |d AS (SELECT SUM(w_raw) denom FROM raw)
      |SELECT source, n_docs,
      |  CAST(w_raw AS DOUBLE) / CAST(denom AS DOUBLE) AS weight,
      |  CAST(FLOOR(CAST(w_raw AS DOUBLE) / CAST(denom AS DOUBLE) * 10000) AS BIGINT) AS alloc_10k
      |FROM raw CROSS JOIN d ORDER BY source""".stripMargin

  /** qt17: inter-source content-overlap matrix — exact shingle Jaccard
    * and containment between every pair of sources that share at least
    * one 3-gram. The census a mix designer reads before weighting
    * sources: high overlap means double-counting, high containment
    * means one source is (nearly) inside another.
    *
    * Scale: per-source distinct shingle hashes are one explode + one
    * distinct (shingle-keyed shuffle); the pair intersection joins on
    * the SHINGLE hash, so fan-out per hash is bounded by the number of
    * sources containing it (≤ |sources|, a few dozen) — never a
    * doc-level pair join. Source-level sizes join at |sources| rows. */
  def sourceOverlap(t: Tables): DataFrame = {
    import t.spark.implicits._
    val sh = t.documents
      .select($"source", explode(shingleHashes($"text", 3)).as("h")).distinct()
    val sizes = sh.groupBy($"source").agg(count(lit(1)).as("sz"))
    sh.select($"source".as("s1"), $"h")
      .join(sh.select($"source".as("s2"), $"h"), Seq("h"))
      .filter($"s1" < $"s2")
      .groupBy($"s1", $"s2").agg(count(lit(1)).as("n_shared"))
      .join(sizes.select($"source".as("s1"), $"sz".as("sz1")), "s1")
      .join(sizes.select($"source".as("s2"), $"sz".as("sz2")), "s2")
      .select($"s1", $"s2", $"n_shared",
        round($"n_shared".cast("double") / ($"sz1" + $"sz2" - $"n_shared"), 6).as("jaccard"),
        round($"n_shared".cast("double") / $"sz1", 6).as("containment"))
      .orderBy($"s1", $"s2")
  }

  val sourceOverlapSql: String =
    """WITH sh AS (SELECT DISTINCT source, unnest(list_distinct(
      |    [md5(array_to_string(w[i:i+2], ' ')) for i in range(1, len(w)-1)])) h
      |  FROM (SELECT source, string_split_regex(trim(text), '\s+') w FROM documents)),
      |sz AS (SELECT source, COUNT(*) sz FROM sh GROUP BY 1),
      |p AS (SELECT a.source s1, b.source s2, CAST(COUNT(*) AS BIGINT) n_shared
      |  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2)
      |SELECT s1, s2, n_shared,
      |  round(CAST(n_shared AS DOUBLE) / (z1.sz + z2.sz - n_shared), 6) AS jaccard,
      |  round(CAST(n_shared AS DOUBLE) / z1.sz, 6) AS containment
      |FROM p JOIN sz z1 ON z1.source = p.s1 JOIN sz z2 ON z2.source = p.s2
      |ORDER BY s1, s2""".stripMargin
}
