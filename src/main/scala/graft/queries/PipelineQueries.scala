package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.{ConnectedComponents, Dedup, Multimodal, Sampling, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline plane: text analysis, dedup, similarity
  * search (builder brief north-star operators; SURVEY.md §7.1 step 7).
  *
  * Every query has an exact DuckDB oracle — md5-derived signatures,
  * hyperplanes (qs02) and sampled centroids (qs03) make even
  * MinHash/SimHash/ANN cross-engine deterministic. The ANN paths are
  * additionally recall-checked against brute force in SimilaritySpec.
  */
object PipelineQueries {

  // ---- text analysis ----

  def tokenStats(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.documents
      .select($"lang", tokenCount($"text").as("ws_tokens"), bpeTokenCount($"text").as("bpe_tokens"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
           sum($"ws_tokens").as("sum_ws_tokens"),
           sum($"bpe_tokens").as("sum_bpe_tokens"))
      .orderBy($"lang")
  }

  val tokenStatsSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS sum_ws_tokens,
      |  CAST(SUM(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS sum_bpe_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  def langId(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.documents.select($"doc_id", langIdHeuristic($"text").as("pred_lang")).orderBy($"doc_id")
  }

  val langIdSql: String =
    """WITH s AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') toks FROM documents),
      |c AS (SELECT doc_id,
      |  len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) sc_en,
      |  len(list_filter(toks, t -> t IN ('el','la','de','y','que','en','los'))) sc_es,
      |  len(list_filter(toks, t -> t IN ('le','les','des','et','une','dans','est'))) sc_fr,
      |  len(list_filter(toks, t -> t IN ('der','die','das','und','ist','von','nicht'))) sc_de
      |FROM s)
      |SELECT doc_id,
      |  CASE WHEN sc_en=0 AND sc_es=0 AND sc_fr=0 AND sc_de=0 THEN 'und'
      |       WHEN sc_en>=sc_es AND sc_en>=sc_fr AND sc_en>=sc_de THEN 'en'
      |       WHEN sc_es>=sc_fr AND sc_es>=sc_de THEN 'es'
      |       WHEN sc_fr>=sc_de THEN 'fr'
      |       ELSE 'de' END AS pred_lang
      |FROM c ORDER BY doc_id""".stripMargin

  def quality(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.documents.select($"doc_id", qualityScore($"text").as("quality")).orderBy($"doc_id")
  }

  val qualitySql: String =
    """WITH s AS (SELECT doc_id, text, string_split_regex(trim(lower(text)), '\s+') toks FROM documents),
      |m AS (SELECT doc_id,
      |  CAST(len(toks) AS DOUBLE) n,
      |  CAST(len(list_distinct(toks)) AS DOUBLE) d,
      |  CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE) sw,
      |  CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE) chars
      |FROM s)
      |SELECT doc_id,
      |  floor((0.25 * least(1.0, n / 100.0) + 0.25 * (d / n) +
      |        0.25 * least(1.0, sw * 5.0 / n) + 0.25 * least(1.0, chars / n / 8.0)) * 1e6 + 0.5) / 1e6 AS quality
      |FROM m ORDER BY doc_id""".stripMargin

  def fingerprints(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.documents.select($"doc_id", fingerprint($"text").as("fingerprint")).orderBy($"doc_id")
  }

  val fingerprintsSql: String =
    """WITH s AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents)
      |SELECT doc_id,
      |  array_to_string(list_sort(list_distinct(
      |    [md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) for i in range(1, len(w)-1)]))[1:4], '|') AS fingerprint
      |FROM s ORDER BY doc_id""".stripMargin

  def simhashes(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.documents.select($"doc_id", simhash16($"text").as("simhash")).orderBy($"doc_id")
  }

  val simhashesSql: String =
    """WITH s AS (SELECT doc_id,
      |  list_distinct([md5(t) for t in string_split_regex(trim(text), '\s+')]) hashes
      |FROM documents)
      |SELECT doc_id,
      |  array_to_string(list_transform(range(0,16), j ->
      |    CASE WHEN len(list_filter(hashes, h -> substr(h, j+1, 1) >= '8')) * 2 > len(hashes)
      |         THEN '1' ELSE '0' END), '') AS simhash
      |FROM s ORDER BY doc_id""".stripMargin

  // ---- dedup ----

  def exactDedup(t: Tables): DataFrame = {
    import t.spark.implicits._
    Dedup.exactCanonical(t.documents).orderBy($"doc_id")
  }

  val exactDedupSql: String =
    """SELECT doc_id, md5(text) AS content_hash,
      |  MIN(doc_id) OVER (PARTITION BY md5(text)) AS keeper,
      |  doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
      |FROM documents ORDER BY doc_id""".stripMargin

  def jaccardBlocked(t: Tables): DataFrame = {
    import t.spark.implicits._
    Dedup.jaccardPairsByBlock(t.documents, "lang")
      .filter($"jaccard" >= 0.05)
      .orderBy($"block", $"a_id", $"b_id")
  }

  val jaccardBlockedSql: String =
    """WITH sh AS (SELECT doc_id, lang block,
      |    list_distinct([md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) for i in range(1, len(w)-1)]) hashes
      |  FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') w FROM documents)),
      |p AS (SELECT a.block AS block, a.doc_id a_id, b.doc_id b_id,
      |    round(CAST(len(list_intersect(a.hashes, b.hashes)) AS DOUBLE) /
      |          (len(a.hashes) + len(b.hashes) - CAST(len(list_intersect(a.hashes, b.hashes)) AS DOUBLE)), 6) jaccard
      |  FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id)
      |SELECT block, a_id, b_id, jaccard FROM p WHERE jaccard >= 0.05
      |ORDER BY block, a_id, b_id""".stripMargin

  /** qd21: excerpt/quote detection — [[Dedup.containmentPairsByBlock]]
    * (C(A,B) = |A∩B|/|A|, the asymmetric overlap Jaccard structurally
    * misses: an excerpt of a long doc has J ≈ len ratio but C ≈ 1).
    * Every 25th doc gets a planted 150-char excerpt row (qt09's
    * in-query planting discipline, mirrored in the oracle) so the
    * threshold actually fires; natural near-supersets surface too. */
  def containmentDedup(t: Tables): DataFrame = {
    import t.spark.implicits._
    val base = t.documents.select($"doc_id", $"lang", $"text")
      .unionByName(t.documents.filter($"doc_id" % 25 === 0)
        .select(($"doc_id" + 100000L).as("doc_id"), $"lang",
          substring($"text", 1, 150).as("text")))
    Dedup.containmentPairsByBlock(base, "lang", threshold = 0.8)
      .orderBy($"block", $"contained_id", $"container_id")
  }

  val containmentDedupSql: String =
    """WITH base AS (SELECT doc_id, lang, text FROM documents
      |  UNION ALL SELECT doc_id + 100000, lang, substr(text, 1, 150)
      |    FROM documents WHERE doc_id % 25 = 0),
      |sh AS (SELECT doc_id, lang block,
      |    list_distinct([md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]) for i in range(1, len(w)-1)]) hashes
      |  FROM (SELECT doc_id, lang, string_split_regex(trim(text), '\s+') w FROM base)),
      |p AS (SELECT a.block AS block, a.doc_id a_id, b.doc_id b_id,
      |    len(a.hashes) a_n, len(b.hashes) b_n,
      |    CAST(len(list_intersect(a.hashes, b.hashes)) AS DOUBLE) common
      |  FROM sh a JOIN sh b ON a.block = b.block AND a.doc_id < b.doc_id),
      |d AS (SELECT block,
      |    CASE WHEN a_n < b_n OR (a_n = b_n AND a_id < b_id) THEN a_id ELSE b_id END contained_id,
      |    CASE WHEN a_n < b_n OR (a_n = b_n AND a_id < b_id) THEN b_id ELSE a_id END container_id,
      |    round(common / CAST(least(a_n, b_n) AS DOUBLE), 6) containment
      |  FROM p)
      |SELECT block, contained_id, container_id, containment FROM d
      |WHERE containment >= 0.8 ORDER BY block, contained_id, container_id""".stripMargin

  def minhashNearDups(t: Tables): DataFrame = {
    import t.spark.implicits._
    Dedup.nearDupsMinhash(t.documents, threshold = 0.3).orderBy($"a_id", $"b_id")
  }

  val minhashNearDupsSql: String =
    """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
      |shr AS (SELECT doc_id, [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)] sh FROM toks),
      |hsh AS (SELECT doc_id, list_distinct([md5(x) for x in sh]) hashes FROM shr),
      |sig AS (SELECT doc_id, [list_aggregate([md5(s::VARCHAR || ':' || x) for x in sh], 'min') for s in range(0,16)] sg FROM shr),
      |bands AS (SELECT doc_id, [md5(sg[4*b+1] || '|' || sg[4*b+2] || '|' || sg[4*b+3] || '|' || sg[4*b+4]) for b in range(0,4)] bs FROM sig),
      |bt AS (SELECT doc_id, i band_idx, bs[i] band_hash FROM bands, range(1,5) t(i)),
      |cand AS (SELECT DISTINCT a.doc_id a_id, b.doc_id b_id FROM bt a
      |  JOIN bt b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
      |j AS (SELECT a_id, b_id,
      |    round(CAST(len(list_intersect(ha.hashes, hb.hashes)) AS DOUBLE) /
      |          (len(ha.hashes) + len(hb.hashes) - CAST(len(list_intersect(ha.hashes, hb.hashes)) AS DOUBLE)), 6) jaccard
      |  FROM cand JOIN hsh ha ON ha.doc_id = a_id JOIN hsh hb ON hb.doc_id = b_id)
      |SELECT a_id, b_id, jaccard FROM j WHERE jaccard >= 0.3 ORDER BY a_id, b_id""".stripMargin

  /** Dedup decisions for the WHOLE corpus: minhash near-dup pairs →
    * connected components (transitive closure) → every doc mapped to
    * its cluster keeper. The DuckDB oracle recomputes the identical
    * funnel and closes the pair graph with a recursive CTE — an exact
    * cross-engine check of an iterative distributed algorithm. */
  def dedupClusters(t: Tables): DataFrame = {
    import t.spark.implicits._
    val pairs = Dedup.nearDupsMinhash(t.documents, threshold = 0.3)
      .select($"a_id", $"b_id")
    ConnectedComponents.dedupDecisions(t.documents, pairs)
      .orderBy($"doc_id")
  }

  /** qd08: the SAME clusters via alternating large-star/small-star
    * (the giant-component algorithm) — checked against qd06's
    * byte-identical recursive-CTE oracle: cross-engine proof that the
    * two distributed CC algorithms agree on real funnel output. */
  def dedupClustersAlternating(t: Tables): DataFrame = {
    import t.spark.implicits._
    val pairs = Dedup.nearDupsMinhash(t.documents, threshold = 0.3)
      .select($"a_id", $"b_id")
    ConnectedComponents.dedupDecisions(t.documents, pairs, alternating = true)
      .orderBy($"doc_id")
  }

  val dedupClustersSql: String =
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
      |c AS (SELECT id, MIN(comp) comp FROM reach GROUP BY id)
      |SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id,
      |       (d.doc_id <> COALESCE(c.comp, d.doc_id)) AS is_dup
      |FROM documents d LEFT JOIN c ON c.id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** qd18: cluster-size census — qd06's transitive clusters histogrammed
    * by log2 size bucket (singletons land in bucket 0): per bucket its
    * cluster count, doc mass, and largest member. This is the census a
    * dedup operator reads BEFORE running the pair-quadratic stages at
    * a new scale: a fat tail (mega-cluster) is the signal to switch CC
    * to the alternating large-star/small-star variant (qd08) and to
    * re-calibrate the banding threshold (qd17). The histogram is a
    * |clusters|-row aggregation on top of the already-audited funnel —
    * constant-size output, no new shuffle shape. */
  def clusterCensus(t: Tables): DataFrame = {
    import t.spark.implicits._
    val pairs = Dedup.nearDupsMinhash(t.documents, threshold = 0.3)
      .select($"a_id", $"b_id")
    ConnectedComponents.dedupDecisions(t.documents, pairs)
      .groupBy($"cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy(floor(log2($"sz")).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_clusters"),
           sum($"sz").as("n_docs"),
           max($"sz").as("max_size"))
      .orderBy($"bucket")
  }

  val clusterCensusSql: String =
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
      |lab AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id
      |  FROM documents d LEFT JOIN c ON c.id = d.doc_id),
      |sz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) sz FROM lab GROUP BY 1)
      |SELECT CAST(FLOOR(log2(sz)) AS BIGINT) AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_clusters,
      |  CAST(SUM(sz) AS BIGINT) AS n_docs,
      |  CAST(MAX(sz) AS BIGINT) AS max_size
      |FROM sz GROUP BY 1 ORDER BY bucket""".stripMargin

  /** qd19: band-bucket skew census — [[Dedup.bandCensus]] over the
    * production funnel configuration. Where qd18 reads cluster sizes
    * AFTER the funnel ran, this reads LSH bucket sizes BEFORE the pair
    * join: `implied_pairs` is exactly the row count the bucket
    * self-join would shuffle, so this one-pass histogram prices the
    * funnel's quadratic stage in advance (the switch signal for
    * widening bands / raising shingle width at a new corpus scale). */
  def bandCensus(t: Tables): DataFrame = {
    import t.spark.implicits._
    Dedup.bandCensus(t.documents)
      .orderBy($"band_idx", $"bucket")
  }

  val bandCensusSql: String =
    """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
      |shr AS (SELECT doc_id, [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)] sh FROM toks),
      |sig AS (SELECT doc_id, [list_aggregate([md5(s::VARCHAR || ':' || x) for x in sh], 'min') for s in range(0,16)] sg FROM shr),
      |bands AS (SELECT doc_id, [md5(sg[4*b+1] || '|' || sg[4*b+2] || '|' || sg[4*b+3] || '|' || sg[4*b+4]) for b in range(0,4)] bs FROM sig),
      |bt AS (SELECT doc_id, CAST(i - 1 AS INT) band_idx, bs[i] band_hash FROM bands, range(1,5) t(i)),
      |bk AS (SELECT band_idx, band_hash, CAST(COUNT(*) AS BIGINT) sz FROM bt GROUP BY 1, 2)
      |SELECT band_idx, CAST(FLOOR(log2(sz)) AS BIGINT) AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_buckets,
      |  CAST(SUM(sz) AS BIGINT) AS n_docs,
      |  CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS implied_pairs,
      |  CAST(MAX(sz) AS BIGINT) AS max_bucket
      |FROM bk GROUP BY 1, 2 ORDER BY band_idx, bucket""".stripMargin

  /** 64-bit (production-width) simhash near-dup funnel: same
    * combination-banding discipline as qd05, 16-bit band slices of the
    * 64-bit fingerprint. The oracle votes on the leading 64 BITS of
    * each shingle digest (the 16-bit demo votes on the high bit of
    * each leading nibble). */
  def simhash64NearDups(t: Tables): DataFrame = {
    import t.spark.implicits._
    Dedup.nearDupsSimhash(t.documents, maxHamming = 2, bands = 4, width = 64)
      .orderBy($"a_id", $"b_id")
  }

  /** qd11: keeper-policy dedup — the corpus unioned with planted
    * verbatim copies (doc_id + 1e6, source 'copy', both engines plant
    * identically); the policy keeps ORIGINALS over copies, id as the
    * final tie-break — the "keep the trusted source's copy" decision
    * real pipelines make instead of min-id. */
  def keeperPolicy(t: Tables): DataFrame = {
    import t.spark.implicits._
    val copies = t.documents.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text", lit("copy").as("source"))
    val all = t.documents.select($"doc_id", $"text", $"source").union(copies)
    Dedup.exactCanonicalBy(all,
        preference = Seq(when($"source" === "copy", 1).otherwise(0)))
      .orderBy($"doc_id")
  }

  val keeperPolicySql: String =
    """WITH all_docs AS (
      |  SELECT doc_id, text, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text, 'copy' FROM documents WHERE doc_id % 10 = 0),
      |w AS (SELECT doc_id, md5(text) content_hash,
      |    FIRST_VALUE(doc_id) OVER (PARTITION BY md5(text)
      |      ORDER BY CASE WHEN source = 'copy' THEN 1 ELSE 0 END ASC, doc_id ASC) keeper
      |  FROM all_docs)
      |SELECT doc_id, content_hash, keeper, doc_id <> keeper AS is_dup
      |FROM w ORDER BY doc_id""".stripMargin

  /** qd10: edit-distance near-dups — LSH candidates verified by exact
    * Levenshtein ≤ 5, the character-level dedup contract ("differs by
    * at most k edits") set-based Jaccard cannot express. Both engines
    * implement classic Levenshtein, so the funnel is cross-engine
    * exact. */
  def editDistanceNearDups(t: Tables): DataFrame = {
    import t.spark.implicits._
    Dedup.nearDupsEditDistance(t.documents, maxDist = 5)
      .orderBy($"a_id", $"b_id")
  }

  /** Oracle: qd03's signature/band pyramid, then Levenshtein verify on
    * the candidate pairs' raw text. */
  val editDistanceNearDupsSql: String =
    """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
      |shr AS (SELECT doc_id, [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)] sh FROM toks),
      |sig AS (SELECT doc_id, [list_aggregate([md5(s::VARCHAR || ':' || x) for x in sh], 'min') for s in range(0,16)] sg FROM shr),
      |bands AS (SELECT doc_id, [md5(sg[4*b+1] || '|' || sg[4*b+2] || '|' || sg[4*b+3] || '|' || sg[4*b+4]) for b in range(0,4)] bs FROM sig),
      |bt AS (SELECT doc_id, i band_idx, bs[i] band_hash FROM bands, range(1,5) t(i)),
      |cand AS (SELECT DISTINCT a.doc_id a_id, b.doc_id b_id FROM bt a
      |  JOIN bt b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
      |v AS (SELECT a_id, b_id,
      |    CAST(levenshtein(da.text, db.text) AS BIGINT) edit_dist
      |  FROM cand JOIN documents da ON da.doc_id = a_id JOIN documents db ON db.doc_id = b_id)
      |SELECT a_id, b_id, edit_dist FROM v WHERE edit_dist <= 5 ORDER BY a_id, b_id""".stripMargin

  val simhash64NearDupsSql: String =
    """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
      |shr AS (SELECT doc_id, [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)] sh FROM toks),
      |hsh AS (SELECT doc_id, list_distinct([md5(x) for x in sh]) hashes FROM shr),
      |s AS (SELECT doc_id,
      |  array_to_string(list_transform(range(0,64), j ->
      |    CASE WHEN len(list_filter(hashes, h ->
      |      ((strpos('0123456789abcdef', substr(h, j//4+1, 1)) - 1) // CAST(power(2, 3 - j%4) AS INT)) % 2 = 1
      |    )) * 2 > len(hashes) THEN '1' ELSE '0' END), '') sh
      |FROM hsh),
      |b AS (SELECT doc_id, sh, i combo_idx,
      |    CASE i WHEN 0 THEN substr(sh,1,16)||substr(sh,17,16) WHEN 1 THEN substr(sh,1,16)||substr(sh,33,16)
      |           WHEN 2 THEN substr(sh,1,16)||substr(sh,49,16) WHEN 3 THEN substr(sh,17,16)||substr(sh,33,16)
      |           WHEN 4 THEN substr(sh,17,16)||substr(sh,49,16) ELSE substr(sh,33,16)||substr(sh,49,16) END band
      |  FROM s, range(0,6) t(i)),
      |cand AS (SELECT DISTINCT a.doc_id a_id, b.doc_id b_id FROM b a
      |  JOIN b b ON a.combo_idx = b.combo_idx AND a.band = b.band AND a.doc_id < b.doc_id),
      |v AS (SELECT a_id, b_id,
      |    list_sum(list_transform(range(1,65), j ->
      |      CASE WHEN substr(sa.sh, j, 1) <> substr(sb.sh, j, 1) THEN 1 ELSE 0 END)) hamming
      |  FROM cand JOIN s sa ON sa.doc_id = a_id JOIN s sb ON sb.doc_id = b_id)
      |SELECT a_id, b_id, CAST(hamming AS BIGINT) AS hamming FROM v
      |WHERE hamming <= 2 ORDER BY a_id, b_id""".stripMargin

  def embedNearDups(t: Tables): DataFrame = {
    import t.spark.implicits._
    // hot-block budget wired in: blocks beyond 5000 vectors sub-bucket by
    // LSH sign bits (recall trade documented at Dedup.embeddingNearDups).
    // Test scales stay far below the budget, so the DuckDB oracle remains
    // the exact all-pairs answer; at production scale the guard engages.
    Dedup.embeddingNearDups(t.embeddings, threshold = 0.35, maxBlockSize = 5000)
      .orderBy($"block", $"a_id", $"b_id")
  }

  val embedNearDupsSql: String =
    """WITH v AS (SELECT label, vec_id, embedding::DOUBLE[] e,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
      |  FROM embeddings),
      |p AS (SELECT a.label AS block, a.vec_id a_id, b.vec_id b_id,
      |    round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 6) cos_sim
      |  FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
      |SELECT block, a_id, b_id, cos_sim FROM p WHERE cos_sim >= 0.35
      |ORDER BY block, a_id, b_id""".stripMargin

  /** SimHash near-dup funnel over shingle-simhash at the 16-bit DEMO
    * width (the DuckDB oracle reconstructs the fingerprint bit-by-bit;
    * 64 is the library default / production width — qd07): 4-bit
    * banding → bucket join → exact hamming ≤ 2 (full recall guaranteed
    * since maxHamming < bands — see Dedup.nearDupsSimhash). */
  def simhashNearDups(t: Tables): DataFrame = {
    import t.spark.implicits._
    Dedup.nearDupsSimhash(t.documents, maxHamming = 2, bands = 4, width = 16)
      .orderBy($"a_id", $"b_id")
  }

  val simhashNearDupsSql: String =
    """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
      |shr AS (SELECT doc_id, [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)] sh FROM toks),
      |hsh AS (SELECT doc_id, list_distinct([md5(x) for x in sh]) hashes FROM shr),
      |s AS (SELECT doc_id,
      |  array_to_string(list_transform(range(0,16), j ->
      |    CASE WHEN len(list_filter(hashes, h -> substr(h, j+1, 1) >= '8')) * 2 > len(hashes)
      |         THEN '1' ELSE '0' END), '') sh
      |FROM hsh),
      |b AS (SELECT doc_id, sh, i band_idx, substr(sh, 4*i+1, 4) band FROM s, range(0,4) t(i)),
      |cand AS (SELECT DISTINCT a.doc_id a_id, b.doc_id b_id FROM b a
      |  JOIN b b ON a.band_idx = b.band_idx AND a.band = b.band AND a.doc_id < b.doc_id),
      |v AS (SELECT a_id, b_id,
      |    list_sum(list_transform(range(1,17), j ->
      |      CASE WHEN substr(sa.sh, j, 1) <> substr(sb.sh, j, 1) THEN 1 ELSE 0 END)) hamming
      |  FROM cand JOIN s sa ON sa.doc_id = a_id JOIN s sb ON sb.doc_id = b_id)
      |SELECT a_id, b_id, CAST(hamming AS BIGINT) AS hamming FROM v
      |WHERE hamming <= 2 ORDER BY a_id, b_id""".stripMargin

  /** Per-label centroid of the embedding vectors (mean pooling — the
    * summary/codebook step of every embedding pipeline, and IVF's
    * training primitive). Row-per-(label, dim) output keeps the
    * compare scalar; per-element DECIMAL casts make the sum exact, so
    * the mean is bit-stable cross-engine regardless of partition
    * summation order. */
  def labelCentroids(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.embeddings
      .select($"label", posexplode($"embedding").as(Seq("dim", "v")))
      .groupBy($"label", $"dim")
      .agg(count(lit(1)).as("n"),
           sum($"v".cast("double").cast("decimal(20,10)")).as("s"))
      .select($"label", $"dim".cast("long").as("dim"),
        round($"s".cast("double") / $"n", 6).as("centroid"))
      .orderBy($"label", $"dim")
  }

  val labelCentroidsSql: String =
    """WITH e AS (SELECT label, i AS dim, CAST(embedding[i+1] AS DOUBLE) v
      |  FROM embeddings, range(0, 64) t(i))
      |SELECT label, CAST(dim AS BIGINT) AS dim,
      |  round(CAST(SUM(CAST(v AS DECIMAL(20,10))) AS DOUBLE) / COUNT(*), 6) AS centroid
      |FROM e GROUP BY label, dim ORDER BY label, dim""".stripMargin

  // ---- similarity search ----

  private val QueryIds: Seq[Long] = 0L until 10L

  def cosineTopK(t: Tables): DataFrame = {
    import t.spark.implicits._
    Similarity.bruteForceTopK(t.embeddings, QueryIds, k = 5).orderBy($"query_id", $"rk")
  }

  val cosineTopKSql: String =
    """WITH q AS (SELECT vec_id query_id, embedding::DOUBLE[] q_vec,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) q_nrm
      |  FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id neighbor_id, embedding::DOUBLE[] c_vec,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) c_nrm
      |  FROM embeddings),
      |sims AS (SELECT query_id, neighbor_id,
      |    round(list_dot_product(q_vec, c_vec) / (q_nrm * c_nrm), 6) cos_sim
      |  FROM c JOIN q ON neighbor_id <> query_id)
      |SELECT query_id, neighbor_id, cos_sim, rk FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) rk
      |  FROM sims)
      |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** qs14: filtered vector search — exact top-k among vectors sharing
    * the QUERY's label ([[Similarity.filteredTopK]]): the predicate
    * rides the broadcast-join condition, so only eligible pairs are
    * scored and the result is the exact top-k among eligible — the
    * search-then-filter alternative silently under-returns
    * (spec-pinned counterexample). */
  def filteredAnn(t: Tables): DataFrame = {
    import t.spark.implicits._
    Similarity.filteredTopK(t.embeddings, QueryIds, k = 5)
      .orderBy($"query_id", $"rk")
  }

  val filteredAnnSql: String =
    """WITH q AS (SELECT vec_id query_id, embedding::DOUBLE[] q_vec,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) q_nrm,
      |    label q_label
      |  FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id neighbor_id, embedding::DOUBLE[] c_vec,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) c_nrm,
      |    label c_label
      |  FROM embeddings),
      |sims AS (SELECT query_id, neighbor_id,
      |    round(list_dot_product(q_vec, c_vec) / (q_nrm * c_nrm), 6) cos_sim
      |  FROM c JOIN q ON c_label = q_label AND neighbor_id <> query_id)
      |SELECT query_id, neighbor_id, cos_sim, rk FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) rk
      |  FROM sims)
      |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** LSH-bucketed ANN. The md5-derived hyperplanes make the bucket
    * assignment engine-independent, so the whole funnel (bucket →
    * candidate join → per-query window) has an exact DuckDB oracle;
    * recall vs brute force is additionally asserted in SimilaritySpec. */
  def annLsh(t: Tables): DataFrame = {
    import t.spark.implicits._
    Similarity.lshTopK(t.embeddings, QueryIds, k = 5).orderBy($"query_id", $"rk")
  }

  /** Hyperplane j's weight for component i is hexdigit₁(md5("j:i")) −
    * 7.5, exactly VectorFunctions.lshBucket (strpos is 1-based, hence
    * −8.5). This oracle pins the bucket strings bit-identical across
    * engines. */
  val annLshSql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] e,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
      |  FROM embeddings),
      |b AS (SELECT vec_id, e, nrm,
      |    array_to_string(list_transform(range(0,8), j ->
      |      CASE WHEN list_sum(list_transform(range(0,64), i ->
      |        e[i+1] * (strpos('0123456789abcdef',
      |                         substr(md5(j::VARCHAR || ':' || i::VARCHAR), 1, 1)) - 8.5)
      |      )) >= 0 THEN '1' ELSE '0' END), '') bucket
      |  FROM v),
      |q AS (SELECT vec_id query_id, e q_vec, nrm q_nrm, bucket FROM b WHERE vec_id < 10),
      |c AS (SELECT vec_id neighbor_id, e c_vec, nrm c_nrm, bucket FROM b),
      |sims AS (SELECT query_id, neighbor_id,
      |    round(list_dot_product(q_vec, c_vec) / (q_nrm * c_nrm), 6) cos_sim
      |  FROM c JOIN q USING (bucket) WHERE neighbor_id <> query_id)
      |SELECT query_id, neighbor_id, cos_sim, rk FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) rk
      |  FROM sims)
      |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** Multi-table LSH ANN (2 tables × 6 planes): a candidate collides
    * in EITHER table — the standard recall boost over qs02's single
    * table, still bucket-joined, never all-pairs. Table t uses
    * hyperplanes [6t, 6t+6) of one 12-bit code, so the oracle slices
    * the same deterministic bit string. */
  def annLshMulti(t: Tables): DataFrame = {
    import t.spark.implicits._
    Similarity.lshTopK(t.embeddings, QueryIds, k = 5, planes = 6, tables = 2)
      .orderBy($"query_id", $"rk")
  }

  val annLshMultiSql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] e,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) nrm
      |  FROM embeddings),
      |b AS (SELECT vec_id, e, nrm,
      |    array_to_string(list_transform(range(0,12), j ->
      |      CASE WHEN list_sum(list_transform(range(0,64), i ->
      |        e[i+1] * (strpos('0123456789abcdef',
      |                         substr(md5(j::VARCHAR || ':' || i::VARCHAR), 1, 1)) - 8.5)
      |      )) >= 0 THEN '1' ELSE '0' END), '') bits
      |  FROM v),
      |bt AS (SELECT vec_id, e, nrm, substr(bits, 1, 6) b0, substr(bits, 7, 6) b1 FROM b),
      |q AS (SELECT vec_id query_id, e q_vec, nrm q_nrm, b0, b1 FROM bt WHERE vec_id < 10),
      |cand AS (SELECT DISTINCT q.query_id, c.vec_id neighbor_id
      |  FROM bt c JOIN q ON c.b0 = q.b0 OR c.b1 = q.b1
      |  WHERE c.vec_id <> q.query_id),
      |sims AS (SELECT cand.query_id, cand.neighbor_id,
      |    round(list_dot_product(q.q_vec, c.e) / (q.q_nrm * c.nrm), 6) cos_sim
      |  FROM cand JOIN q ON q.query_id = cand.query_id
      |  JOIN bt c ON c.vec_id = cand.neighbor_id)
      |SELECT query_id, neighbor_id, cos_sim, rk FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) rk
      |  FROM sims)
      |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** IVF ANN over the deterministic sampled-centroid quantizer
    * (IvfIndex): nCells=8 centroids picked by md5(vec_id) order,
    * squared-L2 argmin via the |c|²−2·v·c surrogate, nProbe=2. Every
    * step is engine-independent, so the full build+probe has an exact
    * DuckDB oracle. */
  def annIvf(t: Tables): DataFrame = {
    import t.spark.implicits._
    Similarity.ivfTopK(t.embeddings, QueryIds, k = 5).orderBy($"query_id", $"rk")
  }

  val annIvfSql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] e,
      |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) nrm2 FROM embeddings),
      |cent AS (SELECT (ROW_NUMBER() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)) - 1 AS cell,
      |    e c_vec, nrm2 c_nrm2
      |  FROM v ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8),
      |scored AS (SELECT v.vec_id, v.e, v.nrm2, cent.cell,
      |    cent.c_nrm2 - 2 * list_dot_product(v.e, cent.c_vec) AS score
      |  FROM v CROSS JOIN cent),
      |assigned AS (SELECT vec_id, e, nrm2, cell FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score ASC, cell ASC) rn
      |    FROM scored) WHERE rn = 1),
      |probes AS (SELECT vec_id query_id, cell FROM (
      |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score ASC, cell ASC) rn
      |    FROM scored WHERE vec_id < 10) WHERE rn <= 2),
      |q AS (SELECT vec_id query_id, e q_vec, sqrt(nrm2) q_nrm FROM v WHERE vec_id < 10),
      |sims AS (SELECT p.query_id, a.vec_id neighbor_id,
      |    round(list_dot_product(q.q_vec, a.e) / (q.q_nrm * sqrt(a.nrm2)), 6) cos_sim
      |  FROM probes p JOIN assigned a ON a.cell = p.cell JOIN q ON q.query_id = p.query_id
      |  WHERE a.vec_id <> p.query_id)
      |SELECT query_id, neighbor_id, cos_sim, rk FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) rk
      |  FROM sims)
      |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** qs15: ANN recall as a first-class ORACLE-CHECKED query — the
    * ANN evaluation's headline number (NOTES_r6; recall@5 of the IVF
    * probe against brute force) computed in-engine with an exact DuckDB twin: both
    * paths are already engine-independent (md5 centroids, round-6
    * cosines), so their intersection — and therefore the recall
    * itself — is a pure function of the corpus. Per query: hit count
    * and recall; a TOTAL row (query_id −1) carries the macro average.
    * This is the continuously-runnable form of the recall-curve
    * harness: a pipeline alerts on ITS OWN index quality. */
  def annRecall(t: Tables): DataFrame = {
    import t.spark.implicits._
    val bf = Similarity.bruteForceTopK(t.embeddings, QueryIds, k = 5)
      .select($"query_id", $"neighbor_id")
    val ivf = Similarity.ivfTopK(t.embeddings, QueryIds, k = 5)
      .select($"query_id", $"neighbor_id")
    recallCensus(t, bf, ivf)
  }

  /** Shared recall@5 census: per-query hit count + recall of `approx`
    * against the exact `bf` top-5 sets, plus a TOTAL row (query_id −1)
    * carrying the macro average — the qs15/qs18 output contract. */
  private def recallCensus(t: Tables, bf: DataFrame, approx: DataFrame): DataFrame = {
    import t.spark.implicits._
    val hits = bf.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("n_hits"))
    val perQ = bf.select($"query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .select($"query_id", coalesce($"n_hits", lit(0L)).as("n_hits"))
      .select($"query_id", $"n_hits",
        round($"n_hits".cast("double") / 5.0, 6).as("recall"))
      .localCheckpoint()
    val total = perQ.agg(sum($"n_hits").as("s"), count(lit(1)).as("nq"))
      .select(lit(-1L).as("query_id"), $"s".cast("long").as("n_hits"),
        round($"s".cast("double") / ($"nq".cast("double") * 5.0), 6).as("recall"))
    perQ.unionByName(total).orderBy($"query_id")
  }

  val annRecallSql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] e,
      |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) nrm2 FROM embeddings),
      |q AS (SELECT vec_id query_id, e q_vec, sqrt(nrm2) q_nrm FROM v WHERE vec_id < 10),
      |bsims AS (SELECT q.query_id, v.vec_id neighbor_id,
      |    round(list_dot_product(q.q_vec, v.e) / (q.q_nrm * sqrt(v.nrm2)), 6) cos_sim
      |  FROM v JOIN q ON v.vec_id <> q.query_id),
      |bf AS (SELECT query_id, neighbor_id FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) rk
      |    FROM bsims) WHERE rk <= 5),
      |cent AS (SELECT (ROW_NUMBER() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)) - 1 AS cell,
      |    e c_vec, nrm2 c_nrm2
      |  FROM v ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8),
      |scored AS (SELECT v.vec_id, v.e, v.nrm2, cent.cell,
      |    cent.c_nrm2 - 2 * list_dot_product(v.e, cent.c_vec) AS score
      |  FROM v CROSS JOIN cent),
      |assigned AS (SELECT vec_id, e, nrm2, cell FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score ASC, cell ASC) rn
      |    FROM scored) WHERE rn = 1),
      |probes AS (SELECT vec_id query_id, cell FROM (
      |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score ASC, cell ASC) rn
      |    FROM scored WHERE vec_id < 10) WHERE rn <= 2),
      |isims AS (SELECT p.query_id, a.vec_id neighbor_id,
      |    round(list_dot_product(q.q_vec, a.e) / (q.q_nrm * sqrt(a.nrm2)), 6) cos_sim
      |  FROM probes p JOIN assigned a ON a.cell = p.cell JOIN q ON q.query_id = p.query_id
      |  WHERE a.vec_id <> p.query_id),
      |iv AS (SELECT query_id, neighbor_id FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) rk
      |    FROM isims) WHERE rk <= 5),
      |h AS (SELECT bf.query_id, CAST(COUNT(*) AS BIGINT) n
      |  FROM bf JOIN iv USING (query_id, neighbor_id) GROUP BY 1),
      |per AS (SELECT qq.query_id, COALESCE(h.n, 0) n_hits,
      |    round(CAST(COALESCE(h.n, 0) AS DOUBLE) / 5.0, 6) recall
      |  FROM (SELECT DISTINCT query_id FROM bf) qq LEFT JOIN h ON h.query_id = qq.query_id)
      |SELECT * FROM per
      |UNION ALL
      |SELECT CAST(-1 AS BIGINT), CAST(SUM(n_hits) AS BIGINT),
      |  round(CAST(SUM(n_hits) AS DOUBLE) / (COUNT(*) * 5.0), 6) FROM per
      |ORDER BY query_id""".stripMargin

  /** qs23: IVF probe sweep — macro recall@5 at nProbe ∈ {1, 2, 4, 8}
    * over the qs03 index (8 md5-sampled cells): THE index-tuning curve
    * read before committing a probe budget, priced exactly like qd17's
    * threshold sweep and qs18's width curve. nProbe=8 probes every
    * cell = brute force = recall 1.0 (the curve's anchor); where the
    * curve knees is the budget. Build runs ONCE (centroids + cell
    * assignment checkpointed), the four probes share it — the fit/
    * apply split [[graft.operators.IvfIndex]] exists for. */
  def ivfProbeSweep(t: Tables): DataFrame = {
    import t.spark.implicits._
    import graft.operators.IvfIndex
    val bf = Similarity.bruteForceTopK(t.embeddings, QueryIds, k = 5)
      .select($"query_id", $"neighbor_id").localCheckpoint()
    val cents = IvfIndex.centroids(t.embeddings, nCells = 8)
    val assigned = IvfIndex.assign(t.embeddings, cents).localCheckpoint()
    Seq(1, 2, 4, 8).map { np =>
      val iv = IvfIndex.topK(assigned, cents, QueryIds, k = 5, nProbe = np)
        .select($"query_id", $"neighbor_id")
      bf.join(iv, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(np).as("nprobe"), $"n_hits".cast("long").as("n_hits"),
          round($"n_hits".cast("double") / 50.0, 6).as("recall"))
    }.reduce(_ unionByName _).orderBy($"nprobe")
  }

  val ivfProbeSweepSql: String = {
    def perProbe(np: Int) =
      s"""probes$np AS (SELECT vec_id query_id, cell FROM (
         |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score ASC, cell ASC) rn
         |    FROM scored WHERE vec_id < 10) WHERE rn <= $np),
         |isims$np AS (SELECT p.query_id, a.vec_id neighbor_id,
         |    round(list_dot_product(q.q_vec, a.e) / (q.q_nrm * sqrt(a.nrm2)), 6) cos_sim
         |  FROM probes$np p JOIN assigned a ON a.cell = p.cell JOIN q ON q.query_id = p.query_id
         |  WHERE a.vec_id <> p.query_id),
         |iv$np AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) rk
         |    FROM isims$np) WHERE rk <= 5)""".stripMargin
    val rows = Seq(1, 2, 4, 8).map(np =>
      s"""SELECT CAST($np AS INT) nprobe,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM bf JOIN iv$np USING (query_id, neighbor_id)) n_hits""".stripMargin)
      .mkString("\n  UNION ALL ")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] e,
       |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) nrm2 FROM embeddings),
       |q AS (SELECT vec_id query_id, e q_vec, sqrt(nrm2) q_nrm FROM v WHERE vec_id < 10),
       |bsims AS (SELECT q.query_id, v.vec_id neighbor_id,
       |    round(list_dot_product(q.q_vec, v.e) / (q.q_nrm * sqrt(v.nrm2)), 6) cos_sim
       |  FROM v JOIN q ON v.vec_id <> q.query_id),
       |bf AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) rk
       |    FROM bsims) WHERE rk <= 5),
       |cent AS (SELECT (ROW_NUMBER() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)) - 1 AS cell,
       |    e c_vec, nrm2 c_nrm2
       |  FROM v ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8),
       |scored AS MATERIALIZED (SELECT v.vec_id, v.e, v.nrm2, cent.cell,
       |    cent.c_nrm2 - 2 * list_dot_product(v.e, cent.c_vec) AS score
       |  FROM v CROSS JOIN cent),
       |assigned AS MATERIALIZED (SELECT vec_id, e, nrm2, cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score ASC, cell ASC) rn
       |    FROM scored) WHERE rn = 1),
       |${Seq(1, 2, 4, 8).map(perProbe).mkString(",\n")}
       |SELECT nprobe, n_hits, round(CAST(n_hits AS DOUBLE) / 50.0, 6) recall
       |FROM ($rows) ORDER BY nprobe""".stripMargin
  }

  /** qs12: Lloyd's k-means census — [[KMeans.census]], k=8, 2 rounds
    * from the qs03 sampled seeds. The oracle replays both full rounds
    * (assign → exact-decimal coordinate means → reassign → update) in
    * chained CTEs, so the cross-engine check covers the whole
    * clustering trajectory: assignments, every centroid coordinate
    * (through the means), member counts, and the final inertia. */
  def kmeansCensus(t: Tables): DataFrame = {
    import t.spark.implicits._
    graft.operators.KMeans.census(t.embeddings, k = 8, iters = 2)
      .orderBy($"cell")
  }

  val kmeansCensusSql: String = {
    def iter(n: Int, cents: String): String =
      s"""s$n AS (SELECT v.vec_id, v.e, v.nrm2, c.cell,
         |    c.c_nrm2 - 2 * list_dot_product(v.e, c.c_vec) AS score
         |  FROM v CROSS JOIN $cents c),
         |a$n AS (SELECT vec_id, e, nrm2, cell FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score ASC, cell ASC) rn
         |    FROM s$n) WHERE rn = 1),
         |m$n AS (SELECT cell, i,
         |    CAST(SUM(CAST(round(e[i], 6) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) mv
         |  FROM a$n, range(1, 65) t(i) GROUP BY cell, i),
         |c$n AS (SELECT cell, list(mv ORDER BY i) c_vec FROM m$n GROUP BY cell),
         |cn$n AS (SELECT cell, c_vec, list_dot_product(c_vec, c_vec) c_nrm2 FROM c$n)""".stripMargin
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] e,
       |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) nrm2 FROM embeddings),
       |c0 AS (SELECT (ROW_NUMBER() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)) - 1 AS cell,
       |    e c_vec, nrm2 c_nrm2
       |  FROM v ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8),
       |${iter(1, "c0")},
       |${iter(2, "cn1")},
       |f AS (SELECT a2.cell, c.c_nrm2, CAST(COUNT(*) AS BIGINT) n_members,
       |    CAST(SUM(CAST(round(a2.nrm2 - 2 * list_dot_product(a2.e, c.c_vec) + c.c_nrm2, 6)
       |      AS DECIMAL(28,6))) AS DOUBLE) inertia
       |  FROM a2 JOIN cn2 c ON a2.cell = c.cell GROUP BY a2.cell, c.c_nrm2)
       |SELECT CAST(cell AS INT) AS cell, n_members, round(c_nrm2, 6) AS c_nrm2, inertia
       |FROM f ORDER BY cell""".stripMargin
  }

  // ---- PCA / dominant-direction plane ----

  /** Shared unrolled-CTE replay of [[graft.operators.Pca.topComponent]]
    * (the qs12/qt25 discipline applied to power iteration): quantized
    * input view → decimal-exact per-dim means → per round a dot
    * projection (DuckDB `list_dot_product` bit-matches the engine's
    * left-fold), decimal-exact per-dim w sums, and the 1e-6-grid
    * norm/renormalize — every scalar re-quantized exactly where the
    * engine re-quantizes. CTEs are MATERIALIZED: each round references
    * its predecessor twice, so default inlining would re-expand the
    * corpus scan 2^iters times. */
  /** One power-iteration chain over CTE `src` (columns vec_id, e) with
    * CTE-name prefix `pfx` — reused for the PC2 deflation chain over
    * the residual lists. Row count comes from the shared `cnt` CTE. */
  private[queries] def pcaChain(iters: Int, src: String, pfx: String): String = {
    def q6(x: String) = s"floor(($x)*1e6+0.5)/1e6"
    val head =
      s"""${pfx}mud AS (SELECT i, ${q6("CAST(SUM(CAST(e[i] AS DECIMAL(30,6))) AS DOUBLE) / n")} m
         |  FROM $src, cnt, range(1,65) t(i) GROUP BY i, n),
         |${pfx}mu AS MATERIALIZED (SELECT list(m ORDER BY i) mu FROM ${pfx}mud),
         |${pfx}p0 AS (SELECT list_transform(range(1,65), i -> ${q6("1.0/sqrt(64.0)")}) vv)""".stripMargin
    val rounds = (1 to iters).map { k =>
      s"""${pfx}d$k AS MATERIALIZED (SELECT w.vec_id, w.e,
         |    ${q6("list_dot_product(list_transform(range(1,65), i -> w.e[i] - m.mu[i]), p.vv)")} dot
         |  FROM $src w, ${pfx}mu m, ${pfx}p${k - 1} p),
         |${pfx}w$k AS MATERIALIZED (SELECT i,
         |    ${q6(s"CAST(SUM(CAST(${q6("(d.e[i] - m.mu[i]) * d.dot")} AS DECIMAL(30,6))) AS DOUBLE)")} w
         |  FROM ${pfx}d$k d, ${pfx}mu m, range(1,65) t(i) GROUP BY i),
         |${pfx}n$k AS MATERIALIZED (SELECT
         |    ${q6(s"sqrt(CAST(SUM(CAST(${q6("w*w")} AS DECIMAL(30,6))) AS DOUBLE))")} nrm FROM ${pfx}w$k),
         |${pfx}p$k AS MATERIALIZED (SELECT list(${q6("w.w / n.nrm")} ORDER BY w.i) vv
         |  FROM ${pfx}w$k w, ${pfx}n$k n)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  private[queries] def pcaCtes(iters: Int): String = {
    def q6(x: String) = s"floor(($x)*1e6+0.5)/1e6"
    val head =
      s"""v AS MATERIALIZED (SELECT vec_id,
         |    list_transform(embedding::DOUBLE[], x -> ${q6("x")}) e FROM embeddings),
         |cnt AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM v)""".stripMargin
    head + ",\n" + pcaChain(iters, "v", "") +
      s""",
         |fin AS MATERIALIZED (SELECT i, m.mu[i] mu, p.vv[i] loading
         |  FROM range(1,65) t(i), mu m, p$iters p),
         |flip AS (SELECT CASE WHEN loading < 0 THEN -1.0 ELSE 1.0 END f
         |  FROM fin ORDER BY abs(loading) DESC, i ASC LIMIT 1)""".stripMargin
  }

  /** qs16: top principal component of the embedding corpus —
    * [[graft.operators.Pca.topComponentFrame]], 3 power-iteration
    * rounds from the uniform start. The dominant direction every
    * contrastive-embedding paper removes before retrieval (anisotropy);
    * lambda prices how much corpus variance that one direction eats.
    * The oracle replays the WHOLE trajectory (means, every per-dim w
    * sum, every renormalization), so the cross-engine check covers the
    * trainer, not just its output shape. */
  def pcaComponent(t: Tables): DataFrame = {
    import t.spark.implicits._
    graft.operators.Pca.topComponentFrame(t.embeddings, "embedding", iters = 3)
      .orderBy($"dim")
  }

  val pcaComponentSql: String =
    s"""WITH ${pcaCtes(3)}
       |SELECT CAST(f2.i - 1 AS INT) AS dim, f2.mu,
       |  floor(fl.f * f2.loading * 1e6 + 0.5)/1e6 AS loading,
       |  floor(n.nrm / c.n * 1e6 + 0.5)/1e6 AS lambda
       |FROM fin f2, flip fl, n3 n, cnt c ORDER BY dim""".stripMargin

  /** qs17: PC1 outliers — the 50 vectors furthest out along the
    * dominant direction ([[graft.operators.Pca.projected]] under the
    * qs16 component, canonical sign): the embedding-space analogue of
    * the qt-plane quality outlier reads, and the rows SemDeDup-style
    * anisotropy pruning would inspect first. Scan-local projection,
    * zero shuffle beyond the top-k. */
  def pcaOutliers(t: Tables): DataFrame = {
    import t.spark.implicits._
    // r15: fit + projection share one source scan (Pca.fitAndProject)
    val (c, proj) = graft.operators.Pca.fitAndProject(
      t.embeddings, "embedding", "vec_id", iters = 3)
    val k = c.v.indices.maxBy(j => (math.abs(c.v(j)), -j))
    val flip = if (c.v(k) < 0) -1.0 else 1.0
    proj.select($"vec_id", (lit(flip) * $"pc1").as("pc1"))
      .orderBy(abs($"pc1").desc, $"vec_id").limit(50)
  }

  val pcaOutliersSql: String =
    s"""WITH ${pcaCtes(3)},
       |dq AS (SELECT w.vec_id,
       |    floor(list_dot_product(list_transform(range(1,65), i -> w.e[i] - m.mu[i]), p.vv)*1e6+0.5)/1e6 dot
       |  FROM v w, mu m, p3 p)
       |SELECT vec_id, fl.f * dot AS pc1 FROM dq, flip fl
       |ORDER BY abs(dot) DESC, vec_id ASC LIMIT 50""".stripMargin

  /** qs18: Johnson–Lindenstrauss recall CURVE —
    * [[graft.operators.RandomProjection.projected]] at m ∈ {16,32,48}
    * (md5-derived ±1 signs), each width scored by macro recall@5 of
    * reduced-space cosine neighbors against full-space brute force.
    * The curve that decides how narrow the reduced scan can go before
    * candidate generation degrades — the JL twin of qd17's Jaccard
    * threshold sweep: price the knob, don't guess it. */
  def jlRecall(t: Tables): DataFrame = {
    import t.spark.implicits._
    val bf = Similarity.bruteForceTopK(t.embeddings, QueryIds, k = 5)
      .select($"query_id", $"neighbor_id").localCheckpoint()
    // r15: (1) RandomProjection.sign(j, i) is width-independent, so the
    // narrower projections are PREFIXES of the widest — project once at
    // m=48 (48 dots/row instead of 16+32+48) and slice per width;
    // (2) the old per-width recallCensus materialized a per-query
    // checkpoint only to keep its total row (filter query_id = -1) —
    // the total IS the bf⋉jl semi-join count, so each width leg is now
    // one lazy aggregate over the shared checkpoints and the whole
    // curve is a single action. nq is a driver scalar off the 50-row
    // checkpointed bf frame (the justified-collect class); arithmetic
    // is the -1 row's expression verbatim, so results are bit-identical.
    val nq = bf.select($"query_id").distinct().count()
    val proj48 = graft.operators.RandomProjection
      .projected(t.embeddings, "vec_id", "embedding", m = 48, d = 64)
      .localCheckpoint()
    Seq(16, 32, 48).map { m =>
      val proj = proj48.select($"vec_id", slice($"rvec", 1, m).as("rvec"))
      val jl = Similarity.bruteForceTopK(proj, QueryIds, k = 5,
          idCol = "vec_id", vecCol = "rvec")
        .select($"query_id", $"neighbor_id")
      bf.join(jl, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("s"))
        .select(lit(m).as("m"), $"s".cast("long").as("n_hits"),
          round($"s".cast("double") / (lit(nq).cast("double") * 5.0), 6).as("recall"))
    }.reduce(_ unionByName _).orderBy($"m")
  }

  val jlRecallSql: String = {
    def block(m: Int): String =
      s"""p$m AS (SELECT vec_id, list_transform(range(0,$m), j -> CAST(list_sum(
         |      list_transform(range(0,64), i -> xm[i+1] * (CASE WHEN
         |        strpos('0123456789abcdef',
         |               substr(md5('jl:' || j::VARCHAR || ':' || i::VARCHAR), 1, 1)) - 1 >= 8
         |        THEN 1 ELSE -1 END))) AS DOUBLE)) y
         |  FROM v),
         |qj$m AS (SELECT vec_id query_id, y qy, sqrt(list_dot_product(y, y)) qn FROM p$m WHERE vec_id < 10),
         |cj$m AS (SELECT vec_id neighbor_id, y cy, sqrt(list_dot_product(y, y)) cn FROM p$m),
         |jsims$m AS (SELECT query_id, neighbor_id,
         |    round(list_dot_product(qy, cy) / (qn * cn), 6) cos_sim
         |  FROM cj$m JOIN qj$m ON neighbor_id <> query_id),
         |jl$m AS (SELECT query_id, neighbor_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) rk
         |    FROM jsims$m) WHERE rk <= 5),
         |h$m AS (SELECT bf.query_id, CAST(COUNT(*) AS BIGINT) n
         |  FROM bf JOIN jl$m USING (query_id, neighbor_id) GROUP BY 1),
         |per$m AS (SELECT qq.query_id, COALESCE(h.n, 0) n_hits
         |  FROM (SELECT DISTINCT query_id FROM bf) qq LEFT JOIN h$m h ON h.query_id = qq.query_id),
         |tot$m AS (SELECT CAST($m AS INT) m, CAST(SUM(n_hits) AS BIGINT) n_hits,
         |    round(CAST(SUM(n_hits) AS DOUBLE) / (COUNT(*) * 5.0), 6) recall FROM per$m)""".stripMargin
    s"""WITH v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] e,
       |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) nrm2,
       |    list_transform(embedding::DOUBLE[], x -> CAST(floor(x*1e6+0.5) AS BIGINT)) xm
       |  FROM embeddings),
       |q AS (SELECT vec_id query_id, e q_vec, sqrt(nrm2) q_nrm FROM v WHERE vec_id < 10),
       |bsims AS (SELECT q.query_id, v.vec_id neighbor_id,
       |    round(list_dot_product(q.q_vec, v.e) / (q.q_nrm * sqrt(v.nrm2)), 6) cos_sim
       |  FROM v JOIN q ON v.vec_id <> q.query_id),
       |bf AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) rk
       |    FROM bsims) WHERE rk <= 5),
       |${block(16)},
       |${block(32)},
       |${block(48)}
       |SELECT * FROM tot16 UNION ALL SELECT * FROM tot32 UNION ALL SELECT * FROM tot48
       |ORDER BY m""".stripMargin
  }

  /** qs19: anisotropy-corrected retrieval ("all-but-the-top"): remove
    * the qs16 dominant direction ([[graft.operators.Pca.residualized]])
    * and run exact cosine top-5 in the residual space — the corrected
    * neighbor sets contrastive-embedding work reads after observing a
    * fat PC1 (qs16's lambda). Output shape = qs02 (query_id,
    * neighbor_id, cos_sim, rk); the oracle replays the full PCA
    * trajectory AND the residual projection. */
  def isotropicTopK(t: Tables): DataFrame = {
    import t.spark.implicits._
    // r15: fit + residualization share one source scan
    val (_, resid) = graft.operators.Pca.fitAndResidualize(
      t.embeddings, "embedding", "vec_id", iters = 3)
    Similarity.bruteForceTopK(resid, QueryIds, k = 5, idCol = "vec_id", vecCol = "rvec")
      .select($"query_id", $"neighbor_id", $"cos_sim", $"rk")
      .orderBy($"query_id", $"rk")
  }

  val isotropicTopKSql: String =
    s"""WITH ${pcaCtes(3)},
       |dr AS (SELECT w.vec_id, w.e,
       |    floor(list_dot_product(list_transform(range(1,65), i -> w.e[i] - m.mu[i]), p.vv)*1e6+0.5)/1e6 dot
       |  FROM v w, mu m, p3 p),
       |r AS (SELECT d.vec_id,
       |    list_transform(range(1,65), i -> floor(((d.e[i] - m.mu[i]) - d.dot * p.vv[i])*1e6+0.5)/1e6) rv
       |  FROM dr d, mu m, p3 p),
       |rq AS (SELECT vec_id query_id, rv qv, sqrt(list_dot_product(rv, rv)) qn FROM r WHERE vec_id < 10),
       |rc AS (SELECT vec_id neighbor_id, rv cv, sqrt(list_dot_product(rv, rv)) cn FROM r),
       |sims AS (SELECT query_id, neighbor_id,
       |    round(list_dot_product(qv, cv) / (qn * cn), 6) cos_sim
       |  FROM rc JOIN rq ON neighbor_id <> query_id)
       |SELECT query_id, neighbor_id, cos_sim, rk FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS BIGINT) rk
       |  FROM sims)
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** qs20: product-quantization codebook census — THE vector
    * compression at 100 TB (a 64-dim float vector becomes 4 sub-space
    * code bytes): the embedding is split into 4 contiguous 16-dim
    * sub-spaces and each learns its own k=4 Lloyd codebook from the
    * shared md5-ordered seeds ([[graft.operators.KMeans.census]] on
    * the slice). Per (subspace, cell): member count, centroid norm²,
    * and exact-decimal quantization error — the read that decides
    * whether PQ codes can stand in for raw vectors in the ANN funnel.
    * Each subspace is the already-audited qs12 shape (broadcast
    * centroids, map-side-combined means); the oracle replays all four
    * chains. */
  def productQuant(t: Tables): DataFrame = {
    import t.spark.implicits._
    import graft.functions.VectorFunctions.{dot, norm2}
    // r14: ONE fused Lloyd pass for all 4 subspaces (KMeans.lloydSubspaces
    // — bit-identical per disjoint (subspace, cell, dim) group) instead of
    // 4 independent chains that each re-scanned and re-shuffled the corpus
    val (cents, assigned) = graft.operators.KMeans.lloydSubspaces(
      t.embeddings, k = 4, iters = 1, slices = 4, subDim = 16)
    val dist = $"nrm2" - lit(2.0) * dot($"sub", $"c_vec") + $"c_nrm2"
    assigned.withColumn("nrm2", norm2($"sub"))
      .join(broadcast(cents.select($"subspace", $"cell", $"c_vec", $"c_nrm2")),
        Seq("subspace", "cell"))
      .groupBy($"subspace", $"cell", $"c_nrm2")
      .agg(count(lit(1)).as("n_members"),
        sum(round(dist, 6).cast("decimal(28,6)")).cast("double").as("inertia"))
      .select($"subspace", $"cell".cast("int").as("cell"), $"n_members",
        round($"c_nrm2", 6).as("c_nrm2"), $"inertia")
      .orderBy($"subspace", $"cell")
  }

  /** Shared PQ encoder for qs22/qs24 (r14): fused 4×16-dim k=4 Lloyd
    * fit, codes assembled by one aggregation. Bit-identical to the
    * former per-subspace chains + 4-way join. */
  private def pqEncode(t: Tables): DataFrame = {
    import t.spark.implicits._
    val (cents, assigned) = graft.operators.KMeans.lloydSubspaces(
      t.embeddings, k = 4, iters = 1, slices = 4, subDim = 16)
    val encAll = assigned
      .join(broadcast(cents.select($"subspace", $"cell", $"c_vec", $"c_nrm2")),
        Seq("subspace", "cell"))
      .select($"vec_id", $"subspace", $"c_vec", $"c_nrm2")
    val aggs = (0 until 4).flatMap { s =>
      Seq(first(when($"subspace" === s, $"c_vec"), ignoreNulls = true).as(s"cv$s"),
          first(when($"subspace" === s, $"c_nrm2"), ignoreNulls = true).as(s"cn$s"))
    }
    encAll.groupBy($"vec_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Shared per-subspace Lloyd-chain CTEs for qs20/qs22. */
  private val pqCtes: String = {
    def sub(s: Int): String = {
      val lo = s * 16 + 1; val hi = s * 16 + 16
      s"""v$s AS (SELECT vec_id, (embedding::DOUBLE[])[$lo:$hi] e,
         |    list_dot_product((embedding::DOUBLE[])[$lo:$hi], (embedding::DOUBLE[])[$lo:$hi]) nrm2
         |  FROM embeddings),
         |c0$s AS (SELECT (ROW_NUMBER() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)) - 1 AS cell,
         |    e c_vec, nrm2 c_nrm2
         |  FROM v$s ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 4),
         |s1$s AS (SELECT v.vec_id, v.e, v.nrm2, c.cell,
         |    c.c_nrm2 - 2 * list_dot_product(v.e, c.c_vec) AS score
         |  FROM v$s v CROSS JOIN c0$s c),
         |a1$s AS (SELECT vec_id, e, nrm2, cell FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score ASC, cell ASC) rn
         |    FROM s1$s) WHERE rn = 1),
         |m1$s AS (SELECT cell, i,
         |    CAST(SUM(CAST(round(e[i], 6) AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) mv
         |  FROM a1$s, range(1, 17) t(i) GROUP BY cell, i),
         |c1$s AS (SELECT cell, list(mv ORDER BY i) c_vec FROM m1$s GROUP BY cell),
         |cn1$s AS (SELECT cell, c_vec, list_dot_product(c_vec, c_vec) c_nrm2 FROM c1$s),
         |f$s AS (SELECT CAST($s AS INT) subspace, a.cell, c.c_nrm2, CAST(COUNT(*) AS BIGINT) n_members,
         |    CAST(SUM(CAST(round(a.nrm2 - 2 * list_dot_product(a.e, c.c_vec) + c.c_nrm2, 6)
         |      AS DECIMAL(28,6))) AS DOUBLE) inertia
         |  FROM a1$s a JOIN cn1$s c ON a.cell = c.cell GROUP BY a.cell, c.c_nrm2)""".stripMargin
    }
    (0 until 4).map(sub).mkString(",\n")
  }

  val productQuantSql: String =
    s"""WITH $pqCtes
       |SELECT subspace, CAST(cell AS INT) AS cell, n_members, round(c_nrm2, 6) AS c_nrm2, inertia
       |FROM (SELECT * FROM f0 UNION ALL SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL SELECT * FROM f3)
       |ORDER BY subspace, cell""".stripMargin

  /** qs22: PQ asymmetric-distance recall — the number that decides
    * whether qs20's codebooks can STAND IN for raw vectors: every
    * database vector is replaced by its 4-byte PQ reconstruction
    * (per-subspace nearest codeword), queries stay full-precision, and
    * approximate cosine = Σ_s q_s·c_codeword / (|q|·|x̂|) ranks top-5
    * against full-space brute force (the qs15/qs18 recall census).
    * Partial dots sum in FIXED subspace order (a left fold, never an
    * aggregate) so the score is cross-engine exact pre-rounding. */
  def pqRecall(t: Tables): DataFrame = {
    import t.spark.implicits._
    val bf = Similarity.bruteForceTopK(t.embeddings, QueryIds, k = 5)
      .select($"query_id", $"neighbor_id").localCheckpoint()
    // r14: fused 4-subspace fit + ONE pivot-style aggregation to
    // assemble the per-vector code columns — replaces 4 Lloyd chains
    // and a 4-way self-join on vec_id (each (vec_id, subspace) group
    // has exactly one row, so first(ignoreNulls) is deterministic)
    val enc = pqEncode(t)
    val qCols: Seq[org.apache.spark.sql.Column] =
      Seq($"vec_id".as("query_id"),
        sqrt(graft.functions.VectorFunctions.norm2($"embedding")).as("q_nrm")) ++
      (0 until 4).map(s =>
        slice($"embedding".cast("array<double>"), s * 16 + 1, 16).as(s"qs$s"))
    val qs = t.embeddings.filter($"vec_id".isin(QueryIds: _*)).select(qCols: _*)
    import graft.functions.VectorFunctions.dot
    val sims = enc.join(broadcast(qs), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        round((dot($"qs0", $"cv0") + dot($"qs1", $"cv1") +
               dot($"qs2", $"cv2") + dot($"qs3", $"cv3")) /
          ($"q_nrm" * sqrt($"cn0" + $"cn1" + $"cn2" + $"cn3")), 6).as("cos_sim"))
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"neighbor_id".asc)
    val approx = sims.withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
      .select($"query_id", $"neighbor_id")
    recallCensus(t, bf, approx)
  }

  val pqRecallSql: String = {
    val enc = (0 until 4).map { s =>
      s"""enc$s AS (SELECT a.vec_id, c.c_vec cv$s, c.c_nrm2 cn$s
         |  FROM a1$s a JOIN cn1$s c ON a.cell = c.cell)""".stripMargin
    }.mkString(",\n")
    s"""WITH $pqCtes,
       |$enc,
       |qv AS (SELECT vec_id query_id, embedding::DOUBLE[] qv,
       |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) q_nrm
       |  FROM embeddings WHERE vec_id < 10),
       |psims AS (SELECT q.query_id, e0.vec_id neighbor_id,
       |    round((list_dot_product((q.qv)[1:16], e0.cv0) + list_dot_product((q.qv)[17:32], e1.cv1)
       |      + list_dot_product((q.qv)[33:48], e2.cv2) + list_dot_product((q.qv)[49:64], e3.cv3))
       |      / (q.q_nrm * sqrt(e0.cn0 + e1.cn1 + e2.cn2 + e3.cn3)), 6) cos_sim
       |  FROM qv q, enc0 e0 JOIN enc1 e1 USING (vec_id) JOIN enc2 e2 USING (vec_id)
       |    JOIN enc3 e3 USING (vec_id)
       |  WHERE e0.vec_id <> q.query_id),
       |pq5 AS (SELECT query_id, neighbor_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) rk
       |    FROM psims) WHERE rk <= 5),
       |bsims AS (SELECT q.query_id, v0.vec_id neighbor_id,
       |    round(list_dot_product(q.qv, v0.e64) / (q.q_nrm * sqrt(v0.n64)), 6) cos_sim
       |  FROM (SELECT vec_id, embedding::DOUBLE[] e64,
       |          list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) n64 FROM embeddings) v0
       |    JOIN qv q ON v0.vec_id <> q.query_id),
       |bf AS (SELECT query_id, neighbor_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) rk
       |    FROM bsims) WHERE rk <= 5),
       |h AS (SELECT bf.query_id, CAST(COUNT(*) AS BIGINT) n
       |  FROM bf JOIN pq5 USING (query_id, neighbor_id) GROUP BY 1),
       |per AS (SELECT qq.query_id, COALESCE(h.n, 0) n_hits,
       |    round(CAST(COALESCE(h.n, 0) AS DOUBLE) / 5.0, 6) recall
       |  FROM (SELECT DISTINCT query_id FROM bf) qq LEFT JOIN h ON h.query_id = qq.query_id)
       |SELECT * FROM per
       |UNION ALL
       |SELECT CAST(-1 AS BIGINT), CAST(SUM(n_hits) AS BIGINT),
       |  round(CAST(SUM(n_hits) AS DOUBLE) / (COUNT(*) * 5.0), 6) FROM per
       |ORDER BY query_id""".stripMargin
  }

  /** qs24: IVF + PQ composed serving — the production ANN architecture
    * the sweep queries price piecemeal, now run END TO END: the qs03
    * IVF index (8 md5-sampled cells) generates candidates at nProbe=2,
    * the qs20 codebooks (4 × 16-dim, k=4, one Lloyd round) score ONLY
    * those candidates by asymmetric distance (full-precision query ×
    * reconstructed candidate, qs22's fixed-subspace-order left fold),
    * and the served top-5 is recalled against full brute force. The
    * output row is the funnel's shape: n_cand (vectors actually
    * scored — the fraction of the corpus the index admitted), n_hits,
    * recall. At scale this is the whole point of the plane: candidate
    * generation prunes the corpus BEFORE any distance math, ADC makes
    * the surviving math codebook-sized — neither sweep (qs23, qs22)
    * shows the two working together. Oracle: qs23's IVF CTE block
    * composed with qs20's per-subspace Lloyd chains. */
  def ivfPqServe(t: Tables): DataFrame = {
    import t.spark.implicits._
    import graft.operators.IvfIndex
    import graft.functions.VectorFunctions.{dot, norm2}
    val bf = Similarity.bruteForceTopK(t.embeddings, QueryIds, k = 5)
      .select($"query_id", $"neighbor_id").localCheckpoint()
    val cents = IvfIndex.centroids(t.embeddings, nCells = 8)
    val assigned = IvfIndex.assign(t.embeddings, cents).localCheckpoint()
    // r14: fused subspace fit + single-aggregation code assembly (see
    // pqEncode) — replaces 4 Lloyd chains and a 4-way self-join
    val enc = pqEncode(t)
    val qCols: Seq[org.apache.spark.sql.Column] =
      Seq($"vec_id".as("query_id"),
        $"embedding".cast("array<double>").as("q_vec"),
        sqrt(norm2($"embedding")).as("q_nrm")) ++
      (0 until 4).map(s =>
        slice($"embedding".cast("array<double>"), s * 16 + 1, 16).as(s"qs$s"))
    val qs = t.embeddings.filter($"vec_id".isin(QueryIds: _*)).select(qCols: _*)
    val probes = IvfIndex.probeCells(qs.select($"query_id", $"q_vec"), cents, nProbe = 2)
    val cand = probes
      .join(assigned.select($"vec_id", $"cell"), Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id")
      .localCheckpoint()
    val sims = cand.join(enc, Seq("vec_id"))
      .join(broadcast(qs.drop("q_vec")), Seq("query_id"))
      .select($"query_id", $"vec_id".as("neighbor_id"),
        round((dot($"qs0", $"cv0") + dot($"qs1", $"cv1") +
               dot($"qs2", $"cv2") + dot($"qs3", $"cv3")) /
          ($"q_nrm" * sqrt($"cn0" + $"cn1" + $"cn2" + $"cn3")), 6).as("cos_sim"))
    val w = Window.partitionBy($"query_id").orderBy($"cos_sim".desc, $"neighbor_id".asc)
    val served = sims.withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
      .select($"query_id", $"neighbor_id")
    val hits = bf.join(served, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("h"))
    cand.agg(count(lit(1)).as("c")).crossJoin(broadcast(hits))
      .select($"c".cast("long").as("n_cand"), $"h".cast("long").as("n_hits"),
        round($"h".cast("double") / 50.0, 6).as("recall"))
  }

  val ivfPqServeSql: String = {
    val enc = (0 until 4).map { s =>
      s"""enc$s AS (SELECT a.vec_id, c.c_vec cv$s, c.c_nrm2 cn$s
         |  FROM a1$s a JOIN cn1$s c ON a.cell = c.cell)""".stripMargin
    }.mkString(",\n")
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] e,
       |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) nrm2 FROM embeddings),
       |q AS (SELECT vec_id query_id, e q_vec, sqrt(nrm2) q_nrm FROM v WHERE vec_id < 10),
       |bsims AS (SELECT q.query_id, v.vec_id neighbor_id,
       |    round(list_dot_product(q.q_vec, v.e) / (q.q_nrm * sqrt(v.nrm2)), 6) cos_sim
       |  FROM v JOIN q ON v.vec_id <> q.query_id),
       |bf AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) rk
       |    FROM bsims) WHERE rk <= 5),
       |cent AS (SELECT (ROW_NUMBER() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)) - 1 AS cell,
       |    e c_vec, nrm2 c_nrm2
       |  FROM v ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8),
       |scored AS MATERIALIZED (SELECT v.vec_id, v.e, v.nrm2, cent.cell,
       |    cent.c_nrm2 - 2 * list_dot_product(v.e, cent.c_vec) AS score
       |  FROM v CROSS JOIN cent),
       |assigned AS MATERIALIZED (SELECT vec_id, cell FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score ASC, cell ASC) rn
       |    FROM scored) WHERE rn = 1),
       |probes AS (SELECT vec_id query_id, cell FROM (
       |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score ASC, cell ASC) rn
       |    FROM scored WHERE vec_id < 10) WHERE rn <= 2),
       |cand AS MATERIALIZED (SELECT p.query_id, a.vec_id
       |  FROM probes p JOIN assigned a ON a.cell = p.cell
       |  WHERE a.vec_id <> p.query_id),
       |$pqCtes,
       |$enc,
       |asims AS (SELECT cd.query_id, cd.vec_id neighbor_id,
       |    round((list_dot_product((q.q_vec)[1:16], e0.cv0) + list_dot_product((q.q_vec)[17:32], e1.cv1)
       |      + list_dot_product((q.q_vec)[33:48], e2.cv2) + list_dot_product((q.q_vec)[49:64], e3.cv3))
       |      / (q.q_nrm * sqrt(e0.cn0 + e1.cn1 + e2.cn2 + e3.cn3)), 6) cos_sim
       |  FROM cand cd JOIN q ON q.query_id = cd.query_id
       |    JOIN enc0 e0 ON e0.vec_id = cd.vec_id JOIN enc1 e1 ON e1.vec_id = cd.vec_id
       |    JOIN enc2 e2 ON e2.vec_id = cd.vec_id JOIN enc3 e3 ON e3.vec_id = cd.vec_id),
       |served AS (SELECT query_id, neighbor_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) rk
       |    FROM asims) WHERE rk <= 5)
       |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) n_cand,
       |  (SELECT CAST(COUNT(*) AS BIGINT) FROM bf JOIN served USING (query_id, neighbor_id)) n_hits,
       |  round((SELECT CAST(COUNT(*) AS DOUBLE) FROM bf JOIN served USING (query_id, neighbor_id)) / 50.0, 6) recall""".stripMargin
  }

  /** qs25: INCREMENTAL IVF maintenance gated end to end — the qm07
    * move (incremental store proven by an independent from-scratch
    * oracle) applied to the ANN plane
    * ([[graft.operators.IncrementalIvf]]): even vec_ids seed a REAL
    * cell-partitioned index (frozen md5-sampled centroids — sampled
    * from the SEED only, the quantizer never re-fits), odd vec_ids
    * arrive as one appended batch assigned against those same frozen
    * centroids, and the serve path answers the standard query set over
    * the accumulated store with partition-pruned probes. The oracle
    * replays seed-only centroid sampling + BOTH assignment waves +
    * probe/score/rank from scratch — incremental maintenance must be
    * indistinguishable from a one-shot build with the same quantizer. */
  def ivfIncremental(t: Tables): DataFrame = {
    import t.spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-qs25")
    val path = tmp.toString + "/ivf"
    graft.operators.IncrementalIvf.init(
      t.embeddings.filter($"vec_id" % 2 === 0), path, nCells = 8)
    graft.operators.IncrementalIvf.appendBatch(
      t.embeddings.filter($"vec_id" % 2 =!= 0), path)
    val out = graft.operators.IncrementalIvf.serve(
        t.spark, path, QueryIds, k = 5, nProbe = 2)
      .orderBy($"query_id", $"rk")
      .localCheckpoint(true) // pin before the throwaway store is deleted
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    out
  }

  val ivfIncrementalSql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] e,
      |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) nrm2 FROM embeddings),
      |cent AS (SELECT (ROW_NUMBER() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)) - 1 AS cell,
      |    e c_vec, nrm2 c_nrm2
      |  FROM v WHERE vec_id % 2 = 0 ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8),
      |scored AS (SELECT v.vec_id, v.e, v.nrm2, cent.cell,
      |    cent.c_nrm2 - 2 * list_dot_product(v.e, cent.c_vec) AS score
      |  FROM v CROSS JOIN cent),
      |assigned AS (SELECT vec_id, e, nrm2, cell FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score ASC, cell ASC) rn
      |    FROM scored) WHERE rn = 1),
      |probes AS (SELECT vec_id query_id, cell FROM (
      |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score ASC, cell ASC) rn
      |    FROM scored WHERE vec_id < 10) WHERE rn <= 2),
      |q AS (SELECT vec_id query_id, e q_vec, sqrt(nrm2) q_nrm FROM v WHERE vec_id < 10),
      |sims AS (SELECT p.query_id, a.vec_id neighbor_id,
      |    round(list_dot_product(q.q_vec, a.e) / (q.q_nrm * sqrt(a.nrm2)), 6) cos_sim
      |  FROM probes p JOIN assigned a ON a.cell = p.cell JOIN q ON q.query_id = p.query_id
      |  WHERE a.vec_id <> p.query_id)
      |SELECT query_id, neighbor_id, cos_sim, rk FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) rk
      |  FROM sims)
      |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** qs21: explained-variance summary via DEFLATION —
    * [[graft.operators.Pca.varianceSummary]]: PC1 on the corpus, PC2
    * on the PC1 residuals, each λ as a cumulative fraction of total
    * variance. The "how anisotropic is this space" read that decides
    * whether qs19's correction (and how many deflation rounds) is
    * worth running. The oracle replays BOTH power-iteration chains
    * (the second over the residual lists) plus the exact-decimal
    * trace. */
  def pcaVariance(t: Tables): DataFrame = {
    import t.spark.implicits._
    graft.operators.Pca.varianceSummary(t.embeddings, "embedding", "vec_id", iters = 3)
      .orderBy($"component")
  }

  val pcaVarianceSql: String = {
    def q6(x: String) = s"floor(($x)*1e6+0.5)/1e6"
    s"""WITH v AS MATERIALIZED (SELECT vec_id,
       |    list_transform(embedding::DOUBLE[], x -> ${q6("x")}) e FROM embeddings),
       |cnt AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM v),
       |${pcaChain(3, "v", "")},
       |dq AS (SELECT w.vec_id, w.e,
       |    ${q6("list_dot_product(list_transform(range(1,65), i -> w.e[i] - m.mu[i]), p.vv)")} dot
       |  FROM v w, mu m, p3 p),
       |r AS MATERIALIZED (SELECT d.vec_id,
       |    list_transform(range(1,65), i -> ${q6("(d.e[i] - m.mu[i]) - d.dot * p.vv[i]")}) e
       |  FROM dq d, mu m, p3 p),
       |${pcaChain(3, "r", "r")},
       |tvr AS (SELECT ${q6("list_dot_product(cx, cx)")} sq FROM (
       |    SELECT list_transform(range(1,65), i -> w.e[i] - m.mu[i]) cx FROM v w, mu m)),
       |tv AS (SELECT ${q6("CAST(SUM(CAST(sq AS DECIMAL(30,6))) AS DOUBLE) / n")} t
       |  FROM tvr, cnt GROUP BY n),
       |l1 AS (SELECT ${q6("nrm / n")} l FROM n3, cnt),
       |l2 AS (SELECT ${q6("nrm / n")} l FROM rn3, cnt)
       |SELECT CAST(1 AS INT) component, l1.l AS lambda,
       |  ${q6("l1.l / tv.t")} AS cum_frac FROM l1, tv
       |UNION ALL
       |SELECT CAST(2 AS INT), l2.l, ${q6("(l1.l + l2.l) / tv.t")} FROM l1, l2, tv
       |ORDER BY component""".stripMargin
  }

  /** qr07: embedding drift via PC1 — the monitoring read that closes
    * the PCA loop: PSI between the two md5-free vec_id-parity halves
    * of the corpus over 8 equal-width PC1 bins (the 1-D summary of
    * where the embedding mass sits). In production the halves are
    * yesterday-vs-today snapshots; the parity split is the
    * deterministic stand-in with the identical plan shape. PSI
    * discipline = qr06's exactly: +1 Laplace smoothing over the dense
    * grid, per-term round-6 decimal sums, the 0.1/0.25 scorecard
    * bands. */
  def pc1Drift(t: Tables): DataFrame = {
    import t.spark.implicits._
    // r15: fit + projection share one source scan (Pca.fitAndProject)
    val (c, proj) = graft.operators.Pca.fitAndProject(
      t.embeddings, "embedding", "vec_id", iters = 3)
    val k = c.v.indices.maxBy(j => (math.abs(c.v(j)), -j))
    val flip = if (c.v(k) < 0) -1.0 else 1.0
    val scored = proj
      .select($"vec_id", (lit(flip) * $"pc1").as("pc1")).localCheckpoint()
    // driver scalars: 2 broadcast extents, the justified-collect class
    val mm = scored.agg(min($"pc1"), max($"pc1")).head()
    val (mn, mx) = (mm.getDouble(0), mm.getDouble(1))
    val bkt = if (mx == mn) lit(0L)
              else least(floor(($"pc1" - lit(mn)) / lit(mx - mn) * 8), lit(7.0)).cast("long")
    val counts = scored
      .select(($"vec_id" % 2).as("half"), bkt.as("bkt"))
      .groupBy($"half", $"bkt").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val halves = counts.groupBy($"half").agg(sum($"c").as("n_h"))
    val bins = t.spark.range(0, 8).toDF("bkt")
    val dense = halves.crossJoin(bins)
      .join(counts, Seq("half", "bkt"), "left").na.fill(0L, Seq("c"))
    val a = dense.filter($"half" === 0).select($"bkt", $"c".as("ca"), $"n_h".as("na"))
    val b = dense.filter($"half" === 1).select($"bkt", $"c".as("cb"), $"n_h".as("nb"))
    val pA = ($"ca" + lit(1L)).cast("double") / ($"na" + lit(8L)).cast("double")
    val pB = ($"cb" + lit(1L)).cast("double") / ($"nb" + lit(8L)).cast("double")
    a.join(b, Seq("bkt"))
      .select($"na", $"nb",
        round((pA - pB) * log(pA / pB), 6).cast("decimal(24,6)").as("t"))
      .groupBy($"na", $"nb")
      .agg(sum($"t").cast("double").as("psi"))
      .select($"na".as("n_a"), $"nb".as("n_b"), lit(8).as("n_bins"), $"psi",
        when($"psi" < 0.1, lit("stable"))
          .when($"psi" < 0.25, lit("moderate"))
          .otherwise(lit("major")).as("band"))
  }

  val pc1DriftSql: String =
    s"""WITH ${pcaCtes(3)},
       |dq AS (SELECT w.vec_id,
       |    floor(list_dot_product(list_transform(range(1,65), i -> w.e[i] - m.mu[i]), p.vv)*1e6+0.5)/1e6 dot
       |  FROM v w, mu m, p3 p),
       |sc AS (SELECT d.vec_id, fl.f * d.dot pc1 FROM dq d, flip fl),
       |mm2 AS (SELECT MIN(pc1) mn, MAX(pc1) mx FROM sc),
       |bn AS (SELECT CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END half,
       |    CASE WHEN mx = mn THEN 0
       |         ELSE CAST(LEAST(floor((pc1 - mn) / (mx - mn) * 8), 7.0) AS BIGINT) END bkt
       |  FROM sc, mm2),
       |cnt2 AS (SELECT half, bkt, CAST(COUNT(*) AS BIGINT) c FROM bn GROUP BY 1, 2),
       |hv AS (SELECT half, CAST(SUM(c) AS BIGINT) n_h FROM cnt2 GROUP BY 1),
       |grid AS (SELECT g.range AS bkt, hv.half, hv.n_h FROM range(0, 8) g CROSS JOIN hv),
       |dense AS (SELECT grid.bkt, grid.half, grid.n_h, COALESCE(c.c, 0) c
       |  FROM grid LEFT JOIN cnt2 c ON c.half = grid.half AND c.bkt = grid.bkt),
       |pa AS (SELECT bkt, c ca, n_h na FROM dense WHERE half = 0),
       |pb AS (SELECT bkt, c cb, n_h nbh FROM dense WHERE half = 1),
       |tm AS (SELECT na, nbh,
       |    CAST(round(
       |      (CAST(ca + 1 AS DOUBLE) / CAST(na + 8 AS DOUBLE) -
       |       CAST(cb + 1 AS DOUBLE) / CAST(nbh + 8 AS DOUBLE)) *
       |      ln((CAST(ca + 1 AS DOUBLE) / CAST(na + 8 AS DOUBLE)) /
       |         (CAST(cb + 1 AS DOUBLE) / CAST(nbh + 8 AS DOUBLE))), 6)
       |      AS DECIMAL(24,6)) t
       |  FROM pa JOIN pb USING (bkt)),
       |agg2 AS (SELECT na, nbh, CAST(SUM(t) AS DOUBLE) psi FROM tm GROUP BY 1, 2)
       |SELECT na AS n_a, nbh AS n_b, CAST(8 AS INT) n_bins, psi,
       |  CASE WHEN psi < 0.1 THEN 'stable'
       |       WHEN psi < 0.25 THEN 'moderate' ELSE 'major' END band
       |FROM agg2""".stripMargin

  // ---- sessionization (batch twin of the streaming operator) ----

  /** Gap-based sessionization over the event stream (30-min gap);
    * timestamps emitted as epoch millis for cross-engine stability. */
  def sessionized(t: Tables): DataFrame = {
    import t.spark.implicits._
    graft.streaming.EventStreams.sessionizeBatch(t.events, gapMs = 1800000L)
      .select($"user_id", $"session_id",
              unix_millis($"session_start").as("start_ms"),
              unix_millis($"session_end").as("end_ms"),
              $"n_events", $"total_value")
      .orderBy($"user_id", $"session_id")
  }

  val sessionizedSql: String =
    """WITH g AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts, value,
      |    lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) prev_ts
      |  FROM events),
      |s AS (SELECT *, CASE WHEN prev_ts IS NULL OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
      |                     THEN 1 ELSE 0 END new_session FROM g),
      |c AS (SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) session_id FROM s)
      |SELECT user_id, session_id,
      |  epoch_ms(MIN(ts)) AS start_ms, epoch_ms(MAX(ts)) AS end_ms,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM c GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin

  /** Interval-join funnel (batch twin of EventStreams.intervalJoin,
    * which adds watermarks for the streaming case): each view paired
    * with same-user purchases within 30 minutes. Equi key + bounded
    * time range — plans as a hash join with a range post-filter, never
    * a nested loop. */
  def viewPurchaseFunnel(t: Tables): DataFrame = {
    import t.spark.implicits._
    graft.streaming.EventStreams.viewToPurchase(t.events, maxDelayMs = 1800000L)
      .orderBy($"user_id", $"view_id", $"purchase_id")
  }

  val viewPurchaseFunnelSql: String =
    """WITH v AS (SELECT user_id, event_id view_id, CAST(ts AS TIMESTAMP) ts
      |  FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, event_id purchase_id, CAST(ts AS TIMESTAMP) ts
      |  FROM events WHERE event_type = 'purchase')
      |SELECT v.user_id AS user_id, view_id, purchase_id,
      |  epoch_ms(v.ts) AS view_ms, epoch_ms(p.ts) AS purchase_ms
      |FROM v JOIN p ON v.user_id = p.user_id AND p.ts >= v.ts
      |  AND epoch_ms(p.ts) - epoch_ms(v.ts) <= 1800000
      |ORDER BY user_id, view_id, purchase_id""".stripMargin

  /** qe03: cohort retention matrix — users grouped by first-activity
    * date, activity counted per whole-day offset from that cohort day.
    * The canonical product-analytics rollup; everything is exact
    * integer arithmetic (dates, datediffs, distinct counts).
    *
    * Scale: one user-keyed aggregation for the cohort table, one join
    * back (user-keyed — at web scale this broadcast-misses and becomes
    * a co-partitioned shuffle join, which is the right shape), one
    * (cohort, offset) aggregation. */
  def retentionCohorts(t: Tables): DataFrame = {
    import t.spark.implicits._
    val firstDay = t.events.groupBy($"user_id")
      .agg(min(to_date($"ts")).as("cohort_d"))
    t.events.select($"user_id", to_date($"ts").as("d"))
      .join(firstDay, "user_id")
      .groupBy($"cohort_d", datediff($"d", $"cohort_d").as("day_offset"))
      .agg(countDistinct($"user_id").as("n_active"))
      .orderBy($"cohort_d", $"day_offset")
  }

  val retentionCohortsSql: String =
    """WITH fd AS (SELECT user_id, MIN(CAST(ts AS DATE)) cohort_d FROM events GROUP BY 1)
      |SELECT cohort_d, CAST(datediff('day', cohort_d, CAST(ts AS DATE)) AS INT) AS day_offset,
      |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
      |FROM events e JOIN fd ON fd.user_id = e.user_id
      |GROUP BY 1, 2 ORDER BY cohort_d, day_offset""".stripMargin

  /** qe04: per-user daily-volume anomaly scores — each (user, day)
    * event count z-scored against that user's own daily history
    * (population variance). Everything is derived from exact integer
    * sums; the variance expression and sqrt are bit-deterministic
    * IEEE, so the z-scores oracle cell-exact. Users with a single
    * active day or zero variance score NULL. */
  def userAnomalies(t: Tables): DataFrame = {
    import t.spark.implicits._
    val daily = t.events.groupBy($"user_id", to_date($"ts").as("d"))
      .agg(count(lit(1)).as("c"))
    val stats = daily.groupBy($"user_id")
      .agg(count(lit(1)).as("n_days"), sum($"c").as("s"), sum($"c" * $"c").as("sq"))
    val mean = col("s").cast("double") / col("n_days")
    val variance = (col("sq").cast("double") - col("s").cast("double") * col("s") / col("n_days")) / col("n_days")
    daily.join(stats, "user_id")
      .select($"user_id", $"d", $"c".as("n_events"),
        when(variance > 0.0,
          round(($"c" - mean) / sqrt(variance), 6)).as("z"))
      .withColumn("anomalous", coalesce(abs($"z") >= 2.0, lit(false)))
      .orderBy($"user_id", $"d")
  }

  val userAnomaliesSql: String =
    """WITH daily AS (SELECT user_id, CAST(ts AS DATE) d, COUNT(*) c
      |  FROM events GROUP BY 1, 2),
      |st AS (SELECT user_id, COUNT(*) n_days, SUM(c) s, SUM(c * c) sq
      |  FROM daily GROUP BY 1)
      |SELECT daily.user_id, d, c AS n_events,
      |  CASE WHEN (CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days) / n_days > 0.0
      |    THEN round((c - CAST(s AS DOUBLE) / n_days)
      |      / sqrt((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days) / n_days), 6)
      |  END AS z,
      |  COALESCE(abs(CASE WHEN (CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days) / n_days > 0.0
      |    THEN round((c - CAST(s AS DOUBLE) / n_days)
      |      / sqrt((CAST(sq AS DOUBLE) - CAST(s AS DOUBLE) * s / n_days) / n_days), 6)
      |  END) >= 2.0, false) AS anomalous
      |FROM daily JOIN st ON st.user_id = daily.user_id
      |ORDER BY daily.user_id, d""".stripMargin

  /** qt18: lexical diversity census — per doc: token count, distinct
    * types, type-token ratio, hapax fraction (types occurring once).
    * The cheap vocabulary-richness signals used alongside qt03/qt10 in
    * quality gates. One explode + one (doc, token) aggregation + one
    * per-doc aggregation — all integer until the two final ratios. */
  def lexicalDiversity(t: Tables): DataFrame = {
    import t.spark.implicits._
    val perTok = t.documents
      .select($"doc_id", explode(tokens(lower($"text"))).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
    val perDoc = perTok.groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"),
           count(lit(1)).as("n_types"),
           sum(when($"c" === 1, 1L).otherwise(0L)).as("n_hapax"))
    t.documents.select($"doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_tokens", lit(0L)).as("n_tokens"),
        coalesce($"n_types", lit(0L)).as("n_types"),
        round($"n_types".cast("double") / $"n_tokens", 6).as("ttr"),
        round($"n_hapax".cast("double") / $"n_types", 6).as("hapax_frac"))
      .orderBy($"doc_id")
  }

  val lexicalDiversitySql: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) tok
      |  FROM documents),
      |pt AS (SELECT doc_id, tok, COUNT(*) c FROM tok GROUP BY 1, 2),
      |pd AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) n_tokens,
      |    CAST(COUNT(*) AS BIGINT) n_types,
      |    SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) n_hapax
      |  FROM pt GROUP BY 1)
      |SELECT d.doc_id,
      |  COALESCE(n_tokens, 0) AS n_tokens,
      |  COALESCE(n_types, 0) AS n_types,
      |  round(CAST(n_types AS DOUBLE) / n_tokens, 6) AS ttr,
      |  round(CAST(n_hapax AS DOUBLE) / n_types, 6) AS hapax_frac
      |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** qt19: Zipf rank-frequency fit per language — least-squares slope
    * of ln(freq) against ln(rank) over each language's top-100 terms.
    * Natural corpora sit near −1; a corpus whose slope drifts is
    * boilerplate-heavy or template-generated. Per-term log terms are
    * rounded to 6dp and summed as DECIMAL (exact), and the closed-form
    * slope is left UNROUNDED — IEEE arithmetic of identical operands
    * (the qt13 rounding lesson). */
  def zipfFit(t: Tables): DataFrame = {
    import t.spark.implicits._
    val freq = t.documents
      .select($"lang", explode(tokens(lower($"text"))).as("tok"))
      .groupBy($"lang", $"tok").agg(count(lit(1)).as("f"))
    val w = Window.partitionBy($"lang").orderBy($"f".desc, $"tok".asc)
    val ranked = freq.withColumn("r", row_number().over(w)).filter($"r" <= 100)
      .select($"lang",
        round(log($"r"), 6).cast("decimal(18,6)").as("x"),
        round(log($"f"), 6).cast("decimal(18,6)").as("y"),
        round(log($"r") * log($"r"), 6).cast("decimal(24,6)").as("xx"),
        round(log($"r") * log($"f"), 6).cast("decimal(24,6)").as("xy"))
    ranked.groupBy($"lang")
      .agg(count(lit(1)).as("n"),
           sum($"x").cast("double").as("sx"),
           sum($"y").cast("double").as("sy"),
           sum($"xx").cast("double").as("sxx"),
           sum($"xy").cast("double").as("sxy"))
      .select($"lang", $"n",
        (($"n" * $"sxy" - $"sx" * $"sy") / ($"n" * $"sxx" - $"sx" * $"sx"))
          .as("zipf_slope"))
      .orderBy($"lang")
  }

  /** qt35: Heaps'-law vocabulary-growth fit — qt19's companion on the
    * OTHER axis: V(n) ≈ K·n^β (distinct types vs tokens seen), the
    * projection a tokenizer-sizing decision reads ("how big is the
    * vocab at 10× corpus"). Growth curve sampled at 10 doc-id deciles:
    * new-type counts per decile come from each type's FIRST-SEEN doc
    * (one min aggregation — no quadratic prefix re-distinct), token
    * mass per decile from one count; both accumulate over the 10-row
    * decile frame (the single-partition window is the deliberate tiny
    * frame). The log-log least squares follows qt19's determinism
    * discipline exactly: per-point round-6 log terms, DECIMAL sums,
    * closed-form slope on identical IEEE operands. */
  def heapsFit(t: Tables): DataFrame = {
    import t.spark.implicits._
    val n = t.documents.count() // driver scalar: the decile divisor
    val toks = t.documents.select($"doc_id", explode(tokens(lower($"text"))).as("tok"))
    val newTypes = toks.groupBy($"tok").agg(min($"doc_id").as("fs"))
      .groupBy(least(floor($"fs" * 10 / lit(n)), lit(9L)).cast("long").as("db"))
      .agg(count(lit(1)).as("nt"))
    val tokMass = toks
      .groupBy(least(floor($"doc_id" * 10 / lit(n)), lit(9L)).cast("long").as("db"))
      .agg(count(lit(1)).as("ntok"))
    val w = Window.partitionBy($"db" * 0).orderBy($"db")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // left from the token-mass frame: every decile has tokens, but a
    // saturated vocabulary contributes NO new types past its knee —
    // those deciles still are curve points (nt = 0)
    val pts = tokMass.join(newTypes, Seq("db"), "left").na.fill(0L, Seq("nt"))
      .select($"db", sum($"ntok").over(w).as("n_i"), sum($"nt").over(w).as("v_i"))
      .select(
        round(log($"n_i"), 6).cast("decimal(18,6)").as("x"),
        round(log($"v_i"), 6).cast("decimal(18,6)").as("y"),
        round(log($"n_i") * log($"n_i"), 6).cast("decimal(24,6)").as("xx"),
        round(log($"n_i") * log($"v_i"), 6).cast("decimal(24,6)").as("xy"),
        $"n_i", $"v_i")
    pts.agg(count(lit(1)).as("n_points"),
        sum($"x").cast("double").as("sx"), sum($"y").cast("double").as("sy"),
        sum($"xx").cast("double").as("sxx"), sum($"xy").cast("double").as("sxy"),
        max($"n_i").as("n_tokens"), max($"v_i").as("v_types"))
      .select($"n_points", $"n_tokens", $"v_types",
        (($"n_points" * $"sxy" - $"sx" * $"sy") /
          ($"n_points" * $"sxx" - $"sx" * $"sx")).as("beta"),
        round(exp(($"sy" - (($"n_points" * $"sxy" - $"sx" * $"sy") /
            ($"n_points" * $"sxx" - $"sx" * $"sx")) * $"sx") /
          $"n_points"), 6).as("k_coef"))
  }

  val heapsFitSql: String =
    """WITH nn AS (SELECT COUNT(*) n FROM documents),
      |tok AS (SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) tok
      |  FROM documents),
      |nt AS (SELECT least(CAST(FLOOR(fs * 10 / nn.n) AS BIGINT), 9) db, COUNT(*) nt
      |  FROM (SELECT tok, MIN(doc_id) fs FROM tok GROUP BY 1) CROSS JOIN nn GROUP BY 1),
      |tm AS (SELECT least(CAST(FLOOR(doc_id * 10 / nn.n) AS BIGINT), 9) db, COUNT(*) ntok
      |  FROM tok CROSS JOIN nn GROUP BY 1),
      |cum AS (SELECT tm.db,
      |    SUM(tm.ntok) OVER (ORDER BY tm.db ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) n_i,
      |    SUM(COALESCE(nt.nt, 0)) OVER (ORDER BY tm.db ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) v_i
      |  FROM tm LEFT JOIN nt ON nt.db = tm.db),
      |pts AS (SELECT
      |    CAST(round(ln(n_i), 6) AS DECIMAL(18,6)) x,
      |    CAST(round(ln(v_i), 6) AS DECIMAL(18,6)) y,
      |    CAST(round(ln(n_i) * ln(n_i), 6) AS DECIMAL(24,6)) xx,
      |    CAST(round(ln(n_i) * ln(v_i), 6) AS DECIMAL(24,6)) xy,
      |    n_i, v_i
      |  FROM cum),
      |agg AS (SELECT CAST(COUNT(*) AS BIGINT) n_points,
      |    CAST(SUM(x) AS DOUBLE) sx, CAST(SUM(y) AS DOUBLE) sy,
      |    CAST(SUM(xx) AS DOUBLE) sxx, CAST(SUM(xy) AS DOUBLE) sxy,
      |    CAST(MAX(n_i) AS BIGINT) n_tokens, CAST(MAX(v_i) AS BIGINT) v_types
      |  FROM pts)
      |SELECT n_points, n_tokens, v_types,
      |  (n_points * sxy - sx * sy) / (n_points * sxx - sx * sx) AS beta,
      |  round(exp((sy - ((n_points * sxy - sx * sy) / (n_points * sxx - sx * sx)) * sx)
      |    / n_points), 6) AS k_coef
      |FROM agg""".stripMargin

  val zipfFitSql: String =
    """WITH tok AS (SELECT lang, unnest(string_split_regex(trim(lower(text)), '\s+')) tok
      |  FROM documents),
      |freq AS (SELECT lang, tok, COUNT(*) f FROM tok GROUP BY 1, 2),
      |ranked AS (SELECT lang,
      |    CAST(round(ln(r), 6) AS DECIMAL(18,6)) x,
      |    CAST(round(ln(f), 6) AS DECIMAL(18,6)) y,
      |    CAST(round(ln(r) * ln(r), 6) AS DECIMAL(24,6)) xx,
      |    CAST(round(ln(r) * ln(f), 6) AS DECIMAL(24,6)) xy
      |  FROM (SELECT lang, f,
      |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY f DESC, tok ASC) r
      |    FROM freq) WHERE r <= 100),
      |agg AS (SELECT lang, CAST(COUNT(*) AS BIGINT) n,
      |    CAST(SUM(x) AS DOUBLE) sx, CAST(SUM(y) AS DOUBLE) sy,
      |    CAST(SUM(xx) AS DOUBLE) sxx, CAST(SUM(xy) AS DOUBLE) sxy
      |  FROM ranked GROUP BY 1)
      |SELECT lang, n, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS zipf_slope
      |FROM agg ORDER BY lang""".stripMargin

  /** qt20: vocabulary coverage census — the tokenizer-design question
    * "how many vocabulary entries cover 90/95/99% of corpus tokens".
    * Terms rank by frequency and the running token share is read at
    * each coverage target.
    *
    * Scale: the ranked running sum NEVER uses a vocabulary-wide single
    * window — terms bucket by floor(log2(f)) (monotone in f, so bucket
    * order extends the global order), within-bucket windows are
    * bounded, and the ~64-row bucket-total frame rolls into broadcast
    * offsets (the qz02 global-ordinal machinery, reapplied to a
    * running SUM). All integers — cross-engine exact regardless of the
    * two engines bucketing differently. */
  def vocabCoverage(t: Tables): DataFrame = {
    import t.spark.implicits._
    val freq = t.documents
      .select(explode(tokens(lower($"text"))).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("f"))
    val total = freq.agg(sum($"f").as("total"))
    val bucketed = freq.withColumn("bkt", floor(log2($"f")))
    val wIn = Window.partitionBy($"bkt").orderBy($"f".desc, $"tok".asc)
    val within = bucketed
      .withColumn("rn", row_number().over(wIn))
      .withColumn("cs", sum($"f").over(
        wIn.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wb = Window.partitionBy($"bkt" * 0).orderBy($"bkt".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // ~64 rows: the constant-partition window is driver-scale by design
    val offsets = bucketed.groupBy($"bkt")
      .agg(count(lit(1)).as("bc"), sum($"f").as("bs"))
      .withColumn("oc", coalesce(sum($"bc").over(wb), lit(0L)))
      .withColumn("os", coalesce(sum($"bs").over(wb), lit(0L)))
      .select($"bkt", $"oc", $"os")
    val ranked = within.join(broadcast(offsets), "bkt")
      .select(($"oc" + $"rn").as("rank"), ($"os" + $"cs").as("cum"))
    val targets = Seq(0.9, 0.95, 0.99).toDF("target")
    ranked.crossJoin(broadcast(targets)).crossJoin(broadcast(total))
      .filter($"cum" >= $"target" * $"total")
      .groupBy($"target").agg(min($"rank").as("vocab_size"))
      .orderBy($"target")
  }

  val vocabCoverageSql: String =
    """WITH tok AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) tok
      |  FROM documents),
      |freq AS (SELECT tok, COUNT(*) f FROM tok GROUP BY 1),
      |tot AS (SELECT CAST(SUM(f) AS BIGINT) total FROM freq),
      |ranked AS (SELECT ROW_NUMBER() OVER (ORDER BY f DESC, tok ASC) rank,
      |    SUM(f) OVER (ORDER BY f DESC, tok ASC ROWS UNBOUNDED PRECEDING) cum
      |  FROM freq),
      |t AS (SELECT CAST(x AS DOUBLE) target FROM (VALUES (0.9), (0.95), (0.99)) v(x))
      |SELECT target, CAST(MIN(rank) AS BIGINT) AS vocab_size
      |FROM ranked CROSS JOIN t CROSS JOIN tot
      |WHERE cum >= target * total
      |GROUP BY target ORDER BY target""".stripMargin

  /** qd14: chunk-level exact dedup — the RAG-store hygiene pass:
    * non-overlapping 32-token chunks hashed, every chunk marked
    * against its first owner (min (doc, idx)). Catches the repeated
    * boilerplate blocks whole-doc hashing is blind to, at exact-dedup
    * cost: chunking is a pure projection, dedup one hash shuffle. */
  def chunkDedup(t: Tables): DataFrame = {
    import t.spark.implicits._
    val ch = graft.operators.Chunking.chunkByTokens(t.documents, chunkSize = 32, overlap = 0)
      .select($"doc_id", $"chunk_idx", md5($"chunk_text").as("h"))
    val owners = ch.groupBy($"h")
      .agg(min(struct($"doc_id", $"chunk_idx")).as("o"), count(lit(1)).as("n_copies"))
    ch.join(owners, "h")
      .select($"doc_id", $"chunk_idx", $"h".as("chunk_md5"), $"n_copies",
        ($"o.doc_id" =!= $"doc_id" || $"o.chunk_idx" =!= $"chunk_idx").as("is_dup"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  val chunkDedupSql: String =
    """WITH w0 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
      |c AS (SELECT doc_id, unnest(range(0, len(w), 32)) s, w FROM w0),
      |ch AS (SELECT doc_id, CAST(s // 32 AS BIGINT) chunk_idx,
      |    md5(array_to_string(w[s+1:s+32], ' ')) h FROM c),
      |own AS (SELECT h, doc_id od, chunk_idx oc FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) rn
      |    FROM ch) WHERE rn = 1),
      |cnt AS (SELECT h, CAST(COUNT(*) AS BIGINT) n_copies FROM ch GROUP BY h)
      |SELECT ch.doc_id, ch.chunk_idx, ch.h AS chunk_md5, cnt.n_copies,
      |  (own.od <> ch.doc_id OR own.oc <> ch.chunk_idx) AS is_dup
      |FROM ch JOIN own USING (h) JOIN cnt USING (h)
      |ORDER BY ch.doc_id, ch.chunk_idx""".stripMargin

  /** qg04: co-activity component census — connected components of the
    * user co-activity graph (ConnectedComponents' pointer-doubled
    * propagation) rolled into a component-size histogram: the "is this
    * graph one giant blob or many small groups" question asked before
    * any per-component work is scheduled. */
  def coActivityComponents(t: Tables): DataFrame = {
    import t.spark.implicits._
    val b = t.events.select($"user_id".as("u"), $"event_type".as("et"),
                            date_trunc("minute", $"ts").as("m")).distinct()
    val edges = b.select($"u".as("a_id"), $"et", $"m")
      .join(b.select($"u".as("b_id"), $"et", $"m"), Seq("et", "m"))
      .filter($"a_id" < $"b_id")
      .select($"a_id", $"b_id").distinct()
    ConnectedComponents.run(edges)
      .groupBy($"comp").agg(count(lit(1)).as("sz"))
      .groupBy($"sz".as("component_size"))
      .agg(count(lit(1)).as("n_components"))
      .orderBy($"component_size")
  }

  val coActivityComponentsSql: String =
    """WITH RECURSIVE bkt AS (SELECT DISTINCT user_id u, event_type et, date_trunc('minute', ts) m FROM events),
      |und AS (SELECT DISTINCT a.u a, b2.u b
      |  FROM bkt a JOIN bkt b2 ON a.et = b2.et AND a.m = b2.m AND a.u < b2.u),
      |e AS (SELECT a s, b d FROM und UNION ALL SELECT b, a FROM und),
      |reach(id, comp) AS (
      |  SELECT DISTINCT s, s FROM e
      |  UNION
      |  SELECT e.d, r.comp FROM reach r JOIN e ON e.s = r.id),
      |c AS (SELECT id, MIN(comp) comp FROM reach GROUP BY id),
      |szs AS (SELECT comp, CAST(COUNT(*) AS BIGINT) sz FROM c GROUP BY comp)
      |SELECT sz AS component_size, CAST(COUNT(*) AS BIGINT) AS n_components
      |FROM szs GROUP BY sz ORDER BY component_size""".stripMargin

  /** qe05: daily view→purchase conversion rates — views converted when
    * the same user purchases within 30 minutes (qe02's interval-join
    * window, aggregated to the funnel metric). Counts exact; the rate
    * is one unrounded IEEE division of identical integer operands. */
  def conversionFunnel(t: Tables): DataFrame = {
    import t.spark.implicits._
    val v = t.events.filter($"event_type" === "view")
      .select($"user_id", $"event_id", $"ts")
    val p = t.events.filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("p_ts"))
    val conv = v.join(p,
        v("user_id") === p("user_id") && $"p_ts" >= $"ts" &&
        unix_millis($"p_ts") - unix_millis($"ts") <= 1800000L, "left_semi")
      .groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("n_converted"))
    val views = v.groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("n_views"))
    views.join(conv, Seq("day"), "left")
      .select($"day", $"n_views",
        coalesce($"n_converted", lit(0L)).as("n_converted"),
        (coalesce($"n_converted", lit(0L)).cast("double") / $"n_views").as("conversion_rate"))
      .orderBy($"day")
  }

  /** qe09: the abandonment EXPORT — qe05's complement and the batch
    * twin of [[graft.streaming.EventStreams.intervalJoinLeftOuter]]'s
    * null-extended rows: every view with NO same-user purchase inside
    * the 30-minute window, as rows (the retargeting feed), via a LEFT
    * ANTI join whose condition is equi user + closed time interval —
    * the anti-join member of the range-join family, one key shuffle,
    * no row amplification (anti joins emit at most their left side). */
  def abandonedViews(t: Tables): DataFrame = {
    import t.spark.implicits._
    val views = t.events.filter($"event_type" === "view")
      .select($"user_id", $"event_id".as("view_id"), unix_millis($"ts").as("view_ms"))
    val purchases = t.events.filter($"event_type" === "purchase")
      .select($"user_id".as("__u"), unix_millis($"ts").as("p_ms"))
    views.join(purchases,
        $"user_id" === $"__u" && $"p_ms" >= $"view_ms" &&
          $"p_ms" - $"view_ms" <= 1800000L,
        "left_anti")
      .orderBy($"view_id")
  }

  val abandonedViewsSql: String =
    """WITH v AS (SELECT user_id, event_id view_id, epoch_ms(CAST(ts AS TIMESTAMP)) view_ms
      |  FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) p_ms
      |  FROM events WHERE event_type = 'purchase')
      |SELECT user_id, view_id, CAST(view_ms AS BIGINT) view_ms FROM v
      |WHERE NOT EXISTS (SELECT 1 FROM p
      |  WHERE p.user_id = v.user_id AND p.p_ms >= v.view_ms
      |    AND p.p_ms - v.view_ms <= 1800000)
      |ORDER BY view_id""".stripMargin

  val conversionFunnelSql: String =
    """WITH v AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts
      |  FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, CAST(ts AS TIMESTAMP) p_ts FROM events WHERE event_type = 'purchase'),
      |conv AS (SELECT CAST(v.ts AS DATE) AS "day", CAST(COUNT(*) AS BIGINT) n_converted
      |  FROM v WHERE EXISTS (SELECT 1 FROM p WHERE p.user_id = v.user_id
      |    AND p.p_ts >= v.ts AND epoch_ms(p.p_ts) - epoch_ms(v.ts) <= 1800000)
      |  GROUP BY 1),
      |vw AS (SELECT CAST(ts AS DATE) AS "day", CAST(COUNT(*) AS BIGINT) n_views FROM v GROUP BY 1)
      |SELECT vw."day", vw.n_views,
      |  COALESCE(conv.n_converted, 0) AS n_converted,
      |  CAST(COALESCE(conv.n_converted, 0) AS DOUBLE) / vw.n_views AS conversion_rate
      |FROM vw LEFT JOIN conv ON conv."day" = vw."day"
      |ORDER BY vw."day"""".stripMargin

  /** qe12: the MULTI-step funnel — view → click → purchase with a
    * 24-hour budget between consecutive steps, greedy-earliest
    * semantics (step k's time is the EARLIEST qualifying event after
    * step k−1; the ClickHouse windowFunnel read). qe05 is the 2-step
    * interval join; three steps don't compose as one join without row
    * amplification, so each step is ONE user-keyed aggregation over
    * the step's type slice joined to the previous step's (user, time)
    * frame — k steps = k filtered scans + k key-equi joins, never a
    * per-user array or a raw-event window. All-integer epoch-µs.
    * Output per user: step times (NULL where the funnel stalled) and
    * the furthest step reached. */
  def funnelSteps(t: Tables): DataFrame = {
    import t.spark.implicits._
    val W = 86400000000L // 24 h in µs
    val ev = t.events.select($"user_id", $"event_type",
      unix_micros($"ts").as("us"))
    val s1 = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"us").as("t1"))
    val s2 = ev.filter($"event_type" === "click").join(s1, Seq("user_id"))
      .filter($"us" > $"t1" && $"us" - $"t1" <= W)
      .groupBy($"user_id").agg(min($"us").as("t2"))
    val s3 = ev.filter($"event_type" === "purchase").join(s2, Seq("user_id"))
      .filter($"us" > $"t2" && $"us" - $"t2" <= W)
      .groupBy($"user_id").agg(min($"us").as("t3"))
    ev.select($"user_id").distinct()
      .join(s1, Seq("user_id"), "left")
      .join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .select($"user_id", $"t1", $"t2", $"t3",
        when($"t3".isNotNull, lit(3L)).when($"t2".isNotNull, lit(2L))
          .when($"t1".isNotNull, lit(1L)).otherwise(lit(0L)).as("furthest"))
      .orderBy($"user_id")
  }

  val funnelStepsSql: String =
    """WITH ev AS (SELECT user_id, event_type,
      |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) us FROM events),
      |s1 AS (SELECT user_id, MIN(us) t1 FROM ev WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT ev.user_id, MIN(ev.us) t2 FROM ev JOIN s1 USING (user_id)
      |  WHERE ev.event_type = 'click' AND ev.us > s1.t1
      |    AND ev.us - s1.t1 <= 86400000000 GROUP BY 1),
      |s3 AS (SELECT ev.user_id, MIN(ev.us) t3 FROM ev JOIN s2 USING (user_id)
      |  WHERE ev.event_type = 'purchase' AND ev.us > s2.t2
      |    AND ev.us - s2.t2 <= 86400000000 GROUP BY 1),
      |u AS (SELECT DISTINCT user_id FROM ev)
      |SELECT u.user_id, s1.t1, s2.t2, s3.t3,
      |  CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3 WHEN s2.t2 IS NOT NULL THEN 2
      |    WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS furthest
      |FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
      |  LEFT JOIN s3 USING (user_id)
      |ORDER BY u.user_id""".stripMargin

  /** qe13: gap-filled daily series + trailing moving average — the
    * resample-then-smooth read every monitoring dashboard needs, with
    * the gap-fill EXPLICIT: a sparse slice (one rare user's purchases)
    * is counted per day, the full corpus observation span is
    * materialized as a day dimension (sequence + explode — never a
    * driver loop), missing days join in as true zeros, and ma7 is the
    * trailing 7-slot sum / 7 (constant denominator: the early ramp is
    * sum-over-available/7, stated, and identical in both engines'
    * ROWS BETWEEN frames). The window runs on the AGGREGATED day table
    * (span-cardinality rows, the qe07 discipline) — never on raw
    * events. All-integer counts; one exact-int / constant division. */
  def gapfillMa(t: Tables): DataFrame = {
    import t.spark.implicits._
    val daily = t.events
      .filter($"event_type" === "purchase" && $"user_id" % 211 === 5)
      .groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("n"))
    val span = t.events.agg(min(to_date($"ts")).as("lo"), max(to_date($"ts")).as("hi"))
    val days = span.select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
    val filled = days.join(daily, Seq("day"), "left")
      .select($"day", coalesce($"n", lit(0L)).as("n_events"))
    val w = Window.orderBy($"day").rowsBetween(-6, 0)
    filled
      .withColumn("ma7", sum($"n_events").over(w).cast("double") / 7)
      .orderBy($"day")
  }

  val gapfillMaSql: String =
    """WITH d AS (SELECT CAST(ts AS DATE) AS "day", CAST(COUNT(*) AS BIGINT) n
      |  FROM events WHERE event_type = 'purchase' AND user_id % 211 = 5 GROUP BY 1),
      |span AS (SELECT MIN(CAST(ts AS DATE)) lo, MAX(CAST(ts AS DATE)) hi FROM events),
      |days AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
      |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS "day" FROM span),
      |f AS (SELECT days."day", COALESCE(d.n, 0) AS n_events
      |  FROM days LEFT JOIN d ON d."day" = days."day")
      |SELECT "day", n_events,
      |  CAST(SUM(n_events) OVER (ORDER BY "day"
      |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) / 7 AS ma7
      |FROM f ORDER BY "day"""".stripMargin

  /** qe14: two-proportion z-test A/B readout — the experiment decision
    * the event plane's censuses feed: users split into arms by a pure
    * id function (user_id % 2 — the qp04 reproducible-assignment
    * discipline), per-arm conversion = "any purchase", and the pooled
    * two-proportion z statistic with the |z| ≥ 1.96 verdict. Exact
    * integer counts all the way to ONE mirrored IEEE expression tree
    * (quotients, one multiply chain, one sqrt — sqrt is correctly
    * rounded under IEEE 754 in both engines, so the statistic is
    * bit-equal without any rounding step; the one decimal-typed trap,
    * DuckDB's `1.0/n` being DECIMAL division, is forced to DOUBLE).
    * Output: one row per arm pair — counts, rates, z, verdict.
    * Scale shape: one per-user aggregation + one 2-row arm census;
    * the statistic is arm-cardinality arithmetic. */
  def abZTest(t: Tables): DataFrame = {
    import t.spark.implicits._
    // "converted" = any HIGH-VALUE purchase: the plain any-purchase
    // read saturates at ~100% on this fixture (p̂=1 ⇒ z = 0/0), so the
    // value cut keeps the statistic in its informative regime
    val perUser = t.events.groupBy($"user_id")
      .agg(max(when($"event_type" === "purchase" && $"value" >= 180.0, lit(1L))
        .otherwise(lit(0L))).as("converted"))
      .select(($"user_id" % 2).as("arm"), $"converted")
    // r13 ADVICE guard: the old single-row cross join returned ZERO
    // rows when an arm was empty while the oracle's scalar subqueries
    // returned one NULL row — a silent divergence. The arm census is
    // ≤2 rows BY CONSTRUCTION (arm = user_id % 2), so collect it once
    // (the justified-collect class: scalar readout, not data-sized),
    // fail loudly on a missing arm (that means the events input is
    // broken, not the experiment), and evaluate the same mirrored IEEE
    // expression tree over the two collected counts. This also drops
    // the double computation the old a/b crossJoin paid. (z itself may
    // still be NaN when the pooled rate is exactly 0 or 1 — both arms
    // fully (un)converted — which IS an informative readout and
    // hash-replays as NULL in both engines.)
    val armRows = perUser.groupBy($"arm")
      .agg(count(lit(1)).as("n"), sum($"converted").as("x"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    require(armRows.contains(0L) && armRows.contains(1L),
      s"abZTest: arm census ${armRows.keySet} is missing an arm — " +
        "assignment is user_id % 2, so the events input has no users " +
        "in that parity")
    val pa = $"x_a".cast("double") / $"n_a"
    val pb = $"x_b".cast("double") / $"n_b"
    val pp = ($"x_a" + $"x_b").cast("double") / ($"n_a" + $"n_b")
    val z = (pa - pb) /
      sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / $"n_a" + lit(1.0) / $"n_b"))
    t.spark.range(1)
      .select(lit(armRows(0L)._1).as("n_a"), lit(armRows(0L)._2).as("x_a"),
        lit(armRows(1L)._1).as("n_b"), lit(armRows(1L)._2).as("x_b"))
      .select($"n_a", $"x_a", $"n_b", $"x_b",
        pa.as("p_a"), pb.as("p_b"), z.as("z"),
        (abs(z) >= lit(1.96)).as("significant"))
  }

  val abZTestSql: String =
    """WITH pu AS (SELECT user_id,
      |    MAX(CASE WHEN event_type = 'purchase' AND value >= 180.0 THEN 1 ELSE 0 END) converted
      |  FROM events GROUP BY user_id),
      |arms AS (SELECT user_id % 2 AS arm, CAST(COUNT(*) AS BIGINT) n,
      |    CAST(SUM(converted) AS BIGINT) x
      |  FROM pu GROUP BY 1),
      |ab AS (SELECT
      |    (SELECT n FROM arms WHERE arm = 0) n_a, (SELECT x FROM arms WHERE arm = 0) x_a,
      |    (SELECT n FROM arms WHERE arm = 1) n_b, (SELECT x FROM arms WHERE arm = 1) x_b)
      |SELECT n_a, x_a, n_b, x_b,
      |  CAST(x_a AS DOUBLE) / n_a AS p_a,
      |  CAST(x_b AS DOUBLE) / n_b AS p_b,
      |  (CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b) /
      |    sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) *
      |         (1.0::DOUBLE - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) *
      |         (1.0::DOUBLE / n_a + 1.0::DOUBLE / n_b)) AS z,
      |  abs((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b) /
      |    sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) *
      |         (1.0::DOUBLE - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) *
      |         (1.0::DOUBLE / n_a + 1.0::DOUBLE / n_b))) >= 1.96::DOUBLE AS significant
      |FROM ab""".stripMargin

  /** qe16: CUPED variance reduction (Deng et al. 2013) — qe14's
    * companion and the standard experiment-platform read: each user's
    * post-period metric Y is adjusted by their PRE-period covariate X
    * (Y_adj = Y − θ(X − X̄), θ = cov(X,Y)/var(X) pooled across arms),
    * shrinking the variance the pre-existing user differences
    * contribute without biasing the arm contrast. Everything reduces
    * to exact-decimal MOMENTS (Σx, Σy, Σxy, Σx², per-user sums of
    * DECIMAL(18,6) values — products stay exact at (37,12)) collected
    * in one pass; θ, the arm means, and the adjustment are ONE
    * mirrored IEEE expression tree over those exact operands — no
    * rounding anywhere (the qe14 discipline). Scale shape: one
    * user-keyed aggregation, then arm- and scalar-cardinality
    * arithmetic broadcast together. */
  def cupedReadout(t: Tables): DataFrame = {
    import t.spark.implicits._
    val cut = lit(java.sql.Date.valueOf("2024-01-16"))
    val zero = lit(BigDecimal(0)).cast("decimal(18,6)")
    val perUser = t.events.groupBy($"user_id")
      .agg(
        sum(when(to_date($"ts") < cut, $"value".cast("decimal(18,6)"))
          .otherwise(zero)).as("x"),
        sum(when(to_date($"ts") >= cut, $"value".cast("decimal(18,6)"))
          .otherwise(zero)).as("y"))
      .select(($"user_id" % 2).as("arm"), $"x", $"y")
      .localCheckpoint()
    val g = perUser.agg(count(lit(1)).as("n"),
      sum($"x").as("sx"), sum($"y").as("sy"),
      sum($"x" * $"y").as("sxy"), sum($"x" * $"x").as("sxx"))
    val arms = perUser.groupBy($"arm")
      .agg(count(lit(1)).as("na"), sum($"x").as("ax"), sum($"y").as("ay"))
    val nD = $"n".cast("double")
    val sxD = $"sx".cast("double")
    val theta = (nD * $"sxy".cast("double") - sxD * $"sy".cast("double")) /
      (nD * $"sxx".cast("double") - sxD * sxD)
    val meanY = $"ay".cast("double") / $"na"
    val adj = meanY - theta * ($"ax".cast("double") / $"na" - sxD / nD)
    arms.crossJoin(broadcast(g))
      .select($"arm", $"na".as("n_users"), meanY.as("mean_y"),
        theta.as("theta"), adj.as("mean_y_adj"))
      .orderBy($"arm")
  }

  val cupedReadoutSql: String =
    """WITH pu AS (SELECT user_id,
      |    SUM(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
      |      THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) x,
      |    SUM(CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16'
      |      THEN CAST(value AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) y
      |  FROM events GROUP BY user_id),
      |pa AS (SELECT user_id % 2 AS arm, x, y FROM pu),
      |g AS (SELECT CAST(COUNT(*) AS BIGINT) n, SUM(x) sx, SUM(y) sy,
      |    SUM(x*y) sxy, SUM(x*x) sxx FROM pa),
      |a AS (SELECT arm, CAST(COUNT(*) AS BIGINT) na, SUM(x) ax, SUM(y) ay
      |  FROM pa GROUP BY arm)
      |SELECT a.arm, a.na AS n_users,
      |  CAST(a.ay AS DOUBLE) / a.na AS mean_y,
      |  (CAST(g.n AS DOUBLE) * CAST(g.sxy AS DOUBLE) - CAST(g.sx AS DOUBLE) * CAST(g.sy AS DOUBLE)) /
      |    (CAST(g.n AS DOUBLE) * CAST(g.sxx AS DOUBLE) - CAST(g.sx AS DOUBLE) * CAST(g.sx AS DOUBLE)) AS theta,
      |  CAST(a.ay AS DOUBLE) / a.na -
      |    ((CAST(g.n AS DOUBLE) * CAST(g.sxy AS DOUBLE) - CAST(g.sx AS DOUBLE) * CAST(g.sy AS DOUBLE)) /
      |     (CAST(g.n AS DOUBLE) * CAST(g.sxx AS DOUBLE) - CAST(g.sx AS DOUBLE) * CAST(g.sx AS DOUBLE))) *
      |    (CAST(a.ax AS DOUBLE) / a.na - CAST(g.sx AS DOUBLE) / CAST(g.n AS DOUBLE)) AS mean_y_adj
      |FROM a CROSS JOIN g ORDER BY a.arm""".stripMargin

  // ---- multimodal (binary columns + typed metadata) ----

  /** Multimodal column plumbing at the query surface: documents as
    * opaque binary payloads with derived typed metadata (the stub-
    * decode formula expressed as columnar ops so DuckDB can oracle it;
    * the mapPartitions batch-decode path is MultimodalSpec's). */
  def mediaMeta(t: Tables): DataFrame = {
    import t.spark.implicits._
    val media = $"text".cast("binary")
    t.documents.select(
      $"doc_id",
      octet_length(media).cast("long").as("size_bytes"),
      (lit(64) + (ascii(substring($"text", 1, 1)) % 192)).as("fake_width"),
      (lit(64) + (ascii(substring($"text", 2, 1)) % 192)).as("fake_height"),
      md5($"text").as("content_key"))
      .orderBy($"doc_id")
  }

  val mediaMetaSql: String =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS size_bytes,
      |  64 + (ascii(substr(text, 1, 1)) % 192) AS fake_width,
      |  64 + (ascii(substr(text, 2, 1)) % 192) AS fake_height,
      |  md5(text) AS content_key
      |FROM documents ORDER BY doc_id""".stripMargin

  /** qm02: perceptual image hash census — dHash56 per payload (the
    * codepoint-grid stub twin of [[Multimodal.dhash64]]; the real
    * image path is MultimodalSpec's). One codegen'd projection, zero
    * shuffle — at 100 TB the hash column is 8 bytes/doc next to
    * media bytes the scan never shuffles. */
  def imagePhash(t: Tables): DataFrame = {
    import t.spark.implicits._
    t.documents.select(
      $"doc_id",
      length($"text").cast("long").as("size_chars"),
      Multimodal.textDhash56($"text").as("phash"))
      .orderBy($"doc_id")
  }

  private val phashDocsCte: String =
    """d AS (SELECT doc_id, text,
      |    CAST(greatest(length(text), 1) AS BIGINT) AS n,
      |    CAST(greatest(length(text) // 64, 1) AS BIGINT) AS s
      |  FROM documents)""".stripMargin

  val imagePhashSql: String =
    s"""WITH $phashDocsCte
       |SELECT doc_id, CAST(length(text) AS BIGINT) AS size_chars,
       |  ${Multimodal.textDhash56Sql} AS phash
       |FROM d ORDER BY doc_id""".stripMargin

  /** qm03: hash-banded image near-dup — the qd funnel on hamming
    * space: 4 x 14-bit bands over the 56-bit perceptual hash, bucket
    * join, popcount verify at hamming <= 3 (pigeonhole: 4 bands > 3
    * flips → recall exactly 1.0, never all-pairs). Shared operator
    * [[Multimodal.hashNearDup]] serves the REAL [[Multimodal.dhash64]]
    * column identically. */
  def imageNearDup(t: Tables): DataFrame = {
    import t.spark.implicits._
    val hashes = t.documents.select($"doc_id", Multimodal.textDhash56($"text").as("phash"))
    Multimodal.hashNearDup(hashes, "doc_id", "phash",
      bands = 4, bandBits = 14, maxHamming = 3)
      .orderBy($"doc_id")
  }

  val imageNearDupSql: String =
    s"""WITH $phashDocsCte,
       |h AS (SELECT doc_id, ${Multimodal.textDhash56Sql} AS phash FROM d),
       |bands AS (SELECT doc_id, phash, r.i AS band,
       |    (phash >> CAST(14 * r.i AS INT)) & 16383 AS bkey
       |  FROM h CROSS JOIN range(4) r(i)),
       |cand AS (SELECT DISTINCT a.doc_id a_id, b.doc_id b_id, a.phash a_h, b.phash b_h
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |    AND a.doc_id < b.doc_id),
       |hits AS (SELECT a_id, b_id, CAST(bit_count(xor(a_h, b_h)) AS BIGINT) hamming
       |  FROM cand WHERE bit_count(xor(a_h, b_h)) <= 3),
       |best AS (SELECT b_id doc_id, a_id dup_of, hamming FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY a_id ASC) rn
       |    FROM hits) WHERE rn = 1)
       |SELECT h.doc_id, h.phash, best.dup_of, best.hamming,
       |  best.dup_of IS NOT NULL AS is_dup
       |FROM h LEFT JOIN best USING (doc_id) ORDER BY h.doc_id""".stripMargin

  /** qm08: MULTI-INDEX-HASHING image near-dup — [[Multimodal.hashNearDupMih]]
    * gated end to end: 4 × 14-bit bands probed with per-band tolerance
    * 1 (the exact key + every single-bit flip), covering hamming ≤ 7 —
    * a LARGER guaranteed radius than qm03's 4-band pigeonhole (≤ 3)
    * from the same 56-bit hash, with wide buckets (2^14/band) so
    * incidental candidates stay ~N²/2^14 instead of the narrow-band
    * funnel's ~N²/2^bandBits saturation (the scale-family
    * control-sweep finding, NOTES_r12). The oracle replays the probe expansion
    * as a 15-way flip join. */
  def imageNearDupMih(t: Tables): DataFrame = {
    import t.spark.implicits._
    val hashes = t.documents.select($"doc_id", Multimodal.textDhash56($"text").as("phash"))
    Multimodal.hashNearDupMih(hashes, "doc_id", "phash",
      bands = 4, bandBits = 14, maxHamming = 7)
      .orderBy($"doc_id")
  }

  val imageNearDupMihSql: String =
    s"""WITH $phashDocsCte,
       |h AS (SELECT doc_id, ${Multimodal.textDhash56Sql} AS phash FROM d),
       |ex AS (SELECT doc_id, phash, r.i AS band,
       |    (phash >> CAST(14 * r.i AS INT)) & 16383 AS bkey
       |  FROM h CROSS JOIN range(4) r(i)),
       |px AS (SELECT doc_id, phash, band,
       |    CASE WHEN f.j = 14 THEN bkey
       |         ELSE xor(bkey, (1::BIGINT << CAST(f.j AS INT))) END AS pkey
       |  FROM ex CROSS JOIN range(15) f(j)),
       |cand AS (SELECT DISTINCT a.doc_id a_id, b.doc_id b_id, a.phash a_h, b.phash b_h
       |  FROM px a JOIN ex b ON a.band = b.band AND a.pkey = b.bkey
       |    AND a.doc_id < b.doc_id),
       |hits AS (SELECT a_id, b_id, CAST(bit_count(xor(a_h, b_h)) AS BIGINT) hamming
       |  FROM cand WHERE bit_count(xor(a_h, b_h)) <= 7),
       |best AS (SELECT b_id doc_id, a_id dup_of, hamming FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY a_id ASC) rn
       |    FROM hits) WHERE rn = 1)
       |SELECT h.doc_id, h.phash, best.dup_of, best.hamming,
       |  best.dup_of IS NOT NULL AS is_dup
       |FROM h LEFT JOIN best USING (doc_id) ORDER BY h.doc_id""".stripMargin

  /** qm13: band-regime advisor — [[Multimodal.bandRegimeAdvice]] gated
    * end to end: four candidate geometries for a hamming ≤ 7 funnel
    * over the 56-bit stub hash (qm03's narrow 4×14 — which does NOT
    * cover 7, the 8×7 and 7×8 narrow splits, and qm08's 4×14 MIH
    * probe), each priced by the EXACT candidate-pair mass its bucket
    * join would emit on THIS corpus, from the measured band-key
    * occupancy (counts only — no pair is materialized). The operator
    * exists because the video plane (NOTES_r13) measured the uniform-hash regime
    * prediction INVERTING on concentrated perceptual keys: the right
    * regime is a property of the data's occupancy second moment, so
    * the engine reads it before committing a funnel geometry. Rank 1 =
    * the cheapest recall-1.0 geometry. The oracle replays the
    * occupancy censuses, the 14-bit flip join, and the ranking. */
  def bandRegimeAdviceQ(t: Tables): DataFrame = {
    import t.spark.implicits._
    val hashes = t.documents.select(Multimodal.textDhash56($"text").as("phash"))
    Multimodal.bandRegimeAdvice(hashes, "phash",
      geometries = Seq((4, 14, 0), (7, 8, 0), (8, 7, 0), (4, 14, 1)),
      maxHamming = 7)
      .orderBy($"rank")
  }

  val bandRegimeAdviceSql: String = {
    // per narrow geometry: occupancy census + within-bucket pair mass
    def occ(n: Int, bands: Int, bits: Int): String =
      s"""o$n AS (SELECT r.i AS band,
         |    (phash >> CAST($bits * r.i AS INT)) & ${(1L << bits) - 1} AS bkey,
         |    COUNT(*) AS c
         |  FROM h CROSS JOIN range($bands) r(i) GROUP BY 1, 2),
         |s$n AS (SELECT CAST(COALESCE(SUM(c * (c - 1) // 2), 0) AS BIGINT) AS within_pairs,
         |    COUNT(*) AS occupied_buckets,
         |    CAST(COALESCE(MAX(c), 0) AS BIGINT) AS max_bucket FROM o$n)""".stripMargin
    def row(n: Int, geometry: String, bands: Int, bits: Int, tol: Int,
            crossExpr: String): String = {
      val radius = bands * (tol + 1) - 1
      s"""SELECT '$geometry' AS geometry, $bands AS bands, $bits AS band_bits,
         |  $tol AS tolerance, CAST($radius AS BIGINT) AS guaranteed_radius,
         |  ${if (radius >= 7) "TRUE" else "FALSE"} AS covers,
         |  occupied_buckets, max_bucket,
         |  CAST(within_pairs + $crossExpr AS BIGINT) AS implied_pairs,
         |  CAST(${bands * (1 + tol * bits)} AS BIGINT) AS probe_rows_per_item
         |FROM s$n""".stripMargin
    }
    s"""WITH $phashDocsCte,
       |h AS (SELECT doc_id, ${Multimodal.textDhash56Sql} AS phash FROM d),
       |${occ(1, 4, 14)},
       |${occ(2, 7, 8)},
       |${occ(3, 8, 7)},
       |x4 AS (SELECT CAST(COALESCE(SUM(a.c * b.c), 0) // 2 AS BIGINT) AS cross_pairs
       |  FROM o1 a CROSS JOIN range(14) f(j)
       |  JOIN o1 b ON b.band = a.band
       |    AND b.bkey = xor(a.bkey, (1::BIGINT << CAST(f.j AS INT)))),
       |rows_ AS (
       |${row(1, "4x14b t0", 4, 14, 0, "0")}
       |UNION ALL
       |${row(2, "7x8b t0", 7, 8, 0, "0")}
       |UNION ALL
       |${row(3, "8x7b t0", 8, 7, 0, "0")}
       |UNION ALL
       |${row(1, "4x14b t1", 4, 14, 1, "(SELECT cross_pairs FROM x4)")})
       |SELECT *, ROW_NUMBER() OVER (ORDER BY covers DESC, implied_pairs ASC,
       |    probe_rows_per_item ASC, bands ASC, band_bits ASC) AS rank
       |FROM rows_ ORDER BY rank""".stripMargin
  }

  /** qm04: audio fingerprint census — 32-bit energy-delta fingerprint
    * per clip (stub-PCM twin of the Haitsma-Kalker sign chain over
    * [[Multimodal.audioFeatures]] windows), plus the census read:
    * clips sharing a fingerprint (the audio exact-dup key) and exact
    * integer total energy. Fingerprint is one codegen'd projection;
    * the census is one 8-byte-key hash agg. */
  def audioFingerprint(t: Tables): DataFrame = {
    import t.spark.implicits._
    import org.apache.spark.sql.expressions.Window
    t.documents.select(
      $"doc_id",
      Multimodal.textAudioFp32($"text").as("fp"),
      Multimodal.textAudioEnergy($"text").as("total_energy"))
      .withColumn("n_sharing", count(lit(1)).over(Window.partitionBy($"fp")))
      .select($"doc_id", $"fp", $"n_sharing", $"total_energy")
      .orderBy($"doc_id")
  }

  val audioFingerprintSql: String = {
    val energies = (0 until 33).map(w =>
      s"${Multimodal.textAudioEnergySql(w)} AS e$w").mkString(", ")
    val fp = (0 until 32).map(w =>
      s"(CASE WHEN e${w + 1} > e$w THEN (1::BIGINT << $w) ELSE 0::BIGINT END)")
      .mkString("(", " + ", ")")
    val total = (0 until 33).map(w => s"e$w").mkString("(", " + ", ")")
    s"""WITH d AS (SELECT doc_id, text,
       |    CAST(greatest(length(text), 1) AS BIGINT) AS n,
       |    CAST(greatest(length(text) // 132, 1) AS BIGINT) AS s132
       |  FROM documents),
       |e AS (SELECT doc_id, $energies FROM d),
       |f AS (SELECT doc_id, $fp AS fp, CAST($total AS BIGINT) AS total_energy FROM e)
       |SELECT doc_id, fp,
       |  CAST(COUNT(*) OVER (PARTITION BY fp) AS BIGINT) AS n_sharing,
       |  total_energy
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** qm05: video frame-sampling census — the video → image-rows
    * pipeline shape ([[Multimodal.videoFrames]]/[[Multimodal.frameSampled]])
    * expressed columnar on the stub payload: 4 evenly-strided slices
    * per clip (the [[Multimodal.StubDecoder.frameSample]] offset
    * math — stride = len/n, from = min(i·stride, len−1)), each frame
    * fingerprinted. Explode is partition-local (no shuffle); at 100 TB
    * the frame rows feed the image plane (qm02's hash, qm03's funnel)
    * without ever materializing the clip twice. */
  def videoFrameCensus(t: Tables): DataFrame = {
    import t.spark.implicits._
    val n = greatest(length($"text"), lit(1)).cast("long")
    val s = greatest(floor(length($"text") / lit(4)).cast("long"), lit(1L))
    t.documents.select($"doc_id", $"text", n.as("n"), s.as("s"))
      .select($"doc_id", $"text", $"n", $"s",
        explode(sequence(lit(0L), lit(3L))).as("frame_idx"))
      .withColumn("from", least($"frame_idx" * $"s", $"n" - 1))
      .withColumn("frame", $"text".substr(($"from" + 1).cast("int"), $"s".cast("int")))
      .select($"doc_id", $"frame_idx",
        length($"frame").cast("long").as("frame_len"),
        md5($"frame").as("frame_md5"))
      .orderBy($"doc_id", $"frame_idx")
  }

  val videoFrameCensusSql: String =
    """WITH d AS (SELECT doc_id, text,
      |    CAST(greatest(length(text), 1) AS BIGINT) AS n,
      |    CAST(greatest(length(text) // 4, 1) AS BIGINT) AS s
      |  FROM documents)
      |SELECT doc_id, r.i AS frame_idx,
      |  CAST(length(substr(text, CAST(least(r.i * s, n - 1) AS INT) + 1, CAST(s AS INT))) AS BIGINT) AS frame_len,
      |  md5(substr(text, CAST(least(r.i * s, n - 1) AS INT) + 1, CAST(s AS INT))) AS frame_md5
      |FROM d CROSS JOIN range(4) r(i)
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** qm06: CROSS-MODAL dup agreement — the consistency read a
    * multimodal curation pipeline tunes its thresholds with: per doc,
    * the dup verdict of THREE independent modalities side by side —
    * exact text (md5 keeper, qd01 semantics), perceptual image hash
    * (qm03's banded hamming funnel), and semantic embedding (qd13's
    * SemDeDup), the last LEFT-joined because embedding coverage is
    * partial at scale (the qc11 lesson: a modality that cannot judge
    * a doc reports null, never drops the row). `n_modalities` counts
    * agreeing dup flags — docs flagged by 2+ modalities are the
    * high-confidence removals; image-only or semantic-only flags are
    * the threshold-tuning review queue. Each leg is the already-gated
    * operator; the join plan adds two hash joins on doc_id. */
  def crossModalAgreement(t: Tables): DataFrame = {
    import t.spark.implicits._
    val tx = t.documents.select($"doc_id",
      ($"doc_id" =!= min($"doc_id").over(Window.partitionBy(md5($"text"))))
        .as("text_dup"))
    val im = imageNearDup(t).select($"doc_id", $"is_dup".as("image_dup"))
    val sem = semanticDedup(t).select($"vec_id".as("doc_id"), $"is_dup".as("semantic_dup"))
    tx.join(im, "doc_id").join(sem, Seq("doc_id"), "left")
      .select($"doc_id", $"text_dup", $"image_dup", $"semantic_dup",
        ($"text_dup".cast("int") + $"image_dup".cast("int") +
          coalesce($"semantic_dup", lit(false)).cast("int")).as("n_modalities"))
      .orderBy($"doc_id")
  }

  /** qm07: the INCREMENTAL image-dedup store gated end to end — the
    * qi01 move (incremental path proven by an independent oracle)
    * applied to [[graft.operators.IncrementalHashDedup]]: even doc ids
    * seed a REAL parquet store (initStore), odd ids arrive as one
    * batch (dedupBatch: banded store+self join, popcount verify,
    * best = smallest hamming then smallest id), and the DuckDB oracle
    * replays the incremental semantics from scratch — batch items may
    * match store items or SMALLER-id batch mates, store items are
    * never re-decided. Exercises the store parquet round-trip, the
    * pigeonhole banding, and the decision tie-break in one gate row. */
  def imageDedupIncremental(t: Tables): DataFrame = {
    import t.spark.implicits._
    val hashes = t.documents.select($"doc_id",
      Multimodal.textDhash56($"text").as("phash"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-qm07")
    val store = tmp.toString + "/store"
    graft.operators.IncrementalHashDedup.initStore(
      hashes.filter($"doc_id" % 2 === 0), store)
    // appendUnique=false: this is a read-only gate query — the store is
    // throwaway, so skip the append I/O. dedupBatch pins decisions with
    // an eager localCheckpoint, so the store can be deleted immediately.
    val decisions = graft.operators.IncrementalHashDedup.dedupBatch(
        hashes.filter($"doc_id" % 2 =!= 0), store,
        bands = 4, bandBits = 14, maxHamming = 3, appendUnique = false)
      .orderBy($"doc_id")
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    decisions
  }

  /** qm09: the incremental image-dedup store in MIH mode — qm07's
    * split (even ids seed the store, odd ids arrive as one batch) with
    * `probeTolerance = 1`: the batch probes each 14-bit band with its
    * exact key plus all 14 single-bit flips, covering hamming ≤ 7
    * (4 × 2 > 7) where qm07's narrow regime caps at 3. Store side
    * stays exact-banded — the ever-growing side never fans out. The
    * oracle replays the probe expansion as a 15-way flip join over
    * the same incremental semantics (store matches + smaller-id batch
    * mates; best = smallest hamming, ties to smallest id). */
  def imageDedupIncrementalMih(t: Tables): DataFrame = {
    import t.spark.implicits._
    val hashes = t.documents.select($"doc_id",
      Multimodal.textDhash56($"text").as("phash"))
    val tmp = java.nio.file.Files.createTempDirectory("graft-qm09")
    val store = tmp.toString + "/store"
    graft.operators.IncrementalHashDedup.initStore(
      hashes.filter($"doc_id" % 2 === 0), store)
    val decisions = graft.operators.IncrementalHashDedup.dedupBatch(
        hashes.filter($"doc_id" % 2 =!= 0), store,
        bands = 4, bandBits = 14, maxHamming = 7, appendUnique = false,
        probeTolerance = 1)
      .orderBy($"doc_id")
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    decisions
  }

  val imageDedupIncrementalMihSql: String =
    s"""WITH $phashDocsCte,
       |h AS (SELECT doc_id, ${Multimodal.textDhash56Sql} AS phash FROM d),
       |hb AS (SELECT doc_id, phash, r.i AS band,
       |    (phash >> CAST(14 * r.i AS INT)) & 16383 AS bkey
       |  FROM h CROSS JOIN range(4) r(i)),
       |sb AS (SELECT * FROM hb WHERE doc_id % 2 = 0),
       |bb AS (SELECT * FROM hb WHERE doc_id % 2 <> 0),
       |bpx AS (SELECT doc_id, phash, band,
       |    CASE WHEN f.j = 14 THEN bkey
       |         ELSE xor(bkey, (1::BIGINT << CAST(f.j AS INT))) END AS pkey
       |  FROM bb CROSS JOIN range(15) f(j)),
       |cand AS (
       |  SELECT b.doc_id new_id, s.doc_id old_id, b.phash n_hash, s.phash o_hash
       |  FROM bpx b JOIN sb s ON b.band = s.band AND b.pkey = s.bkey
       |  UNION
       |  SELECT b.doc_id, b2.doc_id, b.phash, b2.phash
       |  FROM bpx b JOIN bb b2 ON b.band = b2.band AND b.pkey = b2.bkey
       |    AND b2.doc_id < b.doc_id),
       |hits AS (SELECT new_id, old_id,
       |    CAST(bit_count(xor(n_hash, o_hash)) AS BIGINT) hamming
       |  FROM cand WHERE bit_count(xor(n_hash, o_hash)) <= 7),
       |best AS (SELECT new_id doc_id, old_id dup_of, hamming FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY new_id
       |      ORDER BY hamming ASC, old_id ASC) rn FROM hits) WHERE rn = 1)
       |SELECT b.doc_id, best.dup_of, best.hamming
       |FROM (SELECT DISTINCT doc_id FROM bb) b
       |LEFT JOIN best USING (doc_id) ORDER BY b.doc_id""".stripMargin

  val imageDedupIncrementalSql: String =
    s"""WITH $phashDocsCte,
       |h AS (SELECT doc_id, ${Multimodal.textDhash56Sql} AS phash FROM d),
       |hb AS (SELECT doc_id, phash, r.i AS band,
       |    (phash >> CAST(14 * r.i AS INT)) & 16383 AS bkey
       |  FROM h CROSS JOIN range(4) r(i)),
       |sb AS (SELECT * FROM hb WHERE doc_id % 2 = 0),
       |bb AS (SELECT * FROM hb WHERE doc_id % 2 <> 0),
       |cand AS (
       |  SELECT b.doc_id new_id, s.doc_id old_id, b.phash n_hash, s.phash o_hash
       |  FROM bb b JOIN sb s ON b.band = s.band AND b.bkey = s.bkey
       |  UNION
       |  SELECT b.doc_id, b2.doc_id, b.phash, b2.phash
       |  FROM bb b JOIN bb b2 ON b.band = b2.band AND b.bkey = b2.bkey
       |    AND b2.doc_id < b.doc_id),
       |hits AS (SELECT new_id, old_id,
       |    CAST(bit_count(xor(n_hash, o_hash)) AS BIGINT) hamming
       |  FROM cand WHERE bit_count(xor(n_hash, o_hash)) <= 3),
       |best AS (SELECT new_id doc_id, old_id dup_of, hamming FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY new_id
       |      ORDER BY hamming ASC, old_id ASC) rn FROM hits) WHERE rn = 1)
       |SELECT b.doc_id, best.dup_of, best.hamming
       |FROM (SELECT DISTINCT doc_id FROM bb) b
       |LEFT JOIN best USING (doc_id) ORDER BY b.doc_id""".stripMargin

  /** qm10: WIDE audio-fingerprint near-dup — the production 64-bit
    * audio width gated: 63-bit stub fingerprint per clip
    * ([[Multimodal.textAudioFp63]], qm04's energy-delta chain at the
    * width the audio-plane sweep (NOTES_r13) measured surviving birthday pressure
    * where 32 bits collapse), deduped through
    * [[Multimodal.hashNearDup]] with a 7 × 9-bit pigeonhole split
    * covering hamming ≤ 6 over all 63 bits — a different band geometry
    * than qm03/qm08's 4 × 14, so the gate also pins the banding math
    * on a bands × bandBits = width-exactly split. */
  def audioNearDupWide(t: Tables): DataFrame = {
    import t.spark.implicits._
    val hashes = t.documents.select($"doc_id",
      Multimodal.textAudioFp63($"text").as("fp"))
    Multimodal.hashNearDup(hashes, "doc_id", "fp",
      bands = 7, bandBits = 9, maxHamming = 6)
      .orderBy($"doc_id")
  }

  val audioNearDupWideSql: String = {
    val energies = (0 until 64).map(w =>
      s"${Multimodal.textAudioEnergy64Sql(w)} AS e$w").mkString(", ")
    val fp = (0 until 63).map(w =>
      s"(CASE WHEN e${w + 1} > e$w THEN (1::BIGINT << $w) ELSE 0::BIGINT END)")
      .mkString("(", " + ", ")")
    s"""WITH d AS (SELECT doc_id, text,
       |    CAST(greatest(length(text), 1) AS BIGINT) AS n,
       |    CAST(greatest(length(text) // 256, 1) AS BIGINT) AS s256
       |  FROM documents),
       |e AS (SELECT doc_id, $energies FROM d),
       |h AS (SELECT doc_id, $fp AS fp FROM e),
       |bands AS (SELECT doc_id, fp, r.i AS band,
       |    (fp >> CAST(9 * r.i AS INT)) & 511 AS bkey
       |  FROM h CROSS JOIN range(7) r(i)),
       |cand AS (SELECT DISTINCT a.doc_id a_id, b.doc_id b_id, a.fp a_h, b.fp b_h
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |    AND a.doc_id < b.doc_id),
       |hits AS (SELECT a_id, b_id, CAST(bit_count(xor(a_h, b_h)) AS BIGINT) hamming
       |  FROM cand WHERE bit_count(xor(a_h, b_h)) <= 6),
       |best AS (SELECT b_id doc_id, a_id dup_of, hamming FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY a_id ASC) rn
       |    FROM hits) WHERE rn = 1)
       |SELECT h.doc_id, h.fp, best.dup_of, best.hamming,
       |  best.dup_of IS NOT NULL AS is_dup
       |FROM h LEFT JOIN best USING (doc_id) ORDER BY h.doc_id""".stripMargin
  }

  /** qm11: FRAME-VOTE video near-dup — the clip-level dedup decision
    * ([[Multimodal.frameVoteNearDup]], the vote layer
    * [[Multimodal.videoNearDup]] runs over real Y4M) gated on the stub:
    * qm05's 4 evenly-strided frame slices per doc, each slice hashed
    * with the 56-bit stub dHash, frame pairs funneled through 4 × 14-bit
    * bands at hamming ≤ 3, and doc b declared a dup of doc a (a < b)
    * when ≥ half of b's frames match SOME frame of a — votes count
    * DISTINCT b-frames. The oracle replays frames, banding, the
    * all-pairs verify, and the vote threshold end to end, so the vote
    * semantics (distinct-frame ballots, most-votes-then-smallest-id
    * tie-break) are pinned cross-engine. */
  /** The stub's per-frame hashes: qm05's 4 strided frame slices per
    * doc, each hashed with the 56-bit stub dHash — shared by qm11 and
    * qm12. */
  private def stubFrameHashes(t: Tables): DataFrame = {
    import t.spark.implicits._
    val n = greatest(length($"text"), lit(1)).cast("long")
    val s = greatest(floor(length($"text") / lit(4)).cast("long"), lit(1L))
    t.documents.select($"doc_id", $"text", n.as("n"), s.as("s"))
      .select($"doc_id", $"text", $"n", $"s",
        explode(sequence(lit(0L), lit(3L))).as("frame_idx"))
      .withColumn("from", least($"frame_idx" * $"s", $"n" - 1))
      .withColumn("frame", $"text".substr(($"from" + 1).cast("int"), $"s".cast("int")))
      .select($"doc_id", $"frame_idx", Multimodal.textDhash56($"frame").as("fhash"))
  }

  def videoNearDupVote(t: Tables): DataFrame = {
    import t.spark.implicits._
    Multimodal.frameVoteNearDup(stubFrameHashes(t), "doc_id", "frame_idx", "fhash",
      bands = 4, bandBits = 14, maxHamming = 3, voteFrac = 0.5)
      .orderBy($"doc_id")
  }

  val videoNearDupVoteSql: String =
    s"""WITH d AS (SELECT doc_id, text,
       |    CAST(greatest(length(text), 1) AS BIGINT) AS n,
       |    CAST(greatest(length(text) // 4, 1) AS BIGINT) AS s
       |  FROM documents),
       |fr AS (SELECT doc_id, r.i AS frame_idx,
       |    substr(text, CAST(least(r.i * s, n - 1) AS INT) + 1, CAST(s AS INT)) AS text
       |  FROM d CROSS JOIN range(4) r(i)),
       |fx AS (SELECT doc_id, frame_idx, text,
       |    CAST(greatest(length(text), 1) AS BIGINT) AS n,
       |    CAST(greatest(length(text) // 64, 1) AS BIGINT) AS s
       |  FROM fr),
       |h AS (SELECT doc_id, frame_idx, ${Multimodal.textDhash56Sql} AS fhash FROM fx),
       |bands AS (SELECT doc_id, frame_idx, fhash, r.i AS band,
       |    (fhash >> CAST(14 * r.i AS INT)) & 16383 AS bkey
       |  FROM h CROSS JOIN range(4) r(i)),
       |pair AS (SELECT DISTINCT p.doc_id b_id, p.frame_idx b_frame, t.doc_id a_id,
       |    t.frame_idx a_frame, p.fhash ph, t.fhash th
       |  FROM bands p JOIN bands t ON p.band = t.band AND p.bkey = t.bkey
       |    AND t.doc_id < p.doc_id),
       |hits AS (SELECT DISTINCT b_id, a_id, b_frame FROM pair
       |  WHERE bit_count(xor(ph, th)) <= 3),
       |votes AS (SELECT b_id, a_id, CAST(COUNT(*) AS BIGINT) votes FROM hits GROUP BY 1, 2),
       |nf AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_frames FROM h GROUP BY 1),
       |judged AS (SELECT v.b_id, v.a_id, v.votes FROM votes v
       |  JOIN nf ON nf.doc_id = v.b_id WHERE v.votes >= 0.5 * nf.n_frames),
       |best AS (SELECT b_id doc_id, a_id dup_of, votes FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY b_id
       |      ORDER BY votes DESC, a_id ASC) rn FROM judged) WHERE rn = 1)
       |SELECT nf.doc_id, nf.n_frames, best.dup_of, best.votes,
       |  best.dup_of IS NOT NULL AS is_dup
       |FROM nf LEFT JOIN best USING (doc_id) ORDER BY nf.doc_id""".stripMargin

  /** qm12: the incremental frame-vote VIDEO dedup store gated end to
    * end — the qm07/qm09 move at the frame grain: even doc ids seed a
    * REAL (id, frame, hash) parquet store
    * ([[graft.operators.IncrementalFrameDedup]]), odd ids arrive as
    * one batch, and the DuckDB oracle replays the incremental vote
    * semantics from scratch — batch clips may vote onto store clips or
    * SMALLER-id batch mates, votes count DISTINCT batch frames within
    * hamming ≤ 3, threshold ≥ half the clip's frames, best = most
    * votes then smallest id. Exercises the frame-store parquet
    * round-trip, the store-side exact banding, and the vote tie-break
    * in one gate row. */
  def videoDedupIncrementalVote(t: Tables): DataFrame = {
    import t.spark.implicits._
    val frames = stubFrameHashes(t)
    val tmp = java.nio.file.Files.createTempDirectory("graft-qm12")
    val store = tmp.toString + "/store"
    graft.operators.IncrementalFrameDedup.initStore(
      frames.filter($"doc_id" % 2 === 0), store, idCol = "doc_id")
    // appendUnique=false: read-only gate query over a throwaway store
    // (decisions pin with an eager localCheckpoint inside dedupBatch)
    val decisions = graft.operators.IncrementalFrameDedup.dedupBatch(
        frames.filter($"doc_id" % 2 =!= 0), store,
        bands = 4, bandBits = 14, maxHamming = 3, voteFrac = 0.5,
        idCol = "doc_id", appendUnique = false)
      .orderBy($"doc_id")
    org.apache.commons.io.FileUtils.deleteQuietly(tmp.toFile)
    decisions
  }

  val videoDedupIncrementalVoteSql: String =
    s"""WITH d AS (SELECT doc_id, text,
       |    CAST(greatest(length(text), 1) AS BIGINT) AS n,
       |    CAST(greatest(length(text) // 4, 1) AS BIGINT) AS s
       |  FROM documents),
       |fr AS (SELECT doc_id, r.i AS frame_idx,
       |    substr(text, CAST(least(r.i * s, n - 1) AS INT) + 1, CAST(s AS INT)) AS text
       |  FROM d CROSS JOIN range(4) r(i)),
       |fx AS (SELECT doc_id, frame_idx, text,
       |    CAST(greatest(length(text), 1) AS BIGINT) AS n,
       |    CAST(greatest(length(text) // 64, 1) AS BIGINT) AS s
       |  FROM fr),
       |h AS (SELECT doc_id, frame_idx, ${Multimodal.textDhash56Sql} AS fhash FROM fx),
       |hb AS (SELECT doc_id, frame_idx, fhash, r.i AS band,
       |    (fhash >> CAST(14 * r.i AS INT)) & 16383 AS bkey
       |  FROM h CROSS JOIN range(4) r(i)),
       |sb AS (SELECT * FROM hb WHERE doc_id % 2 = 0),
       |bb AS (SELECT * FROM hb WHERE doc_id % 2 <> 0),
       |pair AS (
       |  SELECT b.doc_id new_id, b.frame_idx b_frame, s.doc_id old_id,
       |    b.fhash ph, s.fhash th
       |  FROM bb b JOIN sb s ON b.band = s.band AND b.bkey = s.bkey
       |  UNION
       |  SELECT b.doc_id, b.frame_idx, b2.doc_id, b.fhash, b2.fhash
       |  FROM bb b JOIN bb b2 ON b.band = b2.band AND b.bkey = b2.bkey
       |    AND b2.doc_id < b.doc_id),
       |hits AS (SELECT DISTINCT new_id, old_id, b_frame FROM pair
       |  WHERE bit_count(xor(ph, th)) <= 3),
       |votes AS (SELECT new_id, old_id, CAST(COUNT(*) AS BIGINT) votes
       |  FROM hits GROUP BY 1, 2),
       |nf AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_frames FROM h
       |  WHERE doc_id % 2 <> 0 GROUP BY 1),
       |judged AS (SELECT v.new_id, v.old_id, v.votes FROM votes v
       |  JOIN nf ON nf.doc_id = v.new_id WHERE v.votes >= 0.5 * nf.n_frames),
       |best AS (SELECT new_id doc_id, old_id dup_of, votes FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY new_id
       |      ORDER BY votes DESC, old_id ASC) rn FROM judged) WHERE rn = 1)
       |SELECT nf.doc_id, nf.n_frames, best.dup_of, best.votes
       |FROM nf LEFT JOIN best USING (doc_id) ORDER BY nf.doc_id""".stripMargin

  /** qx02: the MULTIMODAL corpus build COMPOSED end to end — the batch
    * twin of [[graft.streaming.EventStreams.multimodalPipelineStream]]'s
    * verdict, chained the way qx01 chains the text-only funnel:
    *   1. quality gate (qx01's integer discipline: wc ≥ 20,
    *      3 ≤ chars/token ≤ 12);
    *   2. exact TEXT dedup among gate-passers (qd01: min doc_id per
    *      md5(lower(trim(text))) window);
    *   3. perceptual IMAGE near-dup among gate-passers (qm03's funnel:
    *      56-bit stub dHash, 4 × 14-bit pigeonhole bands, hamming ≤ 3);
    *   4. cross-modal verdict + kept-corpus manifest: per doc, both
    *      modality attributions, `n_modalities` dup votes, strict
    *      `kept` = gated AND unique in every modality (the stream's
    *      exact keep policy).
    * ONE declarative plan: one text scan computes wc/tl/md5/phash
    * scan-locally (checkpointed as ~120 B/doc metadata — the corpus
    * bytes never shuffle), then each dedup leg is the already-gated
    * operator and the manifest is two hash joins on doc_id. */
  def multimodalCorpusBuild(t: Tables): DataFrame = {
    import t.spark.implicits._
    import graft.functions.TextFunctions.tokens
    val raw = t.documents.select($"doc_id",
        size(tokens($"text")).cast("long").as("wc"),
        length(trim($"text")).cast("long").as("tl"),
        md5(lower(trim($"text"))).as("h"),
        Multimodal.textDhash56($"text").as("phash"))
      .withColumn("gate_passed",
        $"wc" >= 20 && $"tl" >= $"wc" * 3 && $"tl" <= $"wc" * 12)
      .localCheckpoint()
    val passed = raw.filter($"gate_passed")
    val tx = passed.select($"doc_id",
        min($"doc_id").over(Window.partitionBy($"h")).as("keeper"))
      .select($"doc_id",
        when($"keeper" =!= $"doc_id", $"keeper").as("text_dup_of"))
    val im = Multimodal.hashNearDup(passed.select($"doc_id", $"phash"),
        "doc_id", "phash", bands = 4, bandBits = 14, maxHamming = 3)
      .select($"doc_id", $"dup_of".as("image_dup_of"),
        $"hamming".as("image_hamming"))
    raw.select($"doc_id", $"gate_passed")
      .join(tx, Seq("doc_id"), "left")
      .join(im, Seq("doc_id"), "left")
      .withColumn("n_modalities",
        $"text_dup_of".isNotNull.cast("int") + $"image_dup_of".isNotNull.cast("int"))
      .withColumn("kept",
        $"gate_passed" && $"text_dup_of".isNull && $"image_dup_of".isNull)
      .select($"doc_id", $"gate_passed", $"text_dup_of", $"image_dup_of",
        $"image_hamming", $"n_modalities", $"kept")
      .orderBy($"doc_id")
  }

  val multimodalCorpusBuildSql: String =
    s"""WITH d AS (SELECT doc_id, text,
       |    CAST(greatest(length(text), 1) AS BIGINT) AS n,
       |    CAST(greatest(length(text) // 64, 1) AS BIGINT) AS s,
       |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) wc,
       |    CAST(length(trim(text)) AS BIGINT) tl,
       |    md5(lower(trim(text))) h
       |  FROM documents),
       |g AS (SELECT doc_id, h, ${Multimodal.textDhash56Sql} AS phash,
       |    (wc >= 20 AND tl >= wc*3 AND tl <= wc*12) AS gate_passed FROM d),
       |p AS (SELECT * FROM g WHERE gate_passed),
       |tx AS (SELECT doc_id,
       |    CASE WHEN doc_id <> m THEN m END AS text_dup_of FROM
       |  (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY h) m FROM p)),
       |bands AS (SELECT doc_id, phash, r.i AS band,
       |    (phash >> CAST(14 * r.i AS INT)) & 16383 AS bkey
       |  FROM p CROSS JOIN range(4) r(i)),
       |cand AS (SELECT DISTINCT a.doc_id a_id, b.doc_id b_id, a.phash a_h, b.phash b_h
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |    AND a.doc_id < b.doc_id),
       |hits AS (SELECT a_id, b_id, CAST(bit_count(xor(a_h, b_h)) AS BIGINT) hamming
       |  FROM cand WHERE bit_count(xor(a_h, b_h)) <= 3),
       |best AS (SELECT b_id doc_id, a_id image_dup_of, hamming image_hamming FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY a_id ASC) rn
       |    FROM hits) WHERE rn = 1)
       |SELECT g.doc_id, g.gate_passed, tx.text_dup_of, best.image_dup_of,
       |  best.image_hamming,
       |  CAST((CAST(tx.text_dup_of IS NOT NULL AS INT) +
       |        CAST(best.image_dup_of IS NOT NULL AS INT)) AS INT) AS n_modalities,
       |  (g.gate_passed AND tx.text_dup_of IS NULL AND best.image_dup_of IS NULL) AS kept
       |FROM g LEFT JOIN tx USING (doc_id) LEFT JOIN best USING (doc_id)
       |ORDER BY g.doc_id""".stripMargin

  // lazy: embeds semanticDedupSql, declared further down the object —
  // a strict val would initialize first and interpolate null
  lazy val crossModalAgreementSql: String =
    s"""WITH tx AS (SELECT doc_id,
       |    doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS text_dup
       |  FROM documents),
       |im AS (SELECT doc_id, is_dup AS image_dup FROM ($imageNearDupSql)),
       |sem AS (SELECT vec_id, is_dup AS semantic_dup FROM ($semanticDedupSql))
       |SELECT tx.doc_id, tx.text_dup, im.image_dup, sem.semantic_dup,
       |  (CAST(tx.text_dup AS INT) + CAST(im.image_dup AS INT) +
       |   CAST(COALESCE(sem.semantic_dup, false) AS INT)) AS n_modalities
       |FROM tx JOIN im USING (doc_id) LEFT JOIN sem ON sem.vec_id = tx.doc_id
       |ORDER BY tx.doc_id""".stripMargin

  /** qd13: SemDeDup — cluster-then-prune semantic dedup: IVF cells
    * (8 deterministic sampled centroids) as learned blocks, within-cell
    * cosine ≥ 0.35 marks the later vector a dup of its smallest-id
    * match. */
  def semanticDedup(t: Tables): DataFrame = {
    import t.spark.implicits._
    Dedup.semanticDedup(t.embeddings, nCells = 8, threshold = 0.35)
      .orderBy($"vec_id")
  }

  val semanticDedupSql: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] e,
      |    list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) nrm2 FROM embeddings),
      |cent AS (SELECT (ROW_NUMBER() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id)) - 1 AS cell,
      |    e c_vec, nrm2 c_nrm2
      |  FROM v ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 8),
      |scored AS (SELECT v.vec_id, v.e, v.nrm2, cent.cell,
      |    cent.c_nrm2 - 2 * list_dot_product(v.e, cent.c_vec) AS score
      |  FROM v CROSS JOIN cent),
      |assigned AS (SELECT vec_id, e, nrm2, cell FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY score ASC, cell ASC) rn
      |    FROM scored) WHERE rn = 1),
      |pairs AS (SELECT b.vec_id b_id, a.vec_id a_id,
      |    round(list_dot_product(a.e, b.e) / (sqrt(a.nrm2) * sqrt(b.nrm2)), 6) cos_sim
      |  FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id),
      |hits AS (SELECT * FROM pairs WHERE cos_sim >= 0.35),
      |best AS (SELECT b_id vec_id, a_id dup_of, cos_sim FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY b_id ORDER BY a_id ASC, cos_sim ASC) rn
      |    FROM hits) WHERE rn = 1)
      |SELECT s.vec_id, CAST(s.cell AS INT) AS cell, best.dup_of, best.cos_sim,
      |  best.dup_of IS NOT NULL AS is_dup
      |FROM assigned s LEFT JOIN best ON best.vec_id = s.vec_id
      |ORDER BY s.vec_id""".stripMargin

  /** qt16: top bigram collocations by pointwise mutual information —
    * PMI(w1 w2) = ln(p(w1 w2) / (p(w1) p(w2))) over corpus occurrence
    * counts (NOT per-doc-distinct), support ≥ 5. The standard
    * collocation-mining signal (Church & Hanks 1990), useful for
    * tokenizer vocabulary audits and boilerplate discovery.
    *
    * Scale: two corpus aggregations (unigram + bigram counts, map-side
    * combined), support filter BEFORE the two unigram joins (the
    * ≥5 filter prunes the long tail — most of the bigram table — ahead
    * of any join), scalar totals broadcast, TakeOrderedAndProject for
    * the top-k. The one `ln` per surviving bigram is rounded to 6dp
    * (single transcendental, integer operands — the qt12 contract). */
  def pmiBigrams(t: Tables): DataFrame = {
    import t.spark.implicits._
    val toks = t.documents.select(tokens(lower($"text")).as("w"))
    val uni = toks.select(explode($"w").as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c_w"))
    val nW = uni.agg(sum($"c_w").cast("double").as("n_w"))
    val bg = t.documents.select(explode(shingles(lower($"text"), 2)).as("bg"))
      .groupBy($"bg").agg(count(lit(1)).as("c_bg"))
    val nBg = bg.agg(sum($"c_bg").cast("double").as("n_bg"))
    bg.filter($"c_bg" >= 5)
      .withColumn("w1", substring_index($"bg", " ", 1))
      .withColumn("w2", substring_index($"bg", " ", -1))
      .join(uni.select($"tok".as("w1"), $"c_w".as("c_w1")), "w1")
      .join(uni.select($"tok".as("w2"), $"c_w".as("c_w2")), "w2")
      .crossJoin(broadcast(nW)).crossJoin(broadcast(nBg))
      .select($"bg".as("bigram"), $"c_bg",
        round(log(($"c_bg" / $"n_bg") / (($"c_w1" / $"n_w") * ($"c_w2" / $"n_w"))), 6)
          .as("pmi"))
      .orderBy($"pmi".desc, $"bigram".asc)
      .limit(20)
  }

  val pmiBigramsSql: String =
    """WITH toks AS (SELECT string_split_regex(trim(lower(text)), '\s+') w FROM documents),
      |uni AS (SELECT tok, COUNT(*) c_w FROM (SELECT unnest(w) tok FROM toks) GROUP BY 1),
      |nw AS (SELECT CAST(SUM(c_w) AS DOUBLE) n_w FROM uni),
      |bgs AS (SELECT bg, COUNT(*) c_bg FROM (
      |    SELECT unnest([array_to_string(w[i:i+1], ' ') for i in range(1, len(w))]) bg
      |    FROM toks) GROUP BY 1),
      |nbg AS (SELECT CAST(SUM(c_bg) AS DOUBLE) n_bg FROM bgs),
      |parts AS (SELECT bg, c_bg,
      |    string_split(bg, ' ')[1] w1, string_split(bg, ' ')[-1] w2
      |  FROM bgs WHERE c_bg >= 5)
      |SELECT bg AS bigram, CAST(c_bg AS BIGINT) AS c_bg,
      |  round(ln((c_bg / n_bg) / ((u1.c_w / n_w) * (u2.c_w / n_w))), 6) AS pmi
      |FROM parts JOIN uni u1 ON u1.tok = w1 JOIN uni u2 ON u2.tok = w2
      |CROSS JOIN nw CROSS JOIN nbg
      |ORDER BY pmi DESC, bigram ASC LIMIT 20""".stripMargin

  /** qe06: within-session Markov transition matrix — for every ordered
    * pair of event types, how often one follows the other inside a
    * session (qe01's 30-minute-gap sessions) and the conditional
    * probability of the transition. The per-user window computes BOTH
    * the session boundary (lag) and the next event (lead) in one
    * partition spec — no second shuffle on (user, session); a
    * transition survives iff the next row does not open a new session.
    * Counts are exact integers; the probability is one unrounded IEEE
    * division. The `from_type` window for the denominator runs over the
    * aggregated |types|² matrix, not the events — a constant-size
    * frame, no hot partition at any scale. */
  def transitionMatrix(t: Tables): DataFrame = {
    import t.spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc, $"event_id".asc)
    val g = t.events.select($"user_id", $"event_id", $"ts", $"event_type")
      .withColumn("prev_ts", lag($"ts", 1).over(w))
      .withColumn("new_session",
        when($"prev_ts".isNull ||
             unix_millis($"ts") - unix_millis($"prev_ts") > 1800000L, 1).otherwise(0))
    val p = g.withColumn("to_type", lead($"event_type", 1).over(w))
      .withColumn("nxt_new", lead($"new_session", 1).over(w))
      .filter($"to_type".isNotNull && $"nxt_new" === 0)
    val c = p.groupBy($"event_type".as("from_type"), $"to_type")
      .agg(count(lit(1)).as("n_transitions"))
    val wf = Window.partitionBy($"from_type")
    c.select($"from_type", $"to_type", $"n_transitions",
        ($"n_transitions".cast("double") /
          sum($"n_transitions").over(wf).cast("double")).as("p_transition"))
      .orderBy($"from_type", $"to_type")
  }

  val transitionMatrixSql: String =
    """WITH g AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) ts, event_type,
      |    lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) prev_ts
      |  FROM events),
      |s AS (SELECT *, CASE WHEN prev_ts IS NULL OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
      |                     THEN 1 ELSE 0 END new_session FROM g),
      |p AS (SELECT event_type from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) to_type,
      |    lead(new_session) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) nxt_new
      |  FROM s),
      |c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) n_transitions
      |  FROM p WHERE to_type IS NOT NULL AND nxt_new = 0 GROUP BY 1, 2)
      |SELECT from_type, to_type, n_transitions,
      |  CAST(n_transitions AS DOUBLE) /
      |    CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS DOUBLE) AS p_transition
      |FROM c ORDER BY from_type, to_type""".stripMargin

  /** qs10: hard-negative mining — each query's top-5 nearest neighbors
    * among OTHER-label vectors (Similarity.hardNegatives; the label
    * filter rides the broadcast join condition). */
  def hardNegativesTopK(t: Tables): DataFrame = {
    import t.spark.implicits._
    Similarity.hardNegatives(t.embeddings, QueryIds, k = 5).orderBy($"query_id", $"rk")
  }

  val hardNegativesSql: String =
    """WITH q AS (SELECT vec_id query_id, label q_label, embedding::DOUBLE[] q_vec,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) q_nrm
      |  FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id neighbor_id, label c_label, embedding::DOUBLE[] c_vec,
      |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) c_nrm
      |  FROM embeddings),
      |sims AS (SELECT query_id, neighbor_id, c_label neighbor_label,
      |    round(list_dot_product(q_vec, c_vec) / (q_nrm * c_nrm), 6) cos_sim
      |  FROM c JOIN q ON c_label <> q_label)
      |SELECT query_id, neighbor_id, neighbor_label, cos_sim, rk FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) rk
      |  FROM sims)
      |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  /** qt21: per-language token-distribution Shannon entropy — the
    * gibberish/boilerplate signal: natural language sits in a narrow
    * entropy band; template spam collapses it, random noise inflates
    * it. Per-type contributions −p·ln(p) follow the transcendental
    * contract (round-6 per term → DECIMAL exact sum → cast, no final
    * rounding). The per-language totals join is a broadcast of a
    * |langs|-row aggregate — the running shape stays (lang, token)
    * hash aggregation, no language-wide window anywhere. */
  def tokenEntropy(t: Tables): DataFrame = {
    import t.spark.implicits._
    val counts = t.documents
      .select($"lang", explode(tokens(lower($"text"))).as("tok"))
      .groupBy($"lang", $"tok").agg(count(lit(1)).as("c"))
    val totals = counts.groupBy($"lang")
      .agg(sum($"c").as("n_tokens"), count(lit(1)).as("n_types"))
    counts.join(broadcast(totals), Seq("lang"))
      .select($"lang", $"n_tokens", $"n_types",
        round(-(($"c".cast("double") / $"n_tokens") *
                log($"c".cast("double") / $"n_tokens")), 6)
          .cast("decimal(20,6)").as("term"))
      .groupBy($"lang", $"n_tokens", $"n_types")
      .agg(sum($"term").cast("double").as("entropy"))
      .orderBy($"lang")
  }

  val tokenEntropySql: String =
    """WITH tok AS (SELECT lang, unnest(string_split_regex(trim(lower(text)), '\s+')) tok
      |  FROM documents),
      |cnt AS (SELECT lang, tok, COUNT(*) c FROM tok GROUP BY 1, 2),
      |tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) n_tokens, CAST(COUNT(*) AS BIGINT) n_types
      |  FROM cnt GROUP BY 1),
      |terms AS (SELECT cnt.lang, n_tokens, n_types,
      |    CAST(round(-((CAST(c AS DOUBLE) / n_tokens) * ln(CAST(c AS DOUBLE) / n_tokens)), 6)
      |         AS DECIMAL(20,6)) term
      |  FROM cnt JOIN tot ON tot.lang = cnt.lang)
      |SELECT lang, n_tokens, n_types, CAST(SUM(term) AS DOUBLE) AS entropy
      |FROM terms GROUP BY lang, n_tokens, n_types ORDER BY lang""".stripMargin

  /** qd16: quality-aware cluster keepers — qd06's transitive near-dup
    * clusters with qd11's "keep the best copy" policy lifted from
    * exact groups to clusters: each cluster keeps its longest member
    * (`n_chars` desc, id asc tie-break) instead of the min id. The
    * keeper argmax is a per-cluster window — near-dup clusters are
    * funnel-bounded and small, so no hot partition; the labels still
    * come from the O(log d) pointer-doubling run, and the oracle
    * closes the same pair graph with a recursive CTE + argmax
    * window. */
  def clusterCanonical(t: Tables): DataFrame = {
    import t.spark.implicits._
    val pairs = Dedup.nearDupsMinhash(t.documents, threshold = 0.3)
      .select($"a_id", $"b_id")
    ConnectedComponents.dedupDecisionsBy(t.documents, pairs, prefCols = Seq("n_chars"))
      .orderBy($"doc_id")
  }

  val clusterCanonicalSql: String =
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
      |lab AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id, d.n_chars
      |  FROM documents d LEFT JOIN c ON c.id = d.doc_id)
      |SELECT doc_id, cluster_id,
      |  first_value(doc_id) OVER (PARTITION BY cluster_id
      |    ORDER BY n_chars DESC, doc_id ASC) AS keeper_id,
      |  doc_id <> first_value(doc_id) OVER (PARTITION BY cluster_id
      |    ORDER BY n_chars DESC, doc_id ASC) AS is_dup
      |FROM lab ORDER BY doc_id""".stripMargin

  /** qp12: cluster-aware holdout split — the leakage-proof train/test
    * split: hashing DOC ids (qp04) puts near-duplicates on both sides
    * of the split, and a model that memorizes a train doc aces its
    * test near-twin. Here the split coordinate is the CLUSTER id
    * (qd06's transitive labels), a pure function every member
    * inherits, so a near-dup pair can never straddle the boundary.
    * Same md5 coordinate discipline as qp04 — cross-engine exact,
    * never rand(). */
  def clusterHoldout(t: Tables): DataFrame = {
    import t.spark.implicits._
    val pairs = Dedup.nearDupsMinhash(t.documents, threshold = 0.3)
      .select($"a_id", $"b_id")
    Sampling.holdoutSplit(
        ConnectedComponents.dedupDecisions(t.documents, pairs), "cluster_id")
      .select($"doc_id", $"cluster_id", $"split")
      .orderBy($"doc_id")
  }

  val clusterHoldoutSql: String =
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
      |lab AS (SELECT d.doc_id, COALESCE(c.comp, d.doc_id) AS cluster_id
      |  FROM documents d LEFT JOIN c ON c.id = d.doc_id),
      |u AS (SELECT doc_id, cluster_id,
      |    list_sum(list_transform(range(0,4), i ->
      |      (strpos('0123456789abcdef', substr(md5(cluster_id::VARCHAR), i+1, 1)) - 1) * power(16, 3-i)
      |    )) / 65536.0 AS u
      |  FROM lab)
      |SELECT doc_id, cluster_id,
      |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
      |FROM u ORDER BY doc_id""".stripMargin

  /** qt22: language-ID confusion matrix — the eval half of the qt02
    * classifier: predicted vs labeled language counts and the per-true-
    * language fraction (the diagonal is per-class recall). One scan +
    * one hash agg; the denominator window runs over the aggregated
    * |langs|² matrix — a constant-size frame (qe06 precedent), never
    * the corpus. */
  def langIdEval(t: Tables): DataFrame = {
    import t.spark.implicits._
    val cm = t.documents
      .select($"lang".as("true_lang"), langIdHeuristic($"text").as("pred_lang"))
      .groupBy($"true_lang", $"pred_lang").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"true_lang")
    cm.select($"true_lang", $"pred_lang", $"n",
        ($"n".cast("double") / sum($"n").over(w).cast("double")).as("frac"))
      .orderBy($"true_lang", $"pred_lang")
  }

  val langIdEvalSql: String =
    """WITH s AS (SELECT lang, string_split_regex(trim(lower(text)), '\s+') toks FROM documents),
      |c AS (SELECT lang,
      |  len(list_filter(toks, t -> t IN ('the','a','of','and','to','in','is'))) sc_en,
      |  len(list_filter(toks, t -> t IN ('el','la','de','y','que','en','los'))) sc_es,
      |  len(list_filter(toks, t -> t IN ('le','les','des','et','une','dans','est'))) sc_fr,
      |  len(list_filter(toks, t -> t IN ('der','die','das','und','ist','von','nicht'))) sc_de
      |FROM s),
      |pred AS (SELECT lang AS true_lang,
      |  CASE WHEN sc_en=0 AND sc_es=0 AND sc_fr=0 AND sc_de=0 THEN 'und'
      |       WHEN sc_en>=sc_es AND sc_en>=sc_fr AND sc_en>=sc_de THEN 'en'
      |       WHEN sc_es>=sc_fr AND sc_es>=sc_de THEN 'es'
      |       WHEN sc_fr>=sc_de THEN 'fr'
      |       ELSE 'de' END AS pred_lang
      |FROM c),
      |cm AS (SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) n
      |  FROM pred GROUP BY 1, 2)
      |SELECT true_lang, pred_lang, n,
      |  CAST(n AS DOUBLE) /
      |    CAST(SUM(n) OVER (PARTITION BY true_lang) AS DOUBLE) AS frac
      |FROM cm ORDER BY true_lang, pred_lang""".stripMargin

  /** qd17: similarity-threshold sweep — the calibration census behind
    * choosing qd03's threshold (and the third axis of NOTES_r4's dedup table):
    * every banded candidate pair histogrammed by exact-Jaccard decile.
    * Run once per corpus before committing a threshold: the mass below
    * a candidate decile is what that threshold would discard. Same
    * funnel cost as qd03 (signatures once, band-key shuffle,
    * verify-on-candidates-only) at threshold 0 — the histogram is a
    * constant-size aggregate of the candidate frame. Bins are
    * floor(round-6-jaccard × 10) clamped to 9, identical arithmetic in
    * both engines. */
  def jaccardSweep(t: Tables): DataFrame = {
    import t.spark.implicits._
    Dedup.nearDupsMinhash(t.documents, threshold = 0.0)
      .select(least(floor($"jaccard" * 10).cast("long"), lit(9L)).as("bin"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_pairs"))
      .select($"bin", ($"bin".cast("double") / 10.0).as("bin_lo"), $"n_pairs")
      .orderBy($"bin")
  }

  /** qd22: MinHash signature-size sweep — the third knob-pricing read
    * of the dedup funnel (qd17 prices the THRESHOLD, qd19 the BUCKET
    * skew, this one the SIGNATURE WIDTH): at bands=4 fixed, numHashes
    * ∈ {8, 16, 32} sets rows-per-band r = H/4, so a pair's band
    * collision probability is jaccard^r — small H finds more true
    * pairs at the cost of junk candidates, large H prunes candidates
    * and recall together. Per setting: banded candidates, exact-
    * verified matches (jaccard ≥ 0.5 over the distinct shingle sets —
    * the funnel's verify stage, so precision is funnel efficiency),
    * precision, and recall RELATIVE to the union of verified pairs
    * across all swept settings (never an all-pairs truth join — the
    * banded-only discipline even in calibration).
    *
    * Cost shape (r10): the sweep shares ONE maximal signature (narrow
    * signatures are prefixes — [[Dedup.candidatePairsByWidth]]) and
    * ONE verify over the candidate union (pair Jaccard is
    * width-independent), so sweeping W widths costs ~1 funnel, not W
    * (bench 4.09 → 3.54 s at sf0.1; bit-equality per width pinned in
    * DedupSpec). */
  def signatureSweep(t: Tables): DataFrame = {
    import t.spark.implicits._
    // the sweep's three settings share ONE tokenize+shingle+hash scan;
    // only the H-seed signature re-derives per setting — and the
    // verify runs ONCE over the union of the three candidate sets (a
    // pair's exact Jaccard is width-independent), so each width then
    // just joins its pair list against the shared verdict table
    // instead of re-intersecting hash arrays (r9's 3x verify cost
    // collapsed to ~the widest candidate set's 1x)
    val shingled = Dedup.shingledTable(t.documents).localCheckpoint()
    val cands = Dedup.candidatePairsByWidth(shingled, widths = Seq(8, 16, 32), bands = 4)
      .map { case (h, c) => h -> c.localCheckpoint() }
    val verified = Dedup.verifyJaccardPairs(
        cands.map(_._2).reduce(_ unionByName _).distinct(), shingled)
      .select($"a_id", $"b_id", ($"jaccard" >= 0.5).as("m"))
      .localCheckpoint()
    val nTruth = verified.filter($"m").count()
    cands.map { case (h, c) =>
      c.join(verified, Seq("a_id", "b_id"))
        .agg(count(lit(1)).as("n_candidates"),
             sum(when($"m", 1L).otherwise(0L)).as("n_matches"))
        .select(lit(h).as("num_hashes"), $"n_candidates", $"n_matches",
          round($"n_matches".cast("double") / $"n_candidates".cast("double"), 6).as("precision"),
          round($"n_matches".cast("double") / lit(nTruth.toDouble), 6).as("recall_rel"))
    }.reduce(_ unionByName _).orderBy($"num_hashes")
  }

  val signatureSweepSql: String = {
    def setting(h: Int): String = {
      val r = h / 4
      val bandCat = (1 to r).map(i => s"sg[$r*b+$i]").mkString(" || '|' || ")
      s"""sig$h AS (SELECT doc_id, [list_aggregate([md5(s::VARCHAR || ':' || x) for x in sh], 'min') for s in range(0,$h)] sg FROM shr),
         |bands$h AS (SELECT doc_id, [md5($bandCat) for b in range(0,4)] bs FROM sig$h),
         |bt$h AS (SELECT doc_id, i band_idx, bs[i] band_hash FROM bands$h, range(1,5) t(i)),
         |cand$h AS (SELECT DISTINCT a.doc_id a_id, b.doc_id b_id FROM bt$h a
         |  JOIN bt$h b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
         |j$h AS MATERIALIZED (SELECT a_id, b_id,
         |    round(CAST(len(list_intersect(ha.hashes, hb.hashes)) AS DOUBLE) /
         |          (len(ha.hashes) + len(hb.hashes) - CAST(len(list_intersect(ha.hashes, hb.hashes)) AS DOUBLE)), 6) >= 0.5 m
         |  FROM cand$h JOIN hsh ha ON ha.doc_id = a_id JOIN hsh hb ON hb.doc_id = b_id)""".stripMargin
    }
    val rows = Seq(8, 16, 32).map(h =>
      s"""SELECT CAST($h AS INT) num_hashes,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM j$h) n_candidates,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM j$h WHERE m) n_matches""".stripMargin)
      .mkString("\n  UNION ALL ")
    s"""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') w FROM documents),
       |shr AS (SELECT doc_id, [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)] sh FROM toks),
       |hsh AS (SELECT doc_id, list_distinct([md5(x) for x in sh]) hashes FROM shr),
       |${Seq(8, 16, 32).map(setting).mkString(",\n")},
       |truth AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM (
       |  SELECT DISTINCT a_id, b_id FROM (
       |    SELECT a_id, b_id FROM j8 WHERE m UNION ALL
       |    SELECT a_id, b_id FROM j16 WHERE m UNION ALL
       |    SELECT a_id, b_id FROM j32 WHERE m)))
       |SELECT num_hashes, n_candidates, n_matches,
       |  round(CAST(n_matches AS DOUBLE) / CAST(n_candidates AS DOUBLE), 6) AS "precision",
       |  round(CAST(n_matches AS DOUBLE) / CAST(truth.n AS DOUBLE), 6) recall_rel
       |FROM ($rows) CROSS JOIN truth ORDER BY num_hashes""".stripMargin
  }

  val jaccardSweepSql: String =
    """WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
      |shr AS (SELECT doc_id, [w[i] || ' ' || w[i+1] || ' ' || w[i+2] for i in range(1, len(w)-1)] sh FROM toks),
      |hsh AS (SELECT doc_id, list_distinct([md5(x) for x in sh]) hashes FROM shr),
      |sig AS (SELECT doc_id, [list_aggregate([md5(s::VARCHAR || ':' || x) for x in sh], 'min') for s in range(0,16)] sg FROM shr),
      |bands AS (SELECT doc_id, [md5(sg[4*b+1] || '|' || sg[4*b+2] || '|' || sg[4*b+3] || '|' || sg[4*b+4]) for b in range(0,4)] bs FROM sig),
      |bt AS (SELECT doc_id, i band_idx, bs[i] band_hash FROM bands, range(1,5) t(i)),
      |cand AS (SELECT DISTINCT a.doc_id a_id, b.doc_id b_id FROM bt a
      |  JOIN bt b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id),
      |j AS (SELECT a_id, b_id,
      |    round(CAST(len(list_intersect(ha.hashes, hb.hashes)) AS DOUBLE) /
      |          (len(ha.hashes) + len(hb.hashes) - CAST(len(list_intersect(ha.hashes, hb.hashes)) AS DOUBLE)), 6) jaccard
      |  FROM cand JOIN hsh ha ON ha.doc_id = a_id JOIN hsh hb ON hb.doc_id = b_id),
      |b AS (SELECT least(CAST(floor(jaccard * 10) AS INT), 9) bin FROM j)
      |SELECT bin, CAST(bin AS DOUBLE) / 10.0 AS bin_lo, CAST(COUNT(*) AS BIGINT) n_pairs
      |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  /** qe07: trailing-7-day distinct users per day — the exact sliding
    * MAU/WAU census. Engines cannot run `count(distinct)` over a range
    * window (and a per-day hot partition would not scale anyway), so
    * the distributed shape is: (1) collapse raw events to the DISTINCT
    * (day, user) frame — one hash shuffle that removes the per-day
    * event volume entirely; (2) explode each (day, user) into the ≤ 7
    * trailing windows it is visible in — a BOUNDED 7× amplification of
    * the already-collapsed frame, never of raw events; (3) distinct +
    * count per window day. The observed-day filter is a broadcast of
    * the tiny day dimension. No events range self-join, no
    * window-function distinct, every stage a plain hash shuffle. */
  def slidingDistinct(t: Tables): DataFrame = {
    import t.spark.implicits._
    // the collapsed frame feeds three branches (day domain, u1, the
    // window explode) — materialize it so raw events shuffle ONCE
    val dayUser = t.events.select(to_date($"ts").as("day"), $"user_id").distinct()
      .localCheckpoint()
    val days = dayUser.select($"day".as("win_day")).distinct()
    val contrib = dayUser
      .select($"day", $"user_id", explode(sequence(lit(0), lit(6))).as("off"))
      .select(date_add($"day", $"off").as("win_day"), $"user_id")
      .distinct()
    val u7 = contrib.join(broadcast(days), "win_day")
      .groupBy($"win_day").agg(count(lit(1)).as("u7"))
    val u1 = dayUser.groupBy($"day").agg(count(lit(1)).as("u1"))
      .withColumnRenamed("day", "win_day")
    u1.join(u7, "win_day")
      .select($"win_day".as("day"), $"u1", $"u7")
      .orderBy($"day")
  }

  val slidingDistinctSql: String =
    """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
      |days AS (SELECT DISTINCT d FROM du),
      |u1 AS (SELECT d AS day, CAST(COUNT(*) AS BIGINT) u1 FROM du GROUP BY 1),
      |u7 AS (SELECT dd.d AS day, CAST(COUNT(DISTINCT du.user_id) AS BIGINT) u7
      |  FROM days dd JOIN du ON du.d BETWEEN dd.d - 6 AND dd.d GROUP BY 1)
      |SELECT day, u1, u7 FROM u1 JOIN u7 USING (day) ORDER BY day""".stripMargin

  /** qd15: intra-document line dedup (the RefinedWeb/C4 "repeated
    * boilerplate inside one page" remedy, distinct from qt11's quality
    * line filter): repeated lines WITHIN a doc are removed, first
    * occurrence kept, order preserved, doc rebuilt. Lines are planted
    * in-query (the fixture corpus is single-line word soup — qt11's
    * precedent): 8-token lines where line i reuses the token window of
    * i mod 5, so every doc past 40 tokens carries guaranteed repeats.
    * The operator is a pure scan projection — zero shuffle, zero
    * joins; keep-first is an indexed higher-order filter
    * (`array_position(lines, l) = i+1`), O(L²) in the PER-DOC line
    * count only, which is bounded — corpus scale never enters. */
  def intradocDedup(t: Tables): DataFrame = {
    import t.spark.implicits._
    val planted = t.documents.select($"doc_id",
      letBound(tokens($"text")) { w =>
        transform(sequence(lit(0), ceil(size(w) / lit(8.0)).cast("int") - 1), i =>
          concat_ws(" ", slice(w, (i % 5) * lit(8) + 1, lit(8))))
      }.as("lines"))
    planted
      .select($"doc_id", $"lines",
        letBound(filter($"lines", (l, i) => array_position($"lines", l) === i + 1)) { ded =>
          struct(size(ded).cast("long").as("n_unique"),
                 md5(array_join(ded, "\n")).as("clean_md5"))
        }.as("d"))
      .select($"doc_id",
        size($"lines").cast("long").as("n_lines"),
        $"d.n_unique".as("n_unique"),
        (size($"lines").cast("long") - $"d.n_unique").as("n_removed"),
        $"d.clean_md5".as("clean_md5"))
      .orderBy($"doc_id")
  }

  val intradocDedupSql: String =
    """WITH w0 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') w FROM documents),
      |p AS (SELECT doc_id, [array_to_string(w[(i%5)*8+1:(i%5)*8+8], ' ')
      |    for i in range(0, CAST(ceil(len(w)/8.0) AS INT))] lines FROM w0),
      |d AS (SELECT doc_id, lines,
      |    list_filter(lines, (l, i) -> list_position(lines, l) = i) ded FROM p)
      |SELECT doc_id, CAST(len(lines) AS BIGINT) n_lines,
      |  CAST(len(ded) AS BIGINT) n_unique,
      |  CAST(len(lines) - len(ded) AS BIGINT) n_removed,
      |  md5(COALESCE(array_to_string(ded, chr(10)), '')) clean_md5
      |FROM d ORDER BY doc_id""".stripMargin

  /** qd20: content-defined chunking profile —
    * [[graft.operators.ContentChunks.chunkProfile]] over every doc:
    * rolling-hash boundaries make chunk hashes survive insertions
    * (shift-robust dedup, the qd14 fixed-grid complement). Pure
    * integer window hash ⇒ cell-exact oracle; `total_chars` must
    * reconcile with the text length (chunking is a partition). */
  def cdcProfile(t: Tables): DataFrame = {
    import t.spark.implicits._
    graft.operators.ContentChunks.chunkProfile(t.documents)
      .orderBy($"doc_id")
  }

  val cdcProfileSql: String = {
    // H(i) = sum_k cs[i-k] * 31^k  (k = 0..7), boundary at H % 1000003 % 64 == 63
    val hash = (0 until 8).map(k =>
      s"cs[i-$k]*${Iterator.iterate(1L)(_ * 31L).drop(k).next()}").mkString(" + ")
    s"""WITH c AS (SELECT doc_id, text, len(text) n,
       |    list_transform(range(1, len(text)+1), i -> CAST(ord(text[i]) AS BIGINT)) cs
       |  FROM documents),
       |b AS (SELECT doc_id, n,
       |    list_filter(range(8, n+1), i -> ($hash) % 1000003 % 64 = 63) bs
       |  FROM c),
       |ch AS (SELECT doc_id, n,
       |    list_prepend(1, list_transform(bs, x -> x + 1)) ss,
       |    list_append(bs, n) es
       |  FROM b),
       |lens AS (SELECT doc_id,
       |    list_filter(list_transform(range(1, len(ss)+1), j -> es[j] - ss[j] + 1),
       |                l -> l >= 1) ls
       |  FROM ch)
       |SELECT doc_id, CAST(len(ls) AS BIGINT) n_chunks,
       |  CAST(list_max(ls) AS BIGINT) max_chunk_len,
       |  CAST(list_sum(ls) AS BIGINT) total_chars,
       |  round(CAST(list_sum(ls) AS DOUBLE) / len(ls), 6) mean_chunk_len
       |FROM lens ORDER BY doc_id""".stripMargin
  }

  /** qe08: event-time disorder census under a planted md5 arrival
    * permutation (events arrive event-id-ordered in the fixture, so
    * the permutation is the qp05 planted-shuffle discipline) —
    * [[graft.streaming.EventStreams.disorderCensus]]: per-event
    * lateness behind the running high watermark, histogrammed. THE
    * measurement a `withWatermark` duration is read from: a 10-minute
    * watermark drops exactly the ≥10m mass. The Spark side computes
    * the exclusive prefix max via the bucketed qz02 factoring (no
    * data-scale unpartitioned window); the oracle runs the naive
    * global window — equality IS the factoring's proof. */
  def disorderCensus(t: Tables): DataFrame = {
    import t.spark.implicits._
    val e = t.events.select(
      unix_millis($"ts").as("ts_ms"),
      md5($"event_id".cast("string")).as("arr"),
      $"event_id")
      .withColumn("bkt", substring($"arr", 1, 2))
    graft.streaming.EventStreams.disorderCensus(e, "ts_ms", "bkt", "arr", "event_id")
  }

  val disorderCensusSql: String =
    """WITH e AS (SELECT event_id, CAST(epoch_ms(ts) AS BIGINT) ts_ms,
      |    md5(CAST(event_id AS VARCHAR)) arr FROM events),
      |w AS (SELECT ts_ms, max(ts_ms) OVER (ORDER BY arr, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) wm FROM e),
      |l AS (SELECT CASE WHEN wm IS NULL OR wm <= ts_ms THEN 0 ELSE wm - ts_ms END lateness FROM w),
      |b AS (SELECT lateness,
      |    CASE WHEN lateness = 0 THEN 0 WHEN lateness < 60000 THEN 1
      |         WHEN lateness < 3600000 THEN 2 WHEN lateness < 86400000 THEN 3
      |         ELSE 4 END bucket_rank,
      |    CASE WHEN lateness = 0 THEN 'on_time' WHEN lateness < 60000 THEN 'lt_1m'
      |         WHEN lateness < 3600000 THEN 'lt_1h' WHEN lateness < 86400000 THEN 'lt_1d'
      |         ELSE 'ge_1d' END bucket
      |  FROM l)
      |SELECT CAST(bucket_rank AS INT) bucket_rank, bucket,
      |  CAST(COUNT(*) AS BIGINT) n_events, CAST(MAX(lateness) AS BIGINT) max_lateness_ms
      |FROM b GROUP BY 1, 2 ORDER BY bucket_rank""".stripMargin

  /** qe11: watermark-policy simulation — qe08's lateness distribution
    * read against CANDIDATE `withWatermark` durations: for each
    * candidate, exactly how many events it would drop and the longest
    * lateness it retains — the qz04 move (audit → decision table)
    * applied to the streaming knob. One lateness frame (the qe08
    * factoring), one bounded explode over 4 candidates, one
    * aggregation. */
  def watermarkPolicy(t: Tables): DataFrame = {
    import t.spark.implicits._
    val e = t.events.select(
      unix_millis($"ts").as("ts_ms"),
      md5($"event_id".cast("string")).as("arr"),
      $"event_id")
      .withColumn("bkt", substring($"arr", 1, 2))
    val late = graft.streaming.EventStreams
      .latenessFrame(e, "ts_ms", "bkt", "arr", "event_id")
    val candidates = Seq(("1m", 60000L), ("5m", 300000L),
      ("15m", 900000L), ("1h", 3600000L))
    late.select($"lateness_ms",
        explode(array(candidates.map { case (l, ms) =>
          struct(lit(l).as("wm"), lit(ms).as("wm_ms")) }: _*)).as("c"))
      .groupBy($"c.wm".as("wm"), $"c.wm_ms".as("wm_ms"))
      .agg(count(lit(1)).as("n_events"),
        sum(($"lateness_ms" > $"c.wm_ms").cast("long")).as("n_dropped"),
        max(when($"lateness_ms" <= $"c.wm_ms", $"lateness_ms")
          .otherwise(lit(0L))).as("max_kept_lateness_ms"))
      .select($"wm", $"wm_ms", $"n_events", $"n_dropped",
        round($"n_dropped".cast("double") / $"n_events".cast("double"), 6)
          .as("drop_frac"),
        $"max_kept_lateness_ms")
      .orderBy($"wm_ms")
  }

  val watermarkPolicySql: String =
    """WITH e AS (SELECT event_id, CAST(epoch_ms(ts) AS BIGINT) ts_ms,
      |    md5(CAST(event_id AS VARCHAR)) arr FROM events),
      |w AS (SELECT ts_ms, max(ts_ms) OVER (ORDER BY arr, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) wm FROM e),
      |l AS (SELECT CASE WHEN wm IS NULL OR wm <= ts_ms THEN 0 ELSE wm - ts_ms END lateness FROM w),
      |cand(wm, wm_ms) AS (VALUES ('1m', 60000), ('5m', 300000), ('15m', 900000), ('1h', 3600000)),
      |x AS (SELECT cand.wm, CAST(cand.wm_ms AS BIGINT) wm_ms, l.lateness
      |  FROM l CROSS JOIN cand)
      |SELECT wm, wm_ms, CAST(COUNT(*) AS BIGINT) n_events,
      |  CAST(SUM(CASE WHEN lateness > wm_ms THEN 1 ELSE 0 END) AS BIGINT) n_dropped,
      |  round(CAST(SUM(CASE WHEN lateness > wm_ms THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) drop_frac,
      |  CAST(MAX(CASE WHEN lateness <= wm_ms THEN lateness ELSE 0 END) AS BIGINT) max_kept_lateness_ms
      |FROM x GROUP BY 1, 2 ORDER BY wm_ms""".stripMargin

  /** qe10: session-gap policy — the qe11 move (audit → decision table)
    * applied to qe01's OTHER streaming knob, the sessionization gap:
    * per-user inter-event gaps (one per-user lag window, never a
    * global sort) read against candidate gap durations — for each
    * candidate, how many sessions the corpus would split into
    * (#users + #gaps exceeding the candidate), the break fraction,
    * and mean events per session. The table a pipeline reads BEFORE
    * committing qe01's gapMs. Scale shape: per-user window (shuffles
    * by user_id, the same partitioning qe01 itself needs) + a bounded
    * 4-candidate explode + one aggregation; the user/event totals are
    * a 1-row broadcast. */
  def sessionGapPolicy(t: Tables): DataFrame = {
    import t.spark.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts_ms", $"event_id")
    val gaps = t.events
      .select($"user_id", unix_millis($"ts").as("ts_ms"), $"event_id")
      .withColumn("gap_ms", $"ts_ms" - lag($"ts_ms", 1).over(w))
      .filter($"gap_ms".isNotNull)
    val totals = t.events.agg(
      countDistinct($"user_id").as("n_users"),
      count(lit(1)).as("n_events"))
    val candidates = Seq(("1m", 60000L), ("5m", 300000L),
      ("30m", 1800000L), ("2h", 7200000L))
    gaps.select($"gap_ms",
        explode(array(candidates.map { case (l, ms) =>
          struct(lit(l).as("gap"), lit(ms).as("gap_limit_ms")) }: _*)).as("c"))
      .groupBy($"c.gap".as("gap"), $"c.gap_limit_ms".as("gap_limit_ms"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(($"gap_ms" > $"c.gap_limit_ms").cast("long")).as("n_breaks"))
      .crossJoin(broadcast(totals))
      .select($"gap", $"gap_limit_ms",
        ($"n_breaks" + $"n_users").as("n_sessions"),
        round($"n_breaks".cast("double") / $"n_gaps".cast("double"), 6)
          .as("break_frac"),
        round($"n_events".cast("double") / ($"n_breaks" + $"n_users").cast("double"), 6)
          .as("events_per_session"))
      .orderBy($"gap_limit_ms")
  }

  val sessionGapPolicySql: String =
    """WITH e AS (SELECT user_id, event_id, CAST(epoch_ms(ts) AS BIGINT) ts_ms FROM events),
      |g AS (SELECT ts_ms - lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) gap_ms
      |  FROM e),
      |gn AS (SELECT gap_ms FROM g WHERE gap_ms IS NOT NULL),
      |tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) n_users,
      |               CAST(COUNT(*) AS BIGINT) n_events FROM events),
      |cand(gap, gap_limit_ms) AS (VALUES ('1m', 60000), ('5m', 300000), ('30m', 1800000), ('2h', 7200000)),
      |x AS (SELECT cand.gap, CAST(cand.gap_limit_ms AS BIGINT) gap_limit_ms, gn.gap_ms
      |  FROM gn CROSS JOIN cand),
      |agg AS (SELECT gap, gap_limit_ms, CAST(COUNT(*) AS BIGINT) n_gaps,
      |    CAST(SUM(CASE WHEN gap_ms > gap_limit_ms THEN 1 ELSE 0 END) AS BIGINT) n_breaks
      |  FROM x GROUP BY 1, 2)
      |SELECT gap, gap_limit_ms, n_breaks + tot.n_users AS n_sessions,
      |  round(CAST(n_breaks AS DOUBLE) / CAST(n_gaps AS DOUBLE), 6) break_frac,
      |  round(CAST(tot.n_events AS DOUBLE) / CAST(n_breaks + tot.n_users AS DOUBLE), 6) events_per_session
      |FROM agg CROSS JOIN tot ORDER BY gap_limit_ms""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "qe10_session_gap_policy" -> ((s: SparkSession, d: String) => sessionGapPolicy(Tables(s, d))),
    "qe11_watermark_policy" -> ((s: SparkSession, d: String) => watermarkPolicy(Tables(s, d))),
    "qe08_disorder_census" -> ((s: SparkSession, d: String) => disorderCensus(Tables(s, d))),
    "qd20_cdc_chunks"      -> ((s: SparkSession, d: String) => cdcProfile(Tables(s, d))),
    "qe07_sliding_distinct" -> ((s: SparkSession, d: String) => slidingDistinct(Tables(s, d))),
    "qd15_intradoc_dedup"  -> ((s: SparkSession, d: String) => intradocDedup(Tables(s, d))),
    "qd16_cluster_canonical" -> ((s: SparkSession, d: String) => clusterCanonical(Tables(s, d))),
    "qt22_langid_eval"     -> ((s: SparkSession, d: String) => langIdEval(Tables(s, d))),
    "qp12_cluster_holdout" -> ((s: SparkSession, d: String) => clusterHoldout(Tables(s, d))),
    "qd17_jaccard_sweep"   -> ((s: SparkSession, d: String) => jaccardSweep(Tables(s, d))),
    "qd22_signature_sweep" -> ((s: SparkSession, d: String) => signatureSweep(Tables(s, d))),
    "qe06_transition_matrix" -> ((s: SparkSession, d: String) => transitionMatrix(Tables(s, d))),
    "qs10_hard_negatives"  -> ((s: SparkSession, d: String) => hardNegativesTopK(Tables(s, d))),
    "qt21_token_entropy"   -> ((s: SparkSession, d: String) => tokenEntropy(Tables(s, d))),
    "qd13_semantic_dedup"  -> ((s: SparkSession, d: String) => semanticDedup(Tables(s, d))),
    "qe03_retention"       -> ((s: SparkSession, d: String) => retentionCohorts(Tables(s, d))),
    "qe04_user_anomaly"    -> ((s: SparkSession, d: String) => userAnomalies(Tables(s, d))),
    "qt18_lexical_diversity" -> ((s: SparkSession, d: String) => lexicalDiversity(Tables(s, d))),
    "qt19_zipf_fit"        -> ((s: SparkSession, d: String) => zipfFit(Tables(s, d))),
    "qt35_heaps_fit"       -> ((s: SparkSession, d: String) => heapsFit(Tables(s, d))),
    "qt20_vocab_coverage"  -> ((s: SparkSession, d: String) => vocabCoverage(Tables(s, d))),
    "qd14_chunk_dedup"     -> ((s: SparkSession, d: String) => chunkDedup(Tables(s, d))),
    "qg04_coactivity_comps" -> ((s: SparkSession, d: String) => coActivityComponents(Tables(s, d))),
    "qe05_conversion_funnel" -> ((s: SparkSession, d: String) => conversionFunnel(Tables(s, d))),
    "qe12_funnel_steps"      -> ((s: SparkSession, d: String) => funnelSteps(Tables(s, d))),
    "qe13_gapfill_ma"        -> ((s: SparkSession, d: String) => gapfillMa(Tables(s, d))),
    "qe14_ab_ztest"          -> ((s: SparkSession, d: String) => abZTest(Tables(s, d))),
    "qe16_cuped"             -> ((s: SparkSession, d: String) => cupedReadout(Tables(s, d))),
    "qe09_abandoned_views"   -> ((s: SparkSession, d: String) => abandonedViews(Tables(s, d))),
    "qt16_pmi_bigrams"     -> ((s: SparkSession, d: String) => pmiBigrams(Tables(s, d))),
    "qm01_media_meta"      -> ((s: SparkSession, d: String) => mediaMeta(Tables(s, d))),
    "qm02_image_phash"     -> ((s: SparkSession, d: String) => imagePhash(Tables(s, d))),
    "qm03_image_neardup"   -> ((s: SparkSession, d: String) => imageNearDup(Tables(s, d))),
    "qm04_audio_fingerprint" -> ((s: SparkSession, d: String) => audioFingerprint(Tables(s, d))),
    "qm05_frame_census"    -> ((s: SparkSession, d: String) => videoFrameCensus(Tables(s, d))),
    "qm06_crossmodal_agreement" -> ((s: SparkSession, d: String) => crossModalAgreement(Tables(s, d))),
    "qm07_image_dedup_incr" -> ((s: SparkSession, d: String) => imageDedupIncremental(Tables(s, d))),
    "qm08_image_neardup_mih" -> ((s: SparkSession, d: String) => imageNearDupMih(Tables(s, d))),
    "qm09_image_dedup_incr_mih" -> ((s: SparkSession, d: String) => imageDedupIncrementalMih(Tables(s, d))),
    "qm10_audio_neardup_wide" -> ((s: SparkSession, d: String) => audioNearDupWide(Tables(s, d))),
    "qm11_video_neardup_vote" -> ((s: SparkSession, d: String) => videoNearDupVote(Tables(s, d))),
    "qm12_video_dedup_incr_vote" -> ((s: SparkSession, d: String) => videoDedupIncrementalVote(Tables(s, d))),
    "qm13_band_regime_advice" -> ((s: SparkSession, d: String) => bandRegimeAdviceQ(Tables(s, d))),
    "qx02_multimodal_corpus_build" -> ((s: SparkSession, d: String) => multimodalCorpusBuild(Tables(s, d))),
    "qe01_sessionize"      -> ((s: SparkSession, d: String) => sessionized(Tables(s, d))),
    "qe02_interval_join"   -> ((s: SparkSession, d: String) => viewPurchaseFunnel(Tables(s, d))),
    "qt01_token_stats"     -> ((s: SparkSession, d: String) => tokenStats(Tables(s, d))),
    "qt02_lang_id"         -> ((s: SparkSession, d: String) => langId(Tables(s, d))),
    "qt03_quality_score"   -> ((s: SparkSession, d: String) => quality(Tables(s, d))),
    "qt04_fingerprint"     -> ((s: SparkSession, d: String) => fingerprints(Tables(s, d))),
    "qt05_simhash"         -> ((s: SparkSession, d: String) => simhashes(Tables(s, d))),
    "qd01_exact_dedup"     -> ((s: SparkSession, d: String) => exactDedup(Tables(s, d))),
    "qd02_jaccard_block"   -> ((s: SparkSession, d: String) => jaccardBlocked(Tables(s, d))),
    "qd21_containment"     -> ((s: SparkSession, d: String) => containmentDedup(Tables(s, d))),
    "qd03_minhash_neardup" -> ((s: SparkSession, d: String) => minhashNearDups(Tables(s, d))),
    "qd04_embed_neardup"   -> ((s: SparkSession, d: String) => embedNearDups(Tables(s, d))),
    "qd05_simhash_neardup" -> ((s: SparkSession, d: String) => simhashNearDups(Tables(s, d))),
    "qd06_dedup_clusters"  -> ((s: SparkSession, d: String) => dedupClusters(Tables(s, d))),
    "qd18_cluster_census"  -> ((s: SparkSession, d: String) => clusterCensus(Tables(s, d))),
    "qd19_band_census"     -> ((s: SparkSession, d: String) => bandCensus(Tables(s, d))),
    "qs12_kmeans"          -> ((s: SparkSession, d: String) => kmeansCensus(Tables(s, d))),
    "qd08_clusters_alternating" -> ((s: SparkSession, d: String) => dedupClustersAlternating(Tables(s, d))),
    "qd07_simhash64"       -> ((s: SparkSession, d: String) => simhash64NearDups(Tables(s, d))),
    "qd10_editdist_neardup" -> ((s: SparkSession, d: String) => editDistanceNearDups(Tables(s, d))),
    "qd11_keeper_policy"   -> ((s: SparkSession, d: String) => keeperPolicy(Tables(s, d))),
    "qs01_cosine_topk"     -> ((s: SparkSession, d: String) => cosineTopK(Tables(s, d))),
    "qs14_filtered_ann"    -> ((s: SparkSession, d: String) => filteredAnn(Tables(s, d))),
    "qs15_ann_recall"      -> ((s: SparkSession, d: String) => annRecall(Tables(s, d))),
    "qs23_ivf_probe_sweep" -> ((s: SparkSession, d: String) => ivfProbeSweep(Tables(s, d))),
    "qs02_ann_lsh"         -> ((s: SparkSession, d: String) => annLsh(Tables(s, d))),
    "qs03_ann_ivf"         -> ((s: SparkSession, d: String) => annIvf(Tables(s, d))),
    "qs04_ann_lsh_multi"   -> ((s: SparkSession, d: String) => annLshMulti(Tables(s, d))),
    "qs05_label_centroids" -> ((s: SparkSession, d: String) => labelCentroids(Tables(s, d))),
    "qs16_pca_component"   -> ((s: SparkSession, d: String) => pcaComponent(Tables(s, d))),
    "qs17_pca_outliers"    -> ((s: SparkSession, d: String) => pcaOutliers(Tables(s, d))),
    "qs18_jl_recall"       -> ((s: SparkSession, d: String) => jlRecall(Tables(s, d))),
    "qs19_isotropic_topk"  -> ((s: SparkSession, d: String) => isotropicTopK(Tables(s, d))),
    "qs20_product_quant"   -> ((s: SparkSession, d: String) => productQuant(Tables(s, d))),
    "qs21_pca_variance"    -> ((s: SparkSession, d: String) => pcaVariance(Tables(s, d))),
    "qs22_pq_recall"       -> ((s: SparkSession, d: String) => pqRecall(Tables(s, d))),
    "qs24_ivfpq_serve"     -> ((s: SparkSession, d: String) => ivfPqServe(Tables(s, d))),
    "qs25_ivf_incremental" -> ((s: SparkSession, d: String) => ivfIncremental(Tables(s, d))),
    "qr07_pc1_drift"       -> ((s: SparkSession, d: String) => pc1Drift(Tables(s, d))),
  )

  def oracles: Map[String, String] = Map(
    "qe07_sliding_distinct" -> slidingDistinctSql,
    "qd15_intradoc_dedup"  -> intradocDedupSql,
    "qd16_cluster_canonical" -> clusterCanonicalSql,
    "qt22_langid_eval"     -> langIdEvalSql,
    "qp12_cluster_holdout" -> clusterHoldoutSql,
    "qd17_jaccard_sweep"   -> jaccardSweepSql,
    "qd22_signature_sweep" -> signatureSweepSql,
    "qe06_transition_matrix" -> transitionMatrixSql,
    "qs10_hard_negatives"  -> hardNegativesSql,
    "qt21_token_entropy"   -> tokenEntropySql,
    "qd13_semantic_dedup"  -> semanticDedupSql,
    "qe03_retention"       -> retentionCohortsSql,
    "qe04_user_anomaly"    -> userAnomaliesSql,
    "qt18_lexical_diversity" -> lexicalDiversitySql,
    "qt19_zipf_fit"        -> zipfFitSql,
    "qt35_heaps_fit"       -> heapsFitSql,
    "qt20_vocab_coverage"  -> vocabCoverageSql,
    "qd14_chunk_dedup"     -> chunkDedupSql,
    "qd20_cdc_chunks"      -> cdcProfileSql,
    "qe08_disorder_census" -> disorderCensusSql,
    "qe10_session_gap_policy" -> sessionGapPolicySql,
    "qe11_watermark_policy" -> watermarkPolicySql,
    "qg04_coactivity_comps" -> coActivityComponentsSql,
    "qe05_conversion_funnel" -> conversionFunnelSql,
    "qe12_funnel_steps"      -> funnelStepsSql,
    "qe13_gapfill_ma"        -> gapfillMaSql,
    "qe14_ab_ztest"          -> abZTestSql,
    "qe16_cuped"             -> cupedReadoutSql,
    "qe09_abandoned_views"   -> abandonedViewsSql,
    "qt16_pmi_bigrams"     -> pmiBigramsSql,
    "qm01_media_meta"      -> mediaMetaSql,
    "qm02_image_phash"     -> imagePhashSql,
    "qm03_image_neardup"   -> imageNearDupSql,
    "qm04_audio_fingerprint" -> audioFingerprintSql,
    "qm05_frame_census"    -> videoFrameCensusSql,
    "qm06_crossmodal_agreement" -> crossModalAgreementSql,
    "qm07_image_dedup_incr" -> imageDedupIncrementalSql,
    "qm08_image_neardup_mih" -> imageNearDupMihSql,
    "qm09_image_dedup_incr_mih" -> imageDedupIncrementalMihSql,
    "qm10_audio_neardup_wide" -> audioNearDupWideSql,
    "qm11_video_neardup_vote" -> videoNearDupVoteSql,
    "qm12_video_dedup_incr_vote" -> videoDedupIncrementalVoteSql,
    "qm13_band_regime_advice" -> bandRegimeAdviceSql,
    "qx02_multimodal_corpus_build" -> multimodalCorpusBuildSql,
    "qe01_sessionize"      -> sessionizedSql,
    "qe02_interval_join"   -> viewPurchaseFunnelSql,
    "qt01_token_stats"     -> tokenStatsSql,
    "qt02_lang_id"         -> langIdSql,
    "qt03_quality_score"   -> qualitySql,
    "qt04_fingerprint"     -> fingerprintsSql,
    "qt05_simhash"         -> simhashesSql,
    "qd01_exact_dedup"     -> exactDedupSql,
    "qd02_jaccard_block"   -> jaccardBlockedSql,
    "qd21_containment"     -> containmentDedupSql,
    "qd03_minhash_neardup" -> minhashNearDupsSql,
    "qd04_embed_neardup"   -> embedNearDupsSql,
    "qd05_simhash_neardup" -> simhashNearDupsSql,
    "qd06_dedup_clusters"  -> dedupClustersSql,
    "qd18_cluster_census"  -> clusterCensusSql,
    "qd19_band_census"     -> bandCensusSql,
    "qs12_kmeans"          -> kmeansCensusSql,
    "qd08_clusters_alternating" -> dedupClustersSql, // same oracle: algorithms must agree
    "qd07_simhash64"       -> simhash64NearDupsSql,
    "qd10_editdist_neardup" -> editDistanceNearDupsSql,
    "qd11_keeper_policy"   -> keeperPolicySql,
    "qs01_cosine_topk"     -> cosineTopKSql,
    "qs14_filtered_ann"    -> filteredAnnSql,
    "qs15_ann_recall"      -> annRecallSql,
    "qs23_ivf_probe_sweep" -> ivfProbeSweepSql,
    "qs24_ivfpq_serve"     -> ivfPqServeSql,
    "qs25_ivf_incremental" -> ivfIncrementalSql,
    "qs02_ann_lsh"         -> annLshSql,
    "qs03_ann_ivf"         -> annIvfSql,
    "qs04_ann_lsh_multi"   -> annLshMultiSql,
    "qs05_label_centroids" -> labelCentroidsSql,
    "qs16_pca_component"   -> pcaComponentSql,
    "qs17_pca_outliers"    -> pcaOutliersSql,
    "qs18_jl_recall"       -> jlRecallSql,
    "qs19_isotropic_topk"  -> isotropicTopKSql,
    "qs20_product_quant"   -> productQuantSql,
    "qs21_pca_variance"    -> pcaVarianceSql,
    "qs22_pq_recall"       -> pqRecallSql,
    "qr07_pc1_drift"       -> pc1DriftSql,
  )
}
