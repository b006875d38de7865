package graft.tools

import graft.{GraftSession, SparkEntry, Tables}
import graft.queries.{PipelineQueries, RelationalQueries}
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Formatted physical plans (`.explain("formatted")`).
  *
  * `runMain graft.tools.DumpPlans` regenerates PLANS.md: the plans of
  * the scale-critical queries with the properties each plan must keep
  * (also pinned by PlanAuditSpec).
  *
  * `runMain graft.tools.DumpPlans <prefix>[,<prefix>...] <outDir>`
  * writes `<outDir>/<name>.txt` for every declared query whose name
  * starts with one of the prefixes, over the tables in
  * `SPARK_GRAFT_SF_DIR` (the sf0.001 fixture when unset): the
  * before/after plan evidence for a change, beside the per-query
  * counters `graft.Bench` records. */
object DumpPlans {

  /** Plan-adjacent contract appended to PLANS.md — survives
    * regeneration because it lives here, not in the file. */
  private val floatParityRecipe: String =
    """
      |## Cross-engine float-parity recipe (round-11 sf0.1 sweep findings)
      |
      |Not a plan, but a plan-adjacent contract every oracle-gated query must
      |hold. The sf0.1 sweep (first full-suite run above the sf0.01 gate
      |scale) surfaced two divergence classes that are invisible until a
      |value lands on a boundary:
      |
      |1. **`round(x, d)` is NOT engine-portable on doubles.** Spark rounds
      |   the double's shortest decimal rendering (BigDecimal HALF_UP on
      |   `Double.toString`); DuckDB rounds the true binary value. They
      |   disagree exactly when the rendering is a tie (e.g. `0.5203125`).
      |   Portable form: tie-free binary quantization
      |   `floor(x * 10^d + 0.5) / 10^d` (`TextFunctions.quantize` /
      |   the same floor expression in SQL) — every step a single IEEE op
      |   on the true value. For sums, prefer scaled-integer aggregation
      |   (`SUM(CAST(floor(v * 10^d + 0.5) AS BIGINT))`): exact,
      |   partition-order-independent, no decimal-conversion semantics.
      |2. **DuckDB bare decimal literals are DECIMAL, not DOUBLE.**
      |   `1.0 - 0.85` evaluates in exact decimal (0.15), one ulp from the
      |   IEEE `0.15000000000000002` Spark computes. Any literal-on-literal
      |   arithmetic in an oracle must force a double operand
      |   (`1.0::DOUBLE - 0.85`). A single decimal literal beside a double
      |   column is safe — it coerces before the op.
      |
      |PlanAuditSpec addition: **J1 (delta→repo_file) shuffles on the
      |COMPOSITE (repo_id, filename) key** — the property that diffuses the
      |mega-repo skew the reference blocklists against
      |(databaseImport.py:712); losing the composite key in a refactor would
      |concentrate each mega repo on one task. Measured on the HFC-shaped
      |fixture (numbers in NOTES_r11).
      |""".stripMargin

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(appName = "dump-plans")
    val t = Tables(spark, "/root/testdata/sf0.001")
    args match {
      case Array() => writePlansMd(spark, t)
      case Array(prefixes, outDir) =>
        writeQueryPlans(spark, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", t.dir),
          prefixes.split(",").toSeq, outDir)
      case _ => throw new IllegalArgumentException(
        "usage: DumpPlans [<queryPrefix>[,<queryPrefix>...] <outDir>]")
    }
    spark.stop()
  }

  private def fmt(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  private def writeQueryPlans(spark: SparkSession, sfDir: String,
                              prefixes: Seq[String], outDir: String): Unit = {
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => prefixes.exists(n.startsWith) }
    require(named.nonEmpty, s"no declared query matches ${prefixes.mkString(",")}")
    Files.createDirectories(Paths.get(outDir))
    named.foreach { case (name, fn) =>
      Files.writeString(Paths.get(outDir, s"$name.txt"), fmt(fn(spark, sfDir)))
    }
    println(s"[plans] wrote ${named.size} plans to $outDir")
  }

  private def writePlansMd(spark: SparkSession, t: Tables): Unit = {
    val sections = Seq(
      ("q06_revenue_filter — selective scan",
       "Predicates reach the parquet reader (PushedFilters) and only the 4 referenced columns are read (ReadSchema). At 100 TB this is the difference between scanning terabytes and scanning the row groups that matter.",
       fmt(RelationalQueries.revenueFilter(t))),
      ("q04_region_revenue — star join",
       "Fact-fact joins shuffle on their keys; both dimension joins are BroadcastHashJoin (no shuffle of the fact side for them). Aggregation runs partial (map-side) then final after one exchange.",
       fmt(RelationalQueries.regionRevenue(t))),
      ("q02_top_customers — top-k",
       "TakeOrderedAndProject: per-partition top-10 then a single merge — never a global sort of the aggregate output.",
       fmt(RelationalQueries.topCustomers(t))),
      ("qd03_minhash_neardup — LSH dedup funnel",
       "The persisted signature table (InMemoryTableScan) feeds both the band self-join and the Jaccard verification, so text is scanned and signatures (native graft_minhash_signature) computed exactly once. Candidate generation shuffles only on (band_idx, band_hash).",
       fmt(graft.operators.Dedup.nearDupsMinhash(t.documents, 0.3))),
      ("qs01_cosine_topk — ANN baseline",
       "The query vectors broadcast; the corpus streams through one codegen'd projection (graft_dot_product) + window top-k. The corpus side never shuffles for the join.",
       fmt(PipelineQueries.cosineTopK(t))),
      ("IVF probe against a built index — partition-pruned scan",
       "IvfIndex.build persists the corpus partitioned BY CELL; the probe's corpus scan carries the probed cells as PartitionFilters (cell IN (...)), so a query reads nProbe/nCells of the data — the property that makes IVF an index rather than a scan at 100 TB. Pinned by IvfIndexSpec.",
       {
         val dir = Files.createTempDirectory("graft-ivf-plan").toString
         graft.operators.IvfIndex.build(t.embeddings, dir, nCells = 8)
         val plan = fmt(graft.operators.IvfIndex.topKFromStorage(
           spark, dir, Seq(0L), k = 5, nProbe = 2))
         org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
         plan
       }),
      ("qg01_commit_ancestors — bounded DAG recursion",
       "k-hop ancestors = k iterated self-joins on the edge table (each a key shuffle) + one dedup aggregate. Bounded depth keeps the plan static — no driver-side loop over collected rows; DuckDB's recursive CTE is the cross-engine oracle.",
       fmt(graft.queries.ExtendedQueries.commitAncestors(t))),
      ("qa01_asof_join — union-scan as-of join",
       "No Join node anywhere: both sides union into ONE hash exchange on the key, then a running last-non-null window picks each probe's latest at-or-before reference row. Cost = a sort-merge join's shuffle with zero row amplification — the exploding range-join formulation never appears. Pinned by AsOfJoinSpec (exactly 1 Exchange, no Join).",
       fmt(graft.queries.CurationQueries.asofViewBeforePurchase(t))),
      ("qp01_stratified_sample — scan-level deterministic sampling",
       "Sampling is a pure filter projection (md5-derived hash coordinate vs per-stratum rate) fused into the parquet scan stage: no shuffle, no state. Sampling 100 TB costs one pass.",
       fmt(graft.queries.CurationQueries.stratifiedSample(t))),
      ("qc02_decontaminate — broadcast n-gram leakage guard",
       "The benchmark's distinct n-gram hashes broadcast; the corpus side is one native shingle projection + explode feeding a BroadcastHashJoin — the corpus text is scanned once and never shuffled. Decontaminating 100 TB costs one pass.",
       fmt(graft.queries.CurationQueries.decontaminate(t))),
      ("qc03_chunking — zero-shuffle segmentation",
       "Chunking is a projection + posexplode + slice: each doc expands independently, so segmentation parallelizes perfectly at any scale. The single Exchange in this plan is the oracle harness's ORDER BY (rangepartitioning) — the operator itself (everything below node 5) is shuffle-free.",
       fmt(graft.queries.CurationQueries.chunking(t))),
      ("qc04_packing — sharded sequence packing",
       "One hash exchange on the md5 shard key, one running-sum window within shards, one partial+final aggregate. Greedy packing is sequential by nature; sharding is what makes it parallel — and the md5 shard key makes the layout engine-reproducible.",
       fmt(graft.queries.CurationQueries.packing(t))),
      ("qd06_dedup_clusters — iterative connected components",
       "Each min-label round is a key join + min aggregate over localCheckpoint'd inputs (lineage truncated: round N's plan does not contain rounds 1..N-1 — without this, Catalyst re-analysis cost compounds exponentially). Rounds = cluster diameter (~3 for near-dup graphs).",
       fmt(graft.operators.ConnectedComponents.dedupDecisions(
         t.documents,
         graft.operators.Dedup.nearDupsMinhash(t.documents, 0.3)
           .select(org.apache.spark.sql.functions.col("a_id"),
                   org.apache.spark.sql.functions.col("b_id"))))),
      ("qd05_simhash_neardup — banded simhash funnel",
       "Same funnel discipline as MinHash: the shingle-simhash is one native-expression projection (persisted once, read by banding and both verify sides), candidates shuffle on the (band_idx, band) key, exact hamming runs only on candidates. Shown here at the production default width (64-bit fingerprint, 16-bit bands → 32-bit combination keys); 16-bit is the oracle demo size.",
       fmt(graft.operators.Dedup.nearDupsSimhash(t.documents))),
      ("qa02_asof_salted — skew-safe as-of join",
       "The hot-key variant: the running-last window partitions by (key, time-range salt) so no task ever sorts a whole key (NOTES_r4: max window partition 22M -> 769k rows at 32 salts). The boundary carry-in is the tiny per-(key, salt) frame on the BuildRight side of a BroadcastHashJoin — the probe side reuses its (key, salt) partitioning and is never reshuffled. Equi joins only; results bit-identical to qa01 (shared oracle).",
       fmt(graft.queries.CurationQueries.asofViewBeforePurchaseSalted(t))),
      ("qr01_data_card — single-pass rollup",
       "All (source, lang) granularities + subtotals + the grand total from ONE scan: Expand replicates each row per grouping set BETWEEN the partial and final aggregates, so the corpus is read once and map-side combine still applies. No unioned groupBys, no second scan.",
       fmt(graft.queries.CurationQueries.dataCard(t))),
      ("qc07_fuzzy_decontam — asymmetric MinHash funnel",
       "Both funnel stages broadcast the benchmark side: band collision candidates and Jaccard verification are each a BroadcastHashJoin against bench-derived frames, so the corpus is banded and verified WITHOUT ever self-joining — the only corpus shuffles are the candidate distinct and the per-doc max. Decontaminating 100 TB against a fixed eval suite stays one corpus pass plus small aggregations.",
       fmt(graft.queries.QualityQueries.fuzzyDecontaminate(t))),
      ("qd09_substring_dedup — linear duplication census",
       "No pair materialization anywhere: window hashes explode from a native shingle projection, ONE hash shuffle builds the per-window owner census (count + min owner, partial+final), one join attributes windows back to docs, one aggregate summarizes per doc. Linear in corpus size — the property that lets exact-substring dedup run on full web-scale corpora where pairwise funnels cannot.",
       fmt(graft.queries.QualityQueries.substringDedup(t))),
      ("qt12_lm_score — n-gram LM scoring",
       "The fitted model is DATA (bigram + unigram count tables), not driver state: scoring is two equi joins on the n-gram string — shuffle joins by default because a web-scale reference model is itself huge (broadcastModel is the knob for small ones) — followed by a per-doc decimal-exact aggregation. Nothing is collected.",
       fmt(graft.queries.QualityQueries.lmScore(t))),
      ("qz02_global_ordinal — global rank without the global window",
       "ROW_NUMBER-over-everything semantics with no single-partition window: deterministic value-range buckets from a broadcast min/max, per-bucket counts rolled into offsets over a numBuckets-row frame (constant partition — driver-scale), then offset + row_number within each bounded bucket. The naive formulation funnels the entire table through one task; this one never creates a window partition larger than ~1/numBuckets of the data.",
       fmt(graft.queries.LayoutQueries.globalOrdinal(t))),
      ("qs06_bm25_topk — inverted-index lexical search",
       "The corpus contributes exactly two hash aggregations (postings with doc length riding along, then document frequencies); the query workload picks up per-term idf on the tiny side and is BROADCAST into the postings scan, so scoring is a broadcast hash join on the corpus side — the corpus is never shuffled by the query set. Ranking windows partition on query_id (workload-sized, never corpus-sized).",
       fmt(graft.queries.RetrievalQueries.bm25TopK(t))),
      ("qd12_substring_scrub — linear substring removal",
       "The scrub keeps qd09's linear pair-free shape: positional shingle projection, one window-hash shuffle where the owner table is filtered to duplicated hashes BEFORE the join back, per-doc position aggregation, and an id-keyed rebuild join. No candidate-pair columns anywhere in the plan.",
       fmt(graft.queries.QualityQueries.substringScrub(t))),
      ("qg02/qg03 — degree-oriented triangles, decimal-exact PageRank",
       "Triangle census: every join is a hash equi join (edge canonicalization, degree attach, apex wedge join, closing-edge semi join); the only nested-loop joins are the two 1-row scalar combines at the top. PageRank: each round is one equi join + one hash aggregation whose per-edge contributions are DECIMAL — exact, aggregation-order-independent, which is what lets an iterative float computation match DuckDB cell-exact.",
       fmt(graft.queries.ExtendedQueries.triangleCensus(t))),
      ("qp09_dsir_weights — broadcast model scoring",
       "Both DSIR models ARE one dim-row bucket-count table each; the per-bucket log-ratio term is precomputed on that table and broadcast, so corpus scoring is scan → explode → BroadcastHashJoin → per-doc aggregation. The corpus never shuffles except by doc id for the final aggregation.",
       fmt(graft.queries.QualityQueries.dsirWeights(t))),
      ("qd13_semantic_dedup — cluster-then-prune SemDeDup",
       "Centroids broadcast (nCells rows); assignment is a corpus pass + id-keyed argmin aggregation; pairing shuffles on the learned cell key and is quadratic only within a cell. The same funnel discipline as every other dedup path: blocking key first, pairs only inside blocks.",
       fmt(graft.queries.PipelineQueries.semanticDedup(t))),
      ("qc10_semantic_decontam — broadcast embedding contamination guard",
       "The benchmark embeddings (tiny by definition) broadcast with precomputed norms; the corpus streams once through the scoring pass and a per-doc max-struct aggregation. No corpus self-join, no shuffle of the embedding tier.",
       fmt(graft.queries.QualityQueries.semanticDecontaminate(t))),
      ("qs09_mmr_diverse — iterative greedy re-ranking, pool-bounded",
       "MMR's pairwise similarities exist only WITHIN each query's candidate pool (pool² per query, never corpus²), and every greedy round is pool-sized equi joins + one per-query window, checkpointed per round like the other iterative operators. The plan shows the final round's shape; the corpus appears only in the initial top-k pool build.",
       fmt(graft.queries.RetrievalQueries.mmrDiverse(t))),
      ("qt20_vocab_coverage — running sum without the vocabulary window",
       "The ranked running sum partitions by the log2-frequency bucket (monotone in frequency, so bucket order extends the global order); only the ~64-row bucket-offset frame uses a constant partition. A naive cumulative SUM OVER () would funnel the entire vocabulary through one task.",
       fmt(graft.queries.PipelineQueries.vocabCoverage(t))),
      ("qe07_sliding_distinct — exact sliding distinct without a range self-join",
       "Raw events collapse to the distinct (day,user) frame FIRST (one hash shuffle kills per-day volume); the trailing windows come from a bounded 7x explode of that collapsed frame, the observed-day filter is a BroadcastHashJoin on the tiny day dimension. A range self-join of raw events — the naive shape — would be a nested-loop over the full event table.",
       fmt(PipelineQueries.slidingDistinct(t))),
      ("qd15_intradoc_dedup — per-doc projection dedup",
       "Keep-first repeated-line removal is pure scan projection: the only Exchange in the plan is the presentation orderBy. Corpus scale never enters the dedup itself — the O(L^2) indexed-filter cost is bounded by per-doc line count.",
       fmt(PipelineQueries.intradocDedup(t))),
      ("qr02_drift_report — one materialized terms frame",
       "The corpus is scanned exactly twice upstream (min/max + per-type counts, scalar frames broadcast during that pass); the |types|-row terms frame is checkpointed, so BOTH union branches (per-type rows, TOTAL sums) read the materialized RDD instead of re-running the corpus aggregation per branch.",
       fmt(graft.queries.CurationQueries.driftReport(t))),
      ("qa05_asof_tolerant — staleness as a scan-local projection",
       "Identical one-exchange union-scan shape as qa01 (window running-last, no join node); the tolerance test reads the match's own carried epoch-ms in the final projection — the staleness contract adds ZERO shuffles.",
       fmt(graft.queries.CurationQueries.asofViewBeforePurchaseTolerant(t))),
      ("qt23_line_boilerplate — corpus-global line census, no pair join",
       "The doc-frequency census partial-aggregates (map-side count-distinct) before its single line-hash shuffle; the join back to lines is an equi join on the md5 key; reassembly is one per-doc aggregation. Linear in corpus lines end-to-end — the same no-pair-join discipline as the substring census, which is what makes corpus-global boilerplate removal affordable at 100 TB.",
       fmt(graft.queries.QualityQueries.lineBoilerplate(t))),
      ("qd19_band_census — join-free funnel pricing",
       "One signature projection (Catalyst prunes the unused shingle-hash column), one partial-aggregated (band, hash) count, one constant-size histogram — not a single Join node anywhere. This is what lets the census price the pair join's shuffle (implied_pairs) WITHOUT running it.",
       fmt(graft.operators.Dedup.bandCensus(t.documents))),
      ("qt24_url_blocklist — broadcast suffix gate, corpus unshuffled",
       "The host's bounded suffix chain explodes (≤ ~9 rows per doc), semi-joins the BROADCAST blocklist, and rejoins the corpus on the id; path rules are scan-local predicates. The corpus side never hash-exchanges for the lookup — the only non-broadcast exchange is the presentation orderBy.",
       fmt(graft.queries.QualityQueries.urlBlocklist(t))),
      ("qs12_kmeans — broadcast-centroid rounds, exact-decimal means",
       "Every Lloyd round: centroids (tiny, lineage-truncated) broadcast into the corpus scan for the argmin assignment; the update is a (cell, dim) explode into a partial-aggregated decimal mean. The corpus is never shuffle-joined — the only wide exchanges are the per-id argmin agg and the (cell,dim) mean agg.",
       fmt(graft.operators.KMeans.census(t.embeddings, k = 4, iters = 1))),
      ("qg06_label_prop — plurality argmax as a combining aggregate",
       "Each LPA round is one equi join of the (localCheckpoint-materialized) directed edge list against the label vector plus TWO hash aggregates: (node,label) plurality counts, then per-node argmax via min(struct(-c,label)) — both with partial_ map-side combine. No Window node anywhere: a row_number-over-node formulation would sort whole partitions for the same answer.",
       fmt(graft.queries.ExtendedQueries.labelPropagation(t))),
      ("qt28_heavy_hitters — Misra-Gries screen, candidates-only verify",
       "The candidate scan is the mapPartitions MG summary (bounded memory, no exchange); the verify pass semi-joins the BROADCAST candidate set into the token scan and counts with partial_ combine, so the only wide exchange carries candidate tokens — never the vocabulary. The full-vocab groupBy this replaces would shuffle one row per distinct token.",
       fmt(graft.queries.QualityQueries.heavyHitters(t))),
      ("qr05_expectations — N checks, one corpus pass",
       "Every single-table check contributes aggregate expressions to ONE partial+final hash aggregation; the report branches select from the checkpointed 1-row frame (LocalTableScan), never rescanning the table. The FK orphan count is the one join-shaped member: a broadcast LEFT ANTI against the distinct reference keys.",
       fmt(graft.queries.QualityQueries.expectations(t))),
      ("ql01_record_linkage — block-bounded pairs, scan-local weights",
       "Candidate pairs exist only inside the two tight blocking joins (nation+balance-bucket, nation+name-digit-core — the 1..8 prefix is the constant TPC-H literal and would degenerate to a nation-only block, measured 9.0M vs 20k pairs at sf0.1), unioned and deduped; the Fellegi-Sunter weight is a projection over the joined row — literals injected from Scala, no aggregation, no transcendental, no post-join shuffle beyond the presentation orderBy.",
       fmt(graft.queries.QualityQueries.recordLinkage(t))),
      ("qe08_disorder_census — exclusive prefix max without a global window",
       "The per-event window carries the bkt partition spec (bounded partitions); the only unpartitioned window runs over the 256-row bucket frame, which then BROADCASTS back into the event scan. Equality with the oracle's naive global window is the factoring's proof.",
       fmt(graft.queries.PipelineQueries.disorderCensus(t))),
      ("qk03_pit_join — point-in-time feature join, as-of union scan",
       "The fact→dimension attach is the qa01 union-scan: facts and SCD2 versions union into one key exchange + running-last window — no per-fact range join, no row amplification. The only Join nodes are the equi custkey attach and the presentation orderBy's exchange. The leakage guard (facts see only event-time dimension state) costs a sort-merge join's shuffle.",
       fmt(graft.queries.ExtendedQueries.pitJoin(t))),
      ("qz03_hilbert_layout — curve index as staged pure projection",
       "Six reflect+swap rounds, each ONE projection stage (linear expression tree — a single nested expression would double per round), all codegen'd integer ops; no Join, no Window, one partial-aggregated bucket census. Hilbert ordering costs exactly what Z-order costs: a scan.",
       fmt(graft.queries.LayoutQueries.hilbertLayout(t))),
      ("qg08_landmark_close — k BFS fronts, per-round barrier",
       "Each relaxation round: one equi join of the materialized |V|·k distance frame against the edge list + one min aggregation. The per-round Iterate.pin is load-bearing: the frame is referenced twice per round (join + union), and without the barrier the plan subtree doubles per round — measured 57 s → 1.5 s at sf0.1 for 8 rounds.",
       fmt(graft.queries.ExtendedQueries.landmarkCloseness(t))),
      ("qs13_mutual_knn — cell-keyed reciprocity",
       "The 8-row centroid frame broadcasts into the assignment argmin; pairs join on the cell key only (never all-pairs); the per-id top-k window is cell-bounded and plans as WindowGroupLimit (per-partition top-k pre-filter before the full window sort); mutuality is a self-join of the two candidate-sized ranked lists.",
       fmt(graft.queries.RetrievalQueries.mutualKnnGraph(t))),
      ("qs14_filtered_ann — the predicate is a broadcast-join key",
       "Filtered vector search scores ONLY eligible pairs: the label equality rides the broadcast-hash-join condition with the tiny query side, so the corpus streams once through the scoring projection and ineligible vectors are never dotted. Search-then-filter would score everything and under-return.",
       fmt(graft.queries.PipelineQueries.filteredAnn(t))),
      ("qe09_abandoned_views — anti range join, output bounded by the left",
       "LEFT ANTI on equi user + closed time interval: one key shuffle, the interval as a residual condition, and at most |views| output rows — the abandonment export costs what a sort-merge join costs, with zero amplification by construction.",
       fmt(graft.queries.PipelineQueries.abandonedViews(t))),
      ("qz04_layout_skipping — the audits priced into a decision",
       "Three bucket-audit aggregations (natural ranges, Morton, Hilbert) and scan-local bbox-intersection arithmetic — no join of data-sized frames anywhere; the one broadcast is the 1-row selected-count sanity frame. This is the read that justifies a curve-ordered rewrite before paying for it.",
       fmt(graft.queries.LayoutQueries.layoutSkipping(t))),
      ("qi01_incremental_agg — MV maintenance as a monoid merge",
       "The standing aggregate is a materialized |keys|-row frame (LocalTableScan from the checkpoint); only the delta scans data. The merge is ONE full-outer key join combining each aggregate with its own monoid — and the oracle's full recompute hashing identical IS the incremental-maintenance proof.",
       fmt(graft.queries.ExtendedQueries.incrementalAgg(t))),
      ("qr06_psi_drift — aggregates of one materialized counts frame",
       "The corpus is scanned once into the (source, bucket) counts (localCheckpoint); domain, totals, and the two scalar frames are aggregates of that tiny table, with the 1-row scalars broadcast into the dense grid. The PSI terms are scan-local IEEE arithmetic; the statistic costs one corpus pass regardless of scale.",
       fmt(graft.queries.CurationQueries.psiDrift(t))),
      ("qs24_ivfpq_serve — the composed ANN serving funnel",
       "Candidate generation is a hash join of broadcast probe cells against the materialized cell assignment (never all-pairs); the PQ codebooks and full-precision queries broadcast into the ADC scoring projection, so the only rows that pay distance math are the admitted candidates. The final counts are two scalar aggregates joined by broadcast.",
       fmt(PipelineQueries.ivfPqServe(t))),
      ("qx01_corpus_build — the composed pipeline adds no shuffle beyond its stages",
       "ONE pass over the text bytes projects (wc, tl, md5) and checkpoints ~100 B/doc metadata (Scan ExistingRDD), shared by the gate, the dedup window, and every report count — the corpus is tokenized once and its bytes never enter a shuffle; dedup is ONE md5-keyed window over the narrow survivors; the temperature rates attach by broadcast (the one nested-loop join is the documented 1-row scalar attach); the per-source report frames broadcast, so the report itself is exchange-free.",
       fmt(graft.queries.CurationQueries.corpusBuild(t))),
      ("qe10_session_gap_policy — per-user window, bounded explode",
       "The inter-event gaps come from ONE lag window partitioned by user_id (the same key qe01's sessionization shuffles on — never a global sort); the 4-candidate explode is bounded; the user/event totals are a 1-row broadcast scalar attach.",
       fmt(graft.queries.PipelineQueries.sessionGapPolicy(t))),
      ("qm03_image_neardup — hash-banded hamming funnel",
       "The (id, phash) table materializes once (eager localCheckpoint, lineage-owned blocks) and feeds both self-join sides and the final left join — the hash (one compiled TextDhash56Expr call since r12, ~0 driver tax) is computed exactly once. Candidates shuffle only on (band, bkey); the verify is one codegen'd xor+popcount. Pigeonhole (4 bands > 3 maxHamming) makes recall exact without all-pairs.",
       fmt(graft.queries.PipelineQueries.imageNearDup(t))),
      ("qm11_video_neardup_vote — frame-vote clip dedup",
       "Frames explode partition-locally (the stub's strided slices; the real path's videoFrames is the same shape) and only (id, frame_idx, 8-byte hash) rides into the funnel — the frame PAYLOAD never shuffles. The pair funnel shuffles on (band, bkey) and keeps every verified pair; the vote is one distinct + one count aggregation on (probe, target) clip pairs; the decision window partitions by probe clip. The video-plane sweep (NOTES_r13) measured the whole path at 30k clips / 228k frames: ~0.23 KB/frame vote shuffle, flat.",
       fmt(graft.queries.PipelineQueries.videoNearDupVote(t))),
      ("qx02_multimodal_corpus_build — the composed multimodal verdict",
       "The qx01 move on the multimodal funnel: ONE pass over the text bytes projects (wc, tl, md5, phash) scan-locally and checkpoints ~120 B/doc metadata — the corpus bytes never enter a shuffle; the text leg is one md5-keyed window, the image leg is qm03's banded funnel over the same checkpointed frame, and the manifest is two hash joins on doc_id. The streaming twin (multimodalPipelineStream) emits the same verdict shape incrementally.",
       fmt(graft.queries.PipelineQueries.multimodalCorpusBuild(t))),
      ("qm13_band_regime_advice — occupancy-priced funnel geometry",
       "The advisor never materializes a candidate pair: each geometry is one (band, bkey) explode of the 8-byte hash column, one map-side-combined occupancy aggregation, and (for MIH) a flip join of the OCCUPANCY TABLE with itself — metadata-sized, while the funnel it prices would join N-row sides. The hash column checkpoints once and is shared by all geometry passes; the final ranking window runs over |geometries| rows.",
       fmt(graft.queries.PipelineQueries.bandRegimeAdviceQ(t))),
      ("IncrementalIvf.serve — partition-pruned serving with a free bloat guard",
       "The accumulated index scan carries the probed cells as PartitionFilters (appends land under the same cell=K/ dirs, so pruning spans seed and streamed data); scoring is one broadcast join + codegen'd dot product; the rank filter compiles to WindowGroupLimit, which takes the top-k PER MAP TASK before the exchange — so the rank shuffle carries ~k rows per query per map, and the replay-bloat dedup (dense_rank + distinct over the result rows) adds no payload shuffle. NOTES_r13: serve shuffle 0.03 MB FLAT across a 250k→4M store sweep (the first-cut pruned-side dropDuplicates read 664 MB at 4M).",
       {
         val dir = Files.createTempDirectory("graft-incrivf-plan").toString
         graft.operators.IncrementalIvf.init(
           t.embeddings.filter(org.apache.spark.sql.functions.col("vec_id") % 2 === 0),
           s"$dir/ivf", nCells = 8)
         graft.operators.IncrementalIvf.appendBatch(
           t.embeddings.filter(org.apache.spark.sql.functions.col("vec_id") % 2 =!= 0),
           s"$dir/ivf")
         val plan = fmt(graft.operators.IncrementalIvf.serve(
           spark, s"$dir/ivf", Seq(0L), k = 5, nProbe = 2))
         org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
         plan
       }),
      ("qt44_html_extract — zero-shuffle web extraction",
       "htmlToText/anchorCount/urlCanonicalize are regexp/split/array expression chains inside ONE whole-stage-codegen projection over the scan — the only Exchange in this plan is the gate harness's ORDER BY. Extracting 100 TB of crawl costs exactly the scan (NOTES_r13: 0.00 MB shuffle metered at every corpus size).",
       fmt(graft.queries.QualityQueries.htmlExtract(t))),
      ("qx03_web_corpus_build — the composed crawl funnel",
       "Extraction metadata (canonical key, body key, word/anchor counts, gate flag) checkpoints at ~100 B/doc and the page bytes never enter an exchange (PlanAuditSpec pins the partition keys); URL dedup is one window over gate-passers, content dedup one window over URL-keepers, the verdict two hash joins on doc_id. NOTES_r13: funnel shuffle 113→149 B/doc flat across 50k→800k docs.",
       fmt(graft.queries.QualityQueries.webCorpusBuild(t))),
      ("qx04_web_incr_build — the incremental web stores, exact regime",
       "Both IncrementalHashDedup stages run the EXACT regime (bands=1, bandBits=32, maxHamming=0): one probe row per key (no fan-out), candidates only on true 32-bit bucket coincidences (~rows/2^32 occupancy), popcount verify exact on the full 60-bit key. The MIH store sweep's exact mode (NOTES_r13): 1.1/1.1/1.9 s walls with shuffle FLAT at 0.1 MB across a 1M→16M-row store sweep, recall 2500/2500 planted — the regime the webPipelineStream url/content stores run at fleet scale.",
       fmt(graft.queries.QualityQueries.webIncrBuild(t))),
      ("qg13_redirect_resolve — pointer-doubled chain resolution",
       "Four doubling self-joins of the source-keyed jump table replace a 16-step sequential walk; rows never multiply (the table stays |sources|-keyed), so shuffle is linear in |E| with a log2(maxHops) factor (NOTES_r13: 104/508/2031 MB across 1M/4M/16M edges — ~127 B/edge — with zero ground-truth hop mismatches). Loop rows compose inside their cycle until the static schedule ends: no data-dependent iteration.",
       fmt(graft.queries.QualityQueries.redirectResolve(t))),
      ("qt47_robots_allowed — the politeness gate",
       "robotsStarRules folds the HOST-cardinality robots table (the interpreted aggregate() tax rides the corpus's smallest axis); the per-url decision is one BROADCAST rules join plus one window over <= rules-per-host candidate rows — at 100 TB the cost is the url scan, the rules dim never shuffles.",
       fmt(graft.queries.QualityQueries.robotsAllowed(t))),
      ("qx05_crawl_frontier — redirects -> identity -> robots -> dedup",
       "The resolution map and the rules table are frontier-dim-sized broadcasts upstream of the decision checkpoint; the verdict stage reads the materialized ~40 B/doc decision frame and every exchange keys on doc_id or the canonical key (PlanAuditSpec pins both + no cartesian). The dedup window partitions by canon_url over ALLOWED docs only — blocked docs never enter the partition.",
       fmt(graft.queries.QualityQueries.crawlFrontierBuild(t))),
      ("qg15_link_scc — directed components by trim + color + peel",
       "Every round is an edge-list equi join + hash aggregation keyed on a vertex id (state: ONE label per vertex, lineage truncated per round); trim kills chains/tails before any phase work; the only driver traffic is scalar convergence probes. NOTES_r13: 1M/4M/16M-edge forests with analytically known components — shuffle edge-linear at scale (x4.0 write for the 4M->16M x4 step), ZERO ground-truth mismatches across 22.5M checked nodes.",
       fmt(graft.queries.QualityQueries.linkScc(t))),
      ("qs26_phrase_search — positional postings + adjacency joins",
       "The term filter prunes postings AT THE SCAN (an n-term phrase over a V-term corpus keeps ~n/V of the token stream), the n-1 adjacency joins are phrase-term-sized on (doc, pos+i), and the top-k is TakeOrderedAndProject (PlanAuditSpec) — never a global sort, never a corpus self-join.",
       fmt(graft.queries.RetrievalQueries.phraseSearch(t))),
      ("qx06_crawl_schedule — politeness as fetch slots",
       "Rules and Crawl-delays are HOST-cardinality broadcast dims consumed upstream of the verdict checkpoint; the schedule's only data-sized work is one per-host rank window over allowed docs, and every exchange keys on doc_id/hid metadata (PlanAuditSpec). The qz02 offset-join ordinal is the documented mega-host escape hatch.",
       fmt(graft.queries.QualityQueries.crawlSchedule(t))),
      ("qf03_sqldump_roundtrip — zero-shuffle dump parse",
       "The mysqldump read is a plain text scan split on the statement separator (`lineSep=\";\\n\"` — mysqldump escapes real newlines inside values, so the split is safe), SqlInsertParse lexes each statement partition-locally, and the typed projection + explode run inside the same stage: NO Exchange anywhere in the parse path (PlanAuditSpec pins it). A 100 GB dump loads at scan speed; the only wide operation is whatever the caller does next (MergeWriter in writeOrder).",
       {
         val dir = Files.createTempDirectory("graft-plan-dump")
         Files.writeString(dir.resolve("d.sql"),
           "INSERT INTO `t` VALUES (1,'a'),(2,'b');\n")
         val plan = fmt(graft.hfc.SqlDump.statements(spark, dir.resolve("d.sql").toString))
         org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
         plan
       }),
      ("qi04_join_mv — bilinear delta maintenance",
       "All four legs (standing + dL*O0 + L0*dO + dL*dO) pre-aggregate to the customer grain with map-side partial aggregation before ONE monoid merge; the standing view is a materialized read, so only the delta legs touch base data at refresh time.",
       fmt(graft.queries.ExtendedQueries.incrementalJoinMv(t))),
    )

    val md = new StringBuilder
    md.append("# PLANS — physical plans of the scale-critical queries\n\n")
    md.append("Generated by `runMain graft.tools.DumpPlans` (sf0.001 inputs; plan\n")
    md.append("shape is scale-invariant). The stated properties are enforced by\n")
    md.append("`PlanAuditSpec` / `BucketingSpec` so refactors cannot silently lose\nthem.\n")
    sections.foreach { case (title, why, plan) =>
      md.append(s"\n## $title\n\n$why\n\n```\n$plan```\n")
    }
    md.append(floatParityRecipe)
    Files.writeString(Paths.get("/root/repo/PLANS.md"), md.toString)
    println(s"[plans] wrote ${sections.size} sections to PLANS.md")
  }
}
