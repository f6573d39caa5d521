package graft.tools

import java.nio.file.{Files, Paths}
import graft.SparkEntry
import graft.core.LocalSession

/**
 * Dump formatted physical plans of the headline queries to PLANS.md —
 * the audit artifact backing SURVEY.md §5's scale claims (pushdown,
 * pruning, broadcast, partial agg, codegen spans).
 */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    val spark = LocalSession("graft-dumpplans", Paths.get(out).toAbsolutePath.getParent.toString,
      "spark.sql.maxMetadataStringLength" -> "500")

    val headline = Seq(
      "q_filter_range" -> "time-range + dim filter: both reach PushedFilters; ReadSchema pruned",
      "q_join_link" -> "catalog enrichment: 3x BroadcastHashJoin, fact side never shuffles",
      "q_join_facts" -> "fact-fact join: shuffle on the join key under AQE",
      "q_agg_sum_min_max" -> "grouped agg: partial_* before the exchange (map-side combine)",
      "q_dedup_minhash" -> "minhash: narrow signature map, shuffle only at the band join",
      "q_ann_bruteforce" -> "ANN: corpus scanned once, queries broadcast, fused cosine kernel",
      "q_topk" -> "top-k: TakeOrderedAndProject, no global sort",
      "q_join_link_filtered" -> "link-field condition pushdown: catalog predicate becomes In(l_suppkey,...) in the fact scan's PushedFilters",
      "q_stemmed_tokens" -> "stemmed tokens: one codegen'd per-row kernel (stemmer resolved once as a reference object)",
      "q_dedup_cluster" -> "pair clustering: candidate band join + exact verify feeding iterative star contraction (edge-only shuffles)",
      "q_bm25" -> "BM25: query terms + query-restricted df broadcast, postings aggregated map-side, heap top-k per query",
      "q_pack_shards" -> "shard packing: range exchange + per-partition windows; no single-partition global window",
      "q_stratified_sample" -> "stratified sample: rank-window rewritten to TopKPerKeyExec (bounded heap per stratum)",
      "q_rollup_routed" -> "rollup routing: the month aggregate written against the fact reads the day-grain rollup (scan location = events_by_day)",
      "q_rollup_routed_avg" -> "avg routing: the exact-average quotient decomposes into rollup sum + count(m) partials; scan location = the rollup, not the fact",
      "q_boilerplate" -> "boilerplate: doc frequency from a count window over ONE (source, gram) exchange — the corpus is tokenized once",
      "q_semdedup" -> "semantic dedup: identical-vector collapse window (128-bit hash-pair keys) first; at t=0.5 the banding degenerates, and at gate scale (under the 2^14 brute bound) representatives take the exact all-pairs verify — past the bound the same call routes to the IVF cell path; CC edges are id-only",
      "q_mix_weights" -> "mix weights: map-side-combined per-domain aggregate, 1-row totals broadcast",
      "q_substring_dup" -> "substring duplication: span positions hashed to 128-bit fingerprints BEFORE the shuffle (24-byte posting rows, never span text); occurrence counts from one count window over the single fingerprint exchange",
      "q_contamination" -> "contamination: each side's doc_id filter pushed BELOW the Generate — every doc tokenized once; eval gram set broadcast, per-doc agg map-side combined",
      "q_knn_join" -> "self kNN: gate scale takes the exact all-pairs dispatch; past 2^14 vectors the IVF variant cogroups items-to-probers on occupancy-bounded cell keys (split overfull cells, salted duplicate masses) and scans candidates in the local kernel — no corpus-sized broadcast, no candidate-row materialization",
      "q_collocations" -> "collocations: ONE (w1, w2) exchange feeds both the pair counts and (as an aggregate-over-aggregate) the unigram counts — the corpus is scanned and tokenized once; word-keyed joins, never a vocab broadcast",
      "q_lm_perplexity" -> "LM perplexity: vocab counts derive from the per-(doc, token) aggregate (same exchange reused — one tokenize); surprisal joins by token key; 1-row (n, V) broadcast",
      "q_dedup_keep_best" -> "keep-best dedup: star-contraction clusters + two fixed-width-key aggregations (best score, min id at best) — no window sort over members",
      "q_knn_clusters" -> "mutual-kNN clustering: kNN edges (size-dispatched), reversed-pair left-semi mutuality on id keys, log-round star contraction — no corpus-sized broadcast anywhere",
      "q_dedup_embed_ivf" -> "forced-IVF embedding dedup: the gated query runs embeddingPairsIvf itself — cell assignment is a narrow codegen'd map (centroids ride as a reference object), vectors ride INTO the cells (n·probes rows) and the exact-cosine verify is FUSED into the within-cell shuffle_hash self-join, so candidate rows never materialize and distinct runs on the output-sized verified pairs",
      "q_knn_join_ivf" -> "forced-IVF self kNN: items carry ONE cell, queries explode probe cells onto occupancy-bounded keys, and candidates are scanned INSIDE the per-cell cogroup kernel (CoGroup + MapGroups in the plan — candidate rows never materialize); the global heap top-k merges only the <= probes*k survivors per query; nothing corpus-sized broadcast",
      "q_link_declared" -> "declarative external link: JSON-declared JDBC catalog — the link predicate evaluated on the (scan-level) JDBC relation collapses to In(l_suppkey,...) in the fact scan's PushedFilters; enrichment is a BroadcastHashJoin, the fact side never shuffles",
      "q_dedup_cross" -> "cross-corpus dedup: probe-shard signatures are a narrow map over the NEW data only; the reference side reads the PERSISTED (id, sig) index — no reference re-shingle before the band join; candidates are id-only through the (band, bh) shuffle join; reference text re-attaches only to the distinct candidate set for the exact verify",
      "q_ann_indexed" -> "persisted-IVF-index search: the assignments scan lists ONLY the probed cells' files (static partition filter from the driver-resolved probe set); bounded queryProbes broadcast onto the pruned scan, heap top-k per query — the corpus-sized side never shuffles",
      "q_dedup_cross_bucketed" -> "bucketed admission layout: the candidate stage is MATERIALIZED (one index scan per probe — the dumped plan therefore shows the exact verify over the checkpointed candidates); the candidate join itself reads the bucketed index in place with NO exchange and NO re-sort (one sorted file per bucket + bucketed-scan ordering — DedupSpec walks that join's own plan and asserts both), only the shard's banded rows shuffling into the index's bucketing",
      "q_chunk_tokens" -> "token chunking: one narrow codegen pass (tokenize, per-row start sequence, Generate, slice) — the operator contributes NO exchange (the single Exchange below the Sort is the gate's deterministic orderBy, absent in production use); embarrassingly parallel at any corpus size",
      "q_dedup_cross_delta" -> "base+delta split serving: the bucketed base side joins exchange-free while the delta side is a band join over ONLY the band-plausible delta shard dirs (_bands_bloom sidecar pruning) — candidates union and MATERIALIZE before one shared exact verify (the dumped plan shows the verify over the checkpointed candidates); the probe's one signature pass feeds both joins",
      "q_contamination_bloom" -> "Bloom-prefiltered contamination: corpus grams screened MAP-SIDE by the codegen'd might_contain (the filter sits directly on the Generate output, below any exchange) — only survivors shuffle into the exact verify join; per-doc denominator is a map-side-combined aggregate; both corpus branches keep the gram pipeline inside the Generate (the CollapseProject×lambda rule documented in TextAnalysis); eval grams read from cache (InMemoryRelation)",
      "q_domain_cap" -> "per-domain cap: quality computed inline in the projection feeding ONE domain-key exchange, then a single window rank — no joins, no second scan",
      "q_hybrid_retrieval" -> "hybrid RRF: both legs share one postings aggregate; query terms + query-restricted df broadcast in each leg; fusion joins two ≤ k-per-query rowsets — every corpus-sized structure stays in the legs' audited broadcast shapes",
      "q_ann_pq" -> "PQ search: corpus encoded in one narrow codegen'd pass (pq_encode, codebooks as reference object); ADC scoring reads codes + the broadcast per-query tables (m lookups/pair, dimension-independent); raw vectors re-attach only to the rerank-bounded candidate join — the corpus-sized vector column never shuffles",
      "q_ann_pq_indexed" -> "persisted IVF-PQ: the codes scan lists only probed cells' files (static partition filter) and reads NO vector column (m-int code rows); ADC + bounded-heap top-rerank per query; exact re-rank joins the source table for candidates only",
      "q_funnel" -> "conversion funnel: ONE user-key exchange feeds all three cascaded running-min Window passes and the per-user rollup (no second shuffle, no self-joins) — funnel state is three narrow columns",
      "q_retention" -> "cohort retention: user-cardinality anchor table broadcast into the single events pass; (user, cohort, period) distinct + cell rollup; nothing event-sized collected",
      "q_event_paths" -> "event paths: lead() n-grams over ONE user-key exchange feed the path rollup (map-side-combined counts + distinct users) — never a per-user sequence collect; deterministic top-K",
      "q_ann_admitted" -> "vector admission serving: base and delta assignment scans BOTH prune to the probed cells' files (cell is a partition column at both depths); the identity collapse and query join ride the union — nothing index-sized shuffles beyond the probed slice",
      "q_ann_pq_admitted" -> "PQ admission serving: base codes AND the codes delta prune to probed cells and read NO vector column (m-int code rows); ADC scores the union, raw vectors re-attach only to the rerank-bounded candidates",
      "q_anomaly" -> "anomaly detection: the event-sized work is one map-side-combined aggregate (partial_count below its exchange); ONE event scan — everything after it moves only series-days-bounded rows; densification is a lead()+sequence gap-fill WINDOW over the daily rollup (not a min/max-grid join, which Catalyst re-derives from the raw table as a SECOND event scan), and the single series-key exchange serves gap-fill and scoring windows alike; all window aggregates exact integers",
      "q_dsir_select" -> "DSIR selection: the (doc, bucket) feature aggregate is map-side combined below its exchange and the text column never shuffles (bucketing happens in the projection feeding the agg); the ≤4096-row ratio table broadcasts into the scoring join; top-100 is TakeOrderedAndProject, never a global sort",
      "q_lm_bigram" -> "KN bigram LM: all four model tables derive from the single per-(doc, w1, w2) aggregate (one tokenize); scoring joins by word KEYS with no forced broadcast — the BroadcastHashJoins below are AQE's choice at gate scale where the type tables are tiny, and revert to keyed shuffle joins when the vocab outgrows the threshold; Nbig rides as a 1-row broadcast; per-doc agg map-side combined",
      "q_dsir_served" -> "DSIR serving from the persisted model: ONE narrow tokenize pass over the pool feeds the map-side-combined (doc, bucket) aggregate; the stored ratio table (≤ buckets rows, one parquet file) broadcasts into the scoring join so the pool never shuffles for the model; top-100 is TakeOrderedAndProject, never a global sort. q_dsir_updated serves the incrementally-refreshed generation through this IDENTICAL plan — update changes the stored counts, not the serve shape",
      "q_multimodal_phash" -> "perceptual hash: the 64-bit aHash runs over REAL decoded 8×8 luma grids (MediaCodec BMP parse — header offset, stride, bottom-up flip, B-G-R — in one partition-local batched pass; no UDF, no collect); near-dup pairing is the pigeonhole discipline: 8 hash-block keys explode to an id-only band shuffle, hamming verify touches only co-bucketed candidates — payload bytes never shuffle",
      "q_nb_classify" -> "NB source classifier: train and test each tokenize ONCE, aggregated map-side to narrow bucket rows before any exchange (text never shuffles); the model (≤ K·B class-bucket counts + K-row class table) broadcasts into the scoring join; the ×K class expansion sits ABOVE the per-(doc, bucket) aggregate so the per-(doc, class) sum combines map-side; argmax is ONE max(struct) aggregate — no per-doc window sort anywhere in the plan",
      "q_dedup_ngram_jaccard" -> "ngram jaccard, probe-dispatched: a sampled dup probe gates the exact-dup collapse (identical texts → one representative, pair set re-expanded through bounded hash(id) chunks — a k-replica cluster costs the self-join one doc, not k², and no buffer is ever cluster-sized), the gram probe gates dense vs FULL PPJoin (asymmetric index/probe prefixes, positional filters in the join condition, suffix-filter + early-terminating-merge verification — preferred when the estimated asymmetric candidate volume beats the dense Σgf² by 2× past 128M rows, i.e. near-dup-dense corpora), and sampled dominator grams (gf² > stage share) salt the dense counting join 16 ways; on this dup-free corpus all probes choose the plain dense plan shown",
      "q_knn_join_split" -> "forced-SPLIT self kNN (occupancy bounding): every vector lands in ONE cell far past the 4x-target threshold, the executor-local re-quantize splits it (salts where unsplittable), and exhaustive sub-cell probing makes split+salt+kernel == brute kNN; the plan's scoring stage is the CoGroup kernel, not a join",
      "q_zorder" -> "Z-order key: the Morton interleave is ~12 mask/shift/or integer ops per row inside WholeStageCodegen (no UDF, no join); the per-cell aggregate map-side combines to ≤ cells rows before its one exchange; the LAYOUT path (ZOrder.write) pays only the range-partition exchange any sorted write pays — z-key quantile bounds, then sortWithinPartitions feeds parquet row-group stats"
    )

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (generated by graft.tools.DumpPlans)\n\n")
    sb.append(s"Input: `$dir`. Each plan is `explain(formatted)` output; the\n")
    sb.append("annotation states the scale property it evidences (SURVEY.md §5).\n")
    for ((name, note) <- headline) {
      val df = SparkEntry.queries(name)(spark, dir)
      val plan = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $name\n\n$note\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
