package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Scale probe: replicate the sf0.1 tables K times (keys offset per
  * replica; document texts duplicated verbatim, which makes the dedup
  * candidate paths adversarial — every text gains K exact copies) and
  * time representative queries at 1x/2x/4x/8x to measure how each plan's
  * runtime actually grows. Output: one JSON line per (factor, query).
  *
  * Usage: runMain graft.ScaleProbe [maxFactor [queryName...]]
  * Trailing query names restrict the probe (same fail-loudly contract as
  * [[Bench]]: a typo'd name errors instead of silently probing nothing).
  * SPARK_GRAFT_MIN_FACTOR skips factors below it (the 16x/32x knee hunt
  * re-probes only the top factors; 1x-8x data already exists from prior
  * rounds). Scaled data is materialized once under target/scale/f<K>/.
  */
object ScaleProbe {

  private val Offset = 100000000L // key offset per replica

  private val probeQueries = Seq(
    "q_scan_project", "q_agg_dept_summary", "q_agg_distinct",
    "q_window_last", "q_dedup_keyed", "q_topk",
    "q_dedup_minhash_lsh", "q_dedup_ngram_jaccard", "q_dedup_exact",
    "q_dedup_simhash",
    "q_dedup_minhash_sql", "q_dedup_simhash_sql", "q_ann_lsh_sql",
    "q_dedup_editdist",
    "q_events_sessions", "q_events_hourly", "q_knn_brute",
    // MIPS twin: fixed probe set (replica-0 vec_ids only), candidates xK
    // -> pair work must grow linearly; also the fused-DotProduct A/B
    // subject (run with SPARK_GRAFT_EXCLUDE_RULES for the interpreted arm)
    "q_knn_dot",
    // unigram LM: token occurrences xK under a CONSTANT vocabulary
    // (replicas duplicate texts verbatim), so the corpus-count aggregate
    // and the score join must both stay linear; the bigram conditional
    // rides the same contract one gram wider
    // the held-out backoff scorer shares the bigram machinery with a
    // 10x smaller scoring side; its hostile behavior is the bigram
    // row's (heap-knee addendum) one level down, so it probes on
    // replicas only
    "q_doc_unigram_logprob", "q_doc_bigram_logprob",
    "q_doc_backoff_logprob",
    // Kneser-Ney capstone: the bigram machinery plus two aggregations
    // over the already-aggregated bigram-TYPE table (continuation
    // counts, the B total) — must track the bigram rung's growth
    "q_doc_kn_logprob",
    // DSIR importance weighting: two LMs off the unigram query's shared
    // token exchange + a TakeOrdered top-K — must stay linear on
    // replicas exactly as the unigram scorer does (constant vocabulary,
    // token occurrences xK); the top-K merge is K rows per partition
    // regardless of factor
    "q_doc_dsir",
    // BPE training: the corpus-mass word-count aggregation must grow
    // linearly; the 12 merge iterations run on the CONSTANT-size
    // vocabulary table (replicas duplicate texts verbatim), so their
    // cost must stay flat at any factor
    "q_doc_bpe_train",
    // BPE application adds the vocabulary join on top of training: the
    // (doc, word) pre-agg and scoring join grow linearly, the 12-replace
    // vocabulary chain is constant-size
    "q_doc_bpe_apply",
    // the byte-level siblings carry the same contracts (replicas keep
    // the pretoken vocabulary constant; only the pt-keyed pre-agg and
    // the scoring join may grow)
    "q_doc_bpe_bytes_train",
    "q_doc_bpe_bytes_apply",
    // the budget sweep: one trainer pass + |budgets| universe-sized
    // rung projections — must track the apply query's growth
    "q_doc_bpe_bytes_tune",
    // BPE-space packing: the bpe-apply lineage (above contract) plus the
    // shard-bounded running-sum pack — must track q_doc_bpe_apply's
    // growth; the pack window sort is bounded by (lang, shard) stream
    // size, never corpus size
    "q_doc_pack_bpe",
    // concat-and-chunk packing: the explode emits len/2048 + 1 rows per
    // doc (proportional to the doc's own length), the manifest agg is
    // (lang, shard, window)-keyed — both linear; the running-sum window
    // stays shard-bounded like q_doc_pack
    "q_doc_pack_chunk",
    // the composed BPE-space chunk cut: bpe-apply's linear contract
    // plus the chunk explode — must track q_doc_pack_bpe's growth
    "q_doc_pack_bpe_chunk",
    // mixture application: S-row broadcast weights + pure per-row copy
    // arithmetic + an S-row manifest exchange — must stay linear in the
    // single corpus scan
    "q_doc_mixture_apply",
    // per-source KL drift: the (source, t) pre-agg and scoring join ride
    // the t exchange like the LM family; constant vocabulary on replicas
    // means the exchanged row count is constant and only the pre-agg
    // input grows
    "q_corpus_kl",
    // LR quality classifier: 12 fixed-size weight collects over a
    // feature aggregation that grows linearly; replicas keep the
    // trajectory identical (every gradient mean is replica-invariant:
    // duplicating rows xK multiplies both the sum and n by K)
    "q_doc_quality_lr_train", "q_doc_quality_lr",
    // sparse tf-idf retrieval: tf/df/norm aggregations grow linearly;
    // candidate generation is champion-bounded (<= |probe terms| x R
    // join rows at ANY corpus size), so probe-side work must stay flat
    "q_knn_tfidf",
    // quality-aware survivor selection: the jaccard pair lineage plus a
    // degree-bounded per-doc window — must track q_dedup_ngram_jaccard's
    // growth, not exceed it
    "q_dedup_quality_rep",
    // cluster-safe splitting: the clustering machinery plus one left
    // join — must track the MEMBER-level CC twin below, not the capped
    // representative-level q_dedup_clusters (the r12 knee lesson:
    // these consume the full jaccard edge fan-out, clusters does not)
    "q_split_cluster_safe",
    // the member-level CC reference point the r12 knee hunt was
    // missing: CC over the full jaccard edge set, the twin
    // q_split_cluster_safe and q_dedup_quality_rep must track
    "q_dedup_clusters_sql",
    "q_doc_decontaminate", "q_split_leakage", "q_doc_tfidf",
    "q_doc_chunks", "q_events_retention",
    "q_chunk_dedup", "q_merge_upsert", "q_doc_collocations",
    "q_window_running",
    "q_events_hopping", "q_events_gapfill", "q_events_anomaly",
    "q_emb_centroids", "q_dq_profile",
    "q_doc_pack", "q_doc_mixture", "q_doc_pii_redact",
    "q_topk_per_group", "q_curation_pipeline",
    "q_media_meta", "q_media_histogram", "q_agg_topk_bounded",
    "q_events_moving_avg", "q_doc_quality_tiers",
    "q_dedup_containment", "q_emb_quantize", "q_layout_zorder",
    "q_dedup_incremental", "q_doc_mixture_temp",
    "q_doc_vocab", "q_doc_langid", "q_doc_winnow", "q_events_range",
    "q_agg_cube", "q_agg_rollup", "q_scd2_history", "q_corpus_health",
    "q_dedup_incremental_bloom", "q_scd2_asof", "q_scan_jsonl",
    "q_corpus_diff", "q_doc_quota", "q_semdedup",
    "q_semdedup_incremental", "q_shard_assign", "q_dedup_substring",
    // span-removal dedup: replicas duplicate texts verbatim, so every
    // replica-K tile hash gains K copies — the winner aggregation's
    // map-side partial min must collapse them before the shuffle and
    // the probe join's row count grows linearly; kept-token mass stays
    // CONSTANT (only replica-0 docs keep anything)
    "q_dedup_span",
    // priority sampling: one projection + TakeOrdered(K+1) — must be
    // flat-to-linear in the scan with a constant K-row driver merge
    "q_sample_weighted",
    // per-stratum twin: the local row_number prunes every partition to
    // K+1 per lang BEFORE the stratum exchange, so the global window
    // input is (K+1)·partitions rows per lang at any corpus size
    "q_sample_weighted_group",
    // LSH calibration: replicas collapse exactly (verbatim copies), so
    // signature work and candidate counts must stay CONSTANT — only the
    // collapse scan grows
    "q_lsh_tune",
    // τ sweep: one pass over the capped jaccard pair lineage plus a
    // 5-row fan — must track q_dedup_ngram_jaccard's growth, never
    // exceed it
    "q_dedup_tau_sweep",
    // width sweep: ONE tokenize (checkpointed) + five shingle explodes
    // and broadcast probes — must grow like q_doc_decontaminate ×
    // widths, linearly
    "q_decontaminate_tune",
    // count-min sketch: constant vocabulary on replicas means the
    // (t, c) pre-agg output and the ≤4096-row sketch are CONSTANT;
    // only the token scan grows — the sketch's fixed-memory claim,
    // measured
    "q_doc_cms",
    // replica-corpus rows for the heavy pairing family (they also run on
    // the hostile corpora below): the 16x/32x knee hunt needs them on
    // verbatim-copy replicas, where exact-collapse does the bounding
    "q_dedup_clusters",
    // the composed curation slice: fingerprint group + keep-set join +
    // per-lang window, all key-partitioned — must grow linearly on
    // replicas like its constituent operators do
    "q_curation_lite",
    // the PQ family on replicated embeddings: training sums grow
    // linearly but the codebook stays M·k rows; encoding is a pure
    // projection (linear scan); the ADC faces score 10 probes against
    // a linearly-growing candidate set through constant-size distance
    // tables — all three must be flat-to-linear with no knee
    "q_emb_pq_codes", "q_ann_pq", "q_ann_ivfpq",
    // the nprobe sweep adds the exact-truth brute side (10 probes x
    // corpus, broadcast) and the widest rung's candidate frame on top
    // of the ivfpq contract — linear in the corpus, no knee
    "q_ann_nprobe_tune",
    // the residual variant trains TWICE (coarse + residual chains,
    // both bounded driver collects) and its serve is the ivfpq
    // contract with per-(probe, cell) tables — still broadcast
    // constants; must track q_ann_ivfpq's growth
    "q_ann_ivfpq_res",
    // the audit runs BOTH variants' pair frames plus the brute truth
    // side — the sum of its parts' contracts, all probed linear
    "q_ann_variant_audit",
    // the two new media modalities on replicas (verbatim copies
    // collapse exactly; signature work constant, fan-out linear)
    "q_media_audio_dedup", "q_media_video_dedup",
    // the REAL-decoder face on replicas: verbatim copies produce
    // byte-identical WAV containers, so the md5 collapse bounds the
    // decode+signature work exactly like the audio stand-in — only the
    // encode scan and the fan-out grow
    "q_media_wav_dedup",
    // the two real-decode honesty checks: map-only encode→parse→
    // fingerprint passes, must be purely linear in the scan
    "q_media_wav_decode", "q_media_bmp_decode",
    // the image-side real-decode near-dup: same collapse-bounded
    // replica contract as the wav face
    "q_media_bmp_dedup",
    // the COMPRESSED-image faces on replicas: verbatim copies produce
    // byte-identical PNG/JPEG containers (deterministic encoders), so
    // the md5 collapse bounds the inflate/IDCT + signature work exactly
    // like the uncompressed faces — only the encode scan and fan-out
    // grow; the decode-certification row is map-only linear
    "q_media_png_dedup", "q_media_jpeg_decode",
    // the compressed-audio face on replicas: same collapse-bounded
    // contract (deterministic µ-law containers collapse byte-identical)
    "q_media_ulaw_dedup",
    // the banding sweep: one signature pass, three re-band projections,
    // the 8x8 rung's candidate volume bounds the whole report — must
    // track q_media_phash_dedup's replica contract
    "q_media_band_tune",
    // preference-pair mining: the jaccard closure machinery plus one
    // per-component window — must track q_dedup_quality_rep's growth
    // (it IS that query's window with a different projection); pair
    // fan-out is bounded by component size
    "q_pref_pairs",
    // the pair split audit: ONE closure (localCheckpointed) feeding the
    // pair miner AND the split assignment, plus two pair-sized joins —
    // must track q_split_cluster_safe's growth, never exceed it
    "q_pref_split_check",
    // contrastive triplet mining: 10 broadcast anchors x corpus scored
    // once, two bounded windows over the checkpointed pair frame — the
    // q_knn_brute linear contract with a label filter
    "q_contrastive_negatives",
    // curriculum staging: one per-lang window + pure ntile arithmetic —
    // the q_shard_assign contract (one exchange, per-partition sort)
    "q_curriculum",
    // WordPiece training: the BPE contract (linear word-count agg,
    // constant-size vocabulary loop) with a second vocabulary-sized
    // aggregation (symbol counts) per iteration — must track
    // q_doc_bpe_train's growth
    "q_doc_wordpiece_train",
    // WordPiece application: linear (doc, word) pre-agg + ONE kernel
    // call per DISTINCT word (constant on verbatim replicas) — must
    // track q_doc_bpe_apply's growth
    "q_doc_wordpiece_apply",
    // Hilbert layout: the z-order contract (1-row stats broadcast +
    // pure kernel projection + tile agg) under the seam-free curve
    "q_layout_hilbert",
    // unigram tokenizer training: the seed aggregation explodes
    // ≤ len·4 rows per DISTINCT word (constant on verbatim replicas),
    // the E-step is one kernel pass over the constant word table —
    // only the corpus word-count aggregation grows
    "q_doc_unigram_tok_train",
    // unigram application: the BPE/WordPiece apply contract — linear
    // (doc, word) pre-agg, constant distinct-word kernel pass
    "q_doc_unigram_tok_apply",
    // the EM-schedule sweep: the trainer's contract x(rounds+1) — on
    // verbatim replicas every rung's kernel pass and collect run on
    // the CONSTANT word/vocabulary tables, so the sweep must track
    // q_doc_unigram_tok_train's growth, never multiply it
    "q_doc_unigram_tune",
    // best-of-n under the learned reward: the LR trainer's contract
    // (12 fixed-size weight collects over a linear feature agg) plus
    // one projection and the two-phase local-prune selection — must
    // track q_doc_quality_lr's growth
    "q_pref_bon",
    // attribution pairs: the binned (user, bucket) equi-join — events
    // replicate xK on BOTH sides, so pairs (and wall-clock) may grow
    // up to K² within a bucket-user cell; on the replica corpus the
    // duplicated purchase ids collapse the null-arm anti-join linearly
    "q_events_attrib",
    // delete propagation: the postings build + one tombstone/fold
    // cycle; the fold's cost contract is measured separately with
    // fan-out scaling (op_index_retract) — this row tracks the whole
    // query's replica growth like q_index_compact's
    "q_index_retract",
    // MMR: retrieval is a TakeOrdered over a linear relevance scan; the
    // greedy runs on the CONSTANT 50-row pool at any factor — must
    // grow like q_knn_brute's scan stage and nothing else
    "q_select_mmr",
    // byte-BPE round-trip: the apply contract (linear pretoken
    // pre-agg, constant distinct-pretoken kernel pass) plus one
    // constant-size inversion projection
    "q_doc_bpe_bytes_detok",
    // the composed maintenance cycle: postings build + compact +
    // tombstone/fold — must track q_index_retract's growth (same
    // lineage, one extra increment-bound append)
    "q_index_lifecycle",
    // the λ sweep: four greedies on the constant 50-row pool over the
    // one retrieval — must track q_select_mmr's flat profile
    "q_select_mmr_tune",
    // the context sweep: one checkpointed offset pass + four
    // integer-arithmetic rungs — must track q_doc_pack's growth
    "q_doc_pack_tune")

  /** Near-dup queries re-probed on the HOSTILE corpus: near-identical-
    * but-not-exact boilerplate (unique trailer per doc defeats the exact
    * collapse; ~97% shared shingles concentrate the LSH/simhash bands and
    * the editdist prefix blocks). Without the maxBucket cap these would
    * grow quadratically in members; the cap bounds them (BucketCapSpec
    * pins the semantics, this probe measures the wall-clock). Ngram
    * Jaccard joined the probe in r7: its intersection now runs through
    * the capPerKey-bounded bucketPairs device, so each hot gram bucket
    * truncates to the cap's min-doc_id members — bounded pair work per
    * gram instead of df² growth (previously exempted as
    * quadratic-by-construction). */
  private val hostileQueries = Seq(
    "q_dedup_minhash_lsh", "q_dedup_simhash", "q_dedup_clusters",
    "q_dedup_editdist", "q_dedup_ngram_jaccard",
    // every boilerplate 5-gram is a hot gram shared by ~all docs — the
    // exact stop-gram shape q_split_leakage's capPerKey exists to bound
    "q_split_leakage",
    // every boilerplate 3-gram's document frequency is ~the corpus size,
    // so the maxGramDf cap must drop the whole index — near-constant
    // time, zero pairs — instead of joining 20k docs on shared grams
    "q_dedup_containment",
    // same shape one level down: every POSITIONAL 5-shingle of the
    // shared boilerplate run lives in ~every doc, so the df filter
    // drops the whole match universe before any diagonal pairing —
    // the probe pins near-constant time and zero flagged docs
    "q_dedup_substring",
    // the LM scorers' hostile shape: ~40 shared boilerplate tokens give
    // maximal hot-token (and hot-bigram) concentration. The (doc, gram)
    // pre-aggregation bounds each hot key to one row per doc, so the
    // gram-keyed join must stay linear in docs — these rows are that
    // claim, measured
    "q_doc_unigram_logprob", "q_doc_bigram_logprob",
    // KN shares the bigram rung's hostile shape (hot-bigram
    // concentration bounded by the (doc, bg) pre-agg); its extra
    // aggregations run over the bigram-TYPE table, which the
    // boilerplate corpus makes TINY (~40 shared types + unique-trailer
    // types), so KN must track the bigram row, not exceed it
    "q_doc_kn_logprob",
    // sparse retrieval under maximal term concentration: shared
    // boilerplate terms hit df ≈ n, their idf tick floors to ZERO, and
    // the w > 0 filter drops them before the posting index exists —
    // the same job the containment df-cap does, done by the weight
    // floor itself. Residual postings are the per-doc unique trailers
    // (tiny lists), so probe-side work must stay near-constant
    "q_knn_tfidf",
    // span removal under maximal tile concentration: every boilerplate
    // tile is ONE hash shared by the whole corpus. The winner min
    // collapses map-side (one row per map partition reaches the
    // shuffle) and the probe join's hot key is the AQE skew-split
    // shape (1-row build side) — wall-clock must stay linear in docs,
    // with removed-token mass ≈ the whole boilerplate prefix
    "q_dedup_span",
    // LSH calibration under defeat-the-collapse boilerplate: every rep
    // survives, near-identical signatures concentrate every band bucket,
    // and the per-layout capPerKey (tags lsh_<b>x<r>) must bound both
    // candidate volume and the pooled verification exactly as the
    // production minhash path's cap does
    "q_lsh_tune",
    // CMS under maximal hot-token concentration: the (t, c) pre-agg
    // bounds each hot token to ONE weighted row before the counter
    // sums, so growth must track the LM scorers' linear row, never the
    // occurrence count
    "q_doc_cms",
    // τ sweep over the capPerKey-bounded jaccard pairs: hostile
    // boilerplate concentrates the gram buckets exactly as in the
    // jaccard row — the sweep must stay within its envelope
    "q_dedup_tau_sweep",
    // perceptual media near-dup under maximal signature concentration:
    // unique trailers defeat the md5 collapse (every payload is its own
    // rep), near-identical texts give near-identical aHash grids, so
    // every band bucket is hot — the capPerKey (tag media_phash) must
    // bound pair work to the cap's min-doc_id members per bucket while
    // output stays the capped pair set; the simhash hostile contract,
    // one modality over
    "q_media_phash_dedup",
    // the ingest face under the same concentration: every history band
    // bucket is hot (capPerKey tag media_hist bounds the index), every
    // increment's 4 band rows hit a capped bucket, and nearly every
    // arrival is flagged — per-arrival work must stay cap-bounded while
    // arrivals grow linearly
    "q_media_phash_incremental",
    // the audio twin under the same concentration: near-identical
    // boilerplate gives near-identical energy profiles, every audio
    // band bucket hot — the shared bandNearDup cap (tag media_audio)
    // must bound pair work exactly like the image face
    "q_media_audio_dedup",
    // the real-decoder face under the same concentration: unique
    // trailers defeat the container-md5 collapse, every rep pays a
    // REAL RIFF parse (linear, partition-local) and near-identical
    // decoded-sample profiles concentrate the band buckets — the
    // media_wav capPerKey tag must bound pair work like the audio face
    "q_media_wav_dedup",
    // the image twin under the same concentration: every rep pays a
    // real BMP parse and the near-identical padded-grid aHashes make
    // every band bucket hot — the media_bmp tag must bound pair work
    "q_media_bmp_dedup",
    // the real-decode ingest face under the same concentration: every
    // history band bucket hot (media_wav_hist cap bounds the index),
    // per-arrival work must stay cap-bounded like the phash face
    "q_media_wav_incremental",
    // video under hostility: the unique trailer sits in the LAST frame,
    // so every EARLIER sampled frame's (frame_idx, sig) bucket holds
    // ~the whole corpus — the media_video cap must bound the candidate
    // set, and the verify join-back touches only capped pairs
    "q_media_video_dedup",
    // the image ingest face: every history band bucket hot under the
    // boilerplate corpus (media_bmp_hist cap bounds the index)
    "q_media_bmp_incremental",
    // the compressed-image faces under the same concentration: unique
    // trailers defeat the container-md5 collapse so every rep pays a
    // REAL inflate (png) / entropy-decode+IDCT (jpeg), and the
    // near-identical padded-grid aHashes make every band bucket hot —
    // the media_png / media_jpeg capPerKey tags must bound pair work
    // exactly like the bmp face
    "q_media_png_dedup", "q_media_jpeg_dedup",
    // the compressed-audio face under the same concentration — probed
    // at the SIGNATURE grain: the pair-LISTING face's hostile output is
    // quadratic BY SEMANTICS here (µ-law's coarse high-magnitude steps
    // collide distinct trailers into byte-identical containers; the
    // true pair set reached ~91M/~491M rows at 1×/2× and OOM'd the
    // global sort at 4× — measured, scaleprobe_r21_ulaw.jsonl, and
    // documented on the query), so the scalable face for this corpus
    // shape is the linear-output signature-grain dedup, which must
    // stay linear in docs
    "q_media_ulaw_sig_dedup",
    // the REAL-DECODE video face under the same shape: every rep pays
    // a genuine AVI parse and the shared early frames make every
    // (frame_idx, sig) bucket hot — the media_avi cap must bound the
    // candidate set exactly like the synthetic face's
    "q_media_avi_dedup",
    // the video ingest face: every history (frame_idx, sig) bucket hot
    // under the boilerplate corpus (media_avi_hist cap bounds the
    // index), per-arrival collision work must stay bucket-bounded
    "q_media_avi_incremental",
    // the COMPRESSED-frame video face under the same shape: every rep
    // pays a genuine MJPEG container walk + per-frame entropy-decode +
    // IDCT (the heaviest per-rep decode in the media family) and the
    // shared early frames make every (frame_idx, sig) bucket hot — the
    // media_avi_mjpeg cap must bound the candidate set exactly like
    // the lossless twin's
    "q_media_avi_mjpeg_dedup",
    // its ingest face: every history (frame_idx, sig) bucket hot under
    // the boilerplate corpus (media_avi_mjpeg_hist cap bounds the
    // index), per-arrival collision work bucket-bounded like the
    // lossless twin's
    "q_media_avi_mjpeg_incremental",
    // the banding sweep under the same concentration: ALL THREE
    // layouts' buckets go hot simultaneously (the 8x8 rung worst —
    // eight hot buckets per rep) — each layout's own capPerKey tag
    // must bound its pair set independently, report stays 3 rows
    "q_media_band_tune",
    // preference mining under defeat-the-collapse boilerplate: every
    // doc survives the exact collapse and the capped gram buckets
    // bound the closure exactly as in the clusters row; the added
    // per-component quality window is bounded by component size, so
    // the pair miner must track the clustering family's hostile
    // envelope, never exceed it
    "q_pref_pairs",
    // best-of-n under the ONE-HOT-CELL shape its two-phase selection
    // exists for: the hostile corpus is a single (source, lang) cell,
    // so the old full-cell windows would sort the whole corpus in ONE
    // task; phase 1's (source, lang, pid) ranking must keep the work
    // spread across input partitions and growth flat-to-linear in docs
    "q_pref_bon")

  /** The tokenizer triad re-probed on the DISTINCT-WORD-HEAVY corpus —
    * the anti-replica (r17 verdict directive 2): replicas duplicate
    * texts verbatim, so every prior tokenizer probe ran under a
    * CONSTANT vocabulary; this corpus is all unique random-identifier
    * words, so the per-distinct-word kernel input, the BPE/WordPiece
    * training word tables (and their merge-loop checkpoints), the
    * WordPiece alphabet collect, and the unigram seed-substring table
    * all grow linearly with the corpus. The probe pins HOW that growth
    * lands: linear-with-the-scan is the contract (vocabulary work is
    * linear in DISTINCT-WORD MASS, which here IS the corpus); any
    * superlinear segment is a finding to attribute and bound. */
  private val hostileTokQueries = Seq(
    "q_doc_bpe_train", "q_doc_bpe_apply",
    // the byte-level family under the same anti-replica: every word is
    // a DISTINCT BYTE SEQUENCE (identifier-shaped ASCII, so 1 byte per
    // char — the distinct-pretoken table, its hex-byte segs, and the
    // merge-loop checkpoints all grow with the corpus)
    "q_doc_bpe_bytes_train", "q_doc_bpe_bytes_apply",
    "q_doc_bpe_bytes_tune",
    "q_doc_wordpiece_train", "q_doc_wordpiece_apply",
    "q_doc_wordpiece_tune",
    "q_doc_unigram_tok_train", "q_doc_unigram_tok_apply",
    "q_doc_unigram_tune")

  /** 20 unique identifier-shaped words per doc, distinct CORPUS-WIDE by
    * construction (`w<p>x<id·20+p>` — injective below any probed n·20),
    * mixed-length digits so prefixes/suffixes still share substrings
    * the way real identifiers do. */
  private def hostileTokDocs(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      (col("id") + 1).as("doc_id"),
      lit("en").as("lang"),
      lit("hostile_tok").as("source"),
      concat_ws(" ", (0 until 20).map(p =>
        concat(lit(s"w${p}x"), (col("id") * 20 + p).cast("string"))): _*)
        .as("text"))

  private def hostileDocs(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      (col("id") + 1).as("doc_id"),
      lit("en").as("lang"),
      lit("hostile").as("source"), // the media family reads source
      concat(
        lit(("all work and no play makes the corpus a dull boilerplate " * 4)
          .trim + " unique trailer "),
        col("id").cast("string")).as("text"))

  /** Event queries re-probed under HOSTILE USER SKEW: one user owns half
    * the stream (the bot/monitor account every real event table has).
    * Per-user window/session operators put that user's whole history in
    * ONE window partition — the sort spills rather than breaks, but the
    * hot task's runtime is the floor; these rows measure how far that
    * floor actually moves at 8x. Hourly/typed aggregations are immune by
    * construction (their keys are time buckets / event types). */
  private val hostileEventQueries = Seq(
    "q_events_sessions", "q_events_user_profile", "q_window_running",
    "q_events_hourly", "q_merge_upsert",
    // attribution on the skewed user: the uncapped pair fan-out is
    // quadratic in the hot user's density; the probe runs with the
    // view cap at 50 (see the skew loop) and must show linear growth
    // with the refused views surfacing in hot_cells_attrib
    "q_events_attrib")

  /** q_semdedup re-probed on the degenerate corpus its cap exists for:
    * every embedding IDENTICAL, so every pair's cosine is exactly 1.0,
    * all N vectors land in ONE cell, and uncapped within-cell pairing
    * would be C(N,2). capPerKey truncates the cell to its 1000
    * min-vec_id members: pair work stays constant in N while the
    * one-row-per-vector output grows linearly, and the refused work
    * surfaces as the hot_buckets_semcell drop count. */
  private val hostileVecQueries =
    Seq("q_semdedup", "q_semdedup_incremental")

  /** The online greedy stream face probed over the same corpora (its
    * emitted row name in the jsonl record — filterable like any other
    * probe name). */
  private val hostileVecStreamFaces =
    Seq("s_semdedup_online", "s_ann_search", "s_ann_search_pq")

  private def hostileVecs(spark: SparkSession, n: Long): DataFrame = {
    // one fixed direction, float-typed to match the embeddings schema
    val v = array((0 until 64).map(p =>
      lit(((p % 7) + 1).toFloat / 7f)): _*)
    spark.range(n).select((col("id") + 1).as("vec_id"), v.as("embedding"))
  }

  /** The per-user STATEFUL streaming faces replayed over the same
    * skewed corpus (AvailableNow, memory sink): each
    * flatMapGroupsWithState twin buffers one group's micro-batch slice
    * with `rows.toSeq.sortBy` before applying it — under 50%-one-user
    * skew the hot user's slice IS half the batch, materialized on one
    * task. The probe measures how far that floor moves as the slice
    * doubles; the batch rows above measure the analogous window-sort
    * floor. gapfill/moving-avg/anomaly are keyed by event_type
    * (schema-bounded vocabulary) and immune by construction. */
  private val hostileStreamFaces = Seq(
    "s_sessionize", "s_funnel", "s_retention", "s_asof",
    // the outer stream-stream join under user skew: join state must be
    // bounded by the WATERMARK HORIZON (events within 4h of the max
    // seen), never the stream — the skew corpus packs k·100k events
    // into a constant ~28h span, so retained state grows with density
    // while the horizon stays fixed; the measurement is state rows vs
    // arrivals
    "s_attrib")

  /** (stream, sink output mode) — funnel declares Update-mode
    * flatMapGroupsWithState, so its memory sink must match. */
  private def streamFace(name: String, spark: SparkSession, dir: String)
      : (DataFrame, org.apache.spark.sql.streaming.OutputMode) = {
    import org.apache.spark.sql.streaming.OutputMode
    val ev = graft.streaming.EventStream.readEvents(spark, dir)
    name match {
      case "s_sessionize" =>
        (graft.streaming.EventStream.sessionize(spark, ev).toDF(),
          OutputMode.Append)
      case "s_funnel" =>
        (graft.streaming.EventStream.funnel(spark, ev).toDF(),
          OutputMode.Update)
      case "s_retention" =>
        (graft.streaming.EventStream.retentionHits(spark, ev).toDF(),
          OutputMode.Append)
      case "s_asof" =>
        (graft.streaming.EventStream.asofEnrich(spark, ev).toDF(),
          OutputMode.Append)
      case "s_attrib" =>
        (graft.streaming.EventStream.attribJoin(ev), OutputMode.Append)
    }
  }

  private def hostileEvents(spark: SparkSession, n: Long): DataFrame = {
    val types = array(lit("click"), lit("purchase"), lit("view"),
      lit("signup"), lit("error"))
    spark.range(n).select(
      (col("id") + 1).as("event_id"),
      // nanos over a ~28h span regardless of n: constant time range,
      // growing density — the ingest-rate growth shape
      (lit(1700000000000000000L) + (col("id") % 100000L) * 1000000000L)
        .as("ts"),
      when(col("id") % 2 === 0, 1L).otherwise(col("id")).as("user_id"),
      element_at(types, (col("id") % 5 + 1).cast("int")).as("event_type"),
      (col("id") % 1000).cast("double").as("value"),
      lit("{}").as("props"))
  }

  /** Tables whose long key columns shift per replica; dims stay fixed. */
  private val keyCols: Map[String, Seq[String]] = Map(
    "lineitem" -> Seq("l_orderkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "events" -> Seq("event_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "nation" -> Seq(),
    "region" -> Seq())

  /** Render a DataFrame's observed metrics (e.g. capPerKey's
    * `hot_buckets_<tag>` drop counters) as extra JSON fields, empty
    * string when the plan observes nothing. Long/numeric fields only —
    * that is all the graft observers emit. */
  private def observedJson(df: DataFrame): String = {
    val om = df.queryExecution.observedMetrics
    if (om.isEmpty) ""
    else {
      // null values are skipped and anything non-numeric is quoted (with
      // control/quote/backslash escaping): a surprise metric type must
      // never emit unparseable JSONL and lose the whole probe row
      val fields = om.toSeq.sortBy(_._1).flatMap { case (name, row) =>
        row.schema.fields.zipWithIndex.flatMap { case (f, i) =>
          row.get(i) match {
            case null => None
            // non-finite doubles/floats would print as bare NaN/Infinity —
            // invalid JSON, losing the whole probe row; quote them instead
            case d: java.lang.Double if d.isNaN || d.isInfinite =>
              Some(s""""${name}_${f.name}":"$d"""")
            case fl: java.lang.Float if fl.isNaN || fl.isInfinite =>
              Some(s""""${name}_${f.name}":"$fl"""")
            case n: java.lang.Number => Some(s""""${name}_${f.name}":$n""")
            case b: java.lang.Boolean => Some(s""""${name}_${f.name}":$b""")
            case other =>
              val esc = other.toString.flatMap {
                case '"' => "\\\""
                case '\\' => "\\\\"
                case c if c < ' ' => f"\\u${c.toInt}%04x"
                case c => c.toString
              }
              Some(s""""${name}_${f.name}":"$esc"""")
          }
        }
      }
      if (fields.isEmpty) "" else fields.mkString(",", ",", "")
    }
  }

  /** Peak state-store footprint over a drained stream's progress history:
    * (max total state rows, max total state memory bytes) summed across
    * the query's stateful operators per micro-batch. This is the MEASURED
    * form of the stateful faces' claimed memory bound — wall-clock alone
    * cannot distinguish "buffered the hot group's slice" from "buffered
    * the whole stream". Stateless faces report (0, 0). */
  private def stateMetrics(
      sq: org.apache.spark.sql.streaming.StreamingQuery): (Long, Long) = {
    val progs = sq.recentProgress
    def peak(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      progs.map(p => p.stateOperators.map(f).sum).foldLeft(0L)(math.max)
    (peak(_.numRowsTotal), peak(_.memoryUsedBytes))
  }

  /** Count a query's result through its OWN queryExecution and collect
    * the plan's observed metrics: a plain df.count() plans a separate
    * aggregate whose execution never runs this plan's observe
    * accumulators, so hot_buckets_* would read 0 even when the cap
    * dropped millions of members — and on a hostile corpus the DROP
    * COUNT is the probe's whole point. Errors surface as (-1, ""). */
  private def countWithObserved(spark: SparkSession, q: String,
                                dir: String, tag: String): (Long, String) =
    try {
      val df = SparkEntry.allQueries(q)(spark, dir)
      val c = df.queryExecution.toRdd.count()
      (c, observedJson(df))
    } catch { case e: Throwable =>
      System.err.println(s"$tag: $e"); (-1L, "") }

  private def replicate(df: DataFrame, cols: Seq[String], k: Int): DataFrame =
    if (cols.isEmpty) df // dimension: stays fixed, never duplicated
    else (0 until k).map { i =>
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * Offset)))
    }.reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    val maxFactor = args.headOption.map(_.toInt).getOrElse(8)
    val qFilter = args.drop(1).toSet
    val unknownQ = qFilter.diff(
      (probeQueries ++ hostileQueries ++ hostileTokQueries ++
        hostileEventQueries ++ hostileStreamFaces ++ hostileVecQueries ++
        hostileVecStreamFaces).toSet + "op_index_compact" +
        "op_index_retract" + "op_snapshot_retract" + "op_snapshot_binpack" +
        "op_snapshot_diff" + "op_snapshot_diffwalk" + "op_snapshot_diffvac" +
        "op_snapshot_packskew" + "op_snapshot_respec")
    require(unknownQ.isEmpty,
      s"unknown probe query name(s): ${unknownQ.toSeq.sorted.mkString(", ")}")
    val pickedProbes =
      if (qFilter.isEmpty) probeQueries else probeQueries.filter(qFilter)
    val pickedHostile =
      if (qFilter.isEmpty) hostileQueries else hostileQueries.filter(qFilter)
    val pickedHostileTok =
      if (qFilter.isEmpty) hostileTokQueries
      else hostileTokQueries.filter(qFilter)
    val pickedHostileEvents =
      if (qFilter.isEmpty) hostileEventQueries
      else hostileEventQueries.filter(qFilter)
    val pickedStreamFaces =
      if (qFilter.isEmpty) hostileStreamFaces
      else hostileStreamFaces.filter(qFilter)
    val pickedHostileVecs =
      if (qFilter.isEmpty) hostileVecQueries
      else hostileVecQueries.filter(qFilter)
    val pickedVecStreamFaces =
      if (qFilter.isEmpty) hostileVecStreamFaces
      else hostileVecStreamFaces.filter(qFilter)
    val base = "/root/testdata/sf0.1"
    val spark = Session.get()
    // stateMetrics derives peak state from sq.recentProgress, which
    // retains only the last numRecentProgressUpdates micro-batches
    // (default 100): a maxFilesPerTrigger=1 source replaying >100
    // files would silently understate the peak — the exact number the
    // state-bound claims rest on. Retention is raised far above any
    // probe's possible micro-batch count so the peak is a true max.
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    // same A/B hook as Bench: exclude an injected rule by name to probe
    // a query's interpreted arm (see plans/GraftExtensions scaladoc)
    sys.env.get("SPARK_GRAFT_EXCLUDE_RULES").foreach(r =>
      spark.conf.set("spark.sql.optimizer.excludedRules", r))

    val minFactor =
      sys.env.get("SPARK_GRAFT_MIN_FACTOR").map(_.toInt).getOrElse(1)
    val factors = Iterator.iterate(1)(_ * 2).takeWhile(_ <= maxFactor)
      .filter(_ >= minFactor).toSeq
    // a filtered run must only materialize the corpora it will probe —
    // a hostile-only filter skips the f<K> replicas and vice versa
    val dirs = if (pickedProbes.isEmpty) Seq.empty else factors.map { k =>
      if (k == 1) k -> base
      else {
        val dir = s"target/scale/f$k"
        val complete = keyCols.keys.forall(t =>
          new java.io.File(s"$dir/$t.parquet/_SUCCESS").exists())
        if (!complete) {
          keyCols.foreach { case (t, cols) =>
            replicate(Tables.table(spark, base, t), cols, k)
              .write.mode(SaveMode.Overwrite).parquet(s"$dir/$t.parquet")
          }
        }
        k -> dir
      }
    }

    // warm up
    spark.range(1000).selectExpr("sum(id)").collect()
    dirs.foreach { case (k, dir) =>
      pickedProbes.foreach { q =>
        val t0 = System.nanoTime()
        val n = try SparkEntry.allQueries(q)(spark, dir).count()
        catch { case e: Throwable => System.err.println(s"$q@$k: $e"); -1L }
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"factor":$k,"query":"$q","sec":$sec%.3f,"rows":$n}""")
      }
    }

    // hostile corpus: 20k near-identical docs per factor unit
    val hostileDirs = if (pickedHostile.isEmpty) Seq.empty else factors.map { k =>
      val dir = s"target/scale/hostile_f$k"
      if (!new java.io.File(s"$dir/documents.parquet/_SUCCESS").exists())
        hostileDocs(spark, 20000L * k).repartition(8)
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
      k -> dir
    }
    hostileDirs.foreach { case (k, dir) =>
      pickedHostile.foreach { q =>
        val t0 = System.nanoTime()
        val (n, om) = countWithObserved(spark, q, dir, s"$q@$k")
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"factor":$k,"query":"$q","sec":$sec%.3f,"rows":$n$om,"hostile":true}""")
      }
    }

    // distinct-word-heavy corpus: 5k docs x 20 unique words per factor
    // unit (100k NEW vocabulary entries per unit — the opposite of the
    // replica corpora's constant vocabulary)
    val hostileTokDirs =
      if (pickedHostileTok.isEmpty) Seq.empty
      else factors.map { k =>
        val dir = s"target/scale/hosttok_f$k"
        if (!new java.io.File(s"$dir/documents.parquet/_SUCCESS").exists())
          hostileTokDocs(spark, 5000L * k).repartition(8)
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
        k -> dir
      }
    hostileTokDirs.foreach { case (k, dir) =>
      pickedHostileTok.foreach { q =>
        val t0 = System.nanoTime()
        val (n, om) = countWithObserved(spark, q, dir, s"$q@tok$k")
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"factor":$k,"query":"$q","sec":$sec%.3f,"rows":$n$om,"hostile":"distinct_words"}""")
      }
    }

    // index-compaction cost: a CONSTANT increment merged into bucketed
    // fingerprint histories of growing size — the op's claim is that
    // compaction cost scales with the INCREMENT (one anti-join + one
    // bucket append of its survivors), so the timed seconds must stay
    // flat while the history grows k×. History build time is setup,
    // not part of the op, and is not timed. Filter name:
    // op_index_compact (not a dump query — the oracle certifies
    // q_index_compact's semantics; this measures the maintenance op).
    if (qFilter.isEmpty || qFilter("op_index_compact")) {
      val docs = Tables.table(spark, base, "documents").select(
        col("doc_id"),
        coalesce(graft.Clean.fingerprint(col("text")), lit("")).as("fp"))
      val incr = docs.filter(col("doc_id") % 10 === 0)
        .groupBy(col("fp")).agg(min(col("doc_id")).as("owner_id"))
        .localCheckpoint()
      factors.foreach { k =>
        val table = s"fp_idx_probe_f$k"
        // synthetic distinct keys per replica copy so the history's
        // DISTINCT-fp mass actually grows k× (verbatim replicas would
        // collapse to one copy's keys under keep-first)
        val hist = spark.range(k).toDF("copy")
          .crossJoin(docs.filter(col("doc_id") % 10 =!= 0))
          .select(
            when(col("copy") === 0, col("fp"))
              .otherwise(concat(col("fp"), lit("#"), col("copy")))
              .as("fp"),
            col("doc_id").as("owner_id"))
          .groupBy(col("fp")).agg(min(col("owner_id")).as("owner_id"))
        graft.sources.Layout.writeBucketed(hist, table, "fp")
        val histRows = spark.table(table).count()
        val t0 = System.nanoTime()
        val appended = graft.operators.IndexCompact.compact(
          spark, table, incr, Seq("fp"))
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"factor":$k,"query":"op_index_compact","sec":$sec%.3f,"rows":$appended,"history_rows":$histRows}""")
        spark.sql(s"DROP TABLE IF EXISTS $table")
      }
    }

    // index-retraction cost: a CONSTANT delete-list (one doc's gram
    // postings) folded out of partition-routed stores of growing size,
    // with partition fan-out scaled to the corpus (64·k partitions —
    // the production sizing rule: partitions ∝ corpus bytes). The op's
    // claim is that copy-on-write cost ∝ AFFECTED-partition bytes, so
    // with fan-out scaling the timed fold stays ~flat while the store
    // grows k×. Store build time is setup, not timed. Synthetic
    // distinct grams per replica copy keep the distinct-key mass
    // actually growing (the compact block's device).
    if (qFilter.isEmpty || qFilter("op_index_retract")) {
      val postings = {
        val docs = Tables.table(spark, base, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"),
            split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
              .as("t"))
          .filter(size(col("t")) >= 5)
        Tables.spread(docs, col("doc_id"))
          .select(col("doc_id"), col("t"),
            explode(sequence(lit(1), size(col("t")) - 4)).as("i"))
          .select(col("doc_id"),
            md5(concat_ws(" ", slice(col("t"), col("i"), lit(5)))).as("g"))
          .distinct()
          .localCheckpoint()
      }
      factors.foreach { k =>
        val parts = 64 * k
        val store = s"gram_postings_probe_f$k"
        val tomb = s"gram_tombstones_probe_f$k"
        graft.sources.Layout.resetTable(spark, store)
        graft.sources.Layout.resetTable(spark, tomb)
        spark.range(k).toDF("copy")
          .crossJoin(postings)
          .select(
            when(col("copy") === 0, col("g"))
              .otherwise(concat(col("g"), lit("#"), col("copy"))).as("g"),
            col("doc_id"))
          .withColumn("pt", pmod(xxhash64(col("g")), lit(parts)).cast("int"))
          .write.partitionBy("pt").format("parquet").saveAsTable(store)
        val storeRows = spark.table(store).count()
        val dead = postings.filter(col("doc_id") === 7)
          .withColumn("pt", pmod(xxhash64(col("g")), lit(parts)).cast("int"))
          .localCheckpoint()
        // the naive baseline the op exists to avoid: full-store
        // anti-join + full rewrite (to a scratch table — same read
        // volume, same survivors, every partition written). Timed
        // FIRST so the real store is still pre-fold.
        val t1 = System.nanoTime()
        val naive = spark.table(store)
          .join(dead.select(col("g"), col("doc_id")), Seq("g", "doc_id"),
            "left_anti")
          .repartition(col("pt"))
        naive.write.mode(SaveMode.Overwrite).partitionBy("pt")
          .format("parquet").saveAsTable(s"${store}_rewrite")
        val rewriteSec = (System.nanoTime() - t1) / 1e9
        spark.sql(s"DROP TABLE IF EXISTS ${store}_rewrite")
        graft.operators.IndexRetract.tombstone(spark, tomb, dead)
        val t0 = System.nanoTime()
        val stats = graft.operators.IndexRetract.fold(
          spark, store, tomb, "pt", Seq("g", "doc_id"))
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"factor":$k,"query":"op_index_retract","sec":$sec%.3f,"rows":${stats.rowsRemoved},"store_rows":$storeRows,"partitions":$parts,"affected":${stats.partitionsRewritten},"rewrite_sec":$rewriteSec%.3f}""")
        spark.sql(s"DROP TABLE IF EXISTS $store")
      }
    }

    // op_snapshot_retract: the SAME constant-delete-list fold through
    // the atomic snapshot protocol — the claim the SCALING r21 table
    // makes ("the commit protocol costs nothing measurable; cost stays
    // affected-partition-bound") measured at the table path's exact
    // geometry, plus the vacuum sweep's cost
    if (qFilter.isEmpty || qFilter("op_snapshot_retract")) {
      val postings = {
        val docs = Tables.table(spark, base, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"),
            split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
              .as("t"))
          .filter(size(col("t")) >= 5)
        Tables.spread(docs, col("doc_id"))
          .select(col("doc_id"), col("t"),
            explode(sequence(lit(1), size(col("t")) - 4)).as("i"))
          .select(col("doc_id"),
            md5(concat_ws(" ", slice(col("t"), col("i"), lit(5)))).as("g"))
          .distinct()
          .localCheckpoint()
      }
      factors.foreach { k =>
        val parts = 64 * k
        val root = java.nio.file.Files
          .createTempDirectory(s"snap_probe_f$k").resolve("store").toString
        val amplified = spark.range(k).toDF("copy")
          .crossJoin(postings)
          .select(
            when(col("copy") === 0, col("g"))
              .otherwise(concat(col("g"), lit("#"), col("copy"))).as("g"),
            col("doc_id"))
          .withColumn("pt", pmod(xxhash64(col("g")), lit(parts)).cast("int"))
        graft.sources.SnapshotStore.init(spark, root, amplified, "pt")
        val storeRows = graft.sources.SnapshotStore.read(spark, root).count()
        val dead = postings.filter(col("doc_id") === 7)
          .withColumn("pt", pmod(xxhash64(col("g")), lit(parts)).cast("int"))
          .localCheckpoint()
        val t0 = System.nanoTime()
        val (affected, removed, _) = graft.sources.SnapshotStore.retract(
          spark, root, dead, Seq("g", "doc_id"), "pt")
        val sec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val vacuumed =
          graft.sources.SnapshotStore.vacuum(spark, root, keepVersions = 1)
        val vacSec = (System.nanoTime() - t1) / 1e9
        println(f"""{"factor":$k,"query":"op_snapshot_retract","sec":$sec%.3f,"rows":$removed,"store_rows":$storeRows,"partitions":$parts,"affected":$affected,"vacuum_files":$vacuumed,"vacuum_sec":$vacSec%.3f}""")
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
      }
    }

    // op_snapshot_binpack: the OPTIMIZE op's payoff measured — a store
    // fed by 16 sequential ingest commits accretes 16 small files per
    // partition (the micro-batch-loop accretion pattern); the probe
    // times a full scan BEFORE the pack (many-files cost), the pack
    // itself (∝ fragmented bytes), and the scan AFTER (consolidated),
    // with file counts attached so the recovery is attributable
    if (qFilter.isEmpty || qFilter("op_snapshot_binpack")) {
      val postings = {
        val docs = Tables.table(spark, base, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"),
            split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
              .as("t"))
          .filter(size(col("t")) >= 5)
        Tables.spread(docs, col("doc_id"))
          .select(col("doc_id"), col("t"),
            explode(sequence(lit(1), size(col("t")) - 4)).as("i"))
          .select(col("doc_id"),
            md5(concat_ws(" ", slice(col("t"), col("i"), lit(5)))).as("g"))
          .distinct()
          .localCheckpoint()
      }
      factors.foreach { k =>
        val parts = 64
        val root = java.nio.file.Files
          .createTempDirectory(s"snap_pack_f$k").resolve("store").toString
        val amplified = spark.range(k).toDF("copy")
          .crossJoin(postings)
          .select(
            when(col("copy") === 0, col("g"))
              .otherwise(concat(col("g"), lit("#"), col("copy"))).as("g"),
            col("doc_id"))
          .withColumn("pt", pmod(xxhash64(col("g")), lit(parts)).cast("int"))
          .localCheckpoint()
        graft.sources.SnapshotStore.init(spark, root,
          amplified.filter(col("doc_id") % 16 === 0), "pt")
        (1 to 15).foreach { sl =>
          graft.sources.SnapshotStore.compact(spark, root,
            amplified.filter(col("doc_id") % 16 === sl),
            Seq("g", "doc_id"), "pt")
        }
        val filesBefore =
          graft.sources.SnapshotStore.current(spark, root).files.size
        val t0 = System.nanoTime()
        val rowsBefore = graft.sources.SnapshotStore.read(spark, root).count()
        val scanFragSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val (packed, replaced, _) =
          graft.sources.SnapshotStore.binPack(spark, root)
        val packSec = (System.nanoTime() - t1) / 1e9
        val filesAfter =
          graft.sources.SnapshotStore.current(spark, root).files.size
        val t2 = System.nanoTime()
        val rowsAfter = graft.sources.SnapshotStore.read(spark, root).count()
        val scanPackSec = (System.nanoTime() - t2) / 1e9
        require(rowsBefore == rowsAfter, "binPack changed the row count")
        println(f"""{"factor":$k,"query":"op_snapshot_binpack","sec":$packSec%.3f,"rows":$rowsBefore,"files_before":$filesBefore,"files_after":$filesAfter,"packed_partitions":$packed,"replaced_files":$replaced,"scan_frag_sec":$scanFragSec%.3f,"scan_packed_sec":$scanPackSec%.3f}""")
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
      }
    }

    // op_snapshot_diff: the change feed's pruning claim MEASURED, not
    // just plan-pinned — a CONSTANT single-slice ingest lands on a
    // store growing 250k -> 2M rows (partitions ∝ corpus, the sizing
    // rule), and the manifest-pruned diff must stay flat (cost ∝
    // changed-partition bytes) while the NAIVE diff (both versions
    // read in full, the same two anti-joins) grows with the store —
    // the fold-vs-rewrite comparison, at the feed
    if (qFilter.isEmpty || qFilter("op_snapshot_diff")) {
      val postings = {
        val docs = Tables.table(spark, base, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"),
            split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
              .as("t"))
          .filter(size(col("t")) >= 5)
        Tables.spread(docs, col("doc_id"))
          .select(col("doc_id"), col("t"),
            explode(sequence(lit(1), size(col("t")) - 4)).as("i"))
          .select(col("doc_id"),
            md5(concat_ws(" ", slice(col("t"), col("i"), lit(5)))).as("g"))
          .distinct()
          .localCheckpoint()
      }
      factors.foreach { k =>
        val parts = 64 * k
        val root = java.nio.file.Files
          .createTempDirectory(s"snap_diff_f$k").resolve("store").toString
        val amplified = spark.range(k).toDF("copy")
          .crossJoin(postings)
          .select(
            when(col("copy") === 0, col("g"))
              .otherwise(concat(col("g"), lit("#"), col("copy"))).as("g"),
            col("doc_id"))
          .withColumn("pt", pmod(xxhash64(col("g")), lit(parts)).cast("int"))
          .localCheckpoint()
        graft.sources.SnapshotStore.init(spark, root, amplified, "pt")
        val storeRows = amplified.count()
        // the constant increment: one doc's postings (routes to a
        // bounded set of partitions at any store size)
        val inc = postings.filter(col("doc_id") === 7)
          .select(concat(col("g"), lit("#new")).as("g"), col("doc_id"))
          .withColumn("pt", pmod(xxhash64(col("g")), lit(parts)).cast("int"))
        graft.sources.SnapshotStore.compact(spark, root, inc,
          Seq("g", "doc_id"), "pt")
        val t0 = System.nanoTime()
        val fed = graft.sources.SnapshotStore.diff(
          spark, root, 1L, 2L, Seq("g", "doc_id")).count()
        val sec = (System.nanoTime() - t0) / 1e9
        // the naive feed: both versions in full, same two anti-joins
        val t1 = System.nanoTime()
        val v1 = graft.sources.SnapshotStore.readAt(spark, root, 1L)
        val v2 = graft.sources.SnapshotStore.readAt(spark, root, 2L)
        val naive =
          v2.join(v1.select(col("g"), col("doc_id")), Seq("g", "doc_id"),
              "left_anti").count() +
          v1.join(v2.select(col("g"), col("doc_id")), Seq("g", "doc_id"),
              "left_anti").count()
        val naiveSec = (System.nanoTime() - t1) / 1e9
        require(fed == naive, s"pruned feed $fed != naive $naive")
        println(f"""{"factor":$k,"query":"op_snapshot_diff","sec":$sec%.3f,"rows":$fed,"store_rows":$storeRows,"partitions":$parts,"naive_sec":$naiveSec%.3f}""")
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
      }
    }

    // op_snapshot_diffwalk: the OP-ATTRIBUTED walk's claim MEASURED —
    // a diff whose interval contains a binPack. Every partition's
    // file-NAME set changes at the pack, so the endpoint comparison
    // (the r17 shape, kept as the measured counterfactual arm) re-reads
    // the WHOLE packed store for a diff whose true answer is one
    // increment; the walk attributes the pack step as a reorg and reads
    // only the data-step's partitions — walk_sec must stay flat while
    // naive_sec grows with the store
    if (qFilter.isEmpty || qFilter("op_snapshot_diffwalk")) {
      val postings = {
        val docs = Tables.table(spark, base, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"),
            split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
              .as("t"))
          .filter(size(col("t")) >= 5)
        Tables.spread(docs, col("doc_id"))
          .select(col("doc_id"), col("t"),
            explode(sequence(lit(1), size(col("t")) - 4)).as("i"))
          .select(col("doc_id"),
            md5(concat_ws(" ", slice(col("t"), col("i"), lit(5)))).as("g"))
          .distinct()
          .localCheckpoint()
      }
      factors.foreach { k =>
        val parts = 64 * k
        val root = java.nio.file.Files
          .createTempDirectory(s"snap_dwalk_f$k").resolve("store").toString
        val amplified = spark.range(k).toDF("copy")
          .crossJoin(postings)
          .select(
            when(col("copy") === 0, col("g"))
              .otherwise(concat(col("g"), lit("#"), col("copy"))).as("g"),
            col("doc_id"))
          .withColumn("pt", pmod(xxhash64(col("g")), lit(parts)).cast("int"))
          .localCheckpoint()
        // two half-slices fragment every partition, then the constant
        // one-doc increment, then the pack that renames everything
        graft.sources.SnapshotStore.init(spark, root,
          amplified.filter(col("doc_id") % 2 === 0), "pt")           // v1
        graft.sources.SnapshotStore.compact(spark, root, amplified,
          Seq("g", "doc_id"), "pt")                                  // v2
        val inc = postings.filter(col("doc_id") === 7)
          .select(concat(col("g"), lit("#new")).as("g"), col("doc_id"))
          .withColumn("pt", pmod(xxhash64(col("g")), lit(parts)).cast("int"))
        graft.sources.SnapshotStore.compact(spark, root, inc,
          Seq("g", "doc_id"), "pt")                                  // v3
        graft.sources.SnapshotStore.binPack(spark, root)             // v4
        val storeRows = amplified.count()
        val t0 = System.nanoTime()
        val walkRows = graft.sources.SnapshotStore.diff(
          spark, root, 2L, 4L, Seq("g", "doc_id")).count()
        val walkSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val naiveRows = graft.sources.SnapshotStore.diff(
          spark, root, 2L, 4L, Seq("g", "doc_id"),
          endpointNameSetOnly = true).count()
        val naiveSec = (System.nanoTime() - t1) / 1e9
        require(walkRows == naiveRows,
          s"walk diff $walkRows != endpoint diff $naiveRows")
        println(f"""{"factor":$k,"query":"op_snapshot_diffwalk","sec":$walkSec%.3f,"rows":$walkRows,"store_rows":$storeRows,"partitions":$parts,"naive_sec":$naiveSec%.3f}""")
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
      }
    }

    // op_snapshot_diffvac: the diffwalk claim ACROSS A VACUUM — before
    // r19, reclaiming any intermediate version degraded the walk to the
    // endpoint arm, so a consumer diffing past a vacuumed reorg re-read
    // the whole packed store; with retired roots retained as
    // metadata-only history the walk stays pruned. Same store shape as
    // op_snapshot_diffwalk, but v1/v3 are vacuumed (v2 pinned via
    // alsoRetain as the consumer's cursor) before the measured diff —
    // walk_sec must stay flat with naive_sec growing, exactly like the
    // unvacuumed twin
    if (qFilter.isEmpty || qFilter("op_snapshot_diffvac")) {
      val postings = {
        val docs = Tables.table(spark, base, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"),
            split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
              .as("t"))
          .filter(size(col("t")) >= 5)
        Tables.spread(docs, col("doc_id"))
          .select(col("doc_id"), col("t"),
            explode(sequence(lit(1), size(col("t")) - 4)).as("i"))
          .select(col("doc_id"),
            md5(concat_ws(" ", slice(col("t"), col("i"), lit(5)))).as("g"))
          .distinct()
          .localCheckpoint()
      }
      factors.foreach { k =>
        val parts = 64 * k
        val root = java.nio.file.Files
          .createTempDirectory(s"snap_dvac_f$k").resolve("store").toString
        val amplified = spark.range(k).toDF("copy")
          .crossJoin(postings)
          .select(
            when(col("copy") === 0, col("g"))
              .otherwise(concat(col("g"), lit("#"), col("copy"))).as("g"),
            col("doc_id"))
          .withColumn("pt", pmod(xxhash64(col("g")), lit(parts)).cast("int"))
          .localCheckpoint()
        graft.sources.SnapshotStore.init(spark, root,
          amplified.filter(col("doc_id") % 2 === 0), "pt")           // v1
        graft.sources.SnapshotStore.compact(spark, root, amplified,
          Seq("g", "doc_id"), "pt")                                  // v2
        val inc = postings.filter(col("doc_id") === 7)
          .select(concat(col("g"), lit("#new")).as("g"), col("doc_id"))
          .withColumn("pt", pmod(xxhash64(col("g")), lit(parts)).cast("int"))
        graft.sources.SnapshotStore.compact(spark, root, inc,
          Seq("g", "doc_id"), "pt")                                  // v3
        graft.sources.SnapshotStore.binPack(spark, root)             // v4
        // the vacuum that used to break the walk: v1 and v3 retire
        // (roots → history), v2 survives only through alsoRetain
        val reclaimed = graft.sources.SnapshotStore.vacuum(spark, root,
          keepVersions = 1, alsoRetain = Set(2L))
        val storeRows = amplified.count()
        val t0 = System.nanoTime()
        val walkRows = graft.sources.SnapshotStore.diff(
          spark, root, 2L, 4L, Seq("g", "doc_id")).count()
        val walkSec = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val naiveRows = graft.sources.SnapshotStore.diff(
          spark, root, 2L, 4L, Seq("g", "doc_id"),
          endpointNameSetOnly = true).count()
        val naiveSec = (System.nanoTime() - t1) / 1e9
        require(walkRows == naiveRows,
          s"walk diff $walkRows != endpoint diff $naiveRows")
        println(f"""{"factor":$k,"query":"op_snapshot_diffvac","sec":$walkSec%.3f,"rows":$walkRows,"store_rows":$storeRows,"partitions":$parts,"naive_sec":$naiveSec%.3f,"vacuum_files":$reclaimed}""")
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
      }
    }

    // op_snapshot_packskew: the size-targeted pack's straggler claim
    // MEASURED — a corpus where ONE partition holds ~half the rows.
    // One-file consolidation (the counterfactual arm) writes the hot
    // partition through a single task, so pack time tracks the hot
    // partition's size no matter how many cores idle; the targeted
    // pack shuffles on (partition, bin) and writes the hot partition's
    // bins in parallel with every file hard-bounded by the target
    if (qFilter.isEmpty || qFilter("op_snapshot_packskew")) {
      val postings = {
        val docs = Tables.table(spark, base, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"),
            split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
              .as("t"))
          .filter(size(col("t")) >= 5)
        Tables.spread(docs, col("doc_id"))
          .select(col("doc_id"), col("t"),
            explode(sequence(lit(1), size(col("t")) - 4)).as("i"))
          .select(col("doc_id"),
            md5(concat_ws(" ", slice(col("t"), col("i"), lit(5)))).as("g"))
          .distinct()
          .localCheckpoint()
      }
      factors.foreach { k =>
        val parts = 64
        // half the keys route to pt=0 (the hot partition), the rest
        // hash across the fan-out
        val amplified = spark.range(k).toDF("copy")
          .crossJoin(postings)
          .select(
            when(col("copy") === 0, col("g"))
              .otherwise(concat(col("g"), lit("#"), col("copy"))).as("g"),
            col("doc_id"))
          .withColumn("pt",
            when(pmod(xxhash64(col("g")), lit(2)) === 0, lit(0))
              .otherwise(pmod(xxhash64(col("g")), lit(parts)).cast("int")))
          .localCheckpoint()
        def buildStore(): String = {
          val root = java.nio.file.Files
            .createTempDirectory(s"snap_skew_f$k").resolve("store").toString
          graft.sources.SnapshotStore.init(spark, root,
            amplified.filter(col("doc_id") % 4 === 0), "pt")
          (1 to 3).foreach { sl =>
            graft.sources.SnapshotStore.compact(spark, root,
              amplified.filter(col("doc_id") % 4 === sl),
              Seq("g", "doc_id"), "pt")
          }
          root
        }
        def drop(root: String): Unit = {
          val fs = new org.apache.hadoop.fs.Path(root)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
          ()
        }
        // hot-partition size from the MANIFEST STATS — zero I/O
        val probeRoot = buildStore()
        val snap = graft.sources.SnapshotStore.current(spark, probeRoot)
        val hotRows = snap.files.filter(_.startsWith("pt=0/"))
          .flatMap(snap.stats.get).map(_.rows).sum
        val target = math.max(1L, hotRows / 8L)
        val t0 = System.nanoTime()
        graft.sources.SnapshotStore.binPack(spark, probeRoot,
          targetRowsPerFile = target)
        val targetSec = (System.nanoTime() - t0) / 1e9
        val after = graft.sources.SnapshotStore.current(spark, probeRoot)
        val hotFiles = after.files.count(_.startsWith("pt=0/"))
        drop(probeRoot)
        // counterfactual: one-file consolidation, fresh identical store
        val oneRoot = buildStore()
        val t1 = System.nanoTime()
        graft.sources.SnapshotStore.binPack(spark, oneRoot)
        val oneSec = (System.nanoTime() - t1) / 1e9
        drop(oneRoot)
        println(f"""{"factor":$k,"query":"op_snapshot_packskew","sec":$targetSec%.3f,"rows":${amplified.count()},"hot_rows":$hotRows,"hot_files_after":$hotFiles,"one_file_sec":$oneSec%.3f,"partitions":$parts}""")
      }
    }

    // op_snapshot_respec: partition-spec evolution's cost claim — an
    // incremental re-spec (4 of 64 dirs per call, the
    // partition-at-a-time migration) must cost ∝ the CHOSEN
    // partitions' bytes while the full re-spec costs ∝ store bytes;
    // both measured on fresh identical stores, with content invariance
    // required on the incremental arm
    if (qFilter.isEmpty || qFilter("op_snapshot_respec")) {
      val postings = {
        val docs = Tables.table(spark, base, "documents")
          .filter(length(trim(col("text"))) > 0)
          .select(col("doc_id"),
            split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
              .as("t"))
          .filter(size(col("t")) >= 5)
        Tables.spread(docs, col("doc_id"))
          .select(col("doc_id"), col("t"),
            explode(sequence(lit(1), size(col("t")) - 4)).as("i"))
          .select(col("doc_id"),
            md5(concat_ws(" ", slice(col("t"), col("i"), lit(5)))).as("g"))
          .distinct()
          .localCheckpoint()
      }
      factors.foreach { k =>
        val parts = 64
        val amplified = spark.range(k).toDF("copy")
          .crossJoin(postings)
          .select(
            when(col("copy") === 0, col("g"))
              .otherwise(concat(col("g"), lit("#"), col("copy"))).as("g"),
            col("doc_id"))
          .withColumn("pt", pmod(xxhash64(col("g")), lit(parts)).cast("int"))
          .localCheckpoint()
        val newPart =
          pmod(xxhash64(col("g")), lit(2L * parts)).cast("int")
        def buildStore(): String = {
          val root = java.nio.file.Files
            .createTempDirectory(s"snap_respec_f$k").resolve("store").toString
          graft.sources.SnapshotStore.init(spark, root, amplified, "pt")
          root
        }
        def drop(root: String): Unit = {
          val fs = new org.apache.hadoop.fs.Path(root)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(root).getParent, true)
          ()
        }
        val incrRoot = buildStore()
        val dirs = graft.sources.SnapshotStore.current(spark, incrRoot)
          .files.map(_.takeWhile(_ != '/')).distinct.sorted.take(4)
        val before = graft.sources.SnapshotStore.read(spark, incrRoot).count()
        val t0 = System.nanoTime()
        val (movedIncr, _) = graft.sources.SnapshotStore.respec(
          spark, incrRoot, newPart, dirs)
        val incrSec = (System.nanoTime() - t0) / 1e9
        require(movedIncr == dirs.size)
        require(graft.sources.SnapshotStore.read(spark, incrRoot).count()
          == before, "incremental respec changed the row count")
        drop(incrRoot)
        val fullRoot = buildStore()
        val t1 = System.nanoTime()
        val (movedFull, _) = graft.sources.SnapshotStore.respec(
          spark, fullRoot, newPart)
        val fullSec = (System.nanoTime() - t1) / 1e9
        require(movedFull == parts)
        drop(fullRoot)
        println(f"""{"factor":$k,"query":"op_snapshot_respec","sec":$incrSec%.3f,"rows":$before,"dirs_chosen":${dirs.size},"dirs_total":$parts,"full_sec":$fullSec%.3f}""")
      }
    }

    // hostile user skew: 100k events per factor unit, half on one user
    val skewDirs =
      if (pickedHostileEvents.isEmpty && pickedStreamFaces.isEmpty) Seq.empty
      else factors.map { k =>
        val dir = s"target/scale/skewev_f$k"
        if (!new java.io.File(s"$dir/events.parquet/_SUCCESS").exists())
          hostileEvents(spark, 100000L * k).repartition(8)
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
        k -> dir
      }
    skewDirs.foreach { case (k, dir) =>
      pickedHostileEvents.foreach { q =>
        // the attribution probe runs with a production-lowered view cap
        // (50): the skewed user's per-cell view density crosses it from
        // 1x, so the measurement shows the bot-guard contract — output
        // and wall-clock linear in arrivals with the constant 2·cap
        // per-purchase bound, refused views in the observed metric —
        // instead of the uncapped quadratic pair blow-up
        if (q == "q_events_attrib")
          spark.conf.set("spark.graft.events.maxViewsPerCell", "50")
        val t0 = System.nanoTime()
        val (n, om) = try countWithObserved(spark, q, dir, s"$q@skew$k")
        catch { case e: Throwable =>
          System.err.println(s"$q@$k: $e"); (-1L, "") }
        val sec = (System.nanoTime() - t0) / 1e9
        if (q == "q_events_attrib")
          spark.conf.unset("spark.graft.events.maxViewsPerCell")
        println(f"""{"factor":$k,"query":"$q","sec":$sec%.3f,"rows":$n$om,"hostile":"user_skew"}""")
      }
      // streaming faces: AvailableNow replay into a memory sink (row
      // count doubles as the work check); timing covers the whole
      // drain, micro-batch machinery included
      pickedStreamFaces.foreach { q =>
        val table = s"probe_${q}_f$k"
        val t0 = System.nanoTime()
        val (n, stRows, stMem) = try {
          val (df, mode) = streamFace(q, spark, s"$dir/events.parquet")
          // s_attrib's skew output is the interval join's quadratic
          // pair fan-out (millions of wide rows per factor unit) — a
          // memory sink OOMs COLLECTING it even though the join state
          // itself stays horizon-bounded; count per micro-batch in a
          // foreachBatch sink instead, so the probe measures the
          // OPERATOR, not an in-memory table of its output
          if (q == "s_attrib") {
            val total = new java.util.concurrent.atomic.AtomicLong(0L)
            val sq = df.writeStream
              .outputMode(mode)
              .foreachBatch { (b: DataFrame, _: Long) =>
                total.addAndGet(b.count()); ()
              }
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
            sq.awaitTermination()
            val (r, m) = stateMetrics(sq)
            (total.get(), r, m)
          } else {
            val sq = graft.streaming.EventStream.runToMemory(df, table, mode)
            sq.awaitTermination()
            val (r, m) = stateMetrics(sq)
            (spark.table(table).count(), r, m)
          }
        } catch { case e: Throwable =>
          System.err.println(s"$q@$k: $e"); (-1L, 0L, 0L) }
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"factor":$k,"query":"$q","sec":$sec%.3f,"rows":$n,"state_rows":$stRows,"state_mem_bytes":$stMem,"hostile":"user_skew_stream"}""")
      }
    }

    // hostile embeddings: 20k identical vectors per factor unit — one
    // cell, every pair at cosine 1.0; the cap bounds the pairing
    val vecDirs =
      if (pickedHostileVecs.isEmpty && pickedVecStreamFaces.isEmpty)
        Seq.empty
      else factors.map { k =>
        val dir = s"target/scale/hostvec_f$k"
        if (!new java.io.File(s"$dir/embeddings.parquet/_SUCCESS").exists())
          hostileVecs(spark, 20000L * k).repartition(8)
            .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
        k -> dir
      }
    vecDirs.foreach { case (k, dir) =>
      pickedHostileVecs.foreach { q =>
        val t0 = System.nanoTime()
        val (n, om) = countWithObserved(spark, q, dir, s"$q@$k")
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"factor":$k,"query":"$q","sec":$sec%.3f,"rows":$n$om,"hostile":"same_embedding"}""")
      }
      // the ANN SERVING face on the same corpus: a FIXED 10-probe set
      // (the q_knn_dot device) against an index where every vector
      // occupies ONE hot cell — per-probe work is the cell population,
      // so wall-clock must grow LINEARLY in n (the documented
      // uncapped-index contract: a hot cell is a quantizer-quality
      // problem, prepareAnnIndex scaladoc) while rows stay 10x5 and
      // state stays ZERO at every factor
      if (pickedVecStreamFaces.contains("s_ann_search")) {
        val probeDir = s"$dir/ann_probes.parquet"
        if (!new java.io.File(s"$probeDir/_SUCCESS").exists())
          hostileVecs(spark, 10).repartition(1)
            .write.mode(SaveMode.Overwrite).parquet(probeDir)
        val table = s"probe_annserve_f$k"
        val t0 = System.nanoTime()
        val (n, stRows, stMem) = try {
          val index = graft.streaming.DocStream.prepareAnnIndex(
            Tables.table(spark, dir, "embeddings"),
            graft.queries.SimilarityQueries.semCentroids(16, 64))
          try {
            val out = graft.streaming.DocStream.annSearch(spark,
              graft.streaming.DocStream.readEmbeddings(spark, probeDir),
              index, graft.queries.SimilarityQueries.semCentroids(16, 64))
              .toDF()
            val sq = graft.streaming.EventStream.runToMemory(out, table)
            sq.awaitTermination()
            val (r, m) = stateMetrics(sq)
            (spark.table(table).count(), r, m)
          } finally index.unpersist()
        } catch { case e: Throwable =>
          System.err.println(s"annserve@$k: $e"); (-1L, 0L, 0L) }
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"factor":$k,"query":"s_ann_search","sec":$sec%.3f,"rows":$n,"state_rows":$stRows,"state_mem_bytes":$stMem,"hostile":"same_embedding_stream"}""")
      }
      // the COMPRESSED serving face on the same corpus: the hostile
      // input also degenerates the PQ TRAINER (identical vectors
      // collapse every subspace codebook to one surviving cell), so
      // this probes serving under the worst trained index — per-probe
      // work is still the hot cell's population (linear in n, the
      // same uncapped contract), rows stay 10x5, state stays ZERO,
      // and the ADC scan reads only the M-int code column
      if (pickedVecStreamFaces.contains("s_ann_search_pq")) {
        val probeDir = s"$dir/ann_probes.parquet"
        if (!new java.io.File(s"$probeDir/_SUCCESS").exists())
          hostileVecs(spark, 10).repartition(1)
            .write.mode(SaveMode.Overwrite).parquet(probeDir)
        val table = s"probe_annservepq_f$k"
        val t0 = System.nanoTime()
        val (n, stRows, stMem) = try {
          val cents = graft.queries.SimilarityQueries.semCentroids(16, 64)
          val books = graft.queries.PqQueries.pqCodebooks(
            graft.queries.SimilarityQueries.semDedupInput(spark, dir))
          val index = graft.streaming.DocStream.prepareAnnIndexPq(
            Tables.table(spark, dir, "embeddings"), cents, books)
          try {
            val out = graft.streaming.DocStream.annSearchPq(spark,
              graft.streaming.DocStream.readEmbeddings(spark, probeDir),
              index, cents, books).toDF()
            val sq = graft.streaming.EventStream.runToMemory(out, table)
            sq.awaitTermination()
            val (r, m) = stateMetrics(sq)
            (spark.table(table).count(), r, m)
          } finally index.unpersist()
        } catch { case e: Throwable =>
          System.err.println(s"annservepq@$k: $e"); (-1L, 0L, 0L) }
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"factor":$k,"query":"s_ann_search_pq","sec":$sec%.3f,"rows":$n,"state_rows":$stRows,"state_mem_bytes":$stMem,"hostile":"same_embedding_stream"}""")
      }
      // the ONLINE greedy face on the same corpus: every vector lands in
      // one hot cell, but the admitted index holds exactly ONE member
      // (everything else is its duplicate), so per-arrival work is O(1)
      // — the probe confirms the state bound is the ADMITTED set, not
      // the arrival count
      if (pickedVecStreamFaces.contains("s_semdedup_online")) {
        val table = s"probe_semonline_f$k"
        val t0 = System.nanoTime()
        val (n, stRows, stMem) = try {
          val out = graft.streaming.DocStream.semanticDedupOnline(spark,
            graft.streaming.DocStream.readEmbeddings(
              spark, s"$dir/embeddings.parquet")).toDF()
          val sq = graft.streaming.EventStream.runToMemory(out, table)
          sq.awaitTermination()
          val (r, m) = stateMetrics(sq)
          (spark.table(table).count(), r, m)
        } catch { case e: Throwable =>
          System.err.println(s"semonline@$k: $e"); (-1L, 0L, 0L) }
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"factor":$k,"query":"s_semdedup_online","sec":$sec%.3f,"rows":$n,"state_rows":$stRows,"state_mem_bytes":$stMem,"hostile":"same_embedding_stream"}""")
      }
    }
    spark.stop()
  }
}
