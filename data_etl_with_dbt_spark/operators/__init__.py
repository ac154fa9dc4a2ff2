from data_etl_with_dbt_spark.operators.relational import (  # noqa: F401
    additive_merge,
    apply_cdc,
    asof_join,
    auto_salted_join,
    basket_pair_counts,
    fuzzy_pairs,
    global_row_index,
    per_key_cap,
    salted_agg,
    salted_join,
    skew_stats,
)
from data_etl_with_dbt_spark.operators.dedup import (  # noqa: F401
    dedup_exact,
    exact_duplicate_groups,
    minhash_lsh_pairs,
    ngram_df_prune,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
    span_dedup,
)
from data_etl_with_dbt_spark.operators.similarity import (  # noqa: F401
    brute_force_topk,
    cosine_similarity,
    embedding_near_dup_pairs,
    lsh_bucketed_topk,
)
from data_etl_with_dbt_spark.operators.textan import (  # noqa: F401
    bm25_scores,
    c4_line_filters,
    canonicalize_text,
    canonicalize_text_expr,
    doc_fingerprint,
    bpe_segment,
    inverted_index,
    gopher_quality_flags,
    gopher_repetition_signals,
    hygiene_signals,
    lang_id_scores,
    mixture_sample,
    redpajama_quality_signals,
    script_mix_stats,
    scrub_pii,
    sentence_array_expr,
    sentences_jvm,
    text_stats,
    token_count_bpe_ish,
    train_bpe,
    unigram_logprob_score,
)
from data_etl_with_dbt_spark.operators.dedup import (  # noqa: F401
    exact_substring_regions,
    incremental_exact_substring_regions,
    paragraph_substring_regions,
    remove_duplicate_regions,
    sentence_substring_regions,
)
from data_etl_with_dbt_spark.operators.sketch import (  # noqa: F401
    bloom_build,
    bloom_decontaminate,
    bloom_parameters,
    bloom_probe,
)
from data_etl_with_dbt_spark.operators.gif import (  # noqa: F401
    decode_gif,
    encode_gif,
)
from data_etl_with_dbt_spark.operators.jpeg import (  # noqa: F401
    decode_jpeg,
    encode_jpeg,
)
from data_etl_with_dbt_spark.operators.multimodal import (  # noqa: F401
    audio_spectral_features,
    decode_png,
    encode_png,
    extract_media_features,
    image_dhash,
    image_near_dup_pairs,
    media_from_binary_files,
    decode_avi_mjpeg,
    encode_avi_mjpeg,
    parse_avi_meta,
    parse_gif_meta,
    parse_mp3_meta,
    parse_mp4_meta,
    resize_image,
    resize_media,
    sample_frame_times,
    to_media_table,
)
from data_etl_with_dbt_spark.operators.dedup import (  # noqa: F401
    hamming_near_pairs,
)
from data_etl_with_dbt_spark.operators.graph import pagerank  # noqa: F401
from data_etl_with_dbt_spark.operators.dedup import (  # noqa: F401
    ngram_containment_pairs,
)
from data_etl_with_dbt_spark.operators.similarity import (  # noqa: F401
    pq_encode,
    pq_topk,
    pq_train,
)
from data_etl_with_dbt_spark.operators.textan import (  # noqa: F401
    bpe_encode,
    bpe_vocab,
    load_merges,
    save_merges,
)
from data_etl_with_dbt_spark.operators.sketch import (  # noqa: F401
    cms_build,
    cms_estimate,
    cms_merge,
    hll_build,
    hll_estimate,
    hll_merge,
)
from data_etl_with_dbt_spark.operators.layout import (  # noqa: F401
    interleave_bits,
    pruned_read,
    skipping_stats,
    stats_index,
    zorder_key,
    zorder_layout,
)
from data_etl_with_dbt_spark.operators.ivm import (  # noqa: F401
    agg_view_delta,
    join_delta,
    refresh_join_view,
)
