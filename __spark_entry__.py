"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship rollup + wavelet pipeline (the north-star path)
on a deterministic synthetic transcript table.
``queries()`` — every registered query body
(``wavelet_decomposition_spark/queries/<family>.py``), in ``QUERY_ORDER``;
each callable takes (spark, sf_dir).
``oracle_sql()`` — DuckDB-equivalent SQL for every SQL-expressible query
(identical column names/order; float outputs rounded to 6 decimals on both
sides so engine-order float reassociation cannot flip the value hash).
Non-SQL-expressible ops (wavelet pyramids, codecs, LSH structures) have no
oracle entry -> rows-only driver check; their correctness is carried by the
golden-parity and property test-suite (tests/).

Importing this module and calling ``oracle_sql()`` need only pyspark; the
query bodies load on the first ``queries()`` call.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Rollup + wavelet flagship: synthetic transcripts -> 1s activity tier
    -> 1m rollup -> Haar DWT energy spectrum per conversation, over windows
    of the 1-minute grid (the zero gap-fill is fused into the window
    builder)."""
    from wavelet_decomposition_spark.io.transcripts import transcripts_df
    from wavelet_decomposition_spark.operators import (
        activity,
        rollup,
        wavelet_ops,
    )
    from wavelet_decomposition_spark.queries import prep

    prep(spark)
    tx = transcripts_df(spark, 300, seed=42)
    tier_1m = rollup.rollup_once(activity.activity_raw(tx), "1m")
    return wavelet_ops.energy_windows(
        tier_1m, "turns", wavelet="haar", levels=4, window_len=64,
        sparse_fill_step="1 minute",
    )


QUERY_ORDER = (
    # -- (1) the 33 queries with no driver row through r05 (all
    #        rows-only; closing these rows completes driver coverage
    #        of the whole 157-query contract) -------------------------
    "matrix_profile",
    "bm25_topk",
    "pelt_changepoints",
    "wpt_energy",
    "pca_embeddings",
    "kmeans_clusters",
    "holt_winters",
    "stream_ohlc_drain",
    "zorder_layout",
    "forecast_backtest",
    "weighted_sample",
    "cms_heavy_hitters",
    "lang_id",
    "pack_sequences",
    "sketch_tier_merge",
    "dtw_pairs",
    "dwt_denoise",
    "sliding_distinct_sketch",
    "response_latency",
    "compact_tier",
    "tier_refresh_resume",
    "tier_retention_expiry",
    "epn_approx",
    "sketch_quantiles",
    "sketch_distinct",
    "lttb_downsample",
    "clustered_layout",
    "spectral_features",
    "freq_items",
    "stream_ewma_drain",
    "stream_counter_rate_drain",
    "stream_dedup_drain",
    "stream_distinct_drain",
    # -- (2) 17 oracle queries last driver-verified in r01 — the
    #        oldest external hash-exact signal, refreshed -----------
    "quality_score",
    "conversation_stats_skew",
    "activity_1m",
    "rollup_1h",
    "normalize_by_group",
    "per_group_limit",
    "circular_shift",
    "series_diff",
    "mask_case",
    "epn_thresholds",
    "topk_argmin",
    "pricing_summary",
    "nation_revenue",
    "dedup_groups",
    "ngram_jaccard",
    "doc_stats",
    "lang_marker_hits",
    # ---- window boundary: driver checks the 50 entries above ------
    # -- (3) driver-green in r02-r05 (rows on record; rotate back
    #        in later rounds) ---------------------------------------
    "ohlc_bars",
    "state_durations",
    "sax_words",
    "inverted_index",
    "referential_integrity",
    "zorder_values",
    "boolean_retrieval",
    "merge_upsert",
    "json_extract_stats",
    "feature_binning",
    "sax_anomaly",
    "hybrid_search_rrf",
    "topn_others",
    "session_paths",
    "triangle_count",
    "sessionize_skewed",
    "user_profile_skewed",
    "doc_chunks",
    "cube_profile",
    "hopping_window",
    "rank_functions",
    "sliding_distinct",
    "tier_routed_read",
    "scd2_build",
    "table_profile",
    "scd2_asof_probe",
    "weekly_profile",
    "top_users_per_hour",
    "data_expectations",
    "snapshot_diff",
    "user_profile",
    "hourly_percentiles",
    "hourly_pivot",
    "event_transitions",
    "series_corr_matrix",
    "hurst_rs",
    "trigram_quality",
    "edit_distance_pairs",
    "winsorize_values",
    "event_prefix_groups",
    "dsir_weights",
    "drift_psi",
    "full_decomposition",
    "translation_full",
    "wavelet_betas_golden",
    "tier_wavelet_parity",
    "pagerank",
    "pq_ann_topk",
    "conversation_forks",
    "bpe_vocab",
    "wavelet_betas_sine",
    "translation_search",
    "dwt_energy",
    "modwt_energy",
    "gorilla_blocks",
    "codec_roundtrip",
    "ngram_jaccard_bounded",
    "minhash_pairs",
    "simhash_near",
    "lsh_ann_topk",
    "ivf_ann_topk",
    "fft_spectrum",
    "reconstruction_roundtrip",
    "reconstruction_relational",
    "heatmap_scales",
    "multimodal_plan",
    "text_invariant",
    "transcript_rollup_1m",
    "stream_sessionize_drain",
    "stream_rollup_drain",
    "sessionize",
    "resample_linear",
    "shipping_priority",
    "returned_customers",
    "dedup_keep_first",
    "ann_topk",
    "cosine_pairs",
    "dedup_clusters",
    "decontaminate",
    "stratified_split",
    "domain_mix",
    "gapfill_locf",
    "gapfill_interp",
    "asof_join",
    "interval_join",
    "time_weighted_avg",
    "counter_rate",
    "interval_union",
    "cohort_retention",
    "funnel_steps",
    "pii_redact",
    "strip_html",
    "repetition_ratio",
    "ts_rolling",
    "ts_ewma",
    "ts_acf",
    "m4_downsample",
    "ts_anomaly",
    "ts_cusum",
    "ts_seasonal",
    "ts_brown_les",
    "ts_xcorr",
    "ts_rolling_median",
    "ts_theil_sen",
    "ts_strengths",
    "ts_period",
    "value_histogram",
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver contract: one entry per implemented operator/query.

    ORDERING IS A ROTATION, not taxonomy. The driver verifies the FIRST
    50 entries each round, so the dict is ordered by driver-visibility
    debt (r5 VERDICT #1): (1) the 33 queries with no driver CORRECTNESS
    row in ANY of r01-r05 — all rows-only, all locally gate-green —
    come first so CORRECTNESS_r06 closes full 157-query driver
    coverage; (2) the remaining 17 window slots go to the
    longest-ago-verified oracle queries (driver-green in r01, unseen
    since) for a fresh hash-exact external signal; then, outside the
    window: (3) the rows-only and oracle queries with recent driver
    rows (r04/r05 green rows are already on record; they rotate back
    in subsequent rounds). Every query keeps its local gate
    (tools/check_correctness.py) regardless of window position.
    """
    from wavelet_decomposition_spark.queries import registry

    registered = registry()
    return {name: registered[name] for name in QUERY_ORDER}


def oracle_sql() -> dict[str, str]:
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return {
        "activity_1m": """
            SELECT event_type,
                   date_trunc('minute', ts) AS bucket_ts,
                   count(*) AS turns,
                   round(sum(value), 6) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "drift_psi": """
            WITH ev AS (
                SELECT event_type,
                       CAST(floor(value / 10) AS INT) AS bin,
                       epoch_us(ts) AS e
                FROM events
            ), m AS (
                SELECT (min(e) + max(e)) // 2 AS mid FROM ev
            ), cnt AS (
                SELECT event_type, bin,
                       sum(CASE WHEN e <= m.mid THEN 1 ELSE 0 END) AS nb,
                       sum(CASE WHEN e > m.mid THEN 1 ELSE 0 END) AS na
                FROM ev CROSS JOIN m
                GROUP BY event_type, bin
            ), t AS (
                SELECT event_type, nb, na,
                       sum(nb) OVER (PARTITION BY event_type) AS tnb,
                       sum(na) OVER (PARTITION BY event_type) AS tna,
                       count(*) OVER (PARTITION BY event_type) AS b
                FROM cnt
            ), terms AS (
                SELECT event_type, nb, na,
                       CAST(round(
                           ((nb + 1) / (tnb + b) - (na + 1) / (tna + b))
                           * ln(((nb + 1) / (tnb + b))
                                / ((na + 1) / (tna + b)))
                           * 1000000.0
                       ) AS BIGINT) AS term
                FROM t
            )
            SELECT event_type,
                   CAST(count(*) AS BIGINT) AS n_bins,
                   CAST(sum(nb) AS BIGINT) AS n_before,
                   CAST(sum(na) AS BIGINT) AS n_after,
                   CAST(sum(term) AS BIGINT) AS psi_micro
            FROM terms GROUP BY event_type
        """,
        "dsir_weights": """
            WITH tok AS (
                SELECT doc_id, source,
                       unnest(regexp_extract_all(text,
                           '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS w
                FROM documents
            ), raw AS (
                SELECT w, count(*) AS n_r FROM tok GROUP BY w
            ), tgt AS (
                SELECT w, count(*) AS n_t FROM tok
                WHERE source IN ('src0', 'src1', 'src2', 'src3')
                GROUP BY w
            ), consts AS (
                SELECT (SELECT count(*) FROM tok) AS n_raw,
                       (SELECT count(*) FROM tok
                        WHERE source IN ('src0','src1','src2','src3'))
                           AS n_tgt,
                       (SELECT count(*) FROM raw) AS v
            ), lr AS (
                SELECT r.w,
                       CAST(round(ln(
                           (COALESCE(t.n_t, 0) + 1)
                           / (c.n_tgt + c.v)
                           * (c.n_raw + c.v)
                           / (r.n_r + 1)
                       ) * 1000000.0) AS BIGINT) AS lr_micro
                FROM raw r LEFT JOIN tgt t USING (w)
                CROSS JOIN consts c
            ), dw AS (
                SELECT doc_id, source, w, count(*) AS c
                FROM tok GROUP BY 1, 2, 3
            )
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_terms,
                   CAST(sum(c * lr_micro) AS BIGINT) AS weight_micro,
                   source IN ('src0', 'src1', 'src2', 'src3') AS is_target
            FROM dw JOIN lr USING (w)
            GROUP BY doc_id, source
        """,
        "event_prefix_groups": """
            WITH r AS (
                SELECT user_id, event_type,
                       row_number() OVER (
                           PARTITION BY user_id ORDER BY event_id
                       ) AS rn
                FROM events
            ), p AS (
                SELECT d.depth, r.user_id,
                       md5(string_agg(r.event_type, chr(31)
                                      ORDER BY r.rn)) AS prefix_hash
                FROM r JOIN (VALUES (1), (2), (4), (8)) AS d(depth)
                  ON r.rn <= d.depth
                GROUP BY d.depth, r.user_id
                HAVING count(*) = d.depth
            )
            SELECT depth, prefix_hash, count(*) AS n_users
            FROM p GROUP BY depth, prefix_hash
            HAVING count(*) >= 2
        """,
        "rollup_1h": """
            SELECT event_type,
                   date_trunc('hour', ts) AS bucket_ts,
                   count(*) AS turns,
                   round(sum(value), 6) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "feature_binning": """
            WITH ev AS (SELECT event_type, event_id,
                               CAST(round(value * 100) AS BIGINT)
                                   AS cents
                        FROM events),
            b AS (SELECT event_type, cents,
                         ntile(10) OVER (PARTITION BY event_type
                                         ORDER BY cents, event_id)
                             AS bin
                  FROM ev)
            SELECT event_type, bin,
                   count(*) AS n,
                   min(cents) AS lo_cents,
                   max(cents) AS hi_cents,
                   CAST(sum(cents) AS BIGINT) AS sum_cents
            FROM b GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "json_extract_stats": """
            WITH k AS (SELECT event_type,
                              CAST(json_extract(props, '$.k')
                                   AS BIGINT) AS k
                       FROM events)
            SELECT event_type,
                   count(*) AS n,
                   CAST(sum(k) AS BIGINT) AS sum_k,
                   min(k) AS min_k,
                   max(k) AS max_k,
                   CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_null
            FROM k GROUP BY 1 ORDER BY 1
        """,
        "merge_upsert": """
            WITH ev AS (SELECT event_id,
                               CAST(round(value * 100) AS BIGINT)
                                   AS cents
                        FROM events),
            t AS (SELECT * FROM ev WHERE event_id % 10 <> 0),
            s AS (SELECT event_id, cents + 1000 AS cents,
                         false AS del
                  FROM ev WHERE event_id % 7 = 0
                  UNION ALL
                  SELECT event_id, NULL, true
                  FROM ev WHERE event_id % 13 = 0 AND event_id % 7 <> 0
                  UNION ALL
                  SELECT event_id + 1000000000, cents, false
                  FROM ev WHERE event_id % 50 = 0),
            j AS (SELECT coalesce(t.event_id, s.event_id) AS event_id,
                         t.cents AS tc, s.cents AS sc, s.del,
                         t.event_id IS NOT NULL AS in_t,
                         s.event_id IS NOT NULL AS in_s
                  FROM t FULL OUTER JOIN s ON t.event_id = s.event_id),
            c AS (SELECT event_id, tc, sc,
                         CASE WHEN in_t AND in_s AND del THEN NULL
                              WHEN in_t AND in_s THEN 'update'
                              WHEN in_s AND NOT del THEN 'insert'
                              WHEN in_s THEN NULL
                              ELSE 'keep' END AS action
                  FROM j)
            SELECT event_id,
                   CASE WHEN action = 'keep' THEN tc ELSE sc END
                       AS cents,
                   action
            FROM c WHERE action IS NOT NULL
            ORDER BY event_id
        """,
        "boolean_retrieval": """
            WITH toks AS (SELECT doc_id,
                                 unnest(string_split_regex(
                                     lower(text), '[^a-z0-9]+')) AS term
                          FROM documents),
            tf AS (SELECT doc_id, term, count(*) AS tf
                   FROM toks
                   WHERE term IN ('spark', 'data', 'join')
                   GROUP BY 1, 2)
            SELECT doc_id,
                   count(*) AS n_terms,
                   CAST(sum(tf) AS BIGINT) AS total_tf,
                   CAST(min(tf) AS BIGINT) AS min_tf
            FROM tf GROUP BY 1 HAVING count(*) = 3
            ORDER BY doc_id
        """,
        "zorder_values": """
            WITH base AS (
                SELECT event_id,
                       CAST(floor(epoch(ts) / 3600) AS BIGINT) AS x,
                       CAST(round(value * 100) AS BIGINT) AS y
                FROM events),
            m AS (SELECT event_id, x, y,
                         x & 2097151 AS sx, y & 2097151 AS sy
                  FROM base),
            s1 AS (SELECT event_id, x, y,
                          (sx | (sx << 16)) & 281470681808895 AS sx,
                          (sy | (sy << 16)) & 281470681808895 AS sy
                   FROM m),
            s2 AS (SELECT event_id, x, y,
                          (sx | (sx << 8)) & 71777214294589695 AS sx,
                          (sy | (sy << 8)) & 71777214294589695 AS sy
                   FROM s1),
            s3 AS (SELECT event_id, x, y,
                          (sx | (sx << 4)) & 1085102592571150095 AS sx,
                          (sy | (sy << 4)) & 1085102592571150095 AS sy
                   FROM s2),
            s4 AS (SELECT event_id, x, y,
                          (sx | (sx << 2)) & 3689348814741910323 AS sx,
                          (sy | (sy << 2)) & 3689348814741910323 AS sy
                   FROM s3),
            s5 AS (SELECT event_id, x, y,
                          (sx | (sx << 1)) & 6148914691236517205 AS sx,
                          (sy | (sy << 1)) & 6148914691236517205 AS sy
                   FROM s4)
            SELECT event_id, x, y, sx | (sy << 1) AS z
            FROM s5 ORDER BY event_id
        """,
        "referential_integrity": """
            SELECT 'customer_nationkey' AS fk,
                   count(*) AS n_child,
                   CAST(sum(CASE WHEN c_nationkey IS NULL THEN 1
                            ELSE 0 END) AS BIGINT) AS n_null_fk,
                   CAST(sum(CASE WHEN c_nationkey IS NOT NULL
                            AND NOT EXISTS (SELECT 1 FROM nation p
                                WHERE p.n_nationkey = c.c_nationkey)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
                   sum(CASE WHEN c_nationkey IS NOT NULL
                       AND NOT EXISTS (SELECT 1 FROM nation p
                           WHERE p.n_nationkey = c.c_nationkey)
                       THEN 1 ELSE 0 END) = 0 AS ok
            FROM customer c
            UNION ALL
            SELECT 'lineitem_orderkey', count(*),
                   CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1
                            ELSE 0 END) AS BIGINT),
                   CAST(sum(CASE WHEN l_orderkey IS NOT NULL
                            AND NOT EXISTS (SELECT 1 FROM orders p
                                WHERE p.o_orderkey = c.l_orderkey)
                            THEN 1 ELSE 0 END) AS BIGINT),
                   sum(CASE WHEN l_orderkey IS NOT NULL
                       AND NOT EXISTS (SELECT 1 FROM orders p
                           WHERE p.o_orderkey = c.l_orderkey)
                       THEN 1 ELSE 0 END) = 0
            FROM lineitem c
            UNION ALL
            SELECT 'lineitem_partkey', count(*),
                   CAST(sum(CASE WHEN l_partkey IS NULL THEN 1
                            ELSE 0 END) AS BIGINT),
                   CAST(sum(CASE WHEN l_partkey IS NOT NULL
                            AND NOT EXISTS (SELECT 1 FROM part p
                                WHERE p.p_partkey = c.l_partkey)
                            THEN 1 ELSE 0 END) AS BIGINT),
                   sum(CASE WHEN l_partkey IS NOT NULL
                       AND NOT EXISTS (SELECT 1 FROM part p
                           WHERE p.p_partkey = c.l_partkey)
                       THEN 1 ELSE 0 END) = 0
            FROM lineitem c
            UNION ALL
            SELECT 'lineitem_suppkey', count(*),
                   CAST(sum(CASE WHEN l_suppkey IS NULL THEN 1
                            ELSE 0 END) AS BIGINT),
                   CAST(sum(CASE WHEN l_suppkey IS NOT NULL
                            AND NOT EXISTS (SELECT 1 FROM supplier p
                                WHERE p.s_suppkey = c.l_suppkey)
                            THEN 1 ELSE 0 END) AS BIGINT),
                   sum(CASE WHEN l_suppkey IS NOT NULL
                       AND NOT EXISTS (SELECT 1 FROM supplier p
                           WHERE p.s_suppkey = c.l_suppkey)
                       THEN 1 ELSE 0 END) = 0
            FROM lineitem c
            UNION ALL
            SELECT 'nation_regionkey', count(*),
                   CAST(sum(CASE WHEN n_regionkey IS NULL THEN 1
                            ELSE 0 END) AS BIGINT),
                   CAST(sum(CASE WHEN n_regionkey IS NOT NULL
                            AND NOT EXISTS (SELECT 1 FROM region p
                                WHERE p.r_regionkey = c.n_regionkey)
                            THEN 1 ELSE 0 END) AS BIGINT),
                   sum(CASE WHEN n_regionkey IS NOT NULL
                       AND NOT EXISTS (SELECT 1 FROM region p
                           WHERE p.r_regionkey = c.n_regionkey)
                       THEN 1 ELSE 0 END) = 0
            FROM nation c
            UNION ALL
            SELECT 'orders_custkey', count(*),
                   CAST(sum(CASE WHEN o_custkey IS NULL THEN 1
                            ELSE 0 END) AS BIGINT),
                   CAST(sum(CASE WHEN o_custkey IS NOT NULL
                            AND NOT EXISTS (SELECT 1 FROM customer p
                                WHERE p.c_custkey = c.o_custkey)
                            THEN 1 ELSE 0 END) AS BIGINT),
                   sum(CASE WHEN o_custkey IS NOT NULL
                       AND NOT EXISTS (SELECT 1 FROM customer p
                           WHERE p.c_custkey = c.o_custkey)
                       THEN 1 ELSE 0 END) = 0
            FROM orders c
            UNION ALL
            SELECT 'supplier_nationkey', count(*),
                   CAST(sum(CASE WHEN s_nationkey IS NULL THEN 1
                            ELSE 0 END) AS BIGINT),
                   CAST(sum(CASE WHEN s_nationkey IS NOT NULL
                            AND NOT EXISTS (SELECT 1 FROM nation p
                                WHERE p.n_nationkey = c.s_nationkey)
                            THEN 1 ELSE 0 END) AS BIGINT),
                   sum(CASE WHEN s_nationkey IS NOT NULL
                       AND NOT EXISTS (SELECT 1 FROM nation p
                           WHERE p.n_nationkey = c.s_nationkey)
                       THEN 1 ELSE 0 END) = 0
            FROM supplier c
            ORDER BY fk
        """,
        "inverted_index": """
            WITH toks AS (SELECT doc_id,
                                 unnest(string_split_regex(
                                     lower(text), '[^a-z0-9]+')) AS term
                          FROM documents),
            tf AS (SELECT term, doc_id, count(*) AS tf
                   FROM toks WHERE term <> '' GROUP BY 1, 2),
            g AS (SELECT term, doc_id, tf,
                         doc_id - lag(doc_id, 1, 0) OVER w AS gap,
                         CAST(floor((row_number() OVER w - 1) / 64.0)
                              AS INT) AS block_id,
                         count(*) OVER (PARTITION BY term) AS df,
                         CAST(sum(tf) OVER (PARTITION BY term)
                              AS BIGINT) AS cf
                  FROM tf
                  WINDOW w AS (PARTITION BY term ORDER BY doc_id))
            SELECT term, block_id,
                   min(df) AS df, min(cf) AS cf,
                   min(doc_id) AS first_doc,
                   count(*) AS n_postings,
                   string_agg(CAST(gap AS VARCHAR), ','
                              ORDER BY doc_id) AS gaps,
                   string_agg(CAST(tf AS VARCHAR), ','
                              ORDER BY doc_id) AS tfs
            FROM g GROUP BY 1, 2
            ORDER BY term, block_id
        """,
        "triangle_count": """
            WITH ps AS (SELECT DISTINCT l_partkey AS p,
                                        l_suppkey AS s
                        FROM lineitem),
            e AS (SELECT DISTINCT a.s AS u, b.s AS v
                  FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s),
            deg AS (SELECT node, count(*) AS deg FROM (
                        SELECT u AS node FROM e
                        UNION ALL
                        SELECT v AS node FROM e)
                    GROUP BY 1),
            tri AS (SELECT count(*) AS n_triangles
                    FROM e ab
                    JOIN e bc ON ab.v = bc.u
                    JOIN e ac ON ab.u = ac.u AND bc.v = ac.v),
            agg AS (SELECT count(*) AS n_nodes,
                           CAST(sum(deg * (deg - 1) / 2) AS BIGINT)
                               AS n_wedges
                    FROM deg),
            ne AS (SELECT count(*) AS n_edges FROM e)
            SELECT agg.n_nodes, ne.n_edges, agg.n_wedges,
                   tri.n_triangles,
                   CASE WHEN agg.n_wedges = 0 THEN 0.0
                        ELSE 3.0 * tri.n_triangles / agg.n_wedges
                   END AS global_clustering
            FROM agg, ne, tri
        """,
        "topn_others": """
            WITH per AS (SELECT event_type,
                                CAST(sum(CAST(round(value * 100)
                                         AS BIGINT)) AS BIGINT) AS cents,
                                count(*) AS n
                         FROM events GROUP BY 1),
            ranked AS (SELECT *,
                              row_number() OVER (
                                  ORDER BY cents DESC, event_type)
                                  AS rk
                       FROM per)
            SELECT CASE WHEN rk <= 3 THEN event_type
                        ELSE 'OTHER' END AS bucket,
                   CAST(sum(cents) AS BIGINT) AS cents,
                   CAST(sum(n) AS BIGINT) AS n,
                   count(*) AS n_categories
            FROM ranked GROUP BY 1 ORDER BY cents DESC, bucket
        """,
        "session_paths": """
            WITH seq AS (
                SELECT user_id, event_type,
                       lead(event_type) OVER w AS next_type,
                       epoch_us(lead(ts) OVER w) - epoch_us(ts)
                           <= 30 * 60 * 1000000 AS same_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
            SELECT event_type, next_type,
                   count(*) AS n_transitions,
                   count(DISTINCT user_id) AS n_users
            FROM seq
            WHERE next_type IS NOT NULL AND same_session
            GROUP BY 1, 2
            ORDER BY n_transitions DESC, event_type, next_type
        """,
        "hybrid_search_rrf": """
            WITH q AS (SELECT embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id = 0),
            v AS (SELECT vec_id, rank FROM (
                      SELECT e.vec_id,
                             row_number() OVER (
                                 ORDER BY list_cosine_similarity(
                                     e.embedding::DOUBLE[], q.qv) DESC,
                                 e.vec_id) AS rank
                      FROM embeddings e, q)
                  WHERE rank <= 20),
            toks AS (SELECT doc_id,
                            unnest(string_split_regex(
                                lower(text), '[^a-z0-9]+')) AS term
                     FROM documents),
            l AS (SELECT doc_id AS vec_id, rank FROM (
                      SELECT doc_id, count(*) AS tf,
                             row_number() OVER (
                                 ORDER BY count(*) DESC, doc_id) AS rank
                      FROM toks
                      WHERE term IN ('spark', 'data', 'join')
                      GROUP BY doc_id)
                  WHERE rank <= 20)
            SELECT coalesce(v.vec_id, l.vec_id) AS doc_id,
                   coalesce(v.rank, 0) AS rank_vec,
                   coalesce(l.rank, 0) AS rank_lex,
                   coalesce(1.0 / (60.0 + v.rank), 0.0)
                 + coalesce(1.0 / (60.0 + l.rank), 0.0) AS rrf
            FROM v FULL OUTER JOIN l ON v.vec_id = l.vec_id
            ORDER BY rrf DESC, doc_id LIMIT 10
        """,
        "sax_anomaly": """
            WITH hr AS (SELECT event_type AS series_id,
                               date_trunc('hour', ts) AS bucket_ts,
                               CAST(floor(
                                   CAST(sum(CAST(round(value * 100)
                                            AS BIGINT)) AS DOUBLE)
                                   * 10.0 / count(*)) AS BIGINT) AS vm
                        FROM events GROUP BY 1, 2),
            stats AS (SELECT series_id,
                             CAST(sum(vm) AS DOUBLE) AS gs,
                             CAST(sum(vm * vm) AS DOUBLE) AS gss,
                             count(*) AS gn
                      FROM hr GROUP BY 1),
            pos AS (SELECT series_id, bucket_ts, vm,
                           row_number() OVER (PARTITION BY series_id
                                              ORDER BY bucket_ts) - 1 AS p
                    FROM hr),
            seg AS (SELECT series_id,
                           CAST(floor(p / 64.0) AS INT) AS window_id,
                           CAST(floor((p % 64) / 8.0) AS INT) AS seg_id,
                           CAST(sum(vm) AS DOUBLE) AS s,
                           count(*) AS n,
                           min(bucket_ts) AS t0
                    FROM pos GROUP BY 1, 2, 3),
            z AS (SELECT g.series_id, g.window_id, g.seg_id, g.t0, g.n,
                         CASE WHEN sqrt(greatest(
                                  st.gss / st.gn
                                  - (st.gs / st.gn) * (st.gs / st.gn),
                                  0.0)) = 0.0 THEN 0.0
                              ELSE (g.s / g.n - st.gs / st.gn)
                                   / sqrt(greatest(
                                         st.gss / st.gn
                                         - (st.gs / st.gn)
                                           * (st.gs / st.gn),
                                         0.0))
                         END AS z
                  FROM seg g JOIN stats st USING (series_id)),
            sym AS (SELECT series_id, window_id, seg_id, t0, n,
                           CASE WHEN z < -0.8416212335729142 THEN 'a'
                                WHEN z < -0.2533471031357997 THEN 'b'
                                WHEN z <  0.2533471031357997 THEN 'c'
                                WHEN z <  0.8416212335729142 THEN 'd'
                                ELSE 'e' END AS sy
                    FROM z),
            w AS (SELECT series_id, window_id,
                         min(t0) AS window_start,
                         string_agg(sy, '' ORDER BY seg_id) AS word
                  FROM sym GROUP BY 1, 2 HAVING sum(n) = 64),
            f AS (SELECT series_id, word, count(*) AS word_freq
                  FROM w GROUP BY 1, 2),
            r AS (SELECT w.series_id, w.window_id, w.window_start,
                         w.word, f.word_freq,
                         row_number() OVER (
                             PARTITION BY w.series_id
                             ORDER BY f.word_freq, w.window_id) AS rk
                  FROM w JOIN f USING (series_id, word))
            SELECT series_id, window_id, window_start, word, word_freq
            FROM r WHERE rk <= 2 ORDER BY series_id, window_id
        """,
        "sax_words": """
            WITH hr AS (SELECT event_type AS series_id,
                               date_trunc('hour', ts) AS bucket_ts,
                               CAST(floor(
                                   CAST(sum(CAST(round(value * 100)
                                            AS BIGINT)) AS DOUBLE)
                                   * 10.0 / count(*)) AS BIGINT) AS vm
                        FROM events GROUP BY 1, 2),
            stats AS (SELECT series_id,
                             CAST(sum(vm) AS DOUBLE) AS gs,
                             CAST(sum(vm * vm) AS DOUBLE) AS gss,
                             count(*) AS gn
                      FROM hr GROUP BY 1),
            pos AS (SELECT series_id, bucket_ts, vm,
                           row_number() OVER (PARTITION BY series_id
                                              ORDER BY bucket_ts) - 1 AS p
                    FROM hr),
            seg AS (SELECT series_id,
                           CAST(floor(p / 64.0) AS INT) AS window_id,
                           CAST(floor((p % 64) / 8.0) AS INT) AS seg_id,
                           CAST(sum(vm) AS DOUBLE) AS s,
                           count(*) AS n,
                           min(bucket_ts) AS t0
                    FROM pos GROUP BY 1, 2, 3),
            z AS (SELECT g.series_id, g.window_id, g.seg_id, g.t0, g.n,
                         CASE WHEN sqrt(greatest(
                                  st.gss / st.gn
                                  - (st.gs / st.gn) * (st.gs / st.gn),
                                  0.0)) = 0.0 THEN 0.0
                              ELSE (g.s / g.n - st.gs / st.gn)
                                   / sqrt(greatest(
                                         st.gss / st.gn
                                         - (st.gs / st.gn)
                                           * (st.gs / st.gn),
                                         0.0))
                         END AS z
                  FROM seg g JOIN stats st USING (series_id)),
            sym AS (SELECT series_id, window_id, seg_id, t0, n,
                           CASE WHEN z < -0.8416212335729142 THEN 'a'
                                WHEN z < -0.2533471031357997 THEN 'b'
                                WHEN z <  0.2533471031357997 THEN 'c'
                                WHEN z <  0.8416212335729142 THEN 'd'
                                ELSE 'e' END AS sy
                    FROM z)
            SELECT series_id, window_id,
                   min(t0) AS window_start,
                   string_agg(sy, '' ORDER BY seg_id) AS word,
                   CAST(sum(n) AS BIGINT) AS n_pts
            FROM sym GROUP BY 1, 2 HAVING sum(n) = 64
            ORDER BY series_id, window_id
        """,
        "scd2_asof_probe": """
            WITH flagged AS (
                SELECT user_id, event_type, ts, event_id,
                       CASE WHEN row_number() OVER w = 1
                              OR event_type IS DISTINCT FROM
                                 lag(event_type) OVER w
                            THEN 1 ELSE 0 END AS chg
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), runs AS (
                SELECT user_id, event_type, ts,
                       CAST(sum(chg) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
                FROM flagged
            ), grouped AS (
                SELECT user_id, version, event_type,
                       min(ts) AS valid_from
                FROM runs GROUP BY 1, 2, 3
            ), hist AS (
                SELECT user_id, version, event_type, valid_from,
                       lead(valid_from) OVER w2 AS valid_to,
                       (lead(valid_from) OVER w2 IS NULL) AS is_current
                FROM grouped
                WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from)
            )
            SELECT user_id, version, event_type, valid_from, is_current
            FROM hist
            WHERE valid_from <= TIMESTAMP '2024-01-15 12:00:00'
              AND (valid_to IS NULL
                   OR valid_to > TIMESTAMP '2024-01-15 12:00:00')
        """,
        "table_profile": """
            WITH src AS (
                SELECT event_type, CAST(user_id AS VARCHAR) AS user_id,
                       props, CAST(CAST(ts AS DATE) AS VARCHAR) AS day
                FROM events
            ), long AS (
                SELECT 'event_type' AS col_name, event_type AS val FROM src
                UNION ALL SELECT 'user_id', user_id FROM src
                UNION ALL SELECT 'props', props FROM src
                UNION ALL SELECT 'day', day FROM src
            )
            SELECT col_name,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(*) - count(val) AS BIGINT) AS n_nulls,
                   CAST(count(DISTINCT val) AS BIGINT) AS n_distinct,
                   min(val) AS min_val,
                   max(val) AS max_val
            FROM long GROUP BY col_name
        """,
        "tier_routed_read": """
            SELECT event_type,
                   date_trunc('hour', ts) AS bucket_ts,
                   count(*) AS turns,
                   round(sum(value), 6) AS total_value,
                   '1h' AS tier
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
              AND ts <  TIMESTAMP '2024-01-12 00:00:00'
            GROUP BY 1, 2
        """,
        "scd2_build": """
            WITH flagged AS (
                SELECT user_id, event_type, ts, event_id,
                       CASE WHEN row_number() OVER w = 1
                              OR event_type IS DISTINCT FROM
                                 lag(event_type) OVER w
                            THEN 1 ELSE 0 END AS chg
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), runs AS (
                SELECT user_id, event_type, ts,
                       CAST(sum(chg) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
                FROM flagged
            ), grouped AS (
                SELECT user_id, version, event_type,
                       min(ts) AS valid_from,
                       CAST(count(*) AS BIGINT) AS n_events
                FROM runs GROUP BY 1, 2, 3
            )
            SELECT user_id, version, event_type, valid_from,
                   lead(valid_from) OVER w2 AS valid_to,
                   n_events,
                   (lead(valid_from) OVER w2 IS NULL) AS is_current
            FROM grouped
            WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from)
        """,
        "normalize_by_group": """
            SELECT event_id,
                   round(value / avg(value) OVER (PARTITION BY event_type), 6)
                       AS norm_value
            FROM events
        """,
        "per_group_limit": """
            SELECT event_type, event_id, rn FROM (
                SELECT event_type, event_id,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY ts, event_id) AS rn
                FROM events)
            WHERE rn <= 10
        """,
        "circular_shift": """
            SELECT event_type, event_id,
                   (row_number() OVER (PARTITION BY event_type
                                       ORDER BY ts, event_id) - 1 + 7)
                   % (count(*) OVER (PARTITION BY event_type)) AS shifted_idx
            FROM events
        """,
        "series_diff": """
            WITH c AS (SELECT date_trunc('minute', ts) AS bucket_ts, count(*) AS n
                       FROM events WHERE event_type = 'click' GROUP BY 1),
                 v AS (SELECT date_trunc('minute', ts) AS bucket_ts, count(*) AS n
                       FROM events WHERE event_type = 'view' GROUP BY 1)
            SELECT c.bucket_ts, c.n - v.n AS diff
            FROM c JOIN v USING (bucket_ts)
        """,
        "mask_case": """
            SELECT event_type,
                   round(sum(CASE WHEN event_type IN ('click','view')
                                  THEN value ELSE 0.0 END), 6) AS masked_sum
            FROM events GROUP BY 1
        """,
        "epn_thresholds": """
            WITH scales(scale_idx, scale_hours) AS (VALUES
                (0, 0.75), (1, 1.5), (2, 3.0), (3, 6.0), (4, 12.0),
                (5, 24.0), (6, 42.0)),
            c AS (SELECT l_linenumber - 1 AS scale_idx,
                         abs(l_extendedprice) AS ab
                  FROM lineitem WHERE l_linenumber - 1 < 15),
            ranked AS (SELECT scale_idx, ab,
                              row_number() OVER (PARTITION BY scale_idx
                                                 ORDER BY ab) AS rnk
                       FROM c),
            sizes AS (SELECT scale_idx, count(*) AS n FROM c GROUP BY 1),
            thr AS (SELECT r.scale_idx, 90.0 AS satisfaction, r.ab AS thr
                    FROM ranked r JOIN sizes s USING (scale_idx)
                    WHERE r.rnk = CAST(ceil(90.0 * s.n / 100.0) AS BIGINT)),
            agg AS (SELECT c.scale_idx, t.satisfaction, t.thr,
                           sum(least(c.ab, t.thr)) / t.thr / 1.0 AS n_cycles
                    FROM c JOIN thr t USING (scale_idx)
                    GROUP BY 1, 2, 3)
            SELECT a.scale_idx, a.satisfaction,
                   round(a.thr * 1.0, 6) AS pmax,
                   round(a.thr * s.scale_hours / 2.0, 6) AS emax,
                   round(a.n_cycles, 6) AS n_cycles,
                   round(100.0 * a.n_cycles * s.scale_hours / 8760.0, 6) AS uf,
                   round(a.thr * s.scale_hours / 2.0 * a.n_cycles
                         / 1000000.0, 6) AS serv_m
            FROM agg a JOIN scales s USING (scale_idx)
        """,
        "topk_argmin": """
            SELECT event_type, bucket_ts, n FROM (
                SELECT event_type, bucket_ts, n,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY n DESC, bucket_ts) AS rn
                FROM (SELECT event_type, date_trunc('minute', ts) AS bucket_ts,
                             count(*) AS n
                      FROM events GROUP BY 1, 2))
            WHERE rn = 1
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(round(l_quantity * 100) AS BIGINT))
                        AS DOUBLE) / 100.0 AS sum_qty,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                        AS DOUBLE) / 100.0 AS sum_base_price,
                   CAST(sum(CAST(round(l_discount * 10000) AS BIGINT))
                        AS DOUBLE) / 10000.0 / count(*) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2024-06-01 00:00:00'
            GROUP BY 1, 2
        """,
        "nation_revenue": """
            SELECT n_name,
                   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                        AS DOUBLE) / 100.0 AS revenue,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1
        """,
        "dedup_groups": f"""
            SELECT md5({norm}) AS fp,
                   count(*) AS n_dups,
                   min(doc_id) AS keeper_id
            FROM documents GROUP BY 1
        """,
        "dedup_keep_first": f"""
            SELECT doc_id FROM (
                SELECT doc_id,
                       row_number() OVER (PARTITION BY md5({norm})
                                          ORDER BY doc_id) AS rn
                FROM documents)
            WHERE rn = 1
        """,
        "ngram_jaccard": f"""
            WITH docs AS (SELECT doc_id, string_split({norm}, ' ') AS w
                          FROM documents),
            sh AS (SELECT DISTINCT doc_id,
                          concat_ws(' ', w[i], w[i+1], w[i+2]) AS g
                   FROM docs,
                        unnest(generate_series(1, greatest(len(w) - 2, 1)))
                            AS t(i)
                   WHERE length(concat_ws(' ', w[i], w[i+1], w[i+2])) > 0),
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                              count(*) AS c
                       FROM sh a JOIN sh b
                         ON a.g = b.g AND a.doc_id < b.doc_id
                       GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
            FROM common
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.1
        """,
        "doc_stats": f"""
            SELECT doc_id,
                   length(text) AS n_chars,
                   len(string_split({norm}, ' ')) AS n_words,
                   len(regexp_extract_all(text,
                       '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS n_tokens,
                   md5({norm}) AS fingerprint
            FROM documents
        """,
        "lang_marker_hits": f"""
            WITH d AS (SELECT doc_id, ' ' || {norm} || ' ' AS p FROM documents)
            SELECT doc_id,
                   len(regexp_extract_all(p, ' the '))
                 + len(regexp_extract_all(p, ' and '))
                 + len(regexp_extract_all(p, ' of '))
                 + len(regexp_extract_all(p, ' to '))
                 + len(regexp_extract_all(p, ' is ')) AS en_hits,
                   len(regexp_extract_all(p, ' le '))
                 + len(regexp_extract_all(p, ' la '))
                 + len(regexp_extract_all(p, ' et '))
                 + len(regexp_extract_all(p, ' les '))
                 + len(regexp_extract_all(p, ' est ')) AS fr_hits,
                   len(regexp_extract_all(p, ' der '))
                 + len(regexp_extract_all(p, ' die '))
                 + len(regexp_extract_all(p, ' und '))
                 + len(regexp_extract_all(p, ' das '))
                 + len(regexp_extract_all(p, ' ist ')) AS de_hits,
                   len(regexp_extract_all(p, ' el '))
                 + len(regexp_extract_all(p, ' la '))
                 + len(regexp_extract_all(p, ' de '))
                 + len(regexp_extract_all(p, ' que '))
                 + len(regexp_extract_all(p, ' es ')) AS es_hits
            FROM d
        """,
        "ann_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                       FROM embeddings WHERE vec_id < 3),
            scored AS (SELECT q.query_id, e.vec_id,
                              list_cosine_similarity(e.embedding::DOUBLE[],
                                                     q.qv) AS score
                       FROM embeddings e, q)
            SELECT query_id, vec_id, round(score, 6) AS score, rank FROM (
                SELECT query_id, vec_id, score,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, vec_id) AS rank
                FROM scored)
            WHERE rank <= 5
        """,
        "cosine_pairs": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 6)
                       AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]) >= 0.5
        """,
        "quality_score": f"""
            WITH base AS (
                SELECT doc_id,
                       length(text) AS n_chars,
                       len(string_split({norm}, ' ')) AS n_words,
                       len(regexp_extract_all(text,
                           '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS n_tokens,
                       len(regexp_extract_all(text, '[^\\w\\s]')) AS punct,
                       ' ' || {norm} || ' ' AS p,
                       md5({norm}) AS fingerprint
                FROM documents),
            feats AS (
                SELECT *,
                       len(regexp_extract_all(p, ' the '))
                     + len(regexp_extract_all(p, ' a '))
                     + len(regexp_extract_all(p, ' and '))
                     + len(regexp_extract_all(p, ' of '))
                     + len(regexp_extract_all(p, ' to '))
                     + len(regexp_extract_all(p, ' in '))
                     + len(regexp_extract_all(p, ' is '))
                     + len(regexp_extract_all(p, ' it '))
                     + len(regexp_extract_all(p, ' for '))
                     + len(regexp_extract_all(p, ' on ')) AS stop_hits,
                       len(regexp_extract_all(p, ' the '))
                     + len(regexp_extract_all(p, ' and '))
                     + len(regexp_extract_all(p, ' of '))
                     + len(regexp_extract_all(p, ' to '))
                     + len(regexp_extract_all(p, ' is ')) AS en_h,
                       len(regexp_extract_all(p, ' le '))
                     + len(regexp_extract_all(p, ' la '))
                     + len(regexp_extract_all(p, ' et '))
                     + len(regexp_extract_all(p, ' les '))
                     + len(regexp_extract_all(p, ' est ')) AS fr_h,
                       len(regexp_extract_all(p, ' der '))
                     + len(regexp_extract_all(p, ' die '))
                     + len(regexp_extract_all(p, ' und '))
                     + len(regexp_extract_all(p, ' das '))
                     + len(regexp_extract_all(p, ' ist ')) AS de_h,
                       len(regexp_extract_all(p, ' el '))
                     + len(regexp_extract_all(p, ' la '))
                     + len(regexp_extract_all(p, ' de '))
                     + len(regexp_extract_all(p, ' que '))
                     + len(regexp_extract_all(p, ' es ')) AS es_h
                FROM base),
            ratios AS (
                SELECT *,
                       punct * 1.0 / greatest(n_chars, 1) AS punct_ratio,
                       stop_hits * 1.0 / greatest(n_words, 1) AS stop_ratio,
                       n_chars * 1.0 / greatest(n_words, 1) AS mean_word_len,
                       greatest(en_h, fr_h, de_h, es_h) AS mx
                FROM feats)
            SELECT doc_id, n_chars, n_words, n_tokens,
                   round(punct_ratio, 6) AS punct_ratio,
                   round(stop_ratio, 6) AS stopword_ratio,
                   round(0.4 * least(n_words / 20.0, 1.0)
                       + 0.2 * least(stop_ratio * 4.0, 1.0)
                       + 0.2 * (1.0 - least(punct_ratio * 5.0, 1.0))
                       + 0.2 * (CASE WHEN mean_word_len >= 3.0
                                      AND mean_word_len <= 12.0
                                     THEN 1.0 ELSE 0.0 END), 6)
                       AS quality_score,
                   CASE WHEN mx = 0 THEN 'und'
                        WHEN fr_h = mx THEN 'fr'
                        WHEN es_h = mx THEN 'es'
                        WHEN en_h = mx THEN 'en'
                        ELSE 'de' END AS lang_guess,
                   fingerprint
            FROM ratios
        """,
        "resample_linear": """
            WITH per_min AS (
                SELECT event_type,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY date_trunc('minute', ts))
                           - 1 AS idx,
                       avg(value) AS v
                FROM events GROUP BY event_type, date_trunc('minute', ts)),
            sizes AS (SELECT event_type, count(*) AS n FROM per_min GROUP BY 1),
            grid AS (SELECT event_type, n,
                            unnest(generate_series(0, n * 4 - 1)) AS j
                     FROM sizes),
            pts AS (SELECT event_type, j,
                           least(CAST(floor(j * 1 / 4.0) AS BIGINT), n - 1)
                               AS lo,
                           least(least(CAST(floor(j * 1 / 4.0) AS BIGINT),
                                       n - 1) + 1, n - 1) AS hi,
                           j * 1 / 4.0 - floor(j * 1 / 4.0) AS frac
                    FROM grid)
            SELECT p.event_type, p.j AS idx,
                   round(a.v + p.frac * (b.v - a.v), 6) AS v
            FROM pts p
            JOIN per_min a ON a.event_type = p.event_type AND a.idx = p.lo
            JOIN per_min b ON b.event_type = p.event_type AND b.idx = p.hi
        """,
        "conversation_stats_skew": """
            -- DuckDB sum(BIGINT) returns HUGEINT (-> pandas float64); the
            -- Spark side returns int64. Cast so the dtypes agree too.
            SELECT event_type AS conv_id,
                   count(*) AS n_turns,
                   CAST(sum(length(props)) AS BIGINT) AS n_chars,
                   CAST(sum(CASE WHEN value > 0.5 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_tool_calls,
                   min(ts) AS first_ts,
                   max(ts) AS last_ts
            FROM events GROUP BY 1
        """,
        "stratified_split": """
            WITH b AS (
                SELECT doc_id,
                       ((((doc_id + 42) % 2147483648) * 1103515245
                          + 12345) % 2147483648) / 2147483648.0 AS bucket
                FROM documents)
            SELECT doc_id,
                   CASE WHEN bucket < 0.8 THEN 'train'
                        WHEN bucket < 0.9 THEN 'val'
                        ELSE 'test' END AS split
            FROM b
        """,
        "domain_mix": """
            WITH per AS (
                SELECT source, count(*) AS n_docs,
                       CAST(sum(len(regexp_extract_all(text,
                           '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT)
                           AS n_tokens
                FROM documents GROUP BY 1),
            t AS (SELECT *, count(*) OVER () AS ns,
                         1.0 / (count(*) OVER ()) AS w
                  FROM per)
            SELECT source, n_docs, n_tokens,
                   round(w, 6) AS target_weight,
                   round(least(1.0, 50000.0 * w / n_tokens), 6)
                       AS sample_rate,
                   round(least(1.0, 50000.0 * w / n_tokens) * n_tokens, 2)
                       AS expected_tokens
            FROM t
        """,
        "decontaminate": f"""
            WITH docs AS (SELECT doc_id, string_split({norm}, ' ') AS w
                          FROM documents),
            sh AS (SELECT DISTINCT doc_id,
                          concat_ws(' ', w[i], w[i+1], w[i+2]) AS g
                   FROM docs,
                        unnest(generate_series(1, greatest(len(w) - 2, 1)))
                            AS t(i)
                   WHERE length(concat_ws(' ', w[i], w[i+1], w[i+2])) > 0),
            bg AS (SELECT DISTINCT g FROM sh WHERE doc_id % 37 = 0),
            hits AS (SELECT s.doc_id, count(DISTINCT s.g) AS n_overlap
                     FROM sh s JOIN bg USING (g)
                     WHERE s.doc_id % 37 <> 0 GROUP BY 1)
            SELECT d.doc_id,
                   coalesce(h.n_overlap, 0) AS n_overlap,
                   coalesce(h.n_overlap, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
            WHERE d.doc_id % 37 <> 0
        """,
        "dedup_clusters": """
            WITH RECURSIVE pairs AS (
                SELECT a.vec_id AS u, b.vec_id AS v
                FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
                WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                             b.embedding::DOUBLE[]) >= 0.5),
            und AS (SELECT u, v FROM pairs
                    UNION SELECT v AS u, u AS v FROM pairs),
            reach(n, c) AS (
                SELECT vec_id, vec_id FROM embeddings
                UNION
                SELECT e.v, r.c FROM reach r JOIN und e ON e.u = r.n),
            comp AS (SELECT n AS vec_id, min(c) AS component
                     FROM reach GROUP BY n)
            SELECT vec_id, component,
                   count(*) OVER (PARTITION BY component) AS cluster_size,
                   vec_id = component AS is_canonical
            FROM comp
        """,
        "gapfill_locf": """
            WITH per_min AS (
                SELECT event_type, date_trunc('minute', ts) AS bucket_ts,
                       avg(value) AS avg_value
                FROM events GROUP BY 1, 2),
            bounds AS (SELECT event_type, min(bucket_ts) AS t0,
                              max(bucket_ts) AS t1
                       FROM per_min GROUP BY 1),
            grid AS (SELECT event_type,
                            unnest(generate_series(t0, t1,
                                                   INTERVAL 1 MINUTE))
                                AS bucket_ts
                     FROM bounds)
            SELECT g.event_type, g.bucket_ts,
                   round(last_value(p.avg_value IGNORE NULLS) OVER (
                       PARTITION BY g.event_type ORDER BY g.bucket_ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                       AS avg_value
            FROM grid g LEFT JOIN per_min p
              ON g.event_type = p.event_type AND g.bucket_ts = p.bucket_ts
        """,
        "gapfill_interp": """
            WITH per_min AS (
                SELECT event_type, date_trunc('minute', ts) AS bucket_ts,
                       min(value) AS min_value
                FROM events GROUP BY 1, 2),
            bounds AS (SELECT event_type, min(bucket_ts) AS t0,
                              max(bucket_ts) AS t1
                       FROM per_min GROUP BY 1),
            grid AS (SELECT event_type,
                            unnest(generate_series(t0, t1,
                                                   INTERVAL 1 MINUTE))
                                AS bucket_ts
                     FROM bounds),
            j AS (SELECT g.event_type, g.bucket_ts,
                         epoch(g.bucket_ts) AS t, p.min_value
                  FROM grid g LEFT JOIN per_min p
                    ON g.event_type = p.event_type
                   AND g.bucket_ts = p.bucket_ts),
            c AS (SELECT event_type, bucket_ts, t,
                         last_value(min_value IGNORE NULLS) OVER wb AS pv,
                         last_value(CASE WHEN min_value IS NOT NULL THEN t
                                    END IGNORE NULLS) OVER wb AS pt,
                         first_value(min_value IGNORE NULLS) OVER wf AS nv,
                         first_value(CASE WHEN min_value IS NOT NULL THEN t
                                     END IGNORE NULLS) OVER wf AS nt
                  FROM j
                  WINDOW wb AS (PARTITION BY event_type ORDER BY bucket_ts
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW),
                         wf AS (PARTITION BY event_type ORDER BY bucket_ts
                                ROWS BETWEEN CURRENT ROW
                                         AND UNBOUNDED FOLLOWING))
            SELECT event_type, bucket_ts,
                   CASE WHEN pt = nt THEN pv
                        ELSE pv + (nv - pv) * ((t - pt) / (nt - pt))
                   END AS min_value
            FROM c
        """,
        "asof_join": """
            WITH c AS (SELECT event_id, user_id, ts, value FROM events
                       WHERE event_type = 'click'),
            p AS (SELECT user_id, ts, max_by(value, event_id) AS pval
                  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
            SELECT c.event_id, c.user_id,
                   round(c.value, 6) AS click_value,
                   round(coalesce(p.pval, -1.0), 6)
                       AS last_purchase_value,
                   coalesce(round(
                       date_diff('microsecond', p.ts, c.ts) / 1000000.0,
                       6), -1.0) AS purchase_age_s
            FROM c ASOF LEFT JOIN p
              ON c.user_id = p.user_id AND c.ts >= p.ts
        """,
        "returned_customers": """
            SELECT c.c_custkey, c.c_name, n.n_name,
                   CAST(sum(CAST(round(l.l_extendedprice
                        * (1 - l.l_discount) * 10000) AS BIGINT))
                        AS BIGINT) / 10000.0 AS revenue,
                   round(c.c_acctbal, 6) AS acctbal
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            WHERE l.l_returnflag = 'R'
              AND o.o_orderdate >= TIMESTAMP '1997-01-01'
              AND o.o_orderdate < TIMESTAMP '1997-04-01'
            GROUP BY 1, 2, 3, c.c_acctbal
            ORDER BY revenue DESC, c.c_custkey ASC
            LIMIT 20
        """,
        "shipping_priority": """
            SELECT o.o_orderkey, o.o_orderdate, o.o_orderpriority,
                   CAST(sum(CAST(round(l.l_extendedprice
                        * (1 - l.l_discount) * 10000) AS BIGINT))
                        AS BIGINT) / 10000.0 AS revenue
            FROM customer c
            JOIN orders o ON o.o_custkey = c.c_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '1998-06-15'
              AND l.l_shipdate > TIMESTAMP '1998-06-15'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, o.o_orderkey ASC
            LIMIT 10
        """,
        "interval_join": """
            WITH c AS (SELECT event_id, user_id, ts FROM events
                       WHERE event_type = 'click'),
            w AS (SELECT user_id, ts AS start_ts,
                         ts + INTERVAL 30 MINUTE AS end_ts,
                         event_id AS window_id
                  FROM events WHERE event_type = 'purchase')
            SELECT c.event_id, c.user_id,
                   count(w.window_id) AS n_windows,
                   coalesce(min(w.window_id), CAST(-1 AS BIGINT))
                       AS first_window_id
            FROM c LEFT JOIN w
              ON c.user_id = w.user_id
             AND c.ts BETWEEN w.start_ts AND w.end_ts
            GROUP BY 1, 2
        """,
        "cohort_retention": """
            WITH c AS (SELECT user_id, min(epoch_us(ts)) AS c0
                       FROM events WHERE event_type = 'signup'
                       GROUP BY 1),
            co AS (SELECT user_id, c0 - c0 % 604800000000 AS cstart
                   FROM c),
            sizes AS (SELECT cstart, count(*) AS n_cohort
                      FROM co GROUP BY 1),
            act AS (SELECT e.user_id, co.cstart,
                           (epoch_us(e.ts) - co.cstart)
                               // 604800000000 AS period_k
                    FROM events e JOIN co ON e.user_id = co.user_id
                    WHERE epoch_us(e.ts) >= co.cstart),
            a AS (SELECT cstart, period_k,
                         count(DISTINCT user_id) AS n_active
                  FROM act GROUP BY 1, 2)
            SELECT make_timestamp(a.cstart) AS cohort_ts,
                   CAST(a.period_k AS INT) AS period_k,
                   a.n_active, s.n_cohort,
                   a.n_active / CAST(s.n_cohort AS DOUBLE) AS retention
            FROM a JOIN sizes s ON a.cstart = s.cstart
        """,
        "funnel_steps": """
            WITH b AS (SELECT user_id, event_type AS ty, epoch_us(ts) AS t
                       FROM events),
            s1 AS (SELECT user_id, min(t) AS t1 FROM b
                   WHERE ty = 'signup' GROUP BY 1),
            s2 AS (SELECT b.user_id, min(b.t) AS t2,
                          any_value(s1.t1) AS t1
                   FROM b JOIN s1 USING (user_id)
                   WHERE b.ty = 'click' AND b.t >= s1.t1
                     AND b.t <= s1.t1 + 604800000000
                   GROUP BY 1),
            s3 AS (SELECT b.user_id, min(b.t) AS t3
                   FROM b JOIN s2 USING (user_id)
                   WHERE b.ty = 'purchase' AND b.t >= s2.t2
                     AND b.t <= s2.t1 + 604800000000
                   GROUP BY 1),
            counts AS (
                SELECT 1 AS step_idx, 'signup' AS step,
                       count(*) AS n_users FROM s1
                UNION ALL
                SELECT 2, 'click', count(*) FROM s2
                UNION ALL
                SELECT 3, 'purchase', count(*) FROM s3)
            SELECT step_idx, step, n_users,
                   n_users / CAST(first_value(n_users)
                       OVER (ORDER BY step_idx) AS DOUBLE)
                       AS conversion_from_first,
                   coalesce(n_users / CAST(lag(n_users)
                       OVER (ORDER BY step_idx) AS DOUBLE), 1.0)
                       AS conversion_from_prev
            FROM counts
        """,
        "ohlc_bars": """
            WITH s AS (
                SELECT event_type AS series_id, epoch_us(ts) AS t,
                       CAST(round(value * 100) AS BIGINT) AS v
                FROM events),
            r AS (
                SELECT series_id, t // 3600000000 AS bkt, t, v,
                       row_number() OVER (
                           PARTITION BY series_id, t // 3600000000
                           ORDER BY t, v) AS rn_o,
                       row_number() OVER (
                           PARTITION BY series_id, t // 3600000000
                           ORDER BY t DESC, v DESC) AS rn_c
                FROM s)
            SELECT series_id,
                   make_timestamp(bkt * 3600000000) AS bucket_ts,
                   max(CASE WHEN rn_o = 1 THEN v END) AS open_cents,
                   max(v) AS high_cents,
                   min(v) AS low_cents,
                   max(CASE WHEN rn_c = 1 THEN v END) AS close_cents,
                   count(*) AS n_samples,
                   CAST(sum(v) AS BIGINT) AS volume_cents
            FROM r GROUP BY 1, 2
        """,
        "state_durations": """
            WITH s AS (
                SELECT user_id, epoch_us(ts) AS t, event_type AS state
                FROM events),
            seg AS (
                SELECT user_id, state, t,
                       lead(t) OVER (
                           PARTITION BY user_id ORDER BY t, state) AS e
                FROM s),
            d AS (
                SELECT user_id, state, e - t AS dur
                FROM seg WHERE e IS NOT NULL),
            k AS (
                SELECT user_id, state, dur,
                       CAST(sum(dur) OVER (PARTITION BY user_id)
                            AS BIGINT) AS kt
                FROM d)
            SELECT user_id, state,
                   CAST(sum(dur) AS BIGINT) AS total_us,
                   count(*) AS n_segments,
                   CAST(CAST(sum(dur) AS BIGINT) AS DOUBLE) / max(kt)
                       AS frac
            FROM k GROUP BY 1, 2
        """,
        "time_weighted_avg": """
            WITH s AS (
                SELECT event_type AS series_id, ts,
                       CAST(max(CAST(round(value * 100) AS BIGINT))
                            AS DOUBLE) AS v
                FROM events GROUP BY 1, 2),
            seg AS (
                SELECT series_id, epoch_us(ts) AS s,
                       lead(epoch_us(ts)) OVER (
                           PARTITION BY series_id ORDER BY epoch_us(ts)
                       ) AS e,
                       v
                FROM s),
            ex AS (
                SELECT series_id, s, e, v,
                       unnest(generate_series(
                           s // 3600000000, (e - 1) // 3600000000)) AS b
                FROM seg WHERE e IS NOT NULL AND e > s),
            ov AS (
                SELECT series_id, b,
                       least(e, (b + 1) * 3600000000)
                           - greatest(s, b * 3600000000) AS w,
                       v * (least(e, (b + 1) * 3600000000)
                           - greatest(s, b * 3600000000)) AS vw
                FROM ex)
            SELECT series_id,
                   make_timestamp(b * 3600000000) AS bucket_ts,
                   sum(vw) / sum(w) / 100.0 AS twa,
                   CAST(sum(w) AS BIGINT) AS covered_us
            FROM ov GROUP BY 1, 2
        """,
        "counter_rate": """
            WITH s AS (
                SELECT event_type AS series_id, ts,
                       sum(CAST(round(value * 100) AS BIGINT)) AS c
                FROM events GROUP BY 1, 2),
            cum AS (
                SELECT series_id, ts,
                       CAST(sum(c) OVER (
                           PARTITION BY series_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) % 1000000
                           AS DOUBLE) AS v
                FROM s),
            d AS (
                SELECT series_id, epoch_us(ts) AS tus, v,
                       lag(v) OVER (PARTITION BY series_id ORDER BY ts)
                           AS pv
                FROM cum),
            e AS (
                SELECT series_id, tus,
                       CASE WHEN v >= pv THEN v - pv ELSE v END AS inc,
                       CASE WHEN v < pv THEN 1 ELSE 0 END AS reset
                FROM d WHERE pv IS NOT NULL)
            SELECT series_id,
                   make_timestamp((tus // 3600000000) * 3600000000)
                       AS bucket_ts,
                   CAST(sum(inc) AS BIGINT) AS increase,
                   count(*) AS n_deltas,
                   CAST(sum(reset) AS BIGINT) AS n_resets,
                   round(sum(inc) / 3600.0, 6) AS rate_per_s
            FROM e GROUP BY 1, 2
        """,
        "interval_union": """
            WITH w AS (
                SELECT user_id, epoch_us(ts) AS s,
                       epoch_us(ts) + 1800000000 AS e
                FROM events WHERE event_type = 'purchase'),
            f AS (
                SELECT user_id, s, e,
                       CASE WHEN max(e) OVER (
                               PARTITION BY user_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING) IS NULL
                            OR s > max(e) OVER (
                               PARTITION BY user_id ORDER BY s, e
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING)
                       THEN 1 ELSE 0 END AS ni
                FROM w),
            g AS (
                SELECT user_id, s, e,
                       sum(ni) OVER (PARTITION BY user_id ORDER BY s, e
                           ROWS UNBOUNDED PRECEDING) AS island
                FROM f)
            SELECT user_id, make_timestamp(min(s)) AS island_start,
                   make_timestamp(max(e)) AS island_end,
                   count(*) AS n_intervals
            FROM g GROUP BY user_id, island
        """,
        "pii_redact": """
            WITH planted AS (
                SELECT doc_id,
                       text || ' u' || CAST(doc_id AS VARCHAR)
                            || '@example.com 10.'
                            || CAST(doc_id % 200 AS VARCHAR) || '.0.'
                            || CAST(doc_id % 250 AS VARCHAR)
                            || ' +1 (555) 010-'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                           AS text
                FROM documents),
            s1 AS (SELECT doc_id,
                          len(regexp_extract_all(text,
                              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                              AS n_emails,
                          regexp_replace(text,
                              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                              '<EMAIL>', 'g') AS t
                   FROM planted),
            s2 AS (SELECT doc_id, n_emails,
                          len(regexp_extract_all(t,
                              '([0-9]{1,3}\\.){3}[0-9]{1,3}')) AS n_ips,
                          regexp_replace(t,
                              '([0-9]{1,3}\\.){3}[0-9]{1,3}',
                              '<IP>', 'g') AS t
                   FROM s1)
            SELECT doc_id,
                   regexp_replace(t,
                       '\\+?[0-9][0-9()\\s.-]{6,}[0-9]',
                       '<PHONE>', 'g') AS redacted,
                   CAST(n_emails AS INT) AS n_emails,
                   CAST(n_ips AS INT) AS n_ips,
                   CAST(len(regexp_extract_all(t,
                       '\\+?[0-9][0-9()\\s.-]{6,}[0-9]')) AS INT)
                       AS n_phones
            FROM s2
        """,
        "doc_chunks": """
            SELECT doc_id,
                   CAST(start / 350 AS INT) AS chunk_idx,
                   CAST(start AS INT) AS chunk_start,
                   substr(text, CAST(start AS INT) + 1, 400) AS chunk_text
            FROM (
                SELECT doc_id, text,
                       unnest(generate_series(
                           0,
                           CAST(floor((length(text) - 1) / 350) * 350
                                AS BIGINT),
                           350)) AS start
                FROM documents
                WHERE length(text) > 0
            )
        """,
        "strip_html": """
            WITH planted AS (
                SELECT doc_id,
                       '<p class="x">' || text
                           || '</p> &amp; <a href="y">link &lt;here&gt;</a>'
                           AS text
                FROM documents)
            SELECT doc_id,
                   trim(regexp_replace(
                       replace(replace(replace(replace(replace(
                           regexp_replace(text, '<[^>]*>', ' ', 'g'),
                           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                           '&apos;', ''''), '&amp;', '&'),
                       '\\s+', ' ', 'g')) AS clean
            FROM planted
        """,
        "repetition_ratio": """
            WITH docs AS (SELECT doc_id,
                                 string_split(trim(regexp_replace(
                                     lower(text), '\\s+', ' ', 'g')), ' ')
                                     AS w
                          FROM documents),
            g AS (SELECT doc_id,
                         concat_ws(' ', w[i], w[i+1], w[i+2]) AS g
                  FROM docs,
                       unnest(generate_series(1, greatest(len(w) - 2, 1)))
                           AS t(i)),
            pg AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2)
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_grams,
                   count(*) AS n_distinct,
                   round(1.0 - count(*) * 1.0 / sum(c), 6) AS dup_ratio,
                   round(max(c) * 1.0 / sum(c), 6) AS top_gram_frac
            FROM pg GROUP BY 1
        """,
        "ts_rolling": """
            WITH hr AS (SELECT event_type AS series_id,
                               date_trunc('hour', ts) AS bucket_ts,
                               CAST(floor(
                                   CAST(sum(CAST(round(value * 100)
                                            AS BIGINT)) AS DOUBLE)
                                   * 10000.0 / count(*)) AS BIGINT) AS vm
                        FROM events GROUP BY 1, 2),
            win AS (SELECT series_id, bucket_ts, vm,
                           CAST(sum(vm) OVER w AS DOUBLE) AS s,
                           CAST(sum(vm * vm) OVER w AS DOUBLE) AS ssq,
                           CAST(min(vm) OVER w AS BIGINT) AS mn,
                           CAST(max(vm) OVER w AS BIGINT) AS mx,
                           count(vm) OVER w AS n
                    FROM hr
                    WINDOW w AS (PARTITION BY series_id ORDER BY bucket_ts
                                 ROWS BETWEEN 23 PRECEDING
                                          AND CURRENT ROW))
            SELECT series_id, bucket_ts,
                   vm / 1000000.0 AS v,
                   (s / n) / 1000000.0 AS roll_mean,
                   coalesce(CASE WHEN n > 1 THEN sqrt(greatest(
                                (ssq - s * s / n) / (n - 1), 0.0))
                            END / 1000000.0, -1.0) AS roll_std,
                   mn / 1000000.0 AS roll_min,
                   mx / 1000000.0 AS roll_max,
                   n AS roll_n
            FROM win
        """,
        "ts_ewma": """
            WITH RECURSIVE
            hr AS (SELECT event_type AS series_id,
                          date_trunc('hour', ts) AS bucket_ts,
                          round(avg(value), 6) AS v
                   FROM events GROUP BY 1, 2),
            idx AS (SELECT series_id, bucket_ts, v,
                           row_number() OVER (PARTITION BY series_id
                                              ORDER BY bucket_ts) AS rn
                    FROM hr),
            rec AS (
                SELECT series_id, bucket_ts, v, rn, v AS s
                FROM idx WHERE rn = 1
                UNION ALL
                SELECT i.series_id, i.bucket_ts, i.v, i.rn,
                       r.s * 0.75 + i.v * 0.25
                FROM idx i JOIN rec r
                  ON i.series_id = r.series_id AND i.rn = r.rn + 1)
            SELECT series_id, bucket_ts, v, round(s, 6) AS ewma FROM rec
        """,
        "ts_rolling_median": """
            WITH hr AS (SELECT event_type AS series_id,
                               date_trunc('hour', ts) AS bucket_ts,
                               round(avg(value), 6) AS v
                        FROM events GROUP BY 1, 2)
            SELECT series_id, bucket_ts, v,
                   quantile_cont(v, 0.5) OVER (
                       PARTITION BY series_id ORDER BY bucket_ts
                       ROWS BETWEEN 23 PRECEDING AND CURRENT ROW
                   ) AS roll_median,
                   count(*) OVER (
                       PARTITION BY series_id ORDER BY bucket_ts
                       ROWS BETWEEN 23 PRECEDING AND CURRENT ROW
                   ) AS roll_n
            FROM hr
        """,
        "ts_theil_sen": """
            WITH hr AS (SELECT event_type AS series_id,
                               date_trunc('hour', ts) AS bucket_ts,
                               round(avg(value), 6) AS v
                        FROM events GROUP BY 1, 2),
            idx AS (SELECT series_id,
                           epoch_us(bucket_ts) / 3600000000.0 AS t, v
                    FROM hr),
            pairs AS (SELECT a.series_id,
                             (b.v - a.v) / (b.t - a.t) AS s
                      FROM idx a JOIN idx b
                        ON a.series_id = b.series_id AND a.t < b.t)
            SELECT series_id,
                   quantile_cont(s, 0.5) AS slope_per_unit,
                   count(*) AS n_pairs
            FROM pairs GROUP BY 1
        """,
        "ts_brown_les": """
            WITH RECURSIVE
            hr AS (SELECT event_type AS series_id,
                          date_trunc('hour', ts) AS bucket_ts,
                          round(avg(value), 6) AS v
                   FROM events GROUP BY 1, 2),
            idx AS (SELECT series_id, bucket_ts, v,
                           row_number() OVER (PARTITION BY series_id
                                              ORDER BY bucket_ts) AS rn
                    FROM hr),
            rec AS (
                -- ONE recursion carrying BOTH smoothing states: a second
                -- recursive CTE stacked on the first re-runs the whole
                -- inner recursion per outer step (quadratic; measured
                -- minutes at 3,600 rows). s1_t is written out twice so
                -- the s2 update uses the identical IEEE op sequence the
                -- pandas kernel does (s2 = 0.75*s2_prev + 0.25*s1_t).
                SELECT series_id, bucket_ts, v, rn, v AS s1, v AS s2
                FROM idx WHERE rn = 1
                UNION ALL
                SELECT i.series_id, i.bucket_ts, i.v, i.rn,
                       r.s1 * 0.75 + i.v * 0.25,
                       r.s2 * 0.75 + (r.s1 * 0.75 + i.v * 0.25) * 0.25
                FROM idx i JOIN rec r
                  ON i.series_id = r.series_id AND i.rn = r.rn + 1)
            SELECT series_id, bucket_ts, v,
                   round(2.0 * s1 - s2, 6) AS level,
                   round(0.3333333333333333 * (s1 - s2), 6) AS trend,
                   round((2.0 * s1 - s2)
                         + 0.3333333333333333 * (s1 - s2), 6) AS forecast
            FROM rec
        """,
        "ts_xcorr": """
            WITH hr AS (SELECT event_type AS series_id,
                               date_trunc('hour', ts) AS bucket_ts,
                               round(avg(value), 6) AS v
                        FROM events GROUP BY 1, 2),
            idx AS (SELECT series_id, v,
                           row_number() OVER (PARTITION BY series_id
                                              ORDER BY bucket_ts) - 1 AS i
                    FROM hr),
            a AS (SELECT v AS x, i FROM idx WHERE series_id = 'click'),
            b AS (SELECT v AS y, i FROM idx WHERE series_id = 'view'),
            lags AS (SELECT unnest(generate_series(-6, 6)) AS lag)
            SELECT CAST(l.lag AS INT) AS lag,
                   round(corr(a.x, b.y), 6) AS xcorr,
                   count(*) AS n_pairs
            FROM a CROSS JOIN lags l
            JOIN b ON a.i = b.i + l.lag
            GROUP BY 1
        """,
        "ts_acf": """
            WITH hr AS (SELECT event_type AS series_id,
                               date_trunc('hour', ts) AS bucket_ts,
                               round(avg(value), 6) AS v
                        FROM events GROUP BY 1, 2),
            idx AS (SELECT series_id, v,
                           row_number() OVER (PARTITION BY series_id
                                              ORDER BY bucket_ts) - 1 AS i
                    FROM hr),
            lags AS (SELECT unnest(generate_series(1, 12)) AS lag)
            SELECT a.series_id, CAST(l.lag AS INT) AS lag,
                   round(corr(a.v, b.v), 6) AS acf,
                   count(*) AS n_pairs
            FROM idx a
            CROSS JOIN lags l
            JOIN idx b ON a.series_id = b.series_id
                      AND b.i = a.i - l.lag
            GROUP BY 1, 2
        """,
        "m4_downsample": """
            WITH base AS (SELECT event_type AS series_id, ts AS bucket_ts,
                                 round(avg(value), 6) AS v
                          FROM events GROUP BY 1, 2)
            SELECT series_id,
                   date_trunc('hour', bucket_ts) AS bucket_start,
                   arg_min(v, bucket_ts) AS first_v,
                   arg_max(v, bucket_ts) AS last_v,
                   min(v) AS min_v,
                   max(v) AS max_v,
                   count(*) AS n_points
            FROM base GROUP BY 1, 2
        """,
        "ts_anomaly": """
            WITH hr AS (SELECT event_type AS series_id,
                               date_trunc('hour', ts) AS bucket_ts,
                               round(avg(value), 6) AS v
                        FROM events GROUP BY 1, 2),
            med AS (SELECT series_id, quantile_cont(v, 0.5) AS m
                    FROM hr GROUP BY 1),
            mad AS (SELECT h.series_id,
                           quantile_cont(abs(h.v - m.m), 0.5) AS d
                    FROM hr h JOIN med m USING (series_id) GROUP BY 1)
            SELECT h.series_id, h.bucket_ts, h.v,
                   round(0.6745 * (h.v - m.m) / d.d, 6) AS robust_z,
                   abs(0.6745 * (h.v - m.m) / d.d) > 3.5 AS is_anomaly
            FROM hr h
            JOIN med m USING (series_id)
            JOIN mad d USING (series_id)
        """,
        "ts_cusum": """
            WITH hr AS (SELECT event_type AS series_id,
                               date_trunc('hour', ts) AS bucket_ts,
                               round(avg(value), 6) AS v
                        FROM events GROUP BY 1, 2),
            st AS (SELECT series_id, avg(v) AS mu,
                          stddev_samp(v) AS sd, count(*) AS n
                   FROM hr GROUP BY 1),
            cum AS (SELECT h.series_id, h.bucket_ts,
                           sum(h.v) OVER (PARTITION BY h.series_id
                                          ORDER BY h.bucket_ts
                                          ROWS UNBOUNDED PRECEDING)
                           - row_number() OVER (PARTITION BY h.series_id
                                                ORDER BY h.bucket_ts)
                             * s.mu AS s_t,
                           s.sd, s.n
                    FROM hr h JOIN st s USING (series_id)),
            ranked AS (SELECT *,
                              max(abs(s_t)) OVER (PARTITION BY series_id)
                                  AS max_abs,
                              row_number() OVER (PARTITION BY series_id
                                                 ORDER BY abs(s_t) DESC,
                                                          bucket_ts)
                                  AS rk
                       FROM cum)
            SELECT series_id, bucket_ts AS cp_ts,
                   round(max_abs / (sd * sqrt(n)), 6) AS cusum_stat, n
            FROM ranked WHERE rk = 1
        """,
        "ts_seasonal": """
            WITH hr AS (SELECT event_type AS series_id,
                               date_trunc('hour', ts) AS bucket_ts,
                               CAST(CAST(round(round(avg(value), 6)
                                    * 1000000) AS BIGINT) AS DOUBLE) AS v
                        FROM events GROUP BY 1, 2),
            base AS (SELECT series_id, bucket_ts, v,
                            CAST((row_number() OVER wobs - 1) % 24 AS INT)
                                AS phase,
                            CASE WHEN count(v) OVER wa = 24
                                  AND count(v) OVER wb = 24
                                 THEN (sum(v) OVER wa + sum(v) OVER wb)
                                      / 48.0 END AS trend
                     FROM hr
                     WINDOW wobs AS (PARTITION BY series_id
                                     ORDER BY bucket_ts),
                            wa AS (PARTITION BY series_id
                                   ORDER BY bucket_ts
                                   ROWS BETWEEN 12 PRECEDING
                                            AND 11 FOLLOWING),
                            wb AS (PARTITION BY series_id
                                   ORDER BY bucket_ts
                                   ROWS BETWEEN 11 PRECEDING
                                            AND 12 FOLLOWING)),
            ph0 AS (SELECT series_id, phase, avg(v - trend) AS raw_s
                    FROM base GROUP BY 1, 2),
            ph AS (SELECT series_id, phase,
                          raw_s - avg(raw_s) OVER (PARTITION BY series_id)
                              AS seasonal
                   FROM ph0)
            SELECT b.series_id, b.bucket_ts, b.v / 1000000.0 AS v, b.phase,
                   coalesce(b.trend / 1000000.0, -999999.0) AS trend,
                   p.seasonal / 1000000.0 AS seasonal,
                   coalesce((b.v - b.trend - p.seasonal) / 1000000.0,
                            -999999.0) AS residual
            FROM base b JOIN ph p USING (series_id, phase)
        """,
        "event_transitions": """
            WITH p AS (SELECT user_id, event_type AS cur,
                              lead(event_type) OVER (
                                  PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxt
                       FROM events),
            q AS (SELECT cur, nxt FROM p WHERE nxt IS NOT NULL),
            c AS (SELECT cur, count(*) AS n_cur FROM q GROUP BY 1)
            SELECT q.cur, q.nxt, count(*) AS n,
                   CAST(count(*) AS DOUBLE) / c.n_cur AS p
            FROM q JOIN c USING (cur)
            GROUP BY q.cur, q.nxt, c.n_cur
        """,
        "hourly_pivot": """
            SELECT date_trunc('hour', ts) AS bucket_ts,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_click,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_view,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_purchase,
                   CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_signup,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_error
            FROM events GROUP BY 1
        """,
        "hourly_percentiles": """
            SELECT event_type,
                   date_trunc('hour', ts) AS bucket_ts,
                   count(*) AS n,
                   quantile_cont(value, 0.5) AS p50,
                   quantile_cont(value, 0.95) AS p95,
                   quantile_cont(value, 0.99) AS p99,
                   min(value) AS vmin,
                   max(value) AS vmax
            FROM events GROUP BY 1, 2
        """,
        "series_corr_matrix": """
            WITH hr AS (SELECT event_type AS series_id,
                               date_trunc('hour', ts) AS bucket_ts,
                               round(avg(value), 6) AS v
                        FROM events GROUP BY 1, 2),
            idx AS (SELECT series_id, v,
                           row_number() OVER (PARTITION BY series_id
                                              ORDER BY bucket_ts) - 1 AS i
                    FROM hr)
            SELECT a.series_id AS series_a, b.series_id AS series_b,
                   round(corr(a.v, b.v), 6) AS corr,
                   count(*) AS n_pairs
            FROM idx a JOIN idx b
              ON a.i = b.i AND a.series_id < b.series_id
            GROUP BY 1, 2
        """,
        "user_profile": """
            SELECT user_id,
                   min(ts) AS first_seen,
                   max(ts) AS last_seen,
                   round(date_diff('microsecond', min(ts), max(ts))
                         / 1000000.0, 6) AS tenure_s,
                   count(DISTINCT CAST(ts AS DATE)) AS active_days,
                   count(*) AS n_events,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_purchases,
                   CAST(sum(CASE WHEN event_type = 'error'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS spend_cents
            FROM events GROUP BY 1
        """,
        "user_profile_skewed": """
            WITH ev AS (
                SELECT CASE WHEN user_id % 5 = 0 THEN CAST(-1 AS BIGINT)
                            ELSE user_id END AS user_id,
                       ts, event_type, value
                FROM events)
            SELECT user_id,
                   min(ts) AS first_seen,
                   max(ts) AS last_seen,
                   round(date_diff('microsecond', min(ts), max(ts))
                         / 1000000.0, 6) AS tenure_s,
                   count(DISTINCT CAST(ts AS DATE)) AS active_days,
                   count(*) AS n_events,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_purchases,
                   CAST(sum(CASE WHEN event_type = 'error'
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
                   CAST(sum(CASE WHEN event_type = 'purchase'
                                 THEN CAST(round(value * 100) AS BIGINT)
                                 ELSE 0 END) AS BIGINT) AS spend_cents
            FROM ev GROUP BY 1
        """,
        "sessionize_skewed": """
            WITH ev AS (
                SELECT CASE WHEN user_id % 5 = 0 THEN CAST(-1 AS BIGINT)
                            ELSE user_id END AS user_id,
                       ts, event_id,
                       CAST(round(value * 100) AS BIGINT) AS cents
                FROM events),
            ordered AS (
                SELECT user_id, ts, event_id, cents,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                            THEN 1 ELSE 0 END AS new_s
                FROM ev
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            marked AS (
                SELECT user_id, ts, cents,
                       sum(new_s) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS s_idx
                FROM ordered)
            SELECT user_id,
                   CAST(s_idx AS INT) AS session_idx,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   count(*) AS n_events,
                   CAST(sum(cents) AS BIGINT) AS total_cents
            FROM marked
            GROUP BY user_id, s_idx
        """,
        "snapshot_diff": """
            WITH ev AS (SELECT event_id, user_id, value FROM events),
            nw AS (
                SELECT event_id, user_id,
                       CASE WHEN event_id % 97 = 0 THEN value + 1.5
                            ELSE value END AS value
                FROM ev WHERE event_id % 101 != 0
                UNION ALL
                SELECT event_id + 10000000, user_id, value
                FROM ev WHERE event_id % 500 = 0),
            a AS (SELECT event_id, value AS va,
                         CAST(round(value * 100) AS BIGINT) AS ca
                  FROM ev),
            b AS (SELECT event_id, value AS vb,
                         CAST(round(value * 100) AS BIGINT) AS cb
                  FROM nw),
            j AS (SELECT va, ca, vb, cb
                  FROM a FULL OUTER JOIN b ON a.event_id = b.event_id)
            SELECT CASE WHEN va IS NULL THEN 'added'
                        WHEN vb IS NULL THEN 'removed'
                        WHEN ca != cb THEN 'changed'
                        ELSE 'unchanged' END AS change,
                   count(*) AS n,
                   CAST(sum(coalesce(cb, 0) - coalesce(ca, 0)) AS BIGINT)
                       AS cents_drift
            FROM j GROUP BY 1
        """,
        "data_expectations": """
            WITH a AS (SELECT count(*) AS n,
                sum(CASE WHEN (value >= 0) IS NOT TRUE
                         THEN 1 ELSE 0 END) AS v_value_nonnegative,
                sum(CASE WHEN (value < 10000) IS NOT TRUE
                         THEN 1 ELSE 0 END) AS v_value_below_10k,
                sum(CASE WHEN (ts >= TIMESTAMP '2024-01-01'
                           AND ts < TIMESTAMP '2025-01-01') IS NOT TRUE
                         THEN 1 ELSE 0 END) AS v_ts_in_2024,
                sum(CASE WHEN (event_type IN ('click','view','purchase',
                           'signup','error')) IS NOT TRUE
                         THEN 1 ELSE 0 END) AS v_event_type_known,
                sum(CASE WHEN (user_id >= 0) IS NOT TRUE
                         THEN 1 ELSE 0 END) AS v_user_id_positive,
                sum(CASE WHEN (props IS NOT NULL AND json_valid(props))
                           IS NOT TRUE
                         THEN 1 ELSE 0 END) AS v_props_is_json
                FROM events),
            s AS (
                SELECT 'event_type_known' AS rule, n,
                       v_event_type_known AS n_violations FROM a
                UNION ALL SELECT 'props_is_json', n, v_props_is_json FROM a
                UNION ALL SELECT 'ts_in_2024', n, v_ts_in_2024 FROM a
                UNION ALL SELECT 'user_id_positive', n,
                       v_user_id_positive FROM a
                UNION ALL SELECT 'value_below_10k', n,
                       v_value_below_10k FROM a
                UNION ALL SELECT 'value_nonnegative', n,
                       v_value_nonnegative FROM a)
            SELECT rule, CAST(n AS BIGINT) AS n_rows,
                   CAST(n_violations AS BIGINT) AS n_violations,
                   CAST(n - n_violations AS DOUBLE) / n AS pass_rate
            FROM s
        """,
        "cube_profile": """
            SELECT coalesce(event_type, 'ALL') AS event_type_g,
                   CAST(coalesce(dow, -1) AS INT) AS dow_g,
                   count(*) AS n,
                   CAST(sum(cents) AS BIGINT) AS sum_cents
            FROM (SELECT event_type,
                         dayofweek(ts) + 1 AS dow,
                         CAST(round(value * 100) AS BIGINT) AS cents
                  FROM events)
            GROUP BY CUBE(event_type, dow)
        """,
        "hopping_window": """
            WITH hops AS (
                SELECT time_bucket(INTERVAL '15 minutes', ts)
                           - t.k * INTERVAL '15 minutes' AS window_start,
                       event_type,
                       CAST(round(value * 100) AS BIGINT) AS cents
                FROM events
                CROSS JOIN (VALUES (0), (1), (2), (3)) t(k))
            SELECT window_start, event_type, count(*) AS n,
                   CAST(sum(cents) AS BIGINT) AS sum_cents
            FROM hops GROUP BY 1, 2
        """,
        "rank_functions": """
            WITH per AS (
                SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
                       count(*) AS n
                FROM events GROUP BY 1, 2)
            SELECT event_type, bucket_ts, n,
                   CAST(rank() OVER w AS INT) AS rnk,
                   CAST(dense_rank() OVER w AS INT) AS drnk,
                   percent_rank() OVER w AS prnk,
                   cume_dist() OVER w AS cdist,
                   CAST(ntile(4) OVER w AS INT) AS quartile
            FROM per
            WINDOW w AS (PARTITION BY event_type
                         ORDER BY n DESC, bucket_ts ASC)
        """,
        "sliding_distinct": """
            WITH hops AS (
                SELECT time_bucket(INTERVAL '1 hour', ts)
                           + (t.k + 1) * INTERVAL '1 hour' AS window_end,
                       event_type, user_id
                FROM events
                CROSS JOIN (SELECT unnest(range(24)) AS k) t)
            SELECT window_end, event_type,
                   count(DISTINCT user_id) AS n_users,
                   count(*) AS n_events
            FROM hops GROUP BY 1, 2
        """,
        "weekly_profile": """
            WITH cells AS (
                SELECT event_type,
                       dayofweek(ts) + 1 AS dow,
                       CAST(hour(ts) AS INT) AS hod,
                       count(*) AS n,
                       sum(CAST(round(value * 100) AS BIGINT))
                           AS sum_cents
                FROM events GROUP BY 1, 2, 3),
            totals AS (SELECT event_type, sum(n) AS total
                       FROM cells GROUP BY 1)
            SELECT c.event_type, CAST(c.dow AS INT) AS dow, c.hod, c.n,
                   CAST(c.sum_cents AS DOUBLE) / c.n / 100.0
                       AS mean_value,
                   CAST(c.n AS DOUBLE) / CAST(t.total AS BIGINT) AS share
            FROM cells c JOIN totals t USING (event_type)
        """,
        "top_users_per_hour": """
            WITH per AS (
                SELECT date_trunc('hour', ts) AS bucket_ts, user_id,
                       count(*) AS n_events
                FROM events GROUP BY 1, 2),
            rk AS (
                SELECT bucket_ts, user_id, n_events,
                       row_number() OVER (PARTITION BY bucket_ts
                           ORDER BY n_events DESC, user_id ASC) AS rank
                FROM per)
            SELECT bucket_ts, CAST(rank AS INT) AS rank, user_id,
                   n_events
            FROM rk WHERE rank <= 3
        """,
        "ts_period": """
            WITH hr AS (SELECT event_type AS series_id,
                               date_trunc('hour', ts) AS bucket_ts,
                               round(avg(value), 6) AS v
                        FROM events GROUP BY 1, 2),
            idx AS (SELECT series_id, v,
                           row_number() OVER (PARTITION BY series_id
                                              ORDER BY bucket_ts) - 1 AS i
                    FROM hr),
            lags AS (SELECT unnest(generate_series(2, 48)) AS lag),
            ac AS (SELECT a.series_id, CAST(l.lag AS INT) AS lag,
                          round(corr(a.v, b.v), 6) AS acf_r
                   FROM idx a
                   CROSS JOIN lags l
                   JOIN idx b ON a.series_id = b.series_id
                             AND b.i = a.i - l.lag
                   GROUP BY 1, 2),
            thr AS (SELECT series_id, lag, acf_r,
                           CASE WHEN max(acf_r) OVER w > 0
                                THEN max(acf_r) OVER w * 0.95
                                ELSE max(acf_r) OVER w END AS t
                    FROM ac
                    WINDOW w AS (PARTITION BY series_id)),
            rk AS (SELECT series_id, lag, acf_r,
                          row_number() OVER (PARTITION BY series_id
                              ORDER BY lag ASC) AS rn
                   FROM thr WHERE acf_r >= t)
            SELECT series_id, lag AS period, acf_r AS acf_at_period
            FROM rk WHERE rn = 1
        """,
        "value_histogram": """
            SELECT event_type,
                   CAST(least(greatest(
                       CAST(floor(value / 25) AS BIGINT), 0), 19)
                       AS INT) AS bucket,
                   count(*) AS n,
                   round(min(value), 6) AS bin_min,
                   round(max(value), 6) AS bin_max
            FROM events GROUP BY 1, 2
        """,
        "ts_strengths": """
            WITH hr AS (SELECT event_type AS series_id,
                               date_trunc('hour', ts) AS bucket_ts,
                               round(avg(value), 6) AS v
                        FROM events GROUP BY 1, 2),
            base AS (SELECT series_id, bucket_ts, v,
                            CAST((row_number() OVER wobs - 1) % 24 AS INT)
                                AS phase,
                            CASE WHEN count(v) OVER wa = 24
                                  AND count(v) OVER wb = 24
                                 THEN (sum(v) OVER wa + sum(v) OVER wb)
                                      / 48.0 END AS trend
                     FROM hr
                     WINDOW wobs AS (PARTITION BY series_id
                                     ORDER BY bucket_ts),
                            wa AS (PARTITION BY series_id
                                   ORDER BY bucket_ts
                                   ROWS BETWEEN 12 PRECEDING
                                            AND 11 FOLLOWING),
                            wb AS (PARTITION BY series_id
                                   ORDER BY bucket_ts
                                   ROWS BETWEEN 11 PRECEDING
                                            AND 12 FOLLOWING)),
            ph0 AS (SELECT series_id, phase, avg(v - trend) AS raw_s
                    FROM base GROUP BY 1, 2),
            ph AS (SELECT series_id, phase,
                          raw_s - avg(raw_s) OVER (PARTITION BY series_id)
                              AS seasonal
                   FROM ph0),
            j AS (SELECT b.series_id, b.v, b.trend, p.seasonal
                  FROM base b JOIN ph p USING (series_id, phase)
                  WHERE b.trend IS NOT NULL),
            agg AS (SELECT series_id,
                           var_samp(v - trend - seasonal) AS vr,
                           var_samp(v - seasonal) AS vdeseas,
                           var_samp(v - trend) AS vdetrend,
                           count(*) AS n_interior
                    FROM j GROUP BY 1)
            SELECT series_id,
                   round(greatest(0.0, 1 - vr / vdeseas), 6)
                       AS trend_strength,
                   round(greatest(0.0, 1 - vr / vdetrend), 6)
                       AS seasonal_strength,
                   n_interior
            FROM agg
        """,
        "sessionize": """
            WITH ordered AS (
                SELECT user_id, ts, event_id, value,
                       CASE WHEN lag(ts) OVER w IS NULL
                              OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                            THEN 1 ELSE 0 END AS new_s
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            marked AS (
                SELECT user_id, ts, value,
                       sum(new_s) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS s_idx
                FROM ordered)
            SELECT user_id,
                   CAST(s_idx AS INT) AS session_idx,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   count(*) AS n_events,
                   round(sum(value), 6) AS total_value
            FROM marked
            GROUP BY user_id, s_idx
        """,
        "hurst_rs": """
            WITH hr AS (SELECT event_type AS series_id,
                               date_trunc('hour', ts) AS bucket_ts,
                               CAST(floor(
                                   CAST(sum(CAST(round(value * 100)
                                            AS BIGINT)) AS DOUBLE)
                                   / count(*)) AS BIGINT) AS vm
                        FROM events GROUP BY 1, 2),
            idx AS (SELECT series_id, vm,
                           row_number() OVER (PARTITION BY series_id
                                              ORDER BY bucket_ts) - 1 AS rn
                    FROM hr),
            ladder AS (SELECT series_id, vm, rn,
                              unnest([8, 16, 32, 64]) AS n
                       FROM idx),
            chunked AS (SELECT series_id, n, vm, rn,
                               CAST(floor(rn / n) AS BIGINT) AS chunk
                        FROM ladder),
            winstats AS (
                SELECT series_id, n, chunk, vm,
                       count(*) OVER c AS cnt,
                       sum(vm) OVER c AS s1,
                       sum(vm * vm) OVER c AS s2,
                       sum(vm) OVER r AS cum,
                       row_number() OVER r AS t
                FROM chunked
                WINDOW c AS (PARTITION BY series_id, n, chunk),
                       r AS (PARTITION BY series_id, n, chunk ORDER BY rn
                             ROWS UNBOUNDED PRECEDING)),
            z AS (SELECT series_id, n, chunk, s1, s2,
                         CAST(cum AS DOUBLE)
                         - CAST(t * s1 AS DOUBLE) / n AS zt
                  FROM winstats WHERE cnt = n),
            chunks AS (
                SELECT series_id, n, chunk,
                       max(zt) - min(zt) AS r,
                       (CAST(any_value(s2) AS DOUBLE)
                        - CAST(any_value(s1) * any_value(s1) AS DOUBLE)
                          / n) / n AS var
                FROM z GROUP BY series_id, n, chunk),
            rs AS (SELECT series_id, n, r / sqrt(var) AS rs
                   FROM chunks WHERE var > 0)
            SELECT series_id,
                   CAST(n AS BIGINT) AS n,
                   count(*) AS n_chunks,
                   CAST(sum(CAST(floor(rs * 1000000.0) AS BIGINT))
                        AS BIGINT) AS sum_rs_micro
            FROM rs GROUP BY series_id, n
        """,
        "trigram_quality": """
            WITH base AS (SELECT doc_id, text FROM documents
                          UNION ALL SELECT 20000000, 'ab'),
            d AS (SELECT doc_id,
                         trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
                             AS t
                  FROM base),
            pos AS (SELECT doc_id, t,
                           unnest(generate_series(
                               1, greatest(length(t) - 2, 0))) AS i
                    FROM d),
            occ AS (SELECT doc_id,
                           substr(t, CAST(i AS INT), 3) AS tri
                    FROM pos),
            prof AS (SELECT tri, count(*) AS df FROM occ GROUP BY tri),
            sc AS (SELECT o.doc_id,
                          count(*) AS n_tri,
                          sum(CASE WHEN p.df <= 2 THEN 1 ELSE 0 END)
                              AS n_rare,
                          sum(p.df) AS df_mass
                   FROM occ o JOIN prof p USING (tri)
                   GROUP BY o.doc_id)
            SELECT b.doc_id,
                   CAST(coalesce(sc.n_tri, 0) AS BIGINT) AS n_tri,
                   CAST(coalesce(sc.n_rare, 0) AS BIGINT) AS n_rare,
                   CAST(coalesce(sc.df_mass, 0) AS BIGINT) AS df_mass
            FROM base b LEFT JOIN sc ON b.doc_id = sc.doc_id
        """,
        "edit_distance_pairs": """
            WITH planted AS (SELECT doc_id + 20000000 AS doc_id,
                                    text || ' zq' AS text
                             FROM (SELECT doc_id, text FROM documents
                                   ORDER BY doc_id LIMIT 10)),
            base AS (SELECT doc_id, text FROM documents
                     UNION ALL SELECT doc_id, text FROM planted),
            d AS (SELECT doc_id AS id,
                         trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))
                             AS t
                  FROM base),
            s AS (SELECT id, t, substr(t, 1, 24) AS blk,
                         length(t) AS len
                  FROM d WHERE length(t) >= 24)
            SELECT a.id AS id_a, b.id AS id_b,
                   CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist,
                   CAST(a.len AS BIGINT) AS len_a,
                   CAST(b.len AS BIGINT) AS len_b
            FROM s a JOIN s b
              ON a.blk = b.blk AND a.id < b.id
             AND abs(a.len - b.len) <= 16
            WHERE levenshtein(a.t, b.t) <= 16
        """,
        "winsorize_values": """
            WITH e AS (SELECT event_type, event_id,
                              CAST(round(value * 100) AS BIGINT) AS cents
                       FROM events),
            r AS (SELECT *,
                         row_number() OVER (PARTITION BY event_type
                                            ORDER BY cents, event_id) AS rn,
                         count(*) OVER (PARTITION BY event_type) AS n
                  FROM e),
            b AS (SELECT event_type,
                         min(CASE WHEN rn = CAST(floor(
                                 (5 * n + 99) / 100.0) AS BIGINT)
                             THEN cents END) AS lo_bound,
                         min(CASE WHEN rn = CAST(floor(
                                 (95 * n + 99) / 100.0) AS BIGINT)
                             THEN cents END) AS hi_bound
                  FROM r GROUP BY event_type)
            SELECT e.event_type, e.event_id, e.cents,
                   b.lo_bound, b.hi_bound,
                   greatest(least(e.cents, b.hi_bound), b.lo_bound)
                       AS cents_w,
                   CAST(CASE WHEN e.cents < b.lo_bound THEN -1
                             WHEN e.cents > b.hi_bound THEN 1
                             ELSE 0 END AS INT) AS clamped
            FROM e JOIN b USING (event_type)
        """,
    }
