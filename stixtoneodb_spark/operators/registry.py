"""Registry: operator name → (Spark query fn, DuckDB oracle SQL).

This is the driver-contract surface (``__spark_entry__.py``): every
operator claimed in SURVEY §2 has an entry, and every entry has oracle
SQL in ANSI/DuckDB dialect over the pre-registered parquet views.

Oracle-parity rules (mirrored in operators/relational.py):
- identical aliases both sides;
- money aggregates: exact DECIMAL(18,2) sums → ROUND(.., 2) on the decimal
  → cast DOUBLE (bit-stable across engines and partition orders);
- ranking windows always carry a unique tie-break column;
- integer sums (and integer arithmetic over them) → CAST(.. AS BIGINT):
  DuckDB's SUM over integers is HUGEINT (Arrow decimal128(38,0)), which
  never hashes equal to Spark's int64; the cast raises on overflow.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from stixtoneodb_spark.operators import (
    dedup,
    evals,
    graph,
    relational,
    similarity,
    text,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

_STOP = "'the','a','of','and','to','in','is','it'"
_VOCAB = "'spark','customer','vector','window','stream'"


def _pagerank_sql() -> str:
    """Unrolled weighted-PageRank oracle: the FIXED graph.PR_ITERS steps at
    graph.PR_DAMPING over the PR_VOCAB co-occurrence graph — iteration
    count, damping, vocabulary and the (1-d)/N teleport numerator are all
    interpolated from the Spark-side constants, so both engines run the
    same spec by construction.  The teleport numerator uses the PYTHON
    double repr of 1-d (0.15000000000000002, not the decimal literal 0.15)
    because the Spark side folds it driver-side into F.lit."""
    vocab = ",".join(f"'{t}'" for t in graph.PR_VOCAB)
    num = repr(1.0 - graph.PR_DAMPING)
    d = repr(graph.PR_DAMPING)
    iters = "".join(
        f""", r{k} AS (
  SELECT nd.node,
         (SELECT {num}/nn FROM n) + {d} * coalesce(c.c, 0.0) AS pr
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node, sum(rp.pr * e.w / o.wout) AS c
    FROM edges e JOIN outw o ON e.src = o.src JOIN r{k - 1} rp ON rp.node = e.src
    GROUP BY e.dst) c ON c.node = nd.node
)"""
        for k in range(1, graph.PR_ITERS + 1)
    )
    return f"""
WITH m AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
  WHERE token IN ({vocab})
), half AS (
  SELECT a.token AS src, b.token AS dst, COUNT(*)::DOUBLE AS w
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY a.token, b.token
), edges AS (
  SELECT src, dst, w FROM half UNION ALL SELECT dst, src, w FROM half
), outw AS (
  SELECT src, sum(w) AS wout FROM edges GROUP BY src
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), n AS (
  SELECT COUNT(*)::DOUBLE AS nn FROM nodes
), r0 AS (
  SELECT node, (SELECT 1.0/nn FROM n) AS pr FROM nodes
){iters}
SELECT node AS mention, round(pr, 6) AS pagerank FROM r{graph.PR_ITERS}
"""


def _lang_scores_sql() -> str:
    markers = {
        "de": "'der','die','das','und'",
        "en": "'the','a','and','of'",
        "es": "'el','la','los','que'",
        "fr": "'le','la','les','et'",
    }
    score_cols = ",\n  ".join(
        f"len(list_filter(string_split(lower(text), ' '), x -> x IN ({w}))) AS score_{lang}"
        for lang, w in markers.items()
    )
    langs = sorted(markers)
    best = "greatest(" + ", ".join(f"score_{la}" for la in langs) + ")"
    verdict = "CASE "
    for lang in langs:
        verdict += f"WHEN score_{lang} = {best} AND {best} > 0 THEN '{lang}' "
    verdict += "ELSE 'und' END AS lang_pred"
    return f"""
SELECT doc_id, score_de, score_en, score_es, score_fr, {verdict}
FROM (SELECT doc_id,
  {score_cols}
FROM documents)
"""


def _coocc_edges_cte() -> str:
    """Shared CTE text: the UNWEIGHTED undirected co-occurrence graph over
    graph.PR_VOCAB — must mirror graph._cooccurrence_edges exactly."""
    vocab = ",".join(f"'{t}'" for t in graph.PR_VOCAB)
    return f"""m AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
  WHERE token IN ({vocab})
), half AS (
  SELECT DISTINCT a.token AS src, b.token AS dst
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.token < b.token
)"""


def _triangle_sql() -> str:
    """Oriented node-iterator triangle enumeration on the a<b<c orientation
    (half already holds exactly the src<dst directed edges), then a 3-way
    corner credit — the same spec graph.kg_triangle_count runs."""
    return f"""
WITH {_coocc_edges_cte()}, tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM half e1
  JOIN half e2 ON e1.dst = e2.src
  JOIN half e3 ON e3.src = e1.src AND e3.dst = e2.dst
)
SELECT mention, COUNT(*) AS n_triangles
FROM (SELECT unnest([a, b, c]) AS mention FROM tri)
GROUP BY mention
"""


def _khop_sql() -> str:
    """Bounded-depth BFS as a recursive CTE with MIN(d) collapse — replays
    graph.kg_khop_reach's KHOP_MAX frontier rounds from KHOP_SEED."""
    return f"""
WITH RECURSIVE {_coocc_edges_cte()}, edges AS (
  SELECT src, dst FROM half UNION ALL SELECT dst AS src, src AS dst FROM half
), reach(node, d) AS (
  SELECT '{graph.KHOP_SEED}' AS node, 0 AS d
  UNION ALL
  SELECT e.dst, r.d + 1 FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.d < {graph.KHOP_MAX}
)
SELECT node AS mention, CAST(MIN(d) AS INT) AS hops FROM reach GROUP BY node
"""


# Shared CTE text: the cleaned-token 3-shingle sets behind the MinHash
# near-dup spec — must mirror dedup._minhash_pairs' shingle build exactly.
_MINHASH_SHINGLE_CTE = """tok AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                     x -> x <> '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
              ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                                  for i in range(1, len(toks) - 1)])
         END AS sh
  FROM tok WHERE len(toks) > 0
)"""


def _lpa_sql() -> str:
    """Synchronous label propagation, graph.LPA_ITERS rounds unrolled —
    each round is a neighbor-label count + deterministic argmax
    (count DESC, label ASC), the exact spec graph.label_propagation runs
    (min over struct(-count, label) ≡ this ROW_NUMBER ordering)."""
    rounds = []
    for k in range(1, graph.LPA_ITERS + 1):
        rounds.append(
            f"""r{k} AS (
  SELECT e.src AS node, l.label, COUNT(*) AS c
  FROM edges e JOIN l{k - 1} l ON e.dst = l.node GROUP BY e.src, l.label
), l{k} AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM r{k}) WHERE rn = 1
)"""
        )
    return f"""
WITH {_coocc_edges_cte()}, edges AS (
  SELECT src, dst FROM half UNION ALL SELECT dst AS src, src AS dst FROM half
), l0 AS (
  SELECT DISTINCT src AS node, src AS label FROM edges
), {", ".join(rounds)}
SELECT node AS mention, label AS community FROM l{graph.LPA_ITERS}
"""


def _funnel_sql() -> str:
    """Greedy earliest-completion funnel: t1 = min step-1 ts, t_k = min
    step-k ts at-or-after t_{{k-1}} — the identical spec
    relational.funnel_user_steps runs as conditional aggs + user joins."""
    s1, s2, s3 = relational.FUNNEL_STEPS
    return f"""
WITH t1 AS (
  SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = '{s1}'
  GROUP BY user_id
), t2 AS (
  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = '{s2}' AND e.ts >= t1.t1 GROUP BY e.user_id
), t3 AS (
  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = '{s3}' AND e.ts >= t2.t2 GROUP BY e.user_id
)
SELECT t1.user_id,
  CAST(1 + (t2.t2 IS NOT NULL)::INT + (t3.t3 IS NOT NULL)::INT AS INT) AS n_steps,
  epoch_us(t1.t1) AS t1_micros,
  epoch_us(t3.t3) AS t_last_micros
FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)
"""


def _repeated_ngrams_sql() -> str:
    span = text.NGRAM_SPAN
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), grams AS (
  SELECT doc_id, array_to_string(t[i:i + {span - 1}], ' ') AS gram
  FROM toks, UNNEST(range(1, len(t) - {span - 2})) AS u(i)
)
SELECT gram, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences
FROM grams GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2
"""


_PIVOT_COLS = ",\n  ".join(
    f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS n_{t}"
    for t in relational.EVENT_TYPES
)


REGISTRY: dict[str, tuple[QueryFn, str | None]] = {
    # ---- scans / projection / filter ----
    "scan_project_filter": (
        relational.scan_project_filter,
        "SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag "
        "FROM lineitem WHERE l_quantity > 45 AND l_returnflag = 'R'",
    ),
    "q1_pricing_summary": (
        relational.q1_pricing_summary,
        """
SELECT l_returnflag, l_linestatus,
  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""",
    ),
    # ---- joins ----
    "join_inner_orders_customer": (
        relational.join_inner_orders_customer,
        """
SELECT c_mktsegment, COUNT(*) AS n_orders,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    ),
    "join_left_customer_orders": (
        relational.join_left_customer_orders,
        """
SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
""",
    ),
    "join_semi_customers_with_orders": (
        relational.join_semi_customers_with_orders,
        """
SELECT c_nationkey, COUNT(*) AS n_customers
FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
""",
    ),
    "join_anti_customers_without_orders": (
        relational.join_anti_customers_without_orders,
        """
SELECT c_custkey, c_name, c_nationkey
FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""",
    ),
    "q3_shipping_priority": (
        relational.q3_shipping_priority,
        """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    ),
    # the oracle is the naive theta join; the Spark side is the bucketized
    # equi-join form (probe exploded to ±1 epoch bins) — same result set
    "range_join_event_context": (
        relational.range_join_event_context,
        """
SELECT a.event_id, COUNT(*) - 1 AS n_neighbors_5min
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000
GROUP BY a.event_id
""",
    ),
    "join_salted_skew_demo": (
        relational.join_salted_skew_demo,
        """
SELECT c_nationkey, COUNT(*) AS n_orders,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_nationkey
""",
    ),
    # ---- aggregation ----
    "agg_count_by_type": (
        relational.agg_count_by_type,
        """
SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM events GROUP BY event_type
""",
    ),
    "agg_rollup_nation_region": (
        relational.agg_rollup_nation_region,
        """
SELECT r_name, n_name, COUNT(*) AS n_customers,
  CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
    ),
    "distinct_users_per_type": (
        relational.distinct_users_per_type,
        "SELECT DISTINCT event_type, user_id FROM events",
    ),
    "agg_cube_type_tool": (
        relational.agg_cube_type_tool,
        """
SELECT event_type, CAST(user_id % 4 AS INTEGER) AS user_bucket,
  COUNT(*) AS n_events,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM events GROUP BY CUBE (event_type, user_id % 4)
""",
    ),
    "agg_value_quantiles": (
        relational.agg_value_quantiles,
        """
SELECT event_type,
  ROUND(quantile_cont(value, 0.5), 4) AS p50,
  ROUND(quantile_cont(value, 0.9), 4) AS p90
FROM events GROUP BY event_type
""",
    ),
    # the HLL estimate is engine-specific; the contract checked is
    # "estimate within ±5% of exact" (rsd=0.02), emitted as a boolean
    "approx_distinct_users": (
        relational.approx_distinct_users,
        "SELECT event_type, COUNT(DISTINCT user_id) AS exact_users, "
        "TRUE AS approx_within_5pct FROM events GROUP BY event_type",
    ),
    # ---- windows ----
    "window_rank_orders": (
        relational.window_rank_orders,
        """
SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders) WHERE rk <= 3
""",
    ),
    "window_lag_events": (
        relational.window_lag_events,
        """
SELECT event_id, user_id,
  ROUND(value - COALESCE(LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0.0), 2) AS value_delta
FROM events
""",
    ),
    "window_running_sum": (
        relational.window_running_sum,
        """
SELECT event_id, user_id,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_value
FROM events
""",
    ),
    "sessionize_events": (
        relational.sessionize_events,
        """
SELECT user_id, CAST(MAX(session_seq) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM (
  SELECT user_id,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
  FROM (
    SELECT user_id, ts, event_id,
      CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             OR date_diff('second', LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
           THEN 1 ELSE 0 END AS new_session
    FROM events))
GROUP BY user_id
""",
    ),
    # ---- sorts / top-k / set ops ----
    "topk_customers_by_balance": (
        relational.topk_customers_by_balance,
        "SELECT c_custkey, c_name, c_acctbal FROM customer "
        "ORDER BY c_acctbal DESC, c_custkey LIMIT 10",
    ),
    "set_except_nations": (
        relational.set_except_nations,
        "SELECT DISTINCT c_nationkey AS nationkey FROM customer "
        "EXCEPT SELECT DISTINCT s_nationkey AS nationkey FROM supplier",
    ),
    "set_intersect_users": (
        relational.set_intersect_users,
        "SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' "
        "INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type = 'error'",
    ),
    # ---- scalar families ----
    "scalar_string_funcs": (
        relational.scalar_string_funcs,
        """
SELECT doc_id, CAST(length(text) AS INTEGER) AS text_len,
  upper(substring(text, 1, 10)) AS prefix_upper,
  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens_ws,
  concat_ws('|', lang, source) AS lang_source
FROM documents
""",
    ),
    "scalar_date_funcs": (
        relational.scalar_date_funcs,
        """
SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month, COUNT(*) AS n_orders,
  CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
FROM orders GROUP BY date_trunc('month', o_orderdate)
""",
    ),
    "scalar_case_buckets": (
        relational.scalar_case_buckets,
        """
SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
            WHEN c_acctbal < 5000 THEN 'low'
            ELSE 'high' END AS balance_bucket,
  COUNT(*) AS n_customers
FROM customer GROUP BY 1
""",
    ),
    "json_extract_events": (
        relational.json_extract_events,
        # regexp oracle avoids a DuckDB JSON-extension dependency
        "SELECT event_id, CAST(regexp_extract(props, '\"k\": (\\d+)', 1) AS INTEGER) AS k_value "
        "FROM events",
    ),
    # ---- dedup tier ----
    "dedup_exact": (
        dedup.dedup_exact,
        "SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies "
        "FROM documents GROUP BY md5(text)",
    ),
    "dedup_exact_rows": (
        dedup.dedup_exact_rows,
        """
SELECT doc_id, lang, source FROM documents
QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
""",
    ),
    # exact all-pairs oracle is valid at floor 0.5 because every actual
    # pair in the corpus sits at J>=0.9 with the next pair down at J=0.067
    # (measured): banding miss probability at J>=0.9 with 16 bands x 2
    # rows is (1-0.81)^16 ~ 3e-12, so LSH recall is exactly 1 here, and no
    # pair lies near the 0.5 boundary to flip on rounding.
    "dedup_minhash_lsh": (
        dedup.dedup_minhash_lsh,
        f"""
WITH {_MINHASH_SHINGLE_CTE}
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(len(list_intersect(a.sh, b.sh))::DOUBLE
               / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
WHERE jaccard >= 0.5
""",
    ),
    # the composed end-to-end curation decision table — lang filter +
    # length floor + exact-dup canonical + near-dup loser removal (the
    # near-dup set is the dedup_minhash_lsh spec, shared CTE)
    "corpus_curate_flags": (
        text.corpus_curate_flags,
        f"""
WITH {_MINHASH_SHINGLE_CTE}, pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
                 / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
  WHERE jaccard >= 0.5
), losers AS (
  SELECT DISTINCT id_b AS doc_id FROM pairs
), flags AS (
  SELECT d.doc_id,
    (d.lang = '{text.CURATE_LANG}') AS is_lang,
    (len(string_split(lower(d.text), ' ')) >= {text.CURATE_MIN_TOKENS})
      AS long_enough,
    (d.doc_id = MIN(d.doc_id) OVER (PARTITION BY md5(d.text)))
      AS exact_canonical,
    (l.doc_id IS NOT NULL) AS neardup_loser
  FROM documents d LEFT JOIN losers l USING (doc_id)
)
SELECT doc_id, is_lang, long_enough, exact_canonical, neardup_loser,
  (is_lang AND long_enough AND exact_canonical AND NOT neardup_loser) AS keep
FROM flags
""",
    ),
    # portable-hash simhash: the oracle replays the identical md5-based
    # signature (DuckDB hex-cast of the first 8 md5 hex chars == Spark
    # conv(substr(md5,1,8),16,10)), so the check is full value equality
    "dedup_simhash": (
        dedup.dedup_simhash,
        f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                     x -> x <> '') AS toks
  FROM documents
), ex AS (
  SELECT doc_id, unnest(toks) AS t FROM tok WHERE len(toks) > 0
), h AS (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS hv FROM ex
), votes AS (
  SELECT doc_id,
  {", ".join(f"SUM(CASE WHEN ((hv >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(32))}
  FROM h GROUP BY doc_id
), sigs AS (
  SELECT doc_id,
  ({" + ".join(f"CASE WHEN v{b} > 0 THEN {2**b}::BIGINT ELSE 0::BIGINT END" for b in range(32))}) AS simhash
  FROM votes
)
SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
FROM sigs GROUP BY simhash HAVING COUNT(*) > 1
""",
    ),
    # exact all-pairs oracle is valid because at J>=0.8 the 16x2 banding's
    # miss probability is (1-0.64)^16 ~ 1e-7 — LSH recall is effectively 1
    "dedup_ngram_jaccard": (
        dedup.dedup_ngram_jaccard,
        """
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                     x -> x <> '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
              ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                                  for i in range(1, len(toks) - 1)])
         END AS sh
  FROM tok WHERE len(toks) > 0
)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(len(list_intersect(a.sh, b.sh))::DOUBLE
               / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
WHERE jaccard >= 0.8
""",
    ),
    "dedup_embedding_cosine": (
        dedup.dedup_embedding_cosine,
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b "
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
        "WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45",
    ),
    # ---- similarity tier ----
    "ann_cosine_topk": (
        similarity.ann_cosine_topk,
        """
SELECT query_id, neighbor_id, rank FROM (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    ROW_NUMBER() OVER (PARTITION BY q.query_id
      ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC, e.vec_id) AS rank
  FROM (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10) q,
       embeddings e
  WHERE e.vec_id <> q.query_id)
WHERE rank <= 5
""",
    ),
    # same-spec cross-engine oracle: the ENTIRE IVF algorithm (md5-seeded
    # centroids, one Lloyd step, nprobe cell search, exact rerank) is
    # re-run independently in SQL — any drift in seeding, assignment
    # tie-breaks, centroid averaging, or probing breaks the hash match.
    "ann_ivf_topk": (
        similarity.ann_ivf_topk,
        f"""
WITH params AS (
  -- cell count derived from the corpus, same clamped floor-sqrt rule as
  -- similarity.ivf_cells (both engines re-derive it from the data)
  SELECT greatest({similarity.IVF_CELLS_MIN},
                  least({similarity.IVF_CELLS_MAX},
                        CAST(floor(sqrt(count(*))) AS BIGINT))) AS cells
  FROM embeddings
), seeds AS (
  SELECT rk - 1 AS cell, embedding AS sv
  FROM (SELECT embedding,
               ROW_NUMBER() OVER (ORDER BY md5('seed:' || vec_id)) AS rk
        FROM embeddings), params
  WHERE rk <= params.cells
), a0 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, s.cell,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY list_cosine_similarity(e.embedding, s.sv) DESC, s.cell) AS rn
    FROM embeddings e, seeds s)
  WHERE rn = 1
), cent AS (
  SELECT cell, list(v ORDER BY dim) AS cv FROM (
    SELECT cell, dim, AVG(val) AS v FROM (
      SELECT a0.cell AS cell, generate_subscripts(e.embedding, 1) AS dim,
             unnest(e.embedding) AS val
      FROM a0 JOIN embeddings e USING (vec_id))
    GROUP BY cell, dim)
  GROUP BY cell
), a1 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cell) AS rn
    FROM embeddings e, cent c)
  WHERE rn = 1
), probes AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.cell,
      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        ORDER BY list_cosine_similarity(q.embedding, c.cv) DESC, c.cell) AS rn
    FROM embeddings q, cent c WHERE q.vec_id < {similarity.N_QUERIES})
  WHERE rn <= {similarity.IVF_NPROBE}
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT p.query_id, a1.vec_id AS neighbor_id,
    ROW_NUMBER() OVER (PARTITION BY p.query_id
      ORDER BY list_cosine_similarity(q.embedding, e.embedding) DESC,
               a1.vec_id) AS rank
  FROM probes p
  JOIN a1 USING (cell)
  JOIN embeddings q ON q.vec_id = p.query_id
  JOIN embeddings e ON e.vec_id = a1.vec_id
  WHERE a1.vec_id <> p.query_id)
WHERE rank <= {similarity.TOP_K}
""",
    ),
    # same-spec cross-engine oracle: hyperplane signs derive from md5
    # nibbles (portable), so DuckDB re-runs the ENTIRE LSH — identical
    # planes, buckets, banding and exact verify — independently.  On the
    # near-orthogonal synthetic vectors the 32x8 banding recovers ~64% of
    # the cosine>=0.45 pairs (p(0.45)^8 per band, OR over 32 bands) —
    # non-vacuous — and both engines recover the SAME subset by
    # construction; at the production near-dup regime (cosine>=0.9) the
    # identical parameters give recall ~1-2e-5 (tests/test_similarity.py
    # plants such pairs and asserts full recall).
    "ann_lsh_bucketed": (
        similarity.ann_lsh_bucketed,
        f"""
WITH dimvals AS (
  -- plane width follows the DATA's dimensionality, same as the operator
  SELECT DISTINCT generate_subscripts(embedding, 1) - 1 AS dim FROM embeddings
), planes AS (
  SELECT d.dim AS dim, p.range AS plane,
         CASE WHEN (strpos('0123456789abcdef',
                           substr(md5('hp:' || d.dim || ':' || p.range), 1, 1)) - 1) % 2 = 0
              THEN 1.0 ELSE -1.0 END AS s
  FROM dimvals d, range({similarity.N_BANDS * similarity.BITS_PER_BAND}) p
), dims AS (
  SELECT vec_id, unnest(embedding) AS val,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings
), dots AS (
  SELECT vec_id, plane, SUM(val * s) AS dot
  FROM dims JOIN planes USING (dim) GROUP BY vec_id, plane
), buckets AS (
  SELECT vec_id, plane // {similarity.BITS_PER_BAND} AS band,
         string_agg(CASE WHEN dot > 0 THEN '1' ELSE '0' END, ''
                    ORDER BY plane % {similarity.BITS_PER_BAND}) AS bucket
  FROM dots GROUP BY vec_id, plane // {similarity.BITS_PER_BAND}
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b FROM cand
JOIN embeddings ea ON ea.vec_id = cand.id_a
JOIN embeddings eb ON eb.vec_id = cand.id_b
WHERE list_cosine_similarity(ea.embedding, eb.embedding) >= {similarity.COSINE_FLOOR}
""",
    ),
    "embedding_label_centroid_assign": (
        similarity.embedding_label_centroid_assign,
        """
WITH dims AS (
  SELECT vec_id, label, unnest(embedding) AS val,
         generate_subscripts(embedding, 1) AS dim
  FROM embeddings
), cent AS (
  SELECT label AS centroid_label, dim, avg(val) AS cval
  FROM dims GROUP BY label, dim
), cvec AS (
  SELECT centroid_label, list(cval ORDER BY dim) AS centroid
  FROM cent GROUP BY centroid_label
), scored AS (
  SELECT e.vec_id, e.label AS true_label, c.centroid_label,
         list_cosine_similarity(e.embedding, c.centroid) AS cosine
  FROM embeddings e, cvec c
)
SELECT vec_id, true_label, assigned_label FROM (
  SELECT vec_id, true_label, centroid_label AS assigned_label,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, centroid_label) AS rk
  FROM scored) WHERE rk = 1
""",
    ),
    # same-spec cross-engine oracle: the ENTIRE SemDeDup algorithm
    # (md5-seeded √n clusters, cosine assignment with the lowest-cell
    # tie-break, within-cluster lower-id pairwise pruning) re-run
    # independently in SQL — drift in seeding, assignment, or the
    # pairwise predicate breaks the hash match.
    "dedup_semantic_clusters": (
        similarity.dedup_semantic_clusters,
        f"""
WITH params AS (
  SELECT greatest({similarity.IVF_CELLS_MIN},
                  least({similarity.IVF_CELLS_MAX},
                        CAST(floor(sqrt(count(*))) AS BIGINT))) AS cells
  FROM embeddings
), seeds AS (
  SELECT rk - 1 AS cell, embedding AS sv
  FROM (SELECT embedding,
               ROW_NUMBER() OVER (ORDER BY md5('semseed:' || vec_id)) AS rk
        FROM embeddings), params
  WHERE rk <= params.cells
), a0 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, s.cell,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY list_cosine_similarity(e.embedding, s.sv) DESC, s.cell) AS rn
    FROM embeddings e, seeds s)
  WHERE rn = 1
)
SELECT ab.vec_id AS vec_id, MIN(a.vec_id) AS kept_by,
       CAST(ab.cell AS INTEGER) AS cell
FROM a0 aa JOIN a0 ab ON aa.cell = ab.cell AND aa.vec_id < ab.vec_id
JOIN embeddings a ON a.vec_id = aa.vec_id
JOIN embeddings b ON b.vec_id = ab.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) >= {similarity.COSINE_FLOOR}
GROUP BY ab.vec_id, ab.cell
""",
    ),
    # ---- text-analysis tier ----
    "text_token_count": (
        text.text_token_count,
        """
SELECT doc_id,
  CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens_ws,
  CAST(CEIL(length(text) / 4) AS BIGINT) AS n_tokens_bpe_est,
  CAST(length(text) AS INTEGER) AS n_chars_actual
FROM documents
""",
    ),
    "text_quality_score": (
        text.text_quality_score,
        f"""
SELECT doc_id,
  CAST(len(string_split(lower(text), ' ')) AS INTEGER) AS n_tokens,
  CAST(FLOOR(COALESCE(list_sum(list_transform(string_split(lower(text), ' '), x -> len(x))), 0) * 100
    / greatest(len(string_split(lower(text), ' ')), 1)) AS BIGINT) AS mean_token_len_x100,
  CAST(len(list_filter(string_split(lower(text), ' '), x -> x IN ({_STOP}))) AS INTEGER) AS n_stopwords,
  CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS INTEGER) AS n_alpha_chars
FROM documents
""",
    ),
    "text_lang_id": (text.text_lang_id, _lang_scores_sql()),
    "text_fingerprint": (
        text.text_fingerprint,
        "SELECT doc_id, md5(lower(text)) AS content_fp, "
        "md5(substring(lower(text), 1, 64)) AS prefix_fp FROM documents",
    ),
    "text_ngram_top": (
        text.text_ngram_top,
        """
SELECT token, COUNT(*) AS freq FROM (
  SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
WHERE length(token) > 0
GROUP BY token ORDER BY freq DESC, token LIMIT 20
""",
    ),
    "kg_mentions_sql_portable": (
        text.kg_mentions_sql_portable,
        f"""
SELECT doc_id, token AS mention, COUNT(*) AS n_occurrences FROM (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
WHERE token IN ({_VOCAB})
GROUP BY doc_id, token
""",
    ),
    "kg_cooccurrence": (
        text.kg_cooccurrence,
        f"""
WITH m AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
  WHERE token IN ({_VOCAB}))
SELECT a.token AS mention_a, b.token AS mention_b, COUNT(*) AS n_docs
FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.token < b.token
GROUP BY a.token, b.token
""",
    ),
    # ratio-idf (N/df, log-free): every op in the score is IEEE-exact
    # (mul/div/round), so the value hash is bit-stable across engines —
    # ln() differs at 1 ulp between JVM and DuckDB libm (text.py docstring)
    "text_tfidf_top_terms": (
        text.text_tfidf_top_terms,
        f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM tok WHERE length(term) > 0
  GROUP BY doc_id, term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), scored AS (
  SELECT t.doc_id, t.term, t.tf, d.df,
         round(t.tf::DOUBLE * (SELECT COUNT(*) FROM documents) / d.df, 6) AS score
  FROM tf t JOIN dfreq d ON t.term = d.term
)
SELECT doc_id, term, tf, df, score, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
  FROM scored) WHERE rk <= {text.TFIDF_TOP_K}
""",
    ),
    # the hash-threshold pre-filter is part of the operator SPEC (both
    # engines apply the identical rule) — see text.py docstring for why a
    # bare per-stratum window would be catastrophic skew at corpus scale
    "corpus_sample_stratified": (
        text.corpus_sample_stratified,
        f"""
WITH counts AS (
  SELECT lang, COUNT(*) AS n_stratum FROM documents GROUP BY lang
), pre AS (
  SELECT d.doc_id, d.lang,
         ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT AS hk
  FROM documents d JOIN counts c ON d.lang = c.lang
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
        <= {float(2**32) * text.SAMPLE_PER_STRATUM * text.SAMPLE_OVERSAMPLE!r} / c.n_stratum
)
SELECT doc_id, lang, hk, rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rk
  FROM pre) WHERE rk <= {text.SAMPLE_PER_STRATUM}
""",
    ),
    # ---- iterative graph tier: full cross-engine oracles ----
    # The recursive-CTE closure independently verifies the alternating
    # large-star/small-star CC loop (plans/canonicalize.py:273) that
    # entity canonicalization runs — any drift in orientation, min-
    # selection, or convergence breaks the hash match.
    "dedup_cluster_components": (
        graph.dedup_cluster_components,
        """
WITH RECURSIVE tok AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'), ' '),
                     x -> x <> '') AS toks
  FROM documents
), sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
              ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                                  for i in range(1, len(toks) - 1)])
         END AS sh
  FROM tok WHERE len(toks) > 0
), pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.sh, b.sh))::DOUBLE
                 / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
  WHERE jaccard >= 0.5
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
), reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
""",
    ),
    "kg_pagerank": (graph.kg_pagerank, _pagerank_sql()),
    "agg_grouping_sets": (
        relational.agg_grouping_sets,
        """
SELECT event_type, CAST(user_id % 4 AS INTEGER) AS user_bucket,
  COUNT(*) AS n_events,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM events GROUP BY GROUPING SETS ((event_type), (user_id % 4))
""",
    ),
    "window_ntile_orders": (
        relational.window_ntile_orders,
        """
SELECT o_orderkey, o_custkey,
  ntile(4) OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey) AS price_quartile
FROM orders
""",
    ),
    # ---- temporal / reshaping tier ----
    "join_asof_prior_event": (
        relational.join_asof_prior_event,
        """
WITH c AS (
  SELECT user_id, ts, MAX(event_id) AS c_id FROM events
  WHERE event_type = 'click' GROUP BY user_id, ts
)
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
  (SELECT c.c_id FROM c WHERE c.user_id = p.user_id AND c.ts <= p.ts
   ORDER BY c.ts DESC LIMIT 1) AS asof_click_id,
  (SELECT c.ts FROM c WHERE c.user_id = p.user_id AND c.ts <= p.ts
   ORDER BY c.ts DESC LIMIT 1) AS asof_click_ts
FROM events p WHERE p.event_type = 'purchase'
""",
    ),
    "pivot_event_type_counts": (
        relational.pivot_event_type_counts,
        f"SELECT user_id,\n  {_PIVOT_COLS}\nFROM events GROUP BY user_id",
    ),
    "agg_percentile_approx_contract": (
        relational.agg_percentile_approx_contract,
        """
WITH s AS (
  SELECT event_type, list_sort(list(value)) AS vals
  FROM events GROUP BY event_type
)
SELECT event_type,
  round(vals[GREATEST((len(vals) * 499) // 1000, 1)], 4) AS p50_lo,
  round(vals[LEAST((len(vals) * 501 + 999) // 1000, len(vals))], 4) AS p50_hi,
  TRUE AS p50_within_bounds
FROM s
""",
    ),
    "agg_time_bucketed": (
        relational.agg_time_bucketed,
        """
SELECT date_trunc('hour', ts) AS bucket_hour, event_type,
  COUNT(*) AS n_events,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
FROM events GROUP BY date_trunc('hour', ts), event_type
""",
    ),
    "window_first_last_orders": (
        relational.window_first_last_orders,
        """
SELECT o_orderkey, o_custkey,
  first_value(o_orderdate) OVER w AS first_order_date,
  last_value(o_orderdate) OVER w AS latest_order_date
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
    ),
    "dedup_names_levenshtein": (
        relational.dedup_names_levenshtein,
        """
WITH c AS (
  SELECT c_custkey, c_name, length(c_name) AS blk_len,
         substring(c_name, 1, 1) AS blk_c
  FROM customer
)
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       a.c_name AS name_a, b.c_name AS name_b
FROM c a JOIN c b
  ON a.blk_len = b.blk_len AND a.blk_c = b.blk_c
 AND a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
""",
    ),
    "scalar_array_funcs": (
        text.scalar_array_funcs,
        """
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
SELECT doc_id,
  CAST(len(list_distinct(toks)) AS INT) AS n_distinct_tokens,
  list_aggregate(toks, 'min') AS token_min,
  list_aggregate(toks, 'max') AS token_max,
  array_to_string(toks[1:3], ' ') AS first3
FROM t
""",
    ),
    # ---- graph analytics (triangle / BFS tier) ----
    "kg_triangle_count": (graph.kg_triangle_count, _triangle_sql()),
    "kg_khop_reach": (graph.kg_khop_reach, _khop_sql()),
    "kg_label_propagation": (graph.kg_label_propagation, _lpa_sql()),
    "funnel_user_steps": (relational.funnel_user_steps, _funnel_sql()),
    # ---- training-data tier additions ----
    "dedup_repeated_ngrams": (text.dedup_repeated_ngrams, _repeated_ngrams_sql()),
    # same spec, same oracle — the 100-TB physical plan (8-byte hash
    # shuffle + survivor-pruned string recovery); oracle equality doubles
    # as the collision check at this scale
    "dedup_repeated_ngrams_hashed": (
        text.dedup_repeated_ngrams_hashed,
        _repeated_ngrams_sql(),
    ),
    "embedding_quantize_codes": (
        similarity.embedding_quantize_codes,
        """
WITH arr AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
  FROM embeddings
), st AS (
  SELECT vec_id, a,
    list_aggregate(a, 'min') AS mn,
    list_aggregate(a, 'max') - list_aggregate(a, 'min') AS rng
  FROM arr
), codes AS (
  SELECT vec_id,
    CASE WHEN rng > 0 THEN
      list_transform(a, x -> CAST(floor((x - mn) / rng * 255.0 + 0.5) AS BIGINT))
    ELSE list_transform(a, x -> CAST(0 AS BIGINT)) END AS c
  FROM st
)
SELECT vec_id,
  CAST(list_aggregate(c, 'sum') AS BIGINT) AS code_sum,
  CAST(list_aggregate(list_transform(c, (x, i) -> x * i), 'sum') AS BIGINT)
    AS code_checksum,
  CAST(list_aggregate(c, 'min') AS INT) AS code_min,
  CAST(list_aggregate(c, 'max') AS INT) AS code_max
FROM codes
""",
    ),
    # Okapi BM25 with the rational (log-free) Robertson idf and per-term
    # contributions floored to integer micro-units BEFORE the sum — an
    # integer sum is order-independent, so the hash compare is exact (the
    # TF-IDF libm/order lesson).  Identical literals and association
    # order on both sides.
    "text_bm25_topk": (
        text.text_bm25_topk,
        f"""
WITH dl AS (
  SELECT doc_id,
         len(list_filter(string_split(lower(text), ' '), t -> length(t) > 0)) AS dl,
         list_filter(string_split(lower(text), ' '), t -> length(t) > 0) AS toks
  FROM documents
), stats AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, CAST(SUM(dl) AS DOUBLE) AS sum_dl FROM dl
), tok AS (
  SELECT doc_id, unnest(toks) AS term FROM dl
), per_term AS (
  SELECT t.doc_id, d.dl, t.term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok t JOIN dl d USING (doc_id)
  WHERE t.term IN ({", ".join("'" + t + "'" for t in text.BM25_QUERY_TERMS)})
  GROUP BY t.doc_id, d.dl, t.term
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM per_term GROUP BY term
), scored AS (
  SELECT t.doc_id,
    CAST(floor(
      ((s.n_docs - f.df + 0.5) / (f.df + 0.5))
      * (t.tf * 2.2)
      / (t.tf + 1.2 * (0.25 + 0.75 * t.dl / (s.sum_dl / s.n_docs)))
      * 1000000.0
    ) AS BIGINT) AS c
  FROM per_term t JOIN dfreq f USING (term), stats s
), agg AS (
  SELECT doc_id, COUNT(*) AS n_terms, SUM(c) AS score_micro
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_terms, CAST(score_micro AS BIGINT) AS score_micro, rk FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS rk FROM agg
) WHERE rk <= {text.BM25_TOP_K}
""",
    ),
    "retention_cohorts": (
        relational.retention_cohorts,
        f"""
WITH ev AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d FROM events
), first AS (
  SELECT user_id, MIN(d) AS cohort_day FROM ev GROUP BY user_id
), act AS (
  SELECT DISTINCT user_id, d FROM ev
)
SELECT f.cohort_day,
       date_diff('day', f.cohort_day, a.d) AS day_offset,
       COUNT(DISTINCT a.user_id) AS n_active
FROM act a JOIN first f USING (user_id)
WHERE date_diff('day', f.cohort_day, a.d) <= {relational.RETENTION_MAX_OFFSET}
GROUP BY f.cohort_day, day_offset
""",
    ),
    "kg_pmi_edge_weights": (
        graph.kg_pmi_edge_weights,
        None,  # replaced below (needs the shared vocab interpolation)
    ),
    "events_max_concurrency": (
        relational.events_max_concurrency,
        """
WITH ev AS (
  SELECT event_id, event_type, epoch_us(ts) AS t0,
         epoch_us(ts) + CAST(floor(value * 10) AS BIGINT) * 1000000 AS t1
  FROM events
), deltas AS (
  SELECT event_type, t0 AS t, 1 AS delta, event_id FROM ev
  UNION ALL
  SELECT event_type, t1 AS t, -1 AS delta, event_id FROM ev
), run AS (
  SELECT event_type,
         SUM(delta) OVER (PARTITION BY event_type ORDER BY t, delta, event_id
                          ROWS UNBOUNDED PRECEDING) AS run
  FROM deltas
)
SELECT event_type, CAST(MAX(run) AS BIGINT) AS max_concurrent
FROM run GROUP BY event_type
""",
    ),
    "dedup_set_similarity_prefix": (
        dedup.dedup_set_similarity_prefix,
        f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS token
  FROM documents
), sizes AS (
  SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id
), ix AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b, CAST(i.inter AS BIGINT) AS inter,
       CAST(sa.n_tok + sb.n_tok - i.inter AS BIGINT) AS uni,
       CAST((i.inter * 1000000) // (sa.n_tok + sb.n_tok - i.inter) AS BIGINT)
         AS jaccard_ppm
FROM ix i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE i.inter * {dedup.SSJ_TAU_DEN}
      >= {dedup.SSJ_TAU_NUM} * (sa.n_tok + sb.n_tok - i.inter)
""",
    ),
    "profile_table_stats": (
        relational.profile_table_stats,
        "\nUNION ALL\n".join(
            f"""SELECT '{c}' AS col_name,
  COUNT({c}) AS n_rows,
  CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
  COUNT(DISTINCT {c}) AS n_distinct,
  CAST(MIN({c}) AS VARCHAR) AS min_str,
  CAST(MAX({c}) AS VARCHAR) AS max_str
FROM documents"""
            for c in relational.PROFILE_COLUMNS
        ),
    ),
    "corpus_sample_weighted_priority": (
        text.corpus_sample_weighted_priority,
        f"""
WITH scored AS (
  SELECT doc_id, lang, n_chars,
         n_chars::DOUBLE /
           (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
           AS priority
  FROM documents
)
SELECT doc_id, lang, n_chars,
       CAST(ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id) AS INT)
         AS sample_rank
FROM scored ORDER BY priority DESC, doc_id LIMIT {text.PRIORITY_SAMPLE_K}
""",
    ),
    "layout_zorder_keys": (
        relational.layout_zorder_keys,
        f"""
WITH xy AS (
  -- sign-consistent modulo (matches Spark's pmod for negative inputs)
  SELECT event_id,
         ((user_id % {1 << relational.ZORDER_BITS})
          + {1 << relational.ZORDER_BITS}) % {1 << relational.ZORDER_BITS} AS x,
         ((CAST(floor(value * 100) AS BIGINT) % {1 << relational.ZORDER_BITS})
          + {1 << relational.ZORDER_BITS}) % {1 << relational.ZORDER_BITS} AS y
  FROM events
), zz AS (
  SELECT event_id, x, y,
         ({" | ".join(
             f"(((x >> {k}) & 1) << {2 * k}) | (((y >> {k}) & 1) << {2 * k + 1})"
             for k in range(relational.ZORDER_BITS)
         )}) AS z_key
  FROM xy
)
SELECT event_id, x, y, z_key,
       z_key >> {2 * relational.ZORDER_BITS
                 - relational.ZORDER_FILE_BUCKETS.bit_length() + 1}
         AS file_bucket
FROM zz
""",
    ),
}


def _bpe_strip_sql(col: str) -> str:
    s1, s2 = text._BPE_S1, text._BPE_S2
    return f"replace(replace({col}, '{s1}', ''), '{s2}', '')"


def _bpe_cte() -> str:
    """The unrolled BPE training chain shared by the trainer and encoder
    oracles: vocabulary build, sentinel wrap, then text.BPE_MERGES
    (argmax pair, literal-replace rewrite) CTE steps — w{k} is the
    vocabulary state after merge k."""
    s1, s2 = text._BPE_S1, text._BPE_S2
    strip = _bpe_strip_sql
    parts = [
        f"""
WITH words AS (
  SELECT token AS word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
  WHERE length(token) > 0 GROUP BY token
), w0 AS (
  SELECT word, cnt,
         rtrim(regexp_replace(word, '([\\s\\S])', '{s1}\\1{s2}  ', 'g')) AS seq
  FROM words
)"""
    ]
    for k in range(1, text.BPE_MERGES + 1):
        parts.append(
            f""", p{k} AS (
  SELECT pz[1] AS l, pz[2] AS r, CAST(SUM(cnt) AS BIGINT) AS pc
  FROM (SELECT cnt, unnest(list_zip(ls, ls[2:])) AS pz
        FROM (SELECT cnt, string_split(seq, '  ') AS ls FROM w{k - 1}))
  WHERE pz[2] IS NOT NULL
  GROUP BY 1, 2 ORDER BY pc DESC, l, r LIMIT 1
), w{k} AS (
  SELECT word, cnt,
         replace(seq, p{k}.l || '  ' || p{k}.r,
                 '{s1}' || {strip(f"p{k}.l || p{k}.r")} || '{s2}') AS seq
  FROM w{k - 1} CROSS JOIN p{k}
)"""
        )
    return "".join(parts)


def _bpe_sql() -> str:
    """Full unrolled replay of the BPE training loop (text.BPE_MERGES
    chained CTE steps): pair-count argmax with the same (pc DESC, l, r)
    tie-break over the same sentinel-wrapped encoding, literal-replace
    rewrite, one UNION ALL row per learned merge."""
    strip = _bpe_strip_sql
    selects = "\nUNION ALL\n".join(
        f"""SELECT CAST({k} AS INT) AS step, {strip("l")} AS "left",
  {strip("r")} AS "right", {strip("l || r")} AS merged, pc AS pair_count
FROM p{k}"""
        for k in range(1, text.BPE_MERGES + 1)
    )
    return _bpe_cte() + "\n" + selects


REGISTRY["tokenizer_bpe_merges"] = (text.tokenizer_bpe_merges, _bpe_sql())

REGISTRY["events_association_rules"] = (
    relational.events_association_rules,
    """
WITH b AS (
  SELECT DISTINCT user_id, event_type FROM events
), pairs AS (
  SELECT a.event_type AS ante, c.event_type AS cons,
         CAST(COUNT(*) AS BIGINT) AS support_ab
  FROM b a JOIN b c ON a.user_id = c.user_id AND a.event_type != c.event_type
  GROUP BY 1, 2
), marg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM b GROUP BY 1
), nu AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM b
)
SELECT p.ante, p.cons, p.support_ab,
       CAST((p.support_ab * 1000000) // ma.n_t AS BIGINT) AS confidence_ppm,
       CAST((p.support_ab * nu.n_users * 1000000) // (ma.n_t * mc.n_t) AS BIGINT)
         AS lift_ppm
FROM pairs p
JOIN marg ma ON ma.event_type = p.ante
JOIN marg mc ON mc.event_type = p.cons
CROSS JOIN nu
""",
)

REGISTRY["kg_closeness_centrality"] = (
    graph.kg_closeness_centrality,
    f"""
WITH RECURSIVE {_coocc_edges_cte()}, edges AS (
  SELECT src, dst FROM half UNION ALL SELECT dst, src FROM half
), walk AS (
  SELECT DISTINCT src AS s, src AS node, 0 AS d FROM edges
  UNION ALL
  SELECT w.s, e.dst AS node, w.d + 1 AS d
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.d < {graph.CLOSE_MAX_D}
), dist AS (
  SELECT s, node, MIN(d) AS d FROM walk GROUP BY s, node
)
SELECT s AS mention,
       COUNT(*) AS n_reachable,
       CAST(SUM(1000000 // d) AS BIGINT) AS harmonic_x1e6
FROM dist WHERE d > 0 GROUP BY s
""",
)

REGISTRY["dedup_sorted_neighborhood"] = (
    dedup.dedup_sorted_neighborhood,
    f"""
WITH d AS (
  SELECT doc_id, lower(text) AS lt,
         substr(lower(text), 1, {dedup.SNM_KEY_LEN}) AS sk
  FROM documents
), r AS (
  SELECT doc_id, lt, ROW_NUMBER() OVER (ORDER BY sk, doc_id) AS rk FROM d
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(b.rk - a.rk AS BIGINT) AS rank_gap,
         list_distinct(string_split(a.lt, ' ')) AS ta,
         list_distinct(string_split(b.lt, ' ')) AS tb
  FROM r a JOIN r b ON b.rk > a.rk AND b.rk - a.rk <= {dedup.SNM_WINDOW}
), scored AS (
  SELECT doc_a, doc_b, rank_gap,
         len(list_intersect(ta, tb)) AS inter,
         len(ta) + len(tb) - len(list_intersect(ta, tb)) AS uni
  FROM cand
)
SELECT doc_a, doc_b, rank_gap,
       CAST((inter * 1000000) // uni AS BIGINT) AS jaccard_ppm
FROM scored
WHERE inter * {dedup.SNM_TAU_DEN} >= {dedup.SNM_TAU_NUM} * uni
""",
)

REGISTRY["embedding_gram_matrix"] = (
    similarity.embedding_gram_matrix,
    f"""
WITH q0 AS (
  SELECT vec_id,
         unnest(list_transform(embedding,
                (x, i) -> struct_pack(
                    i := CAST(i - 1 AS INT),
                    vc := CAST(floor(CAST(x AS DOUBLE) * {similarity.GRAM_SCALE}
                               + 0.5) AS BIGINT)))) AS s
  FROM embeddings
), q AS (
  SELECT vec_id, s.i AS i, s.vc AS vc FROM q0
)
SELECT a.i AS i, b.i AS j, CAST(SUM(a.vc * b.vc) AS BIGINT) AS gram
FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.i >= a.i
GROUP BY a.i, b.i
""",
)

REGISTRY["agg_anomaly_zscore"] = (
    relational.agg_anomaly_zscore,
    f"""
WITH v AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
  FROM events
), m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(vc) AS BIGINT) AS s1,
         CAST(SUM(vc * vc) AS BIGINT) AS s2
  FROM v GROUP BY event_type
)
SELECT v.event_id, v.event_type, v.vc
FROM v JOIN m USING (event_type)
WHERE CAST(v.vc * m.n - m.s1 AS DOUBLE) * CAST(v.vc * m.n - m.s1 AS DOUBLE)
      > {float(relational.ZSCORE_SIGMA**2)!r}
        * CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE)
""",
)

REGISTRY["text_token_count_arrow"] = (
    text.text_token_count_arrow,
    REGISTRY["text_token_count"][1],  # identical spec, shared oracle
)

REGISTRY["kg_negative_samples"] = (
    graph.kg_negative_samples,
    f"""
WITH {_coocc_edges_cte()}, edges AS (
  SELECT src, dst FROM half UNION ALL SELECT dst, src FROM half
), vocab AS (
  SELECT entity, ROW_NUMBER() OVER (ORDER BY entity) - 1 AS vidx
  FROM (SELECT DISTINCT token AS entity FROM (
          SELECT unnest(string_split(lower(text), ' ')) AS token
          FROM documents)
        WHERE length(token) > 0)
), nv AS (
  SELECT COUNT(*) AS n_vocab FROM vocab
), cand AS (
  SELECT h.src, h.dst, CAST(t.k AS INT) AS k,
         (('0x' || substr(md5(h.src || '|' || h.dst || '|' ||
                              CAST(t.k AS VARCHAR)), 1, 8))::BIGINT)
           % nv.n_vocab AS vidx
  FROM half h
  CROSS JOIN nv
  CROSS JOIN generate_series(0, {graph.NEG_SAMPLES_K - 1}) AS t(k)
)
SELECT c.src, c.dst, c.k, v.entity AS neg_dst
FROM cand c JOIN vocab v USING (vidx)
WHERE v.entity != c.src AND v.entity != c.dst
  AND NOT EXISTS (SELECT 1 FROM edges e
                  WHERE e.src = c.src AND e.dst = v.entity)
""",
)

REGISTRY["kg_pmi_edge_weights"] = (
    graph.kg_pmi_edge_weights,
    f"""
WITH m AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
  WHERE token IN ({",".join(f"'{t}'" for t in graph.PR_VOCAB)})
), pair AS (
  SELECT a.token AS src, b.token AS dst, COUNT(*) AS n_ab
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY a.token, b.token
), marg AS (
  SELECT token, COUNT(*) AS n_tok FROM m GROUP BY token
), nd AS (
  SELECT COUNT(*) AS n_docs FROM documents
)
SELECT p.src, p.dst, p.n_ab,
       round(ln((p.n_ab * nd.n_docs)::DOUBLE / (ma.n_tok * mb.n_tok)), 6) AS pmi
FROM pair p
JOIN marg ma ON ma.token = p.src
JOIN marg mb ON mb.token = p.dst
CROSS JOIN nd
""",
)

REGISTRY["corpus_decontaminate_ngrams"] = (
    text.corpus_decontaminate_ngrams,
    f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), grams AS (
  SELECT doc_id, array_to_string(t[i:i + {text.NGRAM_SPAN - 1}], ' ') AS gram
  FROM toks, UNNEST(range(1, len(t) - {text.NGRAM_SPAN - 2})) AS u(i)
), bench AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % {text.DECON_MOD} = 0
)
SELECT g.doc_id,
       COUNT(DISTINCT g.gram) AS n_grams_hit,
       COUNT(*) AS n_gram_occurrences
FROM grams g JOIN bench b USING (gram)
WHERE g.doc_id % {text.DECON_MOD} <> 0
GROUP BY g.doc_id
""",
)

REGISTRY["kg_link_prediction_ra"] = (
    graph.kg_link_prediction_ra,
    f"""
WITH m AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
  WHERE token IN ({",".join(f"'{t}'" for t in graph.PR_VOCAB)})
), nd AS (
  SELECT COUNT(*) AS n_docs FROM documents
), pair AS (
  SELECT a.token AS src, b.token AS dst, COUNT(*) AS n_ab
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2
), half AS (
  SELECT src, dst FROM pair, nd WHERE n_ab * 100 >= {graph.RA_COOCC_PCT} * nd.n_docs
), full_e AS (
  SELECT src, dst FROM half UNION ALL SELECT dst, src FROM half
), deg AS (
  SELECT src AS z, COUNT(*) AS deg FROM full_e GROUP BY src
), wedge AS (
  SELECT e1.src AS a, e1.dst AS z, e2.dst AS b
  FROM full_e e1 JOIN full_e e2 ON e1.dst = e2.src AND e1.src < e2.dst
), open_w AS (
  SELECT w.a, w.z, w.b FROM wedge w
  LEFT JOIN half h ON h.src = w.a AND h.dst = w.b
  WHERE h.src IS NULL
)
SELECT o.a AS src, o.b AS dst,
       COUNT(*) AS n_common,
       CAST(SUM(1000000 // d.deg) AS BIGINT) AS ra_score_ppm
FROM open_w o JOIN deg d ON d.z = o.z
GROUP BY o.a, o.b
""",
)

_KCORE_EDGE_CTE = f"""
WITH m AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
  WHERE token IN ({",".join(f"'{t}'" for t in graph.PR_VOCAB)})
), nd AS (
  SELECT COUNT(*) AS n_docs FROM documents
), pair AS (
  SELECT a.token AS src, b.token AS dst, COUNT(*) AS n_ab
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2
), f0 AS (
  SELECT src, dst FROM pair, nd WHERE n_ab * 100 >= {graph.RA_COOCC_PCT} * nd.n_docs
  UNION ALL
  SELECT dst, src FROM pair, nd WHERE n_ab * 100 >= {graph.RA_COOCC_PCT} * nd.n_docs
)"""


def _kcore_sql() -> str:
    """graph.KCORE_ITERS peel rounds unrolled: a_i = nodes with degree >=
    K in f_{i-1}; f_i = f_{i-1} induced on a_i — the exact kcore_peel
    spec, then final-subgraph degrees."""
    k, iters = graph.KCORE_K, graph.KCORE_ITERS
    parts = [_KCORE_EDGE_CTE]
    for i in range(1, iters + 1):
        parts.append(f""", a{i} AS (
  SELECT src AS node FROM f{i - 1} GROUP BY src HAVING COUNT(*) >= {k}
), f{i} AS (
  SELECT e.src, e.dst FROM f{i - 1} e
  JOIN a{i} x ON e.src = x.node JOIN a{i} y ON e.dst = y.node
)""")
    parts.append(f"""
SELECT src AS mention, COUNT(*) AS core_degree FROM f{iters} GROUP BY src
""")
    return "".join(parts)


REGISTRY["kg_kcore"] = (graph.kg_kcore, _kcore_sql())


def _bf_sql() -> str:
    """graph.BF_ITERS min-plus rounds unrolled — the exact bellman_ford
    spec over rarity-weighted co-occurrence edges."""
    head = f"""
WITH m AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
  WHERE token IN ({",".join(f"'{t}'" for t in graph.PR_VOCAB)})
), halfw AS (
  SELECT a.token AS src, b.token AS dst, 1000000 // COUNT(*) AS w
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2
), e AS (
  SELECT src, dst, w FROM halfw UNION ALL SELECT dst, src, w FROM halfw
), d0 AS (
  SELECT '{graph.KHOP_SEED}' AS node, CAST(0 AS BIGINT) AS dist
)"""
    rounds = []
    for i in range(1, graph.BF_ITERS + 1):
        rounds.append(f""", d{i} AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d{i - 1}
    UNION ALL
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM d{i - 1} d JOIN e ON e.src = d.node
  ) GROUP BY node
)""")
    return head + "".join(rounds) + f"""
SELECT node AS mention, dist AS dist_x1e6 FROM d{graph.BF_ITERS}
"""


REGISTRY["kg_shortest_paths_weighted"] = (graph.kg_shortest_paths_weighted, _bf_sql())

REGISTRY["scd2_user_history"] = (
    relational.scd2_user_history,
    """
WITH marked AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), runs_m AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS run_id
  FROM marked
), runs AS (
  SELECT user_id, run_id,
         MIN(event_type) AS event_type,  -- constant within a run
         MIN(ts) AS valid_from,
         COUNT(*) AS n_events
  FROM runs_m GROUP BY user_id, run_id
)
SELECT user_id, event_type, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       n_events,
       CASE WHEN lead(valid_from) OVER w2 IS NULL THEN 1 ELSE 0 END AS is_current
FROM runs
WINDOW w2 AS (PARTITION BY user_id ORDER BY run_id)
""",
)

REGISTRY["text_repetition_signals"] = (
    text.text_repetition_signals,
    """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
), uni AS (
  SELECT doc_id, SUM(c) AS n_tokens, MAX(c) AS top_c, COUNT(*) AS n_distinct
  FROM (SELECT doc_id, token, COUNT(*) AS c FROM
          (SELECT doc_id, unnest(t) AS token FROM toks)
        GROUP BY doc_id, token)
  GROUP BY doc_id
), bi AS (
  SELECT doc_id, SUM(c) AS n_2grams, SUM(c - 1) AS dup_2grams
  FROM (SELECT doc_id, gram, COUNT(*) AS c FROM
          (SELECT doc_id, array_to_string(t[i:i + 1], ' ') AS gram
           FROM toks, UNNEST(range(1, len(t))) AS u(i))
        GROUP BY doc_id, gram)
  GROUP BY doc_id
)
SELECT u.doc_id, CAST(u.n_tokens AS BIGINT) AS n_tokens,
       CAST(u.top_c * 1000000 // u.n_tokens AS BIGINT) AS top_token_ppm,
       CAST(coalesce(b.dup_2grams * 1000000 // b.n_2grams, 0) AS BIGINT)
         AS dup_2gram_ppm,
       CAST(u.n_distinct * 1000000 // u.n_tokens AS BIGINT)
         AS distinct_ratio_ppm
FROM uni u LEFT JOIN bi b ON b.doc_id = u.doc_id
""",
)

REGISTRY["kg_neighbor_jaccard"] = (
    graph.kg_neighbor_jaccard,
    f"""
WITH m AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
  WHERE token IN ({",".join(f"'{t}'" for t in graph.PR_VOCAB)})
), nd AS (
  SELECT COUNT(*) AS n_docs FROM documents
), pair AS (
  SELECT a.token AS src, b.token AS dst, COUNT(*) AS n_ab
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2
), half AS (
  SELECT src, dst FROM pair, nd WHERE n_ab * 100 >= {graph.RA_COOCC_PCT} * nd.n_docs
), full_e AS (
  SELECT src, dst FROM half UNION ALL SELECT dst, src FROM half
), deg AS (
  SELECT src AS node, COUNT(*) AS deg FROM full_e GROUP BY src
), common AS (
  SELECT e1.src AS a, e2.dst AS b, COUNT(*) AS n_common
  FROM full_e e1 JOIN full_e e2 ON e1.dst = e2.src AND e1.src < e2.dst
  GROUP BY 1, 2
)
SELECT c.a AS src, c.b AS dst, c.n_common,
       c.n_common * 1000000 // (da.deg + db.deg - c.n_common) AS jaccard_ppm
FROM common c
JOIN deg da ON da.node = c.a
JOIN deg db ON db.node = c.b
""",
)

REGISTRY["window_rolling_range_sum"] = (
    relational.window_rolling_range_sum,
    f"""
SELECT event_id, user_id,
       CAST(SUM(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT)
         AS trailing_cents,
       COUNT(*) OVER w AS n_trailing
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
             RANGE BETWEEN {relational.ROLLING_RANGE_S} PRECEDING
                       AND CURRENT ROW)
""",
)

REGISTRY["unpivot_event_counts"] = (
    relational.unpivot_event_counts,
    f"""
WITH wide AS (
  SELECT user_id,
  {",".join(
      f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}"
      for t in relational.EVENT_TYPES
  )}
  FROM events GROUP BY user_id
)
UNPIVOT wide ON {", ".join(relational.EVENT_TYPES)}
INTO NAME event_type VALUE n_events
""",
)

REGISTRY["events_transition_matrix"] = (
    relational.events_transition_matrix,
    """
WITH seq AS (
  SELECT event_type AS src_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS dst_type
  FROM events
), pairs AS (
  SELECT src_type, dst_type, COUNT(*) AS n_transitions
  FROM seq WHERE dst_type IS NOT NULL GROUP BY src_type, dst_type
), totals AS (
  SELECT src_type, SUM(n_transitions) AS n_from_src FROM pairs GROUP BY src_type
)
SELECT p.src_type, p.dst_type, p.n_transitions,
       CAST(p.n_transitions * 1000000 // t.n_from_src AS BIGINT) AS prob_ppm
FROM pairs p JOIN totals t USING (src_type)
""",
)

REGISTRY["dim_calendar"] = (
    relational.dim_calendar,
    """
WITH span AS (
  SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1 FROM events
), days AS (
  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
)
SELECT day,
       CAST(year(day) AS INT) AS year,
       CAST(month(day) AS INT) AS month,
       CAST(day(day) AS INT) AS day_of_month,
       CAST((month(day) - 1) // 3 + 1 AS INT) AS quarter,
       CAST(((day - DATE '1970-01-05') % 7 + 7) % 7 AS INT) AS dow_monday0
FROM days
""",
)

REGISTRY["text_feature_hashing"] = (
    text.text_feature_hashing,
    f"""
SELECT doc_id,
       ((('0x' || substr(md5(token), 1, 8))::BIGINT % {text.FH_BUCKETS})
        + {text.FH_BUCKETS}) % {text.FH_BUCKETS} AS bucket,
       COUNT(*) AS n
FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      FROM documents)
GROUP BY doc_id, bucket
""",
)

REGISTRY["embedding_pq_codes"] = (
    similarity.embedding_pq_codes,
    f"""
WITH p AS (
  SELECT MAX(len(embedding)) // {similarity.PQ_M} AS sd FROM embeddings
), seeds AS (
  SELECT rk - 1 AS code, embedding AS sv
  FROM (SELECT embedding,
               ROW_NUMBER() OVER (ORDER BY md5('pqseed:' || vec_id)) AS rk
        FROM embeddings)
  WHERE rk <= {similarity.PQ_KS}
), sub AS (
  SELECT range AS m FROM range({similarity.PQ_M})
), a0 AS (
  SELECT vec_id, m, code FROM (
    SELECT e.vec_id, sub.m, s.code,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id, sub.m
        ORDER BY list_distance(
                   e.embedding[sub.m * p.sd + 1 : sub.m * p.sd + p.sd]::DOUBLE[],
                   s.sv[sub.m * p.sd + 1 : sub.m * p.sd + p.sd]::DOUBLE[]) ASC,
                 s.code) AS rn
    FROM embeddings e, seeds s, sub, p)
  WHERE rn = 1
), slices AS (
  SELECT a0.vec_id, a0.m, a0.code,
         e.embedding[a0.m * p.sd + 1 : a0.m * p.sd + p.sd]::DOUBLE[] AS sl
  FROM a0 JOIN embeddings e USING (vec_id), p
), centavg AS (
  SELECT m, code, dim, AVG(val) AS v FROM (
    SELECT m, code, generate_subscripts(sl, 1) AS dim, unnest(sl) AS val
    FROM slices)
  GROUP BY m, code, dim
), cent AS (
  SELECT m, code, list(v ORDER BY dim) AS cv FROM centavg GROUP BY m, code
)
SELECT vec_id, subspace, code FROM (
  SELECT e.vec_id, c.m AS subspace, c.code,
    ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.m
      ORDER BY list_distance(
                 e.embedding[c.m * p.sd + 1 : c.m * p.sd + p.sd]::DOUBLE[],
                 c.cv) ASC,
               c.code) AS rn
  FROM embeddings e, cent c, p)
WHERE rn = 1
""",
)

REGISTRY["ann_pq_adc_topk"] = (
    similarity.ann_pq_adc_topk,
    f"""
WITH p AS (
  SELECT MAX(len(embedding)) // {similarity.PQ_M} AS sd FROM embeddings
), seeds AS (
  SELECT rk - 1 AS code, embedding AS sv
  FROM (SELECT embedding,
               ROW_NUMBER() OVER (ORDER BY md5('pqseed:' || vec_id)) AS rk
        FROM embeddings)
  WHERE rk <= {similarity.PQ_KS}
), sub AS (
  SELECT range AS m FROM range({similarity.PQ_M})
), a0 AS (
  SELECT vec_id, m, code FROM (
    SELECT e.vec_id, sub.m, s.code,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id, sub.m
        ORDER BY list_distance(
                   e.embedding[sub.m * p.sd + 1 : sub.m * p.sd + p.sd]::DOUBLE[],
                   s.sv[sub.m * p.sd + 1 : sub.m * p.sd + p.sd]::DOUBLE[]) ASC,
                 s.code) AS rn
    FROM embeddings e, seeds s, sub, p)
  WHERE rn = 1
), slices AS (
  SELECT a0.vec_id, a0.m, a0.code,
         e.embedding[a0.m * p.sd + 1 : a0.m * p.sd + p.sd]::DOUBLE[] AS sl
  FROM a0 JOIN embeddings e USING (vec_id), p
), centavg AS (
  SELECT m, code, dim, AVG(val) AS v FROM (
    SELECT m, code, generate_subscripts(sl, 1) AS dim, unnest(sl) AS val
    FROM slices)
  GROUP BY m, code, dim
), cent AS (
  SELECT m, code, list(v ORDER BY dim) AS cv FROM centavg GROUP BY m, code
), a1 AS (
  SELECT vec_id, m, code FROM (
    SELECT e.vec_id, c.m, c.code,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id, c.m
        ORDER BY list_distance(
                   e.embedding[c.m * p.sd + 1 : c.m * p.sd + p.sd]::DOUBLE[],
                   c.cv) ASC,
                 c.code) AS rn
    FROM embeddings e, cent c, p)
  WHERE rn = 1
), qdt AS (
  -- integer-micro distance table: floor(d2 * 1e6) at BUILD time, so the
  -- ranking key downstream is an exact integer sum on both engines
  SELECT q.vec_id AS query_id, c.m, c.code,
         CAST(floor(1000000 * list_sum(list_transform(
           generate_series(1, p.sd),
           i -> (q.embedding[c.m * p.sd + i]::DOUBLE - c.cv[i]) ^ 2
         ))) AS BIGINT) AS d_micro
  FROM embeddings q, cent c, p
  WHERE q.vec_id < {similarity.N_QUERIES}
), adc AS (
  SELECT d.query_id, a1.vec_id, CAST(SUM(d.d_micro) AS BIGINT) AS adc_micro
  FROM a1 JOIN qdt d ON d.m = a1.m AND d.code = a1.code
  WHERE a1.vec_id <> d.query_id
  GROUP BY 1, 2
)
SELECT query_id, vec_id AS neighbor_id, adc_micro, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY adc_micro, vec_id) AS rank FROM adc)
WHERE rank <= {similarity.TOP_K}
""",
)

REGISTRY["corpus_pack_sequences"] = (
    text.corpus_pack_sequences,
    f"""
WITH t AS (
  SELECT doc_id, lang,
         len(string_split(lower(text), ' ')) AS n_tokens,
         CAST(SUM(len(string_split(lower(text), ' ')))
           OVER (PARTITION BY lang ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM documents
)
SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
       (cum - n_tokens) // {text.PACK_LEN} AS pack_id,
       ((cum - n_tokens) % {text.PACK_LEN} + {text.PACK_LEN})
         % {text.PACK_LEN} AS offset_in_pack
FROM t
""",
)

REGISTRY["corpus_language_sampling_weights"] = (
    text.corpus_language_sampling_weights,
    """
WITH per AS (
  SELECT lang, COUNT(*) AS n_docs,
         CAST(floor(sqrt(COUNT(*))) AS BIGINT) AS isqrt_n
  FROM documents GROUP BY lang
), tot AS (
  SELECT CAST(SUM(isqrt_n) AS BIGINT) AS tot FROM per
)
SELECT lang, n_docs, isqrt_n, isqrt_n * 1000000 // tot.tot AS weight_ppm
FROM per, tot
""",
)

REGISTRY["dq_constraint_violations"] = (
    relational.dq_constraint_violations,
    f"""
SELECT 'event_id_unique' AS constraint, CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS n
FROM (SELECT event_id, COUNT(*) AS c FROM events GROUP BY event_id)
UNION ALL
SELECT 'value_nonnegative', COUNT(CASE WHEN value < 0 THEN 1 END) FROM events
UNION ALL
SELECT 'event_type_in_domain',
       COUNT(CASE WHEN event_type NOT IN
         ({",".join(f"'{t}'" for t in relational.EVENT_TYPES)}) THEN 1 END)
FROM events
UNION ALL
SELECT 'user_id_not_null', COUNT(CASE WHEN user_id IS NULL THEN 1 END)
FROM events
UNION ALL
SELECT 'orders_custkey_references_customer', COUNT(*)
FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
WHERE c.c_custkey IS NULL
""",
)


def _rrf_sql() -> str:
    """Composes the three ANN systems' FULL oracle SQL as subqueries and
    fuses them with the integer-micro RRF formula — end-to-end
    verification through all three algorithms."""
    s_exact = REGISTRY["ann_cosine_topk"][1]
    s_ivf = REGISTRY["ann_ivf_topk"][1]
    s_pq = REGISTRY["ann_pq_adc_topk"][1]
    k = similarity.RRF_K
    return f"""
WITH u AS (
  SELECT query_id, neighbor_id, 1000000 // ({k} + rank) AS contrib
  FROM ({s_exact})
  UNION ALL
  SELECT query_id, neighbor_id, 1000000 // ({k} + rank) FROM ({s_ivf})
  UNION ALL
  SELECT query_id, neighbor_id, 1000000 // ({k} + rank) FROM ({s_pq})
), fused AS (
  SELECT query_id, neighbor_id, COUNT(*) AS n_systems,
         CAST(SUM(contrib) AS BIGINT) AS rrf_micro
  FROM u GROUP BY query_id, neighbor_id
)
SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
          ORDER BY rrf_micro DESC, neighbor_id) AS fused_rank
FROM fused
"""


REGISTRY["search_hybrid_rrf"] = (similarity.search_hybrid_rrf, _rrf_sql())


REGISTRY["ann_ivfpq_topk"] = (
    similarity.ann_ivfpq_topk,
    f"""
WITH params AS (
  SELECT greatest({similarity.IVF_CELLS_MIN},
                  least({similarity.IVF_CELLS_MAX},
                        CAST(floor(sqrt(count(*))) AS BIGINT))) AS cells,
         MAX(len(embedding)) AS dim,
         MAX(len(embedding)) // {similarity.PQ_M} AS sd
  FROM embeddings
), cseeds AS (
  SELECT rk - 1 AS cell, embedding AS sv
  FROM (SELECT embedding,
               ROW_NUMBER() OVER (ORDER BY md5('seed:' || vec_id)) AS rk
        FROM embeddings), params
  WHERE rk <= params.cells
), ca0 AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, s.cell,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY list_cosine_similarity(e.embedding, s.sv) DESC, s.cell) AS rn
    FROM embeddings e, cseeds s)
  WHERE rn = 1
), cent AS (
  SELECT cell, list(v ORDER BY dim) AS cv FROM (
    SELECT cell, dim, AVG(val) AS v FROM (
      SELECT ca0.cell AS cell, generate_subscripts(e.embedding, 1) AS dim,
             unnest(e.embedding) AS val
      FROM ca0 JOIN embeddings e USING (vec_id))
    GROUP BY cell, dim)
  GROUP BY cell
), ca1 AS (
  -- final coarse assignment of EVERY vector to refined surviving cells
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cell) AS rn
    FROM embeddings e, cent c)
  WHERE rn = 1
), res AS (
  -- residual of every vector against its refined cell centroid
  SELECT e.vec_id, ca1.cell,
         list_transform(generate_series(1, p.dim),
                        i -> e.embedding[i]::DOUBLE - c.cv[i]) AS rv
  FROM embeddings e
  JOIN ca1 USING (vec_id) JOIN cent c USING (cell), params p
), pqseeds AS (
  SELECT rk - 1 AS code, vec_id
  FROM (SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY md5('pqseed:' || vec_id)) AS rk
        FROM embeddings)
  WHERE rk <= {similarity.PQ_KS}
), rseed AS (
  SELECT s.code, r.rv FROM pqseeds s JOIN res r USING (vec_id)
), sub AS (
  SELECT range AS m FROM range({similarity.PQ_M})
), pa0 AS (
  SELECT vec_id, m, code FROM (
    SELECT r.vec_id, sub.m, s.code,
      ROW_NUMBER() OVER (PARTITION BY r.vec_id, sub.m
        ORDER BY list_distance(r.rv[sub.m * p.sd + 1 : sub.m * p.sd + p.sd],
                               s.rv[sub.m * p.sd + 1 : sub.m * p.sd + p.sd]) ASC,
                 s.code) AS rn
    FROM res r, rseed s, sub, params p)
  WHERE rn = 1
), pcentavg AS (
  SELECT m, code, dim, AVG(val) AS v FROM (
    SELECT a.m, a.code, generate_subscripts(sl, 1) AS dim, unnest(sl) AS val
    FROM (SELECT a0.vec_id, a0.m, a0.code,
                 r.rv[a0.m * p.sd + 1 : a0.m * p.sd + p.sd] AS sl
          FROM pa0 a0 JOIN res r USING (vec_id), params p) a)
  GROUP BY m, code, dim
), pcent AS (
  SELECT m, code, list(v ORDER BY dim) AS bv FROM pcentavg GROUP BY m, code
), codes AS (
  SELECT vec_id, cell, m, code FROM (
    SELECT r.vec_id, r.cell, b.m, b.code,
      ROW_NUMBER() OVER (PARTITION BY r.vec_id, b.m
        ORDER BY list_distance(r.rv[b.m * p.sd + 1 : b.m * p.sd + p.sd],
                               b.bv) ASC,
                 b.code) AS rn
    FROM res r, pcent b, params p)
  WHERE rn = 1
), probes AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.cell,
      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        ORDER BY list_cosine_similarity(q.embedding, c.cv) DESC, c.cell) AS rn
    FROM embeddings q, cent c WHERE q.vec_id < {similarity.N_QUERIES})
  WHERE rn <= {similarity.IVF_NPROBE}
), qdt AS (
  SELECT pr.query_id, pr.cell, b.m, b.code,
         CAST(floor(1000000 * list_sum(list_transform(
           generate_series(1, p.sd),
           i -> (q.embedding[b.m * p.sd + i]::DOUBLE
                 - c.cv[b.m * p.sd + i] - b.bv[i]) ^ 2
         ))) AS BIGINT) AS d_micro
  FROM probes pr
  JOIN cent c USING (cell)
  JOIN embeddings q ON q.vec_id = pr.query_id,
  pcent b, params p
), adc AS (
  SELECT d.query_id, k.vec_id, CAST(SUM(d.d_micro) AS BIGINT) AS adc_micro
  FROM codes k
  JOIN qdt d ON d.cell = k.cell AND d.m = k.m AND d.code = k.code
  WHERE k.vec_id <> d.query_id
  GROUP BY 1, 2
)
SELECT query_id, vec_id AS neighbor_id, adc_micro, rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY adc_micro, vec_id) AS rank FROM adc)
WHERE rank <= {similarity.TOP_K}
""",
)

REGISTRY["sketch_count_min_tokens"] = (
    text.sketch_count_min_tokens,
    f"""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents
), ds AS (
  SELECT range AS d FROM range({text.CMS_D})
), cells AS (
  SELECT d, (('0x' || substr(md5(d || ':' || token), 1, 8))::BIGINT
             % {text.CMS_W} + {text.CMS_W}) % {text.CMS_W} AS bucket,
         COUNT(*) AS c
  FROM toks, ds GROUP BY 1, 2
), truth AS (
  SELECT token, COUNT(*) AS n_true FROM toks GROUP BY token
)
SELECT t.token, t.n_true, MIN(c.c) AS n_cms
FROM truth t, ds
JOIN cells c ON c.d = ds.d
  AND c.bucket = (('0x' || substr(md5(ds.d || ':' || t.token), 1, 8))::BIGINT
                  % {text.CMS_W} + {text.CMS_W}) % {text.CMS_W}
GROUP BY t.token, t.n_true
""",
)


REGISTRY["corpus_chunk_documents"] = (
    text.corpus_chunk_documents,
    f"""
WITH s AS (
  SELECT doc_id, text,
         unnest(generate_series(0, greatest(length(text) - 1, 0),
                                {text.CHUNK_STRIDE})) AS chunk_start
  FROM documents
)
SELECT doc_id,
       ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY chunk_start) - 1 AS chunk_idx,
       chunk_start,
       length(substr(text, chunk_start + 1, {text.CHUNK_LEN})) AS chunk_len,
       md5(substr(text, chunk_start + 1, {text.CHUNK_LEN})) AS chunk_md5
FROM s
""",
)

_PII_PLANT = (
    "text || ' contact u' || doc_id || '@ex' || (doc_id % 7)"
    " || '.com via https://h' || (doc_id % 5) || '.example/p' || doc_id"
    " || ' ref 90210' || doc_id"
)

REGISTRY["text_pii_scrub"] = (
    text.text_pii_scrub,
    f"""
WITH t AS (
  SELECT doc_id, {_PII_PLANT} AS t FROM documents
)
SELECT doc_id,
  len(regexp_extract_all(t, '{text.PII_URL_RE}'))::BIGINT AS n_urls,
  len(regexp_extract_all(
        regexp_replace(t, '{text.PII_URL_RE}', '<URL>', 'g'),
        '{text.PII_EMAIL_RE}'))::BIGINT AS n_emails,
  len(regexp_extract_all(
        regexp_replace(regexp_replace(t, '{text.PII_URL_RE}', '<URL>', 'g'),
                       '{text.PII_EMAIL_RE}', '<EMAIL>', 'g'),
        '{text.PII_DIGITS_RE}'))::BIGINT AS n_digit_runs,
  md5(regexp_replace(
        regexp_replace(regexp_replace(t, '{text.PII_URL_RE}', '<URL>', 'g'),
                       '{text.PII_EMAIL_RE}', '<EMAIL>', 'g'),
        '{text.PII_DIGITS_RE}', '<NUM>', 'g')) AS scrub_md5
FROM t
""",
)

REGISTRY["agg_histogram_prices"] = (
    relational.agg_histogram_prices,
    f"""
WITH c AS (
  SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents FROM orders
), m AS (
  SELECT max(cents) AS max_cents FROM c
)
SELECT cents * {relational.HIST_BINS} // (max_cents + 1) AS bin, COUNT(*) AS n
FROM c, m GROUP BY 1
""",
)

REGISTRY["profile_key_skew"] = (
    relational.profile_key_skew,
    f"""
WITH per AS (
  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
), tot AS (
  SELECT COUNT(*) AS total FROM events
), top AS (
  SELECT user_id, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS rank
  FROM per
  QUALIFY rank <= {relational.SKEW_TOP_K}
)
SELECT rank, user_id, cnt,
  cnt * 1000000 // total AS share_ppm,
  CAST(SUM(cnt) OVER (ORDER BY cnt DESC, user_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    * 1000000 // total AS cum_share_ppm
FROM top, tot
""",
)

REGISTRY["layout_range_partition_bounds"] = (
    relational.layout_range_partition_bounds,
    f"""
WITH t AS (
  SELECT user_id,
         NTILE({relational.RANGE_BUCKETS})
           OVER (ORDER BY user_id, event_id) AS bucket
  FROM events
)
SELECT bucket::BIGINT AS bucket, min(user_id) AS lo_user,
       max(user_id) AS hi_user, COUNT(*) AS n_rows
FROM t GROUP BY 1
""",
)


def _corr_sql(sx: str, sy: str, sxx: str, syy: str, sxy: str) -> str:
    """Identical double expression tree to relational.stats_correlation_matrix's
    corr(): 1e6*num left-divided by the two sqrts, floor(+0.5)."""
    return (
        f"CAST(floor(1000000.0 * "
        f"(n::DOUBLE * {sxy}::DOUBLE - {sx}::DOUBLE * {sy}::DOUBLE)"
        f" / sqrt(n::DOUBLE * {sxx}::DOUBLE - {sx}::DOUBLE * {sx}::DOUBLE)"
        f" / sqrt(n::DOUBLE * {syy}::DOUBLE - {sy}::DOUBLE * {sy}::DOUBLE)"
        f" + 0.5) AS BIGINT)"
    )


REGISTRY["stats_correlation_matrix"] = (
    relational.stats_correlation_matrix,
    f"""
WITH v AS (
  SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS q,
         CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS p,
         CAST(floor(l_discount * 10000 + 0.5) AS BIGINT) AS d
  FROM lineitem
), m AS (
  SELECT COUNT(*) AS n,
         SUM(q) AS sq, SUM(p) AS sp, SUM(d) AS sd,
         SUM(q*q) AS sqq, SUM(p*p) AS spp, SUM(d*d) AS sdd,
         SUM(q*p) AS sqp, SUM(q*d) AS sqd, SUM(p*d) AS spd
  FROM v
)
SELECT 'quantity' AS x_col, 'price' AS y_col, n,
       {_corr_sql('sq', 'sp', 'sqq', 'spp', 'sqp')} AS corr_ppm FROM m
UNION ALL
SELECT 'quantity' AS x_col, 'discount' AS y_col, n,
       {_corr_sql('sq', 'sd', 'sqq', 'sdd', 'sqd')} AS corr_ppm FROM m
UNION ALL
SELECT 'price' AS x_col, 'discount' AS y_col, n,
       {_corr_sql('sp', 'sd', 'spp', 'sdd', 'spd')} AS corr_ppm FROM m
""",
)


REGISTRY["tokenizer_bpe_encode"] = (
    text.tokenizer_bpe_encode,
    _bpe_cte()
    + f"""
SELECT word, cnt,
       len(string_split(seq, '  '))::BIGINT AS n_symbols,
       array_to_string(
         list_transform(string_split(seq, '  '),
                        x -> {_bpe_strip_sql('x')}), ' ') AS encoding
FROM w{text.BPE_MERGES}
""",
)


def _hits_sql() -> str:
    """Unrolled HITS oracle: same directed first-occurrence-order graph,
    same graph.HITS_ITERS sum-normalized rounds as graph.kg_hits_scores."""
    vocab = ",".join(f"'{t}'" for t in graph.PR_VOCAB)
    # every state CTE is MATERIALIZED: each is referenced 2-3 times and
    # DuckDB would otherwise inline (re-evaluate) them — the nested
    # re-evaluation across iterations is exponential in HITS_ITERS
    iters = "".join(
        f""", ar{k} AS MATERIALIZED (
  SELECT e.dst AS node, SUM(e.w * hp.h) AS a_raw
  FROM edges e JOIN h{k - 1} hp ON hp.node = e.src GROUP BY 1
), a{k} AS MATERIALIZED (
  SELECT nd.node,
         coalesce(ar.a_raw, 0.0) / (SELECT SUM(a_raw) FROM ar{k}) AS a
  FROM nodes nd LEFT JOIN ar{k} ar ON ar.node = nd.node
), hr{k} AS MATERIALIZED (
  SELECT e.src AS node, SUM(e.w * aa.a) AS h_raw
  FROM edges e JOIN a{k} aa ON aa.node = e.dst GROUP BY 1
), h{k} AS MATERIALIZED (
  SELECT nd.node,
         coalesce(hr.h_raw, 0.0) / (SELECT SUM(h_raw) FROM hr{k}) AS h
  FROM nodes nd LEFT JOIN hr{k} hr ON hr.node = nd.node
)"""
        for k in range(1, graph.HITS_ITERS + 1)
    )
    return f"""
WITH tk AS (
  SELECT doc_id, unnest(ls) AS token, generate_subscripts(ls, 1) AS pos
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS ls FROM documents)
), m AS (
  SELECT doc_id, token, MIN(pos) AS pos FROM tk
  WHERE token IN ({vocab}) GROUP BY 1, 2
), edges AS MATERIALIZED (
  SELECT a.token AS src, b.token AS dst, COUNT(*)::DOUBLE AS w
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.pos < b.pos
  GROUP BY 1, 2
), nodes AS MATERIALIZED (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges)
), n AS (
  SELECT COUNT(*)::DOUBLE AS nn FROM nodes
), h0 AS (
  SELECT node, (SELECT 1.0 / nn FROM n) AS h FROM nodes
){iters}
SELECT h.node AS mention, round(h.h, 6) AS hub, round(a.a, 6) AS authority
FROM h{graph.HITS_ITERS} h JOIN a{graph.HITS_ITERS} a USING (node)
"""


REGISTRY["kg_hits_scores"] = (graph.kg_hits_scores, _hits_sql())

REGISTRY["window_cumulative_distinct"] = (
    relational.window_cumulative_distinct,
    """
WITH t AS (
  SELECT event_id, user_id, ts,
         CASE WHEN ROW_NUMBER() OVER (
                PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS is_first
  FROM events
)
SELECT event_id, user_id,
       CAST(SUM(is_first) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_distinct_types
FROM t
""",
)

REGISTRY["agg_anomaly_mad"] = (
    relational.agg_anomaly_mad,
    f"""
WITH v AS (
  SELECT event_id, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
  FROM events
), med AS (
  SELECT event_type, quantile_cont(vc * 2, 0.5) AS med2 FROM v GROUP BY 1
), dev AS (
  SELECT v.event_id, v.event_type, v.vc, abs(v.vc * 2 - m.med2) AS dev2
  FROM v JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, quantile_cont(dev2 * 2, 0.5) AS mad4 FROM dev GROUP BY 1
)
SELECT d.event_id, d.event_type, d.vc
FROM dev d JOIN mad USING (event_type)
WHERE d.dev2 * 2 > {relational.MAD_K} * mad.mad4
""",
)


REGISTRY["scalar_bitwise_funcs"] = (
    relational.scalar_bitwise_funcs,
    """
SELECT o_orderkey,
       o_orderkey & 255 AS low_byte,
       o_orderkey | o_custkey AS or_cust,
       xor(o_orderkey, o_custkey) AS xor_cust,
       o_orderkey << 3 AS shl3,
       o_orderkey >> 2 AS shr2,
       CAST(bit_count(o_orderkey) AS INT) AS popcount,
       o_orderkey & 31 AS bucket32
FROM orders
""",
)

REGISTRY["agg_mode_per_group"] = (
    relational.agg_mode_per_group,
    """
WITH c AS (
  SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bucket,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT event_type, bucket AS mode_bucket, cnt FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY event_type ORDER BY cnt DESC, bucket) AS rn FROM c)
WHERE rn = 1
""",
)

REGISTRY["events_gap_stats"] = (
    relational.events_gap_stats,
    """
WITH g AS (
  SELECT user_id,
         date_diff('microsecond',
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap
  FROM events
)
SELECT user_id, COUNT(*) AS n_gaps,
       MIN(gap) AS min_gap_us, MAX(gap) AS max_gap_us,
       CAST(SUM(gap) AS BIGINT) // COUNT(*) AS avg_gap_us
FROM g WHERE gap IS NOT NULL GROUP BY user_id
""",
)

REGISTRY["embedding_dim_stats"] = (
    similarity.embedding_dim_stats,
    """
WITH x AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(floor(unnest(embedding)::DOUBLE * 1000000 + 0.5) AS BIGINT) AS m
  FROM embeddings
), agg AS (
  SELECT dim, COUNT(*) AS n, CAST(SUM(m) AS BIGINT) AS s1, SUM(m * m) AS s2
  FROM x GROUP BY dim
)
SELECT CAST(dim AS BIGINT) AS dim, n,
       s1 // n AS mean_micro,
       CAST(floor((n::DOUBLE * s2::DOUBLE - s1::DOUBLE * s1::DOUBLE)
                  / (n::DOUBLE * n::DOUBLE) + 0.5) AS BIGINT) AS var_micro2
FROM agg
""",
)


def _lcc_sql() -> str:
    """Co-occurrence graph + oriented triangles + guarded ppm ratio —
    mirrors graph.kg_local_clustering_coefficient."""
    vocab = ",".join(f"'{t}'" for t in graph.PR_VOCAB)
    return f"""
WITH m AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
    FROM documents)
  WHERE token IN ({vocab})
), half AS (
  SELECT a.token AS src, b.token AS dst
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2
), edges AS (
  SELECT src, dst FROM half UNION ALL SELECT dst, src FROM half
), deg AS (
  SELECT src AS mention, COUNT(*) AS degree FROM edges GROUP BY 1
), tri AS (
  SELECT mention, COUNT(*) AS n_triangles FROM (
    SELECT unnest([e1.src, e1.dst, e3.dst]) AS mention
    FROM half e1
    JOIN half e2 ON e2.src = e1.dst
    JOIN half e3 ON e3.src = e1.src AND e3.dst = e2.dst)
  GROUP BY 1
)
SELECT d.mention, d.degree,
       coalesce(t.n_triangles, 0) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN coalesce(t.n_triangles, 0) * 2000000
                 // (d.degree * (d.degree - 1))
            ELSE 0 END AS lcc_ppm
FROM deg d LEFT JOIN tri t ON t.mention = d.mention
"""


REGISTRY["kg_local_clustering_coefficient"] = (
    graph.kg_local_clustering_coefficient,
    _lcc_sql(),
)

REGISTRY["join_null_safe_demo"] = (
    relational.join_null_safe_demo,
    """
WITH e AS (
  SELECT nullif(event_type, 'click') AS k FROM events
), dim AS (
  SELECT dk, coalesce(length(dk), -1) AS dim_len FROM (
    SELECT DISTINCT nullif(event_type, 'click') AS dk FROM events)
)
SELECT e.k, d.dim_len, COUNT(*) AS n
FROM e JOIN dim d ON e.k IS NOT DISTINCT FROM d.dk
GROUP BY e.k, d.dim_len
""",
)

# the HLL union estimate is engine-specific; the contract checked is
# "unioned per-group sketches estimate the GLOBAL distinct within 5%"
REGISTRY["sketch_hll_union_contract"] = (
    relational.sketch_hll_union_contract,
    "SELECT COUNT(DISTINCT user_id) AS exact_users, "
    "TRUE AS union_within_5pct FROM events",
)

REGISTRY["corpus_overlap_minhash"] = (
    text.corpus_overlap_minhash,
    f"""
WITH toks AS (
  SELECT DISTINCT source, token FROM (
    SELECT source, unnest(string_split(lower(text), ' ')) AS token
    FROM documents)
  WHERE length(token) > 0
), sizes AS (
  SELECT source, COUNT(*) AS n_tok FROM toks GROUP BY 1
), inter AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_inter
  FROM toks a JOIN toks b ON a.token = b.token AND a.source < b.source
  GROUP BY 1, 2
), slots AS (
  SELECT range::INT AS slot FROM range({text.MH_OVERLAP_SLOTS})
), sig AS (
  SELECT source, slot, MIN(md5('mh:' || slot || ':' || token)) AS mh
  FROM toks, slots GROUP BY 1, 2
), est AS (
  SELECT x.source AS src_a, y.source AS src_b,
         CAST(SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
  FROM sig x JOIN sig y ON x.slot = y.slot AND x.source < y.source
  GROUP BY 1, 2
)
SELECT e.src_a, e.src_b,
       coalesce(i.n_inter, 0) * 1000000
         // (sa.n_tok + sb.n_tok - coalesce(i.n_inter, 0))
         AS exact_jaccard_ppm,
       e.n_agree * 1000000 // {text.MH_OVERLAP_SLOTS} AS est_jaccard_ppm
FROM est e
LEFT JOIN inter i ON i.src_a = e.src_a AND i.src_b = e.src_b
JOIN sizes sa ON sa.source = e.src_a
JOIN sizes sb ON sb.source = e.src_b
""",
)


REGISTRY["agg_weighted_median"] = (
    relational.agg_weighted_median,
    """
WITH li AS (
  SELECT l_returnflag,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS w
  FROM lineitem
), per AS (
  SELECT l_returnflag, cents, CAST(SUM(w) AS BIGINT) AS wv
  FROM li GROUP BY 1, 2
), cum AS (
  SELECT l_returnflag, cents, wv,
         CAST(SUM(wv) OVER (PARTITION BY l_returnflag ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cw
  FROM per
), tot AS (
  SELECT l_returnflag, CAST(SUM(wv) AS BIGINT) AS tw FROM per GROUP BY 1
)
SELECT c.l_returnflag, MIN(c.cents) AS w_median_cents,
       MIN(t.tw) AS total_weight
FROM cum c JOIN tot t USING (l_returnflag)
WHERE c.cw * 2 >= t.tw
GROUP BY 1
""",
)

REGISTRY["events_rate_anomaly"] = (
    relational.events_rate_anomaly,
    f"""
WITH e AS (
  SELECT event_type,
         date_diff('hour', TIMESTAMP '1970-01-01 00:00:00',
                   date_trunc('hour', ts)) AS hour_id
  FROM events
), c AS (
  SELECT event_type, hour_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM e GROUP BY 1, 2
), m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s1, CAST(SUM(c * c) AS BIGINT) AS s2
  FROM c GROUP BY 1
)
SELECT c.event_type, c.hour_id, c.c
FROM c JOIN m USING (event_type)
WHERE CAST(c.c * m.n - m.s1 AS DOUBLE) * CAST(c.c * m.n - m.s1 AS DOUBLE)
      > {float(relational.RATE_SIGMA**2)!r}
        * CAST(m.n * m.s2 - m.s1 * m.s1 AS DOUBLE)
""",
)

_URL_PLANT = (
    "'HTTPS://WWW.Ex' || (doc_id % 5) || '.COM/Path/' || doc_id"
    " || '?zeta=9&utm_source=feed&Id=' || doc_id"
    " || '&utm_campaign=x&alpha=1#Frag'"
)

REGISTRY["text_url_canonicalize"] = (
    text.text_url_canonicalize,
    f"""
WITH t AS (
  SELECT doc_id, {_URL_PLANT} AS url FROM documents
), p AS (
  SELECT doc_id,
         string_split(url, '#')[1] AS no_frag
  FROM t
), q AS (
  SELECT doc_id,
         lower(string_split(no_frag, '?')[1]) AS base,
         string_split(string_split(no_frag, '?')[2], '&') AS params
  FROM p
), k AS (
  SELECT doc_id, base, params,
         list_sort(list_filter(params, x -> NOT starts_with(x, 'utm_')))
           AS kept
  FROM q
)
SELECT doc_id,
       CAST(len(params) - len(kept) AS BIGINT) AS n_params_dropped,
       md5(base || '?' || array_to_string(kept, '&')) AS canon_md5
FROM k
""",
)


# reuse the cluster oracle's recursive closure verbatim; extend with the
# representative pick so both engines apply the identical quality rule
_CC_PREFIX = REGISTRY["dedup_cluster_components"][1].rsplit(
    "SELECT u AS doc_id", 1
)[0]

REGISTRY["dedup_pick_representatives"] = (
    graph.dedup_pick_representatives,
    _CC_PREFIX
    + """, cc AS (
  SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
), t AS (
  SELECT c.doc_id, c.cluster_id, d.n_chars
  FROM cc c JOIN documents d USING (doc_id)
)
SELECT doc_id, cluster_id,
       FIRST_VALUE(doc_id) OVER (
         PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rep_doc_id,
       doc_id = FIRST_VALUE(doc_id) OVER (
         PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS keep
FROM t
""",
)


def _rake_sql() -> str:
    """RAKE replay: same stopword set, gaps-and-islands phrase split,
    degree/frequency ppm word scores, per-doc top-k."""
    stops = ",".join(f"'{s}'" for s in text.STOPWORDS_EN)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(ls) AS token, generate_subscripts(ls, 1) AS pos
  FROM (SELECT doc_id,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS ls
        FROM documents)
), flagged AS (
  SELECT doc_id, pos, token,
         CASE WHEN token IN ({stops}) THEN 1 ELSE 0 END AS is_stop
  FROM toks
), runs AS (
  SELECT doc_id, pos, token,
         SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
  QUALIFY is_stop = 0
), phrases AS (
  SELECT doc_id, island,
         array_to_string(list(token ORDER BY pos), ' ') AS phrase,
         CAST(COUNT(*) AS BIGINT) AS plen
  FROM runs GROUP BY 1, 2
), occur AS (
  SELECT r.doc_id, r.island, r.token, p.plen
  FROM runs r JOIN phrases p USING (doc_id, island)
), wscore AS (
  SELECT token,
         CAST(SUM(plen) * 1000000 // COUNT(*) AS BIGINT) AS wscore
  FROM occur GROUP BY 1
), pscore AS (
  SELECT o.doc_id, o.island, CAST(SUM(w.wscore) AS BIGINT) AS phrase_score
  FROM occur o JOIN wscore w USING (token) GROUP BY 1, 2
)
SELECT doc_id, rank, phrase, phrase_score FROM (
  SELECT ps.doc_id,
         ROW_NUMBER() OVER (PARTITION BY ps.doc_id
           ORDER BY ps.phrase_score DESC, p.phrase) AS rank,
         p.phrase, ps.phrase_score
  FROM pscore ps JOIN phrases p USING (doc_id, island))
WHERE rank <= {text.RAKE_TOP_K}
"""


REGISTRY["text_rake_keywords"] = (text.text_rake_keywords, _rake_sql())


def _skewkurt_sql() -> str:
    """Identical double expression trees to relational.agg_skew_kurtosis
    (DuckDB spells the int64→double casts with :: but the tree shape,
    literals and operator order are the same)."""
    nn, s1, s2, s3, s4 = (
        "n::DOUBLE", "s1::DOUBLE", "s2::DOUBLE", "s3::DOUBLE", "s4::DOUBLE"
    )
    m2 = f"({nn} * {s2} - {s1} * {s1})"
    m3 = (
        f"({nn} * {nn} * {s3} - 3.0 * {nn} * {s1} * {s2}"
        f" + 2.0 * {s1} * {s1} * {s1})"
    )
    m4 = (
        f"({nn} * {nn} * {nn} * {s4} - 4.0 * {nn} * {nn} * {s1} * {s3}"
        f" + 6.0 * {nn} * {s1} * {s1} * {s2}"
        f" - 3.0 * {s1} * {s1} * {s1} * {s1})"
    )
    return f"""
WITH v AS (
  SELECT event_type, CAST(floor(value + 0.5) AS BIGINT) AS vd FROM events
), m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(vd) AS BIGINT) AS s1,
         CAST(SUM(vd * vd) AS BIGINT) AS s2,
         CAST(SUM(vd * vd * vd) AS BIGINT) AS s3,
         CAST(SUM(vd * vd * vd * vd) AS BIGINT) AS s4
  FROM v GROUP BY 1
)
SELECT event_type, n,
       CAST(floor(1000000.0 * {m3} / ({m2} * sqrt({m2})) + 0.5) AS BIGINT)
         AS skew_ppm,
       CAST(floor(1000000.0 * ({m4} / ({m2} * {m2}) - 3.0) + 0.5) AS BIGINT)
         AS ekurt_ppm
FROM m
"""


REGISTRY["agg_skew_kurtosis"] = (relational.agg_skew_kurtosis, _skewkurt_sql())


def _modularity_sql() -> str:
    """LPA rounds (same chain as _lpa_sql) + the exact integer
    Newman-Girvan per-community contribution."""
    rounds = []
    for k in range(1, graph.LPA_ITERS + 1):
        rounds.append(
            f"""r{k} AS (
  SELECT e.src AS node, l.label, COUNT(*) AS c
  FROM edges e JOIN l{k - 1} l ON e.dst = l.node GROUP BY e.src, l.label
), l{k} AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM r{k}) WHERE rn = 1
)"""
        )
    n = graph.LPA_ITERS
    return f"""
WITH {_coocc_edges_cte()}, edges AS MATERIALIZED (
  SELECT src, dst FROM half UNION ALL SELECT dst AS src, src AS dst FROM half
), l0 AS (
  SELECT DISTINCT src AS node, src AS label FROM edges
), {", ".join(rounds)}, lab AS MATERIALIZED (
  SELECT node, label AS community FROM l{n}
), ec AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS E FROM edges
), intra AS (
  SELECT la.community, CAST(COUNT(*) AS BIGINT) AS intra_rows
  FROM edges e
  JOIN lab la ON la.node = e.src
  JOIN lab lb ON lb.node = e.dst
  WHERE la.community = lb.community
  GROUP BY 1
), deg AS (
  SELECT la.community, CAST(COUNT(*) AS BIGINT) AS deg_sum
  FROM edges e JOIN lab la ON la.node = e.src GROUP BY 1
), nodes AS (
  SELECT community, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM lab GROUP BY 1
)
SELECT n.community, n.n_nodes,
       coalesce(i.intra_rows, 0) AS intra_rows, d.deg_sum,
       (coalesce(i.intra_rows, 0) * e.E - d.deg_sum * d.deg_sum)
         * 1000000 // (e.E * e.E) AS q_ppm
FROM nodes n
JOIN deg d USING (community)
LEFT JOIN intra i USING (community), ec e
"""


REGISTRY["kg_community_modularity"] = (
    graph.kg_community_modularity,
    _modularity_sql(),
)


REGISTRY["corpus_select_to_budget"] = (
    text.corpus_select_to_budget,
    f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(lower(text), ' '),
                              x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
), tot AS (
  SELECT SUM(n_tokens) * {text.BUDGET_SHARE_PPM} // 1000000 AS budget FROM t
), c AS (
  SELECT doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens
  FROM t
)
SELECT doc_id, n_tokens, cum_tokens FROM c, tot
WHERE cum_tokens <= budget
""",
)


REGISTRY["stats_linreg_by_group"] = (
    relational.stats_linreg_by_group,
    """
WITH e AS (
  SELECT event_type,
         CAST(hour(ts) AS BIGINT) AS x,
         CAST(floor(value + 0.5) AS BIGINT) AS y
  FROM events
), m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM e GROUP BY 1
)
SELECT event_type, n,
       CAST(floor(1000000.0
         * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
         + 0.5) AS BIGINT) AS slope_ppm,
       CAST(floor(1000000.0
         * (CAST(sy AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sxy)
         / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
         + 0.5) AS BIGINT) AS intercept_ppm
FROM m
""",
)


def _ewma_sql() -> str:
    num = []
    den = []
    for k in range(relational.EWMA_LAGS):
        wt = 1 << (relational.EWMA_LAGS - 1 - k)
        num.append(f"COALESCE(lag(c, {k}) OVER w, 0) * {wt}")
        den.append(
            f"CASE WHEN lag(c, {k}) OVER w IS NULL THEN 0 ELSE {wt} END"
        )
    return f"""
WITH e AS (
  SELECT event_type,
         date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
                   date_trunc('hour', ts)) AS hour_id
  FROM events
), c AS (
  SELECT event_type, hour_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM e GROUP BY 1, 2
)
SELECT event_type, hour_id, c,
       CAST((1000000 * ({' + '.join(num)}))
            // ({' + '.join(den)}) AS BIGINT) AS ewma_ppm
FROM c
WINDOW w AS (PARTITION BY event_type ORDER BY hour_id)
"""


REGISTRY["events_ewma_hourly"] = (relational.events_ewma_hourly, _ewma_sql())


REGISTRY["stats_cohens_kappa"] = (
    relational.stats_cohens_kappa,
    """
WITH e AS (
  SELECT event_type,
         CAST(floor(value + 0.5) AS BIGINT) % 2 AS ra,
         user_id % 2 AS rb
  FROM events
), m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n11,
         CAST(SUM(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10,
         CAST(SUM(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01,
         CAST(SUM(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n00
  FROM e GROUP BY 1
)
SELECT event_type, n,
       CASE WHEN (n11 + n10) * (n10 + n00) + (n11 + n01) * (n01 + n00) = 0
            THEN NULL
            ELSE (2000000 * (n11 * n00 - n10 * n01))
                 // ((n11 + n10) * (n10 + n00) + (n11 + n01) * (n01 + n00))
       END AS kappa_ppm
FROM m
""",
)


REGISTRY["stats_gini_impurity"] = (
    relational.stats_gini_impurity,
    """
WITH ut AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), u AS (
  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(c * c) AS BIGINT) AS ss,
         CAST(COUNT(*) AS BIGINT) AS n_types
  FROM ut GROUP BY 1
)
SELECT user_id, n, n_types,
       (1000000 * (n * n - ss)) // (n * n) AS gini_ppm
FROM u
""",
)


REGISTRY["layout_shard_assign"] = (
    relational.layout_shard_assign,
    f"""
WITH r AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS r
  FROM documents
), a AS (
  SELECT n_chars,
         CASE WHEN (r // {relational.SHARD_COUNT}) % 2 = 0
              THEN r % {relational.SHARD_COUNT}
              ELSE {relational.SHARD_COUNT} - 1 - (r % {relational.SHARD_COUNT})
         END AS shard
  FROM r
)
SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars_total,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM a GROUP BY 1
""",
)


REGISTRY["er_field_agreement"] = (
    relational.er_field_agreement,
    f"""
WITH d AS (
  SELECT doc_id, lang, source, CAST(n_chars AS BIGINT) AS n_chars,
         substring(text, 1, 16) AS p16
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST((CASE WHEN a.source = b.source THEN {relational.ER_W_SOURCE} ELSE 0 END)
          + (CASE WHEN abs(a.n_chars - b.n_chars) <= {relational.ER_CHARS_TOL}
                  THEN {relational.ER_W_CHARS} ELSE 0 END)
          + (CASE WHEN a.p16 = b.p16 THEN {relational.ER_W_PREFIX} ELSE 0 END)
         AS BIGINT) AS score
FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
WHERE (CASE WHEN a.source = b.source THEN {relational.ER_W_SOURCE} ELSE 0 END)
    + (CASE WHEN abs(a.n_chars - b.n_chars) <= {relational.ER_CHARS_TOL}
            THEN {relational.ER_W_CHARS} ELSE 0 END)
    + (CASE WHEN a.p16 = b.p16 THEN {relational.ER_W_PREFIX} ELSE 0 END)
    >= {relational.ER_MIN_SCORE}
""",
)


REGISTRY["stats_ks_distance"] = (
    relational.stats_ks_distance,
    """
WITH v AS (
  SELECT event_type, CAST(floor(value + 0.5) AS BIGINT) AS vd FROM events
), c AS (
  SELECT event_type, vd, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY 1, 2
), tot AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1
), vals AS (
  SELECT DISTINCT vd FROM v
), pairs AS (
  SELECT a.event_type AS ta, a.n AS na, b.event_type AS tb, b.n AS nb
  FROM tot a JOIN tot b ON a.event_type < b.event_type
), grid AS (
  SELECT p.ta, p.tb, p.na, p.nb, vals.vd,
         COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb
  FROM pairs p CROSS JOIN vals
  LEFT JOIN c ca ON ca.event_type = p.ta AND ca.vd = vals.vd
  LEFT JOIN c cb ON cb.event_type = p.tb AND cb.vd = vals.vd
), cum AS (
  SELECT ta, tb, na, nb,
         SUM(ca) OVER (PARTITION BY ta, tb ORDER BY vd
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
         SUM(cb) OVER (PARTITION BY ta, tb ORDER BY vd
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b
  FROM grid
)
SELECT ta, tb,
       CAST((1000000 * MAX(abs(cum_a * nb - cum_b * na))) // (na * nb) AS BIGINT)
         AS ks_ppm
FROM cum GROUP BY ta, tb, na, nb
""",
)


REGISTRY["stats_chi2_independence"] = (
    relational.stats_chi2_independence,
    """
WITH e AS (
  SELECT event_type,
         CAST(floor(value + 0.5) AS BIGINT) % 2 AS parity
  FROM events
), cells AS (
  SELECT event_type, parity, CAST(COUNT(*) AS BIGINT) AS o
  FROM e GROUP BY 1, 2
), m AS (
  SELECT event_type, parity, o,
         SUM(o) OVER (PARTITION BY event_type) AS r,
         SUM(o) OVER (PARTITION BY parity) AS c,
         SUM(o) OVER () AS n
  FROM cells
)
SELECT event_type, parity, o,
       CAST(floor(1000000.0
         * (CAST(n AS DOUBLE) * o - CAST(r AS DOUBLE) * c)
         * (CAST(n AS DOUBLE) * o - CAST(r AS DOUBLE) * c)
         / (CAST(n AS DOUBLE) * r * c) + 0.5) AS BIGINT) AS chi2_ppm
FROM m
""",
)


REGISTRY["stats_autocorr_lag1"] = (
    relational.stats_autocorr_lag1,
    """
WITH e AS (
  SELECT event_type,
         date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
                   date_trunc('hour', ts)) AS hour_id
  FROM events
), c AS (
  SELECT event_type, hour_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM e GROUP BY 1, 2
), p AS (
  SELECT event_type, c,
         lag(c, 1) OVER (PARTITION BY event_type ORDER BY hour_id) AS prev
  FROM c
), m AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(c) AS BIGINT) AS sx, CAST(SUM(prev) AS BIGINT) AS sy,
         CAST(SUM(c * c) AS BIGINT) AS sxx,
         CAST(SUM(prev * prev) AS BIGINT) AS syy,
         CAST(SUM(c * prev) AS BIGINT) AS sxy
  FROM p WHERE prev IS NOT NULL GROUP BY 1
)
SELECT event_type, m,
       CAST(floor(1000000.0
         * (CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / sqrt(CAST((m * sxx - sx * sx) * (m * syy - sy * sy) AS DOUBLE))
         + 0.5) AS BIGINT) AS autocorr_ppm
FROM m
""",
)


def _benford_sql() -> str:
    case = "CASE digit " + " ".join(
        f"WHEN {d + 1} THEN {p}"
        for d, p in enumerate(relational.BENFORD_PPM)
    ) + " END"
    return f"""
WITH v AS (
  SELECT CAST(substring(CAST(CAST(floor(value + 0.5) AS BIGINT) AS VARCHAR), 1, 1)
              AS INTEGER) AS digit
  FROM events
  WHERE CAST(floor(value + 0.5) AS BIGINT) >= 1
), obs AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY 1
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n FROM obs
)
SELECT digit, c,
       (1000000 * c) // n AS obs_ppm,
       CAST({case} AS BIGINT) AS benford_ppm,
       abs((1000000 * c) // n - CAST({case} AS BIGINT)) AS dev_ppm
FROM obs, tot
"""


REGISTRY["stats_benford_deviation"] = (
    relational.stats_benford_deviation,
    _benford_sql(),
)


REGISTRY["text_shingle_containment"] = (
    text.text_shingle_containment,
    f"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
), sh0 AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+2], ' ')
                        for i in range(1, len(toks) - 1)]) AS sh
  FROM tok WHERE len(toks) >= 3
), sh AS (
  SELECT doc_id, unnest(sh) AS s, len(sh) AS n_sh FROM sh0
), j AS (
  SELECT a.doc_id AS doc_from, b.doc_id AS doc_to, a.n_sh AS n_from,
         CAST(COUNT(*) AS BIGINT) AS inter
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
  GROUP BY 1, 2, 3
)
SELECT doc_from, doc_to,
       (1000000 * inter) // n_from AS containment_ppm
FROM j
WHERE (1000000 * inter) // n_from >= {text.CONT_MIN_PPM}
""",
)


def _interleave_sql() -> str:
    case = "CASE lang " + " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(text.MIX_WEIGHTS.items())
    ) + f" ELSE {text.MIX_STRIDE_DEFAULT} END"
    return f"""
WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS r
  FROM documents
), k AS (
  SELECT doc_id, lang, ({case}) * r AS vt FROM r
), o AS (
  SELECT CAST(row_number() OVER (ORDER BY vt, lang, doc_id) AS BIGINT) AS pos,
         lang, doc_id
  FROM k
)
SELECT pos, lang, doc_id FROM o WHERE pos <= {text.MIX_TAKE_N}
"""


REGISTRY["corpus_interleave_mixture"] = (
    text.corpus_interleave_mixture,
    _interleave_sql(),
)


REGISTRY["stats_mann_whitney_u"] = (
    relational.stats_mann_whitney_u,
    """
WITH v AS (
  SELECT event_type, CAST(floor(value + 0.5) AS BIGINT) AS vd FROM events
), c AS (
  SELECT event_type, vd, COUNT(*) AS c FROM v GROUP BY 1, 2
), tot AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1
), pairs AS (
  SELECT a.event_type AS ta, a.n AS na, b.event_type AS tb, b.n AS nb
  FROM tot a JOIN tot b ON a.event_type < b.event_type
), grid AS (
  SELECT ta, tb, na, nb, vd,
         SUM(CASE WHEN c.event_type = ta THEN c.c ELSE 0 END) AS ca,
         SUM(CASE WHEN c.event_type = tb THEN c.c ELSE 0 END) AS cb
  FROM c JOIN pairs ON c.event_type = ta OR c.event_type = tb
  GROUP BY 1, 2, 3, 4, 5
), mid AS (
  SELECT ta, tb, na, nb, ca,
         2 * COALESCE(SUM(ca + cb) OVER (
               PARTITION BY ta, tb ORDER BY vd
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           + (ca + cb) + 1 AS dm
  FROM grid
)
SELECT ta, tb,
       CAST(SUM(ca * dm) - na * (na + 1) AS BIGINT) AS u2,
       CAST((1000000 * (SUM(ca * dm) - na * (na + 1))) // (2 * na * nb) AS BIGINT)
         AS auc_ppm
FROM mid GROUP BY ta, tb, na, nb
""",
)


def _mi_sql() -> str:
    b = relational.MI_BUCKET
    return f"""
WITH e AS (
  SELECT event_type AS x, CAST(floor(value + 0.5) AS BIGINT) // {b} AS y
  FROM events
), nxy AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS nxy FROM e GROUP BY 1, 2
), nx AS (
  SELECT x, SUM(nxy) AS nx FROM nxy GROUP BY 1
), ny AS (
  SELECT y, SUM(nxy) AS ny FROM nxy GROUP BY 1
), nn AS (
  SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM nxy
)
SELECT (SELECT n FROM nn) AS n,
       round(SUM((CAST(nxy AS DOUBLE) / (SELECT n FROM nn))
                 * ln(CAST(nxy AS DOUBLE) * (SELECT n FROM nn)
                      / (CAST(nx AS DOUBLE) * ny))), 6) AS mi_nats,
       (SELECT round(SUM((CAST(nx AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / nx)), 6)
        FROM nx, nn) AS h_x,
       (SELECT round(SUM((CAST(ny AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / ny)), 6)
        FROM ny, nn) AS h_y
FROM nxy JOIN nx USING (x) JOIN ny USING (y)
"""


REGISTRY["stats_mutual_information"] = (
    relational.stats_mutual_information,
    _mi_sql(),
)


REGISTRY["stats_cusum_changepoint"] = (
    relational.stats_cusum_changepoint,
    """
WITH e AS (
  SELECT event_type, ts, event_id,
         CAST(floor(value + 0.5) AS BIGINT) AS x
  FROM events
), s AS (
  SELECT event_type, ts,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS t,
         SUM(x) OVER (PARTITION BY event_type ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
         SUM(x) OVER (PARTITION BY event_type) AS total
  FROM e
), d AS (
  SELECT event_type, ts, t, n, total, abs(n * cum - t * total) AS d,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(n * cum - t * total) DESC, t ASC) AS rk
  FROM s
)
SELECT event_type, n, t AS t_star, ts AS ts_star, CAST(d AS BIGINT) AS d_max,
       CAST((1000000 * d) // (n * total) AS BIGINT) AS mag_ppm
FROM d WHERE rk = 1
""",
)


def _bigram_nll_sql() -> str:
    return """
WITH tok AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
  FROM documents
), base AS (
  SELECT doc_id, toks FROM tok WHERE len(toks) >= 2
), bg AS (
  SELECT doc_id, unnest([{'w1': toks[i], 'bg': toks[i] || ' ' || toks[i + 1]}
                         for i in range(1, len(toks))]) AS b
  FROM base
), bigrams AS (
  SELECT doc_id, b.w1 AS w1, b.bg AS bg FROM bg
), uni AS (
  SELECT unnest(toks) AS w1 FROM base
), cu AS (
  SELECT w1, CAST(COUNT(*) AS BIGINT) AS cu FROM uni GROUP BY 1
), vocab AS (
  SELECT CAST(COUNT(DISTINCT w1) AS BIGINT) AS v FROM uni
), cbg AS (
  SELECT bg, CAST(COUNT(*) AS BIGINT) AS cbg FROM bigrams GROUP BY 1
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(SUM(ln(CAST(cu + v AS DOUBLE) / (cbg + 1))) / COUNT(*), 6) AS nll_nats
FROM bigrams JOIN cbg USING (bg) JOIN cu USING (w1) CROSS JOIN vocab
GROUP BY doc_id
"""


REGISTRY["text_bigram_nll"] = (text.text_bigram_nll, _bigram_nll_sql())


REGISTRY["text_lexical_stats"] = (
    text.text_lexical_stats,
    """
WITH tok AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
  FROM documents
), pt AS (
  SELECT doc_id, unnest(toks) AS tok FROM tok WHERE len(toks) >= 1
), c AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c FROM pt GROUP BY 1, 2
), agg AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         SUM(c * ln(CAST(c AS DOUBLE))) AS sum_clnc
  FROM c GROUP BY 1
)
SELECT doc_id, n_tokens, n_types,
       (1000000 * n_types) // n_tokens AS ttr_ppm,
       (1000000 * n_hapax) // n_types AS hapax_ppm,
       round(ln(CAST(n_tokens AS DOUBLE)) - sum_clnc / n_tokens, 6)
         AS token_entropy_nats
FROM agg
""",
)


def _zipf_sql() -> str:
    return f"""
WITH tok AS (
  SELECT list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
  FROM documents
), freq AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM (SELECT unnest(toks) AS tok FROM tok)
  GROUP BY 1 HAVING COUNT(*) >= {text.ZIPF_MIN_COUNT}
), ranked AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY c DESC, tok ASC) AS DOUBLE)) AS x,
         ln(CAST(c AS DOUBLE)) AS y
  FROM freq
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM ranked
)
SELECT n,
       round((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0.0), 6) AS slope,
       round((sy * sxx - sx * sxy) / NULLIF(n * sxx - sx * sx, 0.0), 6) AS intercept,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / NULLIF(NULLIF(n * sxx - sx * sx, 0.0)
                      * (n * syy - sy * sy), 0.0), 6) AS r2
FROM m
"""


REGISTRY["stats_zipf_slope"] = (text.stats_zipf_slope, _zipf_sql())


REGISTRY["embedding_hard_negatives"] = (
    similarity.embedding_hard_negatives,
    """
WITH s AS (
  SELECT a.vec_id AS vec_id, a.label AS la, b.vec_id AS vid2, b.label AS lb,
         list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                CAST(b.embedding AS DOUBLE[])) AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
), neg AS (
  SELECT vec_id, vid2 AS neg_id, cos AS cos_neg,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, vid2 ASC) AS rn
  FROM s WHERE la <> lb
), pos AS (
  SELECT vec_id, vid2 AS pos_id, cos AS cos_pos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos ASC, vid2 ASC) AS rn
  FROM s WHERE la = lb
)
SELECT vec_id, pos_id, neg_id, round(cos_pos - cos_neg, 6) AS margin
FROM (SELECT vec_id, neg_id, cos_neg FROM neg WHERE rn = 1) n
JOIN (SELECT vec_id, pos_id, cos_pos FROM pos WHERE rn = 1) p USING (vec_id)
""",
)


REGISTRY["stats_jensen_shannon"] = (
    text.stats_jensen_shannon,
    """
WITH tokens AS (
  SELECT source AS s,
         unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS tok
  FROM documents
), c AS (
  SELECT s, tok, CAST(COUNT(*) AS BIGINT) AS c FROM tokens GROUP BY 1, 2
), tot AS (
  SELECT s, SUM(c) AS n FROM c GROUP BY 1
), pairs AS (
  SELECT a.s AS sa, a.n AS na, b.s AS sb, b.n AS nb
  FROM tot a JOIN tot b ON a.s < b.s
), grid AS (
  SELECT sa, sb, na, nb, tok,
         SUM(CASE WHEN c.s = sa THEN c.c ELSE 0 END) AS ca,
         SUM(CASE WHEN c.s = sb THEN c.c ELSE 0 END) AS cb
  FROM c JOIN pairs ON c.s = sa OR c.s = sb
  GROUP BY 1, 2, 3, 4, 5
)
SELECT sa, sb, CAST(COUNT(*) AS BIGINT) AS n_union_tokens,
       round(0.5 * SUM(
         CASE WHEN ca > 0 THEN (CAST(ca AS DOUBLE) / na)
           * ln(2.0 * ca * nb / (CAST(ca AS DOUBLE) * nb + CAST(cb AS DOUBLE) * na))
           ELSE 0.0 END
         + CASE WHEN cb > 0 THEN (CAST(cb AS DOUBLE) / nb)
           * ln(2.0 * cb * na / (CAST(ca AS DOUBLE) * nb + CAST(cb AS DOUBLE) * na))
           ELSE 0.0 END), 6) AS jsd_nats
FROM grid GROUP BY sa, sb
""",
)


def _novelty_sql() -> str:
    w = text.NOVELTY_SHINGLE
    return f"""
WITH tok AS (
  SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
  FROM documents
), sh0 AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+{w - 1}], ' ')
                        for i in range(1, len(toks) - {w - 2})]) AS shl
  FROM tok WHERE len(toks) >= {w}
), sh AS (
  SELECT doc_id, unnest(shl) AS sh FROM sh0
), first AS (
  SELECT sh, MIN(doc_id) AS first_doc FROM sh GROUP BY 1
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST((1000000 * SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END))
         // COUNT(*) AS BIGINT) AS novelty_ppm
FROM sh JOIN first USING (sh)
GROUP BY doc_id
"""


REGISTRY["corpus_ngram_novelty"] = (text.corpus_ngram_novelty, _novelty_sql())


def _seasonal_sql() -> str:
    z2 = relational.SEASONAL_Z * relational.SEASONAL_Z
    return f"""
WITH e AS (
  SELECT event_id, event_type, CAST(hour(ts) AS BIGINT) AS hr,
         CAST(floor(value + 0.5) AS BIGINT) AS x
  FROM events
), base AS (
  SELECT event_type, hr, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS s, CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM e GROUP BY 1, 2
)
SELECT event_id, event_type, hr, x, n,
       (n * x - s) * (n * x - s) AS dev2_scaled,
       {z2} * (n * sxx - s * s) AS thr_scaled
FROM e JOIN base USING (event_type, hr)
WHERE n >= {relational.SEASONAL_MIN_N}
  AND (n * x - s) * (n * x - s) > {z2} * (n * sxx - s * s)
"""


REGISTRY["events_seasonal_baseline"] = (
    relational.events_seasonal_baseline,
    _seasonal_sql(),
)


REGISTRY["kg_scc"] = (
    relational.kg_scc,
    """
WITH RECURSIVE trans AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS dst
    FROM events)
  WHERE dst IS NOT NULL GROUP BY 1, 2
), cut AS (
  SELECT SUM(c) // COUNT(*) AS cut FROM trans
), edges AS (
  SELECT src, dst FROM trans, cut WHERE c >= cut
), nodes AS (
  SELECT DISTINCT v FROM (
    SELECT src AS v FROM trans UNION SELECT dst FROM trans)
), r(src, dst) AS (
  SELECT v, v FROM nodes
  UNION
  SELECT r.src, e.dst FROM r JOIN edges e ON r.dst = e.src
)
SELECT f.src AS v, MIN(f.dst) AS scc_id, CAST(COUNT(*) AS BIGINT) AS scc_size
FROM r f JOIN r b ON f.src = b.dst AND f.dst = b.src
GROUP BY f.src
""",
)


def _bpe_fertility_sql() -> str:
    n = text.BPE_MERGES
    return _bpe_cte() + f"""
, enc AS (
  SELECT word, cnt, CAST(len(string_split(seq, '  ')) AS INT) AS n_symbols
  FROM w{n}
), hist AS (
  SELECT n_symbols, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(cnt) AS BIGINT) AS n_occurrences
  FROM enc GROUP BY 1
)
SELECT n_symbols, n_words, n_occurrences,
       CAST((1000000 * n_occurrences) // (SELECT SUM(n_occurrences) FROM hist)
         AS BIGINT) AS occ_share_ppm
FROM hist
"""


REGISTRY["tokenizer_bpe_fertility"] = (
    text.tokenizer_bpe_fertility,
    _bpe_fertility_sql(),
)


def _soundex_block_sql() -> str:
    return f"""
WITH words AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
  WHERE regexp_matches(w, '^[a-z]+$') GROUP BY 1
), coded AS (
  SELECT w, cnt, {text._soundex_sql_expr("w")} AS code FROM words
)
SELECT code, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_spellings,
       CAST(SUM(cnt) AS BIGINT) AS n_occurrences,
       MIN(w) AS spelling_min, MAX(w) AS spelling_max,
       COUNT(DISTINCT w) >= 2 AS collides
FROM coded GROUP BY 1
"""


REGISTRY["er_soundex_blocking"] = (text.er_soundex_blocking, _soundex_block_sql())


REGISTRY["stats_runs_test"] = (
    relational.stats_runs_test,
    """
WITH e AS (
  SELECT event_type, ts, event_id, CAST(floor(value + 0.5) AS BIGINT) AS x
  FROM events
), r AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY x, event_id) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM e
), med AS (
  SELECT event_type, x AS med FROM r WHERE rn = (n + 1) // 2
), s AS (
  SELECT e.event_type, ts, event_id,
         CASE WHEN x > med THEN 1 ELSE 0 END AS sgn
  FROM e JOIN med USING (event_type) WHERE x <> med
), lg AS (
  SELECT event_type, sgn,
         lag(sgn) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS prev
  FROM s
), agg AS (
  SELECT event_type,
         CAST(SUM(sgn) AS BIGINT) AS n1, CAST(SUM(1 - sgn) AS BIGINT) AS n2,
         1 + CAST(SUM(CASE WHEN prev IS NOT NULL AND sgn <> prev THEN 1 ELSE 0 END)
                  AS BIGINT) AS runs
  FROM lg GROUP BY 1
)
SELECT event_type, n1, n2, runs,
       (1000000 * ((n1 + n2) + 2 * n1 * n2)) // (n1 + n2) AS e_runs_ppm,
       CASE WHEN runs * (n1 + n2) < (n1 + n2) + 2 * n1 * n2 THEN 'clustered'
            WHEN runs * (n1 + n2) > (n1 + n2) + 2 * n1 * n2 THEN 'alternating'
            ELSE 'exact' END AS verdict
FROM agg
""",
)


def _cramers_sql() -> str:
    b = relational.MI_BUCKET
    cell = (
        "CAST((n * nxy - nx * ny) AS DOUBLE) * (n * nxy - nx * ny)"
        " / (CAST(n AS DOUBLE) * nx * ny)"
    )
    return f"""
WITH e AS (
  SELECT event_type AS x, CAST(floor(value + 0.5) AS BIGINT) // {b} AS y
  FROM events
), nxy AS (
  SELECT x, y, CAST(COUNT(*) AS BIGINT) AS nxy FROM e GROUP BY 1, 2
), nx AS (
  SELECT x, SUM(nxy) AS nx FROM nxy GROUP BY 1
), ny AS (
  SELECT y, SUM(nxy) AS ny FROM nxy GROUP BY 1
), dims AS (
  SELECT CAST(SUM(nxy) AS BIGINT) AS n, CAST(COUNT(DISTINCT x) AS BIGINT) AS r,
         CAST(COUNT(DISTINCT y) AS BIGINT) AS c
  FROM nxy
)
, dense AS (
  SELECT nx.x, ny.y, nx.nx, ny.ny, COALESCE(nxy.nxy, 0) AS nxy
  FROM nx CROSS JOIN ny LEFT JOIN nxy ON nxy.x = nx.x AND nxy.y = ny.y
)
SELECT MAX(n) AS n, MAX(r) AS r, MAX(c) AS c,
       round(SUM({cell}), 6) AS chi2,
       round(sqrt(SUM({cell})
             / (CAST(MAX(n) AS DOUBLE) * least(MAX(r) - 1, MAX(c) - 1))), 6)
         AS cramers_v
FROM dense CROSS JOIN dims
"""


REGISTRY["stats_cramers_v"] = (relational.stats_cramers_v, _cramers_sql())


REGISTRY["embedding_centroid_drift"] = (
    similarity.embedding_centroid_drift,
    """
WITH med AS (
  SELECT label, vec_id AS med_id FROM (
    SELECT label, vec_id,
           row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT) AS n
    FROM embeddings) WHERE rn = (n + 1) // 2
), halved AS (
  SELECT e.label, CASE WHEN e.vec_id <= med_id THEN 0 ELSE 1 END AS half,
         e.embedding
  FROM embeddings e JOIN med USING (label)
), cells AS (
  SELECT label, half, dim, SUM(v) / COUNT(*) AS m FROM (
    SELECT label, half, generate_subscripts(embedding, 1) AS dim,
           CAST(unnest(embedding) AS DOUBLE) AS v
    FROM halved)
  GROUP BY 1, 2, 3
), paired AS (
  SELECT label, dim,
         SUM(CASE WHEN half = 0 THEN m ELSE 0 END) AS m0,
         SUM(CASE WHEN half = 1 THEN m ELSE 0 END) AS m1,
         SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS h0,
         SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS h1
  FROM cells GROUP BY 1, 2
), lab AS (
  SELECT label, MIN(h0 + h1) AS hmin,
         SUM(m0 * m1) AS s01, SUM(m0 * m0) AS s00, SUM(m1 * m1) AS s11
  FROM paired GROUP BY 1
)
SELECT label, round(s01 / (sqrt(s00) * sqrt(s11)), 6) AS drift_cos
FROM lab WHERE hmin = 2
""",
)


REGISTRY["events_burst_hysteresis"] = (
    relational.events_burst_hysteresis,
    """
WITH e AS (
  SELECT event_type,
         date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
                   date_trunc('hour', ts)) AS hour_id
  FROM events
), c AS (
  SELECT event_type, hour_id, CAST(COUNT(*) AS BIGINT) AS c
  FROM e GROUP BY 1, 2
), tot AS (
  SELECT event_type, SUM(c) AS total, CAST(COUNT(*) AS BIGINT) AS n_hours
  FROM c GROUP BY 1
), flagged AS (
  SELECT c.event_type, hour_id, c,
         c * n_hours >= 2 * total AS is_hi
  FROM c JOIN tot USING (event_type)
  WHERE c * n_hours >= total
), isl AS (
  SELECT event_type, hour_id, c, is_hi,
         hour_id - row_number() OVER (PARTITION BY event_type
                                      ORDER BY hour_id) AS isl
  FROM flagged
), fh AS (
  SELECT event_type, hour_id, c,
         MIN(CASE WHEN is_hi THEN hour_id END)
           OVER (PARTITION BY event_type, isl) AS first_hi
  FROM isl
)
SELECT event_type,
       MIN(hour_id) AS burst_start,
       MAX(hour_id) AS burst_end,
       CAST(COUNT(*) AS BIGINT) AS n_hours_burst,
       MAX(c) AS peak_per_hour,
       CAST(SUM(c) AS BIGINT) AS n_events_burst
FROM fh WHERE hour_id >= first_hi
GROUP BY event_type, first_hi
""",
)


REGISTRY["kg_directed_triads"] = (
    relational.kg_directed_triads,
    """
WITH trans AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS dst
    FROM events)
  WHERE dst IS NOT NULL GROUP BY 1, 2
), cut AS (
  SELECT SUM(c) // COUNT(*) AS cut FROM trans
), edges AS (
  SELECT src, dst FROM trans, cut WHERE c >= cut AND src <> dst
), two_path AS (
  SELECT ab.src AS a, ab.dst AS b, bc.dst AS c
  FROM edges ab JOIN edges bc ON ab.dst = bc.src
  WHERE ab.src <> bc.dst
), nt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_transitive
  FROM two_path t JOIN edges e ON e.src = t.a AND e.dst = t.c
), nc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cyclic
  FROM two_path t JOIN edges e ON e.src = t.c AND e.dst = t.a
  WHERE t.a < t.b AND t.a < t.c
)
SELECT n_transitive, n_cyclic FROM nt CROSS JOIN nc
""",
)


REGISTRY["stats_theil_sen"] = (
    relational.stats_theil_sen,
    """
WITH e AS (
  SELECT event_type, CAST(hour(ts) AS BIGINT) AS x,
         CAST(floor(value + 0.5) AS BIGINT) AS v
  FROM events
), prof AS (
  SELECT event_type, x, CAST((1000000 * SUM(v)) // COUNT(*) AS BIGINT) AS y
  FROM e GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type, b.y - a.y AS num, b.x - a.x AS den
  FROM prof a JOIN prof b
    ON a.event_type = b.event_type AND a.x < b.x
), ranked AS (
  SELECT event_type, num, den,
         row_number() OVER (PARTITION BY event_type
           ORDER BY CAST(num AS DOUBLE) / den, num, den) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS cnt
  FROM pairs
)
SELECT event_type, num AS slope_num_micro, den AS slope_den_hours,
       round(CAST(num AS DOUBLE) / den, 6) AS slope_micro_per_hour
FROM ranked WHERE rn = (cnt + 1) // 2
""",
)


def _eigvec_sql() -> str:
    s = similarity.GRAM_SCALE
    chain = """
, u{k} AS (
  SELECT i, SUM(g * v) AS u FROM sym JOIN v{p} ON sym.j = v{p}.j GROUP BY i
), n{k} AS (
  SELECT sqrt(SUM(u * u)) AS nrm FROM u{k}
), v{k} AS (
  SELECT i AS j, u / nrm AS v FROM u{k}, n{k}
)"""
    iters = "".join(
        chain.format(k=k, p=k - 1 if k > 1 else 0)
        for k in range(1, similarity.POWER_ITERS + 1)
    )
    last = similarity.POWER_ITERS
    return f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {s} + 0.5) AS BIGINT) AS q
  FROM embeddings
), gram AS (
  SELECT a.d AS i, b.d AS j, SUM(a.q * b.q) AS gram
  FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.d <= b.d
  GROUP BY 1, 2
), nn AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_rows FROM embeddings
), g AS (
  SELECT i, j, CAST(gram AS DOUBLE) / (n_rows * {s}.0 * {s}.0) AS g
  FROM gram, nn
), sym AS (
  SELECT i, j, g FROM g
  UNION ALL
  SELECT j AS i, i AS j, g FROM g WHERE i <> j
), dd AS (
  SELECT CAST(len(embedding) AS BIGINT) AS d FROM embeddings LIMIT 1
), v0 AS (
  SELECT unnest(range(0, d)) AS j, 1.0 / sqrt(CAST(d AS DOUBLE)) AS v FROM dd
){iters}
SELECT v{last}.j AS dim, round(v{last}.v, 6) AS component,
       round(n{last}.nrm, 6) AS lambda_est
FROM v{last}, n{last}
"""


REGISTRY["embedding_top_eigvec"] = (
    similarity.embedding_top_eigvec,
    _eigvec_sql(),
)


# -- evaluation-metric family (operators/evals.py) --------------------------

def _ranking_metrics_sql() -> str:
    disc_rows = ", ".join(
        f"({r + 1}, {w})" for r, w in enumerate(evals.DISCOUNT_MICRO)
    )
    cum_rows = ", ".join(f"({m}, {c})" for m, c in enumerate(evals.CUM_DISCOUNT))
    k = evals.RANK_K
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
  FROM embeddings WHERE vec_id % {evals.RANK_QMOD} = 0
), topk AS (
  SELECT query_id, qlabel, neighbor_id, rank FROM (
    SELECT q.query_id, q.qlabel, e.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, e.embedding) DESC,
                      e.vec_id) AS rank
    FROM q, embeddings e WHERE e.vec_id <> q.query_id)
  WHERE rank <= {k}
), disc(rank, wgt) AS (VALUES {disc_rows}),
scored AS (
  SELECT t.query_id, t.qlabel, t.rank, disc.wgt,
         CASE WHEN e.label = t.qlabel THEN 1 ELSE 0 END AS rel
  FROM topk t JOIN embeddings e ON e.vec_id = t.neighbor_id
  JOIN disc ON disc.rank = t.rank
), perq AS (
  SELECT query_id, qlabel, CAST(SUM(rel) AS BIGINT) AS n_rel,
         MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel_rank,
         CAST(SUM(rel * wgt) AS BIGINT) AS dcg_micro
  FROM scored GROUP BY 1, 2
), labn AS (
  SELECT label AS qlabel, CAST(COUNT(*) - 1 AS BIGINT) AS r_total
  FROM embeddings GROUP BY 1
), cum(m, cw) AS (VALUES {cum_rows})
SELECT query_id, n_rel,
       (1000000 * n_rel) // {k} AS p_at_k_micro,
       COALESCE(1000000 // first_rel_rank, 0) AS mrr_micro,
       dcg_micro, cw AS idcg_micro,
       CASE WHEN cw > 0 THEN (1000000 * dcg_micro) // cw ELSE 0 END AS ndcg_micro
FROM perq JOIN labn USING (qlabel)
JOIN cum ON cum.m = LEAST(r_total, {k})
"""


REGISTRY["eval_ranking_metrics"] = (
    evals.eval_ranking_metrics,
    _ranking_metrics_sql(),
)


REGISTRY["eval_pass_at_k"] = (
    evals.eval_pass_at_k,
    f"""
WITH attempts AS (
  SELECT doc_id, source, t.a,
         CASE WHEN ('0x' || substr(md5(doc_id || ':' || t.a), 1, 6))::BIGINT
                   % 100 < {evals.PASS_THRESH} THEN 1 ELSE 0 END AS pass
  FROM documents CROSS JOIN (SELECT unnest(range(0, {evals.PASS_N})) AS a) t
), per_doc AS (
  SELECT doc_id, source, SUM(pass) AS c FROM attempts GROUP BY 1, 2
), est AS (
  SELECT source, c,
         (1000000 * c) // 10 AS pass1_micro,
         (1000000 * (252 - (CASE WHEN c > 5 THEN 0 ELSE
           ((10-c)*(9-c)*(8-c)*(7-c)*(6-c)) // 120 END))) // 252 AS pass5_micro
  FROM per_doc
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tasks,
       CAST(SUM(c) AS BIGINT) AS total_passes,
       CAST(SUM(pass1_micro) // COUNT(*) AS BIGINT) AS mean_pass1_micro,
       CAST(SUM(pass5_micro) // COUNT(*) AS BIGINT) AS mean_pass5_micro
FROM est GROUP BY source
""",
)


REGISTRY["stats_calibration_bins"] = (
    evals.stats_calibration_bins,
    """
WITH scored AS (
  SELECT event_id,
         ('0x' || substr(md5('p:' || event_id), 1, 6))::BIGINT % 1000 AS p_milli
  FROM events
), sy AS (
  SELECT p_milli,
         CASE WHEN ('0x' || substr(md5('y:' || event_id), 1, 6))::BIGINT % 1000
                   < p_milli THEN 1 ELSE 0 END AS y
  FROM scored
), agg AS (
  SELECT p_milli // 100 AS bin, CAST(COUNT(*) AS BIGINT) AS n,
         CAST((1000 * SUM(p_milli)) // COUNT(*) AS BIGINT) AS mean_pred_micro,
         CAST((1000000 * SUM(y)) // COUNT(*) AS BIGINT) AS emp_rate_micro,
         CAST(SUM((p_milli - 1000 * y) * (p_milli - 1000 * y)) // COUNT(*)
           AS BIGINT) AS brier_micro
  FROM sy GROUP BY 1
)
SELECT bin, n, mean_pred_micro, emp_rate_micro, brier_micro,
       abs(mean_pred_micro - emp_rate_micro) AS abs_gap_micro
FROM agg
""",
)


def _bradley_terry_sql() -> str:
    ts = evals.BT_TERM_SCALE
    sc = evals.BT_SCALE
    it = """
, d{k} AS (
  SELECT u.i, SUM((u.n * {ts}) // (pi.p + pj.p)) AS denom
  FROM und u JOIN p{p} pi ON pi.i = u.i JOIN p{p} pj ON pj.i = u.j
  WHERE pi.p + pj.p > 0
  GROUP BY u.i
), r{k} AS (
  SELECT it.i, it.wins, it.battles,
         CASE WHEN d.denom > 0 THEN (it.wins * {ts}) // d.denom
              ELSE pp.p END AS praw
  FROM items it LEFT JOIN d{k} d ON d.i = it.i
  JOIN p{p} pp ON pp.i = it.i
), s{k} AS (SELECT SUM(praw) AS s FROM r{k})
, p{k} AS (
  SELECT i, (praw * t * {sc}) // s AS p FROM r{k}, s{k}, tot
)"""
    iters = "".join(
        it.format(k=k, p=k - 1 if k > 1 else 0, ts=ts, sc=sc)
        for k in range(1, evals.BT_ITERS + 1)
    )
    last = evals.BT_ITERS
    return f"""
WITH seq AS (
  SELECT event_type AS a, value AS va,
         lead(event_type) OVER w AS b, lead(value) OVER w AS vb
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), battles AS (
  SELECT CASE WHEN va > vb THEN a ELSE b END AS winner,
         CASE WHEN va > vb THEN b ELSE a END AS loser
  FROM seq WHERE b IS NOT NULL AND a <> b AND va <> vb
), dir AS (
  SELECT winner, loser, CAST(COUNT(*) AS BIGINT) AS n
  FROM battles GROUP BY 1, 2
), und AS (
  SELECT i, j, SUM(n) AS n FROM (
    SELECT winner AS i, loser AS j, n FROM dir
    UNION ALL SELECT loser AS i, winner AS j, n FROM dir)
  GROUP BY 1, 2
), items AS (
  SELECT i, SUM(CASE WHEN iswin THEN n ELSE 0 END) AS wins,
         SUM(n) AS battles FROM (
    SELECT winner AS i, n, TRUE AS iswin FROM dir
    UNION ALL SELECT loser AS i, n, FALSE AS iswin FROM dir)
  GROUP BY 1
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM items)
, p0 AS (SELECT i, CAST({sc} AS BIGINT) AS p FROM items)
{iters}
SELECT r.i AS event_type, CAST(r.wins AS BIGINT) AS wins,
       CAST(r.battles AS BIGINT) AS battles,
       CAST(p{last}.p AS BIGINT) AS bt_score_micro,
       ROW_NUMBER() OVER (ORDER BY p{last}.p DESC, r.i) AS bt_rank
FROM r{last} r JOIN p{last} ON p{last}.i = r.i
"""


REGISTRY["eval_bradley_terry"] = (
    evals.eval_bradley_terry,
    _bradley_terry_sql(),
)


# -- survival / attribution / recsys / rank-correlation ---------------------

REGISTRY["stats_kaplan_meier"] = (
    relational.stats_kaplan_meier,
    f"""
WITH RECURSIVE span AS (
  SELECT max(epoch_us(ts) // 1000000)
         - (max(epoch_us(ts) // 1000000) - min(epoch_us(ts) // 1000000)) // 5
           AS horizon
  FROM events
), sess AS (
  SELECT user_id, epoch_us(ts) // 1000000 AS s,
         SUM(CASE WHEN prev_s IS NULL
                       OR epoch_us(ts) // 1000000 - prev_s > {relational.KM_GAP_S}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM (
    SELECT user_id, ts, event_id,
           lag(epoch_us(ts) // 1000000)
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_s
    FROM events)
), per_user AS (
  SELECT (max(s) - min(s)) // 60 AS dur_min,
         CASE WHEN max(s) < horizon THEN 1 ELSE 0 END AS event
  FROM sess, span GROUP BY user_id, sess_id, horizon
), counts AS (
  SELECT dur_min, CAST(COUNT(*) AS BIGINT) AS n_at, SUM(event) AS d
  FROM per_user GROUP BY 1
), risk AS (
  SELECT dur_min, d,
         SUM(n_at) OVER (ORDER BY dur_min DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_risk
  FROM counts
), deaths AS (
  SELECT dur_min, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d,
         row_number() OVER (ORDER BY dur_min) AS rn
  FROM risk WHERE d > 0
), km AS (
  SELECT rn, dur_min, n_risk, d,
         ({relational.KM_SCALE} * (n_risk - d)) // n_risk AS s
  FROM deaths WHERE rn = 1
  UNION ALL
  SELECT d2.rn, d2.dur_min, d2.n_risk, d2.d,
         (km.s * (d2.n_risk - d2.d)) // d2.n_risk
  FROM km JOIN deaths d2 ON d2.rn = km.rn + 1
)
SELECT dur_min AS t_minutes, n_risk, d, s AS surv_micro FROM km
""",
)


REGISTRY["attribution_position_weighted"] = (
    relational.attribution_position_weighted,
    """
WITH tagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_p,
         COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS p_before
  FROM events
), touches AS (
  SELECT user_id, ts, event_id, event_type, p_before AS path_id
  FROM tagged WHERE is_p = 0
), convs AS (
  SELECT user_id, p_before AS path_id FROM tagged WHERE is_p = 1
), pos AS (
  SELECT t.event_type,
         row_number() OVER (PARTITION BY t.user_id, t.path_id
                            ORDER BY t.ts, t.event_id) AS pos,
         COUNT(*) OVER (PARTITION BY t.user_id, t.path_id) AS m
  FROM touches t
  JOIN convs c ON c.user_id = t.user_id AND c.path_id = t.path_id
), cr AS (
  SELECT event_type, pos, m,
         CASE WHEN m = 1 THEN 1000000
              WHEN m = 2 THEN 500000
              WHEN pos = 1 THEN 400000
              WHEN pos = m THEN 600000 - (m - 2) * (200000 // (m - 2))
              ELSE 200000 // (m - 2) END AS credit_micro
  FROM pos
)
SELECT event_type AS channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(CASE WHEN pos = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
       CAST(SUM(CASE WHEN pos = m THEN 1 ELSE 0 END) AS BIGINT) AS n_last,
       CAST(SUM(credit_micro) AS BIGINT) AS credit_micro_total
FROM cr GROUP BY 1
UNION ALL
SELECT '(direct)' AS channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(COUNT(*) AS BIGINT) AS n_first,
       CAST(COUNT(*) AS BIGINT) AS n_last,
       CAST(COUNT(*) AS BIGINT) * 1000000 AS credit_micro_total
FROM convs c
WHERE NOT EXISTS (
  SELECT 1 FROM touches t
  WHERE t.user_id = c.user_id AND t.path_id = c.path_id)
HAVING COUNT(*) > 0
""",
)


REGISTRY["recsys_item_cosine_topk"] = (
    relational.recsys_item_cosine_topk,
    f"""
WITH inc AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS item FROM lineitem),
sup AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item FROM inc GROUP BY 1),
pairs AS (
  SELECT a.item AS ia, b.item AS ib, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM inc a JOIN inc b ON a.o = b.o AND a.item < b.item
  GROUP BY 1, 2
), sym AS (
  SELECT ia, ib, n_common FROM pairs
  UNION ALL SELECT ib AS ia, ia AS ib, n_common FROM pairs
), scored AS (
  SELECT sym.ia, sym.ib, n_common,
         CAST(floor((1000000 * n_common)
                    / sqrt(CAST(sa.n_item * sb.n_item AS DOUBLE)) + 0.5)
              AS BIGINT) AS cos_micro
  FROM sym JOIN sup sa ON sa.item = sym.ia JOIN sup sb ON sb.item = sym.ib
)
SELECT ia AS item_id, ib AS neighbor_item_id, rank, cos_micro, n_common FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY ia
                               ORDER BY cos_micro DESC, ib) AS rank
  FROM scored)
WHERE rank <= {relational.RECSYS_TOP_K}
""",
)


REGISTRY["stats_spearman_rank"] = (
    relational.stats_spearman_rank,
    """
WITH e AS (
  SELECT event_type, CAST(hour(ts) AS BIGINT) AS x,
         CAST(floor(value + 0.5) AS BIGINT) AS v
  FROM events
), prof AS (
  SELECT event_type, x, (1000000 * SUM(v)) // COUNT(*) AS y
  FROM e GROUP BY 1, 2
), ranked AS (
  SELECT event_type,
         2 * rank() OVER (PARTITION BY event_type ORDER BY x)
           + COUNT(*) OVER (PARTITION BY event_type, x) - 1 AS a,
         2 * rank() OVER (PARTITION BY event_type ORDER BY y)
           + COUNT(*) OVER (PARTITION BY event_type, y) - 1 AS b
  FROM prof
), agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(a * b) AS sab, SUM(a) AS sa, SUM(b) AS sb,
         SUM(a * a) AS saa, SUM(b * b) AS sbb
  FROM ranked GROUP BY 1
)
SELECT event_type, n AS n_points,
       round(CAST(n * sab - sa * sb AS DOUBLE)
             / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                    * CAST(n * sbb - sb * sb AS DOUBLE)), 6) AS spearman_rho
FROM agg
""",
)


# -- readability / compaction / JL projection / ANN recall ------------------

REGISTRY["text_readability"] = (
    text.text_readability,
    """
WITH scored AS (
  SELECT source,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS w,
         greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
           AS s,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS syl
  FROM documents
), fre AS (
  SELECT source, w, s, syl,
         206835 - (1015 * w) // s - (84600 * syl) // w AS fre_milli
  FROM scored WHERE w > 0
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(fre_milli) // COUNT(*) AS BIGINT) AS mean_fre_milli,
       MIN(fre_milli) AS min_fre_milli,
       MAX(fre_milli) AS max_fre_milli,
       CAST((1000 * SUM(syl)) // SUM(w) AS BIGINT) AS syll_per_kword
FROM fre GROUP BY source
""",
)


REGISTRY["layout_compaction_bins"] = (
    relational.layout_compaction_bins,
    f"""
WITH tot AS (
  SELECT CAST(SUM(n_chars) AS BIGINT) // {relational.COMPACT_BINS} + 1 AS target
  FROM documents
), binned AS (
  SELECT doc_id, n_chars, target,
         (CAST(SUM(n_chars) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           - n_chars)
           // target AS bin
  FROM documents, tot
)
SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(n_chars) AS BIGINT) AS bytes,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id,
       CAST((1000000 * SUM(n_chars)) // MAX(target) AS BIGINT) AS fill_ppm
FROM binned GROUP BY bin
""",
)


def _random_projection_sql() -> str:
    s = similarity.GRAM_SCALE
    k = similarity.RP_K
    p_cols = ",\n         ".join(
        f"CAST(SUM(q * (CASE WHEN"
        f" ('0x' || substr(md5('rp:' || d || ':' || {j}), 1, 1))"
        f"::BIGINT % 2 = 0 THEN 1 ELSE -1 END)) AS BIGINT) AS p{j}"
        for j in range(k)
    )
    proj_sq = " + ".join(f"p{j} * p{j}" for j in range(k))
    return f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {s} + 0.5) AS BIGINT)
           AS q
  FROM embeddings
), proj AS (
  SELECT vec_id,
         {p_cols},
         CAST(SUM(q * q) AS BIGINT) AS orig_sq
  FROM comp GROUP BY vec_id
)
SELECT *, {proj_sq} AS proj_sq,
       CAST(round(CAST({proj_sq} AS DOUBLE)
                  / CAST({k} * orig_sq AS DOUBLE) * 1000000, 0) AS BIGINT)
         AS ratio_ppm
FROM proj
"""


REGISTRY["embedding_random_projection"] = (
    similarity.embedding_random_projection,
    _random_projection_sql(),
)


def _ann_recall_sql() -> str:
    """Composes the exact tier's and the LSH tier's FULL oracle SQL and
    measures the latter's recall against the former — end-to-end
    verification through both algorithms (the RRF composition idiom)."""
    s_exact = REGISTRY["ann_cosine_topk"][1]
    s_lsh = REGISTRY["ann_lsh_bucketed"][1]
    return f"""
WITH exact AS ({s_exact}
), lsh AS ({s_lsh}
), nbrs AS (
  SELECT id_a AS query_id, id_b AS neighbor_id FROM lsh
  UNION
  SELECT id_b AS query_id, id_a AS neighbor_id FROM lsh
)
SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN n.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       CAST((1000000 * SUM(CASE WHEN n.neighbor_id IS NOT NULL THEN 1 ELSE 0 END))
         // COUNT(*) AS BIGINT) AS recall_micro
FROM exact e
LEFT JOIN nbrs n
  ON n.query_id = e.query_id AND n.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


REGISTRY["eval_ann_recall_at_k"] = (
    evals.eval_ann_recall_at_k,
    _ann_recall_sql(),
)


# -- agreement / forecasting / CEP / robust means ---------------------------

REGISTRY["stats_fleiss_kappa"] = (
    relational.stats_fleiss_kappa,
    f"""
WITH rated AS (
  SELECT doc_id,
         CASE WHEN ('0x' || substr(md5('fk:' || t.r || ':' || doc_id), 1, 6))
                   ::BIGINT % {relational.FLEISS_NOISE_MOD} = 0
              THEN ('0x' || substr(md5('fk:' || t.r || ':' || doc_id), 7, 6))
                   ::BIGINT % {relational.FLEISS_CATS}
              ELSE doc_id % {relational.FLEISS_CATS} END AS cat
  FROM documents
  CROSS JOIN (SELECT unnest(range(0, {relational.FLEISS_RATERS})) AS r) t
), cell AS (
  SELECT doc_id, cat, CAST(COUNT(*) AS BIGINT) AS nij
  FROM rated GROUP BY 1, 2
), a_n AS (
  SELECT CAST(SUM(sq) AS BIGINT) AS a, CAST(COUNT(*) AS BIGINT) AS n_items FROM (
    SELECT doc_id, SUM(nij * nij) AS sq FROM cell GROUP BY 1)
), b_agg AS (
  SELECT CAST(SUM(cj * cj) AS BIGINT) AS b FROM (
    SELECT cat, SUM(nij) AS cj FROM cell GROUP BY 1)
)
SELECT n_items, CAST({relational.FLEISS_RATERS} AS BIGINT) AS n_raters,
       (1000000 * (a - 3 * n_items)) // (6 * n_items) AS pbar_ppm,
       (1000000 * b) // (9 * n_items * n_items) AS pe_ppm,
       round(CAST(3 * n_items * (a - 3 * n_items) - 2 * b AS DOUBLE)
             / CAST(18 * n_items * n_items - 2 * b AS DOUBLE), 6)
         AS fleiss_kappa
FROM a_n CROSS JOIN b_agg
""",
)


def _holt_sql() -> str:
    am, bm = relational.HOLT_ALPHA_M, relational.HOLT_BETA_M
    step_l = f"({am} * nxt.ym + {1000 - am} * (hw.l + hw.b)) // 1000"
    return f"""
WITH RECURSIVE c AS (
  SELECT event_type,
         date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
                   date_trunc('hour', ts)) AS h,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, MIN(h) AS mn, MAX(h) AS mx FROM c GROUP BY 1
), gall AS (SELECT MIN(h) AS gmn, MAX(h) AS gmx FROM c),
gr AS (
  SELECT gmn AS h, gmx FROM gall
  UNION ALL
  SELECT h + 1, gmx FROM gr WHERE h < gmx
), grid AS (
  SELECT b.event_type, gr.h, b.mn, b.mx
  FROM bounds b, gr
  WHERE gr.h BETWEEN b.mn AND b.mx
), series AS (
  SELECT grid.event_type, grid.h,
         1000 * COALESCE(c.y, 0) AS ym,
         grid.h - grid.mn + 1 AS rn,
         grid.mx - grid.mn + 1 AS t_n
  FROM grid LEFT JOIN c ON c.event_type = grid.event_type AND c.h = grid.h
), hw AS (
  SELECT s1.event_type, CAST(1 AS BIGINT) AS rn,
         s1.ym AS l, s2.ym - s1.ym AS b
  FROM series s1 JOIN series s2
    ON s2.event_type = s1.event_type AND s2.rn = 2
  WHERE s1.rn = 1
  UNION ALL
  SELECT nxt.event_type, nxt.rn,
         {step_l} AS l,
         ({bm} * ({step_l} - hw.l) + {1000 - bm} * hw.b) // 1000 AS b
  FROM hw JOIN series nxt
    ON nxt.event_type = hw.event_type AND nxt.rn = hw.rn + 1
)
SELECT hw.event_type, t.t_n AS n_hours, l AS level_milli, b AS trend_milli,
       l + b AS forecast1_milli, l + 2 * b AS forecast2_milli,
       l + 3 * b AS forecast3_milli
FROM hw JOIN (SELECT DISTINCT event_type, t_n FROM series) t
  USING (event_type)
WHERE hw.rn = t.t_n
"""


REGISTRY["events_holt_linear"] = (relational.events_holt_linear, _holt_sql())


REGISTRY["events_regex_patterns"] = (
    relational.events_regex_patterns,
    """
WITH j AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS journey
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(length(journey) AS BIGINT) AS journey_len,
       CAST(len(regexp_extract_all(journey, 'ee+')) AS BIGINT)
         AS n_error_storms,
       CAST(len(regexp_extract_all(journey, 'e+p')) AS BIGINT)
         AS n_recovered_purchases,
       CASE WHEN journey LIKE 's%' THEN 1 ELSE 0 END AS signup_first
FROM j
""",
)


REGISTRY["stats_winsorized_mean"] = (
    relational.stats_winsorized_mean,
    f"""
WITH e AS (
  SELECT event_type, event_id,
         CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_milli
  FROM events
), ranked AS (
  SELECT event_type, v_milli,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY v_milli, event_id) AS rn,
         CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM e
), kd AS (
  SELECT *, n // {relational.WINSOR_TRIM_DECI} AS k FROM ranked
), agg AS (
  SELECT event_type, MAX(n) AS n_rows, MAX(k) AS n_trimmed_each,
         CAST(SUM(CASE WHEN rn > k AND rn <= n - k THEN v_milli END) AS BIGINT)
           AS sum_mid,
         CAST(SUM(CASE WHEN rn > k AND rn <= n - k THEN 1 ELSE 0 END) AS BIGINT)
           AS cnt_mid,
         MAX(CASE WHEN rn = k + 1 THEN v_milli END) AS lo_clamp_milli,
         MAX(CASE WHEN rn = n - k THEN v_milli END) AS hi_clamp_milli
  FROM kd GROUP BY 1
)
SELECT event_type, n_rows, n_trimmed_each, lo_clamp_milli, hi_clamp_milli,
       (1000 * sum_mid) // cnt_mid AS trimmed_mean_micro,
       (1000 * (sum_mid + n_trimmed_each * (lo_clamp_milli + hi_clamp_milli)))
         // n_rows AS winsor_mean_micro
FROM agg
""",
)


# -- PPR / entropy rate / vocab coverage / freshness SLA --------------------

def _ppr_sql() -> str:
    """Unrolled personalized-PageRank oracle: kg_pagerank's graph and
    iteration protocol with the teleport replaced by the single-seed
    restart CASE (constants interpolated from graph.py)."""
    vocab = ",".join(f"'{t}'" for t in graph.PR_VOCAB)
    num = repr(1.0 - graph.PR_DAMPING)
    d = repr(graph.PR_DAMPING)
    seed = graph.PPR_SEED
    iters = "".join(
        f""", r{k} AS (
  SELECT nd.node,
         (CASE WHEN nd.node = '{seed}' THEN {num} ELSE 0.0 END)
           + {d} * coalesce(c.c, 0.0) AS pr
  FROM nodes nd LEFT JOIN (
    SELECT e.dst AS node, sum(rp.pr * e.w / o.wout) AS c
    FROM edges e JOIN outw o ON e.src = o.src JOIN r{k - 1} rp ON rp.node = e.src
    GROUP BY e.dst) c ON c.node = nd.node
)"""
        for k in range(1, graph.PR_ITERS + 1)
    )
    return f"""
WITH m AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token FROM documents)
  WHERE token IN ({vocab})
), half AS (
  SELECT a.token AS src, b.token AS dst, COUNT(*)::DOUBLE AS w
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY a.token, b.token
), edges AS (
  SELECT src, dst, w FROM half UNION ALL SELECT dst, src, w FROM half
), outw AS (
  SELECT src, sum(w) AS wout FROM edges GROUP BY src
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), r0 AS (
  SELECT node, CASE WHEN node = '{seed}' THEN 1.0 ELSE 0.0 END AS pr
  FROM nodes
){iters}
SELECT node AS mention, round(pr, 6) AS ppr FROM r{graph.PR_ITERS}
"""


REGISTRY["kg_personalized_pagerank"] = (
    graph.kg_personalized_pagerank,
    _ppr_sql(),
)


REGISTRY["stats_entropy_rate"] = (
    relational.stats_entropy_rate,
    """
WITH trans AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS nij FROM (
    SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS dst
    FROM events)
  WHERE dst IS NOT NULL GROUP BY 1, 2
), ni AS (
  SELECT src, CAST(SUM(nij) AS BIGINT) AS n_out, CAST(COUNT(*) AS BIGINT) AS n_dst
  FROM trans GROUP BY 1
), tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS n_total FROM trans)
SELECT src AS event_type, n_out, n_dst,
       (1000000 * n_out) // n_total AS pi_ppm,
       round(SUM((CAST(nij AS DOUBLE) / n_out)
                 * ln(CAST(n_out AS DOUBLE) / nij)), 6) AS h_state_nats
FROM trans JOIN ni USING (src), tot
GROUP BY src, n_out, n_dst, n_total
""",
)


REGISTRY["dq_freshness_sla"] = (
    relational.dq_freshness_sla,
    """
WITH hours AS (
  SELECT event_type, epoch_us(ts) // 1000000 // 3600 AS h,
         epoch_us(ts) // 1000000 AS s
  FROM events
), gw AS (
  SELECT MIN(h) AS gmn, MAX(h) AS gmx, MAX(s) AS gmax_s FROM hours
), per_hour AS (
  SELECT event_type, h, MAX(s) AS last_s FROM hours GROUP BY 1, 2
), gaps AS (
  SELECT event_type, h, last_s,
         lag(h) OVER (PARTITION BY event_type ORDER BY h) AS prev_h
  FROM per_hour
), agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS observed_hours,
         MAX(last_s) AS last_s,
         MAX(CASE WHEN prev_h IS NOT NULL THEN h - prev_h - 1 END)
           AS max_gap_hours
  FROM gaps GROUP BY 1
)
SELECT event_type, observed_hours,
       gmx - gmn + 1 AS expected_hours,
       gmx - gmn + 1 - observed_hours AS missing_hours,
       (1000000 * observed_hours) // (gmx - gmn + 1) AS coverage_ppm,
       COALESCE(max_gap_hours, 0) AS max_gap_hours,
       (gmax_s - last_s) // 60 AS staleness_minutes
FROM agg, gw
""",
)


REGISTRY["tokenizer_vocab_coverage"] = (
    text.tokenizer_vocab_coverage,
    f"""
WITH words AS (
  SELECT lang, unnest(string_split(lower(text), ' ')) AS w FROM documents
), gf AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM words GROUP BY 1
), nv AS (
  SELECT CAST(COUNT(*) AS BIGINT) // {text.VOCAB_DIV} + 1 AS v_size FROM gf
), vocab AS (
  SELECT w FROM (
    SELECT w, ROW_NUMBER() OVER (ORDER BY freq DESC, w) AS rk FROM gf), nv
  WHERE rk <= v_size
), marked AS (
  SELECT words.lang, words.w,
         CASE WHEN v.w IS NOT NULL THEN 1 ELSE 0 END AS in_vocab
  FROM words LEFT JOIN vocab v ON v.w = words.w
), tok AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(in_vocab) AS BIGINT) AS n_covered
  FROM marked GROUP BY 1
), typ AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(in_vocab) AS BIGINT) AS n_types_covered
  FROM (SELECT DISTINCT lang, w, in_vocab FROM marked) GROUP BY 1
)
SELECT lang, n_tokens, n_covered,
       (1000000 * n_covered) // n_tokens AS token_coverage_ppm,
       n_types, n_types_covered,
       (1000000 * n_types_covered) // n_types AS type_coverage_ppm
FROM tok JOIN typ USING (lang)
""",
)


# -- filter cascade / concentration / TWAP / time-to-convert ----------------

def _gopher_sql() -> str:
    stops = ",".join(f"'{s}'" for s in text.GOPHER_STOPS)
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS w,
         CAST(length(text) - len(string_split(lower(text), ' ')) + 1 AS BIGINT)
           AS sum_len,
         CAST(length(regexp_replace(lower(text), '[a-z ]', '', 'g')) AS BIGINT)
           AS n_sym,
         CAST(length(text) AS BIGINT) AS n_chars_t,
         CAST(len(list_distinct(list_filter(string_split(lower(text), ' '),
                                            x -> x IN ({stops})))) AS BIGINT)
           AS n_stops
  FROM documents
), topw AS (
  SELECT doc_id, MAX(c) AS top_c FROM (
    SELECT doc_id, tk, CAST(COUNT(*) AS BIGINT) AS c FROM (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tk
      FROM documents)
    GROUP BY 1, 2) GROUP BY 1
), v AS (
  SELECT CASE
           WHEN w < {text.GOPHER_W_MIN} OR w > {text.GOPHER_W_MAX}
             THEN 'r1_word_count'
           WHEN sum_len < {text.GOPHER_MWL_MIN} * w
                OR sum_len > {text.GOPHER_MWL_MAX} * w
             THEN 'r2_mean_word_len'
           WHEN 10 * n_sym > {text.GOPHER_SYM_DECI} * n_chars_t
             THEN 'r3_symbol_ratio'
           WHEN {text.GOPHER_TOPW_MULT} * top_c > w THEN 'r4_repetition'
           WHEN n_stops < {text.GOPHER_STOP_MIN} THEN 'r5_stopword_floor'
           ELSE 'kept' END AS rule
  FROM base JOIN topw USING (doc_id)
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM documents)
SELECT rule, CAST(COUNT(*) AS BIGINT) AS n_docs,
       (1000000 * COUNT(*)) // (SELECT t FROM tot) AS share_ppm
FROM v GROUP BY 1
"""


REGISTRY["corpus_gopher_rules"] = (text.corpus_gopher_rules, _gopher_sql())


REGISTRY["stats_gini_concentration"] = (
    relational.stats_gini_concentration,
    """
WITH act AS (
  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), ranked AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY x, user_id) AS i
  FROM act
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(x) AS BIGINT) AS n_events,
       CAST((1000000 * (2 * SUM(i * x) - (COUNT(*) + 1) * SUM(x)))
         // (COUNT(*) * SUM(x)) AS BIGINT) AS gini_ppm
FROM ranked GROUP BY 1
""",
)


REGISTRY["events_twap"] = (
    relational.events_twap,
    """
WITH seq AS (
  SELECT event_type,
         CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_milli,
         epoch_us(ts) // 1000000 AS s,
         lead(epoch_us(ts) // 1000000)
           OVER (PARTITION BY event_type ORDER BY ts, event_id) AS next_s
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       MAX(s) - MIN(s) AS span_s,
       CAST((1000 * SUM(CASE WHEN next_s IS NOT NULL
                        THEN v_milli * (next_s - s) END))
         // (MAX(s) - MIN(s)) AS BIGINT) AS twap_micro,
       CAST((1000 * SUM(v_milli)) // COUNT(*) AS BIGINT) AS row_mean_micro
FROM seq GROUP BY 1 HAVING MAX(s) - MIN(s) > 0
""",
)


def _ttc_sql() -> str:
    picks = ",\n       ".join(
        f"MAX(CASE WHEN rn = ({q} * n + 99) // 100 THEN lat_min END) AS p{q}_min"
        for q in relational.TTC_QUANTS
    )
    return f"""
WITH pu AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup'
                  THEN epoch_us(ts) // 1000000 END) AS fs,
         MIN(CASE WHEN event_type = 'purchase'
                  THEN epoch_us(ts) // 1000000 END) AS fp
  FROM events GROUP BY 1
), signed AS (SELECT * FROM pu WHERE fs IS NOT NULL),
ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_signed FROM signed),
conv AS (
  SELECT user_id, (fp - fs) // 60 AS lat_min FROM signed
  WHERE fp IS NOT NULL AND fp >= fs
), ranked AS (
  SELECT lat_min,
         row_number() OVER (ORDER BY lat_min, user_id) AS rn,
         CAST(COUNT(*) OVER () AS BIGINT) AS n
  FROM conv
)
SELECT MAX(n) AS n_converted,
       (SELECT n_signed FROM ns) AS n_signed_up,
       (1000000 * MAX(n)) // (SELECT n_signed FROM ns) AS conversion_ppm,
       {picks}
FROM ranked
"""


REGISTRY["funnel_time_to_convert"] = (
    relational.funnel_time_to_convert,
    _ttc_sql(),
)


# -- stationary dist / A/B z-test / assortativity / split leakage -----------

def _markov_stationary_sql() -> str:
    iters = "".join(
        f""", pi{k} AS (
  SELECT p.dst AS state, SUM(pi{k - 1}.pi * p.pij) AS pi
  FROM p JOIN pi{k - 1} ON pi{k - 1}.state = p.src
  GROUP BY p.dst
)"""
        for k in range(1, relational.MARKOV_ITERS + 1)
    )
    last = relational.MARKOV_ITERS
    return f"""
WITH trans AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS nij FROM (
    SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS dst
    FROM events)
  WHERE dst IS NOT NULL GROUP BY 1, 2
), ni AS (
  SELECT src, SUM(nij) AS n_out FROM trans GROUP BY 1
), p AS (
  SELECT src, dst, CAST(nij AS DOUBLE) / n_out AS pij
  FROM trans JOIN ni USING (src)
), states AS (SELECT DISTINCT src AS state FROM trans),
ns AS (SELECT COUNT(*)::DOUBLE AS k FROM states),
pi0 AS (SELECT state, (SELECT 1.0 / k FROM ns) AS pi FROM states)
{iters},
emp AS (SELECT src, CAST(SUM(nij) AS BIGINT) AS n_src FROM trans GROUP BY 1),
tot AS (SELECT CAST(SUM(nij) AS BIGINT) AS n_total FROM trans)
SELECT pi{last}.state AS event_type, round(pi{last}.pi, 6) AS pi_stationary,
       (1000000 * emp.n_src) // (SELECT n_total FROM tot) AS pi_empirical_ppm
FROM pi{last} JOIN emp ON emp.src = pi{last}.state
"""


REGISTRY["events_markov_stationary"] = (
    relational.events_markov_stationary,
    _markov_stationary_sql(),
)


REGISTRY["events_ab_test_proportions"] = (
    relational.events_ab_test_proportions,
    """
WITH pu AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
), byv AS (
  SELECT user_id % 2 AS variant, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(conv) AS BIGINT) AS c
  FROM pu GROUP BY 1
)
SELECT a.n AS na, a.c AS ca, b.n AS nb, b.c AS cb,
       (1000000 * a.c) // a.n AS rate_a_ppm,
       (1000000 * b.c) // b.n AS rate_b_ppm,
       round(CASE WHEN a.c + b.c = 0 OR a.c + b.c = a.n + b.n THEN NULL
             ELSE (CAST(a.c AS DOUBLE) / a.n - CAST(b.c AS DOUBLE) / b.n)
             / sqrt((CAST(a.c + b.c AS DOUBLE) / (a.n + b.n))
                    * (1.0 - CAST(a.c + b.c AS DOUBLE) / (a.n + b.n))
                    * (1.0 / a.n + 1.0 / b.n)) END, 6) AS z_score
FROM (SELECT * FROM byv WHERE variant = 0) a,
     (SELECT * FROM byv WHERE variant = 1) b
""",
)


def _assortativity_sql() -> str:
    vocab = ",".join(f"'{t}'" for t in graph.PR_VOCAB)
    return f"""
WITH m AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
    FROM documents)
  WHERE token IN ({vocab})
), half AS (
  SELECT DISTINCT a.token AS src, b.token AS dst
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.token < b.token
), edges AS (
  SELECT src, dst FROM half UNION ALL SELECT dst AS src, src AS dst FROM half
), deg AS (
  SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY 1
), both_t AS (
  SELECT du.d AS du, dv.d AS dv
  FROM edges e JOIN deg du ON du.src = e.src JOIN deg dv ON dv.src = e.dst
), nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m2,
         SUM(du) AS sx, SUM(dv) AS sy, SUM(du * dv) AS sxy,
         SUM(du * du) AS sxx, SUM(dv * dv) AS syy
  FROM both_t
)
SELECT m2 // 2 AS n_edges, (SELECT n_nodes FROM nn) AS n_nodes,
       (1000000 * m2) // ((SELECT n_nodes FROM nn)
                          * ((SELECT n_nodes FROM nn) - 1)) AS density_ppm,
       round(CASE WHEN m2 * sxx = sx * sx OR m2 * syy = sy * sy THEN NULL
             ELSE CAST(m2 * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(m2 * sxx - sx * sx AS DOUBLE)
                    * CAST(m2 * syy - sy * sy AS DOUBLE)) END, 6)
         AS assortativity
FROM agg
"""


REGISTRY["kg_degree_assortativity"] = (
    graph.kg_degree_assortativity,
    _assortativity_sql(),
)


REGISTRY["corpus_split_leakage"] = (
    text.corpus_split_leakage,
    f"""
WITH tagged AS (
  SELECT doc_id, md5(text) AS th,
         CASE WHEN ('0x' || substr(md5('sp:' || doc_id), 1, 6))::BIGINT % 100
                   < {text.SPLIT_TRAIN_PCT} THEN 'train'
              WHEN ('0x' || substr(md5('sp:' || doc_id), 1, 6))::BIGINT % 100
                   < {text.SPLIT_VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM documents
), spans AS (
  SELECT th, CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits
  FROM tagged GROUP BY 1
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM documents)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       (1000000 * COUNT(*)) // (SELECT t FROM tot) AS share_ppm,
       CAST(COUNT(DISTINCT th) AS BIGINT) AS n_distinct_texts,
       CAST(SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaked_docs,
       CAST((1000000 * SUM(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END)) // COUNT(*)
         AS BIGINT) AS leak_ppm
FROM tagged JOIN spans USING (th)
GROUP BY split
""",
)


# -- bloom sketch / kendall tau / RFM / zone-map pruning --------------------

REGISTRY["sketch_bloom_membership"] = (
    relational.sketch_bloom_membership,
    f"""
WITH tagged AS (
  SELECT doc_id, doc_id % 2 = 0 AS is_member,
         ('0x' || substr(md5(t.i || ':' || md5(text)), 1, 6))::BIGINT
           % {relational.BLOOM_M} AS p
  FROM documents
  CROSS JOIN (SELECT unnest(range(0, {relational.BLOOM_K})) AS i) t
), bits AS (SELECT DISTINCT p FROM tagged WHERE is_member),
probed AS (
  SELECT doc_id, is_member,
         SUM(CASE WHEN b.p IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
  FROM tagged LEFT JOIN bits b ON b.p = tagged.p
  GROUP BY 1, 2
), ag AS (
  SELECT CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
           AS n_members,
         CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS n_bits_set,
         CAST(SUM(CASE WHEN is_member AND n_hit = {relational.BLOOM_K}
                  THEN 1 ELSE 0 END) AS BIGINT) AS true_positives,
         CAST(SUM(CASE WHEN NOT is_member AND n_hit = {relational.BLOOM_K}
                  THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
         CAST(SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END) AS BIGINT)
           AS n_non_members
  FROM probed
)
SELECT n_members, CAST({relational.BLOOM_M} AS BIGINT) AS m_bits, n_bits_set,
       true_positives, false_positives,
       (1000000 * false_positives) // n_non_members AS fpr_ppm,
       (1000000 * n_bits_set * n_bits_set * n_bits_set)
         // (CAST({relational.BLOOM_M} AS BIGINT)
             * {relational.BLOOM_M} * {relational.BLOOM_M}) AS theo_fpr_ppm
FROM ag
""",
)


REGISTRY["stats_kendall_tau"] = (
    relational.stats_kendall_tau,
    """
WITH e AS (
  SELECT event_type, CAST(hour(ts) AS BIGINT) AS x,
         CAST(floor(value + 0.5) AS BIGINT) AS v
  FROM events
), prof AS (
  SELECT event_type, x, (1000000 * SUM(v)) // COUNT(*) AS y
  FROM e GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type, a.y AS y1, b.y AS y2
  FROM prof a JOIN prof b ON a.event_type = b.event_type AND a.x < b.x
), agg AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n0,
         CAST(SUM(CASE WHEN y2 > y1 THEN 1 ELSE 0 END) AS BIGINT) AS n_concordant,
         CAST(SUM(CASE WHEN y2 < y1 THEN 1 ELSE 0 END) AS BIGINT) AS n_discordant,
         CAST(SUM(CASE WHEN y2 = y1 THEN 1 ELSE 0 END) AS BIGINT) AS n_tied_y
  FROM pairs GROUP BY 1
), np_ AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_points
  FROM prof GROUP BY 1
)
SELECT event_type, n_points, n_concordant, n_discordant, n_tied_y,
       round(CAST(n_concordant - n_discordant AS DOUBLE)
             / sqrt(CAST(n0 AS DOUBLE) * CAST(n0 - n_tied_y AS DOUBLE)), 6)
         AS kendall_tau
FROM agg JOIN np_ USING (event_type)
""",
)


REGISTRY["users_rfm_segments"] = (
    relational.users_rfm_segments,
    f"""
WITH wmk AS (SELECT MAX(epoch_us(ts) // 1000000) AS wm FROM events),
pu AS (
  SELECT user_id, MAX(epoch_us(ts) // 1000000) AS last_s,
         CAST(COUNT(*) AS BIGINT) AS f,
         SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS m_milli
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), pr AS (
  SELECT *, ((SELECT wm FROM wmk) - last_s) // 86400 AS r_days FROM pu
), scored AS (
  SELECT user_id, f, m_milli,
         ntile({relational.RFM_BINS}) OVER (ORDER BY r_days DESC, user_id)
           AS r_score,
         ntile({relational.RFM_BINS}) OVER (ORDER BY f, user_id) AS f_score,
         ntile({relational.RFM_BINS}) OVER (ORDER BY m_milli, user_id)
           AS m_score
  FROM pr
), tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM pu)
SELECT CAST(100 * r_score + 10 * f_score + m_score AS BIGINT) AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST((1000 * SUM(f)) // COUNT(*) AS BIGINT) AS mean_f_milli,
       CAST((1000 * SUM(m_milli)) // COUNT(*) AS BIGINT) AS mean_m_micro,
       (1000000 * COUNT(*)) // (SELECT t FROM tot) AS share_ppm
FROM scored GROUP BY 1
""",
)


REGISTRY["layout_zone_map_pruning"] = (
    relational.layout_zone_map_pruning,
    f"""
WITH tot AS (
  SELECT SUM(n_chars) // {relational.COMPACT_BINS} + 1 AS target,
         MIN(n_chars) AS vmin, MAX(n_chars) AS vmax
  FROM documents
), b1 AS (
  SELECT 'id_order' AS layout,
         (SUM(n_chars) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars)
           // target AS bin,
         n_chars
  FROM documents, tot
), b2 AS (
  SELECT 'value_order' AS layout,
         (SUM(n_chars) OVER (ORDER BY n_chars, doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars)
           // target AS bin,
         n_chars
  FROM documents, tot
), zones AS (
  SELECT layout, bin, MIN(n_chars) AS zmin, MAX(n_chars) AS zmax
  FROM (SELECT * FROM b1 UNION ALL SELECT * FROM b2) GROUP BY 1, 2
), probes AS (
  SELECT DISTINCT vmin + (t.k * (vmax - vmin)) // {relational.ZONE_PROBES}
           AS probe_value
  FROM tot, (SELECT unnest(range(0, {relational.ZONE_PROBES} + 1)) AS k) t
)
SELECT layout, probe_value, CAST(COUNT(*) AS BIGINT) AS n_bins,
       CAST(SUM(CASE WHEN probe_value BETWEEN zmin AND zmax THEN 1 ELSE 0 END)
         AS BIGINT) AS n_candidate_bins,
       CAST((1000000 * (COUNT(*) - SUM(CASE WHEN probe_value BETWEEN zmin AND zmax
                                       THEN 1 ELSE 0 END))) // COUNT(*)
         AS BIGINT) AS pruned_ppm
FROM zones CROSS JOIN probes GROUP BY 1, 2
""",
)


# -- TPC-H Q5/Q18 shapes / variance ratio / streak islands ------------------

REGISTRY["q5_local_supplier_volume"] = (
    relational.q5_local_supplier_volume,
    """
SELECT n_name,
       CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * (CAST(1 AS DECIMAL(18,2))
                         - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE)
         AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
""",
)


REGISTRY["q18_large_volume_customers"] = (
    relational.q18_large_volume_customers,
    f"""
WITH big AS (
  SELECT l_orderkey,
         round(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2) AS total_qty
  FROM lineitem GROUP BY 1
  HAVING round(SUM(CAST(l_quantity AS DECIMAL(18,2))), 2)
         > {relational.Q18_QTY_FLOOR}
)
SELECT c_custkey, c_name, o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS o_orderdate_s,
       CAST(total_qty AS DOUBLE) AS total_qty
FROM big
JOIN orders ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
""",
)


REGISTRY["stats_variance_ratio"] = (
    relational.stats_variance_ratio,
    """
WITH per AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
         SUM(x) AS sx, SUM(x * x) AS sxx
  FROM (SELECT event_type, CAST(floor(value + 0.5) AS BIGINT) AS x
        FROM events)
  GROUP BY 1
), tot AS (
  SELECT SUM(n) AS tn, SUM(sx) AS tsx, SUM(sxx) AS tsxx FROM per
)
SELECT event_type, n, CAST(tn - n AS BIGINT) AS n_rest,
       round(CASE WHEN n < 2 OR tn - n < 2
                       OR (tn - n) * (tsxx - sxx) = (tsx - sx) * (tsx - sx)
             THEN NULL ELSE
             (CAST(n * sxx - sx * sx AS DOUBLE)
              / (CAST(n AS DOUBLE) * (n - 1)))
             / (CAST((tn - n) * (tsxx - sxx)
                     - (tsx - sx) * (tsx - sx) AS DOUBLE)
                / (CAST(tn - n AS DOUBLE) * (tn - n - 1))) END, 6) AS f_ratio
FROM per, tot
""",
)


REGISTRY["events_islands_summary"] = (
    relational.events_islands_summary,
    """
WITH days AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
  FROM events
), isl AS (
  SELECT user_id, d,
         d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS isl
  FROM days
), per_isl AS (
  SELECT user_id, isl, CAST(COUNT(*) AS BIGINT) AS len
  FROM isl GROUP BY 1, 2
)
SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       MAX(len) AS longest_streak_days
FROM per_isl GROUP BY 1
""",
)


# -- DAU/WAU stickiness / SCD2 point-in-time / kNN outliers -----------------

REGISTRY["events_dau_wau_stickiness"] = (
    relational.events_dau_wau_stickiness,
    f"""
WITH du AS (
  SELECT DISTINCT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
  FROM events
), grid AS (SELECT DISTINCT d FROM du),
dau AS (
  SELECT d, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
  FROM du GROUP BY 1
), wau AS (
  SELECT g.d, CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS wau
  FROM grid g JOIN du u
    ON u.d <= g.d AND u.d > g.d - {relational.WAU_DAYS}
  GROUP BY 1
)
SELECT dau.d AS day_id, dau, wau, (1000000 * dau) // wau AS stickiness_ppm
FROM dau JOIN wau ON wau.d = dau.d
""",
)


def _scd2_asof_sql() -> str:
    """Composes the FULL scd2_user_history oracle as a CTE and runs the
    point-in-time probe join on top — composition verified end to end
    (the RRF idiom)."""
    hist = REGISTRY["scd2_user_history"][1]
    return f"""
WITH hist AS ({hist}
), probes AS (
  SELECT user_id, epoch_us(ts) - 1 AS probe_us
  FROM events WHERE event_type = 'purchase'
), j AS (
  SELECT p.user_id, h.event_type AS prior_state, h.n_events
  FROM probes p LEFT JOIN hist h
    ON h.user_id = p.user_id
   AND epoch_us(h.valid_from) <= p.probe_us
   AND (h.valid_to IS NULL OR p.probe_us < epoch_us(h.valid_to))
)
SELECT COALESCE(prior_state, '(none)') AS prior_state,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST((1000 * SUM(COALESCE(n_events, 0))) // COUNT(*)
         AS BIGINT) AS mean_run_events_milli
FROM j GROUP BY 1
"""


REGISTRY["join_scd2_asof"] = (relational.join_scd2_asof, _scd2_asof_sql())


REGISTRY["embedding_knn_outliers"] = (
    relational.embedding_knn_outliers,
    f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS qv
  FROM embeddings
), nrm AS (
  SELECT vec_id, sqrt(CAST(SUM(qv * qv) AS DOUBLE)) AS nrm
  FROM comp GROUP BY 1
), dots AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, SUM(a.qv * b.qv) AS dot
  FROM comp a JOIN comp b ON a.dim = b.dim AND a.vec_id <> b.vec_id
  GROUP BY 1, 2
), ranked AS (
  SELECT va, vb, CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) AS c,
         ROW_NUMBER() OVER (PARTITION BY va
           ORDER BY CAST(dot AS DOUBLE) / (na.nrm * nb.nrm) DESC, vb) AS rk
  FROM dots
  JOIN nrm na ON na.vec_id = dots.va
  JOIN nrm nb ON nb.vec_id = dots.vb
), kth AS (
  SELECT va AS vec_id, vb AS nn_id,
         CAST(floor(1000000 * c + 0.5) AS BIGINT) AS nn_cos_micro
  FROM ranked WHERE rk = {relational.KNN_OUT_K}
), nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings)
SELECT vec_id, nn_id, nn_cos_micro,
       CASE WHEN ROW_NUMBER() OVER (ORDER BY nn_cos_micro, vec_id)
                 <= (SELECT n FROM nt) // {relational.KNN_OUT_DECI}
            THEN 1 ELSE 0 END AS is_outlier
FROM kth
""",
)


# -- cohort LTV / Poisson rate-shift ----------------------------------------

REGISTRY["events_cohort_ltv"] = (
    relational.events_cohort_ltv,
    """
WITH first AS (
  SELECT user_id,
         MIN(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))) // 7
           AS cohort_week
  FROM events GROUP BY 1
), cohort_n AS (
  SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_cohort_users
  FROM first GROUP BY 1
), buys AS (
  SELECT e.user_id,
         date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
           - f.cohort_week AS age_weeks,
         f.cohort_week,
         CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_milli
  FROM events e JOIN first f ON f.user_id = e.user_id
  WHERE event_type = 'purchase'
), grid AS (
  SELECT cohort_week, age_weeks,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_buyers,
         CAST(SUM(v_milli) AS BIGINT) AS period_value_milli
  FROM buys GROUP BY 1, 2
), cum AS (
  SELECT *, CAST(SUM(period_value_milli) OVER (PARTITION BY cohort_week
             ORDER BY age_weeks
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_value_milli
  FROM grid
)
SELECT cohort_week, age_weeks, n_cohort_users, n_buyers,
       period_value_milli, cum_value_milli,
       (1000 * cum_value_milli) // n_cohort_users AS ltv_per_user_micro
FROM cum JOIN cohort_n USING (cohort_week)
""",
)


REGISTRY["stats_poisson_rate_ratio"] = (
    relational.stats_poisson_rate_ratio,
    """
WITH bounds AS (
  SELECT MIN(epoch_us(ts) // 1000000) AS t0,
         MAX(epoch_us(ts) // 1000000) AS t1
  FROM events
), agg AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN epoch_us(ts) // 1000000 < t0 + (t1 - t0) // 2
                  THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events, bounds GROUP BY 1
)
SELECT event_type, c1, n - c1 AS c2,
       CASE WHEN c1 > 0 THEN (1000000 * (n - c1)) // c1 ELSE NULL END
         AS rate_ratio_ppm,
       round(CASE WHEN n = 0 THEN NULL ELSE
             (CAST(c1 AS DOUBLE) - CAST(n AS DOUBLE) / 2)
             / sqrt(CAST(n AS DOUBLE) / 4) END, 6) AS z_shift
FROM agg
""",
)


# -- k-center selection / interval overlap / Pareto -------------------------

def _kcenter_sql() -> str:
    """Unrolls the greedy farthest-first steps: each s{k} picks the
    candidate minimizing max integer-cosine to sel{k-1} (id tie-break)
    — identical to the driver-side greedy in
    relational.corpus_select_diverse_kcenter."""
    steps = "".join(
        f""", s{k} AS (
  SELECT cand AS id, CAST({k} AS BIGINT) AS rk, msim FROM (
    SELECT s.vb AS cand, MAX(s.sim) AS msim
    FROM sims s
    WHERE s.va IN (SELECT id FROM sel{k - 1})
      AND s.vb NOT IN (SELECT id FROM sel{k - 1})
    GROUP BY s.vb
    ORDER BY msim ASC, cand ASC LIMIT 1)
), sel{k} AS (SELECT id FROM sel{k - 1} UNION ALL SELECT id FROM s{k})"""
        for k in range(2, relational.KCENTER_K + 1)
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT rk AS pick_rank, id AS vec_id, msim AS maxsim_prior_micro"
        f" FROM s{k}"
        for k in range(1, relational.KCENTER_K + 1)
    )
    return f"""
WITH comp AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000 + 0.5)
              AS BIGINT) AS qv
  FROM embeddings
), nrm AS (
  SELECT vec_id, sqrt(CAST(SUM(qv * qv) AS DOUBLE)) AS nrm
  FROM comp GROUP BY 1
), dots AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, SUM(a.qv * b.qv) AS dot
  FROM comp a JOIN comp b ON a.dim = b.dim AND a.vec_id <> b.vec_id
  GROUP BY 1, 2
), sims AS MATERIALIZED (
  SELECT va, vb,
         CAST(floor(1000000 * (CAST(dot AS DOUBLE) / (na.nrm * nb.nrm)) + 0.5)
              AS BIGINT) AS sim
  FROM dots
  JOIN nrm na ON na.vec_id = dots.va
  JOIN nrm nb ON nb.vec_id = dots.vb
), s1 AS (
  SELECT CAST(MIN(vec_id) AS BIGINT) AS id, CAST(1 AS BIGINT) AS rk,
         CAST(0 AS BIGINT) AS msim
  FROM embeddings
), sel1 AS (SELECT id FROM s1){steps}
{unions}
"""


REGISTRY["corpus_select_diverse_kcenter"] = (
    relational.corpus_select_diverse_kcenter,
    _kcenter_sql(),
)


REGISTRY["join_interval_overlap_topk"] = (
    relational.join_interval_overlap_topk,
    f"""
WITH sess AS (
  SELECT user_id, sess_id, MIN(s) AS a, MAX(s) AS b FROM (
    SELECT user_id, s,
           SUM(CASE WHEN prev_s IS NULL OR s - prev_s > {relational.KM_GAP_S}
                    THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS sess_id
    FROM (SELECT user_id, ts, event_id, epoch_us(ts) // 1000000 AS s,
                 lag(epoch_us(ts) // 1000000)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_s
          FROM events))
  GROUP BY 1, 2
), hours AS (
  SELECT user_id, sess_id, a, b,
         unnest(generate_series(a // 3600, b // 3600)) AS h
  FROM sess
), pairs AS (
  SELECT DISTINCT l.user_id AS u1, l.sess_id AS ls, r.user_id AS u2,
                  r.sess_id AS rs
  FROM hours l JOIN hours r ON l.h = r.h
  WHERE l.user_id < r.user_id AND l.a <= r.b AND r.a <= l.b
), counts AS (
  SELECT u1, u2, CAST(COUNT(*) AS BIGINT) AS n_overlaps
  FROM pairs GROUP BY 1, 2
)
SELECT u1 AS user_a, u2 AS user_b, n_overlaps, rank FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n_overlaps DESC, u1, u2) AS rank
  FROM counts)
WHERE rank <= {relational.OVERLAP_TOP_K}
""",
)


REGISTRY["agg_pareto_concentration"] = (
    relational.agg_pareto_concentration,
    """
WITH pu AS (
  SELECT user_id, SUM(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS v_milli
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), ranked AS (
  SELECT v_milli,
         row_number() OVER (ORDER BY v_milli DESC, user_id) AS rn,
         SUM(v_milli) OVER (ORDER BY v_milli DESC, user_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         CAST(COUNT(*) OVER () AS BIGINT) AS n,
         SUM(v_milli) OVER () AS total
  FROM pu
)
SELECT MAX(n) AS n_buyers, CAST(MAX(total) AS BIGINT) AS total_value_milli,
       MIN(CASE WHEN 5 * cum >= 4 * total THEN rn END) AS n_users_for_80pct,
       (1000000 * MIN(CASE WHEN 5 * cum >= 4 * total THEN rn END)) // MAX(n)
         AS share_users_for_80pct_ppm,
       CAST((1000000 * MAX(CASE WHEN rn = (n + 99) // 100 THEN cum END))
         // MAX(total) AS BIGINT) AS top1pct_value_share_ppm
FROM ranked
""",
)


# -- lag correlation / rolling slope / walk counts / bounce rate ------------

REGISTRY["events_lag_correlation"] = (
    relational.events_lag_correlation,
    f"""
WITH hourly AS (
  SELECT event_type,
         date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
                   date_trunc('hour', ts)) AS h,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events
  WHERE event_type IN ('{relational.LAGCORR_X}', '{relational.LAGCORR_Y}')
  GROUP BY 1, 2
), bounds AS (SELECT MIN(h) AS mn, MAX(h) AS mx FROM hourly),
grid AS (SELECT unnest(generate_series(mn, mx)) AS h FROM bounds),
x AS (
  SELECT g.h, COALESCE(hh.c, 0) AS x FROM grid g
  LEFT JOIN hourly hh ON hh.h = g.h AND hh.event_type = '{relational.LAGCORR_X}'
), y AS (
  SELECT g.h AS hy, COALESCE(hh.c, 0) AS y FROM grid g
  LEFT JOIN hourly hh ON hh.h = g.h AND hh.event_type = '{relational.LAGCORR_Y}'
), lags AS (
  SELECT unnest(generate_series(-{relational.LAGCORR_MAX},
                                {relational.LAGCORR_MAX})) AS lag
), agg AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_points,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy
  FROM x CROSS JOIN lags JOIN y ON y.hy = x.h + lags.lag
  GROUP BY 1
)
SELECT lag, n_points,
       round(CASE WHEN n_points * sxx = sx * sx
                       OR n_points * syy = sy * sy THEN NULL ELSE
             CAST(n_points * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n_points * sxx - sx * sx AS DOUBLE)
                    * CAST(n_points * syy - sy * sy AS DOUBLE)) END, 6)
         AS pearson_r
FROM agg
""",
)


REGISTRY["window_rolling_regression"] = (
    relational.window_rolling_regression,
    f"""
WITH hourly AS (
  SELECT event_type,
         date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
                   date_trunc('hour', ts)) AS h,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), tb AS (
  SELECT event_type, MIN(h) AS mn, MAX(h) AS mx FROM hourly GROUP BY 1
), grid AS (
  SELECT event_type, unnest(generate_series(mn, mx)) AS h FROM tb
), dense AS (
  SELECT g.event_type, g.h, COALESCE(hh.c, 0) AS y
  FROM grid g LEFT JOIN hourly hh
    ON hh.event_type = g.event_type AND hh.h = g.h
), rolled AS (
  SELECT event_type, h, y,
         CAST(COUNT(*) OVER w AS BIGINT) AS n,
         SUM(h) OVER w AS st, SUM(y) OVER w AS sy,
         SUM(h * y) OVER w AS sty, SUM(h * h) OVER w AS stt
  FROM dense
  WINDOW w AS (PARTITION BY event_type ORDER BY h
               ROWS BETWEEN {relational.ROLLREG_W - 1} PRECEDING
                        AND CURRENT ROW)
)
SELECT event_type, h, y,
       CAST((1000000 * (n * sty - st * sy)) // (n * stt - st * st)
         AS BIGINT) AS slope_micro_per_hour
FROM rolled WHERE n = {relational.ROLLREG_W}
""",
)


def _path_counts_sql() -> str:
    vocab = ",".join(f"'{t}'" for t in graph.PR_VOCAB)
    steps = "".join(
        f""", w{k} AS (
  SELECT e.dst AS node, SUM(w{k - 1}.w) AS w
  FROM edges e JOIN w{k - 1} ON w{k - 1}.node = e.src
  GROUP BY 1
)"""
        for k in range(1, relational.WALK_STEPS + 1)
    )
    sel = ", ".join(
        f"CAST(COALESCE(w{k}.w, 0) AS BIGINT) AS walks{k}"
        for k in range(1, relational.WALK_STEPS + 1)
    )
    joins = "".join(
        f" LEFT JOIN w{k} ON w{k}.node = nodes.node"
        for k in range(1, relational.WALK_STEPS + 1)
    )
    return f"""
WITH m AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
    FROM documents)
  WHERE token IN ({vocab})
), half AS (
  SELECT DISTINCT a.token AS src, b.token AS dst
  FROM m a JOIN m b ON a.doc_id = b.doc_id AND a.token < b.token
), edges AS (
  SELECT src, dst FROM half UNION ALL SELECT dst AS src, src AS dst FROM half
), nodes AS (SELECT DISTINCT src AS node FROM edges),
w0 AS (
  SELECT node, CASE WHEN node = '{graph.KHOP_SEED}'
                    THEN CAST(1 AS BIGINT) ELSE 0 END AS w
  FROM nodes
){steps}
SELECT nodes.node AS mention, {sel}
FROM nodes{joins}
"""


REGISTRY["kg_path_counts"] = (relational.kg_path_counts, _path_counts_sql())


REGISTRY["agg_session_bounce_rate"] = (
    relational.agg_session_bounce_rate,
    f"""
WITH sess AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(CASE WHEN prev_s IS NULL OR s - prev_s > {relational.KM_GAP_S}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM (SELECT user_id, ts, event_id, event_type,
               epoch_us(ts) // 1000000 AS s,
               lag(epoch_us(ts) // 1000000)
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_s
        FROM events)
), per_sess AS (
  SELECT user_id, sess_id,
         MAX(CASE WHEN rn = 1 THEN event_type END) AS entry,
         CAST(COUNT(*) AS BIGINT) AS len
  FROM (SELECT *, row_number() OVER (PARTITION BY user_id, sess_id
                                     ORDER BY ts, event_id) AS rn
        FROM sess)
  GROUP BY 1, 2
)
SELECT entry AS entry_type, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN len = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
       CAST((1000000 * SUM(CASE WHEN len = 1 THEN 1 ELSE 0 END)) // COUNT(*)
         AS BIGINT) AS bounce_ppm,
       CAST((1000 * SUM(len)) // COUNT(*) AS BIGINT) AS mean_len_milli
FROM per_sess GROUP BY 1
""",
)


# -- simhash radius-1 / daily autocorrelation -------------------------------

def _simhash_hamming1_sql() -> str:
    votes = ", ".join(
        f"SUM(CASE WHEN ((hv >> {b}) & 1) = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(32)
    )
    pack = " + ".join(
        f"CASE WHEN v{b} > 0 THEN {2**b}::BIGINT ELSE 0::BIGINT END"
        for b in range(32)
    )
    bits = ", ".join(str(b) for b in range(32))
    return f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split(regexp_replace(lower(text), '[^a-z0-9]+',
                                                 ' ', 'g'), ' '),
                     x -> x <> '') AS toks
  FROM documents
), ex AS (
  SELECT doc_id, unnest(toks) AS t FROM tok WHERE len(toks) > 0
), h AS (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS hv FROM ex
), votes AS (
  SELECT doc_id, {votes}
  FROM h GROUP BY doc_id
), sigs AS (
  SELECT doc_id, ({pack}) AS simhash FROM votes
), var AS (
  SELECT doc_id, simhash AS sig,
         CASE WHEN t.b = -1 THEN simhash
              ELSE xor(simhash, (1::BIGINT << t.b)) END AS key
  FROM sigs CROSS JOIN (SELECT unnest([-1, {bits}]) AS b) t
)
SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b,
       CAST(bit_count(xor(a.sig, b2.simhash)) AS BIGINT) AS hamming
FROM var a JOIN sigs b2 ON b2.simhash = a.key AND a.doc_id < b2.doc_id
"""


REGISTRY["dedup_simhash_hamming1"] = (
    dedup.dedup_simhash_hamming1,
    _simhash_hamming1_sql(),
)


REGISTRY["stats_autocorr_daily"] = (
    relational.stats_autocorr_daily,
    f"""
WITH hourly AS (
  SELECT event_type,
         date_diff('hour', TIMESTAMP '2024-01-01 00:00:00',
                   date_trunc('hour', ts)) AS h,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), tb AS (
  SELECT event_type, MIN(h) AS mn, MAX(h) AS mx FROM hourly GROUP BY 1
), dense AS (
  SELECT g.event_type, g.h, COALESCE(hh.c, 0) AS y
  FROM (SELECT event_type, unnest(generate_series(mn, mx)) AS h FROM tb) g
  LEFT JOIN hourly hh ON hh.event_type = g.event_type AND hh.h = g.h
), lags AS (
  SELECT unnest([{", ".join(str(l) for l in relational.AUTOCORR_LAGS)}]) AS lag
), agg AS (
  SELECT a.event_type, lags.lag, CAST(COUNT(*) AS BIGINT) AS n_points,
         SUM(a.y) AS sx, SUM(b.y) AS sy, SUM(a.y * b.y) AS sxy,
         SUM(a.y * a.y) AS sxx, SUM(b.y * b.y) AS syy
  FROM dense a CROSS JOIN lags
  JOIN dense b ON b.event_type = a.event_type AND b.h = a.h + lags.lag
  GROUP BY 1, 2
)
SELECT event_type, CAST(lag AS BIGINT) AS lag, n_points,
       round(CASE WHEN n_points * sxx = sx * sx
                       OR n_points * syy = sy * sy THEN NULL ELSE
             CAST(n_points * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n_points * sxx - sx * sx AS DOUBLE)
                    * CAST(n_points * syy - sy * sy AS DOUBLE)) END, 6)
         AS pearson_r
FROM agg
""",
)
