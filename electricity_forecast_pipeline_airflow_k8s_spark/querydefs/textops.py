"""Dedup / text-analysis / similarity queries over documents + embeddings
(BASELINE.json north-star extension operators, SURVEY §7.2 phase 7)."""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from electricity_forecast_pipeline_airflow_k8s_spark.operators import dedup as DD
from electricity_forecast_pipeline_airflow_k8s_spark.operators import similarity as SIM
from electricity_forecast_pipeline_airflow_k8s_spark.operators import text as TX
from electricity_forecast_pipeline_airflow_k8s_spark.operators.partitioning import reuse
from electricity_forecast_pipeline_airflow_k8s_spark.queries import register, table
from electricity_forecast_pipeline_airflow_k8s_spark.functions.stats import (
    portable_round,
)

# shared DuckDB fragments ----------------------------------------------------
# Tokenizer must match operators.text.tokens (trim + split on \s+ runs):
# plain string_split(text, ' ') would emit empty tokens on doubled spaces
# and silently diverge from the Spark side.
_SHINGLES = (
    "CASE WHEN len(t) >= 3 THEN "
    "list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) "
    "ELSE [] END"
)
_TOKS = r"list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x != '')"

MINHASH_K, MINHASH_BANDS = 12, 4


def _minhash_oracle(threshold: float = 0.5) -> str:
    rows = MINHASH_K // MINHASH_BANDS
    sig_cols = ",\n         ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}|' || s)), 'min') AS sig_{i}"
        for i in range(MINHASH_K)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5({parts}) AS h FROM sigs".format(
            b=b,
            parts=" || ".join(f"sig_{b * rows + r}" for r in range(rows)),
        )
        for b in range(MINHASH_BANDS)
    )
    return f"""
WITH docs AS (SELECT doc_id, {_TOKS} AS t FROM documents),
shingled AS (SELECT doc_id, {_SHINGLES} AS sh FROM docs WHERE len(t) >= 3),
sigs AS (SELECT doc_id, sh, {sig_cols} FROM shingled),
bands AS (
{band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       floor((len(list_intersect(sa.sh, sb.sh)) * 1.0
              / len(list_distinct(list_concat(sa.sh, sb.sh)))) * 10000 + 0.5)
         / 10000 AS jaccard
FROM cand c
JOIN shingled sa ON sa.doc_id = c.doc_a
JOIN shingled sb ON sb.doc_id = c.doc_b
WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0
      / len(list_distinct(list_concat(sa.sh, sb.sh))) >= {threshold}
ORDER BY doc_a, doc_b
"""


def _simhash_codes_sql(limit: int = 50) -> str:
    """CTE body computing 16-bit simhash codes for doc_id < ``limit``."""
    votes = []
    for j in range(16):
        pos, b = j // 4 + 1, j % 4
        nib = f"(strpos('0123456789abcdef', substr(md5(tok), {pos}, 1)) - 1)"
        votes.append(
            f"sum((CAST(floor({nib} / {2 ** b}) AS INT) % 2) * 2 - 1) AS v{j}"
        )
    vote_sql = ",\n         ".join(votes)
    code = " + ".join(f"(CASE WHEN v{j} > 0 THEN {2 ** j} ELSE 0 END)" for j in range(16))
    return f"""
tok AS (
  SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok
  FROM documents WHERE doc_id < {limit}
),
votes AS (
  SELECT doc_id,
         {vote_sql}
  FROM tok GROUP BY doc_id
),
codes AS (
  SELECT doc_id, CAST({code} AS INT) AS simhash
  FROM votes
)"""


def _simhash_oracle() -> str:
    return f"""
WITH {_simhash_codes_sql(50)}
SELECT doc_id, simhash FROM codes ORDER BY doc_id
"""


def _simhash_neardup_oracle(limit: int = 200, max_hamming: int = 3) -> str:
    """Brute-force O(n^2) hamming pairs -- an INDEPENDENT derivation of the
    Spark side's banded equi-join (perfect-recall check of the banding)."""
    return f"""
WITH {_simhash_codes_sql(limit)}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM codes a JOIN codes b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
ORDER BY doc_a, doc_b
"""


_COSINE_PAIR = """
  SELECT query_id, neighbor_id,
         floor((sum(qv * cv) / (sqrt(sum(qv * qv)) * sqrt(sum(cv * cv)))) * 1000000 + 0.5) / 1000000
           AS cosine
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           unnest(list_transform(q.embedding, x -> CAST(x AS DOUBLE))) AS qv,
           unnest(list_transform(c.embedding, x -> CAST(x AS DOUBLE))) AS cv
    FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
    CROSS JOIN embeddings c
    WHERE c.vec_id != q.vec_id
  ) GROUP BY query_id, neighbor_id
"""


# -- token / quality / language / fingerprint -------------------------------
@register(
    "text_token_stats",
    oracle=f"""
SELECT doc_id,
       length(text) AS n_chars,
       len({_TOKS}) AS n_tokens,
       len(list_distinct({_TOKS})) AS n_uniq_tokens,
       floor(((length(text) - len({_TOKS}) + 1) * 1.0 / len({_TOKS})) * 10000 + 0.5) / 10000
         AS avg_token_len
FROM documents ORDER BY doc_id
""",
)
def q_token_stats(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    # round-11: sort the narrow scan FIRST, project after -- the final
    # orderBy over an expensive per-row projection makes the range
    # partitioner's boundary-sampling job evaluate the projection twice
    # (no shuffle below to reuse); doc_id is unique so the global order
    # is identical (see text_repetition_stats, OPTIMIZATION_r11.md).
    return TX.token_stats(docs.orderBy("doc_id"))


@register(
    "text_quality_score",
    oracle=f"""
WITH d AS (
  SELECT doc_id, text, {_TOKS} AS t,
         len({_TOKS}) AS n_tok,
         len(list_filter({_TOKS}, x -> list_contains(
           ['the','a','of','and','to','in','is','it','for','on'], x))) AS stop_hits
  FROM documents
)
SELECT doc_id, n_tok AS n_tokens,
       floor((len(list_distinct(t)) * 1.0 / n_tok) * 10000 + 0.5) / 10000 AS uniq_ratio,
       floor((stop_hits * 1.0 / n_tok) * 10000 + 0.5) / 10000 AS stopword_ratio,
       floor((length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
             / greatest(length(text), 1)) * 10000 + 0.5) / 10000 AS digit_ratio,
       floor((0.4 * least(n_tok / 50.0, 1.0)
             + 0.4 * (len(list_distinct(t)) * 1.0 / n_tok)
             + 0.2 * least(stop_hits * 5.0 / n_tok, 1.0)
             - 0.5 * (length(regexp_replace(text, '[^0-9]', '', 'g')) * 1.0
                      / greatest(length(text), 1))) * 10000 + 0.5) / 10000 AS quality_score
FROM d ORDER BY doc_id
""",
)
def q_quality_score(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    # round-11: sort the narrow scan FIRST, project after -- the final
    # orderBy over an expensive per-row projection makes the range
    # partitioner's boundary-sampling job evaluate the projection twice
    # (no shuffle below to reuse); doc_id is unique so the global order
    # is identical (see text_repetition_stats, OPTIMIZATION_r11.md).
    return TX.quality_score(docs.orderBy("doc_id"))


@register(
    "text_lang_id",
    oracle=f"""
WITH hits AS (
  SELECT doc_id,
         len(list_filter({_TOKS}, x -> list_contains(
           ['der','die','das','und','ist','von','mit','ein','zu','auf'], x))) AS hits_de,
         len(list_filter({_TOKS}, x -> list_contains(
           ['the','a','of','and','to','in','is','it','for','on'], x))) AS hits_en,
         len(list_filter({_TOKS}, x -> list_contains(
           ['el','la','de','y','es','en','un','una','que','por'], x))) AS hits_es,
         len(list_filter({_TOKS}, x -> list_contains(
           ['le','la','de','et','est','en','un','une','que','pour'], x))) AS hits_fr
  FROM documents
)
SELECT doc_id, hits_de, hits_en, hits_es, hits_fr,
       CASE WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
            WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
            WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
            WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM hits ORDER BY doc_id
""",
)
def q_lang_id(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    # round-11: sort the narrow scan FIRST, project after -- the final
    # orderBy over an expensive per-row projection makes the range
    # partitioner's boundary-sampling job evaluate the projection twice
    # (no shuffle below to reuse); doc_id is unique so the global order
    # is identical (see text_repetition_stats, OPTIMIZATION_r11.md).
    return TX.lang_id(docs.orderBy("doc_id"))


@register(
    "text_fingerprint",
    oracle=r"""
SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
FROM documents WHERE doc_id < 100 ORDER BY doc_id
""",
)
def q_fingerprint(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir).filter(F.col("doc_id") < 100)
    return TX.fingerprint(docs).orderBy("doc_id")


# -- quality-gate filtering: the actual training-data selection step --------
@register(
    "text_quality_filter_stats",
    oracle=f"""
WITH scored AS (
  SELECT lang,
         len(list_distinct({_TOKS})) * 1.0 / len({_TOKS}) AS uniq_ratio,
         len({_TOKS}) AS n_tok
  FROM documents WHERE len({_TOKS}) > 0
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN n_tok >= 20 AND uniq_ratio >= 0.5 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_pass,
       floor((sum(CASE WHEN n_tok >= 20 AND uniq_ratio >= 0.5 THEN 1 ELSE 0 END)
             * 100.0 / count(*)) * 10000 + 0.5) / 10000 AS pass_pct
FROM scored GROUP BY lang ORDER BY lang
""",
)
def q_quality_filter(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    t = TX.tokens("text")
    n_tok = F.size(t)
    uniq = F.try_divide(F.size(F.array_distinct(t)), n_tok)
    scored = docs.filter(n_tok > 0).select(
        "lang", n_tok.alias("n_tok"), uniq.alias("uniq_ratio")
    )
    passing = F.when((F.col("n_tok") >= 20) & (F.col("uniq_ratio") >= 0.5), 1).otherwise(0)
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(passing).alias("n_pass"),
            portable_round(F.sum(passing) * 100.0 / F.count(F.lit(1)), 4).alias(
                "pass_pct"
            ),
        )
        .orderBy("lang")
    )


# -- corpus length profile per source (quantiles over token counts) ---------
@register(
    "text_length_profile",
    oracle=f"""
SELECT source, count(*) AS n_docs,
       floor((quantile_cont(len({_TOKS}), 0.5)) * 10000 + 0.5) / 10000 AS p50_tokens,
       floor((quantile_cont(len({_TOKS}), 0.9)) * 10000 + 0.5) / 10000 AS p90_tokens,
       max(n_chars) AS max_chars
FROM documents GROUP BY source ORDER BY source
""",
)
def q_length_profile(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    n_tok = F.size(TX.tokens("text"))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            portable_round(F.percentile(n_tok, F.lit(0.5)), 4).alias("p50_tokens"),
            portable_round(F.percentile(n_tok, F.lit(0.9)), 4).alias("p90_tokens"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("source")
    )


# -- corpus vocabulary (word count) + TF-IDF --------------------------------
@register(
    "text_top_tokens",
    oracle=f"""
SELECT token, count(*) AS freq
FROM (SELECT unnest({_TOKS}) AS token FROM documents)
GROUP BY token ORDER BY freq DESC, token LIMIT 30
""",
)
def q_top_tokens(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    return TX.vocabulary(docs).orderBy(F.desc("freq"), "token").limit(30)


@register(
    "text_tfidf_top_terms",
    oracle=f"""
WITH tok AS (SELECT doc_id, unnest({_TOKS}) AS token FROM documents),
tc AS (SELECT doc_id, token, count(*) AS tc FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
df AS (SELECT token, count(*) AS df FROM tc GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tc.doc_id, tc.token,
         floor(((tc.tc * 1.0 / dl.dl) * ln(n.n_docs * 1.0 / df.df)) * 1000000 + 0.5) / 1000000 AS tfidf
  FROM tc JOIN dl USING (doc_id) JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, tfidf FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, token) AS rk
  FROM scored WHERE doc_id < 20
) WHERE rk <= 3 ORDER BY doc_id, tfidf DESC, token
""",
)
def q_tfidf_top(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    docs = table(spark, "documents", sf_dir)
    scored = TX.tf_idf(docs).filter(F.col("doc_id") < 20)
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "tfidf")
        .orderBy("doc_id", F.desc("tfidf"), "token")
    )


# -- dedup family -----------------------------------------------------------
@register(
    "dedup_exact_stats",
    oracle=r"""
SELECT count(*) AS n_docs,
       count(DISTINCT coalesce(
         md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))), '__null_text__'))
         AS n_kept
FROM documents
""",
)
def q_dedup_exact_stats(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    kept = DD.exact_dedup(docs)
    return docs.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        kept.agg(F.count(F.lit(1)).alias("n_kept"))
    )


@register(
    "dedup_tokenset_groups",
    oracle=f"""
SELECT md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS key,
       count(*) AS n_docs,
       min(doc_id) AS keep_id,
       array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
FROM documents
GROUP BY 1 HAVING count(*) > 1
ORDER BY keep_id
""",
)
def q_dedup_tokenset(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    groups = DD.tokenset_dup_groups(docs)
    # flat output contract: the driver canonicalizer cannot sort array
    # columns, so the member list is emitted as a comma-joined string
    return groups.select(
        "key",
        "n_docs",
        "keep_id",
        F.array_join(
            F.transform(F.sort_array("doc_ids"), lambda x: x.cast("string")), ","
        ).alias("doc_ids"),
    ).orderBy("keep_id")


@register("dedup_minhash_lsh_pairs", oracle=_minhash_oracle(0.5))
def q_minhash_lsh(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    return DD.minhash_lsh_dedup_pairs(
        docs, k=MINHASH_K, bands=MINHASH_BANDS, threshold=0.5
    ).orderBy("doc_a", "doc_b")


@register(
    "dedup_ngram_jaccard_pairs",
    oracle=f"""
WITH docs AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (SELECT doc_id, {_SHINGLES} AS s FROM docs WHERE len(t) >= 3)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       floor((len(list_intersect(a.s, b.s)) * 1.0
              / len(list_distinct(list_concat(a.s, b.s)))) * 10000 + 0.5)
         / 10000 AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.s, b.s)) * 1.0
      / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
ORDER BY doc_a, doc_b
""",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str):
    """Exact shingle-Jaccard pair join -- the verification surface for the
    LSH path (dedup_minhash_lsh_pairs remains the probabilistic 100 TB
    path; this lane is the exact ground truth it is measured against).

    scale-ledger EXCLUDED by declared design: the exact all-pairs truth
    set is itself ~quadratic on this fixture (the LSH lane is the
    production path) -- tools/scale_bench.py EXCLUDED carries the
    matching entry.

    Round 11 (optimization): the O(n^2) crossJoin (22.8 s at sf0.1, the
    single biggest bench lane) became the AllPairs/PPJoin prefix-filtering
    join over the SAME shingle sets (operators/setsim.py) -- exact by the
    prefix-filtering principle, so the result set is bit-identical (the
    DuckDB oracle still brute-forces all pairs). The jaccard value is the
    same integer ratio i/(sa+sb-i) the crossJoin computed via
    array_intersect/array_union (shingle arrays are distinct by
    construction), rounded by the identical floor(x*1e4+0.5)/1e4."""
    docs = table(spark, "documents", sf_dir)
    sh = docs.select("doc_id", DD.shingles("text").alias("s"))
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.setsim import (
        setsim_prefix_join_sets,
    )

    return setsim_prefix_join_sets(sh, "doc_id", "s", num=1, den=2).orderBy(
        "doc_a", "doc_b"
    )


@register("dedup_simhash_codes", oracle=_simhash_oracle())
def q_simhash(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir).filter(F.col("doc_id") < 50)
    return DD.simhash_codes(docs).orderBy("doc_id")


# -- similarity search ------------------------------------------------------
@register(
    "sim_topk_bruteforce",
    oracle=f"""
WITH scored AS (
{_COSINE_PAIR}
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
""",
)
def q_sim_bruteforce(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.brute_force_topk(emb, queries, k=5)


def _lsh_bucket_sql(n_planes: int, dim: int = 64) -> str:
    """DuckDB expression replicating operators.similarity.lsh_bucket: plane
    j's weight for dim i is +1 iff md5('j|i') starts with hex digit <= '7';
    bit j = (sum_i w_i * v_i) > 0; bucket = sum_j 2^j * bit_j."""
    bits = []
    for j in range(n_planes):
        terms = (
            f"[CASE WHEN substr(md5('{j}|' || CAST(i - 1 AS VARCHAR)), 1, 1) <= '7' "
            f"THEN CAST(embedding[i] AS DOUBLE) ELSE -CAST(embedding[i] AS DOUBLE) END "
            f"for i in range(1, {dim + 1})]"
        )
        bits.append(f"(CASE WHEN list_sum({terms}) > 0 THEN {2 ** j} ELSE 0 END)")
    return " + ".join(bits)


_LSH_PLANES = 4

_LSH_ORACLE = f"""
WITH b AS (
  SELECT vec_id, embedding, {_lsh_bucket_sql(_LSH_PLANES)} AS bucket
  FROM embeddings
),
scored AS (
  SELECT query_id, neighbor_id,
         floor((sum(qv * cv) / (sqrt(sum(qv * qv)) * sqrt(sum(cv * cv)))) * 1000000 + 0.5) / 1000000
           AS cosine
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           unnest(list_transform(q.embedding, x -> CAST(x AS DOUBLE))) AS qv,
           unnest(list_transform(c.embedding, x -> CAST(x AS DOUBLE))) AS cv
    FROM (SELECT * FROM b WHERE vec_id < 10) q
    JOIN b c ON c.bucket = q.bucket AND c.vec_id != q.vec_id
  ) GROUP BY query_id, neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5 ORDER BY query_id, rank
"""


@register("sim_topk_lsh", oracle=_LSH_ORACLE)
def q_sim_lsh(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.lsh_topk(emb, queries, k=5, n_planes=_LSH_PLANES)


_IVF_ORACLE = """
WITH e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
expl AS (
  SELECT label, unnest(v) AS val, unnest(range(1, 65)) AS pos FROM e
),
centroids AS (
  SELECT label AS cluster, list(cval ORDER BY pos) AS centroid
  FROM (SELECT label, pos, avg(val) AS cval FROM expl GROUP BY label, pos)
  GROUP BY label
),
probe_scores AS (
  SELECT query_id, cluster,
         sum(qv * cv) / (sqrt(sum(qv * qv)) * sqrt(sum(cv * cv))) AS sim
  FROM (
    SELECT q.vec_id AS query_id, c.cluster,
           unnest(q.v) AS qv, unnest(c.centroid) AS cv
    FROM (SELECT * FROM e WHERE vec_id < 10) q CROSS JOIN centroids c
  ) GROUP BY query_id, cluster
),
probes AS (
  SELECT query_id, cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim DESC, cluster) AS prank
    FROM probe_scores
  ) WHERE prank <= 3
),
scored AS (
  SELECT query_id, neighbor_id,
         floor((sum(qv * cv) / (sqrt(sum(qv * qv)) * sqrt(sum(cv * cv)))) * 1000000 + 0.5) / 1000000
           AS cosine
  FROM (
    SELECT p.query_id, c.vec_id AS neighbor_id,
           unnest(q.v) AS qv, unnest(c.v) AS cv
    FROM probes p
    JOIN e q ON q.vec_id = p.query_id
    JOIN e c ON c.label = p.cluster AND c.vec_id != p.query_id
  ) GROUP BY query_id, neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
) WHERE rank <= 5 ORDER BY query_id, rank
"""


@register("sim_topk_ivf", oracle=_IVF_ORACLE)
def q_sim_ivf(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return SIM.ivf_topk(emb, queries, k=5, n_probe=3)


# -- transitive near-dup clusters: LSH pairs -> connected components --------
def _clusters_oracle(threshold: float = 0.5) -> str:
    rows = MINHASH_K // MINHASH_BANDS
    sig_cols = ",\n         ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}|' || s)), 'min') AS sig_{i}"
        for i in range(MINHASH_K)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5({parts}) AS h FROM sigs".format(
            b=b, parts=" || ".join(f"sig_{b * rows + r}" for r in range(rows))
        )
        for b in range(MINHASH_BANDS)
    )
    return f"""
WITH RECURSIVE docs AS (SELECT doc_id, {_TOKS} AS t FROM documents),
shingled AS (SELECT doc_id, {_SHINGLES} AS sh FROM docs WHERE len(t) >= 3),
sigs AS (SELECT doc_id, sh, {sig_cols} FROM shingled),
bands AS (
{band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN shingled sa ON sa.doc_id = c.doc_a
  JOIN shingled sb ON sb.doc_id = c.doc_b
  WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0
        / len(list_distinct(list_concat(sa.sh, sb.sh))) >= {threshold}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM verified
  UNION SELECT doc_b, doc_a FROM verified
),
reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.node
)
SELECT node, min(comp) AS component FROM reach GROUP BY node ORDER BY node
"""


@register("dedup_clusters", oracle=_clusters_oracle(0.5))
def q_dedup_clusters(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    pairs = DD.minhash_lsh_dedup_pairs(
        docs, k=MINHASH_K, bands=MINHASH_BANDS, threshold=0.5
    )
    return DD.connected_components(pairs).orderBy("node")


# -- multimodal plumbing over binary columns (decode step is a
# -- deterministic stub in this container; see operators/multimodal.py) -----
def _hexbyte(i: int) -> str:
    """DuckDB SQL for byte ``i`` (0-based) of the sha256 hex digest ``h``."""
    c1, c2 = 2 * i + 1, 2 * i + 2
    return (
        f"((strpos('0123456789abcdef', substr(h, {c1}, 1)) - 1) * 16"
        f" + (strpos('0123456789abcdef', substr(h, {c2}, 1)) - 1))"
    )


def _mm_decode_oracle() -> str:
    """The fake decoder derives every output from sha256(content), so DuckDB
    can recompute the ENTIRE mapInPandas stage -- width/height/channels and
    the feature vector included -- from first principles. content is
    utf-8(text), so DuckDB's VARCHAR sha256 hashes identical bytes."""
    feat_sum = " + ".join(_hexbyte(4 + j) for j in range(8))
    return f"""
WITH m AS (
  SELECT doc_id AS media_id, encode(text) AS content, sha256(text) AS h
  FROM documents WHERE doc_id < 100
)
SELECT media_id,
       CAST(octet_length(content) AS INT) AS n_bytes,
       'application/octet-stream' AS sniffed_mime,
       h AS sha256,
       CAST(16 + {_hexbyte(0)} % 64 AS INT) AS width,
       CAST(16 + {_hexbyte(1)} % 64 AS INT) AS height,
       CAST(1 + {_hexbyte(2)} % 3 AS INT) AS channels,
       8 AS n_features,
       floor(({_hexbyte(4)} / 255.0) * 1000000 + 0.5) / 1000000 AS feat_first,
       floor((({feat_sum}) / 255.0) * 1000000 + 0.5) / 1000000 AS feat_sum
FROM m ORDER BY media_id
"""


@register("mm_decode_features", oracle=_mm_decode_oracle())
def q_mm_decode(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.multimodal import (
        decode_and_featurize,
        sniff_metadata,
    )

    docs = table(spark, "documents", sf_dir).filter(F.col("doc_id") < 100)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
    )
    sniffed = sniff_metadata(media).select("media_id", "n_bytes", "sniffed_mime")
    # flat output contract (driver canonicalizer): digest the feature
    # vector into scalars instead of emitting the array column
    decoded = decode_and_featurize(media).select(
        "media_id",
        "sha256",
        "width",
        "height",
        "channels",
        F.size("features").alias("n_features"),
        portable_round(F.element_at("features", 1), 6).alias("feat_first"),
        portable_round(
            F.aggregate(
                "features", F.lit(0.0), lambda acc, x: acc + x
            ),
            6,
        ).alias("feat_sum"),
    )
    return sniffed.join(decoded, "media_id").orderBy("media_id")


@register(
    "emb_neardup_pairs",
    oracle="""
WITH e AS (SELECT vec_id, label,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings)
SELECT id_a, id_b, cosine FROM (
  SELECT a_id AS id_a, b_id AS id_b,
         floor((sum(av * bv) / (sqrt(sum(av * av)) * sqrt(sum(bv * bv)))) * 1000000 + 0.5) / 1000000
           AS cosine
  FROM (
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           unnest(a.v) AS av, unnest(b.v) AS bv
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
  ) GROUP BY a_id, b_id
) WHERE cosine >= 0.4
ORDER BY id_a, id_b
""",
)
def q_emb_neardup(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir)
    return SIM.embedding_neardup_pairs(emb, threshold=0.4)


# -- LLM token budgeting: BPE-ish subword estimate (integer-exact) ----------
@register(
    "text_bpe_token_estimate",
    oracle=r"""
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS n_pieces,
       CAST(coalesce(list_sum(list_transform(
            regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'),
            p -> (length(p) + 3) // 4)), 0) AS BIGINT) AS est_bpe_tokens
FROM documents ORDER BY doc_id
""",
)
def q_bpe_token_estimate(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    # round-11: sort the narrow scan FIRST, project after -- the final
    # orderBy over an expensive per-row projection makes the range
    # partitioner's boundary-sampling job evaluate the projection twice
    # (no shuffle below to reuse); doc_id is unique so the global order
    # is identical (see text_repetition_stats, OPTIMIZATION_r11.md).
    return TX.bpe_token_estimate(docs.orderBy("doc_id"))


# -- rolling-hash (winnowing) fingerprints, flat digest output --------------
@register(
    "text_winnow_fingerprints",
    oracle=r"""
-- row-explode + window-min formulation: identical to the per-list
-- [list_min(hs[i:i+3]) ...] comprehension (frames filtered to full width)
-- but linear -- the comprehension form measured ~8 min at sf0.01 vs
-- seconds for this one
WITH d AS (
  SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
  FROM documents WHERE doc_id < 200
), pos AS (
  SELECT doc_id, i, md5(substr(t, CAST(i AS INT), 8)) AS h
  FROM (
    SELECT doc_id, t, unnest(generate_series(1, length(t) - 7)) AS i
    FROM d WHERE length(t) >= 8
  )
), wmin AS (
  SELECT doc_id, i,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wm,
         count(*) OVER (PARTITION BY doc_id) AS nh
  FROM pos
), fp AS (
  SELECT DISTINCT doc_id, wm FROM wmin WHERE i <= nh - 3
), agg AS (
  SELECT doc_id, list_sort(list(wm)) AS fps FROM fp GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(len(a.fps), 0) AS n_fingerprints,
       md5(array_to_string(coalesce(a.fps, CAST([] AS VARCHAR[])), ','))
         AS fp_digest
FROM d LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id
""",
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir).filter(F.col("doc_id") < 200)
    return TX.winnow_fingerprints(docs, k=8, window=4).orderBy("doc_id")


# -- Gopher-style repetition quality rules (Rae et al. 2021 A1.1) -----------
def _rep_gram_cte(n: int) -> str:
    """Top word-n-gram char fraction CTEs: explode grams, count, argmax
    by (count, gram), chars = count * len(gram)."""
    return f"""
g{n} AS (
  SELECT doc_id,
         unnest(CASE WHEN len(t) >= {n}
                THEN [array_to_string(t[i:i+{n - 1}], ' ')
                      for i in range(1, len(t) - {n} + 2)]
                ELSE [] END) AS g
  FROM toks
), c{n} AS (
  SELECT doc_id, g, count(*) AS cnt,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY count(*) DESC, g DESC) AS rn
  FROM g{n} GROUP BY doc_id, g
), top{n} AS (
  SELECT doc_id, cnt * length(g) AS top_chars FROM c{n} WHERE rn = 1
)"""


_REP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, text, {_TOKS} AS t FROM documents
),
{_rep_gram_cte(2).lstrip()},
{_rep_gram_cte(3).lstrip()},
{_rep_gram_cte(4).lstrip()},
base AS (
  SELECT doc_id, text, t,
         list_filter(list_transform(string_split_regex(text, '\\n'),
                                    s -> trim(s)), s -> s != '') AS lines,
         list_filter(list_transform(string_split_regex(text, '\\n\\n+'),
                                    s -> trim(s)), s -> s != '') AS paras
  FROM toks
)
SELECT b.doc_id,
       CASE WHEN len(lines) > 0 THEN floor((len(lines) - len(list_distinct(lines))) * 1.0 / len(lines) * 10000 + 0.5) / 10000 ELSE 0.0 END AS dup_line_frac,
       CASE WHEN len(paras) > 0 THEN floor((len(paras) - len(list_distinct(paras))) * 1.0 / len(paras) * 10000 + 0.5) / 10000 ELSE 0.0 END AS dup_para_frac,
       CASE WHEN len(t) > 0 THEN floor((len(t) - len(list_distinct(t))) * 1.0 / len(t) * 10000 + 0.5) / 10000 ELSE 0.0 END AS dup_token_frac,
       coalesce(floor(t2.top_chars * 1.0 / length(b.text) * 10000 + 0.5) / 10000, 0.0) AS top2gram_char_frac,
       coalesce(floor(t3.top_chars * 1.0 / length(b.text) * 10000 + 0.5) / 10000, 0.0) AS top3gram_char_frac,
       coalesce(floor(t4.top_chars * 1.0 / length(b.text) * 10000 + 0.5) / 10000, 0.0) AS top4gram_char_frac
FROM base b
LEFT JOIN top2 t2 USING (doc_id)
LEFT JOIN top3 t3 USING (doc_id)
LEFT JOIN top4 t4 USING (doc_id)
ORDER BY doc_id
"""


@register("text_repetition_stats", oracle=_REP_ORACLE)
def q_repetition_stats(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    # Sort the NARROW input, project after (round-11, guide §2.4): a final
    # orderBy over the expensive per-row projection makes the range
    # partitioner's boundary-sampling job evaluate the whole projection a
    # second time (no shuffle below it to reuse) -- measured +1.4 s of the
    # lane's 3.1 s at sf0.1. doc_id is unique, so sorting first and
    # projecting after yields the identical global order.
    return TX.repetition_stats(docs.orderBy("doc_id"))


# -- PII detection counts ---------------------------------------------------
# The synthetic fixture contains no PII, so the query plants deterministic
# PII derived from doc_id on BOTH sides (same concat in Spark and SQL),
# making the regex machinery a non-trivial cross-engine check.
_PII_AUG_SQL = """
text || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
     || CASE WHEN doc_id % 5 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' ELSE '' END
     || CASE WHEN doc_id % 7 = 0 THEN ' see https://example.org/d/' || CAST(doc_id AS VARCHAR) ELSE '' END
     || CASE WHEN doc_id % 11 = 0 THEN ' call +1555' || CAST(1000000 + doc_id AS VARCHAR) ELSE '' END
"""

_PII_ORACLE = f"""
WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(text, '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b')) AS INT) AS n_ipv4,
       CAST(len(regexp_extract_all(text, 'https?://[^\\s]+')) AS INT) AS n_url,
       CAST(len(regexp_extract_all(text, '\\+[0-9]{{7,15}}')) AS INT) AS n_phone,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))
          + len(regexp_extract_all(text, '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b'))
          + len(regexp_extract_all(text, 'https?://[^\\s]+'))
          + len(regexp_extract_all(text, '\\+[0-9]{{7,15}}')) AS INT) AS pii_total
FROM aug ORDER BY doc_id
"""


@register("text_pii_stats", oracle=_PII_ORACLE)
def q_pii_stats(spark: SparkSession, sf_dir: str):
    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(d % 3 == 0, F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.concat(F.lit(" from 10.0."), (d % 256).cast("string"), F.lit(".1"))).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.concat(F.lit(" see https://example.org/d/"), d.cast("string"))).otherwise(F.lit("")),
        F.when(d % 11 == 0, F.concat(F.lit(" call +1555"), (d + 1000000).cast("string"))).otherwise(F.lit("")),
    )
    docs = table(spark, "documents", sf_dir).orderBy("doc_id").withColumn("text", aug)
    # round-11: sort the narrow scan FIRST, project after -- the final
    # orderBy over an expensive per-row projection makes the range
    # partitioner's boundary-sampling job evaluate the projection twice
    # (no shuffle below to reuse); doc_id is unique so the global order
    # is identical (see text_repetition_stats, OPTIMIZATION_r11.md).
    return TX.pii_stats(docs)


# -- deterministic hash sampling / source mixing ----------------------------
_MIX_RATES = {f"src{i}": (2 + i % 5) / 8 for i in range(20)}  # exact binary

_MIX_ORACLE = f"""
WITH w(source, rate) AS (VALUES {", ".join(f"('{s}', CAST({r} AS DOUBLE))" for s, r in _MIX_RATES.items())}),
keyed AS (
  SELECT d.source, w.rate,
         substr(md5('mix1' || chr(31) || CAST(d.doc_id AS VARCHAR)), 1, 8) AS sk,
         lower(printf('%08x', CAST(least(greatest(floor(w.rate * 4294967296), 0), 4294967295) AS BIGINT))) AS thr
  FROM documents d JOIN w USING (source)
)
SELECT source, rate,
       CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN sk < thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       floor(sum(CASE WHEN sk < thr THEN 1 ELSE 0 END) * 1.0 / count(*) * 10000 + 0.5) / 10000 AS kept_frac
FROM keyed GROUP BY source, rate ORDER BY source
"""


@register("sample_mix_sources", oracle=_MIX_ORACLE)
def q_sample_mix_sources(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators import sampling as SP

    docs = table(spark, "documents", sf_dir)
    weights = spark.createDataFrame(
        list(_MIX_RATES.items()), "source string, rate double"
    )
    kept = SP.mix_sources(docs, weights, "source", "doc_id", seed="mix1")
    totals = docs.groupBy("source").agg(F.count("*").alias("n_total"))
    kept_counts = kept.groupBy("source", "rate").agg(
        F.count("*").alias("n_kept")
    )
    return (
        totals.join(kept_counts, "source", "left")
        .select(
            "source",
            "rate",
            "n_total",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            portable_round(
                F.coalesce(F.col("n_kept"), F.lit(0)) / F.col("n_total"), 4
            ).alias("kept_frac"),
        )
        .orderBy("source")
    )


# -- benchmark-contamination n-gram overlap ---------------------------------
# Real decontamination uses 8-13 grams; the synthetic fixture's vocabulary
# is tiny, so n=3 keeps the overlap distribution non-degenerate here.
_CONTAM_N = 3
_CONTAM_GRAMS = (
    f"CASE WHEN len(t) >= {_CONTAM_N} THEN "
    f"list_distinct([array_to_string(t[i:i+{_CONTAM_N - 1}], ' ') "
    f"for i in range(1, len(t) - {_CONTAM_N} + 2)]) ELSE [] END"
)

_CONTAM_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS (SELECT doc_id, {_CONTAM_GRAMS} AS gs FROM toks),
bench AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id % 25 = 0),
corpus AS (SELECT doc_id, unnest(gs) AS g FROM grams WHERE doc_id % 25 <> 0),
matched AS (
  SELECT c.doc_id, count(*) AS contaminated_ngrams
  FROM corpus c JOIN bench b USING (g) GROUP BY c.doc_id
)
SELECT g.doc_id,
       CAST(len(g.gs) AS INT) AS n_ngrams,
       CAST(coalesce(m.contaminated_ngrams, 0) AS BIGINT) AS contaminated_ngrams,
       CASE WHEN len(g.gs) > 0
            THEN floor(coalesce(m.contaminated_ngrams, 0) * 1.0 / len(g.gs) * 10000 + 0.5) / 10000
            ELSE 0.0 END AS contaminated_frac
FROM grams g LEFT JOIN matched m USING (doc_id)
WHERE g.doc_id % 25 <> 0
ORDER BY g.doc_id
"""


@register("dedup_contamination_check", oracle=_CONTAM_ORACLE)
def q_contamination_check(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    corpus = docs.filter(F.col("doc_id") % 25 != 0)
    return DD.ngram_contamination(corpus, bench, n=_CONTAM_N).orderBy("doc_id")


# -- character entropy: corpus-quality signal (round 3) ---------------------
# DuckDB's entropy() aggregate computes the identical -sum(p log2 p) over
# the same exploded char stream, so both engines derive the value from
# first principles independently.
@register(
    "text_entropy_stats",
    oracle=r"""
WITH chars AS (
  SELECT doc_id, length(text) AS n_chars,
         unnest(regexp_extract_all(lower(text), '[\s\S]')) AS ch
  FROM documents
)
SELECT doc_id,
       first(n_chars) AS n_chars,
       count(DISTINCT ch) AS n_distinct_chars,
       floor(entropy(ch) * 1000000 + 0.5) / 1000000 AS entropy_bits
FROM chars GROUP BY doc_id ORDER BY doc_id
""",
)
def q_entropy_stats(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    return TX.char_entropy(docs).orderBy("doc_id")


# -- k-means assignment step over embeddings (round 3) ----------------------
# Centroids = per-label mean vectors; each vector re-assigned to nearest
# (squared L2, ties to smaller label). DuckDB re-derives centroids and
# distances from scratch via unnest + positional join.
@register(
    "emb_centroid_assign",
    oracle="""
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
exp AS (
  SELECT vec_id, label, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM e
),
cent AS (
  SELECT label AS clabel, pos, avg(val) AS cval FROM exp GROUP BY 1, 2
),
dists AS (
  SELECT x.vec_id, x.label, c.clabel, sum((x.val - c.cval) * (x.val - c.cval)) AS d2
  FROM exp x JOIN cent c ON x.pos = c.pos
  GROUP BY 1, 2, 3
),
ranked AS (
  SELECT vec_id, label AS true_label, clabel AS assigned_label, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
  FROM dists
)
SELECT vec_id, true_label, assigned_label,
       floor(d2 * 1000000 + 0.5) / 1000000 AS dist2,
       (assigned_label = true_label) AS is_own_centroid
FROM ranked WHERE rn = 1 ORDER BY vec_id
""",
)
def q_emb_centroid_assign(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir)
    return SIM.centroid_assign(emb).orderBy("vec_id")


# -- canonical-representative selection per near-dup cluster (round 3) ------
# The step after clustering in a real corpus pipeline: of each near-dup
# cluster, KEEP the best document (here: most distinct tokens; ties to the
# smaller doc_id) and count what gets dropped. argmax is a mergeable
# max(struct(quality, -doc_id)) aggregate -- no window over the corpus.
@register(
    "dedup_keep_best",
    oracle=f"""
WITH clusters AS (
  SELECT * FROM ({_clusters_oracle(0.5).replace("ORDER BY node", "")}) _c
),
scored AS (
  SELECT doc_id, len(list_distinct({_TOKS})) AS q FROM documents
),
j AS (
  SELECT c.component, c.node, s.q FROM clusters c JOIN scored s ON s.doc_id = c.node
),
r AS (
  SELECT component, node, q,
         row_number() OVER (PARTITION BY component ORDER BY q DESC, node) AS rn,
         count(*) OVER (PARTITION BY component) AS n_members
  FROM j
)
SELECT component, node AS kept_doc_id, q AS kept_quality,
       CAST(n_members AS BIGINT) AS n_members,
       CAST(n_members - 1 AS BIGINT) AS n_dropped
FROM r WHERE rn = 1 ORDER BY component
""",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    pairs = DD.minhash_lsh_dedup_pairs(
        docs, k=MINHASH_K, bands=MINHASH_BANDS, threshold=0.5
    )
    cc = DD.connected_components(pairs)
    scored = docs.select(
        F.col("doc_id"),
        F.size(F.array_distinct(TX.tokens("text"))).alias("q"),
    )
    j = cc.join(scored, cc["node"] == scored["doc_id"], "inner").select(
        "component", "node", "q"
    )
    best = j.groupBy("component").agg(
        F.max(F.struct(F.col("q").alias("q"), (-F.col("node")).alias("negnode"))).alias(
            "_b"
        ),
        F.count(F.lit(1)).alias("n_members"),
    )
    return best.select(
        "component",
        (-F.col("_b.negnode")).alias("kept_doc_id"),
        F.col("_b.q").alias("kept_quality"),
        "n_members",
        (F.col("n_members") - 1).alias("n_dropped"),
    ).orderBy("component")


# -- blocked fuzzy matching via edit distance (round 3) ---------------------
@register(
    "text_fuzzy_prefix_pairs",
    oracle=r"""
WITH d AS (
  SELECT doc_id, lang, source,
         substr(lower(regexp_replace(trim(text), '\s+', ' ', 'g')), 1, 30) AS p
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.lang, a.source,
       levenshtein(a.p, b.p) AS edit_distance
FROM d a JOIN d b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE levenshtein(a.p, b.p) <= 18
ORDER BY id_a, id_b
""",
)
def q_fuzzy_prefix_pairs(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    return TX.fuzzy_prefix_pairs(docs).orderBy("id_a", "id_b")


# -- PII redaction transform (round 4) --------------------------------------
# pii_stats counts; this REWRITES -- the corpus-shipping form. Same
# deterministic PII augmentation as text_pii_stats; the full redacted text
# participates in the value hash, so the oracle must reproduce every
# replacement byte-for-byte (same patterns, same order, global flag).
_REDACT_SQL = "text"
for _name, _pat in (
    ("EMAIL", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
    ("IPV4", "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"),
    ("URL", "https?://[^\\s]+"),
    ("PHONE", "\\+[0-9]{7,15}"),
):
    _REDACT_SQL = f"regexp_replace({_REDACT_SQL}, '{_pat}', '<{_name}>', 'g')"

_REDACT_ORACLE = f"""
WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents)
SELECT doc_id,
       {_REDACT_SQL} AS redacted_text,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))
          + len(regexp_extract_all(text, '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b'))
          + len(regexp_extract_all(text, 'https?://[^\\s]+'))
          + len(regexp_extract_all(text, '\\+[0-9]{{7,15}}')) AS INT) AS n_redacted
FROM aug ORDER BY doc_id
"""


@register("text_pii_redaction", oracle=_REDACT_ORACLE)
def q_pii_redaction(spark: SparkSession, sf_dir: str):
    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(d % 3 == 0, F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.concat(F.lit(" from 10.0."), (d % 256).cast("string"), F.lit(".1"))).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.concat(F.lit(" see https://example.org/d/"), d.cast("string"))).otherwise(F.lit("")),
        F.when(d % 11 == 0, F.concat(F.lit(" call +1555"), (d + 1000000).cast("string"))).otherwise(F.lit("")),
    )
    docs = table(spark, "documents", sf_dir).orderBy("doc_id").withColumn("text", aug)
    # round-11: sort the narrow scan FIRST, project after -- the final
    # orderBy over an expensive per-row projection makes the range
    # partitioner's boundary-sampling job evaluate the projection twice
    # (no shuffle below to reuse); doc_id is unique so the global order
    # is identical (see text_repetition_stats, OPTIMIZATION_r11.md).
    return TX.redact_pii(docs)


# -- per-label embedding norm profile (round 4) -----------------------------
# Vector hygiene for the ANN/near-dup family: zero vectors (failed
# encoders) and norm outliers (truncated or unnormalized batches) are the
# embedding-space analog of the events outlier gate. Per-row L2 norm is a
# sequential double fold (same element order both engines), quantized to
# 4 decimals; per-label means go through DECIMAL so accumulation order
# cannot drift the hash. One scan, one hash agg -- word-count shape.
_EMB_NORM_ORACLE = """
WITH norms AS (
  SELECT label,
         floor(sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 10000 + 0.5)
           / 10000 AS qn,
         len(embedding) AS dim
  FROM embeddings
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(max(dim) AS INT) AS dim,
       floor((CAST(sum(CAST(qn AS DECIMAL(18,4))) AS DOUBLE) / count(*))
             * 10000 + 0.5) / 10000 AS mean_norm,
       min(qn) AS min_norm,
       max(qn) AS max_norm,
       CAST(sum(CASE WHEN qn = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
FROM norms GROUP BY label ORDER BY label
"""


@register("emb_norm_stats", oracle=_EMB_NORM_ORACLE)
def q_emb_norm_stats(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir)
    x = F.col("x").cast("double")
    norm = F.sqrt(
        F.aggregate("embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )
    qn = F.floor(norm * 10000 + 0.5) / 10000
    norms = emb.select(
        "label", qn.alias("qn"), F.size("embedding").alias("dim")
    )
    return (
        norms.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.max("dim").cast("int").alias("dim"),
            (
                F.floor(
                    (
                        F.sum(F.col("qn").cast("decimal(18,4)")).cast("double")
                        / F.count(F.lit(1))
                    )
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("mean_norm"),
            F.min("qn").alias("min_norm"),
            F.max("qn").alias("max_norm"),
            F.sum(F.when(F.col("qn") == 0, 1).otherwise(0)).alias("n_zero"),
        )
        .orderBy("label")
    )


# -- exact-quota stratified sampling (round 4) ------------------------------
# "exactly K docs per source", deterministic and subset-consistent: keep
# the K smallest md5 sampling keys per stratum. Spark plans the
# rank-truncating window with WindowGroupLimit (top-K pushed into the
# shuffle sort), so no stratum is ever fully materialized per-task.
_STRATA_K = 7

_STRATA_ORACLE = f"""
SELECT source, doc_id
FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY substr(md5('strata' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 8),
                    doc_id
         ) AS rn
  FROM documents
) WHERE rn <= {_STRATA_K}
ORDER BY source, doc_id
"""


@register("sample_stratified_topk", oracle=_STRATA_ORACLE)
def q_sample_stratified_topk(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators import sampling as SP

    docs = table(spark, "documents", sf_dir)
    return (
        SP.stratified_topk(docs, "source", _STRATA_K, "doc_id", seed="strata")
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    )


# -- sequence-packing efficiency (round 4) ----------------------------------
# LLM training batches pack documents into fixed seq_len windows; the gap
# between one-doc-per-sequence and the concatenation lower bound is the
# compute a packer can recover. Integer-exact everywhere (reuses the BPE
# estimate), so the cross-engine hash is exact. One scan + one hash agg.
_PACK_SEQ_LEN = 512

_PACK_ORACLE = f"""
WITH est AS (
  SELECT source,
         CAST(coalesce(list_sum(list_transform(
              regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'),
              p -> (length(p) + 3) // 4)), 0) AS BIGINT) AS est_tokens
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(est_tokens) AS BIGINT) AS total_tokens,
       CAST(sum((est_tokens + {_PACK_SEQ_LEN} - 1) // {_PACK_SEQ_LEN}) AS BIGINT)
         AS n_seqs_padded,
       CAST((sum(est_tokens) + {_PACK_SEQ_LEN} - 1) // {_PACK_SEQ_LEN} AS BIGINT)
         AS n_seqs_packed_lb,
       floor((1.0 - CAST(sum(est_tokens) AS DOUBLE)
                    / (CAST(sum((est_tokens + {_PACK_SEQ_LEN} - 1) // {_PACK_SEQ_LEN}) AS DOUBLE) * {_PACK_SEQ_LEN}))
             * 10000 + 0.5) / 10000 AS waste_frac
FROM est GROUP BY source ORDER BY source
"""


@register("text_packing_estimate", oracle=_PACK_ORACLE)
def q_text_packing_estimate(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    est = TX.bpe_token_estimate(docs.withColumn("source", F.col("source")), id_col="source").select(
        F.col("source"), F.col("est_bpe_tokens").alias("est_tokens")
    )
    seq = _PACK_SEQ_LEN
    padded = F.sum(F.floor((F.col("est_tokens") + seq - 1) / seq).cast("long"))
    total = F.sum("est_tokens")
    return (
        est.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            total.cast("long").alias("total_tokens"),
            padded.cast("long").alias("n_seqs_padded"),
            F.floor((total + seq - 1) / seq).cast("long").alias("n_seqs_packed_lb"),
            (
                F.floor(
                    (
                        1.0
                        - total.cast("double")
                        / (padded.cast("double") * seq)
                    )
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("waste_frac"),
        )
        .orderBy("source")
    )


# -- corpus n-gram novelty (round 4) -----------------------------------------
# Per-document fraction of its distinct 3-grams that are corpus-UNIQUE --
# high novelty = fresh content, low = boilerplate/template mass. The
# boilerplate-detection complement of the contamination check.
#
# Scale: explode distinct grams (shuffle bounded by total distinct grams
# per doc, NOT doc length²), one count agg with map-side combine, one
# equi-join back on the gram, one final per-doc agg. All codegen.
_NOVELTY_GRAMS = (
    "CASE WHEN len(t) >= 3 THEN "
    "list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)]) "
    "ELSE [] END"
)

_NOVELTY_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
grams AS (SELECT doc_id, unnest({_NOVELTY_GRAMS}) AS g FROM toks),
counts AS (SELECT g, count(*) AS n_docs_with FROM grams GROUP BY g),
per_doc AS (
  SELECT grams.doc_id,
         count(*) AS n_grams,
         sum(CASE WHEN counts.n_docs_with = 1 THEN 1 ELSE 0 END) AS n_unique
  FROM grams JOIN counts USING (g) GROUP BY grams.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(p.n_unique, 0) AS BIGINT) AS n_unique,
       CASE WHEN coalesce(p.n_grams, 0) > 0
            THEN floor(p.n_unique * 1.0 / p.n_grams * 10000 + 0.5) / 10000
            ELSE 0.0 END AS novelty_frac
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


@register("text_ngram_novelty", oracle=_NOVELTY_ORACLE)
def q_text_ngram_novelty(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", TX.tokens(F.col("text")).alias("t"))
    grams3 = F.when(
        F.size("t") >= 3,
        F.array_distinct(
            F.transform(
                F.slice("t", 1, F.size("t") - 2),
                lambda _, i: F.concat_ws(
                    " ", F.col("t")[i], F.col("t")[i + 1], F.col("t")[i + 2]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = toks.select("doc_id", F.explode(grams3).alias("g"))
    # Deliberately groupBy+join-back, NOT count-over-gram-partition window:
    # the window form saves one shuffle of the gram stream but buffers each
    # gram's rows in ONE task -- an unsplittable hot spot when boilerplate
    # grams dominate (exactly the corpus shape this query exists to
    # detect). The aggregate has map-side combine and the join is
    # AQE-skew-splittable, so this form holds at corpus scale.
    counts = grams.groupBy("g").agg(F.count(F.lit(1)).alias("n_docs_with"))
    per_doc = (
        grams.join(counts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("n_docs_with") == 1, 1).otherwise(0)).alias(
                "n_unique"
            ),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_unique", F.lit(0)).cast("long").alias("n_unique"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) > 0,
                F.floor(F.col("n_unique") / F.col("n_grams") * 10000 + 0.5) / 10000,
            )
            .otherwise(F.lit(0.0))
            .alias("novelty_frac"),
        )
        .orderBy("doc_id")
    )


# -- deterministic train/val/test split assignment (round 4) -----------------
# Corpus split by content-stable hash: reproducible across runs, machines
# and partitionings, and adding documents never reassigns existing ones
# (the property position-based splits lack). 80/10/10 via two md5
# thresholds. Pure projection -- no shuffle, pushes down, holds at any SF.
_SPLIT_T1 = 0.8
_SPLIT_T2 = 0.9

_SPLIT_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id, source,
         substr(md5('split1' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 8) AS sk
  FROM documents
)
SELECT doc_id, source,
       CASE WHEN sk < lower(printf('%08x', CAST(floor({_SPLIT_T1} * 4294967296) AS BIGINT)))
            THEN 'train'
            WHEN sk < lower(printf('%08x', CAST(floor({_SPLIT_T2} * 4294967296) AS BIGINT)))
            THEN 'val' ELSE 'test' END AS split
FROM keyed ORDER BY doc_id
"""


@register("sample_split_assign", oracle=_SPLIT_ORACLE)
def q_sample_split_assign(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators import sampling as SP

    docs = table(spark, "documents", sf_dir)
    sk = SP.sample_key("split1", "doc_id")
    return docs.select(
        "doc_id",
        "source",
        F.when(sk < F.lit(SP.hex_threshold(_SPLIT_T1)), F.lit("train"))
        .when(sk < F.lit(SP.hex_threshold(_SPLIT_T2)), F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    ).orderBy("doc_id")


# -- cross-document paragraph dedup (round 4) --------------------------------
# C4-style boilerplate removal signal at PARAGRAPH granularity: a
# paragraph appearing in >= 2 distinct documents is boilerplate (headers,
# nav, license blocks). Per doc: distinct paragraphs, how many are shared
# with other docs, shared fraction.
#
# Scale: explode distinct paragraphs -> md5 (16-byte keys shuffle, never
# the text) -> doc-count agg (map-side combine) -> join back -> per-doc
# agg. Same skew posture as text_ngram_novelty: hot boilerplate hashes hit
# an AQE-splittable join, not an unsplittable window buffer.
_PARA_SQL = (
    "list_distinct(list_filter(list_transform(string_split_regex(text, '\\n\\n+'), "
    "s -> trim(s)), s -> s != ''))"
)

_PARA_DEDUP_ORACLE = f"""
WITH paras AS (
  SELECT doc_id, md5(unnest({_PARA_SQL})) AS h FROM documents
),
counts AS (SELECT h, count(DISTINCT doc_id) AS n_docs_with FROM paras GROUP BY h),
per_doc AS (
  SELECT paras.doc_id,
         count(*) AS n_paras,
         sum(CASE WHEN counts.n_docs_with >= 2 THEN 1 ELSE 0 END) AS n_shared
  FROM paras JOIN counts USING (h) GROUP BY paras.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_paras, 0) AS BIGINT) AS n_paras,
       CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,
       CASE WHEN coalesce(p.n_paras, 0) > 0
            THEN floor(p.n_shared * 1.0 / p.n_paras * 10000 + 0.5) / 10000
            ELSE 0.0 END AS shared_frac
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


@register("text_para_dedup", oracle=_PARA_DEDUP_ORACLE)
def q_text_para_dedup(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    paras_arr = F.array_distinct(
        F.filter(
            F.transform(F.split("text", r"\n\n+"), lambda s: F.trim(s)),
            lambda s: s != "",
        )
    )
    paras = docs.select(
        "doc_id", F.explode(paras_arr).alias("p")
    ).select("doc_id", F.md5("p").alias("h"))
    counts = paras.groupBy("h").agg(
        F.countDistinct("doc_id").alias("n_docs_with")
    )
    per_doc = (
        paras.join(counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.when(F.col("n_docs_with") >= 2, 1).otherwise(0)).alias(
                "n_shared"
            ),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_paras", F.lit(0)).cast("long").alias("n_paras"),
            F.coalesce("n_shared", F.lit(0)).cast("long").alias("n_shared"),
            F.when(
                F.coalesce("n_paras", F.lit(0)) > 0,
                F.floor(F.col("n_shared") / F.col("n_paras") * 10000 + 0.5)
                / 10000,
            )
            .otherwise(F.lit(0.0))
            .alias("shared_frac"),
        )
        .orderBy("doc_id")
    )


# -- multimodal frame sampling (round 4) -------------------------------------
# The video-pipeline stride sampler as a driver-checked query: one row per
# sampled offset (frame_idx, byte_offset, per-frame digest), all native
# expressions -- sequence + slice + posexplode, no Python. The oracle
# recomputes offsets from UTF-8 byte lengths and the sha256 digests from
# the same (media_id, offset) recipe, end-to-end.
_FRAME_EVERY, _FRAME_MAX = 256, 6

_FRAME_ORACLE = f"""
WITH m AS (
  SELECT doc_id AS media_id, strlen(text) AS n_bytes FROM documents
  WHERE doc_id < 100
),
frames AS (
  SELECT media_id, n_bytes,
         unnest(list_slice(range(0, greatest(CAST(n_bytes AS BIGINT), 1), {_FRAME_EVERY}),
                           1, {_FRAME_MAX})) AS byte_offset,
         generate_subscripts(list_slice(range(0, greatest(CAST(n_bytes AS BIGINT), 1), {_FRAME_EVERY}),
                           1, {_FRAME_MAX}), 1) - 1 AS frame_idx
  FROM m
)
SELECT media_id, CAST(n_bytes AS INT) AS n_bytes,
       CAST(frame_idx AS INT) AS frame_idx,
       CAST(byte_offset AS BIGINT) AS byte_offset,
       sha256(CAST(media_id AS VARCHAR) || ':' || CAST(byte_offset AS VARCHAR))
         AS frame_sha256
FROM frames ORDER BY media_id, frame_idx
"""


@register("mm_frame_sample", oracle=_FRAME_ORACLE)
def q_mm_frame_sample(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.multimodal import (
        sample_frames,
    )

    docs = table(spark, "documents", sf_dir).filter(F.col("doc_id") < 100)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
    )
    return (
        sample_frames(media, every_n_bytes=_FRAME_EVERY, max_frames=_FRAME_MAX)
        .select(
            "media_id",
            F.col("n_bytes").cast("int").alias("n_bytes"),
            F.col("frame_idx").cast("int").alias("frame_idx"),
            F.col("byte_offset").cast("long").alias("byte_offset"),
            "frame_sha256",
        )
        .orderBy("media_id", "frame_idx")
    )


# -- semantic dedup clusters (round 4) ---------------------------------------
# The embedding-space twin of dedup_clusters: cosine near-dup pairs
# (blocked by label, >= 0.4) feed the iterative connected-components
# operator; the oracle recomputes the SAME pairs in SQL and resolves
# components with a recursive CTE -- a fully independent derivation of
# both the graph and its transitive closure.
_SEM_CLUSTERS_ORACLE = """
WITH RECURSIVE e AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a_id AS id_a, b_id AS id_b,
           sum(av * bv) / (sqrt(sum(av * av)) * sqrt(sum(bv * bv))) AS cosine
    FROM (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             unnest(a.v) AS av, unnest(b.v) AS bv
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    ) GROUP BY a_id, b_id
  ) WHERE cosine >= 0.4
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.node
)
SELECT node, min(comp) AS component FROM reach GROUP BY node ORDER BY node
"""


@register("dedup_semantic_clusters", oracle=_SEM_CLUSTERS_ORACLE)
def q_dedup_semantic_clusters(spark: SparkSession, sf_dir: str):
    """Exact-recall semantic near-dup clusters (threshold-0.4 cosine).

    scale-ledger EXCLUDED by declared design: on this fixture the
    threshold-0.4 pairs are distribution-tail pairs whose COUNT is itself
    ~quadratic (measured 23.9x at 10x, SCALING.md), so no exact-recall
    method can be linear -- this is the verification/truth form; never
    point it at a production corpus. tools/scale_bench.py EXCLUDED carries
    the matching entry and the measured scale path is
    dedup_semantic_clusters_scale (adaptive sign-LSH, 1.26x at 10x)."""
    emb = table(spark, "embeddings", sf_dir)
    pairs = SIM.embedding_neardup_pairs(emb, threshold=0.4)
    return DD.connected_components(pairs, a_col="id_a", b_col="id_b").orderBy(
        "node"
    )


# -- semantic dedup at scale: adaptive sign-LSH over true near-dups ----------
# The round-10 scale ledger measured the label-blocked exact lane above at
# 15x on 10x data. Investigation (committed in SCALING.md): label
# cardinality is FIXED, so blocks grow linearly and the pair space
# quadratically -- AND the threshold-0.4 pairs on this fixture are
# distribution-tail pairs (same-label cosines cluster at 0 +/- 0.15), so
# their COUNT is itself ~quadratic and no exact-recall method can emit
# them linearly. The exact lane is therefore a declared verification form
# (its oracle IS the brute force), like dedup_ngram_jaccard_pairs.
#
# This lane is the production shape for what semantic dedup actually
# hunts -- TRUE near-duplicates (cosine ~1) -- built so every stage is
# linear by construction and every step replays on both engines:
#
#   1. planted twins: each vector gets a deterministic near-dup copy
#      (dim 1 shifted by +0.05, id + 1e9) derived INSIDE the query with
#      one IEEE add, so the ground truth is corpus-sized and both engines
#      derive it identically (the same eval-fixture technique as the
#      bridge-retraction corpus in tests/test_round9_ops.py);
#   2. sign-LSH bit string: 16 md5-derived hyperplanes (+/-1 weights from
#      md5('j|i'), the lsh_bucket rule), each bit from an INTEGER-grid
#      dot product (terms quantized at 1e-7 before the sum) so no float
#      association order can flip a sign on either engine;
#   3. ADAPTIVE bucket width: the bucket key is the first n_planes bits
#      where n_planes = 6 + #{p in 7..16 : corpus > 32 * 2^(p-1)} --
#      integer comparisons on a 1-row count, so bucket occupancy stays
#      ~constant as the corpus grows and candidate pairs stay O(n).
#      This is the "add planes as the corpus grows" posture MinHash-LSH
#      gets from adding bands, here made part of the query itself;
#   4. exact verify (cosine >= 0.95 on the 1e-6 grid) + min-label CC.
#
# Recall for planted twins (cosine ~0.999, bit-agreement ~0.99/plane) is
# ~0.9 at any adaptive width; background pairs (cosine ~0) survive a
# k-bit prefix with probability 2^-k, so candidates shrink as the corpus
# forces the prefix wider. The oracle recomputes the planes, the bits,
# the adaptive width, the verify, and the transitive closure from
# scratch -- a hash match certifies the full adaptive composition.
_SEMS_MAXP = 16
_SEMS_TARGET_OCC = 32
_SEMS_JITTER = 0.05
_SEMS_THRESHOLD = 0.95
_SEMS_TERM_GRID = 10_000_000  # 1e-7 per-term quantization for the sign sums


def _sems_signs() -> list[list[float]]:
    """+/-1 hyperplane weights, the lsh_bucket md5 rule precomputed (the
    md5 inputs are constants, so this is constant folding -- the oracle
    recomputes the same md5s in SQL)."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"{j}|{i}".encode()).hexdigest()[0] <= "7"
            else -1.0
            for i in range(64)
        ]
        for j in range(_SEMS_MAXP)
    ]


def _sems_nplanes_sql(n_expr: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN {n_expr} > {_SEMS_TARGET_OCC * 2 ** (p - 1)} THEN 1 ELSE 0 END)"
        for p in range(7, _SEMS_MAXP + 1)
    )
    return f"6 + {terms}"


_SEM_SCALE_ORACLE = f"""
WITH RECURSIVE pl AS (
  SELECT j, i,
         CASE WHEN substr(md5(CAST(j AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 1, 1)
                   <= '7' THEN 1.0 ELSE -1.0 END AS w
  FROM range(0, {_SEMS_MAXP}) t(j), range(0, 64) s(i)
),
base AS (
  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
corpus AS (
  SELECT vec_id, label, v FROM base
  UNION ALL
  SELECT vec_id + 1000000000, label,
         list_prepend(v[1] + {_SEMS_JITTER}, v[2:]) AS v
  FROM base
),
np AS (SELECT {_sems_nplanes_sql("count(*)")} AS nplanes FROM corpus),
bits AS (
  SELECT c.vec_id, p.j,
         CASE WHEN sum(CAST(floor(p.w * c.v[p.i + 1] * {_SEMS_TERM_GRID} + 0.5)
                            AS BIGINT)) > 0
              THEN '1' ELSE '0' END AS b
  FROM corpus c, pl p
  GROUP BY c.vec_id, p.j
),
bk AS (
  SELECT c.vec_id, c.label, c.v,
         substr(string_agg(b.b, '' ORDER BY b.j), 1,
                (SELECT nplanes FROM np)) AS bucket
  FROM corpus c JOIN bits b USING (vec_id)
  GROUP BY c.vec_id, c.label, c.v
),
pairs AS (
  SELECT id_a, id_b FROM (
    SELECT a_id AS id_a, b_id AS id_b,
           floor((sum(av * cv) / (sqrt(sum(av * av)) * sqrt(sum(cv * cv))))
                 * 1000000 + 0.5) / 1000000 AS cosine
    FROM (
      SELECT a.vec_id AS a_id, c.vec_id AS b_id,
             unnest(a.v) AS av, unnest(c.v) AS cv
      FROM bk a JOIN bk c
        ON a.label = c.label AND a.bucket = c.bucket
       AND a.vec_id < c.vec_id
    ) GROUP BY a_id, b_id
  ) WHERE cosine >= {_SEMS_THRESHOLD}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
reach(node, comp) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.node
)
SELECT node, min(comp) AS component FROM reach GROUP BY node ORDER BY node
"""


@register("dedup_semantic_clusters_scale", oracle=_SEM_SCALE_ORACLE)
def q_dedup_semantic_clusters_scale(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.functions.arrays import (
        as_double,
    )
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.partitioning import (
        fanout,
    )

    emb = table(spark, "embeddings", sf_dir)
    # round-11 F1 (guide §2.5): single-row-group scan -> the 16
    # interpreted sign-bit folds below would run on one core per branch
    base = fanout(
        emb.select("vec_id", "label", as_double(F.col("embedding")).alias("v"))
    )
    planted = base.select(
        (F.col("vec_id") + F.lit(1_000_000_000)).alias("vec_id"),
        "label",
        F.concat(
            F.array(F.element_at("v", 1) + F.lit(_SEMS_JITTER)),
            F.slice("v", 2, 63),
        ).alias("v"),
    )
    corpus = base.unionByName(planted)

    # adaptive prefix width from the 1-row corpus count (broadcast scalar)
    n = F.col("n")
    width = F.lit(6)
    for p in range(7, _SEMS_MAXP + 1):
        width = width + F.when(
            n > _SEMS_TARGET_OCC * 2 ** (p - 1), 1
        ).otherwise(0)
    np_frame = corpus.agg(F.count(F.lit(1)).alias("n")).select(
        width.alias("nplanes")
    )

    # 16 sign bits from integer-grid dot products (constant-folded planes)
    signs = _sems_signs()
    bit_cols = []
    for j in range(_SEMS_MAXP):
        w = F.array(*[F.lit(x) for x in signs[j]])
        terms = F.zip_with(
            "v",
            w,
            lambda x, s: F.floor(s * x * _SEMS_TERM_GRID + F.lit(0.5)).cast(
                "long"
            ),
        )
        total = F.aggregate(terms, F.lit(0).cast("long"), lambda a, x: a + x)
        bit_cols.append(F.when(total > 0, F.lit("1")).otherwise(F.lit("0")))
    bucketed = (
        corpus.withColumn("bitstr", F.concat(*bit_cols))
        .crossJoin(F.broadcast(np_frame))
        .select(
            "vec_id",
            "v",
            F.concat_ws(
                ":",
                F.col("label").cast("string"),
                F.expr("substring(bitstr, 1, nplanes)"),
            ).alias("lb"),
        )
        .withColumnRenamed("v", "embedding")
    )
    # round-11 F4: embedding_neardup_pairs consumes its corpus TWICE
    # (probe + broadcast build side), so the 16 interpreted sign-bit
    # fold expressions above ran twice per vector. The cut materializes
    # once inside the CC fixpoint's first build job.
    bucketed = reuse(bucketed)
    pairs = SIM.embedding_neardup_pairs(
        bucketed, threshold=_SEMS_THRESHOLD, block_col="lb"
    )
    return DD.connected_components(pairs, a_col="id_a", b_col="id_b").orderBy(
        "node"
    )


# -- SimHash hamming near-dup pairs (round 4) -------------------------------
# Spark: banded equi-join with pigeonhole-exact recall (n_bands=4 >
# max_hamming=3); oracle: brute-force O(n^2) hamming join over the same
# codes -- the banding's perfect-recall claim is verified, not assumed.
@register("dedup_simhash_neardup_pairs", oracle=_simhash_neardup_oracle(200, 3))
def q_simhash_neardup_pairs(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir).filter(F.col("doc_id") < 200)
    codes = DD.simhash_codes(docs)
    return DD.simhash_neardup_pairs(codes, max_hamming=3).orderBy("doc_a", "doc_b")


# -- per-dimension embedding statistics (round 4) ---------------------------
# Corpus-curation diagnostic: dead / saturated / high-variance embedding
# dimensions (whitening inputs). Spark: posexplode -> one hash agg keyed by
# dimension (shuffle bounded by dims x partitions thanks to partial
# aggregation); oracle: unnest + generate_subscripts. Values quantized to
# 1e-7 then decimal-summed so every moment is association-order free.
_EMB_DIM_ORACLE = """
WITH ex AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 10000000 + 0.5)
              / 10000000 AS DECIMAL(18,7)) AS qv
  FROM embeddings
)
SELECT dim, count(*) AS n,
       floor(CAST(sum(qv) AS DOUBLE) / count(*) * 1000000 + 0.5) / 1000000
         AS mean_v,
       CAST(min(qv) AS DOUBLE) AS min_v,
       CAST(max(qv) AS DOUBLE) AS max_v,
       floor(CAST(sum(CAST(qv * qv AS DECIMAL(38,14))) AS DOUBLE) * 10000 + 0.5)
         / 10000 AS sumsq
FROM ex GROUP BY dim ORDER BY dim
"""


@register("emb_dim_stats", oracle=_EMB_DIM_ORACLE)
def q_emb_dim_stats(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir)
    ex = emb.select(F.posexplode("embedding").alias("dim", "v"))
    qv = (
        (F.floor(F.col("v").cast("double") * 10000000 + F.lit(0.5)) / 10000000)
        .cast("decimal(18,7)")
    )
    return (
        ex.select("dim", qv.alias("qv"))
        .groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.floor(
                    F.sum("qv").cast("double") / F.count(F.lit(1)) * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("mean_v"),
            F.min("qv").cast("double").alias("min_v"),
            F.max("qv").cast("double").alias("max_v"),
            (
                F.floor(
                    F.sum((F.col("qv") * F.col("qv")).cast("decimal(38,14)"))
                    .cast("double")
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("sumsq"),
        )
        .orderBy("dim")
    )


# -- char-bigram LM quality score (round 4) ---------------------------------
# Self-supervised corpus quality: per-doc mean log2 P(bigram) under the
# corpus's own bigram distribution. The model is |alphabet|^2-bounded, so
# Spark broadcasts it; the oracle recomputes model and score from scratch.
# Per-term log2 quantized at 1e-9 + decimal sums = association-order-free
# means (repo convention).
@register(
    "text_bigram_lm_score",
    oracle=r"""
WITH t AS (
  SELECT doc_id, lower(text) AS t FROM documents
),
bi AS (
  SELECT doc_id,
         unnest(list_transform(range(1, length(t)), i -> substr(t, i, 2))) AS bg
  FROM t WHERE length(t) >= 2
),
model AS (SELECT bg, count(*) AS n_bg FROM bi GROUP BY bg),
tot AS (SELECT sum(n_bg) AS total FROM model)
SELECT b.doc_id,
       count(*) AS n_bigrams,
       count(DISTINCT b.bg) AS n_distinct_bigrams,
       floor((CAST(sum(CAST(floor(log2(m.n_bg) * 1000000000 + 0.5)
                           AS DECIMAL(38,0))) AS DOUBLE)
              / count(*) / 1000000000
              - log2((SELECT total FROM tot))) * 10000 + 0.5) / 10000
         AS mean_log2_prob
FROM bi b JOIN model m USING (bg)
GROUP BY b.doc_id
ORDER BY b.doc_id
""",
)
def q_text_bigram_lm_score(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    return TX.bigram_lm_score(docs).orderBy("doc_id")


# -- int8 embedding quantization (round 4) ----------------------------------
# Per-dimension min/max affine quantization to int8 codes -- the memory
# layout ANN indexes ship at scale (4x smaller than float32). Spark: one
# posexplode pass for dim stats (map-side combined), stats broadcast back
# onto the exploded stream; all arithmetic is identical IEEE double ops on
# both engines, so codes are bit-exact without rounding tolerances.
@register(
    "emb_quantize_int8",
    oracle="""
WITH ex AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
),
st AS (SELECT dim, min(v) AS mn, max(v) AS mx FROM ex GROUP BY dim)
SELECT e.vec_id, e.dim,
       CAST(CASE WHEN st.mx = st.mn THEN 0
                 ELSE floor((e.v - st.mn) / (st.mx - st.mn) * 255 + 0.5) - 128
            END AS INT) AS code
FROM ex e JOIN st USING (dim)
ORDER BY vec_id, dim
""",
)
def q_emb_quantize_int8(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir)
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "_vf")
    ).select("vec_id", "dim", F.col("_vf").cast("double").alias("v"))
    st = ex.groupBy("dim").agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    code = (
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.floor(
                (F.col("v") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255
                + F.lit(0.5)
            )
            - 128
        )
        .cast("int")
    )
    return (
        ex.join(F.broadcast(st), "dim")
        .select("vec_id", "dim", code.alias("code"))
        .orderBy("vec_id", "dim")
    )


# -- A-ES weighted sampling (round 4b) --------------------------------------
# Exact weighted-without-replacement sampling (Efraimidis-Spirakis): keep
# the K smallest -ln(u)/w per stratum, u md5-derived so the sample is
# deterministic and engine-portable. Longer docs (weight = n_chars) are
# proportionally likelier to be kept -- the quality-weighted corpus
# down-mix. Selection is a rank-truncating window (WindowGroupLimit).
_WSAMP_K = 5

_WSAMP_ORACLE = f"""
SELECT source, doc_id
FROM (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY -ln((CAST('0x' || substr(md5('wsamp' || chr(31)
                          || CAST(doc_id AS VARCHAR)), 1, 8) AS UBIGINT) + 0.5)
                        / 4294967296.0)
                    / greatest(n_chars, 1),
                    doc_id
         ) AS rn
  FROM documents
) WHERE rn <= {_WSAMP_K}
ORDER BY source, doc_id
"""


@register("sample_weighted_topk", oracle=_WSAMP_ORACLE)
def q_sample_weighted_topk(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators import sampling as SP

    docs = table(spark, "documents", sf_dir)
    key = SP.weighted_sample_key(
        "wsamp", F.greatest(F.col("n_chars"), F.lit(1)).cast("double"), "doc_id"
    )
    w = Window.partitionBy("source").orderBy(key.asc(), F.col("doc_id"))
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= _WSAMP_K)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    )


# -- concat-and-chunk packing assignment (round 4b) -------------------------
# The packing ASSIGNMENT itself (text_packing_estimate only counts): docs
# concatenated per source in doc_id order, cut at seq_len boundaries;
# each doc is assigned the chunk containing its first token. One
# per-source cumulative-sum window over integer-exact token estimates --
# deterministic, and append-only inputs never reassign existing chunks.
_PACK_CHUNK_ORACLE = f"""
WITH est AS (
  SELECT source, doc_id,
         CAST(coalesce(list_sum(list_transform(
              regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'),
              p -> (length(p) + 3) // 4)), 0) AS BIGINT) AS est_tokens
  FROM documents
)
SELECT source, doc_id, est_tokens,
       CAST((sum(est_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - est_tokens) // {_PACK_SEQ_LEN} AS BIGINT) AS chunk_id
FROM est
ORDER BY source, doc_id
"""


@register("text_pack_chunks", oracle=_PACK_CHUNK_ORACLE)
def q_text_pack_chunks(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    est = TX.bpe_token_estimate(docs).select("doc_id", "est_bpe_tokens")
    joined = docs.select("source", "doc_id").join(est, "doc_id")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("est_bpe_tokens").over(w) - F.col("est_bpe_tokens")
    return joined.select(
        "source",
        "doc_id",
        F.col("est_bpe_tokens").alias("est_tokens"),
        F.floor(start / _PACK_SEQ_LEN).alias("chunk_id"),
    ).orderBy("source", "doc_id")


# -- ANN recall evaluation: IVF vs exact brute force (round 5) --------------
# The eval loop every ANN deployment needs: per query, what fraction of
# the TRUE cosine top-5 does the IVF probe path recover? Spark runs both
# paths (two corpus scans, broadcast query side) and left-joins truth to
# candidates; the oracle recomputes BOTH paths in SQL from first
# principles (the existing independently-formulated IVF/brute oracles as
# CTEs). At 100 TB the truth side is computed once on a small held-out
# query sample -- the join is query-sample-sized, never corpus-sized.
_RECALL_ORACLE = f"""
WITH bf AS (
  SELECT query_id, neighbor_id, rank FROM (
    SELECT query_id, neighbor_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM (
{_COSINE_PAIR}
    )
  ) WHERE rank <= 5
),
ivf AS ({_IVF_ORACLE.replace("ORDER BY query_id, rank", "")})
SELECT bf.query_id,
       CAST(count(ivf.neighbor_id) AS BIGINT) AS n_matched,
       count(*) AS k,
       floor(count(ivf.neighbor_id) * 1.0 / count(*) * 10000 + 0.5) / 10000
         AS recall_at_5
FROM bf LEFT JOIN ivf
  ON ivf.query_id = bf.query_id AND ivf.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id
ORDER BY bf.query_id
"""


@register("sim_recall_eval", oracle=_RECALL_ORACLE)
def q_sim_recall_eval(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    bf = SIM.brute_force_topk(emb, queries, k=5).select(
        F.col("query_id").alias("bq"), F.col("neighbor_id").alias("bn")
    )
    ivf = SIM.ivf_topk(emb, queries, k=5, n_probe=3).select(
        F.col("query_id").alias("iq"), F.col("neighbor_id").alias("in_")
    )
    joined = bf.join(
        ivf, (F.col("iq") == F.col("bq")) & (F.col("in_") == F.col("bn")), "left"
    )
    return (
        joined.groupBy(F.col("bq").alias("query_id"))
        .agg(
            F.count("in_").alias("n_matched"),
            F.count(F.lit(1)).alias("k"),
            portable_round(F.count("in_") / F.count(F.lit(1)), 4).alias(
                "recall_at_5"
            ),
        )
        .orderBy("query_id")
    )


# -- BM25 keyword relevance (round 5) ---------------------------------------
# Classic lexical retrieval over the corpus for a fixed query. All
# integer inputs (tf, df, dl) are exact in both engines; idf/score are
# then identical double arithmetic, rounded through the repo's 1e-4 grid.
# Spark: one tokenization pass computes (dl, tf_t); a single global
# aggregate yields (N, total_dl, df_t) broadcast back as scalars -- two
# passes over per-doc partials, no shuffle of raw text. Oracle: window
# sums OVER () instead of the aggregate-join -- independent structure.
_BM25_TERMS = ("spark", "join", "fast")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_oracle() -> str:
    tf_cols = ",\n         ".join(
        f"len(list_filter(t, x -> x = '{term}')) AS tf_{i}"
        for i, term in enumerate(_BM25_TERMS)
    )
    score_terms = " + ".join(
        f"""(ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)
           * tf_{i} * ({_BM25_K1} + 1.0)
           / (tf_{i} + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl / avgdl)))"""
        for i in range(len(_BM25_TERMS))
    )
    df_cols = ",\n         ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) OVER () AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents
),
per_doc AS (
  SELECT doc_id, len(t) AS dl,
         {tf_cols}
  FROM toks
),
with_corpus AS (
  SELECT *,
         count(*) OVER () AS n_docs,
         sum(dl) OVER () * 1.0 / count(*) OVER () AS avgdl,
         {df_cols}
  FROM per_doc
),
scored AS (
  SELECT doc_id,
         floor(({score_terms}) * 10000 + 0.5) / 10000 AS bm25
  FROM with_corpus
  WHERE tf_0 + tf_1 + tf_2 > 0
)
SELECT doc_id, bm25,
       CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
FROM scored
QUALIFY rank <= 50
ORDER BY rank
"""


def _eq_term(term: str):
    return lambda x: x == F.lit(term)


@register("text_bm25_topk", oracle=_bm25_oracle())
def q_text_bm25_topk(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", TX.tokens(F.col("text")).alias("t"))
    per_doc = toks.select(
        "doc_id",
        F.size("t").alias("dl"),
        *[
            F.size(F.filter("t", _eq_term(term))).alias(f"tf_{i}")
            for i, term in enumerate(_BM25_TERMS)
        ],
    )
    corpus = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_dl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    w = F.col("n_docs")
    avgdl = F.col("total_dl") * 1.0 / w
    score = None
    for i in range(len(_BM25_TERMS)):
        idf = F.log(
            (w - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5) + 1.0
        )
        tf = F.col(f"tf_{i}")
        term_score = (
            idf
            * tf
            * (_BM25_K1 + 1.0)
            / (tf + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / avgdl))
        )
        score = term_score if score is None else score + term_score
    scored = (
        per_doc.crossJoin(F.broadcast(corpus))
        .filter((F.col("tf_0") + F.col("tf_1") + F.col("tf_2")) > 0)
        .select("doc_id", portable_round(score, 4).alias("bm25"))
    )
    # distributed top-k (TakeOrderedAndProject), then rank only the 50
    # survivors -- no global single-partition window over the corpus
    top = scored.orderBy(F.desc("bm25"), "doc_id").limit(50)
    ww = Window.orderBy(F.desc("bm25"), "doc_id")
    return top.withColumn("rank", F.row_number().over(ww).cast("long")).orderBy(
        "rank"
    )


# -- Matryoshka half-dimension retrieval overlap (round 5) -------------------
# Modern embedding stacks truncate vectors (Matryoshka / MRL) to cut ANN
# cost; this measures what that truncation does to retrieval: per query,
# the overlap between the full-64-dim cosine top-5 and the first-32-dims
# top-5. Spark: two brute-force passes (broadcast query side, sliced
# arrays); oracle: both rankings recomputed in SQL over list slices. At
# scale the truncated pass scans half the bytes — the overlap metric is
# the evidence that the saving is affordable.
_HALFDIM_PAIR = """
  SELECT query_id, neighbor_id,
         floor((sum(qv * cv) / (sqrt(sum(qv * qv)) * sqrt(sum(cv * cv)))) * 1000000 + 0.5) / 1000000
           AS cosine
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           unnest(list_transform(q.embedding[1:32], x -> CAST(x AS DOUBLE))) AS qv,
           unnest(list_transform(c.embedding[1:32], x -> CAST(x AS DOUBLE))) AS cv
    FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
    CROSS JOIN embeddings c
    WHERE c.vec_id != q.vec_id
  ) GROUP BY query_id, neighbor_id
"""

_HALFDIM_ORACLE = f"""
WITH full_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM ({_COSINE_PAIR})
  ) WHERE rank <= 5
),
half_top AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM ({_HALFDIM_PAIR})
  ) WHERE rank <= 5
)
SELECT f.query_id,
       CAST(count(h.neighbor_id) AS BIGINT) AS n_overlap,
       count(*) AS k
FROM full_top f LEFT JOIN half_top h
  ON h.query_id = f.query_id AND h.neighbor_id = f.neighbor_id
GROUP BY f.query_id
ORDER BY f.query_id
"""


@register("sim_halfdim_overlap", oracle=_HALFDIM_ORACLE)
def q_sim_halfdim_overlap(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir)
    half = emb.select(
        "vec_id", F.slice("embedding", 1, 32).alias("embedding"), "label"
    )
    full_top = SIM.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5).select(
        F.col("query_id").alias("fq"), F.col("neighbor_id").alias("fn")
    )
    half_top = SIM.brute_force_topk(
        half, half.filter(F.col("vec_id") < 10), k=5
    ).select(F.col("query_id").alias("hq"), F.col("neighbor_id").alias("hn"))
    joined = full_top.join(
        half_top,
        (F.col("hq") == F.col("fq")) & (F.col("hn") == F.col("fn")),
        "left",
    )
    return (
        joined.groupBy(F.col("fq").alias("query_id"))
        .agg(
            F.count("hn").alias("n_overlap"),
            F.count(F.lit(1)).alias("k"),
        )
        .orderBy("query_id")
    )


# -- diagonal-Mahalanobis embedding outliers (round 5) -----------------------
# Embedding-quality gate: per label, distance = sum_d (v_d - mu_d)^2 /
# var_d against the label's own per-dimension statistics; top-10 per
# label are the candidate mislabels/corruptions. Floats are quantized at
# 1e-7 into DECIMAL (the emb_dim_stats convention) so mu/var derive from
# exact sums; each distance term is quantized at 1e-9 before the per-
# vector sum (the bigram-LM convention) so the 64-term reduction is
# association-order-free. The (label x dim) stats table is k x 64 rows —
# broadcast, never a window over the vector stream.
_MAHA_ORACLE = """
WITH ex AS (
  SELECT vec_id, label, CAST(i - 1 AS INT) AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000000 + 0.5) / 10000000
              AS DECIMAL(18,7)) AS qv
  FROM embeddings, unnest(range(1, 65)) AS t(i)
),
stats AS (
  SELECT label, dim, count(*) AS n,
         CAST(sum(qv) AS DOUBLE) AS s,
         CAST(sum(CAST(qv * qv AS DECIMAL(38,14))) AS DOUBLE) AS ssq
  FROM ex GROUP BY 1, 2
),
terms AS (
  SELECT e.vec_id, e.label,
         CAST(floor(
           power(CAST(e.qv AS DOUBLE) - st.s / st.n, 2)
           / ((st.ssq - st.n * (st.s / st.n) * (st.s / st.n)) / (st.n - 1))
           * 1000000000 + 0.5) AS DECIMAL(38,0)) AS term_q
  FROM ex e JOIN stats st ON st.label = e.label AND st.dim = e.dim
),
dist AS (
  SELECT vec_id, label,
         floor(CAST(sum(term_q) AS DOUBLE) / 1000000000 * 10000 + 0.5) / 10000
           AS maha_dist
  FROM terms GROUP BY 1, 2
)
SELECT vec_id, label, maha_dist, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY label
                                    ORDER BY maha_dist DESC, vec_id) AS BIGINT)
              AS rank
  FROM dist
) WHERE rank <= 10
ORDER BY label, rank
"""


@register("emb_mahalanobis_outliers", oracle=_MAHA_ORACLE)
def q_emb_mahalanobis_outliers(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir)
    qv = (
        F.floor(F.col("v").cast("double") * 10000000 + F.lit(0.5)) / 10000000
    ).cast("decimal(18,7)")
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "v")
    ).select("vec_id", "label", "dim", qv.alias("qv"))
    stats = ex.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qv").cast("double").alias("s"),
        F.sum((F.col("qv") * F.col("qv")).cast("decimal(38,14)"))
        .cast("double")
        .alias("ssq"),
    )
    m = F.col("s") / F.col("n")
    var = (F.col("ssq") - F.col("n") * m * m) / (F.col("n") - 1)
    term_q = F.floor(
        F.pow(F.col("qv").cast("double") - m, F.lit(2)) / var * 1000000000
        + F.lit(0.5)
    ).cast("decimal(38,0)")
    terms = ex.join(F.broadcast(stats), ["label", "dim"]).select(
        "vec_id", "label", term_q.alias("term_q")
    )
    dist = terms.groupBy("vec_id", "label").agg(
        (
            F.floor(F.sum("term_q").cast("double") / 1000000000 * 10000 + 0.5)
            / 10000
        ).alias("maha_dist")
    )
    w = Window.partitionBy("label").orderBy(F.desc("maha_dist"), "vec_id")
    return (
        dist.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("vec_id", "label", "maha_dist", "rank")
        .orderBy("label", "rank")
    )


# -- sparse TF-vector cosine pairs (round 5) ---------------------------------
# Document similarity over SPARSE term-frequency vectors (the lexical
# complement to the dense-embedding cosine family): within-source pairs
# scored as dot(tf_a, tf_b)/(|tf_a||tf_b|) via a token-level equi-join —
# the inverted-index layout (never materializes dense vectors, pairs
# only share tokens). On natural corpora df << N bounds each posting
# list; THIS corpus is the degenerate worst case (a ~40-word vocabulary
# where every token is df~N, i.e. all stop words), where the layout
# devolves to all-pairs — so the query scores a deterministic 20%
# md5-hash doc sample (the repo's hash-threshold primitive; a modulo
# would correlate with the round-robin source assignment), mirroring how
# production engines cap hot posting lists. Integer dots and norms are exact; top-5 pairs per
# source by rounded cosine.
@register(
    "text_sparse_cosine_pairs",
    oracle=rf"""
WITH tf AS (
  SELECT d.doc_id, d.source, t.token, count(*) AS tf
  FROM (SELECT doc_id, source, unnest({_TOKS}) AS token FROM documents
        WHERE substr(md5('sparse' || chr(31) || CAST(doc_id AS VARCHAR)), 1, 8)
              < '33333333') AS t
  JOIN documents d USING (doc_id)
  GROUP BY 1, 2, 3
),
norms AS (
  SELECT doc_id, sum(tf * tf) AS nsq FROM tf GROUP BY 1
),
dots AS (
  SELECT a.source, a.doc_id AS doc_a, b.doc_id AS doc_b,
         sum(a.tf * b.tf) AS dot
  FROM tf a JOIN tf b
    ON b.source = a.source AND b.token = a.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3
),
scored AS (
  SELECT d.source, d.doc_a, d.doc_b,
         floor(d.dot / sqrt(na.nsq * nb.nsq) * 1000000 + 0.5) / 1000000
           AS cosine
  FROM dots d
  JOIN norms na ON na.doc_id = d.doc_a
  JOIN norms nb ON nb.doc_id = d.doc_b
)
SELECT source, doc_a, doc_b, cosine, rank FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY source
                                    ORDER BY cosine DESC, doc_a, doc_b)
                 AS BIGINT) AS rank
  FROM scored
) WHERE rank <= 5
ORDER BY source, rank
""",
)
def q_text_sparse_cosine_pairs(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.functions.hashing import (
        stable_hash,
    )

    docs = table(spark, "documents", sf_dir).filter(
        F.substring(stable_hash(F.lit("sparse"), F.col("doc_id")), 1, 8)
        < "33333333"
    )
    tf = (
        docs.select(
            "doc_id", "source", F.explode(TX.tokens(F.col("text"))).alias("token")
        )
        .groupBy("doc_id", "source", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    norms = tf.groupBy("doc_id").agg(F.sum(F.col("tf") * F.col("tf")).alias("nsq"))
    a = tf.select(
        F.col("source"),
        F.col("doc_id").alias("doc_a"),
        F.col("token"),
        F.col("tf").alias("tf_a"),
    )
    b = tf.select(
        F.col("source").alias("source_b"),
        F.col("doc_id").alias("doc_b"),
        F.col("token").alias("token_b"),
        F.col("tf").alias("tf_b"),
    )
    dots = (
        a.join(
            b,
            (F.col("source_b") == F.col("source"))
            & (F.col("token_b") == F.col("token"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("source", "doc_a", "doc_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nsq").alias("nsq_a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nsq").alias("nsq_b"))
    scored = (
        dots.join(F.broadcast(na), "doc_a")
        .join(F.broadcast(nb), "doc_b")
        .select(
            "source",
            "doc_a",
            "doc_b",
            (
                F.floor(
                    F.col("dot")
                    / F.sqrt(F.col("nsq_a") * F.col("nsq_b"))
                    * 1000000
                    + 0.5
                )
                / 1000000
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("source").orderBy(F.desc("cosine"), "doc_a", "doc_b")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("source", "doc_a", "doc_b", "cosine", "rank")
        .orderBy("source", "rank")
    )


# -- LSH bucket-size histogram (round 5) -------------------------------------
# The skew diagnostic for the MinHash-LSH dedup path: per band, the
# distribution of bucket sizes. Candidate-pair cost is sum over buckets
# of C(size, 2), so one hot bucket IS the dedup job's straggler — this
# query is what you run before raising bands/rows at 100 TB. Spark:
# reuses the production signature+banding operators, two hash aggs;
# oracle: recomputes signatures/bands from first principles in SQL.
def _lsh_bucket_histogram_oracle() -> str:
    rows = MINHASH_K // MINHASH_BANDS
    sig_cols = ",\n         ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}|' || s)), 'min') AS sig_{i}"
        for i in range(MINHASH_K)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5({parts}) AS h FROM sigs".format(
            b=b, parts=" || ".join(f"sig_{b * rows + r}" for r in range(rows))
        )
        for b in range(MINHASH_BANDS)
    )
    return f"""
WITH docs AS (SELECT doc_id, {_TOKS} AS t FROM documents),
shingled AS (SELECT doc_id, {_SHINGLES} AS sh FROM docs WHERE len(t) >= 3),
sigs AS (SELECT doc_id, sh, {sig_cols} FROM shingled),
bands AS (
{band_rows}
),
buckets AS (
  SELECT band, h, count(*) AS bucket_size FROM bands GROUP BY 1, 2
)
SELECT band, bucket_size, count(*) AS n_buckets,
       CAST(sum(bucket_size * (bucket_size - 1) / 2) AS BIGINT)
         AS n_candidate_pairs
FROM buckets
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register("dedup_lsh_bucket_histogram", oracle=_lsh_bucket_histogram_oracle())
def q_dedup_lsh_bucket_histogram(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    sigs = DD.minhash_signature(docs, k=MINHASH_K)
    rows = MINHASH_K // MINHASH_BANDS
    band_cols = []
    for b in range(MINHASH_BANDS):
        parts = [F.col(f"sig_{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"), F.md5(F.concat(*parts)).alias("h")
            ).alias(f"b{b}")
        )
    bands = sigs.select(
        F.explode(F.array(*band_cols)).alias("bh")
    ).select(F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))
    buckets = bands.groupBy("band", "h").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    return (
        buckets.groupBy("band", "bucket_size")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(
                F.col("bucket_size") * (F.col("bucket_size") - 1) / 2
            )
            .cast("long")
            .alias("n_candidate_pairs"),
        )
        .orderBy("band", "bucket_size")
    )


# -- LSH recall evaluation (round 5) -----------------------------------------
# Grades the MinHash-LSH parameter choice (k=12, bands=4) against exact
# ground truth: every pair with shingle-Jaccard >= 0.5, found via an
# inverted-index join (pairs sharing >= 1 shingle — posting-list bounded,
# NOT O(n^2); any pair with Jaccard > 0 shares a shingle, so the truth
# set is complete). recall = verified LSH pairs / truth pairs is the
# number you watch when tuning bands/rows for a 100 TB dedup run;
# candidate_precision says how much exact-verify work the banding wastes.
def _lsh_recall_oracle() -> str:
    rows = MINHASH_K // MINHASH_BANDS
    sig_cols = ",\n         ".join(
        f"list_aggregate(list_transform(sh, s -> md5('{i}|' || s)), 'min') AS sig_{i}"
        for i in range(MINHASH_K)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5({parts}) AS h FROM sigs".format(
            b=b, parts=" || ".join(f"sig_{b * rows + r}" for r in range(rows))
        )
        for b in range(MINHASH_BANDS)
    )
    return f"""
WITH docs AS (SELECT doc_id, {_TOKS} AS t FROM documents),
shingled AS (SELECT doc_id, {_SHINGLES} AS sh FROM docs WHERE len(t) >= 3),
ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS sg FROM shingled),
cpairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
         count(*) AS n_common
  FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3, 4
),
truth AS (
  SELECT doc_a, doc_b FROM cpairs
  WHERE n_common * 1.0 / (na + nb - n_common) >= 0.5
),
sigs AS (SELECT doc_id, sh, {sig_cols} FROM shingled),
bands AS (
{band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
),
verified AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN shingled sa ON sa.doc_id = c.doc_a
  JOIN shingled sb ON sb.doc_id = c.doc_b
  WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0
        / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
)
SELECT (SELECT count(*) FROM truth) AS n_truth_pairs,
       (SELECT count(*) FROM cand) AS n_candidate_pairs,
       (SELECT count(*) FROM verified) AS n_verified_pairs,
       floor(((SELECT count(*) FROM verified) * 1.0
              / nullif((SELECT count(*) FROM truth), 0)) * 10000 + 0.5)
         / 10000 AS recall,
       floor(((SELECT count(*) FROM verified) * 1.0
              / nullif((SELECT count(*) FROM cand), 0)) * 10000 + 0.5)
         / 10000 AS candidate_precision
"""


@register("dedup_lsh_recall_eval", oracle=_lsh_recall_oracle())
def q_dedup_lsh_recall_eval(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    par = spark.sparkContext.defaultParallelism
    # one shingle pass feeds truth, signatures, AND verify (reused, as in
    # operators.dedup.minhash_lsh_dedup_pairs)
    sh = reuse(
        docs.repartition(par, "doc_id")
        .select("doc_id", DD.shingles("text").alias("sh"))
        .filter(F.size("sh") > 0)
    )
    # exact truth via inverted index: only pairs sharing a shingle are
    # ever materialized (posting-list bounded, complete for jaccard > 0)
    ex = sh.select("doc_id", F.size("sh").alias("n"), F.explode("sh").alias("sg"))
    a, b = ex.alias("a"), ex.alias("b")
    cpairs = (
        a.join(
            b,
            (F.col("a.sg") == F.col("b.sg"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.n").alias("na"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    truth = cpairs.filter(
        F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")) >= 0.5
    ).select("doc_a", "doc_b")
    # production LSH path on the same shingles
    exploded = sh.select("doc_id", F.explode("sh").alias("s"))
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("s")))).alias(f"sig_{i}")
        for i in range(MINHASH_K)
    ]
    sigs = exploded.groupBy("doc_id").agg(*aggs)
    cand = DD.lsh_candidate_pairs(sigs, k=MINHASH_K, bands=MINHASH_BANDS)
    verified = DD.jaccard_verify(cand, docs, threshold=0.5)
    row = (
        truth.agg(F.count(F.lit(1)).alias("n_truth_pairs"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidate_pairs")))
        .crossJoin(verified.agg(F.count(F.lit(1)).alias("n_verified_pairs")))
        .select(
            "n_truth_pairs",
            "n_candidate_pairs",
            "n_verified_pairs",
            (
                F.floor(
                    F.try_divide(
                        F.col("n_verified_pairs"), F.col("n_truth_pairs")
                    )
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("recall"),
            (
                F.floor(
                    F.try_divide(
                        F.col("n_verified_pairs"), F.col("n_candidate_pairs")
                    )
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("candidate_precision"),
        )
    )
    return row


# -- token <-> source pointwise mutual information ---------------------------
# Corpus-curation diagnostic: which of the top document-frequency tokens
# are over/under-represented per source (PMI > 0: the token "belongs" to
# that source — a leakage/bias signal when a supposedly-uniform corpus
# shows strong source-specific vocabulary). All probabilities are ratios
# of exact integer doc-frequency counts; the single log happens on the
# same double ratio in both engines (mirrored widening), so no float-sum
# order sensitivity anywhere. Scale: one tokenize+explode pass, doc-freq
# aggs, top-K cut by (df, token) — the per-(token, source) table is
# K x sources rows.
@register(
    "text_pmi_source_terms",
    oracle=f"""
WITH docs AS (
  SELECT doc_id, source, list_distinct({_TOKS}) AS toks FROM documents
  WHERE text IS NOT NULL
),
n_total AS (SELECT count(*) AS n FROM docs),
tok AS (SELECT doc_id, source, unnest(toks) AS token FROM docs),
df_tok AS (SELECT token, count(*) AS n_t FROM tok GROUP BY 1),
top_tok AS (
  SELECT token, n_t FROM df_tok ORDER BY n_t DESC, token LIMIT 20
),
df_src AS (SELECT source, count(*) AS n_s FROM docs GROUP BY 1),
df_ts AS (
  SELECT t.token, t.source, count(*) AS n_ts
  FROM tok t JOIN top_tok tt ON tt.token = t.token
  GROUP BY 1, 2
)
SELECT d.token, d.source, CAST(d.n_ts AS BIGINT) AS n_docs,
       floor(ln((d.n_ts * 1.0 * nt.n) / (tt.n_t * 1.0 * s.n_s))
             * 10000 + 0.5) / 10000 AS pmi
FROM df_ts d
JOIN top_tok tt ON tt.token = d.token
JOIN df_src s ON s.source = d.source
CROSS JOIN n_total nt
ORDER BY d.token, d.source
""",
)
def q_text_pmi_source_terms(spark: SparkSession, sf_dir: str):
    docs = (
        table(spark, "documents", sf_dir)
        .filter(F.col("text").isNotNull())
        .select("doc_id", "source", F.array_distinct(TX.tokens("text")).alias("toks"))
    )
    n_total = docs.agg(F.count(F.lit(1)).alias("n"))
    tok = docs.select("doc_id", "source", F.explode("toks").alias("token"))
    df_tok = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n_t"))
    top_tok = df_tok.orderBy(F.col("n_t").desc(), "token").limit(20)
    df_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    df_ts = (
        tok.join(F.broadcast(top_tok.select("token")), "token")
        .groupBy("token", "source")
        .agg(F.count(F.lit(1)).alias("n_ts"))
    )
    return (
        df_ts.join(F.broadcast(top_tok), "token")
        .join(F.broadcast(df_src), "source")
        .crossJoin(n_total)
        .select(
            "token",
            "source",
            F.col("n_ts").alias("n_docs"),
            (
                F.floor(
                    F.log(
                        (F.col("n_ts") * 1.0 * F.col("n"))
                        / (F.col("n_t") * 1.0 * F.col("n_s"))
                    )
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("pmi"),
        )
        .orderBy("token", "source")
    )


# -- power-iteration spectral diagnostic of the embedding corpus -------------
# 3 fixed-point power iterations v <- G v on the 64x64 uncentered Gram
# matrix, reporting the direction found PLUS its Rayleigh quotient and
# energy fraction (rayleigh / trace). Convergence to the true top
# eigenvector needs ~1/(1-gap) iterations; on THIS synthetic corpus the
# spectrum is near-isotropic (lambda2/lambda1 ~ 0.98, measured), so the
# honest read-out is the energy fraction itself: ~1/64 says "no dominant
# direction" (isotropy — a real embedding-quality diagnostic), while a
# real-world anisotropic corpus would push it toward 1 and the loading
# toward the principal axis. The iteration count is a constant, not a
# convergence loop, so the operator stays exactly-reproducible.
# Determinism (the PageRank trick, querydefs/graph.py): values quantize
# to DECIMAL(18,7), Gram entries accumulate as exact DECIMAL(38,14) sums
# and floor-quantize to a 1e6 integer grid, the iteration is pure
# BIGINT arithmetic, and each normalization is the SAME float op
# sequence on both engines (w * 1e6 / max|w|, then floor). No integer
# division anywhere (Spark `div` truncates, DuckDB `//` floors — they
# disagree on negatives), only floor() which both engines define
# identically. Scale: G is d^2-bounded (4096 rows, map-side partial
# aggs); iterations touch only d- and d^2-sized tables. The explode
# self-join Gram build is the oracle-parity layout; a 100 TB run swaps
# in per-partition outer products (mapInPandas) emitting the same d^2
# partials.
_PC_ITERS = 3


def _top_pc_oracle() -> str:
    parts = [
        """
WITH ex AS (
  SELECT vec_id, CAST(i - 1 AS INT) AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000000 + 0.5) AS BIGINT)
           AS qi
  FROM embeddings, unnest(range(1, 65)) AS t(i)
),
gram AS (
  SELECT a.dim AS d, b.dim AS e,
         CAST(floor(CAST(sum(CAST(a.qi * b.qi AS DECIMAL(38,0))) AS DOUBLE)
                    / 100000000.0) AS BIGINT) AS g
  FROM ex a JOIN ex b ON a.vec_id = b.vec_id
  GROUP BY 1, 2
),
dims AS (SELECT DISTINCT d AS dim FROM gram),
v0 AS (SELECT dim, CAST(1000000 AS BIGINT) AS v FROM dims)"""
    ]
    for i in range(1, _PC_ITERS + 1):
        parts.append(
            f""",
w{i} AS (
  SELECT g.d AS dim, sum(g.g * v.v) AS w
  FROM gram g JOIN v{i - 1} v ON v.dim = g.e GROUP BY 1
),
m{i} AS (SELECT max(abs(w)) AS m FROM w{i}),
v{i} AS (
  SELECT w.dim, CAST(floor(w.w * 1000000.0 / m.m) AS BIGINT) AS v
  FROM w{i} w CROSS JOIN m{i} m
)"""
        )
    parts.append(
        f""",
nrm AS (SELECT sqrt(sum(v * 1.0 * v)) AS l2 FROM v{_PC_ITERS})
, ray AS (
  SELECT sum(CAST(floor((g.g * v1.v) * 1.0 * v2.v / 1000000000000.0)
             AS BIGINT)) AS num
  FROM gram g
  JOIN v{_PC_ITERS} v1 ON v1.dim = g.e
  JOIN v{_PC_ITERS} v2 ON v2.dim = g.d
),
den AS (SELECT sum(v * v) AS vv FROM v{_PC_ITERS}),
tr AS (SELECT sum(g) AS t FROM gram WHERE d = e)
SELECT v.dim, floor(v.v / n.l2 * 1000000 + 0.5) / 1000000 AS loading,
       floor((r.num * 1000000.0 / d.vv) * 10000 + 0.5) / 10000 AS rayleigh,
       floor((r.num * 1000000.0 / d.vv) / (t.t / 1000000.0) * 1000000 + 0.5)
         / 1000000 AS energy_fraction
FROM v{_PC_ITERS} v CROSS JOIN nrm n CROSS JOIN ray r
CROSS JOIN den d CROSS JOIN tr t
ORDER BY v.dim
"""
    )
    return "".join(parts)


@register("emb_top_pc_power_iteration", oracle=_top_pc_oracle())
def q_emb_top_pc_power_iteration(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir)
    # values quantize to a 1e7 INTEGER grid (fast long multiplies; only
    # the overflow-safe sum is DECIMAL(38,0)), and the outer product is a
    # JOIN-FREE double posexplode — each vector emits its d^2 products in
    # place, map-side partial aggs reduce to 4096 keys before any
    # exchange (measured 2.0s vs 4.7s for the equivalent self-join at
    # sf0.1; the oracle keeps the join formulation as the independent
    # derivation)
    e1 = emb.select(
        "vec_id", F.posexplode("embedding").alias("d", "vd"), "embedding"
    )
    e2 = e1.select(
        "d",
        F.floor(F.col("vd").cast("double") * 10000000 + F.lit(0.5))
        .cast("long")
        .alias("qa"),
        F.posexplode("embedding").alias("e", "ve"),
    )
    gram = (
        e2.select(
            "d",
            "e",
            (
                F.col("qa")
                * F.floor(F.col("ve").cast("double") * 10000000 + F.lit(0.5))
                .cast("long")
            ).alias("p"),
        )
        .groupBy("d", "e")
        .agg(
            F.floor(
                F.sum(F.col("p").cast("decimal(38,0)")).cast("double")
                / 100000000.0
            )
            .cast("long")
            .alias("g")
        )
    )
    # gram is the one corpus-sized pass and is referenced by every
    # iteration plus the Rayleigh/trace legs (~6 subtree reuses) --
    # without the cut each reference recomputes the full explode
    # self-join (measured 6-10s vs ~2s at sf0.1)
    gram = reuse(gram)
    dims = gram.select(F.col("d").alias("dim")).distinct()
    v = dims.withColumn("v", F.lit(1000000).cast("long"))
    for _ in range(_PC_ITERS):
        # round-11 F4: each iteration references v twice (w join + the
        # max-normalizer crossJoin), so the uncut lineage doubled per
        # iteration -- the before-plan held 522 Exchanges of tiny
        # re-derived joins
        v = reuse(v)
        w = (
            gram.join(v, gram.e == v.dim)
            .groupBy(F.col("d").alias("dim"))
            .agg(F.sum(F.col("g") * F.col("v")).alias("w"))
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        v = w.crossJoin(m).select(
            "dim",
            F.floor(F.col("w") * 1000000.0 / F.col("m")).cast("long").alias("v"),
        )
    # F4: the final iterate feeds nrm, both Rayleigh legs, den and the
    # output projection (5 references) -- cut once more after the loop
    v = reuse(v)
    nrm = v.agg(F.sqrt(F.sum(F.col("v") * 1.0 * F.col("v"))).alias("l2"))
    # Rayleigh quotient v'Gv / v'v: per-term floor-quantization (the
    # g*v1 product stays exact BIGINT, the second multiply runs in
    # double /1e12) keeps the 4096-term reduction order-free; trace and
    # v'v are exact integer sums
    v1 = v.withColumnsRenamed({"dim": "e", "v": "v1"})
    v2 = v.withColumnsRenamed({"dim": "d_", "v": "v2"})
    ray = (
        gram.join(v1, "e")
        .join(v2, gram.d == v2.d_)
        .agg(
            F.sum(
                F.floor(
                    (F.col("g") * F.col("v1")) * 1.0 * F.col("v2")
                    / 1000000000000.0
                ).cast("long")
            ).alias("num")
        )
    )
    den = v.agg(F.sum(F.col("v") * F.col("v")).alias("vv"))
    tr = gram.filter(F.col("d") == F.col("e")).agg(F.sum("g").alias("t"))
    out = (
        v.crossJoin(nrm)
        .crossJoin(ray)
        .crossJoin(den)
        .crossJoin(tr)
        .select(
            "dim",
            (F.floor(F.col("v") / F.col("l2") * 1000000 + 0.5) / 1000000).alias(
                "loading"
            ),
            (
                F.floor((F.col("num") * 1000000.0 / F.col("vv")) * 10000 + 0.5)
                / 10000
            ).alias("rayleigh"),
            (
                F.floor(
                    (F.col("num") * 1000000.0 / F.col("vv"))
                    / (F.col("t") / 1000000.0)
                    * 1000000
                    + 0.5
                )
                / 1000000
            ).alias("energy_fraction"),
        )
        .orderBy("dim")
    )
    return out


# -- k-center (farthest-point) seeding over embeddings -----------------------
# Deterministic clustering initialization: start from the smallest
# vec_id, then 3x pick the point FARTHEST from the chosen set (ties by
# vec_id) — the classical 2-approximation for k-center and the
# deterministic cousin of k-means++ (whose D^2 sampling is randomized;
# farthest-point is what you run when reproducibility matters). All
# distances are exact integer sums on the 1e7 value grid, so argmax
# selection is bit-deterministic on both engines. Scale: each round is
# ONE corpus pass against a 64-row broadcast seed vector; rounds = k,
# never corpus x corpus.
_KC_ROUNDS = 3  # seeds 2..4 (seed 1 = min vec_id)


def _kcenter_oracle() -> str:
    parts = [
        """
WITH ex AS (
  SELECT vec_id, CAST(i - 1 AS INT) AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000000 + 0.5) AS BIGINT)
           AS qi
  FROM embeddings, unnest(range(1, 65)) AS t(i)
),
s1 AS (SELECT min(vec_id) AS vid FROM ex),
mind0 AS (
  SELECT a.vec_id, sum((a.qi - sv.qi) * (a.qi - sv.qi)) AS d2
  FROM ex a
  JOIN (SELECT dim, qi FROM ex JOIN s1 ON ex.vec_id = s1.vid) sv
    ON sv.dim = a.dim
  GROUP BY 1
)"""
    ]
    for i in range(1, _KC_ROUNDS + 1):
        parts.append(
            f""",
s{i + 1} AS (
  SELECT vec_id AS vid, d2 FROM mind{i - 1}
  ORDER BY d2 DESC, vec_id LIMIT 1
),
mind{i} AS (
  SELECT a.vec_id,
         least(m.d2, sum((a.qi - sv.qi) * (a.qi - sv.qi))) AS d2
  FROM ex a
  JOIN (SELECT dim, qi FROM ex JOIN s{i + 1} ON ex.vec_id = s{i + 1}.vid) sv
    ON sv.dim = a.dim
  JOIN mind{i - 1} m ON m.vec_id = a.vec_id
  GROUP BY a.vec_id, m.d2
)"""
        )
    sel = ["SELECT 1 AS seed_rank, vid AS vec_id, CAST(0 AS BIGINT) AS chosen_d2 FROM s1"]
    for i in range(1, _KC_ROUNDS + 1):
        sel.append(
            f"SELECT {i + 1} AS seed_rank, vid AS vec_id, CAST(d2 AS BIGINT)"
            f" AS chosen_d2 FROM s{i + 1}"
        )
    parts.append(
        "\nSELECT * FROM (\n" + "\nUNION ALL\n".join(sel) + "\n) ORDER BY seed_rank\n"
    )
    return "".join(parts)


@register("emb_kcenter_seeds", oracle=_kcenter_oracle())
def q_emb_kcenter_seeds(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir)
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "raw")
    ).select(
        "vec_id",
        "dim",
        F.floor(F.col("raw").cast("double") * 10000000 + F.lit(0.5))
        .cast("long")
        .alias("qi"),
    )
    ex = reuse(ex)  # one corpus pass feeds every round
    s1 = ex.agg(F.min("vec_id").alias("vid"))
    seed_vec = ex.join(s1, ex.vec_id == s1.vid).select("dim", "qi")
    mind = (
        ex.alias("a")
        .join(F.broadcast(seed_vec.alias("sv")), "dim")
        .groupBy(F.col("a.vec_id").alias("vec_id"))
        .agg(
            F.sum(
                (F.col("a.qi") - F.col("sv.qi")) * (F.col("a.qi") - F.col("sv.qi"))
            ).alias("d2")
        )
    )
    chosen = [s1.select(F.lit(1).alias("seed_rank"), F.col("vid").alias("vec_id"),
                        F.lit(0).cast("long").alias("chosen_d2"))]
    for i in range(1, _KC_ROUNDS + 1):
        mind = reuse(mind)
        nxt = mind.orderBy(F.col("d2").desc(), "vec_id").limit(1)
        chosen.append(
            nxt.select(
                F.lit(i + 1).alias("seed_rank"),
                F.col("vec_id"),
                F.col("d2").cast("long").alias("chosen_d2"),
            )
        )
        seed_vec = ex.join(
            nxt.select(F.col("vec_id").alias("vid")), ex.vec_id == F.col("vid")
        ).select("dim", "qi")
        newd = (
            ex.alias("a")
            .join(F.broadcast(seed_vec.alias("sv")), "dim")
            .groupBy(F.col("a.vec_id").alias("vec_id"))
            .agg(
                F.sum(
                    (F.col("a.qi") - F.col("sv.qi"))
                    * (F.col("a.qi") - F.col("sv.qi"))
                ).alias("nd2")
            )
        )
        mind = (
            mind.join(newd, "vec_id")
            .select("vec_id", F.least(F.col("d2"), F.col("nd2")).alias("d2"))
        )
    out = chosen[0]
    for c in chosen[1:]:
        out = out.unionAll(c)
    return out.orderBy("seed_rank")


# -- contrastive triplet mining (anchor / positive / hard negative) ----------
# Training-data prep for embedding models: for each anchor vector, the
# most similar SAME-label vector (positive) and the most similar
# DIFFERENT-label vector (hard negative — the confusable case that
# actually teaches the margin). Similarity is the exact integer-grid dot
# product (1e7 quantization, products <= 6.4e15 in BIGINT), so both
# argmax selections are bit-deterministic with (dot, vec_id) tie-breaks.
# Scale: anchors are a bounded sample; candidates stream through one
# explode-join per side keyed by dim, partial-aggregated before any
# shuffle; label blocking (the emb_neardup pattern) bounds the positive
# side at 100x corpus.
@register(
    "emb_contrastive_triplets",
    oracle="""
WITH ex AS (
  SELECT vec_id, label, CAST(i - 1 AS INT) AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 10000000 + 0.5) AS BIGINT)
           AS qi
  FROM embeddings, unnest(range(1, 65)) AS t(i)
),
anchors AS (SELECT * FROM ex WHERE vec_id < 20),
dots AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS cand_id,
         max(b.label) AS cand_label, max(a.label) AS anchor_label,
         sum(a.qi * b.qi) AS dot_fp
  FROM anchors a JOIN ex b ON b.dim = a.dim AND b.vec_id != a.vec_id
  GROUP BY 1, 2
),
pos AS (
  SELECT anchor_id, cand_id AS pos_id, dot_fp AS pos_dot_fp
  FROM (
    SELECT *, row_number() OVER (PARTITION BY anchor_id
                                 ORDER BY dot_fp DESC, cand_id) AS rn
    FROM dots WHERE cand_label = anchor_label
  ) WHERE rn = 1
),
neg AS (
  SELECT anchor_id, cand_id AS neg_id, dot_fp AS neg_dot_fp
  FROM (
    SELECT *, row_number() OVER (PARTITION BY anchor_id
                                 ORDER BY dot_fp DESC, cand_id) AS rn
    FROM dots WHERE cand_label != anchor_label
  ) WHERE rn = 1
)
SELECT p.anchor_id, p.pos_id, CAST(p.pos_dot_fp AS BIGINT) AS pos_dot_fp,
       n.neg_id, CAST(n.neg_dot_fp AS BIGINT) AS neg_dot_fp,
       CAST(p.pos_dot_fp - n.neg_dot_fp AS BIGINT) AS margin_fp
FROM pos p JOIN neg n ON n.anchor_id = p.anchor_id
ORDER BY p.anchor_id
""",
)
def q_emb_contrastive_triplets(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir)
    ex = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("dim", "raw")
    ).select(
        "vec_id",
        "label",
        "dim",
        F.floor(F.col("raw").cast("double") * 10000000 + F.lit(0.5))
        .cast("long")
        .alias("qi"),
    )
    anchors = ex.filter(F.col("vec_id") < 20)
    a, b = anchors.alias("a"), ex.alias("b")
    dots = (
        a.join(
            b,
            (F.col("b.dim") == F.col("a.dim"))
            & (F.col("b.vec_id") != F.col("a.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("anchor_id"),
            F.col("b.vec_id").alias("cand_id"),
        )
        .agg(
            F.max(F.col("b.label")).alias("cand_label"),
            F.max(F.col("a.label")).alias("anchor_label"),
            F.sum(F.col("a.qi") * F.col("b.qi")).alias("dot_fp"),
        )
    )
    wpos = Window.partitionBy("anchor_id").orderBy(
        F.col("dot_fp").desc(), "cand_id"
    )
    pos = (
        dots.filter(F.col("cand_label") == F.col("anchor_label"))
        .withColumn("rn", F.row_number().over(wpos))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            F.col("cand_id").alias("pos_id"),
            F.col("dot_fp").alias("pos_dot_fp"),
        )
    )
    neg = (
        dots.filter(F.col("cand_label") != F.col("anchor_label"))
        .withColumn("rn", F.row_number().over(wpos))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            F.col("cand_id").alias("neg_id"),
            F.col("dot_fp").alias("neg_dot_fp"),
        )
    )
    return (
        pos.join(neg, "anchor_id")
        .select(
            "anchor_id",
            "pos_id",
            "pos_dot_fp",
            "neg_id",
            "neg_dot_fp",
            (F.col("pos_dot_fp") - F.col("neg_dot_fp")).alias("margin_fp"),
        )
        .orderBy("anchor_id")
    )


# -- temperature-scaled source mixing weights --------------------------------
# The multilingual/multi-source corpus sampling math (mT5/XLM-R style):
# raw source shares p_i are flattened by temperature alpha
# (w_i = p_i^alpha / sum p_j^alpha) so small sources get upsampled
# without drowning the big ones. Exact integer counts; the pow/ratio
# chain is the same mirrored double sequence on both engines; the
# normalizing sum runs over #sources values (deterministic order via a
# window over the sorted source list — not a parallel reduction).
@register(
    "sample_temperature_mix",
    oracle="""
WITH src AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
tot AS (SELECT sum(n) AS nt FROM src),
w AS (
  SELECT s.source, s.n, s.n * 1.0 / t.nt AS p,
         pow(s.n * 1.0 / t.nt, 0.3) AS pw
  FROM src s CROSS JOIN tot t
),
norm AS (SELECT sum(pw) AS z FROM (SELECT pw FROM w ORDER BY source))
SELECT w.source, CAST(w.n AS BIGINT) AS n_docs,
       floor(w.p * 1000000 + 0.5) / 1000000 AS natural_share,
       floor(w.pw / nm.z * 1000000 + 0.5) / 1000000 AS temp_share
FROM w CROSS JOIN norm nm
ORDER BY w.source
""",
)
def q_sample_temperature_mix(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    tot = src.agg(F.sum("n").alias("nt"))
    w = src.crossJoin(tot).select(
        "source",
        "n",
        (F.col("n") * 1.0 / F.col("nt")).alias("p"),
        F.pow(F.col("n") * 1.0 / F.col("nt"), F.lit(0.3)).alias("pw"),
    )
    # normalizer: sum over #sources doubles — make the reduction order
    # deterministic (sorted by source) via a cumulative window instead of
    # a parallel agg, then take the last value; DuckDB's ordered-subquery
    # sum mirrors the same association order
    from pyspark.sql import Window as W

    win = W.orderBy("source").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    w2 = w.withColumn("z", F.sum("pw").over(win))
    return w2.select(
        "source",
        F.col("n").cast("long").alias("n_docs"),
        (F.floor(F.col("p") * 1000000 + 0.5) / 1000000).alias("natural_share"),
        (F.floor(F.col("pw") / F.col("z") * 1000000 + 0.5) / 1000000).alias(
            "temp_share"
        ),
    ).orderBy("source")


# -- corpus lexical diversity per source -------------------------------------
# Type-token ratio at corpus grain: distinct tokens / total tokens per
# source, plus hapax share (tokens seen exactly once — the tail that
# dominates natural vocabulary and vanishes in templated text). Exact
# integer counts from one tokenize+explode pass; two hash aggs.
@register(
    "text_ttr_by_source",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest({_TOKS}) AS token FROM documents
  WHERE text IS NOT NULL
),
per_tok AS (
  SELECT source, token, count(*) AS n FROM tok GROUP BY 1, 2
)
SELECT source,
       CAST(sum(n) AS BIGINT) AS n_tokens,
       count(*) AS n_types,
       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       floor(count(*) * 1.0 / sum(n) * 10000 + 0.5) / 10000 AS ttr,
       floor(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1.0 / count(*)
             * 10000 + 0.5) / 10000 AS hapax_share
FROM per_tok GROUP BY 1 ORDER BY 1
""",
)
def q_text_ttr_by_source(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir).filter(F.col("text").isNotNull())
    tok = docs.select("source", F.explode(TX.tokens("text")).alias("token"))
    per_tok = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("n"))
    hapax = F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
    return (
        per_tok.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            hapax.cast("long").alias("n_hapax"),
            (
                F.floor(F.count(F.lit(1)) * 1.0 / F.sum("n") * 10000 + 0.5)
                / 10000
            ).alias("ttr"),
            (
                F.floor(hapax * 1.0 / F.count(F.lit(1)) * 10000 + 0.5) / 10000
            ).alias("hapax_share"),
        )
        .orderBy("source")
    )


# -- exact heavy hitters (Misra-Gries two-pass) ------------------------------
# Every token whose frequency share strictly exceeds 1/(k+1), with EXACT
# counts, found WITHOUT a vocabulary-sized shuffle: per-partition
# Misra-Gries summaries (<= k counter rows each, mapInPandas) union into
# a guaranteed candidate superset (pigeonhole over the MG error bound),
# then one broadcast-semi-join counting pass over candidate rows only —
# operators/heavyhitters.py documents the mergeable-summary proof. The
# oracle is the brute-force word count + HAVING over the same integer
# threshold predicate.
_HH_K = 40


@register(
    "text_heavy_hitters",
    oracle=f"""
WITH tok AS (SELECT unnest({_TOKS}) AS token FROM documents)
SELECT token, count(*) AS freq
FROM tok
GROUP BY token
HAVING count(*) * {_HH_K + 1} > (SELECT count(*) FROM tok)
ORDER BY freq DESC, token
""",
)
def q_text_heavy_hitters(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.heavyhitters import (
        heavy_hitters_exact,
    )

    docs = table(spark, "documents", sf_dir)
    tok = docs.select(F.explode(TX.tokens("text")).alias("token"))
    return heavy_hitters_exact(tok, "token", _HH_K).orderBy(
        F.desc("freq"), "token"
    )


# -- exact set-similarity self-join (prefix filtering) ------------------------
# The EXACT counterpart to MinHash-LSH near-dup: every unordered document
# pair whose token-set Jaccard >= 0.95, found by the AllPairs/PPJoin
# prefix-filtering join (operators/setsim.py) — index only each set's
# (s - ceil(t*s) + 1)-token rarest-first prefix, equi-join on prefix
# tokens, verify candidates exactly. Zero false negatives by the prefix-
# filtering principle; the oracle brute-forces the full all-pairs join,
# so the driver hash-match proves the filter lossless. All pruning
# comparisons are integer-rational (19/20), float-free.
@register(
    "text_setsim_prefix_join",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok
  FROM documents WHERE text IS NOT NULL
),
sizes AS (SELECT doc_id, count(*) AS s FROM toks GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       floor(CAST(i AS DOUBLE) / (sa.s + sb.s - i) * 10000 + 0.5) / 10000
         AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE i * 20 >= 19 * (sa.s + sb.s - i)
ORDER BY 1, 2
""",
)
def q_text_setsim_prefix_join(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.setsim import (
        setsim_prefix_join,
    )

    docs = table(spark, "documents", sf_dir)
    return setsim_prefix_join(docs, "doc_id", "text", num=19, den=20).orderBy(
        "doc_a", "doc_b"
    )


# -- count-min sketch frequency estimates ------------------------------------
# Deterministic CMS contract: Spark builds the sketch from per-partition
# local grids merged cell-wise (operators/sketches.py — the only shuffle
# is bounded by partitions x depth x width, never vocabulary-sized) and
# estimates the 25 most frequent tokens; the oracle REBUILDS the entire
# sketch in SQL from scratch with the same engine-portable md5 bucket
# hash and must land on the identical cells. Hash-match therefore proves
# the distributed build+merge equals the sequential definition. The
# exact probe frequencies come from a plain word count (verification
# surface only — the sketch is the scale path); `never_under` pins the
# CMS one-sided error guarantee on every probe.
_CMS_D, _CMS_W = 4, 256
_CMS_BUCKET_SQL = (
    "CAST(concat('0x', substr(md5(concat(CAST({j} AS VARCHAR), ':', {tok})), "
    f"1, 8)) AS BIGINT) % {_CMS_W}"
)


@register(
    "text_cms_freq_est",
    oracle=f"""
WITH tok AS (
  SELECT unnest({_TOKS}) AS token FROM documents WHERE text IS NOT NULL
),
freq AS (SELECT token, count(*) AS exact_freq FROM tok GROUP BY 1),
cells AS (
  SELECT t.j, {_CMS_BUCKET_SQL.format(j='t.j', tok='token')} AS bucket,
         sum(exact_freq) AS cnt
  FROM freq CROSS JOIN range({_CMS_D}) AS t(j)
  GROUP BY 1, 2
),
probes AS (
  SELECT token, exact_freq FROM freq ORDER BY exact_freq DESC, token LIMIT 25
),
est AS (
  SELECT p.token, CAST(min(c.cnt) AS BIGINT) AS cms_est
  FROM probes p
  CROSS JOIN range({_CMS_D}) AS t(j)
  JOIN cells c
    ON c.j = t.j
   AND c.bucket = {_CMS_BUCKET_SQL.format(j='t.j', tok='p.token')}
  GROUP BY 1
)
SELECT p.token, p.exact_freq, e.cms_est,
       e.cms_est >= p.exact_freq AS never_under
FROM probes p JOIN est e USING (token) ORDER BY token
""",
)
def q_text_cms_freq_est(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    docs = table(spark, "documents", sf_dir).filter(F.col("text").isNotNull())
    tok = docs.select(F.explode(TX.tokens("text")).alias("token"))
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).alias("exact_freq"))
    probes = freq.orderBy(F.desc("exact_freq"), "token").limit(25)
    sketch = cms_build(tok, "token", depth=_CMS_D, width=_CMS_W)
    est = cms_estimate(sketch, probes, "token", depth=_CMS_D, width=_CMS_W)
    return (
        probes.join(est, "token")
        .select(
            "token",
            "exact_freq",
            "cms_est",
            (F.col("cms_est") >= F.col("exact_freq")).alias("never_under"),
        )
        .orderBy("token")
    )


# -- context-window chunking with overlap -------------------------------------
# Slice every document into fixed 40-token windows with stride 30
# (10-token overlap) — the standard long-document preprocessing step for
# a bounded-context trainer, as distinct from text_pack_chunks (which
# PACKS short docs together). Chunk starts are 1 + k*stride for
# k = 0..ceil(max(n-C,0)/S) (exact integer ceil-div), the tail chunk may
# be short, and each chunk carries an md5 over its space-joined tokens so
# the oracle pins CONTENT, not just counts. One explode, no shuffle
# beyond the final sort; chunks per doc is ceil(n/S), linear in document
# length.
_CHUNK_C, _CHUNK_S = 40, 30


@register(
    "text_chunk_overlap",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, {_TOKS} AS t FROM documents WHERE text IS NOT NULL
),
base AS (SELECT doc_id, t, len(t) AS n FROM tok WHERE len(t) > 0),
ks AS (
  SELECT doc_id, t, n,
         unnest(range(0, ((greatest(n - {_CHUNK_C}, 0) + {_CHUNK_S} - 1)
                          // {_CHUNK_S}) + 1)) AS k
  FROM base
)
SELECT doc_id,
       CAST(k AS INT) AS chunk_id,
       CAST(k * {_CHUNK_S} + 1 AS INT) AS start_pos,
       CAST(len(t[k * {_CHUNK_S} + 1 :
                  least(k * {_CHUNK_S} + {_CHUNK_C}, n)]) AS INT) AS chunk_len,
       md5(array_to_string(t[k * {_CHUNK_S} + 1 :
                             least(k * {_CHUNK_S} + {_CHUNK_C}, n)], ' '))
         AS chunk_md5
FROM ks ORDER BY doc_id, chunk_id
""",
)
def q_text_chunk_overlap(spark: SparkSession, sf_dir: str):
    C, S = _CHUNK_C, _CHUNK_S
    docs = table(spark, "documents", sf_dir).filter(F.col("text").isNotNull())
    base = docs.select(
        "doc_id", TX.tokens("text").alias("t")
    ).withColumn("n", F.size("t")).filter(F.col("n") > 0)
    kmax = F.floor(
        (F.greatest(F.col("n") - C, F.lit(0)) + (S - 1)) / S
    ).cast("int")
    # round-11: the global sort runs on the NARROW token frame before the
    # explode+md5 projection (sampling-job double-evaluation fix, see
    # OPTIMIZATION_r11.md); explode emits k ascending within each row, so
    # (doc_id asc, chunk_id asc) global order is preserved exactly.
    ks = base.orderBy("doc_id").select(
        "doc_id", "t", "n", F.explode(F.sequence(F.lit(0), kmax)).alias("k")
    )
    start = F.col("k") * S + 1
    chunk = F.slice("t", start, F.lit(C))
    return ks.select(
        "doc_id",
        F.col("k").cast("int").alias("chunk_id"),
        start.cast("int").alias("start_pos"),
        F.size(chunk).cast("int").alias("chunk_len"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"),
    )


# -- binary-embedding Hamming top-k ------------------------------------------
# The third ANN speed tier after float cosine (sim_topk_bruteforce) and
# int8 (emb_quantize_int8): binarize each 64-d embedding to its sign
# bits packed into TWO 32-bit halves (a single 1<<63 overflows DuckDB's
# checked shift, and two halves keep every constant in safe range),
# then rank neighbors by Hamming distance — bit_count(xor) on packed
# integers, the 32x-compression recall workhorse. Same query set and
# tie-break conventions as the cosine top-k; all arithmetic is integer
# exact, so the oracle pins it bit-level.
def _ham_code_sql(half: int) -> str:
    terms = [
        f"(CASE WHEN embedding[{half * 32 + i + 1}] >= 0 THEN {2 ** i} ELSE 0 END)"
        for i in range(32)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "sim_topk_hamming",
    oracle=f"""
WITH codes AS (
  SELECT vec_id, {_ham_code_sql(0)} AS c0, {_ham_code_sql(1)} AS c1
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         bit_count(xor(q.c0, c.c0)) + bit_count(xor(q.c1, c.c1)) AS hamming
  FROM (SELECT * FROM codes WHERE vec_id < 10) q
  CROSS JOIN codes c
  WHERE c.vec_id != q.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, CAST(hamming AS BIGINT) AS hamming,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY hamming, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, hamming, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
""",
)
def q_sim_topk_hamming(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir)

    def code(half: int):
        out = F.lit(0)
        for i in range(32):
            out = out + F.when(
                F.element_at("embedding", half * 32 + i + 1) >= 0, F.lit(2**i)
            ).otherwise(0)
        return out.cast("long")

    codes = emb.select("vec_id", code(0).alias("c0"), code(1).alias("c1"))
    q = (
        codes.filter(F.col("vec_id") < 10)
        .withColumnsRenamed({"vec_id": "query_id", "c0": "q0", "c1": "q1"})
    )
    ham = (
        F.bit_count(F.col("q0").bitwiseXOR(F.col("c0")))
        + F.bit_count(F.col("q1").bitwiseXOR(F.col("c1")))
    ).cast("long")
    scored = (
        codes.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), ham.alias("hamming"))
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )


# -- one distributed BPE merge round (round 6) --------------------------------
# Tokenizer TRAINING at corpus scale: the inner loop of byte-pair encoding
# is (1) weighted adjacent-pair counts over the word-frequency table,
# (2) argmax pair, (3) greedy non-overlapping merge application. Each is
# relational: the word table is vocabulary-sized (tiny relative to the
# corpus -- the corpus is scanned ONCE for word counts and never again),
# pair extraction explodes len-1 positions per DISTINCT word, and the
# merge is engine-portable replace() (both engines substitute
# left-to-right non-overlapping, exactly BPE's application rule).
# Pair selection counts overlapping occurrences ("aaa" contributes two
# "aa"), per classic BPE; application merges greedily (one merge there) --
# the symbols_before/after ledger makes that accounting explicit. A full
# tokenizer run is this step iterated with merged symbols re-encoded as
# arrays; one step is registered (like emb_kmeans_step) because the
# iteration adds no new relational shape.
@register(
    "text_bpe_merge_step",
    oracle="""
WITH words AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        FROM documents WHERE text IS NOT NULL)
  GROUP BY 1
),
pairs AS (
  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, sum(c) AS n,
         count(DISTINCT w) AS nw
  FROM words, unnest(range(1, length(w))) AS t(i)
  WHERE length(w) >= 2
  GROUP BY 1
),
best AS (
  SELECT pair, n, nw FROM pairs ORDER BY n DESC, pair LIMIT 1
),
applied AS (
  SELECT b.pair, b.n, b.nw,
         w.c,
         length(w.w) AS len_before,
         length(replace(w.w, b.pair, chr(167))) AS len_after
  FROM words w CROSS JOIN best b
)
SELECT pair AS best_pair,
       CAST(max(n) AS BIGINT) AS pair_count,
       CAST(max(nw) AS BIGINT) AS n_distinct_words_with_pair,
       CAST(sum(c * (len_before - len_after)) AS BIGINT) AS merges_applied,
       CAST(sum(c * len_before) AS BIGINT) AS symbols_before,
       CAST(sum(c * len_after) AS BIGINT) AS symbols_after
FROM applied GROUP BY 1
""",
)
def q_text_bpe_merge_step(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    words = (
        docs.filter(F.col("text").isNotNull())
        .select(
            F.explode(
                F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    words = reuse(words)
    pairs = (
        words.filter(F.length("w") >= 2)
        .select(
            "w",
            "c",
            F.explode(F.sequence(F.lit(1), F.length("w") - 1)).alias("i"),
        )
        .select(F.substring(F.col("w"), F.col("i"), 2).alias("pair"), "w", "c")
        .groupBy("pair")
        .agg(
            F.sum("c").alias("n"),
            F.count_distinct("w").alias("nw"),
        )
    )
    best = pairs.orderBy(F.desc("n"), "pair").limit(1)
    applied = words.crossJoin(F.broadcast(best)).select(
        "pair",
        "n",
        "nw",
        "c",
        F.length("w").alias("len_before"),
        F.length(F.replace(F.col("w"), F.col("pair"), F.lit("§"))).alias(
            "len_after"
        ),
    )
    out = applied.groupBy("pair").agg(
        F.max("n").cast("bigint").alias("pair_count"),
        F.max("nw").cast("bigint").alias("n_distinct_words_with_pair"),
        F.sum(F.col("c") * (F.col("len_before") - F.col("len_after")))
        .cast("bigint")
        .alias("merges_applied"),
        F.sum(F.col("c") * F.col("len_before")).cast("bigint").alias("symbols_before"),
        F.sum(F.col("c") * F.col("len_after")).cast("bigint").alias("symbols_after"),
    ).withColumnRenamed("pair", "best_pair")
    return out


# -- cross-doc character-overlap candidates via winnowing postings ------------
# The missing granularity between exact paragraph dedup (normalized lines)
# and token-shingle Jaccard: CHARACTER-level partial overlap. Winnowing
# guarantees any shared substring of length >= k + window - 1 (= 11 here)
# yields a shared fingerprint, and each fingerprint is the md5 of an
# actual k-gram, so a posting match certifies a real shared k-gram --
# candidate pairs carry verified evidence, not just hash coincidence.
# Scale: the postings join is inverted-index shaped (bounded by posting
# lists, never all-pairs); fingerprints appearing in > _SPAN_DF_CAP docs
# are dropped FIRST (boilerplate k-grams -- the hot-key cap, same move as
# the sparse-cosine join), which bounds every posting list AND keeps the
# evidence DISTINCTIVE: this synthetic corpus shares so much vocabulary
# that the median fingerprint appears in 3 docs, so only rare
# fingerprints certify a meaningful overlap. The doc_id < 200 slice
# matches text_winnow_fingerprints' oracle-cost cap.
_SPAN_DF_CAP = 10


@register(
    "dedup_winnow_shared_spans",
    oracle=r"""
WITH d AS (
  SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t
  FROM documents WHERE doc_id < 200 AND text IS NOT NULL
),
grams AS (
  SELECT doc_id, CAST(i AS INTEGER) AS i, md5(substr(t, CAST(i AS INTEGER), 8)) AS h
  FROM d, unnest(range(1, greatest(length(t) - 6, 1))) AS r(i)
  WHERE length(t) >= 8
),
mins AS (
  SELECT doc_id, i,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
         count(*) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS w
  FROM grams
),
posts AS (
  SELECT DISTINCT doc_id, fp FROM mins WHERE w = 4
),
capped AS (
  SELECT fp FROM posts GROUP BY fp HAVING count(*) <= 10
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM posts a
  JOIN capped c ON a.fp = c.fp
  JOIN posts b ON b.fp = a.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared FROM pairs WHERE n_shared >= 5
ORDER BY 1, 2
""",
)
def q_dedup_winnow_shared_spans(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.text import (
        winnow_posts,
    )

    docs = table(spark, "documents", sf_dir).filter(
        (F.col("doc_id") < 200) & F.col("text").isNotNull()
    )
    posts = winnow_posts(docs, k=8, window=4)
    capped = (
        posts.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= _SPAN_DF_CAP)
        .select("fp")
    )
    posts = posts.join(capped, "fp")
    a = posts.select(F.col("doc_id").alias("doc_a"), "fp")
    b = posts.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 5)
        .orderBy("doc_a", "doc_b")
    )


# -- embedding-space health: deterministic-pair cosine histogram (round 6) ----
# A collapsed embedding space (anisotropy / dead model) shows up as
# random-pair cosines concentrating near 1; a healthy space spreads them.
# Pairing is DETERMINISTIC and linear: vec i pairs with vec i+997 when it
# exists (one equi-join on a derived key -- no RNG, no quadratic blowup;
# 97 is coprime to the id strides so pairs stay "random-like").
# Cosine from sequential index-order folds on both engines (the
# emb_norm_stats convention: Spark F.aggregate == DuckDB list_sum over
# list_transform, identical IEEE order), then a 0.1-wide histogram over
# [-1, 1] plus mean |cos|. Scale: one narrow self-join + one tiny agg.
_COS_PAIR_STRIDE = 97


@register(
    "emb_cosine_pair_histogram",
    oracle=f"""
WITH pairs AS (
  SELECT a.vec_id,
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                  p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) AS dot,
         sqrt(list_sum(list_transform(a.embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
         sqrt(list_sum(list_transform(b.embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
  FROM embeddings a JOIN embeddings b
    ON b.vec_id = a.vec_id + {_COS_PAIR_STRIDE}
),
cos AS (
  SELECT floor(dot / (na * nb) * 1000000 + 0.5) / 1000000 AS c
  FROM pairs WHERE na > 0 AND nb > 0
)
SELECT greatest(least(CAST(floor(c * 10) AS INTEGER), 9), -10) AS bucket,
       count(*) AS n_pairs,
       floor(avg(abs(c)) * 10000 + 0.5) / 10000 AS mean_abs_cos
FROM cos GROUP BY 1 ORDER BY 1
""",
)
def q_emb_cosine_pair_histogram(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir)
    a = emb.select(F.col("vec_id"), F.col("embedding").alias("ea"))
    b = emb.select(
        (F.col("vec_id") - _COS_PAIR_STRIDE).alias("vec_id"),
        F.col("embedding").alias("eb"),
    )
    sq = lambda c: F.aggregate(  # noqa: E731
        c, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = a.join(b, "vec_id").select(
        dot.alias("dot"),
        F.sqrt(sq(F.col("ea"))).alias("na"),
        F.sqrt(sq(F.col("eb"))).alias("nb"),
    )
    c = F.floor(F.col("dot") / (F.col("na") * F.col("nb")) * 1_000_000 + 0.5) / 1_000_000
    cos = pairs.filter((F.col("na") > 0) & (F.col("nb") > 0)).select(c.alias("c"))
    bucket = F.greatest(
        F.least(F.floor(F.col("c") * 10).cast("int"), F.lit(9)), F.lit(-10)
    )
    return (
        cos.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (F.floor(F.avg(F.abs("c")) * 10000 + 0.5) / 10000).alias(
                "mean_abs_cos"
            ),
        )
        .orderBy("bucket")
    )


# -- perceptual-hash duplicate groups over decoded media (round 6) ------------
# The image analogue of exact text dedup: a dHash-style code from the
# decoded feature vector (bit_j = feat_j > feat_{j+1}, 7 bits) groups
# media whose DECODED CONTENT renders the same gradient signature --
# byte-identical files are caught by sha256, near-identical renders by
# the perceptual code. The decode is this container's deterministic
# sha256 stand-in (operators/multimodal.py), so the oracle recomputes
# the entire decode+hash+group pipeline from first principles; with a
# real codec injected, the identical plan dedups real images. Scale:
# decode is the one mapInPandas pass; grouping is a hash agg on a
# 7-bit key (bounded groups).
def _mm_phash_oracle() -> str:
    bits = " + ".join(
        f"(CASE WHEN {_hexbyte(4 + j)} > {_hexbyte(5 + j)} THEN {1 << j} ELSE 0 END)"
        for j in range(7)
    )
    return f"""
WITH m AS (
  SELECT doc_id AS media_id, sha256(text) AS h
  FROM documents WHERE doc_id < 500 AND text IS NOT NULL
),
coded AS (SELECT media_id, CAST({bits} AS INTEGER) AS phash FROM m)
SELECT phash,
       count(*) AS n_media,
       CAST(min(media_id) AS BIGINT) AS keep_id
FROM coded GROUP BY 1 HAVING count(*) > 1 ORDER BY 1
"""


@register("mm_phash_dup_groups", oracle=_mm_phash_oracle())
def q_mm_phash_dup_groups(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.multimodal import (
        decode_and_featurize,
    )

    docs = table(spark, "documents", sf_dir).filter(
        (F.col("doc_id") < 500) & F.col("text").isNotNull()
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.lit("application/octet-stream").alias("mime"),
    )
    decoded = decode_and_featurize(media)
    bit = lambda j: F.when(  # noqa: E731
        F.element_at("features", j + 1) > F.element_at("features", j + 2),
        F.lit(1 << j),
    ).otherwise(F.lit(0))
    code = bit(0)
    for j in range(1, 7):
        code = code + bit(j)
    return (
        decoded.select("media_id", code.cast("int").alias("phash"))
        .groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.min("media_id").cast("bigint").alias("keep_id"),
        )
        .filter(F.col("n_media") > 1)
        .orderBy("phash")
    )


# -- group-aware k-fold assignment (round 6) ----------------------------------
# Cross-validation folds that NEVER split an entity: every event of a
# user lands in fold md5(seed, user) mod k, so no user leaks across
# train/eval folds (sample_split_assign is the row-level split; this is
# the entity-level one an ML pipeline needs whenever rows of one entity
# are correlated). Output per fold: row share, user count, and a
# leakage audit recomputed from the data (distinct (user, fold) pairs ==
# distinct users -- the invariant a reviewer checks, emitted as a
# verified column rather than assumed). Scale: fold is a pure map
# expression (no shuffle); the audit is two hash aggs.
_KFOLD_K = 5


@register(
    "sample_group_kfold",
    oracle=f"""
WITH assigned AS (
  SELECT user_id, event_id,
         CAST((strpos('0123456789abcdef',
                      substr(md5('kfold1' || chr(31) || CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 16
              + (strpos('0123456789abcdef',
                        substr(md5('kfold1' || chr(31) || CAST(user_id AS VARCHAR)), 2, 1)) - 1)
              AS INTEGER) % {_KFOLD_K} AS fold
  FROM events WHERE user_id IS NOT NULL
),
leak AS (
  SELECT count(DISTINCT ROW(user_id, fold)) - count(DISTINCT user_id) AS leaked
  FROM assigned
)
SELECT fold,
       count(*) AS n_rows,
       count(DISTINCT user_id) AS n_users,
       floor(count(*) * 10000.0 / sum(count(*)) OVER () + 0.5) / 10000
         AS row_share_bp,
       (SELECT leaked FROM leak) AS n_leaked_users
FROM assigned GROUP BY 1 ORDER BY 1
""",
)
def q_sample_group_kfold(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window

    from electricity_forecast_pipeline_airflow_k8s_spark.functions.hashing import (
        stable_hash,
    )

    ev = table(spark, "events", sf_dir).filter(F.col("user_id").isNotNull())
    byte0 = (
        F.conv(F.substring(stable_hash(F.lit("kfold1"), "user_id"), 1, 2), 16, 10)
        .cast("int")
    )
    assigned = ev.select(
        "user_id", "event_id", (byte0 % _KFOLD_K).alias("fold")
    )
    leak = assigned.agg(
        (
            F.count_distinct(F.struct("user_id", "fold"))
            - F.count_distinct("user_id")
        ).alias("n_leaked_users")
    )
    per_fold = assigned.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("user_id").alias("n_users"),
    )
    total = Window.partitionBy()
    return (
        per_fold.withColumn(
            "row_share_bp",
            F.floor(F.col("n_rows") * 10000.0 / F.sum("n_rows").over(total) + 0.5)
            / 10000,
        )
        .crossJoin(F.broadcast(leak))
        .select("fold", "n_rows", "n_users", "row_share_bp", "n_leaked_users")
        .orderBy("fold")
    )


# -- embedding label separability without pairwise work (round 6) -------------
# Mean pairwise cosine between (and within) label groups, computed from
# SUMMED unit vectors: mean_{i in A, j in B} cos(v_i, v_j)
#   = (sum_A v-hat) . (sum_B v-hat) / (|A| |B|)
# and within-group (self-pairs removed)
#   = (|sum_A v-hat|^2 - |A|) / (|A| (|A| - 1)).
# The identity turns a quadratic pairwise mean into ONE pass over the
# corpus (unit-normalize, d-dim sum per label) plus label-pair x d work
# -- the exact scalable form of "are my classes separated in embedding
# space" (high within / low cross = separable). Unit components are
# quantized to the 1e-9 grid before DECIMAL summation, so both engines
# land on identical sums regardless of order.
@register(
    "emb_label_separability",
    oracle="""
WITH unit AS (
  SELECT label, i.i AS d,
         floor(CAST(embedding[CAST(i.i AS INTEGER)] AS DOUBLE)
               / sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * 1e9 + 0.5) / 1e9 AS u
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS i(i)
  WHERE list_sum(list_transform(embedding,
        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
),
sums AS (
  SELECT label, d,
         CAST(sum(CAST(u AS DECIMAL(38,9))) AS DOUBLE) AS s
  FROM unit GROUP BY 1, 2
),
counts AS (SELECT label, count(*) AS n FROM embeddings
           WHERE list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
           GROUP BY 1),
dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
         sum(a.s * b.s) AS dot
  FROM sums a JOIN sums b ON a.d = b.d AND a.label <= b.label
  GROUP BY 1, 2
)
SELECT d.label_a, d.label_b,
       CASE WHEN d.label_a = d.label_b
            THEN CASE WHEN ca.n > 1
                      THEN floor((d.dot - ca.n) / (ca.n * (ca.n - 1))
                                 * 1000000 + 0.5) / 1000000
                      ELSE NULL END
            ELSE floor(d.dot / (ca.n * cb.n) * 1000000 + 0.5) / 1000000
       END AS mean_cos
FROM dots d
JOIN counts ca ON ca.label = d.label_a
JOIN counts cb ON cb.label = d.label_b
ORDER BY 1, 2
""",
)
def q_emb_label_separability(spark: SparkSession, sf_dir: str):
    emb = table(spark, "embeddings", sf_dir)
    sq = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    e = emb.select("label", "embedding", sq.alias("nrm2")).filter(
        F.col("nrm2") > 0
    )
    unit = e.select(
        "label",
        F.posexplode("embedding").alias("d0", "x"),
        F.sqrt("nrm2").alias("nrm"),
    ).select(
        "label",
        (F.col("d0") + 1).alias("d"),
        (
            F.floor(F.col("x").cast("double") / F.col("nrm") * 1e9 + 0.5) / 1e9
        ).alias("u"),
    )
    sums = unit.groupBy("label", "d").agg(
        F.sum(F.col("u").cast("decimal(38,9)")).cast("double").alias("s")
    )
    counts = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    a = sums.select(F.col("label").alias("label_a"), "d", F.col("s").alias("sa"))
    b = sums.select(F.col("label").alias("label_b"), "d", F.col("s").alias("sb"))
    dots = (
        a.join(b, "d")
        .filter(F.col("label_a") <= F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("sa") * F.col("sb")).alias("dot"))
    )
    ca = counts.select(F.col("label").alias("label_a"), F.col("n").alias("na"))
    cb = counts.select(F.col("label").alias("label_b"), F.col("n").alias("nb"))
    # singleton-label guard: a label with exactly one unit vector has no
    # within-label pairs -- na*(na-1)=0 would crash under ANSI mode while
    # the oracle's raw division returns inf; both sides emit NULL instead.
    mean_cos = F.when(
        (F.col("label_a") == F.col("label_b")) & (F.col("na") > 1),
        F.floor(
            (F.col("dot") - F.col("na")) / (F.col("na") * (F.col("na") - 1)) * 1e6
            + 0.5
        )
        / 1e6,
    ).when(
        F.col("label_a") == F.col("label_b"), F.lit(None).cast("double")
    ).otherwise(
        F.floor(F.col("dot") / (F.col("na") * F.col("nb")) * 1e6 + 0.5) / 1e6
    )
    return (
        dots.join(F.broadcast(ca), "label_a")
        .join(F.broadcast(cb), "label_b")
        .select("label_a", "label_b", mean_cos.alias("mean_cos"))
        .orderBy("label_a", "label_b")
    )


# -- cross-source duplicate leakage (round 6) ---------------------------------
# The split-contamination audit exact dedup alone doesn't answer: a
# duplicate cluster living entirely inside one source is redundancy; the
# SAME content appearing in MULTIPLE sources leaks across any
# source-based train/eval split (the silent eval-inflation bug).
# Identity = md5 of the first 8 normalized tokens ("shared opening"
# dedup -- the practical identity for instruction-style corpora where a
# repeated prompt carries different completions; whole-text md5 finds
# zero cross-source hits in this corpus, which is itself the exact-dedup
# result, so the prefix grain is what makes leakage visible). Per source
# pair: shared prefix fingerprints and each side's leaked-doc count.
# One md5-key agg (16-byte keys shuffle, never text) + a roll-up over
# the tiny (fingerprint, source) frame.
@register(
    "dedup_cross_source_leakage",
    oracle=r"""
WITH docs_per AS (
  SELECT source,
         md5(array_to_string(
             list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                         x -> x != '')[1:8], ' ')) AS h,
         count(*) AS nd
  FROM documents WHERE text IS NOT NULL GROUP BY 1, 2
),
pairs AS (
  SELECT a.source AS source_a, b.source AS source_b, a.h,
         a.nd AS nd_a, b.nd AS nd_b
  FROM docs_per a JOIN docs_per b
    ON a.h = b.h AND a.source < b.source
)
SELECT source_a, source_b,
       count(*) AS n_shared_texts,
       CAST(sum(nd_a) AS BIGINT) AS docs_leaked_a,
       CAST(sum(nd_b) AS BIGINT) AS docs_leaked_b
FROM pairs GROUP BY 1, 2 ORDER BY 1, 2
""",
)
def q_dedup_cross_source_leakage(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators import text as TX

    docs = table(spark, "documents", sf_dir).filter(F.col("text").isNotNull())
    prefix = F.md5(
        F.array_join(F.slice(TX.tokens(F.lower(F.col("text"))), 1, 8), " ")
    )
    per = docs.groupBy("source", prefix.alias("h")).agg(
        F.count(F.lit(1)).alias("nd")
    )
    a = per.select(
        F.col("source").alias("source_a"), "h", F.col("nd").alias("nd_a")
    )
    b = per.select(
        F.col("source").alias("source_b"), "h", F.col("nd").alias("nd_b")
    )
    return (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared_texts"),
            F.sum("nd_a").cast("bigint").alias("docs_leaked_a"),
            F.sum("nd_b").cast("bigint").alias("docs_leaked_b"),
        )
        .orderBy("source_a", "source_b")
    )
