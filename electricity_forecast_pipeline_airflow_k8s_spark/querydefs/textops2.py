"""Document-pipeline lanes beyond textops.py: span-level dedup, published
quality rules, containment dedup, retrieval evaluation, and the
multimodal scene-change pass.

Lanes: text_span_dedup / text_span_dedup_impact (Lee et al. 2022
exact-substring dedup as token k-grams, and its corpus-level impact
number), text_quality_gopher (Rae et al. 2021 A1.1 document rules),
dedup_containment_pairs (subset/quote-inclusion near-dup),
dedup_cluster_size_histogram (the dedup audit chart), text_ndcg_eval
(nDCG@10 retrieval quality), mm_scene_change (frame-to-frame scene
cuts over sampled frames).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from electricity_forecast_pipeline_airflow_k8s_spark.operators import dedup as DD
from electricity_forecast_pipeline_airflow_k8s_spark.operators import text as TX
from electricity_forecast_pipeline_airflow_k8s_spark.operators.partitioning import (
    fanout,
    reuse,
)
from electricity_forecast_pipeline_airflow_k8s_spark.queries import register, table
from electricity_forecast_pipeline_airflow_k8s_spark.querydefs.textops import _TOKS

# -- scene-change detection over sampled frames -------------------------------
# Temporal segmentation for video-like payloads: sample frames (the same
# offsets/plumbing as mm_frame_sample), derive a per-frame energy from
# the frame digest (top 32 bits / 2^32 -- exact in double on both
# engines), and cut a scene boundary wherever consecutive energies jump
# by > 0.5. With a real codec the energy column is the decoded luma/RMS;
# the lag-compare/segment-count algebra is identical. Scale: one scan,
# per-media windows of <= _SC_MAX_FRAMES rows; output is a bounded
# histogram of scenes-per-media.
_SC_EVERY, _SC_MAX_FRAMES, _SC_JUMP = 256, 6, 0.5


@register(
    "mm_scene_change",
    oracle=f"""
WITH m AS (
  SELECT doc_id AS media_id, strlen(text) AS n_bytes FROM documents
  WHERE doc_id < 500 AND text IS NOT NULL
),
frames AS (
  SELECT media_id,
         unnest(list_slice(range(0, greatest(CAST(n_bytes AS BIGINT), 1),
                                 {_SC_EVERY}), 1, {_SC_MAX_FRAMES}))
           AS byte_offset
  FROM m
),
energy AS (
  SELECT media_id, byte_offset,
         CAST(CAST('0x' || substr(
                sha256(CAST(media_id AS VARCHAR) || ':'
                       || CAST(byte_offset AS VARCHAR)), 1, 8)
              AS UBIGINT) AS DOUBLE) / 4294967296.0 AS e
  FROM frames
),
marks AS (
  SELECT media_id,
         CASE WHEN abs(e - lag(e) OVER (PARTITION BY media_id
                                        ORDER BY byte_offset))
                   > {_SC_JUMP}
              THEN 1 ELSE 0 END AS boundary
  FROM energy
),
per_media AS (
  SELECT media_id, 1 + sum(boundary) AS n_scenes, count(*) AS n_frames
  FROM marks GROUP BY 1
)
SELECT CAST(n_scenes AS INTEGER) AS n_scenes,
       count(*) AS n_media,
       floor(count(*) * 1.0 / (SELECT count(*) FROM per_media)
             * 10000 + 0.5) / 10000 AS pct_media
FROM per_media GROUP BY 1 ORDER BY 1
""",
)
def q_mm_scene_change(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators.multimodal import (
        sample_frames,
    )

    docs = table(spark, "documents", sf_dir).filter(
        (F.col("doc_id") < 500) & F.col("text").isNotNull()
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
    )
    frames = sample_frames(
        media, every_n_bytes=_SC_EVERY, max_frames=_SC_MAX_FRAMES
    )
    e = (
        F.conv(F.substring("frame_sha256", 1, 8), 16, 10).cast("double")
        / 4294967296.0
    )
    w = Window.partitionBy("media_id").orderBy("byte_offset")
    marks = frames.select("media_id", "byte_offset", e.alias("e")).withColumn(
        "boundary",
        F.when(
            F.abs(F.col("e") - F.lag("e").over(w)) > _SC_JUMP, 1
        ).otherwise(0),
    )
    per_media = marks.groupBy("media_id").agg(
        (1 + F.sum("boundary")).alias("n_scenes")
    )
    tot = per_media.agg(F.count(F.lit(1)).alias("n_tot"))
    return (
        per_media.groupBy(F.col("n_scenes").cast("int").alias("n_scenes"))
        .agg(F.count(F.lit(1)).alias("n_media"))
        .crossJoin(F.broadcast(tot))
        .select(
            "n_scenes",
            "n_media",
            (
                F.floor(F.col("n_media") * 1.0 / F.col("n_tot") * 10000 + 0.5)
                / 10000
            ).alias("pct_media"),
        )
        .orderBy("n_scenes")
    )


# -- retrieval-quality evaluation: nDCG@10 per query term ---------------------
# The eval-metric counterpart of text_bm25_topk / sim_recall_eval: for
# each probe term, rank candidate docs by single-term BM25 (rounded to
# the 1e-4 grid BEFORE ranking, the same cross-engine tie discipline as
# text_bm25_topk) and score the ranking against graded relevance
# (rel = raw term frequency) with linear-gain nDCG@10. IDCG comes from
# the relevance-ideal ordering of the same candidate set. Scale: the
# per-term frames hold only docs CONTAINING the term (posting-list
# sized, not corpus-sized), and both rankings are windows partitioned by
# term -- no global window anywhere.
_NDCG_K = 10


def _ndcg_oracle() -> str:
    from electricity_forecast_pipeline_airflow_k8s_spark.querydefs.textops import (
        _BM25_B,
        _BM25_K1,
        _BM25_TERMS,
    )

    tf_cols = ",\n         ".join(
        f"len(list_filter(t, x -> x = '{term}')) AS tf_{i}"
        for i, term in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n         ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) OVER () AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )
    melt = "\n  UNION ALL\n".join(
        f"  SELECT '{term}' AS term, doc_id, dl, tf_{i} AS tf, df_{i} AS df,"
        f" n_docs, avgdl FROM with_corpus WHERE tf_{i} > 0"
        for i, term in enumerate(_BM25_TERMS)
    )
    return f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
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
melted AS (
{melt}
),
scored AS (
  SELECT term, doc_id, tf AS rel,
         floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
               * tf * ({_BM25_K1} + 1.0)
               / (tf + {_BM25_K1} * (1.0 - {_BM25_B}
                                     + {_BM25_B} * dl / avgdl))
               * 10000 + 0.5) / 10000 AS s
  FROM melted
),
ranked AS (
  SELECT term, doc_id, rel,
         row_number() OVER (PARTITION BY term ORDER BY s DESC, doc_id) AS rk,
         row_number() OVER (PARTITION BY term ORDER BY rel DESC, doc_id)
           AS irk
  FROM scored
),
sums AS (
  SELECT term,
         count(*) AS n_rel_docs,
         sum(CASE WHEN rk <= {_NDCG_K}
                  THEN rel / log2(rk + 1.0) ELSE 0 END) AS dcg_raw,
         sum(CASE WHEN irk <= {_NDCG_K}
                  THEN rel / log2(irk + 1.0) ELSE 0 END) AS idcg_raw
  FROM ranked GROUP BY 1
)
SELECT term, CAST(n_rel_docs AS BIGINT) AS n_rel_docs,
       floor(dcg_raw * 10000 + 0.5) / 10000 AS dcg_at_10,
       floor(idcg_raw * 10000 + 0.5) / 10000 AS idcg_at_10,
       floor(dcg_raw / idcg_raw * 10000 + 0.5) / 10000 AS ndcg_at_10
FROM sums ORDER BY term
"""


@register("text_ndcg_eval", oracle=_ndcg_oracle())
def q_text_ndcg_eval(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators import text as TX
    from electricity_forecast_pipeline_airflow_k8s_spark.querydefs.textops import (
        _BM25_B,
        _BM25_K1,
        _BM25_TERMS,
    )

    docs = table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", TX.tokens(F.col("text")).alias("t"))

    # closure factory, NOT a default-arg lambda: a 2-parameter lambda
    # would make PySpark bind the second name to the element INDEX
    def _eq(term: str):
        return lambda x: x == F.lit(term)

    per_doc = toks.select(
        "doc_id",
        F.size("t").alias("dl"),
        *[
            F.size(F.filter("t", _eq(term))).alias(f"tf_{i}")
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
    melted = None
    for i, term in enumerate(_BM25_TERMS):
        part = (
            per_doc.filter(F.col(f"tf_{i}") > 0)
            .crossJoin(F.broadcast(corpus))
            .select(
                F.lit(term).alias("term"),
                "doc_id",
                "dl",
                F.col(f"tf_{i}").alias("tf"),
                F.col(f"df_{i}").alias("df"),
                "n_docs",
                "total_dl",
            )
        )
        melted = part if melted is None else melted.unionAll(part)
    avgdl = F.col("total_dl") * 1.0 / F.col("n_docs")
    score = (
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
        * F.col("tf")
        * (_BM25_K1 + 1.0)
        / (
            F.col("tf")
            + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / avgdl)
        )
    )
    scored = melted.select(
        "term",
        "doc_id",
        F.col("tf").alias("rel"),
        (F.floor(score * 10000 + 0.5) / 10000).alias("s"),
    )
    wr = Window.partitionBy("term").orderBy(F.desc("s"), "doc_id")
    wi = Window.partitionBy("term").orderBy(F.desc("rel"), "doc_id")
    ranked = scored.withColumn("rk", F.row_number().over(wr)).withColumn(
        "irk", F.row_number().over(wi)
    )
    gain = lambda rkcol: F.sum(  # noqa: E731
        F.when(
            F.col(rkcol) <= _NDCG_K,
            F.col("rel") / F.log2(F.col(rkcol) + 1.0),
        ).otherwise(F.lit(0.0))
    )
    sums = ranked.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_rel_docs"),
        gain("rk").alias("dcg_raw"),
        gain("irk").alias("idcg_raw"),
    )
    r4 = lambda c: F.floor(c * 10000 + 0.5) / 10000  # noqa: E731
    return sums.select(
        "term",
        F.col("n_rel_docs").cast("bigint").alias("n_rel_docs"),
        r4(F.col("dcg_raw")).alias("dcg_at_10"),
        r4(F.col("idcg_raw")).alias("idcg_at_10"),
        r4(F.col("dcg_raw") / F.col("idcg_raw")).alias("ndcg_at_10"),
    ).orderBy("term")


# -- duplicate-cluster size distribution (the dedup audit chart) --------------
# After any dedup pass the question a corpus owner actually asks is "how
# big are the duplicate clusters?" -- a heavy tail means boilerplate /
# template content that sampling must downweight. Clusters at the
# shared-opening grain (md5 of the first 8 normalized tokens, the same
# identity dedup_cross_source_leakage audits): one 16-byte-key hash agg
# for cluster sizes, then a size-histogram over the cluster frame --
# groupBy of a groupBy, every stage map-side combinable, nothing
# quadratic, output bounded by the number of DISTINCT cluster sizes.
@register(
    "dedup_cluster_size_histogram",
    oracle=r"""
WITH clusters AS (
  SELECT md5(array_to_string(
           list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                       x -> x != '')[1:8], ' ')) AS h,
         count(*) AS sz
  FROM documents WHERE text IS NOT NULL GROUP BY 1
),
tot AS (SELECT sum(sz) AS n_docs FROM clusters)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       count(*) AS n_clusters,
       CAST(sz * count(*) AS BIGINT) AS n_docs,
       floor(sz * count(*) * 1.0 / (SELECT n_docs FROM tot)
             * 10000 + 0.5) / 10000 AS pct_docs
FROM clusters GROUP BY sz ORDER BY cluster_size
""",
)
def q_dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str):
    from electricity_forecast_pipeline_airflow_k8s_spark.operators import text as TX

    docs = table(spark, "documents", sf_dir).filter(F.col("text").isNotNull())
    prefix = F.md5(
        F.array_join(F.slice(TX.tokens(F.lower(F.col("text"))), 1, 8), " ")
    )
    clusters = docs.groupBy(prefix.alias("h")).agg(F.count(F.lit(1)).alias("sz"))
    tot = clusters.agg(F.sum("sz").alias("n_all"))
    return (
        clusters.groupBy(F.col("sz").cast("bigint").alias("cluster_size"))
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .crossJoin(F.broadcast(tot))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
            (
                F.floor(
                    F.col("cluster_size")
                    * F.col("n_clusters")
                    * 1.0
                    / F.col("n_all")
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("pct_docs"),
        )
        .orderBy("cluster_size")
    )


# -- containment near-dup pairs (subset/quote-inclusion dedup) -----------------
# Jaccard misses the asymmetric duplicate a real corpus is full of: a
# short doc quoted whole inside a longer one (jaccard |A∩B|/|A∪B| dives
# as |B| grows, containment |A∩B|/|A| stays 1). Directed output:
# (inner_doc, outer_doc, containment = shared/|inner|) at >= 0.8 with a
# >= 5-shingle floor. Scale shape: inverted-index posting join -- only
# pairs sharing a shingle are ever materialized -- with a STOP-SHINGLE
# document-frequency cap first (shingles in > _CONT_DF_CAP docs are
# boilerplate; they blow the posting lists quadratically and carry no
# signal), the standard production guard. Both the n_inner floor and the
# containment threshold are computed over the capped shingle space on
# BOTH engines, and the threshold filters the RAW ratio (rounding only
# the output), so the operator stays exactly oracle-replayable.
_CONT_THRESHOLD, _CONT_MIN_SHINGLES, _CONT_DF_CAP = 0.8, 5, 500


def _containment_oracle() -> str:
    from electricity_forecast_pipeline_airflow_k8s_spark.querydefs.textops import (
        _SHINGLES,
        _TOKS,
    )

    return f"""
WITH docs AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (SELECT doc_id, {_SHINGLES} AS s FROM docs WHERE len(t) >= 3),
ex0 AS (SELECT doc_id, unnest(s) AS sg FROM sh),
keep AS (
  SELECT sg FROM ex0 GROUP BY sg HAVING count(*) <= {_CONT_DF_CAP}
),
ex AS (SELECT e.doc_id, e.sg FROM ex0 e JOIN keep k ON k.sg = e.sg),
sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY 1),
common AS (
  SELECT a.doc_id AS inner_doc, b.doc_id AS outer_doc, count(*) AS c
  FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id != b.doc_id
  GROUP BY 1, 2
)
SELECT c.inner_doc, c.outer_doc,
       floor(c.c * 1.0 / s.n * 10000 + 0.5) / 10000 AS containment
FROM common c JOIN sizes s ON s.doc_id = c.inner_doc
WHERE c.c * 1.0 / s.n >= {_CONT_THRESHOLD} AND s.n >= {_CONT_MIN_SHINGLES}
ORDER BY 1, 2
"""


@register("dedup_containment_pairs", oracle=_containment_oracle())
def q_dedup_containment_pairs(spark: SparkSession, sf_dir: str):
    return containment_pairs(table(spark, "documents", sf_dir))


def containment_pairs(docs):
    """Directed subset-inclusion near-dup pairs over any (doc_id, text)
    frame -- the inverted-index posting join with the _CONT_DF_CAP
    stop-shingle guard (the lane body, parametrized so the 10x stress can
    drive it on a boilerplate-injected corpus)."""
    # round-11 (guide §2.5): fan the narrow (doc_id, text) frame out
    # before the shingle build -- a single-row-group input ran the whole
    # shingle explode on one core; no-op at real scale.
    sh = fanout(docs.select("doc_id", "text")).select(
        "doc_id", DD.shingles("text").alias("s")
    ).filter(F.size("s") > 0)
    ex0 = sh.select("doc_id", F.explode("s").alias("sg"))
    # stop-shingle cap: document frequency over the distinct-per-doc
    # shingle stream (shingles() emits distinct shingles per doc)
    keep = ex0.groupBy("sg").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= _CONT_DF_CAP
    )
    # round-11 (guide §2.4/§5): the capped posting list feeds sizes AND
    # both sides of the pair join -- without a lineage cut each reference
    # re-derives the shingle explode + DF-cap join (3 more corpus passes).
    # The cut materializes once inside the first action; every consumer
    # reads the stored blocks.
    ex = reuse(ex0.join(keep.select("sg"), "sg"))
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    # shared-shingle counts computed UNDIRECTED (a < b) -- half the join
    # output -- then both orientations emitted from the tiny pair frame
    # (containment is asymmetric only through the inner size, not c)
    a = ex.alias("a")
    b = ex.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.sg") == F.col("b.sg"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    directed = common.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("da").alias("inner_doc"), F.col("db").alias("outer_doc")
                ),
                F.struct(
                    F.col("db").alias("inner_doc"), F.col("da").alias("outer_doc")
                ),
            )
        ).alias("p"),
        "c",
    ).select("p.inner_doc", "p.outer_doc", "c")
    out = (
        directed.join(
            sizes.withColumnsRenamed({"doc_id": "inner_doc"}), "inner_doc"
        )
        .withColumn("cont_raw", F.col("c") / F.col("n"))
        .filter(
            (F.col("cont_raw") >= _CONT_THRESHOLD)
            & (F.col("n") >= _CONT_MIN_SHINGLES)
        )
        .select(
            "inner_doc",
            "outer_doc",
            (F.floor(F.col("cont_raw") * 10000 + 0.5) / 10000).alias(
                "containment"
            ),
        )
        .orderBy("inner_doc", "outer_doc")
    )
    return out


# -- cross-document repeated-span detection ------------------------------------
# The exact-substring half of dedup that shingle/minhash misses: WHICH
# token ranges of a document recur verbatim elsewhere (boilerplate
# headers, license blocks, quoted passages) -- the spans an exact-
# substring dedup (Lee et al. 2022) would cut. Token 5-gram positions
# whose gram occurs in >= 2 DISTINCT documents are duplicated; since
# 5-grams overlap, consecutive duplicated start positions are one
# contiguous region, so a gaps-and-islands pass merges them into MAXIMAL
# spans (>= _SPAN_MIN_GRAMS grams, i.e. >= 7 shared tokens). Document
# frequency is computed over the FULL corpus; only doc_id < 300 spans
# are emitted (the bounded-payload convention). Scale: gram df is a
# map-side-combinable aggregate joined back onto the positional stream
# (the deliberate groupBy+join-back shape of text_ngram_novelty -- no
# gram-partition window hot spot when boilerplate grams dominate); the
# island window partitions by doc.
_SPAN_K, _SPAN_DF, _SPAN_MIN_GRAMS, _SPAN_DOCS = 5, 2, 3, 300


def _span_gram_positions(toks):
    """Shared gram machinery for text_span_dedup / text_span_dedup_impact
    (ONE definition, so the impact number always describes the spans the
    dedup lane reports): from (doc_id, t) build the positional 5-gram
    stream (1-based i, gram at tokens i..i+4) and the set of grams
    occurring in >= _SPAN_DF distinct documents (groupBy + join-back --
    map-side combinable, never a gram-partition window)."""
    gram = lambda _, j: F.concat_ws(  # noqa: E731
        " ", *[F.col("t")[j + d] for d in range(_SPAN_K)]
    )
    pos = (
        toks.filter(F.size("t") >= _SPAN_K)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(F.slice("t", 1, F.size("t") - (_SPAN_K - 1)), gram)
            ).alias("i0", "g"),
        )
        .select("doc_id", (F.col("i0") + 1).cast("int").alias("i"), "g")
    )
    # round-11 F4 (guide §2.4): pos feeds BOTH the document-frequency
    # aggregate and the caller's join-back, so the corpus-wide 5-gram
    # explode evaluated twice; the cut materializes it once.
    pos = reuse(pos)
    dfreq = (
        pos.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= _SPAN_DF)
        .select("g")
    )
    return pos, dfreq

_SPAN_ORACLE = f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
pos AS (
  SELECT doc_id, CAST(i AS INTEGER) AS i,
         array_to_string(t[i:i+{_SPAN_K - 1}], ' ') AS g
  FROM toks, unnest(range(1, len(t) - {_SPAN_K - 2})) r(i)
  WHERE len(t) >= {_SPAN_K}
),
df AS (SELECT g FROM pos GROUP BY g
       HAVING count(DISTINCT doc_id) >= {_SPAN_DF}),
dup AS (SELECT p.doc_id, p.i FROM pos p JOIN df USING (g)
        WHERE p.doc_id < {_SPAN_DOCS}),
marked AS (
  SELECT doc_id, i,
         CASE WHEN lag(i) OVER w IS NULL OR i - lag(i) OVER w > 1
              THEN 1 ELSE 0 END AS brk
  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY i)
),
isl AS (
  SELECT doc_id, i,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
sp AS (
  SELECT doc_id, sid, min(i) AS span_start,
         max(i) + {_SPAN_K - 1} AS span_end, count(*) AS n_grams
  FROM isl GROUP BY 1, 2
)
SELECT doc_id, CAST(span_start AS INTEGER) AS span_start,
       CAST(span_end AS INTEGER) AS span_end,
       CAST(span_end - span_start + 1 AS INTEGER) AS span_tokens,
       CAST(n_grams AS BIGINT) AS n_grams
FROM sp WHERE n_grams >= {_SPAN_MIN_GRAMS}
ORDER BY doc_id, span_start
"""


@register("text_span_dedup", oracle=_SPAN_ORACLE)
def q_text_span_dedup(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    # round-11 F1: spread the single-row-group scan before tokenization
    toks = fanout(docs.select("doc_id", "text")).select(
        "doc_id", TX.tokens("text").alias("t")
    )
    pos, dfreq = _span_gram_positions(toks)
    dup = pos.join(dfreq, "g").filter(F.col("doc_id") < _SPAN_DOCS)
    w = Window.partitionBy("doc_id").orderBy("i")
    brk = F.when(
        F.lag("i").over(w).isNull() | (F.col("i") - F.lag("i").over(w) > 1), 1
    ).otherwise(0)
    isl = dup.withColumn(
        "sid", F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    spans = isl.groupBy("doc_id", "sid").agg(
        F.min("i").alias("span_start"),
        (F.max("i") + (_SPAN_K - 1)).alias("span_end"),
        F.count(F.lit(1)).alias("n_grams"),
    )
    return (
        spans.filter(F.col("n_grams") >= _SPAN_MIN_GRAMS)
        .select(
            "doc_id",
            F.col("span_start").cast("int").alias("span_start"),
            F.col("span_end").cast("int").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("int")
            .alias("span_tokens"),
            F.col("n_grams").cast("bigint").alias("n_grams"),
        )
        .orderBy("doc_id", "span_start")
    )


# -- Gopher document-quality rules (Rae et al. 2021, Appendix A1.1) ------------
# The published pretraining filter, as one corpus pass aggregated per
# source: word count in [50, 100k], mean word length in [3, 10],
# symbol-to-word ratio ('#' or '...') <= 0.1, <= 90% of lines bullet-
# started, <= 30% of lines ellipsis-ended, >= 80% of words containing an
# alphabetic character, and >= 2 distinct stop words present. Per-rule
# failure counts tell a pipeline owner WHICH rule is cutting a source
# (the actionable number), plus the joint pass rate. Pure column
# expressions -- one scan, one 20-group hash-agg; thresholds compare RAW
# ratios (rounding only the output pct).
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_flags_sql(rel: str = "documents") -> str:
    """DuckDB CTE chain computing the per-document Gopher rule flags over
    ``rel`` (any relation with doc_id/source/text). Emits CTEs
    ``gopher_d``/``gopher_m``/``gopher_flags``; the last holds one row per
    doc: (doc_id, source, f_wc..f_stop). Shared by the per-source
    aggregate lane and the corpus_prep_e2e composition so both replay the
    IDENTICAL published rules."""
    return f"""
gopher_d AS (
  SELECT doc_id, source, {_TOKS} AS t, text,
         list_filter(list_transform(string_split_regex(text, '\\n'),
                                    s -> trim(s)), s -> s != '') AS lines
  FROM {rel}
),
gopher_m AS (
  SELECT doc_id, source,
         len(t) AS n_tok,
         CASE WHEN len(t) > 0
              THEN list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t)
         END AS mean_wl,
         CASE WHEN len(t) > 0 THEN
           ((length(text) - length(replace(text, '#', '')))
            + (length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3
           ) * 1.0 / len(t)
         END AS sym_ratio,
         CASE WHEN len(lines) > 0 THEN
           len(list_filter(lines, s -> starts_with(s, '-')
                                    OR starts_with(s, '*'))) * 1.0 / len(lines)
         ELSE 0.0 END AS bullet_ratio,
         CASE WHEN len(lines) > 0 THEN
           len(list_filter(lines, s -> ends_with(s, '...'))) * 1.0 / len(lines)
         ELSE 0.0 END AS ellipsis_ratio,
         CASE WHEN len(t) > 0 THEN
           len(list_filter(t, x -> regexp_matches(x, '[A-Za-z]')))
             * 1.0 / len(t)
         END AS alpha_ratio,
         len(list_filter({list(_GOPHER_STOPS)},
                         w -> list_contains(t, w))) AS stop_hits
  FROM gopher_d
),
gopher_flags AS (
  SELECT doc_id, source,
         CASE WHEN n_tok < 50 OR n_tok > 100000 THEN 1 ELSE 0 END AS f_wc,
         CASE WHEN n_tok = 0 OR mean_wl < 3 OR mean_wl > 10
              THEN 1 ELSE 0 END AS f_mwl,
         CASE WHEN n_tok = 0 OR sym_ratio > 0.1 THEN 1 ELSE 0 END AS f_sym,
         CASE WHEN bullet_ratio > 0.9 THEN 1 ELSE 0 END AS f_bullet,
         CASE WHEN ellipsis_ratio > 0.3 THEN 1 ELSE 0 END AS f_ellipsis,
         CASE WHEN n_tok = 0 OR alpha_ratio < 0.8 THEN 1 ELSE 0 END AS f_alpha,
         CASE WHEN stop_hits < 2 THEN 1 ELSE 0 END AS f_stop
  FROM gopher_m
)"""


_GOPHER_ORACLE = f"""
WITH {gopher_flags_sql()}
SELECT source, count(*) AS n_docs,
       CAST(sum(f_wc) AS BIGINT) AS fail_word_count,
       CAST(sum(f_mwl) AS BIGINT) AS fail_mean_word_len,
       CAST(sum(f_sym) AS BIGINT) AS fail_symbol_ratio,
       CAST(sum(f_bullet) AS BIGINT) AS fail_bullet_lines,
       CAST(sum(f_ellipsis) AS BIGINT) AS fail_ellipsis_lines,
       CAST(sum(f_alpha) AS BIGINT) AS fail_alpha_words,
       CAST(sum(f_stop) AS BIGINT) AS fail_stop_words,
       CAST(sum(CASE WHEN f_wc + f_mwl + f_sym + f_bullet + f_ellipsis
                        + f_alpha + f_stop = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pass,
       floor(sum(CASE WHEN f_wc + f_mwl + f_sym + f_bullet + f_ellipsis
                         + f_alpha + f_stop = 0 THEN 1 ELSE 0 END)
             * 100.0 / count(*) * 10000 + 0.5) / 10000 AS pass_pct
FROM gopher_flags GROUP BY source ORDER BY source
"""


def gopher_doc_flags(docs):
    """Per-document Gopher rule flags (Rae et al. 2021, A1.1) as a
    DataFrame: (doc_id, source, f_wc, f_mwl, f_sym, f_bullet, f_ellipsis,
    f_alpha, f_stop), each 1 = rule violated. Pure column expressions --
    one scan, no shuffle; shared by text_quality_gopher (per-source
    aggregate) and corpus_prep_e2e (document gate)."""
    t = TX.tokens("text")
    lines = F.filter(
        F.transform(F.split("text", r"\n"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    d = docs.select(
        "doc_id", "source", "text", t.alias("t"), lines.alias("lines")
    )
    n_tok = F.size("t")
    n_lines = F.size("lines")
    mean_wl = F.when(
        n_tok > 0,
        F.aggregate("t", F.lit(0), lambda a, x: a + F.length(x)) * 1.0 / n_tok,
    )
    hash_cnt = F.length("text") - F.length(F.regexp_replace("text", "#", ""))
    ell_cnt = (
        F.length("text") - F.length(F.regexp_replace("text", r"\.\.\.", ""))
    ) / 3
    sym_ratio = F.when(n_tok > 0, (hash_cnt + ell_cnt) * 1.0 / n_tok)
    bullet_ratio = F.when(
        n_lines > 0,
        F.size(
            F.filter(
                "lines",
                lambda s: s.startswith("-") | s.startswith("*"),
            )
        )
        * 1.0
        / n_lines,
    ).otherwise(F.lit(0.0))
    ellipsis_ratio = F.when(
        n_lines > 0,
        F.size(F.filter("lines", lambda s: s.endswith("..."))) * 1.0 / n_lines,
    ).otherwise(F.lit(0.0))
    alpha_ratio = F.when(
        n_tok > 0,
        F.size(F.filter("t", lambda x: x.rlike("[A-Za-z]"))) * 1.0 / n_tok,
    )
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in _GOPHER_STOPS]),
            lambda w: F.array_contains(F.col("t"), w),
        )
    )
    m = d.select(
        "doc_id",
        "source",
        n_tok.alias("n_tok"),
        mean_wl.alias("mean_wl"),
        sym_ratio.alias("sym_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        stop_hits.alias("stop_hits"),
    )
    flag = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    z = F.col("n_tok") == 0
    return m.select(
        "doc_id",
        "source",
        flag((F.col("n_tok") < 50) | (F.col("n_tok") > 100000)).alias("f_wc"),
        flag(z | (F.col("mean_wl") < 3) | (F.col("mean_wl") > 10)).alias(
            "f_mwl"
        ),
        flag(z | (F.col("sym_ratio") > 0.1)).alias("f_sym"),
        flag(F.col("bullet_ratio") > 0.9).alias("f_bullet"),
        flag(F.col("ellipsis_ratio") > 0.3).alias("f_ellipsis"),
        flag(z | (F.col("alpha_ratio") < 0.8)).alias("f_alpha"),
        flag(F.col("stop_hits") < 2).alias("f_stop"),
    )


GOPHER_FLAG_COLS = (
    "f_wc", "f_mwl", "f_sym", "f_bullet", "f_ellipsis", "f_alpha", "f_stop"
)


def gopher_total_fails():
    """Column: number of Gopher rules a doc violates (0 = passes the gate)."""
    total = F.lit(0)
    for c in GOPHER_FLAG_COLS:
        total = total + F.col(c)
    return total


@register("text_quality_gopher", oracle=_GOPHER_ORACLE)
def q_text_quality_gopher(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    flags = gopher_doc_flags(docs)
    n_pass = F.sum(F.when(gopher_total_fails() == 0, 1).otherwise(0))
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("f_wc").cast("bigint").alias("fail_word_count"),
            F.sum("f_mwl").cast("bigint").alias("fail_mean_word_len"),
            F.sum("f_sym").cast("bigint").alias("fail_symbol_ratio"),
            F.sum("f_bullet").cast("bigint").alias("fail_bullet_lines"),
            F.sum("f_ellipsis").cast("bigint").alias("fail_ellipsis_lines"),
            F.sum("f_alpha").cast("bigint").alias("fail_alpha_words"),
            F.sum("f_stop").cast("bigint").alias("fail_stop_words"),
            n_pass.cast("bigint").alias("n_pass"),
            (
                F.floor(
                    n_pass * 100.0 / F.count(F.lit(1)) * 10000 + 0.5
                )
                / 10000
            ).alias("pass_pct"),
        )
        .orderBy("source")
    )


# -- span-dedup impact (the Lee-et-al headline number) --------------------------
# text_span_dedup reports WHERE the repeated spans are (bounded payload);
# this reports HOW MUCH an exact-substring dedup would remove, corpus-
# wide: per source, the fraction of tokens covered by >= 1 cross-document
# duplicated 5-gram. Coverage is a token-position UNION (each duplicated
# gram start covers positions i..i+4; overlapping islands must not double
# count), computed as explode(5 offsets) -> distinct -- the duplicated-
# position stream is gram-bounded, never corpus^2. Aggregate output (20
# sources), so no doc_id cap: this is the number that decides whether to
# run span-level dedup on the corpus at all.
_SPAN_IMPACT_ORACLE = f"""
WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
pos AS (
  SELECT doc_id, CAST(i AS INTEGER) AS i,
         array_to_string(t[i:i+{_SPAN_K - 1}], ' ') AS g
  FROM toks, unnest(range(1, len(t) - {_SPAN_K - 2})) r(i)
  WHERE len(t) >= {_SPAN_K}
),
df AS (SELECT g FROM pos GROUP BY g
       HAVING count(DISTINCT doc_id) >= {_SPAN_DF}),
cover AS (
  SELECT DISTINCT p.doc_id, CAST(j AS INTEGER) AS j
  FROM pos p JOIN df USING (g),
       unnest(range(p.i, p.i + {_SPAN_K})) r(j)
),
per_doc AS (SELECT doc_id, count(*) AS dup_toks FROM cover GROUP BY 1)
SELECT t.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(t.t)) AS BIGINT) AS total_tokens,
       CAST(sum(coalesce(p.dup_toks, 0)) AS BIGINT) AS dup_tokens,
       floor(sum(coalesce(p.dup_toks, 0)) * 1.0
             / greatest(sum(len(t.t)), 1) * 10000 + 0.5) / 10000 AS dup_pct
FROM toks t LEFT JOIN per_doc p USING (doc_id)
GROUP BY 1 ORDER BY 1
"""


@register("text_span_dedup_impact", oracle=_SPAN_IMPACT_ORACLE)
def q_text_span_dedup_impact(spark: SparkSession, sf_dir: str):
    docs = table(spark, "documents", sf_dir)
    # round-11 F1: spread the single-row-group scan before tokenization
    toks = fanout(docs.select("doc_id", "source", "text")).select(
        "doc_id", "source", TX.tokens("text").alias("t")
    )
    pos, dfreq = _span_gram_positions(toks)
    cover = (
        pos.join(dfreq, "g")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + (_SPAN_K - 1))
            ).alias("j"),
        )
        .distinct()
    )
    per_doc = cover.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dup_toks"))
    return (
        toks.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.size("t")).cast("bigint").alias("total_tokens"),
            F.sum(F.coalesce("dup_toks", F.lit(0))).cast("bigint").alias(
                "dup_tokens"
            ),
            (
                F.floor(
                    F.sum(F.coalesce("dup_toks", F.lit(0)))
                    * 1.0
                    / F.greatest(F.sum(F.size("t")), F.lit(1))
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("dup_pct"),
        )
        .orderBy("source")
    )
