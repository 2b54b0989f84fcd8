"""Training-data pipeline operators as queries (BASELINE.json north star):
deduplication (exact / MinHash-LSH / SimHash), similarity search,
text analysis, multimodal plumbing — over documents/embeddings tables.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import Window

from pinot_spark.catalog import load_tables
from pinot_spark.operators import text as T
from pinot_spark.operators.dedup import (
    exact_substring_spans,
    dedup_exact,
    minhash_dedup_pairs,
    simhash_dedup,
)
from pinot_spark.operators.similarity import (
    cosine_similarity,
    topk_cosine,
    topk_cosine_ivf,
)
from pinot_spark.queries import query, _r2, _r4

# per-process scratch dir (see queries/infra.py): a fixed path would let
# concurrent driver runs cross-contaminate each other's index artifacts;
# removed at interpreter exit so repeated runs don't accrete /tmp litter
_PIPE_TMP = tempfile.mkdtemp(prefix="pinot_spark_pipeline_")
atexit.register(shutil.rmtree, _PIPE_TMP, ignore_errors=True)


@query(
    "dedup_exact_documents",
    oracle="""
    SELECT count(*) AS n_docs, count(DISTINCT doc_id) AS n_unique
    FROM (
      SELECT d.doc_id FROM documents d
      JOIN (SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp, min(doc_id) AS keep_id
            FROM documents GROUP BY fp) k
        ON d.doc_id = k.keep_id)
    """,
)
def dedup_exact_documents(spark, sf_dir):
    """Exact dedup by normalized-content fingerprint: hash-groupBy keeps
    min-id per group (operators/dedup.py dedup_exact)."""
    t = load_tables(spark, sf_dir)
    kept = dedup_exact(t["documents"], "text", "doc_id")
    return kept.agg(
        F.count("*").alias("n_docs"), F.count_distinct("doc_id").alias("n_unique")
    )


@query(
    "dedup_exact_substring",
    oracle="""
    WITH positions AS (
      SELECT doc_id, text,
             unnest(generate_series(1, length(text) - 29)) AS pos
      FROM documents WHERE length(text) >= 30
    ), grams AS (
      SELECT doc_id, pos, substr(text, CAST(pos AS INT), 30) AS g FROM positions
    ), cross_grams AS (
      SELECT g FROM grams GROUP BY g HAVING min(doc_id) <> max(doc_id)
    ), hits AS (
      SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM cross_grams)
    ), marked AS (
      SELECT doc_id, pos,
        CASE WHEN max(pos + 29) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR pos > max(pos + 29) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
             THEN 1 ELSE 0 END AS newf
      FROM hits
    ), islands AS (
      SELECT doc_id, pos,
             SUM(newf) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM marked
    )
    SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 29 AS BIGINT) AS span_end,
           CAST(max(pos) + 29 - min(pos) + 1 AS BIGINT) AS span_len
    FROM islands GROUP BY doc_id, isl
    ORDER BY doc_id, span_start LIMIT 60
    """,
)
def dedup_exact_substring(spark, sf_dir):
    """ExactSubstr dedup (Lee et al. 2022): maximal character spans
    duplicated verbatim across DIFFERENT documents at >= 30 chars —
    the distributed L-gram re-expression of their suffix-array pass
    (operators/dedup.py exact_substring_spans).  Pure Column algebra:
    grams ship as (xxhash64, doc, pos) triples, cross-doc grams found
    with a map-side-combinable min!=max doc test (no collect_set), and
    overlapping hits merge into maximal spans with the same running-max
    island window sessionize uses.  The DuckDB oracle compares the RAW
    grams, so hash parity of the span arithmetic is fully checked."""
    t = load_tables(spark, sf_dir)
    return (
        exact_substring_spans(t["documents"], "text", "doc_id", min_len=30)
        .orderBy("doc_id", "span_start")
        .limit(60)
    )


@query(
    "pipeline_remove_duplicate_spans",
    oracle="""
    WITH positions AS (
      SELECT doc_id, text,
             unnest(generate_series(1, length(text) - 29)) AS pos
      FROM documents WHERE length(text) >= 30
    ), grams AS (
      SELECT doc_id, pos, substr(text, CAST(pos AS INT), 30) AS g FROM positions
    ), cross_grams AS (
      SELECT g FROM grams GROUP BY g HAVING min(doc_id) <> max(doc_id)
    ), hits AS (
      SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM cross_grams)
    ), marked AS (
      SELECT doc_id, pos,
        CASE WHEN max(pos + 29) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR pos > max(pos + 29) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
             THEN 1 ELSE 0 END AS newf
      FROM hits
    ), islands AS (
      SELECT doc_id, pos,
             SUM(newf) OVER (PARTITION BY doc_id ORDER BY pos) AS isl
      FROM marked
    ), spans AS (
      SELECT doc_id, min(pos) AS span_start, max(pos) + 29 AS span_end,
             max(pos) + 29 - min(pos) + 1 AS span_len
      FROM islands GROUP BY doc_id, isl
    ), gaps AS (
      SELECT s.doc_id, d.text, s.span_start, s.span_end, s.span_len,
             COALESCE(lag(s.span_end) OVER (PARTITION BY s.doc_id
               ORDER BY s.span_start), 0) + 1 AS seg_start
      FROM spans s JOIN documents d USING (doc_id)
    ), cleaned AS (
      SELECT doc_id,
             string_agg(substr(text, CAST(seg_start AS INT),
                               CAST(span_start - seg_start AS INT)),
                        '' ORDER BY span_start)
               || substr(any_value(text), CAST(max(span_end) + 1 AS INT))
               AS clean_text,
             CAST(sum(span_len) AS BIGINT) AS removed_chars
      FROM gaps GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(length(COALESCE(c.clean_text, d.text)) AS INT) AS clean_len,
           COALESCE(c.removed_chars, 0) AS removed_chars,
           md5(COALESCE(c.clean_text, d.text)) AS clean_md5
    FROM documents d LEFT JOIN cleaned c USING (doc_id)
    ORDER BY d.doc_id LIMIT 200
    """,
)
def pipeline_remove_duplicate_spans(spark, sf_dir):
    """The CLEANING half of ExactSubstr dedup (Lee et al. 2022): cut
    every cross-document duplicated span out of every document's text
    (operators/dedup.py remove_duplicate_spans).  The cut itself is one
    JVM ``aggregate`` fold over the bounded sorted span array — no UDF —
    plus one join back on doc id; the oracle rebuilds the clean text in
    DuckDB with a lag-window segment stitch, so the md5 comparison
    checks every cut boundary character-for-character."""
    from pinot_spark.operators.dedup import remove_duplicate_spans

    t = load_tables(spark, sf_dir)
    cleaned = remove_duplicate_spans(t["documents"], "text", "doc_id", min_len=30)
    return (
        cleaned.select(
            "doc_id",
            F.length("clean_text").alias("clean_len"),
            F.col("removed_chars").cast("bigint").alias("removed_chars"),
            F.md5("clean_text").alias("clean_md5"),
        )
        .orderBy("doc_id")
        .limit(200)
    )


@query(
    "dedup_minhash_lsh_pairs",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
      FROM documents WHERE doc_id < 200
    ),
    sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(tk[i:i+2], ' ')
                            FOR i IN generate_series(1, greatest(len(tk) - 2, 1))]) AS g
      FROM toks
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.g, b.g))::DOUBLE /
                 len(list_distinct(list_concat(a.g, b.g))), 4) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.g, b.g))::DOUBLE /
                len(list_distinct(list_concat(a.g, b.g))), 4) >= 0.8
    ORDER BY id_a, id_b
    """,
)
def dedup_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH near-duplicate pairs (shingle→minhash→band→bucket-join),
    verified by true word-3-gram Jaccard ≥ 0.8 (operators/dedup.py).

    Driver-checkable by construction: the emitted rows are the VERIFIED
    pairs (true Jaccard ≥ 0.8 — exact set math, not minhash estimates),
    so they equal the oracle's exact all-pairs result as long as LSH
    recall is 1 at the threshold. With 32 hashes in 16 bands of 2 rows,
    P(miss) = (1 - J²)^16 ≤ 4e-17 for J ≥ 0.95 (the corpus's real
    near-dup pairs) — deterministic in practice; verification guarantees
    zero false positives. The oracle is the O(n²) exact demonstrator;
    the Spark side stays the banded no-N² scale plan."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"].filter(F.col("doc_id") < 200)
    pairs = minhash_dedup_pairs(
        docs, "text", "doc_id", threshold=0.8, num_hashes=32, bands=16
    )
    return pairs.orderBy("id_a", "id_b")


@query(
    "dedup_simhash_buckets",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
      FROM documents WHERE doc_id < 200
    ),
    th AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
    ),
    bits AS (
      SELECT doc_id, g.b,
             CASE WHEN 2 * count(*) FILTER (WHERE (h >> g.b) & 1 = 1) >= count(*)
                  THEN 1 ELSE 0 END AS bit
      FROM th CROSS JOIN generate_series(0, 59) g(b)
      GROUP BY doc_id, g.b
    ),
    sig AS (
      SELECT doc_id, string_agg(bit::VARCHAR, '' ORDER BY b) AS s
      FROM bits GROUP BY doc_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT s) AS BIGINT) AS n_kept
    FROM sig
    """,
)
def dedup_simhash_buckets(spark, sf_dir):
    """SimHash signature dedup (operators/dedup.py simhash): count of
    surviving docs after exact-signature bucketing.

    Uses the md5-derived 60-bit signature variant so the oracle can
    recompute the identical per-bit majority vote in SQL — n_kept equals
    the oracle's distinct-signature count bit-for-bit, INCLUDING any
    near-dup collisions (the point of SimHash), not just exact-text
    groups."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"].filter(F.col("doc_id") < 200)
    kept = simhash_dedup(docs, "text", "doc_id", hash_fn="md5")
    return docs.agg(F.count("*").alias("n_docs")).crossJoin(
        kept.agg(F.count("*").alias("n_kept"))
    )


@query(
    "dedup_ngram_jaccard_pairs",
    oracle="""
    WITH sh AS (SELECT doc_id, list_distinct(string_split(lower(trim(text)), ' ')) AS toks
                FROM documents WHERE doc_id < 60)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.toks, b.toks))::DOUBLE /
                 len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.toks, b.toks))::DOUBLE /
          len(list_distinct(list_concat(a.toks, b.toks))) > 0.9
    ORDER BY id_a, id_b
    """,
)
def dedup_ngram_jaccard_pairs(spark, sf_dir):
    """Exact token-set Jaccard pairs above threshold via PREFIX FILTERING
    (operators/dedup.jaccard_similarity_join — the public AllPairs/PPJoin
    algorithm, round 8): rarity-ordered prefix tokens equi-join into a
    guaranteed-recall candidate set, exact Jaccard verifies candidates
    only — NO all-pairs cross join anywhere (plan-gated in
    tests/test_plan_quality.py). The oracle keeps the brute-force
    all-pairs SQL: at a 100%-recall candidate stage both produce the
    identical pair set. The doc_id slice only bounds the ORACLE's N²
    side — the Spark plan is the full-corpus shape."""
    from pinot_spark.operators.dedup import jaccard_similarity_join

    t = load_tables(spark, sf_dir)
    sh = (
        t["documents"]
        .filter(F.col("doc_id") < 60)
        .select("doc_id", F.array_distinct(F.split(F.lower(F.trim("text")), " ")).alias("toks"))
    )
    return jaccard_similarity_join(sh, "doc_id", "toks", 0.9).orderBy("id_a", "id_b")


@query(
    "similarity_topk_cosine",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    sims AS (
      SELECT vec_id,
             round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
                   (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 4) AS sim
      FROM embeddings e CROSS JOIN q)
    SELECT vec_id, sim FROM sims ORDER BY sim DESC, vec_id LIMIT 10
    """,
)
def similarity_topk_cosine(spark, sf_dir):
    """Brute-force exact cosine top-k over array<float> embeddings
    (VECTOR_SIMILARITY predicate / VectorFunctions — SURVEY.md §2.3):
    JVM-side zip_with/aggregate math + TakeOrderedAndProject.

    Round-17 note: a broadcast-1-row-join variant (no driver ``first()``
    round trip) was built and interleave-A/B'd at sf0.1 — the two shapes
    are within sandbox noise of each other (medians flipped across runs:
    0.47/0.58 then 0.68/0.61 then 0.61/0.79), both are 2 jobs, and the
    1-row ``first()`` is not driver data work, so the proven shape
    stays."""
    t = load_tables(spark, sf_dir)
    qvec = [
        float(x)
        for x in t["embeddings"].filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return topk_cosine(t["embeddings"], "embedding", "vec_id", qvec, k=10)


@query(
    "similarity_topk_ivf",
    oracle="""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
    cents AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id IN (1, 2, 3, 4)
    ),
    probe AS (
      SELECT cid FROM cents, q
      ORDER BY list_distance(cv, qv) ASC, cid ASC LIMIT 2
    ),
    assigned AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
             (SELECT c.cid FROM cents c
              ORDER BY list_distance(c.cv, e.embedding::DOUBLE[]) ASC, c.cid ASC
              LIMIT 1) AS bucket
      FROM embeddings e
    ),
    sims AS (
      SELECT a.vec_id,
             round(list_dot_product(a.v, q.qv) /
                   (sqrt(list_dot_product(a.v, a.v)) *
                    sqrt(list_dot_product(q.qv, q.qv))), 4) AS sim
      FROM assigned a CROSS JOIN q
      WHERE a.bucket IN (SELECT cid FROM probe)
    )
    SELECT vec_id, sim FROM sims ORDER BY sim DESC, vec_id LIMIT 5
    """,
)
def similarity_topk_ivf(spark, sf_dir):
    """IVF-bucketed approximate top-k (the 100 TB scale path: probe only
    nearest coarse-quantizer buckets; bucket = storage partition key).

    The IVF semantics (nearest-centroid assignment with first-min
    tiebreak, probe = 2 closest centroids, exact cosine within probed
    buckets) are fully deterministic and SQL-expressible, so the oracle
    mirrors the WHOLE approximate pipeline rather than bound-checking —
    centroids are the vec_id 1-4 embeddings in vec_id order, matching
    the ORDER BY dist, cid tiebreaks on both sides."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    cents = [
        [float(x) for x in r[0]]
        for r in emb.filter(F.col("vec_id").isin(1, 2, 3, 4))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    ]
    return topk_cosine_ivf(emb, "embedding", "vec_id", qvec, cents, k=5, nprobe=2)


@query(
    "similarity_pairwise_label",
    oracle="""
    SELECT e1.label AS label_a, e2.label AS label_b,
           round(avg(list_dot_product(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]) /
                 (sqrt(list_dot_product(e1.embedding::DOUBLE[], e1.embedding::DOUBLE[])) *
                  sqrt(list_dot_product(e2.embedding::DOUBLE[], e2.embedding::DOUBLE[])))), 4) AS avg_sim
    FROM embeddings e1 JOIN embeddings e2 ON e1.vec_id < e2.vec_id
    WHERE e1.vec_id < 40 AND e2.vec_id < 40
    GROUP BY label_a, label_b ORDER BY label_a, label_b
    """,
)
def similarity_pairwise_label(spark, sf_dir):
    """Pairwise cosine between labeled groups (embedding-cosine near-dup
    verification shape — avg similarity per label pair)."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].filter(F.col("vec_id") < 40)
    a = emb.select(F.col("vec_id").alias("ida"), F.col("label").alias("label_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("idb"), F.col("label").alias("label_b"), F.col("embedding").alias("eb"))
    sim = cosine_similarity("ea", "eb")
    return (
        a.join(b, F.col("ida") < F.col("idb"))
        .groupBy("label_a", "label_b")
        .agg(_r4(F.avg(sim)).alias("avg_sim"))
        .orderBy("label_a", "label_b")
    )


@query(
    "text_token_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           round(avg(len(string_split(trim(text), ' '))), 4) AS avg_tokens,
           max(len(string_split(trim(text), ' '))) AS max_tokens,
           round(avg(length(replace(text, ' ', ''))::DOUBLE / len(string_split(trim(text), ' '))), 4) AS avg_tok_len
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def text_token_stats(spark, sf_dir):
    """Token counting + length stats per language (operators/text.py —
    whitespace tokenizer, JVM-side). The tokenization is projected ONCE
    before the aggregate — expressions like avg(size(split(..))) would
    otherwise re-split the document per referencing expression (no CSE
    across aggregate children), a 10× cost on long documents."""
    t = load_tables(spark, sf_dir)
    per_doc = t["documents"].select(
        "lang",
        T.token_count("text").alias("n_tok"),
        F.length(F.regexp_replace("text", r"\s+", "")).alias("n_nonspace"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            _r4(F.avg("n_tok")).alias("avg_tokens"),
            F.max("n_tok").alias("max_tokens"),
            _r4(F.avg(F.col("n_nonspace") / F.col("n_tok"))).alias("avg_tok_len"),
        )
        .orderBy("lang")
    )


@query(
    "text_quality_scores",
    oracle="""
    WITH scored AS (
      SELECT doc_id,
             len(string_split(trim(text), ' ')) AS n_tok,
             len(list_filter(string_split(lower(text), ' '),
                 x -> x IN ('a','an','the','and','or','of','to','in','is','it')))::DOUBLE /
               len(string_split(lower(text), ' ')) AS stop_ratio
      FROM documents)
    SELECT doc_id,
           round((CASE WHEN n_tok >= 10 AND n_tok <= 100000 THEN 0.4 ELSE 0.0 END)
                 + least(stop_ratio * 2, 0.4) + 0.2, 4) AS quality
    FROM scored WHERE doc_id < 100 ORDER BY doc_id
    """,
)
def text_quality_scores(spark, sf_dir):
    """Heuristic quality scoring (length band + stopword ratio + punct;
    operators/text.py quality_score — all codegen'd expressions)."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .filter(F.col("doc_id") < 100)
        .select("doc_id", T.quality_score("text").alias("quality"))
        .orderBy("doc_id")
    )


@query(
    "text_lang_id",
    oracle="""
    SELECT CASE WHEN len(list_filter(string_split(lower(text), ' '),
                    x -> x IN ('a','an','the','and','or','of','to','in','is','it')))::DOUBLE /
                  len(string_split(lower(text), ' ')) > 0.05
                THEN 'en' ELSE 'unknown' END AS detected,
           count(*) AS n
    FROM documents GROUP BY detected ORDER BY detected
    """,
)
def text_lang_id(spark, sf_dir):
    """Language-ID heuristic distribution (operators/text.py lang_id)."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .groupBy(T.lang_id("text").alias("detected"))
        .agg(F.count("*").alias("n"))
        .orderBy("detected")
    )


@query(
    "text_fingerprints",
    oracle="""
    SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
    FROM documents WHERE doc_id < 50 ORDER BY doc_id
    """,
)
def text_fingerprints(spark, sf_dir):
    """Content-defined document fingerprint (operators/text.py fingerprint:
    md5 over normalized text — identical hex across engines)."""
    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .filter(F.col("doc_id") < 50)
        .select("doc_id", T.fingerprint("text").alias("fp"))
        .orderBy("doc_id")
    )


@query(
    "multimodal_feature_extract",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(list_sum(list_transform(range(16), i ->
               (77 * ascii(substr(t, i*3 + 1, 1)) +
                150 * ascii(substr(t, i*3 + 2, 1)) +
                29 * ascii(substr(t, i*3 + 3, 1))) // 256)) AS DOUBLE) AS feat_sum,
           'ok' AS decode_ok
    FROM (SELECT doc_id,
                 substr(rpad(regexp_replace(text, '[^ -~]', '', 'g'), 48, 'x'), 1, 48) AS t
          FROM documents WHERE doc_id < 50)
    ORDER BY CAST(media_id AS INT)
    """,
)
def multimodal_feature_extract(spark, sf_dir):
    """Multimodal decode end-to-end with the REAL pure-stdlib decoder
    (operators/multimodal.py → functions/imagecodec.py): each document's
    first 48 bytes become a genuine 4×4 binary PPM payload, decoded and
    reduced to integer-luma thumbnail features ((77R+150G+29B)>>8 —
    integer-valued, float32-exact), so the whole binary path is
    oracle-checkable in plain SQL."""
    from pinot_spark.operators.multimodal import extract_features

    t = load_tables(spark, sf_dir)
    media = t["documents"].filter(F.col("doc_id") < 50).select(
        F.col("doc_id").cast("string").alias("media_id"),
        # "P6\n4 4\n255\n" + 48 payload bytes = a real 4x4 RGB PPM.
        # Non-ASCII is stripped first so characters == bytes on both
        # engines (documents span en/de/fr/es/zh).
        F.encode(
            F.concat(
                F.lit("P6\n4 4\n255\n"),
                F.substring(
                    F.rpad(
                        F.regexp_replace(F.col("text"), "[^ -~]", ""), 48, "x"
                    ),
                    1,
                    48,
                ),
            ),
            "utf-8",
        ).alias("payload"),
        F.lit("image/x-portable-pixmap").alias("mime"),
        F.lit(4).alias("width"),
        F.lit(4).alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    feats = extract_features(media)
    return feats.select(
        "media_id",
        F.aggregate(
            "features", F.lit(0.0), lambda a, x: a + x.cast("double")
        ).alias("feat_sum"),
        "decode_ok",
    ).orderBy(F.col("media_id").cast("int"))


@query(
    "similarity_radius_filter",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    sims AS (
      SELECT vec_id, label,
             round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
                   (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                    sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 4) AS sim
      FROM embeddings e CROSS JOIN q)
    SELECT label, count(*) AS n_within, round(max(sim), 4) AS best_sim
    FROM sims WHERE sim >= 0.1 AND vec_id <> 0
    GROUP BY label ORDER BY label
    """,
)
def similarity_radius_filter(spark, sf_dir):
    """VECTOR_SIMILARITY radius predicate
    (VectorRadiusFilterOperator.java): all vectors within a cosine-
    similarity radius of the query vector, aggregated per label — a
    filter, not a top-k, so it composes with any downstream operator."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    qvec = [float(x) for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    q = F.array(*[F.lit(x) for x in qvec])
    v = F.col("embedding").cast("array<double>")
    dot = F.aggregate(F.zip_with(v, q, lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x)
    norm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda s, x: s + x * x))  # noqa: E731
    sim = F.round(dot / (norm(v) * norm(q)), 4)
    return (
        emb.filter(F.col("vec_id") != 0)
        .withColumn("sim", sim)
        .filter(F.col("sim") >= 0.1)
        .groupBy("label")
        .agg(F.count("*").alias("n_within"), F.round(F.max("sim"), 4).alias("best_sim"))
        .orderBy("label")
    )


@query(
    "text_inverted_index_search",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             list_distinct(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                       t -> length(t) > 0)) AS terms
      FROM documents)
    SELECT lang, count(*) AS n_docs
    FROM toks
    WHERE list_contains(terms, 'hash') AND list_contains(terms, 'merge')
    GROUP BY lang ORDER BY lang
    """,
)
def text_inverted_index_search(spark, sf_dir):
    """TEXT_MATCH 'hash AND merge' answered from an inverted postings
    table (operators/text_index.py) instead of a regex scan — the
    text-index strategy of StandardIndexes.java/TextMatchFilterOperator
    re-expressed as a term-pruned join."""
    from pinot_spark.operators.text_index import build_text_index, search_all

    t = load_tables(spark, sf_dir)
    # Round-17: build the postings pruned to the query terms (the
    # partition-pruned posting-list read of a persisted index) — the
    # explode carries ≤2 rows/doc instead of every distinct token — and
    # carry ``lang`` on the posting rows (segment-local docId→column
    # lookup) so the aggregation needs no second corpus scan + semi
    # join: 2 scans + 1 join → 1 scan (interleaved A/B at sf0.1:
    # 0.93s → 0.68s median; results proved identical on all SFs).
    index = build_text_index(
        t["documents"], "doc_id", "text",
        terms=["hash", "merge"], payload_cols=["lang"],
    )
    hits = search_all(index, ["doc_id", "lang"], ["hash", "merge"])
    return (
        hits.groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang")
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH pairs AS (
      SELECT e1.vec_id AS id_a, e2.vec_id AS id_b,
             list_dot_product(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(e1.embedding::DOUBLE[], e1.embedding::DOUBLE[])) *
                sqrt(list_dot_product(e2.embedding::DOUBLE[], e2.embedding::DOUBLE[]))) AS sim
      FROM embeddings e1 JOIN embeddings e2 ON e1.vec_id < e2.vec_id
      WHERE e1.vec_id < 200 AND e2.vec_id < 200)
    SELECT count(*) AS n_dup_pairs,
           count(DISTINCT id_b) AS n_docs_dropped,
           round(min(sim), 4) AS min_dup_sim
    FROM pairs WHERE sim >= 0.35
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-duplicate dedup (BASELINE.json pipeline
    operator): pairs above a cosine threshold (0.35 — the synthetic embeddings are
    near-orthogonal, so this is the meaningful upper tail); each pair drops
    the higher id (keep-first policy). Exact over a bounded subset here;
    the 100 TB path pre-buckets with the IVF coarse quantizer
    (operators/similarity.topk_cosine_ivf) or random-hyperplane LSH so
    the pair join touches only same-bucket candidates."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].filter(F.col("vec_id") < 200)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    sim = cosine_similarity("ea", "eb")
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= 0.35)
    )
    return pairs.agg(
        F.count("*").alias("n_dup_pairs"),
        F.count_distinct("id_b").alias("n_docs_dropped"),
        F.round(F.min("sim"), 4).alias("min_dup_sim"),
    )


@query(
    "dedup_duplicate_clusters",
    oracle="""
    WITH RECURSIVE pairs AS (
      SELECT e1.vec_id AS id_a, e2.vec_id AS id_b
      FROM embeddings e1 JOIN embeddings e2 ON e1.vec_id < e2.vec_id
      WHERE e1.vec_id < 200 AND e2.vec_id < 200
        AND list_dot_product(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]) /
            (sqrt(list_dot_product(e1.embedding::DOUBLE[], e1.embedding::DOUBLE[])) *
             sqrt(list_dot_product(e2.embedding::DOUBLE[], e2.embedding::DOUBLE[]))) >= 0.35),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(u, v) AS (SELECT u, u FROM (SELECT DISTINCT u FROM edges)
                    UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
    SELECT u AS id, CAST(min(v) AS BIGINT) AS component,
           (u = min(v)) AS is_canonical
    FROM reach GROUP BY u ORDER BY id
    """,
)
def dedup_duplicate_clusters(spark, sf_dir):
    """Near-dup CLUSTER formation (the step after pair generation in any
    training-data dedup pipeline): cosine pairs are not transitive, so
    A~B, B~C must collapse into one keep-group — distributed min-label
    connected components (operators/dedup.connected_components, lineage
    truncated per round) labels each doc with its component's min id.
    Oracle = DuckDB recursive-CTE transitive closure over the same
    pairs."""
    from pinot_spark.operators.dedup import duplicate_clusters

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"].filter(F.col("vec_id") < 200)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    pairs = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("sim", cosine_similarity("ea", "eb"))
        .filter(F.col("sim") >= 0.35)
        .select("id_a", "id_b")
    )
    return duplicate_clusters(pairs).orderBy("id")


@query(
    "sample_stratified_split",
    oracle="""
    WITH tagged AS (
      SELECT lang,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'c0' THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e0' THEN 'val'
                  ELSE 'test' END AS split
      FROM documents)
    SELECT lang, split, count(*) AS n
    FROM tagged GROUP BY lang, split ORDER BY lang, split
    """,
)
def sample_stratified_split(spark, sf_dir):
    """Deterministic train/val/test assignment + stratified sampling for
    training-data pipelines: bucket = first hex byte of md5(doc_id), so
    the split is stable across engines, runs and partitionings (no RNG,
    no shuffle-order dependence — reproducible at any scale, and any
    engine computing md5 agrees).  Hex-string threshold comparison is
    monotonic with the bucket value: train < 0xC0 (75%), val < 0xE0
    (12.5%), test otherwise (12.5%).  Per-language counts prove the
    stratification is hash-balanced."""
    t = load_tables(spark, sf_dir)
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(bucket < "c0", "train").when(bucket < "e0", "val").otherwise("test")
    )
    return (
        t["documents"]
        .select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "split")
    )


@query(
    "text_chunking",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents WHERE doc_id < 40)
    SELECT doc_id, s.start AS chunk_start,
           CAST(least(64, len(t) - s.start) AS INT) AS chunk_len,
           array_to_string(list_slice(t, s.start + 1, s.start + 64), ' ') AS chunk_text
    FROM toks, LATERAL (
      SELECT unnest(generate_series(0, greatest(len(t) - 1, 0), 48)) AS start) s
    WHERE least(64, len(t) - s.start) > 0
    ORDER BY doc_id, chunk_start
    """,
)
def text_chunking(spark, sf_dir):
    """Document chunking into 64-token windows with 16-token overlap
    (operators/text.chunk_plan — the pre-tokenization chunking step of
    an LLM training pipeline): pure JVM sequence/slice/explode, one row
    per chunk, chunks co-partitioned with their documents."""
    from pinot_spark.operators.text import chunk_plan

    t = load_tables(spark, sf_dir)
    return chunk_plan(
        t["documents"].filter(F.col("doc_id") < 40),
        "text",
        "doc_id",
        chunk_tokens=64,
        overlap=16,
    ).orderBy("doc_id", "chunk_start")


@query(
    "text_bpe_token_count",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(regexp_extract_all(text,
             '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'))) AS BIGINT)
             AS total_bpe_tokens,
           CAST(sum(CASE WHEN len(trim(text)) = 0 THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT)
             AS total_ws_tokens
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def text_bpe_token_count(spark, sf_dir):
    """Token-cost estimation with the GPT-2 pre-tokenizer regex
    (operators/text.bpe_token_count) alongside whitespace counts — the
    per-language LLM token budget of a corpus, computed as a single
    codegen'd regexp_count (no UDF); DuckDB reproduces the identical
    counts because the pattern stays within the Java-regex/RE2 common
    subset."""
    from pinot_spark.operators.text import bpe_token_count, token_count

    t = load_tables(spark, sf_dir)
    return (
        t["documents"]
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(bpe_token_count("text")).alias("total_bpe_tokens"),
            F.sum(token_count("text")).alias("total_ws_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "multimodal_resize_and_windows",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           ((CAST(doc_id AS INT) % 5 + 1) * 2000 + 499) // 500 AS n_windows
    FROM documents WHERE doc_id < 20 ORDER BY CAST(media_id AS INT)
    """,
)
def multimodal_resize_and_windows(spark, sf_dir):
    """Multimodal resize (binary→binary mapInPandas) + audio hop-window
    fan-out (operators/multimodal.py resize_images / audio_window_plan):
    the window count per media item is deterministic from duration, so
    the fan-out is oracle-checkable even with the decoder stubbed."""
    from pinot_spark.operators.multimodal import audio_window_plan, resize_images

    t = load_tables(spark, sf_dir)
    media = t["documents"].filter(F.col("doc_id") < 20).select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.lit("audio/wav").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        ((F.col("doc_id").cast("int") % 5 + 1) * 2000).alias("duration_ms"),
    )
    resized = resize_images(media, 64, 64, fake=True)
    windows = audio_window_plan(media, window_ms=1000, hop_ms=500)
    counts = windows.groupBy("media_id").agg(F.count("*").alias("n_windows"))
    return (
        resized.select("media_id").join(counts, "media_id")
        .orderBy(F.col("media_id").cast("int"))
    )


@query(
    "pipeline_pack_sequences",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             len(regexp_extract_all(text,
               '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'))
               AS n_tok
      FROM documents
    ), packed AS (
      SELECT lang, n_tok,
             coalesce(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pack_start
      FROM toks
    ), spans AS (
      SELECT lang, n_tok, pack_start,
             pack_start // 2048 AS first_pack,
             CASE WHEN n_tok <= 0 THEN 0
                  ELSE (pack_start + n_tok - 1) // 2048 - pack_start // 2048 + 1
             END AS n_packs
      FROM packed
    )
    SELECT lang, count(*) AS n_docs,
           CAST(max(first_pack + n_packs) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN n_packs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_straddlers,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM spans GROUP BY lang ORDER BY lang
    """,
)
def pipeline_pack_sequences(spark, sf_dir):
    """Training-batch sequence packing (operators/text.sequence_pack):
    documents concat-and-chunked into 2048-token context windows per
    language shard — the standard LLM pre-training packing. Output per
    shard: window count, how many docs straddle a window boundary, and
    the token budget they fill."""
    from pinot_spark.operators.text import bpe_token_count, sequence_pack

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select(
        "doc_id", "lang", bpe_token_count("text").alias("n_tok")
    )
    packed = sequence_pack(
        docs, "n_tok", budget=2048, order_cols=["doc_id"], shard_col="lang"
    )
    return (
        packed.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.max(F.col("first_pack") + F.col("n_packs")).cast("bigint").alias("n_windows"),
            F.sum((F.col("n_packs") > 1).cast("int")).cast("bigint").alias("n_straddlers"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "text_pii_redaction",
    oracle="""
    WITH aug AS (
      SELECT doc_id, lang,
             text || ' contact: user' || CAST(doc_id AS VARCHAR) ||
             '@example.com or +001-555-' ||
             lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
      FROM documents WHERE doc_id < 60
    )
    SELECT lang, count(*) AS n_docs,
           CAST(sum(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))) AS BIGINT)
             AS n_emails,
           CAST(sum(len(regexp_extract_all(text,
             '\\+?[0-9]{3}-[0-9]{3}-[0-9]{4}'))) AS BIGINT) AS n_phones,
           CAST(sum(len(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\\+?[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'))) AS BIGINT)
             AS redacted_chars
    FROM aug GROUP BY lang ORDER BY lang
    """,
)
def text_pii_redaction(spark, sf_dir):
    """PII scrub (operators/text.redact_pii): email/phone matches are
    counted for audit and replaced with typed placeholders. The corpus
    text is synthetic, so a deterministic contact line derived from
    doc_id is appended first — every doc then carries exactly one email
    and one phone, and the redacted lengths are oracle-checkable."""
    from pinot_spark.operators.text import pii_counts, redact_pii

    t = load_tables(spark, sf_dir)
    aug = t["documents"].filter(F.col("doc_id") < 60).select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +001-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    n_email, n_phone = pii_counts("text")
    return (
        aug.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(n_email).cast("bigint").alias("n_emails"),
            F.sum(n_phone).cast("bigint").alias("n_phones"),
            F.sum(F.length(redact_pii("text"))).cast("bigint").alias("redacted_chars"),
        )
        .orderBy("lang")
    )


@query(
    "pipeline_decontamination",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(trim(text)), ' ') AS t
      FROM documents WHERE doc_id < 200
    ), grams AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      FROM toks
    ), bench AS (
      SELECT list_distinct(flatten(list(g))) AS bg FROM grams WHERE doc_id % 17 = 0
    ), train AS (
      SELECT doc_id, g FROM grams WHERE doc_id % 17 <> 0
    )
    SELECT t.doc_id, CAST(len(t.g) AS INT) AS n_grams,
           CAST(len(list_intersect(t.g, b.bg)) AS BIGINT) AS n_hit,
           round(len(list_intersect(t.g, b.bg))::DOUBLE /
                 greatest(len(t.g), 1), 4) AS containment
    FROM train t CROSS JOIN bench b
    WHERE len(list_intersect(t.g, b.bg)) > 0
    ORDER BY doc_id
    """,
)
def pipeline_decontamination(spark, sf_dir):
    """Benchmark decontamination (operators/text.ngram_decontaminate):
    docs with doc_id % 17 = 0 stand in as the held-out benchmark; every
    training doc sharing a token 3-gram with it is reported with its
    containment ratio — broadcast n-gram semi-join, no all-pairs."""
    from pinot_spark.operators.text import ngram_decontaminate

    t = load_tables(spark, sf_dir)
    docs = t["documents"].filter(F.col("doc_id") < 200)
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    train = docs.filter(F.col("doc_id") % 17 != 0)
    return ngram_decontaminate(train, bench, "doc_id", "text").orderBy("doc_id")


@query(
    "similarity_topk_hnsw",
    # HNSW is approximate and graph-order-dependent, so the emitted
    # columns are the deterministic validation of the approximate
    # result (the agg_approx_distinct pattern): result size, sorted
    # ascending flag, and recall-vs-exact within the documented bound
    oracle="""
    SELECT CAST(10 AS BIGINT) AS k_returned,
           TRUE AS distances_sorted,
           TRUE AS recall_at_least_8_of_10
    """,
)
def similarity_topk_hnsw(spark, sf_dir):
    """HNSW approximate nearest neighbor (VECTOR_SIMILARITY with the
    reference's HNSW index — pinot-segment-local/.../vector/
    HnswVectorIndexCreator.java wraps Lucene HNSW; engine-own
    operators/hnsw.py implements the public Malkov-Yashunin algorithm):
    per-partition graphs built in one mapInPandas pass, local top-k
    merged with a global TakeOrderedAndProject — the reference's
    per-segment index + broker merge shape. Deterministic: insertion
    levels are hash-derived, so recall vs the exact brute-force top-10
    is a stable quantity asserted ≥ 8/10."""
    from pinot_spark.operators.hnsw import hnsw_topk
    from pinot_spark.operators.similarity import topk_cosine

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    approx = hnsw_topk(emb, "vec_id", "embedding", qvec, k=10, ef_search=120)
    rows = approx.collect()
    exact_ids = {r.vec_id for r in topk_cosine(emb, "embedding", "vec_id", qvec, k=10).collect()}
    dists = [r.distance for r in rows]
    out = [
        (
            len(rows),
            dists == sorted(dists),
            len({r.vec_id for r in rows} & exact_ids) >= 8,
        )
    ]
    return spark.createDataFrame(
        out, "k_returned bigint, distances_sorted boolean, recall_at_least_8_of_10 boolean"
    )


@query(
    "similarity_topk_ivfpq",
    # IVF-PQ is approximate (k-means coarse lists + residual product
    # quantization), so the emitted columns are the deterministic
    # validation of the approximate result (the similarity_topk_hnsw
    # pattern): result size, sorted-ascending flag, ADC recall vs the
    # exact brute-force top-10, and exact-rerank distance fidelity
    oracle="""
    SELECT CAST(10 AS BIGINT) AS k_returned,
           TRUE AS distances_sorted,
           TRUE AS adc_recall_at_least_8_of_10,
           TRUE AS rerank_distances_exact
    """,
)
def similarity_topk_ivfpq(spark, sf_dir):
    """IVF-PQ approximate nearest neighbor (the reference's IVF_PQ
    vector index backend — pinot-segment-local/.../vector/
    IvfPqVectorIndexCreator.java trains coarse centroids + residual PQ
    codebooks from a bounded sample and byte-encodes every vector;
    IvfPqVectorIndexReader.java probes the nprobe nearest lists and
    scores candidates with asymmetric-distance table lookups;
    IvfPqVectorTest.java is the integration surface).  The Spark shape:
    driver-side training on a bounded deterministic sample, ONE
    distributed mapInPandas encode (32 bytes/vector here — the 8x
    compression that keeps a 100 TB corpus scannable), ADC scoring by
    table lookup, TakeOrderedAndProject top-k; exact rerank re-scores
    the narrowed candidate set with JVM zip_with on the raw vectors.
    Deterministic: seeded k-means over a sorted sample, so recall vs
    exact brute force is a stable quantity asserted >= 8/10."""
    import numpy as np

    from pinot_spark.operators.ivfpq import (
        ivfpq_encode,
        topk_ivfpq,
        train_ivfpq,
    )
    from pinot_spark.operators.similarity import topk_cosine

    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    sample = np.array(
        [
            np.asarray(r[0], dtype=float)
            for r in emb.orderBy("vec_id").select("embedding").limit(10_000).collect()
        ]
    )
    qvec = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    model = train_ivfpq(sample, nlist=8, pq_m=32, pq_nbits=8, seed=7, distance="cosine")
    enc = ivfpq_encode(emb, "embedding", model)
    rows = topk_ivfpq(enc, model, qvec, "vec_id", k=10, nprobe=6).collect()
    exact = {
        r.vec_id: round(1.0 - r.sim, 4)
        for r in topk_cosine(emb, "embedding", "vec_id", qvec, k=50).collect()
    }
    exact10 = set(list(exact)[:10])
    rerank = topk_ivfpq(
        enc, model, qvec, "vec_id", k=10, nprobe=6,
        exact_rerank=True, max_candidates=200, vec_col="embedding",
    ).collect()
    dists = [r.distance for r in rows]
    out = [
        (
            len(rows),
            dists == sorted(dists),
            len({r.vec_id for r in rows} & exact10) >= 8,
            all(
                abs(r.distance - exact[r.vec_id]) < 1e-3
                for r in rerank
                if r.vec_id in exact
            ),
        )
    ]
    return spark.createDataFrame(
        out,
        "k_returned bigint, distances_sorted boolean, "
        "adc_recall_at_least_8_of_10 boolean, rerank_distances_exact boolean",
    )


@query(
    "text_repetition_filters",
    oracle=r"""
    WITH docs AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS l
      FROM documents WHERE doc_id < 200
    ), sized AS (
      SELECT doc_id, l, len(l) AS nt, len(list_distinct(l)) AS ndt
      FROM docs WHERE len(l) >= 2
    ), words AS (
      SELECT doc_id, unnest(l) AS t FROM sized
    ), topw AS (
      SELECT doc_id, max(c) AS topw FROM
        (SELECT doc_id, t, count(*) AS c FROM words GROUP BY doc_id, t)
      GROUP BY doc_id
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(l) - 1),
                                   i -> l[i] || ' ' || l[i + 1])) AS g
      FROM sized
    ), topg AS (
      SELECT doc_id, max(c) AS topg FROM
        (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g)
      GROUP BY doc_id
    )
    SELECT s.doc_id,
           round((nt - ndt) / nt::DOUBLE, 4) AS dup_word_frac,
           round(topw / nt::DOUBLE, 4) AS top_word_frac,
           round(topg / (nt - 1)::DOUBLE, 4) AS top_bigram_frac
    FROM sized s JOIN topw USING (doc_id) JOIN topg USING (doc_id)
    ORDER BY s.doc_id
    """,
)
def text_repetition_filters(spark, sf_dir):
    """Gopher-style repetition filters (Rae et al. 2021 — the standard
    pretraining-data repetition heuristics, counts-based variants):
    duplicate-word fraction, top-word fraction and top-bigram fraction
    per document (operators/text.py repetition_metrics). Scale shape:
    one explode + two map-side-combinable aggregation levels per metric
    — no quadratic per-document scans, no Python, no collect; the
    (doc_id, gram) keys spread a 100 TB corpus evenly regardless of
    individual document size."""
    from pinot_spark.operators.text import repetition_metrics

    t = load_tables(spark, sf_dir)
    return repetition_metrics(
        t["documents"].filter(F.col("doc_id") < 200), "doc_id", "text"
    ).orderBy("doc_id")


@query(
    "embedding_quantize_int8",
    oracle=r"""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS e
      FROM embeddings WHERE vec_id < 100
    ), s AS (
      SELECT vec_id, e,
             list_min(e) AS mn, list_max(e) AS mx,
             (list_max(e) - list_min(e)) / 255.0 AS step
      FROM v
    )
    SELECT vec_id,
           array_to_string(CASE WHEN mx = mn
                THEN list_transform(e, x -> 0)
                ELSE list_transform(e, x -> CAST(floor((x - mn) * 255.0 / (mx - mn) + 0.5) AS INT))
           END, ',') AS q_codes,
           mn AS q_min, step AS q_step,
           TRUE AS q_within_half_step
    FROM s ORDER BY vec_id
    """,
)
def embedding_quantize_int8(spark, sf_dir):
    """Int8 scalar quantization of the embedding column
    (operators/similarity.quantize_int8) — the 4× storage-compression
    step a 100 TB embedding corpus ships through. The codes use only
    IEEE-deterministic double algebra + floor(..+0.5), so the DuckDB
    oracle reproduces every code and the (q_min, q_step) pairs EXACTLY;
    the reconstruction-error bound is asserted Spark-side (oracle emits
    literal TRUE)."""
    from pinot_spark.operators.similarity import quantize_int8

    t = load_tables(spark, sf_dir)
    return (
        quantize_int8(t["embeddings"].filter(F.col("vec_id") < 100), "embedding")
        .select(
            "vec_id",
            # the driver canonicalizer cannot hash array cells —
            # stringify the codes (r03/r04/r05 lesson, gate in
            # tests/test_oracle_parity.py)
            F.array_join("q_codes", ",").alias("q_codes"),
            "q_min",
            "q_step",
            "q_within_half_step",
        )
        .orderBy("vec_id")
    )


@query(
    "multimodal_gif_tiff_features",
    oracle="""
    WITH px AS (
      SELECT doc_id,
             substr(rpad(regexp_replace(text, '[^ -~]', '', 'g'), 48, 'x'), 1, 48) AS t
      FROM documents WHERE doc_id < 50
    )
    SELECT CAST(doc_id AS VARCHAR) AS media_id, fmt,
           CAST(list_sum(list_transform(range(16), i ->
               (77 * ascii(substr(t, i*3 + 1, 1)) +
                150 * ascii(substr(t, i*3 + 2, 1)) +
                29 * ascii(substr(t, i*3 + 3, 1))) // 256)) AS DOUBLE) AS feat_sum,
           'ok' AS decode_ok
    FROM px CROSS JOIN (VALUES ('gif'), ('tiff')) AS f(fmt)
    ORDER BY CAST(media_id AS INT), fmt
    """,
)
def multimodal_gif_tiff_features(spark, sf_dir):
    """GIF + TIFF end-to-end under the driver gate (round 8): each
    document's first 48 printable bytes become 16 RGB pixels encoded as
    a REAL interlaced GIF and a REAL PackBits TIFF (an Arrow-batched
    UDF), then decoded back through the generic image dispatch
    and reduced to the integer-luma features. Both containers are
    LOSSLESS, so the decoded pixels equal the text bytes and the oracle
    recomputes the features from the text directly — the same
    SQL-checkable construction the PPM query uses, now proving the two
    round-8 codecs and their dispatch wiring."""
    from pinot_spark.functions.scalar import arrow_rows_udf
    from pinot_spark.operators.multimodal import extract_features

    def _encode(txt, fmt):
        import numpy as np

        from pinot_spark.functions.gifcodec import encode_gif
        from pinot_spark.functions.tiffcodec import encode_tiff

        out = []
        for t, f in zip(txt, fmt):
            arr = np.frombuffer(t.encode("ascii")[:48], np.uint8).reshape(4, 4, 3)
            out.append(
                encode_gif(arr, interlace=True)
                if f == "gif"
                else encode_tiff(arr, packbits=True)
            )
        return out

    _encode_payload = arrow_rows_udf("binary", _encode)

    t = load_tables(spark, sf_dir)
    base = t["documents"].filter(F.col("doc_id") < 50).select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.substring(
            F.rpad(F.regexp_replace(F.col("text"), "[^ -~]", ""), 48, "x"), 1, 48
        ).alias("__t"),
        F.explode(F.array(F.lit("gif"), F.lit("tiff"))).alias("fmt"),
    )
    media = base.select(
        "media_id",
        "fmt",
        _encode_payload("__t", "fmt").alias("payload"),
        F.lit(None).cast("string").alias("mime"),
        F.lit(4).alias("width"),
        F.lit(4).alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    # tag the format into media_id so the (doc, fmt) pair survives the
    # extract schema, then split it back out
    feats = extract_features(
        media.withColumn("media_id", F.concat_ws(":", "media_id", "fmt"))
    )
    return feats.select(
        F.split("media_id", ":")[0].alias("media_id"),
        F.split("media_id", ":")[1].alias("fmt"),
        F.aggregate(
            "features", F.lit(0.0), lambda a, x: a + x.cast("double")
        ).alias("feat_sum"),
        "decode_ok",
    ).orderBy(F.col("media_id").cast("int"), "fmt")


_LOSSY_FIXTURES = {
    # real libwebp-encoded lossy WebP files (tests/data/fx_*.webp),
    # embedded so the row is self-contained; the oracle's expected
    # sums are libwebp's OWN decode of these bytes (WebPDecodeRGB),
    # independently digest-pinned in tests/test_vp8codec.py
    "odd_33x21_q60": (
        "UklGRoIAAABXRUJQVlA4IHYAAAAwBACdASohABUAPqFAmEm9pCKhOrmYA7AUCWYA"
        "nTLCRlApO+EBuS5n/xQA/vhoFIBjawsg+SwXY4CGOZw7pvxe89LXfHK5yL0Eiyb6"
        "5GaRGkryKka9K0y8zb1wgh8YE63RitQBirA82nKTS6nF2jA7VtQ1wAAA"
    ),
    "gradient_64x48_q75": (
        "UklGRjABAABXRUJQVlA4ICQBAAAwCgCdASpAADAAPpE8m0mloyKvKrgKAeASCWgt"
        "gAlMgDkNfI8pTyWEAN4R/cf9YCd5hb7/WKG74iXSWIXKyAOPojf+rDEJWELvIlkS"
        "3D16r60nk5IMGsjF0rAA/veUwy516artn1DXrE/RMmMz4VuAXB+IUqY1FjP4VgbdeU"
        "/Fm3nP61c8kkBD6JD64c5F57NnA9roGhsgwXLFz4U15D917aFbh+o/H0eQ17Np7N"
        "5c6TKWwZhAXs92uAnNwjX/+mbc1z09f4iKeXiIU4rhlAOw8WVVmk8GkFcgoKNUSV"
        "SPIlXVujb+DC4NqkyHS0tMxOwAJyVfbmuGSoWr7c1z09f4iKeXiInxtOi3aSpYCV"
        "DCNBS5VbC7+HvYmn0s/0VZjO6MqAAA"
    ),
}


@query(
    "multimodal_lossy_webp_decode",
    oracle="""
    SELECT * FROM (VALUES
        ('gradient_64x48_q75', 64, 48,
         CAST(351116 AS BIGINT), CAST(473508 AS BIGINT),
         CAST(508882 AS BIGINT)),
        ('odd_33x21_q60', 33, 21,
         CAST(77711 AS BIGINT), CAST(76087 AS BIGINT),
         CAST(54233 AS BIGINT))
    ) AS t(media_id, width, height, sum_r, sum_g, sum_b)
    ORDER BY media_id
    """,
)
def multimodal_lossy_webp_decode(spark, sf_dir):
    """Lossy-WebP RGB decode through the multimodal Arrow path
    (functions/vp8codec.py — the full RFC 6386 keyframe decoder,
    round 16): two real libwebp-encoded files decode inside a
    mapInPandas batch and the per-channel pixel sums must equal
    libwebp's own WebPDecodeRGB output for the same bytes (the oracle
    literals; byte-level digests are pinned in tests/test_vp8codec.py).
    A single wrong probability-table entry or filter constant
    desynchronizes the arithmetic decoder and every sum moves.

    Scale shape: the decode is per-row Python inside Arrow batches —
    the 100 TB multimodal pattern (no driver involvement, executor-
    parallel); this row proves the plumbing AND the codec exactly."""
    import base64

    rows = [
        (name, bytearray(base64.b64decode(b64)))
        for name, b64 in sorted(_LOSSY_FIXTURES.items())
    ]
    df = spark.createDataFrame(rows, "media_id string, payload binary")

    def decode_batch(batches):
        import pandas as pd

        from pinot_spark.functions.vp8codec import decode_webp_lossy

        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                rgb = decode_webp_lossy(bytes(payload))
                s = rgb.reshape(-1, 3).astype("int64").sum(axis=0)
                out.append(
                    (mid, rgb.shape[1], rgb.shape[0],
                     int(s[0]), int(s[1]), int(s[2]))
                )
            yield pd.DataFrame(
                out,
                columns=["media_id", "width", "height",
                         "sum_r", "sum_g", "sum_b"],
            )

    return df.mapInPandas(
        decode_batch,
        "media_id string, width int, height int, "
        "sum_r bigint, sum_g bigint, sum_b bigint",
    ).orderBy("media_id")


@query(
    "multimodal_video_frame_sample",
    oracle="""
    WITH samples(sample_idx, t_ms, frame_idx) AS (
        VALUES (0, 0, 0), (1, 100, 1), (2, 200, 2),
               (3, 300, 3), (4, 400, 4), (5, 500, 4)
    )
    SELECT concat('vid', CAST(m AS VARCHAR)) AS media_id,
           CAST(sample_idx AS INT) AS sample_idx,
           CAST(t_ms AS INT) AS t_ms,
           CAST(frame_idx AS INT) AS frame_idx,
           CAST(192 AS INT) AS n_pixels,
           CAST(192 * ((m*53 + frame_idx*17) % 256) AS BIGINT) AS sum_r,
           CAST(192 * ((m*29 + frame_idx*41) % 256) AS BIGINT) AS sum_g,
           CAST(192 * ((m*71 + frame_idx*13) % 256) AS BIGINT) AS sum_b,
           'ok' AS decode_ok
    FROM range(4) t(m) CROSS JOIN samples
    ORDER BY media_id, sample_idx
    """,
)
def multimodal_video_frame_sample(spark, sf_dir):
    """REAL video frame sampling through the multimodal Arrow path
    (functions/gifcodec.decode_gif_frames +
    operators/multimodal.video_frame_sample_decode): four animated
    GIFs — five 16x12 solid frames each, colors from an exact integer
    formula, frame delays 40/80/120/160/200 ms — are ENCODED to real
    GIF89a animations worker-side, decoded back frame by frame, and
    sampled every 100 ms.  The DuckDB oracle recomputes each sample's
    channel sums from the color formula and the closed-form
    frame-at-time mapping (the cumulative-delay windows [0,40) [40,120)
    [120,240) [240,400) [400,600) put samples 0..5 on frames
    0,1,2,3,4,4), so the animation roundtrip, GCE delay handling, and
    timeline sampling must all be value-exact.  Animation composition
    semantics (transparency, disposal restore-background and
    restore-previous) are adversarially pinned in
    tests/test_gif_tiff_codecs.py.

    Scale shape: payload synthesis and decode both live in mapInPandas
    batches; only the per-sample stat rows leave the worker."""
    from pinot_spark.operators.multimodal import video_frame_sample_decode

    ids = spark.createDataFrame(
        [(f"vid{m}", m) for m in range(4)], "media_id string, m int"
    )

    def synth(batches):
        import numpy as np
        import pandas as pd

        from pinot_spark.functions.gifcodec import encode_gif_animation

        for pdf in batches:
            payloads = []
            for m in pdf["m"]:
                frames = [
                    np.full(
                        (12, 16, 3),
                        (
                            (m * 53 + f * 17) % 256,
                            (m * 29 + f * 41) % 256,
                            (m * 71 + f * 13) % 256,
                        ),
                        np.uint8,
                    )
                    for f in range(5)
                ]
                delays = [40 * (f + 1) for f in range(5)]
                payloads.append(
                    bytearray(encode_gif_animation(frames, delays))
                )
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = ids.mapInPandas(synth, "media_id string, payload binary")
    return (
        video_frame_sample_decode(media, every_ms=100)
        .orderBy("media_id", "sample_idx")
    )


@query(
    "multimodal_audio_features",
    oracle="""
    WITH grid AS (
        SELECT m, c, w FROM range(4) t1(m)
        CROSS JOIN range(2) t2(c) CROSS JOIN range(4) t3(w)
    ),
    segs AS (
        SELECT m, c, w,
               list_transform(range(1000), i ->
                   ((m*7919 + (w*1000 + i)*104729 + c*31337) % 65521)
                   - 32760) AS s
        FROM grid
    )
    SELECT concat('aud', CAST(m AS VARCHAR)) AS media_id,
           CAST(c AS INT) AS channel,
           CAST(w AS INT) AS window_idx,
           CAST(1000 AS INT) AS n_samples,
           CAST(list_sum(list_transform(s, x -> abs(x))) AS BIGINT)
               AS sum_abs,
           CAST(list_max(list_transform(s, x -> abs(x))) AS INT) AS peak,
           CAST(list_sum(list_transform(range(999), i ->
               CASE WHEN (s[i+2] >= 0) <> (s[i+1] >= 0)
                    THEN 1 ELSE 0 END)) AS INT) AS zero_crossings,
           'ok' AS decode_ok
    FROM segs ORDER BY media_id, channel, window_idx
    """,
)
def multimodal_audio_features(spark, sf_dir):
    """REAL audio decode through the multimodal Arrow path
    (functions/wavcodec.py + operators/multimodal.audio_features):
    four stereo PCM16 WAV payloads are synthesized from an exact
    integer formula, ENCODED to real RIFF/WAVE bytes, decoded back,
    and hop-windowed into per-(media, channel, window) integer stats
    — sample count, sum|s|, peak, zero crossings.  The DuckDB oracle
    recomputes every stat from the generating formula directly, so the
    WAV roundtrip must be value-transparent and the window fan-out
    exact (the codec itself is additionally cross-validated against
    CPython's stdlib wave module in tests/test_wavcodec.py).

    Scale shape: payload synthesis and decode both live in mapInPandas
    Arrow batches; the fan-out happens worker-side from the decoded
    array — no byte duplication through a shuffle."""
    from pinot_spark.operators.multimodal import audio_features

    ids = spark.createDataFrame(
        [(f"aud{m}", m) for m in range(4)], "media_id string, m int"
    )

    def synth(batches):
        import numpy as np
        import pandas as pd

        from pinot_spark.functions.wavcodec import encode_wav

        for pdf in batches:
            payloads = []
            for m in pdf["m"]:
                i = np.arange(4000, dtype=np.int64)
                frames = np.stack(
                    [
                        ((m * 7919 + i * 104729 + c * 31337) % 65521)
                        - 32760
                        for c in (0, 1)
                    ],
                    axis=1,
                ).astype(np.int16)
                payloads.append(bytearray(encode_wav(frames, 8000)))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = ids.mapInPandas(synth, "media_id string, payload binary")
    return (
        audio_features(media, window_ms=125)
        .orderBy("media_id", "channel", "window_idx")
    )


@query(
    "multimodal_webp_features",
    oracle="""
    WITH px AS (
      SELECT doc_id,
             substr(rpad(regexp_replace(text, '[^ -~]', '', 'g'), 48, 'x'), 1, 48) AS t
      FROM documents WHERE doc_id < 40
    )
    SELECT CAST(doc_id AS VARCHAR) AS media_id, fmt,
           CAST(list_sum(list_transform(range(16), i ->
               (77 * ascii(substr(t, i*3 + 1, 1)) +
                150 * ascii(substr(t, i*3 + 2, 1)) +
                29 * ascii(substr(t, i*3 + 3, 1))) // 256)) AS DOUBLE) AS feat_sum,
           'ok' AS decode_ok
    FROM px CROSS JOIN (VALUES ('plain'), ('pal'), ('pred')) AS f(fmt)
    ORDER BY CAST(media_id AS INT), fmt
    """,
)
def multimodal_webp_features(spark, sf_dir):
    """WebP LOSSLESS (VP8L, RFC 9649) end-to-end under the driver gate
    (round 9): each document's first 48 printable bytes become 16 RGB
    pixels encoded as a REAL VP8L stream three ways — plain
    (literal + color cache + runs), color-indexing ('pal': delta-coded
    palette, sub-byte packing when small) and predictor transform
    ('pred': uniform mode 7 Average2(L,T)) — then decoded back through
    the generic image dispatch (functions/webpcodec.py) and reduced to
    integer-luma features. VP8L is lossless, so the decoded pixels
    equal the text bytes for every variant and the oracle recomputes
    the features from the text directly."""
    from pinot_spark.functions.scalar import arrow_rows_udf
    from pinot_spark.operators.multimodal import extract_features

    def _encode(txt, fmt):
        import numpy as np

        from pinot_spark.functions.webpcodec import encode_webp

        out = []
        for t, f in zip(txt, fmt):
            arr = np.frombuffer(t.encode("ascii")[:48], np.uint8).reshape(4, 4, 3)
            if f == "pal":
                out.append(encode_webp(arr, palette=True))
            elif f == "pred":
                out.append(encode_webp(arr, predictor=7))
            else:
                out.append(encode_webp(arr))
        return out

    _encode_payload = arrow_rows_udf("binary", _encode)

    t = load_tables(spark, sf_dir)
    base = t["documents"].filter(F.col("doc_id") < 40).select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.substring(
            F.rpad(F.regexp_replace(F.col("text"), "[^ -~]", ""), 48, "x"), 1, 48
        ).alias("__t"),
        F.explode(
            F.array(F.lit("plain"), F.lit("pal"), F.lit("pred"))
        ).alias("fmt"),
    )
    media = base.select(
        "media_id",
        "fmt",
        _encode_payload("__t", "fmt").alias("payload"),
        F.lit(None).cast("string").alias("mime"),
        F.lit(4).alias("width"),
        F.lit(4).alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    feats = extract_features(
        media.withColumn("media_id", F.concat_ws(":", "media_id", "fmt"))
    )
    return feats.select(
        F.split("media_id", ":")[0].alias("media_id"),
        F.split("media_id", ":")[1].alias("fmt"),
        F.aggregate(
            "features", F.lit(0.0), lambda a, x: a + x.cast("double")
        ).alias("feat_sum"),
        "decode_ok",
    ).orderBy(F.col("media_id").cast("int"), "fmt")


@query(
    "pipeline_semdedup",
    oracle="""
    WITH cents AS (
      SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
      FROM embeddings WHERE vec_id IN (1, 2, 3, 4)),
    assigned AS (
      SELECT e.vec_id AS id, e.embedding::DOUBLE[] AS v,
             (SELECT c.cid FROM cents c
              ORDER BY list_distance(c.cv, e.embedding::DOUBLE[]) ASC, c.cid ASC
              LIMIT 1) AS cid
      FROM embeddings e),
    scored AS (
      SELECT a.id, a.v, a.cid,
             list_dot_product(a.v, c.cv) /
               (sqrt(list_dot_product(a.v, a.v)) *
                sqrt(list_dot_product(c.cv, c.cv))) AS centroid_sim
      FROM assigned a JOIN cents c ON a.cid = c.cid),
    dropped AS (
      SELECT DISTINCT a.id
      FROM scored a JOIN scored b ON a.cid = b.cid
        AND ((b.centroid_sim < a.centroid_sim)
             OR (b.centroid_sim = a.centroid_sim AND b.id < a.id))
      WHERE list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) *
               sqrt(list_dot_product(b.v, b.v))) >= 0.35)
    SELECT s.id AS vec_id, s.cid AS bucket,
           round(s.centroid_sim, 4) AS centroid_sim,
           (d.id IS NOT NULL) AS dropped
    FROM scored s LEFT JOIN dropped d ON s.id = d.id
    ORDER BY vec_id
    """,
)
def pipeline_semdedup(spark, sf_dir):
    """SemDeDup semantic dedup (Abbas et al. 2023, arXiv:2303.09540 —
    LLM-pipeline operator): cluster the embedding space, drop within-
    cluster members whose cosine similarity to a farther-from-centroid
    member exceeds the threshold.  Centroids here are the embeddings of
    vec_id 1..4 (deterministic, so DuckDB mirrors the exact assignment);
    the production path learns them with operators/similarity.
    build_ivf_index's Lloyd iterations.  The pairwise test joins on the
    CLUSTER id — never all-pairs across the corpus."""
    from pinot_spark.operators.dedup import semdedup

    t = load_tables(spark, sf_dir)
    cents = [
        [float(x) for x in r[1]]
        for r in sorted(
            t["embeddings"].filter(F.col("vec_id").isin(1, 2, 3, 4))
            .select("vec_id", "embedding").collect(),
            key=lambda r: r[0],
        )
    ]
    out = semdedup(t["embeddings"], "embedding", "vec_id", cents, 0.35)
    return out.select(
        F.col("id").alias("vec_id"),
        (F.col("bucket") + 1).alias("bucket"),
        F.round("centroid_sim", 4).alias("centroid_sim"),
        "dropped",
    ).orderBy("vec_id")


@query(
    "pipeline_resample_distribution",
    oracle="""
    WITH counts AS (
      SELECT lang, count(*) AS c,
             CASE lang WHEN 'en' THEN 4 ELSE 1 END AS w
      FROM documents GROUP BY lang),
    m AS (SELECT min(c // w) AS m FROM counts),
    thr AS (
      SELECT lang, c, w,
             (4294967296 * w * (SELECT m FROM m)) // c AS ti,
             lower(lpad(to_hex(least(4294967295, (4294967296 * w * (SELECT m FROM m)) // c)),
                  8, '0')) AS t
      FROM counts),
    sampled AS (
      SELECT d.lang FROM documents d JOIN thr ON d.lang = thr.lang
      WHERE thr.ti >= 4294967296
         OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < thr.t)
    SELECT lang, count(*) AS n FROM sampled GROUP BY lang ORDER BY lang
    """,
)
def pipeline_resample_distribution(spark, sf_dir):
    """Corpus resampling to a target categorical mix (training-data
    balancing: operators/text.resample_to_distribution) — here 4:1:1:1:1
    over langs with 'en' upweighted.  Deterministic md5 hash-thinning:
    the same 32-bit threshold acceptance on both engines, no RNG, no
    shuffle-order dependence; per-bucket counts are the only
    driver-side state (bounded by category cardinality)."""
    t = load_tables(spark, sf_dir)
    weights = {"en": 4, "de": 1, "fr": 1, "es": 1, "zh": 1}
    out = T.resample_to_distribution(t["documents"], "lang", weights, "doc_id")
    return out.groupBy("lang").agg(F.count("*").alias("n")).orderBy("lang")


@query(
    "pipeline_lm_perplexity",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                         x -> x <> '') AS t
      FROM documents WHERE doc_id < 400
    ),
    tok AS (
      SELECT doc_id, unnest(t) AS w, unnest(range(1, len(t) + 1)) AS ord
      FROM base
    ),
    p2 AS (
      SELECT doc_id, w1, w2 FROM (
        SELECT doc_id, w AS w1,
               lead(w) OVER (PARTITION BY doc_id ORDER BY ord) AS w2
        FROM tok
      ) WHERE w2 IS NOT NULL
    ),
    bi AS (SELECT w1, w2, count(*) AS c12 FROM p2 GROUP BY 1, 2),
    uni AS (SELECT w AS w1, count(*) AS c1 FROM tok GROUP BY 1),
    voc AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
    dg AS (SELECT doc_id, w1, w2, count(*) AS cnt FROM p2 GROUP BY 1, 2, 3),
    sc AS (
      SELECT dg.doc_id, dg.cnt,
             log2((coalesce(bi.c12, 0) + 0.5)
                  / (coalesce(uni.c1, 0) + 0.5 * voc.v)) AS logp
      FROM dg LEFT JOIN bi USING (w1, w2)
              LEFT JOIN uni USING (w1) CROSS JOIN voc
    )
    SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
           round(-sum(cnt * logp) / sum(cnt), 4) AS cross_entropy,
           round(pow(2.0, -sum(cnt * logp) / sum(cnt)), 4) AS perplexity
    FROM sc GROUP BY doc_id ORDER BY doc_id
    """,
)
def pipeline_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality scoring (Wenzek et al. 2019,
    arXiv:1911.00359): bigram add-α model trained on the corpus with two
    map-side-combinable aggregations, documents scored by perplexity
    through pre-aggregated gram joins (operators/text.py
    ngram_lm_perplexity).  The oracle rebuilds the identical model in
    SQL — same tokenizer regex, same smoothed formula, same log2 — so
    every cross-entropy matches to the rounded digit."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"].filter(F.col("doc_id") < 400)
    return T.ngram_lm_perplexity(docs, "doc_id", "text").orderBy("doc_id")


@query(
    "pipeline_dsir_select",
    oracle="""
    WITH src AS (SELECT doc_id, text FROM documents WHERE doc_id < 600),
    tgt AS (SELECT doc_id, text FROM documents
            WHERE doc_id < 600 AND lang = 'en'),
    src_tok AS (
      SELECT doc_id, unnest(t) AS w, unnest(range(1, len(t) + 1)) AS ord
      FROM (SELECT doc_id, list_filter(
                regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                x -> x <> '') AS t FROM src)
    ),
    tgt_tok AS (
      SELECT doc_id, unnest(t) AS w, unnest(range(1, len(t) + 1)) AS ord
      FROM (SELECT doc_id, list_filter(
                regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                x -> x <> '') AS t FROM tgt)
    ),
    src_grams AS (
      SELECT doc_id, w AS g FROM src_tok
      UNION ALL
      SELECT doc_id, w1 || ' ' || w2 AS g FROM (
        SELECT doc_id, w AS w1,
               lead(w) OVER (PARTITION BY doc_id ORDER BY ord) AS w2
        FROM src_tok
      ) WHERE w2 IS NOT NULL
    ),
    tgt_grams AS (
      SELECT doc_id, w AS g FROM tgt_tok
      UNION ALL
      SELECT doc_id, w1 || ' ' || w2 AS g FROM (
        SELECT doc_id, w AS w1,
               lead(w) OVER (PARTITION BY doc_id ORDER BY ord) AS w2
        FROM tgt_tok
      ) WHERE w2 IS NOT NULL
    ),
    src_b AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT % 512 AS b
              FROM src_grams),
    tgt_b AS (SELECT ('0x' || substr(md5(g), 1, 8))::BIGINT % 512 AS b
              FROM tgt_grams),
    cs AS (SELECT b, count(*) AS c_s FROM src_b GROUP BY 1),
    ct AS (SELECT b, count(*) AS c_t FROM tgt_b GROUP BY 1),
    ts AS (SELECT CAST(sum(c_s) AS DOUBLE) AS v FROM cs),
    tt AS (SELECT CAST(sum(c_t) AS DOUBLE) AS v FROM ct),
    lam AS (
      SELECT b,
             ln((coalesce(c_t, 0) + 1.0) / (tt.v + 1.0 * 512))
               - ln((coalesce(c_s, 0) + 1.0) / (ts.v + 1.0 * 512)) AS lam
      FROM cs FULL OUTER JOIN ct USING (b) CROSS JOIN ts CROSS JOIN tt
    ),
    db AS (SELECT doc_id, b, count(*) AS cnt FROM src_b GROUP BY 1, 2),
    lw AS (SELECT doc_id, sum(cnt * lam) AS logw
           FROM db JOIN lam USING (b) GROUP BY 1),
    sc AS (
      SELECT doc_id, logw,
             logw - ln(-ln(
               ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
                 + 1.0) / (pow(16.0, 13) + 1)))) AS score
      FROM lw
    )
    SELECT doc_id, round(logw, 4) AS log_weight, round(score, 4) AS score
    FROM sc ORDER BY score DESC, doc_id LIMIT 150
    """,
)
def pipeline_dsir_select(spark, sf_dir):
    """DSIR data selection (operators/text.py dsir_select — Xie et al.
    2023, arXiv:2302.03169): English-language documents as the target
    distribution, the whole corpus slice as source; hashed uni+bigram
    importance weights, deterministic md5-derived Gumbel-top-k of 150
    documents.  The oracle rebuilds the identical model in SQL — same
    md5 bucket hash, same add-α log-ratios, same Gumbel transform."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"].filter(F.col("doc_id") < 600).select("doc_id", "text", "lang")
    target = docs.filter(F.col("lang") == "en")
    return T.dsir_select(docs, "doc_id", "text", target, k=150, buckets=512)


@query(
    "pipeline_line_dedup",
    oracle="""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS t
      FROM documents
      WHERE doc_id < 200 AND len(string_split(text, ' ')) >= 12
    ),
    lines AS (
      SELECT doc_id,
             unnest(list_transform(range(0, 6),
                    j -> t[2 * j + 1] || ' ' || t[2 * j + 2])) AS line,
             unnest(range(0, 6)) AS idx
      FROM base
    ),
    first AS (
      SELECT line, min(doc_id * 16 + idx) AS first_key FROM lines GROUP BY 1
    ),
    kept AS (
      SELECT l.doc_id, l.idx, l.line,
             (l.doc_id * 16 + l.idx = f.first_key) AS keep
      FROM lines l JOIN first f USING (line)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_kept,
           coalesce(string_agg(line, chr(10) ORDER BY idx)
                      FILTER (WHERE keep), '') AS clean_text
    FROM kept GROUP BY doc_id ORDER BY doc_id
    """,
)
def pipeline_line_dedup(spark, sf_dir):
    """C4-style exact line dedup across the corpus (Raffel et al. 2020,
    arXiv:1910.10683 — operators/dedup.dedup_lines_across_corpus): the
    single-line fixture documents are recut into 6 bigram "lines" drawn
    from the corpus's small vocabulary, so cross-document duplicate
    lines are common; every line survives only at its first (doc, idx)
    occurrence and documents reassemble from their surviving lines.
    One shuffle finds each line's global first occurrence (min over a
    comparable struct, map-side combinable — no corpus-wide window)."""
    from pinot_spark.operators.dedup import dedup_lines_across_corpus

    t = load_tables(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    mdocs = (
        t["documents"]
        .filter((F.col("doc_id") < 200) & (F.size(toks) >= 12))
        .select(
            "doc_id",
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(5)),
                    lambda j: F.concat_ws(
                        " ",
                        F.element_at(toks, j * 2 + 1),
                        F.element_at(toks, j * 2 + 2),
                    ),
                ),
                "\n",
            ).alias("mtext"),
        )
    )
    return dedup_lines_across_corpus(mdocs, "doc_id", "mtext").orderBy("doc_id")


@query(
    "text_bm25_ranked_search",
    oracle="""
    WITH base AS (
      SELECT doc_id, list_filter(
               regexp_split_to_array(lower(text), '[^a-z0-9]+'),
               x -> x <> '') AS t
      FROM documents WHERE doc_id < 500
    ),
    lens AS (SELECT doc_id, len(t) AS dlen FROM base),
    stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                     avg(dlen) AS avglen FROM lens),
    tok AS (SELECT doc_id, unnest(t) AS term FROM base),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
      FROM tok WHERE term IN ('scan', 'window', 'agg')
      GROUP BY 1, 2
    ),
    dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS dfr FROM tf GROUP BY 1),
    sc AS (
      SELECT tf.doc_id,
             ln(1 + (stats.n - dfq.dfr + 0.5) / (dfq.dfr + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * lens.dlen / stats.avglen))
               AS s
      FROM tf JOIN dfq USING (term) JOIN lens USING (doc_id)
              CROSS JOIN stats
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit,
           round(sum(s), 4) AS bm25
    FROM sc GROUP BY doc_id ORDER BY sum(s) DESC, doc_id LIMIT 20
    """,
)
def text_bm25_ranked_search(spark, sf_dir):
    """BM25-ranked retrieval (operators/text_index.bm25_topk — Robertson
    & Zaragoza 2009, Lucene-style idf): Pinot's TEXT_MATCH filters but
    never surfaces the Lucene score; this adds the ranking half.  Per
    (doc, term) frequencies pre-aggregate map-side, document frequencies
    and corpus length stats broadcast back in, top-k runs as
    TakeOrderedAndProject.  Oracle rebuilds the identical scorer in SQL
    (same tokenizer, same ln(1+x) idf, same k1/b)."""
    from pinot_spark.operators.text_index import bm25_topk

    t = load_tables(spark, sf_dir)
    docs = t["documents"].filter(F.col("doc_id") < 500)
    return bm25_topk(docs, "doc_id", "text", ["scan", "window", "agg"], k=20)


@query(
    "pipeline_fuzzy_dedup_end2end",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id, list_distinct(string_split(lower(trim(text)), ' ')) AS toks
      FROM documents WHERE doc_id < 300
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks))::DOUBLE /
            len(list_distinct(list_concat(a.toks, b.toks))) > 0.9
    ),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(u, v) AS (SELECT u, u FROM (SELECT DISTINCT u FROM edges)
                    UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    comp AS (SELECT u AS id, min(v) AS component FROM reach GROUP BY u),
    memb AS (
      SELECT c.id, c.component, d.n_chars
      FROM comp c JOIN documents d ON d.doc_id = c.id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY component
                                   ORDER BY n_chars DESC, id) AS rn
      FROM memb
    )
    SELECT component,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(max(CASE WHEN rn = 1 THEN id END) AS BIGINT) AS keep_id,
           CAST(max(CASE WHEN rn = 1 THEN n_chars END) AS BIGINT) AS keep_n_chars,
           CAST(count(*) - 1 AS BIGINT) AS n_removed
    FROM ranked GROUP BY component ORDER BY component
    """,
)
def pipeline_fuzzy_dedup_end2end(spark, sf_dir):
    """The COMPLETE fuzzy-dedup pipeline in one plan — the composition a
    training-data run actually executes: exact token-set Jaccard pairs
    via prefix filtering (AllPairs/PPJoin, no all-pairs join) →
    distributed min-label connected components → keep ONE representative
    per cluster by a real policy (longest document, ties to the smallest
    id — the common "keep the most complete copy" rule).  One row per
    duplicate cluster with its size, survivor and removal count.

    Every stage is the already-proven operator
    (operators/dedup.jaccard_similarity_join / duplicate_clusters); this
    row pins their COMPOSITION against a single DuckDB mirror (brute-
    force pairs + recursive-CTE closure + window argmax)."""
    from pinot_spark.operators.dedup import duplicate_clusters, jaccard_similarity_join

    t = load_tables(spark, sf_dir)
    docs = t["documents"].filter(F.col("doc_id") < 300)
    sh = docs.select(
        "doc_id", F.array_distinct(F.split(F.lower(F.trim("text")), " ")).alias("toks")
    )
    pairs = jaccard_similarity_join(sh, "doc_id", "toks", 0.9).select("id_a", "id_b")
    clusters = duplicate_clusters(pairs)
    memb = clusters.join(
        docs.select(F.col("doc_id").alias("id"), "n_chars"), "id"
    )
    best = F.min(
        F.struct((-F.col("n_chars")).alias("__negq"), F.col("id").alias("__kid"))
    )
    return (
        memb.groupBy("component")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            best.alias("__best"),
        )
        .select(
            "component",
            "n_members",
            F.col("__best.__kid").cast("bigint").alias("keep_id"),
            (-F.col("__best.__negq")).cast("bigint").alias("keep_n_chars"),
            (F.col("n_members") - 1).cast("bigint").alias("n_removed"),
        )
        .orderBy("component")
    )


@query(
    "dedup_incremental_lsh",
    # banding collisions depend on xxhash64, so the emitted columns are
    # the deterministic validation of the incremental probe (the
    # similarity_topk_hnsw pattern): batch size, every exact copy
    # flagged against its true source, and no surviving doc being an
    # exact corpus duplicate
    oracle="""
    SELECT CAST(70 AS BIGINT) AS n_probe,
           TRUE AS all_copies_flagged,
           TRUE AS copies_match_source,
           TRUE AS clean_has_no_exact_dup
    """,
)
def dedup_incremental_lsh(spark, sf_dir):
    """Incremental corpus dedup against a PERSISTED MinHash-LSH index
    (the crawl-increment pipeline shape; complements the batch
    dedup_minhash_lsh_pairs row): the historical corpus (documents
    doc_id < 300) is banded once into a parquet index, then a new batch
    — 50 fresh docs plus 20 exact copies of indexed docs under new ids
    — dedups against it with ONE equi-join on (band, bucket) whose
    strategy AQE picks (broadcast for a small increment, shuffled hash
    past the broadcast ceiling); the corpus text is never rescanned.  Exact copies collide on every
    band, so each must be flagged with its true source among the
    matches; fresh docs may only be flagged as near-dup CANDIDATES,
    and whatever survives must not be an exact duplicate of any corpus
    text."""
    from pinot_spark.operators.dedup import (
        build_lsh_index,
        dedup_against_lsh_index,
    )

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") < 300)
    path = os.path.join(
        _PIPE_TMP, f"lsh_{os.path.basename(os.path.normpath(sf_dir))}"
    )
    build_lsh_index(corpus, "text", "doc_id", path, num_hashes=64, bands=16)
    copies = (
        docs.filter(F.col("doc_id") < 20)
        .select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    )
    fresh = docs.filter(
        (F.col("doc_id") >= 300) & (F.col("doc_id") < 350)
    )
    batch = fresh.unionByName(copies)
    clean, flagged = dedup_against_lsh_index(
        spark, batch, "text", "doc_id", path, commit=False
    )
    pairs = {(r.new_id, r.corpus_id) for r in flagged.collect()}
    flagged_new = {a for a, _ in pairs}
    all_copies = all(10_000 + i in flagged_new for i in range(20))
    match_src = all((10_000 + i, i) in pairs for i in range(20))
    corpus_texts = {r.text for r in corpus.collect()}
    clean_rows = clean.collect()
    no_exact = all(r.text not in corpus_texts for r in clean_rows)
    return spark.createDataFrame(
        [(len(clean_rows) + len(flagged_new), all_copies, match_src, no_exact)],
        "n_probe bigint, all_copies_flagged boolean, "
        "copies_match_source boolean, clean_has_no_exact_dup boolean",
    )


@query(
    "text_classifier_quality",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           t -> t <> '') AS ts
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang,
               CASE WHEN len(ts) = 0 THEN 0.0
                    ELSE list_reduce(
                        list_transform(ts, t ->
                            (CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)
                             % 4096) * 2654435761 % 2000001 / 1000000.0
                            - 1.0),
                        (x, y) -> x + y) / len(ts)
               END AS x
        FROM toks
    ),
    q AS (
        SELECT doc_id, lang, 0.5 + x / (2.0 * (1.0 + abs(x))) AS score
        FROM scored
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN score > 0.52 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep,
           round(sum(CAST(round(score, 6) AS DECIMAL(38,12))), 4)::DOUBLE
               AS sum_score
    FROM q GROUP BY lang ORDER BY lang
    """,
)
def text_classifier_quality(spark, sf_dir):
    """fastText-style hashed linear classifier scoring over documents
    (operators/text.classifier_score — the DCLM / fineweb-edu quality-
    filter pipeline stage): md5-bucket feature hashing, mean feature
    weight, rational sigmoid.  The expression path is one whole-stage-
    codegen Column (no joins, no Python), so the DuckDB oracle mirrors
    the ENTIRE model bit-for-bit — per-lang doc counts, the >0.52 keep
    count (the classifier-filter decision), and the order-independent
    decimal-domain sum of per-doc scores."""
    from pinot_spark.operators.text import classifier_score

    t = load_tables(spark, sf_dir)
    scored = classifier_score(t["documents"], "text", n_buckets=4096)
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(
                F.when(F.col("quality_score") > 0.52, 1).otherwise(0)
            ).cast("bigint").alias("n_keep"),
            F.round(
                F.sum(
                    F.round(F.col("quality_score"), 6).cast(
                        "decimal(38,12)"
                    )
                ),
                4,
            ).cast("double").alias("sum_score"),
        )
        .orderBy("lang")
    )


@query(
    "text_classifier_trained_weights",
    oracle="""
    WITH w AS (
        SELECT b AS bucket,
               ((b * 48271 + 11) % 2049) / 1024.0 - 1.0 AS weight
        FROM range(4096) t(b)
    ),
    toks AS (
        SELECT doc_id,
               unnest(list_filter(
                   string_split_regex(lower(text), '[^a-z0-9]+'),
                   t -> t <> '')) AS tk
        FROM documents
    ),
    tb AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5(tk), 1, 8)) AS BIGINT) % 4096
                   AS bucket
        FROM toks
    ),
    sums AS (
        SELECT tb.doc_id, sum(w.weight) AS wsum, count(*) AS ntok
        FROM tb JOIN w USING (bucket) GROUP BY tb.doc_id
    ),
    q AS (
        SELECT d.lang,
               CASE WHEN s.ntok > 0 THEN s.wsum / s.ntok
                    ELSE 0.0 END AS x
        FROM documents d LEFT JOIN sums s USING (doc_id)
    ),
    sc AS (
        SELECT lang, 0.5 + x / (2.0 * (1.0 + abs(x))) AS score FROM q
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN score > 0.52 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep,
           round(sum(CAST(round(score, 6) AS DECIMAL(38,12))), 4)::DOUBLE
               AS sum_score
    FROM sc GROUP BY lang ORDER BY lang
    """,
)
def text_classifier_trained_weights(spark, sf_dir):
    """The TRAINED-weights classifier path (operators/text.
    classifier_score ``weights_df`` branch — the shape a real fastText/
    DCLM model takes at 100 TB): a (bucket, weight) model table is
    persisted with save_classifier_weights (parquet + Hadoop-FS JSON
    sidecar), reloaded, and scored via explode → BROADCAST-join the
    tiny weight table → per-doc regroup.  The DuckDB oracle mirrors the
    model as an explicit join, rule-for-rule.

    Bit-reproducibility across engines and partition orders: the
    weights are DYADIC (multiples of 1/1024, exactly representable in
    binary), so every per-doc sum is exact no matter what order the
    partial aggregates combine in — the one place a groupBy-sum of
    doubles could drift between Spark and DuckDB."""
    from pinot_spark.operators.text import (
        classifier_score,
        load_classifier_weights,
        save_classifier_weights,
    )

    t = load_tables(spark, sf_dir)
    weights = spark.range(4096).select(
        F.col("id").cast("int").alias("bucket"),
        (((F.col("id") * 48271 + 11) % 2049) / F.lit(1024.0) - 1.0).alias(
            "weight"
        ),
    )
    root = tempfile.mkdtemp(prefix="pinot_spark_clf_")
    try:
        path = os.path.join(root, "model")
        save_classifier_weights(weights, path)
        # localCheckpoint severs the file dependency so the model dir
        # can be deleted before the (lazy) result is collected
        loaded = load_classifier_weights(spark, path).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    scored = classifier_score(
        t["documents"], "text", n_buckets=4096,
        weights_df=loaded, id_col="doc_id",
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(
                F.when(F.col("quality_score") > 0.52, 1).otherwise(0)
            ).cast("bigint").alias("n_keep"),
            F.round(
                F.sum(
                    F.round(F.col("quality_score"), 6).cast(
                        "decimal(38,12)"
                    )
                ),
                4,
            ).cast("double").alias("sum_score"),
        )
        .orderBy("lang")
    )


@query(
    "pipeline_epoch_shuffle",
    oracle="""
    WITH o1 AS (
        SELECT doc_id, ROW_NUMBER() OVER (
            ORDER BY md5(concat(CAST(doc_id AS VARCHAR), ':7:1')), doc_id
        ) AS pos
        FROM documents
    ),
    o2 AS (
        SELECT doc_id, ROW_NUMBER() OVER (
            ORDER BY md5(concat(CAST(doc_id AS VARCHAR), ':7:2')), doc_id
        ) AS pos
        FROM documents
    )
    SELECT o1.pos AS pos,
           o1.doc_id AS doc_id_e1,
           o2.doc_id AS doc_id_e2
    FROM o1 JOIN o2 USING (pos)
    WHERE pos <= 10 ORDER BY pos
    """,
)
def pipeline_epoch_shuffle(spark, sf_dir):
    """Deterministic epoch reshuffle (operators/text.epoch_shuffle_key)
    — the training-loop requirement that every epoch visits the corpus
    in a different but REPRODUCIBLE pseudo-random order, independent of
    partitioning: md5(id:seed:epoch) totally orders the docs; the first
    ten positions of epochs 1 and 2 are emitted side by side and DuckDB
    recomputes both orders exactly (the e1/e2 columns differing in the
    data is the epochs-actually-reshuffle evidence)."""
    from pinot_spark.operators.text import epoch_shuffle_key

    t = load_tables(spark, sf_dir)
    docs = t["documents"].select("doc_id")

    def head10(epoch: int, out: str):
        # distributed top-k on the shuffle key (TakeOrderedAndProject —
        # never a global row_number window, whose SinglePartition
        # exchange would serialize the whole corpus through one task);
        # the row_number then ranks only the 10 survivors
        k = epoch_shuffle_key("doc_id", seed=7, epoch=epoch)
        top = (
            docs.select(F.col("doc_id").alias(out), k.alias("__k"))
            .orderBy("__k", out)
            .limit(10)
        )
        return top.withColumn(
            "pos", F.row_number().over(Window.orderBy("__k", out))
        ).drop("__k")

    return (
        head10(1, "doc_id_e1")
        .join(head10(2, "doc_id_e2"), "pos")
        .select("pos", "doc_id_e1", "doc_id_e2")
        .orderBy("pos")
    )


@query(
    "pipeline_shard_output",
    oracle="""
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_rows,
           CAST(8 AS BIGINT) AS n_shards,
           TRUE AS shards_all_nonempty,
           TRUE AS within_shard_sorted,
           TRUE AS boundaries_tile,
           (SELECT doc_id FROM documents
            ORDER BY md5(concat(CAST(doc_id AS VARCHAR), ':11:2')), doc_id
            LIMIT 1) AS first_doc_global_order
    """,
)
def pipeline_shard_output(spark, sf_dir):
    """Sharded training output (operators/text.shard_training_output —
    the writer stage of an epoch-reshuffled training pipeline):
    documents shard into 8 range partitions of the md5 epoch key with
    in-shard ordering.  Driver evidence: every shard is non-empty and
    internally sorted, shard key-ranges TILE (max key of shard i <
    min key of shard i+1 — range partitioning, not hash), no row is
    lost, and the first row of shard 0 is exactly the first document
    of the (seed=11, epoch=2) global order, which DuckDB recomputes
    from the md5 formula.  Scale shape: ONE range shuffle; per-shard
    stats aggregate distributedly (groupBy on spark_partition_id), no
    driver-side collect of data rows."""
    from pinot_spark.operators.text import shard_training_output

    t = load_tables(spark, sf_dir)
    n_shards = 8
    sharded = shard_training_output(
        t["documents"].select("doc_id"), "doc_id", n_shards,
        seed=11, epoch=2,
    )
    w = Window.partitionBy("__pid").orderBy("__pos")
    per_row = (
        sharded.withColumn("__pid", F.spark_partition_id())
        .withColumn(
            "__pos",
            F.monotonically_increasing_id(),  # ascends within partition
        )
        .withColumn("__prev", F.lag("__shard_key").over(w))
    )
    stats = (
        per_row.groupBy("__pid")
        .agg(
            F.count("*").alias("cnt"),
            F.min("__shard_key").alias("kmin"),
            F.max("__shard_key").alias("kmax"),
            F.min_by("doc_id", "__pos").alias("first_doc"),
            F.sum(
                F.when(
                    F.col("__prev").isNotNull()
                    & (F.col("__prev") > F.col("__shard_key")),
                    1,
                ).otherwise(0)
            ).alias("inversions"),
        )
        .orderBy("__pid")
        .collect()
    )
    n_rows = sum(r["cnt"] for r in stats)
    nonempty = len(stats) == n_shards and all(r["cnt"] > 0 for r in stats)
    sorted_ok = all(r["inversions"] == 0 for r in stats)
    tile_ok = all(
        stats[i]["kmax"] < stats[i + 1]["kmin"]
        for i in range(len(stats) - 1)
    )
    first_doc = stats[0]["first_doc"] if stats else None
    return spark.createDataFrame(
        [(
            n_rows, len(stats), nonempty, sorted_ok, tile_ok,
            int(first_doc),
        )],
        "n_rows bigint, n_shards bigint, shards_all_nonempty boolean, "
        "within_shard_sorted boolean, boundaries_tile boolean, "
        "first_doc_global_order bigint",
    )


@query(
    "text_gopher_c4_filters",
    oracle="""
    WITH base AS (
        SELECT lang, text, lower(text) AS lc,
               list_filter(string_split_regex(text, '\\s+'),
                           w -> w <> '') AS words,
               list_filter(string_split(text, chr(10)),
                           l -> trim(l) <> '') AS lines
        FROM documents
    ),
    m AS (
        SELECT lang,
               len(words) AS n_words,
               CASE WHEN len(words) > 0 THEN
                   list_reduce(list_transform(words,
                                              w -> CAST(len(w) AS DOUBLE)),
                               (x, y) -> x + y) / len(words)
               ELSE 0.0 END AS mean_len,
               CASE WHEN len(words) > 0 THEN
                   CAST(len(list_filter(words,
                            w -> regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
                   / len(words)
               ELSE 0.0 END AS frac_alpha,
               CASE WHEN len(words) > 0 THEN
                   ((len(text) - len(replace(text, '#', '')))
                    + (len(text) - len(replace(text, '…', '')))
                    + (len(text) - len(replace(text, '...', ''))) / 3)
                   / CAST(len(words) AS DOUBLE)
               ELSE 0.0 END AS symbol_ratio,
               CASE WHEN len(lines) > 0 THEN
                   CAST(len(list_filter(lines,
                            l -> regexp_matches(trim(l), '^[•\\-\\*]')))
                        AS DOUBLE) / len(lines)
               ELSE 0.0 END AS bullet_frac,
               CASE WHEN len(lines) > 0 THEN
                   CAST(len(list_filter(lines,
                            l -> regexp_matches(rtrim(l),
                                                '(…|\\.\\.\\.)$')))
                        AS DOUBLE) / len(lines)
               ELSE 0.0 END AS ellipsis_frac,
               NOT contains(lc, '{') AS no_curly,
               NOT contains(lc, 'lorem ipsum') AS no_lorem,
               NOT contains(lc, 'javascript') AS no_js
        FROM base
    ),
    f AS (
        SELECT lang,
               (n_words BETWEEN 50 AND 100000) AS wc_ok,
               (mean_len BETWEEN 3.0 AND 10.0) AS mwl_ok,
               (frac_alpha >= 0.8) AS alpha_ok,
               (symbol_ratio <= 0.1) AS sym_ok,
               (bullet_frac <= 0.9) AS bullet_ok,
               (ellipsis_frac <= 0.3) AS ellipsis_ok,
               no_curly, no_lorem, no_js,
               round(mean_len, 4) AS mwl
        FROM m
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN wc_ok AND mwl_ok AND alpha_ok AND sym_ok
                          AND bullet_ok AND ellipsis_ok
                          AND no_curly AND no_lorem AND no_js
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(sum(CASE WHEN wc_ok THEN 1 ELSE 0 END) AS BIGINT)
               AS n_word_count_ok,
           CAST(sum(CASE WHEN alpha_ok THEN 1 ELSE 0 END) AS BIGINT)
               AS n_alpha_ok,
           round(sum(CAST(mwl AS DECIMAL(38,12))), 2)::DOUBLE
               AS sum_mean_word_len
    FROM f GROUP BY lang ORDER BY lang
    """,
)
def text_gopher_c4_filters(spark, sf_dir):
    """The Gopher + C4 published quality-rule set over documents
    (operators/text.gopher_c4_flags — the gopher_quality_filter /
    c4_quality_filter stage of fineweb/Dolma-class pipelines): word
    count and mean-word-length bands, alphabetic-word fraction,
    symbol-to-word ratio, bullet/ellipsis line fractions, and the C4
    curly-brace / lorem-ipsum / javascript cuts — all JVM Column
    expressions over one split, mirrored rule-for-rule (all NINE rules,
    including the two line-fraction rules) in DuckDB, so a fixture row
    whose single line starts with a bullet or ends with an ellipsis
    diverges loudly instead of silently; the emitted per-lang keep and
    rule counts pin everything exactly."""
    from pinot_spark.operators.text import gopher_c4_flags

    t = load_tables(spark, sf_dir)
    flagged = gopher_c4_flags(t["documents"], "text")
    return (
        flagged.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("qf_keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_keep"),
            F.sum(F.when(F.col("qf_word_count_ok"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_word_count_ok"),
            F.sum(F.when(F.col("qf_alpha_words_ok"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_alpha_ok"),
            F.round(
                F.sum(F.col("qf_mean_word_len").cast("decimal(38,12)")), 2
            )
            .cast("double")
            .alias("sum_mean_word_len"),
        )
        .orderBy("lang")
    )


@query(
    "multimodal_video_mjpeg_avi",
    oracle="""
    WITH samples(sample_idx, t_ms, frame_idx) AS (
        VALUES (0, 0, 0), (1, 250, 2), (2, 500, 5)
    )
    SELECT concat('avi', CAST(m AS VARCHAR)) AS media_id,
           CAST(sample_idx AS INT) AS sample_idx,
           CAST(t_ms AS INT) AS t_ms,
           CAST(frame_idx AS INT) AS frame_idx,
           CAST(768 AS INT) AS n_pixels,
           CAST(768 * (82 + (m*53 + frame_idx*29) % 174) AS BIGINT)
               AS sum_r,
           CAST(768 * (82 + (m*53 + frame_idx*29) % 174) AS BIGINT)
               AS sum_g,
           CAST(768 * (82 + (m*53 + frame_idx*29) % 174) AS BIGINT)
               AS sum_b,
           'ok' AS decode_ok
    FROM range(3) t(m) CROSS JOIN samples
    ORDER BY media_id, sample_idx
    """,
)
def multimodal_video_mjpeg_avi(spark, sf_dir):
    """REAL-WORLD video container (r16 verdict item #4): MJPEG-in-AVI
    through the multimodal Arrow path (functions/avicodec.py +
    operators/multimodal.video_frame_sample_decode).  Three AVIs — six
    32x24 constant-gray frames each, gray levels from an exact integer
    formula confined to [82, 255] where baseline JPEG q100 roundtrips
    constant blocks EXACTLY (pinned in tests/test_jpegcodec.py), at
    10 fps — are encoded to real RIFF/AVI MJPEG worker-side (one
    complete baseline JPEG per 00dc chunk), decoded back through the
    container reader + JPEG decoder, and timeline-sampled every
    250 ms.  The DuckDB oracle recomputes every channel sum from the
    gray formula and the closed-form frame-at-time mapping (100 ms
    frames put samples 0/250/500 ms on frames 0/2/5), so the AVI
    chunk walk, stream-header fps math, JPEG roundtrip and sampling
    must all be value-exact.  Container structure is independently
    hand-parse-pinned in tests/test_avicodec.py.

    Scale shape: synthesis and decode live in mapInPandas batches;
    only per-sample stat rows leave the worker (1 presentation
    exchange)."""
    from pinot_spark.operators.multimodal import video_frame_sample_decode

    ids = spark.createDataFrame(
        [(f"avi{m}", m) for m in range(3)], "media_id string, m int"
    )

    def synth(batches):
        import numpy as np
        import pandas as pd

        from pinot_spark.functions.avicodec import encode_avi_mjpeg

        for pdf in batches:
            payloads = []
            for m in pdf["m"]:
                frames = [
                    np.full(
                        (24, 32, 3),
                        82 + (m * 53 + f * 29) % 174,
                        np.uint8,
                    )
                    for f in range(6)
                ]
                payloads.append(
                    bytearray(
                        encode_avi_mjpeg(frames, fps_num=10, quality=100)
                    )
                )
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = ids.mapInPandas(synth, "media_id string, payload binary")
    return (
        video_frame_sample_decode(media, every_ms=250)
        .orderBy("media_id", "sample_idx")
    )


def _adpcm_driver_signal(m: int) -> "np.ndarray":
    """Deterministic integer triangle waves (no float trig — bit-exact
    on every platform): period 100+7m samples, slope ~120/sample,
    per-channel phase offset."""
    import numpy as np

    i = np.arange(2000, dtype=np.int64)
    period = 100 + 7 * m
    chans = []
    for c in (0, 1):
        phase = (i + 31 * c + 13 * m) % period
        tri = np.abs(phase - period // 2) * (6000 // (period // 2)) - 3000
        chans.append(tri)
    return np.stack(chans, axis=1).astype(np.int16)


@query(
    "multimodal_audio_adpcm",
    oracle="""
    SELECT media_id, channel, window_idx, n_samples, sum_abs, peak,
           zero_crossings, 'ok' AS decode_ok
    FROM (VALUES
        ('adp0', 0, 0, 1000, CAST(1501306 AS BIGINT), 3004, 20),
        ('adp0', 0, 1, 1000, CAST(1500312 AS BIGINT), 3014, 20),
        ('adp0', 1, 0, 1000, CAST(1499562 AS BIGINT), 3009, 20),
        ('adp0', 1, 1, 1000, CAST(1500207 AS BIGINT), 3009, 20),
        ('adp1', 0, 0, 1000, CAST(1498032 AS BIGINT), 3017, 19),
        ('adp1', 0, 1, 1000, CAST(1508008 AS BIGINT), 3013, 19),
        ('adp1', 1, 0, 1000, CAST(1518744 AS BIGINT), 3017, 19),
        ('adp1', 1, 1, 1000, CAST(1523577 AS BIGINT), 3017, 18)
    ) AS t(media_id, channel, window_idx, n_samples, sum_abs, peak,
           zero_crossings)
    ORDER BY media_id, channel, window_idx
    """,
)
def multimodal_audio_adpcm(spark, sf_dir):
    """COMPRESSED real-world audio (r16 verdict item #4): IMA/DVI
    ADPCM WAV (format tag 0x11) through the multimodal Arrow path
    (functions/wavcodec.py + operators/multimodal.audio_features).
    Two stereo integer-triangle signals are ADPCM-encoded worker-side
    (block-aligned IMA WAV layout with fact-chunk trimming), decoded
    back, and hop-windowed into exact integer stats.  ADPCM is LOSSY,
    so the oracle pins the decoded stats as literals — resting on the
    codec's independent ground truth: the nibble expansion is
    cross-validated whole-array against CPython's audioop C
    implementation (digest-pinned for 3.13) in
    tests/test_wavcodec.py, and a wrong step-table entry or index
    clamp desynchronizes the predictor and every sum moves.

    Scale shape: encode + decode + window fan-out all inside
    mapInPandas batches (block-vectorized decode — the sample loop is
    sequential per ADPCM's spec, but all blocks step in numpy
    lockstep); only stat rows leave the worker."""
    from pinot_spark.operators.multimodal import audio_features

    ids = spark.createDataFrame(
        [(f"adp{m}", m) for m in range(2)], "media_id string, m int"
    )

    def synth(batches):
        import pandas as pd

        from pinot_spark.functions.wavcodec import encode_wav_ima_adpcm

        for pdf in batches:
            payloads = [
                bytearray(
                    encode_wav_ima_adpcm(_adpcm_driver_signal(m), 8000)
                )
                for m in pdf["m"]
            ]
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = ids.mapInPandas(synth, "media_id string, payload binary")
    return (
        audio_features(media, window_ms=125)
        .orderBy("media_id", "channel", "window_idx")
    )


@query(
    "multimodal_av_demux_audio",
    oracle="""
    WITH grid AS (
        SELECT m, c, w FROM range(2) t1(m)
        CROSS JOIN range(2) t2(c) CROSS JOIN range(2) t3(w)
    ),
    segs AS (
        SELECT m, c, w,
               list_transform(range(1000), i ->
                   ((m*4871 + (w*1000 + i)*75979 + c*24593) % 65521)
                   - 32760) AS s
        FROM grid
    )
    SELECT concat('av', CAST(m AS VARCHAR)) AS media_id,
           CAST(c AS INT) AS channel,
           CAST(w AS INT) AS window_idx,
           CAST(1000 AS INT) AS n_samples,
           CAST(list_sum(list_transform(s, x -> abs(x))) AS BIGINT)
               AS sum_abs,
           CAST(list_max(list_transform(s, x -> abs(x))) AS INT) AS peak,
           CAST(list_sum(list_transform(range(999), i ->
               CASE WHEN (s[i+2] >= 0) <> (s[i+1] >= 0)
                    THEN 1 ELSE 0 END)) AS INT) AS zero_crossings,
           'ok' AS decode_ok
    FROM segs ORDER BY media_id, channel, window_idx
    """,
)
def multimodal_av_demux_audio(spark, sf_dir):
    """A/V DEMUX (round 17): the audio TRACK of an MJPEG AVI decodes
    through the multimodal Arrow path — two AVIs are muxed worker-side
    (functions/avicodec.encode_avi_mjpeg: four MJPEG frames + a PCM16
    stereo 'auds' stream whose 01wb chunks interleave per video
    frame), then operators/multimodal.audio_features dispatches on the
    RIFF/AVI magic and demuxes the audio stream
    (avicodec.decode_avi_audio, the shared WAVEFORMATEX dispatch).
    PCM16 is LOSSLESS, so the DuckDB oracle recomputes every window
    stat from the generating integer formula — the mux, the chunk
    interleave/reassembly and the window fan-out must all be
    value-transparent.  Container structure and stream isolation are
    independently pinned in tests/test_avicodec.py.

    Scale shape: mux + demux + window fan-out all inside mapInPandas
    batches; only stat rows leave the worker."""
    from pinot_spark.operators.multimodal import audio_features

    ids = spark.createDataFrame(
        [(f"av{m}", m) for m in range(2)], "media_id string, m int"
    )

    def synth(batches):
        import numpy as np
        import pandas as pd

        from pinot_spark.functions.avicodec import encode_avi_mjpeg

        for pdf in batches:
            payloads = []
            for m in pdf["m"]:
                i = np.arange(2000, dtype=np.int64)
                aud = np.stack(
                    [
                        ((m * 4871 + i * 75979 + c * 24593) % 65521)
                        - 32760
                        for c in (0, 1)
                    ],
                    axis=1,
                ).astype(np.int16)
                frames = [
                    np.full((16, 16, 3), 90 + 30 * f, np.uint8)
                    for f in range(4)
                ]
                payloads.append(
                    bytearray(
                        encode_avi_mjpeg(
                            frames, fps_num=10, quality=100,
                            audio=aud, audio_rate=8000,
                        )
                    )
                )
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = ids.mapInPandas(synth, "media_id string, payload binary")
    return (
        audio_features(media, window_ms=125)
        .orderBy("media_id", "channel", "window_idx")
    )
