"""IVF-PQ (inverted-file + residual product-quantization) vector index.

Reference semantics: pinot-segment-local/.../vector/IvfPqVectorIndexCreator.java
(two-pass build: bounded training sample -> coarse k-means centroids ->
residual PQ codebooks -> stream-encode every vector),
ProductQuantizer.java (per-subvector k-means over residuals, seed
``seed + m*31 + 17``; greedy nearest-code encode; asymmetric L2 distance
tables) and IvfPqVectorIndexReader.java (probe the ``nprobe`` nearest
coarse centroids, score candidates with ADC table lookups, optional
exact rerank).  VectorQuantizationUtils.java: subvector lengths are
``dim/m`` with the remainder spread over the first subvectors, and the
COSINE distance transform normalizes vectors up front.

Spark-first shape:
- Training is driver-side over a BOUNDED deterministic sample (the
  reference trains from a reservoir capped at trainSampleSize — heap is
  O(sample x dim), never O(rows x dim)).
- Encoding is one distributed mapInPandas pass with the tiny model
  (nlist x dim centroids + m x 2^nbits x dim/m codebooks) shipped in the
  closure — vectorized numpy nearest-centroid/nearest-code, no shuffle.
  Codes are ``pq_m`` bytes per vector: the 8-32x compression that keeps
  a 100 TB embedding corpus scannable.
- A persisted index is the encoded table written
  ``partitionBy(bucket)`` + a JSON model sidecar, so a probe prunes
  non-probed buckets at the parquet scan (the IVF inverted lists).
- Query scoring is ADC: per-probe lookup tables built once on the
  driver (m x 2^nbits floats), candidates scored by table-sum in one
  mapInPandas, global top-k via orderBy+limit (TakeOrderedAndProject).
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def subvector_lengths(dim: int, m: int) -> list[int]:
    """dim/m with the remainder spread over the first subvectors
    (VectorQuantizationUtils.computeSubvectorLengths)."""
    if not 0 < m <= dim:
        raise ValueError(f"pq_m must be in [1, dim], got m={m} dim={dim}")
    base, rem = divmod(dim, m)
    return [base + (1 if i < rem else 0) for i in range(m)]


def _kmeans(samples: np.ndarray, k: int, seed: int, iterations: int = 10) -> np.ndarray:
    """Lloyd k-means with seeded init (KMeansTrainer.java semantics:
    deterministic for a fixed seed; empty clusters keep their previous
    centroid).  Engine-own implementation — no reference code."""
    n = len(samples)
    k = min(k, n)
    rng = np.random.default_rng(seed)
    cents = samples[rng.choice(n, size=k, replace=False)].astype(np.float64).copy()
    for _ in range(iterations):
        d2 = ((samples[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = samples[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


@dataclass
class IvfPqModel:
    """The trained quantizer: tiny (nlist*dim + m*2^nbits*dim floats),
    broadcast-able, JSON-serializable."""

    dim: int
    nlist: int
    pq_m: int
    pq_nbits: int
    distance: str  # "l2" | "dot" | "cosine"
    centroids: list[list[float]]
    codebooks: list[list[list[float]]]  # [m][code][sub_dim]
    lengths: list[int] = field(default_factory=list)

    def to_json(self) -> str:
        return json.dumps(self.__dict__)

    @classmethod
    def from_json(cls, s: str) -> "IvfPqModel":
        return cls(**json.loads(s))

    def _np(self):
        cents = np.asarray(self.centroids, dtype=np.float64)
        books = [np.asarray(b, dtype=np.float64) for b in self.codebooks]
        offs = np.cumsum([0] + self.lengths)
        return cents, books, offs


def _transform(vecs: np.ndarray, distance: str) -> np.ndarray:
    """COSINE normalizes up front (transformForDistance); L2/dot pass
    through.  Zero vectors stay zero."""
    if distance != "cosine":
        return vecs
    norms = np.linalg.norm(vecs, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return vecs / norms


def train_ivfpq(
    sample: np.ndarray,
    nlist: int,
    pq_m: int,
    pq_nbits: int = 8,
    seed: int = 7,
    distance: str = "l2",
) -> IvfPqModel:
    """Train coarse centroids then residual PQ codebooks from a bounded
    sample (IvfPqVectorIndexCreator.seal phase 1).  pq_nbits in
    {4, 6, 8} like the reference (codes are stored one byte per
    subvector regardless)."""
    if pq_nbits not in (4, 6, 8):
        raise ValueError(f"pq_nbits must be 4, 6 or 8, got {pq_nbits}")
    dim = sample.shape[1]
    lengths = subvector_lengths(dim, pq_m)
    x = _transform(np.asarray(sample, dtype=np.float64), distance)
    cents = _kmeans(x, nlist, seed)
    # residuals of the sample w.r.t. their nearest centroid
    d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    residuals = x - cents[d2.argmin(axis=1)]
    books = []
    off = 0
    for m, sub_dim in enumerate(lengths):
        sub = residuals[:, off : off + sub_dim]
        # ProductQuantizer.train: per-subvector seed = seed + m*31 + 17
        books.append(_kmeans(sub, 1 << pq_nbits, seed + m * 31 + 17).tolist())
        off += sub_dim
    return IvfPqModel(
        dim=dim,
        nlist=len(cents),
        pq_m=pq_m,
        pq_nbits=pq_nbits,
        distance=distance,
        centroids=cents.tolist(),
        codebooks=books,
        lengths=lengths,
    )


def _encode_block(vecs: np.ndarray, model: IvfPqModel):
    """Vectorized assign + encode: (bucket[n], codes[n, m] uint8)."""
    cents, books, offs = model._np()
    x = _transform(vecs.astype(np.float64), model.distance)
    d2 = (
        (x * x).sum(axis=1, keepdims=True)
        - 2.0 * x @ cents.T
        + (cents * cents).sum(axis=1)[None, :]
    )
    bucket = d2.argmin(axis=1)
    residual = x - cents[bucket]
    codes = np.empty((len(x), model.pq_m), dtype=np.uint8)
    for m in range(model.pq_m):
        sub = residual[:, offs[m] : offs[m + 1]]
        book = books[m]
        sd2 = (
            (sub * sub).sum(axis=1, keepdims=True)
            - 2.0 * sub @ book.T
            + (book * book).sum(axis=1)[None, :]
        )
        codes[:, m] = sd2.argmin(axis=1)
    return bucket.astype(np.int32), codes


def ivfpq_encode(df: DataFrame, vec_col: str, model: IvfPqModel) -> DataFrame:
    """Distributed encode pass (seal phase 2): adds ``bucket`` int and
    ``pq_codes`` binary (pq_m bytes) columns.  One mapInPandas over the
    rows, model in the closure — no shuffle, no driver state."""
    model_json = model.to_json()
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", bucket int, pq_codes binary"

    def encode(batches):
        mdl = IvfPqModel.from_json(model_json)
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            bucket, codes = _encode_block(vecs, mdl)
            pdf = pdf.copy()
            pdf["bucket"] = bucket
            pdf["pq_codes"] = [c.tobytes() for c in codes]
            yield pdf

    return df.mapInPandas(encode, schema=out_schema)


def build_ivfpq_index(
    df: DataFrame,
    vec_col: str,
    path: str,
    nlist: int = 16,
    pq_m: int = 8,
    pq_nbits: int = 8,
    train_sample_size: int = 10_000,
    seed: int = 7,
    distance: str = "l2",
) -> IvfPqModel:
    """Persisted IVF-PQ index: train from a bounded sample, encode every
    row distributively, write ``partitionBy(bucket)`` with the model as
    a JSON sidecar — probes prune non-probed buckets at the scan."""
    sample = np.array(
        [
            np.asarray(r[0], dtype=np.float64)
            for r in df.select(vec_col).limit(train_sample_size).collect()
        ]
    )
    model = train_ivfpq(sample, nlist, pq_m, pq_nbits, seed, distance)
    encoded = ivfpq_encode(df, vec_col, model)
    encoded.write.mode("overwrite").partitionBy("bucket").parquet(path)
    # underscore prefix → Spark's file listing skips the sidecar; write
    # through the Hadoop FS API so HDFS/S3A index paths work too
    from pinot_spark.sources.fsutil import sidecar_path, write_text

    write_text(
        df.sparkSession, sidecar_path(path, "_ivfpq_model.json"), model.to_json()
    )
    return model


def _adc_tables(model: IvfPqModel, query: list[float], probes: list[int]):
    """Per-probe ADC lookup tables, built ONCE on the driver
    (IvfPqVectorIndexReader: L2 -> buildL2DistanceTables over the query
    residual; dot/cosine -> subvector dot tables plus centroid terms).
    Each table is m x 2^nbits floats — trivially broadcastable."""
    cents, books, offs = model._np()
    q = _transform(np.asarray([query], dtype=np.float64), model.distance)[0]
    out: dict[int, dict] = {}
    for p in probes:
        c = cents[p]
        if model.distance == "l2":
            qr = q - c
            tabs = []
            for m in range(model.pq_m):
                sub = qr[offs[m] : offs[m + 1]]
                tabs.append(((books[m] - sub) ** 2).sum(axis=1))
            out[p] = {"mode": "l2", "tabs": np.stack(tabs)}
        elif model.distance == "dot":
            tabs = [
                books[m] @ q[offs[m] : offs[m + 1]] for m in range(model.pq_m)
            ]
            out[p] = {"mode": "dot", "tabs": np.stack(tabs), "qc": float(q @ c)}
        else:  # cosine: approximate dot and reconstruction norm
            dot_tabs = np.stack(
                [books[m] @ q[offs[m] : offs[m + 1]] for m in range(model.pq_m)]
            )
            cr_tabs = np.stack(
                [books[m] @ c[offs[m] : offs[m + 1]] for m in range(model.pq_m)]
            )
            r2_tabs = np.stack([(books[m] ** 2).sum(axis=1) for m in range(model.pq_m)])
            out[p] = {
                "mode": "cosine",
                "dot_tabs": dot_tabs,
                "cr_tabs": cr_tabs,
                "r2_tabs": r2_tabs,
                "qc": float(q @ c),
                "c2": float(c @ c),
            }
    return out


def _score_codes(codes: np.ndarray, table: dict) -> np.ndarray:
    """ADC distance of an (n, m) uint8 code block against one probe's
    tables — pure table-lookup sums, no vector math per candidate."""
    m = codes.shape[1]
    rows = np.arange(m)
    if table["mode"] == "l2":
        return table["tabs"][rows, codes].sum(axis=1)
    if table["mode"] == "dot":
        return -(table["qc"] + table["tabs"][rows, codes].sum(axis=1))
    dot = table["qc"] + table["dot_tabs"][rows, codes].sum(axis=1)
    norm2 = (
        table["c2"]
        + 2.0 * table["cr_tabs"][rows, codes].sum(axis=1)
        + table["r2_tabs"][rows, codes].sum(axis=1)
    )
    norm = np.sqrt(np.maximum(norm2, 1e-30))
    return 1.0 - dot / norm  # query is unit-norm after _transform


def ivfpq_score(
    encoded: DataFrame,
    model: IvfPqModel,
    query_vec: list[float],
    nprobe: int = 4,
) -> DataFrame:
    """Probe the ``nprobe`` nearest coarse centroids and ADC-score their
    candidates: bucket filter (partition-prunable on a persisted index)
    -> one mapInPandas of table lookups -> ``distance`` double column."""
    cents, _, _ = model._np()
    q = _transform(np.asarray([query_vec], dtype=np.float64), model.distance)[0]
    order = np.argsort(((cents - q) ** 2).sum(axis=1), kind="stable")
    probes = [int(i) for i in order[: min(nprobe, len(cents))]]
    tables = _adc_tables(model, query_vec, probes)
    pruned = encoded.filter(F.col("bucket").isin(probes))
    fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in pruned.schema.fields
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.frombuffer(
                b"".join(pdf["pq_codes"]), dtype=np.uint8
            ).reshape(len(pdf), -1)
            dist = np.empty(len(pdf), dtype=np.float64)
            buckets = pdf["bucket"].to_numpy()
            for p in np.unique(buckets):
                mask = buckets == p
                dist[mask] = _score_codes(codes[mask], tables[int(p)])
            pdf = pdf.copy()
            pdf["distance"] = dist
            yield pdf

    return pruned.mapInPandas(score, schema=fields + ", distance double")


def topk_ivfpq(
    encoded: DataFrame,
    model: IvfPqModel,
    query_vec: list[float],
    id_col: str,
    k: int = 10,
    nprobe: int = 4,
    exact_rerank: bool = False,
    max_candidates: int = 100,
    vec_col: str | None = None,
) -> DataFrame:
    """Approximate top-k over an ivfpq_encode'd table.  With
    ``exact_rerank`` the ADC ranking narrows to ``max_candidates`` and
    the true distance (JVM zip_with on the retained raw vectors)
    re-sorts them — the reader's effectiveExactRerank path."""
    scored = ivfpq_score(encoded, model, query_vec, nprobe)
    if not exact_rerank:
        return scored.select(id_col, "distance").orderBy("distance", id_col).limit(k)
    if vec_col is None:
        raise ValueError("exact_rerank needs vec_col with the raw vectors")
    from pinot_spark.operators.similarity import cosine_distance, l2_distance

    cand = scored.orderBy("distance", id_col).limit(max_candidates)
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    exact = (
        l2_distance(vec_col, qlit)
        if model.distance == "l2"
        else (
            -F.aggregate(
                F.zip_with(F.col(vec_col), qlit, lambda a, b: a.cast("double") * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            if model.distance == "dot"
            else cosine_distance(vec_col, qlit)
        )
    )
    return (
        cand.withColumn("distance", exact.cast("double"))
        .select(id_col, "distance")
        .orderBy("distance", id_col)
        .limit(k)
    )


def topk_ivfpq_indexed(
    spark: SparkSession,
    index_path: str,
    query_vec: list[float],
    id_col: str,
    k: int = 10,
    nprobe: int = 4,
    **kw,
) -> DataFrame:
    """Query a build_ivfpq_index output: the bucket filter inside
    ivfpq_score lands on the PARTITION column, so non-probed inverted
    lists never reach the scan."""
    from pinot_spark.sources.fsutil import exists, read_parquet, read_text, sidecar_path

    side = sidecar_path(index_path, "_ivfpq_model.json")
    if not exists(spark, side):  # pre-r15 indexes used the bare name
        side = sidecar_path(index_path, "ivfpq_model.json")
    model = IvfPqModel.from_json(read_text(spark, side))
    df = read_parquet(spark, index_path)
    return topk_ivfpq(df, model, query_vec, id_col, k=k, nprobe=nprobe, **kw)
