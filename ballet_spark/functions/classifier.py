"""Hashed-token Naive-Bayes document classifier — the fasttext-style
learned quality/domain gate (DCLM, CCNet, LLaMA data pipelines score
documents with a linear bag-of-ngrams classifier; multinomial NB over
hashed unigrams is the closed-form member of that family, fittable in
one distributed counting pass with no gradient loop).

Semantics chosen to be exactly SQL-replayable, mirroring the
char-bigram LM (functions/lm.py):

- **tokens** are ``trim(text)`` split on single spaces (both engines
  keep empty tokens — identical to ``string_split(trim(text), ' ')``).
- **feature hashing**: bucket = first 8 hex digits of md5(token) mod
  ``n_buckets`` — the same engine-portable formula as
  plans/splits.py::hash_bucket.
- **fit** (:func:`fit_nb_tokens`): one ``mapInPandas`` pass emits
  bounded per-batch partial (class, bucket) count matrices, one tiny
  ``groupBy`` merges them — a single small shuffle regardless of
  corpus size. Add-k-smoothed log-probs are quantized ONCE PER TABLE
  ENTRY to the 1e-6 microunit grid (shared floor(x·10^6+0.5) formula);
  class priors ride along at bucket = -1.
- **score** (:func:`score_nb_tokens`): the bounded table broadcasts
  into an Arrow kernel; each doc scores with an exact int64 microunit
  sum — identical under any partitioning, equal to the SQL oracle's
  per-token sum, and the predicted class falls out of an INTEGER
  comparison (no float boundary can flip it). Map-only: the corpus is
  never shuffled to be scored.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ballet_spark.session import local_frame

Q = 1_000_000  # microunit grid for log-probs (shared with functions/lm.py)


def _bucket(token: str, n_buckets: int) -> int:
    return int(hashlib.md5(token.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


# md5 is the exact-oracle contract (SQL md5(token)) so it cannot be
# replaced by a numpy hash — but natural text is Zipfian, so a
# distinct-token memo turns the per-token md5 into a dict hit for all
# but the first occurrence. Worker-lifetime cache, hard-capped.
_BUCKET_CACHE: dict = {}
_BUCKET_CACHE_MAX = 2_000_000


def _bucket_array(tokens: "np.ndarray", n_buckets: int) -> "np.ndarray":
    """Vectorized bucket lookup for a batch: md5 once per DISTINCT
    token (memoized across batches in the long-lived Python worker),
    then a numpy gather back to token positions."""
    uniq, inv = np.unique(tokens, return_inverse=True)
    ub = np.empty(len(uniq), dtype=np.int64)
    for i, tok in enumerate(uniq):
        key = (n_buckets, tok)
        b = _BUCKET_CACHE.get(key)
        if b is None:
            b = _bucket(tok, n_buckets)
            if len(_BUCKET_CACHE) < _BUCKET_CACHE_MAX:
                _BUCKET_CACHE[key] = b
        ub[i] = b
    return ub[inv]


def _tokens(text: str) -> list[str]:
    # identical to string_split(trim(text), ' '): trim spaces only,
    # split on single spaces, KEEP empty tokens from runs of spaces
    return text.strip(" ").split(" ")


def fit_nb_tokens(
    df: DataFrame,
    label_col: str,
    text_col: str = "text",
    n_buckets: int = 1024,
    add_k: float = 1.0,
) -> DataFrame:
    """Fit a binary multinomial NB over hashed word unigrams. The label
    column must be 0/1 (cast from boolean upstream). Returns the model
    as a DataFrame ``(cls int, bucket int, n long, logp_q long)`` with
    one row per (class, bucket) — EVERY bucket present (smoothing gives
    unseen buckets mass) — plus, at ``bucket = -1``, the class prior
    ``ln(docs_cls / docs_total)`` in microunits. NULL-text rows are
    excluded from the fit entirely (they score NULL downstream)."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            m = np.zeros((2, n_buckets), dtype=np.int64)
            docs = np.zeros(2, dtype=np.int64)
            cls_parts, tok_parts = [], []
            for t, y in zip(pdf[text_col], pdf[label_col]):
                # pd.isna, not `is None`: a nullable int label arrives
                # in the Arrow batch as a float column whose NULLs are
                # NaN, which `is None` misses (int(NaN) would raise)
                if pd.isna(t) or pd.isna(y):
                    continue
                c = int(y)
                docs[c] += 1
                toks = _tokens(t)
                cls_parts.append(np.full(len(toks), c, dtype=np.int64))
                tok_parts.append(np.array(toks, dtype=object))
            if tok_parts:
                cls_arr = np.concatenate(cls_parts)
                buckets = _bucket_array(np.concatenate(tok_parts), n_buckets)
                np.add.at(m, (cls_arr, buckets), 1)
            nz = np.nonzero(m.ravel())[0]
            out = pd.DataFrame({"idx": nz, "n": m.ravel()[nz]})
            # doc counts ride along at idx = 2*n_buckets + cls
            dz = np.nonzero(docs)[0]
            out = pd.concat(
                [out, pd.DataFrame({"idx": 2 * n_buckets + dz, "n": docs[dz]})],
                ignore_index=True,
            )
            yield out

    # guide §2/§4: spread a single-small-file corpus before the Arrow
    # count pass (no-op on real multi-split tables)
    from ballet_spark.cache import spread_small_input

    counts = (
        spread_small_input(
            df.select(
                F.col(text_col).alias(text_col),
                F.col(label_col).cast("int").alias(label_col),
            )
        )
        .mapInPandas(partials, "idx long, n long")
        .groupBy("idx")
        .agg(F.sum("n").alias("n"))
    )
    pdf = counts.toPandas()  # ≤ 2·n_buckets + 2 rows by construction
    m = np.zeros(2 * n_buckets + 2, dtype=np.int64)
    if len(pdf):
        m[pdf["idx"].to_numpy()] = pdf["n"].to_numpy()
    tok = m[: 2 * n_buckets].reshape(2, n_buckets)
    docs = m[2 * n_buckets :]
    row_n = tok.sum(axis=1, keepdims=True)
    p = (tok + add_k) / (row_n + add_k * n_buckets)
    logp_q = np.floor(np.log(p) * Q + 0.5).astype(np.int64)
    if docs.min() == 0:
        raise ValueError(
            "fit_nb_tokens needs at least one document of each class; "
            f"got per-class doc counts {docs.tolist()}"
        )
    n_total = int(docs.sum())
    prior_q = np.floor(np.log(docs / n_total) * Q + 0.5).astype(np.int64)

    cls_idx, b_idx = np.meshgrid(np.arange(2), np.arange(n_buckets), indexing="ij")
    out = pd.DataFrame(
        {
            "cls": np.concatenate([cls_idx.ravel(), [0, 1]]).astype(np.int32),
            "bucket": np.concatenate([b_idx.ravel(), [-1, -1]]).astype(np.int32),
            "n": np.concatenate([tok.ravel(), docs]),
            "logp_q": np.concatenate([logp_q.ravel(), prior_q]),
        }
    )
    return local_frame(
        df.sparkSession, out, "cls int, bucket int, n long, logp_q long"
    )


def score_nb_tokens(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    out_col: str = "nb",
) -> DataFrame:
    """Score every document under a fitted NB table. Adds
    ``{out_col}_logodds_q`` (int64 microunits: class-1 joint log-prob
    minus class-0, priors included — exact, partitioning-invariant),
    ``{out_col}_logodds`` (the same as a double: one IEEE division by
    10^6) and ``{out_col}_pred`` (integer sign test). NULL text scores
    NULL/NULL/NULL."""
    rows = model.select("cls", "bucket", "logp_q").collect()
    n_buckets = max(r["bucket"] for r in rows) + 1
    lp = np.zeros((2, n_buckets), dtype=np.int64)
    prior = np.zeros(2, dtype=np.int64)
    for r in rows:
        if r["bucket"] < 0:
            prior[r["cls"]] = r["logp_q"]
        else:
            lp[r["cls"], r["bucket"]] = r["logp_q"]
    diff = lp[1] - lp[0]
    pdiff = int(prior[1] - prior[0])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            lq: list = [None] * len(pdf)
            pos, tok_parts, n_toks = [], [], []
            for i, t in enumerate(pdf[text_col]):
                if pd.isna(t):
                    continue
                toks = _tokens(t)
                pos.append(i)
                tok_parts.append(np.array(toks, dtype=object))
                n_toks.append(len(toks))
            if pos:
                # one md5-memoized bucket gather for the whole batch,
                # per-doc exact int64 sums via add.reduceat — the
                # same whole-batch shape as the LM scorer
                buckets = _bucket_array(np.concatenate(tok_parts), n_buckets)
                lens = np.asarray(n_toks, dtype=np.int64)
                starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                sums = pdiff + np.add.reduceat(diff[buckets], starts)
                for i, s in zip(pos, sums):
                    lq[i] = int(s)
            out = pdf.copy()
            out[f"{out_col}_logodds_q"] = pd.array(lq, dtype="Int64")
            yield out

    from ballet_spark.cache import spread_small_input

    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    scored = spread_small_input(df).mapInPandas(
        kernel, f"{ddl}, {out_col}_logodds_q long"
    )
    return scored.withColumn(
        f"{out_col}_logodds", F.col(f"{out_col}_logodds_q") / F.lit(float(Q))
    ).withColumn(f"{out_col}_pred", F.col(f"{out_col}_logodds_q") > 0)


def nb_quality_filter(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    min_logodds: float = 0.0,
) -> DataFrame:
    """Gate documents by classifier log-odds — the learned quality
    filter: keep docs the model scores above ``min_logodds`` toward
    class 1. NULL-text rows score NULL and PASS THROUGH (emptiness is
    a different defect with its own gate)."""
    scored = score_nb_tokens(df, model, text_col)
    return scored.filter(
        (F.col("nb_logodds") >= min_logodds) | F.col("nb_logodds").isNull()
    )
