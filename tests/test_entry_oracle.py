"""Driver-contract harness: every queries() entry vs its oracle_sql()
DuckDB result — row count, column set, and order-insensitive values.
Mirrors the driver's CORRECTNESS gate so mismatches surface in pytest
first."""

import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

ORACLES = entrymod.oracle_sql()
QUERIES = entrymod.queries()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
        elif pd.api.types.is_float_dtype(pdf[c]):
            pdf[c] = pdf[c].round(6)
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)


def _compare(got: pd.DataFrame, exp: pd.DataFrame, name: str):
    assert sorted(got.columns) == sorted(exp.columns), (
        f"{name}: column mismatch {sorted(got.columns)} vs {sorted(exp.columns)}"
    )
    assert len(got) == len(exp), f"{name}: row count {len(got)} vs {len(exp)}"
    g, e = _canon(got), _canon(exp)
    for c in g.columns:
        gv, ev = g[c], e[c]
        if pd.api.types.is_float_dtype(gv) or pd.api.types.is_float_dtype(ev):
            ok = np.allclose(
                gv.astype(float).to_numpy(),
                ev.astype(float).to_numpy(),
                equal_nan=True,
                atol=1e-6,
            )
        else:
            ok = (gv.fillna("∅").to_numpy() == ev.fillna("∅").to_numpy()).all()
        assert ok, f"{name}.{c}: value mismatch\n{g.head()}\n{e.head()}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.columns) >= 3


@pytest.mark.parametrize("name", sorted(QUERIES.keys()))
def test_query_vs_oracle(spark, ddb, name):
    got = QUERIES[name](spark, SF_DIR).toPandas()
    if name not in ORACLES:
        # rows-only check, like the driver's weak path
        assert got is not None
        return
    exp = ddb.sql(ORACLES[name]).df()
    _compare(got, exp, name)


def test_curation_v2_leaves_no_persisted_rdds(spark):
    """Every persist curation_pipeline_v2 makes is registered, so
    release_caches(None) frees them all once the caller is done."""
    from ballet_spark.cache import release_caches

    release_caches(None)  # an earlier run of the leaf may still be cached
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    assert QUERIES["curation_pipeline_v2"](spark, SF_DIR).count() > 0
    assert set(jsc.getPersistentRDDs().keySet()) - before
    release_caches(None)
    assert set(jsc.getPersistentRDDs().keySet()) <= before


def test_minhash_recall_against_exact(spark):
    """minhash_lsh_dups (no SQL oracle) must reproduce the exact
    ngram-jaccard pair set at its threshold (recall ≈ 1 by band math)."""
    from ballet_spark.operators.dedup import ngram_jaccard_pairs

    got = (
        QUERIES["minhash_lsh_dups"](spark, SF_DIR)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    exact = (
        ngram_jaccard_pairs(docs, threshold=0.8, n=3)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exact)
    assert (got["id_a"].to_numpy() == exact["id_a"].to_numpy()).all()
    assert (got["id_b"].to_numpy() == exact["id_b"].to_numpy()).all()


def test_minhash_finds_planted_neardups(spark):
    """Plant mutated copies of real documents; MinHash+LSH must find
    exactly the exact-Jaccard pair set ≥ 0.8 — a non-vacuous recall
    check (the driver corpus has no natural near-dups)."""
    from pyspark.sql import functions as F

    from ballet_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        F.col("doc_id") < 40
    )
    pdf = docs.select("doc_id", "text").toPandas()
    planted = pdf.copy()
    planted["doc_id"] = planted["doc_id"] + 100000
    # mutate lightly: drop the last two words (high Jaccard survives)
    planted["text"] = planted["text"].map(lambda t: " ".join(t.split()[:-2]))
    both = spark.createDataFrame(pd.concat([pdf, planted], ignore_index=True))

    got = (
        minhash_lsh_pairs(both, num_hashes=64, bands=16, threshold=0.8, shingle_n=3)
        .select("id_a", "id_b")
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    exact = (
        ngram_jaccard_pairs(both, threshold=0.8, n=3)
        .select("id_a", "id_b")
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    assert len(exact) >= 30  # the plant worked
    pd.testing.assert_frame_equal(got, exact)
