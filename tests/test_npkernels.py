"""Bit-for-bit equivalence of the numpy kernels (functions/npkernels.py)
against the portable SQL builders evaluated on DuckDB — the same oracle
engine the driver gate uses, and one the gates already prove agrees with
Spark's interpreted HOF evaluation. Integer kernels must match exactly;
double kernels (left-fold dots/norms) must match to the BIT (== on float64),
not approximately, because downstream round()+hash comparisons have no
tolerance."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest

from pdf_extractor_scripts_spark.functions import npkernels as npk
from pdf_extractor_scripts_spark.functions.portable import (
    MINHASH_PARAMS,
    fingerprint_sql,
    minhash_sql,
    shingle_hashes_sql,
    simhash_sql,
)

TEXTS = [
    "",
    "a",
    "ab",
    "abc",
    "abcd",
    "   ",
    "the quick brown fox jumps over the lazy dog 42 times, $3.50 each",
    "héllo wörld ☃ unicode 你好",
    "aaaaaaa bbbb  ccc\nnewline\tand tab",
    "x" * 500,
]
random.seed(7)
TEXTS += [
    "".join(random.choice("abcdefghij klmnop 0123456789.,$") for _ in range(n))
    for n in (3, 17, 100, 333)
]


@pytest.fixture(scope="module")
def duck():
    import duckdb

    return duckdb.connect()


def _duck_rows(duck, select_body: str):
    vals = ", ".join(f"({i}, ?)" for i in range(len(TEXTS)))
    q = f"SELECT {select_body} FROM (VALUES {vals}) t(i, text) ORDER BY i"
    return duck.execute(q, TEXTS).fetchall()


def test_shingle_hashes_match_duckdb(duck):
    rows = _duck_rows(duck, shingle_hashes_sql("text", "duckdb"))
    for (got,), text in zip(rows, TEXTS):
        assert list(npk.shingle_hashes(text)) == list(got), text[:40]


def test_minhash_signature_matches_duckdb(duck):
    exprs = minhash_sql("text", "duckdb", k=16)
    rows = _duck_rows(duck, ", ".join(exprs))
    for got, text in zip(rows, TEXTS):
        h = npk.shingle_hashes(text)
        if h.size == 0:
            continue  # SQL callers filter length(text) >= 3 first
        assert list(npk.minhash_signature(h, 16)) == list(got), text[:40]


def test_minhash_narrow_k(duck):
    exprs = minhash_sql("text", "duckdb", k=8)
    rows = _duck_rows(duck, ", ".join(exprs))
    for got, text in zip(rows, TEXTS):
        h = npk.shingle_hashes(text)
        if h.size:
            assert list(npk.minhash_signature(h, 8)) == list(got)


def test_simhash_matches_duckdb(duck):
    rows = _duck_rows(duck, simhash_sql("text", "duckdb"))
    for (got,), text in zip(rows, TEXTS):
        h = npk.shingle_hashes(text)
        if h.size:
            assert npk.simhash(h) == got, text[:40]


def test_fingerprint_matches_duckdb(duck):
    rows = _duck_rows(duck, fingerprint_sql("text", "duckdb"))
    for (got,), text in zip(rows, TEXTS):
        assert npk.fingerprint(text) == got, text[:40]


# --------------------------------------------------------------------------
# Embedding kernels: left-fold doubles must be IEEE-exact vs the SQL fold
# --------------------------------------------------------------------------
def _vectors(n: int, d: int) -> list[list[float]]:
    rng = random.Random(13)
    out = []
    for _ in range(n):
        # float32-valued, like the embeddings table
        out.append([float(np.float32(rng.gauss(0, 0.2))) for _ in range(d)])
    return out


def test_leftfold_norm_bit_exact_vs_duckdb(duck):
    from pdf_extractor_scripts_spark.plans.dedup import _emb_cte

    vecs = _vectors(50, 64)
    import pyarrow as pa

    duck.register(
        "embeddings",
        pa.table(
            {
                "vec_id": list(range(len(vecs))),
                "label": [0] * len(vecs),
                "embedding": pa.array(vecs, type=pa.list_(pa.float32())),
            }
        ),
    )
    rows = duck.execute(
        f"WITH {_emb_cte('duckdb')} SELECT nrm FROM e ORDER BY vec_id"
    ).fetchall()
    m = npk.list_to_matrix(pa.array(vecs, type=pa.list_(pa.float32())))
    got = npk.leftfold_norm(m)
    for (want,), g in zip(rows, got):
        assert g == want, (g, want)  # bit-exact, no tolerance
    duck.unregister("embeddings")


def test_signlsh_buckets_bit_exact_vs_duckdb(duck):
    from pdf_extractor_scripts_spark.plans.dedup import (
        SIGNLSH_BITS,
        SIGNLSH_TABLES,
        signlsh_bucket_sql,
    )
    import pyarrow as pa

    vecs = _vectors(50, 64)
    duck.register(
        "embeddings",
        pa.table({"embedding": pa.array(vecs, type=pa.list_(pa.float32()))}),
    )
    m = npk.list_to_matrix(pa.array(vecs, type=pa.list_(pa.float32())))
    for t in range(SIGNLSH_TABLES):
        rows = duck.execute(
            f"SELECT {signlsh_bucket_sql('duckdb', t)} FROM embeddings"
        ).fetchall()
        got = npk.signlsh_buckets(m, t, SIGNLSH_BITS)
        assert [int(x) for x in got] == [r[0] for r in rows]
    duck.unregister("embeddings")


def test_leftfold_dot_bit_exact_vs_duckdb(duck):
    from pdf_extractor_scripts_spark.plans.dedup import _dot
    import pyarrow as pa

    vecs = _vectors(40, 64)
    a, b = vecs[:20], vecs[20:]
    duck.register(
        "pairs",
        pa.table(
            {
                "ea": pa.array(a, type=pa.list_(pa.float32())),
                "eb": pa.array(b, type=pa.list_(pa.float32())),
            }
        ),
    )
    dot_sql = (
        _dot("duckdb", "pa", "pb")
        .replace("pa.embedding", "p.ea")
        .replace("pb.embedding", "p.eb")
    )
    rows = duck.execute(f"SELECT {dot_sql} FROM pairs p").fetchall()
    got = npk.leftfold_dot(
        npk.list_to_matrix(pa.array(a, type=pa.list_(pa.float32()))),
        npk.list_to_matrix(pa.array(b, type=pa.list_(pa.float32()))),
    )
    for (want,), g in zip(rows, got):
        assert g == want, (g, want)
    duck.unregister("pairs")


def test_batch_kernels_match_scalar_kernels():
    """The reduceat whole-batch kernels must agree exactly with the per-doc
    scalar kernels (which the DuckDB tests above pin to the oracle)."""
    shingleable = [t for t in TEXTS if len(t) >= 3]
    mb = npk.minhash_batch(shingleable, 16)
    sb = npk.simhash_batch(shingleable)
    for r, t in enumerate(shingleable):
        h = npk.shingle_hashes(t)
        assert list(mb[r]) == list(npk.minhash_signature(h, 16)), t[:40]
        assert int(sb[r]) == npk.simhash(h), t[:40]
    fb = npk.fingerprint_batch(TEXTS)
    for r, t in enumerate(TEXTS):
        assert int(fb[r]) == npk.fingerprint(t), t[:40]
    # narrow k + empty batch edges
    assert npk.minhash_batch([], 8).shape == (0, 8)
    assert npk.simhash_batch([]).size == 0
    assert npk.fingerprint_batch([]).size == 0
    m8 = npk.minhash_batch(shingleable, 8)
    for r, t in enumerate(shingleable):
        assert list(m8[r]) == list(npk.minhash_signature(npk.shingle_hashes(t), 8))


def test_batch_kernels_single_and_min_length_docs():
    one = ["abc"]
    assert list(npk.minhash_batch(one, 16)[0]) == list(
        npk.minhash_signature(npk.shingle_hashes("abc"), 16)
    )
    assert int(npk.simhash_batch(one)[0]) == npk.simhash(npk.shingle_hashes("abc"))
    mixed = ["", "x", "hello world"]
    fb = npk.fingerprint_batch(mixed)
    assert [int(v) for v in fb] == [npk.fingerprint(t) for t in mixed]


def test_leftfold_differs_from_pairwise_sum_sometimes():
    """Sanity check that the left-fold discipline is actually load-bearing:
    over many random vectors, np.dot/np.sum (pairwise) must disagree with
    the left fold on at least one vector at the bit level — otherwise this
    suite would not be guarding anything."""
    rng = np.random.default_rng(5)
    a = rng.normal(0, 0.2, size=(2000, 64)).astype(np.float32).astype(np.float64)
    fold = npk.leftfold_dot(a, a)
    pairwise = np.einsum("ij,ij->i", a, a)
    assert not np.array_equal(fold, pairwise)
