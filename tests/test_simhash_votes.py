"""The Arrow SimHash vote kernel (operators/textops.py simhash_votes)
against the DuckDB signature oracles and a straight-Python reference
that votes a doc_id's rows together."""

from __future__ import annotations

import hashlib
import re

import duckdb
import pytest

from specialsid_spark.operators.textops import simhash_votes, tokens
from specialsid_spark.queries.dedup import (
    _simhash256_block_sigs,
    _simhash_block_sigs,
    _sql_simhash256_sigs,
    _sql_simhash_block_sigs,
)

# (digest, w, output columns) for the 64-, 128- and 256-bit signatures
_CONFIGS = {
    "w16": ("md5", 16, [f"blk{b}" for b in range(4)]),
    "w32": ("md5", 32, [f"blk{b}" for b in range(4)]),
    "sha256": ("sha256", 32, [f"blk{b}{hl}" for b in range(4) for hl in ("h", "l")]),
}

# doc 1 repeats with different text (and shares "gamma" across its
# rows), doc 2 is whitespace-only (Spark and DuckDB both tokenize it to
# [""]), doc 3 has NULL text, docs 4-5 carry non-ASCII tokens
_HAND_ROWS = [
    (1, "alpha beta gamma beta"),
    (1, "Gamma delta epsilon zeta eta"),
    (2, " \t "),
    (3, None),
    (4, "Naïve CAFÉ 東京 naïve straße"),
    (5, "ünïcödé  tokens\there"),
    (6, "alpha"),
]

_SPLIT = re.compile(r"\s+", re.ASCII)


def _spark_tokens(text: str) -> list[str]:
    # Spark's split(lower(trim(text)), '\s+'): trim strips spaces only,
    # and Java's \s is ASCII whitespace
    return _SPLIT.split(text.strip(" ").lower())


def _py_sigs(rows, digest: str, w: int, nblk: int) -> dict:
    toks: dict = {}
    for doc_id, text in rows:
        if text is not None:
            toks.setdefault(doc_id, []).extend(dict.fromkeys(_spark_tokens(text)))
    nbits = w * nblk
    out = {}
    for doc_id, ts in toks.items():
        votes = [0] * nbits
        for t in ts:
            h = getattr(hashlib, digest)(t.encode())
            v = int.from_bytes(h.digest(), "big") >> (8 * h.digest_size - nbits)
            for j in range(nbits):
                votes[j] += 1 if (v >> (nbits - 1 - j)) & 1 else -1
        out[doc_id] = tuple(
            sum(1 << (w - 1 - j) for j in range(w) if votes[b * w + j] >= 0)
            for b in range(nblk)
        )
    return out


def _collect(df, names) -> dict:
    rows = df.collect()
    assert len(rows) == len({r["doc_id"] for r in rows}), "one row per doc_id"
    return {r["doc_id"]: tuple(r[n] for n in names) for r in rows}


def _duck_sigs(con, ctes: str, names) -> dict:
    cols = ", ".join(names)
    return {
        r[0]: tuple(r[1:])
        for r in con.execute(f"WITH {ctes} SELECT doc_id, {cols} FROM sigs").fetchall()
    }


def test_kernel_matches_duckdb_oracles(spark, sf_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    cases = [
        (_simhash_block_sigs(spark, sf_dir, 16), _sql_simhash_block_sigs(16), "w16"),
        (_simhash_block_sigs(spark, sf_dir, 32), _sql_simhash_block_sigs(32), "w32"),
        (_simhash256_block_sigs(spark, sf_dir), _sql_simhash256_sigs(), "sha256"),
    ]
    for df, ctes, cfg in cases:
        names = _CONFIGS[cfg][2]
        got = _collect(df, names)
        assert len(got) > 100, cfg
        assert got == _duck_sigs(con, ctes, names), cfg


@pytest.mark.parametrize("cfg", sorted(_CONFIGS))
def test_kernel_hand_built_edge_cases(spark, cfg):
    digest, w, names = _CONFIGS[cfg]
    df = spark.createDataFrame(_HAND_ROWS, "doc_id long, text string")
    got = _collect(
        simhash_votes(df.select("doc_id", tokens("text").alias("toks")), digest, w, names),
        names,
    )
    ref = _py_sigs(_HAND_ROWS, digest, w, len(names))
    assert got == ref
    assert set(got) == {1, 2, 4, 5, 6}  # NULL text signs nothing
    # a per-row kernel would emit doc 1 twice, neither row equal to the
    # grouped vote — so this fixture rejects one
    for row in (r for r in _HAND_ROWS if r[0] == 1):
        assert _py_sigs([row], digest, w, len(names))[1] != got[1]
    # the DuckDB oracle signs per row; on the unrepeated docs it agrees
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", _HAND_ROWS)
    ctes = _sql_simhash256_sigs() if digest == "sha256" else _sql_simhash_block_sigs(w)
    duck = _duck_sigs(con, ctes, names)
    assert {k: v for k, v in got.items() if k != 1} == {
        k: v for k, v in duck.items() if k != 1
    }


def test_kernel_slices_large_batches(spark):
    # more docs than one vote slice, all in one Arrow batch
    rows = [(i, f"tok{i % 97} tok{i % 13} w{i % 7} shared") for i in range(2600)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try:
        got = _collect(
            simhash_votes(
                df.select("doc_id", tokens("text").alias("toks")), "md5", 16, ["a", "b", "c", "d"]
            ),
            ["a", "b", "c", "d"],
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert got == _py_sigs(rows, "md5", 16, 4)
