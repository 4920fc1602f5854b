"""Output checks.  Every operation the benchmark times is checked here,
and a failed check counts against ``fail_ratio`` exactly like an error.

Batch queries are fingerprinted with tools/check_oracle.py's
``norm_rows``/``norm_cell`` and compared with the fingerprint of the
query's DuckDB ``oracle_sql()`` result on the same inputs.  The oracle
side is cached per input set and oracle text, so only the first run in a
checkout pays for DuckDB.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

from tools.check_oracle import norm_rows

_TABLES = "region nation customer supplier part orders lineitem events documents embeddings"


def _no_nan(v):
    """``toPandas`` cannot tell NULL from NaN in a double column, so both
    sides map NaN to NULL before ``norm_cell`` sees them."""
    return None if isinstance(v, float) and math.isnan(v) else v


def spark_rows(schema, pdf) -> list[tuple]:
    """Python values of a ``toPandas`` result, typed as ``collect()`` would
    give them, so ``norm_cell`` renders both engines alike."""
    from pyspark.sql import types as T

    cols = []
    for i, field in enumerate(schema.fields):
        values = pdf.iloc[:, i].tolist()
        t = field.dataType
        if isinstance(t, T.IntegralType):
            conv = int
        elif isinstance(t, T.BooleanType):
            conv = bool
        elif isinstance(t, (T.TimestampType, T.TimestampNTZType)):
            conv = lambda v: v.to_pydatetime()  # noqa: E731
        elif isinstance(t, T.BinaryType):
            conv = bytes
        else:
            conv = None
        # NaN and NaT compare unequal to themselves: both are NULLs here
        cols.append([None if v is None or v != v else conv(v) if conv else v for v in values])
    return list(zip(*cols)) if cols else []


def digest(cols: list[str], rows: list[tuple]) -> str:
    rows = [tuple(_no_nan(v) for v in r) for r in rows]
    body = json.dumps(norm_rows(cols, rows))
    return f"{len(rows)}:{hashlib.sha256(body.encode()).hexdigest()}"


class Checker:
    """Compares results with their references."""

    def __init__(self, cache_dir: str):
        self.cache_dir = cache_dir

    def oracle_digest(self, input_tag: str, sf_dir: str, name: str, sql: str) -> str:
        key = hashlib.sha256(f"{input_tag}\n{sql}".encode()).hexdigest()[:16]
        path = os.path.join(self.cache_dir, input_tag, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)["digest"]
        import duckdb

        con = duckdb.connect()
        try:
            con.execute("SET threads TO 4")
            for t in _TABLES.split():
                p = os.path.join(sf_dir, f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            value = digest(cols, res.fetchall())
        finally:
            con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump({"query": name, "digest": value}, fh)
        os.replace(tmp, path)
        return value

    def compare_query(self, input_tag, sf_dir, name, sql, schema, pdf) -> tuple[bool, str]:
        got = digest(list(schema.names), spark_rows(schema, pdf))
        want = self.oracle_digest(input_tag, sf_dir, name, sql)
        if got != want:
            return False, f"fingerprint {got} != oracle {want}"
        return True, ""

    def planted_failure_caught(self, input_tag, sf_dir, name, sql, schema, pdf) -> bool:
        """A result with one row removed has a wrong digest; the comparison
        must count it as a failure, or every check above is vacuous."""
        ok, _ = self.compare_query(input_tag, sf_dir, name, sql, schema, pdf.iloc[1:])
        return not ok

    @staticmethod
    def compare_digest(what: str, want, got) -> list[str]:
        return [] if want == got else [f"{what}: {got} != expected {want}"]

