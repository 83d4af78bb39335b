"""Output checks, run outside every timed region.

Registry queries are compared with their DuckDB oracle SQL on the same
generated parquet files: same columns, same row count, and the same rows
after canonicalisation and sorting (order-insensitive). A float must agree
to 1e-9 relative, so a sum folded in another order by the other engine
still compares equal while any real difference does not.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def oracle_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{data_dir}/{t}.parquet'"
        )
    return con


def _canonical(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_canonical(x) for x in v)
    return v


def _sort_key(row):
    return tuple((x is None, repr(x) if isinstance(x, float) else str(x))
                 for x in row)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def frames_differ(got: pd.DataFrame, want: pd.DataFrame) -> "str | None":
    """``None`` when the frames hold the same rows, else a one-line reason.
    Two empty frames differ: an empty result verifies nothing."""
    if len(got) == 0 and len(want) == 0:
        return "both sides empty"
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return f"columns {cols} vs {sorted(want.columns)}"
    return rows_differ(list(got[cols].itertuples(index=False, name=None)),
                       list(want[cols].itertuples(index=False, name=None)))


def check_query(spark, con, query, data_dir: str) -> "str | None":
    """Run registry query ``query`` on Spark and its oracle on DuckDB;
    ``None`` when they agree, else the reason."""
    got = query.spark(spark, data_dir).toPandas()
    spark.catalog.clearCache()
    return frames_differ(got, con.execute(query.oracle).df())


def rows_differ(got: "list[tuple]", want: "list[tuple]") -> "str | None":
    """Compare two lists of result tuples as multisets."""
    g = sorted(map(_canonical, got), key=_sort_key)
    w = sorted(map(_canonical, want), key=_sort_key)
    if len(g) != len(w):
        return f"row count {len(g)} vs {len(w)}"
    for a, b in zip(g, w):
        if not _same(a, b):
            return f"first differing row {a} vs {b}"[:300]
    return None


def rrf_reference(lists: "list[list[tuple]]", topk: int, k0: int = 60,
                  round_dp: int = 6) -> "list[tuple]":
    """Reciprocal-rank fusion in plain Python → ``(query_id, id, rrf,
    rank)`` rows. Each list holds ``(query_id, id, score)`` candidates,
    ranked per query by ``(score, id)`` ascending; a list's contributions
    add in list order, the sum is rounded half-up to ``round_dp`` places,
    and the fused rank orders by ``(rrf desc, id)``."""
    scores: dict = {}
    for i, rows in enumerate(lists):
        by_q: dict = {}
        for qid, doc, score in rows:
            by_q.setdefault(qid, []).append((score, doc))
        for qid, cands in by_q.items():
            for r, (_, doc) in enumerate(sorted(cands), start=1):
                acc = scores.setdefault((qid, doc), [0.0] * len(lists))
                acc[i] = 1.0 / (k0 + r)
    fused: dict = {}
    for (qid, doc), parts in scores.items():
        total = parts[0]
        for p in parts[1:]:
            total += p
        rounded = float(Decimal(repr(total)).quantize(
            Decimal(1).scaleb(-round_dp), ROUND_HALF_UP))
        fused.setdefault(qid, []).append((-rounded, doc))
    return [(qid, doc, -neg, rank)
            for qid, cands in fused.items()
            for rank, (neg, doc) in enumerate(sorted(cands)[:topk], start=1)]
