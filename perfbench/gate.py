"""Correctness gate: serving top-k == Spark top-k == DuckDB oracle top-k.

The two engine paths must agree exactly on (doc_id, score). Against the
oracle (``oracle.bm25_oracle_sql``, an independent SQL BM25 over the same
corpus) the check is tie-aware: the oracle ranks its own ids, so at a
score tie on the k-th place the engine may pick a different, equally
scored document. The engine's top-k must therefore carry exactly the
oracle's k best scores, and every engine (id, score) pair must be an
oracle pair. Scores are rounded to 4 places on both sides; they may differ
by one unit of that rounding when the two float sums straddle a rounding
boundary.
"""

from __future__ import annotations

_TOL = 1e-4 + 1e-9


def oracle_scores(con, query: str, table: str, id_col: str, opts):
    """All matching (id, score) pairs, best first."""
    from pg_textsearch_spark.oracle import bm25_oracle_sql
    sql = bm25_oracle_sql(query, table=table, id_col=id_col,
                          text_col="text", k=None, opts=opts)
    return [(int(i), float(s)) for i, s in con.execute(sql).fetchall()]


def same_topk(a: list[tuple[int, float]], b: list[tuple[int, float]]):
    """Exact agreement of two engine paths; returns an error or None."""
    if a != b:
        return f"engine paths differ: {a[:3]}... vs {b[:3]}..."
    return None


def matches_oracle(engine: list[tuple[int, float]],
                   oracle: list[tuple[int, float]], k: int):
    """Tie-aware top-k check; returns an error string or None."""
    want = [s for _, s in oracle[:k]]
    got = [s for _, s in engine]
    if len(got) != len(want) or any(abs(x - y) > _TOL
                                     for x, y in zip(got, want)):
        return f"scores {got[:3]}... != oracle {want[:3]}..."
    by_id = dict(oracle)
    for i, s in engine:
        if i not in by_id or abs(by_id[i] - s) > _TOL:
            return f"doc {i} score {s} not in oracle ({by_id.get(i)})"
    return None
