"""Output checks against the repository's own oracles.

Every check returns a list of mismatch descriptions; an empty list means the
output is correct. The callers count one failed operation per operation with
a mismatch.
"""
from __future__ import annotations

import math

from similardocs_spark.fixtures import END_DAYS_AGO, PINNED_TODAY, oracle_docs
from similardocs_spark.oracle.refsearch import OracleIndex, OracleSearch


def oracle_for(turns) -> OracleSearch:
    """Pure-Python reference engine over exactly the rows the index holds."""
    return OracleSearch(OracleIndex.build(oracle_docs(turns)), PINNED_TODAY, END_DAYS_AGO)


def hits_mismatch(got, exp, ctx: str) -> list[str]:
    """Rank-identical doc ids, float32-equal scores, equal conv_id, n_common
    and update_date (the golden-test comparison)."""
    g = [r.doc_id for r in got]
    e = [h.doc_id for h in exp]
    if g != e:
        return [f"{ctx}: doc ids {g[:5]}... != oracle {e[:5]}..."]
    out = []
    for r, h in zip(got, exp):
        if (r.conv_id, r.n_common, r.update_date) != (h.conv_id, h.n_common, h.update_date):
            out.append(f"{ctx}: doc {r.doc_id} fields differ from oracle")
        elif not math.isclose(r.score, h.score, rel_tol=2e-7):
            out.append(f"{ctx}: doc {r.doc_id} score {r.score} != oracle {h.score}")
    return out


def ids_mismatch(got_ids, exp_ids, ctx: str) -> list[str]:
    got_ids, exp_ids = [int(x) for x in got_ids], [int(x) for x in exp_ids]
    if got_ids != exp_ids:
        return [f"{ctx}: ids {got_ids[:5]}... != oracle {exp_ids[:5]}..."]
    return []


def counters_mismatch(got: dict, expected: dict, ctx: str) -> list[str]:
    bad = {k: (got.get(k), v) for k, v in expected.items() if got.get(k) != v}
    return [f"{ctx}: counters (got, expected) {bad}"] if bad else []


def canon_rows(rows, cols) -> list[tuple]:
    """Order-insensitive canonical form: columns by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(r[i] for i in order) for r in rows)


def table_mismatch(srows, scols, drows, dcols, ctx: str) -> list[str]:
    """Row count + column names + order-insensitive values, as the driver
    contract compares a query with its DuckDB mirror."""
    if sorted(scols) != sorted(dcols):
        return [f"{ctx}: columns {sorted(scols)} != {sorted(dcols)}"]
    if len(srows) != len(drows):
        return [f"{ctx}: {len(srows)} rows != oracle {len(drows)}"]
    a, b = canon_rows(srows, scols), canon_rows(drows, dcols)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return [f"{ctx}: values differ, first {diff}"]
    return []
