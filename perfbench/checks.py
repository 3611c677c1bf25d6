"""Output checks, run once per run outside the timed passes.

Batch ops are compared with their DuckDB oracle (``queries.ORACLES``)
on the generated tables. Stream twins are compared with their batch
twins on the same replay, under the rules the repository's own
streaming tests use.
"""

from __future__ import annotations

import math
import os
from collections import Counter

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    if hasattr(v, "as_tuple"):  # Decimal
        return round(float(v), 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def bag(rows, cols) -> Counter:
    """Order-insensitive multiset of rows projected on ``cols``."""
    return Counter(tuple(_norm(r[c]) for c in cols) for r in rows)


def duck_connection(table_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        path = os.path.join(table_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check_oracle(con, sql: str, rows, cols) -> tuple[bool, str]:
    """Spark rows vs the oracle: same column set, same row multiset."""
    cur = con.execute(sql)
    ocols = [d[0] for d in cur.description]
    if sorted(ocols) != sorted(cols):
        return False, f"columns differ: {sorted(cols)} vs oracle {sorted(ocols)}"
    orows = [dict(zip(ocols, r)) for r in cur.fetchall()]
    keys = sorted(cols)
    got, want = bag(rows, keys), bag(orows, keys)
    if got != want:
        return False, (f"rows differ: {sum((got - want).values())} extra, "
                       f"{sum((want - got).values())} missing of {len(orows)}")
    return True, f"{len(rows)} rows match the oracle"


def check_exact(got_rows, want_rows, cols) -> tuple[bool, str]:
    got, want = bag(got_rows, cols), bag(want_rows, cols)
    if got != want:
        return False, (f"stream differs from batch twin: {sum((got - want).values())} "
                       f"extra, {sum((want - got).values())} missing")
    return True, f"{sum(got.values())} rows equal the batch twin"


def check_reconcile(got_rows, want_rows) -> tuple[bool, str]:
    """Matched leg equal; every emitted unmatched row in the batch
    result (unmatched rows fire only once the watermark passes them)."""
    cols = ["kind", "user_id", "item_id", "pay_us", "receipt_us"]
    got, want = bag(got_rows, cols), bag(want_rows, cols)
    got_m = Counter({k: v for k, v in got.items() if k[0] == "matched"})
    want_m = Counter({k: v for k, v in want.items() if k[0] == "matched"})
    if got_m != want_m:
        return False, "matched leg differs from the batch twin"
    if got - want:
        return False, f"{sum((got - want).values())} unmatched rows not in the batch twin"
    return True, (f"{sum(got_m.values())} matched rows equal, "
                  f"{sum(got.values()) - sum(got_m.values())} unmatched rows in the batch twin")


def check_closed_keys(got_rows, want_rows) -> tuple[bool, str]:
    """Every emitted (user, item) decision equals the batch twin's, and
    every 'payed' decision (watermark-independent) is emitted."""
    def by_key(rows):
        return {(r["user_id"], r["item_id"]): (r["create_us"], r["pay_us"], r["result_state"])
                for r in rows}
    got, want = by_key(got_rows), by_key(want_rows)
    bad = [k for k, v in got.items() if want.get(k) != v]
    if bad:
        return False, f"{len(bad)} closed keys differ from the batch twin"
    payed_want = {k for k, v in want.items() if v[2] == "payed"}
    payed_got = {k for k, v in got.items() if v[2] == "payed"}
    if payed_want != payed_got:
        return False, "payed decisions differ from the batch twin"
    return True, f"{len(got)} closed keys equal the batch twin"
