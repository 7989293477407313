"""Expected outputs, computed with DuckDB from the same input files and
compared outside the timed window. Each check returns a list of mismatch
descriptions; an empty list means the output is correct."""

from __future__ import annotations

import json
import math
import os

import duckdb
import pandas as pd

from arango_etl_spark.oracle import (
    LWW_ORDER_SQL,
    assert_states_equal,
    reduce_events_duckdb,
)


def save_json(d: str, name: str, obj) -> None:
    with open(os.path.join(d, f"{name}.json"), "w") as f:
        json.dump(obj, f)


def load_json(d: str, name: str):
    """JSON written by ``save_json``, lists read back as tuples."""
    with open(os.path.join(d, f"{name}.json")) as f:
        return _tuples(json.load(f))


def _tuples(v):
    if isinstance(v, list):
        return tuple(_tuples(x) for x in v)
    if isinstance(v, dict):
        return {k: _tuples(x) for k, x in v.items()}
    return v


def load_state(d: str) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(d, "expected_state.parquet"))


def state_mismatch(actual: pd.DataFrame, expected: pd.DataFrame) -> list[str]:
    """Token-array equality of a table state against the oracle state."""
    try:
        assert_states_equal(actual[list(expected.columns)], expected)
    except AssertionError as e:
        return [str(e)[:500]]
    return []


def batch_key_counts(batch_dirs: list[str]) -> list[tuple[int, int]]:
    """(events, distinct keys) per batch file: what one merge of that batch
    must report as events seen and keys applied."""
    out = []
    for d in batch_dirs:
        n, k = duckdb.sql(
            f"SELECT count(*), count(DISTINCT doc_id) "
            f"FROM read_parquet('{d}/*.parquet')"
        ).fetchone()
        out.append((int(n), int(k)))
    return out


def state_of(globs: list[str]) -> pd.DataFrame:
    """Expected table state after the events of several globs together:
    ``reduce_events_duckdb``'s LWW reduction over their union."""
    if len(globs) == 1:
        return reduce_events_duckdb(globs[0])
    files = ", ".join(f"'{g}'" for g in globs)
    return duckdb.sql(
        f"""
        WITH ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY {LWW_ORDER_SQL}
            ) AS rn
            FROM read_parquet([{files}], union_by_name=true)
        )
        SELECT doc_id, tokens, n_tok, source FROM ranked
        WHERE rn = 1 AND op <> 'delete' ORDER BY doc_id
        """
    ).df()


def rollup_of(state: pd.DataFrame) -> dict[str, tuple[int, float]]:
    """source → (live rows, sum of n_tok): the rollup the engine maintains."""
    agg = state.groupby("source").agg(cnt=("doc_id", "size"), total=("n_tok", "sum"))
    return {g: (int(r.cnt), float(r.total)) for g, r in agg.iterrows()}


def _norm(v):
    """Cell normalisation of scripts/check_oracles.py: floats to 9 places,
    NaN as a string, sequences element-wise, timestamps as ISO text."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat().replace("+00:00", "")
    return v


def normalized(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns in name order and rows sorted, every cell normalised."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        [cols[i] for i in order],
        sorted(tuple(_norm(r[i]) for i in order) for r in rows),
    )


def sql_result(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return normalized([d[0] for d in res.description], res.fetchall())


def rows_mismatch(name: str, got, want) -> list[str]:
    if got != want:
        return [f"{name}: {len(got[1])} rows vs oracle {len(want[1])}"]
    return []


def parity_oracle(name: str, sf_dir: str) -> tuple[list[str], list[tuple]]:
    """``parity.oracle_sql()[name]`` through DuckDB over the embeddings in
    ``sf_dir``, normalised like the engine's rows."""
    from arango_etl_spark import parity

    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                    f"'{sf_dir}/embeddings.parquet'")
        return sql_result(con, parity.oracle_sql()[name])
    finally:
        con.close()
