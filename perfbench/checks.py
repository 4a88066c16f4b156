"""Output checks. They run after the timed region and never change a timing.

- Medallion tables are read with DuckDB (no Spark jobs) and reduced to the
  engine's canonical result hash (testing/compare.result_hash), leaving out
  the publish stamp `_processed_time`, which is wall-clock by design.
  `silver_access_keys` is compared with a DuckDB oracle of its change fold.
- Query results are compared with each query's DuckDB oracle through the
  engine's own `compare_with_oracle`.
"""

from __future__ import annotations

import json
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
EXPECTED_MEDALLION = HERE / "expected_medallion.json"
IGNORED_COLUMNS = {"_processed_time"}


def table_names(out_dir: Path) -> list[str]:
    return sorted(p.name for p in out_dir.iterdir() if p.is_dir())


def table_digest(con: duckdb.DuckDBPyConnection, table_dir: Path) -> dict:
    from near_public_lakehouse_spark.testing.compare import result_hash

    files = sorted(str(p) for p in table_dir.rglob("*.parquet"))
    if not files:
        return {"rows": 0, "hash": result_hash([], [])}
    rel = con.read_parquet(files, hive_partitioning=True, union_by_name=True)
    cols = [c for c in rel.columns if c not in IGNORED_COLUMNS]
    rows = rel.select(*[duckdb.ColumnExpression(c) for c in cols]).fetchall()
    return {"rows": len(rows), "hash": result_hash(cols, rows)}


def digest_tables(out_dir: Path) -> dict[str, dict]:
    con = duckdb.connect()
    try:
        return {t: table_digest(con, out_dir / t) for t in table_names(out_dir)}
    finally:
        con.close()


def silver_count_problems(digests: dict[str, dict], counts: dict) -> list[str]:
    """Silver row counts against the fixture generator's own counts."""
    want = {
        "silver_blocks": counts["blocks"],
        "silver_chunks": counts["shards"],
        "silver_transactions": counts["transactions"],
        "silver_receipts": counts["receipts"],
    }
    return [
        f"{t}: {digests.get(t, {}).get('rows')} rows, generator wrote {n}"
        for t, n in want.items()
        if digests.get(t, {}).get("rows") != n
    ]


def medallion_problems(digests: dict[str, dict], expected: dict[str, dict]) -> list[str]:
    """One entry per table that is missing, extra, or differs from its
    recorded digest (the full refresh's, or the oracle's for
    `silver_access_keys`)."""
    out = []
    for t in sorted(set(expected) | set(digests)):
        if t not in digests:
            out.append(f"{t}: missing")
        elif t not in expected:
            out.append(f"{t}: not in the recorded refresh")
        elif digests[t] != expected[t]:
            out.append(f"{t}: {digests[t]} != recorded {expected[t]}")
    return out


# APPLY CHANGES ... IGNORE NULL UPDATES, written out in DuckDB over the
# silver input: the access-key change feed of plans/scd_tables.py, folded
# per key in sequence order, so every column holds its latest non-NULL
# value. That is what applying the changes one at a time gives, however
# they are split into batches. `run_batch` folds them differently (README,
# defect 3), so this table's expected digest comes from here.
ACCESS_KEY_CHANGES = """
with feed as (
  select *, json_extract_string(args, '$.AddKey.access_key.permission') as perm
  from actions where action_kind in ('ADD_KEY', 'DELETE_KEY')
), changes as (
  select distinct block_date, block_timestamp, block_timestamp_utc, block_height,
         receiver_account_id as account_id,
         coalesce(json_extract_string(args, '$.AddKey.public_key'),
                  json_extract_string(args, '$.DeleteKey.public_key')) as public_key,
         action_kind = 'ADD_KEY' as is_active,
         case when action_kind = 'DELETE_KEY' then null
              when perm = 'FullAccess' then 'FULL_ACCESS'
              when perm is not null then 'FUNCTION_CALL' end as permission_kind,
         case when perm is not null and perm <> 'FullAccess' then json_extract_string(
                args, '$.AddKey.access_key.permission.FunctionCall.receiver_id') end
           as allowed_receiver_id
  from feed
)
"""
ACCESS_KEYS = ("account_id", "public_key")
ACCESS_KEYS_SEQ = "block_timestamp"


def access_keys_oracle(out_dir: Path) -> dict:
    """Digest of `silver_access_keys` as the fold above derives it from the
    `silver_action_receipt_actions` table under `out_dir`."""
    from near_public_lakehouse_spark.testing.compare import result_hash

    def files(table):
        return sorted(str(p) for p in (out_dir / table).rglob("*.parquet"))

    con = duckdb.connect()
    try:
        actions = con.read_parquet(
            files("silver_action_receipt_actions"), hive_partitioning=True, union_by_name=True
        )
        con.register("actions", actions)
        target = con.read_parquet(files("silver_access_keys"))
        cols = [c for c in target.columns if c not in IGNORED_COLUMNS]
        keys, seq = ", ".join(ACCESS_KEYS), ACCESS_KEYS_SEQ
        # the fold is defined only if no key has two different changes at one sequence
        ties = con.sql(
            f"{ACCESS_KEY_CHANGES} select {keys}, {seq} from changes "
            f"group by {keys}, {seq} having count(*) > 1"
        ).fetchall()
        if ties:
            raise ValueError(f"silver_access_keys oracle: tied changes at {ties}")
        fold = ", ".join(
            c if c in ACCESS_KEYS
            else f"max({c}) as {c}" if c == seq
            else f"arg_max({c}, {seq}) filter (where {c} is not null) as {c}"
            for c in cols
        )
        rows = con.sql(f"{ACCESS_KEY_CHANGES} select {fold} from changes group by {keys}").fetchall()
        return {"rows": len(rows), "hash": result_hash(cols, rows)}
    finally:
        con.close()


def load_expected() -> dict:
    return json.loads(EXPECTED_MEDALLION.read_text())


class Collected:
    """A query result already pulled to the driver, shaped like the one
    DataFrame method `compare_with_oracle` uses, so the check reuses the
    timed result instead of running the query a second time."""

    def __init__(self, pdf):
        self._pdf = pdf
        self.columns = list(pdf.columns)

    def toPandas(self):
        return self._pdf


def query_problems(con: duckdb.DuckDBPyConnection, pdf, oracle_sql: str) -> list[str]:
    from near_public_lakehouse_spark.testing.compare import compare_with_oracle

    return compare_with_oracle(Collected(pdf), con, oracle_sql)
