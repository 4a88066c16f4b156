"""The versioned store's one optimistic-commit loop (`versioned._retry`):
a writer that loses every publish race gives up after the fixed budget
with CommitConflict and leaves no manifest behind."""

from __future__ import annotations

import pytest

from near_public_lakehouse_spark.operators import versioned as V


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


@pytest.mark.parametrize("writer", ["commit_append", "versioned_upsert", "tail_into"])
def test_lost_races_exhaust_the_fixed_budget(spark, tmp_path, monkeypatch, writer):
    table = str(tmp_path / "t")
    source = str(tmp_path / "src")
    if writer == "tail_into":
        V.commit_overwrite(_df(spark, [(1, "a")]), source)
    else:
        V.commit_overwrite(_df(spark, [(1, "a")]), table)
    before = V._versions(table)

    calls = {"n": 0}

    def always_lose(table_dir, version, manifest):
        calls["n"] += 1
        raise V.CommitConflict(f"version {version} already committed")

    monkeypatch.setattr(V, "_publish", always_lose)
    run = {
        "commit_append": lambda: V.commit_append(_df(spark, [(2, "b")]), table),
        "versioned_upsert": lambda: V.versioned_upsert(
            spark, table, _df(spark, [(2, "b")]), ["k"]
        ),
        "tail_into": lambda: V.tail_into(spark, source, table),
    }[writer]
    with pytest.raises(V.CommitConflict, match="lost 10 races"):
        run()
    assert calls["n"] == V._RETRIES == 10
    assert V._versions(table) == before  # no manifest published
