"""Differential DML check across the two planning backends.

One fixed-seed sequence of row-level operations runs against two copies
of the same small table: one with the planning gate shut
(``_DISTRIBUTED_PLAN_MIN_FILES = 10**9``: driver-side candidate planning,
snapshot-diff commits) and one with it open (``= 1``: checkpoint-backed
Spark planning, action-diff commits). After every step both copies must
agree on the operation's return value, the head rows, the ``history()``
row totals and ``read(version=k)`` for every version k — the run-twice-
and-compare shape, with the backend as the only difference.
"""

from __future__ import annotations

import random
import shutil
import sys
from pathlib import Path

import pyarrow.parquet as pq

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import data_warehouse_copy_spark.sources.managed_table as mt  # noqa: E402
from data_warehouse_copy_spark.sources.managed_table import (  # noqa: E402
    ManagedTable,
)

SEED = 20261017
N_FILES = 4
N_ROWS = 400


def _frame(spark, rows):
    return spark.createDataFrame(rows, "k long, v long").coalesce(1)


def _mk(spark, root, rows):
    t = ManagedTable.create(spark, root)
    # one append of N_FILES range partitions: files with disjoint key
    # spans, so the stats and key-span tiers genuinely prune
    t.append(
        spark.createDataFrame(rows, "k long, v long")
        .repartitionByRange(N_FILES, "k")
    )
    assert len(t.snapshot().files) >= N_FILES
    t._write_checkpoint(t.snapshot())  # the bounded backend needs one
    return t


def _version_rows(t, version: int, cache: dict) -> list:
    """Sorted ``(k, v)`` rows of ``version``, read straight from its
    manifest with pyarrow: every live file minus the positions its
    deletion vectors name. Data and DV files are immutable, so reads are
    cached by path — checking every version after every step stays
    cheap and launches no Spark job."""

    def table(rel):
        p = str(t.root / rel)
        if p not in cache:
            cache[p] = pq.read_table(p)
        return cache[p]

    rows = []
    for f in t.snapshot(version).files:
        dead = set()
        for d in f.dv_paths:
            dv = table(d)
            dead.update(
                pos
                for path, pos in zip(
                    dv.column("file_path").to_pylist(),
                    dv.column("pos").to_pylist(),
                )
                if path == f.path
            )
        data = table(f.path)
        rows.extend(
            (k, v)
            for i, (k, v) in enumerate(
                zip(data.column("k").to_pylist(), data.column("v").to_pylist())
            )
            if i not in dead
        )
    return sorted(rows)


def _history(t) -> list:
    return [
        (h.version, h.op, h.total_rows, h.rows_added, h.rows_removed)
        for h in t.history()
    ]


def test_dml_sequence_agrees_across_planning_backends(
    spark, tmp_path, monkeypatch
):
    rng = random.Random(SEED)
    base_rows = [(k, rng.randrange(10)) for k in range(N_ROWS)]
    classic = _mk(spark, tmp_path / "classic", base_rows)
    # the log keys files by table-relative path: a byte copy of the
    # directory is the same table at the same versions
    shutil.copytree(classic.root, tmp_path / "bounded")
    bounded = ManagedTable(spark, tmp_path / "bounded")

    rng_v = {k: rng.randrange(10) for k in range(1000)}
    lo = rng.randrange(5, 40)
    upd_lo = rng.randrange(100, 150)
    rw_lo = rng.randrange(200, 250)
    steps = [
        ("append", lambda t: t.append(
            _frame(spark, [(k, rng_v[k]) for k in range(400, 450)]))),
        ("delete", lambda t: t.delete([("k", "<", lo)])),
        ("update", lambda t: t.update(
            [("k", ">=", upd_lo), ("k", "<", upd_lo + 20)],
            {"v": "v + 100"})),
        ("replace_where", lambda t: t.replace_where(
            _frame(spark, [(k, 7) for k in range(rw_lo, rw_lo + 15)]),
            [("k", ">=", rw_lo), ("k", "<", rw_lo + 30)])),
        ("merge_by_key", lambda t: t.merge_by_key(
            _frame(spark, [(k, 1000 + k) for k in
                           list(range(upd_lo + 10, upd_lo + 30))
                           + list(range(500, 510))]),
            "k")),
        ("merge", lambda t: t.merge(
            _frame(spark, [(k, rng_v[k]) for k in
                           list(range(300, 340)) + list(range(600, 605))]),
            "k",
            when_matched=[
                {"condition": "s.v > 4", "update": {"v": "t.v + s.v"}},
                {"condition": "s.v < 2", "delete": True},
            ],
            when_not_matched_insert=True,
        )),
        # a second delete over rows the first delete already tombstoned
        ("delete_again", lambda t: t.delete([("k", "<", lo + 60)])),
        ("compact", lambda t: t.compact()),
    ]

    cache: dict = {}
    for name, op in steps:
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 10**9)
        got_classic = op(classic)
        monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 1)
        got_bounded = op(bounded)
        assert got_classic == got_bounded, name
        assert _history(classic) == _history(bounded), name
        head = classic._head_version()
        assert bounded._head_version() == head, name
        for k in range(head + 1):  # version 0 is the schemaless create
            assert _version_rows(classic, k, cache) == _version_rows(
                bounded, k, cache
            ), (name, k)
    # the sequence really changed the table on every step
    ops = [h[1] for h in _history(bounded)]
    assert ops[-len(steps):] == [
        "append", "delete", "update", "replace_where", "merge", "merge",
        "delete", "compact",
    ]
    # and the Spark read path agrees with the manifest-level reads
    monkeypatch.setattr(mt, "_DISTRIBUTED_PLAN_MIN_FILES", 10**9)
    for t in (classic, bounded):
        assert sorted(map(tuple, t.read().collect())) == _version_rows(
            t, head, cache
        )
