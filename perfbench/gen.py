"""Seeded input generator for the benchmark's workloads.

Everything the benchmark feeds the program is made here from the seed and
staged under one work directory; nothing is read from anywhere else. The
tables follow the schemas in FIXTURES.md at sf0.1 sizes (600k lineitem,
150k orders, 15k customers, ...). Each workload's shape parameters are drawn
from the seed inside narrow bands, so different seeds give different inputs
of about the same cost:

* ``nightly_copy``: the ``orders`` mutation set per night — its share of
  rows and how many days back into old partitions it reaches;
* the morning SQL session of ``nightly_copy``: the keys and the week its
  statements touch and the order of its writes;
* ``curation_scan``: the corpus's duplicate share.

Pure numpy/pyarrow: no Spark, so the generator and its tests run anywhere.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = np.datetime64("1995-01-01", "D")
N_ORDERS = 150_000
N_LINEITEM = 600_000
ORDER_DAYS = 2405  # o_orderdate spans 1995-01-01 .. 2001-08-01
SHIP_DAYS = 2499
DIM_TABLES = ("customer", "supplier", "part", "nation", "region")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
STATUSES = ("F", "O", "P")


def day_str(day: int) -> str:
    """Day offset from 1995-01-01 as an ISO date string."""
    return str(EPOCH + np.timedelta64(int(day), "D"))


def _ts(days: np.ndarray, seconds: np.ndarray | None = None) -> pa.Array:
    us = days.astype("int64") * 86_400_000_000 + (
        0 if seconds is None else seconds.astype("int64") * 1_000_000
    )
    base = EPOCH.astype("datetime64[us]").astype("int64")
    return pa.array(us + base, type=pa.timestamp("us"))


def _write(table: pa.Table, path: Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, str(path))


def _link_or_copy(src: Path, dst: Path) -> None:
    dst.parent.mkdir(parents=True, exist_ok=True)
    try:
        os.link(src, dst)
    except OSError:
        dst.write_bytes(src.read_bytes())


# ---------------------------------------------------------------- warehouse


def warehouse_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema: two facts and five dims (sf0.1 sizes)."""
    n_cust, n_supp, n_part = 15_000, 1_000, 20_000
    li_days = rng.integers(1, SHIP_DAYS + 1, N_LINEITEM)
    qty = rng.integers(1, 51, N_LINEITEM).astype("float64")
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
        "l_partkey": rng.integers(0, n_part, N_LINEITEM),
        "l_suppkey": rng.integers(0, n_supp, N_LINEITEM),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, N_LINEITEM), 2),
        "l_discount": np.round(rng.integers(0, 11, N_LINEITEM) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, N_LINEITEM) / 100, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)]),
        "l_shipdate": _ts(li_days),
    })
    nations = [f"NATION_{i:02d}" for i in range(25)]
    tables = {
        "lineitem": lineitem,
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": pa.array(
                np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                    rng.integers(0, 5, n_cust)
                ]
            ),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [f"part {i}" for i in range(n_part)],
            "p_brand": [f"Brand#{i % 5 + 1}{i % 7 + 1}" for i in range(n_part)],
            "p_type": pa.array(
                np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"])[
                    rng.integers(0, 6, n_part)
                ]
            ),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(rng.uniform(900, 2100, n_part), 2),
        }),
        "nation": pa.table({
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": nations,
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }),
        "region": pa.table({
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
    }
    return tables


def orders_base(rng: np.random.Generator) -> dict[str, np.ndarray]:
    """Orders as column arrays; ``update_datetime`` starts equal to the
    order date (a row is last touched the day it is inserted)."""
    days = rng.integers(0, ORDER_DAYS, N_ORDERS)
    return {
        "o_orderkey": np.arange(N_ORDERS, dtype="int64"),
        "o_custkey": rng.integers(0, 15_000, N_ORDERS),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": np.round(rng.uniform(900, 450_000, N_ORDERS), 2),
        "o_orderday": days,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)],
        "update_day": days.copy(),
        "update_sec": np.zeros(N_ORDERS, dtype="int64"),
    }


def orders_table(cols: dict[str, np.ndarray]) -> pa.Table:
    return pa.table({
        "o_orderkey": cols["o_orderkey"],
        "o_custkey": cols["o_custkey"],
        "o_orderstatus": pa.array(cols["o_orderstatus"]),
        "o_totalprice": cols["o_totalprice"],
        "o_orderdate": _ts(cols["o_orderday"]),
        "o_orderpriority": pa.array(cols["o_orderpriority"]),
        "update_datetime": _ts(cols["update_day"], cols["update_sec"]),
    })


# ------------------------------------------------- the morning SQL session

# One session after the nights: a one-week join read, the three writes in a
# seeded order, then the materialized-view read, which sees every commit
# before it.
WRITE_KINDS = ("update", "delete", "merge")

MV_SQL = (
    "SELECT o_orderstatus, o_orderpriority AS prio, COUNT(*) AS n, "
    "SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total "
    "FROM {orders} GROUP BY o_orderstatus, o_orderpriority"
)


@dataclass(frozen=True)
class Statement:
    kind: str  # range | update | delete | merge | mv
    sql: str  # for NamedCatalog.sql; {orders} {lineitem} {supplier} {mv} name tables
    oracle: tuple[str, ...]  # the same statement for DuckDB


def sql_session(rng: np.random.Generator, keys: np.ndarray, lo: int, hi: int) -> list[Statement]:
    """The seeded statement stream over a target holding the orders
    ``keys`` (sorted), the lineitems shipped on days ``lo`` .. ``hi`` and
    the suppliers.

    The seed sets the week the range read joins, the keys each write
    touches, and the order of the writes. Writes touch a band of 10-30
    consecutive orders of the target, the way an operator fixes a batch of
    rows; MERGE updates some and inserts four new ones."""
    def band() -> tuple[int, int]:
        i = int(rng.integers(0, keys.size - 31))
        return int(keys[i]), int(keys[i + int(rng.integers(10, 31))])

    d = int(rng.integers(lo, hi - 6))
    week = (
        "SELECT s.s_nationkey, COUNT(*) AS n, "
        "CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS rev "
        "FROM {lineitem} l JOIN {supplier} s ON l.l_suppkey = s.s_suppkey "
        f"WHERE l.l_shipdate >= TIMESTAMP '{day_str(d)} 00:00:00' "
        f"AND l.l_shipdate < TIMESTAMP '{day_str(d + 7)} 00:00:00' "
        "GROUP BY s.s_nationkey"
    )
    stmts = [Statement("range", week, (week,))]
    for kind in rng.permutation(WRITE_KINDS):
        k0, k1 = band()
        if kind == "update":
            sql = (
                f"UPDATE {{orders}} SET o_totalprice = o_totalprice + {k1 - k0}.25, "
                f"o_orderstatus = 'P' WHERE o_orderkey BETWEEN {k0} AND {k1}"
            )
            oracle = (sql,)
        elif kind == "delete":
            sql = f"DELETE FROM {{orders}} WHERE o_orderkey BETWEEN {k0} AND {k1}"
            oracle = (sql,)
        else:
            old = [int(k) for k in keys[(keys >= k0) & (keys <= k1)][::3]]
            new = [N_ORDERS + int(k) for k in rng.choice(10**6, size=4, replace=False)]
            in_list = ", ".join(str(k) for k in old + new)
            values = ", ".join(f"({k}, 'O', 100.5)" for k in old + new)
            ts = f"TIMESTAMP '{day_str(lo)} 00:00:00'"
            sql = (
                "MERGE INTO {orders} t USING (SELECT col1 AS o_orderkey, col2 AS st, "
                f"col3 AS px FROM VALUES {values}) s ON t.o_orderkey = s.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET o_orderstatus = s.st, "
                "o_totalprice = t.o_totalprice + s.px "
                "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus, "
                "o_totalprice, o_orderdate, o_orderpriority, update_datetime) "
                f"VALUES (s.o_orderkey, 0, s.st, s.px, {ts}, '3-MEDIUM', {ts})"
            )
            oracle = (
                "UPDATE {orders} SET o_orderstatus = 'O', "
                f"o_totalprice = o_totalprice + 100.5 WHERE o_orderkey IN ({in_list})",
                f"INSERT INTO {{orders}} SELECT k, 0, 'O', 100.5, {ts}, '3-MEDIUM', {ts} "
                f"FROM (SELECT unnest([{in_list}]) AS k) "
                "WHERE k NOT IN (SELECT o_orderkey FROM {orders})",
            )
        stmts.append(Statement(str(kind), sql, oracle))
    mv = "SELECT o_orderstatus, prio, n, CAST(total AS DOUBLE) AS total FROM {mv}"
    stmts.append(Statement("mv", mv, (
        f"SELECT o_orderstatus, prio, n, CAST(total AS DOUBLE) AS total FROM ({MV_SQL})",)))
    return stmts


# ----------------------------------------------------------- nightly_copy


@dataclass
class NightlyPlan:
    """Windows and the known answers of the nightly-copy workload."""

    backfill_from: str
    backfill_to: str
    nights: list[str]
    mut_share: float
    spread_days: int
    # per night: the keys the copy+update upsert must report
    mutated_keys: list[int]
    # source dir per pipeline run: index 0 is the backfill, i the i-th night
    source_dirs: list[str] = field(default_factory=list)
    # the SQL session run over the target after the nights
    statements: list[Statement] = field(default_factory=list)


def stage_nightly(seed: int, root: Path, n_nights: int) -> NightlyPlan:
    """Stage one source directory per pipeline run.

    The backfill covers ``spread_days`` days before the first night, so
    every mutated order already sits in the target when its night runs.
    Night ``i`` updates a seeded share of orders whose order date lies in
    the ``spread_days`` days before it: new price and status, and
    ``update_datetime`` on the night. The source directory of night ``i``
    holds the orders with every mutation up to night ``i`` applied. The
    SQL session's statements touch the orders and lineitems of the
    backfill window, which every target holds however many nights ran."""
    rng = np.random.default_rng([seed, 1])
    mut_share = float(rng.uniform(0.0019, 0.0021))
    spread = int(rng.integers(11, 14))
    first_night = int(rng.integers(400, ORDER_DAYS - n_nights - 1))
    tables = warehouse_tables(rng)
    orders = orders_base(rng)

    base = root / "source_base"
    for name, t in tables.items():
        _write(t, base / f"{name}.parquet")

    plan = NightlyPlan(
        backfill_from=day_str(first_night - spread),
        backfill_to=day_str(first_night - 1),
        nights=[day_str(first_night + i) for i in range(n_nights)],
        mut_share=mut_share,
        spread_days=spread,
        mutated_keys=[],
    )
    day = orders["o_orderday"]
    in_backfill = (day >= first_night - spread) & (day < first_night)
    plan.statements = sql_session(
        np.random.default_rng([seed, 2]), orders["o_orderkey"][in_backfill],
        first_night - spread, first_night - 1)
    n_mut = int(round(mut_share * N_ORDERS))
    for run in range(n_nights + 1):
        if run > 0:
            night = first_night + run - 1
            day = orders["o_orderday"]
            pool = np.flatnonzero((day >= night - spread) & (day < night))
            keys = rng.choice(pool, size=min(n_mut, pool.size), replace=False)
            orders["o_totalprice"][keys] = np.round(
                orders["o_totalprice"][keys] * rng.uniform(1.01, 1.2, keys.size), 2
            )
            orders["o_orderstatus"][keys] = np.array(STATUSES)[
                rng.integers(0, 3, keys.size)
            ]
            orders["update_day"][keys] = night
            orders["update_sec"][keys] = rng.integers(0, 86_400, keys.size)
            plan.mutated_keys.append(int(keys.size))
        src = root / f"source_{run:02d}"
        for name in tables:
            _link_or_copy(base / f"{name}.parquet", src / f"{name}.parquet")
        _write(orders_table(orders), src / "orders.parquet")
        plan.source_dirs.append(str(src))
    return plan


# ---------------------------------------------------------- curation_scan

# Technical filler words carry no language signal; the marker words are the
# ones functions/text.py scores languages by.
FILLER = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge data "
    "join vector customer shard index cache plan commit log file page"
).split()
MARKERS = {
    "en": "the and of to is in that it for with".split(),
    "de": "der die das und ist nicht ein mit von".split(),
    "fr": "le la les et est une pour dans que vous".split(),
    "es": "el la los y es una para en que por".split(),
}
NEAR_DUP_TAIL = " planted near duplicate tail"
CORPUS_FILES = 8
N_UNIQUE = 36_000  # documents before the planted duplicates
N_VECTORS = 20_000  # embeddings before the planted near copies


@dataclass
class CurationPlan:
    docs_dir: str
    emb_dir: str
    dup_share: float
    # planted near-duplicate documents: (original id, copy id)
    near_pairs: list[tuple[int, int]]
    # embedding query batches, and per batch the planted near copies
    query_batches: list[list[int]]


def _texts(rng: np.random.Generator, langs: np.ndarray, lengths: np.ndarray) -> list[str]:
    """Filler words with about a third replaced by the language's marker
    words ('und' documents get none); 8% of documents end in a noisy
    scrape of digits and punctuation."""
    codes = sorted(MARKERS)
    vocab = np.array(FILLER + [w for c in codes for w in MARKERS[c]])
    base = np.cumsum([len(FILLER)] + [len(MARKERS[c]) for c in codes])
    n_marks = np.array([len(MARKERS[c]) for c in codes] + [0])
    lang_idx = np.array([codes.index(x) if x in codes else len(codes) for x in langs])
    tok_lang = np.repeat(lang_idx, lengths)
    idx = rng.integers(0, len(FILLER), tok_lang.size)
    hit = (rng.random(tok_lang.size) < 0.35) & (tok_lang < len(codes))
    pick = (rng.random(tok_lang.size) * n_marks[tok_lang]).astype(int)
    idx[hit] = base[tok_lang[hit]] + pick[hit]
    words = vocab[idx].tolist()
    noisy = rng.random(len(langs)) < 0.08
    noise = rng.integers(0, 10**6, (len(langs), 12))
    out, pos = [], 0
    for i, n in enumerate(lengths):
        text = " ".join(words[pos:pos + n])
        pos += n
        if noisy[i]:
            text += " " + " ".join(f"#{x}!" for x in noise[i])
        out.append(text)
    return out


def _write_split(table: pa.Table, out: Path) -> None:
    step = -(-table.num_rows // CORPUS_FILES)
    for i in range(CORPUS_FILES):
        _write(table.slice(i * step, step), out / f"part-{i}.parquet")


def stage_curation(seed: int, root: Path, n_batches: int) -> CurationPlan:
    """A corpus of ``N_UNIQUE`` documents plus a seeded share of
    duplicates — a third exact copies, the rest near copies with a short
    tail — and an embedding set clustered around 16 centres with the same
    share of near-copy vectors. Written as several parquet files each."""
    rng = np.random.default_rng([seed, 4])
    n_unique, n_vectors = N_UNIQUE, N_VECTORS
    dup_share = float(rng.uniform(0.11, 0.13))
    langs = np.array(["en", "de", "fr", "es", "und"])[
        rng.choice(5, size=n_unique, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    lengths = rng.integers(8, 90, n_unique)
    texts = _texts(rng, langs, lengths)
    n_dup = int(round(dup_share * n_unique))
    originals = rng.choice(np.flatnonzero(lengths >= 30), size=n_dup, replace=False)
    n_exact = n_dup // 3
    near_pairs = []
    for j, o in enumerate(originals):
        if j < n_exact:
            texts.append(texts[o])
        else:
            texts.append(texts[o] + NEAR_DUP_TAIL)
            near_pairs.append((int(o), n_unique + j))
    order = rng.permutation(len(texts))
    all_langs = np.concatenate([langs, langs[originals]])
    docs = pa.table({
        "doc_id": order.astype("int64"),
        "text": pa.array([texts[i] for i in order]),
        "lang": pa.array(all_langs[order]),
        "source": pa.array([f"src{i % 4}" for i in order]),
        "n_chars": np.array([len(texts[i]) for i in order], dtype="int64"),
    })

    dim = 64
    centres = rng.normal(size=(16, dim))
    labels = rng.integers(0, 16, n_vectors)
    vecs = centres[labels] + 0.6 * rng.normal(size=(n_vectors, dim))
    near = rng.choice(n_vectors, size=int(dup_share * n_vectors), replace=False)
    vecs = np.vstack([vecs, vecs[near] + 0.01 * rng.normal(size=(near.size, dim))])
    labels = np.concatenate([labels, labels[near]])
    emb = pa.table({
        "vec_id": np.arange(len(vecs), dtype="int64"),
        "embedding": pa.array(list(vecs.astype("float32")), type=pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })
    _write_split(docs, root / "documents")
    _write_split(emb, root / "embeddings")
    batches = [sorted(int(q) for q in rng.choice(len(vecs), size=32, replace=False))
               for _ in range(n_batches)]
    return CurationPlan(str(root / "documents"), str(root / "embeddings"),
                        dup_share, near_pairs, batches)
