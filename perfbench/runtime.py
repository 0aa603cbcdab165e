"""What every workload shares: the Spark session, the closed-loop operation
timer, correctness accounting, the DuckDB oracle helpers, and the per-layer
metrics read from spans, the status store and the table commit logs."""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import traceback
from collections import defaultdict
from datetime import datetime
from pathlib import Path

import harvest
from stats import median, self_times

SETUP_REPS = 5


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def session_env(root: Path, work: Path) -> None:
    """Environment of the driver and its Python workers: workers import the
    package from the checkout, and every temp file stays in the work dir."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # every JVM (the launcher's too): temp files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


class Run:
    """One benchmark run: a closed loop of operations by a single client."""

    def __init__(self, work: Path, seed: int, seconds: int, tracer=None):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.tracer = tracer
        self.spark = None
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.setup: list[float] = []
        self.attempted = 0
        self.failed = 0
        self._op_ok = True
        self._jobs = None

    # ------------------------------------------------------------ session

    def session(self):
        """(Re)start the Spark session; the JVM survives a restart."""
        from data_warehouse_copy_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        return self.spark

    def boot(self, prepare) -> None:
        """Start the JVM, untimed, while ``prepare`` stages the inputs and
        computes the oracles in a thread: neither needs Spark."""
        errors = []

        def staged():
            try:
                prepare()
            except BaseException as e:  # re-raised in the caller
                errors.append(e)

        t = threading.Thread(target=staged)
        t.start()
        try:
            self.session()
        finally:
            t.join()
        if errors:
            raise errors[0]

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    # --------------------------------------------------------- operations

    def timed_setup(self, fn) -> None:
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        self.setup.append(dt)
        print(f"setup {dt:.3f}s", file=sys.stderr)

    def op(self, kind: str, fn):
        """Run one user operation and record its latency under ``kind``."""
        self.attempted += 1
        self._op_ok = True
        t0 = time.perf_counter()
        if self.tracer is None:
            out = fn()
        else:
            with self.tracer.op(kind):
                out = fn()
        dt = time.perf_counter() - t0
        self.samples[kind].append(dt)
        print(f"op {kind} {dt:.3f}s", file=sys.stderr)
        return out

    def step(self, name: str, fn):
        """A named step inside an operation: a child span when traced."""
        t0 = time.perf_counter()
        if self.tracer is None:
            out = fn()
        else:
            span = self.tracer.begin(name)
            try:
                out = fn()
            finally:
                self.tracer.end(span)
        print(f"  step {name} {time.perf_counter() - t0:.3f}s", file=sys.stderr)
        return out

    def check(self, ok: bool, what: str) -> None:
        """A correctness check of the current operation; the first failing
        check marks the operation failed."""
        if not ok:
            print(f"CHECK FAILED [{what}]", file=sys.stderr)
            if self._op_ok:
                self.failed += 1
                self._op_ok = False

    def crashed(self) -> None:
        """The current operation raised: count it and stop the loop."""
        traceback.print_exc()
        if self._op_ok:
            self.failed += 1
            self._op_ok = False

    def jobs(self) -> list:
        """The status store's finished jobs, harvested once per run."""
        if self._jobs is None:
            self._jobs = harvest.collect_jobs(self.spark)
        return self._jobs

    def deadline(self) -> float:
        return time.perf_counter() + self.seconds


# -------------------------------------------------------------- oracle

def canon(df, key: list[str]) -> list[tuple]:
    """Rows of a pandas frame as sorted tuples, timestamps as ISO strings,
    so Spark and DuckDB results compare value-exactly."""
    df = df.copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].dt.strftime("%Y-%m-%d %H:%M:%S.%f")
    df = df.sort_values(key).reset_index(drop=True)
    return [tuple(r) for r in df.itertuples(index=False, name=None)]


# ------------------------------------------------------ per-layer metrics

def plan_nodes(df) -> list[tuple[str, int | None]]:
    """``(node name, output rows)`` of every node of ``df``'s executed
    physical plan, through adaptive and query-stage wrappers."""
    out = []

    def walk(p):
        name = p.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            return walk(p.executedPlan())
        if "QueryStage" in name:
            return walk(p.plan())
        if name.startswith("ReusedExchange"):
            return walk(p.child())
        m = p.metrics()
        rows = m.get("numOutputRows").get().value() if m.contains("numOutputRows") else None
        out.append((name, rows))
        kids = p.children()
        for i in range(kids.size()):
            walk(kids.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def largest_join_output(df) -> int:
    return max((r or 0 for n, r in plan_nodes(df) if "Join" in n), default=0)


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def commit_log(table_roots: list[Path]) -> list[dict]:
    """Every commit of the given tables: time, files added and removed,
    rows added, and the bytes on disk of the added files. Only the numbered
    action records count, not the checkpoints written beside them; a
    full-state record (a table's first) is diffed against the files live
    before it, and a truncating overwrite removes every live file."""
    out = []
    for root in table_roots:
        live: dict[str, dict] = {}
        for f in sorted((root / "_log").glob("*.json")):
            if not f.stem.isdigit():
                continue
            rec = json.loads(f.read_text())
            if "files" in rec:
                now = {e["path"]: e for e in rec["files"]}
                adds = [e for p, e in now.items() if p not in live]
                removed = [p for p in live if p not in now]
            else:
                adds = rec.get("add") or []
                removed = list(live) if rec.get("remove_all") else rec.get("remove") or []
                now = {p: e for p, e in live.items() if p not in set(removed)}
                now.update((e["path"], e) for e in adds)
            live = now
            out.append({
                "ts": _epoch(rec["ts"]),
                "files_added": len(adds),
                "files_removed": len(removed),
                "rows_added": sum(a.get("rows", 0) for a in adds),
                "bytes_added": sum(
                    (root / a["path"]).stat().st_size
                    for a in adds if (root / a["path"]).exists()
                ),
            })
    return out


def table_roots(base: Path) -> list[Path]:
    return sorted(p.parent for p in base.rglob("_log") if p.is_dir())


def span_totals(spans: list[dict], ops: list[dict], name: str) -> list[float]:
    """Per operation: total seconds spent in spans called ``name``."""
    by_id = {s["id"]: s for s in spans}

    def root(s: dict) -> int:
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s["id"]

    totals = dict.fromkeys((op["id"] for op in ops), 0.0)
    for s in spans:
        if s["name"] == name and root(s) in totals:
            totals[root(s)] += s["end"] - s["start"]
    return [totals[op["id"]] for op in ops]


def op_layer_metrics(run: Run, ops: list[dict], commits: list[dict],
                     rows_changed: int = 0) -> dict[str, float]:
    """Metrics shared by every workload: per operation averages of the
    engine counters and of the commit-log diffs, over the given op spans;
    ``rows_changed`` is what the operations reported changing."""
    jobs = run.jobs()
    n = max(len(ops), 1)
    eng = defaultdict(float)
    tab = defaultdict(float)
    for op in ops:
        w = harvest.window_metrics(jobs, op["start"], op["end"])
        for k, v in w.items():
            eng[k] += v
        op["engine"] = w
        for c in commits:
            if op["start"] <= c["ts"] <= op["end"]:
                tab["commits"] += 1
                for k in ("files_added", "files_removed", "rows_added", "bytes_added"):
                    tab[k] += c[k]
    out = {f"spark.{k}": eng[k] / n for k in (
        "jobs", "stages", "tasks", "in_job_s", "outside_job_s",
        "shuffle_write_mb", "input_mb")}
    out.update({
        "managed_table.commits": tab["commits"] / n,
        "managed_table.files_added": tab["files_added"] / n,
        "managed_table.files_removed": tab["files_removed"] / n,
    })
    in_bytes = eng["input_mb"] * 1e6
    out["managed_table.bytes_written_per_input_byte"] = (
        tab["bytes_added"] / in_bytes if in_bytes else 0.0
    )
    out["managed_table.rows_rewritten_per_row_changed"] = (
        tab["rows_added"] / rows_changed if rows_changed else 0.0
    )
    return out


def selftime_median(spans: list[dict], name: str) -> float:
    selfs = self_times(spans)
    vals = [selfs[s["id"]] for s in spans if s["name"] == name]
    return median(vals) if vals else 0.0
