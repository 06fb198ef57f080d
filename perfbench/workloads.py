"""The benchmark workloads and the traced layer sweep.

Every workload has a pass (the timed unit of work) and a check of each
operation's output. A pass calls only public entry points of
``profiler`` on parquet inputs:

* ``transcripts_full``: ``profile_table`` and ``transcripts_suite().validate``
  run concurrently over one transcripts table with planted defects;
* ``resume_snapshots``: a snapshot chain through ``run_validation`` with
  digest carry-forward, then a simulated kill and a resume; a pass is one
  ``run_validation`` call, the next step of that chain.

The layer sweep (traced runs only) calls each layer alone, one call at a
time, on the workload's own input, so per-call Spark job counts can be
diffed from the status tracker. Besides the layers of the two passes it
runs ``detect``, single-constraint suites and ``drift``:
``drift_report_multi`` over day partitions, then the two-sample panel on
the exact route (``length(text)``) and on the binned route (``ts`` epoch
seconds).
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

from profiler import detect, drift
from profiler.constraints import (
    ConstraintSuite,
    dense_sequence,
    domain,
    not_null,
    transcripts_suite,
    unique_key,
)
from profiler.profile import ProfileConfig, profile_table
from profiler.run import partition_input_digests, run_validation

from inputs import text_lengths_by_day
from spans import SparkCounter, TracedStore, TracedSuite, Tracer

RESUME_EXPR = "pmod(xxhash64(conv_id), 64)"
DIGEST_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
DAY_EXPR = "CAST(to_date(ts) AS STRING)"
# The binned panel forces the cardinality guard at this many distinct
# values: ``ts`` epoch seconds has ~0.97 distinct values per turn, so the
# benchmark's inputs cross it while ``length(text)`` (a few hundred
# distinct values) stays on the exact route.
BINNED_MAX_DISTINCT = 5_000
# Day pairs where both days hold at least this many turns are full days.
MIN_DAY_ROWS = 1_000
PANEL = (
    drift.ks_exact,
    drift.mann_whitney_2s,
    drift.wasserstein_exact,
    drift.cvm_2s,
    drift.anderson_darling_2s,
    drift.lepage_2s,
)
PROFILE_CONFIG = ProfileConfig(exact=False)
EPOCH_EXPR = "unix_seconds(CAST(ts AS TIMESTAMP))"


@dataclass
class Context:
    """What a pass needs: the session, the tracer, a place for scratch
    output, and the tally of checked operations."""

    spark: object
    tracer: Tracer
    work: str
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    # the resume chain this context's passes are in the middle of
    chain: object = None
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def record(self, name: str, ok: bool, why: str = "") -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.errors.append(f"{name}: {why or 'wrong output'}")

    def call(self, name: str, layer: str, fn, parent: int | None = None):
        """Run one operation inside a span. Returns (ok, value); an
        exception counts the operation as failed."""
        try:
            with self.tracer.span(name, layer, parent):
                return True, fn()
        except Exception:  # noqa: BLE001 - a failed operation is a result
            self.record(name, False, traceback.format_exc(limit=3))
            return False, None

    def check(self, name: str, ok_call: tuple, checker) -> None:
        ok, value = ok_call
        if not ok:
            return  # already counted as failed
        try:
            why = checker(value)
        except Exception:  # noqa: BLE001 - a crashing check is a wrong output
            why = traceback.format_exc(limit=3)
        self.record(name, not why, why or "")

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, f"{name}-{time.perf_counter_ns()}")
        os.makedirs(path)
        return path

    def read(self, path: str):
        return self.spark.read.parquet(path)


def _diff(label: str, got, want) -> str:
    return "" if got == want else f"{label}: got {got!r}, want {want!r}"


# --------------------------------------------------------------------------
# transcripts_full
# --------------------------------------------------------------------------
def _collect_validation(suite: ConstraintSuite, df):
    res = suite.validate(df)
    try:
        summary = [r.asDict() for r in res.summary.collect()]
        violations = [r.asDict(recursive=True) for r in res.violations.collect()]
    finally:
        res.unpersist()
    return summary, violations


def _check_profile(f: dict, cols: list[str]):
    def checker(doc) -> str:
        nulls = {v["name"]: v["num_missing"] for v in doc["variables"]}
        return _diff("num_rows", doc["table"]["num_rows"], f["rows"]) or _diff(
            "num_missing", nulls, {c: f["expected"]["nulls"][c] for c in cols}
        )

    return checker


def _check_summary_rows(rows: int):
    """Every constraint's per-partition row counts add up to the table."""

    def checker(out) -> str:
        summary, _ = out
        per: dict[str, int] = {}
        for r in summary:
            per[r["constraint"]] = per.get(r["constraint"], 0) + r["n_rows"]
        bad = {c: n for c, n in per.items() if n != rows}
        return f"summary rows {bad} != {rows}" if bad or not per else ""

    return checker


def _check_transcripts_violations(f: dict):
    exp = f["expected"]

    def checker(out) -> str:
        summary, violations = out
        by: dict[str, list[dict]] = {}
        for v in violations:
            by.setdefault(v["constraint"], []).append(v)
        uniq = sorted(
            [v["keys"]["conv_id"], int(v["keys"]["turn_idx"])]
            for v in by.pop("unique(conv_id,turn_idx)", [])
        )
        dense = sorted(v["keys"]["conv_id"] for v in by.pop("dense(turn_idx per conv_id)", []))
        roles = [v["details"]["value"] for v in by.pop("domain(role)", [])]
        tools = [v["details"]["value"] for v in by.pop("domain(tool)", [])]
        return (
            _diff("unique keys", uniq, exp["unique"])
            or _diff("dense convs", dense, exp["dense"])
            or _diff("bad roles", roles, ["moderator"] * exp["bad_role_rows"])
            or _diff("bad tools", tools, ["shell"] * exp["bad_tool_rows"])
            or _diff("other violations", sorted(by), [])
            or _check_summary_rows(f["rows"])(out)
        )

    return checker


class TranscriptsFull:
    name = "transcripts_full"

    def load(self, ctx: Context, manifest: dict) -> dict:
        return {"table": manifest["files"][0]}

    def turns(self, inp: dict) -> int:
        return inp["table"]["rows"]

    def warm_up(self, ctx: Context, inp: dict) -> None:
        self.run_pass(ctx, inp)

    def run_pass(self, ctx: Context, inp: dict) -> None:
        f = inp["table"]
        df = ctx.read(f["path"])
        parent = ctx.tracer.current()
        with ThreadPoolExecutor(max_workers=2) as pool:
            prof = pool.submit(
                ctx.call, "profile.profile_table", "profile",
                lambda: profile_table(df, None, PROFILE_CONFIG), parent,
            )
            val = pool.submit(
                ctx.call, "constraints.validate", "constraints",
                lambda: _collect_validation(transcripts_suite(), df), parent,
            )
            prof_out, val_out = prof.result(), val.result()
        ctx.check("profile_table", prof_out, _check_profile(f, df.columns))
        ctx.check("validate", val_out, _check_transcripts_violations(f))

    def sweep_table(self, inp: dict) -> dict:
        return inp["table"]


# --------------------------------------------------------------------------
# resume_snapshots
# --------------------------------------------------------------------------
def _partition_map(ctx: Context, path: str) -> dict[str, str]:
    """conv_id -> resume partition key, computed once by Spark (untimed)
    so the checks know which partitions each planted defect touched."""
    rows = (
        ctx.read(path)
        .select("conv_id", F.expr(RESUME_EXPR).cast("string").alias("p"))
        .distinct()
        .collect()
    )
    return {r["conv_id"]: r["p"] for r in rows}


def _suite(tracer: Tracer) -> TracedSuite:
    base = transcripts_suite()
    return TracedSuite(base.constraints, base.partition_expr, tracer=tracer)


def _kill(store_dir: str, before: set[str], changed: set[str]) -> set[str]:
    """Delete half of the last snapshot's checkpoint records (the files its
    run wrote): every digest-changed partition plus unchanged ones in key
    order. Returns the deleted partition keys."""
    written = {
        fn.rsplit("-", 1)[0]: fn
        for fn in os.listdir(store_dir)
        if fn.endswith(".parquet") and fn not in before
    }
    keys = sorted(written, key=lambda k: (k not in changed, int(k)))
    deleted = set(keys[: max(len(keys) // 2, len(changed & set(keys)))])
    for k in deleted:
        os.remove(os.path.join(store_dir, written[k]))
    return deleted


def _check_run(processed: set, carried: set, skipped: set, universe: set):
    def checker(res) -> str:
        p, c, s = (set(x) for x in (
            res.processed_partitions, res.carried_partitions, res.skipped_partitions
        ))
        sizes = len(res.processed_partitions) + len(res.carried_partitions) + len(
            res.skipped_partitions
        )
        if sizes != len(universe) or (p | c | s) != universe:
            return "partitions not covered exactly once"
        return (
            _diff("processed", sorted(p), sorted(processed))
            or _diff("carried", sorted(c), sorted(carried))
            or _diff("skipped", sorted(s), sorted(skipped))
        )

    return checker


def chain_steps(ctx: Context, snaps: list[dict], part: dict[str, str]):
    """Cold run, incremental runs, simulated kill and resume over a chain of
    snapshots ``[{path, rows, touched_convs}]``, one ``run_validation`` call
    (one checked operation) per step: yields after each call but the last,
    then returns the phase times and partition tallies."""
    d = ctx.fresh_dir("chain")
    store_dir = os.path.join(d, "checkpoint")
    store = TracedStore(store_dir, ctx.tracer)
    suite = _suite(ctx.tracer)
    vpath = os.path.join(d, "violations")
    universe = set(part.values())
    phases: dict[str, list[float]] = {"cold": [], "incremental": [], "resume": []}
    tally = {"processed": 0, "carried": 0, "skipped": 0}

    def validate(path: str, snap_id: str, phase: str, expect: tuple) -> None:
        t0 = time.perf_counter()
        out = ctx.call(
            f"run.{phase}", "run",
            lambda: run_validation(
                ctx.read(path), suite, store, "transcripts", snap_id,
                violations_path=vpath, resume_partition_expr=RESUME_EXPR,
                input_digest_columns=DIGEST_COLUMNS,
            ),
        )
        phases[phase].append(time.perf_counter() - t0)
        ctx.check(f"run.{phase}", out, _check_run(*expect, universe))
        if out[0]:
            res = out[1]
            tally["processed"] += len(res.processed_partitions)
            tally["carried"] += len(res.carried_partitions)
            tally["skipped"] += len(res.skipped_partitions)

    changed: set[str] = set()
    before: set[str] = set()
    for i, snap in enumerate(snaps):
        changed = {part[c] for c in snap["touched_convs"]}
        if i == 0:
            expect = (universe, set(), set())
        else:
            expect = (changed, universe - changed, set())
        before = set(os.listdir(store_dir))
        validate(snap["path"], f"snap-{i}", "cold" if i == 0 else "incremental", expect)
        yield
    with ctx.tracer.span("bench.kill", "bench"):
        deleted = _kill(store_dir, before, changed)
    last = snaps[-1]
    validate(
        last["path"], f"snap-{len(snaps) - 1}", "resume",
        (deleted & changed, deleted - changed, universe - deleted),
    )
    out = {
        "cold_s": phases["cold"][0],
        "incremental_s": statistics.median(phases["incremental"]),
        "resume_s": phases["resume"][0],
        "record_files": sum(fn.endswith(".parquet") for fn in os.listdir(store_dir)),
        "writes": store.writes,
        **tally,
    }
    shutil.rmtree(d, ignore_errors=True)
    return out


def run_chain(ctx: Context, snaps: list[dict], part: dict[str, str]) -> dict:
    """The whole chain of ``chain_steps``; returns its summary."""
    steps = chain_steps(ctx, snaps, part)
    while True:
        try:
            next(steps)
        except StopIteration as done:
            return done.value


# --------------------------------------------------------------------------
# drift (layer sweep)
# --------------------------------------------------------------------------
def _day_split(path: str) -> dict:
    """First-half days vs second-half days, plus the numpy reference
    values for the exact-route checks."""
    lens, days = text_lengths_by_day(path)
    uniq = np.unique(days)
    mid = int(uniq[len(uniq) // 2])
    a, b = lens[days < mid], lens[days >= mid]
    return {"mid_day": mid, "ref": _reference(a, b)}


def _reference(a: np.ndarray, b: np.ndarray) -> dict:
    """Exact two-sample KS statistic and Mann-Whitney U_a (midranks)."""
    a, b = np.sort(a), np.sort(b)
    vals = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(a, vals, side="right") / len(a)
    fb = np.searchsorted(b, vals, side="right") / len(b)
    pooled_vals, counts = np.unique(np.concatenate([a, b]), return_counts=True)
    midrank = np.cumsum(counts) - (counts - 1) / 2.0
    ranks_a = midrank[np.searchsorted(pooled_vals, a)]
    u_a = float(ranks_a.sum() - len(a) * (len(a) + 1) / 2.0)
    return {
        "n_a": len(a),
        "n_b": len(b),
        "ks": float(np.abs(fa - fb).max()),
        "u_a": u_a,
    }


def _drift_frames(ctx: Context, path: str, mid_day: int):
    epoch = F.expr(EPOCH_EXPR)
    sel = ctx.read(path).select(
        F.length("text").alias("text_len"),
        epoch.alias("ts_s"),
        F.floor(epoch / 86_400).alias("day"),
    )
    return sel.where(F.col("day") < mid_day), sel.where(F.col("day") >= mid_day)


def _multi(df):
    return drift.drift_report_multi(
        df.withColumn("text_len", F.length("text")),
        [("text_len", True), ("turn_idx", True), ("role", False)],
        DAY_EXPR,
    ).collect()


def _check_multi(drifted_day: int | None):
    """KS flags the drifted day's text_len pair and no pair of two full
    days (partial edge days differ from their neighbours by sampling
    noise alone). ``drifted_day`` None: nothing may be flagged."""
    import datetime as dt

    drifted = None
    if drifted_day is not None:
        drifted = (dt.date(1970, 1, 1) + dt.timedelta(days=drifted_day)).isoformat()

    def checker(rows) -> str:
        text = [r for r in rows if r["column"] == "text_len"]
        hit = [r for r in text if r["partition_b"] == drifted]
        if drifted is not None and not (len(hit) == 1 and hit[0]["ks_flag"]):
            return f"drifted day {drifted} not flagged"
        stray = [
            (r["partition_a"], r["partition_b"])
            for r in text
            if r["ks_flag"] and r["partition_b"] != drifted
            and min(r["n_a"], r["n_b"]) >= MIN_DAY_ROWS
        ]
        return f"flagged without drift: {stray}" if stray else ""

    return checker


def _check_panel_row(ref: dict, fn_name: str, exact: bool):
    def checker(rows) -> str:
        r = rows[0].asDict()
        if exact and fn_name == "ks_exact" and abs(r["ks"] - ref["ks"]) > 1e-6:
            return f"ks {r['ks']} != numpy {ref['ks']}"
        if exact and fn_name == "mann_whitney_2s" and abs(r["u_a"] - ref["u_a"]) > 1e-6:
            return f"u_a {r['u_a']} != numpy {ref['u_a']}"
        if exact and "n_a" in r and (r["n_a"], r["n_b"]) != (ref["n_a"], ref["n_b"]):
            return f"sizes {(r['n_a'], r['n_b'])} != {(ref['n_a'], ref['n_b'])}"
        return ""

    return checker


def _panel_call(fn, a, b, exact: bool):
    if exact:
        return lambda: fn(a, b, "text_len").collect()
    return lambda: fn(a, b, "ts_s", max_distinct=BINNED_MAX_DISTINCT).collect()


class ResumeSnapshots:
    """A snapshot chain of the skewed corpus goes through checkpointed
    ``run_validation``: cold, incremental, simulated kill, resume. A pass is
    one call, the next step of the chain; after the resume the next pass
    starts a new chain on a new store. Every step costs about the same (the
    fixed work of a call outweighs the partitions it validates), so the
    median over steps is steadier than one time per chain."""

    name = "resume_snapshots"

    def load(self, ctx: Context, manifest: dict) -> dict:
        snaps = manifest["files"]
        return {"snaps": snaps, "part": _partition_map(ctx, snaps[-1]["path"])}

    def turns(self, inp: dict) -> int:
        # a call reads one snapshot (the first one is a row shorter)
        return inp["snaps"][-1]["rows"]

    def warm_up(self, ctx: Context, inp: dict) -> None:
        run_chain(ctx, inp["snaps"], inp["part"])

    def run_pass(self, ctx: Context, inp: dict) -> None:
        steps = ctx.chain or chain_steps(ctx, inp["snaps"], inp["part"])
        ctx.chain = None
        try:
            next(steps)
        except StopIteration:
            return
        ctx.chain = steps

    def sweep_table(self, inp: dict) -> dict:
        return inp["snaps"][-1]


WORKLOADS = {w.name: w for w in (TranscriptsFull(), ResumeSnapshots())}


# --------------------------------------------------------------------------
# Layer sweep (traced runs)
# --------------------------------------------------------------------------
def sweep(ctx: Context, wl, inp: dict, counter: SparkCounter) -> dict:
    """Call every layer alone on the workload's input; returns per-layer
    metrics. Times are seconds of one call; counts are Spark jobs/tasks
    that call ran."""
    f = wl.sweep_table(inp)
    df = ctx.read(f["path"])
    m: dict[str, float] = {}

    def measure(name: str, layer: str, fn):
        before = counter.mark()
        t0 = time.perf_counter()
        out = ctx.call(name, layer, fn)
        dt_ = time.perf_counter() - t0
        return out, dt_, counter.since(before)

    out, m["detect.sample_probe_s"], _ = measure(
        "detect.sample_probe", "detect", lambda: detect.sample_probe(df)
    )
    ctx.check("sample_probe", out, lambda info: _diff("sample rows", info.sample_n, min(f["rows"], 10_000)))

    has_nulls = "expected" in f and "nulls" in f["expected"]
    out, m["profile.profile_table_s"], c = measure(
        "profile.profile_table", "profile", lambda: profile_table(df, None, PROFILE_CONFIG)
    )
    m["profile.jobs"], m["profile.tasks"] = c["jobs"], c["tasks"]
    rows_only = lambda doc: _diff("num_rows", doc["table"]["num_rows"], f["rows"])  # noqa: E731
    ctx.check("profile_table", out, _check_profile(f, df.columns) if has_nulls else rows_only)
    out, m["profile.text_only_s"], _ = measure(
        "profile.text_only", "profile", lambda: profile_table(df.select("text"), None, PROFILE_CONFIG)
    )
    ctx.check("profile_text_only", out, rows_only)
    out, m["profile.non_text_s"], _ = measure(
        "profile.non_text", "profile", lambda: profile_table(df.drop("text"), None, PROFILE_CONFIG)
    )
    ctx.check("profile_non_text", out, rows_only)

    full = transcripts_suite()
    singles = {
        "unique_key": [unique_key(["conv_id", "turn_idx"])],
        "dense_sequence": [dense_sequence("conv_id", "turn_idx")],
        "row_local": [
            domain("role", ["system", "user", "assistant", "tool"], nullable=False),
            domain("tool", ["search", "code", "browser", "none"], nullable=True),
            not_null("conv_id"),
        ],
    }
    out, m["constraints.validate_s"], c = measure(
        "constraints.validate", "constraints", lambda: _collect_validation(full, df)
    )
    m["constraints.jobs"], m["constraints.tasks"] = c["jobs"], c["tasks"]
    ctx.check(
        "validate", out,
        _check_transcripts_violations(f) if wl.name == "transcripts_full" else _check_summary_rows(f["rows"]),
    )
    for key, cons in singles.items():
        suite = ConstraintSuite(cons, full.partition_expr)
        out, m[f"constraints.{key}_s"], c = measure(
            f"constraints.{key}", "constraints", lambda s=suite: _collect_validation(s, df)
        )
        m[f"constraints.{key}.jobs"] = c["jobs"]
        ctx.check(key, out, _check_summary_rows(f["rows"]))

    if wl.name == "resume_snapshots":
        snaps, part = inp["snaps"], inp["part"]
    else:
        part = _partition_map(ctx, f["path"])
        snaps = [{**f, "touched_convs": []}, {**f, "touched_convs": []}]
    out, m["run.partition_input_digests_s"], _ = measure(
        "run.partition_input_digests", "run",
        lambda: partition_input_digests(df, RESUME_EXPR, DIGEST_COLUMNS),
    )
    ctx.check(
        "partition_input_digests", out,
        lambda d: _diff("digest partitions", sorted(d), sorted(set(part.values()))),
    )
    first_span = len(ctx.tracer.spans)
    chain = run_chain(ctx, snaps, part)
    spans = ctx.tracer.spans[first_span:]
    for k in ("cold_s", "incremental_s", "resume_s"):
        m[f"run.{k}"] = chain[k]
    for k in ("processed", "carried", "skipped"):
        m[f"run.{k}"] = chain[k]
    m["run.validate_s"] = sum(s["end"] - s["start"] for s in spans if s["name"] == "run.validate")
    for op in ("completed", "latest_digests", "commit", "carry_forward"):
        m[f"checkpoint.{op}_s"] = sum(
            s["end"] - s["start"] for s in spans if s["name"] == f"checkpoint.{op}"
        )
    # the first call reads an empty store, the last one every record the
    # chain wrote: their difference is what record growth costs
    completed = [s["end"] - s["start"] for s in spans if s["name"] == "checkpoint.completed"]
    m["checkpoint.completed_first_s"] = completed[0]
    m["checkpoint.completed_last_s"] = completed[-1]
    m["checkpoint.record_files"] = chain["record_files"]
    m["checkpoint.writes"] = chain["writes"]

    drifted = f.get("expected", {}).get("drifted_day")
    out, m["drift.drift_report_multi_s"], c = measure(
        "drift.drift_report_multi", "drift", lambda: _multi(df)
    )
    m["drift.drift_report_multi.jobs"] = c["jobs"]
    ctx.check("drift_report_multi", out, _check_multi(drifted))
    split = _day_split(f["path"])
    a, b = _drift_frames(ctx, f["path"], split["mid_day"])
    for exact in (True, False):
        route = "exact" if exact else "binned"
        total = 0.0
        for fn in PANEL:
            n = fn.__name__
            out, dt_, c = measure(f"drift.{n}.{route}", "drift", _panel_call(fn, a, b, exact))
            m[f"drift.{n}.{route}_s"] = dt_
            m[f"drift.{n}.{route}_jobs"] = c["jobs"]
            total += dt_
            ctx.check(f"{n}.{route}", out, _check_panel_row(split["ref"], n, exact))
        m[f"drift.{route}_route_s"] = total
    return m
