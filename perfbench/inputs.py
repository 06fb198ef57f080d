"""Seeded benchmark inputs, written as parquet outside every timed region.

Each workload's inputs are generated with ``profiler.synth`` from the
benchmark seed, cached under the work directory by (workload, seed), and
described by a manifest: seed, row counts and a SHA-256 per file, so two
runs can show that they measured the same inputs. The expectations the
correctness checks need (planted defect keys, drifted day, ...) travel in
the manifest too.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from profiler import synth

# Input sizes (turns): small enough that a pass takes seconds on local[4].
TRANSCRIPTS_TURNS = 30_000
SNAPSHOT_TURNS = 20_000
SNAPSHOTS = 2
# Each table is a directory of this many parquet files, so scans split into
# one task per file and local[4] runs them in parallel (a single file of
# this size would be one 1m split, one task).
FILES_PER_TABLE = 4


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _digests(path: str) -> list[str]:
    return [_sha256(os.path.join(path, fn)) for fn in sorted(os.listdir(path))]


def _write(tbl: pa.Table, path: str) -> dict:
    os.makedirs(path)
    step = -(-tbl.num_rows // FILES_PER_TABLE)
    digests = []
    for i in range(FILES_PER_TABLE):
        part = os.path.join(path, f"part-{i:05d}.parquet")
        synth.write_parquet(tbl.slice(i * step, step), part)
        digests.append(_sha256(part))
    return {"path": path, "rows": tbl.num_rows, "sha256": digests}


def _keys(pairs) -> list[list]:
    return sorted([str(c), int(t)] for c, t in pairs)


def _transcripts(n: int, seed: int, out: str) -> dict:
    """Default Zipf corpus with planted gaps, duplicate keys and bad domain
    values; the expected violations come from ``synth.with_*``."""
    tbl = synth.make_transcripts(n, seed=seed)
    tbl, gaps = synth.with_gaps(tbl, seed=seed + 1)
    tbl, dups = synth.with_duplicate_keys(tbl, seed=seed + 2)
    n_bad = 6
    tbl, bad = synth.with_bad_domain(tbl, n_bad=n_bad, seed=seed + 3)
    f = _write(tbl, os.path.join(out, "transcripts"))
    f["expected"] = {
        "unique": _keys(dups),
        "dense": sorted({c for c, _ in gaps} | {c for c, _ in dups}),
        "bad_role_rows": n_bad // 2,
        "bad_tool_rows": n_bad - n_bad // 2,
        "nulls": {c: tbl.column(c).null_count for c in tbl.column_names},
    }
    return {"files": [f]}


def _plant(tbl: pa.Table, rng: np.random.Generator) -> tuple[pa.Table, list[str]]:
    """One new snapshot: duplicate one turn and rewrite the text of a turn
    in another conversation. Returns the table and the touched conv_ids."""
    n = tbl.num_rows
    i, j = (int(x) for x in rng.choice(n, size=2, replace=False))
    conv = tbl.column("conv_id")
    text = tbl.column("text").to_pylist()
    text[j] = f"{text[j] or ''} revised"
    tbl = tbl.set_column(3, "text", pa.array(text, type=pa.string()))
    tbl = pa.concat_tables([tbl, tbl.slice(i, 1)])
    return tbl, sorted({conv[i].as_py(), conv[j].as_py()})


def _chain(n: int, seed: int, k: int, out: str) -> dict:
    """A chain of ``k`` immutable snapshots of the 1%-whale skewed corpus
    whose text lengths drift on the last day (``synth.with_drift``); each
    later snapshot plants a few defects."""
    rng = np.random.default_rng(seed + 7)
    tbl = synth.make_transcripts(n, seed=seed, whale_frac=0.01)
    tbl, drifted_day = synth.with_drift(tbl, seed=seed + 1)
    files = []
    for s in range(k):
        touched: list[str] = []
        if s:
            tbl, touched = _plant(tbl, rng)
        f = _write(tbl, os.path.join(out, f"snapshot-{s}"))
        f["touched_convs"] = touched
        f["expected"] = {"drifted_day": int(drifted_day)}
        files.append(f)
    return {"files": files}


def _make(workload: str, seed: int, out: str) -> dict:
    if workload == "transcripts_full":
        return _transcripts(TRANSCRIPTS_TURNS, seed, out)
    if workload == "resume_snapshots":
        return _chain(SNAPSHOT_TURNS, seed, SNAPSHOTS, out)
    raise ValueError(f"unknown workload {workload!r}")


def prepare(workload: str, seed: int, root: str) -> dict:
    """Generate (or reuse) the inputs for one workload and seed; returns
    the manifest."""
    out = os.path.join(root, f"{workload}-seed{seed}")
    mpath = os.path.join(out, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            manifest = json.load(f)
        if all(_digests(x["path"]) == x["sha256"] for x in manifest["files"]):
            return manifest
        shutil.rmtree(out)
    os.makedirs(out)
    manifest = {"workload": workload, "seed": seed}
    manifest.update(_make(workload, seed, out))
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    return manifest


def summary(manifest: dict) -> dict:
    """The manifest fields printed with every result."""
    return {
        "seed": manifest["seed"],
        "files": [
            {"name": os.path.basename(x["path"]), "rows": x["rows"], "sha256": x["sha256"]}
            for x in manifest["files"]
        ],
    }


def text_lengths_by_day(path: str) -> tuple[np.ndarray, np.ndarray]:
    """(text length, UTC day number) per non-null text row, read back from
    the parquet file for the numpy recomputations."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["text", "ts"])
    keep = pc.is_valid(t.column("text"))
    t = t.filter(keep)
    lens = pc.utf8_length(t.column("text")).to_numpy(zero_copy_only=False)
    micros = t.column("ts").cast(pa.int64()).to_numpy(zero_copy_only=False)
    return lens.astype(np.int64), micros // 1_000_000 // 86_400
