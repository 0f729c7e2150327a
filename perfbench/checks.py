"""Output checks for the archive workloads.

Each sink is read back from disk and compared, epoch by epoch, with the
generator's manifest: every expected id must appear exactly once under
its routing key, and nothing else may appear. The quarantine must hold
each poison line exactly once. `self_test` proves on the real
observations that the comparison catches one dropped row and one
duplicated row.
"""

from __future__ import annotations

import copy
import json
import os
from collections import Counter

import pyarrow.parquet as pq

Rows = dict[str, list[str]]  # routing key -> ids


def diff_rows(expected: Rows, observed: Rows) -> list[str]:
    """Problems found comparing two routing-key -> ids maps; empty when
    every expected id is present exactly once and nothing is extra."""
    problems = []
    for key in sorted(set(expected) | set(observed)):
        want = Counter(expected.get(key, ()))
        got = Counter(observed.get(key, ()))
        if want == got:
            continue
        missing = sum((want - got).values())
        extra = sum((got - want).values())
        dups = sum(1 for n in got.values() if n > 1)
        problems.append(
            f"{key}: {missing} missing, {extra} extra, {dups} duplicated ids"
        )
    return problems


def read_adb(out_dir: str) -> dict[int, Rows]:
    """epoch -> routing key -> ids from the ADB-style parquet layout
    `data/epoch_id=<n>/db_tb_name=<key>/*.parquet`."""
    out: dict[int, Rows] = {}
    data = os.path.join(out_dir, "data")
    if not os.path.isdir(data):
        return out
    for edir in os.listdir(data):
        if not edir.startswith("epoch_id="):
            continue
        epoch = int(edir.split("=", 1)[1])
        for kdir in os.listdir(os.path.join(data, edir)):
            if not kdir.startswith("db_tb_name="):
                continue
            key = kdir.split("=", 1)[1]
            ids = out.setdefault(epoch, {}).setdefault(key, [])
            base = os.path.join(data, edir, kdir)
            for f in os.listdir(base):
                if f.endswith(".parquet"):
                    t = pq.read_table(os.path.join(base, f), columns=["id"])
                    ids.extend(t.column("id").to_pylist())
    return out


def read_sr(sr_dir: str, query_id: str) -> tuple[dict[int, Rows], dict[int, list[int]]]:
    """epoch -> routing key -> ids, and epoch -> chunk sizes, from the
    Stream-Load payload files `<key>/sink_sr_<query>_<epoch>_..json`."""
    rows: dict[int, Rows] = {}
    sizes: dict[int, list[int]] = {}
    prefix = f"sink_sr_{query_id}_"
    if not os.path.isdir(sr_dir):
        return rows, sizes
    for key in os.listdir(sr_dir):
        for f in os.listdir(os.path.join(sr_dir, key)):
            if not (f.startswith(prefix) and f.endswith(".json")):
                continue
            epoch = int(f[len(prefix):].split("_", 1)[0])
            with open(os.path.join(sr_dir, key, f), encoding="utf-8") as fh:
                chunk = json.load(fh)
            rows.setdefault(epoch, {}).setdefault(key, []).extend(
                r["id"] for r in chunk
            )
            sizes.setdefault(epoch, []).append(len(chunk))
    return rows, sizes


def read_quarantine(q_dir: str) -> list[str]:
    if not os.path.isdir(q_dir):
        return []
    t = pq.read_table(q_dir, columns=["instance_name", "raw_value"]).to_pydict()
    return [f"{i}|{v}" for i, v in zip(t["instance_name"], t["raw_value"])]


def self_test(expected: Rows, observed: Rows) -> list[str]:
    """The comparison must flag one dropped and one duplicated row of a
    real observation; returns the cases it failed to flag."""
    key = next((k for k, v in observed.items() if v), None)
    if key is None:
        return ["no observed rows to mutate"]
    misses = []
    dropped = copy.deepcopy(observed)
    dropped[key].pop()
    if not diff_rows(expected, dropped):
        misses.append("one dropped row went unnoticed")
    duped = copy.deepcopy(observed)
    duped[key].append(duped[key][0])
    if not diff_rows(expected, duped):
        misses.append("one duplicated row went unnoticed")
    return misses
