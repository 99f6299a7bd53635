"""Correctness checks for the CDC workloads: read back what both sinks
wrote and compare it with the generator's manifest, and reconcile the
per-epoch guard counters with the input.

The read-back uses pyarrow and plain file reads, not Spark, so it does
not share code with the program under test."""

from __future__ import annotations

import json
import os
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

from .gen_cdc import GUARD_BUCKETS, Manifest


def read_adb(out_dir: str) -> tuple[dict[int, list], set[int]]:
    """Rows of the ADB-style parquet archive, by epoch: epoch ->
    [(db_tb_name, id, record_del_time_ms)]. Also returns the epochs the
    sink's ledger marks committed."""
    data = os.path.join(out_dir, "data")
    ledger = os.path.join(out_dir, "_ledger")
    committed = set()
    if os.path.isdir(ledger):
        for name in os.listdir(ledger):
            committed.add(int(name.rsplit("_", 1)[1]))
    rows: dict[int, list] = defaultdict(list)
    if not os.path.isdir(data):
        return rows, committed
    for edir in os.listdir(data):
        if not edir.startswith("epoch_id="):
            continue
        epoch = int(edir.split("=", 1)[1])
        epath = os.path.join(data, edir)
        for tdir in os.listdir(epath):
            if not tdir.startswith("db_tb_name="):
                continue
            tbl = tdir.split("=", 1)[1]
            tpath = os.path.join(epath, tdir)
            for f in os.listdir(tpath):
                if not f.endswith(".parquet"):
                    continue
                t = pq.read_table(
                    os.path.join(tpath, f), columns=["id", "record_del_time"]
                )
                ids = t.column("id").to_pylist()
                ts = (
                    t.column("record_del_time")
                    .cast(pa.timestamp("ms"), safe=False)
                    .cast(pa.int64())
                    .to_pylist()
                )
                rows[epoch].extend(zip([tbl] * len(ids), ids, ts))
    return rows, committed


def read_sr(root: str) -> tuple[Manifest, int, list[str]]:
    """What the SR-style label files hold, in manifest form; the number
    of label files; and any problems (half-written files)."""
    s = Manifest()
    problems = []
    n_files = 0
    if not os.path.isdir(root):
        return s, 0, problems
    for tbl in sorted(os.listdir(root)):
        tdir = os.path.join(root, tbl)
        for f in sorted(os.listdir(tdir)):
            path = os.path.join(tdir, f)
            if not f.endswith(".json"):
                problems.append(f"sr: stray file {tbl}/{f}")
                continue
            n_files += 1
            with open(path, encoding="utf-8") as fh:
                for row in json.load(fh):
                    s.add_archived(tbl, row["id"])
    return s, n_files, problems


def compare_tables(sink: str, expected: dict, got: dict) -> list[str]:
    problems = []
    for tbl in sorted(set(expected) | set(got)):
        e = expected.get(tbl, {"count": 0, "idhash": 0})
        g = got.get(tbl, {"count": 0, "idhash": 0})
        if e["count"] != g["count"]:
            problems.append(
                f"{sink}: {tbl} has {g['count']} rows, expected {e['count']}"
            )
        elif e["idhash"] != g["idhash"]:
            problems.append(f"{sink}: {tbl} id set differs from the manifest")
    return problems


def check_guards(manifest: dict, epochs: list[dict]) -> list[str]:
    """Sum the per-epoch `guards` observe() counters and compare them,
    bucket by bucket, with the generator's cascade; also check that the
    epochs read every input row exactly once."""
    got = dict.fromkeys(GUARD_BUCKETS, 0)
    n_in = 0
    for p in epochs:
        n_in += p["numInputRows"]
        g = p["observed"].get("guards") or {}
        for k in GUARD_BUCKETS:
            got[k] += int(g.get(k) or 0)
    problems = []
    if n_in != manifest["n_input"]:
        problems.append(
            f"guards: epochs read {n_in} rows, generator wrote "
            f"{manifest['n_input']}"
        )
    for k in GUARD_BUCKETS:
        if got[k] != manifest["guards"][k]:
            problems.append(
                f"guards: {k} = {got[k]}, expected {manifest['guards'][k]}"
            )
    return problems


def check_cdc(manifest: dict, adb_dir: str, sr_dir: str, epochs: list[dict]):
    """All CDC checks. Returns (problems, adb_rows_by_epoch, n_sr_files)."""
    adb_rows, committed = read_adb(adb_dir)
    problems = []
    stray = sorted(set(adb_rows) - committed)
    if stray:
        problems.append(f"adb: epochs {stray} written but not committed")
    adb = Manifest()
    for e in committed:
        for tbl, rid, _ in adb_rows.get(e, ()):
            adb.add_archived(tbl, rid)
    problems += compare_tables("adb", manifest["tables"], adb.tables)
    sr, n_sr_files, sr_problems = read_sr(sr_dir)
    problems += sr_problems
    problems += compare_tables("sr", manifest["tables"], sr.tables)
    problems += check_guards(manifest, epochs)
    return problems, adb_rows, n_sr_files
