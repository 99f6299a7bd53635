"""Seeded CDC envelope generator: the benchmark's source of ground truth.

It stands apart from the program under test: it writes Debezium-shaped
JSON envelopes and, beside them, a manifest of what the archival job
must produce. The program never sees the manifest.

Input properties the generator controls (all from the seed):
- delete share: about 40% of envelopes are ``op = "d"``;
- guard violations at fixed rates: blank table, null ``before``,
  missing ``before.id``, ``ts_ms <= 0``;
- Zipf-skewed routes: a few tables take most rows, so the SR sink's
  ``repartition("db_tb_name")`` sees skewed partitions;
- a long-tailed (log-normal) pre-image payload size.

The manifest holds, for every ``db_tb_name`` that must archive, the row
count and an order-independent hash of the id set (a 64-bit sum of
per-id hashes, so a lost or a duplicated row both change it), plus the
expected guard-bucket counts that ``observe_guard_drops`` reports.

Run ``python3 perfbench/gen_cdc.py --seed 7 --out DIR`` to write, with
its manifest, the backlog a ``--seconds 16`` run of the ``cdc`` workload
drains on this machine.

Where each parameter below comes from is listed in perfbench/README.md
("Input parameters"); most are assumptions, not measured traffic.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
from dataclasses import dataclass, field

import numpy as np

DB_ALIAS = "demo"
N_INSTANCES = 3
N_TABLES = 16
ZIPF_S = 1.2
DELETE_SHARE = 0.40
# Guard-violation rates, drawn independently per envelope; the cascade
# below attributes each delete to the first guard it fails, exactly as
# `observe_guard_drops` does.
BLANK_TABLE_RATE = 0.015
NULL_BEFORE_RATE = 0.015
NO_ID_RATE = 0.015
BAD_TS_RATE = 0.015
PAYLOAD_LOG_MEAN = 4.2
PAYLOAD_LOG_SIGMA = 1.0
PAYLOAD_MAX = 4000
BASE_TS_MS = 1_700_000_000_000

# Backlog shape: a warm-up file, then whole epochs of one file per CPU.
BACKLOG_LINES_PER_FILE = 2000
WARMUP_LINES = 2000
BACKLOG_NOMINAL_ROWS_PER_S = 4000  # sizes the backlog to drain in about its share
# Epochs of the released backlog still on the JIT warm-up curve; the
# backlog holds them on top of the measured ones.
BACKLOG_WARM_EPOCHS = 4
# The command line writes the backlog of a `--seconds 16` run, which
# gives the drain half of its time.
CLI_DRAIN_SECONDS = 8

GUARD_BUCKETS = (
    "n_not_delete",
    "n_blank_table",
    "n_null_before",
    "n_no_id",
    "n_bad_ts",
    "n_archived",
)

_MASK64 = (1 << 64) - 1


def id_hash(row_id: str) -> int:
    return int.from_bytes(
        hashlib.blake2b(row_id.encode("utf-8"), digest_size=8).digest(),
        "little",
    )


def instance_names() -> list[str]:
    return [f"src-{i}" for i in range(N_INSTANCES)]


def table_names() -> list[str]:
    return [f"t_{i:02d}" for i in range(N_TABLES)]


@dataclass
class Manifest:
    """Expected archive contents: per routing key, row count and id-set
    hash; plus the expected guard-bucket totals over all input."""

    tables: dict = field(default_factory=dict)
    guards: dict = field(default_factory=lambda: dict.fromkeys(GUARD_BUCKETS, 0))
    n_input: int = 0

    def add_archived(self, db_tb_name: str, row_id: str) -> None:
        e = self.tables.setdefault(db_tb_name, {"count": 0, "idhash": 0})
        e["count"] += 1
        e["idhash"] = (e["idhash"] + id_hash(row_id)) & _MASK64

    def to_json(self) -> dict:
        return {
            "n_input": self.n_input,
            "guards": dict(self.guards),
            "tables": {k: dict(v) for k, v in sorted(self.tables.items())},
        }


class EnvelopeSource:
    """Deterministic stream of envelopes. ``take(n)`` returns the next
    ``n`` as (instance, json template, has_ts) triples: the template
    holds ``{ts}`` where the envelope's ``ts_ms`` goes, unless the row
    carries a bad timestamp of its own (``has_ts`` false). Every call
    also updates ``manifest``."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.manifest = Manifest()
        self.next_id = 0
        ranks = np.arange(1, N_TABLES + 1, dtype=float)
        w = ranks ** -ZIPF_S
        self.table_p = w / w.sum()
        alphabet = np.frombuffer(
            b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 ",
            dtype=np.uint8,
        )
        filler = bytes(
            alphabet[self.rng.integers(0, len(alphabet), PAYLOAD_MAX + 1)]
        ).decode("ascii")
        self.filler = filler + filler

    def take(self, n: int) -> list[tuple[str, str, bool]]:
        rng = self.rng
        inst = rng.integers(0, N_INSTANCES, n)
        u_op = rng.random(n)
        tbl = rng.choice(N_TABLES, size=n, p=self.table_p)
        blank = rng.random(n) < BLANK_TABLE_RATE
        null_before = rng.random(n) < NULL_BEFORE_RATE
        no_id = rng.random(n) < NO_ID_RATE
        bad_ts = rng.random(n) < BAD_TS_RATE
        plen = np.minimum(
            rng.lognormal(PAYLOAD_LOG_MEAN, PAYLOAD_LOG_SIGMA, n), PAYLOAD_MAX
        ).astype(int)
        poff = rng.integers(0, PAYLOAD_MAX, n)
        amount = rng.integers(1, 10_000_000, n)
        names = instance_names()
        tables = table_names()
        g = self.manifest.guards
        out = []
        for i in range(n):
            rid = str(self.next_id)
            self.next_id += 1
            u = u_op[i]
            op = "d" if u < DELETE_SHARE else ("u" if u < 0.7 else "i")
            table = (" " * (i % 3)) if blank[i] else tables[tbl[i]]
            off = int(poff[i])
            payload = self.filler[off : off + int(plen[i])]
            if op == "i" or null_before[i]:
                before = "null"
            elif no_id[i]:
                before = f'{{"note":"no id","payload":"{payload}"}}'
            else:
                before = (
                    f'{{"id":"{rid}","amount":"{amount[i] / 100:.2f}",'
                    f'"payload":"{payload}"}}'
                )
            ts = "-5" if bad_ts[i] else "{ts}"
            line = (
                f'{{"op":"{op}","ts_ms":{ts},"source":{{"db":"{DB_ALIAS}",'
                f'"table":"{table}"}},"before":{before}}}'
            )
            out.append((names[inst[i]], line, not bad_ts[i]))
            # expected guard cascade (pipeline.observe_guard_drops)
            if op != "d":
                g["n_not_delete"] += 1
            elif blank[i]:
                g["n_blank_table"] += 1
            elif null_before[i]:
                g["n_null_before"] += 1
            elif no_id[i]:
                g["n_no_id"] += 1
            elif bad_ts[i]:
                g["n_bad_ts"] += 1
            else:
                g["n_archived"] += 1
                self.manifest.add_archived(f"{DB_ALIAS}_{table}", rid)
        self.manifest.n_input += n
        return out


def render(template: str, has_ts: bool, ts_ms: int) -> str:
    return template.replace("{ts}", str(ts_ms), 1) if has_ts else template


def backlog_sizes(seconds: float, cpus: int) -> list[int]:
    """Line counts of the backlog files a ``cdc`` run spends ``seconds``
    draining on ``cpus`` CPUs: the warm-up file, then whole epochs of
    ``cpus`` files, the warm-up epochs included."""
    nominal = seconds * BACKLOG_NOMINAL_ROWS_PER_S / BACKLOG_LINES_PER_FILE
    n_files = max(cpus, int(nominal))
    n_files -= n_files % cpus
    n_files += BACKLOG_WARM_EPOCHS * cpus
    return [WARMUP_LINES] + [BACKLOG_LINES_PER_FILE] * n_files


def write_backlog(out_dir: str, seed: int, file_sizes: list[int]) -> Manifest:
    """Write one envelope file per entry of ``file_sizes`` (its line
    count), as ``instance|json`` lines (the file-source encoding
    `streaming.job.streaming_pipeline` reads), and return the manifest.
    Names sort in generation order; ``ts_ms`` advances one millisecond
    per envelope from a fixed base."""
    os.makedirs(out_dir, exist_ok=True)
    src = EnvelopeSource(seed)
    ts = BASE_TS_MS
    for f, size in enumerate(file_sizes):
        lines = []
        for inst, tmpl, has_ts in src.take(size):
            lines.append(f"{inst}|{render(tmpl, has_ts, ts)}\n")
            ts += 1
        path = os.path.join(out_dir, f"envelopes-{f:05d}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.writelines(lines)
    return src.manifest


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args(argv)
    sizes = backlog_sizes(CLI_DRAIN_SECONDS, len(os.sched_getaffinity(0)))
    m = write_backlog(a.out, a.seed, sizes)
    with open(os.path.join(a.out, "_manifest.json"), "w", encoding="utf-8") as f:
        json.dump(m.to_json(), f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
