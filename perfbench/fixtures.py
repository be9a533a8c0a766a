"""Seeded SSTable fixtures for the benchmark, with independent expected
results.

A fixture is a directory of SSTable generations written through
``codec.SSTableWriter`` plus ``manifest.json``: the generator's
properties (what drives the program's behaviour) and the expected
answers the benchmark checks every operation against.  The expected
answers are computed here in plain Python, from the cells as generated,
never by reading the files back through the program.

Run as a script to build one fixture (the benchmark does this in a
child process so the generator's memory never shows in the measured
process tree)::

    python3 perfbench/fixtures.py --workload merge_snapshot --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time
import zlib

#: bump when the generated bytes or the expected-answer rules change, so
#: cached fixtures of an older generator are never reused
GENERATOR_VERSION = 1

BASE_US = 1_700_000_000_000_000  # writetime origin (µs)
GEN_SPAN_US = 3_600_000_000      # generation g writes in [g, g + 2) spans

#: workload → generator properties.  Sizes are chosen so one run of a
#: workload fits the benchmark's time budget on a 4-core host; the
#: ratios (overwrite, tombstones, TTL, compression) are what the
#: workloads are about.
SPECS = {
    # a few large generations, every one rewriting most rows: decode and
    # the LWW shuffle dominate, per-split overhead is small
    "merge_snapshot": dict(keys=12_000, generations=4, row_share=0.85,
                           names=8, names_per_row=6, value_bytes=64,
                           tombstone_share=0.10, ttl_share=0.10,
                           compressed_every=2),
    # a mid-size multi-generation set that compaction rewrites
    "compact_gc": dict(keys=5_000, generations=6, row_share=0.40,
                       names=8, names_per_row=6, value_bytes=64,
                       tombstone_share=0.15, ttl_share=0.15,
                       compressed_every=2),
}

_STATE_RANK = {"NORMAL": 0, "EXPIRING": 1, "DELETED": 2}


def key_of(i: int) -> bytes:
    return b"k%08d" % i


def cell_bytes(name: bytes, state: str, data: bytes | None, ts: int,
               ttl: int | None, exp: int | None) -> bytes:
    """Canonical bytes of one cell; the Spark side of the benchmark
    builds the same bytes with ``concat`` so both can be crc32-summed."""
    return b"\0".join((name, state.encode(), data or b"", str(ts).encode(),
                       b"" if ttl is None else str(ttl).encode(),
                       b"" if exp is None else str(exp).encode()))


def flat_crc(key: bytes, cell: tuple, generation: int) -> int:
    """Digest term of one flat cell record (key, cell..., generation)."""
    return zlib.crc32(b"\0".join((key, cell_bytes(*cell),
                                  str(generation).encode())))


def gc_before_ms(spec: dict) -> int:
    """The GC / as-of point: 60% through the written time range, so
    tombstones and TTLs of early generations are purgeable and those of
    late generations are not."""
    span = (spec["generations"] + 2) * GEN_SPAN_US
    return (BASE_US + int(span * 0.6)) // 1000


def generate(workload: str, seed: int, out: str) -> dict:
    """Write the fixture for (workload, seed) into ``out`` and return its
    manifest.  Same seed, same bytes and same manifest."""
    from sstable_hadoop_spark.sources import codec

    spec = SPECS[workload]
    rnd = random.Random(f"{workload}:{seed}")
    pool = rnd.randbytes(1 << 16)
    names = [b"c%02d" % j for j in range(spec["names"])]
    n_rows = max(1, round(spec["keys"] * spec["row_share"]))
    gc_ms = gc_before_ms(spec)

    winners: dict[tuple[bytes, bytes], tuple] = {}
    n_cells = rows = 0
    compressed_gens = 0
    os.makedirs(out, exist_ok=True)
    for gen in range(1, spec["generations"] + 1):
        compressed = gen % spec["compressed_every"] == 0
        compressed_gens += compressed
        writer = codec.SSTableWriter(out, "bench", generation=gen,
                                     compressed=compressed)
        lo_ts = BASE_US + gen * GEN_SPAN_US
        for k in sorted(rnd.sample(range(spec["keys"]), n_rows)):
            key = key_of(k)
            cells = []
            for name in sorted(rnd.sample(names, spec["names_per_row"])):
                ts = lo_ts + rnd.randrange(2 * GEN_SPAN_US)
                u = rnd.random()
                if u < spec["tombstone_share"]:
                    cell = (name, "DELETED", None, ts, None, None)
                else:
                    size = rnd.randrange(spec["value_bytes"] // 2,
                                         spec["value_bytes"] * 3 // 2)
                    at = rnd.randrange(len(pool) - size)
                    data = pool[at:at + size]
                    if u < spec["tombstone_share"] + spec["ttl_share"]:
                        ttl = rnd.randrange(60, 4 * GEN_SPAN_US // 1_000_000)
                        cell = (name, "EXPIRING", data, ts, ttl,
                                ts // 1000 + ttl * 1000)
                    else:
                        cell = (name, "NORMAL", data, ts, None, None)
                cells.append(codec.Cell(name=cell[0], state=cell[1],
                                        data=cell[2], timestamp=cell[3],
                                        ttl=cell[4], expiration=cell[5]))
                order = (ts, _STATE_RANK[cell[1]], gen)
                held = winners.get((key, name))
                if held is None or order > held[0]:
                    winners[(key, name)] = (order, cell, gen)
            writer.write_row(codec.Row(key=key, cells=cells))
            n_cells += len(cells)
            rows += 1
        writer.close()

    new_gen = spec["generations"] + 1
    merge_h = compact_h = compact_n = live_bytes = 0
    tombstones = expired = 0
    for (key, name), (_order, cell, gen) in winners.items():
        merge_h += flat_crc(key, cell, gen)
        state, ts, exp = cell[1], cell[3], cell[5]
        tombstones += state == "DELETED"
        expired += state == "EXPIRING" and exp <= gc_ms
        purged = ((state == "DELETED" and ts < gc_ms * 1000)
                  or (state == "EXPIRING" and exp <= gc_ms))
        if not purged:
            compact_h += flat_crc(key, cell, new_gen)
            compact_n += 1
            live_bytes += len(key) + len(name) + len(cell[2] or b"")

    files = sorted(f for f in os.listdir(out) if f.endswith("-Data.db"))
    manifest = {
        "workload": workload,
        "seed": seed,
        "generator_version": GENERATOR_VERSION,
        "properties": {
            "generations": spec["generations"],
            "keys": spec["keys"],
            "rows_per_generation": n_rows,
            "cells_per_row": spec["names_per_row"],
            "cell_names": spec["names"],
            "value_bytes_mean": spec["value_bytes"],
            "tombstone_share": spec["tombstone_share"],
            "ttl_share": spec["ttl_share"],
            "compressed_share": compressed_gens / spec["generations"],
            "overwrite_share": 1 - len(winners) / n_cells,
            "data_bytes": sum(os.path.getsize(os.path.join(out, f))
                              for f in files),
            "mean_file_bytes": sum(os.path.getsize(os.path.join(out, f))
                                   for f in files) // len(files),
        },
        "gc_before_ms": gc_ms,
        "new_generation": new_gen,
        "cells": n_cells,
        "rows": rows,
        "expected": {
            # lww_cell: one winner per (key, name), tombstones included
            "merge": {"n": len(winners), "h": merge_h,
                      "tombstones": tombstones, "expired": expired},
            # compact(gc_before_ms): winners minus purged, new generation
            "compact": {"n": compact_n, "h": compact_h,
                        "live_bytes": live_bytes},
        },
    }
    return manifest


def fixture_dir(cache: str, workload: str, seed: int) -> str:
    return os.path.join(cache, f"{workload}-s{seed}-g{GENERATOR_VERSION}")


def ensure(cache: str, workload: str, seed: int, keep: int = 10) -> dict:
    """Return the manifest of the cached fixture for (workload, seed),
    generating it in a child process when absent.  Keeps at most
    ``keep`` fixtures per workload in ``cache`` (least recently used go
    first)."""
    import subprocess

    path = fixture_dir(cache, workload, seed)
    done = os.path.join(path, "manifest.json")
    if not os.path.exists(done):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(cache, exist_ok=True)
        subprocess.run([sys.executable, os.path.abspath(__file__),
                        "--workload", workload, "--seed", str(seed),
                        "--out", path], check=True, timeout=170)
    os.utime(done)
    others = sorted((os.path.getmtime(os.path.join(d, "manifest.json"))
                     if os.path.exists(os.path.join(d, "manifest.json"))
                     else 0.0, d)
                    for d in (os.path.join(cache, e)
                              for e in os.listdir(cache)
                              if e.startswith(f"{workload}-"))
                    if d != path)
    for _mtime, stale in others[:max(0, len(others) - (keep - 1))]:
        shutil.rmtree(stale, ignore_errors=True)
    with open(done) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPECS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    sys.path.insert(0, os.getcwd())
    t0 = time.perf_counter()
    manifest = generate(args.workload, args.seed, args.out)
    manifest["generate_s"] = time.perf_counter() - t0
    tmp = os.path.join(args.out, ".manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(args.out, "manifest.json"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
