"""Per-layer measurements for the traced run, taken from outside the
program:

- L0 codec and L1 datasource: the public functions of
  ``sources.codec`` and ``sources.datasource`` called in this process
  on the workload's own files, with no Spark;
- L2 Spark stages: Spark's status store, read for the jobs of one
  operation, which the benchmark tags with ``setJobGroup``.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

MIB = 1024 * 1024


def _data_files(directory: str) -> list[str]:
    return sorted(os.path.join(directory, f) for f in os.listdir(directory)
                  if f.endswith("-Data.db"))


def _logical_bytes(path: str) -> int:
    from sstable_hadoop_spark.sources import codec

    ci = path.replace("-Data.db", "-CompressionInfo.db")
    if os.path.exists(ci):
        return codec.read_compression_info(ci).uncompressed_length
    return os.path.getsize(path)


def codec_layer(fx: dict, work: str) -> dict:
    """L0: decode every Data.db of the fixture with ``read_cell_batches``
    and ``read_data_batches``, and re-encode rows with
    ``SSTableWriter``, single-threaded."""
    from sstable_hadoop_spark.sources import codec

    files = _data_files(fx["dir"])
    t = time.perf_counter()
    cells = sum(b.num_rows for f in files
                for b in codec.read_cell_batches(
                    f, generation=codec.generation_of(f)))
    cells_s = time.perf_counter() - t
    t = time.perf_counter()
    rows = sum(b.num_rows for f in files
               for b in codec.read_data_batches(
                   f, generation=codec.generation_of(f)))
    rows_s = time.perf_counter() - t

    # encode: rewrite whole generations until at least 40k cells
    sample, n_enc = [], 0
    for f in files:
        sample.append(list(codec.read_data_rows(f)))
        n_enc += sum(len(r.cells) for r in sample[-1])
        if n_enc >= 40_000:
            break
    out = os.path.join(work, "encode-probe")
    shutil.rmtree(out, ignore_errors=True)
    t = time.perf_counter()
    for gen, rows_of_gen in enumerate(sample, start=1):
        w = codec.SSTableWriter(out, "probe", generation=gen)
        for r in rows_of_gen:
            w.write_row(r)
        w.close()
    enc_s = time.perf_counter() - t
    shutil.rmtree(out, ignore_errors=True)
    return {
        "codec.decode_cells_per_s": cells / cells_s,
        "codec.decode_mib_per_s":
            sum(_logical_bytes(f) for f in files) / MIB / cells_s,
        "codec.decode_rows_per_s": rows / rows_s,
        "codec.encode_cells_per_s": n_enc / enc_s,
    }


def _count_cells(batch) -> int:
    if "columns" in batch.schema.names:
        return len(batch.column("columns").flatten())
    return batch.num_rows


def datasource_layer(fx: dict, kind: str, probes: int = 32) -> dict:
    """L1: plan with ``SSTableReader.partitions``, read every split with
    ``SSTableReader.read``, and prune point lookups with
    ``pushFilters`` + the bloom filter, in process."""
    from pyspark.sql.datasource import EqualTo

    from sstable_hadoop_spark.sources.datasource import SSTableReader

    opts = {"path": fx["dir"], "kind": kind}
    plan_ms = []
    for _ in range(5):
        t = time.perf_counter()
        parts = SSTableReader(dict(opts)).partitions()
        plan_ms.append((time.perf_counter() - t) * 1000)

    reader = SSTableReader(dict(opts))
    split_ms, cells = [], 0
    t_all = time.perf_counter()
    for p in parts:
        t = time.perf_counter()
        cells += sum(_count_cells(b) for b in reader.read(p))
        split_ms.append((time.perf_counter() - t) * 1000)
    read_s = time.perf_counter() - t_all

    # point-lookup pruning: half in-range keys, half absent keys that
    # sort between real ones (only Filter.db can reject those)
    rnd = random.Random(fx["seed"])
    keys = fx["properties"]["keys"]
    kept = 0
    for i in range(probes):
        k = b"k%08d" % rnd.randrange(keys) + (b"" if i % 2 else b"~")
        r = SSTableReader(dict(opts))
        r.pushFilters([EqualTo(("key",), k)])
        kept += sum(1 for q in r.partitions() if q.path)
    return {
        "datasource.plan_ms": statistics.median(plan_ms),
        "datasource.splits": len(parts),
        "datasource.splits_read_ratio": kept / (probes * len(parts)),
        "datasource.read_split_ms_p50": statistics.median(split_ms),
        "datasource.read_cells_per_s": cells / read_s,
    }


def spark_stages(sc, group: str, writes: bool) -> dict:
    """L2: stage metrics of every job in ``group``, from the status
    store.  A stage that reads no shuffle is a scan stage; one that does
    is a merge stage, except that when the operation writes SSTables the
    last stage of its last job is the write stage."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    out = {k: 0.0 for k in (
        "spark.scan.tasks", "spark.scan.run_s", "spark.scan.cpu_s",
        "spark.scan.deser_s", "spark.scan.overhead_s",
        "spark.shuffle.write_mib", "spark.shuffle.read_mib",
        "spark.merge.run_s", "spark.write.run_s")}
    out["spark.jobs_per_op"] = float(len(jobs))
    write_stage = None
    if writes and jobs:
        write_stage = max(tracker.getJobInfo(jobs[-1]).stageIds)
    for job in jobs:
        for sid in tracker.getJobInfo(job).stageIds:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle came from an earlier job
            run_s = sd.executorRunTime() / 1000
            out["spark.shuffle.write_mib"] += sd.shuffleWriteBytes() / MIB
            out["spark.shuffle.read_mib"] += sd.shuffleReadBytes() / MIB
            if sid == write_stage:
                out["spark.write.run_s"] += run_s
            elif sd.shuffleReadRecords() > 0:
                out["spark.merge.run_s"] += run_s
            else:
                duration = 0
                tasks = store.taskList(sid, sd.attemptId(),
                                       sd.numTasks()).iterator()
                while tasks.hasNext():
                    d = tasks.next().duration()
                    duration += d.get() if d.isDefined() else 0
                out["spark.scan.tasks"] += sd.numTasks()
                out["spark.scan.run_s"] += run_s
                out["spark.scan.cpu_s"] += sd.executorCpuTime() / 1e9
                out["spark.scan.deser_s"] += \
                    sd.executorDeserializeTime() / 1000
                out["spark.scan.overhead_s"] += duration / 1000 - run_s
    return out
