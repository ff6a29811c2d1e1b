"""Scrub-engine benchmark: seeded caption-table workloads at local[nproc].

Run from the repository root:

    python3 perfbench/run.py --workload small_batches --seed 1 --seconds 10 --trace 0

One driver process starts one Spark session at ``local[nproc]`` and drives
the engine only through its public functions, as a closed loop with one
client: each op starts when the previous one has finished, on a fresh
output directory, until ``--seconds`` have passed (at least one op).

Workloads (``BENCHMARK.json`` says why each exists):

* ``small_batches``: successive ``run_pipeline(materialize_bytes=False)``
  runs, each over the next of the seed's batches (``inputs.py``).
* ``textfile_redact``: ``scrub_text_file(ordered=True)`` over the seed's
  line file (``inputs.TEXT_LINES`` lines of the same captions).

Set-up (``setup_s``) is the input-cache validation, the session start and
one scrub UDF pass with a task per core; building a missing input pool runs
before it, in its own session, and is not counted.  ``WARMUP_OPS`` warm-up
ops follow set-up: they are checked, and counted in ``attempted``, but not
measured.

End-to-end metrics, over the timed ops: ``rows_per_s`` is the median of
each op's rows (or lines) over its wall time, and ``batch_p50_s`` the median
of their wall times, so that an op slowed by a burst of load from outside
the benchmark moves neither;
``bytes_written_per_row`` is their output bytes over their rows;
``peak_rss_mb`` is the median over ops of each op's peak summed RSS of the
driver JVM and its Python workers; ``label_match_frac`` and ``ok_ops_frac``
are the complements of the share of checked rows whose ``keep`` disagrees
with its label and of the share of failed ops, so that neither reads 0.

Every op's output is checked after the timed loop.  Rows in must equal rows
out, every ``scrubbed`` caption (or redacted line) must equal the label the
generator produced, and ``keep`` may disagree with its label on at most
``MAX_KEEP_MISMATCH`` of the rows, by the same count each time the same
input is scrubbed.  An op that fails any of these is a failed op.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` runs, instead of the timed loop, untraced and traced ops and
the layer measurements of ``layers.py`` (see ``traced_layers``), reports the
per-layer metrics, and writes the spans to ``.perfbench/traces/``.  Every
metric is printed as ``name value unit``; the last stdout line is the
machine-read JSON summary.  Each run's metrics and ``cpus`` are appended to
``.perfbench/runs.jsonl`` for ``compare.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

from spark_env import ROOT, STATE, cpus

HERE = os.path.dirname(os.path.abspath(__file__))

MAX_FAILED_OPS = 3
# The first ops of a session pay for JIT compilation and class loading of
# the op path (on 4 vCPUs, the first small_batches op after one warm-up op
# still ran 10-40% slower than the later ones).
WARMUP_OPS = 2
# The pipeline tests accept keep/drop at F1 >= 0.99.
MAX_KEEP_MISMATCH = 0.01
# The ledger accounts for a decisions op when its sum is this close to the
# op's untraced wall.
LEDGER_RANGE = (0.9, 1.1)


@dataclass
class Op:
    index: int
    out: str
    wall_s: float
    rows: int
    error: str | None = None
    rss: tuple[int, int] = (0, 0)  # peak summed RSS, the JVM's share
    steal: float = 0.0  # share of the VM's CPU ticks the host stole meanwhile
    checked: int = 0
    mismatched: int = 0
    problems: list[str] = field(default_factory=list)


# --- workloads: one op and its correctness check ----------------------------

def run_batch(spark, inp, index, out):
    from pii_redactor_spark.pipeline.run import run_pipeline

    batch = inp.batches[index % len(inp.batches)]
    return run_pipeline(spark, batch.images, out, materialize_bytes=False)["n_in"]


def run_textfile(spark, inp, index, out):
    from pii_redactor_spark.sources.textfile import scrub_text_file

    scrub_text_file(spark, inp.lines, out, ordered=True)
    return len(inp.line_expected)


def check_batch(inp, op: Op) -> None:
    import pyarrow.parquet as pq

    got = pq.read_table(
        f"{op.out}/data", columns=["image_id", "keep", "scrubbed"]
    ).to_pandas()
    want = inp.batches[op.index % len(inp.batches)].labels
    if len(got) != len(want) or got["image_id"].duplicated().any() or set(
        got["image_id"]
    ) != set(want["image_id"]):
        op.problems.append(
            f"rows in {len(want)} != rows out {len(got)} (or ids differ)"
        )
        return
    m = want.merge(got, on="image_id")
    scrubbed = int((m["scrubbed"] != m["scrubbed_expected"]).sum())
    if scrubbed:
        op.problems.append(f"{scrubbed} scrubbed captions differ from labels")
    op.checked = len(m)
    op.mismatched = int((m["keep"] != m["keep_expected"]).sum())
    if op.mismatched > MAX_KEEP_MISMATCH * op.checked:
        op.problems.append(f"keep differs from labels on {op.mismatched} rows")


def check_text(inp, op: Op) -> None:
    data = bytearray()
    for name in sorted(n for n in os.listdir(op.out) if n.startswith("part-")):
        with open(os.path.join(op.out, name), "rb") as f:
            data += f.read()
    got = data.decode("utf-8").split("\n")
    if got and got[-1] == "":
        got.pop()
    want = inp.line_expected
    if len(got) != len(want):
        op.problems.append(f"lines in {len(want)} != lines out {len(got)}")
        return
    bad = sum(a != b for a, b in zip(got, want))
    if bad:
        op.problems.append(f"{bad} redacted lines differ from labels")
    op.checked = len(want)


WORKLOADS = {
    "small_batches": (run_batch, check_batch),
    "textfile_redact": (run_textfile, check_text),
}


def first_udf_pass(spark, n_cpus: int) -> None:
    """One scrub UDF pass with a task per core, so every Python worker has
    booted and imported the engine before the timed loop."""
    from pyspark.sql import functions as F

    from pii_redactor_spark.operators.scrub import with_scrub
    from probes import force

    df = spark.range(0, 8 * n_cpus, 1, n_cpus).select(
        F.format_string("Contact %d: jane.doe%d@example.com, call 555-0100",
                        "id", "id").alias("caption")
    )
    force(with_scrub(df))


# --- measurement ------------------------------------------------------------

class Scratch:
    """Fresh output directories for ops, removed when the run ends."""

    def __init__(self):
        self.dir = os.path.join(STATE, "work", str(os.getpid()))
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.n = 0

    def next(self, tag: str = "op") -> str:
        self.n += 1
        return os.path.join(self.dir, f"{tag}{self.n}")

    def close(self):
        shutil.rmtree(self.dir, ignore_errors=True)


def cpu_ticks() -> tuple[int, int]:
    """(steal, all) CPU ticks of the VM so far, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        ticks = [int(t) for t in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def run_op(spark, inp, run, index: int, scratch: Scratch) -> Op:
    out = scratch.next()
    s0, a0 = cpu_ticks()
    t0 = time.perf_counter()
    try:
        rows, err = run(spark, inp, index, out), None
    except Exception:
        rows, err = 0, traceback.format_exc()
        print(err, file=sys.stderr)
    wall = time.perf_counter() - t0
    s1, a1 = cpu_ticks()
    return Op(index, out, wall, rows, err,
              steal=(s1 - s0) / max(a1 - a0, 1))


def warm_up(spark, inp, run, scratch: Scratch) -> list[Op]:
    """``WARMUP_OPS`` ops over the seed's last inputs, checked but not
    measured."""
    return [run_op(spark, inp, run, len(inp.batches) - 1 - i, scratch)
            for i in range(WARMUP_OPS)]


def closed_loop(spark, inp, run, seconds: float, scratch: Scratch,
                mem) -> list[Op]:
    ops: list[Op] = []
    deadline = time.perf_counter() + seconds
    mem.lap()
    while not ops or time.perf_counter() < deadline:
        ops.append(run_op(spark, inp, run, len(ops), scratch))
        ops[-1].rss = mem.lap()
        if sum(o.error is not None for o in ops) >= MAX_FAILED_OPS:
            break
    return ops


def check_ops(inp, ops: list[Op], check) -> None:
    for op in ops:
        if op.error:
            continue
        try:
            check(inp, op)
        except Exception:
            op.problems.append(traceback.format_exc())
    # Scrubbing the same input twice must disagree with the labels the same way.
    by_input: dict[int, set[int]] = {}
    for op in ops:
        if not op.error and not op.problems:
            by_input.setdefault(op.index % len(inp.batches), set()).add(
                op.mismatched
            )
    for op in ops:
        if len(by_input.get(op.index % len(inp.batches), ())) > 1:
            op.problems.append("keep mismatches differ between runs of one input")
    for op in ops:
        for p in op.problems:
            print(f"check failed ({op.out}): {p}", file=sys.stderr)


def end_to_end(setup_s: float, ops: list[Op]) -> dict:
    from probes import dir_bytes

    good = [o for o in ops if not o.error and not o.problems] or ops
    checked = sum(o.checked for o in good)
    return {
        "setup_s": setup_s,
        "rows_per_s": statistics.median(o.rows / o.wall_s for o in good),
        "batch_p50_s": statistics.median(o.wall_s for o in good),
        "bytes_written_per_row": sum(dir_bytes(o.out)[0] for o in good)
        / max(sum(o.rows for o in good), 1),
        "peak_rss_mb": statistics.median(o.rss[0] for o in good) / 2**20,
        "label_match_frac": (
            1.0 - sum(o.mismatched for o in good) / checked if checked else 0.0
        ),
        "ok_ops_frac": sum(not o.error and not o.problems for o in ops)
        / len(ops),
    }


def traced_layers(spark, workload, inp, scratch, tracer) -> tuple[dict, list[Op]]:
    """Per-layer metrics, and the ops they ran for the correctness check.

    The workload's own op runs untraced (the warm-up ops, then the base of
    ``trace_overhead_frac``) and once traced.  Every workload reports every
    layer, so the other kind of op runs once, traced, and the ledger and the
    remaining layers run over the seed's first batch and line file.  The
    ledger's base is the untraced decisions op on ``small_batches`` and the
    traced one (the session's first, so cold) on ``textfile_redact``."""
    import layers

    own, _check = WORKLOADS[workload]
    warm = warm_up(spark, inp, own, scratch)
    untraced = run_op(spark, inp, own, 0, scratch)
    if any(o.error for o in warm) or untraced.error:
        raise RuntimeError("untraced op failed before the traced ops")
    images, lines = inp.batches[0].images, inp.lines
    m: dict[str, float] = {}
    with tracer.span("layers"):
        dec_out, text_out = scratch.next(), scratch.next()
        dec = layers.pipeline_op(spark, tracer, images, dec_out)
        text = layers.textfile_op(spark, tracer, lines, text_out)
        m.update({k: v for k, v in dec.items() if k not in ("wall_s", "rows")})
        m["textfile.shuffle_bytes"] = text["textfile.shuffle_bytes"]
        led = layers.ledger(spark, tracer, images, scratch.next("l4"))
        abs_s = led.pop("abs")
        m.update(led)
        prev = 0.0
        for k in ("L0", "L1", "L2", "L3", "L4"):
            m[f"ledger.{k}_s"] = abs_s[k] - prev
            prev = abs_s[k]
        # The steps telescope to L4; the rest of a decisions op is opening
        # its tables, its todo computation and, per group, the counter
        # collect and the commit.
        m["ledger.sum_s"] = (abs_s["L4"] + m["storage.open_s"]
                             + m["run.todo_s"] + m["run.counters_s"]
                             + m["storage.commit_s"])
        m["ledger.wall_s"] = (untraced.wall_s if own is run_batch
                              else dec["wall_s"])
        m["ledger.sum_over_wall"] = m["ledger.sum_s"] / m["ledger.wall_s"]
        m.update(layers.storage_layers(spark, tracer, images, dec_out,
                                       scratch.next("w")))
        m.update(layers.textfile_layers(spark, tracer, lines))
        captions = [c for b in inp.batches for c in b.labels["caption"]]
        m.update(layers.core_layers(tracer, captions))
    traced = dec if own is run_batch else text
    m["trace_overhead_frac"] = traced["wall_s"] / untraced.wall_s - 1.0
    dec_ops = [Op(0, dec_out, dec["wall_s"], dec["rows"])]
    text_ops = [Op(0, text_out, text["wall_s"], len(inp.line_expected))]
    if own is run_batch:
        dec_ops = warm + [untraced] + dec_ops
    else:
        text_ops = warm + [untraced] + text_ops
    check_ops(inp, dec_ops, check_batch)
    check_ops(inp, text_ops, check_text)
    return m, dec_ops + text_ops


# --- main -------------------------------------------------------------------

def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "pii_redactor_spark")):
        print(f"no pii_redactor_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in WORKLOADS or args.workload not in {
        w["name"] for w in spec["workloads"]
    }:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    run, check = WORKLOADS[args.workload]

    n_cpus = cpus()
    sys.path.insert(0, ROOT)
    from inputs import InputCache
    from probes import MemorySampler, Tracer, process_tree
    from spark_env import jvm_pid, start_session, stop_session

    tracer = Tracer()
    with tracer.span("inputs.validate") as valid:
        from pii_redactor_spark.fixtures.images import fixture_fingerprint

        cache = InputCache(os.path.join(STATE, "cache"), fixture_fingerprint())
        fresh = cache.is_fresh()
    if not fresh:
        # Generation runs in its own session and is not set-up.
        subprocess.run([sys.executable, os.path.join(HERE, "inputs.py")],
                       check=True)
    with tracer.span("session.start") as sess:
        spark = start_session(n_cpus)
    pid = jvm_pid()
    pids: set[int] = set()
    scratch = Scratch()
    try:
        with tracer.span("setup.first_udf_pass") as first:
            first_udf_pass(spark, n_cpus)
        setup_s = sum(s["end"] - s["start"] for s in (valid, sess, first))
        inp = cache.load(args.seed, scratch.dir)

        if args.trace:
            metrics, ops = traced_layers(spark, args.workload, inp, scratch,
                                         tracer)
            metrics["session.start_s"] = sess["end"] - sess["start"]
            tracer.write(os.path.join(
                STATE, "traces", f"{args.workload}-seed{args.seed}.json"
            ))
        else:
            warm = warm_up(spark, inp, run, scratch)
            with MemorySampler(pid) as mem:
                ops = closed_loop(spark, inp, run, args.seconds, scratch, mem)
            pids |= mem.pids
            check_ops(inp, warm + ops, check)
            metrics = end_to_end(setup_s, ops)
            ops = warm + ops
    finally:
        scratch.close()
        stop_session(spark, pids | set(process_tree(pid)))

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    failed = sum(1 for o in ops if o.error or o.problems)
    print(f"workload {args.workload} seed {args.seed} cpus {n_cpus} "
          f"ops {len(ops)} failed {failed} input_cache "
          f"{'hit' if fresh else 'built'}")
    for i, o in enumerate(ops):
        print(f"{'warmup' if i < WARMUP_OPS and not args.trace else 'op'} {i} "
              f"wall_s {o.wall_s:.4f} rows {o.rows} "
              f"keep_mismatched {o.mismatched}/{o.checked} "
              f"steal {o.steal:.3f}"
              + (f" peak_rss_mb {o.rss[0] / 2**20:.1f} of_which_jvm "
                 f"{o.rss[1] / 2**20:.1f}" if o.rss[0] else "")
              + (" FAILED" if o.error or o.problems else ""))
    for name, value in metrics.items():
        print(f"metric {name} {value!r} {units.get(name, '')}".rstrip())
    if "ledger.sum_over_wall" in metrics:
        lo, hi = LEDGER_RANGE
        ratio = metrics["ledger.sum_over_wall"]
        print(f"ledger sum {metrics['ledger.sum_s']:.4f} s over decisions op "
              f"wall {metrics['ledger.wall_s']:.4f} s = {ratio:.3f}"
              + ("" if lo <= ratio <= hi
                 else f" OUTSIDE {lo}-{hi}: the ledger misses part of the op"))
    os.makedirs(STATE, exist_ok=True)
    with open(os.path.join(STATE, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                            "trace": args.trace, "seconds": args.seconds,
                            "cpus": n_cpus, "metrics": metrics}) + "\n")
    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 3
    summary = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(summary), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
