"""Paired A/B benchmark between a git revision and the checkout.

Identical code measured minutes apart on this kind of shared VM moves by
more than most changes it is asked to judge.  This tool exports the
committed files of ``--ref`` (``git archive``) into a scratch tree and runs
the same benchmark alternately from that tree and from the checkout,
A/B, B/A, A/B, ... (the order flips every pair, so a monotone drift trend
cancels).  Each run is a fresh process with its own JVM, so the only
variable inside a pair is the code.

Two benchmarks:

* ``--workload NAME``: the repo's benchmark, ``perfbench/run.py`` as each
  tree has it, unmodified.  Pair ``i`` runs ``--workload NAME --seed
  SEED+i --seconds S --trace 0`` once per side, where ``S`` is
  ``run_seconds`` from the checkout's ``BENCHMARK.json``, so both sides see
  the same seeds and the benchmark's run length.  Reports, per side, each
  end-to-end metric's median and quartiles, the checkout's wins over the
  pairs, the median of the per-pair checkout/ref ratios, and the median gap
  over the ref's interquartile range.  A claim needs at least 10 pairs (the
  default).  Refuses, with exit code 2, runs made at different CPU counts,
  as ``perfbench/compare.py`` does.  Each tree builds its input pool before
  the first pair; the ref tree starts from hard links to the checkout's
  pool, which it keeps when both trees' fixture generators agree.
* no ``--workload``: the headline ``bench.py`` over ``--sf-dir``, with
  per-query medians and the new/old ratio.

The ref tree is ``.cache/bench_ab_ref_<pid>_*`` and is removed when the run
ends.  A run killed before its cleanup (SIGKILL, OOM, a timeout) leaves its
tree behind; the next run removes every such tree whose pid is gone.

Usage:
    python tools/bench_ab.py --workload small_batches [--ref HEAD~1]
        [--pairs 10] [--seed 1]
    python tools/bench_ab.py [--ref HEAD~1] [--pairs 3]
        [--sf-dir /root/testdata/sf0.1]

Prints one JSON document; exits nonzero if a run fails.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(REPO, ".cache")
sys.path.insert(0, os.path.join(REPO, "perfbench"))
from compare import quartiles  # noqa: E402


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def sweep_stale_trees() -> None:
    """Remove ref trees left by runs that died before their cleanup."""
    for entry in os.listdir(CACHE) if os.path.isdir(CACHE) else []:
        m = re.fullmatch(r"bench_ab_ref_(\d+)_.*", entry)
        if m and not _alive(int(m.group(1))):
            shutil.rmtree(os.path.join(CACHE, entry), ignore_errors=True)


def export_ref(ref: str) -> str:
    """The committed files of ``ref`` in a fresh scratch directory, named
    with this process's pid so a concurrent run's sweep leaves it alone."""
    os.makedirs(CACHE, exist_ok=True)
    tree = tempfile.mkdtemp(prefix=f"bench_ab_ref_{os.getpid()}_", dir=CACHE)
    archive = subprocess.run(["git", "archive", ref], cwd=REPO, check=True,
                             capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", tree], input=archive, check=True)
    return tree


def _run(checkout: str, argv: list[str], env_extra: dict) -> str:
    env = dict(os.environ, **env_extra)
    prev = env.get("PYTHONPATH")
    env["PYTHONPATH"] = checkout + os.pathsep + prev if prev else checkout
    proc = subprocess.run(
        [sys.executable, *argv], cwd=checkout, env=env,
        capture_output=True, text=True, timeout=1800,
    )
    if proc.returncode != 0:
        raise RuntimeError(
            f"{argv[0]} failed in {checkout}:\n{proc.stderr[-2000:]}"
        )
    return proc.stdout


# --- perfbench/run.py -------------------------------------------------------

def prepare_perfbench(ref_tree: str) -> None:
    """Build both trees' input pools outside the timed pairs."""
    cache = os.path.join(REPO, ".perfbench", "cache")
    if os.path.isdir(cache):
        shutil.copytree(cache, os.path.join(ref_tree, ".perfbench", "cache"),
                        copy_function=os.link)
    for tree in (ref_tree, REPO):
        _run(tree, ["perfbench/inputs.py"], {})


def run_perfbench(checkout: str, workload: str, seed: int,
                  seconds: float) -> dict:
    out = _run(checkout, [
        "perfbench/run.py", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", "0",
    ], {})
    lines = out.strip().splitlines()
    head = next(ln for ln in lines if ln.startswith("workload "))
    summary = json.loads(lines[-1])
    return {
        "cpus": int(re.search(r" cpus (\d+) ", head).group(1)),
        "failed": summary["failed"],
        "metrics": {k: v["value"] for k, v in summary["metrics"].items()},
    }


def summarize_perfbench(args, spec: dict,
                        runs: dict[str, list[dict]]) -> dict:
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    metrics = {}
    for name, direction in better.items():
        a = [r["metrics"][name] for r in runs["ref"]]
        b = [r["metrics"][name] for r in runs["checkout"]]
        sign = 1 if direction == "higher" else -1
        qa, qb = quartiles(a), quartiles(b)
        iqr = qa[2] - qa[0]
        metrics[name] = {
            "better": direction,
            "ref": {"median": qa[1], "q1": qa[0], "q3": qa[2]},
            "checkout": {"median": qb[1], "q1": qb[0], "q3": qb[2]},
            "checkout_over_ref": qb[1] / qa[1] if qa[1] else None,
            "paired_ratio_median": statistics.median(
                y / x for x, y in zip(a, b)) if all(a) else None,
            # a tie, to float rounding, counts for neither side
            "checkout_wins": sum(sign * (y - x) > 1e-9 * abs(x)
                                 for x, y in zip(a, b)),
            "gap_over_ref_iqr": abs(qb[1] - qa[1]) / iqr if iqr else None,
        }
    return {
        "ref": args.ref, "workload": args.workload, "pairs": args.pairs,
        "seeds": [args.seed + i for i in range(args.pairs)],
        "seconds": spec["run_seconds"], "cpus": runs["ref"][0]["cpus"],
        "failed_ops": {side: sum(r["failed"] for r in rs)
                       for side, rs in runs.items()},
        "metrics": metrics,
        "runs": runs,
    }


# --- bench.py ---------------------------------------------------------------

def run_bench_py(checkout: str, sf_dir: str, cpus: int) -> dict:
    out = _run(checkout, ["bench.py"], {"SPARK_GRAFT_SF_DIR": sf_dir,
                                        "SPARK_GRAFT_CPUS": str(cpus)})
    # the JSON line is the last stdout line
    return json.loads(out.strip().splitlines()[-1])["queries"]


def summarize_bench_py(args, runs: dict[str, list[dict]]) -> dict:
    old_runs, new_runs = runs["ref"], runs["checkout"]
    common = sorted(set(old_runs[0]) & set(new_runs[0]))
    per_query = {}
    for q in common:
        old_med = statistics.median(r[q] for r in old_runs)
        new_med = statistics.median(r[q] for r in new_runs)
        per_query[q] = {
            "old_median_sec": round(old_med, 3),
            "new_median_sec": round(new_med, 3),
            "ratio": round(new_med / old_med, 3) if old_med else None,
        }
    old_total = statistics.median(sum(r[q] for q in common) for r in old_runs)
    new_total = statistics.median(sum(r[q] for q in common) for r in new_runs)
    return {
        "ref_old": args.ref, "pairs": args.pairs, "sf_dir": args.sf_dir,
        "cpus": args.cpus,
        "old_total_median_sec": round(old_total, 3),
        "new_total_median_sec": round(new_total, 3),
        "total_ratio_new_over_old": round(new_total / old_total, 3),
        "queries": per_query,
    }


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--ref", default="HEAD~1",
                   help="old revision (commit/tag) to compare against")
    p.add_argument("--workload", default=None,
                   help="perfbench workload; omit for bench.py")
    p.add_argument("--pairs", type=int, default=None,
                   help="default 10 with --workload, else 3")
    p.add_argument("--seed", type=int, default=1,
                   help="perfbench seed of the first pair")
    p.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    p.add_argument("--cpus", type=int, default=int(
        os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = p.parse_args()
    if args.pairs is None:
        args.pairs = 10 if args.workload else 3

    spec = None
    if args.workload:
        with open(os.path.join(REPO, "BENCHMARK.json")) as f:
            spec = json.load(f)

    sweep_stale_trees()
    ref_tree = export_ref(args.ref)
    try:
        if args.workload:
            prepare_perfbench(ref_tree)
        runs: dict[str, list[dict]] = {"ref": [], "checkout": []}
        for i in range(args.pairs):
            order = [("ref", ref_tree), ("checkout", REPO)]
            if i % 2:
                order.reverse()
            for side, tree in order:
                if args.workload:
                    r = run_perfbench(tree, args.workload, args.seed + i,
                                      spec["run_seconds"])
                    note = " ".join(f"{k} {v:.4g}"
                                    for k, v in r["metrics"].items())
                else:
                    r = run_bench_py(tree, args.sf_dir, args.cpus)
                    note = f"total {sum(r.values()):.2f}s"
                runs[side].append(r)
                print(f"# pair {i} {side}: {note}", file=sys.stderr)
        if args.workload:
            counts = sorted({r["cpus"] for rs in runs.values() for r in rs})
            if len(counts) > 1:
                print(f"refusing to compare runs made at different CPU "
                      f"counts: {counts}", file=sys.stderr)
                return 2
            doc = summarize_perfbench(args, spec, runs)
        else:
            doc = summarize_bench_py(args, runs)
        print(json.dumps(doc, indent=2))
        return 0
    finally:
        shutil.rmtree(ref_tree, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
