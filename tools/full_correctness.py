"""Produce the committed tri-scale correctness artifact (ADVICE r4 #3).

Runs tools/check_contract.py at sf0.001, sf0.01, and sf0.1 (fresh
process per scale — the oracle caches key on SPARK_GRAFT_ORACLE_SF at
import time) and merges the per-query results into
CORRECTNESS_FULL.json at the repo root, with a summary block.

Usage: python tools/full_correctness.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALES = ["sf0.001", "sf0.01", "sf0.1"]


def main() -> None:
    merged: dict = {"generated_unix": int(time.time()), "scales": {}}
    all_ok = True
    for sf in SCALES:
        tmp = os.path.join(REPO, ".cache", f"contract_{sf}.json")
        # a file left by an earlier run must never pass for this one
        if os.path.exists(tmp):
            os.remove(tmp)
        env = dict(
            os.environ,
            CHECK_CONTRACT_JSON=tmp,
        )
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "check_contract.py"),
             f"/root/testdata/{sf}"],
            env=env, cwd=REPO, capture_output=True, text=True,
        )
        dt = round(time.time() - t0, 1)
        tail = "\n".join(proc.stdout.splitlines()[-3:])
        print(f"[{sf}] rc={proc.returncode} ({dt}s)\n{tail}", flush=True)
        if proc.returncode != 0:
            all_ok = False
            print(proc.stdout[-4000:], file=sys.stderr)
        if not os.path.exists(tmp):
            # check_contract.py died before writing (e.g. OOM-killed)
            merged["scales"][sf] = {
                "sec": dt, "returncode": proc.returncode,
                "status": "failed", "n_queries": 0,
            }
            all_ok = False
            continue
        with open(tmp) as f:
            doc = json.load(f)
        res = doc["results"]
        merged["scales"][sf] = {
            "sec": dt,
            "returncode": proc.returncode,
            "n_queries": len(res),
            "n_match": sum(1 for r in res.values()
                           if r["status"] == "match"),
            "n_rows_only": sum(1 for r in res.values()
                               if r["status"] == "rows_only"),
            "failures": {k: v for k, v in res.items()
                         if v["status"] not in ("match", "rows_only")},
            "results": res,
        }
    ns = {sf: merged["scales"][sf]["n_queries"] for sf in SCALES}
    merged["summary"] = {
        "all_scales_green": all_ok,
        "queries_per_scale": ns,
    }
    out = os.path.join(REPO, "CORRECTNESS_FULL.json")
    with open(out, "w") as f:
        json.dump(merged, f, indent=1)
    print(f"wrote {out}; all green: {all_ok}")
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
