#!/usr/bin/env python3
"""Self-tests of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

1. The fixture generator is deterministic: the same (workload, seed) gives
   byte-identical parquet files, and another seed gives other files.
2. The timed-plan guard accepts the noop write of a query's complete
   result and rejects `count()`, a column subset and a plan whose
   top-level sort was dropped (Harness `guardtest` mode).
3. The tail rule picks the highest percentile with ten samples beyond it,
   and the reconciliation flags a job span that lies outside its operation.
4. BENCHMARK.json names the workloads and metrics, with the units, that
   run.py reports.

Exits 0 when every check passes. Writes only under perfbench/.work/.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import gen  # noqa: E402
import run  # noqa: E402

GUARD_OP = "q08_star_join"  # ends in a total-order ORDER BY


def check(name: str, ok: bool, detail: str = "") -> bool:
    print(f"{'ok  ' if ok else 'FAIL'} {name}{': ' + detail if detail else ''}", flush=True)
    return ok


def main() -> int:
    base = os.path.join(run.WORK, "selftest")
    shutil.rmtree(base, ignore_errors=True)
    results = []
    for wl in sorted(gen.WORKLOADS):
        a = gen.generate(wl, 7, os.path.join(base, f"{wl}-a"))
        b = gen.generate(wl, 7, os.path.join(base, f"{wl}-b"))
        same = a == b and all(filecmp.cmp(os.path.join(base, f"{wl}-a", f"{t}.parquet"),
                                          os.path.join(base, f"{wl}-b", f"{t}.parquet"),
                                          shallow=False) for t in gen.TABLES)
        results.append(check(f"{wl}: same seed, byte-identical tables", same))
        c = gen.generate(wl, 8, os.path.join(base, f"{wl}-c"))
        differ = [t for t in gen.TABLES if c[t]["sha256"] != a[t]["sha256"]]
        results.append(check(f"{wl}: another seed, other tables", "lineitem" in differ
                             and "documents" in differ, f"{len(differ)} tables differ"))

    cp = run.build()
    scratch = os.path.join(base, "jvm")
    os.makedirs(scratch)
    p = subprocess.run(run.jvm(cp, scratch, ["guardtest", os.path.join(base, "lake_lifecycle-a"),
                                             GUARD_OP], False),
                       cwd=scratch, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=300)
    sys.stdout.write(p.stdout)
    results.append(check(f"timed-plan guard on {GUARD_OP}", p.returncode == 0))

    v, pct, n = run.tail(list(range(100)))
    results.append(check("tail of 100 samples is p90 with 10 beyond", (v, pct, n) == (89, 90.0, 100)))
    v, pct, n = run.tail([3.0, 1.0, 2.0])
    results.append(check("tail of 3 samples is the maximum", (v, n) == (3.0, 3)))

    spans = os.path.join(base, "spans.jsonl")
    with open(spans, "w") as f:
        for op_id, name, job in ((1, "inside", (110, 190)), (5, "outside", (250, 320))):
            for kind, a, b in (("op", 100, 300), ("build", 100, 100), ("plan", 100, 120),
                               ("execute", 120, 300), ("job", *job)):
                f.write(json.dumps({"op_id": op_id, "name": name, "kind": kind,
                                    "start_ns": a * 10**6, "end_ns": b * 10**6}) + "\n")
    rec = run.reconcile(spans)
    results.append(check("reconciliation flags a job outside its operation",
                         rec["violations"] == ["outside"], str(rec["violations"])))

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    results.append(check("BENCHMARK.json matches run.py",
                         [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
                         and {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
                         and {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER))

    shutil.rmtree(base, ignore_errors=True)
    print(f"{sum(results)}/{len(results)} checks passed")
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
