#!/usr/bin/env python3
"""Generate COUNTS.md and sync the query/spec counts README.md and
COVERAGE.md cite — the in-round review sweeps' single most repeated
finding class has been stale hardcoded counts after a round adds queries
or specs; this makes the numbers derived from HEAD instead of remembered.

Counting is static and exact by construction of the source conventions:
  - oracle queries  = `-> ((s, dir)` bodies in Queries.scala (every query
    entry uses that literal shape);
  - oracle SQL rows = `"q..." ->` keys minus the query bodies (the two
    maps share key names; every key appears exactly once per map);
  - specs           = `test("` occurrences under src/test (no dynamic
    test registration in this repo — the static count has matched every
    judge-run `sbt test` total);
  - suites          = `class *Spec` definitions under src/test.

Usage:  python3 tools/counts.py          # regenerate + patch docs
        python3 tools/counts.py --check  # exit 1 if any doc drifted
"""
import argparse
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES = os.path.join(REPO, "src/main/scala/graft/Queries.scala")
TESTS = os.path.join(REPO, "src/test")


def counts():
    src = open(QUERIES).read()
    queries = src.count("-> ((s, dir)")
    keys = len(re.findall(r'"q[a-z0-9_]+" ->', src))
    oracles = keys - queries
    tests = suites = 0
    for d, _, fs in os.walk(TESTS):
        for f in fs:
            if f.endswith(".scala"):
                body = open(os.path.join(d, f)).read()
                # anchored at line start: a bare substring count matches
                # identifiers that merely END in "test", e.g. latest("x")
                tests += len(re.findall(r'^\s*test\("', body, re.M))
                suites += len(re.findall(
                    r"(?<!abstract )class \w+Spec extends", body))
    return {"queries": queries, "oracles": oracles,
            "tests": tests, "suites": suites}


def latest_artifact(pattern):
    """(round, path) of the newest committed artifact matching the
    pattern, or None."""
    hits = [(int(m.group(1)), f) for f in os.listdir(REPO)
            if (m := re.match(pattern, f))]
    if not hits:
        return None
    rnd, name = max(hits)
    return rnd, os.path.join(REPO, name)


def gate_facts():
    """Headline numbers + violation states read from the LATEST committed
    bench/gate artifacts — the source of truth the round-15 verdict asked
    the docs to derive from (the committed BENCH_SF3_r15.json carried a
    violation while the prose beside it claimed 'gate clean')."""
    def load_bench(path):
        # three shapes in the wild: plain graft.Bench JSON, the driver's
        # wrapper with a parsed dict, or the wrapper with the JSON line
        # buried in a stdout tail (the r15 shape — parsed: None because
        # sbt's "[success]" epilogue follows the JSON line)
        d = json.load(open(path))
        if "queries" in d:
            return d
        if isinstance(d.get("parsed"), dict):
            return d["parsed"]
        lines = [l for l in (d.get("tail") or "").splitlines()
                 if l.startswith("{")]
        return json.loads(lines[-1]) if lines else {}

    facts = {}
    # sf0.1 reads BENCH_LAST.json — the full record graft.Bench itself
    # writes; the driver's BENCH_r{N}.json wrapper truncates its stdout
    # tail, so the JSON line inside it is not reliably recoverable
    last = os.path.join(REPO, "BENCH_LAST.json")
    if os.path.exists(last):
        d = load_bench(last)
        if d.get("queries"):
            facts["sf01"] = {
                "file": "BENCH_LAST.json",
                "n": len(d.get("queries", {})),
                "total_s": round(d.get("value", 0), 1),
                "normalized_s": round(d.get("normalized_value", 0), 1),
                "failed": d.get("failed", []),
            }
    sf1 = latest_artifact(r"BENCH_SF1_r(\d+)\.json")
    if sf1:
        rnd, path = sf1
        d = json.load(open(path))
        facts["sf1"] = {
            "round": rnd, "file": os.path.basename(path),
            "total_s": d.get("sf1_total"),
            "total_ratio": d.get("total_ratio"),
            "median_ratio": d.get("median_ratio"),
            "violations": d.get("violations", []),
            "per_row_violations": d.get("per_row_violations", []),
            "failed": d.get("failed_at_sf1", []),
            "min_of_runs": d.get("min_of_runs", 1),
            "gate": d.get("gate"),
            "per_row_gate": d.get("per_row_gate"),
        }
    sf3 = latest_artifact(r"BENCH_SF3_r(\d+)\.json")
    if sf3:
        rnd, path = sf3
        d = json.load(open(path))
        facts["sf3"] = {
            "round": rnd, "file": os.path.basename(path),
            "n": len(d.get("ratios", {})),
            "worst_ratio": max(d.get("ratios", {}).values(), default=None),
            "violations": d.get("violations", []),
            "failed": d.get("failed_at_sf3", []),
            "min_of_runs": d.get("min_of_runs", 1),
            "gate": d.get("gate"),
            "contrast_gate": d.get("contrast_gate"),
        }
    return facts


def gate_registry():
    """The pre-registered gate thresholds from BENCH_NOTES.md's
    gate-registry table: {artifact field -> registered value}. A gate
    value in a committed artifact that differs from its registered entry
    is a --check failure — a threshold move must cite a model committed
    BEFORE the measurement it classifies (the round-16 contrast-gate
    lesson)."""
    p = os.path.join(REPO, "BENCH_NOTES.md")
    if not os.path.exists(p):
        return {}
    body = open(p).read()
    m = re.search(r"<!-- gate-registry:start -->(.*?)"
                  r"<!-- gate-registry:end -->", body, re.S)
    if not m:
        return {}
    reg = {}
    for row in m.group(1).splitlines():
        cells = [c.strip() for c in row.strip().strip("|").split("|")]
        if len(cells) >= 3 and re.search(r"`(\w+)`", cells[1]):
            field = re.search(r"`(\w+)`", cells[1]).group(1)
            try:
                reg[(cells[1].split()[0], field)] = float(cells[2])
            except ValueError:
                pass
    return reg


def gate_drift(facts):
    """Hard inconsistencies between the committed gate artifacts and the
    claims the docs are allowed to make. Non-empty => --check exits 1, so
    a snapshot can never again commit a violating artifact beside a
    'gate clean' headline."""
    errs = []
    # pre-registered thresholds: the committed artifact's gate fields
    # must match the registry row for their family
    reg = gate_registry()
    artifact_fields = {
        ("BENCH_SF1", "gate"): facts.get("sf1", {}).get("gate"),
        ("BENCH_SF1", "per_row_gate"):
            facts.get("sf1", {}).get("per_row_gate"),
        ("BENCH_SF3", "gate"): facts.get("sf3", {}).get("gate"),
        ("BENCH_SF3", "contrast_gate"):
            facts.get("sf3", {}).get("contrast_gate"),
    }
    if reg:
        for key, actual in artifact_fields.items():
            want = reg.get(key)
            if want is None and actual is not None:
                errs.append(f"{key[0]} {key[1]}={actual} has no "
                            "pre-registered entry in BENCH_NOTES.md's "
                            "gate-registry table — register the model "
                            "BEFORE recording against it")
            elif want is not None and actual is not None and \
                    float(actual) != want:
                errs.append(f"{key[0]} {key[1]}={actual} differs from the "
                            f"registered {want} — update the gate-registry "
                            "row (model + provenance) in a commit that "
                            "PRECEDES the re-recorded artifact")
    for kind in ("sf1", "sf3"):
        f = facts.get(kind)
        if not f:
            continue
        for field in ("violations", "per_row_violations", "failed"):
            if f.get(field):
                errs.append(
                    f"{f['file']} carries non-empty {field}: "
                    f"{f[field]} — the latest committed {kind} gate "
                    "artifact must be clean (re-run the gate on a quiet "
                    "host, or fix the regression, before snapshotting)")
    if facts.get("sf01", {}).get("failed"):
        errs.append(f"{facts['sf01']['file']} carries failed queries: "
                    f"{facts['sf01']['failed']}")
    # stale citations: prose naming an OLDER artifact than the latest
    # committed one reads as if the newer record does not exist
    for doc in ("BENCH_NOTES.md", "README.md"):
        p = os.path.join(REPO, doc)
        if not os.path.exists(p):
            continue
        body = open(p).read()
        for kind, pat in (("sf1", r"BENCH_SF1_r(\d+)\.json"),
                          ("sf3", r"BENCH_SF3_r(\d+)\.json")):
            f = facts.get(kind)
            if not f:
                continue
            # the history appendix may cite old rounds by design; only
            # the pre-appendix headline is held to the latest artifact
            head_body = body.split("# Appendix")[0]
            stale = sorted({int(m) for m in re.findall(pat, head_body)
                            if int(m) < f["round"]})
            if stale:
                errs.append(f"{doc} headline cites stale round(s) {stale} "
                            f"for {kind} (latest committed: {f['file']})")
    return errs


GATES_START = "<!-- gates:generated:start (tools/counts.py) -->"
GATES_END = "<!-- gates:generated:end -->"


def gates_block(facts):
    """The generated headline block injected between the GATES markers in
    BENCH_NOTES.md — numbers come from the artifacts, never from memory."""
    lines = [GATES_START]
    if "sf01" in facts:
        f = facts["sf01"]
        lines.append(
            f"- sf0.1 ({f['file']}): **{f['n']} queries, {f['total_s']} s "
            f"raw** (host-normalized {f['normalized_s']} s), "
            f"failures: {f['failed'] or 'none'}.")
    if "sf1" in facts:
        f = facts["sf1"]
        runs = (f" (min over {f['min_of_runs']} runs)"
                if f.get("min_of_runs", 1) > 1 else "")
        lines.append(
            f"- sf1 ({f['file']}): **{f['total_s']} s, "
            f"{f['total_ratio']}× wall on 10× data, median "
            f"{f['median_ratio']}×**{runs}; wall violations: "
            f"{f['violations'] or 'none'}; streaming per-row violations: "
            f"{f['per_row_violations'] or 'none'}; failures: "
            f"{f['failed'] or 'none'}.")
    if "sf3" in facts:
        f = facts["sf3"]
        runs = (f" (min over {f['min_of_runs']} runs)"
                if f.get("min_of_runs", 1) > 1 else "")
        gates = (f"{f['gate']}× default / {f['contrast_gate']}× contrast"
                 if f.get("contrast_gate") else f"{f.get('gate', 10.0)}×")
        lines.append(
            f"- sf3 density ({f['file']}): **{f['n']} gated rows, worst "
            f"ratio {f['worst_ratio']}× vs the {gates} gate**{runs}; "
            f"violations: {f['violations'] or 'none'}; failures: "
            f"{f['failed'] or 'none'}.")
    lines.append(GATES_END)
    return "\n".join(lines)


def inject_gates(body, block):
    """Replace the marker block (must exist) with the regenerated one."""
    i, j = body.find(GATES_START), body.find(GATES_END)
    if i < 0 or j < 0:
        return None
    return body[:i] + block + body[j + len(GATES_END):]


# (path, regex, replacement-template) — every place a count is cited.
# Adding a new citation site? Cite COUNTS.md instead, or add a rule here.
def rules(c):
    q, t, s = c["queries"], c["tests"], c["suites"]
    return [
        ("README.md", r"\d+ named queries", f"{q} named queries"),
        ("README.md", r"ALL \d+ queries", f"ALL {q} queries"),
        ("README.md", r"`sbt test`: \d+ specs", f"`sbt test`: {t} specs"),
        ("README.md", r"across all \d+ queries", f"across all {q} queries"),
        ("README.md", r"all \d+ hash-match", f"all {q} hash-match"),
        ("COVERAGE.md", r"ALL \d+ queries", f"ALL {q} queries"),
        ("COVERAGE.md", r"ScalaTest \(\d+ tests", f"ScalaTest ({t} tests"),
        ("COUNTS.md", r"(?s).*", None),  # fully generated, see below
    ]


def counts_md(c, facts):
    return f"""# COUNTS (generated — do not edit)

Regenerate with `python3 tools/counts.py` (run it whenever a query or
spec lands, and after every gate re-record; `--check` fails if any cited
count or gate headline drifted from HEAD, or if the latest committed
gate artifact carries violations).

- **{c['queries']}** oracle queries in `SparkEntry.queries`, each with a
  DuckDB `oracleSql` entry (**{c['oracles']}** — the driver hash-gates
  every one at sf0.01)
- **{c['tests']}** ScalaTest specs across **{c['suites']}** suites
  (`sbt test`)

## Scale gates (from the committed artifacts)

{gates_block(facts)}
"""


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--check", action="store_true")
    args = ap.parse_args()
    c = counts()
    assert c["oracles"] == c["queries"], \
        f"every query needs an oracleSql entry: {c}"
    facts = gate_facts()
    gate_errs = gate_drift(facts)
    drift = []
    for path, pat, repl in rules(c):
        full = os.path.join(REPO, path)
        want = counts_md(c, facts) if path == "COUNTS.md" else None
        old = open(full).read() if os.path.exists(full) else ""
        if path == "COUNTS.md":
            new = want
        else:
            new, n = re.subn(pat, repl, old)
            if n == 0:
                print(f"[counts] WARNING: no match for {pat!r} in {path} "
                      "(citation site moved? update tools/counts.py)")
        if new != old:
            drift.append(path)
            if not args.check:
                open(full, "w").write(new)
    # the generated gate-headline block (BENCH_NOTES.md): numbers come
    # from the artifacts, so prose and JSON can never diverge again
    for path in ("BENCH_NOTES.md",):
        full = os.path.join(REPO, path)
        if not os.path.exists(full):
            continue
        old = open(full).read()
        new = inject_gates(old, gates_block(facts))
        if new is None:
            print(f"[counts] WARNING: no gates marker block in {path} "
                  f"(add '{GATES_START}' … '{GATES_END}')")
        elif new != old:
            drift.append(path)
            if not args.check:
                open(full, "w").write(new)
    print(f"[counts] {c['queries']} queries / {c['oracles']} oracles / "
          f"{c['tests']} specs in {c['suites']} suites"
          + (f"; {'would update' if args.check else 'updated'} "
             f"{sorted(set(drift))}" if drift else "; docs in sync"))
    for e in gate_errs:
        print(f"[counts] GATE-ARTIFACT ERROR: {e}")
    if args.check and (drift or gate_errs):
        parts = []
        if drift:
            parts.append("DRIFT in %s" % sorted(set(drift)))
        if gate_errs:
            parts.append("%d gate-artifact error(s)" % len(gate_errs))
        sys.exit("[counts] %s — run tools/counts.py / re-record the gate"
                 % " + ".join(parts))
    if gate_errs:
        sys.exit(1)


if __name__ == "__main__":
    main()
