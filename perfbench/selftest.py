#!/usr/bin/env python3
"""Quick self-test of the benchmark (a few minutes):

1. each workload runs end to end at a tiny size, untraced and traced, and
   reports correct outputs and every metric BENCHMARK.json names;
2. each correctness check, fed a deliberately wrong output (one violation
   dropped, one survivor added, one bucket moved), reports a failure;
3. a directory that holds only the benchmark exits non-zero without a result.

    python3 perfbench/selftest.py
"""
import copy
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

SEED = 7
SCALE = {"validate": 0.02, "neardup": 0.1, "quality": 0.5}
failures = []


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def run(workload, trace, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
         "--scale", str(SCALE[workload])],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def wrong_validate(d, expect):
    """One violation dropped."""
    d = copy.deepcopy(d)
    d["violations"]["elemRange(tokens)"]["n"] -= 1
    spans = [x for x in d["detail"] if x[0] == "elemRange(tokens)"]
    d["detail"].remove(spans[0])
    return d


def wrong_neardup(d, expect):
    """One survivor added: a planted duplicate that should have been dropped."""
    d = copy.deepcopy(d)
    keep = set(expect["survivors"])
    extra = next(i for i in range(1, d["survivors"]["n"] * 2) if i not in keep)
    s = d["survivors"]
    s["n"] += 1
    s["id_sum"] += extra
    s["id_mix"] += oracle.id_mix([extra])
    return d


def wrong_quality(d, expect):
    """One bucket moved: a document counted in 'tail' instead of 'head'."""
    d = copy.deepcopy(d)
    lang = next(k.split("/")[0] for k, n in d["counts"].items() if k.endswith("/head") and n > 0)
    d["counts"][f"{lang}/head"] -= 1
    d["counts"][f"{lang}/tail"] = d["counts"].get(f"{lang}/tail", 0) + 1
    d["selected"]["n"] -= 1
    return d


WRONG = {"validate": wrong_validate, "neardup": wrong_neardup, "quality": wrong_quality}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = {0: {m["name"] for m in bench["end_to_end"]}, 1: {m["name"] for m in bench["per_layer"]}}
    for w in ("validate", "neardup", "quality"):
        for trace in (0, 1):
            p = run(w, trace)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            res = json.loads(last)
            check(p.returncode == 0 and res.get("correct") is True,
                  f"{w} trace={trace}: runs and its outputs check out")
            check(set(res.get("metrics", {})) == wanted[trace],
                  f"{w} trace={trace}: reports exactly the metrics BENCHMARK.json names")
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-3000:])
        with open(os.path.join(HERE, "work", "results", f"{w}-{SEED}-t0.json")) as f:
            digest = json.load(f)["digest"]
        data = os.path.join(HERE, "work", f"selftest-{w}")
        shutil.rmtree(data, ignore_errors=True)
        os.makedirs(data)
        try:
            meta, expect = gen.generate(w, data, SEED, max(int(gen.SIZES[w] * SCALE[w]), 200))
            check(not oracle.CHECKS[w](data, meta, expect, digest),
                  f"{w}: the check accepts the program's own output")
            check(bool(oracle.CHECKS[w](data, meta, expect, WRONG[w](digest, expect))),
                  f"{w}: the check rejects an output with {WRONG[w].__doc__.split(':')[0].lower().rstrip('.')}")
        finally:
            shutil.rmtree(data, ignore_errors=True)

    bare = os.path.join(HERE, "work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("work", "target", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for w in ("validate", "neardup", "quality"):
        p = run(w, 0, cwd=bare)
        check(p.returncode != 0 and '"correct"' not in p.stdout and "missing" in p.stderr,
              f"{w}: without the program it exits {p.returncode} and reports no result")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(failures)} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
