#!/usr/bin/env python3
"""Tiny-input self-test of the benchmark, run from the root of a checkout:

    python3 perfbench/selftest.py

For every workload it checks that an untraced run prints exactly the
end-to-end metrics of BENCHMARK.json and a traced run exactly the
per-layer metrics, each with its unit, with every check passing. Then it
plants each workload's faults (a Bloom word zeroed, saturated words, HLL
registers cleared, a false near-dup edge, ...) and checks that the matching
check fails and the run reports it as failed. Exits non-zero on any miss.
"""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE = "0.02"

# fault -> the check it must trip
FAULTS = {
    "build": {"bloom_word": "no_false_negatives", "fpr": "fpr_ratio", "hll": "hll_3sigma",
              "cms": "cms_total", "kmv": "kmv_4sigma", "builtin": "builtin_hll_3sigma"},
    "probe": {"bloom_word": "no_false_negatives", "fpr": "fpr_ratio",
              "keyed_word": "keyed_no_false_negatives", "decon": "decon_hits",
              "builtin": "builtin_semi_join"},
    "dedup": {"merge": "no_cluster_merge", "recall": "dedup_recall", "builtin": "builtin_words"},
}


def run(workload, trace, fault=None):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", trace, "--scale", SCALE]
    if fault:
        cmd += ["--fault", fault]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, p.stdout
    return json.loads(lines[-1]), p.stdout


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    expected = {"0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
                "1": {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in sorted(FAULTS):
        for trace in ("0", "1"):
            res, out = run(w, trace)
            tag = f"{w} trace={trace}"
            if res is None:
                problems.append(f"{tag}: run failed\n{out[-2000:]}")
                continue
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{tag}: checks failed on clean input: {res}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != expected[trace]:
                missing = set(expected[trace]) - set(got)
                extra = set(got) - set(expected[trace])
                wrong = [k for k in got if k in expected[trace] and got[k] != expected[trace][k]]
                problems.append(f"{tag}: metrics missing {sorted(missing)}, extra {sorted(extra)}, "
                                f"wrong unit {wrong}")
            print(f"ok   {tag}: {len(got)} metrics, {res['attempted']} checks", flush=True)
        for fault, name in FAULTS[w].items():
            res, out = run(w, "0", fault)
            tag = f"{w} fault={fault}"
            if res is None:
                problems.append(f"{tag}: run failed\n{out[-2000:]}")
            elif res["correct"] or res["failed"] < 1 or f"CHECK FAILED {name}:" not in out:
                problems.append(f"{tag}: check {name} did not fire ({res})")
            else:
                print(f"ok   {tag}: {name} fired, {res['failed']} of {res['attempted']} failed",
                      flush=True)
    for p in problems:
        print(f"FAIL {p}")
    print("SELFTEST " + ("FAIL" if problems else "PASS"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
