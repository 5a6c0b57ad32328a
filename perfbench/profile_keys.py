#!/usr/bin/env python3
"""Profile the star-schema and `events` keys at sf0.1 and choose the
`olap_sf01` subset from the measurements.

    python3 perfbench/profile_keys.py [--reuse]

Run from the root of a checkout. It builds as run.py does, links the
sf0.1 star-schema tables and `events` into a directory of their own
(the keys that run there are the candidates) and runs
graft.perfbench.Profile: one cold pass, then PASSES traced warm
passes. The per-key profile is written to perfbench/olap_profile.json;
`--reuse` skips profiling and chooses from that file.

The subset is the SIZE keys, with a summed warm time of at most
BUDGET_S seconds, whose profile is closest to the full set's: the
share of warm time spent building and planning, the share of stages
that run one task, how busy the cores are, cold time over warm time,
and the share of cold time spent in the extra build work of the cold
pass (the `tools.Materialize` artifact builds). The script prints both
profiles and the chosen keys; Batch.Keys holds the result.
"""
import argparse
import json
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

OUT = os.path.join(run.BENCH, "olap_profile.json")
STAR = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]
PROFILE_TIMEOUT_S = 1500
PASSES = 2
# 10 keys of about 5 s per warm pass: a 25 s window holds four passes
SIZE = 10
BUDGET_S = 5.0


def shape(keys, p, cores):
    """The profile of a set of keys: five ratios over their summed times."""
    tot = lambda f: sum(p[k][f] for k in keys)
    warm = tot("warm_s")
    return {
        "build_plan_share": (tot("build_s") + tot("plan_s")) / warm,
        "single_task_stage_share": tot("single_task_stages") / max(1.0, tot("stages")),
        "core_busy": tot("task_run_s") / (warm * cores),
        "cold_over_warm": tot("cold_s") / warm,
        "artifact_build_share": (tot("cold_build_s") - tot("build_s")) / tot("cold_s"),
    }


def distance(a, b):
    return sum(abs(a[k] - b[k]) / b[k] for k in b)


def choose(p, cores, size, budget):
    """Local search from seeded random starts: swap one key in or out
    while the distance to the full set's profile falls."""
    keys = sorted(p)
    full = shape(keys, p, cores)
    fits = lambda s: sum(p[k]["warm_s"] for k in s) <= budget
    score = lambda s: distance(shape(s, p, cores), full)
    rng = random.Random(0)
    best = None
    for _ in range(200):
        cur = rng.sample(keys, size)
        if not fits(cur):
            continue
        improved = True
        while improved:
            improved = False
            for i in range(size):
                for k in keys:
                    if k in cur:
                        continue
                    cand = cur[:i] + [k] + cur[i + 1:]
                    if fits(cand) and score(cand) < score(cur):
                        cur, improved = cand, True
        if best is None or score(cur) < score(best):
            best = cur
    if best is None:
        raise SystemExit(f"no {size} keys fit a {budget} s warm pass")
    return sorted(best), full


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--reuse", action="store_true",
                    help="choose from the existing olap_profile.json without profiling")
    a = ap.parse_args()
    if not a.reuse:
        os.makedirs(run.WORK, exist_ok=True)
        jar, build_digest = run.build()
        star = os.path.join(run.WORK, "data", "star")
        os.makedirs(star, exist_ok=True)
        for t in STAR:
            link = os.path.join(star, f"{t}.parquet")
            if not os.path.lexists(link):
                os.symlink(os.path.join(run.SF01, f"{t}.parquet"), link)
        tmp = os.path.join(run.WORK, "profile.json")
        cmd, env = run.jvm(jar, "graft.perfbench.Profile", [
            "--data", star, "--cores", str(run.cores()), "--passes", str(PASSES),
            "--out", tmp], flags=run.class_sharing(jar, build_digest))
        if run.run_checked(cmd, PROFILE_TIMEOUT_S, env=env) != 0:
            raise SystemExit("profile JVM failed")
        with open(tmp) as f:
            prof = json.load(f)
        with open(OUT, "w") as f:
            json.dump(prof, f, indent=1, sort_keys=True)
            f.write("\n")
    with open(OUT) as f:
        prof = json.load(f)
    p, cores = prof["keys"], prof["cores"]
    chosen, full = choose(p, cores, SIZE, BUDGET_S)
    sub = shape(chosen, p, cores)
    print(f"{'':26s} {'all ' + str(len(p)) + ' keys':>12s} {'subset':>12s}")
    for k in full:
        print(f"{k:26s} {full[k]:12.3f} {sub[k]:12.3f}")
    for label, ks in (("all", sorted(p)), ("subset", chosen)):
        print(f"{label}: warm {sum(p[k]['warm_s'] for k in ks):.2f} s, "
              f"cold {sum(p[k]['cold_s'] for k in ks):.2f} s")
    print("keys: " + ", ".join(chosen))


if __name__ == "__main__":
    main()
