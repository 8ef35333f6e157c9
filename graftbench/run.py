"""graft's benchmark: one run of one workload.

    python3 graftbench/run.py --workload <catalog|incremental|llm_pipeline>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark from source (graftbench/build.py,
cached in .bench_build/), starts a fresh JVM whose session comes from
graft.GraftSession.builder at local[nproc], generates the workload's
inputs from the seed and the sf0.1 tables, runs one cold pass and a
fixed number of warm passes, checks every output it is meant to check,
and prints one JSON object as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
run registers the span listeners on alternate passes and prints the
per-layer metrics instead (end-to-end numbers never come from a traced
run). The full run record, with the host facts (nproc, load average,
commit), goes to .bench_out/. Every store, checkpoint and cache lives
in a fresh directory under .bench_work/ that is deleted at exit.
"""

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import harness  # noqa: E402
import metrics  # noqa: E402

# Per workload: how many warm passes follow the cold one, as a function
# of --seconds, from the nominal seconds one warm pass takes (checks
# included) at local[4]. The pass count is fixed for a given --seconds,
# so every run of a workload does the same work.
NOMINAL_WARM_PASS_S = {"catalog": 3.6, "incremental": 25.0, "llm_pipeline": 30.0}
NOMINAL_COLD_PASS_S = {"catalog": 12.0, "incremental": 40.0, "llm_pipeline": 40.0}
MIN_WARM, MAX_WARM = 1, 12


def warm_passes(workload, seconds, trace=0):
    """A traced run needs two warm passes: one traced, one not."""
    left = seconds - NOMINAL_COLD_PASS_S[workload]
    n = int(round(left / NOMINAL_WARM_PASS_S[workload]))
    return max(2 if trace else MIN_WARM, min(MAX_WARM, n))


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(NOMINAL_WARM_PASS_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--gen-only", metavar="FILE",
                    help="write the generated inputs to FILE and stop")
    return ap.parse_args(argv)


def run(a):
    classes, cp, key = build.build()
    data = harness.data_dir()
    load0 = harness.load_1m()
    with harness.WorkDir() as work:
        out = os.path.join(work, "record.json")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--data", data, "--out", out, "--trace", str(a.trace),
                "--warm-passes", str(warm_passes(a.workload, a.seconds, a.trace))]
        if a.gen_only:
            harness.launch(cp, work, args + ["--mode", "gen"])
            with open(out, "rb") as src, open(a.gen_only, "wb") as dst:
                dst.write(src.read())
            return None
        wall = harness.launch(cp, work, args)
        rec = harness.read_json(out)
    rec["host"] = {"nproc": harness.nproc(), "load_1m_start": load0,
                   "load_1m_end": harness.load_1m(), "commit": harness.commit(),
                   "source_stamp": key, "jvm_wall_s": wall,
                   "seconds_arg": a.seconds}
    return rec


def report(a, rec):
    attempted, failed = metrics.fail_counts(rec["ops"])
    if a.trace:
        values = metrics.per_layer(rec)
        units = metrics.PER_LAYER
        notes = {}
    else:
        values, notes = metrics.end_to_end(rec)
        units = metrics.END_TO_END
    summary = {k: v for k, v in rec.items() if k not in ("spans", "ops")}
    summary["metrics"] = values
    summary["notes"] = notes
    summary["failures"] = [o for o in rec["ops"] if not o["ok"]]
    summary["op_seconds"] = [[o["pass"], o["name"], o["seconds"]] for o in rec["ops"]]
    os.makedirs(os.path.join(build.ROOT, ".bench_out"), exist_ok=True)
    name = "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace)
    with open(os.path.join(build.ROOT, ".bench_out", name), "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
    h = rec["host"]
    print("# %s seed=%d trace=%d nproc=%d load_1m=%s->%s commit=%s stamp=%s"
          % (a.workload, a.seed, a.trace, h["nproc"], h["load_1m_start"],
             h["load_1m_end"], h["commit"], h["source_stamp"]))
    if notes:
        print("# op_tail_s is p%s of %d warm ops; %d warm passes"
              % (notes["op_tail_percentile"], notes["op_tail_samples"],
                 notes["warm_passes"]))
    for o in summary["failures"][:5]:
        print("# FAILED op %s (pass %s): %s" % (o["name"], o["pass"], o["error"]))
    missing = [k for k, v in values.items() if v is None]
    out = {"correct": failed == 0 and not missing, "attempted": attempted,
           "failed": failed,
           "metrics": {k: {"value": v, "unit": units[k][0]}
                       for k, v in values.items()}}
    print(json.dumps(out))


def main(argv=None):
    a = parse(argv)
    try:
        rec = run(a)
    except (build.BuildError, FileNotFoundError, RuntimeError) as e:
        harness.fail("graftbench: %s" % e)
    if rec is not None:
        report(a, rec)


if __name__ == "__main__":
    main()
