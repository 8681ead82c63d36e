"""Compare a parent/change pair of full-suite graft.Bench runs.

Usage: python3 compare.py <parent artifact> <change artifact> \
           <contract_lines.jsonl> <pair>

The artifacts are the bench_full_r<N>*.json files a full run writes;
contract_lines.jsonl holds each run's one-line stdout JSON as
{"side": ..., "pair": ..., "res": <line>}.
"""
import json
import statistics
import sys

LAYERS = ["construct.ms", "plan.analysis_ms", "plan.optimization_ms",
          "plan.planning_ms", "exec.jobs", "exec.stages", "exec.tasks",
          "exec.job_ms", "exec.gap_ms", "exec.task_cpu_s",
          "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
          "exec.spill_bytes"]


pa, ca = (json.load(open(p)) for p in sys.argv[1:3])
lines = {(r["side"], r["pair"]): r["res"] for r in map(json.loads, open(sys.argv[3]))}
pl, cl = lines[("parent", int(sys.argv[4]))], lines[("change", int(sys.argv[4]))]

keys = lambda d: list(d.keys())
print("stdout keys identical and in order:", keys(pl) == keys(cl),
      "| query keys identical and in order:", keys(pl["queries"]) == keys(cl["queries"]))
print(f"_total_sec parent {pa['_total_sec']:.2f}  change {ca['_total_sec']:.2f}  "
      f"({100 * (ca['_total_sec'] / pa['_total_sec'] - 1):+.1f}%)")
print(f"_materialize_sec parent {pa['_materialize_sec']:.2f}  change {ca['_materialize_sec']:.2f}")
qs = [k for k in pa if not k.startswith("_")]
ratios = sorted(ca[q] / pa[q] for q in qs if pa[q] > 0 and ca[q] > 0)
qt = statistics.quantiles(ratios, n=4)
print(f"{len(qs)} queries; per-query median ratio change/parent: "
      f"median {statistics.median(ratios):.3f}, IQR {qt[0]:.3f}-{qt[2]:.3f}, "
      f"min {ratios[0]:.3f}, max {ratios[-1]:.3f}")
print("failed (-1) parent:", [q for q in qs if pa[q] < 0], "change:", [q for q in qs if ca[q] < 0])
# run-to-run noise inside one run: spread of each query's 3 reps
def rep_spread(a):
    s = [(max(d["sec"]) - min(d["sec"])) / statistics.median(d["sec"])
         for d in a["_diag"].values() if min(d["sec"]) > 0]
    return statistics.median(s)
print(f"median within-run rep spread (max-min)/median: parent {rep_spread(pa):.3f}, "
      f"change {rep_spread(ca):.3f}")
missing = [q for q, d in ca["_diag"].items() if any(k not in d for k in LAYERS + ["gc_ms", "jit_ms", "heap_mb"])]
print(f"change _diag entries: {len(ca['_diag'])}; missing a layer/JVM array: {missing}")
print("change _layers:", json.dumps(ca.get("_layers")))
print("suspect reps parent/change:", pa["_suspect_reps"], ca["_suspect_reps"])
