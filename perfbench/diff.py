"""Compare two traced-run records layer by layer.

    python3 perfbench/diff.py BASE.json NEW.json

Each record is a file the benchmark writes to .bench_trace/ with --trace 1.
For every metric of the two records (per layer: job wall, jobs, task CPU, GC,
shuffle write and spill; then driver-only time, write amplification, query
phases and the end-to-end metrics of the traced run) it prints the base, the
delta of the new run and the delta as a share of the base, so a change can
show where its saving sits. Metrics that read 0 in both records are skipped.
"""
import json
import sys


def load(path):
    with open(path) as fh:
        rec = json.load(fh)
    return rec, {k: (v["value"] or 0.0, v["unit"]) for k, v in rec["metrics"].items()}


def main(base_path, new_path):
    base, b = load(base_path)
    new, n = load(new_path)
    if base["workload"] != new["workload"]:
        print(f"warning: workloads differ ({base['workload']} vs {new['workload']})")
    print(f"{base['workload']}: base seed {base['seed']}, new seed {new['seed']}")
    print(f"{'metric':44s} {'unit':>6s} {'base':>14s} {'delta':>14s} {'share':>8s}")
    for k in list(b) + [k for k in n if k not in b]:
        bv, unit = b.get(k, (0.0, n.get(k, (0.0, ""))[1]))
        nv = n.get(k, (0.0, unit))[0]
        if bv == 0 and nv == 0:
            continue
        share = f"{(nv - bv) / bv:+8.1%}" if bv else "     n/a"
        print(f"{k:44s} {unit:>6s} {bv:14.4f} {nv - bv:+14.4f} {share}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
