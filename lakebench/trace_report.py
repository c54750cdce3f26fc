#!/usr/bin/env python3
"""Print the per-layer table and the tracing overhead of one traced run.

    python3 lakebench/trace_report.py .bench_build/lakebench/traces/ingest-seed1-trace1.json
"""
import json
import sys

COLS = ["self_s", "calls", "jobs", "tasks", "plan_s", "idle_s", "shuffle_mb", "scan_mb"]


def main(path):
    with open(path) as fh:
        t = json.load(fh)
    info, layers = t["info"], t["layers"]
    print("workload %s  seed %s  cores %s  traced ops %s  untraced ops %s" % (
        info["workload"], info["seed"], info["cores"], info.get("traced_ops"), info.get("untraced_ops")))
    spans = sorted({k.rsplit(".", 1)[0] for k in layers if k.rsplit(".", 1)[-1] in COLS})
    print("%-16s" % "layer (per call)" + "".join("%11s" % c for c in COLS))
    for s in spans:
        if layers.get(s + ".calls", {}).get("value", 0) == 0:
            continue
        print("%-16s" % s + "".join("%11.4g" % layers[s + "." + c]["value"] for c in COLS))
    print()
    for k in sorted(layers):
        if k.rsplit(".", 1)[0] not in spans or k.rsplit(".", 1)[-1] not in COLS:
            print("%-36s %12.6g %s" % (k, layers[k]["value"], layers[k]["unit"]))
    print()
    print("%-6s %-16s %9s %9s %14s" % ("op", "name", "wall_s", "layers_s", "unattributed_s"))
    for o in t["ops"]:
        print("%-6s %-16s %9.3f %9.3f %14.3f" % (o["op"], o["name"], o["wall_s"], o["layers_s"],
                                                 o["unattributed_s"]))
    print()
    print("tracing overhead: traced op p50 %.3f s - untraced op p50 %.3f s = %.3f s" % (
        info.get("traced_p50_s", 0.0), info.get("untraced_p50_s", 0.0), t["overhead_s"]))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
