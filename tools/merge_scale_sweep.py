#!/usr/bin/env python3
"""Merge two QBench sweep logs (a base scale and an amplified copy) into a
BENCH_SCALE*_r{N}.json artifact: best-of-3 per query per scale. Dev tool —
the engine never depends on Python.

Usage: python3 tools/merge_scale_sweep.py <base.log> <big.log> <out.json> <note> \
           [base_label] [big_label]
Labels default to the historical sf0.1 / sf1_10x pair; the 100x sweep
passes sf0.1 sf10_100x.
"""
import json
import os
import re
import sys

# Registered calibration-only pins: queries whose registered configuration
# deliberately pins a calibration constant that does NOT scale (so the
# DuckDB mirror stays evaluable / provably exact), each naming the
# production twin a 100 TB caller uses instead. Super-linear ratios on these
# rows are by-design; the graded scale numbers are their twins'.
# CalibrationRegistrySpec checks every name and twin is a registered query.
CALIB = json.load(open(os.path.join(os.path.dirname(__file__),
                                    "calibration_only.json")))

# Registered data-proportional contracts: copy-amplification grows these
# queries' WORK super-linearly in rows (measured per-unit evidence in each
# entry, behind the `per-unit metric:` marker), so a >20x wall ratio is the
# workload, not a scale defect. These ARE the production configurations —
# there is no twin. CalibrationRegistrySpec checks every name is a
# registered query, carries the marker and is not also calibration-only.
DATA_PROP = json.load(open(os.path.join(os.path.dirname(__file__),
                                        "data_proportional.json")))


def best_of(path):
    """Best wall time per query, plus the spill bytes of that best run
    (older logs without spill fields parse with spill None)."""
    best, spill = {}, {}
    pat = (r"\[qbench\] (\S+) run\d+ ([0-9.]+) s"
           r"(?: spill_mem=(\d+) spill_disk=(\d+))?")
    for m in re.finditer(pat, open(path).read()):
        name, sec = m.group(1), float(m.group(2))
        if name not in best or sec < best[name]:
            best[name] = sec
            if m.group(3) is not None:
                spill[name] = {"mem": int(m.group(3)), "disk": int(m.group(4))}
    return best, spill


def main():
    sf01, sf1, out, note = sys.argv[1:5]
    base_label = sys.argv[5] if len(sys.argv) > 5 else "sf0.1"
    big_label = sys.argv[6] if len(sys.argv) > 6 else "sf1_10x"
    (a, sa), (b, sb) = best_of(sf01), best_of(sf1)
    doc = {
        base_label: {k: round(v, 2) for k, v in sorted(a.items())},
        big_label: {k: round(v, 2) for k, v in sorted(b.items())},
        "note": note,
    }
    # spill bytes of each query's best run; only queries that spilled at
    # either scale, to keep the artifact readable
    spilled = sorted(k for k in set(sa) | set(sb)
                     if sa.get(k, {}).get("disk") or sb.get(k, {}).get("disk")
                     or sa.get(k, {}).get("mem") or sb.get(k, {}).get("mem"))
    if sa or sb:
        doc["spill_bytes"] = {
            k: {base_label: sa.get(k), big_label: sb.get(k)} for k in spilled}
    shared = sorted(set(a) & set(b))
    ta, tb = sum(a[k] for k in shared), sum(b[k] for k in shared)
    doc["summary"] = {
        "queries": len(shared),
        f"total_{base_label}_sec": round(ta, 2),
        f"total_{big_label}_sec": round(tb, 2),
        "total_ratio": round(tb / ta, 2),
        "over_2x": sorted(k for k in shared if a[k] > 0 and b[k] / a[k] > 2),
        "over_20x_calibration_only": sorted(
            k for k in shared if a[k] > 0 and b[k] / a[k] > 20 and k in CALIB),
        "over_20x_data_proportional": sorted(
            k for k in shared
            if a[k] > 0 and b[k] / a[k] > 20 and k in DATA_PROP),
        "over_20x_unannotated": sorted(
            k for k in shared
            if a[k] > 0 and b[k] / a[k] > 20
            and k not in CALIB and k not in DATA_PROP),
    }
    # carry the registries' evidence for every super-20x row so the
    # adjudication is in-artifact AND machine-derived, never re-typed prose
    flagged = {k: (CALIB.get(k) or DATA_PROP.get(k))
               for k in (doc["summary"]["over_20x_calibration_only"]
                         + doc["summary"]["over_20x_data_proportional"])}
    if flagged:
        doc["summary"]["over_20x_evidence"] = flagged
    json.dump(doc, open(out, "w"), indent=1)
    print(json.dumps(doc["summary"], indent=1))


if __name__ == "__main__":
    main()
